#!/usr/bin/env python3
"""Benchmark of the flow pipeline: ingest, and dashboard panels under a live stream.

Run from the repository root:

    python3 perfbench/run.py --workload ingest|dashboard --seed N --seconds S --trace 0|1

The first run builds the program and the benchmark from source with sbt (the
benchmark is its own sbt build in this directory and depends on the root
build). Every run starts one JVM that generates its inputs from the seed,
drives the program through its public entry points, checks the outputs and
measures. The last line of standard output is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {name: {"value", "unit"}}}

With --trace 0 the metrics are the end-to-end ones; with --trace 1 they are
the per-layer ones, plus the tracing overhead against an untraced run and the
share of the blocking path's wall time that the spans cover. Each run also
writes a full result with provenance (commit or source digest, run id, seed,
cores, heap, versions, start time, sample counts) under the build directory's
results/ folder, and a traced run writes its spans next to it.
"""

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# BENCHMARK.json at the repository root names the workloads and metrics
BENCHMARK = os.path.join(ROOT, "BENCHMARK.json")

# the end-to-end metric the tracing overhead is judged on, and its direction
OVERHEAD_ON = {"ingest": ("flows_per_s", "higher"), "dashboard": ("panel_mean_s", "lower")}

RUN_BUDGET_S = 170
BUILD_BUDGET_S = 780

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    d = os.path.realpath(os.path.join(ROOT, d))
    if not d.startswith(os.path.realpath(ROOT) + os.sep):
        d = os.path.join(ROOT, ".bench_build")
    return d


def source_files():
    """Every file the build reads from the checkout, in a stable order."""
    files = []
    for base in ("build.sbt", "project/build.properties", "src/main",
                 "perfbench/build.sbt", "perfbench/project/build.properties", "perfbench/src"):
        p = os.path.join(ROOT, base)
        if os.path.isfile(p):
            files.append(p)
        for dirpath, dirnames, names in os.walk(p):
            dirnames.sort()
            files.extend(os.path.join(dirpath, n) for n in sorted(names))
    return files


def source_digest():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def git_state():
    if not os.path.isdir(os.path.join(ROOT, ".git")) or shutil.which("git") is None:
        return None, None
    try:
        commit = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                                text=True, timeout=20).stdout.strip() or None
        status = subprocess.run(["git", "-C", ROOT, "status", "--porcelain"], capture_output=True,
                                text=True, timeout=20).stdout
        return commit, bool(status.strip())
    except (OSError, subprocess.SubprocessError):
        return None, None


def stop_on_signal(proc):
    """If this script is terminated, take the child's process group with it."""
    def handler(signum, _frame):
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        sys.exit(128 + signum)
    for s in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
        signal.signal(s, handler)


def run_group(cmd, cwd, log_path, timeout, env=None):
    """Run cmd in its own process group; kill the group on timeout. Returns (code, stdout)."""
    with open(log_path, "ab") as log:
        proc = subprocess.Popen(cmd, cwd=cwd, stdout=subprocess.PIPE, stderr=log,
                                env=env, start_new_session=True)
        stop_on_signal(proc)
        try:
            out, _ = proc.communicate(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.communicate()
            return None, b""
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    return proc.returncode, out


def ensure_built(bdir):
    """Compile the program and the benchmark once per source digest; return the classpath."""
    digest = source_digest()
    stamp = os.path.join(bdir, "classpath.txt")
    if os.path.isfile(stamp):
        with open(stamp) as fh:
            saved = fh.read().split("\n", 1)
        if len(saved) == 2 and saved[0] == digest:
            return saved[1].strip(), digest
    if shutil.which("sbt") is None:
        fail("sbt is not on PATH; it is needed to build the program", 3)
    tmp = os.path.join(bdir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE=os.environ.get("COURSIER_MODE", "offline"))
    repo_conf = os.path.expanduser("~/.sbt/repositories")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
           f"-Dsbt.global.base={os.path.join(bdir, 'sbt-global')}", f"-Djava.io.tmpdir={tmp}"]
    if os.path.isfile(repo_conf):
        cmd += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repo_conf}",
                "-Dsbt.offline=true"]
    cmd.append("export Runtime/fullClasspath")
    t0 = time.time()
    code, out = run_group(cmd, HERE, os.path.join(bdir, "build.log"), BUILD_BUDGET_S, env)
    lines = [ln for ln in out.decode(errors="replace").splitlines() if ln.strip()]
    if code != 0 or not lines or "[error]" in lines[-1]:
        fail(f"build failed (exit {code}); see {os.path.join(bdir, 'build.log')}", 3)
    classpath = lines[-1].strip()
    with open(stamp, "w") as fh:
        fh.write(digest + "\n" + classpath + "\n")
    print(f"perfbench: built in {time.time() - t0:.1f} s", flush=True)
    return classpath, digest


def run_jvm(classpath, bdir, workload, seed, seconds, trace, run_id, deadline):
    work = os.path.join(bdir, "runs", run_id)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    out = os.path.join(bdir, "results", f"{run_id}.jvm.json")
    os.makedirs(os.path.dirname(out), exist_ok=True)
    java = shutil.which("java")
    if java is None:
        fail("java is not on PATH", 3)
    cmd = [java, "-Xmx3g", "-XX:+UseG1GC", f"-Djava.io.tmpdir={tmp}",
           f"-Dspark.local.dir={tmp}", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Main", "--workload", workload, "--seed", str(seed),
            "--seconds", str(seconds), "--trace", "1" if trace else "0",
            "--work", os.path.join(work, "data"), "--out", out]
    try:
        code, _ = run_group(cmd, work, os.path.join(bdir, "results", f"{run_id}.log"),
                            max(1, deadline - time.time()))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if code is None:
        fail("run exceeded its time budget", 4)
    if code != 0 or not os.path.isfile(out):
        fail(f"run failed (exit {code}); see {os.path.join(bdir, 'results', run_id + '.log')}", 4)
    with open(out) as fh:
        return json.load(fh)


def past_untraced(bdir, workload, seed):
    """Untraced results of this workload kept from earlier runs, same seed first."""
    found = []
    rdir = os.path.join(bdir, "results")
    for name in sorted(os.listdir(rdir)) if os.path.isdir(rdir) else []:
        if not name.endswith(".result.json"):
            continue
        try:
            with open(os.path.join(rdir, name)) as fh:
                r = json.load(fh)
        except (OSError, ValueError):
            continue
        if r.get("workload") == workload and not r.get("trace") and r.get("failed") == 0:
            found.append(r)
    same = [r for r in found if r.get("seed") == seed]
    return same or found


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if a.seconds < 1:
        fail("--seconds must be at least 1")
    if not os.path.isfile(BENCHMARK):
        fail("BENCHMARK.json is missing at the repository root")
    with open(BENCHMARK) as fh:
        bench = json.load(fh)
    if a.workload not in [w["name"] for w in bench["workloads"]]:
        fail(f"unknown workload {a.workload}")
    for need in ("build.sbt", "src/main/scala", "perfbench/build.sbt"):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"{need} is missing: run from a checkout of the repository")

    bdir = build_dir()
    os.makedirs(bdir, exist_ok=True)
    classpath, digest = ensure_built(bdir)
    deadline = time.time() + RUN_BUDGET_S
    commit, dirty = git_state()
    run_id = time.strftime("%Y%m%dT%H%M%S") + "-" + uuid.uuid4().hex[:8]

    baseline = None
    if a.trace:
        prior = past_untraced(bdir, a.workload, a.seed)
        if not prior:
            # no untraced run to compare with: make one, for the overhead
            base = run_jvm(classpath, bdir, a.workload, a.seed, a.seconds, False,
                           run_id + "-base", deadline - RUN_BUDGET_S / 2)
            prior = [base]
        name, _ = OVERHEAD_ON[a.workload]
        vals = sorted(r["metrics"][name]["value"] for r in prior)
        baseline = vals[len(vals) // 2]

    r = run_jvm(classpath, bdir, a.workload, a.seed, a.seconds, bool(a.trace), run_id, deadline)
    metrics = r["metrics"]
    if a.trace:
        name, better = OVERHEAD_ON[a.workload]
        traced = metrics[name]["value"]
        worse = traced - baseline if better == "lower" else baseline - traced
        metrics["trace.overhead_share"] = {"value": worse / baseline, "unit": "ratio"}
        r["overhead"] = {"metric": name, "untraced_median": baseline, "traced": traced}
    wanted = [m["name"] for m in bench["per_layer" if a.trace else "end_to_end"]]
    missing = [n for n in wanted if n not in metrics]
    if missing:
        fail(f"the run did not report {', '.join(missing)}", 4)
    r["provenance"].update({
        "run_id": run_id, "seed": a.seed, "git_commit": commit, "git_dirty": dirty,
        "source_digest": digest, "command": sys.argv,
    })
    rdir = os.path.join(bdir, "results")
    with open(os.path.join(rdir, f"{run_id}.result.json"), "w") as fh:
        json.dump(r, fh, indent=1)

    shown = {n: {"value": metrics[n]["value"], "unit": metrics[n]["unit"]} for n in wanted}
    for n, m in shown.items():
        count = r["samples"].get(n)
        extra = f"  (n={count})" if count is not None else ""
        print(f"{a.workload} {n} = {m['value']:.6g} {m['unit']}{extra}")
    for f in r["failures"]:
        print(f"FAILED: {f}")
    if a.trace:
        print(f"blocking-path coverage {metrics['trace.blocking_coverage']['value']:.3f}; "
              f"tracing overhead {metrics['trace.overhead_share']['value']:+.3f} on "
              f"{r['overhead']['metric']}")
    steal = r["notes"].get("cpu_steal_share")
    print(f"run {run_id} commit {commit or 'unknown'}{' (dirty)' if dirty else ''} "
          f"source {digest[:12]}; cpu steal {'n/a' if steal is None else f'{steal:.3f}'}; "
          f"full result in {os.path.relpath(rdir, ROOT)}/{run_id}.result.json")
    correct = r["failed"] == 0
    print(json.dumps({"correct": correct, "attempted": r["attempted"], "failed": r["failed"],
                      "metrics": shown}), flush=True)
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
