package perfbench

import java.nio.file.{Files, Path, Paths}

import graft.GraftSession

/** One benchmark run in its own JVM:
  *
  * {{{
  * Main --workload ingest|dashboard --seed N --seconds S --trace 0|1
  *      --work DIR --out RESULT.json
  * }}}
  *
  * Builds the session the way deployments do (`GraftSession`, so
  * `GraftExtensions` and the SQL IP functions are active) on
  * `local[<cores>]` with shuffle partitions = cores, runs the workload,
  * checks its outputs, and writes every metric with its unit, the sample
  * counts, the operation counts and the run's provenance to RESULT.json.
  * With `--trace 1` it also writes the spans next to it. `perfbench/run.py`
  * is the command that builds, runs and reports.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val out = Paths.get(opt("out"))
    val work = Files.createDirectories(Paths.get(opt("work")))
    val startedAt = java.time.Instant.now().toString
    val cpu0 = cpuTimes()
    val cores = Runtime.getRuntime.availableProcessors
    val (spark, sessionS) = {
      val t0 = System.nanoTime()
      val s = GraftSession.getOrCreate(s"local[$cores]")
      s.conf.set("spark.sql.shuffle.partitions", cores.toString)
      (s, (System.nanoTime() - t0) / 1e9)
    }
    val ctx = new Ctx(spark, work, opt("seed").toLong, opt("seconds").toInt, opt("trace") == "1")
    val code =
      try {
        workload match {
          case "ingest" => Ingest.run(ctx)
          case "dashboard" => Dashboard.run(ctx)
          case other => throw new IllegalArgumentException(s"unknown workload $other")
        }
        // the share of CPU time the hypervisor gave to other guests while
        // this run was measuring: a noisy neighbour explains an outlier run
        val steal = (cpu0, cpuTimes()) match {
          case (Some(a), Some(b)) =>
            val d = a.zip(b).map { case (x, y) => y - x }
            if (d.size > 7 && d.sum > 0) Some(d(7).toDouble / d.sum) else None
          case _ => None
        }
        ctx.notes("cpu_steal_share") = steal
        write(ctx, workload, out, startedAt, sessionS)
        0
      } catch {
        case e: Throwable =>
          e.printStackTrace()
          1
      } finally {
        spark.streams.active.foreach(_.stop())
        spark.stop()
      }
    System.exit(code)
  }

  /** Aggregate CPU time counters from `/proc/stat`, where the OS has it. */
  private def cpuTimes(): Option[Seq[Long]] =
    try {
      val line = new String(Files.readAllBytes(Paths.get("/proc/stat")), "UTF-8")
        .linesIterator.next()
      Some(line.trim.split("\\s+").toSeq.drop(1).map(_.toLong))
    } catch { case _: Exception => None }

  private def write(ctx: Ctx, workload: String, out: Path, startedAt: String,
      sessionS: Double): Unit = {
    val conf = ctx.spark.conf.getAll.toSeq.sortBy(_._1)
      .filter { case (k, _) => k.startsWith("spark.sql.") || k == "spark.master" }
    val provenance = Obj(
      "started_at" -> startedAt,
      "cores" -> ctx.cores,
      "heap_max_bytes" -> Runtime.getRuntime.maxMemory,
      "spark_version" -> ctx.spark.version,
      "java_version" -> System.getProperty("java.version"),
      "java_vm" -> System.getProperty("java.vm.name"),
      "os" -> s"${System.getProperty("os.name")} ${System.getProperty("os.arch")}",
      "session_start_s" -> sessionS,
      "conf" -> Obj(conf))
    val spans = ctx.tracer.all
    val rows = Layers.traceRows(spans)
    val result = Obj(
      "workload" -> workload,
      "seed" -> ctx.seed,
      "seconds" -> ctx.seconds,
      "trace" -> ctx.trace,
      "attempted" -> ctx.attempted,
      "failed" -> ctx.failed,
      "failures" -> ctx.failures.toSeq,
      "metrics" -> Obj(ctx.metrics.toSeq.map { case (k, (v, u)) => k -> Obj("value" -> v, "unit" -> u) }),
      "samples" -> Obj(ctx.samples.toSeq),
      "notes" -> Obj(ctx.notes.toSeq),
      "self_time_s" -> Obj(Layers.selfByName(rows)),
      "provenance" -> provenance)
    Files.write(out, Json(result).getBytes("UTF-8"))
    if (ctx.trace) {
      val traceOut = out.resolveSibling(out.getFileName.toString.stripSuffix(".json") + ".trace.json")
      Files.write(traceOut, Json(Obj("spans" -> rows)).getBytes("UTF-8"))
    }
  }
}
