package perfbench

import java.util.UUID

import org.apache.spark.sql.streaming.StreamingQueryProgress

/** Per-layer metrics of a traced run, derived from the spans, the listener
  * records and the engine's per-batch progress. */
object Layers {
  private val steps = Seq("latestOffset" -> "latest_offset", "walCommit" -> "offset_log",
    "getBatch" -> "get_batch", "queryPlanning" -> "query_planning",
    "addBatch" -> "add_batch", "commitOffsets" -> "commit_offsets")
  private val panelOps = Set("dashboard.panel", "dashboard.run", "dashboard.collect")

  /** Streaming-engine steps of the given query runs, plus (traced) batch and
    * step spans with the batch's jobs parented to its `addBatch` span.
    * Returns each run's batch spans, for the blocking-path share. */
  def streaming(ctx: Ctx, runs: Seq[UUID]): Map[UUID, Seq[Span]] = {
    val byRun = runs.map(r => r -> ctx.streams.batches(r)).toMap
    val ps = byRun.values.flatten.toSeq
    def total(k: String) = ps.map(p => Observe.dur(p, k)).sum / 1e3
    ctx.put("streaming.batches", ps.size.toDouble, "count")
    ctx.put("streaming.trigger_p50_s",
      if (ps.isEmpty) 0.0 else Stats.median(ps.map(p => Observe.dur(p, "triggerExecution") / 1e3)),
      "s", ps.size)
    ctx.put("streaming.add_batch_s", total("addBatch"), "s")
    ctx.put("streaming.query_planning_s", total("queryPlanning"), "s")
    ctx.put("streaming.latest_offset_s", total("latestOffset"), "s")
    ctx.put("streaming.offset_log_s", total("walCommit") + total("commitOffsets"), "s")
    val jobs = ctx.exec.map(_.all).getOrElse(Nil).filter(_.query != null)
      .groupBy(j => (j.query, j.batch))
    var sinkDriverMs = 0L
    val spans = byRun.map { case (run, batches) =>
      run -> batches.flatMap { p =>
        val js = jobs.getOrElse((p.id.toString, p.batchId), Nil).filter(_.endMs >= 0)
        val addBatch = Observe.dur(p, "addBatch")
        sinkDriverMs += math.max(0L, addBatch - math.min(addBatch,
          Observe.unionLen(js.map(j => (j.startMs, j.endMs)))))
        batchSpans(ctx, p, js)
      }
    }
    ctx.put("streaming.sink_driver_s", sinkDriverMs / 1e3, "s")
    spans
  }

  /** A batch's trigger span with its steps laid out in execution order. */
  private def batchSpans(ctx: Ctx, p: StreamingQueryProgress,
      js: Seq[ExecObs#JobRec]): Seq[Span] = {
    val t = ctx.tracer
    val root = Span(t.newId(), 0L, 0L, "streaming.batch", Observe.startMs(p) * 1000L,
      Observe.endMs(p) * 1000L)
    val rootT = root.copy(trace = root.id)
    var at = rootT.startUs
    val kids = steps.flatMap { case (k, name) =>
      val d = Observe.dur(p, k) * 1000L
      if (d <= 0) None
      else {
        val s = Span(t.newId(), rootT.trace, rootT.id, s"streaming.$name", at, at + d)
        at += d
        if (k == "addBatch") js.foreach { j =>
          t.add(Span(t.newId(), rootT.trace, s.id, "exec.job", j.startMs * 1000L, j.endMs * 1000L))
        }
        Some(s)
      }
    }
    (rootT +: kids).foreach(t.add)
    rootT +: kids
  }

  /** Task-level totals of the write path: every job in `[fromMs, toMs)`
    * that no panel launched. */
  def execWrite(ctx: Ctx, fromMs: Long, toMs: Long): Unit = {
    val spanName = ctx.tracer.all.map(s => s.id -> s.name).toMap
    val js = ctx.exec.map(_.all).getOrElse(Nil).filter { j =>
      j.startMs >= fromMs && j.startMs < toMs && !spanName.get(j.span).exists(panelOps)
    }
    val taskS = js.map(_.runMs).sum / 1e3
    val wallS = math.max(1L, toMs - fromMs) / 1e3
    ctx.put("exec.task_s", taskS, "s")
    ctx.put("exec.cpu_s", js.map(_.cpuNs).sum / 1e9, "s")
    ctx.put("exec.gc_s", js.map(_.gcMs).sum / 1e3, "s")
    ctx.put("exec.busy_share", taskS / (wallS * ctx.cores), "ratio")
    ctx.put("exec.shuffle_bytes", js.map(_.shuffleBytes).sum.toDouble, "bytes")
    ctx.put("exec.spill_bytes", js.map(_.spillBytes).sum.toDouble, "bytes")
    ctx.put("exec.output_bytes", js.map(_.outputBytes).sum.toDouble, "bytes")
  }

  /** Panel-path metrics from a client's refreshes. */
  def panels(ctx: Ctx, c: PanelClient): Unit = {
    val n = c.latency.size
    ctx.put("dashboard.register_s", Stats.median(c.registerS.toSeq), "s", c.registerS.size)
    ctx.put("manifest.files_selected_ratio",
      if (c.candidates == 0) 1.0 else c.selected.toDouble / c.candidates, "ratio")
    ctx.put("catalyst.analysis_s", Stats.mean(c.analysisS.toSeq), "s", n)
    ctx.put("catalyst.optimization_s", Stats.mean(c.optimizationS.toSeq), "s", n)
    ctx.put("catalyst.planning_s", Stats.mean(c.planningS.toSeq), "s", n)
    ctx.put("codegen.compile_s", Stats.mean(c.compileS.toSeq), "s", n)
    val spans = ctx.tracer.all
    val panelOf = spans.filter(s => panelOps(s.name)).map { s =>
      s.id -> (if (s.name == "dashboard.panel") s.id else s.parent)
    }.toMap
    val jobs = ctx.exec.map(_.all).getOrElse(Nil).filter(j => panelOf.contains(j.span))
      .groupBy(j => panelOf(j.span))
    val walls = spans.filter(_.name == "dashboard.panel")
    var gapUs = 0L
    var wallUs = 0L
    walls.foreach { p =>
      val js = jobs.getOrElse(p.id, Nil).filter(_.endMs >= 0)
      val covered = Observe.unionLen(js.map(j =>
        (math.max(p.startUs, j.startMs * 1000L), math.min(p.endUs, j.endMs * 1000L)))
        .filter(iv => iv._2 > iv._1))
      wallUs += p.durUs
      gapUs += p.durUs - covered
      js.foreach(j => ctx.tracer.add(Span(ctx.tracer.newId(), p.trace, j.span, "exec.job",
        j.startMs * 1000L, j.endMs * 1000L)))
    }
    val all = jobs.values.flatten.toSeq
    val per = math.max(1, walls.size).toDouble
    ctx.put("exec.jobs", all.size / per, "count")
    ctx.put("exec.tasks", all.map(_.tasks).sum / per, "count")
    ctx.put("exec.driver_gap_share", if (wallUs == 0) 0.0 else gapUs.toDouble / wallUs, "ratio")
    ctx.put("exec.input_bytes", all.map(_.inputBytes).sum / per, "bytes")
  }

  /** Share of the roots' wall time that their children's spans cover: what
    * the spans along the blocking path explain. */
  def covered(roots: Seq[Span], children: Span => Seq[Span]): Double = {
    val wall = roots.map(_.durUs).sum
    if (wall == 0) 0.0
    else roots.map { r =>
      Observe.unionLen(children(r).map(c => (math.max(r.startUs, c.startUs),
        math.min(r.endUs, c.endUs))).filter(iv => iv._2 > iv._1))
    }.sum.toDouble / wall
  }

  /** Spans as JSON rows, with self time: duration minus what children cover. */
  def traceRows(spans: Seq[Span]): Seq[Obj] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val self = s.durUs - Observe.unionLen(kids.getOrElse(s.id, Nil).map(c =>
        (math.max(s.startUs, c.startUs), math.min(s.endUs, c.endUs))).filter(iv => iv._2 > iv._1))
      Obj("id" -> s.id, "trace" -> s.trace, "parent" -> s.parent, "name" -> s.name,
        "start_us" -> s.startUs, "end_us" -> s.endUs, "self_us" -> self)
    }
  }

  /** Self time per span name, in seconds. */
  def selfByName(rows: Seq[Obj]): Seq[(String, Double)] =
    rows.groupBy(_.fields.toMap.apply("name").toString).toSeq.map { case (k, rs) =>
      k -> rs.map(_.fields.toMap.apply("self_us").asInstanceOf[Long]).sum / 1e6
    }.sortBy(-_._2)
}
