package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.flow.DashboardSql
import graft.sources.PartitionedTopic
import graft.streaming.ManifestTable

/** What both workloads share: the write path's checks and metrics. */
object Common {
  val PayloadFlows = 2000
  val WarmRefreshes = 2

  /** The set-up cycle of both workloads: produce `flows` to a fresh topic
    * under `dir`, drain it through a new MV pair and compact. */
  def setupCycle(ctx: Ctx, dir: java.nio.file.Path, flows: Flows, pls: Seq[Payload],
      payloadsPerBatch: Int): MvPair = {
    val pair = new MvPair(ctx.spark, Dirs.fresh(dir), dir.resolve("topic"))
    ctx.tracer.span("setup.ingest", root = true) {
      Gen.produce(flows, pls, pair.topic)
      pair.start(Trigger.AvailableNow(), Some(payloadsPerBatch)).foreach(_.awaitTermination())
      new Compactor(ctx.spark, pair, ctx.tracer).pass(all = true)
    }
    pair
  }

  /** Warm-up refreshes over tables nothing writes to, so the measured
    * panels do not pay class loading and first compilations: the two
    * narrowest windows of a block (the first refreshes of a cold session
    * are the slow ones), each panel checked exactly against `flows`. Their
    * latencies are not kept. */
  def warmUp(ctx: Ctx, pair: MvPair, flows: Flows, lo: Long, hi: Long): Unit = {
    val client = new PanelClient(ctx, pair, (w, name, rows) =>
      rows == Expect.panel(name, Expect.segs(Seq(flows), w.range), w.interval), "warmup")
    val rng = new scala.util.Random(Gen.mix(ctx.seed ^ 0x5eedL))
    Window.blocks(rng, lo, hi, 1).take(WarmRefreshes).foreach(client.refresh)
  }

  /** Start a measured phase from a collected heap, so a collection owed by
    * set-up work does not land inside it. */
  def quiesce(): Unit = System.gc()

  /** Freshness of each payload: from its due time to the later of the two
    * MV commits that contain it. */
  def freshness(ctx: Ctx, pair: MvPair, queries: Seq[StreamingQuery],
      due: Seq[(String, Long)]): Seq[Double] = {
    val batchOf = pair.checkpoints.map(c => Observe.payloadBatches(c).toMap)
    val ends = queries.map(q =>
      ctx.streams.batches(q.runId).map(p => p.batchId -> Observe.endMs(p)).toMap)
    due.flatMap { case (key, d) =>
      val commits = batchOf.zip(ends).map { case (m, e) => m.get(key).flatMap(e.get) }
      if (commits.forall(_.isDefined)) Some((commits.flatten.max - d) / 1e3) else None
    }
  }

  /** The ingest reconciles: rows, rollup counts and byte sums against the
    * generator, the manifests' batch ids against the checkpoints, and every
    * payload consumed exactly once by each MV. */
  def reconcile(ctx: Ctx, pair: MvPair, flows: Seq[Flows], payloads: Seq[Payload]): Unit = {
    val n = flows.map(_.n.toLong).sum
    val bytes = flows.map(_.bytes.sum).sum
    ctx.check("ingest: raw rows equal produced flows")(pair.rawRows == n)
    ctx.check("ingest: rollup flow_count sums to produced flows")(pair.rollupFlows == n)
    ctx.check("ingest: raw byte sum equals produced bytes")(pair.rawBytesSum == bytes)
    val keys = payloads.map(_.key).toSet
    pair.checkpoints.zip(pair.tables).foreach { case (ck, table) =>
      val entries = Observe.payloadBatches(ck)
      ctx.check(s"ingest: ${table.getFileName} consumed every payload exactly once") {
        entries.size == keys.size && entries.map(_._1).toSet == keys
      }
      ctx.check(s"ingest: ${table.getFileName} manifest max batch id equals its batches") {
        ManifestTable.maxBatchId(table.toString) + 1 == entries.map(_._2).distinct.size
      }
    }
  }

  /** End-to-end write metrics after the final compaction. */
  def writeMetrics(ctx: Ctx, pair: MvPair, flows: Long): Unit =
    ctx.put("bytes_per_flow", pair.liveBytes.toDouble / flows, "bytes")

  /** Manifest, compaction and storage metrics of a traced run. */
  def writeLayers(ctx: Ctx, pair: MvPair, c: Compactor, version0: Long, files0: Int): Unit = {
    val written = pair.writtenFiles
    ctx.put("manifest.commits", (pair.version - version0).toDouble, "count")
    ctx.put("manifest.files_written", (written.size - files0).toDouble, "count")
    ctx.put("manifest.files_live_max", c.liveFilesMax.toDouble, "count")
    ctx.put("compaction.runs", c.runs.toDouble, "count")
    ctx.put("compaction.useful_ratio",
      if (c.runs == 0) 1.0 else c.committed.toDouble / c.runs, "ratio")
    ctx.put("compaction.busy_s", c.busyNs / 1e9, "s")
    ctx.put("compaction.bytes_rewritten", c.bytesRewritten.toDouble, "bytes")
    ctx.put("storage.write_amp", written.map(p => Files.size(p)).sum.toDouble / pair.liveBytes, "ratio")
  }

  /** Decode-only read of a topic's payloads: seconds per million flows. */
  def decodeCalibration(ctx: Ctx, topic: Path, flows: Long): Unit = {
    val (_, s) = ctx.timed(ctx.tracer.span("sources.decode", root = true) {
      PartitionedTopic.read(ctx.spark, topic.toString).toDF()
        .foreachPartition { (it: Iterator[org.apache.spark.sql.Row]) => it.foreach(_ => ()) }
    })
    ctx.put("sources.decode_s_per_mflow", s / (flows / 1e6), "s/Mflow")
  }

  def panelMetrics(ctx: Ctx, c: PanelClient): Unit = {
    val xs = c.latency.toSeq
    ctx.notes("panels") = c.log.toSeq.map { case (n, k, s) => Seq(n, k, s) }
    // the mean, not the median: narrow and wide windows form two clusters
    // of equal size, so the median falls in the gap between them and jumps
    ctx.put("panel_mean_s", Stats.mean(xs), "s", xs.size)
    ctx.put("panel_p90_s", Stats.pct(xs, 0.9), "s", xs.size)
  }

  def freshnessMetrics(ctx: Ctx, xs: Seq[Double]): Unit = {
    ctx.put("freshness_p50_s", Stats.pct(xs, 0.5), "s", xs.size)
    ctx.put("freshness_p90_s", Stats.pct(xs, 0.9), "s", xs.size)
  }

  /** Memoised expected answers. */
  final class Memo[K, V](f: K => V) {
    private val m = mutable.HashMap.empty[K, V]
    def apply(k: K): V = m.getOrElseUpdate(k, f(k))
  }
}

/** `ingest`: drain a seeded backlog through the MV pair with online
  * compaction beside it, then refresh the dashboard once per window kind
  * over the result, with nothing writing. */
object Ingest {
  /** Backlog flows per second of `--seconds`. The drain runs at about
    * 40 k flows/s on 4 cores, so a 30 s run drains for about 9 s; set-up,
    * the checks and the panel block take the rest of the run. */
  val FlowsPerSecond = 12000L
  val PayloadsPerBatch = 25
  val SetupReps = 3
  /** Flows of one warm-up ingest cycle in set-up. */
  val WarmFlows = 50000
  val SpanSec: Long = 2L * 86400L

  def run(ctx: Ctx): Unit = {
    import ctx._
    val pf = Common.PayloadFlows
    val n = math.max(4L * pf, FlowsPerSecond * seconds / pf * pf).toInt
    val flows = Gen.flows(seed, 1L, n, epoch, SpanSec)
    val pls = Gen.payloads(flows, pf, MvPair.Partitions)
    notes("backlog_flows") = n
    notes("payloads") = pls.size

    // set-up: warm-up ingest cycles on their own small data sets, so the
    // drain measures a warm pipeline, and warm-up refreshes over the last
    // of them; then the backlog
    val setupS = (0 until SetupReps).map { k =>
      val warm = Gen.flows(seed, 10L + k, WarmFlows, epoch, SpanSec)
      val dir = work.resolve(s"setup-$k")
      val (p, s) = timed(Common.setupCycle(ctx, dir, warm,
        Gen.payloads(warm, pf, MvPair.Partitions), PayloadsPerBatch))
      if (k == SetupReps - 1) Common.warmUp(ctx, p, warm, epoch, epoch + SpanSec)
      Dirs.delete(dir)
      s
    }
    put("setup_s", Stats.median(setupS), "s", setupS.size)
    val topic = Dirs.fresh(work.resolve("topic"))
    val (_, produceS) = timed(tracer.span("setup.produce", root = true)(Gen.produce(flows, pls, topic)))
    notes("produce_s") = produceS

    val pair = new MvPair(spark, work.resolve("tables"), topic)
    val compactor = new Compactor(spark, pair, tracer)
    Common.quiesce()
    val startMs = System.currentTimeMillis()
    val (queries, drainS) = timed(tracer.span("ingest.drain", root = true) {
      val qs = pair.start(Trigger.AvailableNow(), Some(PayloadsPerBatch))
      compactor.start()
      qs.foreach(_.awaitTermination())
      qs
    })
    val endMs = System.currentTimeMillis()
    compactor.finish()
    queries.foreach(streams.awaitLastData)
    put("flows_per_s", n / drainS, "flows/s")
    Common.freshnessMetrics(ctx,
      Common.freshness(ctx, pair, queries, pls.map(pl => pl.key -> startMs)))

    tracer.span("compaction.final", root = true)(compactor.pass(all = true))
    Common.writeMetrics(ctx, pair, n)
    Common.reconcile(ctx, pair, Seq(flows), pls)

    // the dashboard over the freshly ingested tables, nothing writing
    val rng = new scala.util.Random(seed)
    val expected = new Common.Memo[(Window, String), Expect.Rows]({ case (w, name) =>
      Expect.panel(name, Expect.segs(Seq(flows), w.range), w.interval)
    })
    val client = new PanelClient(ctx, pair, (w, name, rows) => rows == expected((w, name)))
    Common.quiesce()
    Window.blocks(rng, epoch, epoch + SpanSec, 1).foreach(client.refresh)
    Common.panelMetrics(ctx, client)

    if (trace) {
      exec.foreach(_.settle())
      val batchSpans = Layers.streaming(ctx, queries.map(_.runId))
      Layers.execWrite(ctx, startMs, endMs)
      Common.writeLayers(ctx, pair, compactor, 0L, 0)
      Layers.panels(ctx, client)
      Common.decodeCalibration(ctx, topic, n)
      ctx.put("loadgen.late_max_s", 0.0, "s")
      ctx.put("storage.pinned_rdds", spark.sparkContext.getPersistentRDDs.size.toDouble, "count")
      // the drain ends with its slower query: its batches are the blocking path
      val drain = tracer.all.filter(_.name == "ingest.drain")
      val slowest = batchSpans.values.maxBy(s => s.filter(_.name == "streaming.batch")
        .map(_.endUs).maxOption.getOrElse(0L))
      put("trace.blocking_coverage",
        Layers.covered(drain, _ => slowest.filter(_.name == "streaming.batch")), "ratio")
    }
  }
}

/** `dashboard`: a closed-loop client refreshes the nine managed panels over
  * a multi-day history while a fixed-rate live stream appends to the same
  * tables. */
object Dashboard {
  val HistoryFlows = 40000
  val HistorySec: Long = 3L * 86400L
  /** Live rate, well under the drain rate of `ingest`, in small payloads. */
  val LiveFlowsPerSec = 8000
  val LivePayloadFlows = 500
  val TriggerMs = 2000L
  /** Refresh blocks per run: one cycle of intervals, a fixed sample count
    * (108 panels), which at the parent commit lasts about as long as the
    * live stream of a 30 s run. */
  val PanelBlocks = Window.Cycle
  val SetupReps = 3
  val HistoryPayloadsPerBatch = 25

  def run(ctx: Ctx): Unit = {
    import ctx._
    val pf = Common.PayloadFlows
    val hist = Gen.flows(seed, 2L, HistoryFlows, epoch, HistorySec)
    val histPls = Gen.payloads(hist, pf, MvPair.Partitions)
    val liveStart = epoch + HistorySec
    val nLive = LiveFlowsPerSec * seconds
    val live = Gen.flows(seed, 3L, nLive, liveStart, seconds.toLong, firstSeq = HistoryFlows)
    val nextOffset = (0 until MvPair.Partitions).map(p =>
      histPls.filter(_.partition == p).map(_.size.toLong).sum)
    val livePls = Gen.payloads(live, LivePayloadFlows, MvPair.Partitions, nextOffset)
    notes("history_flows") = HistoryFlows
    notes("live_flows") = nLive

    // set-up: ingest the history through the MV pair and compact it
    var pair: MvPair = null
    val setupS = (0 until SetupReps).map { k =>
      val (p, s) = timed(Common.setupCycle(ctx, work.resolve(s"setup-$k"), hist, histPls,
        HistoryPayloadsPerBatch))
      if (pair != null) Dirs.delete(pair.root)
      pair = p
      s
    }
    put("setup_s", Stats.median(setupS), "s", setupS.size)
    Common.warmUp(ctx, pair, hist, epoch, liveStart)

    // live payloads are encoded ahead of the window
    val staging = Dirs.fresh(work.resolve("staging"))
    val staged = livePls.map(pl => Gen.stage(live, pl, staging))

    val rng = new scala.util.Random(seed)
    val histRows = new Common.Memo[(Window, String), Expect.Rows]({ case (w, name) =>
      Expect.panel(name, Expect.segs(Seq(hist), w.range), w.interval)
    })
    val histGroups = new Common.Memo[String, Map[String, Seq[Long]]](name =>
      Expect.keyed(name, Expect.segs(Seq(hist), None)))
    val fullGroups = new Common.Memo[String, Map[String, Seq[Long]]](name =>
      Expect.keyed(name, Expect.segs(Seq(hist, live), None)))
    val liveEnd = liveStart + seconds
    val client = new PanelClient(ctx, pair, (w, name, rows) => w.range match {
      case Some(_) => rows == histRows((w, name))
      case None => Expect.allWindowOk(name, rows, histRows((w, name)), histGroups(name),
        fullGroups(name), liveStart, liveEnd)
    })

    Common.quiesce()
    val version0 = pair.version
    val files0 = pair.writtenFiles.size
    val compactor = new Compactor(spark, pair, tracer)
    val queries = pair.start(Trigger.ProcessingTime(TriggerMs), None)
    compactor.start()
    // the schedule starts just after a trigger tick (processing-time
    // triggers fire on multiples of the interval), so every run sees the
    // same phase between publishing and micro-batches
    val firstDue = (System.currentTimeMillis() / TriggerMs + 1) * TriggerMs + 100L
    val due = livePls.indices.map(i => firstDue + i.toLong * LivePayloadFlows * 1000L / LiveFlowsPerSec)
    val late = new Array[Long](livePls.size)
    val generator = new Thread(() => {
      livePls.indices.foreach { i =>
        val wait = due(i) - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        Gen.publish(staged(i), livePls(i), pair.topic)
        late(i) = System.currentTimeMillis() - due(i)
      }
    }, "perfbench-generator")
    generator.start()
    val panels0 = System.currentTimeMillis()
    Window.blocks(rng, epoch, liveStart, PanelBlocks).foreach(client.refresh)
    val panels1 = System.currentTimeMillis()
    notes("panel_phase_s") = Seq(panels0 - firstDue, panels1 - firstDue).map(_ / 1e3)
    generator.join()
    queries.foreach(_.processAllAvailable())
    val endMs = System.currentTimeMillis()
    queries.foreach(_.stop())
    compactor.finish()
    queries.foreach(streams.awaitLastData)

    Common.panelMetrics(ctx, client)
    val fresh = Common.freshness(ctx, pair, queries, livePls.map(_.key).zip(due))
    Common.freshnessMetrics(ctx, fresh)
    val lastCommit = queries.flatMap(q => streams.batches(q.runId).map(Observe.endMs)).max
    put("flows_per_s", nLive / ((lastCommit - firstDue) / 1e3), "flows/s")
    check("dashboard: every live payload committed by both MVs")(fresh.size == livePls.size)

    tracer.span("compaction.final", root = true)(compactor.pass(all = true))
    Common.writeMetrics(ctx, pair, HistoryFlows.toLong + nLive)
    Common.reconcile(ctx, pair, Seq(hist, live), histPls ++ livePls)
    // the live edge, exactly, once everything is committed
    DashboardSql.registerManaged(spark, pair.raw.toString, pair.rollup.toString, None)
    Expect.Panels.foreach { name =>
      check(s"dashboard: all-time $name after the stream") {
        Expect.rows(DashboardSql.runManaged(spark, name, None, 3600L).collect()) ==
          Expect.panel(name, Expect.segs(Seq(hist, live), None), 3600L)
      }
    }

    if (trace) {
      exec.foreach(_.settle())
      Layers.streaming(ctx, queries.map(_.runId))
      Layers.execWrite(ctx, firstDue, endMs)
      Common.writeLayers(ctx, pair, compactor, version0, files0)
      Layers.panels(ctx, client)
      Common.decodeCalibration(ctx, pair.topic, HistoryFlows.toLong + nLive)
      put("loadgen.late_max_s", late.max / 1e3, "s")
      put("storage.pinned_rdds", spark.sparkContext.getPersistentRDDs.size.toDouble, "count")
      val refreshes = tracer.all.filter(_.name == "dashboard.refresh")
      val kids = tracer.all.groupBy(_.parent)
      put("trace.blocking_coverage",
        Layers.covered(refreshes, r => kids.getOrElse(r.id, Nil)), "ratio")
    }
  }
}
