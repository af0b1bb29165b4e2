package perfbench

import scala.collection.mutable

import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

import graft.flow.{DashboardSql, TimeRange}
import graft.streaming.ManifestTable

/** One refresh's time range: `None` is the range picker's "all". */
final case class Window(kind: String, range: Option[(Long, Long)], interval: Long)

object Window {
  private val widths = Seq("1h" -> 3600L, "6h" -> 21600L, "1d" -> 86400L)
  // $__interval follows the zoom level, as Grafana binds it
  private val intervals = Map("1h" -> Seq(10L, 30L, 60L), "6h" -> Seq(60L, 120L, 300L),
    "1d" -> Seq(300L, 600L, 900L), "all" -> Seq(900L, 1800L, 3600L))

  /** Blocks per cycle: every kind has this many intervals. */
  val Cycle = 3

  /** `n` blocks of refreshes. A block refreshes each window kind once,
    * narrowest first, with bounded windows placed by the seed inside
    * `[lo, hi)` on 300 s slot boundaries. Each kind steps through its
    * intervals from a seeded start, so a run of whole cycles sees every
    * (kind, interval) pair once per cycle: every run the same mix. */
  def blocks(rng: scala.util.Random, lo: Long, hi: Long, n: Int): Seq[Window] = {
    val first = (widths.map(_._1) :+ "all").map(k => k -> rng.nextInt(Cycle)).toMap
    def interval(kind: String, b: Int) = intervals(kind)((first(kind) + b) % Cycle)
    (0 until n).flatMap { b =>
      widths.map { case (kind, w) =>
        val from = (lo + (rng.nextDouble() * (hi - lo - w)).toLong) / 300L * 300L
        Window(kind, Some((from, from + w)), interval(kind, b))
      } :+ Window("all", None, interval("all", b))
    }
  }
}

/** A closed-loop dashboard client: one refresh registers the managed views
  * for its window, then runs and collects the nine managed panels in a
  * fixed order, as a dashboard loads them. Every panel's rows go to
  * `verify`. Spans are named `<layer>.refresh`, `<layer>.panel` and so on;
  * a warm-up client takes another layer name than `dashboard`, so its
  * refreshes stay out of the panel metrics. */
final class PanelClient(ctx: Ctx, pair: MvPair,
    verify: (Window, String, Expect.Rows) => Boolean, layer: String = "dashboard") {
  /** (panel, window kind, seconds) of every panel run that succeeded. */
  val log = mutable.ArrayBuffer.empty[(String, String, Double)]
  val registerS = mutable.ArrayBuffer.empty[Double]
  var selected = 0L
  var candidates = 0L
  val analysisS = mutable.ArrayBuffer.empty[Double]
  val optimizationS = mutable.ArrayBuffer.empty[Double]
  val planningS = mutable.ArrayBuffer.empty[Double]
  val compileS = mutable.ArrayBuffer.empty[Double]

  def latency: Seq[Double] = log.toSeq.map(_._3)

  private val spark = ctx.spark

  private def countSelected(w: Window): Unit = {
    def sel(table: java.nio.file.Path, statsCol: String): Unit = {
      val entries = ManifestTable.snapshotEntries(table.toString)._2
      candidates += entries.size
      selected += (w.range match {
        case None => entries.size
        case Some((lo, hi)) => entries.count(e => e.stats match {
          case Some((c, mn, mx)) if c == statsCol => mx >= lo && mn < hi
          case _ => true
        })
      })
    }
    sel(pair.raw, "timeReceived")
    sel(pair.rollup, "timeslot")
  }

  def refresh(w: Window): Unit =
    ctx.tracer.span(s"$layer.refresh", root = true) {
      val range = w.range.map { case (a, b) => TimeRange(a, b) }
      val r0 = System.nanoTime()
      ctx.tracer.span(s"$layer.register") {
        DashboardSql.registerManaged(spark, pair.raw.toString, pair.rollup.toString, range)
      }
      registerS += (System.nanoTime() - r0) / 1e9
      if (ctx.trace) countSelected(w)
      Expect.Panels.foreach { name =>
        val c0 = if (ctx.trace) CodeGenerator.compileTime else 0L
        val p0 = System.nanoTime()
        val result = ctx.attempt(s"panel $name ${w.kind}") {
          ctx.tracer.span(s"$layer.panel") {
            val me = ctx.tracer.open
            val df = ctx.tracer.span(s"$layer.run") {
              DashboardSql.runManaged(spark, name, range, w.interval)
            }
            val rows = ctx.tracer.span(s"$layer.collect")(df.collect())
            (df, rows, me)
          }
        }
        val sec = (System.nanoTime() - p0) / 1e9
        result.foreach { case (df, rows, me) =>
          log += ((name, w.kind, sec))
          if (ctx.trace) {
            compileS += (CodeGenerator.compileTime - c0) / 1e9
            val ph = df.queryExecution.tracker.phases
            def phase(k: String) = ph.get(k).map(_.durationMs / 1e3).getOrElse(0.0)
            analysisS += phase("analysis")
            optimizationS += phase("optimization")
            planningS += phase("planning")
            for (p <- me; (k, s) <- ph)
              ctx.tracer.add(Span(ctx.tracer.newId(), p.trace, p.id,
                s"catalyst.$k", s.startTimeMs * 1000L, s.endTimeMs * 1000L))
          }
          ctx.verify(s"panel $name ${w.kind} rows")(verify(w, name, Expect.rows(rows)))
        }
      }
    }
}
