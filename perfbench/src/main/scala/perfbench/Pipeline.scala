package perfbench

import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.AtomicBoolean

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, sum}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.sources.PartitionedTopic
import graft.streaming.{FlowStreams, ManifestTable}

/** The deployment MV pair over one topic: the raw MV and the 5-minute
  * rollup MV, each a managed (manifest-committed) table with its own
  * checkpoint, i.e. two consumers of the topic. */
final class MvPair(spark: SparkSession, val root: Path, val topic: Path) {
  val raw: Path = root.resolve("raw")
  val rollup: Path = root.resolve("rollup")
  val ckRaw: Path = root.resolve("ck-raw")
  val ckRollup: Path = root.resolve("ck-rollup")

  (0 until MvPair.Partitions).foreach(p => Files.createDirectories(topic.resolve(s"partition=$p")))

  private def source(maxFiles: Option[Int]) =
    PartitionedTopic.readStream(spark, topic.toString,
      options = maxFiles.map(m => Map("maxFilesPerTrigger" -> m.toString)).getOrElse(Map.empty))
      .select("msg.*")

  def start(trigger: Trigger, maxFiles: Option[Int]): Seq[StreamingQuery] = Seq(
    FlowStreams.startRawMVManaged(source(maxFiles), raw.toString, ckRaw.toString, trigger),
    FlowStreams.startRollupMVManaged(source(maxFiles), rollup.toString, ckRollup.toString, trigger))

  def checkpoints: Seq[Path] = Seq(ckRaw, ckRollup)
  def tables: Seq[Path] = Seq(raw, rollup)

  def liveFiles: Int = tables.map(t => ManifestTable.snapshot(t.toString)._2.size).sum
  def version: Long = tables.map(t => ManifestTable.snapshot(t.toString)._1).sum

  /** Bytes of the files in the latest snapshots. */
  def liveBytes: Long = tables.map { t =>
    ManifestTable.snapshot(t.toString)._2.map(f => Files.size(t.resolve(f))).sum
  }.sum

  /** Parquet files on disk under both tables: every file ever committed or
    * swapped in, since nothing here vacuums. */
  def writtenFiles: Seq[Path] = tables.flatMap { t =>
    if (!Files.isDirectory(t)) Nil
    else Files.walk(t).iterator().asScala.filter(p => p.toString.endsWith(".parquet")).toSeq
  }

  def rawRows: Long = FlowStreams.readRawManaged(spark, raw.toString).count()

  def rawBytesSum: Long =
    FlowStreams.readRawManaged(spark, raw.toString).agg(sum("bytes")).head().getLong(0)

  def rollupFlows: Long =
    ManifestTable.read(spark, rollup.toString).agg(sum(col("flow_count"))).head().getLong(0)
}

object MvPair {
  /** The reference topic's partition count. */
  val Partitions = 2
  /** Raw compaction target: files per date partition. */
  val RawFilesPerPartition = 4
}

/** Online compaction beside the running streams, with the counts the
  * compaction layer metrics need. The loop polls the manifests and calls
  * `compactRawOnline` / `optimizeRollupOnline` once a date partition has
  * gathered more than 12 / 6 files, so compaction follows the data
  * appended, not the wall clock. A call counts as a run when its snapshot
  * held a partition the library would rewrite; it is useful when its swap
  * committed. */
final class Compactor(spark: SparkSession, pair: MvPair, tracer: Tracer) {
  var runs = 0L
  var committed = 0L
  var busyNs = 0L
  var bytesRewritten = 0L
  var liveFilesMax = 0
  private val stop = new AtomicBoolean(false)
  private val thread = new Thread(() => loop(), "perfbench-compactor")
  thread.setDaemon(true)

  private def partitions(table: Path): Iterable[Seq[String]] =
    ManifestTable.snapshot(table.toString)._2
      .groupBy(f => f.lastIndexOf('/') match { case -1 => ""; case i => f.substring(0, i) })
      .values

  private def one(name: String, table: Path, over: Int, trigger: Int)(call: => Boolean): Unit = {
    val parts = partitions(table)
    if (parts.exists(_.size > trigger)) {
      val inputs = parts.filter(_.size > over).flatten.toSeq
      val bytes = inputs.map(f => Files.size(table.resolve(f))).sum
      val t0 = System.nanoTime()
      val ok = tracer.span(name)(call)
      synchronized {
        busyNs += System.nanoTime() - t0
        runs += 1
        if (ok) { committed += 1; bytesRewritten += bytes }
      }
    }
  }

  /** One pass over both tables; `all` compacts whatever the library would
    * rewrite, as the final compaction does. */
  def pass(all: Boolean = false): Unit = {
    liveFilesMax = math.max(liveFilesMax, pair.liveFiles)
    val raw = MvPair.RawFilesPerPartition
    one("compaction.raw", pair.raw, raw, if (all) raw else 12)(
      FlowStreams.compactRawOnline(spark, pair.raw.toString, raw))
    one("compaction.rollup", pair.rollup, 1, if (all) 1 else 6)(
      FlowStreams.optimizeRollupOnline(spark, pair.rollup.toString))
  }

  private def loop(): Unit =
    while (!stop.get()) {
      Thread.sleep(100)
      if (!stop.get()) pass()
    }

  def start(): Unit = thread.start()

  def finish(): Unit = { stop.set(true); thread.join() }
}

/** Percentiles with linear interpolation between order statistics. */
object Stats {
  def pct(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = pct(xs, 0.5)

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}

/** Files of a run, removed as soon as a stage no longer needs them. */
object Dirs {
  def delete(p: Path): Unit =
    if (Files.exists(p)) {
      val all = Files.walk(p).iterator().asScala.toSeq.reverse
      all.foreach(Files.deleteIfExists)
    }

  def fresh(p: Path): Path = { delete(p); Files.createDirectories(p) }
}
