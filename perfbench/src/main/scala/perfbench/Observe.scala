package perfbench

import java.nio.file.{Files, Path}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress}

/** Wall clock in epoch microseconds, monotone within the process. */
object Clock {
  private val anchorUs = System.currentTimeMillis() * 1000L
  private val anchorNs = System.nanoTime()
  def nowUs: Long = anchorUs + (System.nanoTime() - anchorNs) / 1000L
}

/** One timed call into a layer. Spans of one refresh, batch or query share
  * a `trace` id; `parent` is 0 for a root. */
final case class Span(id: Long, trace: Long, parent: Long, name: String,
    startUs: Long, endUs: Long) {
  def durUs: Long = endUs - startUs
}

/** In-memory span recorder, written out when the run ends. When tracing is
  * off, [[span]] only runs its body. While a span is open on a thread, jobs
  * that thread launches carry its id as the local property
  * `perfbench.span`, so job spans from the listener find their parent. */
final class Tracer(val enabled: Boolean, sc: SparkContext) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0L)
  private val current = new ThreadLocal[Span]()

  def newId(): Long = ids.incrementAndGet()

  def span[A](name: String, root: Boolean = false)(body: => A): A =
    if (!enabled) body
    else {
      val outer = current.get()
      val id = newId()
      val parent = if (root || outer == null) 0L else outer.id
      val trace = if (root || outer == null) id else outer.trace
      val start = Clock.nowUs
      current.set(Span(id, trace, parent, name, start, 0L))
      sc.setLocalProperty("perfbench.span", id.toString)
      try body
      finally {
        spans.add(Span(id, trace, parent, name, start, Clock.nowUs))
        current.set(outer)
        sc.setLocalProperty("perfbench.span", if (outer == null) null else outer.id.toString)
      }
    }

  /** The innermost open span on this thread, if tracing. */
  def open: Option[Span] = Option(current.get())

  def add(s: Span): Unit = if (enabled) spans.add(s)

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.startUs)
}

/** Spark job and task accounting: one record per job with the span that
  * launched it (if any) and the streaming query and batch it belongs to. */
final class ExecObs extends SparkListener {
  final class JobRec(val id: Int, val startMs: Long, val span: Long,
      val query: String, val batch: Long) {
    @volatile var endMs: Long = -1L
    var tasks = 0L
    var runMs = 0L
    var cpuNs = 0L
    var gcMs = 0L
    var shuffleBytes = 0L
    var spillBytes = 0L
    var outputBytes = 0L
    var inputBytes = 0L
  }

  val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, JobRec]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
    val rec = new JobRec(e.jobId, e.time,
      prop("perfbench.span").map(_.toLong).getOrElse(0L),
      prop("sql.streaming.queryId").orNull,
      prop("streaming.sql.batchId").map(_.toLong).getOrElse(-1L))
    jobs.put(e.jobId, rec)
    e.stageIds.foreach(s => stageJob.put(s, rec))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val rec = stageJob.get(e.stageId)
    val m = e.taskMetrics
    if (rec != null && m != null) rec.synchronized {
      rec.tasks += 1
      rec.runMs += m.executorRunTime
      rec.cpuNs += m.executorCpuTime
      rec.gcMs += m.jvmGCTime
      rec.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      rec.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      rec.outputBytes += m.outputMetrics.bytesWritten
      rec.inputBytes += m.inputMetrics.bytesRead
    }
  }

  def all: Seq[JobRec] = jobs.values.asScala.toSeq.sortBy(_.id)

  /** Wait until every job seen so far has ended on the listener bus, so
    * their task events have been counted too. */
  def settle(timeoutMs: Long = 10000L): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (jobs.values.asScala.exists(_.endMs < 0) && System.currentTimeMillis() < deadline)
      Thread.sleep(20)
  }
}

/** Per-batch progress of every streaming query, as the engine reports it. */
final class StreamObs extends StreamingQueryListener {
  val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    progress.add(e.progress)
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()

  /** Progress of the batches that carried data in one run of a query. */
  def batches(runId: java.util.UUID): Seq[StreamingQueryProgress] =
    progress.asScala.toSeq.filter(p => p.runId == runId && p.numInputRows > 0).sortBy(_.batchId)

  /** Wait until the listener has seen the query's last batch that carried
    * data (its idle triggers never reach `onQueryProgress`). */
  def awaitLastData(q: StreamingQuery): Unit =
    q.recentProgress.filter(_.numInputRows > 0).lastOption.foreach { last =>
      val deadline = System.currentTimeMillis() + 10000L
      while (!progress.asScala.exists(p => p.runId == q.runId && p.batchId >= last.batchId) &&
          System.currentTimeMillis() < deadline) Thread.sleep(20)
    }
}

object Observe {
  def startMs(p: StreamingQueryProgress): Long = java.time.Instant.parse(p.timestamp).toEpochMilli

  def dur(p: StreamingQueryProgress, k: String): Long =
    Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)

  /** When a batch's trigger ended: its start plus `triggerExecution`. */
  def endMs(p: StreamingQueryProgress): Long = startMs(p) + dur(p, "triggerExecution")

  private val entryRe = """partition=(\d+)/(\d+\.bin)""".r
  private val batchRe = """"batchId"\s*:\s*(\d+)""".r

  /** (payload key `partition=N/<offset>.bin`, batch that consumed it) for
    * every entry of a query checkpoint's file-source log. The log's
    * compacted files repeat earlier entries, so only the newest compacted
    * file and the delta files after it are read. */
  def payloadBatches(checkpoint: Path): Seq[(String, Long)] = {
    val dir = checkpoint.resolve("sources").resolve("0")
    if (!Files.isDirectory(dir)) return Nil
    val logs = Files.list(dir).iterator().asScala.toSeq.flatMap { p =>
      """(\d+)(\.compact)?""".r.unapplySeq(p.getFileName.toString)
        .map(g => (g.head.toLong, g(1) != null, p))
    }
    val lastCompact = logs.filter(_._2).map(_._1).maxOption.getOrElse(-1L)
    logs.filter { case (b, compact, _) => if (compact) b == lastCompact else b > lastCompact }
      .flatMap { case (_, _, f) =>
        Files.readAllLines(f).asScala.iterator.flatMap { line =>
          for {
            e <- entryRe.findFirstMatchIn(line)
            b <- batchRe.findFirstMatchIn(line)
          } yield s"partition=${e.group(1)}/${e.group(2)}" -> b.group(1).toLong
        }
      }
  }

  /** Total length of the union of `[start, end)` intervals. */
  def unionLen(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}
