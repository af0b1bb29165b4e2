package perfbench

import java.nio.file.Path

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** State of one benchmark run: the session, the observers, the metrics and
  * the operation counts behind `attempted` and `failed`. */
final class Ctx(val spark: SparkSession, val work: Path, val seed: Long,
    val seconds: Int, val trace: Boolean) {
  val cores: Int = spark.sparkContext.defaultParallelism
  val tracer = new Tracer(trace, spark.sparkContext)
  val streams = new StreamObs
  spark.streams.addListener(streams)
  val exec: Option[ExecObs] =
    if (trace) { val o = new ExecObs; spark.sparkContext.addSparkListener(o); Some(o) } else None

  /** name → (value, unit). End-to-end metrics are measured on every run,
    * per-layer ones only when tracing. */
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  /** Samples behind each percentile or median. */
  val samples = mutable.LinkedHashMap.empty[String, Int]
  /** Anything else worth keeping with the result. */
  val notes = mutable.LinkedHashMap.empty[String, Any]
  val failures = mutable.ArrayBuffer.empty[String]
  private var attemptedOps = 0L
  private var failedOps = 0L

  def attempted: Long = synchronized(attemptedOps)
  def failed: Long = synchronized(failedOps)

  def put(name: String, value: Double, unit: String, n: Int = -1): Unit = {
    metrics(name) = (value, unit)
    if (n >= 0) samples(name) = n
  }

  private def fail(what: String): Unit = synchronized {
    failedOps += 1
    if (failures.size < 50) failures += what
  }

  /** One operation: counted as attempted, and as failed if it throws. */
  def attempt[A](what: String)(body: => A): Option[A] = {
    synchronized(attemptedOps += 1)
    try Some(body)
    catch {
      case e: Exception =>
        fail(s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}".take(300))
        None
    }
  }

  /** The output check of an operation already counted by [[attempt]]. */
  def verify(what: String)(ok: => Boolean): Unit = {
    val passed = try ok catch { case e: Exception => fail(s"$what: $e".take(300)); return }
    if (!passed) fail(what)
  }

  /** A standalone check, e.g. a reconcile: one operation of its own. */
  def check(what: String)(ok: => Boolean): Unit = {
    synchronized(attemptedOps += 1)
    verify(what)(ok)
  }

  /** Time a block in seconds. */
  def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }

  /** Midnight UTC of a seeded day in 2024, the start of event time. */
  val epoch: Long = 1704067200L + (math.abs(Gen.mix(seed) % 300L)) * 86400L
}
