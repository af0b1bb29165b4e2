package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}

import graft.flow.{FlowMessage, FlowSchema}
import graft.sources.{PartitionedTopic, ProtoCodec}

/** Flows in event-time order, held column-wise on the driver. The benchmark
  * generates them from its seed; the program only ever sees their encoded
  * payloads. */
final class Flows(val n: Int, val firstSeq: Long) {
  val t = new Array[Long](n)
  val bytes = new Array[Long](n)
  val packets = new Array[Long](n)
  val sampling = new Array[Long](n)
  val src = new Array[Int](n)
  val dst = new Array[Int](n)
  val v4 = new Array[Boolean](n)
  val srcPort = new Array[Int](n)
  val dstPort = new Array[Int](n)
  val srcAS = new Array[Int](n)
  val dstAS = new Array[Int](n)
  val proto = new Array[Int](n)

  /** First index whose event time is >= `sec` (times are non-decreasing). */
  def lowerBound(sec: Long): Int = {
    var lo = 0
    var hi = n
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (t(mid) < sec) lo = mid + 1 else hi = mid
    }
    lo
  }

  def message(i: Int): FlowMessage = FlowMessage(
    flowType = FlowSchema.FlowType.SFlow5,
    timeReceived = t(i),
    sequenceNum = firstSeq + i,
    samplingRate = sampling(i),
    samplerAddress = new Array[Byte](16),
    timeFlowStart = t(i),
    timeFlowEnd = t(i),
    bytes = bytes(i),
    packets = packets(i),
    srcAddr = Gen.addr(src(i), v4(i)),
    dstAddr = Gen.addr(dst(i), v4(i)),
    etype = if (v4(i)) FlowSchema.EtypeIPv4 else FlowSchema.EtypeIPv6,
    proto = proto(i),
    srcPort = srcPort(i),
    dstPort = dstPort(i),
    srcAS = srcAS(i),
    dstAS = dstAS(i))
}

/** One producer payload: flows `[from, until)` of a [[Flows]] on one topic
  * partition at a base offset. */
final case class Payload(partition: Int, baseOffset: Long, from: Int, until: Int) {
  def fileName: String = f"$baseOffset%020d.bin"
  def key: String = s"partition=$partition/$fileName"
  def size: Int = until - from
}

object Gen {
  val AddrPool = 4096
  private val wellKnownPorts = Array(53, 80, 123, 443, 993, 3306, 5432, 8080)

  /** splitmix64 finalizer. */
  def mix(x0: Long): Long = {
    var z = x0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** `n` flows spread over `[t0, t0 + spanSec)` in event-time order. Field
    * shapes follow the reference mocker (bytes < 1500, packets < 100, three
    * ASes) with skew added where panels depend on it: a quarter of flows
    * are IPv4, addresses follow a heavy-tailed popularity over a fixed pool,
    * and a quarter of ports are well-known. `stream` separates independent
    * data sets drawn from one seed. */
  def flows(seed: Long, stream: Long, n: Int, t0: Long, spanSec: Long,
      firstSeq: Long = 0L): Flows = {
    val f = new Flows(n, firstSeq)
    val base = mix(seed) ^ (stream * 0x632BE59BD9B4E019L)
    var i = 0
    while (i < n) {
      val h = mix(base + i)
      def field(k: Int): Long = mix(h + k) & Long.MaxValue
      def unit(k: Int): Double = (field(k) >>> 10) * (1.0 / (1L << 53))
      f.t(i) = t0 + ((i + unit(0)) * spanSec / n).toLong
      f.v4(i) = (field(1) & 3L) == 0L
      f.bytes(i) = field(2) % 1500L
      f.packets(i) = 1L + field(3) % 100L
      f.sampling(i) = if (field(4) % 8L == 0L) 10L else 1L
      val us = unit(5)
      val ud = unit(6)
      f.src(i) = (AddrPool * us * us * us).toInt
      f.dst(i) = (AddrPool * ud * ud * ud).toInt
      f.srcPort(i) = port(field(7), field(8))
      f.dstPort(i) = port(field(9), field(10))
      f.srcAS(i) = (65000L + field(11) % 3L).toInt
      f.dstAS(i) = (65000L + field(12) % 3L).toInt
      f.proto(i) = if ((field(13) & 1L) == 0L) 6 else 17
      i += 1
    }
    f
  }

  private def port(pick: Long, v: Long): Int =
    if (pick % 4L == 0L) wellKnownPorts((v % wellKnownPorts.length).toInt)
    else (v & 0xFFFFL).toInt

  /** 16-byte wire address. IPv4 `10.0.x.y` is stored left-packed as a
    * little-endian uint32, the reference's convention; IPv6 is
    * `2001:db8:0:1::<id>`. */
  def addr(id: Int, v4: Boolean): Array[Byte] = {
    val b = new Array[Byte](16)
    if (v4) {
      val ip = 0x0A000000 | id
      b(0) = ip.toByte; b(1) = (ip >>> 8).toByte
      b(2) = (ip >>> 16).toByte; b(3) = (ip >>> 24).toByte
    } else {
      b(0) = 0x20; b(1) = 0x01; b(2) = 0x0d; b(3) = 0xb8.toByte
      b(7) = 0x01
      b(14) = (id >>> 8).toByte; b(15) = id.toByte
    }
    b
  }

  /** Cut flows into payloads of `size`, alternating over `partitions`, with
    * dense per-partition offsets continuing from `firstOffsets`. */
  def payloads(f: Flows, size: Int, partitions: Int,
      firstOffsets: Seq[Long] = Nil): IndexedSeq[Payload] = {
    val next = Array.tabulate(partitions)(p => firstOffsets.lift(p).getOrElse(0L))
    (0 until f.n by size).zipWithIndex.map { case (from, k) =>
      val p = k % partitions
      val until = math.min(f.n, from + size)
      val pl = Payload(p, next(p), from, until)
      next(p) += until - from
      pl
    }
  }

  /** Produce payloads through the program's producer. */
  def produce(f: Flows, pls: Seq[Payload], topic: Path): Unit =
    pls.foreach { pl =>
      PartitionedTopic.producePayload(topic.toString, pl.partition, pl.baseOffset,
        (pl.from until pl.until).map(f.message))
    }

  /** Encode a payload ahead of time (the bytes `producePayload` would write)
    * into `staging`, for a generator that later publishes it by rename. */
  def stage(f: Flows, pl: Payload, staging: Path): Path = {
    val out = new java.io.ByteArrayOutputStream(pl.size * 80)
    var i = pl.from
    while (i < pl.until) { out.write(ProtoCodec.encodeDelimited(f.message(i))); i += 1 }
    val p = staging.resolve(s"p${pl.partition}-${pl.fileName}")
    Files.write(p, out.toByteArray)
    p
  }

  /** Publish a staged payload: atomic rename into `partition=N/`, the
    * producer contract of [[PartitionedTopic.producePayload]]. */
  def publish(staged: Path, pl: Payload, topic: Path): Unit = {
    val dir = topic.resolve(s"partition=${pl.partition}")
    Files.createDirectories(dir)
    Files.move(staged, dir.resolve(pl.fileName), StandardCopyOption.ATOMIC_MOVE)
  }
}
