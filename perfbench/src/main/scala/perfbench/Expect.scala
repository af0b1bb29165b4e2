package perfbench

import scala.collection.mutable

import org.apache.spark.sql.Row

/** A slice `[lo, hi)` of a generated flow set. */
final case class Seg(f: Flows, lo: Int, hi: Int)

/** Expected answers to the managed dashboard panels, computed on the driver
  * straight from the generator's output — independent of `ManifestTable`,
  * `DashboardSql` and Spark. Cells are compared as canonical strings, which
  * keeps Long, Int, Double and text comparisons exact. */
object Expect {
  type Rows = Seq[Seq[String]]

  val Panels: IndexedSeq[String] = IndexedSeq(
    "m_instant_traffic_interval", "m_instant_traffic_30s",
    "m_instant_traffic_1m_interval", "m_instant_traffic_1m",
    "m_top_src_ip", "m_top_dst_ip", "m_top_src_port", "m_top_dst_port",
    "m_rollup_read")

  def canon(v: Any): String = v match {
    case null => "null"
    case d: Double => java.lang.Double.toString(d)
    case x => x.toString
  }

  def rows(rs: Array[Row]): Rows = rs.toSeq.map(_.toSeq.map(canon))

  /** Slices of `sets` inside `[from, until)`, or everything for `None`. */
  def segs(sets: Seq[Flows], range: Option[(Long, Long)]): Seq[Seg] =
    sets.map { f =>
      range match {
        case None => Seg(f, 0, f.n)
        case Some((from, until)) => Seg(f, f.lowerBound(from), f.lowerBound(until))
      }
    }

  /** Windows are aligned to the rollup's 300 s slots, so the raw panels'
    * `time_received` filter and the rollup's `timeslot` filter select the
    * same flows. */
  def panel(name: String, ss: Seq[Seg], interval: Long): Rows = name match {
    case "m_instant_traffic_interval" => traffic(ss, interval, bits = true)
    case "m_instant_traffic_30s" => traffic(ss, 30L, bits = true)
    case "m_instant_traffic_1m_interval" => traffic(ss, interval, bits = false)
    case "m_instant_traffic_1m" => traffic(ss, 60L, bits = false)
    case "m_top_src_ip" => topAddr(ss, src = true)
    case "m_top_dst_ip" => topAddr(ss, src = false)
    case "m_top_src_port" => topPort(ss, src = true)
    case "m_top_dst_port" => topPort(ss, src = false)
    case "m_rollup_read" => rollupRead(ss)
  }

  private def each(ss: Seq[Seg])(fn: (Flows, Int) => Unit): Unit =
    ss.foreach { s => var i = s.lo; while (i < s.hi) { fn(s.f, i); i += 1 } }

  private def traffic(ss: Seq[Seg], width: Long, bits: Boolean): Rows = {
    val sums = mutable.LongMap.empty[Long]
    each(ss) { (f, i) =>
      val b = f.t(i) / width * width
      sums(b) = sums.getOrElse(b, 0L) + f.bytes(i) * f.sampling(i)
    }
    sums.toSeq.sortBy(_._1).map { case (b, s) =>
      if (bits) Seq(b.toString, (s * 8).toString, canon((s * 8).toDouble / width.toDouble))
      else Seq(b.toString, s.toString, (b * 1000).toString)
    }
  }

  private def topAddr(ss: Seq[Seg], src: Boolean): Rows = {
    // key: address id, with IPv4 ids offset past the IPv6 pool
    val acc = mutable.LongMap.empty[Array[Long]]
    each(ss) { (f, i) =>
      val id = (if (src) f.src(i) else f.dst(i)).toLong + (if (f.v4(i)) Gen.AddrPool else 0)
      val a = acc.getOrElseUpdate(id, new Array[Long](2))
      a(0) += 1; a(1) += f.bytes(i) * f.sampling(i)
    }
    acc.toSeq.map { case (k, a) =>
      val v4 = k >= Gen.AddrPool
      (addrText((k % Gen.AddrPool).toInt, v4), a(0), a(1))
    }.sortWith { (x, y) => x._3 > y._3 || (x._3 == y._3 && x._1 < y._1) }
      .take(10).map { case (a, c, s) => Seq(a, c.toString, s.toString) }
  }

  private def topPort(ss: Seq[Seg], src: Boolean): Rows = {
    val acc = mutable.LongMap.empty[Array[Long]]
    each(ss) { (f, i) =>
      val a = acc.getOrElseUpdate((if (src) f.srcPort(i) else f.dstPort(i)).toLong, new Array[Long](2))
      a(0) += 1; a(1) += f.bytes(i) * f.sampling(i)
    }
    acc.toSeq.sortWith { (x, y) => x._2(1) > y._2(1) || (x._2(1) == y._2(1) && x._1 < y._1) }
      .take(10).map { case (p, a) => Seq(p.toString, a(0).toString, a(1).toString) }
  }

  private def rollupRead(ss: Seq[Seg]): Rows = {
    val acc = mutable.LongMap.empty[Array[Long]]
    each(ss) { (f, i) =>
      val a = acc.getOrElseUpdate(f.srcAS(i).toLong * 100000L + f.dstAS(i), new Array[Long](3))
      a(0) += f.bytes(i); a(1) += f.packets(i); a(2) += 1
    }
    acc.toSeq.sortBy(_._1).map { case (k, a) =>
      Seq((k / 100000L).toString, (k % 100000L).toString,
        a(0).toString, a(1).toString, a(2).toString)
    }
  }

  /** Reference rendering: IPv4 dotted quad; IPv6 in RFC 5952 text. */
  def addrText(id: Int, v4: Boolean): String = {
    val b = Gen.addr(id, v4)
    if (v4) s"10.0.${(id >>> 8) & 0xFF}.${id & 0xFF}"
    else {
      val g = (0 until 8).map(i => ((b(2 * i) & 0xFF) << 8) | (b(2 * i + 1) & 0xFF))
      var bestStart = -1
      var bestLen = 0
      var i = 0
      while (i < 8) {
        if (g(i) == 0) {
          var j = i
          while (j < 8 && g(j) == 0) j += 1
          if (j - i > bestLen) { bestStart = i; bestLen = j - i }
          i = j
        } else i += 1
      }
      def hex(xs: Seq[Int]) = xs.map(Integer.toHexString).mkString(":")
      if (bestLen < 2) hex(g)
      else hex(g.take(bestStart)) + "::" + hex(g.drop(bestStart + bestLen))
    }
  }

  /** Every group of a top-N or rollup panel, not only the first ten: key
    * columns joined by `,` → value columns. */
  def keyed(name: String, ss: Seq[Seg]): Map[String, Seq[Long]] = {
    val acc = mutable.HashMap.empty[String, Array[Long]]
    def add(k: String, vs: Long*): Unit = {
      val a = acc.getOrElseUpdate(k, new Array[Long](vs.size))
      vs.indices.foreach(j => a(j) += vs(j))
    }
    each(ss) { (f, i) =>
      val sampled = f.bytes(i) * f.sampling(i)
      name match {
        case "m_top_src_ip" => add(addrText(f.src(i), f.v4(i)), 1L, sampled)
        case "m_top_dst_ip" => add(addrText(f.dst(i), f.v4(i)), 1L, sampled)
        case "m_top_src_port" => add(f.srcPort(i).toString, 1L, sampled)
        case "m_top_dst_port" => add(f.dstPort(i).toString, 1L, sampled)
        case "m_rollup_read" => add(s"${f.srcAS(i)},${f.dstAS(i)}", f.bytes(i), f.packets(i), 1L)
      }
    }
    acc.map { case (k, a) => k -> a.toSeq }.toMap
  }

  /** Check an all-time panel read while the live stream appends after
    * `liveStart`. Time-series panels must match the history exactly before
    * `liveStart` and show only live buckets after it; grouped panels must
    * lie, group by group, between the history's totals and the totals of
    * everything published by the end of the window. */
  def allWindowOk(name: String, got: Rows, hist: Rows, histGroups: => Map[String, Seq[Long]],
      fullGroups: => Map[String, Seq[Long]], liveStart: Long, liveEnd: Long): Boolean =
    name match {
      case n if n.startsWith("m_instant_traffic") =>
        val (old, live) = got.partition(_.head.toLong < liveStart)
        old == hist && live.forall(r => r.head.toLong <= liveEnd)
      case _ =>
        val keyCols = if (name == "m_rollup_read") 2 else 1
        val h = histGroups
        val f = fullGroups
        got.nonEmpty && got.forall { r =>
          val k = r.take(keyCols).mkString(",")
          val v = r.drop(keyCols).map(_.toLong)
          val lo = h.getOrElse(k, v.map(_ => 0L))
          f.get(k).exists(hi => v.indices.forall(j => lo(j) <= v(j) && v(j) <= hi(j)))
        }
    }
}
