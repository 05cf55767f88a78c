package perfbench

import scala.collection.mutable

/** Expected answers, accumulated on the driver from [[Gen.event]] — the
  * same events the engine ingests, aggregated here by plain array
  * arithmetic at slice grain, never through the service. Covers slices
  * [baseMs, baseMs + nSlices × slice). Users in `tracked` keep their raw
  * request events for the raw-scan drill reads. */
final class Truth(val baseMs: Long, val nSlices: Int, val tracked: Set[Int]) {
  import Gen._

  private val req = new Array[Long](Series * nSlices)
  private val avgC = new Array[Long](Series * nSlices)
  private val avgT = new Array[Long](Series * nSlices)
  private val hist = new Array[Int](Series * nSlices * HistN)
  private val userEvents = mutable.Map.empty[Int, mutable.ArrayBuffer[(Int, Long)]]
  @volatile var events = 0L

  def slice(ms: Long): Int = ((ms - baseMs) / SliceMs).toInt
  def sliceMs(q: Int): Long = baseMs + q * SliceMs

  def add(e: Ev): Unit = {
    val q = slice(e.tsMs)
    require(q >= 0 && q < nSlices, s"event at ${e.tsMs} outside the truth range")
    val i = e.series * nSlices + q
    e.fact match {
      case 0 =>
        req(i) += e.value
        if (tracked(e.user))
          userEvents.getOrElseUpdate(e.user, mutable.ArrayBuffer.empty) += ((q, e.value))
      case 1 => avgC(i) += 1; avgT(i) += e.value
      case _ =>
        val b = math.min(HistN - 1L, math.max(0L, (e.value - HistLo) / HistStep)).toInt
        hist(i * HistN + b) += 1
    }
    events += 1
  }

  // ---- calendar helpers (mirror the engine's documented semantics) -----

  /** Bucket of a slice start under an hour / day / week step. Weeks use
    * the reference's non-ISO floor: midnight of (date − ISO weekday). */
  def bucketOf(ms: Long, step: String): Long = step match {
    case "hour" => Math.floorDiv(ms, HourMs) * HourMs
    case "day" => Math.floorDiv(ms, DayMs) * DayMs
    case "week" =>
      val d = Math.floorDiv(ms, DayMs)
      val dow = java.time.LocalDate.ofEpochDay(d).getDayOfWeek.getValue
      (d - dow) * DayMs
  }

  def grid(startMs: Long, finishMs: Long, step: String): Seq[Long] = {
    val inc = step match {
      case "hour" => HourMs
      case "day" => DayMs
      case "week" => 7 * DayMs
    }
    Iterator.iterate(startMs)(_ + inc).takeWhile(_ < finishMs).toSeq
  }

  /** The scanned slice range of a read: both bounds slice-floored, the
    * finish slice included. */
  def scanRange(startMs: Long, finishMs: Long): Range = {
    val lo = slice(Math.floorDiv(startMs, SliceMs) * SliceMs)
    val hi = slice(Math.floorDiv(finishMs, SliceMs) * SliceMs) + 1
    math.max(lo, 0) until math.min(hi, nSlices)
  }

  /** Endpoint-level series of a region filter (all when None). */
  def seriesOf(region: Option[String]): Seq[Int] =
    (0 until Series).filter(s =>
      region.forall(_ == Regions(s / EndpointsPerRegion)))

  private def fmt(parts: Any*): String = parts.map {
    case null => "null"
    case x => x.toString
  }.mkString("|")

  /** Dense counter (`fact` 0) or average series rows: one output series
    * per group, named by its key and summing its member endpoint series. */
  def filled(fact: Int, groups: Seq[(String, Seq[Int])], startMs: Long,
      finishMs: Long, step: String): Seq[String] = {
    val scan = scanRange(startMs, finishMs)
    val g = grid(startMs, finishMs, step)
    groups.flatMap { case (key, members) =>
      val sums = mutable.Map.empty[Long, Array[Long]]
      var present = false
      for (s <- members; q <- scan) {
        val i = s * nSlices + q
        val (c, v) = fact match {
          case 0 => (if (req(i) > 0) 1L else 0L, req(i))
          case _ => (avgC(i), avgT(i))
        }
        if (c > 0) {
          present = true
          val a = sums.getOrElseUpdate(bucketOf(sliceMs(q), step), Array(0L, 0L))
          a(0) += c; a(1) += v
        }
      }
      if (!present) Nil
      else g.map { b =>
        val a = sums.getOrElse(b, Array(0L, 0L))
        if (fact == 0) fmt(key, b, a(1)) else fmt(key, b, a(0), a(1))
      }
    }
  }

  /** Histogram counts per (series, hour bucket, hist bucket) over the
    * scanned range, absent cells omitted (histograms never gap-fill). */
  def histRows(series: Seq[Int], startMs: Long, finishMs: Long): Seq[String] = {
    val scan = scanRange(startMs, finishMs)
    series.flatMap { s =>
      val cells = mutable.Map.empty[(Long, Int), Long]
      for (q <- scan; b <- 0 until HistN) {
        val c = hist((s * nSlices + q) * HistN + b)
        if (c > 0) {
          val k = (bucketOf(sliceMs(q), "hour"), b)
          cells(k) = cells.getOrElse(k, 0L) + c
        }
      }
      cells.toSeq.map { case ((hb, b), c) =>
        fmt(Regions(s / EndpointsPerRegion), endpointName(s), hb,
          HistLo + b * HistStep, c)
      }
    }
  }

  /** Histogram percentiles per series: the smallest bucket lower bound
    * whose cumulative count reaches q% of the series total. */
  def percentiles(series: Seq[Int], startMs: Long, finishMs: Long,
      pcts: Seq[Long]): Seq[String] = {
    val scan = scanRange(startMs, finishMs)
    series.flatMap { s =>
      val counts = Array.fill(HistN)(0L)
      for (q <- scan; b <- 0 until HistN)
        counts(b) += hist((s * nSlices + q) * HistN + b)
      val tot = counts.sum
      if (tot == 0) Nil
      else pcts.map { p =>
        val cum = counts.scanLeft(0L)(_ + _).tail
        val b = cum.indexWhere(_ * 100L >= tot * p)
        fmt(Regions(s / EndpointsPerRegion), endpointName(s), p,
          HistLo + b * HistStep)
      }
    }
  }

  /** A tracked user's dense daily request counts. */
  def userDaily(user: Int, startMs: Long, finishMs: Long): Seq[String] = {
    val scan = scanRange(startMs, finishMs)
    val evs = userEvents.getOrElse(user, mutable.ArrayBuffer.empty)
      .filter { case (q, _) => scan.contains(q) }
    if (evs.isEmpty) Nil
    else {
      val sums = evs.groupMapReduce { case (q, _) => bucketOf(sliceMs(q), "day") }(_._2)(_ + _)
      grid(startMs, finishMs, "day").map(b => fmt(s"u$user", b, sums.getOrElse(b, 0L)))
    }
  }
}
