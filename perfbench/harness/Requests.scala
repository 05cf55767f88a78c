package perfbench

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.TimeSeriesService
import graft.model.Step

/** The dashboard request mix. Each request knows how to call the engine,
  * which serving tier it is meant to reach, and what its answer must be
  * according to [[Truth]]. Rows are compared as sorted `a|b|c` strings:
  * timestamps as epoch millis, nulls as `null`. */
sealed trait Request {
  def kind: String
  /** The read as the engine exposes it (service call or SQL). */
  def frame(svc: TimeSeriesService, spark: SparkSession): DataFrame
  /** Output columns compared, in order. */
  def columns: Seq[String]
  def expected(t: Truth): Seq[String]
  /** (fact ids, dimension, filters, start, finish, step) for the routing
    * guard, and the tier each fact must be served from. */
  def route: (Seq[String], String, Map[String, Option[String]], Long, Long, Step)
  def tier: String
}

object Request {
  val Kinds: Seq[String] =
    Seq("tile_hour", "tile_day", "board_multi", "hist_pct", "drill_raw", "sql_window")
  val SqlFunction = "bench_requests_hour"
  val Pcts: Seq[Long] = Seq(50L, 95L, 99L)

  def ts(ms: Long): Timestamp = new Timestamp(ms)

  def render(rows: Array[Row], columns: Seq[String]): Seq[String] =
    rows.toSeq.map { r =>
      columns.map { c =>
        r.get(r.fieldIndex(c)) match {
          case null => "null"
          case t: Timestamp => t.getTime.toString
          case x => x.toString
        }
      }.mkString("|")
    }.sorted

  private def factCols(fact: Int): Seq[String] =
    if (fact == 0) Seq("value") else Seq("counter", "total")

  /** Hour tiles of one region's endpoints, slice tier. */
  final case class TileHour(fact: Int, region: String, startMs: Long, finishMs: Long)
      extends Request {
    val kind = "tile_hour"
    private val filters = Map("region" -> Option(region))
    def frame(svc: TimeSeriesService, spark: SparkSession): DataFrame =
      svc.getTimeseries(Gen.Facts(fact), "endpoint", filters, ts(startMs),
        ts(finishMs), Step.Hour)
    def columns: Seq[String] = Seq("region", "endpoint", "bucket") ++ factCols(fact)
    def expected(t: Truth): Seq[String] = t.filled(fact,
      t.seriesOf(Some(region)).map(s => (s"$region|${Gen.endpointName(s)}", Seq(s))),
      startMs, finishMs, "hour").sorted
    def route = (Seq(Gen.Facts(fact)), "endpoint", filters, startMs, finishMs, Step.Hour)
    val tier = "rollup-slice"
  }

  /** Midnight-aligned day or week tiles of one region's endpoints, day
    * tier. The finish is the last slice of the window, so the scanned
    * range is whole days. */
  final case class TileDay(fact: Int, week: Boolean, region: String, startMs: Long,
      finishMs: Long) extends Request {
    val kind = "tile_day"
    private val step = if (week) Step.Week else Step.Day
    private val filters = Map("region" -> Option(region))
    def frame(svc: TimeSeriesService, spark: SparkSession): DataFrame =
      svc.getTimeseries(Gen.Facts(fact), "endpoint", filters, ts(startMs),
        ts(finishMs), step)
    def columns: Seq[String] = Seq("region", "endpoint", "bucket") ++ factCols(fact)
    def expected(t: Truth): Seq[String] = t.filled(fact,
      t.seriesOf(Some(region)).map(s => (s"$region|${Gen.endpointName(s)}", Seq(s))),
      startMs, finishMs, step.name).sorted
    def route = (Seq(Gen.Facts(fact)), "endpoint", filters, startMs, finishMs, step)
    val tier = "rollup-day"
  }

  /** One dashboard board: all three facts of a region in one call. */
  final case class BoardMulti(region: String, startMs: Long, finishMs: Long)
      extends Request {
    val kind = "board_multi"
    private val filters = Map("region" -> Option(region))
    def frame(svc: TimeSeriesService, spark: SparkSession): DataFrame =
      svc.getTimeseriesMulti(Gen.Facts.toSeq, "endpoint", filters, ts(startMs),
        ts(finishMs), Step.Hour)
    val columns: Seq[String] = Seq("region", "endpoint", "fact", "bucket",
      "hist_bucket", "value", "counter", "total")
    def expected(t: Truth): Seq[String] = {
      val series = t.seriesOf(Some(region))
      def key(s: Int) = s"$region|${Gen.endpointName(s)}"
      val counter = t.filled(0, series.map(s => (key(s), Seq(s))), startMs, finishMs, "hour")
        .map { r => val p = r.split('|'); s"${p(0)}|${p(1)}|requests|${p(2)}|null|${p(3)}|null|null" }
      val avg = t.filled(1, series.map(s => (key(s), Seq(s))), startMs, finishMs, "hour")
        .map { r => val p = r.split('|'); s"${p(0)}|${p(1)}|latency_avg|${p(2)}|null|null|${p(3)}|${p(4)}" }
      val hist = t.histRows(series, startMs, finishMs)
        .map { r => val p = r.split('|'); s"${p(0)}|${p(1)}|latency_hist|${p(2)}|${p(3)}|${p(4)}|null|null" }
      (counter ++ avg ++ hist).sorted
    }
    def route = (Gen.Facts.toSeq, "endpoint", filters, startMs, finishMs, Step.Hour)
    val tier = "rollup-slice"
  }

  /** Latency percentiles per endpoint of a region. */
  final case class HistPct(region: String, startMs: Long, finishMs: Long)
      extends Request {
    val kind = "hist_pct"
    private val filters = Map("region" -> Option(region))
    def frame(svc: TimeSeriesService, spark: SparkSession): DataFrame =
      svc.getHistogramPercentiles("latency_hist", "endpoint", filters,
        ts(startMs), ts(finishMs), Pcts)
    val columns: Seq[String] = Seq("region", "endpoint", "pct", "value")
    def expected(t: Truth): Seq[String] =
      t.percentiles(t.seriesOf(Some(region)), startMs, finishMs, Pcts).sorted
    def route = (Seq("latency_hist"), "endpoint", filters, startMs, finishMs, Step.NoStep)
    val tier = "rollup-slice"
  }

  /** One user's daily requests: the high-cardinality dimension whose
    * rollup does not pay, so it is served by a raw scan. */
  final case class DrillRaw(user: Int, startMs: Long, finishMs: Long) extends Request {
    val kind = "drill_raw"
    private val filters = Map("user" -> Option(s"u$user"))
    def frame(svc: TimeSeriesService, spark: SparkSession): DataFrame =
      svc.getTimeseries("requests", "user", filters, ts(startMs), ts(finishMs), Step.Day)
    val columns: Seq[String] = Seq("user", "bucket", "value")
    def expected(t: Truth): Seq[String] = t.userDaily(user, startMs, finishMs).sorted
    def route = (Seq("requests"), "user", filters, startMs, finishMs, Step.Day)
    val tier = "raw-scan"
  }

  /** The ingest loop's verifying read: hourly requests of every endpoint
    * over the newest hours. */
  final case class Newest(startMs: Long, finishMs: Long) extends Request {
    val kind = "verify"
    def frame(svc: TimeSeriesService, spark: SparkSession): DataFrame =
      svc.getTimeseries("requests", "endpoint", Map.empty, ts(startMs), ts(finishMs), Step.Hour)
    val columns: Seq[String] = Seq("region", "endpoint", "bucket", "value")
    def expected(t: Truth): Seq[String] = t.filled(0,
      (0 until Gen.Series).map(s =>
        (s"${Gen.Regions(s / Gen.EndpointsPerRegion)}|${Gen.endpointName(s)}", Seq(s))),
      startMs, finishMs, "hour").sorted
    def route = (Seq("requests"), "endpoint", Map.empty[String, Option[String]],
      startMs, finishMs, Step.Hour)
    val tier = "rollup-slice"
  }

  /** The installed SQL window table function over every endpoint. */
  final case class SqlWindow(startMs: Long, finishMs: Long) extends Request {
    val kind = "sql_window"
    def frame(svc: TimeSeriesService, spark: SparkSession): DataFrame = {
      def lit(ms: Long) = s"TIMESTAMP '${java.time.Instant.ofEpochMilli(ms)}'"
      spark.sql(s"SELECT * FROM $SqlFunction(${lit(startMs)}, ${lit(finishMs)})")
    }
    val columns: Seq[String] = Seq("region", "endpoint", "bucket", "value")
    def expected(t: Truth): Seq[String] = t.filled(0,
      (0 until Gen.Series).map(s =>
        (s"${Gen.Regions(s / Gen.EndpointsPerRegion)}|${Gen.endpointName(s)}", Seq(s))),
      startMs, finishMs, "hour").sorted
    def route = (Seq("requests"), "endpoint", Map("region" -> Option.empty[String]),
      startMs, finishMs, Step.Hour)
    val tier = "rollup-slice"
  }
}

/** Seeded request stream. Kinds follow a fixed smooth weighted
  * round-robin over `weights`, each kind has a fixed window length, and
  * tile facts and day/week steps alternate in a fixed order, so every run
  * serves the same mix of work and a per-run median compares like with
  * like. The seed draws each request's region, window position and user;
  * windows end on recent days (exponential bias toward `horizonMs`, the
  * newest instant). */
final class RequestGen(seed: Long, client: Int, historyStartMs: Long,
    horizonMs: Long, weights: Seq[(String, Double)], tileFacts: Seq[Int],
    trackedUsers: IndexedSeq[Int]) {
  import Gen._
  import Request._
  private var n = 0L
  private def u(k: Int): Double = unit(mix64(mix64(seed * 31 + client) + n * 16 + k))
  private val total = weights.map(_._2).sum
  private val credit = Array.fill(weights.size)(0.0)
  /** Requests per whole round-robin cycle: the weights are integers. */
  val cycle: Int = total.toInt
  // clients start at different points of the cycle
  (0 until client * 7).foreach(_ => nextKind())

  private def nextKind(): String = {
    weights.indices.foreach(i => credit(i) += weights(i)._2)
    val i = credit.indices.maxBy(credit)
    credit(i) -= total
    weights(i)._1
  }

  private val newestDay = Math.floorDiv(horizonMs, DayMs) - 1
  private val oldestDay = Math.floorDiv(historyStartMs, DayMs)
  /** Whole days a window may span. */
  private val historyDays = (newestDay - oldestDay + 1).toInt

  /** A day index counted back from the newest whole day, recent-biased,
    * leaving room for `spanDays` before it. */
  private def recentDay(k: Int, spanDays: Int): Long = {
    val back = math.min((-math.log(1.0 - u(k)) * 3.0).toLong, newestDay - oldestDay - spanDays)
    newestDay - math.max(back, 0L)
  }

  /** Per-kind request counters: tile facts and steps alternate by them. */
  private val issued = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)
  private def tileFact(kind: String): Int = tileFacts(issued(kind) % tileFacts.size)

  def next(): Request = {
    n += 1
    val kind = nextKind()
    issued(kind) += 1
    val region = Regions(math.min((u(1) * Regions.length).toInt, Regions.length - 1))
    kind match {
      case "tile_hour" =>
        val endMs = (recentDay(3, 2) + 1) * DayMs - (u(4) * 18).toLong * HourMs
        TileHour(tileFact(kind), region, endMs - 24 * HourMs, endMs)
      case "tile_day" =>
        val fact = tileFact(kind)
        // every third day tile is a one-week tile, when the history has room
        if (issued(kind) % 3 != 0 || historyDays < 14) {
          val days = math.min(7, historyDays - 1)
          val last = recentDay(3, days)
          TileDay(fact, week = false, region, (last - days + 1) * DayMs,
            (last + 1) * DayMs - SliceMs)
        } else {
          // a one-week window starting on a Sunday (epoch day 3 was one)
          val startDay = recentDay(3, 14) - 6
          val sunday = startDay - Math.floorMod(startDay - 3, 7L)
          TileDay(fact, week = true, region, sunday * DayMs, (sunday + 7) * DayMs - SliceMs)
        }
      case "board_multi" =>
        val endMs = (recentDay(3, 1) + 1) * DayMs - (u(4) * 12).toLong * HourMs
        BoardMulti(region, endMs - 12 * HourMs, endMs)
      case "hist_pct" =>
        val endMs = (recentDay(3, 2) + 1) * DayMs - (1 + (u(4) * 20).toLong) * HourMs
        HistPct(region, endMs - 24 * HourMs, endMs)
      case "drill_raw" =>
        val days = math.min(7, historyDays - 1)
        val last = recentDay(3, days)
        val user = trackedUsers((u(4) * trackedUsers.size).toInt.min(trackedUsers.size - 1))
        DrillRaw(user, (last - days + 1) * DayMs, (last + 1) * DayMs - SliceMs)
      case _ =>
        val endMs = (recentDay(3, 1) + 1) * DayMs - (u(4) * 12).toLong * HourMs
        SqlWindow(endMs - 12 * HourMs, endMs)
    }
  }
}
