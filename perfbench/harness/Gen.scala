package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded event generator. Every event is a pure function of
  * (seed, stream, index), so the engine receives Spark frames built by
  * `spark.range(...).mapPartitions(...)` while [[Truth]] replays the very
  * same function on the driver: the expected answers never pass through
  * the engine under test.
  *
  * Shape: three facts (a request counter, a latency average and a
  * latency histogram), a Zipf-skewed `region` with a Zipf-skewed
  * `endpoint` under it (the grouping hierarchy), and a high-cardinality
  * `user` whose rollup would not compact its events. */
object Gen {
  val Regions: Array[String] = Array("us", "eu", "ap", "sa")
  val EndpointsPerRegion = 6
  val Series: Int = Regions.length * EndpointsPerRegion
  val Users = 100000
  /** Users 0 until [[HeavyUsers]] send a tenth of all events; the drill
    * reads target them so their answers are not empty. */
  val HeavyUsers = 64
  val SliceMinutes = 15
  val SliceMs: Long = SliceMinutes * 60000L
  val HourMs = 3600000L
  val DayMs = 86400000L
  val SlicesPerDay = 96
  val HistLo = 0L
  val HistHi = 1000L
  val HistStep = 125L
  val HistN: Int = ((HistHi - HistLo) / HistStep).toInt
  val Facts: Array[String] = Array("requests", "latency_avg", "latency_hist")
  /** End of the generated history; streams continue after it. */
  val HistoryEndMs: Long = java.time.Instant.parse("2026-01-04T00:00:00Z").toEpochMilli
  val LateShare = 0.05
  val LateMaxMs: Long = 2 * DayMs

  def endpointName(series: Int): String =
    s"${Regions(series / EndpointsPerRegion)}/e${series % EndpointsPerRegion}"

  def mix64(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def unit(h: Long): Double = (h >>> 11) * (1.0 / (1L << 53))

  private def zipfCdf(n: Int, s: Double): Array[Double] = {
    val w = Array.tabulate(n)(k => 1.0 / math.pow(k + 1.0, s))
    w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum)
  }
  private val regionCdf = zipfCdf(Regions.length, 1.1)
  private val endpointCdf = zipfCdf(EndpointsPerRegion, 1.0)

  private def pick(cdf: Array[Double], u: Double): Int = {
    var k = 0
    while (k < cdf.length - 1 && u >= cdf(k)) k += 1
    k
  }

  /** One event: (fact index, ts millis, value, series index, user). */
  final case class Ev(fact: Int, tsMs: Long, value: Long, series: Int, user: Int)

  /** Event `i` of `stream` (0 = history), placed uniformly in
    * [loMs, loMs + spanMs); when `late` a share arrives up to
    * [[LateMaxMs]] before `loMs`. */
  def event(seed: Long, stream: Long, i: Long, loMs: Long, spanMs: Long,
      late: Boolean): Ev = {
    val h = mix64(mix64(seed) ^ (stream * 0x632BE59BD9B4E019L) ^ i)
    def part(k: Int): Double = unit(mix64(h + k))
    val u0 = part(0)
    val fact = if (u0 < 0.5) 0 else if (u0 < 0.75) 1 else 2
    var ts = loMs + (part(1) * spanMs).toLong
    if (late && part(2) < LateShare) ts -= (part(3) * LateMaxMs).toLong
    val series = pick(regionCdf, part(4)) * EndpointsPerRegion +
      pick(endpointCdf, part(5))
    val user =
      if (part(6) < 0.1) (mix64(h + 9) >>> 1) % HeavyUsers
      else HeavyUsers + (mix64(h + 9) >>> 1) % (Users - HeavyUsers)
    val value =
      if (fact == 0) 1L + (mix64(h + 7) >>> 1) % 3
      else math.min(5000L, (-math.log(1.0 - part(8)) * 180.0).toLong) + 1L
    Ev(fact, ts, value, series, user.toInt)
  }

  /** The history as a canonical-schema frame
    * `(fact, ts, value, categories)`. */
  def history(spark: SparkSession, seed: Long, n: Long, loMs: Long,
      spanMs: Long, partitions: Int): DataFrame = {
    import spark.implicits._
    canonical(spark.range(0L, n, 1L, partitions).mapPartitions { it =>
      it.map { i =>
        val e = event(seed, 0L, i.longValue, loMs, spanMs, late = false)
        (0L, e.fact, e.tsMs, e.value, e.series, e.user)
      }
    }.toDF("batch", "f", "t", "value", "s", "u")).drop("batch")
  }

  /** Event `i` of micro-batch `b` (1-based), placed in
    * [startMs + (b-1)·spanMs, startMs + b·spanMs), some late. */
  def batchEvent(seed: Long, b: Long, i: Long, startMs: Long, spanMs: Long): Ev =
    event(seed, b, i, startMs + (b - 1) * spanMs, spanMs, late = true)

  /** Batches 1..nBatches in one frame with a `batch` column. */
  def batches(spark: SparkSession, seed: Long, nBatches: Int, perBatch: Long,
      startMs: Long, spanMs: Long, partitions: Int): DataFrame = {
    import spark.implicits._
    canonical(spark.range(0L, nBatches * perBatch, 1L, partitions).mapPartitions { it =>
      it.map { i =>
        val b = 1L + i.longValue / perBatch
        val e = batchEvent(seed, b, i.longValue % perBatch, startMs, spanMs)
        (b, e.fact, e.tsMs, e.value, e.series, e.user)
      }
    }.toDF("batch", "f", "t", "value", "s", "u"))
  }

  private def canonical(raw: DataFrame): DataFrame = {
    val facts = typedLit(Facts.toSeq)
    val regions = typedLit(Regions.toSeq)
    val region = element_at(regions,
      (col("s") / EndpointsPerRegion).cast("int") + 1)
    raw.select(
      col("batch"),
      element_at(facts, col("f") + 1).as("fact"),
      timestamp_millis(col("t")).as("ts"),
      col("value"),
      map(lit("region"), region,
        lit("endpoint"), concat(region, lit("/e"),
          (col("s") % EndpointsPerRegion).cast("string")),
        lit("user"), concat(lit("u"), col("u").cast("string")))
        .as("categories"))
  }
}
