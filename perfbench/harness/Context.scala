package perfbench

import java.io.File
import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}

import graft.TimeSeriesService
import graft.model.{FactType, Step}

/** One executed request: latency (ns), its rows, or the error. */
final case class Sample(req: Request, ns: Long, rows: Array[Row], error: Throwable,
    traced: Boolean)

/** State and helpers shared by the workloads. */
final class Context(val spark: SparkSession, val args: Main.Args, val jvmStartMs: Long,
    val cores: Int) {
  val seed: Long = args.seed
  val tracer: Option[Tracer] = if (args.trace) Some(new Tracer(spark)) else None
  val heap = new HeapWatch

  def path(name: String): String = new File(args.work, name).getPath

  /** Times each workload sets up its served store, each into fresh
    * directories; `setup_s` is the median. */
  val SetupRepeats = 3

  private val servedByKind = new ConcurrentHashMap[String, AtomicLong]

  /** Serves one read; in the traced run every other read of each kind is
    * traced, so a kind served four times has two traced and two untraced
    * samples. */
  def serve(svc: TimeSeriesService, req: Request): Sample = {
    val n = servedByKind.computeIfAbsent(req.kind, _ => new AtomicLong).getAndIncrement()
    execute(svc, req, traced = tracer.isDefined && n % 2 == 0)
  }

  /** The benchmark catalog: the three facts, and `endpoint` grouped
    * under the group-only `region` tracking `tracked` (indexes into
    * [[Gen.Facts]]), so there is one rollup per tracked fact and
    * region-filtered reads route to it. */
  def newService(tracked: Seq[Int]): TimeSeriesService = {
    val svc = TimeSeriesService(spark)
    svc.defineFact("requests", FactType.Counter, slice = Gen.SliceMinutes)
    svc.defineFact("latency_avg", FactType.Average, slice = Gen.SliceMinutes)
    svc.defineFact("latency_hist", FactType.Histogram, slice = Gen.SliceMinutes,
      start = Some(Gen.HistLo), end = Some(Gen.HistHi), step = Some(Gen.HistStep))
    svc.defineDimension("region", groupOnly = true)
    svc.defineDimension("endpoint", groupedBy = Seq(Seq("region")),
      facts = tracked.map(Gen.Facts).toSet)
    svc
  }

  /** The first request of each kind `gen` makes (from a long prefix). */
  def firstOfEachKind(gen: RequestGen): Seq[Request] =
    Iterator.continually(gen.next()).take(10000).toSeq.groupBy(_.kind).values.map(_.head).toSeq

  /** Setup guard: every request kind must route to its intended tier,
    * or the run aborts before any timing. */
  def guardRoutes(svc: TimeSeriesService, samples: Seq[Request]): Unit = samples.foreach { r =>
    val (facts, dim, filters, s, f, step) = r.route
    val tiers = svc.explainRoute(facts, dim, filters, Request.ts(s), Request.ts(f), step)
      .collect().map(_.getAs[String]("tier")).toSet
    if (tiers != Set(r.tier)) throw new IllegalStateException(
      s"routing guard: ${r.kind} routes to ${tiers.mkString(",")}, expected ${r.tier}")
  }

  /** Runs one request; with `traced` its layers are recorded as spans. */
  def execute(svc: TimeSeriesService, req: Request, traced: Boolean): Sample = {
    val t0 = System.nanoTime()
    try {
      val rows = tracer.filter(_ => traced) match {
        case Some(t) =>
          val op = t.newOp(req.kind)
          t.span(op, "request") {
            val df = t.span(op, "service", "request")(req.frame(svc, spark))
            t.span(op, "plan", "request")(df.queryExecution.executedPlan)
            val rows = t.span(op, "collect", "request")(df.collect())
            t.recordScans(op, df.queryExecution.executedPlan, rows.length)
            rows
          }
        case None => req.frame(svc, spark).collect()
      }
      Sample(req, System.nanoTime() - t0, rows, null, traced)
    } catch {
      case e: Exception => Sample(req, System.nanoTime() - t0, null, e, traced)
    }
  }

  /** Whether a sample's rows equal the truth; logs the first mismatches. */
  private var logged = 0
  def check(s: Sample, truth: Truth): Boolean = {
    val ok = s.error == null && {
      val got = Request.render(s.rows, s.req.columns)
      val want = s.req.expected(truth)
      got == want || {
        if (logged < 3) {
          logged += 1
          System.err.println(s"perfbench: wrong answer for ${s.req}: got ${got.size} rows " +
            s"(${got.diff(want).take(3).mkString("; ")}), want ${want.size} " +
            s"(${want.diff(got).take(3).mkString("; ")})")
        }
        false
      }
    }
    if (s.error != null && logged < 3) {
      logged += 1
      System.err.println(s"perfbench: ${s.req} failed: ${s.error}")
    }
    ok
  }
}

object Stats {
  /** Linear-interpolated percentile, p in [0, 100]. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val v = xs.sorted
      val r = p / 100.0 * (v.size - 1)
      val lo = r.floor.toInt
      val hi = math.min(lo + 1, v.size - 1)
      v(lo) + (v(hi) - v(lo)) * (r - lo)
    }
  def median(xs: Seq[Double]): Double = pct(xs, 50)
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Bytes of every regular file under the given directories. */
  def bytesUnder(dirs: String*): Long = dirs.map(new File(_)).filter(_.exists).map { d =>
    java.nio.file.Files.walk(d.toPath).iterator.asScala
      .filter(p => java.nio.file.Files.isRegularFile(p)).map(p => java.nio.file.Files.size(p)).sum
  }.sum

  /** Parquet data files under a directory. */
  def parquetFiles(dir: String): Long = {
    val d = new File(dir)
    if (!d.exists) 0L
    else java.nio.file.Files.walk(d.toPath).iterator.asScala
      .count(p => p.getFileName.toString.endsWith(".parquet")).toLong
  }
}

/** Peak old-generation occupancy after garbage collection, read right
  * after full collections the benchmark forces at the end of the run, so
  * background collection timing does not move it. They are not forced
  * before or between measured stretches: what a forced collection frees
  * sends Spark's cleaner to work while the next stretch runs. */
final class HeapWatch {
  private val pools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(p => p.getType == MemoryType.HEAP && p.isCollectionUsageThresholdSupported &&
      (p.getName.contains("Old") || p.getName.contains("Tenured")))
  private var peak = 0L

  /** Full collections, then read the retained old generation. Spark
    * frees broadcast blocks (every file scan broadcasts its Hadoop
    * configuration) on its cleaner thread only after a collection finds
    * them unreachable, so one collection leaves a timing-dependent amount
    * of them behind; a few rounds apart let the cleaner catch up. */
  def collect(): Unit = {
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(250) }
    pools.foreach(p => Option(p.getCollectionUsage).foreach(u => peak = math.max(peak, u.getUsed)))
  }
  def peakMb: Double = peak / 1048576.0
}
