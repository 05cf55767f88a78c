package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Benchmark entry point, launched by `perfbench/run.py` with the engine
  * and this package on the classpath:
  *
  * {{{
  * perfbench.Main --workload dashboard|ingest --seed N --seconds S
  *                --trace 0|1 --work DIR --out FILE
  * }}}
  *
  * Writes one JSON object to `--out`: `correct`, `attempted`, `failed`,
  * `metrics` (end-to-end names untraced, per-layer names traced), the
  * `host` noise block and an `info` block. Exits non-zero on a setup
  * failure (including the routing guard). */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
      work: File, out: File)

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", new File(need("work")), new File(need("out")))
  }

  /** Fixed single-thread CPU probe (a deterministic xorshift fold), ms:
    * the faster of two passes, so a burst of this JVM's own background
    * work (JIT, GC, Spark shutdown) does not pass for host load. Stable
    * on an idle host; competing load inflates it. */
  def cpuProbeMs(): Double = math.min(probePass(), probePass())

  private def probePass(): Double = {
    var x = 0x9e3779b97f4a7c15L
    val t0 = System.nanoTime()
    var i = 0
    while (i < (1 << 26)) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    val dt = (System.nanoTime() - t0) / 1e6
    if (x == 42L) System.err.println("")
    dt
  }

  /** Whole-run garbage collection and JIT compilation totals. */
  def jvmInfo(): Map[String, Any] = {
    val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    Map("gc_count" -> gcs.map(_.getCollectionCount).sum, "gc_ms" -> gcs.map(_.getCollectionTime).sum,
      "jit_ms" -> ManagementFactory.getCompilationMXBean.getTotalCompilationTime)
  }

  def loadAvg(): Double = ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  def session(work: File, cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .appName("perfbench")
      .master(s"local[$cores]")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .config("spark.hadoop.hadoop.tmp.dir", new File(work, "hadoop").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(argv: Array[String]): Unit = {
    val code =
      try { run(parse(argv)); 0 }
      catch { case e: Throwable => e.printStackTrace(); 1 }
    sys.exit(code)
  }

  private def run(args: Args): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val probeStart = cpuProbeMs()
    val loadStart = loadAvg()
    val cores = math.min(4, Runtime.getRuntime.availableProcessors)
    args.work.mkdirs()
    val spark = session(args.work, cores)
    val ctx = new Context(spark, args, jvmStartMs, cores)
    val result = try args.workload match {
      case "dashboard" => Dashboard.run(ctx)
      case "ingest" => Ingest.run(ctx)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    } finally {
      ctx.tracer.foreach { t =>
        t.detach()
        Files.write(new File(args.out.getPath + ".spans.jsonl").toPath,
          t.spanJson.toSeq.asJava)
      }
      spark.stop()
    }
    val host = Json.obj(
      "load_start" -> loadStart, "load_end" -> loadAvg(),
      "probe_ms_start" -> probeStart, "probe_ms_end" -> cpuProbeMs(),
      "cores" -> Runtime.getRuntime.availableProcessors)
    val json = Json.obj(
      "correct" -> (result.failed == 0),
      "attempted" -> result.attempted,
      "failed" -> result.failed,
      "metrics" -> Json.Raw(Json.obj(result.metrics.toSeq.map { case (k, (v, unit)) =>
        k -> Json.Raw(Json.obj("value" -> v, "unit" -> unit)) }: _*)),
      "host" -> Json.Raw(host),
      "info" -> Json.Raw(Json.obj((result.info ++ jvmInfo()).toSeq: _*)))
    Files.write(args.out.toPath, json.getBytes(StandardCharsets.UTF_8))
  }
}

/** What a workload hands back: operation counts, named metrics
  * (value, unit) and free-form run facts for the report. */
final case class Outcome(attempted: Long, failed: Long,
    metrics: Map[String, (Double, String)], info: Map[String, Any])

/** Minimal JSON writer for the result file. */
object Json {
  final case class Raw(s: String)
  private def esc(s: String) =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def value(v: Any): String = v match {
    case Raw(s) => s
    case null => "null"
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case s: String => esc(s)
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x }: _*)
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => esc(other.toString)
  }
  def obj(kv: (String, Any)*): String =
    kv.map { case (k, v) => esc(k) + ":" + value(v) }.mkString("{", ",", "}")
}
