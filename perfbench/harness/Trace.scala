package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.streaming.StreamingQueryListener

/** In-memory tracing for the traced run. Every call the benchmark makes
  * into the engine is one operation (`op`) with its own id, carried to
  * Spark as a thread-local job property so the listeners below can
  * charge jobs, tasks and SQL executions to it (a
  * `QueryExecutionListener` is not used: its callbacks run on the listener
  * bus with no link back to the request). Spans are kept
  * in memory and written out when the run ends. */
final class Tracer(spark: SparkSession) {
  import Tracer._

  private val origin = System.nanoTime()
  private val nextOp = new AtomicLong
  val spans = new ConcurrentLinkedQueue[Span]
  val ops = new ConcurrentHashMap[Long, OpStats]
  private val jobOp = new ConcurrentHashMap[Int, (Long, Long)]
  private val stageOp = new ConcurrentHashMap[Int, Long]
  val progress = new ConcurrentLinkedQueue[StreamingQueryListener.QueryProgressEvent]
  @volatile private var drainLatch: Option[(Long, CountDownLatch)] = None

  def newOp(kind: String): Long = {
    val id = nextOp.incrementAndGet()
    ops.put(id, new OpStats(kind))
    id
  }

  /** Runs `f` with Spark work charged to `op`, recording a span. */
  def span[T](op: Long, name: String, parent: String = "")(f: => T): T = {
    val prev = spark.sparkContext.getLocalProperty(OpKey)
    spark.sparkContext.setLocalProperty(OpKey, op.toString)
    val s = System.nanoTime()
    val wall0 = System.currentTimeMillis()
    try f
    finally {
      val e = System.nanoTime()
      spans.add(Span(op, ops.get(op).kind, name, parent, s - origin, e - origin))
      val st = ops.get(op)
      st.synchronized { st.windows += ((name, wall0, System.currentTimeMillis(), e - s)) }
      spark.sparkContext.setLocalProperty(OpKey, prev)
    }
  }

  /** Scan metrics of an executed plan: files read and rows scanned. */
  def recordScans(op: Long, plan: SparkPlan, resultRows: Long): Unit = {
    val scans = ScanCollector.scans(plan)
    val st = ops.get(op)
    st.synchronized {
      st.filesRead += scans.map(s => metric(s, "numFiles")).sum
      st.rowsScanned += scans.map(s => metric(s, "numOutputRows")).sum
      st.resultRows += resultRows
    }
  }

  private def metric(s: FileSourceScanExec, name: String): Long =
    s.metrics.get(name).map(_.value).getOrElse(0L)

  private object Jobs extends SparkListener {
    private def opOf(props: java.util.Properties): Option[Long] =
      Option(props).flatMap(p => Option(p.getProperty(OpKey))).map(_.toLong)

    override def onJobStart(e: SparkListenerJobStart): Unit = opOf(e.properties).foreach { op =>
      jobOp.put(e.jobId, (op, e.time))
      e.stageIds.foreach(stageOp.put(_, op))
      val exec = Option(e.properties.getProperty("spark.sql.execution.id")).map(_.toLong)
      Option(ops.get(op)).foreach(st => st.synchronized {
        st.jobs += 1
        st.executions ++= exec
      })
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = Option(jobOp.remove(e.jobId)).foreach {
      case (op, start) =>
        Option(ops.get(op)).foreach(st => st.synchronized { st.jobSpans += ((start, e.time)) })
        drainLatch.foreach { case (d, latch) => if (d == op) latch.countDown() }
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      Option(stageOp.get(e.stageId)).flatMap(op => Option(ops.get(op))).filter(_ => m != null)
        .foreach { st =>
          st.synchronized {
            st.tasks += 1
            st.cpuNs += m.executorCpuTime
            st.bytesRead += m.inputMetrics.bytesRead
          }
        }
    }
  }

  private object Streams extends StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.add(e)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  spark.sparkContext.addSparkListener(Jobs)
  spark.streams.addListener(Streams)

  /** Waits until the listener bus has delivered every event posted
    * before this call (a marker job's end arrives after them). */
  def drain(): Unit = {
    val op = newOp("__drain")
    val latch = new CountDownLatch(1)
    drainLatch = Some((op, latch))
    span(op, "drain")(spark.sparkContext.parallelize(Seq(1), 1).count())
    latch.await(30, TimeUnit.SECONDS)
  }

  def detach(): Unit = {
    spark.sparkContext.removeSparkListener(Jobs)
    spark.streams.removeListener(Streams)
  }

  /** Spans as JSON lines for the trace file. */
  def spanJson: Iterator[String] = spans.iterator.asScala.map(s => Json.obj(
    "op" -> s.op, "kind" -> s.kind, "name" -> s.name, "parent" -> s.parent,
    "start_us" -> s.startNs / 1000, "end_us" -> s.endNs / 1000))
}

object Tracer {
  val OpKey = "perfbench.op"

  final case class Span(op: Long, kind: String, name: String, parent: String,
      startNs: Long, endNs: Long)

  /** Counts charged to one operation. */
  final class OpStats(val kind: String) {
    var jobs = 0L
    var tasks = 0L
    var cpuNs = 0L
    var bytesRead = 0L
    /** SQL executions whose jobs ran for this op. */
    val executions = mutable.Set.empty[Long]
    var filesRead = 0L
    var rowsScanned = 0L
    var resultRows = 0L
    val jobSpans = mutable.ArrayBuffer.empty[(Long, Long)]
    /** (span name, wall start ms, wall end ms, duration ns) of this
      * op's spans. */
    val windows = mutable.ArrayBuffer.empty[(String, Long, Long, Long)]

    def spanMs(name: String): Double =
      windows.filter(_._1 == name).map(_._4 / 1e6).sum

    /** Wall time of span `name` not covered by any of this op's jobs
      * (job times are wall-clock milliseconds). */
    def gapMs(name: String): Double = windows.filter(_._1 == name).map { case (_, a, b, _) =>
      val clipped = jobSpans.map { case (s, e) => (math.max(s, a), math.min(e, b)) }
        .filter { case (s, e) => e > s }.sortBy(_._1)
      var covered = 0L
      var end = a
      clipped.foreach { case (s, e) =>
        val s2 = math.max(s, end)
        if (e > s2) { covered += e - s2; end = e }
      }
      (b - a - covered).toDouble
    }.sum
  }

  private object ScanCollector extends AdaptiveSparkPlanHelper {
    def scans(plan: SparkPlan): Seq[FileSourceScanExec] =
      collectWithSubqueries(plan) { case s: FileSourceScanExec => s }
  }
}
