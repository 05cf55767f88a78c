package perfbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQuery

import graft.TimeSeriesService
import graft.model.Step
import graft.sources.EventSource
import graft.sql.PipelineViews
import graft.streaming.StreamingIngest

/** `ingest`: a single-thread closed loop of micro-batches. Each step lands
  * one seeded batch file, lets the long-running stream ingest it, refreshes
  * the rollups over the batch's window, verifies the newest hours and
  * serves a few dashboard reads; every [[CompactEvery]]-th step then
  * compacts the event store and retires the old directory. The loop always
  * ends on a whole compaction cycle so every run carries the same share of
  * compaction work. One untimed step, with its compaction, runs before the
  * loop, so the stream's first batch and the first compaction are paid
  * outside it. */
object Ingest {
  val HistoryDays = 3
  val HistoryEvents = 50000L
  val BatchEvents = 5000L
  val BatchSpanMs: Long = Gen.HourMs
  val CompactEvery = 2
  /** Measured batches a run lands: at least four, so every read kind is
    * served eight times (four traced, four untraced in the traced run),
    * and at most [[MaxBatches]]. */
  val MinBatches = 4
  val MaxBatches = 10
  /** Batch files staged: the untimed first step's and the loop's. */
  val Staged: Int = MaxBatches + 1
  /** Reads beside the writes, on the request counter (the one fact this
    * workload keeps rollups for): [[ReadCycles]] whole cycles of the mix
    * per step. */
  val Mix: Seq[(String, Double)] =
    Seq("tile_hour" -> 1.0, "tile_day" -> 1.0, "sql_window" -> 1.0)
  val ReadCycles = 2

  def run(ctx: Context): Outcome = {
    import ctx._
    val histStart = Gen.HistoryEndMs - HistoryDays * Gen.DayMs
    val staging = path("staging")

    val truth = new Truth(histStart,
      (HistoryDays + 1) * Gen.SlicesPerDay + Staged * (BatchSpanMs / Gen.SliceMs).toInt,
      Set.empty)
    var i = 0L
    while (i < HistoryEvents) {
      truth.add(Gen.event(seed, 0L, i, histStart, HistoryDays * Gen.DayMs, late = false))
      i += 1
    }

    def gen(client: Int) =
      new RequestGen(seed, client, histStart, Gen.HistoryEndMs, Mix, Seq(0), IndexedSeq(0))
    val probes = firstOfEachKind(gen(99))
    def install(svc: TimeSeriesService): Unit = PipelineViews.installTimeseriesWindow(spark,
      svc, "requests", "endpoint", Map("region" -> None), Step.Hour, name = Request.SqlFunction)

    // one set-up of the served store: the history, untagged so stream
    // batch ids never meet its ingest, the `requests` rollup, the SQL
    // window function, the routing guard and the long-running stream over
    // an empty landing directory
    final case class Built(svc: TimeSeriesService, dir: String, landing: File,
        query: StreamingQuery, loadS: Double, setupS: Double)
    def build(k: Int): Built = {
      val t0 = System.nanoTime()
      val dir = path(s"build-$k")
      val svc = newService(Seq(0))
      svc.attachEventStore(s"$dir/store-0")
      // one partition: one history file per day, as a compacted store has
      svc.ingest(Gen.history(spark, seed, HistoryEvents, histStart,
        HistoryDays * Gen.DayMs, 1))
      svc.materializeRollups(s"$dir/rollups")
      install(svc)
      val loadS = (System.nanoTime() - t0) / 1e9
      guardRoutes(svc, probes)
      val landing = new File(s"$dir/landing")
      landing.mkdirs()
      val query = StreamingIngest.foreachBatchInto(EventSource.stream(spark, landing.getPath), svc)
        .option("checkpointLocation", s"$dir/checkpoint")
        .queryName(s"perfbench_ingest_$k")
        .start()
      Built(svc, dir, landing, query, loadS, (System.nanoTime() - t0) / 1e9)
    }
    // every batch file, staged once, after the first set-up has warmed the
    // JVM: one file per batch
    var stageS = 0.0
    val built = (1 to SetupRepeats).map { k =>
      val b = build(k)
      if (k < SetupRepeats) b.query.stop()
      if (k == 1) {
        val stage0 = System.nanoTime()
        Gen.batches(spark, seed, Staged, BatchEvents, Gen.HistoryEndMs, BatchSpanMs, cores)
          .repartition(col("batch")).write.partitionBy("batch").parquet(staging)
        stageS = (System.nanoTime() - stage0) / 1e9
      }
      b
    }
    val Built(svc, dir, landing, query, _, _) = built.last
    val rollups = s"$dir/rollups"
    var store = s"$dir/store-0"
    var generation = 0

    val write = new WriteStats
    val samples = mutable.ArrayBuffer.empty[Sample]
    val verifies = mutable.ArrayBuffer.empty[Sample]
    val visibleMs = mutable.ArrayBuffer.empty[Double]
    var failed = 0L
    var attempted = 0L

    def traced[T](kind: String, measured: Boolean)(f: => T): (T, Long) =
      tracer.filter(_ => measured) match {
        case Some(t) =>
          val op = t.newOp(kind)
          val s = System.nanoTime()
          (t.span(op, kind)(f), System.nanoTime() - s)
        case None =>
          val s = System.nanoTime()
          (f, System.nanoTime() - s)
      }

    /** One micro-batch through the whole write path, then the verifying
      * read that must count it, the dashboard reads and, when `compact`,
      * the compaction. Answers are checked in every step; timings are
      * kept only when `measured`. */
    def step(b: Int, gen: RequestGen, measured: Boolean, compact: Boolean): Unit = {
      val step0 = System.nanoTime()
      var minMs = Long.MaxValue
      var maxMs = Long.MinValue
      var j = 0L
      while (j < BatchEvents) {
        val e = Gen.batchEvent(seed, b, j, Gen.HistoryEndMs, BatchSpanMs)
        truth.add(e)
        minMs = math.min(minMs, e.tsMs); maxMs = math.max(maxMs, e.tsMs)
        j += 1
      }
      val src = new File(staging, s"batch=$b").listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val storeBytes0 = if (tracer.isDefined && measured) Stats.bytesUnder(store) else 0L
      val land = System.nanoTime()
      Files.move(src.toPath, new File(landing, s"batch-$b.parquet").toPath,
        StandardCopyOption.ATOMIC_MOVE)
      query.processAllAvailable()
      if (tracer.isDefined && measured)
        write.ingestBytesPerEvent += (Stats.bytesUnder(store) - storeBytes0).toDouble / BatchEvents
      val (_, refreshNs) = traced("refresh", measured) {
        svc.refreshRollups(rollups, Request.ts(minMs), Request.ts(maxMs))
        install(svc)
      }
      val newest = Gen.HistoryEndMs + b * BatchSpanMs
      val v = execute(svc, Request.Newest(newest - 3 * Gen.HourMs, newest), traced = false)
      val visible = (System.nanoTime() - land) / 1e6
      attempted += 1
      if (!check(v, truth)) failed += 1
      else if (measured) visibleMs += visible
      (1 to ReadCycles * gen.cycle).foreach { _ =>
        val s = if (measured) serve(svc, gen.next()) else execute(svc, gen.next(), traced = false)
        attempted += 1
        if (!check(s, truth)) failed += 1
        if (measured) samples += s
      }
      if (compact) {
        generation += 1
        val next = s"$dir/store-$generation"
        val old = store
        val (_, ns) = traced("compact", measured) {
          svc.compactEventStore(next)
          svc.retireStoreDir(old)
        }
        store = next
        if (measured) write.compactMs += ns / 1e6
      }
      if (measured) {
        verifies += v
        write.refreshMs += refreshNs / 1e6
        write.stepMs += (System.nanoTime() - step0) / 1e6
      }
    }

    // the untimed first step: batch 1, with a compaction
    step(1, gen(1), measured = false, compact = true)
    svc.resetWorkloadLog()
    val progressBefore = tracer.map(_.progress.size).getOrElse(0)

    // the measured loop: whole compaction cycles until the time is up
    val deadline = System.nanoTime() + args.seconds * 1000000000L
    val loop0 = System.nanoTime()
    var batches = 0
    val loopGen = gen(0)
    do {
      batches += 1
      step(batches + 1, loopGen, measured = true, compact = batches % CompactEvery == 0)
    } while ((System.nanoTime() < deadline || batches % CompactEvery != 0 ||
      batches < MinBatches) && batches < MaxBatches)
    val loopS = (System.nanoTime() - loop0) / 1e9
    query.stop()
    heap.collect()

    val reads = (verifies ++ samples).filter(_.error == null).map(_.ns / 1e6).toSeq
    val metrics: Layers.Metrics = tracer match {
      case None => Map(
        "setup_s" -> (Stats.median(built.map(_.setupS)), "s"),
        "read_p50_ms" -> (Stats.pct(reads, 50), "ms"),
        "reads_per_s" -> (reads.size / loopS, "1/s"),
        "ingest_events_per_s" -> (batches * BatchEvents / loopS, "events/s"),
        "visible_p50_ms" -> (Stats.median(visibleMs.toSeq), "ms"),
        "stored_bytes_per_event" ->
          (Stats.bytesUnder(store, rollups).toDouble / truth.events, "B"),
        "heap_peak_mb" -> (heap.peakMb, "MB"))
      case Some(t) =>
        t.drain()
        val progress = t.progress.asScala.drop(progressBefore).map(_.progress)
          .filter(_.numInputRows > 0).toSeq
        def dur(k: String) = progress.flatMap(p => Option(p.durationMs.get(k)).map(_.toDouble))
        val refreshOps = t.ops.values.asScala.filter(_.kind == "refresh").toSeq
        Layers.reads(t) ++ Layers.tierShares(Seq(svc)) ++ Layers.overhead(samples.toSeq) +
          ("bench.read_p95_ms" -> (Stats.pct(reads, 95), "ms")) ++ Layers.WritePath(
            triggerMs = dur("triggerExecution"), addBatchMs = dur("addBatch"),
            walCommitMs = dur("walCommit"), planningMs = dur("queryPlanning"),
            ingestBytesPerEvent = write.ingestBytesPerEvent.toSeq,
            refreshMs = write.refreshMs.toSeq,
            refreshJobs = refreshOps.map(_.jobs.toDouble),
            compactMs = write.compactMs.toSeq,
            storeFiles = Stats.parquetFiles(store)).metrics
    }
    Outcome(attempted, failed, metrics, Map(
      "workload" -> "ingest", "history_events" -> HistoryEvents,
      "batch_events" -> BatchEvents, "batches" -> batches, "loop_s" -> loopS,
      "setup_s" -> built.map(_.setupS), "load_s" -> built.map(_.loadS),
      "stage_s" -> stageS, "reads" -> reads.size,
      "step_ms" -> write.stepMs.toSeq, "refresh_ms" -> write.refreshMs.toSeq,
      "compact_ms" -> write.compactMs.toSeq, "visible_ms" -> visibleMs.toSeq,
      "p50_ms_by_kind" -> (verifies ++ samples).filter(_.error == null).groupBy(_.req.kind)
        .map { case (k, v) => k -> Stats.median(v.map(_.ns / 1e6).toSeq) },
      "reads_by_kind" -> samples.groupBy(_.req.kind).map { case (k, v) => k -> v.size }))
  }

  private final class WriteStats {
    val ingestBytesPerEvent = mutable.ArrayBuffer.empty[Double]
    val refreshMs = mutable.ArrayBuffer.empty[Double]
    val compactMs = mutable.ArrayBuffer.empty[Double]
    val stepMs = mutable.ArrayBuffer.empty[Double]
  }
}
