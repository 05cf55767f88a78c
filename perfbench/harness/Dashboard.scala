package perfbench

import scala.collection.mutable

import graft.TimeSeriesService
import graft.model.Step
import graft.sql.PipelineViews

/** `dashboard`: a read-only closed loop of [[Clients]] client threads over
  * a bulk-loaded history. Routing, planning and rollup serving carry the
  * work; the write path is idle while it is measured.
  *
  * A run is [[Context.SetupRepeats]] rounds, each a fresh set-up of the
  * served store followed by a share of the measured loop on it, so every
  * metric's samples are spread over the whole run rather than bunched in
  * one stretch of it. */
object Dashboard {
  val HistoryDays = 14
  val HistoryEvents = 30000L
  val Clients = 2
  /** Requests per kind in each cycle of 10. */
  val Mix: Seq[(String, Double)] = Seq("tile_hour" -> 3.0, "tile_day" -> 2.0,
    "board_multi" -> 2.0, "hist_pct" -> 1.0, "drill_raw" -> 1.0, "sql_window" -> 1.0)

  def run(ctx: Context): Outcome = {
    import ctx._
    val histStart = Gen.HistoryEndMs - HistoryDays * Gen.DayMs
    val tracked = (0 until Gen.HeavyUsers).toIndexedSeq
    val probes = firstOfEachKind(
      new RequestGen(seed, 99, histStart, Gen.HistoryEndMs, Mix, Seq(0, 1), tracked))
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3

    // one set-up of the served store: the bulk load of the history into an
    // attached store, the endpoint rollups, the SQL window function, the
    // first read of the newest hours and the routing guard; `user` is
    // defined after the rollups and so stays on raw scans, as a dimension
    // whose rollup would not compact its events
    final case class Built(svc: TimeSeriesService, store: String, rollups: String,
        loadS: Double, visibleMs: Double, setupS: Double, verify: Sample)
    def build(k: Int): Built = {
      val load0 = System.nanoTime()
      val svc = newService(Gen.Facts.indices)
      val store = path(s"store-$k")
      val rollups = path(s"rollups-$k")
      svc.attachEventStore(store)
      // one partition: one history file per day, as a compacted store has
      svc.ingest(Gen.history(spark, seed, HistoryEvents, histStart,
        HistoryDays * Gen.DayMs, 1))
      svc.materializeRollups(rollups)
      svc.defineDimension("user", facts = Set("requests"))
      PipelineViews.installTimeseriesWindow(spark, svc, "requests", "endpoint",
        Map("region" -> None), Step.Hour, name = Request.SqlFunction)
      val loadS = (System.nanoTime() - load0) / 1e9
      val verify = execute(svc, Request.Newest(Gen.HistoryEndMs - 3 * Gen.HourMs,
        Gen.HistoryEndMs), traced = false)
      val visibleMs = (System.nanoTime() - load0) / 1e6
      guardRoutes(svc, probes)
      Built(svc, store, rollups, loadS, visibleMs, (System.nanoTime() - load0) / 1e9, verify)
    }

    // one round's share of the closed loop: each client runs whole request
    // cycles, at least one, until the round's time is up, so every round
    // serves the exact mix
    val gens = (0 until Clients).map(c =>
      new RequestGen(seed, c, histStart, Gen.HistoryEndMs, Mix, Seq(0, 1), tracked))
    val roundNs = args.seconds * 1000000000L / SetupRepeats
    def loop(svc: TimeSeriesService): (Seq[Sample], Double) = {
      val deadline = System.nanoTime() + roundNs
      val perClient = Array.fill(Clients)(mutable.ArrayBuffer.empty[Sample])
      val loop0 = System.nanoTime()
      val threads = (0 until Clients).map { c =>
        val t = new Thread(() => {
          val gen = gens(c)
          var i = 0
          while (i == 0 || i % gen.cycle != 0 || System.nanoTime() < deadline) {
            perClient(c) += serve(svc, gen.next())
            i += 1
          }
        })
        t.start()
        t
      }
      threads.foreach(_.join())
      (perClient.flatten.toSeq, (System.nanoTime() - loop0) / 1e9)
    }

    // the rounds
    final case class Round(built: Built, samples: Seq[Sample], loopS: Double)
    val rounds = (1 to SetupRepeats).map { k =>
      val b = build(k)
      b.svc.resetWorkloadLog()
      val (samples, loopS) = loop(b.svc)
      Round(b, samples, loopS)
    }
    heap.collect()
    val built = rounds.map(_.built)
    val served = built.last
    val samples = rounds.flatMap(_.samples)

    // answers, checked against the generator's own aggregation
    val truth = new Truth(histStart, HistoryDays * Gen.SlicesPerDay, tracked.toSet)
    var i = 0L
    while (i < HistoryEvents) {
      truth.add(Gen.event(seed, 0L, i, histStart, HistoryDays * Gen.DayMs, late = false))
      i += 1
    }
    val verifiesOk = built.count(b => check(b.verify, truth))
    val latMs = samples.filter(s => check(s, truth)).map(_.ns / 1e6)
    val attempted = built.size + samples.size
    val failed = attempted - verifiesOk - latMs.size
    def med(f: Built => Double) = Stats.median(built.map(f))

    val metrics: Layers.Metrics = tracer match {
      case None => Map(
        "setup_s" -> (med(_.setupS), "s"),
        "read_p50_ms" -> (Stats.pct(latMs, 50), "ms"),
        "reads_per_s" ->
          (latMs.size / rounds.map(_.loopS).sum, "1/s"),
        "ingest_events_per_s" -> (HistoryEvents / med(_.loadS), "events/s"),
        "visible_p50_ms" -> (med(_.visibleMs), "ms"),
        "stored_bytes_per_event" ->
          (Stats.bytesUnder(served.store, served.rollups).toDouble / HistoryEvents, "B"),
        "heap_peak_mb" -> (heap.peakMb, "MB"))
      case Some(t) =>
        t.drain()
        Layers.reads(t) ++ Layers.tierShares(built.map(_.svc)) ++ Layers.overhead(samples) ++
          Layers.WritePath().metrics + ("bench.read_p95_ms" -> (Stats.pct(latMs, 95), "ms"))
    }
    Outcome(attempted.toLong, failed.toLong, metrics, Map(
      "workload" -> "dashboard", "history_events" -> HistoryEvents,
      "history_days" -> HistoryDays, "clients" -> Clients,
      "loop_s" -> rounds.map(_.loopS), "reads_per_round" -> rounds.map(_.samples.size),
      "session_s" -> sessionS, "setup_s" -> built.map(_.setupS), "load_s" -> built.map(_.loadS),
      "visible_ms" -> built.map(_.visibleMs),
      "reads" -> samples.size,
      "p50_ms_by_kind" -> samples.filter(_.error == null).groupBy(_.req.kind)
        .map { case (k, v) => k -> Stats.median(v.map(_.ns / 1e6)) },
      "reads_by_kind" -> samples.groupBy(_.req.kind).map { case (k, v) => k -> v.size }))
  }
}
