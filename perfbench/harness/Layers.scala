package perfbench

import scala.jdk.CollectionConverters._

import graft.TimeSeriesService

/** Per-layer metric names, `<layer>.<metric>[.<request kind>]`. Every
  * traced run reports the whole set; a layer a workload leaves idle
  * reads 0 (no stream runs on `dashboard`, no drill read on `ingest`). */
object Layers {
  type Metrics = Map[String, (Double, String)]

  val Tiers: Seq[String] = Seq("rollup-day", "rollup-slice", "raw-scan")

  /** Read-path layers per request kind, from the traced requests. */
  def reads(t: Tracer): Metrics = Request.Kinds.flatMap { kind =>
    val ops = t.ops.values.asScala.filter(_.kind == kind).toSeq
    def med(f: Tracer.OpStats => Double) = Stats.median(ops.map(f))
    def avg(f: Tracer.OpStats => Double) = Stats.mean(ops.map(f))
    val scanned = ops.map(_.rowsScanned).sum.toDouble
    val results = ops.map(_.resultRows).sum.toDouble
    Seq(
      s"service.build_ms.$kind" -> (med(_.spanMs("service")), "ms"),
      s"plans.plan_ms.$kind" -> (med(_.spanMs("plan")), "ms"),
      s"plans.queries.$kind" -> (avg(_.executions.size.toDouble), "count"),
      s"operators.exec_ms.$kind" -> (med(_.spanMs("collect")), "ms"),
      s"operators.jobs.$kind" -> (avg(_.jobs.toDouble), "count"),
      s"operators.tasks.$kind" -> (avg(_.tasks.toDouble), "count"),
      s"operators.executor_cpu_ms.$kind" -> (avg(_.cpuNs / 1e6), "ms"),
      s"operators.driver_gap_ms.$kind" -> (med(_.gapMs("collect")), "ms"),
      s"sources.files_read.$kind" -> (avg(_.filesRead.toDouble), "count"),
      s"sources.bytes_read.$kind" -> (avg(_.bytesRead.toDouble), "B"),
      s"sources.rows_per_result_row.$kind" ->
        (if (results > 0) scanned / results else 0.0, "ratio"))
  }.toMap

  /** Share of served reads per tier, from the services' own read logs
    * (the useful-outcome ratio of routing). */
  def tierShares(svcs: Seq[TimeSeriesService]): Metrics = {
    val counts = svcs.flatMap(_.workloadProfile().collect())
      .map(r => r.getAs[String]("tier") -> r.getAs[Long]("n_reads"))
      .groupMapReduce(_._1)(_._2)(_ + _)
    val total = counts.values.sum.toDouble
    Tiers.map(tier => s"service.tier_share.$tier" ->
      (if (total > 0) counts.getOrElse(tier, 0L) / total else 0.0, "ratio")).toMap
  }

  /** Tracing overhead inside one traced run: median latency of traced
    * requests over that of untraced ones, per kind, averaged over kinds
    * with both. */
  def overhead(samples: Seq[Sample]): Metrics = {
    val ok = samples.filter(_.error == null)
    val ratios = ok.groupBy(_.req.kind).values.flatMap { xs =>
      val (tr, un) = xs.partition(_.traced)
      if (tr.isEmpty || un.isEmpty) None
      else Some(Stats.median(tr.map(_.ns.toDouble)) / Stats.median(un.map(_.ns.toDouble)))
    }
    Map("bench.trace_overhead_pct" ->
      (if (ratios.isEmpty) 0.0 else (Stats.mean(ratios.toSeq) - 1.0) * 100.0, "%"))
  }

  /** Write-path layers of the streaming loop; all 0 when idle. */
  final case class WritePath(triggerMs: Seq[Double] = Nil, addBatchMs: Seq[Double] = Nil,
      walCommitMs: Seq[Double] = Nil, planningMs: Seq[Double] = Nil,
      ingestBytesPerEvent: Seq[Double] = Nil, refreshMs: Seq[Double] = Nil,
      refreshJobs: Seq[Double] = Nil, compactMs: Seq[Double] = Nil, storeFiles: Long = 0L) {
    def metrics: Metrics = Map(
      "streaming.trigger_ms" -> (Stats.median(triggerMs), "ms"),
      "streaming.add_batch_ms" -> (Stats.median(addBatchMs), "ms"),
      "streaming.wal_commit_ms" -> (Stats.median(walCommitMs), "ms"),
      "streaming.query_planning_ms" -> (Stats.median(planningMs), "ms"),
      "service.ingest_bytes_per_event" -> (Stats.median(ingestBytesPerEvent), "B"),
      "operators.refresh_ms" -> (Stats.median(refreshMs), "ms"),
      "operators.refresh_jobs" -> (Stats.mean(refreshJobs), "count"),
      "service.compact_ms" -> (Stats.median(compactMs), "ms"),
      "sources.store_files" -> (storeFiles.toDouble, "count"))
  }
}
