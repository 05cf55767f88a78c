package graft

import java.sql.Timestamp

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TimeKernel
import graft.model._
import graft.operators.{Rollups, Timeseries}

/** The engine's service facade — the reference's `TimeSeries` protocol
  * (`api.clj:1-47`) re-expressed Spark-first.
  *
  * Storage stance (SURVEY §4): compute-on-read. The write path appends
  * raw events (one row per event — atomic, idempotent-friendly, no
  * write-time fan-out); every query aggregates from raw events with a
  * single hash aggregation. Materialized rollups are an optional
  * optimization layered on top (see [[graft.operators.Rollups]] /
  * [[graft.streaming.StreamingIngest]]), not the source of truth —
  * the reference's table-per-(fact × dimension × path) mechanics
  * (`postgres/schema.clj:220-241`) are deliberately not reproduced.
  *
  * Canonical event schema: `(fact STRING, ts TIMESTAMP, value LONG,
  * categories MAP<STRING,STRING>)`.
  */
object TimeSeriesService {
  def apply(spark: SparkSession): TimeSeriesService =
    new TimeSeriesService(spark)

  /** One [[TimeSeriesService.applyAdvice]] verdict: the measured
    * events-per-slice compaction ratio (×10⁴) for a (fact, grouping)
    * rollup target, and the store directory when the target paid and
    * was materialized + registered (None = stays compute-on-read). */
  final case class AdvisedRollup(factId: String, grouping: String,
      compactionE4: Long, path: Option[String])
}

final class TimeSeriesService(
    val spark: SparkSession,
    val catalog: Catalog = new Catalog,
    /** Union-plan depth at which bulk ingestion switches to the
      * on-disk event store (default 32): a memory/IO budget knob —
      * lower it when frames are large or when the disk-backed
      * lifecycle ([[compactEventStore]], [[expireEvents]]) should
      * engage from the first few batches. */
    val spillDepth: Int = 32) {
  import spark.implicits._
  require(spillDepth >= 1, "spillDepth must be >= 1")

  private val buffer = ArrayBuffer.empty[Event]
  private var bulk: Option[DataFrame] = None
  private var bulkDepth = 0
  private var storeDir: Option[String] = None
  private var retiredDir: Option[String] = None

  // ---- single-writer lease on the durable event store -----------------
  // The on-disk event store is SINGLE-WRITER: every mutation
  // (spill/batch ingest, compaction, erasure, retention) assumes no
  // concurrent service instance — or stream job — is rewriting the
  // same directory. Each operation is individually crash-safe
  // (deterministic overwrite partitions; fresh-path swaps), but two
  // writers interleaving, e.g. a batch erase racing a streaming
  // ingest, can resurrect erased rows or drop a batch. The lease file
  // (`__writer.lock` at the store root, underscore-prefixed so scans
  // ignore it) turns that silent corruption into a LOUD error: a
  // service acquires the lease when it attaches/creates a store and
  // re-verifies ownership before every mutation. This is a guard rail
  // against accidental double-writers, not a distributed lock manager
  // — a malicious/simultaneous-to-the-millisecond acquire needs an
  // external coordination service, which raw parquet directories
  // cannot provide. Read-only consumers never need the lease.
  private val writerId: String = java.util.UUID.randomUUID().toString

  private def leasePath(dir: String) =
    new org.apache.hadoop.fs.Path(dir, "__writer.lock")

  private def leaseFs(p: org.apache.hadoop.fs.Path) =
    p.getFileSystem(spark.sessionState.newHadoopConf())

  private def readLease(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path): String = {
    val in = fs.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
      .toSeq.headOption.getOrElse("")
    finally in.close()
  }

  private def writeLease(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path, overwrite: Boolean): Unit = {
    val out = fs.create(p, overwrite)
    try out.write(
      s"$writerId\n${java.time.Instant.now()}\n".getBytes("UTF-8"))
    finally out.close()
  }

  /** Acquire the single-writer lease on `dir` for this service
    * instance. `takeover = true` seizes a lease left by a dead writer
    * (crash recovery) — the caller asserts the owner is gone; the
    * previous owner's next mutation will then fail loudly. */
  private def acquireLease(dir: String, takeover: Boolean = false): Unit = {
    val p = leasePath(dir)
    val fs = leaseFs(p)
    fs.mkdirs(p.getParent)
    if (takeover) { writeLease(fs, p, overwrite = true); return }
    val created =
      try { writeLease(fs, p, overwrite = false); true }
      catch { case _: java.io.IOException => false }
    if (!created) {
      val owner = readLease(fs, p)
      if (owner != writerId) throw new IllegalStateException(
        s"event store at $dir is leased to writer $owner — graft " +
          "durable stores are SINGLE-WRITER (one service instance or " +
          "stream per store). Point this service at its own store, or " +
          "attachEventStore(dir, takeover = true) after confirming the " +
          "owning writer is dead.")
    }
  }

  /** Verify this instance still owns `dir` before mutating it. */
  private def assertLease(dir: String, op: String): Unit = {
    val p = leasePath(dir)
    val fs = leaseFs(p)
    val owner = if (fs.exists(p)) readLease(fs, p) else "<no lease>"
    if (owner != writerId) throw new IllegalStateException(
      s"$op: event store at $dir is no longer leased to this service " +
        s"(current lease: $owner) — another writer took the store " +
        "over; this instance must stop mutating it.")
  }
  /** Where the spilled on-disk event store lives (None before the
    * ingest stream crosses the spill depth) — the deployment handle
    * for storage accounting and retention verification. */
  def eventStoreDir: Option[String] = storeDir
  /** Pre-spill ingested frames, tracked so their caches (callers may
    * persist streaming micro-batches for the hand-off) can be released
    * once the spill materializes them to disk. */
  private val pendingFrames = ArrayBuffer.empty[DataFrame]

  // spillDepth (constructor): an unbounded stream of `ingest` calls
  // must not grow an unbounded lineage chain — plan analysis cost and
  // recovery depth scale with it. Below the threshold ingestion stays
  // zero-IO.

  // ---- DDL (O1–O6) ----------------------------------------------------

  def defineFact(id: String, ftype: FactType, slice: Int = 15,
      name: Option[String] = None, filler: Long = 0L,
      units: String = "counter", start: Option[Long] = None,
      end: Option[Long] = None, step: Option[Long] = None): FactDef =
    catalog.defineFact(FactDef(id, ftype, slice, name, filler, units,
      start, end, step))

  def defineDimension(id: String, name: Option[String] = None,
      slice: Option[Int] = None, size: Int = 40, groupOnly: Boolean = false,
      groupedBy: Seq[Seq[String]] = Seq(Seq.empty),
      facts: Set[String] = Set.empty): DimensionDef =
    catalog.defineDimension(DimensionDef(id, name, slice, size, groupOnly,
      groupedBy, facts))

  def updateDimension(dimId: String, factId: String): DimensionDef =
    catalog.updateDimension(dimId, factId)

  def dropSchema(): Unit = {
    catalog.drop(); buffer.clear(); bulk = None; bulkDepth = 0
    pendingFrames.clear()
    // the spilled event store is engine-owned storage — delete it, the
    // reference's drop-schema removes exactly the tables it created
    storeDir.foreach { dir =>
      val p = java.nio.file.Paths.get(dir)
      if (java.nio.file.Files.exists(p)) {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(p).iterator().asScala.toSeq
          .sortBy(-_.getNameCount)
          .foreach(java.nio.file.Files.deleteIfExists(_))
      }
    }
    storeDir = None; rollupStore.clear()
  }

  // ---- materialized rollups (reference storage strategy, opt-in) ------

  /** A routed rollup: parquet dir + whether it is maintained OUTSIDE
    * this service (external = [[registerRollup]], e.g. streaming-
    * maintained) or materialized BY it ([[materializeRollups]]). The
    * distinction drives write handling: a service-materialized rollup
    * is a pure cache of the service's own events, so a write simply
    * invalidates it; an external rollup holds history this service
    * never saw, so dropping it on write would silently replace the
    * streamed dataset with the (much smaller) local buffer.
    * `dayPath`: the optional DAY-grain tier (coarsened from the slice
    * store) — served for calendar steps ≥ day with midnight-aligned
    * bounds, up to ~96× fewer rows per query. */
  private case class RollupReg(path: String, external: Boolean,
      dayPath: Option[String] = None)

  /** Registered rollup paths: (factId, grouping) → registration. */
  private val rollupStore =
    scala.collection.mutable.Map.empty[(String, Seq[String]), RollupReg]

  /** Materialize slice partials for every (fact × non-group_only
    * dimension × grouping path) under `baseDir` — the reference's eager
    * table fan-out at `define-dimension!` time (`postgres/schema.clj:
    * 220-241`), with the same `<path…>_<dim>_<fact>` naming
    * (`postgres/common.clj:25-32`), re-expressed as date-partitioned
    * parquet built by ONE aggregation per rollup instead of per-event
    * upserts. Until invalidated by a write, [[getTimeseries]] serves
    * reads from these instead of raw events. */
  def materializeRollups(baseDir: String): Seq[String] =
    rollupTargets(baseDir).map { case (fact, grouping, slice, out) =>
      materializeTarget(fact, grouping, slice, out)
    }

  /** Every rollup target the catalog implies — (fact × non-group_only
    * dimension × grouping path), in catalog order — as (fact,
    * grouping, slice minutes, store dir). The store dir is
    * `<baseDir>/<name>` with the reference's `<path…>_<dim>_<fact>`
    * name, passed through `stem` first (retention stamps it). */
  private def rollupTargets(baseDir: String,
      stem: String => String = identity)
      : Seq[(FactDef, Seq[String], Int, String)] =
    for {
      dim <- catalog.dimensions if !dim.groupOnly
      factId <- dim.facts.toSeq.sorted
      fact <- catalog.fact(factId).toSeq
      path <- dim.groupedBy
    } yield {
      val grouping = path :+ dim.id
      (fact, grouping, dim.sliceMinutes.getOrElse(fact.sliceMinutes),
        s"$baseDir/${stem((grouping :+ fact.id).mkString("_"))}")
    }

  /** Materialize one target's slice store at `out`, its day tier at
    * `out__day`, and register both for serving. */
  private def materializeTarget(fact: FactDef, grouping: Seq[String],
      slice: Int, out: String): String = {
    Rollups.materialize(prepare(fact.id, grouping), fact, slice, grouping, out)
    // hierarchical day tier, coarsened FROM the slice store (one
    // partial-merge aggregation — raw events are not re-read):
    // calendar reads ≥ day with midnight bounds serve from it
    val dayOut = s"${out}__day"
    Rollups.materializeFactDayTier(Rollups.read(spark, out)
      .drop("bucket_date"), fact, grouping, dayOut)
    rollupStore((fact.id, grouping)) =
      RollupReg(out, external = false, dayPath = Some(dayOut))
    out
  }

  /** Re-attach a previously [[materializeRollups]]-written store after
    * a RESTART: a new service instance (same catalog) discovers the
    * per-(fact, grouping) rollup directories under `baseDir` and
    * registers every one that exists — the recovery half of the
    * materialized-rollup lifecycle (without it a restarted service
    * silently falls back to compute-on-read until the next full
    * materialization). Registrations are internal (NOT external):
    * the store was built from this service's own event history, so a
    * later ingest must invalidate it exactly as if this instance had
    * materialized it. Missing directories are skipped, not errors —
    * a catalog extended since the last materialization simply leaves
    * the new targets on compute-on-read.
    *
    * RETENTION-made stores (`retained_*`, [[expireEvents]]) are NOT
    * re-attached here: after raw deletion the retained partials are
    * the ONLY copy of aged history and must be registered external —
    * a restart after retention should call [[registerRollup]] for
    * them (their horizon-stamped paths are in expireEvents's return).
    *
    * @return the directories attached */
  def attachRollups(baseDir: String): Seq[String] = {
    val hconf = spark.sessionState.newHadoopConf()
    rollupTargets(baseDir).collect {
      case (fact, grouping, _, out) if pathExists(hconf, out) =>
        val dayOut = s"${out}__day"
        rollupStore((fact.id, grouping)) = RollupReg(out, external = false,
          dayPath = Some(dayOut).filter(pathExists(hconf, _)))
        out
    }
  }

  private def pathExists(hconf: org.apache.hadoop.conf.Configuration,
      dir: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(hconf).exists(p)
  }

  /** Incrementally refresh the materialized rollups for ONE time
    * window and re-register them for serving: every (fact ×
    * non-group_only dimension × grouping path) recomputes only the
    * days touched by `[start, finish]` and replaces only those
    * `bucket_date` partitions (dynamic partition overwrite —
    * [[graft.operators.Rollups.refreshWindow]]). The incremental
    * maintenance mode: after ingesting a day's events, refresh that
    * day at O(delta) instead of re-materializing all of history.
    * Same layout and registration as [[materializeRollups]]; events
    * are assumed append-only inside the window. The store under
    * `baseDir` must already hold a directory for every (fact,
    * grouping) this catalog implies (call materializeRollups once
    * first): refreshing a never-materialized target would write ONLY
    * the window and register a history-less rollup — queries outside
    * the window would silently read nothing — so that case fails
    * loudly instead (e.g. a fact or dimension defined after the last
    * materializeRollups). */
  def refreshRollups(baseDir: String, start: Timestamp,
      finish: Timestamp): Seq[String] = {
    val targets = rollupTargets(baseDir)
    val hconf = spark.sessionState.newHadoopConf()
    val missing = targets.map(_._4).filterNot(pathExists(hconf, _))
    require(missing.isEmpty,
      "refreshRollups: no materialized rollup to refresh at " +
        s"${missing.mkString(", ")} — run materializeRollups first " +
        "(a window-only refresh would register a history-less store)")
    targets.map { case (fact, grouping, slice, out) =>
      Rollups.refreshWindow(prepare(fact.id, grouping), fact, slice,
        grouping, out, start, finish)
      // keep the day tier in step (only the touched days re-coarsen);
      // stores materialized before the tier existed stay slice-only
      val dayOut = s"${out}__day"
      val hasDay = pathExists(hconf, dayOut)
      if (hasDay)
        Rollups.refreshDayTierWindow(spark, out, fact, grouping, dayOut,
          start, finish, slice)
      rollupStore((fact.id, grouping)) = RollupReg(out, external = false,
        dayPath = if (hasDay) Some(dayOut) else None)
      out
    }
  }

  /** Close the advisor → materialize loop: measure every
    * catalog-implied rollup target with
    * [[graft.operators.Rollups.adviseRollups]] (ONE grouping-sets pass
    * per (fact, slice) — not one scan per candidate) and materialize +
    * register ONLY the groupings whose events-per-slice compaction
    * ratio clears `minCompactionE4` (default 2× — a rollup that
    * doesn't at least halve the rows it serves is storage spent to
    * re-key the event stream, the SCALE.md §8 distinct-partials
    * failure mode). Paying targets get exactly
    * [[materializeRollups]]' layout and registration (slice store +
    * day tier, internal); non-paying targets stay compute-on-read —
    * their [[explainRoute]] row keeps saying `raw-scan`, now as a
    * measured verdict instead of an omission. The closing move of the
    * observability loop: `adviseRollups` said what pays,
    * `explainRoute` said what's raw — this call applies the advice.
    *
    * @return one entry per target: (fact, grouping label, measured
    *   compaction ×10⁴, Some(store dir) if materialized) */
  def applyAdvice(baseDir: String,
      minCompactionE4: Long = 20000L): Seq[TimeSeriesService.AdvisedRollup] =
    applyAdviceTo(baseDir, minCompactionE4, (_, _) => true)

  /** The served-read WORKLOAD LOG: one counter per (fact, routed
    * grouping, tier), bumped at every real serve's routing decision —
    * single reads, each tile of a multi read, histograms, percentile
    * serves. [[explainRoute]] never counts (introspection must not
    * inflate the workload it reports on). Driver-side and
    * catalog-bounded: at most |facts|×|groupings|×|tiers| entries, no
    * Spark job to read it. */
  private val readCounts =
    scala.collection.concurrent.TrieMap.empty[(String, String, String), Long]
  private var workloadLogPath: Option[String] = None

  private def recordRead(factId: String, grouping: Seq[String],
      tier: String): Unit = readCounts.synchronized {
    val k = (factId, grouping.mkString(","), tier)
    readCounts(k) = readCounts.getOrElse(k, 0L) + 1L
  }

  /** DURABLE workload log: fold a persisted read-log (a prior
    * session's [[checkpointWorkloadLog]] output, parquet `(fact,
    * grouping, tier, n_reads)`) into the live counters and remember
    * the path for checkpoints. This is what makes the advisor loop
    * deployment-real: a driver bounce forgets the in-memory
    * `TrieMap`, but a service that attaches on start and checkpoints
    * on a cadence (end of serving window, or beside every
    * [[applyAdviceFromWorkload]] call — the cadence is the caller's,
    * like the compaction cadence) advises from ACCUMULATED traffic
    * across restarts, not one session's memory. A missing/empty path
    * attaches a zero log (first boot). Attach once per instance —
    * re-attaching would double-fold the same history. */
  def attachWorkloadLog(path: String): Unit = {
    require(workloadLogPath.isEmpty,
      s"workload log already attached at ${workloadLogPath.get}")
    workloadLogPath = Some(path)
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) {
      // driver-bounded by construction: the log is catalog-bounded
      // (|facts|×|groupings|×|tiers| rows), same envelope as the map
      val prior = spark.read.parquet(path)
        .select(col("fact").cast("string"), col("grouping").cast("string"),
          col("tier").cast("string"), col("n_reads").cast("long"))
        .collect()
      readCounts.synchronized {
        prior.foreach { r =>
          val k = (r.getString(0), r.getString(1), r.getString(2))
          readCounts(k) = readCounts.getOrElse(k, 0L) + r.getLong(3)
        }
      }
    }
  }

  /** Persist the CURRENT observed-workload counters to the attached
    * log path (deterministic full-snapshot overwrite — the same
    * idempotent store discipline as the maintained rollups: counts
    * already include everything folded at attach, so checkpoint →
    * crash → re-attach → checkpoint converges instead of
    * double-counting). */
  def checkpointWorkloadLog(): Unit = {
    val path = workloadLogPath.getOrElse(throw new IllegalStateException(
      "no workload log attached — call attachWorkloadLog first"))
    workloadProfile().coalesce(1).write.mode("overwrite").parquet(path)
  }

  /** The observed workload as a frame: (fact, grouping, tier,
    * n_reads) — the row a capacity review reads next to
    * [[explainRoute]]: explain says where a read WOULD route,
    * this says what actually ran and how often. A `raw-scan` row
    * with a high count is the materialization candidate
    * [[applyAdviceFromWorkload]] acts on. */
  def workloadProfile(): DataFrame = {
    import spark.implicits._
    readCounts.readOnlySnapshot().toSeq
      .map { case ((f, g, t), n) => (f, g, t, n) }
      .sortBy(r => (r._1, r._2, r._3))
      .toDF("fact", "grouping", "tier", "n_reads")
  }

  /** Start a fresh observation window (e.g. after acting on the
    * advice, so the next review sees post-materialization traffic).
    * Under the same lock as [[recordRead]]'s read-modify-write: a
    * serve racing the reset must land wholly before or wholly after
    * it, never interleave around the clear. */
  def resetWorkloadLog(): Unit =
    readCounts.synchronized { readCounts.clear() }

  /** [[applyAdvice]] restricted to the OBSERVED workload: materialize
    * only groupings the read log ([[workloadProfile]]) shows being
    * served from raw scans at least `minReads` times — the advice a
    * real deployment wants, because the catalog implies every rollup a
    * dashboard COULD ask for while the log says which ones dashboards
    * DO ask for (a cold grouping's rollup is storage and refresh work
    * with no reader; a hot raw-scan grouping is the row to fix).
    * Targets still face the same measured-compaction bar — a hot read
    * over an incompressible grouping stays compute-on-read, reported
    * with its measured ratio. Reads already served from any rollup
    * tier are never re-materialized by this call.
    *
    * @return one entry per HOT raw-scan target (subset of what
    *   [[applyAdvice]] would return; same semantics per entry). */
  def applyAdviceFromWorkload(baseDir: String, minReads: Long = 1L,
      minCompactionE4: Long = 20000L)
      : Seq[TimeSeriesService.AdvisedRollup] = {
    require(minReads >= 1L, s"minReads must be >= 1, got $minReads")
    val hot = readCounts.readOnlySnapshot().collect {
      case ((fid, g, "raw-scan"), n) if n >= minReads => (fid, g)
    }.toSet
    applyAdviceTo(baseDir, minCompactionE4,
      (fid, grouping) => hot((fid, grouping.mkString(","))))
  }

  private def applyAdviceTo(baseDir: String, minCompactionE4: Long,
      keep: (String, Seq[String]) => Boolean)
      : Seq[TimeSeriesService.AdvisedRollup] = {
    rollupTargets(baseDir).filter { case (fact, grouping, _, _) =>
      keep(fact.id, grouping)
    }.groupBy { case (fact, _, slice, _) =>
      (fact.id, slice)
    }.toSeq.sortBy(_._1).flatMap { case ((factId, slice), group) =>
      val groupings = group.map(_._2)
      // advise once per distinct dimension SET (two dims can imply
      // set-equal groupings in different orders; the measured ratio is
      // order-independent, and adviseRollups rejects set-duplicates)
      val bySet = groupings.groupBy(_.toSet)
      val candidates = bySet.values.map(_.head).toSeq
      val allDims = groupings.flatten.distinct
      val advice = Rollups.adviseRollups(prepare(factId, allDims),
          candidates, sliceMinutes = slice)
        .collect()
        .map(r => r.getString(0) -> r.getLong(3)).toMap
      group.map { case (fact, grouping, _, out) =>
        val repr = bySet(grouping.toSet).head.mkString(",")
        // a target with zero scanned events has no advice row — it
        // compacts nothing, so it does not pay
        val ratio = advice.getOrElse(repr, 0L)
        val made =
          if (ratio >= minCompactionE4)
            Some(materializeTarget(fact, grouping, slice, out))
          else None
        TimeSeriesService.AdvisedRollup(fact.id, grouping.mkString(","),
          ratio, made)
      }
    }
  }

  /** Point queries for (fact, grouping) at an externally-maintained
    * rollup — e.g. one kept fresh by
    * [[graft.streaming.StreamingIngest.maintainRollup]]. The caller
    * owns freshness of the STREAMED history; events written directly
    * through this service (newFact/ingest) are assumed disjoint from
    * the stream and are merged into reads at query time
    * ([[getTimeseries]]), so neither dataset is silently lost. */
  def registerRollup(factId: String, grouping: Seq[String], path: String): Unit =
    rollupStore((factId, grouping)) = RollupReg(path, external = true)

  /** Drop service-materialized rollups for `factId` (all, when None) —
    * called by the write path so a query never reads a stale rollup;
    * the reference keeps rollups fresh per-event
    * (`postgres/update.clj:83-93`), we keep them fresh by falling back
    * to compute-on-read until the next [[materializeRollups]].
    * EXTERNAL rollups survive: they hold history that is not in this
    * service's events, so the read path merges them with local events
    * instead of dropping them. */
  private def invalidateRollups(factId: Option[String]): Unit = {
    rollupStore.filterInPlace { case ((fid, _), reg) =>
      reg.external || factId.exists(_ != fid)
    }
    refreshSqlSurfaces()
  }

  /** RE-INSTALL hooks for SQL surfaces whose serving source is pinned
    * at install time (the parameterized window table functions,
    * [[graft.sql.PipelineViews.installTimeseriesWindow]] /
    * `installHistogramWindow`): a later ingest invalidates the
    * internal rollup for Scala reads (raw-scan fallback), but an
    * installed SQL function's body keeps naming the now-stale rollup
    * view — so every installer registers a refresher under its
    * function name, and the write path re-runs them after each
    * invalidation. Re-install is catalog work only (temp-view swap +
    * CREATE OR REPLACE FUNCTION; no Spark job), so the per-write cost
    * is bounded; the hook map is keyed by function name, so
    * re-installing under the same name replaces the hook rather than
    * stacking it. */
  private val sqlSurfaceRefreshers =
    scala.collection.mutable.LinkedHashMap.empty[String, () => Unit]

  private[graft] def registerSqlRefresher(name: String)(f: () => Unit): Unit =
    sqlSurfaceRefreshers(name) = f

  /** Run every registered SQL-surface refresher (over a snapshot:
    * each hook re-registers itself under its own name as it
    * re-installs). */
  private def refreshSqlSurfaces(): Unit =
    sqlSurfaceRefreshers.values.toSeq.foreach(_())

  // ---- Write path (O11/O12) -------------------------------------------

  /** `new-fact!` (api.clj:23-26; validation postgres.clj:65-81). Appends
    * one raw event; queries aggregate on read. */
  def newFact(factId: String, ts: Timestamp, value: Long,
      categories: Map[String, String]): Unit = {
    if (categories.valuesIterator.contains(null))
      throw new IllegalArgumentException("Some categories have nil values")
    val fact = catalog.fact(factId).getOrElse(
      throw new IllegalArgumentException(s"Fact $factId is not defined"))
    val dims = categories.keys.toSeq.map(catalog.dimension)
    val tracking =
      if (dims.exists(_.isEmpty)) Seq.empty // any undefined key → reject
      else dims.flatten.filter(_.facts.contains(factId))
    if (tracking.isEmpty)
      throw new IllegalArgumentException(
        "None of the dimensions specified track the supplied fact")
    buffer += Event(fact.id, ts, value, categories)
    invalidateRollups(Some(fact.id))
  }

  def newFact(factId: String, value: Long, categories: Map[String, String]): Unit =
    newFact(factId, new Timestamp(System.currentTimeMillis()), value, categories)

  /** `inc!` (api.clj:28-31) — newFact with value 1. */
  def inc(factId: String, ts: Timestamp, categories: Map[String, String]): Unit =
    newFact(factId, ts, 1L, categories)

  /** Point the durable event store at `dir` BEFORE the first ingest,
    * so batch-identified ingests ([[ingest(events:DataFrame,batchId:Long)*]])
    * write their `__batch_id=b<id>` partitions from batch ONE — the
    * precondition for [[eventsAsOf]] time travel. Without it, batches
    * below the spill depth pool in memory and spill under the shared
    * anonymous `spill` tag: still idempotent (the `seen` set), but
    * their per-batch identity is not recoverable from storage.
    *
    * SINGLE-WRITER contract: attaching acquires the store's writer
    * lease (`__writer.lock`). If another live service instance holds
    * it, this fails loudly instead of silently interleaving writes;
    * `takeover = true` seizes a dead writer's lease (crash recovery —
    * the caller asserts the owner is gone), after which the previous
    * owner's next mutation fails. */
  def attachEventStore(dir: String, takeover: Boolean = false): Unit = {
    require(buffer.isEmpty && bulk.isEmpty && storeDir.isEmpty,
      "attachEventStore: attach before any event is ingested — " +
        "already-pooled in-memory events would bypass the store")
    acquireLease(dir, takeover)
    storeDir = Some(dir)
  }

  /** TIME-TRAVEL read surface: the durable store's events AS OF ingest
    * batch `maxBatchId` (inclusive) — the reproducibility contract a
    * training pipeline needs ("rebuild exactly the dataset run 1412
    * saw") and the debugging one an incident needs ("what did the
    * series look like before batch 7 landed"). Implementation is pure
    * partition algebra: the batch watermark becomes an IN filter on
    * the `__batch_id` partition values, so batches beyond the
    * watermark prune from the partition index — no byte of excluded
    * data is read, no tombstones, no log replay; cost scales with the
    * surviving batches exactly like a normal read.
    *
    * Fails loudly when the store holds batch-ANONYMOUS partitions
    * (`spill`/`compacted`/`scrubbed`, or un-identified `local<n>`
    * ingests): compaction and scrubbing fold
    * batches together, so "as of batch N" is no longer decidable
    * there — retention and time travel are both real lifecycle
    * features, and a store can honor an as-of contract only up to its
    * last identity-destroying rewrite. In-memory (buffered/bulk)
    * events have no batch identity either; they must be absent. */
  def eventsAsOf(maxBatchId: Long): DataFrame =
    eventsInBatchRange(Long.MinValue, maxBatchId)

  /** The DELTA twin of [[eventsAsOf]]: events in batches
    * `[minBatchId, maxBatchId]` — what an incremental consumer reads
    * to carry a derived dataset from one watermark to the next
    * ("give me exactly what landed since my last build") without
    * rescanning settled history. Same partition algebra and the same
    * batch-anonymity refusal as the as-of read; `eventsAsOf(w)` ≡
    * `eventsInBatchRange(MinValue, w)` and the two deltas
    * `(−∞, w₁]` ∪ `(w₁, w₂]` partition `(−∞, w₂]` exactly
    * (spec-pinned). */
  def eventsInBatchRange(minBatchId: Long, maxBatchId: Long): DataFrame = {
    val dir = storeDir.getOrElse(throw new IllegalStateException(
      "eventsAsOf: no durable event store — attachEventStore(dir) " +
        "before the first batch-identified ingest"))
    require(buffer.isEmpty && bulk.isEmpty,
      "eventsAsOf: pending in-memory events have no batch identity; " +
        "as-of reads cover batch-identified durable history only")
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    require(fs.exists(root),
      s"eventsAsOf: attached event store at $dir holds no ingested " +
        "batches yet")
    val tags = fs.listStatus(root).map(_.getPath.getName)
      .filter(_.startsWith("__batch_id="))
      .map(_.stripPrefix("__batch_id="))
    val anonymous = tags.filterNot(_.matches("b\\d+"))
    require(anonymous.isEmpty,
      "eventsAsOf: store contains batch-anonymous partitions " +
        s"(${anonymous.mkString(", ")}) — as-of is undefined across " +
        "spilled/compacted/scrubbed history; use attachEventStore + " +
        "batch-identified ingest end to end")
    val kept = tags.filter { t =>
      val id = t.drop(1).toLong
      id >= minBatchId && id <= maxBatchId
    }.toSeq
    val store = spark.read.parquet(dir)
    if (kept.isEmpty) store.where(lit(false)).drop("__batch_id")
    else store.where(col("__batch_id").isin(kept: _*)).drop("__batch_id")
  }

  /** DASHBOARD batch read — `get-timeseries` for SEVERAL facts of one
    * dimension at one scan's cost: a dashboard rendering k tiles over
    * the same range otherwise costs k full scans of the store; here
    * the fact id rides as an extra grouping column through the same
    * scan → collapse → fill pipeline, so the result is EXACTLY the
    * union of the per-fact reads (spec-pinned). Serves ALL FOUR fact
    * types — one shared pipeline per TYPE group, each scanning only
    * its group's fact partitions (disjoint row sets — the total IO of
    * one scan of the requested facts). Per-fact parameters that the
    * single-fact read folds as scalar literals become broadcast-
    * literal `fact →` map lookups on the shared frame: the gap FILLER
    * for counter/distinct facts, and the histogram BUCKETIZATION
    * (lo/step/n) for histogram facts — two tiles may fill with 0 and
    * −1, or bucketize [0,20000)/2000 beside [0,500)/50, in one read.
    * All facts must agree on the effective slice (the scan's bucket
    * floor is per-slice).
    *
    * TIER-ROUTED like the single-fact read: a fact whose (fact,
    * routed-grouping) rollup is registered serves from the rollup
    * (pruned partial scan, [[Rollups.run]]/[[Rollups.runHistogram]])
    * and only the facts WITHOUT one fall back to the shared raw-event
    * pipeline — the dashboard is the product's hottest read, and at
    * 100 TB a fully-registered dashboard must refresh at O(rollup),
    * never O(events) (PlanAuditSpec pins that an all-registered multi
    * read compiles to a plan with no event-store scan). Identical
    * results by re-aggregability, per-fact.
    *
    * Output: all-counter/distinct → (routed dims…, `fact`, `bucket`,
    * `value`); all-average → (…, `counter`, `total`); all-histogram →
    * (…, [`bucket`,] `hist_bucket`, `value`); MIXED → the null-padded
    * union of the per-type schemas (non-applicable columns null per
    * row, e.g. `hist_bucket` null on counter rows). Histogram rows
    * never gap-fill (absent (series × bucket) cells stay absent, as in
    * [[getHistogram]]); counter/distinct rows fill per fact. */
  def getTimeseriesMulti(factIds: Seq[String], dimId: String,
      filters: Map[String, Option[String]],
      start: Timestamp, finish: Timestamp,
      step: Step = Step.NoStep, offsetHours: Int = 0): DataFrame = {
    require(factIds.nonEmpty, "getTimeseriesMulti needs at least one fact")
    val facts = factIds.map(id => catalog.fact(id).getOrElse(
      throw new IllegalArgumentException(
        s"Non existent fact $id specified. Please check your schema.")))
    val dim = catalog.dimension(dimId).getOrElse(
      throw new IllegalArgumentException(
        s"Non existent dimension $dimId specified. Please check your schema"))
    val grouping =
      graft.operators.Timeseries.bestGrouping(dim.groupedBy, dim.id,
        filters.keySet)
    val slices = facts.map(f => dim.sliceMinutes.getOrElse(f.sliceMinutes))
      .distinct
    require(slices.size == 1,
      s"getTimeseriesMulti facts disagree on the effective slice: " +
        s"${factIds.zip(facts.map(f => dim.sliceMinutes.getOrElse(f.sliceMinutes))).mkString(", ")}")
    val dimCols = grouping.map(d => col("categories").getItem(d).as(d))
    def runGroup(group: Seq[(String, graft.model.FactDef)]): DataFrame = {
      val ids = group.map(_._1)
      val prepared = eventsDF
        .where(col("fact").isin(ids: _*))
        .select(dimCols ++ Seq(col("fact"), col("ts"), col("value"),
          col("__event_date")): _*)
      if (group.head._2.ftype == FactType.Histogram) {
        // PER-FACT bucketization: each histogram fact bucketizes by
        // its own (lo, step, n) — as fact→param map lookups the
        // shared scan evaluates per row, mirroring
        // Timeseries.histBucket exactly. Homogeneous params keep the
        // scalar-literal plan (same homogeneity gate as the filler
        // override below): a dashboard of many same-shaped histogram
        // tiles must not pay map lookups per row for nothing.
        val histParams = group.map { case (_, f) =>
          (f.start.get, f.step.get, f.histogramBuckets.size) }
        val histOverride =
          if (histParams.distinct.size <= 1) None
          else {
            val lo = element_at(typedlit(
              group.map { case (id, f) => id -> f.start.get }.toMap),
              col("fact"))
            val st = element_at(typedlit(
              group.map { case (id, f) => id -> f.step.get }.toMap),
              col("fact"))
            val n = element_at(typedlit(
              group.map { case (id, f) =>
                id -> f.histogramBuckets.size.toLong }.toMap),
              col("fact"))
            val idx = least(greatest(
              floor((col("value") - lo) / st)
                .cast(org.apache.spark.sql.types.LongType),
              lit(0L)), n - lit(1L))
            Some((idx * st + lo).as("hist_bucket"))
          }
        graft.operators.Timeseries.runHistogram(prepared, group.head._2,
          slices.head, grouping :+ "fact", filters, start, finish, step,
          offsetHours, histOverride)
      } else {
        // PER-FACT gap fill: counter/distinct facts may carry
        // different fillers (two tiles, fillers 0 and −1, is a
        // legitimate dashboard), so when they disagree the fill
        // expression becomes a broadcast-literal `fact → filler` map
        // lookup on the grid frame — still ONE shared
        // scan/collapse/fill pipeline, each fact's gaps filled with
        // its own filler. The homogeneous case keeps the
        // scalar-literal plan unchanged.
        val fillers = group.map { case (id, f) => id -> f.filler }.toMap
        val fillerOverride =
          if (fillers.values.toSet.size <= 1) None
          else Some(element_at(typedlit(fillers), col("fact")))
        graft.operators.Timeseries.run(prepared, group.head._2, slices.head,
          grouping :+ "fact", filters, start, finish, step, offsetHours,
          fillerOverride)
      }
    }
    // Per TYPE group: rollup-registered facts serve from their partials
    // (one pruned rollup scan each, `fact` attached as a literal —
    // identical to the per-fact tiered read), the rest share one raw
    // scan. An all-registered dashboard never touches the event store.
    def runType(group: Seq[(String, graft.model.FactDef)]): DataFrame = {
      val tiered = group.map { case (id, f) =>
        (id, f, servableRollup(f, slices.head, grouping, step,
          offsetHours, start, finish))
      }
      val raw = tiered.collect { case (id, f, None) => (id, f) }
      val frames = tiered.collect { case (id, f, Some(merged)) =>
        val served = (if (f.ftype == FactType.Histogram)
            graft.operators.Rollups.runHistogram(merged, f, slices.head,
              grouping, filters, start, finish, step, offsetHours)
          else
            graft.operators.Rollups.run(merged, f, slices.head,
              grouping, filters, start, finish, step, offsetHours))
          .withColumn("fact", lit(id))
        // canonical column order (dims…, fact, bucket?, measures) —
        // the raw pipeline's shape, where `fact` rides as a grouping
        // column rather than a trailing literal
        val rest = served.columns
          .filterNot(c => grouping.contains(c) || c == "fact")
        served.select(((grouping :+ "fact") ++ rest).map(col): _*)
      } ++ (if (raw.nonEmpty) Seq(runGroup(raw)) else Seq.empty)
      frames.reduce(_.unionByName(_))
    }
    // Null-padded union of the per-type frames (stable type order).
    // unionByName(allowMissingColumns) IS the padding rule: a column
    // another type carries and this one lacks (counter/total on
    // counter rows, value on average rows, hist_bucket and — under
    // NoStep — bucket on non-histogram rows) arrives as null, typed
    // from the frame that has it. A single-type dashboard keeps its
    // exact per-type schema.
    Seq(FactType.Counter, FactType.Distinct, FactType.Average,
        FactType.Histogram)
      .map(t => factIds.zip(facts).filter(_._2.ftype == t))
      .filter(_.nonEmpty)
      .map(runType)
      .reduce(_.unionByName(_, allowMissingColumns = true))
  }

  /** The MULTI-DIMENSION dashboard read: [[getTimeseriesMulti]] over
    * per-fact (fact, dimension) pairs — a real dashboard mixes
    * dimensions (clicks by event_type beside spend by user_bucket) and
    * must not pay one service call per dimension. Facts group by
    * dimension; each dimension group runs the single-dimension multi
    * read (so facts of one TYPE within one dimension still share one
    * scan, and every tile stays tier-routed through [[routeTier]]);
    * the per-dimension frames union by name with a `dim` discriminator
    * column, null-padding grouping columns the other dimensions carry
    * (user_bucket is null on event_type rows and vice versa) exactly
    * like the mixed-type union pads measures. The result is EXACTLY
    * the union of the per-dimension multi reads (spec-pinned).
    *
    * `filters` are routed per dimension: a key no grouping path of a
    * dimension knows is dropped for THAT dimension's read (it can
    * neither route nor filter there — the other dimension's tiles must
    * not lose rows to a foreign key), matching the single read's
    * ignore-unknown-filter rule. Slice agreement is required per
    * dimension group, not across groups. */
  def getTimeseriesMulti(factDims: Seq[(String, String)],
      filters: Map[String, Option[String]],
      start: Timestamp, finish: Timestamp,
      step: Step, offsetHours: Int): DataFrame = {
    require(factDims.nonEmpty,
      "getTimeseriesMulti needs at least one (fact, dimension) pair")
    getTimeseriesMulti(
      factDims.map { case (f, d) => (f, d, filters) },
      start, finish, step, offsetHours)
  }

  /** The PER-TILE-FILTERED dashboard read — [[getTimeseriesMulti]]
    * over (fact, dimension, filters) TILES: the pairs overload routes
    * ONE filter map per call, so two tiles on the SAME dimension could
    * not filter differently (clicks WHERE type='click' beside an
    * unfiltered spend total was two service calls again). Here every
    * tile carries its own filters; tiles group by (dimension, routed
    * filters), so per-TYPE shared scans SURVIVE exactly where filters
    * agree (the pairs overload's scan sharing is the
    * all-filters-equal special case) and tiles that disagree split
    * into their own groups — each still tier-routed through
    * [[routeTier]] like any single read. The result is EXACTLY the
    * union of the per-group multi reads with the `dim` discriminator
    * (spec-pinned equal to per-tile single calls).
    *
    * Filters route per tile by the single read's ignore-unknown rule:
    * a key no grouping path of the tile's dimension knows is dropped
    * for THAT tile only. (fact, dimension) pairs must be DISTINCT
    * across tiles — the output row's identity is (dim, fact, series),
    * so the same fact twice on one dimension under different filters
    * would produce indistinguishable rows; give the read two fact
    * registrations or two calls instead. `dim` is a reserved output
    * column: a grouping column of that name would be silently
    * overwritten by the discriminator, so it refuses loudly. */
  def getTimeseriesMulti(
      tiles: Seq[(String, String, Map[String, Option[String]])],
      start: Timestamp, finish: Timestamp,
      step: Step, offsetHours: Int): DataFrame = {
    require(tiles.nonEmpty, "getTimeseriesMulti needs at least one tile")
    val dup = tiles.map(t => (t._1, t._2))
      .groupBy(identity).collect { case (k, v) if v.size > 1 => k }
    require(dup.isEmpty,
      s"getTimeseriesMulti: duplicate (fact, dimension) tiles " +
        s"${dup.mkString(", ")} — the same fact twice on one dimension " +
        "would produce indistinguishable rows; register the fact " +
        "under a second id or issue two calls")
    val routed = tiles.map { case (factId, dimId, tileFilters) =>
      val dim = catalog.dimension(dimId).getOrElse(
        throw new IllegalArgumentException(
          s"Non existent dimension $dimId specified. Please check your schema"))
      val known = dim.groupedBy.flatten.toSet + dim.id
      require(!known.contains("dim") && dim.id != "dim",
        s"getTimeseriesMulti: dimension $dimId routes a grouping " +
          "column named 'dim' — reserved for the multi read's " +
          "dimension discriminator")
      (factId, dimId,
        tileFilters.filter { case (k, _) => known.contains(k) })
    }
    // group tiles by (dimension, routed filters): agreeing tiles keep
    // the shared-scan multi read; disagreeing tiles split — stable
    // first-appearance order so the union's schema evolution is
    // deterministic
    val groups = routed.map { case (_, d, f) => (d, f) }.distinct
    groups.map { case (dimId, dimFilters) =>
      val ids = routed.collect {
        case (f, d, flt) if d == dimId && flt == dimFilters => f }
      getTimeseriesMulti(ids, dimId, dimFilters,
          start, finish, step, offsetHours)
        .withColumn("dim", lit(dimId))
    }.reduce(_.unionByName(_, allowMissingColumns = true))
  }

  /** [[getTimeseries]] pinned to the [[eventsAsOf]] watermark. Always
    * compute-on-read: registered rollups aggregate the WHOLE ingested
    * history and carry no batch lineage, so serving an as-of read from
    * one would silently include post-watermark events. */
  def getTimeseriesAsOf(factId: String, dimId: String,
      filters: Map[String, Option[String]],
      start: Timestamp, finish: Timestamp, maxBatchId: Long,
      step: Step = Step.NoStep, offsetHours: Int = 0): DataFrame = {
    val (fact, dim, grouping) = route(factId, dimId, filters)
    val slice = dim.sliceMinutes.getOrElse(fact.sliceMinutes)
    val dimCols = grouping.map(d => col("categories").getItem(d).as(d))
    val prepared = eventsAsOf(maxBatchId)
      .where(col("fact") === lit(factId))
      .select(dimCols :+ col("ts") :+ col("value") :+ col("__event_date"): _*)
    Timeseries.run(prepared, fact, slice, grouping, filters, start,
      finish, step, offsetHours)
  }

  /** Monotonic tag for post-spill ingests with no external batch
    * identity (plain bulk loads). */
  private var localBatchSeq = 0L

  /** Stream batch ids already ingested (pre-spill replay fast-skip —
    * post-spill replays are handled structurally by the deterministic
    * per-batch overwrite directories). */
  private val seenBatches = scala.collection.mutable.Set.empty[Long]

  /** Bulk ingestion: a DataFrame in the canonical event schema (the
    * 100 TB path — buffer-per-event is for API-parity workloads only).
    *
    * The first [[spillDepth]] frames stay a lazy in-memory union (no
    * IO for one-shot batch use); past that — the long-running-stream
    * shape, e.g. [[graft.streaming.StreamingIngest.foreachBatchInto]]
    * micro-batches — the accumulated events move ONCE into an on-disk
    * parquet store and every later ingest writes its own
    * `__batch_id=<tag>` partition directory there, so lineage depth,
    * cached-batch memory, and per-query plan cost stay O(1) in stream
    * length while total write IO stays O(data). */
  def ingest(events: DataFrame): Unit = {
    localBatchSeq += 1
    ingestTagged(events, s"local$localBatchSeq")
  }

  /** [[ingest]] with QUARANTINE instead of trust: rows that would
    * corrupt or silently vanish from the store — null fact / ts /
    * value, or a fact id the catalog does not define — are diverted
    * to `quarantineDir` (appended parquet, original columns plus a
    * `__reason`) and only the valid remainder is ingested. The bulk
    * twin of [[newFact]]'s per-event validation (O22) and of the
    * multimodal lenient decodes: at 100 TB a feed with one malformed
    * producer must not fail the job OR silently distort history, and
    * the quarantine is the re-drive queue once the producer is fixed.
    * Fan-out facts validate per row against the CURRENT catalog (a
    * fact defined later re-drives from quarantine, it does not
    * backfill).
    *
    * One pass: the validity predicate is row-local column algebra;
    * the two branches each scan the input once (or cache `events`
    * upstream if recomputation is expensive). */
  def ingestLenient(events: DataFrame, quarantineDir: String): Unit = {
    val knownFacts = catalog.facts.map(_.id).toSeq.sorted
    val reason = when(col("fact").isNull, "null_fact")
      .when(col("ts").isNull, "null_ts")
      .when(col("value").isNull, "null_value")
      .when(!col("fact").isin(knownFacts: _*), "undefined_fact")
    // both branches derive from the ONE `reason` expression — a new
    // corruption class added to the when-chain is automatically
    // excluded from ingest (a hand-mirrored valid predicate could
    // drift and double-route a row to quarantine AND the store)
    val flagged = events.withColumn("__reason", reason)
    flagged.where(col("__reason").isNotNull)
      .write.mode("append").parquet(quarantineDir)
    ingest(flagged.where(col("__reason").isNull).drop("__reason"))
  }

  /** [[ingest]] with an at-least-once delivery identity (a foreachBatch
    * micro-batch id): a replayed batch is skipped pre-spill (`seen` set)
    * and OVERWRITES its own deterministic `__batch_id=b<id>` partition
    * directory post-spill — mirroring
    * [[graft.streaming.StreamingIngest.maintainRollup]]'s scheme, so a
    * crash-retry between the data write and batch commit cannot
    * double-append durable events. */
  def ingest(events: DataFrame, batchId: Long): Unit = {
    if (!seenBatches.contains(batchId)) {
      ingestTagged(events, s"b$batchId")
      seenBatches += batchId
    } else if (events.storageLevel.useMemory) {
      // replayed delivery: the caller cached the batch for the
      // hand-off ([[graft.streaming.StreamingIngest.foreachBatchInto]])
      // but nothing on this path will materialize it — release it, or
      // every duplicate delivery leaks a cached frame until LRU
      events.unpersist()
    }
  }

  /** Event-date partition column of the on-disk store (and, derived
    * on the fly, of in-memory frames so the two union cleanly). A
    * storage/pruning artifact like `__batch_id`, never query-visible:
    * [[graft.operators.Timeseries.scan]] turns its time range into a
    * partition predicate on it and drops it. */
  private def withEventDate(events: DataFrame): DataFrame =
    events.withColumn("__event_date", to_date(col("ts")))

  private def ingestTagged(events: DataFrame, tag: String): Unit = {
    storeDir match {
      case Some(dir) =>
        assertLease(dir, "ingest")
        // deterministic per-batch partition dir in overwrite mode: a
        // replay of the same tag replaces its own (possibly partial)
        // prior output instead of appending a duplicate. Inside it,
        // one dir per event date: the 100 TB read path prunes whole
        // dates from the partition index (matching the rollup layout,
        // Rollups.materialize) instead of opening every footer for
        // row-group min/max.
        withEventDate(events).write.mode("overwrite")
          .partitionBy("__event_date").parquet(s"$dir/__batch_id=$tag")
        // the incoming frame is materialized on disk now; if the caller
        // cached it for the hand-off (streaming batches), release that
        if (events.storageLevel.useMemory) events.unpersist()
      case None =>
        bulk = Some(bulk.map(_.unionByName(events)).getOrElse(events))
        pendingFrames += events
        bulkDepth += 1
        if (bulkDepth >= spillDepth) {
          val dir = java.nio.file.Files
            .createTempDirectory("graft-eventstore").toString
          acquireLease(dir)
          bulk.foreach(b => withEventDate(b).write.mode("overwrite")
            .partitionBy("__event_date")
            .parquet(s"$dir/__batch_id=spill"))
          storeDir = Some(dir)
          bulk = None
          bulkDepth = 0
          // the spilled data is on disk now — release any caches the
          // callers pinned on the pre-spill frames (no-op if uncached)
          pendingFrames.foreach(f =>
            if (f.storageLevel.useMemory || f.storageLevel.useDisk)
              f.unpersist())
          pendingFrames.clear()
        }
    }
    invalidateRollups(None) // frame may carry any fact
  }

  /** Compact the on-disk ingest event store: the accumulated per-batch
    * `__batch_id=*` partition directories (one per micro-batch — small
    * files, the classic streaming-ingest growth mode) rewrite into ONE
    * `__batch_id=compacted` partition under `outDir`, and reads
    * re-point there. Raw events are not re-aggregable, so unlike
    * [[graft.operators.Rollups.compact]] this is purely a
    * file-count/scan-IO optimization — row content is untouched
    * (spec-pinned). Same swap contract as `Rollups.compact`: the write
    * goes to a FRESH path, so a crash mid-compaction leaves the live
    * store untouched, and retiring the old directory is the caller's
    * deployment step. Replay idempotency survives: the seen-batch set
    * is retained, so a pre-compaction batch id redelivered after the
    * swap is still skipped rather than re-applied onto the compacted
    * history. */
  def compactEventStore(outDir: String, targetFiles: Int = 8): Unit =
    storeDir.foreach { dir =>
      assertLease(dir, "compactEventStore")
      acquireLease(outDir)
      // __event_date survives the rewrite (a partition column of the
      // read is a real column here); coalesce bounds writer tasks, so
      // file count is at most targetFiles × dates-per-task-span —
      // still the per-batch-dir small-file fix this exists for
      spark.read.parquet(dir).drop("__batch_id")
        .coalesce(targetFiles)
        .write.mode("overwrite").partitionBy("__event_date")
        .parquet(s"$outDir/__batch_id=compacted")
      retiredDir = Some(dir)
      storeDir = Some(outDir)
      invalidateRollups(None)
    }

  /** The directory the last store SWAP ([[compactEventStore]] /
    * [[eraseEvents]]) replaced — still on disk, still holding the
    * pre-swap rows (for an erasure, the rows the deletion request
    * targets). None before any swap, or after the dir is retired. */
  def retiredStoreDir: Option[String] = retiredDir

  /** Finish a store swap: DELETE a retired (swapped-out) store
    * directory. For a deletion request this step is NOT optional —
    * until the retired directory is gone, the erased rows still exist
    * on disk. Guarded three ways, all loud: the LIVE store refuses
    * (retire only what a swap already replaced), a directory leased to
    * another writer refuses (not ours to delete), and the path must
    * look like an event store (contain `__batch_id=` partitions or a
    * writer lease) so a mistyped path cannot nuke unrelated data.
    *
    * `takeover = true` is the CRASH-RECOVERY arm (the caller asserts
    * the lease's owner is dead): a writer that died between an
    * [[eraseEvents]] swap and this call leaves the retired directory
    * leased to its dead self — the recovered service that attached the
    * scrubbed store must still be able to close the deletion request.
    * The live-store and looks-like-a-store guards stay in force, and
    * the takeover arm is FENCED like [[attachEventStore]]'s: a
    * directory leased to THIS writer refuses (a live lease of our own
    * needs no takeover — the normal path already owns it), and when
    * `expectedOwner` is passed (read it first via [[storeLeaseOwner]]
    * and confirm that writer is dead) the lease must name exactly that
    * owner — so a mistyped path to some OTHER writer's live store
    * fails loudly instead of being irreversibly deleted.
    *
    * @return the displaced owner's writer id (the lease the takeover
    *   broke), None when the directory was ours or unleased */
  def retireStoreDir(dir: String, takeover: Boolean = false,
      expectedOwner: Option[String] = None): Option[String] = {
    require(!storeDir.contains(dir),
      s"retireStoreDir: $dir is the LIVE event store — only a " +
        "swapped-out directory (see retiredStoreDir) can be retired")
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = leaseFs(p)
    if (!fs.exists(p)) { if (retiredDir.contains(dir)) retiredDir = None
      return None }
    val names = fs.listStatus(p).map(_.getPath.getName)
    require(names.exists(_.startsWith("__batch_id=")) ||
        names.contains("__writer.lock"),
      s"retireStoreDir: $dir does not look like a graft event store " +
        "(no __batch_id= partitions, no writer lease) — refusing to " +
        "delete")
    val owner = storeLeaseOwner(dir)
    if (!takeover) assertLease(dir, "retireStoreDir")
    else {
      require(!owner.contains(writerId),
        s"retireStoreDir(takeover): $dir is leased to THIS writer — " +
          "a live lease of our own needs no takeover; retire via the " +
          "normal path")
      expectedOwner.foreach(exp => require(owner.contains(exp),
        s"retireStoreDir(takeover): $dir is leased to " +
          s"${owner.getOrElse("<no lease>")}, not the expected dead " +
          s"owner $exp — refusing to delete"))
    }
    fs.delete(p, true)
    if (retiredDir.contains(dir)) retiredDir = None
    owner.filterNot(_ == writerId)
  }

  /** The writer id holding the single-writer lease on `dir`, None when
    * the directory carries no lease — the read a recovery runbook does
    * BEFORE a takeover ([[attachEventStore]] / [[retireStoreDir]]):
    * identify the owner, confirm that writer is dead, then pass the id
    * as the takeover's `expectedOwner` so the deletion is fenced to
    * exactly the corpse it was authorized against. */
  def storeLeaseOwner(dir: String): Option[String] = {
    val lp = leasePath(dir)
    val fs = leaseFs(lp)
    if (fs.exists(lp)) Some(readLease(fs, lp)) else None
  }

  /** Right-to-erasure (the OTHER mandatory production lifecycle op,
    * beside retention): rewrite the on-disk event store WITHOUT the
    * rows matching `condition` — e.g. one user's events for a GDPR/
    * CCPA deletion request — and drop every service-materialized
    * rollup so reads immediately fall back to compute-on-read over
    * the scrubbed store (re-run [[materializeRollups]] to restore
    * served rollups; they rebuild without the erased rows).
    *
    * Same swap contract as [[compactEventStore]]: the scrubbed store
    * is written to a FRESH `outDir` (a crash mid-rewrite leaves the
    * live store untouched; retiring the old directory — the one still
    * holding the erased rows — is the caller's deployment step, and
    * for a deletion request it is NOT optional). Replay idempotency
    * survives structurally: the seen-batch set is retained, so a
    * pre-erasure batch id redelivered afterwards is skipped rather
    * than re-applied — a replay can never resurrect erased rows.
    *
    * Scope: raw events and service-materialized rollups. EXTERNAL
    * rollups (retention-made or user-registered) are aggregated
    * partials whose raw inputs may no longer exist; they are left in
    * place under the standard anonymized-aggregate position — callers
    * whose compliance posture rejects that must keep subject
    * identifiers out of retained groupings (or expire with a horizon
    * that precedes the deletion window).
    *
    * NULL semantics: rows where `condition` evaluates to NULL (e.g. a
    * missing dimension on an `isin` match) are KEPT — null is "not
    * the erased subject", the same guard the write path applies to
    * incomplete grouping paths.
    *
    * @return number of rows erased (the deletion-request audit figure)
    */
  def eraseEvents(condition: Column, outDir: String): Long = {
    require(storeDir.isDefined,
      "eraseEvents: no on-disk event store (the in-memory union " +
        "predates the spill threshold — ingest past it first)")
    require(buffer.isEmpty && bulk.isEmpty,
      "eraseEvents: flush pending in-memory events first (they would " +
        "bypass the scrub)")
    assertLease(storeDir.get, "eraseEvents")
    acquireLease(outDir)
    val erase = coalesce(condition, lit(false))
    val store = spark.read.parquet(storeDir.get).drop("__batch_id")
    val erased = store.where(erase).count()
    store.where(!erase)
      .write.mode("overwrite").partitionBy("__event_date")
      .parquet(s"$outDir/__batch_id=scrubbed")
    retiredDir = storeDir
    storeDir = Some(outDir)
    invalidateRollups(None)
    erased
  }

  /** Event-store retention (the production TSDB lifecycle): roll the
    * history OLDER than `horizon`'s UTC date into retained slice
    * partials, then delete those raw `__event_date` partitions from
    * the on-disk store. Reads stay exact over the FULL history:
    * [[getTimeseries]] / [[getHistogram]] serve the aged range from
    * the retained partials (registered external, so they both survive
    * [[ingest]]'s rollup invalidation and union with the partials of
    * the remaining raw events) while post-horizon ranges keep
    * compute-on-read freshness. At 100 TB this is what bounds the
    * event store: raw bytes live for the horizon window, history
    * costs only the events-per-slice-compacted partials.
    *
    * Exactly-once accounting across REPEAT retention: a previously
    * registered external rollup for the same (fact, grouping) —
    * retention-made or user-registered streamed history — is folded
    * into the new retained store (partials merge losslessly,
    * [[graft.operators.Rollups.compactFrame]]) before its
    * registration is replaced, and each retained store is written to
    * a horizon-stamped fresh directory (never overwriting a store
    * that is being read). The aged raw range and prior external
    * history are disjoint by the external-rollup contract, and raw
    * deletion removes exactly the events the retained partials
    * absorbed (`__event_date < horizon-date ⇔ ts < cutoff`, both UTC).
    *
    * Constraints, all checked loudly: UTC session (date-partition
    * arithmetic), spilled on-disk store (retention of an in-memory
    * union is meaningless — ingest past the spill depth first), no
    * pending in-memory events (they would double-count through the
    * retained build). Slice-level reads ([[getSliceSeries]]) cover
    * only the retained raw window afterwards — by design, that read
    * IS the raw granularity. Facts/groupings added AFTER a retention
    * pass have no aged history to lose, so the usual
    * materialize-first rule does not apply here.
    *
    * @return the retained rollup directories written */
  def expireEvents(horizon: Timestamp, rollupBaseDir: String): Seq[String] = {
    require(graft.plans.RollupRouting.isUtcZone(
        spark.sessionState.conf.sessionLocalTimeZone),
      "expireEvents requires spark.sql.session.timeZone=UTC: retention " +
        "deletes __event_date partitions derived with UTC day arithmetic")
    require(storeDir.isDefined,
      "expireEvents: no on-disk event store to retire (the in-memory " +
        "union predates the spill threshold — nothing to age out)")
    require(buffer.isEmpty && bulk.isEmpty,
      "expireEvents: flush pending in-memory events first (they would " +
        "double-count through the retained partial build)")
    assertLease(storeDir.get, "expireEvents")
    val utc = java.time.ZoneOffset.UTC
    val horizonDate = horizon.toInstant.atZone(utc).toLocalDate
    val cutoff = Timestamp.from(horizonDate.atStartOfDay(utc).toInstant)
    val targets =
      rollupTargets(rollupBaseDir, name => s"retained_${name}_$horizonDate")
    val made = targets.map { case (fact, grouping, slice, out) =>
      val aged = Rollups.build(
        prepare(fact.id, grouping).where(col("ts") < lit(cutoff)),
        fact, slice, grouping)
      val merged = rollupStore.get((fact.id, grouping)) match {
        case Some(RollupReg(p, true, _)) =>
          Rollups.compactFrame(Rollups.read(spark, p)
            .drop("bucket_date", "__batch_id").unionByName(aged))
        case _ => aged
      }
      // nothing aged and no prior external history → leave this
      // (fact, grouping) alone (an empty partitioned write would make
      // an unreadable store and erase nothing anyway)
      if (merged.isEmpty) None
      else {
        merged.withColumn("bucket_date", to_date(col("bucket")))
          .write.mode("overwrite").partitionBy("bucket_date").parquet(out)
        rollupStore((fact.id, grouping)) = RollupReg(out, external = true)
        Some(out)
      }
    }
    // every queryable (fact, grouping) now serves its aged history from
    // the retained partials — the raw date partitions can go
    val root = new org.apache.hadoop.fs.Path(storeDir.get)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val dateRe = "__event_date=(\\d{4}-\\d{2}-\\d{2})".r
    fs.listStatus(root).filter(_.isDirectory).foreach { batch =>
      fs.listStatus(batch.getPath).filter(_.isDirectory).foreach { d =>
        d.getPath.getName match {
          case dateRe(ds)
              if java.time.LocalDate.parse(ds).isBefore(horizonDate) =>
            fs.delete(d.getPath, true)
          case _ => ()
        }
      }
    }
    made.flatten
  }

  /** All events visible to queries. `__batch_id` is the store's
    * idempotency partition — a storage artifact, dropped on read.
    * `__event_date` is KEPT (derived on the in-memory sides so the
    * union is uniform): on the store branch it is the physical
    * partition column, and [[graft.operators.Timeseries.scan]] turns
    * its time range into a predicate on it — partition pruning on
    * disk, a cheap redundant filter in memory — then drops it. */
  def eventsDF: DataFrame = {
    val buffered = withEventDate(spark.createDataset(buffer.toSeq).toDF())
    val withStore = storeDir match {
      case Some(dir) =>
        buffered.unionByName(spark.read.parquet(dir).drop("__batch_id"))
      case None => buffered
    }
    bulk.map(b => withStore.unionByName(withEventDate(b))).getOrElse(withStore)
  }

  // ---- Read path (O13–O20) --------------------------------------------

  /** `get-timeseries` (api.clj:33-36, postgres.clj:103-118).
    *
    * @param filters query-data: key → Some(value) for equality, key →
    *   None participates in rollup routing only (nil filter).
    * @return columns: routed grouping dims… (STRING), `bucket`
    *   (TIMESTAMP, NULL ⇔ the reference's `:all`), then `value` LONG
    *   (counter) or `counter`,`total` LONG (average).
    */
  def getTimeseries(factId: String, dimId: String,
      filters: Map[String, Option[String]],
      start: Timestamp, finish: Timestamp,
      step: Step = Step.NoStep, offsetHours: Int = 0): DataFrame = {
    val (fact, dim, grouping) = route(factId, dimId, filters)
    val slice = dim.sliceMinutes.getOrElse(fact.sliceMinutes)
    servableRollup(fact, slice, grouping, step, offsetHours,
        start, finish) match {
      case Some(merged) =>
        Rollups.run(merged, fact, slice, grouping,
          filters, start, finish, step, offsetHours)
      case None =>
        Timeseries.run(prepare(fact.id, grouping), fact, slice, grouping,
          filters, start, finish, step, offsetHours)
    }
  }

  /** Registered partials for (fact, grouping), ready to query — or
    * None for compute-on-read. Serving from the rollup (O13/§4) gives
    * an identical result by re-aggregability, a smaller scan, and the
    * bucket range prunes whole date partitions before reading. An
    * EXTERNAL rollup may coexist with events written directly to this
    * service (assumed disjoint from the stream feeding it) — the local
    * events' slice partials are unioned in so the query sees both
    * histories. */
  /** The DAY-tier eligibility rule, shared by serving
    * ([[servableRollup]]) and introspection ([[explainRoute]]) so the
    * explain surface can never drift from what actually serves: the
    * day tier answers exactly when the read cannot tell tiers apart —
    * a day-or-coarser collapse (or :all) whose scan window is whole
    * UTC days (the slice window [floor(start), floor(finish)+slice)
    * landing on midnights), unshifted. Hour steps, offset reads, and
    * sub-day windows keep the slice tier — structural exactness,
    * mirroring the routing rule's tier rules. */
  private def dayTierEligible(slice: Int, step: Step, offsetHours: Int,
      start: Timestamp, finish: Timestamp): Boolean =
    offsetHours == 0 &&
      (step match {
        case Step.Day | Step.Week | Step.Month | Step.Year |
            Step.NoStep => true
        case _ => false
      }) && start != null && finish != null && {
        def midnight(t: java.time.Instant): Boolean =
          t.getEpochSecond % 86400L == 0
        val lo = TimeKernel.sliceFloorLocal(start, slice).toInstant
        val hi = TimeKernel.sliceFloorLocal(finish, slice).toInstant
          .plusSeconds(slice * 60L)
        midnight(lo) && midnight(hi)
      }

  /** Whether this service holds events of its own (pooled in memory or
    * in the durable store) — the flag that decides if an EXTERNAL
    * rollup read must union in locally-built partials. */
  private def hasLocalEvents: Boolean =
    buffer.nonEmpty || bulk.nonEmpty || storeDir.nonEmpty

  /** THE tier decision for one (fact, routed grouping) read — the
    * single place [[servableRollup]] (which turns the decision into a
    * frame) and [[explainRoute]] (which reports it) both consume, so
    * the explain surface structurally cannot drift from what serves.
    * Returns (tier, servedPath): tier ∈ `raw-scan` | `rollup-day` |
    * `rollup-slice` | `external-rollup` | `external-rollup+local-events`;
    * servedPath is the store directory the non-raw tiers read
    * (the DAY-tier store for `rollup-day`). */
  private def routeTier(factId: String, slice: Int, grouping: Seq[String],
      step: Step, offsetHours: Int, start: Timestamp,
      finish: Timestamp): (String, Option[String]) =
    rollupStore.get((factId, grouping)) match {
      case None => ("raw-scan", None)
      case Some(RollupReg(path, true, _)) =>
        (if (hasLocalEvents) "external-rollup+local-events"
         else "external-rollup", Some(path))
      case Some(RollupReg(path, false, dayPath)) => dayPath match {
        case Some(dp)
            if dayTierEligible(slice, step, offsetHours, start, finish) =>
          ("rollup-day", Some(dp))
        case _ => ("rollup-slice", Some(path))
      }
    }

  private def servableRollup(fact: graft.model.FactDef, slice: Int,
      grouping: Seq[String], step: Step = Step.NoStep,
      offsetHours: Int = 0, start: Timestamp = null,
      finish: Timestamp = null): Option[DataFrame] = {
    val routed = routeTier(fact.id, slice, grouping, step, offsetHours,
      start, finish)
    // every real serve passes here (single reads, each multi tile,
    // histograms, percentiles); explainRoute consults routeTier
    // directly, so introspection never inflates the workload
    recordRead(fact.id, grouping, routed._1)
    routed match {
      case ("raw-scan", _) => None
      case ("rollup-day", Some(dp)) => Some(Rollups.read(spark, dp))
      case ("rollup-slice", Some(p)) => Some(Rollups.read(spark, p))
      case (tier, Some(p)) => // the two external tiers
        val stored = Rollups.read(spark, p)
        if (tier.endsWith("+local-events")) {
          val local = Rollups
            .build(prepare(fact.id, grouping), fact, slice, grouping)
            .withColumn("bucket_date", to_date(col("bucket")))
          Some(stored.unionByName(local, allowMissingColumns = true))
        } else Some(stored)
      case (tier, None) => throw new IllegalStateException(
        s"routeTier returned $tier with no store path") // unreachable
    }
  }

  /** ROUTING INTROSPECTION — the serving-observability read a
    * dashboard operator needs ("which tile fell back to a raw scan,
    * and why is the refresh slow"): for each requested fact, the TIER
    * the exact read above would serve from, decided by the SAME code
    * paths ([[graft.operators.Timeseries.bestGrouping]] for the
    * grouping, the shared [[dayTierEligible]] rule for the day tier,
    * the same registration lookup), without touching a byte of any
    * store. Tiers:
    *
    *  - `rollup-day`   — registered internal rollup, day-tier-eligible
    *    window: the ~96×-fewer-rows store serves.
    *  - `rollup-slice` — registered internal rollup, slice tier.
    *  - `external-rollup` — registered external store (e.g.
    *    streaming-maintained); `+local-events` appended when pooled
    *    in-memory/durable events would be unioned in at read time.
    *  - `raw-scan`     — no registration for (fact, routed grouping):
    *    the read computes from raw events. At 100 TB this row is the
    *    one to fix (materialize or register the rollup) before the
    *    dashboard ships.
    *
    * Output: (fact, grouping, tier, registered) — `registered` is the
    * store path or null, so the row is actionable. Driver-gated with a
    * constant oracle; a spec pins explain == the plan actually
    * compiled (no-event-scan ↔ no `raw-scan` row). */
  def explainRoute(factIds: Seq[String], dimId: String,
      filters: Map[String, Option[String]],
      start: Timestamp, finish: Timestamp,
      step: Step = Step.NoStep, offsetHours: Int = 0): DataFrame = {
    import spark.implicits._
    require(factIds.nonEmpty, "explainRoute needs at least one fact")
    val facts = factIds.map(id => catalog.fact(id).getOrElse(
      throw new IllegalArgumentException(
        s"Non existent fact $id specified. Please check your schema.")))
    val dim = catalog.dimension(dimId).getOrElse(
      throw new IllegalArgumentException(
        s"Non existent dimension $dimId specified. Please check your schema"))
    val grouping =
      graft.operators.Timeseries.bestGrouping(dim.groupedBy, dim.id,
        filters.keySet)
    // the same slice-agreement contract as getTimeseriesMulti: the
    // explain reports what THE multi read would do, so a fact set the
    // read rejects must fail here identically, not report tiers for a
    // dashboard that cannot exist
    val slices = facts.map(f => dim.sliceMinutes.getOrElse(f.sliceMinutes))
      .distinct
    require(slices.size == 1,
      s"explainRoute facts disagree on the effective slice: " +
        s"${factIds.zip(facts.map(f => dim.sliceMinutes.getOrElse(f.sliceMinutes))).mkString(", ")}")
    val rows = factIds.zip(facts).map { case (id, fact) =>
      val slice = dim.sliceMinutes.getOrElse(fact.sliceMinutes)
      val (tier, path) =
        routeTier(id, slice, grouping, step, offsetHours, start, finish)
      (id, grouping.mkString(","), tier, path.orNull)
    }
    rows.toDF("fact", "grouping", "tier", "registered")
  }

  /** `get-histogram` (api.clj:38-41) — unimplemented in every reference
    * backend (postgres.clj:126-128); completed here. Returns one count
    * per (series × hist_bucket lower bound); a calendar `step` adds the
    * time axis (one histogram per series × hour/day/…, the same
    * O15/O17 kernels as [[getTimeseries]]); with `mergeSeries` the
    * series axis is collapsed too, bucket counts merged with `+` — the
    * reference's declared "single row histogram … merged with `+` if
    * merge-with unspecified". */
  def getHistogram(factId: String, dimId: String,
      filters: Map[String, Option[String]],
      start: Timestamp, finish: Timestamp,
      step: Step = Step.NoStep, offsetHours: Int = 0,
      mergeSeries: Boolean = false,
      mergeWith: Option[(Long, Long) => Long] = None): DataFrame = {
    val (fact, dim, grouping) = route(factId, dimId, filters)
    require(fact.ftype == FactType.Histogram,
      s"Fact $factId is not a histogram")
    val slice = dim.sliceMinutes.getOrElse(fact.sliceMinutes)
    // histogram partials are tall (series × slice × hist_bucket) rows
    // (Timeseries.sliceBuckets), so registered rollups serve histograms
    // exactly like counters — O(rollup) instead of O(events)
    val perSeries = servableRollup(fact, slice, grouping, step,
        offsetHours, start, finish) match {
      case Some(merged) =>
        Rollups.runHistogram(merged, fact, slice, grouping, filters,
          start, finish, step, offsetHours)
      case None =>
        Timeseries.runHistogram(prepare(fact.id, grouping),
          fact, slice, grouping, filters, start, finish, step, offsetHours)
    }
    if (mergeSeries) {
      // the reference's declared merge-with parameter (api.clj:38-41,
      // stub in every backend): per-bucket series counts reduced by a
      // user-supplied function, `+` when unspecified
      val merge = mergeWith
        .map(f => graft.functions.MergeWith(f)(col("value")))
        .getOrElse(sum(col("value")))
      val keys =
        if (step == Step.NoStep) Seq(col("hist_bucket"))
        else Seq(col("bucket"), col("hist_bucket"))
      perSeries.groupBy(keys: _*).agg(merge.as("value"))
    } else perSeries
  }

  /** Percentiles served from the histogram surface (O21 extension):
    * [[getHistogram]] (rollup-served when partials are registered)
    * composed with [[Timeseries.histPercentiles]] — per series, the
    * smallest bucket lower bound reaching q% of the total. */
  def getHistogramPercentiles(factId: String, dimId: String,
      filters: Map[String, Option[String]],
      start: Timestamp, finish: Timestamp,
      pcts: Seq[Long] = Seq(50L, 95L)): DataFrame = {
    val (_, _, grouping) = route(factId, dimId, filters)
    Timeseries.histPercentiles(
      getHistogram(factId, dimId, filters, start, finish), grouping, pcts)
  }

  /** Finest-granularity (slice-bucket) series, the engine's equivalent of
    * scanning one rollup table directly. */
  def getSliceSeries(factId: String, dimId: String,
      filters: Map[String, Option[String]],
      start: Timestamp, finish: Timestamp): DataFrame = {
    val (fact, dim, grouping) = route(factId, dimId, filters)
    val slice = dim.sliceMinutes.getOrElse(fact.sliceMinutes)
    rollupStore.get((fact.id, grouping)) match {
      // a registered internal store holds exactly these rows — serve
      // them instead of re-aggregating raw events into the same shape
      // (external stores skip: service-local events would be missing)
      case Some(RollupReg(path, false, _)) =>
        Rollups.sliceSeries(Rollups.read(spark, path), fact, slice,
          grouping, filters, start, finish)
      case _ =>
        val scanned = Timeseries.scan(prepare(fact.id, grouping), slice,
          grouping, filters, start, finish)
        Timeseries.sliceBuckets(scanned, fact, slice, grouping)
    }
  }

  /** The WINDOW-FREE slice-partials frame for one routed read — what
    * the parameterized SQL window function
    * ([[graft.sql.PipelineViews.installTimeseriesWindow]]) serves
    * from: the registered rollup when one exists (an external store
    * unions locally-built partials, exactly like the windowed read),
    * else partials built from raw events. Always the SLICE tier — a
    * window-parameterized surface cannot pick the day tier at install
    * time (eligibility depends on the window), and slice partials are
    * exact for every window. Returns (fact, effective slice, routed
    * grouping, partials with `bucket_date`). */
  private[graft] def routedSlicePartials(factId: String, dimId: String,
      filters: Map[String, Option[String]])
      : (FactDef, Int, Seq[String], DataFrame) = {
    val (fact, slice, grouping, frame, _) =
      routedWindowSources(factId, dimId, filters)
    (fact, slice, grouping, frame)
  }

  /** [[routedSlicePartials]] plus the DAY-grain tier when the routed
    * (fact, grouping) carries one — what the parameterized SQL window
    * function serves from since the day branch landed: the slice
    * partials answer EVERY window; the day frame (when present) lets
    * the SQL body route midnight-aligned windows onto ~96× fewer
    * rows behind a constant-folding alignment predicate, the same
    * window-dependent decision [[dayTierEligible]] makes for Scala
    * reads — made per CALL in SQL because it cannot be made at
    * install time. External rollups carry no service-built day tier
    * (their history is not ours to coarsen), so the day frame is
    * None there, exactly like [[routeTier]]. */
  private[graft] def routedWindowSources(factId: String, dimId: String,
      filters: Map[String, Option[String]])
      : (FactDef, Int, Seq[String], DataFrame, Option[DataFrame]) = {
    val (fact, dim, grouping) = route(factId, dimId, filters)
    val slice = dim.sliceMinutes.getOrElse(fact.sliceMinutes)
    val frame = servableRollup(fact, slice, grouping) match {
      case Some(merged) => merged
      case None => Rollups.build(prepare(fact.id, grouping), fact, slice,
          grouping)
        .withColumn("bucket_date", to_date(col("bucket")))
    }
    val dayFrame = rollupStore.get((fact.id, grouping)) match {
      case Some(RollupReg(_, false, Some(dp))) =>
        Some(Rollups.read(spark, dp))
      case _ => None
    }
    (fact, slice, grouping, frame, dayFrame)
  }

  // ---- internals -------------------------------------------------------

  private def route(factId: String, dimId: String,
      filters: Map[String, Option[String]]): (FactDef, DimensionDef, Seq[String]) = {
    val fact = catalog.fact(factId).getOrElse(throw new IllegalArgumentException(
      s"Non existent fact $factId specified. Please check your schema."))
    val dim = catalog.dimension(dimId).getOrElse(throw new IllegalArgumentException(
      s"Non existent dimension $dimId specified. Please check your schema"))
    (fact, dim, Timeseries.bestGrouping(dim.groupedBy, dim.id, filters.keySet))
  }

  /** Project canonical events into the prepared shape for one (fact,
    * grouping): dim columns pulled out of the categories map.
    * `__event_date` rides along so the scan can prune store
    * partitions; aggregation keys never include it, so it cannot leak
    * into results. */
  private def prepare(factId: String, grouping: Seq[String]): DataFrame = {
    val dimCols = grouping.map(d => col("categories").getItem(d).as(d))
    eventsDF
      .where(col("fact") === lit(factId))
      .select(dimCols :+ col("ts") :+ col("value") :+ col("__event_date"): _*)
  }
}
