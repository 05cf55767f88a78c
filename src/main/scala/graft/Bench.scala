package graft

import org.apache.spark.sql.SparkSession

/** Driver-run benchmark: every SparkEntry query against
  * SPARK_GRAFT_SF_DIR, one JSON line on stdout.
  *
  * Each query is forced through a `noop` datasource write — full
  * materialization of every output column (a bare `count()` lets
  * Spark prune the compute). One warmup query amortizes JVM/classload
  * + page-cache effects so per-query numbers reflect engine work.
  *
  * Host-noise adjudication (three consecutive rounds re-litigated
  * load-contaminated flags): the emitted JSON carries a `host` block —
  * 1-min load average and a fixed single-thread CPU probe, each
  * sampled at run start AND end. A probe that slows between samples,
  * or a load average near/above the core count, says the tail numbers
  * ran on a contended host; `tools/bench_compare.py --rerun` then
  * re-times exactly the flagged set in a fresh session before any
  * flag is believed. */
object Bench {

  /** Fixed single-thread CPU probe: a deterministic xorshift fold, in
    * milliseconds. On an idle host this is stable to a few percent;
    * competing load inflates it proportionally. */
  private def cpuProbeMs(): Double = {
    var x = 0x9e3779b97f4a7c15L
    val t0 = System.nanoTime()
    var i = 0
    while (i < (1 << 26)) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      i += 1
    }
    val dt = (System.nanoTime() - t0) / 1e6
    if (x == 42L) System.err.println("") // consume x: no dead-code elim
    dt
  }

  private def loadAvg(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .getSystemLoadAverage

  def main(args: Array[String]): Unit = {
    val probeStart = cpuProbeMs()
    val loadStart = loadAvg()
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // warmup: JIT + classloading + file index + page cache + parquet
    // reader codegen for every table family, not measured. The counts
    // double as input provenance: cross-round per-query deltas are
    // only attributable to the engine when the recorded table sizes
    // match; a fixture regeneration shows up as drift here (SCALE.md
    // §9 — data drift vs engine regression must be decidable).
    val tables =
      Seq("lineitem", "orders", "customer", "events", "documents", "embeddings")
        .map { t =>
          val path = s"$sfDir/$t.parquet"
          // events may carry a TIMESTAMP(NANOS) ts depending on the
          // fixture generation — resolve its schema adaptively rather
          // than flipping the legacy session conf
          val df =
            if (t == "events") spark.read
              .schema(graft.sources.EventSource.adaptiveSchema(spark, path))
              .parquet(path)
            else spark.read.parquet(path)
          t -> (df.count(), new java.io.File(path).length())
        }
    // chars of document text ~ regex/tokenizer workload for the whole
    // text plane; rows+bytes alone can hide a content re-roll
    val docChars = spark.read.parquet(s"$sfDir/documents.parquet")
      .agg(org.apache.spark.sql.functions.sum(
        org.apache.spark.sql.functions.length(
          org.apache.spark.sql.functions.col("text"))))
      .head.getLong(0)
    SparkEntry.queries("q1_pricing_summary")(spark, sfDir)
      .write.format("noop").mode("overwrite").save()

    def runOnce(name: String,
        fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      val ok =
        try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true }
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}"); false
        }
      val dt = (System.nanoTime() - t0) / 1e9
      System.err.println(f"[bench] $name pass: $dt%.3f s")
      // operators may cache intra-query intermediates (e.g. shingle
      // tables); drop them BLOCKING so the next query doesn't inherit
      // eviction/GC pressure (catalog.clearCache is async)
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = true))
      spark.catalog.clearCache()
      if (ok) dt else -1.0
    }

    // three passes per query, min taken: measures steady-state engine
    // throughput rather than first-run JIT or transient host noise
    // (observed multi-second bursts spanning two consecutive passes)
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    val passes = sys.env.getOrElse("SPARK_GRAFT_BENCH_PASSES", "3").toInt
    val results = selected.map { case (name, fn) =>
      val runs = Seq.fill(passes)(runOnce(name, fn))
      val ok = runs.filter(_ >= 0)
      name -> (if (ok.isEmpty) -1.0 else ok.min)
    }

    // lifecycle build/read split: the combined entries above measure
    // the full lifecycle (the deployment-amortized trade); these twin
    // timings separate the state mutation from the serve so a read
    // regression is visible on its own axis
    val phaseResults = SparkEntry.lifecycleSplits.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
      .flatMap { case (name, phases) =>
        def once(): (Double, Double) = {
          val (build, read) = phases(spark, sfDir)
          val t0 = System.nanoTime()
          build()
          val t1 = System.nanoTime()
          read().write.format("noop").mode("overwrite").save()
          val t2 = System.nanoTime()
          spark.sparkContext.getPersistentRDDs.values
            .foreach(_.unpersist(blocking = true))
          spark.catalog.clearCache()
          ((t1 - t0) / 1e9, (t2 - t1) / 1e9)
        }
        // try PER PASS (the combined loop's discipline): a transient
        // failure on a later pass must not discard earlier passes
        val runs = Seq.fill(passes) {
          try Some(once())
          catch { case e: Throwable =>
            System.err.println(s"[bench] $name phases failed: ${e.getMessage}")
            None
          }
        }.flatten
        if (runs.isEmpty) {
          // a pair that failed every pass still EMITS (-1, like the
          // combined loop's failure convention) — a silently-absent
          // pair reads as "not benched" and broke split-pair coverage
          // once (BENCH_local_r11b missing ann_ivf_persisted__*)
          System.err.println(s"[bench] $name phases: all passes failed")
          Seq(s"${name}__build" -> -1.0, s"${name}__read" -> -1.0)
        } else {
          val b = runs.map(_._1).min
          val r = runs.map(_._2).min
          System.err.println(f"[bench] $name build: $b%.3f s read: $r%.3f s")
          Seq(s"${name}__build" -> b, s"${name}__read" -> r)
        }
      }
    // split-pair coverage is structural now: every selected
    // lifecycleSplits key MUST be present as both __build and __read
    val phaseKeys = phaseResults.map(_._1).toSet
    val missingPairs = SparkEntry.lifecycleSplits.keySet
      .filter(n => only.forall(_.contains(n)))
      .flatMap(n => Seq(s"${n}__build", s"${n}__read"))
      .diff(phaseKeys)
    require(missingPairs.isEmpty,
      s"bench dropped split pairs: ${missingPairs.toSeq.sorted.mkString(", ")}")

    val qs = (results ++ phaseResults)
      .map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ >= 0).sum
    val prov = tables.map { case (t, (rows, bytes)) =>
      "\"" + t + "\":{\"rows\":" + rows + ",\"bytes\":" + bytes + "}"
    }.mkString("{", ",", "}")
    val probeEnd = cpuProbeMs()
    val loadEnd = loadAvg()
    val cores = Runtime.getRuntime.availableProcessors()
    val host = s"""{"load_start":$loadStart,"load_end":$loadEnd,""" +
      s""""probe_ms_start":$probeStart,"probe_ms_end":$probeEnd,""" +
      s""""cores":$cores}"""
    // one id per run, on both stdout lines and in the default artifact
    // name: successive runs never overwrite each other's full line, and
    // a compact line's `full_json` always points at its own run
    val runId = s"${System.currentTimeMillis()}-${ProcessHandle.current.pid}"
    val line = s"""{"metric":"total","value":$total,"unit":"sec","run_id":"$runId","queries":$qs,"sf":"$sfDir","tables":$prov,"doc_chars":$docChars,"host":$host}"""
    println(line)
    // the full line ALWAYS lands as a file too (SPARK_GRAFT_BENCH_OUT or
    // a per-run tmpdir default) so a stdout-tail consumer can recover
    // every key.
    val fullPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      new java.io.File(sys.props("java.io.tmpdir"),
        s"graft_bench_full_$runId.json").getPath)
    java.nio.file.Files.write(java.nio.file.Paths.get(fullPath),
      (line + "\n").getBytes("UTF-8"))
    // Round-15 measurement-contract fix (r14 VERDICT #2): the driver
    // keeps only a ~2000-char stdout TAIL, and the full line above is
    // ~13 KB — its head truncates, so the driver's per-query PERF
    // compare has parsed NOTHING in 14 rounds (BENCH_r01..r14 all
    // carry `parsed: null`). Emit ONE MORE, compact JSON line as the
    // final stdout line: same metric/value/unit/sf/host as the full
    // line, plus the SLOWEST query keys that fit a tail-safe byte
    // budget (regressions worth gating live in the heavy keys) and
    // the path to the full artifact. Both lines come from the same
    // measurement pass.
    val byCost = (results ++ phaseResults).sortBy { case (_, v) => -v }
    val budget = 1400 // compact line stays < ~1800 B incl. the
    // envelope, so it + sbt's `[success]` trailer fit a 2000-char tail
    def ms3(v: Double): String = { // locale-safe fixed precision
      val r = math.rint(v * 1000) / 1000
      if (r == r.toLong) r.toLong + ".0" else r.toString
    }
    // strictly slowest-first: packing stops at the first entry that
    // does not fit, so every printed key is slower than every omitted one
    val ents = byCost.map { case (k, v) => "\"" + k + "\":" + ms3(v) }
    var used = -1 // n entries take n - 1 commas
    val kept = ents.takeWhile { e => used += e.length + 1; used <= budget }
    val omitted = ents.size - kept.size
    val packed = kept.mkString(",")
    println(s"""{"metric":"total","value":$total,"unit":"sec",""" +
      s""""run_id":"$runId",""" +
      s""""queries":{$packed},"sf":"$sfDir","n_queries":${byCost.size},""" +
      s""""queries_omitted":$omitted,"full_json":"$fullPath",""" +
      s""""host":$host}""")
    spark.stop()
  }
}
