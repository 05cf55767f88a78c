package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Boilerplate, Decontaminate, Dedup, Multimodal, Pii, TextAnalysis}

/** Driver-checkable dedup + text-analysis queries over the synthetic
  * `documents` table (`doc_id, text, lang, source, n_chars`), each with
  * a DuckDB oracle that mirrors the operator's deterministic md5-based
  * hashing exactly (SQL hex-cast `'0x'||substr(md5(…),1,15)` ≡ Spark
  * `conv(substring(md5(…),1,15),16,10)`).
  */
object DocumentQueries {

  private def docs(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/documents.parquet")

  /** stream_manifest's maintained store: the corpus replayed as THREE
    * micro-batches (doc_id mod 3 split, mtime-ordered landing files),
    * so the read-side re-aggregation across `__batch_id=` dirs is
    * genuinely exercised. */
  private def streamedManifest(s: SparkSession, dir: String): String =
    Artifacts.once(s, dir, "stream_manifest") {
      val base = Artifacts.tempDir(s, "graft_streamman")
      val d = docs(s, dir)
      val t0 = System.currentTimeMillis()
      (0 until 3).foreach { i =>
        EventQueries.landFile(base,
          d.where(pmod(col("doc_id"), lit(3)) === i), s"f$i", t0 + i * 60000L)
      }
      val manPath = s"$base/manifest"
      val stream = s.readStream.schema(d.schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$base/landing")
      val q = graft.streaming.StreamingIngest
        .maintainManifest(stream, "text", "source", manPath)
        .option("checkpointLocation", s"$base/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      manPath
    }

  /** BPE training result shared by `bpe_merges` and `bpe_tokenize`:
    * the merge-table frame (collected — 12 rows) and the ordered
    * (left, right) pairs the tokenizer consumes. Training is the
    * artifact; serving reuses it. */
  private def trainedBpe(s: SparkSession, dir: String)
      : (DataFrame, Seq[(String, String)]) =
    Artifacts.once(s, dir, "bpe") {
      // bpeTrain returns a DRIVER-LITERAL frame (merges.toSeq.toDF) —
      // cache it as-is, NEVER checkpointed: a localCheckpoint here
      // would tie the cached frame to persisted blocks that a later
      // session-wide unpersist (the bench runs one between queries)
      // silently destroys, failing every subsequent reuse
      val m = graft.operators.TextAnalysis
        .bpeTrain(docs(s, dir), "text", nMerges = 12)
      val pairs = m.orderBy(col("step"))
        .collect().map(r => (r.getString(1), r.getString(2))).toSeq
      (m, pairs)
    }

  /** BM25 postings store — the deployment shape: the index is an
    * offline ARTIFACT, queries are served from it with partition-pruned
    * reads. */
  private def textIndexDir(s: SparkSession, dir: String): String =
    Artifacts.once(s, dir, "bm25") {
      val p = Artifacts.tempDir(s, "graft_bm25idx")
      TextAnalysis.buildTextIndex(docs(s, dir), "text", "doc_id",
        p, nBuckets = 64)
      p
    }

  /** The erasure queries' deletion subjects: the sf0.01 rank-1 BM25
    * winners of the three standing queries — erasing them provably
    * REORDERS the served ranking at the gate's scale (a subject that
    * never ranked would make exclusion unobservable). */
  private val erasedDocIds = Seq("292", "368", "317")

  /** A dedicated index that has PROCESSED a deletion request
    * (tombstones live): built like [[textIndexDir]], then
    * `eraseFromTextIndex(erasedDocIds)`. Its own store — erasure on
    * the shared fixture would corrupt every other indexed query. */
  private def erasedTextIndexDir(s: SparkSession, dir: String): String =
    Artifacts.once(s, dir, "bm25_erased") {
      val p = Artifacts.tempDir(s, "graft_bm25erase")
      TextAnalysis.buildTextIndex(docs(s, dir), "text", "doc_id",
        p, nBuckets = 64)
      TextAnalysis.eraseFromTextIndex(s, p, erasedDocIds)
      p
    }

  /** The erased index COMPACTED — the physical closer's output: no
    * tombstones, erased bytes gone. Must serve identically to the
    * tombstoned input (shared oracle). */
  private def erasedClosedTextIndexDir(s: SparkSession,
      dir: String): String =
    Artifacts.once(s, dir, "bm25_erasedclosed") {
      val in = erasedTextIndexDir(s, dir)
      val p = Artifacts.tempDir(s, "graft_bm25closed")
      TextAnalysis.compactTextIndex(s, in, p)
      p
    }

  /** An index whose deletion request arrived as a STREAM: built like
    * [[textIndexDir]], then the subjects consumed through
    * `StreamingIngest.eraseTextIndexStream` — run TWICE from fresh
    * checkpoints (a full redelivery of every request), so the serving
    * gate also proves replay idempotence: a second delivery finds the
    * ids tombstoned and subtracts nothing, or the shared batch-erased
    * oracle would catch the stats drift. */
  private def streamErasedTextIndexDir(s: SparkSession,
      dir: String): String =
    Artifacts.once(s, dir, "bm25_streamerased") {
      val base = Artifacts.tempDir(s, "graft_bm25streamerase")
      val idx = s"$base/index"
      TextAnalysis.buildTextIndex(docs(s, dir), "text", "doc_id",
        idx, nBuckets = 64)
      import s.implicits._
      val reqDir = s"$base/requests"
      erasedDocIds.toDF("id").coalesce(1).write.parquet(reqDir)
      def drain(ckpt: String): Unit = {
        val stream = s.readStream
          .schema(org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("id",
              org.apache.spark.sql.types.StringType))))
          .parquet(reqDir)
        val q = graft.streaming.StreamingIngest
          .eraseTextIndexStream(stream, "id", idx)
          .option("checkpointLocation", ckpt)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      drain(s"$base/ckpt1")
      drain(s"$base/ckpt2") // the redelivery: must change nothing
      idx
    }

  /** Two-batch index whose batches mirror `drift_sources`' split
    * (batch 0 = low-numbered sources, batch 1 = the rest) — lets the
    * index-derived drift query share the corpus-scan oracle. */
  private def splitTextIndexDir(s: SparkSession, dir: String): String =
    Artifacts.once(s, dir, "bm25_split") {
      val p = Artifacts.tempDir(s, "graft_bm25split")
      val d = docs(s, dir)
      val srcNum = substring(col("source"), 4, 10).cast("int")
      TextAnalysis.buildTextIndex(d.where(srcNum < 10), "text", "doc_id",
        p, nBuckets = 64)
      TextAnalysis.appendToTextIndex(d.where(srcNum >= 10), "text",
        "doc_id", p)
      p
    }

  /** STREAMING-maintained BM25 index: the documents table replayed as
    * a bounded file stream through
    * `StreamingIngest.maintainTextIndex` — per-micro-batch postings +
    * stats directories, zero streaming state. Served identically to
    * the batch-built index (and shares the scan-time oracle). */
  private def streamedTextIndexDir(s: SparkSession, dir: String): String =
    Artifacts.once(s, dir, "bm25_stream") {
      val base = Artifacts.tempDir(s, "graft_bm25stream")
      val idx = s"$base/index"
      val schema = s.read.parquet(s"$dir/documents.parquet").schema
      val stream = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .option("pathGlobFilter", "documents.parquet")
        .parquet(dir)
      val q = graft.streaming.StreamingIngest
        .maintainTextIndex(stream, "text", "doc_id", idx, nBuckets = 64)
        .option("checkpointLocation", s"$base/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      idx
    }

  /** Streaming scrub output: the documents table replayed as a bounded
    * file stream through the ROW-LOCAL scrub chain (augment →
    * normalize → PII count/redact) — all plain column algebra, so the
    * same operators run under Structured Streaming with an append
    * sink, no state, no watermark. The twin proves the text plane's
    * scrub stage deploys as a continuous pipeline verbatim. */
  private def streamedScrub(s: SparkSession, dir: String): String =
    Artifacts.once(s, dir, "stream_scrub") {
      val base = Artifacts.tempDir(s, "graft_streamscrub")
      val out = s"$base/out"
      val schema = s.read.parquet(s"$dir/documents.parquet").schema
      val stream = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .option("pathGlobFilter", "documents.parquet")
        .parquet(dir)
      val clean = TextAnalysis.normalizeWs(
        piiAugmented(col("doc_id"), col("text")))
      val q = stream
        .select(col("doc_id"), col("source"),
          graft.operators.Pii.countMatches(clean,
            graft.operators.Pii.EmailRe).as("n_emails"),
          Pii.redact(clean).as("scrubbed"))
        .writeStream.outputMode("append").format("parquet")
        .option("path", out)
        .option("checkpointLocation", s"$base/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      out
    }

  /** Replay documents.parquet as a file stream of TRAINING docs
    * (doc_id % 25 ≠ 0) through the streaming decontamination
    * pipeline; returns the per-batch report store. */
  private def streamedDecon(s: SparkSession, dir: String): String =
    Artifacts.once(s, dir, "stream_decon") {
      val base = Artifacts.tempDir(s, "graft_streamdecon")
      val out = s"$base/out"
      val schema = s.read.parquet(s"$dir/documents.parquet").schema
      val stream = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .option("pathGlobFilter", "documents.parquet")
        .parquet(dir)
        .where(col("doc_id") % 25 =!= 0)
      val evalDocs = docs(s, dir).where(col("doc_id") % 25 === 0)
      val q = graft.streaming.StreamingIngest.decontaminateStream(
          stream, evalDocs, "text", "doc_id", out)
        .option("checkpointLocation", s"$base/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      out
    }

  /** Materialized near-dup pair list, persisted to parquet — the
    * pipeline's deployment shape: pair generation is an ARTIFACT
    * consumed by several downstream steps (cluster collapse,
    * consensus), not recomputed per consumer.
    * `legacy_dedup_ngram_jaccard` itself stays self-contained so the
    * generator's full cost remains measured. */
  private def jaccardPairsArtifact(s: SparkSession, dir: String): DataFrame = {
    val path = Artifacts.once(s, dir, "jaccard_pairs") {
      val p = Artifacts.tempDir(s, "graft_jpairs")
      Dedup.jaccardPairsPostingKernel(docs(s, dir), "text", "doc_id",
        k = 3, thresholdE4 = 5000)
        .write.mode("overwrite").parquet(p)
      p
    }
    s.read.parquet(path)
  }

  /** Deterministic PII augmentation (the synthetic-media pattern: the
    * corpus has no PII, so both sides inject the same closed-form
    * snippets and the ENGINE must genuinely find/redact them):
    * id%4=0 → email, id%4=1 → phone, id%4=2 → IPv4, id%4=3 → none;
    * id%10=0 additionally gets a second IP (multi-match coverage —
    * overlaps the email class at id%20=0). */
  private def piiAugmented(id: org.apache.spark.sql.Column,
      text: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    concat(text,
      when(id % 4 === 0, concat(lit(" contact user"), id.cast("string"),
        lit("@mail.example.com now"))).otherwise(""),
      when(id % 4 === 1, concat(lit(" call +1-555-"),
        (id % 9000 + 1000).cast("string"))).otherwise(""),
      when(id % 4 === 2, concat(lit(" host 10."), (id % 256).cast("string"),
        lit("."), ((id * 3) % 256).cast("string"), lit("."),
        (id % 250).cast("string"))).otherwise(""),
      when(id % 10 === 0, concat(lit(" backup 192.168.0."),
        (id % 200).cast("string"))).otherwise(""))

  // single-line fragments: embedding a multiline fragment inside an
  // outer stripMargin string would strip the `|` of `||` continuations
  private val piiAugmentedSql: String = Seq(
    "text",
    "CASE WHEN doc_id % 4 = 0 THEN ' contact user' " +
      "|| CAST(doc_id AS VARCHAR) || '@mail.example.com now' ELSE '' END",
    "CASE WHEN doc_id % 4 = 1 THEN ' call +1-555-' " +
      "|| CAST(doc_id % 9000 + 1000 AS VARCHAR) ELSE '' END",
    "CASE WHEN doc_id % 4 = 2 THEN ' host 10.' " +
      "|| CAST(doc_id % 256 AS VARCHAR) || '.' " +
      "|| CAST((doc_id * 3) % 256 AS VARCHAR) || '.' " +
      "|| CAST(doc_id % 250 AS VARCHAR) ELSE '' END",
    "CASE WHEN doc_id % 10 = 0 THEN ' backup 192.168.0.' " +
      "|| CAST(doc_id % 200 AS VARCHAR) ELSE '' END"
  ).mkString(" || ")

  /** Deterministic boilerplate augmentation: a corpus-wide nav header
    * and a per-source copyright footer around every document — the
    * engine must discover BOTH df tiers (500-doc header, 25-doc
    * footers) from the data and strip them. */
  private def boilerAugmented(text: org.apache.spark.sql.Column,
      source: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    concat(lit("NAV HOME ABOUT CONTACT\n"), text,
      lit("\nCOPYRIGHT "), source, lit(" ALL RIGHTS RESERVED"))

  private val boilerAugmentedSql: String =
    "'NAV HOME ABOUT CONTACT' || chr(10) || text || chr(10) " +
      "|| 'COPYRIGHT ' || source || ' ALL RIGHTS RESERVED'"

  /** Two-phase decomposition of the incremental-clusters lifecycle:
    * BUILD resolves the standing corpus (shingles → df-capped pairs →
    * CC labels — the deployment-amortized artifact a real pipeline
    * persists), READ closes the daily batch against it (batch×corpus
    * probe + batch-internal pairs + incremental label propagation —
    * the recurring cost). [[graft.Bench]] times them separately; the
    * combined `queries` entry stays exactly build(); read(). */
  private def clustersIncrementalPhases(s: SparkSession,
      dir: String): (() => Unit, () => DataFrame) = {
    val d = docs(s, dir)
    val isBatch = col("doc_id") % 5 === 4
    var oldHs: DataFrame = null
    var oldLabels: DataFrame = null
    val build = () => {
      // each side's shingle frame is computed ONCE and feeds all three
      // pair stages (old-internal, batch×old probe, batch-internal) —
      // the md5 kernel never re-runs per operator call; the standing
      // artifacts MATERIALIZE here (the build is the thing measured)
      oldHs = Dedup.shingleHashKernel(d.where(!isBatch), "text",
        "doc_id", k = 3).localCheckpoint(true)
      val oldPairs = Dedup.jaccardPairsPostingKernelFromShingles(oldHs,
        thresholdE4 = 5000)
      oldLabels = Dedup.connectedComponents(
        oldHs.select(col("id").as("doc_id")), "doc_id", oldPairs,
        "id_a", "id_b").localCheckpoint(true)
      ()
    }
    val read = () => {
      val batchHs = Dedup.shingleHashKernel(d.where(isBatch), "text",
        "doc_id", k = 3).localCheckpoint(true)
      val incPairs = Dedup.jaccardPairsAgainstFromShingles(batchHs, oldHs,
          thresholdE4 = 5000)
        .select(col("id_new").as("id_a"), col("id_old").as("id_b"))
      val batchPairs = Dedup
        .jaccardPairsPostingKernelFromShingles(batchHs, thresholdE4 = 5000)
        .select(col("id_a"), col("id_b"))
      Dedup.connectedComponentsIncremental(d.select(col("doc_id")),
        "doc_id", oldLabels, "doc_id", "component",
        incPairs.unionByName(batchPairs), "id_a", "id_b")
    }
    (build, read)
  }

  /** The clone-augmented corpus shared by the canonical clustering
    * gates: originals plus re-keyed copies of doc_id%13=5 (offset
    * 1000001, so a clone lands in a DIFFERENT doc_id%5 batch class
    * than its original — the incremental twin's content-adoption
    * path crosses the batch/corpus split). */
  private def cloneAugmented(s: SparkSession, dir: String): DataFrame = {
    val d0 = docs(s, dir).select(col("doc_id"), col("text"))
    d0.unionByName(d0.where(col("doc_id") % 13 === 5)
      .select((col("doc_id") + 1000001L).as("doc_id"), col("text")))
  }

  /** Two-phase decomposition of the CANONICAL incremental close:
    * BUILD resolves the standing corpus with [[Dedup.clustersCanonical]]
    * (the persisted artifact), READ closes the daily batch at
    * distinct-content cardinality. Shares the full canonical
    * re-resolve's oracle verbatim (labels provably equal when the df
    * caps agree — Dedup.clustersCanonicalIncremental scaladoc). */
  private def canonicalIncPhases(s: SparkSession,
      dir: String): (() => Unit, () => DataFrame) = {
    val base = cloneAugmented(s, dir)
    val isBatch = col("doc_id") % 5 === 4
    var arts: Dedup.CanonicalCorpusArtifacts = null
    var labels: DataFrame = null
    val build = () => {
      val corpus = base.where(!isBatch).localCheckpoint(true)
      val (lab, a) = Dedup.clustersCanonicalWithArtifacts(corpus,
        "text", "doc_id", thresholdE4 = 5000, maxDf = 1000)
      labels = lab.localCheckpoint(true)
      // the build's corpus-side artifacts ARE the persisted index a
      // deployment would serve from — pin them so the daily close
      // (read phase) never re-scans the corpus text. Bounds: ids +
      // md5s + 60-bit shingle hashes, never documents (perDocCanon is
      // already pinned by the build; contentCanon is one (md5, id) row
      // per distinct content).
      arts = Dedup.CanonicalCorpusArtifacts(a.perDocCanon,
        a.contentCanon.localCheckpoint(true), a.repShingles)
      ()
    }
    val read = () => Dedup.clustersCanonicalIncrementalFromArtifacts(
      base.where(isBatch), "text", "doc_id", arts, labels,
      thresholdE4 = 5000, maxDf = 1000)
    (build, read)
  }

  /** The lifecycle queries' two-phase forms, consumed by
    * [[graft.Bench]] for separate `__build` / `__read` timings. */
  val lifecycleSplits
      : Map[String, (SparkSession, String) => (() => Unit, () => DataFrame)] =
    Map("legacy_dedup_clusters_incremental" -> (clustersIncrementalPhases _),
      "dedup_canonical_incremental" -> (canonicalIncPhases _))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // exact dedup: canonical (min) doc_id per identical text
    "dedup_exact" -> ((s, dir) =>
      Dedup.exact(docs(s, dir), "text", "doc_id")),

    // n-gram Jaccard near-dup pairs (3-gram shingles, j >= 0.5).
    // Posting-list candidate generation (df cap folded into the index
    // build, pairs emitted in a JVM loop): on this synthetic corpus the
    // shingle vocabulary is tiny (~27k distinct over 5k docs, avg df
    // ~10), so PPJoin prefixes stay dense and posting lists measure
    // ~2x faster than either join form; on natural corpora (df ~1
    // tails) Dedup.jaccardPairsPrefixKernel additionally prunes the
    // candidate stage — identical output, spec-pinned.
    "legacy_dedup_ngram_jaccard" -> ((s, dir) =>
      Dedup.jaccardPairsPostingKernel(docs(s, dir), "text", "doc_id", k = 3,
        thresholdE4 = 5000)),

    // the asymmetric quote/subset detector: pairs whose SMALLER side
    // is >= 70% shingle-contained in the other — catches wholesale
    // quotation that symmetric Jaccard's union term drowns
    "legacy_dedup_containment" -> ((s, dir) =>
      Dedup.containmentPairs(docs(s, dir), "text", "doc_id", k = 3,
        thresholdE4 = 7000)),

    // MinHash + LSH (16 hashes, 4 bands) verified at j >= 0.5
    "dedup_minhash_lsh" -> ((s, dir) =>
      Dedup.minhashLshPairsKernel(docs(s, dir), "text", "doc_id")),

    // the cluster-collapse step: near-dup pairs → connected components
    // → one canonical (min) doc id per transitive cluster. The oracle
    // recomputes the same pairs and closes them with a recursive CTE,
    // so the iterative min-label propagation must converge to the
    // exact same partition of the corpus.
    "legacy_dedup_clusters" -> ((s, dir) => {
      val d = docs(s, dir)
      Dedup.connectedComponents(d.select(col("doc_id")), "doc_id",
        jaccardPairsArtifact(s, dir), "id_a", "id_b")
    }),

    // CLONE-IMMUNE clustering (Dedup.clustersCanonical — the
    // production order: exact dedup first, near-dup at distinct-content
    // cardinality, members inherit their representative's component).
    // The corpus is clone-AUGMENTED (re-keyed copies of doc_id%13=5)
    // so the gate exercises the collapse: clones must land in their
    // original's cluster, and near-dup work never sees them. The SF-1
    // soak measured the all-docs kernel going clone-quadratic; this
    // form's pair stage is clone-independent by construction.
    "dedup_clusters_canonical" -> ((s, dir) =>
      Dedup.clustersCanonical(cloneAugmented(s, dir), "text", "doc_id",
        thresholdE4 = 5000, maxDf = 1000)),

    // the INCREMENTAL canonical close (Dedup.clustersCanonicalIncremental):
    // corpus resolved once (build phase), the %5=4 batch closes against
    // it at distinct-content cardinality — content-matched batch docs
    // adopt by md5 equality (clones cross the split by construction),
    // novel contents probe corpus reps and pair among themselves. The
    // result must equal the full canonical re-resolve: oracle shared
    // verbatim with dedup_clusters_canonical.
    "dedup_canonical_incremental" -> ((s, dir) => {
      val (build, read) = canonicalIncPhases(s, dir)
      build(); read()
    }),

    // cluster COHESION (the transitivity-gap read that tunes the
    // threshold): per multi-member component, how many of its C(n,2)
    // pairs are DIRECT edges (completeness near 10⁴ = clique-like
    // near-dups; low = chains glued by transitivity — the threshold
    // is too loose) plus the exact integral similarity mass. Pairs
    // and labels are the artifacts legacy_dedup_clusters already builds.
    "dedup_cluster_cohesion" -> ((s, dir) => {
      val d = docs(s, dir)
      val pairs = jaccardPairsArtifact(s, dir)
      val labels = Dedup.connectedComponents(d.select(col("doc_id")),
        "doc_id", pairs, "id_a", "id_b")
      val sizes = labels.groupBy(col("component"))
        .agg(count(lit(1)).as("n_members"))
        .where(col("n_members") > 1)
      val pj = pairs
        .join(labels.select(col("doc_id").as("id_a"), col("component")),
          Seq("id_a"))
        .withColumn("jacc_e4",
          expr("10000 * common DIV (sz_a + sz_b - common)"))
        .groupBy(col("component"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(col("jacc_e4")).as("sum_jaccard_e4"))
      sizes.join(pj, Seq("component"))
        .select(col("component"), col("n_members"), col("n_pairs"),
          expr("10000 * n_pairs DIV (n_members * (n_members - 1) DIV 2)")
            .as("completeness_e4"),
          col("sum_jaccard_e4"))
    }),

    // cluster-SIZE distribution (the dedup yield curve): how many
    // components of each member count — the number that tells you
    // whether duplication is a few mega-clusters (template spam, one
    // canonical survives thousands) or a long tail of pairs; two
    // count-only aggregations over the component labels, O(sizes)
    // output
    "dedup_cluster_sizes" -> ((s, dir) => {
      val d = docs(s, dir)
      Dedup.connectedComponents(d.select(col("doc_id")), "doc_id",
          jaccardPairsArtifact(s, dir), "id_a", "id_b")
        .groupBy(col("component"))
        .agg(count(lit(1)).as("sz"))
        .groupBy(col("sz").as("cluster_size"))
        .agg(count(lit(1)).as("n_clusters"))
    }),

    // the daily dedup-merge lifecycle end to end: labels exist for the
    // standing corpus; a new batch (doc_id % 5 = 4) contributes
    // batch×corpus pairs (the incremental index probe) plus
    // batch-internal pairs, and the label fold must equal the full
    // recompute's closure — old×old pairs are never regenerated.
    // COMPARISON BASELINE, not the served default: this all-docs form
    // probes at document cardinality, so its cost is clone-quadratic
    // (measured 106 s at SF-1 on the x10 clone fixture, vs 5.4 s for
    // the canonical close) — production serves
    // dedup_canonical_incremental and keeps this form as the
    // semantic baseline it is spec-pinned against; the SF-1 soak
    // measures it on the DE-CLONED fixture (its df-cap linear regime)
    "legacy_dedup_clusters_incremental" -> ((s, dir) => {
      val (build, read) = clustersIncrementalPhases(s, dir)
      build(); read()
    }),

    // leakage-safe train/val/test: the split hash rides the near-dup
    // COMPONENT label, so a duplicate pair can never straddle train
    // and eval — profiled per split; n_clusters counts assignment
    // units (a cluster appears in exactly one split by construction)
    "split_leakage_profile" -> ((s, dir) => {
      import graft.operators.Sampling
      val d = docs(s, dir)
      val comp = Dedup.connectedComponents(d.select(col("doc_id")), "doc_id",
        jaccardPairsArtifact(s, dir), "id_a", "id_b")
      Sampling.splitByGroup(d, "doc_id", comp, "doc_id", "component",
          Seq("train" -> 8000, "val" -> 1000, "test" -> 1000))
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"),
          count_distinct(col("split_group")).as("n_clusters"),
          sum(col("n_chars")).as("sum_chars"))
    }),

    // the same cluster collapse via alternating star contraction
    // (O(log² n) rounds regardless of component diameter — the
    // adversarial-depth twin of the min-label propagation above);
    // identical components, same recursive-CTE oracle
    "legacy_dedup_clusters_star" -> ((s, dir) => {
      val d = docs(s, dir)
      Dedup.connectedComponentsStar(d.select(col("doc_id")), "doc_id",
        jaccardPairsArtifact(s, dir), "id_a", "id_b")
    }),

    // canonical-doc selection: the cluster collapse FINISHED — per
    // component keep the highest-quality member (ties → lowest id),
    // with the member count as the dedup yield signal. One join on ids
    // + one shared window partitioning on component.
    "dedup_keep_best" -> ((s, dir) => {
      val d = docs(s, dir)
      val comps = Dedup.connectedComponents(d.select(col("doc_id")),
        "doc_id", jaccardPairsArtifact(s, dir), "id_a", "id_b")
      val scores = TextAnalysis.statsKernel(d, "text", "doc_id")
        .select(col("id").as("doc_id"), col("quality_e4"))
      Dedup.keepBest(comps, scores, "doc_id", "quality_e4")
    }),

    // INCREMENTAL dedup: the 20% "new batch" (doc_id % 5 = 4) probed
    // against the 80% existing corpus — pairs are only new×old (the
    // daily-ingest shape; the corpus is never re-paired with itself)
    "dedup_incremental" -> ((s, dir) => {
      val d = docs(s, dir)
      Dedup.jaccardPairsAgainst(
        d.where(col("doc_id") % 5 === 4),
        d.where(col("doc_id") % 5 =!= 4),
        "text", "doc_id", k = 3, thresholdE4 = 5000)
    }),

    // SimHash fingerprints per doc (32-bit, md5-vote; row-local kernel
    // form — simhashTable is the declarative reference, spec-pinned)
    "text_simhash" -> ((s, dir) =>
      Dedup.simhashKernel(docs(s, dir), "text", "doc_id")
        .select(col("id").as("doc_id"), col("simhash"))),

    // SimHash near-dup PAIRS within Hamming distance 3, found via the
    // pigeonhole chunk index (any qualifying pair shares one of 4
    // 8-bit chunks) — candidates come from equality joins on small
    // ints, never an all-pairs comparison; the oracle brute-forces the
    // same bound, so the index must be exactly recall-complete
    "dedup_simhash_pairs" -> ((s, dir) =>
      Dedup.simhashPairs(docs(s, dir), "text", "doc_id", maxHamming = 3)),

    // BPE merge TRAINING (TextAnalysis.bpeTrain — the trainer-side
    // twin of tokenize_with_vocab): the ordered merge table learned
    // from the corpus's word-frequency dictionary, 12 steps. TRAINING
    // is inexpressible in DuckDB SQL (each step's tokenization depends
    // on the previous learned merge — aggregation inside recursion),
    // so the oracle is a GOLDEN pin: the merge table is deterministic
    // on the fixture (exact long counts, total-order tie-break), and
    // the pinned values double as the literal merge table the
    // bpe_tokenize oracle replays. DedupTextSpec additionally pins the
    // trainer against a hand-computed reference.
    "bpe_merges" -> ((s, dir) => trainedBpe(s, dir)._1),

    // the SERVING side: tokenize the corpus with the learned table
    // (subword-nmt lowest-rank-first application, row-local walk).
    // Unlike training, SERVING a fixed merge table IS SQL-expressible:
    // the oracle replays the golden table with a recursive CTE
    // (lowest-rank present pair per iteration, greedy left-to-right
    // application folded via list_reduce) — a full algorithmic
    // replication, not a hash pin.
    "bpe_tokenize" -> ((s, dir) => {
      val (_, merges) = trainedBpe(s, dir)
      TextAnalysis.bpeTokenize(docs(s, dir), "text", "doc_id", merges)
    }),

    // language-ID + token counting + quality scoring per doc (kernel
    // form of langId/tokenCount/bpeishCount/qualityScoreE4)
    "text_stats" -> ((s, dir) =>
      TextAnalysis.statsKernel(docs(s, dir), "text", "doc_id")
        .select(col("id").as("doc_id"), col("lang_pred"),
          col("n_tokens"), col("n_bpeish"), col("quality_e4"))),

    // document fingerprints: md5 content key + rolling polynomial hash
    // (kernel form of md5Fingerprint/rollingFingerprint)
    "text_fingerprint" -> ((s, dir) =>
      TextAnalysis.fingerprintKernel(docs(s, dir), "text", "doc_id")
        .select(col("id").as("doc_id"), col("fp_md5"), col("fp_roll"))),

    // multimodal image decode WITH an exact oracle: the media table
    // holds real binary-PPM payloads (deterministic synthetic images,
    // one per doc_id), decodeImages genuinely PARSES those bytes
    // (magic + geometry + raster), and the generator's closed form
    // lets DuckDB recompute the decoded geometry and per-channel sums
    // without ever seeing the bytes — a hard correctness gate on the
    // codec, not just the plumbing
    "multimodal_image_features" -> ((s, dir) => {
      val media = Multimodal.syntheticPpmTable(s, docs(s, dir), "doc_id")
      Multimodal.decodeImages(s, media.toDF()).toDF()
        .select(col("media_id"), col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          col("channels").cast("long").as("channels"),
          col("ch0_sum"), col("ch1_sum"), col("ch2_sum"))
    }),

    // the audio twin: synthetic RIFF/WAVE PCM16 clips (closed-form
    // generator) decoded by the REAL Wav chunk-walking parser; the
    // oracle recomputes geometry + integer amplitude moments from the
    // generator parameters
    "multimodal_audio_features" -> ((s, dir) => {
      val media = Multimodal.syntheticWavTable(s, docs(s, dir), "doc_id")
      Multimodal.decodeAudio(s, media.toDF()).toDF()
        .select(col("media_id"),
          col("sample_rate").cast("long").as("sample_rate"),
          col("channels").cast("long").as("channels"),
          col("n_frames"), col("duration_ms"),
          col("sum_amp"), col("sum_sq"))
    }),

    // REAL video codec under the oracle gate: synthetic YUV4MPEG2
    // clips (closed-form generator) decoded by the genuine Y4m stream
    // parser, every 2nd frame sampled; the oracle recomputes geometry,
    // fps, frame counts, and the sampled byte sum from the generator
    // parameters
    "multimodal_video_features" -> ((s, dir) => {
      val media = Multimodal.syntheticY4mTable(s, docs(s, dir), "doc_id")
      Multimodal.decodeVideos(s, media.toDF(), everyN = 2).toDF()
    }),

    // image-plane near-dup: perceptual dHash over DECODED 9×8
    // thumbnails (real resize path) + pigeonhole-bucketed hamming
    // pairs — the crop-resistant image dedup fingerprint; the oracle
    // recomputes every thumbnail pixel, hash bit, and pair from the
    // generator's closed form
    // (deterministic quarter of the corpus: the SYNTHETIC images are
    // all near-identical gradients, so the true pair set is O(n²) by
    // construction — a pathology real corpora don't have; the subset
    // keeps the gate exact without benching a deliberately quadratic
    // answer. Deployments cap hot buckets instead — see the operator.)
    "multimodal_image_near_dup" -> ((s, dir) => {
      val media = Multimodal.syntheticPpmTable(s,
        docs(s, dir).where(col("doc_id") % 4 === 0), "doc_id")
      Multimodal.imageNearDupCounts(s, media.toDF(), maxHamming = 2)
    }),

    // audio QUALITY gate over the real PCM16 parse: near-silence and
    // clipping-rail sample counts + peak — integer-exact, the oracle
    // recomputes every sample from the generator's closed form
    "multimodal_audio_quality" -> ((s, dir) => {
      val media = Multimodal.syntheticWavTable(s, docs(s, dir), "doc_id")
      Multimodal.audioQuality(s, media.toDF()).toDF()
    }),

    // scene-cut detection over REAL decoded frames (the segmentation
    // step clip extractors split on): per consecutive frame pair the
    // integer-exact summed byte difference + the cut verdict; the
    // oracle recomputes every per-byte diff from the generator's
    // closed form without running any engine code
    "multimodal_scene_cuts" -> ((s, dir) => {
      val media = Multimodal.syntheticY4mTable(s, docs(s, dir), "doc_id")
      Multimodal.sceneCuts(s, media.toDF(), perByteThreshold = 50L).toDF()
    }),

    // multimodal frame sampling WITH an exact oracle: the stub frame
    // extractor is fixed-stride byte windows, so frame counts and byte
    // totals are pure functions of payload length — the fan-out shape
    // (flatMap generator → per-media re-aggregation) is the real
    // video-pipeline plumbing
    "multimodal_frame_sample" -> ((s, dir) => {
      val media = Multimodal.asMediaTable(
        docs(s, dir).withColumn("meta", map(lit("source"), col("source"))),
        "doc_id", "text", "video")
      Multimodal.sampleFrames(s, media, strideBytes = 1024).toDF()
        .groupBy(col("media_id"))
        .agg(count(lit(1)).as("n_frames"),
          sum(length(col("frame_payload"))).as("frame_bytes"))
    }),

    // the composed training-data pipeline in one query: quality gate →
    // language gate → exact dedup (canonical survivors only, computed
    // WITHIN the gated subset) → per-source corpus counts. Each stage
    // is one of the operators above; this pins that they compose.
    "pipeline_quality_dedup" -> ((s, dir) => {
      val d = docs(s, dir)
      val keep = TextAnalysis.statsKernel(d, "text", "doc_id")
        .where(col("quality_e4") >= 5000 && col("lang_pred") === "en")
        .select(col("id").as("doc_id"))
      val gated = d.join(keep, Seq("doc_id"))
      val canon = Dedup.exact(gated, "text", "doc_id")
        .where(col("doc_id") === col("canonical_id"))
        .select(col("doc_id"))
      gated.join(canon, Seq("doc_id"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(length(col("text"))).as("n_chars"))
    }),

    // vocabulary building: corpus-wide top-50 tokens by frequency
    // (explode → one partial-aggregated count → global top-k with a
    // deterministic tie-break) — the scale path is the hash aggregation
    // itself; only 50 rows ever reach the driver side of the sort
    "vocab_top_terms" -> ((s, dir) =>
      docs(s, dir)
        .select(explode(split(trim(col("text")), "\\s+")).as("token"))
        .groupBy(col("token")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("token"))
        .limit(50)),

    // corpus bigram LM counts: top-40 consecutive-token pairs with
    // context counts and ppm conditional probabilities — the n-gram
    // LM training-count step, context counts window-summed from the
    // aggregated pair table (never re-joining occurrences)
    "text_bigram_lm" -> ((s, dir) =>
      TextAnalysis.bigramLm(docs(s, dir), "text", k = 40)),

    // the bounded-memory heavy-hitters form of the same top-50:
    // per-partition Misra-Gries summaries → broadcast candidate set →
    // exact recount. The vocabulary never shuffles whole; the result
    // must equal the exact operator (counts are exact by the second
    // pass; the MG bar N/capacity sits far below the 50th frequency
    // on any Zipf-shaped corpus), so it SHARES the exact oracle.
    "vocab_top_terms_approx" -> ((s, dir) =>
      TextAnalysis.topTermsApprox(docs(s, dir), "text", k = 50)),

    // the SAME top-50 served from the STREAMING-maintained postings
    // index: Σ tf per token over the already-aggregated postings — no
    // corpus re-scan, no re-tokenization; the vocabulary build falls
    // out of the retrieval store (shares the exact oracle)
    "vocab_from_index" -> ((s, dir) =>
      TextAnalysis.topTermsFromIndex(s, streamedTextIndexDir(s, dir),
        k = 50)),

    // tokenization against the learned vocab: corpus top-50 terms get
    // ids 1..50, everything else maps to unk=0 — the id-mapping step a
    // trainer consumes. Row-local map-literal lookup (no join, no
    // shuffle, no UDF); the md5 digest of the id sequence pins every
    // id and its order under the oracle hash
    "tokenize_with_vocab" -> ((s, dir) => {
      val vocab = TextAnalysis.buildVocab(docs(s, dir), "text", k = 50)
      TextAnalysis.tokenizeWithVocab(docs(s, dir), "text", "doc_id", vocab)
    }),

    // the same id-mapping at BPE scale: a k=50 000 vocabulary rides a
    // BROADCAST (token, tid) table instead of a codegen map literal
    // (which stops scaling near 10⁴ entries). Same digest contract —
    // the md5 over the ordered id sequence pins every id and its
    // position — so one oracle shape gates both formulations.
    "tokenize_with_vocab_large" -> ((s, dir) => {
      val vocabDf = TextAnalysis.buildVocabTable(docs(s, dir), "text",
        k = 50000)
      TextAnalysis.tokenizeWithVocabTable(docs(s, dir), "text", "doc_id",
        vocabDf)
    }),

    // df-based rarity quality signal: per-doc count/fraction of token
    // occurrences whose corpus document frequency is <= 2 (OCR noise /
    // mojibake / gibberish detector — rare because uncorroborated).
    // The corpus-wide df table stays distributed end to end.
    "rare_token_stats" -> ((s, dir) =>
      TextAnalysis.rareTokenStats(docs(s, dir), "text", "doc_id",
        maxDf = 2L)),

    // TF-IDF keyword extraction: per-doc top-3 terms by tf·ln(N/df),
    // deterministic tie-break — the df table falls out of the tf
    // aggregation (no distinct pass), corpus size joins as a broadcast
    // 1-row frame
    "tfidf_top_terms" -> ((s, dir) =>
      TextAnalysis.tfIdfTopTerms(docs(s, dir), "text", "doc_id",
        topK = 3)),

    // windowed CO-OCCURRENCE lift (collocation mining): top-100 token
    // pairs within 3 positions by exact integral lift — the pair join
    // is ONE (doc, position) hash equi-join over a window-fold fan-out
    // (never a position-band range join), Zipf heads broadcast-anti-
    // joined out before any pair forms, ranking served as a top-k.
    // The df cap is FRACTIONAL (>85% of docs = hot, derived in-plan) —
    // an absolute cap tuned at one SF degenerates to an empty,
    // gates-nothing result at 10× the corpus; 85% because the synthetic
    // fixture's 31-token vocabulary is ALL mid-band (df 40-80% of docs
    // at every SF), so any lower fraction blanks the result instead of
    // trimming a Zipf head the fixture doesn't have
    "text_cooccurrence" -> ((s, dir) =>
      TextAnalysis.cooccurrenceLiftFrac(docs(s, dir), "text", "doc_id",
          window = 3, maxDfFracE4 = 8500, minCount = 3)
        .orderBy(col("lift_e4").desc, col("n_ab").desc, col("tok_a"),
          col("tok_b"))
        .limit(100)),

    // BM25 full-text retrieval: top-5 docs per query for a 3-query
    // set — the query-term universe broadcasts and prunes the token
    // stream map-side, so only query-term occurrences ever shuffle;
    // per-term contributions are e6-floored integers BEFORE the
    // cross-term sum (no float-order hazard)
    "text_bm25_topk" -> ((s, dir) =>
      TextAnalysis.bm25TopK(docs(s, dir), "text", "doc_id",
        queries = Seq(
          "q_hash_join" -> Seq("hash", "join"),
          "q_window_scan" -> Seq("window", "sort", "scan"),
          "q_stream" -> Seq("stream", "batch", "spark")),
        topK = 5)),

    // the indexed BM25 read consumed from pure SQL text (the
    // graft.sql.PipelineViews notebook surface): install the view over
    // the registered postings index, then the retrieval is a spark.sql
    // string — shared oracle with the scan-time and indexed forms
    "text_bm25_sql" -> ((s, dir) => {
      graft.sql.PipelineViews.installBm25(s, textIndexDir(s, dir),
        queries = Seq(
          "q_hash_join" -> Seq("hash", "join"),
          "q_window_scan" -> Seq("window", "sort", "scan"),
          "q_stream" -> Seq("stream", "batch", "spark")),
        topK = 5)
      s.sql("SELECT query_id, rk, id AS doc_id, n_terms, score_e6 " +
        "FROM graft_bm25_topk")
    }),

    // the SAME queries served from the persisted postings index: the
    // corpus is never scanned — query-term md5 buckets prune `part=`
    // directories, df/dl/stats come from the store; shares the
    // scan-time oracle (indexed ≡ scan-time, also spec-pinned)
    "text_bm25_indexed" -> ((s, dir) =>
      TextAnalysis.bm25TopKFromIndex(s, textIndexDir(s, dir),
        queries = Seq(
          "q_hash_join" -> Seq("hash", "join"),
          "q_window_scan" -> Seq("window", "sort", "scan"),
          "q_stream" -> Seq("stream", "batch", "spark")),
        topK = 5)
        .withColumnRenamed("id", "doc_id")),

    // the streaming-maintained index serves the SAME oracle: per
    // micro-batch postings/stats dirs written by foreachBatch with
    // zero streaming state, indistinguishable at query time
    "stream_bm25_indexed" -> ((s, dir) =>
      TextAnalysis.bm25TopKFromIndex(s, streamedTextIndexDir(s, dir),
        queries = Seq(
          "q_hash_join" -> Seq("hash", "join"),
          "q_window_scan" -> Seq("window", "sort", "scan"),
          "q_stream" -> Seq("stream", "batch", "spark")),
        topK = 5)
        .withColumnRenamed("id", "doc_id")),

    // RIGHT-TO-ERASURE on the retrieval plane (the deletion request
    // is not closed while a derived store still returns the subject —
    // B21b's contract extended past the event store): the index has
    // processed an erasure of the three rank-1 docs, and the SAME
    // standing queries must now serve the surviving corpus's exact
    // BM25 — tombstones anti-joined before df aggregates, corpus
    // stats (n, Σdl) subtracted exactly; the oracle recomputes from
    // raw documents WITHOUT the subjects, so stats-exactness (not
    // just exclusion) is what hash-gates
    "text_bm25_erased" -> ((s, dir) =>
      TextAnalysis.bm25TopKFromIndex(s, erasedTextIndexDir(s, dir),
        queries = Seq(
          "q_hash_join" -> Seq("hash", "join"),
          "q_window_scan" -> Seq("window", "sort", "scan"),
          "q_stream" -> Seq("stream", "batch", "spark")),
        topK = 5)
        .withColumnRenamed("id", "doc_id")),

    // STREAMING erasure of the maintained index: the SAME deletion
    // subjects arrive as a request stream (eraseTextIndexStream),
    // drained TWICE from fresh checkpoints — a full redelivery — so
    // the serve gates both continuous closure and replay idempotence
    // (a double subtraction of (n, Σdl) would hash-miss the shared
    // batch-erased oracle)
    "stream_bm25_erased" -> ((s, dir) =>
      TextAnalysis.bm25TopKFromIndex(s, streamErasedTextIndexDir(s, dir),
        queries = Seq(
          "q_hash_join" -> Seq("hash", "join"),
          "q_window_scan" -> Seq("window", "sort", "scan"),
          "q_stream" -> Seq("stream", "batch", "spark")),
        topK = 5)
        .withColumnRenamed("id", "doc_id")),

    // the physical CLOSER: the erased index compacted to a fresh
    // store — tombstoned postings dropped from the rewrite, stats
    // row absorbed the subtraction, NO tombstones in the output (the
    // erased bytes are gone, not just excluded). Serving must be
    // indistinguishable from the tombstoned input: shared oracle
    "text_bm25_erase_closed" -> ((s, dir) =>
      TextAnalysis.bm25TopKFromIndex(s, erasedClosedTextIndexDir(s, dir),
        queries = Seq(
          "q_hash_join" -> Seq("hash", "join"),
          "q_window_scan" -> Seq("window", "sort", "scan"),
          "q_stream" -> Seq("stream", "batch", "spark")),
        topK = 5)
        .withColumnRenamed("id", "doc_id")),

    // exact phrase search (the match primitive BM25's bag-of-words
    // scoring can't express): per (doc, phrase) the count of exact
    // bigram occurrences — row-local gram algebra, no shuffle at all
    // beyond the scan; overlapping matches count individually.
    //
    // STEERING CONTRACT (the bm25TopK / legacy_dedup precedent): this
    // is the SCAN-TIME form — it re-tokenizes the whole corpus per
    // query set and exists as the correctness/contrast twin. Against
    // a STANDING corpus, serve phrase queries from the positional
    // postings index instead ([[graft.operators.TextAnalysis
    // .phraseHitsFromIndex]], the `phrase_hits_indexed` entry): the
    // index prunes to the phrase's term buckets (0.6 s class where
    // this form pays the full corpus scan — 7.8 s at SF-1, and
    // linearly worse from there). Do not ship THIS form at scale.
    "phrase_hits" -> ((s, dir) => {
      val toks = TextAnalysis.tokens(col("text"))
      val grams = zip_with(
        slice(toks, lit(1), size(toks) - 1),
        slice(toks, lit(2), size(toks) - 1),
        (a, b) => concat_ws(" ", a, b))
      docs(s, dir)
        .select(col("doc_id"), grams.as("__g"),
          explode(array(lit("hash join"), lit("batch batch"),
            lit("window window"))).as("phrase"))
        .withColumn("n_hits",
          size(filter(col("__g"), g => g === col("phrase"))).cast("long"))
        .where(col("n_hits") > 0)
        .select(col("doc_id"), col("phrase"), col("n_hits"))
    }),

    // HYBRID retrieval (the two-stage RAG/search pattern): BM25 over
    // the postings index recalls 20 lexical candidates per query,
    // then embedding cosine against the query's mapped vector reranks
    // to the final 5 — dense precision priced at |queries|·|cands|
    // dot products, the corpus vectors probed by candidate id only
    "hybrid_search" -> ((s, dir) => {
      import graft.functions.GraftFunctions
      import graft.operators.Similarity
      import s.implicits._
      GraftFunctions.register(s)
      val cands = TextAnalysis.bm25TopKFromIndex(s, textIndexDir(s, dir),
          queries = Seq(
            "q_hash_join" -> Seq("hash", "join"),
            "q_window_scan" -> Seq("window", "sort", "scan"),
            "q_stream" -> Seq("stream", "batch", "spark")),
          topK = 20)
        .withColumnRenamed("id", "doc_id")
        .select(col("query_id"), col("doc_id"), col("score_e6"))
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      val qv = Seq(("q_hash_join", 0L), ("q_window_scan", 1L),
          ("q_stream", 2L))
        .toDF("query_id", "qvec_id")
        .join(emb, col("qvec_id") === col("vec_id"))
        .select(col("query_id"), col("embedding"))
      val cv = emb.select(col("vec_id").as("doc_id"), col("embedding"))
      Similarity.hybridRerank(cands, cv, qv, "query_id", "doc_id",
          "embedding", k = 5, dotFn = GraftFunctions.dotNative)
        .select(col("query_id"), col("rank").cast("long").as("rank"),
          col("doc_id"), col("score_e6"))
    }),

    // the SAME phrases served from the positional postings index —
    // candidate start positions narrow by an array_intersect fold,
    // no corpus scan, no gram materialization; shares the scan-time
    // oracle
    "phrase_hits_indexed" -> ((s, dir) =>
      TextAnalysis.phraseHitsFromIndex(s, textIndexDir(s, dir),
        Seq("hash join", "batch batch", "window window"))
        .withColumnRenamed("id", "doc_id")),

    // ordered proximity search ("hash near join", slop 3) from the
    // positional postings — between exact phrase and bag-of-words;
    // two pruned posting reads, one id join, row-local pair count
    "proximity_hits" -> ((s, dir) =>
      TextAnalysis.proximityHitsFromIndex(s, textIndexDir(s, dir),
        "hash", "join", slop = 3)
        .withColumnRenamed("id", "doc_id")),

    // per-source dedup-rate report (the data-quality dashboard row a
    // curation pipeline watches per ingest source): docs, exact-dup
    // survivors, and the duplicate fraction ×10⁴ — one md5 hash agg,
    // bodies never shuffle
    // FIM infilling examples (Packing.fimExamples): deterministic
    // hash-derived cuts, zero shuffles — pure row-local slicing
    "fim_examples" -> ((s, dir) =>
      graft.operators.Packing.fimExamples(docs(s, dir), "text", "doc_id")),

    // T5-style SPAN CORRUPTION (Packing.spanCorruptionExamples): the
    // denoising-pretraining example shape — block-aligned
    // deterministic spans, so generation is pure column algebra and
    // the oracle replicates the exact strings
    "span_corruption_examples" -> ((s, dir) =>
      graft.operators.Packing.spanCorruptionExamples(
        docs(s, dir), "text", "doc_id")),

    // Content MANIFEST per source (Dedup.contentManifest): the
    // O(scan) cross-snapshot pre-check — groups whose (count, chars,
    // commutative digest) match need no diff join at all
    "corpus_manifest" -> ((s, dir) =>
      graft.operators.Dedup.contentManifest(docs(s, dir), "text",
        "source")),

    // STREAMING manifest maintenance: per-batch manifests land in
    // idempotent __batch_id= dirs; the read-side re-aggregation is
    // exact because the digest is a commutative mod-2⁶⁰ sum — must be
    // bit-identical to the batch manifest (shared oracle)
    "stream_manifest" -> ((s, dir) =>
      graft.streaming.StreamingIngest.readManifest(s,
        streamedManifest(s, dir), "source")),

    // COMPRESSION-RATIO quality (TextAnalysis.compressionStats): the
    // Gopher-rule deflate heuristic — repetitive boilerplate deflates
    // hard, noise barely deflates; prose lands mid-band. Row-local
    // kernel; DEFLATE is SQL-inexpressible, so the oracle is a golden
    // pin derived INDEPENDENTLY with Python zlib (see the oracle's
    // comment); DedupTextSpec pins the semantics.
    "text_compression_profile" -> ((s, dir) =>
      graft.operators.TextAnalysis
        .compressionStats(docs(s, dir), "text", "doc_id")
        .join(docs(s, dir).select(col("doc_id").as("id"), col("source")),
          Seq("id"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          floor(avg(col("ratio_e4"))).cast("long").as("mean_ratio_e4"),
          min(col("ratio_e4")).as("min_ratio_e4"),
          max(col("ratio_e4")).as("max_ratio_e4"))),

    // CRAWL-SNAPSHOT diff (graft.operators.Cdc.snapshotDiff): two
    // simulated dumps of the corpus — the new one drops doc_id%11=0,
    // revises doc_id%7=3, and gains re-keyed copies of doc_id%13=5 —
    // classified added/removed/changed/unchanged. Digests join, bodies
    // never shuffle.
    "corpus_diff" -> ((s, dir) => {
      val d = docs(s, dir).select(col("doc_id"), col("text"))
      val newSnap = d.where(col("doc_id") % 11 =!= 0)
        .select(col("doc_id"),
          when(col("doc_id") % 7 === 3, concat(col("text"), lit(" [rev2]")))
            .otherwise(col("text")).as("text"))
        .unionByName(d.where(col("doc_id") % 13 === 5)
          .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
      graft.operators.Cdc.snapshotDiff(d, newSnap, "doc_id", "text")
        .groupBy(col("status")).agg(count(lit(1)).as("n_docs"))
    }),

    // CROSS-SOURCE overlap matrix (graft.operators.Dedup
    // .sourceOverlapMatrix): distinct-shingle containment per source
    // pair — join input is DISTINCT (source, hash), bounded by
    // |sources|×|shingle space| and ≤|sources| rows per hash key, so
    // the matrix costs the same at any corpus size past saturation
    "source_overlap_matrix" -> ((s, dir) =>
      graft.operators.Dedup.sourceOverlapMatrix(
        docs(s, dir), "text", "doc_id", "source", maxDf = 1000)),

    // fixed-size KMV twin of the overlap matrix: |sources|×k sketch,
    // estimator deterministic given the hash — the estimate itself is
    // oracle-checked, not just bounded
    "source_overlap_kmv" -> ((s, dir) =>
      graft.operators.Dedup.sourceOverlapKmv(
        docs(s, dir), "text", "doc_id", "source", maxDf = 1000, k = 256)),

    "dedup_rate_by_source" -> ((s, dir) =>
      Dedup.rateBySource(docs(s, dir), "text", "doc_id", "source")),

    // the SAME read consumed from pure SQL text — the notebook/BI
    // surface: graft.sql.PipelineViews installs the pipeline reads as
    // session views and the query is a spark.sql string (shared
    // oracle: the view must be the Scala read, verbatim)
    "dedup_rate_by_source_sql" -> ((s, dir) => {
      graft.sql.PipelineViews.installDedupRate(s, docs(s, dir))
      s.sql("SELECT * FROM graft_dedup_rate_by_source")
    }),

    // deterministic UPSAMPLING (the other half of data mixing): src0
    // runs 2.5 epochs, src1 1.5, the rest 1.0 — whole copies per row
    // plus a content-addressed fractional remainder, profiled per
    // source; row-local explode, no shuffle before the profile
    "mix_upsample_profile" -> ((s, dir) =>
      graft.operators.Sampling.upsampleToRates(docs(s, dir), "doc_id",
          "source", Map("src0" -> 25000, "src1" -> 15000))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_rows"),
          count_distinct(col("doc_id")).as("n_docs"))),

    // weighted sampling without replacement (Efraimidis–Spirakis):
    // top-20 docs with inclusion probability ∝ n_chars — the
    // quality-weighted selection between uniform hash sampling and
    // the greedy budget cut; content-addressed, TakeOrdered cut
    "sample_weighted_topk" -> ((s, dir) =>
      graft.operators.Sampling.weightedTopK(
          docs(s, dir), "doc_id", "n_chars", k = 20)
        .select(col("doc_id"), col("n_chars"), col("wkey_e9"))),

    // corpus drift monitor: token-distribution KL contributions
    // between the low-numbered and high-numbered source halves —
    // the yesterday-vs-today check of a continuously-ingesting
    // pipeline; exact counts, e9-floored per-token contributions
    "drift_sources" -> ((s, dir) => {
      val d = docs(s, dir)
      val srcNum = substring(col("source"), 4, 10).cast("int")
      graft.operators.Profiling.tokenDrift(
        d.where(srcNum < 10), d.where(srcNum >= 10), "text", k = 50)
    }),

    // index observability: the per-batch stats rows ARE the ingest
    // ledger — batch id, docs, token mass — read straight off the
    // store's 1-row-per-batch stats partitions (bounded by batch
    // count, no postings touched)
    "index_batches" -> ((s, dir) =>
      s.read.parquet(s"${splitTextIndexDir(s, dir)}/stats")
        .select(col("__batch_id").cast("long").as("batch_id"),
          col("n_docs"), col("sum_dl"))),

    // the SAME drift derived FROM the postings index: per-side token
    // counts are one sum(tf) over the chosen __batch_id partitions —
    // the retrieval store doubles as the drift-monitoring substrate,
    // no corpus re-scan, no re-tokenization; shares the scan oracle
    "drift_from_index" -> ((s, dir) =>
      graft.operators.Profiling.tokenDriftFromIndex(
        s, splitTextIndexDir(s, dir), Seq(0L), Seq(1L), k = 50)),

    // repetition quality rule (Gopher/C4-style): per-doc fraction of
    // duplicated word 3-grams, integer-exact (kernel form; the
    // declarative repetitionE4 is the spec-pinned semantic reference)
    "text_repetition" -> ((s, dir) =>
      TextAnalysis.repetitionKernel(docs(s, dir), "text", "doc_id")
        .select(col("id").as("doc_id"), col("rep3_e4"))),

    // deterministic train/val/test split (content-addressed md5 hash —
    // identical assignment on any cluster/partitioning, unlike
    // DataFrame.sample) profiled per split
    "sample_split_profile" -> ((s, dir) => {
      import graft.operators.Sampling
      docs(s, dir)
        .withColumn("split", Sampling.splitColumn(col("doc_id"),
          Seq("train" -> 9000, "val" -> 500, "test" -> 500)))
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"),
          sum(length(col("text"))).as("n_chars"))
    }),

    // corpus roll-up: per (source, predicted lang) counts + mean quality
    // (kernel-scored rows feed one codegen'd hash aggregation)
    "text_source_profile" -> ((s, dir) =>
      TextAnalysis.langQualityKernel(docs(s, dir), "text", "source")
        .groupBy(col("source"), col("lang_pred"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("quality_e4")).as("sum_quality_e4"))),

    // MANIFEST-KEYED result cache (sources/ResultCache): the same
    // profile served through serveOrCompute — unchanged inputs cost a
    // manifest scan, not a recompute, and serving must be
    // answer-invisible (same oracle as the uncached twin)
    "text_source_profile_cached" -> ((s, dir) => {
      val cacheDir = Artifacts.once(s, dir, "result_cache")(
        Artifacts.tempDir(s, "graft_rescache"))
      graft.sources.ResultCache.serveOrCompute(s, cacheDir,
        graft.operators.Dedup.contentManifest(docs(s, dir), "text",
          "source")) {
        TextAnalysis.langQualityKernel(docs(s, dir), "text", "source")
          .groupBy(col("source"), col("lang_pred"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("quality_e4")).as("sum_quality_e4"))
      }
    }),

    // cross-document span duplication (exact-substring dedup signal):
    // per doc, distinct 8-token spans, spans recurring in ANY other
    // doc (corpus df >= 2), and the duplicated fraction — catches
    // boilerplate paragraphs whole-doc Jaccard dilutes away and
    // within-doc repetition cannot see
    "text_cross_repetition" -> ((s, dir) =>
      Dedup.duplicatedSpanStats(docs(s, dir), "text", "doc_id", w = 8)
        .select(col("id").as("doc_id"), col("n_spans"),
          col("n_dup_spans"), col("dup_frac_e4"))),

    // multi-signal (ensemble) dedup consensus: near-dup pairs flagged
    // by text 3-gram Jaccard vs by embedding cosine, classified into
    // both / text_only / emb_only — the cross-checking pass a real
    // pipeline runs before trusting either signal alone. Composition
    // of two operators over two tables; a full outer join of two
    // SMALL pair sets (the corpus-sized work happens inside each
    // operator, already bounded).
    //
    // the PRODUCTION-regime ensemble: the same both/text_only/emb_only
    // cross-check, but both pair generators are the LSH-banded forms
    // (minhash bands for text, sign-LSH buckets for embeddings) — the
    // serving path at scale, where the exact all-pairs ensemble below
    // is the audit baseline (54 s vs ~6 s at SF-1: both sides bucket-
    // bounded, neither ever forms an all-pairs product)
    "dedup_consensus_lsh" -> ((s, dir) => {
      import graft.functions.GraftFunctions
      import graft.operators.Similarity
      GraftFunctions.register(s)
      val tp = Dedup.minhashLshPairsKernel(docs(s, dir), "text", "doc_id")
        .select(col("id_a"), col("id_b"), lit(true).as("t"))
      val ep = Similarity.lshNearDupPairs(EmbeddingQueries.emb(s, dir),
          "vec_id", "embedding", EmbeddingQueries.lshPlanes,
          threshold = 0.4, dotFn = GraftFunctions.dotNative)
        .select(col("id_a"), col("id_b"), lit(true).as("e"))
      tp.join(ep, Seq("id_a", "id_b"), "full_outer")
        .select(when(col("t") && col("e"), "both")
          .when(col("t"), "text_only").otherwise("emb_only").as("signal"))
        .groupBy(col("signal")).agg(count(lit(1)).as("n_pairs"))
    }),

    "legacy_dedup_consensus" -> ((s, dir) => {
      import graft.functions.GraftFunctions
      import graft.operators.Similarity
      GraftFunctions.register(s)
      val tp = jaccardPairsArtifact(s, dir)
        .select(col("id_a"), col("id_b"), lit(true).as("t"))
      val ep = Similarity.nearDupPairs(
        s.read.parquet(s"$dir/embeddings.parquet"), "vec_id", "embedding",
        threshold = 0.4, dotFn = GraftFunctions.dotNative)
        .select(col("id_a"), col("id_b"), lit(true).as("e"))
      tp.join(ep, Seq("id_a", "id_b"), "full_outer")
        .select(when(col("t") && col("e"), "both")
          .when(col("t"), "text_only").otherwise("emb_only").as("signal"))
        .groupBy(col("signal")).agg(count(lit(1)).as("n_pairs"))
    }),

    // sliding-window chunking (embedding/retrieval prep): 32-token
    // windows every 16 tokens, one generator fan-out, deterministic
    // (doc_id, chunk_idx) identity
    "doc_chunks" -> ((s, dir) => {
      import graft.operators.Packing
      Packing.chunkDocuments(docs(s, dir), "text", "doc_id",
        window = 32, stride = 16)
    }),

    // stratified (corpus-balancing) sampling: per-language keep rates
    // (en downsampled to 25%, zh to 50%, the rest kept), membership a
    // pure function of (doc_id, seed) — profiled per language
    "sample_stratified" -> ((s, dir) => {
      import graft.operators.Sampling
      Sampling.stratifiedSample(docs(s, dir), "doc_id", "lang",
        Map("en" -> 2500, "zh" -> 5000))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
    }),

    // deterministic global training-shuffle order: rank by seeded
    // hash via the distributed prefix sum — never a single-partition
    // global window; a pure function of (ids, seed) on any cluster
    "sample_shuffle_positions" -> ((s, dir) => {
      import graft.operators.Packing
      Packing.shufflePositions(docs(s, dir), "doc_id")
    }),

    // the plan LINTER over three deliberately pathological shapes and
    // one clean one: the scale-killer rules (cartesian, unconditioned
    // nested loop, single-partition window, global sort) must each
    // fire exactly once on their offending plan and never on the
    // clean aggregate — the output is a constant, so the oracle pins
    // the linter's verdict exactly
    "plan_lint_report" -> ((s, dir) => {
      import graft.plans.PlanLint
      val d = docs(s, dir)
      val cross = d.select(col("doc_id"))
        .crossJoin(d.select(col("doc_id").as("id2")))
      val win = d.withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy(col("doc_id"))))
      val sorted = d.orderBy(col("doc_id"))
      val good = d.groupBy(col("source")).agg(count(lit(1)).as("n"))
      // Spark plans a crossJoin as BroadcastNestedLoopJoin below the
      // broadcast threshold and CartesianProduct above it — the same
      // hazard either way, but a size-dependent rule name would break
      // the constant oracle on a larger fixture; report the family
      val family = when(col("rule").isin("cartesian-product",
          "unconditioned-nested-loop"), lit("cartesian-family"))
        .otherwise(col("rule")).as("rule")
      PlanLint.report(cross).withColumn("plan", lit("cross"))
        .unionByName(PlanLint.report(win).withColumn("plan", lit("window")))
        .unionByName(PlanLint.report(sorted).withColumn("plan", lit("sort")))
        .unionByName(PlanLint.report(good).withColumn("plan", lit("good")))
        .select(family, col("n_findings"), col("plan"))
    }),

    // staged curriculum order: stage = length-difficulty bucket
    // (shorter = easier), read order = stages ascending with the
    // seeded shuffle inside each stage — the curriculum-learning
    // schedule as a deterministic (ids, stages, seed) permutation,
    // via the same prefix sum (no global window)
    "curriculum_positions" -> ((s, dir) => {
      import graft.operators.Packing
      val staged = docs(s, dir).withColumn("stage",
        least(lit(3L), floor(length(col("text")) / 150).cast("long")))
      Packing.curriculumPositions(staged, "doc_id", "stage")
    }),

    // per-source hash-reservoir inspection sample: the 3 docs with the
    // smallest seeded hash per source — deterministic, partition-
    // independent, nested in k; output is O(sources × k) at any scale
    "sample_topk_per_source" -> ((s, dir) => {
      import graft.operators.Sampling
      Sampling.topKByHash(docs(s, dir), "doc_id", "source", k = 3)
        .select(col("source"), col("doc_id"), col("sample_rank"))
    }),

    // sequence packing (concat-and-chunk): every doc gets the global
    // token offset where it starts (distributed two-pass prefix sum —
    // never a single-partition window), its 2048-token context window,
    // and its position inside it
    "pack_sequences" -> ((s, dir) => {
      import graft.operators.Packing
      Packing.packSequences(
        docs(s, dir).withColumn("nt", TextAnalysis.tokenCount(col("text"))),
        "doc_id", "nt", capacity = 2048L)
        .select(col("id").as("doc_id"), col("n_tokens"), col("offset"),
          col("seq_id"), col("seq_pos"))
    }),

    // occupancy profile of the same packing run: docs + tokens per
    // context window
    "pack_profile" -> ((s, dir) => {
      import graft.operators.Packing
      Packing.packProfile(Packing.packSequences(
        docs(s, dir).withColumn("nt", TextAnalysis.tokenCount(col("text"))),
        "doc_id", "nt", capacity = 2048L))
        .select(col("seq_id"), col("n_docs"), col("n_tokens"))
    }),

    // per-split packing: the deterministic train/val/test assignment
    // composed with group-independent concat-and-chunk — each split
    // packs into its own sequence space (the dataset layout a trainer
    // consumes), still via the distributed prefix sum
    "pack_by_split" -> ((s, dir) => {
      import graft.operators.{Packing, Sampling}
      val withSplit = docs(s, dir)
        .withColumn("split", Sampling.splitColumn(col("doc_id"),
          Seq("train" -> 9000, "val" -> 500, "test" -> 500)))
        .withColumn("nt", TextAnalysis.tokenCount(col("text")))
      Packing.packSequencesByGroup(withSplit, "split", "doc_id", "nt",
        capacity = 2048L)
        .select(col("group").as("split"), col("id").as("doc_id"),
          col("n_tokens"), col("offset"), col("seq_id"), col("seq_pos"))
    }),

    // benchmark decontamination: training docs (doc_id % 25 != 0)
    // sharing any 3-gram shingle with the "benchmark" slice
    // (doc_id % 25 = 0 — a stand-in eval corpus drawn from the same
    // table). Broadcast eval shingle set; hits = distinct shared
    // shingles per training doc.
    "decontaminate_overlap" -> ((s, dir) => {
      val d = docs(s, dir)
      Decontaminate.overlapReport(
        d.where(col("doc_id") % 25 =!= 0),
        d.where(col("doc_id") % 25 === 0),
        "text", "doc_id")
        .select(col("id").as("doc_id"), col("hits"))
    }),

    // Bloom-prefiltered decontamination: the row-local might_contain
    // gate + exact verify must reproduce the exact operator bit-for-bit
    // (same oracle text as decontaminate_overlap) — false positives
    // may pass the Bloom probe but can never reach the report
    "decontaminate_bloom" -> ((s, dir) => {
      val d = docs(s, dir)
      Decontaminate.bloomOverlapReport(
        d.where(col("doc_id") % 25 =!= 0),
        d.where(col("doc_id") % 25 === 0),
        "text", "doc_id")
        .select(col("id").as("doc_id"), col("hits"))
    }),

    // STREAMING decontamination (continuous-ingest hygiene): the
    // training docs arrive as a file stream, each micro-batch is
    // Bloom-pregated against the static eval filter and exact-verified
    // — the unioned per-batch reports must equal the batch operator
    // (same oracle as decontaminate_overlap/decontaminate_bloom)
    "stream_decontaminate" -> ((s, dir) => {
      val path = streamedDecon(s, dir)
      s.read.parquet(path)
        .select(col("id").as("doc_id"), col("hits"))
    }),

    // the clean view after decontamination, profiled per source —
    // exercises the anti-join drop path end-to-end
    "decontaminate_clean_profile" -> ((s, dir) => {
      val d = docs(s, dir)
      Decontaminate.clean(
        d.where(col("doc_id") % 25 =!= 0),
        d.where(col("doc_id") % 25 === 0),
        "text", "doc_id")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_chars"))
    }),

    // PII scrub: per-doc email/phone/IP match counts + redacted length
    // over the deterministically PII-augmented corpus — the engine's
    // regexes and sequential redaction must reproduce the oracle's
    // exactly (patterns restricted to the java.util.regex ∩ RE2
    // common subset)
    "pii_stats" -> ((s, dir) => {
      val d = docs(s, dir)
      Pii.piiStats(
        d.withColumn("aug", piiAugmented(col("doc_id"), col("text"))),
        "aug", "doc_id")
        .select(col("id").as("doc_id"), col("n_emails"), col("n_phones"),
          col("n_ips"), col("clean_len"))
    }),

    // boilerplate discovery: distinct lines recurring in >= 10 docs
    // (the corpus-wide header at df=500 and every per-source footer at
    // df=25 must surface; no body line qualifies) — the audit view for
    // choosing the strip threshold
    "boilerplate_line_df" -> ((s, dir) => {
      val d = docs(s, dir)
      Boilerplate.lineDf(
        d.withColumn("aug", boilerAugmented(col("text"), col("source"))),
        "aug", "doc_id")
        .where(col("df") >= 10)
    }),

    // boilerplate strip: per-doc line counts before/after + cleaned
    // length — df counted on md5 line keys, hot set broadcast,
    // order-preserving reassembly
    "boilerplate_clean" -> ((s, dir) => {
      val d = docs(s, dir)
      Boilerplate.strip(
        d.withColumn("aug", boilerAugmented(col("text"), col("source"))),
        "aug", "doc_id", minDf = 10L)
        .select(col("id").as("doc_id"), col("n_lines"), col("n_kept"),
          col("clean_len"))
    }),

    // source-mixture rebalancing: downsample to a 4:2:2:1:1 target mix
    // over five sources (the rest dropped), rates derived in closed
    // integer form from the per-source counts — profiled per source
    "mix_sources_profile" -> ((s, dir) => {
      import graft.operators.Sampling
      val (mixed, _) = Sampling.mixToTarget(docs(s, dir), "doc_id", "source",
        Map("src0" -> 2000, "src1" -> 1000, "src2" -> 1000,
          "src3" -> 500, "src4" -> 500))
      mixed.groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
    }),

    // LM-based quality scoring (the CCNet-style filter): each doc's
    // pair stream scored by the corpus bigram LM (top-1000, 0-backoff
    // outside it) — integer-exact perplexity proxy, LM broadcast
    "text_lm_quality" -> ((s, dir) =>
      TextAnalysis.bigramLmScore(docs(s, dir), "text", "doc_id",
        lmK = 1000)),

    // line-level language segmentation: langId per non-blank line,
    // per-doc distinct-language profile + multilingual flag — the
    // code-switching detector the doc-level vote can't express
    "text_line_langs" -> ((s, dir) =>
      TextAnalysis.lineLangStats(docs(s, dir), "doc_id", "text")),

    // temperature mixing at α=0.5: per-source keep rates
    // floor(1e4·√n_min/√n_s) — smallest source whole, big sources
    // √-downweighted; the oracle recomputes rates from counts with
    // the same IEEE-exact sqrt expression and the same hash membership
    "mix_temperature_profile" -> ((s, dir) => {
      import graft.operators.Sampling
      val (mixed, _) = Sampling.mixByTemperatureSqrt(docs(s, dir),
        "doc_id", "source")
      mixed.groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
    }),

    // sharded corpus export, gated end to end: actually WRITE the
    // 16-shard layout (one file per shard dir), read it back, profile
    // per shard — the oracle recomputes membership from the closed-form
    // seeded md5, so writer routing must preserve every row exactly
    "shard_profile" -> ((s, dir) => {
      import graft.sources.CorpusSink
      val out = Artifacts.once(s, dir, "shards") {
        val p = Artifacts.tempDir(s, "graft_shards")
        CorpusSink.writeSharded(docs(s, dir), "doc_id", p, nShards = 16)
        p
      }
      CorpusSink.readSharded(s, out)
        .groupBy(col("shard").cast("long").as("shard"))
        .agg(count(lit(1)).as("n_docs"),
          sum(length(col("text"))).as("sum_chars"))
    }),

    // text normalization over deterministically dirtied input (tabs,
    // CRs, NULs, space runs injected in closed form both sides): the
    // engine's 3-pass regexp normalization must reproduce the oracle's
    // byte-for-byte, gated via length + md5 content hash per doc
    "text_normalize" -> ((s, dir) => {
      val dirty = concat(lit("\t "), col("text"),
        lit("\r\r tail"), lit("\u0000"),
        when(col("doc_id") % 3 === 0, lit("  double  spaced \n line "))
          .otherwise(""))
      docs(s, dir)
        .select(col("doc_id"),
          TextAnalysis.normalizeWs(dirty).as("clean"))
        .select(col("doc_id"),
          length(col("clean")).cast("long").as("clean_len"),
          conv(substring(md5(col("clean")), 1, 15), 16, 10).cast("long")
            .as("clean_hash"))
    }),

    // JSONL corpus round trip, gated byte-exact: write the documents
    // table as JSON lines, read it back with the pinned schema, and
    // profile per (source, lang) with a per-doc md5 content-hash sum —
    // the oracle computes the same profile from the PARQUET originals,
    // so any JSON escaping/encoding loss (unicode, quotes, whitespace)
    // breaks the hash
    "docs_jsonl_roundtrip" -> ((s, dir) => {
      import graft.sources.CorpusSink
      val d = docs(s, dir)
      val p = Artifacts.once(s, dir, "jsonl") {
        val t = Artifacts.tempDir(s, "graft_jsonl")
        CorpusSink.writeJsonl(d, t)
        t
      }
      CorpusSink.readJsonl(s, p, d.schema)
        .groupBy(col("source"), col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(length(col("text"))).as("sum_chars"),
          sum(conv(substring(md5(col("text")), 1, 15), 16, 10)
            .cast("long") % 1000000007L).as("content_hash"))
    }),

    // same lossless-interchange gate for ORC (the other columnar
    // hand-off format): write the corpus as ORC, read it back through
    // the pinned-schema reader, profile per (source, lang) with the
    // identical per-doc md5 content-hash sum — the oracle computes the
    // profile from the parquet originals
    "docs_orc_roundtrip" -> ((s, dir) => {
      import graft.sources.CorpusSink
      val d = docs(s, dir)
      val p = Artifacts.once(s, dir, "orc") {
        val t = Artifacts.tempDir(s, "graft_orc")
        CorpusSink.writeOrc(d, t)
        t
      }
      CorpusSink.readOrc(s, p, d.schema)
        .groupBy(col("source"), col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(length(col("text"))).as("sum_chars"),
          sum(conv(substring(md5(col("text")), 1, 15), 16, 10)
            .cast("long") % 1000000007L).as("content_hash"))
    }),

    // the composed scrub pipeline: boilerplate strip (corpus line df)
    // → PII redaction → per-source corpus profile. The strip's
    // reassembly exchange on id is REUSED by the slim (id, source)
    // join that restores the profile key (plan: no extra doc shuffle
    // on the strip side), and the redaction is row-local on top.
    "pipeline_scrub_profile" -> ((s, dir) => {
      val d = docs(s, dir)
      val aug = d.withColumn("aug",
        boilerAugmented(piiAugmented(col("doc_id"), col("text")),
          col("source")))
      val stripped = Boilerplate.strip(aug, "aug", "doc_id", minDf = 10L)
        .withColumn("scrubbed", Pii.redact(col("clean_text")))
      stripped.join(d.select(col("doc_id").as("id"), col("source")),
          Seq("id"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(length(col("scrubbed"))).as("sum_clean_chars"),
          sum(col("n_kept")).as("sum_kept_lines"))
    }),

    // SPAN-LEVEL dedup REMOVAL (sub-document exact-substring dedup —
    // the "dedup training data" rewrite at span granularity): tokens
    // covered by any corpus-duplicated 8-token window are CUT; the
    // digest output keeps the rebuilt text oracle-hashable
    "dedup_span_removal" -> ((s, dir) =>
      Dedup.removeDuplicatedSpans(docs(s, dir), "text", "doc_id",
          w = 8, minDf = 2L)
        .select(col("doc_id"), md5(col("clean_text")).as("clean_md5"),
          col("n_tokens"), col("n_removed"))),

    // the STREAMING scrub twin: the same row-local scrub chain
    // (augment → normalize → PII count/redact) replayed as a bounded
    // file stream with an append sink — stateless, so batch ≡ stream
    // verbatim; the oracle recomputes the chain from raw documents
    "stream_scrub_profile" -> ((s, dir) => {
      val path = streamedScrub(s, dir)
      s.read.parquet(path)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(length(col("scrubbed"))).as("sum_clean_chars"),
          sum(col("n_emails")).as("sum_emails"))
    }),

    // token-budget corpus selection: highest-quality docs first until
    // a 10k-token budget, via the packed-key distributed prefix sum
    // (selection = offset < budget in (10000 - quality, doc_id) order)
    // — profiled per source. The oracle replays the same greedy cut
    // with a window cumsum.
    "budget_selection" -> ((s, dir) => {
      import graft.operators.Packing
      val d = docs(s, dir)
      val scored = TextAnalysis.statsKernel(d, "text", "doc_id")
        .select(col("id").as("doc_id"), col("n_tokens"),
          (lit(10000L) - col("quality_e4")).as("pr"))
      Packing.selectByBudget(scored, "doc_id", "n_tokens", "pr",
          budget = 10000L)
        .join(d.select(col("doc_id"), col("source")), Seq("doc_id"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("sum_tokens"))
    }),

    // per-language curation quotas: an independent quality-first
    // token-budget cut inside each language (en 5000 / zh 3000 /
    // de+es+fr 2000 tokens; grouped prefix sum, one range shuffle)
    "budget_by_lang" -> ((s, dir) => {
      import graft.operators.Packing
      val d = docs(s, dir)
      val scored = TextAnalysis.statsKernel(d, "text", "doc_id")
        .select(col("id").as("doc_id"), col("n_tokens"),
          (lit(10000L) - col("quality_e4")).as("pr"))
        .join(d.select(col("doc_id"), col("lang")), Seq("doc_id"))
      Packing.selectByBudgetByGroup(scored, "lang", "doc_id", "n_tokens",
          "pr", Map("en" -> 5000L, "zh" -> 3000L, "de" -> 2000L,
            "es" -> 2000L, "fr" -> 2000L))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("sum_tokens"))
    }),

    // the full dataset-build flow in one query: quality scoring →
    // token-budget greedy cut → concat-and-chunk packing of the
    // selected corpus → per-window occupancy profile. Two chained
    // distributed prefix sums (selection order, then pack order) —
    // the end-to-end path a trainer-ready dataset actually takes.
    "pipeline_dataset_build" -> ((s, dir) => {
      import graft.operators.Packing
      val d = docs(s, dir)
      val scored = TextAnalysis.statsKernel(d, "text", "doc_id")
        .select(col("id").as("doc_id"), col("n_tokens"),
          (lit(10000L) - col("quality_e4")).as("pr"))
      val sel = Packing.selectByBudget(scored, "doc_id", "n_tokens", "pr",
          budget = 10000L)
        .select(col("doc_id"), col("n_tokens").as("nt"))
      Packing.packProfile(
          Packing.packSequences(sel, "doc_id", "nt", capacity = 2048L))
        .select(col("seq_id"), col("n_docs"), col("n_tokens"))
    }),

    // exact length percentiles per source (index-selection semantics:
    // value at sorted position floor((n-1)·p/100), ties broken by
    // doc_id — integer-exact, one shuffle)
    // cross-source QUALITY CALIBRATION (quantile normalization): a
    // global "top quality" cut on raw scores is dominated by whichever
    // source's scorer runs generous — mapping each doc to its
    // within-source percentile rank makes scores comparable, the
    // standard curation step before a cross-source budget cut. One
    // window per source (rank + size ride the same partitioning), the
    // two top-100 cuts are TakeOrdered (per-partition top-k merge,
    // never a global window/sort), output = per-source selection
    // profile raw vs calibrated
    "quality_calibrated_mix" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val d = docs(s, dir)
      val scored = TextAnalysis.statsKernel(d, "text", "doc_id")
        .select(col("id").as("doc_id"), col("quality_e4"))
        .join(d.select(col("doc_id"), col("source")), Seq("doc_id"))
      val bySrc = Window.partitionBy(col("source"))
        .orderBy(col("quality_e4"), col("doc_id"))
      val ranked = scored
        .withColumn("rn", row_number().over(bySrc))
        .withColumn("n",
          count(lit(1)).over(Window.partitionBy(col("source"))))
        .withColumn("cal_e4", when(col("n") === 1, lit(0L))
          .otherwise(floor(lit(10000L) * (col("rn") - 1) / (col("n") - 1))
            .cast("long")))
      val topRaw = scored
        .orderBy(col("quality_e4").desc, col("doc_id")).limit(100)
        .groupBy(col("source")).agg(count(lit(1)).as("n_top_raw"))
      val topCal = ranked
        .orderBy(col("cal_e4").desc, col("doc_id")).limit(100)
        .groupBy(col("source")).agg(count(lit(1)).as("n_top_cal"))
      topRaw.join(topCal, Seq("source"), "full_outer")
        .select(col("source"),
          coalesce(col("n_top_raw"), lit(0L)).as("n_top_raw"),
          coalesce(col("n_top_cal"), lit(0L)).as("n_top_cal"))
    }),

    "length_percentiles" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val nt = docs(s, dir).select(col("source"), col("doc_id"),
        TextAnalysis.tokenCount(col("text")).as("nt"))
      val byLen = Window.partitionBy(col("source"))
        .orderBy(col("nt"), col("doc_id"))
      val ranked = nt
        .withColumn("rn", row_number().over(byLen))
        .withColumn("n", count(lit(1)).over(Window.partitionBy(col("source"))))
      def pick(p: Int) =
        max(when(col("rn") === floor((col("n") - 1) * p / lit(100)) + 1,
          col("nt")))
      ranked.groupBy(col("source"))
        .agg(max(col("n")).as("n_docs"), pick(50).as("p50_tokens"),
          pick(90).as("p90_tokens"), pick(99).as("p99_tokens"))
    }))

  // ---------------------------------------------------------------- oracles

  /** Shingle CTE fragment: doc_id + distinct 3-gram shingle list
    * (whole-doc shingle for docs shorter than 3 tokens). */
  private val shingleCte =
    """sh AS (
      |  SELECT doc_id,
      |    list_distinct(CASE WHEN len(toks) >= 3
      |      THEN list_transform(range(1, len(toks) - 1),
      |             i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
      |      ELSE [array_to_string(toks, ' ')] END) AS shset
      |  FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
      |        FROM documents))""".stripMargin

  /** The minhash-banding candidate CTE chain (16 hashes, 4 bands of 4
    * rows — shared verbatim by the `dedup_minhash_lsh` oracle and the
    * LSH-consensus twin): yields `withsets(id_a, id_b, hs_a, hs_b)`,
    * the banded candidate pairs with their raw shingle-hash sets. */
  private val minhashLshCte: String = {
    val sigs = (0 until 16).map { i =>
      val (a, b) = Dedup.hashCoeffs(i)
      s"list_min(list_transform(hs_raw, h -> ((h % ${Dedup.HashP}) * $a + $b) % ${Dedup.HashP})) AS mh_$i"
    }.mkString(",\n    ")
    val bandKeys = (0 until 4).map { b =>
      val cols = (0 until 4).map(r => s"CAST(mh_${b * 4 + r} AS VARCHAR)")
      s"{band: $b, key: md5(${cols.mkString(" || ',' || ")})}"
    }.mkString(", ")
    s"""$shingleCte,
       |hashed AS (SELECT doc_id,
       |    list_transform(shset,
       |      x -> CAST('0x' || substr(md5(x), 1, 15) AS BIGINT)) AS hs_raw
       |  FROM sh),
       |sig AS (SELECT doc_id, hs_raw,
       |    $sigs
       |  FROM hashed),
       |banded0 AS (SELECT doc_id, unnest([$bandKeys]) AS bk FROM sig),
       |banded AS (SELECT doc_id, bk.band AS band, bk.key AS key FROM banded0),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM banded a JOIN banded b
       |    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
       |withsets AS (
       |  SELECT c.id_a, c.id_b, sa.hs_raw AS hs_a, sb.hs_raw AS hs_b
       |  FROM cand c
       |  JOIN sig sa ON sa.doc_id = c.id_a
       |  JOIN sig sb ON sb.doc_id = c.id_b)""".stripMargin
  }

  private val stopLists: Map[String, String] = TextAnalysis.stopwords.toMap
    .map { case (l, ws) => l -> ws.map(w => s"'$w'").mkString("(", ",", ")") }

  private def hits(lang: String): String =
    s"len(list_filter(toks, t -> t IN ${stopLists(lang)}))"

  private val allStops: String = TextAnalysis.stopwords.flatMap(_._2).distinct
    .map(w => s"'$w'").mkString("(", ",", ")")

  /** text_stats oracle body — shared verbatim by the composed-
    * pipeline oracle so both gates replicate the kernel arithmetic
    * identically. */
  private lazy val textStatsSql: String = {
      val langCase = TextAnalysis.stopwords.map(_._1)
        .map(l => s"WHEN s_$l = best AND best > 0 THEN '$l'")
        .mkString("CASE ", " ", " ELSE 'und' END")
      val scores = TextAnalysis.stopwords.map(_._1)
        .map(l => s"${hits(l)} AS s_$l").mkString(",\n    ")
      s"""SELECT doc_id, $langCase AS lang_pred,
         |  CAST(nt AS BIGINT) AS n_tokens,
         |  CAST(len(regexp_extract_all(lower(text),
         |    '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS BIGINT) AS n_bpeish,
         |  CAST(floor(
         |    2500.0 * least(nc / 500.0, 1.0) +
         |    2500.0 * (nstop / CAST(nt AS DOUBLE)) +
         |    2500.0 * (1.0 - npunct / CAST(nc AS DOUBLE)) +
         |    2500.0 * least(((nc - npunct) / CAST(nt AS DOUBLE)) / 10.0, 1.0)
         |  ) AS BIGINT) AS quality_e4
         |FROM (
         |  SELECT doc_id, text, toks,
         |    greatest(s_de, s_en, s_es, s_fr, s_zh) AS best,
         |    s_de, s_en, s_es, s_fr, s_zh,
         |    len(toks) AS nt,
         |    CAST(length(text) AS DOUBLE) AS nc,
         |    CAST(len(list_filter(toks, t -> t IN $allStops)) AS DOUBLE) AS nstop,
         |    CAST(length(text) -
         |      length(regexp_replace(text, '[^a-zA-Z0-9\\s]', '', 'g')) AS DOUBLE)
         |      AS npunct
         |  FROM (
         |    SELECT doc_id, text, toks,
         |      $scores
         |    FROM (SELECT doc_id, text,
         |            string_split_regex(trim(text), '\\s+') AS toks
         |          FROM documents)))""".stripMargin
  }

  /** legacy_dedup_ngram_jaccard's full oracle — shared with the cluster
    * oracle so both close over the identical pair set. */
  /** Full canonical-clustering replay (exact-group collapse ->
    * rep-level pair closure -> members inherit), shared verbatim by
    * the full and incremental canonical gates. */
  private lazy val canonicalClustersSql: String =
    """WITH RECURSIVE base AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000001 AS doc_id, text FROM documents
        |  WHERE doc_id % 13 = 5),
        |canon AS (
        |  SELECT b.doc_id, c.cid FROM base b
        |  JOIN (SELECT text, min(doc_id) AS cid FROM base GROUP BY 1) c
        |    USING (text)),
        |reps AS (SELECT min(doc_id) AS doc_id, text FROM base
        |         GROUP BY text),
        |sh AS (
        |  SELECT doc_id,
        |    list_distinct(CASE WHEN len(toks) >= 3
        |      THEN list_transform(range(1, len(toks) - 1),
        |             i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
        |      ELSE [array_to_string(toks, ' ')] END) AS shset
        |  FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
        |        FROM reps)),
        |ex AS (SELECT doc_id,
        |  unnest(list_transform(shset,
        |    x -> CAST('0x' || substr(md5(x), 1, 15) AS BIGINT))) AS s
        |  FROM sh),
        |sizes AS (SELECT doc_id, len(shset) AS sz FROM sh),
        |keep AS (SELECT s FROM ex GROUP BY s HAVING count(*) <= 1000),
        |pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common
        |  FROM ex a JOIN keep USING (s) JOIN ex b USING (s)
        |  WHERE a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |jp AS (
        |  SELECT p.id_a, p.id_b FROM pairs p
        |  JOIN sizes sa ON sa.doc_id = p.id_a
        |  JOIN sizes sb ON sb.doc_id = p.id_b
        |  WHERE 10000 * p.common >= 5000 * (sa.sz + sb.sz - p.common)),
        |sym AS (SELECT id_a AS a, id_b AS b FROM jp
        |        UNION ALL SELECT id_b AS a, id_a AS b FROM jp),
        |reach AS (
        |  SELECT doc_id AS a, doc_id AS b FROM reps
        |  UNION
        |  SELECT r.a, s.b FROM reach r JOIN sym s ON s.a = r.b),
        |comp AS (SELECT a AS cid, min(b) AS component
        |         FROM reach GROUP BY a)
        |SELECT canon.doc_id, comp.component
        |FROM canon JOIN comp USING (cid)""".stripMargin

  private lazy val jaccardPairsSql: String =
    s"""WITH $shingleCte,
       |ex AS (SELECT doc_id,
       |  unnest(list_transform(shset,
       |    x -> CAST('0x' || substr(md5(x), 1, 15) AS BIGINT))) AS s
       |  FROM sh),
       |sizes AS (SELECT doc_id, len(shset) AS sz FROM sh),
       |keep AS (SELECT s FROM ex GROUP BY s HAVING count(*) <= 1000),
       |pairs AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common
       |  FROM ex a JOIN keep USING (s) JOIN ex b USING (s)
       |  WHERE a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT p.id_a, p.id_b, p.common, sa.sz AS sz_a, sb.sz AS sz_b
       |FROM pairs p
       |JOIN sizes sa ON sa.doc_id = p.id_a
       |JOIN sizes sb ON sb.doc_id = p.id_b
       |WHERE 10000 * p.common >= 5000 * (sa.sz + sb.sz - p.common)""".stripMargin

  /** Shared by the exact scan, MG heavy-hitters, and index-served
    * vocabulary queries. */
  private val vocabSql: String =
    """SELECT token, count(*) AS n
      |FROM (SELECT unnest(string_split_regex(trim(text), '\s+')) AS token
      |      FROM documents)
      |GROUP BY token
      |ORDER BY n DESC, token
      |LIMIT 50""".stripMargin

  /** Shared by the corpus-scan and index-derived drift queries (one
    * scoring tail — `Profiling.tokenDriftFromCounts`). */
  private val driftSql: String =
    """WITH da AS (
      |  SELECT text FROM documents WHERE CAST(substr(source, 4) AS INT) < 10),
      |db AS (
      |  SELECT text FROM documents WHERE CAST(substr(source, 4) AS INT) >= 10),
      |ta AS (SELECT token, count(*) AS cnt_a FROM (
      |  SELECT unnest(string_split_regex(trim(text), '\s+')) AS token FROM da)
      |  GROUP BY 1),
      |tb AS (SELECT token, count(*) AS cnt_b FROM (
      |  SELECT unnest(string_split_regex(trim(text), '\s+')) AS token FROM db)
      |  GROUP BY 1),
      |j AS (
      |  SELECT coalesce(ta.token, tb.token) AS token,
      |    coalesce(ta.cnt_a, 0) AS cnt_a, coalesce(tb.cnt_b, 0) AS cnt_b
      |  FROM ta FULL OUTER JOIN tb ON ta.token = tb.token),
      |top AS (
      |  SELECT * FROM j ORDER BY (cnt_a + cnt_b) DESC, token ASC LIMIT 50),
      |tot AS (
      |  SELECT CAST(sum(cnt_a) AS BIGINT) AS tot_a,
      |         CAST(sum(cnt_b) AS BIGINT) AS tot_b FROM j),
      |v AS (SELECT count(*) AS v FROM top)
      |SELECT token, cnt_a, cnt_b,
      |  CAST(floor(
      |    (CAST(1000000000.0 AS DOUBLE) *
      |      ((cnt_a + CAST(1.0 AS DOUBLE)) / (tot_a + v)))
      |    * ln(((cnt_a + CAST(1.0 AS DOUBLE)) / (tot_a + v))
      |         / ((cnt_b + CAST(1.0 AS DOUBLE)) / (tot_b + v))))
      |    AS BIGINT) AS kl_e9
      |FROM top CROSS JOIN tot CROSS JOIN v""".stripMargin

  /** Shared by the scan-time and index-served phrase queries
    * (positional-postings fold ≡ gram counting — spec-pinned). */
  private val phraseSql: String =
    """WITH ph(phrase) AS (VALUES
      |    ('hash join'), ('batch batch'), ('window window')),
      |tk AS (
      |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
      |  FROM documents),
      |g AS (
      |  SELECT doc_id,
      |    list_transform(range(1, len(toks)),
      |      i -> toks[i] || ' ' || toks[i+1]) AS grams
      |  FROM tk)
      |SELECT doc_id, phrase,
      |  CAST(len(list_filter(grams, x -> x = phrase)) AS BIGINT) AS n_hits
      |FROM g CROSS JOIN ph
      |WHERE len(list_filter(grams, x -> x = phrase)) > 0""".stripMargin

  /** Shared by the scan-time and indexed BM25 queries (indexed ≡
    * scan-time by construction — one scorer, spec-pinned). */
  private val bm25Sql: String =
    """WITH q(query_id, token) AS (VALUES
      |    ('q_hash_join', 'hash'), ('q_hash_join', 'join'),
      |    ('q_window_scan', 'window'), ('q_window_scan', 'sort'),
      |    ('q_window_scan', 'scan'),
      |    ('q_stream', 'stream'), ('q_stream', 'batch'),
      |    ('q_stream', 'spark')),
      |tk AS (
      |  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS token
      |  FROM documents),
      |dlt AS (
      |  SELECT doc_id,
      |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS dl
      |  FROM documents),
      |tf AS (
      |  SELECT doc_id, token, count(*) AS tf FROM tk
      |  WHERE token IN (SELECT DISTINCT token FROM q) GROUP BY 1, 2),
      |dfq AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
      |st AS (SELECT count(*) AS n, CAST(sum(dl) AS BIGINT) AS sumdl FROM dlt),
      |co AS (
      |  SELECT f.doc_id, f.token,
      |    CAST(floor(
      |      (CAST(1000000.0 AS DOUBLE) *
      |        ln((((s.n - d.df) + CAST(0.5 AS DOUBLE))
      |              / (d.df + CAST(0.5 AS DOUBLE))) + CAST(1.0 AS DOUBLE)))
      |      * ((f.tf * CAST(2.2 AS DOUBLE)) /
      |         (f.tf + CAST(1.2 AS DOUBLE) *
      |           (CAST(0.25 AS DOUBLE) +
      |             (CAST(0.75 AS DOUBLE) * l.dl)
      |               / (CAST(s.sumdl AS DOUBLE) / s.n)))))
      |      AS BIGINT) AS score_e6
      |  FROM tf f JOIN dfq d USING (token)
      |  JOIN dlt l ON l.doc_id = f.doc_id CROSS JOIN st s),
      |perq AS (
      |  SELECT q.query_id, c.doc_id, count(*) AS n_terms,
      |    CAST(sum(c.score_e6) AS BIGINT) AS score_e6
      |  FROM co c JOIN q ON q.token = c.token GROUP BY 1, 2),
      |ranked AS (
      |  SELECT *, row_number() OVER (PARTITION BY query_id
      |      ORDER BY score_e6 DESC, doc_id) AS rk
      |  FROM perq)
      |SELECT query_id, CAST(rk AS BIGINT) AS rk, doc_id, n_terms, score_e6
      |FROM ranked WHERE rk <= 5""".stripMargin

  /** The erasure oracle: [[bm25Sql]] recomputed over the SURVIVING
    * corpus — same scorer text, documents CTE-filtered to exclude the
    * deletion subjects. Derived mechanically so the two oracles can
    * never drift on the scorer. */
  private val erasedBm25Sql: String = {
    val subjects = erasedDocIds.mkString(", ")
    // anchor-validated like EmbeddingQueries.erasedIvfOracle: a
    // bm25Sql refactor that moves either anchor must fail HERE, not
    // as an opaque gate mismatch downstream
    require(bm25Sql.startsWith("WITH ") && bm25Sql.contains("FROM documents"),
      "erasedBm25Sql: oracle surgery anchor moved")
    s"""WITH __docs AS (
       |  SELECT * FROM documents WHERE doc_id NOT IN ($subjects)),
       |""".stripMargin +
      bm25Sql.stripPrefix("WITH ").replace("FROM documents", "FROM __docs")
  }

  /** Hybrid retrieval oracle: the SAME bm25 chain (candidates rk ≤ 20)
    * reranked by embedding cosine against the query's mapped vector —
    * stage-1 lexical recall, stage-2 dense precision. */
  private val hybridSql: String = {
    val chain = bm25Sql
      .substring(0, bm25Sql.lastIndexOf("SELECT query_id")).trim + ",\n"
    chain +
      """cand AS (SELECT query_id, doc_id, score_e6 FROM ranked
        |         WHERE rk <= 20),
        |qm(query_id, qvec_id) AS (VALUES
        |    ('q_hash_join', 0), ('q_window_scan', 1), ('q_stream', 2)),
        |qv AS (SELECT qm.query_id, CAST(e.embedding AS DOUBLE[]) AS v
        |       FROM qm JOIN embeddings e ON e.vec_id = qm.qvec_id),
        |cv AS (SELECT vec_id AS doc_id, CAST(embedding AS DOUBLE[]) AS v
        |       FROM embeddings),
        |rr AS (
        |  SELECT c.query_id, c.doc_id, c.score_e6,
        |    row_number() OVER (PARTITION BY c.query_id
        |      ORDER BY list_dot_product(qv.v, cv.v) DESC, c.doc_id) AS rank
        |  FROM cand c JOIN cv ON cv.doc_id = c.doc_id
        |  JOIN qv ON qv.query_id = c.query_id)
        |SELECT query_id, CAST(rank AS BIGINT) AS rank, doc_id, score_e6
        |FROM rr WHERE rank <= 5""".stripMargin
  }

  /** Shared by the scan and the manifest-cached twin — one SQL,
    * two serving paths. */
  private lazy val textSourceProfileSql: String = {
      val langCase = TextAnalysis.stopwords.map(_._1)
        .map(l => s"WHEN ${hits(l)} = best AND best > 0 THEN '$l'")
        .mkString("CASE ", " ", " ELSE 'und' END")
      val bestExpr = TextAnalysis.stopwords.map(_._1).map(hits)
        .mkString("greatest(", ", ", ")")
      s"""SELECT source, lang_pred, count(*) AS n_docs,
         |  CAST(sum(quality_e4) AS BIGINT) AS sum_quality_e4
         |FROM (
         |  SELECT source, $langCase AS lang_pred,
         |    CAST(floor(
         |      2500.0 * least(nc / 500.0, 1.0) +
         |      2500.0 * (nstop / CAST(nt AS DOUBLE)) +
         |      2500.0 * (1.0 - npunct / CAST(nc AS DOUBLE)) +
         |      2500.0 * least(((nc - npunct) / CAST(nt AS DOUBLE)) / 10.0, 1.0)
         |    ) AS BIGINT) AS quality_e4
         |  FROM (
         |    SELECT source, toks, $bestExpr AS best,
         |      len(toks) AS nt,
         |      CAST(length(text) AS DOUBLE) AS nc,
         |      CAST(len(list_filter(toks, t -> t IN $allStops)) AS DOUBLE) AS nstop,
         |      CAST(length(text) -
         |        length(regexp_replace(text, '[^a-zA-Z0-9\\s]', '', 'g')) AS DOUBLE)
         |        AS npunct
         |    FROM (SELECT source, text,
         |            string_split_regex(trim(text), '\\s+') AS toks
         |          FROM documents)))
         |GROUP BY 1, 2""".stripMargin
  }

  /** Shared by the batch scan and the streaming-maintained store —
    * one SQL, two serving paths. */
  private val manifestSql: String =
    """SELECT source, count(*) AS n_docs,
      |  CAST(sum(length(text)) AS BIGINT) AS n_chars,
      |  CAST(sum(CAST(CAST('0x' || substr(md5(text), 1, 15) AS BIGINT)
      |      AS HUGEINT)) % 1152921504606846976 AS BIGINT) AS digest60
      |FROM documents GROUP BY 1""".stripMargin

  /** The golden BPE merge table: bpeTrain(nMerges = 12) on the driver
    * CORRECTNESS fixture (/root/testdata/sf0.01 documents),
    * deterministic by construction (exact integer pair counts,
    * (freq desc, left asc, right asc) total-order tie-break). Shared
    * by the `bpe_merges` pin and the `bpe_tokenize` replay.
    *
    * FIXTURE-PINNED — the one deliberate exception to "every oracle
    * recomputes from the data dir" (training is SQL-inexpressible):
    * at any other SF dir or after a fixture regeneration these two
    * gates fail LOUDLY as oracle mismatches (pair frequencies scale
    * with the corpus), which is the intended signal to re-capture the
    * golden values. Scale soaks must exclude them (tools/soak_sf1.sh
    * does). */
  private val bpeMergeValues: String =
    """(1,'e','r',4568), (2,'e','</w>',4473), (3,'n','</w>',2834),
      |(4,'er','</w>',2779), (5,'o','w',2747), (6,'ow','</w>',2747),
      |(7,'o','r',2696), (8,'s','t',2676), (9,'h','</w>',1884),
      |(10,'a','t',1845), (11,'l','u',1831), (12,'i','n',1796)"""
      .stripMargin

  /** Shared by `dedup_rate_by_source` and its SQL-view twin. */
  private val dedupRateSql: String =
      """WITH k AS (SELECT doc_id, source, md5(text) AS k FROM documents),
        |r AS (SELECT *, row_number() OVER (PARTITION BY k
        |        ORDER BY doc_id) AS rn FROM k)
        |SELECT source, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_canonical,
        |  CAST(floor(CAST(10000.0 AS DOUBLE) *
        |    (count(*) - sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END))
        |    / count(*)) AS BIGINT) AS dup_e4
        |FROM r GROUP BY 1""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "hybrid_search" -> hybridSql,

    // golden pin of the deterministic trainer output (see the query's
    // comment — training itself is inexpressible in SQL)
    "bpe_merges" ->
      s"""SELECT CAST(step AS INT) AS step, "left", "right",
         |  CAST(freq AS BIGINT) AS freq
         |FROM (VALUES
         |$bpeMergeValues
         |) t(step, "left", "right", freq)""".stripMargin,

    // full algorithmic replication of subword-nmt SERVING over the
    // golden merge table: per distinct word, iterate "merge the
    // lowest-ranked present adjacent pair" to fixpoint (recursive CTE
    // with UNION termination), each application greedy left-to-right
    // via a list_reduce fold over a chr(31)-delimited accumulator
    // (fixture is printable ASCII — the delimiter cannot occur in a
    // token); pieces rejoin doc words by position and digest in order
    "bpe_tokenize" ->
      s"""WITH RECURSIVE
         |branks(rk, l, r) AS (SELECT step, "left", "right" FROM (VALUES
         |$bpeMergeValues
         |) t(step, "left", "right", freq)),
         |rmap AS (SELECT MAP(list(l || chr(31) || r ORDER BY rk),
         |                    list(rk ORDER BY rk)) AS m FROM branks),
         |dw AS (SELECT doc_id, w, widx FROM (
         |   SELECT doc_id,
         |     unnest(string_split_regex(lower(text), '\\s+')) AS w,
         |     generate_subscripts(
         |       string_split_regex(lower(text), '\\s+'), 1) AS widx
         |   FROM documents) WHERE w <> ''),
         |words AS (SELECT DISTINCT w FROM dw),
         |init AS (SELECT w,
         |  list_append(list_transform(range(1, length(w) + 1),
         |    i -> substr(w, CAST(i AS INT), 1)), '</w>') AS syms
         |  FROM words),
         |it(w, syms) AS (
         |  SELECT w, syms FROM init
         |  UNION
         |  SELECT w,
         |    CASE WHEN best IS NULL THEN syms
         |         ELSE string_split(list_reduce(syms, (acc, x) ->
         |           CASE WHEN x = br AND acc = bl THEN bl || br
         |                WHEN x = br AND ends_with(acc, chr(31) || bl)
         |                  THEN left(acc, length(acc) - length(bl))
         |                       || bl || br
         |                ELSE acc || chr(31) || x END), chr(31))
         |    END
         |  FROM (
         |    SELECT s.w, s.syms, s.best, rr.l AS bl, rr.r AS br
         |    FROM (
         |      SELECT w, syms,
         |        list_min(list_transform(range(1, len(syms)),
         |          i -> m[syms[CAST(i AS INT)] || chr(31)
         |                 || syms[CAST(i AS INT) + 1]][1])) AS best
         |      FROM it, rmap) s LEFT JOIN branks rr ON rr.rk = s.best)),
         |fin AS (
         |  SELECT w, syms FROM it, rmap
         |  WHERE list_min(list_transform(range(1, len(syms)),
         |    i -> m[syms[CAST(i AS INT)] || chr(31)
         |           || syms[CAST(i AS INT) + 1]][1])) IS NULL),
         |tok AS (SELECT doc_id, widx, syms FROM dw JOIN fin USING (w)),
         |pieces AS (SELECT doc_id, widx, unnest(syms) AS p,
         |  generate_subscripts(syms, 1) AS pidx FROM tok)
         |SELECT doc_id, count(*) AS n_pieces,
         |  md5(string_agg(p, ' ' ORDER BY widx, pidx)) AS pieces_md5
         |FROM pieces GROUP BY doc_id""".stripMargin,

    "dedup_exact" ->
      """SELECT d.doc_id, c.canonical_id
        |FROM documents d
        |JOIN (SELECT text, min(doc_id) AS canonical_id
        |      FROM documents GROUP BY text) c USING (text)""".stripMargin,

    "legacy_dedup_ngram_jaccard" -> jaccardPairsSql,

    // jaccardPairsSql's index with the containment threshold and the
    // directed ratios — same shingle hashes, same candidate pairs
    "legacy_dedup_containment" ->
      s"""WITH $shingleCte,
         |ex AS (SELECT doc_id,
         |  unnest(list_transform(shset,
         |    x -> CAST('0x' || substr(md5(x), 1, 15) AS BIGINT))) AS s
         |  FROM sh),
         |sizes AS (SELECT doc_id, len(shset) AS sz FROM sh),
         |keep AS (SELECT s FROM ex GROUP BY s HAVING count(*) <= 1000),
         |pairs AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common
         |  FROM ex a JOIN keep USING (s) JOIN ex b USING (s)
         |  WHERE a.doc_id < b.doc_id
         |  GROUP BY 1, 2)
         |SELECT p.id_a, p.id_b, p.common, sa.sz AS sz_a, sb.sz AS sz_b,
         |  CAST(floor(p.common * 10000.0 / sa.sz) AS BIGINT) AS cont_a_e4,
         |  CAST(floor(p.common * 10000.0 / sb.sz) AS BIGINT) AS cont_b_e4
         |FROM pairs p
         |JOIN sizes sa ON sa.doc_id = p.id_a
         |JOIN sizes sb ON sb.doc_id = p.id_b
         |WHERE 10000 * p.common >= 7000 * least(sa.sz, sb.sz)""".stripMargin,

    // the split twin of jaccardPairsSql: probe side = doc_id % 5 = 4,
    // index side = the rest, df cap computed on the INDEX side only
    "dedup_incremental" ->
      s"""WITH $shingleCte,
         |ex AS (SELECT doc_id,
         |  unnest(list_transform(shset,
         |    x -> CAST('0x' || substr(md5(x), 1, 15) AS BIGINT))) AS s
         |  FROM sh),
         |nw AS (SELECT * FROM ex WHERE doc_id % 5 = 4),
         |old AS (SELECT * FROM ex WHERE doc_id % 5 <> 4),
         |sizes AS (SELECT doc_id, len(shset) AS sz FROM sh),
         |keep AS (SELECT s FROM old GROUP BY s HAVING count(*) <= 1000),
         |pairs AS (
         |  SELECT n.doc_id AS id_new, o.doc_id AS id_old,
         |    count(*) AS common
         |  FROM nw n JOIN keep USING (s) JOIN old o USING (s)
         |  GROUP BY 1, 2)
         |SELECT p.id_new, p.id_old, p.common,
         |  sa.sz AS sz_new, sb.sz AS sz_old
         |FROM pairs p
         |JOIN sizes sa ON sa.doc_id = p.id_new
         |JOIN sizes sb ON sb.doc_id = p.id_old
         |WHERE 10000 * p.common >= 5000 * (sa.sz + sb.sz - p.common)""".stripMargin,

    // the incremental close must be indistinguishable from the full
    // canonical re-resolve — oracle shared verbatim
    "dedup_canonical_incremental" -> canonicalClustersSql,

    // exact-group collapse → rep-level pair closure → members inherit:
    // the full canonical semantics replayed (df caps over DISTINCT
    // contents, clones joined by content equality, labels = min doc id
    // of the merged content groups)
    "dedup_clusters_canonical" -> canonicalClustersSql,


    // transitive closure of the SAME pair set via a recursive CTE:
    // component = min doc_id reachable through near-dup edges
    "legacy_dedup_clusters" ->
      s"""WITH RECURSIVE jp AS (
         |$jaccardPairsSql
         |),
         |sym AS (SELECT id_a AS a, id_b AS b FROM jp
         |        UNION ALL SELECT id_b AS a, id_a AS b FROM jp),
         |reach AS (
         |  SELECT doc_id AS a, doc_id AS b FROM documents
         |  UNION
         |  SELECT r.a, s.b FROM reach r JOIN sym s ON s.a = r.b)
         |SELECT a AS doc_id, min(b) AS component FROM reach GROUP BY a""".stripMargin,

    "dedup_cluster_cohesion" ->
      s"""WITH RECURSIVE jp AS (
         |$jaccardPairsSql
         |),
         |sym AS (SELECT id_a AS a, id_b AS b FROM jp
         |        UNION ALL SELECT id_b AS a, id_a AS b FROM jp),
         |reach AS (
         |  SELECT doc_id AS a, doc_id AS b FROM documents
         |  UNION
         |  SELECT r.a, s.b FROM reach r JOIN sym s ON s.a = r.b),
         |comp AS (SELECT a AS doc_id, min(b) AS component
         |         FROM reach GROUP BY a),
         |sz AS (SELECT component, count(*) AS n_members FROM comp
         |       GROUP BY 1 HAVING count(*) > 1),
         |pj AS (SELECT c.component, count(*) AS n_pairs,
         |    CAST(sum((10000 * common) // (sz_a + sz_b - common))
         |      AS BIGINT) AS sum_jaccard_e4
         |  FROM jp JOIN comp c ON c.doc_id = jp.id_a GROUP BY 1)
         |SELECT s.component, s.n_members, p.n_pairs,
         |  (10000 * p.n_pairs)
         |    // ((s.n_members * (s.n_members - 1)) // 2)
         |    AS completeness_e4,
         |  p.sum_jaccard_e4
         |FROM sz s JOIN pj p USING (component)""".stripMargin,

    // same reachability closure, collapsed twice to the size histogram
    "dedup_cluster_sizes" ->
      s"""WITH RECURSIVE jp AS (
         |$jaccardPairsSql
         |),
         |sym AS (SELECT id_a AS a, id_b AS b FROM jp
         |        UNION ALL SELECT id_b AS a, id_a AS b FROM jp),
         |reach AS (
         |  SELECT doc_id AS a, doc_id AS b FROM documents
         |  UNION
         |  SELECT r.a, s.b FROM reach r JOIN sym s ON s.a = r.b),
         |comp AS (SELECT a AS doc_id, min(b) AS component
         |         FROM reach GROUP BY a),
         |sz AS (SELECT component, count(*) AS cluster_size
         |       FROM comp GROUP BY 1)
         |SELECT cluster_size, count(*) AS n_clusters
         |FROM sz GROUP BY 1""".stripMargin,

    // algorithm-independent result: the star-contraction variant must
    // produce the identical component partition
    "legacy_dedup_clusters_star" ->
      s"""WITH RECURSIVE jp AS (
         |$jaccardPairsSql
         |),
         |sym AS (SELECT id_a AS a, id_b AS b FROM jp
         |        UNION ALL SELECT id_b AS a, id_a AS b FROM jp),
         |reach AS (
         |  SELECT doc_id AS a, doc_id AS b FROM documents
         |  UNION
         |  SELECT r.a, s.b FROM reach r JOIN sym s ON s.a = r.b)
         |SELECT a AS doc_id, min(b) AS component FROM reach GROUP BY a""".stripMargin,

    // the three scope-correct pair sets (old×old with the old-corpus
    // df cap, batch×old with the index-side cap, batch×batch with the
    // batch cap) closed together — the incremental label fold must
    // reach this exact partition
    "legacy_dedup_clusters_incremental" ->
      s"""WITH RECURSIVE $shingleCte,
         |ex AS (SELECT doc_id,
         |  unnest(list_transform(shset,
         |    x -> CAST('0x' || substr(md5(x), 1, 15) AS BIGINT))) AS s
         |  FROM sh),
         |nw AS (SELECT * FROM ex WHERE doc_id % 5 = 4),
         |old AS (SELECT * FROM ex WHERE doc_id % 5 <> 4),
         |sizes AS (SELECT doc_id, len(shset) AS sz FROM sh),
         |keep_old AS (SELECT s FROM old GROUP BY s HAVING count(*) <= 1000),
         |keep_new AS (SELECT s FROM nw GROUP BY s HAVING count(*) <= 1000),
         |p_old AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common
         |  FROM old a JOIN keep_old USING (s) JOIN old b USING (s)
         |  WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
         |jp_old AS (
         |  SELECT p.id_a, p.id_b FROM p_old p
         |  JOIN sizes sa ON sa.doc_id = p.id_a
         |  JOIN sizes sb ON sb.doc_id = p.id_b
         |  WHERE 10000 * p.common >= 5000 * (sa.sz + sb.sz - p.common)),
         |p_inc AS (
         |  SELECT n.doc_id AS id_a, o.doc_id AS id_b, count(*) AS common
         |  FROM nw n JOIN keep_old USING (s) JOIN old o USING (s)
         |  GROUP BY 1, 2),
         |jp_inc AS (
         |  SELECT p.id_a, p.id_b FROM p_inc p
         |  JOIN sizes sa ON sa.doc_id = p.id_a
         |  JOIN sizes sb ON sb.doc_id = p.id_b
         |  WHERE 10000 * p.common >= 5000 * (sa.sz + sb.sz - p.common)),
         |p_new AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common
         |  FROM nw a JOIN keep_new USING (s) JOIN nw b USING (s)
         |  WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
         |jp_new AS (
         |  SELECT p.id_a, p.id_b FROM p_new p
         |  JOIN sizes sa ON sa.doc_id = p.id_a
         |  JOIN sizes sb ON sb.doc_id = p.id_b
         |  WHERE 10000 * p.common >= 5000 * (sa.sz + sb.sz - p.common)),
         |allp AS (
         |  SELECT id_a, id_b FROM jp_old
         |  UNION ALL SELECT id_a, id_b FROM jp_inc
         |  UNION ALL SELECT id_a, id_b FROM jp_new),
         |sym AS (SELECT id_a AS a, id_b AS b FROM allp
         |        UNION ALL SELECT id_b AS a, id_a AS b FROM allp),
         |reach AS (
         |  SELECT doc_id AS a, doc_id AS b FROM documents
         |  UNION
         |  SELECT r.a, s.b FROM reach r JOIN sym s ON s.a = r.b)
         |SELECT a AS doc_id, min(b) AS component FROM reach GROUP BY a""".stripMargin,

    // the clusters CTE closed recursively, then the split hash on the
    // COMPONENT label — same md5 ranges as the other split oracles
    "split_leakage_profile" ->
      s"""WITH RECURSIVE jp AS (
         |$jaccardPairsSql
         |),
         |sym AS (SELECT id_a AS a, id_b AS b FROM jp
         |        UNION ALL SELECT id_b AS a, id_a AS b FROM jp),
         |reach AS (
         |  SELECT doc_id AS a, doc_id AS b FROM documents
         |  UNION
         |  SELECT r.a, s.b FROM reach r JOIN sym s ON s.a = r.b),
         |comp AS (SELECT a AS doc_id, min(b) AS component
         |         FROM reach GROUP BY a),
         |sp AS (
         |  SELECT d.doc_id, d.n_chars, c.component,
         |    CAST('0x' || substr(md5('42:' || CAST(c.component AS VARCHAR)),
         |      1, 15) AS BIGINT) % 10000 AS h
         |  FROM documents d JOIN comp c USING (doc_id))
         |SELECT CASE WHEN h < 8000 THEN 'train'
         |            WHEN h < 9000 THEN 'val'
         |            ELSE 'test' END AS split,
         |  count(*) AS n_docs,
         |  count(DISTINCT component) AS n_clusters,
         |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
         |FROM sp GROUP BY 1""".stripMargin,

    // the clusters CTE (same recursive closure) joined to the quality
    // CTE; kept member = row_number 1 under (quality DESC, doc_id)
    "dedup_keep_best" ->
      s"""WITH RECURSIVE jp AS (
         |$jaccardPairsSql
         |),
         |sym AS (SELECT id_a AS a, id_b AS b FROM jp
         |        UNION ALL SELECT id_b AS a, id_a AS b FROM jp),
         |reach AS (
         |  SELECT doc_id AS a, doc_id AS b FROM documents
         |  UNION
         |  SELECT r.a, s.b FROM reach r JOIN sym s ON s.a = r.b),
         |comp AS (SELECT a AS doc_id, min(b) AS component
         |         FROM reach GROUP BY a),
         |st AS ($textStatsSql),
         |scored AS (
         |  SELECT c.component, c.doc_id, st.quality_e4,
         |    count(*) OVER (PARTITION BY c.component) AS n_members,
         |    row_number() OVER (PARTITION BY c.component
         |      ORDER BY st.quality_e4 DESC, c.doc_id) AS rk
         |  FROM comp c JOIN st ON st.doc_id = c.doc_id)
         |SELECT component, doc_id, quality_e4, n_members
         |FROM scored WHERE rk = 1""".stripMargin,

    "dedup_minhash_lsh" ->
      s"""WITH $minhashLshCte
         |SELECT id_a, id_b,
         |  CAST(len(list_intersect(hs_a, hs_b)) AS BIGINT) AS common,
         |  CAST(len(hs_a) AS BIGINT) AS sz_a,
         |  CAST(len(hs_b) AS BIGINT) AS sz_b
         |FROM withsets
         |WHERE 10000 * len(list_intersect(hs_a, hs_b)) >=
         |  5000 * (len(hs_a) + len(hs_b) - len(list_intersect(hs_a, hs_b)))""".stripMargin,

    // both LSH pair universes recomputed exactly (minhash bands ≡ the
    // dedup_minhash_lsh oracle; sign-LSH buckets ≡ the
    // emb_lsh_near_pairs oracle), full-outer joined into the same
    // agreement classes as the exact ensemble
    "dedup_consensus_lsh" ->
      s"""WITH $minhashLshCte,
         |tpairs AS (
         |  SELECT id_a, id_b FROM withsets
         |  WHERE 10000 * len(list_intersect(hs_a, hs_b)) >=
         |    5000 * (len(hs_a) + len(hs_b) - len(list_intersect(hs_a, hs_b)))),
         |vb AS (
         |  SELECT vec_id, v, ${EmbeddingQueries.lshBucketSql} AS bucket
         |  FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
         |        FROM embeddings)),
         |epairs AS (
         |  SELECT a.vec_id AS id_a, b2.vec_id AS id_b
         |  FROM vb a JOIN vb b2
         |    ON a.bucket = b2.bucket AND a.vec_id < b2.vec_id
         |  WHERE list_dot_product(a.v, b2.v) >= 0.4),
         |j AS (
         |  SELECT CASE
         |    WHEN t.id_a IS NOT NULL AND e.id_a IS NOT NULL THEN 'both'
         |    WHEN t.id_a IS NOT NULL THEN 'text_only'
         |    ELSE 'emb_only' END AS signal
         |  FROM tpairs t FULL OUTER JOIN epairs e
         |    ON t.id_a = e.id_a AND t.id_b = e.id_b)
         |SELECT signal, count(*) AS n_pairs FROM j GROUP BY 1""".stripMargin,

    "text_simhash" -> {
      val votes = (0 until 32).map(j =>
        s"""CASE WHEN list_sum(list_transform(hs,
           |    h -> CASE WHEN (h >> $j) & 1 = 1 THEN 1 ELSE -1 END)) > 0
           |  THEN ${1L << j} ELSE 0 END""".stripMargin).mkString(" +\n  ")
      s"""SELECT doc_id, CAST($votes AS BIGINT) AS simhash
         |FROM (
         |  SELECT doc_id,
         |    list_transform(string_split_regex(trim(text), '\\s+'),
         |      t -> CAST('0x' || substr(md5(t), 1, 8) AS BIGINT)) AS hs
         |  FROM documents)""".stripMargin
    },

    "dedup_simhash_pairs" -> {
      val votes = (0 until 32).map(j =>
        s"""CASE WHEN list_sum(list_transform(hs,
           |    h -> CASE WHEN (h >> $j) & 1 = 1 THEN 1 ELSE -1 END)) > 0
           |  THEN ${1L << j} ELSE 0 END""".stripMargin).mkString(" +\n  ")
      s"""WITH sim AS (
         |  SELECT doc_id, CAST($votes AS BIGINT) AS simhash
         |  FROM (
         |    SELECT doc_id,
         |      list_transform(string_split_regex(trim(text), '\\s+'),
         |        t -> CAST('0x' || substr(md5(t), 1, 8) AS BIGINT)) AS hs
         |    FROM documents))
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |  a.simhash AS sim_a, b.simhash AS sim_b
         |FROM sim a JOIN sim b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3""".stripMargin
    },

    // recompute the decoded features from the generator's closed form
    // (Multimodal.syntheticPpm): w = 8 + id mod 25, h = 8 + (id div 25)
    // mod 25, pixel(x,y,c) = (id + x + y + 85c) mod 256 — the engine
    // side must PARSE the actual payload bytes to match this
    "multimodal_image_features" ->
      """WITH dims AS (
        |  SELECT doc_id AS media_id,
        |    8 + (doc_id % 25) AS w,
        |    8 + ((doc_id // 25) % 25) AS h
        |  FROM documents),
        |px AS (
        |  SELECT media_id, w, h, unnest(range(0, w * h)) AS i FROM dims)
        |SELECT media_id,
        |  CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
        |  CAST(3 AS BIGINT) AS channels,
        |  CAST(sum((media_id + (i % w) + (i // w)) % 256) AS BIGINT) AS ch0_sum,
        |  CAST(sum((media_id + (i % w) + (i // w) + 85) % 256) AS BIGINT) AS ch1_sum,
        |  CAST(sum((media_id + (i % w) + (i // w) + 170) % 256) AS BIGINT) AS ch2_sum
        |FROM px GROUP BY media_id, w, h""".stripMargin,

    // generator parameters re-derived per id; amplitude moments summed
    // over the interleaved sample index exactly as the codec sees them
    "multimodal_audio_features" ->
      """WITH p AS (
        |  SELECT doc_id AS media_id,
        |    CASE doc_id % 5 WHEN 0 THEN 8000 WHEN 1 THEN 16000
        |      WHEN 2 THEN 22050 WHEN 3 THEN 44100 ELSE 48000 END AS rate,
        |    1 + doc_id % 2 AS ch,
        |    500 + (31 * doc_id) % 1500 AS frames
        |  FROM documents),
        |s AS (
        |  SELECT media_id, rate, ch, frames,
        |    ((media_id + 7919 * unnest(range(0, frames * ch))) % 65536)
        |      - 32768 AS v
        |  FROM p)
        |SELECT media_id,
        |  CAST(rate AS BIGINT) AS sample_rate,
        |  CAST(ch AS BIGINT) AS channels,
        |  CAST(frames AS BIGINT) AS n_frames,
        |  CAST(frames * 1000 // rate AS BIGINT) AS duration_ms,
        |  CAST(sum(v) AS BIGINT) AS sum_amp,
        |  CAST(sum(v * v) AS BIGINT) AS sum_sq
        |FROM s GROUP BY media_id, rate, ch, frames""".stripMargin,

    // generator closed form replayed in SQL: byte(f,i) =
    // (id·31 + f·17 + i·7) mod 251 summed over sampled frames
    "multimodal_video_features" ->
      """WITH p AS (
        |  SELECT doc_id,
        |    4 + doc_id % 5 AS w,
        |    3 + (doc_id // 5) % 4 AS h,
        |    2 + doc_id % 4 AS nf,
        |    CASE doc_id % 3 WHEN 0 THEN 24 WHEN 1 THEN 25 ELSE 30 END AS fps
        |  FROM documents),
        |f AS (
        |  SELECT doc_id, w, h, nf, fps, unnest(range(0, nf, 2)) AS fr
        |  FROM p),
        |b AS (
        |  SELECT doc_id, w, h, nf, fps, fr,
        |    list_sum(list_transform(range(0, CAST(w * h * 3 AS INT)),
        |      i -> (doc_id * 31 + fr * 17 + i * 7) % 251)) AS fsum
        |  FROM f)
        |SELECT doc_id AS media_id,
        |  CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
        |  CAST(fps AS BIGINT) AS fps_num, CAST(1 AS BIGINT) AS fps_den,
        |  CAST(nf AS BIGINT) AS n_frames,
        |  count(*) AS sampled_frames,
        |  CAST(sum(fsum) AS BIGINT) AS sampled_sum
        |FROM b GROUP BY 1, 2, 3, 4, 5, 6""".stripMargin,

    // every thumbnail pixel recomputed from the generator's closed
    // form pixel(x,y,c) = (id + x + y + 85c) mod 256 through the
    // nearest-neighbor mapping sx = x·w/9, sy = y·h/8
    "multimodal_image_near_dup" ->
      """WITH geom AS (
        |  SELECT doc_id AS id, 8 + doc_id % 25 AS w,
        |    8 + (doc_id // 25) % 25 AS h
        |  FROM documents WHERE doc_id % 4 = 0),
        |px AS (
        |  SELECT id, w, h, xs.x AS x, ys.y AS y
        |  FROM geom, (SELECT unnest(range(9)) AS x) xs,
        |       (SELECT unnest(range(8)) AS y) ys),
        |gr AS (
        |  SELECT id, x, y,
        |    (( (id + (x*w//9) + (y*h//8)) % 256
        |     + (id + (x*w//9) + (y*h//8) + 85) % 256
        |     + (id + (x*w//9) + (y*h//8) + 170) % 256 ) // 3) AS g
        |  FROM px),
        |bits AS (
        |  SELECT a.id, (a.y*8 + a.x) AS pos,
        |    CASE WHEN b.g > a.g THEN 1 ELSE 0 END AS bit
        |  FROM gr a JOIN gr b ON a.id = b.id AND b.y = a.y AND b.x = a.x + 1
        |  WHERE a.x < 8 AND (a.y*8 + a.x) < 63),
        |hs AS (
        |  SELECT id AS media_id,
        |    CAST(sum(CAST(bit AS BIGINT) << pos) AS BIGINT) AS dhash
        |  FROM bits GROUP BY id),
        |pairs AS (
        |  SELECT a.media_id AS ida, b.media_id AS idb
        |  FROM hs a JOIN hs b ON a.media_id < b.media_id
        |  WHERE bit_count(xor(a.dhash, b.dhash)) <= 2)
        |SELECT h.media_id, h.dhash,
        |  CAST(coalesce(c.n, 0) AS BIGINT) AS n_near
        |FROM hs h LEFT JOIN (
        |  SELECT media_id, count(*) AS n FROM (
        |    SELECT ida AS media_id FROM pairs
        |    UNION ALL SELECT idb FROM pairs)
        |  GROUP BY 1) c USING (media_id)""".stripMargin,

    // every sample recomputed from the generator's closed form
    // v(j) = ((id + 7919·j) mod 65536) − 32768
    "multimodal_audio_quality" ->
      """WITH p AS (
        |  SELECT doc_id AS media_id,
        |    (1 + doc_id % 2) * (500 + (31 * doc_id) % 1500) AS n
        |  FROM documents),
        |s AS (
        |  SELECT media_id, n,
        |    abs(((media_id + 7919 * unnest(range(0, n))) % 65536) - 32768)
        |      AS v
        |  FROM p)
        |SELECT media_id, CAST(n AS BIGINT) AS n_samples,
        |  CAST(sum(CASE WHEN v < 1000 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_silent,
        |  CAST(sum(CASE WHEN v >= 32700 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_clipped,
        |  CAST(max(v) AS BIGINT) AS peak
        |FROM s GROUP BY media_id, n""".stripMargin,

    // every per-byte frame-pair diff recomputed from the generator's
    // closed form byte(f,i) = (id·31 + f·17 + i·7) mod 251
    "multimodal_scene_cuts" ->
      """WITH p AS (
        |  SELECT doc_id,
        |    CAST((4 + doc_id % 5) * (3 + (doc_id // 5) % 4) * 3 AS BIGINT)
        |      AS fsz,
        |    2 + doc_id % 4 AS nf
        |  FROM documents),
        |pairs AS (
        |  SELECT doc_id, fsz, unnest(range(0, nf - 1)) AS f FROM p),
        |d AS (
        |  SELECT doc_id, fsz, f,
        |    list_sum(list_transform(range(0, CAST(fsz AS INT)),
        |      i -> abs(((doc_id * 31 + (f + 1) * 17 + i * 7) % 251) -
        |               ((doc_id * 31 + f * 17 + i * 7) % 251)))) AS ds
        |  FROM pairs)
        |SELECT doc_id AS media_id, CAST(f AS BIGINT) AS frame,
        |  CAST(ds AS BIGINT) AS diff_sum,
        |  ds > fsz * 50 AS is_cut
        |FROM d""".stripMargin,

    "multimodal_frame_sample" ->
      """SELECT doc_id AS media_id,
        |  CAST(ceil(strlen(text) / 1024.0) AS BIGINT) AS n_frames,
        |  CAST(strlen(text) AS BIGINT) AS frame_bytes
        |FROM documents WHERE strlen(text) > 0""".stripMargin,

    "vocab_top_terms" -> vocabSql,

    "vocab_from_index" -> vocabSql,

    // consecutive pairs per doc, corpus pair counts, window context
    // counts, the same ppm double expression over identical integers
    "text_bigram_lm" ->
      """WITH toks AS (
        |  SELECT string_split_regex(trim(text), '\s+') AS t FROM documents),
        |pairs AS (
        |  SELECT unnest(list_transform(range(1, len(t)), i ->
        |    struct_pack(w1 := t[i], w2 := t[i + 1]))) AS p
        |  FROM toks WHERE len(t) >= 2),
        |pc AS (
        |  SELECT p.w1 AS w1, p.w2 AS w2, count(*) AS n_pair
        |  FROM pairs GROUP BY 1, 2),
        |cx AS (
        |  SELECT w1, w2, n_pair,
        |    CAST(sum(n_pair) OVER (PARTITION BY w1) AS BIGINT) AS n_ctx
        |  FROM pc)
        |SELECT w1, w2, CAST(n_pair AS BIGINT) AS n_pair, n_ctx,
        |  CAST(floor(n_pair * 1000000.0 / n_ctx) AS BIGINT) AS cond_e6
        |FROM cx
        |ORDER BY n_pair DESC, w1, w2
        |LIMIT 40""".stripMargin,

    // heavy-hitters twin: exact-recounted candidates must reproduce
    // the exact top-50 verbatim
    "vocab_top_terms_approx" -> vocabSql,

    // the same top-50 vocab (count desc, term asc → ids 1..50), token
    // ids re-derived by per-token left join, digest over the ordered
    // id sequence
    "tokenize_with_vocab" ->
      """WITH docs_t AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS arr
        |  FROM documents),
        |vocab AS (
        |  SELECT token,
        |    CAST(row_number() OVER (ORDER BY n DESC, token) AS BIGINT) AS tid
        |  FROM (
        |    SELECT token, count(*) AS n
        |    FROM (SELECT unnest(string_split_regex(trim(text), '\s+')) AS token
        |          FROM documents)
        |    GROUP BY token ORDER BY n DESC, token LIMIT 50)),
        |pos AS (
        |  SELECT doc_id, arr, unnest(range(len(arr))) AS i FROM docs_t),
        |tok AS (
        |  SELECT doc_id, CAST(i AS BIGINT) AS i,
        |    arr[CAST(i AS INT) + 1] AS tok
        |  FROM pos),
        |mapped AS (
        |  SELECT t.doc_id, t.i, coalesce(v.tid, 0) AS id,
        |    v.tid IS NULL AS unk
        |  FROM tok t LEFT JOIN vocab v ON v.token = t.tok)
        |SELECT doc_id, count(*) AS n_tokens,
        |  CAST(sum(CASE WHEN unk THEN 1 ELSE 0 END) AS BIGINT) AS n_unk,
        |  md5(string_agg(CAST(id AS VARCHAR), ',' ORDER BY i)) AS ids_md5
        |FROM mapped GROUP BY doc_id""".stripMargin,

    // identical digest contract at k=50 000 (the BPE-scale broadcast
    // formulation on the Spark side)
    "tokenize_with_vocab_large" ->
      """WITH docs_t AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS arr
        |  FROM documents),
        |vocab AS (
        |  SELECT token,
        |    CAST(row_number() OVER (ORDER BY n DESC, token) AS BIGINT) AS tid
        |  FROM (
        |    SELECT token, count(*) AS n
        |    FROM (SELECT unnest(string_split_regex(trim(text), '\s+')) AS token
        |          FROM documents)
        |    GROUP BY token ORDER BY n DESC, token LIMIT 50000)),
        |pos AS (
        |  SELECT doc_id, arr, unnest(range(len(arr))) AS i FROM docs_t),
        |tok AS (
        |  SELECT doc_id, CAST(i AS BIGINT) AS i,
        |    arr[CAST(i AS INT) + 1] AS tok
        |  FROM pos),
        |mapped AS (
        |  SELECT t.doc_id, t.i, coalesce(v.tid, 0) AS id,
        |    v.tid IS NULL AS unk
        |  FROM tok t LEFT JOIN vocab v ON v.token = t.tok)
        |SELECT doc_id, count(*) AS n_tokens,
        |  CAST(sum(CASE WHEN unk THEN 1 ELSE 0 END) AS BIGINT) AS n_unk,
        |  md5(string_agg(CAST(id AS VARCHAR), ',' ORDER BY i)) AS ids_md5
        |FROM mapped GROUP BY doc_id""".stripMargin,

    // df table over exploded tokens; sums CAST back to BIGINT (DuckDB
    // widens sums to HUGEINT, which the driver's pandas bridge rejects)
    "rare_token_stats" ->
      """WITH tk AS (
        |  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS token
        |  FROM documents),
        |dfq AS (SELECT token, count(DISTINCT doc_id) AS df
        |        FROM tk GROUP BY token)
        |SELECT t.doc_id, count(*) AS n_tokens,
        |  CAST(sum(CASE WHEN d.df <= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_rare,
        |  CAST(floor(10000.0 * sum(CASE WHEN d.df <= 2 THEN 1 ELSE 0 END)
        |    / count(*)) AS BIGINT) AS rare_e4
        |FROM tk t JOIN dfq d ON d.token = t.token
        |GROUP BY t.doc_id""".stripMargin,

    // same pair universe (0-based positions cancel in differences),
    // same kept-occurrence totals, HUGEINT // mirroring decimal DIV
    "text_cooccurrence" ->
      """WITH docs_t AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS arr
        |  FROM documents),
        |pos AS (SELECT doc_id, arr, unnest(range(len(arr))) AS i
        |        FROM docs_t),
        |occ AS (
        |  SELECT doc_id, CAST(i AS BIGINT) AS p,
        |    arr[CAST(i AS INT) + 1] AS tok
        |  FROM pos WHERE length(arr[CAST(i AS INT) + 1]) > 0),
        |hot AS (SELECT tok FROM (SELECT DISTINCT doc_id, tok FROM occ)
        |        GROUP BY tok HAVING count(*) >
        |          (SELECT count(*) * 8500 // 10000 FROM documents)),
        |kept AS (SELECT * FROM occ
        |         WHERE tok NOT IN (SELECT tok FROM hot)),
        |pairs AS (
        |  SELECT least(a.tok, b.tok) AS tok_a,
        |    greatest(a.tok, b.tok) AS tok_b, count(*) AS n_ab
        |  FROM kept a JOIN kept b
        |    ON a.doc_id = b.doc_id AND b.p BETWEEN a.p + 1 AND a.p + 3
        |  GROUP BY 1, 2 HAVING count(*) >= 3),
        |tot AS (SELECT tok, count(*) AS n FROM kept GROUP BY 1),
        |nn AS (SELECT count(*) AS N FROM kept)
        |SELECT p.tok_a, p.tok_b, p.n_ab, ta.n AS n_a, tb.n AS n_b,
        |  CAST((10000::HUGEINT * p.n_ab * nn.N)
        |    // (ta.n::HUGEINT * tb.n) AS BIGINT) AS lift_e4
        |FROM pairs p
        |JOIN tot ta ON ta.tok = p.tok_a
        |JOIN tot tb ON tb.tok = p.tok_b, nn
        |ORDER BY lift_e4 DESC, n_ab DESC, tok_a, tok_b
        |LIMIT 100""".stripMargin,

    // identical double arithmetic (left-assoc 1e6·tf·ln(N/df), IEEE
    // floor) so the e6 scores and the rank cut match bit-for-bit
    "tfidf_top_terms" ->
      """WITH tk AS (
        |  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS token
        |  FROM documents),
        |tf AS (SELECT doc_id, token, count(*) AS tf FROM tk GROUP BY 1, 2),
        |dfq AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT count(*) AS nn FROM documents),
        |scored AS (
        |  SELECT t.doc_id, t.token, t.tf, d.df,
        |    CAST(floor(1000000.0 * t.tf * ln(CAST(nn AS DOUBLE) / d.df))
        |      AS BIGINT) AS score_e6
        |  FROM tf t JOIN dfq d ON d.token = t.token CROSS JOIN n),
        |ranked AS (
        |  SELECT *, row_number() OVER (PARTITION BY doc_id
        |      ORDER BY score_e6 DESC, token) AS rk
        |  FROM scored)
        |SELECT doc_id, CAST(rk AS BIGINT) AS rk, token, tf, df, score_e6
        |FROM ranked WHERE rk <= 3""".stripMargin,

    // identical double tree (CAST-to-DOUBLE fractional literals, same
    // association as the Column expression); per-term e6 floors sum as
    // exact integers so cross-term order can't flip a score
    "text_bm25_topk" -> bm25Sql,

    "text_bm25_indexed" -> bm25Sql,

    "stream_bm25_indexed" -> bm25Sql,

    // the surviving-corpus recompute: exclusion AND stats-exactness
    // gate together; the compacted closer shares it verbatim
    "text_bm25_erased" -> erasedBm25Sql,
    // streamed erasure serves the surviving corpus exactly — shared
    // with the batch-erased form (and doubly-drained, so any replay
    // double-subtraction would hash-miss here)
    "stream_bm25_erased" -> erasedBm25Sql,
    "text_bm25_erase_closed" -> erasedBm25Sql,

    "phrase_hits" -> phraseSql,

    "phrase_hits_indexed" -> phraseSql,

    // batch 0 = low-numbered sources, batch 1 = the rest (the split
    // index's construction); stats rows must equal the per-side
    // corpus doc/token-mass totals
    "index_batches" ->
      """SELECT CAST(CASE WHEN CAST(substr(source, 4) AS INT) < 10
        |    THEN 0 ELSE 1 END AS BIGINT) AS batch_id,
        |  count(*) AS n_docs,
        |  CAST(sum(len(string_split_regex(trim(text), '\s+'))) AS BIGINT)
        |    AS sum_dl
        |FROM documents GROUP BY 1""".stripMargin,

    "fim_examples" ->
      """WITH t AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
        |  FROM documents),
        |c AS (SELECT doc_id, toks, len(toks) AS n,
        |    CAST('0x' || substr(md5(doc_id || ':a'), 1, 15) AS BIGINT)
        |      % (len(toks) + 1) AS ha,
        |    CAST('0x' || substr(md5(doc_id || ':b'), 1, 15) AS BIGINT)
        |      % (len(toks) + 1) AS hb
        |  FROM t),
        |s AS (SELECT doc_id, toks, n,
        |    least(ha, hb) AS lo, greatest(ha, hb) AS hi FROM c),
        |p AS (SELECT doc_id,
        |    coalesce(array_to_string(toks[1:lo], ' '), '') AS prefix,
        |    coalesce(array_to_string(toks[lo+1:hi], ' '), '') AS middle,
        |    coalesce(array_to_string(toks[hi+1:n], ' '), '') AS suffix
        |  FROM s)
        |SELECT doc_id, prefix, middle, suffix,
        |  concat_ws(' ', '<PRE>', prefix, '<SUF>', suffix, '<MID>', middle)
        |    AS psm
        |FROM p""".stripMargin,

    "span_corruption_examples" ->
      """WITH t AS (
        |  SELECT doc_id, unnest(toks) AS tok,
        |    generate_subscripts(toks, 1) - 1 AS pos
        |  FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
        |        FROM documents)),
        |b AS (SELECT doc_id, pos, tok, pos // 6 AS blk, pos % 6 AS inblk
        |      FROM t),
        |selb AS (SELECT DISTINCT doc_id, blk,
        |    (CAST('0x' || substr(md5(doc_id || ':' || blk), 1, 15) AS BIGINT)
        |      % 4 = 0) AS sel
        |  FROM b),
        |ordb AS (SELECT doc_id, blk, sel,
        |    sum(CASE WHEN sel THEN 1 ELSE 0 END) OVER (
        |      PARTITION BY doc_id ORDER BY blk) AS k
        |  FROM selb),
        |e AS (SELECT b.doc_id, b.pos, b.tok, b.inblk, o.k,
        |    (o.sel AND b.inblk < 3) AS corr
        |  FROM b JOIN ordb o USING (doc_id, blk))
        |SELECT doc_id,
        |  coalesce(string_agg(CASE
        |    WHEN corr AND inblk = 0 THEN '<X' || k || '>'
        |    WHEN corr THEN NULL ELSE tok END, ' ' ORDER BY pos), '')
        |    AS input,
        |  coalesce(string_agg(CASE
        |    WHEN corr AND inblk = 0 THEN '<X' || k || '> ' || tok
        |    WHEN corr THEN tok ELSE NULL END, ' ' ORDER BY pos), '')
        |    AS targets,
        |  CAST(max(k) AS BIGINT) AS n_spans
        |FROM e GROUP BY 1""".stripMargin,

    "corpus_manifest" -> manifestSql,

    // the streaming-maintained store must be bit-identical
    "stream_manifest" -> manifestSql,

    // INDEPENDENT golden pin: DuckDB has no DEFLATE, but zlib is zlib —
    // these values were derived with PYTHON's zlib.compress(utf8, 6)
    // over the driver CORRECTNESS fixture and verified byte-identical
    // to java.util.zip.Deflater(6) per document, so the pin is an
    // out-of-JVM recomputation, not an echo of our own output.
    // FIXTURE-PINNED like bpe_merges (scale soaks must exclude it):
    // a regenerated fixture or a zlib version drift fails LOUDLY.
    "text_compression_profile" ->
      """SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
        |  CAST(mean_ratio_e4 AS BIGINT) AS mean_ratio_e4,
        |  CAST(min_ratio_e4 AS BIGINT) AS min_ratio_e4,
        |  CAST(max_ratio_e4 AS BIGINT) AS max_ratio_e4
        |FROM (VALUES
        |('src0',25,5263,4159,7164), ('src1',25,5106,4132,7882),
        |('src10',25,5664,4150,10185), ('src11',25,5134,4161,7500),
        |('src12',25,5747,4160,9841), ('src13',25,5196,4234,7586),
        |('src14',25,5698,4202,9275), ('src15',25,5738,4070,10000),
        |('src16',25,5826,4098,9677), ('src17',25,5362,4176,8241),
        |('src18',25,5517,4163,9661), ('src19',25,6056,4074,10175),
        |('src2',25,5436,3980,8765), ('src3',25,5521,4117,8409),
        |('src4',25,5628,3981,8478), ('src5',25,5700,4198,9701),
        |('src6',25,5851,4024,9682), ('src7',25,5246,4245,7722),
        |('src8',25,5846,4276,8247), ('src9',25,5342,4208,9473)
        |) t(source, n_docs, mean_ratio_e4, min_ratio_e4, max_ratio_e4)"""
        .stripMargin,

    "corpus_diff" ->
      """WITH oldv AS (SELECT doc_id, text FROM documents),
        |newv AS (
        |  SELECT doc_id, CASE WHEN doc_id % 7 = 3
        |    THEN text || ' [rev2]' ELSE text END AS text
        |  FROM documents WHERE doc_id % 11 <> 0
        |  UNION ALL
        |  SELECT doc_id + 1000000, text FROM documents
        |  WHERE doc_id % 13 = 5),
        |d AS (
        |  SELECT CASE
        |    WHEN o.doc_id IS NULL THEN 'added'
        |    WHEN n.doc_id IS NULL THEN 'removed'
        |    WHEN md5(o.text) = md5(n.text) THEN 'unchanged'
        |    ELSE 'changed' END AS status
        |  FROM oldv o FULL OUTER JOIN newv n ON o.doc_id = n.doc_id)
        |SELECT status, count(*) AS n_docs FROM d GROUP BY 1""".stripMargin,

    "source_overlap_matrix" ->
      """WITH sh AS (
        |  SELECT doc_id, source, list_distinct(CASE WHEN len(toks) >= 3
        |    THEN list_transform(range(1, len(toks) - 1),
        |           i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
        |    ELSE [array_to_string(toks, ' ')] END) AS shset
        |  FROM (SELECT doc_id, source,
        |          string_split_regex(trim(text), '\s+') AS toks
        |        FROM documents)),
        |ex AS (SELECT DISTINCT doc_id, source,
        |  unnest(list_transform(shset,
        |    x -> CAST('0x' || substr(md5(x), 1, 15) AS BIGINT))) AS h
        |  FROM sh),
        |keep AS (SELECT h FROM (SELECT DISTINCT doc_id, h FROM ex)
        |         GROUP BY h HAVING count(*) <= 1000),
        |se AS (SELECT DISTINCT source, h FROM ex JOIN keep USING (h)),
        |sz AS (SELECT source, count(*) AS n FROM se GROUP BY 1),
        |pairs AS (SELECT a.source AS src_a, b.source AS src_b,
        |    count(*) AS common
        |  FROM se a JOIN se b USING (h)
        |  WHERE a.source < b.source GROUP BY 1, 2)
        |SELECT p.src_a, p.src_b, p.common, sa.n AS sz_a, sb.n AS sz_b,
        |  CAST(floor(10000 * p.common / least(sa.n, sb.n)) AS BIGINT)
        |    AS containment_e4
        |FROM pairs p
        |JOIN sz sa ON sa.source = p.src_a
        |JOIN sz sb ON sb.source = p.src_b""".stripMargin,

    "source_overlap_kmv" ->
      """WITH sh AS (
        |  SELECT doc_id, source, list_distinct(CASE WHEN len(toks) >= 3
        |    THEN list_transform(range(1, len(toks) - 1),
        |           i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
        |    ELSE [array_to_string(toks, ' ')] END) AS shset
        |  FROM (SELECT doc_id, source,
        |          string_split_regex(trim(text), '\s+') AS toks
        |        FROM documents)),
        |ex AS (SELECT DISTINCT doc_id, source,
        |  unnest(list_transform(shset,
        |    x -> CAST('0x' || substr(md5(x), 1, 15) AS BIGINT))) AS h
        |  FROM sh),
        |keep AS (SELECT h FROM (SELECT DISTINCT doc_id, h FROM ex)
        |         GROUP BY h HAVING count(*) <= 1000),
        |se AS (SELECT DISTINCT source, h FROM ex JOIN keep USING (h)),
        |rk AS (SELECT source, h, row_number() OVER (
        |    PARTITION BY source ORDER BY h) AS rn FROM se),
        |sk AS (SELECT source, list(h ORDER BY h) AS a
        |       FROM rk WHERE rn <= 256 GROUP BY source),
        |pr AS (SELECT s1.source AS src_a, s2.source AS src_b,
        |    (list_sort(list_distinct(list_concat(s1.a, s2.a))))[1:256] AS x,
        |    s1.a AS aa, s2.a AS ab
        |  FROM sk s1, sk s2 WHERE s1.source < s2.source)
        |SELECT src_a, src_b, CAST(len(x) AS BIGINT) AS n_sketch,
        |  CAST(len(list_intersect(list_intersect(x, aa), ab)) AS BIGINT)
        |    AS n_common,
        |  (10000 * len(list_intersect(list_intersect(x, aa), ab)))
        |    // len(x) AS jaccard_est_e4
        |FROM pr""".stripMargin,

    "dedup_rate_by_source" -> dedupRateSql,

    // the SQL-view twin must be the Scala read verbatim
    "dedup_rate_by_source_sql" -> dedupRateSql,

    "text_bm25_sql" -> bm25Sql,

    // whole copies + hash-gated fractional remainder, same md5 hash
    "mix_upsample_profile" ->
      """WITH r AS (
        |  SELECT doc_id, source,
        |    CASE WHEN source = 'src0' THEN 25000
        |         WHEN source = 'src1' THEN 15000
        |         ELSE 10000 END AS rate,
        |    CAST('0x' || substr(md5('42:' || CAST(doc_id AS VARCHAR)), 1, 15)
        |      AS BIGINT) % 10000 AS h
        |  FROM documents)
        |SELECT source,
        |  CAST(sum(rate // 10000 +
        |    CASE WHEN h < rate % 10000 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_rows,
        |  count(*) AS n_docs
        |FROM r GROUP BY 1""".stripMargin,

    // same exact long / 2^60 double, same ln, e9 floor, id tie-break
    "sample_weighted_topk" ->
      """SELECT doc_id, n_chars,
        |  CAST(floor(CAST(1000000000.0 AS DOUBLE) *
        |    (ln(CAST(CAST('0x' || substr(md5('42:' || CAST(doc_id AS VARCHAR)), 1, 15)
        |           AS BIGINT) + 1 AS DOUBLE) / 1152921504606846976)
        |     / n_chars)) AS BIGINT) AS wkey_e9
        |FROM documents
        |ORDER BY wkey_e9 DESC, doc_id ASC
        |LIMIT 20""".stripMargin,

    // position pairs via generate_subscripts; 1-based vs the index's
    // 0-based positions cancels in the difference
    "proximity_hits" ->
      """WITH tk AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
        |  FROM documents),
        |pos AS (
        |  SELECT doc_id, unnest(toks) AS token,
        |         generate_subscripts(toks, 1) AS p
        |  FROM tk),
        |a AS (SELECT doc_id, p FROM pos WHERE token = 'hash'),
        |b AS (SELECT doc_id, p FROM pos WHERE token = 'join')
        |SELECT a.doc_id, count(*) AS n_hits
        |FROM a JOIN b ON b.doc_id = a.doc_id
        |  AND b.p > a.p AND b.p - a.p <= 3
        |GROUP BY 1""".stripMargin,

    // Laplace-smoothed KL contributions over the combined top-k cut;
    // identical double tree, e9 floors
    "drift_sources" -> driftSql,

    "drift_from_index" -> driftSql,

    "text_repetition" ->
      """SELECT doc_id,
        |  CASE WHEN len(toks) < 3 THEN 0
        |    ELSE CAST(floor(10000.0 * (1.0 -
        |      CAST(len(list_distinct(grams)) AS DOUBLE) /
        |      CAST(len(grams) AS DOUBLE))) AS BIGINT) END AS rep3_e4
        |FROM (
        |  SELECT doc_id, toks,
        |    list_transform(range(1, len(toks) - 1),
        |      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) AS grams
        |  FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
        |        FROM documents))""".stripMargin,

    "sample_split_profile" ->
      """SELECT CASE
        |    WHEN h < 9000 THEN 'train'
        |    WHEN h < 9500 THEN 'val'
        |    ELSE 'test' END AS split,
        |  count(*) AS n_docs, CAST(sum(length(text)) AS BIGINT) AS n_chars
        |FROM (
        |  SELECT text,
        |    CAST('0x' || substr(md5('42:' || CAST(doc_id AS VARCHAR)), 1, 15)
        |      AS BIGINT) % 10000 AS h
        |  FROM documents)
        |GROUP BY 1""".stripMargin,

    "text_stats" -> textStatsSql,

    "pipeline_quality_dedup" ->
      s"""WITH st AS ($textStatsSql),
         |gated AS (
         |  SELECT d.* FROM documents d
         |  JOIN st ON st.doc_id = d.doc_id
         |  WHERE st.quality_e4 >= 5000 AND st.lang_pred = 'en'),
         |canon AS (SELECT min(doc_id) AS doc_id FROM gated GROUP BY text)
         |SELECT g.source, count(*) AS n_docs,
         |  CAST(sum(length(g.text)) AS BIGINT) AS n_chars
         |FROM gated g JOIN canon USING (doc_id)
         |GROUP BY 1""".stripMargin,

    "text_fingerprint" ->
      """SELECT doc_id,
        |  md5(array_to_string(toks, ' ')) AS fp_md5,
        |  list_reduce(
        |    list_prepend(CAST(0 AS BIGINT),
        |      list_transform(toks,
        |        t -> CAST('0x' || substr(md5(t), 1, 15) AS BIGINT) % 1000000007)),
        |    (h, x) -> (h * 31 + x) % 1000000007) AS fp_roll
        |FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
        |      FROM documents)""".stripMargin,

    "text_source_profile" -> textSourceProfileSql,

    // cache serving must be answer-invisible: same oracle
    "text_source_profile_cached" -> textSourceProfileSql,

    // 8-gram spans in the same hashed space; df computed count-only
    "text_cross_repetition" ->
      """WITH sh8 AS (
        |  SELECT doc_id,
        |    list_distinct(CASE WHEN len(toks) >= 8
        |      THEN list_transform(range(1, len(toks) - 6),
        |             i -> array_to_string(toks[i:i+7], ' '))
        |      ELSE [array_to_string(toks, ' ')] END) AS shset
        |  FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
        |        FROM documents)),
        |ex AS (SELECT doc_id,
        |  unnest(list_transform(shset,
        |    x -> CAST('0x' || substr(md5(x), 1, 15) AS BIGINT))) AS s
        |  FROM sh8),
        |dfc AS (SELECT s, count(*) >= 2 AS dup FROM ex GROUP BY s)
        |SELECT e.doc_id, count(*) AS n_spans,
        |  CAST(sum(CASE WHEN dup THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_dup_spans,
        |  CAST((10000 * sum(CASE WHEN dup THEN 1 ELSE 0 END)) // count(*)
        |    AS BIGINT) AS dup_frac_e4
        |FROM ex e JOIN dfc USING (s)
        |GROUP BY 1""".stripMargin,

    // both pair sets recomputed exactly (jaccard CTE ≡ the
    // legacy_dedup_ngram_jaccard oracle; cosine ≡ the emb_near_pairs oracle),
    // then full-outer joined into agreement classes
    "legacy_dedup_consensus" ->
      s"""WITH jpfull AS (
         |$jaccardPairsSql
         |),
         |jp AS (SELECT id_a, id_b FROM jpfull),
         |ep AS (
         |  SELECT a.vec_id AS id_a, b.vec_id AS id_b
         |  FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
         |        FROM embeddings) a
         |  CROSS JOIN
         |       (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
         |        FROM embeddings) b
         |  WHERE a.vec_id < b.vec_id
         |    AND list_dot_product(a.v, b.v) >= 0.4)
         |SELECT CASE
         |    WHEN jp.id_a IS NOT NULL AND ep.id_a IS NOT NULL THEN 'both'
         |    WHEN jp.id_a IS NOT NULL THEN 'text_only'
         |    ELSE 'emb_only' END AS signal,
         |  count(*) AS n_pairs
         |FROM jp FULL OUTER JOIN ep
         |  ON jp.id_a = ep.id_a AND jp.id_b = ep.id_b
         |GROUP BY 1""".stripMargin,

    // same chunk grid: starts every 16 tokens while start < n
    "doc_chunks" ->
      """WITH t AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, toks, len(toks) AS n,
        |    unnest(range(0, (len(toks) + 15) // 16)) AS ci
        |  FROM t)
        |SELECT doc_id, CAST(ci AS BIGINT) AS chunk_idx,
        |  array_to_string(toks[ci*16+1 : least(ci*16+32, n)], ' ')
        |    AS chunk_text,
        |  CAST(least(ci*16+32, n) - ci*16 AS BIGINT) AS n_tokens
        |FROM c""".stripMargin,

    // the same seeded md5 membership hash as the split oracle, gated
    // by a per-language rate
    "sample_stratified" ->
      """SELECT lang, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM (
        |  SELECT lang, n_chars,
        |    CAST('0x' || substr(md5('42:' || CAST(doc_id AS VARCHAR)), 1, 15)
        |      AS BIGINT) % 10000 AS h
        |  FROM documents)
        |WHERE h < CASE lang WHEN 'en' THEN 2500 WHEN 'zh' THEN 5000
        |  ELSE 10000 END
        |GROUP BY 1""".stripMargin,

    // the sequential formulation the distributed rank must equal: one
    // global window over (23-bit seeded hash, id)
    "sample_shuffle_positions" ->
      """SELECT doc_id,
        |  CAST(row_number() OVER (ORDER BY
        |    CAST('0x' || substr(md5('42:' || CAST(doc_id AS VARCHAR)), 1, 15)
        |      AS BIGINT) % 8388608,
        |    doc_id) - 1 AS BIGINT) AS shuffle_pos
        |FROM documents""".stripMargin,

    // the linter's verdict is a constant — pin it literally (the two
    // cartesian-shaped rules report as one family: which one fires is
    // a broadcast-threshold artifact, not a semantic difference)
    "plan_lint_report" ->
      """SELECT * FROM (VALUES
        |  ('cartesian-family', CAST(1 AS BIGINT), 'cross'),
        |  ('single-partition-window', CAST(1 AS BIGINT), 'window'),
        |  ('global-sort', CAST(1 AS BIGINT), 'sort'))
        |AS t(rule, n_findings, plan)""".stripMargin,

    // same seeded hash inside each stage; stages ascend first
    "curriculum_positions" ->
      """SELECT doc_id,
        |  CAST(least(3, length(text) // 150) AS BIGINT) AS stage,
        |  CAST(row_number() OVER (ORDER BY
        |    least(3, length(text) // 150),
        |    CAST('0x' || substr(md5('42:' || CAST(doc_id AS VARCHAR)), 1, 15)
        |      AS BIGINT) % 1048576,
        |    doc_id) - 1 AS BIGINT) AS curriculum_pos
        |FROM documents""".stripMargin,

    // the same seeded md5 hash, ranked per source
    "sample_topk_per_source" ->
      """SELECT source, doc_id, CAST(rn AS BIGINT) AS sample_rank
        |FROM (
        |  SELECT source, doc_id,
        |    row_number() OVER (PARTITION BY source ORDER BY
        |      CAST('0x' || substr(md5('42:' || CAST(doc_id AS VARCHAR)), 1, 15)
        |        AS BIGINT),
        |      doc_id) AS rn
        |  FROM documents)
        |WHERE rn <= 3""".stripMargin,

    // the sequential formulation the distributed prefix sum must equal:
    // one global window in doc_id order
    "pack_sequences" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS nt
        |  FROM documents),
        |o AS (
        |  SELECT doc_id, nt,
        |    CAST(COALESCE(sum(nt) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS off
        |  FROM t)
        |SELECT doc_id, nt AS n_tokens, off AS offset,
        |  CAST(off // 2048 AS BIGINT) AS seq_id,
        |  CAST(off % 2048 AS BIGINT) AS seq_pos
        |FROM o""".stripMargin,

    "pack_profile" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS nt
        |  FROM documents),
        |o AS (
        |  SELECT doc_id, nt,
        |    CAST(COALESCE(sum(nt) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS off
        |  FROM t)
        |SELECT CAST(off // 2048 AS BIGINT) AS seq_id,
        |  count(*) AS n_docs, CAST(sum(nt) AS BIGINT) AS n_tokens
        |FROM o GROUP BY 1""".stripMargin,

    // split from the same seeded md5 ranges as sample_split_profile;
    // one window per split
    "pack_by_split" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS nt,
        |    CASE WHEN h < 9000 THEN 'train'
        |         WHEN h < 9500 THEN 'val' ELSE 'test' END AS split
        |  FROM (
        |    SELECT doc_id, text,
        |      CAST('0x' || substr(md5('42:' || CAST(doc_id AS VARCHAR)), 1, 15)
        |        AS BIGINT) % 10000 AS h
        |    FROM documents)),
        |o AS (
        |  SELECT split, doc_id, nt,
        |    CAST(COALESCE(sum(nt) OVER (PARTITION BY split ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS off
        |  FROM t)
        |SELECT split, doc_id, nt AS n_tokens, off AS offset,
        |  CAST(off // 2048 AS BIGINT) AS seq_id,
        |  CAST(off % 2048 AS BIGINT) AS seq_pos
        |FROM o""".stripMargin,

    // same md5-hashed shingle space as the dedup oracles: eval slice =
    // doc_id % 25 = 0; hits = distinct shared shingles per training doc
    "decontaminate_overlap" ->
      s"""WITH $shingleCte,
         |ex AS (SELECT doc_id,
         |  unnest(list_transform(shset,
         |    x -> CAST('0x' || substr(md5(x), 1, 15) AS BIGINT))) AS s
         |  FROM sh),
         |ev AS (SELECT DISTINCT s FROM ex WHERE doc_id % 25 = 0)
         |SELECT e.doc_id, count(*) AS hits
         |FROM ex e JOIN ev USING (s)
         |WHERE e.doc_id % 25 <> 0
         |GROUP BY 1""".stripMargin,

    // the streaming twin unions per-batch reports into the SAME
    // answer — shares the batch oracle text
    "stream_decontaminate" ->
      s"""WITH $shingleCte,
         |ex AS (SELECT doc_id,
         |  unnest(list_transform(shset,
         |    x -> CAST('0x' || substr(md5(x), 1, 15) AS BIGINT))) AS s
         |  FROM sh),
         |ev AS (SELECT DISTINCT s FROM ex WHERE doc_id % 25 = 0)
         |SELECT e.doc_id, count(*) AS hits
         |FROM ex e JOIN ev USING (s)
         |WHERE e.doc_id % 25 <> 0
         |GROUP BY 1""".stripMargin,

    // the Bloom prefilter is semantics-preserving: SAME oracle as the
    // exact overlap report
    "decontaminate_bloom" ->
      s"""WITH $shingleCte,
         |ex AS (SELECT doc_id,
         |  unnest(list_transform(shset,
         |    x -> CAST('0x' || substr(md5(x), 1, 15) AS BIGINT))) AS s
         |  FROM sh),
         |ev AS (SELECT DISTINCT s FROM ex WHERE doc_id % 25 = 0)
         |SELECT e.doc_id, count(*) AS hits
         |FROM ex e JOIN ev USING (s)
         |WHERE e.doc_id % 25 <> 0
         |GROUP BY 1""".stripMargin,

    "decontaminate_clean_profile" ->
      s"""WITH $shingleCte,
         |ex AS (SELECT doc_id,
         |  unnest(list_transform(shset,
         |    x -> CAST('0x' || substr(md5(x), 1, 15) AS BIGINT))) AS s
         |  FROM sh),
         |ev AS (SELECT DISTINCT s FROM ex WHERE doc_id % 25 = 0),
         |cont AS (SELECT DISTINCT e.doc_id
         |         FROM ex e JOIN ev USING (s)
         |         WHERE e.doc_id % 25 <> 0)
         |SELECT source, count(*) AS n_docs,
         |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
         |FROM documents d
         |WHERE d.doc_id % 25 <> 0
         |  AND d.doc_id NOT IN (SELECT doc_id FROM cont)
         |GROUP BY 1""".stripMargin,

    // same augmentation closed form; RE2 regexes are byte-identical to
    // the engine's java.util.regex patterns, redaction applied in the
    // same email → phone → IP sequence (and match counts on raw text)
    "pii_stats" ->
      s"""WITH aug AS (
         |  SELECT doc_id, $piiAugmentedSql AS t
         |  FROM documents)
         |SELECT doc_id,
         |  CAST(len(regexp_extract_all(t, '${Pii.EmailRe}')) AS BIGINT)
         |    AS n_emails,
         |  CAST(len(regexp_extract_all(t, '${Pii.PhoneRe}')) AS BIGINT)
         |    AS n_phones,
         |  CAST(len(regexp_extract_all(t, '${Pii.Ipv4Re}')) AS BIGINT)
         |    AS n_ips,
         |  CAST(length(
         |    regexp_replace(
         |      regexp_replace(
         |        regexp_replace(t, '${Pii.EmailRe}', '<EMAIL>', 'g'),
         |        '${Pii.PhoneRe}', '<PHONE>', 'g'),
         |      '${Pii.Ipv4Re}', '<IP>', 'g')) AS BIGINT) AS clean_len
         |FROM aug""".stripMargin,

    "boilerplate_line_df" ->
      s"""WITH aug AS (
         |  SELECT doc_id, $boilerAugmentedSql AS t
         |  FROM documents),
         |ex AS (SELECT doc_id, unnest(string_split(t, chr(10))) AS line
         |       FROM aug)
         |SELECT line, count(DISTINCT doc_id) AS df
         |FROM ex GROUP BY line
         |HAVING count(DISTINCT doc_id) >= 10""".stripMargin,

    // order-preserving strip via list_filter against the hot-line list
    "boilerplate_clean" ->
      s"""WITH aug AS (
         |  SELECT doc_id, string_split($boilerAugmentedSql, chr(10)) AS ls
         |  FROM documents),
         |ex AS (SELECT doc_id, unnest(ls) AS line FROM aug),
         |hot AS (SELECT line FROM ex GROUP BY line
         |        HAVING count(DISTINCT doc_id) >= 10),
         |hl AS (SELECT list(line) AS hs FROM hot),
         |clean AS (
         |  SELECT doc_id, len(ls) AS n_lines,
         |    list_filter(ls, x -> NOT list_contains(hl.hs, x)) AS kept
         |  FROM aug, hl)
         |SELECT doc_id, CAST(n_lines AS BIGINT) AS n_lines,
         |  CAST(len(kept) AS BIGINT) AS n_kept,
         |  CAST(length(coalesce(array_to_string(kept, chr(10)), ''))
         |    AS BIGINT) AS clean_len
         |FROM clean""".stripMargin,

    // the same closed-form rate derivation (integer-floor divisions)
    // and seeded md5 membership hash as the engine
    "mix_sources_profile" ->
      """WITH w(source, w) AS (VALUES ('src0', 2000), ('src1', 1000),
        |  ('src2', 1000), ('src3', 500), ('src4', 500)),
        |cnt AS (SELECT source, count(*) AS c FROM documents
        |        JOIN w USING (source) GROUP BY source),
        |t AS (SELECT min(c * 10000 // w.w) AS t
        |      FROM cnt JOIN w USING (source)),
        |r AS (SELECT source, least(10000, t.t * w.w // c) AS rate
        |      FROM cnt JOIN w USING (source), t)
        |SELECT d.source, count(*) AS n_docs,
        |  CAST(sum(d.n_chars) AS BIGINT) AS sum_chars
        |FROM documents d JOIN r ON r.source = d.source
        |WHERE CAST('0x' || substr(md5('42:' || CAST(d.doc_id AS VARCHAR)),
        |    1, 15) AS BIGINT) % 10000 < r.rate
        |GROUP BY 1""".stripMargin,

    // the LM CTE (same top-1000 cut) left-joined to per-doc pair
    // counts; the same double division over identical integers
    "text_lm_quality" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
        |  FROM documents),
        |prs AS (
        |  SELECT doc_id, unnest(list_transform(range(1, len(t)), i ->
        |    struct_pack(w1 := t[i], w2 := t[i + 1]))) AS p
        |  FROM toks WHERE len(t) >= 2),
        |pc AS (
        |  SELECT p.w1 AS w1, p.w2 AS w2, count(*) AS n_pair
        |  FROM prs GROUP BY 1, 2),
        |cx AS (
        |  SELECT w1, w2, n_pair,
        |    CAST(sum(n_pair) OVER (PARTITION BY w1) AS BIGINT) AS n_ctx
        |  FROM pc),
        |lm AS (
        |  SELECT w1, w2,
        |    CAST(floor(n_pair * 1000000.0 / n_ctx) AS BIGINT) AS cond_e6
        |  FROM cx ORDER BY n_pair DESC, w1, w2 LIMIT 1000),
        |dp AS (
        |  SELECT doc_id, p.w1 AS w1, p.w2 AS w2, count(*) AS cnt
        |  FROM prs GROUP BY 1, 2, 3)
        |SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_pairs,
        |  CAST(sum(CASE WHEN lm.cond_e6 IS NOT NULL THEN cnt ELSE 0 END)
        |    AS BIGINT) AS n_lm_pairs,
        |  CAST(floor(CAST(sum(cnt * coalesce(lm.cond_e6, 0)) AS BIGINT)
        |    * 1.0 / CAST(sum(cnt) AS BIGINT)) AS BIGINT) AS mean_cond_e6
        |FROM dp LEFT JOIN lm USING (w1, w2)
        |GROUP BY doc_id""".stripMargin,

    // per-line toks → the same stopword-vote CASE as text_stats, then
    // one per-doc aggregation
    "text_line_langs" -> {
      val langCase = TextAnalysis.stopwords.map(_._1)
        .map(l => s"WHEN s_$l = best AND best > 0 THEN '$l'")
        .mkString("CASE ", " ", " ELSE 'und' END")
      val scores = TextAnalysis.stopwords.map(_._1)
        .map(l => s"${hits(l)} AS s_$l").mkString(",\n    ")
      s"""WITH lines AS (
         |  SELECT doc_id, unnest(string_split(text, chr(10))) AS l
         |  FROM documents),
         |toklines AS (
         |  SELECT doc_id, string_split_regex(trim(l), '\\s+') AS toks
         |  FROM lines WHERE trim(l) <> ''),
         |scored AS (
         |  SELECT doc_id, $langCase AS llang
         |  FROM (
         |    SELECT doc_id, ${TextAnalysis.stopwords.map(s => "s_" + s._1)
             .mkString(", ")},
         |      greatest(${TextAnalysis.stopwords.map(s => "s_" + s._1)
             .mkString(", ")}) AS best
         |    FROM (SELECT doc_id, $scores FROM toklines)))
         |SELECT doc_id, count(*) AS n_lines,
         |  count(CASE WHEN llang <> 'und' THEN 1 END) AS n_lang_lines,
         |  count(DISTINCT CASE WHEN llang <> 'und' THEN llang END)
         |    AS n_langs,
         |  count(DISTINCT CASE WHEN llang <> 'und' THEN llang END) >= 2
         |    AS multilingual
         |FROM scored GROUP BY doc_id""".stripMargin
    },

    // rates from counts with the identical 10000.0*sqrt/sqrt floor
    "mix_temperature_profile" ->
      """WITH cnt AS (
        |  SELECT source, count(*) AS c FROM documents GROUP BY source),
        |mn AS (SELECT min(c) AS nmin FROM cnt),
        |r AS (SELECT source,
        |    least(10000, CAST(floor(10000.0 * sqrt(CAST(mn.nmin AS DOUBLE))
        |      / sqrt(CAST(c AS DOUBLE))) AS BIGINT)) AS rate
        |  FROM cnt, mn)
        |SELECT d.source, count(*) AS n_docs,
        |  CAST(sum(d.n_chars) AS BIGINT) AS sum_chars
        |FROM documents d JOIN r ON r.source = d.source
        |WHERE CAST('0x' || substr(md5('42:' || CAST(d.doc_id AS VARCHAR)),
        |    1, 15) AS BIGINT) % 10000 < r.rate
        |GROUP BY 1""".stripMargin,

    // the same dirtying and the same 3-pass normalization in RE2
    "text_normalize" ->
      """SELECT doc_id,
        |  CAST(length(clean) AS BIGINT) AS clean_len,
        |  CAST('0x' || substr(md5(clean), 1, 15) AS BIGINT) AS clean_hash
        |FROM (
        |  SELECT doc_id,
        |    trim(regexp_replace(regexp_replace(regexp_replace(
        |      chr(9) || ' ' || text || chr(13) || chr(13) || ' tail '
        |        || CASE WHEN doc_id % 3 = 0
        |             THEN '  double  spaced ' || chr(10) || ' line '
        |             ELSE '' END,
        |      '[\x00-\x09\x0B-\x1F\x7F]', ' ', 'g'),
        |      ' {2,}', ' ', 'g'),
        |      ' ?' || chr(10) || ' ?', chr(10), 'g'),
        |      ' ') AS clean
        |  FROM documents)""".stripMargin,

    // the same profile computed from the parquet originals — equality
    // proves the JSONL write/read is lossless to the byte
    "docs_jsonl_roundtrip" ->
      """SELECT source, lang, count(*) AS n_docs,
        |  CAST(sum(length(text)) AS BIGINT) AS sum_chars,
        |  CAST(sum(CAST('0x' || substr(md5(text), 1, 15) AS BIGINT)
        |    % 1000000007) AS BIGINT) AS content_hash
        |FROM documents
        |GROUP BY 1, 2""".stripMargin,

    // identical profile from the parquet originals — equality proves
    // the ORC write/read is lossless to the byte
    "docs_orc_roundtrip" ->
      """SELECT source, lang, count(*) AS n_docs,
        |  CAST(sum(length(text)) AS BIGINT) AS sum_chars,
        |  CAST(sum(CAST('0x' || substr(md5(text), 1, 15) AS BIGINT)
        |    % 1000000007) AS BIGINT) AS content_hash
        |FROM documents
        |GROUP BY 1, 2""".stripMargin,

    // membership from the same seeded md5 hash mod 16; totals prove
    // the writer dropped/duplicated nothing
    "shard_profile" ->
      """SELECT CAST('0x' || substr(md5('42:' || CAST(doc_id AS VARCHAR)),
        |    1, 15) AS BIGINT) % 16 AS shard,
        |  count(*) AS n_docs,
        |  CAST(sum(length(text)) AS BIGINT) AS sum_chars
        |FROM documents
        |GROUP BY 1""".stripMargin,

    // the composed oracle: the boilerplate-clean CTE over the doubly
    // augmented text, PII-redacted, profiled per source
    // positional spans (no distinct), df-flagged, coverage via an
    // interval join, kept tokens re-joined in order and md5'd
    "dedup_span_removal" ->
      """WITH t AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
        |  FROM documents),
        |sp AS (
        |  SELECT doc_id, toks, CASE WHEN len(toks) >= 8
        |    THEN list_transform(range(1, len(toks) - 6),
        |           i -> array_to_string(toks[i:i+7], ' '))
        |    ELSE [array_to_string(toks, ' ')] END AS spans
        |  FROM t),
        |ex AS (
        |  SELECT doc_id, unnest(range(len(spans))) AS p,
        |    unnest(list_transform(spans,
        |      x -> CAST('0x' || substr(md5(x), 1, 15) AS BIGINT))) AS sh
        |  FROM sp),
        |dfc AS (SELECT sh FROM ex GROUP BY sh HAVING count(*) >= 2),
        |fl AS (SELECT DISTINCT e.doc_id, e.p FROM ex e JOIN dfc USING (sh)),
        |tokpos AS (
        |  SELECT doc_id, unnest(range(len(toks))) AS ti, unnest(toks) AS tok
        |  FROM t),
        |cov AS (
        |  SELECT DISTINCT tp.doc_id, tp.ti
        |  FROM tokpos tp JOIN fl
        |    ON fl.doc_id = tp.doc_id AND tp.ti BETWEEN fl.p AND fl.p + 7)
        |SELECT tp.doc_id,
        |  md5(coalesce(string_agg(tok, ' ' ORDER BY tp.ti)
        |    FILTER (WHERE cov.ti IS NULL), '')) AS clean_md5,
        |  count(*) AS n_tokens,
        |  CAST(count(cov.ti) AS BIGINT) AS n_removed
        |FROM tokpos tp LEFT JOIN cov
        |  ON cov.doc_id = tp.doc_id AND cov.ti = tp.ti
        |GROUP BY tp.doc_id""".stripMargin,

    // batch recompute of the streaming scrub chain: augment →
    // normalize (3-pass regex, space-trim) → redact/count — stateless
    // row algebra, so stream output must equal this exactly
    "stream_scrub_profile" ->
      s"""WITH aug AS (
         |  SELECT doc_id, source,
         |    trim(regexp_replace(regexp_replace(regexp_replace(
         |      $piiAugmentedSql,
         |      '[\\x00-\\x09\\x0B-\\x1F\\x7F]', ' ', 'g'),
         |      ' {2,}', ' ', 'g'),
         |      ' ?' || chr(10) || ' ?', chr(10), 'g'), ' ') AS clean
         |  FROM documents)
         |SELECT source, count(*) AS n_docs,
         |  CAST(sum(length(
         |    regexp_replace(regexp_replace(regexp_replace(clean,
         |      '${graft.operators.Pii.EmailRe}', '<EMAIL>', 'g'),
         |      '${graft.operators.Pii.PhoneRe}', '<PHONE>', 'g'),
         |      '${graft.operators.Pii.Ipv4Re}', '<IP>', 'g'))) AS BIGINT)
         |    AS sum_clean_chars,
         |  CAST(sum(len(regexp_extract_all(clean,
         |    '${graft.operators.Pii.EmailRe}'))) AS BIGINT) AS sum_emails
         |FROM aug GROUP BY source""".stripMargin,

    "pipeline_scrub_profile" ->
      s"""WITH aug AS (
         |  SELECT doc_id, source,
         |    string_split('NAV HOME ABOUT CONTACT' || chr(10)
         |      || $piiAugmentedSql || chr(10)
         |      || 'COPYRIGHT ' || source || ' ALL RIGHTS RESERVED',
         |      chr(10)) AS ls
         |  FROM documents),
         |ex AS (SELECT doc_id, unnest(ls) AS line FROM aug),
         |hot AS (SELECT line FROM ex GROUP BY line
         |        HAVING count(DISTINCT doc_id) >= 10),
         |hl AS (SELECT list(line) AS hs FROM hot),
         |clean AS (
         |  SELECT doc_id, source,
         |    len(list_filter(ls, x -> NOT list_contains(hl.hs, x)))
         |      AS n_kept,
         |    regexp_replace(
         |      regexp_replace(
         |        regexp_replace(
         |          array_to_string(
         |            list_filter(ls, x -> NOT list_contains(hl.hs, x)),
         |            chr(10)),
         |          '${Pii.EmailRe}', '<EMAIL>', 'g'),
         |        '${Pii.PhoneRe}', '<PHONE>', 'g'),
         |      '${Pii.Ipv4Re}', '<IP>', 'g') AS scrubbed
         |  FROM aug, hl)
         |SELECT source, count(*) AS n_docs,
         |  CAST(sum(length(coalesce(scrubbed, ''))) AS BIGINT)
         |    AS sum_clean_chars,
         |  CAST(sum(n_kept) AS BIGINT) AS sum_kept_lines
         |FROM clean GROUP BY 1""".stripMargin,

    // same greedy cut: exclusive cumsum over (10000 - quality, doc_id)
    // order, selected iff it starts under the budget
    "budget_selection" ->
      s"""WITH st AS ($textStatsSql),
         |o AS (
         |  SELECT doc_id, n_tokens,
         |    CAST(COALESCE(sum(n_tokens) OVER (
         |      ORDER BY 10000 - quality_e4, doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      AS BIGINT) AS off
         |  FROM st)
         |SELECT d.source, count(*) AS n_docs,
         |  CAST(sum(o.n_tokens) AS BIGINT) AS sum_tokens
         |FROM o JOIN documents d USING (doc_id)
         |WHERE o.off < 10000
         |GROUP BY 1""".stripMargin,

    // per-language partitioned cumsum with per-language budget cases
    "budget_by_lang" ->
      s"""WITH st AS ($textStatsSql),
         |j AS (
         |  SELECT st.doc_id, st.n_tokens, 10000 - st.quality_e4 AS pr,
         |    d.lang
         |  FROM st JOIN documents d USING (doc_id)),
         |o AS (
         |  SELECT lang, doc_id, n_tokens,
         |    CAST(COALESCE(sum(n_tokens) OVER (PARTITION BY lang
         |      ORDER BY pr, doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      AS BIGINT) AS off
         |  FROM j)
         |SELECT lang, count(*) AS n_docs,
         |  CAST(sum(n_tokens) AS BIGINT) AS sum_tokens
         |FROM o
         |WHERE off < CASE lang WHEN 'en' THEN 5000 WHEN 'zh' THEN 3000
         |  WHEN 'de' THEN 2000 WHEN 'es' THEN 2000 WHEN 'fr' THEN 2000
         |  ELSE 0 END
         |GROUP BY 1""".stripMargin,

    // both prefix sums replayed as window cumsums: the budget cut in
    // (10000 - quality, doc_id) order, then packing in doc_id order
    // over the survivors
    "pipeline_dataset_build" ->
      s"""WITH st AS ($textStatsSql),
         |o AS (
         |  SELECT doc_id, n_tokens,
         |    CAST(COALESCE(sum(n_tokens) OVER (
         |      ORDER BY 10000 - quality_e4, doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      AS BIGINT) AS off
         |  FROM st),
         |sel AS (SELECT doc_id, n_tokens FROM o WHERE off < 10000),
         |p AS (
         |  SELECT doc_id, n_tokens,
         |    CAST(COALESCE(sum(n_tokens) OVER (ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      AS BIGINT) AS poff
         |  FROM sel)
         |SELECT CAST(poff // 2048 AS BIGINT) AS seq_id,
         |  count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS n_tokens
         |FROM p GROUP BY 1""".stripMargin,

    // index-selection percentiles: value at rank floor((n-1)·p/100)+1
    // in (token count, doc_id) order
    // shares textStatsSql verbatim; the double division uses exact
    // integer operands on both engines
    "quality_calibrated_mix" ->
      s"""WITH st AS ($textStatsSql),
         |sc AS (
         |  SELECT d.doc_id, d.source, st.quality_e4
         |  FROM documents d JOIN st USING (doc_id)),
         |rk AS (
         |  SELECT source, doc_id, quality_e4,
         |    row_number() OVER (PARTITION BY source
         |      ORDER BY quality_e4, doc_id) AS rn,
         |    count(*) OVER (PARTITION BY source) AS n
         |  FROM sc),
         |cal AS (
         |  SELECT source, doc_id,
         |    CASE WHEN n = 1 THEN 0
         |      ELSE CAST(floor((rn - 1) * 10000.0 / (n - 1)) AS BIGINT)
         |    END AS cal_e4
         |  FROM rk),
         |traw AS (SELECT source FROM sc
         |  ORDER BY quality_e4 DESC, doc_id LIMIT 100),
         |tcal AS (SELECT source FROM cal
         |  ORDER BY cal_e4 DESC, doc_id LIMIT 100)
         |SELECT source,
         |  coalesce(r.n, 0) AS n_top_raw,
         |  coalesce(c.n, 0) AS n_top_cal
         |FROM (SELECT source, count(*) AS n FROM traw GROUP BY 1) r
         |FULL OUTER JOIN (SELECT source, count(*) AS n FROM tcal
         |  GROUP BY 1) c USING (source)""".stripMargin,

    "length_percentiles" ->
      """WITH t AS (
        |  SELECT source, doc_id,
        |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS nt
        |  FROM documents),
        |rk AS (
        |  SELECT source, nt,
        |    row_number() OVER (PARTITION BY source ORDER BY nt, doc_id)
        |      AS rn,
        |    count(*) OVER (PARTITION BY source) AS n
        |  FROM t)
        |SELECT source, CAST(max(n) AS BIGINT) AS n_docs,
        |  max(CASE WHEN rn = (n - 1) * 50 // 100 + 1 THEN nt END)
        |    AS p50_tokens,
        |  max(CASE WHEN rn = (n - 1) * 90 // 100 + 1 THEN nt END)
        |    AS p90_tokens,
        |  max(CASE WHEN rn = (n - 1) * 99 // 100 + 1 THEN nt END)
        |    AS p99_tokens
        |FROM rk GROUP BY 1""".stripMargin)
}
