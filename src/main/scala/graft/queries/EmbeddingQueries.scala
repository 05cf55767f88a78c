package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions
import graft.operators.Similarity

/** Driver-checkable similarity-search queries over the synthetic
  * `embeddings` table (`vec_id, embedding: array<float> (unit-norm,
  * dim 64), label`). Both engines compute dot products as sequential
  * folds over DOUBLE — results are deterministic and hash-comparable;
  * float columns themselves never appear in outputs (only ids/ranks). */
object EmbeddingQueries {

  private[queries] def emb(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/embeddings.parquet")

  /** The label-partitioned IVF centroid index, built once per
    * (session, corpus dir) and persisted to parquet — repeated queries
    * measure the probe path only, matching a deployed index's
    * lifecycle. A production deployment owns index freshness
    * explicitly by passing `index` to [[Similarity.ivfTopK]]. */
  private def ivfIndex(s: SparkSession, dir: String): DataFrame = {
    val path = Artifacts.once(s, dir, "ivf") {
      val p = Artifacts.tempDir(s, "graft_ivf")
      Similarity.centroids(emb(s, dir), "label", "embedding")
        .write.mode("overwrite").parquet(p)
      p
    }
    Similarity.readCentroids(s, path)
  }

  /** Self-contained (k-means-derived) IVF index: assignment table +
    * refined centroids, persisted once per (session, corpus dir). */
  private def kmeansIndex(s: SparkSession, dir: String): String =
    Artifacts.once(s, dir, "kmeans_ivf")(buildKmeans(s, dir))

  /** PQ codebooks (m × ks × sub doubles), trained once per
    * (session, corpus dir) — deterministic, so reuse is safe. */
  private def pqCodebook(s: SparkSession, dir: String)
      : Seq[Seq[Seq[Double]]] =
    Artifacts.once(s, dir, "pq_codebook") {
      Similarity.pqTrain(emb(s, dir), "vec_id", "embedding", m = 16,
        ks = 16, dotFn = Similarity.l2Score(GraftFunctions.dotNative),
        trainSampleN = 4096)
    }

  /** Build the k-means IVF index artifacts: seed centroids = vecs
    * 0..9, one assignment pass, one Lloyd centroid refinement;
    * `assign` + `centroids` parquet under a fresh temp dir.
    * Returns the dir AND the pinned carrying assignment (corpus row +
    * `part`) so a caller laying out a store can write it join-free
    * (r14 VERDICT #3: the centroids step and each store write were a
    * corpus re-scan + corpus⋈assign join each). The CALLER must
    * [[releasePin]] the frame when its writes are done. */
  private def buildKmeansPinned(s: SparkSession,
      dir: String): (String, DataFrame) = {
    import graft.functions.GraftFunctions
    val e = emb(s, dir)
    val base = Artifacts.tempDir(s, "graft_kivf")
    val init = e.where(col("vec_id") < 10)
      .select(col("vec_id").cast("long").as("part"),
        col("embedding").cast("array<double>").as("centroid"))
    // one corpus pass, pinned (spills to disk past memory); the
    // (vec_id, part) artifact and the refined centroids both project
    // from it — the corpus parquet is scanned exactly once per build
    val assignedV = Similarity.assignToCentroidsCarrying(e, init,
        "vec_id", "embedding", GraftFunctions.dotNative)
      .localCheckpoint(true)
    assignedV.select(col("vec_id"), col("part"))
      .write.mode("overwrite").parquet(s"$base/assign")
    Similarity.centroids(assignedV, "part", "embedding")
      .write.mode("overwrite").parquet(s"$base/centroids")
    (base, assignedV)
  }

  /** Release a [[buildKmeansPinned]] checkpoint once its consumer has
    * written the stores it feeds. */
  private def releasePin(df: DataFrame): Unit =
    df.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking = false)
      case _ => ()
    }

  private def buildKmeans(s: SparkSession, dir: String): String = {
    val (base, assignedV) = buildKmeansPinned(s, dir)
    releasePin(assignedV)
    base
  }

  /** Seeded sign-LSH hyperplanes (8 planes × dim 64), shared verbatim
    * with the DuckDB oracle as SQL literals. */
  private[queries] val lshPlanes: Seq[Array[Double]] =
    Similarity.randomHyperplanes(nPlanes = 8, dim = 64)

  /** The sign-LSH bucket id as a DuckDB expression over a DOUBLE[]
    * column `v` — shared by every oracle that mirrors [[lshPlanes]]
    * (near pairs, recall, the LSH consensus twin). Double.toString is
    * locale-independent; never printf-format these literals. */
  private[queries] val lshBucketSql: String =
    lshPlanes.zipWithIndex.map { case (p, i) =>
      val lits = p.map(_.toString).mkString("[", ", ", "]")
      s"(CASE WHEN list_dot_product(v, $lits) >= 0 THEN ${1L << i} ELSE 0 END)"
    }.mkString(" +\n      ")

  /** Two-phase (build, read) form of the persisted-IVF serve for the
    * BENCH surface, mirroring the dashboard split (B83): `__build`
    * times the index construction (k-means assignment + Lloyd
    * refinement + the part=-partitioned store write), `__read` times
    * ONLY the probe-pruned top-k serve — the number the IVF design
    * claim (B87's 200k crossover) is actually about. Deliberately
    * BYPASSES the per-(session, dir) index cache: each pass rebuilds
    * into a fresh temp dir, so the build number is real work, never a
    * cache hit. Correctness still gates the combined
    * `ann_ivf_persisted` entry (identical pipeline). */
  private def ivfPersistedPhases(s: SparkSession,
      dir: String): (() => Unit, () => DataFrame) = {
    import graft.functions.GraftFunctions
    GraftFunctions.register(s)
    val e = emb(s, dir)
    var built: String = null
    val build = () => {
      val (base, assignedV) = buildKmeansPinned(s, dir)
      Similarity.writeIvfCorpusAssigned(assignedV, s"$base/store")
      releasePin(assignedV)
      built = base
      ()
    }
    val read = () => Similarity.ivfTopKFromStore(s"$built/store",
      Similarity.readCentroids(s, s"$built/centroids"),
      e.where(col("vec_id") < 10),
      "vec_id", "embedding", k = 5, nProbe = 3,
      dotFn = GraftFunctions.dotNative)
    (build, read)
  }

  /** Two-phase form of the IVF-PQ serve: `__build` = k-means index +
    * PQ codebook training + the (id, pq_codes)-only part=-partitioned
    * store write; `__read` = the ADC shortlist + exact rerank ONLY —
    * the PQ SERVING latency, isolated from both the training cost and
    * the in-plan recall gate the combined `ann_ivfpq_topk` entry
    * carries (that entry computes the exact brute-force baseline
    * INSIDE the query by design — it is an evaluation op; this split
    * is the deployment number). Bypasses the per-(session, dir)
    * caches like [[ivfPersistedPhases]]: every pass builds fresh. */
  private def ivfPqPhases(s: SparkSession,
      dir: String): (() => Unit, () => DataFrame) = {
    import graft.functions.GraftFunctions
    GraftFunctions.register(s)
    val e = emb(s, dir)
    val dotN: (org.apache.spark.sql.Column, org.apache.spark.sql.Column) =>
      org.apache.spark.sql.Column = GraftFunctions.dotNative
    var built: String = null
    var cb: Seq[Seq[Seq[Double]]] = null
    val build = () => {
      val (base, assignedV) = buildKmeansPinned(s, dir)
      cb = Similarity.pqTrain(e, "vec_id", "embedding", m = 16, ks = 16,
        dotFn = Similarity.l2Score(dotN), trainSampleN = 4096)
      Similarity.writeIvfPqCorpusAssigned(assignedV, "embedding", cb,
        s"$base/store_pq", Similarity.l2Score(dotN))
      releasePin(assignedV)
      built = base
      ()
    }
    val read = () => Similarity.ivfPqTopKFromStore(s"$built/store_pq",
      Similarity.readCentroids(s, s"$built/centroids"),
      e.where(col("vec_id") < 10), "vec_id", "embedding",
      cb, k = 5, nProbe = 5, candidates = 100, dotFn = dotN)
    (build, read)
  }

  val lifecycleSplits
      : Map[String, (SparkSession, String) => (() => Unit, () => DataFrame)] =
    Map("ann_ivf_persisted" -> (ivfPersistedPhases _),
      "ann_ivfpq_topk" -> (ivfPqPhases _))

  /** The vector plane's deletion subjects: neighbors that RANK in the
    * un-erased sf0.01 serve — erasing them provably changes the
    * result (exclusion of a never-ranking id would be unobservable). */
  private val erasedVecIds = Seq("334", "365", "387")

  /** A dedicated IVF store that has PROCESSED a deletion request:
    * the shared k-means index artifacts (read-only: assignment +
    * centroids) serve a FRESH store copy, tombstoned with
    * [[Similarity.eraseFromIvfStore]] — erasure on the shared store
    * fixture would corrupt every other persisted-serve query. */
  private def erasedIvfStore(s: SparkSession, dir: String): String =
    Artifacts.once(s, dir, "ivf_erased") {
      val built = kmeansIndex(s, dir)
      val store = s"${Artifacts.tempDir(s, "graft_ivferase")}/store"
      Similarity.writeIvfCorpus(emb(s, dir),
        s.read.parquet(s"$built/assign"), "vec_id", store)
      Similarity.eraseFromIvfStore(s, store, "vec_id", erasedVecIds)
      store
    }

  /** The erased store COMPACTED (physical closer: tombstoned vectors
    * dropped from the rewrite, no tombstones in the output) — must
    * serve identically to the tombstoned input. */
  private def erasedClosedIvfStore(s: SparkSession, dir: String): String =
    Artifacts.once(s, dir, "ivf_erased_closed") {
      val in = erasedIvfStore(s, dir)
      val out = s"${Artifacts.tempDir(s, "graft_ivfclosed")}/store"
      Similarity.compactIvfStore(s, in, out, "vec_id")
      out
    }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // exact cosine top-5 for the first 10 vectors (the ANN baseline)
    "ann_bruteforce_topk" -> ((s, dir) => {
      GraftFunctions.register(s)
      val e = emb(s, dir)
      Similarity.bruteForceTopK(e, e.where(col("vec_id") < 10),
        "vec_id", "embedding", k = 5, dotFn = GraftFunctions.dotNative)
    }),

    // embedding near-dup pairs at cosine >= 0.4: exact all-pairs as a
    // broadcast nested-loop join with the codegen'd DotProduct in the
    // join condition — no driver-side collect anywhere in the plan
    // (nearDupPairsKernel remains the per-bucket building block)
    "emb_near_pairs" -> ((s, dir) => {
      GraftFunctions.register(s)
      Similarity.nearDupPairs(emb(s, dir), "vec_id", "embedding",
        threshold = 0.4, dotFn = GraftFunctions.dotNative)
    }),

    // IVF (label-partitioned) with all partitions probed == brute force;
    // at nProbe < nPartitions this is the pruned 100 TB search path.
    // The centroid index is built once per (session, corpus) and cached
    // — the deployment shape, where queries never pay the index build.
    "ann_ivf_full_probe" -> ((s, dir) => {
      GraftFunctions.register(s)
      val e = emb(s, dir)
      Similarity.ivfTopK(e, e.where(col("vec_id") < 10),
        "vec_id", "embedding", "label", k = 5, nProbe = 10,
        dotFn = GraftFunctions.dotNative, index = Some(ivfIndex(s, dir)))
    }),

    // IVF probing only the 3 closest partitions per query — the actual
    // approximate-search shape (scan 3/10ths of the corpus). Still
    // deterministic, so the oracle replicates the centroid ranking and
    // the within-probe exact ranking in SQL.
    "ann_ivf_probe3" -> ((s, dir) => {
      GraftFunctions.register(s)
      val e = emb(s, dir)
      Similarity.ivfTopK(e, e.where(col("vec_id") < 10),
        "vec_id", "embedding", "label", k = 5, nProbe = 3,
        dotFn = GraftFunctions.dotNative, index = Some(ivfIndex(s, dir)))
    }),

    // IVF index BUILD: assign every vector to its most-similar seed
    // centroid (vecs 0..9 as deterministic seeds) — the k-means
    // assignment step that makes IVF self-contained when no natural
    // partition column exists. Output: partition sizes.
    "ann_kmeans_partition_sizes" -> ((s, dir) => {
      GraftFunctions.register(s)
      val e = emb(s, dir)
      // the limit is a no-op (the predicate admits exactly 10 rows);
      // it makes the seed table's bound VISIBLE IN-PLAN, like
      // Similarity.readCentroids does for persisted indexes
      val init = e.where(col("vec_id") < 10).limit(10)
        .select(col("vec_id").cast("long").as("part"),
          col("embedding").cast("array<double>").as("centroid"))
      Similarity.assignToCentroids(e, init, "vec_id", "embedding",
          GraftFunctions.dotNative)
        .groupBy(col("part")).agg(count(lit(1)).as("n_vecs"))
    }),

    // the full SELF-CONTAINED IVF pipeline: k-means assignment to seed
    // centroids (vecs 0..9) → per-partition mean centroids (one Lloyd
    // refinement) → probe-limited top-k search over the built
    // partitions. No pre-existing partition column — the index is
    // derived, persisted once, and queries pay only the probe path.
    "ann_ivf_kmeans_topk" -> ((s, dir) => {
      GraftFunctions.register(s)
      val e = emb(s, dir)
      val built = kmeansIndex(s, dir)
      val corpusP = e.join(s.read.parquet(s"$built/assign"), Seq("vec_id"))
      Similarity.ivfTopK(corpusP, e.where(col("vec_id") < 10),
        "vec_id", "embedding", "part", k = 5, nProbe = 3,
        dotFn = GraftFunctions.dotNative,
        index = Some(graft.operators.Similarity.readCentroids(s, s"$built/centroids")))
    }),

    // the SERVING layout of the same index: the corpus persisted as
    // part=<p> parquet directories (writeIvfCorpus), so the probe set
    // becomes a PARTITION FILTER — unprobed directories are pruned
    // before a single vector is read (plan-audit-pinned). Must be
    // bit-identical to ann_ivf_kmeans_topk (shared oracle): the
    // layout changes what is READ, never what is answered.
    "ann_ivf_persisted" -> ((s, dir) => {
      GraftFunctions.register(s)
      val e = emb(s, dir)
      val built = kmeansIndex(s, dir)
      val store = s"$built/store"
      if (!new java.io.File(store).exists()) {
        Similarity.writeIvfCorpus(e, s.read.parquet(s"$built/assign"),
          "vec_id", store)
      }
      Similarity.ivfTopKFromStore(store,
        graft.operators.Similarity.readCentroids(s, s"$built/centroids"), e.where(col("vec_id") < 10),
        "vec_id", "embedding", k = 5, nProbe = 3,
        dotFn = GraftFunctions.dotNative)
    }),

    // IVF MAINTENANCE loop (Similarity.refitIvfIndex): the store is
    // served with a STALE index — the raw v0 seed vectors, as if the
    // Lloyd refresh never shipped — so measured drift (seed vs current
    // partition mean) crosses the threshold, the trigger FIRES, and
    // the index refreshes to the store's partition means. The refit
    // serving must be indistinguishable from the fresh build:
    // ann_ivf_persisted's oracle, shared verbatim. (The hold side of
    // the trigger and the drift numbers are SimilaritySpec-pinned.)
    "ann_ivf_refit" -> ((s, dir) => {
      GraftFunctions.register(s)
      val e = emb(s, dir)
      val built = kmeansIndex(s, dir)
      val store = s"$built/store"
      if (!new java.io.File(store).exists()) {
        Similarity.writeIvfCorpus(e, s.read.parquet(s"$built/assign"),
          "vec_id", store)
      }
      val stale = e.where(col("vec_id") < 10)
        .select(col("vec_id").cast("long").as("part"),
          col("embedding").cast("array<double>").as("centroid"))
      val (idx, fired) = Similarity.refitIvfIndex(
        s.read.parquet(store), stale, "embedding", threshold = 1e-6)
      require(fired, "the stale v0 index must trigger the refit")
      Similarity.ivfTopKFromStore(store, idx, e.where(col("vec_id") < 10),
        "vec_id", "embedding", k = 5, nProbe = 3,
        dotFn = GraftFunctions.dotNative)
    }),

    // RECALL-CALIBRATED probe selection (the FAISS-autotune loop,
    // Spark-first): the WHOLE probe/recall curve from one
    // ground-truth pass — a true top-k neighbor is retrieved at
    // depth p iff its partition's probe rank ≤ p (exact-rank within
    // the probed subset makes containment ⇔ retrieval), so every
    // depth is a count over the same |q|·k truth rows, never a
    // re-executed search. The operator answers "what nProbe does
    // recall R cost?" before a store ships; chooseProbe consumes the
    // curve (spec-pinned against per-depth re-execution)
    "ann_probe_recall_curve" -> ((s, dir) => {
      GraftFunctions.register(s)
      val e = emb(s, dir)
      val built = kmeansIndex(s, dir)
      Similarity.probeRecallCurve(e, s.read.parquet(s"$built/assign"),
        Similarity.readCentroids(s, s"$built/centroids"),
        e.where(col("vec_id") < 10), "vec_id", "embedding",
        k = 5, maxProbe = 10, dotFn = GraftFunctions.dotNative)
    }),

    // RIGHT-TO-ERASURE on the vector plane (the ANN twin of
    // text_bm25_erased — a deletion request is not closed while the
    // subject still surfaces as somebody's nearest neighbor): the
    // store has processed an erasure of three ids that RANK in the
    // un-erased serve; tombstones anti-join out before any ranking,
    // deeper survivors take their places. The frozen centroid index
    // is untouched (aggregate model parameter — the documented
    // anonymized-aggregate position), so the oracle keeps the full
    // assignment and excludes the subjects only as candidates
    "ann_erased_topk" -> ((s, dir) => {
      GraftFunctions.register(s)
      val e = emb(s, dir)
      val built = kmeansIndex(s, dir)
      Similarity.ivfTopKFromStore(erasedIvfStore(s, dir),
        Similarity.readCentroids(s, s"$built/centroids"),
        e.where(col("vec_id") < 10),
        "vec_id", "embedding", k = 5, nProbe = 3,
        dotFn = GraftFunctions.dotNative)
    }),

    // the physical CLOSER: the erased store compacted to a fresh
    // part=-preserving directory — tombstoned vectors dropped, no
    // tombstones in the output. Serving must be indistinguishable
    // from the tombstoned input: shared oracle
    "ann_erase_closed" -> ((s, dir) => {
      GraftFunctions.register(s)
      val e = emb(s, dir)
      val built = kmeansIndex(s, dir)
      Similarity.ivfTopKFromStore(erasedClosedIvfStore(s, dir),
        Similarity.readCentroids(s, s"$built/centroids"),
        e.where(col("vec_id") < 10),
        "vec_id", "embedding", k = 5, nProbe = 3,
        dotFn = GraftFunctions.dotNative)
    }),

    // HARD-NEGATIVE mining (contrastive-training data prep): per
    // query doc, the top-3 most-similar candidates that are NOT
    // positives — near-identical vectors (cosine ≥ 0.95) and exact
    // text duplicates are excluded, leaving the
    // close-but-wrong examples a contrastive loss needs. Brute-force
    // pair scoring here (oracle-exact); at corpus scale the candidate
    // stage swaps for the IVF store probe, exclusion unchanged
    "hard_negatives" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      GraftFunctions.register(s)
      val e = emb(s, dir)
      val txt = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("text"))
      val q = e.where(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("embedding").as("__qv"))
      val c = e.select(col("vec_id").as("cand_id"), col("embedding").as("__cv"))
      val sim = GraftFunctions.dotNative(col("__qv"), col("__cv"))
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("__sim").desc, col("cand_id"))
      c.join(broadcast(q), col("query_id") =!= col("cand_id"))
        .withColumn("__sim", sim)
        .where(col("__sim") < 0.95)
        .join(txt.select(col("doc_id").as("query_id"),
          col("text").as("__qt")), Seq("query_id"))
        .join(txt.select(col("doc_id").as("cand_id"),
          col("text").as("__ct")), Seq("cand_id"))
        .where(col("__qt") =!= col("__ct"))
        .withColumn("rk", row_number().over(w))
        .where(col("rk") <= 3)
        .select(col("query_id"), col("rk").cast("long").as("rk"),
          col("cand_id"))
    }),

    // retrieval-quality EVALUATION (the recall@k gate an ANN rollout
    // needs): per query, how many of the exact top-5 the served IVF
    // path returned — both sides are existing operators, the metric
    // is one key-equality join + count, exact integers
    "ann_recall_persisted" -> ((s, dir) => {
      GraftFunctions.register(s)
      val e = emb(s, dir)
      val built = kmeansIndex(s, dir)
      val store = s"$built/store"
      if (!new java.io.File(store).exists()) {
        Similarity.writeIvfCorpus(e, s.read.parquet(s"$built/assign"),
          "vec_id", store)
      }
      val approx = Similarity.ivfTopKFromStore(store,
        graft.operators.Similarity.readCentroids(s, s"$built/centroids"), e.where(col("vec_id") < 10),
        "vec_id", "embedding", k = 5, nProbe = 3,
        dotFn = GraftFunctions.dotNative)
      val exact = Similarity.bruteForceTopK(e, e.where(col("vec_id") < 10),
          "vec_id", "embedding", k = 5, dotFn = GraftFunctions.dotNative)
        .select(col("query_id"), col("neighbor_id"))
        .withColumn("__hit", lit(1L))
      approx.join(exact, Seq("query_id", "neighbor_id"), "left")
        .groupBy(col("query_id"))
        .agg(sum(coalesce(col("__hit"), lit(0L))).as("n_hits"))
        .withColumn("recall_e4", (col("n_hits") * lit(2000L)).cast("long"))
    }),

    // SEMANTIC decontamination (the embedding-plane twin of the
    // shingle-based eval gate): corpus vectors whose cosine to ANY
    // eval vector crosses the threshold are flagged with hit count
    // and best-matching eval id — the eval side broadcasts, the
    // corpus is never re-shuffled (same posture as Decontaminate)
    "decontaminate_semantic" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      GraftFunctions.register(s)
      val e = emb(s, dir)
      val eval = e.where(col("vec_id") < 10)
        .select(col("vec_id").as("eval_id"), col("embedding").as("__ev"))
      val corpus = e.where(col("vec_id") >= 10)
        .select(col("vec_id"), col("embedding"))
      val w = Window.partitionBy(col("vec_id"))
        .orderBy(col("__sim").desc, col("eval_id"))
      corpus.join(broadcast(eval),
          GraftFunctions.dotNative(col("embedding"), col("__ev")) >= 0.4)
        .withColumn("__sim",
          GraftFunctions.dotNative(col("embedding"), col("__ev")))
        .withColumn("__rn", row_number().over(w))
        .groupBy(col("vec_id"))
        .agg(count(lit(1)).as("n_eval_hits"),
          max(when(col("__rn") === 1, col("eval_id"))).as("best_eval_id"))
    }),

    // int8-QUANTIZED search beside the float path: 4× memory/IO
    // reduction with recall pinned IN-PLAN against the exact top-5
    // (≥3 of 5 exact neighbors must appear in the quantized top-5 per
    // query) — output is the EXACT top-k plus the verdict, so the
    // oracle gates the quantized path deterministically.
    "ann_int8_topk" -> ((s, dir) => {
      GraftFunctions.register(s)
      val e = emb(s, dir)
      val qs = e.where(col("vec_id") < 10)
      val exact = Similarity.bruteForceTopK(e, qs, "vec_id", "embedding",
        k = 5, dotFn = GraftFunctions.dotNative)
      val quant = Similarity.bruteForceTopKQuantized(e, qs, "vec_id",
        "embedding", k = 5)
        .groupBy(col("query_id"))
        .agg(collect_set(col("neighbor_id")).as("qn"))
      val perQuery = Window.partitionBy(col("query_id"))
      exact.join(quant, Seq("query_id"))
        .withColumn("__hit",
          when(array_contains(col("qn"), col("neighbor_id")), 1L)
            .otherwise(0L))
        .withColumn("__hits", sum(col("__hit")).over(perQuery))
        .select(col("query_id"), col("neighbor_id"), col("rank"),
          (col("__hits") >= 3L).as("recall_ok"))
    }),

    // PRODUCT-QUANTIZED search in its production serving shape: L2
    // codebooks (16 subspaces × 16 codes — 64-dim float32 becomes 16
    // small codes), ADC shortlist of 100 over the codes (no float
    // touches the corpus), exact rerank of the candidates only. The
    // codebook is a pure function of the corpus (the deterministic
    // Lloyd core per subspace); recall pinned IN-PLAN like int8 (≥3 of
    // 5 exact neighbors per query — measured coverage is complete at
    // this corpus, the band absorbs fixture regeneration drift).
    "ann_pq_rerank" -> ((s, dir) => {
      GraftFunctions.register(s)
      val e = emb(s, dir)
      val qs = e.where(col("vec_id") < 10)
      val dotN: (org.apache.spark.sql.Column, org.apache.spark.sql.Column) => org.apache.spark.sql.Column = GraftFunctions.dotNative
      val cb = pqCodebook(s, dir)
      val exact = Similarity.bruteForceTopK(e, qs, "vec_id", "embedding",
        k = 5, dotFn = dotN)
      val pq = Similarity.pqRerankTopK(e, qs, "vec_id", "embedding", cb,
          k = 5, candidates = 100, dotFn = dotN,
          encodeDotFn = Similarity.l2Score(dotN))
        .groupBy(col("query_id"))
        .agg(collect_set(col("neighbor_id")).as("qn"))
      val perQuery = Window.partitionBy(col("query_id"))
      exact.join(pq, Seq("query_id"))
        .withColumn("__hit",
          when(array_contains(col("qn"), col("neighbor_id")), 1L)
            .otherwise(0L))
        .withColumn("__hits", sum(col("__hit")).over(perQuery))
        .select(col("query_id"), col("neighbor_id"), col("rank"),
          (col("__hits") >= 3L).as("recall_ok"))
    }),

    // the full IVF-PQ serving read: centroid probes prune part= dirs,
    // the ADC stage scans (id, pq_codes) only — the embedding column
    // stays on disk until the rerank fetches the 100 shortlisted rows.
    // Both approximation levers live (5 of 10 partitions probed +
    // 16×16 codes); recall pinned in-plan (≥3/5, measured min 4/5).
    "ann_ivfpq_topk" -> ((s, dir) => {
      GraftFunctions.register(s)
      val e = emb(s, dir)
      val qs = e.where(col("vec_id") < 10)
      val dotN: (org.apache.spark.sql.Column, org.apache.spark.sql.Column) => org.apache.spark.sql.Column = GraftFunctions.dotNative
      val built = kmeansIndex(s, dir)
      val cb = pqCodebook(s, dir)
      val store = s"$built/store_pq"
      if (!new java.io.File(store).exists())
        Similarity.writeIvfPqCorpus(e, s.read.parquet(s"$built/assign"),
          "vec_id", "embedding", cb, store, Similarity.l2Score(dotN))
      val exact = Similarity.bruteForceTopK(e, qs, "vec_id", "embedding",
        k = 5, dotFn = dotN)
      val pq = Similarity.ivfPqTopKFromStore(store,
          graft.operators.Similarity.readCentroids(s, s"$built/centroids"), qs, "vec_id", "embedding",
          cb, k = 5, nProbe = 5, candidates = 100, dotFn = dotN)
        .groupBy(col("query_id"))
        .agg(collect_set(col("neighbor_id")).as("qn"))
      val perQuery = Window.partitionBy(col("query_id"))
      exact.join(pq, Seq("query_id"))
        .withColumn("__hit",
          when(array_contains(col("qn"), col("neighbor_id")), 1L)
            .otherwise(0L))
        .withColumn("__hits", sum(col("__hit")).over(perQuery))
        .select(col("query_id"), col("neighbor_id"), col("rank"),
          (col("__hits") >= 3L).as("recall_ok"))
    }),

    // the 2-D PQ AUTOTUNE shipped with the store: the measured
    // (nProbe × candidates) recall grid — every cell derived from ONE
    // partition-pruned scored pass (ADC and exact scores are pure per
    // (query, candidate), so each cell is a filter+rank over the same
    // pool; spec-pinned cell-by-cell equal to a re-executed serve),
    // graded against ONE exact pass: the brute-force baseline this
    // query emits anyway is the grid's ground truth (same corpus,
    // same queries, same k), so it is computed once and shared —
    // stamps the cheapest
    // point clearing recall ≥ 0.6 (smallest probe depth, then
    // smallest shortlist), required in-query to be a genuinely
    // partial one (neither lever at its max). The serve then runs on
    // STAMPED DEFAULTS — no caller-supplied depth anywhere — and the
    // in-plan verdict is the guarantee the stamp actually makes:
    // AGGREGATE recall over the validation set ≥ the target (a 1-row
    // broadcast total, not a per-query floor — per-query bands belong
    // to ann_ivfpq_topk's hand-picked point). It shares that query's
    // oracle (exact top-5 + TRUE) because the stamp's measured
    // guarantee transfers exactly: the validation queries ARE the
    // serving queries here
    "ann_pq_stamped" -> ((s, dir) => {
      GraftFunctions.register(s)
      val e = emb(s, dir)
      val qs = e.where(col("vec_id") < 10)
      val dotN: (org.apache.spark.sql.Column, org.apache.spark.sql.Column) => org.apache.spark.sql.Column = GraftFunctions.dotNative
      val built = kmeansIndex(s, dir)
      val cb = pqCodebook(s, dir)
      val store = s"$built/store_pq"
      if (!new java.io.File(store).exists())
        Similarity.writeIvfPqCorpus(e, s.read.parquet(s"$built/assign"),
          "vec_id", "embedding", cb, store, Similarity.l2Score(dotN))
      val index = graft.operators.Similarity.readCentroids(s,
        s"$built/centroids")
      // the output's own exact baseline IS the grid's answer key —
      // same (corpus, queries, k) — so pay the brute-force pass ONCE
      // and feed both (pinned: |qs|·k = 50 (query, neighbor, rank)
      // rows, bounded like the serve's probe collect)
      val exact = Similarity.bruteForceTopK(e, qs, "vec_id", "embedding",
        k = 5, dotFn = dotN).localCheckpoint(true)
      val grid = Similarity.pqOperatingGridFromTruth(store, index, exact,
        qs, "vec_id", "embedding", cb, k = 5,
        probeDepths = Seq(3, 5, 10), candidateCounts = Seq(20, 100),
        dotFn = dotN)
      val (sp, sc) = Similarity.stampPqOperatingPoint(s, store, grid,
        targetRecallE4 = 6000L)
      require(sp < 10 || sc < 100,
        s"the stamp must be a genuinely partial operating point, " +
          s"got ($sp, $sc)")
      val pq = Similarity.ivfPqTopKFromStore(store, index, qs,
          "vec_id", "embedding", cb, k = 5, dotFn = dotN) // stamped
        .groupBy(col("query_id"))
        .agg(collect_set(col("neighbor_id")).as("qn"))
      val flags = exact.join(pq, Seq("query_id"))
        .withColumn("__hit",
          when(array_contains(col("qn"), col("neighbor_id")), 1L)
            .otherwise(0L))
      val total = flags.agg(sum(col("__hit")).as("__total"),
        count(lit(1)).as("__n"))
      flags.crossJoin(broadcast(total)) // 1-row bounded
        .select(col("query_id"), col("neighbor_id"), col("rank"),
          (col("__total") * 10000L >= lit(6000L) * col("__n"))
            .as("recall_ok"))
    }),

    // INCREMENTAL index maintenance — the daily-ingest ANN shape: the
    // standing corpus is laid out once, a new batch (vec_id % 7 == 3)
    // assigns to the FROZEN centroid index and APPENDS into the same
    // part= layout; batch-scaled cost, the corpus is never rewritten.
    // The index is centroid-defined, so the incrementally-built store
    // must answer identically to the full build — it shares
    // ann_ivf_persisted's oracle verbatim.
    "ann_ivf_incremental" -> ((s, dir) => {
      GraftFunctions.register(s)
      val e = emb(s, dir)
      val built = kmeansIndex(s, dir)
      val store = s"$built/store_incr"
      if (!new java.io.File(store).exists()) {
        val isBatch = col("vec_id") % 7 === 3
        Similarity.writeIvfCorpus(e.where(!isBatch),
          s.read.parquet(s"$built/assign"), "vec_id", store)
        val frozen = e.where(col("vec_id") < 10)
          .select(col("vec_id").cast("long").as("part"),
            col("embedding").cast("array<double>").as("centroid"))
        Similarity.appendIvfCorpus(e.where(isBatch), frozen,
          "vec_id", "embedding", store, GraftFunctions.dotNative)
      }
      Similarity.ivfTopKFromStore(store,
        graft.operators.Similarity.readCentroids(s, s"$built/centroids"), e.where(col("vec_id") < 10),
        "vec_id", "embedding", k = 5, nProbe = 3,
        dotFn = GraftFunctions.dotNative)
    }),

    // the STREAMING-maintained IVF store: embeddings replay as a file
    // stream; each micro-batch assigns to the frozen centroids and
    // lands in its own __batch_id= dir (replay-idempotent, zero
    // state); served identically to the batch-built store, so it
    // shares the same oracle — the vector-plane mirror of the
    // streaming-maintained text index
    "stream_ann_ivf" -> ((s, dir) => {
      GraftFunctions.register(s)
      val e = emb(s, dir)
      val built = kmeansIndex(s, dir)
      val store = s"$built/store_stream"
      if (!new java.io.File(store).exists()) {
        val base = Artifacts.tempDir(s, "graft_sivf")
        val schema = e.schema
        val stream = s.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1")
          .option("pathGlobFilter", "embeddings.parquet")
          .parquet(dir)
        // the store layout is defined by the SEED assignment (exactly
        // like writeIvfCorpus over $built/assign); the refined
        // centroids only drive probe selection at query time
        val init = e.where(col("vec_id") < 10)
          .select(col("vec_id").cast("long").as("part"),
            col("embedding").cast("array<double>").as("centroid"))
        val q = graft.streaming.StreamingIngest.maintainIvfStore(
            stream, init, "vec_id",
            "embedding", store, GraftFunctions.dotNative)
          .option("checkpointLocation", s"$base/ckpt")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      Similarity.ivfTopKFromStore(store,
        graft.operators.Similarity.readCentroids(s, s"$built/centroids"), e.where(col("vec_id") < 10),
        "vec_id", "embedding", k = 5, nProbe = 3,
        dotFn = GraftFunctions.dotNative)
    }),

    // LSH-bucketed near-dup pairs — the hash-bucket scale path beside
    // IVF: sign-bit buckets from seeded hyperplanes (row-local), pair
    // candidates only within a bucket, exact-verified at cosine >= 0.4.
    // The oracle recomputes the SAME buckets from the same literal
    // hyperplanes, so the (documented) LSH recall loss is identical.
    "emb_lsh_near_pairs" -> ((s, dir) => {
      GraftFunctions.register(s)
      Similarity.lshNearDupPairs(emb(s, dir), "vec_id", "embedding",
        lshPlanes, threshold = 0.4, dotFn = GraftFunctions.dotNative)
    }),

    // cross-MODAL referential integrity: the dataset-assembly gate
    // that catches a re-embedding job that dropped rows — docs without
    // vectors, vectors without docs, duplicate vector ids; two
    // anti-join counts + one dup agg, 1-row output
    "modal_integrity" -> ((s, dir) => {
      val d = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"))
      val e = emb(s, dir).select(col("vec_id"))
      val docsOnly = d.join(e, d("doc_id") === e("vec_id"), "left_anti")
        .agg(count(lit(1)).as("docs_without_vec"))
      val vecsOnly = e.join(d, e("vec_id") === d("doc_id"), "left_anti")
        .agg(count(lit(1)).as("vecs_without_doc"))
      val dups = emb(s, dir).groupBy(col("vec_id"))
        .agg(count(lit(1)).as("c"))
        .agg(sum(when(col("c") > 1, 1L).otherwise(0L)).as("dup_vec_ids"))
      docsOnly.crossJoin(vecsOnly).crossJoin(dups)
    }),

    // per-dimension DRIFT between label cohorts (the embedding twin
    // of token drift — catches encoder/population shifts before a
    // stale index degrades); cross-multiplied shift, no division
    "emb_cohort_drift" -> ((s, dir) =>
      graft.operators.Similarity.cohortDrift(emb(s, dir), "embedding",
        col("label") < 5)),

    // ESTIMATOR-QUALITY evaluation, measured in-engine: recall of the
    // sign-LSH bucketed near-dup pass against the exact pair set at
    // the same threshold — the number a curation run reads before
    // trusting the bucketed path at scale. Counts only; 1-row output
    "emb_lsh_recall" -> ((s, dir) => {
      GraftFunctions.register(s)
      val exact = Similarity.nearDupPairs(emb(s, dir), "vec_id",
          "embedding", threshold = 0.4, dotFn = GraftFunctions.dotNative)
        .agg(count(lit(1)).as("n_exact"))
      val lsh = Similarity.lshNearDupPairs(emb(s, dir), "vec_id",
          "embedding", lshPlanes, threshold = 0.4,
          dotFn = GraftFunctions.dotNative)
        .agg(count(lit(1)).as("n_lsh"))
      exact.crossJoin(lsh)
        .select(col("n_exact"), col("n_lsh"),
          // empty truth set → recall is vacuously total; also avoids
          // an ANSI DIV-by-zero on a degenerate corpus
          when(col("n_exact") > 0, expr("10000 * n_lsh DIV n_exact"))
            .otherwise(lit(10000L)).as("recall_e4"))
    }),

    // corpus profile: per-label counts (exact ints)
    "emb_label_counts" -> ((s, dir) =>
      emb(s, dir).groupBy(col("label").cast("long").as("label"))
        .agg(count(lit(1)).as("n_vecs"))),

    // per-DIMENSION calibration profile (mean-centering, asymmetric
    // quantization ranges, dead-dimension detection): values round to
    // x10^6 integers BEFORE any sum, so every stat is exact integer
    // arithmetic and hash-compares across engines; output is
    // dim-sized at any corpus size
    // the operator keeps sumsq in decimal(38,0) (overflow-proof at
    // corpus scale); the gate's projection narrows it to BIGINT,
    // exact at fixture magnitudes, for a type-stable compare
    "emb_dim_profile" -> ((s, dir) =>
      graft.operators.Similarity.dimensionProfile(emb(s, dir), "embedding")
        .withColumn("sumsq_e12", col("sumsq_e12").cast("long"))),

    // MISLABELED-EXAMPLE detection (Similarity.labelOutliers): per
    // label, the 5 vectors farthest from the label centroid —
    // integer-exact n²-scaled distances, centroid sums broadcast,
    // per-vector scoring row-local (no second explode shuffle)
    "emb_label_outliers" -> ((s, dir) =>
      graft.operators.Similarity.labelOutliers(
        emb(s, dir), "vec_id", "embedding", "label", k = 5)),

    // FILTERED vector search (the metadata-predicate ANN every
    // retrieval stack needs): exact top-5 restricted to labels < 5 —
    // the predicate composes UNDER the search, reaching the parquet
    // scan as a pushed filter (plan-audit-pinned), so at 100 TB the
    // filtered corpus is pruned before a single dot product runs
    "ann_filtered_topk" -> ((s, dir) => {
      GraftFunctions.register(s)
      val e = emb(s, dir)
      Similarity.bruteForceTopK(e.where(col("label") < 5),
        e.where(col("vec_id") < 10),
        "vec_id", "embedding", k = 5, dotFn = GraftFunctions.dotNative)
    }))

  private val topkOracle: String =
    """WITH q AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
      |           FROM embeddings WHERE vec_id < 10),
      |     c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
      |           FROM embeddings)
      |SELECT query_id, neighbor_id, rank FROM (
      |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
      |    CAST(row_number() OVER (PARTITION BY q.vec_id
      |      ORDER BY list_dot_product(q.v, c.v) DESC, c.vec_id)
      |      AS INTEGER) AS rank
      |  FROM q CROSS JOIN c WHERE q.vec_id <> c.vec_id)
      |WHERE rank <= 5""".stripMargin

  /** The k-means IVF ranking (seed = vecs 0..9, one Lloyd refinement,
    * 3-probe top-5) — shared by the join-served and the
    * partitioned-store-served query paths, which must be identical. */
  private val kmeansIvfOracle: String =
    """WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
      |           FROM embeddings),
      |init AS (SELECT CAST(vec_id AS BIGINT) AS part, v AS cv
      |         FROM c WHERE vec_id < 10),
      |assigned AS (
      |  SELECT vec_id, part FROM (
      |    SELECT c.vec_id, i.part,
      |      row_number() OVER (PARTITION BY c.vec_id
      |        ORDER BY list_dot_product(c.v, i.cv) DESC, i.part) AS rn
      |    FROM c CROSS JOIN init i)
      |  WHERE rn = 1),
      |u AS (SELECT a.part, unnest(c.v) AS x, generate_subscripts(c.v, 1) AS pos
      |      FROM c JOIN assigned a USING (vec_id)),
      |cm AS (SELECT part, pos, avg(x) AS m FROM u GROUP BY part, pos),
      |cent AS (SELECT part, list(m ORDER BY pos) AS cv FROM cm GROUP BY part),
      |q AS (SELECT vec_id, v FROM c WHERE vec_id < 10),
      |probes AS (
      |  SELECT query_id, part FROM (
      |    SELECT q.vec_id AS query_id, cent.part,
      |      row_number() OVER (PARTITION BY q.vec_id
      |        ORDER BY list_dot_product(q.v, cent.cv) DESC, cent.part) AS pr
      |    FROM q CROSS JOIN cent)
      |  WHERE pr <= 3)
      |SELECT query_id, neighbor_id, rank FROM (
      |  SELECT p.query_id, c.vec_id AS neighbor_id,
      |    CAST(row_number() OVER (PARTITION BY p.query_id
      |      ORDER BY list_dot_product(q.v, c.v) DESC, c.vec_id)
      |      AS INTEGER) AS rank
      |  FROM probes p
      |  JOIN q ON q.vec_id = p.query_id
      |  JOIN assigned a ON a.part = p.part
      |  JOIN c ON c.vec_id = a.vec_id
      |  WHERE c.vec_id <> p.query_id)
      |WHERE rank <= 5""".stripMargin

  /** The erasure oracle: [[kmeansIvfOracle]] with the deletion
    * subjects excluded as CANDIDATES only — assignment and centroids
    * keep the full corpus (the frozen index is untouched by erasure).
    * Derived mechanically so the scorers can never drift. */
  private val erasedIvfOracle: String = {
    val subjects = erasedVecIds.mkString(", ")
    val from = "WHERE c.vec_id <> p.query_id)"
    val to = s"WHERE c.vec_id <> p.query_id AND c.vec_id NOT IN ($subjects))"
    require(kmeansIvfOracle.contains(from), "oracle surgery anchor moved")
    kmeansIvfOracle.replace(from, to)
  }

  /** The calibration oracle replays the identity independently:
    * exact top-5 per query, each true neighbor's partition joined to
    * its per-query centroid rank, every depth counted from those
    * rows. Same k-means construction as [[kmeansIvfOracle]]. */
  private val probeCurveOracle: String =
    """WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
      |           FROM embeddings),
      |init AS (SELECT CAST(vec_id AS BIGINT) AS part, v AS cv
      |         FROM c WHERE vec_id < 10),
      |assigned AS (
      |  SELECT vec_id, part FROM (
      |    SELECT c.vec_id, i.part,
      |      row_number() OVER (PARTITION BY c.vec_id
      |        ORDER BY list_dot_product(c.v, i.cv) DESC, i.part) AS rn
      |    FROM c CROSS JOIN init i)
      |  WHERE rn = 1),
      |u AS (SELECT a.part, unnest(c.v) AS x, generate_subscripts(c.v, 1) AS pos
      |      FROM c JOIN assigned a USING (vec_id)),
      |cm AS (SELECT part, pos, avg(x) AS m FROM u GROUP BY part, pos),
      |cent AS (SELECT part, list(m ORDER BY pos) AS cv FROM cm GROUP BY part),
      |q AS (SELECT vec_id, v FROM c WHERE vec_id < 10),
      |truth AS (
      |  SELECT query_id, neighbor_id FROM (
      |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
      |      row_number() OVER (PARTITION BY q.vec_id
      |        ORDER BY list_dot_product(q.v, c.v) DESC, c.vec_id) AS rank
      |    FROM q CROSS JOIN c WHERE q.vec_id <> c.vec_id)
      |  WHERE rank <= 5),
      |tp AS (SELECT t.query_id, a.part
      |       FROM truth t JOIN assigned a ON a.vec_id = t.neighbor_id),
      |pr AS (
      |  SELECT q.vec_id AS query_id, cent.part,
      |    row_number() OVER (PARTITION BY q.vec_id
      |      ORDER BY list_dot_product(q.v, cent.cv) DESC, cent.part)
      |      AS prank
      |  FROM q CROSS JOIN cent),
      |hits AS (
      |  SELECT tp.query_id, pr.prank FROM tp
      |  JOIN pr ON pr.query_id = tp.query_id AND pr.part = tp.part),
      |d AS (SELECT * FROM generate_series(1, 10) t(n_probe))
      |SELECT CAST(d.n_probe AS BIGINT) AS n_probe,
      |  CAST(sum(CASE WHEN h.prank <= d.n_probe THEN 1 ELSE 0 END)
      |    AS BIGINT) AS hits,
      |  CAST(50 AS BIGINT) AS possible,
      |  CAST(floor(10000 *
      |    sum(CASE WHEN h.prank <= d.n_probe THEN 1 ELSE 0 END) / 50)
      |    AS BIGINT) AS recall_e4
      |FROM d CROSS JOIN hits h
      |GROUP BY 1""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "ann_bruteforce_topk" -> topkOracle,

    "ann_probe_recall_curve" -> probeCurveOracle,

    // exclusion gates against the full-assignment recompute; the
    // compacted closer shares it verbatim
    "ann_erased_topk" -> erasedIvfOracle,
    "ann_erase_closed" -> erasedIvfOracle,

    "emb_near_pairs" ->
      """SELECT a.vec_id AS id_a, b.vec_id AS id_b
        |FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings) a
        |CROSS JOIN
        |     (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings) b
        |WHERE a.vec_id < b.vec_id
        |  AND list_dot_product(a.v, b.v) >= 0.4""".stripMargin,

    // full-probe IVF is exactly brute force — same oracle
    "ann_ivf_full_probe" -> topkOracle,

    "ann_ivf_probe3" ->
      """WITH c AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
        |           FROM embeddings),
        |q AS (SELECT vec_id, v FROM c WHERE vec_id < 10),
        |u AS (SELECT label, unnest(v) AS x, generate_subscripts(v, 1) AS pos
        |      FROM c),
        |cent AS (SELECT label, pos, avg(x) AS m FROM u GROUP BY label, pos),
        |centv AS (SELECT label, list(m ORDER BY pos) AS cv
        |          FROM cent GROUP BY label),
        |probes AS (
        |  SELECT query_id, label FROM (
        |    SELECT q.vec_id AS query_id, cv.label,
        |      row_number() OVER (PARTITION BY q.vec_id
        |        ORDER BY list_dot_product(q.v, cv.cv) DESC, cv.label) AS pr
        |    FROM q CROSS JOIN centv cv)
        |  WHERE pr <= 3)
        |SELECT query_id, neighbor_id, rank FROM (
        |  SELECT p.query_id, c.vec_id AS neighbor_id,
        |    CAST(row_number() OVER (PARTITION BY p.query_id
        |      ORDER BY list_dot_product(q.v, c.v) DESC, c.vec_id)
        |      AS INTEGER) AS rank
        |  FROM probes p
        |  JOIN q ON q.vec_id = p.query_id
        |  JOIN c ON c.label = p.label
        |  WHERE c.vec_id <> p.query_id)
        |WHERE rank <= 5""".stripMargin,

    // identical ranking contract for the partitioned-store serving
    // layout: layout changes what is read, never the answer
    "ann_ivf_persisted" -> kmeansIvfOracle,

    // the refit trigger must land the serving index exactly where the
    // fresh build put it — oracle shared verbatim
    "ann_ivf_refit" -> kmeansIvfOracle,

    "hard_negatives" ->
      """WITH c AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |q AS (SELECT vec_id, v FROM c WHERE vec_id < 10),
        |pairs AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
        |         list_dot_product(q.v, c.v) AS sim
        |  FROM q JOIN c ON c.vec_id <> q.vec_id),
        |ok AS (
        |  SELECT p.* FROM pairs p
        |  JOIN documents a ON a.doc_id = p.query_id
        |  JOIN documents b ON b.doc_id = p.cand_id
        |  WHERE p.sim < 0.95 AND a.text <> b.text),
        |r AS (
        |  SELECT *, row_number() OVER (PARTITION BY query_id
        |    ORDER BY sim DESC, cand_id) AS rk
        |  FROM ok)
        |SELECT query_id, CAST(rk AS BIGINT) AS rk, cand_id
        |FROM r WHERE rk <= 3""".stripMargin,

    // the two existing oracles composed: exact ∩ served per query
    "ann_recall_persisted" ->
      s"""WITH ex AS ($topkOracle),
         |ap AS ($kmeansIvfOracle)
         |SELECT ap.query_id,
         |  CAST(sum(CASE WHEN ex.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_hits,
         |  CAST(sum(CASE WHEN ex.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
         |    * 2000 AS BIGINT) AS recall_e4
         |FROM ap LEFT JOIN ex
         |  ON ex.query_id = ap.query_id
         | AND ex.neighbor_id = ap.neighbor_id
         |GROUP BY 1""".stripMargin,

    "decontaminate_semantic" ->
      """WITH ev AS (
        |  SELECT vec_id AS eval_id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings WHERE vec_id < 10),
        |c AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings WHERE vec_id >= 10),
        |j AS (
        |  SELECT c.vec_id, ev.eval_id, list_dot_product(c.v, ev.v) AS sim
        |  FROM c CROSS JOIN ev
        |  WHERE list_dot_product(c.v, ev.v) >= 0.4),
        |r AS (
        |  SELECT *, row_number() OVER (PARTITION BY vec_id
        |    ORDER BY sim DESC, eval_id) AS rn
        |  FROM j)
        |SELECT vec_id, count(*) AS n_eval_hits,
        |  CAST(max(CASE WHEN rn = 1 THEN eval_id END) AS BIGINT)
        |    AS best_eval_id
        |FROM r GROUP BY 1""".stripMargin,

    // the incrementally-appended store must answer IDENTICALLY to the
    // full build under the same frozen centroids
    "ann_ivf_incremental" -> kmeansIvfOracle,

    // centroid-defined assignment: batch boundaries cannot change the
    // index, so the streamed store serves the same ranking
    "stream_ann_ivf" -> kmeansIvfOracle,

    // exact top-k plus the pinned-at-TRUE quantization recall verdict
    "ann_int8_topk" ->
      s"SELECT *, TRUE AS recall_ok FROM ($topkOracle)",

    // same gate for the PQ shortlist + exact-rerank path
    "ann_pq_rerank" ->
      s"SELECT *, TRUE AS recall_ok FROM ($topkOracle)",

    // and for the full IVF-PQ serving read
    "ann_ivfpq_topk" ->
      s"SELECT *, TRUE AS recall_ok FROM ($topkOracle)",

    // stamped-default serve: same exact-side + in-plan recall shape
    "ann_pq_stamped" ->
      s"SELECT *, TRUE AS recall_ok FROM ($topkOracle)",

    "ann_ivf_kmeans_topk" -> kmeansIvfOracle,

    "ann_kmeans_partition_sizes" ->
      """WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |           FROM embeddings),
        |init AS (SELECT CAST(vec_id AS BIGINT) AS part, v AS cv
        |         FROM c WHERE vec_id < 10),
        |assigned AS (
        |  SELECT vec_id, part FROM (
        |    SELECT c.vec_id, i.part,
        |      row_number() OVER (PARTITION BY c.vec_id
        |        ORDER BY list_dot_product(c.v, i.cv) DESC, i.part) AS rn
        |    FROM c CROSS JOIN init i)
        |  WHERE rn = 1)
        |SELECT part, count(*) AS n_vecs FROM assigned GROUP BY 1""".stripMargin,

    "emb_lsh_near_pairs" -> {
      val bucketExpr = lshBucketSql
      s"""WITH b AS (
         |  SELECT vec_id, v, $bucketExpr AS bucket
         |  FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
         |        FROM embeddings))
         |SELECT a.vec_id AS id_a, b2.vec_id AS id_b
         |FROM b a JOIN b b2
         |  ON a.bucket = b2.bucket AND a.vec_id < b2.vec_id
         |WHERE list_dot_product(a.v, b2.v) >= 0.4""".stripMargin
    },

    // NOT EXISTS, not NOT IN: three-valued logic would collapse the
    // count to 0 on a corpus with any NULL id, while the Spark side's
    // left_anti joins (null-safe) still count the null-keyed rows
    "modal_integrity" ->
      """SELECT
        |  (SELECT count(*) FROM documents d
        |   WHERE NOT EXISTS (SELECT 1 FROM embeddings e2
        |                     WHERE e2.vec_id = d.doc_id))
        |    AS docs_without_vec,
        |  (SELECT count(*) FROM embeddings e
        |   WHERE NOT EXISTS (SELECT 1 FROM documents d2
        |                     WHERE d2.doc_id = e.vec_id))
        |    AS vecs_without_doc,
        |  (SELECT CAST(sum(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS BIGINT)
        |   FROM (SELECT vec_id, count(*) AS c FROM embeddings GROUP BY 1))
        |    AS dup_vec_ids""".stripMargin,

    "emb_cohort_drift" ->
      """WITH x AS (
        |  SELECT (label < 5) AS a,
        |    generate_subscripts(embedding, 1) - 1 AS pos,
        |    CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000000)
        |      AS BIGINT) AS v_e6
        |  FROM embeddings),
        |g AS (SELECT CAST(pos AS BIGINT) AS pos,
        |    CAST(sum(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        |    CAST(sum(CASE WHEN a THEN 0 ELSE 1 END) AS BIGINT) AS n_b,
        |    CAST(sum(CASE WHEN a THEN v_e6 ELSE 0 END) AS BIGINT)
        |      AS sum_a_e6,
        |    CAST(sum(CASE WHEN a THEN 0 ELSE v_e6 END) AS BIGINT)
        |      AS sum_b_e6
        |  FROM x GROUP BY 1)
        |SELECT pos, n_a, n_b, sum_a_e6, sum_b_e6,
        |  sum_a_e6 * n_b - sum_b_e6 * n_a AS shift_x
        |FROM g""".stripMargin,

    "emb_lsh_recall" -> {
      val bucketExpr = lshBucketSql
      s"""WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
         |           FROM embeddings),
         |b AS (SELECT vec_id, v, $bucketExpr AS bucket FROM c),
         |nl AS (SELECT count(*) AS n_lsh FROM b a JOIN b b2
         |  ON a.bucket = b2.bucket AND a.vec_id < b2.vec_id
         |  WHERE list_dot_product(a.v, b2.v) >= 0.4),
         |ne AS (SELECT count(*) AS n_exact FROM c a CROSS JOIN c b2
         |  WHERE a.vec_id < b2.vec_id
         |    AND list_dot_product(a.v, b2.v) >= 0.4)
         |SELECT ne.n_exact, nl.n_lsh,
         |  CASE WHEN ne.n_exact > 0 THEN (10000 * nl.n_lsh) // ne.n_exact
         |       ELSE 10000 END AS recall_e4
         |FROM ne, nl""".stripMargin
    },

    "emb_label_counts" ->
      "SELECT CAST(label AS BIGINT) AS label, count(*) AS n_vecs FROM embeddings GROUP BY 1",

    // same x10^6 element rounding, exact integer sums; sumsq kept as
    // decimal text on both sides
    "emb_dim_profile" ->
      """WITH x AS (
        |  SELECT generate_subscripts(embedding, 1) - 1 AS pos,
        |    CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000000)
        |      AS BIGINT) AS v_e6
        |  FROM embeddings)
        |SELECT CAST(pos AS BIGINT) AS pos, count(*) AS n_vals,
        |  CAST(sum(v_e6) AS BIGINT) AS sum_e6,
        |  min(v_e6) AS min_e6, max(v_e6) AS max_e6,
        |  CAST(sum(CAST(v_e6 AS HUGEINT) * v_e6) AS BIGINT)
        |    AS sumsq_e12
        |FROM x GROUP BY 1""".stripMargin,

    // same ×10⁶ rounding, n²-scaled integral distance², HUGEINT sums
    // → text so both engines hash the exact integer
    "emb_label_outliers" ->
      """WITH x AS (
        |  SELECT vec_id, CAST(label AS BIGINT) AS label,
        |    list_transform(embedding,
        |      e -> CAST(round(CAST(e AS DOUBLE) * 1000000) AS BIGINT)) AS xe6
        |  FROM embeddings),
        |u AS (SELECT vec_id, label, unnest(xe6) AS v,
        |        generate_subscripts(xe6, 1) AS pos FROM x),
        |cs AS (SELECT label, pos, sum(v) AS s FROM u GROUP BY 1, 2),
        |cn AS (SELECT label, count(*) AS n FROM x GROUP BY 1),
        |d AS (SELECT u.vec_id, u.label,
        |    sum(CAST(cn.n * u.v - cs.s AS HUGEINT)
        |      * CAST(cn.n * u.v - cs.s AS HUGEINT)) AS d2
        |  FROM u JOIN cs USING (label, pos) JOIN cn USING (label)
        |  GROUP BY 1, 2),
        |r AS (SELECT label, vec_id, d2, row_number() OVER (
        |    PARTITION BY label ORDER BY d2 DESC, vec_id) AS rk FROM d)
        |SELECT label, vec_id, CAST(d2 AS VARCHAR) AS d2
        |FROM r WHERE rk <= 5""".stripMargin,

    // the brute-force ranking over the label-filtered corpus only
    "ann_filtered_topk" ->
      """WITH q AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |           FROM embeddings WHERE vec_id < 10),
        |     c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |           FROM embeddings WHERE label < 5)
        |SELECT query_id, neighbor_id, rank FROM (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    CAST(row_number() OVER (PARTITION BY q.vec_id
        |      ORDER BY list_dot_product(q.v, c.v) DESC, c.vec_id)
        |      AS INTEGER) AS rank
        |  FROM q CROSS JOIN c WHERE q.vec_id <> c.vec_id)
        |WHERE rank <= 5""".stripMargin)

  /** Plan-capture probes (tooling only — consumed by [[graft.PlanDump]],
    * never by the driver): internal frames of multi-job queries whose
    * declared-query explain can't show where the time goes. Shares the
    * declared queries' memoized store artifacts. */
  val planProbes: Map[String, (SparkSession, String) => DataFrame] = {
    def pqSetup(s: SparkSession, dir: String) = {
      GraftFunctions.register(s)
      val e = emb(s, dir)
      val qs = e.where(col("vec_id") < 10)
      val dotN: (org.apache.spark.sql.Column,
        org.apache.spark.sql.Column) => org.apache.spark.sql.Column =
        GraftFunctions.dotNative
      val built = kmeansIndex(s, dir)
      val cb = pqCodebook(s, dir)
      val store = s"$built/store_pq"
      if (!new java.io.File(store).exists())
        Similarity.writeIvfPqCorpus(e, s.read.parquet(s"$built/assign"),
          "vec_id", "embedding", cb, store, Similarity.l2Score(dotN))
      val index = Similarity.readCentroids(s, s"$built/centroids")
      (qs, dotN, cb, store, index)
    }
    Map(
      // the unit the OLD pqOperatingGrid re-executed once per cell —
      // a full serve at one explicit (nProbe, candidates)
      "ann_pq_stamped__grid_cell_serve" -> ((s: SparkSession, dir: String) => {
        val (qs, dotN, cb, store, index) = pqSetup(s, dir)
        Similarity.ivfPqTopKFromStore(store, index, qs, "vec_id",
          "embedding", cb, k = 5, nProbe = 3, candidates = 20,
          dotFn = dotN)
      }),
      // the NEW one-pass derivation: all 6 cells from one scored pool
      "ann_pq_stamped__grid_cells" -> ((s: SparkSession, dir: String) => {
        val (qs, dotN, cb, store, index) = pqSetup(s, dir)
        Similarity.pqGridCells(store, index, qs, "vec_id", "embedding",
          cb, k = 5, depths = Seq(3, 5, 10), cands = Seq(20, 100),
          dotFn = dotN)
      }),
      // the corpus-wide centroid assignment inside every IVF/PQ build
      // (buildKmeans / __build phases): captures the KEPT window-argmax
      // plan — a map-side min_by aggregation alternative was benched
      // 1.6× slower and rejected (assignToCentroids scaladoc)
      "ann_ivfpq_topk__assign" -> ((s: SparkSession, dir: String) => {
        GraftFunctions.register(s)
        val e = emb(s, dir)
        val init = e.where(col("vec_id") < 10)
          .select(col("vec_id").cast("long").as("part"),
            col("embedding").cast("array<double>").as("centroid"))
        Similarity.assignToCentroids(e, init, "vec_id", "embedding",
          GraftFunctions.dotNative)
      }),
      // r15 store-write shapes. BEFORE: the encode frame joined back
      // onto the assign artifact (a corpus re-scan + a corpus-sized
      // join per store write); AFTER: encode over the build's pinned
      // carrying assignment — Scan ExistingRDD, zero joins, zero
      // parquet scans
      "ann_ivfpq_topk__store_write_joined" -> ((s: SparkSession, dir: String) => {
        GraftFunctions.register(s)
        val e = emb(s, dir)
        val dotN: (org.apache.spark.sql.Column,
          org.apache.spark.sql.Column) => org.apache.spark.sql.Column =
          GraftFunctions.dotNative
        val built = kmeansIndex(s, dir)
        val cb = pqCodebook(s, dir)
        Similarity.pqEncode(e, "embedding", cb, Similarity.l2Score(dotN))
          .join(s.read.parquet(s"$built/assign"), Seq("vec_id"))
      }),
      "ann_ivfpq_topk__store_write" -> ((s: SparkSession, dir: String) => {
        GraftFunctions.register(s)
        val e = emb(s, dir)
        val dotN: (org.apache.spark.sql.Column,
          org.apache.spark.sql.Column) => org.apache.spark.sql.Column =
          GraftFunctions.dotNative
        val cb = pqCodebook(s, dir)
        val (_, assignedV) = buildKmeansPinned(s, dir)
        Similarity.pqEncode(assignedV, "embedding", cb,
          Similarity.l2Score(dotN))
      }))
  }
}
