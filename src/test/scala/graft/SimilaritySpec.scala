package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.operators.Similarity

class SimilaritySpec extends SparkTestBase {
  import spark.implicits._

  // tiny 3-d corpus with known geometry (unit vectors)
  private val s2 = math.sqrt(0.5).toFloat
  private val corpus = Seq(
    (0L, Array(1f, 0f, 0f), 0),
    (1L, Array(0f, 1f, 0f), 0),
    (2L, Array(s2, s2, 0f), 1),  // between 0 and 1
    (3L, Array(-1f, 0f, 0f), 1), // opposite of 0
    (4L, Array(0.999f, 0.0447f, 0f), 2)) // almost 0
    .toDF("vec_id", "embedding", "label")

  private def sf0001Embeddings =
    spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")

  /** The Lloyd executors' training frame: (id long, fv array<double>). */
  private def trainFrame(df: DataFrame) =
    df.select(col("vec_id").cast("long").as("id"),
      col("embedding").cast("array<double>").as("fv"))

  private def bothExecutors(train: DataFrame, m: Int, sub: Int,
      dotFn: (Column, Column) => Column = Similarity.dot)
      : Seq[Similarity.LloydExecutor] =
    Seq(new Similarity.LocalLloyd(train, m, sub, dotFn),
      new Similarity.DistributedLloyd(train, m, sub, dotFn))

  test("dot: double fold matches known cosines") {
    val d = corpus.as("a").join(corpus.as("b"),
        col("a.vec_id") === 0 && col("b.vec_id") === 2)
      .select(Similarity.dot(col("a.embedding"), col("b.embedding")))
      .head().getDouble(0)
    assert(math.abs(d - math.sqrt(0.5)) < 1e-6)
  }

  test("bruteForceTopK: correct ranks, self excluded, id tie-break") {
    val got = Similarity.bruteForceTopK(corpus,
        corpus.where(col("vec_id") === 0), "vec_id", "embedding", k = 2)
      .orderBy("rank").collect()
      .map(r => (r.getLong(1), r.getInt(2))).toSeq
    // nearest to e_x: 4 (cos .999) then 2 (cos .707)
    assert(got == Seq((4L, 1), (2L, 2)))
  }

  test("nearDupPairs finds only the high-cosine pair") {
    val pairs = Similarity.nearDupPairs(corpus, "vec_id", "embedding", 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((0L, 4L)))
  }

  test("centroids: per-partition means, dims in order") {
    val c = Similarity.centroids(corpus, "label", "embedding")
      .collect().map(r => r.getInt(0) -> r.getSeq[Double](1)).toMap
    assert(c(0).zip(Seq(0.5, 0.5, 0.0)).forall { case (a, b) => math.abs(a - b) < 1e-6 })
    assert(c(1).zip(Seq((s2 - 1) / 2.0, s2 / 2.0, 0.0)).forall { case (a, b) => math.abs(a - b) < 1e-6 })
  }

  test("assignToCentroids: nearest centroid wins, ties break low") {
    val cent = Seq(
      (0L, Seq(1.0, 0.0, 0.0)),
      (1L, Seq(0.0, 1.0, 0.0)))
      .toDF("part", "centroid")
    val got = Similarity.assignToCentroids(corpus, cent, "vec_id", "embedding")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // 0 → e_x part, 1 → e_y part, 2 equidistant → lower part id,
    // 3 (−e_x) → dot 0 with e_y beats −1 with e_x, 4 → e_x
    assert(got == Map(0L -> 0L, 1L -> 1L, 2L -> 0L, 3L -> 1L, 4L -> 0L))
  }

  test("carrying assignment: same (id, part) map as the plain form; " +
      "carried rows equal the corpus join") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val init = e.where(col("vec_id") < 4)
      .select(col("vec_id").cast("long").as("part"),
        col("embedding").cast("array<double>").as("centroid"))
    val plain = Similarity.assignToCentroids(e, init, "vec_id", "embedding")
    val carry = Similarity.assignToCentroidsCarrying(e, init, "vec_id",
      "embedding")
    // the (id, part) assignment is identical — same window, same
    // tie-break
    assert(carry.select(col("vec_id").cast("long"), col("part").cast("long"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
      plain.select(col("vec_id").cast("long"), col("part").cast("long"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet)
    // the carried rows ARE the corpus rows: carrying == corpus ⋈ plain
    // (the join the carrying form exists to remove), column-for-column
    val joined = e.join(plain, Seq("vec_id"))
    val cols = joined.columns.sorted.map(col)
    def key(df: org.apache.spark.sql.DataFrame) =
      df.select(cols.toIndexedSeq: _*).collect().map(_.toString).sorted
    assert(key(carry).sameElements(key(joined)),
      "carrying assignment drifted from the corpus join")
  }

  test("Lloyd step (both executors): the assigned-partition means") {
    val cent = Array(Array(Array(1.0, 0.0, 0.0), Array(0.0, 1.0, 0.0)))
    // part 0 = mean of vecs {0, 2, 4}; part 1 = mean of {1, 3}
    val exp0 = Seq((1.0 + s2 + 0.999f.toDouble) / 3,
      (s2 + 0.0447f.toDouble) / 3, 0.0)
    val exp1 = Seq(-0.5, 0.5, 0.0)
    bothExecutors(trainFrame(corpus), m = 1, sub = 3).foreach { exec =>
      val next = try exec.step(Seq(0), cent)(0) finally exec.close()
      assert(next(0).toSeq.zip(exp0).forall { case (a, b) => math.abs(a - b) < 1e-6 })
      assert(next(1).toSeq.zip(exp1).forall { case (a, b) => math.abs(a - b) < 1e-6 })
    }
  }

  test("int8 quantization: known codes, approximate dot within bound") {
    val df = Seq((0L, Array(1.0f, 0.5f, -1.0f))).toDF("vec_id", "embedding")
    val q = Similarity.quantizeEmbeddings(df, "embedding").head()
    val scale = q.getAs[Double]("qscale")
    val codes = q.getSeq[Byte](q.fieldIndex("qvec"))
    assert(math.abs(scale - 1.0 / 127.0) < 1e-12)
    assert(codes == Seq[Byte](127, 64, -127), s"codes: $codes")
    // zero vector: zero codes, zero scale, no division blowup
    val z = Similarity.quantizeEmbeddings(
      Seq((1L, Array(0f, 0f, 0f))).toDF("vec_id", "embedding"), "embedding")
      .head()
    assert(z.getAs[Double]("qscale") == 0.0)
    assert(z.getSeq[Byte](z.fieldIndex("qvec")) == Seq[Byte](0, 0, 0))
    // quantized ranks match exact ranks on clear-cut geometry
    val exact = Similarity.bruteForceTopK(corpus,
        corpus.where(col("vec_id") === 0), "vec_id", "embedding", k = 2)
      .collect().map(r => (r.getLong(1), r.getInt(2))).toSeq
    val quant = Similarity.bruteForceTopKQuantized(corpus,
        corpus.where(col("vec_id") === 0), "vec_id", "embedding", k = 2)
      .collect().map(r => (r.getLong(1), r.getInt(2))).toSeq
    assert(quant == exact, s"quantized $quant != exact $exact")
  }

  test("appendIvfCorpus: incremental store answers like the full build") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val init = e.where(col("vec_id") < 4)
      .select(col("vec_id").cast("long").as("part"),
        col("embedding").cast("array<double>").as("centroid"))
    val assigned = Similarity.assignToCentroids(e, init, "vec_id", "embedding")
    val full = java.nio.file.Files.createTempDirectory("ivf-full").toString
    Similarity.writeIvfCorpus(e, assigned, "vec_id", full)
    val incr = java.nio.file.Files.createTempDirectory("ivf-incr").toString
    val isBatch = col("vec_id") % 5 === 2
    Similarity.writeIvfCorpus(e.where(!isBatch), assigned, "vec_id", incr)
    Similarity.appendIvfCorpus(e.where(isBatch), init, "vec_id",
      "embedding", incr)
    val q = e.where(col("vec_id") < 5)
    def res(store: String) = Similarity.ivfTopKFromStore(store, init, q,
        "vec_id", "embedding", k = 3, nProbe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(res(incr) == res(full), "append changed answers")
  }

  test("PQ: codes well-formed and deterministic; full-shortlist rerank exact") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val n = e.count().toInt
    val l2 = Similarity.l2Score()
    val cb = Similarity.pqTrain(e, "vec_id", "embedding", m = 8, ks = 8,
      dotFn = l2)
    // codebook shape + determinism (pure function of the corpus)
    assert(cb.size == 8 && cb.forall(_.size == 8) &&
      cb.forall(_.forall(_.size == 8)))
    val cb2 = Similarity.pqTrain(e, "vec_id", "embedding", m = 8, ks = 8,
      dotFn = l2)
    assert(cb == cb2, "codebook training is nondeterministic")
    // codes: length m, every code in [0, ks)
    val codes = Similarity.pqEncode(e, "embedding", cb, l2)
      .select(col("pq_codes")).collect().map(_.getSeq[Int](0))
    assert(codes.forall(c => c.size == 8 && c.forall(x => x >= 0 && x < 8)))
    // degeneracy contract (the IVF nProbe=all analogue): with the
    // shortlist as wide as the corpus, rerank IS the exact search
    val q = e.where(col("vec_id") < 3)
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(key(Similarity.pqRerankTopK(e, q, "vec_id", "embedding", cb,
        k = 4, candidates = n, encodeDotFn = l2)) ==
      key(Similarity.bruteForceTopK(e, q, "vec_id", "embedding", k = 4)))
  }

  test("sample-bounded training: pure function of (corpus, seed, n), " +
      "layout-independent; n >= corpus degenerates to the full build") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val n = e.count().toInt
    val l2 = Similarity.l2Score()
    // a GENUINE subsample (half the corpus): the codebook must be a
    // pure function of (corpus content, trainSeed, trainSampleN) —
    // identical across runs AND across partition layouts, which is
    // what makes a trained index rebuildable on any cluster
    val cb = Similarity.pqTrain(e, "vec_id", "embedding", m = 8, ks = 8,
      dotFn = l2, trainSampleN = n / 2)
    val cbShuffled = Similarity.pqTrain(e.repartition(7), "vec_id",
      "embedding", m = 8, ks = 8, dotFn = l2, trainSampleN = n / 2)
    assert(cb == cbShuffled,
      "sampled codebook depends on partition layout")
    // a different seed picks a different training set → (almost
    // surely) a different codebook; pins that the seed is live
    val cbSeed = Similarity.pqTrain(e, "vec_id", "embedding", m = 8,
      ks = 8, dotFn = l2, trainSampleN = n / 2, trainSeed = 43)
    assert(cb != cbSeed, "trainSeed is dead — sample did not change")
    // sample >= corpus trains on every row: byte-identical to the
    // unsampled build (the small-fixture compatibility contract)
    val full = Similarity.pqTrain(e, "vec_id", "embedding", m = 8,
      ks = 8, dotFn = l2)
    val capped = Similarity.pqTrain(e, "vec_id", "embedding", m = 8,
      ks = 8, dotFn = l2, trainSampleN = n * 2)
    assert(capped == full,
      "oversized sample must degenerate to the full-corpus build")
    // serving under a sampled codebook stays the exact search when
    // the shortlist covers the corpus — sampling moves TRAINING cost,
    // never the rerank contract
    val q = e.where(col("vec_id") < 3)
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(key(Similarity.pqRerankTopK(e, q, "vec_id", "embedding", cb,
        k = 4, candidates = n, encodeDotFn = l2)) ==
      key(Similarity.bruteForceTopK(e, q, "vec_id", "embedding", k = 4)))
    // kmeansFit: same knob, same contracts
    val fitA = Similarity.kmeansFit(e, "vec_id", "embedding", k = 4,
        maxIter = 10, trainSampleN = n / 2)
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val fitB = Similarity.kmeansFit(e.repartition(5), "vec_id",
        "embedding", k = 4, maxIter = 10, trainSampleN = n / 2)
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(fitA == fitB, "sampled centroids depend on partition layout")
    val fitFull = Similarity.kmeansFit(e, "vec_id", "embedding", k = 4,
        maxIter = 10)
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val fitCap = Similarity.kmeansFit(e, "vec_id", "embedding", k = 4,
        maxIter = 10, trainSampleN = n * 2)
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(fitCap == fitFull,
      "oversized kmeans sample must degenerate to the full build")
  }

  test("bounded training sampling is the DEFAULT; 0 opts out into the " +
      "full-corpus build") {
    // 2600 rows > pqTrain's default bound 256·ks = 2048 at ks = 8: a
    // default build must equal the explicit bounded build (sampling
    // on by default), and trainSampleN = 0 must reproduce the
    // full-corpus training it opts back into
    val e = spark.range(2600).select(col("id").as("vec_id"),
        array((0 until 8).map(j =>
          pmod(col("id") * (j + 3), lit(97)).cast("double") / lit(97.0)): _*)
          .as("embedding"))
      .localCheckpoint(true)
    val l2 = Similarity.l2Score()
    val byDefault = Similarity.pqTrain(e, "vec_id", "embedding", m = 2,
      ks = 8, dotFn = l2, maxIter = 2)
    val bounded = Similarity.pqTrain(e, "vec_id", "embedding", m = 2,
      ks = 8, dotFn = l2, maxIter = 2, trainSampleN = 256 * 8)
    assert(byDefault == bounded,
      "the default pqTrain must be the 256·ks bounded sample")
    val optOut = Similarity.pqTrain(e, "vec_id", "embedding", m = 2,
      ks = 8, dotFn = l2, maxIter = 2, trainSampleN = 0)
    assert(byDefault != optOut,
      "trainSampleN = 0 must opt out into full-corpus training")
    // kmeansFit: default bound max(64·k, 10⁴) — 12000 rows > 10⁴
    val big = spark.range(12000).select(col("id").as("vec_id"),
        array((0 until 4).map(j =>
          pmod(col("id") * (j + 5), lit(101)).cast("double") / lit(101.0)): _*)
          .as("embedding"))
      .localCheckpoint(true)
    def fit(n: Int) = Similarity.kmeansFit(big, "vec_id", "embedding",
        k = 3, maxIter = 2, trainSampleN = n)
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val fitDefault = Similarity.kmeansFit(big, "vec_id", "embedding",
        k = 3, maxIter = 2)
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(fitDefault == fit(10000),
      "the default kmeansFit must be the max(64·k, 10⁴) bounded sample")
    assert(fitDefault != fit(0),
      "kmeansFit trainSampleN = 0 must opt out into full-corpus training")
  }

  test("kmeansFit: converges to a Lloyd fixed point, deterministically") {
    // two well-separated 3-d clusters: convergence must land centroids
    // on the cluster means and a FURTHER Lloyd step must not move them
    val twoClusters = Seq(
      (0L, Array(1f, 0f, 0f)), (1L, Array(0.99f, 0.01f, 0f)),
      (2L, Array(0.98f, 0f, 0.02f)),
      (10L, Array(0f, 1f, 0f)), (11L, Array(0.01f, 0.99f, 0f)),
      (12L, Array(0f, 0.98f, 0.02f)))
      .toDF("vec_id", "embedding")
    def centMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val fit = Similarity.kmeansFit(twoClusters, "vec_id", "embedding",
      k = 2, maxIter = 25, tol = 1e-12)
    val got = centMap(fit)
    // seeds are vec_ids 0 and 1 (smallest ids) → both start inside the
    // x-cluster; Lloyd must still separate the clusters
    val exp0 = Seq((1.0 + 0.99f.toDouble + 0.98f.toDouble) / 3,
      0.01f.toDouble / 3, 0.02f.toDouble / 3)
    val exp1 = Seq(0.01f.toDouble / 3,
      (1.0 + 0.99f.toDouble + 0.98f.toDouble) / 3, 0.02f.toDouble / 3)
    val (c0, c1) = (got(0L), got(1L))
    val matches = (c0.zip(exp0) ++ c1.zip(exp1))
      .forall { case (a, b) => math.abs(a - b) < 1e-9 }
    assert(matches, s"not at the cluster means: $got")
    // fixed point: one more Lloyd step, on either executor, leaves the
    // centroids unchanged
    val cent = Array(Array(got(0L).toArray, got(1L).toArray))
    bothExecutors(trainFrame(twoClusters), m = 1, sub = 3).foreach { exec =>
      val stepped = try exec.step(Seq(0), cent)(0) finally exec.close()
      got.foreach { case (p, v) =>
        assert(v.zip(stepped(p.toInt)).forall { case (a, b) => math.abs(a - b) < 1e-12 },
          s"centroid $p moved after convergence") }
    }
    // determinism: an identical second run reproduces the index exactly
    val again = centMap(Similarity.kmeansFit(twoClusters, "vec_id",
      "embedding", k = 2, maxIter = 25, tol = 1e-12))
    assert(again == got)
  }

  test("kmeansFit: empty clusters retain their previous centroid") {
    // k = 3 over the 5-vector geometry corpus: at least one cluster
    // goes empty during iteration; its centroid must persist (not NaN,
    // not dropped) so the returned index always has k parts
    val fit = Similarity.kmeansFit(corpus, "vec_id", "embedding",
      k = 3, maxIter = 10, tol = 1e-12)
    val got = fit.collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(got.keySet == Set(0L, 1L, 2L))
    got.values.foreach(v =>
      assert(v.forall(x => !x.isNaN && !x.isInfinite), s"bad centroid: $got"))
  }

  /** Codebooks equal entry-wise: finite values within `tol`, NaN with
    * NaN, infinities exactly. */
  private def sameCodebook(a: Array[Array[Array[Double]]],
      b: Array[Array[Array[Double]]], tol: Double): Boolean = {
    def same(x: Double, y: Double) =
      (x.isNaN && y.isNaN) || x == y || math.abs(x - y) <= tol
    a.length == b.length && a.indices.forall(j =>
      a(j).length == b(j).length && a(j).indices.forall(p =>
        a(j)(p).length == b(j)(p).length &&
          a(j)(p).indices.forall(d => same(a(j)(p)(d), b(j)(p)(d)))))
  }

  /** (id, j) → part for every training row under `cent`. */
  private def assignments(exec: Similarity.LloydExecutor,
      cent: Array[Array[Array[Double]]]): Map[(Long, Int), Int] = exec match {
    case l: Similarity.LocalLloyd =>
      (0 until l.m).flatMap(j => l.ids.zip(l.assign(j, cent(j)))
        .map { case (id, p) => (id, j) -> p }).toMap
    case d: Similarity.DistributedLloyd =>
      d.assign(0 until d.m, cent).collect()
        .map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2).toInt).toMap
  }

  test("Lloyd executors agree on sf0.001: same (id, j) -> part " +
      "assignments, centroids within 1e-9") {
    val e = sf0001Embeddings
    val Seq(local, dist) =
      bothExecutors(trainFrame(e), m = 8, sub = 8, Similarity.l2Score())
    val cbL = Similarity.lloyd(local, ks = 8, maxIter = 6, tol = 1e-9)
    val cbD = Similarity.lloyd(dist, ks = 8, maxIter = 6, tol = 1e-9)
    assert(sameCodebook(cbL, cbD, 1e-9), "executors trained apart")
    assert(assignments(local, cbL) == assignments(dist, cbD))
  }

  test("Lloyd executors: NaN scores rank above +inf on both; same " +
      "assignments and codebooks") {
    // an infinite component turns a dot with a 0 in that slot into
    // Inf·0 = NaN
    val inf = Double.PositiveInfinity
    val frame = Seq((0L, Array(1.0, 0.0)), (1L, Array(0.0, 1.0)),
        (2L, Array(inf, 1.0)), (3L, Array(0.6, 0.4)),
        (4L, Array(0.2, 0.9)), (5L, Array(1.0, 1.0)))
      .toDF("vec_id", "embedding")
    val seeds = Array(Array(Array(1.0, 0.0), Array(0.0, 1.0)))
    val Seq(local, dist) = bothExecutors(trainFrame(frame), m = 1, sub = 2)
    // row 2 scores +inf on part 0 and NaN on part 1: NaN wins, the
    // window's descending order
    val first = assignments(local, seeds)
    assert(first((2L, 0)) == 1, s"NaN did not outrank +inf: $first")
    assert(first == assignments(dist, seeds))
    val cbL = Similarity.lloyd(local, ks = 2, maxIter = 4, tol = 1e-9)
    val cbD = Similarity.lloyd(dist, ks = 2, maxIter = 4, tol = 1e-9)
    assert(sameCodebook(cbL, cbD, 1e-9),
      s"${cbL.map(_.map(_.toSeq).toSeq).toSeq} vs " +
        s"${cbD.map(_.map(_.toSeq).toSeq).toSeq}")
    assert(assignments(local, cbL) == assignments(dist, cbD))
  }

  test("Lloyd executors: a duplicate id fails loudly with one message " +
      "and pins nothing") {
    val dup = Seq((0L, Array(1.0, 0.0)), (1L, Array(0.0, 1.0)),
        (1L, Array(0.5, 0.5)), (2L, Array(1.0, 1.0)))
      .toDF("vec_id", "embedding")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val msgs = bothExecutors(trainFrame(dup), m = 1, sub = 2).map(exec =>
      intercept[IllegalArgumentException](
        Similarity.lloyd(exec, ks = 2, maxIter = 3, tol = 1e-9)).getMessage)
    assert(msgs.distinct.size == 1 && msgs.head.contains("duplicate id 1"),
      msgs)
    intercept[IllegalArgumentException](Similarity.pqTrain(dup, "vec_id",
      "embedding", m = 1, ks = 2, trainSampleN = 0))
    intercept[IllegalArgumentException](Similarity.kmeansFit(dup, "vec_id",
      "embedding", k = 2))
    assert(spark.sparkContext.getPersistentRDDs.keySet == before)
  }

  /** `rows` 1024-dim hashed (so incompressible) vectors: at this width
    * 1024 rows fill the local training budget. */
  private def wideFrame(rows: Int) = spark.range(rows).select(
    col("id").as("vec_id"),
    transform(sequence(lit(0), lit(1023)), i =>
      hash(col("id"), i).cast("double") / lit(Int.MaxValue.toDouble))
      .as("embedding"))

  /** (serialized task-result bytes the driver receives, Spark jobs run)
    * while `f` runs. */
  private def resultBytesAndJobs(f: => Any): (Long, Int) = {
    val sc = spark.sparkContext
    val total = new java.util.concurrent.atomic.AtomicLong
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null) total.addAndGet(e.taskMetrics.resultSize)
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    org.apache.spark.ListenerBusProbe.drain(sc)
    sc.addSparkListener(listener)
    try { f; org.apache.spark.ListenerBusProbe.drain(sc) }
    finally sc.removeSparkListener(listener)
    (total.get, jobs.get)
  }

  test("executor choice: training rows x dim against the budget, not " +
      "trainSampleN") {
    import Similarity.{LocalTrainBudget, trainsLocally}
    Seq(1, 64, 1024).foreach { dim =>
      assert(trainsLocally(LocalTrainBudget / dim, dim))
      assert(!trainsLocally(LocalTrainBudget / dim + 1, dim))
    }
    // the ANN builds' 4096-row samples at dim 64 train locally
    assert(trainsLocally(4096, 64))
    // an explicit sample above the budget trains distributed: the
    // driver receives a small fraction of the rows × dim doubles a
    // collect would ship
    val wide = wideFrame(1100)
    assert(!trainsLocally(1100, 1024))
    val (shipped, _) = resultBytesAndJobs(Similarity.pqTrain(wide, "vec_id",
      "embedding", m = 32, ks = 2, maxIter = 2, trainSampleN = 1100))
    assert(shipped < 1100L * 1024 * 8 / 4,
      s"$shipped result bytes: the training set was collected")
    // a sample inside the budget is collected, in its one job: no count
    // or dim probe runs before it
    val (collected, jobs) = resultBytesAndJobs(Similarity.pqTrain(wide,
      "vec_id", "embedding", m = 32, ks = 2, maxIter = 2,
      trainSampleN = 512))
    assert(collected >= 512L * 1024 * 8 / 2, s"$collected result bytes")
    assert(jobs == 1, s"$jobs jobs for a sample that fits")
  }

  test("Lloyd training leaves nothing pinned, on either executor") {
    val e = sf0001Embeddings
    val wide = wideFrame(1100) // 1100 × 1024 doubles: distributed
    val before = spark.sparkContext.getPersistentRDDs.keySet
    Similarity.pqTrain(e, "vec_id", "embedding", m = 8, ks = 8)
    Similarity.kmeansFit(e, "vec_id", "embedding", k = 4, maxIter = 3)
      .collect()
    Similarity.pqTrain(wide, "vec_id", "embedding", m = 32, ks = 2,
      maxIter = 2, trainSampleN = 0)
    Similarity.kmeansFit(wide, "vec_id", "embedding", k = 2, maxIter = 2,
      trainSampleN = 0).collect()
    assert(spark.sparkContext.getPersistentRDDs.keySet == before)
  }

  test("LSH near-dup pairs == exact pairs restricted to shared buckets") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val planes = Similarity.randomHyperplanes(nPlanes = 8, dim = 64)
    val lsh = Similarity.lshNearDupPairs(e, "vec_id", "embedding", planes, 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = Similarity.nearDupPairs(e, "vec_id", "embedding", 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val buckets = e.select(col("vec_id"),
        Similarity.rpLshBucket(col("embedding"), planes).as("b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(lsh.subsetOf(exact), "LSH must never invent pairs")
    assert(lsh == exact.filter { case (a, b) => buckets(a) == buckets(b) },
      "LSH must find every exact pair that shares a bucket")
    assert(lsh.nonEmpty, "bucketing lost all near-dup pairs")
  }

  test("IVF with all partitions probed equals brute force exactly") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = e.where(col("vec_id") < 5)
    val bf = Similarity.bruteForceTopK(e, q, "vec_id", "embedding", 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val ivf = Similarity.ivfTopK(e, q, "vec_id", "embedding", "label", 5, nProbe = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(bf == ivf)
    assert(bf.size == 25)
  }

  test("IVF with fewer probes returns k ranked results from probed subset") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = e.where(col("vec_id") < 3)
    val got = Similarity.ivfTopK(e, q, "vec_id", "embedding", "label", 5, nProbe = 3)
    val rows = got.collect()
    assert(rows.length == 15) // 3 queries × k=5
    assert(rows.map(r => r.getInt(2)).toSet == Set(1, 2, 3, 4, 5) ||
      rows.groupBy(_.getLong(0)).values.forall(_.map(_.getInt(2)).sorted.toSeq == Seq(1, 2, 3, 4, 5)))
  }

  test("probeRecallCurve == per-depth re-executed recall, at every depth") {
    // the one-pass identity (containment ⇔ retrieval under exact
    // in-subset ranking) checked against the definitionally-correct
    // form: actually run ivfTopK at each depth and intersect with
    // the exact top-k
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = e.where(col("vec_id") < 6)
    val index = Similarity.centroids(e, "label", "embedding")
    val assigned = e.select(col("vec_id"), col("label").cast("long").as("part"))
    val k = 5
    val curve = Similarity.probeRecallCurve(e, assigned, index, q,
        "vec_id", "embedding", k, maxProbe = 10)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(3))).toMap
    val exact = Similarity.bruteForceTopK(e, q, "vec_id", "embedding", k)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    for (p <- 1 to 10) {
      val served = Similarity.ivfTopK(e, q, "vec_id", "embedding", "label",
          k, nProbe = p)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val hits = (served intersect exact).size.toLong
      assert(curve(p.toLong)._1 == hits,
        s"depth $p: curve says ${curve(p.toLong)._1}, re-execution says $hits")
      assert(curve(p.toLong)._2 == 10000L * hits / exact.size)
    }
    // monotone by construction; probing ALL 10 label partitions is
    // brute force, so the curve must END at full recall
    assert(curve(10L)._2 == 10000L)
    val curveDf = Similarity.probeRecallCurve(e, assigned, index, q,
      "vec_id", "embedding", k, maxProbe = 10)
    // chooseProbe: smallest qualifying depth; unreachable target is loud
    val minHit = Similarity.chooseProbe(curveDf, targetRecallE4 = 10000L)
    assert(minHit.isDefined)
    assert(minHit.get == 1 || curve(minHit.get.toLong - 1L)._2 < 10000L)
    assert(Similarity.chooseProbe(curveDf, targetRecallE4 = 10001L).isEmpty)
  }

  test("probeRecallCurve: possible is the actual ground truth, not |q|·k") {
    import spark.implicits._
    // corpus of 4 vectors with k=5: each query has only 3 eligible
    // neighbors, so possible = 4·3 = 12 — and probing BOTH partitions
    // retrieves everything, so full recall must read 10000 and
    // chooseProbe must find it (the |q|·k denominator would cap the
    // curve at 12/20 forever)
    val e = Seq(
      (0L, Seq(1.0f, 0.0f)), (1L, Seq(0.9f, 0.1f)),
      (2L, Seq(0.1f, 0.9f)), (3L, Seq(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val assigned = e.select(col("vec_id"),
      (col("vec_id") / 2).cast("long").as("part"))
    val index = Seq((0L, Seq(1.0, 0.0)), (1L, Seq(0.0, 1.0)))
      .toDF("part", "centroid")
    val curve = Similarity.probeRecallCurve(e, assigned, index, e,
        "vec_id", "embedding", k = 5, maxProbe = 2)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(curve(2L) == ((12L, 12L, 10000L)))
    assert(curve(1L)._2 == 12L && curve(1L)._3 < 10000L)
    val again = Similarity.probeRecallCurve(e, assigned, index, e,
      "vec_id", "embedding", k = 5, maxProbe = 2)
    assert(Similarity.chooseProbe(again, targetRecallE4 = 10000L)
      .contains(2))
  }

  test("stamped operating point: chooseProbe's depth travels with the " +
      "store and is the serve default") {
    import spark.implicits._
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = e.where(col("vec_id") < 6)
    val index = Similarity.centroids(e, "label", "embedding")
    val assigned = e.select(col("vec_id"),
      col("label").cast("long").as("part"))
    val store = java.nio.file.Files
      .createTempDirectory("stamped_store").toString + "/store"
    Similarity.writeIvfCorpus(e, assigned, "vec_id", store)
    // unstamped store + default depth must be LOUD, never a silent
    // magic number
    intercept[IllegalArgumentException] {
      Similarity.ivfTopKFromStore(store, index, q, "vec_id", "embedding",
        k = 5)
    }
    val curve = Similarity.probeRecallCurve(e, assigned, index, q,
      "vec_id", "embedding", k = 5, maxProbe = 10)
    val target = 9000L
    val stamped = Similarity.stampOperatingPoint(spark, store, curve,
      target)
    // the stamp IS the curve's argmin depth clearing the target
    assert(Similarity.chooseProbe(curve, target).contains(stamped))
    assert(Similarity.loadOperatingPoint(spark, store)
      .contains((target, stamped)))
    // default serve ≡ explicit serve at the stamped depth
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(key(Similarity.ivfTopKFromStore(store, index, q, "vec_id",
        "embedding", k = 5)) ==
      key(Similarity.ivfTopKFromStore(store, index, q, "vec_id",
        "embedding", k = 5, nProbe = stamped)))
    // an unreachable target never stamps a pessimal point silently
    intercept[IllegalArgumentException] {
      Similarity.stampOperatingPoint(spark, store, curve, 10001L)
    }
  }

  test("PQ operating grid: honest per-cell recall, supplied-truth seam, " +
      "cheapest-first stamp, stamped default serve") {
    import spark.implicits._
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = e.where(col("vec_id") < 6)
    val index = Similarity.centroids(e, "label", "embedding")
    val assigned = e.select(col("vec_id"),
      col("label").cast("long").as("part"))
    val l2 = Similarity.l2Score()
    val cb = Similarity.pqTrain(e, "vec_id", "embedding", m = 8, ks = 8,
      dotFn = l2)
    val store = java.nio.file.Files
      .createTempDirectory("pq_stamped").toString + "/store"
    Similarity.writeIvfPqCorpus(e, assigned, "vec_id", "embedding", cb,
      store, l2)
    // both sentinels against an unstamped store: loud
    intercept[IllegalArgumentException] {
      Similarity.ivfPqTopKFromStore(store, index, q, "vec_id",
        "embedding", cb, k = 5)
    }
    // overriding one lever without the other: loud (calibrated jointly)
    intercept[IllegalArgumentException] {
      Similarity.ivfPqTopKFromStore(store, index, q, "vec_id",
        "embedding", cb, k = 5, nProbe = 3)
    }
    val n = e.count().toInt
    val grid = Similarity.pqOperatingGrid(store, index, e, q, "vec_id",
      "embedding", cb, k = 5, probeDepths = Seq(2, 10),
      candidateCounts = Seq(5, n))
    val cells = grid.collect().map(r => (r.getLong(0), r.getLong(1)) ->
      (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    // the supplied-truth seam: feeding the caller's own exact pass back
    // in yields the IDENTICAL grid (the "pay the baseline once"
    // contract); the carried rank column is ignored by the grid
    val fromTruth = Similarity.pqOperatingGridFromTruth(store, index,
        Similarity.bruteForceTopK(e, q, "vec_id", "embedding", k = 5),
        q, "vec_id", "embedding", cb, k = 5, probeDepths = Seq(2, 10),
        candidateCounts = Seq(5, n))
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(fromTruth == cells)
    // every cell is an honest re-execution: the full-probe full-
    // shortlist corner IS brute force (recall 10000), and each cell's
    // hits equal the directly re-served intersection
    assert(cells((10L, n.toLong))._3 == 10000L)
    val truth = Similarity.bruteForceTopK(e, q, "vec_id", "embedding",
        k = 5).select(col("query_id"), col("neighbor_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    for (((p, c), (hits, possible, _)) <- cells) {
      val served = Similarity.ivfPqTopKFromStore(store, index, q,
          "vec_id", "embedding", cb, k = 5, nProbe = p.toInt,
          candidates = c.toInt)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert((served intersect truth).size.toLong == hits,
        s"cell ($p,$c)")
      assert(possible == truth.size.toLong)
    }
    // the stamp: smallest probe clearing the target, then smallest
    // shortlist at that depth — and the default serve equals the
    // explicit serve at the stamped point
    val target = cells.values.map(_._3).min // reachable by construction
    val (sp, sc) = Similarity.stampPqOperatingPoint(spark, store, grid,
      target)
    val qualifying = cells.filter(_._2._3 >= target).keys
    assert((sp.toLong, sc.toLong) == qualifying.min)
    assert(Similarity.loadPqOperatingPoint(spark, store)
      .contains((target, sp, sc)))
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(key(Similarity.ivfPqTopKFromStore(store, index, q, "vec_id",
        "embedding", cb, k = 5)) ==
      key(Similarity.ivfPqTopKFromStore(store, index, q, "vec_id",
        "embedding", cb, k = 5, nProbe = sp, candidates = sc)))
    // unreachable target never stamps
    intercept[IllegalArgumentException] {
      Similarity.stampPqOperatingPoint(spark, store, grid, 10001L)
    }
  }

  test("hybridRerank: cosine order within candidates only, carried cols kept") {
    import spark.implicits._
    // candidates for one query: docs 1, 2, 3 (doc 4 deliberately NOT
    // a candidate even though its vector is the query itself)
    val cands = Seq(("q1", 1L, 100L), ("q1", 2L, 90L), ("q1", 3L, 80L))
      .toDF("query_id", "doc_id", "score_e6")
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(0.0f, 1.0f)),
      (3L, Array(0.7f, 0.7f)), (4L, Array(0.0f, 1.0f)))
      .toDF("doc_id", "embedding")
    val qv = Seq(("q1", Array(0.0f, 1.0f))).toDF("query_id", "embedding")
    val got = Similarity.hybridRerank(cands, vecs, qv,
        "query_id", "doc_id", "embedding", k = 2)
      .select(col("rank"), col("doc_id"), col("score_e6"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
    // cosine flips bm25's order: doc 2 (sim 1.0) > doc 3 (0.7) > doc 1
    // (0.0); doc 4 never appears (not recalled); score_e6 carried
    assert(got == Set((1, 2L, 90L), (2, 3L, 80L)), s"got $got")
  }

  test("labelOutliers matches a BigInt brute-force replica and finds the plant") {
    val rnd = new scala.util.Random(7)
    // two tight clusters + one planted far point per label
    val rows = (0 until 2).flatMap { lab =>
      val base = Array.fill(4)(if (lab == 0) 0.1f else -0.2f)
      val members = (0 until 9).map { i =>
        (lab * 100L + i, base.map(v => v + rnd.nextFloat() * 0.01f), lab)
      }
      members :+ ((lab * 100L + 99, Array.fill(4)(3f), lab))
    }
    val df = rows.toDF("vec_id", "embedding", "label")
    val got = Similarity.labelOutliers(df, "vec_id", "embedding", "label", 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), BigInt(r.getString(2))))
    // replica: e6-round, per-label sums, d2 = Σ (n·x − s)²
    val exp = rows.groupBy(_._3).flatMap { case (lab, ms) =>
      val xe6 = ms.map { case (id, v, _) =>
        id -> v.map(x => BigInt(math.round(x.toDouble * 1000000))) }
      val n = BigInt(ms.size)
      val s = xe6.map(_._2).transpose.map(_.sum)
      xe6.map { case (id, v) =>
        (lab.toLong, id, v.zip(s).map { case (x, si) =>
          (n * x - si).pow(2) }.sum)
      }.sortBy(t => (-t._3, t._2)).take(3)
    }.toSet
    assert(got.toSet == exp, s"got ${got.toSeq.sortBy(_._1)}")
    // the planted point is each label's top outlier
    val top = got.groupBy(_._1).map { case (l, g) => l -> g.maxBy(_._3)._2 }
    assert(top == Map(0L -> 99L, 1L -> 199L))
  }

  test("IVF refit trigger: fires past the drift threshold, holds under it") {
    import org.apache.spark.sql.functions.{col, lit}
    val spark2 = spark
    import spark2.implicits._
    // a 2-part store whose partition means are (1,0) and (0,1)
    val store = Seq(
      (1L, Array(1.0f, 0.0f), 0L), (2L, Array(1.0f, 0.0f), 0L),
      (3L, Array(0.0f, 1.0f), 1L), (4L, Array(0.0f, 1.0f), 1L))
      .toDF("vec_id", "embedding", "part")
    def index(c0: (Double, Double)) = Seq(
      (0L, Seq(c0._1, c0._2)), (1L, Seq(0.0, 1.0)))
      .toDF("part", "centroid")
    // stale index: part 0's centroid sits at (0.6, 0.8) — drift 0.4
    val staleIdx = index((0.6, 0.8))
    val drifts = Similarity.ivfDrift(store, staleIdx, "embedding")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(math.abs(drifts(0L) - math.sqrt(0.16 + 0.64)) < 1e-12)
    assert(drifts(1L) == 0.0)
    // threshold below the drift: FIRES, index refreshes to the means
    val (refit, fired) =
      Similarity.refitIvfIndex(store, staleIdx, "embedding", 0.5)
    assert(fired)
    val got = refit.collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(got == Map(0L -> Seq(1.0, 0.0), 1L -> Seq(0.0, 1.0)))
    // threshold above the drift: HOLDS, the same index comes back
    val (held, fired2) =
      Similarity.refitIvfIndex(store, staleIdx, "embedding", 1.0)
    assert(!fired2 && (held eq staleIdx))
    // and the refreshed index itself holds at any positive threshold
    val (_, fired3) =
      Similarity.refitIvfIndex(store, refit, "embedding", 1e-9)
    assert(!fired3)
  }

  test("nearDupPairsKernel: the driver collect fails loud past maxRows") {
    val df = Seq((1L, Array(1.0f, 0.0f)), (2L, Array(1.0f, 0.0f)),
      (3L, Array(0.0f, 1.0f))).toDF("vec_id", "embedding")
    val ex = intercept[IllegalArgumentException] {
      Similarity.nearDupPairsKernel(df, "vec_id", "embedding",
        threshold = 0.9, maxRows = 2).collect()
    }
    // the error names the bucketed scale paths
    assert(ex.getMessage.contains("lshNearDupPairs"))
    // under the bound the kernel still answers exactly
    val ok = Similarity.nearDupPairsKernel(df, "vec_id", "embedding",
      threshold = 0.9, maxRows = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ok == Set((1L, 2L)))
  }
}
