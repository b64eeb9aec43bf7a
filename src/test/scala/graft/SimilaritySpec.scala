package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.DotProduct
import graft.operators.Similarity

/** SURVEY.md §2b similarity search: codegen dot product, brute-force
  * top-k, LSH-bucketed ANN, cosine near-dup.
  */
class SimilaritySpec extends AnyFunSuite with SparkSuite {

  test("dot_f rejects non-numeric-vector arrays at analysis time") {
    import spark.implicits._
    val df = Seq((Seq(1L, 2L), Seq("x", "y"))).toDF("a", "b")
    // the wrong element width would silently read garbage from
    // UnsafeArrayData without the type check — must fail analysis instead
    intercept[org.apache.spark.sql.AnalysisException] {
      df.select(DotProduct.dot_f(col("a"), col("a"))).collect()
    }
    intercept[org.apache.spark.sql.AnalysisException] {
      df.select(DotProduct.dot_f(col("b"), col("b"))).collect()
    }
  }

  test("dot_f on mixed float/double sides widens floats exactly") {
    import spark.implicits._
    val a = Seq(0.1f, -0.2f, 0.3f)
    val c = Seq(0.7, 0.5, -0.25) // a double centroid, as in k-means serving
    val expected = a.zip(c).foldLeft(0.0) { case (acc, (x, y)) => acc + x.toDouble * y }
    val got = Seq((a, c)).toDF("a", "c")
      .select(DotProduct.dot_f(col("a"), col("c")).as("d")).as[Double].head()
    assert(got == expected)
  }

  test("dot_f equals a strict left-to-right double fold") {
    import spark.implicits._
    val a = Seq(0.1f, -0.2f, 0.3f, 1e-8f)
    val b = Seq(0.7f, 0.5f, -0.25f, 1e8f)
    val expected = a.zip(b).foldLeft(0.0) { case (acc, (x, y)) => acc + x.toDouble * y.toDouble }
    val got = Seq((a, b)).toDF("a", "b")
      .select(DotProduct.dot_f(col("a"), col("b")).as("d")).as[Double].head()
    assert(got == expected) // bit-exact, not approx
  }

  test("dot_l: exact integer dot; rejects non-bigint arrays; agrees with the declarative fold") {
    import spark.implicits._
    val a = Seq(127L, -114L, 0L, 63L)
    val b = Seq(127L, 114L, -5L, 2L)
    val df = Seq((a, b)).toDF("a", "b")
    assert(df.select(DotProduct.dot_l(col("a"), col("b")).as("d")).as[Long].head()
      == a.zip(b).map { case (x, y) => x * y }.sum)
    // same value as the interpreted spelling it replaces
    assert(df.select(DotProduct.dot_l(col("a"), col("b")).as("d")).as[Long].head()
      == df.select(expr("aggregate(zip_with(a, b, (x, y) -> x * y), 0L, (s, x) -> s + x)").as("d"))
        .as[Long].head())
    intercept[org.apache.spark.sql.AnalysisException] {
      Seq((Seq(0.5, 1.0), 1)).toDF("c", "z")
        .select(DotProduct.dot_l(col("c"), col("c"))).collect()
    }
    intercept[Exception] { // dimension mismatch must fail, not truncate
      Seq((Seq(1L, 2L), Seq(1L))).toDF("a", "b")
        .select(DotProduct.dot_l(col("a"), col("b"))).collect()
    }
  }

  // unit-ish vectors in 4-d: 10/11 near-identical, 12 orthogonal, 13 opposite
  private lazy val dir = TestTables.embeddingsDir(spark, Seq(
    10L -> Seq(1f, 0f, 0f, 0f),
    11L -> Seq(0.999f, 0.04f, 0f, 0f),
    12L -> Seq(0f, 1f, 0f, 0f),
    13L -> Seq(-1f, 0f, 0f, 0f)))

  test("bruteForceTopK ranks by similarity with deterministic tie-break") {
    val rows = Similarity.bruteForceTopK(spark, dir, k = 3, queryMod = 10).collect()
    val forQ10 = rows.filter(_.getLong(0) == 10L).sortBy(_.getInt(1))
    assert(forQ10.map(_.getLong(2)).toSeq == Seq(11L, 12L, 13L)) // near, orthogonal, opposite
    assert(forQ10.head.getDouble(3) > 0.99)
    assert(forQ10.last.getDouble(3) == -1.0)
  }

  test("bucketedTopK only pairs vectors in the same sign bucket") {
    val rows = Similarity.bucketedTopK(spark, dir, k = 3, bits = 4).collect()
    // vec 13 (negative first dim) shares no bucket with 10/11; 12 differs in dims 1-2 signs?
    // sign(+)=1 for dim>=0: 10,11 -> bucket 1111...; 12 -> also all >= 0; 13 -> dim1 negative
    val qids = rows.map(_.getLong(0)).toSet
    assert(!qids.contains(13L)) // alone in its bucket => no neighbors
    val n10 = rows.filter(_.getLong(0) == 10L).map(_.getLong(2)).toSet
    assert(n10 == Set(11L, 12L)) // same bucket (all non-negative dims)
  }

  test("rankFusion fuses lexical and vector ranks by RRF; missing-leg docs keep their one term") {
    // shingles: 10 = {a b c, b c d}; 11 shares both; 12 shares {b c d}; 13 none
    val fdir = TestTables.corpusDir(spark,
      docs = Seq(10L -> "a b c d", 11L -> "a b c d e", 12L -> "b c d f", 13L -> "p q r s"),
      vecs = Seq(
        10L -> Seq(1f, 0f, 0f, 0f),
        11L -> Seq(0f, 1f, 0f, 0f),
        12L -> Seq(0.7f, 0.7f, 0f, 0f),
        13L -> Seq(1f, 0f, 0f, 0f)))
    val rows = Similarity.rankFusion(spark, fdir, kLeg = 3, k = 3, queryMod = 10).collect()
    val q10 = rows.filter(_.getLong(0) == 10L).sortBy(_.getInt(1))
    // lexical ranks for q10: 11 (overlap 2), 12 (overlap 1); 13 shares no shingle
    // vector ranks for q10: 13 (sim 1.0), 12 (0.7), 11 (0.0)
    // rrf: 11 = 1/61 + 1/63; 12 = 1/62 + 1/62; 13 = 1/61 (vector term only)
    assert(q10.map(_.getLong(2)).toSeq == Seq(11L, 12L, 13L))
    assert(q10.map(_.getDouble(3)).toSeq == Seq(0.032266, 0.032258, 0.016393))
  }

  test("hammingTopK: signature pass prunes to Hamming candidates; exact re-rank orders them") {
    val hdir = TestTables.embeddingsDir(spark, Seq(
      10L -> Seq(1f, -1f, 1f, -1f), // signature 0101 = 5
      11L -> Seq(1f, -1f, 1f, 1f),  // 1101 = 13, hamming 1
      12L -> Seq(-1f, 1f, -1f, 1f), // 1010 = 10, hamming 4 — pruned
      13L -> Seq(1f, 1f, 1f, -1f))) // 0111 = 7,  hamming 1
    val rows = Similarity.hammingTopK(
      spark, hdir, candidates = 2, k = 2, queryMod = 10, dim = 4).collect()
    val q10 = rows.filter(_.getLong(0) == 10L).sortBy(_.getInt(1))
    // candidates are 11 and 13 (distance 1 each); 12 never reaches re-rank
    // exact re-rank: dot(10,11) == dot(10,13) == 2.0 — tie to the lower cid
    assert(q10.map(_.getLong(2)).toSeq == Seq(11L, 13L))
    assert(q10.map(_.getDouble(3)).toSeq == Seq(2.0, 2.0))
  }

  test("persisted sign index: probe equals in-memory hammingTopK; wrong-width queries refused") {
    val hdir = TestTables.embeddingsDir(spark, Seq(
      10L -> Seq(1f, -1f, 1f, -1f),
      11L -> Seq(1f, -1f, 1f, 1f),
      12L -> Seq(-1f, 1f, -1f, 1f),
      13L -> Seq(1f, 1f, 1f, -1f)))
    val idxPath = s"$hdir/sign-index"
    Similarity.writeSignIndex(spark, hdir, idxPath, dim = 4)
    val queries = graft.operators.Tables.embeddings(spark, hdir)
      .filter(col("vec_id") % 10 === 0)
    val fromIndex = Similarity.hammingTopKFromIndex(
      spark, idxPath, hdir, queries, candidates = 2, k = 2).collect()
    val inMemory = Similarity.hammingTopK(
      spark, hdir, candidates = 2, k = 2, queryMod = 10, dim = 4).collect()
    assert(fromIndex.map(_.toSeq).toSeq == inMemory.map(_.toSeq).toSeq)
    // a query batch whose vectors do not match the packed layout is
    // refused, not silently mis-ranked against the wrong bit positions
    val wide = graft.operators.Tables.embeddings(spark,
      TestTables.embeddingsDir(spark, Seq(10L -> Seq.fill(8)(1f))))
    val e = intercept[IllegalArgumentException] {
      Similarity.hammingTopKFromIndex(spark, idxPath, hdir, wide)
    }
    assert(e.getMessage.contains("does not match the index's packed dim"))
  }

  test("cosineNearDup returns ordered pairs above threshold") {
    val rows = Similarity.cosineNearDup(spark, dir, threshold = 0.9, bits = 2).collect()
    val pairs = rows.map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(pairs == Seq((10L, 11L)))
    rows.foreach(r => assert(r.getLong(0) < r.getLong(1)))
  }

  test("ivfTopK on harness data: ranks ordered, self excluded, nonempty") {
    val rows = Similarity.ivfTopK(spark, "/root/testdata/sf0.001").collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getLong(0)).foreach { case (qid, g) =>
      assert(g.map(_.getInt(1)).sorted.toSeq == (1 to g.length))
      g.foreach(r => assert(r.getLong(2) != qid))
    }
  }

  test("kmeansCentroids: two Lloyd iterations reach the analytic fixpoint") {
    // 4-d corpus: ids 0,1 seed the centroids; 2 is near 0; 3 is opposite 0
    val kdir = TestTables.embeddingsDir(spark, Seq(
      0L -> Seq(1f, 0f, 0f, 0f),
      1L -> Seq(0f, 1f, 0f, 0f),
      2L -> Seq(0.9f, 0.1f, 0f, 0f),
      3L -> Seq(-1f, 0f, 0f, 0f)))
    val got = Similarity.kmeansCentroids(spark, kdir, k = 2, iters = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(got.size == 2 * 4)
    // iteration 1: cells {0,2} and {1,3}; iteration 2 re-derives the same
    // cells from the new centroids, so the means are the fixpoint
    val c0 = Seq((1f.toDouble + 0.9f.toDouble) / 2, (0f.toDouble + 0.1f.toDouble) / 2, 0.0, 0.0)
    val c1 = Seq(-0.5, 0.5, 0.0, 0.0)
    (1 to 4).foreach { d =>
      assert(got((0L, d.toLong)) == c0(d - 1), s"c0 dim $d")
      assert(got((1L, d.toLong)) == c1(d - 1), s"c1 dim $d")
    }
  }

  test("embeddingDrift: hand-computed exact integer shift on a 4-vector parity split") {
    // A (even ids): q-vectors (127, 0) and (64, -63); B (odd ids):
    // (0, 127) and (-63, 64). Per dim: sum_a=(191, -63), sum_b=(-63, 191),
    // n_a = n_b = 2 -> numer = sum_a*2 - sum_b*2.
    val ddir = TestTables.embeddingsDir(spark, Seq(
      0L -> Seq(1.0f, 0.0f), 2L -> Seq(0.5f, -0.5f),
      1L -> Seq(0.0f, 1.0f), 3L -> Seq(-0.5f, 0.5f)))
    val rows = Similarity.embeddingDrift(spark, ddir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getDouble(6))))
      .toMap
    // floor(0.5*127 + 0.5) = floor(64) = 64; floor(-63.0) = -63? No:
    // -0.5*127 + 0.5 = -63.0 exactly -> floor = -63
    assert(rows(1L) == ((2L, 2L, 191L, -63L, (191L + 63L) * 2, (191.0 + 63.0) * 2 / 4.0)))
    assert(rows(2L) == ((2L, 2L, -63L, 191L, (-63L - 191L) * 2, (-63.0 - 191.0) * 2 / 4.0)))
  }

  test("kmeansCentroids: production sum spelling agrees with the ordered-fold oracle spelling") {
    // same seeds, same assignment, same cells — the two mean spellings
    // differ only by FP summation order, so centroids agree to ~1 ulp
    // per added term; 1e-12 relative is generous for sf0.001 cell sizes.
    // the ORACLE mode is the explicit opt-in; the default is production
    val sfDir = "/root/testdata/sf0.001"
    val exact = Similarity.kmeansCentroids(spark, sfDir, k = 4, iters = 2, exactMeans = true)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val prod = Similarity.kmeansCentroids(spark, sfDir, k = 4, iters = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(exact.keySet == prod.keySet && exact.nonEmpty)
    exact.foreach { case (key, v) =>
      assert(math.abs(prod(key) - v) <= 1e-12 * math.max(1.0, math.abs(v)), s"$key: ${prod(key)} vs $v")
    }
  }

  test("annRecall: queries the index returns nothing for survive with recall 0") {
    // every vector its own centroid (nCentroids = corpus size) -> the
    // IVF index returns NO neighbors; exact top-k exists, so the
    // left-join zero path must report the query with hits = 0.
    // Fixture ids are 0..3: the seed contract now REQUIRES vec_id
    // 0..n-1 to be present — a short or re-keyed corpus REFUSES instead
    // of silently seeding fewer (or wrongly-numbered) cells, which is
    // exactly what the old shared 10..13-keyed fixture exploited
    val soloDir = TestTables.embeddingsDir(spark, Seq(
      0L -> Seq(1f, 0f, 0f, 0f),
      1L -> Seq(0.999f, 0.04f, 0f, 0f),
      2L -> Seq(0f, 1f, 0f, 0f),
      3L -> Seq(-1f, 0f, 0f, 0f)))
    val rows = Similarity.annRecall(spark, soloDir, nCentroids = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(rows.toSeq == Seq((0L, 0L, 0.0)))
    // the refusal itself: the old sparse-id fixture is now rejected
    val e = intercept[IllegalArgumentException] {
      Similarity.annRecall(spark, dir, nCentroids = 4).collect()
    }
    assert(e.getMessage.contains("seed rows"))
  }

  test("hardNegatives excludes same-label vectors even when they are nearest") {
    // qid 10 (label 1): its nearest neighbor 11 shares the label and must
    // never appear; the best DIFFERENT-label vectors are 12 then 13
    val ldir = TestTables.embeddingsLabeledDir(spark, Seq(
      (10L, Seq(1f, 0f, 0f, 0f), 1),
      (11L, Seq(0.999f, 0.04f, 0f, 0f), 1),
      (12L, Seq(0.9f, 0.1f, 0f, 0f), 2),
      (13L, Seq(-1f, 0f, 0f, 0f), 2)))
    val rows = Similarity.hardNegatives(spark, ldir, k = 3, queryMod = 5).collect()
    val forQ10 = rows.filter(_.getLong(0) == 10L).sortBy(_.getInt(1))
    assert(forQ10.map(_.getLong(2)).toSeq == Seq(12L, 13L)) // 11 excluded, only 2 negatives exist
    assert(forQ10.head.getDouble(3) > 0.89)
  }

  test("TopKExpression matches sort-and-take under any update/merge split") {
    val rnd = new scala.util.Random(42)
    for (_ <- 1 to 100) {
      val k = 1 + rnd.nextInt(6)
      val agg = new TopKKernel(k)
      val n = rnd.nextInt(40)
      // coarse sims force tie-breaks; small cid range forces duplicates
      val entries = Seq.fill(n)((rnd.nextInt(5) / 4.0, rnd.nextInt(20).toLong))
      val expected = entries
        .sortWith((a, b) => if (a._1 == b._1) a._2 < b._2 else a._1 > b._1)
        .take(k)
      val (l, r) = entries.splitAt(if (n == 0) 0 else rnd.nextInt(n + 1))
      assert(agg.entries(agg.merge(agg.fold(l), agg.fold(r))) == expected)
    }
  }

  test("brute force on harness data: ranks strictly ordered, self excluded") {
    val sfDir = "/root/testdata/sf0.001"
    val rows = Similarity.bruteForceTopK(spark, sfDir, k = 5, queryMod = 50).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getLong(0)).foreach { case (qid, g) =>
      assert(g.map(_.getInt(1)).sorted.toSeq == (1 to g.length))
      g.foreach(r => assert(r.getLong(2) != qid))
      // sims non-increasing by rank
      val byRank = g.sortBy(_.getInt(1)).map(_.getDouble(3))
      assert(byRank.zip(byRank.tail).forall { case (x, y) => x >= y })
    }
  }

  test("multi-probe IVF: monotone in nprobe, equals brute force at nprobe = nCentroids") {
    val sfDir = "/root/testdata/sf0.001"
    def hits(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val exact = hits(Similarity.bruteForceTopK(spark, sfDir, k = 3, queryMod = 25))
    val p1 = hits(Similarity.ivfTopK(spark, sfDir, k = 3, queryMod = Some(25), nprobe = 1))
    val p4 = hits(Similarity.ivfTopK(spark, sfDir, k = 3, queryMod = Some(25), nprobe = 4))
    val pAll = hits(Similarity.ivfTopK(spark, sfDir, k = 3, queryMod = Some(25), nprobe = 16))
    // probing every cell IS brute force (same scores, same tie-breaks)
    assert(pAll == exact)
    // recall against ground truth is monotone in nprobe
    assert((p1 & exact).size <= (p4 & exact).size)
    assert((p4 & exact).size <= (pAll & exact).size)
  }

  test("ivfPqTopK (x176): equals pqTopK at full probe, ADC recall monotone in nprobe") {
    val sfDir = "/root/testdata/sf0.001"
    def rows(df: org.apache.spark.sql.DataFrame): Seq[(Long, Int, Long, Long)] =
      df.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSeq
    // probing every cell makes the coarse quantizer a no-op: the composite
    // must reproduce pqTopK row for row (same ADC distances, same ties)
    val full = rows(Similarity.ivfPqTopK(spark, sfDir, k = 3, nCentroids = 16,
      queryMod = 25, nprobe = 16))
    val pq = rows(Similarity.pqTopK(spark, sfDir, k = 3, queryMod = 25))
    assert(full == pq)
    // recall against the full-probe ADC ranking is monotone in nprobe
    def hits(s: Seq[(Long, Int, Long, Long)]): Set[(Long, Long)] =
      s.map(t => (t._1, t._3)).toSet
    val p1 = hits(rows(Similarity.ivfPqTopK(spark, sfDir, k = 3, nCentroids = 16,
      queryMod = 25, nprobe = 1)))
    val p4 = hits(rows(Similarity.ivfPqTopK(spark, sfDir, k = 3, nCentroids = 16,
      queryMod = 25, nprobe = 4)))
    val truth = hits(full)
    assert((p1 & truth).size <= (p4 & truth).size)
    assert((p4 & truth).size <= truth.size)
    // same query set at every nprobe (fan-out changes candidates, not queries)
    assert(p1.map(_._1) == truth.map(_._1))
  }

  test("ivfPqRecall (x181): equals pqRecall at full probe; bounded and query-stable at nprobe=2") {
    val sfDir = "/root/testdata/sf0.001"
    def m(df: org.apache.spark.sql.DataFrame): Map[Long, Double] =
      df.collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    // full probe makes the coarse restriction a no-op: recall loss is
    // pure coding loss, i.e. exactly pqRecall's number per query
    val full = m(Similarity.ivfPqRecall(spark, sfDir, k = 3, nCentroids = 16,
      queryMod = 25, nprobe = 16))
    val pq = m(Similarity.pqRecall(spark, sfDir, k = 3, queryMod = 25))
    assert(full == pq)
    // at nprobe=2 the cell restriction may add loss but never changes
    // WHICH queries are audited, and recall stays a valid fraction.
    // (No per-query monotonicity law: ADC is approximate, so excluding a
    // cell can evict a coded impostor and RAISE a query's recall.)
    val p2 = m(Similarity.ivfPqRecall(spark, sfDir, k = 3, nCentroids = 16,
      queryMod = 25, nprobe = 2))
    assert(p2.keySet == full.keySet)
    assert(p2.values.forall(r => r >= 0.0 && r <= 1.0))
  }

  test("clusterSeparation (x180): hand-exact margins on a 2-cell fixture; identities on harness data") {
    // k=2, iters=0 keeps the unit seed centroids e_x, e_y; int8 lattice:
    // c0=(127,0,..), c1=(0,127,..), both with ‖c‖² = 127². Margins are
    // the assignment OBJECTIVE (2·qv·c8 − ‖c8‖²) difference — for these
    // equal-norm centroids the norm terms cancel, so each margin is
    // exactly twice the plain-dot difference: v2 -> cell 0 (float
    // argmax), margin = 2·(126·127 − 13·127); v3 -> cell 1,
    // margin = 2·(102·127 − 76·127)
    val dir = TestTables.embeddingsDir(spark, Seq(
      0L -> Seq(1f, 0f, 0f, 0f),
      1L -> Seq(0f, 1f, 0f, 0f),
      2L -> Seq(0.995f, 0.0999f, 0f, 0f),
      3L -> Seq(0.6f, 0.8f, 0f, 0f)))
    val got = Similarity.clusterSeparation(spark, dir, k = 2, iters = 0).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getLong(4))))
      .toMap
    val m0 = 2L * (127L * 127)   // v0: own objective 16129, other -16129
    val m2 = 2L * (126L * 127 - 13 * 127)
    val m3 = 2L * (102L * 127 - 76 * 127)
    assert(got(0L) == ((2L, m0 + m2, (m0 + m2) / 2.0, 0L)))
    assert(got(1L) == ((2L, m0 + m3, (m0 + m3) / 2.0, 0L)))
    // harness identities: every corpus vector in exactly one cell, k rows,
    // misfit share a valid fraction
    val rows = Similarity.clusterSeparation(spark, "/root/testdata/sf0.001").collect()
    assert(rows.length == 8)
    assert(rows.map(_.getLong(1)).sum == 500L)
    rows.filter(_.getLong(1) > 0).foreach { r =>
      val frac = r.getDouble(5)
      assert(frac >= 0.0 && frac <= 1.0)
      assert(r.getLong(4) <= r.getLong(1))
    }
  }

  test("semanticDedup: lowest id per near-dup group kept, cross-cluster dups invisible") {
    val dir = TestTables.embeddingsDir(spark, Seq(
      0L -> Seq(1f, 0f, 0f, 0f),          // seed centroid 0
      1L -> Seq(0f, 1f, 0f, 0f),          // seed centroid 1
      2L -> Seq(1f, 0f, 0f, 0f),          // exact dup of 0 -> dropped
      3L -> Seq(0.995f, 0.0999f, 0f, 0f), // near-dup of 0 AND 2 -> n_dups 2
      4L -> Seq(0f, 0.995f, 0.0999f, 0f), // near-dup of 1 in cluster 1
      5L -> Seq(0.7f, 0.7f, 0f, 0f)))     // cluster 0 via tie, similar to nobody
    val got = Similarity.semanticDedup(spark, dir, k = 2, iters = 1, threshold = 0.9)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getBoolean(3)))).toMap
    assert(got(0L) == ((0L, 0L, true)) && got(1L) == ((1L, 0L, true)))
    assert(got(2L) == ((0L, 1L, false)))  // one lower-id partner (0)
    assert(got(3L)._2 == 2L && !got(3L)._3) // partners 0 and 2
    assert(got(4L) == ((1L, 1L, false)))  // partner 1, in the OTHER cluster
    assert(got(5L) == ((0L, 0L, true)))   // shares a cluster, below threshold
  }

  test("centroidSim: each vector scored against its own trained centroid") {
    // iters = 0 keeps the seed centroids: scores are plain dot products
    val dir = TestTables.embeddingsDir(spark, Seq(
      0L -> Seq(1f, 0f), 1L -> Seq(0f, 1f),
      2L -> Seq(0.6f, 0.8f))) // nearer the y-axis centroid
    val got = Similarity.centroidSim(spark, dir, k = 2, iters = 0).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(got(0L) == ((0L, 1.0)) && got(1L) == ((1L, 1.0)))
    assert(got(2L)._1 == 1L && math.abs(got(2L)._2 - 0.8) < 1e-9)
  }

  test("persisted IVF index: probe equals the in-memory ivfTopK, nprobe 1 and 2") {
    import org.apache.spark.sql.functions.{col, pmod, lit}
    val dir = "/root/testdata/sf0.001"
    val indexPath = "/tmp/graft-test-ivf-index"
    Similarity.writeIvfIndex(spark, dir, indexPath, nCentroids = 16)
    val queries = graft.operators.Tables.embeddings(spark, dir)
      .filter(pmod(col("vec_id"), lit(7)) === 0)
      .select("vec_id", "embedding")
    for (np <- Seq(1, 2)) {
      val expect = Similarity.ivfTopK(spark, dir, k = 3, nCentroids = 16,
        queryMod = Some(7), nprobe = np).collect().map(_.toString).toSeq
      val got = Similarity.ivfTopKFromIndex(spark, indexPath, queries,
        k = 3, nprobe = np).collect().map(_.toString).toSeq
      assert(got == expect, s"nprobe=$np probe diverged from the in-memory index")
    }
  }

  test("ivfPqTuningSweep (x182): candidates nest in nprobe; full probe IS the full-corpus PQ point") {
    import org.apache.spark.sql.functions.{count, lit, sum}
    val sfDir = "/root/testdata/sf0.001"
    val rows = Similarity.ivfPqTuningSweep(spark, sfDir,
      geometries = Seq((16, 8, 16)), nprobes = Seq(1, 2, 4, 16), k = 3, queryMod = 10)
      .collect()
      .map(r => (r.getInt(3), r.getLong(4), r.getLong(5), r.getLong(6), r.getDouble(7)))
      .sortBy(_._1)
    assert(rows.map(_._1).toSeq == Seq(1, 2, 4, 16))
    // one census for the whole table: the sweep varies the probe width,
    // never WHICH queries are audited
    assert(rows.map(_._2).distinct.length == 1)
    // the structural nesting law (the x143 banding argument): probe sets
    // nest by construction, so scanned-candidate counts strictly rise
    assert(rows.map(_._3).toSeq == rows.map(_._3).sorted.toSeq
      && rows.map(_._3).distinct.length == 4,
      s"candidate counts must strictly nest in nprobe: ${rows.map(_._3).toSeq}")
    // at nprobe = nCentroids the coarse restriction is a no-op: the
    // sweep point reproduces x105's full-corpus PQ recall aggregate,
    // and every query scores every other vector exactly once
    val full = rows.last
    val pr = Similarity.pqRecall(spark, sfDir, k = 3, queryMod = 10)
      .agg(count(lit(1)), sum("hits")).head()
    assert(full._2 == pr.getLong(0) && full._4 == pr.getLong(1),
      s"full-probe sweep point (${full._2}, ${full._4}) must equal the PQ recall aggregate " +
        s"(${pr.getLong(0)}, ${pr.getLong(1)})")
    assert(full._3 == full._2 * 499L,
      "full probe must score |queries| x (|corpus| - 1) candidates")
  }

  test("refinedTuningSweep (x187): costs nest in both knobs; hits monotone in shortlist; the x186 grid point carries x186's hit mass") {
    val sfDir = "/root/testdata/sf0.001"
    val nprobes = Seq(2, 4, 16)
    val shortlists = Seq(8, 32, 499)
    val rows = Similarity.refinedTuningSweep(spark, sfDir, nCentroids = 16,
      nprobes = nprobes, shortlists = shortlists, k = 3, queryMod = 10)
      .collect()
      .map(r => ((r.getInt(0), r.getInt(1)),
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))))
      .toMap
    assert(rows.size == nprobes.length * shortlists.length)
    // one census for the whole table: the sweep varies the serving
    // knobs, never WHICH queries are audited
    val nQ = rows.values.head._1
    assert(rows.values.forall(_._1 == nQ))
    // both sweeps count scanned candidates through one probe plan: at the
    // same (16, 8, 16) geometry x182's per-nprobe census is x187's
    val x182Cands = Similarity.ivfPqTuningSweep(spark, sfDir,
      geometries = Seq((16, 8, 16)), nprobes = nprobes, k = 3, queryMod = 10)
      .collect().map(r => r.getInt(3) -> r.getLong(5)).toMap
    assert(nprobes.map(np => rows((np, shortlists.head))._2) == nprobes.map(x182Cands),
      s"x187 candidate census must equal x182's at the same geometry: $x182Cands")
    // scanned-candidate counts strictly nest in nprobe (probe sets nest)
    // and are flat in shortlist (the refine tail never rescans codes)
    for (sl <- shortlists) {
      val cands = nprobes.map(np => rows((np, sl))._2)
      assert(cands == cands.sorted && cands.distinct.length == nprobes.length,
        s"candidate counts must strictly nest in nprobe at shortlist=$sl: $cands")
    }
    for (np <- nprobes) {
      assert(shortlists.map(sl => rows((np, sl))._2).distinct.length == 1,
        s"candidate counts must not vary with shortlist at nprobe=$np")
      // float fetches: monotone in shortlist, bounded by |queries|·sl
      // (the refine tail's by-construction bound)
      val ffs = shortlists.map(sl => rows((np, sl))._3)
      assert(ffs == ffs.sorted, s"float fetches not monotone at nprobe=$np: $ffs")
      shortlists.zip(ffs).foreach { case (sl, ff) =>
        assert(ff <= nQ * sl, s"float fetches $ff exceed |queries|*$sl at nprobe=$np")
      }
      // hit mass monotone non-decreasing in shortlist: float order IS
      // the truth order, so widening the shortlist can only swap a hit
      // for another hit (x186's displacement argument, per query)
      val hitRow = shortlists.map(sl => rows((np, sl))._4)
      assert(hitRow == hitRow.sorted,
        s"hits not monotone in shortlist at nprobe=$np: $hitRow")
    }
    // the x186 grid point carries exactly x186's hit mass — the table
    // CHOOSES among operating points of the same operator it tabulates
    val exact = Similarity.bruteForceTopK(spark, sfDir, k = 3, queryMod = 10)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val refined = Similarity.ivfPqTopKRefined(spark, sfDir, k = 3, nCentroids = 16,
      queryMod = 10, nprobe = 2, shortlist = 32)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(rows((2, 32))._4 == (refined & exact).size.toLong,
      "the (nprobe=2, shortlist=32) sweep point must carry exactly x186's hit mass")
    // full probe + full shortlist clears both loss terms: recall 1
    assert(rows((16, 499))._4 == nQ * 3,
      s"full-probe full-shortlist point must be exact: ${rows((16, 499))._4} != ${nQ * 3}")
    // and the same exactness holds under the OPQ layout — the refine
    // tail erases the coding geometry entirely once nothing is pruned
    // (the permutation moves only the ADC ranking INSIDE the shortlist)
    val opqFull = Similarity.refinedTuningSweep(spark, sfDir, nCentroids = 16,
      nprobes = Seq(16), shortlists = Seq(499), k = 3, queryMod = 10, opq = true)
      .collect().head
    assert(opqFull.getLong(5) == nQ * 3,
      s"OPQ full-probe full-shortlist point must be exact: ${opqFull.getLong(5)}")
  }

  test("refinedTuningSweep (x187): the float-fetch broadcast guard's no-hint fallback is exact") {
    // r19: the fused fetch relation's broadcast hint rides a measured
    // bound. Force the bound to zero — the planner must fall back to
    // its own (keyed shuffle) strategy — and the table must be
    // bit-identical to the hinted plan's: the guard changes the join
    // STRATEGY, never the relation.
    val sfDir = "/root/testdata/sf0.001"
    val hinted = Similarity.refinedTuningSweep(spark, sfDir, nCentroids = 16,
      nprobes = Seq(2, 4), shortlists = Seq(8, 16), k = 3, queryMod = 10)
      .collect().map(_.toSeq).toSeq
    val unhinted = Similarity.refinedTuningSweep(spark, sfDir, nCentroids = 16,
      nprobes = Seq(2, 4), shortlists = Seq(8, 16), k = 3, queryMod = 10,
      maxFetchBroadcastBytes = 0L)
      .collect().map(_.toSeq).toSeq
    assert(hinted == unhinted,
      s"guarded fallback must reproduce the hinted table exactly:\n$hinted\nvs\n$unhinted")
  }

  test("opqPermutation / pqCodesOpq (x189): valid balanced deal; strongest mutual pair separated; m=1 is permutation-invariant") {
    val sfDir = "/root/testdata/sf0.001"
    val m = 8
    val perm = Similarity.opqPermutation(spark, sfDir, m)
    // a permutation: every dim exactly once (the bijection law)
    assert(perm.sorted == (0 until 64), s"not a permutation: $perm")
    // the deal is exactly balanced by construction: 8 dims per subspace
    // is the layout's shape, not a property to test — but the STRONGEST
    // gram pair must land in different subspaces: its two dims carry the
    // equal (maximal) strength, so they rank adjacently and the
    // round-robin deal splits them
    import spark.implicits.newProductEncoder
    val gram = Similarity.dimGram(spark, sfDir)
      .as[(Int, Int, Long)].collect()
    val (ti, tj, _) = gram.maxBy { case (i, j, g) => (math.abs(g), -i, -j) }
    def subspace(d: Int): Int = perm.indexOf(d) / (64 / m)
    assert(subspace(ti) != subspace(tj),
      s"strongest pair ($ti, $tj) landed in one subspace ${subspace(ti)}")
    // m = 1 invariance: one subspace means distances are computed over
    // the WHOLE permuted vector, and a permutation shared by query and
    // codebook is distance-invariant — codes and recon_err bit-equal to
    // the unpermuted encode
    val base = Similarity.pqCodes(spark, sfDir, m = 1, ksub = 16, iters = 2)
      .collect().map(_.toString).toSeq
    val opq = Similarity.pqCodes(spark, sfDir, m = 1, ksub = 16, iters = 2, opq = true)
      .collect().map(_.toString).toSeq
    assert(opq == base && opq.nonEmpty,
      "m=1 OPQ encode must be bit-equal to the unpermuted encode")
    // the same law carries through the ADC ranking and the recall audit
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] = df.collect().map(_.toString).toSeq
    val topK = rows(Similarity.pqTopK(spark, sfDir, m = 1, ksub = 16, iters = 2))
    assert(topK.nonEmpty && topK ==
      rows(Similarity.pqTopK(spark, sfDir, m = 1, ksub = 16, iters = 2, opq = true)),
      "m=1 OPQ ADC top-k must be bit-equal to the unpermuted one")
    assert(rows(Similarity.pqRecall(spark, sfDir, m = 1, ksub = 16, iters = 2)) ==
      rows(Similarity.pqRecall(spark, sfDir, m = 1, ksub = 16, iters = 2, opq = true)),
      "m=1 OPQ recall must be bit-equal to the unpermuted recall")
  }

  test("opqPermutation memo: a second OPQ encode of an unchanged corpus reruns no Gram pass") {
    val sfDir = "/root/testdata/sf0.001"
    def encode(): Seq[String] =
      Similarity.pqCodes(spark, sfDir, m = 8, ksub = 16, iters = 2, opq = true)
        .collect().map(_.toString).toSeq
    val first = encode()
    val (second, activity) = SparkActivity.during(spark)(encode())
    assert(second == first && first.nonEmpty)
    val gram = activity.sqlCallSites.filter(_.contains("dimGram"))
    assert(gram.isEmpty, s"the warm OPQ encode re-ran the Gram pass:\n${gram.mkString("\n\n")}")
  }

  test("ivfPqTopKRefined (x186): refine never loses hits; degenerates to brute force at full probe + full shortlist") {
    val sfDir = "/root/testdata/sf0.001"
    def hits(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val exact = hits(Similarity.bruteForceTopK(spark, sfDir, k = 3, queryMod = 25))
    // the structural law: float order IS the truth order, so a
    // shortlisted true neighbor can only be displaced by a truer one —
    // refined hits >= the plain composite's at the same geometry
    val plain = hits(Similarity.ivfPqTopK(spark, sfDir, k = 3, nCentroids = 16,
      queryMod = 25, nprobe = 2))
    val refined = hits(Similarity.ivfPqTopKRefined(spark, sfDir, k = 3,
      nCentroids = 16, queryMod = 25, nprobe = 2, shortlist = 32))
    assert((refined & exact).size >= (plain & exact).size,
      s"refine lost hits: ${(refined & exact).size} < ${(plain & exact).size}")
    // full probe + full shortlist makes both approximations no-ops: the
    // operator must reproduce bruteForceTopK row for row (same scores,
    // same ties, same presentation)
    val full = Similarity.ivfPqTopKRefined(spark, sfDir, k = 3, nCentroids = 16,
      queryMod = 25, nprobe = 16, shortlist = 499)
      .collect().map(_.toString).toSeq
    val brute = Similarity.bruteForceTopK(spark, sfDir, k = 3, queryMod = 25)
      .collect().map(_.toString).toSeq
    assert(full == brute)
  }

  test("ivfPqTopKRefinedFromIndex: the persisted refined probe equals the in-memory refined composite") {
    import org.apache.spark.sql.functions.{col, pmod, lit}
    val dir = "/root/testdata/sf0.001"
    val indexPath = java.nio.file.Files.createTempDirectory("graft-refined-idx").toString
    Similarity.writeIvfPqIndex(spark, dir, indexPath, nCentroids = 16)
    val queries = graft.operators.Tables.embeddings(spark, dir)
      .filter(pmod(col("vec_id"), lit(10)) === 0)
      .select("vec_id", "embedding")
    val got = Similarity.ivfPqTopKRefinedFromIndex(
      spark, indexPath, dir, queries, k = 3, nprobe = 2, shortlist = 32)
      .collect().map(_.toString).toSeq
    val expect = Similarity.ivfPqTopKRefined(spark, dir, k = 3, nCentroids = 16,
      queryMod = 10, nprobe = 2, shortlist = 32)
      .collect().map(_.toString).toSeq
    assert(got == expect && got.nonEmpty,
      "persisted refined probe diverged from the in-memory refined composite")
  }

  test("selectOperatingPoint (x190): cheapest clearing point wins; max-recall fallback when none clears; ties break on cost then knobs") {
    import spark.implicits._
    def table(rows: Seq[(Int, Int, Long, Long, Long, Long, Double)]) =
      rows.toDF("nprobe", "shortlist", "n_queries", "n_candidates",
        "n_float_fetches", "n_hits", "recall4")
    def pick(rows: Seq[(Int, Int, Long, Long, Long, Long, Double)], budget: Double) = {
      val r = Similarity.selectOperatingPoint(table(rows), budget).collect()
      assert(r.length == 1)
      (r.head.getInt(0), r.head.getInt(1), r.head.getAs[Boolean]("cleared"),
        r.head.getAs[Double]("budget"))
    }
    // the cheaper CLEARING point wins even with lower recall — the rule
    // optimizes cost subject to the budget, never recall beyond it
    assert(pick(Seq(
      (2, 16, 50L, 100L, 800L, 140L, 0.93),
      (4, 16, 50L, 200L, 800L, 150L, 0.99),
      (2, 8, 50L, 100L, 400L, 120L, 0.80)), 0.9) == (2, 16, true, 0.9))
    // equal scan cost -> fewer float fetches wins
    assert(pick(Seq(
      (2, 32, 50L, 100L, 1600L, 141L, 0.94),
      (2, 16, 50L, 100L, 800L, 140L, 0.93)), 0.9)._2 == 16)
    // nothing clears -> the max-recall point, flagged honestly
    assert(pick(Seq(
      (2, 16, 50L, 100L, 800L, 100L, 0.67),
      (4, 32, 50L, 200L, 1600L, 120L, 0.80)), 0.9) == (4, 32, false, 0.9))
    // recall tie among non-clearing points -> cheapest wins
    assert(pick(Seq(
      (4, 32, 50L, 200L, 1600L, 120L, 0.80),
      (2, 32, 50L, 100L, 1600L, 120L, 0.80)), 0.9)._1 == 2)
    // the budget domain is (0, 1]
    intercept[IllegalArgumentException](
      Similarity.selectOperatingPoint(table(Seq((2, 16, 50L, 100L, 800L, 140L, 0.93))), 0.0))
  }

  test("tuneIvfPqIndex + ivfPqTopKRefinedFromIndexAuto (x190/x191): stamped point serves bit-equal; untuned and retrained indexes refuse") {
    import org.apache.spark.sql.functions.{col, pmod, lit}
    val dir = "/root/testdata/sf0.001"
    val indexPath = java.nio.file.Files.createTempDirectory("graft-tuned-idx").toString
    Similarity.writeIvfPqIndex(spark, dir, indexPath, nCentroids = 16)
    val queries = graft.operators.Tables.embeddings(spark, dir)
      .filter(pmod(col("vec_id"), lit(10)) === 0)
      .select("vec_id", "embedding")
    // an UNTUNED index refuses the auto probe naming the fix
    val untuned = intercept[IllegalArgumentException](
      Similarity.ivfPqTopKRefinedFromIndexAuto(spark, indexPath, dir, queries))
    assert(untuned.getMessage.contains("tuneIvfPqIndex"))
    // tuning under a geometry the corpus does NOT derive refuses: the
    // sweep would measure a different quantizer than the one serving
    val wrongIters = intercept[IllegalArgumentException](
      Similarity.tuneIvfPqIndex(spark, indexPath, dir, budget = 0.5,
        iters = 1, nprobes = Seq(2), shortlists = Seq(8)))
    assert(wrongIters.getMessage.contains("refusing to tune"))
    // tune, then: the stamped point is the selection over the sweep, and
    // the auto probe serves bit-equal to the manual probe at that point
    val stamped = Similarity.tuneIvfPqIndex(spark, indexPath, dir,
      budget = 0.5, nprobes = Seq(2, 4), shortlists = Seq(8, 16)).collect()
    assert(stamped.length == 1)
    val expectPoint = Similarity.selectOperatingPoint(
      Similarity.refinedTuningSweep(spark, dir, nCentroids = 16,
        nprobes = Seq(2, 4), shortlists = Seq(8, 16)), budget = 0.5)
      .collect().head
    val sp = stamped.head
    assert((sp.getAs[Int]("nprobe"), sp.getAs[Int]("shortlist")) ==
      (expectPoint.getInt(0), expectPoint.getInt(1)),
      "stamped point diverged from the selection over the sweep")
    val got = Similarity.ivfPqTopKRefinedFromIndexAuto(
      spark, indexPath, dir, queries).collect().map(_.toString).toSeq
    val manual = Similarity.ivfPqTopKRefinedFromIndex(
      spark, indexPath, dir, queries,
      nprobe = sp.getAs[Int]("nprobe"), shortlist = sp.getAs[Int]("shortlist"))
      .collect().map(_.toString).toSeq
    assert(got == manual && got.nonEmpty,
      "auto probe diverged from the manual probe at the stamped point")
    // a serve k above the stamped shortlist refuses, with ONE message on
    // the static and the live serving paths (both resolve the point
    // through servingPoint)
    val bigK = sp.getAs[Int]("shortlist") + 1
    val staticK = intercept[IllegalArgumentException](
      Similarity.ivfPqTopKRefinedFromIndexAuto(spark, indexPath, dir, queries, k = bigK))
    val liveK = intercept[IllegalArgumentException](
      graft.streaming.StreamOps.ivfPqRefinedProbeLiveAuto(spark, indexPath, dir, queries, k = bigK))
    assert(staticK.getMessage == liveK.getMessage, liveK.getMessage)
    assert(staticK.getMessage.contains(
      s"shortlist ${sp.getAs[Int]("shortlist")} < requested k ($bigK)") &&
      staticK.getMessage.contains("tuneIvfPqIndex"), staticK.getMessage)
    // RETRAIN after tuning refuses: the stamped point was chosen on
    // recall numbers the new quantizer never produced
    Similarity.writeIvfPqIndex(spark, dir, indexPath, nCentroids = 16, m = 4)
    val retrained = intercept[IllegalArgumentException](
      Similarity.ivfPqTopKRefinedFromIndexAuto(spark, indexPath, dir, queries))
    assert(retrained.getMessage.contains("retrained"))
  }

  test("persisted probes: an EMPTY query batch yields an empty result, not a refusal") {
    // the EXT-6an serving shape delivers empty microbatches as a normal
    // streaming event (an empty trigger, a recovery replay) — the probe
    // must return empty instead of killing the stream on the width
    // check; a NON-empty batch of wrong width still refuses
    import org.apache.spark.sql.functions.col
    val dir = "/root/testdata/sf0.001"
    val ivfpqIdx = java.nio.file.Files.createTempDirectory("graft-empty-ivfpq").toString
    Similarity.writeIvfPqIndex(spark, dir, ivfpqIdx, nCentroids = 16)
    val signIdx = java.nio.file.Files.createTempDirectory("graft-empty-sign").toString
    Similarity.writeSignIndex(spark, dir, signIdx)
    val empty = graft.operators.Tables.embeddings(spark, dir)
      .filter(col("vec_id") < 0).select("vec_id", "embedding")
    assert(Similarity.ivfPqTopKFromIndex(spark, ivfpqIdx, empty, k = 3, nprobe = 2)
      .collect().isEmpty)
    assert(Similarity.hammingTopKFromIndex(spark, signIdx, dir, empty)
      .collect().isEmpty)
    // wrong width on a NON-empty batch still refuses (the stamp law)
    val wide = graft.operators.Tables.embeddings(spark,
      TestTables.embeddingsDir(spark, Seq(10L -> Seq.fill(8)(1f))))
    intercept[IllegalArgumentException](
      Similarity.ivfPqTopKFromIndex(spark, ivfpqIdx, wide, k = 3, nprobe = 2))
  }

  test("persisted-index loader memo: an in-place rewrite is re-read, never served stale") {
    // the IndexCache law (r16): the sidecar loaders memoize per
    // (indexPath, filesystem listing signature) — so a REWRITE at the
    // SAME path with a different geometry must be picked up by the next
    // probe (a cache keyed on path alone would serve the old centroid
    // table and silently mis-route), while two probes of an UNCHANGED
    // index agree trivially (the memo's hit path)
    import org.apache.spark.sql.functions.{col, pmod, lit}
    val dir = "/root/testdata/sf0.001"
    val indexPath = java.nio.file.Files.createTempDirectory("graft-memo-ivf").toString
    val queries = graft.operators.Tables.embeddings(spark, dir)
      .filter(pmod(col("vec_id"), lit(7)) === 0)
      .select("vec_id", "embedding")
    Similarity.writeIvfIndex(spark, dir, indexPath, nCentroids = 4)
    val at4a = Similarity.ivfTopKFromIndex(spark, indexPath, queries, k = 3)
      .collect().map(_.toString).toSeq
    val at4b = Similarity.ivfTopKFromIndex(spark, indexPath, queries, k = 3)
      .collect().map(_.toString).toSeq
    assert(at4a == at4b, "unchanged index: repeated probes must agree (memo hit path)")
    // in-place rewrite with a DIFFERENT coarse geometry at the same path
    Similarity.writeIvfIndex(spark, dir, indexPath, nCentroids = 8)
    val at8 = Similarity.ivfTopKFromIndex(spark, indexPath, queries, k = 3)
      .collect().map(_.toString).toSeq
    val expect8 = Similarity.ivfTopK(spark, dir, k = 3, nCentroids = 8,
      queryMod = Some(7)).collect().map(_.toString).toSeq
    assert(at8 == expect8,
      "rewritten index served stale centroids — the memo must key on the listing signature")
    assert(at8 != at4a, "fixture should make the two geometries distinguishable")
  }

  test("persisted IVF index: layout is cell-partitioned; a corrupt stamp is rejected") {
    import org.apache.spark.sql.functions.{col, lit}
    val indexPath = "/tmp/graft-test-ivf-index" // written by the previous test
    // cell is a PARTITION column: the probed cells are directory-pruned,
    // which is the whole point of the layout at scale
    val cellDirs = new java.io.File(s"$indexPath/cells").listFiles()
      .filter(_.isDirectory).map(_.getName).filter(_.startsWith("cell="))
    assert(cellDirs.nonEmpty, "expected cell=N partition directories")
    // a probe against a mis-stamped centroid table must refuse, not
    // silently derive wrong probe cells
    val bad = "/tmp/graft-test-ivf-bad"
    spark.read.parquet(s"$indexPath/cells")
      .write.mode("overwrite").partitionBy("cell").parquet(s"$bad/cells")
    spark.read.parquet(s"$indexPath/centroids")
      .withColumn("n_centroids", lit(99))
      .write.mode("overwrite").parquet(s"$bad/centroids")
    val queries = spark.read.parquet(s"$indexPath/cells")
      .select(col("vec_id"), col("embedding")).limit(5)
    intercept[IllegalArgumentException](
      Similarity.ivfTopKFromIndex(spark, bad, queries))
  }

  test("quantizedRecall: int8 rounding loss that reorders neighbors is reported as recall < 1") {
    // query 0 = (1, 0). Float dots: A(id 3) 0.004 > B(id 4) 0.002 > C(id 2) 0.
    // int8 codes: A -> (1, 114) dot 127; B -> (0, -114) dot 0; C -> (0, 64)
    // dot 0 — quantization collapses B and C to a tie, and the cid
    // tie-break seats C in the top-2: quantized {A, C} vs true {A, B}.
    val dir = TestTables.embeddingsDir(spark, Seq(
      0L -> Seq(1.0f, 0.0f),
      2L -> Seq(0.0f, 0.5f),
      3L -> Seq(0.004f, 0.9f),
      4L -> Seq(0.002f, -0.9f)))
    val got = Similarity.quantizedRecall(spark, dir, k = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.toSeq == Seq((0L, 1L, 0.5)))
  }

  test("quantizedRecall: rankings the codes preserve score recall 1") {
    // well-separated candidates: int8 cannot reorder a 0.3 gap at dim 2
    val dir = TestTables.embeddingsDir(spark, Seq(
      0L -> Seq(1.0f, 0.0f),
      1L -> Seq(0.9f, 0.1f),
      2L -> Seq(0.6f, 0.4f),
      3L -> Seq(0.3f, 0.7f),
      4L -> Seq(-0.5f, 0.5f)))
    val got = Similarity.quantizedRecall(spark, dir, k = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.toSeq == Seq((0L, 3L, 1.0)))
  }

  test("retrieverAgreement (x103): overlap@k matches an independent two-leg model") {
    // 12 docs: 0-5 share phrase A (lexically close), 6-11 share phrase B;
    // vectors: 0-5 cluster on axis 0, 6-11 on axis 1 — EXCEPT doc 4,
    // whose vector sits on axis 1 (lexical and dense disagree about it)
    val phraseA = "alpha beta gamma delta epsilon"
    val phraseB = "omega psi chi phi upsilon"
    val docs = (0L until 12L).map { i =>
      val phrase = if (i < 6) phraseA else phraseB
      (i, s"doc$i marker$i $phrase tail$i")
    }
    val vecs = (0L until 12L).map { i =>
      val v = Array.fill(64)(0.0f)
      val axis = if (i < 6) 0 else 1
      val flip = if (i == 4L) 1 else axis
      v(flip) = 1.0f
      v(32 + (i % 8).toInt) = 0.1f * ((i % 3) + 1)
      (i, v.toSeq)
    }
    val dir = TestTables.corpusDir(spark, docs, vecs)
    val k = 5
    val got = graft.operators.Similarity.retrieverAgreement(spark, dir, k = k)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toMap

    // independent model of both legs
    def shingles(t: String): Set[String] =
      t.split(" ", -1).toSeq.sliding(3).map(_.mkString(" ")).toSet
    def dot(a: Seq[Float], b: Seq[Float]): Double =
      a.zip(b).foldLeft(0.0) { case (acc, (x, y)) => acc + x.toDouble * y.toDouble }
    val qids = docs.map(_._1).filter(_ % 10 == 0)
    qids.foreach { qid =>
      val qSh = shingles(docs(qid.toInt)._2)
      val lexTop = docs.filter(_._1 != qid)
        .map { case (cid, t) => (cid, (qSh & shingles(t)).size) }
        .filter(_._2 > 0)
        .sortBy { case (cid, ov) => (-ov, cid) }.take(k).map(_._1).toSet
      val qv = vecs(qid.toInt)._2
      val vecTop = vecs.filter(_._1 != qid)
        .map { case (cid, v) => (cid, dot(qv, v)) }
        .sortBy { case (cid, s) => (-s, cid) }.take(k).map(_._1).toSet
      val (nLex, nVec, nCommon, frac) = got(qid)
      assert(nLex == lexTop.size.toLong, s"q$qid n_lex")
      assert(nVec == vecTop.size.toLong, s"q$qid n_vec")
      assert(nCommon == (lexTop & vecTop).size.toLong, s"q$qid n_common")
      assert(frac == (lexTop & vecTop).size.toDouble / k)
    }
    // the fixture must exercise DISagreement (doc 4's flipped vector
    // keeps query 0's legs from fully overlapping)
    assert(got(0L)._3 < k.toLong)
  }

  // ---- product quantization (x104 / x105 / persisted index) ----

  /** dim 8 = 2 subspaces × 4; vec_id 0..1 seed both codebooks. */
  private lazy val pqDir = TestTables.embeddingsDir(spark, Seq(
    0L -> Seq(1f, 0f, 0f, 0f, 0f, 1f, 0f, 0f),
    1L -> Seq(0f, 1f, 0f, 0f, 1f, 0f, 0f, 0f),
    2L -> Seq(0.9f, 0f, 0f, 0f, 0f, 0.9f, 0f, 0f), // near seed 0 in both
    3L -> Seq(0f, 0.9f, 0f, 0f, 0.9f, 0.1f, 0f, 0f), // sub0→1, sub1→1
    4L -> Seq(1f, 0f, 0f, 0f, 1f, 0f, 0f, 0f))) // sub0→0, sub1→1

  test("pqCodes (x104): seeds reconstruct exactly; mixed vectors pick per-subspace argmins") {
    val got = Similarity.pqCodes(spark, pqDir, m = 2, ksub = 2, iters = 0).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    // codebook seeds are their own codes at zero error
    // (sub0 codebook: c0=[127,0,0,0], c1=[0,127,0,0]; sub1: c0=[0,127,..], c1=[127,0,..])
    assert(got(0L) == (("0,0", 0L)))
    assert(got(1L) == (("1,1", 0L)))
    // int8(0.9f) = 114: vec 2 is seed 0 scaled → (127−114)² per subspace
    assert(got(2L) == (("0,0", 2L * 13L * 13L)))
    // vec 3: sub0 [0,114,0,0] → code 1 (d=13²); sub1 [114,13,0,0] →
    // code 1=[127,0,0,0] (d=13²+13²) beats code 0=[0,127,0,0] (114²+114²)
    assert(got(3L) == (("1,1", 13L * 13L + (13L * 13L + 13L * 13L))))
    // vec 4: sub0 [127,0,0,0] = c0; sub1 [127,0,0,0] = c1 → zero error
    assert(got(4L) == (("0,1", 0L)))
  }

  test("pqCodes: ADC distance sum equals an independent per-code reconstruction") {
    // differential: recompute every vector's recon_err naively in Scala
    val vecs = graft.operators.Tables.embeddings(spark, pqDir)
      .collect().map(r => r.getLong(0) ->
        r.getSeq[Float](1).map(x => math.floor(x.toDouble * 127.0 + 0.5).toLong)).toMap
    val cb = Seq(vecs(0L), vecs(1L)) // seeds
    def sub(v: Seq[Long], s: Int) = v.slice(s * 4, s * 4 + 4)
    def d2(a: Seq[Long], b: Seq[Long]) = a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val expect = vecs.map { case (id, v) =>
      id -> (0 until 2).map(s => cb.map(c => d2(sub(v, s), sub(c, s))).min).sum
    }
    val got = Similarity.pqCodes(spark, pqDir, m = 2, ksub = 2, iters = 0).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(got == expect)
  }

  test("pqRecall (x105): coding loss that merges distinct neighbors reports recall < 1") {
    // vecs 2 and 3 both collapse onto codes "0,0" — their ADC distances
    // to any query tie exactly, so the lower cid (2) wins the rank-1
    // slot even though the float truth for query 0 is vec 3 (cos 1.96
    // vs 1.6): the engineered merge MUST surface as recall < 1
    val rdir = TestTables.embeddingsDir(spark, Seq(
      0L -> Seq(1f, 0f, 0f, 0f, 1f, 0f, 0f, 0f),
      1L -> Seq(0f, 1f, 0f, 0f, 0f, 1f, 0f, 0f),
      2L -> Seq(0.8f, 0.6f, 0f, 0f, 0.8f, 0.6f, 0f, 0f),
      3L -> Seq(0.98f, 0.1f, 0f, 0f, 0.98f, 0.1f, 0f, 0f)))
    val rows = Similarity.pqRecall(spark, rdir, k = 1, queryMod = 2, m = 2, ksub = 2, iters = 0)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(rows.keySet == Set(0L, 2L))
    assert(rows.values.forall(r => r >= 0.0 && r <= 1.0))
    assert(rows(0L) < 1.0, "engineered coding loss must show up as recall < 1")
  }

  test("pqRecall: a corpus the codes separate perfectly scores recall 1 everywhere") {
    val rows = Similarity.pqRecall(spark, pqDir, k = 1, queryMod = 2, m = 2, ksub = 2, iters = 0)
      .collect()
    val m = rows.map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(m.keySet == Set(0L, 2L, 4L))
    // qid 0: truth is 2 (its 0.9-scaled copy, cos 1.8); ADC also picks 2
    // (codes "0,0" reconstruct to the query itself, dist 0); qid 4's
    // float tie (v0·v4 = v1·v4 = 1.0) and ADC tie both break to cid 0
    assert(m == Map(0L -> 1.0, 2L -> 1.0, 4L -> 1.0))
  }

  test("pqCodebooks training: matches a driver-side Lloyd reference; recall does not regress") {
    val dir = "/root/testdata/sf0.001"
    val (m, ksub, iters) = (8, 16, 2)
    // independent driver-side re-derivation of the SAME training rounds
    val qvs = graft.operators.Tables.embeddings(spark, dir).collect()
      .map(r => r.getLong(0) ->
        r.getSeq[Float](1).map(x => math.floor(x.toDouble * 127.0 + 0.5).toLong).toArray)
      .sortBy(_._1)
    val dim = qvs.head._2.length
    val dsub = dim / m
    def subv(v: Array[Long], s: Int) = v.slice(s * dsub, (s + 1) * dsub)
    var ref = Array.tabulate(m)(s => Array.tabulate(ksub)(c => subv(qvs(c)._2, s)))
    for (_ <- 1 to iters) {
      val assign = qvs.map { case (_, v) =>
        (0 until m).map { s =>
          val q = subv(v, s)
          ref(s).zipWithIndex.map { case (c, ci) =>
            (q.zip(c).map { case (a, b) => (a - b) * (a - b) }.sum, ci)
          }.min._2
        }
      }
      ref = Array.tabulate(m) { s =>
        Array.tabulate(ksub) { c =>
          val members = qvs.indices.filter(i => assign(i)(s) == c)
          if (members.isEmpty) ref(s)(c)
          else Array.tabulate(dsub) { d =>
            val sum = members.map(i => subv(qvs(i)._2, s)(d)).sum
            math.floor(sum.toDouble / members.length + 0.5).toLong
          }
        }
      }
    }
    val (got, gotDsub) = Similarity.pqCodebooks(spark, dir, m, ksub, iters)
    assert(gotDsub == dsub)
    assert(got.map(_.map(_.toSeq).toSeq).toSeq == ref.map(_.map(_.toSeq).toSeq).toSeq,
      "trained codebooks must equal the independent Lloyd reference")
    // the point of training: ADC recall on the harness corpus must not
    // regress vs the raw seeds (x105 is the production measurement)
    def meanRecall(it: Int): Double = {
      val rows = Similarity.pqRecall(spark, dir, k = 3, queryMod = 10, m = m, ksub = ksub,
        iters = it).collect()
      rows.map(_.getDouble(2)).sum / rows.length
    }
    val (seeded, trained) = (meanRecall(0), meanRecall(iters))
    assert(trained >= seeded,
      s"trained recall ($trained) must be >= seeded recall ($seeded)")
  }

  test("persisted PQ index: probe equals in-memory pqTopK; mismatched queries refused") {
    val hdir = TestTables.embeddingsDir(spark,
      (0L to 19L).map(i => i -> Seq.tabulate(8)(d =>
        (math.sin(i * 3.7 + d).toFloat))))
    val idxPath = java.nio.file.Files.createTempDirectory("graft-pqidx").toString
    Similarity.writePqIndex(spark, hdir, idxPath, m = 2, ksub = 4)
    val queries = graft.operators.Tables.embeddings(spark, hdir)
      .filter(col("vec_id") % 5 === 0)
    val fromIndex = Similarity.pqTopKFromIndex(spark, idxPath, queries, k = 2).collect()
    val inMemory = Similarity.pqTopK(spark, hdir, k = 2, queryMod = 5, m = 2, ksub = 4).collect()
    assert(fromIndex.map(_.toSeq).toSeq == inMemory.map(_.toSeq).toSeq)
    assert(fromIndex.nonEmpty)
    // width mismatch → refusal (the stamp contract)
    val wide = graft.operators.Tables.embeddings(spark,
      TestTables.embeddingsDir(spark, Seq(10L -> Seq.fill(12)(1f))))
    val e = intercept[IllegalArgumentException] {
      Similarity.pqTopKFromIndex(spark, idxPath, wide)
    }
    assert(e.getMessage.contains("does not match the index's coded dim"))
    // corrupt meta (two stamp rows) → refusal
    import spark.implicits._
    Seq((2, 4, 8), (2, 4, 8)).toDF("m", "ksub", "dim")
      .write.mode("overwrite").parquet(s"$idxPath/meta")
    val e2 = intercept[IllegalArgumentException] {
      Similarity.pqTopKFromIndex(spark, idxPath, queries)
    }
    assert(e2.getMessage.contains("corrupt pq index"))
  }

  test("probe query batches are measured per call: repeated probes add no broadcast-memo entry") {
    val hdir = TestTables.embeddingsDir(spark,
      (0L to 19L).map(i => i -> Seq.tabulate(8)(d => math.sin(i * 3.7 + d).toFloat)))
    val signIdx = s"$hdir/sign-index"
    val pqIdx = s"$hdir/pq-index"
    Similarity.writeSignIndex(spark, hdir, signIdx, dim = 8)
    Similarity.writePqIndex(spark, hdir, pqIdx, m = 2, ksub = 4)
    // a fresh query relation per call, as a serving loop builds them
    def queries() = graft.operators.Tables.embeddings(spark, hdir)
      .filter(col("vec_id") % 5 === 0)
    def probes(): (Seq[String], Seq[String]) = (
      Similarity.hammingTopKFromIndex(spark, signIdx, hdir, queries(), candidates = 4, k = 2)
        .collect().map(_.toString).toSeq,
      Similarity.pqTopKFromIndex(spark, pqIdx, queries(), k = 2)
        .collect().map(_.toString).toSeq)
    val before = Similarity.measuredBytesEntries
    val first = probes()
    (1 to 3).foreach(_ => assert(probes() == first, "a repeated probe changed its result"))
    assert(Similarity.measuredBytesEntries == before,
      "probe query batches must not accumulate in the session-lifetime memo")
    // and the per-call measurement leaves the results where they were
    assert(first._1 == Similarity.hammingTopK(spark, hdir, candidates = 4, k = 2,
      queryMod = 5, dim = 8).collect().map(_.toString).toSeq && first._1.nonEmpty)
    assert(first._2 == Similarity.pqTopK(spark, hdir, k = 2, queryMod = 5, m = 2, ksub = 4)
      .collect().map(_.toString).toSeq && first._2.nonEmpty)
  }

  test("persisted PQ index with the OPQ layout: probe equals in-memory pqTopKOpq; legacy layout untouched; corrupt perm refused") {
    import org.apache.spark.sql.functions.col
    val dir = "/root/testdata/sf0.001"
    val idxPath = java.nio.file.Files.createTempDirectory("graft-pqopqidx").toString
    Similarity.writePqIndex(spark, dir, idxPath, opq = true)
    val queries = graft.operators.Tables.embeddings(spark, dir)
      .filter(col("vec_id") % 10 === 0)
      .select("vec_id", "embedding")
    // the probe permutes the query batch through the index's OWN stamped
    // layout — bit-equal to the in-memory OPQ ADC over the same corpus
    val got = Similarity.pqTopKFromIndex(spark, idxPath, queries, k = 3)
      .collect().map(_.toString).toSeq
    val expect = Similarity.pqTopK(spark, dir, k = 3, queryMod = 10, opq = true)
      .collect().map(_.toString).toSeq
    assert(got == expect && got.nonEmpty,
      "persisted OPQ probe diverged from the in-memory OPQ ADC")
    // and the layouts genuinely differ: the identity-layout index over
    // the same corpus ranks differently somewhere (m=8 splits move)
    val legacyPath = java.nio.file.Files.createTempDirectory("graft-pqlegidx").toString
    Similarity.writePqIndex(spark, dir, legacyPath)
    val legacy = Similarity.pqTopKFromIndex(spark, legacyPath, queries, k = 3)
      .collect().map(_.toString).toSeq
    assert(legacy == Similarity.pqTopK(spark, dir, k = 3, queryMod = 10)
      .collect().map(_.toString).toSeq,
      "legacy identity layout must keep probing exactly as before")
    assert(legacy != got, "the OPQ layout should change at least one ADC ranking")
    // a corrupt perm sidecar (not a bijection) must refuse, not mis-rank
    import spark.implicits._
    (0 until 64).map(p => (p, 0)).toDF("pos", "d")
      .write.mode("overwrite").parquet(s"$idxPath/perm")
    val e = intercept[IllegalArgumentException] {
      Similarity.pqTopKFromIndex(spark, idxPath, queries)
    }
    assert(e.getMessage.contains("corrupt perm sidecar"), e.getMessage)
  }

  test("persisted IVF-PQ index (x179): probe equals in-memory ivfPqTopK; refusals inherited") {
    import org.apache.spark.sql.functions.{col, pmod, lit}
    val dir = "/root/testdata/sf0.001"
    val idxPath = java.nio.file.Files.createTempDirectory("graft-ivfpqidx").toString
    Similarity.writeIvfPqIndex(spark, dir, idxPath, nCentroids = 16)
    val queries = graft.operators.Tables.embeddings(spark, dir)
      .filter(pmod(col("vec_id"), lit(10)) === 0)
      .select("vec_id", "embedding")
    for (np <- Seq(1, 2)) {
      val expect = Similarity.ivfPqTopK(spark, dir, k = 3, nCentroids = 16,
        queryMod = 10, nprobe = np).collect().map(_.toSeq).toSeq
      val got = Similarity.ivfPqTopKFromIndex(spark, idxPath, queries,
        k = 3, nprobe = np).collect().map(_.toSeq).toSeq
      assert(got == expect, s"nprobe=$np probe diverged from the in-memory composite")
      assert(got.nonEmpty)
    }
    // width mismatch → refusal (the pqTopKFromIndex stamp contract)
    val wide = graft.operators.Tables.embeddings(spark,
      TestTables.embeddingsDir(spark, Seq(10L -> Seq.fill(12)(1f))))
    val e = intercept[IllegalArgumentException] {
      Similarity.ivfPqTopKFromIndex(spark, idxPath, wide)
    }
    assert(e.getMessage.contains("does not match the index's coded dim"))
    // corrupt centroid stamp → refusal (the ivfTopKFromIndex contract)
    import spark.implicits._
    val cents = spark.read.parquet(s"$idxPath/centroids")
    cents.withColumn("n_centroids", lit(99)).write.mode("overwrite")
      .parquet(s"$idxPath/centroids2")
    spark.read.parquet(s"$idxPath/centroids2").write.mode("overwrite")
      .parquet(s"$idxPath/centroids")
    val e2 = intercept[IllegalArgumentException] {
      Similarity.ivfPqTopKFromIndex(spark, idxPath, queries)
    }
    assert(e2.getMessage.contains("corrupt index"))
  }

  test("dimCorrelation (x109): duplicated dims score r²=1, dead dims NULL, hand-exact sums") {
    // dims 1 and 2 identical; dim 4 dead (all zero)
    val ddir = TestTables.embeddingsDir(spark, Seq(
      0L -> Seq(1f, 1f, 0.5f, 0f),
      1L -> Seq(-1f, -1f, 0.25f, 0f),
      2L -> Seq(0.5f, 0.5f, -1f, 0f)))
    val rows = Similarity.dimCorrelation(spark, ddir, topN = 20).collect()
    assert(rows.length == 6) // all C(4,2) pairs
    val byPair = rows.map(r => (r.getLong(0), r.getLong(1)) ->
      (r.getLong(2), r.getLong(3), r.getLong(4),
        if (r.isNullAt(5)) null else r.getDouble(5))).toMap
    // int8: 1→127, 0.5→64, −1→−127, 0.25→32
    // s12 = 127² + 127² + 64² = 36354 = s11 = s22 → r² exactly 1
    assert(byPair((1L, 2L)) == ((36354L, 36354L, 36354L, 1.0)))
    // s13 = 127·64 − 127·32 − 64·127 = −4064
    assert(byPair((1L, 3L))._1 == -4064L)
    assert(byPair((2L, 3L))._1 == -4064L)
    // dead dim 4: every pair has s = 0 and a NULL r² (never NaN)
    Seq((1L, 4L), (2L, 4L), (3L, 4L)).foreach { p =>
      assert(byPair(p)._1 == 0L && byPair(p)._4 == null, s"pair $p")
    }
    // presentation: |s| desc, ties by (d1, d2)
    assert(rows.take(3).map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((1L, 2L), (1L, 3L), (2L, 3L)))
  }

  test("dimCorrelation: exact agreement with a naive driver-side Gram computation") {
    val vecs = graft.operators.Tables.embeddings(spark, pqDir).collect()
      .map(_.getSeq[Float](1).map(x => math.floor(x.toDouble * 127.0 + 0.5).toLong))
    val dim = vecs.head.length
    val naive = (for { i <- 0 until dim; j <- i + 1 until dim } yield
      ((i + 1).toLong, (j + 1).toLong) ->
        vecs.map(v => v(i) * v(j)).sum).toMap
    val got = Similarity.dimCorrelation(spark, pqDir, topN = 1000).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got == naive.filter { case (k, _) => got.contains(k) } && got.size == naive.size)
  }

  test("semanticContamination (x112): max-cos vs the benchmark slice, ties to lower id") {
    // benchMod=2: even ids are the benchmark. Vector 1 is exactly bench
    // vector 0; vector 3 ties between bench 0 and 2 (must pick 0);
    // vector 5 is far from every bench vector.
    val dir = TestTables.embeddingsDir(spark, Seq(
      0L -> Seq(1f, 0f, 0f), 2L -> Seq(0f, 1f, 0f), 4L -> Seq(0f, 0f, 1f),
      1L -> Seq(1f, 0f, 0f),
      3L -> Seq(0.5f, 0.5f, 0f),
      5L -> Seq(-1f, -1f, -1f)))
    val got = Similarity.semanticContamination(spark, dir, tau = 0.9, benchMod = 2)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getDouble(2), r.getBoolean(3)))).toMap
    assert(got.keySet == Set(1L, 3L, 5L), "exactly the non-benchmark vectors are scored")
    assert(got(1L) == ((0L, 1.0, true)))
    assert(got(3L) == ((0L, 0.5, false)), "equal-sim tie must break to the lower bench id")
    assert(got(5L) == ((0L, -1.0, false)),
      "a three-way tie at sim -1 breaks to the lowest bench id")
  }

  test("cellOutliers (x114): within-cell bottom-fraction cut in exact integers") {
    // iters=0 keeps the axis seeds; cell 0 gets 4 members at distinct
    // cosines, cell 1 gets 2. pctDen=4 → outlier iff rn*4 <= n_cell:
    // exactly the single least-prototypical member of cell 0, none of
    // the 2-member cell (rn*4 = 4 > 2).
    val dir = TestTables.embeddingsDir(spark, Seq(
      0L -> Seq(1f, 0f), 1L -> Seq(0f, 1f),
      2L -> Seq(0.9f, 0.1f), 3L -> Seq(0.8f, 0.2f), 4L -> Seq(0.7f, 0.3f),
      5L -> Seq(0.1f, 0.9f)))
    val got = Similarity.cellOutliers(spark, dir, k = 2, iters = 0, pctDen = 4)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(3), r.getLong(4), r.getBoolean(5)))).toMap
    assert(got.values.map(_._1).toSet == Set(0L, 1L))
    val cell0 = got.filter(_._2._1 == 0L)
    assert(cell0.keySet == Set(0L, 2L, 3L, 4L) && cell0.values.forall(_._3 == 4L))
    // ascending prototypicality in cell 0: vec 4 (0.7) < 3 (0.8) < 2 (0.9) < 0 (1.0)
    assert(cell0(4L)._2 == 1L && cell0(4L)._4, "least-prototypical member is the outlier")
    assert(Seq(3L, 2L, 0L).map(cell0(_)._2) == Seq(2L, 3L, 4L))
    assert(!cell0(3L)._4 && !cell0(2L)._4 && !cell0(0L)._4)
    val cell1 = got.filter(_._2._1 == 1L)
    assert(cell1.keySet == Set(1L, 5L) && cell1.values.forall(v => v._3 == 2L && !v._4),
      "a 2-member cell has no bottom-quartile member (rn*4 > 2 for every rn)")
  }

  test("covarianceSpectrum (EXT-S25): known axis spectrum; effective rank reads collapse") {
    // axis-aligned corpus: 8 copies of e1, 2 of e2 (unit floats -> int8
    // value 127). Second moment = diag(8*127^2, 2*127^2, 0): eigenvalues
    // known analytically, effective rank = (10q)^2 / (64+4)q^2 = 100/68.
    val q = 127.0 * 127.0
    val dir = TestTables.embeddingsDir(spark,
      (0L until 8L).map(i => i -> Seq(1f, 0f, 0f)) :+
        (8L -> Seq(0f, 1f, 0f)) :+ (9L -> Seq(0f, 1f, 0f)))
    val sp = Similarity.covarianceSpectrum(spark, dir)
    assert(sp.dim == 3 && sp.nVectors == 10L)
    assert(sp.eigs.length == 3)
    assert(math.abs(sp.eigs(0) - 8 * q) < 1e-6 && math.abs(sp.eigs(1) - 2 * q) < 1e-6 &&
      math.abs(sp.eigs(2)) < 1e-6, s"axis spectrum: ${sp.eigs}")
    assert(math.abs(sp.trace - 10 * q) < 1e-6)
    assert(math.abs(sp.effectiveRank - 100.0 / 68.0) < 1e-9)
  }

  test("covarianceSpectrum: rotation leaves the spectrum fixed; collapse drops effective rank") {
    // the same two-direction mass, rotated 45 degrees: eigenvalues must
    // match the axis-aligned spelling up to int8 quantization error
    val c = (math.sqrt(0.5)).toFloat
    val dirRot = TestTables.embeddingsDir(spark,
      (0L until 4L).map(i => i -> Seq(c, c)) ++ (4L until 8L).map(i => i -> Seq(c, -c)))
    val rot = Similarity.covarianceSpectrum(spark, dirRot)
    // quantized: 4*(90,90) + 4*(90,-90) -> second moment diag(64800, 64800)
    val expected = 4.0 * 2 * 90.0 * 90.0
    rot.eigs.foreach(e => assert(math.abs(e - expected) < 1e-6, s"rotated spectrum: ${rot.eigs}"))
    assert(rot.effectiveRank > 1.97 && rot.effectiveRank <= 2.0 + 1e-9)
    // collapse: every vector on ONE direction -> effective rank ~1
    val dirCol = TestTables.embeddingsDir(spark,
      (0L until 8L).map(i => i -> Seq(c, c)))
    val col = Similarity.covarianceSpectrum(spark, dirCol)
    assert(col.effectiveRank < 1.0 + 1e-9,
      "a cone-collapsed corpus reads as effective rank ~1 even with every dim alive")
  }

  test("jacobiEigenvalues: matches the characteristic roots of a hand 2x2; PSD stays nonneg") {
    // [[2, 1], [1, 2]] -> eigenvalues 3 and 1
    val e = Similarity.jacobiEigenvalues(Array(Array(2.0, 1.0), Array(1.0, 2.0))).sorted
    assert(math.abs(e(0) - 1.0) < 1e-12 && math.abs(e(1) - 3.0) < 1e-12)
  }

  test("hubness (x136): the census carries exactly k hits per query and the whole corpus") {
    val sfDir = "/root/testdata/sf0.001"
    val rows = Similarity.hubness(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val nCorpus = emb.count()
    val nQueries = emb.filter(org.apache.spark.sql.functions
      .pmod(org.apache.spark.sql.functions.col("vec_id"),
        org.apache.spark.sql.functions.lit(10)) === 0).count()
    // mass law: every query contributes exactly k = 5 list slots, and
    // every corpus vector lands in exactly one count class
    assert(rows.map { case (h, n) => h * n }.sum == 5L * nQueries)
    assert(rows.map(_._2).sum == nCorpus)
    assert(rows.map(_._1).distinct.length == rows.length)
  }

  test("topkDiversity (x140): exact label census of the top-k; majority tie to the greater label") {
    // one query (id 0), five candidates = the whole top-5 list:
    // labels {1: x2, 2: x2, 7: x1} -> n_labels 3, majority TIE 2-2
    // breaks to label 2 (struct-max), Σc² = 4+4+1 = 9 -> simpson 0.36
    val dir = TestTables.embeddingsLabeledDir(spark, Seq(
      (0L, Seq(1f, 0f), 0),
      (1L, Seq(0.9f, 0f), 1), (2L, Seq(0.8f, 0f), 1),
      (3L, Seq(0.7f, 0f), 2), (4L, Seq(0.6f, 0f), 2),
      (5L, Seq(0.5f, 0f), 7)))
    val got = Similarity.topkDiversity(spark, dir).collect()
    assert(got.length == 1)
    val r = got.head
    assert((r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3), r.getDouble(4)) ==
      ((0L, 3L, 2, 2L, 0.36)))
  }

  test("negativeMargin (x138): noisy iff the hardest negative beats the nearest positive") {
    // dim 2, queryMod 5 -> queries are ids 0, 5, 10.
    //   id 0 (label 0, [1,0]):   pos = id5 (0.8), neg = id1 (0.9) -> NOISY
    //   id 5 (label 0, [0.8,0]): pos = id0 (0.8), neg = id1 (0.72) -> clean
    //   id 10 (label 2, [0,1]):  alone in its label -> NULL pos/margin/noisy
    val dir = TestTables.embeddingsLabeledDir(spark, Seq(
      (0L, Seq(1f, 0f), 0), (5L, Seq(0.8f, 0f), 0),
      (1L, Seq(0.9f, 0f), 1), (10L, Seq(0f, 1f), 2)))
    val got = Similarity.negativeMargin(spark, dir).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(got.keySet == Set(0L, 5L, 10L))
    def t(id: Long) = {
      val r = got(id)
      (r.getInt(1), r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getBoolean(5))
    }
    assert(t(0L) == ((0, 0.8, 0.9, -0.1, true)),
      "a mislabeled-looking anchor reports a negative margin and the noisy flag")
    assert(t(5L) == ((0, 0.8, 0.72, 0.08, false)))
    val lone = got(10L)
    assert(lone.getInt(1) == 2 && lone.isNullAt(2) && lone.isNullAt(4) && lone.isNullAt(5),
      "a label singleton reports NULL pos/margin/noisy — absence is a finding")
    assert(lone.getDouble(3) == 0.0, "its hardest negative is still measured")
  }

  test("cellDrift (x144): per-cell parity census and share shift, hand-derived") {
    // iters = 0 keeps the seed centroids (x-axis / y-axis): cell 0 gets
    // evens {0,2,6} + odd {3}, cell 1 evens {4} + odds {1,5} -> totals
    // 4 even / 3 odd; shifts are exactly -5/12 and +5/12
    val dir = TestTables.embeddingsDir(spark, Seq(
      0L -> Seq(1f, 0f), 1L -> Seq(0f, 1f),
      2L -> Seq(1f, 0f), 3L -> Seq(0.9f, 0.1f),
      4L -> Seq(0f, 0.9f), 5L -> Seq(0.1f, 0.9f),
      6L -> Seq(0.8f, 0.2f)))
    val got = Similarity.cellDrift(spark, dir, k = 2, iters = 0).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4), r.getDouble(5)))).toMap
    assert(got(0L) == ((3L, 1L, 0.75, 0.3333, -0.4167)))
    assert(got(1L) == ((1L, 2L, 0.25, 0.6667, 0.4167)))
  }

  test("cellDrift: census partitions the corpus and shares sum to one on harness data") {
    val rows = Similarity.cellDrift(spark, "/root/testdata/sf0.001", exactMeans = true).collect()
    val total = graft.operators.Tables.embeddings(spark, "/root/testdata/sf0.001").count()
    assert(rows.map(r => r.getLong(1) + r.getLong(2)).sum == total,
      "every vector lands in exactly one cell")
    assert(rows.forall(r => r.getLong(0) >= 0L && r.getLong(0) < 8L))
    // rounded shares still sum to ~1 on each side (within k half-ulps)
    assert(math.abs(rows.map(_.getDouble(3)).sum - 1.0) <= 8 * 5e-5)
    assert(math.abs(rows.map(_.getDouble(4)).sum - 1.0) <= 8 * 5e-5)
    rows.foreach(r => assert(math.abs(
      r.getDouble(5) - (math.rint((r.getDouble(4) - r.getDouble(3)) * 10000) / 10000)) <= 2e-4,
      "shift agrees with the share difference up to re-rounding"))
  }

  test("mmrRerank (x158): greedy picks match a driver-side MMR reference exactly") {
    val dir = "/root/testdata/sf0.001"
    val emb = graft.operators.Tables.embeddings(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def dot(a: Array[Float], b: Array[Float]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i).toDouble * b(i).toDouble; i += 1 }
      s
    }
    val m = 8; val k = 4; val lam = 70
    val expected = emb.keys.filter(_ % 50 == 0).toSeq.sorted.flatMap { qid =>
      val cand = emb.keys.filter(_ != qid).toSeq
        .map(c => (c, dot(emb(qid), emb(c))))
        .sortBy { case (c, rel) => (-rel, c) }.take(m)
      var selected = Vector.empty[(Long, Double, Double)] // (cid, rel, score)
      for (_ <- 1 to k) {
        val scored = cand.filterNot(c => selected.exists(_._1 == c._1)).map { case (c, rel) =>
          val ms = selected.map(s => dot(emb(c), emb(s._1))).maxOption
          val score = ms match {
            case None => (lam * rel) / 100
            case Some(x) => (lam * rel - (100 - lam) * x) / 100
          }
          (c, rel, score)
        }
        selected :+= scored.maxBy { case (c, rel, sc) => (sc, rel, -c) }
      }
      selected.zipWithIndex.map { case ((c, rel, sc), i) =>
        (qid, i + 1, c, math.rint(rel * 10000) / 10000, math.rint(sc * 10000) / 10000)
      }
    }
    val got = graft.operators.Similarity.mmrRerank(spark, dir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))
      .toSeq
    assert(got == expected, "the distributed greedy must equal the reference pick-for-pick")
    // non-vacuity: diversification must actually reorder something —
    // some pick differs from the pure-relevance order
    val relOrder = emb.keys.filter(_ % 50 == 0).toSeq.sorted.flatMap { qid =>
      emb.keys.filter(_ != qid).toSeq.map(c => (c, dot(emb(qid), emb(c))))
        .sortBy { case (c, rel) => (-rel, c) }.take(k).zipWithIndex
        .map { case ((c, _), i) => (qid, i + 1, c) }
    }
    assert(got.map(t => (t._1, t._2, t._3)) != relOrder,
      "λ=0.7 must diverge from pure relevance somewhere, or the fixture is vacuous")
  }

  test("mmrRerank: λ=100 degenerates to the pure relevance ranking over the candidate pool") {
    val dir = "/root/testdata/sf0.001"
    val pure = graft.operators.Similarity.mmrRerank(spark, dir, lambdaPct = 100).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    val brute = graft.operators.Similarity.bruteForceTopK(spark, dir, k = 4, queryMod = 50)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(pure.toSeq == brute.toSeq,
      "with no diversity term the greedy IS the relevance top-k (same tie-breaks)")
  }

  test("annNprobeSweep (x170): recall is monotone in nprobe and exact at full probe") {
    val dir = "/root/testdata/sf0.001"
    val rows = Similarity.annNprobeSweep(spark, dir, nprobes = Seq(1, 2, 4, 16))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(rows.map(_._1).toSeq == Seq(1, 2, 4, 16))
    // each probe set contains the previous one, so hits can only grow
    val hits = rows.map(_._3)
    assert(hits.zip(hits.tail).forall { case (a, b) => a <= b },
      s"recall must be monotone in nprobe: ${rows.mkString(", ")}")
    // probing every cell IS the brute-force scan: recall exactly 1
    assert(rows.last._4 == 1.0, s"full probe must recover the truth: ${rows.last}")
    // the query census is the same at every sweep point
    assert(rows.map(_._2).distinct.length == 1)
    assert(intercept[IllegalArgumentException](
      Similarity.annNprobeSweep(spark, dir, nprobes = Seq(0))).getMessage.contains("nprobes"))
  }


  test("ivfCellBalance (x172): census partitions the corpus; dead cells surface as zero rows") {
    val dir = "/root/testdata/sf0.001"
    val emb = graft.operators.Tables.embeddings(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).sortBy(_._1)
    val cents = emb.take(16).map(_._2)
    def dot(a: Array[Double], b: Array[Double]) =
      a.zip(b).foldLeft(0.0) { case (s, (x, y)) => s + x * y }
    val assign = emb.map { case (_, v) =>
      cents.zipWithIndex.map { case (c, i) => (-dot(v, c), i) }.min._2
    }
    val expected = (0 until 16).map(c => c -> assign.count(_ == c).toLong).toMap
    val rows = Similarity.ivfCellBalance(spark, dir).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
    assert(rows.map(_._1).toSeq == (0 until 16))
    rows.foreach { case (c, n, sh) =>
      assert(n == expected(c), s"cell $c")
      assert(sh == math.rint(n.toDouble / emb.length * 10000) / 10000)
    }
    assert(rows.map(_._2).sum == emb.length, "census must partition the corpus")
  }

  test("embeddingNormAudit (x173): bins are width-aligned and partition the corpus; unit vectors one band") {
    val dir = "/root/testdata/sf0.001"
    val emb = graft.operators.Tables.embeddings(spark, dir).collect()
      .map(_.getSeq[Float](1).map(x => math.floor(x.toDouble * 127.0 + 0.5).toLong))
    val norms = emb.map(v => v.map(x => x * x).sum)
    val expected = norms.groupBy(n => n - (n % 2048L)).view.mapValues(_.length.toLong).toMap
    val rows = Similarity.embeddingNormAudit(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(rows.map(t => t._1 -> t._2).toMap == expected)
    assert(rows.forall(_._1 % 2048L == 0L))
    assert(rows.map(_._2).sum == emb.length)
    // the harness embeddings are L2-normalized: everything lands within
    // a narrow band around 127^2 = 16129
    assert(rows.map(_._1).forall(lo => lo >= 8192L && lo <= 24576L),
      s"unexpected norm bands: ${rows.map(_._1).mkString(",")}")
  }

}
