package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.ShingleUtil
import graft.operators.{Dedup, Tables}

/** SURVEY.md §2b dedup family: exact, n-gram Jaccard (PPJoin), MinHash
  * LSH, SimHash.
  */
class DedupSpec extends AnyFunSuite with SparkSuite {

  // corpus with one exact-duplicate pair (1,2), one near-dup pair (3,4)
  // differing in a single trailing token, and unrelated docs
  private lazy val dir = TestTables.documentsDir(spark, Seq(
    1L -> "the quick brown fox jumps over the lazy dog again and again today",
    2L -> "the quick brown fox jumps over the lazy dog again and again today",
    3L -> "pack my box with five dozen liquor jugs before noon on monday ok",
    4L -> "pack my box with five dozen liquor jugs before noon on monday no",
    5L -> "sphinx of black quartz judge my vow while the band plays on",
    6L -> "a completely different document about nothing in particular at all"))

  test("shingles expression: k-grams, distinct, first-occurrence order") {
    import spark.implicits._
    val got = Seq("a b c d", "x x x x x", "a b").toDF("text")
      .select(Tables.shingles(Tables.tokens(col("text")), 3).as("sh"))
      .as[Seq[String]].collect()
    assert(got(0) == Seq("a b c", "b c d"))
    assert(got(1) == Seq("x x x")) // duplicates collapsed
    assert(got(2) == Seq.empty) // shorter than k
  }

  test("ShingleUtil matches the declarative spelling on harness data") {
    import spark.implicits._
    val docs = Tables.documents(spark, "/root/testdata/sf0.001").limit(50)
      .select(col("doc_id"), Tables.tokens(col("text")).as("toks"))
    val native = docs.select(col("doc_id"), Tables.shingles(col("toks")).as("sh"))
    val declarative = docs.select(col("doc_id"),
      array_distinct(transform(
        sequence(lit(1), size(col("toks")) - lit(2)),
        i => concat_ws(" ", element_at(col("toks"), i), element_at(col("toks"), i + 1),
          element_at(col("toks"), i + 2)))).as("sh"))
    assert(native.except(declarative).count() == 0 && declarative.except(native).count() == 0)
  }

  test("exact dedup groups identical texts under the smallest doc_id") {
    val rows = Dedup.exact(spark, dir).collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(1L, 3L, 4L, 5L, 6L))
    assert(rows.find(_.getLong(0) == 1L).get.getLong(1) == 2L) // two copies
  }

  test("ngramJaccard finds exact and near duplicates at 0.8, nothing else") {
    val rows = Dedup.ngramJaccard(spark, dir).collect()
    val pairs = rows.map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(pairs == Seq((1L, 2L), (3L, 4L)))
    val exact = rows.find(_.getLong(0) == 1L).get
    assert(exact.getAs[Double]("jaccard") == 1.0)
    val near = rows.find(_.getLong(0) == 3L).get
    assert(near.getAs[Double]("jaccard") > 0.8 && near.getAs[Double]("jaccard") < 1.0)
  }

  test("prefix filtering is lossless vs naive all-pairs join (harness data)") {
    // naive exact reference: explode + full inverted-index join
    val sfDir = "/root/testdata/sf0.001"
    val sh = Tables.documents(spark, sfDir)
      .select(col("doc_id"), explode(Tables.shingles(Tables.tokens(col("text")))).as("shingle"))
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val naive = sh.as("a")
      .join(sh.as("b"), col("a.shingle") === col("b.shingle") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("d1"), col("b.doc_id").as("d2")).agg(count(lit(1)).as("inter"))
      .join(sizes.withColumnRenamed("doc_id", "d1").withColumnRenamed("n", "n1"), "d1")
      .join(sizes.withColumnRenamed("doc_id", "d2").withColumnRenamed("n", "n2"), "d2")
      .filter(col("inter").cast("double") / (col("n1") + col("n2") - col("inter")) >= 0.8)
      .select("d1", "d2")
    val ppjoin = Dedup.ngramJaccard(spark, sfDir).select("d1", "d2")
    assert(ppjoin.except(naive).count() == 0 && naive.except(ppjoin).count() == 0)
  }

  test("minhashLsh candidates are verified: subset of exact result, catches exact dups") {
    val lsh = Dedup.minhashLsh(spark, dir).collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val exact = Dedup.ngramJaccard(spark, dir).collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(lsh.toSet.subsetOf(exact.toSet))
    assert(lsh.contains((1L, 2L))) // identical shingle sets always collide
  }

  test("simhash: identical texts agree, disjoint texts differ, 60-bit range") {
    val fps = Dedup.simhash(spark, dir).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fps(1L) == fps(2L))
    assert(fps(1L) != fps(6L))
    fps.values.foreach(v => assert(v >= 0L && v < (1L << 60)))
  }

  test("simhashNearDup: banded join finds exactly the pairs within the threshold") {
    // brute-force reference over collected fingerprints
    val fps = Dedup.simhash(spark, dir).collect().map(r => r.getLong(0) -> r.getLong(1))
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    val expected = (for {
      (d1, h1) <- fps; (d2, h2) <- fps
      if d1 < d2 && ham(h1, h2) <= 4
    } yield (d1, d2, ham(h1, h2).toLong)).sorted.toSeq
    val got = Dedup.simhashNearDup(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    assert(got == expected) // pigeonhole: exact for maxHamming <= bands-1
    assert(got.exists { case (d1, d2, h) => d1 == 1L && d2 == 2L && h == 0L })
  }

  test("simhash hamming distance separates near-dups from unrelated docs") {
    val fps = Dedup.simhash(spark, dir).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(hamming(fps(3L), fps(4L)) < hamming(fps(3L), fps(6L)))
  }

  test("bucket saturation guard: a hot band bucket fails loudly, not with an executor OOM") {
    val same = (1 to 30).map(i => s"s$i").mkString(" ")
    // three identical docs share every band signature: bucket size 3 > cap 2
    val sdir = TestTables.documentsDir(spark, Seq(1L -> same, 2L -> same, 3L -> same))
    val e = intercept[Exception] {
      Dedup.minhashLsh(spark, sdir, maxBucket = 2).collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.contains("saturated")), e.toString)
    // the default cap leaves healthy corpora untouched
    assert(Dedup.minhashLsh(spark, sdir).collect().nonEmpty)
  }

  test("incrementalMinhash: fresh odd docs match their best even-corpus near-dup only") {
    val base = (1 to 30).map(i => s"w$i").mkString(" ")
    val variant = base.replace("w9", "z9") // 1-token variant of base
    val idir = TestTables.documentsDir(spark, Seq(
      2L -> base,                           // corpus
      4L -> variant,                        // corpus
      6L -> (31 to 60).map(i => s"u$i").mkString(" "), // corpus, unrelated
      1L -> variant,                        // fresh: = 4 exactly, near-dup of 2
      3L -> (61 to 90).map(i => s"q$i").mkString(" "), // fresh: novel
      5L -> base))                          // fresh: = 2 exactly, near-dup of 4
    val got = Dedup.incrementalMinhash(spark, idir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val byDoc = got.map(t => t._1 -> t).toMap
    // novel doc 3 must NOT appear; identical docs collide on EVERY band,
    // so their presence is deterministic (a J≈0.8 pair colliding on some
    // band is the probabilistic part of LSH and not asserted here)
    assert(!byDoc.contains(3L))
    // argmax: each fresh doc also near-matches the OTHER corpus doc
    // (J≈0.8 if its bands collide) but the exact copy must win
    assert(byDoc(5L)._2 == 2L && byDoc(5L)._3 == 1.0)
    assert(byDoc(1L)._2 == 4L && byDoc(1L)._3 == 1.0)
    assert(got.map(_._1).toSeq == got.map(_._1).sorted.toSeq) // presentation order
  }

  test("dupSpans: shared runs merge to maximal spans; separated repeats stay separate") {
    val R = (1 to 12).map(i => s"r$i").mkString(" ")  // 12-token shared run
    val E = (1 to 8).map(i => s"e$i").mkString(" ")   // 8-token repeated run
    val dir = TestTables.documentsDir(spark, Seq(
      1L -> s"a1 a2 a3 $R b1 b2",   // R at positions 4..15
      2L -> s"c1 $R d1 d2 d3",      // R at positions 2..13
      3L -> s"$E x1 x2 x3 x4 x5 $E", // E at 1..8 and 14..21 (self-repeat)
      4L -> E))                      // E alone
    val got = Dedup.dupSpans(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // adjacent duplicated windows merge into ONE maximal span per run;
    // the two copies inside doc 3 are separated, so they stay two spans
    assert(got.toSet == Set(
      (1L, 1L, 4L, 12L), (2L, 1L, 2L, 12L),
      (3L, 1L, 1L, 8L), (3L, 2L, 14L, 8L), (4L, 1L, 1L, 8L)))
  }

  test("winnowing: copy guarantee, density bound, disjoint docs never pair") {
    // with k=2, wWin=2 the winnowing theorem guarantees a shared
    // fingerprint for any copied span of >= k+wWin-1 = 3 tokens
    val S = "s1 s2 s3" // the 3-token copied span
    val dir = TestTables.documentsDir(spark, Seq(
      1L -> s"a1 a2 $S a3 a4",
      2L -> s"b1 $S b2 b3 b4",
      3L -> "z1 z2 z3 z4 z5 z6")) // no 2-gram shared with anyone
    val fp = Dedup.winnowFingerprints(spark, dir, k = 2, wWin = 2).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    // density: a 7-token doc has 6 grams and 5 full windows; the
    // fingerprint set is distinct window minima, so 1..5 of them
    fp.values.foreach(s => assert(s.nonEmpty && s.size <= 5))
    // the guarantee: docs 1 and 2 share >= 1 selected fingerprint
    assert((fp(1L) & fp(2L)).nonEmpty)
    assert((fp(1L) & fp(3L)).isEmpty && (fp(2L) & fp(3L)).isEmpty)
    val pairs = Dedup.winnowMatches(spark, dir, k = 2, wWin = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(pairs.map(p => (p._1, p._2)).toSeq == Seq((1L, 2L)))
    assert(pairs.head._3 == (fp(1L) & fp(2L)).size.toLong)
  }

  test("winnowing: identical docs select identical fingerprint sets; short docs select none") {
    val t = (1 to 20).map(i => s"w$i").mkString(" ")
    val dir = TestTables.documentsDir(spark, Seq(
      1L -> t, 2L -> t,
      3L -> "only seven tokens here not eight yet")) // 7 tokens < k=8: no grams
    val fp = Dedup.winnowFingerprints(spark, dir).collect() // k=8, wWin=4
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    assert(fp(1L) == fp(2L) && fp(1L).nonEmpty)
    // 20 tokens -> 13 grams -> 10 full windows; minima dedup below that
    assert(fp(1L).size <= 10)
    assert(!fp.contains(3L))
    val pairs = Dedup.winnowMatches(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(pairs.toSeq == Seq((1L, 2L, fp(1L).size.toLong)))
  }

  test("winnowing: Spark pipeline equals the independent reference on a seeded random corpus") {
    // 40 docs of random tokens (seeded — deterministic run-to-run),
    // lengths straddling every edge: < k, = k, < k+wWin-1, and long
    val rnd = new scala.util.Random(0xD12L)
    val docs = (1L to 40L).map { id =>
      val n = rnd.nextInt(41) // 0..40 tokens
      id -> (1 to n).map(_ => s"t${rnd.nextInt(12)}").mkString(" ")
    }
    val dir = TestTables.documentsDir(spark, docs)
    val got = Dedup.winnowFingerprints(spark, dir).collect() // k=8, wWin=4
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val want = docs.map { case (id, text) =>
      id -> RefWinnow.fingerprints(
        if (text.isEmpty) Seq("") else text.split(" ").toSeq, 8, 4)
    }.filter(_._2.nonEmpty).toMap
    assert(got == want)
  }

  test("lshCalibration: exact copies calibrate to zero error, bounds hold") {
    val base = (1 to 30).map(i => s"w$i").mkString(" ")
    val dir = TestTables.documentsDir(spark, Seq(
      1L -> base, 2L -> base, // identical: every seed collides, J = 1
      3L -> (31 to 60).map(i => s"v$i").mkString(" ")))
    val rows = Dedup.lshCalibration(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4), r.getDouble(5)))
    val ident = rows.find(t => t._1 == 1L && t._2 == 2L)
    assert(ident.contains((1L, 2L, 16L, 1.0, 1.0, 0.0)))
    rows.foreach { case (_, _, nm, est, jac, err) =>
      assert(nm >= 0L && nm <= 16L)
      assert(est >= 0.0 && est <= 1.0 && jac > 0.0 && jac <= 1.0)
      assert(err == math.abs(est - jac))
    }
  }

  test("MinHash-LSH entry points refuse an uneven (numHashes, bands) with one message") {
    import spark.implicits._
    val docs = Seq((1L, (1 to 30).map(i => s"w$i").mkString(" "))).toDF("doc_id", "text")
    val index = Dedup.bandSignatures(docs)
    val entries: Seq[(String, (Int, Int) => Any)] = Seq(
      "minhashLsh" -> ((h, b) => Dedup.minhashLsh(spark, dir, numHashes = h, bands = b)),
      "incrementalMinhash" ->
        ((h, b) => Dedup.incrementalMinhash(spark, dir, numHashes = h, bands = b)),
      "lshCalibration" -> ((h, b) => Dedup.lshCalibration(spark, dir, numHashes = h, bands = b)),
      "editNearDup" -> ((h, b) => Dedup.editNearDup(spark, dir, numHashes = h, bands = b)),
      "containmentEstimate" ->
        ((h, b) => Dedup.containmentEstimate(spark, dir, numHashes = h, bands = b)),
      "bandSignatures" -> ((h, b) => Dedup.bandSignatures(docs, numHashes = h, bands = b)),
      "indexCandidates" ->
        ((h, b) => Dedup.indexCandidates(docs, index, numHashes = h, bands = b)))
    // 16/3 discards a trailing hash; 4/8 would band zero hashes per band
    for ((h, b) <- Seq((16, 3), (4, 8))) {
      val refusals = entries.map { case (name, call) =>
        name -> intercept[IllegalArgumentException](call(h, b)).getMessage
      }
      val expected = s"requirement failed: numHashes ($h) must be a positive multiple of bands ($b)"
      refusals.foreach { case (name, msg) => assert(msg == expected, s"$name at ($h, $b)") }
    }
  }

  test("dupDegree: hub documents count every partner once, loners absent") {
    val t = (1 to 30).map(i => s"h$i").mkString(" ")
    val dir = TestTables.documentsDir(spark, Seq(
      1L -> t, 2L -> t, 3L -> t, // identical triple: a 3-clique, degree 2 each
      4L -> (31 to 60).map(i => s"z$i").mkString(" "))) // unrelated
    val got = Dedup.dupDegree(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 2L, 2L -> 2L, 3L -> 2L))
  }

  test("sourceSimilarity: identical slices sketch to est=1.0, disjoint slices stay low") {
    val text1 = (1 to 30).map(i => s"w$i").mkString(" ")
    val text2 = (31 to 60).map(i => s"v$i").mkString(" ")
    val sdir = TestTables.documentsSourcedDir(spark, Seq(
      (1L, text1, "A"), (2L, text1, "B"), // A and B hold the same shingle set
      (3L, text2, "C")))                  // C is disjoint from both
    val got = Dedup.sourceSimilarity(spark, sdir).collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    assert(got.keySet == Set(("A", "B"), ("A", "C"), ("B", "C"))) // ordered pairs only
    assert(got(("A", "B")) == ((16L, 1.0))) // identical sets: every seed's min collides
    // disjoint sets share a min-hash only on a hash coincidence — never all 16
    assert(got(("A", "C"))._1 < 16L)
    // A and C / B and C compare the SAME two shingle sets -> identical sketch verdicts
    assert(got(("A", "C")) == got(("B", "C")))
  }

  test("sourceSimilarity: min-hash composes under union (sketch of A∪B = min of sketches)") {
    import org.apache.spark.sql.functions._
    val t1 = (1 to 30).map(i => s"w$i").mkString(" ")
    val t2 = (31 to 60).map(i => s"v$i").mkString(" ")
    // U holds both docs; A and B hold one each — the per-slice sketch of U
    // must equal the element-wise min of A's and B's sketches
    val sdir = TestTables.documentsSourcedDir(spark, Seq(
      (1L, t1, "A"), (2L, t2, "B"), (3L, t1, "U"), (4L, t2, "U")))
    val sk = graft.operators.Tables.documents(spark, sdir)
      .select(col("source"), graft.operators.Tables.shingles(
        graft.operators.Tables.tokens(col("text"))).as("shs"))
      .select(col("source"), posexplode(graft.functions.MinHashes.minhashes(col("shs"), 16)))
      .groupBy("source", "pos").agg(min("col").as("mh"))
      .collect().map(r => (r.getString(0), r.getInt(1)) -> r.getLong(2)).toMap
    (0 until 16).foreach { s =>
      assert(sk(("U", s)) == math.min(sk(("A", s)), sk(("B", s))), s"seed $s")
    }
  }

  test("indexCandidates: rejects an index built under different (num_hashes, bands)") {
    import spark.implicits._
    val docs = Seq((2L, (1 to 30).map(i => s"w$i").mkString(" "))).toDF("doc_id", "text")
    // 8/2 and 16/4 share rowsPerBand = 4 — column-compatible, seed-incompatible:
    // exactly the silent-false-negative shape the bundled params must catch
    val index = Dedup.bandSignatures(docs, numHashes = 8, bands = 2)
    assert(index.columns.contains("num_hashes") && index.columns.contains("bands"))
    val e = intercept[IllegalArgumentException] {
      Dedup.indexCandidates(docs.withColumn("doc_id", col("doc_id") + 3), index,
        numHashes = 16, bands = 4)
    }
    assert(e.getMessage.contains("(8,2)"))
    // an unstamped (legacy) index fails fast too, before any join runs
    val legacy = intercept[IllegalArgumentException] {
      Dedup.indexCandidates(docs, index.drop("num_hashes", "bands"))
    }
    assert(legacy.getMessage.contains("rebuild"))
    // matching parameters still probe normally
    val ok = Dedup.indexCandidates(
      docs.withColumn("doc_id", col("doc_id") + 3), index, numHashes = 8, bands = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ok == Set(5L -> 2L))
  }

  test("segmentRepair: cross-doc boilerplate cut, within-doc repeats kept, order preserved") {
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val d = TestTables.documentsDir(spark, Seq(
      1L -> "a b c x y z p q r", // segments: "a b c" | "x y z" | "p q r"
      2L -> "a b c d e f",       // shares "a b c" with doc 1 -> both lose it
      3L -> "u v w u v w",       // same segment TWICE in one doc: self-repetition, kept
      4L -> "a b c",             // entirely boilerplate -> repaired to the empty doc
      5L -> "m n o p"))          // short tail segment "p" survives intact
    val got = Dedup.segmentRepair(spark, d, segTokens = 3, minDocs = 2).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(got(1L) == ((3L, 1L, md5hex("x y z p q r")))) // remaining order intact
    assert(got(2L) == ((2L, 1L, md5hex("d e f"))))
    assert(got(3L) == ((2L, 0L, md5hex("u v w u v w")))) // countDistinct, not count
    assert(got(4L) == ((1L, 1L, md5hex(""))))            // repaired-to-empty still a row
    assert(got(5L) == ((2L, 0L, md5hex("m n o p"))))
  }

  /** Independent reference Levenshtein (classic DP) — shares no code
    * with Spark's expression, so a semantic drift on either side fails
    * the differential.
    */
  private def refLev(a: String, b: String): Long = {
    val dp = Array.tabulate(a.length + 1)(i => i)
    for (j <- 1 to b.length) {
      var prev = dp(0)
      dp(0) = j
      for (i <- 1 to a.length) {
        val cur = dp(i)
        dp(i) = math.min(math.min(dp(i) + 1, dp(i - 1) + 1),
          prev + (if (a(i - 1) == b(j - 1)) 0 else 1))
        prev = cur
      }
    }
    dp(a.length).toLong
  }

  test("editNearDup (x111): LSH candidates carry exact Levenshtein + verdict") {
    // two near-identical long docs (LSH candidates by construction) and
    // one unrelated doc that must never pair with them
    val base = (1 to 30).map(i => s"tok$i").mkString(" ")
    val oneEdit = base.replace("tok7", "tok7x") // one insertion
    val dir = TestTables.documentsDir(spark, Seq(
      0L -> base, 1L -> oneEdit, 2L -> base,
      3L -> (1 to 30).map(i => s"other$i").mkString(" ")))
    val got = Dedup.editNearDup(spark, dir, minSim = 0.5).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5), r.getBoolean(6))))
      .toMap
    val texts = Map(0L -> base, 1L -> oneEdit, 2L -> base)
    assert(got.keySet == Set((0L, 1L), (0L, 2L), (1L, 2L)),
      s"unexpected candidate pairs: ${got.keySet}")
    got.foreach { case ((d1, d2), (len1, len2, dist, sim4, nd)) =>
      val (t1, t2) = (texts(d1), texts(d2))
      assert(len1 == t1.length.toLong && len2 == t2.length.toLong)
      assert(dist == refLev(t1, t2), s"pair ($d1,$d2) distance drifted")
      val expSim = BigDecimal(1.0 - dist.toDouble / math.max(len1, len2))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(sim4 == expSim && nd == (sim4 >= 0.5))
    }
    assert(got((0L, 2L)) == ((base.length.toLong, base.length.toLong, 0L, 1.0, true)))
  }

  test("containmentJoin (x116): finds the truncated copy symmetric Jaccard misses") {
    val big = (1 to 30).map(i => s"t$i").mkString(" ")   // 28 shingles
    val small = (1 to 10).map(i => s"t$i").mkString(" ") // 8 shingles, all in big
    val other = (1 to 12).map(i => s"z$i").mkString(" ")
    val dir = TestTables.documentsDir(spark, Seq(1L -> big, 2L -> small, 3L -> other))
    val got = Dedup.containmentJoin(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5)))).toMap
    assert(got.keySet == Set((2L, 1L)), "the excerpt is contained in the article")
    assert(got((2L, 1L)) == ((8L, 8L, 28L, 1.0)))
    // the motivating property: the same pair is INVISIBLE to symmetric
    // Jaccard at 0.8 (J = 8/28), even though containment is 1.0
    val jac = Dedup.ngramJaccard(spark, dir, threshold = 0.8).collect()
    assert(!jac.exists(r => Set(r.getLong(0), r.getLong(1)) == Set(1L, 2L)))
  }

  test("containmentJoin: threshold prunes partial containment; equal sizes tie to the lower id") {
    val big = (1 to 30).map(i => s"t$i").mkString(" ")
    // 10 tokens, 8 shingles, 7 shared with big -> containment 7/8 = 0.875
    val partial = (1 to 9).map(i => s"t$i").mkString(" ") + " q9"
    val twinA = (1 to 8).map(i => s"w$i").mkString(" ")
    val dir = TestTables.documentsDir(spark,
      Seq(1L -> big, 4L -> partial, 5L -> twinA, 6L -> twinA))
    val at09 = Dedup.containmentJoin(spark, dir, threshold = 0.9).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!at09.contains((4L, 1L)), "0.875 is pruned at 0.9")
    assert(at09.contains((5L, 6L)), "equal-size exact twins: d_small is the lower id")
    val at08 = Dedup.containmentJoin(spark, dir, threshold = 0.8).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5)))).toMap
    assert(at08((4L, 1L)) == ((7L, 8L, 28L, 7.0 / 8.0)), "kept at 0.8 with the exact count")
  }

  test("containmentEstimate (x125): exact copies calibrate to zero; the estimator law holds") {
    val base = (1 to 40).map(i => s"w$i").mkString(" ")
    val near = base.replace("w7", "q7")
    val dir = TestTables.documentsDir(spark, Seq(
      1L -> base, 2L -> base, // exact copies: m = 16, C-hat = C = 1.0
      3L -> near))
    val got = Dedup.containmentEstimate(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5), r.getDouble(6), r.getDouble(7))))
      .toMap
    val twins = got((1L, 2L))
    assert(twins._3 == 16L && twins._4 == 1.0 && twins._5 == 1.0 && twins._6 == 0.0,
      "byte-identical documents must calibrate to zero estimator error")
    got.foreach { case ((dS, dL), (nS, nL, m, est, exact, err)) =>
      assert(nS <= nL, s"($dS,$dL): canonical orientation")
      if (nS == nL) assert(dS < dL, "size ties orient to the lower id")
      // the derived-estimator law, recomputed independently
      assert(est == (m * (nS + nL)).toDouble / ((16L + m) * nS), s"($dS,$dL)")
      assert(math.abs(err - math.abs(est - exact)) == 0.0)
      assert(exact >= 0.0 && exact <= 1.0)
    }
    // the near-pair is a candidate (38 of 40 shingles shared) and its
    // exact column agrees with the containment join's verify
    assert(got.keySet.contains((1L, 3L)) || got.keySet.contains((3L, 1L)))
  }

  test("cdcChunks (x126): chunks match an independent reference chunker; edits resync") {
    val k = 4
    val div = 16L
    def refChunks(tokens: Seq[String]): Seq[(Long, Long, String)] = {
      // independent spelling on RefWinnow's gram hash (same md5 top-60)
      val bps =
        if (tokens.length < k) Seq.empty
        else tokens.sliding(k).map(RefWinnow.gramHash).zipWithIndex
          .collect { case (h, i) if h % div == 0 => (i + 1).toLong }.toSeq
      val starts = 1L +: bps.map(_ + 1)
      val ends = bps :+ tokens.length.toLong
      starts.zip(ends).map { case (s, e) =>
        val text = tokens.slice(s.toInt - 1, e.toInt).mkString(" ")
        val d = java.security.MessageDigest.getInstance("MD5")
          .digest(text.getBytes("UTF-8")).map("%02x".format(_)).mkString
        (s, e - s + 1, d)
      }
    }
    // enough tokens that the ~1/16 boundary rate all but guarantees
    // interior boundaries (deterministic either way — same hashes)
    val tokA = (1 to 120).map(i => s"tok$i")
    val tokB = "inserted" +: tokA // one token prepended
    val dir = TestTables.documentsDir(spark,
      Seq(10L -> tokA.mkString(" "), 11L -> tokB.mkString(" ")))
    val got = Dedup.cdcChunks(graft.operators.Tables.documents(spark, dir), k, div)
      .collect()
      .map(r => (r.getLong(0), r.getLong(2)) -> ((r.getLong(3), r.getLong(4), r.getString(5))))
      .toMap
    for ((id, toks) <- Seq(10L -> tokA, 11L -> tokB)) {
      val ref = refChunks(toks)
      assert(got.keySet.filter(_._1 == id).map(_._2) == (1 to ref.length).map(_.toLong).toSet)
      ref.zipWithIndex.foreach { case ((s, n, d), i) =>
        assert(got((id, i + 1L)) == ((s, n, d)), s"doc $id chunk ${i + 1}")
      }
      assert(ref.length >= 3, s"doc $id: fixture must exercise interior boundaries")
    }
    // the CDC point: boundaries are content-local, so the single
    // prepended token changes only the FIRST chunk — every later chunk
    // digest is shared (fixed-stride chunking would shift them all)
    val dA = (1 to got.keySet.count(_._1 == 10L)).map(i => got((10L, i.toLong))._3)
    val dB = (1 to got.keySet.count(_._1 == 11L)).map(i => got((11L, i.toLong))._3)
    assert(dA.drop(1) == dB.drop(1) && dA.head != dB.head,
      "an edit before the first boundary must leave every later chunk digest intact")
  }

  test("thresholdSweep (x131): one pair pass, exact integer membership per threshold") {
    // three disjoint near-dup bands: twins (J = 1.0), a one-token edit
    // (inter 35 / union 41 = 0.854), a two-token edit (32/44 = 0.727),
    // plus an unrelated doc. Expected survivors per pct:
    //   60/70: all three pairs; 80: twins + one-edit; 90: twins only
    val b1 = (1 to 40).map(i => s"a$i").mkString(" ")
    val b2 = (1 to 40).map(i => s"b$i").mkString(" ")
    val b3 = (1 to 40).map(i => s"c$i").mkString(" ")
    val dir = TestTables.documentsDir(spark, Seq(
      1L -> b1, 2L -> b1,
      3L -> b2, 4L -> b2.replace("b20", "x20"),
      5L -> b3, 6L -> b3.replace("c10", "y10").replace("c30", "y30"),
      9L -> (1 to 40).map(i => s"z$i").mkString(" ")))
    val got = Dedup.thresholdSweep(spark, dir).collect()
      .map(r => r.getInt(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    assert(got.keySet == Set(60, 70, 80, 90))
    assert(got(60) == ((3L, 6L, 3L, math.rint(3.0 / 7 * 10000) / 10000)))
    assert(got(70) == ((3L, 6L, 3L, math.rint(3.0 / 7 * 10000) / 10000)))
    assert(got(80) == ((2L, 4L, 2L, math.rint(2.0 / 7 * 10000) / 10000)))
    assert(got(90) == ((1L, 2L, 1L, math.rint(1.0 / 7 * 10000) / 10000)))
  }

  test("thresholdSweep: a pct with no surviving pair stays visible at zero") {
    val dir = TestTables.documentsDir(spark, Seq(
      1L -> (1 to 30).map(i => s"a$i").mkString(" "),
      2L -> (1 to 30).map(i => s"b$i").mkString(" ")))
    val got = Dedup.thresholdSweep(spark, dir, pcts = Seq(60, 90)).collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(3), r.getDouble(4)))).toMap
    assert(got == Map(60 -> ((0L, 0L, 0.0)), 90 -> ((0L, 0L, 0.0))))
  }

  test("sourceOverlap (x128): directed containment at chunk granularity; disjoint pairs absent") {
    val tA = (1 to 80).map(i => s"a$i").mkString(" ")
    val tB = (1 to 80).map(i => s"b$i").mkString(" ")
    val tC = (1 to 80).map(i => s"c$i").mkString(" ")
    // s1 carries A and B; s2 carries a verbatim copy of A (the feed);
    // s3 is disjoint — no row may pair it with anything
    val dir = TestTables.documentsSourcedDir(spark, Seq(
      (1L, tA, "s1"), (2L, tB, "s1"), (3L, tA, "s2"), (4L, tC, "s3")))
    val nA = Dedup.cdcChunks(graft.operators.Tables.documents(spark, dir))
      .filter("doc_id = 1").count()
    val nB = Dedup.cdcChunks(graft.operators.Tables.documents(spark, dir))
      .filter("doc_id = 2").count()
    val got = Dedup.sourceOverlap(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5)))).toMap
    assert(got.keySet == Set(("s1", "s2"), ("s2", "s1")), "disjoint sources never pair")
    assert(got(("s2", "s1")) == ((nA, nA + nB, nA, 1.0)),
      "the feed is fully contained in the aggregator")
    val (na1, nb1, i1, c1) = got(("s1", "s2"))
    assert(na1 == nA + nB && i1 == nA &&
      c1 == math.rint(nA.toDouble / (nA + nB) * 10000) / 10000,
      "the aggregator contains the feed only partially — direction matters")
  }

  test("chunkNovelty (x130): edited re-crawls score high, novel docs zero, copies one") {
    val base = (1 to 120).map(i => s"tok$i").mkString(" ")
    val edited = "inserted " + base
    val fresh = (1 to 60).map(i => s"new$i").mkString(" ")
    val dir = TestTables.documentsDir(spark, Seq(
      0L -> base, // the corpus side (even)
      1L -> edited, // new: one-token prepend -> all but the head chunk known
      3L -> fresh, // new: genuinely novel
      5L -> base)) // new: verbatim re-crawl
    val nEdited = Dedup.cdcChunks(graft.operators.Tables.documents(spark, dir))
      .filter("doc_id = 1").count()
    val got = Dedup.chunkNovelty(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(got.keySet == Set(1L, 3L, 5L))
    assert(got(5L)._1 == got(5L)._2 && got(5L)._3 == 1.0,
      "a verbatim re-crawl is fully known")
    assert(got(3L)._2 == 0L && got(3L)._3 == 0.0, "novel content scores zero")
    val (n1, k1, f1) = got(1L)
    assert(n1 == nEdited && k1 == n1 - 1,
      "the CDC resync law: exactly the edited head chunk is unknown")
    assert(f1 > 0.5, "an edited duplicate scores high — the signal x24's digest check misses")
  }

  test("cdcChunkDedup (x126): census counts corpus-wide copies; fold is per source") {
    // sources s1/s2 share one exact duplicate doc; s2 adds a unique one.
    // Short docs (< k tokens) are whole-doc chunks and census like any.
    val shared = (1 to 30).map(i => s"c$i").mkString(" ")
    val dir = TestTables.documentsSourcedDir(spark, Seq(
      (1L, shared, "s1"),
      (2L, shared, "s2"),
      (3L, (1 to 25).map(i => s"u$i").mkString(" "), "s2")))
    val got = Dedup.cdcChunkDedup(spark, dir).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5)))).toMap
    // duplicate docs chunk identically, so EVERY chunk of doc 1/2 is a
    // corpus-wide dup; doc 3 shares nothing
    val (n1, t1, d1, m1, f1) = got("s1")
    assert(t1 == 30L && d1 == n1 && m1 == 30L && f1 == 1.0,
      "an exact duplicate's chunks are all corpus-duplicated")
    val (n2, t2, d2, m2, f2) = got("s2")
    assert(t2 == 55L && d2 == n1 && m2 == 30L,
      "s2's dup mass is exactly its copy of the shared doc")
    assert(f2 == math.rint(30.0 / 55.0 * 10000) / 10000)
  }

  test("detectorAgreement (x142): reversed word order splits the detectors, hand-derived") {
    // (1,2) identical -> caught by BOTH (shingle J = 1, hamming 0);
    // (7,8) same token BAG reversed -> simhash (order-blind token
    // frequencies) sees hamming 0, while the shingle sets are DISJOINT
    // (no 3-gram survives reversal) so the minhash side verifies it
    // away; 9 is unrelated vocabulary on both fingerprints
    val d = TestTables.documentsDir(spark, Seq(
      1L -> "the quick brown fox jumps over the lazy dog again and again today",
      2L -> "the quick brown fox jumps over the lazy dog again and again today",
      7L -> "alpha bravo charlie delta echo foxtrot golf hotel india juliet",
      8L -> "juliet india hotel golf foxtrot echo delta charlie bravo alpha",
      9L -> "sphinx of black quartz judge my vow while the band plays on"))
    val r = Dedup.detectorAgreement(spark, d).collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getLong(4), r.getLong(5), r.getDouble(6)) ==
      ((1L, 2L, 1L, 0L, 1L, 2L, 0.5)))
  }

  test("detectorAgreement: set-algebra identities hold on harness data") {
    val r = Dedup.detectorAgreement(spark, "/root/testdata/sf0.001").collect().head
    val (nMh, nSh, nBoth, onlyMh, onlySh, nUnion) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
    assert(nUnion == nBoth + onlyMh + onlySh)
    assert(nMh == nBoth + onlyMh && nSh == nBoth + onlySh)
    assert(nBoth > 0L, "exact duplicates exist in the corpus and both detectors must see them")
    assert(r.getDouble(6) == math.rint(nBoth.toDouble / nUnion * 10000) / 10000)
  }

  test("bandSweep (x143): nested band boundaries make candidates monotone in b") {
    // consecutive-seed banding nests: sharing an 8-hash band implies
    // sharing both 4-hash halves, which imply their 2-hash halves —
    // candidates(2) is a subset of candidates(4) is a subset of
    // candidates(8), so every count is monotone nondecreasing in b
    val rows = Dedup.bandSweep(spark, dir).collect()
    assert(rows.map(_.getInt(0)).toSeq == Seq(2, 4, 8))
    val cands = rows.map(_.getLong(1)).toSeq
    val vers = rows.map(_.getLong(2)).toSeq
    assert(cands == cands.sorted && vers == vers.sorted, "monotone in band count")
    rows.foreach { r =>
      val (nc, nv, nt) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(nt == 2L, "exact truth: the identical pair and the near pair")
      assert(nv >= 1L && nv <= nc && nv <= nt,
        "the identical pair collides in EVERY banding; verified is bounded by both sides")
      assert(r.getDouble(4) == math.rint(nv.toDouble / nc * 10000) / 10000)
      assert(r.getDouble(5) == math.rint(nv.toDouble / nt * 10000) / 10000)
    }
  }

  test("bandSweep: laws hold on harness data; widest banding reaches full recall on exact dups") {
    val rows = Dedup.bandSweep(spark, "/root/testdata/sf0.001").collect()
    val cands = rows.map(_.getLong(1)).toSeq
    val vers = rows.map(_.getLong(2)).toSeq
    assert(cands == cands.sorted && vers == vers.sorted)
    val nTrue = rows.head.getLong(3)
    assert(nTrue ==
      Dedup.ngramJaccard(spark, "/root/testdata/sf0.001").count(),
      "truth is x3's exact relation at the same threshold")
    rows.foreach(r => assert(r.getLong(2) <= r.getLong(3)))
  }

  test("bandSweep: the r19 single-pass nested-band census equals the per-config union path") {
    // numHashes=12 admits a NON-nesting config pair (rows-per-band 4 vs
    // 3), which routes through the r18 per-config union fallback; the
    // nesting singleton Seq(4) routes through the r19 single-pass
    // census. The bands=4 row must be identical in both tables — the
    // two paths are the same operator.
    val sfDir = "/root/testdata/sf0.001"
    val viaFallback = Dedup.bandSweep(spark, sfDir, numHashes = 12,
      bandConfigs = Seq(3, 4)).collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val viaNested = Dedup.bandSweep(spark, sfDir, numHashes = 12,
      bandConfigs = Seq(2, 4)).collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(viaFallback(4) == viaNested(4),
      s"bands=4 census must agree across paths: ${viaFallback(4)} vs ${viaNested(4)}")
  }
}
