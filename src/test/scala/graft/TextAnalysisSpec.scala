package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.TextAnalysis

/** SURVEY.md §2b text analysis: stats/quality, lang-id, fingerprint,
  * token frequency.
  */
class TextAnalysisSpec extends AnyFunSuite with SparkSuite {

  private lazy val dir = TestTables.documentsDir(spark, Seq(
    1L -> "the cat sat on the mat", // 6 tokens, 'the' x2
    2L -> "uno dos tres cuatro",
    3L -> "a a a a")) // degenerate: one distinct token, all stopwords

  test("stats: token counts, ttr, stopword ratio, quality formula") {
    val byId = TextAnalysis.stats(spark, dir).collect()
      .map(r => r.getLong(0) -> r).toMap
    val r1 = byId(1L)
    assert(r1.getAs[Long]("n_tokens") == 6L)
    assert(r1.getAs[Long]("n_subtokens") == 6L) // plain words: same as whitespace
    assert(r1.getAs[Double]("ttr") == 5.0 / 6.0) // 'the' repeats
    assert(r1.getAs[Double]("stop_ratio") == 2.0 / 6.0) // stop_ratio counts duplicates
    val r3 = byId(3L)
    assert(r3.getAs[Double]("ttr") == 0.25 && r3.getAs[Double]("stop_ratio") == 1.0)
    // quality = ttr*0.5 + (1-stop)*0.3 + min(n/100,1)*0.2 exactly
    assert(r3.getAs[Double]("quality") == 0.25 * 0.5 + (1.0 - 1.0) * 0.3 + (4.0 / 100.0) * 0.2)
  }

  test("n_subtokens: BPE-ish regex splits digit runs and punctuation") {
    val d2 = TestTables.documentsDir(spark, Seq(1L -> "ab12 c-d  e"))
    val r = TextAnalysis.stats(spark, d2).collect().head
    assert(r.getAs[Long]("n_subtokens") == 6L) // ab|12|c|-|d|e
  }

  test("languageId: stopword hits pick the language, en wins ties") {
    val preds = TextAnalysis.languageId(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(preds(1L) == ("en", 1L)) // distinct stopword hits: {'the'}
    assert(preds(2L)._1 == "en") // zero everywhere -> priority order
    assert(preds(2L)._2 == 0L)
  }

  test("languageIdNgram: bigram profiles discriminate real-language samples") {
    val d2 = TestTables.documentsDir(spark, Seq(
      1L -> "the weather here and there in the north",
      2L -> "die kinder spielen in dem schoenen garten",
      3L -> "los ninos juegan en el parque de la ciudad"))
    val preds = TextAnalysis.languageIdNgram(spark, d2).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(preds(1L) == "en")
    assert(preds(2L) == "de")
    assert(preds(3L) == "es")
  }

  test("fingerprint matches a reference Scala implementation") {
    def ref(s: String): Long =
      s.foldLeft(0L)((acc, c) => (acc * 31 + c.toInt) % 2147483647L)
    val fps = TextAnalysis.fingerprint(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fps(1L) == ref("the cat sat on the mat"))
    assert(fps(2L) == ref("uno dos tres cuatro"))
  }

  test("normalize: whitespace variants collapse to one digest") {
    val d = TestTables.documentsDir(spark, Seq(
      1L -> "The  quick   fox ",
      2L -> "the quick fox",
      3L -> "a different doc"))
    val rows = TextAnalysis.normalize(spark, d).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(rows(1L)._1 == rows(2L)._1) // same digest after normalization
    assert(rows(1L)._2 == 4L && rows(2L)._2 == 0L) // 3 collapsed + 1 trimmed
    assert(rows(3L)._1 != rows(1L)._1)
  }

  test("topTokens: frequency order with lexicographic tie-break") {
    val rows = TextAnalysis.topTokens(spark, dir, n = 3).collect()
    assert(rows.head.getString(0) == "a" && rows.head.getLong(1) == 4L)
    assert(rows(1).getString(0) == "the" && rows(1).getLong(1) == 2L)
    // counts non-increasing; ties broken by token
    val pairs = rows.map(r => (r.getLong(1), r.getString(0)))
    pairs.zip(pairs.tail).foreach { case ((n1, t1), (n2, t2)) =>
      assert(n1 > n2 || (n1 == n2 && t1 < t2))
    }
  }

  test("redactPii: emails masked before phones, digits in emails never double-count") {
    import spark.implicits._
    val df = Seq(
      (1L, "reach a@b.co or x@y.io else +1-555-9 bye"),
      (2L, "only +1-555-1234@mail.com here"), // phone-shaped local part IS the email
      (3L, "nothing to hide")).toDF("doc_id", "text")
    val got = graft.operators.TextAnalysis.redactPii(df).collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2)))).toMap
    assert(got(1L) == ((2, 1)))
    assert(got(2L) == ((1, 0))) // consumed by the email mask, not counted again
    assert(got(3L) == ((0, 0)))
  }

  test("tfidfTerms: rare terms outrank common ones, tf scales the score") {
    val dir = TestTables.documentsDir(spark, Seq(
      1L -> "apple apple banana",  // apple: tf=2, df=1; banana: tf=1, df=3
      2L -> "banana cherry",       // cherry: tf=1, df=1
      3L -> "banana banana banana"))
    val rows = graft.operators.TextAnalysis.tfidfTerms(spark, dir, topN = 3).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getLong(3), r.getLong(4), r.getDouble(5)))
    val byDoc = rows.groupBy(_._1)
    // doc 1: apple scores 2·3/1 = 6 over banana's 1·3/3 = 1
    assert(byDoc(1L).sortBy(_._2).map(_._3).toSeq == Seq("apple", "banana"))
    assert(byDoc(1L).head._6 == 6.0)
    // doc 2: the corpus-unique cherry (3.0) outranks the everywhere-banana (1.0)
    assert(byDoc(2L).sortBy(_._2).map(_._3).toSeq == Seq("cherry", "banana"))
    // doc 3: one term, tf=3 but df=3 -> score 3·3/3 = 3
    assert(byDoc(3L).map(t => (t._3, t._4, t._5, t._6)).toSeq == Seq(("banana", 3L, 3L, 3.0)))
  }

  test("compressionRatio: exact reference deflate; repetitive < prose < noise ordering") {
    import spark.implicits._
    val repetitive = Seq.fill(60)("spam").mkString(" ")
    val prose = Seq(
      "the quick brown fox jumps over the lazy dog and then wanders",
      "slowly home through the quiet evening streets full of amber light",
      "where the dog sleeps and the fox waits for the morning to come",
      "over the hills and through the fields the lazy evening settles",
      "and the quiet light of morning finds the streets full of foxes").mkString(" ")
    // sha-256 bytes are computationally incompressible; concatenated
    // digests give deflate nothing to model
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val noise = java.util.Base64.getEncoder.encodeToString(
      (1 to 10).flatMap(i => md.digest(s"noise$i".getBytes("UTF-8")).toSeq).toArray)
    val docs = Seq((1L, repetitive), (2L, prose), (3L, noise)).toDF("doc_id", "text")
    val got = TextAnalysis.compressionRatio(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    // bit-for-bit against an independent in-test deflate
    def ref(s: String): Long = {
      val d = new java.util.zip.Deflater(java.util.zip.Deflater.BEST_COMPRESSION)
      try {
        d.setInput(s.getBytes("UTF-8")); d.finish()
        val buf = new Array[Byte](8192); var t = 0L
        while (!d.finished()) t += d.deflate(buf)
        t
      } finally d.end()
    }
    Seq(1L -> repetitive, 2L -> prose, 3L -> noise).foreach { case (id, s) =>
      assert(got(id)._1 == s.getBytes("UTF-8").length.toLong)
      assert(got(id)._2 == ref(s), s"doc $id deflate mismatch")
      assert(got(id)._3 == ref(s).toDouble / s.getBytes("UTF-8").length)
    }
    // the quality-signal ordering the filter relies on
    assert(got(1L)._3 < got(2L)._3 && got(2L)._3 < got(3L)._3,
      s"expected repetitive < prose < noise, got $got")
  }

  test("compressionRatio: null text -> all-null measurements; empty text -> null ratio") {
    import spark.implicits._
    val docs = Seq((1L, null: String), (2L, ""), (3L, "x")).toDF("doc_id", "text")
    val rows = TextAnalysis.compressionRatio(docs).collect()
      .map(r => r.getLong(0) -> r).toMap
    // null text: no byte count exists — every measurement is null, never
    // an NPE (the corpus model includes null text; see bloomPrefilter)
    assert(rows(1L).isNullAt(1) && rows(1L).isNullAt(2) && rows(1L).isNullAt(3))
    // empty text: raw_bytes = 0 is a real measurement, the deflate
    // header bytes are reported as measured, but 0/0 is NOT a ratio —
    // null, so no downstream `ratio < t` gate passes it silently
    assert(rows(2L).getLong(1) == 0L)
    assert(rows(2L).getLong(2) > 0L)
    assert(rows(2L).isNullAt(3))
    // the one-byte control row stays fully populated
    assert(rows(3L).getLong(1) == 1L && !rows(3L).isNullAt(3))
    // the audit view: envelope verdict TRUE for real rows (empty text's
    // header bytes included), NULL through null text
    val audit = TextAnalysis.compressionAudit(docs).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(audit(1L).isNullAt(2))
    assert(audit(2L).getBoolean(2) && audit(3L).getBoolean(2))
  }

  test("bm25TopK: probe selection, exact scores, rank order, short tokens never probe") {
    // df: elephant=2, giraffe=2, zebra=1; probes (len>=6, df desc, token
    // asc) = {elephant, giraffe} — zebra is 5 chars; N=4, total_toks=12,
    // avgdl=3.0
    val d = TestTables.documentsDir(spark, Seq(
      1L -> "elephant elephant giraffe",
      2L -> "elephant zebra zebra",
      3L -> "giraffe giraffe giraffe giraffe",
      4L -> "cat dog"))
    val got = TextAnalysis.bm25TopK(spark, d).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    // the test recomputes the formula with the plan's exact operation
    // order — the assertions are bit-exact, not approximate
    def score(tf: Long, df: Long, dl: Long): Double = {
      val idf = (4.0 - df + 0.5) / (df.toDouble + 0.5)
      idf * ((tf.toDouble * (1.2 + 1.0)) /
        (tf.toDouble + 1.2 * (1.0 - 0.75 + 0.75 * (dl.toDouble / (12.0 / 4L)))))
    }
    assert(got.toSeq == Seq(
      ("elephant", 1, 1L, score(2, 2, 3)), // tf=2 beats tf=1
      ("elephant", 2, 2L, score(1, 2, 3)),
      ("giraffe", 1, 3L, score(4, 2, 4)),  // high-tf long doc still wins
      ("giraffe", 2, 1L, score(1, 2, 3))))
    // zebra (5 chars) matched documents but is not a probe
    assert(!got.exists(_._1 == "zebra"))
  }

  test("bm25TopK: k bounds each probe's list; ties break to the lower doc_id") {
    // four docs identical under the formula for token 'mirror' (same tf,
    // same dl): ranks must come out 1..k by doc_id
    val d = TestTables.documentsDir(spark, Seq(
      1L -> "mirrors mirrors", 2L -> "mirrors mirrors",
      3L -> "mirrors mirrors", 4L -> "mirrors mirrors"))
    val got = TextAnalysis.bm25TopK(spark, d, k = 3).collect()
      .map(r => (r.getInt(1), r.getLong(2)))
    assert(got.toSeq == Seq((1, 1L), (2, 2L), (3, 3L))) // k=3 of 4 equal scores
  }

  test("bm25TopKFromIndexAuto: no lexicon token reaches the probe length -> empty result, not a failure") {
    // the x69 empty-probe law must hold on the INDEXED face too (the
    // r16 review finding: the term-derivation path fed an empty list
    // into the probe's nonEmpty refusal and crashed where the in-memory
    // twin and the oracle both yield empty)
    val d = TestTables.documentsDir(spark, Seq(1L -> "a bb ccc dddd", 2L -> "ee fff g"))
    val idx = java.nio.file.Files.createTempDirectory("graft-bm25-empty").toString
    TextAnalysis.writeBm25Index(spark, d, idx)
    val got = TextAnalysis.bm25TopKFromIndexAuto(spark, idx)
    assert(got.collect().isEmpty)
    assert(got.columns.toSeq == Seq("token", "rank", "doc_id", "score"))
  }

  test("bm25TopK: no token reaches the probe length -> empty result, not a failure") {
    val d = TestTables.documentsDir(spark, Seq(1L -> "cat dog", 2L -> "fish bird"))
    assert(TextAnalysis.bm25TopK(spark, d).collect().isEmpty)
  }

  test("bm25TopKFromIndexAuto (x184): index-derived probe terms reproduce bm25TopK bit-exact") {
    // the indexed key's self-contained form: the probe terms come from
    // the persisted LEXICON by exactly x69's data-derived rule, so the
    // whole pipeline (derive -> bucket-pruned probe) must equal the
    // in-memory operator row for row on the same corpus
    val sfDir = "/root/testdata/sf0.001"
    val idx = java.nio.file.Files.createTempDirectory("graft-bm25-auto").toString
    TextAnalysis.writeBm25Index(spark, sfDir, idx)
    val expected = TextAnalysis.bm25TopK(spark, sfDir).collect().map(_.toSeq).toSeq
    assert(expected.nonEmpty)
    val got = TextAnalysis.bm25TopKFromIndexAuto(spark, idx).collect().map(_.toSeq).toSeq
    assert(got == expected)
  }

  test("persisted BM25 index: probe equals bm25TopK bit-exact; buckets prune; corrupt stats refused") {
    val d = TestTables.documentsDir(spark, Seq(
      1L -> "elephant elephant giraffe",
      2L -> "elephant zebra zebra",
      3L -> "giraffe giraffe giraffe giraffe",
      4L -> "cat dog"))
    val idx = s"$d/bm25-index"
    TextAnalysis.writeBm25Index(spark, d, idx, nBuckets = 16)
    val expected = TextAnalysis.bm25TopK(spark, d).collect()
    assert(expected.nonEmpty)
    val terms = expected.map(_.getString(0)).distinct.toSeq
    val probe = TextAnalysis.bm25TopKFromIndex(spark, idx, terms)
    assert(probe.collect().map(_.toSeq).toSeq == expected.map(_.toSeq).toSeq)
    // the postings read is pruned to the probed terms' buckets — a
    // strict minority of the index's bucket directories
    def fileScans(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.FileSourceScanExec] = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        fileScans(a.executedPlan)
      case s: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        fileScans(s.plan)
      case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec =>
        fileScans(r.child)
      case f: org.apache.spark.sql.execution.FileSourceScanExec => Seq(f)
      case other => other.children.flatMap(fileScans)
    }
    val scanned = fileScans(probe.queryExecution.executedPlan)
      .filter(_.metadata.get("Location").exists(_.contains("postings")))
      .map(_.metrics("numFiles").value).sum
    def parquetFilesUnder(f: java.io.File): Long = {
      val kids = Option(f.listFiles()).map(_.toSeq).getOrElse(Seq.empty)
      kids.count(p => p.isFile && p.getName.endsWith(".parquet")) +
        kids.filter(_.isDirectory).map(parquetFilesUnder).sum
    }
    val total = parquetFilesUnder(new java.io.File(s"$idx/postings"))
    assert(scanned > 0 && scanned < total,
      s"probe scanned $scanned of $total postings files — pruning must hold")
    // a term absent from the lexicon contributes no rows — same output
    val withGhost = TextAnalysis.bm25TopKFromIndex(spark, idx, terms :+ "nonexistent7")
    assert(withGhost.collect().map(_.toSeq).toSeq == expected.map(_.toSeq).toSeq)
    // refusal contracts: empty probe list; a corrupt (two-row) stamp —
    // `meta/`, the index's one stamp
    intercept[IllegalArgumentException] {
      TextAnalysis.bm25TopKFromIndex(spark, idx, Seq.empty)
    }
    val bad = s"$d/bm25-bad"
    val meta = spark.read.parquet(s"$idx/meta")
    meta.union(meta).write.mode("overwrite").parquet(s"$bad/meta")
    val e = intercept[IllegalArgumentException] {
      TextAnalysis.bm25TopKFromIndex(spark, bad, Seq("elephant"))
    }
    assert(e.getMessage.contains("corrupt index"))
  }

  test("bigramLm: hand-computed conditional probabilities; short docs excluded") {
    // corpus bigram counts: ab=3 (d1 twice, d2 once), ba=1, bc=1;
    // prefix counts over bigram-start positions: a=3, b=2
    val d = TestTables.documentsDir(spark, Seq(
      1L -> "a b a b", // bigrams ab, ba, ab -> condp 3/3, 1/2, 3/3
      2L -> "a b c",   // bigrams ab, bc    -> condp 3/3, 1/2
      3L -> "z"))      // one token: no bigrams, excluded
    val got = TextAnalysis.bigramLm(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    assert(got.toSeq == Seq(
      (1L, 3L, 0.5, 7.0 / 8.0),  // pooled = (3+1+3)/(3+2+3)
      (2L, 2L, 0.5, 4.0 / 5.0))) // pooled = (3+1)/(3+2)
  }

  test("bigramLm: scrambled text keeps unigram rarity but craters the bigram signal") {
    // fluent docs share the ordered phrase; the scrambled doc has the
    // same token multiset (identical bag-of-words rarity) but its
    // bigrams appear nowhere else in the corpus
    val d = TestTables.documentsDir(spark, Seq(
      1L -> "the quick brown fox jumps high",
      2L -> "the quick brown fox jumps far",
      3L -> "fox the jumps quick high brown"))
    val lm = TextAnalysis.bigramLm(spark, d).collect()
      .map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(lm(3L) < lm(1L) && lm(3L) < lm(2L))
    val rarity = TextAnalysis.rarityScore(spark, d).collect()
      .map(r => r.getLong(0) -> r.getAs[Double]("mean_rarity")).toMap
    assert(rarity(3L) == rarity(1L)) // rarity is blind to the scramble
  }

  test("collocations: exact PMI arithmetic, minCount guards hapax pairs, presentation order") {
    // bigrams: "new york" x3 always adjacent; "big data" x2; "of the" x4
    // but 'of' and 'the' roam (high marginals -> low association);
    // "rare pair" occurs once -> filtered by minCount=2
    val d = TestTables.documentsDir(spark, Seq(
      1L -> "new york of the big data of the rare pair",
      2L -> "new york big data of the of of the the",
      3L -> "new york"))
    val got = TextAnalysis.collocations(spark, d, minCount = 2L, topN = 10).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    val byPair = got.map(t => (t._1, t._2) -> t).toMap
    assert(!byPair.contains(("rare", "pair")))
    val nb = 9L + 9L + 1L // bigram positions per doc (n-1 each)
    val ny = byPair(("new", "york")) // c_xy=3, c_x("new" starts)=3, c_y=3
    assert(ny._3 == 3L && ny._4 == (3.0 * nb) / (3.0 * 3.0))
    val ot = byPair(("of", "the")) // c_xy=4; 'of' starts 5 bigrams, 'the' ends 5
    assert(ot._3 == 4L && ot._4 == (4.0 * nb) / (5.0 * 5.0))
    // the tight pair must out-associate the promiscuous one
    assert(ny._4 > ot._4)
    // presentation: assoc desc, then (w1, w2)
    assert(got.map(_._4).toSeq == got.map(_._4).sortBy(-_).toSeq)
  }

  private def pplDraw(id: Long): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest(s"ppl:$id".getBytes("UTF-8"))
    java.lang.Long.parseLong(md.take(4).map("%02x".format(_)).mkString, 16) % 100L
  }

  test("perplexityBuckets: tertile rule recomputed independently, ties share the better bucket") {
    // two identical fluent docs (every bigram repeated -> high pooled_condp,
    // EXACTLY equal scores) + four distinct word salads
    // salads share ONE vocabulary in clashing orders (unique tokens would
    // score cb/cu = 1/1 — the classic unseen-word maximal-fluency quirk)
    val fluent = "the cat sat on the mat the cat sat on the mat"
    val d = TestTables.documentsDir(spark, Seq(
      1L -> fluent, 2L -> fluent,
      3L -> "a b c d e f g h",
      4L -> "b d f h a c e g",
      5L -> "c g b f a e d h",
      6L -> "h f d b g e c a"))
    val got = TextAnalysis.perplexityBuckets(spark, d, samplePct = 100).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getString(3)))
    assert(got.length == 6)
    // recompute the cutoff rule from the returned scores, independently
    val ranked = got.sortBy(t => (-t._3, t._1))
    val ns = ranked.length
    val headMin = ranked((ns + 2) / 3 - 1)._3
    val midMin = ranked((2 * ns + 2) / 3 - 1)._3
    got.foreach { case (_, _, p, b) =>
      val want = if (p >= headMin) "head" else if (p >= midMin) "middle" else "tail"
      assert(b == want)
    }
    // the identical pair ties exactly and lands together in head
    val pair = got.filter(t => t._1 <= 2L)
    assert(pair.map(_._3).distinct.length == 1 && pair.forall(_._4 == "head"))
    assert(got.count(_._4 == "head") >= 2 && got.count(_._4 == "tail") >= 1)
  }

  test("perplexityBuckets: stratified per language; unsampled langs and sub-2-token docs absent") {
    // ids whose content-stable draw keeps them in / out of a 40% sample
    val in = (1L to 400L).filter(pplDraw(_) < 40L)
    val out = (1L to 400L).filter(pplDraw(_) >= 40L)
    assert(in.length >= 4 && out.nonEmpty)
    val fluent = "a b a b a b a b a b"
    val docs =
      in.take(4).map(id => (id, s"u$id v$id w$id x$id", "low")) :+ // distinct salads
        ((in(4), fluent, "hi")) :+ ((in(5), fluent, "hi")) :+
        ((out.head, "m n o p q r", "zz")) :+ // lang zz never sampled -> no calibration
        ((in(6), "solo", "en")) // 1 token -> no bigram -> no score
    val d = TestTables.documentsLangDir(spark, docs)
    val got = TextAnalysis.perplexityBuckets(spark, d, samplePct = 40).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(3)))
    assert(!got.exists(_._2 == "zz")) // no sampled doc -> lang excluded
    assert(!got.exists(_._1 == in(6))) // unscoreable doc absent
    // every calibrated language gets its own head — even the all-salad one
    assert(got.exists(t => t._2 == "low" && t._3 == "head"))
    assert(got.exists(t => t._2 == "hi" && t._3 == "head"))
  }

  test("rarityScore: a doc of corpus-ubiquitous tokens scores exactly zero") {
    // every token appears in every doc -> N - df = 0 for all of them
    val d = TestTables.documentsDir(spark, Seq(
      1L -> "same words here", 2L -> "same words here", 3L -> "same words here"))
    val got = TextAnalysis.rarityScore(spark, d).collect()
      .map(r => (r.getLong(2), r.getDouble(3)))
    assert(got.toSeq == Seq((0L, 0.0), (0L, 0.0), (0L, 0.0)))
  }

  test("rarityScore: exact integer idf-mass, ubiquitous tokens contribute zero") {
    val d = TestTables.documentsDir(spark, Seq(
      1L -> "common common rare",
      2L -> "common unique",
      3L -> "")) // degenerate: one empty-string token
    val got = TextAnalysis.rarityScore(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    // N=3; df: common=2, rare=1, unique=1, ""=1; each occurrence
    // contributes N−df, so doc1 = 2·(3−2) + 1·(3−1) = 4 over 3 tokens
    assert(got.toSeq == Seq(
      (1L, 3L, 4L, 4.0 / 3.0),
      (2L, 2L, 3L, 3.0 / 2.0),
      (3L, 1L, 2L, 2.0)))
  }

  test("bpePairStats: frequency-weighted adjacent char pairs, ties break on the pair") {
    // words: low x2, lower x1 -> (l,o)=3, (o,w)=3, (e,r)=1, (w,e)=1
    val d = TestTables.documentsDir(spark, Seq(1L -> "low low", 2L -> "lower"))
    val got = TextAnalysis.bpePairStats(spark, d).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(got.toSeq == Seq(
      ("l", "o", 3L), ("o", "w", 3L), ("e", "r", 1L), ("w", "e", 1L)))
  }

  test("trainBpeMerges: skip-after-merge on overlapping runs; stops when no pair remains") {
    // "aaaa": round 1 counts (a,a)=3 but applies left-to-right with
    // skip -> [aa, aa]; round 2 merges (aa,aa)=1 -> [aaaa]; round 3
    // finds no pair and stops early
    val d = TestTables.documentsDir(spark, Seq(1L -> "aaaa"))
    val got = BpeReference.trainBpeMerges(spark, d, nMerges = 5)
    assert(got == Seq((1, "a", "a", 3L), (2, "aa", "aa", 1L)))
  }

  test("trainBpeMerges: differential against an independent naive reference") {
    val words = Seq("low", "low", "low", "lower", "newest", "newest", "widest")
    def naive(ws: Seq[String], n: Int): Seq[(Int, String, String, Long)] = {
      var vocab: Map[List[String], Long] =
        ws.groupBy(identity).map { case (w, g) => (w.map(_.toString).toList, g.size.toLong) }
      val out = Seq.newBuilder[(Int, String, String, Long)]
      var rank = 1
      var done = false
      while (rank <= n && !done) {
        val counts = scala.collection.mutable.Map.empty[(String, String), Long]
        vocab.foreach { case (syms, c) =>
          syms.zip(syms.tail).foreach(p => counts(p) = counts.getOrElse(p, 0L) + c)
        }
        if (counts.isEmpty) done = true
        else {
          val ((l, r), c) = counts.toSeq.sortBy { case ((l, r), c) => (-c, l, r) }.head
          out += ((rank, l, r, c))
          vocab = vocab.map { case (syms, cnt) =>
            val b = List.newBuilder[String]
            var i = 0
            while (i < syms.length) {
              if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) {
                b += l + r; i += 2
              } else { b += syms(i); i += 1 }
            }
            (b.result(), cnt)
          }
          rank += 1
        }
      }
      out.result()
    }
    val d = TestTables.documentsDir(spark, Seq(1L -> words.mkString(" ")))
    assert(BpeReference.trainBpeMerges(spark, d, nMerges = 6) == naive(words, 6))
  }

  test("trainBpeMergesLocal: bit-identical to the relational loop (overlaps, ties, multi-doc)") {
    val d = TestTables.documentsDir(spark, Seq(
      1L -> "low low low lower newest newest", 2L -> "widest aaaa abab"))
    assert(TextAnalysis.trainBpeMergesLocal(spark, d, nMerges = 12) ==
      BpeReference.trainBpeMerges(spark, d, nMerges = 12))
  }

  test("trainBpeMergesLocal: UTF-8 byte tie-break agrees with Spark's binary string order on supplementary chars") {
    // count tie between pairs led by U+E000 and U+10000: Java's UTF-16
    // String.compareTo orders the supplementary char FIRST, Spark's
    // binary UTF8String order puts it LAST — the in-memory comparator
    // must agree with Spark, not with Java
    val hi = "\uE000" // UTF-8: EE 80 80
    val supp = new String(Character.toChars(0x10000)) // UTF-8: F0 90 80 80
    val d = TestTables.documentsDir(spark, Seq(1L -> s"${hi}x ${supp}x"))
    val local = TextAnalysis.trainBpeMergesLocal(spark, d, nMerges = 2)
    assert(local == BpeReference.trainBpeMerges(spark, d, nMerges = 2))
    assert(local.head._2 == hi, "UTF-8 byte order ranks U+E000 before U+10000")
  }

  test("trainBpeMergesLocal: equals the relational loop on the sf0.001 corpus; 1k merges run in driver memory") {
    val dir = "/root/testdata/sf0.001"
    assert(TextAnalysis.trainBpeMergesLocal(spark, dir, nMerges = 20) ==
      BpeReference.trainBpeMerges(spark, dir, nMerges = 20))
    // the synthetic corpus holds only 31 distinct tokens, so training
    // exhausts well before production merge counts — the local loop must
    // stop exactly where the relational loop would, with dense ranks
    val big = TextAnalysis.trainBpeMergesLocal(spark, dir, nMerges = 1000)
    assert(big.nonEmpty && big.length <= 1000)
    assert(big.map(_._1) == (1 to big.length), "ranks are dense from 1")
  }

  test("trainBpeMergesInMemory: production merge counts (2k) complete in driver memory in seconds") {
    // a 20k-word Zipf-ish vocabulary (deterministic LCG): the corpus
    // shape the driver-memory loop exists for — the relational loop at
    // this parameterization would be 2 000 Spark jobs
    var seed = 42L
    def nextInt(bound: Int): Int = {
      seed = seed * 6364136223846793005L + 1442695040888963407L
      (((seed >>> 33) % bound).toInt + bound) % bound
    }
    val vocab = Array.tabulate(20000) { i =>
      val len = 3 + nextInt(12)
      val w = Array.fill(len)(('a' + nextInt(26)).toChar.toString)
      (w, (20000L / (i + 1)) + 1L) // Zipf-ish weight
    }
    val t0 = System.nanoTime()
    val merges = TextAnalysis.trainBpeMergesInMemory(vocab, nMerges = 2000)
    val sec = (System.nanoTime() - t0) / 1e9
    info(f"2000 merges over 20k words (driver-memory): $sec%.2f s, ${merges.length} emitted")
    assert(merges.length == 2000, s"vocab supports 2k merges, got ${merges.length}")
    assert(sec < 60.0, f"driver-memory loop must stay interactive, took $sec%.1f s")
    // counts never negative and ranks dense — loop invariants at scale
    assert(merges.forall(_._4 > 0L))
    assert(merges.map(_._1) == (1 to 2000))
  }

  test("bpeFertility: empty merges give weighted mean word length; merges reduce it per lang") {
    // en: ab x2, abc x1 -> chars: (2*2 + 3)/3; de: xy x1 -> 2/1;
    // fr: one word of a supplementary character (U+1F600, two UTF-16
    // code units) and x -> 2 code points, the `length` of the word
    val smile = "\uD83D\uDE00"
    val d = TestTables.documentsLangDir(spark, Seq(
      (1L, "ab abc ab", "en"), (2L, "xy", "de"), (3L, s"${smile}x", "fr")))
    val base = TextAnalysis.bpeFertility(spark, d, merges = Nil).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(base.toSeq == Seq(("de", 1L, 2L, 2.0), ("en", 3L, 7L, 7.0 / 3.0),
      ("fr", 1L, 2L, 2.0)))
    // merge (a,b): ab -> 1 symbol, abc -> [ab, c] = 2; de untouched;
    // a merge involving the supplementary character applies like any other
    val merged = TextAnalysis.bpeFertility(spark, d,
      merges = Seq(("a", "b"), (smile, "x"))).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(merged.toSeq == Seq(("de", 1L, 2L, 2.0), ("en", 3L, 4L, 4.0 / 3.0),
      ("fr", 1L, 1L, 1.0)))
    // a trained merge list applies in rank order: (a,a) then (aa,aa)
    val d2 = TestTables.documentsDir(spark, Seq(1L -> "aaaa aaaa aa"))
    val trained = TextAnalysis.trainBpeMergesLocal(spark, d2, nMerges = 2)
      .map(m => (m._2, m._3))
    val f2 = TextAnalysis.bpeFertility(spark, d2, trained).collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getDouble(3)))
    // aaaa -> [aaaa] (1 sym) x2; aa -> [aa] (1 sym) x1 -> fertility 1.0
    assert(f2.toSeq == Seq((3L, 3L, 1.0)))
  }

  test("oovRate (x113): top-N vocab cut, per-source instance rates, count-desc/token-asc ties") {
    // corpus counts: "a"x4, "b"x3, "c"x2, "d"x1 -> vocab(2) = {a, b}
    val dir = TestTables.documentsSourcedDir(spark, Seq(
      0L -> ("a a b c", "s1"),
      1L -> ("a a b b d", "s2"),
      2L -> ("c", "s2")).map { case (id, (t, s)) => (id, t, s) })
    val got = TextAnalysis.oovRate(spark, dir, vocabSize = 2).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(got("s1") == ((4L, 1L, 0.25)))      // c is OOV
    assert(got("s2") == ((6L, 2L, 2.0 / 6.0))) // d and the second c doc
  }

  test("oovRate: ties at the vocab boundary cut by token asc; vocab larger than corpus is total coverage") {
    // "x" and "y" both count 2: vocabSize=1 must keep "x" (token asc)
    val dir = TestTables.documentsSourcedDir(spark, Seq(
      (0L, "y x", "s1"), (1L, "x y", "s1")))
    val got = TextAnalysis.oovRate(spark, dir, vocabSize = 1).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got("s1") == ((4L, 2L)), "the tie must resolve to keeping 'x'")
    val all = TextAnalysis.oovRate(spark, dir, vocabSize = 10).collect()
    assert(all.head.getLong(2) == 0L && all.head.getDouble(3) == 0.0)
  }

  test("vocabTokens + oovProjection: the literal-vocab spelling equals oovRate's in-plan cut") {
    val docs = Seq(
      (1L, "a a a b b c", "s1"), (2L, "b c d d", "s2"), (3L, "e e e e", "s2"))
    val dir = TestTables.documentsSourcedDir(spark, docs)
    // counts: e=4, a=3, b=3, c=2, d=2 -> top-3 by (count desc, token asc)
    assert(TextAnalysis.vocabTokens(spark, dir, 3) == Seq("e", "a", "b"))
    val batch = TextAnalysis.oovRate(spark, dir, vocabSize = 3).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val proj = TextAnalysis.oovProjection(
        graft.operators.Tables.documents(spark, dir),
        TextAnalysis.vocabTokens(spark, dir, 3))
      .groupBy("source")
      .agg(org.apache.spark.sql.functions.sum("n_tokens").as("t"),
        org.apache.spark.sql.functions.sum("n_oov").as("o"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(batch == proj, "in-plan vocab cut and collected-literal cut cannot drift")
    assert(batch == Map("s1" -> ((6L, 1L)), "s2" -> ((8L, 3L))))
  }

  test("vocabCoverage (x119): count-of-counts contraction equals the naive rank law") {
    // counts: a=6, b=3, d=3, c=1 -> total 13; classes 6->{a}, 3->{b,d},
    // 1->{c}. Naive ranks (count desc, token asc): a=1, b=2, d=3, c=4.
    //  50%: need 100*cum >= 650  -> rank 2 (cum 9)
    //  90%: need >= 1170         -> rank 3 (cum 12)
    //  95%: need >= 1235         -> rank 4 (cum 13)
    //  99%: need >= 1287         -> rank 4
    // 90% exercises the multi-token class (steps = 2 INSIDE class 3).
    val dir = TestTables.documentsDir(spark, Seq(
      1L -> "a a a b b d", 2L -> "a a a b d d c"))
    val got = TextAnalysis.vocabCoverage(spark, dir).collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))))
      .toMap
    assert(got(50) == ((2L, 9L, 13L, 0.6923)))
    assert(got(90) == ((3L, 12L, 13L, 0.9231)))
    assert(got(95) == ((4L, 13L, 13L, 1.0)))
    assert(got(99) == ((4L, 13L, 13L, 1.0)))
  }

  test("vocabCoverage: an exact class boundary needs no extra rank") {
    // a=5, b=5 -> total 10; 50% is EXACTLY rank 1's mass (100*5 = 50*10)
    val dir = TestTables.documentsDir(spark, Seq(1L -> "a a a a a b b b b b"))
    val got = TextAnalysis.vocabCoverage(spark, dir, pcts = Seq(50, 100)).collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got(50) == ((1L, 5L)), "exact equality must not spill into the next rank")
    assert(got(100) == ((2L, 10L)))
  }

  test("zipfProfile (x120): doubling probe ranks, exact products, per-lang totals") {
    // en: a=8, b=4, c=2, d=1 (total 15); fr: x=3, y=1 (total 4).
    // probes {1, 2, 4}: en rank 3 (c) is skipped; fr has no rank 4.
    val dir = TestTables.documentsLangDir(spark, Seq(
      (1L, "a a a a a a a a b b b b c c d", "en"),
      (2L, "x x x y", "fr")))
    val got = TextAnalysis.zipfProfile(spark, dir, maxRankLog2 = 2).collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getString(2), r.getLong(3), r.getLong(4), r.getDouble(5)))).toMap
    assert(got.keySet == Set(("en", 1L), ("en", 2L), ("en", 4L), ("fr", 1L), ("fr", 2L)))
    assert(got(("en", 1L)) == (("a", 8L, 8L, 0.5333)))
    assert(got(("en", 2L)) == (("b", 4L, 8L, 0.2667)))
    assert(got(("en", 4L)) == (("d", 1L, 4L, 0.0667)))
    assert(got(("fr", 1L)) == (("x", 3L, 3L, 0.75)))
    assert(got(("fr", 2L)) == (("y", 1L, 2L, 0.25)))
  }

  test("tokenGini (x149): hand-derived concentration per language; degenerate cases at zero") {
    val dir = TestTables.documentsLangDir(spark, Seq(
      (1L, "a a a b", "en"),  // freqs 1, 3: num = -1 + 3 = 2, gini = 2/8
      (2L, "x y", "fr"),      // uniform: gini exactly 0
      (3L, "z z z", "de")))   // single type: gini 0 by convention
    val got = TextAnalysis.tokenGini(spark, dir).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    assert(got("en") == ((2L, 4L, 2L, 0.25)))
    assert(got("fr") == ((2L, 2L, 0L, 0.0)))
    assert(got("de") == ((1L, 3L, 0L, 0.0)))
  }

  test("tokenGini: contraction equals the naive sorted-rank formula on harness data") {
    import org.apache.spark.sql.functions.{col, count, explode, lit}
    val dir = "/root/testdata/sf0.001"
    val counts = graft.operators.Tables.documents(spark, dir)
      .select(col("lang"), explode(graft.operators.Tables.tokens(col("text"))).as("t"))
      .groupBy("lang", "t").agg(count(lit(1)).as("c")).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val expected = counts.groupBy(_._1).map { case (lang, rows) =>
      val xs = rows.map(x => (x._3, x._2)).sorted.map(_._1) // (cnt, token) asc
      val n = xs.length.toLong
      val tot = xs.sum
      val num = xs.zipWithIndex.map { case (x, i0) => (2L * (i0 + 1) - n - 1) * x }.sum
      lang -> ((n, tot, num, math.rint(num.toDouble / (n * tot) * 10000) / 10000))
    }
    val got = TextAnalysis.tokenGini(spark, dir).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    assert(got == expected, "class-closed-form contraction must equal per-token ranks exactly")
    got.values.foreach { case (_, _, _, g) => assert(g >= 0.0 && g < 1.0) }
  }
}
