package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
/** Curation category 1 of 3 — row-local QUALITY and corpus-statistics
  * audits (quality gates, blocklists, repetition, histograms, drift
  * reports) plus the shared md5-draw derivation every deterministic
  * sampler/splitter keys on. One public object ([[Curation]]) is
  * assembled from a linear trait chain (quality -> clusters ->
  * governance) purely to keep each file reviewable; the API surface and
  * behavior are identical to the former single-file object.
  */
private[operators] trait CurationQuality {
  /** EXT-C30 — n-gram novelty between snapshots: per source, the
    * fraction of the NEW snapshot's distinct k-gram set unseen in the
    * previous one (even doc_ids = previous, odd = new — the x60 parity
    * convention). The "how much of this crawl is actually new" signal:
    * [[tokenDrift]] measures frequency SHIFT and EXT-D7 measures
    * near-dup overlap pairwise; novelty measures set NEWNESS, which
    * forecasts the dedup rate and the marginal value of ingesting the
    * snapshot at all. Exact integer counts, one IEEE division. Sources
    * with no new-snapshot grams do not appear (novelty of nothing is
    * not a signal — the compressionRatio null philosophy).
    *
    * Scale: one gram stream materialized once (`localCheckpoint` — both
    * sides and both aggregations read it), distinct-ed on
    * (source, parity, gram) in one partial-agg shuffle; the LEFT ANTI
    * probe and both counts are (source[, gram])-keyed partial aggs —
    * nothing is ever pairwise and nothing scales past the distinct-gram
    * relation.
    */
  def gramNovelty(spark: SparkSession, dir: String, k: Int = 3): DataFrame = {
    val grams = Tables.documents(spark, dir)
      .select(col("source"), (col("doc_id") % 2).as("parity"),
        explode(Tables.shingles(Tables.tokens(col("text")), k)).as("gram"))
      .distinct()
      .localCheckpoint()
    val prev = grams.filter(col("parity") === 0).select("source", "gram")
    val fresh = grams.filter(col("parity") === 1).select("source", "gram")
    val totals = fresh.groupBy("source").agg(count(lit(1)).as("n_grams_b"))
    val novel = fresh.join(prev, Seq("source", "gram"), "left_anti")
      .groupBy("source").agg(count(lit(1)).as("n_novel"))
    totals.join(novel, Seq("source"), "left_outer")
      .withColumn("n_novel", coalesce(col("n_novel"), lit(0L)))
      .withColumn("novelty", col("n_novel").cast("double") / col("n_grams_b"))
      .select("source", "n_grams_b", "n_novel", "novelty")
      .orderBy("source")
  }

  /** English stopword list used by the quality gate's stop-hit rule —
    * THE canonical list from [[TextAnalysis.stopwords]], never a copy
    * (the two operators and their oracles must agree on it forever).
    */
  private val enStop: Seq[String] =
    TextAnalysis.stopwords.find(_._1 == "en").get._2

  /** Content-stable bucket in [0, 100): the first 8 hex chars of
    * `md5(prefix + doc_id)` mod 100. One definition shared by the split
    * and sampling operators — the seed prefix is the only difference, and
    * the formula must never drift between them (the oracles spell the
    * identical derivation).
    */
  protected def md5Bucket(prefix: String): Column = pmod(md5Draw(prefix), lit(100L))

  /** [[md5Bucket]] over an arbitrary id column — the identical
    * derivation keyed by something other than the row's own `doc_id`
    * ([[clusterSplit]] keys it by the cluster canonical, so every
    * member of a near-dup family draws the same bucket).
    */
  protected def md5BucketOf(prefix: String, id: Column): Column =
    pmod(md5DrawOf(prefix, id), lit(100L))

  /** Full-width 32-bit content-stable draw in [0, 2³²): the first 8 hex
    * chars of `md5(prefix + doc_id)` unsigned — the ONE spelling of the
    * derivation ([[md5Bucket]] is this mod 100), for samplers that
    * compare the draw against a computed threshold or order by it.
    */
  protected def md5Draw(prefix: String): Column = md5DrawOf(prefix, col("doc_id"))

  /** The single definition of the md5 draw, over an arbitrary id column.
    * Every bucket/draw helper above routes here so the derivation can
    * never drift between the split and sampling operators.
    */
  protected def md5DrawOf(prefix: String, id: Column): Column =
    conv(substring(md5(concat(lit(prefix), id.cast("string"))), 1, 8), 16, 10)
      .cast("long")

  /** EXT-C2 — Gopher-style quality gate: per-document boolean rules +
    * the aggregate keep flag. Rules (thresholds tuned to the harness
    * corpus; production values are config):
    *  - `r_len`: 20 ≤ n_tokens ≤ 80
    *  - `r_avg`: 3.0 ≤ mean token length ≤ 8.0
    *  - `r_stop`: ≥ 2 stopword hits (duplicates counted)
    *  - `r_rep`: most-frequent-token fraction ≤ 0.125
    * Pure row-local projection — no shuffle, codegen end to end.
    */
  def qualityGate(spark: SparkSession, dir: String): DataFrame =
    qualityProjection(Tables.documents(spark, dir)).orderBy("doc_id")

  /** The quality gate as a relation-to-relation transform over any input
    * with (doc_id, text) — row-local, so THE SAME definition runs on the
    * batch table and on an unbounded document stream
    * (structured streaming executes it per microbatch unchanged; see
    * the streaming spec). One definition means the batch gate, the
    * streaming gate, and the oracle can never drift apart.
    */
  def qualityProjection(docs: DataFrame): DataFrame =
    qualityAnnotated(docs).select("doc_id", "n_tokens", "avg_len", "stop_hits",
      "top_tok_frac", "r_len", "r_avg", "r_stop", "r_rep", "keep")

  /** [[qualityProjection]]'s measurements APPENDED to the input relation
    * (every input column preserved) — the form a linear streaming
    * pipeline needs, where a later stage still wants `text` and joining
    * the stream back to itself is not an option (stream-stream
    * self-joins are unsupported). Row-local, same single compiled
    * hash-count pass.
    *
    * The measurement names are RESERVED: `withColumn` would silently
    * overwrite a same-named input column (plausible for upstream ingest
    * metadata like `keep`), so collisions are rejected loudly instead.
    */
  def qualityAnnotated(docs: DataFrame): DataFrame = {
    val reserved = Seq("__toks", "__st", "n_tokens", "avg_len", "stop_hits",
      "top_tok_frac", "r_len", "r_avg", "r_stop", "r_rep", "keep")
    val clash = docs.columns.toSeq.intersect(reserved)
    require(clash.isEmpty,
      s"qualityAnnotated: input columns ${clash.mkString(", ")} collide with " +
        "reserved measurement names — rename them upstream")
    val toks = col("__toks")
    val nTok = size(toks).cast("long")
    // splitting on single spaces removes exactly (n_tokens − 1)
    // separators, so the token-length sum is arithmetic on lengths
    val sumLen = length(col("text")).cast("long") - (nTok - 1)
    docs
      .withColumn("__toks", Tables.tokens(col("text")))
      // one compiled hash-count pass for the mode; the declarative
      // distinct×filter spelling is O(n²)-ish interpreted lambdas
      .withColumn("__st", graft.functions.NgramStats.ngramStats(toks, 1))
      .withColumn("n_tokens", nTok)
      .withColumn("avg_len", sumLen.cast("double") / nTok)
      .withColumn("stop_hits", graft.functions.CountIn.countIn(toks, enStop))
      .withColumn("top_tok_frac", col("__st.max_count").cast("double") / nTok)
      .withColumn("r_len", col("n_tokens") >= 20 && col("n_tokens") <= 80)
      .withColumn("r_avg", col("avg_len") >= 3.0 && col("avg_len") <= 8.0)
      .withColumn("r_stop", col("stop_hits") >= 2)
      .withColumn("r_rep", col("top_tok_frac") <= 0.125)
      .withColumn("keep", col("r_len") && col("r_avg") && col("r_stop") && col("r_rep"))
      .drop("__toks", "__st")
  }

  /** EXT-C37 — blocklist filter (the C4-style "bad words" gate): per
    * document, token-instance hit counts against two externally-supplied
    * word categories — `severe` (zero tolerance: one hit blocks) and
    * `mild` (rate-thresholded: blocked only past `mildMaxRate` of the
    * document's tokens) — plus the keep verdict. Real pipelines run
    * exactly this two-tier shape (hard slurs vs contextual terms); the
    * harness binding passes corpus-vocabulary stand-in lists the same
    * way x18's benchmark subset stands in for an external eval set.
    *
    * Both counts are one compiled hash-set pass each
    * ([[graft.functions.CountInExpression]] — the word set is hashed at
    * plan time, O(1) per token); `mild_rate` is a single IEEE division;
    * the threshold default 1/16 is exactly representable so the
    * comparison is unambiguous in both engines. Pure row-local
    * projection: zero shuffles at any corpus size beyond the
    * presentation sort — the same cost class as the quality gate it
    * composes with ([[qualityGate]] ∧ keep).
    */
  def blocklistFilter(
      spark: SparkSession,
      dir: String,
      severe: Seq[String] = Seq("dup"),
      mild: Seq[String] = Seq("slow", "big"),
      mildMaxRate: Double = 0.0625): DataFrame =
    blocklistProjection(Tables.documents(spark, dir), severe, mild, mildMaxRate)
      .orderBy("doc_id")

  /** [[blocklistFilter]] as a relation-to-relation transform over any
    * input with (doc_id, text) — row-local, so THE SAME definition runs
    * on the batch table and on an unbounded document stream (the
    * [[qualityProjection]] contract: batch gate, streaming gate, and
    * oracle share one definition and can never drift).
    */
  def blocklistProjection(
      docs: DataFrame,
      severe: Seq[String],
      mild: Seq[String],
      mildMaxRate: Double): DataFrame = {
    val toks = Tables.tokens(col("text"))
    docs
      .select(
        col("doc_id"),
        size(toks).cast("long").as("n_tokens"),
        graft.functions.CountIn.countIn(toks, severe).as("severe_hits"),
        graft.functions.CountIn.countIn(toks, mild).as("mild_hits"))
      .withColumn("mild_rate", col("mild_hits").cast("double") / col("n_tokens"))
      .withColumn("keep",
        col("severe_hits") === 0L && col("mild_rate") <= lit(mildMaxRate))
  }

  /** EXT-C3 — repetition measurement: distinct-bigram ratio and the
    * most-frequent-bigram fraction (the "duplicate n-gram fraction"
    * family of repetition filters). Row-local and shuffle-free: one
    * compiled hash-count pass over each document's bigram multiset
    * ([[graft.functions.NgramStatsExpression]]; the declarative
    * distinct×filter spelling was ~10× slower, see its docs). Documents
    * with < 2 tokens have no bigrams and are excluded.
    */
  def repetition(spark: SparkSession, dir: String): DataFrame =
    repetitionAssign(spark, dir).orderBy("doc_id")

  /** The repetition relation WITHOUT the presentation sort — consumers
    * that JOIN it downstream ([[signalAgreement]]) skip the global sort
    * exchange (the `splitAssign` convention).
    */
  private[graft] def repetitionAssign(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), Tables.tokens(col("text")).as("toks"))
      .select(col("doc_id"), graft.functions.NgramStats.ngramStats(col("toks"), 2).as("st"))
      .filter(col("st.n_grams") > 0)
      .select(
        col("doc_id"),
        col("st.n_grams").as("n_bigrams"),
        (col("st.n_distinct").cast("double") / col("st.n_grams")).as("distinct_ratio"),
        (col("st.max_count").cast("double") / col("st.n_grams")).as("top_bigram_frac"))

  /** EXT-C31 — duplicated-n-gram coverage (Gopher/MassiveText, Rae et
    * al. 2021 §A1.1): per document, the fraction of token POSITIONS
    * lying inside some trigram that repeats within the same document —
    * the positional repetition filter [[repetition]]'s multiset ratios
    * cannot express (ten scattered repeats of one gram vs one ten-fold
    * run score identically there, very differently here). The published
    * filter drops docs past a coverage threshold; this emits the score
    * so thresholds stay a downstream `filter`.
    *
    * One compiled row-local pass
    * ([[graft.functions.DupGramCoverageExpression]]: hash-count the
    * gram multiset, mark covered slots) — zero shuffle at any corpus
    * size except the presentation sort; exact integer `n_cov`, one IEEE
    * division.
    */
  def dupGramCoverage(spark: SparkSession, dir: String, n: Int = 3): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), Tables.tokens(col("text")).as("toks"))
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n_tokens"),
        graft.functions.DupGramCoverage.dupGramCov(col("toks"), n).as("n_cov"))
      .withColumn("cov_frac", col("n_cov").cast("double") / col("n_tokens"))
      .orderBy("doc_id")

  /** The x21 split verdict as a COLUMN over an arbitrary id — the ONE
    * derivation (`md5("split:"+id)` bucket, 80/10/10) shared with the
    * streaming funnel gauge so the two faces cannot drift.
    */
  private[graft] def splitVerdict(id: Column): Column = {
    val b = md5BucketOf("split:", id)
    when(b < 80, "train").when(b < 90, "val").otherwise("test")
  }

  /** EXT-C10 — document-length histogram: counts per fixed-width
    * `n_chars` bucket. The scalable shape for distribution analysis at
    * corpus scale — one partial-agg groupBy on a derived integer key
    * (an exact-quantile sort would be a global sort; a histogram gives
    * the same curation signal for a shuffle of |buckets| rows).
    */
  def lengthHistogram(spark: SparkSession, dir: String, bucketWidth: Long = 50): DataFrame =
    Tables.documents(spark, dir)
      .groupBy(expr(s"n_chars div $bucketWidth").as("bucket"))
      .agg(count(lit(1)).as("n_docs"), min("n_chars").as("min_chars"),
        max("n_chars").as("max_chars"))
      .withColumn("bucket_lo", col("bucket") * bucketWidth)
      .select("bucket", "bucket_lo", "n_docs", "min_chars", "max_chars")
      .orderBy("bucket")

  /** EXT-C11 — grouped top-k: the `k` highest-quality documents per
    * language (quality = the x19 measurements' score formula from
    * [[TextAnalysis.stats]]) — the standard "best examples per stratum"
    * shape for curriculum/eval-set selection.
    *
    * Spelled as a map-side bounded top-k aggregate
    * ([[graft.functions.TopKExpression]]), NOT a `row_number` window —
    * the same argument as [[fixedSample]]: the window spelling shuffles
    * the ENTIRE scored corpus by lang before discarding all but k rows
    * per language; the aggregate folds each map partition down to ≤ k
    * candidates per stratum first, so the one exchange carries
    * ≤ |strata|·k rows per partition at any corpus size. The tie-break
    * (quality desc, doc_id asc) is exactly the aggregator's
    * (sim desc, cid asc) contract, and ranks fall out of the sorted
    * buffer by position.
    */
  def topDocsPerLang(spark: SparkSession, dir: String, k: Int = 5): DataFrame = {
    val agg = graft.functions.TopK.topk(k)
    TextAnalysis.statsProjection(spark, dir)
      .join(Tables.documents(spark, dir).select("doc_id", "lang"), "doc_id")
      .groupBy("lang")
      .agg(agg(col("quality"), col("doc_id")).as("sel"))
      .select(col("lang"), posexplode(col("sel.entries")))
      .select(col("lang"), (col("pos") + 1).cast("int").as("rank"),
        col("col.cid").as("doc_id"), col("col.sim").as("quality"))
      .orderBy("lang", "rank")
  }

  /** EXT-C12 — exact per-language median document length (lower median
    * for even counts, ties broken by doc_id): windowed rank + count over
    * the stratum key, keep the middle row. Exact order statistics on a
    * grouped relation — the shuffle is by the low-cardinality stratum
    * key, and each group sorts only its own rows (contrast the
    * histogram, which avoids even that when approximation suffices).
    */
  def medianChars(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("lang").orderBy(col("n_chars"), col("doc_id"))
    val cw = Window.partitionBy("lang")
    Tables.documents(spark, dir)
      .select(col("lang"), col("doc_id"), col("n_chars"))
      .withColumn("rn", row_number().over(w))
      .withColumn("cnt", count(lit(1)).over(cw))
      // Column `/` is double division — cast back to the integer rank
      // ((cnt+1)/2 truncated = lower median, same as the oracle's `//`)
      .filter(col("rn") === ((col("cnt") + 1) / 2).cast("int"))
      .select(col("lang"), col("n_chars").as("median_chars"), col("cnt").as("n_docs"))
      .orderBy("lang")
  }

  /** EXT-C24 — quantile-sketch audit: per source, the EXACT discrete
    * p50/p90/p99 of document length next to a verdict that
    * `approx_percentile`'s answer respects its rank-error contract
    * (a KLL/GK-style sketch with accuracy `a` returns a value whose
    * RANK is within ±n/a of the target — so the verdict brackets the
    * sketch value between the exact order statistics at ranks
    * `⌈(p−ε)·n⌉` and `⌈(p+ε)·n⌉`, ε = 1/a, clamped to [1, n]; every
    * comparison is on integer n_chars, so the law is float-free).
    * Same audit contract as [[cardinalityAudit]]: the oracle recomputes
    * the exact columns and asserts the verdicts TRUE — a broken sketch
    * fails the hash check; the sketch's own (implementation-defined)
    * value never appears in the output.
    *
    * Exact quantile spelling: one (source)-window rank + count pass,
    * then `max(n_chars) WHERE rn ≤ r` per target rank folded in ONE
    * aggregation (rows are rank-ordered by n_chars, so the running max
    * at rank r IS the order statistic) — the same one-sort shape as
    * [[medianChars]], generalized to any rank set. The sketch runs in
    * the same aggregation over the same rows. Shuffle is by the
    * low-cardinality stratum key only.
    *
    * Scale: the exact leg is the audit's price (per-group sort), run at
    * eval scale to certify the sketch; production monitors run the
    * sketch alone — a fixed-size buffer per (partition, source) folded
    * map-side, the exchange carries |sources| sketches.
    */
  def quantileAudit(spark: SparkSession, dir: String, accuracy: Int = 100): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val eps = 1.0 / accuracy
    val w = Window.partitionBy("source").orderBy(col("n_chars"), col("doc_id"))
    val cw = Window.partitionBy("source")
    val ranked = Tables.documents(spark, dir)
      .select(col("source"), col("doc_id"), col("n_chars"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("cnt", count(lit(1)).over(cw))
    def rankAt(p: Double): Column =
      least(col("cnt"), greatest(lit(1L), ceil(lit(p) * col("cnt")).cast("long")))
    def valueAt(p: Double): Column = max(when(col("rn") <= rankAt(p), col("n_chars")))
    def ok(p: Double, approx: Column): Column =
      approx.between(valueAt(p - eps), valueAt(p + eps))
    val ps = Seq(0.5, 0.9, 0.99)
    val sketch = percentile_approx(
      col("n_chars"), array(ps.map(lit): _*), lit(accuracy))
    val aggCols =
      max(col("cnt")).as("n_docs") +:
        (ps.map(p => valueAt(p).as(s"exact_p${(p * 100).toInt}")) ++
          ps.zipWithIndex.map { case (p, i) =>
            ok(p, sketch.getItem(i)).as(s"ok_p${(p * 100).toInt}")
          })
    ranked.groupBy("source")
      .agg(aggCols.head, aggCols.tail: _*)
      .orderBy("source")
  }

  /** EXT-C13 — boilerplate n-gram measurement (the CCNet-style
    * repeated-content signal, at shingle granularity since the corpus
    * is single-line): flag, per document, how many of its distinct
    * 3-token shingles occur in at least `minDf` documents corpus-wide,
    * and the fraction of the document they cover. High fractions mean
    * templated/boilerplate content that survives near-dup detection
    * (shared headers, navigation, license blocks).
    *
    * Shape: one partial-agg document-frequency pass over the shingle
    * postings + one join back keyed by the shingle — both partial-agg
    * friendly; the per-doc fraction is a single IEEE division. Returns
    * only documents containing ≥ 1 hot shingle.
    */
  def boilerplateNgrams(
      spark: SparkSession,
      dir: String,
      minDf: Int = 3): DataFrame = {
    val arr = Dedup.shingleArrays(spark, dir)
    val sh = arr.select(col("doc_id"), col("n"), explode(col("shs")).as("gram"))
    val hot = sh.groupBy("gram").agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDf)
      .select("gram")
    sh.join(hot, "gram")
      .groupBy("doc_id", "n")
      .agg(count(lit(1)).as("n_boiler"))
      .select(col("doc_id"), col("n_boiler"),
        (col("n_boiler").cast("double") / col("n")).as("boiler_frac"))
      .orderBy("doc_id")
  }

  /** EXT-C6 — dataset-card aggregates: per (lang, source) document count,
    * total characters, total whitespace tokens, and mean characters per
    * document (one IEEE division over exact integer sums). One
    * partial-agg-friendly groupBy on low-cardinality keys — the shuffle
    * carries |lang|×|source| rows regardless of corpus size.
    */
  def corpusStats(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("lang"), col("source"), col("n_chars"),
        size(Tables.tokens(col("text"))).cast("long").as("n_toks"))
      .groupBy("lang", "source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum("n_chars").as("total_chars"),
        sum("n_toks").as("total_tokens"))
      .withColumn("mean_chars", col("total_chars").cast("double") / col("n_docs"))
      .orderBy("lang", "source")

  /** EXT-C20 — vocabulary-cardinality sketch per source: the DISTINCT
    * token count via HyperLogLog++ (`approx_count_distinct`) next to the
    * exact total. At 100 TB the exact distinct is a shuffle of every
    * unique token; the sketch is a partial aggregate — each map
    * partition folds to one fixed-size HLL register set per source, the
    * exchange carries |sources| sketches, and the relative error is the
    * configured `rsd`. The spec pins the error law against the exact
    * count at test scale (Spark's HLL++ is deterministic for a fixed
    * input set, so the bound is a stable assertion, but the VALUE is
    * implementation-defined — deliberately not oracle-compared, the
    * driver records the rows-only check).
    */
  def cardinalitySketch(spark: SparkSession, dir: String, rsd: Double = 0.05): DataFrame =
    Tables.documents(spark, dir)
      .select(col("source"), explode(Tables.tokens(col("text"))).as("tok"))
      .groupBy("source")
      .agg(
        approx_count_distinct(col("tok"), rsd).as("approx_distinct_tokens"),
        count(lit(1)).as("n_tokens"))
      .orderBy("source")

  /** Driver-checkable AUDIT view of [[cardinalitySketch]]: the
    * deterministic measurements (exact `n_tokens`, exact distinct) plus
    * `sketch_ok` — whether the HLL++ estimate is within the 4·rsd error
    * law of the exact count (the same bound the spec pins; HLL++ is
    * deterministic for a fixed input, so the verdict is rerun-stable).
    * The sketch VALUE stays out of the output because it is
    * implementation-defined; the LAW is what an oracle can hold both
    * engines to — DuckDB recomputes the exact side independently and
    * asserts the verdict is TRUE, so a broken sketch fails the driver's
    * hash check rather than hiding behind a rows-only record.
    *
    * The exact-distinct leg is the audit's price: one distinct-token
    * shuffle that [[cardinalitySketch]] exists to avoid. That is the
    * point — the audit runs at eval scale to certify the sketch;
    * production runs the sketch alone.
    */
  def cardinalityAudit(spark: SparkSession, dir: String, rsd: Double = 0.05): DataFrame =
    Tables.documents(spark, dir)
      .select(col("source"), explode(Tables.tokens(col("text"))).as("tok"))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_tokens"),
        countDistinct(col("tok")).as("exact_distinct"),
        approx_count_distinct(col("tok"), rsd).as("approx"))
      .select(col("source"), col("n_tokens"), col("exact_distinct"),
        (abs(col("approx") - col("exact_distinct")).cast("double") <=
          lit(4 * rsd) * col("exact_distinct")).as("sketch_ok"))
      .orderBy("source")

  /** The per-token count relation behind [[tokenDrift]] and
    * [[topMovers]]: (tok, count_a, count_b) across the even/odd snapshot
    * split, with each side's total carried on every row via a 1-row
    * broadcast cross join. One partial-agg token shuffle; tokens absent
    * from one side count 0 there (the conditional sum, not an outer
    * join).
    */
  private def driftCounts(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .select((col("doc_id") % 2).as("parity"), explode(Tables.tokens(col("text"))).as("tok"))
    val counts = toks.groupBy("tok").agg(
      sum(when(col("parity") === 0, 1L).otherwise(0L)).as("count_a"),
      sum(when(col("parity") === 1, 1L).otherwise(0L)).as("count_b"))
    val totals = counts.agg(sum("count_a").as("na"), sum("count_b").as("nb"))
    counts.crossJoin(broadcast(totals))
  }

  /** EXT-C21 — corpus drift between two snapshots (even doc_ids = A,
    * odd = B): total-variation distance between the token frequency
    * distributions, computed in EXACT integer arithmetic —
    * `Σ|count_a·N_B − count_b·N_A|` over tokens, one IEEE division by
    * `2·N_A·N_B` at the end — so the oracle reproduces it bit-for-bit
    * (Σ|p−q| summed as floats would be order-sensitive). The
    * distribution-shift monitor a pipeline runs between crawls / before
    * a mixture change; TV = 0 iff identical relative frequencies,
    * 1 = disjoint vocabularies.
    *
    * Scale: one token-shuffle partial agg + a 1-row totals broadcast +
    * one grouped sum — nothing scales beyond the distinct-token relation.
    * The integer products bound: counts·N fit BIGINT up to ~3·10⁹ tokens
    * per side; beyond that, move the numerator to DECIMAL(38,0) —
    * the shape is unchanged.
    *
    * The final sum GROUPS BY the (constant-per-row) totals rather than
    * aggregating globally: an empty corpus then yields ZERO rows — the
    * oracle's `GROUP BY na, nb` contract — instead of Spark's one
    * all-null global-aggregate row, and no null-total "drift" ever
    * reaches a monitor.
    */
  def tokenDrift(spark: SparkSession, dir: String): DataFrame =
    driftCounts(spark, dir)
      .groupBy(col("na").as("n_tokens_a"), col("nb").as("n_tokens_b"))
      .agg(sum(abs(col("count_a") * col("nb") - col("count_b") * col("na"))).as("tv_numer"))
      .select(col("n_tokens_a"), col("n_tokens_b"), col("tv_numer"),
        (col("tv_numer").cast("double") /
          (lit(2.0) * col("n_tokens_a") * col("n_tokens_b"))).as("tv_distance"))

  /** EXT-C22 — the tokens DRIVING the drift: top-N by the exact
    * integer shift numerator `|count_a·N_B − count_b·N_A|` (ties to the
    * token, so the cut is deterministic). The diagnostic view read
    * next to [[tokenDrift]]'s single number — which vocabulary moved.
    * Top-N via sort-limit over the aggregated token relation only
    * (TakeOrdered folds map-side; the token stream never re-shuffles).
    */
  def topMovers(spark: SparkSession, dir: String, n: Int = 15): DataFrame =
    driftCounts(spark, dir)
      .select(col("tok"), col("count_a"), col("count_b"),
        abs(col("count_a") * col("nb") - col("count_b") * col("na")).as("shift_numer"))
      .orderBy(col("shift_numer").desc, col("tok"))
      .limit(n)

  /** EXT-C32 (x93) — corpus snapshot diff: the incremental-pipeline
    * audit "what changed between yesterday's corpus and today's?". Two
    * snapshots (derived deterministically from the harness corpus: OLD
    * drops doc_id ≡ 0 (mod 3), NEW drops ≡ 1 (mod 3) and rewrites every
    * doc_id ≡ 0 (mod 5) — so all four statuses occur) are compared by
    * content digest under a full-outer doc_id join and folded to
    * per-(source, status) counts with total affected chars.
    *
    * Scale: doc_id is unique on both sides, so the full-outer join is a
    * skew-free equi-shuffle — at 100 TB both snapshots co-partition on
    * doc_id (bucketed layouts make it shuffle-free) and the comparison
    * carries only (doc_id, digest, source, n_chars), never text: the
    * sha2 digest folds each document to 32 bytes AT THE SCAN, so the
    * exchange is ~50 B/row regardless of document size. Output is
    * |sources| × 4 rows. The digest-compare beats a text-compare by the
    * mean document length (~KB → 32 B) and is what a production CDC diff
    * ships anyway.
    */
  def corpusDiff(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val old = docs.where(pmod(col("doc_id"), lit(3L)) =!= 0L)
      .select(col("doc_id"), col("source"), col("n_chars"),
        sha2(col("text"), 256).as("digest"))
    val neu = docs.where(pmod(col("doc_id"), lit(3L)) =!= 1L)
      .select(col("doc_id"), col("source"), col("n_chars"),
        sha2(when(pmod(col("doc_id"), lit(5L)) === 0L,
          concat(col("text"), lit(" v2"))).otherwise(col("text")), 256).as("digest"))
    old.as("o").join(neu.as("n"), col("o.doc_id") === col("n.doc_id"), "full_outer")
      .select(
        coalesce(col("o.source"), col("n.source")).as("source"),
        when(col("o.doc_id").isNull, "added")
          .when(col("n.doc_id").isNull, "removed")
          .when(col("o.digest") =!= col("n.digest"), "changed")
          .otherwise("same").as("status"),
        coalesce(col("n.n_chars"), col("o.n_chars")).as("chars"))
      .groupBy("source", "status")
      .agg(count(lit(1)).as("n_docs"), sum("chars").as("total_chars"))
      .orderBy("source", "status")
  }

  /** EXT-C40 (`x115_signal_agreement`) — quality-signal agreement audit:
    * per source, the Spearman rank correlation between two INDEPENDENT
    * quality signals — idf-mass rarity (x70's `mean_rarity`, the
    * vocabulary-level signal) and distinct-bigram ratio (x20's
    * `distinct_ratio`, the word-order-level signal). The audit a
    * pipeline reads before swapping a cheap gate for an expensive one
    * (or before stacking both): high agreement means the second signal
    * is redundant; low agreement means the gates prune DIFFERENT
    * documents and the funnel (x95) will show compounding attrition.
    *
    * Exactness spelling: both signals are ranked on their ROUNDED
    * 4-decimal values with the doc_id tie-break (x114's convention —
    * both engines rank the identical doubles identically, and the
    * tie-break makes each rank a permutation, so the classical
    * `rho = 1 − 6·Σd² / (n·(n²−1))` applies with Σd² an exact BIGINT;
    * the denominator is evaluated in double with a fixed association
    * `n·(n·n − 1)` so both engines run the identical IEEE expression).
    * Sources with n < 2 report rho NULL (zero denominator), never NaN.
    *
    * Plan: the two signal relations are the unsorted `*Assign` variants
    * (no presentation sorts under the join); the domain is their INNER
    * join (docs with ≥ 2 tokens — where both signals are defined);
    * then ONE shuffle keyed by source carries the two rank windows
    * (same partition key, two in-partition sorts) and the final fold is
    * |sources| rows. The signal relations are themselves one corpus
    * pass each (x70's integer backbone, x20's compiled row-local
    * expression) — nothing in the agreement layer grows past |corpus|
    * rows, and the rank window keys by source, not globally.
    */
  def signalAgreement(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, dir).select("doc_id", "source")
    val a = graft.operators.TextAnalysis.rarityAssign(spark, dir)
      .select(col("doc_id"), round(col("mean_rarity"), 4).as("a4"))
    val b = repetitionAssign(spark, dir)
      .select(col("doc_id"), round(col("distinct_ratio"), 4).as("b4"))
    val wA = Window.partitionBy("source").orderBy(col("a4"), col("doc_id"))
    val wB = Window.partitionBy("source").orderBy(col("b4"), col("doc_id"))
    val nd = col("n").cast("double")
    docs.join(a, "doc_id").join(b, "doc_id")
      .withColumn("ra", row_number().over(wA).cast("long"))
      .withColumn("rb", row_number().over(wB).cast("long"))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n"),
        sum((col("ra") - col("rb")) * (col("ra") - col("rb"))).as("sum_d2"))
      .withColumn("rho",
        when(col("n") < 2L, lit(null).cast("double"))
          .otherwise(lit(1.0) -
            lit(6.0) * col("sum_d2").cast("double") / (nd * (nd * nd - lit(1.0)))))
      .select("source", "n", "sum_d2", "rho")
      .orderBy("source")
  }

  /** EXT-C44 (`x127_quantile_drift`) — length-DISTRIBUTION drift between
    * snapshots: per source, the exact discrete p50/p90/p99 of document
    * length on each side (old = even doc_id, new = odd — x93/x102's
    * deterministic snapshot-pair binding) with the absolute and relative
    * shift per quantile. The drift family's missing distributional leg:
    * x60 sees token-frequency shift, x93 content churn, x102 schema
    * churn — none of them sees "the new crawl's documents are half the
    * length", which moves chunking (x38), packing (x39/x89), and
    * quality-gate calibration (x19) before any of those audits fire.
    * Quantile shifts, not mean shift, because length distributions are
    * heavy-tailed: a mean can hide a collapsed median under a fatter
    * tail — the p50/p99 PAIR separates those.
    *
    * Exactness: x67's order-statistic spelling verbatim (rank
    * `min(cnt, max(1, ⌈p·cnt⌉))` per (side, source) partition; the
    * running `max(n_chars) WHERE rn ≤ r` IS the order statistic), all
    * integer comparisons; `shift = new − old` exact BIGINT;
    * `rel_shift4` one guarded IEEE division per quantile. A source
    * present on one side only keeps NULL columns for the other (the
    * left-join convention — absence from a snapshot is a finding).
    *
    * Plan: ONE shuffle keyed by (side, source) carries the rank window
    * and the count; the fold is |sources| rows with all six quantiles
    * and three shifts folded in ONE aggregation (conditional on side —
    * no self-join of snapshot halves). Scale is x67's argument: the
    * per-group sort is the exact leg's price at eval scale; production
    * monitors run the sketch (x67's audit certifies it) with this exact
    * spelling as the law.
    */
  def quantileDrift(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("side", "source").orderBy(col("n_chars"), col("doc_id"))
    val cw = Window.partitionBy("side", "source")
    val ranked = Tables.documents(spark, dir)
      .select(col("source"), col("doc_id"), col("n_chars"),
        when(pmod(col("doc_id"), lit(2)) === 0, "old").otherwise("new").as("side"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("cnt", count(lit(1)).over(cw))
    def rankAt(p: Double): Column =
      least(col("cnt"), greatest(lit(1L), ceil(lit(p) * col("cnt")).cast("long")))
    def valueAt(side: String, p: Double): Column =
      max(when(col("side") === side && col("rn") <= rankAt(p), col("n_chars")))
    val ps = Seq(0.5, 0.9, 0.99)
    val qCols = ps.flatMap { p =>
      val tag = (p * 100).toInt
      Seq(valueAt("old", p).as(s"old_p$tag"), valueAt("new", p).as(s"new_p$tag"))
    }
    val nCols = Seq(
      max(when(col("side") === "old", col("cnt"))).as("n_old"),
      max(when(col("side") === "new", col("cnt"))).as("n_new"))
    val agg = ranked.groupBy("source").agg((nCols ++ qCols).head, (nCols ++ qCols).tail: _*)
    val shiftCols = ps.flatMap { p =>
      val tag = (p * 100).toInt
      val old = col(s"old_p$tag"); val nw = col(s"new_p$tag")
      Seq((nw - old).as(s"shift_p$tag"),
        when(old.isNull || nw.isNull || old === 0L, lit(null).cast("double"))
          .otherwise(round((nw - old).cast("double") / old, 4)).as(s"rel_shift4_p$tag"))
    }
    agg.select(col("source") +: col("n_old") +: col("n_new") +:
        (ps.flatMap { p =>
          val tag = (p * 100).toInt
          Seq(col(s"old_p$tag"), col(s"new_p$tag"))
        } ++ shiftCols): _*)
      .orderBy("source")
  }

}
