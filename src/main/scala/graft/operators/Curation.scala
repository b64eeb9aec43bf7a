package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Corpus-curation operators for LLM training-data pipelines (SURVEY.md
  * §2b): benchmark decontamination, Gopher-style quality rules, repetition
  * measurement, deterministic train/val/test splitting, duplicate-cluster
  * resolution, and dataset-card aggregates.
  *
  * Same oracle ground rules as the rest of §2b: every hash is md5 over an
  * explicit seeded string, every float is a single IEEE division, every
  * tie-break is an explicit deterministic key — so DuckDB reproduces each
  * result bit-for-bit.
  *
  * Scale design (the 100 TB story):
  *  - decontamination joins the corpus n-gram stream against a benchmark
  *    gram set that is tiny by construction (benchmarks are MBs, corpora
  *    are TBs) — a broadcast join; the corpus side is one narrow pass;
  *  - the quality / repetition / split operators are pure row-local
  *    projections (zero shuffles, whole-stage codegen end to end);
  *  - cluster resolution is iterative min-label propagation with a
  *    monotone convergence metric — O(component diameter) rounds, each a
  *    self-free join keyed by doc id (production would swap in
  *    large-star/small-star for O(log n) rounds; the operator contract —
  *    pairs in, (doc, canonical) out — is the same);
  *  - corpus stats is one partial-agg-friendly groupBy over low-cardinality
  *    keys.
  */
object Curation extends CurationClusters {
  /** EXT-C1 — benchmark decontamination: flag training documents sharing
    * any k-token n-gram (default k=5) with a held-out benchmark set —
    * the standard train/test-overlap scrub (e.g. the 13-gram checks used
    * for GPT-3/PaLM eval decontamination, shrunk to k=5 for the harness
    * corpus' 10–99-token documents).
    *
    * The benchmark here is the deterministic subset `doc_id % 20 == 0`
    * (stand-in for an external eval set). Its distinct gram set is
    * DISTINCT-aggregated and broadcast; the corpus side is one narrow
    * scan + explode, so the expensive relation never shuffles. Returns
    * (doc_id, n_shared) per contaminated non-benchmark document.
    */
  def decontaminate(spark: SparkSession, dir: String, k: Int = 5): DataFrame = {
    val (corpus, benchGrams) = contaminationRelations(spark, dir, k)
    corpus
      .join(broadcast(benchGrams), "gram")
      .groupBy("doc_id")
      // grams are distinct per doc (Shingles dedups), so plain count is
      // the distinct shared-gram count — no count(distinct) shuffle pair
      .agg(count(lit(1)).as("n_shared"))
      .orderBy("doc_id")
  }

  /** THE decontamination inputs — (corpus gram stream, distinct benchmark
    * gram set) — shared by [[decontaminate]] and [[contaminationScore]]:
    * the gram derivation and the benchmark-membership rule (`doc_id % 20
    * == 0`, the stand-in for an external eval set) must never drift
    * between the detector and the scorer. The underlying gram stream is
    * materialized once: both returned relations (and both of the
    * scorer's aggregations) derive from it, and Spark shares no common
    * subtree across plan branches.
    */
  private def contaminationRelations(
      spark: SparkSession, dir: String, k: Int): (DataFrame, DataFrame) = {
    val grams = Tables.documents(spark, dir)
      .select(col("doc_id"), Tables.tokens(col("text")).as("toks"))
      .select(col("doc_id"), explode(Tables.shingles(col("toks"), k)).as("gram"))
      .localCheckpoint()
    (grams.filter(col("doc_id") % 20 =!= 0),
      grams.filter(col("doc_id") % 20 === 0).select("gram").distinct())
  }

  /** EXT-C19 — contamination SCORING: the measurement refinement of
    * [[decontaminate]] — for every non-benchmark document with at least
    * one k-gram, its distinct-gram count, how many of those grams appear
    * in the benchmark set, the shared fraction (one IEEE division), and
    * the `drop` verdict at `threshold`. Where [[decontaminate]] answers
    * "which docs overlap at all", this grades HOW MUCH — the knob a real
    * pipeline tunes (an eval-set quote of 1 gram is noise; 40% is a
    * leak). Same plan shape: one materialized gram stream, broadcast
    * benchmark set, zero-overlap docs come back via the left join.
    */
  def contaminationScore(
      spark: SparkSession,
      dir: String,
      k: Int = 5,
      threshold: Double = 0.1): DataFrame = {
    val (corpus, benchGrams) = contaminationRelations(spark, dir, k)
    val sizes = corpus.groupBy("doc_id").agg(count(lit(1)).as("n_grams"))
    val shared = corpus.join(broadcast(benchGrams), "gram")
      .groupBy("doc_id").agg(count(lit(1)).as("n_shared"))
    sizes
      .join(shared, Seq("doc_id"), "left_outer")
      .withColumn("n_shared", coalesce(col("n_shared"), lit(0L)))
      .withColumn("shared_frac", col("n_shared").cast("double") / col("n_grams"))
      .withColumn("drop", col("shared_frac") >= threshold)
      .select("doc_id", "n_grams", "n_shared", "shared_frac", "drop")
      .orderBy("doc_id")
  }

  /** EXT-C39 (x108) — contamination SPAN detection: per contaminated
    * document, the longest CONSECUTIVE run of benchmark-shared k-gram
    * positions — the PaLM-style "contiguous overlap" refinement of
    * [[contaminationScore]]'s set-overlap count. Ten scattered shared
    * grams are usually vocabulary coincidence; ten CONSECUTIVE positions
    * are a verbatim quote of the eval set (a run of r k-gram positions
    * is a copied span of r+k−1 tokens). Output per contaminated
    * non-benchmark doc: hit-position count, run count, longest run, and
    * its token-span length — the relation a graded quarantine policy
    * reads (clean docs are absent: this is the drop-list shape, the
    * complement of x49's everyone-scored view).
    *
    * Spelling: a POSITION-PRESERVING gram stream (the distinct-shingle
    * relation x18/x49 share cannot carry positions) against the same
    * benchmark membership rule (`doc_id % 20 == 0`) and gram text; hit
    * positions then collapse to runs with the sessionize trick — gap
    * flag → running sum → per-run agg — sharing ONE doc_id shuffle
    * across both window functions and both aggregations
    * ([[Temporal.sessionize]]'s plan: hash-partitioning by doc_id
    * satisfies the (doc_id, run_id) clustering, so no second exchange).
    *
    * Scale: the positioned stream is linear in corpus tokens and never
    * shuffles — the broadcast benchmark join prunes it to HIT positions
    * (tiny by construction: benchmarks are MBs) before the one keyed
    * shuffle; nothing is pairwise.
    */
  def contaminationSpans(spark: SparkSession, dir: String, k: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), Tables.tokens(col("text")).as("toks"))
    // positions 1..len−k+1; the when-guard keeps ANSI's descending
    // sequence(1, 0) from firing on short docs (posexplode drops empties)
    val positioned = docs.select(col("doc_id"),
      posexplode(when(size(col("toks")) >= k,
        expr(s"transform(sequence(1, size(toks) - ${k - 1}), " +
          s"i -> concat_ws(' ', slice(toks, i, $k)))"))
        .otherwise(array().cast("array<string>"))))
      .select(col("doc_id"), (col("pos") + 1).cast("long").as("p"), col("col").as("gram"))
    val bench = positioned.filter(col("doc_id") % 20 === 0)
      .select("gram").distinct()
    val hits = positioned.filter(col("doc_id") % 20 =!= 0)
      .join(broadcast(bench), "gram")
      .select("doc_id", "p")
    val w = Window.partitionBy("doc_id").orderBy("p")
    val cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    hits
      .withColumn("brk",
        when(col("p") - lag("p", 1).over(w) === 1L, 0L).otherwise(1L))
      .withColumn("run_id", sum("brk").over(cum))
      .groupBy("doc_id", "run_id")
      .agg(count(lit(1)).as("run_len"))
      .groupBy("doc_id")
      .agg(
        sum("run_len").as("n_hit_positions"),
        count(lit(1)).as("n_runs"),
        max("run_len").as("max_run"))
      .withColumn("max_span_tokens", col("max_run") + lit(k - 1).cast("long"))
      .orderBy("doc_id")
  }

  /** EXT-C18 — dataset-mixture planning: per-source token counts, the
    * natural mixture share, and the deterministic sampling rate that
    * moves the corpus toward a UNIFORM target mixture (`rate =
    * min(1, target_share / natural_share)` — under-represented sources
    * keep everything, over-represented ones downsample). The arithmetic
    * every mixture config ("20% code, 40% web, …") starts from; the
    * uniform target keeps the oracle parameter-free while exercising the
    * identical plan. Two partial-agg-friendly aggregations and a 1-row
    * broadcast of the corpus totals — nothing scales with document count.
    */
  def mixturePlan(spark: SparkSession, dir: String): DataFrame =
    mixtureRates(spark, dir)
      .select("source", "n_docs", "src_tokens", "natural_share", "rate")
      .orderBy("source")

  /** The |sources|-row rate relation behind [[mixturePlan]] and
    * [[mixtureSample]] — the plan WITHOUT its presentation sort, so the
    * sampler's broadcast join never inherits an unnecessary sort
    * exchange. The rate formula lives here exactly once: the plan a
    * user audits and the gate the sampler applies can never drift.
    */
  private def mixtureRates(spark: SparkSession, dir: String): DataFrame = {
    val perSource = Tables.documents(spark, dir)
      .select(col("source"), size(Tables.tokens(col("text"))).cast("long").as("n_toks"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("n_toks").as("src_tokens"))
    val totals = perSource.agg(
      sum("src_tokens").as("total"), count(lit(1)).as("n_sources"))
    perSource
      .crossJoin(broadcast(totals))
      .withColumn("natural_share", col("src_tokens").cast("double") / col("total"))
      .withColumn("rate",
        least(lit(1.0), (lit(1.0) / col("n_sources")) / col("natural_share")))
  }

  /** EXT-C25 — mixture-plan EXECUTION: materialize the sampled corpus
    * [[mixturePlan]] (x48) prescribes. A document keeps iff its
    * content-stable draw clears its source's planned rate — `u <
    * ⌊rate·2³²⌋`, [[weightedSample]]'s threshold spelling (one IEEE
    * multiply + floor, bit-reproducible; rate = 1 keeps everything
    * because u < 2³² always). No `rand()`: reruns and incremental
    * ingests keep exactly the same rows, which is what makes the
    * mixture auditable and the op idempotent under replay.
    *
    * Scale: the rate relation is |sources| rows BROADCAST into a
    * row-local gate over one corpus scan — the corpus never shuffles;
    * the expected output mass per source is `rate·src_tokens ≈
    * total/n_sources`, i.e. the uniform target by construction.
    */
  def mixtureSample(spark: SparkSession, dir: String): DataFrame =
    mixtureGate(
      Tables.documents(spark, dir).select(col("doc_id"), col("source")),
      mixtureRates(spark, dir).select("source", "rate"))
      .select("doc_id", "source", "u")
      .orderBy("doc_id")

  /** EXT-C27 — per-source budget apportionment by largest remainder
    * (Hamilton's method): split a document budget `B` across sources
    * proportionally to their sizes, in EXACT integer arithmetic —
    * `base = ⌊B·n_src/total⌋`, then the `B − Σbase` leftover seats go to
    * the largest division remainders (ties to the lexicographically
    * first source). The count-based complement of [[mixturePlan]]'s
    * rates: "how many documents from each source", with `Σquota = B`
    * EXACTLY — the invariant rate-rounding cannot give. Quotas are
    * apportionment targets: the classic method assumes `B ≤ total`
    * (callers clamp per-source at `n_docs` only if they over-budget).
    *
    * Scale: one corpus scan folds to the |sources|-row relation
    * (partial-agg count), materialized once (`localCheckpoint`) and
    * reused by the totals/leftover broadcasts; the rank window and the
    * presentation sort order |sources| rows, not documents — nothing
    * downstream of the first aggregation scales with the corpus.
    */
  def budgetAllocation(spark: SparkSession, dir: String, budget: Long = 100L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val perSource = Tables.documents(spark, dir)
      .groupBy("source").agg(count(lit(1)).as("n_docs"))
      .localCheckpoint()
    val totals = perSource.agg(sum("n_docs").as("total"))
    val based = perSource.crossJoin(broadcast(totals))
      .withColumn("base", expr(s"($budget * n_docs) div total"))
      .withColumn("rem", expr(s"($budget * n_docs) % total"))
      .localCheckpoint()
    val leftover = based.agg((lit(budget) - sum("base")).as("leftover"))
    val w = Window.orderBy(col("rem").desc, col("source"))
    based
      .withColumn("rk", row_number().over(w))
      .crossJoin(broadcast(leftover))
      .withColumn("quota", col("base") + when(col("rk") <= col("leftover"), 1L).otherwise(0L))
      .select("source", "n_docs", "base", "rem", "quota")
      .orderBy("source")
  }

  /** EXT-C38 (x106) — UniMax budget allocation (Chung et al., 2023):
    * apportion a total token budget across sources so every source gets
    * an EQUAL share except where that would repeat its data more than
    * `maxEpochs` times — small sources are capped at `maxEpochs ·
    * n_tokens`, the freed budget waterfills the rest. This is the
    * modern multilingual-sampling answer to [[budgetAllocation]]'s
    * proportional split (which starves tail languages) and
    * [[mixturePlan]]'s uniform target (which over-epochs them): the cap
    * is exactly the "max N epochs" rule mT5-class mixtures train with.
    *
    * Closed-form waterfilling, not a driver loop: sorted by (cap asc,
    * source asc), a prefix of cap-sorted sources is capped — source i is
    * capped iff `cap_i · left_i ≤ B − cum_{i−1}` (its cap fits under an
    * equal split of what remains after capping everything smaller); the
    * first failing index freezes the prefix, and the remainder splits
    * `⌊rem/u⌋` with the `rem mod u` leftover units going to the first
    * uncapped sources in the same order ([[budgetAllocation]]'s
    * largest-remainder determinism). All BIGINT — `Σ alloc = min(B,
    * Σ cap)` EXACTLY (under-subscribed corpora allocate every cap and
    * report the slack honestly); `epochs` is the one IEEE division.
    *
    * Scale: one corpus scan folds to the |sources| token relation
    * (partial-agg sum, `localCheckpoint`ed for its four consumers); the
    * rank/cum windows order |sources| rows, never documents, and the
    * three scalar aggregates broadcast — nothing in the plan grows with
    * the corpus. Overflow note: `cap·left` is BIGINT-safe to ~10¹⁵
    * tokens per source; past that the same spelling runs in
    * DECIMAL(38,0).
    */
  def unimaxBudget(
      spark: SparkSession,
      dir: String,
      budget: Long = 50000L,
      maxEpochs: Long = 2L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val perSource = Tables.documents(spark, dir)
      .select(col("source"), size(Tables.tokens(col("text"))).cast("long").as("n_toks"))
      .groupBy("source").agg(sum("n_toks").as("n_tokens"))
      .withColumn("cap_tokens", col("n_tokens") * maxEpochs)
      .localCheckpoint()
    val w = Window.orderBy(col("cap_tokens"), col("source"))
    val ranked = perSource
      .withColumn("i", row_number().over(w).cast("long"))
      .withColumn("cum", sum("cap_tokens").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .crossJoin(broadcast(perSource.agg(count(lit(1)).as("n_src"))))
      .withColumn("left_n", col("n_src") - col("i") + 1L)
      .withColumn("flag",
        col("cap_tokens") * col("left_n") <= lit(budget) - (col("cum") - col("cap_tokens")))
      .localCheckpoint() // consumed by the bad-index probe AND the result
    val bad = ranked.agg(min(when(!col("flag"), col("i"))).as("bad"))
    val g = ranked.crossJoin(broadcast(bad))
      .withColumn("capped", col("bad").isNull || col("i") < col("bad"))
      .localCheckpoint() // consumed by the remainder aggregate AND the result
    val rem = g.agg(
      (lit(budget) - coalesce(sum(when(col("capped"), col("cap_tokens"))), lit(0L)))
        .as("rem_budget"),
      sum(when(!col("capped"), 1L).otherwise(0L)).as("u"))
    g.crossJoin(broadcast(rem))
      .withColumn("alloc",
        when(col("capped"), col("cap_tokens"))
          .otherwise(expr("rem_budget div u") +
            when(col("i") - col("bad") + 1L <= expr("rem_budget % u"), 1L).otherwise(0L)))
      .select(col("source"), col("n_tokens"), col("cap_tokens"), col("capped"),
        col("alloc"), (col("alloc").cast("double") / col("n_tokens")).as("epochs"))
      .orderBy("source")
  }

  /** EXT-C28 — curriculum shard assignment: the deterministic pack
    * order a training run consumes. Every document lands in a
    * content-stable shard (`md5('shard:'||doc_id) mod nShards` — the
    * split/sampler derivation, so reruns and incremental ingests place
    * documents identically) and takes its within-shard position by
    * DESCENDING quality (ties to doc_id): each shard reads best-first,
    * the quality-curriculum ordering, while the hash sharding keeps
    * every shard an unbiased sample of the corpus (sequential shard
    * consumption never drifts the mixture the way a single global
    * quality sort would — the end of a global sort is all dregs).
    *
    * Scale: quality and shard are row-local; the ONE shuffle is the
    * shard partitioning, and the per-shard rank sort is work a shard
    * writer does anyway to emit its file in pack order. `nShards` is
    * sized so a shard fits a writer task (corpus / target shard bytes)
    * — it GROWS with the corpus, so per-shard sort volume stays
    * constant at any scale; the harness default is small only because
    * the eval corpus is.
    */
  def curriculumShards(spark: SparkSession, dir: String, nShards: Int = 8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(nShards >= 1, s"nShards must be >= 1, got $nShards")
    val w = Window.partitionBy("shard").orderBy(col("quality").desc, col("doc_id"))
    TextAnalysis.statsProjection(spark, dir)
      .select(col("doc_id"), col("quality"))
      .withColumn("shard", pmod(md5Draw("shard:"), lit(nShards.toLong)))
      .withColumn("position", row_number().over(w))
      .select("doc_id", "shard", "position", "quality")
      .orderBy("shard", "position")
  }

  /** EXT-C29 — cross-modal curation verdict: the text-quality gate and
    * the embedding-prototypicality gate composed into one keep decision
    * per document — `quality ≥ minQuality AND cent_sim4 ≥ minProto`.
    * The joint filter of the SemDeDup/SSL-prototypes + Gopher-rules
    * line: lexical quality alone keeps well-formed boilerplate, and
    * embedding centrality alone keeps fluent off-distribution noise;
    * the intersection is the trainable core. Thresholds tuned to the
    * harness corpus (≈ the two medians); production values are config.
    *
    * Scale: both legs are row-local projections over their own single
    * pass (the x7 stats projection; the x57 centroid projection over
    * the SAME materialized relation its training loop consumed), read
    * sort-free, composed by ONE 1:1 equi-join on the id — AQE sizes
    * the exchange; nothing here is quadratic or corpus-shuffling
    * beyond that join.
    */
  def crossmodalCuration(
      spark: SparkSession,
      dir: String,
      minQuality: Double = 0.63,
      minProto: Double = 0.25,
      exactMeans: Boolean = false): DataFrame =
    TextAnalysis.statsProjection(spark, dir)
      .select(col("doc_id"), col("quality"))
      .join(
        Similarity.centroidSimProjection(spark, dir, exactMeans = exactMeans)
          .select(col("vec_id").as("doc_id"), col("cell"), col("cent_sim4")),
        "doc_id")
      .withColumn("keep",
        col("quality") >= minQuality && col("cent_sim4") >= minProto)
      .select("doc_id", "quality", "cell", "cent_sim4", "keep")
      .orderBy("doc_id")

  /** The mixture gate as a relation-to-relation transform over any input
    * with (doc_id, source): the bounded per-source rate relation joins by
    * broadcast, and a row keeps iff its content-stable draw clears the
    * source's threshold. Row-local apart from the broadcast, so THE SAME
    * definition runs on a streaming DataFrame
    * ([[graft.streaming.StreamOps.mixtureGateStream]]) — ingest-time
    * enforcement and corpus-rebuild sampling can never drift.
    */
  def mixtureGate(docs: DataFrame, rates: DataFrame): DataFrame =
    docs
      .withColumn("u", md5Draw("mix:"))
      // LEFT join, defaulting an unplanned source to rate 1.0: a gate
      // must FAIL OPEN — in the streaming deployment a source that
      // appears after planning has no rate row, and silently discarding
      // 100% of it would be an invisible data loss; it passes whole
      // until the next re-plan prices it. (In batch the rates derive
      // from the same corpus, so the default never fires.)
      .join(broadcast(rates), Seq("source"), "left_outer")
      .filter(col("u") <
        floor(coalesce(col("rate"), lit(1.0)) * lit(4294967296.0)).cast("long"))

  /** EXT-C4 — deterministic train/val/test split: bucket = the first 8
    * hex chars of `md5("split:" + doc_id)` mod 100; train < 80, val < 90,
    * test otherwise. Content-stable hashing is THE way to split at 100 TB
    * — no global sort, no sampling pass, no coordination; reruns and
    * incremental ingests land every document in the same split. Pure
    * row-local projection.
    */
  def hashSplit(spark: SparkSession, dir: String): DataFrame =
    splitAssign(spark, dir).orderBy("doc_id")

  /** The split assignment WITHOUT the presentation sort — consumers that
    * JOIN the splits ([[splitLeakage]]) skip the global sort exchange.
    */
  private def splitAssign(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), md5Bucket("split:").as("bucket"))
      .withColumn("split",
        when(col("bucket") < 80, "train").when(col("bucket") < 90, "val").otherwise("test"))

  /** EXT-C23 — split-leakage audit: near-duplicate pairs that STRADDLE
    * the [[hashSplit]] boundary. A held-out document with a near-dup in
    * train is not held out — its eval loss is memorization, not
    * generalization — so this relation must be EMPTY (or consumed as a
    * held-out-side drop list) before the split ships. Pairs come from
    * the same exact banded-SimHash relation the cluster resolver
    * consumes ([[Dedup.simhashNearDup]]: candidates only from band
    * collisions, Hamming ≤ 4 exact by pigeonhole).
    *
    * Scale: the pair relation is vanishingly small next to the corpus
    * (it is the near-dup evidence, not the cross product), so both split
    * lookups are doc_id equi-joins with a tiny probe side — AQE
    * broadcasts the pairs; the split relation is a row-local projection
    * of the corpus that is never shuffled. Deterministic presentation
    * order (d1, d2).
    */
  def splitLeakage(spark: SparkSession, dir: String): DataFrame =
    leakPairs(spark, dir)
      .select(col("d1"), col("d2"), col("split_1"), col("split_2"), col("hamming"))
      .orderBy("d1", "d2")

  /** The cross-split near-dup pair relation behind [[splitLeakage]] and
    * [[leakageRepair]] — the audit view minus its presentation sort, so
    * the repair's drop-set derivation never inherits a sort exchange.
    */
  private def leakPairs(spark: SparkSession, dir: String): DataFrame = {
    val pairs = graft.operators.Dedup.simhashNearDupPairs(spark, dir)
    val splits = splitAssign(spark, dir).select(col("doc_id"), col("split"))
    pairs
      .join(splits.select(col("doc_id").as("d1"), col("split").as("split_1")), "d1")
      .join(splits.select(col("doc_id").as("d2"), col("split").as("split_2")), "d2")
      .filter(col("split_1") =!= col("split_2"))
  }

  /** EXT-C64 (`x171_semantic_split_leakage`) — SEMANTIC train/eval
    * leakage: embedding-cosine near-dup pairs that CROSS the hash-split
    * boundary. [[splitLeakage]] (x20's family) catches the verbatim
    * copy via SimHash; this catches the PARAPHRASED leak — the reworded
    * eval document that shares no lexical fingerprint with its train
    * twin — which is exactly the class published decontamination
    * pipelines moved to embedding similarity for (x112's argument,
    * applied to the split boundary instead of the benchmark set).
    * Output per leaking pair: both ids, both splits, the cosine (4dp).
    * An empty relation is the PASS verdict.
    *
    * Scale: the pair relation is [[Similarity.cosineNearDupPairs]]'s
    * salted bucketed pairing (its scale notes apply verbatim); the
    * split tags are two narrow doc_id equi-joins against the row-local
    * split projection — nothing new shuffles at corpus size.
    */
  def semanticSplitLeakage(
      spark: SparkSession,
      dir: String,
      threshold: Double = 0.4,
      bits: Int = 2): DataFrame = {
    val splits = splitAssign(spark, dir).select(col("doc_id"), col("split"))
    Similarity.cosineNearDupPairs(spark, dir, threshold, bits)
      .join(splits.select(col("doc_id").as("v1"), col("split").as("split_1")), "v1")
      .join(splits.select(col("doc_id").as("v2"), col("split").as("split_2")), "v2")
      .filter(col("split_1") =!= col("split_2"))
      .select(col("v1"), col("v2"), col("split_1"), col("split_2"),
        round(col("sim"), 4).as("sim4"))
      .orderBy("v1", "v2")
  }

  /** EXT-C26 — split-leakage REPAIR: the fixed split assignment after
    * [[splitLeakage]]'s audit. For every cross-split near-dup pair the
    * lower-priority member is dropped under the fixed precedence
    * train > val > test — train keeps its document (dropping train
    * rows would shrink the corpus to protect an eval set that is being
    * discarded anyway), and a val↔test pair drops the test copy, so
    * eval sets never share near-dups with ANY other split. The rule is
    * well-defined because a leaking pair's splits differ by
    * construction and the precedence is injective per split. Output is
    * the full assignment with a `kept` verdict per document — the
    * auditable form; `filter(kept)` is the shippable split.
    *
    * Scale: the drop set is a projection of the (tiny) leak-pair
    * relation, distinct-ed at |drops| cost, then LEFT-joined to the
    * row-local split projection — AQE broadcasts it; the corpus is
    * scanned once and never shuffled (the presentation sort is the
    * only corpus-sized exchange).
    */
  def leakageRepair(spark: SparkSession, dir: String): DataFrame = {
    def prio(s: Column): Column =
      when(s === "train", 2).when(s === "val", 1).otherwise(0)
    val drops = leakPairs(spark, dir)
      .select(when(prio(col("split_1")) < prio(col("split_2")), col("d1"))
        .otherwise(col("d2")).as("doc_id"))
      .distinct()
      .withColumn("leaked", lit(true))
    splitAssign(spark, dir)
      .select(col("doc_id"), col("split"))
      .join(drops, Seq("doc_id"), "left_outer")
      .withColumn("kept", coalesce(col("leaked"), lit(false)) === lit(false))
      .select("doc_id", "split", "kept")
      .orderBy("doc_id")
  }

  /** EXT-C65 (`x164_mixture_temperature`) — training-mixture
    * temperature sweep: per source, the sampling weight under
    * `w_s ∝ share_s^α` for α ∈ {1, ½, ¼} — the standard knob that
    * flattens a web-dominated mixture toward rare-but-valuable sources
    * (α=1 is natural proportions; smaller α boosts the tail). α is
    * restricted to the halving ladder so the power spells as NESTED
    * `sqrt` on both faces — IEEE-754 requires sqrt correctly rounded,
    * so the un-normalized weights are BIT-identical across engines (a
    * `pow(x, 0.25)` spelling would be library-dependent). Output per
    * (α%, source): the census, natural share, normalized weight, and
    * the boost factor weight/share — the number a sampler multiplies
    * into its per-source rate.
    *
    * Scale: ONE corpus scan collapses to the |sources|-row census via
    * a partial agg; everything after (shares, powers, the per-α
    * normalizer) runs on |sources|·|α| rows — invisible at any corpus
    * size. The report is |sources|·|α| rows.
    */
  def mixtureTemperature(
      spark: SparkSession,
      dir: String,
      alphaPcts: Seq[Int] = Seq(100, 50, 25)): DataFrame = {
    require(alphaPcts.nonEmpty && alphaPcts.forall(Set(100, 50, 25)),
      s"alphaPcts (${alphaPcts.mkString(",")}) must come from {100, 50, 25} — " +
        "the exact nested-sqrt spellings")
    require(alphaPcts.distinct.size == alphaPcts.size,
      s"alphaPcts (${alphaPcts.mkString(",")}) contains duplicates — a repeated " +
        "α doubles its rows into the per-α normalizer z, silently halving " +
        "weight/boost for that α instead of failing loudly")
    val census = Tables.documents(spark, dir)
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(size(Tables.tokens(col("text"))).cast("long")).as("n_tokens"))
      .localCheckpoint() // |sources| rows, consumed once per alpha
    val total = census.agg(sum("n_tokens").as("tot"))
    val shares = census.crossJoin(broadcast(total)) // 1-row totals join
      .select(col("source"), col("n_docs"), col("n_tokens"),
        (col("n_tokens").cast("double") / col("tot")).as("share"))
    val perAlpha = alphaPcts.map { a =>
      val w = a match {
        case 100 => col("share")
        case 50  => sqrt(col("share"))
        case 25  => sqrt(sqrt(col("share")))
      }
      shares.select(lit(a).as("alpha_pct"), col("source"), col("n_docs"),
        col("n_tokens"), col("share"), w.as("w_raw"))
    }.reduce(_ unionByName _)
    val norm = perAlpha.groupBy("alpha_pct").agg(sum("w_raw").as("z"))
    perAlpha.join(norm, Seq("alpha_pct"))
      .select(col("alpha_pct").cast("int").as("alpha_pct"), col("source"),
        col("n_docs"), col("n_tokens"),
        round(col("share"), 4).as("share4"),
        round(col("w_raw") / col("z"), 4).as("weight4"),
        round(col("w_raw") / col("z") / col("share"), 4).as("boost4"))
      .orderBy("alpha_pct", "source")
  }

  /** EXT-C61 (`x167_epoch_allocation`) — repetition epochs under a fixed
    * training-token budget: the data-constrained-scaling planner (the
    * question Muennighoff et al. 2023 answer empirically — repeating a
    * source up to ~4 epochs is near-free, beyond that wasted compute).
    * Each source gets the proportional share of the budget
    * (`alloc = floor(budget·n_tokens/total)` — exact BIGINT), which it
    * absorbs as full epochs capped at `maxEpochs`; output per source:
    * the census, allocation, full-epoch count (`alloc div n_tokens`
    * capped), the effective tokens actually trainable
    * (`least(alloc, maxEpochs·n_tokens)`), the LEFTOVER budget the cap
    * strands (the "this source is data-bound, move budget elsewhere"
    * signal a rebalancing pass would consume), and two single-division
    * rationals: realized epochs and budget utilization.
    *
    * Scale: ONE corpus scan collapses to the |sources|-row census via a
    * partial agg; everything after is arithmetic on |sources| rows plus
    * the 1-row total broadcast. The report is |sources| rows.
    */
  def epochAllocation(
      spark: SparkSession,
      dir: String,
      budget: Long = 4000000L,
      maxEpochs: Int = 4): DataFrame = {
    require(budget > 0, s"budget ($budget) must be positive")
    require(maxEpochs >= 1, s"maxEpochs ($maxEpochs) must be >= 1")
    val census = Tables.documents(spark, dir)
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(size(Tables.tokens(col("text"))).cast("long")).as("n_tokens"))
    val total = census.agg(sum("n_tokens").as("tot"))
    census.crossJoin(broadcast(total)) // 1-row totals join
      .select(col("source"), col("n_docs"), col("n_tokens"),
        floor((lit(budget) * col("n_tokens")).cast("double") / col("tot"))
          .cast("long").as("alloc"))
      .withColumn("epochs_full",
        least(expr("alloc div n_tokens"), lit(maxEpochs.toLong)))
      .withColumn("effective_tokens",
        least(col("alloc"), lit(maxEpochs.toLong) * col("n_tokens")))
      .withColumn("leftover", col("alloc") - col("effective_tokens"))
      .withColumn("epochs4",
        round(col("effective_tokens").cast("double") / col("n_tokens"), 4))
      .withColumn("util4",
        when(col("alloc") === 0L, lit(1.0))
          .otherwise(round(col("effective_tokens").cast("double") / col("alloc"), 4)))
      .orderBy("source")
  }

  /** EXT-C62 (`x168_contamination_k_sweep`) — decontamination GRAM-LENGTH
    * sensitivity: [[contaminationScore]]'s verdict re-derived at each
    * gram length `k` — the offline tuning table behind the "13-gram"
    * folklore (GPT-3 used 13, PaLM 8; too short over-quarantines on
    * vocabulary coincidence, too long misses paraphrased leaks). Per k:
    * the scored-doc census, how many docs share ≥1 gram at all, how
    * many the threshold flags, the exact BIGINT gram masses, and the
    * flag rate (one IEEE division) — read as a curve, the knee picks k.
    *
    * Scale: one gram explode + broadcast benchmark join PER k (the gram
    * relation differs by k — there is no shared spelling; |ks| passes
    * is the honest tuning-table price, x143's band-sweep note). Each
    * pass collapses map-side to per-doc counts; the report is |ks| rows.
    */
  def contaminationKSweep(
      spark: SparkSession,
      dir: String,
      ks: Seq[Int] = Seq(3, 5, 7),
      threshold: Double = 0.1): DataFrame = {
    require(ks.nonEmpty && ks.forall(_ >= 1), s"ks (${ks.mkString(",")}) must be >= 1")
    require(ks.distinct.size == ks.size, s"ks (${ks.mkString(",")}) contains duplicates")
    ks.map { k =>
      contaminationScore(spark, dir, k, threshold)
        .agg(
          count(lit(1)).as("n_docs"),
          sum(when(col("n_shared") > 0L, 1L).otherwise(0L)).as("n_hit"),
          sum(when(col("drop"), 1L).otherwise(0L)).as("n_flagged"),
          sum(col("n_grams")).as("sum_grams"),
          sum(col("n_shared")).as("sum_shared"))
        .select(lit(k).as("k"), col("n_docs"), col("n_hit"), col("n_flagged"),
          col("sum_grams"), col("sum_shared"),
          round(col("n_flagged").cast("double") / col("n_docs"), 4).as("flag_rate4"))
    }.reduce(_ unionByName _).orderBy("k")
  }

  /** EXT-C64 (`x163_curation_funnel`) — the pipeline FUNNEL: doc and
    * token mass surviving each cumulative curation stage —
    * 1 raw → 2 quality keepers (x19's exact gate) → 3 dedup survivors
    * (drop non-canonical cluster members, x29's rule) → 4 the train
    * split (x21's bucket) — with each stage's fraction of raw. x29 IS
    * stage 4 as a per-doc relation; this is the capacity-planning
    * summary over the identical predicates (spec-pinned: the stage-4
    * doc count equals `curatedCorpus.count()`), answering the question
    * every 100 TB ingest starts with: how many training tokens does
    * this crawl actually yield, and which stage eats them.
    *
    * Scale: ONE corpus scan computes tokens + the quality flags
    * row-locally; the cluster labels (tiny) and split flag join on
    * doc_id; everything then collapses through a SINGLE 1-row partial
    * agg (8 conditional sums) exploded to the 4-row report — no
    * window, no second scan, shuffle carries one row per partition.
    */
  def curationFunnel(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val nonCanon = dedupClusters(spark, dir)
      .filter(col("cluster") =!= col("doc_id"))
      .select(col("doc_id"), lit(true).as("dup"))
    val flags = qualityProjection(docs)
      .select(col("doc_id"), col("keep"), col("n_tokens"))
      .join(nonCanon, Seq("doc_id"), "left")
      .join(splitAssign(spark, dir).select(col("doc_id"), col("split")), "doc_id")
      .select(col("n_tokens"), col("keep"),
        (col("keep") && col("dup").isNull).as("s3"),
        (col("keep") && col("dup").isNull && col("split") === "train").as("s4"))
    flags.agg(
        count(lit(1)).as("d1"), sum("n_tokens").as("t1"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("d2"),
        sum(when(col("keep"), col("n_tokens")).otherwise(0L)).as("t2"),
        sum(when(col("s3"), 1L).otherwise(0L)).as("d3"),
        sum(when(col("s3"), col("n_tokens")).otherwise(0L)).as("t3"),
        sum(when(col("s4"), 1L).otherwise(0L)).as("d4"),
        sum(when(col("s4"), col("n_tokens")).otherwise(0L)).as("t4"))
      .select(expr(
        "stack(4, 1, 'raw', d1, t1, 2, 'quality', d2, t2, " +
          "3, 'dedup', d3, t3, 4, 'train', d4, t4) AS (stage_ord, stage, n_docs, n_tokens)"),
        col("d1").as("rd"), col("t1").as("rt"))
      .select(col("stage_ord").cast("int").as("stage_ord"), col("stage"),
        col("n_docs"), col("n_tokens"),
        round(col("n_docs").cast("double") / col("rd"), 4).as("doc_frac4"),
        round(col("n_tokens").cast("double") / col("rt"), 4).as("tok_frac4"))
      .orderBy("stage_ord")
  }

  /** EXT-C52 (`x147_dedup_savings`) — dedup ECONOMICS: the exact tokens
    * each dedup layer would reclaim, on one shared denominator. Three
    * rows — `doc` (x1's identical-text groups: every copy beyond the
    * keeper), `chunk` (x126's CDC digest census: every chunk instance
    * beyond the first — edit-stable partial duplication), `cluster`
    * (x22's near-dup components under keep-lowest-id: whole documents
    * beyond each canonical) — each with its unit count, dropped units,
    * dropped tokens, and the savings fraction of total corpus tokens.
    * The CDC chunker PARTITIONS each document's token stream, so the
    * chunk layer shares the doc layers' denominator exactly, and the
    * three fractions are directly comparable: this is the table that
    * decides WHICH dedup a corpus pays for (storage-dedup economics
    * read against training-data reality: `chunk − doc` is boilerplate
    * buried in distinct pages, `cluster − doc` is whole-page
    * templating).
    *
    * Laws (spec-pinned): identical texts share all chunks and collide
    * in SimHash, so `doc ≤ chunk` and `doc ≤ cluster` savings, exactly.
    *
    * Scale: three independent keyed folds (text digest / chunk digest /
    * cluster label) over the shared machinery — x1's, x126's and x22's
    * own shapes — collapsed to 1-row summaries joined to a 1-row
    * totals broadcast; nothing pairwise beyond x22's banded pairs.
    */
  def dedupSavings(spark: SparkSession, dir: String): DataFrame = {
    // r19 (guide §2.6): the token pass, the CDC chunk pass and the x22
    // contraction loop are INDEPENDENT materializations — overlap the
    // contraction (a latency-bound driver loop) with the two scans
    // instead of paying them back to back.
    val ((withToks, chunks), clusterLabels) = Par.both(
      {
        val wt = Tables.documents(spark, dir)
          .select(col("doc_id"), col("text"),
            size(Tables.tokens(col("text"))).cast("long").as("n_toks"))
          .localCheckpoint() // consumed by all three layers + the totals
        val ch = Dedup.cdcChunks(Tables.documents(spark, dir))
          .select("digest", "n_tokens").localCheckpoint()
        (wt, ch)
      },
      dedupClusters(spark, dir))
    val totals = withToks.agg(count(lit(1)).as("n_docs"), sum("n_toks").as("tok_total"))
    def summarize(layer: String, units: DataFrame, dropped: DataFrame): DataFrame =
      units.crossJoin(broadcast(dropped)).crossJoin(broadcast(totals))
        .select(lit(layer).as("layer"), col("n_units"),
          coalesce(col("n_dropped"), lit(0L)).as("n_dropped"),
          col("tok_total"),
          coalesce(col("toks_dropped"), lit(0L)).as("toks_dropped"))
        .withColumn("savings_frac4",
          when(col("tok_total") === 0L, lit(null).cast("double"))
            .otherwise(round(coalesce(col("toks_dropped"), lit(0L)).cast("double")
              / col("tok_total"), 4)))
    // doc: identical-text groups — copies beyond the keeper, at the
    // group's (shared) token count
    val docLayer = summarize("doc",
      totals.select(col("n_docs").as("n_units")),
      withToks.groupBy(sha2(col("text"), 256))
        .agg(count(lit(1)).as("c"), min("n_toks").as("nt"))
        .agg(sum(col("c") - 1L).as("n_dropped"),
          sum((col("c") - 1L) * col("nt")).as("toks_dropped")))
    // chunk: digest census over CDC chunk instances
    val chunkLayer = summarize("chunk",
      chunks.agg(count(lit(1)).as("n_units")),
      chunks.groupBy("digest")
        .agg(count(lit(1)).as("c"), min("n_tokens").as("nt"))
        .agg(sum(col("c") - 1L).as("n_dropped"),
          sum((col("c") - 1L) * col("nt")).as("toks_dropped")))
    // cluster: keep-lowest-id per x22 component — non-canonical members
    // drop at their OWN token counts (near-copies differ in length)
    val clusterLayer = summarize("cluster",
      totals.select(col("n_docs").as("n_units")),
      clusterLabels
        .filter(col("doc_id") =!= col("cluster"))
        .join(withToks.select("doc_id", "n_toks"), "doc_id")
        .agg(count(lit(1)).as("n_dropped"), sum("n_toks").as("toks_dropped")))
    docLayer.unionByName(chunkLayer).unionByName(clusterLayer).orderBy("layer")
  }

  /** EXT-C48 (`x139_deletion_blast`) — right-to-be-forgotten BLAST
    * RADIUS: given a deletion set (the `doc_id % delMod = 0` sample —
    * the takedown batch), the exact count of derived artifacts each
    * curation layer must touch to honor it, one row per artifact class:
    *
    *  - `doc` — the deletion set itself over the corpus;
    *  - `chunk_digest` — CDC chunk digests whose ONLY provenance is
    *    deleted docs (they must be purged from every chunk index;
    *    digests shared with surviving docs stay — content the corpus
    *    still legitimately holds);
    *  - `cluster` — x22 near-dup clusters losing ≥ 1 member (their
    *    canonical representative may change);
    *  - `co_clustered_doc` — SURVIVING docs sharing a cluster with a
    *    deleted one (each needs re-canonicalization — deletion's reach
    *    beyond the deleted rows themselves, the number governance
    *    reviews actually ask for);
    *  - `pack_bin` — concat-cut bins (x39's geometry) at or after each
    *    language's first deleted doc: deleting a doc shifts every
    *    later doc in the lang, so the honest repack cost is the whole
    *    downstream tail, not one bin.
    *
    * Every count is an exact integer fold; `affected_frac4` is one
    * guarded IEEE division. The point of the relation is the ORDER of
    * magnitudes: chunk purges are narrow, repacking is broad — which
    * is why production layouts shard packs by ingest date (bounding
    * the tail) and key indexes by digest (making purges point lookups).
    *
    * Scale: five independent keyed folds (digest / cluster / lang),
    * each collapsing map-side; the cluster legs re-run the x22
    * contraction (the self-contained-query convention, x129's note);
    * nothing pairwise beyond it, output is 5 rows.
    */
  def deletionBlastRadius(
      spark: SparkSession,
      dir: String,
      delMod: Long = 50L,
      k: Int = 4,
      divisor: Long = 16L,
      budgetTokens: Long = 512L,
      maxRounds: Int = 30): DataFrame = {
    require(delMod >= 2, s"delMod ($delMod) must be >= 2")
    def isDel(c: Column): Column = pmod(c, lit(delMod)) === 0
    val docs = Tables.documents(spark, dir)
    val docAgg = docs.agg(
        sum(when(isDel(col("doc_id")), 1L).otherwise(0L)).as("n_affected"),
        count(lit(1)).as("n_total"))
      .select(lit("doc").as("artifact"), col("n_affected"), col("n_total"))
    val chunkAgg = Dedup.cdcChunks(docs, k, divisor)
      .groupBy("digest")
      .agg(
        max(when(isDel(col("doc_id")), 1L).otherwise(0L)).as("has_del"),
        max(when(!isDel(col("doc_id")), 1L).otherwise(0L)).as("has_kept"))
      .agg(
        sum(when(col("has_del") === 1L && col("has_kept") === 0L, 1L).otherwise(0L))
          .as("n_affected"),
        count(lit(1)).as("n_total"))
      .select(lit("chunk_digest").as("artifact"), col("n_affected"), col("n_total"))
    val clusters = dedupClusters(spark, dir, maxRounds)
      .localCheckpoint() // consumed by the cluster fold AND the co-member fold
    val perCluster = clusters.groupBy("cluster")
      .agg(
        max(when(isDel(col("doc_id")), 1L).otherwise(0L)).as("has_del"),
        count(lit(1)).as("n_members"),
        sum(when(!isDel(col("doc_id")), 1L).otherwise(0L)).as("n_kept"))
    val clusterAgg = perCluster.agg(
        sum(when(col("has_del") === 1L, 1L).otherwise(0L)).as("n_affected"),
        count(lit(1)).as("n_total"))
      .select(lit("cluster").as("artifact"), col("n_affected"), col("n_total"))
    val coAgg = perCluster.agg(
        sum(when(col("has_del") === 1L, col("n_kept")).otherwise(0L)).as("n_affected"),
        sum("n_members").as("n_total"))
      .select(lit("co_clustered_doc").as("artifact"), col("n_affected"), col("n_total"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("lang").orderBy("doc_id")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val packAgg = docs
      .select(col("lang"), col("doc_id"),
        size(Tables.tokens(col("text"))).cast("long").as("tok"))
      .withColumn("cum", sum("tok").over(w))
      .withColumn("bin", expr(s"(cum - tok) div $budgetTokens"))
      .groupBy("lang")
      .agg(max("bin").as("max_bin"),
        min(when(isDel(col("doc_id")), col("bin"))).as("min_del_bin"))
      .agg(
        sum(when(col("min_del_bin").isNull, 0L)
          .otherwise(col("max_bin") - col("min_del_bin") + 1L)).as("n_affected"),
        sum(col("max_bin") + 1L).as("n_total"))
      .select(lit("pack_bin").as("artifact"), col("n_affected"), col("n_total"))
    docAgg.unionAll(chunkAgg).unionAll(clusterAgg).unionAll(coAgg).unionAll(packAgg)
      .withColumn("affected_frac4",
        when(col("n_total") === 0L, lit(null).cast("double"))
          .otherwise(round(col("n_affected").cast("double") / col("n_total"), 4)))
      .orderBy("artifact")
  }

  /** EXT-C8 — stratified deterministic sampling: per-language keep rates
    * (en 10%, everything else 25%) decided by a content-stable hash
    * bucket, never by `rand()` — reruns select the same rows, and the
    * sample composition is auditable. One narrow filter over the scan
    * (predicate reaches the parquet scan; no shuffle).
    */
  def stratifiedSample(spark: SparkSession, dir: String): DataFrame = {
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), md5Bucket("samp:").as("bucket"))
      .filter(col("bucket") < when(col("lang") === "en", 10L).otherwise(25L))
      .orderBy("doc_id")
  }

  /** EXT-C9 — the end-to-end curated corpus: the composition a training
    * run actually consumes. A document survives iff it (1) passes the
    * quality gate, (2) is its near-dup cluster's canonical representative
    * (or is unclustered), and (3) hashes into the train split. Each leg
    * is the operator defined above; the composition is three joins on
    * doc_id — quality and split semi-joins, cluster anti-join — all
    * narrow-keyed and AQE-broadcastable, so the corpus is scanned once
    * per leg and never self-joined.
    */
  def curatedCorpus(spark: SparkSession, dir: String): DataFrame = {
    val quality = qualityGate(spark, dir).filter(col("keep")).select("doc_id")
    val nonCanonical = dedupClusters(spark, dir)
      .filter(col("cluster") =!= col("doc_id")).select("doc_id")
    val train = hashSplit(spark, dir).filter(col("split") === "train").select("doc_id")
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"))
      .join(quality, "doc_id")
      .join(nonCanonical, Seq("doc_id"), "left_anti")
      .join(train, "doc_id")
      .orderBy("doc_id")
  }

  /** One Bloom-filter probe position: bits [0, m) derived from the first
    * 8 hex chars (32 bits — exact through the string→long conv) of
    * `md5("bf" + i + ":" + digest)`. The oracle spells the identical
    * derivation; the per-operator seed prefix rule is the same as
    * [[md5Bucket]]'s.
    */
  private def bloomPos(digest: Column, i: Int, m: Int): Column = pmod(
    conv(substring(md5(concat(lit(s"bf$i:"), digest)), 1, 8), 16, 10).cast("long"),
    lit(m.toLong))

  /** JVM twin of [[bloomPos]] for the STREAMING probe (a broadcast
    * bit-set has no declarative spelling): first 8 hex chars of
    * `md5("bf" + i + ":" + digest)` = the digest's first 4 bytes
    * big-endian, unsigned, mod m. The batch/stream equivalence is
    * asserted in the streaming spec — the two derivations must never
    * drift.
    */
  private[graft] object BloomHash {
    private val digests: ThreadLocal[java.security.MessageDigest] =
      ThreadLocal.withInitial(() => java.security.MessageDigest.getInstance("MD5"))

    def pos(digest: String, i: Int, m: Int): Int = {
      val md = digests.get()
      md.reset()
      val d = md.digest(s"bf$i:$digest".getBytes("UTF-8"))
      val v = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
        ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
      (v % m).toInt
    }
  }

  /** A built Bloom filter: the bit-set TOGETHER with the (m, k) it was
    * built under. The parameters travel with the bits because probing
    * with a different m or k silently re-derives different positions —
    * a true duplicate could then miss a probe and the filter's central
    * no-false-negative guarantee would break without anything failing.
    */
  final case class BloomIndex(bits: Array[Long], m: Int, k: Int) {
    /** Row-local JVM probe: all k positions set? Null digests (null
      * document text) are never "maybe duplicates" — matching
      * [[bloomPrefilter]], where a null digest derives null positions,
      * matches nothing, and lands at n_hits = 0.
      */
    def mightContain(digest: String): Boolean = {
      if (digest == null) return false
      var i = 0
      var all = true
      while (all && i < k) {
        val p = BloomHash.pos(digest, i, m)
        all = ((bits(p >> 6) >>> (p & 63)) & 1L) == 1L
        i += 1
      }
      all
    }
  }

  /** Driver-side Bloom index build from a corpus digest relation — the
    * persisted-index step of the streaming ingest pipeline. The collect
    * is BOUNDED BY m bits by construction (the distinct position
    * relation, not the digests), so it is legitimate at any corpus size —
    * the same constant-size-broadcast argument as the IVF centroids.
    * Null digests (null document text) derive null positions and are
    * dropped here, matching both probe paths ([[BloomIndex.mightContain]]
    * and [[bloomPrefilter]]), which treat null as never-duplicate.
    */
  def buildBloomIndex(corpusDigests: DataFrame, m: Int = 65536, k: Int = 4): BloomIndex = {
    val bits = new Array[Long]((m + 63) / 64)
    corpusDigests
      .filter(col("digest").isNotNull)
      .select(explode(array((0 until k).map(bloomPos(col("digest"), _, m)): _*)).as("pos"))
      .distinct().collect()
      .foreach { r => val p = r.getLong(0).toInt; bits(p >> 6) |= 1L << (p & 63) }
    BloomIndex(bits, m, k)
  }

  /** EXT-C14 — Bloom-filter prefilter for incremental dedup: the scale
    * path BEFORE the exact anti-join of [[incrementalDedup]]. The corpus
    * digests are folded into a bit-set of at most `m` positions (`k`
    * hashes per digest); a new document is a *possible* duplicate only
    * if all `k` of its positions are set. At 100 TB the corpus digest
    * set is far too large to broadcast, but the Bloom relation is
    * BOUNDED BY `m` regardless of corpus size — so the cheap broadcast
    * probe discards the (typically vast) non-duplicate majority and only
    * `maybe_dup` survivors pay the shuffled exact anti-join.
    *
    * Output keeps both verdicts per new document — `maybe_dup` (Bloom)
    * and `is_dup` (exact) — so the false-positive behavior is itself
    * under test: Bloom guarantees `is_dup ⇒ maybe_dup`, never the
    * converse (also asserted as a law in the spec).
    */
  def bloomPrefilter(
      spark: SparkSession,
      dir: String,
      m: Int = 65536,
      k: Int = 4): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), sha2(col("text"), 256).as("digest"))
    val corpus = docs.filter(col("doc_id") % 2 === 0).select("digest").distinct()
      .localCheckpoint() // consumed twice: Bloom build + exact check
    // the "bit-set" as a relation of distinct set positions: ≤ m rows of
    // one long each — constant-bounded, hence always broadcastable
    val bloom = corpus
      .select(explode(array((0 until k).map(bloomPos(col("digest"), _, m)): _*)).as("pos"))
      .distinct()
    // consumed by two branches (probe hits + exact-verdict join): without
    // the materialization the fresh scan and its sha256 run twice
    val fresh = docs.filter(col("doc_id") % 2 === 1).localCheckpoint()
    val hits = fresh
      .select(col("doc_id"),
        explode(array((0 until k).map(bloomPos(col("digest"), _, m)): _*)).as("pos"))
      .join(broadcast(bloom), Seq("pos"), "left_semi")
      .groupBy("doc_id").agg(count(lit(1)).as("n_hits"))
    fresh
      .join(hits, Seq("doc_id"), "left_outer")
      .withColumn("n_hits", coalesce(col("n_hits"), lit(0L)))
      .withColumn("maybe_dup", col("n_hits") === k)
      // the exact verdict — at scale this join would run over the
      // maybe_dup survivors only; both verdicts are kept here so the
      // oracle checks the Bloom semantics themselves
      .join(corpus.withColumn("in_corpus", lit(true)), Seq("digest"), "left_outer")
      .withColumn("is_dup", coalesce(col("in_corpus"), lit(false)))
      .select("doc_id", "n_hits", "maybe_dup", "is_dup")
      .orderBy("doc_id")
  }

  /** EXT-C16 — fixed-BUDGET deterministic sample: exactly `k` documents
    * per stratum (language), chosen by content-stable hash order — the
    * complement of the rate-based [[stratifiedSample]] for when the
    * contract is "give me 10k eval docs per language", not a percentage.
    *
    * Spelled as a map-side bounded top-k aggregate
    * ([[graft.functions.TopKExpression]] over the NEGATED hash — smallest
    * draws win), NOT a `row_number` window: the window spelling shuffles
    * the ENTIRE corpus by stratum before discarding all but k rows per
    * language; the aggregate folds each map partition down to ≤ k
    * candidates per stratum first, so the one exchange carries
    * ≤ |strata|·k rows per partition at any corpus size. The 32-bit draw
    * is exact through the double negation (and ties break toward the
    * lower doc_id, mirroring the oracle's `ORDER BY u, doc_id`).
    */
  def fixedSample(spark: SparkSession, dir: String, k: Int = 20): DataFrame = {
    val agg = graft.functions.TopK.topk(k)
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), md5Draw("fsamp:").as("u"))
      .groupBy("lang")
      .agg(agg(negate(col("u").cast("double")), col("doc_id")).as("sel"))
      .select(col("lang"), posexplode(col("sel.entries")))
      .select(col("lang"), (col("pos") + 1).cast("int").as("rank"),
        col("col.cid").as("doc_id"), negate(col("col.sim")).cast("long").as("u"))
      .orderBy("lang", "rank")
  }

  /** EXT-C15 — quality-weighted deterministic sampling: keep probability
    * proportional to the document's quality score (`rate · quality`),
    * decided by the same content-stable md5 bucketing as
    * [[stratifiedSample]] — never `rand()`. The comparison is spelled in
    * exact integer space: a 32-bit hash draw `u` against
    * `floor((rate · quality) · 2³²)` — two IEEE multiplies (the second by
    * a power of two, hence exact) and a floor, bit-reproducible in the
    * oracle. The shape every "sample high-quality data more" curriculum
    * pass uses; one narrow row-local filter, no shuffle.
    */
  def weightedSample(spark: SparkSession, dir: String, rate: Double = 0.3): DataFrame = {
    TextAnalysis.statsProjection(spark, dir)
      .select(col("doc_id"), col("quality"))
      .withColumn("u", md5Draw("wsamp:"))
      .withColumn("threshold",
        floor((lit(rate) * col("quality")) * lit(4294967296.0)).cast("long"))
      .withColumn("keep", col("u") < col("threshold"))
      .select("doc_id", "quality", "u", "threshold", "keep")
      .orderBy("doc_id")
  }

  /** EXT-C28 — DSIR-style hashed importance weights (Xie et al. 2023,
    * "Data Selection for Language Models via Importance Resampling"):
    * score every raw document by how much its token distribution looks
    * like a designated TARGET slice (here the `targetSource` documents —
    * the stand-in for "quality domain we want more of"), using hashed
    * unigram BUCKETS so the feature space is fixed-width no matter the
    * vocabulary — DSIR's actual trick, and the 100 TB one: `numBuckets`
    * bounds both count relations regardless of corpus size.
    *
    * Exact-arithmetic cousin of DSIR's log-likelihood ratio, the same
    * substitution [[TextAnalysis.bigramLm]] makes for KenLM perplexity:
    * instead of `Σ log(p_target(b)/p_raw(b))` (order-sensitive float
    * sum, libm-dependent), each document pools BIGINT count masses —
    * `t_mass = Σ tc(b)`, `r_mass = Σ rc(b)` over its token positions —
    * and `importance = (t_mass · N_raw) / (r_mass · N_target)` is two
    * IEEE multiplies and one division on exact integers, > 1 iff the
    * document's buckets are disproportionately target-mass. Downstream
    * resampling composes with the house samplers (x45's weighted gate,
    * x46's budgeted top-k) rather than being baked in here.
    *
    * Plan: ONE hashed-token stream (compiled
    * [[graft.functions.WindowHashes]] k=1, bucketed by `pmod`),
    * materialized once and consumed four ways: the two bucket-count
    * aggregations (partial-agg groupBys, output ≤ numBuckets rows — AQE
    * broadcasts them back), the two scalar totals (one row), and the
    * scoring join + one doc_id partial agg. Linear in corpus tokens;
    * nothing pairs documents; no global sort (presentation `orderBy`
    * aside). A bucket absent from the target LEFT-joins to tc=0 —
    * smoothing is the caller's choice via the importance floor, not
    * hidden arithmetic.
    */
  def importanceWeights(
      spark: SparkSession,
      dir: String,
      targetSource: String = "src0",
      numBuckets: Long = 65536L): DataFrame = {
    require(numBuckets > 0, "numBuckets must be positive")
    val isTarget = col("source") === targetSource
    val s = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        explode(graft.functions.WindowHashes.windowHashes(
          Tables.tokens(col("text")), 1)).as("h"))
      .select(col("doc_id"), col("source"),
        pmod(col("h"), lit(numBuckets)).as("b"))
      .localCheckpoint() // four consumers of one linear token pass
    val rc = s.groupBy("b").agg(count(lit(1)).as("rc"))
    val tc = s.filter(isTarget).groupBy("b").agg(count(lit(1)).as("tc"))
    val tot = s.agg(
      count(lit(1)).as("nr"),
      sum(when(isTarget, 1L).otherwise(0L)).as("nt"))
    s.join(rc, "b")
      .join(tc, Seq("b"), "left")
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_toks"),
        sum(coalesce(col("tc"), lit(0L))).as("t_mass"),
        sum(col("rc")).as("r_mass"))
      .crossJoin(broadcast(tot))
      .select(col("doc_id"), col("n_toks"), col("t_mass"), col("r_mass"),
        ((col("t_mass").cast("double") * col("nr")) /
          (col("r_mass").cast("double") * col("nt"))).as("importance"))
      .orderBy("doc_id")
  }

  /** The trained artifact of [[importanceWeights]], packaged for the
    * streaming ingest gate ([[graft.streaming.StreamOps.importanceGateStream]])
    * — the same train-batch/serve-stream contract as the k-means
    * centroids (EXT-6i): the model is fitted once on the batch corpus
    * and shipped to executors as a broadcast. Both count maps are
    * bounded by `numBuckets` REGARDLESS of corpus size (DSIR's hashing
    * trick is exactly what makes the model broadcastable), so the
    * driver-side collect is bounded by construction, not by data.
    */
  case class ImportanceModel(
      targetSource: String,
      numBuckets: Long,
      nRaw: Long,
      nTarget: Long,
      rawCounts: Map[Long, Long],
      targetCounts: Map[Long, Long]) {
    require(numBuckets > 0, "numBuckets must be positive")

    /** Score one document's bucket ids — the exact arithmetic of
      * [[importanceWeights]] (pooled BIGINT masses, one IEEE ratio).
      * Buckets the training corpus never saw contribute no mass; a
      * document with zero raw mass (entirely unseen vocabulary) scores
      * 0.0 — the training distribution offers no evidence for it.
      */
    def score(buckets: Seq[Long]): (Long, Long, Double) = {
      var t = 0L
      var r = 0L
      buckets.foreach { b =>
        t += targetCounts.getOrElse(b, 0L)
        r += rawCounts.getOrElse(b, 0L)
      }
      val imp =
        if (r == 0L) 0.0 else (t.toDouble * nRaw) / (r.toDouble * nTarget)
      (t, r, imp)
    }
  }

  /** EXT-C33 (x95) — gate-attrition funnel: the curation-pipeline audit
    * that says WHICH quality gate is doing the filtering. For the four
    * [[qualityProjection]] rules applied in their documented order
    * (len → avg → stop → rep), each output row reports the docs entering
    * that gate (survivors of the earlier ones), dropped at it, and
    * surviving it — plus `n_sole_blocker`: docs failing ONLY that gate,
    * the count that tells a curator "relaxing this one threshold
    * recovers exactly N documents" (the funnel drop alone can't, because
    * a doc dropped at gate 2 may also fail gate 4).
    *
    * Scale: one row-local measurement pass (the same compiled
    * hash-count pass x19 runs) folded by conditional partial aggregation
    * into ONE driver row, restacked to 4 gate rows — no shuffle wider
    * than a single-row exchange, no second corpus pass, at any corpus
    * size. This is the cheapest possible spelling: the funnel is
    * arithmetic over 9 conditional counts.
    */
  def gateAttrition(spark: SparkSession, dir: String): DataFrame = {
    val q = qualityProjection(Tables.documents(spark, dir))
    val agg = q.agg(
      count(lit(1)).as("n0"),
      sum(when(col("r_len"), 1L).otherwise(0L)).as("s1"),
      sum(when(col("r_len") && col("r_avg"), 1L).otherwise(0L)).as("s2"),
      sum(when(col("r_len") && col("r_avg") && col("r_stop"), 1L).otherwise(0L)).as("s3"),
      sum(when(col("keep"), 1L).otherwise(0L)).as("s4"),
      sum(when(!col("r_len") && col("r_avg") && col("r_stop") && col("r_rep"), 1L)
        .otherwise(0L)).as("b1"),
      sum(when(col("r_len") && !col("r_avg") && col("r_stop") && col("r_rep"), 1L)
        .otherwise(0L)).as("b2"),
      sum(when(col("r_len") && col("r_avg") && !col("r_stop") && col("r_rep"), 1L)
        .otherwise(0L)).as("b3"),
      sum(when(col("r_len") && col("r_avg") && col("r_stop") && !col("r_rep"), 1L)
        .otherwise(0L)).as("b4"))
    agg.select(expr(
      """stack(4,
        |  1L, 'len',  n0, s1, b1,
        |  2L, 'avg',  s1, s2, b2,
        |  3L, 'stop', s2, s3, b3,
        |  4L, 'rep',  s3, s4, b4
        |) AS (gate, rule, n_in, n_out, n_sole_blocker)""".stripMargin))
      .select(col("gate"), col("rule"), col("n_in"), (col("n_in") - col("n_out")).as("n_dropped"),
        col("n_out"), col("n_sole_blocker"))
      .orderBy("gate")
  }

  /** EXT-C34 (x97) — sublinear per-source caps: web-corpus domain
    * balancing, where a source with n documents keeps only ~√n of them
    * so no single crawl domain dominates the mixture (the √-law is the
    * standard web-dedup pick; any concave law slots in).
    *
    * The SCALE trick is that the cap needs no per-source ranking: keep
    * doc iff its content-stable 32-bit draw < ⌊2³² / √n⌋ — an expected
    * √n survivors per source with zero windows, zero per-source sorts,
    * and zero skew sensitivity (a 10⁹-doc domain and a 10-doc domain
    * cost the same row-local compare). The |sources|-row count relation
    * broadcasts; the corpus side is one filter pass. The exact-quota
    * spelling (row_number ≤ √n per source) needs a full shuffle+sort by
    * source — the Zipf-skewed web makes that one hot partition per
    * mega-domain; the thresholded spelling is how it ships at 100 TB.
    * Deterministic: the draw is md5 of a seeded doc_id, so replays and
    * both engines agree exactly.
    */
  def domainCaps(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val counts = docs.groupBy("source").agg(count(lit(1)).as("n_source"))
    docs.select(col("doc_id"), col("source"), md5Draw("cap:").as("draw"))
      .join(broadcast(counts), "source")
      .where(col("draw") < floor(lit(4294967296.0) / sqrt(col("n_source").cast("double"))))
      .select(col("doc_id"), col("source"), col("n_source"))
      .orderBy("doc_id")
  }

  /** EXT-C36 (x99) — Bloom false-positive-rate audit: the measured-FPR
    * leg that completes the sketch-audit family (HLL x59, quantiles
    * x67, CMS x73, SpaceSaving x78 — the Bloom prefilter x42 was the
    * one sketch without an audit row). Aggregates the x42 relation to
    * ONE row of exact counts: probes, flagged, true duplicates, false
    * positives, false NEGATIVES (which the Bloom theorem says must be
    * zero — emitted so the oracle holds both engines to the law, not
    * just to each other), and the measured FPR over true negatives as
    * a single IEEE division. The theoretical (1−e^{−kn/m})^k bound is
    * deliberately NOT computed here — transcendentals are not
    * oracle-exact across engines; the spec checks the bound in Scala,
    * the relation carries the exact measurements.
    *
    * Scale: everything the audit adds over x42 is a 1-row conditional
    * aggregate; the underlying relation keeps x42's shape (≤ m-row
    * broadcast bit-set relation, never a corpus-side shuffle wider
    * than the digest agg). Production sizes (m, k) off this audit at
    * eval scale, then runs the prefilter alone.
    */
  def bloomFprAudit(
      spark: SparkSession,
      dir: String,
      m: Int = 65536,
      k: Int = 4): DataFrame =
    bloomPrefilter(spark, dir, m, k)
      .agg(
        count(lit(1)).as("n_probes"),
        sum(when(col("maybe_dup"), 1L).otherwise(0L)).as("n_flagged"),
        sum(when(col("is_dup"), 1L).otherwise(0L)).as("n_true_dups"),
        sum(when(col("maybe_dup") && !col("is_dup"), 1L).otherwise(0L)).as("n_false_pos"),
        sum(when(col("is_dup") && !col("maybe_dup"), 1L).otherwise(0L)).as("n_false_neg"))
      .select(
        col("n_probes"), col("n_flagged"), col("n_true_dups"),
        col("n_false_pos"), col("n_false_neg"),
        when(col("n_probes") === col("n_true_dups"), lit(0.0))
          .otherwise(col("n_false_pos").cast("double") /
            (col("n_probes") - col("n_true_dups"))).as("fpr"),
        (col("n_false_neg") === 0L).as("no_false_negatives"))

  /** Fit the [[ImportanceModel]] on the batch corpus: ONE hashed-token
    * pass folded to the ≤ `numBuckets`-row (bucket, rc, tc) relation by
    * partial agg, collected driver-side (bounded by `numBuckets` — see
    * the ImportanceModel scaladoc for why that bound is structural).
    * Same hash, same bucketing, same counts as [[importanceWeights]] —
    * exact integers, so the two spellings cannot drift.
    */
  def trainImportanceModel(
      spark: SparkSession,
      dir: String,
      targetSource: String = "src0",
      numBuckets: Long = 65536L): ImportanceModel = {
    require(numBuckets > 0, "numBuckets must be positive")
    val isTarget = col("source") === targetSource
    val rows = Tables.documents(spark, dir)
      .select(col("source"),
        explode(graft.functions.WindowHashes.windowHashes(
          Tables.tokens(col("text")), 1)).as("h"))
      .select(col("source"), pmod(col("h"), lit(numBuckets)).as("b"))
      .groupBy("b")
      .agg(
        count(lit(1)).as("rc"),
        sum(when(isTarget, 1L).otherwise(0L)).as("tc"))
      .collect() // ≤ numBuckets rows by construction
    val rc = rows.map(r => r.getLong(0) -> r.getLong(1)).toMap
    val tc = rows.collect {
      case r if r.getLong(2) > 0L => r.getLong(0) -> r.getLong(2)
    }.toMap
    ImportanceModel(targetSource, numBuckets,
      rc.values.sum, tc.values.sum, rc, tc)
  }

  /** EXT-C43 (`x124_rare_cell_suppression`) — k-anonymity-style rare-
    * combination suppression: every `(lang, source)` cell with its
    * population and a `suppress` verdict for cells below `k`, plus the
    * kept-document count the release would ship. The privacy-adjacent
    * curation gate: a cell rare enough to fingerprint its members
    * (the quasi-identifier argument) is also rare enough to be noise
    * for mixture planning — so the suppression list doubles as the
    * "domains too thin to weight" report feeding x48/x72. Generalizes
    * by key composition: any quasi-identifier tuple in place of
    * (lang, source), same one-fold plan.
    *
    * Plan: ONE (lang, source) fold — |cells| rows on the wire, the
    * verdict and kept count are row-local arithmetic on the cell
    * relation. Nothing grows with the corpus past the first partial
    * aggregation.
    */
  def rareCellSuppression(spark: SparkSession, dir: String, k: Long = 25L): DataFrame = {
    require(k >= 1L, s"k ($k) must be positive")
    Tables.documents(spark, dir)
      .groupBy("lang", "source").agg(count(lit(1)).as("n_docs"))
      .withColumn("suppress", col("n_docs") < k)
      .withColumn("kept_docs",
        when(col("suppress"), 0L).otherwise(col("n_docs")))
      .orderBy("lang", "source")
  }

  /** EXT-C46 (`x132_decontamination_repair`) — span-level
    * decontamination REPAIR: instead of dropping every document that
    * quotes the benchmark (x18's verdict), excise exactly the quoted
    * SPANS — x108's consecutive benchmark-k-gram runs of length ≥
    * `minRun` (a run of r gram positions covers r+k−1 tokens) — and
    * rebuild the document from its surviving tokens. The repair x84
    * performs for boilerplate, applied to eval contamination: a
    * 10k-token page quoting one GSM8K problem keeps its 9.9k clean
    * tokens instead of dying whole, which at corpus scale is the
    * difference between decontamination costing ~0% and ~x18's drop
    * rate of usable text. `minRun` = 2 means a quote must span ≥ k+1
    * tokens — a single isolated shared k-gram is vocabulary
    * coincidence (x49's graded-overlap argument), not a quote.
    *
    * Output per NON-benchmark document: token count, removed tokens,
    * excised runs, a `clean` verdict, and the repaired text (empty when
    * everything was quoted — x84's convention; documents absent from a
    * snapshot never are: every non-benchmark doc stays visible).
    *
    * Plan: x108's positioned gram stream and run detection verbatim
    * (broadcast benchmark membership prunes to hit positions BEFORE
    * the one doc-keyed shuffle); covered token positions expand
    * row-locally from the |runs| relation (runs closer than k overlap
    * in token space — the DISTINCT absorbs it); the rebuild is x84's
    * shape — LEFT ANTI against covered positions, one doc-keyed
    * `collect_list` bounded by tokens-per-document, `array_sort` for
    * shuffle-independent order. Linear end to end, nothing pairwise.
    */
  def decontaminationRepair(
      spark: SparkSession,
      dir: String,
      k: Int = 5,
      benchMod: Int = 20,
      minRun: Int = 2): DataFrame = {
    require(k >= 1 && benchMod >= 2 && minRun >= 1,
      s"bad parameters (k=$k, benchMod=$benchMod, minRun=$minRun)")
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), Tables.tokens(col("text")).as("toks"))
    val positioned = docs.select(col("doc_id"),
      posexplode(when(size(col("toks")) >= k,
        expr(s"transform(sequence(1, size(toks) - ${k - 1}), " +
          s"i -> concat_ws(' ', slice(toks, i, $k)))"))
        .otherwise(array().cast("array<string>"))))
      .select(col("doc_id"), (col("pos") + 1).cast("long").as("p"), col("col").as("gram"))
    val bench = positioned.filter(pmod(col("doc_id"), lit(benchMod)) === 0)
      .select("gram").distinct()
    // r19 (guide §2.5 — the x131/x3 AQE-collapse class, VERDICT r18
    // task 4): the hit stream entering the run-detection window and the
    // token stream entering the rebuild fold are byte-tiny after their
    // exchanges, so AQE coalesced each to ONE partition while the
    // per-row work (window + per-doc collect_list/array_sort) is
    // array-sized — a job profile showed two 0.3–0.5 s single-task stages.
    // An exact-N keyed repartition pins the width WITHOUT adding an
    // exchange: the window's partitionBy("doc_id") and the rebuild's
    // groupBy("doc_id") requirements are satisfied by
    // hashpartitioning(doc_id, N), so the planner reuses it.
    val par = spark.sparkContext.defaultParallelism
    val hits = positioned.filter(pmod(col("doc_id"), lit(benchMod)) =!= 0)
      .join(broadcast(bench), "gram")
      .select("doc_id", "p")
      .repartition(par, col("doc_id"))
    val w = Window.partitionBy("doc_id").orderBy("p")
    val cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val runs = hits
      .withColumn("brk",
        when(col("p") - lag("p", 1).over(w) === 1L, 0L).otherwise(1L))
      .withColumn("run_id", sum("brk").over(cum))
      .groupBy("doc_id", "run_id")
      .agg(min("p").as("p0"), count(lit(1)).as("run_len"))
      .filter(col("run_len") >= minRun)
      .localCheckpoint() // consumed by the coverage expansion AND the run count
    val covered = runs
      .select(col("doc_id"),
        explode(sequence(col("p0"), col("p0") + col("run_len") - 1L + lit(k - 1).cast("long")))
          .as("tp"))
      .distinct()
    val toks = docs.filter(pmod(col("doc_id"), lit(benchMod)) =!= 0)
      .select(col("doc_id"), posexplode(col("toks")))
      .select(col("doc_id"), (col("pos") + 1).cast("long").as("tp"), col("col").as("token"))
    val kept = toks.join(covered, Seq("doc_id", "tp"), "left_anti")
      .repartition(par, col("doc_id"))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_kept"),
        array_join(
          transform(
            array_sort(collect_list(struct(col("tp"), col("token")))),
            x => x.getField("token")),
          " ").as("text_repaired"))
    docs.filter(pmod(col("doc_id"), lit(benchMod)) =!= 0)
      .select(col("doc_id"), size(col("toks")).cast("long").as("n_tokens"))
      .join(runs.groupBy("doc_id").agg(count(lit(1)).as("n_runs_excised")),
        Seq("doc_id"), "left")
      .join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        (col("n_tokens") - coalesce(col("n_kept"), lit(0L))).as("n_removed"),
        coalesce(col("n_runs_excised"), lit(0L)).as("n_runs_excised"),
        (col("n_tokens") === coalesce(col("n_kept"), lit(0L))).as("clean"),
        coalesce(col("text_repaired"), lit("")).as("text_repaired"))
      .orderBy("doc_id")
  }

  /** Row-local span-repair over ANY (doc_id, text, ...) relation —
    * batch or unbounded stream — against a FIXED benchmark k-gram set
    * riding as plan literals (the contamination/vocab literal contract:
    * eval sets are MBs against corpus TBs; a set too big for literals
    * belongs to [[decontaminationRepair]]'s broadcast regime). This is
    * the ONE shared definition the streaming repair gate (EXT-6ad)
    * runs, spec-pinned equal to the batch operator on a shared corpus.
    *
    * Exact-locality argument (why no window/state is needed): token
    * `tp` is covered iff some gram position `p ∈ [tp−k+1, tp]` starts a
    * quote-run hit. Run membership is itself LOCAL for the practical
    * `minRun` values — a hit `p` is part of a run ≥ 2 iff `hit(p−1) ∨
    * hit(p+1)`, and any hit is a run ≥ 1 — so the whole repair is one
    * `exists` over a k-token neighborhood per position: zero shuffles,
    * zero state, identical verdicts to the batch window spelling
    * (`require`d to those minRun values; larger minimums need the
    * run-length window and belong to the batch operator).
    */
  def repairProjection(
      docs: DataFrame,
      benchGrams: Seq[String],
      k: Int = 5,
      minRun: Int = 2): DataFrame = {
    require(k >= 1, s"k ($k) must be positive")
    require(minRun == 1 || minRun == 2,
      s"minRun ($minRun) must be 1 or 2 — the row-local run test is exact only there")
    require(benchGrams.nonEmpty, "benchmark gram set is empty — nothing to repair against")
    val set = typedlit(benchGrams.sorted)
    def hitAt(p: Column): Column = element_at(col("hits"), p.cast("int"))
    def inQuoteRun(p: Column): Column =
      if (minRun == 1) hitAt(p)
      else hitAt(p) && (
        (p > 1L && hitAt(p - 1L)) ||
          (p < size(col("hits")).cast("long") && hitAt(p + 1L)))
    val nHits = size(col("hits")).cast("long")
    docs
      .withColumn("toks", Tables.tokens(col("text")))
      .withColumn("n_toks", size(col("toks")).cast("long"))
      // hit(p) for gram positions 1..n-k+1 (empty for sub-k docs)
      .withColumn("hits",
        when(size(col("toks")) >= k,
          transform(
            expr(s"transform(sequence(1, size(toks) - ${k - 1}), " +
              s"i -> concat_ws(' ', slice(toks, i, $k)))"),
            g => array_contains(set, g)))
          .otherwise(array().cast("array<boolean>")))
      .withColumn("kept",
        when(nHits === 0L, sequence(lit(1L), col("n_toks")))
          .otherwise(filter(
            sequence(lit(1L), col("n_toks")),
            tp => !exists(
              sequence(greatest(lit(1L), tp - (k - 1).toLong), least(tp, nHits)),
              p => inQuoteRun(p)))))
      .withColumn("n_kept", size(col("kept")).cast("long"))
      .withColumn("n_removed", col("n_toks") - col("n_kept"))
      .withColumn("clean", col("n_removed") === 0L)
      .withColumn("text_repaired",
        array_join(transform(col("kept"),
          tp => element_at(col("toks"), tp.cast("int"))), " "))
      .drop("toks", "hits", "kept")
  }

  /** The benchmark k-gram set collected for the streaming gate
    * (EXT-6ad): the EXACT membership relation the batch operator
    * derives in-plan. Bounded by construction — eval sets are MBs
    * against corpus TBs (the trained-centroid/contamination-literal
    * boundedness argument).
    */
  def benchmarkGrams(
      spark: SparkSession, dir: String, k: Int = 5, benchMod: Int = 20): Seq[String] = {
    val docs = Tables.documents(spark, dir)
      .filter(pmod(col("doc_id"), lit(benchMod)) === 0)
      .select(col("doc_id"), Tables.tokens(col("text")).as("toks"))
    docs.select(explode(when(size(col("toks")) >= k,
        expr(s"transform(sequence(1, size(toks) - ${k - 1}), " +
          s"i -> concat_ws(' ', slice(toks, i, $k)))"))
        .otherwise(array().cast("array<string>"))).as("gram"))
      .distinct().collect().map(_.getString(0)).sorted.toSeq
  }

}
