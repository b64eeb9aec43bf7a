package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Similarity search over the `embeddings` table (SURVEY.md §2b):
  * brute-force cosine top-k as the exact baseline, and an LSH-bucketed
  * approximate variant as the scale path.
  *
  * The vectors are unit-normalized (verified against the corpus), so
  * cosine similarity is the plain dot product. All arithmetic is Double
  * with a strict left-to-right fold ([[graft.functions.DotProductExpression]])
  * so the DuckDB oracle's explicit `list_reduce` fold computes the same
  * IEEE sum in the same order.
  */
object Similarity extends SimilarityIndexOps {

  /** Left-fold double dot product as a native codegen'd Catalyst
    * expression ([[graft.functions.DotProductExpression]]) — a primitive
    * double loop inside whole-stage codegen. The declarative spelling
    * (`aggregate(zip_with(...))`) computes the identical sum but
    * evaluates its lambdas interpretively, which measured ~10× slower on
    * the 2.5M-pair bench hot path.
    */
  def dot(a: Column, b: Column): Column = graft.functions.DotProduct.dot_f(a, b)

  /** Shared top-k presentation: rank per query by (sim desc, cid), keep
    * the first k, round sims to 4 dp. One definition — the DuckDB
    * oracles mirror this contract (tie-break + rounding) exactly, so it
    * must change in exactly one place.
    *
    * Spelled as a map-side bounded aggregate
    * ([[graft.functions.TopKExpression]]), NOT a `row_number` window: a
    * window over the scored stream would shuffle every scored pair by
    * qid before discarding any (for brute force that is the full n·m
    * relation — the one plan shape here that would NOT survive a 100×
    * scale-up). The aggregate folds each map partition down to ≤ k
    * candidates per query before the exchange, so the shuffle carries
    * |queries|·k rows per partition regardless of corpus size; ranks
    * fall out of the sorted buffer by position.
    */
  private[operators] def presentTopK(scored: DataFrame, k: Int): DataFrame = {
    val agg = graft.functions.TopK.topk(k)
    scored
      .groupBy(col("qid"))
      .agg(agg(col("sim"), col("cid")).as("nb"))
      .select(col("qid").as("vec_id"), posexplode(col("nb.entries")))
      .select(col("vec_id"), (col("pos") + 1).cast("int").as("rank"),
        col("col.cid").as("neighbor_id"), round(col("col.sim"), 4).as("sim4"))
      .orderBy("vec_id", "rank")
  }

  /** Session-lifetime memo for the guard's measurements, keyed by
    * (input path, filter): the measured footprint is a STATISTIC of an
    * immutable input — the same thing a catalog caches after ANALYZE —
    * so repeated plan builds over the same path pay the measurement
    * scan once, not per build. The harness's inputs are immutable
    * snapshot directories; a catalog that rewrites files in place under
    * an unchanged path would need invalidation here, the standard
    * statistics-staleness trade.
    */
  private val measuredBytes = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  /** Broadcast eligibility by MEASUREMENT, not assumption: count the
    * relation (a column-pruned scan — for the pmod-filtered query side
    * that reads ONE int64 column, a vanishing fraction of corpus bytes
    * even at 100 TB), estimate its broadcast footprint, and hint only
    * when it fits under `maxBytes`. This satisfies the repo-wide rule
    * ([[Temporal.funnel]], r5): a relation may be hint-broadcast only
    * when BOUNDED — by construction or, as here, by an actual driver-side
    * measurement taken before the hint is applied. Past the bound the
    * same code degrades to the un-hinted plan (partitioned cartesian for
    * a non-equi join), which shuffles neither side whole — the correct
    * 100 TB fallback. Catalyst cannot make this call itself: a pmod
    * filter has no selectivity estimate, so the filtered side inherits
    * the full scan's sizeInBytes and neither stats nor AQE ever promote
    * it (measured: the r6 un-hinted x5 plan fell to the cartesian at
    * sf0.1, 2.6× slower).
    */
  private[operators] def broadcastIfMeasuredUnder(
      df: DataFrame, key: String, estRowBytes: () => Long, maxBytes: Long): DataFrame = {
    if (maxBytes <= 0) return df
    // measure OUTSIDE the map operation: a cluster job must not run
    // under a ConcurrentHashMap bin lock (computeIfAbsent would hold it
    // for the scan's duration, blocking concurrent plan builds); a lost
    // race just measures twice, which is harmless and idempotent
    val bytes = measuredBytes.get(key) match {
      case b: java.lang.Long => b.longValue()
      case null =>
        val b = measuredSize(df, estRowBytes)
        measuredBytes.putIfAbsent(key, b)
        b
    }
    if (bytes <= maxBytes) broadcast(df) else df
  }

  /** The same guard for a CALLER-SUPPLIED relation (a probe's query
    * batch): measured on every call and never memoized. Such a batch is
    * no statistic of an immutable input, and there is no stable key for
    * it — an identity-hash key grows the memo by one entry per probe
    * call, and a later batch that reuses a collected batch's hash would
    * inherit its size and its broadcast decision.
    */
  private[operators] def broadcastIfMeasuredNow(
      df: DataFrame, estRowBytes: () => Long, maxBytes: Long): DataFrame =
    if (maxBytes > 0 && measuredSize(df, estRowBytes) <= maxBytes) broadcast(df) else df

  private def measuredSize(df: DataFrame, estRowBytes: () => Long): Long = {
    val est = estRowBytes()
    // unknown row width -> fail SAFE: record "too big", never hint
    if (est < 0) Long.MaxValue else df.count() * est
  }

  /** Entries in the session-lifetime measurement memo (spec access). */
  private[graft] def measuredBytesEntries: Int = measuredBytes.size

  /** Decouple a row-EXPANSION's parallelism from its input's SCAN
    * granularity: a corpus parquet a few MB wide arrives as ONE scan
    * partition, and a broadcast-joined expansion (queries × corpus)
    * then runs single-threaded regardless of core count — measured at
    * the 10× slice: x158's brute pass ground 12+ minutes on one task
    * while 31 threads idled (the small-file twin of the r6 broadcast-
    * guard regression class). When the scan carries fewer partitions
    * than the session's parallelism, redistribute BEFORE the expansion
    * — the shuffle moves only the narrow input, never the expanded
    * rows. At production scale the scan already carries ≥ parallelism
    * partitions and this is the identity (no exchange added).
    */
  private[operators] def expansionPartitioned(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < target) df.repartition(target) else df
  }

  /** Estimated broadcast bytes per (id, embedding) row: MAX vector
    * width over a bounded sample of the relation to be broadcast (not a
    * single arbitrary row — a null/short first row must not silently
    * defeat the guard) + fixed UnsafeRow/array overhead. Embedding
    * tables are fixed-dim by data model, so the sample max IS the dim;
    * if the sample yields no usable width (empty/null vectors), returns
    * -1 and the guard falls back to no-hint.
    */
  private[operators] def embRowBytes(vecs: DataFrame, vecCol: String): Long = {
    val d = vecs.select(size(col(vecCol)).as("d")).limit(1024).agg(max(col("d"))).head()
    if (d.isNullAt(0) || d.getInt(0) <= 0) -1L else 4L * d.getInt(0) + 64L
  }

  /** [[embRowBytes]] for an int64 (BIGINT-coded int8) vector: twice the float payload. */
  private[operators] def int64RowBytes(vecs: DataFrame, vecCol: String): Long = {
    val b = embRowBytes(vecs, vecCol)
    if (b < 0) b else b * 2
  }

  /** The deterministic query sample: the rows with `vec_id % queryMod == 0`. */
  private[operators] def sampled(rows: DataFrame, queryMod: Int): DataFrame =
    rows.filter(pmod(col("vec_id"), lit(queryMod)) === 0)

  /** The sampled query side of a brute scan: [[sampled]] rows projected
    * to `cols`, broadcast under the measured guard with the memo key
    * `dir|family|mod=queryMod` (`family` names the projection's width).
    */
  private[operators] def sampledQueries(
      rows: DataFrame, dir: String, family: String, queryMod: Int,
      maxBroadcastBytes: Long, estRowBytes: DataFrame => Long)(cols: Column*): DataFrame = {
    val raw = sampled(rows, queryMod).select(cols: _*)
    broadcastIfMeasuredUnder(raw, s"$dir|$family|mod=$queryMod",
      () => estRowBytes(raw), maxBroadcastBytes)
  }

  /** The two sides of a float brute scan: the sampled `(qid, qe)` query
    * side and the spread `(cid, ce)` corpus, each also carrying its
    * label (`qlabel`/`clabel`) when `labeled`.
    */
  private def bruteSides(
      spark: SparkSession, dir: String, queryMod: Int, maxBroadcastBytes: Long,
      labeled: Boolean = false): (DataFrame, DataFrame) = {
    val emb = Tables.embeddings(spark, dir)
    def side(id: String, vec: String, label: String) =
      Seq(col("vec_id").as(id), col("embedding").as(vec)) ++
        (if (labeled) Seq(col("label").as(label)) else Nil)
    val queries = sampledQueries(emb, dir, if (labeled) "emb+label" else "emb", queryMod,
      maxBroadcastBytes, embRowBytes(_, "qe"))(side("qid", "qe", "qlabel"): _*)
    (queries, expansionPartitioned(emb.select(side("cid", "ce", "clabel"): _*)))
  }

  /** EXT-S1 — exact top-k neighbors by brute force for a query subset
    * (`vec_id % queryMod == 0`). Cost is O(|queries|·|corpus|·dim):
    * exact, and the honest baseline an ANN variant must beat.
    *
    * The query side is broadcast-hinted only under the measured-size
    * guard ([[broadcastIfMeasuredUnder]]): it is a fixed FRACTION of the
    * corpus, so an unconditional hint would hit the executor-memory/8 GB
    * broadcast wall at scale — but when the driver MEASURES it under
    * `maxBroadcastBytes`, the broadcast nested-loop is strictly better
    * than the partitioned cartesian (no corpus replication across
    * query-side partitions). At 100 TB the measurement comes back large
    * and the plan is the cartesian, where a caller would pass a
    * count-limited query sample anyway.
    *
    * Output: (vec_id, rank, neighbor_id, sim4) with sim rounded to 4 dp
    * (both engines round half-away-from-zero).
    */
  def bruteForceTopK(
      spark: SparkSession,
      dir: String,
      k: Int = 5,
      queryMod: Int = 10,
      maxBroadcastBytes: Long = 64L << 20): DataFrame =
    presentTopK(bruteScored(spark, dir, queryMod, maxBroadcastBytes), k)

  /** The exact scored pairs `(qid, cid, sim)` of [[bruteForceTopK]]:
    * the sampled query side against the spread corpus, self excluded.
    * Also the dense leg of [[retrievalLegs]].
    */
  private def bruteScored(
      spark: SparkSession, dir: String, queryMod: Int, maxBroadcastBytes: Long): DataFrame = {
    val (queries, corpus) = bruteSides(spark, dir, queryMod, maxBroadcastBytes)
    queries.join(corpus, col("qid") =!= col("cid"))
      .select(col("qid"), col("cid"), dot(col("qe"), col("ce")).as("sim"))
  }

  /** EXT-S30 (`x158_mmr_rerank`) — Maximal Marginal Relevance
    * diversified re-ranking: per query, greedily select `k` of the top
    * `m` relevance candidates, each pick maximizing
    * `λ·rel − (1−λ)·max sim to the already-selected` — the standard
    * redundancy-suppressing serving layer over any ANN leg (a near-dup
    * pair in the top-k wastes a slot; MMR spends it on the next family).
    * λ rides as an integer percent so both engines spell the score as
    * `(λ·rel − (100−λ)·msim) / 100` — identical IEEE operations, no
    * float-literal drift. Ties break (score desc, rel desc, cid asc),
    * deterministically on both faces.
    *
    * Plan shape: the corpus pass is exactly [[bruteForceTopK]]'s
    * measured-broadcast map-side top-m (the ONE corpus-sized cost);
    * everything after runs on relations bounded by construction —
    * candidates are m rows per query, the pairwise diversity sims m²,
    * and each of the k−1 greedy rounds is an anti-join + max-fold over
    * those bounded relations with a windowless struct-argmax. The round
    * count is the FIXED k, so the plan has fixed depth: no convergence
    * loop, no driver action until the sink.
    */
  def mmrRerank(
      spark: SparkSession,
      dir: String,
      queryMod: Int = 50,
      m: Int = 8,
      k: Int = 4,
      lambdaPct: Int = 70,
      maxBroadcastBytes: Long = 64L << 20): DataFrame = {
    require(k >= 1 && m >= k, s"need m ($m) >= k ($k) >= 1")
    require(lambdaPct >= 0 && lambdaPct <= 100, s"lambdaPct ($lambdaPct) is a percent")
    val (queries, corpus) = bruteSides(spark, dir, queryMod, maxBroadcastBytes)
    val rel = queries.join(corpus, col("qid") =!= col("cid"))
      .select(col("qid"), col("cid"), dot(col("qe"), col("ce")).as("rel"))
    // top-m relevance candidates via the bounded map-side fold (the
    // presentTopK machinery: rank by rel desc, cid asc), embeddings
    // joined BACK by cid — narrow, m rows per query — so the diversity
    // sims never rescan the corpus
    val cand = rel.groupBy(col("qid"))
      .agg(graft.functions.TopK.topk(m)(col("rel"), col("cid")).as("nb"))
      .select(col("qid"), explode(col("nb.entries")).as("e"))
      .select(col("qid"), col("e.cid").as("cid"), col("e.sim").as("rel"))
      .join(corpus, Seq("cid"))
      .localCheckpoint() // consumed by the pair sims and the greedy fold
    val candSim = cand.as("a")
      .join(cand.as("b"),
        col("a.qid") === col("b.qid") && col("a.cid") =!= col("b.cid"))
      .select(col("a.qid").as("qid"), col("a.cid").as("c1"), col("b.cid").as("c2"),
        dot(col("a.ce"), col("b.ce")).as("s"))
    // r19 (guide §2.4 / job-count): the k−1 greedy rounds ran as k−1
    // DRIVER-SEQUENCED checkpoint jobs (anti-join + argmax + union per
    // pick), each a chain of broadcast builds over relations that are m
    // rows per query BY CONSTRUCTION — a job profile measured 40 jobs, no
    // stage over 0.3 s: pure round-trip overhead, and at 100 TB the k−1
    // cluster-wide barriers are the same mistake at worse latency. The
    // greedy selection is per-query sequential by DEFINITION (pick r
    // depends on picks 1..r−1), so it now runs ROW-LOCALLY over each
    // query's collected m candidates + m·(m−1) pair sims (both bounded
    // by the literal m, NOT by the corpus — the one place a local fold
    // is the principled distributed plan). Arithmetic and tie-breaks
    // replicate the r18 Catalyst spelling exactly: scores are
    // (λ·rel − (100−λ)·msim)/100 in the same IEEE order, the argmax
    // compares (score, rel, −cid) structs via the same total order
    // Catalyst's struct-max uses (java.lang.Double.compare — NaN
    // greatest, −0.0 < 0.0), and `dot` sims come from the SAME
    // DotProductExpression rows, collected, never recomputed.
    val mmrPicks = graft.functions.MmrGreedy.mmrPicks(k, lambdaPct)
    val perQ = cand.groupBy("qid")
      .agg(collect_list(struct(col("cid"), col("rel"))).as("cands"))
    val simQ = candSim.groupBy("qid")
      .agg(collect_list(struct(col("c1"), col("c2"), col("s"))).as("sims"))
    perQ.join(simQ, Seq("qid"), "left")
      .select(col("qid"), explode(mmrPicks(col("cands"), col("sims"))).as("p"))
      .select(col("qid").as("vec_id"), col("p.mmr_rank").as("mmr_rank"),
        col("p.cid").as("neighbor_id"),
        round(col("p.rel"), 4).as("rel4"), round(col("p.score"), 4).as("score4"))
      .orderBy("vec_id", "mmr_rank")
  }

  /** EXT-S6 — hard-negative mining for contrastive/embedding training:
    * for each query vector, the top-k most similar corpus vectors with a
    * DIFFERENT label (similar-but-wrong examples — the pairs a trainer
    * wants in the batch). Identical plan shape to [[bruteForceTopK]]
    * (measured-size-guarded broadcast of the corpus-fraction query side
    * — see the rationale there; map-side bounded top-k), with the
    * label-mismatch predicate
    * evaluated row-locally inside the join — candidates are discarded
    * BEFORE scoring ever shuffles, not filtered from a ranked result.
    *
    * Output: (vec_id, rank, neighbor_id, sim4) like the other top-k ops.
    */
  def hardNegatives(
      spark: SparkSession,
      dir: String,
      k: Int = 3,
      queryMod: Int = 5,
      maxBroadcastBytes: Long = 64L << 20): DataFrame = {
    val (queries, corpus) = bruteSides(spark, dir, queryMod, maxBroadcastBytes, labeled = true)
    val scored = queries
      .join(corpus, col("qid") =!= col("cid") && col("qlabel") =!= col("clabel"))
      .select(col("qid"), col("cid"), dot(col("qe"), col("ce")).as("sim"))
    presentTopK(scored, k)
  }

  /** EXT-S26 (`x136_hubness`) — k-occurrence hubness audit: how many
    * times each corpus vector appears in the exact top-k lists of the
    * query sample ([[bruteForceTopK]]'s relation), folded to the
    * count-of-counts profile `(n_hits, n_vectors)` — INCLUDING the
    * `n_hits = 0` anti-hub class via the corpus left join (absence from
    * every list is the other half of the pathology). Hubness is the
    * classic high-dimensional failure mode (Radovanović et al.): a few
    * vectors become "hubs" that appear in everyone's neighbor list
    * while most become anti-hubs that appear in none, which silently
    * degrades every downstream consumer — semantic dedup over-merges
    * around hubs, ANN recall audits look fine while retrieval diversity
    * collapses, and contrastive sampling over-picks the same negatives.
    * A right-skewing profile between rounds means the embedding space
    * (or its normalization) changed, before any recall metric moves.
    *
    * Scale: the top-k relation is the guarded x5 machinery verbatim
    * (map-side bounded top-k, measured broadcast); the fold is x119's
    * count-of-counts contraction — |queries|·k rows collapse to the
    * occurrence census, then to ≤ k·|queries| count classes. The spec
    * pins the mass law Σ n_hits·n_vectors = k·|queries|.
    */
  def hubness(
      spark: SparkSession,
      dir: String,
      k: Int = 5,
      queryMod: Int = 10,
      maxBroadcastBytes: Long = 64L << 20): DataFrame = {
    val occ = bruteForceTopK(spark, dir, k, queryMod, maxBroadcastBytes)
      .groupBy(col("neighbor_id")).agg(count(lit(1)).as("hits"))
    Tables.embeddings(spark, dir).select(col("vec_id"))
      .join(occ, col("vec_id") === col("neighbor_id"), "left")
      .select(coalesce(col("hits"), lit(0L)).as("n_hits"))
      .groupBy("n_hits").agg(count(lit(1)).as("n_vectors"))
      .orderBy("n_hits")
  }

  /** EXT-S28 (`x140_topk_diversity`) — retrieval diversity audit: per
    * query, the label composition of its exact top-k list — distinct
    * label count, the majority label and its count, and the Simpson
    * concentration `Σc²/k²` (1/k² = perfectly diverse, 1.0 = one label
    * owns the list). The complement of [[hubness]]: hubness asks "who
    * keeps getting retrieved", this asks "how SAME is what each query
    * gets back" — a diversity collapse at stable recall is the
    * signature of hub domination or embedding-space anisotropy, and
    * retrieval-augmented training data built from collapsed lists
    * over-samples one mode per query. Spelled in EXACT integers
    * (label counts, Σc² BIGINT) with ONE rounded division — entropy
    * would sum doubles in shuffle order, which no hash oracle can pin;
    * Simpson carries the same signal exactly.
    *
    * Scale: the x5 guarded machinery + one narrow label join, then two
    * query-keyed partial folds; |queries| rows out, no window.
    */
  def topkDiversity(
      spark: SparkSession,
      dir: String,
      k: Int = 5,
      queryMod: Int = 10,
      maxBroadcastBytes: Long = 64L << 20): DataFrame = {
    val lab = Tables.embeddings(spark, dir)
      .select(col("vec_id").as("neighbor_id"), col("label"))
    bruteForceTopK(spark, dir, k, queryMod, maxBroadcastBytes)
      .join(lab, "neighbor_id")
      .groupBy("vec_id", "label").agg(count(lit(1)).as("c"))
      .groupBy("vec_id")
      .agg(
        count(lit(1)).as("n_labels"),
        max(struct(col("c"), col("label"))).as("mj"),
        sum(col("c") * col("c")).as("sq"),
        sum("c").as("kk"))
      .select(col("vec_id"), col("n_labels"),
        col("mj.label").as("top_label"), col("mj.c").as("top_n"),
        round(col("sq").cast("double") / (col("kk") * col("kk")), 4).as("simpson4"))
      .orderBy("vec_id")
  }

  /** EXT-S27 (`x138_negative_margin`) — label-noise detection by
    * margin: per query vector, the best same-label similarity (nearest
    * positive, self excluded), the best different-label similarity (the
    * hardest negative — [[hardNegatives]]' top row), and the margin
    * between them. `noisy = neg > pos` flags vectors whose nearest
    * neighbor semantics contradict their label — the standard
    * confident-learning signal: a mislabeled vector sits inside another
    * label's cluster, so its hardest "negative" is closer than any
    * "positive". The audit run BEFORE x138's consumers trust labels:
    * contrastive mining (S6) with noisy anchors manufactures false
    * hard negatives, and a label-conditioned mixture (x68) inherits
    * every mislabel. A query alone in its label reports NULL pos /
    * margin / noisy (the left-fold of absence — no-positive is a
    * finding, not a zero).
    *
    * Scale: ONE guarded join pass (the S6 shape) with BOTH maxes folded
    * conditionally in the same partial agg — no second corpus pass, no
    * window; output is |queries| rows.
    */
  def negativeMargin(
      spark: SparkSession,
      dir: String,
      queryMod: Int = 5,
      maxBroadcastBytes: Long = 64L << 20): DataFrame = {
    val (queries, corpus) = bruteSides(spark, dir, queryMod, maxBroadcastBytes, labeled = true)
    queries.join(corpus, col("qid") =!= col("cid"))
      .select(col("qid"), col("qlabel"),
        (col("qlabel") === col("clabel")).as("same"),
        dot(col("qe"), col("ce")).as("sim"))
      .groupBy("qid", "qlabel")
      .agg(
        max(when(col("same"), col("sim"))).as("pos"),
        max(when(!col("same"), col("sim"))).as("neg"))
      .select(col("qid").as("vec_id"), col("qlabel").as("label"),
        round(col("pos"), 4).as("pos_sim4"),
        round(col("neg"), 4).as("neg_sim4"),
        round(col("pos") - col("neg"), 4).as("margin4"),
        (col("neg") > col("pos")).as("noisy"))
      .orderBy("vec_id")
  }

  /** EXT-S7 — ANN recall measurement: per query vector, how many of the
    * EXACT top-k neighbors ([[bruteForceTopK]]) the IVF index
    * ([[ivfTopK]]) actually returned — `recall@k`, the metric every
    * approximate index is tuned by (nprobe/centroid-count trades recall
    * for cost; without this measurement the trade is blind). Evaluated
    * on the deterministic query subset, the production shape: ground
    * truth is brute-forced for a SAMPLE of queries only — the full-corpus
    * exact top-k is exactly the quadratic cost ANN exists to avoid.
    *
    * Queries where the index returned nothing (alone in their cell) come
    * back with hits = 0 via the left join rather than vanishing. One
    * semi-join on (vec_id, neighbor_id) + one count; recall = hits / k
    * is a single IEEE division.
    */
  def annRecall(
      spark: SparkSession,
      dir: String,
      k: Int = 3,
      queryMod: Int = 10,
      nCentroids: Int = 16): DataFrame = {
    val exact = exactTruth(spark, dir, k, queryMod)
    // queryMod pushed INTO the cell join: the index side stays full, but
    // unsampled queries are never scored (a post-hoc filter would pay
    // the whole-corpus top-k first and discard ~90% of it)
    recallTail(exact, ivfTopK(spark, dir, k, nCentroids, queryMod = Some(queryMod)), k)
  }

  /** The float brute-force truth every recall audit and sweep measures
    * against: [[bruteForceTopK]]'s `(vec_id, neighbor_id)` pairs under
    * the default broadcast bound, checkpointed because each consumer
    * reads it twice (the query census AND the hit join).
    */
  private[operators] def exactTruth(
      spark: SparkSession, dir: String, k: Int, queryMod: Int): DataFrame =
    bruteForceTopK(spark, dir, k, queryMod)
      .select(col("vec_id"), col("neighbor_id"))
      .localCheckpoint()

  /** The recall@k measurement tail shared by every recall audit
    * ([[annRecall]] x51, [[quantizedRecall]] x91, [[pqRecall]] x105):
    * semi-join hit count of the approximate ranking's (vec_id,
    * neighbor_id) pairs against the exact truth, zero-hit queries
    * restored by the left join. One definition — the audits differ only in which candidate
    * ranking they measure, never in how recall is counted.
    */
  private[operators] def recallTail(exact: DataFrame, approx: DataFrame, k: Int): DataFrame = {
    val hits = exact
      .join(approx.select(col("vec_id"), col("neighbor_id")), Seq("vec_id", "neighbor_id"), "left_semi")
      .groupBy("vec_id").agg(count(lit(1)).as("hits"))
    exact.select("vec_id").distinct()
      .join(hits, Seq("vec_id"), "left_outer")
      .withColumn("hits", coalesce(col("hits"), lit(0L)))
      .withColumn("recall", col("hits").cast("double") / k)
      .orderBy("vec_id")
  }

  /** EXT-S16 — quantized-search recall audit: rank neighbors by the
    * EXACT INTEGER dot product of the int8-quantized vectors ([[quantize]]'s
    * `floor(127x + 0.5)` codes) and measure top-k overlap against the
    * float brute-force truth — the audit that says whether serving the
    * 4×-smaller int8 index ([[quantize]]'s point: at 100 TB the
    * quantized scan reads a quarter of the bytes) costs recall. Integer
    * dots are exact BIGINTs (|q| ≤ 127, dim 64 → |dot| ≤ 127²·64, far
    * inside both BIGINT and the double mantissa), so the quantized
    * ranking — unlike a float ANN score — is bit-identical in any
    * engine; ties break on cid via [[presentTopK]]'s shared contract.
    *
    * Plan: two brute-force passes (float truth + int candidates) with
    * the same measured-size broadcast guard and map-side bounded top-k
    * as [[bruteForceTopK]], then [[annRecall]]'s semi-join/hit-count
    * tail. The quantization itself is a row-local projection.
    */
  def quantizedRecall(
      spark: SparkSession,
      dir: String,
      k: Int = 3,
      queryMod: Int = 10,
      maxBroadcastBytes: Long = 64L << 20): DataFrame = {
    val exact = exactTruth(spark, dir, k, queryMod)
    val qz = int8Corpus(spark, dir)
    // distinct memo key: the int64 codes are 2× the float payload
    val queries = sampledQueries(qz, dir, "embq", queryMod, maxBroadcastBytes,
      int64RowBytes(_, "qe"))(col("vec_id").as("qid"), col("qv").as("qe"))
    val corpus = expansionPartitioned(
      qz.select(col("vec_id").as("cid"), col("qv").as("ce")))
    // codegen'd integer dot ([[graft.functions.LongDotProductExpression]])
    // — the declarative aggregate(zip_with(...)) spelling ran interpreted
    // lambdas per element on this n·m hot path (whole audit at sf0.1,
    // Debug best-of-3: 4.8 s → 2.1 s); exact long sum either way
    val scored = queries
      .join(corpus, col("qid") =!= col("cid"))
      .select(col("qid"), col("cid"),
        graft.functions.DotProduct.dot_l(col("qe"), col("ce")).cast("double").as("sim"))
    recallTail(exact, presentTopK(scored, k), k)
  }

  /** Sign-bucket LSH signature: one bit per leading dimension
    * (random-hyperplane LSH with axis-aligned hyperplanes — deterministic
    * and oracle-expressible). 2^bits buckets.
    */
  def signBucket(embedding: Column, bits: Int): Column =
    (0 until bits)
      .map(i => when(element_at(embedding, i + 1) >= 0f, lit(1 << i)).otherwise(lit(0)))
      .reduce(_ + _)

  /** EXT-S2 — LSH-bucketed approximate top-k: vectors are hashed into
    * sign buckets and each vector searches only its own bucket. The
    * all-pairs nested loop becomes a shuffle join on `bucket`, so cost
    * scales with Σ|bucket|² instead of |corpus|² — the standard ANN
    * recall/cost trade. At 100 TB this is the template for IVF: replace
    * the signature with a nearest-centroid id and broadcast the
    * centroids.
    */
  def bucketedTopK(spark: SparkSession, dir: String, k: Int = 3, bits: Int = 4): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"), signBucket(col("embedding"), bits).as("bucket"))
    val a = emb.select(col("bucket"), col("vec_id").as("qid"), col("embedding").as("qe"))
    val b = emb.select(col("bucket"), col("vec_id").as("cid"), col("embedding").as("ce"))
    val scored = a.join(b, Seq("bucket")).filter(col("qid") =!= col("cid"))
      .select(col("qid"), col("cid"), dot(col("qe"), col("ce")).as("sim"))
    presentTopK(scored, k)
  }

  /** EXT-S3 — IVF (inverted-file) approximate top-k: every vector is
    * assigned to its nearest CENTROID cell and searches only that cell
    * (nprobe=1). Centroids here are deterministically seeded (the first
    * `nCentroids` vectors by id) so the correctness oracle can reproduce
    * the assignment; production swaps in trained centroids from
    * [[kmeansCentroids]] — the plumbing (broadcast centroids, row-local
    * argmax assignment, cell join) is identical and is what scales:
    * assignment is one narrow pass over the corpus with the centroid
    * table broadcast, and search cost drops from |corpus|² to Σ|cell|².
    *
    * Cell assignment is a row-local argmax over the broadcast centroid
    * dot products (struct-max trick, ties to the lowest centroid id) —
    * no shuffle, no window, no UDF.
    */
  def ivfTopK(
      spark: SparkSession,
      dir: String,
      k: Int = 3,
      nCentroids: Int = 16,
      queryMod: Option[Int] = None,
      nprobe: Int = 1): DataFrame = {
    require(nprobe >= 1 && nprobe <= nCentroids,
      s"nprobe ($nprobe) must be in [1, nCentroids=$nCentroids]")
    val (withCell, scoredCells) = ivfAssignment(spark, dir, nCentroids)
    ivfProbe(withCell, scoredCells, nCentroids, k, queryMod, nprobe)
  }

  /** The per-row (score, inverted-id) cell-candidate array over an
    * embedding column — the ONE spelling of the coarse IVF geometry:
    * argmax via array_max over (score, inverted-id), ties picking the
    * highest inverted id = LOWEST centroid id, matching the oracle's
    * ORDER BY score DESC, cid ASC. Shared by every assignment, build,
    * probe, and stream site so the tie-break cannot drift between the
    * in-memory, persisted, and composite paths (the spec-pinned
    * bit-equal laws depend on it).
    */
  private[graft] def ivfScoredCells(
      cents: Seq[(Int, Seq[Float])], emb: Column): Column = {
    val n = cents.length
    array(cents.map { case (i, c) =>
      struct(dot(emb, typedlit(c)).as("s"), lit(n - 1 - i).as("nk"))
    }: _*)
  }

  /** The stored argmax cell off [[ivfScoredCells]]. */
  private[operators] def argmaxCell(scoredCells: Column, nCentroids: Int): Column =
    lit(nCentroids - 1) - array_max(scoredCells).getField("nk")

  /** The nprobe BEST probe cells of a query row as an exploded column —
    * the ONE multi-probe fan-out spelling (best first; sorting
    * ascending then reversing puts highest score, then lowest centroid
    * id, first — the argmax tie-break). nprobe = 1 is the argmax cell
    * itself, with no sort.
    */
  private[operators] def probeCellsCol(
      scoredCells: Column, nCentroids: Int, nprobe: Int): Column =
    if (nprobe == 1) argmaxCell(scoredCells, nCentroids)
    else explode(probeCellArray(scoredCells, nCentroids, nprobe))

  /** [[probeCellsCol]]'s probe cells of a query row as one array, not
    * exploded — a projection Spark can evaluate over a local relation
    * on the driver.
    */
  private[operators] def probeCellArray(
      scoredCells: Column, nCentroids: Int, nprobe: Int): Column =
    if (nprobe == 1) array(argmaxCell(scoredCells, nCentroids))
    else transform(
      slice(reverse(array_sort(scoredCells)), 1, nprobe),
      p => lit(nCentroids - 1) - p.getField("nk"))

  /** The RANKED fan-out of a sweep: each query row of `qSrc` fanned out
    * to its `maxNp` best probe cells with the probe rank `prank`
    * (1 = best) carried, under [[probeCellsCol]]'s best-first order and
    * tie-break. Probe sets nest, so sweep point np is the `prank <= np`
    * slice. Rows are `(qid, <carry>, prank, cell)`, where `carry` names
    * the query payload `carried` (the float query or its ADC table).
    */
  private[operators] def rankedFanOut(
      qSrc: DataFrame, carry: String, carried: Column, scoredCells: Column,
      nCentroids: Int, maxNp: Int): DataFrame =
    qSrc.select(col("vec_id").as("qid"), carried.as(carry),
      posexplode(slice(reverse(array_sort(scoredCells)), 1, maxNp)).as(Seq("pr", "pc")))
      .select(col("qid"), col(carry), (col("pr") + 1).cast("int").as("prank"),
        (lit(nCentroids - 1) - col("pc").getField("nk")).as("cell"))

  /** The ONE expensive IVF corpus pass of [[ivfTopK]], shared with
    * [[annNprobeSweep]] so a sweep pays it once: the cell-labeled,
    * cell-partitioned, materialized corpus plus the argmax expression
    * the query side reuses for multi-probe fan-out.
    */
  private[operators] def ivfAssignment(
      spark: SparkSession, dir: String, nCentroids: Int): (DataFrame, Column) = {
    val emb = Tables.embeddings(spark, dir)
    // the ONE seed-collect spelling (count-validated — a short corpus
    // refuses instead of silently building fewer cells)
    val cents = ivfSeedCentroids(spark, dir, nCentroids)
    val scoredCells = ivfScoredCells(cents, col("embedding"))
    // materialized once: both join sides consume the assignment, and
    // Spark would otherwise evaluate the nCentroids-dot argmax per side
    // (at 100 TB the assignment is the expensive corpus pass — it is
    // written out once, exactly like a real IVF index build)
    val withCell = emb.select(col("vec_id"), col("embedding"),
      argmaxCell(scoredCells, nCentroids).as("cell"))
      .repartition(col("cell"))
      .localCheckpoint()
    (withCell, scoredCells)
  }

  /** The probe half of [[ivfTopK]] over an already-materialized
    * assignment: query-side sampling + nprobe fan-out + the cell
    * equi-join. Never touches the corpus beyond `withCell`.
    */
  private def ivfProbe(
      withCell: DataFrame,
      scoredCells: Column,
      nCentroids: Int,
      k: Int,
      queryMod: Option[Int],
      nprobe: Int): DataFrame = {
    // evaluation callers sample the query side; the filter lands BEFORE
    // the cell join so unsampled queries are never scored (the corpus/
    // candidate side always stays full — recall is against the whole
    // index). A candidate lives in exactly ONE cell and a query's probe
    // cells are distinct, so no (qid, cid) pair can repeat — no dedup
    val qSrc = queryMod.fold(withCell)(sampled(withCell, _))
    // the query's top-nprobe cells, best first (multi-probe IVF — the
    // recall/cost knob: each query searches its nprobe nearest cells,
    // candidates stay indexed under their single argmax cell, so the
    // query side fans out ×nprobe and the index side never grows).
    // Sorting ascending then reversing puts (highest score, then lowest
    // centroid id) first — the same tie-break as the argmax. Derived on
    // the (possibly sampled) QUERY side only, AFTER the materialized
    // index build: corpus rows that are never queries must not pay the
    // nCentroids-struct sort, and the nprobe=1 plan stays the stored
    // argmax cell untouched
    val a =
      if (nprobe == 1)
        qSrc.select(col("vec_id").as("qid"), col("embedding").as("qe"), col("cell"))
      else
        qSrc.select(col("vec_id").as("qid"), col("embedding").as("qe"),
          probeCellsCol(scoredCells, nCentroids, nprobe).as("cell"))
    val b = withCell.select(col("cell"), col("vec_id").as("cid"), col("embedding").as("ce"))
    val scored = a.join(b, Seq("cell")).filter(col("qid") =!= col("cid"))
      .select(col("qid"), col("cid"), dot(col("qe"), col("ce")).as("sim"))
    presentTopK(scored, k)
  }

  /** EXT-S28 (`x172_ivf_cell_balance`) — IVF index HEALTH census: the
    * population of every cell under [[ivfTopK]]'s assignment (same
    * seeded centroids, same argmax, same tie-break), with each cell's
    * corpus share. The audit read BEFORE tuning nprobe (x170): a hot
    * cell means every query probing it re-ranks a corpus-sized
    * candidate list (the recall/cost table lies when one cell holds
    * half the index), and an EMPTY cell is a dead centroid — wasted
    * probe budget and the signal to retrain ([[kmeansCentroids]]).
    * Cells with zero members are present with n_vectors = 0 — absence
    * is the finding, so it must be a row, not a missing row.
    *
    * Scale: the one corpus pass is the nCentroids-literal argmax
    * projection; the census folds map-side to ≤ nCentroids rows, and
    * the centroid-id frame (a range literal) left-joins it so dead
    * cells surface. Report is nCentroids rows.
    */
  def ivfCellBalance(
      spark: SparkSession, dir: String, nCentroids: Int = 16): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val cents = ivfSeedCentroids(spark, dir, nCentroids)
    val scoredCells = ivfScoredCells(cents, col("embedding"))
    val census = emb
      .select(argmaxCell(scoredCells, nCentroids).as("cell"))
      .groupBy("cell").agg(count(lit(1)).as("n_vectors"))
    val total = emb.agg(count(lit(1)).as("n_total"))
    spark.range(nCentroids).select(col("id").cast("int").as("cell"))
      .join(census, Seq("cell"), "left")
      .crossJoin(broadcast(total)) // 1-row totals join
      .select(col("cell"),
        coalesce(col("n_vectors"), lit(0L)).as("n_vectors"),
        round(coalesce(col("n_vectors"), lit(0L)).cast("double") / col("n_total"), 4)
          .as("share4"))
      .orderBy("cell")
  }

  /** EXT-S29 (`x173_embedding_norm_audit`) — norm-distribution census
    * over the int8 lattice: per squared-norm bin (`‖q‖² div binWidth` —
    * exact BIGINT, [[quantize]]'s lattice so the norm is engine-exact),
    * the vector count and corpus share. The mixed-batch detector: a
    * corpus that is SUPPOSED to be L2-normalized lives in one narrow
    * band around 127² — a second mode at another norm means an
    * unnormalized (or differently-scaled) embedding batch slipped in,
    * which silently breaks every dot-as-cosine consumer (x5/x14/x54)
    * BEFORE any recall metric notices. x94 audits dimensions one at a
    * time; this audits the vector length the dot products actually see.
    *
    * Scale: one narrow corpus pass (row-local int8 quantize + exact
    * integer self-dot), folded map-side to ≤ dim·254²/binWidth bins.
    */
  def embeddingNormAudit(
      spark: SparkSession, dir: String, binWidth: Long = 2048L): DataFrame = {
    require(binWidth >= 1, s"binWidth ($binWidth) must be positive")
    val nq = graft.functions.DotProduct.dot_l(col("qv"), col("qv"))
    int8Corpus(spark, dir)
      .select((nq - pmod(nq, lit(binWidth))).as("bin_lo"))
      .groupBy("bin_lo").agg(count(lit(1)).as("n_vectors"))
      .crossJoin(broadcast(
        Tables.embeddings(spark, dir).agg(count(lit(1)).as("n_total"))))
      .select(col("bin_lo"), col("n_vectors"),
        round(col("n_vectors").cast("double") / col("n_total"), 4).as("share4"))
      .orderBy("bin_lo")
  }

  /** EXT-S27 (`x170_ann_nprobe_sweep`) — the IVF RECALL/COST tuning
    * table: [[ivfTopK]]'s multi-probe knob swept over `nprobes`, each
    * setting's top-k measured against the float brute-force truth
    * (computed ONCE and reused across the sweep). Per nprobe: the query
    * census, exact BIGINT hit mass, and mean recall@k as one IEEE
    * division — the offline table read before fixing a serving
    * configuration (x143's band-sweep contract for the ANN side:
    * recall rises monotonically in nprobe BY CONSTRUCTION — each probe
    * set contains the previous one — and the knee picks the setting;
    * the monotonicity is the spec's law).
    *
    * Scale: the truth leg is the x5 brute audit paid once (its
    * deliberate n·m cost, fixed-|queries| in production); the IVF
    * corpus cell-assignment pass ([[ivfAssignment]]) is ALSO paid once
    * and shared across the sweep — each sweep point pays only the
    * query-side probe fan-out + cell equi-join (|queries|·nprobe
    * rows, index side never grows). The report is |nprobes| rows.
    */
  def annNprobeSweep(
      spark: SparkSession,
      dir: String,
      nprobes: Seq[Int] = Seq(1, 2, 4, 8),
      k: Int = 3,
      nCentroids: Int = 16,
      queryMod: Int = 10): DataFrame = {
    require(nprobes.nonEmpty && nprobes.forall(p => p >= 1 && p <= nCentroids),
      s"nprobes (${nprobes.mkString(",")}) must be in [1, nCentroids=$nCentroids]")
    require(nprobes.distinct.size == nprobes.size,
      s"nprobes (${nprobes.mkString(",")}) contains duplicates")
    import spark.implicits._
    val exact = exactTruth(spark, dir, k, queryMod) // shared by every sweep point
    // the cell assignment is the OTHER shared expensive pass: built once
    // here, each sweep point varies only the query-side probe fan-out
    val (withCell, scoredCells) = ivfAssignment(spark, dir, nCentroids)
    // r18 (guide §2.4, one pass instead of |nprobes|): probe sets NEST,
    // so the whole sweep is served by ONE fan-out at the widest nprobe
    // with the probe RANK carried (rankedFanOut), ONE cell-join scoring
    // pass, and ONE bounded TopK aggregation keyed by (np, qid)
    // (topKByPoint). The previous per-point union re-ran the
    // corpus-expansion join and its exchanges |nprobes| times (4 probe
    // joins + 4 TopK shuffles + 4 recall joins -> 1 + 1 + 1); the
    // per-point top-k sets are unchanged because the prank <= np slice
    // IS that point's candidate set, scored by the same dot.
    val maxNp = nprobes.max
    val qSrc = sampled(withCell, queryMod)
    val qFan =
      if (maxNp == 1)
        qSrc.select(col("vec_id").as("qid"), col("embedding").as("qe"),
          lit(1).as("prank"), col("cell"))
      else rankedFanOut(qSrc, "qe", col("embedding"), scoredCells, nCentroids, maxNp)
    val idx = withCell.select(col("cell"), col("vec_id").as("cid"), col("embedding").as("ce"))
    val scoredAll = qFan.join(idx, Seq("cell")).filter(col("qid") =!= col("cid"))
      .select(col("qid"), col("cid"), col("prank"), dot(col("qe"), col("ce")).as("sim"))
    withPointRecall(nprobes.toDF("np"), Seq("np"), topKByPoint(scoredAll, nprobes, k), exact)
      .select(col("np").as("nprobe"), col("n_queries"), pointHits.as("n_hits"),
        recall4(pointHits, k).as("recall4"))
      .orderBy("nprobe")
  }

  /** Deal a row to every sweep point whose width covers its `rank` —
    * the nesting law every sweep folds by: point p sees exactly the rows
    * of rank ≤ p.
    */
  private[operators] def dealToPoints(points: Seq[Int], rank: String, as: String): Column =
    explode(filter(typedlit(points), p => p >= col(rank))).as(as)

  /** The per-point top-k of a probe sweep over `(qid, cid, prank, sim)`
    * pairs scored once at the widest probe width: each pair dealt to
    * every point covering its probe rank ([[dealToPoints]]), then ONE
    * bounded TopK aggregation keyed by (np, qid) folds all points
    * map-side. Rows are `(np, vec_id, neighbor_id)`.
    */
  private[operators] def topKByPoint(scored: DataFrame, points: Seq[Int], k: Int): DataFrame = {
    val topkAgg = graft.functions.TopK.topk(k)
    scored
      .select(col("qid"), col("sim"), col("cid"), dealToPoints(points, "prank", "np"))
      .groupBy(col("np"), col("qid"))
      .agg(topkAgg(col("sim"), col("cid")).as("nb"))
      .select(col("np"), col("qid").as("vec_id"), explode(col("nb.entries")).as("e"))
      .select(col("np"), col("vec_id"), col("e.cid").as("neighbor_id"))
  }

  /** The per-point recall fold of every sweep — [[recallTail]]'s algebra
    * aggregated: each point's `approx` pairs `(keys…, vec_id,
    * neighbor_id)` semi-joined to the `exact` truth and counted by point
    * (`n_hits`), and the distinct-query census `n_queries` as a 1-row
    * broadcast. `points` is the grid, already joined to the cost columns
    * reported before the hits; `after` joins those reported after them.
    * Callers project [[pointHits]] and [[recall4]].
    */
  private[operators] def withPointRecall(
      points: DataFrame, keys: Seq[String], approx: DataFrame, exact: DataFrame,
      after: DataFrame => DataFrame = identity): DataFrame = {
    val hits = approx.join(exact, Seq("vec_id", "neighbor_id"), "left_semi")
      .groupBy(keys.map(col): _*).agg(count(lit(1)).as("n_hits"))
    val nQueries = exact.select("vec_id").distinct()
      .agg(count(lit(1)).as("n_queries"))
    after(points.join(hits, keys, "left"))
      .crossJoin(broadcast(nQueries)) // 1-row totals join
  }

  /** A sweep point's hit mass off [[withPointRecall]] (zero if nothing hit). */
  private[operators] def pointHits: Column = coalesce(col("n_hits"), lit(0L))

  /** Mean recall@k of a sweep point: one IEEE division, rounded to 4 dp. */
  private[operators] def recall4(hits: Column, k: Int): Column =
    round(hits.cast("double") / (col("n_queries") * k), 4)

  /** EXT-S4 — int8 embedding quantization: `q_i = floor(127·x_i + 0.5)`
    * (explicit half-up — spelled as floor so no engine rounding-mode
    * ambiguity exists), plus the per-vector max reconstruction error.
    * The standard 4× memory compression before ANN serving at scale;
    * row-local projection, no shuffle. Max is order-insensitive, so the
    * error is oracle-exact despite float arithmetic.
    *
    * The quantized vector is emitted as its comma-joined string (`q_csv`)
    * rather than a raw `array<int>` column: the comparison harness hashes
    * result cells, and an array cell is unhashable there — serializing to
    * a scalar in BOTH engines keeps the check exact and executable.
    */
  def quantize(spark: SparkSession, dir: String): DataFrame = {
    val embedding = col("embedding")
    val q = int8Quantize(embedding)
    Tables.embeddings(spark, dir)
      .select(col("vec_id"),
        concat_ws(",", q.cast("array<string>")).as("q_csv"),
        // element-wise zip: no index arithmetic (sequence(1, 0) counts
        // down on an empty array, and ANSI mode makes the resulting
        // out-of-bounds access a query-killing error)
        array_max(zip_with(embedding, q,
          (x, qx) => abs(x.cast("double") - qx.cast("double") / lit(127.0))))
          .as("max_err"))
      .orderBy("vec_id")
  }

  /** EXT-S5 — deterministic k-means centroid training (Lloyd iterations
    * with a fixed seed and a fixed iteration count): the drop-in producer
    * of the centroid table [[ivfTopK]] promises. Returns the trained
    * centroids in long form `(cid, dim, val)` — 1-based dims, exactly
    * `k · dim` rows.
    *
    * Determinism/oracle contract (every step bit-reproducible in DuckDB):
    *  - seed: the first `k` vectors by id;
    *  - assignment: row-local argmax of `x·c − ‖c‖²/2` (the L2-nearest
    *    form that stays correct once centroids are no longer unit
    *    vectors), ties to the lowest centroid id — the same struct-max
    *    trick as [[ivfTopK]], with the dot product a strict left fold
    *    ([[dot]]) and `‖c‖²` the same left fold driver-side;
    *  - update: per-cell per-dimension mean as a vec_id-ORDERED left-fold
    *    sum over one `sort_array(collect_list(...))` pass, then a single
    *    IEEE division; empty cells keep their previous centroid.
    *
    * Scale shape: centroids are k·dim driver-side doubles broadcast as
    * literals — each iteration is ONE narrow pass over the (materialized)
    * corpus plus a k-group aggregate; nothing big ever shuffles. The
    * production spelling is the DEFAULT (`exactMeans = false`) —
    * per-(cell, dim) plain `sum`, commutative and map-side combined, no
    * cell ever materialized in one aggregation buffer. The ordered-fold
    * mean (`exactMeans = true`) is the explicit ORACLE mode, selected
    * only where bit-agreement with the DuckDB oracle is the contract
    * (the SparkEntry bindings); means differ between the two only by FP
    * summation order.
    */
  def kmeansCentroids(spark: SparkSession, dir: String, k: Int = 8, iters: Int = 2,
      exactMeans: Boolean = false): DataFrame = {
    import spark.implicits._
    val cents = trainCentroids(embDouble(spark, dir), k, iters, exactMeans)
    val rows = cents.flatMap { case (i, cd) =>
      cd.zipWithIndex.map { case (v, d) => (i.toLong, (d + 1).toLong, v) }
    }
    spark.createDataset(rows).toDF("cid", "dim", "val").orderBy("cid", "dim")
  }

  /** The `(vec_id, ed: array<double>)` training relation, materialized
    * once — every centroid-based operator scans it several times.
    */
  private def embDouble(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("ed"))
      .localCheckpoint()

  /** The Lloyd training loop shared by [[kmeansCentroids]],
    * [[semanticDedup]] and [[centroidSim]] — see [[kmeansCentroids]] for
    * the determinism/oracle contract. Returns the trained centroids as
    * driver-side constants (k·dim doubles — the legitimate constant-size
    * collect, as with the IVF centroids).
    */
  private def trainCentroids(
      e: DataFrame, k: Int, iters: Int, exactMeans: Boolean = false): Seq[(Int, Array[Double])] = {
    import e.sparkSession.implicits._
    var cents: Seq[(Int, Array[Double])] = e.filter(col("vec_id") < k)
      .select(col("vec_id").cast("int"), col("ed"))
      .as[(Int, Seq[Double])].collect().sortBy(_._1).map { case (i, c) => (i, c.toArray) }.toSeq
    // fail loudly, not head-of-empty-list (and never silently train
    // fewer than k centroids on sparse/re-keyed corpora)
    require(cents.length == k,
      s"kmeans: seeding needs vectors with vec_id 0..${k - 1}, found ${cents.length} of $k")
    val dim = cents.head._2.length
    for (_ <- 1 to iters) {
      val means = cellMeans(assignCells(e, cents), dim, exactMeans)
      val updated = means.as[(Int, Seq[Double])].collect().toMap
      cents = cents.map { case (i, old) => (i, updated.get(i).map(_.toArray).getOrElse(old)) }
    }
    cents
  }

  /** One Lloyd update's per-cell means over an `(vec_id, ed, cell)`
    * assignment relation. The DEFAULT (`exactMeans = false`) is the
    * production spelling — a caller taking defaults gets the scale path;
    * the ordered fold is the explicit oracle mode the SparkEntry
    * bindings opt into. Factored out of [[trainCentroids]] so the plan
    * spec can pin that contract.
    */
  private[graft] def cellMeans(
      assigned: DataFrame, dim: Int, exactMeans: Boolean): DataFrame =
    if (exactMeans)
      // oracle spelling: vec_id-ordered left-fold sum per cell —
      // bit-reproducible in DuckDB, but the collect_list holds one
      // whole cell in a single aggregation buffer
      assigned.groupBy("cell")
        .agg(count(lit(1)).as("cnt"),
          aggregate(
            array_sort(collect_list(struct(col("vec_id"), col("ed")))),
            array_repeat(lit(0.0), dim),
            (acc, s) => zip_with(acc, s.getField("ed"), (a, x) => a + x)).as("sums"))
        .select(col("cell"), transform(col("sums"), _ / col("cnt")).as("mean"))
    else
      // production spelling: per-(cell, dim) plain `sum` — commutative
      // and map-side combined, so no cell is ever materialized in one
      // buffer; the regroup collects k·dim structs, bounded by
      // construction. Differs from the ordered fold only by FP
      // summation order.
      assigned.select(col("cell"), posexplode(col("ed")).as(Seq("d", "x")))
        .groupBy(col("cell"), col("d"))
        .agg((sum(col("x")) / count(lit(1))).as("m"))
        .groupBy("cell")
        .agg(array_sort(collect_list(struct(col("d"), col("m")))).as("dm"))
        .select(col("cell"), transform(col("dm"), _.getField("m")).as("mean"))

  /** Row-local nearest-centroid assignment (argmax of `x·c − ‖c‖²/2`,
    * ties to the lowest centroid id) — the centroids ride along as plan
    * literals, so this is a narrow projection with no shuffle and no
    * join, shared by the training loop and every trained-centroid
    * consumer.
    */
  private def assignCells(e: DataFrame, cents: Seq[(Int, Array[Double])]): DataFrame =
    e.select(col("vec_id"), col("ed"), cellColumn(cents).as("cell"))

  /** The nearest-centroid argmax as a COLUMN over an `ed` (array of
    * double) column — the ONE spelling of cell assignment, shared by
    * [[assignCells]] (training loop + every batch consumer) and
    * streaming consumers that must carry extra columns (event time)
    * through the projection. A drifting copy would silently assign the
    * stream to different cells than the batch census it is compared to.
    */
  def cellColumn(cents: Seq[(Int, Array[Double])]): Column = {
    val k = cents.length
    val scoredCells = array(cents.map { case (i, cd) =>
      val nrm = cd.foldLeft(0.0)((a, v) => a + v * v) // oracle's fold order
      struct((dot(col("ed"), typedlit(cd.toSeq)) - lit(nrm / 2)).as("s"),
        lit(k - 1 - i).as("nk"))
    }: _*)
    lit(k - 1) - array_max(scoredCells).getField("nk")
  }

  /** EXT-S8 — semantic deduplication (SemDeDup): cluster the embedding
    * space with deterministic k-means ([[trainCentroids]]), then inside
    * each cluster drop every vector that has a LOWER-id cluster-mate
    * with cosine ≥ `threshold` — near-duplicate *meaning*, which
    * text-level dedup cannot see (a paraphrase shares no shingles).
    * Output per vector: its cluster, how many lower-id near-duplicate
    * cluster-mates it has, and the keep verdict (`n_dups == 0` — the
    * deterministic keep-lowest-id rule, as [[Curation.incrementalDedup]]).
    *
    * Scale shape: assignment is a narrow centroid-literal pass (no
    * shuffle); the pair search equi-joins on the cluster id, so the cost
    * is Σ|cluster|² — the SemDeDup bargain: k grows WITH the corpus
    * (k ≈ n/⟨cluster⟩ fixes ⟨cluster⟩, paper-standard), so the quadratic
    * term is bounded per cluster while the join stays a plain shuffle
    * join on `cell`. Exactly the [[bucketedTopK]] Σ|bucket|² argument
    * with learned buckets instead of sign bits.
    */
  def semanticDedup(
      spark: SparkSession,
      dir: String,
      k: Int = 8,
      iters: Int = 2,
      threshold: Double = 0.4,
      exactMeans: Boolean = false): DataFrame = {
    val e = embDouble(spark, dir)
    val asg = assignCells(e, trainCentroids(e, k, iters, exactMeans))
      .localCheckpoint() // consumed by both pair-join sides and the output
    val a = asg.select(col("cell"), col("vec_id").as("v1"), col("ed").as("e1"))
    val b = asg.select(col("cell"), col("vec_id").as("v2"), col("ed").as("e2"))
    val dups = a.join(b, Seq("cell"))
      .filter(col("v2") < col("v1") && dot(col("e1"), col("e2")) >= threshold)
      .groupBy(col("v1").as("vec_id")).agg(count(lit(1)).as("n_dups"))
    asg.join(dups, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell").cast("long").as("cell"),
        coalesce(col("n_dups"), lit(0L)).as("n_dups"),
        (coalesce(col("n_dups"), lit(0L)) === 0L).as("is_kept"))
      .orderBy("vec_id")
  }

  /** EXT-S29 (`x144_cell_drift`) — per-CELL embedding mixture drift
    * between snapshots: the corpus (even vec_id) and incoming (odd)
    * halves assigned to the SAME trained centroids, per cell the exact
    * membership counts, each side's share of its own total, and the
    * share shift. The topic-mixture leg of the drift family: x64 sees
    * the GEOMETRIC mean move per dimension, x127 length quantiles,
    * x141 dedup-cluster stitching — none answers "did the new crawl
    * change WHAT the corpus is about", which is the mixture question
    * (x48's weights are computed against exactly these shares, so a
    * shifted cell silently rebalances every downstream mixture draw).
    *
    * Exactness: counts are BIGINTs from one cell-keyed fold; shares and
    * the shift are the oracle's own IEEE spelling (two divisions, one
    * difference, one round) on 1-row-broadcast totals — no per-cell
    * float state. Fixed trained centroids mean a cell's shift is
    * attributable to DATA, not to re-training noise (re-training on the
    * union would move every centroid and dilute the signal).
    *
    * Scale: assignment is the shared centroid-literal row-local pass
    * (no shuffle, no join); one |k|-bounded fold; totals broadcast.
    */
  def cellDrift(
      spark: SparkSession,
      dir: String,
      k: Int = 8,
      iters: Int = 2,
      exactMeans: Boolean = false): DataFrame = {
    val e = embDouble(spark, dir)
    val per = assignCells(e, trainCentroids(e, k, iters, exactMeans))
      .groupBy("cell")
      .agg(
        sum(when(pmod(col("vec_id"), lit(2)) === 0, 1L).otherwise(0L)).as("n_even"),
        sum(when(pmod(col("vec_id"), lit(2)) === 1, 1L).otherwise(0L)).as("n_odd"))
    val tot = per.agg(sum("n_even").as("t_even"), sum("n_odd").as("t_odd"))
    per.crossJoin(broadcast(tot))
      .select(col("cell").cast("long").as("cid"), col("n_even"), col("n_odd"),
        when(col("t_even") === 0L, lit(null).cast("double"))
          .otherwise(round(col("n_even").cast("double") / col("t_even"), 4)).as("share_even4"),
        when(col("t_odd") === 0L, lit(null).cast("double"))
          .otherwise(round(col("n_odd").cast("double") / col("t_odd"), 4)).as("share_odd4"),
        when(col("t_even") === 0L || col("t_odd") === 0L, lit(null).cast("double"))
          .otherwise(round(col("n_odd").cast("double") / col("t_odd")
            - col("n_even").cast("double") / col("t_even"), 4)).as("shift4"))
      .orderBy("cid")
  }

  /** The row-local margin projection behind [[clusterSeparation]] —
    * over ANY `(vec_id, ed: array<double>)` relation, batch or
    * unbounded stream: per vector its float-argmax cell, its exact
    * int8 own-vs-best-other assignment-objective margin, and the
    * misfit verdict (`margin < 0` ⟺ the int8 L2-argmax disagrees with
    * the float assignment). Centroids ride as plan literals (k float
    * for the assignment, k int8 + their norms for the margins) — no
    * join, no shuffle, no state. One definition shared by the batch
    * audit and the EXT-6am ingest monitor, so the live mis-route flag
    * can never drift from the per-cell census it is read against.
    */
  def separationProjection(
      relation: DataFrame, cents: Seq[(Int, Array[Double])]): DataFrame = {
    require(cents.length >= 2,
      s"cluster separation needs k >= 2 cells (got ${cents.length})")
    val c8 = cents.sortBy(_._1).map { case (_, cd) => cd.map(int8Lattice).toSeq }
    // int8Quantize / int8Lattice are the ONE lattice spelling (shared
    // with x32/x91/PQ serving) — the margins must live on the exact
    // lattice they audit.
    // Per cell the score is the L2-assignment OBJECTIVE on that lattice
    // (2·qv·c8 − ‖c8‖², exact BIGINT): the same maximand as the float
    // argmax, so a margin < 0 is assignment disagreement by definition,
    // never the norm term a plain dot omits (the r15 advisory)
    val withQ = assignCells(relation, cents).select(col("vec_id"), col("cell"),
      int8Quantize(col("ed")).as("qv"))
    val scores = array(c8.zipWithIndex.map { case (c, i) =>
      val nc = c.foldLeft(0L)((a, v) => a + v * v)
      struct((lit(2L) * graft.functions.DotProduct.dot_l(col("qv"), typedlit(c))
        - lit(nc)).as("s"),
        lit(i).as("cid"))
    }: _*)
    withQ.select(col("vec_id"), col("cell"), scores.as("sc"))
      .select(col("vec_id"), col("cell"),
        (element_at(col("sc"), col("cell") + 1).getField("s")
          - array_max(filter(col("sc"), x => x.getField("cid") =!= col("cell")))
            .getField("s")).as("margin"))
      .withColumn("misfit", col("margin") < 0L)
  }

  /** EXT-S32 (`x180_cluster_separation`) — cluster SEPARATION audit
    * over the trained cells: per vector the int8-lattice assignment
    * OBJECTIVE of its own cell minus the best other cell's — the exact
    * integer `2·qv·c8 − ‖c8‖²` per centroid, the lattice twin of the
    * float argmax's `x·c − ‖c‖²/2` — folded per cell to population,
    * margin mass, mean margin, and the misfit share (vectors the int8
    * L2-argmax assigns to a DIFFERENT cell than the float argmax). x57
    * measures cluster TIGHTNESS (own-centroid cosine), x114 flags
    * within-cell outliers; this measures BETWEEN-cell separation — the
    * "are these clusters real" go/no-go read before trusting any
    * cell-scoped consumer (x54's dedup scope, x100's packing cells,
    * x144's drift cells, x162's label census). A cell with a high
    * misfit share or near-zero mean margin is two topics fused (or one
    * split): retrain with a different k before shipping its artifacts.
    * Dead cells surface as zero rows (x172's absence-is-the-finding
    * rule).
    *
    * Exactness: assignment rides the FLOAT trained-centroid argmax —
    * the ONE x54/x57 parity spelling ([[cellColumn]]) — while margins
    * are exact BIGINTs on the int8 lattice (vectors AND centroids
    * quantized, x114's device), so the per-cell sums are order-free
    * and the two ratios are single IEEE divisions. Margins are scored
    * on the SAME objective the assignment maximizes (`2·qv·c8 − ‖c8‖²`
    * — for trained centroids with unequal norms a plain dot would rank
    * cells by centroid norm, not proximity, and a "misfit" could be
    * the omitted norm term rather than quantization disagreement — the
    * r15 advisory). A negative margin is therefore a REAL boundary
    * case: the int8 L2-argmax disagrees with the float assignment —
    * exactly the vectors a quantized router mis-routes first.
    *
    * Scale: one row-local projection (2k centroid literals — k float
    * for assignment, k int8 for margins), one |k|-bounded fold, a
    * k-row frame join. Nothing data-sized shuffles.
    */
  def clusterSeparation(
      spark: SparkSession, dir: String, k: Int = 8, iters: Int = 2,
      exactMeans: Boolean = false): DataFrame = {
    require(k >= 2, s"cluster separation needs k >= 2 cells (got $k)")
    val e = embDouble(spark, dir)
    // exactMeans default false = the production training spelling (the
    // cellMeans contract its siblings centroidSim/cellDrift follow);
    // the SparkEntry binding opts into the ordered-fold oracle mode
    val cents = trainCentroids(e, k, iters, exactMeans)
    val margins = separationProjection(e, cents)
    val agg0 = margins.groupBy("cell").agg(
      count(lit(1)).as("n_vectors"),
      sum("margin").as("margin_mass"),
      sum(when(col("margin") < 0L, 1L).otherwise(0L)).as("n_misfit"))
    spark.range(k).select(col("id").cast("int").as("cell"))
      .join(agg0, Seq("cell"), "left")
      .select(col("cell").cast("long").as("cell"),
        coalesce(col("n_vectors"), lit(0L)).as("n_vectors"),
        coalesce(col("margin_mass"), lit(0L)).as("margin_mass"),
        when(col("n_vectors").isNull, lit(null).cast("double"))
          .otherwise(round(col("margin_mass").cast("double") / col("n_vectors"), 4))
          .as("mean_margin4"),
        coalesce(col("n_misfit"), lit(0L)).as("n_misfit"),
        when(col("n_vectors").isNull, lit(null).cast("double"))
          .otherwise(round(col("n_misfit").cast("double") / col("n_vectors"), 4))
          .as("misfit_frac4"))
      .orderBy("cell")
  }

  /** Train centroids for external consumers (the streaming twin trains
    * on the BATCH corpus, then scores the stream against the result).
    */
  def trainedCentroids(
      spark: SparkSession,
      dir: String,
      k: Int = 8,
      iters: Int = 2,
      exactMeans: Boolean = false): Seq[(Int, Array[Double])] =
    trainCentroids(embDouble(spark, dir), k, iters, exactMeans)

  /** Cell assignment + prototypicality over ANY (vec_id, embedding)
    * relation — batch or unbounded stream: the trained centroids ride
    * along as plan literals (assignment argmax AND the own-centroid
    * cosine via `element_at` on a literal array-of-arrays), so this is
    * a pure row-local projection — no join, no shuffle, no state.
    * Output: (vec_id, cell, cent_sim4). One definition shared by
    * [[centroidSim]], the streaming twin, and their specs.
    *
    * `cent_sim4` is the TRUE cosine: trained centroids are means of
    * unit vectors, so their norms are < 1 and vary per cluster (tight
    * cluster ≈ 1, diffuse ≈ far below) — a raw dot product would rank
    * clusters by centroid norm, not vectors by proximity, corrupting
    * any global "keep most-prototypical" cut. The corpus vectors are
    * unit-normalized (verified), so dividing by ‖c‖ alone normalizes;
    * the norms are driver-side constants (sqrt of the same left fold
    * the oracle spells), one IEEE division per row.
    */
  def centroidProjection(
      relation: DataFrame, cents: Seq[(Int, Array[Double])]): DataFrame =
    project(
      relation.select(col("vec_id"), col("embedding").cast("array<double>").as("ed")),
      cents)

  /** [[centroidProjection]] over an already-cast (vec_id, ed) relation —
    * the internal form [[centroidSim]] feeds with its materialized
    * training relation so the corpus is scanned once, not re-read.
    */
  private def project(e: DataFrame, cents: Seq[(Int, Array[Double])]): DataFrame = {
    val sorted = cents.sortBy(_._1)
    val norms = sorted.map { case (i, cd) =>
      val n = math.sqrt(cd.foldLeft(0.0)((a, v) => a + v * v)) // oracle's fold
      require(n > 0, s"centroid $i has zero norm — cosine to it is undefined")
      n
    }
    val centArr = typedlit(sorted.map(_._2.toSeq))
    val normArr = typedlit(norms)
    assignCells(e, cents)
      .select(col("vec_id"), col("cell").cast("long").as("cell"),
        round(dot(col("ed"), element_at(centArr, col("cell") + 1)) /
          element_at(normArr, col("cell") + 1), 4).as("cent_sim4"))
  }

  /** EXT-S9 — prototypicality: each vector's cosine to its OWN trained
    * centroid. The pruning signal of the SemDeDup/SSL-prototypes line of
    * work — most-prototypical keeps the cleanest examples, least keeps
    * the most diverse — and the audit view of cluster tightness. One
    * narrow row-local pass ([[centroidProjection]]) over the SAME
    * materialized relation the training loop consumed (no second corpus
    * scan); the only exchange in the whole plan is the presentation
    * sort.
    */
  def centroidSim(
      spark: SparkSession,
      dir: String,
      k: Int = 8,
      iters: Int = 2,
      exactMeans: Boolean = false): DataFrame =
    centroidSimProjection(spark, dir, k, iters, exactMeans).orderBy("vec_id")

  /** [[centroidSim]] WITHOUT its presentation sort — for consumers that
    * JOIN the prototypicality scores
    * ([[graft.operators.Curation.crossmodalCuration]]) and would
    * otherwise inherit a vec_id sort exchange they immediately destroy.
    */
  def centroidSimProjection(
      spark: SparkSession,
      dir: String,
      k: Int = 8,
      iters: Int = 2,
      exactMeans: Boolean = false): DataFrame = {
    val e = embDouble(spark, dir)
    project(e, trainCentroids(e, k, iters, exactMeans))
  }

  /** EXT-D5 — embedding-cosine near-duplicate pairs above a threshold,
    * restricted to bucket-colliding pairs (same LSH design as
    * [[bucketedTopK]]). Returns (v1, v2, sim4) with v1 < v2.
    */
  def cosineNearDup(spark: SparkSession, dir: String, threshold: Double = 0.4, bits: Int = 2): DataFrame =
    cosineNearDupPairs(spark, dir, threshold, bits)
      .select(col("v1"), col("v2"), round(col("sim"), 4).as("sim4"))
      .orderBy("v1", "v2")

  /** [[cosineNearDup]] WITHOUT its presentation rounding/sort — the
    * (v1, v2, sim) pair relation consumers contract over
    * ([[graft.operators.Curation.semanticClusters]]) without inheriting
    * a sort exchange they immediately destroy.
    *
    * The candidate join is SALTED: `bits=2` means FOUR distinct join
    * keys, so the pair expansion's parallelism is capped at 4 tasks no
    * matter the cluster — measured at the 10× slice (60k vectors,
    * ~450M candidate pairs): 59 s/run at 4-way vs the machine's 32
    * threads. Salting splits the probe side by `pmod(v2, S)` and
    * replicates the tiny build side ×S (S·|emb| narrow rows — the
    * classic skew remedy from [[graft.operators.Skew.saltedJoin]]),
    * for an identical pair set at (2^bits)·S-way parallelism. This is
    * the LSH regime where few-bucket designs land at ANY scale: recall
    * wants few buckets, parallelism wants many keys — salt decouples
    * them.
    */
  def cosineNearDupPairs(spark: SparkSession, dir: String, threshold: Double = 0.4,
      bits: Int = 2, saltParts: Int = 8): DataFrame = {
    require(saltParts >= 1, s"saltParts ($saltParts) must be positive")
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"), signBucket(col("embedding"), bits).as("bucket"))
    // expansionPartitioned on the replicated side: if Catalyst picks a
    // BROADCAST join for the candidate pairing (it will — the corpus is
    // small enough), there is no shuffle and parallelism rides THIS
    // side's partitioning, which a narrow parquet delivers as one scan
    // partition (measured: the salt alone left the 10× pairing on a
    // single 250 s task under broadcast)
    val a = expansionPartitioned(
      emb.select(col("bucket"), col("vec_id").as("v1"), col("embedding").as("e1"))
        .crossJoin(broadcast(
          spark.range(saltParts).select(col("id").cast("int").as("__salt")))))
    val b = emb.select(col("bucket"), col("vec_id").as("v2"), col("embedding").as("e2"),
      pmod(col("vec_id"), lit(saltParts)).cast("int").as("__salt"))
    a.join(b, Seq("bucket", "__salt")).filter(col("v1") < col("v2"))
      .select(col("v1"), col("v2"), dot(col("e1"), col("e2")).as("sim"))
      .filter(col("sim") >= threshold)
  }

  /** EXT-S17 (x94) — embedding dimension-health audit: per-dimension
    * value-distribution facts (counts of zero/positive/negative, exact
    * float min/max, and the dead-dimension verdict min == max). Dead or
    * near-constant dimensions are the standard serving regression after
    * a bad export / truncated projection / ReLU collapse — they silently
    * shrink the effective embedding dim while every cosine still
    * "works". Counts and float min/max are order-independent exacts, so
    * the audit is oracle-stable without any float-summation hazard (a
    * mean/std spelling would hash-diverge on engine summation order —
    * deliberately excluded; rank-based spread proxies live in x67's
    * quantile machinery).
    *
    * Scale: `posexplode` multiplies rows ×dim, but the aggregate is
    * partial — every map partition folds to ≤ dim rows before the
    * exchange, so the shuffle carries (partitions × dim) fixed-width
    * rows no matter how many vectors are scanned; output is dim rows.
    * This is the same shape as x23's corpus stats: expansion feeding a
    * bounded-cardinality partial agg is scan-bound, not shuffle-bound.
    */
  def dimAudit(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select(posexplode(col("embedding")).as(Seq("dim", "v")))
      .select(col("dim").cast("long").as("dim"), col("v"))
      .groupBy("dim")
      .agg(
        count(lit(1)).as("n_vals"),
        sum(when(col("v") === 0.0f, 1L).otherwise(0L)).as("n_zero"),
        sum(when(col("v") > 0.0f, 1L).otherwise(0L)).as("n_pos"),
        sum(when(col("v") < 0.0f, 1L).otherwise(0L)).as("n_neg"),
        min(col("v")).cast("double").as("min_v"),
        max(col("v")).cast("double").as("max_v"))
      .select(col("dim"), col("n_vals"), col("n_zero"), col("n_pos"), col("n_neg"),
        col("min_v"), col("max_v"), (col("min_v") === col("max_v")).as("dead"))
      .orderBy("dim")

  /** EXT-S22 (x109) — dimension-correlation audit: the top-N most
    * correlated dimension PAIRS by the exact int8 second moment
    * `s_ij = Σ q_i·q_j` (the Gram matrix of [[quantize]]'s serving
    * codes), each with its diagonal context and the squared correlation
    * `r² = s_ij²/(s_ii·s_jj)`. [[dimAudit]] finds dimensions that died
    * ALONE; this finds dimensions that collapsed onto EACH OTHER — the
    * post-distillation/truncated-projection regression where two
    * coordinates carry one signal, silently halving effective
    * dimensionality while every per-dim histogram still looks healthy.
    * High-|r²| pairs are also exactly what PCA/OPQ-style re-rotation
    * before PQ coding would remove — the evidence read before choosing
    * [[pqCodes]]' subspace layout.
    *
    * Exactness: `s_ij` is an exact BIGINT (|q| ≤ 127 ⇒ safe to ~5·10¹⁴
    * vectors); `r²` is spelled from the exact sums in fixed double
    * operation order with the zero-diagonal guard (dead dims report
    * NULL, never NaN). Ranking ties break on (d1, d2).
    *
    * Plan: the per-partition Gram accumulation is a genuine
    * BLAS-syrk-class kernel — `mapPartitions` accumulates a dim×dim
    * Long triangle locally and emits it ONCE per partition, so the
    * exchange carries partitions · dim(dim+1)/2 fixed-width rows no
    * matter how many vectors are scanned (the declarative spelling
    * explodes dim²/2 rows PER VECTOR into the shuffle — 2 080× the
    * wire at dim 64; this is the justified imperative-kernel exception,
    * like x73's sketch probe). The oracle recomputes via the explode
    * spelling — an independent differential on every run.
    */
  def dimCorrelation(spark: SparkSession, dir: String, topN: Int = 20): DataFrame = {
    val s = int8GramTriangles(spark, dir)
      .localCheckpoint() // consumed by the pair stream AND both diag probes
    val diag = s.filter(col("d1") === col("d2"))
      .select(col("d1").as("dd"), col("s").as("sdd"))
    val sD = col("s").cast("double")
    val s11D = col("s11").cast("double")
    val s22D = col("s22").cast("double")
    s.filter(col("d1") < col("d2"))
      .join(broadcast(diag.select(col("dd").as("d1"), col("sdd").as("s11"))), Seq("d1"))
      .join(broadcast(diag.select(col("dd").as("d2"), col("sdd").as("s22"))), Seq("d2"))
      .withColumn("r2",
        when(s11D * s22D === 0.0, lit(null).cast("double"))
          .otherwise((sD * sD) / (s11D * s22D)))
      .select("d1", "d2", "s", "s11", "s22", "r2")
      .orderBy(abs(col("s")).desc, col("d1"), col("d2"))
      .limit(topN)
  }

  /** EXT-S11 — embedding-space drift between two corpus snapshots (even
    * vec_ids = A, odd = B, the same parity convention as the token-drift
    * monitor [[Curation.tokenDrift]]): per-dimension shift of the mean
    * embedding, computed in EXACT integer arithmetic over the int8
    * quantization (`floor(127·x + 0.5)` — [[quantize]]'s formula, the
    * form a serving index stores anyway). `mean_a − mean_b =
    * (sum_a·n_b − sum_b·n_a) / (n_a·n_b)` — integer numerator and
    * denominator, ONE IEEE division per dimension — so the oracle
    * reproduces it bit-for-bit (an FP mean would be summation-order-
    * sensitive). The embedding twin of the distribution-shift check a
    * pipeline runs between crawls: a new scrape or encoder version that
    * moves the corpus centroid shows up as per-dimension shift before
    * any downstream metric degrades.
    *
    * Scale: one narrow explode (n·dim rows) into a `dim`-keyed partial
    * agg — map-side combine collapses each partition to `dim` rows
    * before the only shuffle; output is `dim` rows total. The integer
    * products bound: `sum·n` fits BIGINT up to ~8·10⁸ vectors per side
    * (127·n·n ≤ 2⁶³); beyond that, DECIMAL(38,0) numerators — the
    * shape is unchanged (same note as [[Curation.tokenDrift]]).
    *
    * Output: (dim 1-based, n_a, n_b, sum_a, sum_b, shift_numer,
    * q_shift = numer/(n_a·n_b) in quantized units; divide by 127 for
    * original units).
    */
  def embeddingDrift(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select((col("vec_id") % 2).as("parity"),
        posexplode(int8Quantize(col("embedding"))).as(Seq("d0", "q")))
      .groupBy((col("d0") + 1).cast("long").as("dim"))
      .agg(
        sum(when(col("parity") === 0, 1L).otherwise(0L)).as("n_a"),
        sum(when(col("parity") === 1, 1L).otherwise(0L)).as("n_b"),
        sum(when(col("parity") === 0, col("q")).otherwise(0L)).as("sum_a"),
        sum(when(col("parity") === 1, col("q")).otherwise(0L)).as("sum_b"))
      .select(col("dim"), col("n_a"), col("n_b"), col("sum_a"), col("sum_b"),
        (col("sum_a") * col("n_b") - col("sum_b") * col("n_a")).as("shift_numer"),
        ((col("sum_a") * col("n_b") - col("sum_b") * col("n_a")).cast("double") /
          (col("n_a") * col("n_b"))).as("q_shift"))
      .orderBy("dim")

  /** Ranked candidates without the presentation projection: (qid, cid,
    * rank) from the same map-side bounded [[graft.functions.TopKExpression]]
    * contract as [[presentTopK]] ((sim desc, cid asc), ranks by buffer
    * position). Shared by the fusion and re-rank pipelines, which need
    * the rank as an INPUT to further scoring rather than as output.
    */
  private[operators] def rankedTopK(scored: DataFrame, k: Int): DataFrame = {
    val agg = graft.functions.TopK.topk(k)
    scored
      .groupBy(col("qid"))
      .agg(agg(col("sim"), col("cid")).as("nb"))
      .select(col("qid"), posexplode(col("nb.entries")))
      .select(col("qid"), col("col.cid").as("cid"),
        (col("pos") + 1).cast("int").as("rank"))
  }

  /** Shared leg construction for the retrieval family ([[rankFusion]],
    * [[retrieverAgreement]], and whatever retrieval audit lands next):
    * the SCORED `(qid, cid, sim)` relations for the lexical leg
    * (distinct-3-shingle overlap via the inverted-index equi-join —
    * never all pairs) and the dense leg (the x5 measured-guard
    * broadcast cosine). Callers truncate with [[rankedTopK]] at their
    * own k — truncation is the only thing the two consumers disagree
    * on, so it stays out of the builder. The lexical `sim` is the exact
    * integer overlap riding a Double losslessly (≤ 2^53).
    */
  private def retrievalLegs(
      spark: SparkSession,
      dir: String,
      queryMod: Int,
      maxBroadcastBytes: Long): (DataFrame, DataFrame) = {
    val sh = Tables.documents(spark, dir)
      .select(col("doc_id"),
        explode(Tables.shingles(Tables.tokens(col("text")))).as("shingle"))
    val qSh = sh.filter(pmod(col("doc_id"), lit(queryMod)) === 0)
      .select(col("doc_id").as("qid"), col("shingle"))
    val cSh = sh.select(col("doc_id").as("cid"), col("shingle"))
    val lexScored = qSh.join(cSh, Seq("shingle"))
      .filter(col("qid") =!= col("cid"))
      .groupBy("qid", "cid")
      .agg(count(lit(1)).cast("double").as("sim"))
    (lexScored, bruteScored(spark, dir, queryMod, maxBroadcastBytes))
  }

  /** EXT-S18 (x103) — retriever-agreement audit: per query, how much the
    * lexical top-k (3-shingle overlap) and the dense top-k (cosine)
    * AGREE — `n_common` and `overlap_frac = n_common / k`. This is the
    * diagnostic that justifies (or retires) x79's fusion: high agreement
    * means one retriever is redundant and fusion buys nothing; low
    * agreement means the two see different relevance and RRF has
    * something to combine. Run it before tuning fusion weights — the
    * overlap distribution is the evidence.
    *
    * Same leg construction as [[rankFusion]] (the inverted-index lexical
    * leg and the measured-guard dense leg), truncated at k instead of
    * kLeg; the agreement join is over two ≤ |queries|·k relations, so
    * everything after the legs is bounded by construction. A query with
    * no lexical candidates (nothing shares a shingle) reports n_lex = 0
    * honestly — dense always retrieves, which is itself the signal.
    */
  def retrieverAgreement(
      spark: SparkSession,
      dir: String,
      k: Int = 5,
      queryMod: Int = 10,
      maxBroadcastBytes: Long = 64L << 20): DataFrame = {
    val (lexScored, vecScored) =
      retrievalLegs(spark, dir, queryMod, maxBroadcastBytes)
    // r19 (guide §2.6): the two legs are INDEPENDENT relations — their
    // checkpoints ran back to back on the driver, leaving the cluster
    // idle through each leg's tail. Materialize them concurrently; two
    // consumers each, as before.
    val (lex, vec) = Par.bothDF(
      rankedTopK(lexScored, k).localCheckpoint(),
      rankedTopK(vecScored, k).localCheckpoint())
    val lexN = lex.groupBy("qid").agg(count(lit(1)).as("n_lex"))
    val vecN = vec.groupBy("qid").agg(count(lit(1)).as("n_vec"))
    val common = lex.join(vec, Seq("qid", "cid"))
      .groupBy("qid").agg(count(lit(1)).as("n_common"))
    vecN.join(lexN, Seq("qid"), "left_outer")
      .join(common, Seq("qid"), "left_outer")
      .select(col("qid").as("query_id"),
        coalesce(col("n_lex"), lit(0L)).as("n_lex"), col("n_vec"),
        coalesce(col("n_common"), lit(0L)).as("n_common"),
        (coalesce(col("n_common"), lit(0L)).cast("double") / k).as("overlap_frac"))
      .orderBy("query_id")
  }

  /** EXT-S14 — reciprocal-rank fusion of a lexical and a vector ranking
    * (hybrid retrieval; RRF per Cormack et al., SIGIR 2009). For each
    * query document (`doc_id % queryMod == 0`): the top-`kLeg` corpus
    * docs by distinct 3-shingle overlap (the lexical leg — an
    * inverted-index equi-join over the x3 family's shingle relation)
    * are fused with the top-`kLeg` by embedding cosine (the vector leg
    * — the x5 guarded-broadcast shape) via `rrf = Σ_leg 1/(60 + rank)`;
    * a doc absent from one leg contributes nothing for it. Output is
    * the fused top-`k` per query.
    *
    * The lexical unit is the SHINGLE, not the token, deliberately:
    * candidate volume for an inverted-index join is
    * Σ_unit q_count·c_count, and single tokens on a stopword-saturated
    * corpus degrade that to all-pairs (measured here: 31-token
    * vocabulary, ~78% df ⇒ 44.5M candidate rows at sf0.1 — every doc
    * matches every query). Word 3-shingles keep posting lists short on
    * exactly the corpora where tokens blow up (measured: 160× fewer
    * candidates, max shingle df 25 vs 3 923) — the same selectivity
    * argument PPJoin's prefix filter rests on ([[Dedup.ngramJaccard]]).
    *
    * Scale: each leg is independently the bounded-top-k plan already
    * proven for its family — the lexical leg joins on shingle
    * (candidates only from shared shingles, never all pairs), the
    * vector leg is [[bruteForceTopK]]'s measured-guard broadcast. The
    * fusion itself joins two relations each ≤ |queries|·kLeg rows (FULL
    * OUTER on (qid, cid)) — bounded by construction, so the fusion
    * stage costs nothing at any corpus size; only the legs scale, and
    * they scale as their families do. Both rank ties and the fused tie
    * break to the lower cid, mirrored by the oracle's `row_number`
    * spelling.
    */
  def rankFusion(
      spark: SparkSession,
      dir: String,
      kLeg: Int = 20,
      k: Int = 5,
      queryMod: Int = 10,
      maxBroadcastBytes: Long = 64L << 20): DataFrame = {
    val (lexScored, vecScored) =
      retrievalLegs(spark, dir, queryMod, maxBroadcastBytes)
    val lex = rankedTopK(lexScored, kLeg).withColumnRenamed("rank", "rank_lex")
    val vec = rankedTopK(vecScored, kLeg).withColumnRenamed("rank", "rank_vec")
    // fusion: two k-bounded relations, outer-joined; both engines compute
    // the same two-term IEEE sum in the same order
    val fused = lex.join(vec, Seq("qid", "cid"), "full_outer")
      .select(col("qid"), col("cid"),
        (coalesce(lit(1.0) / (lit(60.0) + col("rank_lex")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(60.0) + col("rank_vec")), lit(0.0))).as("sim"))
    val agg = graft.functions.TopK.topk(k)
    fused
      .groupBy(col("qid"))
      .agg(agg(col("sim"), col("cid")).as("nb"))
      .select(col("qid").as("query_id"), posexplode(col("nb.entries")))
      .select(col("query_id"), (col("pos") + 1).cast("int").as("rank"),
        col("col.cid").as("doc_id"), round(col("col.sim"), 6).as("rrf6"))
      .orderBy("query_id", "rank")
  }

  /** Sign bits of `n` dimensions starting at 0-based `offset`, packed
    * into one BIGINT (bit i set ⇔ `emb[offset+i] >= 0`) — the
    * [[signBucket]] hyperplane family widened from a bucket id to a full
    * binary signature. Disjoint powers of two summed: exact, and codegen
    * end to end (64 `when`s fold into one whole-stage expression).
    */
  private[graft] def packSignBits(emb: Column, offset: Int, n: Int): Column =
    (0 until n)
      .map(i => when(element_at(emb, offset + i + 1) >= 0f, lit(1L << i)).otherwise(lit(0L)))
      .reduce(_ + _)

  /** EXT-S15 — sign-bit Hamming ANN with exact re-rank: each vector is
    * compressed to a 64-bit sign signature (one bit per dimension —
    * 16 bytes/row vs 256 for the float vector); the first pass scans
    * SIGNATURES only, ranking by Hamming distance (`bit_count(xor)` —
    * native codegen, no lambda, ~2 instructions/candidate vs 64 FMAs),
    * and only the top-`candidates` per query are re-ranked by exact
    * cosine over the full vectors.
    *
    * Scale: this is the binary-sketch first pass production ANN uses
    * when even IVF cell scans are bandwidth-bound — at 100 TB of
    * vectors the signature relation is ~1.6 TB (64× less I/O), and the
    * popcount scan is compute-trivial. The query side reuses the
    * measured-size broadcast guard ([[broadcastIfMeasuredUnder]], fixed
    * 3-long rows — measurement still decides). The re-rank stage
    * touches full vectors ONLY via equi-joins on the candidate ids — a
    * relation bounded by |queries|·candidates rows BY CONSTRUCTION, so
    * its broadcast hint is sound at any corpus size and the corpus-side
    * vector scan is probed once, never cross-joined.
    *
    * Output: (vec_id, rank, neighbor_id, sim4) — the house ANN contract.
    */
  def hammingTopK(
      spark: SparkSession,
      dir: String,
      candidates: Int = 20,
      k: Int = 3,
      queryMod: Int = 10,
      dim: Int = 64,
      maxBroadcastBytes: Long = 64L << 20): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    // localCheckpoint (lazy) is a MATERIALIZATION BARRIER, not a cache
    // nicety: without it Catalyst inlines the two 32-`when` pack folds
    // through the nested-loop join into the per-PAIR projection, so all
    // four signature halves are recomputed n·m times (measured 9 s vs
    // ~1 s at sf0.1). Checkpointed, packing runs once per ROW and the
    // per-pair work is the native xor+bit_count it should be; the
    // materialized relation is the 16-byte-per-vector signature table —
    // at 100 TB of vectors ~1.6 TB across the cluster, the same narrow
    // artifact a production binary index persists anyway.
    val sigs = signSignatureProjection(emb, dim).localCheckpoint(false)
    val queries = sampledQueries(sigs, dir, "sig", queryMod, maxBroadcastBytes,
      _ => 3L * 8 + 64)(col("vec_id").as("qid"), col("lo").as("qlo"), col("hi").as("qhi"))
    val corpus = expansionPartitioned(
      sigs.select(col("vec_id").as("cid"), col("lo"), col("hi")))
    val ham = queries.join(corpus, col("qid") =!= col("cid"))
      .select(col("qid"), col("cid"),
        (bit_count(col("qlo").bitwiseXOR(col("lo"))) +
          bit_count(col("qhi").bitwiseXOR(col("hi")))).as("ham"))
    // rank by (hamming asc, cid asc) through the desc aggregator via
    // negation — exact: integer-valued doubles
    val cand = rankedTopK(
      ham.select(col("qid"), col("cid"), (lit(0.0) - col("ham").cast("double")).as("sim")),
      candidates).select("qid", "cid")
    val qe = emb.select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val ce = emb.select(col("vec_id").as("cid"), col("embedding").as("ce"))
    // candidate relation ≤ |queries|·candidates rows — bounded by
    // construction, per the repo broadcast rule
    val scored = broadcast(cand.join(qe, Seq("qid")))
      .join(ce, Seq("cid"))
      .select(col("qid"), col("cid"), dot(col("qe"), col("ce")).as("sim"))
    presentTopK(scored, k)
  }

  // ===== Product quantization (EXT-S20 x104 / EXT-S21 x105 / EXT-S20b index) =====

  /** The int8 lattice (`floor(127x + 0.5)` as BIGINT — [[quantize]]'s
    * serving-index form) as a reusable column transform: ONE spelling so
    * the batch corpus, the index probe's query batches, the streaming
    * encoder, and the oracle can never disagree on the lattice.
    */
  private[graft] def int8Quantize(emb: Column): Column =
    transform(emb, x => floor(x.cast("double") * lit(127.0) + lit(0.5)).cast("long"))

  /** [[int8Quantize]]'s lattice point of one value on the driver (plan
    * literals such as int8 centroids) — property-pinned equal to it. */
  private[graft] def int8Lattice(v: Double): Long = math.floor(v * 127.0 + 0.5).toLong

  /** The int8-quantized corpus, the shared entry point of the PQ family. */
  private[operators] def int8Corpus(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select(col("vec_id"), int8Quantize(col("embedding")).as("qv"))

  /** EXT-S23 (`x112_semantic_contamination`) — SEMANTIC eval-set
    * decontamination: every non-benchmark vector scored by its maximum
    * cosine against the benchmark slice (`vec_id % benchMod == 0` — the
    * same membership rule x18's lexical decontamination uses on doc_id,
    * and doc_id ≡ vec_id in the data model), with the offending
    * benchmark id and a `contaminated` verdict past `tau`. Lexical
    * decontamination (x18/x49/x108) catches verbatim quotes; this
    * catches the PARAPHRASED eval leak — the reworded GSM8k problem
    * that shares no 5-gram with the original — which is exactly the
    * leak class published decontamination pipelines moved to embedding
    * similarity for.
    *
    * Plan shape is [[bruteForceTopK]]'s with k = 1 and the SMALL side
    * fixed by construction: the benchmark slice is 1/benchMod of the
    * corpus (eval sets are MBs against corpus TBs in production), so
    * the measured-size guard broadcasts it and the corpus streams
    * through a map-side max fold — ≤ 1 row per corpus vector crosses
    * the one exchange, never the scored pairs. Ties break to the lower
    * benchmark id via the shared [[presentTopK]] struct-max.
    */
  def semanticContamination(
      spark: SparkSession,
      dir: String,
      tau: Double = 0.35,
      benchMod: Int = 20,
      maxBroadcastBytes: Long = 64L << 20): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val benchRaw = emb.filter(pmod(col("vec_id"), lit(benchMod)) === 0)
      .select(col("vec_id").as("cid"), col("embedding").as("ce"))
    val bench = broadcastIfMeasuredUnder(benchRaw,
      s"$dir|emb|bench=$benchMod", () => embRowBytes(benchRaw, "ce"), maxBroadcastBytes)
    val corpus = expansionPartitioned(
      emb.filter(pmod(col("vec_id"), lit(benchMod)) =!= 0)
        .select(col("vec_id").as("qid"), col("embedding").as("qe")))
    val scored = corpus.join(bench)
      .select(col("qid"), col("cid"), dot(col("qe"), col("ce")).as("sim"))
    presentTopK(scored, 1)
      .select(col("vec_id"), col("neighbor_id").as("bench_id"), col("sim4"),
        (col("sim4") >= tau).as("contaminated"))
  }

  /** Benchmark slice collected for the streaming gate (EXT-6y): the
    * eval-set vectors as driver-side literals. Bounded by construction —
    * eval sets are MBs against corpus TBs (the same boundedness argument
    * as the trained-centroid tables); a benchmark too big to collect is
    * a benchmark too big to ride a plan as literals, and the BATCH
    * operator's broadcast join is the right regime for it.
    */
  def benchmarkVectors(
      spark: SparkSession, dir: String, benchMod: Int = 20): Seq[(Long, Array[Float])] = {
    import spark.implicits._
    Tables.embeddings(spark, dir)
      .filter(pmod(col("vec_id"), lit(benchMod)) === 0)
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])].collect().sortBy(_._1).toSeq
  }

  /** Row-local semantic-contamination scoring over ANY
    * (vec_id, embedding) relation — batch or unbounded stream: the
    * benchmark vectors ride as plan literals (one struct per benchmark
    * vector; `array_max` picks max sim, ties to the LOWER benchmark id
    * via the negated-id struct field — [[presentTopK]]'s ordering), so
    * this is a pure projection: no join, no shuffle, no state. The dot
    * runs on the same float arrays and the same compiled left fold as
    * the batch operator, so stream and batch scores are bit-identical
    * (spec-pinned).
    */
  def contaminationProjection(
      vecs: DataFrame, bench: Seq[(Long, Array[Float])], tau: Double): DataFrame = {
    require(bench.nonEmpty, "benchmark slice is empty — nothing to screen against")
    val cand = array(bench.sortBy(_._1).map { case (bid, bv) =>
      struct(dot(col("embedding"), typedlit(bv.toSeq)).as("sim"),
        lit(-bid).as("nid"))
    }: _*)
    vecs
      .select(col("vec_id"), array_max(cand).as("m"))
      .select(col("vec_id"), (-col("m.nid")).as("bench_id"),
        round(col("m.sim"), 4).as("sim4"))
      .withColumn("contaminated", col("sim4") >= tau)
  }

  /** EXT-S24 (`x114_cell_outliers`) — within-cell embedding outlier
    * audit: each vector ranked by prototypicality INSIDE its trained
    * k-means cell (cent_sim4 asc, vec_id asc — the rounded column both
    * engines rank identically), with the cell population and a bottom
    * `1/pctDen` outlier verdict spelled in exact integers
    * (`rn · pctDen ≤ n_cell` — no float percentile anywhere). x57 says
    * how prototypical a vector is; this says how prototypical it is
    * RELATIVE TO ITS OWN TOPIC — the farthest 5% of each cell is where
    * mislabeled, off-distribution, and adversarial documents
    * concentrate (the SSL-prototypes pruning tail), and a per-cell cut
    * can't be starved by one diffuse cluster the way a global
    * cosine threshold is.
    *
    * Plan: the one trained-centroid row-local projection x54/x57/x75
    * share, then ONE shuffle keyed by cell for the rank window + count.
    * k bounds the partition count, so a giant cell is the hot-partition
    * hazard — the SAME hazard x100 documents, with the same production
    * answer (compose the cell key with a content-stable shard and take
    * per-shard ranks as the approximation); eval keeps the bare cell
    * key so the oracle mirrors the window exactly.
    */
  def cellOutliers(
      spark: SparkSession,
      dir: String,
      k: Int = 8,
      iters: Int = 2,
      pctDen: Int = 20): DataFrame = {
    require(pctDen >= 1, s"pctDen ($pctDen) must be positive")
    import org.apache.spark.sql.expressions.Window
    val proj = centroidSimProjection(spark, dir, k, iters)
    val w = Window.partitionBy("cell").orderBy(col("cent_sim4"), col("vec_id"))
    val wc = Window.partitionBy("cell")
    proj
      .withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("n_cell", count(lit(1)).over(wc))
      .withColumn("outlier", col("rn") * pctDen <= col("n_cell"))
      .select("vec_id", "cell", "cent_sim4", "rn", "n_cell", "outlier")
      .orderBy("vec_id")
  }

  /** The embedding corpus's spectral summary (EXT-S25). `eigs` is every
    * eigenvalue of the int8 second-moment matrix, descending;
    * `effectiveRank` is the participation ratio `(Σλ)²/Σλ²`.
    */
  case class Spectrum(dim: Int, nVectors: Long, trace: Double,
      eigs: Seq[Double], effectiveRank: Double)

  /** EXT-S25 — embedding covariance SPECTRUM audit: the eigenvalues of
    * the corpus's (uncentered) int8 second-moment matrix `Σ v·vᵀ` and
    * the participation-ratio effective rank. The collapse detector the
    * per-dimension audits cannot be: x94 sees a DEAD dimension
    * (constant/zero), x109 sees a redundant PAIR — but an embedding
    * model whose outputs collapse toward a low-dimensional cone (the
    * classic contrastive-training failure) can keep every dimension
    * individually alive and every pair only mildly correlated while
    * the spectrum concentrates in a few eigenvalues. Effective rank ≪
    * dim is that alarm, and it directly bounds what PQ/IVF/sign
    * indexes (x104/x15/x80) can do: their cells and codes partition
    * the space the mass actually occupies.
    *
    * Distributed part: the exact integer Gram triangle — the SAME
    * partition-bounded syrk kernel x109 ships (one emitted triangle
    * per partition, the exchange never grows with the corpus), folded
    * to ONE dim×dim matrix. Driver part: a cyclic Jacobi eigen solve
    * on that dim-bounded object (64×64 here; microseconds, no
    * distributed iteration to get wrong) — the same bounded-collect
    * discipline as the trained-centroid tables. Spec-only (no DuckDB
    * oracle: eigenvalues are not SQL-expressible); the spec pins the
    * solver against analytically-known spectra, a rotated case, and
    * the trace/PSD invariants the Gram guarantees.
    */
  def covarianceSpectrum(spark: SparkSession, dir: String): Spectrum = {
    import spark.implicits._
    val rows = int8GramTriangles(spark, dir)
      .as[(Long, Long, Long)].collect()
    require(rows.nonEmpty, "empty embedding corpus — nothing to decompose")
    val dim = rows.map(_._2).max.toInt
    val m = Array.fill(dim)(new Array[Double](dim))
    rows.foreach { case (i, j, s) =>
      m(i.toInt - 1)(j.toInt - 1) = s.toDouble
      m(j.toInt - 1)(i.toInt - 1) = s.toDouble
    }
    val n = Tables.embeddings(spark, dir).count()
    val eigs = jacobiEigenvalues(m)
    val trace = eigs.sum
    val sumSq = eigs.map(e => e * e).sum
    Spectrum(dim, n, trace, eigs.sortBy(-_).toSeq,
      if (sumSq == 0.0) 0.0 else trace * trace / sumSq)
  }

  /** The summed exact int8 Gram triangle `(d1 <= d2, Σ v_i·v_j)` — the
    * one partition-bounded kernel shared by x109's correlation view and
    * the spectral audit.
    */
  private[graft] def int8GramTriangles(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val q = int8Corpus(spark, dir).select(col("qv")).as[Seq[Long]]
    val partials = q.mapPartitions { it =>
      var acc: Array[Array[Long]] = null
      var dim = -1
      it.foreach { v =>
        if (acc == null) { dim = v.length; acc = Array.fill(dim)(new Array[Long](dim)) }
        require(v.length == dim, s"gram: ragged vector (${v.length} vs $dim)")
        var i = 0
        while (i < dim) {
          val vi = v(i)
          if (vi != 0L) {
            var j = i
            while (j < dim) { acc(i)(j) += vi * v(j); j += 1 }
          }
          i += 1
        }
      }
      if (acc == null) Iterator.empty
      else {
        val d = dim
        (for { i <- 0 until d; j <- i until d }
          yield ((i + 1).toLong, (j + 1).toLong, acc(i)(j))).iterator
      }
    }
    partials.toDF("d1", "d2", "sp")
      .groupBy("d1", "d2").agg(sum("sp").as("s"))
  }

  /** Cyclic Jacobi eigenvalue solve for a symmetric matrix — ~15 sweeps
    * converge machine-precision at dim 64; deterministic (fixed sweep
    * order, no pivot search randomness).
    */
  private[graft] def jacobiEigenvalues(a0: Array[Array[Double]]): Array[Double] = {
    val n = a0.length
    val a = Array.tabulate(n, n)((i, j) => a0(i)(j))
    var sweep = 0
    var off = Double.MaxValue
    val scale = math.max(1.0, a.indices.map(i => math.abs(a(i)(i))).max)
    while (sweep < 50 && off > 1e-12 * scale) {
      off = 0.0
      var p = 0
      while (p < n - 1) {
        var q = p + 1
        while (q < n) {
          val apq = a(p)(q)
          if (apq != 0.0) {
            off = math.max(off, math.abs(apq))
            val theta = 0.5 * math.atan2(2.0 * apq, a(q)(q) - a(p)(p))
            val c = math.cos(theta); val s = math.sin(theta)
            var k = 0
            while (k < n) {
              val akp = a(k)(p); val akq = a(k)(q)
              a(k)(p) = c * akp - s * akq
              a(k)(q) = s * akp + c * akq
              k += 1
            }
            k = 0
            while (k < n) {
              val apk = a(p)(k); val aqk = a(q)(k)
              a(p)(k) = c * apk - s * aqk
              a(q)(k) = s * apk + c * aqk
              k += 1
            }
          }
          q += 1
        }
        p += 1
      }
      sweep += 1
    }
    Array.tabulate(n)(i => a(i)(i))
  }
}
