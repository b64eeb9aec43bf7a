package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deduplication family for LLM training-data pipelines (SURVEY.md §2b):
  * exact, MinHash+LSH, all-pairs n-gram Jaccard, and SimHash.
  *
  * Every hash is derived from `md5` over an explicit seeded string so the
  * DuckDB oracle can reproduce each operator bit-for-bit — no engine-
  * private hash functions in any result.
  *
  * Scale design (the 100 TB story):
  *  - exact dedup is one hash-partitioned aggregation on a 32-byte digest
  *    (map-side partial agg collapses duplicates before the shuffle);
  *  - the n-gram Jaccard join is PPJoin-style: a prefix-filtered
  *    inverted-index join generates candidates (cost scales with prefix
  *    co-occurrence, ~(1−t)² of the naive shingle join), then candidates
  *    are verified row-locally against the per-doc shingle arrays —
  *    lossless for the threshold by the standard prefix-filter bound;
  *  - MinHash/LSH replaces even the prefix join with a band-signature
  *    join: candidate generation touches each document once and joins
  *    only colliding buckets — the sub-quadratic path when the corpus is
  *    too big for exact all-pairs;
  *  - SimHash is a per-document linear scan (two keyed aggregations),
  *    embarrassingly parallel.
  *
  * Implementation note: token/shingle arrays are materialized in their own
  * projection steps. Referencing a `split()` expression from several
  * consumers would otherwise let Catalyst inline it into each use — at
  * ~50 tokens/doc that re-tokenizes every document dozens of times
  * (measured 10× slowdown on this exact pipeline).
  */
object Dedup {

  /** EXT-D1 — exact dedup: group by content digest, keep the smallest
    * doc_id as the canonical copy. `sha2` runs inside codegen; the
    * aggregation is partial-agg friendly (one digest per group on the map
    * side), so the shuffle carries one row per distinct document.
    */
  def exact(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupBy(sha2(col("text"), 256).as("digest"))
      .agg(min("doc_id").as("doc_id"), count(lit(1)).as("n_copies"))
      .select("doc_id", "n_copies")
      .orderBy("doc_id")

  /** Per-document distinct shingle sets as arrays: (doc_id, shs, n).
    * Tokens and shingles each get their own projection (see class note).
    *
    * Eagerly materialized (`localCheckpoint`): every consumer fans out to
    * 3–4 plan branches (postings, document frequencies, both verify join
    * sides) and Spark reuses no common subtree across branches — without
    * this, the scan + tokenize + shingle pass runs once per branch. The
    * relation is one row per document (narrow arrays), orders of
    * magnitude smaller than the postings it generates; at 100 TB this is
    * the classic "materialize the shingle table once" step of a dedup
    * pipeline (a persisted table / cache, not a per-query recompute).
    */
  private[operators] def shingleArrays(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), Tables.tokens(col("text")).as("toks"))
      .select(col("doc_id"), Tables.shingles(col("toks")).as("shs"))
      .select(col("doc_id"), col("shs"), size(col("shs")).as("n"))
      .repartition(col("doc_id"))
      .localCheckpoint()

  /** Saturation guard for bucket-grouped pair generation: the pair
    * EXPANSION streams (chained explodes, O(|bucket|) per row), but the
    * grouped bucket itself is one `collect_list` row — a degenerate hot
    * bucket (a band signature shared by millions of near-empty documents)
    * would OOM an executor opaquely. This converts that into an
    * actionable failure naming the knob to turn; the cap is far above
    * anything a healthy banding produces (saturation means the banding
    * is mis-sized for the corpus, not that more memory is needed).
    * Spelled as `assert_true` inside a Filter so it cannot be pruned.
    */
  private[operators] def guardBucketSize(grouped: DataFrame, cap: Int, knob: String): DataFrame =
    grouped.filter(assert_true(size(col("ds")) <= cap,
      lit(s"bucket saturated (> $cap rows share one group key) — $knob"))
      .isNull)

  /** The bucket-local pair generator shared by every grouped detector
    * here (x3's and x116's posting lists, the LSH band buckets, the
    * SimHash bands): group `rows` by `keys` into a `collect_list` of
    * `entry` as `ds`, apply [[guardBucketSize]], drop singleton groups,
    * and expand every ordered pair of entries as two chained explodes
    * named `names`. The |bucket|² pairs STREAM through the Generate
    * operators row by row — never one |bucket|²-element array in a
    * single row (which is what OOMs on a hot bucket at scale; per-row
    * memory here is O(|bucket|)). `probes` filters the first side
    * before the second explode (x116 probes with prefix entries only);
    * each caller applies its own pair filter to the result.
    */
  private def guardedPairs(
      rows: DataFrame,
      keys: Seq[Column],
      entry: Column,
      maxBucket: Int,
      knob: String,
      names: (String, String) = ("x", "y"),
      probes: Option[Column] = None): DataFrame = {
    val (x, y) = names
    val firsts = guardBucketSize(
        rows.groupBy(keys: _*).agg(collect_list(entry).as("ds")), maxBucket, knob)
      .filter(size(col("ds")) >= 2)
      .select(col("ds"), explode(col("ds")).as(x))
    probes.fold(firsts)(firsts.filter)
      .select(col(x), explode(col("ds")).as(y))
  }

  private val hotPostingKnob =
    "a posting list this hot means a near-universal shingle — raise the threshold or maxBucket"

  /** COUNT-FIRST saturation guard (the r16 audit note on
    * [[guardBucketSize]]): for a truly degenerate bucket the in-plan
    * assert evaluates only AFTER `collect_list` has buffered the bucket
    * — the aggregation can OOM before the assert fires. This variant
    * runs an EAGER counting pass over the pre-grouped rows first: a
    * `count` partial agg is map-side bounded at any bucket size, so the
    * refusal is guaranteed-actionable at any corpus, and only a corpus
    * that PASSES goes on to pay the collect. Costs one extra narrow
    * pass over the (sketch-sized) banded relation — callers materialize
    * it once and feed both passes.
    */
  private[operators] def guardBucketCountsEager(
      banded: DataFrame, keys: Seq[String], cap: Int, knob: String): Unit = {
    val mx = banded.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("n")).agg(max(col("n"))).head()
    if (!mx.isNullAt(0))
      require(mx.getLong(0) <= cap,
        s"bucket saturated (${mx.getLong(0)} > $cap rows share one group key) — $knob")
  }

  /** Row-local exact verification of candidate pairs (d1 < d2) against
    * the shingle arrays: Jaccard via `array_intersect`, keeping pairs at
    * `threshold`. The arrays relation is per-doc (small relative to any
    * pair stream) and broadcast to both joins.
    */
  private def verifyJaccard(candidates: DataFrame, arrays: DataFrame, threshold: Double): DataFrame =
    // join strategy intentionally left to Catalyst/AQE: at bench scale the
    // arrays relation is auto-broadcast; at 100 TB it exceeds any broadcast
    // threshold and AQE plans a shuffle join keyed by doc id instead
    candidates
      .join(arrays.select(col("doc_id").as("d1"), col("shs").as("sh1"), col("n").as("sz1")), "d1")
      .join(arrays.select(col("doc_id").as("d2"), col("shs").as("sh2"), col("n").as("sz2")), "d2")
      // native count — size(array_intersect(...)) materializes the
      // intersection array per pair before sizing it
      .withColumn("inter",
        graft.functions.IntersectSize.intersectSize(col("sh1"), col("sh2")))
      .withColumn("n1", col("sz1").cast("long"))
      .withColumn("n2", col("sz2").cast("long"))
      .withColumn("jaccard", col("inter").cast("double") / (col("n1") + col("n2") - col("inter")))
      .filter(col("jaccard") >= threshold)

  /** Rows per band of a MinHash-LSH banding, refusing a (numHashes,
    * bands) choice that does not divide evenly: bands > numHashes would
    * make it 0 — every document shares every (empty) band signature and
    * the "sub-quadratic path" silently runs a full quadratic verify —
    * and a non-divisible choice silently discards trailing hashes.
    */
  private def rowsPerBand(numHashes: Int, bands: Int): Int = {
    require(bands >= 1 && numHashes >= bands && numHashes % bands == 0,
      s"numHashes ($numHashes) must be a positive multiple of bands ($bands)")
    numHashes / bands
  }

  /** The MinHash signature pass over a `(doc_id, shs)` relation: the
    * documents with a non-empty shingle array (docs with < k tokens
    * never enter the oracle's exploded relation) and their `numHashes`
    * seeded min-hashes as `(doc_id, mh)`, in one compiled row-local
    * pass ([[graft.functions.MinHashesExpression]]) — no shuffle before
    * bucketing. Returns both, since the verify joins read the arrays.
    * A caller that reuses the signatures checkpoints them itself.
    */
  private def minhashSignatures(arrays: DataFrame, numHashes: Int): (DataFrame, DataFrame) = {
    val arr = arrays.filter(size(col("shs")) > 0)
    (arr, arr.select(col("doc_id"),
      graft.functions.MinHashes.minhashes(col("shs"), numHashes).as("mh")))
  }

  /** The PPJoin prefix ranking shared by [[ngramJaccard]] (x3) and
    * [[containmentJoin]] (x116): every (doc_id, n, shingle) posting with
    * its document frequency `df` and its rank `rn` in the document under
    * the global (df asc, shingle) order, plus the prefix predicate
    * `rn ≤ n − ⌈t·n⌉ + 1` at `threshold`. x3 keeps only prefix rows; x116
    * keeps every posting and flags the prefix ones.
    *
    * Every ⌈n·t⌉ subtracts ε first: double rounding can push n·t just
    * above its exact rational value, and an over-estimated ceil SHORTENS
    * the prefix — the lossy direction. ε only ever admits borderline
    * candidates (verification is exact). The per-doc rank is a window: it
    * sorts each shuffle partition by (doc, df, shingle) inside Tungsten
    * and ranks streamingly (an A/B against a groupBy + collect_list +
    * row-local array_sort spelling measured the window ~30% faster).
    */
  private def prefixRanked(arr: DataFrame, threshold: Double): (DataFrame, Column) = {
    import org.apache.spark.sql.expressions.Window
    val sh = arr.select(col("doc_id"), col("n"), explode(col("shs")).as("shingle"))
    val freq = sh.groupBy("shingle").agg(count(lit(1)).as("df"))
    val prefLen = (col("n") - ceil(col("n") * threshold - 1e-9) + 1).cast("int")
    (sh.join(freq, "shingle")
      .withColumn("rn",
        row_number().over(Window.partitionBy("doc_id").orderBy(col("df"), col("shingle")))),
      col("rn") <= prefLen)
  }

  /** EXT-D3 — all-pairs n-gram (3-token shingle) Jaccard join at a
    * threshold, PPJoin-style. Exactness argument: if J(A,B) ≥ t and the
    * length filter |B| ≥ t·|A| holds, then |A∩B| ≥ ⌈t·|A|⌉, so A and B
    * must share an element within the first |A|−⌈t·|A|⌉+1 elements under
    * ANY global total order. The order used is ascending document
    * frequency (ties by shingle) — the canonical PPJoin choice: prefixes
    * then hold the RAREST shingles, which minimizes posting-list
    * collisions (~2× fewer candidate pairs than lexicographic order on
    * the harness corpus, whose shingle frequencies are near-uniform;
    * far more on real corpora with skewed shingle distributions). Only
    * prefixes are exploded and joined; full sets are only compared for
    * surviving candidates.
    */
  def ngramJaccard(
      spark: SparkSession,
      dir: String,
      threshold: Double = 0.8,
      maxBucket: Int = 1 << 20): DataFrame =
    ngramJaccardOver(shingleArrays(spark, dir), spark, threshold, maxBucket)

  /** [[ngramJaccard]] over an ALREADY-MATERIALIZED shingle relation —
    * factored out (r19) so [[bandSweep]]'s PPJoin truth leg shares the
    * sweep's checkpointed shingle pass instead of re-materializing the
    * identical relation a second time inside one query. x3's own plan is
    * unchanged: it still builds its arr and runs this body verbatim.
    */
  private def ngramJaccardOver(
      arr: DataFrame,
      spark: SparkSession,
      threshold: Double,
      maxBucket: Int): DataFrame = {
    val (ranked, inPrefix) = prefixRanked(arr, threshold)
    val pref = ranked
      .filter(inPrefix)
      .select(col("doc_id"), col("n"), col("rn").as("pos"), col("shingle"))
    // inverted-index candidate generation WITHOUT a self-join: group the
    // prefix postings by shingle and emit ordered pairs within each
    // posting list ([[guardedPairs]]). A self-join spelling computes the
    // whole upstream pipeline once per side (exchange reuse does not
    // fire across self-join sides here); this shape computes it once.
    // Posting lists are short by construction (prefixes only), so the
    // in-group pair expansion is row-local and skew-safe. The length
    // filter subtracts the same ε as the prefix length.
    // positional filter (lossless, PPJoin): a collision at prefix
    // positions (px, py) can lead to at most 1 + min(nx−px, ny−py) total
    // overlap, and J ≥ t needs overlap ≥ t·(nx+ny)/(1+t); collisions
    // whose bound cannot reach that are dropped BEFORE the distinct. The
    // ε admits (never prunes) boundary cases under double rounding —
    // verification is exact regardless.
    val overlapBound =
      lit(1) + least(col("x.n") - col("x.pos"), col("y.n") - col("y.pos"))
    val overlapNeed =
      (col("x.n") + col("y.n")) * (threshold / (1 + threshold)) - lit(1e-9)
    // r18: both the pair EXPANSION and the verify run downstream of
    // byte-tiny exchanges (grouped posting lists; distinct (d1,d2)
    // pairs), and AQE's byte-based coalescing folded each to ONE
    // partition while the per-row cost is quadratic (|bucket|² explode)
    // or array-sized (intersectSize per pair) — measured on x131's
    // t=0.6 pair pass: two 1.1 s single-task stages. Spelling the
    // aggregation/distinct keys through exact-N repartitions keeps the
    // SAME exchanges (the aggregation reuses the partitioning — no new
    // shuffle) but pins their width to the session's parallelism, the
    // expansionPartitioned doctrine applied to post-shuffle stages.
    val par = spark.sparkContext.defaultParallelism
    val candidates = guardedPairs(
        pref.repartition(par, col("shingle")), Seq(col("shingle")),
        struct(col("doc_id"), col("n"), col("pos")), maxBucket, hotPostingKnob)
      .filter(col("x.doc_id") < col("y.doc_id") &&
        col("x.n") >= ceil(col("y.n") * threshold - 1e-9) &&
        col("y.n") >= ceil(col("x.n") * threshold - 1e-9) &&
        overlapBound >= overlapNeed)
      .select(col("x.doc_id").as("d1"), col("y.doc_id").as("d2"))
      .repartition(par, col("d1"), col("d2"))
      .distinct()
    verifyJaccard(candidates, arr, threshold)
      .select("d1", "d2", "inter", "n1", "n2", "jaccard")
      .orderBy("d1", "d2")
  }

  /** EXT-D2 — MinHash + LSH banding near-dup detection, the sub-quadratic
    * scale path: 16 md5-seeded min-hashes per document, banded 4×4;
    * documents sharing any full band signature become candidates;
    * candidates are verified row-locally with exact shingle Jaccard.
    *
    * At 100 TB the only wide operators are (a) the minhash aggregation
    * (keyed by doc — partial agg collapses to 16 rows/doc map-side),
    * (b) the band self-join (keyed by the 4-hash signature — selective
    * by construction), and (c) the broadcast verification joins on
    * candidates only.
    */
  def minhashLsh(
      spark: SparkSession,
      dir: String,
      numHashes: Int = 16,
      bands: Int = 4,
      threshold: Double = 0.8,
      maxBucket: Int = 1 << 20): DataFrame = {
    val rpb = rowsPerBand(numHashes, bands)
    // shingleArrays is already repartitioned + materialized, so the md5
    // work runs spread across cores, not on the scan's single split
    val (arr, mh) = minhashSignatures(shingleArrays(spark, dir), numHashes)
    val sig = bandedSignatures(mh, bands, rpb)
    verifyJaccard(bandCandidates(sig, rpb, maxBucket), arr, threshold)
      .select("d1", "d2", "jaccard")
      .orderBy("d1", "d2")
  }

  /** EXT-D20 (`x142_detector_agreement`) — dedup-detector AGREEMENT
    * audit: the verified MinHash-LSH pair set (x2: shingle Jaccard
    * ≥ 0.8 on banded candidates) against the SimHash pair set (x16:
    * Hamming ≤ 4 on the 60-bit token-frequency fingerprint), compared
    * by exact set algebra — per-detector counts, the intersection,
    * each side's exclusive pairs, the union, and |∩|/|∪| as
    * `agreement4`. The two detectors define "near-duplicate"
    * DIFFERENTLY (set overlap of 3-gram shingles vs weighted-bit
    * fingerprint distance), so neither is the other's oracle — the
    * audit quantifies the operational consequence of choosing one:
    * `only_simhash` is what a Jaccard pipeline would additionally
    * drop on switch-over, `only_minhash` the reverse, and a
    * round-over-round `agreement4` drop flags a corpus whose
    * duplication style migrated (e.g. templated boilerplate with
    * token substitutions drifts the fingerprint while shingle overlap
    * collapses much faster).
    *
    * Scale: both pair relations are the banded sub-quadratic builders
    * (never all-pairs); the full-outer join is keyed by (d1, d2) over
    * two |pairs|-sized relations, then ONE 1-row fold. Exact integers
    * throughout, one guarded rounded division.
    */
  def detectorAgreement(spark: SparkSession, dir: String): DataFrame = {
    val mh = minhashLsh(spark, dir).select(col("d1"), col("d2"))
      .withColumn("in_mh", lit(true))
    val sh = simhashNearDupPairs(spark, dir).select(col("d1"), col("d2"))
      .withColumn("in_sh", lit(true))
    mh.join(sh, Seq("d1", "d2"), "full_outer")
      .select(coalesce(col("in_mh"), lit(false)).as("in_mh"),
        coalesce(col("in_sh"), lit(false)).as("in_sh"))
      .agg(
        // coalesce: an empty pair universe must read as exact zeros
        // (the oracle's count FILTER), not a row of NULL sums
        coalesce(sum(when(col("in_mh"), 1L).otherwise(0L)), lit(0L)).as("n_minhash"),
        coalesce(sum(when(col("in_sh"), 1L).otherwise(0L)), lit(0L)).as("n_simhash"),
        coalesce(sum(when(col("in_mh") && col("in_sh"), 1L).otherwise(0L)), lit(0L)).as("n_both"),
        coalesce(sum(when(col("in_mh") && !col("in_sh"), 1L).otherwise(0L)), lit(0L)).as("only_minhash"),
        coalesce(sum(when(!col("in_mh") && col("in_sh"), 1L).otherwise(0L)), lit(0L)).as("only_simhash"),
        count(lit(1)).as("n_union"))
      .withColumn("agreement4",
        when(col("n_union") === 0L, lit(null).cast("double"))
          .otherwise(round(col("n_both").cast("double") / col("n_union"), 4)))
  }

  /** EXT-D21 (`x143_band_sweep`) — LSH BANDING sweep: the x131 discipline
    * applied to MinHash banding instead of the Jaccard threshold. For
    * each band count b (rows-per-band 16/b), the exact candidate volume,
    * the verified pairs (shingle Jaccard ≥ threshold), precision
    * (verification yield — how much verify work the banding wastes) and
    * TRUE recall against the exhaustive PPJoin pair set (x3's exact
    * relation, the ground truth this corpus can afford once). This is
    * the table that TUNES x2 on a real corpus: more bands ⇒ more
    * candidates ⇒ higher recall, lower precision — the operator measures
    * where this corpus actually sits on that curve instead of trusting
    * the 1−(1−J^r)^b textbook estimate (x52 audits the estimator; this
    * audits the OPERATING POINT).
    *
    * Scale: the 16-hash signature relation is computed ONCE
    * (checkpointed — |docs| rows of 16 longs, the md5 work is never
    * repaid). When the configs nest (every rows-per-band a multiple of
    * the finest's), one candidate pass at the finest banding carries
    * every config's candidates, each verified ONCE, and the per-config
    * census is one 1-row fold of band-equality flags; otherwise each
    * banding pays its own candidate pass and the union is verified once.
    * Candidates stay bucket-bounded under the saturation guard. The
    * PPJoin truth leg is the deliberate x3 cost — the sweep is an
    * offline tuning query, run when the banding choice is on the table.
    */
  def bandSweep(
      spark: SparkSession,
      dir: String,
      numHashes: Int = 16,
      bandConfigs: Seq[Int] = Seq(2, 4, 8),
      threshold: Double = 0.8,
      maxBucket: Int = 1 << 20): DataFrame = {
    import spark.implicits._
    require(bandConfigs.nonEmpty && bandConfigs.forall(b =>
      b >= 1 && numHashes % b == 0),
      s"every band count in $bandConfigs must divide numHashes ($numHashes)")
    val arrAll = shingleArrays(spark, dir)
    val (arr, mh) = minhashSignatures(arrAll, numHashes)
    val mhRel = mh.localCheckpoint() // one md5 pass feeds every banding
    // r19 (guide §2.4): band layouts NEST whenever every config's
    // rows-per-band is a multiple of the FINEST config's (bands are
    // consecutive slices from hash 0, so a coarse band is a
    // concatenation of fine bands) — then a coarse-band collision
    // implies a fine-band collision, i.e. cands(b) ⊆ cands(maxBands)
    // for every b. One candidate pass at the finest banding therefore
    // carries EVERY config's candidate set; per-config membership is a
    // row-local band-equality test over the two 16-hash signatures
    // (bounded, codegen'd comparisons), and the whole per-config census
    // collapses into ONE 1-row fold of conditional sums. The r18 shape
    // paid |configs| banding shuffles + a union + a distinct + a
    // membership join for the same three numbers per config. Candidate
    // and verified counts are identical by the nesting argument (the
    // old `uniq` WAS cands(maxBands): a union of nested sets).
    val maxB = bandConfigs.max
    val rpbFine = numHashes / maxB
    val nests = bandConfigs.forall(b => (numHashes / b) % rpbFine == 0)
    def collides(b: Int): Column = {
      val rpb = numHashes / b
      (0 until b).map { i =>
        (0 until rpb).map { r =>
          col("mh1")(i * rpb + r) === col("mh2")(i * rpb + r)
        }.reduce(_ && _)
      }.reduce(_ || _)
    }
    val sums = bandConfigs.flatMap { b =>
      Seq(
        coalesce(sum(when(collides(b), 1L).otherwise(0L)), lit(0L)).as(s"nc_$b"),
        coalesce(sum(when(collides(b) && col("ok"), 1L).otherwise(0L)), lit(0L))
          .as(s"nv_$b"))
    }
    val per =
      if (nests) {
        val cands = bandCandidates(
            bandedSignatures(mhRel, maxB, rpbFine), rpbFine, maxBucket)
          .localCheckpoint() // consumed by the flag pass AND the verify
        val okPairs = verifyJaccard(cands, arr, threshold)
          .select(col("d1"), col("d2")).withColumn("ok", lit(true))
        val folded = cands
          .join(mhRel.select(col("doc_id").as("d1"), col("mh").as("mh1")), "d1")
          .join(mhRel.select(col("doc_id").as("d2"), col("mh").as("mh2")), "d2")
          .join(okPairs, Seq("d1", "d2"), "left")
          .agg(sums.head, sums.tail: _*)
        folded.select(expr(
          s"stack(${bandConfigs.length}, " +
            bandConfigs.map(b => s"$b, nc_$b, nv_$b").mkString(", ") +
            ") AS (bands, n_candidates, n_verified)"))
      } else {
        // non-nesting configs: the r18 per-config union path, verbatim
        val allCands = bandConfigs.map { b =>
          bandCandidates(bandedSignatures(mhRel, b, numHashes / b), numHashes / b, maxBucket)
            .withColumn("bands", lit(b))
        }.reduce(_.unionByName(_))
        val uniq = allCands.select("d1", "d2").distinct().localCheckpoint()
        val okPairs = verifyJaccard(uniq, arr, threshold)
          .select(col("d1"), col("d2")).withColumn("ok", lit(true))
        allCands.join(okPairs, Seq("d1", "d2"), "left")
          .groupBy("bands").agg(
            count(lit(1)).as("n_candidates"),
            coalesce(sum(when(col("ok"), 1L).otherwise(0L)), lit(0L)).as("n_verified"))
      }
    // EliminateSorts drops ngramJaccard's presentation sort under the
    // agg; r19: the truth leg shares the sweep's checkpointed shingle
    // pass (ngramJaccardOver) instead of re-materializing it. The
    // 1 << 20 literal is ngramJaccard's own default — the truth leg
    // keeps x3's exact parameters, as the r18 call did.
    val truth = ngramJaccardOver(arrAll, spark, threshold, 1 << 20)
      .agg(count(lit(1)).as("n_true"))
    bandConfigs.toDF("bands")
      .join(per, Seq("bands"), "left")
      .crossJoin(broadcast(truth))
      .select(col("bands"),
        coalesce(col("n_candidates"), lit(0L)).as("n_candidates"),
        coalesce(col("n_verified"), lit(0L)).as("n_verified"),
        col("n_true"))
      .withColumn("precision4",
        when(col("n_candidates") === 0L, lit(null).cast("double"))
          .otherwise(round(col("n_verified").cast("double") / col("n_candidates"), 4)))
      .withColumn("recall4",
        when(col("n_true") === 0L, lit(null).cast("double"))
          .otherwise(round(col("n_verified").cast("double") / col("n_true"), 4)))
      .orderBy("bands")
  }

  /** Ordered candidate pairs (d1 < d2, distinct) from a banded signature
    * relation — the ONE spelling of LSH self-collision bucketing, shared
    * by [[minhashLsh]], [[bandSweep]], [[editNearDup]] and
    * [[seedMatchedCandidates]] (a drifting copy would silently change
    * which candidates one operator sees): bucket by full band signature,
    * then [[guardedPairs]], whose saturation guard converts a mis-sized
    * banding into an actionable failure.
    */
  private def bandCandidates(sig: DataFrame, rowsPerBand: Int, maxBucket: Int): DataFrame =
    guardedPairs(sig, col("band") +: (0 until rowsPerBand).map(r => col(s"m$r")),
        col("doc_id"), maxBucket, "widen the bands (more hashes per band) or raise maxBucket",
        names = ("d1", "d2"))
      .filter(col("d1") < col("d2"))
      .select("d1", "d2")
      .distinct()

  /** Batch-vs-index LSH collision, shared by [[incrementalMinhash]] and
    * [[indexCandidates]]: fresh band rows (`d1`) equi-joined with indexed
    * band rows (`d2`) on the full band key `band, m0..m{r-1}`, as
    * distinct (d1, d2) pairs — the indexed side is never self-joined,
    * and a repeated index row only repeats a collision.
    */
  private def bandJoin(fresh: DataFrame, indexed: DataFrame, rowsPerBand: Int): DataFrame =
    fresh.join(indexed, "band" +: (0 until rowsPerBand).map(r => s"m$r"))
      .select("d1", "d2")
      .distinct()

  /** Band-explode a `(doc_id, mh: array<bigint>)` relation into one row
    * per (doc, band) with the band's hashes as columns `m0..m{r-1}` —
    * the LSH bucketing key of both self-collision ([[bandCandidates]])
    * and batch-vs-index collision ([[bandJoin]]).
    */
  private def bandedSignatures(mh: DataFrame, bands: Int, rowsPerBand: Int): DataFrame =
    mh
      .select(col("doc_id"), explode(array((0 until bands).map(b =>
        struct(lit(b).as("band") +: (0 until rowsPerBand).map(r =>
          col("mh")(b * rowsPerBand + r).as(s"m$r")): _*)): _*)).as("bs"))
      .select(col("doc_id") +: (col("bs.band").as("band") +:
        (0 until rowsPerBand).map(r => col(s"bs.m$r").as(s"m$r"))): _*)

  /** EXT-D7 — cross-batch NEAR-dup dedup: treat odd doc_ids as the fresh
    * crawl and even doc_ids as the existing (already-deduped) corpus, and
    * report each new document that is a near-duplicate (shingle Jaccard ≥
    * `threshold`) of some corpus document — the document to DROP, its best
    * corpus match (highest Jaccard, ties to the lowest doc_id), and the
    * score. The near-dup twin of [[Curation.incrementalDedup]]'s exact
    * digest check.
    *
    * Scale shape — this is the operator an ingest pipeline actually runs:
    * the corpus band signatures are the persisted LSH INDEX (computed once
    * per corpus, not per ingest); the batch computes its own signatures in
    * one narrow pass and equi-joins the index on the band key. The corpus
    * is never self-joined and never re-shingled; candidate verification
    * and the per-new-doc argmax are bounded by collisions, not corpus
    * size.
    */
  def incrementalMinhash(
      spark: SparkSession,
      dir: String,
      numHashes: Int = 16,
      bands: Int = 4,
      threshold: Double = 0.8): DataFrame = {
    val rpb = rowsPerBand(numHashes, bands)
    val (arr, sigs) = minhashSignatures(shingleArrays(spark, dir), numHashes)
    // materialized once: both parity branches consume the signature pass
    // (the md5 minhash computation is the expensive row-local step)
    val sig = bandedSignatures(sigs.localCheckpoint(), bands, rpb)
    val index = sig.filter(col("doc_id") % 2 === 0).withColumnRenamed("doc_id", "d2")
    val fresh = sig.filter(col("doc_id") % 2 === 1).withColumnRenamed("doc_id", "d1")
    verifyJaccard(bandJoin(fresh, index, rpb), arr, threshold)
      .groupBy(col("d1").as("doc_id"))
      // best match row-locally: max struct = highest jaccard, then
      // highest -d2 = lowest corpus doc id
      .agg(max(struct(col("jaccard"), (-col("d2")).as("neg"))).as("best"))
      .select(col("doc_id"), (-col("best.neg")).as("dup_of"), col("best.jaccard").as("jaccard"))
      .orderBy("doc_id")
  }

  /** EXT-D4 — 60-bit SimHash fingerprint per document. Token hash = the
    * top 15 hex chars of md5 (60 bits, sign-safe in a BIGINT); each bit
    * accumulates ±1 per token INSTANCE (equivalent to ±weight per
    * distinct token — the sum is linear); the fingerprint sets bits with
    * positive sums.
    */
  def simhash(spark: SparkSession, dir: String, bits: Int = 60): DataFrame =
    simhashes(spark, dir, bits).orderBy("doc_id")

  /** The (doc_id, simhash) relation without the presentation sort.
    *
    * One narrow projection: the fingerprint is computed row-locally by
    * [[graft.functions.SimHashExpression]] (md5 per token instance + bit
    * sums in a single compiled pass), so NO shuffle touches the token
    * stream at all — banding starts from a doc-count-sized relation.
    * (Two earlier spellings each paid keyed shuffles: a per-(token, bit)
    * explode, then a 60-conditional-sum aggregate.) The repartition
    * spreads the md5 work across cores — the harness file is a single
    * parquet split — at the price of one skinny shuffle of the raw rows;
    * at 100 TB the scan has thousands of splits and it would be dropped.
    */
  private def simhashes(spark: SparkSession, dir: String, bits: Int): DataFrame =
    Tables.documents(spark, dir)
      .repartition(col("doc_id"))
      .select(col("doc_id"), Tables.tokens(col("text")).as("toks"))
      .select(col("doc_id"), graft.functions.SimHash.simhash(col("toks"), bits).as("simhash"))

  /** EXT-D6 — SimHash near-dup pairs at a Hamming-distance threshold via
    * banded bucketing: the 60-bit fingerprint splits into `bands`
    * equal-width bands; pairs colliding on any band become candidates;
    * candidates are filtered by exact Hamming distance. EXACT for
    * `maxHamming ≤ bands − 1` by pigeonhole (≤ bands−1 differing bits
    * cannot dirty all `bands` bands, so some band matches). Same
    * bucket-local pair generation as the LSH operators — the fingerprint
    * relation is computed once and never self-joined.
    */
  def simhashNearDup(
      spark: SparkSession,
      dir: String,
      maxHamming: Int = 4,
      bands: Int = 5,
      bits: Int = 60,
      maxBucket: Int = 1 << 20): DataFrame =
    simhashNearDupPairs(spark, dir, maxHamming, bands, bits, maxBucket).orderBy("d1", "d2")

  /** The near-dup pair relation WITHOUT the presentation sort — consumers
    * that aggregate or join the pairs (cluster resolution) skip the
    * global sort exchange entirely. `private[graft]` so the scale-stress
    * suite can pin its plan shape at 10× bench scale.
    */
  private[graft] def simhashNearDupPairs(
      spark: SparkSession,
      dir: String,
      maxHamming: Int = 4,
      bands: Int = 5,
      bits: Int = 60,
      maxBucket: Int = 1 << 20): DataFrame = {
    require(maxHamming <= bands - 1, "banding is only exact for maxHamming <= bands - 1")
    val bandBits = bits / bands
    val mask = (1L << bandBits) - 1
    val banded = simhashes(spark, dir, bits)
      .select(col("doc_id"), col("simhash"), explode(sequence(lit(0), lit(bands - 1))).as("b"))
      .withColumn("band_val", expr(s"shiftright(simhash, int(b * $bandBits)) & $mask"))
    // streaming pair expansion ([[guardedPairs]]). Scale note: 12-bit
    // bands saturate as the corpus approaches 4096·|avg bucket| docs —
    // widen bandBits (fewer, wider bands) with the corpus, keeping
    // maxHamming ≤ bands−1 for exactness.
    guardedPairs(banded, Seq(col("b"), col("band_val")),
        struct(col("doc_id"), col("simhash")), maxBucket,
        "widen bandBits (fewer, wider bands) or raise maxBucket")
      .filter(col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("d1"), col("y.doc_id").as("d2"),
        expr("CAST(bit_count(x.simhash ^ y.simhash) AS BIGINT)").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Band signatures for ANY (doc_id, text) relation — the row unit of
    * the persisted LSH INDEX that [[incrementalMinhash]] probes and the
    * streaming maintainer appends per microbatch. One narrow projection
    * (shingles → 16 minhashes → band structs); documents with no
    * shingles (< k tokens) are excluded, exactly as the batch pipeline
    * excludes them.
    *
    * The rows CARRY their (num_hashes, bands) parameters — the same
    * bundling contract as [[Curation.BloomIndex]]'s (m, k): signatures
    * from different parameter choices can share a column-compatible
    * shape (any pair with equal rowsPerBand) while comparing hashes from
    * different seed ranges, which would silently drop true candidates.
    * [[indexCandidates]] validates them at probe time.
    */
  def bandSignatures(docs: DataFrame, numHashes: Int = 16, bands: Int = 4): DataFrame = {
    val rpb = rowsPerBand(numHashes, bands)
    val (_, mh) = minhashSignatures(
      docs.select(col("doc_id"), Tables.shingles(Tables.tokens(col("text"))).as("shs")),
      numHashes)
    bandedSignatures(mh, bands, rpb)
      .withColumn("num_hashes", lit(numHashes))
      .withColumn("bands", lit(bands))
  }

  /** The read schema of [[bandSignatures]] rows at its default
    * (numHashes, bands) = (16, 4), the layout the streaming LSH
    * maintainer appends. */
  private[graft] val BandSignatures = "doc_id BIGINT, band INT, m0 BIGINT, m1 BIGINT, " +
    "m2 BIGINT, m3 BIGINT, num_hashes INT, bands INT"

  /** EXT-D11 — duplicated-SPAN detection: per document, the maximal
    * token spans whose every k-token window also occurs elsewhere in the
    * corpus (or again in the same document) — the distributed
    * approximation of suffix-array exact-substring dedup: fixed-length
    * window fingerprints, corpus frequency, then adjacent duplicated
    * positions merged into maximal spans. Document-level near-dup misses
    * these (a unique page quoting three boilerplate paragraphs is not a
    * near-dup of anything); span-level detection finds the paragraphs.
    *
    * Plan: one window-fingerprint stream (position-preserving, so the
    * distinct-shingle expression does not apply —
    * [[graft.functions.WindowHashesExpression]] compiles the per-position
    * md5 pass and emits 60-bit longs; linear in corpus tokens),
    * materialized once for the frequency pass and the join back; then
    * the sessionize trick merges adjacent positions — gap flag → running
    * sum → span agg — all three sharing ONE doc_id shuffle. Output:
    * (doc_id, span_id, start_pos, span_tokens), 1-based token positions.
    */
  def dupSpans(spark: SparkSession, dir: String, k: Int = 8, minDf: Int = 2): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k >= 1 && minDf >= 2, s"need k >= 1 (got $k) and minDf >= 2 (got $minDf)")
    val w = Tables.documents(spark, dir)
      .select(col("doc_id"), Tables.tokens(col("text")).as("ts"))
      .select(col("doc_id"),
        posexplode(graft.functions.WindowHashes.windowHashes(col("ts"), k)))
      .select(col("doc_id"), (col("pos") + 1).cast("long").as("p"), col("col").as("h"))
      .localCheckpoint() // consumed by the frequency pass AND the join back
    val hot = w.groupBy("h").agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDf).select("h")
    val win = Window.partitionBy("doc_id").orderBy("p")
    val run = Window.partitionBy("doc_id").orderBy("p")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    w.join(hot, "h")
      .select("doc_id", "p")
      .withColumn("brk", when(col("p") - lag("p", 1).over(win) === 1, 0L).otherwise(1L))
      .withColumn("span_id", sum("brk").over(run))
      .groupBy("doc_id", "span_id")
      .agg(min("p").as("start_pos"), (max(col("p")) - min(col("p")) + k).as("span_tokens"))
      .orderBy("doc_id", "span_id")
  }

  /** EXT-D12 — winnowed document fingerprints (Schleimer/Wilkerson/Aiken's
    * MOSS winnowing): per document, the k-gram hash stream of [[dupSpans]]
    * reduced to the MINIMUM hash of every sliding window of `wWin`
    * consecutive grams, deduplicated — a fingerprint set whose density is
    * ~2/(wWin+1) of the gram stream yet GUARANTEES that any copied span
    * of ≥ k+wWin−1 tokens shares at least one fingerprint between the
    * copies (the winnowing theorem: every window of the copy selects the
    * same local minimum). The storage/recall dial that x53's full
    * hot-gram pass does not have: x53 keeps every duplicated position,
    * winnowing keeps a guaranteed-coverage sample.
    *
    * Plan: one [[graft.functions.WindowHashesExpression]] pass (linear in
    * corpus tokens), then two window functions over the SAME
    * doc_id-partitioned sort — the per-doc gram count and the frame
    * minimum — so the whole selection rides one doc_id shuffle; documents
    * are bounded-length, so per-doc windows never concentrate data. The
    * final distinct is a fingerprint-keyed partial agg.
    */
  def winnowFingerprints(
      spark: SparkSession,
      dir: String,
      k: Int = 8,
      wWin: Int = 4): DataFrame =
    winnowSignatures(Tables.documents(spark, dir), k, wWin).select("doc_id", "h")

  /** The relation form of [[winnowFingerprints]], stamped with its
    * `(win_k, win_w)` parameters — the [[bandSignatures]] bundling
    * contract: winnowed fingerprints selected under different (k, wWin)
    * hash DIFFERENT gram strings, so matching across parameterizations
    * silently drops true copies (a false-negative hazard, same as a
    * mis-parameterized LSH index). This is the unit the streaming index
    * maintainer appends and [[winnowCandidates]] validates.
    */
  def winnowSignatures(docs: DataFrame, k: Int = 8, wWin: Int = 4): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k >= 1 && wWin >= 1, s"need k >= 1 (got $k) and wWin >= 1 (got $wWin)")
    val grams = docs
      .select(col("doc_id"), Tables.tokens(col("text")).as("ts"))
      .select(col("doc_id"),
        posexplode(graft.functions.WindowHashes.windowHashes(col("ts"), k)))
      .select(col("doc_id"), (col("pos") + 1).cast("long").as("p"), col("col").as("h"))
    val frame = Window.partitionBy("doc_id").orderBy("p")
      .rowsBetween(Window.currentRow, wWin - 1L)
    val perDoc = Window.partitionBy("doc_id")
    grams
      .withColumn("maxp", max("p").over(perDoc))
      .withColumn("minh", min("h").over(frame))
      // only full windows select: starts beyond maxp−(wWin−1) would
      // re-select a suffix minimum the last full window already took
      .filter(col("p") <= col("maxp") - (wWin - 1L))
      .select(col("doc_id"), col("minh").as("h"))
      .distinct()
      .withColumn("win_k", lit(k))
      .withColumn("win_w", lit(wWin))
  }

  /** The read schema of [[winnowSignatures]] rows. */
  private[graft] val WinnowSignatures = "doc_id BIGINT, h BIGINT, win_k INT, win_w INT"

  /** EXT-D12 probe — fresh documents against a PERSISTED winnow index
    * (the relation [[winnowSignatures]] emits and
    * [[graft.streaming.StreamOps.maintainWinnowIndex]] keeps current):
    * candidate pairs `(d1 = fresh doc, d2 = indexed doc, n_shared)` by
    * shared winnowed fingerprints — [[indexCandidates]]'s span-level
    * twin, with the same stamp validation (a mismatched or null-stamped
    * index is REFUSED — false-negative hazard, must fail loudly).
    *
    * Because `n_shared` is a COUNT, the at-least-once maintenance
    * contract (replayed appends duplicate index rows) is absorbed by a
    * distinct on the indexed side BEFORE counting — without it a replay
    * would inflate match strengths; with it the output is replay-
    * immune, not merely replay-tolerant.
    */
  def winnowCandidates(
      freshDocs: DataFrame,
      index: DataFrame,
      k: Int = 8,
      wWin: Int = 4): DataFrame = {
    require(index.columns.contains("win_k") && index.columns.contains("win_w"),
      "index does not carry its (win_k, win_w) parameters — rebuild it with winnowSignatures")
    val params = index.select("win_k", "win_w").distinct().collect()
      .map(r => if (r.isNullAt(0) || r.isNullAt(1)) None else Some((r.getInt(0), r.getInt(1))))
    require(params.forall(_.isDefined),
      "index contains null (win_k, win_w) stamps — provenance unknowable, rebuild it")
    require(params.flatten.toSet == Set((k, wWin)),
      s"index was winnowed under ${params.flatten.mkString(",")}, probe expects ($k,$wWin)")
    val fresh = winnowSignatures(freshDocs, k, wWin).select(col("doc_id").as("d1"), col("h"))
    val indexed = index.select(col("doc_id").as("d2"), col("h")).distinct()
    fresh.join(indexed, "h")
      .filter(col("d1") =!= col("d2"))
      .groupBy("d1", "d2")
      .agg(count(lit(1)).as("n_shared"))
      .orderBy("d1", "d2")
  }

  /** EXT-D12 match step — candidate document pairs by shared winnowed
    * fingerprints, with the shared-fingerprint count as the match
    * strength (the MOSS report relation). Sub-quadratic by the same
    * argument as every band join in this file: pairs arise only from an
    * equi-join on selected fingerprints, never from doc×doc; a pair's
    * count is bounded by its fingerprint sets, and the guarantee above
    * means no copy of ≥ k+wWin−1 tokens can be missed. Downstream exact
    * verification (fetch both texts, extend the span) is the caller's
    * step, as with [[indexCandidates]].
    */
  def winnowMatches(
      spark: SparkSession,
      dir: String,
      k: Int = 8,
      wWin: Int = 4): DataFrame = {
    val fp = winnowFingerprints(spark, dir, k, wWin).localCheckpoint()
    fp.select(col("doc_id").as("d1"), col("h"))
      .join(fp.select(col("doc_id").as("d2"), col("h")), "h")
      .filter(col("d1") < col("d2"))
      .groupBy("d1", "d2")
      .agg(count(lit(1)).as("n_shared"))
      .orderBy("d1", "d2")
  }

  /** The READ half of the persisted-index loop: probe the LSH index with
    * a fresh batch, returning the candidate pairs (`d1` = fresh doc,
    * `d2` = indexed doc) whose band signatures collide. `index` is the
    * relation [[bandSignatures]] emits and
    * [[graft.streaming.StreamOps.maintainLshIndex]] keeps current — the
    * indexed side's signatures are never recomputed, which is the entire
    * point of persisting them. Exact verification of the candidates
    * (shingle Jaccard, fetching text by `d2` from the corpus store) is
    * the caller's downstream step, exactly as [[incrementalMinhash]]
    * verifies its parity-derived candidates. Duplicate index rows (the
    * at-least-once maintenance contract) only repeat collisions — the
    * final `distinct` absorbs them.
    *
    * The probe VALIDATES the index's bundled (num_hashes, bands) against
    * its own before joining: an index built under different parameters
    * can be column-compatible with the probe (equal rowsPerBand, e.g.
    * 8/2 vs 16/4) while its hashes come from different seed ranges —
    * collisions would then be md5-coincidence only, silently dropping
    * true candidates. That is a false-NEGATIVE hazard, so it must fail
    * loudly, mirroring [[Curation.BloomIndex]]'s (m, k) bundling. The
    * validation scan is metadata-scale (a distinct over two constant
    * columns, partial-aggregated to ≤ one row per partition).
    */
  def indexCandidates(
      freshDocs: DataFrame,
      index: DataFrame,
      numHashes: Int = 16,
      bands: Int = 4): DataFrame = {
    val rpb = rowsPerBand(numHashes, bands)
    require(index.columns.contains("num_hashes") && index.columns.contains("bands"),
      "index does not carry its (num_hashes, bands) parameters — rebuild it with bandSignatures")
    // null params = a pre-stamping index file appended to by a stamped
    // maintainer (mixed parquet schemas): those rows' provenance is
    // unknowable, which is the same false-negative hazard as a mismatch
    val params = index.select("num_hashes", "bands").distinct().collect()
      .map(r => if (r.isNullAt(0) || r.isNullAt(1)) None else Some((r.getInt(0), r.getInt(1))))
    require(params.forall(_.isDefined),
      "index mixes parameter-stamped and unstamped rows (legacy files appended to " +
        "by a stamped maintainer?) — rebuild it with bandSignatures")
    require(params.isEmpty || params.flatten.sameElements(Array((numHashes, bands))),
      s"index was built with (num_hashes, bands) = ${params.flatten.mkString(", ")}; " +
        s"probing with ($numHashes, $bands) would silently drop true candidates")
    bandJoin(
      bandSignatures(freshDocs, numHashes, bands).withColumnRenamed("doc_id", "d1")
        .drop("num_hashes", "bands"),
      index.withColumnRenamed("doc_id", "d2").drop("num_hashes", "bands"),
      rpb)
  }

  /** EXT-D10 — LSH estimator calibration: for every band-colliding
    * candidate pair, the MinHash collision estimate (`matching seeds /
    * numHashes`) next to the EXACT shingle Jaccard and the absolute
    * error. This is how the banding is tuned on real corpora — the
    * estimator's error distribution on actual candidates (not the
    * textbook variance) decides whether 16 hashes suffice or 64 are
    * needed — and it reuses the production relations: the candidates,
    * seed-match counts and exact overlaps are [[seedMatchedCandidates]],
    * verified on candidates only, the same candidates-only discipline
    * as [[minhashLsh]] itself.
    */
  def lshCalibration(
      spark: SparkSession,
      dir: String,
      numHashes: Int = 16,
      bands: Int = 4,
      maxBucket: Int = 1 << 20): DataFrame =
    seedMatchedCandidates(spark, dir, numHashes, bands, maxBucket)
      .withColumn("est_jaccard", col("n_match").cast("double") / numHashes)
      .withColumn("abs_err", abs(col("est_jaccard") - col("jaccard")))
      .select("d1", "d2", "n_match", "est_jaccard", "jaccard", "abs_err")
      .orderBy("d1", "d2")

  /** The candidate stage of the two MinHash ESTIMATOR audits,
    * [[lshCalibration]] (x52) and [[containmentEstimate]] (x125): every
    * LSH band candidate (d1 < d2) with its seed-match count `n_match`
    * and its exact shingle overlap (`inter`, `n1`, `n2`, `jaccard` from
    * [[verifyJaccard]] at threshold 0), keeping pairs that share at
    * least one shingle — a pair sharing none arises only from a raw md5
    * value collision, and both engines derive pairs from shared content.
    * Signatures are materialized once and feed the banding AND both
    * sides of the match join; exact overlap runs on candidates only.
    *
    * The seed-match count is an interpreted `zip_with` lambda ON
    * CANDIDATE PAIRS ONLY — a numHashes-element array op per surviving
    * pair, not a per-token hot path (the codegen-expression rule
    * targets the latter).
    */
  private def seedMatchedCandidates(
      spark: SparkSession,
      dir: String,
      numHashes: Int,
      bands: Int,
      maxBucket: Int): DataFrame = {
    val rpb = rowsPerBand(numHashes, bands)
    val (arr, mh) = minhashSignatures(shingleArrays(spark, dir), numHashes)
    val sigs = mh.localCheckpoint() // consumed by the banding and twice by the match join
    val candidates = bandCandidates(bandedSignatures(sigs, bands, rpb), rpb, maxBucket)
      .join(sigs.select(col("doc_id").as("d1"), col("mh").as("mh1")), "d1")
      .join(sigs.select(col("doc_id").as("d2"), col("mh").as("mh2")), "d2")
      .withColumn("n_match",
        expr("aggregate(zip_with(mh1, mh2, (x, y) -> IF(x = y, 1L, 0L)), 0L, (a, v) -> a + v)"))
      .select("d1", "d2", "n_match")
    verifyJaccard(candidates, arr, threshold = 0.0)
      .filter(col("inter") >= 1)
  }

  /** EXT-D9 — near-dup DEGREE per document: how many near-duplicate
    * partners each document has under the SimHash Hamming criterion.
    * High-degree documents are hubs — templated/boilerplate content
    * duplicated across many pages that pairwise dedup alone understates
    * (a 500-copy template is 499 pairs but ONE decision). One symmetric
    * union of the verified pair relation and a partial-agg count; the
    * pair pipeline is materialized once, not re-run per direction.
    */
  def dupDegree(spark: SparkSession, dir: String): DataFrame = {
    val pairs = simhashNearDupPairs(spark, dir).localCheckpoint()
    pairs.select(col("d1").as("doc_id"))
      .union(pairs.select(col("d2").as("doc_id")))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("degree"))
      .orderBy("doc_id")
  }

  /** EXT-D8 — corpus-slice similarity via MinHash SKETCH AGGREGATION:
    * estimated shingle-set Jaccard between every pair of `source` slices,
    * from a per-slice sketch of `numHashes` longs. The sketch property
    * that makes this a constant-state aggregate: min-hash composes under
    * set union (`minhash(A ∪ B) = min(minhash(A), minhash(B))`), so the
    * per-slice sketch is a plain `min` aggregation over the per-document
    * signatures — partial-agg collapses each map partition to one
    * sketch row per slice before the shuffle, and the final sketch
    * relation is |slices| × numHashes rows no matter how many documents
    * (or TB) each slice holds. The pairwise comparison then runs on
    * sketches alone — the full-fidelity alternative (pairwise distinct-
    * shingle intersections between slices) is a corpus-sized self-join.
    *
    * Estimator: `est_jaccard = matching seeds / numHashes` (one IEEE
    * division; the textbook unbiased MinHash collision estimate).
    */
  def sourceSimilarity(spark: SparkSession, dir: String, numHashes: Int = 16): DataFrame = {
    val perDoc = Tables.documents(spark, dir)
      .select(col("source"), Tables.shingles(Tables.tokens(col("text"))).as("shs"))
      .filter(size(col("shs")) > 0)
      .select(col("source"),
        posexplode(graft.functions.MinHashes.minhashes(col("shs"), numHashes)))
      .select(col("source"), col("pos").as("seed"), col("col").as("mh"))
    val sketch = perDoc.groupBy("source", "seed").agg(min(col("mh")).as("mh"))
    val a = sketch.select(col("source").as("source_a"), col("seed"), col("mh").as("mha"))
    val b = sketch.select(col("source").as("source_b"), col("seed"), col("mh").as("mhb"))
    a.join(b, Seq("seed")).filter(col("source_a") < col("source_b"))
      .groupBy("source_a", "source_b")
      .agg(count(when(col("mha") === col("mhb"), lit(1))).as("n_match"))
      .withColumn("est_jaccard", col("n_match").cast("double") / numHashes)
      .orderBy("source_a", "source_b")
  }

  /** EXT-D13 — segment-level dedup REPAIR (the RefinedWeb/CCNet
    * line-dedup pass, adapted to this corpus's single-line documents):
    * cut each document into non-overlapping `segTokens`-token segments,
    * census segment content across the corpus, and REBUILD every
    * document with the segments that appear in ≥ `minDocs` DISTINCT
    * documents removed. Unlike the pair-producing dedup family this one
    * returns the corpus fixed, not diagnosed — the x71 repair idea at
    * sub-document granularity (boilerplate headers/footers/navigation
    * are segment-level duplicates inside otherwise-unique pages, so
    * whole-document dedup never sees them).
    *
    * `minDocs` counts DISTINCT documents on purpose: a segment repeated
    * within ONE document is self-repetition (x20's signal, a quality
    * matter), not cross-document boilerplate, and survives the repair.
    *
    * Shape: one segment stream (row-local `sequence`+`explode`+`slice`,
    * the x38 chunker at stride = size), materialized once for its three
    * consumers; the boilerplate census is a hash-partitioned agg on the
    * segment digest (x1's shape at segment granularity — partial agg
    * collapses repeats map-side); repair is a LEFT ANTI against the
    * census survivors plus one doc_id-keyed rebuild whose
    * `collect_list` buffer is bounded by segments-per-document, never
    * corpus-sized. Nothing pairs documents; every shuffle is keyed by
    * digest or doc_id. The rebuild's order key is the segment start —
    * `array_sort` on (start, text) structs makes the concatenation
    * deterministic under any shuffle order.
    */
  def segmentRepair(
      spark: SparkSession,
      dir: String,
      segTokens: Int = 10,
      minDocs: Long = 2L): DataFrame = {
    require(minDocs >= 2, "minDocs >= 2")
    val segs = segmentStream(Tables.documents(spark, dir), segTokens)
      .localCheckpoint() // census + both repair sides re-read it
    val boiler = segs.groupBy("h")
      .agg(countDistinct("doc_id").as("nd"))
      .filter(col("nd") >= minDocs)
      .select("h")
    rebuildWithout(segs, boiler)
      .select(
        col("doc_id"), col("n_seg"), col("n_dropped"),
        md5(col("repaired")).as("repaired_digest"))
      .orderBy("doc_id")
  }

  /** The (doc_id, s, seg, h) segment stream shared by [[segmentRepair]]
    * and the index builders: non-overlapping `segTokens`-token segments
    * with 1-based starts, segment text, and its md5. Row-local
    * `sequence`+`explode`+`slice` — no shuffle.
    */
  private[operators] def segmentStream(docs: DataFrame, segTokens: Int): DataFrame = {
    require(segTokens > 0, "segTokens > 0")
    docs
      .select(col("doc_id"), Tables.tokens(col("text")).as("toks"))
      .select(col("doc_id"), size(col("toks")).cast("long").as("n"), col("toks"))
      .select(col("doc_id"), col("toks"),
        explode(sequence(lit(1L), col("n"), lit(segTokens.toLong))).as("s"))
      .select(col("doc_id"), col("s"),
        concat_ws(" ", slice(col("toks"), col("s"), lit(segTokens))).as("seg"))
      .withColumn("h", md5(col("seg")))
  }

  /** Rebuild each document from `segs` minus the segments whose hash is
    * in `boiler(h)`: per doc, `n_seg`, `n_dropped`, and the repaired
    * text (segments re-concatenated in start order — `array_sort` on
    * (start, text) structs makes the order shuffle-independent; the
    * `collect_list` buffer is bounded by segments-per-document).
    * Documents losing every segment repair to the empty string.
    */
  private def rebuildWithout(segs: DataFrame, boiler: DataFrame): DataFrame = {
    val rebuilt = segs.join(boiler.select("h"), Seq("h"), "left_anti")
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_kept"),
        array_join(
          transform(
            array_sort(collect_list(struct(col("s"), col("seg")))),
            x => x.getField("seg")),
          " ").as("repaired"))
    segs.groupBy("doc_id").agg(count(lit(1)).as("n_seg"))
      .join(rebuilt, Seq("doc_id"), "left")
      .select(
        col("doc_id"), col("n_seg"),
        (col("n_seg") - coalesce(col("n_kept"), lit(0L))).as("n_dropped"),
        coalesce(col("repaired"), lit("")).as("repaired"))
  }

  /** The per-document segment-hash relation a streaming maintainer
    * appends (EXT-6p): `(doc_id, h)` distinct per document, stamped with
    * its `seg_tokens` so a probe under different segmentation is refused
    * rather than silently wrong — the [[winnowSignatures]] /
    * [[bandSignatures]] stamp contract. Distinct-per-doc keeps the index
    * minimal; the census downstream counts DISTINCT doc_ids anyway, so
    * at-least-once replay appends change nothing (replay-IMMUNE, not
    * merely tolerant).
    */
  def segmentSignatures(docs: DataFrame, segTokens: Int = 10): DataFrame =
    segmentStream(docs, segTokens)
      .select("doc_id", "h")
      .distinct()
      .withColumn("seg_tokens", lit(segTokens))

  /** The read schema of [[segmentSignatures]] rows. */
  private[graft] val SegmentSignatures = "doc_id BIGINT, h STRING, seg_tokens INT"

  /** The probe half of EXT-6p: repair `docs` against a maintained
    * segment index — a segment is boilerplate when the INDEX has seen it
    * in ≥ `minDocs` distinct documents. Returns (doc_id, n_seg,
    * n_dropped, repaired) with the repaired TEXT (the streaming consumer
    * wants the fixed document, not a digest).
    *
    * At-ingest semantics, same as every index probe in this family: the
    * census is as of the last maintained batch, so a segment that only
    * BECOMES boilerplate later repairs later arrivals, not documents
    * already emitted. The probing batch's own segments are not counted
    * unless the maintainer has already consumed that batch.
    */
  def repairAgainstIndex(
      docs: DataFrame,
      index: DataFrame,
      segTokens: Int = 10,
      minDocs: Long = 2L): DataFrame = {
    require(minDocs >= 2, "minDocs >= 2")
    require(index.columns.contains("seg_tokens"),
      "index does not carry its seg_tokens parameter — rebuild it with segmentSignatures")
    val params = index.select("seg_tokens").distinct().collect()
      .map(r => if (r.isNullAt(0)) None else Some(r.getInt(0)))
    require(params.forall(_.isDefined),
      "index contains null seg_tokens stamps — provenance unknowable, rebuild it")
    require(params.flatten.toSet == Set(segTokens),
      s"index was segmented under ${params.flatten.mkString(",")}, probe expects $segTokens")
    val boiler = index.groupBy("h")
      .agg(countDistinct("doc_id").as("nd"))
      .filter(col("nd") >= minDocs)
      .select("h")
    rebuildWithout(segmentStream(docs, segTokens).localCheckpoint(), boiler)
      .orderBy("doc_id")
  }

  /** EXT-D14 (`x111_edit_dedup`) — edit-distance near-dup verification:
    * LSH band candidates re-scored by EXACT character Levenshtein
    * distance, with the normalized similarity `1 − dist/max(len)` and a
    * keep/near-dup verdict. Jaccard (x2/x3) treats a document as a
    * shingle SET — it cannot see a one-character diff from a reordering,
    * and it under-scores short texts where a single token swap moves the
    * set a lot; edit distance is the order-sensitive, character-exact
    * metric real pipelines use for the SHORT-text tail (titles, queries,
    * table rows) after the set metric has pruned candidates.
    *
    * Candidates come from the ONE shared LSH spelling
    * ([[bandCandidates]] over [[minhashLsh]]'s banded signatures — a
    * drifting copy would change which pairs get verified); texts join
    * back by id (the candidate relation is bounded by band selectivity,
    * so AQE broadcasts it into both probes); `levenshtein` is Spark's
    * codegen'd expression and DuckDB's built-in — the same dynamic
    * program in both engines, so distances hash-match exactly. The
    * `both-empty` corner reports sim 1.0 by the div-guard convention
    * (dist 0 over max-len 0).
    *
    * Scale: nothing here is pairwise beyond the banded candidates; the
    * Levenshtein itself is row-local O(len²) per PAIR — the honest cost
    * bound, which is why this belongs after LSH pruning and on
    * short-text corpora (for book-length docs the span/segment family
    * x53/x84 is the right tool, documented there).
    */
  def editNearDup(
      spark: SparkSession,
      dir: String,
      numHashes: Int = 16,
      bands: Int = 4,
      minSim: Double = 0.5,
      maxBucket: Int = 1 << 20): DataFrame = {
    val rpb = rowsPerBand(numHashes, bands)
    val (_, mh) = minhashSignatures(shingleArrays(spark, dir), numHashes)
    // spread the verify (r18): bandCandidates' distinct output is a
    // byte-tiny AQE-coalesced exchange, but each surviving pair pays an
    // O(len²) levenshtein — the whole verify otherwise runs in one
    // task. The repartition moves only (d1, d2) pairs; bandCandidates
    // itself (shared with x2 and x52) is untouched.
    val cand = bandCandidates(bandedSignatures(mh, bands, rpb), rpb, maxBucket)
      .repartition(spark.sparkContext.defaultParallelism)
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"), length(col("text")).cast("long").as("len"))
    val g = greatest(col("len1"), col("len2"))
    cand
      .join(docs.select(col("doc_id").as("d1"), col("text").as("t1"), col("len").as("len1")), Seq("d1"))
      .join(docs.select(col("doc_id").as("d2"), col("text").as("t2"), col("len").as("len2")), Seq("d2"))
      .select(col("d1"), col("d2"), col("len1"), col("len2"),
        levenshtein(col("t1"), col("t2")).cast("long").as("dist"))
      .withColumn("edit_sim4",
        round(when(g === 0L, 1.0)
          .otherwise(lit(1.0) - col("dist").cast("double") / g), 4))
      .withColumn("near_dup", col("edit_sim4") >= minSim)
      .orderBy("d1", "d2")
  }

  /** EXT-D15 (`x116_containment`) — set-CONTAINMENT join: all pairs
    * where the smaller document's shingle set lies ≥ `threshold` inside
    * the larger one's (`inter / min(n1, n2) ≥ t`), with the exact
    * intersection and both sizes. The truncated-copy detector: an
    * article and its excerpt have containment ~1.0 but Jaccard
    * ~|A|/|B|, so the symmetric-metric family (x2/x3/x111) structurally
    * under-scores exactly the duplicates produced by snippet extraction,
    * pagination, and feed truncation. Published dedup pipelines treat
    * containment as its own pass for this reason.
    *
    * Exactness argument (containment-PPJoin): if `inter ≥ ⌈t·n_s⌉` for
    * the smaller set A, then A's elements OUTSIDE its first
    * `n_s − ⌈t·n_s⌉ + 1` elements (under the global df-asc/shingle
    * order — x3's prefix order) number `⌈t·n_s⌉ − 1 < inter`, so at
    * least one intersecting shingle lies in A's prefix — and it lies
    * somewhere in B's FULL set. Hence probing every document's prefix
    * against the FULL inverted index is lossless for the `c ≥ t`
    * verdict; verification is exact (`IntersectSize` on the shingle
    * arrays). Unlike x3 there is no symmetric length filter — that is
    * the point: the large side may be arbitrarily larger.
    *
    * Scale: the full postings relation is the same structure as the
    * BM25 index (x69) — linear in corpus tokens; pair expansion is
    * prefix-entries × posting-list per shingle, kept row-local by the
    * grouped-explode shape, skew-bounded by the df-asc prefix choice
    * (near-universal shingles land in prefixes only for tiny documents)
    * plus the same saturation guard as every bucket expansion here.
    * Smaller-side-probes canonicalization halves the candidate stream.
    */
  def containmentJoin(
      spark: SparkSession,
      dir: String,
      threshold: Double = 0.9,
      maxBucket: Int = 1 << 20): DataFrame = {
    val arr = shingleArrays(spark, dir).filter(col("n") > 0)
    val (ranked, inPrefix) = prefixRanked(arr, threshold)
    val postings = ranked
      .select(col("doc_id"), col("n"), col("shingle"), inPrefix.as("in_prefix"))
    // x is the PROBE (the smaller side, ties by id — each unordered pair
    // is generated in exactly one role), taken from prefix entries only;
    // y ranges over the FULL posting list, so the large side needs no
    // prefix at all
    // exact-N keyed repartitions (r18): same post-shuffle AQE-collapse
    // fix as ngramJaccard — the pair expansion and the IntersectSize
    // verify otherwise run single-task downstream of byte-tiny
    // exchanges; the aggregation/distinct reuse the partitioning, so no
    // exchange is added
    val par = spark.sparkContext.defaultParallelism
    val candidates = guardedPairs(
        postings.repartition(par, col("shingle")), Seq(col("shingle")),
        struct(col("doc_id"), col("n"), col("in_prefix")), maxBucket, hotPostingKnob,
        probes = Some(col("x.in_prefix")))
      .filter(col("x.n") < col("y.n") ||
        (col("x.n") === col("y.n") && col("x.doc_id") < col("y.doc_id")))
      .select(col("x.doc_id").as("d_small"), col("y.doc_id").as("d_large"))
      .repartition(par, col("d_small"), col("d_large"))
      .distinct()
    candidates
      .join(arr.select(col("doc_id").as("d_small"), col("shs").as("sh1"),
        col("n").cast("long").as("n_small")), "d_small")
      .join(arr.select(col("doc_id").as("d_large"), col("shs").as("sh2"),
        col("n").cast("long").as("n_large")), "d_large")
      .withColumn("inter",
        graft.functions.IntersectSize.intersectSize(col("sh1"), col("sh2")))
      .withColumn("containment", col("inter").cast("double") / col("n_small"))
      .filter(col("containment") >= threshold)
      .select("d_small", "d_large", "inter", "n_small", "n_large", "containment")
      .orderBy("d_small", "d_large")
  }

  /** EXT-D16 (`x125_containment_estimate`) — MinHash containment
    * ESTIMATOR calibration: for every LSH band candidate, the
    * signature-estimated containment against the exact one. Jaccard is
    * what a MinHash signature estimates directly (`Ĵ = m/H`), but the
    * asymmetric metric x116 verifies exactly is derivable from it —
    * `inter = J·(n1+n2)/(1+J)` inverts the Jaccard identity, so
    * `Ĉ = m·(n1+n2) / ((H+m)·n_small)` — and this audit measures, on
    * real candidates, whether the derived estimator is sharp enough to
    * pre-rank the containment-PPJoin's verify queue (x52's question,
    * asked of x116's metric). The estimate is spelled as ONE IEEE
    * division of exact BIGINT products, so both engines compute the
    * identical double; `abs_err` subtracts two such divisions —
    * deterministic on identical operands. The estimator is NOT clamped
    * at 1: with sizes far apart, `Ĉ > 1` is the estimator's real bias
    * for truncated copies, and reporting it raw is the audit's point.
    *
    * Pairs are x52's: the candidates come from the stage the two audits
    * share ([[seedMatchedCandidates]]: band candidates that share at
    * least one shingle, `inter ≥ 1`), canonicalized to x116's
    * (d_small, d_large) orientation.
    */
  def containmentEstimate(
      spark: SparkSession,
      dir: String,
      numHashes: Int = 16,
      bands: Int = 4,
      maxBucket: Int = 1 << 20): DataFrame = {
    val smallFirst = col("n1") < col("n2") ||
      (col("n1") === col("n2") && col("d1") < col("d2"))
    seedMatchedCandidates(spark, dir, numHashes, bands, maxBucket)
      .select(
        when(smallFirst, col("d1")).otherwise(col("d2")).as("d_small"),
        when(smallFirst, col("d2")).otherwise(col("d1")).as("d_large"),
        least(col("n1"), col("n2")).as("n_small"),
        greatest(col("n1"), col("n2")).as("n_large"),
        col("n_match"), col("inter"))
      .withColumn("est_containment",
        (col("n_match") * (col("n_small") + col("n_large"))).cast("double") /
          ((lit(numHashes.toLong) + col("n_match")) * col("n_small")))
      .withColumn("containment", col("inter").cast("double") / col("n_small"))
      .withColumn("abs_err", abs(col("est_containment") - col("containment")))
      .select("d_small", "d_large", "n_small", "n_large", "n_match",
        "est_containment", "containment", "abs_err")
      .orderBy("d_small", "d_large")
  }

  /** Content-defined chunks of every document — the CDC (Rabin/Gear
    * lineage) boundary rule over the ONE positioned k-gram hash stream
    * the span family compiles ([[graft.functions.WindowHashesExpression]]
    * — same 60-bit md5 hash, same 1-based positions as x53/x81): a
    * chunk boundary falls AFTER token q wherever the k-gram hash at
    * position q is ≡ 0 (mod `divisor`), so expected chunk length is
    * ~`divisor` tokens and, crucially, boundaries depend only on LOCAL
    * content — an edit reshapes only the chunks it touches, and the
    * boundary stream RESYNCS at the first unaffected boundary (the
    * property fixed-stride chunking (x38) structurally lacks: one
    * inserted token shifts every downstream x38 chunk). Entirely
    * row-local (compiled hash pass + higher-order array functions + one
    * explode): zero shuffles at any corpus size.
    *
    * Output: `(doc_id, source, chunk_idx, start_pos, n_tokens, digest)`
    * with 1-based token positions; a document shorter than `k` has no
    * gram hashes and is one whole-document chunk.
    */
  def cdcChunks(
      docs: DataFrame,
      k: Int = 4,
      divisor: Long = 16L,
      carry: Seq[String] = Nil): DataFrame = {
    require(k >= 2, s"k ($k) must be >= 2 (a 1-token gram can bound an empty chunk)")
    require(divisor >= 2, s"divisor ($divisor) must be >= 2")
    val carryCols = carry.map(col)
    docs
      .select(col("doc_id") +: col("source") +: Tables.tokens(col("text")).as("tok_arr") +:
        carryCols: _*)
      .withColumn("hs", graft.functions.WindowHashes.windowHashes(col("tok_arr"), k))
      // boundary gram positions, 1-based (guard: sequence(1, 0) would
      // count DOWN, so the empty-gram case short-circuits first)
      .withColumn("bps", expr(
        s"CASE WHEN size(hs) = 0 THEN array() " +
          s"ELSE filter(sequence(1, size(hs)), i -> hs[i-1] % $divisor = 0) END"))
      .withColumn("starts", expr("concat(array(1), transform(bps, b -> b + 1))"))
      .withColumn("ends", expr("concat(bps, array(size(tok_arr)))"))
      .select(col("doc_id") +: col("source") +: col("tok_arr") +: carryCols :+
        posexplode(expr("arrays_zip(starts, ends)")): _*)
      .select(col("doc_id") +: col("source") +:
        (col("pos") + 1L).cast("long").as("chunk_idx") +:
        col("col.starts").cast("long").as("start_pos") +:
        ((col("col.ends") - col("col.starts") + 1L).cast("long").as("n_tokens")) +:
        md5(expr("array_join(slice(tok_arr, col.starts, col.ends - col.starts + 1), ' ')"))
          .as("digest") +: carryCols: _*)
  }

  /** EXT-D17 (`x126_cdc_chunk_dedup`) — chunk-level dedup census over
    * [[cdcChunks]]: per source, how much of the corpus is duplicated at
    * CONTENT-DEFINED chunk granularity — chunk count, token mass, the
    * chunks whose digest occurs ≥ 2 times in the corpus-wide census,
    * the duplicated token mass, and its fraction. The storage-dedup
    * measurement (backup/dedup systems built their economics on exactly
    * this census) applied to training data: between x1's whole-document
    * granularity and x53/x84's every-duplicated-position granularity,
    * CDC chunks are the edit-stable middle — near-identical documents
    * (boilerplate with one edited sentence) share most chunk digests
    * even though their fixed-stride segments (x84) all shift.
    *
    * Plan: the chunk relation is row-local (one compiled hash pass, one
    * explode), `localCheckpoint`ed for its two consumers; the census is
    * a digest-keyed partial agg (x1's shape at chunk granularity); the
    * final fold is |sources| rows. `dup_frac4` is one IEEE division of
    * exact BIGINTs under the div-guard convention.
    */
  def cdcChunkDedup(
      spark: SparkSession,
      dir: String,
      k: Int = 4,
      divisor: Long = 16L): DataFrame = {
    val chunks = cdcChunks(Tables.documents(spark, dir), k, divisor)
      .localCheckpoint() // consumed by the census AND the join back
    val census = chunks.groupBy("digest").agg(count(lit(1)).as("n_copies"))
    chunks.join(census, "digest")
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_chunks"),
        sum("n_tokens").as("n_chunk_tokens"),
        sum(when(col("n_copies") >= 2L, 1L).otherwise(0L)).as("n_dup_chunks"),
        sum(when(col("n_copies") >= 2L, col("n_tokens")).otherwise(0L)).as("dup_tokens"))
      .withColumn("dup_frac4",
        when(col("n_chunk_tokens") === 0L, lit(null).cast("double"))
          .otherwise(round(col("dup_tokens").cast("double") / col("n_chunk_tokens"), 4)))
      .orderBy("source")
  }

  /** EXT-D18 (`x128_source_overlap`) — directed source-overlap matrix at
    * CDC chunk granularity: for every ordered source pair sharing at
    * least one chunk digest, the distinct-chunk vocabularies, the shared
    * count, and the directed containment `inter / n_a` — "what fraction
    * of source A's distinct content also appears in source B". The
    * provenance audit x43's MinHash slice-similarity estimates,
    * answered EXACTLY and DIRECTIONALLY: syndication is asymmetric (the
    * aggregator contains the feed, not vice versa), and the direction
    * is what decides which source the mixture keeps (x48/x97's weights
    * double-count whatever this matrix shows shared).
    *
    * Scale: the per-source distinct chunk relation is the census fold's
    * shape; the pairing join is keyed by DIGEST, and each digest's
    * posting list is bounded by |sources| (distinct per source, by
    * construction) — so pair expansion is at most |sources|² per
    * digest-group and the output is |sources|²-bounded regardless of
    * corpus size. No document is ever paired with a document.
    */
  def sourceOverlap(
      spark: SparkSession,
      dir: String,
      k: Int = 4,
      divisor: Long = 16L): DataFrame = {
    val ch = cdcChunks(Tables.documents(spark, dir), k, divisor)
      .select("source", "digest").distinct()
      .localCheckpoint() // consumed by the sizes fold AND both join sides
    val sizes = ch.groupBy("source").agg(count(lit(1)).as("n_distinct"))
    ch.select(col("source").as("source_a"), col("digest"))
      .join(ch.select(col("source").as("source_b"), col("digest")), "digest")
      .filter(col("source_a") =!= col("source_b"))
      .groupBy("source_a", "source_b").agg(count(lit(1)).as("inter"))
      .join(sizes.select(col("source").as("source_a"), col("n_distinct").as("n_a")), "source_a")
      .join(sizes.select(col("source").as("source_b"), col("n_distinct").as("n_b")), "source_b")
      .withColumn("containment4",
        round(col("inter").cast("double") / col("n_a"), 4))
      .select("source_a", "source_b", "n_a", "n_b", "inter", "containment4")
      .orderBy("source_a", "source_b")
  }

  /** EXT-D20 (`x131_threshold_sweep`) — near-dup THRESHOLD sensitivity:
    * the exact-Jaccard pair relation materialized ONCE at the lowest
    * swept threshold, then per candidate threshold the pair count, the
    * documents touched, the documents a canonical (keep-lowest-id)
    * dedup would drop, and the corpus drop fraction. The tuning curve
    * every dedup deployment needs BEFORE committing a threshold: x3
    * answers "who is a duplicate at 0.8", this answers "how much
    * corpus do 0.6/0.7/0.8/0.9 each cost" — and a cliff between two
    * adjacent thresholds means the corpus has a near-dup band exactly
    * there (template families), which is precisely where the threshold
    * should NOT sit. One pass regardless of how many thresholds are
    * swept (budgetSweep's discipline).
    *
    * Exactness: each threshold's membership is the integer predicate
    * `100·inter ≥ pct·(n1+n2−inter)` — no float threshold compare
    * anywhere, so both engines classify every pair identically
    * (x3's own ⌈⌉-guard concern does not arise). "Dropped" is x1's
    * canonical rule: a doc drops iff it pairs at ≥ t with a LOWER id
    * (= the distinct d2 side, pairs being d1 < d2).
    *
    * Plan: the pair pipeline is x3's (PPJoin contract pinned there) at
    * `min(pcts)`; the sweep is a row-local |pcts| explode over the
    * materialized pairs, two pct-keyed folds (pairs + the distinct-doc
    * counts — countDistinct's two-phase shape, first keyed by
    * (pct, doc) then by pct), and the 1-row corpus total broadcast.
    * Everything after the pair relation is bounded by |pairs|·|pcts|.
    */
  def thresholdSweep(
      spark: SparkSession,
      dir: String,
      pcts: Seq[Int] = Seq(60, 70, 80, 90)): DataFrame = {
    require(pcts.nonEmpty && pcts.forall(p => p >= 1 && p <= 100),
      s"pcts ($pcts) must be percentages in [1, 100]")
    val pairs = ngramJaccard(spark, dir, threshold = pcts.min / 100.0)
      .select(col("d1"), col("d2"), col("inter"),
        (col("n1") + col("n2") - col("inter")).as("un"))
      .localCheckpoint() // consumed by both sweep folds
    val swept = pairs
      .select(col("d1"), col("d2"), col("inter"), col("un"),
        explode(array(pcts.map(lit): _*)).as("pct"))
      .filter(col("inter") * 100L >= col("pct") * col("un"))
    val pairStats = swept.groupBy("pct").agg(
      count(lit(1)).as("n_pairs"),
      countDistinct("d2").as("n_dropped"))
    val touched = swept.select(col("pct"), col("d1").as("doc"))
      .union(swept.select(col("pct"), col("d2").as("doc")))
      .groupBy("pct").agg(countDistinct("doc").as("n_docs_paired"))
    val total = Tables.documents(spark, dir).agg(count(lit(1)).as("n_total"))
    // every swept pct stays visible even where no pair survives
    import spark.implicits._
    pcts.toDF("pct")
      .join(pairStats, Seq("pct"), "left")
      .join(touched, Seq("pct"), "left")
      .crossJoin(broadcast(total))
      .select(col("pct"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        coalesce(col("n_docs_paired"), lit(0L)).as("n_docs_paired"),
        coalesce(col("n_dropped"), lit(0L)).as("n_dropped"),
        round(coalesce(col("n_dropped"), lit(0L)).cast("double") /
          col("n_total"), 4).as("drop_frac4"))
      .orderBy("pct")
  }

  /** EXT-D19 (`x130_chunk_novelty`) — per-document chunk-novelty score
    * for an incoming batch: each NEW document (odd doc_id — the x93/
    * x102 snapshot binding) scored by how many of its CDC chunks
    * already exist in the corpus (even doc_id side), with the known
    * fraction. The ingest-time dedup SCORE that is robust to edits:
    * x24's digest check answers only "seen verbatim before"; a
    * re-crawled page with one edited sentence scores ~0 there but
    * ~(n−1)/n here, because content-defined boundaries resync around
    * the edit — so the score separates genuinely-novel documents from
    * edited duplicates BEFORE any pairwise machinery runs. Chunks are
    * counted ONCE per (doc, digest) (a within-doc repeated chunk is
    * repetition, x20's signal, not corpus novelty).
    *
    * Scale: both sides are the row-local chunker; the membership check
    * is a LEFT join keyed by digest against the corpus side's distinct
    * relation (x24's LEFT ANTI shape, kept as LEFT + flag because the
    * per-doc FRACTION is the output); the fold is one doc_id-keyed
    * partial agg. Linear end to end.
    */
  def chunkNovelty(
      spark: SparkSession,
      dir: String,
      k: Int = 4,
      divisor: Long = 16L): DataFrame = {
    val chunks = cdcChunks(Tables.documents(spark, dir), k, divisor)
      .localCheckpoint() // consumed by both parity sides
    val corpus = chunks.filter(pmod(col("doc_id"), lit(2)) === 0)
      .select("digest").distinct().withColumn("known", lit(true))
    chunks.filter(pmod(col("doc_id"), lit(2)) === 1)
      .select("doc_id", "digest").distinct()
      .join(corpus, Seq("digest"), "left")
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_chunks"),
        sum(when(col("known"), 1L).otherwise(0L)).as("n_known"))
      .withColumn("known_frac4",
        round(col("n_known").cast("double") / col("n_chunks"), 4))
      .orderBy("doc_id")
  }
}
