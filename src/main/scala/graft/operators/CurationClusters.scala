package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
/** Curation category 2 of 3 — near-dup CLUSTER resolution and the graph
  * analytics over the SimHash pair relation (canonical labels, the
  * persisted cluster index, representatives, stability/purity/size
  * audits, community and centrality engines). See [[CurationQuality]]
  * for the trait-chain note.
  */
private[operators] trait CurationClusters extends CurationQuality {
  /** EXT-C5 — duplicate-cluster resolution: given the near-dup pair
    * stream (here: [[Dedup.simhashNearDup]]'s exact Hamming pairs),
    * assign every clustered document its connected component's minimum
    * doc_id as the canonical id — the step that turns pairwise near-dup
    * evidence into "keep one per cluster".
    *
    * Min-label contraction with pointer jumping: each round (1) rewrites
    * the ORIGINAL edge list through the current labels and drops
    * intra-label self-loops — emptiness of this contracted relation is
    * the exact convergence test; (2) takes, per label, the min over its
    * contracted neighborhood (`f`); (3) composes the min-step and the
    * pointer jump into ONE label-level map `g(a) = f(labels(f(a)))`
    * (each hop falling back to identity where undefined) and relabels
    * every node through it. The node-level `labels` lookup in the middle
    * of `g` is what preserves hop DOUBLING — on a chain the covered
    * distance follows D ← 2·D + 2, so chain-shaped components converge
    * in O(log n) rounds where star steps alone advance one hop per
    * round, O(diameter) (a simulated 32-doc near-dup chain: 31 rounds
    * without the jump, 5 with it; dense components like sf0.1's 639-node
    * cluster converge in ≤4 either way). Because `g` is built on the
    * tiny label-level relation (broadcast-joined through `labels`), each
    * round materializes only TWO big relations — the contracted edges
    * and the new labels — via eager `localCheckpoint`: lineage stays
    * O(1) across iterations and every consumer branch reads
    * materialized data instead of recomputing its plan.
    *
    * Correctness: every hop of `g` maps a label to a value that is ≤ it
    * and still a member of the same component (`f(a) ≤ a` by
    * construction, `labels(y) ≤ y` by induction from the seeding), so
    * labels are monotonically non-increasing and bounded by the
    * component minimum — which is a fixpoint of every hop. An
    * inter-label edge forces `f` to strictly decrease the larger
    * endpoint's label, so progress is guaranteed while any exists; at
    * convergence (contracted relation empty) all labels in a component
    * equal some member id L with L = labels(min) ≤ min, hence L IS the
    * minimum — the oracle's recursive-CTE closure exactly. If
    * `maxRounds` is ever hit first (pathological beyond ~2^maxRounds-
    * node components), it THROWS rather than returning silently wrong
    * canonical ids.
    */
  def dedupClusters(spark: SparkSession, dir: String, maxRounds: Int = 30): DataFrame =
    Graph.connectedComponents(
      Dedup.simhashNearDupPairs(spark, dir).select(col("d1"), col("d2")), maxRounds)

  /** EXT-C17 — cluster-representative selection: keep the highest-QUALITY
    * member of each near-dup cluster (ties to the lowest doc_id), rather
    * than the lowest-id canonical [[curatedCorpus]] keeps — the curation
    * policy that retains the best copy of duplicated content instead of
    * an arbitrary one. One narrow doc_id join (cluster labels ⋈ quality)
    * and one aggregation; the argmax is a partial-agg-friendly
    * `max(struct(quality, −doc_id))`, so map partitions collapse to one
    * candidate per cluster BEFORE the shuffle — no window over the
    * membership stream.
    */
  def clusterRepresentatives(spark: SparkSession, dir: String, maxRounds: Int = 30): DataFrame =
    representativesOf(dedupClusters(spark, dir, maxRounds), spark, dir)

  /** The x47 argmax over an arbitrary `(doc_id, cluster)` label relation
    * — shared by the in-memory path and [[clusterRepresentativesFromIndex]]
    * so the persisted form is the SAME aggregation by construction.
    */
  private def representativesOf(labels: DataFrame, spark: SparkSession, dir: String): DataFrame =
    labels
      .join(TextAnalysis.statsProjection(spark, dir).select("doc_id", "quality"), "doc_id")
      .groupBy("cluster")
      .agg(
        max(struct(col("quality"), negate(col("doc_id")).as("nid"))).as("best"),
        count(lit(1)).as("n_members"))
      .select(col("cluster"), negate(col("best.nid")).as("rep_doc_id"),
        col("best.quality").as("rep_quality"), col("n_members"))
      .orderBy("cluster")

  /** EXT-C55 — persist the near-dup cluster labels: the x22 contraction
    * run ONCE and written as an index, closing the one place the repo
    * documented the 100 TB materialize-once pattern instead of shipping
    * it (nine queries re-pay the contraction per run as self-contained
    * oracles — production consumers read THIS). Follows the IVF/sign/
    * PQ/BM25 layout exactly: `labels/` is the (doc_id, cluster) relation
    * partitioned by a doc_id bucket so membership probes prune FILES,
    * `meta/` is one stamp row carrying the full parameter bundle
    * (SimHash banding geometry) plus the corpus identity (doc count AND
    * the order-insensitive doc_id XOR) — labels from a different banding
    * or a drifted corpus are not comparable, so the probes REFUSE a
    * mismatched stamp instead of silently answering from stale clusters
    * (the [[Dedup.bandSignatures]] bundling contract).
    */
  def writeClusterIndex(
      spark: SparkSession,
      dir: String,
      indexPath: String,
      maxHamming: Int = 4,
      bands: Int = 5,
      bits: Int = 60,
      nBuckets: Int = 16,
      maxRounds: Int = 30): Unit = {
    import spark.implicits._
    require(nBuckets >= 1, s"nBuckets ($nBuckets) must be positive")
    val stamp = corpusStamp(spark, dir)
    Graph.connectedComponents(
        Dedup.simhashNearDupPairs(spark, dir, maxHamming, bands, bits), maxRounds)
      .withColumn("bucket", pmod(col("doc_id"), lit(nBuckets.toLong)).cast("int"))
      .write.mode("overwrite").partitionBy("bucket").parquet(s"$indexPath/labels")
    Seq((maxHamming, bands, bits, nBuckets, stamp.nDocs, stamp.docXor, stamp.textXor))
      .toDF("max_hamming", "bands", "bits", "n_buckets", "n_docs", "doc_xor", "text_xor")
      .coalesce(1).write.mode("overwrite").parquet(s"$indexPath/meta")
  }

  /** The read schema of the cluster index's one-row `meta/` stamp. */
  private[graft] val ClusterIndexMeta = "max_hamming INT, bands INT, bits INT, n_buckets INT, " +
    "n_docs BIGINT, doc_xor BIGINT, text_xor BIGINT"

  private case class CorpusStamp(nDocs: Long, docXor: Long, textXor: Long)

  /** Corpus identity for the stamp: count + order-insensitive doc_id
    * XOR + order-insensitive CONTENT XOR (`xxhash64(doc_id, text)`) —
    * one two-column scan. Any add/remove/substitute of a doc flips the
    * id terms, and a re-crawl that EDITS text under a stable doc_id —
    * which moves the SimHash clusters — flips `text_xor`, so drifted
    * content is refused loudly instead of serving stale labels (up to
    * XOR collisions, which the count also guards).
    */
  private def corpusStamp(spark: SparkSession, dir: String): CorpusStamp = {
    val r = Tables.documents(spark, dir)
      .agg(count(lit(1)).as("n"), expr("bit_xor(doc_id)").as("x"),
        expr("bit_xor(xxhash64(doc_id, text))").as("tx")).collect()(0)
    CorpusStamp(r.getLong(0), r.getLong(1), r.getLong(2))
  }

  /** Validated stamp read: refuses a parameter-bundle mismatch. Returns
    * (labels relation UNSORTED, nBuckets, stamped corpus identity).
    */
  private def readClusterIndex(
      spark: SparkSession,
      indexPath: String,
      maxHamming: Int,
      bands: Int,
      bits: Int): (DataFrame, Int, CorpusStamp) = {
    // meta memoized per (indexPath, listing signature) — the IndexCache
    // contract; the banding check stays per-call (it depends on the
    // caller's parameters, not the index)
    val m = clusterMeta(spark, indexPath)
    require(m.maxHamming == maxHamming && m.bands == bands && m.bits == bits,
      s"cluster index stamped (maxHamming=${m.maxHamming}, bands=${m.bands}, " +
        s"bits=${m.bits}) but probed with ($maxHamming, $bands, $bits) — " +
        "labels from a different banding are not comparable; rebuild the index")
    (readLabels(spark, indexPath).select("doc_id", "cluster"),
      m.nBuckets, m.stamp)
  }

  /** The one-row cluster-index meta stamp, decoded. */
  private case class ClusterMeta(maxHamming: Int, bands: Int, bits: Int,
      nBuckets: Int, stamp: CorpusStamp)

  /** The index's bucket-count stamp — the memoized meta read, exposed
    * for the streaming gates (EXT-6aj/6ak) so they share the cache.
    */
  private[graft] def clusterIndexBuckets(spark: SparkSession, indexPath: String): Int =
    clusterMeta(spark, indexPath).nBuckets

  /** The memoized 1-row meta read every cluster-index probe starts from
    * (the r15 verdict's per-probe driver-overhead ask; the EXT-6aj/6ak
    * gates pay this per stream START, the foreachBatch serving shape
    * per MICROBATCH).
    */
  private def clusterMeta(spark: SparkSession, indexPath: String): ClusterMeta =
    IndexCache.cached(spark, s"clustermeta|$indexPath", Seq(s"$indexPath/meta")) {
      val rows = spark.read.schema(ClusterIndexMeta).parquet(s"$indexPath/meta").collect()
      require(rows.length == 1, s"corrupt cluster index: ${rows.length} meta rows")
      val m = rows(0)
      ClusterMeta(m.getInt(0), m.getInt(1), m.getInt(2), m.getInt(3),
        CorpusStamp(m.getLong(4), m.getLong(5), m.getLong(6)))
    }

  /** Label read with an EXPLICIT schema: a corpus with zero near-dup
    * pairs writes an empty partitioned relation (no parquet files), and
    * schema inference would refuse it — an empty cluster index is a
    * legitimate index, not a corrupt one. The one spelling of the label
    * layout, shared with the streaming gates in
    * [[graft.streaming.StreamOps]].
    */
  private[graft] def readLabels(spark: SparkSession, indexPath: String): DataFrame =
    spark.read.schema("doc_id LONG, cluster LONG, bucket INT")
      .parquet(s"$indexPath/labels")

  /** Stamp validation — exists ONCE so every FromIndex consumer refuses
    * a drifted corpus (ids OR content) with the same loud message.
    */
  private def requireFreshStamp(stamped: CorpusStamp, spark: SparkSession,
      dir: String): Unit = {
    val cur = corpusStamp(spark, dir)
    require(cur == stamped,
      s"cluster index stamped for a corpus of ${stamped.nDocs} docs " +
        s"(id xor=${stamped.docXor}, content xor=${stamped.textXor}) but $dir " +
        s"holds ${cur.nDocs} (id xor=${cur.docXor}, content xor=${cur.textXor}) — " +
        "corpus drifted since the build (ids or text); rebuild the index")
  }

  /** EXT-C55 probe: the full label relation from the PERSISTED index —
    * bit-equal to [[dedupClusters]] over the same corpus (spec-asserted)
    * with the contraction loop replaced by one pruned-column read. The
    * corpus-identity stamp is re-derived from `dir` and must match:
    * clusters answered from an index built on a DIFFERENT corpus are
    * wrong silently, so this refuses loudly instead.
    */
  def clustersFromIndex(
      spark: SparkSession,
      indexPath: String,
      dir: String,
      maxHamming: Int = 4,
      bands: Int = 5,
      bits: Int = 60): DataFrame = {
    val (labels, _, stamped) = readClusterIndex(spark, indexPath, maxHamming, bands, bits)
    requireFreshStamp(stamped, spark, dir)
    labels.orderBy("doc_id")
  }

  /** EXT-C55 membership probe: canonical cluster id for an arbitrary
    * `doc_id` query relation — `cluster` falls back to the doc's own id
    * (a never-clustered doc is its own canonical), `clustered` says
    * which. The 100 TB point, [[Similarity.ivfTopKFromIndex]]'s
    * static-pruning discipline verbatim: the batch's DISTINCT buckets — at
    * most `n_buckets` values by construction, the legitimate bounded
    * collect — pin a LITERAL partition filter on the label read, so the
    * probe touches buckets/n_buckets of the index FILES by the PLANNER,
    * not the pruning heuristic.
    */
  def lookupClustersFromIndex(
      spark: SparkSession,
      indexPath: String,
      docIds: DataFrame): DataFrame = {
    import spark.implicits._
    val nBuckets = clusterIndexBuckets(spark, indexPath)
    val q = docIds.select(col("doc_id")).distinct()
      .withColumn("bucket", pmod(col("doc_id"), lit(nBuckets.toLong)).cast("int"))
      .localCheckpoint() // consumed by the bucket collect AND the join
    val buckets = q.select("bucket").distinct().as[Int].collect().toSeq
    val labels = readLabels(spark, indexPath)
      .filter(col("bucket").isin(buckets.map(Int.box): _*))
      .select(col("doc_id"), col("cluster"))
    q.select("doc_id").join(labels, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster"), col("doc_id")).as("cluster"),
        col("cluster").isNotNull.as("clustered"))
      .orderBy("doc_id")
  }

  /** EXT-C55 heavy consumer: x47's representative pick served from the
    * persisted labels — the SAME argmax aggregation as
    * [[clusterRepresentatives]] by construction ([[representativesOf]]),
    * with the contraction loop replaced by the index read (stamp- and
    * corpus-validated via [[clustersFromIndex]]).
    */
  def clusterRepresentativesFromIndex(
      spark: SparkSession,
      indexPath: String,
      dir: String,
      maxHamming: Int = 4,
      bands: Int = 5,
      bits: Int = 60): DataFrame = {
    val (labels, _, stamped) = readClusterIndex(spark, indexPath, maxHamming, bands, bits)
    requireFreshStamp(stamped, spark, dir)
    representativesOf(labels, spark, dir)
  }

  /** EXT-C54 (`x152_rep_divergence`) — representative-POLICY divergence
    * audit: per multi-policy-relevant cluster, the lowest-id canonical
    * (x29's keep rule — the cluster label itself) against x47's
    * highest-quality pick, with the exact consequence of choosing one
    * over the other: whether they agree, the quality the id policy
    * leaves on the table (`q_gap4 ≥ 0` by the argmax), and the signed
    * token-mass delta a switch would move. The A/B table behind a real
    * pipeline decision: the id policy is replay-stable (a re-crawl
    * never flips it) while the quality policy maximizes kept value but
    * flips whenever quality scores drift — this relation prices the
    * difference cluster by cluster instead of arguing it in the
    * abstract.
    *
    * Scale: the one checkpointed (cluster, quality, tokens) membership
    * relation feeds the partial-agg struct-max (x47's windowless
    * argmax); both rep attribute lookups are narrow doc_id equi-joins;
    * |clusters| rows out, nothing pairwise past x22's banded pairs.
    */
  def repPolicyDivergence(spark: SparkSession, dir: String, maxRounds: Int = 30): DataFrame = {
    val q = TextAnalysis.statsProjection(spark, dir)
      .select(col("doc_id"), col("quality"), col("n_tokens"))
      .localCheckpoint() // consumed by the member join and both rep lookups
    val picks = dedupClusters(spark, dir, maxRounds)
      .join(q.select("doc_id", "quality"), "doc_id")
      .groupBy("cluster")
      .agg(
        max(struct(col("quality"), negate(col("doc_id")).as("nid"))).as("best"),
        count(lit(1)).as("n_members"))
      .select(col("cluster"), col("n_members"),
        negate(col("best.nid")).as("rep_quality_pick"),
        col("best.quality").as("q_pick"))
    picks
      .join(q.select(col("doc_id").as("cluster"),
        col("quality").as("q_low"), col("n_tokens").as("tok_low")), "cluster")
      .join(q.select(col("doc_id").as("rep_quality_pick"),
        col("n_tokens").as("tok_pick")), "rep_quality_pick")
      .select(col("cluster"), col("n_members"), col("rep_quality_pick"),
        (col("rep_quality_pick") === col("cluster")).as("same"),
        round(col("q_pick") - col("q_low"), 4).as("q_gap4"),
        (col("tok_pick") - col("tok_low")).as("tok_delta"))
      .orderBy("cluster")
  }

  /** EXT-C47 (`x134_dup_pagerank`) — template centrality: [[Graph.pageRank]]
    * over the SimHash near-dup pair graph (x22's edges). Where x22
    * answers "which docs are one template family" and x129 "what is in
    * each family", this ranks WITHIN and ACROSS families: the highest-
    * rank nodes are the template CENTERS (the page everything else is a
    * near-copy of — rank flows toward high-degree hubs), which is the
    * principled pick for x47's cluster-representative policy when
    * quality scores tie, and a round-over-round rank4 jump for a doc
    * flags a template newly spreading through the crawl (a mirror farm
    * lighting up) before cluster counts move.
    */
  def dupPageRank(spark: SparkSession, dir: String, iters: Int = 5): DataFrame =
    Graph.pageRank(Dedup.simhashNearDupPairs(spark, dir).select(col("d1"), col("d2")), iters)

  /** EXT-C51 (`x146_edge_support`) — near-dup pair TRUST audit:
    * [[Graph.edgeSupport]] over x22's SimHash pair graph. The edge-level
    * reading of x145: a pair corroborated by many common near-dup
    * neighbors is template-family INTERIOR (safe to act on), while an
    * unsupported pair inside a larger component is exactly the stitch
    * x141's merged_by_new warns about — the single borderline collision
    * holding two families together, and the cheapest re-verify queue
    * (re-score |unsupported| pairs, not |pairs|) before x22's clusters
    * feed x47's representative picks.
    */
  def dupEdgeSupport(spark: SparkSession, dir: String): DataFrame =
    Graph.edgeSupport(Dedup.simhashNearDupPairs(spark, dir))

  /** EXT-C56 (`x154_k_truss`) — the peeling fixpoint x146 is one loop
    * short of: [[Graph.kTruss]] over x22's SimHash pair graph. x146
    * reports raw per-edge support; this peels CASCADES — an edge with
    * healthy support can still fall when the borderline edges propping
    * up its triangles are peeled first, so the k-truss, not the raw
    * support threshold, is the principled "clique-like core" verdict.
    * The surviving edges are the cluster-trust core (x145/x146's story
    * completed); the peeled ones are the re-verify queue before x22's
    * clusters feed x47's representative picks.
    */
  def dupTruss(spark: SparkSession, dir: String, k: Int = 4, maxRounds: Int = 6): DataFrame =
    Graph.kTruss(Dedup.simhashNearDupPairs(spark, dir).select(col("d1"), col("d2")),
      k, maxRounds)

  /** EXT-C58 (`x156_k_core`) — [[Graph.kCore]] over x22's SimHash pair
    * graph: the hub/periphery split of the near-dup graph at node
    * granularity. Where x154's truss asks "which EDGES are clique-like
    * evidence", the core asks "which DOCS sit densely inside template
    * families" — core members are the families' interiors (safe bulk
    * drops), peripheral nodes are the one-or-two-collision attachments
    * worth re-verifying before x47 picks representatives. Cheaper than
    * the truss by construction (degree folds, no triangle enumeration),
    * so it is the first-pass screen at 100 TB; the truss refines the
    * edges inside the surviving core.
    */
  def dupKCore(spark: SparkSession, dir: String, k: Int = 3, maxRounds: Int = 12): DataFrame =
    Graph.kCore(Dedup.simhashNearDupPairs(spark, dir).select(col("d1"), col("d2")),
      k, maxRounds)

  /** EXT-C60 (`x159_trust_rank`) — TrustRank over the near-dup graph:
    * [[Graph.personalizedPageRank]] seeded at the x19 quality-gate
    * KEEPERS. Where x134 ranks template centrality blind to content,
    * this reads off how much vetted-content proximity reaches each
    * member: a non-seed with high trust rank is a near-copy of quality
    * content (keep-adjacent — likely a mirror of something good), while
    * a whole cluster at rank ≈ 0 is a template family with no vetted
    * member anywhere — the spam-farm signature, and a better bulk-drop
    * signal than per-doc quality alone because the JOINT structure
    * (quality × graph) decides. Seeds confined to graph nodes; the
    * quality predicate is x19's exact gate, so both engines classify
    * every seed identically.
    */
  def trustRank(spark: SparkSession, dir: String, iters: Int = 5): DataFrame =
    Graph.personalizedPageRank(
      Dedup.simhashNearDupPairs(spark, dir).select(col("d1"), col("d2")),
      qualityProjection(Tables.documents(spark, dir))
        .filter(col("keep")).select(col("doc_id").as("node")),
      iters)

  /** EXT-C61 (`x160_cluster_split`) — cluster-keyed train/val/test
    * split, audited against the per-document policy: assignment keys
    * the [[hashSplit]] bucket derivation by the near-dup CLUSTER
    * canonical (`coalesce(cluster, doc_id)` — unclustered documents
    * draw exactly their x21 bucket), so a whole near-dup family lands
    * in one split and cross-split leakage is zero BY CONSTRUCTION —
    * prevention, where [[leakageRepair]] is the cure (drop documents
    * after the fact). Output: one row per (policy, split) with the doc
    * and char mass, `moved_docs` (documents whose split differs under
    * the other policy — the price of co-assignment), and `leak_pairs`
    * (near-dup pairs straddling OUT of this split under this policy; a
    * straddling pair counts once at each end, so the global leak count
    * is the column sum halved). The audited law, visible in the
    * output: every `cluster`-policy row has `leak_pairs = 0`.
    *
    * Scale: the banded pair relation is paid ONCE (checkpointed, then
    * contracted for labels and probed for leaks — not the
    * self-contained double-pay); the assignment is a row-local
    * projection after one left join to the (tiny) label relation, and
    * both policy audits are doc_id equi-joins with the pair relation
    * as the probe side. The report is 6 rows.
    */
  def clusterSplit(spark: SparkSession, dir: String): DataFrame = {
    val pairs = Dedup.simhashNearDupPairs(spark, dir)
      .select(col("d1"), col("d2")).localCheckpoint()
    val labels = Graph.connectedComponents(pairs, maxRounds = 30)
    val assign = Tables.documents(spark, dir).select(col("doc_id"), col("n_chars"))
      .join(labels, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_chars"),
        splitVerdict(col("doc_id")).as("doc_split"),
        splitVerdict(coalesce(col("cluster"), col("doc_id"))).as("clu_split"))
      .localCheckpoint() // consumed by both policy views and both leak probes
    def policyView(policy: String, mine: String, other: String): DataFrame = {
      val per = assign.groupBy(col(mine).as("split"))
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("n_chars"),
          sum(when(col(mine) =!= col(other), 1L).otherwise(0L)).as("moved_docs"))
      val straddle = pairs
        .join(assign.select(col("doc_id").as("d1"), col(mine).as("s1")), "d1")
        .join(assign.select(col("doc_id").as("d2"), col(mine).as("s2")), "d2")
        .filter(col("s1") =!= col("s2"))
      val leaks = straddle.select(col("s1").as("split"))
        .unionAll(straddle.select(col("s2").as("split")))
        .groupBy("split").agg(count(lit(1)).as("leak_pairs"))
      per.join(leaks, Seq("split"), "left")
        .select(lit(policy).as("policy"), col("split"), col("n_docs"), col("n_chars"),
          col("moved_docs"), coalesce(col("leak_pairs"), lit(0L)).as("leak_pairs"))
    }
    policyView("doc", "doc_split", "clu_split")
      .unionByName(policyView("cluster", "clu_split", "doc_split"))
      .orderBy("policy", "split")
  }

  /** EXT-C62 (`x161_source_communities`) — source-community detection
    * over the near-dup graph: [[Graph.labelPropagation]] seeded with
    * each document's SOURCE. After the fixed synchronous rounds, a
    * node's community is the source whose content dominates its graph
    * neighborhood — `changed` marks documents whose near-dup evidence
    * pulls them into ANOTHER source's family (a mirror or scrape: the
    * content's provenance, by graph vote, is not the ingest label). A
    * cluster that converges to one community across sources is a
    * cross-source template family — x128 measures that overlap by
    * token mass; this reads it off the pair evidence itself, per doc.
    */
  def sourceCommunities(spark: SparkSession, dir: String, iters: Int = 4): DataFrame =
    Graph.labelPropagation(
      Dedup.simhashNearDupPairs(spark, dir).select(col("d1"), col("d2")),
      Tables.documents(spark, dir)
        .select(col("doc_id").as("node"), col("source").as("label")),
      iters)

  /** EXT-C63 (`x162_semantic_clusters`) — SEMANTIC near-dup clusters:
    * [[Graph.connectedComponents]] over the embedding-cosine pair
    * relation (x14's LSH-bucketed evidence — sign-bucket collision then
    * exact cosine ≥ τ), where x22 contracts the LEXICAL (SimHash)
    * graph. Text dedup misses paraphrases and translations; the
    * embedding graph is the standard second layer that catches them.
    * Per cluster: member count, how many distinct training LABELS it
    * spans, and the majority label with its fraction (ties to the
    * smallest label) — a semantic cluster straddling labels is either a
    * labeling error or a genuinely ambiguous family; both are exactly
    * what a training-data audit wants surfaced before sampling weights
    * are assigned.
    *
    * Scale: pair generation is x14's bucketed shape (never all-pairs),
    * the contraction x22's O(log n) pointer-halving engine; the census
    * is two keyed partial aggs on the (tiny) label relation — the
    * struct-argmin collapses map-side, no window over members.
    */
  def semanticClusters(spark: SparkSession, dir: String, threshold: Double = 0.4): DataFrame = {
    val labels = Graph.connectedComponents(
      Similarity.cosineNearDupPairs(spark, dir, threshold)
        .select(col("v1").as("d1"), col("v2").as("d2")))
    val byLabel = labels
      .join(Tables.embeddings(spark, dir)
        .select(col("vec_id").as("doc_id"), col("label")), "doc_id")
      .groupBy(col("cluster"), col("label")).agg(count(lit(1)).as("c"))
    byLabel.groupBy("cluster")
      .agg(sum("c").as("n_members"), count(lit(1)).as("n_labels"),
        min(struct(negate(col("c")).as("nc"), col("label").as("l"))).as("b"))
      .select(col("cluster"), col("n_members"), col("n_labels"),
        col("b.l").as("maj_label"),
        round(negate(col("b.nc")).cast("double") / col("n_members"), 4).as("maj_frac4"))
      .orderBy("cluster")
  }

  /** EXT-C67 (`x166_semantic_threshold_sweep`) — semantic-dedup
    * threshold CALIBRATION by label coherence: the cosine pair relation
    * is generated ONCE at the loosest candidate threshold (x143's
    * sweep convention — never one pass per τ), tagged with whether the
    * endpoints share a training label, then re-thresholded ROW-LOCALLY
    * per τ. Per τ: surviving pairs, same-label pairs, and coherence
    * (the fraction of "duplicates" that are at least label-consistent).
    * Coherence rising with τ says tighter thresholds trade recall for
    * precision exactly as intended; a FLAT curve says the similarity
    * axis is not capturing the label structure and no threshold is
    * safe — the calibration question answered from one relation.
    * τ rides as an integer percent; both engines spell the cut as
    * `sim >= τ/100.0` — the identical IEEE division and comparison.
    *
    * Scale: ONE salted-LSH pairing pass at min(τ) (the x14/x162
    * machinery), two vec_id equi-joins for labels, then a
    * |pairs|·|τ| row-local explode into a |τ|-bounded fold. The τ list
    * join keeps zero-pair thresholds visible (NULL coherence, never a
    * dropped row).
    */
  def semanticThresholdSweep(
      spark: SparkSession,
      dir: String,
      tauPcts: Seq[Int] = Seq(40, 50, 60, 70)): DataFrame = {
    require(tauPcts.nonEmpty && tauPcts.forall(t => t >= 1 && t <= 100),
      s"tauPcts (${tauPcts.mkString(",")}) must be percents in [1, 100]")
    import spark.implicits._
    val lab = Tables.embeddings(spark, dir).select(col("vec_id"), col("label"))
    val pairs = Similarity
      .cosineNearDupPairs(spark, dir, threshold = tauPcts.min / 100.0)
      .join(lab.select(col("vec_id").as("v1"), col("label").as("l1")), "v1")
      .join(lab.select(col("vec_id").as("v2"), col("label").as("l2")), "v2")
      .select(col("sim"), (col("l1") === col("l2")).as("same"))
      .localCheckpoint() // one pairing pass feeds every threshold
    val taus = tauPcts.sorted.toDF("tau_pct")
    val folded = pairs.crossJoin(broadcast(taus)) // |taus|-row broadcast
      .filter(col("sim") >= col("tau_pct").cast("double") / lit(100.0))
      .groupBy("tau_pct")
      .agg(count(lit(1)).as("n_pairs"),
        sum(when(col("same"), 1L).otherwise(0L)).as("n_same"))
    broadcast(taus).join(folded, Seq("tau_pct"), "left")
      .select(col("tau_pct"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        coalesce(col("n_same"), lit(0L)).as("n_same"),
        round(col("n_same").cast("double") / col("n_pairs"), 4).as("coherence4"))
      .orderBy("tau_pct")
  }

  /** EXT-C66 (`x165_source_pair_matrix`) — the near-dup SOURCE matrix:
    * banded-SimHash pair evidence folded to unordered (source, source)
    * cells — which ingests mirror which, counted in PAIRS (x128
    * measures the same phenomenon in shared token mass via chunk
    * digests; this is the direct pair-evidence view, with exact Hamming
    * mass per cell). The diagonal is within-source duplication (crawl
    * revisit s, boilerplate); off-diagonal cells are cross-source
    * mirrors — the cells a dedup-aware sampler has to treat as ONE
    * provenance pool. `pair_share4` situates each cell against the
    * corpus-wide pair total.
    *
    * Scale: the pair relation is the (tiny) banded evidence, never a
    * cross product; two doc_id equi-joins tag sources (AQE broadcasts
    * the pair side), one |sources|²-bounded fold, one 1-row totals
    * broadcast. The report is ≤ |sources|² rows.
    */
  def sourcePairMatrix(spark: SparkSession, dir: String): DataFrame = {
    val src = Tables.documents(spark, dir).select(col("doc_id"), col("source"))
    val tagged = Dedup.simhashNearDupPairs(spark, dir)
      .join(src.select(col("doc_id").as("d1"), col("source").as("s1")), "d1")
      .join(src.select(col("doc_id").as("d2"), col("source").as("s2")), "d2")
      .select(least(col("s1"), col("s2")).as("source_a"),
        greatest(col("s1"), col("s2")).as("source_b"), col("hamming"))
    val cells = tagged.groupBy("source_a", "source_b")
      .agg(count(lit(1)).as("n_pairs"), sum("hamming").as("sum_hamming"))
    val total = cells.agg(sum("n_pairs").as("tot"))
    cells.crossJoin(broadcast(total)) // 1-row totals join
      .select(col("source_a"), col("source_b"), col("n_pairs"), col("sum_hamming"),
        round(col("n_pairs").cast("double") / col("tot"), 4).as("pair_share4"))
      .orderBy("source_a", "source_b")
  }

  /** EXT-C59 (`x157_canonical_distance`) — per clustered doc, the BFS
    * hop distance to its cluster's canonical (the component-min doc)
    * through the near-dup graph: [[Graph.hopsFrom]] seeded with the
    * cluster labels themselves. Hops 1 = directly near-dup to the
    * canonical (safe drop); hops ≥ 2 = CHAIN-stitched into the family —
    * the member is a near-dup of a near-dup, the transitive-closure risk
    * x141's merge audit and x154's truss flag at cluster/edge level, now
    * priced per MEMBER (the re-verify queue ordered by how indirect the
    * duplication evidence is). Every clustered doc is reachable from its
    * own canonical by construction, so the report is total over x22's
    * membership.
    *
    * Scale: the pair relation is computed ONCE and shared by the
    * contraction and the BFS; rounds = the family eccentricity (the
    * O(log n)-ish handful every contraction round count already
    * demonstrates), each round one edge-keyed join + anti-join.
    */
  def canonicalDistance(spark: SparkSession, dir: String, maxHops: Int = 24): DataFrame = {
    val pairs = Dedup.simhashNearDupPairs(spark, dir)
      .select(col("d1"), col("d2")).localCheckpoint()
    val labels = Graph.connectedComponents(pairs).localCheckpoint()
    val hops = Graph.hopsFrom(pairs, labels.select(col("cluster").as("node")), maxHops)
    labels.join(hops, labels("doc_id") === hops("node"))
      .select(col("doc_id"), col("cluster"), col("hops"))
      .orderBy("doc_id")
  }

  /** EXT-C57 (`x155_incremental_clusters`) — incremental cluster MERGE:
    * fold a DELTA of new near-dup evidence into already-resolved labels
    * without re-clustering the corpus — the nightly-maintenance pattern
    * behind [[writeClusterIndex]]'s persisted labels. The delta here is
    * the threshold WIDENING from `tightHamming` to x22's 4: the tight
    * pass clusters the obvious near-identicals, then the borderline
    * pairs (hamming in (tight, 4]) merge in over the tight labels' STAR
    * EDGES — `CC(star(labels_tight) ∪ delta) == CC(pairs ≤ 4)` EXACTLY,
    * because each tight component's star edges connect exactly its
    * vertex set, so connectivity (and the min label) is preserved. The
    * oracle computes the ONE-SHOT ≤4 clustering, so every run proves the
    * incremental path reproduces the batch answer bit-for-bit.
    *
    * Output per doc clustered at ≤4: the merged label (≡ x22's), the
    * tight label (NULL if invisible at the tight threshold), and the two
    * flags a production merge reports — docs entering clustering for the
    * first time and docs whose canonical id changed.
    *
    * Scale: ONE banded pair pass feeds both thresholds (the split is a
    * row-local filter on the pair relation's hamming column); the merge
    * contraction runs over a star FOREST plus the delta — |clustered
    * docs| + |new pairs| edges, not a corpus re-pairing, which is the
    * entire point at a nightly cadence.
    */
  def incrementalClusters(
      spark: SparkSession,
      dir: String,
      tightHamming: Int = 2,
      maxRounds: Int = 30): DataFrame = {
    require(tightHamming >= 0 && tightHamming < 4,
      s"tightHamming ($tightHamming) must sit strictly inside [0, 4) to leave a delta")
    val pairs = Dedup.simhashNearDupPairs(spark, dir).localCheckpoint()
    val tight = Graph.connectedComponents(
      pairs.filter(col("hamming") <= tightHamming).select("d1", "d2"), maxRounds)
      .localCheckpoint() // consumed as star edges AND the report join
    val delta = pairs.filter(col("hamming") > tightHamming).select("d1", "d2")
    val merged = Graph.connectedComponents(
      tight.filter(col("doc_id") =!= col("cluster"))
        .select(col("cluster").as("d1"), col("doc_id").as("d2"))
        .union(delta), maxRounds)
    merged
      .join(tight.select(col("doc_id"), col("cluster").as("cluster_tight")), Seq("doc_id"), "left")
      .select(col("doc_id"), col("cluster"), col("cluster_tight"),
        col("cluster_tight").isNull.as("newly_clustered"),
        (coalesce(col("cluster_tight"), col("doc_id")) =!= col("cluster")).as("relabeled"))
      .orderBy("doc_id")
  }

  /** EXT-C53 (`x150_quality_auc`) — quality-signal DISCRIMINATION audit:
    * the exact tie-aware Mann–Whitney AUC of x7's quality score
    * separating near-duplicated documents (x50's dup-degree set) from
    * clean ones. AUC 0.5 = the score is blind to duplication; far from
    * 0.5 = the gate and the deduper are entangled — x19's threshold is
    * silently ALSO a dedup policy (it preferentially drops one class),
    * which decides whether quality filtering before or after dedup
    * changes the corpus. x115 asks whether two quality signals agree;
    * this asks whether one signal PREDICTS the dedup label, in the
    * single number a pipeline review thresholds.
    *
    * Exactness: `2U = Σ_pos (2·|neg below| + |neg tied|)` is an exact
    * BIGINT (ties at identical doubles — both engines compute the x7
    * quality spelling bit-identically); AUC is one guarded division.
    * The oracle spells the NAIVE |pos|×|neg| comparison, so every run
    * differentially proves the scan below.
    *
    * Scale (the x148 two-level discipline on a VALUE axis): quality is
    * bounded in [0, 1], so deltas bucket by `floor(q·B)`; level 1 ranks
    * (bucket, quality) CLASSES inside each bucket partition, level 2
    * prefixes per-bucket negative counts in the ONE global window —
    * over ≤ B aggregated rows, never the document stream. A naive
    * spelling would globally sort every distinct quality value.
    */
  def qualityAuc(spark: SparkSession, dir: String, buckets: Int = 1000): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(buckets >= 1, s"buckets ($buckets) must be positive")
    val pos = Dedup.dupDegree(spark, dir).select(col("doc_id")).withColumn("is_dup", lit(true))
    val classes = TextAnalysis.statsProjection(spark, dir).select("doc_id", "quality")
      .join(pos, Seq("doc_id"), "left")
      .select(col("quality"),
        coalesce(col("is_dup"), lit(false)).as("is_dup"),
        least(floor(col("quality") * buckets), lit(buckets - 1)).cast("long").as("bkt"))
      .groupBy("bkt", "quality")
      .agg(sum(when(col("is_dup"), 1L).otherwise(0L)).as("p"),
        sum(when(!col("is_dup"), 1L).otherwise(0L)).as("g"))
      .localCheckpoint() // consumed by both scan levels and the fold
    val wB = Window.partitionBy("bkt").orderBy("quality")
      .rowsBetween(Window.unboundedPreceding, -1)
    val wG = Window.orderBy("bkt").rowsBetween(Window.unboundedPreceding, -1)
    val bktPrefix = classes.groupBy("bkt").agg(sum("g").as("gb"))
      .withColumn("neg_before", coalesce(sum("gb").over(wG), lit(0L)))
      .select("bkt", "neg_before")
    classes
      .withColumn("neg_below_in", coalesce(sum("g").over(wB), lit(0L)))
      .join(bktPrefix, Seq("bkt"))
      .agg(
        coalesce(sum("p"), lit(0L)).as("n_pos"),
        coalesce(sum("g"), lit(0L)).as("n_neg"),
        coalesce(sum(col("p") *
          (lit(2L) * (col("neg_before") + col("neg_below_in")) + col("g"))), lit(0L)).as("u2"))
      .withColumn("auc4",
        when(col("n_pos") === 0L || col("n_neg") === 0L, lit(null).cast("double"))
          .otherwise(round(col("u2").cast("double")
            / (lit(2.0) * (col("n_pos") * col("n_neg")).cast("double")), 4)))
  }

  /** EXT-C63 (`x169_quality_calibration`) — quality-score CALIBRATION
    * against the dup label: the reliability-diagram companion of
    * [[qualityAuc]]. The AUC grades the score's RANKING wholesale; this
    * bins documents by score (x150's exact bucket spelling —
    * `least(floor(quality·buckets), buckets−1)`, so the two operators
    * can never disagree on a boundary doc) and reports each bin's
    * population and dup rate — the table that turns a score into a
    * THRESHOLD: a well-calibrated quality score has dup rate falling
    * monotonically across bins, and the bin where it crosses the
    * pipeline's tolerance IS the gate value. Per bin: the exact lower
    * edge (one division), doc/dup counts (BIGINT), dup rate (one
    * division).
    *
    * Scale: the statsProjection scan + one doc_id left join against the
    * banded dup label, folded to ≤ `buckets` rows by a partial agg —
    * nothing downstream of the fold grows with the corpus.
    */
  def qualityCalibration(spark: SparkSession, dir: String, buckets: Int = 10): DataFrame = {
    require(buckets >= 1, s"buckets ($buckets) must be positive")
    val pos = Dedup.dupDegree(spark, dir).select(col("doc_id")).withColumn("is_dup", lit(true))
    TextAnalysis.statsProjection(spark, dir).select("doc_id", "quality")
      .join(pos, Seq("doc_id"), "left")
      .select(
        least(floor(col("quality") * buckets), lit(buckets - 1)).cast("long").as("bin"),
        coalesce(col("is_dup"), lit(false)).as("is_dup"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("is_dup"), 1L).otherwise(0L)).as("n_dup"))
      .select(col("bin"),
        round(col("bin").cast("double") / buckets, 4).as("bin_lo4"),
        col("n_docs"), col("n_dup"),
        round(col("n_dup").cast("double") / col("n_docs"), 4).as("dup_rate4"))
      .orderBy("bin")
  }

  /** EXT-C50 (`x145_triangle_census`) — near-dup graph COHESION audit:
    * [[Graph.triangleCensus]] over x22's SimHash pair graph. The "should I
    * trust this cluster" signal the size histogram (x121) and purity
    * fold (x129) cannot see: a true template family is clique-like
    * (every copy pairs with every copy — cc ≈ 1), while a cluster
    * STITCHED by chains of borderline pairs (the x141 merge hazard, an
    * LSH banding artifact) has cc ≈ 0 at the junction nodes — exactly
    * the docs whose removal splits the cluster, and the principled
    * place to re-verify before x47 picks one representative for what
    * is actually two families.
    */
  def dupTriangles(spark: SparkSession, dir: String): DataFrame =
    Graph.triangleCensus(Dedup.simhashNearDupPairs(spark, dir))

  /** EXT-C49 (`x141_cluster_stability`) — near-dup clustering STABILITY
    * between snapshots: the even-doc half (x93/x102's snapshot binding)
    * clustered ALONE vs the full corpus's clustering restricted to the
    * same docs, compared by exact pair-counting — together-in-both,
    * split-by-new, merged-by-new, apart-in-both, and the Rand index.
    * The drift family's clustering leg: x60 sees token drift, x127
    * length drift, x93 content churn — none of them sees "the new
    * crawl STITCHED my dedup clusters together" (a template family
    * spreading across previously-separate sites), which changes every
    * cluster-rep decision (x47) and drop count (x1/x131) before any
    * frequency moves. `merged_by_new` is that signal, exactly.
    *
    * The containment law (spec-pinned): a doc's SimHash does not
    * depend on other docs, so the old corpus's candidate pairs are
    * EXACTLY `nd_pairs` with both endpoints even — the new edge set is
    * a superset over the shared docs, components can only MERGE, and
    * `split_by_new` is provably 0. The operator still reports the cell
    * (it is generic over snapshot pairs; a genuinely re-crawled corpus
    * with CHANGED text would populate it) — a nonzero value under this
    * binding is a connected-components bug, which is precisely why the
    * oracle computes it too.
    *
    * Exactness: contingency pair-counting — `a = Σ C(n_ij, 2)` over
    * (old, new) label cells, marginals likewise, all BIGINT (`n·(n−1)`
    * is even, so the `div 2` is exact; safe to ~4e9 docs), Rand one
    * rounded division. Docs in no pair are their own singleton cluster
    * (labels coalesce to the doc id), so the universe is every shared
    * doc, not just the paired ones.
    *
    * Scale: ONE pair generation (checkpointed, consumed by both
    * contractions), two x22 contractions, then |cells|-bounded folds —
    * the contingency relation is bounded by cluster counts, never
    * pairwise.
    */
  def clusterStability(spark: SparkSession, dir: String, maxRounds: Int = 30): DataFrame = {
    val pairs = Dedup.simhashNearDupPairs(spark, dir)
      .select(col("d1"), col("d2")).localCheckpoint()
    // r19 (guide §2.6): the two contractions are INDEPENDENT driver
    // loops over the shared checkpointed pair relation — running them
    // concurrently interleaves their (latency-bound) round jobs instead
    // of paying the two loops back to back.
    val (newC0, oldC0) = Par.bothDF(
      Graph.connectedComponents(pairs, maxRounds),
      Graph.connectedComponents(
        pairs.filter(pmod(col("d1"), lit(2)) === 0 && pmod(col("d2"), lit(2)) === 0),
        maxRounds))
    val newC = newC0.withColumnRenamed("cluster", "c_new")
    val oldC = oldC0.withColumnRenamed("cluster", "c_old")
    val asg = Tables.documents(spark, dir)
      .filter(pmod(col("doc_id"), lit(2)) === 0).select("doc_id")
      .join(oldC, Seq("doc_id"), "left")
      .join(newC, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("c_old"), col("doc_id")).as("c_old"),
        coalesce(col("c_new"), col("doc_id")).as("c_new"))
    pairCountingStability(asg)
  }

  /** The exact contingency pair-count over a `(doc_id, c_old, c_new)`
    * assignment relation — x141's fold, factored out so the Rand cell
    * algebra is spec-pinned on hand fixtures independently of the
    * SimHash pipeline that feeds it. |cells| rows after the first
    * groupBy; every downstream relation is 1-row. */
  def pairCountingStability(asg: DataFrame): DataFrame = {
    val cells = asg.groupBy("c_old", "c_new").agg(count(lit(1)).as("nij"))
      .localCheckpoint() // consumed by the cell fold and both marginals
    val a = cells.agg(sum(expr("nij * (nij - 1) div 2")).as("together_both"),
      sum("nij").as("n_docs"))
    val rowsTog = cells.groupBy("c_old").agg(sum("nij").as("ni"))
      .agg(sum(expr("ni * (ni - 1) div 2")).as("old_together"))
    val colsTog = cells.groupBy("c_new").agg(sum("nij").as("nj"))
      .agg(sum(expr("nj * (nj - 1) div 2")).as("new_together"))
    a.crossJoin(broadcast(rowsTog)).crossJoin(broadcast(colsTog))
      .select(col("n_docs"),
        expr("n_docs * (n_docs - 1) div 2").as("all_pairs"),
        col("together_both"),
        (col("old_together") - col("together_both")).as("split_by_new"),
        (col("new_together") - col("together_both")).as("merged_by_new"),
        (expr("n_docs * (n_docs - 1) div 2") - col("old_together")
          - col("new_together") + col("together_both")).as("apart_both"))
      .withColumn("rand4",
        when(col("all_pairs") === 0L, lit(null).cast("double"))
          .otherwise(round((col("together_both") + col("apart_both")).cast("double")
            / col("all_pairs"), 4)))
  }

  /** EXT-C7 — incremental (cross-batch) exact dedup: treat odd doc_ids as
    * the newly-ingested batch and even doc_ids as the existing corpus;
    * keep only new documents whose content digest does not already exist
    * — the production shape for deduping a fresh crawl against an
    * accumulated corpus. One LEFT ANTI join on a 32-byte digest; the
    * existing-corpus side reduces to its distinct digests (map-side
    * partial agg), and at 100 TB the join shuffles by digest — or goes
    * broadcast/bloom when the digest set fits.
    */
  def incrementalDedup(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), sha2(col("text"), 256).as("digest"))
    val corpus = docs.filter(col("doc_id") % 2 === 0).select("digest").distinct()
    docs.filter(col("doc_id") % 2 === 1)
      .join(corpus, Seq("digest"), "left_anti")
      .select("doc_id", "digest")
      .orderBy("doc_id")
  }

  /** EXT-C35 (x98) — dedup survivor-bias audit: does near-dup removal
    * (x22's cluster resolution keeping the lowest-id canonical) shift
    * the quality profile of what remains? Compares kept vs removed
    * cohorts on exact counts and integer sums (docs, chars, tokens,
    * quality-gate pass rate) — the audit a curation pipeline runs before
    * trusting that dedup didn't silently discard its best documents
    * (duplicated content is often HIGH quality — boilerplate licenses,
    * canonical references — so the removed cohort's profile matters).
    *
    * Scale: the cluster relation is bounded by the near-dup evidence
    * (vanishingly small next to the corpus), so the membership join is
    * a broadcast; the cohort fold is a 2-row aggregate over one
    * row-local measurement pass. Means are single IEEE divisions of
    * exact integer sums — oracle-stable.
    */
  def survivorBias(spark: SparkSession, dir: String): DataFrame = {
    val clusters = dedupClusters(spark, dir)
      .where(col("cluster") =!= col("doc_id"))
      .select(col("doc_id"), lit(true).as("removed"))
    // qualityAnnotated keeps n_chars alongside the measurements — one
    // corpus pass, no self-join back for the metadata column
    qualityAnnotated(Tables.documents(spark, dir))
      .join(broadcast(clusters), Seq("doc_id"), "left_outer")
      .select(
        when(coalesce(col("removed"), lit(false)), "removed").otherwise("kept").as("cohort"),
        col("n_chars"), col("n_tokens"), col("keep"))
      .groupBy("cohort")
      .agg(
        count(lit(1)).as("n_docs"),
        sum("n_chars").as("total_chars"),
        sum("n_tokens").as("total_tokens"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_quality_pass"))
      .select(col("cohort"), col("n_docs"), col("total_chars"), col("total_tokens"),
        (col("total_chars").cast("double") / col("n_docs")).as("mean_chars"),
        (col("total_tokens").cast("double") / col("n_docs")).as("mean_tokens"),
        (col("n_quality_pass").cast("double") / col("n_docs")).as("quality_pass_rate"))
      .orderBy("cohort")
  }

  /** EXT-C41 (`x121_cluster_sizes`) — near-dup cluster DEMOGRAPHICS: the
    * size histogram of x22's connected components, singletons included
    * (every document outside any component is its own size-1 cluster —
    * the left-anti complement, so the histogram's doc mass covers the
    * corpus exactly). What x22's per-document labels can't show at a
    * glance: whether duplication lives in a long tail of pairs (benign
    * — the LEFT-ANTI dedup families handle it linearly) or in a few
    * giant clusters (the boilerplate/mirror signature — where the
    * star-contraction round count and the per-cluster rep selection
    * (x47) start to matter, and where a bucket-saturation guard will
    * fire first). Published dedup reports lead with exactly this
    * distribution because its head shape decides the dedup strategy.
    *
    * Output: `(cluster_size, n_clusters, n_docs, docs_share4)` ordered
    * by size; `docs_share4` is one IEEE division of exact BIGINTs.
    *
    * Plan: the component labels are x22's (star contraction, plan
    * contract pinned there); on top of them the histogram is two
    * |clusters|-bounded folds plus the 1-row corpus total broadcast and
    * the singleton count derived by difference — nothing here re-scans
    * text or grows past |clusters| rows.
    */
  def clusterSizes(spark: SparkSession, dir: String, maxRounds: Int = 30): DataFrame =
    clusterSizesOf(
      Graph.connectedComponents(
        Dedup.simhashNearDupPairs(spark, dir).select(col("d1"), col("d2")), maxRounds),
      spark, dir)

  /** EXT-C41 over the PERSISTED index ([[clustersFromIndex]] — stamp-
    * and corpus-validated): bit-equal to [[clusterSizes]] with the
    * contraction loop replaced by one pruned-column label read. The
    * production spelling for the report-every-run cadence: the O(log n)
    * contraction is paid once at [[writeClusterIndex]] time, and each
    * downstream consumer pays only the label scan.
    */
  def clusterSizesFromIndex(
      spark: SparkSession,
      indexPath: String,
      dir: String,
      maxHamming: Int = 4,
      bands: Int = 5,
      bits: Int = 60): DataFrame =
    clusterSizesOf(clustersFromIndex(spark, indexPath, dir, maxHamming, bands, bits), spark, dir)

  private def clusterSizesOf(labels: DataFrame, spark: SparkSession, dir: String): DataFrame = {
    val sizes = labels.groupBy("cluster").agg(count(lit(1)).as("cluster_size"))
    val hist = sizes.groupBy("cluster_size").agg(count(lit(1)).as("n_clusters"))
    val nDocs = Tables.documents(spark, dir)
      .agg(count(lit(1)).as("n_total")).select("n_total")
    val nClustered = labels.agg(count(lit(1)).as("n_clustered"))
    // components have >= 2 members by construction (every member has an
    // edge), so the size-1 bucket is exactly the unpaired complement
    val singles = nDocs.crossJoin(nClustered)
      .select(lit(1L).as("cluster_size"),
        (col("n_total") - col("n_clustered")).as("n_clusters"))
      .filter(col("n_clusters") > 0L)
    hist.unionByName(singles)
      .crossJoin(broadcast(nDocs))
      .select(col("cluster_size"), col("n_clusters"),
        (col("cluster_size") * col("n_clusters")).as("n_docs"),
        round((col("cluster_size") * col("n_clusters")).cast("double") /
          col("n_total"), 4).as("docs_share4"))
      .orderBy("cluster_size")
  }

  /** EXT-C42 (`x123_lang_purity`) — per-source language-mix purity: the
    * document count, distinct languages, the majority language and its
    * share, and the GINI impurity `1 − Σ (n_l/n)²` — spelled as the
    * exact rational `(n² − Σ n_l²) / n²` so both engines evaluate one
    * IEEE division of exact BIGINTs (the repo-wide exactness
    * convention; the entropy spelling would need `ln`, an
    * engine-specific libm call). The mislabeled-scrape detector: a
    * "source" is usually one crawl pipeline with one dominant language,
    * so high impurity either flags boilerplate-heavy multilingual spam
    * or a language-ID model drifting on that domain (x8/x17's output
    * feeding back) — and the mixture weights x48/x68 plan with are only
    * as good as the per-source language labels this audits.
    *
    * Plan: one (source, lang) fold — the wire carries |sources|·|langs|
    * rows, never documents — then a |sources|-row fold where the
    * majority pick is the partial-agg-friendly `max(struct(n_l, lang))`
    * (ties to the LEXICALLY GREATER language — struct-max's natural
    * order, mirrored exactly in the oracle's arg-max spelling).
    */
  def langPurity(spark: SparkSession, dir: String): DataFrame = {
    val cells = Tables.documents(spark, dir)
      .groupBy("source", "lang").agg(count(lit(1)).as("n_l"))
    cells.groupBy("source")
      .agg(
        sum("n_l").as("n_docs"),
        count(lit(1)).as("n_langs"),
        max(struct(col("n_l"), col("lang"))).as("m"),
        sum(col("n_l") * col("n_l")).as("sum_sq"))
      .select(col("source"), col("n_docs"), col("n_langs"),
        col("m.lang").as("majority_lang"),
        round(col("m.n_l").cast("double") / col("n_docs"), 4).as("majority_share4"),
        round((col("n_docs") * col("n_docs") - col("sum_sq")).cast("double") /
          (col("n_docs") * col("n_docs")), 4).as("gini4"))
      .orderBy("source")
  }

  /** EXT-C45 (`x129_cluster_purity`) — near-dup cluster COMPOSITION
    * audit: every x22 component with its membership count, distinct
    * sources, distinct languages, the majority source and its share,
    * and cross-source / cross-lang verdicts. The question x121's size
    * histogram cannot answer: a size-50 cluster of ONE source is site
    * boilerplate (drop 49, keep the site), a size-50 cluster spanning
    * 20 sources is syndication (x128's directed matrix says who feeds
    * whom) — and a cross-LANG cluster under a same-lang fingerprint is
    * a mislabel alarm for x8/x17, since near-identical text should not
    * carry two language labels. Published dedup post-mortems read
    * exactly this split before deciding cluster-rep policy (x47).
    *
    * Plan: x22's labels (plan contract pinned there) under ONE narrow
    * doc_id join to (source, lang), then one cluster-keyed fold; the
    * majority pick is the partial-agg `max(struct(n, source))` over the
    * (cluster, source) sub-fold — |clusters| rows out, nothing pairwise.
    */
  def clusterPurity(spark: SparkSession, dir: String, maxRounds: Int = 30): DataFrame =
    clusterPurityOf(dedupClusters(spark, dir, maxRounds), spark, dir)

  /** EXT-C49 over the PERSISTED index — [[clusterSizesFromIndex]]'s
    * contract for the purity audit: bit-equal to [[clusterPurity]],
    * contraction replaced by the validated label read.
    */
  def clusterPurityFromIndex(
      spark: SparkSession,
      indexPath: String,
      dir: String,
      maxHamming: Int = 4,
      bands: Int = 5,
      bits: Int = 60): DataFrame =
    clusterPurityOf(clustersFromIndex(spark, indexPath, dir, maxHamming, bands, bits), spark, dir)

  private def clusterPurityOf(labels: DataFrame, spark: SparkSession, dir: String): DataFrame = {
    val labeled = labels
      .join(Tables.documents(spark, dir).select("doc_id", "source", "lang"), "doc_id")
      .localCheckpoint() // consumed by the member fold AND the majority sub-fold
    val bySource = labeled.groupBy("cluster", "source").agg(count(lit(1)).as("n_s"))
      .groupBy("cluster")
      .agg(max(struct(col("n_s"), col("source"))).as("mj"))
    labeled.groupBy("cluster")
      .agg(
        count(lit(1)).as("n_members"),
        countDistinct("source").as("n_sources"),
        countDistinct("lang").as("n_langs"))
      .join(bySource, "cluster")
      .select(col("cluster"), col("n_members"), col("n_sources"), col("n_langs"),
        col("mj.source").as("majority_source"),
        round(col("mj.n_s").cast("double") / col("n_members"), 4).as("majority_share4"),
        (col("n_sources") > 1L).as("cross_source"),
        (col("n_langs") > 1L).as("cross_lang"))
      .orderBy("cluster")
  }

}
