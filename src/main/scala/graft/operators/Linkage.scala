package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Entity resolution / record linkage (SURVEY.md §2b north-star surface).
  *
  * The classic two-phase shape every production linkage pipeline uses
  * (Fellegi–Sunter lineage): a cheap BLOCKING key bounds the candidate
  * space — only records sharing a block are ever compared — then an
  * exact pairwise similarity scores the candidates and an argmax picks
  * each record's best match. The reference engine's replication surface
  * (behavioral spec: `FlinkKafkaReplicator.java` moves envelopes, it
  * never joins them) has no linkage; this family is part of the
  * training-data extension surface: catalog/entity tables feeding a
  * pipeline need "is this the same product/author/page?" resolved
  * before features are aggregated, and the SAME blocked-join discipline
  * is what the dedup families here (x2/x3/x111) use on documents.
  *
  * Scale: blocking is the whole argument. The self-join is an EQUI-join
  * on the block key (one shuffle, AQE-skew-splittable), pair expansion
  * is Σ_b |b|² bounded by the block-key design — never all-pairs — and
  * the argmax is a partial-agg-friendly struct-max, so map partitions
  * collapse to one candidate per left record before the final shuffle.
  * A block key too coarse shows up as a hot partition, and the fix is
  * key composition (add a second attribute), not a bigger cluster —
  * documented at the call site; the eval key (brand, size) keeps blocks
  * at the tens-of-records scale the technique targets at any SF.
  */
object Linkage {

  /** EXT-L1 (`x118_entity_resolution`) — best-match record linkage over
    * the `part` catalog: records blocked by `(p_brand, p_size)`, scored
    * within a block by exact character Levenshtein on `p_name`
    * (`sim = 1 − dist/max(len)`, x111's normalization — Spark's
    * `levenshtein` and DuckDB's are the same dynamic program, so scores
    * hash-match exactly), each record reporting its single best match
    * (max sim4, ties to the LOWER candidate key — the struct-max
    * spelling shared with [[Curation.clusterRepresentatives]]). Records
    * alone in their block stay visible with a NULL match (the left-join
    * + guard convention): "no candidate" is a finding, not a dropped row.
    *
    * Output: `(p_partkey, block_brand, block_size, n_block, match_key,
    * dist, sim4)` ordered by key; `n_block` is the block population —
    * the audit column that tells a reader whether the blocking key is
    * doing its job (a huge block means the pair bound, and the cost, is
    * degenerating toward all-pairs).
    */
  /** The blocked, scored pair relation both linkage faces consume:
    * every DIRECTED within-block pair (both orders present — the argmax
    * reads it per left record, the cluster face halves it to d1 < d2)
    * with the exact Levenshtein distance and the rounded similarity.
    */
  private def scoredPairs(spark: SparkSession, dir: String): DataFrame = {
    val p = Tables.part(spark, dir)
      .select(col("p_partkey"), col("p_brand"), col("p_size"),
        col("p_name"), length(col("p_name")).cast("long").as("len"))
    val a = p.select(col("p_partkey"), col("p_brand"), col("p_size"),
      col("p_name").as("name_a"), col("len").as("len_a"))
    val b = p.select(col("p_partkey").as("cand_key"), col("p_brand"), col("p_size"),
      col("p_name").as("name_b"), col("len").as("len_b"))
    val g = greatest(col("len_a"), col("len_b"))
    a.join(b, Seq("p_brand", "p_size"))
      .filter(col("p_partkey") =!= col("cand_key"))
      .select(col("p_partkey"), col("cand_key"), g.as("g"),
        levenshtein(col("name_a"), col("name_b")).cast("long").as("dist"))
      .select(col("p_partkey"), col("cand_key"), col("dist"),
        round(when(col("g") === 0L, 1.0)
          .otherwise(lit(1.0) - col("dist").cast("double") / col("g")), 4).as("sim4"))
  }

  def entityResolution(spark: SparkSession, dir: String): DataFrame = {
    val p = Tables.part(spark, dir)
      .select(col("p_partkey"), col("p_brand"), col("p_size"),
        col("p_name"), length(col("p_name")).cast("long").as("len"))
    val scored = scoredPairs(spark, dir)
    // partial-agg argmax: max(struct(sim4, -cand_key, …)) picks the best
    // similarity, ties to the lower candidate key, and carries the
    // distance along — one candidate per (record, partition) crosses
    // the wire, no window over the pair stream
    val best = scored
      .groupBy("p_partkey")
      .agg(
        max(struct(col("sim4"), (-col("cand_key")).as("nk"),
          (-col("dist")).as("nd"))).as("m"),
        (count(lit(1)) + 1L).as("n_block"))
    p.select(col("p_partkey"), col("p_brand").as("block_brand"),
        col("p_size").as("block_size"))
      .join(best, Seq("p_partkey"), "left")
      .select(col("p_partkey"), col("block_brand"), col("block_size"),
        coalesce(col("n_block"), lit(1L)).as("n_block"),
        (-col("m.nk")).as("match_key"),
        (-col("m.nd")).as("dist"),
        col("m.sim4").as("sim4"))
      .orderBy("p_partkey")
  }

  /** EXT-L2 (`x133_entity_clusters`) — the Fellegi–Sunter loop CLOSED:
    * the blocked pair relation, thresholded at `minSim4`, resolved to
    * ENTITY clusters by the one connected-components engine every pair
    * stream here reuses ([[Graph.connectedComponents]] — x22's star
    * contraction, labels = component min id), then audited with x129's
    * purity shape over the catalog attributes the blocking key does NOT
    * pin: member count, distinct `p_type` count, the majority type and
    * its share, the cross-type flag, and the retail-price span. x118
    * answers "who is each record's best match"; this answers "which
    * records ARE one entity" — best-match is not transitive (A→B, B→C
    * with A's best ≠ C), so a catalog merge needs the component, not
    * the argmax — and the purity columns are the merge-safety audit: a
    * cluster spanning two types or a wide price span is a blocking-key
    * collision (same brand+size, different product), exactly the
    * finding x129's cross-source flag surfaces for near-dup text.
    *
    * Scale: the pair relation is the blocked equi-join (Σ_b |b|²
    * bounded — the module's whole argument), the contraction is x22's
    * measured O(log n) loop, and the purity fold consumes ONE
    * checkpointed membership relation: a narrow partkey join + two
    * cluster-keyed partial aggs, no window over pairs or members.
    */
  def entityClusters(
      spark: SparkSession,
      dir: String,
      minSim4: Double = 0.7,
      maxRounds: Int = 30): DataFrame = {
    val edges = scoredPairs(spark, dir)
      .filter(col("p_partkey") < col("cand_key") && col("sim4") >= minSim4)
      .select(col("p_partkey").as("d1"), col("cand_key").as("d2"))
    val members = Graph.connectedComponents(edges, maxRounds)
      .select(col("doc_id").as("p_partkey"), col("cluster"))
      .join(Tables.part(spark, dir).select("p_partkey", "p_type", "p_retailprice"), "p_partkey")
      .localCheckpoint() // consumed by the member fold AND the majority sub-fold
    val byType = members.groupBy("cluster", "p_type").agg(count(lit(1)).as("n_t"))
      .groupBy("cluster").agg(max(struct(col("n_t"), col("p_type"))).as("mj"))
    members.groupBy("cluster")
      .agg(
        count(lit(1)).as("n_members"),
        countDistinct("p_type").as("n_types"),
        max("p_retailprice").as("px"),
        min("p_retailprice").as("pn"))
      .join(byType, "cluster")
      .select(col("cluster"), col("n_members"), col("n_types"),
        col("mj.p_type").as("majority_type"),
        round(col("mj.n_t").cast("double") / col("n_members"), 4).as("majority_share4"),
        (col("n_types") > 1L).as("cross_type"),
        round(col("px") - col("pn"), 2).as("price_span2"))
      .orderBy("cluster")
  }
}
