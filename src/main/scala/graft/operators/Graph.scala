package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Generic graph engines over an undirected pair relation `(d1, d2)`
  * (d1 < d2, distinct) — the module behind every near-dup-graph query:
  * connected components (x22/x29/x133's contraction), exact-integer
  * damped PageRank (x134), the degree-ordered triangle census (x145)
  * and per-edge truss support (x146). Moved out of [[Curation]] verbatim
  * (VERDICT r12 task 7) — the engines are load-bearing for seven
  * queries and pair streams from ANY detector (SimHash, MinHash,
  * embedding-cosine, linkage) resolve through them.
  *
  * Scale design (the 100 TB story): every engine is keyed shuffles over
  * a checkpointed edge list — components contract in O(diameter) label
  * rounds, PageRank runs a FIXED number of node-keyed power steps in
  * scaled BIGINTs (bit-identical under any fold order), and the
  * triangle engines orient edges by (degree, id) so the wedge join
  * materializes O(m^1.5) rows regardless of hub degree. Nothing is
  * ever pairwise beyond the input pair stream itself.
  */
object Graph {

  /** Connected components over an arbitrary pair relation `(d1, d2)` —
    * the algorithm behind [[Curation.dedupClusters]], exposed separately so any
    * near-dup pair stream (MinHash, embedding-cosine, …) can be resolved
    * to canonical ids, and so the iteration is testable on synthetic
    * graph shapes (chains, stars) independent of fingerprinting.
    */
  def connectedComponents(pairRelation: DataFrame, maxRounds: Int = 30): DataFrame = {
    // materialize the pair relation BEFORE the symmetric union: the two
    // union branches would otherwise each recompute the entire upstream
    // pair pipeline (Spark shares no common subtree across branches)
    val pairs = pairRelation.localCheckpoint()
    val edges = pairs.select(col("d1").as("u"), col("d2").as("v"))
      .union(pairs.select(col("d2").as("u"), col("d1").as("v")))
      .localCheckpoint()
    // seed labels with least(node, min neighbor) — the first star step
    // comes free with the aggregation that enumerates the nodes, saving
    // one full round of the loop below
    var labels = edges.groupBy(col("u").as("node")).agg(min("v").as("m"))
      .select(col("node"), least(col("node"), col("m")).as("label"))
      .localCheckpoint()
    var converged = false
    var round = 0
    while (!converged && round < maxRounds) {
      // r19 (guide §2.4): the min-step `f` is computed DIRECTLY from the
      // label-rewritten edge stream — the r18 loop materialized the
      // contracted edge list first (`distinct` + checkpoint) and then
      // re-derived the same groupBy from it THREE times inside the
      // relabel job. `min` over the non-distinct multiset equals `min`
      // over the distinct set, so the distinct exchange was pure
      // overhead, and `f` is empty exactly iff the contracted relation
      // was (groupBy of an empty input has no groups) — the convergence
      // test is unchanged. Per round this drops one checkpoint job, its
      // distinct exchange, and two recomputations of the min fold; the
      // labels are bit-identical round for round.
      val f = edges
        .join(labels.select(col("node").as("u"), col("label").as("lu")), "u")
        .join(labels.select(col("node").as("v"), col("label").as("lv")), "v")
        .filter(col("lu") =!= col("lv"))
        .groupBy(col("lu").as("old")).agg(min("lv").as("m"))
        .select(col("old"), least(col("old"), col("m")).as("nw"))
        .localCheckpoint()
      if (f.isEmpty) converged = true
      else {
        // g(a) = f(labels(f(a))) — min-step, node-level jump, min-step,
        // fused into one tiny label-keyed map (each hop falls back to
        // identity where undefined). The node-level hop is an INNER join
        // so the planner can build/broadcast whichever side is small
        // (usually f) and stream the other — a left join here would
        // force building the full node table, which is exactly the
        // per-round exchange this fusion exists to avoid; the left-join
        // fallback then runs on the tiny (f ⋈ mid) relations only.
        val mid = labels.select(col("node").as("h1n"), col("label").as("h2"))
          .join(f.select(col("old"), col("nw")), col("h1n") === col("nw"))
          .select(col("old"), col("h2"))
        val g = f
          .join(mid.withColumnRenamed("h2", "h2m"), Seq("old"), "left")
          .select(col("old"), coalesce(col("h2m"), col("nw")).as("h2v"))
          .join(f.select(col("old").as("fo"), col("nw").as("h3")),
            col("h2v") === col("fo"), "left")
          .select(col("old"), coalesce(col("h3"), col("h2v")).as("nw"))
        labels = labels
          .join(g, labels("label") === g("old"), "left")
          .select(labels("node"), coalesce(g("nw"), labels("label")).as("label"))
          .localCheckpoint()
        round += 1
      }
    }
    if (!converged)
      throw new IllegalStateException(
        s"dedupClusters did not converge within $maxRounds rounds — labels would be wrong")
    labels.select(col("node").as("doc_id"), col("label").as("cluster")).orderBy("doc_id")
  }

  /** EXACT-integer damped PageRank over an arbitrary undirected pair
    * relation `(d1, d2)` — the second iterative graph engine next to
    * [[connectedComponents]], exposed generically for the same reason:
    * any pair stream (SimHash, MinHash, linkage) can be ranked. Ranks
    * live in SCALED BIGINTs (initial rank = `scale` per node) and every
    * update is integer arithmetic — contribution `rank div deg`, damped
    * update `(15·scale) div 100 + (85·Σ contrib) div 100` — so the fold
    * is order-insensitive and BOTH engines produce bit-identical ranks
    * (a float PageRank sums neighbor doubles in shuffle order, which no
    * hash oracle can pin). Fixed `iters` power steps, not
    * convergence-tested: an audit wants a deterministic, restartable
    * cost, and 5 damped steps separate hubs from leaves at any size.
    *
    * Overflow bound: per-node incoming mass ≤ total mass = n·scale, so
    * `85·Σ` needs n·scale ≤ ~1e17 — at the default scale 1e9 that is
    * 1e8 nodes; beyond, lower `scale` (or the x110 decimal spelling).
    *
    * Scale: each step is two equi-joins keyed by node id (contribution
    * join, incoming-sum shuffle) over the checkpointed symmetric edge
    * list — the x22 contraction's cost shape with a FIXED round count;
    * degree and rank relations are |nodes| rows, never pairwise.
    */
  def pageRank(
      pairRelation: DataFrame,
      iters: Int = 5,
      scale: Long = 1000000000L): DataFrame = {
    require(iters >= 1 && iters <= 50, s"iters ($iters) must be in [1, 50]")
    require(scale >= 100L, s"scale ($scale) must carry the damping hundredths")
    val pairs = pairRelation.localCheckpoint()
    val sym = pairs.select(col("d1").as("u"), col("d2").as("v"))
      .union(pairs.select(col("d2").as("u"), col("d1").as("v")))
      .localCheckpoint()
    val deg = sym.groupBy(col("u").as("node")).agg(count(lit(1)).as("deg"))
      .localCheckpoint()
    // enforce the documented overflow bound LOUDLY (the repo's other
    // saturation guards' convention): per-node incoming mass ≤ n·scale,
    // so the damped fold needs 85·n·scale to fit a BIGINT. deg is
    // already checkpointed, so the count is one cheap |nodes| job.
    val nNodes = deg.count()
    require(nNodes <= Long.MaxValue / 85L / scale,
      s"pageRank overflow: $nNodes nodes at scale=$scale breaks the BIGINT bound " +
        s"(needs nodes <= ${Long.MaxValue / 85L / scale}) — lower `scale`")
    val base = 15L * scale / 100L
    var rank = deg.select(col("node"), lit(scale).as("rank"))
    for (_ <- 1 to iters) {
      val contrib = rank.join(deg, Seq("node"))
        .select(col("node").as("u"), expr("rank div deg").as("ctr"))
      // every node has deg >= 1 and a symmetric in-edge, so the node
      // set is preserved exactly by the incoming fold — no dangling-
      // node correction term exists in an undirected pair graph
      rank = sym.join(contrib, Seq("u"))
        .groupBy(col("v").as("node"))
        .agg(sum("ctr").as("in_sum"))
        .select(col("node"),
          (lit(base) + expr("(85 * in_sum) div 100")).as("rank"))
        .localCheckpoint()
    }
    rank.join(deg, Seq("node"))
      .select(col("node").as("doc_id"), col("deg").as("degree"),
        col("rank").as("rank_scaled"),
        round(col("rank").cast("double") / scale, 4).as("rank4"))
      .orderBy("doc_id")
  }

  /** EXACT-integer PERSONALIZED PageRank — [[pageRank]] with the
    * teleport mass confined to a seed set: seeds start at `scale` and
    * re-receive the damping base every step, non-seeds start at 0 and
    * receive only propagated mass. Rank then measures proximity to the
    * seeds through the graph (TrustRank's shape: seed the walk at
    * vetted nodes, read off how much trust reaches everything else),
    * instead of [[pageRank]]'s global centrality. Same scaled-BIGINT
    * arithmetic — `rank div deg` contributions, `(85·Σ) div 100`
    * damping — so both engines are bit-identical under any fold order;
    * same fixed `iters`, same overflow bound (total mass only shrinks
    * from the seeded n·scale ceiling). Seeds outside the graph are
    * ignored (trust propagates only along pair evidence).
    *
    * Scale: identical cost shape to [[pageRank]] — two node-keyed
    * equi-joins per step over the checkpointed symmetric edge list,
    * plus one |nodes| seed-flag join per step.
    */
  def personalizedPageRank(
      pairRelation: DataFrame,
      seeds: DataFrame,
      iters: Int = 5,
      scale: Long = 1000000000L): DataFrame = {
    require(iters >= 1 && iters <= 50, s"iters ($iters) must be in [1, 50]")
    require(scale >= 100L, s"scale ($scale) must carry the damping hundredths")
    val pairs = pairRelation.localCheckpoint()
    val sym = pairs.select(col("d1").as("u"), col("d2").as("v"))
      .union(pairs.select(col("d2").as("u"), col("d1").as("v")))
      .localCheckpoint()
    val deg = sym.groupBy(col("u").as("node")).agg(count(lit(1)).as("deg"))
    val seeded = deg
      .join(seeds.select(col("node")).distinct().withColumn("is_seed", lit(true)),
        Seq("node"), "left")
      .select(col("node"), col("deg"), coalesce(col("is_seed"), lit(false)).as("is_seed"))
      .localCheckpoint() // consumed every step (base term) and in the report
    val nNodes = seeded.count()
    require(nNodes <= Long.MaxValue / 85L / scale,
      s"personalizedPageRank overflow: $nNodes nodes at scale=$scale breaks the BIGINT " +
        s"bound (needs nodes <= ${Long.MaxValue / 85L / scale}) — lower `scale`")
    val base = 15L * scale / 100L
    var rank = seeded.select(col("node"),
      when(col("is_seed"), lit(scale)).otherwise(lit(0L)).as("rank"))
    for (_ <- 1 to iters) {
      val contrib = rank.join(seeded.select("node", "deg"), Seq("node"))
        .select(col("node").as("u"), expr("rank div deg").as("ctr"))
      rank = sym.join(contrib, Seq("u"))
        .groupBy(col("v").as("node"))
        .agg(sum("ctr").as("in_sum"))
        .join(seeded.select("node", "is_seed"), Seq("node"))
        .select(col("node"),
          (when(col("is_seed"), lit(base)).otherwise(lit(0L))
            + expr("(85 * in_sum) div 100")).as("rank"))
        .localCheckpoint()
    }
    rank.join(seeded, Seq("node"))
      .select(col("node").as("doc_id"), col("deg").as("degree"), col("is_seed"),
        col("rank").as("rank_scaled"),
        round(col("rank").cast("double") / scale, 4).as("rank4"))
      .orderBy("doc_id")
  }

  /** EXACT triangle census over an arbitrary undirected pair relation
    * `(d1, d2)` (d1 < d2, distinct) — the third generic graph engine
    * next to [[connectedComponents]] and [[pageRank]]. Per node: its
    * degree, the exact number of triangles through it, and the local
    * clustering coefficient `2T / (deg·(deg−1))` (NULL below degree 2).
    *
    * Algorithm: degree-ordered ORIENTATION (each edge directed from the
    * lower (deg, id) endpoint to the higher — a total order, so the
    * oriented graph is acyclic) then one wedge self-join at the low
    * endpoint closed by an oriented-edge membership join. Each triangle
    * {x<y<z} is found exactly once, as the wedge (x→y, x→z) closed by
    * y→z. This is the standard distributed-triangle bound: oriented
    * out-degree is O(√m) on ANY graph (a node of degree d > √m has all
    * out-neighbors of degree ≥ d, and there are < √m of those), so the
    * wedge join materializes Σ outdeg² ≤ O(m^{3/2}) rows REGARDLESS of
    * hub degree — a raw neighbor self-join would square the hottest
    * hub's degree instead. All joins are keyed shuffles; counts are
    * BIGINTs; one guarded rounded division per node.
    */
  def triangleCensus(pairRelation: DataFrame): DataFrame = {
    val pairs = pairRelation.select(col("d1"), col("d2")).localCheckpoint()
    val deg = pairDegrees(pairs)
    val perNode = orientedTriangles(pairs, deg)
      .select(explode(array(col("a"), col("b"), col("c"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("n_tri"))
    deg.join(perNode, Seq("node"), "left")
      .select(col("node").as("doc_id"), col("deg").as("degree"),
        coalesce(col("n_tri"), lit(0L)).as("n_triangles"))
      .withColumn("cc4",
        when(col("degree") < 2L, lit(null).cast("double"))
          .otherwise(round(lit(2.0) * col("n_triangles").cast("double")
            / (col("degree") * (col("degree") - 1L)).cast("double"), 4)))
      .orderBy("doc_id")
  }

  /** Degree per node of an undirected (d1 < d2) pair relation. */
  private def pairDegrees(pairs: DataFrame): DataFrame =
    pairs.select(col("d1").as("u"), col("d2").as("v"))
      .union(pairs.select(col("d2").as("u"), col("d1").as("v")))
      .groupBy(col("u").as("node")).agg(count(lit(1)).as("deg"))
      .localCheckpoint()

  /** Each triangle exactly once as `(a, b, c)` under the degree-ordered
    * orientation — the shared core of [[triangleCensus]] (per-node
    * counts) and [[edgeSupport]] (per-edge counts). See
    * [[triangleCensus]] for the O(√m) out-degree bound argument.
    */
  private def orientedTriangles(pairs: DataFrame, deg: DataFrame): DataFrame = {
    val lowFirst = struct(col("g1"), col("d1")) < struct(col("g2"), col("d2"))
    val oriented = pairs
      .join(deg.select(col("node").as("d1"), col("deg").as("g1")), "d1")
      .join(deg.select(col("node").as("d2"), col("deg").as("g2")), "d2")
      .select(when(lowFirst, col("d1")).otherwise(col("d2")).as("src"),
        when(lowFirst, col("d2")).otherwise(col("d1")).as("dst"))
      .localCheckpoint() // consumed by the wedge join (twice) and the closure probe
    oriented.as("e1")
      .join(oriented.as("e2"), col("e1.src") === col("e2.src"))
      .filter(col("e1.dst") =!= col("e2.dst"))
      .select(col("e1.src").as("a"), col("e1.dst").as("b"), col("e2.dst").as("c"))
      // of a wedge's two (b, c) orderings exactly one matches an
      // oriented closure edge — each triangle counted once, no dedup
      .join(oriented.select(col("src").as("b"), col("dst").as("c")), Seq("b", "c"))
  }

  /** EXACT per-EDGE triangle support over an undirected pair relation —
    * the k-truss level companion to [[triangleCensus]]: for every edge,
    * how many triangles contain it, and the `unsupported` verdict
    * (support 0 — the edge shares no common neighbor with its other
    * endpoint). Each triangle contributes its three canonical
    * (min, max) edges to one digest-style fold; the full edge list
    * joins back so zero-support edges stay visible.
    */
  def edgeSupport(pairRelation: DataFrame): DataFrame = {
    val pairs = pairRelation.select(col("d1"), col("d2")).localCheckpoint()
    supportOf(pairs)
      .withColumn("unsupported", col("support") === 0L)
      .orderBy("d1", "d2")
  }

  /** Per-edge triangle support of an ALREADY-MATERIALIZED (d1 < d2)
    * pair relation — the shared unit of [[edgeSupport]] (one pass) and
    * [[kTruss]] (one pass per peel round). Left join keeps zero-support
    * edges visible; the triangle core is the oriented O(m^1.5)-bounded
    * wedge join of [[triangleCensus]].
    */
  private def supportOf(pairs: DataFrame): DataFrame = {
    val tris = orientedTriangles(pairs, pairDegrees(pairs))
    val sup = tris.select(explode(array(
        struct(least(col("a"), col("b")).as("d1"), greatest(col("a"), col("b")).as("d2")),
        struct(least(col("a"), col("c")).as("d1"), greatest(col("a"), col("c")).as("d2")),
        struct(least(col("b"), col("c")).as("d1"), greatest(col("b"), col("c")).as("d2")))).as("e"))
      .select(col("e.d1").as("d1"), col("e.d2").as("d2"))
      .groupBy("d1", "d2").agg(count(lit(1)).as("support"))
    pairs.join(sup, Seq("d1", "d2"), "left")
      .select(col("d1"), col("d2"),
        coalesce(col("support"), lit(0L)).as("support"))
  }

  /** EXACT k-truss membership per edge — the peeling fixpoint
    * [[edgeSupport]] is one round short of: repeatedly delete every
    * edge whose support (triangles containing it) in the SURVIVING
    * subgraph is below k−2, until a round deletes nothing. The maximal
    * subgraph in which every edge closes ≥ k−2 triangles — the
    * principled "clique-like core vs stitched chain" verdict per edge
    * (a near-dup cluster's truss edges are the trustworthy ones; edges
    * outside it were glued by one or two accidental collisions).
    *
    * Returns every ORIGINAL edge with its original support and the
    * `in_truss` verdict, so consumers see what was peeled and why.
    *
    * Contract: the bounded driver-loop convention of
    * [[connectedComponents]] — each round recomputes support over the
    * checkpointed surviving edge list (the oriented wedge join keeps
    * every round O(m'^1.5) in the CURRENT edge count m', which only
    * shrinks) and the loop THROWS if `maxRounds` removal rounds did
    * not reach the fixpoint, rather than returning a half-peeled
    * subgraph. Convergence is the exact `|keep| == |edges|` test on
    * materialized relations; peeling is monotone (edges only leave),
    * so ≤ m rounds always terminate in principle and real graphs
    * cascade in a handful.
    *
    * Scale: the per-round cost unit is exactly [[edgeSupport]]'s —
    * keyed shuffles over the surviving edges, nothing pairwise beyond
    * the input pair stream; the driver holds only two edge COUNTS.
    */
  def kTruss(pairRelation: DataFrame, k: Int = 4, maxRounds: Int = 10): DataFrame = {
    require(k >= 3, s"k ($k) must be >= 3 — a 2-truss is every edge")
    val pairs = pairRelation.select(col("d1"), col("d2")).localCheckpoint()
    // original support, reported alongside the verdict (and serving as
    // round 0's peel input — the first filter below reuses it)
    val sup0 = supportOf(pairs).localCheckpoint()
    var edges = pairs
    var nEdges = edges.count()
    var support = sup0
    var converged = false
    var round = 0
    while (!converged) {
      val keep = support.filter(col("support") >= k - 2)
        .select("d1", "d2").localCheckpoint()
      val nKeep = keep.count()
      if (nKeep == nEdges) converged = true
      else if (round >= maxRounds)
        throw new IllegalStateException(
          s"kTruss(k=$k) did not reach the peel fixpoint within $maxRounds rounds " +
            s"($nEdges -> $nKeep edges still falling) — raise maxRounds")
      else {
        edges = keep
        nEdges = nKeep
        support = supportOf(edges)
        round += 1
      }
    }
    sup0.join(edges.withColumn("in_truss", lit(true)), Seq("d1", "d2"), "left")
      .select(col("d1"), col("d2"), col("support"),
        coalesce(col("in_truss"), lit(false)).as("in_truss"))
      .orderBy("d1", "d2")
  }

  /** EXACT k-core membership per node — [[kTruss]]'s node-level sibling:
    * repeatedly delete every node whose degree in the SURVIVING subgraph
    * is below k (and the edges it carried), until a round deletes
    * nothing. The maximal subgraph of minimum degree ≥ k — the densely-
    * embedded nodes a hub/periphery split wants, at a fraction of the
    * truss's cost: each peel round is ONE degree fold + one node-keyed
    * edge restriction, no triangle enumeration at all.
    *
    * Returns every ORIGINAL node with its original degree and the
    * `in_kcore` verdict. Same bounded driver-loop contract as
    * [[kTruss]]: converges when `|keep| == |nodes|` on materialized
    * relations, THROWS past `maxRounds` removal rounds; the node count
    * strictly decreases every non-converged round, so termination is
    * structural. Peel depth is graph-dependent (chains shed one layer
    * per round) — measured on the harness near-dup graph: 5 removal
    * rounds at sf0.1, 9 at the 10× slice, geometric shedding with a
    * shallow tail — so budget maxRounds generously; each round is two
    * cheap keyed joins.
    */
  def kCore(pairRelation: DataFrame, k: Int = 3, maxRounds: Int = 20): DataFrame = {
    require(k >= 1, s"k ($k) must be >= 1")
    val pairs = pairRelation.select(col("d1"), col("d2")).localCheckpoint()
    val deg0 = pairDegrees(pairs)
    var edges = pairs
    var deg = deg0
    var converged = false
    var round = 0
    while (!converged) {
      // r19 (guide §2.4 / job-count): BOTH convergence counts come from
      // ONE 1-row fold over the checkpointed degree relation — the r18
      // round paid a `keep` checkpoint job + keep.count + deg.count
      // (three driver actions) for the same two numbers. The surviving
      // node set is re-derived lazily from the cached `deg` where the
      // edge restriction consumes it; identical relations, same rounds.
      val counts = deg.agg(count(lit(1)).as("n"),
        coalesce(sum(when(col("deg") >= k, 1L).otherwise(0L)), lit(0L)).as("nk")).head()
      val nNodes = counts.getLong(0)
      val nKeep = counts.getLong(1)
      if (nKeep == nNodes) converged = true
      else if (round >= maxRounds)
        throw new IllegalStateException(
          s"kCore(k=$k) did not reach the peel fixpoint within $maxRounds rounds " +
            s"($nNodes -> $nKeep nodes still falling) — raise maxRounds")
      else {
        val keep = deg.filter(col("deg") >= k)
        edges = edges
          .join(keep.select(col("node").as("d1")), "d1")
          .join(keep.select(col("node").as("d2")), "d2")
          .localCheckpoint()
        deg = pairDegrees(edges)
        round += 1
      }
    }
    deg0.join(deg.select(col("node")).withColumn("in_kcore", lit(true)), Seq("node"), "left")
      .select(col("node").as("doc_id"), col("deg").as("degree"),
        coalesce(col("in_kcore"), lit(false)).as("in_kcore"))
      .orderBy("doc_id")
  }

  /** EXACT multi-source BFS hop distances over an undirected pair
    * relation: per reachable node, the minimum number of edges from the
    * nearest source. The frontier-expansion loop every distributed BFS
    * uses — each round is ONE edge-keyed equi-join (frontier ⋈ edges),
    * a distinct, and an anti-join against the settled set; rounds =
    * eccentricity, not node count (measured on the harness near-dup
    * graph: 19 rings at the 10× slice's 17k clustered docs — which is
    * why the default budget is 24, x157's round budget, not a
    * round-number 8 that the first realistic graph would blow through).
    * Same bounded driver-loop contract as the peel
    * engines: converges when the frontier empties, THROWS past
    * `maxHops` expansion rounds instead of silently truncating
    * distances.
    *
    * `sources` is a `node` relation; unreachable nodes are absent from
    * the result (callers decide whether absence is an error).
    */
  def hopsFrom(pairRelation: DataFrame, sources: DataFrame, maxHops: Int = 24): DataFrame = {
    val pairs = pairRelation.select(col("d1"), col("d2")).localCheckpoint()
    val sym = pairs.select(col("d1").as("u"), col("d2").as("v"))
      .union(pairs.select(col("d2").as("u"), col("d1").as("v")))
      .localCheckpoint()
    val ring0 = sources.select(col("node")).distinct().localCheckpoint()
    // r18: per ring, anti-join the TWO most recent rings instead of the
    // whole accumulated distance relation. Sound on an UNDIRECTED pair
    // graph (sym is symmetric by construction): neighbors of a ring-k
    // node sit at multi-source distance k−1, k, or k+1, so every
    // already-settled neighbor is in ring k or ring k−1 — subtracting
    // those two removes exactly N(F_k) ∩ settled. This drops the
    // per-ring accumulator UNION + checkpoint job (the old loop paid
    // materialize-next + isEmpty + materialize-dist = ~3 jobs/ring; BFS
    // depth on chain-stitched near-dup families runs to ~10 rings, and
    // x157's profile showed the query is pure job-count overhead — no
    // stage over 0.3 s). The rings union once at the END, each leg
    // already materialized. (An earlier r-round note measured a k-way
    // anti-join-against-all-rings variant SLOWER — this is not that:
    // the anti-join target here is two bounded rings, never the union.)
    var rings = List(ring0.withColumn("hops", lit(0L)))
    var frontier = ring0
    var prev: Option[DataFrame] = None
    var hops = 0L
    var converged = false
    while (!converged) {
      val expanded = sym.join(frontier.withColumnRenamed("node", "u"), "u")
        .select(col("v").as("node")).distinct()
        .join(frontier, Seq("node"), "left_anti")
      val next = prev.fold(expanded)(p => expanded.join(p, Seq("node"), "left_anti"))
        .localCheckpoint()
      if (next.isEmpty) converged = true
      else if (hops >= maxHops)
        throw new IllegalStateException(
          s"hopsFrom did not settle within $maxHops expansion rounds " +
            s"(${next.count()} nodes still unsettled after $maxHops rings) — " +
            "raise maxHops")
      else {
        hops += 1
        rings ::= next.withColumn("hops", lit(hops))
        prev = Some(frontier)
        frontier = next
      }
    }
    rings.reduce(_ union _)
  }

  /** SYNCHRONOUS label propagation — the fourth generic engine shape:
    * every node starts with a seed label, and each of the FIXED `iters`
    * rounds simultaneously replaces every node's label with the MODE of
    * its neighbors' previous-round labels (each neighbor votes once;
    * ties break to the lexically smallest label). Fixed synchronous
    * rounds make the result deterministic by construction — asynchronous
    * LPA's order-dependence and the bipartite oscillation hazard are
    * both definitional non-issues because the round count IS part of the
    * operator's contract (x134's convention: unrollable, so the oracle
    * can spell the identical computation).
    *
    * Nodes are the pair endpoints; seeds must cover every node (enforced
    * — a node without a seed label has no round-0 vote to give, which
    * would make the mode ill-defined). Seeds for non-nodes are ignored.
    *
    * Scale: per round, one edge-keyed equi-join (labels onto the
    * checkpointed symmetric edge list) and two keyed aggregations —
    * `(node, label)` count then a per-node struct-argmin fold
    * ((−count, label) min = largest count, smallest label), which
    * partial-aggregates map-side: no window over the neighbor stream,
    * no cartesian, fixed plan depth.
    */
  def labelPropagation(
      pairRelation: DataFrame,
      seeds: DataFrame,
      iters: Int = 4): DataFrame = {
    require(iters >= 1 && iters <= 50, s"iters ($iters) must be in [1, 50]")
    val pairs = pairRelation.select(col("d1"), col("d2")).localCheckpoint()
    val sym = pairs.select(col("d1").as("u"), col("d2").as("v"))
      .union(pairs.select(col("d2").as("u"), col("d1").as("v")))
      .localCheckpoint()
    // r19: the node relation is consumed exactly once (by the seed
    // join), so checkpointing it separately paid a whole job for
    // nothing — it folds into the `seeded` checkpoint's plan.
    val nodes = sym.select(col("u").as("node")).distinct()
    val seeded = nodes
      .join(seeds.select(col("node"), col("label").as("seed_label")), Seq("node"), "left")
      .localCheckpoint()
    val unseeded = seeded.filter(col("seed_label").isNull).count()
    require(unseeded == 0L,
      s"labelPropagation: $unseeded graph node(s) carry no seed label — " +
        "every pair endpoint must appear in `seeds`")
    var lab = seeded.select(col("node"), col("seed_label").as("label"))
    for (_ <- 1 to iters) {
      lab = sym.join(lab.withColumnRenamed("node", "v"), "v")
        .groupBy(col("u"), col("label")).agg(count(lit(1)).as("c"))
        .groupBy(col("u").as("node"))
        .agg(min(struct(negate(col("c")).as("nc"), col("label").as("l"))).as("b"))
        .select(col("node"), col("b.l").as("label"))
        .localCheckpoint()
    }
    seeded.join(lab, Seq("node"))
      .select(col("node").as("doc_id"), col("seed_label"), col("label").as("community"),
        (col("label") =!= col("seed_label")).as("changed"))
      .orderBy("doc_id")
  }
}
