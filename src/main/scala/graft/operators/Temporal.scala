package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Temporal operators over the event stream (SURVEY.md §2b): batch
  * sessionization (the oracle-checkable twin of
  * [[graft.streaming.StreamOps.sessionize]]), as-of join, and range join
  * — the two join shapes Spark has no native operator for, composed from
  * built-ins in their standard scalable spellings.
  *
  * All timestamp arithmetic is in exact integer microseconds
  * (`unix_micros`) so the DuckDB oracle reproduces every comparison.
  */
object Temporal {

  /** EXT-X1 — gap-based sessionization in batch: events of a user belong
    * to one session while consecutive gaps are ≤ `gapSec`. Session id =
    * running count of gap-breaks (two analytic functions over one
    * (user, ts) window), then one aggregation per session.
    *
    * Scale: one shuffle by user_id (the partition key of both window
    * functions and the session aggregation — Catalyst reuses the single
    * sort); per-user data streams through the running sum without
    * materializing sessions. Skewed users are bounded by their own event
    * counts, never by the corpus.
    */
  def sessionize(spark: SparkSession, dir: String, gapSec: Long = 1800): DataFrame =
    sessions(spark, dir, gapSec).orderBy("user_id", "session_id")

  /** The session relation WITHOUT the presentation sort — aggregating
    * consumers ([[peakConcurrency]]) skip the global sort exchange.
    */
  private def sessions(spark: SparkSession, dir: String, gapSec: Long): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts")
    val cum = Window.partitionBy("user_id").orderBy("ts")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Replication.events(spark, dir)
      .select(col("user_id"), col("ts"), unix_micros(col("ts")).as("us"))
      .withColumn("brk",
        when(col("us") - lag("us", 1).over(w) > gapSec * 1000000L, 1L).otherwise(0L))
      .withColumn("session_id", sum("brk").over(cum))
      .groupBy("user_id", "session_id")
      .agg(
        min("ts").as("session_start"),
        max("ts").as("session_end"),
        count(lit(1)).as("n_events"))
  }

  /** EXT-X14 (`x148_peak_concurrency`) — per-DAY peak session
    * concurrency by exact sweep-line, spelled as a DISTRIBUTED prefix
    * scan. Each x26 session contributes +1 at its start and −1 at its
    * end (closed intervals: at an equal instant the +1 processes first,
    * so touching sessions count as concurrent); per day the output is
    * the boundary-event counts, the standing open count at day
    * start/end, and the maximum of the running concurrency over the
    * day's boundary instants.
    *
    * The scan decomposition (the reason this survives 100 TB where a
    * single global `ORDER BY ts` window cannot): level 1 sorts deltas
    * only WITHIN (day, hour) partitions — the bounded leaf — computing
    * each hour's internal running peak and net; level 2 prefixes hour
    * NETS within each day (≤ 24 aggregated rows per partition); level 3
    * prefixes day nets globally (ONE unpartitioned window, but over the
    * |days| aggregated relation — the x119 contraction discipline:
    * windows order classes, never the event stream). Peak(day) =
    * carry_in + max over hours of (prefix_before_hour + intra_peak) —
    * an exact algebraic identity of the global running sum, no
    * approximation. All integers; no division anywhere.
    *
    * Domain note: day/hour bucketing uses truncating `div` on the epoch
    * microseconds, which floors only for NON-NEGATIVE timestamps —
    * pre-1970 sessions would bucket one cell high. Event time in this
    * engine is ingest time, so the bound is structural, not practical;
    * a corpus with historical timestamps would switch to floor-div.
    */
  def peakConcurrency(spark: SparkSession, dir: String, gapSec: Long = 1800): DataFrame = {
    val hourly = concurrencyLeaves(sessions(spark, dir, gapSec))
    val wD = Window.partitionBy("day_s").orderBy("hour_s")
      .rowsBetween(Window.unboundedPreceding, -1)
    val daily = hourly
      .withColumn("before", coalesce(sum("net").over(wD), lit(0L)))
      .groupBy("day_s")
      .agg(max(col("before") + col("intra_peak")).as("rel_peak"),
        sum("net").as("net"), sum("ns").as("n_starts"), sum("ne").as("n_ends"))
    val wG = Window.orderBy("day_s").rowsBetween(Window.unboundedPreceding, -1)
    daily
      .withColumn("open_at_start", coalesce(sum("net").over(wG), lit(0L)))
      .select(col("day_s"), col("n_starts"), col("n_ends"),
        col("open_at_start"),
        (col("open_at_start") + col("net")).as("open_at_end"),
        (col("open_at_start") + col("rel_peak")).as("peak_concurrent"))
      .orderBy("day_s")
  }

  /** The (day, hour) sweep LEAVES of [[peakConcurrency]] over ANY
    * `(session_start, session_end)` relation: per hour the boundary
    * counts, the net delta, and the intra-hour running peak (relative
    * to the hour's entry level; +1 before −1 at equal instants — closed
    * intervals). Exposed `private[graft]` as the ONE leaf definition
    * shared by the batch scan, the streaming gauge (EXT-6ah), and their
    * twin-agreement spec — a drifting copy would silently change what
    * "peak" means on one face.
    */
  private[graft] def concurrencyLeaves(sess: DataFrame): DataFrame = {
    val deltas = sess.select(unix_micros(col("session_start")).as("us"), lit(1L).as("delta"))
      .unionByName(sess.select(unix_micros(col("session_end")).as("us"), lit(-1L).as("delta")))
      .withColumn("day_s", expr("us div 1000000 div 86400 * 86400"))
      .withColumn("hour_s", expr("us div 1000000 div 3600 * 3600"))
    val wH = Window.partitionBy("day_s", "hour_s").orderBy(col("us"), col("delta").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    deltas.withColumn("r", sum("delta").over(wH))
      .groupBy("day_s", "hour_s")
      .agg(max("r").as("intra_peak"), sum("delta").as("net"),
        sum(when(col("delta") === 1L, 1L).otherwise(0L)).as("ns"),
        sum(when(col("delta") === -1L, 1L).otherwise(0L)).as("ne"))
  }

  /** EXT-X2 — as-of join: each left-side event (`click`) is matched to
    * the LATEST right-side event (`view`) of the same user with
    * `view.ts <= click.ts`; clicks with no prior view are dropped (inner
    * as-of, DuckDB `ASOF JOIN` semantics).
    *
    * Spelling: union both sides with a side tag, one (user, ts, side)
    * sort, carry the last view forward with `last(_, ignoreNulls)` —
    * the single-pass merge idiom. This is ONE shuffle by user; a naive
    * inequality join would be a per-user cross product followed by a
    * max, and Spark would plan it as a nested-loop. Ties (a view and a
    * click at the same timestamp) order the view first, so an
    * equal-timestamp view is visible to the click — `ts >= ts` matches
    * the oracle's predicate.
    */
  def asofJoin(
      spark: SparkSession,
      dir: String,
      leftType: String = "click",
      rightType: String = "view"): DataFrame = {
    val ev = Replication.events(spark, dir)
      .filter(col("event_type").isin(leftType, rightType))
      .select(
        col("event_id"), col("user_id"), col("ts"),
        when(col("event_type") === rightType, 0).otherwise(1).as("side"))
    // event_id as the final sort key: two views with equal (user, ts)
    // must yield a DETERMINISTIC pick (the highest event_id — "latest
    // ingested"), not whichever row the partitioning happened to order
    // last. (The harness data has no (user, ts) collisions, so oracle
    // parity is unaffected; DuckDB's ASOF makes an arbitrary pick there.)
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("side"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ev
      .withColumn("view_event_id",
        last(when(col("side") === 0, col("event_id")), ignoreNulls = true).over(w))
      .withColumn("view_ts",
        last(when(col("side") === 0, col("ts")), ignoreNulls = true).over(w))
      .filter(col("side") === 1 && col("view_event_id").isNotNull)
      .select("event_id", "user_id", "ts", "view_event_id", "view_ts")
      .orderBy("event_id")
  }

  /** EXT-X3 — range (band) join: all event pairs within `bandSec` of each
    * other (`e1 < e2`, any user). The scalable spelling turns the
    * inequality predicate into an equi-join on a time bucket of width
    * `bandSec`: a pair within the band sits in the same or adjacent
    * buckets, so the left side joins buckets {b−1, b, b+1} and the exact
    * band predicate filters row-locally. Each qualifying (left, right)
    * combination matches exactly one bucket value and the `e1 < e2`
    * filter keeps one orientation, so the output needs no dedup pass.
    * Cost scales with events per bucket, not n² — a naive
    * `|t1 − t2| ≤ band` join is a nested-loop cross product.
    */
  def rangeJoin(spark: SparkSession, dir: String, bandSec: Long = 5): DataFrame = {
    val bandUs = bandSec * 1000000L
    val ev = Replication.events(spark, dir)
      .select(col("event_id"), unix_micros(col("ts")).as("us"))
      .withColumn("b", expr(s"us div ${bandUs}L"))
    // the left side must explode ALL of {b−1, b, b+1}: the e1 < e2 filter
    // is on event_id, not time, so the in-band partner of a given left
    // row can sit in the earlier OR later adjacent bucket — covering only
    // {b, b+1} silently drops pairs whose lower-id event is later in time
    val left = ev.select(col("event_id").as("e1"), col("us").as("us1"),
      explode(array(col("b") - 1, col("b"), col("b") + 1)).as("bucket"))
    val right = ev.select(col("event_id").as("e2"), col("us").as("us2"),
      col("b").as("bucket"))
    left.join(right, "bucket")
      .filter(col("e1") < col("e2") && abs(col("us1") - col("us2")) <= bandUs)
      .select(col("e1"), col("e2"), ((col("us2") - col("us1")) / 1000000.0).as("delta_s"))
      .orderBy("e1", "e2")
  }

  /** EXT-X4 — ordered funnel: how many users complete each prefix of the
    * step sequence IN ORDER — step i counts a user only if some step-i
    * event strictly follows their earliest qualifying step-(i−1) event.
    * Earliest-completion semantics: each stage keeps the MINIMUM
    * qualifying timestamp, the standard funnel definition (a later
    * re-view never resets progress).
    *
    * Scale shape: stage i is computed by joining the step-i event scan
    * against the PER-USER stage-(i−1) relation — user-level, ≤ one row
    * per user, strictly shrinking with i. The join is a plain equi-join
    * on user_id with NO broadcast hint: the user-level side is per-user,
    * which is NOT constant-bounded (a forced broadcast would hit the
    * 8 GB broadcast wall at billion-user scale — the repo reserves
    * `broadcast()` for relations bounded by construction), so AQE
    * promotes it to a map-side hash probe exactly when it measures
    * small, and the unbounded-safe user_id shuffle join is the fallback.
    * Each stage's aggregation shuffles only the matching step-i events;
    * a collect_list-per-user fold would carry every user's full history
    * through one shuffle — this spelling moves only (user, min_ts)
    * pairs. Every stage relation is materialized (`localCheckpoint`):
    * it feeds TWO branches — its count and the next stage — and Spark
    * shares no common subtree across branches, so without it stage 1's
    * scan+agg would re-execute once per later stage (O(steps²)).
    */
  def funnel(
      spark: SparkSession,
      dir: String,
      steps: Seq[String] = Seq("view", "click", "purchase")): DataFrame = {
    require(steps.nonEmpty, "funnel needs at least one step")
    val ev = Replication.events(spark, dir)
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("us"))
    // stage 1: earliest step-0 event per user
    var stage = ev.filter(col("event_type") === steps.head)
      .groupBy("user_id").agg(min("us").as("t"))
      .localCheckpoint()
    val counts = Seq.newBuilder[DataFrame]
    counts += stage.agg(lit(1L).as("step"), lit(steps.head).as("step_name"),
      count(lit(1)).as("n_users"))
    steps.zipWithIndex.drop(1).foreach { case (s, i) =>
      stage = ev.filter(col("event_type") === s)
        .join(stage, "user_id")
        .filter(col("us") > col("t"))
        .groupBy("user_id").agg(min("us").as("t"))
        .localCheckpoint()
      counts += stage.agg(lit(i + 1L).as("step"), lit(s).as("step_name"),
        count(lit(1)).as("n_users"))
    }
    counts.result().reduce(_.union(_)).orderBy("step")
  }

  /** EXT-X5 — weekly retention cohorts: users grouped by the ISO week of
    * their FIRST event (the cohort), counted as retained in week-offset
    * `w` if they have any event in cohort_week + w. The
    * (cohort, offset) → distinct-user triangle every growth dashboard
    * draws.
    *
    * Scale shape: the events scan collapses ONCE to the distinct
    * (user, active-week) relation — materialized, because both the
    * cohort derivation and the offset join consume it (Spark shares no
    * common subtree across branches) — and the cohort side is the min
    * over that same relation (min over distinct weeks = min over all
    * events), so the full event stream is scanned exactly once and the
    * per-user cohort relation reuses the shuffle rather than re-reading
    * the source. The cohort join carries NO broadcast hint: one row per
    * user is unbounded at the design scale (forced broadcast = the 8 GB
    * wall at billion-user corpora; `broadcast()` is reserved for
    * relations bounded by construction) — AQE broadcasts it when it
    * measures small and the user_id shuffle join is the safe fallback.
    * The final (cohort, offset) rollup moves one row per
    * (user, active-week). Weeks are exact integer arithmetic on epoch
    * days (Monday-anchored, matching DuckDB's date_trunc('week')), not
    * timezone-dependent truncation.
    */
  def retentionCohorts(spark: SparkSession, dir: String): DataFrame = {
    // Monday-anchored week index: 1970-01-01 was a Thursday, so shift
    // epoch days by 3 before dividing — pure integer arithmetic
    // (`div`, truncating; all operands positive so it equals the
    // oracle's floor division), identical in both engines
    val active = Replication.events(spark, dir)
      .select(col("user_id"),
        expr("(unix_micros(ts) div 86400000000 + 3) div 7").as("wk"))
      .distinct() // one row per (user, active-week)
      .localCheckpoint() // consumed by the cohort agg AND the offset join
    val cohorts = active.groupBy("user_id").agg(min("wk").as("cohort_wk"))
    active.join(cohorts, "user_id")
      .select(col("cohort_wk"), (col("wk") - col("cohort_wk")).as("week_offset"))
      .groupBy("cohort_wk", "week_offset")
      .agg(count(lit(1)).as("n_users"))
      .orderBy("cohort_wk", "week_offset")
  }

  /** EXT-X6 — windowed heavy hitters: the top-k keys per tumbling time
    * window ("trending users per 10 minutes") — the WINDOWED counterpart
    * of the global hot-key report ([[Skew.hotKeys]], x65): skew is often
    * a burst, and the global report averages bursts away. Epoch-aligned
    * windows spelled exactly as x12's buckets.
    *
    * Scale: one (window, key) partial agg — map-side combine folds each
    * partition's repeats before the exchange — then the per-window top-k
    * is the map-side bounded aggregate ([[graft.functions
    * .TopKExpression]]) over the aggregated relation: the second
    * exchange carries ≤ |windows|·k rows per partition, never the key
    * stream; no rank window anywhere. Counts ride the aggregator's
    * Double score losslessly (exact to 2⁵³) and come back as BIGINT.
    */
  def trendingKeys(
      spark: SparkSession,
      dir: String,
      windowSec: Int = 600,
      k: Int = 3): DataFrame = {
    val counts = Replication.events(spark, dir)
      .groupBy(
        (floor(unix_timestamp(col("ts")) / windowSec) * windowSec).as("window_start_s"),
        col("user_id"))
      .agg(count(lit(1)).as("n_events"))
    val agg = graft.functions.TopK.topk(k)
    counts
      .groupBy("window_start_s")
      .agg(agg(col("n_events").cast("double"), col("user_id")).as("sel"))
      .select(col("window_start_s"), posexplode(col("sel.entries")))
      .select(col("window_start_s"), (col("pos") + 1).cast("int").as("rank"),
        col("col.cid").as("user_id"), col("col.sim").cast("long").as("n_events"))
      .orderBy("window_start_s", "rank")
  }

  /** EXT-X7 — user-journey Markov transitions: the first-order
    * transition matrix over per-user event sequences — for each ordered
    * event-type pair, how many times one immediately followed the other
    * in some user's timeline, and the conditional probability
    * `p(to | from) = n_trans / n_from`. The journey-analysis primitive
    * the funnel (x55) fixes a path for: the funnel asks "how many made
    * it through THIS sequence", the transition matrix surfaces which
    * sequences exist at all (and feeds next-step prediction / anomaly
    * flags on event streams).
    *
    * Adjacency is per user, ordered by (event time in µs, event_id) —
    * the tie-break makes the sequence a total order, so the matrix is
    * replay-deterministic in both engines even when a user has
    * same-timestamp events.
    *
    * Scale: ONE window shuffle keyed by user_id (sessionize's exact
    * story — per-user state is the user's own events, never corpus-
    * sized), collapsed immediately to the |types|² count matrix by a
    * partial agg; the marginal is RE-aggregated from that tiny matrix
    * (sum over its rows), never by a second pass over the event stream,
    * and the final join runs on |types|² rows — broadcast territory at
    * any corpus size. One IEEE division at the end.
    */
  def transitions(spark: SparkSession, dir: String): DataFrame = {
    val counts = transitionPairs(spark, dir)
      .groupBy("from_type", "to_type").agg(count(lit(1)).as("n_trans"))
    val marginal = counts.groupBy("from_type").agg(sum("n_trans").as("n_from"))
    counts.join(marginal, "from_type")
      .withColumn("p_trans", col("n_trans").cast("double") / col("n_from"))
      .select("from_type", "to_type", "n_trans", "p_trans")
      .orderBy("from_type", "to_type")
  }

  /** The per-user adjacency stream `(user_id, from_type, to_type)` —
    * the shared core of [[transitions]] (which collapses it to the
    * matrix) and [[journeyScores]] (which scores each user's path
    * against that matrix). One window shuffle keyed by user_id, ordered
    * by (µs, event_id) — the tie-break both consumers inherit.
    */
  private[operators] def transitionPairs(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("us", "event_id")
    Replication.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
      .withColumn("nxt", lead("event_type", 1).over(w))
      .filter(col("nxt").isNotNull)
      .select(col("user_id"), col("event_type").as("from_type"),
        col("nxt").as("to_type"))
  }

  /** EXT-X8 — per-user journey anomaly scores: every user's event path
    * scored against the corpus's own first-order Markov baseline
    * ([[transitions]]' matrix) — the behavioral-anomaly primitive
    * (bot/fraud triage, broken-client detection): a journey whose every
    * step is common scores near the corpus norm; one improbable
    * transition craters `min_p`. The event-stream twin of
    * [[TextAnalysis.bigramLm]], under the same exact-arithmetic
    * contract: per user, `n_steps` (BIGINT), `min_p` (min over exact
    * per-pair IEEE quotients `n_trans/n_from` — order-insensitive), and
    * `pooled_p = Σn_trans / Σn_from` (ONE division of two BIGINT sums)
    * — no transcendentals, no order-sensitive float sums, bit-exact in
    * both engines.
    *
    * Plan: the pair stream is materialized ONCE (`localCheckpoint` —
    * x82's discipline) and consumed twice: the matrix aggregation
    * (|types|² partial agg) and the scoring join back — the matrix is
    * broadcast (|types|² rows at any corpus size), then one user_id
    * partial agg. The only unbounded shuffle is the per-user window the
    * pair stream already paid; nothing re-scans events.
    */
  def journeyScores(spark: SparkSession, dir: String): DataFrame = {
    val pairs = transitionPairs(spark, dir).localCheckpoint()
    val counts = pairs.groupBy("from_type", "to_type")
      .agg(count(lit(1)).as("n_trans"))
    val marginal = counts.groupBy("from_type").agg(sum("n_trans").as("n_from"))
    val matrix = counts.join(marginal, "from_type")
    pairs.join(broadcast(matrix), Seq("from_type", "to_type"))
      .withColumn("pr", col("n_trans").cast("double") / col("n_from"))
      .groupBy("user_id")
      .agg(
        count(lit(1)).as("n_steps"),
        min("pr").as("min_p"),
        sum("n_trans").as("sum_nt"),
        sum("n_from").as("sum_nf"))
      .select(col("user_id"), col("n_steps"), col("min_p"),
        (col("sum_nt").cast("double") / col("sum_nf")).as("pooled_p"))
      .orderBy("user_id")
  }

  /** The batch-trained Markov baseline as a serving artifact — the
    * journey twin of [[Curation.ImportanceModel]]: the [[transitions]]
    * matrix collapsed to two exact-integer maps, bounded by |event
    * types|² entries regardless of corpus size (the structural bound
    * that makes broadcasting it to a stream free). `score` is the exact
    * arithmetic of [[journeyScores]]' per-step quotient: one IEEE
    * division of two BIGINTs, so a step scores IDENTICALLY in both
    * engines. A transition the corpus never saw has zero mass and
    * scores 0.0 — maximally anomalous, the conservative default
    * ([[graft.streaming.StreamOps.importanceGateStream]]'s discipline).
    */
  case class TransitionModel(
      counts: Map[(String, String), Long],
      marginals: Map[String, Long]) {

    /** (n_trans, n_from, step_p) for one sealed step. */
    def score(fromType: String, toType: String): (Long, Long, Double) = {
      val nt = counts.getOrElse((fromType, toType), 0L)
      val nf = marginals.getOrElse(fromType, 0L)
      (nt, nf, if (nf == 0L) 0.0 else nt.toDouble / nf)
    }
  }

  /** Fit the [[TransitionModel]] on the batch corpus: [[transitions]]'
    * own matrix (same window, same tie-break, same integers — drift
    * between train and serve is structurally impossible), collected
    * driver-side under the |types|² bound.
    */
  /** EXT-X9 (x101) — event-stream disorder audit: per event type, how
    * far events arrive BEHIND their key's event-time high water, in the
    * ingest order (`event_id`, the arrival sequence). `lag_ms` = the
    * per-user running max of event time minus this event's time; a
    * zero lag is an in-order arrival. The bucketed histogram (0, <1 s,
    * <10 s, <60 s, ≥60 s) plus the max is exactly the evidence that
    * sizes a watermark delay: every streaming twin here holds state
    * until `watermarkDelay` seals it, and a delay chosen blind either
    * drops the late tail (too short) or holds state for nothing (too
    * long). This audit is the batch-corpus answer to "what delay does
    * THIS stream actually need" — run it on a day of history before
    * deploying the stream.
    *
    * Scale: ONE shuffle by user_id (the same key every stateful twin
    * partitions by) feeding a running-max window, then a
    * |event types|-bounded partial agg. Disorder is measured per key on
    * purpose — it is per-key state the watermark evicts, and a global
    * arrival-order max would serialize the corpus through one
    * partition. Exact integer milliseconds; `frac_late` is the one
    * IEEE division.
    */
  def disorderAudit(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Replication.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_millis(col("ts")).as("ms"))
      .withColumn("lag_ms", max(col("ms")).over(w) - col("ms"))
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n_events"),
        sum(when(col("lag_ms") === 0L, 1L).otherwise(0L)).as("n_in_order"),
        sum(when(col("lag_ms") > 0L && col("lag_ms") < 1000L, 1L).otherwise(0L))
          .as("late_lt_1s"),
        sum(when(col("lag_ms") >= 1000L && col("lag_ms") < 10000L, 1L).otherwise(0L))
          .as("late_lt_10s"),
        sum(when(col("lag_ms") >= 10000L && col("lag_ms") < 60000L, 1L).otherwise(0L))
          .as("late_lt_60s"),
        sum(when(col("lag_ms") >= 60000L, 1L).otherwise(0L)).as("late_ge_60s"),
        max("lag_ms").as("max_lag_ms"))
      .withColumn("frac_late",
        (col("n_events") - col("n_in_order")).cast("double") / col("n_events"))
      .orderBy("event_type")
  }

  /** EXT-X10 — inter-arrival burstiness audit (`x110_burstiness`): per
    * event type, the exact moments of the per-user inter-arrival-gap
    * distribution — gap count, total, mean, and the squared coefficient
    * of variation `CV² = (n·Σg² − (Σg)²)/(Σg)²`. CV² ≈ 1 is Poisson
    * (memoryless) arrivals; CV² ≫ 1 is bursty traffic. This is the
    * capacity-planning twin of the disorder audit: disorder sizes the
    * WATERMARK of the streaming twins, burstiness sizes their PEAK LOAD
    * (a bursty type needs headroom for its bursts, not its mean rate) —
    * and a CV² that jumps between rounds flags a broken client or a
    * retry storm before any throughput graph does.
    *
    * Gaps are measured per (user, type) in (ts, event_id) order — the
    * deterministic total order every temporal operator here uses — so a
    * user's interleaved types don't manufacture phantom gaps. Exactness
    * contract: gaps are integer µs; `Σg` is a BIGINT; `Σg²` squares in
    * DECIMAL(19,0)·DECIMAL(19,0) (a multi-day µs gap squared overflows
    * Long) and sums as DECIMAL(38,0), exact and order-insensitive.
    * The exact Σg² is EMITTED as its digit STRING (the x32/x104
    * hash-portability convention — decimal is the one type the
    * correctness harness serializes differently per engine, the only
    * red row of round 10), while `mean_gap_us` is one IEEE division and
    * `cv2` is spelled in DOUBLE from the exact sums in a fixed
    * operation order, so both engines produce bit-identical floats. An
    * all-equal-gap type reports cv2 = 0; a type whose gaps are all zero
    * (same-µs replays) has Σg = 0 and reports cv2 = NULL (the
    * ANSI-div-guard convention), never NaN/Infinity.
    *
    * Scale: ONE shuffle keyed by (user_id, event_type) — the lag window
    * — collapsed immediately to |types| rows by partial agg; window
    * state is a single previous-row value. The per-key spelling is also
    * what keeps the window partition bounded by a user's own events
    * (a global per-type ordering would serialize hot types through one
    * partition — the disorderAudit argument).
    */
  def burstiness(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id", "event_type")
      .orderBy("ts", "event_id")
    val gaps = Replication.events(spark, dir)
      .select(col("user_id"), col("event_type"), col("ts"), col("event_id"),
        unix_micros(col("ts")).as("us"))
      .withColumn("gap_us", col("us") - lag("us", 1).over(w))
      .filter(col("gap_us").isNotNull)
    val agg = gaps.groupBy("event_type").agg(
      count(lit(1)).as("n_gaps"),
      sum("gap_us").as("sum_gap_us"),
      // square in DECIMAL: a multi-day gap in µs² overflows Long
      // (observed on the harness events table), and the decimal product
      // is exact at any representable gap
      sum(col("gap_us").cast("decimal(19,0)") * col("gap_us").cast("decimal(19,0)"))
        .as("sum_gap_sq"))
    val nD = col("n_gaps").cast("double")
    val sD = col("sum_gap_us").cast("double")
    val qD = col("sum_gap_sq").cast("double")
    agg
      .withColumn("mean_gap_us", sD / nD)
      .withColumn("cv2",
        when(col("sum_gap_us") === 0L, lit(null).cast("double"))
          .otherwise((nD * qD - sD * sD) / (sD * sD)))
      // digit-string spelling LAST, after the doubles derive from the
      // exact decimal: DECIMAL(38,0) is exact but not hash-portable
      // across the two engines' serializers
      .withColumn("sum_gap_sq", col("sum_gap_sq").cast("string"))
      .select("event_type", "n_gaps", "sum_gap_us", "sum_gap_sq",
        "mean_gap_us", "cv2")
      .orderBy("event_type")
  }

  /** The per-WINDOW spelling of [[burstiness]] (x110) — the batch law
    * the streaming monitor (EXT-6ae, [[graft.streaming.StreamOps
    * .burstinessMonitorStream]]) agrees with bit-for-bit: per tumbling
    * (window, event_type), the exact gap moments of the gaps measured
    * WITHIN the window per (user, type) in (ts, event_id) order — a
    * user's last event of one window and first of the next form NO gap
    * on either side, which is what makes every window's row a closed,
    * replay-stable fact a monitor can alarm on. Same exactness contract
    * as x110: integer µs gaps, BIGINT Σg, DECIMAL(38,0) Σg² emitted as
    * its digit string, doubles derived from the exact sums in the one
    * fixed operation order. Takes the event RELATION (not a dir) so the
    * twin-agreement spec feeds one fixture to both faces.
    *
    * Scale: identical to x110 with the window joining the lag key —
    * ONE (win, user, type)-keyed shuffle carrying single-row lag state,
    * collapsed by partial agg to |windows|·|types| rows.
    */
  def windowedBurstiness(events: DataFrame, windowDur: String = "10 minutes"): DataFrame = {
    val w = Window.partitionBy("win", "user_id", "event_type").orderBy("us", "event_id")
    val gaps = events
      .select(col("user_id"), col("event_type"), col("event_id"),
        window(col("ts"), windowDur).getField("start").as("win"),
        unix_micros(col("ts")).as("us"))
      .withColumn("gap_us", col("us") - lag("us", 1).over(w))
      .filter(col("gap_us").isNotNull)
    val agg = gaps.groupBy("win", "event_type").agg(
      count(lit(1)).as("n_gaps"),
      sum("gap_us").as("sum_gap_us"),
      sum(col("gap_us").cast("decimal(19,0)") * col("gap_us").cast("decimal(19,0)"))
        .as("sum_gap_sq"))
    val nD = col("n_gaps").cast("double")
    val sD = col("sum_gap_us").cast("double")
    val qD = col("sum_gap_sq").cast("double")
    agg
      .withColumn("mean_gap_us", sD / nD)
      .withColumn("cv2",
        when(col("sum_gap_us") === 0L, lit(null).cast("double"))
          .otherwise((nD * qD - sD * sD) / (sD * sD)))
      .withColumn("sum_gap_sq", col("sum_gap_sq").cast("string"))
      .select(col("win").as("window_start"), col("event_type"), col("n_gaps"),
        col("sum_gap_us"), col("sum_gap_sq"), col("mean_gap_us"), col("cv2"))
      .orderBy("window_start", "event_type")
  }

  /** EXT-X11 (`x122_cusum_drift`) — CUSUM change-point detection on
    * per-type event rates: each type's hourly counts over the DENSE
    * global hour grid (absent hours count 0 — a type going silent IS
    * the change CUSUM exists to catch), deviations from the type's own
    * mean rate accumulated in hour order, and the peak excursion with
    * the hour it peaks at. The classic sequential-drift detector: a
    * level shift in a type's rate makes the cumulative sum ramp
    * monotonically from the shift hour, so `peak_hour_s` IS the change
    * point estimate and `peak_abs` its magnitude — the audit that
    * separates "rate moved at hour H" from the global averages x12/x76
    * smear across the window.
    *
    * Exactness: with `H` grid hours and `T` type events, the per-hour
    * deviation from mean is spelled scaled — `dev = H·c_h − T` — an
    * exact BIGINT (the rational mean `T/H` never materializes), so the
    * cusum, its peak, and the end-to-zero telescoping invariant
    * (Σ dev = H·T − T·H = 0, spec-pinned) are integer-exact in both
    * engines. Peak ties break to the EARLIEST hour (the struct-max
    * negated-hour spelling, presentTopK's convention).
    *
    * Scale: the corpus-sized work is ONE (type, hour) fold — partial
    * aggs collapse each partition to its distinct cells before the
    * exchange. Everything after lives on the |types|·H grid relation,
    * bounded by calendar time × type cardinality, not data volume (a
    * year of hours is 8 760 rows per type at any corpus size); the
    * grid endpoints ride as a 1-row broadcast and the cusum window
    * partitions by type over grid rows only.
    */
  def cusumDrift(spark: SparkSession, dir: String): DataFrame = {
    val ev = Replication.events(spark, dir)
      .select(col("event_type"),
        // x12's bucketing spelling: integer-second hours, so the grid
        // arithmetic below stays in exact BIGINTs
        (floor(unix_timestamp(col("ts")) / 3600) * 3600).cast("long").as("hour_s"))
    val dense = denseHourly(ev)
    val perType = Window.partitionBy("event_type")
    val cum = Window.partitionBy("event_type").orderBy("hour_s")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    dense
      .withColumn("n_hours", count(lit(1)).over(perType))
      .withColumn("n_events", sum("c").over(perType))
      .withColumn("cusum",
        sum(col("n_hours") * col("c") - col("n_events")).over(cum))
      .groupBy("event_type")
      .agg(
        max("n_hours").as("n_hours"),
        max("n_events").as("n_events"),
        max(struct(abs(col("cusum")).as("a"), (-col("hour_s")).as("nh"),
          col("cusum").as("v"))).as("m"))
      .select(col("event_type"), col("n_hours"), col("n_events"),
        (-col("m.nh")).as("peak_hour_s"), col("m.v").as("peak_cusum"),
        col("m.a").as("peak_abs"))
      .orderBy("event_type")
  }

  /** EXT-X13 (`x137_windowed_burstiness`) — the oracle-keyed face of
    * the per-window burstiness law ([[windowedBurstiness]] over the
    * events table, windows presented as epoch seconds — the x12/x76
    * window-column convention): per (10-minute window, event_type) the
    * exact gap moments and CV². This is the SAME relation the streaming
    * monitor (EXT-6ae) emits per sealed window, so the live alarm's
    * semantics are now pinned THREE ways — batch-vs-stream bit-equality
    * (StreamOpsSpec), the DuckDB hash oracle here, and x110's unbounded
    * archival law over the identical moment spelling.
    */
  def windowedBurstinessAudit(
      spark: SparkSession, dir: String, windowDur: String = "10 minutes"): DataFrame =
    windowedBurstiness(Replication.events(spark, dir), windowDur)
      .select(unix_timestamp(col("window_start")).as("window_start_s"),
        col("event_type"), col("n_gaps"), col("sum_gap_us"), col("sum_gap_sq"),
        col("mean_gap_us"), col("cv2"))
      .orderBy("window_start_s", "event_type")

  /** The DENSE per-type hourly count grid x122 and x135 share: every
    * (event_type, hour) cell over the calendar-bounded [min, max] hour
    * span, absent hours as exact 0 (a silent hour is data to both the
    * change detector and the periodicity audit). ONE (type, hour) fold
    * collapses the corpus; everything downstream lives on the
    * |types|·H grid relation, bounded by calendar time × type
    * cardinality, not data volume.
    */
  private def denseHourly(ev: DataFrame): DataFrame = {
    val cells = ev.groupBy("event_type", "hour_s").agg(count(lit(1)).as("c"))
    val span = cells.agg(min("hour_s").as("h0"), max("hour_s").as("h1"))
    val grid = span
      .select(explode(sequence(col("h0"), col("h1"), lit(3600L))).as("hour_s"))
    val types = cells.select("event_type").distinct()
    types.crossJoin(grid)
      .join(cells, Seq("event_type", "hour_s"), "left")
      .withColumn("c", coalesce(col("c"), lit(0L)))
  }

  /** EXT-X12 (`x135_periodicity`) — seasonality detection on per-type
    * event rates: the exact lag-autocorrelation (Pearson, over the
    * dense hourly grid) of each type's hourly count series at each
    * audit lag — 1 h (short-range self-similarity), 24 h (daily
    * rhythm), 168 h (weekly rhythm). The capacity-planning leg x110
    * and x122 cannot see: burstiness reads the gap SHAPE, CUSUM reads
    * a level SHIFT, but a diurnal corpus (human-driven traffic) needs
    * its peak-hour factor known BEFORE either alarm is tuned — a high
    * corr at 24 h says "provision for the daily peak, don't page on
    * it", and a daily-periodic type whose 24 h correlation collapses
    * between rounds has changed its traffic mechanism (bot flood,
    * region shift) even if volume and CV² held steady.
    *
    * Exactness (the x110 moment discipline): counts are exact BIGINTs
    * on the DENSE grid (absent hours are real zeros — dropping them
    * would bias every product term), each lag's overlap moments
    * (n, Σx, Σy, Σx², Σy², Σxy) fold order-insensitively in BIGINT,
    * the Pearson numerator `n·Σxy − Σx·Σy` and both variance terms
    * `n·Σq² − (Σq)²` are exact BIGINTs (safe while per-hour counts stay
    * ≤ ~1e6 over a ≤100k-hour grid — beyond that the x110 decimal
    * spelling applies), and `corr4` is ONE double division by
    * `sqrt(vx·vy)` in a fixed operation order. A constant series
    * (either window variance 0) reports NULL, the ANSI-div-guard
    * convention — never NaN.
    *
    * Scale: the corpus collapses in denseHourly's ONE (type, hour)
    * fold; the lag self-join is an equi-join of the |types|·H grid
    * against itself shifted (|lags|·|types|·H rows — calendar-bounded,
    * corpus-size-free), and the moment fold is |types|·|lags| rows out.
    */
  def periodicity(
      spark: SparkSession,
      dir: String,
      lags: Seq[Int] = Seq(1, 24, 168)): DataFrame = {
    require(lags.nonEmpty && lags.forall(_ > 0), s"lags ($lags) must be positive")
    val ev = Replication.events(spark, dir)
      .select(col("event_type"),
        (floor(unix_timestamp(col("ts")) / 3600) * 3600).cast("long").as("hour_s"))
    val dense = denseHourly(ev)
      .localCheckpoint() // both sides of the lag join re-read the grid
    val x = dense
      .withColumn("lag_hours", explode(array(lags.map(l => lit(l.toLong)): _*)))
      .select(col("event_type"), col("lag_hours"),
        (col("hour_s") + col("lag_hours") * 3600L).as("y_hour_s"), col("c").as("cx"))
    val y = dense.select(col("event_type"), col("hour_s").as("y_hour_s"), col("c").as("cy"))
    val agg = x.join(y, Seq("event_type", "y_hour_s"))
      .groupBy("event_type", "lag_hours")
      .agg(
        count(lit(1)).as("n_terms"),
        sum("cx").as("sx"), sum("cy").as("sy"),
        sum(col("cx") * col("cx")).as("sxx"),
        sum(col("cy") * col("cy")).as("syy"),
        sum(col("cx") * col("cy")).as("sxy"))
    val num = col("n_terms") * col("sxy") - col("sx") * col("sy")
    val vx = col("n_terms") * col("sxx") - col("sx") * col("sx")
    val vy = col("n_terms") * col("syy") - col("sy") * col("sy")
    agg
      .select(col("event_type"), col("lag_hours"), col("n_terms"),
        num.as("num"), vx.as("var_x"), vy.as("var_y"),
        when(vx === 0L || vy === 0L, lit(null).cast("double"))
          .otherwise(round(num.cast("double") /
            sqrt(vx.cast("double") * vy.cast("double")), 4)).as("corr4"))
      .orderBy("event_type", "lag_hours")
  }

  def trainTransitionModel(spark: SparkSession, dir: String): TransitionModel = {
    val rows = transitions(spark, dir)
      .select("from_type", "to_type", "n_trans").collect()
    val counts = rows.map(r =>
      ((r.getString(0), r.getString(1)), r.getLong(2))).toMap
    val marginals = counts.groupBy(_._1._1).map { case (f, g) =>
      (f, g.values.sum)
    }
    TransitionModel(counts, marginals)
  }
}
