package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming twins of the batch §2b operators (SURVEY.md EXT-6), built on
  * Structured Streaming: event-time windowed aggregation, watermarked
  * streaming dedup, and stateful sessionization via
  * `flatMapGroupsWithState`.
  *
  * Scale notes: every operator here is keyed state over a shuffle by key
  * — the same partitioning story as the batch ops. Watermarks bound state
  * size (Spark drops window/dedup state older than the watermark), which
  * is what makes these viable on unbounded 100 TB/day streams; without
  * them state grows without bound.
  */
object StreamOps extends StreamIndexOps {

  /** One event of the `events` stream shape (TESTDATA.md). */
  case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
      event_type: String, value: Double)

  /** An emitted user session. */
  case class Session(user_id: Long, session_start: java.sql.Timestamp,
      session_end: java.sql.Timestamp, n_events: Long)

  /** One merged event-time interval (public: the state encoder's
    * generated code must construct it).
    */
  case class SessionState(startMs: Long, endMs: Long, n: Long)

  /** Per-user session state: ALL intervals the watermark has not sealed
    * yet — the open session and any closed-but-still-amendable ones. A
    * session leaves state only when no in-scope event can still merge
    * with it (watermark past its end + gap), so late events within the
    * watermark horizon can never produce overlapping/duplicate sessions.
    */
  case class SessionsState(open: List[SessionState])

  /** EXT-6a — event-time tumbling windows with order-insensitive
    * aggregates; the streaming twin of
    * [[graft.operators.Payload.eventWindows]]. The watermark finalizes
    * (and garbage-collects) a window once event time passes its end +
    * delay, so results in Append mode are emitted exactly once per
    * window.
    */
  def windowedCounts(df: DataFrame, windowDur: String = "10 minutes",
      watermarkDelay: String = "10 minutes"): DataFrame =
    df.withWatermark("ts", watermarkDelay)
      .groupBy(window(col("ts"), windowDur), col("event_type"))
      .agg(count(lit(1)).as("n"), min("value").as("min_v"), max("value").as("max_v"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"), col("min_v"), col("max_v"))

  /** EXT-6b — streaming exact dedup on key columns within the watermark
    * horizon: the streaming twin of [[graft.operators.Dedup.exact]].
    * `dropDuplicatesWithinWatermark` keeps one state entry per key and
    * evicts it once the watermark passes — bounded state on an unbounded
    * stream, without needing the event-time column in the key.
    */
  def dedupStream(df: DataFrame, keyCols: Seq[String],
      watermarkDelay: String = "10 minutes"): DataFrame =
    df.withWatermark("ts", watermarkDelay)
      .dropDuplicatesWithinWatermark(keyCols.head, keyCols.tail: _*)

  /** EXT-6d — stream-static enrichment: every microbatch of the stream
    * joins the static dimension relation on `key`. The static plan is
    * re-executed per microbatch, but note file-based sources cache their
    * file listing in the DataFrame — a rewritten dim table is only picked
    * up by sources that re-resolve per batch (e.g. Delta) or by
    * rebuilding the dim DataFrame. The dim is explicitly broadcast:
    * enrichment never shuffles the stream — the essential property when
    * the stream is the 100 TB/day side. Left join: events without a
    * dimension row pass through with nulls rather than silently
    * dropping.
    */
  def enrich(stream: DataFrame, dim: DataFrame, key: String = "user_id"): DataFrame =
    stream.join(broadcast(dim), Seq(key), "left")

  /** EXT-6e — stream-stream interval join: each left event (`click`)
    * pairs with the right events (`view`) of the same user at most
    * `intervalMin` minutes BEFORE it. Both sides are watermarked and the
    * event-time range condition is what lets Spark bound the join state:
    * a buffered view is dropped once the watermark says no future click
    * can reach back to it. Without the range predicate this is an
    * unbounded-state join and Structured Streaming rejects it in Append
    * mode.
    */
  def intervalJoin(left: DataFrame, right: DataFrame,
      intervalMin: Int = 10, watermarkDelay: String = "10 minutes"): DataFrame = {
    val l = left.withWatermark("ts", watermarkDelay)
      .select(col("event_id").as("click_id"), col("user_id"), col("ts").as("click_ts"))
    val r = right.withWatermark("ts", watermarkDelay)
      .select(col("event_id").as("view_id"), col("user_id").as("view_user_id"),
        col("ts").as("view_ts"))
    l.join(r,
      l("user_id") === r("view_user_id") &&
        col("view_ts") <= col("click_ts") &&
        col("view_ts") >= col("click_ts") - expr(s"INTERVAL $intervalMin MINUTES"))
      .select("click_id", "user_id", "click_ts", "view_id", "view_ts")
  }

  /** EXT-6f — the streaming ingest-curation pipeline: the composition a
    * crawl ingest actually runs, as ONE unbounded query — the streaming
    * twin of the batch curation legs, applied at ingest time instead of
    * corpus-rebuild time. Deliberately LINEAR (no joins back to the
    * stream — stream-stream self-joins are unsupported, and a staged
    * pipeline would lose the single-pass shape anyway):
    *
    *  1. quality gate — THE batch rule set
    *     ([[graft.operators.Curation.qualityAnnotated]], row-local), so
    *     batch and stream can never drift;
    *  2. exact dedup on the content digest within the watermark horizon
    *     (`dropDuplicatesWithinWatermark`: bounded state; cross-horizon
    *     and near-dup dedup are the batch incremental passes, x24/x36);
    *  3. decontamination — per-document probe of the benchmark's gram
    *     set, shipped once per executor as a Spark broadcast variable
    *     (the streaming analog of the batch operator's broadcast join).
    *     This stage is a Scala UDF deliberately: a `typedlit` spelling
    *     would re-scan the whole MB-scale gram literal for EVERY
    *     document, while the broadcast set is hashed once and probed
    *     O(|doc grams|) per row — the one shape here where a UDF beats
    *     every codegen spelling. The stream never shuffles for it.
    *
    * Input schema: (doc_id, text, ingest_ts). Output: surviving
    * documents (text included — they are the rows a sink appends to the
    * training corpus) with their quality measurements and digest.
    */
  def curateStream(
      docs: DataFrame,
      benchGrams: Seq[String],
      gramK: Int = 5,
      watermarkDelay: String = "10 minutes"): DataFrame = {
    val benchSet = docs.sparkSession.sparkContext.broadcast(benchGrams.toSet)
    val contaminated = udf((grams: Seq[String]) => grams.exists(benchSet.value.contains))
    graft.operators.Curation.qualityAnnotated(docs)
      .filter(col("keep"))
      .withColumn("digest", sha2(col("text"), 256))
      .withWatermark("ingest_ts", watermarkDelay)
      .dropDuplicatesWithinWatermark("digest")
      .filter(!contaminated(graft.operators.Tables.shingles(
        graft.operators.Tables.tokens(col("text")), gramK)))
  }


  /** EXT-6g — streaming Bloom dedup prefilter: flags each incoming
    * document against the corpus Bloom index built by
    * [[graft.operators.Curation.buildBloomIndex]] (the persisted index of
    * the batch [[graft.operators.Curation.bloomPrefilter]]). The index
    * carries its own (m, k) — probing under different parameters than the
    * build would silently break the no-false-negative guarantee, so the
    * API leaves no seam for them to diverge. The bit-set (m bits) is
    * broadcast once and the probe is row-local — k md5s against broadcast
    * memory — so the unbounded stream never shuffles and holds NO state;
    * contrast [[dedupStream]], whose within-watermark state grows with
    * the stream. `maybe_dup = false` rows are guaranteed novel (Bloom
    * admits no false negatives — law asserted in the spec) and skip the
    * exact check entirely; only `maybe_dup` survivors pay the corpus
    * anti-join.
    *
    * A udf is the right tool here, for [[curateStream]]'s reason: the
    * probe consults a broadcast JVM bit-set, which no declarative
    * expression can address.
    */
  def bloomPrefilterStream(
      docs: DataFrame,
      index: graft.operators.Curation.BloomIndex): DataFrame = {
    val bc = docs.sparkSession.sparkContext.broadcast(index)
    val maybe = udf((digest: String) => bc.value.mightContain(digest))
    docs
      .withColumn("digest", sha2(col("text"), 256))
      .withColumn("maybe_dup", maybe(col("digest")))
  }

  /** EXT-6r — streaming DSIR importance gate: score every arriving
    * document against the batch-trained
    * [[graft.operators.Curation.ImportanceModel]] (x87's artifact) and
    * admit those at least `minImportance` target-like — the ingest-time
    * twin of batch importance resampling, under EXT-6i's
    * train-batch/serve-stream contract (the model is FIT on the corpus,
    * never updated by the stream; refreshing it is a new batch train,
    * exactly like centroid retrain).
    *
    * Stateless and shuffle-free: bucket ids come from the same compiled
    * [[graft.functions.WindowHashes]] k=1 + `pmod` spelling as the batch
    * operator (hash drift structurally impossible), and the mass lookup
    * probes the broadcast count maps row-locally — a UDF for
    * [[curateStream]]'s reason: no declarative expression can address a
    * broadcast JVM map, and the model is ≤ numBuckets entries by
    * construction (DSIR's hashing trick is what makes it fit). The
    * scoring arithmetic is `ImportanceModel.score` — the batch
    * operator's exact pooled-mass ratio, so a doc scores IDENTICALLY in
    * both engines (spec-pinned). Documents of entirely unseen
    * vocabulary have zero raw mass and score 0.0 — never admitted, the
    * conservative default for a distribution the model has no evidence
    * about.
    */
  def importanceGateStream(
      docs: DataFrame,
      model: graft.operators.Curation.ImportanceModel,
      minImportance: Double = 1.0): DataFrame = {
    val bc = docs.sparkSession.sparkContext.broadcast(model)
    val mass = udf((bs: Seq[Long]) => {
      val (t, r, imp) = bc.value.score(bs)
      (t, r, imp)
    })
    docs
      .withColumn("bs", transform(
        graft.functions.WindowHashes.windowHashes(
          graft.operators.Tables.tokens(col("text")), 1),
        h => pmod(h, lit(model.numBuckets))))
      .withColumn("m", mass(col("bs")))
      .select(docs.columns.toIndexedSeq.map(col) :+
        size(col("bs")).cast("long").as("n_toks") :+
        col("m._1").as("t_mass") :+
        col("m._2").as("r_mass") :+
        col("m._3").as("importance") :+
        (col("m._3") >= minImportance).as("admitted"): _*)
  }

  /** EXT-6c — sessionization: group events per user into sessions closed
    * by `gap` of event-time inactivity, via `flatMapGroupsWithState` with
    * an event-time timeout. A session is emitted ONLY once the watermark
    * passes its end + gap — i.e. only when no event still in scope could
    * merge with or extend it — so the emitted sessions are exactly what
    * the batch sessionizer ([[graft.operators.Temporal.sessionize]])
    * computes over any arrival order within the watermark horizon. (An
    * earlier version emitted gap-closed sessions immediately; a later
    * batch's gap-adjacent late event then produced an overlapping second
    * session the batch twin would have merged.)
    */
  def sessionize(ds: Dataset[Event], gapMs: Long = 30 * 60 * 1000L,
      watermarkDelay: String = "10 minutes"): Dataset[Session] = {
    import ds.sparkSession.implicits._
    ds.withWatermark("ts", watermarkDelay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionsState, Session](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, events: Iterator[Event], state: GroupState[SessionsState]) =>
          // one uniform path for new-data and timeout invocations:
          // interval-merge (state ∪ batch events) sorted by start —
          // adjacent items within the gap coalesce, late events extend
          // sessions backward, gap-adjacent strays merge with each other
          val items = (state.getOption.map(_.open).getOrElse(Nil) ++
            events.map(e => SessionState(e.ts.getTime, e.ts.getTime, 1)))
            .sortBy(_.startMs)
          val merged = items.foldLeft(List.empty[SessionState]) { (acc, it) =>
            acc match {
              case h :: t if it.startMs - h.endMs <= gapMs =>
                SessionState(h.startMs, math.max(h.endMs, it.endMs), h.n + it.n) :: t
              case _ => it :: acc
            }
          }.reverse
          // emit only watermark-sealed sessions; keep the rest in state
          // with the timeout at the earliest possible next seal point.
          // Spark's late filter drops arrivals with ts <= wm
          // (WatermarkSupport builds LessThanOrEqual), so a session whose
          // end + gap is AT the watermark can no longer be extended (the
          // batch twin's `<= gap` merge would need an arrival with
          // ts <= end + gap == wm) — seal at equality, the engine's own
          // late boundary
          val wm = state.getCurrentWatermarkMs()
          val (expired, live) = merged.partition(_.endMs + gapMs <= wm)
          if (live.isEmpty) { if (state.exists) state.remove() }
          else {
            state.update(SessionsState(live))
            // every live seal point is > wm after the <=-partition, so
            // this is always a legal (> wm) timeout
            state.setTimeoutTimestamp(math.max(live.map(_.endMs).min + gapMs, wm + 1))
          }
          expired.iterator.map(s => Session(userId,
            new java.sql.Timestamp(s.startMs), new java.sql.Timestamp(s.endMs), s.n))
      }
  }

  /** Per-user funnel state: events the watermark has not sealed yet,
    * plus the automaton position — the completed stage count and the
    * event-time (ms) at which the last stage completed.
    */
  case class FunnelState(pendingTs: List[Long], pendingType: List[String],
      stage: Int, tMs: Long)

  /** One emitted stage advance. `step` is Long so the streaming schema
    * is union-compatible with the batch twin's BIGINT step column.
    */
  case class StageAdvance(user_id: Long, step: Long, step_name: String,
      ts: java.sql.Timestamp)

  /** EXT-6j — streaming ordered funnel: the unbounded twin of
    * [[graft.operators.Temporal.funnel]], emitting a `StageAdvance` the
    * moment a user's earliest strictly-ordered completion of each step
    * is SEALED by the watermark. Events are held in per-user state until
    * `ts <= watermark` (an in-scope late event could still be the EARLIER
    * step-completion the batch definition demands — deciding before the
    * seal could emit an advance batch semantics would time differently;
    * Spark itself drops arrivals with `ts <= wm`, so the seal boundary is
    * exactly the engine's late boundary),
    * then folded in event-time order (ties process the earlier step
    * first, so a simultaneous view+click advances view only — the batch
    * twin's strict `>`). Over any arrival order within the watermark
    * horizon, the advances equal the batch funnel's stage times.
    *
    * State is bounded by USERS, not events: sealed events leave state
    * immediately (only the automaton position and the unsealed tail
    * remain — the watermark horizon bounds the tail). The position is
    * kept after the final step — forgetting a completed user would let
    * later events replay the funnel and re-emit advances the batch twin
    * counts once. Non-step events are dropped before ever entering
    * state.
    */
  def funnelStream(
      ds: Dataset[Event],
      steps: Seq[String] = Seq("view", "click", "purchase"),
      watermarkDelay: String = "10 minutes"): Dataset[StageAdvance] = {
    import ds.sparkSession.implicits._
    require(steps.nonEmpty, "funnel needs at least one step")
    val stepIdx = steps.zipWithIndex.toMap
    ds.filter(e => stepIdx.contains(e.event_type))
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[FunnelState, StageAdvance](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, events: Iterator[Event], state: GroupState[FunnelState]) =>
          val st = state.getOption.getOrElse(FunnelState(Nil, Nil, 0, Long.MinValue))
          val all = (st.pendingTs.zip(st.pendingType) ++
            events.map(e => (e.ts.getTime, e.event_type))).distinct
          val wm = state.getCurrentWatermarkMs()
          // Spark's late filter drops input rows with ts <= wm before the
          // function sees them (WatermarkSupport.watermarkExpression builds
          // LessThanOrEqual), so every future arrival has ts > wm — events
          // at or below the watermark can no longer be preceded or tied and
          // are safe to seal NOW
          val (sealedEvs, pending) = all.partition(_._1 <= wm)
          var stage = st.stage
          var tMs = st.tMs
          val out = List.newBuilder[StageAdvance]
          for ((ts, typ) <- sealedEvs.sortBy { case (ts, typ) => (ts, stepIdx(typ)) })
            if (stage < steps.length && typ == steps(stage) &&
                (stage == 0 || ts > tMs)) {
              stage += 1
              tMs = ts
              out += StageAdvance(userId, stage.toLong, typ, new java.sql.Timestamp(ts))
            }
          // the automaton position is kept even after the last step:
          // dropping it would let later events replay the funnel from
          // stage 0 and re-emit advances for a user the batch twin
          // counts once — state is bounded by USERS (one small record),
          // not events, exactly like the batch per-user relation
          state.update(FunnelState(pending.map(_._1), pending.map(_._2), stage, tMs))
          if (pending.nonEmpty)
            // earliest pending seal point; every pending ts is > wm after
            // the <=-partition, so this is always a legal (> wm) timeout
            state.setTimeoutTimestamp(math.max(pending.map(_._1).min, wm + 1))
          out.result().iterator
      }
  }

  /** Per-user transition-chain state: the last SEALED event's (ms, type)
    * — the chain anchor, one small record kept for the user's lifetime —
    * plus the in-horizon pending events the watermark has not sealed.
    */
  case class TransState(lastMs: Long, lastType: String,
      pendMs: List[Long], pendId: List[Long], pendType: List[String])

  /** One emitted journey step: `ts` is the LATER event's time. */
  case class Transition(user_id: Long, from_type: String, to_type: String,
      ts: java.sql.Timestamp)

  /** EXT-6q — streaming user-journey transitions: the unbounded twin of
    * [[graft.operators.Temporal.transitions]]'s pair stream, emitting
    * each (from_type → to_type) adjacency the moment its LATER event is
    * sealed by the watermark. Events are held in per-user state until
    * `ts <= watermark` (an in-scope late event could still sequence
    * BETWEEN two already-seen events); sealed events sort by
    * (ts, event_id) — the batch twin's exact tie-break — and chain off
    * the last previously-sealed event, which is safe across batches
    * because every future arrival must carry ts > watermark ≥ sealed ts
    * (Spark's late filter is `LessThanOrEqual`, the same boundary the
    * sessionize/funnel seals lean on).
    *
    * State is bounded by USERS: one chain anchor forever (dropping it
    * would let the next batch re-emit the user's first transition) plus
    * the in-horizon pending list. Source-side at-least-once duplicates
    * in-horizon are collapsed by the (ts, id, type) `distinct`, the
    * funnel's discipline. Aggregation to the transition MATRIX is a
    * downstream `groupBy(from_type, to_type).count()` — this operator
    * stays the pair stream so consumers can also window it, join a
    * baseline matrix for anomaly flags, or feed next-step prediction.
    */
  def transitionsStream(
      ds: Dataset[Event],
      watermarkDelay: String = "10 minutes"): Dataset[Transition] = {
    import ds.sparkSession.implicits._
    ds.withWatermark("ts", watermarkDelay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[TransState, Transition](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, events: Iterator[Event], state: GroupState[TransState]) =>
          val st = state.getOption.getOrElse(
            TransState(Long.MinValue, null, Nil, Nil, Nil))
          val all = (st.pendMs.lazyZip(st.pendId).lazyZip(st.pendType).toList ++
            events.map(e => (e.ts.getTime, e.event_id, e.event_type))).distinct
          val wm = state.getCurrentWatermarkMs()
          val (sealedEvs, pending) = all.partition(_._1 <= wm)
          var lastMs = st.lastMs
          var lastType = st.lastType
          val out = List.newBuilder[Transition]
          for ((ms, _, typ) <- sealedEvs.sortBy(t => (t._1, t._2))) {
            if (lastType != null)
              out += Transition(userId, lastType, typ, new java.sql.Timestamp(ms))
            lastMs = ms
            lastType = typ
          }
          state.update(TransState(lastMs, lastType,
            pending.map(_._1), pending.map(_._2), pending.map(_._3)))
          if (pending.nonEmpty)
            // every pending ts is > wm after the <=-partition: legal timeout
            state.setTimeoutTimestamp(math.max(pending.map(_._1).min, wm + 1))
          out.result().iterator
      }
  }

  /** EXT-6s — streaming journey-anomaly gate: score each watermark-
    * sealed transition from [[transitionsStream]] against the batch-
    * trained [[graft.operators.Temporal.TransitionModel]] (x88's
    * baseline) and flag steps below `minP` — ingest-time bot/fraud
    * triage under EXT-6i/6r's train-batch/serve-stream contract (the
    * matrix is FIT on the corpus, never updated by the stream; refresh
    * is a new batch train).
    *
    * Stateless and shuffle-free ABOVE the pair stream: EXT-6q already
    * holds the only state (bounded by users), and this gate probes the
    * broadcast |types|²-entry model row-locally — a UDF for
    * [[importanceGateStream]]'s reason (no declarative expression can
    * address a broadcast JVM map, and the model's size bound is
    * structural). `step_p` is `TransitionModel.score`'s exact quotient,
    * the same IEEE division [[graft.operators.Temporal.journeyScores]]
    * takes its `min_p` over — a flagged stream step is exactly a step
    * that would crater the batch score. A transition the corpus never
    * saw scores 0.0: always flagged, the conservative default.
    */
  def journeyGateStream(
      trans: Dataset[Transition],
      model: graft.operators.Temporal.TransitionModel,
      minP: Double = 0.01): DataFrame = {
    val bc = trans.sparkSession.sparkContext.broadcast(model)
    val score = udf((f: String, t: String) => {
      val (nt, nf, p) = bc.value.score(f, t)
      (nt, nf, p)
    })
    trans.toDF()
      .withColumn("m", score(col("from_type"), col("to_type")))
      .select(col("user_id"), col("from_type"), col("to_type"), col("ts"),
        col("m._1").as("n_trans"), col("m._2").as("n_from"),
        col("m._3").as("step_p"),
        (col("m._3") < minP).as("flagged"))
  }

  /** EXT-6i — streaming semantic-cell assignment: score an unbounded
    * (vec_id, embedding) stream against centroids trained on the BATCH
    * corpus ([[graft.operators.Similarity.trainedCentroids]]), emitting
    * each vector's cell and prototypicality. The projection is the ONE
    * batch definition ([[graft.operators.Similarity.centroidProjection]])
    * run per microbatch unchanged — centroids are plan literals, so the
    * stream never shuffles, never joins, and holds NO state: the
    * embedding-space twin of the Bloom prefilter's index-probe contract
    * (train on the corpus once, score arrivals row-locally forever;
    * retrain is a new query with new literals).
    */
  def centroidAssignStream(
      vecs: DataFrame, cents: Seq[(Int, Array[Double])]): DataFrame =
    graft.operators.Similarity.centroidProjection(vecs, cents)

  /** EXT-6ag — streaming cell-MIXTURE monitor: the live face of x144's
    * per-cell drift census. Per watermark-sealed tumbling window of an
    * arriving (vec_id, embedding, ts) stream: each trained cell's exact
    * arrival count, its share of the window, the batch baseline share
    * (x144's corpus-side column, a plan literal), and the shift — so
    * "the crawl changed WHAT the corpus is about" fires mid-ingest
    * instead of at the next snapshot diff (6ac's relationship to x127,
    * applied to topic mixture). EXT-6i scores each VECTOR as it
    * arrives; this seals the WINDOW's composition.
    *
    * Assignment is [[graft.operators.Similarity.cellColumn]] — the one
    * batch spelling, carried through with the event time (no shuffle,
    * no join, no model state). The window fold is k conditional sums in
    * ONE aggregation: state per open window is k+1 longs, independent
    * of arrival count, and the k-row output explodes from the sealed
    * row AFTER aggregation. Share/shift arithmetic is x144's verbatim
    * (one IEEE division, one difference, one round); a window with no
    * arrivals emits nothing on either face — the twin-agreement law
    * the spec pins per sealed window against the batch census of the
    * same slice.
    */
  def cellMixtureMonitorStream(
      vecs: DataFrame,
      cents: Seq[(Int, Array[Double])],
      baselineShares: Seq[Double],
      windowDur: String = "10 minutes",
      watermarkDelay: String = "10 minutes"): DataFrame = {
    val k = cents.length
    require(baselineShares.length == k,
      s"baselineShares (${baselineShares.length}) must cover every cell ($k)")
    val counters = (0 until k).map(i =>
      sum(when(col("cell") === i, 1L).otherwise(0L)).as(s"c$i"))
    val base = typedlit(baselineShares)
    vecs
      .select(col("ts"), col("embedding").cast("array<double>").as("ed"))
      .withColumn("cell", graft.operators.Similarity.cellColumn(cents))
      .withWatermark("ts", watermarkDelay)
      .groupBy(window(col("ts"), windowDur))
      .agg(count(lit(1)).as("n_window"), counters: _*)
      .select(col("window.start").as("window_start"), col("n_window"),
        explode(array((0 until k).map(i =>
          struct(lit(i.toLong).as("cell"), col(s"c$i").as("n"))): _*)).as("s"))
      .select(col("window_start"), col("s.cell").as("cell"),
        col("s.n").as("n_cell"), col("n_window"),
        round(col("s.n").cast("double") / col("n_window"), 4).as("share4"),
        element_at(base, (col("s.cell") + 1).cast("int")).as("baseline_share4"))
      .withColumn("shift4",
        round(col("n_cell").cast("double") / col("n_window")
          - col("baseline_share4"), 4))
  }

  /** EXT-6ai — streaming curation-FUNNEL gauge: the live face of
    * x163. Each arriving (ts, doc_id, text) is flagged ROW-LOCALLY by
    * the ONE batch quality projection
    * ([[graft.operators.Curation.qualityAnnotated]]), marked a dedup
    * survivor by a stream-STATIC left join against the near-dup
    * cluster labels (the EXT-C55 persisted index is exactly this
    * relation — canonical or unclustered docs survive, x29's rule),
    * and split by the one x21 derivation
    * ([[graft.operators.Curation.splitVerdict]]). Per watermark-sealed
    * tumbling window: the four cumulative stage masses (docs + tokens)
    * with fractions of the window's raw — x163's capacity question
    * ("how many training tokens does this crawl yield, and which stage
    * eats them") answered per ingest window, mid-crawl, instead of at
    * the next batch census.
    *
    * State per open window is 8 longs (one aggregation of conditional
    * sums — 6ag's shape); the 4-row report explodes from the sealed
    * row AFTER aggregation. The label join is static and narrow
    * (doc_id → cluster), so the stream never shuffles before the
    * window fold. Twin law (spec-pinned): a sealed window's rows equal
    * `curationFunnel`'s masses over the same document slice when the
    * labels come from the same contraction.
    */
  def funnelGaugeStream(
      docs: DataFrame,
      labels: DataFrame,
      windowDur: String = "10 minutes",
      watermarkDelay: String = "10 minutes"): DataFrame = {
    val flagged = graft.operators.Curation.qualityAnnotated(docs)
      .join(labels.select(col("doc_id"),
        (col("cluster") =!= col("doc_id")).as("dup")), Seq("doc_id"), "left")
      .select(col("ts"), col("n_tokens"), col("keep"),
        (col("keep") && !coalesce(col("dup"), lit(false))).as("s3"),
        (col("keep") && !coalesce(col("dup"), lit(false))
          && graft.operators.Curation.splitVerdict(col("doc_id")) === "train").as("s4"))
    flagged
      .withWatermark("ts", watermarkDelay)
      .groupBy(window(col("ts"), windowDur))
      .agg(
        count(lit(1)).as("d1"), sum("n_tokens").as("t1"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("d2"),
        sum(when(col("keep"), col("n_tokens")).otherwise(0L)).as("t2"),
        sum(when(col("s3"), 1L).otherwise(0L)).as("d3"),
        sum(when(col("s3"), col("n_tokens")).otherwise(0L)).as("t3"),
        sum(when(col("s4"), 1L).otherwise(0L)).as("d4"),
        sum(when(col("s4"), col("n_tokens")).otherwise(0L)).as("t4"))
      .select(col("window.start").as("window_start"),
        expr("stack(4, 1, 'raw', d1, t1, 2, 'quality', d2, t2, " +
          "3, 'dedup', d3, t3, 4, 'train', d4, t4) AS (stage_ord, stage, n_docs, n_tokens)"),
        col("d1").as("rd"), col("t1").as("rt"))
      .select(col("window_start"), col("stage_ord").cast("int").as("stage_ord"),
        col("stage"), col("n_docs"), col("n_tokens"),
        round(col("n_docs").cast("double") / col("rd"), 4).as("doc_frac4"),
        round(col("n_tokens").cast("double") / col("rt"), 4).as("tok_frac4"))
  }

  /** EXT-6w — streaming PQ encoding: compress an unbounded
    * (vec_id, embedding) vector stream to its 8-byte PQ codes (plus the
    * exact reconstruction error — the live coding-quality monitor)
    * against codebooks built on the BATCH corpus
    * ([[graft.operators.Similarity.pqCodebooks]]). Quantization and the
    * argmin encode are the ONE batch definition
    * ([[graft.operators.Similarity.pqAssign]]) run per microbatch
    * unchanged — codebooks ride as plan literals, so the stream never
    * shuffles, never joins, and holds NO state (EXT-6i's
    * train-once/encode-forever contract; re-coding after a codebook
    * retrain is a new query with new literals). This is the ingest arm
    * of the persisted PQ index: arrivals are coded the moment they
    * land, so the 32×-compressed serving relation stays current without
    * ever re-encoding the corpus.
    */
  def pqEncodeStream(
      vecs: DataFrame, cb: Array[Array[Array[Long]]], dsub: Int): DataFrame =
    graft.operators.Similarity.pqAssign(
      vecs.select(col("vec_id"),
        graft.operators.Similarity.int8Quantize(col("embedding")).as("qv")),
      cb, dsub)

  /** EXT-6al — streaming IVF-PQ ingest encoder: route AND compress an
    * unbounded (vec_id, embedding) stream in one projection — per
    * arriving vector its coarse IVF cell (the partition of the
    * persisted composite index it belongs in) plus its 8-byte PQ codes
    * and exact reconstruction error. The measurement is the ONE batch
    * definition ([[graft.operators.Similarity.ivfPqAssignProjection]] —
    * what `writeIvfPqIndex` runs over the corpus) per microbatch
    * unchanged: centroids and codebooks ride as plan literals, so the
    * stream never shuffles, never joins, holds NO state and needs no
    * watermark (EXT-6w's contract extended to the composite). This is
    * the ingest arm of the x179 index: an arrival lands already routed
    * to its cell partition and coded for ADC serving — the live feed
    * that keeps the (nprobe/nCentroids · m/4dim)-shrunk serving
    * relation current without ever re-encoding the corpus.
    */
  def ivfPqEncodeStream(
      vecs: DataFrame,
      cents: Seq[(Int, Seq[Float])],
      cb: Array[Array[Array[Long]]],
      dsub: Int): DataFrame =
    graft.operators.Similarity.ivfPqAssignProjection(vecs, cents, cb, dsub)

  /** EXT-6am — streaming cluster-separation monitor: x180's margin
    * projection over an unbounded (vec_id, embedding) stream — per
    * arrival its trained cell, its exact int8 own-vs-best-other margin,
    * and the misfit verdict. The live MIS-ROUTE detector for int8
    * serving: a misfit arrival is a vector the quantized geometry
    * assigns differently than the float argmax — exactly the boundary
    * case that degrades cell-scoped consumers (x54's dedup scope, the
    * x179 index's routing) first, flagged at ingest instead of at the
    * next batch audit. The measurement is the ONE batch definition
    * ([[graft.operators.Similarity.separationProjection]]) per
    * microbatch unchanged: centroids ride as plan literals — zero
    * shuffles, zero joins, ZERO state, no watermark (the EXT-6i
    * train-once contract; a retrain is a new query).
    */
  def separationMonitorStream(
      vecs: DataFrame, cents: Seq[(Int, Array[Double])]): DataFrame =
    graft.operators.Similarity.separationProjection(
      vecs.select(col("vec_id"), col("embedding").cast("array<double>").as("ed")),
      cents)

  /** EXT-6x — streaming blocklist gate: the two-tier bad-words verdict
    * (x107) at ingest time. The measurement is the ONE batch definition
    * ([[graft.operators.Curation.blocklistProjection]]) — row-local
    * compiled hash-set counts, zero shuffles, ZERO state, no watermark —
    * so stream and batch verdicts are bit-identical by construction and
    * any replay re-derives the same decisions (the EXT-6l statelessness
    * argument; word lists are plan literals, a policy change is a new
    * query).
    */
  def blocklistGateStream(
      docs: DataFrame,
      severe: Seq[String],
      mild: Seq[String],
      mildMaxRate: Double): DataFrame =
    graft.operators.Curation.blocklistProjection(docs, severe, mild, mildMaxRate)

  /** EXT-6y — streaming semantic-contamination gate: every arriving
    * (vec_id, embedding) scored row-locally against the BENCHMARK slice
    * riding as plan literals (x112's verdict at ingest time — the
    * paraphrased-eval-leak filter running where the vectors arrive).
    * The measurement is the ONE shared definition
    * ([[graft.operators.Similarity.contaminationProjection]]): same
    * float arrays, same compiled dot fold, same lower-id tie-break —
    * so stream and batch verdicts are bit-identical by construction.
    * Zero shuffles, ZERO state, no watermark; replays re-derive the
    * same decisions (EXT-6l's statelessness argument). A new benchmark
    * release is a new query with new literals (EXT-6i's retrain
    * contract); a benchmark too large for literals belongs to the
    * batch operator's broadcast regime instead.
    */
  def contaminationGateStream(
      vecs: DataFrame, bench: Seq[(Long, Array[Float])], tau: Double): DataFrame =
    graft.operators.Similarity.contaminationProjection(vecs, bench, tau)

  /** EXT-6z — streaming vocab-drift monitor: the windowed ingest twin
    * of x113's OOV audit. Arriving (ts, source, text) documents are
    * measured row-locally against the TRAINED vocabulary riding as a
    * plan-time hash set (the ONE shared definition,
    * [[graft.operators.TextAnalysis.oovProjection]] — x107's compiled
    * CountIn expression, so stream and batch counts are bit-identical
    * by construction), then folded into watermarked tumbling windows
    * per (window, source): docs, token instances, OOV instances, and
    * the window's OOV rate (one IEEE division of exact longs).
    *
    * The alarm this feeds: a per-source OOV rate that JUMPS between
    * windows means the incoming distribution moved away from the
    * trained tokenizer (x60's drift, at the vocabulary level) — caught
    * per window at ingest instead of at the next batch audit. A vocab
    * retrain is a new query with new literals (EXT-6i's contract;
    * [[graft.operators.TextAnalysis.vocabTokens]] collects the exact
    * batch cut).
    *
    * Scale: the per-row measurement is stateless and shuffle-free; the
    * windowed fold's state is one count row per (open window × source)
    * — the same smallest-possible aggregation state as EXT-6u — and
    * exact integer sums make replayed microbatches re-derive identical
    * sealed windows.
    */
  def oovMonitorStream(
      docs: DataFrame,
      vocab: Seq[String],
      windowDur: String = "10 minutes",
      watermarkDelay: String = "10 minutes"): DataFrame =
    graft.operators.TextAnalysis.oovProjection(docs, vocab)
      .withWatermark("ts", watermarkDelay)
      .groupBy(window(col("ts"), windowDur), col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum("n_tokens").as("n_tokens"),
        sum("n_oov").as("n_oov"))
      .select(col("window.start").as("window_start"), col("source"),
        col("n_docs"), col("n_tokens"), col("n_oov"),
        when(col("n_tokens") === 0L, lit(null).cast("double"))
          .otherwise(col("n_oov").cast("double") / col("n_tokens")).as("oov_rate"))

  /** EXT-6ac — streaming length-quantile monitor: per watermarked
    * tumbling (window, source), the doc count, exact min/max, and the
    * KLL/GK-style `percentile_approx` p50/p90/p99 of document length.
    * The live leg of the length-distribution family: x67 certifies the
    * sketch against exact order statistics at batch-audit time, x127
    * reads the quantile DRIFT between snapshots — this emits the same
    * quantile vector per sealed ingest window, so the x127 alarm
    * ("the new crawl's documents are half the length") fires mid-crawl
    * instead of at the next snapshot diff.
    *
    * Contract (x59/x67's audit/sketch pairing): the sketch VALUES are
    * implementation-defined, so the spec pins the rank-error LAW per
    * sealed window — each reported quantile lies between the exact
    * order statistics at ranks `⌈(p±ε)·n⌉` (ε = 1/accuracy, clamped) of
    * the window's own rows — rather than exact numbers; min/max/count
    * are exact longs. State per open (window × source) is one fixed-size
    * sketch buffer + three longs — the aggregation-state bound of
    * EXT-6u/6z, independent of window row count; the buffers are
    * mergeable, so replays and out-of-order arrivals within the
    * watermark seal to the same multiset and the law still holds.
    */
  def lengthQuantileMonitorStream(
      docs: DataFrame,
      windowDur: String = "10 minutes",
      watermarkDelay: String = "10 minutes",
      accuracy: Int = 100): DataFrame =
    docs.withWatermark("ts", watermarkDelay)
      .groupBy(window(col("ts"), windowDur), col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        min("n_chars").as("min_chars"),
        max("n_chars").as("max_chars"),
        percentile_approx(col("n_chars"),
          array(lit(0.5), lit(0.9), lit(0.99)), lit(accuracy)).as("ps"))
      .select(col("window.start").as("window_start"), col("source"), col("n_docs"),
        col("min_chars"), col("max_chars"),
        col("ps").getItem(0).as("p50"),
        col("ps").getItem(1).as("p90"),
        col("ps").getItem(2).as("p99"))

  /** EXT-6ad — streaming decontamination-REPAIR gate: every arriving
    * document span-repaired at ingest against the benchmark k-gram set
    * riding as plan literals. The measurement is the ONE shared
    * definition ([[graft.operators.Curation.repairProjection]] — the
    * row-local spelling whose k-neighborhood `exists` is EXACTLY the
    * batch window's run test for minRun ≤ 2, spec-pinned equal), so
    * stream and batch repairs are identical by construction: zero
    * shuffles, ZERO state, no watermark — replays re-derive the same
    * repaired text (EXT-6l's statelessness argument). A new benchmark
    * release is a new query with new literals (EXT-6i's retrain
    * contract; [[graft.operators.Curation.benchmarkGrams]] collects the
    * exact batch membership set); a benchmark too large for plan
    * literals belongs to the batch operator's broadcast regime.
    *
    * Composes in front of the stateful twins exactly like the
    * contamination gate (EXT-6y) — but where 6y FLAGS the leaking
    * document, this SHIPS the repaired one: the quoted span never
    * reaches a training mixture, and the document's clean text does.
    */
  def repairGateStream(
      docs: DataFrame,
      benchGrams: Seq[String],
      k: Int = 5,
      minRun: Int = 2): DataFrame =
    graft.operators.Curation.repairProjection(docs, benchGrams, k, minRun)

  /** Per-type CUSUM state: the last watermark-sealed grid hour (epoch
    * seconds; MinValue before the first seal), the running cusum over
    * sealed hours, and the unsealed open-hour counts (bounded by the
    * watermark horizon — hours leave state the moment they seal).
    */
  case class CusumState(lastSealedS: Long, cusum: Long, open: Map[Long, Long])

  /** One sealed grid hour of the streaming CUSUM monitor. */
  case class CusumPoint(event_type: String, hour_s: Long, c: Long,
      dev: Long, cusum: Long)

  /** EXT-6aa — streaming CUSUM drift monitor: the unbounded twin of
    * [[graft.operators.Temporal.cusumDrift]] (x122). Arriving events
    * bucket into grid hours per type; once the watermark seals an hour
    * (no in-scope arrival can land in it — Spark drops `ts <= wm`, so
    * an hour is immutable when its end has passed the watermark) the
    * monitor emits the hour's count, the scaled-integer deviation
    * `dev = refHours·c − refEvents` against the TRAINED reference rate
    * (x122 over history — the EXT-6i retrain contract: re-baselining is
    * a new query with a new `ref`), and the running cusum. Exactly
    * x122's arithmetic — `dev` compares `c` with the reference mean
    * `refEvents/refHours` without ever materializing the rational — so
    * a level shift ramps the emitted cusum monotonically from the
    * change hour, live.
    *
    * The DENSE-grid law (a type going silent IS the change) survives
    * streaming: sealed hours are emitted CONTIGUOUSLY from
    * `gridStartS` (the monitor epoch, normally the batch history's
    * grid end) — empty hours between arrivals, and after the last
    * arrival, seal by EventTimeTimeout and emit with `c = 0`, so
    * silence ramps the cusum at `−refEvents` per hour instead of
    * pausing it. Replays re-derive identical points: counts are exact
    * integers and the seal boundary is the engine's own late-arrival
    * boundary.
    *
    * Scale/state: one shuffle keyed by event_type; state per type is
    * the cursor pair + the open-hour counts, bounded by the watermark
    * horizon in HOURS (not events — counts fold in-place). The spec
    * pins the twin-agreement law: over a sealed history with
    * `ref`/`gridStartS` taken from the batch audit, the emitted peak
    * equals x122's peak row and the cusum telescopes to zero at the
    * batch grid end. A watermark gap past `maxGapHours` (default one
    * calendar year) fails loudly instead of flooding the sink — one
    * corrupt far-future event time advances the watermark permanently,
    * and the dense-grid law would otherwise emit one point per empty
    * hour across the whole gap in a single microbatch.
    *
    * `maxGapHours` is measured in WHOLE HOURS against the sealing
    * cursor (never multiplied into seconds, so no overflow at any
    * legal value), and it also bounds legitimate BACKFILL: replaying
    * year-old history against a fresh `gridStartS` — or restarting
    * from a checkpoint whose `lastSealedS` lags live event time by
    * more than the gap — trips the same guard, and because the state
    * is checkpointed the throw repeats on every restart. This monitor
    * is for LIVE drift; to baseline from deep history, run the batch
    * operator (x122 `cusumDrift`) over the backlog first and start the
    * stream with `gridStartS` at the backlog's end, or raise
    * `maxGapHours` to cover the known catch-up window.
    */
  def cusumMonitorStream(
      ds: Dataset[Event],
      ref: Map[String, (Long, Long)], // type -> (refHours, refEvents)
      gridStartS: Long,
      watermarkDelay: String = "10 minutes",
      maxGapHours: Long = 8760L): Dataset[CusumPoint] = {
    import ds.sparkSession.implicits._
    require(gridStartS % 3600 == 0, s"gridStartS ($gridStartS) must be hour-aligned")
    require(ref.values.forall(_._1 > 0), "reference grids must be non-empty")
    require(maxGapHours > 0, s"maxGapHours ($maxGapHours) must be positive")
    ds.withWatermark("ts", watermarkDelay)
      .groupByKey(_.event_type)
      .flatMapGroupsWithState[CusumState, CusumPoint](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (etype: String, events: Iterator[Event], state: GroupState[CusumState]) =>
          ref.get(etype) match {
            case None =>
              // an unreferenced type stores nothing (the quota gate's
              // no-pinned-state discipline) — it belongs to the next
              // batch re-baseline, not this monitor's grid
              if (state.exists) state.remove()
              Iterator.empty
            case Some((refH, refT)) =>
              var st = state.getOption.getOrElse(
                CusumState(gridStartS - 3600L, 0L, Map.empty))
              val open = events.foldLeft(st.open) { (m, e) =>
                val h = math.floorDiv(e.ts.getTime, 3600000L) * 3600L
                if (h <= st.lastSealedS) m // pre-grid / already-sealed: dropped late
                else m.updated(h, m.getOrElse(h, 0L) + 1L)
              }
              // an hour [h, h+3600) is immutable once its end <= wm
              // (arrivals with ts <= wm are dropped by the engine)
              val wm = state.getCurrentWatermarkMs()
              val maxSealable = math.floorDiv(wm, 3600000L) * 3600L - 3600L
              // corrupt-clock guard (the batch maxRounds discipline): one
              // far-future event time advances the watermark permanently,
              // and this loop would then synchronously emit one point per
              // empty hour across the gap — a year-3000 ts means millions
              // of rows per type in a single microbatch. A gap past
              // maxGapHours is a broken producer clock, not drift; fail
              // loudly instead of flooding the sink.
              if ((maxSealable - st.lastSealedS) / 3600L > maxGapHours)
                throw new IllegalStateException(
                  s"cusumMonitorStream: watermark demands sealing " +
                    s"${(maxSealable - st.lastSealedS) / 3600L} hours for " +
                    s"type '$etype' in one invocation (maxGapHours=" +
                    s"$maxGapHours) — a far-future event time has corrupted " +
                    s"the watermark; re-baseline the monitor")
              val out = List.newBuilder[CusumPoint]
              var cursor = st.lastSealedS
              var cusum = st.cusum
              var rest = open
              while (cursor < maxSealable) {
                cursor += 3600L
                val c = rest.getOrElse(cursor, 0L)
                rest -= cursor
                val dev = refH * c - refT
                cusum += dev
                out += CusumPoint(etype, cursor, c, dev, cusum)
              }
              st = CusumState(cursor, cusum, rest)
              state.update(st)
              // wake at the next hour's seal point so silent types keep
              // emitting their empty-hour ramp (must be > wm)
              state.setTimeoutTimestamp(
                math.max((cursor + 2L * 3600L) * 1000L, wm + 1L))
              out.result().iterator
          }
      }
  }

  /** Per-open-(window, type) burstiness state: one (user_id, us,
    * event_id) triple per in-flight event — the price of EXACT gap
    * moments under out-of-order arrival, since a late event landing
    * between two already-seen ones replaces one gap with two and only
    * the full multiset can re-derive that. The batch op (x110 /
    * [[graft.operators.Temporal.windowedBurstiness]]) is the archival
    * law over unbounded history; this state is bounded by one window's
    * events for one type inside the watermark horizon.
    */
  case class BurstBuf(rows: Vector[(Long, Long, Long)])

  /** One sealed (window, event_type) burstiness row — the batch
    * [[graft.operators.Temporal.windowedBurstiness]] SCHEMA, so stream
    * and batch relations union/compare with no conversion.
    */
  case class WindowBurst(window_start: java.sql.Timestamp, event_type: String,
      n_gaps: Long, sum_gap_us: Long, sum_gap_sq: String,
      mean_gap_us: Double, cv2: Option[Double])

  /** EXT-6ae — streaming burstiness monitor: the live face of the
    * inter-arrival audit (x110). Per watermark-sealed tumbling
    * (window, event_type), the exact gap moments of that window's
    * per-(user, type) inter-arrival gaps — count, Σg, Σg² (digit
    * string), mean, CV² — so the retry-storm alarm (CV² jumping ≫ 1)
    * fires live next to EXT-6aa's CUSUM rate alarm: 6aa sees the RATE
    * move, this sees the SHAPE move (a client retry loop doubles CV²
    * before it moves any per-hour count). Twin-agreement law, spec-
    * pinned like 6u/6v: each sealed row equals the batch
    * [[graft.operators.Temporal.windowedBurstiness]] row over the same
    * events, bit for bit — same (ts, event_id) gap order, same exact
    * integer moments (Σg² in arbitrary precision — a window's µs² sum
    * overflows Long at plausible gap counts), same fixed double
    * operation order, same Σg = 0 ⇒ CV² = NULL guard, and a
    * (window, type) with no gap emits nothing on either face.
    *
    * Sealed through [[windowSealed]] (EventTimeTimeout at
    * max(winEnd, wm+1), state removed before emission — exactly once),
    * keyed by (window, event_type) so hot types don't serialize a
    * window through one task. Replays within the
    * watermark re-deliver into the buffered multiset idempotently only
    * if the source deduplicates; at-least-once ingest composes
    * [[dedupStream]] on event_id in front, the 6b discipline.
    */
  def burstinessMonitorStream(
      events: Dataset[Event],
      windowMs: Long = 10 * 60 * 1000L,
      watermarkDelay: String = "10 minutes"): Dataset[WindowBurst] = {
    import events.sparkSession.implicits._
    require(windowMs > 0, s"windowMs must be positive, got $windowMs")
    windowSealed[Event, (Long, String), BurstBuf, WindowBurst](
      events, watermarkDelay, e => (tumbling(e.ts.getTime, windowMs), e.event_type),
      _._1 + windowMs, BurstBuf(Vector.empty)) { (st, items) =>
      // exact micros: ms + the sub-ms part of the nanos field
      // (Timestamp.getTime already carries the integral ms)
      BurstBuf(st.rows ++ items.map { e =>
        (e.user_id, e.ts.getTime * 1000L + (e.ts.getNanos / 1000) % 1000L, e.event_id)
      })
    } { case ((winStart, etype), st) =>
      var n = 0L
      var s = 0L
      var q = BigInt(0)
      st.rows.groupBy(_._1).valuesIterator.foreach { evs =>
        val us = evs.map { case (_, u, id) => (u, id) }.sorted
        var i = 1
        while (i < us.length) {
          val g = us(i)._1 - us(i - 1)._1
          n += 1L; s += g; q += BigInt(g) * BigInt(g)
          i += 1
        }
      }
      if (n == 0L) Iterator.empty
      else {
        // the batch double spelling verbatim: qD is the exact integer
        // correctly rounded to the nearest double (what Spark's
        // DECIMAL(38,0)→double cast also produces)
        val nD = n.toDouble
        val sD = s.toDouble
        val qD = q.doubleValue
        val cv2 = if (s == 0L) None else Some((nD * qD - sD * sD) / (sD * sD))
        Iterator.single(WindowBurst(new java.sql.Timestamp(winStart), etype,
          n, s, q.toString, sD / nD, cv2))
      }
    }
  }

  /** One sealed (day, hour) concurrency leaf — EXT-6ah's emission. */
  case class HourConcurrency(day_s: Long, hour_s: Long, n_starts: Long,
      n_ends: Long, net: Long, intra_peak: Long)

  /** Buffered (us, delta) boundary events for an open hour cell. */
  case class ConcBuf(rows: Vector[(Long, Long)])

  /** EXT-6ah — streaming CONCURRENCY gauge: the live face of x148's
    * sweep-line, emitting its (day, hour) LEAVES. Each arriving sealed
    * session contributes +1 at its start and −1 at its end (row-local
    * flatMap); per watermark-sealed hour the gauge emits the boundary
    * counts, the net delta, and the intra-hour running peak — exactly
    * the level-1 relation of the batch scan
    * ([[graft.operators.Temporal.concurrencyLeaves]], the shared
    * definition the twin-agreement spec pins), so any consumer
    * assembles absolute concurrency by prefixing leaf NETS (x148's
    * levels 2–3 verbatim over a \|hours\| relation).
    *
    * Sealed through [[windowSealed]] (EventTimeTimeout at
    * max(hourEnd, wm+1), state removed before emission); state per open
    * hour is the buffered boundary multiset — the 6ae price of EXACT
    * order statistics under out-of-order arrival. Contract: the
    * watermark delay must cover the longest admissible session — a
    * session's START delta is delivered when the session seals (at its
    * end), so a session longer than the delay would target an
    * already-sealed hour and is DROPPED by the watermark, exactly and
    * loudly the documented loss mode (6af's horizon note applied to
    * intervals). At-least-once ingest composes [[dedupStream]] in
    * front, the 6b discipline.
    */
  def concurrencyGaugeStream(
      sessions: DataFrame,
      watermarkDelay: String = "1 hour"): Dataset[HourConcurrency] = {
    import sessions.sparkSession.implicits._
    val deltas = sessions
      .select(col("session_start"), col("session_end"))
      .as[(java.sql.Timestamp, java.sql.Timestamp)]
      .flatMap { case (s, e) => Seq((s, 1L), (e, -1L)) }
      .toDF("ts", "delta")
      .as[(java.sql.Timestamp, Long)]
    def micros(ts: java.sql.Timestamp): Long =
      ts.getTime * 1000L + (ts.getNanos / 1000) % 1000L
    windowSealed[(java.sql.Timestamp, Long), Long, ConcBuf, HourConcurrency](
      deltas, watermarkDelay, { case (ts, _) => micros(ts) / 1000000L / 3600L * 3600L },
      hourS => (hourS + 3600L) * 1000L, ConcBuf(Vector.empty)) { (st, items) =>
      ConcBuf(st.rows ++ items.map { case (ts, d) => (micros(ts), d) })
    } { (hourS, st) =>
      // the batch leaf spelling verbatim: (us asc, +1 before -1),
      // running sum, max
      val sorted = st.rows.sortBy { case (us, d) => (us, -d) }
      var run = 0L
      var peak = Long.MinValue
      var ns = 0L
      var ne = 0L
      sorted.foreach { case (_, d) =>
        run += d
        if (run > peak) peak = run
        if (d > 0) ns += 1L else ne += 1L
      }
      if (sorted.isEmpty) Iterator.empty
      else Iterator.single(HourConcurrency(
        hourS / 86400L * 86400L, hourS, ns, ne, run, peak))
    }
  }

  /** One arriving catalog record (the `part` shape the linkage family
    * blocks on).
    */
  case class PartRecord(p_partkey: Long, p_brand: String, p_size: Int, p_name: String)

  /** Per-block linkage state: every record seen in the block so far —
    * bounded by BLOCK size, which is the linkage module's whole design
    * argument (tens of records by key composition), never the stream.
    */
  case class BlockState(recs: Vector[(Long, String)])

  /** One provisional ingest-time match decision. */
  case class ProvisionalMatch(p_partkey: Long, block_brand: String, block_size: Int,
      n_prior: Long, match_key: Option[Long], dist: Option[Long], sim4: Option[Double])

  /** EXT-6af — streaming PROVISIONAL linkage gate: arriving catalog
    * records matched at ingest against every PRIOR record of their
    * block, with the batch scoring law verbatim — exact Levenshtein,
    * `sim4 = round(1 − dist/max(len), 4)` (both-empty ⇒ 1.0, x111's
    * guard), best match by (sim4 desc, key asc). The ingest-time face
    * of [[graft.operators.Linkage.entityResolution]]: x118 is the
    * symmetric audit over the settled catalog; this answers "is the
    * record I am ingesting RIGHT NOW a near-copy of something I
    * already hold" before it is admitted — the gate in front of the
    * entity-cluster composition (x133) exactly as 6b's dedup gate
    * fronts x1.
    *
    * Prior-prefix law (spec-pinned): a record's emission equals its
    * batch `entityResolution` row computed over the catalog prefix up
    * to and including it — the batch best-match over earlier records
    * IS the streaming decision, so replaying history through the gate
    * reproduces the audit. Within a microbatch, arrivals process in
    * p_partkey order (the deterministic total order every linkage
    * spelling uses), so a batched replay emits the same decisions as
    * one-by-one delivery. A record opening its block emits n_prior = 0
    * with NULL match columns (absence is a finding). State is the
    * block's records — the Σ_b |b| memory a blocked join holds anyway,
    * with the same too-coarse-key failure mode (a hot block = a hot
    * state key; the fix is key composition, not a bigger cluster).
    * Unlike the batch path's `guardBucketSize`, `NoTimeout` state
    * would grow a mis-keyed hot block's Vector silently forever, so
    * the same loud-failure contract applies here: `maxBlock` caps the
    * per-block state and a saturated block THROWS with the key-
    * composition guidance instead of creeping toward an executor OOM.
    */
  def linkageGateStream(
      ds: Dataset[PartRecord], maxBlock: Int = 100000): Dataset[ProvisionalMatch] = {
    import ds.sparkSession.implicits._
    def lev(a: String, b: String): Long = {
      val (n, m) = (a.length, b.length)
      if (n == 0) return m.toLong
      if (m == 0) return n.toLong
      var prev = Array.tabulate(m + 1)(identity)
      var cur = new Array[Int](m + 1)
      var i = 1
      while (i <= n) {
        cur(0) = i
        var j = 1
        while (j <= m) {
          val sub = prev(j - 1) + (if (a.charAt(i - 1) == b.charAt(j - 1)) 0 else 1)
          cur(j) = math.min(math.min(prev(j) + 1, cur(j - 1) + 1), sub)
          j += 1
        }
        val t = prev; prev = cur; cur = t
        i += 1
      }
      prev(m).toLong
    }
    def sim4Of(dist: Long, la: Int, lb: Int): Double = {
      val g = math.max(la, lb)
      val v = if (g == 0) 1.0 else 1.0 - dist.toDouble / g
      BigDecimal(v).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    ds.groupByKey(r => (r.p_brand, r.p_size))
      .flatMapGroupsWithState[BlockState, ProvisionalMatch](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: (String, Int), items: Iterator[PartRecord], state: GroupState[BlockState]) =>
          val (brand, size) = key
          var st = state.getOption.getOrElse(BlockState(Vector.empty))
          val out = Vector.newBuilder[ProvisionalMatch]
          items.toVector.sortBy(_.p_partkey).foreach { r =>
            val scored = st.recs.map { case (ck, cn) =>
              val d = lev(r.p_name, cn)
              (sim4Of(d, r.p_name.length, cn.length), ck, d)
            }
            val best =
              if (scored.isEmpty) None
              else Some(scored.minBy { case (s, ck, _) => (-s, ck) })
            out += ProvisionalMatch(r.p_partkey, brand, size, st.recs.length.toLong,
              best.map(_._2), best.map(_._3), best.map(_._1))
            require(st.recs.length < maxBlock,
              s"linkage block ($brand, $size) saturated (>= $maxBlock records in state) — " +
                "the blocking key is too coarse; fix by key composition (add a second " +
                "attribute), not a bigger cluster")
            st = BlockState(st.recs :+ (r.p_partkey, r.p_name))
          }
          state.update(st)
          out.result().iterator
      }
  }

  /** EXT-6ab — novel-chunk feed: the streaming face of CDC chunking
    * (x126). Arriving (ts, doc_id, source, text) documents are chunked
    * by the ONE batch definition ([[graft.operators.Dedup.cdcChunks]] —
    * entirely row-local, so it runs UNMODIFIED on the unbounded
    * relation: same compiled hash pass, same boundaries, same digests
    * as the batch census, by construction), then
    * `dropDuplicatesWithinWatermark` on the digest keeps only the
    * corpus-NOVEL chunks. This is the ingest feed an incremental chunk
    * index maintains itself from, and the live spelling of the CDC
    * resync law: a re-crawled page with one edited sentence emits ONLY
    * the chunks the edit touched — every unchanged chunk digest is
    * already in state and drops (where a fixed-stride chunker would
    * re-emit the whole shifted tail, x84's documented contrast).
    *
    * State is one digest (~16 B) per novel chunk within the watermark
    * horizon — `dropDuplicatesWithinWatermark`'s eviction bound, the
    * 6b discipline; at-least-once replays re-derive identical digests
    * row-locally and drop against the same state. A permanent (beyond-
    * horizon) census belongs to the batch operator x126 over the
    * accumulated corpus — the stream's job is the delta.
    */
  def novelChunkStream(
      docs: DataFrame,
      k: Int = 4,
      divisor: Long = 16L,
      watermarkDelay: String = "10 minutes"): DataFrame =
    graft.operators.Dedup.cdcChunks(docs, k, divisor, carry = Seq("ts"))
      .withWatermark("ts", watermarkDelay)
      .dropDuplicatesWithinWatermark("digest")

  /** EXT-6aj — ingest-time cluster gate: which persisted near-dup
    * cluster does each arriving document land in? The streaming face of
    * [[graft.operators.Curation.lookupClustersFromIndex]] over the
    * cluster index [[graft.operators.Curation.writeClusterIndex]]
    * maintains: a stream-static LEFT join against the index's label
    * relation on `doc_id`, with the SAME presentation —
    * `coalesce(cluster, doc_id)` (a never-clustered doc is its own
    * canonical) and the `clustered` flag — so an arriving doc resolves
    * exactly as the batch probe resolves it (the twin-agreement law the
    * spec pins). The gate a curation pipeline puts in front of re-crawl
    * ingest: `clustered = true` means this doc_id already belongs to a
    * known template family and the doc can route to the family's
    * representative instead of re-paying dedup.
    *
    * Stateless: no watermark, no streaming aggregation — each
    * microbatch pays one doc_id-keyed hash join against the static
    * label read. The batch probe's bucket-level file pruning (its
    * DISTINCT-buckets literal filter) needs the batch's bounded key set
    * and is not expressible on an unbounded relation — a production
    * deployment that wants per-microbatch pruning runs the batch probe
    * inside `foreachBatch`, which IS `lookupClustersFromIndex` verbatim;
    * this declarative form is the simple always-on spelling.
    */
  def clusterGateStream(docs: DataFrame, indexPath: String): DataFrame = {
    val spark = docs.sparkSession
    // the memoized meta read (IndexCache): validates the index exists and
    // is well-formed at stream start without paying a parquet job per
    // start on an unchanged index
    graft.operators.Curation.clusterIndexBuckets(spark, indexPath)
    val labels = graft.operators.Curation.readLabels(spark, indexPath)
      .select(col("doc_id"), col("cluster").as("_idx_cluster"))
    docs.join(labels, Seq("doc_id"), "left")
      .withColumn("cluster", coalesce(col("_idx_cluster"), col("doc_id")))
      .withColumn("clustered", col("_idx_cluster").isNotNull)
      .drop("_idx_cluster")
  }

  /** EXT-6ak — ingest-time SPLIT-LEAKAGE gate: does this arriving
    * document near-dup a member of ANOTHER split? The composition of
    * [[clusterGateStream]] (the persisted cluster index resolves the
    * doc's near-dup family) with the x66/x171 split-leakage law (a
    * cross-split near-dup means the eval side is memorized, not held
    * out): each arriving doc gets its x21 split verdict ROW-LOCALLY
    * (the ONE md5 derivation,
    * [[graft.operators.Curation.splitVerdict]], so the stream and the
    * batch split can never drift), its cluster from the index, and
    * `cross_split = true` when its family contains a member assigned
    * to a DIFFERENT split. This is the gate a training shard-writer
    * puts in front of ingest: a train doc whose family holds a
    * val/test member must not ship (x71's precedence rule decides who
    * yields; this gate is the live detector).
    *
    * The verdict is deliberately the TRANSITIVE form — the family
    * spans ≥ 2 splits — not merely "has a direct cross-split pair":
    * chain-stitched leakage (a near-dup of a near-dup, the distance
    * x157 prices) leaks the same eval content, so every direct x66
    * pair member is flagged (the containment law the spec pins) plus
    * the chain-stitched tail.
    *
    * Stateless: the per-cluster split census is a static relation
    * (the label read + the row-local verdict, folded to |clusters|
    * rows); the stream pays one doc_id-keyed left join to the labels
    * and one cluster-keyed left join to that census — no watermark, no
    * streaming state, and at-least-once replays re-derive the
    * identical verdict. The census asks only SET-membership questions
    * of `collect_set` (never order), so its engine-chosen array order
    * cannot leak into the verdict.
    */
  def splitLeakGateStream(docs: DataFrame, indexPath: String): DataFrame = {
    val spark = docs.sparkSession
    // memoized meta read — see clusterGateStream
    graft.operators.Curation.clusterIndexBuckets(spark, indexPath)
    val labels = graft.operators.Curation.readLabels(spark, indexPath)
      .select(col("doc_id"), col("cluster"))
    val famSplits = labels
      .select(col("cluster").as("_fam"),
        graft.operators.Curation.splitVerdict(col("doc_id")).as("_msplit"))
      .groupBy("_fam").agg(collect_set(col("_msplit")).as("_splits"))
    docs
      .withColumn("split", graft.operators.Curation.splitVerdict(col("doc_id")))
      .join(labels.withColumnRenamed("cluster", "_idx_cluster"), Seq("doc_id"), "left")
      .withColumn("cluster", coalesce(col("_idx_cluster"), col("doc_id")))
      .withColumn("clustered", col("_idx_cluster").isNotNull)
      .join(famSplits, col("cluster") === col("_fam"), "left")
      .withColumn("cross_split",
        coalesce(size(array_remove(col("_splits"), col("split"))) > 0, lit(false)))
      .drop("_idx_cluster", "_fam", "_splits")
  }

  /** One CDC document version: the content digest as-of `seq` (a
    * monotonically increasing per-doc version number — commit LSN,
    * kafka offset, snapshot ordinal); a null digest is a DELETE
    * tombstone. The digest, not the text, is the stream payload — the
    * same 32-byte fold the batch diff ships (EXT-C32).
    */
  case class DocVersion(doc_id: Long, seq: Long, digest: String)

  /** Per-doc diff state: the live digest (null = tombstoned/never-live)
    * and the highest applied seq (the at-least-once dedup horizon).
    */
  case class DiffState(digest: String, lastSeq: Long)

  /** One emitted status transition of the streamed corpus diff. */
  case class DiffEvent(doc_id: Long, seq: Long, status: String)

  /** EXT-6t — streaming corpus diff: the unbounded CDC twin of
    * [[graft.operators.Curation.corpusDiff]] (x93). The batch operator
    * classifies SNAPSHOT PAIRS; this classifies every arriving document
    * version against the doc's live state the moment it arrives —
    * `added` (no live version), `changed` / `same` (digest vs the live
    * one), `removed` (tombstone while live) — so downstream index
    * maintainers (EXT-6h/6o/6p) and incremental re-dedup can react
    * per-version instead of per-snapshot. Feeding snapshot A then
    * snapshot B (tombstones for B's absences) emits exactly the batch
    * diff's per-doc classification — the twin-agreement law the spec
    * pins.
    *
    * Mechanics: versions sort by `seq` within the group (arrival order
    * inside a microbatch is not meaningful), and any `seq ≤ lastSeq`
    * replay is dropped — at-least-once source duplicates cannot
    * re-emit or mis-order transitions. Tombstones RETAIN their state
    * entry (digest null, lastSeq kept): dropping it would let a stale
    * pre-delete duplicate resurrect the doc as `added`. State is
    * therefore bounded by doc_ids ever seen at ~50 B each — the same
    * keys-ever-seen bound the quota gate carries, and the price any CDC
    * materialization pays for replay-safe deletes (a production
    * deployment ages tombstones out past its replay horizon — a
    * retention policy, not a semantic change).
    */
  def corpusDiffStream(ds: Dataset[DocVersion]): Dataset[DiffEvent] = {
    import ds.sparkSession.implicits._
    ds.groupByKey(_.doc_id)
      .flatMapGroupsWithState[DiffState, DiffEvent](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (docId: Long, versions: Iterator[DocVersion], state: GroupState[DiffState]) =>
          var st = state.getOption.getOrElse(DiffState(null, Long.MinValue))
          val out = List.newBuilder[DiffEvent]
          for (v <- versions.toList.sortBy(_.seq) if v.seq > st.lastSeq) {
            val live = st.digest != null
            val status =
              if (v.digest == null) { if (live) "removed" else null }
              else if (!live) "added"
              else if (v.digest == st.digest) "same"
              else "changed"
            if (status != null) out += DiffEvent(docId, v.seq, status)
            st = DiffState(v.digest, v.seq)
          }
          state.update(st)
          out.result().iterator
      }
  }

  /** EXT-6l — streaming ingest mixture gate: enforce a dataset-mixture
    * plan AT INGEST TIME. The rate relation comes from the batch planner
    * ([[graft.operators.Curation.mixturePlan]] over the last corpus
    * snapshot — |sources| rows, bounded by construction) and the gate is
    * the ONE batch definition
    * ([[graft.operators.Curation.mixtureGate]]) run on the unbounded
    * stream: broadcast join + row-local content-stable threshold. The
    * stream never shuffles and the query holds NO state, so it needs no
    * watermark and survives any replay — the draw is content-stable
    * (`md5('mix:'||doc_id)`), so a reprocessed microbatch admits exactly
    * the rows it admitted the first time, which is what makes the gate
    * safe under at-least-once delivery. Re-planning a new mixture is a
    * new query with a new broadcast, exactly like EXT-6i's retrain
    * contract.
    */
  def mixtureGateStream(docs: DataFrame, rates: DataFrame): DataFrame =
    graft.operators.Curation.mixtureGate(docs, rates)

  /** Per-source quota state: the admitted doc_ids, bounded by the
    * source's quota (never grows past it).
    */
  case class QuotaState(admitted: Set[Long])

  /** One admitted document of the quota-gated ingest stream. */
  case class Admit(doc_id: Long, source: String)

  /** EXT-6m — streaming per-source QUOTA enforcement: admit documents
    * until each source's count-exact budget is spent, then reject. The
    * count-based enforcement arm of the mixture family — the batch
    * allocator ([[graft.operators.Curation.budgetAllocation]], x72)
    * decides `quota_s` with `Σquota = B` exactly; this gate spends it at
    * ingest time, where the RATE gate (EXT-6l) can only hit a budget in
    * expectation.
    *
    * Semantics: within a microbatch, candidates are admitted in doc_id
    * order (deterministic regardless of partition arrival order);
    * across batches, first-arrival-wins. Replay-IDEMPOTENT VERDICTS: an
    * already-admitted doc_id is re-emitted as admitted (at-least-once
    * output for an idempotent/dedup sink) and can never be double-
    * counted against the quota, and a rejected doc_id can never flip to
    * admitted later, because the admitted SET — not a counter — is the
    * state: a replayed batch re-derives exactly the same verdicts.
    *
    * State is bounded by `Σ quota` doc_ids total (each source's set
    * stops growing at its quota — the budget is the state bound, the
    * stream length never matters), held for the query lifetime
    * (NoTimeout: a quota is spent, not windowed; re-budgeting is a new
    * query with new quotas, EXT-6i's retrain contract).
    */
  def quotaGateStream(docs: DataFrame, quotas: Map[String, Long]): Dataset[Admit] = {
    import docs.sparkSession.implicits._
    docs.select(col("doc_id").cast("long"), col("source")).as[(Long, String)]
      .groupByKey(_._2)
      .flatMapGroupsWithState[QuotaState, Admit](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (source: String, rows: Iterator[(Long, String)], state: GroupState[QuotaState]) =>
          val quota = quotas.getOrElse(source, 0L)
          var admitted = state.getOption.getOrElse(QuotaState(Set.empty)).admitted
          val out = List.newBuilder[Admit]
          for ((id, _) <- rows.toSeq.sortBy(_._1))
            if (admitted.contains(id)) out += Admit(id, source) // replayed verdict
            else if (admitted.size < quota) {
              admitted += id
              out += Admit(id, source)
            }
          // an unbudgeted (or never-admitting) source stores NOTHING —
          // otherwise every distinct source key would pin a permanent
          // state entry under NoTimeout and the "budget bounds the
          // state" contract would silently become "distinct sources
          // bound the state"
          if (admitted.nonEmpty) state.update(QuotaState(admitted))
          out.result().iterator
      }
  }

  /** The watermark-seal scaffold shared by every windowed monitor
    * (EXT-6k drift, EXT-6n trending, EXT-6ae burstiness, EXT-6ah
    * concurrency): key rows into event-time windows by `key` (whose
    * window ends at `winEndMs(key)`), fold arrivals into per-window
    * state, and when the watermark seals the window emit ONCE and leave
    * state. The safety subtleties live here exactly once: the timeout is
    * `max(winEnd, wm+1)` (always legal — a data invocation can never
    * observe wm ≥ winEnd for its own window, since arrivals are admitted
    * only at ts > wm), and state is removed BEFORE emission so a sealed
    * window can never re-fire. [[tumbling]] is the usual key.
    */
  private def windowSealed[T, K: org.apache.spark.sql.Encoder,
      S <: Product: org.apache.spark.sql.Encoder,
      O <: Product: org.apache.spark.sql.Encoder](
      ds: Dataset[T],
      watermarkDelay: String,
      key: T => K,
      winEndMs: K => Long,
      zero: => S)(
      fold: (S, Iterator[T]) => S)(
      emit: (K, S) => Iterator[O]): Dataset[O] =
    ds.withWatermark("ts", watermarkDelay)
      .groupByKey(key)
      .flatMapGroupsWithState[S, O](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (k: K, items: Iterator[T], state: GroupState[S]) =>
          if (state.hasTimedOut) {
            // wm >= winEnd: sealed — no in-scope arrival can still land
            val st = state.get
            state.remove()
            emit(k, st)
          } else {
            state.update(fold(state.getOption.getOrElse(zero), items))
            state.setTimeoutTimestamp(
              math.max(winEndMs(k), state.getCurrentWatermarkMs() + 1))
            Iterator.empty
          }
      }

  /** The start (epoch ms) of the `windowMs` tumbling window holding `tsMs`. */
  private def tumbling(tsMs: Long, windowMs: Long): Long =
    Math.floorDiv(tsMs, windowMs) * windowMs

  /** Per-window trending state: event counts per key for an open window. */
  case class TrendState(counts: Map[Long, Long])

  /** One emitted per-window trending row — the batch x76 SCHEMA
    * (`window_start_s` in epoch seconds, BIGINT), so the stream output
    * unions/joins against [[graft.operators.Temporal.trendingKeys]]
    * with no conversion.
    */
  case class TrendingKey(window_start_s: Long, rank: Int,
      user_id: Long, n_events: Long)

  /** EXT-6n — streaming windowed heavy hitters: the unbounded twin of
    * [[graft.operators.Temporal.trendingKeys]] (x76). Events bucket
    * into tumbling event-time windows; when the watermark seals a
    * window the monitor emits that window's top-k keys by
    * (count desc, key asc) — the batch tie-break — exactly once. The
    * "what is hot RIGHT NOW" feed, and the live alarm that decides
    * whether the next stateful query needs [[graft.operators.Skew
    * .saltedJoin]] before the burst melts a partition.
    *
    * Same seal machinery as the drift monitor (EXT-6k): EventTimeTimeout
    * at the window end, sealed windows leave state at emission. State is
    * one count map per OPEN window — bounded by windows inside the
    * watermark horizon × per-window distinct keys; that exact map is the
    * audit-grade spelling (emitted counts are exact, matching the batch
    * relation bit-for-bit) — a SpaceSaving summary is the sub-linear
    * drop-in if per-window key cardinality ever outgrows state, with
    * x73's CMS audit as its error monitor.
    */
  def trendingStream(
      events: Dataset[Event],
      k: Int = 3,
      windowMs: Long = 10 * 60 * 1000L,
      watermarkDelay: String = "10 minutes"): Dataset[TrendingKey] = {
    import events.sparkSession.implicits._
    require(k > 0, s"k must be positive, got $k")
    require(windowMs > 0, s"windowMs must be positive, got $windowMs")
    windowSealed[Event, Long, TrendState, TrendingKey](
      events, watermarkDelay, e => tumbling(e.ts.getTime, windowMs),
      _ + windowMs, TrendState(Map.empty)) {
      (st, es) =>
        var counts = st.counts
        for (e <- es)
          counts = counts.updated(e.user_id, counts.getOrElse(e.user_id, 0L) + 1L)
        TrendState(counts)
    } { (winStart, st) =>
      st.counts.toSeq.sortBy { case (uid, n) => (-n, uid) }.take(k)
        .zipWithIndex.iterator.map { case ((uid, n), i) =>
          TrendingKey(winStart / 1000L, i + 1, uid, n)
        }
    }
  }

  /** Persisted SpaceSaving entry / state for [[trendingStreamApprox]]. */
  case class SSEntry(key: Long, count: Long, err: Long)
  case class SSState(entries: Seq[SSEntry])

  /** One emitted approximate trending row: `count_est` overestimates the
    * true count by at most `err` (true ∈ [count_est − err, count_est]);
    * `err == 0` means the count is EXACT (the key was never displaced).
    */
  case class TrendingKeyApprox(window_start_s: Long, rank: Int,
      user_id: Long, count_est: Long, err: Long)

  /** EXT-6n (sub-linear spelling) — SpaceSaving windowed heavy hitters:
    * [[trendingStream]] with per-window state bounded by `capacity`
    * counters instead of one exact entry per distinct key. The exact
    * operator's map is audit-grade but its state grows with per-window
    * key cardinality; a burst of unique keys (bot sweep, id-spray) melts
    * exactly the window the monitor exists to protect. SpaceSaving caps
    * it: state is `windows inside the watermark horizon × capacity`,
    * INDEPENDENT of distinct keys, and on the skewed distributions where
    * trending matters the emitted top-k is the exact operator's
    * ([[graft.operators.SpaceSavingSummary]]'s no-missing-heavy-hitter
    * guarantee, spec-pinned on a skewed drive). Each row carries its
    * per-key error bound; x73's CMS sketch is the independent audit when
    * estimates need cross-checking.
    *
    * Same seal machinery as the exact twin (tumbling event-time windows,
    * watermark seal, emit exactly once, state removed at emission). The
    * fold rebuilds the summary from persisted entries — O(capacity·log
    * capacity) per (window, microbatch), paid once per fold, not per
    * event.
    */
  def trendingStreamApprox(
      events: Dataset[Event],
      k: Int = 3,
      capacity: Int = 256,
      windowMs: Long = 10 * 60 * 1000L,
      watermarkDelay: String = "10 minutes"): Dataset[TrendingKeyApprox] = {
    import events.sparkSession.implicits._
    require(k > 0, s"k must be positive, got $k")
    require(capacity >= k, s"capacity ($capacity) must be at least k ($k)")
    require(windowMs > 0, s"windowMs must be positive, got $windowMs")
    windowSealed[Event, Long, SSState, TrendingKeyApprox](
      events, watermarkDelay, e => tumbling(e.ts.getTime, windowMs),
      _ + windowMs, SSState(Seq.empty)) {
      (st, es) =>
        val s = graft.operators.SpaceSavingSummary.fromEntries(
          capacity, st.entries.map(e => (e.key, e.count, e.err)))
        for (e <- es) s.offer(e.user_id)
        SSState(s.entries.map { case (key, c, err) => SSEntry(key, c, err) })
    } { (winStart, st) =>
      st.entries.sortBy(e => (-e.count, e.key)).take(k)
        .zipWithIndex.iterator.map { case (e, i) =>
          TrendingKeyApprox(winStart / 1000L, i + 1, e.key, e.count, e.err)
        }
    }
  }

  /** One timestamped document of the ingest stream (the streaming shape
    * of the `documents` table plus event time).
    */
  case class TimedDoc(doc_id: Long, ts: java.sql.Timestamp, text: String)

  /** A timestamped document carrying its source — the EXT-6z monitor's
    * input shape (per-source windowed rates need the source at ingest).
    */
  case class TimedSourcedDoc(
      doc_id: Long, ts: java.sql.Timestamp, source: String, text: String)

  /** EXT-6u — streaming gate-attrition monitor: the windowed ingest twin
    * of [[graft.operators.Curation.gateAttrition]] (x95). Each
    * watermark-sealed tumbling window emits ONE row of the same nine
    * conditional counts the batch funnel restacks — docs entering, the
    * four sequential survivor counts, and the four sole-blocker counts —
    * so an ingest dashboard watches WHICH gate is eating the stream and
    * an alert fires when a crawl change moves a gate's drop rate.
    *
    * Shape: the ONE row-local measurement projection x19/x95 compile
    * ([[graft.operators.Curation.qualityAnnotated]] — stream and batch
    * flags can never drift) feeding a watermarked windowed aggregate;
    * state is one count row per open window, the smallest state any
    * windowed operator can hold. Counts are exact conditional sums, so
    * a replayed microbatch re-derives identical windows. The funnel
    * stays columnar here (n0, s1–s4, b1–b4 + drops) rather than
    * restacked to gate rows: a monitor consumes one row per window, and
    * the restack is a row-local `stack` away for anyone who wants the
    * batch presentation.
    */
  def gateAttritionStream(
      docs: DataFrame,
      windowDur: String = "10 minutes",
      watermarkDelay: String = "10 minutes"): DataFrame =
    graft.operators.Curation.qualityAnnotated(docs)
      .withWatermark("ts", watermarkDelay)
      .groupBy(window(col("ts"), windowDur))
      .agg(
        count(lit(1)).as("n_in"),
        sum(when(col("r_len"), 1L).otherwise(0L)).as("s1"),
        sum(when(col("r_len") && col("r_avg"), 1L).otherwise(0L)).as("s2"),
        sum(when(col("r_len") && col("r_avg") && col("r_stop"), 1L).otherwise(0L)).as("s3"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("s4"),
        sum(when(!col("r_len") && col("r_avg") && col("r_stop") && col("r_rep"), 1L)
          .otherwise(0L)).as("b_len"),
        sum(when(col("r_len") && !col("r_avg") && col("r_stop") && col("r_rep"), 1L)
          .otherwise(0L)).as("b_avg"),
        sum(when(col("r_len") && col("r_avg") && !col("r_stop") && col("r_rep"), 1L)
          .otherwise(0L)).as("b_stop"),
        sum(when(col("r_len") && col("r_avg") && col("r_stop") && !col("r_rep"), 1L)
          .otherwise(0L)).as("b_rep"))
      .select(col("window.start").as("window_start"), col("n_in"),
        col("s1"), col("s2"), col("s3"), col("s4"),
        (col("n_in") - col("s1")).as("d_len"), (col("s1") - col("s2")).as("d_avg"),
        (col("s2") - col("s3")).as("d_stop"), (col("s3") - col("s4")).as("d_rep"),
        col("b_len"), col("b_avg"), col("b_stop"), col("b_rep"))

  /** Per-window drift state: token counts of everything the watermark
    * has not sealed, plus the window's token total (carried explicitly —
    * summing the map on every event would be quadratic).
    */
  case class DriftState(counts: Map[String, Long], nTokens: Long)

  /** One emitted per-window drift measurement. */
  case class WindowDrift(window_start: java.sql.Timestamp, n_tokens: Long,
      tv_numer: Long, tv_distance: Double)

  /** One timestamped payload of a CDC/event stream (props = the opaque
    * JSON value, as in the `events` table).
    */
  case class TimedPayload(event_id: Long, ts: java.sql.Timestamp, props: String)

  /** Per-window key-census state: top-level-key presence counts + the
    * window's event total.
    */
  case class KeyCensusState(counts: Map[String, Long], nEvents: Long)

  /** One sealed-window schema-drift row (one per key per window). */
  case class WindowKeyDrift(window_start: java.sql.Timestamp, key: String,
      n_events: Long, n_key: Long, rate: Double, ref_rate: Double,
      rate_shift: Double, status: String)

  /** EXT-6v — streaming schema-drift monitor: the windowed twin of
    * [[graft.operators.Payload.schemaDrift]] (x102). Each watermark-
    * sealed tumbling window emits one row per top-level payload key —
    * presence count, presence rate, the broadcast reference rate, the
    * shift, and the new/gone/stable verdict — so a schema change in the
    * producer pages the consumer within one window instead of at the
    * next batch audit. Keys in the reference but absent from the window
    * emit as `gone` rows (count 0): silence is exactly the signal.
    *
    * Mechanics: [[windowSealed]] (the drift monitor's chassis — state
    * is one key-count map per OPEN window, bounded by the payload
    * schema's key vocabulary, not the stream; sealed windows leave
    * state at emission). Top-level keys come from Jackson's `readTree`
    * field names — the same top-level-key semantics as the batch
    * operator's `json_object_keys` (nested keys invisible to both);
    * unparseable payloads count toward `n_events` but contribute no
    * keys, so a producer emitting garbage shows up as every key's rate
    * collapsing rather than as silence. Exact integer counts; rates
    * are single IEEE divisions, as in the batch twin.
    */
  def schemaDriftStream(
      events: Dataset[TimedPayload],
      reference: Map[String, Double],
      windowMs: Long = 10 * 60 * 1000L,
      watermarkDelay: String = "10 minutes"): Dataset[WindowKeyDrift] = {
    import events.sparkSession.implicits._
    require(reference.nonEmpty, "reference census must be non-empty")
    require(windowMs > 0, s"windowMs must be positive, got $windowMs")
    windowSealed[TimedPayload, Long, KeyCensusState, WindowKeyDrift](
      events, watermarkDelay, e => tumbling(e.ts.getTime, windowMs),
      _ + windowMs,
      KeyCensusState(Map.empty, 0L)) { (st, evs) =>
      var counts = st.counts
      var n = st.nEvents
      for (e <- evs) {
        n += 1L
        if (e.props != null) {
          val keys =
            try {
              val it = StreamOps.jsonMapper.readTree(e.props).fieldNames()
              val b = List.newBuilder[String]
              while (it.hasNext) b += it.next()
              b.result()
            } catch { case _: Exception => Nil }
          for (k <- keys)
            counts = counts.updated(k, counts.getOrElse(k, 0L) + 1L)
        }
      }
      KeyCensusState(counts, n)
    } { (winStart, st) =>
      if (st.nEvents == 0) Iterator.empty
      else (st.counts.keySet ++ reference.keySet).toSeq.sorted.iterator.map { k =>
        val nk = st.counts.getOrElse(k, 0L)
        val rate = nk.toDouble / st.nEvents
        val ref = reference.getOrElse(k, 0.0)
        val status =
          if (!reference.contains(k)) "new"
          else if (nk == 0L) "gone"
          else "stable"
        WindowKeyDrift(new java.sql.Timestamp(winStart), k,
          st.nEvents, nk, rate, ref, rate - ref, status)
      }
    }
  }

  /** Shared lenient JSON reader for payload-key extraction (thread-safe
    * for `readTree`).
    */
  private[streaming] val jsonMapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** EXT-6k — streaming corpus-drift monitor: the unbounded twin of
    * [[graft.operators.Curation.tokenDrift]]. Arriving documents are
    * bucketed into tumbling event-time windows; when the watermark
    * seals a window (wm ≥ window end ⇒ no in-scope arrival can still
    * land in it, since Spark admits only ts > wm), the monitor emits
    * the total-variation distance between that window's token frequency
    * distribution and a fixed REFERENCE distribution (the accepted
    * corpus / last crawl) — the "did ingest quality move this window"
    * alarm, per window, exactly once.
    *
    * Same exact-integer spelling as the batch twin: numerator
    * `Σ_tok |c_tok·N_ref − r_tok·N_win|` over the token union in Long
    * arithmetic (order-insensitive — safe to fold over an unordered
    * map), ONE IEEE division by `2·N_win·N_ref` at emission. The spec
    * asserts stream == batch bit-for-bit on the shared numerator law.
    *
    * Scale: state is one token-count map per OPEN window — bounded by
    * (windows inside the watermark horizon) × (per-window vocabulary),
    * never by the stream; a sealed window leaves state at emission. The
    * reference rides the task closure as a plain map (bounded by
    * construction: a vocabulary, not a corpus — the same bounded-
    * broadcast rule as the Bloom index). Null-text documents count zero
    * tokens; empty text contributes ONE empty-string token — exactly
    * the batch tokenizer's `split` contract ([[graft.operators.Tables
    * .tokens]]), so stream and batch count the same corpus. A window
    * with no tokens emits nothing (0/0 is not a drift signal — the
    * [[graft.operators.TextAnalysis.compressionRatio]] null contract).
    */
  def driftStream(
      docs: Dataset[TimedDoc],
      reference: Map[String, Long],
      windowMs: Long = 10 * 60 * 1000L,
      watermarkDelay: String = "10 minutes"): Dataset[WindowDrift] = {
    import docs.sparkSession.implicits._
    require(reference.nonEmpty && reference.valuesIterator.forall(_ > 0),
      "reference distribution must be non-empty with positive counts")
    require(windowMs > 0, s"windowMs must be positive, got $windowMs")
    val nRef = reference.valuesIterator.sum
    windowSealed[TimedDoc, Long, DriftState, WindowDrift](
      docs, watermarkDelay, e => tumbling(e.ts.getTime, windowMs),
      _ + windowMs, DriftState(Map.empty, 0L)) {
      (st, ds) =>
        var counts = st.counts
        var n = st.nTokens
        for (d <- ds; if d.text != null; tok <- d.text.split(" ", -1)) {
          counts = counts.updated(tok, counts.getOrElse(tok, 0L) + 1L)
          n += 1L
        }
        DriftState(counts, n)
    } { (winStart, st) =>
      if (st.nTokens == 0) Iterator.empty
      else {
        val numer = (st.counts.keySet ++ reference.keySet).iterator.map { tok =>
          math.abs(st.counts.getOrElse(tok, 0L) * nRef -
            reference.getOrElse(tok, 0L) * st.nTokens)
        }.sum
        Iterator.single(WindowDrift(
          new java.sql.Timestamp(winStart), st.nTokens, numer,
          numer.toDouble / (2.0 * st.nTokens * nRef)))
      }
    }
  }
}
