package graft.operators

/** SpaceSaving heavy-hitter summary (Metwally, Agrawal, El Abbadi,
  * "Efficient Computation of Frequent and Top-k Elements in Data
  * Streams", ICDT 2005) — the bounded-memory drop-in for exact
  * per-window count maps when per-window key cardinality outgrows state
  * (see [[graft.streaming.StreamOps.trendingStreamApprox]]; the x73 CMS
  * audit is its independent error monitor).
  *
  * Invariants (the paper's, asserted in the spec):
  *  - at most `capacity` monitored keys, regardless of distinct arrivals;
  *  - each entry's true count lies in `[count - err, count]` — the
  *    estimate only ever OVERcounts, by at most the displaced minimum
  *    recorded in `err`;
  *  - any key whose true count exceeds the summary's minimum count is
  *    monitored (no heavy hitter can be missing), which is what makes
  *    top-k on a skewed stream agree with the exact operator.
  *
  * Mutable and NOT thread-safe by design: it lives inside a single
  * `flatMapGroupsWithState` fold (one group = one window = one task) or
  * a test. O(log capacity) per arrival via a count-ordered bucket index
  * — the min-eviction never scans the counter table. Eviction tie-break
  * is the smallest key in the minimum-count bucket, so replays rebuild
  * byte-identical state.
  */
final class SpaceSavingSummary(val capacity: Int) extends Serializable {
  require(capacity > 0, s"capacity must be positive, got $capacity")

  // key -> (estimated count, max overestimate)
  private val counters = scala.collection.mutable.HashMap.empty[Long, (Long, Long)]
  // count -> keys at that count; firstKey is the eviction candidate set
  private val byCount = new java.util.TreeMap[Long, scala.collection.mutable.TreeSet[Long]]()

  private def unlink(count: Long, key: Long): Unit = {
    val bucket = byCount.get(count)
    bucket -= key
    if (bucket.isEmpty) byCount.remove(count)
  }

  private def link(count: Long, key: Long): Unit =
    byCount.computeIfAbsent(count, _ => scala.collection.mutable.TreeSet.empty[Long]) += key

  /** Record one arrival of `key` (or `weight` arrivals at once). */
  def offer(key: Long, weight: Long = 1L): Unit = {
    require(weight > 0, s"weight must be positive, got $weight")
    counters.get(key) match {
      case Some((c, e)) =>
        unlink(c, key)
        counters(key) = (c + weight, e)
        link(c + weight, key)
      case None if counters.size < capacity =>
        counters(key) = (weight, 0L)
        link(weight, key)
      case None =>
        // evict the minimum: the newcomer inherits its count as the
        // overestimate bound — the key may have occurred up to minCount
        // times while unmonitored, never more
        val minCount = byCount.firstKey()
        val victim = byCount.get(minCount).head // smallest key: deterministic
        unlink(minCount, victim)
        counters.remove(victim)
        counters(key) = (minCount + weight, minCount)
        link(minCount + weight, key)
    }
  }

  def size: Int = counters.size

  /** All monitored entries as (key, estimated count, max overestimate);
    * the true count of `key` lies in `[count - err, count]`.
    */
  def entries: Seq[(Long, Long, Long)] =
    counters.iterator.map { case (k, (c, e)) => (k, c, e) }.toSeq

  /** Top-k by (estimated count desc, key asc) — the exact operator's
    * tie-break, so agreement specs compare like with like.
    */
  def topK(k: Int): Seq[(Long, Long, Long)] =
    entries.sortBy { case (key, c, _) => (-c, key) }.take(k)
}

object SpaceSavingSummary {
  /** Rebuild a summary from persisted entries (the
    * `flatMapGroupsWithState` state round-trip). Entries must come from
    * a summary of the same capacity; the restore is exact.
    */
  def fromEntries(
      capacity: Int, entries: Iterable[(Long, Long, Long)]): SpaceSavingSummary = {
    val s = new SpaceSavingSummary(capacity)
    entries.foreach { case (k, c, e) =>
      require(s.counters.size < capacity, "more entries than capacity")
      s.counters(k) = (c, e)
      s.link(c, k)
    }
    s
  }

  /** Merge per-partition summaries into one (the parallel-SpaceSaving
    * shape: each map partition folds its rows into a local summary, the
    * driver merges the bounded per-partition entry lists). A key absent
    * from a partition's summary may still have occurred up to that
    * partition's MINIMUM count there (the no-missing-heavy-hitter law in
    * contrapositive), so the merge charges `min_p` to both the estimate
    * and the error for every absent partition:
    *
    *   count(k) = Σ_p (count_p(k) if monitored else min_p)
    *   err(k)   = Σ_p (err_p(k)   if monitored else min_p)
    *
    * Both laws survive: per partition `true_p ≤ contributed count` and
    * `contributed (count − err) ≤ true_p`, and sums preserve both. The
    * result is truncated back to `capacity` keys by (count desc, key
    * asc); a dropped key's estimate was ≤ every kept key's, so the kept
    * top-k ordering is unchanged. An EMPTY partition list merges to an
    * empty summary (min 0 — it saw nothing and charges nothing).
    */
  def merge(
      capacity: Int,
      parts: Seq[Seq[(Long, Long, Long)]]): Seq[(Long, Long, Long)] = {
    require(capacity > 0, s"capacity must be positive, got $capacity")
    val mins = parts.map(p => if (p.size < capacity) 0L else p.map(_._2).min)
    val keys = parts.flatten.map(_._1).distinct
    keys.map { k =>
      var count = 0L
      var err = 0L
      parts.zip(mins).foreach { case (p, m) =>
        p.find(_._1 == k) match {
          case Some((_, c, e)) => count += c; err += e
          case None => count += m; err += m
        }
      }
      (k, count, err)
    }.sortBy { case (k, c, _) => (-c, k) }.take(capacity)
  }
}

/** One monitored key of a finished summary. */
final case class HeavyHitterEntry(key: Long, count: Long, err: Long)

/** Aggregate output wrapper (a bare `Seq` has no product encoder). */
final case class HeavyHitters(entries: Seq[HeavyHitterEntry])

/** SpaceSaving as a typed Spark aggregate — the [[graft.functions
  * .TopKExpression]] shape: the buffer is the live summary object
  * (ObjectHashAggregate keeps it unserialized within a partition), so
  * every map partition folds its keys locally and the exchange carries
  * one ≤-capacity entry list per partition, never the key stream. The
  * partial merge is [[SpaceSavingSummary.merge]]'s law-preserving union;
  * merged minimums only grow, so the absent-key charge stays an upper
  * bound through any merge order (spec-pinned under shuffled partition
  * layouts).
  */
final class SpaceSavingAggregator(capacity: Int)
    extends org.apache.spark.sql.expressions.Aggregator[
      Long, SpaceSavingSummary, HeavyHitters] {
  override def zero: SpaceSavingSummary = new SpaceSavingSummary(capacity)
  override def reduce(b: SpaceSavingSummary, key: Long): SpaceSavingSummary = {
    b.offer(key); b
  }
  override def merge(
      a: SpaceSavingSummary, b: SpaceSavingSummary): SpaceSavingSummary =
    SpaceSavingSummary.fromEntries(capacity,
      SpaceSavingSummary.merge(capacity, Seq(a.entries, b.entries)))
  override def finish(b: SpaceSavingSummary): HeavyHitters =
    HeavyHitters(b.entries.sortBy { case (k, c, _) => (-c, k) }
      .map { case (k, c, e) => HeavyHitterEntry(k, c, e) })
  override def bufferEncoder: org.apache.spark.sql.Encoder[SpaceSavingSummary] =
    org.apache.spark.sql.Encoders.kryo[SpaceSavingSummary]
  override def outputEncoder: org.apache.spark.sql.Encoder[HeavyHitters] =
    org.apache.spark.sql.Encoders.product[HeavyHitters]
}
