package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.StreamOps
import graft.streaming.StreamOps.{Event, Session}

/** Streaming §2b ops over MemoryStream: windowed aggregation, watermarked
  * dedup, sessionization (SURVEY.md §5.3 — no broker needed).
  */
class StreamOpsSpec extends AnyFunSuite with SparkSuite {

  private def ts(min: Int) = new java.sql.Timestamp(1700000000000L + min * 60000L)
  private def ev(id: Long, min: Int, user: Long, typ: String = "click", v: Double = 1.0) =
    Event(id, ts(min), user, typ, v)

  test("windowedCounts finalizes a window once the watermark passes it") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[Event]
    val q = StreamOps.windowedCounts(stream.toDF())
      .writeStream.format("memory").queryName("win_out").outputMode("append").start()
    try {
      stream.addData(ev(1, 1, 10), ev(2, 3, 11, v = 5.0), ev(3, 14, 10))
      q.processAllAvailable()
      // watermark still at max(ts)-10min — first window not finalized yet
      stream.addData(ev(4, 40, 12)) // pushes watermark to min 30 after this batch
      q.processAllAvailable()
      stream.addData(ev(5, 41, 12)) // next batch emits windows finalized by that watermark
      q.processAllAvailable()
      // tumbling windows align to the epoch, not to the first event
      def wstart(min: Int) = { val t = ts(min).getTime; t - t % 600000L }
      val rows = spark.table("win_out").collect()
      val first = rows.filter(_.getTimestamp(0).getTime == wstart(1))
      assert(first.length == 1 && first.head.getLong(2) == 2L)
      assert(first.head.getDouble(3) == 1.0 && first.head.getDouble(4) == 5.0)
      val second = rows.filter(_.getTimestamp(0).getTime == wstart(14))
      assert(second.length == 1 && second.head.getLong(2) == 1L)
    } finally q.stop()
  }

  test("dedupStream drops duplicate keys within the watermark horizon") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[Event]
    val q = StreamOps.dedupStream(stream.toDF(), Seq("event_id"))
      .writeStream.format("memory").queryName("dedup_out").outputMode("append").start()
    try {
      stream.addData(ev(1, 1, 10), ev(1, 1, 10), ev(2, 2, 11))
      q.processAllAvailable()
      stream.addData(ev(1, 1, 10), ev(3, 3, 12)) // replayed duplicate across batches
      q.processAllAvailable()
      val ids = spark.table("dedup_out").collect().map(_.getLong(0)).sorted
      assert(ids.toSeq == Seq(1L, 2L, 3L))
    } finally q.stop()
  }

  test("sessionize: a late event within the gap extends the session backward") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[Event]
    val q = StreamOps.sessionize(stream.toDS(), gapMs = 10 * 60000L, watermarkDelay = "30 minutes")
      .writeStream.format("memory").queryName("sess_late_out").outputMode("append").start()
    try {
      stream.addData(ev(1, 20, 7), ev(2, 22, 7)) // open session [20, 22]
      q.processAllAvailable()
      stream.addData(ev(3, 15, 7)) // late, 5 min before start: within gap
      q.processAllAvailable()
      stream.addData(ev(4, 120, 99)) // advance watermark far past the session
      q.processAllAvailable()
      stream.addData(ev(5, 121, 99)) // extra batch so the timeout fires post-watermark
      q.processAllAvailable()
      val u7 = spark.table("sess_late_out").as[Session].collect().filter(_.user_id == 7L)
      assert(u7.length == 1)
      assert(u7.head.session_start == ts(15)) // extended backward, not inflated
      assert(u7.head.session_end == ts(22) && u7.head.n_events == 3L)
    } finally q.stop()
  }

  test("sessionize state survives a checkpointed stop/restart") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ckpt = java.nio.file.Files.createTempDirectory("graft-sess-ckpt").toString
    val out = java.nio.file.Files.createTempDirectory("graft-sess-out").toString
    val stream = MemoryStream[Event]
    // file sink: the memory sink does not support checkpoint recovery
    def start() = StreamOps.sessionize(stream.toDS(), gapMs = 10 * 60000L, watermarkDelay = "0 seconds")
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ckpt).outputMode("append").start()
    val q1 = start()
    try {
      stream.addData(ev(1, 1, 7), ev(2, 5, 7)) // open session for user 7
      q1.processAllAvailable()
    } finally q1.stop()
    val q2 = start() // restart from checkpoint: open-session state must be restored
    try {
      stream.addData(ev(3, 30, 7)) // gap > 10min closes the restored session
      q2.processAllAvailable()
      stream.addData(ev(4, 60, 99))
      q2.processAllAvailable()
      val sessions = spark.read.parquet(out).as[Session].collect()
        .filter(_.user_id == 7L).sortBy(_.session_start.getTime)
      assert(sessions.nonEmpty)
      // the pre-restart events form one session spanning min 1..5
      assert(sessions.head.session_start == ts(1) && sessions.head.session_end == ts(5)
        && sessions.head.n_events == 2L)
    } finally q2.stop()
  }

  test("sessionize closes sessions on event-time gaps and watermark timeout") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[Event]
    val q = StreamOps.sessionize(stream.toDS(), gapMs = 10 * 60000L, watermarkDelay = "0 seconds")
      .writeStream.format("memory").queryName("sess_out").outputMode("append").start()
    try {
      // user 10: events at min 1,5 (one session), then min 30 (new session)
      stream.addData(ev(1, 1, 10), ev(2, 5, 10))
      q.processAllAvailable()
      stream.addData(ev(3, 30, 10)) // in-batch gap is > 10min, watermark moves to 30
      q.processAllAvailable()
      stream.addData(ev(4, 60, 99)) // push watermark past 30+10 -> times out session 2
      q.processAllAvailable()
      val sessions = spark.table("sess_out").as[Session].collect().sortBy(_.session_start.getTime)
      val u10 = sessions.filter(_.user_id == 10L)
      assert(u10.length == 2)
      assert(u10(0).session_start == ts(1) && u10(0).session_end == ts(5) && u10(0).n_events == 2L)
      assert(u10(1).session_start == ts(30) && u10(1).session_end == ts(30) && u10(1).n_events == 1L)
    } finally q.stop()
  }

  test("sessionize: gap-adjacent late strays merge into ONE session, matching batch semantics") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[Event]
    // huge watermark delay: late events stay in-scope so the merge logic
    // (not watermark dropping) is what's under test
    val q = StreamOps.sessionize(stream.toDS(), gapMs = 10 * 60000L, watermarkDelay = "2 hours")
      .writeStream.format("memory").queryName("sess_merge_out").outputMode("append").start()
    try {
      stream.addData(ev(1, 50, 7), ev(2, 52, 7)) // open session [50, 52]
      q.processAllAvailable()
      // two strays: both > gap before the open session, but within the
      // gap of EACH OTHER -> one session (10, 15, n=2)
      stream.addData(ev(3, 10, 7), ev(4, 15, 7))
      q.processAllAvailable()
      // still amendable (watermark 2h behind): nothing may be emitted yet
      assert(spark.table("sess_merge_out").as[Session].collect().isEmpty)
      // a THIRD batch's late event gap-adjacent to the stray pair: must
      // extend that same held session, never spawn an overlapping one
      // (the divergence the old emit-immediately version had)
      stream.addData(ev(5, 20, 7))
      q.processAllAvailable()
      stream.addData(ev(6, 600, 99)) // watermark far past everything
      q.processAllAvailable()
      val sessions = spark.table("sess_merge_out").as[Session].collect()
        .filter(_.user_id == 7L).sortBy(_.session_start.getTime)
      assert(sessions.length == 2)
      assert(sessions(0).session_start == ts(10) && sessions(0).session_end == ts(20)
        && sessions(0).n_events == 3L)
      assert(sessions(1).session_start == ts(50) && sessions(1).session_end == ts(52)
        && sessions(1).n_events == 2L)
    } finally q.stop()
  }

  test("qualityProjection runs unchanged on an unbounded document stream") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val good = (1 to 30).map(i => s"tok$i").mkString(" ") + " the a of"
    val stream = MemoryStream[(Long, String)]
    val q = graft.operators.Curation.qualityProjection(
        stream.toDF().toDF("doc_id", "text"))
      .filter("keep")
      .writeStream.format("memory").queryName("qgate_out").outputMode("append").start()
    try {
      stream.addData(1L -> good, 2L -> "too short")
      q.processAllAvailable()
      stream.addData(3L -> good.replace("tok", "word"))
      q.processAllAvailable()
      val kept = spark.table("qgate_out").collect().map(_.getLong(0)).sorted
      assert(kept.sameElements(Array(1L, 3L))) // same gate as the batch operator
    } finally q.stop()
  }

  test("curateStream: quality gate + watermarked dedup + decontamination, one linear stream") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val good = (1 to 30).map(i => s"tok$i").mkString(" ") + " the a of"
    val good2 = (1 to 30).map(i => s"word$i").mkString(" ") + " the a of"
    // passes every quality rule but opens with a benchmark 5-gram
    val contaminated = "c1 c2 c3 c4 c5 " + (6 to 30).map(i => s"word$i").mkString(" ") + " the a of"
    val stream = MemoryStream[(Long, String, java.sql.Timestamp)]
    val q = StreamOps.curateStream(
        stream.toDF().toDF("doc_id", "text", "ingest_ts"), benchGrams = Seq("c1 c2 c3 c4 c5"))
      .writeStream.format("memory").queryName("curate_out").outputMode("append").start()
    try {
      stream.addData((1L, good, ts(1)), (2L, "too short", ts(2)), (3L, contaminated, ts(3)))
      q.processAllAvailable()
      stream.addData((4L, good, ts(4)), (5L, good2, ts(5))) // 4 = exact dup of 1, in horizon
      q.processAllAvailable()
      val rows = spark.table("curate_out").collect()
      assert(rows.map(_.getAs[Long]("doc_id")).sorted.toSeq == Seq(1L, 5L))
      // text, measurements, and digest ride along for the corpus sink
      assert(rows.head.schema.fieldNames.contains("digest"))
      assert(rows.head.getAs[String]("text").nonEmpty)
      assert(rows.forall(_.getAs[Boolean]("keep")))
    } finally q.stop()
  }

  test("enrich: stream-static left join broadcasts the dim and keeps unmatched events") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dim = Seq((10L, "emea"), (11L, "apac")).toDF("user_id", "region")
    val stream = MemoryStream[Event]
    val q = StreamOps.enrich(stream.toDF(), dim)
      .writeStream.format("memory").queryName("enrich_out").outputMode("append").start()
    try {
      stream.addData(ev(1, 1, 10), ev(2, 2, 99)) // 99 has no dim row
      q.processAllAvailable()
      val byId = spark.table("enrich_out").collect()
        .map(r => r.getAs[Long]("event_id") -> r.getAs[String]("region")).toMap
      assert(byId == Map(1L -> "emea", 2L -> null))
    } finally q.stop()
  }

  test("intervalJoin pairs clicks with same-user views within the lookback interval") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[Event]
    val views = MemoryStream[Event]
    val q = StreamOps.intervalJoin(clicks.toDF(), views.toDF(), intervalMin = 10)
      .writeStream.format("memory").queryName("ij_out").outputMode("append").start()
    try {
      views.addData(ev(100, 1, 10), ev(101, 5, 10), ev(102, 3, 11))
      clicks.addData(ev(1, 8, 10), ev(2, 30, 10)) // click 2: both views > 10min back
      q.processAllAvailable()
      // push both watermarks far enough to flush matched results
      // (distinct users so the flush events don't join each other)
      views.addData(ev(103, 60, 98))
      clicks.addData(ev(3, 60, 99))
      q.processAllAvailable()
      val pairs = spark.table("ij_out").collect()
        .map(r => r.getAs[Long]("click_id") -> r.getAs[Long]("view_id")).toSet
      assert(pairs == Set(1L -> 100L, 1L -> 101L))
    } finally q.stop()
  }

  test("maintainLshIndex: streamed index equals the batch signature relation") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val t1 = (1 to 25).map(i => s"s$i").mkString(" ")
    val t2 = (26 to 50).map(i => s"t$i").mkString(" ")
    val tmp = java.nio.file.Files.createTempDirectory("graft-lshidx").toString
    val stream = MemoryStream[(Long, String)]
    val q = StreamOps.maintainLshIndex(
      stream.toDF().toDF("doc_id", "text"), s"$tmp/index", s"$tmp/ckpt")
    try {
      stream.addData((2L, t1))
      q.processAllAvailable()
      stream.addData((4L, t2)) // second microbatch appends, never rewrites
      q.processAllAvailable()
    } finally q.stop()
    val streamed = StreamOps.lshIndex(spark, s"$tmp/index").collect()
      .map(_.toSeq).sortBy(_.toString)
    val batch = graft.operators.Dedup.bandSignatures(
      Seq((2L, t1), (4L, t2)).toDF("doc_id", "text")).collect()
      .map(_.toSeq).sortBy(_.toString)
    assert(streamed.toSeq == batch.toSeq) // same rows, built incrementally
    // the read half: a fresh exact copy of an indexed doc band-collides
    // with it (and only it) when probing the maintained index
    val cands = graft.operators.Dedup.indexCandidates(
      Seq((5L, t1)).toDF("doc_id", "text"),
      StreamOps.lshIndex(spark, s"$tmp/index")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cands == Set(5L -> 2L))
  }

  test("maintainWinnowIndex: streamed index equals the batch relation; counts replay-immune; stamps enforced") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val span = (1 to 15).map(i => s"c$i").mkString(" ") // >= k+wWin-1 = 11: guaranteed shared fingerprint
    val t1 = s"a1 a2 $span a3"
    val t2 = (26 to 50).map(i => s"t$i").mkString(" ")
    val tmp = java.nio.file.Files.createTempDirectory("graft-winidx").toString
    val stream = MemoryStream[(Long, String)]
    val q = StreamOps.maintainWinnowIndex(
      stream.toDF().toDF("doc_id", "text"), s"$tmp/index", s"$tmp/ckpt")
    try {
      stream.addData((2L, t1))
      q.processAllAvailable()
      stream.addData((4L, t2))
      q.processAllAvailable()
      stream.addData((2L, t1)) // an at-least-once replay duplicates index rows
      q.processAllAvailable()
    } finally q.stop()
    val streamed = StreamOps.winnowIndex(spark, s"$tmp/index")
    // distinct view equals the batch winnowSignatures relation
    assert(streamed.distinct().collect().map(_.toSeq).sortBy(_.toString).toSeq ==
      graft.operators.Dedup.winnowSignatures(
        Seq((2L, t1), (4L, t2)).toDF("doc_id", "text")).collect()
        .map(_.toSeq).sortBy(_.toString).toSeq)
    // the probe: a fresh doc copying the span matches doc 2 only, and
    // the replayed append must NOT inflate its match count
    val fresh = Seq((100L, s"z1 $span z2")).toDF("doc_id", "text")
    val cands = graft.operators.Dedup.winnowCandidates(fresh, streamed).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(cands.map(c => (c._1, c._2)).toSeq == Seq((100L, 2L)))
    val cleanCount = graft.operators.Dedup.winnowCandidates(
      fresh, graft.operators.Dedup.winnowSignatures(Seq((2L, t1), (4L, t2)).toDF("doc_id", "text")))
      .collect().map(r => r.getLong(2)).head
    assert(cands.head._3 == cleanCount, "replayed appends inflated the match count")
    // stamp enforcement: probing under different winnow parameters is refused
    val e = intercept[IllegalArgumentException] {
      graft.operators.Dedup.winnowCandidates(fresh, streamed, k = 4, wWin = 4).collect()
    }
    assert(e.getMessage.contains("winnowed under"))
  }

  test("transitionsStream: watermark-sealed adjacency, late events sequence in, ties by event_id, chain survives batches, replays collapse") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[Event]
    val q = StreamOps.transitionsStream(stream.toDS())
      .writeStream.format("memory").queryName("trans_out").outputMode("append").start()
    try {
      // user 10: click arrives first; its view arrives in a LATER batch
      // but EARLIER in event time — it must sequence before the click.
      // user 11: view and click share a timestamp — event_id orders them.
      // user 12: single view now; its click arrives much later (chain
      // anchor must survive the batches in between).
      stream.addData(ev(1, 5, 10), ev(20, 2, 12, "view"),
        ev(3, 8, 11, "view"), ev(4, 8, 11))
      q.processAllAvailable()
      stream.addData(ev(2, 3, 10, "view"), ev(5, 7, 10, "purchase"),
        ev(8, 60, 99, "view"))
      q.processAllAvailable()
      stream.addData(ev(9, 61, 99)) // wm -> 50: seals users 10/11/12
      q.processAllAvailable()
      stream.addData(ev(21, 55, 12), ev(10, 100, 99, "purchase"))
      q.processAllAvailable()
      // in-horizon at-least-once replay of the pending purchase
      stream.addData(ev(10, 100, 99, "purchase"), ev(11, 101, 99, "view"))
      q.processAllAvailable() // wm -> 91: seals 12's click, 99's view+click
      stream.addData(ev(12, 115, 99))
      q.processAllAvailable()
      stream.addData(ev(13, 116, 99, "view")) // wm -> 105: seals the purchase
      q.processAllAvailable()
      val got = spark.table("trans_out").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getTimestamp(3)))
        .toSet
      val expect = Set(
        (10L, "view", "click", ts(5)), (10L, "click", "purchase", ts(7)),
        (11L, "view", "click", ts(8)),
        (12L, "view", "click", ts(55)),
        (99L, "view", "click", ts(61)),
        (99L, "click", "purchase", ts(100)), // exactly once despite the replay
        (99L, "purchase", "view", ts(101)))
      assert(got == expect, s"got $got")
      // sealed pair counts agree with the batch matrix over the same events
      val dir = TestTables.eventsDir(spark, Seq(
        (1L, 5L * 60000000L, 10L, "click"), (20L, 2L * 60000000L, 12L, "view"),
        (3L, 8L * 60000000L, 11L, "view"), (4L, 8L * 60000000L, 11L, "click"),
        (2L, 3L * 60000000L, 10L, "view"), (5L, 7L * 60000000L, 10L, "purchase"),
        (21L, 55L * 60000000L, 12L, "click")))
      val batch = graft.operators.Temporal.transitions(spark, dir).collect()
        .map(r => ((r.getString(0), r.getString(1)), r.getLong(2))).toMap
      val sealedPairs = got.filter(_._1 < 99L)
        .groupBy(t => (t._2, t._3)).map { case (k, g) => (k, g.size.toLong) }
      assert(sealedPairs == batch, s"stream $sealedPairs vs batch $batch")
    } finally q.stop()
  }

  test("journeyGateStream: sealed steps score the batch model's exact quotient; unseen transitions flag at 0.0") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // baseline corpus: matrix (click->view)=1/1, (view->click)=1/2,
    // (view->purchase)=1/2 — the x88 spec's drive
    val dir = TestTables.eventsDir(spark, Seq(
      (1L, 1000000L, 1L, "view"), (2L, 2000000L, 1L, "click"),
      (3L, 3000000L, 1L, "view"), (4L, 5000000L, 2L, "view"),
      (5L, 5000000L, 2L, "purchase")))
    val model = graft.operators.Temporal.trainTransitionModel(spark, dir)
    assert(model.score("view", "click") == ((1L, 2L, 0.5)))
    assert(model.score("click", "refund") == ((0L, 1L, 0.0))) // unseen to_type
    assert(model.score("refund", "view") == ((0L, 0L, 0.0))) // unseen from_type
    val stream = MemoryStream[Event]
    val q = StreamOps.journeyGateStream(
      StreamOps.transitionsStream(stream.toDS()), model, minP = 0.4)
      .writeStream.format("memory").queryName("jgate_out").outputMode("append").start()
    try {
      stream.addData(ev(1, 1, 50, "view"), ev(2, 2, 50), ev(3, 3, 50, "refund"),
        ev(8, 60, 99, "view"))
      q.processAllAvailable()
      stream.addData(ev(9, 61, 99)) // wm -> 50: seals user 50's journey
      q.processAllAvailable()
      val got = spark.table("jgate_out").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2),
          r.getLong(4), r.getLong(5), r.getDouble(6), r.getBoolean(7)))
        .toSet
      assert(got == Set(
        (50L, "view", "click", 1L, 2L, 0.5, false),
        (50L, "click", "refund", 0L, 1L, 0.0, true)), s"got $got")
    } finally q.stop()
  }

  test("maintainSegmentIndex: probe repairs against the accumulated census; replay-immune; stamps enforced") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("graft-segidx").toString
    val stream = MemoryStream[(Long, String)]
    val q = StreamOps.maintainSegmentIndex(
      stream.toDF().toDF("doc_id", "text"), s"$tmp/index", s"$tmp/ckpt",
      segTokens = 3)
    try {
      stream.addData((1L, "a b c x y z"), (2L, "a b c d e f"))
      q.processAllAvailable()
      stream.addData((1L, "a b c x y z")) // at-least-once replay appends
      q.processAllAvailable()
    } finally q.stop()
    val idx = StreamOps.segmentIndex(spark, s"$tmp/index")
    // "a b c" has been seen in docs 1 and 2 -> boilerplate; a fresh doc
    // carrying it is repaired at ingest, and the replayed append of doc 1
    // must NOT have promoted any doc-1-only segment ("x y z") to boilerplate
    val got = graft.operators.Dedup.repairAgainstIndex(
      Seq((9L, "a b c x y z q r s")).toDF("doc_id", "text"), idx, segTokens = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(got.toSeq == Seq((9L, 3L, 1L, "x y z q r s")))
    // a segment the index has seen only once is not boilerplate yet:
    // at-ingest semantics, the census is as of the last maintained batch
    val solo = graft.operators.Dedup.repairAgainstIndex(
      Seq((10L, "d e f p q r")).toDF("doc_id", "text"), idx, segTokens = 3)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getString(3)))
    assert(solo.toSeq == Seq((10L, 0L, "d e f p q r")))
    // stamp enforcement: probing under a different segmentation is refused
    val e = intercept[IllegalArgumentException] {
      graft.operators.Dedup.repairAgainstIndex(
        Seq((11L, "a b c")).toDF("doc_id", "text"), idx, segTokens = 5).collect()
    }
    assert(e.getMessage.contains("segmented under"))
    val legacy = intercept[IllegalArgumentException] {
      graft.operators.Dedup.repairAgainstIndex(
        Seq((11L, "a b c")).toDF("doc_id", "text"), idx.drop("seg_tokens"), segTokens = 3)
    }
    assert(legacy.getMessage.contains("rebuild"))
  }

  test("maintainLshIndex compaction: file count stays bounded; probe relation unchanged across generations") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("graft-lshcmp").toString
    val stream = MemoryStream[(Long, String)]
    // compact every 5 microbatches; 128 MB target → each compaction
    // rewrites the whole (tiny) generation into ONE file
    val q = StreamOps.maintainLshIndex(
      stream.toDF().toDF("doc_id", "text"), s"$tmp/index", s"$tmp/ckpt",
      compactEvery = 5L)
    val docs = (1L to 23L).map(i =>
      i -> (i * 100 until i * 100 + 30).map(w => s"w$w").mkString(" "))
    try {
      docs.foreach { d => // one microbatch per document
        stream.addData(d)
        q.processAllAvailable()
      }
    } finally q.stop()
    val fs = new org.apache.hadoop.fs.Path(tmp)
      .getFileSystem(spark.sessionState.newHadoopConf())
    // exactly one live generation; lag-1 retention keeps at most one
    // retired generation's data alongside it
    val gens = fs.listStatus(new org.apache.hadoop.fs.Path(s"$tmp/index"))
      .filter(_.isDirectory).map(_.getPath).toSeq
    val liveGens = gens.filter(p =>
      fs.exists(new org.apache.hadoop.fs.Path(p, "_live")))
    assert(liveGens.length == 1, s"expected one live generation, got $liveGens")
    assert(gens.length <= 2, s"retention must reclaim old generations, got $gens")
    // the live generation holds the last compaction's single file plus
    // at most compactEvery post-compaction appends — NOT one file set
    // per microbatch since the start of the stream
    val liveFiles = fs.listStatus(liveGens.head)
      .count(_.getPath.getName.endsWith(".parquet"))
    assert(liveFiles <= 6, s"file count must be bounded by compaction, got $liveFiles")
    // compaction is lossless: the probe relation equals the batch build
    val streamed = StreamOps.lshIndex(spark, s"$tmp/index").collect()
      .map(_.toSeq).sortBy(_.toString)
    val batch = graft.operators.Dedup.bandSignatures(
      docs.toDF("doc_id", "text")).collect().map(_.toSeq).sortBy(_.toString)
    assert(streamed.toSeq == batch.toSeq)
    // and indexCandidates probes it unchanged (param stamps survive)
    val cands = graft.operators.Dedup.indexCandidates(
      Seq((99L, docs.head._2)).toDF("doc_id", "text"),
      StreamOps.lshIndex(spark, s"$tmp/index")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cands == Set(99L -> 1L))
    // the mid-compaction reader guarantee: the RETIRED generation (lag-1
    // retention) is still a complete, readable relation — a prober that
    // resolved it just before the cutover finishes its scan against
    // intact files, and everything it sees is (a prefix of) the live set
    val retired = gens.filterNot(liveGens.contains)
    retired.foreach { p =>
      val old = spark.read.parquet(p.toString).collect().map(_.toSeq).toSet
      val live = StreamOps.lshIndex(spark, s"$tmp/index").collect().map(_.toSeq).toSet
      assert(old.nonEmpty && old.subsetOf(live),
        "a retired generation must remain a readable subset of the live relation")
    }
  }

  test("generational cutover chaos: both crash points heal on replay; the resolver never sees zero live generations") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("graft-lshchaos").toString
    val index = s"$tmp/index"
    val stream = MemoryStream[(Long, String)]
    def start() = StreamOps.maintainLshIndex(
      stream.toDF().toDF("doc_id", "text"), index, s"$tmp/ckpt", compactEvery = 5L)
    def doc(i: Long): (Long, String) =
      i -> (i * 100 until i * 100 + 30).map(w => s"w$w").mkString(" ")
    var fed = Vector.empty[(Long, String)]
    def feed(q: org.apache.spark.sql.streaming.StreamingQuery, ids: Range): Unit =
      ids.foreach { i => fed :+= doc(i.toLong); stream.addData(doc(i.toLong)); q.processAllAvailable() }
    val fs = new org.apache.hadoop.fs.Path(tmp)
      .getFileSystem(spark.sessionState.newHadoopConf())
    def liveGens: Seq[String] = fs.listStatus(new org.apache.hadoop.fs.Path(index))
      .filter(st => st.isDirectory &&
        fs.exists(new org.apache.hadoop.fs.Path(st.getPath, "_live")))
      .map(_.getPath.getName).toSeq.sorted
    def probe(): Seq[Seq[Any]] = StreamOps.lshIndex(spark, index).collect()
      .map(_.toSeq.toVector: Seq[Any]).toVector.sortBy(_.toString)
    def batchRelation(): Seq[Seq[Any]] = graft.operators.Dedup.bandSignatures(
      fed.toDF("doc_id", "text")).collect()
      .map(_.toSeq.toVector: Seq[Any]).toVector.sortBy(_.toString)

    // steady state past one compaction: batches 0..6, cutover at batch 5
    val q1 = start()
    try feed(q1, 1 to 7) finally q1.stop()
    assert(liveGens.length == 1)
    val liveGen = liveGens.head.drop(4).toLong

    // CRASH POINT A — compaction wrote gen-(n+1) completely but died
    // BEFORE creating its _live marker: exactly what the maintainer's
    // crash leaves on disk (an unmarked, fully-written next generation)
    val livePath = new org.apache.hadoop.fs.Path(index, s"gen-$liveGen")
    val nextPath = new org.apache.hadoop.fs.Path(index, s"gen-${liveGen + 1}")
    graft.sources.Sources.compactParquet(spark, livePath.toString, nextPath.toString)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(nextPath, "_live")))
    // resolver: the unmarked generation is invisible — never zero live,
    // probe identical to the pre-crash relation
    assert(liveGens == Seq(s"gen-$liveGen"))
    assert(probe() == batchRelation())
    // replay heals: the restarted maintainer redoes the compaction from
    // scratch at its next trigger (batches 8..10, cutover at batch 10)
    val q2 = start()
    try feed(q2, 8 to 11) finally q2.stop()
    assert(liveGens == Seq(s"gen-${liveGen + 1}"),
      s"the redone compaction must cut over atomically, got $liveGens")
    assert(probe() == batchRelation(), "no append lost, none duplicated")

    // CRASH POINT B — cutover died BETWEEN the new _live create and the
    // old marker's delete: two live markers visible at once
    val stale = new org.apache.hadoop.fs.Path(index, s"gen-$liveGen/_live")
    fs.create(stale, true).close()
    assert(liveGens.length == 2)
    // resolver: the HIGHEST live generation (the compacted superset)
    // wins — probe unchanged, never zero
    assert(probe() == batchRelation())
    // replay heals: the maintainer's next batch retires the stale marker
    val q3 = start()
    try feed(q3, 12 to 12) finally q3.stop()
    assert(liveGens == Seq(s"gen-${liveGen + 1}"),
      s"the stale marker must be retired on replay, got $liveGens")
    assert(probe() == batchRelation())
  }

  test("bloomPrefilterStream matches the batch Bloom verdicts — no false negatives") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, sha2}
    implicit val sqlCtx = spark.sqlContext
    // same corpus/fresh split as the batch operator: even = corpus
    val dir = TestTables.documentsDir(spark, Seq(
      2L -> "alpha beta gamma", 4L -> "delta epsilon zeta",
      1L -> "alpha beta gamma",      // fresh exact dup of 2
      3L -> "eta theta iota kappa")) // fresh novel
    val corpusDigests = graft.operators.Tables.documents(spark, dir)
      .filter(col("doc_id") % 2 === 0).select(sha2(col("text"), 256).as("digest"))
    val index = graft.operators.Curation.buildBloomIndex(corpusDigests)
    val batch = graft.operators.Curation.bloomPrefilter(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    val stream = MemoryStream[(Long, String)]
    val q = StreamOps.bloomPrefilterStream(
      stream.toDF().toDF("doc_id", "text"), index)
      .writeStream.format("memory").queryName("bloom_out").outputMode("append").start()
    try {
      stream.addData((1L, "alpha beta gamma"), (3L, "eta theta iota kappa"))
      q.processAllAvailable()
      val got = spark.table("bloom_out").collect()
        .map(r => r.getAs[Long]("doc_id") -> r.getAs[Boolean]("maybe_dup")).toMap
      // the streaming probe and the batch relation derivation must agree
      // bit for bit — this pins the JVM BloomHash against the SQL conv()
      assert(got == batch)
      assert(got(1L)) // the true duplicate can never be missed
    } finally q.stop()
  }

  test("importanceGateStream: scores equal the batch x87 weights; unseen vocab scores 0 and is rejected") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    implicit val sqlCtx = spark.sqlContext
    val dir = TestTables.documentsSourcedDir(spark, Seq(
      (1L, "wiki facts wiki science", "src0"),
      (2L, "wiki science facts", "src0"),
      (3L, "wiki facts spam", "src1"),
      (4L, "spam spam buy now", "src1"),
      (5L, "science wiki", "src2")))
    val model = graft.operators.Curation.trainImportanceModel(spark, dir)
    val batch = graft.operators.Curation.importanceWeights(spark, dir).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    val stream = MemoryStream[(Long, String)]
    val q = StreamOps.importanceGateStream(
      stream.toDF().toDF("doc_id", "text"), model)
      .writeStream.format("memory").queryName("imp_out").outputMode("append").start()
    try {
      stream.addData((1L, "wiki facts wiki science"), (4L, "spam spam buy now"))
      q.processAllAvailable()
      stream.addData((3L, "wiki facts spam"),
        (9L, "quantum entanglement")) // vocabulary the model never saw
      q.processAllAvailable()
      val got = spark.table("imp_out").collect().map(r =>
        r.getAs[Long]("doc_id") ->
          ((r.getAs[Long]("n_toks"), r.getAs[Long]("t_mass"),
            r.getAs[Long]("r_mass"), r.getAs[Double]("importance"),
            r.getAs[Boolean]("admitted")))).toMap
      // in-corpus docs score bit-identically to the batch operator
      for (id <- Seq(1L, 3L, 4L)) {
        val (n, t, rm, imp) = batch(id)
        assert(got(id) == ((n, t, rm, imp, imp >= 1.0)),
          s"doc $id: stream ${got(id)} vs batch ${batch(id)}")
      }
      assert(got(1L)._5) // target-heavy doc admitted at the default threshold
      assert(!got(4L)._5) // foreign-token doc has t_mass 0
      assert(got(9L) == ((2L, 0L, 0L, 0.0, false))) // unseen vocab: 0, rejected
    } finally q.stop()
  }

  test("mixtureGateStream: admits exactly the batch sample, replay decides identically") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    implicit val sqlCtx = spark.sqlContext
    // the mixturePlan fixture: A over-represented (rate 2/3), B keep-all
    val dir = TestTables.documentsSourcedDir(spark, Seq(
      (1L, "a b c", "A"), (2L, "d e f", "A"), (3L, "g h", "B")))
    val rates = graft.operators.Curation.mixturePlan(spark, dir)
      .select("source", "rate")
    val batch = graft.operators.Curation.mixtureSample(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    val stream = MemoryStream[(Long, String)]
    val q = StreamOps.mixtureGateStream(
      stream.toDF().toDF("doc_id", "source"), rates)
      .writeStream.format("memory").queryName("mix_out").outputMode("append").start()
    try {
      stream.addData((1L, "A"), (2L, "A"), (3L, "B"))
      q.processAllAvailable()
      val first = spark.table("mix_out").collect()
        .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("source")))
      // the gate and the batch sampler are one definition — identical rows
      assert(first.toSet == batch && first.length == batch.size)
      // at-least-once replay: the SAME microbatch again admits the SAME
      // rows (content-stable draw), never different ones
      stream.addData((1L, "A"), (2L, "A"), (3L, "B"))
      q.processAllAvailable()
      val all = spark.table("mix_out").collect()
        .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("source")))
      assert(all.toSet == batch && all.length == 2 * batch.size)
      // fail-open: a source that appears AFTER planning has no rate row
      // and must pass whole (rate 1.0), never be silently discarded
      stream.addData((99L, "Z"))
      q.processAllAvailable()
      val withNew = spark.table("mix_out").collect()
        .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("source")))
      assert(withNew.contains((99L, "Z")))
    } finally q.stop()
    // stateless: no watermark, no state store — the plan is a broadcast
    // join + filter only (a stateful op would refuse this query shape
    // without a watermark in append mode anyway; this pins it)
    assert(spark.table("mix_out").schema.fieldNames.contains("u"))
  }

  test("quotaGateStream: count-exact admission, in-batch doc_id order, replay re-derives verdicts") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Long, String)]
    val q = StreamOps.quotaGateStream(
      stream.toDF().toDF("doc_id", "source"), Map("A" -> 2L, "B" -> 5L))
      .writeStream.format("memory").queryName("quota_out").outputMode("append").start()
    try {
      // batch 1: A sends 3 candidates — doc_id order admits 1 and 3,
      // rejects 7 (quota 2 spent); an unbudgeted source admits nothing
      stream.addData((3L, "A"), (7L, "A"), (1L, "A"), (4L, "C"))
      q.processAllAvailable()
      def rows() = spark.table("quota_out").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSeq
      assert(rows().sorted == Seq((1L, "A"), (3L, "A")))
      // batch 2: A is full — 2 stays rejected forever; B starts spending
      stream.addData((2L, "A"), (10L, "B"))
      q.processAllAvailable()
      assert(rows().sorted == Seq((1L, "A"), (3L, "A"), (10L, "B")))
      // batch 3 replays batch 1: admitted docs re-emit (at-least-once for
      // an idempotent sink), the rejected doc can never flip to admitted
      stream.addData((3L, "A"), (7L, "A"), (1L, "A"))
      q.processAllAvailable()
      val all = rows()
      assert(all.sorted == Seq((1L, "A"), (1L, "A"), (3L, "A"), (3L, "A"), (10L, "B")))
      assert(!all.contains((7L, "A")) && !all.contains((2L, "A")) && !all.contains((4L, "C")))
    } finally q.stop()
  }

  test("trendingStream: sealed windows emit the exact top-k with batch tie-breaks, once") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[Event]
    // 2-min delay: the min-4 straggler below stays in scope (wm after
    // the first batch is min 5 − 2 = min 3 < 4; a 0s delay would drop it)
    val q = StreamOps.trendingStream(stream.toDS(), k = 2, watermarkDelay = "2 minutes")
      .writeStream.format("memory").queryName("trend_out").outputMode("append").start()
    try {
      // the batch x76 schema: window start in epoch SECONDS
      def win(min: Int) = Math.floorDiv(ts(min).getTime, 600000L) * 600000L / 1000L
      // window of min 1-5: user 7 x3, users 8/9 x2 — 9 loses rank 2 to 8
      stream.addData(ev(1, 1, 7), ev(2, 2, 7), ev(3, 3, 7),
        ev(4, 4, 8), ev(5, 5, 8), ev(6, 1, 9), ev(7, 2, 9))
      q.processAllAvailable()
      assert(spark.table("trend_out").collect().isEmpty) // window still open
      // a late-but-in-scope arrival still counts before the seal
      stream.addData(ev(8, 4, 9))
      q.processAllAvailable()
      // advance the watermark far past the window end -> seal on next batch
      stream.addData(ev(9, 60, 99))
      q.processAllAvailable()
      stream.addData(ev(10, 61, 99))
      q.processAllAvailable()
      val got = spark.table("trend_out").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
        .filter(_._1 == win(1))
      // user 7 leads with 3; users 8 and 9 tie at... 9 reached 3 via the
      // late event: (7,3) and (9,3) tie -> 7 wins rank 1 by key; 8 has 2
      assert(got.toSeq == Seq((win(1), 1, 7L, 3L), (win(1), 2, 9L, 3L)))
      // exactly once: re-draining emits nothing new for the sealed window
      stream.addData(ev(11, 62, 99))
      q.processAllAvailable()
      val again = spark.table("trend_out").collect()
        .map(r => (r.getLong(0), r.getInt(1))).count(_._1 == win(1))
      assert(again == 2)
    } finally q.stop()
  }

  test("trendingStreamApprox: bounded state agrees with the exact operator on a skewed drive") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // one window (min 1-5): heavy users 7/8/9 with 12/9/7 events, plus 30
    // one-shot users — 33 distinct keys against capacity 16, so the state
    // CANNOT hold the exact map and eviction genuinely exercises
    val heavy = Seq.fill(12)(7L) ++ Seq.fill(9)(8L) ++ Seq.fill(7)(9L)
    val singles = (100L until 130L).toSeq
    val users = new scala.util.Random(7).shuffle(heavy ++ singles)
    val events = users.zipWithIndex.map { case (u, i) =>
      ev(i.toLong, 1 + i % 5, u)
    }
    val exactCounts = users.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val stream = MemoryStream[Event]
    val q = StreamOps.trendingStreamApprox(
      stream.toDS(), k = 3, capacity = 16, watermarkDelay = "2 minutes")
      .writeStream.format("memory").queryName("trend_approx_out")
      .outputMode("append").start()
    try {
      stream.addData(events: _*)
      q.processAllAvailable()
      stream.addData(ev(999, 60, 999)) // advance the watermark
      q.processAllAvailable()
      stream.addData(ev(1000, 61, 999)) // seal the window
      q.processAllAvailable()
      def win(min: Int) = Math.floorDiv(ts(min).getTime, 600000L) * 600000L / 1000L
      val got = spark.table("trend_approx_out").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3), r.getLong(4)))
        .filter(_._1 == win(1)).sortBy(_._2)
      // identity + rank agreement with the exact operator's verdict
      assert(got.map(_._3).toSeq == Seq(7L, 8L, 9L),
        s"top-3 must be the true heavy hitters, got $got")
      // each estimate brackets the true count
      got.foreach { case (_, _, user, est, err) =>
        val t = exactCounts(user)
        assert(t <= est && est - err <= t,
          s"user $user: true $t outside [${est - err}, $est]")
      }
    } finally q.stop()
  }

  test("quotaGateStream: spent quota survives a checkpointed stop/restart — no double-spend") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ckpt = java.nio.file.Files.createTempDirectory("graft-quota-ckpt").toString
    val out = java.nio.file.Files.createTempDirectory("graft-quota-out").toString
    val stream = MemoryStream[(Long, String)]
    def start() = StreamOps.quotaGateStream(
      stream.toDF().toDF("doc_id", "source"), Map("A" -> 2L))
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ckpt).outputMode("append").start()
    val q1 = start()
    try {
      stream.addData((1L, "A"), (2L, "A")) // quota fully spent pre-restart
      q1.processAllAvailable()
    } finally q1.stop()
    val q2 = start() // restart: the admitted set must be restored
    try {
      stream.addData((3L, "A"), (1L, "A")) // 3 must stay rejected; 1 re-admits
      q2.processAllAvailable()
      val got = spark.read.parquet(out).as[(Long, String)].collect().map(_._1).sorted
      // pre-restart admissions + the replayed verdict for doc 1 — never doc 3
      assert(got.toSeq == Seq(1L, 1L, 2L))
    } finally q2.stop()
  }

  test("funnelStream: advances seal with the watermark, late earlier steps honored, ties strict") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[Event]
    val q = StreamOps.funnelStream(stream.toDS())
      .writeStream.format("memory").queryName("funnel_out").outputMode("append").start()
    try {
      // user 10: click arrives FIRST (batch 1), its view arrives LATE
      // (batch 2) but earlier in event time — the view must still gate
      // the click, exactly as the batch definition orders them.
      // user 11: view and click SIMULTANEOUS -> view advances, click no.
      // user 12: completes all three steps across batches.
      stream.addData(ev(1, 5, 10), ev(2, 3, 12, "view"), ev(3, 8, 11, "view"),
        ev(4, 8, 11), ev(5, 6, 12))
      q.processAllAvailable()
      stream.addData(ev(6, 4, 10, "view"), ev(7, 9, 12, "purchase"))
      q.processAllAvailable()
      // push the watermark far past every event so everything seals
      stream.addData(ev(8, 60, 99, "view"))
      q.processAllAvailable()
      stream.addData(ev(9, 61, 99))
      q.processAllAvailable()
      val got = spark.table("funnel_out").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getTimestamp(3)))
        .toSet
      // user 99's events (min 60/61) are still inside the watermark
      // horizon at the final read — not yet sealed, correctly absent
      val expect = Set(
        (10L, 1L, "view", ts(4)), (10L, 2L, "click", ts(5)),
        (11L, 1L, "view", ts(8)),
        (12L, 1L, "view", ts(3)), (12L, 2L, "click", ts(6)), (12L, 3L, "purchase", ts(9)))
      assert(got == expect, s"got $got")
      // the per-step user counts equal the batch funnel over the same events
      val dir = TestTables.eventsDir(spark, Seq(
        (1L, 5L * 60000000L, 10L, "click"), (2L, 3L * 60000000L, 12L, "view"),
        (3L, 8L * 60000000L, 11L, "view"), (4L, 8L * 60000000L, 11L, "click"),
        (5L, 6L * 60000000L, 12L, "click"), (6L, 4L * 60000000L, 10L, "view"),
        (7L, 9L * 60000000L, 12L, "purchase"), (8L, 60L * 60000000L, 99L, "view"),
        (9L, 61L * 60000000L, 99L, "click")))
      val batch = graft.operators.Temporal.funnel(spark, dir).collect()
        .map(r => r.getLong(0) -> r.getLong(2)).toMap
      // the stream had not sealed user 99 at the read: its step-1/step-2
      // completions are the exact gap between the two counts
      val sealedCounts = got.groupBy(_._2).map { case (s, g) => (s.toLong, g.size.toLong) }
      assert(sealedCounts(1L) + 1L == batch(1L)) // 99's view unsealed
      assert(sealedCounts(2L) + 1L == batch(2L)) // 99's click unsealed
      assert(sealedCounts(3L) == batch(3L))
    } finally q.stop()
  }

  test("funnelStream property: 120 random event sets and arrival orders within the horizon match the batch funnel") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed

    // Each generated scenario is an independent USER in one streaming
    // query — funnel state is keyed by user, so 120 users = 120
    // independent (event set, arrival order) experiments, while the
    // clock user pins the shared watermark to exactly 10·b minutes
    // after batch b. Progressive sealing is therefore real (early
    // events seal while later ones are still pending), and the batch
    // bounds keep every arrival INSIDE the horizon: Spark's late filter
    // drops ts <= wm (WatermarkSupport builds LessThanOrEqual), so
    // not-late needs STRICTLY m > 10(b-1), i.e. b <= ceil(m/10);
    // keeping the clock the max needs m <= 10(b+1).
    val types = Seq("view", "click", "purchase", "other")
    val genScenario: Gen[List[(Int, String, Int)]] = for {
      n <- Gen.choose(3, 8)
      evs <- Gen.listOfN(n, for {
        m <- Gen.choose(1, 35)
        t <- Gen.oneOf(types)
        b <- Gen.choose(math.max(0, (m + 9) / 10 - 1), math.min(3, (m + 9) / 10))
      } yield (m, t, b))
    } yield evs
    val scenarios = (1 to 120).map { i =>
      (1000L + i) -> genScenario.pureApply(Gen.Parameters.default, Seed(i.toLong))
    }
    val clockUser = 888888L

    val stream = MemoryStream[Event]
    val q = StreamOps.funnelStream(stream.toDS())
      .writeStream.format("memory").queryName("funnel_prop_out").outputMode("append").start()
    try {
      var id = 0L
      def nid() = { id += 1; id }
      for (b <- 0 to 3) {
        val batchEvs = scenarios.flatMap { case (uid, evs) =>
          evs.filter(_._3 == b).map { case (m, t, _) => ev(nid(), m, uid, t) }
        } :+ ev(nid(), 10 + 10 * b, clockUser, "view")
        stream.addData(batchEvs: _*)
        q.processAllAvailable()
      }
      // two flush batches: the first advances the watermark past every
      // event, the second fires the event-time timeouts that seal them
      stream.addData(ev(nid(), 120, 999999L, "view")); q.processAllAvailable()
      stream.addData(ev(nid(), 121, 999999L, "click")); q.processAllAvailable()

      val advances = spark.table("funnel_prop_out").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      // the automaton law: a user advances each step at most once, over
      // ANY arrival order
      assert(advances.length == advances.distinct.length, "duplicate (user, step) advance")
      val streamCounts = advances.groupBy(_._2).map { case (s, g) => s -> g.length.toLong }

      // the batch twin over the SAME events (clock user included; the
      // flush user excluded on both sides — its events never seal)
      val dir = TestTables.eventsDir(spark,
        scenarios.flatMap { case (uid, evs) =>
          evs.map { case (m, t, _) => (nid(), m * 60000000L, uid, t) }
        } ++ (0 to 3).map(b => (nid(), (10L + 10 * b) * 60000000L, clockUser, "view")))
      val batch = graft.operators.Temporal.funnel(spark, dir).collect()
        .map(r => r.getLong(0) -> r.getLong(2)).toMap
      (1L to 3L).foreach { s =>
        assert(streamCounts.getOrElse(s, 0L) == batch.getOrElse(s, 0L),
          s"step $s: stream ${streamCounts.getOrElse(s, 0L)} vs batch ${batch.getOrElse(s, 0L)}")
      }
    } finally q.stop()
  }

  test("centroidAssignStream: streamed cells/prototypicality equal the batch projection") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val sfDir = "/root/testdata/sf0.001"
    val cents = graft.operators.Similarity.trainedCentroids(spark, sfDir, k = 8, iters = 2)
    val batch = graft.operators.Similarity.centroidSim(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val sample = graft.operators.Tables.embeddings(spark, sfDir)
      .filter(org.apache.spark.sql.functions.col("vec_id") < 50)
      .select("vec_id", "embedding").as[(Long, Seq[Float])].collect()
    val stream = MemoryStream[(Long, Seq[Float])]
    val q = StreamOps.centroidAssignStream(
      stream.toDF().toDF("vec_id", "embedding"), cents)
      .writeStream.format("memory").queryName("cells_out").outputMode("append").start()
    try {
      stream.addData(sample.toIndexedSeq)
      q.processAllAvailable()
      val got = spark.table("cells_out").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(got.nonEmpty && got.subsetOf(batch)) // same rows, scored on arrival
    } finally q.stop()
  }

  test("pqEncodeStream (EXT-6w): streamed codes/recon_err equal the batch encoding") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val sfDir = "/root/testdata/sf0.001"
    val (cb, dsub) = graft.operators.Similarity.pqCodebooks(spark, sfDir)
    val batch = graft.operators.Similarity.pqCodes(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val sample = graft.operators.Tables.embeddings(spark, sfDir)
      .filter(org.apache.spark.sql.functions.col("vec_id") < 40)
      .select("vec_id", "embedding").as[(Long, Seq[Float])].collect()
    val stream = MemoryStream[(Long, Seq[Float])]
    val q = StreamOps.pqEncodeStream(stream.toDF().toDF("vec_id", "embedding"), cb, dsub)
      .select(org.apache.spark.sql.functions.col("vec_id"),
        org.apache.spark.sql.functions.concat_ws(",",
          org.apache.spark.sql.functions.col("codes")).as("codes_csv"),
        org.apache.spark.sql.functions.col("recon_err"))
      .writeStream.format("memory").queryName("pq_out").outputMode("append").start()
    try {
      // two microbatches, the second replaying half of the first: the
      // stateless encode re-derives identical rows (at-least-once safe)
      stream.addData(sample.take(25).toIndexedSeq)
      q.processAllAvailable()
      stream.addData(sample.drop(15).toIndexedSeq)
      q.processAllAvailable()
      val got = spark.table("pq_out").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
      assert(got.size == 40) // replays collapse to the same (id, codes, err)
      assert(got.subsetOf(batch))
    } finally q.stop()
  }

  test("ivfPqEncodeStream (EXT-6al): streamed (cell, codes) equal the index writer's rows") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val sfDir = "/root/testdata/sf0.001"
    val (cb, dsub) = graft.operators.Similarity.pqCodebooks(spark, sfDir)
    val cents = graft.operators.Similarity.ivfSeedCentroids(spark, sfDir)
    // batch truth: exactly what writeIvfPqIndex persists per vector
    val batch = graft.operators.Similarity.ivfPqAssignProjection(
      graft.operators.Tables.embeddings(spark, sfDir), cents, cb, dsub)
      .select(org.apache.spark.sql.functions.col("vec_id"),
        org.apache.spark.sql.functions.col("cell"),
        org.apache.spark.sql.functions.concat_ws(",",
          org.apache.spark.sql.functions.col("codes")).as("codes_csv"),
        org.apache.spark.sql.functions.col("recon_err"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getLong(3))).toSet
    val sample = graft.operators.Tables.embeddings(spark, sfDir)
      .filter(org.apache.spark.sql.functions.col("vec_id") < 40)
      .select("vec_id", "embedding").as[(Long, Seq[Float])].collect()
    val stream = MemoryStream[(Long, Seq[Float])]
    val q = StreamOps.ivfPqEncodeStream(
      stream.toDF().toDF("vec_id", "embedding"), cents, cb, dsub)
      .select(org.apache.spark.sql.functions.col("vec_id"),
        org.apache.spark.sql.functions.col("cell"),
        org.apache.spark.sql.functions.concat_ws(",",
          org.apache.spark.sql.functions.col("codes")).as("codes_csv"),
        org.apache.spark.sql.functions.col("recon_err"))
      .writeStream.format("memory").queryName("ivfpq_out").outputMode("append").start()
    try {
      // two microbatches with an at-least-once overlap: the stateless
      // route+encode re-derives identical rows on replay
      stream.addData(sample.take(25).toIndexedSeq)
      q.processAllAvailable()
      stream.addData(sample.drop(15).toIndexedSeq)
      q.processAllAvailable()
      val got = spark.table("ivfpq_out").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getLong(3))).toSet
      assert(got.size == 40) // replays collapse to the same (id, cell, codes, err)
      assert(got.subsetOf(batch))
      // every streamed cell is a valid coarse partition of the index
      assert(got.forall(t => t._2 >= 0 && t._2 < cents.length))
    } finally q.stop()
  }

  test("separationMonitorStream (EXT-6am): streamed margins equal the batch projection") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val sfDir = "/root/testdata/sf0.001"
    val cents = graft.operators.Similarity.trainedCentroids(spark, sfDir, exactMeans = true)
    val batch = graft.operators.Similarity.separationProjection(
      graft.operators.Tables.embeddings(spark, sfDir)
        .select(org.apache.spark.sql.functions.col("vec_id"),
          org.apache.spark.sql.functions.col("embedding")
            .cast("array<double>").as("ed")),
      cents)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getBoolean(3))).toSet
    val sample = graft.operators.Tables.embeddings(spark, sfDir)
      .filter(org.apache.spark.sql.functions.col("vec_id") < 40)
      .select("vec_id", "embedding").as[(Long, Seq[Float])].collect()
    val stream = MemoryStream[(Long, Seq[Float])]
    val q = StreamOps.separationMonitorStream(
      stream.toDF().toDF("vec_id", "embedding"), cents)
      .writeStream.format("memory").queryName("sep_out").outputMode("append").start()
    try {
      // at-least-once overlap: the stateless projection re-derives rows
      stream.addData(sample.take(25).toIndexedSeq)
      q.processAllAvailable()
      stream.addData(sample.drop(15).toIndexedSeq)
      q.processAllAvailable()
      val got = spark.table("sep_out").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getBoolean(3))).toSet
      assert(got.size == 40)
      assert(got.subsetOf(batch))
      // the verdict law: misfit iff the exact margin is negative
      assert(got.forall(t => t._4 == (t._3 < 0)))
    } finally q.stop()
  }

  test("blocklistGateStream (EXT-6x): streamed verdicts equal the batch gate bit-for-bit") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = Seq(
      (1L, "clean words only"),
      (2L, "one bad word"),
      (3L, "meh meh fine fine fine fine fine fine"),
      (4L, "meh fine fine fine fine fine fine fine"))
    val dir = TestTables.documentsDir(spark, docs)
    val batch = graft.operators.Curation.blocklistFilter(spark, dir,
      severe = Seq("bad"), mild = Seq("meh"), mildMaxRate = 0.125).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3), r.getBoolean(5))).toSet
    val stream = MemoryStream[(Long, String)]
    val q = StreamOps.blocklistGateStream(
      stream.toDF().toDF("doc_id", "text"),
      severe = Seq("bad"), mild = Seq("meh"), mildMaxRate = 0.125)
      .writeStream.format("memory").queryName("block_out").outputMode("append").start()
    try {
      stream.addData(docs.toIndexedSeq)
      q.processAllAvailable()
      val got = spark.table("block_out").collect()
        .map(r => (r.getLong(0), r.getLong(2), r.getLong(3), r.getBoolean(5))).toSet
      assert(got == batch)
    } finally q.stop()
  }

  test("contaminationGateStream (EXT-6y): streamed verdicts equal the batch operator bit-for-bit") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val sfDir = "/root/testdata/sf0.001"
    // the batch operator's relation: every non-benchmark vector scored
    val batch = graft.operators.Similarity
      .semanticContamination(spark, sfDir, tau = 0.35, benchMod = 20).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getBoolean(3))).toSet
    val bench = graft.operators.Similarity.benchmarkVectors(spark, sfDir, benchMod = 20)
    val nonBench = graft.operators.Tables.embeddings(spark, sfDir)
      .filter(org.apache.spark.sql.functions.pmod(
        org.apache.spark.sql.functions.col("vec_id"),
        org.apache.spark.sql.functions.lit(20)) =!= 0)
      .select("vec_id", "embedding").as[(Long, Seq[Float])].collect().toSeq
    val stream = MemoryStream[(Long, Seq[Float])]
    val q = StreamOps.contaminationGateStream(
      stream.toDF().toDF("vec_id", "embedding"), bench, tau = 0.35)
      .writeStream.format("memory").queryName("contam_out").outputMode("append").start()
    try {
      // two microbatches: arrival order must not matter for a stateless gate
      stream.addData(nonBench.take(nonBench.length / 2))
      q.processAllAvailable()
      stream.addData(nonBench.drop(nonBench.length / 2))
      q.processAllAvailable()
      val got = spark.table("contam_out").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getBoolean(3))).toSet
      assert(got == batch,
        "stream and batch contamination verdicts must be bit-identical")
      assert(got.exists(_._4) && got.exists(!_._4),
        "fixture should populate both verdict classes at tau=0.35")
    } finally q.stop()
  }

  test("EXT-S15b serving path: streamed query batches probe the PERSISTED sign index; first pass never reads vectors") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit, pmod}
    implicit val sqlCtx = spark.sqlContext
    val sfDir = "/root/testdata/sf0.001"
    val indexPath = java.nio.file.Files.createTempDirectory("graft-sign-serve").toString
    // pack ONCE; every microbatch below probes the 16-byte/row signatures
    graft.operators.Similarity.writeSignIndex(spark, sfDir, indexPath)
    val qvecs = graft.operators.Tables.embeddings(spark, sfDir)
      .filter(pmod(col("vec_id"), lit(97)) === 0)
      .select("vec_id", "embedding").as[(Long, Seq[Float])].collect().toSeq
    assert(qvecs.length >= 4)
    val results = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val sigScanReadsVectors = new java.util.concurrent.atomic.AtomicBoolean(false)
    val sigScansSeen = new java.util.concurrent.atomic.AtomicLong(0L)
    val stream = MemoryStream[(Long, Seq[Float])]
    val q = stream.toDF().toDF("vec_id", "embedding").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val out = graft.operators.Similarity.hammingTopKFromIndex(
          spark, indexPath, sfDir, batch, candidates = 20, k = 3)
        out.collect().foreach(r => results.add(r.toString))
        def fileScans(p: org.apache.spark.sql.execution.SparkPlan)
            : Seq[org.apache.spark.sql.execution.FileSourceScanExec] = p match {
          case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
            fileScans(a.executedPlan)
          case s: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
            fileScans(s.plan)
          case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec =>
            fileScans(r.child)
          case f: org.apache.spark.sql.execution.FileSourceScanExec => Seq(f)
          case other => other.children.flatMap(fileScans)
        }
        // the signature-side scans must read only (vec_id, lo, hi) — the
        // whole point of the persisted sketch is that the Hamming first
        // pass never touches the 4·dim-byte vector column
        fileScans(out.queryExecution.executedPlan)
          .filter(_.metadata.get("Location").exists(_.contains("signatures")))
          .foreach { s =>
            sigScansSeen.incrementAndGet()
            if (s.schema.fieldNames.contains("embedding")) sigScanReadsVectors.set(true)
          }
        ()
      }
      .start()
    try {
      stream.addData(qvecs.take(2).toIndexedSeq) // microbatch 1
      q.processAllAvailable()
      stream.addData(qvecs.slice(2, 4).toIndexedSeq) // microbatch 2
      q.processAllAvailable()
    } finally q.stop()
    // pack-once/probe-forever equivalence: the union of per-microbatch
    // probes equals the one-shot batch probe over the same queries
    val expect = graft.operators.Similarity.hammingTopKFromIndex(
      spark, indexPath, sfDir, qvecs.take(4).toDF("vec_id", "embedding"),
      candidates = 20, k = 3)
      .collect().map(_.toString).toSet
    import scala.jdk.CollectionConverters._
    assert(results.asScala.toSet == expect && expect.nonEmpty)
    assert(sigScansSeen.get() >= 2, "expected a signatures scan per microbatch")
    assert(!sigScanReadsVectors.get(),
      "the Hamming first pass read the embedding column — the 16-byte/row contract is broken")
  }

  test("EXT-6i serving path: streamed query batches probe the PERSISTED IVF index with pruned file scans") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit, pmod}
    implicit val sqlCtx = spark.sqlContext
    val sfDir = "/root/testdata/sf0.001"
    val indexPath = java.nio.file.Files.createTempDirectory("graft-ivf-serve").toString
    // train/build ONCE; every microbatch below probes the persisted layout
    graft.operators.Similarity.writeIvfIndex(spark, sfDir, indexPath, nCentroids = 16)
    def parquetFilesUnder(dir: java.io.File): Seq[java.io.File] = {
      val kids = Option(dir.listFiles()).map(_.toSeq).getOrElse(Seq.empty)
      kids.filter(f => f.isFile && f.getName.endsWith(".parquet")) ++
        kids.filter(_.isDirectory).flatMap(parquetFilesUnder)
    }
    val totalIndexFiles = parquetFilesUnder(new java.io.File(s"$indexPath/cells")).length
    assert(totalIndexFiles >= 16, s"expected ≥1 file per cell partition, got $totalIndexFiles")
    val qvecs = graft.operators.Tables.embeddings(spark, sfDir)
      .filter(pmod(col("vec_id"), lit(97)) === 0)
      .select("vec_id", "embedding").as[(Long, Seq[Float])].collect().toSeq
    assert(qvecs.length >= 4)
    val results = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val scannedFiles = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val stream = MemoryStream[(Long, Seq[Float])]
    val q = stream.toDF().toDF("vec_id", "embedding").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val out = graft.operators.Similarity.ivfTopKFromIndex(
          spark, indexPath, batch, k = 3, nprobe = 1)
        out.collect().foreach(r => results.add(r.toString))
        // walk the EXECUTED plan across AQE boundaries (AdaptiveSparkPlan
        // and QueryStage nodes are leaves to TreeNode.collect) and sum
        // the numFiles metric of the index-side parquet scans
        def fileScans(p: org.apache.spark.sql.execution.SparkPlan)
            : Seq[org.apache.spark.sql.execution.FileSourceScanExec] = p match {
          case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
            fileScans(a.executedPlan)
          case s: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
            fileScans(s.plan)
          case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec =>
            fileScans(r.child)
          case f: org.apache.spark.sql.execution.FileSourceScanExec => Seq(f)
          case other => other.children.flatMap(fileScans)
        }
        val scanned = fileScans(out.queryExecution.executedPlan)
          .filter(_.metadata.get("Location").exists(_.contains("cells")))
          .map(_.metrics("numFiles").value).sum
        scannedFiles.add(scanned)
        ()
      }
      .start()
    try {
      stream.addData(qvecs.take(2).toIndexedSeq) // microbatch 1
      q.processAllAvailable()
      stream.addData(qvecs.slice(2, 4).toIndexedSeq) // microbatch 2
      q.processAllAvailable()
    } finally q.stop()
    // train-once/probe-forever equivalence: the union of per-microbatch
    // probes equals the one-shot batch probe over the same queries
    val expect = graft.operators.Similarity.ivfTopKFromIndex(
      spark, indexPath, qvecs.take(4).toDF("vec_id", "embedding"), k = 3, nprobe = 1)
      .collect().map(_.toString).toSet
    import scala.jdk.CollectionConverters._
    assert(results.asScala.toSet == expect && expect.nonEmpty)
    // the pruned scan: each microbatch fans out to ≤2 query cells of 16,
    // so it must touch a strict minority of the index files — never the
    // whole corpus layout
    val perBatch = scannedFiles.asScala.toSeq
    assert(perBatch.length == 2)
    perBatch.foreach { n =>
      assert(n > 0 && n <= totalIndexFiles / 4,
        s"probe scanned $n of $totalIndexFiles index files — partition pruning did not engage")
    }
  }

  test("EXT-6an serving path: streamed query batches probe the PERSISTED IVF-PQ index with pruned code scans") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit, pmod}
    implicit val sqlCtx = spark.sqlContext
    val sfDir = "/root/testdata/sf0.001"
    val indexPath = java.nio.file.Files.createTempDirectory("graft-ivfpq-serve").toString
    // train/encode ONCE; every microbatch below probes the persisted
    // composite layout (8-byte code rows under the coarse partitioning)
    graft.operators.Similarity.writeIvfPqIndex(spark, sfDir, indexPath, nCentroids = 16)
    def parquetFilesUnder(dir: java.io.File): Seq[java.io.File] = {
      val kids = Option(dir.listFiles()).map(_.toSeq).getOrElse(Seq.empty)
      kids.filter(f => f.isFile && f.getName.endsWith(".parquet")) ++
        kids.filter(_.isDirectory).flatMap(parquetFilesUnder)
    }
    val totalIndexFiles = parquetFilesUnder(new java.io.File(s"$indexPath/cells")).length
    assert(totalIndexFiles >= 16, s"expected ≥1 file per cell partition, got $totalIndexFiles")
    val qvecs = graft.operators.Tables.embeddings(spark, sfDir)
      .filter(pmod(col("vec_id"), lit(97)) === 0)
      .select("vec_id", "embedding").as[(Long, Seq[Float])].collect().toSeq
    assert(qvecs.length >= 4)
    val results = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val scannedFiles = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val stream = MemoryStream[(Long, Seq[Float])]
    val q = stream.toDF().toDF("vec_id", "embedding").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val out = graft.operators.Similarity.ivfPqTopKFromIndex(
          spark, indexPath, batch, k = 3, nprobe = 1)
        out.collect().foreach(r => results.add(r.toString))
        def fileScans(p: org.apache.spark.sql.execution.SparkPlan)
            : Seq[org.apache.spark.sql.execution.FileSourceScanExec] = p match {
          case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
            fileScans(a.executedPlan)
          case s: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
            fileScans(s.plan)
          case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec =>
            fileScans(r.child)
          case f: org.apache.spark.sql.execution.FileSourceScanExec => Seq(f)
          case other => other.children.flatMap(fileScans)
        }
        val scanned = fileScans(out.queryExecution.executedPlan)
          .filter(_.metadata.get("Location").exists(_.contains("cells")))
          .map(_.metrics("numFiles").value).sum
        scannedFiles.add(scanned)
        ()
      }
      .start()
    try {
      stream.addData(qvecs.take(2).toIndexedSeq) // microbatch 1
      q.processAllAvailable()
      stream.addData(qvecs.slice(2, 4).toIndexedSeq) // microbatch 2
      q.processAllAvailable()
    } finally q.stop()
    // train-once/probe-forever equivalence: the union of per-microbatch
    // probes equals the one-shot batch probe over the same queries —
    // and, by x179's spec-pinned bit-equal law, the in-memory composite
    val expect = graft.operators.Similarity.ivfPqTopKFromIndex(
      spark, indexPath, qvecs.take(4).toDF("vec_id", "embedding"), k = 3, nprobe = 1)
      .collect().map(_.toString).toSet
    import scala.jdk.CollectionConverters._
    assert(results.asScala.toSet == expect && expect.nonEmpty)
    // the pruned scan: each microbatch fans out to ≤2 query cells of 16,
    // so it must touch a strict minority of the code files
    val perBatch = scannedFiles.asScala.toSeq
    assert(perBatch.length == 2)
    perBatch.foreach { n =>
      assert(n > 0 && n <= totalIndexFiles / 4,
        s"probe scanned $n of $totalIndexFiles code files — partition pruning did not engage")
    }
  }

  test("EXT-6ao maintainIvfPqIndex: live probe equals the static probe across generations + replays; compaction keeps the pruned-scan minority; wrong-width ingest refused") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit, pmod}
    implicit val sqlCtx = spark.sqlContext
    val sfDir = "/root/testdata/sf0.001"
    val tmp = java.nio.file.Files.createTempDirectory("graft-ivfpq-gen").toString
    // geometry trained ONCE (sidecars only); code rows arrive by stream
    graft.operators.Similarity.initIvfPqIndex(spark, sfDir, s"$tmp/index", nCentroids = 16)
    val vecs = graft.operators.Tables.embeddings(spark, sfDir)
      .select("vec_id", "embedding").as[(Long, Seq[Float])].collect().toSeq
    val stream = MemoryStream[(Long, Seq[Float])]
    val q = StreamOps.maintainIvfPqIndex(
      stream.toDF().toDF("vec_id", "embedding"), s"$tmp/index", s"$tmp/ckpt",
      compactEvery = 2L)
    try {
      // 4 corpus batches: compaction fires at batchId 2 (generations
      // roll under the maintainer) ...
      vecs.grouped(150).foreach { g =>
        stream.addData(g.toIndexedSeq); q.processAllAvailable()
      }
      // ... then an at-least-once REPLAY re-appends batch 0's rows
      // (byte-identical re-encode) and triggers a second compaction
      stream.addData(vecs.take(150).toIndexedSeq)
      q.processAllAvailable()
    } finally q.stop()
    // union-of-generations (+ replay, + compactions) probe ≡ the static
    // index probe over the same corpus — hence, by x179's bit-equal
    // pin, ≡ the in-memory composite
    val staticIdx = java.nio.file.Files.createTempDirectory("graft-ivfpq-stat").toString
    graft.operators.Similarity.writeIvfPqIndex(spark, sfDir, staticIdx, nCentroids = 16)
    val queries = graft.operators.Tables.embeddings(spark, sfDir)
      .filter(pmod(col("vec_id"), lit(10)) === 0)
      .select("vec_id", "embedding")
    val live = StreamOps.ivfPqProbeLive(spark, s"$tmp/index", queries, k = 3, nprobe = 2)
      .collect().map(_.toString).toSeq
    val expect = graft.operators.Similarity.ivfPqTopKFromIndex(
      spark, staticIdx, queries, k = 3, nprobe = 2)
      .collect().map(_.toString).toSeq
    assert(live == expect && expect.nonEmpty,
      "live generational probe diverged from the static-index probe")
    // the compacted live generation keeps the cell directory layout, so
    // a narrow query batch's probe scans a strict minority of its files
    def parquetFilesUnder(dir: java.io.File): Seq[java.io.File] = {
      val kids = Option(dir.listFiles()).map(_.toSeq).getOrElse(Seq.empty)
      kids.filter(f => f.isFile && f.getName.endsWith(".parquet")) ++
        kids.filter(_.isDirectory).flatMap(parquetFilesUnder)
    }
    val genDirs = new java.io.File(s"$tmp/index").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("gen-"))
    val liveGenFiles = genDirs.map(parquetFilesUnder(_).length).max
    assert(liveGenFiles >= 16, s"expected >=1 file per cell dir, got $liveGenFiles")
    val narrow = StreamOps.ivfPqProbeLive(spark, s"$tmp/index",
      queries.limit(2), k = 3, nprobe = 1)
    narrow.collect()
    def fileScans(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.FileSourceScanExec] = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        fileScans(a.executedPlan)
      case s: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        fileScans(s.plan)
      case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec =>
        fileScans(r.child)
      case f: org.apache.spark.sql.execution.FileSourceScanExec => Seq(f)
      case other => other.children.flatMap(fileScans)
    }
    val scanned = fileScans(narrow.queryExecution.executedPlan)
      .filter(_.metadata.get("Location").exists(_.contains("gen-")))
      .map(_.metrics("numFiles").value).sum
    assert(scanned > 0 && scanned <= liveGenFiles / 4,
      s"live probe scanned $scanned of $liveGenFiles generation files — pruning did not survive compaction")
    // ingest refusal: a wrong-width arrival batch must REFUSE against
    // the stamped geometry, not be silently mis-coded
    val stream2 = MemoryStream[(Long, Seq[Float])]
    val q2 = StreamOps.maintainIvfPqIndex(
      stream2.toDF().toDF("vec_id", "embedding"), s"$tmp/index", s"$tmp/ckpt2")
    val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      try {
        stream2.addData((900000L, Seq.fill(32)(0.5f)))
        q2.processAllAvailable()
      } finally q2.stop()
    }
    assert(err.getMessage.contains("does not match the index's"),
      s"expected the stamped-width refusal, got: ${err.getMessage}")
    // retrain refusal (the generation geometry stamp): rewriting the
    // sidecars under a live index must refuse BOTH directions — the
    // maintainer cannot append new-layout rows next to old-layout ones,
    // and the probe cannot score old rows with the new codebooks
    graft.operators.Similarity.initIvfPqIndex(
      spark, sfDir, s"$tmp/index", nCentroids = 16, ksub = 32)
    val probeErr = intercept[IllegalArgumentException] {
      StreamOps.ivfPqProbeLive(spark, s"$tmp/index", queries).collect()
    }
    assert(probeErr.getMessage.contains("retrain requires a rebuild"),
      s"expected the probe-side retrain refusal, got: ${probeErr.getMessage}")
    val stream3 = MemoryStream[(Long, Seq[Float])]
    val q3 = StreamOps.maintainIvfPqIndex(
      stream3.toDF().toDF("vec_id", "embedding"), s"$tmp/index", s"$tmp/ckpt3")
    val appendErr = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      try {
        stream3.addData(vecs.take(2).toIndexedSeq)
        q3.processAllAvailable()
      } finally q3.stop()
    }
    assert(appendErr.getMessage.contains("rebuild into a fresh index root"),
      s"expected the append-side retrain refusal, got: ${appendErr.getMessage}")
  }

  test("EXT-6as ivfPqRefinedProbeLiveAuto: the live serving call at the stamped point equals the static auto probe; untuned index refuses") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit, pmod}
    implicit val sqlCtx = spark.sqlContext
    val sfDir = "/root/testdata/sf0.001"
    val tmp = java.nio.file.Files.createTempDirectory("graft-ivfpq-auto").toString
    graft.operators.Similarity.initIvfPqIndex(spark, sfDir, s"$tmp/index", nCentroids = 16)
    val vecs = graft.operators.Tables.embeddings(spark, sfDir)
      .select("vec_id", "embedding").as[(Long, Seq[Float])].collect().toSeq
    val stream = MemoryStream[(Long, Seq[Float])]
    val q = StreamOps.maintainIvfPqIndex(
      stream.toDF().toDF("vec_id", "embedding"), s"$tmp/index", s"$tmp/ckpt",
      compactEvery = 2L)
    try {
      vecs.grouped(200).foreach { g =>
        stream.addData(g.toIndexedSeq); q.processAllAvailable()
      }
    } finally q.stop()
    val queries = graft.operators.Tables.embeddings(spark, sfDir)
      .filter(pmod(col("vec_id"), lit(10)) === 0)
      .select("vec_id", "embedding")
    // UNTUNED: the live serving call refuses naming the fix — it must
    // never fall back to a default knob the sweep didn't choose
    val untuned = intercept[IllegalArgumentException](
      StreamOps.ivfPqRefinedProbeLiveAuto(spark, s"$tmp/index", sfDir, queries))
    assert(untuned.getMessage.contains("tuneIvfPqIndex"))
    // tune the LIVE index (the generational sidecars share the static
    // layout, so the tuner's geometry re-derivation binds identically)
    graft.operators.Similarity.tuneIvfPqIndex(spark, s"$tmp/index", sfDir,
      budget = 0.5, nprobes = Seq(2, 4), shortlists = Seq(8, 16))
    // the static twin: same corpus, same grid, same budget
    val staticIdx = java.nio.file.Files.createTempDirectory("graft-ivfpq-auto-st").toString
    graft.operators.Similarity.writeIvfPqIndex(spark, sfDir, staticIdx, nCentroids = 16)
    graft.operators.Similarity.tuneIvfPqIndex(spark, staticIdx, sfDir,
      budget = 0.5, nprobes = Seq(2, 4), shortlists = Seq(8, 16))
    val live = StreamOps.ivfPqRefinedProbeLiveAuto(
      spark, s"$tmp/index", sfDir, queries).collect().map(_.toString).toSeq
    val expect = graft.operators.Similarity.ivfPqTopKRefinedFromIndexAuto(
      spark, staticIdx, sfDir, queries).collect().map(_.toString).toSeq
    assert(live == expect && expect.nonEmpty,
      "live auto serving call diverged from the static auto probe")
  }

  test("EXT-6at maintainBm25Index: live probe equals the static probe across generations + replays; re-stamped bucket count refused") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, count, length, lit}
    implicit val sqlCtx = spark.sqlContext
    val sfDir = "/root/testdata/sf0.001"
    val tmp = java.nio.file.Files.createTempDirectory("graft-bm25-gen").toString
    // the only stamped contract: the bucket count (no training at all —
    // every corpus global is derived from the generational rows)
    graft.operators.TextAnalysis.initBm25Index(spark, s"$tmp/index", nBuckets = 64)
    val docs = graft.operators.Tables.documents(spark, sfDir)
      .select("doc_id", "text").as[(Long, String)].collect().toSeq
    val stream = MemoryStream[(Long, String)]
    val q = StreamOps.maintainBm25Index(
      stream.toDF().toDF("doc_id", "text"), s"$tmp/index", s"$tmp/ckpt",
      compactEvery = 2L)
    try {
      // several batches so compaction fires mid-ingest, then an
      // at-least-once REPLAY of batch 0 (byte-identical re-derivation)
      docs.grouped((docs.length + 2) / 3).foreach { g =>
        stream.addData(g.toIndexedSeq); q.processAllAvailable()
      }
      stream.addData(docs.take((docs.length + 2) / 3).toIndexedSeq)
      q.processAllAvailable()
    } finally q.stop()
    // the static twin over the same corpus; probe terms by the x69/x184
    // rule (top-df content words) read off the static lexicon
    val staticIdx = java.nio.file.Files.createTempDirectory("graft-bm25-stat").toString
    graft.operators.TextAnalysis.writeBm25Index(spark, sfDir, staticIdx)
    val terms = spark.read.parquet(s"$staticIdx/lexicon")
      .filter(length(col("token")) >= 6)
      .orderBy(col("df").desc, col("token")).limit(5)
      .collect().map(_.getString(0)).toSeq
    assert(terms.nonEmpty)
    val live = StreamOps.bm25ProbeLive(spark, s"$tmp/index", terms)
      .collect().map(_.toString).toSeq
    val expect = graft.operators.TextAnalysis.bm25TopKFromIndex(
      spark, staticIdx, terms)
      .collect().map(_.toString).toSeq
    assert(live == expect && expect.nonEmpty,
      "live BM25 probe diverged from the static-index probe")
    // the derived globals are exact: n_docs counts EVERY arrived doc
    // once (replays invisible), matching the static builder's count(*)
    val liveGen = new java.io.File(s"$tmp/index").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("gen-"))
      .filter(f => new java.io.File(f, "_live").exists())
      .maxBy(_.getName.drop(4).toLong)
    val genDl = spark.read.parquet(s"${liveGen.getAbsolutePath}/doclens")
    assert(genDl.dropDuplicates("doc_id").count() == docs.length.toLong)
    // re-stamping the bucket count under live generations refuses the
    // probe (bucket pruning would read the wrong partitions)
    graft.operators.TextAnalysis.initBm25Index(spark, s"$tmp/index", nBuckets = 8)
    val err = intercept[IllegalArgumentException](
      StreamOps.bm25ProbeLive(spark, s"$tmp/index", terms).collect())
    assert(err.getMessage.contains("rebuild"),
      s"expected the re-stamp refusal, got: ${err.getMessage}")
  }

  test("BM25 probes: planning a warm static and a warm live probe runs zero Spark jobs") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, length}
    implicit val sqlCtx = spark.sqlContext
    // a vocabulary that populates more than 32 of the default 64
    // buckets: past 32 directories, listing every bucket is a Spark job
    val words = (0 until 400).map(i => f"term$i%04d")
    val docs = (0 until 200).map(d =>
      d.toLong -> (0 until 12).map(j => words((d * 7 + j * 31) % words.length)).mkString(" "))
    val dir = TestTables.documentsDir(spark, docs)
    val tmp = java.nio.file.Files.createTempDirectory("graft-bm25-plan").toString
    graft.operators.TextAnalysis.writeBm25Index(spark, dir, s"$tmp/static")
    val populated = new java.io.File(s"$tmp/static/postings").listFiles()
      .count(_.getName.startsWith("bucket="))
    assert(populated > 32, s"only $populated of 64 buckets populated")
    graft.operators.TextAnalysis.initBm25Index(spark, s"$tmp/live")
    val stream = MemoryStream[(Long, String)]
    val q = StreamOps.maintainBm25Index(
      stream.toDF().toDF("doc_id", "text"), s"$tmp/live", s"$tmp/ckpt")
    try {
      docs.grouped((docs.length + 1) / 2).foreach { g =>
        stream.addData(g.toIndexedSeq); q.processAllAvailable()
      }
    } finally q.stop()
    val terms = spark.read.parquet(s"$tmp/static/lexicon")
      .filter(length(col("token")) >= 6)
      .orderBy(col("df").desc, col("token")).limit(5)
      .collect().map(_.getString(0)).toSeq
    assert(terms.nonEmpty)
    def static() = graft.operators.TextAnalysis.bm25TopKFromIndex(spark, s"$tmp/static", terms)
    def live() = StreamOps.bm25ProbeLive(spark, s"$tmp/live", terms)
    // warm: the first probes read and memoize the bucket-count stamp
    val expect = static().collect().map(_.toString).toSeq
    assert(expect.nonEmpty && live().collect().map(_.toString).toSeq == expect)
    val ((s, l), activity) = SparkActivity.during(spark)((static(), live()))
    assert(activity.jobs == 0,
      s"planning the warm BM25 probes ran ${activity.jobs} Spark jobs:\n" +
        activity.sqlCallSites.mkString("\n\n"))
    // planning is not execution: the plans still answer, and agree
    assert(s.collect().map(_.toString).toSeq == expect)
    assert(l.collect().map(_.toString).toSeq == expect)
  }

  test("vector probes: a warm live probe plans with the jobs of its static twin; float IVF plans with none; no planning job reads an index") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val sfDir = "/root/testdata/sf0.001"
    val tmp = java.nio.file.Files.createTempDirectory("graft-vec-plan").toString
    // 40 cells: past 32 directories, discovering every `cell=` partition
    // of an index is a Spark listing job
    val nc = 40
    graft.operators.Similarity.writeIvfIndex(spark, sfDir, s"$tmp/ivf", nCentroids = nc)
    graft.operators.Similarity.writeIvfPqIndex(spark, sfDir, s"$tmp/ivfpq", nCentroids = nc)
    graft.operators.Similarity.writeSignIndex(spark, sfDir, s"$tmp/sign")
    graft.operators.Similarity.initIvfIndex(spark, sfDir, s"$tmp/ivf-live", nCentroids = nc)
    graft.operators.Similarity.initIvfPqIndex(spark, sfDir, s"$tmp/ivfpq-live", nCentroids = nc)
    graft.operators.Similarity.initSignIndex(spark, s"$tmp/sign-live")
    val vecs = graft.operators.Tables.embeddings(spark, sfDir)
      .select("vec_id", "embedding").as[(Long, Seq[Float])].collect().toSeq
    for ((name, maintain) <- Seq[(String, (org.apache.spark.sql.DataFrame, String, String) =>
        org.apache.spark.sql.streaming.StreamingQuery)](
        "ivf-live" -> ((d, i, c) => StreamOps.maintainIvfIndex(d, i, c)),
        "ivfpq-live" -> ((d, i, c) => StreamOps.maintainIvfPqIndex(d, i, c)),
        "sign-live" -> ((d, i, c) => StreamOps.maintainSignIndex(d, i, c)))) {
      val stream = MemoryStream[(Long, Seq[Float])]
      val q = maintain(stream.toDF().toDF("vec_id", "embedding"), s"$tmp/$name", s"$tmp/ckpt-$name")
      try {
        vecs.grouped(300).foreach { g =>
          stream.addData(g.toIndexedSeq); q.processAllAvailable()
        }
      } finally q.stop()
    }
    val populated = new java.io.File(s"$tmp/ivfpq/cells").listFiles()
      .count(_.getName.startsWith("cell="))
    assert(populated > 32, s"only $populated of $nc cells populated")
    val queries = vecs.filter(_._1 % 25 == 0).toDF("vec_id", "embedding")
    val probes = Seq[(String, () => org.apache.spark.sql.DataFrame, () => org.apache.spark.sql.DataFrame)](
      ("ivf",
        () => graft.operators.Similarity.ivfTopKFromIndex(spark, s"$tmp/ivf", queries, nprobe = 2),
        () => StreamOps.ivfProbeLive(spark, s"$tmp/ivf-live", queries, nprobe = 2)),
      ("ivfpq",
        () => graft.operators.Similarity.ivfPqTopKFromIndex(spark, s"$tmp/ivfpq", queries),
        () => StreamOps.ivfPqProbeLive(spark, s"$tmp/ivfpq-live", queries)),
      ("sign",
        () => graft.operators.Similarity.hammingTopKFromIndex(spark, s"$tmp/sign", sfDir, queries),
        () => StreamOps.hammingProbeLive(spark, s"$tmp/sign-live", sfDir, queries)))
    for ((family, static, live) <- probes) {
      // warm: the first probes read and memoize every sidecar
      val expect = static().collect().map(_.toString).toSeq
      assert(expect.nonEmpty && live().collect().map(_.toString).toSeq == expect, family)
      val (s, sAct) = SparkActivity.during(spark)(static())
      val (l, lAct) = SparkActivity.during(spark)(live())
      def shown(a: SparkActivity) = a.jobSites.mkString("\n  ", "\n  ", "")
      assert(lAct.jobs == sAct.jobs,
        s"$family: planning the live probe ran ${lAct.jobs} jobs, the static one ${sAct.jobs}:" +
          s"\nstatic:${shown(sAct)}\nlive:${shown(lAct)}")
      if (family == "ivf")
        assert(sAct.jobs == 0, s"planning the warm float-IVF probe ran jobs:${shown(sAct)}")
      for (site <- sAct.jobSites ++ lAct.jobSites)
        assert(!site.startsWith("parquet at") && !site.contains(tmp),
          s"$family: a planning job read the index: $site")
      // planning is not execution: the plans still answer, and agree
      assert(s.collect().map(_.toString).toSeq == expect, family)
      assert(l.collect().map(_.toString).toSeq == expect, family)
    }
  }

  test("index relations: every declared read schema equals the inferred schema of what its writer or maintainer wrote, static and live") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.{Curation, Dedup, Multimodal, Similarity, TextAnalysis}
    val sfDir = "/root/testdata/sf0.001"
    val tmp = java.nio.file.Files.createTempDirectory("graft-index-schemas").toString
    // the static layouts
    Similarity.writeIvfIndex(spark, sfDir, s"$tmp/ivf")
    Similarity.writeIvfPqIndex(spark, sfDir, s"$tmp/ivfpq")
    Similarity.tuneIvfPqIndex(spark, s"$tmp/ivfpq", sfDir, budget = 0.5,
      nprobes = Seq(2), shortlists = Seq(8))
    Similarity.writeSignIndex(spark, sfDir, s"$tmp/sign")
    Similarity.writePqIndex(spark, sfDir, s"$tmp/pq", opq = true)
    TextAnalysis.writeBm25Index(spark, sfDir, s"$tmp/bm25")
    Curation.writeClusterIndex(spark, sfDir, s"$tmp/cluster")
    // the live layouts: one generation each
    Similarity.initIvfIndex(spark, sfDir, s"$tmp/ivf-live")
    Similarity.initIvfPqIndex(spark, sfDir, s"$tmp/ivfpq-live")
    Similarity.initSignIndex(spark, s"$tmp/sign-live")
    TextAnalysis.initBm25Index(spark, s"$tmp/bm25-live")
    val vecs = graft.operators.Tables.embeddings(spark, sfDir)
      .select("vec_id", "embedding").as[(Long, Seq[Float])].collect().toSeq
    val docs = graft.operators.Tables.documents(spark, sfDir)
      .select("doc_id", "text").as[(Long, String)].collect().toSeq
    def drive[T: org.apache.spark.sql.Encoder](rows: Seq[T])(start: org.apache.spark.sql.DataFrame =>
        org.apache.spark.sql.streaming.StreamingQuery): Unit = {
      val stream = MemoryStream[T]
      val q = start(stream.toDF())
      try { stream.addData(rows); q.processAllAvailable() } finally q.stop()
    }
    def ck(name: String) = s"$tmp/ckpt-$name"
    drive(vecs)(s => StreamOps.maintainIvfIndex(s.toDF("vec_id", "embedding"), s"$tmp/ivf-live", ck("ivf")))
    drive(vecs)(s => StreamOps.maintainIvfPqIndex(s.toDF("vec_id", "embedding"), s"$tmp/ivfpq-live", ck("ivfpq")))
    drive(vecs)(s => StreamOps.maintainSignIndex(s.toDF("vec_id", "embedding"), s"$tmp/sign-live", ck("sign")))
    drive(docs)(s => StreamOps.maintainBm25Index(s.toDF("doc_id", "text"), s"$tmp/bm25-live", ck("bm25")))
    drive(docs)(s => StreamOps.maintainLshIndex(s.toDF("doc_id", "text"), s"$tmp/lsh-live", ck("lsh")))
    drive(docs)(s => StreamOps.maintainWinnowIndex(s.toDF("doc_id", "text"), s"$tmp/winnow-live", ck("winnow")))
    drive(docs)(s => StreamOps.maintainSegmentIndex(s.toDF("doc_id", "text"), s"$tmp/segment-live", ck("segment")))
    drive(docs.take(20))(s => StreamOps.maintainPhashIndex(s.toDF("doc_id", "text").selectExpr(
      "doc_id", "encode(text, 'UTF-8') AS payload", "'text/plain' AS media_type"),
      s"$tmp/phash-live", ck("phash")))
    def gen(index: String) = s"$tmp/$index/gen-0"
    val declared = Seq(
      s"$tmp/ivf/cells" -> Similarity.IvfCells,
      s"$tmp/ivf/centroids" -> Similarity.Centroids,
      s"$tmp/ivfpq/cells" -> Similarity.IvfPqCells,
      s"$tmp/ivfpq/centroids" -> Similarity.Centroids,
      s"$tmp/ivfpq/codebook" -> Similarity.PqCodebook,
      s"$tmp/ivfpq/meta" -> Similarity.PqMeta,
      s"$tmp/ivfpq/opp" -> Similarity.IvfPqOpp,
      s"$tmp/sign/signatures" -> Similarity.SignSignatures,
      s"$tmp/sign/meta" -> Similarity.SignMeta,
      s"$tmp/pq/codes" -> Similarity.PqCodes,
      s"$tmp/pq/perm" -> Similarity.PqPerm,
      s"$tmp/pq/codebook" -> Similarity.PqCodebook,
      s"$tmp/pq/meta" -> Similarity.PqMeta,
      s"$tmp/bm25/postings" -> TextAnalysis.Bm25Postings,
      s"$tmp/bm25/doclens" -> TextAnalysis.Bm25Doclens,
      s"$tmp/bm25/lexicon" -> TextAnalysis.Bm25Lexicon,
      s"$tmp/cluster/meta" -> Curation.ClusterIndexMeta,
      gen("ivf-live") -> Similarity.IvfCells,
      gen("ivfpq-live") -> Similarity.IvfPqCells,
      gen("sign-live") -> Similarity.SignSignatures,
      s"${gen("bm25-live")}/postings" -> TextAnalysis.Bm25Postings,
      s"${gen("bm25-live")}/doclens" -> TextAnalysis.Bm25Doclens,
      gen("lsh-live") -> Dedup.BandSignatures,
      gen("winnow-live") -> Dedup.WinnowSignatures,
      gen("segment-live") -> Dedup.SegmentSignatures,
      gen("phash-live") -> Multimodal.PhashSignatures)
    for ((path, ddl) <- declared)
      assert(spark.read.parquet(path).schema ==
        org.apache.spark.sql.types.StructType.fromDDL(ddl),
        s"$path: inferred ${spark.read.parquet(path).schema.toDDL}, declared $ddl")
  }

  test("EXT-6aq maintainSignIndex: live probe equals the static probe across generations + replays; retrain refused") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit, pmod}
    implicit val sqlCtx = spark.sqlContext
    val sfDir = "/root/testdata/sf0.001"
    val tmp = java.nio.file.Files.createTempDirectory("graft-sign-gen").toString
    graft.operators.Similarity.initSignIndex(spark, s"$tmp/index")
    val vecs = graft.operators.Tables.embeddings(spark, sfDir)
      .select("vec_id", "embedding").as[(Long, Seq[Float])].collect().toSeq
    val stream = MemoryStream[(Long, Seq[Float])]
    val q = StreamOps.maintainSignIndex(
      stream.toDF().toDF("vec_id", "embedding"), s"$tmp/index", s"$tmp/ckpt",
      compactEvery = 2L)
    try {
      vecs.grouped(200).foreach { g =>
        stream.addData(g.toIndexedSeq); q.processAllAvailable()
      }
      stream.addData(vecs.take(200).toIndexedSeq) // at-least-once replay
      q.processAllAvailable()
    } finally q.stop()
    val staticIdx = java.nio.file.Files.createTempDirectory("graft-sign-stat").toString
    graft.operators.Similarity.writeSignIndex(spark, sfDir, staticIdx)
    val queries = graft.operators.Tables.embeddings(spark, sfDir)
      .filter(pmod(col("vec_id"), lit(25)) === 0)
      .select("vec_id", "embedding")
    val live = StreamOps.hammingProbeLive(spark, s"$tmp/index", sfDir, queries)
      .collect().map(_.toString).toSeq
    val expect = graft.operators.Similarity.hammingTopKFromIndex(
      spark, staticIdx, sfDir, queries)
      .collect().map(_.toString).toSeq
    assert(live == expect && expect.nonEmpty,
      "live sign probe diverged from the static-index probe")
    // retrain refusal: re-stamping the layout under live generations
    // refuses the probe (and would refuse the next append identically)
    graft.operators.Similarity.initSignIndex(spark, s"$tmp/index", dim = 32)
    val e = intercept[IllegalArgumentException] {
      StreamOps.hammingProbeLive(spark, s"$tmp/index", sfDir, queries).collect()
    }
    assert(e.getMessage.contains("retrain requires a rebuild"), e.getMessage)
  }

  test("EXT-6ar maintainIvfIndex: live probe equals the static probe across generations + replays; retrain refused") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit, pmod}
    implicit val sqlCtx = spark.sqlContext
    val sfDir = "/root/testdata/sf0.001"
    val tmp = java.nio.file.Files.createTempDirectory("graft-ivf-gen").toString
    graft.operators.Similarity.initIvfIndex(spark, sfDir, s"$tmp/index", nCentroids = 16)
    val vecs = graft.operators.Tables.embeddings(spark, sfDir)
      .select("vec_id", "embedding").as[(Long, Seq[Float])].collect().toSeq
    val stream = MemoryStream[(Long, Seq[Float])]
    val q = StreamOps.maintainIvfIndex(
      stream.toDF().toDF("vec_id", "embedding"), s"$tmp/index", s"$tmp/ckpt",
      compactEvery = 2L)
    try {
      vecs.grouped(200).foreach { g =>
        stream.addData(g.toIndexedSeq); q.processAllAvailable()
      }
      stream.addData(vecs.take(200).toIndexedSeq) // at-least-once replay
      q.processAllAvailable()
    } finally q.stop()
    val staticIdx = java.nio.file.Files.createTempDirectory("graft-ivf-stat").toString
    graft.operators.Similarity.writeIvfIndex(spark, sfDir, staticIdx, nCentroids = 16)
    val queries = graft.operators.Tables.embeddings(spark, sfDir)
      .filter(pmod(col("vec_id"), lit(25)) === 0)
      .select("vec_id", "embedding")
    for (np <- Seq(1, 2)) {
      val live = StreamOps.ivfProbeLive(spark, s"$tmp/index", queries, k = 3, nprobe = np)
        .collect().map(_.toString).toSeq
      val expect = graft.operators.Similarity.ivfTopKFromIndex(
        spark, staticIdx, queries, k = 3, nprobe = np)
        .collect().map(_.toString).toSeq
      assert(live == expect && expect.nonEmpty,
        s"live IVF probe diverged from the static-index probe at nprobe=$np")
    }
    // retrain refusal: new coarse geometry over live cell rows
    graft.operators.Similarity.initIvfIndex(spark, sfDir, s"$tmp/index", nCentroids = 8)
    val e = intercept[IllegalArgumentException] {
      StreamOps.ivfProbeLive(spark, s"$tmp/index", queries).collect()
    }
    assert(e.getMessage.contains("retrain requires a rebuild"), e.getMessage)
  }

  test("EXT-6ap maintainPhashIndex: streamed fingerprints equal the batch relation; re-encoded copy caught at ingest; replays collapse") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = (1 to 300).map(i => ('a' + (i * 7) % 26).toChar).mkString
    val other = (1 to 300).map(i => ('a' + (i * 11 + 3) % 26).toChar).mkString
    val tmp = java.nio.file.Files.createTempDirectory("graft-phashidx").toString
    val stream = MemoryStream[(Long, String)]
    val q = StreamOps.maintainPhashIndex(
      stream.toDF().toDF("doc_id", "text").selectExpr(
        "doc_id", "encode(text, 'UTF-8') AS payload", "'text/plain' AS media_type"),
      s"$tmp/index", s"$tmp/ckpt")
    try {
      stream.addData(1L -> base)
      q.processAllAvailable()
      stream.addData(2L -> other) // second microbatch appends, never rewrites
      q.processAllAvailable()
      stream.addData(1L -> base) // an at-least-once replay: identical rows
      q.processAllAvailable()
    } finally q.stop()
    def mediaDf(rows: (Long, String)*) =
      rows.toDF("doc_id", "text").selectExpr(
        "doc_id", "encode(text, 'UTF-8') AS payload", "'text/plain' AS media_type")
    // distinct view of the streamed index equals the batch relation
    val streamed = StreamOps.phashIndex(spark, s"$tmp/index")
    assert(streamed.distinct().collect().map(_.toSeq).sortBy(_.toString).toSeq ==
      graft.operators.Multimodal.phashSignatures(mediaDf(1L -> base, 2L -> other))
        .collect().map(_.toSeq).sortBy(_.toString).toSeq)
    // the ingest question the index exists for: a re-encoded copy of an
    // indexed payload (digest differs, dHash within the radius) matches
    // its source at probe time — and the replayed append does not
    // duplicate the match
    val variant = base.take(8).reverse + base.drop(8)
    val cands = graft.operators.Multimodal.phashCandidates(
      mediaDf(100L -> variant), streamed).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(3))).toSeq
    assert(cands == Seq((100L, 1L, false)),
      s"expected the perceptual-only ingest match against doc 1, got $cands")
  }

  test("EXT-T9b serving path: streamed query batches probe the PERSISTED BM25 index with bucket-pruned scans") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val sfDir = "/root/testdata/sf0.001"
    val indexPath = java.nio.file.Files.createTempDirectory("graft-bm25-serve").toString
    // build ONCE; every microbatch below probes the bucketed layout
    graft.operators.TextAnalysis.writeBm25Index(spark, sfDir, indexPath, nBuckets = 64)
    def parquetFilesUnder(dir: java.io.File): Seq[java.io.File] = {
      val kids = Option(dir.listFiles()).map(_.toSeq).getOrElse(Seq.empty)
      kids.filter(f => f.isFile && f.getName.endsWith(".parquet")) ++
        kids.filter(_.isDirectory).flatMap(parquetFilesUnder)
    }
    val totalPostingFiles = parquetFilesUnder(new java.io.File(s"$indexPath/postings")).length
    assert(totalPostingFiles >= 8, s"expected a spread bucket layout, got $totalPostingFiles")
    // four corpus terms, each from a different posting bucket if possible
    val terms = graft.operators.Tables.documents(spark, sfDir)
      .select(org.apache.spark.sql.functions.explode(
        graft.operators.Tables.tokens(org.apache.spark.sql.functions.col("text"))).as("token"))
      .filter(org.apache.spark.sql.functions.length($"token") > 0)
      .select("token").distinct().orderBy("token").as[String].collect().take(4).toSeq
    assert(terms.length == 4)
    val results = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val scannedFiles = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val stream = MemoryStream[String]
    val q = stream.toDF().toDF("term").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        // a query batch is |queries|-bounded by definition — collecting
        // it is the serving tier's legitimate bounded collect
        val batchTerms = batch.select("term").as[String](spark.implicits.newStringEncoder)
          .collect().toSeq
        val out = graft.operators.TextAnalysis.bm25TopKFromIndex(
          spark, indexPath, batchTerms, k = 3)
        out.collect().foreach(r => results.add(r.toString))
        def fileScans(p: org.apache.spark.sql.execution.SparkPlan)
            : Seq[org.apache.spark.sql.execution.FileSourceScanExec] = p match {
          case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
            fileScans(a.executedPlan)
          case s: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
            fileScans(s.plan)
          case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec =>
            fileScans(r.child)
          case f: org.apache.spark.sql.execution.FileSourceScanExec => Seq(f)
          case other => other.children.flatMap(fileScans)
        }
        val scanned = fileScans(out.queryExecution.executedPlan)
          .filter(_.metadata.get("Location").exists(l =>
            l.contains("postings") || l.contains("lexicon")))
          .map(_.metrics("numFiles").value).sum
        scannedFiles.add(scanned)
        ()
      }
      .start()
    try {
      stream.addData(terms.take(2).toIndexedSeq) // microbatch 1
      q.processAllAvailable()
      stream.addData(terms.drop(2).toIndexedSeq) // microbatch 2
      q.processAllAvailable()
    } finally q.stop()
    // build-once/probe-forever equivalence: per-term scoring is
    // independent, so the union of per-microbatch probes equals the
    // one-shot probe over all four terms
    val expect = graft.operators.TextAnalysis.bm25TopKFromIndex(
      spark, indexPath, terms, k = 3)
      .collect().map(_.toString).toSet
    import scala.jdk.CollectionConverters._
    assert(results.asScala.toSet == expect && expect.nonEmpty)
    // the bucket-pruned scan: each 2-term microbatch pins ≤2 of 64
    // buckets as a literal partition filter on postings — never the
    // whole token layout
    val perBatch = scannedFiles.asScala.toSeq
    assert(perBatch.length == 2)
    perBatch.foreach { n =>
      assert(n > 0 && n <= totalPostingFiles / 2,
        s"probe scanned $n of ≥$totalPostingFiles index files — bucket pruning did not engage")
    }
  }

  test("driftStream seals a window and matches the exact-integer TV spelling") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ref = Map("a" -> 2L, "b" -> 1L, "c" -> 1L) // nRef = 4
    val stream = MemoryStream[StreamOps.TimedDoc]
    val q = StreamOps.driftStream(stream.toDS(), ref,
      windowMs = 600000L, watermarkDelay = "0 seconds")
      .writeStream.format("memory").queryName("drift_out").outputMode("append").start()
    try {
      // one open window: tokens a,b,a (doc 1) + d (doc 2) — a:2 b:1 d:1, n=4
      stream.addData(StreamOps.TimedDoc(1, ts(1), "a b a"),
        StreamOps.TimedDoc(2, ts(5), "d"))
      q.processAllAvailable()
      assert(spark.table("drift_out").isEmpty) // watermark has not sealed it
      stream.addData(StreamOps.TimedDoc(3, ts(21), "a")) // wm -> min 21 after batch
      q.processAllAvailable()
      stream.addData(StreamOps.TimedDoc(4, ts(22), "b")) // timeout fires this batch
      q.processAllAvailable()
      val rows = spark.table("drift_out").collect()
      val w0 = Math.floorDiv(ts(1).getTime, 600000L) * 600000L
      assert(rows.length == 1 && rows.head.getTimestamp(0).getTime == w0)
      // independent spelling of the numerator: ordered fold over the union
      val win = Map("a" -> 2L, "b" -> 1L, "d" -> 1L)
      val expectNumer = (win.keySet ++ ref.keySet).toSeq.sorted
        .map(t => math.abs(win.getOrElse(t, 0L) * 4L - ref.getOrElse(t, 0L) * 4L)).sum
      assert(rows.head.getLong(1) == 4L)
      assert(rows.head.getLong(2) == expectNumer) // |4-0|(d) + |0-4|(c) = 8
      assert(rows.head.getDouble(3) == expectNumer.toDouble / (2.0 * 4L * 4L))
    } finally q.stop()
  }

  test("driftStream: null text counts zero tokens; an all-null window emits nothing") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ref = Map("a" -> 1L)
    val stream = MemoryStream[StreamOps.TimedDoc]
    val q = StreamOps.driftStream(stream.toDS(), ref,
      windowMs = 600000L, watermarkDelay = "0 seconds")
      .writeStream.format("memory").queryName("drift_null_out").outputMode("append").start()
    try {
      stream.addData(StreamOps.TimedDoc(1, ts(1), null),
        StreamOps.TimedDoc(2, ts(5), "")) // "" = ONE empty token (split contract)
      q.processAllAvailable()
      stream.addData(StreamOps.TimedDoc(3, ts(21), null))
      q.processAllAvailable()
      stream.addData(StreamOps.TimedDoc(4, ts(22), null))
      q.processAllAvailable()
      val rows = spark.table("drift_null_out").collect()
      // the "" token makes the window non-empty: n=1, numer=|1*1-0|+|0-1*1|=2
      assert(rows.length == 1)
      assert(rows.head.getLong(1) == 1L && rows.head.getLong(2) == 2L)
    } finally q.stop()
  }

  test("trendingStreamApprox survives a checkpoint restart: summary state restored, one emission") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ckpt = java.nio.file.Files.createTempDirectory("graft-ssr-ckpt").toString
    val out = java.nio.file.Files.createTempDirectory("graft-ssr-out").toString
    val stream = MemoryStream[Event]
    def start() = StreamOps.trendingStreamApprox(
      stream.toDS(), k = 2, capacity = 8, watermarkDelay = "0 seconds")
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ckpt).outputMode("append").start()
    val q1 = start()
    try {
      // open window: user 7 x2, user 8 x1 — the SSState round-trips
      // through the state store across the stop
      stream.addData(ev(1, 1, 7), ev(2, 2, 7), ev(3, 3, 8))
      q1.processAllAvailable()
    } finally q1.stop()
    val q2 = start() // restart: summary counts must be restored, not reset
    try {
      stream.addData(ev(4, 4, 8), ev(5, 5, 8)) // same window: 8 overtakes? 7:2, 8:3
      q2.processAllAvailable()
      stream.addData(ev(6, 60, 99)) // advance watermark
      q2.processAllAvailable()
      stream.addData(ev(7, 61, 99)) // seal
      q2.processAllAvailable()
      def win(min: Int) = Math.floorDiv(ts(min).getTime, 600000L) * 600000L / 1000L
      val rows = spark.read.parquet(out).collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3), r.getLong(4)))
        .filter(_._1 == win(1)).sortBy(_._2)
      // one emission, counting pre- AND post-restart arrivals exactly
      // (capacity 8 > 3 distinct keys: no eviction, err 0, counts exact)
      assert(rows.toSeq == Seq(
        (win(1), 1, 8L, 3L, 0L),
        (win(1), 2, 7L, 2L, 0L)))
    } finally q2.stop()
  }

  test("driftStream survives a checkpoint restart: state restored, one emission per window") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ref = Map("a" -> 2L, "b" -> 1L, "c" -> 1L) // nRef = 4
    val ckpt = java.nio.file.Files.createTempDirectory("graft-drift-ckpt").toString
    val out = java.nio.file.Files.createTempDirectory("graft-drift-out").toString
    val stream = MemoryStream[StreamOps.TimedDoc]
    // file sink: the memory sink does not support checkpoint recovery
    def start() = StreamOps.driftStream(stream.toDS(), ref,
      windowMs = 600000L, watermarkDelay = "0 seconds")
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ckpt).outputMode("append").start()
    val q1 = start()
    try {
      stream.addData(StreamOps.TimedDoc(1, ts(1), "a b a")) // open window, partial counts
      q1.processAllAvailable()
    } finally q1.stop()
    val q2 = start() // restart: the open window's counts must be restored
    try {
      stream.addData(StreamOps.TimedDoc(2, ts(5), "d")) // same window, post-restart
      q2.processAllAvailable()
      stream.addData(StreamOps.TimedDoc(3, ts(21), "a")) // wm past window end
      q2.processAllAvailable()
      stream.addData(StreamOps.TimedDoc(4, ts(22), "b")) // timeout fires
      q2.processAllAvailable()
      val w0 = Math.floorDiv(ts(1).getTime, 600000L) * 600000L
      val rows = spark.read.parquet(out).collect()
        .filter(_.getTimestamp(0).getTime == w0)
      // exactly ONE emission, counting pre- AND post-restart tokens:
      // a:2 b:1 d:1 (n=4) vs ref a:2 b:1 c:1 → numer |4-0|+|0-4| = 8
      assert(rows.length == 1)
      assert(rows.head.getLong(1) == 4L && rows.head.getLong(2) == 8L)
    } finally q2.stop()
  }

  test("driftStream equals the batch tokenDrift numerator law over shuffled arrivals") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // seeded generator: 3 windows x random docs over a small vocabulary,
    // arrival disorder BOUNDED by the watermark horizon: ordering by
    // ts ± 2 min jitter caps any inversion at 4 min < the 5 min delay,
    // so every arrival satisfies ts > wm and none is dropped as late
    // (unbounded shuffling would test Spark's late-row filter, not the
    // operator — deep-late rows are dropped by contract)
    val rnd = new scala.util.Random(20260812L)
    val vocab = Vector("a", "b", "c", "d", "e")
    val docs = (1 to 60).map { i =>
      val m = rnd.nextInt(30) // minutes 0..29 — windows 0,1,2
      val text = Seq.fill(1 + rnd.nextInt(5))(vocab(rnd.nextInt(vocab.size))).mkString(" ")
      StreamOps.TimedDoc(i.toLong, ts(m), text)
    }
    val shuffled = docs.sortBy(d => d.ts.getTime + (rnd.nextInt(240001) - 120000))
    val ref = Map("a" -> 3L, "b" -> 2L, "c" -> 2L, "e" -> 1L) // nRef = 8
    val nRef = ref.values.sum
    val stream = MemoryStream[StreamOps.TimedDoc]
    val q = StreamOps.driftStream(stream.toDS(), ref,
      windowMs = 600000L, watermarkDelay = "5 minutes")
      .writeStream.format("memory").queryName("drift_prop_out").outputMode("append").start()
    try {
      shuffled.grouped(7).foreach { batch =>
        stream.addData(batch); q.processAllAvailable()
      }
      // seal every window: push the watermark far past window 2's end
      stream.addData(StreamOps.TimedDoc(999, ts(120), "a"))
      q.processAllAvailable()
      stream.addData(StreamOps.TimedDoc(1000, ts(121), "a"))
      q.processAllAvailable()
      val got = spark.table("drift_prop_out").collect()
        .map(r => r.getTimestamp(0).getTime -> (r.getLong(1), r.getLong(2))).toMap
      // batch twin: same windows, same exact-integer numerator
      val byWindow = docs.groupBy(d => Math.floorDiv(d.ts.getTime, 600000L) * 600000L)
      for ((w, ds) <- byWindow) {
        val counts = ds.flatMap(_.text.split(" ", -1)).groupBy(identity)
          .map { case (t, xs) => t -> xs.size.toLong }
        val n = counts.values.sum
        val numer = (counts.keySet ++ ref.keySet).toSeq.sorted
          .map(t => math.abs(counts.getOrElse(t, 0L) * nRef - ref.getOrElse(t, 0L) * n)).sum
        assert(got.get(w).contains((n, numer)),
          s"window $w: stream ${got.get(w)} vs batch ($n, $numer)")
      }
    } finally q.stop()
  }

  test("EXT-6t corpusDiffStream: snapshot-pair drive emits the batch diff classification; replays drop") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.StreamOps.{DiffEvent, DocVersion}
    val stream = MemoryStream[DocVersion]
    val q = StreamOps.corpusDiffStream(stream.toDS())
      .writeStream.format("memory").queryName("diff_out").outputMode("append").start()
    try {
      // snapshot A: docs 1..4 live
      val a = Map(1L -> "da", 2L -> "db", 3L -> "dc", 4L -> "dd")
      stream.addData(a.toSeq.map { case (id, d) => DocVersion(id, 1L, d) }: _*)
      q.processAllAvailable()
      val batch1 = spark.table("diff_out").as[DiffEvent].collect()
      assert(batch1.length == 4 && batch1.forall(_.status == "added"))

      // snapshot B: 1 unchanged, 2 rewritten, 3 deleted, 5 new — the
      // exact status vocabulary of batch x93 over the pair (A, B)
      stream.addData(
        DocVersion(1L, 2L, "da"), DocVersion(2L, 2L, "db2"),
        DocVersion(3L, 2L, null), DocVersion(5L, 2L, "de"))
      q.processAllAvailable()
      val batch2 = spark.table("diff_out").as[DiffEvent].collect()
        .filter(_.seq == 2L).map(e => e.doc_id -> e.status).toMap
      assert(batch2 == Map(1L -> "same", 2L -> "changed", 3L -> "removed", 5L -> "added"))

      // at-least-once replay of already-applied seqs: no emission, no
      // state corruption (doc 2's old digest must not reclassify)
      stream.addData(DocVersion(2L, 1L, "db"), DocVersion(2L, 2L, "db2"))
      q.processAllAvailable()
      assert(spark.table("diff_out").count() == 8)

      // duplicate tombstone on a dead doc: silent (no phantom 'removed'),
      // and a RE-ADD after the tombstone is a fresh 'added'
      stream.addData(DocVersion(3L, 3L, null))
      q.processAllAvailable()
      assert(spark.table("diff_out").count() == 8)
      stream.addData(DocVersion(3L, 4L, "dc3"))
      q.processAllAvailable()
      val readd = spark.table("diff_out").as[DiffEvent].collect().filter(_.seq == 4L)
      assert(readd.toSeq == Seq(DiffEvent(3L, 4L, "added")))

      // intra-batch seq ordering: a change and its revert in ONE batch
      // apply in seq order regardless of arrival order
      stream.addData(DocVersion(1L, 9L, "da"), DocVersion(1L, 8L, "dx"))
      q.processAllAvailable()
      val ordered = spark.table("diff_out").as[DiffEvent].collect()
        .filter(e => e.doc_id == 1L && e.seq >= 8L).sortBy(_.seq).map(_.status).toSeq
      assert(ordered == Seq("changed", "changed"))
    } finally q.stop()
  }

  test("EXT-6t→6h composition: the CDC status stream drives incremental LSH re-indexing with live-set filtering") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.StreamOps.{DiffEvent, DocVersion}
    import org.apache.spark.sql.functions.col
    val t2v1 = (1 to 25).map(i => s"s$i").mkString(" ")
    val t2v2 = (1 to 25).map(i => s"s$i").mkString(" ") + " edited tail"
    val t4 = (26 to 50).map(i => s"t$i").mkString(" ")
    val t6 = (51 to 75).map(i => s"u$i").mkString(" ")
    // the version catalog a CDC consumer resolves text from
    val texts = Map((2L, 1L) -> t2v1, (2L, 2L) -> t2v2,
      (4L, 1L) -> t4, (6L, 1L) -> t6)
    val tmp = java.nio.file.Files.createTempDirectory("graft-cdc-lsh").toString
    val indexDir = s"$tmp/index"
    val live = scala.collection.concurrent.TrieMap.empty[Long, Long]
    val stream = MemoryStream[DocVersion]
    // the composition under test: only added/changed versions re-index
    // (the EXT-6t scaladoc's incremental-maintenance contract); removals
    // leave stale index rows that the LIVE-SET filter drops at probe time
    val q = StreamOps.corpusDiffStream(stream.toDS())
      .writeStream
      .option("checkpointLocation", s"$tmp/ckpt")
      .foreachBatch { (df: org.apache.spark.sql.Dataset[DiffEvent], _: Long) =>
        val events = df.collect().sortBy(_.seq)
        events.foreach { e =>
          e.status match {
            case "added" | "changed" => live(e.doc_id) = e.seq
            case "removed" => live.remove(e.doc_id); ()
            case _ => ()
          }
        }
        val fresh = events.collect {
          case e if e.status == "added" || e.status == "changed" =>
            (e.doc_id, texts((e.doc_id, e.seq)))
        }
        if (fresh.nonEmpty)
          graft.operators.Dedup.bandSignatures(fresh.toSeq.toDF("doc_id", "text"))
            .write.mode("append").parquet(indexDir)
        ()
      }
      .start()
    try {
      stream.addData(DocVersion(2L, 1L, "d2v1"), DocVersion(4L, 1L, "d4v1"),
        DocVersion(6L, 1L, "d6v1"))
      q.processAllAvailable()
      stream.addData(DocVersion(2L, 2L, "d2v2"), // changed -> re-signed
        DocVersion(4L, 2L, "d4v1"),              // same -> NOT re-signed
        DocVersion(6L, 2L, null))                // removed -> stale rows remain
      q.processAllAvailable()
    } finally q.stop()
    assert(live.toMap == Map(2L -> 2L, 4L -> 1L))

    val index = spark.read.parquet(indexDir)
    // 'same' versions are never re-signed: doc 4 has exactly one
    // signature generation in the index
    val batchOnce = graft.operators.Dedup.bandSignatures(
      Seq((4L, t4)).toDF("doc_id", "text")).count()
    assert(index.filter(col("doc_id") === 4L).count() == batchOnce)

    // a fresh near-copy of the CHANGED doc finds it via the maintained
    // index, and the live filter keeps it
    val liveDf = live.keys.toSeq.toDF("doc_id")
    def probe(text: String) = graft.operators.Dedup.indexCandidates(
      Seq((100L, text)).toDF("doc_id", "text"), index).collect()
      .map(r => r.getLong(1)).toSet
    assert(probe(t2v2).contains(2L))
    // a copy of the REMOVED doc's text still hits the stale rows...
    val rawRemoved = probe(t6)
    assert(rawRemoved.contains(6L), "append-only index keeps stale rows by design")
    // ...and the live-set join is what drops them — the CDC probe contract
    val filtered = graft.operators.Dedup.indexCandidates(
        Seq((100L, t6)).toDF("doc_id", "text"), index)
      .join(liveDf.withColumnRenamed("doc_id", "cand"),
        col("d2") === col("cand"), "left_semi")
      .collect()
    assert(filtered.isEmpty, "removed docs must not surface as candidates")
  }

  test("EXT-6u gateAttritionStream: sealed windows carry the exact batch funnel counts") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.StreamOps.TimedDoc
    val stream = MemoryStream[TimedDoc]
    val q = StreamOps.gateAttritionStream(stream.toDF(),
        windowDur = "10 minutes", watermarkDelay = "0 seconds")
      .writeStream.format("memory").queryName("gate_out").outputMode("append").start()
    try {
      // window 1 (min 0-10): one pass-all doc, one len-only failure, one
      // multi-gate failure — the x95 fixture shapes on a stream
      val passAll = "the and " + (0 until 23).map(i => s"word$i").mkString(" ")
      val lenOnly = "the and " + (0 until 8).map(i => s"tokn$i").mkString(" ")
      val multi = ("xx " * 40).trim
      // minutes 1/3/5: all inside one epoch-aligned 10-min window (the
      // fixture epoch is offset 200s into its window, so minute 7 would
      // already spill into the next one)
      stream.addData(
        TimedDoc(1L, ts(1), passAll), TimedDoc(2L, ts(3), lenOnly),
        TimedDoc(3L, ts(5), multi))
      q.processAllAvailable()
      stream.addData(TimedDoc(4L, ts(25), passAll)) // advances the watermark past window 1
      q.processAllAvailable()
      stream.addData(TimedDoc(5L, ts(45), passAll)) // seals window 2 (min 20-30)
      q.processAllAvailable()
      val rows = spark.table("gate_out").collect()
        .map(r => r.getTimestamp(0).getTime -> r).toMap
      def wstart(min: Int) = { val t = ts(min).getTime; t - t % 600000L }
      val w1 = rows(wstart(1))
      // (n_in, s1..s4) = (3, 2, 2, 2, 1): multi fails len too, so s1=2;
      // lenOnly survives nothing past gate... both lenOnly and multi fail
      // r_len -> s1 counts only passAll? lenOnly has 10 tokens (<20) and
      // multi has 40 in-range tokens -> s1 = passAll + multi = 2
      assert(w1.getLong(1) == 3L && w1.getLong(2) == 2L)
      assert(w1.getLong(5) == 1L, "only the pass-all doc survives the funnel")
      // sole blockers in window 1: lenOnly fails ONLY len
      assert(w1.getLong(10) == 1L && w1.getLong(11) == 0L)
      val w2 = rows(wstart(25))
      assert(w2.getLong(1) == 1L && w2.getLong(5) == 1L, "window 2: one pass-all doc")
      // sealed-once: exactly the two sealed windows are present
      assert(rows.keySet == Set(wstart(1), wstart(25)))
    } finally q.stop()
  }

  test("EXT-6v schemaDriftStream: sealed windows emit per-key census with new/gone/stable verdicts") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.StreamOps.{TimedPayload, WindowKeyDrift}
    val reference = Map("a" -> 1.0, "b" -> 0.5)
    val stream = MemoryStream[TimedPayload]
    val q = StreamOps.schemaDriftStream(stream.toDS(), reference,
        windowMs = 10 * 60000L, watermarkDelay = "0 seconds")
      .writeStream.format("memory").queryName("schema_out").outputMode("append").start()
    try {
      // one window: a on every event, b vanished, c appeared on 1 of 4,
      // plus one unparseable payload (counts toward n_events, no keys)
      stream.addData(
        TimedPayload(1L, ts(1), """{"a": 1}"""),
        TimedPayload(2L, ts(2), """{"a": 2, "c": true}"""),
        TimedPayload(3L, ts(3), """{"a": 3}"""),
        TimedPayload(4L, ts(4), "not json"))
      q.processAllAvailable()
      stream.addData(TimedPayload(9L, ts(40), """{"a": 1}""")) // seals the window
      q.processAllAvailable()
      val rows = spark.table("schema_out").as[WindowKeyDrift].collect()
        .filter(_.n_events == 4L).map(r => r.key -> r).toMap
      assert(rows.keySet == Set("a", "b", "c"))
      val a = rows("a")
      assert(a.n_key == 3L && a.rate == 0.75 && a.status == "stable")
      assert(a.rate_shift == 0.75 - 1.0)
      val b = rows("b")
      assert(b.n_key == 0L && b.status == "gone" && b.rate_shift == -0.5)
      val c = rows("c")
      assert(c.n_key == 1L && c.status == "new" && c.rate == 0.25 && c.ref_rate == 0.0)
    } finally q.stop()
  }

  test("EXT-6t corpusDiffStream: live-digest state survives a checkpointed stop/restart") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.StreamOps.{DiffEvent, DocVersion}
    val ckpt = java.nio.file.Files.createTempDirectory("graft-diff-ckpt").toString
    val out = java.nio.file.Files.createTempDirectory("graft-diff-out").toString
    val stream = MemoryStream[DocVersion]
    def start() = StreamOps.corpusDiffStream(stream.toDS())
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ckpt).outputMode("append").start()
    val q1 = start()
    try {
      stream.addData(DocVersion(7L, 1L, "v1"), DocVersion(8L, 1L, "w1"))
      q1.processAllAvailable()
    } finally q1.stop()
    val q2 = start()
    try {
      // restored state must classify against the PRE-restart digests:
      // same digest -> 'same', tombstone -> 'removed' (a lost state
      // would mis-emit 'added' for both)
      stream.addData(DocVersion(7L, 2L, "v1"), DocVersion(8L, 2L, null))
      q2.processAllAvailable()
      val after = spark.read.parquet(out).as[DiffEvent].collect()
        .filter(_.seq == 2L).map(e => e.doc_id -> e.status).toMap
      assert(after == Map(7L -> "same", 8L -> "removed"))
    } finally q2.stop()
  }

  test("EXT-6z oovMonitorStream: sealed per-source windows carry the exact batch OOV counts") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.StreamOps.TimedSourcedDoc
    val vocab = Seq("the", "and", "of")
    val stream = MemoryStream[TimedSourcedDoc]
    val q = StreamOps.oovMonitorStream(stream.toDF(), vocab,
        windowDur = "10 minutes", watermarkDelay = "0 seconds")
      .writeStream.format("memory").queryName("oov_out").outputMode("append").start()
    try {
      stream.addData(
        TimedSourcedDoc(1L, ts(1), "web", "the cat and dog"), // 4 toks, 2 oov
        TimedSourcedDoc(2L, ts(3), "web", "of the and"),      // 3 toks, 0 oov
        TimedSourcedDoc(3L, ts(5), "book", "zebra quark"))    // 2 toks, 2 oov
      q.processAllAvailable()
      stream.addData(TimedSourcedDoc(4L, ts(25), "web", "the")) // seals window 1
      q.processAllAvailable()
      stream.addData(TimedSourcedDoc(5L, ts(45), "web", "the")) // seals window 2
      q.processAllAvailable()
      val rows = spark.table("oov_out").collect()
        .map(r => (r.getTimestamp(0).getTime, r.getString(1)) ->
          ((r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5)))).toMap
      def wstart(min: Int) = { val t = ts(min).getTime; t - t % 600000L }
      assert(rows((wstart(1), "web")) == ((2L, 7L, 2L, 2.0 / 7.0)))
      assert(rows((wstart(1), "book")) == ((1L, 2L, 2L, 1.0)))
      assert(rows((wstart(25), "web")) == ((1L, 1L, 0L, 0.0)))
      assert(rows.keySet == Set((wstart(1), "web"), (wstart(1), "book"), (wstart(25), "web")),
        "exactly the sealed (window, source) cells are emitted, once each")
      // the shared-definition law: each sealed cell equals the batch
      // projection folded over the same documents with the same vocab
      val batch = graft.operators.TextAnalysis.oovProjection(
          Seq(("web", "the cat and dog"), ("web", "of the and"), ("book", "zebra quark"))
            .toDF("source", "text"), vocab)
        .groupBy("source")
        .agg(org.apache.spark.sql.functions.sum("n_tokens").as("t"),
          org.apache.spark.sql.functions.sum("n_oov").as("o"))
        .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      assert(batch == Map("web" -> ((7L, 2L)), "book" -> ((2L, 2L))))
    } finally q.stop()
  }

  test("EXT-6ac lengthQuantileMonitorStream: sealed windows hold the rank-error law; exact min/max") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // (ts-minute, source, n_chars); window 0 = minutes 0-9, window 1 = 10-19
    val w0web = Seq(10L, 20L, 30L, 40L, 50L, 60L, 70L, 80L, 90L, 1000L)
    val w0book = Seq(5L, 7L)
    val w1web = Seq(3L, 4L, 5L)
    val rows =
      w0web.zipWithIndex.map { case (n, i) => (i, "web", n) } ++
        w0book.zipWithIndex.map { case (n, i) => (i, "book", n) } ++
        w1web.zipWithIndex.map { case (n, i) => (10 + i, "web", n) }
    // 10-minute-ALIGNED base (1700000400000 = :20:00.000), so minutes
    // 0-9 / 10-19 land in exactly two tumbling windows
    def tsA(min: Int) = new java.sql.Timestamp(1700000400000L + min * 60000L)
    def wstart(min: Int) = { val t = tsA(min).getTime; t - t % 600000L }
    val stream = MemoryStream[(java.sql.Timestamp, String, Long)]
    val q = StreamOps.lengthQuantileMonitorStream(
        stream.toDF().toDF("ts", "source", "n_chars"))
      .writeStream.format("memory").queryName("quant_out").outputMode("append").start()
    try {
      stream.addData(rows.map { case (min, src, n) => (tsA(min), src, n) })
      q.processAllAvailable()
      stream.addData(Seq((tsA(45), "flush", 1L)))
      q.processAllAvailable()
      stream.addData(Seq((tsA(46), "flush", 1L)))
      q.processAllAvailable()
      val got = spark.table("quant_out").collect()
        .map(r => (r.getTimestamp(0).getTime, r.getString(1)) ->
          ((r.getLong(2), r.getLong(3), r.getLong(4),
            Seq(r.getLong(5), r.getLong(6), r.getLong(7))))).toMap
      assert(got.keySet == Set(
        (wstart(0), "web"), (wstart(0), "book"), (wstart(10), "web")),
        "exactly the sealed (window, source) cells emit, once each")
      // the x67 rank-error law, recomputed independently per cell
      val eps = 1.0 / 100
      def law(vals: Seq[Long], cell: (Long, Long, Long, Seq[Long])): Unit = {
        val sorted = vals.sorted
        val n = sorted.length
        assert(cell._1 == n && cell._2 == sorted.head && cell._3 == sorted.last)
        Seq(0.5, 0.9, 0.99).zip(cell._4).foreach { case (p, v) =>
          def at(r: Double): Long =
            sorted(math.min(n, math.max(1, math.ceil(r * n).toLong)).toInt - 1)
          assert(v >= at(p - eps) && v <= at(p + eps),
            s"p$p = $v outside the rank-error bracket of $sorted")
        }
      }
      law(w0web, got((wstart(0), "web")))
      law(w0book, got((wstart(0), "book")))
      law(w1web, got((wstart(10), "web")))
    } finally q.stop()
  }

  test("EXT-6ag cellMixtureMonitorStream: sealed windows equal the batch census against baseline") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val sfDir = "/root/testdata/sf0.001"
    val cents = graft.operators.Similarity.trainedCentroids(spark, sfDir, k = 8, iters = 2)
    // baseline = x144's corpus-side shares (cells with no members -> 0)
    val byCell = graft.operators.Similarity.cellDrift(spark, sfDir).collect()
      .map(r => r.getLong(0).toInt -> r.getDouble(3)).toMap
    val base = (0 until 8).map(c => byCell.getOrElse(c, 0.0))
    // batch truth: each sampled vector's cell under the same centroids
    val cellOf = graft.operators.Similarity
      .centroidProjection(graft.operators.Tables.embeddings(spark, sfDir), cents)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val sample = graft.operators.Tables.embeddings(spark, sfDir)
      .filter(org.apache.spark.sql.functions.col("vec_id") < 60)
      .select("vec_id", "embedding").as[(Long, Seq[Float])].collect()
    def tsA(min: Int) = new java.sql.Timestamp(1700000400000L + min * 60000L)
    def wstart(min: Int) = { val t = tsA(min).getTime; t - t % 600000L }
    // vecs 0-29 arrive in window 0 (minutes 0-9), 30-59 in window 1
    val rows = sample.map { case (id, emb) =>
      (tsA((if (id < 30) 0 else 10) + (id % 10).toInt), id, emb)
    }
    val stream = MemoryStream[(java.sql.Timestamp, Long, Seq[Float])]
    val q = StreamOps.cellMixtureMonitorStream(
        stream.toDF().toDF("ts", "vec_id", "embedding"), cents, base)
      .writeStream.format("memory").queryName("mix_out").outputMode("append").start()
    try {
      stream.addData(rows.toIndexedSeq)
      q.processAllAvailable()
      stream.addData(Seq((tsA(45), -1L, sample.head._2)))
      q.processAllAvailable()
      stream.addData(Seq((tsA(46), -1L, sample.head._2)))
      q.processAllAvailable()
      val got = spark.table("mix_out").collect()
        .map(r => (r.getTimestamp(0).getTime, r.getLong(1)) ->
          ((r.getLong(2), r.getLong(3), r.getDouble(4), r.getDouble(5), r.getDouble(6)))).toMap
      assert(got.keySet == (for (w <- Seq(wstart(0), wstart(10)); c <- 0L until 8L)
        yield (w, c)).toSet,
        "each sealed window emits all k cells exactly once; the open flush window emits nothing")
      // the twin law: every sealed row equals the batch census of that
      // window's slice under identical share/shift arithmetic
      for ((w, ids) <- Seq(wstart(0) -> sample.map(_._1).filter(_ < 30),
                           wstart(10) -> sample.map(_._1).filter(id => id >= 30 && id < 60));
           c <- 0L until 8L) {
        val nw = ids.length.toLong
        val n = ids.count(cellOf(_) == c).toLong
        val share = math.rint(n.toDouble / nw * 10000) / 10000
        val shift = math.rint((n.toDouble / nw - base(c.toInt)) * 10000) / 10000
        assert(got((w, c)) == ((n, nw, share, base(c.toInt), shift)),
          s"window $w cell $c diverged from the batch census")
      }
    } finally q.stop()
  }

  test("EXT-6ah concurrencyGaugeStream: sealed hour leaves equal the batch sweep leaves") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // hour-ALIGNED base; sessions: one inside hour 0, one straddling
    // hours 0->1 (its deltas land in different hours), one point
    // session in hour 1 starting at the exact instant another ends
    val base = 1700000400000L - (1700000400000L % 3600000L)
    def tsA(min: Int) = new java.sql.Timestamp(base + min * 60000L)
    val sess = Seq(
      (tsA(1), tsA(5)),   // hour 0: +1@1, -1@5
      (tsA(3), tsA(70)),  // hour 0: +1@3; hour 1: -1@70
      (tsA(70), tsA(70))) // hour 1: point session touching the end above
    val batch = graft.operators.Temporal.concurrencyLeaves(
        sess.toDF("session_start", "session_end")).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(4), r.getLong(5), r.getLong(3), r.getLong(2)))).toMap
    val stream = MemoryStream[(java.sql.Timestamp, java.sql.Timestamp)]
    val q = StreamOps.concurrencyGaugeStream(
        stream.toDF().toDF("session_start", "session_end"))
      .writeStream.format("memory").queryName("conc_out").outputMode("append").start()
    try {
      stream.addData(sess)
      q.processAllAvailable()
      stream.addData(Seq((tsA(300), tsA(300))))
      q.processAllAvailable()
      stream.addData(Seq((tsA(301), tsA(301))))
      q.processAllAvailable()
      val got = spark.table("conc_out").collect()
        .map(r => (r.getLong(0), r.getLong(1)) ->
          ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
      assert(got.keySet == batch.keySet,
        "exactly the sealed hours emit; the open flush hour stays silent")
      batch.foreach { case (k, (ns, ne, net, peak)) =>
        assert(got(k) == ((ns, ne, net, peak)),
          s"hour $k diverged from the batch leaf")
      }
      // the hand numbers, for the reader: hour 0 sweeps 1,2,1 (peak 2,
      // net +1); hour 1 sweeps +1@70 first (touching sessions count:
      // 1, 0, -1 with the straddler's end) -> peak 1, net -1
      assert(got.values.map(_._3).sum == 0L, "every start is matched by an end across hours")
    } finally q.stop()
  }

  test("EXT-6ad repairGateStream: ingest repairs equal the batch operator; replays re-derive") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val quote = "b1 b2 b3 b4 b5 b6"
    val dir = TestTables.documentsDir(spark, Seq(
      0L -> quote,
      21L -> s"u1 u2 $quote u3 u4",
      22L -> "v1 v2 b1 b2 b3 b4 b5 v3",
      24L -> quote))
    val grams = graft.operators.Curation.benchmarkGrams(spark, dir)
    val batch = graft.operators.Curation.decontaminationRepair(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(2), r.getBoolean(4), r.getString(5)))).toMap
    val stream = MemoryStream[(Long, String)]
    val q = StreamOps.repairGateStream(
        stream.toDF().toDF("doc_id", "text"), grams)
      .select("doc_id", "n_removed", "clean", "text_repaired")
      .writeStream.format("memory").queryName("repair_out").outputMode("append").start()
    try {
      stream.addData((21L, s"u1 u2 $quote u3 u4"), (22L, "v1 v2 b1 b2 b3 b4 b5 v3"),
        (24L, quote))
      q.processAllAvailable()
      val got = spark.table("repair_out").collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2), r.getString(3)))).toMap
      assert(got == batch.filter(kv => got.keySet.contains(kv._1)),
        "ingest-time repairs must equal the batch operator document for document")
      assert(got(21L)._3 == "u1 u2 u3 u4" && got(24L)._3 == "")
      // stateless: an at-least-once replay re-derives identical rows
      stream.addData((21L, s"u1 u2 $quote u3 u4"))
      q.processAllAvailable()
      val replayed = spark.table("repair_out").collect()
        .filter(_.getLong(0) == 21L)
        .map(r => (r.getLong(1), r.getBoolean(2), r.getString(3)))
      assert(replayed.length == 2 && replayed.distinct.length == 1,
        "zero state: the replay emits the bit-identical repair")
    } finally q.stop()
  }

  test("EXT-6aj clusterGateStream: arriving docs resolve exactly as the batch index probe; corrupt index refused") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val idx = java.nio.file.Files.createTempDirectory("graft-clidx-stream").toString
    graft.operators.Curation.writeClusterIndex(spark, dir, idx)
    // probe ids: three clustered + one certainly-unclustered
    val members = graft.operators.Curation.dedupClusters(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val someClustered = members.keys.toSeq.sorted.take(3)
    val unclustered = (0L until 500000L).find(d => !members.contains(d)).get
    val ids = someClustered :+ unclustered
    // the twin: the batch membership probe over the same ids
    val want = graft.operators.Curation.lookupClustersFromIndex(
        spark, idx, ids.toDF("doc_id")).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    val stream = MemoryStream[Long]
    val q = StreamOps.clusterGateStream(stream.toDF().toDF("doc_id"), idx)
      .writeStream.format("memory").queryName("clgate_out").outputMode("append").start()
    try {
      stream.addData(ids: _*)
      q.processAllAvailable()
      val got = spark.table("clgate_out").collect()
        .map(r => r.getAs[Long]("doc_id") ->
          ((r.getAs[Long]("cluster"), r.getAs[Boolean]("clustered")))).toMap
      assert(got == want, "stream gate must resolve exactly as the batch probe")
      assert(got(unclustered) == ((unclustered, false)))
      someClustered.foreach(d => assert(got(d) == ((members(d), true))))
    } finally q.stop()
    // the guard: a corrupt (multi-meta) index is refused before any join
    val bad = java.nio.file.Files.createTempDirectory("graft-clidx-bad").toString
    spark.read.parquet(s"$idx/meta").unionAll(spark.read.parquet(s"$idx/meta"))
      .write.mode("overwrite").parquet(s"$bad/meta")
    val err = intercept[IllegalArgumentException](
      StreamOps.clusterGateStream(stream.toDF().toDF("doc_id"), bad))
    assert(err.getMessage.contains("corrupt cluster index"))
  }

  test("EXT-6ak splitLeakGateStream: gate equals the batch family-span law; x66 members flagged; corrupt index refused") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // controlled fixture: ids 0 (val) / 1 (train) / 4 (train) share one
    // near-dup family (cross-split); 5 / 6 (both train) share a pure
    // same-split family; 2 (test) is an unclustered singleton. The
    // split verdicts are md5-determined by doc_id — computed offline
    // and pinned below.
    val famA = "alpha beta gamma delta epsilon zeta eta theta"
    val famB = "one two three four five six seven eight nine ten"
    val dir = TestTables.documentsDir(spark, Seq(
      0L -> famA, 1L -> famA, 4L -> famA,
      5L -> famB, 6L -> famB,
      2L -> "wholly unrelated singleton text with unique tokens qq ww ee rr"))
    val idx = java.nio.file.Files.createTempDirectory("graft-leakidx").toString
    graft.operators.Curation.writeClusterIndex(spark, dir, idx)
    // the batch face of the law: family-span over the same labels + split
    val members = graft.operators.Curation.dedupClusters(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(members.keySet == Set(0L, 1L, 4L, 5L, 6L))
    val splits = Map(0L -> "val", 1L -> "train", 2L -> "test",
      4L -> "train", 5L -> "train", 6L -> "train")
    val famSplits = members.groupBy(_._2).map { case (c, ms) =>
      c -> ms.keys.map(splits).toSet }
    def batchVerdict(d: Long): Boolean =
      members.get(d).exists(c => (famSplits(c) - splits(d)).nonEmpty)
    val ids = Seq(0L, 1L, 2L, 4L, 5L, 6L)
    val stream = MemoryStream[Long]
    val q = StreamOps.splitLeakGateStream(stream.toDF().toDF("doc_id"), idx)
      .writeStream.format("memory").queryName("leakgate_out").outputMode("append").start()
    try {
      stream.addData(ids: _*)
      q.processAllAvailable()
      val got = spark.table("leakgate_out").collect()
        .map(r => r.getAs[Long]("doc_id") -> ((r.getAs[String]("split"),
          r.getAs[Long]("cluster"), r.getAs[Boolean]("clustered"),
          r.getAs[Boolean]("cross_split")))).toMap
      ids.foreach { d =>
        val (s, c, cl, x) = got(d)
        assert(s == splits(d), s"doc $d: stream split must be the one md5 derivation")
        assert(c == members.getOrElse(d, d) && cl == members.contains(d),
          s"doc $d: the cluster face must resolve exactly as EXT-6aj")
        assert(x == batchVerdict(d),
          s"doc $d: gate verdict must equal the batch family-span law")
      }
      // the cross-split family is flagged in FULL (train members
      // included); the pure family and the singleton pass
      assert(Seq(0L, 1L, 4L).forall(got(_)._4) &&
        !got(5L)._4 && !got(6L)._4 && !got(2L)._4)
      // containment: every direct x66 pair member is gate-flagged
      val x66 = graft.operators.Curation.splitLeakage(spark, dir).collect()
        .flatMap(r => Seq(r.getLong(0), r.getLong(1))).distinct
      assert(x66.nonEmpty && x66.forall(got(_)._4))
    } finally q.stop()
    // the guard: a corrupt (multi-meta) index is refused before any join
    val bad = java.nio.file.Files.createTempDirectory("graft-leakidx-bad").toString
    spark.read.parquet(s"$idx/meta").unionAll(spark.read.parquet(s"$idx/meta"))
      .write.mode("overwrite").parquet(s"$bad/meta")
    val err = intercept[IllegalArgumentException](
      StreamOps.splitLeakGateStream(stream.toDF().toDF("doc_id"), bad))
    assert(err.getMessage.contains("corrupt cluster index"))
  }

  test("EXT-6ab novelChunkStream: re-crawls emit nothing; an edit emits exactly its changed chunk") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val tokA = (1 to 120).map(i => s"tok$i")
    val textA = tokA.mkString(" ")
    val textB = ("inserted" +: tokA).mkString(" ")
    val t0 = new java.sql.Timestamp(1700000000000L)
    val stream = MemoryStream[(Long, java.sql.Timestamp, String, String)]
    val q = StreamOps.novelChunkStream(
        stream.toDF().toDF("doc_id", "ts", "source", "text"))
      .writeStream.format("memory").queryName("chunks_out").outputMode("append").start()
    try {
      // the batch chunker over the same texts IS the expected relation
      // (the shared-definition law: row-local code runs unmodified)
      val batchDir = TestTables.documentsDir(spark, Seq(1L -> textA, 3L -> textB))
      val batch = graft.operators.Dedup.cdcChunks(
          graft.operators.Tables.documents(spark, batchDir)).collect()
        .map(r => (r.getLong(0), r.getLong(2)) -> r.getString(5))
      val digA = batch.filter(_._1._1 == 1L).sortBy(_._1._2).map(_._2)
      val digB = batch.filter(_._1._1 == 3L).sortBy(_._1._2).map(_._2)
      assert(digA.length >= 3 && digA.drop(1).sameElements(digB.drop(1)))

      stream.addData((1L, t0, "web", textA))
      q.processAllAvailable()
      val afterA = spark.table("chunks_out").collect().map(_.getString(5))
      assert(afterA.sorted.sameElements(digA.sorted.distinct),
        "a fresh document's chunks are all novel")
      // exact re-crawl under a NEW doc_id: every digest already seen
      stream.addData((2L, t0, "web", textA))
      q.processAllAvailable()
      assert(spark.table("chunks_out").count() == digA.length,
        "a byte-identical re-crawl emits nothing")
      // the live resync law: one prepended token -> ONLY the first
      // chunk's digest is new; the unchanged tail drops against state
      stream.addData((3L, t0, "web", textB))
      q.processAllAvailable()
      val afterB = spark.table("chunks_out").collect()
      assert(afterB.length == digA.length + 1,
        "an edit before the first boundary emits exactly one novel chunk")
      val novel = afterB.map(_.getString(5)).diff(digA)
      assert(novel.toSeq == Seq(digB.head), "the novel chunk is the edited head")
      // at-least-once replay: identical digests re-derive and drop
      stream.addData((1L, t0, "web", textA))
      q.processAllAvailable()
      assert(spark.table("chunks_out").count() == digA.length + 1)
    } finally q.stop()
  }

  test("EXT-6aa cusumMonitorStream: sealed hours carry the batch CUSUM law; silence ramps") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // hour-aligned epoch base so grid hours land exactly on x122's grid
    val h0S = 1700000000L - (1700000000L % 3600L)
    def evh(id: Long, minute: Int, typ: String) =
      Event(id, new java.sql.Timestamp((h0S + minute * 60L) * 1000L), 1L, typ, 1.0)
    // the x122 fixture, hour counts over grid h0..h3:
    //   A [4,0,0,0] -> dev [12,-4,-4,-4], cusum [12,8,4,0]
    //   B [0,0,0,2] -> dev [-2,-2,-2,6], cusum [-2,-4,-6,0]
    //   C [1,1,1,1] -> flat zero
    val hist =
      (1L to 4L).map(i => evh(i, i.toInt, "A")) ++
        Seq(evh(5, 181, "B"), evh(6, 182, "B")) ++
        Seq(evh(7, 5, "C"), evh(8, 65, "C"), evh(9, 125, "C"), evh(10, 185, "C"))
    // the trained reference IS the batch audit over the same history
    val dir = TestTables.eventsDir(spark,
      hist.map(e => (e.event_id, e.ts.getTime * 1000L, e.user_id, e.event_type)))
    val batch = graft.operators.Temporal.cusumDrift(spark, dir).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    val ref = batch.map { case (t, (h, n, _, _, _)) => t -> ((h, n)) }
    val stream = MemoryStream[Event]
    val q = StreamOps.cusumMonitorStream(stream.toDS(), ref, gridStartS = h0S,
        watermarkDelay = "0 seconds")
      .writeStream.format("memory").queryName("cusum_out").outputMode("append").start()
    try {
      stream.addData(hist: _*)
      q.processAllAvailable()
      // two flushes on an UNREFERENCED type: the first advances the
      // watermark to hour 6, the second lets the timeouts fire with it
      stream.addData(evh(98, 360, "zz"))
      q.processAllAvailable()
      stream.addData(evh(99, 361, "zz"))
      q.processAllAvailable()
      val rows = spark.table("cusum_out").collect()
        .map(r => (r.getString(0), r.getLong(1)) -> ((r.getLong(2), r.getLong(3), r.getLong(4))))
        .toMap
      assert(!rows.keySet.exists(_._1 == "zz"), "unreferenced types emit nothing")
      def h(i: Int) = h0S + i * 3600L
      // every referenced type seals the CONTIGUOUS grid h0..h5 exactly once
      for (t <- Seq("A", "B", "C"))
        assert(rows.keySet.filter(_._1 == t).map(_._2) == (0 to 5).map(h(_)).toSet)
      // in-grid hours carry exactly the batch law (dev = H*c - T)
      assert((0 to 3).map(i => rows(("A", h(i)))) ==
        Seq((4L, 12L, 12L), (0L, -4L, 8L), (0L, -4L, 4L), (0L, -4L, 0L)))
      assert((0 to 3).map(i => rows(("B", h(i)))) ==
        Seq((0L, -2L, -2L), (0L, -2L, -4L), (0L, -2L, -6L), (2L, 6L, 0L)))
      assert((0 to 3).map(i => rows(("C", h(i)))) ==
        Seq((1L, 0L, 0L), (1L, 0L, 0L), (1L, 0L, 0L), (1L, 0L, 0L)))
      // the twin-agreement law: the emitted peak over the batch grid
      // (max abs, tie to the earliest hour) IS x122's peak row
      for (t <- Seq("A", "B", "C")) {
        val (ph, pc, pa) = (0 to 3).map { i =>
          val (_, _, cu) = rows((t, h(i))); (h(i), cu, math.abs(cu))
        }.maxBy { case (hs, _, a) => (a, -hs) }
        assert((ph, pc, pa) == ((batch(t)._3, batch(t)._4, batch(t)._5)),
          s"$t: stream peak must equal the batch audit's")
      }
      // past the history, silence ramps at -refEvents per hour — the
      // dense-grid law live (a type going silent IS the change)
      for ((t, te) <- Seq(("A", 4L), ("B", 2L), ("C", 4L))) {
        assert(rows((t, h(4))) == ((0L, -te, -te)))
        assert(rows((t, h(5))) == ((0L, -te, -2L * te)))
      }
    } finally q.stop()
  }

  test("EXT-6ai funnelGaugeStream: a sealed window equals the batch funnel over its slice") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val sfDir = "/root/testdata/sf0.001"
    val labels = graft.operators.Curation.dedupClusters(spark, sfDir)
    // window 0 carries the WHOLE corpus -> its rows must equal x163's
    // batch masses verbatim; window 1 carries the even docs only
    val docs = graft.operators.Tables.documents(spark, sfDir)
      .select("doc_id", "text").as[(Long, String)].collect()
    val w0Ms = 1700000000000L - (1700000000000L % 600000L)
    def at(min: Int) = new java.sql.Timestamp(w0Ms + min * 60000L)
    val rows = docs.map { case (id, text) => (at((id % 10).toInt), id, text) } ++
      docs.filter(_._1 % 2 == 0).map { case (id, text) =>
        (at(10 + (id % 10).toInt), id, text)
      }
    val stream = MemoryStream[(java.sql.Timestamp, Long, String)]
    val q = StreamOps.funnelGaugeStream(
        stream.toDF().toDF("ts", "doc_id", "text"), labels)
      .writeStream.format("memory").queryName("funnel_out").outputMode("append").start()
    try {
      stream.addData(rows.toIndexedSeq)
      q.processAllAvailable()
      stream.addData(Seq((at(45), -1L, "flush one"), (at(46), -1L, "flush two")))
      q.processAllAvailable()
      val got = spark.table("funnel_out").collect()
        .map(r => (r.getTimestamp(0).getTime, r.getInt(1)) ->
          ((r.getString(2), r.getLong(3), r.getLong(4), r.getDouble(5), r.getDouble(6))))
        .toMap
      assert(got.keySet == (for (w <- Seq(w0Ms, w0Ms + 600000L); s <- 1 to 4)
        yield (w, s)).toSet,
        "each sealed window emits the 4 stages exactly once; the open window stays silent")
      // twin law, window 0: the batch funnel verbatim (same labels, same
      // gate, same split derivation — the whole corpus is in the window)
      val batch = graft.operators.Curation.curationFunnel(spark, sfDir).collect()
        .map(r => r.getInt(0) ->
          ((r.getString(1), r.getLong(2), r.getLong(3), r.getDouble(4), r.getDouble(5))))
        .toMap
      (1 to 4).foreach { s =>
        assert(got((w0Ms, s)) == batch(s), s"window-0 stage $s diverged from x163")
      }
      // window 1 (even docs): masses are bounded by window 0's and raw
      // equals the even-doc count — the windowing actually sliced
      assert(got((w0Ms + 600000L, 1))._2 == docs.count(_._1 % 2 == 0).toLong)
      (1 to 4).foreach { s =>
        assert(got((w0Ms + 600000L, s))._2 <= got((w0Ms, s))._2)
      }
    } finally q.stop()
  }

  test("EXT-6ae burstinessMonitorStream: sealed windows equal the batch windowedBurstiness rows") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // 10-min-aligned base so expected windows are clean multiples
    val w0Ms = 1700000000000L - (1700000000000L % 600000L)
    def at(offS: Long, micro: Int = 0): java.sql.Timestamp = {
      val t = new java.sql.Timestamp(w0Ms + offS * 1000L)
      if (micro != 0) t.setNanos(t.getNanos + micro * 1000)
      t
    }
    // window 0: type A — user 1 gaps (30s, 60s); user 2 gap (10s + 123µs,
    //   exercising the sub-ms micros path); type B — user 1 same-µs
    //   replay pair (Σg = 0 ⇒ cv2 NULL); type C — one event, NO row.
    // window 1: type A — user 1 gap (5s): CV² of a single gap is 0.
    val fixture = Seq(
      Event(1L, at(0), 1L, "A", 1.0),
      Event(2L, at(30), 1L, "A", 1.0),
      Event(3L, at(90), 1L, "A", 1.0),
      Event(4L, at(10), 2L, "A", 1.0),
      Event(5L, at(20, micro = 123), 2L, "A", 1.0),
      Event(6L, at(40), 1L, "B", 1.0),
      Event(7L, at(40), 1L, "B", 1.0),
      Event(8L, at(50), 1L, "C", 1.0),
      Event(9L, at(610), 1L, "A", 1.0),
      Event(10L, at(615), 1L, "A", 1.0))
    val batch = graft.operators.Temporal.windowedBurstiness(
        fixture.toDF(), windowDur = "10 minutes").collect()
      .map(r => (r.getTimestamp(0).getTime, r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getString(4), r.getDouble(5),
          if (r.isNullAt(6)) None else Some(r.getDouble(6))))).toMap
    val stream = MemoryStream[Event]
    // a REAL delay (unlike 6aa's "0 seconds"): event 2 must arrive out
    // of order yet inside the watermark, or the engine's late filter
    // would drop it before the buffer ever sees it
    val q = StreamOps.burstinessMonitorStream(stream.toDS(), watermarkDelay = "10 minutes")
      .writeStream.format("memory").queryName("burst_out").outputMode("append").start()
    try {
      // out-of-order delivery: event 2 (the middle of user 1's window-0
      // run) arrives AFTER event 3 — the buffered multiset must re-derive
      // the replaced gap exactly
      stream.addData(fixture.filter(_.event_id != 2L): _*)
      q.processAllAvailable()
      stream.addData(fixture.filter(_.event_id == 2L): _*)
      q.processAllAvailable()
      // two flushes: advance the watermark past both windows, then let
      // the timeouts fire with it (the 6aa discipline)
      stream.addData(Event(98L, at(2000), 9L, "zz", 1.0))
      q.processAllAvailable()
      stream.addData(Event(99L, at(2001), 9L, "zz", 1.0))
      q.processAllAvailable()
      val got = spark.table("burst_out").collect()
        .map(r => (r.getTimestamp(0).getTime, r.getString(1)) ->
          ((r.getLong(2), r.getLong(3), r.getString(4), r.getDouble(5),
            if (r.isNullAt(6)) None else Some(r.getDouble(6))))).toMap
      // the twin-agreement law, bit for bit: same sealed keys (no type-C
      // / no-gap rows on either face), same exact integer moments, same
      // digit-string Σg², same IEEE doubles
      assert(got == batch, s"stream:\n$got\nbatch:\n$batch")
      // and the fixture's own expectations, so the law can't pass vacuously
      assert(got.keySet == Set((w0Ms, "A"), (w0Ms, "B"), (w0Ms + 600000L, "A")))
      val (nA, sA, _, _, cvA) = got((w0Ms, "A"))
      assert(nA == 3L && sA == 30000000L + 60000000L + 10000123L)
      assert(cvA.exists(_ > 0.0), "mixed gaps must report positive CV²")
      assert(got((w0Ms, "B"))._5.isEmpty, "all-zero gaps report cv2 NULL")
      assert(got((w0Ms + 600000L, "A")) == ((1L, 5000000L, "25000000000000",
        5000000.0, Some(0.0))), "a single gap is exactly CV² = 0")
    } finally q.stop()
  }

  test("EXT-6af linkageGateStream: every emission is the batch best-match over its prior prefix") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.StreamOps.PartRecord
    val recs = Seq(
      PartRecord(1L, "B1", 10, "abc"), PartRecord(2L, "B1", 10, "abd"),
      PartRecord(3L, "B1", 10, "xyz"), PartRecord(4L, "B1", 20, "abc"),
      PartRecord(5L, "B2", 10, "hello"), PartRecord(6L, "B2", 10, "help"))
    def batchRow(prefix: Seq[PartRecord], id: Long) = {
      val dir = TestTables.partDir(spark,
        prefix.map(r => (r.p_partkey, r.p_name, r.p_brand, r.p_size)))
      val r = graft.operators.Linkage.entityResolution(spark, dir).collect()
        .find(_.getLong(0) == id).get
      (r.getLong(3) - 1L,
        if (r.isNullAt(4)) None else Some(r.getLong(4)),
        if (r.isNullAt(5)) None else Some(r.getLong(5)),
        if (r.isNullAt(6)) None else Some(r.getDouble(6)))
    }
    val stream = MemoryStream[PartRecord]
    val q = StreamOps.linkageGateStream(stream.toDS())
      .writeStream.format("memory").queryName("link_out").outputMode("append").start()
    try {
      // one record per microbatch: the pure arrival-order law
      recs.foreach { r => stream.addData(r); q.processAllAvailable() }
      val got = spark.table("link_out").collect()
        .map(r => r.getLong(0) ->
          ((r.getLong(3),
            if (r.isNullAt(4)) None else Some(r.getLong(4)),
            if (r.isNullAt(5)) None else Some(r.getLong(5)),
            if (r.isNullAt(6)) None else Some(r.getDouble(6))))).toMap
      assert(got.keySet == recs.map(_.p_partkey).toSet, "every record emits exactly once")
      // the prior-prefix law: each emission equals the batch x118 row
      // computed over the catalog up to and including that record —
      // exact Levenshtein, sim4 rounding, and tie-break included
      recs.indices.foreach { i =>
        val id = recs(i).p_partkey
        assert(got(id) == batchRow(recs.take(i + 1), id),
          s"record $id must match its prior-prefix batch row")
      }
      // n_prior reads the BLOCK, not the stream: record 4 shares a
      // brand but not a block, so it opened its own
      assert(got(4L) == ((0L, None, None, None)))
    } finally q.stop()
  }

  test("EXT-6af linkageGateStream: a batched replay emits the same decisions as one-by-one") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.StreamOps.PartRecord
    // delivered ALL AT ONCE and deliberately out of id order — the
    // within-microbatch p_partkey sort must reproduce the one-by-one
    // decisions exactly
    val recs = Seq(
      PartRecord(2L, "B1", 10, "abd"), PartRecord(1L, "B1", 10, "abc"),
      PartRecord(3L, "B1", 10, "xyz"), PartRecord(6L, "B2", 10, "help"),
      PartRecord(5L, "B2", 10, "hello"))
    val stream = MemoryStream[PartRecord]
    val q = StreamOps.linkageGateStream(stream.toDS())
      .writeStream.format("memory").queryName("link_out2").outputMode("append").start()
    try {
      stream.addData(recs: _*)
      q.processAllAvailable()
      val got = spark.table("link_out2").collect()
        .map(r => r.getLong(0) ->
          ((r.getLong(3),
            if (r.isNullAt(4)) None else Some(r.getLong(4)),
            if (r.isNullAt(6)) None else Some(r.getDouble(6))))).toMap
      assert(got(1L) == ((0L, None, None)))
      assert(got(2L) == ((1L, Some(1L), Some(0.6667))), "2 matches 1 (lev 1 over len 3)")
      assert(got(3L) == ((2L, Some(1L), Some(0.0))), "sim-0 tie breaks to the lower key")
      assert(got(5L) == ((0L, None, None)))
      assert(got(6L) == ((1L, Some(5L), Some(0.6))), "help vs hello: lev 2 over len 5")
    } finally q.stop()
  }
}
