package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.model.{KafkaMessage, MessageHeader}
import graft.streaming.{KafkaBatchWriter, OffsetCommittingSender, RecordSender, RecordSenderFactory}

/** The record-complete sink path (SURVEY.md §7.4 hard parts 1+2):
  * timestamp preservation and exactly-once batch commit, asserted through
  * an in-memory sender.
  */
class KafkaBatchWriterSpec extends AnyFunSuite with SparkSuite {

  private def newSender(): RecordSenderFactory = {
    CollectingSender.clear()
    RecordSenderFactory.uniform(() => new CollectingSender)
  }

  private def msg(offset: Long, partition: Int, tsMs: Long) =
    KafkaMessage("t", partition, offset, new java.sql.Timestamp(tsMs),
      s"k$offset".getBytes, s"v$offset".getBytes,
      Array(MessageHeader("h", Array[Byte](1)), MessageHeader("h", Array.empty)))

  test("write preserves the full envelope including the record timestamp") {
    val msgs = Seq(msg(0, 3, 1700000000123L), msg(1, 5, 1700000000456L))
    KafkaBatchWriter.write(newSender(), preservePartitioning = true)(
      KafkaMessage.toDF(spark, msgs), 0L)
    val sent = CollectingSender.snapshot().sortBy(_.tsMs)
    assert(sent.length == 2)
    assert(sent(0).tsMs == 1700000000123L) // D5: timestamp forwarded, not dropped
    assert(sent(0).partition.contains(3))
    assert(new String(sent(0).key) == "k0" && new String(sent(0).value) == "v0")
    assert(sent(0).headers.map(_._1) == Seq("h", "h")) // dup keys, order kept
    assert(CollectingSender.flushes() >= 1) // commit barrier ran
  }

  test("no-preserve-partitioning delegates partition choice to the producer") {
    KafkaBatchWriter.write(newSender(), preservePartitioning = false)(
      KafkaMessage.toDF(spark, Seq(msg(0, 3, 1L))), 0L)
    assert(CollectingSender.snapshot().head.partition.isEmpty)
  }

  /** The messages of every throwable in `e`'s cause chain: a task's
    * exception reaches the driver inside Spark's job-abort wrapper.
    */
  private def causeMessages(e: Throwable): Seq[String] =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).flatMap(t => Option(t.getMessage)).toSeq

  test("timestamps are forwarded under spark.sql.datetime.java8API.enabled") {
    // the external Row's timestamp becomes java.time.Instant under this
    // conf; the sink reads the epoch-µs long, so the conf must not matter
    val key = "spark.sql.datetime.java8API.enabled"
    val before = spark.conf.getOption(key)
    spark.conf.set(key, "true")
    try KafkaBatchWriter.write(newSender(), preservePartitioning = true)(
      KafkaMessage.toDF(spark, Seq(msg(0, 3, 1700000000123L), msg(1, 5, 1700000000456L))), 0L)
    finally before.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    assert(CollectingSender.snapshot().map(_.tsMs).sorted == Seq(1700000000123L, 1700000000456L))
  }

  test("a null timestamp is refused in both partition modes, naming the column") {
    import org.apache.spark.sql.functions.lit
    val df = KafkaMessage.toDF(spark, Seq(msg(0, 3, 10L)))
      .withColumn("timestamp", lit(null).cast("timestamp"))
    for (preserve <- Seq(true, false)) {
      val e = intercept[Exception](
        KafkaBatchWriter.write(newSender(), preservePartitioning = preserve)(df, 0L))
      assert(causeMessages(e).exists(_.contains("`timestamp` is null")), causeMessages(e))
      assert(CollectingSender.flushes() == 0, "a refused batch must not reach the commit barrier")
    }
  }

  test("a null partition is refused under preservePartitioning and routed by the producer without it") {
    import org.apache.spark.sql.functions.lit
    val df = KafkaMessage.toDF(spark, Seq(msg(0, 3, 10L)))
      .withColumn("partition", lit(null).cast("int"))
    val e = intercept[Exception](
      KafkaBatchWriter.write(newSender(), preservePartitioning = true)(df, 0L))
    assert(causeMessages(e).exists(_.contains("`partition` is null")), causeMessages(e))
    KafkaBatchWriter.write(newSender(), preservePartitioning = false)(df, 0L)
    val sent = CollectingSender.snapshot()
    assert(sent.map(_.partition) == Seq(None) && sent.map(_.tsMs) == Seq(10L))
  }

  test("pre-epoch timestamps floor to the millisecond: -1 ms (NO_TIMESTAMP) and -1500 us") {
    import org.apache.spark.sql.functions.{col, lit, timestamp_micros, when}
    val df = KafkaMessage.toDF(spark, Seq(msg(0, 0, 0L), msg(1, 0, 0L)))
      .withColumn("timestamp", timestamp_micros(
        when(col("offset") === 0, lit(-1000L)).otherwise(lit(-1500L))))
    KafkaBatchWriter.write(newSender(), preservePartitioning = true)(df, 0L)
    val sent = CollectingSender.snapshot().sortBy(s => new String(s.key))
    assert(sent.map(_.tsMs) == Seq(-1L, -2L))
  }

  test("the sink is one SQL execution and one job over the executed plan, with no Row deserializer") {
    import org.apache.spark.sql.execution.{DeserializeToObjectExec, QueryExecution}
    import org.apache.spark.sql.util.QueryExecutionListener
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, QueryExecution)]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        seen.add((funcName, qe))
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
        seen.add((funcName, qe))
    }
    val df = KafkaMessage.toDF(spark, Seq(msg(0, 3, 10L), msg(1, 5, 20L)))
    spark.listenerManager.register(listener)
    // `during` closes the block with a sync job on the same listener
    // bus, so the execution-end event has been delivered when it returns
    val (_, activity) =
      try SparkActivity.during(spark) {
        KafkaBatchWriter.write(newSender(), preservePartitioning = true)(df, 0L)
      } finally spark.listenerManager.unregister(listener)
    import scala.jdk.CollectionConverters._
    val executions = seen.asScala.toSeq
    assert(executions.map(_._1) == Seq("foreachPartition"))
    val plan = executions.head._2.executedPlan
    assert(plan.collectFirst { case d: DeserializeToObjectExec => d }.isEmpty, plan.treeString)
    assert(activity.jobs == 1 && activity.sqlCallSites.length == 1, activity)
    assert(CollectingSender.snapshot().length == 2)
  }

  test("exactlyOnceSink skips a replayed batch id end-to-end") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val commitDir = Files.createTempDirectory("graft-eo").toString
    val sink = KafkaBatchWriter.exactlyOnceSink(newSender(), preservePartitioning = true, commitDir)
    val df = KafkaMessage.toDF(spark, Seq(msg(0, 0, 10L), msg(1, 0, 20L)))
    sink(df, 42L)
    sink(df, 42L) // replay after simulated failure: must not double-produce
    sink(df, 43L)
    assert(CollectingSender.snapshot().length == 4) // 2 batches x 2 records
  }

  test("streaming end-to-end: MemoryStream through foreachBatch sender") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val commitDir = Files.createTempDirectory("graft-eo2").toString
    CollectingSender.clear()
    val stream = MemoryStream[KafkaMessage]
    stream.addData(msg(0, 1, 100L), msg(1, 2, 200L))
    val q = stream.toDF().writeStream
      .foreachBatch(KafkaBatchWriter.exactlyOnceSink(
        RecordSenderFactory.uniform(() => new CollectingSender),
        preservePartitioning = true, commitDir))
      .start()
    try q.processAllAvailable() finally q.stop()
    val sent = CollectingSender.snapshot().sortBy(_.tsMs)
    assert(sent.map(_.tsMs) == Seq(100L, 200L))
    assert(sent.map(_.partition) == Seq(Some(1), Some(2)))
  }

  test("PooledSenderFactory: one producer per partition across batches; failure evicts") {
    import graft.streaming.{PooledSenderFactory, RecordSender, RecordSenderFactory}
    class Probe extends RecordSender {
      var flushes = 0
      var closed = false
      var failNextSend = false
      override def send(topic: String, partition: Option[Int], timestampMs: Long,
          key: Array[Byte], value: Array[Byte],
          headers: Seq[(String, Array[Byte])]): Unit =
        if (failNextSend) throw new RuntimeException("broker hiccup")
      override def flush(): Unit = flushes += 1
      override def close(): Unit = closed = true
    }
    val made = scala.collection.mutable.ArrayBuffer.empty[Probe]
    val pool = new PooledSenderFactory("spec-pool",
      RecordSenderFactory.uniform(() => { val p = new Probe; made += p; p }))
    try {
      // two "batches" on the same partition reuse ONE underlying sender
      val b1 = pool.senderFor(0)
      b1.send("t", None, 1L, null, null, Nil); b1.flush(); b1.close()
      val b2 = pool.senderFor(0)
      b2.flush(); b2.close()
      assert(made.length == 1 && made.head.flushes == 2)
      assert(!made.head.closed, "pooled sender must survive task-end close()")
      // a distinct partition gets its own pooled sender
      pool.senderFor(1).close()
      assert(made.length == 2)
      // a failure marks the wrapper: its close() evicts AND closes the
      // underlying sender, and the next batch builds a fresh one
      made.head.failNextSend = true
      val b3 = pool.senderFor(0)
      intercept[RuntimeException](b3.send("t", None, 2L, null, null, Nil))
      b3.close()
      assert(made.head.closed, "failed sender must be closed on eviction")
      pool.senderFor(0).close()
      assert(made.length == 3, "eviction must force a fresh underlying sender")
    } finally PooledSenderFactory.shutdown("spec-pool")
  }

  test("PooledSenderFactory: close() with unflushed sends evicts — a task that died outside the sender must not bequeath its open transaction") {
    import graft.streaming.{PooledSenderFactory, RecordSender, RecordSenderFactory}
    class Probe extends RecordSender {
      var closed = false
      override def send(topic: String, partition: Option[Int], timestampMs: Long,
          key: Array[Byte], value: Array[Byte],
          headers: Seq[(String, Array[Byte])]): Unit = ()
      override def flush(): Unit = ()
      override def close(): Unit = closed = true
    }
    val made = scala.collection.mutable.ArrayBuffer.empty[Probe]
    val pool = new PooledSenderFactory("spec-pool-dirty",
      RecordSenderFactory.uniform(() => { val p = new Probe; made += p; p }))
    try {
      // the failure shape ADVICE names: sends succeeded, then the task
      // died OUTSIDE the sender (row-decode NPE, task kill) — close()
      // arrives with sends-since-last-flush > 0 and must evict + close,
      // or a same-executor retry appends into the SAME open transaction
      val b1 = pool.senderFor(0)
      b1.send("t", None, 1L, null, null, Nil)
      b1.close() // no flush: dirty
      assert(made.head.closed, "dirty close must abort/close the pooled sender")
      // the retry gets a FRESH producer
      val b2 = pool.senderFor(0)
      assert(made.length == 2, "dirty close must evict so the retry gets a fresh producer")
      // clean attempt (send → flush → close) keeps the producer pooled
      b2.send("t", None, 2L, null, null, Nil); b2.flush(); b2.close()
      assert(!made(1).closed, "clean close must keep the producer pooled")
      pool.senderFor(0).close() // flush-less but send-less: clean too
      assert(made.length == 2, "clean close must not evict")
    } finally PooledSenderFactory.shutdown("spec-pool-dirty")
  }

  test("pooled wrapper preserves the OffsetCommittingSender capability") {
    import graft.streaming.PooledSenderFactory
    TxnSender.clear()
    val pool = new PooledSenderFactory("spec-pool-oc",
      RecordSenderFactory.uniform(() => new TxnSender))
    try {
      val s = pool.senderFor(0)
      assert(s.isInstanceOf[OffsetCommittingSender],
        "write() pattern-matches the sender it is handed; pooling must not erase the trait")
      val oc = s.asInstanceOf[OffsetCommittingSender]
      oc.send("t", None, 1L, null, null, Nil)
      oc.stageProgress(5L, 0)
      oc.flush()
      oc.close()
      assert(TxnSender.progressCommittedGlobal(5L, 0), "staged progress commits with the flush")
      // stageProgress without a flush counts as dirty: evict on close
      val s2 = pool.senderFor(0).asInstanceOf[OffsetCommittingSender]
      s2.stageProgress(6L, 0)
      s2.close()
      assert(!TxnSender.progressCommittedGlobal(6L, 0), "aborted progress must not be visible")
      assert(TxnSender.closedCount() == 1, "dirty stageProgress must evict + close")
    } finally PooledSenderFactory.shutdown("spec-pool-oc")
  }

  test("offsets-in-transaction: a crash between transaction commit and marker write does NOT duplicate on replay") {
    TxnSender.clear()
    val factory = RecordSenderFactory.uniform(() => new TxnSender)
    val df = KafkaMessage.toDF(spark, Seq(msg(0, 0, 10L), msg(1, 1, 20L)))
    // attempt 1: full write with markers landing in dirA
    val dirA = Files.createTempDirectory("graft-oc-a").toString
    KafkaBatchWriter.write(factory, preservePartitioning = true, Some(dirA))(df, 7L)
    assert(TxnSender.visibleCount() == 2)
    // simulate the crash window: the transaction COMMITTED (progress is
    // in the "broker") but the markers never made it — replay against a
    // commit dir with no markers for batch 7
    val dirB = Files.createTempDirectory("graft-oc-b").toString
    KafkaBatchWriter.write(factory, preservePartitioning = true, Some(dirB))(df, 7L)
    assert(TxnSender.visibleCount() == 2,
      "zero duplicates: committed progress inside the transaction must gate the replay")
    // and the missing marker is healed so the NEXT replay skips on the fast path
    val healed = new java.io.File(dirB, "batch-7").listFiles()
    assert(healed != null && healed.exists(_.getName.endsWith(".committed")),
      "replay must heal the missing cache marker")
  }

  test("at-least-once write never touches the progress protocol on a capability sender") {
    // the production binding carries OffsetCommittingSender
    // unconditionally, but a NON-transactional instance throws on
    // stageProgress — the at-least-once path (no commitDir) must never
    // call into the capability, or every task would fail and the
    // record-complete default-mode pipeline could not run at all
    class AloProbe extends OffsetCommittingSender {
      override def send(topic: String, partition: Option[Int], timestampMs: Long,
          key: Array[Byte], value: Array[Byte],
          headers: Seq[(String, Array[Byte])]): Unit = ()
      override def flush(): Unit = ()
      override def stageProgress(batchId: Long, partitionId: Int): Unit =
        throw new IllegalStateException("stageProgress requires a transactional.id")
      override def progressCommitted(batchId: Long, partitionId: Int): Boolean =
        throw new IllegalStateException("no transaction to consult")
    }
    KafkaBatchWriter.write(
      RecordSenderFactory.uniform(() => new AloProbe),
      preservePartitioning = true)( // commitDir = None: the ALO path
      KafkaMessage.toDF(spark, Seq(msg(0, 0, 10L), msg(1, 1, 20L))), 0L)
    // reaching here IS the assertion: no capability call was made
  }

  test("without the capability the marker window remains (the documented residual), proving the capability is what closes it") {
    CollectingSender.clear()
    val factory = RecordSenderFactory.uniform(() => new CollectingSender)
    val df = KafkaMessage.toDF(spark, Seq(msg(0, 0, 10L)))
    val dirA = Files.createTempDirectory("graft-plain-a").toString
    KafkaBatchWriter.write(factory, preservePartitioning = true, Some(dirA))(df, 7L)
    val dirB = Files.createTempDirectory("graft-plain-b").toString
    KafkaBatchWriter.write(factory, preservePartitioning = true, Some(dirB))(df, 7L)
    assert(CollectingSender.snapshot().length == 2,
      "a plain sender cannot distinguish a lost marker from an uncommitted batch")
  }

}

/** In-memory transactional [[OffsetCommittingSender]]: sends buffer in an
  * open "transaction"; `flush()` commits them (records become visible and
  * staged progress lands in the JVM-global "broker"); `close()` with an
  * open transaction ABORTS (buffer + staged progress discarded) — the
  * same contract as the deploy-time KafkaProducerRecordSender. Progress
  * is keyed by batch id only (the spec's frame has one sink), standing in
  * for the compacted (sink, partition)→batch topic.
  */
class TxnSender extends OffsetCommittingSender {
  private val buffer = scala.collection.mutable.ArrayBuffer.empty[Sent]
  private var staged: Option[(Long, Int)] = None
  override def send(topic: String, partition: Option[Int], timestampMs: Long,
      key: Array[Byte], value: Array[Byte],
      headers: Seq[(String, Array[Byte])]): Unit =
    buffer.synchronized { buffer += Sent(topic, partition, timestampMs, key, value, headers) }
  override def stageProgress(batchId: Long, partitionId: Int): Unit =
    buffer.synchronized { staged = Some((batchId, partitionId)) }
  override def progressCommitted(batchId: Long, partitionId: Int): Boolean =
    TxnSender.progressCommittedGlobal(batchId, partitionId)
  override def flush(): Unit = buffer.synchronized {
    buffer.foreach(TxnSender.commit)
    staged.foreach(TxnSender.commitProgress)
    buffer.clear(); staged = None
  }
  override def close(): Unit = buffer.synchronized {
    buffer.clear(); staged = None // abort: nothing becomes visible
    TxnSender.bumpClosed()
  }
}

object TxnSender {
  private val visible = new java.util.concurrent.ConcurrentLinkedQueue[Sent]()
  private val progress = java.util.concurrent.ConcurrentHashMap.newKeySet[(Long, Int)]()
  private val closed = new java.util.concurrent.atomic.AtomicInteger(0)
  def commit(s: Sent): Unit = visible.add(s)
  def commitProgress(bp: (Long, Int)): Unit = progress.add(bp)
  def progressCommittedGlobal(b: Long, p: Int): Boolean = progress.contains((b, p))
  def visibleCount(): Int = visible.size()
  def bumpClosed(): Unit = closed.incrementAndGet()
  def closedCount(): Int = closed.get()
  def clear(): Unit = { visible.clear(); progress.clear(); closed.set(0) }
}

/** Records land in a JVM-static sink (executors share the JVM in local
  * mode). flush() marks the commit barrier. Top-level on purpose: the
  * sender factory closure must not capture the spec instance.
  */
case class Sent(topic: String, partition: Option[Int], tsMs: Long,
    key: Array[Byte], value: Array[Byte], headers: Seq[(String, Array[Byte])])

class CollectingSender extends RecordSender {
  override def send(topic: String, partition: Option[Int], timestampMs: Long,
      key: Array[Byte], value: Array[Byte],
      headers: Seq[(String, Array[Byte])]): Unit =
    CollectingSender.add(Sent(topic, partition, timestampMs, key, value, headers))
  override def flush(): Unit = CollectingSender.bumpFlush()
}

object CollectingSender {
  private val records = new java.util.concurrent.ConcurrentLinkedQueue[Sent]()
  private val nFlush = new java.util.concurrent.atomic.AtomicInteger(0)
  def add(s: Sent): Unit = records.add(s)
  def bumpFlush(): Unit = nFlush.incrementAndGet()
  def flushes(): Int = nFlush.get()
  def clear(): Unit = { records.clear(); nFlush.set(0) }
  def snapshot(): Seq[Sent] = {
    import scala.jdk.CollectionConverters._
    records.asScala.toSeq
  }
}
