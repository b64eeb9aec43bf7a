package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.model.{KafkaMessage, MessageHeader}
import graft.streaming.{Pipeline, RecordSenderFactory}

/** D1–D7 streaming semantics over MemoryStream (no broker, SURVEY.md §5.3). */
class PipelineSpec extends AnyFunSuite with SparkSuite {

  private def msg(
      topic: String, partition: Int, offset: Long,
      key: Array[Byte], value: Array[Byte],
      headers: Array[MessageHeader] = Array.empty) =
    KafkaMessage(topic, partition, offset,
      new java.sql.Timestamp(1700000000000L + offset), key, value, headers)

  private val fixtures = Seq(
    msg("mytopic", 0, 0L, "k1".getBytes, "v1".getBytes,
      Array(MessageHeader("h", Array[Byte](1, 2)), MessageHeader("h", Array.empty))),
    msg("mytopic", 1, 1L, null, "v2".getBytes),
    msg("foo", 0, 2L, "k3".getBytes, null),
    msg("foo", 0, 3L, Array.empty[Byte], Array.empty[Byte]))

  private lazy val cfg = graft.config.ReplicatorConfig.fromArgs(Seq(
    "--topics", "t",
    "--consumer.bootstrap.servers", "s:9092",
    "--consumer.group.id", "g",
    "--producer.bootstrap.servers", "d:9092")).toOption.get

  /** The at-least-once production sink over a MemoryStream, producing
    * into [[CollectingSender]].
    */
  private def startSink(
      stream: MemoryStream[KafkaMessage],
      ckpt: String,
      trigger: Option[Trigger] = None) =
    Pipeline.startAtLeastOnceComplete(spark, cfg, ckpt,
      RecordSenderFactory.uniform(() => new CollectingSender),
      sourceOverride = Some(stream.toDF()), trigger = trigger)

  // each fixture's timestamp encodes its offset, so the sorted sent
  // timestamps are the delivered offsets
  private def sentTimestamps(): Seq[Long] =
    CollectingSender.snapshot().map(_.tsMs).sorted
  private val allTimestamps = fixtures.map(_.timestamp.getTime)

  test("checkpoint resume: no loss across stop/restart (at-least-once)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    CollectingSender.clear()
    val ckpt = Files.createTempDirectory("graft-ckpt").toString
    val stream = MemoryStream[KafkaMessage]
    stream.addData(fixtures.take(2))
    val q1 = startSink(stream, ckpt)
    q1.processAllAvailable(); q1.stop()
    stream.addData(fixtures.drop(2))
    val q2 = startSink(stream, ckpt)
    q2.processAllAvailable(); q2.stop()
    assert(sentTimestamps() == allTimestamps)
  }

  test("backfill trigger drains available data and terminates on its own") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    CollectingSender.clear()
    val stream = MemoryStream[KafkaMessage]
    stream.addData(fixtures: _*)
    // AvailableNow = drain + stop, the --backfill trigger
    val q = startSink(stream, Files.createTempDirectory("graft-bf").toString,
      Some(Trigger.AvailableNow()))
    assert(q.awaitTermination(30000), "backfill query must self-terminate")
    assert(sentTimestamps() == allTimestamps)
  }

  test("backfill → continuous cutover from one checkpoint: no loss, no duplication") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    CollectingSender.clear()
    val ckpt = Files.createTempDirectory("graft-cutover-ckpt").toString
    val stream = MemoryStream[KafkaMessage]
    stream.addData(fixtures.take(2))
    // phase 1 — the --backfill shape: AvailableNow drains what exists,
    // commits the checkpoint, and self-terminates
    val q1 = startSink(stream, ckpt, Some(Trigger.AvailableNow()))
    assert(q1.awaitTermination(30000), "backfill must self-terminate")
    // data that arrives between the drain and the cutover
    stream.addData(fixtures.drop(2))
    // phase 2 — continuous mode (the default processing-time trigger)
    // restarted from the SAME checkpoint
    val q2 = startSink(stream, ckpt)
    q2.processAllAvailable(); q2.stop()
    // every offset exactly once across the mode switch
    assert(sentTimestamps() == allTimestamps)
  }

  test("runWithRestarts consumes an attempt when (re)starting the query itself fails") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    var calls = 0
    Pipeline.runWithRestarts(attempts = 2, delayMs = 10L) { () =>
      calls += 1
      // first (re)start fails synchronously — e.g. broker still down —
      // and must be retried, not escape the restart loop
      if (calls == 1) throw new RuntimeException("broker down")
      val stream = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Int]
      val q = stream.toDF().writeStream.format("memory")
        .queryName("rwr_out").outputMode("append").start()
      new Thread(() => { Thread.sleep(300); q.stop() }).start()
      q
    }
    assert(calls == 2)
  }

  test("partial-batch replay: committed partitions SKIP on retry — no duplicates") {
    import graft.streaming.{KafkaBatchWriter, RecordSenderFactory}
    val commitDir = Files.createTempDirectory("graft-partial").toString
    PartialFailSender.reset()
    val factory = new RecordSenderFactory {
      override def senderFor(pid: Int) = new PartialFailSender(pid)
    }
    val sink = KafkaBatchWriter.exactlyOnceSink(factory, preservePartitioning = true, commitDir)
    // deterministic 2-task batch: 2 fixtures per partition
    val twoPart = spark.createDataset(
      spark.sparkContext.parallelize(fixtures, 2))(graft.model.KafkaMessage.encoder).toDF()
    // attempt 1: partition 1's task dies at its commit barrier AFTER
    // partition 0's task committed — "some tasks flushed, batch marker
    // absent, p0's PARTITION marker present"
    intercept[Exception](sink(twoPart, 5L))
    assert(PartialFailSender.visible().size == 2, "only the flushed task's records are visible")
    // the replay re-runs the batch, but p0's partition marker makes its
    // task a no-op — a committed transaction cannot be revoked by
    // fencing, so WITHOUT the marker these records would duplicate;
    // p1's records land for the first time
    sink(twoPart, 5L)
    assert(PartialFailSender.visible().size == 4,
      "committed partition must not re-produce; failed partition must land")
    // batch marker present => a further replay is a driver-side no-op
    sink(twoPart, 5L)
    assert(PartialFailSender.visible().size == 4)
  }

  test("idempotent foreachBatch skips replayed batches (exactly-once commit)") {
    import spark.implicits._
    val commits = Files.createTempDirectory("graft-commits").toString
    var writes = Vector.empty[(Long, Long)] // (batchId, rowCount)
    val write = Pipeline.idempotentForeachBatch(commits,
      (df, id) => writes :+= (id, df.count()))
    val batch = KafkaMessage.toDF(spark, fixtures)
    write(batch, 7L)
    write(batch, 7L) // replay of the same batch must be a no-op
    write(batch, 8L)
    assert(writes == Vector((7L, 4L), (8L, 4L)))
  }

  test("identity transform preserves the envelope byte-exactly") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    CollectingSender.clear()
    val stream = MemoryStream[KafkaMessage]
    stream.addData(fixtures)
    // the replicator forwards records unchanged from source to sink
    val q = startSink(stream, Files.createTempDirectory("graft-identity").toString)
    try q.processAllAvailable() finally q.stop()
    val sent = CollectingSender.snapshot().sortBy(_.tsMs)
    assert(sent.length == fixtures.length)
    // null key, null value, empty arrays, duplicate and empty-valued headers
    fixtures.zip(sent).foreach { case (exp, act) =>
      assert(act.topic == exp.topic && act.partition.contains(exp.partition))
      assert(java.util.Arrays.equals(act.key, exp.key), s"key of ${exp.offset}")
      assert(java.util.Arrays.equals(act.value, exp.value), s"value of ${exp.offset}")
      assert(act.headers.length == exp.headers.length)
      act.headers.zip(exp.headers).foreach { case ((k, v), e) =>
        assert(k == e.key && java.util.Arrays.equals(v, e.value))
      }
    }
  }

  test("record-complete at-least-once: timestamps forwarded where the built-in sink would re-stamp") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    CollectingSender.clear()
    val stream = MemoryStream[KafkaMessage]
    stream.addData(fixtures.take(2))
    val q = startSink(stream, Files.createTempDirectory("graft-alo").toString)
    try q.processAllAvailable() finally q.stop()
    val sent = CollectingSender.snapshot().sortBy(_.tsMs)
    // D5 in the DEFAULT delivery mode: the record timestamp rides the
    // envelope (reference: KafkaMessageSerializationSchema.java:20)
    assert(sent.map(_.tsMs) == Seq(1700000000000L, 1700000000001L))
    assert(sent.map(_.partition) == Seq(Some(0), Some(1)))
    assert(CollectingSender.flushes() >= 1) // the plain at-least-once barrier
  }

  test("idempotent foreachBatch honors LEGACY flat batch markers from a pre-upgrade commitDir") {
    import spark.implicits._
    val commits = Files.createTempDirectory("graft-legacy").toString
    // a pre-directory-layout deployment left `batch-<id>.committed` FILES
    java.nio.file.Files.createFile(java.nio.file.Paths.get(commits, "batch-3.committed"))
    var writes = Vector.empty[Long]
    val write = Pipeline.idempotentForeachBatch(commits, (_, id) => writes :+= id)
    val batch = KafkaMessage.toDF(spark, fixtures)
    write(batch, 3L) // committed before the upgrade: must NOT re-produce
    write(batch, 4L)
    assert(writes == Vector(4L),
      "restart against an old commitDir must honor flat legacy markers")
  }

  test("max-offsets-per-trigger reaches the Kafka reader; absent leaves it unset") {
    import graft.config.ReplicatorConfig
    // keep the CaseInsensitiveMap interface: its iterator lower-cases
    // keys, so a .toMap would hide the camelCase option names
    def opts(cfg: ReplicatorConfig): scala.collection.Map[String, String] = {
      val r = Pipeline.kafkaSource(spark, cfg)
      val f = r.getClass.getDeclaredField("extraOptions")
      f.setAccessible(true)
      f.get(r).asInstanceOf[scala.collection.Map[String, String]]
    }
    val base = ReplicatorConfig(topics = "t.*",
      consumerProps = Map("bootstrap.servers" -> "h:9092"))
    assert(!opts(base).contains("maxOffsetsPerTrigger"),
      "no cap configured -> the option must not be set at all")
    val capped = opts(base.copy(maxOffsetsPerTrigger = Some(12345L)))
    assert(capped.get("maxOffsetsPerTrigger").contains("12345"))
    // sibling source options survive the rate-limit fold
    assert(capped.get("subscribePattern").contains("t.*"))
    assert(capped.get("kafka.bootstrap.servers").contains("h:9092"))
  }

  test("backfill-first-batch hazard: uncapped drains ALL history into one batch; the cap bounds every microbatch") {
    import graft.config.ReplicatorConfig
    import org.apache.spark.sql.DataFrame
    val dir = Files.createTempDirectory("graft-rate-src").toString
    // "a large topic": 10 uniform files x 100 rows of history
    (0 until 10).foreach { i =>
      spark.range(i * 100L, (i + 1) * 100L).toDF("event_id")
        .coalesce(1).write.mode("append").parquet(dir)
    }
    val schema = spark.read.parquet(dir).schema
    def batchSizes(cfg: ReplicatorConfig): Seq[Long] = {
      val sizes = scala.collection.mutable.ArrayBuffer.empty[Long]
      val q = Pipeline.fileSource(spark, cfg, dir, schema, rowsPerFile = 100L)
        .writeStream
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .option("checkpointLocation",
          Files.createTempDirectory("graft-rate-ck").toString)
        .foreachBatch((df: DataFrame, _: Long) => { sizes += df.count(); () })
        .start()
      q.awaitTermination()
      sizes.toSeq
    }
    val base = ReplicatorConfig(topics = "t.*")
    // without the cap the whole history is ONE microbatch — the day-one
    // backfill hazard Flink's backpressure never exposes users to
    assert(batchSizes(base) == Seq(1000L))
    val capped = batchSizes(base.copy(maxOffsetsPerTrigger = Some(100L)))
    assert(capped.forall(_ <= 100L), s"every microbatch bounded by the cap: $capped")
    assert(capped.sum == 1000L && capped.length == 10)
  }
}

/** A sender that buffers its sends and publishes them only at the
  * `flush()` commit barrier — mimicking a transactional producer's
  * read_committed visibility. The partition-1 instance dies at its
  * barrier on the FIRST batch attempt, after waiting for partition 0 to
  * commit, simulating a batch that fails with some tasks flushed.
  * Top-level on purpose: the factory closure must not capture the spec.
  */
class PartialFailSender(pid: Int) extends graft.streaming.RecordSender {
  private val buf = scala.collection.mutable.ArrayBuffer.empty[(Int, Long)]
  override def send(topic: String, partition: Option[Int], timestampMs: Long,
      key: Array[Byte], value: Array[Byte],
      headers: Seq[(String, Array[Byte])]): Unit =
    buf += ((pid, timestampMs))
  override def flush(): Unit = {
    if (pid == 1 && PartialFailSender.failFirst.compareAndSet(true, false)) {
      // ensure the sibling really committed first (deterministic
      // "some tasks flushed" state), then die uncommitted
      val deadline = System.currentTimeMillis() + 10000
      while (!PartialFailSender.flushedPids.contains(0) &&
        System.currentTimeMillis() < deadline) Thread.sleep(10)
      throw new RuntimeException("task died at the commit barrier")
    }
    buf.foreach(PartialFailSender.committed.add)
    PartialFailSender.flushedPids.add(pid)
  }
}

object PartialFailSender {
  val failFirst = new java.util.concurrent.atomic.AtomicBoolean(true)
  val flushedPids = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
  val committed = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Long)]()
  def reset(): Unit = { failFirst.set(true); flushedPids.clear(); committed.clear() }
  def visible(): Seq[(Int, Long)] = {
    import scala.jdk.CollectionConverters._
    committed.asScala.toSeq
  }
}
