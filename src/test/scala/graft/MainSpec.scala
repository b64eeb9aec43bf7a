package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.admin.{InMemoryMetadataClient, TopicSpec}

/** The three-phase lifecycle wiring (SURVEY.md §3): argv → config →
  * reconciliation verdict — plus the composed end-to-end run() over
  * InMemoryMetadataClient + MemoryStream (no broker in this build).
  */
class MainSpec extends AnyFunSuite with SparkSuite {

  private val baseArgs = Array(
    "--topics", "app\\..*",
    "--consumer.bootstrap.servers", "src:9092",
    "--consumer.group.id", "g1",
    "--producer.bootstrap.servers", "dst:9092")

  private def clients(src: Seq[TopicSpec], dst: Seq[TopicSpec]) = {
    val bySrv = Map(
      "src:9092" -> new InMemoryMetadataClient(src),
      "dst:9092" -> new InMemoryMetadataClient(dst))
    (props: Map[String, String]) => bySrv(props("bootstrap.servers"))
  }

  test("preflight passes when topics match") {
    val c = clients(
      Seq(TopicSpec("app.events", 4)), Seq(TopicSpec("app.events", 4)))
    val r = Main.preflight(baseArgs, c)
    assert(r.isRight)
    assert(r.toOption.get.topics == "app\\..*")
  }

  test("preflight fails fast on a missing target topic without --create-topics") {
    val c = clients(Seq(TopicSpec("app.events", 4)), Seq.empty)
    val r = Main.preflight(baseArgs, c)
    assert(r.isLeft)
    assert(r.left.toOption.get.exists(_.contains("does not exist")))
  }

  test("preflight with --create-topics creates the topic and succeeds") {
    val dst = new InMemoryMetadataClient(Seq.empty)
    val c = (props: Map[String, String]) =>
      if (props("bootstrap.servers") == "src:9092")
        new InMemoryMetadataClient(Seq(TopicSpec("app.events", 4, Map("retention.ms" -> "100"))))
      else dst
    val r = Main.preflight(baseArgs :+ "--create-topics", c)
    assert(r.isRight)
    assert(dst.snapshot("app.events").partitions == 4)
    assert(dst.snapshot("app.events").config == Map("retention.ms" -> "100"))
  }

  test("preflight rejects invalid args before touching any cluster") {
    var touched = false
    val c = (_: Map[String, String]) => { touched = true; new InMemoryMetadataClient(Seq.empty) }
    val r = Main.preflight(Array("--topics", "t", "--bogus", "x"), c)
    assert(r.isLeft && !touched)
  }

  test("D8 constraint: exactly-once requires txn timeout >= checkpoint interval") {
    val c = clients(Seq.empty, Seq.empty)
    val r = Main.preflight(baseArgs ++ Array(
      "--exactly-once", "--transaction-timeout-ms", "500",
      "--checkpoint-interval-ms", "1000"), c)
    assert(r.isLeft)
  }

  test("progressScope: minted once per checkpoint, stable across resumes, re-minted after a wipe") {
    val ckpt = java.nio.file.Files.createTempDirectory("graft-scope").toString
    val a = Main.progressScope(spark, ckpt)
    val b = Main.progressScope(spark, ckpt)
    assert(a == b, "resuming the same checkpoint must keep the progress keyspace")
    assert(a.nonEmpty)
    // wiping the checkpoint (commit dir included) must mint a FRESH
    // scope — the stale compacted-topic high-water can then never mask
    // the new run's batch ids
    val dir = new java.io.File(s"$ckpt/graft-commits")
    dir.listFiles().foreach(_.delete()); dir.delete()
    val c = Main.progressScope(spark, ckpt)
    assert(c != a, "a wiped checkpoint must get a fresh progress keyspace")
  }

  // ——— end-to-end lifecycle: one run() call composing A → B → C ———

  private def e2eMsg(offset: Long, partition: Int) =
    graft.model.KafkaMessage("app.events", partition, offset,
      new java.sql.Timestamp(1700000000000L + offset),
      s"k$offset".getBytes, s"v$offset".getBytes,
      Array(graft.model.MessageHeader("h", Array[Byte](offset.toByte))))

  private def awaitCond(timeoutMs: Long = 30000)(cond: => Boolean): Boolean = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (!cond && System.currentTimeMillis() < deadline) Thread.sleep(50)
    cond
  }

  test("end-to-end: argv → reconcile (create-topics) → exactly-once stream → rows out") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dst = new InMemoryMetadataClient(Seq.empty)
    val c = (props: Map[String, String]) =>
      if (props("bootstrap.servers") == "src:9092")
        new InMemoryMetadataClient(Seq(TopicSpec("app.events", 2)))
      else dst
    val ckpt = java.nio.file.Files.createTempDirectory("graft-e2e-eo").toString
    E2ESender.clear()
    val stream = MemoryStream[graft.model.KafkaMessage]
    stream.addData(e2eMsg(0, 0), e2eMsg(1, 1))
    val args = baseArgs ++ Array("--create-topics", "--exactly-once")
    // run() blocks in awaitTermination (a continuous stream) — drive it
    // from a thread, exactly like a deployment's main thread
    val outcome = new java.util.concurrent.atomic.AtomicReference[Either[Seq[String], Unit]]()
    val t = new Thread(() => outcome.set(Main.run(args, spark, c, ckpt,
      senderFor = Some(_ => graft.streaming.RecordSenderFactory.uniform(() => new E2ESender)),
      sourceOverride = Some(stream.toDF()))))
    t.start()
    try {
      // phase C delivered the envelope through the exactly-once sink
      assert(awaitCond()(E2ESender.snapshot().length == 2), "rows must reach the sender")
      val sent = E2ESender.snapshot().sortBy(_._1)
      assert(sent.map(_._1) == Seq(1700000000000L, 1700000000001L), "timestamps forwarded")
      assert(sent.map(_._2) == Seq(Some(0), Some(1)), "partitions preserved")
      // phase B really reconciled: the missing target topic was created
      assert(dst.snapshot("app.events").partitions == 2)
      // the exactly-once commit markers landed under the checkpoint
      assert(awaitCond()(new java.io.File(s"$ckpt/graft-commits/batch-0/_batch.committed").exists()),
        "batch commit marker must be written")
    } finally {
      spark.streams.active.foreach(_.stop())
      t.join(30000)
    }
    assert(!t.isAlive, "run() must return once the stream stops")
    assert(outcome.get == Right(()))
  }

  test("end-to-end --backfill: drains what exists, then run() returns on its own") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val c = clients(Seq(TopicSpec("app.events", 2)), Seq(TopicSpec("app.events", 2)))
    val ckpt = java.nio.file.Files.createTempDirectory("graft-e2e-bf").toString
    E2ESender.clear()
    val stream = MemoryStream[graft.model.KafkaMessage]
    stream.addData(e2eMsg(0, 0), e2eMsg(1, 1), e2eMsg(2, 0), e2eMsg(3, 1))
    // NO external stop: AvailableNow must drain and self-terminate,
    // returning control to run() and then to the caller
    val r = Main.run(baseArgs :+ "--backfill", spark, c, ckpt,
      senderFor = Some(_ => graft.streaming.RecordSenderFactory.uniform(() => new E2ESender)),
      sourceOverride = Some(stream.toDF()))
    assert(r == Right(()))
    assert(E2ESender.snapshot().length == 4, "backfill must drain everything that existed")
  }

  test("run() resolves the sender factory once: a restart after a sink failure reuses it") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val c = clients(Seq(TopicSpec("app.events", 2)), Seq(TopicSpec("app.events", 2)))
    val ckpt = java.nio.file.Files.createTempDirectory("graft-e2e-restart").toString
    E2ESender.clear()
    FailOnceSender.armed.set(true)
    val stream = MemoryStream[graft.model.KafkaMessage]
    stream.addData(e2eMsg(0, 0), e2eMsg(1, 1))
    val resolved = new java.util.concurrent.atomic.AtomicInteger(0)
    // --backfill: the restarted drain self-terminates, so run() returns
    // after exactly one restart (the fixed 10 s restart delay included)
    val r = Main.run(baseArgs :+ "--backfill", spark, c, ckpt,
      senderFor = Some { _ =>
        resolved.incrementAndGet()
        graft.streaming.RecordSenderFactory.uniform(() => new FailOnceSender)
      },
      sourceOverride = Some(stream.toDF()))
    assert(r == Right(()))
    assert(!FailOnceSender.armed.get, "the injected sink failure must have fired")
    assert(resolved.get == 1, "every restart must reuse the factory resolved at start")
    assert(E2ESender.snapshot().map(_._1).distinct.sorted ==
      Seq(1700000000000L, 1700000000001L), "the restart must deliver every record")
  }
}

/** JVM-static sink for the end-to-end lifecycle specs (executors share
  * the JVM in local mode); top-level so factory closures don't capture
  * the suite.
  */
class E2ESender extends graft.streaming.RecordSender {
  override def send(topic: String, partition: Option[Int], timestampMs: Long,
      key: Array[Byte], value: Array[Byte],
      headers: Seq[(String, Array[Byte])]): Unit =
    E2ESender.add((timestampMs, partition, topic))
  override def flush(): Unit = ()
}

object E2ESender {
  private val records =
    new java.util.concurrent.ConcurrentLinkedQueue[(Long, Option[Int], String)]()
  def add(r: (Long, Option[Int], String)): Unit = records.add(r)
  def clear(): Unit = records.clear()
  def snapshot(): Seq[(Long, Option[Int], String)] = {
    import scala.jdk.CollectionConverters._
    records.asScala.toSeq
  }
}

/** An [[E2ESender]] whose first commit barrier in the JVM fails while
  * armed — an injected sink failure that ends the query and forces a
  * restart.
  */
class FailOnceSender extends E2ESender {
  override def flush(): Unit =
    if (FailOnceSender.armed.compareAndSet(true, false))
      throw new RuntimeException("injected sink failure")
}

object FailOnceSender {
  val armed = new java.util.concurrent.atomic.AtomicBoolean(false)
}
