package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.config.ReplicatorConfig

/** A1–A5 + D8 against the FIXTURES.md §4 table. */
class ConfigSpec extends AnyFunSuite {

  private val minimal = Seq(
    "--topics", "^mytopic$",
    "--consumer.bootstrap.servers", "h:9092",
    "--consumer.group.id", "g",
    "--producer.bootstrap.servers", "h2:9092")

  test("minimal valid argv parses with defaults") {
    val cfg = ReplicatorConfig.fromArgs(minimal).toOption.get
    assert(cfg.topics == "^mytopic$")
    assert(cfg.checkpointIntervalMs == 1000L)
    assert(cfg.transactionTimeoutMs == 870000L)
    assert(cfg.preservePartitioning)
    assert(!cfg.exactlyOnce && !cfg.latestOffset && !cfg.createTopics)
    assert(cfg.startingOffsets == "earliest")
  }

  test("each required param omitted fails") {
    ReplicatorConfig.Required.foreach { req =>
      val args = minimal.grouped(2).filterNot(_.head == s"--$req").flatten.toSeq
      val res = ReplicatorConfig.fromArgs(args)
      assert(res.isLeft, s"expected failure without --$req")
      assert(res.left.toOption.get.exists(_.contains(req)))
    }
  }

  test("unknown option rejected") {
    val res = ReplicatorConfig.fromArgs(minimal ++ Seq("--bogus", "x"))
    assert(res.left.toOption.get.exists(_.contains("--bogus")))
  }

  test("Spark-rejected passthrough keys fail validation with the replacement flag named") {
    // these crash KafkaSourceProvider AFTER reconciliation has mutated
    // the target cluster — they must die in the A3 error channel instead
    val res = ReplicatorConfig.fromArgs(
      minimal ++ Seq("--consumer.auto.offset.reset", "latest"))
    assert(res.isLeft)
    assert(res.left.toOption.get.exists(e =>
      e.contains("auto.offset.reset") && e.contains("--latest-offset")))
    val res2 = ReplicatorConfig.fromArgs(
      minimal ++ Seq("--producer.value.serializer", "x.Y"))
    assert(res2.left.toOption.get.exists(_.contains("value.serializer")))
    // arbitrary OTHER passthrough keys still flow (the A5 contract)
    assert(ReplicatorConfig.fromArgs(
      minimal ++ Seq("--consumer.fetch.min.bytes", "1024")).isRight)
    // every replacement flag a message names is itself an accepted option
    val named = ReplicatorConfig.UnsupportedPassthrough.values
      .flatMap("--([a-z0-9.-]+)".r.findAllMatchIn(_).map(_.group(1))).toSet
    named.foreach { opt =>
      assert(!ReplicatorConfig.validate(Map(opt -> "1")).contains(s"unknown parameter: --$opt"),
        s"an unsupported-passthrough message names --$opt, which is not an accepted option")
    }
  }

  test("an invalid --topics regex fails validation, never escapes as an exception") {
    val res = ReplicatorConfig.fromArgs(
      minimal.map(a => if (a == "^mytopic$") "events-[" else a))
    assert(res.isLeft)
    assert(res.left.toOption.get.exists(_.contains("valid regex")))
  }

  test("quote substitution << >> in JAAS strings") {
    val jaas = "org.apache.kafka.common.security.plain.PlainLoginModule required username=<<user>> password=<<pw>>;"
    val args = minimal ++ Seq("--consumer.sasl.jaas.config", jaas)
    val cfg = ReplicatorConfig.fromArgs(args).toOption.get
    assert(cfg.consumerProps("sasl.jaas.config") ==
      "org.apache.kafka.common.security.plain.PlainLoginModule required username=\"user\" password=\"pw\";")
  }

  test("malformed numeric options fail through Either, not with an exception") {
    // bare flag: parseArgs maps it to "true"
    val bare = ReplicatorConfig.fromArgs(minimal ++ Seq("--checkpoint-interval-ms"))
    assert(bare.isLeft && bare.left.exists(_.exists(_.contains("integer value"))))
    val junk = ReplicatorConfig.fromArgs(minimal ++ Seq("--transaction-timeout-ms", "5s"))
    assert(junk.isLeft && junk.left.exists(_.exists(_.contains("'5s'"))))
  }

  test("--max-offsets-per-trigger: absent -> None, value parses, non-positive and bare rejected") {
    assert(ReplicatorConfig.fromArgs(minimal).toOption.get.maxOffsetsPerTrigger.isEmpty)
    val set = ReplicatorConfig.fromArgs(minimal ++ Seq("--max-offsets-per-trigger", "50000"))
    assert(set.toOption.get.maxOffsetsPerTrigger.contains(50000L))
    // a zero/negative cap would stall the stream; a bare flag parses as
    // the value "true" — all three fail through the Either channel
    Seq(Seq("--max-offsets-per-trigger", "0"),
      Seq("--max-offsets-per-trigger", "-5"),
      Seq("--max-offsets-per-trigger")).foreach { extra =>
      val res = ReplicatorConfig.fromArgs(minimal ++ extra)
      assert(res.isLeft && res.left.exists(_.exists(_.contains("positive integer"))),
        s"expected rejection for $extra")
    }
  }

  test("effectiveProducerProps injects transaction.timeout.ms; explicit passthrough wins") {
    val cfg = ReplicatorConfig.fromArgs(minimal).toOption.get
    assert(cfg.effectiveProducerProps("transaction.timeout.ms") == "870000")
    val explicit = ReplicatorConfig.fromArgs(
      minimal ++ Seq("--producer.transaction.timeout.ms", "123")).toOption.get
    assert(explicit.effectiveProducerProps("transaction.timeout.ms") == "123")
  }

  test("D8: exactly-once with txn timeout below checkpoint interval fails") {
    val args = minimal ++ Seq("--exactly-once",
      "--transaction-timeout-ms", "500", "--checkpoint-interval-ms", "1000")
    assert(ReplicatorConfig.fromArgs(args).isLeft)
  }

  test("D8 passes when timeout covers the interval") {
    val args = minimal ++ Seq("--exactly-once",
      "--transaction-timeout-ms", "2000", "--checkpoint-interval-ms", "1000")
    val cfg = ReplicatorConfig.fromArgs(args).toOption.get
    assert(cfg.exactlyOnce && cfg.transactionTimeoutMs == 2000L)
  }

  test("prefix routing: consumer props never leak into producer props") {
    val args = minimal ++ Seq(
      "--consumer.security.protocol", "PLAINTEXT",
      "--producer.sasl.mechanism", "PLAIN")
    val cfg = ReplicatorConfig.fromArgs(args).toOption.get
    assert(cfg.consumerProps("security.protocol") == "PLAINTEXT")
    assert(!cfg.producerProps.contains("security.protocol"))
    assert(cfg.producerProps("sasl.mechanism") == "PLAIN")
    assert(!cfg.consumerProps.contains("sasl.mechanism"))
  }

  test("--backfill parses and defaults off") {
    assert(!ReplicatorConfig.fromArgs(minimal).toOption.get.backfill)
    assert(ReplicatorConfig.fromArgs(minimal :+ "--backfill").toOption.get.backfill)
  }

  test("--producer.transactional.id without --exactly-once is rejected (shared-id fencing)") {
    val res = ReplicatorConfig.fromArgs(
      minimal ++ Seq("--producer.transactional.id", "myrepl"))
    assert(res.isLeft)
    assert(res.left.toOption.get.exists(_.contains("transactional.id")))
    // with --exactly-once it is the per-partition fencing-id base: legal
    assert(ReplicatorConfig.fromArgs(
      minimal ++ Seq("--exactly-once", "--producer.transactional.id", "myrepl")).isRight)
  }

  test("--backfill with --exactly-once is rejected, never silently downgraded") {
    val res = ReplicatorConfig.fromArgs(minimal ++ Seq("--backfill", "--exactly-once"))
    assert(res.isLeft)
    assert(res.left.toOption.get.exists(m =>
      m.contains("--backfill") && m.contains("--exactly-once")))
  }

  test("bare flags and latest-offset") {
    val cfg = ReplicatorConfig.fromArgs(minimal ++ Seq("--latest-offset",
      "--no-preserve-partitioning")).toOption.get
    assert(cfg.startingOffsets == "latest")
    assert(!cfg.preservePartitioning)
  }
}
