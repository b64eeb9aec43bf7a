package graft.config

/** CLI/config surface of the replicator (SURVEY.md §2.3, A1–A5, D8).
  *
  * Same parameter grammar as the reference (reference:
  * FlinkKafkaReplicator.java:45-68): a `--topics <regex>` pattern, eight
  * options, and arbitrary `consumer.*` / `producer.*` passthrough
  * properties routed to the respective Kafka client.
  */
final case class ReplicatorConfig(
    topics: String,
    createTopics: Boolean = false,
    createPartitions: Boolean = false,
    syncProperties: Boolean = false,
    preservePartitioning: Boolean = true,
    exactlyOnce: Boolean = false,
    latestOffset: Boolean = false,
    backfill: Boolean = false,
    checkpointIntervalMs: Long = ReplicatorConfig.DefaultCheckpointIntervalMs,
    transactionTimeoutMs: Long = ReplicatorConfig.DefaultTransactionTimeoutMs,
    maxOffsetsPerTrigger: Option[Long] = None,
    consumerProps: Map[String, String] = Map.empty,
    producerProps: Map[String, String] = Map.empty) {

  def startingOffsets: String = if (latestOffset) "latest" else "earliest"

  /** Producer props with `transaction.timeout.ms` injected from the
    * validated option — the reference does this unconditionally
    * (reference: FlinkKafkaReplicator.java:106); without it the D8
    * constraint validates a value the producer never receives. An
    * explicit `--producer.transaction.timeout.ms` passthrough wins.
    */
  def effectiveProducerProps: Map[String, String] =
    Map("transaction.timeout.ms" -> transactionTimeoutMs.toString) ++ producerProps
}

object ReplicatorConfig {
  /** reference: FlinkKafkaReplicator.java:42 */
  val DefaultCheckpointIntervalMs = 1000L
  /** reference: FlinkKafkaReplicator.java:43 */
  val DefaultTransactionTimeoutMs = 870000L
  /** reference: FlinkKafkaReplicator.java:41 */
  val DefaultReplicationFactor: Short = 1

  /** The eight options (reference: FlinkKafkaReplicator.java:45-56), in
    * kebab-case as printed by usage (reference: :58-61).
    */
  val BooleanOptions: Set[String] = Set(
    "create-topics", "create-partitions", "sync-properties",
    "no-preserve-partitioning", "exactly-once", "latest-offset",
    // extension beyond the reference's eight: drain-and-stop replication
    "backfill")
  val IntOptions: Set[String] = Set(
    "checkpoint-interval-ms", "transaction-timeout-ms",
    // extension beyond the reference's options: ingestion rate cap.
    // Flink gives the reference natural backpressure (records flow at
    // sink speed; reference: FlinkKafkaReplicator.java:110-136); Spark
    // microbatching does NOT — a user starting from `earliest` on a
    // large topic gets ONE unbounded first microbatch unless the source
    // is capped. Routed to the Kafka source's maxOffsetsPerTrigger.
    "max-offsets-per-trigger")
  val Required: Seq[String] = Seq(
    "topics", "consumer.bootstrap.servers", "consumer.group.id",
    "producer.bootstrap.servers")

  /** A1 — quote substitution: `<<`/`>>` → `"` in every arg, so users can
    * pass quoted JAAS strings through shells (reference:
    * FlinkKafkaReplicator.java:73-74).
    */
  def preprocessArgs(args: Seq[String]): Seq[String] =
    args.map(_.replace("<<", "\"").replace(">>", "\""))

  /** A2 — `--key value` pairs and bare `--flag`s to a string map
    * (reference: FlinkKafkaReplicator.java:76, ParameterTool semantics:
    * a `--key` followed by another `--key` is a bare flag).
    */
  def parseArgs(args: Seq[String]): Either[String, Map[String, String]] = {
    val out = Map.newBuilder[String, String]
    var i = 0
    val a = args.toIndexedSeq
    while (i < a.length) {
      if (!a(i).startsWith("--"))
        return Left(s"unexpected argument: ${a(i)}")
      val k = a(i).drop(2)
      if (k.isEmpty) return Left("empty parameter name")
      if (i + 1 < a.length && !a(i + 1).startsWith("--")) {
        out += k -> a(i + 1); i += 2
      } else {
        out += k -> "true"; i += 1
      }
    }
    Right(out.result())
  }

  /** Passthrough keys Spark's Kafka connector REJECTS at stream start
    * (KafkaSourceProvider validates and throws) — each with the flag or
    * behavior that replaces it. Catching them here turns an opaque
    * post-reconciliation crash (the admin side effects are already
    * applied by then) into an A3 validation error.
    */
  private[graft] val UnsupportedPassthrough: Map[String, String] = Map(
    "consumer.auto.offset.reset" -> "earliest is the default; use --latest-offset for latest",
    "consumer.enable.auto.commit" -> "Spark manages offsets via the checkpoint",
    "consumer.key.deserializer" -> "the source always reads raw bytes",
    "consumer.value.deserializer" -> "the source always reads raw bytes",
    "consumer.interceptor.classes" -> "not supported by Spark's Kafka source",
    "producer.key.serializer" -> "the sink always writes raw bytes",
    "producer.value.serializer" -> "the sink always writes raw bytes")

  /** A3 — reject unknown params; require the four mandatory ones
    * (reference: FlinkKafkaReplicator.java:139-152, required list :63-68).
    */
  def validate(params: Map[String, String]): Seq[String] = {
    val known = BooleanOptions ++ IntOptions + "topics"
    val unknown = params.keys.filterNot { k =>
      known(k) || k.startsWith("consumer.") || k.startsWith("producer.")
    }.toSeq.sorted.map(k => s"unknown parameter: --$k")
    val missing = Required.filterNot(params.contains)
      .map(k => s"missing required parameter: --$k")
    val unsupported = params.keys.filter(UnsupportedPassthrough.contains)
      .toSeq.sorted.map(k => s"unsupported passthrough --$k: ${UnsupportedPassthrough(k)}")
    // an invalid regex must surface through THIS error channel, not as a
    // PatternSyntaxException mid-reconciliation
    val badRegex = params.get("topics").toSeq.flatMap { t =>
      try { java.util.regex.Pattern.compile(t); Nil }
      catch {
        case e: java.util.regex.PatternSyntaxException =>
          Seq(s"--topics is not a valid regex: ${e.getDescription}")
      }
    }
    unknown ++ missing ++ unsupported ++ badRegex
  }

  /** A5 — prefix-scoped property routing (reference:
    * FlinkKafkaReplicator.java:168-177): strip `consumer.`/`producer.` and
    * hand each client its own property set; arbitrary configs pass through.
    */
  def propsWithPrefix(params: Map[String, String], prefix: String): Map[String, String] =
    params.collect { case (k, v) if k.startsWith(prefix) => k.stripPrefix(prefix) -> v }

  /** Full pipeline: A1 → A2 → A3 → options → D8 constraint. */
  def fromArgs(args: Seq[String]): Either[Seq[String], ReplicatorConfig] = {
    parseArgs(preprocessArgs(args)) match {
      case Left(e) => Left(Seq(e))
      case Right(params) =>
        val errs = validate(params)
        if (errs.nonEmpty) return Left(errs)
        def flag(k: String) = params.get(k).exists(_ == "true")
        // numeric options must fail through the Either channel, not with
        // a NumberFormatException: a bare `--checkpoint-interval-ms`
        // parses as the flag value "true"
        def long(k: String, d: Long): Either[String, Long] = params.get(k) match {
          case None => Right(d)
          case Some(s) => s.toLongOption.toRight(s"--$k requires an integer value, got '$s'")
        }
        val ckptE = long("checkpoint-interval-ms", DefaultCheckpointIntervalMs)
        val txnE = long("transaction-timeout-ms", DefaultTransactionTimeoutMs)
        // optional positive long: absent -> None; present -> must parse
        // and be >= 1 (a zero/negative cap would stall the stream)
        val rateE: Either[String, Option[Long]] = params.get("max-offsets-per-trigger") match {
          case None => Right(None)
          case Some(s) => s.toLongOption.filter(_ >= 1L).map(Some(_))
            .toRight(s"--max-offsets-per-trigger requires a positive integer value, got '$s'")
        }
        val numErrs = Seq(ckptE, txnE, rateE).collect { case Left(e) => e }
        if (numErrs.nonEmpty) return Left(numErrs)
        val cfg = ReplicatorConfig(
          topics = params("topics"),
          createTopics = flag("create-topics"),
          createPartitions = flag("create-partitions"),
          syncProperties = flag("sync-properties"),
          preservePartitioning = !flag("no-preserve-partitioning"),
          exactlyOnce = flag("exactly-once"),
          latestOffset = flag("latest-offset"),
          backfill = flag("backfill"),
          checkpointIntervalMs = ckptE.toOption.get,
          transactionTimeoutMs = txnE.toOption.get,
          maxOffsetsPerTrigger = rateE.toOption.get,
          consumerProps = propsWithPrefix(params, "consumer."),
          producerProps = propsWithPrefix(params, "producer."))
        // D8 — txn timeout must cover at least one checkpoint interval
        // (reference: FlinkKafkaReplicator.java:92-96) — and the backfill
        // drain has no transactional path (it uses the at-least-once
        // AvailableNow sink), so combining it with --exactly-once would be
        // a silent delivery-guarantee downgrade: reject, don't downgrade.
        val crossErrs = Seq(
          Option.when(cfg.exactlyOnce && cfg.transactionTimeoutMs < cfg.checkpointIntervalMs)(
            "transaction-timeout-ms must be >= checkpoint-interval-ms when --exactly-once is set"),
          Option.when(cfg.backfill && cfg.exactlyOnce)(
            "--backfill cannot be combined with --exactly-once: the backfill drain " +
              "uses the at-least-once sink (run the backfill at-least-once, " +
              "then restart with --exactly-once from the same checkpoint)"),
          // a single shared transactional.id across all sink tasks would
          // make every task's initTransactions() fence the others — the
          // id is only meaningful as the per-partition base the
          // exactly-once sender factory derives from it
          Option.when(!cfg.exactlyOnce && cfg.producerProps.contains("transactional.id"))(
            "--producer.transactional.id requires --exactly-once: without it every " +
              "sink task would share one transactional id and mutually fence")).flatten
        if (crossErrs.nonEmpty) Left(crossErrs) else Right(cfg)
    }
  }

  /** A4 — usage text (reference: FlinkKafkaReplicator.java:154-166). */
  def usage: String =
    s"""Usage: graft-replicator --topics <regex> --consumer.bootstrap.servers <servers>
       |         --consumer.group.id <group> --producer.bootstrap.servers <servers>
       |         [--consumer.<kafka-prop> <value>]... [--producer.<kafka-prop> <value>]...
       |         [--${(BooleanOptions ++ IntOptions).toSeq.sorted.mkString("] [--")}]
       |""".stripMargin
}
