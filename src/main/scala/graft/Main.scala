package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.admin.{TopicAdmin, TopicMetadataClient}
import graft.config.ReplicatorConfig
import graft.streaming.Pipeline

/** The replicator entry point — the reference's `main` re-expressed as
  * the three-phase lifecycle of SURVEY.md §3 (reference:
  * FlinkKafkaReplicator.java:70-137):
  *
  *   A. configuration: argv → validated [[ReplicatorConfig]] (A1–A5, D8)
  *   B. control plane: pre-flight topic reconciliation, fail-fast (C1–C7)
  *   C. dataflow: Kafka→Kafka structured-streaming pipeline with
  *      fixed-delay restart (D1–D7)
  *
  * The topic-metadata client is injected so phase B is testable without
  * brokers ([[graft.admin.InMemoryMetadataClient]]); the production
  * binding wraps `org.apache.kafka.clients.admin.AdminClient` — the same
  * client API the reference uses (reference: pom.xml:97-101) — and binds
  * at deploy time where kafka-clients is on the classpath (this build
  * environment ships neither Kafka jars nor brokers).
  */
object Main {

  /** Phases A+B: parse/validate args and reconcile topics. Returns the
    * config if the stream is safe to start, or the error lines to print.
    * (`fromArgs` runs the `<<`/`>>` preprocessing itself — no outer call.)
    */
  def preflight(
      args: Array[String],
      clientFor: Map[String, String] => TopicMetadataClient): Either[Seq[String], ReplicatorConfig] =
    ReplicatorConfig.fromArgs(args.toSeq).flatMap { cfg =>
      val source = clientFor(cfg.consumerProps)
      // if the TARGET client fails to construct, the source client must
      // not leak — reconcile's own finally only covers clients it was
      // handed (Main.run is a library surface; callers repeat)
      val target =
        try clientFor(cfg.producerProps)
        catch { case e: Throwable => source.close(); throw e }
      val failures = TopicAdmin.reconcile(source, target, cfg)
      if (failures.isEmpty) Right(cfg) else Left(failures)
    }

  /** Phase C: start the replication stream (D1–D7) through the
    * record-complete sender sink: the transactional path when
    * `--exactly-once` was requested (D6, reference:
    * FlinkKafkaReplicator.java:120-124), else at-least-once — draining
    * and stopping when `--backfill` was requested (extension; the
    * `--backfill --exactly-once` combination is rejected by
    * [[ReplicatorConfig.fromArgs]], so no silent downgrade can occur
    * here). `sourceOverride` replaces the Kafka reader (MemoryStream in
    * specs — this build has no Kafka connector or brokers).
    */
  def startStream(
      spark: SparkSession,
      cfg: ReplicatorConfig,
      checkpointLocation: String,
      senders: graft.streaming.RecordSenderFactory,
      sourceOverride: Option[org.apache.spark.sql.DataFrame] = None): StreamingQuery =
    if (cfg.exactlyOnce)
      Pipeline.startExactlyOnce(spark, cfg, checkpointLocation,
        commitDir(checkpointLocation), senders, sourceOverride)
    else
      Pipeline.startAtLeastOnceComplete(spark, cfg, checkpointLocation,
        senders, sourceOverride,
        trigger = Option.when(cfg.backfill)(Trigger.AvailableNow()))

  /** The exactly-once commit directory for a checkpoint — ONE derivation
    * shared by the scope minting and the `startStream` dispatch:
    * [[progressScope]]'s lifecycle contract ("the scope dies with a
    * checkpoint wipe") holds only because `_scope` lives in the same
    * directory the markers do.
    */
  def commitDir(checkpointLocation: String): String =
    s"$checkpointLocation/graft-commits"

  /** Checkpoint-identity scope for the transactional progress keyspace:
    * read-or-mint a UUID at `<commitDir>/_scope`. The compacted progress
    * topic OUTLIVES the checkpoint, so without a scope an operator who
    * wipes the checkpoint to reprocess would find the OLD run's
    * high-water masking the new run's batch ids — every batch up to the
    * stale high-water would silently SKIP producing (data loss, strictly
    * worse than the duplicates the reset risked before). Wiping the
    * checkpoint deletes `_scope` too (the commit dir lives inside it),
    * so a fresh run mints a fresh keyspace; resuming the same checkpoint
    * keeps the scope and the skip semantics it exists for.
    */
  def progressScope(spark: SparkSession, checkpointLocation: String): String = {
    val dir = new org.apache.hadoop.fs.Path(commitDir(checkpointLocation))
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    val f = new org.apache.hadoop.fs.Path(dir, "_scope")
    val existing =
      if (!fs.exists(f)) None
      else {
        val in = fs.open(f)
        val line =
          try new java.io.BufferedReader(
            new java.io.InputStreamReader(in, "UTF-8")).readLine()
          finally in.close()
        // a torn file (crash between create and close) must not become
        // the literal "null" scope shared by every torn checkpoint —
        // delete and re-mint; the direction is duplicates, never loss
        Option(line).map(_.trim).filter(_.nonEmpty)
      }
    existing.getOrElse {
      fs.delete(f, false) // remove a torn zero-length file if present
      val scope = java.util.UUID.randomUUID().toString
      fs.mkdirs(dir)
      val out = fs.create(f, false) // one driver mints once; a race fails loudly
      try out.write(scope.getBytes("UTF-8")) finally out.close()
      scope
    }
  }

  /** Whether the UNSCOPED legacy progress keys (pre-scope deployments
    * wrote bare `<transactional.id>`) should be honored: yes only when
    * the scope is being minted over a commit dir that ALREADY carries
    * batch markers — i.e. this is an in-flight deployment upgrading, the
    * same stream identity, where ignoring legacy high-waters would
    * re-open the commit-vs-marker window for the batch in flight at
    * upgrade time. A wiped (empty) commit dir is a NEW stream: legacy
    * keys there are stale history and honoring them is the data-loss
    * direction the scope exists to prevent.
    */
  private def legacyProgressOk(
      fs: org.apache.hadoop.fs.FileSystem,
      dir: org.apache.hadoop.fs.Path): Boolean =
    fs.exists(dir) && fs.listStatus(dir).exists(_.getPath.getName.startsWith("batch-"))

  /** The production sender factory `run` defaults to: the reflective
    * deploy binding, with the progress keyspace scoped to the checkpoint
    * under `--exactly-once` (see [[progressScope]]).
    */
  def defaultSenderFactory(
      spark: SparkSession,
      checkpointLocation: String): ReplicatorConfig => graft.streaming.RecordSenderFactory =
    cfg => reflectiveSenderFactory(cfg,
      extraProps =
        if (cfg.exactlyOnce) {
          val dir = new org.apache.hadoop.fs.Path(commitDir(checkpointLocation))
          val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
          val legacy = !fs.exists(new org.apache.hadoop.fs.Path(dir, "_scope")) &&
            legacyProgressOk(fs, dir)
          Map(
            "graft.progress.scope" -> progressScope(spark, checkpointLocation),
            "graft.progress.include.legacy" -> legacy.toString)
        } else Map.empty)

  /** Full lifecycle with the reference's fixed-delay restart policy
    * (4 attempts / 10 s, reference: FlinkKafkaReplicator.java:99).
    * The sender factory is resolved ONCE per run: the default factory
    * decides legacy-key honouring from whether `_scope` exists, and its
    * first call mints `_scope`, so a second call would compute a
    * different pool token. Every restart therefore reuses the first
    * factory, and the shutdown closes that factory's pool. When no
    * `senderFor` is injected, the pooled producers are SHUT DOWN once
    * the stream terminates for good — without this, a wipe-and-rerun in
    * one long-lived JVM strands the old token's producers (fenced by
    * the rerun, never closed).
    */
  def run(
      args: Array[String],
      spark: SparkSession,
      clientFor: Map[String, String] => TopicMetadataClient,
      checkpointLocation: String,
      senderFor: Option[ReplicatorConfig => graft.streaming.RecordSenderFactory] = None,
      sourceOverride: Option[org.apache.spark.sql.DataFrame] = None): Either[Seq[String], Unit] =
    preflight(args, clientFor).map { cfg =>
      val senders = senderFor
        .getOrElse(defaultSenderFactory(spark, checkpointLocation))(cfg)
      try
        Pipeline.runWithRestarts()(() =>
          startStream(spark, cfg, checkpointLocation, senders, sourceOverride))
      finally if (senderFor.isEmpty) { // injected factories are caller-owned
        senders match {
          case p: graft.streaming.PooledSenderFactory => p.shutdownAll()
          case _ => ()
        }
      }
    }

  /** The reflective deploy-time contract: these exact class names, each
    * with a single `Map[String, String]` constructor, implemented under
    * `deploy/src/main/scala` and compiled into the deploy artifact where
    * kafka-clients is on the classpath (this build environment ships
    * neither Kafka jars nor brokers). Pinned by ReflectiveBindingSpec
    * against the deploy sources AND exercised through in-memory fixture
    * classes loaded via the same helpers below.
    */
  val AdminBindingClass = "graft.admin.AdminClientMetadataClient"
  val SenderBindingClass = "graft.streaming.KafkaProducerRecordSender"

  /** Load a [[TopicMetadataClient]] binding reflectively. */
  def loadMetadataClient(className: String)(props: Map[String, String]): TopicMetadataClient =
    Class.forName(className)
      .getConstructor(classOf[Map[String, String]])
      .newInstance(props)
      .asInstanceOf[TopicMetadataClient]

  /** Load a [[graft.streaming.RecordSender]] binding reflectively. */
  def loadSender(className: String)(props: Map[String, String]): graft.streaming.RecordSender =
    Class.forName(className)
      .getConstructor(classOf[Map[String, String]])
      .newInstance(props)
      .asInstanceOf[graft.streaming.RecordSender]

  /** Deploy-time transactional-producer binding, loaded reflectively like
    * the admin client (kafka-clients is absent at build time). Each task's
    * sender receives the producer props WITH `transaction.timeout.ms`
    * injected — the reference does the same unconditionally (reference:
    * FlinkKafkaReplicator.java:106) — and, under `--exactly-once`, a
    * DETERMINISTIC `transactional.id` derived from the sink base and the
    * task's partition id, so a retrying task fences its zombie
    * predecessor ([[graft.streaming.RecordSenderFactory]]).
    */
  def reflectiveSenderFactory(
      cfg: ReplicatorConfig,
      className: String = SenderBindingClass,
      extraProps: Map[String, String] = Map.empty): graft.streaming.RecordSenderFactory = {
    val sinkBase = cfg.effectiveProducerProps
      .getOrElse("transactional.id", "graft-replicator")
    val raw = new graft.streaming.RecordSenderFactory {
      override def senderFor(partitionId: Int): graft.streaming.RecordSender = {
        val base = cfg.effectiveProducerProps ++ extraProps
        val props =
          if (cfg.exactlyOnce)
            base + ("transactional.id" -> graft.streaming.KafkaBatchWriter.transactionalId(
              sinkBase, partitionId))
          else base
        loadSender(className)(props)
      }
    }
    // pool producers per (sink, partition) per executor: a fresh
    // transactional producer per task per 1 s microbatch is a bootstrap
    // + initTransactions (multiple coordinator round trips) every
    // second per partition, forever (see PooledSenderFactory)
    new graft.streaming.PooledSenderFactory(poolToken(cfg, extraProps), raw)
  }

  /** Pool token for a sink: the transactional.id base PLUS a digest of
    * the full effective producer props. Two pipelines in one JVM
    * targeting different clusters but both leaving the base at its
    * default must NOT share pooled producers per partition — that would
    * send one sink's records to the other's brokers. The digest makes
    * the token injective in everything that shapes the producer
    * (bootstrap.servers above all).
    */
  def poolToken(cfg: ReplicatorConfig, extraProps: Map[String, String] = Map.empty): String = {
    val sinkBase = cfg.effectiveProducerProps
      .getOrElse("transactional.id", "graft-replicator")
    // extraProps join the digest: two pipelines that differ only in
    // progress scope (different checkpoints) must not share producers
    val canonical = (cfg.effectiveProducerProps ++ extraProps).toSeq.sorted
      .map { case (k, v) => s"$k=$v" }.mkString("\n")
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val digest = md.digest(canonical.getBytes("UTF-8")).take(8)
      .map(b => f"$b%02x").mkString
    s"graft-sink-$sinkBase-$digest"
  }

  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .appName("graft-replicator")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .getOrCreate()
    val checkpoint = sys.env.getOrElse("GRAFT_CHECKPOINT_DIR", "/tmp/graft-checkpoint")
    // Production metadata binding is injected via reflection so this
    // module never links against kafka-clients (absent in this build
    // environment); deployments compile deploy/src (the graft-kafka
    // bindings) onto the classpath.
    val clientFor: Map[String, String] => TopicMetadataClient =
      loadMetadataClient(AdminBindingClass)
    val outcome =
      try run(args, spark, clientFor, checkpoint)
      catch { // e.g. missing deploy-time admin binding, unreachable brokers
        case e: Throwable => Left(Seq(s"fatal: ${e.getClass.getSimpleName}: ${e.getMessage}"))
      }
    outcome match {
      case Left(errors) =>
        errors.foreach(System.err.println)
        System.err.println(ReplicatorConfig.usage)
        sys.exit(1)
      case Right(_) => ()
    }
  }
}
