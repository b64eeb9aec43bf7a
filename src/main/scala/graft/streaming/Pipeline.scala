package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{DataStreamReader, StreamingQuery, Trigger}

import graft.config.ReplicatorConfig

/** The replication dataflow (SURVEY.md §2.1, D1–D7), Spark-first:
  * `readStream(kafka) → foreachBatch(KafkaBatchWriter) → target cluster`.
  *
  * Every delivery mode produces through the record-complete
  * [[KafkaBatchWriter]] sender sink, so the record timestamp and the
  * partition routing ride the envelope in both the at-least-once and the
  * exactly-once mode (reference: KafkaMessageSerializationSchema.java:19-20).
  * The source is a parameter, so any stream of envelope rows drives the
  * same sink (MemoryStream or files in tests, Kafka in production) — the
  * reference couples them (reference: FlinkKafkaReplicator.java:126-134).
  *
  * Scale note: the plan is a narrow source→sink pipeline — no wide
  * operator, so Catalyst inserts no exchange; each Kafka partition
  * streams through one task regardless of cluster size.
  */
object Pipeline {

  /** D1 + D2 + D3 — Kafka source wiring: regex subscription, header
    * propagation, offset-reset policy, and `consumer.*` passthrough
    * (reference: FlinkKafkaReplicator.java:110-118). Spark likewise
    * ignores `startingOffsets` when resuming from a checkpoint.
    *
    * String-typed configuration only: the kafka connector jar binds at
    * deploy time (`spark-sql-kafka-0-10`); nothing here links against it.
    */
  def kafkaSource(spark: SparkSession, cfg: ReplicatorConfig): DataStreamReader = {
    val reader = spark.readStream
      .format("kafka")
      .option("subscribePattern", cfg.topics)
      .option("includeHeaders", "true")
      .option("startingOffsets", cfg.startingOffsets)
    // Ingestion rate cap — the Spark substitute for Flink's natural
    // backpressure (the reference's records flow at sink speed;
    // reference: FlinkKafkaReplicator.java:110-136). Without it, a
    // start from `earliest` on a large topic makes the FIRST microbatch
    // unbounded: every existing offset lands in one batch whose tasks
    // must complete before anything commits — executor OOM / shuffle
    // spill at backfill scale, and hours of work lost on any task
    // failure. `--max-offsets-per-trigger` bounds every microbatch
    // (including each AvailableNow backfill batch, which honors it).
    val limited = cfg.maxOffsetsPerTrigger.foldLeft(reader) { (r, n) =>
      r.option("maxOffsetsPerTrigger", n.toString)
    }
    // A5 — consumer passthrough; Spark scopes raw client configs as kafka.*
    cfg.consumerProps.foldLeft(limited) { case (r, (k, v)) =>
      r.option(s"kafka.$k", v)
    }
  }

  /** Broker-free source analog for specs and soaks: a file-backed stream
    * of envelope rows, with [[ReplicatorConfig.maxOffsetsPerTrigger]]
    * mapped to the file source's `maxFilesPerTrigger` (ceil-divided by
    * `rowsPerFile`, the fixture's uniform file size) — the same
    * bounded-first-batch semantics the Kafka option buys, drivable
    * without a broker. On uniform fixtures the per-batch row cap is
    * exact; at worst it overshoots by one file.
    */
  def fileSource(
      spark: SparkSession,
      cfg: ReplicatorConfig,
      dir: String,
      schema: org.apache.spark.sql.types.StructType,
      rowsPerFile: Long = 1L): DataFrame = {
    val reader = spark.readStream.schema(schema)
    cfg.maxOffsetsPerTrigger
      .map(n => math.max(1L, (n + rowsPerFile - 1) / rowsPerFile))
      .foldLeft(reader)((r, files) => r.option("maxFilesPerTrigger", files.toString))
      .parquet(dir)
  }

  /** How many sealed batches' marker directories are retained before
    * [[idempotentForeachBatch]] prunes them. A replay can only reach
    * back as far as the checkpoint's own recovery horizon (the last
    * uncommitted batch), so anything this far behind is dead weight —
    * without pruning, a 1 s trigger writes ~86 400 markers per DAY into
    * one directory, which is sustained namenode/object-store pressure
    * for files that can never be read again.
    */
  val CommitMarkerRetention: Long = 64L

  /** D6 exactly-once path — the reference's `Semantic.EXACTLY_ONCE`
    * (reference: FlinkKafkaReplicator.java:120-124) maps to idempotent
    * batch commit: `foreachBatch` keyed by `batchId`, skipping batches
    * already marked committed. The marker write must land only after
    * `write` succeeds, giving effectively-once output for any
    * idempotent/transactional `write` (a transactional KafkaProducer in
    * production; any sink in tests).
    */
  def idempotentForeachBatch(
      commitDir: String,
      write: (DataFrame, Long) => Unit): (DataFrame, Long) => Unit = {
    // markers go through the Hadoop FS API so they land on the same
    // fault-tolerant filesystem as the checkpoint — a java.io.File
    // marker on the driver's local disk is lost when the driver is
    // replaced, which is exactly the replay window it must close.
    // FS resolution + mkdirs run once (on the first batch, where a
    // session is in hand), not per second-cadence microbatch.
    // Layout: one DIRECTORY per batch (batch-<id>/_batch.committed,
    // plus the per-partition markers the exactly-once writer adds) so
    // pruning is one named recursive delete, never a directory listing.
    val dir = new org.apache.hadoop.fs.Path(commitDir)
    var fs: org.apache.hadoop.fs.FileSystem = null
    (df: DataFrame, batchId: Long) => {
      if (fs == null) {
        fs = dir.getFileSystem(df.sparkSession.sessionState.newHadoopConf())
        fs.mkdirs(dir)
      }
      val marker = new org.apache.hadoop.fs.Path(
        dir, s"batch-$batchId/_batch.committed")
      // legacy fallback: pre-directory layouts wrote a FLAT
      // `batch-<id>.committed` file; a restart against an existing
      // commitDir must honor those markers or it re-produces every
      // previously committed in-horizon batch
      val legacy = new org.apache.hadoop.fs.Path(dir, s"batch-$batchId.committed")
      if (!fs.exists(marker) && !fs.exists(legacy)) {
        write(df, batchId)
        fs.mkdirs(marker.getParent)
        fs.create(marker, false).close()
        val expired = new org.apache.hadoop.fs.Path(
          dir, s"batch-${batchId - CommitMarkerRetention}")
        if (batchId >= CommitMarkerRetention) {
          fs.delete(expired, true)
          // prune the legacy flat layout too, or an upgraded deployment
          // keeps its pre-upgrade markers forever
          fs.delete(new org.apache.hadoop.fs.Path(
            dir, s"batch-${batchId - CommitMarkerRetention}.committed"), false)
        }
      }
    }
  }

  /** The `--exactly-once` pipeline: [[KafkaBatchWriter.exactlyOnceSink]]
    * — record-complete produce with idempotent per-batch commit. With a
    * transactional sender this is the reference's `Semantic.EXACTLY_ONCE`
    * (reference: FlinkKafkaReplicator.java:120-124) on Spark's
    * microbatch model.
    */
  def startExactlyOnce(
      spark: SparkSession,
      cfg: ReplicatorConfig,
      checkpointLocation: String,
      commitDir: String,
      senders: RecordSenderFactory,
      sourceOverride: Option[DataFrame] = None): StreamingQuery =
    startSink(spark, cfg, checkpointLocation, sourceOverride, None,
      KafkaBatchWriter.exactlyOnceSink(senders, cfg.preservePartitioning, commitDir))

  /** The at-least-once pipeline (the reference's default semantic): the
    * [[KafkaBatchWriter]] sender sink with a plain flush barrier, so the
    * full envelope, timestamp included, is delivered (reference:
    * KafkaMessageSerializationSchema.java:20).
    *
    * `trigger` defaults to the checkpoint-interval processing-time
    * trigger. `--backfill` passes `Trigger.AvailableNow` — beyond the
    * reference's surface (Flink's unbounded source can't do this without
    * cancellation): drain everything currently in the subscribed topics
    * in rate-limited microbatches, commit the checkpoint, and STOP.
    * Restarting later (any mode) resumes from the committed offsets.
    */
  def startAtLeastOnceComplete(
      spark: SparkSession,
      cfg: ReplicatorConfig,
      checkpointLocation: String,
      senders: RecordSenderFactory,
      sourceOverride: Option[DataFrame] = None,
      trigger: Option[Trigger] = None): StreamingQuery =
    startSink(spark, cfg, checkpointLocation, sourceOverride, trigger,
      KafkaBatchWriter.write(senders, cfg.preservePartitioning))

  /** The one sink chain both delivery modes share: source (the Kafka
    * reader unless overridden) → checkpointed `foreachBatch(sink)`; the
    * trigger period mirrors the reference's checkpoint interval
    * (reference: FlinkKafkaReplicator.java:99-102).
    */
  private def startSink(
      spark: SparkSession,
      cfg: ReplicatorConfig,
      checkpointLocation: String,
      sourceOverride: Option[DataFrame],
      trigger: Option[Trigger],
      sink: (DataFrame, Long) => Unit): StreamingQuery =
    sourceOverride.getOrElse(kafkaSource(spark, cfg).load())
      .writeStream
      .option("checkpointLocation", checkpointLocation)
      .trigger(trigger.getOrElse(Trigger.ProcessingTime(cfg.checkpointIntervalMs)))
      .foreachBatch(sink)
      .start()

  /** D7 restart analog — fixed-delay retry around `awaitTermination`
    * (reference: FlinkKafkaReplicator.java:99 — 4 attempts / 10 s).
    */
  def runWithRestarts(
      attempts: Int = 4,
      delayMs: Long = 10000L)(run: () => StreamingQuery): Unit = {
    var remaining = attempts
    var done = false
    while (!done) {
      // run() stays INSIDE the try: a failure while (re)starting the
      // query — e.g. the broker still unreachable on the retry — must
      // consume an attempt and wait, not escape the restart loop
      try {
        run().awaitTermination()
        done = true
      } catch {
        case e: Exception if remaining > 0 =>
          remaining -= 1
          // each failure is surfaced as it happens — four silent restarts
          // followed by only the FIFTH cause is undiagnosable, and the
          // earlier causes may differ (reference logs every restart too)
          System.err.println(
            s"[graft] stream failed ($remaining restart(s) left, retrying in ${delayMs}ms): $e")
          Thread.sleep(delayMs)
        case e: Exception => throw e
      }
    }
  }
}
