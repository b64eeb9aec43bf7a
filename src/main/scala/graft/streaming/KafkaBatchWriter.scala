package graft.streaming

import scala.collection.immutable.ArraySeq

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.types._

/** The record-complete produce surface — closes the two gaps Spark's
  * built-in Kafka sink leaves against the reference (SURVEY.md §7.4):
  *
  *  1. **Timestamp preservation (D5)**: the built-in sink ignores any
  *     timestamp column; the reference forwards the record timestamp
  *     (reference: KafkaMessageSerializationSchema.java:20). A
  *     [[RecordSender]] receives it explicitly.
  *  2. **Exactly-once (D6)**: the built-in sink is at-least-once; the
  *     reference's transactional 2PC (reference:
  *     FlinkKafkaReplicator.java:120-124) maps to `foreachBatch` with a
  *     transactional producer whose commit is tied to the batch id —
  *     compose [[write]] with [[Pipeline.idempotentForeachBatch]].
  *
  * The production sender wraps a transactional
  * `org.apache.kafka.clients.KafkaProducer` and binds at deploy time
  * (kafka-clients is not on this build's classpath); specs use an
  * in-memory sender to assert byte-exact envelope delivery.
  */
trait RecordSender extends Serializable {
  /** One record, envelope-complete. `partition == None` delegates to the
    * producer's DefaultPartitioner (murmur2 of key — see
    * [[graft.functions.KafkaMurmur2]]), exactly the reference's
    * `--no-preserve-partitioning` behavior (reference:
    * KafkaMessageSerializationSchema.java:19).
    */
  def send(topic: String, partition: Option[Int], timestampMs: Long,
      key: Array[Byte], value: Array[Byte],
      headers: Seq[(String, Array[Byte])]): Unit

  /** Commit barrier: flush (at-least-once) or commit the transaction
    * (exactly-once). Called once per task after its rows are sent. The
    * sender stays USABLE after a successful flush — the next batch may
    * reuse it (a transactional implementation begins a fresh
    * transaction on the next `send`).
    */
  def flush(): Unit

  /** Release the underlying resources (abort any open transaction,
    * close the producer). [[KafkaBatchWriter.write]] calls this at task
    * end for unpooled senders; [[PooledSenderFactory]]'s wrappers
    * intercept it so pooled producers survive across batches. Default
    * no-op for stateless test senders.
    */
  def close(): Unit = ()
}

/** Optional [[RecordSender]] capability: commit the task's source-offset
  * progress INSIDE the produce transaction — the Kafka-Streams EOS shape
  * (and the semantic of the reference's Flink 2PC, where offsets commit
  * atomically with the sink transaction; reference:
  * FlinkKafkaReplicator.java:120-124). This closes the file-marker
  * protocol's documented residual window: a crash BETWEEN a task's
  * `flush()` (transaction commit) and its marker write can no longer
  * replay that partition, because the committed transaction itself
  * carries the (batch, partition) progress record and
  * [[KafkaBatchWriter.write]] consults [[progressCommitted]] before
  * re-producing. The filesystem marker degrades to a CACHE (it saves the
  * progress lookup on the common path and is healed when found missing);
  * the transaction is the source of truth.
  *
  * Production shape (see deploy/ `KafkaProducerRecordSender`): a
  * compacted side topic keyed by (sink, partition) whose value is the
  * highest committed batch id; `stageProgress` sends that record inside
  * the open transaction, `progressCommitted` reads the key's latest
  * committed value under `read_committed` — a transaction that aborted
  * leaves no visible progress, exactly the atomicity required.
  */
trait OffsetCommittingSender extends RecordSender {
  /** Stage this task's (batch, partition) progress record into the OPEN
    * transaction so it commits atomically with the batch's records.
    * Must be called after the rows are sent and BEFORE `flush()`.
    */
  def stageProgress(batchId: Long, partitionId: Int): Unit

  /** True iff a prior attempt's transaction for this (batch, partition)
    * COMMITTED — i.e. the records are already visible under
    * `read_committed` and a replay must skip, not re-produce.
    */
  def progressCommitted(batchId: Long, partitionId: Int): Boolean
}

/** Per-task sender creation, keyed by the task's batch partition id —
  * the zombie-fencing hook for exactly-once delivery.
  *
  * A transactional producer's `transactional.id` must be DETERMINISTIC
  * per (sink, partition) across attempts: when a task retries, its new
  * producer calls `initTransactions()` under the same id, which bumps
  * the epoch and FENCES the previous attempt's producer — a zombie
  * still holding an OPEN transaction can no longer commit, and that
  * transaction is aborted (invisible under `read_committed`). Fencing
  * is the concurrent-zombie defense ONLY: it cannot revoke a
  * transaction the first attempt already COMMITTED — that replay
  * window is closed by the per-partition commit markers in
  * [[KafkaBatchWriter.write]] (see [[KafkaBatchWriter.exactlyOnceSink]]
  * for how the two compose). Derive the id with
  * [[KafkaBatchWriter.transactionalId]]; never use a random or
  * per-attempt id, which would make every retry a new producer identity
  * with nothing to fence. Production deployments should also POOL one
  * producer per transactional.id per executor across batches (begin a
  * new transaction per batch) — constructing and `initTransactions()`ing
  * a fresh producer per task per 1 s microbatch is multiple coordinator
  * round trips per partition per second.
  */
trait RecordSenderFactory extends Serializable {
  def senderFor(partitionId: Int): RecordSender
}

object RecordSenderFactory {
  /** Lift a partition-oblivious factory (at-least-once senders don't
    * need the fencing key).
    */
  def uniform(f: () => RecordSender): RecordSenderFactory =
    new RecordSenderFactory {
      override def senderFor(partitionId: Int): RecordSender = f()
    }
}

/** Executor-lifetime sender pooling: one underlying sender per
  * (pool token, partition) per JVM, reused across microbatches.
  *
  * Why: a transactional producer costs a bootstrap + `initTransactions`
  * (multiple transaction-coordinator round trips) — paying that per
  * task per 1-second microbatch floors batch latency and churns broker
  * connections forever. The [[RecordSender]] contract already permits
  * reuse (a successful `flush()` leaves the sender usable; the next
  * `send` begins a fresh transaction), so the pool simply keeps the
  * sender alive between batches.
  *
  * Fencing is unchanged: the pool key preserves the deterministic
  * (sink, partition) → `transactional.id` mapping, so a retry scheduled
  * on ANOTHER executor creates its own producer under the same id and
  * fences this one; the next use here then fails, which EVICTS and
  * closes the fenced producer (see below) — exactly the hand-off
  * fencing is for.
  *
  * Failure protocol: the wrapper is evicted (and the underlying sender
  * closed, aborting any open transaction) at task-end `close()` unless
  * the attempt ended CLEAN — every `send` was followed by a successful
  * `flush`. Two dirty shapes exist and both must evict:
  *  1. `send`/`flush` itself threw (broker error) — tracked by `failed`;
  *  2. the task died OUTSIDE the sender calls (a row-decoding error in
  *     the caller's iteration, a task kill when a sibling partition
  *     fails) AFTER some sends succeeded — tracked by
  *     `unflushedSends`. Without this, the pooled producer keeps the
  *     aborted attempt's partial sends buffered in its OPEN
  *     transaction; a retry on the same executor would reuse it (same
  *     producer, no `initTransactions`, so no fence), append the full
  *     row set into the SAME transaction, and commit stale partials +
  *     the retry's copy — duplicates visible even under
  *     `read_committed`.
  * On a clean attempt `close()` is a no-op and the producer survives
  * for the next batch.
  *
  * The pool is JVM-global keyed by `token` (Spark deserializes a new
  * factory instance per task — an instance field would never be shared),
  * so one `token` names one logical sink across all its tasks in an
  * executor.
  */
final class PooledSenderFactory(
    token: String,
    underlying: RecordSenderFactory) extends RecordSenderFactory {

  /** Close and drop every pooled sender created under THIS factory's
    * token — the end-of-run cleanup hook (a long-lived JVM that re-runs
    * a pipeline under a new token must not strand the old token's
    * producers: the rerun fences them, but nothing else ever closes
    * them).
    */
  def shutdownAll(): Unit = PooledSenderFactory.shutdown(token)

  override def senderFor(partitionId: Int): RecordSender = {
    val key = (token, partitionId)
    val base = PooledSenderFactory.pool.computeIfAbsent(
      key, _ => underlying.senderFor(partitionId))
    // the wrapper must preserve the base's transactional-progress
    // capability: KafkaBatchWriter.write pattern-matches the sender it
    // is handed, and a pooled OffsetCommittingSender that lost the
    // trait would silently fall back to marker-only replay protection
    base match {
      case oc: OffsetCommittingSender =>
        new PooledSenderFactory.PooledWrapper(key, base)
            with OffsetCommittingSender {
          override def stageProgress(batchId: Long, partitionId2: Int): Unit =
            dirtyGuarded(oc.stageProgress(batchId, partitionId2))
          override def progressCommitted(batchId: Long, partitionId2: Int): Boolean =
            guarded(oc.progressCommitted(batchId, partitionId2))
        }
      case _ => new PooledSenderFactory.PooledWrapper(key, base)
    }
  }
}

object PooledSenderFactory {
  private val pool =
    new java.util.concurrent.ConcurrentHashMap[(String, Int), RecordSender]()

  /** Task-attempt view of a pooled sender (see [[PooledSenderFactory]]'s
    * failure protocol). `guarded` trips `failed` on any thrown base call;
    * `dirtyGuarded` additionally counts a transaction-mutating call that
    * succeeded but has not yet been sealed by a successful `flush` — the
    * signal that a task death OUTSIDE the sender left the pooled
    * producer's transaction open and dirty.
    */
  private[streaming] class PooledWrapper(
      key: (String, Int), protected val base: RecordSender) extends RecordSender {
    private var failed = false
    private var unflushedSends = 0
    protected final def guarded[A](op: => A): A =
      try op
      catch { case e: Throwable => failed = true; throw e }
    protected final def dirtyGuarded[A](op: => A): A = {
      val out = guarded(op)
      unflushedSends += 1
      out
    }
    override def send(topic: String, partition: Option[Int], timestampMs: Long,
        key2: Array[Byte], value: Array[Byte],
        headers: Seq[(String, Array[Byte])]): Unit =
      dirtyGuarded(base.send(topic, partition, timestampMs, key2, value, headers))
    override def flush(): Unit = {
      guarded(base.flush())
      unflushedSends = 0
    }
    override def close(): Unit =
      // evict unless the attempt ended clean: dirty-but-unfailed means
      // the task died outside the sender with sends buffered in an open
      // transaction — a retry must NOT inherit that producer
      if (failed || unflushedSends > 0) {
        PooledSenderFactory.pool.remove(key, base)
        try base.close() catch { case _: Throwable => () }
      }
  }

  /** Test/shutdown hook: close and drop every pooled sender for a token. */
  def shutdown(token: String): Unit = {
    val it = pool.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      if (e.getKey._1 == token) {
        try e.getValue.close() catch { case _: Throwable => () }
        it.remove()
      }
    }
  }
}

/** Serializable carrier for a Hadoop `Configuration` (which is not
  * `java.io.Serializable` itself but IS a `Writable`). Executor-side
  * filesystem resolution MUST use the session's conf, not
  * `new Configuration()`: `spark.hadoop.*` settings, object-store
  * credentials, and `fs.defaultFS` live only in the session conf — with
  * a bare conf an s3a/hdfs commit dir fails outright on executors, and a
  * non-scheme-qualified path silently resolves to each executor's LOCAL
  * `file://`, where a replayed partition on a different executor sees no
  * marker and re-produces.
  */
final class SerializableHadoopConf(
    @transient var value: org.apache.hadoop.conf.Configuration) extends Serializable {
  private def writeObject(out: java.io.ObjectOutputStream): Unit = {
    out.defaultWriteObject()
    value.write(out)
  }
  private def readObject(in: java.io.ObjectInputStream): Unit = {
    in.defaultReadObject()
    value = new org.apache.hadoop.conf.Configuration(false)
    value.readFields(in)
  }
}

object KafkaBatchWriter {

  /** Deterministic `transactional.id` for a sink task: `base` names the
    * sink (one replication pipeline = one base), the partition id pins
    * the task — same task on retry ⇒ same id ⇒ `initTransactions()`
    * fences the zombie attempt (see [[RecordSenderFactory]]).
    */
  def transactionalId(base: String, partitionId: Int): String =
    s"$base-p$partitionId"

  /** A `foreachBatch` body: stream the batch's envelope rows through a
    * per-task [[RecordSender]]. No shuffle — each task drains its own
    * partition of the microbatch; `senders` runs on the executor (one
    * sender per task attempt, keyed by the task's partition id so a
    * transactional sender can zombie-fence, flushed at task end).
    *
    * The rows are the executed plan's `InternalRow`s
    * (`queryExecution.toRdd`), run as one SQL execution and one Spark
    * job per batch, as `Dataset.foreachPartition` runs it. No external
    * `Row` is built: the six envelope ordinals are resolved once, by
    * name, on the driver (`Envelope.resolve`, which also checks each
    * column's type), and each row is read by ordinal — the timestamp as
    * its epoch-µs long, the headers through `ArrayData`. So the
    * `spark.sql.datetime.java8API.enabled` setting, which changes only
    * the external `Row`'s timestamp class, no longer matters. An
    * `InternalRow` reads a null `long` or `int` as 0, so a null
    * `timestamp` (either partition mode) or a null `partition` (under
    * `preservePartitioning`) fails the task with an error naming the
    * column instead of sending 0. Without `preservePartitioning` the
    * `partition` column is not read.
    *
    * With `commitDir` set, each task also keeps a PER-PARTITION commit
    * marker (`batch-<id>/p<partition>.committed`, written only after
    * its `flush()` commit barrier returns): when a batch fails after
    * some tasks committed and replays, the committed partitions SKIP —
    * they are not re-produced. Fencing alone cannot give this: a
    * deterministic `transactional.id` aborts a zombie's OPEN
    * transaction, but a transaction that already COMMITTED on the first
    * attempt is beyond revoking, so without the marker every committed
    * task would duplicate on replay.
    *
    * With an [[OffsetCommittingSender]] the protocol is complete: the
    * task stages its (batch, partition) progress INSIDE the transaction
    * before the `flush()` commit barrier, so progress and records commit
    * atomically. A crash between the commit and the marker write — the
    * file-marker protocol's one residual window — is then recovered by
    * the `progressCommitted` check on replay: the partition skips and
    * the missing marker is healed. With a plain sender the marker is
    * the only record and that window remains (documented, not hidden).
    * The marker path is resolved through the SESSION's Hadoop conf
    * (serialized into the closure), never a bare `new Configuration()`
    * — see [[SerializableHadoopConf]].
    */
  def write(
      senders: RecordSenderFactory,
      preservePartitioning: Boolean,
      commitDir: Option[String] = None)(
      df: DataFrame, batchId: Long): Unit = {
    val cols = df.select("topic", "partition", "timestamp", "key", "value", "headers")
    val envelope = Envelope.resolve(cols.schema)
    // driver-side: capture the session conf for executor FS resolution
    val hadoopConf = commitDir.map(_ =>
      new SerializableHadoopConf(df.sparkSession.sessionState.newHadoopConf()))
    val drain: Iterator[InternalRow] => Unit = { rows =>
      if (rows.nonEmpty) {
        val pid = org.apache.spark.TaskContext.getPartitionId()
        val marker = commitDir.map { d =>
          val p = new org.apache.hadoop.fs.Path(d, s"batch-$batchId/p$pid.committed")
          (p.getFileSystem(hadoopConf.get.value), p)
        }
        def writeMarker(): Unit = marker.foreach { case (fs, p) =>
          fs.mkdirs(p.getParent)
          fs.create(p, true).close()
        }
        val alreadyMarked = marker.exists { case (fs, p) => fs.exists(p) }
        if (!alreadyMarked) {
          val sender = senders.senderFor(pid)
          // the progress protocol belongs to the EXACTLY-ONCE path only
          // (commitDir present): an at-least-once caller may still hand
          // us an OffsetCommittingSender (the production binding carries
          // the trait unconditionally), and staging progress there would
          // throw — a non-transactional sender has no transaction to
          // stage into
          val progress = commitDir.flatMap { _ =>
            sender match {
              case s: OffsetCommittingSender => Some(s)
              case _ => None
            }
          }
          try {
            val committedInTxn = progress.exists(_.progressCommitted(batchId, pid))
            if (committedInTxn) {
              // crash landed between a prior attempt's transaction
              // commit and its marker write: records are already
              // visible — skip, and heal the missing cache marker
              writeMarker()
            } else {
              // a local loop, not `Iterator.foreach`, whose one call site
              // every iterator in the JVM shares: over one 10^5-row file
              // (local[4], 4 vCPUs) this loop was faster in 7 of 8 JVM
              // pairs, median 150 vs 175 ms
              while (rows.hasNext) envelope.send(sender, rows.next(), preservePartitioning)
              // progress joins the records in the SAME transaction —
              // after this, commit-vs-marker ordering no longer matters
              progress.foreach(_.stageProgress(batchId, pid))
              sender.flush()
              // AFTER the commit barrier: the marker records "this
              // partition's transaction committed for this batch"
              writeMarker()
            }
          } finally sender.close() // no-op for pooled wrappers
        }
      }
    }
    val qe = cols.queryExecution
    SQLExecution.withNewExecutionId(qe, Some("foreachPartition")) {
      qe.executedPlan.resetMetrics()
      qe.toRdd.foreachPartition(drain)
    }
  }

  /** The sink projection's ordinals, resolved once on the driver. */
  private final case class Envelope(
      topic: Int, partition: Int, timestamp: Int, key: Int, value: Int, headers: Int) {

    /** Hands one row to `sender`. `getBinary` and `UTF8String.toString`
      * copy, which the reused row buffer requires; the timestamp is
      * floored from µs, so pre-epoch values keep `Timestamp.getTime`'s
      * millisecond (-1 µs is -1 ms, not 0).
      */
    def send(sender: RecordSender, r: InternalRow, preservePartitioning: Boolean): Unit =
      sender.send(
        Envelope.string(r, topic),
        if (preservePartitioning) Some(r.getInt(Envelope.present(r, partition, "partition"))) else None,
        Math.floorDiv(r.getLong(Envelope.present(r, timestamp, "timestamp")), 1000L),
        r.getBinary(key),
        r.getBinary(value),
        if (r.isNullAt(headers)) Nil else Envelope.headerSeq(r.getArray(headers)))
  }

  private object Envelope {
    /** The ordinals by name, each column's type checked here: an
      * `InternalRow` accessor misreads a mistyped column rather than
      * failing on it.
      */
    def resolve(schema: StructType): Envelope = {
      def at(name: String, want: String)(ok: PartialFunction[DataType, Unit]): Int = {
        val i = schema.fieldIndex(name)
        val t = schema(i).dataType
        require(ok.isDefinedAt(t),
          s"envelope column `$name` must be $want, got ${t.simpleString}")
        i
      }
      Envelope(
        at("topic", "string") { case _: StringType => },
        at("partition", "int") { case IntegerType => },
        at("timestamp", "timestamp") { case TimestampType => },
        at("key", "binary") { case BinaryType => },
        at("value", "binary") { case BinaryType => },
        at("headers", "array<struct<string, binary>>") {
          case ArrayType(StructType(Array(
            StructField(_, _: StringType, _, _), StructField(_, BinaryType, _, _))), _) =>
        })
    }

    def string(r: InternalRow, i: Int): String = {
      val s = r.getUTF8String(i)
      if (s == null) null else s.toString
    }

    def headerSeq(hs: ArrayData): Seq[(String, Array[Byte])] =
      ArraySeq.tabulate(hs.numElements()) { i =>
        val h = hs.getStruct(i, 2)
        (string(h, 0), h.getBinary(1))
      }

    /** `i`, or a task failure naming the column when its value is null. */
    def present(r: InternalRow, i: Int, name: String): Int =
      if (r.isNullAt(i))
        throw new IllegalArgumentException(
          s"envelope column `$name` is null; the sink will not send it as 0")
      else i
  }

  /** The full exactly-once sink: record-complete produce + two-level
    * idempotent commit.
    *
    * Precise guarantee, per level:
    *  - the BATCH marker ([[Pipeline.idempotentForeachBatch]]) makes a
    *    fully-committed batch replay a no-op without touching executors;
    *  - the PER-PARTITION markers ([[write]]) make a PARTIALLY-committed
    *    batch replay re-produce only the partitions that never
    *    committed — committed partitions skip, so a mid-batch failure
    *    no longer duplicates the tasks that had already flushed;
    *  - the deterministic `transactional.id` ([[RecordSenderFactory]])
    *    fences CONCURRENT zombies: a hung first attempt still holding an
    *    open transaction is aborted the moment its retry calls
    *    `initTransactions()` — fencing handles the still-running
    *    attempt, the markers handle the already-committed one; the two
    *    mechanisms close different windows and both are needed.
    *
    * With an [[OffsetCommittingSender]] (the production deploy binding)
    * there is NO residual window: the (batch, partition) progress record
    * commits inside the produce transaction, so a crash between the
    * transaction commit and the marker write is recovered by the
    * `progressCommitted` check — the replay skips and heals the marker.
    * With a plain sender, that single window remains (documented above).
    * PipelineSpec's partial-batch replay case pins committed partitions
    * not re-producing; KafkaBatchWriterSpec's kill-between-commit-and-
    * marker case pins the zero-duplicate recovery.
    */
  def exactlyOnceSink(
      senders: RecordSenderFactory,
      preservePartitioning: Boolean,
      commitDir: String): (DataFrame, Long) => Unit =
    Pipeline.idempotentForeachBatch(
      commitDir, write(senders, preservePartitioning, Some(commitDir)))
}
