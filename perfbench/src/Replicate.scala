package perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

import graft.admin.{InMemoryMetadataClient, TopicAdmin, TopicSpec}
import graft.config.ReplicatorConfig
import graft.streaming.{Pipeline, PooledSenderFactory, RecordSenderFactory}

/** The system's own job: replicate envelope rows through the identity
  * transform into the exactly-once sender sink, fed by the file source
  * that stands in for Kafka.
  *
  *  - backfill (closed loop): the backlog group is drained through
  *    `startAtLeastOnceComplete` under `Trigger.AvailableNow`, one file
  *    (`maxOffsetsPerTrigger`) per microbatch, repeatedly for half the
  *    run; each drain gives one rows/s sample.
  *  - tail (open loop): the tail files are linked into the source
  *    directory on a schedule phase-locked to the 1 s trigger clock
  *    (`ProcessingTime` fires at wall-clock multiples of the interval),
  *    spread evenly inside each period, through `startExactlyOnce`. Each
  *    row's latency runs from when its file was due to its `send`.
  */
final class Replicate(ctx: Ctx) {
  import ctx._

  // plan.properties (written by run.py from the fixture manifest):
  // <group>.files, <group>.rows_per_file, <group>.first_offset, offsets
  private def files(group: String): Seq[String] =
    plan(s"$group.files").split(",").toSeq.map(f => s"$fixture/$f")
  private def rowsPerFile(group: String): Long = plan(s"$group.rows_per_file").toLong
  private val totalOffsets = plan("offsets").toInt

  private val schema = StructType(Seq(
    StructField("topic", StringType), StructField("partition", IntegerType),
    StructField("offset", LongType), StructField("timestamp", TimestampType),
    StructField("key", BinaryType), StructField("value", BinaryType),
    StructField("headers", ArrayType(StructType(Seq(
      StructField("key", StringType), StructField("value", BinaryType)))))))

  private val cfg = ReplicatorConfig(topics = "repl-.*", createTopics = true)
  private var runs = 0

  /** A fresh directory holding hard links to `srcFiles`. */
  private def linkedDir(srcFiles: Seq[String]): String = {
    val dir = Files.createDirectories(Paths.get(work, s"src-${nextId()}"))
    srcFiles.foreach(f => link(f, dir))
    dir.toString
  }
  private def link(file: String, dir: Path): Unit = {
    val src = Paths.get(file)
    Files.createLink(dir.resolve(src.getFileName), src)
  }

  private def senders() = new PooledSenderFactory(s"bench-${nextId()}",
    RecordSenderFactory.uniform(() => new LedgerSender))

  /** Drain `dir` under AvailableNow; returns seconds from start to end. */
  private def drain(spark: SparkSession, dir: String, rows: Long, phase: String): Double = {
    val capped = cfg.copy(maxOffsetsPerTrigger = Some(rows))
    val src = Pipeline.fileSource(spark, capped, dir, schema, rows)
    val pool = senders()
    val t0 = System.nanoTime()
    val q = Pipeline.startAtLeastOnceComplete(spark, capped, s"$work/ck-${nextId()}", pool,
      sourceOverride = Some(src), trigger = Some(Trigger.AvailableNow()))
    phases.put(q.id.toString, phase)
    q.awaitTermination()
    val secs = (System.nanoTime() - t0) / 1e9
    pool.shutdownAll()
    secs
  }

  def setup(spark: SparkSession): Unit = {
    val topics = (0 until 64).map(i => TopicSpec(f"repl-$i%02d", 8, Map("retention.ms" -> "86400000")))
    val target = new InMemoryMetadataClient(topics.take(32))
    val (failures, ms) = rec.timed(spark, s"reconcile-${nextId()}", "setup",
      "TopicAdmin.reconcile", "graft.admin.TopicAdmin") {
      TopicAdmin.reconcile(new InMemoryMetadataClient(topics), target, cfg)
    }
    require(failures.isEmpty, s"reconcile failed: $failures")
    require(target.snapshot.size == 64, "reconcile did not create the missing topics")
    rec.sample("admin.reconcile_ms", ms)
    Ledger.reset(totalOffsets, rec)
    drain(spark, linkedDir(files("warmup")), rowsPerFile("warmup"), "setup")
  }

  /** Untimed: three drains of the whole backlog, so the timed drains
    * start from a warm JIT and code cache (with fewer, the first timed
    * drain still ran 10–20% slower).
    */
  def warm(spark: SparkSession): Unit =
    (1 to 3).foreach(_ => drain(spark, linkedDir(files("backfill")), rowsPerFile("backfill"), "warm"))

  def measure(spark: SparkSession, seconds: Double): Unit = {
    val backfill = files("backfill")
    val rows = rowsPerFile("backfill")
    Ledger.reset(totalOffsets, rec)
    val deadline = System.nanoTime() + (seconds / 2 * 1e9).toLong
    do {
      val (secs, _) = rec.timed(spark, s"backfill-$runs", "replicate", "backfill drain",
        "graft.streaming.Pipeline")(drain(spark, linkedDir(backfill), rows, s"backfill-$runs"))
      rec.sample("backfill.drain_s", secs)
      runs += 1
    } while (runs < 3 || System.nanoTime() < deadline)
    rec.set("backfill.drains", runs)
    rec.set("sink.backfill_rows", Ledger.rows.get())
    rec.set("sink.backfill_mb", Ledger.bytes.get() / 1e6)
    rec.set("sink.backfill_task_busy_s", Ledger.busyNs.get() / 1e9)
    tail(spark, seconds / 2)
  }

  private def tail(spark: SparkSession, seconds: Double): Unit = {
    val tailFiles = files("tail")
    val rows = rowsPerFile("tail")
    val period = cfg.checkpointIntervalMs
    val perPeriod = plan("tail.files_per_period").toInt
    val n = math.min(tailFiles.size, (seconds * 1000 / period * perPeriod).toInt)
    val dir = Files.createDirectories(Paths.get(work, "tail-src"))
    val commitDir = s"$work/tail-commits"
    val (busy0, rows0, bytes0) = (Ledger.busyNs.get(), Ledger.rows.get(), Ledger.bytes.get())
    val pool = senders()
    val q: StreamingQuery = Pipeline.startExactlyOnce(spark, cfg, s"$work/ck-tail", commitDir,
      pool, sourceOverride = Some(Pipeline.fileSource(spark, cfg, dir.toString, schema, rows)))
    phases.put(q.id.toString, "tail")
    // phase lock: the first file is due one full period after the next
    // trigger boundary, so the query is idle and polling by then
    val t0Ms = (System.currentTimeMillis() / period + 2) * period
    val due = Schedule.dueMs(t0Ms, period, perPeriod, n)
    val start = Clock.nowMs()
    val released = new Array[Double](n)
    var i = 0
    while (i < n) {
      val waitMs = due(i) - Clock.nowMs()
      if (waitMs > 0) Thread.sleep(waitMs.toLong, ((waitMs % 1) * 1e6).toInt)
      link(tailFiles(i), dir)
      released(i) = Clock.nowMs()
      i += 1
    }
    val target = rows0 + n * rows
    val deadline = System.currentTimeMillis() + 60000
    while (Ledger.rows.get() < target && System.currentTimeMillis() < deadline && q.isActive)
      Thread.sleep(5)
    q.stop()
    pool.shutdownAll()
    rec.span("tail", "replicate", "tail", "graft.streaming.Pipeline", start, Clock.nowMs())
    rec.set("tail.files", n)
    rec.set("sink.tail_rows", Ledger.rows.get() - rows0)
    rec.set("sink.tail_mb", (Ledger.bytes.get() - bytes0) / 1e6)
    rec.set("sink.tail_task_busy_s", (Ledger.busyNs.get() - busy0) / 1e9)
    rec.set("sink.marker_files", countFiles(Paths.get(commitDir)))
    // per-file due/release pairs; stats.py checks the schedule and lateness
    due.foreach(d => rec.sample("tail.due_ms", d))
    released.foreach(r => rec.sample("tail.released_ms", r))
    rec.set("tail.rows_per_file", rows)
    rec.set("tail.period_ms", period)
    rec.set("tail.per_period", perPeriod)
  }

  private def countFiles(p: Path): Double =
    if (!Files.exists(p)) 0
    else {
      val s = Files.walk(p)
      try s.filter(f => Files.isRegularFile(f) && !f.getFileName.toString.startsWith(".")).count().toDouble
      finally s.close()
    }

  /** Ledger arrays for the manifest check, little-endian binaries. */
  def dump(): Unit = {
    val n = totalOffsets
    val counts = new Array[Int](n)
    (0 until n).foreach(i => counts(i) = Ledger.counts.get(i))
    Bin.writeInts(Paths.get(out, "counts.i32"), counts)
    Bin.writeLongs(Paths.get(out, "digests.u64"), Ledger.digests)
    Bin.writeLongs(Paths.get(out, "sent_ns.i64"), Ledger.sentNs)
  }
}

/** Tail release times: `perPeriod` files per trigger period, each due at
  * the centre of its slot, starting at the trigger boundary `t0Ms`.
  */
object Schedule {
  def dueMs(t0Ms: Long, periodMs: Long, perPeriod: Int, n: Int): Array[Double] =
    Array.tabulate(n) { i =>
      t0Ms + (i / perPeriod) * periodMs + (i % perPeriod + 0.5) * periodMs / perPeriod
    }
}
