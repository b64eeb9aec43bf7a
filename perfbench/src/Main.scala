package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** What every workload needs: its inputs (`fixture`, `plan`), a scratch
  * directory (`work`), where to write results (`out`), the record, and
  * the streaming query id → phase map the progress listener uses.
  */
final class Ctx(val fixture: String, val work: String, val out: String,
    val plan: Map[String, String], val rec: Record) {
  val phases = new ConcurrentHashMap[String, String]()
  private val ids = new AtomicLong()
  def nextId(): Long = ids.incrementAndGet()
}

object Bin {
  private def write(p: Path, bytes: Int, n: Int)(put: ByteBuffer => Unit): Unit = {
    val buf = ByteBuffer.allocate(bytes * n).order(ByteOrder.LITTLE_ENDIAN)
    put(buf)
    Files.write(p, buf.array())
  }
  def writeInts(p: Path, a: Array[Int]): Unit = write(p, 4, a.length)(b => a.foreach(b.putInt))
  def writeLongs(p: Path, a: Array[Long]): Unit = write(p, 8, a.length)(b => a.foreach(b.putLong))
}

/** One measured run of one workload in one JVM; see `perfbench/README.md`.
  *
  * Usage: `Main <workload> <plan.properties> <workDir> <outDir> <seconds> <trace 0|1> <cpus>`
  * The plan names the fixture directory and describes its inputs.
  * Writes `outDir/record.json` (and the replicate ledger binaries);
  * `run.py` turns those into metrics.
  */
object Main {
  val SetupRepeats = 5
  private val started = System.nanoTime()

  /** A progress line on stderr (the JVM log), with seconds since start. */
  def note(msg: String): Unit =
    System.err.println(f"[perfbench] ${(System.nanoTime() - started) / 1e9}%.1f s: $msg")

  def session(cpus: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"$work/hadoop")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(args: Array[String]): Unit = {
    val Array(workload, planFile, work, out, secondsArg, traceArg, cpusArg) = args
    val seconds = secondsArg.toDouble
    val cpus = cpusArg.toInt
    val rec = new Record(traced = traceArg == "1")
    val props = new java.util.Properties()
    val in = Files.newInputStream(Paths.get(planFile))
    try props.load(in) finally in.close()
    val plan = props.asScala.toMap
    val ctx = new Ctx(plan("fixture"), work, out, plan, rec)

    type Workload = (SparkSession => Unit, SparkSession => Unit, (SparkSession, Double) => Unit,
      () => Unit)
    val (setup, warm, measure, finish): Workload = workload match {
      case "replicate" =>
        val r = new Replicate(ctx)
        (r.setup, r.warm, r.measure, r.dump)
      case "analytics" =>
        val a = new Analytics(ctx)
        (a.setup, a.warm, a.measure, () => ())
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    // set-up is repeated and its median reported; the last one is kept
    var spark: SparkSession = null
    (1 to SetupRepeats).foreach { i =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = session(cpus, work)
      setup(spark)
      rec.sample("setup_s", (System.nanoTime() - t0) / 1e9)
      note(s"set-up $i done")
    }
    warm(spark)
    note("warm-up done")
    if (rec.traced) {
      spark.sparkContext.addSparkListener(new TraceListener(rec))
      spark.streams.addListener(new ProgressListener(rec, id => ctx.phases.getOrDefault(id, "")))
    }
    ManagementFactory.getMemoryPoolMXBeans.asScala.foreach(_.resetPeakUsage())
    val gc0 = gcSeconds()
    val t0 = Clock.nowMs()
    measure(spark, seconds)
    note("measured")
    rec.span(workload, "", workload, "perfbench", t0, Clock.nowMs())
    rec.set("jvm.gc_s", gcSeconds() - gc0)
    rec.set("jvm.heap_peak_mb", heapPeakMb())
    // Spark totals of the measured window, before the layer probes add jobs
    Seq("jobs", "tasks", "cpu_s", "run_s", "shuffle_mb").foreach { m =>
      rec.set(s"spark.$m", rec.scalars.collect { case (k, v) if k.startsWith(s"$m|") => v }.sum)
    }
    finish()
    // after the measured window, a traced run probes the layers its
    // workload reaches only in part: the kernels behind the analytics
    // operators, and the streaming index maintainers and live probes
    if (rec.traced && workload == "analytics") {
      Kernels.run(spark, rec, plan("corpus"))
      note("kernels done")
    }
    if (rec.traced && workload == "replicate") {
      val (c, f) = new IndexLayer(spark, rec, plan("corpus"),
        Files.createDirectories(Paths.get(work, "index")).toString).run(ctx.phases)
      rec.set("index.checked", c)
      rec.set("index.failed", f)
      note("index layer done")
    }
    spark.stop()
    Files.write(Paths.get(out, "record.json"), rec.json().getBytes("UTF-8"))
  }

  private def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3

  private def heapPeakMb(): Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1e6
}
