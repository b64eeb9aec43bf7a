package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Wall clock in nanoseconds since the epoch: `currentTimeMillis` at
  * start plus monotonic `nanoTime` progress, so spans, Spark listener
  * times and the generator schedule share one time base.
  */
object Clock {
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  def nowNs(): Long = baseMs * 1000000L + (System.nanoTime() - baseNs)
  def nowMs(): Double = nowNs() / 1e6
}

/** One traced interval. `parent` is a span id or "" for a root. */
final case class Span(id: String, parent: String, name: String, layer: String,
    startMs: Double, endMs: Double)

/** Everything a run measures, written out once at the end: scalars,
  * sample lists (summarised by `stats.py`), and — in traced runs — spans
  * and the per-job/per-task counters the listeners gather.
  */
final class Record(val traced: Boolean) {
  val scalars = mutable.LinkedHashMap[String, Double]()
  val samples = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
  val spans = new ConcurrentLinkedQueue[Span]()
  val progress = new ConcurrentLinkedQueue[String]()

  def sample(name: String, v: Double): Unit = synchronized {
    samples.getOrElseUpdate(name, mutable.ArrayBuffer()) += v
  }
  def add(name: String, v: Double): Unit = synchronized {
    scalars(name) = scalars.getOrElse(name, 0.0) + v
  }
  def set(name: String, v: Double): Unit = synchronized { scalars(name) = v }

  def span(id: String, parent: String, name: String, layer: String,
      startMs: Double, endMs: Double): Unit =
    if (traced) spans.add(Span(id, parent, name, layer, startMs, endMs))

  /** Time `body` as a span and, in traced runs, tag the Spark jobs it
    * starts with the span id through the job group.
    */
  def timed[A](spark: SparkSession, id: String, parent: String, name: String,
      layer: String)(body: => A): (A, Double) = {
    if (traced) spark.sparkContext.setJobGroup(id, name, interruptOnCancel = false)
    val t0 = Clock.nowMs()
    try {
      val out = body
      val t1 = Clock.nowMs()
      span(id, parent, name, layer, t0, t1)
      (out, t1 - t0)
    } finally if (traced) spark.sparkContext.clearJobGroup()
  }

  private def q(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else v.toString

  def json(): String = synchronized {
    val sc = scalars.map { case (k, v) => s"${q(k)}:${num(v)}" }.mkString("{", ",", "}")
    val sa = samples.map { case (k, vs) => s"${q(k)}:${vs.map(num).mkString("[", ",", "]")}" }
      .mkString("{", ",", "}")
    val sp = spans.asScala.map(s =>
      s"""[${q(s.id)},${q(s.parent)},${q(s.name)},${q(s.layer)},${num(s.startMs)},${num(s.endMs)}]""")
      .mkString("[", ",", "]")
    val pr = progress.asScala.mkString("[", ",", "]")
    s"""{"scalars":$sc,"samples":$sa,"spans":$sp,"progress":$pr}"""
  }
}

/** Span ids shared by the listeners and the sink's sender. */
object Trace {
  /** The sink span of a microbatch: the `addBatch` part of its progress. */
  def sinkSpan(queryId: String, batchId: String): String = s"$queryId/$batchId/sink"
  def jobSpan(jobId: Int): String = s"job-$jobId"
  /** stage id → job span, so a sink task can name its job. */
  val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, String]()
}

/** Listeners registered only in traced runs. Jobs become spans whose
  * parent is the job group (set by [[Record.timed]]) or, for streaming
  * jobs, the sink span of their microbatch; task metrics are summed per
  * parent span.
  */
final class TraceListener(rec: Record) extends SparkListener {
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (Double, String)]()
  private val stageParent = new java.util.concurrent.ConcurrentHashMap[Int, String]()

  private def parentOf(props: java.util.Properties): String = {
    if (props == null) return ""
    val qid = props.getProperty("sql.streaming.queryId")
    val batch = props.getProperty("streaming.sql.batchId")
    val group = props.getProperty("spark.jobGroup.id")
    if (qid != null && batch != null) Trace.sinkSpan(qid, batch)
    else if (group != null) group
    else ""
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val parent = parentOf(e.properties)
    jobStart.put(e.jobId, (e.time.toDouble, parent))
    e.stageIds.foreach { s =>
      stageParent.put(s, parent)
      Trace.stageJob.put(s, Trace.jobSpan(e.jobId))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStart.remove(e.jobId)).foreach { case (t0, parent) =>
      rec.span(Trace.jobSpan(e.jobId), parent, s"job ${e.jobId}", "spark.job", t0, e.time.toDouble)
      rec.add(s"jobs|$parent", 1)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val parent = stageParent.getOrDefault(e.stageId, "")
    val m = e.taskMetrics
    rec.add(s"tasks|$parent", 1)
    if (m != null) {
      rec.add(s"cpu_s|$parent", m.executorCpuTime / 1e9)
      rec.add(s"run_s|$parent", m.executorRunTime / 1e3)
      rec.add(s"shuffle_mb|$parent",
        (m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten) / 1e6)
    }
  }
}

/** Keeps every streaming progress event (their `durationMs` split is the
  * microbatch driver's per-layer cost) and, in traced runs, emits one
  * span per microbatch with its phases laid out in the order
  * `MicroBatchExecution` runs them: the source's `latestOffset` and
  * `getBatch`, and the sink's `addBatch`. The rest of the microbatch
  * (offset and commit logs, planning) is the driver's self time.
  */
final class ProgressListener(rec: Record, phaseOf: String => String)
    extends StreamingQueryListener {
  private val Order = Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch")
  private val Layer = Map("latestOffset" -> "graft.sources", "getBatch" -> "graft.sources",
    "addBatch" -> "graft.streaming.KafkaBatchWriter")

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val phase = phaseOf(p.id.toString)
    val durations = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
    val d = durations.map { case (k, v) => s""""$k":$v""" }.mkString(",")
    val startMs = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
    rec.progress.add(
      s"""{"phase":"$phase","batch":${p.batchId},"rows":${p.numInputRows},""" +
        s""""start_ms":$startMs,"duration":{$d}}""")
    val id = s"${p.id}/${p.batchId}"
    val maint = phase.startsWith("maint.")
    rec.span(id, phase, s"microbatch ${p.batchId}",
      if (maint) "graft.streaming.StreamIndexOps" else "graft.streaming.Pipeline",
      startMs, startMs + durations.getOrElse("triggerExecution", 0L))
    var at = startMs
    Order.foreach { k =>
      val ms = durations.getOrElse(k, 0L)
      Layer.get(k).filter(_ => ms > 0).foreach { layer =>
        val sid = if (k == "addBatch") Trace.sinkSpan(p.id.toString, p.batchId.toString) else s"$id/$k"
        // a maintainer's foreachBatch is the index layer, not the Kafka sink
        rec.span(sid, id, k, if (maint && k == "addBatch") "graft.streaming.StreamIndexOps" else layer,
          at, at + ms)
      }
      at += ms
    }
  }
}
