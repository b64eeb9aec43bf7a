package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, Semaphore, TimeUnit}

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode

/** Diagnosis tools over [[SparkEntry.queries]], in one local session
  * ([[LocalSession]]). Timing for the record is `perfbench/run.py`;
  * these explain a number rather than produce one.
  *
  *  - `profile <q1,q2,...> [sfDir] [runs]`: each run's wall time through
  *    the noop sink, then every Spark job of that run (wall time, stages
  *    and their task counts) and every stage over 300 ms (run, cpu,
  *    deserialize and gc time). The DataFrame is rebuilt per run because
  *    the iterative operators do their work at build time.
  *  - `plans <outDir> <suffix> <q1,q2,...> [sfDir]`: writes each query's
  *    `explain("formatted")` to `<outDir>/<query>_<suffix>.txt`.
  *
  * Usage: `runMain graft.Tools profile|plans ...`; see [[usage]].
  */
object Tools {
  val usage: String =
    """usage: graft.Tools profile <q1,q2,...> [sfDir] [runs]
      |       graft.Tools plans <outDir> <suffix> <q1,q2,...> [sfDir]
      |sfDir defaults to $SPARK_GRAFT_SF_DIR; runs defaults to 2""".stripMargin

  def main(args: Array[String]): Unit = {
    val command = parse(args) // bad arguments fail before a session starts
    val spark = LocalSession("graft-tools")
    try command(spark, println) finally spark.stop()
  }

  /** Runs one subcommand on `spark`, reporting through `out`. Bad
    * arguments throw an `IllegalArgumentException` carrying [[usage]].
    */
  def run(spark: SparkSession, args: Array[String], out: String => Unit): Unit =
    parse(args)(spark, out)

  private def parse(args: Array[String]): (SparkSession, String => Unit) => Unit = {
    def fail(why: String) = throw new IllegalArgumentException(s"$why\n$usage")
    def queries(list: String) = {
      val names = list.split(",").map(_.trim).filter(_.nonEmpty).toSeq
      names.filterNot(SparkEntry.queries.contains).foreach(n => fail(s"unknown query $n"))
      names
    }
    def sfDir(arg: Option[String]) = arg.orElse(sys.env.get("SPARK_GRAFT_SF_DIR"))
      .getOrElse(fail("no sfDir given and SPARK_GRAFT_SF_DIR is unset"))
    args.toList match {
      case "profile" :: list :: rest if rest.size <= 2 =>
        val (names, dir, runs) = (queries(list), sfDir(rest.headOption), rest.lift(1).fold(2)(_.toInt))
        (spark, out) => profile(spark, names, dir, runs, out)
      case "plans" :: outDir :: suffix :: list :: rest if rest.size <= 1 =>
        val (names, dir) = (queries(list), sfDir(rest.headOption))
        (spark, out) => plans(spark, outDir, suffix, names, dir, out)
      case _ => fail(s"bad arguments: ${args.mkString(" ")}")
    }
  }

  private def profile(spark: SparkSession, names: Seq[String], sfDir: String, runs: Int,
      out: String => Unit): Unit = {
    val sc = spark.sparkContext
    val jobs = new JobLines
    sc.addSparkListener(jobs)
    try for (name <- names; i <- 1 to runs) {
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, sfDir).write.mode("overwrite").format("noop").save()
      out(f"=== $name run$i: ${(System.nanoTime() - t0) / 1e9}%.3f s ===")
      jobs.drain(sc).foreach(out)
    } finally sc.removeSparkListener(jobs)
  }

  private def plans(spark: SparkSession, outDir: String, suffix: String, names: Seq[String],
      sfDir: String, out: String => Unit): Unit = {
    Files.createDirectories(Paths.get(outDir))
    names.foreach { name =>
      val plan = SparkEntry.queries(name)(spark, sfDir).queryExecution.explainString(FormattedMode)
      Files.write(Paths.get(outDir, s"${name}_$suffix.txt"), plan.getBytes(UTF_8))
      out(s"[plans] wrote $name ($suffix)")
    }
  }

  /** One line per finished job and per stage over 300 ms. Listener events
    * arrive asynchronously, so [[drain]] first runs a one-task sync job:
    * the bus delivers events in order, so once the sync job's end has
    * arrived, so has every event of the jobs before it.
    */
  private final class JobLines extends SparkListener {
    private val SyncGroup = "graft-tools-sync"
    private val starts = new ConcurrentHashMap[Int, (Long, String)]()
    private val syncJobs = ConcurrentHashMap.newKeySet[Int]()
    private val synced = new Semaphore(0)
    private val lines = new ConcurrentLinkedQueue[String]()

    def drain(sc: SparkContext): Seq[String] = {
      sc.setJobGroup(SyncGroup, "profile sync", interruptOnCancel = false)
      try sc.parallelize(Seq(0), 1).count() finally sc.clearJobGroup()
      synced.tryAcquire(30, TimeUnit.SECONDS)
      Iterator.continually(lines.poll()).takeWhile(_ != null).toSeq
    }

    override def onJobStart(js: SparkListenerJobStart): Unit =
      if (Option(js.properties).exists(_.getProperty("spark.jobGroup.id") == SyncGroup))
        syncJobs.add(js.jobId)
      else {
        val desc = js.stageInfos.map(si =>
          s"${si.stageId}:${si.name.takeWhile(_ != '(').trim}[${si.numTasks}]").mkString(" ")
        starts.put(js.jobId, (js.time, desc))
      }

    override def onJobEnd(je: SparkListenerJobEnd): Unit =
      if (syncJobs.remove(je.jobId)) synced.release()
      else Option(starts.remove(je.jobId)).foreach { case (t0, desc) =>
        lines.add(f"job ${je.jobId}%4d ${(je.time - t0) / 1000.0}%8.3fs  $desc")
      }

    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
      val si = sc.stageInfo
      val m = si.taskMetrics
      val wall = (for { s <- si.submissionTime; c <- si.completionTime } yield c - s).getOrElse(-1L)
      if (wall > 300 && m != null)
        lines.add(f"    stage ${si.stageId}%4d wall ${wall / 1000.0}%7.3fs " +
          f"run ${m.executorRunTime / 1000.0}%7.3fs cpu ${m.executorCpuTime / 1e9}%7.3fs " +
          f"deser ${m.executorDeserializeTime / 1000.0}%6.3fs " +
          f"gc ${m.jvmGCTime / 1000.0}%6.3fs tasks ${si.numTasks} " +
          si.name.takeWhile(_ != '(').trim)
    }
  }
}
