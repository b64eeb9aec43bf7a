package graft

import java.util.concurrent.{ConcurrentLinkedQueue, Semaphore, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** What a block of driver code asked of Spark: the jobs it started, each
  * job's stage names (its short call site, such as `parquet at …` for a
  * schema inference) and description (the listed paths of a
  * partition-discovery job), and the
  * long call sites of the SQL executions it ran (an execution that needs
  * no job, such as a local relation's `collect`, still posts one).
  */
final case class SparkActivity(jobs: Int, sqlCallSites: Seq[String], jobSites: Seq[String] = Nil)

object SparkActivity {
  private val SyncGroup = "graft-spec-sync"

  /** Runs `body` and records its [[SparkActivity]]. Listener events
    * arrive asynchronously, so each edge of the block is closed with a
    * one-task sync job, as `graft.Tools profile` does: the bus delivers
    * events in order, so once the sync job's start has arrived, so has
    * every event posted before it.
    */
  def during[T](spark: SparkSession)(body: => T): (T, SparkActivity) = {
    val sc = spark.sparkContext
    val synced = new Semaphore(0)
    val events = new ConcurrentLinkedQueue[SparkListenerEvent]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (Option(js.properties).exists(_.getProperty("spark.jobGroup.id") == SyncGroup))
          synced.release()
        else events.add(js)
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart => events.add(s)
        case _ =>
      }
    }
    def sync(): Unit = {
      sc.setJobGroup(SyncGroup, "spec sync", interruptOnCancel = false)
      try sc.parallelize(Seq(0), 1).count() finally sc.clearJobGroup()
      require(synced.tryAcquire(30, TimeUnit.SECONDS), "the listener bus never delivered the sync job")
    }
    sc.addSparkListener(listener)
    try {
      sync() // events of earlier work still queued on the bus are not this block's
      events.clear()
      val out = body
      sync()
      val seen = events.asScala.toSeq
      val jobStarts = seen.collect { case js: SparkListenerJobStart => js }
      (out, SparkActivity(
        jobStarts.length,
        seen.collect { case s: SparkListenerSQLExecutionStart => s.details },
        jobStarts.map { js =>
          (js.stageInfos.map(_.name).distinct ++
            Option(js.properties).flatMap(p => Option(p.getProperty("spark.job.description"))))
            .mkString(" | ")
        }))
    } finally sc.removeSparkListener(listener)
  }
}
