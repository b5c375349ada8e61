package org.apache.spark.graft

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent,
  SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Counts the Spark jobs a block of code starts: a listener keeps the
  * jobs started under a job group unique to the call, and the listener
  * bus is drained before the count is read. Jobs a block starts on
  * other threads count too when they inherit the caller's local
  * properties, as Spark's broadcast and subquery threads do. Lives in
  * Spark's package because the listener bus is package-private. */
object JobCounter {

  /** One counted job: its id and its call site, a stack trace that
    * names the engine frames. A job of a SQL execution takes the call
    * site the execution recorded on the thread that started it: under
    * AQE the query-stage jobs are submitted from Spark's own threads,
    * so their first stage's call site names no engine frame. Any other
    * job takes the call site of its first stage. */
  final case class Job(id: Int, callSite: String)

  private val groupKey = "spark.jobGroup.id"
  private val saved = Seq(groupKey, "spark.job.description",
    "spark.job.interruptOnCancel")

  def jobs[T](spark: SparkSession)(body: => T): (T, Seq[Job]) = {
    val sc = spark.sparkContext
    val group = s"graft-jobcount-${java.util.UUID.randomUUID()}"
    val seen = new ConcurrentLinkedQueue[Job]()
    // an execution's start event is posted before any of its jobs
    val executionSites = new ConcurrentHashMap[Long, String]()
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart =>
          executionSites.put(s.executionId, s.details)
        case _ =>
      }
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty(groupKey) == group)) {
          val execution = Option(e.properties
            .getProperty(SQLExecution.EXECUTION_ID_KEY))
            .flatMap(id => Option(executionSites.get(id.toLong)))
          seen.add(Job(e.jobId, execution.getOrElse(
            e.stageInfos.headOption.map(_.details).getOrElse(""))))
        }
    }
    val before = saved.map(k => k -> sc.getLocalProperty(k))
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "job count", interruptOnCancel = false)
    try {
      val r = body
      sc.listenerBus.waitUntilEmpty()
      import scala.jdk.CollectionConverters._
      (r, seen.asScala.toSeq.sortBy(_.id))
    } finally {
      before.foreach { case (k, v) => sc.setLocalProperty(k, v) }
      sc.removeSparkListener(listener)
    }
  }

  def count[T](spark: SparkSession)(body: => T): (T, Int) = {
    val (r, js) = jobs(spark)(body)
    (r, js.size)
  }
}
