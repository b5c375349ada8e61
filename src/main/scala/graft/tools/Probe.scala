// Per-query probe: run named queries (name prefixes) one by one on the
// engine session and decompose each run into its Spark jobs. A PROBE
// line gives wall time, rows, jobs, the sum of job wall times and the
// driver gap (wall minus job time: planning, FS metadata, marker IO);
// an indented line per job follows with its wall, stages, tasks and
// the engine call site that started it.
// Run: SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 sbt -batch "runMain graft.tools.Probe q63 q240"
package graft.tools

import java.util.concurrent.ConcurrentSkipListMap

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.graft.Bridge

object Probe {
  private final case class Job(desc: String, stages: Int, tasks: Int,
      start: Long, end: Long = -1L) {
    def seconds: Double = math.max(0L, end - start) / 1e3
  }

  /** The job's description if one is set, else the first engine frame
    * of its call site, else the first stage's name. */
  private def describe(e: SparkListenerJobStart): String =
    Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.job.description")))
      .filter(_.nonEmpty)
      .orElse(e.stageInfos.headOption.flatMap(_.details.split("\n")
        .find(l => l.contains("graft.") && !l.contains("graft.tools"))
        .map(_.trim)))
      .orElse(e.stageInfos.headOption.map(_.name))
      .getOrElse("")

  def main(args: Array[String]): Unit = {
    val builder = graft.GraftSession.builder("graft-probe")
    // extra confs for A/B plan experiments, e.g.
    // SPARK_GRAFT_CONF="spark.sql.codegen.wholeStage=false;spark.sql.adaptive.enabled=false"
    sys.env.get("SPARK_GRAFT_CONF").foreach(_.split(";").filter(_.nonEmpty)
      .foreach { kv =>
        val Array(k, v) = kv.split("=", 2); builder.config(k, v)
      })
    val spark = graft.GraftSession.getOrCreate(builder)
    val sc = spark.sparkContext
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    // the Spark jobs of the step being timed, by job id
    val jobs = new ConcurrentSkipListMap[Int, Job]()
    sc.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.put(e.jobId, Job(describe(e), e.stageInfos.size,
          e.stageInfos.map(_.numTasks).sum, e.time))
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        jobs.computeIfPresent(e.jobId, (_, j) => j.copy(end = e.time))
    })
    def time(name: String)(f: => Long): Unit = {
      Bridge.drainListeners(sc) // no event of an earlier step lands here
      jobs.clear()
      val t0 = System.nanoTime; val n = f
      val wall = (System.nanoTime - t0) / 1e9
      Bridge.drainListeners(sc)
      val js = jobs.asScala.toSeq
      val jobSum = js.map(_._2.seconds).sum
      println(f"PROBE $name%-32s $wall%8.2f s  rows=$n  jobs=${js.size}  " +
        f"job_sum=$jobSum%.2f s  driver_gap=${wall - jobSum}%.2f s")
      js.foreach { case (id, j) =>
        println(f"  job $id%4d ${j.seconds}%7.3f s  stages=${j.stages}%2d " +
          f"tasks=${j.tasks}%4d  ${j.desc.take(90)}")
      }
    }
    // one warm-up pass over the fact build so page cache/codegen are hot
    time("warmup_fact")(graft.queries.EdwQueries.factSales(spark, dir).count())
    args.foreach { a =>
      graft.SparkEntry.queries.filter(_._1.startsWith(a)).toSeq.sortBy(_._1)
        .foreach { case (name, fn) =>
          time(name)(fn(spark, dir).count())
          // mirror Bench's per-iteration sweep so probe numbers are
          // comparable to bench minima (operator-internal caches are
          // rebuilt per iteration there too)
          graft.CacheTracker.releaseAll()
        }
    }
    spark.stop()
  }
}
