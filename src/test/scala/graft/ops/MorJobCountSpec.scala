package graft.ops

import graft.SparkSpec
import org.apache.spark.graft.JobCounter
import org.apache.spark.sql.functions._

/** Pins the Spark job count of each call of one merge-on-read cycle
  * (the shape of the benchmark's `mor_dml` op) on a small z-ordered
  * Bloom table. The Bloom probe, every register build and every
  * deletion-vector read within the gate run on the driver or inside
  * the scan; a change that starts a job again fails here. */
class MorJobCountSpec extends SparkSpec {
  import spark.implicits._

  private def rows(ids: org.apache.spark.sql.Dataset[java.lang.Long]) =
    ids.select($"id".as("o_orderkey"),
      ($"id" * 7 % 1000).as("o_custkey"), ($"id" * 1.25).as("o_totalprice"),
      concat(lit("k"), $"id").as("o_key_s"))

  /** A z-ordered Bloom table whose current version already carries a
    * deletion vector. */
  private def dvTable(): String = {
    val root = java.nio.file.Files.createTempDirectory("graft_morjobs_")
      .toString + "/t"
    ManifestTable.commit(rows(spark.range(0, 6000)).coalesce(1), root)
    ZTable.optimizeZOrder(spark, root, "o_orderkey", "o_custkey",
      "o_orderkey", nFiles = 4, bloomCol = Some("o_key_s"))
    ManifestTable.deleteWhereDV(spark, root, $"o_orderkey" < 20)
    root
  }

  test("mor cycle: per-call job counts; the Bloom probe and every " +
      "register build start no job") {
    val root = dvTable()
    val batch = rows(spark.range(100, 160).union(spark.range(9000, 9020)))
    // the budget of each call: its job count may fall, never rise
    val budget = Seq(
      "mergeBatchDV" -> 7, "updateWhereDV" -> 3, "deleteWhereDV" -> 1,
      "optimizeBinPack" -> 2, "bloomCandidateFiles" -> 0)
    val calls: Seq[(String, () => Any)] = Seq(
      "mergeBatchDV" -> (() => ManifestTable.mergeBatchDV(spark, root,
        batch, Seq("o_orderkey"), batchKey = "b0")),
      "updateWhereDV" -> (() => ManifestTable.updateWhereDV(spark, root,
        $"o_orderkey".between(300, 340),
        Map("o_totalprice" -> ($"o_totalprice" + 1.5)))),
      "deleteWhereDV" -> (() => ManifestTable.deleteWhereDV(spark, root,
        $"o_orderkey".between(500, 530))),
      "optimizeBinPack" -> (() => ManifestTable.optimizeBinPack(spark,
        root, minFileBytes = 16L * 1024)),
      "bloomCandidateFiles" -> (() =>
        ZTable.bloomCandidateFiles(spark, root, lit("k120"))))
    val counted = calls.map { case (name, call) =>
      name -> JobCounter.jobs(spark)(call())._2 }
    val registerJobs = counted.flatMap { case (name, js) =>
      js.filter(_.callSite.contains("sparkRegisters")).map(_ => name) }
    assert(registerJobs.isEmpty,
      s"Bloom registers built by a Spark job in: $registerJobs")
    val over = counted.zip(budget).collect {
      case ((name, js), (_, max)) if js.size > max =>
        s"$name: ${js.size} jobs (budget $max)"
    }
    assert(over.isEmpty, over.mkString("; "))
    assert(ZTable.bloomCandidateFiles(spark, root, lit("k120")).nonEmpty)
  }

  test("a deletion-vector read within the gate is one scan job: no " +
      "broadcast job, no anti-join, no BroadcastExchange") {
    val root = dvTable()
    ManifestTable.deleteWhereDV(spark, root, $"o_orderkey" % 11 === 0)
    val v = ManifestTable.currentVersion(spark, root).get
    val reads: Seq[(String, () => org.apache.spark.sql.DataFrame)] = Seq(
      "readVersion" -> (() => ManifestTable.readVersion(spark, root, v)),
      "scanXRange" -> (() => ZTable.scanXRange(spark, root, 1000L, 2500L)))
    reads.foreach { case (name, read) =>
      val df = read()
      val (n, jobs) = JobCounter.jobs(spark)(df.collect().length)
      assert(n > 0)
      assert(jobs.size <= 1, s"$name: ${jobs.size} jobs")
      val plan = df.queryExecution.executedPlan.toString
      Seq("LeftAnti", "BroadcastExchange").foreach(op =>
        assert(!plan.contains(op), s"$name plans a $op:\n$plan"))
      // past the gate the vector is an anti-join: the same read
      // starts its broadcast job again and returns the same rows
      val (n0, jobs0) = ManifestTable.dvLocalCarryCap.withValue(0L) {
        val d = read()
        assert(d.queryExecution.executedPlan.toString.contains("LeftAnti"))
        JobCounter.jobs(spark)(d.collect().length)
      }
      assert(n0 == n && jobs0.size > jobs.size, s"$name past the gate")
    }
  }
}
