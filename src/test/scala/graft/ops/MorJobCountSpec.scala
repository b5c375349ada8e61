package graft.ops

import graft.SparkSpec
import org.apache.spark.graft.JobCounter
import org.apache.spark.sql.functions._

/** Pins the Spark job count of each call of one merge-on-read cycle
  * (the shape of the benchmark's `mor_dml` op) on a small z-ordered
  * Bloom table. The Bloom probe and every register build run on the
  * driver; a change that starts a job again fails here. */
class MorJobCountSpec extends SparkSpec {
  import spark.implicits._

  test("mor cycle: per-call job counts; the Bloom probe and every " +
      "register build start no job") {
    val root = java.nio.file.Files.createTempDirectory("graft_morjobs_")
      .toString + "/t"
    def rows(ids: org.apache.spark.sql.Dataset[java.lang.Long]) =
      ids.select($"id".as("o_orderkey"),
        ($"id" * 7 % 1000).as("o_custkey"), ($"id" * 1.25).as("o_totalprice"),
        concat(lit("k"), $"id").as("o_key_s"))
    ManifestTable.commit(rows(spark.range(0, 6000)).coalesce(1), root)
    ZTable.optimizeZOrder(spark, root, "o_orderkey", "o_custkey",
      "o_orderkey", nFiles = 4, bloomCol = Some("o_key_s"))
    // the table the cycle meets already carries a deletion vector
    ManifestTable.deleteWhereDV(spark, root, $"o_orderkey" < 20)
    val batch = rows(spark.range(100, 160).union(spark.range(9000, 9020)))
    // the budget of each call: its job count may fall, never rise
    val budget = Seq(
      "mergeBatchDV" -> 8, "updateWhereDV" -> 4, "deleteWhereDV" -> 2,
      "optimizeBinPack" -> 3, "bloomCandidateFiles" -> 0)
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
}
