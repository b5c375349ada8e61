package graft

import scala.concurrent.{Await, Future}
import scala.concurrent.duration._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.{ManifestTable, ZTable}
import graft.pipelines.CorpusPipeline

/** The engine shares one session between threads (Verify's query pool,
  * `ModelRegistry.runParallel`), so no engine path may change the
  * session's conf while it runs. Three threads hammer the shared test
  * session at once — merge-on-read commits, near-dup ingest batches and
  * a gold query — and each must return exactly what the same work
  * returns run alone, with the session conf untouched afterwards. */
class SessionConcurrencySpec extends SparkSpec {
  import spark.implicits._

  private val Iterations = 3

  private def freshDir(): String =
    java.nio.file.Files.createTempDirectory("graft_hammer_").toString

  private def sorted(df: DataFrame): Seq[String] =
    df.collect().map(_.mkString("|")).toSeq.sorted

  private def rows(ids: org.apache.spark.sql.Dataset[java.lang.Long]) =
    ids.select($"id".as("k"), ($"id" * 7 % 1000).as("c"),
      ($"id" * 1.25).as("p"), concat(lit("k"), $"id").as("s"))

  /** A z-ordered Bloom table, then per iteration a batch merge, an
    * update and a delete (all merge-on-read), and the same batch merged
    * copy-on-write into a plain table; the rows of both tables after
    * each iteration. */
  private def commitCycles(): Seq[Seq[String]] = {
    val (mor, cow) = (freshDir() + "/mor", freshDir() + "/cow")
    ManifestTable.commit(rows(spark.range(0, 3000)).coalesce(1), mor)
    ZTable.optimizeZOrder(spark, mor, "k", "c", "k", nFiles = 3,
      bloomCol = Some("s"))
    ManifestTable.commit(rows(spark.range(0, 3000)), cow)
    (1 to Iterations).map { i =>
      val lo = 100L * i
      val batch =
        rows(spark.range(lo, lo + 40).union(spark.range(9000 + lo, 9010 + lo)))
      ManifestTable.mergeBatchDV(spark, mor, batch, Seq("k"), batchKey = s"b$i")
      ManifestTable.updateWhereDV(spark, mor, $"k".between(lo + 500, lo + 520),
        Map("p" -> ($"p" + 1.5)))
      ManifestTable.deleteWhereDV(spark, mor, $"k".between(lo + 900, lo + 910))
      ManifestTable.mergeBatch(spark, cow, batch, Seq("k"), batchKey = s"b$i")
      sorted(ManifestTable.read(spark, mor).get) ++
        sorted(ManifestTable.read(spark, cow).get)
    }
  }

  /** Near-dup ingest batches of 120 docs into one bucket state; every
    * seventh doc repeats an earlier text. The admitted ids per batch. */
  private def nearDupBatches(): Seq[Seq[Long]] = {
    val bucket = freshDir() + "/buckets"
    (0 until Iterations).map { b =>
      val docs = (b * 120 until (b + 1) * 120).map { i =>
        val src = if (i % 7 == 0) i - 3 else i
        (i.toLong, (0 until 24).map(j => s"w${(src * 31 + j * 17) % 997}")
          .mkString(" "))
      }.toDF("doc_id", "text")
      CorpusPipeline.ingestNewNearDup(spark, docs, bucket, s"b$b")
        .select("doc_id").as[Long].collect().toSeq.sorted
    }
  }

  /** The gold query's rows, each run preceded by the session conf it
    * runs under: a conf another thread flipped shows up here even where
    * the rows do not depend on it. */
  private def goldQuery(): Seq[Seq[String]] = {
    val q = SparkEntry.queries("q44_gold_sla_rootcause")
    (1 to Iterations).map { _ =>
      spark.conf.getAll.toSeq.sorted.map { case (k, v) => s"$k=$v" } ++
        sorted(q(spark, sf("sf0.001")))
    }
  }

  test("three threads on the shared session return their serial " +
      "results and leave the session conf as it was") {
    val before = spark.conf.getAll.toSet
    val work: Seq[(String, () => Seq[Seq[Any]])] = Seq(
      "commits" -> (() => commitCycles()),
      "nearDup" -> (() => nearDupBatches()),
      "gold" -> (() => goldQuery()))
    val serial = work.map { case (n, w) => n -> w() }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(work.size)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutorService(pool)
    val concurrent = try {
      Await.result(Future.sequence(work.map { case (n, w) =>
        Future(n -> w()) }), 10.minutes)
    } finally pool.shutdown()
    serial.zip(concurrent).foreach { case ((n, s), (_, c)) =>
      val diverged = s.indices.filter(i => s(i) != c(i)).map(i =>
        s"iteration ${i + 1}: ${c(i).diff(s(i)).take(3)} in place of " +
          s"${s(i).diff(c(i)).take(3)}")
      assert(diverged.isEmpty, s"$n: the concurrent run diverged")
    }
    val after = spark.conf.getAll.toSet
    val changed = (after diff before) ++ (before diff after)
    assert(changed.isEmpty, "the session conf changed while engine work ran")
  }
}
