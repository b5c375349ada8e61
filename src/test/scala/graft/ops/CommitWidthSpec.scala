package graft.ops

import graft.SparkSpec
import graft.pipelines.CorpusPipeline
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Small commits on a WIDE session must not fan out into one file per
  * shuffle partition: a merge, a full-replace batch, a folded batch
  * merge and a near-dup ingest batch each land the data-file count
  * pinned here, which AQE's partition coalescing produces without any
  * scoped change to the session conf. The session is a child of the
  * shared test session (`newSession()`), so widening it to 32 mutates
  * no shared conf. */
class CommitWidthSpec extends SparkSpec {

  private lazy val wide: SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.shuffle.partitions", "32")
    s
  }

  private def freshDir(): String =
    java.nio.file.Files.createTempDirectory("graft_width_").toString

  /** Data files of a directory: every non-hidden, non-metadata file. */
  private def dataFiles(dir: String): Int = {
    val p = new Path(dir)
    p.getFileSystem(wide.sparkContext.hadoopConfiguration).listStatus(p)
      .count(s => s.isFile && !s.getPath.getName.startsWith("_") &&
        !s.getPath.getName.startsWith("."))
  }

  private def versionFiles(root: String): Int = {
    val v = ManifestTable.currentVersion(wide, root).get
    dataFiles(s"$root/${ManifestTable.versionDataDir(wide, root, v)}")
  }

  private def rows(lo: Long, hi: Long, tag: String): DataFrame =
    wide.range(lo, hi).select(col("id").as("k"), (col("id") % 13).as("g"),
      concat(lit(tag), col("id").cast("string")).as("v"))

  /** A table with one committed version of 2000 rows. */
  private def table(): String = {
    val root = freshDir() + "/t"
    ManifestTable.commit(rows(0, 2000, "a"), root)
    root
  }

  // the data-file count each commit writes on the 32-wide session
  private val expected = Map("merge" -> 1, "commitBatch" -> 1,
    "mergeBatchFold" -> 1, "ingestNewNearDup" -> 1)

  test("small commits on a 32-wide session land the pinned file counts") {
    val got = scala.collection.mutable.LinkedHashMap[String, Int]()
    val m = table()
    ManifestTable.merge(wide, m, rows(1900, 2100, "b"), Seq("k"))
    got("merge") = versionFiles(m)
    val c = table()
    // a group-grain state, as the change-feed consumers commit it
    ManifestTable.commitBatch(rows(0, 2000, "c").groupBy("g")
      .agg(count(lit(1)).as("n"), max("v").as("v")), c, "c1")
    got("commitBatch") = versionFiles(c)
    val f = table()
    ManifestTable.mergeBatchFold(wide, f, Seq("k"), "f1", {
      case Some(base) => base.filter(col("g") === 3)
        .withColumn("v", concat(col("v"), lit("+")))
      case None => rows(0, 10, "x")
    })
    got("mergeBatchFold") = versionFiles(f)
    // one 250-doc batch into a bucket state that already holds a batch;
    // every seventh doc repeats an earlier text, so clusters form
    val bucket = freshDir() + "/buckets"
    def docs(lo: Int, hi: Int): DataFrame = {
      import wide.implicits._
      (lo until hi).map { i =>
        val src = if (i % 7 == 0) i - 3 else i
        (i.toLong, (0 until 24).map(j => s"w${(src * 31 + j * 17) % 997}")
          .mkString(" "))
      }.toDF("doc_id", "text")
    }
    CorpusPipeline.ingestNewNearDup(wide, docs(0, 250), bucket, "b0").count()
    CorpusPipeline.ingestNewNearDup(wide, docs(250, 500), bucket, "b1")
      .count()
    got("ingestNewNearDup") = dataFiles(s"$bucket/b1")
    assert(got.toMap == expected, s"data files per commit: $got")
  }
}
