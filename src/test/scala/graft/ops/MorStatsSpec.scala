package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Committed skipping stats SURVIVE merge-on-read DML and the
  * maintenance commits (round-13 headline: the MoR paths used to drop
  * `_stats`/`_bloom` until the next optimizeZOrder, leaving the
  * flagship streaming-sink shape unprunable between optimizes).
  * Every appended fragment gets a fresh read-back stats row; carried
  * files keep theirs — stats(v) covers EXACTLY the version's file
  * list at every step, so pruning can never be silently wrong. */
class MorStatsSpec extends SparkSpec {
  import spark.implicits._

  private def freshRoot(): String = java.nio.file.Files
    .createTempDirectory("graft_morstats_").toString + "/tbl"

  /** stats(v) paths must equal versionFileRefs(v) exactly — a stats
    * row for a dropped file would prune wrongly, a file without a
    * stats row would be silently invisible to the planner. */
  private def statsCoverExactly(root: String, v: Long): Unit = {
    val statPaths = ZTable.stats(spark, root, v)
      .select("path").as[String].collect().toSet
    val refs = ManifestTable.versionFileRefs(spark, root, v)
      .getOrElse(fail(s"v$v is not a file-list version"))
      .toSet
    assert(statPaths == refs,
      s"v$v stats cover $statPaths but the file list is $refs")
  }

  /** y = 0 keeps the z-value monotone in x (the ZTableSpec trick):
    * base files are exact x-slices, so pruning assertions are
    * deterministic. */
  private def seed(root: String): Unit = {
    ManifestTable.commit(
      spark.range(0, 800).select($"id".as("k"), $"id".as("x"),
        lit(0L).as("y"), concat(lit("v"), $"id").as("v")),
      root)                                                        // v1
    ZTable.optimizeZOrder(spark, root, "x", "y", "k",
      nFiles = 8, bloomCol = Some("v")): Unit                      // v2
  }

  test("stats + Bloom survive mergeBatchDV fragments and " +
      "updateWhereDV; pruned scan stays exact with NO re-optimize") {
    val root = freshRoot()
    seed(root)
    // two streaming MoR merges: updates on low keys + inserts past
    // the key space; each appends a fragment that must get stats rows
    ManifestTable.mergeBatchDV(spark, root,
      spark.range(0, 20).select($"id".as("k"), $"id".as("x"),
        lit(99L).as("y"), lit("upd1").as("v")),
      Seq("k"), batchKey = "ms-b0")                                // v3
    ManifestTable.mergeBatchDV(spark, root,
      spark.range(800, 840).select($"id".as("k"), $"id".as("x"),
        lit(7L).as("y"), concat(lit("w"), $"id").as("v")),
      Seq("k"), batchKey = "ms-b1")                                // v4
    ManifestTable.updateWhereDV(spark, root, $"k" === 500L,
      Map("v" -> lit("patched")))                                  // v5
    statsCoverExactly(root, 3L)
    statsCoverExactly(root, 4L)
    statsCoverExactly(root, 5L)
    // pruning still works off the COMMITTED stats — and is exact:
    // a range far from the fragments opens a strict subset of files
    val total = ManifestTable.versionFileRefs(spark, root, 5L).get.size
    val scan = ZTable.scanXRange(spark, root, 300L, 360L)
    assert(scan.inputFiles.length < total,
      s"pruned ${scan.inputFiles.length} of $total: no pruning")
    assert(scan.select("k").as[Long].collect().sorted.toSeq ==
      (300L to 360L))
    // a range covering the INSERTED fragment finds the new rows (the
    // fragment's fresh stats row makes it visible to the planner)
    assert(ZTable.scanXRange(spark, root, 800L, 839L)
      .select("k").as[Long].collect().sorted.toSeq == (800L to 839L))
    // updated rows read post-image through the pruned scan (DV applied)
    assert(ZTable.scanXRange(spark, root, 500L, 500L)
      .select("v").as[String].collect().toSeq == Seq("patched"))
    assert(ZTable.scanXRange(spark, root, 10L, 10L)
      .select("v").as[String].head() == "upd1")
    // Bloom registers extended too: a key in an appended fragment is
    // findable, superset property holds
    val cand = ZTable.bloomCandidateFiles(spark, root, lit("w820"))
    assert(cand.nonEmpty && cand.size < total)
    assert(ZTable.readBloomCandidates(spark, root, lit("w820"))
      .filter($"v" === "w820").count() == 1L)
  }

  test("stats survive optimizeBinPack and reorg; coverage stays exact") {
    val root = freshRoot()
    seed(root)
    (0 until 3).foreach { i =>
      ManifestTable.mergeBatchDV(spark, root,
        spark.range(800 + i * 10L, 810 + i * 10L)
          .select($"id".as("k"), $"id".as("x"), lit(0L).as("y"),
            concat(lit("w"), $"id").as("v")),
        Seq("k"), batchKey = s"bp-b$i")                            // v3..v5
    }
    // every ~100-row x-slice contains a deleted key, so the carried
    // large file is guaranteed surviving vector rows (reorg has work)
    ManifestTable.deleteWhereDV(spark, root, $"k" % 50L === 7L)    // v6
    // binPack folds the three small fragments; stats must survive
    val before = ManifestTable.versionFileRefs(spark, root, 6L).get
    val fsq = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val maxLen = before.map(r => fsq.getFileStatus(
      new org.apache.hadoop.fs.Path(s"$root/$r")).getLen).max
    val v7 = ManifestTable.optimizeBinPack(spark, root,
      minFileBytes = maxLen)
    assert(v7 == 7L)
    statsCoverExactly(root, 7L)
    assert(ManifestTable.versionFileRefs(spark, root, 7L).get.size
      < before.size)
    // reorg purges the vector; stats must survive that too
    val v8 = ManifestTable.reorg(spark, root)
    assert(v8 == 8L)
    statsCoverExactly(root, 8L)
    // the pruned scan agrees with the unpruned read at every step
    val want = ManifestTable.read(spark, root).get
      .filter($"x".between(100L, 220L))
      .select("k").as[Long].collect().sorted.toSeq
    assert(ZTable.scanXRange(spark, root, 100L, 220L)
      .select("k").as[Long].collect().sorted.toSeq == want)
    // content: 830 seeded+inserted minus the deleted keys
    assert(ManifestTable.read(spark, root).get.count() ==
      830L - (0L until 830L).count(_ % 50L == 7L))
  }

  test("deleteWhereDV keeps frames verbatim; a fragment-less update " +
      "carries them; stats(v) still loud when never established") {
    val root = freshRoot()
    seed(root)
    ManifestTable.deleteWhereDV(spark, root, $"k" < 10L)           // v3
    statsCoverExactly(root, 3L)
    // matched-nothing update: zero appended rows — frames carried
    ManifestTable.updateWhereDV(spark, root, $"k" === -1L,
      Map("v" -> lit("never")))                                    // v4
    statsCoverExactly(root, 4L)
    assert(ZTable.scanXRange(spark, root, 0L, 20L)
      .select("k").as[Long].collect().sorted.toSeq == (10L to 20L))
    // a table that never z-ordered still fails loudly on stats()
    val plain = freshRoot()
    ManifestTable.commit(Seq((1L, 1L)).toDF("k", "x"), plain)
    ManifestTable.mergeDV(spark, plain,
      Seq((2L, 2L)).toDF("k", "x"), Seq("k"))
    intercept[IllegalArgumentException] {
      ZTable.stats(spark, plain, 2L)
    }
  }

  test("the constant `_stats` schema is the read-back aggregation's, " +
      "for int, long and non-int dims, with and without a Bloom column") {
    val d = java.nio.file.Files.createTempDirectory("graft_morstats_")
      .toString
    spark.range(0, 50).select($"id".cast("int").as("i"), $"id".as("l"),
      concat(lit("s"), $"id").as("s"), ($"id" / 4.0).as("dbl"),
      lit(null).cast("long").as("n"))
      .coalesce(2).write.parquet(s"$d/t")
    // the aggregation writeStats plans for its fallback, verbatim
    def readBack(x: String, y: String, bloom: Option[String]) =
      MetaIO.readParquet(spark, s"$d/t")
        .withColumn("__path", substring_index(input_file_name(), "/", -2))
        .groupBy(col("__path").as("path"))
        .agg(count(lit(1)).as("n_rows"),
          min(col(x).cast("long")).as("min_x"),
          max(col(x).cast("long")).as("max_x"),
          min(col(y).cast("long")).as("min_y"),
          max(col(y).cast("long")).as("max_y"))
        .withColumn("x_col", lit(x))
        .withColumn("y_col", lit(y))
        .withColumn("bloom_col",
          bloom.map(lit(_)).getOrElse(lit(null).cast("string")))
        .schema
    for ((x, y) <- Seq(("i", "l"), ("l", "l"), ("s", "dbl"), ("n", "i"));
        bloom <- Seq(None, Some("s")))
      assert(ZTable.statsSchema(bloom.isDefined) == readBack(x, y, bloom),
        s"dims ($x, $y), bloom $bloom")
  }

  test("20 merge/update/delete/binPack cycles: `_bloom` and `_dv` stay " +
      "at ≤ 2 parts after every binPack, the driver probe equals the " +
      "register join, and the pruned scan equals the filtered read") {
    val root = freshRoot()
    def rows(ids: org.apache.spark.sql.Dataset[java.lang.Long]) =
      ids.select($"id".as("k"), $"id".as("x"), ($"id" * 7 % 1000).as("y"),
        ($"id" * 1.25).as("amt"), concat(lit("k"), $"id").as("v"))
    ManifestTable.commit(rows(spark.range(0, 6000)).coalesce(1), root)
    ZTable.optimizeZOrder(spark, root, "x", "y", "k", nFiles = 4,
      bloomCol = Some("v"))
    def parts(frame: String): Int = {
      val v = ManifestTable.currentVersion(spark, root).get
      Option(new java.io.File(
        s"$root/${ManifestTable.versionDataDir(spark, root, v)}/$frame")
        .listFiles()).getOrElse(Array.empty).count(f =>
        !f.getName.startsWith("_") && !f.getName.startsWith("."))
    }
    (0 until 20).foreach { i =>
      val lo = 200L * i
      ManifestTable.mergeBatchDV(spark, root,
        rows(spark.range(lo, lo + 40).union(
          spark.range(10000 + 20L * i, 10020 + 20L * i))),
        Seq("k"), batchKey = s"c$i")
      ManifestTable.updateWhereDV(spark, root, $"k".between(lo + 50, lo + 80),
        Map("amt" -> ($"amt" + 1.5)))
      ManifestTable.deleteWhereDV(spark, root, $"k".between(lo + 100, lo + 110))
      ManifestTable.optimizeBinPack(spark, root, minFileBytes = 16L * 1024)
      assert(parts("_bloom") <= 2, s"cycle $i: ${parts("_bloom")} _bloom parts")
      assert(parts("_dv") <= 2, s"cycle $i: ${parts("_dv")} _dv parts")
      val v = ManifestTable.currentVersion(spark, root).get
      statsCoverExactly(root, v)
      val dir = ManifestTable.versionDataDir(spark, root, v)
      val keys = Seq(s"k${lo + 10}", s"k${10000 + 20L * i}", s"k${lo + 60}",
        "k5999", "absent")
      val local = ZTable.bloomProbePathsAny(spark, root, dir, keys)
      val joined = ManifestTable.dvLocalCarryCap.withValue(0L)(
        ZTable.bloomProbePathsAny(spark, root, dir, keys))
      assert(local.sorted == joined.sorted, s"cycle $i: probes diverge")
      // no false negative: every file holding a key is a candidate
      val holders = ManifestTable.read(spark, root).get
        .filter($"v".isin(keys: _*))
        .select(substring_index(input_file_name(), "/", -2))
        .as[String].collect().toSet
      assert(holders.subsetOf(local.map(ManifestTable.fileKeyOf).toSet),
        s"cycle $i: a file holding a key is not a candidate")
      val want = ManifestTable.read(spark, root).get
        .filter($"x".between(lo, lo + 400)).select("k", "amt")
        .as[(Long, Double)].collect().sorted.toSeq
      assert(ZTable.scanXRange(spark, root, lo, lo + 400)
        .select("k", "amt").as[(Long, Double)].collect().sorted.toSeq ==
        want, s"cycle $i: pruned scan differs from the filtered read")
    }
  }
}
