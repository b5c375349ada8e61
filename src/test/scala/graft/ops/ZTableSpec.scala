package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Committed data skipping ([[ZTable]]): the z-order layout AND its
  * per-file min/max + Bloom stats live INSIDE the transactional
  * version — restart-safe, time-travelable, and consistent with DML
  * by construction. Scoped DML rewrites only stat-intersecting files
  * and carries the rest by REFERENCE (path identity, spec-pinned). */
class ZTableSpec extends SparkSpec {
  import spark.implicits._

  private def freshRoot(): String = java.nio.file.Files
    .createTempDirectory("graft_ztable_").toString + "/tbl"

  /** 800 rows, x = k (unique, uniform), y = 0 so the z-value is
    * monotone in x — file ranges are exact x-slices and pruning
    * assertions are deterministic. */
  private def seed(root: String): Unit =
    ManifestTable.commit(
      spark.range(0, 800).select($"id".as("k"), $"id".as("x"),
        lit(0L).as("y"), concat(lit("v"), $"id").as("v")),
      root): Unit

  test("optimizeZOrder: dataChange-false commit — content identical, " +
      "change feed EMPTY, committed stats cover every row, pruned scan " +
      "opens a strict subset of files and returns the exact answer") {
    val root = freshRoot()
    seed(root)
    val v2 = ZTable.optimizeZOrder(spark, root, "x", "y", "k",
      nFiles = 8, bloomCol = Some("v"))
    assert(v2 == 2L)
    // logically a no-op
    assert(ManifestTable.changes(spark, root, 1L, 2L, Seq("k")).isEmpty,
      "the feed across an optimizeZOrder commit must be empty")
    assert(ManifestTable.read(spark, root).get.count() == 800L)
    // committed stats: one row per file, n_rows sums to the table
    val st = ZTable.stats(spark, root, 2L)
    val files = st.select("path", "n_rows", "min_x", "max_x")
      .as[(String, Long, Long, Long)].collect()
    assert(files.map(_._2).sum == 800L)
    assert(files.length > 1, "nFiles=8 must yield multiple files")
    // restart-safe pruned read: everything resolves from disk
    val scan = ZTable.scanXRange(spark, root, 100L, 180L)
    assert(scan.inputFiles.length < files.length,
      s"pruned ${scan.inputFiles.length} of ${files.length}: no pruning")
    assert(scan.select("k").as[Long].collect().sorted.toSeq ==
      (100L to 180L))
    // committed Bloom: candidates are a strict subset that contains
    // the true file (no false negatives)
    val cand = ZTable.bloomCandidateFiles(spark, root, lit("v123"))
    assert(cand.nonEmpty && cand.size < files.length,
      s"bloom candidates ${cand.size} of ${files.length}")
    val hit = spark.read.parquet(cand.map(p => s"$root/$p"): _*)
      .filter($"v" === "v123").count()
    assert(hit == 1L, "the true file must be among the candidates")
  }

  test("row-count-scaled Bloom registers: point probes stay selective " +
      "far past the legacy 8192-bit saturation point; geometry " +
      "survives the MoR carry-all extend") {
    val root = freshRoot()
    // 40k distinct keys over 8 files — 5k keys/file saturates a fixed
    // 8192-bit register (~2.3k keys; measured 627/640 files opened at
    // 100×); the scaled geometry m = max(8192, 8·n_rows) keeps the
    // probe at a few percent of files at any file size
    ManifestTable.commit(
      spark.range(0, 40000).select($"id".as("k"), $"id".as("x"),
        lit(0L).as("y"), concat(lit("v"), $"id").as("v")), root)
    ZTable.optimizeZOrder(spark, root, "x", "y", "k", nFiles = 8,
      bloomCol = Some("v"))
    val nFiles = ZTable.stats(spark, root, 2L).count()
    val cand = ZTable.bloomCandidateFiles(spark, root, lit("v31234"))
    assert(cand.size <= 3 && cand.size < nFiles / 2,
      s"scaled registers must stay selective: ${cand.size}/$nFiles")
    assert(spark.read.parquet(cand.map(p => s"$root/$p"): _*)
      .filter($"v" === "v31234").count() == 1L,
      "the true file must be among the candidates")
    // the carry-all extend (MoR merge fragment) keeps the geometry:
    // carried registers probe at their written m, the fragment at its
    ManifestTable.mergeDV(spark, root,
      spark.range(50000, 50100).select($"id".as("k"), $"id".as("x"),
        lit(0L).as("y"), concat(lit("v"), $"id").as("v")),
      Seq("k"))
    // present keys of the fragment and of carried files: each key's
    // candidates hold its file, and the MEAN candidate count stays
    // selective (one key's count follows the z-order layout, which
    // shifts with suite order; the mean over 12 keys does not)
    val present = (0 until 6).map(i => s"v${50003 + 17 * i}") ++
      (0 until 6).map(i => s"v${6007 * i + 11}")
    val c2 = present.map(k =>
      k -> ZTable.bloomCandidateFiles(spark, root, lit(k))).toMap
    val holder = spark.read
      .parquet(c2.values.flatten.toSeq.distinct.map(p => s"$root/$p"): _*)
      .filter($"v".isin(present: _*))
      .select($"v", $"_metadata.file_path").as[(String, String)]
      .collect().toMap
    present.foreach { k =>
      assert(c2(k).nonEmpty && holder.get(k).exists(f =>
        c2(k).exists(p => f.endsWith(s"/$p"))),
        s"$k: candidates ${c2(k)} miss its file ${holder.get(k)}")
    }
    val meanCand = c2.values.map(_.size).sum.toDouble / present.size
    assert(meanCand <= 3.0,
      s"scaled registers must stay selective: mean $meanCand candidates")
    // keys in no file: the MEAN false-positive rate over 20 absent
    // keys stays near the ~5% design FPR, nowhere near the ~50%+ of a
    // saturated register. (A single-key `size <= 1` assert had a ~7%
    // chance of failing on an unlucky layout even at design FPR —
    // repartitionByRange's sampling seed follows session RDD ids, so
    // the layout, and with it each key's luck, shifts with suite
    // composition. The mean over 20 keys bounds saturation far more
    // tightly and cannot flake on one key's tail.)
    val nF = ZTable.stats(spark, root, 3L).count()
    val fpHits = (0 until 20).map(i =>
      ZTable.bloomCandidateFiles(spark, root, lit(s"vnope$i-absent"))
        .size).sum
    assert(fpHits <= (0.15 * 20 * nF).toInt,
      s"absent-key probes hit $fpHits of ${20 * nF} file slots — " +
        "registers look saturated")
  }

  test("deleteWhereScoped: only intersecting files rewritten; untouched " +
      "files carried by PATH IDENTITY; CDF identical to the " +
      "full-rewrite delete; stats stay consistent so skipping keeps " +
      "working after DML") {
    val root = freshRoot()
    seed(root)
    ZTable.optimizeZOrder(spark, root, "x", "y", "k", nFiles = 8)
    val pre = ZTable.stats(spark, root, 2L)
      .select("path").as[String].collect().toSet
    // delete x in [100, 180] where k is even
    val v3 = ZTable.deleteWhereScoped(spark, root, 100L, 180L,
      extra = $"k" % 2 === 0)
    assert(v3 == 3L)
    val expectKept = (0L until 800L)
      .filterNot(k => k >= 100 && k <= 180 && k % 2 == 0)
    assert(ManifestTable.read(spark, root).get
      .select("k").as[Long].collect().sorted.toSeq == expectKept)
    // path identity: v3's untouched stats rows keep their v2 paths
    val post = ZTable.stats(spark, root, 3L)
      .select("path").as[String].collect().toSet
    val carried = post.intersect(pre)
    assert(carried.nonEmpty, "no file was carried by reference")
    assert(post.size > carried.size, "some file must have been rewritten")
    // every carried path still lives in the OLD version dir on disk —
    // reused, not rewritten (the rewritten ones live under d3-*)
    assert(carried.forall(_.startsWith("d2-")), s"carried: $carried")
    // the feed across the scoped delete = exact retraction rows, same
    // as the full-rewrite deleteWhere would emit
    val feed = ManifestTable.changes(spark, root, 2L, 3L, Seq("k"))
    val deleted = feed.filter($"_change_type" === "delete")
      .select("k").as[Long].collect().sorted.toSeq
    assert(deleted ==
      (100L to 180L).filter(_ % 2 == 0), s"feed: $deleted")
    assert(feed.count() == deleted.size.toLong,
      "scoped delete must emit ONLY delete rows")
    // skipping still works off the NEW version's committed stats
    val scan = ZTable.scanXRange(spark, root, 300L, 340L)
    assert(scan.select("k").as[Long].collect().sorted.toSeq ==
      (300L to 340L))
    assert(scan.inputFiles.length < post.size)
  }

  test("updateWhereScoped: pre-update-row semantics on rewritten files " +
      "only; pre/post feed matches; carried Bloom rows stay valid") {
    val root = freshRoot()
    seed(root)
    ZTable.optimizeZOrder(spark, root, "x", "y", "k", nFiles = 8,
      bloomCol = Some("v"))
    val v3 = ZTable.updateWhereScoped(spark, root, 200L, 260L,
      Map("v" -> upper($"v")))
    assert(v3 == 3L)
    val got = ManifestTable.read(spark, root).get
      .filter($"k".between(195L, 265L))
      .select("k", "v").as[(Long, String)].collect().sortBy(_._1)
    got.foreach { case (k, v) =>
      val expect = if (k >= 200 && k <= 260) s"V$k" else s"v$k"
      assert(v == expect, s"k=$k got $v")
    }
    // feed: one pre/post pair per updated key, nothing else
    val feed = ManifestTable.changes(spark, root, 2L, 3L, Seq("k"))
    assert(feed.filter($"_change_type" === "update_postimage").count()
      == 61L)
    assert(feed.count() == 122L)
    // Bloom rows were carried for untouched files and recomputed for
    // rewritten ones: a point probe on an UNTOUCHED key still finds it
    val cand = ZTable.bloomCandidateFiles(spark, root, lit("v700"))
    val hit = spark.read.parquet(cand.map(p => s"$root/$p"): _*)
      .filter($"v" === "v700").count()
    assert(hit == 1L)
    // ... and a rewritten key is findable under its NEW value
    val cand2 = ZTable.bloomCandidateFiles(spark, root, lit("V230"))
    val hit2 = spark.read.parquet(cand2.map(p => s"$root/$p"): _*)
      .filter($"v" === "V230").count()
    assert(hit2 == 1L)
  }

  test("vacuum is reference-aware: a dir referenced by a retained " +
      "file-list version survives keepLast, and is reclaimed once " +
      "nothing references it") {
    val root = freshRoot()
    val fs = new org.apache.hadoop.fs.Path(root).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    def dirExists(prefix: String): Boolean =
      fs.listStatus(new org.apache.hadoop.fs.Path(root))
        .exists(_.getPath.getName.startsWith(prefix))
    seed(root)                                                   // v1
    ZTable.optimizeZOrder(spark, root, "x", "y", "k", nFiles = 8) // v2
    ZTable.deleteWhereScoped(spark, root, 0L, 50L)               // v3
    // v3 references files inside v2's dir: keepLast=1 must keep d2-*
    ManifestTable.vacuum(spark, root, keepLast = 1)
    assert(!dirExists("d1-"), "v1's dir is unreferenced: reclaimed")
    assert(dirExists("d2-"), "v2's dir is referenced by v3: kept")
    assert(ManifestTable.read(spark, root).get.count() == 749L)
    // a fresh full rewrite (optimize) drops the references …
    ZTable.optimizeZOrder(spark, root, "x", "y", "k", nFiles = 4) // v4
    ManifestTable.vacuum(spark, root, keepLast = 1)
    assert(!dirExists("d2-") && !dirExists("d3-"),
      "nothing references d2-/d3- anymore: reclaimed")
    assert(ManifestTable.read(spark, root).get.count() == 749L)
  }

  test("restore: an old version's content becomes the current version " +
      "by REFERENCE (zero data copied), its committed stats survive, " +
      "the feed across the restore is the DML's inverse, and vacuum " +
      "keeps the referenced dirs alive") {
    val root = freshRoot()
    val fs = new org.apache.hadoop.fs.Path(root).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    seed(root)                                                    // v1
    ZTable.optimizeZOrder(spark, root, "x", "y", "k", nFiles = 8) // v2
    ZTable.deleteWhereScoped(spark, root, 100L, 180L)             // v3
    assert(ManifestTable.read(spark, root).get.count() == 719L)
    val v4 = ManifestTable.restore(spark, root, 2L)               // v4
    assert(v4 == 4L)
    // content = v2's, history preserved
    assert(ManifestTable.read(spark, root).get.count() == 800L)
    assert(ManifestTable.readVersion(spark, root, 3L).count() == 719L)
    // zero data copied: every data file path of v4 lives in d2-*
    val paths = ZTable.stats(spark, root, 4L)
      .select("path").as[String].collect()
    assert(paths.nonEmpty && paths.forall(_.startsWith("d2-")),
      s"restore must reference, not copy: ${paths.take(3).toSeq}")
    // committed skipping works off the restored version's stats
    val scan = ZTable.scanXRange(spark, root, 100L, 180L)
    assert(scan.select("k").as[Long].collect().sorted.toSeq ==
      (100L to 180L))
    assert(scan.inputFiles.length < paths.length)
    // the feed across the restore is exactly the delete's inverse
    val feed = ManifestTable.changes(spark, root, 3L, 4L, Seq("k"))
    assert(feed.filter($"_change_type" === "insert")
      .select("k").as[Long].collect().sorted.toSeq == (100L to 180L))
    assert(feed.count() == 81L)
    // vacuum keeps d2- alive (referenced by retained v4)
    ManifestTable.vacuum(spark, root, keepLast = 1)
    assert(fs.listStatus(new org.apache.hadoop.fs.Path(root))
      .exists(_.getPath.getName.startsWith("d2-")))
    assert(ManifestTable.read(spark, root).get.count() == 800L)
    // restoring a vacuumed version fails loudly
    intercept[IllegalArgumentException] {
      ManifestTable.restore(spark, root, 1L)
    }
  }

  test("scoped DML refuses degenerate scopes loudly (nothing " +
      "intersects / everything intersects) and leaves the table " +
      "untouched") {
    val root = freshRoot()
    seed(root)
    ZTable.optimizeZOrder(spark, root, "x", "y", "k", nFiles = 8)
    intercept[IllegalArgumentException] {
      ZTable.deleteWhereScoped(spark, root, 5000L, 6000L) // no overlap
    }
    intercept[IllegalArgumentException] {
      ZTable.deleteWhereScoped(spark, root, 0L, 799L) // full overlap
    }
    assert(ManifestTable.currentVersion(spark, root).contains(2L))
    assert(ManifestTable.read(spark, root).get.count() == 800L)
    // scoped DML without committed stats fails with the actionable hint
    val bare = freshRoot()
    ManifestTable.commit(Seq((1L, 2L, 3L)).toDF("k", "x", "y"), bare)
    val e = intercept[IllegalArgumentException] {
      ZTable.deleteWhereScoped(spark, bare, 0L, 10L)
    }
    assert(e.getMessage.contains("optimizeZOrder"))
  }

  test("readBloomCandidates resolves its version once: candidates of a " +
      "held snapshot read under its own deletion vector while a newer " +
      "MoR merge lands") {
    val root = freshRoot()
    seed(root)
    ZTable.optimizeZOrder(spark, root, "x", "y", "k", nFiles = 8,
      bloomCol = Some("v"))                                    // v2
    val held = ManifestTable.latest(spark, root).get
    assert(held.v == 2L)
    // v3 updates the probed key: its old row is deleted by a vector,
    // its new row lands in a fresh file that the Bloom index lists
    ManifestTable.mergeBatchDV(spark, root,
      Seq((123L, 123L, 1L, "v123")).toDF("k", "x", "y", "v"), Seq("k"),
      batchKey = "b1")
    assert(ManifestTable.currentVersion(spark, root).contains(3L))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.filter($"v" === "v123").select("k", "x", "y", "v")
        .as[(Long, Long, Long, String)].collect().toSeq
    val got = rows(ZTable.readBloomCandidates(spark, root, held, lit("v123")))
    assert(got == rows(ManifestTable.readVersion(spark, root, 2L)))
    assert(got == Seq((123L, 123L, 0L, "v123")))
    assert(rows(ZTable.readBloomCandidates(spark, root, lit("v123"))) ==
      Seq((123L, 123L, 1L, "v123")))
  }
}
