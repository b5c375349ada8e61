package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions.{col, expr, lit}

/** Shallow CLONE (zero-copy table fork), DESCRIBE HISTORY (the audit
  * log), and CHECK constraints (reject-before-commit) on the manifest
  * store. */
class CloneHistoryChecksSpec extends SparkSpec {
  import spark.implicits._

  private def freshBase(): String = java.nio.file.Files
    .createTempDirectory("graft_chc_").toString

  private def kv(rows: (Long, Long)*) = rows.toSeq.toDF("k", "n")

  // ---------------------------------------------------------- clone

  test("cloneShallow is zero-copy and the histories diverge") {
    val base = freshBase()
    val (src, cl) = (s"$base/src", s"$base/cl")
    ManifestTable.commit(kv(1L -> 10L, 2L -> 20L, 3L -> 30L), src)
    ManifestTable.cloneShallow(spark, src, cl)
    // zero-copy: every file the clone's v1 references lives OUTSIDE
    // the clone root (absolute refs into the source)
    val refs = ManifestTable.fileList(spark, cl,
      ManifestTable.versionDataDir(spark, cl, 1L)).get
    assert(refs.nonEmpty && refs.forall(ManifestTable.isExternalRef))
    assert(refs.forall(_.startsWith(src)))
    // same content as the source at clone time
    assert(ManifestTable.read(spark, cl).get.as[(Long, Long)]
      .collect().sorted.toSeq == Seq((1L, 10L), (2L, 20L), (3L, 30L)))
    // diverge: merge into the clone, delete on the source
    ManifestTable.merge(spark, cl, kv(4L -> 40L), Seq("k"))
    ManifestTable.deleteWhere(spark, src, col("k") === 1L)
    assert(ManifestTable.read(spark, cl).get.as[(Long, Long)]
      .collect().sorted.toSeq ==
      Seq((1L, 10L), (2L, 20L), (3L, 30L), (4L, 40L)))
    assert(ManifestTable.read(spark, src).get.as[(Long, Long)]
      .collect().sorted.toSeq == Seq((2L, 20L), (3L, 30L)))
  }

  test("clone of a clone keeps already-absolute refs verbatim") {
    val base = freshBase()
    val (src, c1, c2) = (s"$base/src", s"$base/c1", s"$base/c2")
    ManifestTable.commit(kv(1L -> 10L, 2L -> 20L), src)
    ManifestTable.cloneShallow(spark, src, c1)
    ManifestTable.cloneShallow(spark, c1, c2)
    val refs = ManifestTable.fileList(spark, c2,
      ManifestTable.versionDataDir(spark, c2, 1L)).get
    // the grandclone still points at the ORIGINAL source files
    assert(refs.forall(_.startsWith(src)))
    assert(ManifestTable.read(spark, c2).get.as[(Long, Long)]
      .collect().sorted.toSeq == Seq((1L, 10L), (2L, 20L)))
  }

  test("vacuuming the source breaks the clone LOUDLY, not silently") {
    val base = freshBase()
    val (src, cl) = (s"$base/src", s"$base/cl")
    ManifestTable.commit(kv(1L -> 10L), src)
    ManifestTable.cloneShallow(spark, src, cl)
    // source moves on and reclaims the cloned version's files
    ManifestTable.commit(kv(1L -> 11L), src)
    ManifestTable.vacuum(spark, src, keepLast = 1)
    val e = intercept[Exception] {
      ManifestTable.read(spark, cl).get.collect()
    }
    assert(e != null) // read of borrowed-then-vacuumed files fails
  }

  test("vacuuming the CLONE never touches the source's files") {
    val base = freshBase()
    val (src, cl) = (s"$base/src", s"$base/cl")
    ManifestTable.commit(kv(1L -> 10L, 2L -> 20L), src)
    ManifestTable.cloneShallow(spark, src, cl)
    ManifestTable.merge(spark, cl, kv(3L -> 30L), Seq("k")) // cl v2
    ManifestTable.merge(spark, cl, kv(4L -> 40L), Seq("k")) // cl v3
    ManifestTable.vacuum(spark, cl, keepLast = 1, dropOrphans = true,
      orphanAgeFloorMs = 0L)
    // the source is intact and the clone's current version reads fine
    assert(ManifestTable.read(spark, src).get.count() == 2L)
    assert(ManifestTable.read(spark, cl).get.count() == 4L)
  }

  test("clone carries committed skipping stats; scanXRange prunes") {
    val base = freshBase()
    val (src, cl) = (s"$base/src", s"$base/cl")
    val df = spark.range(1, 401)
      .select(col("id").as("x"), (col("id") % 32).as("y"),
        col("id").as("k"))
    ManifestTable.commit(df, src)
    ZTable.optimizeZOrder(spark, src, "x", "y", "k", nFiles = 8)
    ManifestTable.cloneShallow(spark, src, cl)
    val scan = ZTable.scanXRange(spark, cl, 10L, 60L)
    assert(scan.count() == 51L)
    // pruned: opened strictly fewer files than the version carries
    assert(scan.inputFiles.length < 8)
    // and a scoped DML on the clone still works off the carried stats
    ZTable.deleteWhereScoped(spark, cl, 1L, 50L)
    assert(ManifestTable.read(spark, cl).get.count() == 350L)
    assert(ManifestTable.read(spark, src).get.count() == 400L)
  }

  test("clone keeps the Bloom register geometry: every present key's " +
      "file stays a candidate and a point read finds the key") {
    val base = freshBase()
    val (src, cl) = (s"$base/src", s"$base/cl")
    // 4 files of 5000 rows: each register is scaled past the legacy
    // fixed 8192 bits (more than 1024 rows per file)
    ManifestTable.commit(spark.range(0, 20000).select(col("id").as("k"),
      (col("id") % 97).as("x"), (col("id") / 100).as("y"),
      col("id").cast("string").as("s")).coalesce(1), src)
    ZTable.optimizeZOrder(spark, src, "x", "y", "k", nFiles = 4,
      bloomCol = Some("s"))
    ManifestTable.cloneShallow(spark, src, cl)
    Seq(5L, 7001L, 12345L, 19999L).foreach { k =>
      val key = k.toString
      val holders = ManifestTable.read(spark, src).get
        .filter(col("s") === key).select(col("_metadata.file_path"))
        .as[String].collect().map(ManifestTable.fileKeyOf).toSet
      assert(holders.size == 1, s"key $key")
      val cands = ZTable.bloomCandidateFiles(spark, cl, lit(key))
        .map(ManifestTable.fileKeyOf).toSet
      assert(holders.subsetOf(cands), s"key $key: candidates $cands")
      assert(ManifestTable.read(spark, cl).get.filter(col("s") === key)
        .count() == ManifestTable.read(spark, src).get
          .filter(col("s") === key).count(), s"key $key")
    }
  }

  test("cloneDeep materializes — no external refs, hazard-free") {
    val base = freshBase()
    val (src, cl) = (s"$base/src", s"$base/cl")
    ManifestTable.commit(kv(1L -> 10L, 2L -> 20L), src)
    ManifestTable.cloneDeep(spark, src, cl)
    // the deep clone's v1 is a plain local dir — no _files manifest
    assert(ManifestTable.fileList(spark, cl,
      ManifestTable.versionDataDir(spark, cl, 1L)).isEmpty)
    // source vacuumed away entirely: the deep clone is unaffected
    ManifestTable.commit(kv(1L -> 11L), src)
    ManifestTable.vacuum(spark, src, keepLast = 1)
    assert(ManifestTable.read(spark, cl).get.as[(Long, Long)]
      .collect().sorted.toSeq == Seq((1L, 10L), (2L, 20L)))
  }

  // -------------------------------------------------------- convert

  test("convertInPlace: legacy dir becomes v1 by reference") {
    val root = freshBase() + "/tbl"
    kv(1L -> 10L, 2L -> 20L, 3L -> 30L).write.parquet(s"$root/raw")
    assert(ManifestTable.convertInPlace(spark, root, "raw") == 1L)
    val refs = ManifestTable.fileList(spark, root,
      ManifestTable.versionDataDir(spark, root, 1L)).get
    assert(refs.nonEmpty && refs.forall(_.startsWith("raw/")))
    // the full surface applies on top of the converted v1
    ManifestTable.merge(spark, root, kv(4L -> 40L), Seq("k"))
    ManifestTable.deleteWhere(spark, root, col("k") === 1L)
    assert(ManifestTable.read(spark, root).get.as[(Long, Long)]
      .collect().sorted.toSeq ==
      Seq((2L, 20L), (3L, 30L), (4L, 40L)))
    // time travel back to the converted version still works
    assert(ManifestTable.readVersion(spark, root, 1L).count() == 3L)
    // vacuum protects the legacy dir while v1-referencing versions
    // are retained, and never deletes user-placed conversion sources
    ManifestTable.vacuum(spark, root, keepLast = 1,
      dropOrphans = true, orphanAgeFloorMs = 0L)
    assert(ManifestTable.read(spark, root).get.count() == 3L)
    // double-convert and absolute dataDir are refused
    intercept[IllegalArgumentException] {
      ManifestTable.convertInPlace(spark, root, "raw")
    }
  }

  // ---------------------------------------------- timestamp travel

  test("versionAsOf / readAsOf resolve TIMESTAMP AS OF semantics") {
    val root = freshBase() + "/tbl"
    ManifestTable.commit(kv(1L -> 10L), root)
    val afterV1 = System.currentTimeMillis()
    Thread.sleep(15)
    ManifestTable.commit(kv(1L -> 11L), root)
    Thread.sleep(15)
    ManifestTable.commit(kv(1L -> 12L), root)
    val now = System.currentTimeMillis()
    assert(ManifestTable.versionAsOf(spark, root, afterV1) == 1L)
    assert(ManifestTable.versionAsOf(spark, root, now) == 3L)
    assert(ManifestTable.readAsOf(spark, root, afterV1)
      .as[(Long, Long)].collect().toSeq == Seq((1L, 10L)))
    // a bound before the first commit fails loudly
    intercept[IllegalArgumentException] {
      ManifestTable.versionAsOf(spark, root, afterV1 - 3600 * 1000L)
    }
    // history carries monotone non-null commit timestamps
    val ts = ManifestTable.history(spark, root)
      .orderBy(col("version")).select("commit_ts")
      .as[Option[Long]].collect().toSeq
    assert(ts.forall(_.isDefined) && ts == ts.sorted)
  }

  // -------------------------------------------------------- history

  test("history records version, operation, batch key, file-list") {
    val base = freshBase()
    val root = base + "/tbl"
    def history(r: String) = ManifestTable.history(spark, r)
      .select("version", "operation", "batch_key", "is_filelist")
      .as[(Long, String, Option[String], Boolean)].collect().toSeq
    ManifestTable.commit(kv(1L -> 10L, 2L -> 20L), root)          // v1
    ManifestTable.mergeBatch(spark, root, kv(3L -> 30L), Seq("k"),
      batchKey = "run-7")                                          // v2
    ManifestTable.deleteWhere(spark, root, col("k") === 1L)        // v3
    ManifestTable.optimize(spark, root)                            // v4
    ManifestTable.restore(spark, root, 2L)                         // v5
    ManifestTable.commitBatch(kv(1L -> 10L, 2L -> 20L), root, "cb-1") // v6
    ManifestTable.mergeEvolve(spark, root, kv(4L -> 40L), Seq("k")) // v7
    ManifestTable.updateWhere(spark, root, col("k") === 2L,
      Map("n" -> lit(21L)))                                        // v8
    ZTable.optimizeZOrder(spark, root, "k", "n", "k", nFiles = 1)  // v9
    assert(history(root) == Seq(
      (1L, "WRITE", None, false),
      (2L, "MERGE", Some("run-7"), false),
      (3L, "DELETE", None, false),
      (4L, "OPTIMIZE", None, false),
      (5L, "RESTORE", None, true),
      (6L, "WRITE", Some("cb-1"), false),
      (7L, "MERGE", None, false),
      (8L, "UPDATE", None, false),
      (9L, "OPTIMIZE", None, false)))
    // every other first commit of a root
    kv(5L -> 50L).write.parquet(s"$base/conv/raw")
    val firsts: Seq[(String, String => Any,
        (Long, String, Option[String], Boolean))] = Seq(
      ("part", r => PartitionedTable.commitPartitioned(spark, r,
        kv(1L -> 10L), "n", batchKey = "p-1"),
        (1L, "WRITE", Some("p-1"), false)),
      ("dv", r => ManifestTable.mergeBatchDV(spark, r, kv(1L -> 10L),
        Seq("k"), batchKey = "dv-1"), (1L, "MERGE", Some("dv-1"), false)),
      ("deep", ManifestTable.cloneDeep(spark, root, _),
        (1L, "CLONE", None, false)),
      ("shallow", ManifestTable.cloneShallow(spark, root, _),
        (1L, "CLONE", None, true)),
      ("conv", ManifestTable.convertInPlace(spark, _, "raw"),
        (1L, "CONVERT", None, true)),
      ("index", IndexStore.save(ProductQuantizer.IvfPqIndex(kv(1L -> 1L),
        kv(2L -> 2L), kv(3L -> 3L)), _), (1L, "WRITE", None, false)))
    firsts.foreach { case (name, first, want) =>
      first(s"$base/$name")
      assert(history(s"$base/$name") == Seq(want), name)
    }
  }

  test("history survives vacuum: record kept, data_retained=false") {
    val root = freshBase() + "/tbl"
    ManifestTable.commit(kv(1L -> 10L), root)
    ManifestTable.commit(kv(1L -> 11L), root)
    ManifestTable.commit(kv(1L -> 12L), root)
    ManifestTable.vacuum(spark, root, keepLast = 1)
    val h = ManifestTable.history(spark, root)
      .select("version", "operation", "data_retained")
      .as[(Long, Option[String], Boolean)].collect().toSeq
    assert(h == Seq((1L, None, false), (2L, None, false),
      (3L, Some("WRITE"), true)))
  }

  // --------------------------------------------------------- checks

  test("a violating commit is rejected BEFORE anything lands") {
    val root = freshBase() + "/tbl"
    Checks.setCheck(spark, root, "n_positive", "n > 0")
    ManifestTable.commit(kv(1L -> 10L), root)
    val e = intercept[CheckViolationException] {
      ManifestTable.commit(kv(1L -> 10L, 2L -> -5L), root)
    }
    assert(e.check == "n_positive")
    // nothing advanced, nothing torn
    assert(ManifestTable.currentVersion(spark, root).contains(1L))
    assert(ManifestTable.read(spark, root).get.count() == 1L)
  }

  test("NULL check result passes (ANSI CHECK: unknown ≠ violation)") {
    val root = freshBase() + "/tbl"
    Checks.setCheck(spark, root, "n_positive", "n > 0")
    val df = Seq((1L, Some(10L)), (2L, None: Option[Long])).toDF("k", "n")
    ManifestTable.commit(df, root) // NULL n passes
    assert(ManifestTable.read(spark, root).get.count() == 2L)
  }

  test("merge enforces on the source batch; update on the post-image") {
    val root = freshBase() + "/tbl"
    Checks.setCheck(spark, root, "n_positive", "n > 0")
    ManifestTable.commit(kv(1L -> 10L, 2L -> 20L), root)
    intercept[CheckViolationException] {
      ManifestTable.merge(spark, root, kv(3L -> -1L), Seq("k"))
    }
    ManifestTable.merge(spark, root, kv(3L -> 30L), Seq("k")) // valid
    // the UPDATE's SET flips its own predicate column — enforcement
    // must evaluate the WHERE against PRE-update values to catch it
    intercept[CheckViolationException] {
      ManifestTable.updateWhere(spark, root, col("n") > 15L,
        Map("n" -> lit(-1L)))
    }
    assert(ManifestTable.currentVersion(spark, root).contains(2L))
    assert(ManifestTable.read(spark, root).get.as[(Long, Long)]
      .collect().sorted.toSeq ==
      Seq((1L, 10L), (2L, 20L), (3L, 30L)))
  }

  test("scoped update enforces checks on the matched post-image") {
    val root = freshBase() + "/tbl"
    val df = spark.range(1, 101)
      .select(col("id").as("x"), (col("id") % 8).as("y"),
        col("id").as("k"), lit(5L).as("n"))
    ManifestTable.commit(df, root)
    ZTable.optimizeZOrder(spark, root, "x", "y", "k", nFiles = 4)
    Checks.setCheck(spark, root, "n_positive", "n > 0")
    intercept[CheckViolationException] {
      ZTable.updateWhereScoped(spark, root, 10L, 20L,
        Map("n" -> lit(-1L)))
    }
    // valid scoped update still commits
    ZTable.updateWhereScoped(spark, root, 10L, 20L, Map("n" -> lit(7L)))
    assert(ManifestTable.read(spark, root).get
      .filter(col("n") === 7L).count() == 11L)
  }

  test("registration validates the expression and is first-wins") {
    val root = freshBase() + "/tbl"
    intercept[Exception] {
      Checks.setCheck(spark, root, "broken", "n > (")
    }
    Checks.setCheck(spark, root, "c1", "n > 0")
    intercept[IllegalArgumentException] {
      Checks.setCheck(spark, root, "c1", "n > 1")
    }
    Checks.dropCheck(spark, root, "c1")
    Checks.setCheck(spark, root, "c1", "n > 1") // redefinable after drop
    assert(Checks.checks(spark, root) == Map("c1" -> "n > 1"))
  }

  test("validate certifies pre-existing data after a late check") {
    val root = freshBase() + "/tbl"
    ManifestTable.commit(kv(1L -> 10L, 2L -> -5L, 3L -> -6L), root)
    Checks.setCheck(spark, root, "n_positive", "n > 0")
    Checks.setCheck(spark, root, "k_small", "k < 100")
    assert(Checks.validate(spark, root) ==
      Map("n_positive" -> 2L, "k_small" -> 0L))
  }

  // ----------------------------------------------------- generated

  test("generated columns: computed when missing, validated when given") {
    val root = freshBase() + "/tbl"
    Generated.setGenerated(spark, root, "n2", "n * 2")
    ManifestTable.commit(kv(1L -> 10L), root) // computed
    assert(ManifestTable.read(spark, root).get
      .as[(Long, Long, Long)].collect().toSeq == Seq((1L, 10L, 20L)))
    // provided-and-correct passes, provided-and-wrong rejects whole
    ManifestTable.merge(spark, root,
      Seq((2L, 20L, 40L)).toDF("k", "n", "n2"), Seq("k"))
    val e = intercept[GeneratedColumnViolation] {
      ManifestTable.merge(spark, root,
        Seq((3L, 30L, 999L)).toDF("k", "n", "n2"), Seq("k"))
    }
    assert(e.column == "n2")
    assert(ManifestTable.currentVersion(spark, root).contains(2L))
    // checks compose: they see the completed (generated) row
    Checks.setCheck(spark, root, "n2_bounded", "n2 < 100")
    intercept[CheckViolationException] {
      ManifestTable.merge(spark, root, kv(4L -> 60L), Seq("k")) // n2=120
    }
    ManifestTable.merge(spark, root, kv(4L -> 40L), Seq("k"))
    assert(ManifestTable.read(spark, root).get.count() == 3L)
  }

  // ------------------------------------------- vacuum plan / detail

  test("vacuumPlan is the exact dry-run of vacuum") {
    val root = freshBase() + "/tbl"
    ManifestTable.commit(kv(1L -> 10L), root)
    ManifestTable.commit(kv(1L -> 11L), root)
    ManifestTable.commit(kv(1L -> 12L), root)
    // an orphan from a crashed attempt
    ManifestTable.writeVersionData(kv(9L -> 90L).toDF("k", "n"), root, 9L)
    val plan = ManifestTable.vacuumPlan(spark, root, keepLast = 1,
      dropOrphans = true, orphanAgeFloorMs = 0L)
    assert(plan.count(_.startsWith("d1-")) == 1)
    assert(plan.count(_.startsWith("d2-")) == 1)
    assert(plan.count(_.startsWith("d9-")) == 1)
    assert(plan.size == 3)
    // planning deleted NOTHING
    assert(ManifestTable.readVersion(spark, root, 1L).count() == 1L)
    // the real vacuum deletes exactly the plan
    ManifestTable.vacuum(spark, root, keepLast = 1,
      dropOrphans = true, orphanAgeFloorMs = 0L)
    val left = ManifestTable.vacuumPlan(spark, root, keepLast = 1,
      dropOrphans = true, orphanAgeFloorMs = 0L)
    assert(left.isEmpty)
    assert(ManifestTable.read(spark, root).get.count() == 1L)
  }

  test("detail reports current-version metadata") {
    val root = freshBase() + "/tbl"
    Checks.setCheck(spark, root, "n_pos", "n > 0")
    ManifestTable.commit(kv(1L -> 10L, 2L -> 20L), root)
    ManifestTable.commit(kv(1L -> 11L, 2L -> 20L, 3L -> 30L), root)
    val d = ManifestTable.detail(spark, root).collect().head
    def f[A](n: String): A = d.getAs[A](n)
    assert(f[Long]("version") == 2L)
    assert(f[Long]("n_versions_retained") == 2L)
    assert(f[Long]("n_files") >= 1L && f[Long]("size_bytes") > 0L)
    assert(!f[Boolean]("is_filelist") && !f[Boolean]("has_stats"))
    assert(f[Long]("n_checks") == 1L && f[Long]("n_generated") == 0L)
  }

  test("time-based retention and RESTORE TO TIMESTAMP: wall-clock " +
      "cutoffs map to versions through in-band commit timestamps") {
    val root = freshBase() + "/tbl"
    ManifestTable.commit(kv(1L -> 1L), root)                    // v1
    Thread.sleep(15)
    val afterV1 = System.currentTimeMillis()
    Thread.sleep(15)
    ManifestTable.commit(kv(1L -> 1L, 2L -> 2L), root)          // v2
    Thread.sleep(15)
    val afterV2 = System.currentTimeMillis()
    Thread.sleep(15)
    ManifestTable.commit(kv(1L -> 1L, 2L -> 2L, 3L -> 3L), root) // v3
    // restore to the instant after v2: content is exactly v2's
    val v4 = ManifestTable.restoreAsOf(spark, root, afterV2)
    assert(v4 == 4L)
    assert(ManifestTable.read(spark, root).get.count() == 2L)
    // retain only versions committed after v1's instant: v1's data
    // drops, newer versions stay readable; commit record survives
    ManifestTable.vacuumOlderThan(spark, root, afterV1)
    intercept[IllegalArgumentException] {
      ManifestTable.readVersion(spark, root, 1L)
    }
    assert(ManifestTable.readVersion(spark, root, 3L).count() == 3L)
    assert(ManifestTable.read(spark, root).get.count() == 2L)
    // a cutoff in the future still keeps the current version
    ManifestTable.vacuumOlderThan(spark, root,
      System.currentTimeMillis() + 60000L)
    assert(ManifestTable.read(spark, root).get.count() == 2L)
  }
}
