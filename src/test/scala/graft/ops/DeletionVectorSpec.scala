package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions.{col, concat, lit}

/** Merge-on-read DELETE via deletion vectors: the version carries the
  * base's files unchanged plus a position vector; readers anti-join,
  * rewriters materialize. */
class DeletionVectorSpec extends SparkSpec {
  import spark.implicits._

  private def freshRoot(): String = java.nio.file.Files
    .createTempDirectory("graft_dv_").toString + "/tbl"

  private def kv(rows: (Long, Long)*) = rows.toSeq.toDF("k", "n")

  test("DV delete rewrites nothing and readers see post-delete truth") {
    val root = freshRoot()
    ManifestTable.commit(kv((1L to 10L).map(i => i -> i * 10L): _*), root)
    val v1Files = ManifestTable.versionDataDir(spark, root, 1L)
    ManifestTable.deleteWhereDV(spark, root, col("k") % 3L === 0L)
    // zero-copy: v2 references exactly v1's files
    val refs = ManifestTable.versionFileRefs(spark, root, 2L).get
    assert(refs.nonEmpty && refs.forall(_.startsWith(s"$v1Files/")))
    // merge-on-read: deleted keys are gone, others intact
    assert(ManifestTable.read(spark, root).get.as[(Long, Long)]
      .collect().map(_._1).sorted.toSeq ==
      Seq(1L, 2L, 4L, 5L, 7L, 8L, 10L))
    // time travel: v1 is untouched
    assert(ManifestTable.readVersion(spark, root, 1L).count() == 10L)
    // NULL predicate = not matched = kept
    val root2 = freshRoot()
    ManifestTable.commit(
      Seq((1L, Some(1L)), (2L, None: Option[Long])).toDF("k", "n"), root2)
    ManifestTable.deleteWhereDV(spark, root2, col("n") > 0L)
    assert(ManifestTable.read(spark, root2).get
      .as[(Long, Option[Long])].collect().toSeq == Seq((2L, None)))
  }

  test("DV deletes are cumulative and compose with the change feed") {
    val root = freshRoot()
    ManifestTable.commit(kv((1L to 8L).map(i => i -> i): _*), root)
    ManifestTable.deleteWhereDV(spark, root, col("k") <= 2L)  // v2
    ManifestTable.deleteWhereDV(spark, root, col("k") === 5L) // v3
    assert(ManifestTable.read(spark, root).get.as[(Long, Long)]
      .collect().map(_._1).sorted.toSeq == Seq(3L, 4L, 6L, 7L, 8L))
    // the feed across each DV commit is exactly its delete set
    val f12 = ManifestTable.changes(spark, root, 1L, 2L, Seq("k"))
    assert(f12.filter($"_change_type" === "delete").count() == 2L)
    assert(f12.count() == 2L)
    val f23 = ManifestTable.changes(spark, root, 2L, 3L, Seq("k"))
    assert(f23.filter($"_change_type" === "delete")
      .select($"k").as[Long].collect().toSeq == Seq(5L))
    // deleting an already-DV-deleted row is a no-op, not a double
    ManifestTable.deleteWhereDV(spark, root, col("k") <= 5L)    // v4
    assert(ManifestTable.changes(spark, root, 3L, 4L, Seq("k"))
      .count() == 2L) // only 3 and 4 newly disappear
  }

  test("rewriting commits MATERIALIZE the vector (optimize, merge)") {
    val root = freshRoot()
    ManifestTable.commit(kv((1L to 10L).map(i => i -> i): _*), root)
    ManifestTable.deleteWhereDV(spark, root, col("k") > 8L)   // v2
    ManifestTable.optimize(spark, root)                        // v3
    // v3 is a plain dir with no vector and no file list
    val d3 = ManifestTable.versionDataDir(spark, root, 3L)
    assert(ManifestTable.fileList(spark, root, d3).isEmpty)
    assert(ManifestTable.dvOf(spark, root, d3).isEmpty)
    assert(ManifestTable.readVersion(spark, root, 3L).count() == 8L)
    // a MERGE on top of a DV version sees post-delete base truth
    val root2 = freshRoot()
    ManifestTable.commit(kv(1L -> 1L, 2L -> 2L, 3L -> 3L), root2)
    ManifestTable.deleteWhereDV(spark, root2, col("k") === 2L)
    ManifestTable.merge(spark, root2, kv(4L -> 4L), Seq("k"))
    assert(ManifestTable.read(spark, root2).get.as[(Long, Long)]
      .collect().map(_._1).sorted.toSeq == Seq(1L, 3L, 4L))
  }

  test("scoped DML on a DV version: touched materialize, rest carried") {
    val root = freshRoot()
    val df = spark.range(1, 201)
      .select(col("id").as("x"), (col("id") % 8).as("y"),
        col("id").as("k"), col("id").as("n"))
    ManifestTable.commit(df, root)
    ZTable.optimizeZOrder(spark, root, "x", "y", "k", nFiles = 8) // v2
    ManifestTable.deleteWhereDV(spark, root, col("x") % 10L === 0L) // v3
    assert(ManifestTable.read(spark, root).get.count() == 180L)
    // scoped delete of [1,50]: touched files drop their DV'd rows AND
    // the scoped range; untouched files keep their carried DV rows
    ZTable.deleteWhereScoped(spark, root, 1L, 50L)                  // v4
    // expected: x in 51..200 minus multiples of 10 => 150 - 15 = 135
    assert(ManifestTable.read(spark, root).get.count() == 135L)
    // and the pruned committed-stats scan agrees with a full filter
    val scan = ZTable.scanXRange(spark, root, 60L, 120L)
    assert(scan.count() ==
      (60L to 120L).count(x => x % 10L != 0L).toLong)
  }

  test("DV update appends post-images and rewrites nothing") {
    val root = freshRoot()
    ManifestTable.commit(kv((1L to 10L).map(i => i -> i): _*), root)
    val v1Dir = ManifestTable.versionDataDir(spark, root, 1L)
    val v1Files = ManifestTable.readVersion(spark, root, 1L)
      .inputFiles.length
    ManifestTable.updateWhereDV(spark, root, col("k") % 3L === 0L,
      Map("n" -> (col("n") * 100L)))                            // v2
    val refs = ManifestTable.versionFileRefs(spark, root, 2L).get
    // every v1 file carried by reference, plus small appended files
    assert(refs.count(_.startsWith(s"$v1Dir/")) == v1Files)
    assert(refs.exists(r => !r.startsWith(s"$v1Dir/")))
    assert(ManifestTable.read(spark, root).get.as[(Long, Long)]
      .collect().sorted.toSeq ==
      (1L to 10L).map(i => i -> (if (i % 3 == 0) i * 100L else i)))
    // CDF across the merge-on-read update: exact pre/post pairs
    val f = ManifestTable.changes(spark, root, 1L, 2L, Seq("k"))
    assert(f.filter($"_change_type" === "update_preimage").count() == 3L)
    assert(f.filter($"_change_type" === "update_postimage").count() == 3L)
    assert(f.count() == 6L)
    // filter-then-assign: SET a=b, b=a SWAPS against pre-update rows
    val root2 = freshRoot()
    ManifestTable.commit(Seq((1L, 10L, 20L)).toDF("k", "a", "b"), root2)
    ManifestTable.updateWhereDV(spark, root2, col("a") < col("b"),
      Map("a" -> col("b"), "b" -> col("a")))
    assert(ManifestTable.read(spark, root2).get
      .as[(Long, Long, Long)].collect().toSeq == Seq((1L, 20L, 10L)))
  }

  test("an untyped NULL SET keeps its column's type (MoR and scoped " +
      "update): full reads and readVersion still succeed") {
    val root = freshRoot()
    ManifestTable.commit(spark.range(1, 41).select(col("id").as("x"),
      (col("id") % 4).as("y"), col("id").as("k"),
      col("id").cast("int").as("i"),
      concat(lit("s"), col("id")).as("s")), root)                 // v1
    ZTable.optimizeZOrder(spark, root, "x", "y", "k", nFiles = 4)  // v2
    def types(v: Long) = ManifestTable.readVersion(spark, root, v)
      .schema.map(f => f.name -> f.dataType)
    val base = types(1L)
    ManifestTable.updateWhereDV(spark, root, col("x") <= 10L,
      Map("i" -> lit(null), "s" -> lit(null)))                     // v3
    ZTable.updateWhereScoped(spark, root, 31L, 40L,
      Map("i" -> lit(null), "s" -> lit(null)))                     // v4
    Seq(3L, 4L).foreach { v =>
      assert(types(v) == base, s"v$v changed the column types")
      assert(ManifestTable.readVersion(spark, root, v).count() == 40L)
    }
    val cur = ManifestTable.read(spark, root).get
    assert(cur.schema.map(f => f.name -> f.dataType) == base)
    val rows = cur.select("x", "i", "s")
      .as[(Long, Option[Int], Option[String])].collect()
    assert(rows.length == 40)
    rows.foreach { case (x, i, s) =>
      val nulled = x <= 10L || x > 30L
      assert(i.isEmpty == nulled && s.isEmpty == nulled, s"row x=$x")
    }
  }

  test("DV update enforces checks on the post-image; stats survive") {
    val root = freshRoot()
    val df = spark.range(1, 101)
      .select(col("id").as("x"), (col("id") % 8).as("y"),
        col("id").as("k"), lit(5L).as("n"))
    ManifestTable.commit(df, root)
    ZTable.optimizeZOrder(spark, root, "x", "y", "k", nFiles = 4)
    Checks.setCheck(spark, root, "n_pos", "n > 0")
    intercept[CheckViolationException] {
      ManifestTable.updateWhereDV(spark, root, col("x") <= 10L,
        Map("n" -> lit(-1L)))
    }
    assert(ManifestTable.currentVersion(spark, root).contains(2L))
    ManifestTable.updateWhereDV(spark, root, col("x") <= 10L,
      Map("n" -> lit(9L)))                                       // v3
    assert(ManifestTable.read(spark, root).get
      .filter(col("n") === 9L).count() == 10L)
    // round-13: the appended post-image file gets a fresh stats row
    // at write time (extendStats) — committed-stats scans keep
    // working across MoR DML with NO re-optimize, and see post-DV
    // truth (old images hidden, post-images found)
    val scan = ZTable.scanXRange(spark, root, 1L, 50L)
    assert(scan.count() == 50L)
    assert(scan.filter(col("n") === 9L).count() == 10L)
    assert(ZTable.stats(spark, root, 3L).select("path")
      .as[String].collect().toSet ==
      ManifestTable.versionFileRefs(spark, root, 3L).get.toSet)
  }

  test("bloom candidate reads apply the vector; detail reports it") {
    val root = freshRoot()
    val df = spark.range(1, 201)
      .select(col("id").as("x"), (col("id") % 8).as("y"),
        col("id").as("k"),
        org.apache.spark.sql.functions.concat(
          org.apache.spark.sql.functions.lit("w"),
          col("id")).as("word"))
    ManifestTable.commit(df, root)
    ZTable.optimizeZOrder(spark, root, "x", "y", "k", nFiles = 4,
      bloomCol = Some("word"))
    ManifestTable.deleteWhereDV(spark, root, col("k") === 42L)
    // the raw candidate files still CONTAIN the deleted row; the safe
    // read does not
    val safe = ZTable.readBloomCandidates(spark, root, lit("w42"))
    assert(safe.filter(col("word") === "w42").count() == 0L)
    val other = ZTable.readBloomCandidates(spark, root, lit("w43"))
    assert(other.filter(col("word") === "w43").count() == 1L)
    val d = ManifestTable.detail(spark, root).collect().head
    assert(d.getAs[Boolean]("has_dv") && d.getAs[Boolean]("has_bloom"))
  }

  test("restore and shallow clone carry the vector") {
    val base = java.nio.file.Files
      .createTempDirectory("graft_dv_").toString
    val (src, cl) = (s"$base/src", s"$base/cl")
    ManifestTable.commit(kv((1L to 6L).map(i => i -> i): _*), src)
    ManifestTable.deleteWhereDV(spark, src, col("k") > 4L)  // v2: {1..4}
    ManifestTable.cloneShallow(spark, src, cl)
    assert(ManifestTable.read(spark, cl).get.count() == 4L)
    ManifestTable.deleteWhere(spark, src, col("k") === 1L)  // src v3
    ManifestTable.restore(spark, src, 2L)                   // src v4
    assert(ManifestTable.read(spark, src).get.as[(Long, Long)]
      .collect().map(_._1).sorted.toSeq == Seq(1L, 2L, 3L, 4L))
    // history records the merge-on-read deletes as DELETE versions
    val ops = ManifestTable.history(spark, src)
      .orderBy(col("version")).select("operation")
      .as[String].collect().toSeq
    assert(ops == Seq("WRITE", "DELETE", "DELETE", "RESTORE"))
  }

  test("mergeDV: O(delta) MERGE — zero rewrite, upsert-identical") {
    val root = freshRoot()
    ManifestTable.commit(kv((1L to 10L).map(i => i -> i * 10L): _*), root)
    val v1Dir = ManifestTable.versionDataDir(spark, root, 1L)
    // source updates 9,10 and inserts 11,12
    ManifestTable.mergeDV(spark, root,
      kv(9L -> 900L, 10L -> 1000L, 11L -> 1100L, 12L -> 1200L),
      Seq("k"))                                                // v2
    // zero-copy: every v1 file is referenced verbatim, plus appends
    val refs = ManifestTable.versionFileRefs(spark, root, 2L).get
    assert(refs.exists(_.startsWith(s"$v1Dir/")))
    assert(refs.exists(_.startsWith("d2-")))
    // result identical to the full upsert kernel
    val got = ManifestTable.read(spark, root).get.as[(Long, Long)]
      .collect().sorted.toSeq
    assert(got == ((1L to 8L).map(i => i -> i * 10L) ++
      Seq(9L -> 900L, 10L -> 1000L, 11L -> 1100L, 12L -> 1200L)))
    // the feed across it: exact update pairs + inserts, nothing else
    val f = ManifestTable.changes(spark, root, 1L, 2L, Seq("k"))
    assert(f.filter($"_change_type" === "update_postimage")
      .count() == 2L)
    assert(f.filter($"_change_type" === "insert").count() == 2L)
    assert(f.filter($"_change_type" === "delete").count() == 0L)
    // composes with a prior DV delete (cumulative vector) and a
    // source row matching only a DV-deleted key is an INSERT
    ManifestTable.deleteWhereDV(spark, root, col("k") === 1L)  // v3
    ManifestTable.mergeDV(spark, root, kv(1L -> 111L, 2L -> 222L),
      Seq("k"))                                                // v4
    assert(ManifestTable.read(spark, root).get.as[(Long, Long)]
      .collect().toMap == ((3L to 8L).map(i => i -> i * 10L) ++
      Seq(1L -> 111L, 2L -> 222L, 9L -> 900L, 10L -> 1000L,
        11L -> 1100L, 12L -> 1200L)).toMap)
    val f34 = ManifestTable.changes(spark, root, 3L, 4L, Seq("k"))
    assert(f34.filter($"_change_type" === "insert")
      .select($"k").as[Long].collect().toSeq == Seq(1L))
    // updateCols: untouched columns keep target values on matches
    val root2 = freshRoot()
    ManifestTable.commit(
      Seq((1L, 10L, "a"), (2L, 20L, "b")).toDF("k", "n", "t"), root2)
    ManifestTable.mergeDV(spark, root2,
      Seq((2L, 99L, "X"), (3L, 30L, "c")).toDF("k", "n", "t"),
      Seq("k"), updateCols = Some(Seq("n")))
    assert(ManifestTable.read(spark, root2).get
      .as[(Long, Long, String)].collect().sorted.toSeq ==
      Seq((1L, 10L, "a"), (2L, 99L, "b"), (3L, 30L, "c")))
    // first commit on an empty root is the plain source
    val root3 = freshRoot()
    ManifestTable.mergeDV(spark, root3, kv(1L -> 1L), Seq("k"))
    assert(ManifestTable.read(spark, root3).get.count() == 1L)
  }

  test("mergeBatchDV: exactly-once under replay") {
    val root = freshRoot()
    ManifestTable.commit(kv((1L to 4L).map(i => i -> i): _*), root)
    ManifestTable.mergeBatchDV(spark, root, kv(1L -> 100L, 5L -> 5L),
      Seq("k"), batchKey = "run1-b0")
    val after = ManifestTable.currentVersion(spark, root).get
    // replay: same key is a no-op — no new version, no double-apply
    ManifestTable.mergeBatchDV(spark, root, kv(1L -> 100L, 5L -> 5L),
      Seq("k"), batchKey = "run1-b0")
    assert(ManifestTable.currentVersion(spark, root).get == after)
    assert(ManifestTable.read(spark, root).get.as[(Long, Long)]
      .collect().toMap ==
      Map(1L -> 100L, 2L -> 2L, 3L -> 3L, 4L -> 4L, 5L -> 5L))
  }

  test("two concurrent DV-merge writers: serialized, no lost rows, " +
      "both batch keys exactly-once") {
    val root = freshRoot()
    ManifestTable.commit(kv((0L to 3L).map(i => i -> i): _*), root)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    val gate = new java.util.concurrent.CountDownLatch(1)
    def writer(idBase: Long): java.util.concurrent.Future[Unit] =
      pool.submit(new java.util.concurrent.Callable[Unit] {
        def call(): Unit = {
          gate.await()
          (0 until 3).foreach { i =>
            ManifestTable.mergeBatchDVWithRetry(spark, root,
              kv((idBase + i) -> (idBase + i)), Seq("k"),
              batchKey = s"w$idBase-b$i")
          }
        }
      })
    val fa = writer(100L); val fb = writer(200L)
    gate.countDown()
    fa.get(); fb.get(); pool.shutdown()
    val rows = ManifestTable.read(spark, root).get
      .as[(Long, Long)].collect().map(_._1).sorted.toSeq
    assert(rows == Seq(0L, 1L, 2L, 3L, 100L, 101L, 102L,
      200L, 201L, 202L), s"lost rows: $rows")
    // serialized: 1 base + 6 DV-merge commits; all keys applied
    assert(ManifestTable.currentVersion(spark, root).contains(7L))
    val applied = ManifestTable.appliedBatchKeys(spark, root)
    assert((0 until 3).forall(i => applied.contains(s"w100-b$i") &&
      applied.contains(s"w200-b$i")))
    // a replay of any batch after the storm is still a no-op
    ManifestTable.mergeBatchDVWithRetry(spark, root,
      kv(100L -> 100L), Seq("k"), batchKey = "w100-b0")
    assert(ManifestTable.currentVersion(spark, root).contains(7L))
  }

  test("vacuum is reference-aware across DV-merge chains: carried " +
      "dirs survive keepLast while referenced, reclaim after rewrite") {
    val root = freshRoot()
    ManifestTable.commit(kv((1L to 50L).map(i => i -> i): _*), root)
    ManifestTable.mergeDV(spark, root, kv(1L -> 100L), Seq("k"))  // v2
    ManifestTable.mergeDV(spark, root, kv(60L -> 60L), Seq("k"))  // v3
    // keepLast=1 retains only v3 — but v3's file list references d1
    // and d2 dirs, so their DATA must survive the vacuum
    ManifestTable.vacuum(spark, root, keepLast = 1)
    assert(ManifestTable.read(spark, root).get.as[(Long, Long)]
      .collect().toMap ==
      ((2L to 50L).map(i => i -> i) ++ Seq(1L -> 100L, 60L -> 60L))
        .toMap)
    // a full rewrite drops the references; the next vacuum reclaims
    ManifestTable.optimize(spark, root)                            // v4
    ManifestTable.vacuum(spark, root, keepLast = 1)
    intercept[IllegalArgumentException] {
      ManifestTable.readVersion(spark, root, 2L) // vacuumed, loud
    }
    assert(ManifestTable.read(spark, root).get.count() == 51L)
  }

  test("optimizeBinPack: small files fold, large carried with their " +
      "vector rows; content identical, feed empty") {
    val root = freshRoot()
    // one big file + a stream of small append fragments via DV merges
    ManifestTable.commit(
      spark.range(1, 1001).select(col("id").as("k"),
        col("id").as("n")).coalesce(1), root)
    (0 until 3).foreach(i =>
      ManifestTable.mergeBatchDV(spark, root,
        kv((2000L + i) -> (2000L + i), (1L + i) -> (9000L + i)),
        Seq("k"), batchKey = s"bp-$i"))                       // v2..v4
    ManifestTable.deleteWhereDV(spark, root, col("k") === 500L) // v5
    val before = ManifestTable.versionFileRefs(spark, root, 5L).get
    val big = before.filter(_.startsWith("d1-"))
    assert(big.size == 1 && before.size >= 4)
    // the big file is far over the tiny threshold; fragments under it
    val v6 = ManifestTable.optimizeBinPack(spark, root,
      minFileBytes = 4096L)
    assert(v6 == 6L)
    val after = ManifestTable.versionFileRefs(spark, root, 6L).get
    // big file carried by reference; fragments folded to one
    assert(big.forall(after.contains))
    assert(after.size < before.size)
    // the vector survives for the big file's deleted row (k=500 and
    // the three updated pre-images all live in the big file)
    val d6 = ManifestTable.versionDataDir(spark, root, 6L)
    assert(ManifestTable.dvOf(spark, root, d6).isDefined)
    // content identical to pre-binpack; feed across it EMPTY
    assert(ManifestTable.read(spark, root).get.as[(Long, Long)]
      .collect().toMap ==
      ((4L to 999L).filter(_ != 500L).map(i => i -> i) ++
        Seq(1000L -> 1000L) ++
        (0 until 3).flatMap(i => Seq((2000L + i) -> (2000L + i),
          (1L + i) -> (9000L + i)))).toMap)
    assert(ManifestTable.changes(spark, root, 5L, 6L, Seq("k"))
      .count() == 0L)
    // idempotent-ish: a second binPack with one small file is a no-op
    assert(ManifestTable.optimizeBinPack(spark, root,
      minFileBytes = 4096L) == 6L)
  }

  test("reorg APPLY PURGE: dirty files rewritten, clean carried") {
    val root = freshRoot()
    // 4 files of 25 rows each so the vector dirties a strict subset
    ManifestTable.commit(
      spark.range(1, 101).select(col("id").as("k"), col("id").as("n"))
        .repartitionByRange(4, col("id")), root)
    // vector-less reorg is a no-op: no new commit
    assert(ManifestTable.reorg(spark, root) == 1L)
    assert(ManifestTable.currentVersion(spark, root).get == 1L)
    ManifestTable.deleteWhereDV(spark, root, col("k") <= 10L)  // v2
    val v2Refs = ManifestTable.versionFileRefs(spark, root, 2L).get
    val d2 = ManifestTable.versionDataDir(spark, root, 2L)
    val dirtyKeys = ManifestTable.dvOf(spark, root, d2).get
      .select("path").distinct().as[String].collect().toSet
    val clean = v2Refs.filterNot(r =>
      dirtyKeys.contains(ManifestTable.fileKeyOf(r)))
    assert(clean.nonEmpty && clean.size < v2Refs.size)
    val v3 = ManifestTable.reorg(spark, root)                  // v3
    assert(v3 == 3L)
    // clean files carried by REFERENCE (same entries verbatim);
    // dirty ones replaced by rewrites in the new dir; vector gone
    val v3Refs = ManifestTable.versionFileRefs(spark, root, 3L).get
    assert(clean.forall(v3Refs.contains))
    assert(v3Refs.exists(_.startsWith("d3-")))
    assert(ManifestTable
      .dvOf(spark, root, ManifestTable.versionDataDir(spark, root, 3L))
      .isEmpty)
    // content identical, feed across the reorg EMPTY
    assert(ManifestTable.read(spark, root).get.as[(Long, Long)]
      .collect().map(_._1).sorted.toSeq == (11L to 100L))
    assert(ManifestTable.changes(spark, root, 2L, 3L, Seq("k"))
      .count() == 0L)
  }
}
