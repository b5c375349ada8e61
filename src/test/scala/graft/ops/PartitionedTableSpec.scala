package graft.ops

import graft.SparkSpec
import org.apache.spark.graft.JobCounter
import org.apache.spark.sql.functions._

/** First-class partition columns in the manifest store
  * ([[PartitionedTable]]): partition values ride the version's
  * `_parts` metadata, pruned reads open only matching partitions'
  * files, a partition DROP is zero-copy, and partition-scoped DML
  * carries every other partition by path reference. */
class PartitionedTableSpec extends SparkSpec {
  import spark.implicits._

  private def freshRoot(): String = java.nio.file.Files
    .createTempDirectory("graft_ptable_").toString + "/tbl"

  private def fact(lo: Long, hi: Long) =
    spark.range(lo, hi).select($"id".as("k"),
      concat(lit("g"), $"id" % 3).as("g"),
      ($"id" % 5).cast("string").as("day"),
      ($"id" * 10).cast("double").as("v"))

  test("commitPartitioned: one partition value per file, pruned read " +
      "opens exactly that partition, NULL partition values refused") {
    val root = freshRoot()
    PartitionedTable.commitPartitioned(spark, root,
      fact(0, 500), "day")                                     // v1
    // partition metadata covers every file, one value per file
    val rows = PartitionedTable.parts(spark, root, 1L)
      .select($"path", $"value").as[(String, String)].collect()
    assert(rows.map(_._2).distinct.sorted.toSeq ==
      (0 to 4).map(_.toString))
    // plain read through the normal manifest path sees everything
    assert(ManifestTable.read(spark, root).get.count() == 500L)
    // pruned read: exactly the partition's files, exact rows
    val day2 = PartitionedTable.readPartitions(spark, root, Seq("2"))
    val day2Paths = rows.filter(_._2 == "2").map(_._1).toSet
    assert(day2.inputFiles.map(f =>
      ManifestTable.fileKeyOf(f)).toSet ==
      day2Paths.map(ManifestTable.fileKeyOf))
    assert(day2.count() == 100L &&
      day2.filter($"day" =!= "2").count() == 0L)
    // nothing-matches: empty frame, correct schema
    assert(PartitionedTable.readPartitions(spark, root, Seq("9"))
      .count() == 0L)
    // null partition values are rejected loudly
    intercept[IllegalArgumentException] {
      PartitionedTable.commitPartitioned(spark, freshRoot(),
        Seq((1L, null: String)).toDF("k", "day"), "day")
    }
  }

  test("appendPartitioned: O(batch) — every base file carried by " +
      "reference, only the batch's partitions gain files") {
    val root = freshRoot()
    PartitionedTable.commitPartitioned(spark, root,
      fact(0, 300), "day")                                     // v1
    val v1Paths = PartitionedTable.parts(spark, root, 1L)
      .select("path").as[String].collect().toSet
    PartitionedTable.appendPartitioned(spark, root,
      fact(300, 400))                                          // v2
    val v2 = PartitionedTable.parts(spark, root, 2L)
      .select($"path", $"value").as[(String, String)].collect()
    // base paths carried verbatim
    assert(v1Paths.subsetOf(v2.map(_._1).toSet))
    assert(ManifestTable.read(spark, root).get.count() == 400L)
    // the pruned read sees old + new rows of the partition
    assert(PartitionedTable.readPartitions(spark, root, Seq("1"))
      .count() == 80L)
  }

  test("dropPartitions is ZERO-COPY; guards refuse empty/total drops; " +
      "vacuum keeps carried dirs alive while referenced") {
    val root = freshRoot()
    PartitionedTable.commitPartitioned(spark, root,
      fact(0, 500), "day")                                     // v1
    val v1Paths = PartitionedTable.parts(spark, root, 1L)
      .select("path").as[String].collect().toSet
    PartitionedTable.dropPartitions(spark, root, Seq("0", "3")) // v2
    val refs = ManifestTable.versionFileRefs(spark, root, 2L).get
    // zero-copy: every surviving file IS a v1 file, no new bytes
    assert(refs.toSet.subsetOf(v1Paths))
    val got = ManifestTable.read(spark, root).get
    assert(got.count() == 300L &&
      got.filter($"day".isin("0", "3")).count() == 0L)
    intercept[IllegalArgumentException] {
      PartitionedTable.dropPartitions(spark, root, Seq("9"))
    }
    intercept[IllegalArgumentException] {
      PartitionedTable.dropPartitions(spark, root,
        Seq("1", "2", "4"))
    }
    // vacuum: v2 references v1's dir — it must survive keepLast=1
    ManifestTable.vacuum(spark, root, keepLast = 1)
    assert(ManifestTable.read(spark, root).get.count() == 300L)
  }

  test("deleteWhereInPartitions rewrites ONLY the named partitions; " +
      "every other partition rides by PATH IDENTITY") {
    val root = freshRoot()
    PartitionedTable.commitPartitioned(spark, root,
      fact(0, 500), "day")                                     // v1
    val v1 = PartitionedTable.parts(spark, root, 1L)
      .select($"path", $"value").as[(String, String)].collect()
    PartitionedTable.deleteWhereInPartitions(spark, root,
      Seq("1"), $"k" % 2 === 0)                                // v2
    val v2 = PartitionedTable.parts(spark, root, 2L)
      .select($"path", $"value").as[(String, String)].collect()
    // untouched partitions: the SAME paths, verbatim
    val untouched1 = v1.filter(_._2 != "1").map(_._1).toSet
    assert(untouched1.subsetOf(v2.map(_._1).toSet))
    // the touched partition's files are all NEW
    assert(v2.filter(_._2 == "1").forall(r =>
      !v1.map(_._1).contains(r._1)))
    val got = ManifestTable.read(spark, root).get
    // day=1: keys k%5==1; deleted the even ones
    assert(got.filter($"day" === "1").count() == 50L)
    assert(got.filter($"day" === "1" && $"k" % 2 === 0).count() == 0L)
    assert(got.count() == 450L)
    // pruned read of the touched partition agrees
    assert(PartitionedTable.readPartitions(spark, root, Seq("1"))
      .count() == 50L)
    // a DV delete on the partitioned table: _parts carried, pruned
    // read applies the vector
    ManifestTable.deleteWhereDV(spark, root, $"k" === 7L)      // v3
    assert(PartitionedTable.readPartitions(spark, root, Seq("2"))
      .filter($"k" === 7L).count() == 0L)
    assert(PartitionedTable.readPartitions(spark, root, Seq("2"))
      .count() == 99L)
  }

  test("partitioned carry commits CARRY the deletion vector: no " +
      "resurrection through append / drop / scoped delete after a " +
      "DV delete") {
    val root = freshRoot()
    PartitionedTable.commitPartitioned(spark, root,
      fact(0, 500), "day")                                     // v1
    ManifestTable.deleteWhereDV(spark, root, $"k" === 7L)      // v2
    assert(ManifestTable.read(spark, root).get
      .filter($"k" === 7L).count() == 0L)
    // append: all base files carried — the vector must ride or k=7
    // (in a carried file) resurrects
    PartitionedTable.appendPartitioned(spark, root,
      fact(500, 600))                                          // v3
    val afterAppend = ManifestTable.read(spark, root).get
    assert(afterAppend.filter($"k" === 7L).count() == 0L)
    assert(afterAppend.count() == 599L)
    // the pruned read agrees (k=7 lives in day 7%5=2)
    assert(PartitionedTable.readPartitions(spark, root, Seq("2"))
      .filter($"k" === 7L).count() == 0L)
    // drop an UNRELATED partition: k=7's file still carried, its DV
    // row must survive the filter-to-surviving-keys
    PartitionedTable.dropPartitions(spark, root, Seq("0"))     // v4
    assert(ManifestTable.read(spark, root).get
      .filter($"k" === 7L).count() == 0L)
    // scoped delete in ANOTHER partition: touched files rewrite
    // POST-vector, untouched keep their rows
    ManifestTable.deleteWhereDV(spark, root, $"k" === 11L)     // v5
    PartitionedTable.deleteWhereInPartitions(spark, root,
      Seq("1"), $"k" % 2 === 0)                                // v6
    val got = ManifestTable.read(spark, root).get
    assert(got.filter($"k" === 7L).count() == 0L)
    assert(got.filter($"k" === 11L).count() == 0L) // day 11%5=1: the
    // touched rewrite applied the vector before rewriting
    // and the scoped delete itself happened
    assert(got.filter($"day" === "1" && $"k" % 2 === 0).count() == 0L)
  }

  test("MoR UPDATE/MERGE on a partitioned root: fragments land " +
      "partition-pure, _parts extends, pruned reads include them") {
    val root = freshRoot()
    PartitionedTable.commitPartitioned(spark, root,
      fact(0, 500), "day")                                     // v1
    val p1 = PartitionedTable.parts(spark, root, 1L)
      .select($"path", $"value").as[(String, String)].collect()
    // MoR UPDATE: post-images of day=2 rows append as fragments
    ManifestTable.updateWhereDV(spark, root, $"day" === "2",
      Map("v" -> ($"v" + 1000.0)))                             // v2
    val p2 = PartitionedTable.parts(spark, root, 2L)
      .select($"path", $"value").as[(String, String)].collect()
    // every base file carried WITH its partition row; fragments are
    // new rows, all in the updated partition
    assert(p1.toSet.subsetOf(p2.toSet))
    val frag2 = p2.toSet -- p1.toSet
    assert(frag2.nonEmpty && frag2.forall(_._2 == "2"))
    // coverage invariant: _parts paths == the version's file list
    val refs2 = ManifestTable.versionFileRefs(spark, root, 2L).get
    assert(p2.map(_._1).sorted.toSeq == refs2.sorted)
    // the pruned read opens the fragments too — content exact
    val day2 = PartitionedTable.readPartitions(spark, root, Seq("2"))
    assert(day2.count() == 100L &&
      day2.filter($"v" < 1000.0).count() == 0L)
    // MoR MERGE: updates day=1 rows + inserts new days
    val src = fact(0, 20).filter($"day" === "1")
      .withColumn("v", $"v" + 5000.0)
      .unionByName(fact(1000, 1010))
    ManifestTable.mergeDV(spark, root, src, Seq("k"))          // v3
    val p3 = PartitionedTable.parts(spark, root, 3L)
      .select($"path", $"value").as[(String, String)].collect()
    assert(p2.toSet.subsetOf(p3.toSet))
    val refs3 = ManifestTable.versionFileRefs(spark, root, 3L).get
    assert(p3.map(_._1).sorted.toSeq == refs3.sorted)
    val got = ManifestTable.read(spark, root).get
    assert(got.count() == 510L)
    assert(got.filter($"k" < 20 && $"day" === "1" && $"v" < 5000.0)
      .count() == 0L)
    // pruned read of an inserted row's partition finds it
    assert(PartitionedTable.readPartitions(spark, root, Seq("0"))
      .filter($"k" === 1000L).count() == 1L)
    // updating the PARTITION COLUMN itself: the post-image lands in
    // its NEW partition's bucket and both pruned reads stay exact
    ManifestTable.updateWhereDV(spark, root, $"k" === 3L,
      Map("day" -> lit("4")))                                  // v4
    assert(PartitionedTable.readPartitions(spark, root, Seq("3"))
      .filter($"k" === 3L).count() == 0L)
    assert(PartitionedTable.readPartitions(spark, root, Seq("4"))
      .filter($"k" === 3L).count() == 1L)
  }

  test("stats stack with partitioning: commitPartitioned establishes " +
      "min/max + Bloom, every partitioned commit extends them") {
    val root = freshRoot()
    PartitionedTable.commitPartitioned(spark, root, fact(0, 500),
      "day", statsCols = Some(("k", "k", Some("g"))))          // v1
    val st1 = ZTable.stats(spark, root, 1L).collect()
    val p1 = PartitionedTable.parts(spark, root, 1L)
      .select("path").as[String].collect()
    // coverage: one stats row per data file, exactly
    assert(st1.map(_.getString(st1.head.fieldIndex("path"))).sorted
      .toSeq == p1.sorted.toSeq)
    PartitionedTable.appendPartitioned(spark, root,
      fact(500, 600))                                          // v2
    val st2 = ZTable.stats(spark, root, 2L).collect()
    val refs2 = ManifestTable.versionFileRefs(spark, root, 2L).get
    assert(st2.map(_.getString(st2.head.fieldIndex("path"))).sorted
      .toSeq == refs2.sorted)
    // bloom rode too, and candidate planning prunes to g-bearing files
    assert(ZTable.bloom(spark, root, 2L).isDefined)
    PartitionedTable.deleteWhereInPartitions(spark, root,
      Seq("1"), $"k" % 2 === 0)                                // v3
    val st3 = ZTable.stats(spark, root, 3L).collect()
    val refs3 = ManifestTable.versionFileRefs(spark, root, 3L).get
    assert(st3.map(_.getString(st3.head.fieldIndex("path"))).sorted
      .toSeq == refs3.sorted)
    PartitionedTable.dropPartitions(spark, root, Seq("0"))     // v4
    val st4 = ZTable.stats(spark, root, 4L).collect()
    val refs4 = ManifestTable.versionFileRefs(spark, root, 4L).get
    assert(st4.map(_.getString(st4.head.fieldIndex("path"))).sorted
      .toSeq == refs4.sorted)
    // both knobs answer: range planning off the committed stats
    // still works after the partitioned lifecycle
    assert(ZTable.scanXRange(spark, root, 100L, 120L)
      .count() == ManifestTable.read(spark, root).get
        .filter($"k".between(100L, 120L)).count())
  }

  test("binPack and REORG keep `_parts` on a partitioned root: file " +
      "hygiene and vector purge never cost the pruning") {
    val root = freshRoot()
    PartitionedTable.commitPartitioned(spark, root,
      fact(0, 400), "day")                                     // v1
    // two MoR merges append partition-pure fragments + a DV delete
    ManifestTable.mergeDV(spark, root,
      fact(0, 10).withColumn("v", $"v" + 100.0), Seq("k"))     // v2
    ManifestTable.mergeDV(spark, root,
      fact(400, 410), Seq("k"))                                // v3
    ManifestTable.deleteWhereDV(spark, root, $"k" === 5L)      // v4
    val before = ManifestTable.read(spark, root).get
      .as[(Long, String, String, Double)].collect().toSet
    // binPack folds the fragments WITHIN partitions
    val v5 = ManifestTable.optimizeBinPack(spark, root)        // v5
    assert(v5 == 5L)
    val p5 = PartitionedTable.parts(spark, root, 5L)
      .select($"path", $"value").as[(String, String)].collect()
    val refs5 = ManifestTable.versionFileRefs(spark, root, 5L).get
    assert(p5.map(_._1).sorted.toSeq == refs5.sorted) // covered
    assert(ManifestTable.read(spark, root).get
      .as[(Long, String, String, Double)].collect().toSet == before)
    // pruning still exact after the fold (incl. merged fragments)
    val d1 = PartitionedTable.readPartitions(spark, root, Seq("1"))
    assert(d1.filter($"day" =!= "1").count() == 0L)
    assert(d1.count() == before.count(_._3 == "1"))
    // REORG purges the vector, partition-pure rewrites, _parts rides
    ManifestTable.deleteWhereDV(spark, root, $"k" === 7L)      // v6
    val v7 = ManifestTable.reorg(spark, root)                  // v7
    assert(v7 == 7L)
    val p7 = PartitionedTable.parts(spark, root, 7L)
      .select($"path", $"value").as[(String, String)].collect()
    val refs7 = ManifestTable.versionFileRefs(spark, root, 7L).get
    assert(p7.map(_._1).sorted.toSeq == refs7.sorted) // covered
    val after = ManifestTable.read(spark, root).get
    assert(after.filter($"k" === 7L).count() == 0L)
    assert(after.count() == before.size - 1)
    // the purged partition still prunes exactly (k=7 was in day 3)
    val d3 = PartitionedTable.readPartitions(spark, root, Seq("3"))
    assert(d3.filter($"k" === 7L).count() == 0L &&
      d3.filter($"day" =!= "3").count() == 0L)
  }

  test("partition-scoped OPTIMIZE ZORDER: only the named partitions " +
      "z-cluster, everything else rides; stats established; the SQL " +
      "WHERE form routes and refuses a non-partition column") {
    val root = freshRoot()
    PartitionedTable.commitPartitioned(spark, root,
      fact(0, 400), "day")                                     // v1
    // fragments + a vector first (the realistic pre-layout state)
    ManifestTable.mergeDV(spark, root,
      fact(0, 8).withColumn("v", $"v" + 100.0), Seq("k"))      // v2
    ManifestTable.deleteWhereDV(spark, root, $"k" === 9L)      // v3
    val before = ManifestTable.read(spark, root).get
      .as[(Long, String, String, Double)].collect().toSet
    val p3 = PartitionedTable.parts(spark, root, 3L)
      .select($"path", $"value").as[(String, String)].collect()
    val v4 = ZTable.optimizeZOrderPartitions(spark, root,
      Seq("1", "2"), "k", "v", "k", filesPerPartition = 2,
      bloomCol = Some("g"))                                    // v4
    assert(v4 == 4L)
    val p4 = PartitionedTable.parts(spark, root, 4L)
      .select($"path", $"value").as[(String, String)].collect()
    val refs4 = ManifestTable.versionFileRefs(spark, root, 4L).get
    assert(p4.map(_._1).sorted.toSeq == refs4.sorted) // covered
    // untouched partitions ride by PATH IDENTITY
    val untouched3 = p3.filter(r => r._2 != "1" && r._2 != "2").toSet
    assert(untouched3.subsetOf(p4.toSet))
    // touched partitions: all-new files, still partition-pure
    assert(p4.filter(r => r._2 == "1" || r._2 == "2")
      .forall(r => !p3.map(_._1).contains(r._1)))
    // content identical (dataChange-false): DV slice materialized in
    // the rewrite, untouched files keep their vector rows
    assert(ManifestTable.read(spark, root).get
      .as[(Long, String, String, Double)].collect().toSet == before)
    // stats were ESTABLISHED whole-version (base had none): coverage
    val st = ZTable.stats(spark, root, 4L).collect()
    assert(st.map(_.getString(st.head.fieldIndex("path"))).sorted
      .toSeq == refs4.map(ManifestTable.fileKeyOf).sorted)
    // the two knobs stack through plain SQL: partition cut AND a
    // k-range now prune together on the clustered partition
    import graft.plans.GraftPruneScans.scannedFiles
    val q = spark.sql(s"SELECT count(*) AS n FROM graft_table('$root')" +
      " WHERE day = '1' AND k BETWEEN 101 AND 120")
    assert(scannedFiles(q) < p4.count(_._2 == "1").toLong)
    assert(q.as[Long].head() == 4L) // k=101..120 with k%5==1: 101,106,111,116
    // SQL WHERE form routes to the same kernel
    spark.sql(s"OPTIMIZE graft.`$root` WHERE day IN ('3') " +
      "ZORDER BY (k, v)")                                      // v5
    val p5 = PartitionedTable.parts(spark, root, 5L)
      .select($"path", $"value").as[(String, String)].collect()
    assert(p5.map(_._1).sorted.toSeq ==
      ManifestTable.versionFileRefs(spark, root, 5L).get.sorted)
    assert(ManifestTable.read(spark, root).get.count() == before.size)
    // a WHERE on a NON-partition column refuses loudly
    val e = intercept[Exception] {
      spark.sql(s"OPTIMIZE graft.`$root` WHERE k = '5' ZORDER BY (k, v)")
    }
    assert(e.getMessage.contains("partitioned by"))
  }

  test("concurrent partitioned writers: disjoint-partition loads " +
      "rebase and both land; guards fail loudly on empty results") {
    val root = freshRoot()
    PartitionedTable.commitPartitioned(spark, root,
      fact(0, 100), "day")                                     // v1
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val a = Future(PartitionedTable.appendPartitionedWithRetry(
      spark, root, fact(100, 200)))
    val b = Future(PartitionedTable.appendPartitionedWithRetry(
      spark, root, fact(200, 300)))
    val (va, vb) = (Await.result(a, 120.seconds),
      Await.result(b, 120.seconds))
    assert(Set(va, vb) == Set(2L, 3L)) // serialized, both committed
    assert(ManifestTable.read(spark, root).get.count() == 300L)
    // deleting a whole single-partition table refuses the empty
    // commit with a descriptive error, not NoSuchElementException
    val solo = freshRoot()
    PartitionedTable.commitPartitioned(spark, solo,
      spark.range(5).select($"id".as("k"), lit("only").as("day")),
      "day")
    val e = intercept[IllegalArgumentException] {
      PartitionedTable.deleteWhereInPartitions(spark, solo,
        Seq("only"), lit(true))
    }
    assert(e.getMessage.contains("plain empty commit"))
  }

  test("restore of a partitioned version carries `_parts`: appends and " +
      "pruned reads keep working after it") {
    val root = freshRoot()
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select($"k", $"g", $"day", $"v")
        .as[(Long, String, String, Double)].collect().toSeq.sorted
    PartitionedTable.commitPartitioned(spark, root, fact(0, 100), "day")
    PartitionedTable.appendPartitioned(spark, root, fact(100, 150))
    val v3 = ManifestTable.restore(spark, root, 1L)
    assert(PartitionedTable.parts(spark, root, v3).count() ==
      ManifestTable.versionFileRefs(spark, root, v3).get.size)
    PartitionedTable.appendPartitioned(spark, root, fact(200, 230))
    val model = rows(fact(0, 100).union(fact(200, 230)))
    assert(rows(ManifestTable.read(spark, root).get) == model)
    assert(rows(PartitionedTable.readPartitions(spark, root, Seq("2"))) ==
      model.filter(_._3 == "2"))
  }

  test("a shallow clone of a partitioned table stays partitioned: " +
      "appends and pruned reads work on the clone") {
    val root = freshRoot()
    val clone = freshRoot()
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select($"k", $"g", $"day", $"v")
        .as[(Long, String, String, Double)].collect().toSeq.sorted
    PartitionedTable.commitPartitioned(spark, root, fact(0, 100), "day")
    ManifestTable.cloneShallow(spark, root, clone)
    PartitionedTable.appendPartitioned(spark, clone, fact(100, 130))
    val model = rows(fact(0, 130))
    assert(rows(ManifestTable.read(spark, clone).get) == model)
    assert(rows(PartitionedTable.readPartitions(spark, clone, Seq("2"))) ==
      model.filter(_._3 == "2"))
    // the source never sees the clone's commit
    assert(rows(ManifestTable.read(spark, root).get) == rows(fact(0, 100)))
  }

  test("readPartitions plans its pruned read on the driver: no job " +
      "before the DataFrame is returned") {
    val root = freshRoot()
    PartitionedTable.commitPartitioned(spark, root, fact(0, 200), "day")
    ManifestTable.deleteWhereDV(spark, root, $"k" % 7 === 0)
    val (df, jobs) = JobCounter.jobs(spark)(
      PartitionedTable.readPartitions(spark, root, Seq("1", "3")))
    assert(jobs.isEmpty, jobs.map(_.callSite).mkString("\n"))
    assert(df.as[(Long, String, String, Double)].collect().map(_._1)
      .sorted.toSeq == (0L until 200L).filter(k =>
        k % 7 != 0 && (k % 5 == 1 || k % 5 == 3)))
  }

  test("the NULL check rides the partitioned write: an empty string is " +
      "a partition value, a NULL refuses and publishes nothing") {
    val root = freshRoot()
    val df = Seq((1L, "a"), (2L, ""), (3L, ""), (4L, "b")).toDF("k", "day")
    // commitPartitioned starts the jobs of its write and no more
    val (v1, jobs) = JobCounter.jobs(spark)(
      PartitionedTable.commitPartitioned(spark, root, df, "day"))
    val (_, writeJobs) = JobCounter.jobs(spark)(df
      .withColumn("__gp", $"day").write.partitionBy("__gp")
      .parquet(freshRoot()))
    assert(v1 == 1L && jobs.size == writeJobs.size,
      jobs.map(_.callSite).mkString("\n"))
    // Spark writes "" into its default partition; `_parts` records ""
    assert(PartitionedTable.parts(spark, root, 1L).select("value")
      .as[String].collect().toSet == Set("a", "", "b"))
    assert(PartitionedTable.readPartitions(spark, root, Seq(""))
      .select("k").as[Long].collect().sorted.toSeq == Seq(2L, 3L))
    assert(spark.sql(s"SELECT k FROM graft_table('$root') WHERE day = ''")
      .as[Long].collect().sorted.toSeq == Seq(2L, 3L))
    // a NULL, alone or beside "" in the default partition, refuses
    // with the message of old and leaves the table at v1
    Seq(Seq((5L, null: String), (6L, "a")),
        Seq((5L, null: String), (6L, ""))).foreach { batch =>
      val e = intercept[IllegalArgumentException] {
        PartitionedTable.appendPartitioned(spark, root, batch.toDF("k", "day"))
      }
      assert(e.getMessage.contains("partition column day contains NULL"))
      assert(ManifestTable.currentVersion(spark, root).contains(1L))
    }
    assert(ManifestTable.read(spark, root).get.select("k").as[Long]
      .collect().sorted.toSeq == Seq(1L, 2L, 3L, 4L))
  }
}
