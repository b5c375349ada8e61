package graft.ops

import graft.SparkSpec
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

/** Every file-list commit goes through [[ManifestTable.commitFiles]].
  * One table-driven walk runs each of its callers in turn on a
  * partitioned, z-ordered, Bloom-indexed table that carries a deletion
  * vector — at the default gate and with
  * [[ManifestTable.dvLocalCarryCap]] at 0 — and checks the version
  * layout after every commit: the `_stats` and `_parts` path sets
  * equal the `_files` keys, the `_dv` keys lie inside them, each
  * metadata frame (and `_bloom/_GEOM`) is present exactly when the
  * source had it and the commit keeps it, the footer row count equals
  * the read count, and the rows equal a driver model. */
class FileListCommitSpec extends SparkSpec {
  import spark.implicits._

  private type Row6 = (Long, Long, Long, String, String, Double)
  private type Model = Map[Long, Row6]

  private def row(k: Long): Row6 =
    (k, k, k / 10, s"s$k", (k % 5).toString, k.toDouble)
  private def rows(lo: Long, hi: Long): Seq[Row6] = (lo until hi).map(row)
  private def df(rs: Iterable[Row6]) =
    rs.toSeq.toDF("k", "x", "y", "s", "day", "v")
  private def setV(m: Model, hit: Row6 => Boolean, f: Double => Double) =
    m.map { case (k, r) => k -> (if (hit(r)) r.copy(_6 = f(r._6)) else r) }

  private lazy val fs = new Path("/").getFileSystem(
    spark.sparkContext.hadoopConfiguration)

  /** The walk's table, its driver model, and the (version, model)
    * after each step so far. */
  private final class Walk(val root: String, var model: Model) {
    val after = scala.collection.mutable.Map.empty[String, (Long, Model)]
  }

  /** One commit of the walk: the call, its effect on the model, the
    * version it commits FROM when that is not the previous one, and
    * whether it is a column-mapping commit, which drops `_parts`,
    * `_stats` and `_bloom` (every other commit keeps each frame its
    * source has). */
  private case class Step(name: String, run: Walk => Any,
      next: (Walk, Model) => Model, source: Walk => Option[Long] = _ => None,
      mapping: Boolean = false)

  private val mergeBatch =
    (1200L to 1220L).map(k => row(k).copy(_6 = -1.0)) ++
      (5000L to 5010L).map(row)

  private val steps: Seq[Step] = Seq(
    Step("append", w => ManifestTable.append(spark, w.root,
      df(rows(3000, 3100))), (_, m) => m ++ rows(3000, 3100).map(r => r._1 -> r)),
    Step("appendPartitioned", w => PartitionedTable.appendPartitioned(
      spark, w.root, df(rows(3100, 3200))),
      (_, m) => m ++ rows(3100, 3200).map(r => r._1 -> r)),
    Step("deleteWhereDV", w => ManifestTable.deleteWhereDV(spark, w.root,
      $"k" % 10 === 3), (_, m) => m.filter(_._1 % 10 != 3)),
    Step("updateWhereDV", w => ManifestTable.updateWhereDV(spark, w.root,
      $"k".between(1000, 1100), Map("v" -> ($"v" + 1.0))),
      (_, m) => setV(m, r => r._1 >= 1000 && r._1 <= 1100, _ + 1.0)),
    Step("mergeBatchDV", w => ManifestTable.mergeBatchDV(spark, w.root,
      df(mergeBatch), Seq("k"), batchKey = "m1"),
      (_, m) => m ++ mergeBatch.map(r => r._1 -> r)),
    // the merge's fragments are the only files reaching x >= 5000
    Step("deleteWhereScoped", w => ZTable.deleteWhereScoped(spark, w.root,
      5000L, 5004L),
      (_, m) => m.filterNot(e => e._1 >= 5000 && e._1 <= 5004)),
    Step("updateWhereScoped", w => ZTable.updateWhereScoped(spark, w.root,
      5005L, 5010L, Map("v" -> lit(-2.0))),
      (_, m) => setV(m, r => r._1 >= 5005 && r._1 <= 5010, _ => -2.0)),
    Step("restore", w => ManifestTable.restore(spark, w.root,
      w.after("mergeBatchDV")._1), (w, _) => w.after("mergeBatchDV")._2,
      source = w => Some(w.after("mergeBatchDV")._1)),
    Step("optimizeZOrderPartitions", w => ZTable.optimizeZOrderPartitions(
      spark, w.root, Seq("1", "2"), "x", "y", "k", filesPerPartition = 2,
      bloomCol = Some("s")), (_, m) => m),
    Step("dropPartitions", w => PartitionedTable.dropPartitions(spark,
      w.root, Seq("4")), (_, m) => m.filter(_._2._5 != "4")),
    Step("deleteWhereInPartitions", w => PartitionedTable
      .deleteWhereInPartitions(spark, w.root, Seq("0"), $"k" < 500),
      (_, m) => m.filterNot(e => e._2._5 == "0" && e._1 < 500)),
    Step("replacePartitionsBatch", w => PartitionedTable
      .replacePartitionsBatch(spark, w.root, Seq("1"),
        df(w.model.values.filter(_._5 == "1").map(r => r.copy(_6 = r._6 * 2))),
        "rp1"), (_, m) => setV(m, _._5 == "1", _ * 2)),
    // every file but the largest is small: a fold that carries one
    Step("optimizeBinPack", w => ManifestTable.optimizeBinPack(spark,
      w.root, minFileBytes = ManifestTable.versionFileRefs(spark, w.root,
        ManifestTable.currentVersion(spark, w.root).get).get
        .map(r => fs.getFileStatus(new Path(
          ManifestTable.resolveRef(w.root, r))).getLen).max),
      (_, m) => m),
    Step("deleteWhereDV again", w => ManifestTable.deleteWhereDV(spark,
      w.root, $"k" % 7 === 0), (_, m) => m.filter(_._1 % 7 != 0)),
    Step("reorg", w => ManifestTable.reorg(spark, w.root), (_, m) => m),
    Step("addColumn", w => ManifestTable.addColumn(spark, w.root, "w",
      "INT"), (_, m) => m, mapping = true),
    Step("renameColumn", w => ManifestTable.renameColumn(spark, w.root,
      "v", "v2"), (_, m) => m, mapping = true),
    Step("dropColumn", w => ManifestTable.dropColumn(spark, w.root, "w"),
      (_, m) => m, mapping = true))

  /** A committed frame's file keys; None when the version has none. */
  private def keys(root: String, dir: String,
      frame: String): Option[Set[String]] = {
    val p = s"$root/$dir/$frame"
    if (!fs.exists(new Path(p))) None
    else Some(spark.read.parquet(p).select("path").distinct().as[String]
      .collect().map(ManifestTable.fileKeyOf).toSet)
  }

  private def has(root: String, dir: String, frame: String) =
    fs.exists(new Path(s"$root/$dir/$frame"))

  private def check(w: Walk, s: Step, src: Long, v: Long): Unit = {
    val root = w.root
    val dir = ManifestTable.versionDataDir(spark, root, v)
    val srcDir = ManifestTable.versionDataDir(spark, root, src)
    val at = s"${s.name} (v$v from v$src)"
    val files = ManifestTable.versionFileRefs(spark, root, v)
      .getOrElse(fail(s"$at: not a file-list version"))
      .map(ManifestTable.fileKeyOf).toSet
    Seq("_stats", "_parts").foreach(f => keys(root, dir, f).foreach(ks =>
      assert(ks == files, s"$at: $f covers ${ks.size} of ${files.size}")))
    keys(root, dir, "_dv").foreach(ks =>
      assert(ks.subsetOf(files), s"$at: _dv keys outside _files"))
    if (s.mapping)
      Seq("_stats", "_bloom", "_parts").foreach(f =>
        assert(!has(root, dir, f), s"$at: $f survived a mapping change"))
    else
      Seq("_stats", "_bloom", "_bloom/_GEOM", "_parts").foreach(f =>
        assert(has(root, dir, f) == has(root, srcDir, f), s"$at: $f"))
    val read = ManifestTable.readVersion(spark, root, v)
    assert(ManifestTable.countVersion(spark, root, v) == read.count(), at)
    val vCol = if (read.columns.contains("v")) "v" else "v2"
    val got = read.select($"k", $"x", $"y", $"s", $"day", col(vCol))
      .as[Row6].collect().toSeq.sorted
    assert(got == w.model.values.toSeq.sorted, s"$at: rows")
  }

  private def walk(): Unit = {
    val root = java.nio.file.Files.createTempDirectory("graft_filelist_")
      .toString + "/t"
    PartitionedTable.commitPartitioned(spark, root, df(rows(0, 3000)),
      "day", statsCols = Some(("x", "y", Some("s"))))
    ZTable.optimizeZOrderPartitions(spark, root, (0 to 4).map(_.toString),
      "x", "y", "k", filesPerPartition = 2, bloomCol = Some("s"))
    ManifestTable.deleteWhereDV(spark, root, $"k" % 10 === 3)
    val w = new Walk(root,
      rows(0, 3000).filter(_._1 % 10 != 3).map(r => r._1 -> r).toMap)
    steps.foreach { s =>
      val src = s.source(w)
        .getOrElse(ManifestTable.currentVersion(spark, root).get)
      s.run(w)
      val v = ManifestTable.currentVersion(spark, root).get
      assert(v > src, s"${s.name} committed nothing")
      w.model = s.next(w, w.model)
      check(w, s, src, v)
      w.after(s.name) = (v, w.model)
    }
  }

  test("every file-list commit keeps the version layout whole, at the " +
      "default gate and past it") {
    walk()
    ManifestTable.dvLocalCarryCap.withValue(0L)(walk())
  }
}
