package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, concat, lit}

/** Every deletion-vector consumer returns the same rows whichever
  * side of [[ManifestTable.dvLocalCarryCap]] applies the vector: the
  * in-scan filter (driver-read positions, the default gate) and the
  * anti-join (the cap at 0, the 100 TB path). Each consumer runs on a
  * plain z-ordered table, a column-mapped one and a partitioned one
  * wherever the engine accepts that shape, and its result is also
  * checked against a row model kept beside the table, so a fault both
  * paths share (a position key written off by one row or keyed on the
  * wrong path segment) fails here too. Writers run on two byte copies
  * of one table, so the vectors they leave can be compared file key
  * by file key. */
class DvParitySpec extends SparkSpec {
  import spark.implicits._

  private sealed trait Shape
  private case object Plain extends Shape
  private case object Mapped extends Shape
  private case object Partitioned extends Shape
  private val shapes = Seq(Plain, Mapped, Partitioned)

  /** One model row: k, x, y, p, n, s (n is `amount` when mapped). */
  private type Row = (Long, Long, Long, String, Long, String)
  private def row(k: Long, n: Long): Row =
    (k, k, k % 8, s"p${k % 3}", n, s"s$k")
  private def rowsDf(rs: Seq[Row], nCol: String): DataFrame =
    rs.toDF("k", "x", "y", "p", nCol, "s")

  private def nameOf(shape: Shape) = if (shape == Mapped) "amount" else "n"

  private def freshRoot(): String = java.nio.file.Files
    .createTempDirectory("graft_dvparity_").toString + "/t"

  /** A table of the given shape whose current version carries a
    * vector over several files, and the model of each version. */
  private case class Table(root: String, shape: Shape,
      models: Map[Long, Map[Long, Row]]) {
    def n: String = nameOf(shape)
    def current: Map[Long, Row] = models(models.keys.max)
  }

  private def build(shape: Shape): Table = {
    val root = freshRoot()
    val n = nameOf(shape)
    val base = (1L to 600L).map(k => row(k, k * 10)).map(r => r._1 -> r).toMap
    val df = rowsDf(base.values.toSeq.sortBy(_._1), "n")
    shape match {
      case Partitioned =>
        PartitionedTable.commitPartitioned(spark, root, df, "p",
          statsCols = Some(("x", "y", Some("s"))))
      case _ =>
        ManifestTable.commit(df.coalesce(1), root)
        ZTable.optimizeZOrder(spark, root, "x", "y", "k", nFiles = 4,
          bloomCol = Some("s"))
        if (shape == Mapped) ManifestTable.renameColumn(spark, root, "n", n)
    }
    var models = Map(ManifestTable.currentVersion(spark, root).get -> base)
    def step(v: Long, f: Map[Long, Row] => Map[Long, Row]): Unit =
      models += v -> f(models(models.keys.max))
    step(ManifestTable.deleteWhereDV(spark, root, col("k") % 7 === 0),
      _.filter(_._1 % 7 != 0))
    step(ManifestTable.updateWhereDV(spark, root,
        col("k").between(100, 130), Map(n -> (col(n) + 1))),
      _.map { case (k, r) =>
        k -> (if (k >= 100 && k <= 130) r.copy(_5 = r._5 + 1) else r) })
    val (v, upserted) = merge(root, n, (200L to 210L) ++ (700L to 705L))
    step(v, _ ++ upserted)
    step(ManifestTable.deleteWhereDV(spark, root,
        col("k").between(400, 420)),
      _.filter(kv => kv._1 < 400 || kv._1 > 420))
    Table(root, shape, models)
  }

  private def merge(root: String, n: String, ks: Seq[Long])
      : (Long, Map[Long, Row]) = {
    val src = ks.map(k => row(k, -k))
    (ManifestTable.mergeDV(spark, root, rowsDf(src, n), Seq("k")),
      src.map(r => r._1 -> r).toMap)
  }

  /** A byte copy of a table under a new root: same dirs, same files,
    * so the two copies' file keys coincide. */
  private def copyOf(t: Table): Table = {
    import scala.jdk.CollectionConverters._
    val dst = freshRoot()
    val s = java.nio.file.Paths.get(t.root)
    val d = java.nio.file.Paths.get(dst)
    val w = java.nio.file.Files.walk(s)
    try w.iterator.asScala.foreach { p =>
      val target = d.resolve(s.relativize(p))
      if (java.nio.file.Files.isDirectory(p))
        java.nio.file.Files.createDirectories(target)
      else java.nio.file.Files.copy(p, target)
    } finally w.close()
    t.copy(root = dst)
  }

  private def rows(df: DataFrame, n: String): Seq[Row] =
    df.select(col("k"), col("x"), col("y"), col("p"), col(n), col("s"))
      .as[Row].collect().toSeq.sortBy(_._1)

  private def model(m: Map[Long, Row]): Seq[Row] = m.values.toSeq.sortBy(_._1)

  /** `body` at the default gate, then with the vector on the Spark
    * side (the cap at 0). */
  private def gated[T](body: => T): (T, T) =
    (body, ManifestTable.dvLocalCarryCap.withValue(0L)(body))

  private def assertBoth[T](what: String, r: (T, T), expected: T): Unit = {
    assert(r._1 == r._2, s"$what: in-scan filter and anti-join disagree")
    assert(r._1 == expected, s"$what: result differs from the model")
  }

  /** The current version's vector, file key → sorted positions. */
  private def vectorOf(root: String): Map[String, Seq[Long]] = {
    val dir = ManifestTable.versionDataDir(spark, root,
      ManifestTable.currentVersion(spark, root).get)
    MetaIO.dvPositions(spark, s"$root/$dir/_dv").map { case (k, v) =>
      k.toString -> v.toSeq }
  }

  /** Run a writer on two copies of `t`, one per gate; both must leave
    * the same rows (equal to `expected`) and the same vector. */
  private def writerParity(t: Table, what: String)(op: String => Any)(
      expected: Map[Long, Row] => Map[Long, Row]): Unit = {
    val (a, b) = (copyOf(t), copyOf(t))
    op(a.root)
    ManifestTable.dvLocalCarryCap.withValue(0L)(op(b.root))
    val want = model(expected(t.current))
    Seq(a, b).foreach(c => assert(
      rows(ManifestTable.read(spark, c.root).get, t.n) == want,
      s"$what on ${t.shape}: result differs from the model"))
    assert(vectorOf(a.root) == vectorOf(b.root),
      s"$what on ${t.shape}: the two gates left different vectors")
  }

  private lazy val tables: Map[Shape, Table] =
    shapes.map(s => s -> build(s)).toMap

  test("readVersion, the change feed and full reads: every version, " +
      "both gates, equal to the model") {
    shapes.foreach { s =>
      val t = tables(s)
      t.models.foreach { case (v, m) =>
        assertBoth(s"readVersion v$v on $s", gated(rows(
          ManifestTable.readVersion(spark, t.root, v), t.n)), model(m))
      }
      val (first, last) = (t.models.keys.min, t.models.keys.max)
      val feed = gated(ManifestTable.changes(spark, t.root, first, last,
        Seq("k")).filter($"_change_type" === "delete")
        .select($"k").as[Long].collect().toSeq.sorted)
      assertBoth(s"change feed on $s", feed,
        (t.models(first).keySet -- t.current.keySet).toSeq.sorted)
    }
    // the table's vector spans several files, not one
    val plain = tables(Plain)
    assert(vectorOf(plain.root).size >= 3)
    // two reads of one version are the same plan (cache lookups and
    // exchange reuse match), though each ships its own broadcast
    def plan() = ManifestTable.readVersion(spark, plain.root,
      plain.models.keys.max).queryExecution.optimizedPlan
    assert(plan().sameResult(plan()))
  }

  test("scanXRange, readBloomCandidates and readPartitions: both " +
      "gates equal to the model") {
    Seq(Plain, Partitioned).foreach { s =>
      val t = tables(s)
      assertBoth(s"scanXRange on $s",
        gated(rows(ZTable.scanXRange(spark, t.root, 90L, 430L), t.n)),
        model(t.current.filter(kv => kv._1 >= 90 && kv._1 <= 430)))
      // s105 lives (updated), s140 and s410 are deleted, s702 merged in
      Seq(105L, 140L, 410L, 702L).foreach { k =>
        val got = gated(rows(ZTable.readBloomCandidates(spark, t.root,
          lit(s"s$k")), t.n))
        assert(got._1 == got._2, s"readBloomCandidates s$k on $s")
        assert(got._1.forall(r => t.current.get(r._1).contains(r)),
          s"readBloomCandidates s$k on $s returned a dead row")
        assert(got._1.exists(_._1 == k) == t.current.contains(k),
          s"readBloomCandidates s$k on $s")
      }
    }
    val p = tables(Partitioned)
    assertBoth("readPartitions",
      gated(rows(PartitionedTable.readPartitions(spark, p.root,
        Seq("p1")), p.n)),
      model(p.current.filter(_._2._4 == "p1")))
  }

  test("the DV DML finds write the same vector at both gates") {
    shapes.foreach { s =>
      val t = tables(s)
      writerParity(t, "deleteWhereDV")(r => ManifestTable.deleteWhereDV(
        spark, r, col("k") % 5 === 0 && col("k") < 500))(
        _.filter(kv => !(kv._1 % 5 == 0 && kv._1 < 500)))
      writerParity(t, "updateWhereDV")(r => ManifestTable.updateWhereDV(
        spark, r, col("k").between(300, 340), Map(t.n -> lit(0L))))(
        _.map { case (k, r) =>
          k -> (if (k >= 300 && k <= 340) r.copy(_5 = 0L) else r) })
      val ks = (1L to 30L) ++ (400L to 430L) ++ Seq(900L)
      writerParity(t, "mergeDV")(r => merge(r, t.n, ks))(
        _ ++ ks.map(k => k -> row(k, -k)))
    }
  }

  test("binPack, reorg and the scoped and partition rewrites: both " +
      "gates equal to the model") {
    shapes.foreach { s =>
      val t = tables(s)
      // the merge-on-read fragments are small, the layout's files
      // large: binPack folds the former and carries the latter with
      // their vector rows
      val threshold = {
        val fs = org.apache.hadoop.fs.FileSystem.getLocal(
          spark.sparkContext.hadoopConfiguration)
        val v = t.models.keys.max
        val refs = ManifestTable.versionFileRefs(spark, t.root, v).get
        val sizes = refs.map(r => fs.getFileStatus(
          new org.apache.hadoop.fs.Path(s"${t.root}/$r")).getLen).sorted
        sizes(sizes.size / 2)
      }
      writerParity(t, "optimizeBinPack")(r => assert(
        ManifestTable.optimizeBinPack(spark, r, minFileBytes = threshold)
          > t.models.keys.max))(identity)
      writerParity(t, "reorg")(r => assert(
        ManifestTable.reorg(spark, r) > t.models.keys.max))(identity)
    }
    val plain = tables(Plain)
    writerParity(plain, "deleteWhereScoped")(r =>
      ZTable.deleteWhereScoped(spark, r, 100L, 160L))(
      _.filter(kv => kv._1 < 100 || kv._1 > 160))
    writerParity(plain, "updateWhereScoped")(r =>
      ZTable.updateWhereScoped(spark, r, 100L, 160L, Map("n" -> lit(1L))))(
      _.map { case (k, r) =>
        k -> (if (k >= 100 && k <= 160) r.copy(_5 = 1L) else r) })
    val part = tables(Partitioned)
    writerParity(part, "optimizeZOrderPartitions")(r =>
      ZTable.optimizeZOrderPartitions(spark, r, Seq("p1"), "x", "y",
        "k"))(identity)
    writerParity(part, "deleteWhereInPartitions")(r =>
      PartitionedTable.deleteWhereInPartitions(spark, r, Seq("p2"),
        col("k") < 300))(
      _.filter(kv => !(kv._2._4 == "p2" && kv._1 < 300)))
  }

  test("a table root with a space in its name reads the same " +
      "at both gates") {
    val root = java.nio.file.Files
      .createTempDirectory("graft dv_").toString + "/t"
    val base = (1L to 200L).map(k => row(k, k)).map(r => r._1 -> r).toMap
    ManifestTable.commit(rowsDf(model(base), "n").repartition(3), root)
    ManifestTable.deleteWhereDV(spark, root, col("k") % 4 === 1)
    assertBoth("read under a spaced root", gated(rows(
      ManifestTable.read(spark, root).get, "n")),
      model(base.filter(_._1 % 4 != 1)))
  }
}
