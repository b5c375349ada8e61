package graft.ops

import graft.SparkSpec
import org.apache.spark.graft.JobCounter
import org.apache.spark.sql.functions._

/** Round-16 metadata-action layer: the driver-side Bloom probe must
  * run without a Spark job and equal the distributed register join
  * bit-for-bit. */
class MetaActionSpec extends SparkSpec {
  import spark.implicits._

  private def freshDir(): String =
    java.nio.file.Files.createTempDirectory("graft_metaact_").toString

  test("localBloomProbe == the register-join probe (same superset, " +
      "both key types), and the conf cap forces the join path") {
    val root = freshDir() + "/t"
    val df = spark.range(0, 4000)
      .select($"id".as("k"), ($"id" % 97).as("y"),
        concat(lit("key"), $"id").as("s"))
    ManifestTable.commit(df, root)
    val lroot = freshDir() + "/t"
    ManifestTable.commit(df, lroot)
    ZTable.optimizeZOrder(spark, root, "k", "y", "k", nFiles = 6,
      bloomCol = Some("s"))
    ZTable.optimizeZOrder(spark, lroot, "y", "k", "k", nFiles = 6,
      bloomCol = Some("k"))
    def joined[T](body: => T): T =
      ManifestTable.dvLocalCarryCap.withValue(0L)(body)
    // the default gate probes on the driver (0 jobs), the forced one
    // runs the register join (≥ 1 job), and both return the same set
    def parity(what: String, local: => Seq[String],
        join: => Seq[String]): Seq[String] = {
      val (l, nl) = JobCounter.count(spark)(local.sorted)
      val (j, nj) = JobCounter.count(spark)(joined(join.sorted))
      assert(nl == 0, s"$what: driver probe started $nl Spark jobs")
      assert(nj >= 1, s"$what: forced join probe started no Spark job")
      assert(l == j, s"$what: driver probe diverged from the register " +
        s"join: $l vs $j")
      l
    }
    def dirOf(r: String) = ManifestTable.versionDataDir(spark, r, 2L)
    def any(r: String, keys: Seq[Any]) =
      ZTable.bloomProbePathsAny(spark, r, dirOf(r), keys)
    def in(r: String, keys: Seq[Any]) =
      GraftPruning.bloomCandidatesIn(spark, r, dirOf(r), keys).toSeq
    // present keys must be findable (no false negatives)
    assert(parity("IN string", any(root, Seq("key123", "key3999",
      "nosuchkey")), any(root, Seq("key123", "key3999", "nosuchkey")))
      .nonEmpty)
    assert(parity("IN long", any(lroot, Seq(123L, 3999L, 123456789L)),
      any(lroot, Seq(123L, 3999L, 123456789L))).nonEmpty)
    // a definitely-absent key alone: subset (usually empty)
    parity("absent", any(root, Seq("definitely-absent-key")),
      any(root, Seq("definitely-absent-key")))
    // the public entry resolves its key column once, on the driver
    assert(parity("bloomCandidateFiles string",
      ZTable.bloomCandidateFiles(spark, root, lit("key77")),
      ZTable.bloomCandidateFiles(spark, root, lit("key77"))).nonEmpty)
    assert(parity("bloomCandidateFiles long",
      ZTable.bloomCandidateFiles(spark, lroot, lit(77L)),
      ZTable.bloomCandidateFiles(spark, lroot, lit(77L))).nonEmpty)
    // the planner's IN-list entry caches its verdict per key set, so
    // each side gets a key set of its own; the join side is checked
    // against the driver probe of the same keys
    def fileKeys(ps: Seq[String]) = ps.map(ManifestTable.fileKeyOf)
    parity("bloomCandidatesIn string", in(root, Seq("key5", "key6")),
      fileKeys(any(root, Seq("key5", "key6"))))
    parity("bloomCandidatesIn long", in(lroot, Seq(5L, 6L)),
      fileKeys(any(lroot, Seq(5L, 6L))))
    val (_, nIn) = JobCounter.count(spark)(
      joined(in(root, Seq("key7", "key8"))))
    assert(nIn >= 1, "forced join IN-list probe started no Spark job")
  }

  test("driver-built Bloom registers == the Spark-built ones across " +
      "establish, merge, update, binPack and scoped update (string " +
      "column with NULLs, int column)") {
    // each file of the current version named by its `_stats` row, so
    // two tables written from the same rows compare although their
    // file names differ
    def fingerprints(root: String): Map[String, Seq[Any]] = {
      val v = ManifestTable.currentVersion(spark, root).get
      val fp = ZTable.stats(spark, root, v).collect().map(r =>
        r.getAs[String]("path") -> Seq("n_rows", "min_x", "max_x",
          "min_y", "max_y").map(r.getAs[Any])).toMap
      assert(fp.values.toSet.size == fp.size,
        s"two files of $root share a stats row")
      fp
    }
    // OR-folded (file, word, bits) of the current version
    def registers(root: String): Set[(Seq[Any], Long, Long)] = {
      val fp = fingerprints(root)
      val v = ManifestTable.currentVersion(spark, root).get
      ZTable.bloom(spark, root, v).get.collect().toSeq
        .groupBy(r => (fp(r.getString(0)), r.getLong(1)))
        .map { case ((f, w), rs) => (f, w, rs.map(_.getLong(2)).reduce(_ | _)) }
        .toSet
    }
    Seq("s", "i").foreach { bc =>
      val base = freshDir()
      val df = spark.range(0, 4000).select($"id".as("k"),
        ($"id" % 97).as("y"),
        when($"id" % 50 =!= 0, concat(lit("key"), $"id")).as("s"),
        when($"id" % 45 =!= 0, ($"id" * 3).cast("int")).as("i"))
      val batch = spark.range(100, 160).union(spark.range(9000, 9020))
        .select($"id".as("k"), ($"id" % 97).as("y"),
          when($"id" % 4 =!= 0, concat(lit("new"), $"id")).as("s"),
          when($"id" % 3 =!= 0, ($"id" * 5).cast("int")).as("i"))
      val ops: Seq[(String, String => Any)] = Seq(
        // one output file: the range sampler is seeded per RDD, so a
        // wider establish splits the two tables' files differently
        "optimizeZOrder" -> (r => ZTable.optimizeZOrder(spark, r, "k",
          "y", "k", nFiles = 1, bloomCol = Some(bc))),
        "mergeBatchDV" -> (r => ManifestTable.mergeBatchDV(spark, r,
          batch, Seq("k"), batchKey = "b1")),
        "updateWhereDV" -> (r => ManifestTable.updateWhereDV(spark, r,
          $"k".between(300, 340),
          Map(bc -> lit(null).cast(df.schema(bc).dataType)))),
        "optimizeBinPack" -> (r => ManifestTable.optimizeBinPack(spark,
          r, minFileBytes = 8L * 1024)),
        "updateWhereScoped" -> (r => ZTable.updateWhereScoped(spark, r,
          0L, 50L, Map("y" -> ($"y" + 1)))))
      val (local, spark0) = (s"$base/local", s"$base/spark")
      Seq(local, spark0).foreach(ManifestTable.commit(df, _))
      ops.foreach { case (name, op) =>
        val (_, lj) = JobCounter.jobs(spark)(op(local))
        val (_, sj) = JobCounter.jobs(spark)(
          ManifestTable.dvLocalCarryCap.withValue(0L)(op(spark0)))
        def built(js: Seq[JobCounter.Job]) =
          js.count(_.callSite.contains("sparkRegisters"))
        assert(built(lj) == 0, s"$bc/$name: driver side ran the Spark build")
        assert(built(sj) >= 1, s"$bc/$name: gate 0 skipped the Spark build")
        val (l, s) = (registers(local), registers(spark0))
        assert(l.nonEmpty)
        val (onlyL, onlyS) = (l -- s, s -- l)
        assert(onlyL.isEmpty && onlyS.isEmpty, s"$bc/$name: driver-built " +
          s"registers differ from the Spark-built ones: ${onlyL.take(3)} " +
          s"vs ${onlyS.take(3)}")
      }
      // and the probes agree on every file of the final versions
      Seq("key123", "new120", "key50").foreach { key =>
        val k: Any = if (bc == "s") key else key.filter(_.isDigit).toInt
        def fps(root: String) = ZTable.bloomCandidateFiles(spark, root,
          lit(k)).map(fingerprints(root)).toSet
        assert(fps(local) == fps(spark0), s"$bc: probe of $k diverged")
      }
    }
  }

  test("countVersion == readVersion.count() across COW commits, MoR " +
      "deletes/updates and file-list carries") {
    val root = freshDir() + "/t"
    ManifestTable.commit(
      spark.range(0, 1000).select($"id".as("k"), ($"id" % 7).as("g")),
      root)
    ManifestTable.deleteWhereDV(spark, root, $"g" === 3)        // v2 MoR
    ManifestTable.updateWhereDV(spark, root, $"g" === 2,
      Map("g" -> lit(99L)))                                     // v3 MoR
    ManifestTable.append(spark, root,
      spark.range(5000, 5050).select($"id".as("k"),
        lit(1L).as("g")))                                       // v4 carry
    (1L to 4L).foreach { v =>
      assert(ManifestTable.countVersion(spark, root, v) ==
        ManifestTable.readVersion(spark, root, v).count(),
        s"countVersion diverged at v$v")
    }
  }
}
