package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Driver-side parquet metadata IO ([[MetaIO]], round-15 optimization
  * layer): footer-derived schemas/stats/row counts and the no-fork
  * local filesystem must be EXACTLY equivalent to the Spark paths
  * they replace — these specs pin the equivalences. */
class MetaIOSpec extends SparkSpec {
  import spark.implicits._

  private def freshDir(): String =
    java.nio.file.Files.createTempDirectory("graft_metaio_").toString

  /** The frame readers' parity inputs: every type a frame holds. */
  private val parity = {
    import org.apache.spark.sql.types._
    StructType(Seq(StructField("path", StringType),
      StructField("row_index", LongType), StructField("i", IntegerType),
      StructField("b", BooleanType), StructField("d", DoubleType)))
  }

  /** Rows `lo until hi` of the parity frame: runs of one `path`, and
    * with `nulls` a null in every column somewhere. */
  private def parityRows(lo: Long, hi: Long, nulls: Boolean) = {
    def orNull(c: org.apache.spark.sql.Column, m: Int) =
      if (nulls) when($"id" % m =!= m / 2, c) else c
    spark.range(lo, hi).select(
      orNull(concat(lit("d1/f"), ($"id" / 37).cast("long")), 53).as("path"),
      orNull($"id" * 7, 59).as("row_index"),
      orNull(($"id" % 11).cast("int"), 61).as("i"),
      orNull($"id" % 3 === 0, 67).as("b"),
      orNull($"id" / 4.0, 71).as("d"))
  }

  /** A multi-part parity frame at `dir`, in frame order: a Spark part
    * with dictionaries, a [[MetaIO.writeFrame]] part and a Spark part
    * without dictionaries, each Spark part cut into several row
    * groups. Returns the part files, sorted. */
  private def parityFrame(dir: String, nulls: Boolean): Seq[String] = {
    def sparkPart(n: Int, lo: Long, hi: Long, dictionary: Boolean) = {
      val tmp = freshDir() + "/w"
      parityRows(lo, hi, nulls).coalesce(1).write
        .option("parquet.enable.dictionary", dictionary.toString)
        .option("parquet.block.size", "1024").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.startsWith("part-")).head
      new java.io.File(dir).mkdirs()
      java.nio.file.Files.copy(part.toPath,
        new java.io.File(dir, s"part-00$n-${part.getName}").toPath)
    }
    sparkPart(0, 0, 400, dictionary = true)
    MetaIO.writeFrame(spark, dir, parity,
      parityRows(400, 500, nulls).collect().toSeq, append = true)
    sparkPart(1, 500, 900, dictionary = false)
    val files = new java.io.File(dir).listFiles().map(_.getPath)
      .filter(_.split('/').last.startsWith("part-")).toSeq.sorted
    assert(files.size == 3)
    files.foreach(f => assert(
      f.split('/').last.startsWith("part-00000-") || rowGroups(f) > 1, f))
    files
  }

  private def rowGroups(file: String): Int =
    org.apache.parquet.hadoop.ParquetFileReader.readFooter(
      spark.sparkContext.hadoopConfiguration,
      new org.apache.hadoop.fs.Path(file), org.apache.parquet.format
        .converter.ParquetMetadataConverter.NO_FILTER).getBlocks.size

  /** Each part of `files` read by Spark in `parity`'s shape, in order. */
  private def sparkRows(files: Seq[String]): Seq[Seq[Any]] =
    files.flatMap(f =>
      spark.read.schema(parity).parquet(f).collect().map(_.toSeq))

  test("readParquet: footer-resolved schema equals inference, " +
      "rows identical") {
    val d = freshDir()
    spark.range(0, 100)
      .select($"id".as("k"), ($"id" * 2).cast("int").as("i"),
        concat(lit("s"), $"id").as("s"), ($"id" / 3.0).as("dbl"))
      .coalesce(2).write.parquet(s"$d/t")
    val inferred = spark.read.parquet(s"$d/t")
    val resolved = MetaIO.readParquet(spark, s"$d/t")
    assert(resolved.schema == inferred.schema)
    assert(resolved.orderBy("k").collect()
      .sameElements(inferred.orderBy("k").collect()))
  }

  test("schemaOf refuses hive-partitioned layouts (partition columns " +
      "must come from discovery, not a footer)") {
    val d = freshDir()
    spark.range(0, 20).select($"id", ($"id" % 2).as("p"))
      .write.partitionBy("p").parquet(s"$d/t")
    assert(MetaIO.schemaOf(spark,
      new org.apache.hadoop.fs.Path(s"$d/t")).isEmpty)
    // and the reader falls back to discovery: partition column present
    assert(MetaIO.readParquet(spark, s"$d/t").columns.contains("p"))
  }

  test("footerIntStats == the read-back aggregation for int dims, " +
      "including an all-null column; bails on strings") {
    val d = freshDir()
    spark.range(0, 500)
      .select($"id".as("x"), ($"id" % 37).cast("int").as("y"),
        lit(null).cast("long").as("z"), concat(lit("v"), $"id").as("s"))
      .coalesce(3).write.parquet(s"$d/t")
    val fs = new org.apache.hadoop.fs.Path(s"$d/t")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = fs.listStatus(new org.apache.hadoop.fs.Path(s"$d/t"))
      .map(_.getPath.toString)
      .filter(p => { val n = p.split('/').last
        !n.startsWith("_") && !n.startsWith(".") }).toSeq.sorted
    val got = MetaIO.footerIntStats(spark, files, "x", "y").get
      .map(r => r._1 -> r).toMap
    // ground truth: the Spark read-back aggregation per file
    val truth = spark.read.parquet(files: _*)
      .withColumn("__p", substring_index(input_file_name(), "/", -2))
      .groupBy("__p")
      .agg(count(lit(1)).as("n"),
        min($"x".cast("long")).as("mnx"), max($"x".cast("long")).as("mxx"),
        min($"y".cast("long")).as("mny"), max($"y".cast("long")).as("mxy"))
      .collect()
    assert(truth.nonEmpty && truth.length == got.size)
    truth.foreach { r =>
      val g = got(r.getString(0))
      assert(g._2 == r.getLong(1) && g._3 == r.getLong(2) &&
        g._4 == r.getLong(3) && g._5 == r.getLong(4) &&
        g._6 == r.getLong(5), s"footer stats diverge on ${r.getString(0)}")
    }
    // all-null int column: null bounds, exact row count
    val gz = MetaIO.footerIntStats(spark, files, "x", "z").get
    assert(gz.forall(t => t._5 == null && t._6 == null))
    // a string dim must bail (binary stats can be truncated)
    assert(MetaIO.footerIntStats(spark, files, "x", "s").isEmpty)
    // a missing column must bail
    assert(MetaIO.footerIntStats(spark, files, "x", "nope").isEmpty)
  }

  test("footerRowCount matches count()") {
    val d = freshDir()
    spark.range(0, 321).coalesce(2).write.parquet(s"$d/t")
    assert(MetaIO.footerRowCount(spark, s"$d/t") == 321L)
  }

  test("frameHead reads the first row's string/long/null fields " +
      "driver-side") {
    val d = freshDir()
    Seq(("a/b", 42L, null.asInstanceOf[String]))
      .toDF("path", "n_rows", "bloom_col")
      .coalesce(1).write.parquet(s"$d/f")
    val h = MetaIO.frameHead(spark, s"$d/f").get
    assert(h("path") == "a/b" && h("n_rows") == 42L &&
      h("bloom_col") == null)
  }

  test("FastLocalFileSystem: permissions land identically to stock " +
      "hadoop, without the fork") {
    val conf = new org.apache.hadoop.conf.Configuration(
      spark.sparkContext.hadoopConfiguration)
    val fast = new FastLocalFileSystem
    fast.initialize(new java.net.URI("file:///"), conf)
    val d = freshDir()
    val p = new org.apache.hadoop.fs.Path(s"$d/x.bin")
    val out = fast.create(p)
    out.write(Array[Byte](1, 2, 3)); out.close()
    import org.apache.hadoop.fs.permission.FsPermission
    fast.setPermission(p, new FsPermission("640"))
    val st = fast.getFileStatus(p)
    assert(st.getPermission == new FsPermission("640"))
    // the checksum sidecar exists (checksum semantics preserved)
    assert(new java.io.File(s"$d/.x.bin.crc").exists())
    // read-back verifies through the checksum layer
    val in = fast.open(p)
    val buf = new Array[Byte](3)
    in.readFully(0, buf); in.close()
    assert(buf.toSeq == Seq[Byte](1, 2, 3))
  }

  test("copyFrame: nio copy is byte-identical, keeps .crc sidecars " +
      "valid, and the copied frame reads back equal") {
    val d = freshDir()
    Seq(("k1", 1L), ("k2", 2L)).toDF("path", "row_index")
      .coalesce(1).write.parquet(s"$d/src")
    val fs = new org.apache.hadoop.fs.Path(d)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    ZTable.copyFrame(fs, s"$d/src", s"$d/dst")
    val a = spark.read.parquet(s"$d/src").orderBy("path").collect()
    val b = spark.read.parquet(s"$d/dst").orderBy("path").collect()
    assert(a.sameElements(b))
    // .crc sidecars rode along verbatim
    val crcs = new java.io.File(s"$d/dst").listFiles()
      .count(_.getName.endsWith(".crc"))
    assert(crcs >= 1, "checksum sidecars must survive the nio copy")
  }

  // ---- round-16: driver-side frame WRITES and filtered carries ----

  test("writeFrame: driver-written frame is read-equal AND " +
      "footer-schema-identical to the Spark write of the same rows") {
    val d = freshDir()
    val df = Seq(
      ("d1/a.parquet", 10L, Option(5L), Option(9L), "x", true, 1.5),
      ("d1/b.parquet", 0L, None, None, "y", false, -0.25))
      .toDF("path", "n_rows", "min_x", "max_x", "s", "b", "dbl")
    df.coalesce(1).write.parquet(s"$d/spark")
    MetaIO.writeFrame(spark, s"$d/driver", df.schema,
      df.collect().toIndexedSeq)
    val a = spark.read.parquet(s"$d/spark")
    val b = spark.read.parquet(s"$d/driver")
    // EXACT physical schema parity (required/optional flags included):
    // the two writers' footers must convert to the same Spark schema
    assert(MetaIO.schemaOf(spark,
        new org.apache.hadoop.fs.Path(s"$d/driver")).get ==
      MetaIO.schemaOf(spark,
        new org.apache.hadoop.fs.Path(s"$d/spark")).get)
    assert(b.orderBy("path").collect()
      .sameElements(a.orderBy("path").collect()))
    // and a .crc sidecar exists (written through the checksummed FS)
    assert(new java.io.File(s"$d/driver").listFiles()
      .exists(_.getName.endsWith(".crc")))
  }

  test("writeFrame append: a driver part file APPENDED into a " +
      "Spark-written frame dir reads as the union (mixed footers " +
      "compatible)") {
    val d = freshDir()
    val base = Seq(("p1", 1L), ("p2", 2L)).toDF("path", "row_index")
    base.coalesce(1).write.parquet(s"$d/f")
    MetaIO.writeFrame(spark, s"$d/f", base.schema,
      Seq(org.apache.spark.sql.Row("p3", 3L)), append = true)
    val got = MetaIO.readParquet(spark, s"$d/f")
      .orderBy("path").collect().map(r => (r.getString(0), r.getLong(1)))
    assert(got.toSeq == Seq(("p1", 1L), ("p2", 2L), ("p3", 3L)))
  }

  test("writeFrame refuses a second create of the same frame " +
      "(errorifexists parity) and unsupported schemas") {
    val d = freshDir()
    val df = Seq(("a", 1L)).toDF("k", "v")
    MetaIO.writeFrame(spark, s"$d/f", df.schema, df.collect().toSeq)
    intercept[org.apache.hadoop.fs.FileAlreadyExistsException] {
      MetaIO.writeFrame(spark, s"$d/f", df.schema, df.collect().toSeq)
    }
    val arr = Seq((Seq(1, 2), 1L)).toDF("a", "v")
    assert(!MetaIO.frameWritable(arr.schema))
  }

  test("writeFrame throws on a null in a non-nullable field before " +
      "writing any file") {
    import org.apache.spark.sql.types._
    val d = freshDir()
    val schema = StructType(Seq(StructField("path", StringType),
      StructField("n", LongType, nullable = false)))
    val rows = Seq(org.apache.spark.sql.Row("a", 1L),
      org.apache.spark.sql.Row("b", null))
    val e = intercept[IllegalArgumentException] {
      MetaIO.writeFrame(spark, s"$d/f", schema, rows)
    }
    assert(e.getMessage.contains("non-nullable field n"))
    assert(!new java.io.File(s"$d/f").exists(),
      "a refused frame left a directory behind")
    // the same null in a nullable field writes and reads back as null
    MetaIO.writeFrame(spark, s"$d/g",
      StructType(schema.map(_.copy(nullable = true))), rows)
    assert(MetaIO.frameRows(spark, s"$d/g").map(_("n")) == Seq(1L, null))
  }

  test("carryFrameFiltered == the broadcast semi-join carry; over-cap " +
      "frames decline (caller falls back)") {
    val d = freshDir()
    val dv = Seq(("d1/a", 0L), ("d1/a", 3L), ("d1/b", 1L), ("d2/c", 7L))
      .toDF("path", "row_index")
    dv.coalesce(1).write.parquet(s"$d/src")
    val keep = Set("d1/a", "d2/c")
    assert(MetaIO.carryFrameFiltered(spark, s"$d/src", s"$d/dst",
      "path", keep, capBytes = 1L << 20))
    val got = spark.read.parquet(s"$d/dst").orderBy("path", "row_index")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got == Seq(("d1/a", 0L), ("d1/a", 3L), ("d2/c", 7L)))
    // nothing survives → no dst (absent frame = "none", DV contract)
    assert(MetaIO.carryFrameFiltered(spark, s"$d/src", s"$d/none",
      "path", Set("zz"), capBytes = 1L << 20))
    assert(!new java.io.File(s"$d/none").exists())
    // writeEmpty = true keeps an (empty) frame dir — the `_bloom`
    // existence-probe contract
    assert(MetaIO.carryFrameFiltered(spark, s"$d/src", s"$d/empty",
      "path", Set("zz"), capBytes = 1L << 20, writeEmpty = true))
    assert(spark.read.parquet(s"$d/empty").count() == 0L)
    // over the cap: decline, write nothing
    assert(!MetaIO.carryFrameFiltered(spark, s"$d/src", s"$d/over",
      "path", keep, capBytes = 1L))
    assert(!new java.io.File(s"$d/over").exists())
  }

  test("frameRowsAs returns schema-attached rows in field order; " +
      "parallel frameRows equals the Spark read on a multi-file frame") {
    val d = freshDir()
    val df = spark.range(0, 500)
      .select(concat(lit("p"), $"id").as("path"), $"id".as("n"))
    df.repartition(5).write.parquet(s"$d/f")
    val schema = MetaIO.schemaOf(spark,
      new org.apache.hadoop.fs.Path(s"$d/f")).get
    val rows = MetaIO.frameRowsAs(spark, s"$d/f", schema).get
    assert(rows.size == 500)
    assert(rows.head.fieldIndex("path") == schema.fieldIndex("path"))
    val got = rows.map(r => (r.getAs[String]("path"), r.getAs[Long]("n")))
      .sortBy(_._2)
    val want = df.collect().map(r => (r.getString(0), r.getLong(1)))
      .sortBy(_._2).toSeq
    assert(got == want)
    // a requested field missing from the frame declines loudly-softly
    val other = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("nope",
        org.apache.spark.sql.types.StringType)))
    assert(MetaIO.frameRowsAs(spark, s"$d/f", other).isEmpty)
    // every reader equals the Spark read of a frame holding each type,
    // nulls, dictionary and plain parts, and several row groups
    val files = parityFrame(s"$d/p", nulls = true)
    val truth = sparkRows(files)
    assert(truth.size == 900 && parity.indices.forall(j =>
      truth.exists(_(j) == null)))
    assert(MetaIO.frameRows(spark, s"$d/p").map(m =>
      parity.fieldNames.toSeq.map(m(_))) == truth)
    assert(MetaIO.frameRowsAs(spark, s"$d/p", parity).get.map(_.toSeq) ==
      truth)
    val streamed = scala.collection.mutable.ArrayBuffer.empty[Seq[Any]]
    val paths = scala.collection.mutable.ArrayBuffer.empty[String]
    assert(MetaIO.streamFrame(spark, s"$d/p", parity) { row =>
      streamed += row.toSeq
      paths += row(0).asInstanceOf[String]
      true
    })
    assert(streamed == truth)
    // the dictionary part (the first 400 rows) hands one String
    // instance to a run of one key within a row group
    val runs = paths.take(400).sliding(2).filter(p =>
      p(0) != null && p(0) == p(1)).toSeq
    assert(runs.size > 300 &&
      runs.count(p => !(p(0) eq p(1))) < rowGroups(files.head))
    Seq("path", "row_index", "i").foreach { c =>
      val j = parity.fieldIndex(c)
      assert(MetaIO.columnValues(spark, files, c).get.flatten.map {
        case u: org.apache.spark.unsafe.types.UTF8String => u.toString
        case v => v
      } == truth.map(_(j)), c)
    }
    val dv = sparkRows(parityFrame(s"$d/dv", nulls = false))
      .groupMap(_(0).toString)(_(1).asInstanceOf[Long])
      .map { case (k, v) => k -> v.sorted }
    assert(MetaIO.dvPositions(spark, s"$d/dv").map { case (k, v) =>
      k.toString -> v.toSeq } == dv)
  }

  test("frameRowsAs checks every row's keys: a later part file that " +
      "lacks a field declines the whole frame") {
    import org.apache.spark.sql.types._
    val d = freshDir()
    val full = StructType(Seq(StructField("path", StringType),
      StructField("n", LongType)))
    val short = StructType(Seq(StructField("path", StringType)))
    MetaIO.writeFrame(spark, s"$d/a", full,
      Seq(org.apache.spark.sql.Row("p1", 1L)))
    MetaIO.writeFrame(spark, s"$d/b", short,
      Seq(org.apache.spark.sql.Row("p2")))
    // one frame dir whose FIRST file (name order) has every field
    val f = new java.io.File(s"$d/f")
    f.mkdirs()
    Seq("a" -> "part-0.parquet", "b" -> "part-1.parquet").foreach {
      case (src, name) =>
        val file = new java.io.File(s"$d/$src").listFiles()
          .find(_.getName.endsWith(".parquet")).get
        java.nio.file.Files.copy(file.toPath, new java.io.File(f, name).toPath)
    }
    assert(MetaIO.frameRowsAs(spark, s"$d/a", full).get.size == 1)
    assert(MetaIO.frameRowsAs(spark, f.getPath, full).isEmpty)
    assert(MetaIO.frameRowsAs(spark, f.getPath, short).get
      .map(_.getString(0)) == Seq("p1", "p2"))
    // a parity frame plus a part that lacks `d`: the full-shape
    // readers decline, the others read the part's fields as Spark does
    val files = parityFrame(s"$d/p", nulls = true)
    MetaIO.writeFrame(spark, s"$d/p", StructType(parity.take(4)),
      Seq(org.apache.spark.sql.Row("d9/x", 1L, 2, true)), append = true)
    val all = new java.io.File(s"$d/p").listFiles().map(_.getPath)
      .filter(_.split('/').last.startsWith("part-")).toSeq.sorted
    assert(all.size == files.size + 1)
    assert(MetaIO.frameRows(spark, s"$d/p").map(m =>
      parity.fieldNames.toSeq.map(m.getOrElse(_, null))) == sparkRows(all))
    assert(MetaIO.frameRowsAs(spark, s"$d/p", parity).isEmpty)
    assert(!MetaIO.streamFrame(spark, s"$d/p", parity)(_ => true))
    assert(MetaIO.columnValues(spark, all, "d").isEmpty)
    assert(MetaIO.columnValues(spark, all, "path").get.flatten.size ==
      sparkRows(all).size)
  }

  test("multi-path readParquet invariant: every footer of an unpinned " +
      "ref set agrees with the first (ADVICE r15 #4 — asserted here " +
      "so a violation fails loudly in CI, not silently in reads)") {
    val d = freshDir()
    Seq((1L, "a")).toDF("k", "v").write.parquet(s"$d/t1")
    Seq((2L, "b")).toDF("k", "v").write.parquet(s"$d/t2")
    val s1 = MetaIO.schemaOf(spark,
      new org.apache.hadoop.fs.Path(s"$d/t1")).get
    val s2 = MetaIO.schemaOf(spark,
      new org.apache.hadoop.fs.Path(s"$d/t2")).get
    assert(s1 == s2)
    val both = MetaIO.readParquet(spark, Seq(s"$d/t1", s"$d/t2"))
    assert(both.orderBy("k").collect().map(_.getString(1)).toSeq ==
      Seq("a", "b"))
  }
}
