package graft.ops

import graft.SparkSpec
import org.apache.hadoop.fs.Path

/** The filtered carry of a multi-part metadata frame
  * ([[MetaIO.carryFrameFiltered]], [[ManifestTable.carryDvFiltered]])
  * works part by part: a part whose keys all survive is byte-copied
  * (the largest such part; its `.crc` sidecar rides along and still
  * verifies), a part whose keys all drop is skipped unread, any other
  * part is decoded and filtered, and the carried frame holds at most
  * two parts. Whatever the parts, the surviving rows equal a filter
  * over the whole frame, at the default gate and with the cap at 0
  * (the Spark semi-join). */
class FrameCarrySpec extends SparkSpec {
  import spark.implicits._

  private def freshDir(): String =
    java.nio.file.Files.createTempDirectory("graft_framecarry_").toString

  private lazy val fs = new Path("/").getFileSystem(
    spark.sparkContext.hadoopConfiguration)

  /** Add `rows` as ONE part file (and its `.crc`) to `frame`,
    * through Spark's writer, dictionary encoding on or off; returns
    * the part's name. */
  private def addPart(frame: String, rows: Seq[(String, Long)],
      dictionary: Boolean = true): String = {
    val tmp = freshDir() + "/w"
    rows.toDF("path", "row_index").coalesce(1).write
      .option("parquet.enable.dictionary", dictionary.toString)
      .parquet(tmp)
    val part = new java.io.File(tmp).listFiles()
      .filter(f => f.getName.startsWith("part-")).head
    new java.io.File(frame).mkdirs()
    // numbered in write order, so the frame's part order is the order
    // the parts were added in
    val name = f"part-${partsOf(frame).size}%03d-" +
      part.getName.stripPrefix("part-")
    java.nio.file.Files.copy(part.toPath,
      new java.io.File(frame, name).toPath)
    java.nio.file.Files.copy(
      new java.io.File(tmp, s".${part.getName}.crc").toPath,
      new java.io.File(frame, s".$name.crc").toPath)
    name
  }

  /** Whether the `path` chunks of a part hold a dictionary page (a
    * small part may fall back to plain: the writer drops a dictionary
    * that does not pay). */
  private def dictionaryEncoded(file: String): Boolean = {
    import scala.jdk.CollectionConverters._
    org.apache.parquet.hadoop.ParquetFileReader.readFooter(
      spark.sparkContext.hadoopConfiguration, new Path(file),
      org.apache.parquet.format.converter.ParquetMetadataConverter.NO_FILTER)
      .getBlocks.asScala.forall(_.getColumns.asScala
        .filter(_.getPath.toDotString == "path")
        .forall(_.hasDictionaryPage))
  }

  private def partsOf(frame: String): Seq[String] =
    new java.io.File(frame).listFiles().map(_.getName)
      .filter(n => !n.startsWith("_") && !n.startsWith(".")).sorted.toSeq

  private def rowsOf(frame: String): Seq[(String, Long)] =
    spark.read.parquet(frame).as[(String, Long)].collect().toSeq.sorted

  private def bytes(f: java.io.File) =
    java.nio.file.Files.readAllBytes(f.toPath)

  /** Read a file whole through the checksummed FileSystem: a `.crc`
    * that does not match the bytes throws. */
  private def readVerified(p: String): Unit = {
    val in = fs.open(new Path(p))
    try {
      val buf = new Array[Byte](fs.getFileStatus(new Path(p)).getLen.toInt)
      in.readFully(0, buf)
    } finally in.close()
  }

  test("parts wholly kept are copied (largest only, .crc verifying), " +
      "wholly dropped skipped, mixed and dictionary-less ones " +
      "filtered; rows equal the whole-frame filter at both gates") {
    val d = freshDir()
    val frame = s"$d/base/_dv"
    val big = (0L until 300L).map(i => ("d1/a", i)) ++
      (0L until 200L).map(i => ("d1/c", i))
    val parts = Seq(
      // wholly kept, the largest: copied byte for byte
      "big" -> addPart(frame, big),
      // wholly kept, smaller: its rows join the new part
      "small" -> addPart(frame,
        (0L until 60L).map(i =>
          (if (i % 2 == 0) "d1/c" else "d1/a", 900L + i))),
      // wholly dropped
      "dropped" -> addPart(frame,
        (0L until 60L).map(i => (if (i < 30) "d2/x" else "d2/y", i))),
      // mixed: d1/b sorts between the two kept keys of the part
      "between" -> addPart(frame,
        Seq("d1/a", "d1/b", "d1/c").flatMap(k =>
          (0L until 30L).map(i => (k, 500L + i)))),
      // wholly kept keys but no dictionary: more rows than "big", and
      // still decoded, never copied
      "plain" -> addPart(frame, (0L until 700L).map(i => ("d1/a", 1000L + i)),
        dictionary = false)).toMap
    Seq("big", "small", "dropped", "between").foreach(p =>
      assert(dictionaryEncoded(s"$frame/${parts(p)}"), s"part $p"))
    assert(!dictionaryEncoded(s"$frame/${parts("plain")}"))
    val keep = Set("d1/a", "d1/c")
    val all = rowsOf(frame)
    val want = all.filter(r => keep.contains(r._1))
    assert(want.size == 500 + 60 + 60 + 700)

    ManifestTable.carryDvFiltered(spark, d, "base", "driver", keep)
    val driver = s"$d/driver/_dv"
    assert(rowsOf(driver) == want)
    val out = partsOf(driver)
    assert(out.size == 2, s"carried frame holds ${out.size} parts: $out")
    assert(out.contains(parts("big")),
      s"the largest kept part was not copied: $out")
    Seq("small", "dropped", "between", "plain").foreach(p =>
      assert(!out.contains(parts(p)), s"part $p was copied whole"))
    val (src, dst) = (new java.io.File(frame), new java.io.File(driver))
    Seq(parts("big"), s".${parts("big")}.crc").foreach(n =>
      assert(bytes(new java.io.File(src, n)).sameElements(
        bytes(new java.io.File(dst, n))), s"$n differs from its source"))
    out.foreach(n => readVerified(s"$driver/$n"))

    ManifestTable.dvLocalCarryCap.withValue(0L)(
      ManifestTable.carryDvFiltered(spark, d, "base", "joined", keep))
    assert(rowsOf(s"$d/joined/_dv") == want)

    // nothing survives: no frame (absent `_dv` = no deletions)
    ManifestTable.carryDvFiltered(spark, d, "base", "none", Set("zz"))
    assert(!new java.io.File(s"$d/none/_dv").exists())
  }

  test("a wholly dropped part is never decoded; a carry of one wholly " +
      "kept part is that part alone; a key range inside `keep` is not " +
      "a key set inside it") {
    val d = freshDir()
    val frame = s"$d/f"
    val rows = (0L until 60L).map(i => (if (i < 30) "d1/a" else "d1/b", i))
    val kept = addPart(frame, rows)
    // a dropped part whose rows do not even have the frame's shape:
    // decoding it would fail the local carry
    val tmp = freshDir() + "/w"
    (0L until 60L).map(i => ("d9/z", i)).toDF("path", "pos")
      .coalesce(1).write.parquet(tmp)
    new java.io.File(tmp).listFiles()
      .filter(f => f.getName.startsWith("part-")).foreach(f =>
        java.nio.file.Files.copy(f.toPath,
          new java.io.File(frame, "part-999-" + f.getName).toPath))
    assert(MetaIO.carryFrameFiltered(spark, frame, s"$d/out", "path",
      Set("d1/a", "d1/b"), capBytes = 1L << 20))
    assert(partsOf(s"$d/out") == Seq(kept))
    assert(bytes(new java.io.File(frame, kept)).sameElements(
      bytes(new java.io.File(s"$d/out", kept))))
    // a key set that keeps one row of that part: decoded, not copied
    assert(MetaIO.carryFrameFiltered(spark, frame, s"$d/mixed", "path",
      Set("d1/b"), capBytes = 1L << 20))
    assert(rowsOf(s"$d/mixed") == rows.filter(_._1 == "d1/b"))
    assert(!partsOf(s"$d/mixed").contains(kept))
    // a dropped key that sorts between two kept keys of one part: the
    // part is mixed, never carried whole
    val abc = Seq("d1/a", "d1/b", "d1/c").flatMap(k =>
      (0L until 30L).map(i => (k, i)))
    addPart(s"$d/g", abc)
    assert(MetaIO.carryFrameFiltered(spark, s"$d/g", s"$d/g2", "path",
      Set("d1/a", "d1/c"), capBytes = 1L << 20))
    assert(rowsOf(s"$d/g2") == abc.filter(_._1 != "d1/b").sorted)
    // writeEmpty keeps an empty frame when nothing survives
    assert(MetaIO.carryFrameFiltered(spark, frame, s"$d/empty", "path",
      Set("none"), capBytes = 1L << 20, writeEmpty = true))
    assert(partsOf(s"$d/empty").size == 1 && rowsOf(s"$d/empty").isEmpty)
  }
}
