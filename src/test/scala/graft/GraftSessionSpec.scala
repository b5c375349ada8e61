package graft

/** The session factory must hand back a session whose SQL surface
  * includes BOTH the custom aggregates (kmv_distinct) and the native
  * expressions (graft_*) — whether the session was freshly built with
  * extensions or reused from an earlier builder (retrofit path) — and
  * it must be the only session factory, so the suite, Bench and Verify
  * run on the session that ships. */
class GraftSessionSpec extends SparkSpec {

  test("getOrCreate exposes native expressions and aggregates in SQL") {
    // the shared test session is already factory-built, so this takes
    // getOrCreate's reuse path: the finishing steps run again on it,
    // and the live session's conf (its test width) stays as it was,
    // even against a builder that asks for another width
    val width = spark.conf.get("spark.sql.shuffle.partitions")
    val s = GraftSession.getOrCreate(GraftSession.builder("graft-session-spec")
      .config("spark.sql.shuffle.partitions", (width.toInt + 3).toString))
    assert(spark.conf.get("spark.sql.shuffle.partitions") == width)
    val g = s.sql("SELECT graft_word_shingles('a b c', 2) AS g")
      .collect().head.getSeq[String](0)
    assert(g == Seq("a b", "b c"))
    assert(s.sql("SELECT graft_dotq(array(1L,2L), array(3L,4L)) AS d")
      .collect().head.getLong(0) == 11L)
    assert(s.sql(
      "SELECT kmv_distinct(graft_md5prefix60(CAST(x AS STRING))) AS n " +
        "FROM range(1000) t(x)").collect().head.getDouble(0) > 0.0)
  }

  test("the test session carries the shipped factory's conf") {
    val s = SparkSpec.session
    val fastFs = classOf[graft.ops.FastLocalFileSystem].getName
    assert(s.sparkContext.getConf.get("spark.hadoop.fs.file.impl") == fastFs)
    assert(s.sessionState.newHadoopConf().get("fs.file.impl") == fastFs)
    assert(s.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(s.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(s.sessionState.sqlParser.isInstanceOf[graft.sql.GraftSqlParser])
  }

  // comment lines (a scaladoc usage example) are not calls
  private def comment(l: String) = {
    val t = l.trim
    t.startsWith("*") || t.startsWith("//") || t.startsWith("/*")
  }

  /** (file name, lines) of every Scala source under `dirs`. */
  private def sources(dirs: Seq[String]): Seq[(String, Seq[String])] = {
    import scala.jdk.CollectionConverters._
    dirs.flatMap { d =>
      val w = java.nio.file.Files.walk(java.nio.file.Paths.get(d))
      try w.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      finally w.close()
    }.map(p => p.getFileName.toString ->
      java.nio.file.Files.readAllLines(p).asScala.toSeq)
  }

  /** File names of the Scala sources under `dirs` with a non-comment
    * line that contains any of `calls`. */
  private def callers(dirs: Seq[String], calls: Seq[String]): Seq[String] =
    sources(dirs).collect { case (name, lines)
      if lines.exists(l => !comment(l) && calls.exists(l.contains)) => name }

  test("GraftSession is the only caller of the Spark session builder") {
    assert(callers(Seq("src/main", "src/test"),
      Seq("SparkSession" + ".builder(")) == Seq("GraftSession.scala"))
  }

  test("no engine path outside GraftSession changes the session conf") {
    // the session is shared by concurrent threads (Verify's query pool,
    // ModelRegistry.runParallel): a set-and-restore around one action
    // would leak into every other thread's plans
    val mutations = Seq("conf.set(", "conf.unset(", ".unset(", "setConf(")
    assert(callers(Seq("src/main/scala/graft"), mutations)
      .forall(_ == "GraftSession.scala"))
  }

  /** (file name, def name, code) of every `def` under
    * `src/main/scala/graft`, comment lines dropped; a def's code runs
    * to the next `def` in its file. */
  private lazy val defs: Seq[(String, String, String)] = {
    val defName = """\bdef\s+(\w+)""".r
    sources(Seq("src/main/scala/graft")).flatMap { case (file, lines) =>
      val code = lines.filterNot(comment).mkString("\n")
      val starts = defName.findAllMatchIn(code).toSeq
      starts.zip(starts.drop(1).map(_.start) :+ code.length).map {
        case (m, end) => (file, m.group(1), code.substring(m.start, end))
      }
    }
  }

  test("one function writes a version's `_files` list") {
    // a def whose code names the `_files` manifest and creates a file
    // writes one. A second hand-rolled file-list commit fails here
    val filesLiteral = """["/]_files"""".r
    val writers = defs.collect { case (file, name, body)
      if filesLiteral.findFirstIn(body).isDefined &&
        body.contains(".create(") => s"$file:$name" }
    assert(writers == Seq("ManifestTable.scala:writeFileList"))
  }

  test("one function publishes a version: `_op`, marker, compaction") {
    // a commit that writes its own `_op`, marker or compaction fails
    // here; the defining `def` line itself is not a call
    Seq("writeOpMeta", "writeMarker", "maybeAutoCompact").foreach { f =>
      val call = s"""(?<!def )\\b$f\\(""".r
      val callers = defs.collect { case (file, name, body)
        if call.findFirstIn(body).isDefined => s"$file:$name" }
      assert(callers == Seq("ManifestTable.scala:publish"), f)
    }
  }

  test("parquet-mr files are read in one place") {
    // MetaIO holds the one file opener and the one row decoder: a
    // second parquet-mr reader elsewhere fails here, and so does the
    // example-record reader or the deprecated footer read anywhere
    val readers = Seq("ParquetFileReader", "ParquetReader",
      "GroupReadSupport", "ColumnIOFactory")
    assert(callers(Seq("src/main/scala/graft"), readers) ==
      Seq("MetaIO.scala"))
    assert(sources(Seq("src/main/scala/graft")).filter { case (_, lines) =>
      lines.exists(l => l.contains("GroupReadSupport") ||
        l.contains("readFooter(")) }.isEmpty)
  }
}
