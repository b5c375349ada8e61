package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Z-ordered layout COMMITTED INTO the transactional manifest — the
  * missing half of the round-11 layout work ([[Layout]] computed
  * z-order file assignments and min/max stats, but the stats lived
  * only in the returning DataFrame: a restarted session had to
  * rebuild them, and the layout could drift from the table version).
  * Here [[optimizeZOrder]] rewrites the CURRENT version z-clustered
  * and commits the per-file min/max ranges (and optional per-file
  * Bloom registers) as version payload — the [[IndexStore]]
  * multi-frame precedent applied to table metadata, and the native
  * analog of Delta's per-file stats / Iceberg manifests / Snowflake's
  * micro-partition metadata (the machinery every reference gold query
  * silently relied on, cf. `dags/logistics-gold-metrics-sql.py:24-197`
  * — Snowflake prunes micro-partitions by exactly these ranges).
  *
  * Version-dir layout (on [[ManifestTable]]'s protocol, unchanged):
  * {{{
  *   root/d<N>-<tok>/part-*.parquet — z-clustered data (plain parquet,
  *                                    schema UNCHANGED — the commit is
  *                                    dataChange-false: changes()
  *                                    across it is EMPTY, spec-pinned)
  *   root/d<N>-<tok>/_stats/        — one row per data file: path,
  *                                    n_rows, min/max of both cluster
  *                                    dims, the dim column names, the
  *                                    bloom column name (nullable)
  *   root/d<N>-<tok>/_bloom/        — (path, word, bits) Bloom
  *                                    registers, when requested
  *   root/d<N>-<tok>/_files         — (scoped-DML versions only) the
  *                                    version's file list, untouched
  *                                    files carried BY REFERENCE
  * }}}
  * Underscore-prefixed names are invisible to Spark's file index, so
  * a plain `readVersion` of an optimized dir still reads exactly the
  * data files; [[ManifestTable.readDataDir]] resolves `_files`
  * versions. Stats are SELF-CONTAINED per version (each version's dir
  * holds the stats for its full file list, including referenced
  * files), so the read path is restart-safe and time-travelable: a
  * fresh session prunes off the committed stats of whatever version
  * it resolves, no session state involved.
  *
  * Scoped DML ([[deleteWhereScoped]]/[[updateWhereScoped]]): the
  * predicate's range conjunct is evaluated against the committed
  * per-file ranges, ONLY intersecting files are rewritten (into the
  * new version's dir), and every other file is carried forward by
  * path — at 100 TB a DELETE that touches 0.1% of the key space
  * rewrites 0.1% of the files, not the table. Pruning is sound by
  * construction: the range is PART of the predicate
  * (`x BETWEEN lo AND hi AND extra`), so a non-intersecting file
  * cannot contain a matching row. [[ManifestTable.vacuum]] is
  * reference-aware (a dir survives while any retained version
  * references files inside it).
  *
  * 100-TB shape: the layout rewrite is ONE range shuffle on the
  * z-value (`repartitionByRange` — the sampled range partitioner is
  * exactly how a sort lands on a 1000-executor cluster) + one stats
  * aggregation at file grain; planning a pruned scan collects one row
  * per FILE (the Delta manifest-planning pattern — O(files), never
  * O(rows)); the pruned scan itself opens only intersecting files.
  */
object ZTable {

  private val M = 8192L // Bloom bits FLOOR per file (legacy fixed size)

  /** Scaled-register geometry: bits per distinct key. A fixed 8192-bit
    * register saturates at ~2.3k keys (measured 627/640 files opened
    * on a point probe at 100× — sound, useless); sizing each file's
    * register from its OWN committed row count — m = max(8192,
    * 8·n_rows), k = 2 hashes → ~5% per-file FPR at any scale — keeps
    * the point probe opening a few percent of files forever. The
    * `(path, word, bits)` frame shape is unchanged (registers just
    * carry more words); a `_bloom/_GEOM` side file records the factor
    * so the probe derives each file's m from the `_stats` row counts.
    * Frames WITHOUT the marker are legacy fixed-M and keep probing at
    * 8192 — old commits stay sound, new commits scale. */
  private[ops] val bloomBitsPerKey = 8L

  private def geomPath(root: String, dir: String) =
    new org.apache.hadoop.fs.Path(s"$root/$dir/_bloom/_GEOM")

  /** The register geometry of a committed frame: Some(bitsPerKey) for
    * scaled frames, None for legacy fixed-M. */
  private[ops] def geomOf(spark: SparkSession, root: String,
      dir: String): Option[Long] = {
    val f = fs(spark, root)
    val p = geomPath(root, dir)
    if (!f.exists(p)) None
    else {
      val in = f.open(p)
      try {
        val buf = new java.io.ByteArrayOutputStream()
        org.apache.hadoop.io.IOUtils.copyBytes(in, buf, 64, false)
        Some(buf.toString("UTF-8").trim.toLong)
      } finally in.close()
    }
  }

  private[ops] def writeGeom(f: org.apache.hadoop.fs.FileSystem,
      root: String, dir: String, bpk: Long): Unit = {
    val p = geomPath(root, dir)
    if (f.exists(p)) return
    val out = f.create(p, true)
    try out.write(bpk.toString.getBytes("UTF-8")) finally out.close()
  }

  /** Per-file register size for the frame at `dir`: max(8192,
    * bpk·n_rows) off the committed `_stats` row counts for scaled
    * frames; the flat legacy M otherwise. */
  private def mByPath(spark: SparkSession, root: String, dir: String,
      bl: DataFrame): DataFrame = geomOf(spark, root, dir) match {
    case Some(bpk) =>
      MetaIO.readParquet(spark, s"$root/$dir/_stats")
        .select(col("path"),
          greatest(lit(M), col("n_rows") * bpk).as("m"))
    case None =>
      bl.select(col("path")).distinct().withColumn("m", lit(M))
  }

  /** The paths of a committed frame whose registers admit ANY of
    * `keys` (same-typed literal values, e.g. an IN list) under BOTH
    * hash seeds — a provable superset (no false negatives; a path with
    * no surviving register row has bit 0 and is excluded). Serves
    * [[bloomCandidateFiles]] and the planner's
    * [[graft.ops.GraftPruning.bloomCandidates]]/`bloomCandidatesIn`.
    *
    * Driver path: when the committed register frame is planning-sized
    * (on-disk bytes ≤ [[ManifestTable.dvLocalCarryCap]], the gate the
    * commit path already uses to carry the same frame on the driver)
    * and every key is a string or integral value, the probe
    * runs ENTIRELY on the driver — one parquet-mr frame read + the
    * same two-seed md5-prefix check
    * ([[graft.expressions.Md5Prefix60.hash60]], the identical hash the
    * registers were built with) — zero Spark jobs, where the register
    * join pays a collect plus its broadcast builds. Past the cap, or
    * for other key types, the distributed register join runs (the
    * 100 TB path: O(files × words) rows, never data). Both compute the
    * same superset. */
  private[ops] def bloomProbePathsAny(spark: SparkSession, root: String,
      dir: String, keys: Seq[Any]): Seq[String] =
    localBloomProbe(spark, root, dir, keys).getOrElse(
      joinBloomProbe(spark, root, dir, array(keys.map(lit): _*)))

  /** The driver side of [[bloomProbePathsAny]]: each file's needed
    * (word, bit) pairs — two per key, from the key's two hashes modulo
    * the file's register size — are worked out once per file, and the
    * committed `(path, word, bits)` rows stream past them
    * ([[MetaIO.streamFrame]]): no map per row, no table of all
    * registers. The frame dir may hold several parts (one per commit
    * that appended registers); a file's words may sit in any of them.
    * Candidates come back in first-seen frame order. */
  private def localBloomProbe(spark: SparkSession, root: String,
      dir: String, keys: Seq[Any]): Option[Seq[String]] = {
    // rendered exactly as concat_ws's cast-to-string
    val lits: Seq[String] = keys.map {
      case s: String => s
      case n @ (_: Long | _: Int | _: Short | _: Byte) => n.toString
      case _ => return None
    }
    val f = fs(spark, root)
    val bp = new org.apache.hadoop.fs.Path(s"$root/$dir/_bloom")
    if (!f.exists(bp)) return None
    if (f.listStatus(bp).filter(_.isFile).map(_.getLen).sum >
        ManifestTable.dvLocalCarryCap.value)
      return None
    // hash of key i under seed j at index 2i + j
    val hs = lits.flatMap(ks => Seq(501, 502).map(seed =>
      graft.expressions.Md5Prefix60.hash60(
        org.apache.spark.unsafe.types.UTF8String
          .fromString(s"$seed|$ks")))).toArray
    // per-path register size, same derivation as [[mByPath]]
    val mOf: String => Option[Long] = geomOf(spark, root, dir) match {
      case Some(bpk) =>
        val st = MetaIO.frameRows(spark, s"$root/$dir/_stats")
        val mm = st.map { r =>
          (r.get("path"), r.get("n_rows")) match {
            case (Some(p: String), Some(n: java.lang.Number)) =>
              p -> math.max(M, n.longValue * bpk)
            case _ => return None
          }
        }.toMap
        mm.get
      case None => _ => Some(M)
    }
    final class Needs(m: Long) {
      val word: Array[Long] = hs.map(h => (h % m) >> 5)
      val bit: Array[Long] = hs.map(h => 1L << ((h % m) & 31).toInt)
      val hit = new Array[Boolean](hs.length)
    }
    val needs = new java.util.LinkedHashMap[String, Needs]()
    var lastPath: String = null
    var last: Needs = null
    // a row with a null falls back, like a part of another shape
    val streamed = MetaIO.streamFrame(spark, bp.toString, bloomSchema) {
      row => !row.contains(null) && {
        val p = row(0).asInstanceOf[String]
        if (!(p eq lastPath)) {
          lastPath = p
          last = needs.get(p)
          if (last == null) {
            // a register row of a file `_stats` does not list: fall back
            last = mOf(p).map(new Needs(_)).orNull
            if (last != null) needs.put(p, last)
          }
        }
        last != null && {
          val w = row(1).asInstanceOf[Long]
          val b = row(2).asInstanceOf[Long]
          var i = 0
          while (i < hs.length) {
            if (last.word(i) == w && (b & last.bit(i)) != 0L)
              last.hit(i) = true
            i += 1
          }
          true
        }
      }
    }
    if (!streamed) return None
    import scala.jdk.CollectionConverters._
    Some(needs.asScala.iterator.collect {
      case (p, n) if lits.indices.exists(i =>
        n.hit(2 * i) && n.hit(2 * i + 1)) => p
    }.toSeq)
  }

  private def joinBloomProbe(spark: SparkSession, root: String,
      dir: String, keys: Column): Seq[String] = {
    val bl = MetaIO.readParquet(spark, s"$root/$dir/_bloom")
    val keyRows = spark.range(1).select(explode(keys).as("key"))
    val probes = Seq(501, 502).map(seed =>
      keyRows.select(col("key"), lit(seed).as("j"),
        graft.functions.TextFunctions.hash60(col("key"), seed)
          .as("h0")))
      .reduce(_ unionByName _)
    bl.join(broadcast(mByPath(spark, root, dir, bl)), Seq("path"))
      .crossJoin(broadcast(probes))
      .select(col("path"), col("key"), col("j"), col("word"),
        col("bits"), (col("h0") % col("m")).as("h"))
      .filter(shiftright(col("h"), 5) === col("word") &&
        (col("bits").bitwiseAND(
          expr("shiftleft(CAST(1 AS BIGINT), CAST(h & 31 AS INT))")))
          =!= 0L)
      .groupBy(col("path"), col("key"))
      .agg(countDistinct(col("j")).as("nj"))
      .filter(col("nj") === 2)
      .select(col("path")).distinct()
      .collect().map(_.getString(0)).toSeq // O(files)
  }

  private def fs(spark: SparkSession, root: String) =
    new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Rewrite the current version z-clustered by (`xCol`,`yCol`) into
    * `nFiles` files and commit it WITH its skipping stats (+ Bloom
    * registers over `bloomCol`, if given) as the next version.
    * Logically a no-op (dataChange-false): the change feed across the
    * commit is empty. Returns the committed version.
    *
    * `nFiles` is the explicit file-count knob (a production OPTIMIZE
    * sizes by target bytes; at file grain the two are the same dial).
    * Stats are computed by reading BACK the files as written — they
    * can never disagree with the layout, whatever the range
    * partitioner sampled. */
  def optimizeZOrder(spark: SparkSession, root: String, xCol: String,
      yCol: String, tieCol: String, nFiles: Int,
      bloomCol: Option[String] = None, bits: Int = 16): Long = {
    require(nFiles >= 1, "nFiles must be >= 1")
    val base = ManifestTable.latest(spark, root)
      .getOrElse(sys.error(s"nothing to optimize at $root"))
    val baseDir = base.dir
    val df = ManifestTable.readDataDir(spark, root, baseDir)
    val cols = df.columns.toSet
    (Seq(xCol, yCol, tieCol) ++ bloomCol).foreach(c =>
      require(cols.contains(c), s"no column $c in $root (has $cols)"))
    // NORMALIZE each dim to the curve's bit width from its ACTUAL
    // bounds (one metadata-sized agg): interleaving raw values breaks
    // down whenever a dim outgrows `bits` (low-bit aliasing scrambles
    // the curve — surrogate keys at 10^10 are the norm at 100 TB) or
    // when one dim's constant high bits starve the other's. The
    // curve sees [0, 2^bits) per dim; the committed STATS keep raw
    // values, so pruning and DML scoping are exact regardless.
    // Bounds from the FOOTERS when that is provably bit-identical to
    // the aggregation: both dims plain ints (exact stats) AND no
    // deletion vector (footer bounds are pre-delete). The z-values,
    // layout and committed stats come out byte-identical — this only
    // removes the bounds job, never changes the curve. Any other
    // shape keeps the read-back aggregation.
    val footerB: Option[(Any, Any, Any, Any)] =
      if (ManifestTable.dvBytesOf(spark, root, baseDir) > 0L ||
          ManifestTable.colmapOf(spark, root, baseDir).nonEmpty) None
      else {
        val refs = ManifestTable.refsOf(spark, root, baseDir)
        MetaIO.footerIntStats(spark,
            refs.map(r => ManifestTable.resolveRef(root, r)),
            xCol, yCol)
          .map { rows =>
            def comb(sel: ((String, Long, Any, Any, Any, Any)) => Any,
                f: (Long, Long) => Long): Any = {
              val vs = rows.map(sel).collect { case l: java.lang.Long => l.longValue }
              if (vs.isEmpty) null else vs.reduce(f)
            }
            (comb(_._3, math.min), comb(_._4, math.max),
              comb(_._5, math.min), comb(_._6, math.max))
          }
      }
    val b: org.apache.spark.sql.Row = footerB match {
      case Some((a1, a2, a3, a4)) => org.apache.spark.sql.Row(a1, a2, a3, a4)
      case None => df.agg(min(col(xCol).cast("long")),
        max(col(xCol).cast("long")), min(col(yCol).cast("long")),
        max(col(yCol).cast("long"))).head()
    }
    val top = (1L << bits) - 1
    def scaled(c: org.apache.spark.sql.Column, loI: Int, hiI: Int) =
      if (b.isNullAt(loI) || b.getLong(hiI) <= b.getLong(loI)) lit(0L)
      else ((c.cast("long") - b.getLong(loI)) * top /
        (b.getLong(hiI) - b.getLong(loI))).cast("long")
    // ONE range shuffle on the z-value: each output file covers a
    // contiguous z-range, so BOTH dims' per-file min/max are tight —
    // the multi-dimensional clustering trade (Delta OPTIMIZE ZORDER)
    val dir = ManifestTable.writeVersionData(
      df.withColumn("__z", Layout.zValue(scaled(col(xCol), 0, 1),
          scaled(col(yCol), 2, 3), bits))
        .repartitionByRange(nFiles, col("__z"), col(tieCol))
        .sortWithinPartitions(col("__z"), col(tieCol))
        .drop("__z"), root, base.next)
    writeStats(spark, root, dir,
      ManifestTable.dataFilesIn(fs(spark, root), root, dir),
      xCol, yCol, bloomCol, carriedStats = None, carriedBloom = None)
    ManifestTable.publish(spark, root, base, dir, "OPTIMIZE")
  }

  /** PARTITION-SCOPED OPTIMIZE ZORDER — Delta's `OPTIMIZE tbl WHERE
    * <partition predicate> ZORDER BY (x, y)` on the partitioned
    * manifest store: z-cluster ONLY the named partitions' files
    * (their deletion-vector slice materializes in the rewrite — the
    * files are being rewritten anyway), carry every other partition
    * BY REFERENCE with its `_parts` row, vector rows, and stats/Bloom
    * rows intact. Output files are partition-pure AND z-contiguous
    * (one range shuffle on (partition value, z), then the same
    * flatten every partitioned write uses), so SURVEY §4's two knobs
    * stack with TIGHT in-partition ranges: partition pruning plans
    * off `_parts`, the z-range/Bloom skipping within a partition off
    * the per-file stats this commit establishes or extends.
    * dataChange-false (content identical; the feed across it is
    * empty). At 100 TB this is the nightly layout pass on HOT
    * partitions only — the cold ones are never touched.
    *
    * Stats: when the base already carries `_stats`, untouched files
    * keep their rows and the rewrites get fresh read-back rows (the
    * [[extendStats]] carry). When it carries none, stats are
    * ESTABLISHED — for the WHOLE version (rewrites read back,
    * untouched files scanned once for their rows): a partial frame
    * would make un-covered files invisible to the planner, which is
    * unsound. Returns the committed version. */
  def optimizeZOrderPartitions(spark: SparkSession, root: String,
      values: Seq[String], xCol: String, yCol: String, tieCol: String,
      filesPerPartition: Int = 1, bloomCol: Option[String] = None,
      bits: Int = 16, expectPcol: Option[String] = None): Long = {
    require(filesPerPartition >= 1, "filesPerPartition must be >= 1")
    val base0 = ManifestTable.baseOf(spark, root, "optimize")
    val baseDir = base0.dir
    require(ManifestTable.colmapOf(spark, root, baseDir).isEmpty,
      s"partition-scoped OPTIMIZE does not compose with column " +
        "mapping (a rename already drops `_parts`)")
    val (pcol, baseRows) = base0.parts
      .getOrElse(sys.error(s"version ${base0.v} of $root carries no " +
        "partition metadata — use optimizeZOrder (whole-table) or " +
        "commit through PartitionedTable first"))
    val base = base0.withRefs(baseRows.map(_._1))
    // the SQL form's WHERE column must BE the partition column — a
    // predicate on any other column is not a partition scope and
    // must refuse, not silently optimize the wrong slice
    expectPcol.foreach(e => require(e.equalsIgnoreCase(pcol),
      s"OPTIMIZE … WHERE names column $e but $root is partitioned " +
        s"by $pcol"))
    val want = values.toSet
    val (touched, untouched) = baseRows.partition(r => want.contains(r._2))
    require(touched.nonEmpty,
      s"no partition of $root matches ${values.mkString(",")}")
    val touchedPaths = touched.map(_._1)
    val cur = ManifestTable.live(spark, root, baseDir,
      ManifestTable.readRefsRaw(spark, root, baseDir, touchedPaths))
    val cols = cur.columns.toSet
    (Seq(xCol, yCol, tieCol, pcol) ++ bloomCol).foreach(c =>
      require(cols.contains(c), s"no column $c in $root (has $cols)"))
    val dir = ManifestTable.newDataDirName(base.next)
    // normalize dims from the TOUCHED slice's bounds (the curve is
    // local to the rewrite; committed stats keep raw values, so
    // pruning stays exact regardless — see [[optimizeZOrder]])
    val b = cur.agg(min(col(xCol).cast("long")),
      max(col(xCol).cast("long")), min(col(yCol).cast("long")),
      max(col(yCol).cast("long"))).head()
    val top = (1L << bits) - 1
    def scaled(c: Column, loI: Int, hiI: Int) =
      if (b.isNullAt(loI) || b.getLong(hiI) <= b.getLong(loI)) lit(0L)
      else ((c.cast("long") - b.getLong(loI)) * top /
        (b.getLong(hiI) - b.getLong(loI))).cast("long")
    // ONE range shuffle on (partition value, z): each task holds one
    // partition's contiguous z-segment, so the flatten's output files
    // are partition-pure AND z-contiguous — both dims' per-file
    // min/max tight within the partition
    val clustered = cur
      .withColumn("__z", Layout.zValue(scaled(col(xCol), 0, 1),
        scaled(col(yCol), 2, 3), bits))
      .repartitionByRange(
        math.max(1, want.size * filesPerPartition),
        col(pcol), col("__z"), col(tieCol))
      .sortWithinPartitions(col(pcol), col("__z"), col(tieCol))
      .drop("__z")
    val (appended, freshParts) =
      ManifestTable.writeDelta(spark, root, base, dir)(_ => clustered)
    val untouchedPaths = untouched.map(_._1)
    // stats: the commit extends the base's; a base without any gets
    // them ESTABLISHED for the whole version (partial coverage would
    // be unsound)
    if (base.stats.isEmpty)
      establishStats(spark, root, dir, untouchedPaths ++ appended, xCol,
        yCol, bloomCol)
    ManifestTable.commitFiles(spark, root, base, dir, untouchedPaths,
      appended, "OPTIMIZE", freshParts = freshParts)
  }

  /** The committed skipping stats of version `v` — one row per data
    * file: `path` (relative to root), `n_rows`, `min_x`/`max_x`/
    * `min_y`/`max_y` (the cluster dims cast to long), `x_col`/`y_col`
    * (the dim column names), `bloom_col` (null when no Bloom index).
    * Fails loudly when the version has no committed stats. */
  def stats(spark: SparkSession, root: String, v: Long): DataFrame = {
    val dir = ManifestTable.versionDataDir(spark, root, v)
    val p = new org.apache.hadoop.fs.Path(s"$root/$dir/_stats")
    require(fs(spark, root).exists(p),
      s"version $v of $root has no committed skipping stats — run " +
        "optimizeZOrder first")
    MetaIO.readParquet(spark, p.toString)
  }

  /** Committed per-file Bloom registers of version `v` (rows of
    * (path, word, bits)), None when the version carries none. */
  def bloom(spark: SparkSession, root: String, v: Long)
      : Option[DataFrame] = {
    val dir = ManifestTable.versionDataDir(spark, root, v)
    val p = new org.apache.hadoop.fs.Path(s"$root/$dir/_bloom")
    if (fs(spark, root).exists(p))
      Some(MetaIO.readParquet(spark, p.toString))
    else None
  }

  /** Data-skipping read of the CURRENT version: open ONLY the files
    * whose committed [min_x, max_x] intersects [lo, hi], then apply
    * the row filter. Planning is one O(files) driver-side collect of
    * the committed stats (the Delta manifest-planning pattern);
    * `df.inputFiles.length` on the result proves the pruning
    * (spec-locked). Restart-safe by construction — everything read
    * here is committed version payload. */
  def scanXRange(spark: SparkSession, root: String, lo: Long, hi: Long)
      : DataFrame = {
    // one snapshot: the version, its data dir and its `_dv` agree
    val b = ManifestTable.baseOf(spark, root, "read")
    val (v, sDir) = (b.v, b.dir)
    // O(files) planning metadata, read on the DRIVER via parquet-mr
    // (the collect() paid a Spark job per pruned scan plan)
    val sP = new org.apache.hadoop.fs.Path(s"$root/$sDir/_stats")
    require(fs(spark, root).exists(sP),
      s"version $v of $root has no committed skipping stats — run " +
        "optimizeZOrder first")
    val rows = MetaIO.frameRows(spark, sP.toString)
    require(rows.nonEmpty, s"empty stats at $root v$v")
    val xCol = rows.head("x_col").asInstanceOf[String]
    def bound(m: Map[String, Any], c: String): Option[Long] =
      m.get(c).flatMap(Option(_)).collect {
        case n: java.lang.Number => n.longValue }
    // NULL bounds (an all-null-x file) = unknown range: never skipped
    val keep = rows.filter { m =>
      val mn = bound(m, "min_x"); val mx = bound(m, "max_x")
      mn.isEmpty || mx.isEmpty || !(mx.get < lo || mn.get > hi)
    }.map(_("path").asInstanceOf[String]).toIndexedSeq
    val pruned =
      if (keep.isEmpty)
        ManifestTable.readDataDir(spark, root, sDir).filter(lit(false))
      else {
        // a merge-on-read version's deletions apply to the pruned
        // read too (stats keep pre-delete bounds — still a sound
        // SUPERSET, deletion only shrinks file content)
        ManifestTable.live(spark, root, sDir,
          MetaIO.readParquet(spark,
            keep.map(p => ManifestTable.resolveRef(root, p))))
      }
    pruned.filter(col(xCol).cast("long").between(lo, hi))
  }

  /** Scoped DELETE: remove rows matching
    * `xCol BETWEEN lo AND hi AND extra` by rewriting ONLY the files
    * whose committed x-range intersects [lo, hi]; every other file is
    * carried into the new version BY REFERENCE (its path, its stats
    * row, its Bloom rows — all unchanged). The range conjunct makes
    * the pruning provably sound; `extra` narrows further (NULL = no
    * match, SQL DELETE semantics). The new version's stats/bloom/
    * file-list are committed with it — skipping keeps working across
    * DML. Returns the new version.
    *
    * Deleting EVERY file's rows is refused (use
    * [[ManifestTable.deleteWhere]] — a scoped rewrite that touches
    * everything has no scope to exploit). */
  def deleteWhereScoped(spark: SparkSession, root: String, lo: Long,
      hi: Long, extra: Column = lit(true)): Long =
    rewriteScoped(spark, root, lo, hi, "DELETE") { (df, xCol) =>
      val cond = col(xCol).cast("long").between(lo, hi) && extra
      df.filter(!coalesce(cond, lit(false)))
    }

  /** Scoped UPDATE: apply `set` to rows matching
    * `xCol BETWEEN lo AND hi AND extra`, rewriting only intersecting
    * files — same single-projection pre-update-row semantics as
    * [[ManifestTable.updateWhere]], same carry-by-reference as
    * [[deleteWhereScoped]]. Returns the new version. */
  def updateWhereScoped(spark: SparkSession, root: String, lo: Long,
      hi: Long, set: Map[String, Column],
      extra: Column = lit(true)): Long =
    rewriteScoped(spark, root, lo, hi, "UPDATE") { (df, xCol) =>
      require(set.keySet.subsetOf(df.columns.toSet),
        s"unknown columns in SET: ${set.keySet -- df.columns}")
      val cond =
        coalesce(col(xCol).cast("long").between(lo, hi) && extra,
          lit(false))
      // each SET value takes its column's type (an untyped NULL too)
      val typed =
        set.map { case (c, e) => c -> e.cast(df.schema(c).dataType) }
      // CHECK constraints on the post-image of matched rows only —
      // filter-then-assign so the WHERE sees pre-update values (same
      // shape as [[ManifestTable.updateWhere]]'s enforcement)
      Checks.enforce(spark, root,
        df.filter(cond).select(df.columns.toIndexedSeq.map { c =>
          typed.get(c).map(_.as(c)).getOrElse(col(c))
        }: _*), "update post-image")
      df.select(df.columns.toIndexedSeq.map { c =>
        typed.get(c) match {
          case Some(e) => when(cond, e).otherwise(col(c)).as(c)
          case None => col(c)
        }
      }: _*)
    }

  /** Shared scoped-rewrite skeleton: partition the current version's
    * files by committed-range intersection with [lo, hi], rewrite the
    * intersecting ones through `transform`, and commit them with the
    * rest carried by reference ([[ManifestTable.commitFiles]]: stats/
    * Bloom rows of the carried files ride, the rewrites get fresh
    * ones). */
  private def rewriteScoped(spark: SparkSession, root: String, lo: Long,
      hi: Long, op: String)(
      transform: (DataFrame, String) => DataFrame): Long = {
    val base0 = ManifestTable.baseOf(spark, root, op.toLowerCase)
    // O(files) planning metadata read on the DRIVER (no Spark job),
    // once: the commit's stats carry reuses the same rows
    require(base0.stats.isDefined, s"version ${base0.v} of $root has " +
      "no committed skipping stats — run optimizeZOrder first")
    val st = base0.stats.get._2.toArray
    require(st.nonEmpty, s"empty stats at $root v${base0.v}")
    def s(r: org.apache.spark.sql.Row, c: String) =
      r.getString(r.fieldIndex(c))
    val xCol = s(st.head, "x_col")
    val (touched, untouched) = st.partition { r =>
      val (iLo, iHi) = (r.fieldIndex("min_x"), r.fieldIndex("max_x"))
      // NULL bounds = unknown range: conservatively touched
      r.isNullAt(iLo) || r.isNullAt(iHi) ||
        !(r.getLong(iHi) < lo || r.getLong(iLo) > hi)
    }
    require(touched.nonEmpty,
      s"no file of $root v${base0.v} intersects [$lo,$hi] — nothing to do")
    require(untouched.nonEmpty,
      s"every file of $root v${base0.v} intersects [$lo,$hi] — use the " +
        "unscoped DML (a full rewrite has no scope to exploit)")
    // the stats rows list exactly the version's files
    val base = base0.withRefs(st.toSeq.map(r => s(r, "path")))
    val dir = ManifestTable.newDataDirName(base.next)
    val touchedPaths = touched.map(r => s(r, "path")).toIndexedSeq
    // a merge-on-read version's deletions MATERIALIZE for the files
    // this rewrite touches (they are being rewritten anyway) and are
    // CARRIED for the untouched rest
    val touchedCur = ManifestTable.live(spark, root, base.dir,
      MetaIO.readParquet(spark,
        touchedPaths.map(p => ManifestTable.resolveRef(root, p))))
    // partition-pure rewrites on a partitioned base keep its `_parts`
    val (appended, freshParts) = ManifestTable.writeDelta(spark, root,
      base, dir)(_ => transform(touchedCur, xCol))
    ManifestTable.commitFiles(spark, root, base, dir,
      untouched.toSeq.map(r => s(r, "path")), appended, op,
      freshParts = freshParts)
  }

  /** ESTABLISH committed skipping stats for a freshly-written version
    * dir, without the z-order rewrite ([[optimizeZOrder]]'s stats
    * tail alone): per-file min/max over (`xCol`,`yCol`) + optional
    * Bloom registers, computed by reading the files back as written.
    * The partitioned store uses this to stack SURVEY §4's two pruning
    * knobs — partition pruning from `_parts`, z/Bloom skipping within
    * a partition from `_stats`/`_bloom` — on one commit. The files
    * are not z-clustered, so ranges are as tight as the layout
    * happens to be (partition-major layouts are usually
    * time-correlated); pruning stays SOUND regardless (read-back
    * min/max are exact). */
  private[ops] def establishStats(spark: SparkSession, root: String,
      dir: String, paths: Seq[String], xCol: String, yCol: String,
      bloomCol: Option[String]): Unit =
    writeStats(spark, root, dir, paths, xCol, yCol, bloomCol,
      carriedStats = None, carriedBloom = None)

  /** Extend a base version's COMMITTED skipping stats across a
    * file-list commit (the round-12 gap closed: MoR-appended
    * fragments used to DROP the `_stats`/`_bloom` frames until the
    * next [[optimizeZOrder]], leaving the flagship streaming-sink
    * shape unprunable between optimizes — where Snowflake stamps
    * micro-partition metadata on EVERY write and Delta/Iceberg write
    * per-file stats in each commit). Fresh per-file stats (and Bloom
    * registers, when the base carries them) are computed for
    * `appendedPaths` by reading them back as written — O(appended
    * bytes), the merge-on-read grain — and the base's rows are
    * CARRIED (filtered to `carriedPaths` when given; all when None).
    * Appended fragments are not z-clustered, so their ranges may be
    * wide — pruning stays SOUND (read-back min/max are exact), just
    * less selective on fragments until the next re-cluster. No-op
    * when the base version has no committed stats (or only an empty
    * frame while files are appended or dropped). */
  private[ops] def extendStats(spark: SparkSession, root: String,
      base: ManifestTable.Base, newDir: String, appendedPaths: Seq[String],
      carriedPaths: Option[Seq[String]]): Unit = {
    val f = fs(spark, root)
    val baseDir = base.dir
    val stPath = new org.apache.hadoop.fs.Path(s"$root/$baseDir/_stats")
    if (!f.exists(stPath)) return
    val bloomPath = new org.apache.hadoop.fs.Path(s"$root/$baseDir/_bloom")
    val hasBloom = f.exists(bloomPath)
    def dims(head: String => Any) = (head("x_col").asInstanceOf[String],
      head("y_col").asInstanceOf[String],
      Option(head("bloom_col")).map(_.toString))
    carriedPaths match {
      case None =>
        // carry-ALL fast path (every MoR DML commit): the carried
        // frames are copied at FILE grain — driver IO on tiny
        // metadata parquet, no Spark job — and the fresh rows APPEND
        // as new part files into the same frame dirs. The round-12
        // union-rewrite re-shuffled O(files × 256) Bloom rows through
        // a Spark job on EVERY commit — measured ~3 s of the 100×
        // mergeBatchDV wall; the copy is milliseconds at any scale.
        // The frame HEAD (dim names) is read only when fresh rows
        // need it — driver parquet read, memoized per immutable dir.
        val head =
          if (appendedPaths.isEmpty) None
          else Some(MetaIO.frameHead(spark, stPath.toString)
            .getOrElse(return))
        copyFrame(f, s"$root/$baseDir/_stats", s"$root/$newDir/_stats")
        if (hasBloom)
          copyFrame(f, bloomPath.toString, s"$root/$newDir/_bloom")
        head.foreach { h =>
          val (xCol, yCol, bloomCol) = dims(h)
          // fresh fragment registers MUST follow the BASE frame's
          // geometry (the copied rows' word/bits were computed under
          // it and cannot be re-derived) — scaled iff the base is
          writeStats(spark, root, newDir, appendedPaths, xCol, yCol,
            bloomCol.filter(_ => hasBloom), carriedStats = None,
            carriedBloom = None, append = true,
            bloomBpk = geomOf(spark, root, baseDir))
        }
      case Some(ps) =>
        // filtered carry (binPack/reorg/scoped and partitioned DML
        // drop rewritten files' rows): `_stats` is O(files) planning
        // metadata — the base's driver-read rows, filtered and merged
        // on the DRIVER (the Spark semi-join + write cost a broadcast
        // job + an action per commit)
        import spark.implicits._
        val keep = ps.toSet
        val (cSchema, all) = base.stats.get
        if (all.isEmpty) return
        val pi = cSchema.fieldIndex("path")
        val cRows = all.filter(r =>
          !r.isNullAt(pi) && keep.contains(r.getString(pi)))
        if (appendedPaths.isEmpty) {
          MetaIO.writeFrame(spark, s"$root/$newDir/_stats",
            cSchema, cRows)
          if (hasBloom) {
            // bloom registers are O(files × words) — driver carry
            // under the same cap as DV frames, semi-join past it
            if (!MetaIO.carryFrameFiltered(spark, bloomPath.toString,
                s"$root/$newDir/_bloom", "path", keep,
                ManifestTable.dvLocalCarryCap.value, writeEmpty = true))
              MetaIO.readParquet(spark, bloomPath.toString)
                .join(broadcast(ps.toDF("path")), Seq("path"),
                  "left_semi")
                .coalesce(1).write.parquet(s"$root/$newDir/_bloom")
            geomOf(spark, root, baseDir).foreach(bpk =>
              writeGeom(f, root, newDir, bpk))
          }
        } else {
          val (xCol, yCol, bloomCol) =
            dims(c => all.head.get(all.head.fieldIndex(c)))
          writeStats(spark, root, newDir, appendedPaths, xCol, yCol,
            bloomCol, Some((cSchema, cRows)),
            Option.when(hasBloom)(bloomPath.toString -> keep),
            bloomBpk = geomOf(spark, root, baseDir))
        }
    }
  }

  /** File-grain copy of a tiny metadata frame dir (stats/Bloom/DV/
    * parts) — driver IO, no Spark job. Shared with the verbatim-carry
    * commit paths in [[ManifestTable]] (a Spark read+repartition+write
    * of a 1-file frame costs ~3 jobs; this is milliseconds of driver
    * IO with identical bytes-level content). Two-filesystem form for
    * cross-root clones. */
  private[ops] def copyFrame(f: org.apache.hadoop.fs.FileSystem,
      src: String, dst: String,
      fDst: org.apache.hadoop.fs.FileSystem = null): Unit = {
    val fd = if (fDst == null) f else fDst
    val s = new org.apache.hadoop.fs.Path(src)
    val d = new org.apache.hadoop.fs.Path(dst)
    if (MetaIO.isLocal(f) && MetaIO.isLocal(fd)) {
      // every file, .crc sidecars included (a checksummed listing
      // hides them)
      val srcFiles = Option(MetaIO.localFile(s).listFiles())
        .getOrElse(Array.empty[java.io.File]).filter(_.isFile)
      // the caller asserts the source frame exists — an empty listing
      // here means a resolution bug; fail loudly instead of silently
      // committing an empty frame
      require(srcFiles.nonEmpty,
        s"copyFrame: source frame dir $src lists no files")
      MetaIO.copyFiles(f, srcFiles.toSeq.map(sf =>
        new org.apache.hadoop.fs.Path(s, sf.getName)), fd, d)
    } else
      MetaIO.copyFiles(f, f.listStatus(s).toSeq.map(_.getPath)
        .filter(!_.getName.startsWith(".")), fd, d)
  }

  /** Compute per-file stats (and Bloom registers) for `paths` by
    * reading the files as written, union carried rows, and write the
    * frames under the version dir. The read-back costs one extra scan
    * of the REWRITTEN bytes only — the price of stats that can never
    * disagree with the files; for int dims it is no scan at all (the
    * footers), and the fresh rows take the constant [[statsSchema]],
    * so no read-back DataFrame is planned unless the non-int fallback
    * or the Spark register build runs it. `carriedBloom` is a
    * committed `_bloom` frame dir — which may hold several parts, one
    * per commit that appended registers — and the paths whose register
    * rows ride along; under the driver gate its parts are carried part
    * by part ([[MetaIO.planCarry]]), so the written `_bloom` holds at
    * most two parts. */
  private def writeStats(spark: SparkSession, root: String, dir: String,
      paths: Seq[String], xCol: String, yCol: String,
      bloomCol: Option[String],
      carriedStats: Option[(org.apache.spark.sql.types.StructType,
        Seq[org.apache.spark.sql.Row])],
      carriedBloom: Option[(String, Set[String])],
      append: Boolean = false,
      bloomBpk: Option[Long] = Some(bloomBitsPerKey)): Unit = {
    val mode = if (append) "append" else "errorifexists"
    // working set of this stats/register pass = the appended bytes —
    // what the driver register build is gated on
    val appendedBytes: Option[Long] = try {
      val f0 = fs(spark, root)
      Some(paths.map(p => f0.getFileStatus(
        new org.apache.hadoop.fs.Path(s"$root/$p")).getLen).sum)
    } catch { case _: Throwable => None }
    // the read-back plans are built only where something runs them:
    // the non-int fallback collect and the Spark register build —
    // planning one costs more driver CPU than the footer stats do
    lazy val withPath = MetaIO.readParquet(spark,
        paths.map(p => s"$root/$p"))
      .withColumn("__path", substring_index(input_file_name(), "/", -2))
    lazy val fresh0 = withPath.groupBy(col("__path").as("path"))
      .agg(count(lit(1)).as("n_rows"),
        min(col(xCol).cast("long")).as("min_x"),
        max(col(xCol).cast("long")).as("max_x"),
        min(col(yCol).cast("long")).as("min_y"),
        max(col(yCol).cast("long")).as("max_y"))
      .withColumn("x_col", lit(xCol))
      .withColumn("y_col", lit(yCol))
      .withColumn("bloom_col",
        bloomCol.map(lit(_)).getOrElse(lit(null).cast("string")))
    // Per-file rows from the parquet FOOTERS when both dims are
    // plain int physical types (exact by construction — int column
    // statistics are never truncated, row counts always exact): zero
    // Spark jobs for the stats themselves. Any other shape falls back
    // to ONE action materializing the read-back aggregation to the
    // driver (O(files) — the planning grain). The pre-round-15 shape
    // collected only the KEY SET, then re-ran the same aggregation
    // inside the frame write, then re-read the written frame for the
    // Bloom sizes: three scans of the appended bytes plus a
    // read-back where one footer pass (or one scan) carries
    // everything (guide §1.2 — don't compute things twice).
    val freshRows: Seq[org.apache.spark.sql.Row] =
      MetaIO.footerIntStats(spark, paths.map(p => s"$root/$p"),
          xCol, yCol) match {
        case Some(rows) => rows.map { case (k, n, mnx, mxx, mny, mxy) =>
          org.apache.spark.sql.Row(k, n, mnx, mxx, mny, mxy,
            xCol, yCol, bloomCol.orNull) }
        // fallback aggregation (non-int dims): the exchange carries
        // O(files) rows after map-side partial agg
        case None => fresh0.collect().toSeq
      }
    // EMPTY files yield no read-back group — synthesize their rows
    // (0 rows, NULL bounds) so stats(v) covers EXACTLY the version's
    // file list at all times: a listed file with no stats row would
    // be silently invisible to the planner, breaking the coverage
    // invariant the DML scoping leans on. (Zero-row part files come
    // from empty shuffle partitions in a small post-image write or an
    // over-provisioned repartitionByRange.) O(files) driver set-diff
    // — the planning grain.
    val freshKeys = freshRows.map(_.getString(0)).toSet
    val missing = paths.map(p =>
      p.split('/').takeRight(2).mkString("/"))
      .filterNot(freshKeys.contains)
    val allLocal = freshRows ++ missing.map(p =>
      org.apache.spark.sql.Row(p, 0L, null, null, null, null,
        xCol, yCol, bloomCol.orNull))
    // EVERY `_stats` write is now a DRIVER write: the fresh rows are
    // already local (footer stats or one collected agg) and carried
    // rows arrive local from the caller (collected stats frame /
    // driver frame read) — the union and the one-file write need no
    // Spark action at all. The merged schema replicates unionByName:
    // carried column order, per-column nullability OR, fresh rows
    // re-ordered by name; a name mismatch throws exactly like
    // unionByName would.
    val freshSchema = statsSchema(bloomCol.isDefined)
    val (outSchema, outRows) = carriedStats match {
      case None => (freshSchema, allLocal)
      case Some((cs, crows)) =>
        val idx = cs.fieldNames.map(freshSchema.fieldIndex)
        val merged = org.apache.spark.sql.types.StructType(
          cs.fields.map { f =>
            f.copy(nullable =
              f.nullable || freshSchema(f.name).nullable) })
        (merged, crows ++ allLocal.map(r =>
          org.apache.spark.sql.Row(idx.map(r.get).toIndexedSeq: _*)))
    }
    MetaIO.writeFrame(spark, s"$root/$dir/_stats", outSchema, outRows,
      append = append)
    bloomCol.foreach { bc =>
      // q221's register shape at committed grain: (path, word, bits)
      // rows, one per OR-folded 32-bit block (far from the sign bit),
      // built on the driver under the gate and by one Spark bit_or
      // aggregation past it. Register size per file: scaled
      // frames (`bloomBpk` Some) use m = max(8192, bpk·n_rows) off
      // the SAME collected rows the `_stats` frame was written from
      // (no read-back — byte-identical inputs), so registers grow
      // with the file instead of saturating; legacy frames stay at
      // the fixed M. The per-path m MUST match what
      // [[bloomProbePathsAny]] derives at read time — both sides compute
      // it from the same committed n_rows.
      val mOf: Long => Long = bloomBpk match {
        case Some(bpk) => n => math.max(M, n * bpk)
        case None => _ => M
      }
      val sizePairs = allLocal
        .map(r => (r.getString(0), mOf(r.getLong(1))))
      localRegisters(spark, root, s"$root/$dir/_bloom", append, paths,
          bc, sizePairs.toMap, carriedBloom, appendedBytes) match {
        case Some((carry, fresh)) =>
          MetaIO.writeCarry(spark, s"$root/$dir/_bloom", bloomSchema,
            carry, fresh, append = append, writeEmpty = true)
        case None =>
          sparkRegisters(spark, root, dir, withPath, bc, sizePairs,
            carriedBloom, mode)
      }
      bloomBpk.foreach(bpk => writeGeom(fs(spark, root), root, dir, bpk))
    }
  }

  /** The schema of the read-back aggregation that [[writeStats]]
    * computes fresh `_stats` rows with, as Spark analyses it for any
    * dim types: the file key, the row count and the two dim names are
    * never null, the four bounds are nullable longs (`min`/`max` of a
    * cast), and `bloom_col` is a non-null literal when a Bloom column
    * is set and a null string otherwise. */
  private[ops] def statsSchema(bloom: Boolean)
      : org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(StructField("path", StringType, nullable = false),
      StructField("n_rows", LongType, nullable = false)) ++
      Seq("min_x", "max_x", "min_y", "max_y").map(StructField(_, LongType)) ++
      Seq(StructField("x_col", StringType, nullable = false),
        StructField("y_col", StringType, nullable = false),
        StructField("bloom_col", StringType, nullable = !bloom)))
  }

  /** The `_bloom` frame's shape: one row per (file, register word). */
  private val bloomSchema = {
    import org.apache.spark.sql.types._
    StructType(Seq(StructField("path", StringType),
      StructField("word", LongType), StructField("bits", LongType)))
  }

  /** The carried `_bloom` parts and rows ([[MetaIO.planCarry]]: the
    * carried frame is filtered part by part, its largest wholly kept
    * part copied as it is) and the fresh `_bloom` rows of `paths`
    * (register size per file key from `mByKey`), built on the DRIVER:
    * one projected parquet-mr read of column `bc` per file, the two-seed
    * [[graft.expressions.Md5Prefix60.hash60]] over exactly the strings
    * the Spark build hashes (`concat_ws("|", seed, v)`, so a NULL
    * value hashes the bare seed), and an OR-fold per (path, word) —
    * the rows [[sparkRegisters]] writes, without its job. Gated on
    * [[ManifestTable.dvLocalCarryCap]]: None (caller runs the Spark
    * build) when the appended or carried bytes are past it, or when
    * the column's type, or the shape of the carried frame or of the
    * frame `target` appended to, isn't driver readable. */
  private def localRegisters(spark: SparkSession, root: String,
      target: String, append: Boolean, paths: Seq[String], bc: String,
      mByKey: Map[String, Long],
      carriedBloom: Option[(String, Set[String])],
      appendedBytes: Option[Long])
      : Option[(MetaIO.FrameCarry, Seq[org.apache.spark.sql.Row])] = {
    import org.apache.spark.unsafe.types.UTF8String
    val cap = ManifestTable.dvLocalCarryCap.value
    if (!appendedBytes.exists(_ <= cap)) return None
    val f = fs(spark, root)
    def shapeOk(dir: String) = {
      val p = new org.apache.hadoop.fs.Path(dir)
      !f.exists(p) || MetaIO.schemaOf(spark, p).forall(s =>
        s.map(x => (x.name, x.dataType)) ==
          bloomSchema.map(x => (x.name, x.dataType)))
    }
    if (append && !shapeOk(target)) return None
    val carried = carriedBloom match {
      case None => MetaIO.FrameCarry(None, Seq.empty)
      case Some((src, keep)) =>
        val p = new org.apache.hadoop.fs.Path(src)
        if (f.listStatus(p).filter(_.isFile).map(_.getLen).sum > cap ||
            !shapeOk(src))
          return None
        MetaIO.planCarry(spark, src, bloomSchema, "path", keep)
          .getOrElse(return None)
    }
    val values = MetaIO.columnValues(spark, paths.map(p => s"$root/$p"),
      bc).getOrElse(return None)
    val seeds = Seq(501, 502).map(_.toString)
    val prefixes = seeds.map(sd => UTF8String.fromString(s"$sd|"))
    val bare = seeds.map(UTF8String.fromString)
    val fresh = MetaIO.parMap(paths.zip(values)) { case (p, vs) =>
      val key = p.split('/').takeRight(2).mkString("/")
      val m = mByKey(key)
      val regs = scala.collection.mutable.LongMap.empty[Long]
      vs.foreach { v =>
        val s = v match {
          case null => null
          case u: UTF8String => u
          case n => UTF8String.fromString(n.toString)
        }
        var i = 0
        while (i < 2) {
          val in =
            if (s == null) bare(i) else UTF8String.concat(prefixes(i), s)
          val h = graft.expressions.Md5Prefix60.hash60(in) % m
          val w = h >> 5
          regs(w) = regs.getOrElse(w, 0L) | (1L << (h & 31).toInt)
          i += 1
        }
      }
      regs.toSeq.sortBy(_._1).map { case (w, b) =>
        org.apache.spark.sql.Row(key, w, b) }
    }.flatten
    Some((carried, fresh))
  }

  /** The Spark register build (past the driver gate — the 100 TB
    * path): (path, word, bits) rows of `withPath`'s column `bc` by ONE
    * bit_or aggregation, unioned with the carried rows. */
  private def sparkRegisters(spark: SparkSession, root: String,
      dir: String, withPath: DataFrame, bc: String,
      sizePairs: Seq[(String, Long)],
      carriedBloom: Option[(String, Set[String])],
      mode: String): Unit = {
    import spark.implicits._
    // per-path register size as a LITERAL MAP when the commit's file
    // list is SMALL (every MoR fragment commit) — the broadcast join
    // cost a dedicated broadcast-build job per commit; element_at
    // over a map literal is pure codegen. Threshold is LOW on
    // purpose: element_at on an ArrayBasedMapData literal is a
    // LINEAR scan per row (a 640-entry map over a 100× establish's
    // 33M rows cost seconds — measured), so wide establishes keep
    // the O(1)-per-row broadcast hash join.
    val mCol: DataFrame => DataFrame =
      if (sizePairs.sizeIs <= 64) { w =>
        w.withColumn("m", element_at(
          typedLit(sizePairs.toMap), col("path")))
      } else { w =>
        w.join(broadcast(sizePairs.toDF("path", "m")), Seq("path"))
      }
    val words = mCol(Seq(501, 502).map(seed =>
      withPath.select(col("__path").as("path"),
        graft.functions.TextFunctions.hash60(col(bc), seed)
          .as("h0")))
      .reduce(_ unionByName _))
      .select(col("path"), (col("h0") % col("m")).as("h"))
      .select(col("path"), shiftright(col("h"), 5).as("word"),
        expr("shiftleft(CAST(1 AS BIGINT), CAST(h & 31 AS INT))")
          .as("bit"))
    val freshBloom = words.groupBy(col("path"), col("word"))
      .agg(expr("bit_or(bit)").as("bits"))
    val allBloom = carriedBloom.fold(freshBloom) { case (src, keep) =>
      MetaIO.readParquet(spark, src)
        .join(broadcast(keep.toSeq.toDF("path")), Seq("path"),
          "left_semi")
        .unionByName(freshBloom)
    }
    // register build: the exchange carries O(files × register words)
    // rows after map-side partial agg
    allBloom.coalesce(1).write.mode(mode)
      .parquet(s"$root/$dir/_bloom")
  }

  /** Bloom point-lookup planning off the COMMITTED registers: the
    * files of the current version that may contain `key` in the
    * indexed column (a provable superset — Bloom has no false
    * negatives). O(files) planning, same as [[scanXRange]]. */
  def bloomCandidateFiles(spark: SparkSession, root: String,
      key: Column): Seq[String] =
    bloomCandidateFiles(spark, root,
      ManifestTable.baseOf(spark, root, "read"), key)

  /** [[bloomCandidateFiles]] of version snapshot `b`. */
  private def bloomCandidateFiles(spark: SparkSession, root: String,
      b: ManifestTable.Base, key: Column): Seq[String] = {
    val dir = b.dir
    require(fs(spark, root).exists(
      new org.apache.hadoop.fs.Path(s"$root/$dir/_bloom")),
      s"version ${b.v} of $root has no committed Bloom index")
    keyValue(spark, key) match {
      case Some(k) => bloomProbePathsAny(spark, root, dir, Seq(k))
      case None => joinBloomProbe(spark, root, dir, array(key))
    }
  }

  /** The value of a constant key column (`lit(..)` or any foldable
    * expression), resolved once on the driver — a literal directly,
    * anything else by analysis and a constant evaluation, no Spark
    * job. None for a non-constant key. */
  private def keyValue(spark: SparkSession, key: Column): Option[Any] = {
    import org.apache.spark.sql.catalyst.CatalystTypeConverters
    import org.apache.spark.sql.catalyst.expressions.{Alias, Literal}
    import org.apache.spark.sql.catalyst.plans.logical.Project
    org.apache.spark.sql.graft.Bridge.expression(key) match {
      // a literal key (every `lit(..)` caller) is its own value: no plan
      case Literal(v, dt) => Some(CatalystTypeConverters.convertToScala(v, dt))
      case _ => spark.range(1).select(key).queryExecution.analyzed match {
        case Project(Seq(ne), _) =>
          val e = ne match { case Alias(c, _) => c; case other => other }
          if (!e.foldable) None
          else Some(CatalystTypeConverters.convertToScala(e.eval(),
            e.dataType))
        case _ => None
      }
    }
  }

  /** Read the Bloom candidate files for `key` WITH the current
    * version's deletion vector applied — the safe composition of
    * [[bloomCandidateFiles]] with merge-on-read DML (reading the
    * candidate paths as plain parquet on a DV version would
    * resurrect deleted rows). Returns an empty (correctly-schemed)
    * frame when no file can contain the key. */
  def readBloomCandidates(spark: SparkSession, root: String,
      key: Column): DataFrame =
    readBloomCandidates(spark, root,
      ManifestTable.baseOf(spark, root, "read"), key)

  /** [[readBloomCandidates]] of version snapshot `b`: its candidate
    * files are read under its own deletion vector. */
  private[ops] def readBloomCandidates(spark: SparkSession, root: String,
      b: ManifestTable.Base, key: Column): DataFrame = {
    val cands = bloomCandidateFiles(spark, root, b, key)
    if (cands.isEmpty)
      return ManifestTable.readDataDir(spark, root, b.dir).filter(lit(false))
    ManifestTable.live(spark, root, b.dir,
      MetaIO.readParquet(spark,
        cands.map(p => ManifestTable.resolveRef(root, p))))
  }
}
