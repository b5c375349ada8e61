package graft.ops

import org.apache.spark.sql.SparkSession

/** PLANNER-DRIVEN file pruning for manifest-store scans — the round-13
  * VERDICT's top ask: the three committed pruning frames (`_parts`
  * partition values, `_stats` per-file min/max, `_bloom` per-file
  * registers) existed but were OPT-IN at the API (`readPartitions`,
  * `scanXRange`, `bloomCandidateFiles`); a SQL user writing
  * `SELECT … FROM graft_table('/p') WHERE o_month = '1995-06'` scanned
  * every file. Snowflake prunes micro-partitions from the predicate on
  * every query, and the reference's gold queries assume exactly that
  * (`dags/logistics-gold-metrics-sql.py:33,105` — date cuts, never
  * named partitions); Delta/Iceberg do the same from their per-file
  * stats. This object is the ops-side half: a scan REGISTRY mapping a
  * committed read's exact file set back to its (table root, version
  * dir), and the sound predicate→file-set intersection evaluated
  * against the committed frames. The Catalyst half —
  * [[graft.plans.GraftPruneScans]], injected via
  * `injectOptimizerRule` — matches `Filter` over a registered scan and
  * swaps in the pruned file index.
  *
  * SOUNDNESS (the `deleteWhereScoped` conjunct precedent,
  * `ZTable.scala:200`): pruning may only DROP a file when NO row of it
  * can satisfy the predicate. Every decision here is conservative —
  * * only top-level CONJUNCTS prune (any one being unsatisfiable for a
  *   file is enough); OR/NOT/complex shapes are ignored, never
  *   misread;
  * * a file missing from a frame, or with NULL bounds, is always KEPT;
  * * range checks use the WEAK comparison (`max < lo` / `min > hi`)
  *   so long-truncated stats of fractional columns can never drop a
  *   boundary file (`trunc(a) < trunc(b) ⟹ a < b`, while
  *   `trunc(a) ≤ trunc(b)` implies nothing);
  * * literals convert through Spark's OWN `Cast` (string for
  *   partition values, long for ranges) — the same cast that produced
  *   the committed frame values, so representations can never
  *   disagree; an un-castable literal disables that conjunct.
  * The row-level `Filter` always stays above the pruned scan, so
  * pruning only ever removes provably-empty IO, never rows.
  *
  * 100-TB shape: registration is O(1) string work per read; the
  * planner pays ONE O(files) metadata load per (root, version) —
  * cached — and O(files) set intersection per query: the
  * Delta/Iceberg manifest-planning grain. The Bloom probe reads the
  * register frame on the driver while it is planning-sized and is a
  * distributed register join past that (O(files × words) rows, never
  * data), with its verdict cached per (version, key). */
private[graft] object GraftPruning {

  /** Disable knob (steal-matched A/B + emergency hatch):
    * `SET spark.graft.prune.enabled=false`. */
  private[graft] val enabledKey = "spark.graft.prune.enabled"

  // ---- scan registry: exact file set -> (root, version dir) ----

  private final case class Entry(root: String, dir: String)

  /** Signature of a scan's root-path set — sorted + newline-joined so
    * path order never matters. Paths are stored QUALIFIED (the form
    * `FileIndex.rootPaths` reports). */
  private def signatureOf(paths: Seq[String]): String =
    paths.sorted.mkString("\n")

  private val maxScans = 512
  private val scans =
    new java.util.LinkedHashMap[String, Entry](64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, Entry]): Boolean =
        size() > maxScans
    }

  /** Register a committed version's read: `paths` exactly as handed to
    * the parquet source (resolved refs or the whole version dir). */
  private[ops] def register(spark: SparkSession, paths: Seq[String],
      root: String, dir: String): Unit = {
    if (paths.isEmpty) return
    val fs = new org.apache.hadoop.fs.Path(paths.head)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val qualified = paths.map(p =>
      fs.makeQualified(new org.apache.hadoop.fs.Path(p)).toString)
    scans.synchronized {
      scans.put(signatureOf(qualified), Entry(root, dir))
    }
  }

  private[graft] def isEmpty: Boolean =
    scans.synchronized(scans.isEmpty)

  /** Cheap structural pre-filter: graft data lives under version dirs
    * named `d<N>-<8 hex>` — one regex on one path string rejects
    * non-graft scans before any sorting or lookup work. */
  private val versionDirRx = "d\\d+-[0-9a-f]{8}".r
  private[graft] def looksLikeGraft(headPath: String): Boolean = {
    val segs = headPath.split('/')
    val tail = segs.takeRight(2)
    tail.exists(s => versionDirRx.pattern.matcher(s).matches())
  }

  private[graft] def lookup(rootPaths: Seq[String])
      : Option[(String, String)] =
    scans.synchronized(Option(scans.get(signatureOf(rootPaths))))
      .map(e => (e.root, e.dir))

  // ---- committed pruning metadata, cached per (root, dir) ----

  /** One file's committed range row (values already long-cast; None =
    * NULL bound = unknown = never prune on it). */
  private[graft] final case class Range(
      minX: Option[Long], maxX: Option[Long],
      minY: Option[Long], maxY: Option[Long])

  /** The pruning-relevant metadata of one committed version. Keys are
    * [[ManifestTable.fileKeyOf]] (`<dir>/<file>` — the deletion-vector
    * identity, stable across carry-by-reference and clones). */
  private[graft] final case class Meta(
      pcol: Option[String],
      partValue: Map[String, String],
      xCol: Option[String], yCol: Option[String],
      ranges: Map[String, Range],
      bloomCol: Option[String])

  private val maxMeta = 16
  private val metaCache =
    new java.util.LinkedHashMap[String, Meta](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, Meta]): Boolean =
        size() > maxMeta
    }

  private[graft] def meta(spark: SparkSession, root: String,
      dir: String): Meta = {
    val key = s"$root\n$dir"
    metaCache.synchronized(Option(metaCache.get(key))) match {
      case Some(m) => m
      case None =>
        val m = loadMeta(spark, root, dir)
        metaCache.synchronized(metaCache.put(key, m))
        m
    }
  }

  private def loadMeta(spark: SparkSession, root: String,
      dir: String): Meta = {
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def exists(frame: String) =
      fs.exists(new org.apache.hadoop.fs.Path(s"$root/$dir/$frame"))
    // one O(files) driver collect per frame — the manifest-planning
    // grain, cached for the version's lifetime (committed dirs are
    // immutable once their marker lands)
    // driver-side parquet-mr reads ([[MetaIO.frameRows]]) — planning
    // must not launch Spark jobs for O(files) metadata frames
    val (pcol, partValue) =
      PartitionedTable.partsRowsIfAny(spark, root, dir) match {
        case Some((pc, rows)) => (Some(pc),
          rows.map(r => ManifestTable.fileKeyOf(r._1) -> r._2).toMap)
        case None => (None, Map.empty[String, String])
      }
    val (xCol, yCol, ranges, bloomCol) =
      if (!exists("_stats"))
        (None, None, Map.empty[String, Range], None)
      else {
        val rows = MetaIO.frameRows(spark, s"$root/$dir/_stats")
        if (rows.isEmpty) (None, None, Map.empty[String, Range], None)
        else {
          val h = rows.head
          // tolerant of int-width drift in frame files and of a
          // missing key (ADVICE r15): r.get + Number match instead of
          // apply + Long cast — an INT32-written bound still reads,
          // and absence reads as unknown (never pruned on)
          def optLong(r: Map[String, Any], c: String) =
            r.get(c).flatMap(Option(_)).collect {
              case n: java.lang.Number => n.longValue
            }
          val rs = rows.map(r => ManifestTable.fileKeyOf(
              r("path").asInstanceOf[String]) ->
            Range(optLong(r, "min_x"), optLong(r, "max_x"),
              optLong(r, "min_y"), optLong(r, "max_y"))).toMap
          val bc = Option(h("bloom_col"))
            .map(_.toString).filter(_ => exists("_bloom"))
          (Some(h("x_col").asInstanceOf[String]),
            Some(h("y_col").asInstanceOf[String]), rs, bc)
        }
      }
    Meta(pcol, partValue, xCol, yCol, ranges, bloomCol)
  }

  // ---- Bloom point-key probe (dir-scoped, verdict-cached) ----

  private val maxBloom = 64
  private val bloomCache =
    new java.util.LinkedHashMap[String, Set[String]](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, Set[String]]): Boolean =
        size() > maxBloom
    }

  /** The file keys of version dir `dir` that MAY contain `key` in the
    * Bloom-indexed column — a provable superset (no false negatives).
    * Delegates to [[ZTable.bloomProbePathsAny]] (a driver-side check of
    * the register frame when it is planning-sized, the distributed
    * register join past that; geometry-aware: legacy fixed-M frames
    * and row-count-scaled frames both probe correctly); verdict cached
    * per (version, key). */
  private[graft] def bloomCandidates(spark: SparkSession, root: String,
      dir: String, key: Any): Set[String] = {
    val ck = s"$root\n$dir\n$key"
    bloomCache.synchronized(Option(bloomCache.get(ck))) match {
      case Some(s) => s
      case None =>
        val s = ZTable.bloomProbePathsAny(spark, root, dir, Seq(key))
          .map(ManifestTable.fileKeyOf).toSet
        bloomCache.synchronized(bloomCache.put(ck, s))
        s
    }
  }

  /** IN-list form: the file keys that may contain ANY of `keys` — ONE
    * register pass for the whole list ([[ZTable.bloomProbePathsAny]]),
    * not a probe per key; verdict cached per (version, key set). */
  private[graft] def bloomCandidatesIn(spark: SparkSession,
      root: String, dir: String, keys: Seq[Any]): Set[String] = {
    val ck = s"$root\n$dir\nIN:" +
      keys.map(String.valueOf).sorted.mkString("\u0001")
    bloomCache.synchronized(Option(bloomCache.get(ck))) match {
      case Some(s) => s
      case None =>
        val s = ZTable.bloomProbePathsAny(spark, root, dir, keys)
          .map(ManifestTable.fileKeyOf).toSet
        bloomCache.synchronized(bloomCache.put(ck, s))
        s
    }
  }
}
