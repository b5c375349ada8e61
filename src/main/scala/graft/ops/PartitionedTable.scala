package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** FIRST-CLASS PARTITION COLUMNS in the transactional manifest store
  * (round-12 VERDICT ask #3; SURVEY §4 "partition silver facts by
  * date"): partition values ride the version's metadata — a `_parts`
  * frame of (file path, partition value), the [[ZTable]] `_stats`
  * pattern at partition grain — so reads prune partitions at
  * O(metadata), a partition DROP is zero-copy, and DML scopes to the
  * intersecting partitions with every other partition carried by
  * PATH REFERENCE. At 100 TB this is the FIRST pruning knob, before
  * z-order: a day-partitioned fact answers "yesterday" by opening one
  * partition's files, and retires a day by rewriting nothing.
  *
  * Layout (on [[ManifestTable]]'s commit protocol, unchanged):
  * {{{
  *   root/d<N>-<tok>/p<i>-part-*.parquet — one partition value per
  *                                  FILE (flattened hive layout)
  *   root/d<N>-<tok>/_parts/      — (path, value, pcol) rows: every
  *                                  file of the version with its
  *                                  partition value — self-contained
  *                                  per version (carried files'
  *                                  rows ride into each new version)
  *   root/d<N>-<tok>/_files       — carry-by-reference versions only
  * }}}
  *
  * Files are written through Spark's own `partitionBy` (one value per
  * output file by construction) and then FLATTENED into the version
  * dir with a `p<i>-` prefix: hive `k=v` subdirs would (a) break the
  * two-component [[ManifestTable.fileKeyOf]] identity deletion
  * vectors key on, and (b) trip Spark's partition-discovery when a
  * carried file list spans version dirs with different base paths.
  * The partition column is DUPLICATED into the data (the hive layout
  * drops it from the files), so any plain read of the files is
  * complete without directory-name inference. The flatten is
  * O(files) renames at commit time — metadata-grain on HDFS-class
  * stores (an object-store deployment would swap the rename for a
  * committer that writes final names directly).
  *
  * NULL partition values are rejected loudly (a null routes rows to
  * hive's default-partition bucket, where every pruning decision
  * would silently misclassify them).
  *
  * 100-TB shape: planning reads one `_parts` frame (O(files) driver
  * metadata, the Delta/Iceberg manifest grain); a pruned read opens
  * only the matching partitions' files; partition-scoped DML rewrites
  * only intersecting partitions; [[ManifestTable.vacuum]]'s
  * reference-awareness keeps carried dirs alive. */
object PartitionedTable {

  private def fs(spark: SparkSession, root: String) =
    new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Write `df` under `dir` with one partition value per file, then
    * flatten `__gp=<v>` subdirs into `p<i>-`-prefixed files directly
    * in `dir`. Returns (relative path, value) per file. */
  private[ops] def writeFlattened(spark: SparkSession, root: String,
      dir: String, df: DataFrame, pcol: String)
      : Seq[(String, String)] = {
    require(df.columns.contains(pcol), s"no partition column $pcol")
    df.withColumn("__gp", col(pcol).cast("string"))
      .write.mode("append").partitionBy("__gp")
      .parquet(s"$root/$dir")
    val f = fs(spark, root)
    val base = new org.apache.hadoop.fs.Path(s"$root/$dir")
    val partDirs = f.listStatus(base).toSeq
      .filter(st => st.isDirectory &&
        st.getPath.getName.startsWith("__gp="))
      .sortBy(_.getPath.getName)
    def files(pd: org.apache.hadoop.fs.FileStatus) =
      f.listStatus(pd.getPath).toSeq.map(_.getPath)
        .filter(p => !p.getName.startsWith("_") && !p.getName.startsWith("."))
    // Spark writes a NULL and an empty string alike into its default
    // partition; the footers' null counts of `pcol` tell them apart
    val default = "__gp=" + org.apache.spark.sql.catalyst.catalog
      .ExternalCatalogUtils.DEFAULT_PARTITION_NAME
    val nullFree = partDirs.filter(_.getPath.getName == default)
      .forall(pd => MetaIO.footerNullFree(spark, files(pd), pcol))
    if (!nullFree) partDirs.foreach(pd => f.delete(pd.getPath, true))
    require(nullFree,
      s"partition column $pcol contains NULL — null routes to hive's " +
        "default bucket and every pruning decision would misclassify")
    val out = scala.collection.mutable.ListBuffer.empty[(String, String)]
    partDirs.zipWithIndex.foreach { case (pd, i) =>
      // Spark escapes special chars in partition dir names the hive
      // way (%XX); decode to recover the exact string value
      val name = pd.getPath.getName
      val value =
        if (name == default) ""
        else java.net.URLDecoder.decode(
          name.drop("__gp=".length).replace("+", "%2B"), "UTF-8")
      files(pd).foreach { src =>
        val target = new org.apache.hadoop.fs.Path(base, s"p$i-${src.getName}")
        require(f.rename(src, target),
          s"flatten rename failed for ${src.getName}")
        out += ((s"$dir/p$i-${src.getName}", value))
      }
      f.delete(pd.getPath, true) // now-empty hive dir
    }
    // empty input → Nil (callers decide: a full commit REQUIRES data,
    // a MoR DML append of zero post-images is legitimate)
    out.toSeq
  }

  /** `_parts` schema — matches what the pre-round-16 Spark write
    * produced (`toDF` strings optional, `lit(pcol)` required), so new
    * frames are footer-compatible with frames committed by either
    * writer. */
  private val partsSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("path",
      org.apache.spark.sql.types.StringType, nullable = true),
    org.apache.spark.sql.types.StructField("value",
      org.apache.spark.sql.types.StringType, nullable = true),
    org.apache.spark.sql.types.StructField("pcol",
      org.apache.spark.sql.types.StringType, nullable = false)))

  private[ops] def writeParts(spark: SparkSession, root: String,
      dir: String, rows: Seq[(String, String)], pcol: String): Unit =
    // the rows are already driver-local O(files) metadata — write the
    // frame on the driver (no Spark action; guide §1.2, the round-15
    // footer-read move applied to the WRITE side)
    MetaIO.writeFrame(spark, s"$root/$dir/_parts", partsSchema,
      rows.map(r => org.apache.spark.sql.Row(r._1, r._2, pcol)))

  /** The partition metadata of a version DIR, if it carries any:
    * (pcol, (path, value) rows) — the probe the MoR DML paths use to
    * keep `_parts` alive across UPDATE/MERGE ([[ManifestTable]]
    * callers own the dir resolution). O(files) driver metadata. */
  private[ops] def partsRowsIfAny(spark: SparkSession, root: String,
      dir: String): Option[(String, Seq[(String, String)])] = {
    val p = new org.apache.hadoop.fs.Path(s"$root/$dir/_parts")
    if (!fs(spark, root).exists(p)) None
    else {
      // driver-side parquet-mr read — no Spark job for the O(files)
      // partition frame every partitioned DML commit consults
      val rows = MetaIO.frameRows(spark, p.toString)
      if (rows.isEmpty) None
      else Some((rows.head("pcol").asInstanceOf[String],
        rows.map(r => (r("path").asInstanceOf[String],
          r("value").asInstanceOf[String]))))
    }
  }

  /** The partition metadata of version `v`: one (path, value, pcol)
    * row per data file. Fails loudly on an unpartitioned version. */
  def parts(spark: SparkSession, root: String, v: Long): DataFrame =
    MetaIO.readParquet(spark,
      partsPath(spark, root, v, ManifestTable.versionDataDir(spark, root, v)))

  /** Version `v`'s `_parts` frame path; fails loudly when it has none. */
  private def partsPath(spark: SparkSession, root: String, v: Long,
      dir: String): String = {
    val p = s"$root/$dir/_parts"
    require(fs(spark, root).exists(new org.apache.hadoop.fs.Path(p)),
      s"version $v of $root carries no partition metadata — commit " +
        "through PartitionedTable.commitPartitioned first")
    p
  }

  /** Commit `df` as the next version, partitioned by `pcol` — one
    * partition value per file, values committed in `_parts`.
    *
    * `statsCols = Some((xCol, yCol, bloomColOpt))` ALSO commits
    * per-file min/max skipping stats (+ Bloom registers) over the
    * written files — SURVEY §4's two pruning knobs STACKED: partition
    * pruning plans off `_parts` first, z/Bloom skipping then prunes
    * WITHIN the surviving partitions off `_stats`/`_bloom`. Every
    * subsequent [[appendPartitioned]]/[[deleteWhereInPartitions]]/
    * [[dropPartitions]] extends the frames ([[ZTable.extendStats]])
    * so both knobs survive the table's whole life. */
  def commitPartitioned(spark: SparkSession, root: String,
      df: DataFrame, pcol: String,
      statsCols: Option[(String, String, Option[String])] = None,
      batchKey: String = ""): Long = {
    val src = ManifestTable.snapshot(spark, root)
    val full = Generated(spark, root, df, "commitPartitioned")
    Checks.enforce(spark, root, full, "commitPartitioned")
    val dir = ManifestTable.newDataDirName(src.next)
    val rows = writeFlattened(spark, root, dir, full, pcol)
    require(rows.nonEmpty, "partitioned write produced no data files")
    writeParts(spark, root, dir, rows, pcol)
    statsCols.foreach { case (x, y, b) =>
      ZTable.establishStats(spark, root, dir, rows.map(_._1), x, y, b) }
    ManifestTable.publish(spark, root, src, dir, "WRITE", batchKey)
  }

  /** APPEND a batch into the partitioned fact as the next version:
    * every existing file carries by reference, the batch lands as
    * fresh per-partition files — O(batch) bytes, the daily-load
    * shape. CHECK constraints enforce on the batch (the [[ManifestTable.merge]]
    * inductive contract). */
  def appendPartitioned(spark: SparkSession, root: String,
      df: DataFrame): Long = {
    val (base, _) = resolve(spark, root)
    val batch = Generated(spark, root, df, "appendPartitioned")
    Checks.enforce(spark, root, batch, "appendPartitioned")
    val dir = ManifestTable.newDataDirName(base.next)
    val (appended, fresh) =
      ManifestTable.writeDelta(spark, root, base, dir)(_ => batch)
    require(fresh.nonEmpty, "appendPartitioned of an empty batch")
    ManifestTable.commitFiles(spark, root, base, dir, base.refs,
      appended, "WRITE", freshParts = fresh)
  }

  /** [[appendPartitioned]] with the OCC rebase-retry loop — the
    * two-daily-loads shape: concurrent appends into one root (even
    * into DISJOINT partitions) race only on the VERSION NUMBER, never
    * on files (every attempt re-resolves the fresh base and carries
    * ALL of its files by reference), so a loser safely re-lands on
    * the winner's version. */
  def appendPartitionedWithRetry(spark: SparkSession, root: String,
      df: DataFrame, maxAttempts: Int = 10): Long =
    ManifestTable.withRetry(maxAttempts)(appendPartitioned(spark, root, df))

  /** [[deleteWhereInPartitions]] with the OCC rebase-retry loop —
    * safe for the same reason: each attempt re-reads the CURRENT
    * base's partition metadata, so a retry after a concurrent append
    * sees (and rewrites) the winner's files too. */
  def deleteWhereInPartitionsWithRetry(spark: SparkSession,
      root: String, values: Seq[String], extra: Column,
      maxAttempts: Int = 10): Long =
    ManifestTable.withRetry(maxAttempts)(
      deleteWhereInPartitions(spark, root, values, extra))

  /** DROP whole partitions — ZERO-COPY: the new version's `_files`
    * references every file of every OTHER partition verbatim; the
    * dropped partitions' bytes are rewritten nowhere (and reclaimed
    * by [[ManifestTable.vacuum]] once no retained version references
    * them). The 100-TB retire-a-day operation at O(metadata). */
  def dropPartitions(spark: SparkSession, root: String,
      values: Seq[String]): Long = {
    val (base, baseRows) = resolve(spark, root)
    val drop = values.toSet
    val (dropped, kept) = baseRows.partition(r => drop.contains(r._2))
    require(dropped.nonEmpty,
      s"no partition of $root matches ${values.mkString(",")}")
    require(kept.nonEmpty,
      s"dropping every partition of $root — use a plain empty commit")
    val dir = ManifestTable.newDataDirName(base.next)
    ManifestTable.commitFiles(spark, root, base, dir, kept.map(_._1), Nil,
      "DELETE")
  }

  /** DELETE rows matching `extra` INSIDE the named partitions: only
    * those partitions' files are read and rewritten (partition-pure
    * output via the same flatten); every other partition is carried
    * by PATH REFERENCE with its `_parts` rows. SQL NULL semantics
    * (NULL = kept). */
  def deleteWhereInPartitions(spark: SparkSession, root: String,
      values: Seq[String], extra: Column): Long = {
    val (base, baseRows) = resolve(spark, root)
    val target = values.toSet
    val (touched, untouched) = baseRows.partition(r =>
      target.contains(r._2))
    require(touched.nonEmpty,
      s"no partition of $root matches ${values.mkString(",")}")
    val dir = ManifestTable.newDataDirName(base.next)
    // the base version's DELETION VECTOR applies to the touched read
    // (reading the raw paths would RESURRECT rows a prior DV delete
    // removed); the rewrite MATERIALIZES those deletions for the
    // touched files — their DV rows drop with the files
    val touchedLive = ManifestTable.live(spark, root, base.dir,
      MetaIO.readParquet(spark,
        touched.map(r => ManifestTable.resolveRef(root, r._1))))
    val remaining = touchedLive.filter(!coalesce(extra, lit(false)))
    val (appended, fresh) =
      if (remaining.isEmpty) (Nil, Nil)
      else ManifestTable.writeDelta(spark, root, base, dir)(_ => remaining)
    ManifestTable.commitFiles(spark, root, base, dir, untouched.map(_._1),
      appended, "DELETE", freshParts = fresh)
  }

  /** REPLACE the named partitions' content with `df`'s rows as ONE
    * commit under an exactly-once BATCH KEY — the partition-scoped
    * SINK primitive ([[graft.ops.ChangeFeed.syncPartitioned]]): a
    * one-partition day's delta rewrites that partition's files while
    * every other partition carries by path reference. Rules:
    *   - `df` may carry rows only for `values` (partition-pure via
    *     the same flatten; a stray value fails loudly, nothing
    *     committed);
    *   - a named value with no rows in `df` ends EMPTY (its old
    *     files drop) — groups deleting to zero leave the table;
    *   - a named value new to the table simply lands fresh (the
    *     first delta of a new day);
    *   - `values` may be empty (an empty net diff): all files carry,
    *     only the watermark key advances.
    * Returns the committed version, or None when `batchKey` was
    * already applied (replay = no-op, the [[ManifestTable.mergeBatch]]
    * exactly-once contract). */
  def replacePartitionsBatch(spark: SparkSession, root: String,
      values: Seq[String], df: DataFrame, batchKey: String)
      : Option[Long] = {
    require(batchKey.nonEmpty, "replacePartitionsBatch needs a key")
    if (ManifestTable.appliedBatchKeys(spark, root).contains(batchKey))
      return None
    val (base, baseRows) = resolve(spark, root)
    val target = values.toSet
    val untouched = baseRows.filterNot(r => target.contains(r._2))
    val full = Generated(spark, root, df, "replacePartitionsBatch")
    Checks.enforce(spark, root, full, "replacePartitionsBatch")
    val dir = ManifestTable.newDataDirName(base.next)
    val (appended, fresh) =
      if (full.isEmpty) (Nil, Nil)
      else ManifestTable.writeDelta(spark, root, base, dir)(_ => full)
    val stray = fresh.map(_._2).toSet -- target
    require(stray.isEmpty,
      s"replacePartitionsBatch of $root: the batch carries partition " +
        s"values outside the named set: ${stray.mkString(",")}")
    Some(ManifestTable.commitFiles(spark, root, base, dir,
      untouched.map(_._1), appended, "WRITE", freshParts = fresh,
      batchKey = batchKey))
  }

  /** Pruned read of the CURRENT version: open ONLY the files of the
    * named partitions — one `_parts` metadata read plans it
    * (O(files), the manifest-planning grain). Returns a
    * correctly-schemed empty frame when nothing matches. */
  def readPartitions(spark: SparkSession, root: String,
      values: Seq[String]): DataFrame = {
    val (base, rows) = resolve(spark, root)
    val want = values.toSet
    val paths = rows.filter(r => want.contains(r._2)).map(_._1)
    if (paths.isEmpty)
      ManifestTable.read(spark, root).get.filter(lit(false))
    else {
      // a merge-on-read DELETE's vector applies to the pruned read
      // too (reading raw paths would resurrect deleted rows)
      ManifestTable.live(spark, root, base.dir, MetaIO.readParquet(spark,
        paths.map(p => ManifestTable.resolveRef(root, p))))
    }
  }

  /** The current version — its refs known from its `_parts` rows, so
    * a commit from it reads no `_files` — with its (path, value) rows.
    * O(files) metadata read on the driver, no Spark job — the planning
    * grain. */
  private def resolve(spark: SparkSession, root: String)
      : (ManifestTable.Base, Seq[(String, String)]) = {
    val base = ManifestTable.latest(spark, root)
      .getOrElse(sys.error(s"no committed version at $root"))
    val rows = base.parts.map(_._2).getOrElse {
      partsPath(spark, root, base.v, base.dir) // no frame: fails here
      Nil // an empty frame
    }
    require(rows.nonEmpty,
      s"version ${base.v} of $root has an EMPTY partition metadata " +
        "frame — the table holds no partitions (every partition was " +
        "deleted or dropped); re-establish with commitPartitioned")
    (base.withRefs(rows.map(_._1)), rows)
  }
}
