package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}

/** A committer lost its optimistic-concurrency race: another marker
  * for the same version won. Retry loops ([[ManifestTable.mergeWithRetry]])
  * classify retryable conflicts by THIS TYPE — matching the message
  * string was fragile (any rewording, or a wrapped FS IOException that
  * happened to share the prefix, silently changed retry semantics). */
final class ConcurrentCommitException(msg: String)
    extends java.io.IOException(msg)

/** Minimal log-based transactional table — the Delta-style
  * manifest-commit MERGE (SURVEY §7's preferred MERGE form; no Delta
  * jars in the sandbox, so the commit protocol is implemented directly
  * on the FileSystem API).
  *
  * Layout:
  * {{{
  *   root/_commits/v<N>           — commit marker (atomic rename); its
  *                                  CONTENT is `<dataDir>` or
  *                                  `<dataDir>\t<batchKey>` (empty dir
  *                                  = legacy `v<N>` directory). The
  *                                  marker NAME is version-only so any
  *                                  two committers of one version
  *                                  contend on the SAME rename — the
  *                                  CAS arbitrates cross-writer races
  *                                  atomically, with no name-dependent
  *                                  TOCTOU window. (Markers named
  *                                  `v<N>-b<key>` — the pre-round-11
  *                                  format that carried the batch key
  *                                  in the name — remain readable.)
  *   root/_commits/_compact-<N>   — compaction file: every marker with
  *                                  version ≤ N as one `name\tcontent`
  *                                  line (bounded marker listing)
  *   root/d<N>-<token>/part-*.parquet — write-once data directories,
  *                                  one UNIQUE dir per commit ATTEMPT
  * }}}
  *
  * Protocol (optimistic concurrency, many writers, many readers):
  *  1. the committer writes the FULL next version's data to a fresh
  *     uniquely-named directory `d<N>-<token>` — unique per ATTEMPT,
  *     so no two writers ever touch the same data path. (The previous
  *     revision staged into a shared `v<N>` dir, which let a LOSING
  *     writer overwrite the winner's already-committed data files
  *     between the winner's marker rename and the loser's failed one —
  *     a torn table through the back door. Unique dirs close that
  *     window structurally: data paths are never contended.)
  *  2. only then does it create the marker `_commits/v<N>`, by writing
  *     a temp file (whose content names the data dir) and PUBLISHING
  *     it at the marker name — one atomic filesystem metadata
  *     operation that is the commit point. A losing publish deletes
  *     its own orphan data dir and throws.
  *
  * STORAGE CONTRACT: the protocol requires an atomic NO-OVERWRITE
  * publish primitive — when two committers race one marker name,
  * exactly one must win and the loser must observe failure. On
  * HDFS-class stores that is rename (namenode-arbitrated); on local
  * filesystems this implementation uses hard-link creation (POSIX
  * rename overwrites, and Hadoop's local exists-then-rename has a
  * TOCTOU the two-writer hammer spec caught in practice); S3-class
  * object stores do NOT provide the primitive natively and need a
  * coordination layer (Delta's LogStore analog) — [[verifyFsContract]]
  * probes the primitive once per filesystem and fails loudly instead
  * of silently losing commits.
  *
  * Readers resolve the current version as the highest marker and read
  * only the directory that marker names. Committed data directories
  * are immutable and never contended, so a reader that resolved v<N>
  * keeps a consistent view even while v<N+1> commits — and a crash
  * ANYWHERE before the marker rename leaves the table exactly at its
  * previous version: a torn table is unrepresentable, not merely
  * unlikely (spec-pinned in `ManifestTableSpec`).
  *
  * Commit-count scale: a long-lived streaming sink commits thousands
  * of micro-batches, and listing `_commits` forever costs O(#commits)
  * per read. [[compact]] folds all markers below the current version
  * into ONE `_compact-<N>` file (the Delta checkpoint move) and
  * deletes the individual marker files; readers then list O(markers
  * since last compaction) and read one immutable, cached compact file.
  * Every commit auto-compacts past [[autoCompactThreshold]] live
  * markers ([[publish]]), so resolution cost stays bounded no matter
  * how many batches a sink commits. Compaction
  * preserves every (version, batch-key) entry by default — exactly-
  * once replay detection never forgets a committed batch — and takes
  * an optional `batchKeyRetention` horizon so a years-long sink's
  * compact file stays O(recent) instead of O(lifetime commits)
  * (version→dir entries are always kept; only replay keys older than
  * the horizon are forgotten).
  *
  * Retention: [[vacuum]] drops DATA directories older than the newest
  * `keepLast` versions but keeps their commit entries, so
  * [[batchApplied]] stays exact and a time-travel read of a vacuumed
  * version fails with a clear error instead of a mystery missing-file.
  * The reader contract is count-based: any reader holding one of the
  * newest `keepLast` versions at vacuum time is safe (spec-pinned).
  *
  * 100-TB shape: a commit writes one new version directory (the MERGE
  * output) + one tiny marker; readers list a bounded `_commits` dir
  * and scan exactly one version. Old versions remain readable (time
  * travel via [[readVersion]]) until [[vacuum]] drops them.
  */
object ManifestTable {

  private type Path = org.apache.hadoop.fs.Path

  /** Live markers above this count trigger auto-compaction inside
    * every commit ([[publish]]) — the bound on per-read listing cost
    * under a streaming sink. */
  val autoCompactThreshold = 64

  private def fsOf(spark: SparkSession, root: String)
      : org.apache.hadoop.fs.FileSystem =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** STORAGE CONTRACT — the one primitive the whole commit protocol
    * rests on: publish a fully-written temp file at `target` such that
    * when two publishers race the same target, EXACTLY ONE succeeds
    * and the loser observes failure (and the winner's content is never
    * torn or overwritten). Per store:
    *
    *  - HDFS-class stores: `fs.rename` with no-overwrite semantics is
    *    arbitrated atomically by the namenode — rename IS the CAS.
    *  - LOCAL filesystems: Hadoop's local rename is an exists()
    *    pre-check followed by POSIX rename(2), which OVERWRITES an
    *    existing target — a TOCTOU the two-writer hammer spec
    *    actually caught (both racers slipped past the pre-check and
    *    both "won", one silently overwritten). Here the commit point
    *    is `link(2)` (`Files.createLink`): hard-link creation fails
    *    with EEXIST atomically in the kernel, and the published name
    *    appears with its full content (the inode was written before
    *    the link) — the classic atomic-publish idiom.
    *  - S3-class object stores: rename is copy+delete and NOT atomic —
    *    running this protocol there requires a coordination layer
    *    (Delta's LogStore analog: DynamoDB-arbitrated puts, or a
    *    conditional-put API). [[verifyFsContract]] probes the actual
    *    primitive once per filesystem and fails LOUDLY rather than
    *    letting an overwrite-permissive store silently lose commits.
    *
    * Returns true iff this caller's publish won; on a loss the temp
    * file is deleted. */
  private def publishExclusive(fs: org.apache.hadoop.fs.FileSystem,
      tmp: Path, target: Path): Boolean = {
    val won =
      if (fs.getScheme == "file") {
        val t = java.nio.file.Paths.get(tmp.toUri.getPath)
        val d = java.nio.file.Paths.get(target.toUri.getPath)
        try { java.nio.file.Files.createLink(d, t); true }
        catch {
          case _: java.nio.file.FileAlreadyExistsException => false
          case _: UnsupportedOperationException =>
            // FS without hard links (rare for file://): fall back to
            // rename and accept its weaker local guarantee
            fs.rename(tmp, target)
        }
      } else fs.rename(tmp, target)
    // the tmp name is redundant either way: gone already after a won
    // rename (no-op delete), a second link to the inode after a won
    // createLink, plain debris after a loss
    fs.delete(tmp, false)
    won
  }

  /** Compact files are immutable once renamed into place — parse each
    * at most once per JVM. Values are small (one short line per
    * commit). The cache key carries the file's (path, length, mtime):
    * a table DROPPED and RECREATED at the same path can reuse a
    * compact file name, and a bare-path key would serve the dead
    * incarnation's versions and batch keys to the new table —
    * batchApplied would report never-run batches as committed and a
    * stream would silently skip them.
    *
    * BOUNDED (access-order LRU, [[compactCacheCap]] entries): each
    * compaction mints a new (path,len,mtime) key, so an unbounded map
    * leaks one superseded entry per compaction per table for the JVM
    * lifetime — a long-lived streaming driver compacting every 64
    * commits accumulates them indefinitely. Eviction only costs a
    * re-parse of one small immutable file. */
  private val compactCacheCap = 64
  private val compactCache =
    new java.util.LinkedHashMap[String, Map[String, String]](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, Map[String, String]]): Boolean =
        size() > compactCacheCap
    }

  /** Filesystems (scheme://authority) whose publish primitive has been
    * probed OK this JVM — the contract check runs once per store, not
    * per commit. */
  private val contractChecked =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Probe the ACTUAL publish primitive on this table's filesystem:
    * publish one probe file, then attempt to publish a second onto the
    * SAME name — the second MUST fail. An overwrite-permissive store
    * (S3A-style copy+delete rename) would silently lose one of two
    * racing commits, so fail at first use with a named contract
    * instead of losing data later. Runs once per (scheme, authority)
    * per JVM; called from [[writeMarker]], also usable directly at
    * table-create time. */
  def verifyFsContract(spark: SparkSession, root: String): Unit = {
    val fs = fsOf(spark, root)
    val fsKey = s"${fs.getScheme}://${fs.getUri.getAuthority}"
    if (contractChecked.contains(fsKey)) return
    val probeDir = new Path(root,
      s"_commits/.contract-${java.util.UUID.randomUUID().toString.take(8)}")
    fs.mkdirs(probeDir)
    try {
      def mk(n: String, body: String): Path = {
        val p = new Path(probeDir, n)
        val out = fs.create(p, true)
        try out.write(body.getBytes("UTF-8")) finally out.close()
        p
      }
      val target = new Path(probeDir, "target")
      require(publishExclusive(fs, mk("a", "first"), target),
        s"commit-protocol contract probe on $fsKey: first publish failed")
      if (publishExclusive(fs, mk("b", "second"), target))
        throw new java.io.IOException(
          s"filesystem $fsKey violates the commit-protocol storage " +
            "contract (atomic no-overwrite publish): a second publish " +
            "onto an existing name succeeded — two racing committers " +
            "would silently lose one commit. HDFS-class stores and " +
            "local filesystems are supported; S3-class stores need a " +
            "coordination layer (LogStore analog).")
      contractChecked.add(fsKey)
    } finally fs.delete(probeDir, true)
  }

  /** Marker content: `<dataDir>` or `<dataDir>\t<batchKey>`. */
  private def dirPart(content: String): String = {
    val i = content.indexOf('\t')
    if (i < 0) content else content.take(i)
  }

  /** The batch key a commit carries, if any: after the tab in the
    * marker's CONTENT (current format), else the `-b` suffix of its
    * NAME (legacy format). */
  private def keyPart(marker: String, content: String): Option[String] = {
    val i = content.indexOf('\t')
    if (i >= 0) Some(content.drop(i + 1))
    else {
      val j = marker.indexOf("-b")
      if (j >= 0) Some(marker.drop(j + 2)) else None
    }
  }

  /** Live-marker contents are write-once (renamed into place; deleted
    * only when compaction supersedes them) — cache them per JVM so
    * replay detection over a streaming sink's live markers costs zero
    * reads in steady state ([[writeMarker]] pre-populates its own
    * entry). Same (path,len,mtime) key discipline and bounded-LRU
    * shape as [[compactCache]], for the same drop-and-recreate and
    * leak reasons. */
  private val markerCacheCap = 256
  private val markerCache =
    new java.util.LinkedHashMap[String, String](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, String]): Boolean =
        size() > markerCacheCap
    }

  private def statusKey(st: org.apache.hadoop.fs.FileStatus): String =
    s"${st.getPath}|${st.getLen}|${st.getModificationTime}"

  private def markerContent(fs: org.apache.hadoop.fs.FileSystem,
      st: org.apache.hadoop.fs.FileStatus): String = {
    val key = statusKey(st)
    val hit = markerCache.synchronized(Option(markerCache.get(key)))
    hit.getOrElse {
      val txt = readSmallFile(fs, st.getPath)
      markerCache.synchronized(markerCache.put(key, txt))
      txt
    }
  }

  private def readSmallFile(fs: org.apache.hadoop.fs.FileSystem,
      p: Path): String = {
    val in = fs.open(p)
    try {
      val buf = new java.io.ByteArrayOutputStream()
      val b = new Array[Byte](4096)
      var n = in.read(b)
      while (n > 0) { buf.write(b, 0, n); n = in.read(b) }
      new String(buf.toByteArray, "UTF-8")
    } finally in.close()
  }

  private def parseCompact(fs: org.apache.hadoop.fs.FileSystem,
      st: org.apache.hadoop.fs.FileStatus): Map[String, String] = {
    val key = s"${st.getPath}|${st.getLen}|${st.getModificationTime}"
    val hit = compactCache.synchronized(Option(compactCache.get(key)))
    hit.getOrElse {
      // parse OUTSIDE the lock (idempotent; a racing re-parse of the
      // same immutable file is harmless) — holding the map lock across
      // file IO would serialize unrelated tables' reads
      val txt = readSmallFile(fs, st.getPath)
      val m = txt.split("\n").iterator.filter(_.nonEmpty).map { line =>
        val i = line.indexOf('\t')
        if (i < 0) line -> "" else line.take(i) -> line.drop(i + 1)
      }.toMap
      compactCache.synchronized(compactCache.put(key, m))
      m
    }
  }

  /** (live marker statuses, newest compact file's name→content map).
    * Rolls the union — a marker present in both (compactor crashed
    * between compact write and marker delete) dedups by name. Live
    * entries carry the full FileStatus so content reads key the
    * [[markerCache]] without an extra stat RPC. Retries the listing
    * when a concurrent compaction deletes the superseded compact file
    * between our listStatus and our open (same race [[dirOf]] handles
    * for marker files) — a bounded retry, since each round needs
    * another full compaction to land mid-read. */
  private def commitState(spark: SparkSession, root: String)
      : (Seq[org.apache.hadoop.fs.FileStatus], Map[String, String]) = {
    val fs = fsOf(spark, root)
    val commits = new Path(root, "_commits")
    var attempt = 0
    while (true) {
      if (!fs.exists(commits)) return (Seq.empty, Map.empty)
      val statuses = fs.listStatus(commits)
      val live = statuses.toSeq
        .filter(_.getPath.getName.matches("v\\d+(-b.+)?"))
      val compacts = statuses
        .filter(_.getPath.getName.matches("_compact-\\d+"))
      try {
        val compacted =
          if (compacts.isEmpty) Map.empty[String, String]
          else parseCompact(fs,
            compacts.maxBy(_.getPath.getName.drop(9).toLong))
        return (live, compacted)
      } catch {
        case e: java.io.FileNotFoundException =>
          attempt += 1
          if (attempt >= 5) throw e
      }
    }
    sys.error("unreachable")
  }

  private def namesOf(live: Seq[org.apache.hadoop.fs.FileStatus],
      compacted: Map[String, String]): Seq[String] =
    (live.map(_.getPath.getName) ++ compacted.keys).distinct

  /** All commit-marker names (`v<N>`, legacy `v<N>-b<batchKey>`),
    * live ∪ compacted. */
  private def markerNames(spark: SparkSession, root: String): Seq[String] = {
    val (live, compacted) = commitState(spark, root)
    namesOf(live, compacted)
  }

  private def versionOf(marker: String): Long =
    marker.drop(1).takeWhile(_.isDigit).toLong

  /** The WINNING marker per version: the lexicographically SMALLEST
    * name. New-format markers are version-only (`v<N>`), so duplicates
    * cannot arise among them — the rename CAS arbitrates. A LEGACY
    * table can still hold two markers for one version (the old
    * name-carried-batch-key format raced across names); every
    * resolution site (readers, [[batchApplied]], [[compact]]) applies
    * this one rule so all parties deterministically agree which commit
    * owns the version ("v<N>" < "v<N>-b…" — a version-only marker
    * beats a suffixed one; between two suffixed names the smaller key
    * wins), and [[compact]] drops the loser for good. */
  private def winnersByVersion(markers: Seq[String]): Map[Long, String] =
    markers.groupBy(versionOf).map { case (v, ms) => v -> ms.min }

  /** Raw marker CONTENT (compact map, else the cached live-marker
    * read). Compaction-race-safe: a marker listed as live can be
    * DELETED by a concurrent [[compact]] before this reader opens it —
    * its entry has then moved into a newer compact file, so on
    * FileNotFoundException re-resolve through a fresh [[commitState]].
    * The fresh lookup goes by VERSION, not only by the stale NAME: a
    * concurrent compaction with `batchKeyRetention` rewrites a legacy
    * `v<N>-b<key>` winner entry to its plain `v<N>` form, so a
    * name-only fallback would miss and throw FNF for a
    * fully-committed version. */
  private def contentOf(spark: SparkSession, root: String, marker: String,
      live: Seq[org.apache.hadoop.fs.FileStatus],
      compacted: Map[String, String]): String =
    compacted.getOrElse(marker,
      try {
        val fs = fsOf(spark, root)
        live.find(_.getPath.getName == marker) match {
          case Some(st) => markerContent(fs, st)
          case None => readSmallFile(fs,
            new Path(new Path(root, "_commits"), marker))
        }
      } catch {
        case e: java.io.FileNotFoundException =>
          val (live2, compacted2) = commitState(spark, root)
          compacted2.getOrElse(marker, {
            val winner = winnersByVersion(namesOf(live2, compacted2))
              .get(versionOf(marker))
            winner match {
              // same-name recursion is impossible: w != marker guard
              case Some(w) if w != marker =>
                contentOf(spark, root, w, live2, compacted2)
              case _ => throw e
            }
          })
      })

  /** Data directory name for a committed marker: the dir part of its
    * content, empty = legacy `v<N>`. */
  private def dirOf(spark: SparkSession, root: String, marker: String,
      live: Seq[org.apache.hadoop.fs.FileStatus],
      compacted: Map[String, String]): String = {
    val d = dirPart(contentOf(spark, root, marker, live, compacted))
    if (d.isEmpty) s"v${versionOf(marker)}" else d
  }

  /** Highest committed version, None if never committed. */
  def currentVersion(spark: SparkSession, root: String): Option[Long] = {
    val vs = markerNames(spark, root).map(versionOf)
    if (vs.isEmpty) None else Some(vs.max)
  }

  /** Read the current committed version; None if never committed. */
  def read(spark: SparkSession, root: String): Option[DataFrame] =
    currentVersion(spark, root).map(v => readVersion(spark, root, v))

  /** Resolve a committed version's data-directory NAME (for payloads
    * that are not a single parquet table — e.g. [[IndexStore]]'s
    * multi-table index versions, which reuse this commit protocol with
    * their own directory layout). Fails loudly if the version was
    * never committed or its data was vacuumed. */
  private[ops] def versionDataDir(spark: SparkSession, root: String,
      v: Long): String = {
    val (live, compacted) = commitState(spark, root)
    retainedDirAt(spark, root, v, live, compacted)
  }

  /** Version `v`'s data-directory name in a commit-state snapshot,
    * failing loudly when it was never committed or was vacuumed. */
  private def retainedDirAt(spark: SparkSession, root: String, v: Long,
      live: Seq[org.apache.hadoop.fs.FileStatus],
      compacted: Map[String, String]): String = {
    val marker = winnersByVersion(namesOf(live, compacted)).get(v)
    require(marker.isDefined, s"version $v of $root was never committed")
    val dir = dirOf(spark, root, marker.get, live, compacted)
    require(fsOf(spark, root).exists(new Path(root, dir)),
      s"version $v of $root was vacuumed (commit record retained, " +
        "data directory dropped)")
    dir
  }

  /** The version a commit starts from, resolved from ONE commit-state
    * snapshot: its number `v` (0 on an empty root), its data `dir`,
    * and the version the commit claims, `next`. Its data dir, file
    * refs, `_parts` rows and `_stats` frame are read on first use and
    * at most once, so the delta write and [[commitFiles]] share one
    * read of each, and a full rewrite reads none of them. */
  private[ops] final class Base(spark: SparkSession, root: String,
      val v: Long, val next: Long, dir0: => String,
      live: Seq[org.apache.hadoop.fs.FileStatus],
      compacted: Map[String, String], refs0: => Seq[String],
      parts0: => Option[(String, Seq[(String, String)])],
      stats0: => Option[(org.apache.spark.sql.types.StructType,
        Seq[org.apache.spark.sql.Row])]) {
    lazy val dir: String = dir0
    /** Every data file of the version ([[refsOf]]). */
    lazy val refs: Seq[String] = refs0
    /** (pcol, (path, value) rows) when the version is partitioned. */
    lazy val parts: Option[(String, Seq[(String, String)])] = parts0
    /** The committed `_stats` frame as driver rows with its schema,
      * None when the version carries none. */
    lazy val stats: Option[(org.apache.spark.sql.types.StructType,
        Seq[org.apache.spark.sql.Row])] = stats0
    def liveCount: Int = live.size
    def applied(batchKey: String): Boolean =
      appliedKeys(spark, root, live, compacted).contains(batchKey)
    /** Version `u` of the same snapshot as the SOURCE of a commit that
      * still claims `next` (RESTORE); fails loudly when `u` was never
      * committed or was vacuumed. */
    def at(u: Long): Base = {
      val d = retainedDirAt(spark, root, u, live, compacted)
      baseAt(spark, root, u, next, d, live, compacted)
    }
    /** This base with its refs already known to the caller (a
      * partitioned base's `_parts` rows, a z-ordered base's `_stats`
      * rows list exactly its files). */
    def withRefs(rs: Seq[String]): Base =
      new Base(spark, root, v, next, dir, live, compacted, rs, parts, stats)
  }

  private def baseAt(spark: SparkSession, root: String, v: Long,
      next: Long, dir: => String,
      live: Seq[org.apache.hadoop.fs.FileStatus],
      compacted: Map[String, String]): Base =
    new Base(spark, root, v, next, dir, live, compacted, {
      val r = refsOf(spark, root, dir)
      require(r.nonEmpty, s"version $v of $root has no data files")
      r
    }, PartitionedTable.partsRowsIfAny(spark, root, dir), {
      // driver rows; a Spark collect for a shape the driver reader
      // can't decode
      val p = new Path(s"$root/$dir/_stats")
      if (!fsOf(spark, root).exists(p)) None
      else Some(MetaIO.schemaOf(spark, p).filter(MetaIO.frameWritable)
        .flatMap(s => MetaIO.frameRowsAs(spark, p.toString, s).map((s, _)))
        .getOrElse {
          val df = MetaIO.readParquet(spark, p.toString)
          (df.schema, df.collect().toSeq)
        })
    })

  /** The current version as a [[Base]] — on an empty root version 0,
    * whose commit claims v1: the one place a commit learns the version
    * it claims. One `_commits` listing; the data dir is resolved on
    * first use. */
  private[ops] def snapshot(spark: SparkSession, root: String): Base = {
    val (live, compacted) = commitState(spark, root)
    val markers = namesOf(live, compacted)
    val v = if (markers.isEmpty) 0L else markers.map(versionOf).max
    baseAt(spark, root, v, v + 1,
      dirOf(spark, root, winnersByVersion(markers)(v), live, compacted),
      live, compacted)
  }

  /** [[snapshot]]; None before the first commit. */
  private[ops] def latest(spark: SparkSession, root: String): Option[Base] =
    Some(snapshot(spark, root)).filter(_.v > 0)

  /** [[latest]], failing loudly (`nothing to <what>`) on an empty root. */
  private[ops] def baseOf(spark: SparkSession, root: String,
      what: String): Base = {
    val b = latest(spark, root)
    require(b.isDefined, s"nothing to $what at $root")
    b.get
  }

  /** The relative file paths a version's data dir carries FORWARD BY
    * REFERENCE, when it is a file-list version (scoped DML — see
    * [[ZTable]]): the dir's `_files` manifest lists every data file of
    * the version, `<dir>/<file>` relative to the table root — files
    * REWRITTEN by the DML live in this version's own dir, untouched
    * files keep their original paths in OLDER version dirs (the
    * Delta/Iceberg version-is-a-file-list model; a predicate DELETE
    * on a 100 TB table must rewrite only intersecting files, not the
    * table). None = a plain whole-dir version. */
  private[ops] def fileList(spark: SparkSession, root: String,
      dir: String): Option[Seq[String]] = {
    val fs = fsOf(spark, root)
    val manifest = new Path(new Path(root, dir), "_files")
    if (!fs.exists(manifest)) None
    else Some(readSmallFile(fs, manifest).split("\n").toSeq
      .filter(_.nonEmpty))
  }

  /** The data files directly under `dir` (no `_`/`.` names), as
    * root-relative `<dir>/<file>` refs — a whole-dir version's files,
    * or what a commit just wrote into its own dir. */
  private[ops] def dataFilesIn(fs: org.apache.hadoop.fs.FileSystem,
      root: String, dir: String): Seq[String] =
    fs.listStatus(new Path(root, dir)).toSeq
      .map(_.getPath.getName)
      .filter(n => !n.startsWith("_") && !n.startsWith("."))
      .map(n => s"$dir/$n")

  /** Every data file of the version at `dir`: its `_files` list, or
    * the whole dir's files for a plain version. */
  private[ops] def refsOf(spark: SparkSession, root: String,
      dir: String): Seq[String] =
    fileList(spark, root, dir)
      .getOrElse(dataFilesIn(fsOf(spark, root), root, dir))

  /** THE `_files` writer: every file-list version's manifest is
    * written here and nowhere else. */
  private def writeFileList(fs: org.apache.hadoop.fs.FileSystem,
      root: String, dir: String, refs: Seq[String]): Unit = {
    val out = fs.create(new Path(new Path(root, dir), "_files"), true)
    try out.write(refs.mkString("\n").getBytes("UTF-8")) finally out.close()
  }

  /** Is a file-list entry an EXTERNAL reference — an absolute path
    * into ANOTHER table's root (how [[cloneShallow]] points a clone's
    * v1 at its source's data files, Delta shallow-clone style) —
    * rather than a `<dir>/<file>` path relative to this root? */
  private[ops] def isExternalRef(entry: String): Boolean =
    entry.startsWith("/") || entry.contains("://")

  /** Resolve a file-list entry to a readable path: external refs are
    * already absolute, everything else is relative to `root`. */
  private[ops] def resolveRef(root: String, entry: String): String =
    if (isExternalRef(entry)) entry else s"$root/$entry"

  /** The canonical per-file identity used by DELETION VECTORS (and
    * the stats frames): the last two path components `<dir>/<file>` —
    * stable across carry-by-reference (a file keeps its dir/file name
    * however many versions reference it) and across shallow clones
    * (an absolute external ref ends in the same two components). */
  private[graft] def fileKeyOf(entry: String): String =
    entry.split('/').takeRight(2).mkString("/")

  /** A version's DELETION VECTOR, if it carries one: rows of
    * (`path` = the [[fileKeyOf]] file key, `row_index` = the position
    * within that file, from `_metadata.row_index`) for every row the
    * version considers DELETED without having rewritten its file —
    * Delta's deletion-vector / Iceberg's position-delete shape.
    * Cumulative: a version's `_dv` is the COMPLETE deleted set over
    * its files (each [[deleteWhereDV]] unions the prior vector), so a
    * reader consults exactly one frame. */
  private[ops] def dvOf(spark: SparkSession, root: String,
      dir: String): Option[DataFrame] = {
    val p = new Path(new Path(root, dir), "_dv")
    if (fsOf(spark, root).exists(p))
      Some(MetaIO.readParquet(spark, p.toString))
    else None
  }

  /** On-disk parquet footprint of a version's deletion vector, 0 when
    * none — the O(files-under-`_dv`) metadata probe that chooses how
    * [[live]] applies the vector and gates the broadcast hint below. */
  private[ops] def dvBytesOf(spark: SparkSession, root: String,
      dir: String): Long = {
    val fs = fsOf(spark, root)
    val p = new Path(new Path(root, dir), "_dv")
    if (!fs.exists(p)) 0L
    else fs.listStatus(p).map(_.getLen).sum
  }

  /** Broadcast hint for the vector side of [[applyDv]]'s anti-join
    * (the SCALE.md mergeDV lesson: `localCheckpoint` plans compile
    * OUTSIDE AQE, where an un-hinted join degrades to a full-table
    * sort-merge shuffle; every DV read past [[dvLocalCarryCap]] takes
    * the same hint) — GUARDED by the frame's on-disk footprint.
    * The cumulative vector grows monotonically across MoR commits
    * until a [[reorg]]/[[optimize]]; un-guarded, a long-lived table
    * whose vector outgrew Spark's broadcast limit (or driver memory)
    * would make EVERY MoR DML fail until an out-of-band reorg. Past
    * the cap we fall back to the un-hinted join — slower (sort-merge)
    * but correct, and the right call is then a [[reorg]] anyway. The
    * cap is parquet-footprint-based (decoded rows ~3-5× larger):
    * 512 MiB on disk keeps the decoded build side comfortably inside
    * executor broadcast budgets. */
  private val broadcastCapBytes = 512L * 1024 * 1024
  private def hintIfSmall(df: DataFrame, bytes: Long): DataFrame =
    if (bytes <= broadcastCapBytes)
      org.apache.spark.sql.functions.broadcast(df)
    else df

  /** The one driver-versus-Spark gate of the table metadata, on a
    * frame's on-disk footprint: filtered DV carries ([[commitFiles]]),
    * DV reads ([[live]]), and in [[ZTable]] Bloom carries, fragment
    * register builds and Bloom probes run on the driver within it and
    * through Spark past it. Specs scope it with `withValue(0L)` to
    * drive the Spark (100 TB) side at test scale. */
  private[ops] val dvLocalCarryCap =
    new scala.util.DynamicVariable[Long](16L * 1024 * 1024)

  /** Carry the base version's deletion vector into `newDir`, filtered
    * to the surviving file keys: DRIVER IO within [[dvLocalCarryCap]]
    * ([[MetaIO.carryFrameFiltered]], zero Spark actions); past it one
    * broadcast semi-join write, removed again when its footers count
    * no row. Leaves no `_dv` when no row survives (absent `_dv` = no
    * deletions). */
  private[ops] def carryDvFiltered(spark: SparkSession, root: String,
      baseDir: String, newDir: String, keepKeys: Set[String]): Unit = {
    val src = s"$root/$baseDir/_dv"
    val dst = s"$root/$newDir/_dv"
    if (MetaIO.carryFrameFiltered(spark, src, dst, "path", keepKeys,
        dvLocalCarryCap.value)) return
    import spark.implicits._
    MetaIO.readParquet(spark, src)
      .join(org.apache.spark.sql.functions.broadcast(
        keepKeys.toSeq.toDF("path")), Seq("path"), "left_semi")
      .coalesce(1).write.parquet(dst)
    if (MetaIO.footerRowCount(spark, dst) == 0L)
      fsOf(spark, root).delete(new Path(dst), true)
  }

  /** A version's COLUMN MAPPING, if it carries one (`_colmap`, a tiny
    * text file of `logical\tphysical` lines in logical schema order —
    * Delta's column-mapping mode): logical names are what every reader
    * and writer of the TABLE sees; physical names are what the parquet
    * files store. RENAME COLUMN rewrites only this mapping; DROP
    * COLUMN removes its line (the physical column stays in the files,
    * invisible). None = identity (logical == physical). Any
    * full-rewrite commit writes logical names physically and drops the
    * mapping — materialization for free. */
  private[ops] def colmapOf(spark: SparkSession, root: String,
      dir: String): Option[Seq[(String, String)]] = {
    val fs = fsOf(spark, root)
    val p = new Path(new Path(root, dir), "_colmap")
    if (!fs.exists(p)) None
    else Some(readSmallFile(fs, p).split("\n").toSeq.filter(_.nonEmpty)
      .map { line =>
        val i = line.indexOf('\t')
        (line.substring(0, i), line.substring(i + 1))
      })
  }

  private[ops] def writeColmap(spark: SparkSession, root: String,
      dir: String, cm: Seq[(String, String)]): Unit = {
    val fs = fsOf(spark, root)
    val out = fs.create(new Path(new Path(root, dir), "_colmap"), true)
    try out.write(cm.map { case (l, p) => s"$l\t$p" }
      .mkString("\n").getBytes("UTF-8"))
    finally out.close()
  }

  /** Copy a version's `_colmap` (if any) into a new version's dir —
    * every carry-by-reference commit (DV DML, reorg, restore, clone)
    * must keep the mapping or the carried files' physical names would
    * leak into the logical schema. */
  private def carryColmap(spark: SparkSession, root: String,
      fromDir: String, toDir: String): Unit =
    colmapOf(spark, root, fromDir).foreach(cm =>
      writeColmap(spark, root, toDir, cm))

  /** Sentinel prefix marking an UNBACKED mapping entry — a column
    * added metadata-only ([[addColumn]]): the "physical" slot carries
    * NUL + logicalName + NUL + the column's DDL type instead of a
    * file column name (NUL can never appear in a physical parquet
    * field we wrote), and readers null-fill at the declared type.
    * The logical name rides INSIDE the sentinel so two unbacked adds
    * of the same DDL type never share a physical value — physical
    * identity (the [[changes]] alignment key, built by swapping the
    * map) must be unique per column, or the feed could cross-link
    * them. Legacy single-segment sentinels (NUL + type, pre-round-13)
    * still parse: type = everything after the LAST NUL either way. */
  private val Unbacked = "\u0000"

  private[ops] def isUnbacked(physical: String): Boolean =
    physical.startsWith(Unbacked)

  /** The declared DDL type inside an unbacked sentinel (either
    * format). */
  private[ops] def unbackedType(physical: String): String =
    physical.substring(physical.lastIndexOf('\u0000') + 1)

  /** Logical column names ride tab-separated `_colmap` lines and NUL
    * sentinels — reject the characters that would corrupt either
    * format at the entry points ([[renameColumn]]/[[addColumn]]),
    * mirroring [[writeMarker]]'s batch-key guard: a tab in a name
    * shifts the physical slot on parse, a newline fabricates a bogus
    * line, a NUL collides with the [[Unbacked]] sentinel. */
  private def validateColName(name: String): Unit =
    require(name.nonEmpty && !name.exists(c =>
        c == '\t' || c == '\n' || c == '\r' || c == '\u0000'),
      s"illegal column name ${name.trim}: must be non-empty and " +
        "contain no tab/newline/CR/NUL characters")

  /** Present a physical-schema frame in LOGICAL names (+ passthrough
    * columns kept verbatim, for the DV paths' `__path`/`__ri`).
    * Unbacked entries read as typed NULL. */
  private def toLogical(df: DataFrame, cm: Seq[(String, String)],
      passthrough: Seq[String] = Nil): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    df.select(cm.map {
      case (l, p) if isUnbacked(p) =>
        lit(null).cast(org.apache.spark.sql.types.DataType
          .fromDDL(unbackedType(p))).as(l)
      case (l, p) => col(p).as(l)
    } ++ passthrough.map(col): _*)
  }

  /** Rename a logical-schema frame back to PHYSICAL names — what a
    * file-list commit must write so its appended files share the
    * carried files' physical schema. */
  private def toPhysical(df: DataFrame,
      cm: Seq[(String, String)]): DataFrame = {
    import org.apache.spark.sql.functions.col
    val byLogical = cm.toMap
    df.select(df.columns.toIndexedSeq.map(c =>
      col(c).as(byLogical.getOrElse(c, c))): _*)
  }

  /** A version's pinned PHYSICAL read schema (`_schema`, one DDL
    * line), present iff the version's files are HETEROGENEOUS — a
    * merge-on-read writer physically backed a metadata-only ADD
    * COLUMN in its appended fragments while carried files predate the
    * column. Readers must then read with an EXPLICIT schema: a plain
    * parquet read resolves its schema from one arbitrary file, and a
    * carried file would drop the column (or an appended one fail
    * resolution) depending on which file wins — the mixed-read tear
    * the round-12 "materialize first" refusal guarded against.
    * Spark's per-file reader null-fills requested-but-absent columns,
    * so the explicit schema makes the mixed read exact and O(0):
    * no footer sweep, no mergeSchema. */
  private[ops] def schemaOf(spark: SparkSession, root: String,
      dir: String): Option[org.apache.spark.sql.types.StructType] = {
    val fs = fsOf(spark, root)
    val p = new Path(new Path(root, dir), "_schema")
    if (!fs.exists(p)) None
    else Some(org.apache.spark.sql.types.StructType.fromDDL(
      readSmallFile(fs, p)))
  }

  private def writeSchemaFile(spark: SparkSession, root: String,
      dir: String, st: org.apache.spark.sql.types.StructType): Unit = {
    val fs = fsOf(spark, root)
    val out = fs.create(new Path(new Path(root, dir), "_schema"), true)
    try out.write(st.toDDL.getBytes("UTF-8")) finally out.close()
  }

  /** Copy a version's `_schema` (if any) into a new version's dir —
    * rides every carry-by-reference commit, like [[carryColmap]]. */
  private def carrySchemaFile(spark: SparkSession, root: String,
      fromDir: String, toDir: String): Unit =
    schemaOf(spark, root, fromDir).foreach(st =>
      writeSchemaFile(spark, root, toDir, st))

  /** Commit a version's column mapping and pinned schema: each one
    * given is written, each one absent carries verbatim from the
    * source dir. */
  private def writeBackedMeta(spark: SparkSession, root: String,
      srcDir: String, dir: String, colmap: Option[Seq[(String, String)]],
      schema: Option[org.apache.spark.sql.types.StructType]): Unit = {
    colmap.fold(carryColmap(spark, root, srcDir, dir))(
      writeColmap(spark, root, dir, _))
    schema.fold(carrySchemaFile(spark, root, srcDir, dir))(
      writeSchemaFile(spark, root, dir, _))
  }

  /** The pending metadata-only ADD COLUMNs of mapping `cm` — (name,
    * DDL type) per unbacked entry — and the mapping with them backed
    * (physical = logical): what a MoR commit that PHYSICALLY BACKS
    * them in its appended files commits. */
  private def pendingAdds(cm: Option[Seq[(String, String)]])
      : (Seq[(String, String)], Option[Seq[(String, String)]]) =
    (cm.toSeq.flatten.filter(e => isUnbacked(e._2))
      .map(e => (e._1, unbackedType(e._2))),
     cm.map(_.map { case (l, p) => if (isUnbacked(p)) (l, l) else (l, p) }))

  /** The (mapping, pinned schema) a commit backing `unbacked` writes:
    * nothing new when none is pending; otherwise the backed mapping
    * and the FULL physical schema — the source files' physical fields
    * (`physical`, position tags dropped) plus the newly-backed columns
    * — so every reader resolves the mixed file set exactly. */
  private def backedMeta(unbacked: Seq[(String, String)],
      cmBacked: Option[Seq[(String, String)]],
      physical: => org.apache.spark.sql.types.StructType)
      : (Option[Seq[(String, String)]],
         Option[org.apache.spark.sql.types.StructType]) = {
    import org.apache.spark.sql.types.{DataType, StructField, StructType}
    if (unbacked.isEmpty) (None, None)
    else (cmBacked, Some(StructType(physical
      .filterNot(f => f.name == "__path" || f.name == "__ri") ++
      unbacked.map { case (n, t) => StructField(n, DataType.fromDDL(t)) })))
  }

  /** A source frame filled at the declared type for every pending
    * column it does not provide (a source that predates the ADD
    * COLUMN); any OTHER missing column still fails at the caller's
    * projection. */
  private def fillPending(df: DataFrame,
      unbacked: Seq[(String, String)]): DataFrame =
    unbacked.foldLeft(df) { case (d, (n, t)) =>
      if (d.columns.contains(n)) d
      else d.withColumn(n, org.apache.spark.sql.functions.lit(null)
        .cast(org.apache.spark.sql.types.DataType.fromDDL(t)))
    }

  /** Read a set of file references RAW (physical schema), honoring
    * the owning version's pinned `_schema` when present — the one
    * entry point every physical-grain reader (DV DML find-positions,
    * binPack/reorg rewrites) must use so a partially-backed column
    * never tears a mixed read. */
  private[ops] def readRefsRaw(spark: SparkSession, root: String,
      dir: String, refs: Seq[String]): DataFrame = {
    val paths = refs.map(r => resolveRef(root, r))
    schemaOf(spark, root, dir) match {
      case Some(s) => spark.read.schema(s).parquet(paths: _*)
      // no pinned schema → the ref set shares one physical schema by
      // protocol; resolve it from the first footer on the driver
      // instead of paying a one-task inference job ([[MetaIO]])
      case None => MetaIO.readParquet(spark, paths)
    }
  }

  /** The LIVE rows of `raw`, a file-source read of (some of) version
    * dir `dir`'s files: the one entry point through which every reader
    * and rewriter applies the version's deletion vector. No `_dv` →
    * `raw` itself. A vector within [[dvLocalCarryCap]] (the on-disk
    * footprint, checked before anything else is built) is read on the
    * DRIVER (one parquet-mr frame read, no job), shipped as per-file
    * sorted row-index arrays in one broadcast variable and applied
    * INSIDE the scan by [[graft.expressions.LiveRows]] over
    * `_metadata.file_path`/`_metadata.row_index`: one same-file check
    * and one probe per row, no join, no exchange. Past the cap the
    * vector is the 100 TB case and the [[applyDv]] anti-join runs,
    * broadcast-hinted while [[hintIfSmall]] allows. The result keeps
    * `raw`'s columns and its `_metadata`, so callers may tag positions
    * after it — then only the rows they keep pay for them. */
  private[ops] def live(spark: SparkSession, root: String, dir: String,
      raw: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.graft.Bridge
    val bytes = dvBytesOf(spark, root, dir)
    val dvDir = s"$root/$dir/_dv"
    if (bytes == 0L) raw
    else if (bytes <= dvLocalCarryCap.value) {
      val positions = MetaIO.dvPositions(spark, dvDir)
      if (positions.isEmpty) raw
      else raw.filter(Bridge.column(graft.expressions.LiveRows(
        Bridge.expression(col("_metadata.file_path")),
        Bridge.expression(col("_metadata.row_index")),
        dvDir)(spark.sparkContext.broadcast(positions))))
    } else applyDv(raw, MetaIO.readParquet(spark, dvDir), bytes)
  }

  /** Anti-join `raw` (a file-source read) against a deletion vector:
    * rows whose (file key, row index) appear in `dv` disappear. The
    * join is keyed on metadata columns computed in the scan itself —
    * the path of [[live]] for a vector past [[dvLocalCarryCap]]. */
  private def applyDv(raw: DataFrame, dv: DataFrame,
      bytes: Long): DataFrame = {
    import org.apache.spark.sql.functions.{col, substring_index}
    val meta = raw.metadataColumn("_metadata")
    val keys = hintIfSmall(dv.select(col("path").as("__dv_path"),
      col("row_index").as("__dv_ri")), bytes)
    // keyed on expressions, not on added columns: the result keeps
    // `raw`'s output and its `_metadata` (no projection on top)
    raw.join(keys,
      substring_index(meta.getField("file_path"), "/", -2) ===
        keys("__dv_path") &&
        meta.getField("row_index") === keys("__dv_ri"), "left_anti")
  }

  /** Tag a DML find-positions scan with its rows' positions: `__path`
    * the scan's file path, `__ri` the row index. The file KEY is
    * derived in [[positionsOf]], from the rows a DML keeps. */
  private def positionTagged(scan: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.col
    scan.withColumn("__path", col("_metadata.file_path"))
      .withColumn("__ri", col("_metadata.row_index"))
  }

  /** The deletion-vector rows of [[positionTagged]] rows: (`path` =
    * the [[fileKeyOf]] key, exactly `substring_index(path, '/', -2)`
    * as every DV reader derives it, `row_index`). */
  private def positionsOf(tagged: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, substring_index}
    tagged.select(substring_index(col("__path"), "/", -2).as("path"),
      col("__ri").as("row_index"))
  }

  /** Write a commit's new data files into its fresh `dir`: through
    * the partition-pure flatten ([[PartitionedTable.writeFlattened]],
    * one partition value per file) when the source carries `_parts`,
    * a plain write otherwise. `shape` receives the partition column
    * (None for the plain write) and returns the frame to write.
    * Returns (appended refs, fresh `_parts` rows — Nil for the plain
    * write). */
  private[ops] def writeDelta(spark: SparkSession, root: String,
      src: Base, dir: String)(shape: Option[String] => DataFrame)
      : (Seq[String], Seq[(String, String)]) =
    src.parts match {
      case Some((pcol, _)) =>
        val rows = PartitionedTable.writeFlattened(spark, root, dir,
          shape(Some(pcol)), pcol)
        (rows.map(_._1), rows)
      case None =>
        shape(None).write.parquet(s"$root/$dir")
        (dataFilesIn(fsOf(spark, root), root, dir), Nil)
    }

  /** THE file-list commit: every version that carries files by
    * reference is committed here, from its source version `src`, the
    * fresh `dir` holding its new files, and what it keeps. The
    * version layout, each frame worked out from the inputs, in write
    * order (`dir` itself appears with the first file):
    *
    *  - `_files` = `carried` (refs of `src`) ++ `appended`.
    *  - `_dv` = the source vector — copied verbatim when every source
    *    file is carried, filtered to the carried files' keys otherwise
    *    ([[carryDvFiltered]]), absent when `dvPurged` (the commit
    *    materialized all of it) — plus `freshDv`, this commit's new
    *    positions, as one appended part.
    *  - `_parts` = the source rows of the carried files (they must
    *    cover every one) ++ `freshParts`; copied verbatim when the
    *    file list is unchanged; dropped when the appended files are not
    *    partition-pure (`freshParts` does not list them) or the
    *    mapping changes.
    *  - `_colmap`/`_schema` = `colmap`/`schema` when given, else the
    *    source's ([[writeBackedMeta]]).
    *  - `_stats`/`_bloom`/`_bloom/_GEOM` = the source's rows of the
    *    carried files plus read-back rows of the appended ones
    *    ([[ZTable.extendStats]]; the file-grain copy when every source
    *    file is carried); dropped when the mapping changes (their dim
    *    names are physical).
    *
    * Then [[publish]]. Returns the committed version. */
  private[ops] def commitFiles(spark: SparkSession, root: String,
      src: Base, dir: String, carried: Seq[String], appended: Seq[String],
      op: String, freshParts: Seq[(String, String)] = Nil,
      freshDv: Option[DataFrame] = None, dvPurged: Boolean = false,
      colmap: Option[Seq[(String, String)]] = None,
      schema: Option[org.apache.spark.sql.types.StructType] = None,
      batchKey: String = "", retention: Long = Long.MaxValue): Long = {
    require(carried.nonEmpty || appended.nonEmpty,
      s"commit of $root would have NO data files — use a plain empty " +
        "commit (ManifestTable.commit) instead")
    val fs = fsOf(spark, root)
    val carryAll = carried.size == src.refs.size
    def copyIfAny(frame: String): Unit = {
      val p = new Path(s"$root/${src.dir}/$frame")
      if (fs.exists(p)) ZTable.copyFrame(fs, p.toString, s"$root/$dir/$frame")
    }
    writeFileList(fs, root, dir, carried ++ appended)
    if (!dvPurged) {
      if (carryAll) copyIfAny("_dv")
      else carryDvFiltered(spark, root, src.dir, dir,
        carried.map(fileKeyOf).toSet)
    }
    freshDv.foreach(_.coalesce(1).write.mode("append")
      .parquet(s"$root/$dir/_dv"))
    if (colmap.isEmpty) {
      if (carryAll && appended.isEmpty) copyIfAny("_parts")
      else if (freshParts.size == appended.size)
        src.parts.foreach { case (pcol, rows) =>
          val keep = carried.toSet
          val kept = rows.filter(r => keep.contains(r._1))
          require(kept.size == carried.size,
            s"partition metadata of $root v${src.v} does not cover " +
              "every carried file — refusing a commit that would " +
              "under-cover")
          PartitionedTable.writeParts(spark, root, dir, kept ++ freshParts,
            pcol)
        }
    }
    writeBackedMeta(spark, root, src.dir, dir, colmap, schema)
    if (colmap.isEmpty)
      ZTable.extendStats(spark, root, src, dir, appended,
        carriedPaths = if (carryAll) None else Some(carried))
    publish(spark, root, src, dir, op, batchKey, retention)
  }

  /** Read a resolved data dir — through its `_files` manifest when the
    * version is a file-list version, else the whole dir (reading a
    * file-list dir as plain parquet would silently DROP the
    * carried-forward files: Spark's file index skips the
    * underscore-prefixed `_files`/`_stats`, so the plain read sees
    * only the rewritten files) — then through its deletion vector
    * when it carries one (rows deleted merge-on-read disappear here,
    * so EVERY consumer — merge bases, change feeds, DML rewrites,
    * OPTIMIZE — sees post-delete truth with no special cases). */
  private[ops] def readDataDir(spark: SparkSession, root: String,
      dir: String): DataFrame = {
    val raw = fileList(spark, root, dir) match {
      case Some(rels) =>
        // register the EXACT file set with the planner-side pruning
        // registry, so a later Filter over this scan can be
        // intersected with the version's committed _parts/_stats/
        // _bloom frames ([[GraftPruning]]) — O(1) string work
        GraftPruning.register(spark,
          rels.map(resolveRef(root, _)), root, dir)
        readRefsRaw(spark, root, dir, rels)
      case None =>
        GraftPruning.register(spark, Seq(s"$root/$dir"), root, dir)
        MetaIO.readParquet(spark, s"$root/$dir")
    }
    val rows = live(spark, root, dir, raw)
    // column mapping LAST: logical names are the only thing any
    // consumer above this line ever sees (a dropped column's physical
    // data stays in the files, invisible from here on)
    colmapOf(spark, root, dir).fold(rows)(toLogical(rows, _))
  }

  /** Time travel: read a specific committed version. Fails loudly if
    * the version was never committed OR its data was vacuumed. */
  /** EXACT row count of version `v` at metadata cost: parquet footer
    * row counts of the version's files (footer counts are exact for
    * every type) minus its deletion-vector positions (each `_dv` row
    * hides exactly one live row by construction — positions are
    * unique, spec-pinned). This is what a table format's
    * `numRecords` column is; it replaces a 2-stage Spark count job
    * per version probe with O(files) driver footer reads. Equals
    * `readVersion(v).count()` bit-for-bit (spec-pinned incl. the
    * MoR case). */
  def countVersion(spark: SparkSession, root: String, v: Long): Long = {
    val dir = versionDataDir(spark, root, v)
    val refs = refsOf(spark, root, dir)
    val rows = MetaIO.footerRowCount(spark,
      refs.map(r => new Path(resolveRef(root, r))))
    val dvP = new Path(new Path(root, dir), "_dv")
    val deleted = if (fsOf(spark, root).exists(dvP))
      MetaIO.footerRowCount(spark, dvP.toString) else 0L
    rows - deleted
  }

  def readVersion(spark: SparkSession, root: String, v: Long): DataFrame =
    readDataDir(spark, root, versionDataDir(spark, root, v))

  /** The file references a committed version carries when it is a
    * file-list version ([[fileList]] of its resolved dir): relative
    * `<dir>/<file>` entries or absolute external refs (shallow
    * clones). None = a plain whole-dir version. Public so callers can
    * AUDIT reference reuse (zero-copy proofs in q225/q227/q228/q231)
    * without touching the dir layout. */
  def versionFileRefs(spark: SparkSession, root: String,
      v: Long): Option[Seq[String]] =
    fileList(spark, root, versionDataDir(spark, root, v))

  /** Commit `df` as the next version; returns the new version number.
    * Crash-safe per the protocol above; fails loudly on a concurrent
    * commit of the same version (see [[mergeWithRetry]] for the
    * rebase-and-retry loop). */
  def commit(df: DataFrame, root: String): Long =
    replace(df, root, "commit", batchKey = "")

  /** [[commit]] and [[commitBatch]]: `df` replaces the table as the
    * next version, unless `batchKey` already committed. */
  private def replace(df: DataFrame, root: String, what: String,
      batchKey: String): Long = {
    val spark = df.sparkSession
    val src = snapshot(spark, root)
    if (batchKey.nonEmpty && src.applied(batchKey)) return src.v
    // generated columns first (checks may reference them)
    val full = Generated(spark, root, df, what)
    Checks.enforce(spark, root, full, what)
    commitData(full, root, src, "WRITE", batchKey)
  }

  /** APPEND `df` as the next version — O(batch): every base file is
    * carried BY REFERENCE (`_files` = base refs ++ the batch's fresh
    * files), so INSERT INTO a 100 TB table writes the batch's bytes
    * and nothing else (where [[commit]] is full-replace semantics).
    * The SQL `INSERT INTO graft.`/p` SELECT …` statement routes here
    * (the reference's EDW loads, `dags/snowflake-EDW-ETL-dag.py:147`).
    * Composes with the whole metadata surface: a partitioned base
    * delegates to [[PartitionedTable.appendPartitioned]] (fragments
    * partition-pure, `_parts` extended); the deletion vector carries
    * verbatim (all base files survive); committed skipping stats
    * extend ([[ZTable.extendStats]] — O(batch) read-back); a pending
    * metadata-only ADD COLUMN is physically backed in the appended
    * files exactly as [[mergeDV]] does. Columns match the target BY
    * NAME (order-free); missing columns fail loudly. CHECK
    * constraints enforce on the batch (the inductive contract).
    * Returns the new version. */
  def append(spark: SparkSession, root: String, df: DataFrame): Long = {
    val base = baseOf(spark, root, "append to")
    val cm = colmapOf(spark, root, base.dir)
    if (cm.isEmpty && base.parts.isDefined) {
      // the SAME by-name alignment + cast-to-target-types the
      // unpartitioned path applies below (srcProj) must happen BEFORE
      // the partitioned delegation: appendPartitioned writes the batch
      // verbatim, and a narrower-typed INSERT (int literal into a
      // bigint column, decimal into double) would land fragment files
      // whose parquet physical schema disagrees with the base files —
      // mixed-footer reads then fail or silently null columns.
      // Generated columns compute first so the projection sees them
      // (appendPartitioned re-validates the now-provided values — a
      // no-op by construction).
      val gen = Generated(spark, root, df, "append")
      val targetSchema = readDataDir(spark, root, base.dir).schema
      val coerced = gen.select(targetSchema.map(f =>
        org.apache.spark.sql.functions.col(f.name).cast(f.dataType)
          .as(f.name)): _*)
      return PartitionedTable.appendPartitioned(spark, root, coerced)
    }
    val src = Generated(spark, root, df, "append")
    Checks.enforce(spark, root, src, "append")
    val refs = base.refs
    // logical target schema = the base read's (colmap applied)
    val targetSchema = readDataDir(spark, root, base.dir).schema
    val (unbackedCols, cmBacked) = pendingAdds(cm)
    // match by NAME, coerce to the target's TYPES (SQL INSERT
    // semantics — a decimal VALUES literal must land as the target's
    // double, or the mixed parquet schema mis-decodes; ANSI casts
    // keep bad values loud)
    val srcProj = fillPending(src, unbackedCols).select(targetSchema.map(f =>
      org.apache.spark.sql.functions.col(f.name).cast(f.dataType)
        .as(f.name)): _*)
    val dir = newDataDirName(base.next)
    val (appended, _) = writeDelta(spark, root, base, dir)(_ =>
      cmBacked.fold(srcProj)(toPhysical(srcProj, _)))
    // base PHYSICAL schema (footer-only read) — needed only when a
    // pending ADD COLUMN is being backed and `_schema` must pin the
    // mixed file set
    val (colmap, schema) = backedMeta(unbackedCols, cmBacked,
      readRefsRaw(spark, root, base.dir, refs).schema)
    commitFiles(spark, root, base, dir, refs, appended, "WRITE",
      colmap = colmap, schema = schema)
  }

  /** Write `df` as the whole data of version `v` into a fresh dir;
    * returns the dir name. Package-private so the crash and race specs
    * can stop between data write and marker. */
  private[graft] def writeVersionData(df: DataFrame, root: String,
      v: Long): String = {
    val dir = newDataDirName(v)
    df.write.parquet(s"$root/$dir") // ErrorIfExists: the dir is unique
    dir
  }

  /** A full rewrite: `df` becomes the whole of the version `src`
    * claims ([[writeVersionData]], then [[publish]]). */
  private[ops] def commitData(df: DataFrame, root: String, src: Base,
      op: String, batchKey: String = "",
      retention: Long = Long.MaxValue): Long =
    publish(df.sparkSession, root, src,
      writeVersionData(df, root, src.next), op, batchKey, retention)

  /** THE version publisher: every commit ends here, once its data and
    * metadata frames are in `dir`. It writes, in order:
    *
    *  - `_op` ([[writeOpMeta]]) inside `dir`;
    *  - the marker `v<src.next>` ([[writeMarker]]), the commit point;
    *  - auto-compaction ([[maybeAutoCompact]]), counting the markers
    *    of `src`'s snapshot plus this one, so no second listing.
    *
    * The marker comes LAST among the writes because it is what makes
    * the version exist: everything in `dir` before it is invisible to
    * readers, so a crash anywhere earlier leaves the table at `src`,
    * and a committed version never lacks its `_op`. A lost race
    * deletes `dir` and throws [[ConcurrentCommitException]]. Returns
    * the committed version. */
  private[ops] def publish(spark: SparkSession, root: String, src: Base,
      dir: String, op: String, batchKey: String = "",
      retention: Long = Long.MaxValue): Long = {
    writeOpMeta(spark, root, dir, op)
    writeMarker(spark, root, src.next, batchKey, dir)
    maybeAutoCompact(spark, root, src.liveCount + 1, retention)
    src.next
  }

  /** Unique per-attempt data-dir name — the ONE naming convention
    * vacuum's orphan regex and every committer (incl. [[IndexStore]])
    * must share. */
  private[ops] def newDataDirName(v: Long): String =
    s"d$v-${java.util.UUID.randomUUID().toString.take(8)}"

  /** Record the OPERATION that produced a version (`WRITE` / `MERGE` /
    * `DELETE` / `UPDATE` / `OPTIMIZE` / `RESTORE` / `CLONE` /
    * `CONVERT`) plus the commit wall-clock (millis, second line) as a
    * tiny `_op` file INSIDE the version's data dir — written between
    * data and marker, so it is atomic with the commit (an orphaned
    * dir's `_op` is invisible, a committed version's can never be
    * missing unless the version predates this metadata or was
    * vacuumed). Underscore-prefixed: plain parquet readers skip it,
    * same as `_files`/`_stats`. This is what [[history]] reads —
    * Delta's `DESCRIBE HISTORY` operation + timestamp columns — and
    * what [[versionAsOf]] resolves `TIMESTAMP AS OF` against. */
  private def writeOpMeta(spark: SparkSession, root: String,
      dir: String, op: String): Unit = {
    val fs = fsOf(spark, root)
    val out = fs.create(new Path(new Path(root, dir), "_op"), true)
    try out.write(s"$op\n${System.currentTimeMillis()}".getBytes("UTF-8"))
    finally out.close()
  }

  /** The (operation, commitTsMillis) a version dir recorded; None for
    * pre-metadata dirs. Single-line legacy `_op` files read as
    * (op, None). */
  private def readOpMeta(fs: org.apache.hadoop.fs.FileSystem,
      root: String, dir: String): Option[(String, Option[Long])] = {
    val p = new Path(new Path(root, dir), "_op")
    if (!fs.exists(p)) None
    else {
      val lines = readSmallFile(fs, p).split("\n")
      Some((lines(0),
        lines.drop(1).headOption.flatMap(_.trim.toLongOption)))
    }
  }

  /** The atomic commit point of [[publish]]. The marker NAME
    * is version-only (`v<N>`), so ANY two committers of one version —
    * plain commits, [[mergeBatch]] commits with the same or different
    * batch keys — contend on the SAME rename target, and the rename
    * CAS arbitrates the race in one atomic filesystem operation. (The
    * pre-round-11 format put the batch key in the marker name, which
    * left a cross-name TOCTOU: two writers committing one version
    * under DIFFERENT names both passed the listing check and both
    * renamed successfully — two markers, one version, a silent lost
    * update. Version-only names make that state unrepresentable.)
    * `batchKey` rides in the marker's CONTENT, tab-separated after the
    * data dir, for [[mergeBatch]]'s replay detection. On a lost race
    * the caller's orphan data dir is deleted before the throw. */
  private[graft] def writeMarker(spark: SparkSession, root: String,
      v: Long, batchKey: String = "", dataDir: String = ""): Unit = {
    // marker content is `<dir>\t<key>` and compact files are
    // newline-joined `name\tcontent` lines: an unescaped newline (or
    // CR) in a caller-supplied key would corrupt the compact-file
    // parse — silently breaking replay detection and version
    // resolution — so reject it at the entry point. A TAB in the key
    // is fine by construction: both parsers split at the FIRST tab
    // only, so everything after it (tabs included) stays in the key.
    require(!batchKey.exists(c => c == '\n' || c == '\r'),
      s"batchKey must not contain newline characters: ${batchKey.trim}")
    val fs = fsOf(spark, root)
    val commits = new Path(root, "_commits")
    fs.mkdirs(commits)
    def lostRace(): Nothing = {
      if (dataDir.nonEmpty) fs.delete(new Path(root, dataDir), true)
      throw new ConcurrentCommitException(
        s"concurrent commit detected: $root version $v already exists")
    }
    // advisory pre-check: catches an already-committed version without
    // paying a doomed temp write; the RENAME below is the real guard
    if (markerNames(spark, root).exists(versionOf(_) == v)) lostRace()
    // the temp name must be unique PER ATTEMPT: two writers racing the
    // same version with a shared `.v<N>.tmp` let the winner rename a
    // temp the loser had just overwritten — committing a marker that
    // points at the loser's (about-to-be-deleted) data dir. Caught by
    // the two-writer spec; unique temps make each rename self-owned.
    val tmp = new Path(commits,
      s".v$v.${java.util.UUID.randomUUID().toString.take(8)}.tmp")
    verifyFsContract(spark, root)
    val content = if (batchKey.isEmpty) dataDir else s"$dataDir\t$batchKey"
    val out = fs.create(tmp, true)
    try out.write(content.getBytes("UTF-8")) finally out.close()
    val target = new Path(commits, s"v$v")
    if (!publishExclusive(fs, tmp, target)) lostRace()
    // pre-populate the content cache: the file we just renamed is
    // write-once, so this JVM's replay checks never re-read it
    try markerCache.synchronized(
      markerCache.put(statusKey(fs.getFileStatus(target)), content))
    catch { case _: java.io.IOException => () }
  }

  /** Fold every marker STRICTLY below the current version (plus any
    * previous compact file's entries) into one `_compact-<curr-1>`
    * file, then delete the covered marker files and older compact
    * files. The current version's marker stays live so concurrent
    * committers race against a real file, never a compact entry.
    * Idempotent and crash-safe: the compact file lands by atomic
    * rename; a crash before marker deletion leaves a name in both
    * places, which readers dedup. Concurrent compactions: the second
    * rename fails and is swallowed (the first already did the work).
    *
    * Same-version duplicates (a cross-suffix race whose loser crashed
    * between its rename and its self-abort — see [[writeMarker]])
    * resolve here too: only the version's WINNER is folded, and the
    * loser's marker file is deleted with the rest — so a crashed
    * loser's batch key stops reporting a never-committed batch as
    * applied at the next compaction (self-healing).
    *
    * Version→dir entries are never dropped. BATCH KEYS have an
    * optional retention horizon: by default they survive compaction
    * AND vacuum forever (exact replay detection for any lag), but a
    * years-long streaming sink then grows the compact file
    * O(lifetime commits). `batchKeyRetention = N` rewrites a
    * batch-keyed entry older than `current - N` versions to its plain
    * `v<N>` form — time travel and vacuum bookkeeping keep the
    * version, only the replay key is forgotten. Safe iff N ≥ the
    * stream's own replay horizon (a checkpointed Spark source never
    * replays a batch older than its last committed offset, so any
    * N ≥ 1 covers a single well-formed stream; keep slack for
    * checkpoint restores from backup). Spec-pinned: replay INSIDE the
    * horizon is still exactly-once. */
  def compact(spark: SparkSession, root: String,
      batchKeyRetention: Long = Long.MaxValue): Unit = {
    val cur = currentVersion(spark, root).getOrElse(return)
    val coverMax = cur - 1
    if (coverMax < 1) return
    val fs = fsOf(spark, root)
    val commits = new Path(root, "_commits")
    val (live, compacted) = commitState(spark, root)
    val toCover = live.map(_.getPath.getName).filter(versionOf(_) <= coverMax)
    val keyFloor = // batch keys at versions < keyFloor are forgotten
      if (batchKeyRetention == Long.MaxValue) Long.MinValue
      else cur - batchKeyRetention
    val entries = winnersByVersion(
        (compacted.keys ++ toCover).toSeq.distinct)
      .filter { case (v, _) => v <= coverMax }
      .map { case (ver, m) =>
        val c = contentOf(spark, root, m, live, compacted)
        if (ver < keyFloor)
          // retention horizon passed: keep the version→dir entry,
          // forget the replay key — plain name, key-free content
          s"v$ver" -> dirPart(c)
        else m -> c
      }
    if (entries.isEmpty) return
    val name = s"_compact-$coverMax"
    val target = new Path(commits, name)
    if (!fs.exists(target)) {
      // tmp name unique PER ATTEMPT — a shared tmp lets a racing
      // compactor truncate the winner's bytes mid-write and a torn
      // compact file land (the same defect class the marker temps had)
      val tmp = new Path(commits,
        s".$name.${java.util.UUID.randomUUID().toString.take(8)}.tmp")
      val out = fs.create(tmp, true)
      try out.write(entries.toSeq.sortBy(e => versionOf(e._1))
        .map { case (m, d) => s"$m\t$d" }.mkString("\n").getBytes("UTF-8"))
      finally out.close()
      // same atomic-publish primitive as markers: two racing
      // compactors must never tear or overwrite each other's file
      if (!publishExclusive(fs, tmp, target))
        return // a concurrent compaction won; fine
    }
    // covered markers and superseded compact files are now redundant
    toCover.foreach(m => fs.delete(new Path(commits, m), false))
    fs.listStatus(commits).map(_.getPath).filter { p =>
      val n = p.getName
      n.matches("_compact-\\d+") && n.drop(9).toLong < coverMax
    }.foreach(fs.delete(_, false))
  }

  /** [[compact]] once a root holds more than [[autoCompactThreshold]]
    * live markers; [[publish]] passes the count its snapshot listed. */
  private def maybeAutoCompact(spark: SparkSession, root: String,
      liveCount: Int, batchKeyRetention: Long): Unit =
    if (liveCount > autoCompactThreshold)
      compact(spark, root, batchKeyRetention)

  /** Transactional MERGE behind the [[Upsert.upsert]] signature: read
    * the current version as the target, apply the upsert kernel
    * (UNCHANGED — `UpsertPropertySpec` covers it), commit the result
    * as the next version, and return the committed table. First
    * commit (no prior version) inserts the source as version 1.
    * Throws on a concurrent commit of the same version — use
    * [[mergeWithRetry]] when multiple writers may collide. */
  def merge(spark: SparkSession, root: String, source: DataFrame,
      keys: Seq[String], updateCols: Option[Seq[String]] = None)
      : DataFrame =
    mergeWhole(spark, root, source, keys, updateCols, Upsert.upsert)

  /** [[merge]] with SCHEMA EVOLUTION ([[Upsert.upsertEvolve]] — the
    * Delta `mergeSchema` semantic): a source with new columns widens
    * the committed table (old rows read NULL there); a source missing
    * columns preserves them (inserted rows read NULL). Same pinned
    * OCC version and commit protocol as [[merge]]. Type CHANGES on an
    * existing column still fail loudly. */
  def mergeEvolve(spark: SparkSession, root: String, source: DataFrame,
      keys: Seq[String], updateCols: Option[Seq[String]] = None)
      : DataFrame =
    mergeWhole(spark, root, source, keys, updateCols, Upsert.upsertEvolve)

  /** [[merge]] and [[mergeEvolve]], which differ only in `kernel`. */
  private def mergeWhole(spark: SparkSession, root: String,
      source: DataFrame, keys: Seq[String],
      updateCols: Option[Seq[String]],
      kernel: (DataFrame, DataFrame, Seq[String], Option[Seq[String]])
        => DataFrame): DataFrame = {
    // OCC correctness: the committed version number is PINNED to
    // (version read) + 1, not re-derived at commit time. Re-deriving
    // let a concurrent commit land BETWEEN our read and our marker
    // and be silently overwritten by a result computed without its
    // rows — a lost update with no conflict signal (caught by the
    // two-writer spec: one writer's row vanished ~1 run in 6). With
    // the pin, any interleaved commit makes OUR marker collide and
    // throw, which is exactly the signal mergeWithRetry rebases on.
    // ONE commit-state snapshot resolves the base version AND reads
    // it; only writeMarker re-lists (its CAS guard must be fresh)
    val base = snapshot(spark, root)
    val src = Generated(spark, root, source, "merge source")
    val result =
      if (base.v == 0) src
      else kernel(readDataDir(spark, root, base.dir), src, keys, updateCols)
    // checks enforce on the SOURCE batch, not the merged whole:
    // unchanged target rows passed their own commit-time check
    // (inductive), and re-validating the table per merge is the
    // O(table)-per-batch cost a 100 TB sink cannot pay. A check added
    // AFTER data landed needs one [[Checks.validate]] sweep.
    Checks.enforce(spark, root, src, "merge source")
    readVersion(spark, root, commitData(result, root, base, "MERGE"))
  }

  /** [[merge]] with the Delta-style rebase-and-retry loop: a losing
    * committer re-reads the NEW current version (which includes the
    * winner's rows), re-applies its upsert on top, and re-commits —
    * so concurrent MERGEs serialize instead of one of them dying, and
    * no committed row is ever lost (spec-pinned by the two-writer
    * race). Bounded attempts: pathological contention still surfaces
    * as the underlying conflict error rather than spinning forever. */
  def mergeWithRetry(spark: SparkSession, root: String,
      source: DataFrame, keys: Seq[String],
      updateCols: Option[Seq[String]] = None,
      maxAttempts: Int = 10): DataFrame =
    withRetry(maxAttempts)(merge(spark, root, source, keys, updateCols))

  /** THE rebase-and-retry loop: run `attempt` until it commits, at
    * most `maxAttempts` times; a lost version race re-runs it (each
    * run re-resolves its base), the last loss is rethrown. */
  private[ops] def withRetry[T](maxAttempts: Int)(attempt: => T): T = {
    var n = 1
    while (true) {
      // classified by TYPE, not message prefix — rewording the error
      // (or an FS IOException sharing the prefix) must not silently
      // change retry semantics
      try return attempt
      catch {
        case e: ConcurrentCommitException =>
          if (n >= maxAttempts) throw e
          n += 1
      }
    }
    sys.error("unreachable")
  }

  /** Every batch key with a committed winning marker. Keys live in
    * marker CONTENT (current format) or the `-b` name suffix (legacy);
    * live-marker contents come from the write-once [[markerCache]], so
    * a single-JVM streaming sink's per-batch replay check costs zero
    * extra reads in steady state (its own [[writeMarker]] calls
    * pre-populated the cache) and a cold JVM pays at most one read per
    * live marker — bounded by [[autoCompactThreshold]]. Only each
    * version's WINNER counts: a legacy lost race's lingering marker
    * never committed its batch. */
  private def appliedKeys(spark: SparkSession, root: String,
      live: Seq[org.apache.hadoop.fs.FileStatus],
      compacted: Map[String, String]): Set[String] =
    winnersByVersion(namesOf(live, compacted)).values.flatMap { m =>
      keyPart(m, contentOf(spark, root, m, live, compacted))
    }.toSet

  /** Has a [[mergeBatch]] with this batch key already committed?
    * Exact for as long as the key is retained ([[compact]]'s
    * `batchKeyRetention` — forever by default). */
  def batchApplied(spark: SparkSession, root: String,
      batchKey: String): Boolean = {
    val (live, compacted) = commitState(spark, root)
    appliedKeys(spark, root, live, compacted).contains(batchKey)
  }

  /** Every retained batch key with a committed winning marker — the
    * enumerable form of [[batchApplied]]. An incremental consumer
    * recovers its own high-watermark from this (e.g.
    * [[ChangeFeed.sync]] parses its `cdfv-<srcVersion>` keys for the
    * highest source version already applied) instead of keeping a
    * side file that could tear away from the commit. */
  def appliedBatchKeys(spark: SparkSession, root: String): Set[String] = {
    val (live, compacted) = commitState(spark, root)
    appliedKeys(spark, root, live, compacted)
  }

  /** [[commit]] with a batch key: FULL-REPLACE the table as the next
    * version, exactly-once under replay (a committed key is a no-op).
    * This is the sink primitive for derived/aggregate tables whose
    * new state is computed WHOLE — rows (e.g. emptied groups) can
    * disappear between versions, which an upsert-based [[mergeBatch]]
    * can never express. Same pinned-version commit protocol. */
  def commitBatch(df: DataFrame, root: String, batchKey: String): Unit =
    replace(df, root, "commitBatch", batchKey)

  /** [[merge]] for streaming `foreachBatch`: EXACTLY-ONCE under
    * micro-batch replay. The commit marker carries the batch key
    * (`v<N>-b<key>`), so a replayed batch whose key is already
    * committed is a no-op — whether the original attempt crashed
    * before the data write (nothing exists), between data write and
    * marker (the orphan data dir is unreferenced and invisible), or
    * after the marker (replay skips). The marker rename remains the
    * single atomic commit point.
    *
    * Batch keys must be namespaced per stream run (the
    * [[graft.streaming.TransactionalStream]] caller derives the
    * namespace from the checkpoint path) — Spark's micro-batch counter
    * restarts at 0 under a new checkpoint, and a bare id would make a
    * NEW stream's first batch look like a replay of the old one. */
  def mergeBatch(spark: SparkSession, root: String, source: DataFrame,
      keys: Seq[String], batchKey: String,
      updateCols: Option[Seq[String]] = None,
      batchKeyRetention: Long = Long.MaxValue): Unit =
    mergeBatchFold(spark, root, keys, batchKey, _ => source, updateCols,
      batchKeyRetention)

  /** [[mergeBatch]] whose SOURCE is derived from the base version
    * itself: `fold` receives the table as committed at the version the
    * merge will be pinned to (None on first commit) and returns the
    * source rows to upsert. A sink that accumulates running state
    * (e.g. [[graft.streaming.CorpusStream]]'s global-min keeper /
    * summed counts) previously read the table with a SEPARATE
    * [[read]] call before calling [[mergeBatch]] — a foreign commit
    * landing between the two resolutions would make the fold
    * accumulate against a stale version yet commit cleanly, because
    * the OCC pin only guards mergeBatch's own read-to-marker window.
    * Here ONE commit-state snapshot serves replay detection, the
    * fold's base read AND the upsert's base read, so fold-vs-merge
    * skew is unrepresentable (and the snapshot count per batch stays
    * at one — the object-store listing cost a streaming sink cares
    * about; only writeMarker re-lists for its CAS guard). */
  def mergeBatchFold(spark: SparkSession, root: String,
      keys: Seq[String], batchKey: String,
      fold: Option[DataFrame] => DataFrame,
      updateCols: Option[Seq[String]] = None,
      batchKeyRetention: Long = Long.MaxValue): Unit = {
    val base = snapshot(spark, root)
    if (base.applied(batchKey)) return
    // same read-version pin as [[merge]]: a stream is normally this
    // table's only writer, but if anything else ever commits between
    // our read and our marker the batch must conflict loudly, never
    // silently drop the interloper's rows
    val baseDf =
      if (base.v == 0) None else Some(readDataDir(spark, root, base.dir))
    val src = Generated(spark, root, fold(baseDf), "mergeBatch source")
    Checks.enforce(spark, root, src, "mergeBatch source")
    // the sink's own auto-compaction applies the caller's retention
    // horizon, so a long-lived stream's compact file stays O(recent)
    // WITHOUT a separate maintenance job (only safe when the horizon
    // exceeds the stream's replay horizon — see [[compact]])
    commitData(baseDf.fold(src)(Upsert.upsert(_, src, keys, updateCols)),
      root, base, "MERGE", batchKey, batchKeyRetention)
  }

  /** [[mergeBatch]] with the [[mergeWithRetry]] rebase loop — the
    * multi-writer streaming form: TWO (or more) streams with distinct
    * batch-key namespaces can merge into ONE table root, and a loser
    * of the version race re-reads the new current version (which
    * includes the winner's rows) and re-applies its batch on top —
    * commits serialize, no committed row is ever lost, and each batch
    * key stays exactly-once (a retry whose key meanwhile landed — its
    * own earlier attempt racing a replay — is a no-op via the normal
    * replay check). Hammered in `ManifestTableSpec`. */
  def mergeBatchWithRetry(spark: SparkSession, root: String,
      source: DataFrame, keys: Seq[String], batchKey: String,
      updateCols: Option[Seq[String]] = None,
      batchKeyRetention: Long = Long.MaxValue,
      maxAttempts: Int = 10): Unit =
    mergeBatchFoldWithRetry(spark, root, keys, batchKey, _ => source,
      updateCols, batchKeyRetention, maxAttempts)

  /** [[mergeBatchFold]] with the rebase-retry loop. The fold re-runs
    * on every attempt against the FRESH pinned base — fold-vs-merge
    * skew stays unrepresentable across retries, which is the whole
    * point of the fold form. */
  def mergeBatchFoldWithRetry(spark: SparkSession, root: String,
      keys: Seq[String], batchKey: String,
      fold: Option[DataFrame] => DataFrame,
      updateCols: Option[Seq[String]] = None,
      batchKeyRetention: Long = Long.MaxValue,
      maxAttempts: Int = 10): Unit =
    withRetry(maxAttempts)(mergeBatchFold(spark, root, keys, batchKey,
      fold, updateCols, batchKeyRetention))

  /** Mapping-THREAD counterpart resolution for [[changes]] when the
    * two-endpoint match is inconclusive: walk the commits from `toV`
    * back to `fromV`, linking column identity one step at a time —
    * across a metadata-only mapping commit (RENAME/DROP/ADD COLUMN)
    * identity is PHYSICAL (the mapping is all that moved), across any
    * data commit identity is LOGICAL (every rewrite re-keys physical
    * names to logical — [[renameColumn]]'s materialization). This is
    * what keeps a window containing BOTH a rename and a later
    * materializing rewrite honest: the endpoint match fails there
    * (physical re-keyed, logical renamed) and a naive null-fill would
    * emit a spurious full-table update feed. None = the thread cannot
    * be established (a pre-`_op` commit, a vacuumed intermediate
    * version, a RESTORE that changed the mapping, or duplicate
    * physical values from legacy shared unbacked sentinels) — the
    * caller then fails loudly instead of emitting wrong rows (the
    * Delta CDF refuse-across-mapping-change posture). */
  private def threadCounterparts(spark: SparkSession, root: String,
      fromV: Long, toV: Long, toCols: Seq[String])
      : Option[Map[String, String]] = {
    val mappingOps = Set("RENAME COLUMN", "DROP COLUMN", "ADD COLUMN")
    try {
      val fs = fsOf(spark, root)
      var m: Map[String, String] = toCols.map(c => c -> c).toMap
      var v = toV
      while (v > fromV) {
        val dir = versionDataDir(spark, root, v)
        val prevDir = versionDataDir(spark, root, v - 1)
        val op = readOpMeta(fs, root, dir).map(_._1).getOrElse("")
        if (op.isEmpty) return None // pre-metadata commit
        val cmV = colmapOf(spark, root, dir)
        val cmPrev = colmapOf(spark, root, prevDir)
        if (mappingOps.contains(op)) {
          val byLogical = cmV.getOrElse(return None).toMap
          // physical identity across the step; the swap must be
          // injective or two columns would cross-link
          if (byLogical.values.toSeq.distinct.size != byLogical.size)
            return None
          val prevByPhys = cmPrev.map(_.map(_.swap).toMap)
          if (prevByPhys.exists(_.size != cmPrev.get.size)) return None
          m = m.flatMap { case (t, name) =>
            byLogical.get(name).flatMap { p =>
              prevByPhys match {
                case Some(pb) => pb.get(p).map(t -> _)
                // no prior mapping: physical IS the v-1 logical name;
                // an unbacked sentinel means the column was ADDED at
                // this step — no earlier self
                case None => if (isUnbacked(p)) None else Some(t -> p)
              }
            }
          }
        } else if (op == "RESTORE" && cmV != cmPrev) {
          // a restore ACROSS a mapping change re-labels columns to the
          // restore target's logical schema — neither physical nor
          // v-1-logical linking is sound here
          return None
        }
        // all other commits (WRITE/MERGE/DELETE/UPDATE/OPTIMIZE/REORG)
        // preserve logical names: nothing to translate; a column the
        // commit introduced (schema-evolving merge) has no earlier
        // self and is caught by the caller's fromV-columns filter
        v -= 1
      }
      Some(m)
    } catch {
      case _: Exception => None // vacuumed / unreadable intermediate
    }
  }

  /** Change-data-feed between two committed versions — the NET diff,
    * keyed by `keys`, in Delta CDF vocabulary: one `insert` row per
    * key only in `toV`, one `delete` row (with the FROM-side values)
    * per key only in `fromV`, and an `update_preimage` +
    * `update_postimage` pair per key present in both whose non-key
    * columns differ (null-safe). Output schema = the table's columns
    * plus `_change_type`. This is the incremental-consumer contract:
    * a downstream job that processed version `fromV` applies exactly
    * these rows to catch up to `toV` instead of rescanning the table
    * — at 100 TB the difference between a feed and a re-read. ONE
    * full-outer hash join on the keys; change classification and the
    * 0/1/2-row fan-out run codegen'd in the same stage (a NULL array
    * explodes to zero rows — unchanged keys cost no output). */
  def changes(spark: SparkSession, root: String, fromV: Long, toV: Long,
      keys: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions._
    val fromDir = versionDataDir(spark, root, fromV)
    val toDir = versionDataDir(spark, root, toV)
    val from0 = readDataDir(spark, root, fromDir)
    val to0 = readDataDir(spark, root, toDir)
    // SCHEMA-EVOLUTION compose (Delta CDF's semantic): a
    // [[mergeEvolve]] commit between fromV and toV legitimately widens
    // the schema, and refusing to diff across it forced the
    // incremental consumer back to a rescan exactly when the table
    // changed shape. The feed reads in the CURRENT (to-side) schema;
    // each to-column is matched to its from-side counterpart by
    // PHYSICAL identity through the versions' column mappings
    // (identity when none) — so a metadata-only RENAME or DROP
    // ([[renameColumn]]/[[dropColumn]]) emits ZERO change rows
    // (physically nothing moved), and a widening merge null-fills the
    // from side so a pre-evolve row compares EQUAL on a column it
    // never had (null <=> null). A from-only column with no physical
    // counterpart (dropped, or renamed THEN materialized by a
    // rewrite) is excluded — its history is visible in per-version
    // slices, the Delta CDF-across-schema-change posture. Type
    // CHANGES on a matched column still fail loudly. */
    val fromCmMap = colmapOf(spark, root, fromDir).getOrElse(
      from0.columns.toSeq.map(c => c -> c)).toMap // logical -> physical
    val toCmMap = colmapOf(spark, root, toDir).getOrElse(
      to0.columns.toSeq.map(c => c -> c)).toMap
    val fromByPhys = fromCmMap.map(_.swap)
    val cols = to0.columns.toSeq
    // from-side logical counterpart of each to-column: PHYSICAL
    // identity first (a renamed column matches its pre-rename self),
    // then LOGICAL name (a materializing rewrite re-keys physical
    // names to logical — the same column must stay linked across
    // that boundary)
    val endpointMatch: Map[String, String] = cols.flatMap(c =>
      fromByPhys.get(toCmMap(c))
        .orElse(if (fromCmMap.contains(c)) Some(c) else None)
        .map(c -> _)).toMap
    // the endpoint match is inconclusive when BOTH sides have an
    // unmatched column — e.g. a rename followed by a materializing
    // rewrite re-keyed physical names AND changed the logical name,
    // so the renamed column matches nothing at either identity and a
    // naive null-fill would emit update pre/post pairs for EVERY row
    // (a spurious full-table feed). Resolve through the mapping
    // THREAD ([[threadCounterparts]]); if the thread cannot be
    // established, FAIL rather than emit wrong rows — split the read
    // at the schema-change commit ([[changesPerVersion]] reads each
    // step with exact identity).
    val counterpart: Map[String, String] =
      if (cols.forall(endpointMatch.contains) ||
          fromCmMap.keySet.subsetOf(endpointMatch.values.toSet))
        endpointMatch
      else threadCounterparts(spark, root, fromV, toV, cols) match {
        case Some(m) => m.filter { case (_, fc) => fromCmMap.contains(fc) }
        case None => throw new IllegalStateException(
          s"changes($fromV,$toV) on $root cannot align columns across " +
            "the schema changes inside this window (a rename combined " +
            "with adds/drops or rewrites whose identity thread is " +
            "broken) — read the feed in smaller windows split at the " +
            "schema-change commit (changesPerVersion gives per-commit " +
            "slices with exact identity)")
      }
    val fTypes = from0.schema.map(f => f.name -> f.dataType).toMap
    val tTypes = to0.schema.map(f => f.name -> f.dataType).toMap
    val conflicts = counterpart.filter { case (c, fc) =>
      fTypes(fc) != tTypes(c)
    }
    require(conflicts.isEmpty,
      s"changes($fromV,$toV) cannot reconcile type changes: " +
        conflicts.map { case (c, fc) =>
          s"$c (${fTypes(fc)} vs ${tTypes(c)})"
        }.mkString(", "))
    val from = from0.select(cols.map(c =>
      counterpart.get(c).map(fc => col(fc).as(c))
        .getOrElse(lit(null).cast(tTypes(c)).as(c))): _*)
    val to = to0
    require(keys.nonEmpty && keys.forall(k =>
        tTypes.contains(k) && counterpart.contains(k)),
      s"keys ${keys.mkString(",")} must be columns of BOTH versions")
    val vcols = cols.filterNot(keys.contains)
    // side-presence FLAGS, not key-nullness: a legitimately-NULL key
    // value would read as "absent" and misclassify its row (the same
    // reason Upsert.upsert carries __t_present/__s_present)
    val f = from.select((cols.map(c => col(c).as(s"__f_$c")) :+
      lit(true).as("__f_present")): _*)
    val t = to.select((cols.map(c => col(c).as(s"__t_$c")) :+
      lit(true).as("__t_present")): _*)
    val joinCond = keys.map(k => col(s"__f_$k") <=> col(s"__t_$k"))
      .reduce(_ && _)
    val isIns = col("__f_present").isNull
    val isDel = col("__t_present").isNull
    val unchanged = vcols.map(c => col(s"__f_$c") <=> col(s"__t_$c"))
      .foldLeft(lit(true))(_ && _)
    def img(side: String, kind: String) = struct(
      (cols.map(c => col(s"__${side}_$c").as(c)) :+
        lit(kind).as("_change_type")): _*)
    f.join(t, joinCond, "full_outer")
      .select(explode(
        when(isIns, array(img("t", "insert")))
          .when(isDel, array(img("f", "delete")))
          .when(!unchanged, array(img("f", "update_preimage"),
            img("t", "update_postimage")))).as("__c"))
      .select(col("__c.*"))
  }

  /** DELETE … WHERE as a committed version: the current version minus
    * the matching rows, full-rewrite (the simplest correct form — no
    * deletion vectors; at 100 TB you partition first so the rewrite
    * touches matching partitions, or adopt tombstones behind this same
    * commit protocol). Completes the DML triangle with [[merge]]
    * (MERGE/UPSERT) and [[updateWhere]]; [[changes]] across a delete
    * commit yields exact `delete` rows with the removed values — the
    * feed an incremental consumer retracts by. Returns the new
    * version. */
  def deleteWhere(spark: SparkSession, root: String,
      condition: org.apache.spark.sql.Column): Long = {
    val base = baseOf(spark, root, "delete from")
    // null-safe negation: a NULL predicate row is NOT matched by the
    // delete (SQL DELETE semantics), so it must be KEPT
    commitData(readDataDir(spark, root, base.dir)
      .filter(!org.apache.spark.sql.functions.coalesce(condition,
        org.apache.spark.sql.functions.lit(false))), root, base, "DELETE")
  }

  /** DELETE via DELETION VECTOR — merge-on-read (Delta's deletion
    * vectors / Iceberg v2 position deletes): the new version carries
    * the base version's files UNCHANGED (a `_files` manifest of the
    * same references — zero data bytes rewritten at any table size)
    * plus a `_dv` frame of the (file key, row index) positions now
    * deleted, CUMULATIVE over any prior vector. Readers apply the
    * O(deleted) vector through [[live]] (inside [[readDataDir]] — so
    * merges, feeds, DML and OPTIMIZE all see post-delete truth
    * automatically): a row-index filter inside the scan while the
    * vector is within [[dvLocalCarryCap]], one broadcast anti-join
    * past it, never a rewrite. A 100 TB DELETE costs one scan
    * to FIND the positions and O(deleted) metadata to commit, where
    * the copy-on-write [[deleteWhere]] costs a table rewrite. Any
    * rewriting commit ([[optimize]], the full-rewrite DML, a plain
    * MERGE) MATERIALIZES the deletions and drops the vector — Delta's
    * DV-compaction semantic for free. Stats/Bloom frames are carried:
    * deletion only shrinks per-file content, so min/max pruning stays
    * a sound superset. SQL NULL-predicate semantics (NULL = not
    * matched = kept). Returns the new version. */
  def deleteWhereDV(spark: SparkSession, root: String,
      condition: org.apache.spark.sql.Column): Long = {
    import org.apache.spark.sql.functions.{coalesce, lit}
    val base = baseOf(spark, root, "delete from")
    // one scan to FIND positions: current (post-prior-DV) rows
    // matching the predicate, keyed by (file key, row index). The
    // scan applies the prior vector ([[live]]) and is tagged with its
    // position columns before any join, so metadata-column lineage is
    // never in question; the predicate sinks below the tags, so only
    // matched rows derive a file key
    val tagged = positionTagged(
      ManifestTable.live(spark, root, base.dir,
        readRefsRaw(spark, root, base.dir, base.refs)))
    val cm = colmapOf(spark, root, base.dir)
    // LOGICAL view for the predicate when a column mapping is active
    val current = cm.fold(tagged)(
      toLogical(tagged, _, passthrough = Seq("__path", "__ri")))
    val fresh = positionsOf(current.filter(coalesce(condition, lit(false))))
    val dir = newDataDirName(base.next)
    commitFiles(spark, root, base, dir, base.refs, Nil, "DELETE",
      freshDv = Some(fresh))
  }

  /** UPDATE via DELETION VECTOR + APPEND — merge-on-read UPDATE
    * (Iceberg v2's position-delete-plus-append shape): matched rows'
    * positions join the cumulative `_dv` (their old images disappear)
    * and their POST-images land as a small appended file in the new
    * version's dir; every unmatched byte is carried by reference. At
    * 100 TB an UPDATE touching 0.01% of rows costs one find-positions
    * scan + an O(matched) write, never a rewrite ([[updateWhere]]'s
    * copy-on-write cost). Same single-projection semantics as
    * [[updateWhere]]: every SET right-hand side and the WHERE resolve
    * against the PRE-update row. CHECK constraints enforce on the
    * post-image (O(matched)).
    *
    * Committed skipping stats are EXTENDED, not dropped
    * ([[ZTable.extendStats]]): carried files keep their stats/Bloom
    * rows, appended post-image files get fresh rows computed by
    * reading them back — O(matched) extra, the merge-on-read grain —
    * so [[ZTable.scanXRange]]/[[ZTable.bloomCandidateFiles]] keep
    * pruning across MoR DML with no re-optimize (Snowflake stamps
    * micro-partition metadata on every write; Delta/Iceberg write
    * per-file stats in each commit). Returns the new version. */
  def updateWhereDV(spark: SparkSession, root: String,
      condition: org.apache.spark.sql.Column,
      set: Map[String, org.apache.spark.sql.Column]): Long = {
    import org.apache.spark.sql.functions.{coalesce, col, lit}
    val base = baseOf(spark, root, "update")
    val tagged = positionTagged(
      ManifestTable.live(spark, root, base.dir,
        readRefsRaw(spark, root, base.dir, base.refs)))
    val cm = colmapOf(spark, root, base.dir)
    // pending metadata-only ADD COLUMNs are PHYSICALLY BACKED in this
    // commit's appended post-images (a SET may even backfill them);
    // the version pins `_schema` so the mixed read cannot tear — see
    // [[mergeDV]]'s identical lifting of the round-12 refusal
    val (unbackedCols, cmBacked) = pendingAdds(cm)
    // LOGICAL view: WHERE, SET and checks all resolve logical names
    val current = cm.fold(tagged)(
      toLogical(tagged, _, passthrough = Seq("__path", "__ri")))
    val dataCols = current.columns.toIndexedSeq
      .filter(c => c != "__path" && c != "__ri")
    require(set.keySet.subsetOf(dataCols.toSet),
      s"unknown columns in SET: ${set.keySet -- dataCols}")
    val cond = coalesce(condition, lit(false)) // NULL = no match
    // filter THEN assign: WHERE and every SET RHS see pre-update rows
    val matched = current.filter(cond)
      .localCheckpoint() // positions and post-images must come from
    // ONE evaluation — a recompute between the two writes could
    // re-plan the scan and tear position from image
    // each SET value takes its column's type: an untyped `lit(null)`
    // would otherwise append a boolean column the next read can't merge
    val postImage = matched.select(dataCols.map { c =>
      set.get(c).map(_.cast(current.schema(c).dataType).as(c))
        .getOrElse(col(c))
    }: _*)
    Checks.enforce(spark, root, postImage, "update post-image")
    val dir = newDataDirName(base.next)
    // a PARTITIONED base gets partition-pure post-images (one value
    // per file BY CONSTRUCTION, even when the SET rewrites the
    // partition column itself), so a date-partitioned fact keeps
    // partition pruning through its daily MoR DML; a NULL partition
    // value fails loudly BEFORE the marker
    val (appended, freshParts) = writeDelta(spark, root, base, dir) {
      case Some(_) => postImage
      // appended files must share the carried files' PHYSICAL
      // schema; a freshly-backed column's physical name is its
      // logical name. Right-sized output (guide §6): the post-image
      // inherits the SCAN's partitioning — coalesce to the delta's
      // real (checkpoint-measured) size so a small update lands one
      // fragment file, not one per scan split
      case None => Compute.coalesceToDeltaSize(
        cmBacked.fold(postImage)(toPhysical(postImage, _)), matched)
    }
    val (colmap, schema) = backedMeta(unbackedCols, cmBacked, tagged.schema)
    commitFiles(spark, root, base, dir, base.refs, appended, "UPDATE",
      freshParts = freshParts, freshDv = Some(positionsOf(matched)),
      colmap = colmap, schema = schema)
  }

  /** MERGE via DELETION VECTOR + APPEND — merge-on-read MERGE, the
    * last O(table) write path made O(delta): matched target rows'
    * positions join the cumulative `_dv` (their old images disappear)
    * and the post-images — updated matched rows PLUS inserted
    * source-only rows, exactly [[Upsert.upsert]] restricted to the
    * matched slice — land as appended files; every unmatched target
    * byte is carried by reference. Identical result to [[merge]]
    * (same kernel, same NULL-keys-never-match equality, same
    * source-keys-unique contract), but a MERGE touching 0.01% of a
    * 100 TB table costs one find-positions scan + an O(delta) write
    * instead of a table rewrite. Same pinned-version OCC commit as
    * [[merge]]. CHECK constraints enforce on the source batch (the
    * [[merge]] inductive contract). Committed skipping stats are
    * EXTENDED across the commit ([[ZTable.extendStats]] — carried
    * rows ride, appended fragments get fresh read-back rows at
    * O(delta)), so the streaming MoR sink stays prunable between
    * optimizes. Returns the new version. */
  def mergeDV(spark: SparkSession, root: String, source: DataFrame,
      keys: Seq[String], updateCols: Option[Seq[String]] = None): Long =
    mergeDVImpl(spark, root, source, keys, updateCols, batchKey = "")

  /** [[mergeDV]] with a batch key — the merge-on-read form of
    * [[mergeBatch]]: EXACTLY-ONCE under micro-batch replay (a
    * committed key is a no-op), so a streaming `foreachBatch` sink
    * into a huge table pays O(batch) per commit instead of
    * [[mergeBatch]]'s O(table) version rewrite. Same batch-key
    * namespacing contract as [[mergeBatch]]. */
  def mergeBatchDV(spark: SparkSession, root: String,
      source: DataFrame, keys: Seq[String], batchKey: String,
      updateCols: Option[Seq[String]] = None,
      batchKeyRetention: Long = Long.MaxValue): Unit = {
    require(batchKey.nonEmpty, "mergeBatchDV requires a batch key")
    mergeDVImpl(spark, root, source, keys, updateCols, batchKey,
      batchKeyRetention)
    ()
  }

  /** [[mergeBatchDV]] with the rebase-retry loop — the multi-writer
    * merge-on-read streaming form: concurrent DV merges into one root
    * serialize via OCC (each attempt recomputes its positions and
    * post-images against the FRESH base version, so a loser never
    * hides a winner's rows behind a stale vector), each batch key
    * stays exactly-once via the normal replay check. */
  def mergeBatchDVWithRetry(spark: SparkSession, root: String,
      source: DataFrame, keys: Seq[String], batchKey: String,
      updateCols: Option[Seq[String]] = None,
      batchKeyRetention: Long = Long.MaxValue,
      maxAttempts: Int = 10): Unit =
    withRetry(maxAttempts)(mergeBatchDV(spark, root, source, keys,
      batchKey, updateCols, batchKeyRetention))

  private def mergeDVImpl(spark: SparkSession, root: String,
      source: DataFrame, keys: Seq[String],
      updateCols: Option[Seq[String]], batchKey: String,
      batchKeyRetention: Long = Long.MaxValue): Long = {
    import org.apache.spark.sql.functions.{broadcast, col}
    val base = snapshot(spark, root)
    if (batchKey.nonEmpty && base.applied(batchKey))
      return base.v // replayed batch: no-op
    val src = Generated(spark, root, source, "merge source")
    Checks.enforce(spark, root, src, "merge source")
    if (base.v == 0) // first commit: the source IS the table
      return commitData(src, root, base, "MERGE", batchKey,
        batchKeyRetention)
    val tagged = positionTagged(
      ManifestTable.live(spark, root, base.dir,
        readRefsRaw(spark, root, base.dir, base.refs)))
    val cm = colmapOf(spark, root, base.dir)
    // a metadata-only ADD COLUMN pending (unbacked mapping entries):
    // this commit PHYSICALLY BACKS the column in its appended
    // fragments — null-filled at the declared type unless the source
    // provides it — and pins the version's `_schema` so the mixed
    // read cannot tear (carried files stay untouched; readers
    // null-fill them via the explicit schema). Round-12's
    // "materialize first" refusal, lifted without the tear it
    // guarded against.
    val (unbackedCols, cmBacked) = pendingAdds(cm)
    // LOGICAL view: keys, source columns and the kernel all resolve
    // logical names when a column mapping is active
    val current = cm.fold(tagged)(
      toLogical(tagged, _, passthrough = Seq("__path", "__ri")))
    val dataCols = current.columns.toIndexedSeq
      .filter(c => c != "__path" && c != "__ri")
    require(keys.forall(dataCols.contains),
      s"merge keys must exist on the target: ${keys.mkString(", ")}")
    // a source that predates the ADD COLUMN null-fills it (the
    // streaming-sink story: the stream keeps running across the DDL)
    val srcProj = fillPending(src, unbackedCols).select(dataCols.map(col): _*)
    // positions (old images to hide) and matched pre-images come from
    // ONE evaluation — a recompute between the DV write and the
    // post-image write could re-plan the scan and tear them apart.
    // O(matched) rows, the merge-on-read price. EXPLICIT broadcast
    // hint on the batch's key set: an un-hinted join once degraded to
    // a sort-merge shuffle of the FULL table scan (43 s vs 3.6 s at
    // 100×, SCALE.md), measured when the localCheckpoint plan was
    // believed to compile outside AQE. On Spark 4.1.2 it compiles
    // under AQE (SCALE.md, "Lesson: `localCheckpoint()` trees do not
    // compile outside AQE"), so the hint is unmeasured there; a delta
    // too large to broadcast belongs on the copy-on-write [[merge]]
    // path anyway
    val matched = current
      .join(broadcast(srcProj.select(keys.map(col): _*).distinct()),
        keys, "left_semi")
      .localCheckpoint()
    // the upsert kernel on the MATCHED SLICE yields exactly the
    // append set: updated matched rows (both-sides branch) + inserted
    // source-only rows (insert branch); the unmatched-target branch
    // is empty by construction — those bytes ride `_files`
    val postImage =
      Upsert.upsert(matched.drop("__path", "__ri"), srcProj, keys,
        updateCols)
    val dir = newDataDirName(base.next)
    // a PARTITIONED base gets partition-pure fragments (see
    // [[updateWhereDV]]), so the reference's daily silver shape (MERGE
    // into a date-partitioned fact, `dags/logistics-airbyte-sql.py:25-49`)
    // keeps partition pruning at 100 TB between optimizes
    val (appended, freshParts) = writeDelta(spark, root, base, dir) {
      case Some(_) => postImage
      // physical names, right-sized: see [[updateWhereDV]]
      case None => Compute.coalesceToDeltaSize(
        cmBacked.fold(postImage)(toPhysical(postImage, _)), matched)
    }
    val (colmap, schema) = backedMeta(unbackedCols, cmBacked, tagged.schema)
    commitFiles(spark, root, base, dir, base.refs, appended, "MERGE",
      freshParts = freshParts, freshDv = Some(positionsOf(matched)),
      colmap = colmap, schema = schema, batchKey = batchKey,
      retention = batchKeyRetention)
  }

  /** REORG … APPLY (PURGE) — materialize the deletion vector by
    * rewriting ONLY the files that carry deleted positions (Delta's
    * `REORG TABLE … APPLY (PURGE)`): the dirty-file set comes from
    * one O(files) planning collect over the vector's distinct file
    * keys (the Delta manifest-metadata pattern — never O(rows)), the
    * rewrite reads and purges just those files, and every clean file
    * is carried by reference. The new version has NO `_dv`, so
    * readers stop paying the anti-join — content is IDENTICAL by
    * construction, and [[changes]] across the reorg is EMPTY
    * (spec-pinned), the dataChange-false semantic [[optimize]]
    * established. A vector-less current version is a no-op (returns
    * the current version, no new commit). Skipping stats are
    * EXTENDED ([[ZTable.extendStats]]): clean files keep their rows,
    * purged rewrites get fresh read-back rows — pruning survives the
    * purge. Returns the committed (or current) version. */
  def reorg(spark: SparkSession, root: String): Long = {
    val base = baseOf(spark, root, "reorg")
    val dvBytes = dvBytesOf(spark, root, base.dir)
    if (dvBytes == 0L) return base.v
    // O(files) distinct file keys of the vector — driver frame read
    // when planning-sized, one collect job past the cap
    val dirtyKeys =
      if (dvBytes <= dvLocalCarryCap.value)
        MetaIO.dvPositions(spark, s"$root/${base.dir}/_dv").keySet
          .map(_.toString)
      else dvOf(spark, root, base.dir).get.select("path").distinct()
        .collect().map(_.getString(0)).toSet
    val (dirty, clean) = base.refs.partition(r =>
      dirtyKeys.contains(fileKeyOf(r)))
    val dir = newDataDirName(base.next)
    // a PARTITIONED base keeps `_parts` through the purge: REORG on a
    // date-partitioned MoR fact must not cost its pruning
    val (appended, freshParts) =
      if (dirty.isEmpty) (Seq.empty[String], Seq.empty[(String, String)])
      else writeDelta(spark, root, base, dir)(_ =>
        ManifestTable.live(spark, root, base.dir,
          readRefsRaw(spark, root, base.dir, dirty)))
    // the clean files hold no vector rows, so the new version has no
    // `_dv`; `dvPurged` spares reading the vector to learn that
    commitFiles(spark, root, base, dir, clean, appended, "REORG",
      freshParts = freshParts, dvPurged = true)
  }

  /** RENAME COLUMN — metadata-only (Delta's column-mapping mode): the
    * new version carries the base's files AND deletion vector
    * verbatim; only the `_colmap` logical→physical mapping changes.
    * Zero data bytes rewritten at any table size. Readers see the new
    * logical name ([[readDataDir]] applies the mapping centrally);
    * writers keep using logical names — any full-rewrite commit
    * (MERGE, OPTIMIZE, copy-on-write DML) writes logical names
    * physically and MATERIALIZES the mapping away, while file-list
    * commits (DV DML, [[reorg]]) translate appended files back to
    * physical names so every file in a version shares one physical
    * schema. Committed skipping stats/Bloom are DROPPED (their dim
    * names are physical — stale names would prune wrongly);
    * re-establish with [[ZTable.optimizeZOrder]], which also
    * materializes the mapping. [[changes]] across a rename is EMPTY
    * (physically nothing moved — the diff aligns on physical
    * identity). Returns the new version. */
  def renameColumn(spark: SparkSession, root: String,
      oldName: String, newName: String): Long = {
    validateColName(newName)
    val cm0 = currentColmap(spark, root)
    require(cm0.exists(_._1 == oldName),
      s"no column $oldName at $root (has ${cm0.map(_._1)})")
    require(!cm0.exists(_._1 == newName),
      s"column $newName already exists at $root")
    commitMapping(spark, root,
      cm0.map { case (l, p) => (if (l == oldName) newName else l, p) },
      "RENAME COLUMN")
  }

  /** DROP COLUMN — metadata-only (the [[renameColumn]] machinery):
    * the column's physical data stays in the files, invisible behind
    * the mapping; the next full rewrite materializes the drop. A
    * registered CHECK or generated column referencing the dropped
    * name fails loudly at its next enforcement (analysis error), not
    * silently. Returns the new version. */
  def dropColumn(spark: SparkSession, root: String,
      name: String): Long = {
    val cm0 = currentColmap(spark, root)
    require(cm0.exists(_._1 == name),
      s"no column $name at $root (has ${cm0.map(_._1)})")
    require(cm0.size > 1, s"cannot drop the only column of $root")
    commitMapping(spark, root, cm0.filterNot(_._1 == name),
      "DROP COLUMN")
  }

  /** ADD COLUMN — metadata-only (the [[renameColumn]] machinery,
    * completing the ALTER TABLE triple): the new column exists only
    * as an UNBACKED mapping entry carrying its DDL type; readers
    * null-fill it at that type, zero bytes written at any table size.
    * Any full-rewrite commit (MERGE, OPTIMIZE, copy-on-write DML,
    * [[ZTable.optimizeZOrder]]) MATERIALIZES it into real columns.
    * Merge-on-read writers KEEP WORKING across the add (round-13,
    * lifting the round-12 "materialize first" refusal): the first
    * [[mergeDV]]/[[updateWhereDV]] physically backs the column in its
    * APPENDED fragments (null-filled at the declared type unless the
    * source/SET provides it), keeps carried files untouched, and pins
    * the version's `_schema` so the mixed read resolves exactly —
    * the tear the refusal guarded against is unrepresentable
    * ([[deleteWhereDV]] writes no data files and was always
    * available). The feed across the add is EMPTY (widening
    * null<=>null). Returns the new version. */
  def addColumn(spark: SparkSession, root: String, name: String,
      ddlType: String): Long = {
    validateColName(name)
    // validate the type EARLY — a bad DDL string must fail here, not
    // at first read
    org.apache.spark.sql.types.DataType.fromDDL(ddlType)
    val cm0 = currentColmap(spark, root)
    require(!cm0.exists(_._1 == name),
      s"column $name already exists at $root")
    // sentinel carries the logical name so the physical value is
    // UNIQUE per column (see [[Unbacked]])
    commitMapping(spark, root,
      cm0 :+ (name -> (Unbacked + name + Unbacked + ddlType)),
      "ADD COLUMN")
  }

  /** DESCRIBE COLUMNS — the current logical schema with its mapping
    * state: one row per logical column with its physical name (file
    * column, or the declared type for a metadata-only ADD) and
    * whether file bytes back it yet. O(metadata): one `_colmap` read
    * or one parquet footer. */
  def describeColumns(spark: SparkSession, root: String): DataFrame = {
    import spark.implicits._
    currentColmap(spark, root).map { case (l, p) =>
      if (isUnbacked(p)) (l, null: String, unbackedType(p), false)
      else (l, p, null: String, true)
    }.toDF("column", "physical_name", "pending_type", "backed")
  }

  /** The current version's logical→physical mapping — the committed
    * `_colmap`, or the identity mapping read from ONE parquet footer
    * (field order = logical order) when none exists. */
  private def currentColmap(spark: SparkSession,
      root: String): Seq[(String, String)] = {
    val cur = currentVersion(spark, root)
      .getOrElse(sys.error(s"no committed version at $root"))
    val dir = versionDataDir(spark, root, cur)
    colmapOf(spark, root, dir).getOrElse {
      val refs = refsOf(spark, root, dir)
      require(refs.nonEmpty, s"current version of $root has no data")
      // driver-side footer read — no inference job for a schema probe
      MetaIO.schemaOf(spark, new Path(resolveRef(root, refs.head)))
        .getOrElse(spark.read.parquet(resolveRef(root, refs.head)).schema)
        .map(f => f.name -> f.name)
    }
  }

  /** A metadata-only mapping commit: the files, their vector and the
    * pinned read schema ride unchanged; only `_colmap` is new. */
  private def commitMapping(spark: SparkSession, root: String,
      cm: Seq[(String, String)], op: String): Long = {
    val base = baseOf(spark, root, "alter")
    val dir = newDataDirName(base.next)
    commitFiles(spark, root, base, dir, base.refs, Nil, op,
      colmap = Some(cm))
  }

  /** UPDATE … SET … WHERE as a committed version: matching rows get
    * each assignment applied, others carried unchanged — ONE projection
    * over the current version, committed whole, so every SET
    * right-hand side AND the WHERE predicate resolve against the
    * PRE-update row (SQL UPDATE semantics: `SET a = b, b = a` swaps —
    * a sequential withColumn chain would let later assignments see
    * earlier ones' results, and the outcome would even depend on Map
    * iteration order). [[changes]] across it yields the exact
    * `update_preimage`/`update_postimage` pairs. Returns the new
    * version. */
  def updateWhere(spark: SparkSession, root: String,
      condition: org.apache.spark.sql.Column,
      set: Map[String, org.apache.spark.sql.Column]): Long = {
    import org.apache.spark.sql.functions.{coalesce, col, lit, when}
    val base = baseOf(spark, root, "update")
    val baseDf = readDataDir(spark, root, base.dir)
    require(set.keySet.subsetOf(baseDf.columns.toSet),
      s"unknown columns in SET: ${set.keySet -- baseDf.columns}")
    val cond = coalesce(condition, lit(false)) // NULL predicate = no match
    val result = baseDf.select(baseDf.columns.toIndexedSeq.map { c =>
      set.get(c) match {
        case Some(e) => when(cond, e).otherwise(col(c)).as(c)
        case None => col(c)
      }
    }: _*)
    // checks enforce on the POST-image of matched rows only (the
    // rows this UPDATE can newly break) — O(matched), not O(table).
    // Built from baseDf (filter THEN assign): filtering the already-
    // assigned projection would re-evaluate the WHERE against POST
    // values and miss rows whose SET changed their own predicate
    val matchedPost = baseDf.filter(cond)
      .select(baseDf.columns.toIndexedSeq.map { c =>
        set.get(c).map(_.as(c)).getOrElse(col(c))
      }: _*)
    Checks.enforce(spark, root, matchedPost, "update post-image")
    commitData(result, root, base, "UPDATE")
  }

  /** Per-COMMIT change feed: [[changes]] returns the NET diff between
    * two versions; this returns one diff per commit STEP, each row
    * tagged `_commit_version` (Delta CDF's column) — the ordered/audit
    * form a consumer needs when intermediate states matter (per-commit
    * triggers, compliance trails, replaying a sequence of MERGEs
    * elsewhere in order). A key touched by several commits appears
    * once per touching commit, where the net feed would collapse it.
    * Cost: (toV − fromV) single-join diffs — use [[changes]] when only
    * the end state matters. Composes with schema evolution the same
    * way (each step aligns its two versions; steps union by name with
    * null-fill for pre-evolve steps). */
  def changesPerVersion(spark: SparkSession, root: String, fromV: Long,
      toV: Long, keys: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions.lit
    require(toV > fromV, s"need toV > fromV, got $fromV -> $toV")
    (fromV until toV).map { v =>
      changes(spark, root, v, v + 1, keys)
        .withColumn("_commit_version", lit(v + 1))
    }.reduce(_.unionByName(_, allowMissingColumns = true))
  }

  /** RESTORE: make version `v`'s content the CURRENT version again —
    * committed as a NEW version (history preserved; an accidental DML
    * stays auditable and the feed across the restore is exactly its
    * inverse — Delta's `RESTORE TABLE … VERSION AS OF` semantics).
    * O(metadata): the new version is a `_files` manifest REFERENCING
    * version `v`'s data files — zero data bytes copied, at any table
    * size. Version `v`'s metadata frames (`_dv`, `_parts`,
    * `_stats`/`_bloom`, the column mapping) ride verbatim
    * ([[commitFiles]]), so its deletions, partition pruning and data
    * skipping survive the restore. [[vacuum]]'s reference-awareness
    * keeps the referenced dirs alive while this version is retained.
    * Fails loudly if `v` was vacuumed. Returns the new version. */
  def restore(spark: SparkSession, root: String, v: Long): Long = {
    val cur = baseOf(spark, root, "restore")
    require(v <= cur.v,
      s"version $v of $root does not exist (current ${cur.v})")
    val src = cur.at(v) // throws if vacuumed
    val dir = newDataDirName(src.next)
    commitFiles(spark, root, src, dir, src.refs, Nil, "RESTORE")
  }

  /** SHALLOW CLONE (Delta's `CREATE TABLE … SHALLOW CLONE src`): make
    * `cloneRoot` a NEW table whose v1 references the SOURCE's current
    * data files by absolute path — zero data bytes copied at any table
    * size, O(source files) metadata. From then on the histories are
    * fully independent: merges/DML on the clone write under the
    * clone's root (a scoped DML rewrites only intersecting files and
    * carries the still-external rest forward by reference); the source
    * never sees clone commits and vice versa. Committed skipping
    * stats/Bloom and partition (`_parts`) frames are carried
    * (file-metadata-sized re-write with paths absolutized), so
    * [[ZTable.scanXRange]], scoped DML and every [[PartitionedTable]]
    * op work on the clone immediately.
    *
    * HAZARD (same as Delta's): the clone BORROWS the source's files —
    * the source's [[vacuum]] does not know about clones, so vacuuming
    * the source past the cloned version breaks every clone version
    * that still references it (reads fail LOUDLY with the missing
    * path; nothing silent). Deep-copy the clone (e.g. [[optimize]] on
    * the clone rewrites it fully local) before vacuuming the source,
    * or keep the source's retention above the clone's lifetime. */
  def cloneShallow(spark: SparkSession, sourceRoot: String,
      cloneRoot: String): Long = {
    val dst = snapshot(spark, cloneRoot)
    require(dst.v == 0, s"clone target $cloneRoot already has commits")
    val src = latest(spark, sourceRoot)
      .getOrElse(sys.error(s"nothing to clone at $sourceRoot"))
    val srcDir = src.dir
    val srcFs = fsOf(spark, sourceRoot)
    // absolutize: relative entries are relative to the SOURCE root;
    // a clone of a clone keeps already-absolute refs verbatim
    val files = src.refs.map(e => resolveRef(sourceRoot, e))
    val fs = fsOf(spark, cloneRoot)
    val dir = newDataDirName(dst.next)
    Seq("_stats", "_bloom", "_parts").foreach { frame =>
      val from = new Path(s"$sourceRoot/$srcDir/$frame")
      if (srcFs.exists(from)) {
        // tiny file-metadata frames; `path` entries become absolute so
        // the clone's planner resolves them without knowing the
        // source. O(files) planning metadata → rewrite on the DRIVER
        // (the Spark read+write paid an action + AQE round per frame);
        // Spark fallback for an unreadable legacy shape.
        val to = s"$cloneRoot/$dir/$frame"
        def absolutize(p: String): String =
          if (p == null) p else resolveRef(sourceRoot, p)
        MetaIO.schemaOf(spark, from).filter(MetaIO.frameWritable)
          .flatMap(s =>
            MetaIO.frameRowsAs(spark, from.toString, s).map((s, _)))
          match {
          case Some((schema, rows)) =>
            val pi = schema.fieldIndex("path")
            MetaIO.writeFrame(spark, to, schema, rows.map { r =>
              val vals = r.toSeq.toArray
              vals(pi) = absolutize(r.getString(pi))
              new org.apache.spark.sql.catalyst.expressions
                .GenericRowWithSchema(vals, schema)
            })
          case None =>
            import org.apache.spark.sql.functions.{col, concat, lit, when}
            MetaIO.readParquet(spark, from.toString)
              .withColumn("path",
                when(col("path").startsWith("/") ||
                     col("path").contains("://"), col("path"))
                  .otherwise(concat(lit(s"$sourceRoot/"), col("path"))))
              .coalesce(1).write.parquet(to)
        }
      }
    }
    // the registers keep their geometry: without `_GEOM` the clone
    // would probe scaled registers at the legacy fixed size and miss
    // keys the source finds
    ZTable.geomOf(spark, sourceRoot, srcDir).foreach(
      ZTable.writeGeom(fs, cloneRoot, dir, _))
    // the deletion vector rides VERBATIM: its `path` column is the
    // dir/file key, which an absolute external ref still ends in
    val dvSrc = new Path(s"$sourceRoot/$srcDir/_dv")
    if (srcFs.exists(dvSrc)) // verbatim carry: file-grain driver copy
      ZTable.copyFrame(srcFs, dvSrc.toString, s"$cloneRoot/$dir/_dv",
        fDst = fs)
    // the clone inherits the source's logical schema mapping (and
    // its pinned physical read schema, when mixed-backed)
    colmapOf(spark, sourceRoot, srcDir).foreach(cmS =>
      writeColmap(spark, cloneRoot, dir, cmS))
    schemaOf(spark, sourceRoot, srcDir).foreach(st =>
      writeSchemaFile(spark, cloneRoot, dir, st))
    writeFileList(fs, cloneRoot, dir, files)
    publish(spark, cloneRoot, dst, dir, "CLONE")
  }

  /** DEEP CLONE: materialize the source's current version as the
    * clone's own v1 — one full copy scan+write, after which the clone
    * holds no external references (the escape hatch from
    * [[cloneShallow]]'s source-vacuum hazard; Delta's deep clone /
    * "un-shallow before vacuuming the source" guidance). Also valid
    * ON a shallow clone root that already advanced: since
    * `cloneRoot` must be fresh, deep-copy an existing shallow clone
    * by [[optimize]] instead (a full local rewrite). */
  def cloneDeep(spark: SparkSession, sourceRoot: String,
      cloneRoot: String): Long = {
    val dst = snapshot(spark, cloneRoot)
    require(dst.v == 0, s"clone target $cloneRoot already has commits")
    val df = read(spark, sourceRoot)
      .getOrElse(sys.error(s"nothing to clone at $sourceRoot"))
    commitData(df, cloneRoot, dst, "CLONE")
  }

  /** CONVERT an existing plain-parquet directory into a manifest
    * table IN PLACE (Delta's `CONVERT TO DELTA`): v1 is a `_files`
    * manifest referencing the directory's current parquet files —
    * O(files) metadata, zero data bytes moved or rewritten, at any
    * table size (converting a 100 TB landing dir must not cost a
    * 100 TB rewrite). `dataDir` is relative to `root` (the usual
    * layout: `<root>/raw` holds the legacy files, commits go to
    * `<root>/_commits`). From v1 on, the full surface applies —
    * MERGE, DML, time travel, CDF, CLONE.
    *
    * Contract: the legacy files become TABLE-OWNED — stop writing
    * into `dataDir` after the convert (a late file would be invisible
    * to v1 and silently absent from every version; Delta's convert
    * has the same freeze requirement). [[vacuum]] protects the dir
    * while any retained version references it, but never DELETES
    * conversion-source files (they are user-placed; orphan collection
    * only touches `d<N>-*` commit-attempt dirs). */
  def convertInPlace(spark: SparkSession, root: String,
      dataDir: String): Long = {
    val dst = snapshot(spark, root)
    require(dst.v == 0, s"$root already has commits")
    require(!dataDir.startsWith("/") && !dataDir.contains("://"),
      s"dataDir must be relative to the table root: $dataDir")
    val fs = fsOf(spark, root)
    val p = new Path(root, dataDir)
    require(fs.exists(p), s"no directory $dataDir under $root")
    val files = dataFilesIn(fs, root, dataDir)
    require(files.nonEmpty, s"$root/$dataDir has no data files")
    val dir = newDataDirName(dst.next)
    writeFileList(fs, root, dir, files)
    publish(spark, root, dst, dir, "CONVERT")
  }

  /** DESCRIBE HISTORY: one row per committed version, oldest first —
    * version, the operation that produced it ([[writeOpMeta]]; null
    * for pre-metadata or vacuumed versions), the batch key it carried
    * (exactly-once replay identity), whether it is a file-list
    * version (DML/RESTORE/CLONE — carries files by reference), and
    * whether its data is still retained (false after [[vacuum]];
    * commit RECORDS are never dropped, so the row remains). AUDIT
    * GRAIN: O(versions) driver-side metadata probes — version
    * resolution rides the compact file, retained/op probes are one
    * `exists`/small-read per version, never a data scan. */
  def history(spark: SparkSession, root: String): DataFrame = {
    val (live, compacted) = commitState(spark, root)
    val markers = namesOf(live, compacted)
    require(markers.nonEmpty, s"no commits at $root")
    val fs = fsOf(spark, root)
    val rows = winnersByVersion(markers).toSeq.sortBy(_._1).map {
      case (v, m) =>
        val content = contentOf(spark, root, m, live, compacted)
        val dir = dirPart(content)
        val key = keyPart(m, content).orNull
        val retained = fs.exists(new Path(root, dir))
        val meta = if (retained) readOpMeta(fs, root, dir) else None
        val isFileList =
          retained && fs.exists(new Path(new Path(root, dir), "_files"))
        (v, meta.map(_._1).orNull, key, isFileList, retained,
          meta.flatMap(_._2))
    }
    spark.createDataFrame(rows).toDF(
      "version", "operation", "batch_key", "is_filelist",
      "data_retained", "commit_ts")
  }

  /** `TIMESTAMP AS OF`: the version that was CURRENT at `tsMillis` —
    * the max version whose recorded commit time is <= the bound
    * (Delta resolves against log-file timestamps the same way).
    * Commit times live in `_op` version payload, so they survive
    * marker compaction; versions whose data was vacuumed (or predates
    * op metadata) carry no timestamp and are skipped — they could not
    * be read anyway. Fails loudly when every retained commit is newer
    * than the bound. */
  def versionAsOf(spark: SparkSession, root: String,
      tsMillis: Long): Long = {
    // history() is driver-local rows — the filter/max runs in Scala
    // (the old filter+agg+collect paid a Spark job on a LocalRelation)
    val rows = history(spark, root).collect()
    val ti = rows.head.fieldIndex("commit_ts")
    val vi = rows.head.fieldIndex("version")
    val vs = rows.iterator
      .filter(r => !r.isNullAt(ti) && r.getLong(ti) <= tsMillis)
      .map(_.getLong(vi)).toSeq
    require(vs.nonEmpty,
      s"no retained version of $root committed at or before $tsMillis")
    vs.max
  }

  /** Time travel by wall clock: [[readVersion]] of [[versionAsOf]]. */
  def readAsOf(spark: SparkSession, root: String,
      tsMillis: Long): DataFrame =
    readVersion(spark, root, versionAsOf(spark, root, tsMillis))

  /** OPTIMIZE: rewrite the CURRENT version's data as `targetFiles`
    * right-sized files and commit the rewrite as a new version — the
    * small-file compaction every long-lived streaming sink needs (a
    * per-batch MERGE writes a full new version whose file count tracks
    * shuffle parallelism, and a scan's cost floor is its file count:
    * footer reads + task scheduling). The rewrite is LOGICALLY a
    * no-op — Delta's `dataChange = false` — and the spec pins exactly
    * that: `changes(v, v+1)` across an optimize commit is EMPTY, so
    * incremental consumers skip it for free (zero change rows to
    * apply) while time travel and replay keys are untouched. Readers
    * of the pre-optimize version keep reading it (immutable dirs);
    * [[vacuum]] reclaims it on the normal retention schedule. */
  def optimize(spark: SparkSession, root: String,
      targetFiles: Int = 1): Long = {
    require(targetFiles >= 1, "targetFiles must be >= 1")
    val base = baseOf(spark, root, "optimize")
    commitData(readDataDir(spark, root, base.dir).repartition(targetFiles),
      root, base, "OPTIMIZE")
  }

  /** Incremental OPTIMIZE — bin-pack ONLY the small files (Delta's
    * actual OPTIMIZE semantic: files under `minFileBytes` compact,
    * everything else is untouched): the small set comes from one
    * O(files) metadata listing, the rewrite reads just those files
    * (with their deletion-vector rows applied — their slice of the
    * vector materializes), every large file is carried by REFERENCE
    * with its surviving vector rows intact. dataChange-false: content
    * identical, [[changes]] across it EMPTY (spec-pinned). After a
    * thousand streaming [[mergeBatchDV]] commits each appending a
    * small post-image file, one binPack folds the accumulated
    * fragments at O(fragments) cost — the full [[optimize]] rewrite
    * is never needed just for file-count hygiene. No-op (returns the
    * current version, no commit) when fewer than two small files
    * exist. Committed skipping stats are EXTENDED
    * ([[ZTable.extendStats]]): carried large files keep their rows,
    * compacted output files get fresh read-back rows (exact — their
    * vector slice materialized in the rewrite; not z-clustered, so
    * ranges may be wide but stay sound). Returns the committed (or
    * current) version. */
  def optimizeBinPack(spark: SparkSession, root: String,
      minFileBytes: Long = 32L * 1024 * 1024,
      targetFiles: Int = 1): Long = {
    require(targetFiles >= 1, "targetFiles must be >= 1")
    val base = baseOf(spark, root, "optimize")
    val fs = fsOf(spark, root)
    // O(files) metadata listing — the planning grain
    val (small, large) = base.refs.partition(r =>
      fs.getFileStatus(new Path(resolveRef(root, r))).getLen
        < minFileBytes)
    if (small.size < 2) return base.v
    // rewrite the small files RAW (physical names preserved — the
    // carried large files keep theirs, one mixed read must not tear);
    // their vector slice materializes in the rewrite
    val rewritten = ManifestTable.live(spark, root, base.dir,
      readRefsRaw(spark, root, base.dir, small))
    val dir = newDataDirName(base.next)
    // a PARTITIONED base keeps its `_parts` through the fold: rows
    // repartition BY the partition column so a partition's fragments
    // fold into one file, not targetFiles × partitions slivers — the
    // weekly file-count hygiene of a date-partitioned streaming MoR
    // fact must not cost its pruning
    val (appended, freshParts) = writeDelta(spark, root, base, dir) {
      case Some(pcol) => rewritten.repartition(targetFiles,
        org.apache.spark.sql.functions.col(pcol))
      case None => rewritten.repartition(targetFiles)
    }
    commitFiles(spark, root, base, dir, large, appended, "OPTIMIZE",
      freshParts = freshParts)
  }

  /** Drop the DATA of all versions older than the newest `keepLast`
    * (never the current version; never any commit RECORD — time-travel
    * reads of vacuumed versions fail loudly and [[batchApplied]] stays
    * exact). Reader contract: count-based retention — any reader that
    * resolved one of the newest `keepLast` versions before the vacuum
    * still reads it safely afterward; readers holding older versions
    * must re-resolve (the Delta retention-window semantic, with
    * commits as the clock). REFERENCE-AWARE: an old version's dir
    * survives as long as any retained file-list version (scoped DML —
    * [[ZTable]]) still references files inside it.
    *
    * `dropOrphans`: also delete data directories referenced by NO
    * marker — debris from crashed commit attempts. An IN-FLIGHT
    * commit's directory is unreferenced until its marker lands, so
    * orphan collection only touches directories OLDER than
    * `orphanAgeFloorMs`. Age is derived from the NEWEST FILE inside
    * the directory (falling back to the directory's own mtime only
    * when it is empty): directory mtimes are synthetic on object
    * stores (often 0 — every dir would look ancient and an in-flight
    * commit's staging data could be collected out from under its
    * about-to-land marker), whereas the newest inner file's mtime is
    * a real write timestamp on any store — a live writer's staging
    * dir always contains a file younger than the floor. This makes
    * the pass safe with concurrent writers by construction on stores
    * with trustworthy FILE mtimes and sane clocks (spec-pinned: a
    * fresh unreferenced dir survives, a stale one is collected) — the
    * Delta VACUUM tombstone-age semantic. CAVEAT: under severe clock
    * skew between the vacuuming host and the store, or on a store
    * without reliable file mtimes, do not run `dropOrphans = true`
    * concurrently with writers. Keep the floor comfortably above the
    * longest plausible data-write (default 10 min; a 100 TB MERGE's
    * version write can run long — size the floor to the job, not the
    * default). */
  def vacuum(spark: SparkSession, root: String, keepLast: Int,
      dropOrphans: Boolean = false,
      orphanAgeFloorMs: Long = 10 * 60 * 1000L): Unit = {
    val fs = fsOf(spark, root)
    vacuumPlan(spark, root, keepLast, dropOrphans, orphanAgeFloorMs)
      .foreach(d => fs.delete(new Path(root, d), true))
  }

  /** Time-based retention — Delta's `VACUUM … RETAIN n HOURS` form on
    * commit wall-clock: keep every version committed at or after
    * `cutoffMillis` (always at least the current version), vacuum the
    * rest. The cutoff maps to a version count through the in-band
    * `_op` commit timestamps ([[history]] — O(versions) metadata) and
    * delegates to the count-based [[vacuum]], so reference-awareness
    * and the orphan rules apply unchanged. A version with no recorded
    * timestamp (pre-`_op` legacy commits) counts as OLD. */
  def vacuumOlderThan(spark: SparkSession, root: String,
      cutoffMillis: Long, dropOrphans: Boolean = false,
      orphanAgeFloorMs: Long = 10 * 60 * 1000L): Unit = {
    import org.apache.spark.sql.functions.col
    if (currentVersion(spark, root).isEmpty) return
    val keep = history(spark, root)
      .filter(col("commit_ts").isNotNull &&
        col("commit_ts") >= cutoffMillis)
      .count().toInt
    vacuum(spark, root, math.max(1, keep), dropOrphans,
      orphanAgeFloorMs)
  }

  /** RESTORE … TO TIMESTAMP AS OF — [[restore]] of [[versionAsOf]]'s
    * resolution: the table's content as of the wall-clock instant
    * becomes the current version again, O(metadata), by reference.
    * Returns the new version. */
  def restoreAsOf(spark: SparkSession, root: String,
      tsMillis: Long): Long =
    restore(spark, root, versionAsOf(spark, root, tsMillis))

  /** DRY RUN: the directory names (relative to `root`) that [[vacuum]]
    * with the same arguments would delete, deleting nothing — the
    * audit form an operator runs before reclaiming a 100 TB table's
    * history. Deterministic against one commit-state snapshot (a
    * concurrent commit between plan and a later vacuum can only ADD
    * retained versions, never un-retain one, so acting on a stale
    * plan is safe: the plan is a subset of what a fresh vacuum would
    * reclaim). */
  def vacuumPlan(spark: SparkSession, root: String, keepLast: Int,
      dropOrphans: Boolean = false,
      orphanAgeFloorMs: Long = 10 * 60 * 1000L): Seq[String] = {
    require(keepLast >= 1, "must keep at least the current version")
    val fs = fsOf(spark, root)
    val doomed = scala.collection.mutable.ListBuffer.empty[String]
    // ONE commit-state snapshot for the whole pass: per-marker
    // re-listing would cost O(markers) listStatus RPCs — exactly the
    // listing growth compaction exists to bound
    val (live, compacted) = commitState(spark, root)
    val markers = namesOf(live, compacted)
    if (markers.nonEmpty) {
      val cur = markers.map(versionOf).max
      val cutoff = cur - keepLast + 1
      // dirs a RETAINED version still needs: its own, plus — for
      // file-list versions (scoped DML) — every dir its `_files`
      // manifest reaches into. A scoped DELETE carries untouched
      // files forward BY REFERENCE into older version dirs, so
      // dropping an old version's dir while a retained version still
      // references files inside it would corrupt the live table.
      // Coarse by design: one referenced file keeps the whole dir
      // (dirs are the vacuum grain; the space cost is bounded by the
      // pre-DML version the references came from).
      // external refs (a shallow clone's pointers into its SOURCE
      // root) are not under this root — this vacuum can neither
      // protect nor collect them; the SOURCE's vacuum governs their
      // lifetime (the Delta shallow-clone hazard, documented on
      // [[cloneShallow]])
      def dirsNeededBy(dir: String): Set[String] =
        try fileList(spark, root, dir)
          .map(_.filterNot(isExternalRef)
            .map(_.takeWhile(_ != '/')).toSet + dir)
          .getOrElse(Set(dir))
        catch { // already-vacuumed dir: nothing to protect
          case _: java.io.FileNotFoundException => Set(dir)
        }
      val needed = markers.filter(versionOf(_) >= cutoff)
        .flatMap(m => dirsNeededBy(dirOf(spark, root, m, live, compacted)))
        .toSet
      markers.filter(versionOf(_) < cutoff).foreach { m =>
        val d = dirOf(spark, root, m, live, compacted)
        if (!needed.contains(d) && fs.exists(new Path(root, d)))
          doomed += d
      }
      if (dropOrphans) {
        val referenced = markers
          .flatMap(m =>
            dirsNeededBy(dirOf(spark, root, m, live, compacted)))
          .toSet
        val floor = System.currentTimeMillis() - orphanAgeFloorMs
        // newest inner-file mtime — the real write clock; dir mtimes
        // are synthetic (often 0) on object stores (see scaladoc)
        def newestWriteMs(st: org.apache.hadoop.fs.FileStatus): Long =
          try {
            var newest = -1L
            val it = fs.listFiles(st.getPath, true)
            while (it.hasNext) {
              val f = it.next()
              if (f.getModificationTime > newest)
                newest = f.getModificationTime
            }
            if (newest >= 0) newest else st.getModificationTime
          } catch { // dir vanished mid-scan (racing vacuum): skip it
            case _: java.io.FileNotFoundException => Long.MaxValue
          }
        fs.listStatus(new Path(root))
          .filter { st =>
            val n = st.getPath.getName
            n.matches("(d\\d+-.+|v\\d+)") && !referenced.contains(n) &&
              newestWriteMs(st) < floor
          }
          .foreach(st => doomed += st.getPath.getName)
      }
    }
    doomed.distinct.toSeq
  }

  /** DESCRIBE DETAIL: one metadata row for the CURRENT version —
    * version number, retained-version count, the current version's
    * file count and total bytes (O(files) metadata, never a data
    * scan), whether it is a file-list version, whether committed
    * skipping stats / Bloom registers ride it, and the registered
    * CHECK / generated-column counts. */
  def detail(spark: SparkSession, root: String): DataFrame = {
    val fs = fsOf(spark, root)
    val (live, compacted) = commitState(spark, root)
    val markers = namesOf(live, compacted)
    require(markers.nonEmpty, s"no commits at $root")
    val cur = markers.map(versionOf).max
    val retained = winnersByVersion(markers).toSeq.count { case (_, m) =>
      fs.exists(new Path(root, dirOf(spark, root, m, live, compacted)))
    }
    val dir = dirOf(spark, root,
      winnersByVersion(markers)(cur), live, compacted)
    val refs = fileList(spark, root, dir)
    val paths = refs.getOrElse(dataFilesIn(fs, root, dir))
    val bytes = paths.map { r =>
      try fs.getFileStatus(new Path(resolveRef(root, r))).getLen
      catch { case _: java.io.FileNotFoundException => 0L }
    }.sum
    val rows = Seq((cur, retained.toLong, paths.size.toLong, bytes,
      refs.isDefined,
      fs.exists(new Path(s"$root/$dir/_stats")),
      fs.exists(new Path(s"$root/$dir/_bloom")),
      fs.exists(new Path(s"$root/$dir/_dv")),
      Checks.checks(spark, root).size.toLong,
      Generated.generated(spark, root).size.toLong,
      fs.exists(new Path(s"$root/$dir/_colmap"))))
    spark.createDataFrame(rows).toDF("version", "n_versions_retained",
      "n_files", "size_bytes", "is_filelist", "has_stats", "has_bloom",
      "has_dv", "n_checks", "n_generated", "has_colmap")
  }
}
