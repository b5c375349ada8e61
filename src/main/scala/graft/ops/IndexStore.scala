package graft.ops

import org.apache.spark.sql.SparkSession

import ProductQuantizer.IvfPqIndex

/** Durable, versioned IVF-PQ indexes — the missing half of the
  * materialize-once serving story. [[ProductQuantizer.ivfPqIndexShared]]
  * keeps the trained index alive for one session; a production vector
  * store trains rarely, SAVES the artifact, and serves it from disk
  * across processes and retrains. This store writes the index's three
  * frames (coarse cells, residual-PQ codebooks, encoded inverted
  * lists) under ONE atomic commit using [[ManifestTable]]'s marker
  * protocol — a multi-table payload on the same torn-state-free
  * contract:
  *
  * {{{
  *   root/_commits/v<N>           — marker (atomic rename, content =
  *                                  data dir), ManifestTable's layout
  *   root/d<N>-<token>/coarse/    — kc cell centroids
  *   root/d<N>-<token>/cents/     — m·k codebook rows
  *   root/d<N>-<token>/codes/     — n·m inverted-list rows
  *   root/d<N>-<token>/_op        — operation + commit time, as every
  *                                  version ([[ManifestTable.history]])
  * }}}
  *
  * A crash after any subset of the three writes leaves the marker
  * absent and the previous index version live — readers can never see
  * a half-written index (the [[ManifestTableSpec]] torn-commit
  * argument, unchanged by the wider payload, since the marker is
  * still the single commit point). Versions are time-travelable:
  * yesterday's index keeps serving while today's retrain commits,
  * and a rollback is `loadVersion(v-1)`. [[ManifestTable.vacuum]],
  * [[ManifestTable.compact]] and [[ManifestTable.history]] work on
  * these roots unchanged (they manage markers and whole data dirs,
  * agnostic to what's inside).
  *
  * 100-TB shape: the artifact is index-sized, not corpus-sized —
  * coarse is kc rows, codebooks m·k rows, codes n·m SMALL rows (two
  * ints + a code per subvector). Serving reads exactly one version's
  * directories; searches are the same probes + broadcast-LUT +
  * inverted-list equi-join as the in-memory path, scanning parquet
  * instead of checkpoint blocks. */
object IndexStore {

  /** Commit `idx` as the next version of the index at `root`; returns
    * the committed version. Atomic per the protocol above; concurrent
    * committers of the same version conflict loudly (the losing
    * attempt's staging dir is deleted). */
  def save(idx: IvfPqIndex, root: String): Long = {
    val spark = idx.coarse.sparkSession
    val src = ManifestTable.snapshot(spark, root)
    val dir = ManifestTable.newDataDirName(src.next) // the shared convention
    idx.coarse.write.parquet(s"$root/$dir/coarse")
    idx.cents.write.parquet(s"$root/$dir/cents")
    idx.codes.write.parquet(s"$root/$dir/codes")
    ManifestTable.publish(spark, root, src, dir, "WRITE")
  }

  /** Load the current committed index; None if never committed. */
  def load(spark: SparkSession, root: String): Option[IvfPqIndex] =
    ManifestTable.currentVersion(spark, root)
      .map(v => loadVersion(spark, root, v))

  /** Time travel: load a specific committed index version. The frames
    * read straight from the version's immutable parquet — no
    * checkpointing needed; [[ProductQuantizer.ivfPqSearchIndexed]] /
    * [[ProductQuantizer.ivfPqRefineIndexed]] accept them as-is. */
  def loadVersion(spark: SparkSession, root: String, v: Long)
      : IvfPqIndex = {
    val dir = ManifestTable.versionDataDir(spark, root, v)
    IvfPqIndex(
      MetaIO.readParquet(spark, s"$root/$dir/coarse"),
      MetaIO.readParquet(spark, s"$root/$dir/cents"),
      MetaIO.readParquet(spark, s"$root/$dir/codes"))
  }
}
