package graft.ops

import org.apache.spark.sql.Dataset

/** Parallelism repair for CPU-bound narrow transforms.
  *
  * A Spark scan's task count follows the INPUT's byte layout (file
  * splits), which is the right default when cost ∝ bytes. Operators
  * whose per-row cost dwarfs their input bytes — shingling, hashing,
  * signature building, image decode — inherit that layout too, so a
  * small-but-expensive input (one parquet file of short documents)
  * runs its whole CPU burn in ONE task while the rest of the executor
  * sits idle. At 100 TB the scan arrives in thousands of splits and
  * this never triggers; it is precisely the "small input, expensive
  * transform" corner (a rescored sample, a benchmark set, a
  * micro-batch) where the fix matters.
  */
object Compute {

  /** Widen `df` to the session's default parallelism IF it is
    * narrower; already-parallel inputs pass through untouched (never
    * add a shuffle to a plan that is already wide). The explicit
    * numPartitions repartition is deliberately AQE-proof: AQE does
    * not re-coalesce user-specified repartitions, so the downstream
    * per-row work genuinely fans out even though the exchanged bytes
    * are tiny. */
  def spread[T](ds: Dataset[T]): Dataset[T] = {
    val target = ds.sparkSession.sparkContext.defaultParallelism
    if (ds.rdd.getNumPartitions >= target) ds
    else ds.repartition(target)
  }

  /** Materialized byte size of a `localCheckpoint()`ed frame — read
    * from the block manager's storage info for the checkpoint RDD
    * (the blocks exist by definition). None when the plan isn't a
    * checkpoint or the info isn't available. */
  def checkpointBytes(df: org.apache.spark.sql.DataFrame): Option[Long] =
    try {
      df.queryExecution.optimizedPlan match {
        case r: org.apache.spark.sql.execution.LogicalRDD =>
          df.sparkSession.sparkContext.getRDDStorageInfo
            .find(_.id == r.rdd.id)
            .map(i => i.memSize + i.diskSize)
        case _ => None
      }
    } catch { case _: Throwable => None }

  /** Right-size an O(delta) append derived from a checkpointed frame
    * (guide §6 — sensible output file sizing): a MoR post-image
    * inherits the SCAN's partitioning, so a 200-row update landed as
    * 10 near-empty fragment files, each taxing every later scan,
    * stats row and footer read. Coalesce (no shuffle — partitions
    * merge map-side) to ceil(materialized checkpoint bytes /
    * advisory partition size): a small delta folds to one file, a
    * TB-scale delta keeps ~advisory-sized output at full parallelism.
    * In-memory rows overestimate parquet bytes, so the file count
    * errs high (never a giant single file). Unknown size = unchanged
    * behaviour. */
  def coalesceToDeltaSize(out: org.apache.spark.sql.DataFrame,
      ckpt: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    checkpointBytes(ckpt) match {
      case Some(b) =>
        val adv = out.sparkSession.sessionState.conf.getConf(
          org.apache.spark.sql.internal.SQLConf
            .ADVISORY_PARTITION_SIZE_IN_BYTES)
        if (adv <= 0) out
        else {
          // NOTE: never probe out.rdd.getNumPartitions here — .rdd on
          // an AQE plan materializes its query stages (an extra
          // execution per commit, measured). coalesce(n) with n ≥ the
          // actual partition count is already a no-op.
          val n = math.max(1L, (b + adv - 1) / adv).toInt
          out.coalesce(n)
        }
      case None => out
    }

  /** Lexicographic string compare by Unicode CODE POINT — identical to
    * UTF-8 binary order, which is what Spark's `min`/`orderBy` and the
    * DuckDB oracle use. Java's natural `String` ordering compares
    * UTF-16 code units instead, which sorts supplementary-plane code
    * points (surrogate pairs, units 0xD800–0xDFFF) BELOW U+E000–U+FFFF
    * — the two orders diverge exactly when a BMP-private-use/CJK-ext
    * symbol ties against an emoji. Every driver-local fast path that
    * must reproduce a distributed/oracle ordering decision (BPE merge
    * tie-break, union-find min-id root) compares through this. */
  def codePointCompare(a: String, b: String): Int = {
    var i = 0
    var j = 0
    while (i < a.length && j < b.length) {
      val ca = a.codePointAt(i)
      val cb = b.codePointAt(j)
      if (ca != cb) return Integer.compare(ca, cb)
      i += Character.charCount(ca)
      j += Character.charCount(cb)
    }
    Integer.compare(a.length - i, b.length - j)
  }

  /** [[codePointCompare]] as an `Ordering` for use in `minBy`/`sorted`. */
  val codePointOrdering: Ordering[String] =
    (x: String, y: String) => codePointCompare(x, y)
}
