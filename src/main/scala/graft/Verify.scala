package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Extra args after (sfDir, outDir) restrict the run to the named
  * queries — builder-side iteration shortcut (check_oracle.py only
  * reads oracle_sql.json, which is filtered the same way), the driver
  * always calls the 2-arg form. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    val only = args.drop(2).toSet
    require(only.isEmpty || only.subsetOf(SparkEntry.queries.keySet),
      s"unknown query names: ${(only -- SparkEntry.queries.keySet).mkString(", ")}")
    def selected(name: String): Boolean = only.isEmpty || only(name)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.getOrCreate(
      GraftSession.builder("graft-verify", Some(s"local[$cpus]"))
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.ui.enabled", "false"))
    new java.io.File(outDir).mkdirs()
    // run queries concurrently from the driver (separate output dirs,
    // Spark schedules the jobs in parallel) — halves driver wall-time
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    // canonical per-query value hash (round-6 VERDICT ask #1a): columns
    // sorted by lowercased name, every value rendered through one string
    // canon (null sentinel distinct from the string "null"), one md5 per
    // DISTINCT row combined with its multiplicity, reduced by XOR —
    // order-independent, so no sort and no driver-side collect; computed
    // on the SAME persisted df the parquet dump writes. Committed as VERIFYHASH.json each round so a driver-
    // side CORRECTNESS snapshot can be bisected against the local run:
    // same hash ⇒ the driver's Spark side saw the same values and any
    // red row is on the oracle/comparator side.
    val hashes = new java.util.concurrent.ConcurrentHashMap[String, String]()
    val jobs = SparkEntry.queries.toSeq.filter(kv => selected(kv._1))
      .map { case (name, fn) =>
      Future {
        try {
          val df = fn(spark, sfDir)
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          try hashes.put(name, Verify.canonHash(df))
          catch { case e: Throwable =>
            System.err.println(s"[verify] $name hash failed: ${e.getMessage}")
          }
          // coalesce(1) only for small results (one tidy file); a big
          // result funnelled through coalesce(1) appends a single-task
          // write to the whole sorted plan — for q51's millions of rows
          // that was a multi-second harness artifact, not query cost.
          // The driver's comparator sorts rows, so multi-file parallel
          // output compares identically. limit+count early-exits the
          // size probe for big results.
          try {
            val big = df.limit(100001).count() > 100000
            (if (big) df else df.coalesce(1))
              .write.mode("overwrite").parquet(s"$outDir/$name")
          } finally df.unpersist() // even on failure: don't starve the
          // other concurrently-running queries of storage memory
        } catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        }
      }
    }
    Await.result(Future.sequence(jobs), Duration.Inf)
    pool.shutdown()
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql.filter(kv => selected(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // hash format "rowcount:xor-of-row-md5-prefixes" — see canonHash
    import scala.jdk.CollectionConverters._
    val vh = hashes.asScala.toSeq.sortBy(_._1)
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/VERIFYHASH.json"), vh)
    spark.stop()
  }

  /** Canonical order-independent value digest of a result set —
    * columns sorted by lowercased name, each value rendered through
    * one string canon (null sentinel distinct from the string
    * "null"), one md5 per DISTINCT row combined with its COUNT, XOR
    * over the distinct digests. Order-independent (no sort, no
    * driver-side collect of data) and thread-count-invariant, and —
    * unlike a plain XOR of per-row hashes, whose identical-row pairs
    * cancel to 0 — sensitive to duplicate-row multiplicity
    * (round-7 ADVICE). sum of the counts recovers the row count.
    * Format: "rowcount:xor-hex". Spec-pinned by `VerifyHashSpec`. */
  def canonHash(df: org.apache.spark.sql.DataFrame): String = {
    import org.apache.spark.sql.functions._
    val cols = df.columns.sortBy(_.toLowerCase)
      .map(c => coalesce(col(c).cast("string"), lit("\u0000")))
    val row = md5(concat_ws("\u0001", cols: _*))
    val hc = substring(md5(concat_ws(":", col("h"), col("c"))), 1, 15)
    val agg = df.select(row.as("h"))
      .groupBy(col("h")).agg(count(lit(1)).cast("string").as("c"))
      .select(col("c").cast("long").as("n"),
        conv(hc, 16, 10).cast("long").as("x")) // 60 bits: sign-safe
      .agg(coalesce(sum(col("n")), lit(0L)).as("n"),
        coalesce(bit_xor(col("x")), lit(0L)).as("x"))
      .head()
    s"${agg.getLong(0)}:${java.lang.Long.toHexString(agg.getLong(1))}"
  }
}
