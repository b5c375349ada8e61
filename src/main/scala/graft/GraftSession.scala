package graft

import org.apache.spark.sql.SparkSession

/** Opinionated SparkSession factory encoding the engine's scale
  * posture (builder brief + SURVEY §4):
  *  - AQE on (runtime coalesce, skew-join split, broadcast demotion);
  *  - shuffle partitions sized for the local harness via env, with
  *    `spark.sql.adaptive.coalescePartitions` making the exact number
  *    non-critical — on a 1000-executor cluster, set it ≈ 2–3× total
  *    cores and let AQE coalesce;
  *  - UTC session TZ (the reference pins NTZ semantics, SURVEY §1.2);
  *  - parquet pushdown/pruning on (defaults, pinned explicitly so a
  *    misconfigured base conf can't silently disable them).
  *
  * It is the engine's only session factory: Bench, Verify, the tools
  * and the test suite all start from [[builder]] and add their few
  * real differences (test master, warehouse dir, no UI) as
  * `.config(..)`, so the session that is measured and tested is the
  * one that ships.
  */
object GraftSession {
  def builder(appName: String = "graft",
      master: Option[String] = None): SparkSession.Builder = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString)
    val b = SparkSession.builder()
      .appName(appName)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.filterPushdown", "true")
      // local FS without the per-file chmod fork (see
      // [[graft.ops.FastLocalFileSystem]]); non-local stores unaffected
      .config("spark.hadoop.fs.file.impl",
        classOf[graft.ops.FastLocalFileSystem].getName)
      // backward compat: lets a TIMESTAMP(NANOS) events file (older
      // driver testdata) read as raw INT64; Tables rewrites it to
      // micros only when the resolved type is LongType
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.ui.explainMode", "formatted")
      .withExtensions(new graft.expressions.GraftExtensions)
    master.orElse(sys.env.get("SPARK_GRAFT_MASTER").orElse(
      Some(s"local[$cpus]"))).foreach(b.master)
    b
  }

  /** Silence WindowExec's "No Partition Defined" warning. Every
    * unpartitioned window in the engine is a DECLARED bounded domain
    * (k-row rank attaches, #buckets prefix sums, q160's
    * whole-relation ntile — each bound documented in SCALE.md), so
    * the warning is pure noise in bench/test logs. It can't be
    * silenced at the plan level: Spark 4's EliminateWindowPartitions
    * rule folds literal partition keys (`partitionBy(lit(0))`) back
    * to an empty spec. The real guard against a data-sized global
    * window regressing in is structural —
    * PlanRegressionSpec's unpartitioned-window sweep pins the
    * declared set exactly — so dropping the log line loses nothing. */
  private def quietBoundedWindowWarnings(): Unit =
    try {
      org.apache.logging.log4j.core.config.Configurator.setLevel(
        "org.apache.spark.sql.execution.window.WindowExec",
        org.apache.logging.log4j.Level.ERROR)
      // a plain read of a ZTable version dir warns "All paths were
      // ignored" for each underscore-prefixed metadata subdir
      // (_stats/_bloom) it correctly skips — by-design noise
      org.apache.logging.log4j.core.config.Configurator.setLevel(
        "org.apache.spark.sql.execution.datasources.DataSource",
        org.apache.logging.log4j.Level.ERROR)
    } catch { case _: Throwable => () } // non-log4j2: keep the noise

  def getOrCreate(appName: String = "graft"): SparkSession =
    getOrCreate(builder(appName))

  /** Build the session of a [[builder]] the caller has adjusted with
    * its own `.config(..)` — or reuse the live session of this JVM AS
    * IT STANDS — then apply the finishing steps every engine session
    * shares. Spark's own `Builder.getOrCreate` would apply the
    * builder's runtime confs to a reused session, silently resetting
    * e.g. its `spark.sql.shuffle.partitions` to this host's core
    * count; a reused session keeps its conf. */
  def getOrCreate(b: SparkSession.Builder): SparkSession = {
    val s = SparkSession.getActiveSession
      .orElse(SparkSession.getDefaultSession)
      .filterNot(_.sparkContext.isStopped)
      .getOrElse(b.getOrCreate())
    s.sparkContext.setLogLevel("WARN")
    quietBoundedWindowWarnings()
    registerFunctions(s)
    // getOrCreate may have reused a pre-existing session whose builder
    // never saw the extensions — retrofit the native expressions then
    graft.expressions.GraftExtensions.register(s)
    s
  }

  /** SQL-surface registration of the engine's custom aggregates (the
    * native expressions register via GraftExtensions):
    *  - `kmv_distinct(h)` — deterministic KMV cardinality sketch over
    *    pre-hashed values;
    *  - `bottomk_sample(h, v)` — deterministic bottom-k uniform sample
    *    of values (sorted array out), the bounded-memory quantile
    *    path. */
  private def registerFunctions(s: SparkSession): Unit = {
    s.udf.register("kmv_distinct",
      org.apache.spark.sql.functions.udaf(graft.functions.KmvSketch(64)))
    s.udf.register("bottomk_sample",
      org.apache.spark.sql.functions.udaf(graft.functions.BottomKSample(64)))
  }
}
