// Endurance probe for the merge-on-read streaming sink shape
// (round-12 VERDICT ask #8): a LONG-HORIZON runMorMergeSink run —
// hundreds of real micro-batches through the actual sink, with its
// in-line binPack tick — against a 100×-scale base table. The claims
// under test (PLANS.md): per-batch wall stays FLAT as the run ages
// (the cumulative vector and version count must not creep into batch
// cost) and the live file count stays BOUNDED (the binPack tick folds
// fragments as fast as batches append them). Run:
//   SPARK_GRAFT_SF_DIR=target/scale100 \
//     sbt -batch "runMain graft.tools.MorEndurance 200 2000 20"
// args: nBatches rowsPerBatch binPackEvery
package graft.tools

import org.apache.spark.sql.functions._

object MorEndurance {
  def main(args: Array[String]): Unit = {
    val nBatches = args.headOption.map(_.toInt).getOrElse(200)
    val rowsPerBatch = args.drop(1).headOption.map(_.toInt).getOrElse(2000)
    val binPackEvery = args.drop(2).headOption.map(_.toInt).getOrElse(20)
    val spark = graft.GraftSession.getOrCreate("graft-morendurance")
    import graft.ops.ManifestTable
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "target/scale100")
    val base = java.nio.file.Files
      .createTempDirectory("graft_morend_").toString
    val root = s"$base/tbl"; val ckpt = s"$base/ckpt"
    val orders = graft.Tables(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"),
        col("o_orderstatus"), col("o_totalprice"))
    val maxKey = orders.agg(max(col("o_orderkey"))).head.getLong(0)
    // base version: right-sized files (untimed setup, O(n))
    val t0 = System.nanoTime()
    ManifestTable.commit(orders.repartition(8), root)
    println(f"PROBE setup_commit            ${(System.nanoTime - t0) / 1e9}%8.3f s" +
      f"  (rows=${orders.count()}, maxKey=$maxKey)")
    // the stream: rate-micro-batch gives a FIXED per-batch row count;
    // each batch is ~80% updates of REAL base keys (mapped through a
    // small broadcast keymap — the orderkey space is sparse, so raw
    // synthetic keys would all be inserts and the vector would never
    // grow) + ~20% inserts past the key space — the CDC shape
    val nKeys = 200000
    val keymapPath = s"$base/keymap"
    orders.select(col("o_orderkey"))
      .orderBy(col("o_orderkey")).limit(nKeys)
      .withColumn("idx",
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(col("o_orderkey"))).cast("long") - 1L)
      .coalesce(1).write.parquet(keymapPath)
    val keymap = spark.read.parquet(keymapPath)
    val src = spark.readStream.format("rate-micro-batch")
      .option("rowsPerBatch", rowsPerBatch.toString)
      .load()
      .select(col("value"),
        ((col("value") * 2654435761L) % nKeys).as("idx"))
      .join(broadcast(keymap), Seq("idx"))
      .select(
        when(col("value") % 10 < 8, col("o_orderkey"))
          .otherwise(col("value") + maxKey + 1L).as("o_orderkey"),
        (col("value") % 100000L).as("o_custkey"),
        lit("U").as("o_orderstatus"),
        (col("value") % 9973L).cast("double").as("o_totalprice"))
    // per-batch wall from the engine's own progress events
    val durations = new java.util.concurrent.ConcurrentHashMap[Long, Long]()
    spark.streams.addListener(
      new org.apache.spark.sql.streaming.StreamingQueryListener {
        override def onQueryStarted(e: org.apache.spark.sql.streaming
          .StreamingQueryListener.QueryStartedEvent): Unit = ()
        override def onQueryTerminated(e: org.apache.spark.sql.streaming
          .StreamingQueryListener.QueryTerminatedEvent): Unit = ()
        override def onQueryProgress(e: org.apache.spark.sql.streaming
          .StreamingQueryListener.QueryProgressEvent): Unit =
          if (e.progress.numInputRows > 0)
            durations.put(e.progress.batchId,
              e.progress.batchDuration)
      })
    val q = graft.streaming.TransactionalStream.runMorMergeSink(
      src, root, Seq("o_orderkey"), ckpt,
      dedupOrder = Some(Seq(col("o_custkey"))),
      binPackEvery = binPackEvery,
      binPackMinFileBytes = 16L * 1024 * 1024)
    val window = 20
    var reported = 0
    while (durations.size() < nBatches && q.isActive) {
      Thread.sleep(500)
      // window report as the run ages: mean batch wall + live files
      val done = durations.size()
      if (done / window > reported && done >= window) {
        reported = done / window
        val cur = ManifestTable.currentVersion(spark, root).get
        val files = ManifestTable.versionFileRefs(spark, root, cur)
          .map(_.size)
          .getOrElse(1) // pre-first-merge: the base dir
        val lo = (reported - 1) * window; val hi = reported * window
        val w = (lo until hi).flatMap(i =>
          Option(durations.get(i.toLong)))
        println(f"PROBE batches[$lo%3d,$hi%3d)  mean=" +
          f"${w.sum.toDouble / math.max(1, w.size) / 1000.0}%7.3f s" +
          f"  live_files=$files%4d  version=$cur")
      }
    }
    q.stop()
    val all = (0 until nBatches).flatMap(i =>
      Option(durations.get(i.toLong)).map(_.toDouble / 1000.0))
    val firstQ = all.take(nBatches / 4)
    val lastQ = all.takeRight(nBatches / 4)
    println(f"PROBE first_quarter_mean      ${firstQ.sum / firstQ.size}%8.3f s")
    println(f"PROBE last_quarter_mean       ${lastQ.sum / lastQ.size}%8.3f s")
    println(f"PROBE flatness_ratio          " +
      f"${(lastQ.sum / lastQ.size) / (firstQ.sum / firstQ.size)}%8.3f")
    val cur = ManifestTable.currentVersion(spark, root).get
    println(s"PROBE final_version           $cur")
    println(s"PROBE final_live_files        " +
      ManifestTable.versionFileRefs(spark, root, cur)
        .map(_.size).getOrElse(1))
    spark.stop()
  }
}
