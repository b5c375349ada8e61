package perfbench

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit}

import graft.ops.{ManifestTable => MT, ZTable}

/** Merge-on-read DML on an ageing table, with a read after every write.
  *
  * Set-up commits the generated orders slice and z-orders it with a
  * Bloom column (the q240 shape). Each op merges one seeded CDC batch
  * (mergeBatchDV), updates one seeded key range (updateWhereDV) and
  * deletes another (deleteWhereDV), every `BinPackEvery` ops compacts
  * (optimizeBinPack), and then reads: a pruned range read (scanXRange)
  * and a Bloom point probe (bloomCandidateFiles). A run measures whole
  * compaction cycles, and its gated figures cover the first `Cycles`
  * of them: the medians are taken over ops and calls of that fixed
  * mix, and the amplification and table shape after its last op, so
  * none of them depends on how many ops a run completes.
  *
  * Checks (untimed): the final read equals a driver-side model that
  * replays the executed ops as copy-on-write, countVersion equals the
  * row count, and a pruned scan and the Bloom candidates of a live key
  * return what a filter over the full read returns. */
object MorDml extends Workload {
  val BinPackEvery = 1
  val Cycles = 2
  /** One table for the warm-up, one for the measured loop. */
  val FixtureReps = 2
  /** binPack compacts the DML fragments and carries the z-ordered
    * base files, which are larger than this. */
  val SmallFileBytes = 128L * 1024

  type Rec = (Long, Long, String, Double, String)

  def run(c: Ctx): Unit = {
    val spark = c.spark
    val t = c.tracer
    val mor = s"${c.data}/mor"
    val base = spark.read.parquet(s"$mor/base.parquet")
    val root = c.fixture(FixtureReps) { r =>
      val root = s"${c.work}/mor_t$r"
      MT.commit(base.coalesce(1), root)
      ZTable.optimizeZOrder(spark, root, "o_orderkey", "o_custkey",
        "o_orderkey", nFiles = 8, bloomCol = Some("o_key_s"))
      root
    }
    val ops = Json.readOps(s"$mor/ops.json")
    // warm-up on an earlier fixture table: every DML call, a compaction
    // and both reads once
    c.warmup {
      val w = s"${c.work}/mor_t0"
      val op = ops.head
      merge(c, w, op, "w")
      update(c, w, op)
      delete(c, w, op)
      MT.optimizeBinPack(spark, w, minFileBytes = SmallFileBytes)
      consume(scan(c, w, op))
      ZTable.bloomCandidateFiles(spark, w, lit(op("probe")))
    }
    val bytes0 = Host.dirBytes(root)
    var sourceBytes = 0L
    var executed = 0

    def commit[T](name: String)(body: => T): T = {
      val before = if (t.enabled) Host.dirBytes(root) else 0L
      val r = c.measured("commit")(t.span(s"ops.ManifestTable.$name")(body))
      val rec = t.last
      c.afterOp += (() => rec.foreach(_.extra("out_bytes") =
        (Host.dirBytes(root) - before).toDouble))
      r
    }

    val window = BinPackEvery * Cycles
    c.loop(ops.size, granule = BinPackEvery, window = window) { i =>
      val op = ops(i)
      sourceBytes += java.nio.file.Files.size(
        java.nio.file.Paths.get(s"$mor/${op("batch")}"))
      commit("mergeBatchDV")(merge(c, root, op, s"b$i"))
      commit("updateWhereDV")(update(c, root, op))
      commit("deleteWhereDV")(delete(c, root, op))
      executed = i + 1
      if (executed % BinPackEvery == 0)
        commit("optimizeBinPack")(MT.optimizeBinPack(spark, root,
          minFileBytes = SmallFileBytes))
      c.measured("fresh_read") {
        val scanned = t.span("ops.ZTable.scanXRange") {
          val df = scan(c, root, op)
          consume(df)
          df
        }
        val scanRec = t.last
        val cands = t.span("ops.ZTable.bloomCandidateFiles")(
          ZTable.bloomCandidateFiles(spark, root, lit(op("probe"))))
        val probeRec = t.last
        if (t.enabled) c.afterOp += { () =>
          val live = liveFiles(c, root).toDouble
          scanRec.foreach(_.extra("files_frac") = scanned.inputFiles.length / live)
          probeRec.foreach(_.extra("files_frac") = cands.size / live)
        }
      }
      if (executed == window) c.afterOp += (() => shape(c, root, bytes0, sourceBytes))
    }
    c.counters("ops_executed") = executed.toDouble

    val finalDf = MT.read(spark, root).get
    checks(c, root, base, ops.take(executed), finalDf,
      MT.currentVersion(spark, root).get)
  }

  /** Amplification and table shape: bytes added under the table root
    * per CDC byte, bytes of the live version per byte of its rows as
    * plain parquet, live files and rows hidden by deletion vectors. */
  private def shape(c: Ctx, root: String, bytes0: Long, sourceBytes: Long): Unit = {
    c.counters("write_amp") =
      (Host.dirBytes(root) - bytes0).toDouble / sourceBytes.max(1L)
    val plainDir = s"${c.work}/mor_plain"
    MT.read(c.spark, root).get.coalesce(1).write.mode("overwrite").parquet(plainDir)
    c.counters("space_amp") =
      liveBytes(c, root).toDouble / Host.dirBytes(plainDir)
    val v = MT.currentVersion(c.spark, root).get
    c.counters("ops.ManifestTable.live_files") = liveFiles(c, root).toDouble
    c.counters("ops.ManifestTable.dv_rows") =
      (footerRows(c, root) - MT.countVersion(c.spark, root, v)).toDouble
  }

  private def merge(c: Ctx, root: String, op: Map[String, String],
      batchKey: String): Unit =
    MT.mergeBatchDV(c.spark, root,
      c.spark.read.parquet(s"${c.data}/mor/${op("batch")}"), Seq("o_orderkey"),
      batchKey = batchKey)

  /** The op's key range `name` as [lo, hi). */
  private def keys(op: Map[String, String], name: String) =
    op(s"${name}_lo").toLong until op(s"${name}_hi").toLong

  private def range(op: Map[String, String], name: String) =
    col("o_orderkey").between(keys(op, name).head, keys(op, name).last)

  private def update(c: Ctx, root: String, op: Map[String, String]): Long =
    MT.updateWhereDV(c.spark, root, range(op, "update"),
      Map("o_totalprice" -> (col("o_totalprice") + 1.5)))

  private def delete(c: Ctx, root: String, op: Map[String, String]): Long =
    MT.deleteWhereDV(c.spark, root, range(op, "delete"))

  /** Runs the frame's physical plan to completion; every output column
    * is produced by the plan's final projection. */
  private def consume(df: DataFrame): Unit = {
    val qe = df.queryExecution
    org.apache.spark.sql.execution.SQLExecution.withNewExecutionId(qe) {
      qe.toRdd.foreach(_ => ())
    }
  }

  private def scan(c: Ctx, root: String, op: Map[String, String]) =
    ZTable.scanXRange(c.spark, root, keys(op, "read").head, keys(op, "read").last)

  private def refs(c: Ctx, root: String): Seq[String] = {
    val v = MT.currentVersion(c.spark, root).get
    MT.versionFileRefs(c.spark, root, v).getOrElse {
      val d = dataDir(root, v)
      new java.io.File(s"$root/$d").list().toSeq
        .filterNot(n => n.startsWith("_") || n.startsWith("."))
        .map(n => s"$d/$n")
    }
  }

  private def liveFiles(c: Ctx, root: String): Int = refs(c, root).size

  private def dataDir(root: String, v: Long): String =
    new java.io.File(root).list().filter(_.startsWith(s"d$v-")).head

  /** The current version's data files plus its metadata (DV, stats,
    * Bloom, file list). */
  private def liveBytes(c: Ctx, root: String): Long = {
    val v = MT.currentVersion(c.spark, root).get
    val dir = new java.io.File(s"$root/${dataDir(root, v)}")
    val meta = dir.listFiles().filter(_.getName.startsWith("_"))
      .map(f => Host.dirBytes(f.getPath)).sum
    refs(c, root).map(r => new java.io.File(s"$root/$r").length).sum + meta
  }

  private def footerRows(c: Ctx, root: String): Long = {
    import scala.jdk.CollectionConverters._
    val conf = c.spark.sparkContext.hadoopConfiguration
    refs(c, root).map { r =>
      org.apache.parquet.hadoop.ParquetFileReader.readFooter(conf,
        new org.apache.hadoop.fs.Path(s"$root/$r"),
        org.apache.parquet.format.converter.ParquetMetadataConverter
          .NO_FILTER).getBlocks.asScala.map(_.getRowCount).sum
    }.sum
  }

  private def rows(df: DataFrame): Map[Long, Rec] =
    df.select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
      "o_key_s").collect().map(r => r.getLong(0) -> ((r.getLong(0),
      r.getLong(1), r.getString(2), r.getDouble(3), r.getString(4)))).toMap

  private def checks(c: Ctx, root: String, base: DataFrame,
      done: Seq[Map[String, String]], finalDf: DataFrame, v: Long): Unit = {
    val spark = c.spark
    // the model: the same ops, replayed as copy-on-write on the driver
    val model = mutable.HashMap[Long, Rec]() ++= rows(base)
    done.foreach { op =>
      model ++= rows(spark.read.parquet(s"${c.data}/mor/${op("batch")}"))
      for (k <- keys(op, "update"); r <- model.get(k))
        model(k) = r.copy(_4 = r._4 + 1.5)
      keys(op, "delete").foreach(model.remove)
    }
    if (c.corrupt) model.headOption.foreach { case (k, r) =>
      model(k) = r.copy(_4 = r._4 + 1.0) }
    val table = rows(finalDf)
    val diff = (table.keySet ++ model.keySet).filter(k => table.get(k) != model.get(k))
    c.check("mor.model_rows", diff.isEmpty,
      s"${diff.size} keys differ, e.g. ${diff.take(3).map(k =>
        s"$k: table ${table.get(k)} model ${model.get(k)}").mkString("; ")}")
    val counted = MT.countVersion(spark, root, v)
    c.check("mor.count_version", counted == table.size,
      s"countVersion $counted read ${table.size}")

    // a pruned read and a Bloom probe return what a filter over the
    // full read returns
    val liveKeys = table.keys.toIndexedSeq.sorted
    val rng = new java.util.Random(c.args("seed").toLong)
    val lo = liveKeys(rng.nextInt(liveKeys.size))
    val scanned = rows(ZTable.scanXRange(spark, root, lo, lo + 3000))
    c.check("mor.scan_range", scanned == table.filter { case (k, _) =>
      k >= lo && k <= lo + 3000 }, s"[$lo,${lo + 3000}] pruned read differs")
    val k = liveKeys(rng.nextInt(liveKeys.size))
    val probed = rows(ZTable.readBloomCandidates(spark, root, lit(k.toString))
      .filter(col("o_key_s") === k.toString))
    c.check("mor.bloom_probe", probed == Map(k -> table(k)),
      s"key $k: Bloom candidates give $probed")
  }
}
