package perfbench

import scala.collection.mutable

import org.apache.spark.sql.functions.col

import graft.pipelines.{CorpusPipeline => CP}

/** Incremental LLM-corpus curation. Each op is one generated document
  * batch: qualityFilter, then exact-dedup ingest against the seen
  * table (ingestNew), then near-dup ingest against the LSH bucket
  * state (ingestNewNearDup). Both states grow with every batch. The
  * gated figures cover the first `Window` batches; state bytes per
  * admitted doc are taken after them.
  *
  * Checks (untimed): the exact admissions equal dedupExact over the
  * whole filtered stream; no two finally admitted docs share a band
  * key; every doc the near-dup stage suppressed is linked by shared
  * band keys to an admitted doc. */
object CorpusIngest extends Workload {
  /** Batches the gated figures cover: each batch meets a larger state,
    * so a fixed count keeps them independent of run speed. */
  val Window = 4
  val N = 3
  val K = 16
  val BandRows = 4

  def run(c: Ctx): Unit = {
    val spark = c.spark
    val t = c.tracer
    val dir = new java.io.File(s"${c.data}/corpus")
    def files(prefix: String) = dir.list().filter(_.startsWith(prefix)).sorted
      .map(f => s"$dir/$f").toIndexedSeq
    val batches = files("batch_")
    val seen = s"${c.work}/seen"
    val buckets = s"${c.work}/buckets"
    val exactIds = mutable.ArrayBuffer[Long]()
    val nearIds = mutable.ArrayBuffer[Long]()
    var docsIn = 0L

    // input sizes from the parquet footers, outside the timed loop
    val sizes = batches.map(b => graft.ops.MetaIO.footerRowCount(spark, b))

    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id").collect().map(_.getLong(0))

    // warm-up: the small warm-up batches through both stages, into a
    // state of their own
    c.warmup {
      files("warmup_").zipWithIndex.foreach { case (f, i) =>
        val e = CP.ingestNew(spark, CP.qualityFilter(spark.read.parquet(f)),
          s"${c.work}/warm_seen", s"w$i")
        ids(CP.ingestNewNearDup(spark, e, s"${c.work}/warm_buckets", s"w$i",
          n = N, k = K, bandRows = BandRows))
        graft.CacheTracker.releaseAll()
      }
    }

    def stateBytesPerDoc() =
      (Host.dirBytes(seen) + Host.dirBytes(buckets)).toDouble /
        math.max(1, nearIds.size)

    c.loop(batches.size, window = Window) { i =>
      val docs = spark.read.parquet(batches(i))
      // each stage's admitted ids are collected inside its span: the
      // consumer reads what the stage admitted
      val (exact, exactNow) = t.span("pipelines.CorpusPipeline.ingestNew") {
        val e = CP.ingestNew(spark, CP.qualityFilter(docs), seen, s"b$i")
        (e, ids(e))
      }
      val exactRec = t.last
      val near = t.span("pipelines.CorpusPipeline.ingestNewNearDup")(
        ids(CP.ingestNewNearDup(spark, exact, buckets, s"b$i", n = N, k = K,
          bandRows = BandRows)))
      val nearRec = t.last
      graft.CacheTracker.releaseAll()
      docsIn += sizes(i)
      exactIds ++= exactNow
      nearIds ++= near
      c.afterOp += { () =>
        exactRec.foreach(_.extra("admit_frac") =
          exactNow.length.toDouble / sizes(i))
        nearRec.foreach(_.extra("admit_frac") =
          near.length.toDouble / math.max(1, exactNow.length))
        if (i == Window - 1) c.counters("state_bytes_per_doc") = stateBytesPerDoc()
      }
    }
    c.counters("docs_per_s") = docsIn / c.measureS
    checks(c, batches.take(c.attempted), exactIds.toSet, nearIds.toSet)
  }

  private def checks(c: Ctx, done: Seq[String], exactIds: Set[Long],
      nearIds: Set[Long]): Unit = {
    val spark = c.spark
    val stream = spark.read.parquet(done: _*)
    val want = CP.dedupExact(CP.qualityFilter(stream))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val got = if (c.corrupt) exactIds + -1L else exactIds
    c.check("corpus.exact_equals_dedupExact", got == want,
      s"admitted ${got.size} dedupExact ${want.size} " +
        s"only-admitted ${(got -- want).take(5)} only-dedup ${(want -- got).take(5)}")

    // band keys of every exact-admitted doc, computed afresh
    val admittedDocs = stream.filter(col("doc_id").isin(exactIds.toSeq: _*))
    val bands = graft.ops.Dedup.bandKeys(
      graft.ops.Dedup.minhashSignatures(admittedDocs, "doc_id", "text", N, K),
      "doc_id", K, BandRows)
      .select("doc_id", "band", "band_key").collect()
      .map(r => (r.getLong(0), (r.getInt(1), r.getString(2))))
    val byKey = bands.groupBy(_._2).view.mapValues(_.map(_._1).distinct).toMap
    val shared = byKey.values.count(ids => ids.count(nearIds) > 1)
    c.check("corpus.admitted_band_keys_unique", shared == 0,
      s"$shared band keys shared by admitted docs")

    // every suppressed doc reaches an admitted doc over shared band keys
    val parent = mutable.HashMap[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    byKey.values.foreach(ids => ids.tail.foreach(i => parent(find(i)) = find(ids.head)))
    val rootsWithAdmitted = nearIds.map(find)
    val suppressed = exactIds -- nearIds
    val orphans = suppressed.filterNot(d => rootsWithAdmitted(find(d)))
    c.check("corpus.suppressed_collide", orphans.isEmpty,
      s"${orphans.size} suppressed docs share no band with an admitted doc: " +
        orphans.take(5).mkString(","))
    c.counters("suppressed") = suppressed.size.toDouble
  }
}
