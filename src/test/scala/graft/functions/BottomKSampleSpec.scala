package graft.functions

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Bottom-k sample sketch properties: merge-invariance under any
  * partitioning (the mergeability that makes map-side partials
  * correct), exact passthrough below k, and quantile sanity against
  * the exact distribution. */
class BottomKSampleSpec extends SparkSpec {
  import spark.implicits._

  test("sample is partitioning-invariant; below k it is the whole group") {
    val bk = udaf(BottomKSample(64))
    val rows = spark.range(2000)
      .select($"id",
        TextFunctions.hash60($"id".cast("string"), 13).as("hv"),
        ($"id" % 997).cast("double").as("v"))
    val s1 = rows.agg(bk($"hv", $"v")).as[Seq[Double]].head()
    val s11 = rows.repartition(11).agg(bk($"hv", $"v")).as[Seq[Double]].head()
    assert(s1 == s11, "any partitioning must yield the identical sample")
    assert(s1.length == 64 && s1 == s1.sorted)

    val small = spark.range(30)
      .select(TextFunctions.hash60($"id".cast("string"), 13).as("hv"),
        $"id".cast("double").as("v"))
    val all = small.agg(bk($"hv", $"v")).as[Seq[Double]].head()
    assert(all == (0 until 30).map(_.toDouble),
      "below k the sample is the exact sorted group")
  }

  test("sample quantiles track exact quantiles within sampling error") {
    val bk = udaf(BottomKSample(64))
    // uniform values 0..9999: exact p50 = ~5000
    val rows = spark.range(10000)
      .select(TextFunctions.hash60($"id".cast("string"), 7).as("hv"),
        $"id".cast("double").as("v"))
    val s = rows.agg(bk($"hv", $"v")).as[Seq[Double]].head()
    val p50 = s((0.5 * (s.length - 1)).floor.toInt)
    // binomial error at k=64: sd of quantile rank ~ sqrt(q(1-q)/k) = 6.25%
    assert(math.abs(p50 - 5000) < 0.25 * 10000, s"p50=$p50 too far")
  }

  test("bottomk_sample is registered on the SQL surface") {
    spark.range(10)
      .select(TextFunctions.hash60($"id".cast("string"), 0).as("hv"),
        $"id".cast("double").as("v"))
      .createOrReplaceTempView("bk_in")
    assert(spark.sql("SELECT bottomk_sample(hv, v) FROM bk_in")
      .as[Seq[Double]].head() == (0 until 10).map(_.toDouble))
  }
}
