package graft.functions

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** KMV sketch properties: accuracy within the k-governed error bound,
  * partitioning-independence (mergeability), exactness below k. */
class KmvSketchSpec extends SparkSpec {
  import spark.implicits._

  test("estimate within ~3/sqrt(k) of truth; exact below k; merge-invariant") {
    val kmv = udaf(KmvSketch(64))
    val hashed = spark.range(5000)
      .select(TextFunctions.hash60($"id".cast("string"), 0).as("hv"))
    val est = hashed.agg(kmv($"hv")).as[Double].head()
    // KMV relative error is ~1/sqrt(k-2) per sketch theory; allow 3x
    assert(math.abs(est - 5000) / 5000.0 < 3.0 / math.sqrt(62),
      s"estimate $est too far from 5000")

    // merge-invariance: any partitioning produces the identical result
    val est7 = hashed.repartition(7).agg(kmv($"hv")).as[Double].head()
    assert(est == est7)

    // below k distinct values the sketch IS the exact count
    val small = spark.range(40)
      .select(TextFunctions.hash60($"id".cast("string"), 0).as("hv"))
    assert(small.agg(kmv($"hv")).as[Double].head() == 40.0)

    // duplicates don't inflate: distinct semantics
    val dup = spark.range(40).select(($"id" % 10).cast("string").as("s"))
      .select(TextFunctions.hash60($"s", 0).as("hv"))
    assert(dup.agg(kmv($"hv")).as[Double].head() == 10.0)
  }

  test("kmv_distinct is registered on the SQL surface") {
    spark.range(30).select(TextFunctions.hash60($"id".cast("string"), 0).as("hv"))
      .createOrReplaceTempView("kmv_in")
    assert(spark.sql("SELECT kmv_distinct(hv) FROM kmv_in")
      .as[Double].head() == 30.0)
  }
}
