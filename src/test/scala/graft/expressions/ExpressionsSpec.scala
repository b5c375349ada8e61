package graft.expressions

import graft.functions.VectorFunctions
import org.apache.spark.sql.functions._

/** Native-expression behavior: eval + codegen parity, SQL registration
  * via SparkSessionExtensions (the shared session is factory-built, so
  * it carries them). */
class ExpressionsSpec extends graft.SparkSpec {

  test("graft_dotq callable from SQL text (EP1) via extensions") {
    val row = spark.sql(
      "SELECT graft_dotq(array(1L, 2L, 3L), array(4L, 5L, 6L)) AS d")
      .collect().head
    assert(row.getLong(0) == 32L)
  }

  test("LongArrayDot matches the HOF formulation on real vectors") {
    import spark.implicits._
    val emb = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet").limit(50)
      .select(col("vec_id"), VectorFunctions.quantize(col("embedding")).as("q"))
    val viaExpr = emb.select(col("vec_id"),
      VectorFunctions.dotQ(col("q"), col("q")).as("d"))
    val viaHof = emb.select(col("vec_id"),
      aggregate(zip_with(col("q"), col("q"), _ * _), lit(0L), _ + _).as("d"))
    assert(viaExpr.orderBy("vec_id").as[(Long, Long)].collect().toSeq ==
      viaHof.orderBy("vec_id").as[(Long, Long)].collect().toSeq)
  }

  test("graft_md5prefix60 matches the builtin chain") {
    val row = spark.sql(
      """SELECT graft_md5prefix60('hello') AS a,
                CAST(conv(substring(md5(CAST('hello' AS BINARY)), 1, 15), 16, 10) AS BIGINT) AS b
      """).collect().head
    assert(row.getLong(0) == row.getLong(1))
  }

  test("graft_word_shingles callable from SQL text, matches builtin chain") {
    val row = spark.sql(
      "SELECT graft_word_shingles('a b c d', 3) AS g").collect().head
    assert(row.getSeq[String](0) == Seq("a b c", "b c d"))
    // non-literal n is rejected with a clear message
    val e = intercept[Exception](
      spark.sql("SELECT graft_word_shingles('a b', 1 + 1)").collect())
    assert(e.getMessage.contains("integer literal") ||
      e.getMessage.contains("graft_word_shingles"))
  }

  test("graft_nfc: composes decomposed sequences; idempotent; identity " +
      "on ASCII returns the input unchanged") {
    import graft.functions.{TextFunctions => T}
    import spark.implicits._
    val df = Seq(
      ("cafe\u0301", "caf\u00e9"), // decomposed -> composed
      ("caf\u00e9", "caf\u00e9"),  // already NFC
      ("plain ascii", "plain ascii"))
      .toDF("raw", "expected")
      .select(col("raw"), col("expected"), T.nfc(col("raw")).as("got"))
    assert(df.filter(col("got") =!= col("expected")).count() == 0)
    // length collapses 2 code points to 1 on composition
    val lens = df.select(length(col("raw")), length(col("got"))).collect()
    assert(lens(0).getInt(0) == 5 && lens(0).getInt(1) == 4)
    // idempotent
    val idem = df.select((T.nfc(col("got")) === col("got")).as("ok"))
    assert(idem.filter(!col("ok")).count() == 0)
    // SQL surface
    val r = spark.sql("SELECT graft_nfc('cafe\u0301') AS s, " +
      "length(graft_nfc('cafe\u0301')) AS n").collect().head
    assert(r.getString(0) == "caf\u00e9" && r.getInt(1) == 4)
    // null-safe
    assert(spark.sql("SELECT graft_nfc(CAST(NULL AS STRING))")
      .collect().head.isNullAt(0))
  }

  test("null-safety: null array input yields null") {
    val r = spark.sql(
      "SELECT graft_dotq(CAST(NULL AS ARRAY<BIGINT>), array(1L)) AS d")
      .collect().head
    assert(r.isNullAt(0))
  }
}
