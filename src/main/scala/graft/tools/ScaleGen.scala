// Derived-scale dataset generator for empirical scaling measurement.
// Replicates a testdata SF directory `factor`× with RE-KEYED ids into a
// writable directory (never touching the read-only testdata), so the
// top operator families can be timed at 1× vs N× and checked for
// ≲linear growth (SCALE.md "measured scaling" table).
//
// Run: sbt -batch "runMain graft.tools.ScaleGen /root/testdata/sf0.1 target/scale10 10"
//
// Replication model — the LINEAR-scaling null hypothesis:
//  - dims (region/nation) stay single-copy: replicas share reference
//    data, as a larger org would;
//  - every fact/entity key shifts by replica·10⁸, so joins fan out
//    linearly and never cross replicas;
//  - document TEXT is re-tokenized per replica (token + "_r" suffix,
//    replica 0 verbatim): each replica keeps sf0.1's internal gram/df
//    structure and planted duplicate pairs, but replicas share no
//    shingles — a 10× corpus of the same statistical shape, NOT 10
//    verbatim copies (verbatim copies would make every doc a 10-way
//    exact dup and turn pair-family costs quadratic BY CONSTRUCTION,
//    measuring the corpus, not the operator);
//  - embeddings jitter deterministically per (replica, id, dim) for
//    the same reason, preserving the cell/cluster geometry per replica.
package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

object ScaleGen {
  private val STRIDE = 100000000L // replica key offset

  def main(args: Array[String]): Unit = {
    val Array(inDir, outDir, factorStr) = args.take(3)
    val factor = factorStr.toInt
    val spark = graft.GraftSession.getOrCreate("graft-scalegen")

    def read(t: String): DataFrame =
      spark.read.parquet(s"$inDir/$t.parquet")

    def write(t: String, df: DataFrame, parts: Int): Unit = {
      df.repartition(parts)
        .write.mode("overwrite").parquet(s"$outDir/$t.parquet")
      println(s"SCALEGEN wrote $t x$factor")
    }

    // keys listed per table are shifted by replica·STRIDE; everything
    // else copies through unchanged
    val keyed = Map(
      "customer" -> Seq("c_custkey"),
      "supplier" -> Seq("s_suppkey"),
      "part" -> Seq("p_partkey"),
      "orders" -> Seq("o_orderkey", "o_custkey"),
      "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey"),
      "events" -> Seq("event_id", "user_id"))

    def replicate(t: String, keys: Seq[String],
        perReplica: (DataFrame, Int) => DataFrame = (d, _) => d): DataFrame = {
      val base = read(t)
      (0 until factor).map { r =>
        keys.foldLeft(perReplica(base, r)) { (d, k) =>
          d.withColumn(k, col(k) + lit(r * STRIDE))
        }
      }.reduce(_ unionByName _)
    }

    // dims: single copy
    write("region", read("region"), 1)
    write("nation", read("nation"), 1)
    keyed.foreach { case (t, keys) =>
      write(t, replicate(t, keys), math.max(1, factor / 2))
    }

    // documents: re-keyed AND re-tokenized (see header)
    val docs = replicate("documents", Seq("doc_id"), (d, r) =>
      if (r == 0) d
      else d
        .withColumn("text", array_join(
          transform(split(col("text"), " "), t => concat(t, lit(s"_$r"))),
          " "))
        .withColumn("n_chars", length(col("text")).cast("long")))
    write("documents", docs, math.max(1, factor / 2))

    // embeddings: re-keyed with deterministic per-(replica, id, dim)
    // jitter so replicas are near but never identical in vector space
    val emb = replicate("embeddings", Seq(), (d, r) =>
      if (r == 0) d.withColumn("vec_id", col("vec_id"))
      else d
        .withColumn("vec_id", col("vec_id") + lit(r * STRIDE))
        .withColumn("embedding", transform(col("embedding"), (v, i) =>
          (v + ((pmod(col("vec_id") * 31 + i * 7 + lit(r), lit(5)) - lit(2))
            .cast("float") * lit(0.01f))).cast("float"))))
    write("embeddings", emb, math.max(1, factor / 2))

    spark.stop()
  }
}
