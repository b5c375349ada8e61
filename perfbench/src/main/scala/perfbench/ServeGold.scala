package perfbench

import scala.collection.mutable

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType

/** Read-only BI serving: the gold, EDW and relational marts, on the
  * committed copy of the sf0.01 testdata (the data VERIFYHASH.json was
  * computed on).
  *
  * The client serves the generated request sequence: rounds, each a
  * seeded permutation of the mix (see gen.py), measured in whole
  * rounds, so every run serves the same mix and only the order depends
  * on the seed. `WarmRounds` rounds of the mix warm the JVM first. A draw
  * builds the query's DataFrame (`queries.build`), forces its physical
  * plan (`plan`) and runs that plan, collecting every output row and
  * column to the client (`exec`). Its samples are kept per query, and
  * the per-op figures average the queries' medians.
  *
  * Checks (untimed): each query's warm-up rows hash
  * (graft.Verify.canonHash) to the oracle-anchored value in
  * VERIFYHASH.json, and every measured draw returns the same rows. */
object ServeGold extends Workload {
  /** Rounds of the mix the gated figures cover. A query's CPU time
    * still falls from draw to draw (JIT), so the figures take the same
    * draws every run. */
  val Rounds = 3
  /** Rounds of the mix the warm-up serves; its first round's rows are
    * the ones checked against the oracle hashes. */
  val WarmRounds = 2

  /** Order-insensitive digest of collected rows. */
  def rowsHash(rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    rows.map(_.mkString("\u0001")).sorted.foreach { r =>
      md.update(r.getBytes("UTF-8")); md.update(0: Byte)
    }
    s"${rows.length}:" + md.digest().map("%02x".format(_)).mkString
  }

  def run(c: Ctx): Unit = {
    val spark = c.spark
    val queries = graft.SparkEntry.queries
    val dir = c.args("fixture")
    val draws = Json.readStrings(s"${c.data}/draws.json")
    val mix = draws.distinct.sorted
    val expected = Json.readMap(c.args("verifyhash"))
    // the self-test corrupts the expectation of one query
    val want = if (c.corrupt) expected.updated(mix.head, "0:0") else expected

    // each query's first rows are checked against the oracle hash; every
    // later draw must return the same rows
    val first = mutable.Map[String, String]()
    val differs = mutable.LinkedHashSet[String]()
    def verify(n: String, rows: Array[Row], schema: StructType): Unit = {
      val h = rowsHash(rows)
      if (!first.contains(n)) {
        first(n) = h
        val got = graft.Verify.canonHash(spark.createDataFrame(
          java.util.Arrays.asList(rows: _*), schema))
        c.check(s"verifyhash.$n", got == want(n), s"got $got want ${want(n)}")
      } else if (h != first(n)) differs += n
    }

    val warm = c.warmup {
      (1 to WarmRounds).map { _ =>
        mix.map { n =>
          val df = queries(n)(spark, dir)
          val rows = df.collect()
          graft.CacheTracker.releaseAll()
          (n, rows, df.schema)
        }
      }.head
    }
    warm.foreach { case (n, rows, schema) => verify(n, rows, schema) }

    val t = c.tracer
    c.loop(draws.size, granule = mix.size, window = Rounds * mix.size,
      kind = draws) { i =>
      val n = draws(i)
      val df = t.span("queries.build")(queries(n)(spark, dir))
      t.span("plan")(df.queryExecution.executedPlan)
      val rows = t.span("exec")(df.collect())
      graft.CacheTracker.releaseAll()
      c.afterOp += (() => verify(n, rows, df.schema))
    }
    c.check("repeat_draw_rows", differs.isEmpty,
      s"rows differ from the first draw: ${differs.mkString(",")}")
  }
}
