// Plan audit: print formatted physical plans for representative queries.
// Run: sbt -batch "runMain graft.tools.Explain q04 q13 ..."
package graft.tools

object Explain {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.getOrCreate("graft-explain")
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val wanted = if (args.isEmpty) Seq("q04") else args.toSeq
    graft.SparkEntry.queries
      .filter { case (n, _) => wanted.exists(n.startsWith) }
      .toSeq.sortBy(_._1)
      .foreach { case (name, fn) =>
        println(s"\n========== $name ==========")
        fn(spark, dir).explain("formatted")
      }
    spark.stop()
  }
}
