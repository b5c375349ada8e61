package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session per suite. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  def sf(name: String): String = s"/root/testdata/$name"
}

object SparkSpec {
  lazy val session: SparkSession = {
    val scratch = java.nio.file.Files.createTempDirectory("graft_spark_")
    System.setProperty("derby.system.home", scratch.toString)
    // the shipped factory's session (FastLocalFileSystem, UTC,
    // nanosAsLong, the graft extensions and aggregates), at test width
    GraftSession.getOrCreate(
      GraftSession.builder("graft-test", Some("local[4]"))
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.warehouse.dir", s"$scratch/warehouse"))
  }
}
