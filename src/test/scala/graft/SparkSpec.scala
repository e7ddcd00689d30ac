package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session base: one local SparkSession per suite (lazy), built
  * by [[Sessions]] so tests run the production configuration.
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = Sessions.start(
    Sessions.builder(4, getClass.getSimpleName, shufflePartitions = 4)
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_wh").toString))

  locally {
    spark.sparkContext.setLogLevel("WARN")
  }

  val sf: String = "/root/testdata/sf0.001"

  def tempDir(prefix: String): String = {
    val d = java.nio.file.Files.createTempDirectory(prefix)
    d.toFile.deleteOnExit()
    d.resolve("t").toString
  }
}
