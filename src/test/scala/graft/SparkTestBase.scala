package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session per suite (per spark_guide: lazy val, not
  * per-test). sf0.001 fixtures keep suites fast.
  */
trait SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = Harness.session("local[4]", 4,
    "spark.app.name" -> getClass.getSimpleName,
    "spark.sql.warehouse.dir" ->
      java.nio.file.Files.createTempDirectory("graft_warehouse").toString)

  def sf: String = "/root/testdata/sf0.001"
}
