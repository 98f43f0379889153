package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session + fixture path resolution for all suites. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  /** Absolute URL of a test-resource fixture directory/file. */
  def fixture(name: String): String =
    getClass.getResource("/fixtures/" + name).toString
}

object SparkSpec {
  lazy val session: SparkSession = Session.local(2, 2,
    "spark.app.name" -> "graft-tests",
    "spark.sql.warehouse.dir" ->
      java.nio.file.Files.createTempDirectory("graft_wh").toString)
}
