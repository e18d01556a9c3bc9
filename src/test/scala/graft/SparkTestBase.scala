package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for all suites (getOrCreate dedups): the
  * shipped configuration, `GraftSession.configs(4)`, except that
  * `GraftExtensions` is installed on this session through
  * `withExtensions` instead of the context-wide `spark.sql.extensions`
  * key, so [[plainSession]] can build a control session without it.
  */
trait SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config(GraftSession.configs(4) - "spark.sql.extensions")
    .withExtensions(new graft.functions.GraftExtensions)
    .config("spark.ui.enabled", "false")
    .config("spark.sql.warehouse.dir",
      java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
    .getOrCreate()

  val sf: String = "/root/testdata/sf0.001"

  /** A second session on the shared context without `GraftExtensions`:
    * the control the extension specs compare the shared session with.
    * The shared session stays the default and active one.
    */
  def plainSession(): SparkSession = {
    val prev = spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try SparkSession.builder().getOrCreate()
    finally {
      SparkSession.setDefaultSession(prev)
      SparkSession.setActiveSession(prev)
    }
  }
}
