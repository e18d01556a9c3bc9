package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for all suites (getOrCreate dedups). */
trait SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    // match the runner sessions: runtime bloom-filter injection off
    // (byte-measured pure overhead on the stored-ANN serving path)
    .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "false")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.warehouse.dir",
      java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
    .getOrCreate()

  val sf: String = "/root/testdata/sf0.001"

  /** A second session on the shared context, built with
    * `GraftExtensions` (the shared session does not install them). The
    * shared session stays the default and active one.
    */
  def extensionSession(): SparkSession = {
    val prev = spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try SparkSession.builder()
      .withExtensions(new graft.functions.GraftExtensions)
      .getOrCreate()
    finally {
      SparkSession.setDefaultSession(prev)
      SparkSession.setActiveSession(prev)
    }
  }
}
