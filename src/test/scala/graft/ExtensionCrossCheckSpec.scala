package graft

/** The shared test session is the shipped one: it runs the
  * `GraftExtensions` rules, as `Verify`, `Bench` and every other main
  * do. This spec runs every bulk-update, relational and scalar slot on
  * it and on a plain session without the extension (same context, same
  * configuration otherwise), and requires the same rows from both.
  */
class ExtensionCrossCheckSpec extends SparkTestBase {

  private lazy val plain = plainSession()

  private def rows(s: org.apache.spark.sql.SparkSession, slot: String): Seq[String] =
    SparkEntry.queries(slot)(s, sf).collect().map(_.toString).sorted.toSeq

  Seq("bu_", "rel_", "sca_").foreach { family =>
    test(s"every $family* slot returns the same rows with GraftExtensions installed") {
      val slots = SparkEntry.queries.keys.filter(_.startsWith(family)).toSeq.sorted
      assert(slots.nonEmpty)
      assert(spark.sessionState.columnarRules.contains(graft.plans.ParamLiterals.Hook))
      assert(!plain.sessionState.columnarRules.contains(graft.plans.ParamLiterals.Hook))
      val differ = slots.filter(slot => rows(spark, slot) != rows(plain, slot))
      assert(differ.isEmpty, s"${differ.size}/${slots.size} slots differ: " +
        differ.mkString(", "))
    }
  }
}
