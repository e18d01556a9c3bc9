package graft

/** The shared test session, `Verify` and `Bench` do not install
  * `GraftExtensions`, so the oracle-checked board never runs the
  * extension's planner rules. This spec runs every bulk-update,
  * relational and scalar slot on a session that does, and requires the
  * same rows as the shared session.
  */
class ExtensionCrossCheckSpec extends SparkTestBase {

  private lazy val ext = extensionSession()

  private def rows(s: org.apache.spark.sql.SparkSession, slot: String): Seq[String] =
    SparkEntry.queries(slot)(s, sf).collect().map(_.toString).sorted.toSeq

  Seq("bu_", "rel_", "sca_").foreach { family =>
    test(s"every $family* slot returns the same rows with GraftExtensions installed") {
      val slots = SparkEntry.queries.keys.filter(_.startsWith(family)).toSeq.sorted
      assert(slots.nonEmpty)
      assert(ext.sessionState.columnarRules.contains(graft.plans.ParamLiterals.Hook))
      val differ = slots.filter(slot => rows(ext, slot) != rows(spark, slot))
      assert(differ.isEmpty, s"${differ.size}/${slots.size} slots differ: " +
        differ.mkString(", "))
    }
  }
}
