package graft

import scala.jdk.CollectionConverters._

/** The fixture-relation cache must not pin stopped sessions: its
  * entries hold resolved plans, and a long-lived JVM that starts and
  * stops sessions would otherwise keep every one of them reachable.
  * This suite stops the shared test context; later suites' sessions
  * start a fresh one.
  */
class TablesSpec extends SparkTestBase {

  test("relation cache: a live session reuses its entries, a stopped " +
      "session leaves none behind") {
    val s = spark
    val first = Tables.lineitem(s, sf)
    assert(Tables.lineitem(s, sf) eq first, "live session re-resolved a fixture")
    def entriesOf(x: org.apache.spark.sql.SparkSession) =
      Tables.relationCache.keySet.asScala.count(_._1 eq x)
    assert(entriesOf(s) > 0)
    s.stop()
    assert(entriesOf(s) === 0, "stopped session still pinned by the relation cache")
  }
}
