package perfbench

import Checks.Census

/** The benchmark's own tests: the arithmetic behind the reported figures
  * and the output checks, fed deliberately wrong outputs. Pure functions
  * only, no Spark session.
  *
  * Run: python3 perfbench/run.py --selftest
  */
object SelfTest {

  private var failures = 0
  private var passed = 0

  private def test(name: String)(body: => Unit): Unit =
    try { body; passed += 1; println(s"ok   $name") }
    catch { case e: Throwable => failures += 1; println(s"FAIL $name: $e") }

  private def eq[T](got: T, want: T): Unit =
    if (got != want) throw new AssertionError(s"got $got, want $want")

  private def near(got: Double, want: Double): Unit =
    if (math.abs(got - want) > 1e-9) throw new AssertionError(s"got $got, want $want")

  def main(args: Array[String]): Unit = {
    // --- the op_tail_s rule -------------------------------------------
    test("tail: 1000 ops use p99 with 10 ops beyond") {
      val xs = (1 to 1000).map(_.toDouble)
      eq(Stats.tail(xs), (99.0, 990.0, 10))
    }
    test("tail: 200 ops use p95 (p99 would leave 2)") {
      val xs = (1 to 200).map(_.toDouble)
      eq(Stats.tail(xs), (95.0, 190.0, 10))
    }
    test("tail: 40 ops use p75") {
      eq(Stats.tail((1 to 40).map(_.toDouble)), (75.0, 30.0, 10))
    }
    test("tail: 25 ops use p60 (p70 leaves 7)") {
      eq(Stats.tail((1 to 25).map(_.toDouble)), (60.0, 15.0, 10))
    }
    test("tail: fewer than 20 ops fall back to the median and say so") {
      eq(Stats.tail((1 to 12).map(_.toDouble)), (50.0, 6.0, 6))
    }
    test("tail ignores input order") {
      eq(Stats.tail((1 to 40).reverse.map(_.toDouble)), (75.0, 30.0, 10))
    }
    test("median of even and odd samples") {
      near(Stats.median(Seq(3.0, 1.0, 2.0)), 2.0)
      near(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)), 2.5)
    }

    test("warm-ups: one op of each kind, outside the loop's indices") {
      val mix = Seq("b", "z", "b", "b", "i", "b", "b")
      val w = Workload.warmUps(mix)
      eq(w.map(Workload.cycle(mix, _)), Seq("b", "z", "i"))
      assert(w.forall(i => i < 0 && i >= -mix.size))
    }

    // --- interval union behind spark.driver_gap_s ---------------------
    test("union of disjoint intervals is their sum") {
      eq(Stats.unionLength(Seq((0L, 10L), (20L, 25L))), 15L)
    }
    test("union counts overlapping and nested intervals once") {
      eq(Stats.unionLength(Seq((0L, 10L), (5L, 15L), (6L, 7L), (30L, 40L))), 25L)
    }
    test("union: touching intervals, empty and reversed ones") {
      eq(Stats.unionLength(Seq((0L, 10L), (10L, 20L), (5L, 5L), (9L, 3L))), 20L)
      eq(Stats.unionLength(Nil), 0L)
    }
    test("driver gap: wall minus the covered part, jobs clipped to the op") {
      // op 100..200; jobs 90..120 (clipped to 100..120), 150..160, 155..170
      eq(Stats.driverGap(100L, 200L, Seq((90L, 120L), (150L, 160L), (155L, 170L))), 60L)
    }
    test("driver gap: no jobs means all driver time") {
      eq(Stats.driverGap(0L, 50L, Nil), 50L)
    }
    test("job overlap: sequential jobs 1, two concurrent jobs 2") {
      near(Stats.overlap(Seq((0L, 10L), (10L, 20L))), 1.0)
      near(Stats.overlap(Seq((0L, 10L), (0L, 10L))), 2.0)
    }

    // --- the output checks reject wrong outputs -----------------------
    val census = Census(updated = 90, skippedReadOnly = 10, hidden = 900, total = 1000)
    def bulk(got: Census = census, recount: Census = census, committed: Long = 1000,
             checksum: Long = 7L, tagged: Long = 90, misplaced: Long = 0,
             mode: String = "broadcastUpdate", k: Int = 0) =
      Checks.bulkUpdate(mode, k, got, recount, committed, expectedRows = 1000,
        checksum = checksum, expectedChecksum = 7L, tagged = tagged, misplaced = misplaced)
    test("bulk_update: a correct op passes") { eq(bulk(), Nil) }
    test("bulk_update: an off-by-one census fails") {
      assert(bulk(got = census.copy(updated = 91)).nonEmpty)
      assert(bulk(got = census.copy(hidden = 899)).nonEmpty)
    }
    test("bulk_update: a lost row fails") {
      assert(bulk(recount = census.copy(total = 999, hidden = 899),
        got = census.copy(total = 999, hidden = 899), committed = 999).nonEmpty)
    }
    test("bulk_update: a changed non-target column fails") { assert(bulk(checksum = 8L).nonEmpty) }
    test("bulk_update: a write outside the visible writable rows fails") {
      assert(bulk(misplaced = 1).nonEmpty)
    }
    test("bulk_update: broadcast that misses a row fails") { assert(bulk(tagged = 89).nonEmpty) }
    test("bulk_update: zip within min(k, visible) passes, beyond fails") {
      eq(bulk(mode = "zipUpdate", k = 50, tagged = 45), Nil)
      assert(bulk(mode = "zipUpdate", k = 50, tagged = 51).nonEmpty)
      assert(bulk(mode = "zipUpdate", k = 50, tagged = 39).nonEmpty)
    }
    test("topK: exact k rows with ranks 1..k pass; a short or extra query fails") {
      eq(Checks.topK(Map(0L -> Seq(1L, 2L), 1L -> Seq(2L, 1L)), Set(0L, 1L), 2, exact = true), Nil)
      assert(Checks.topK(Map(0L -> Seq(1L)), Set(0L), 2, exact = true).nonEmpty)
      assert(Checks.topK(Map(0L -> Seq(1L, 2L), 5L -> Seq(1L)), Set(0L), 2, exact = true).nonEmpty)
      assert(Checks.topK(Map(0L -> Seq(1L, 3L)), Set(0L), 2, exact = false).nonEmpty)
    }
    test("recall: at or above the floor passes, below it fails") {
      eq(Checks.recall(hits = 8, slots = 40, floor = 0.2), Nil)
      assert(Checks.recall(hits = 7, slots = 40, floor = 0.2).nonEmpty)
      assert(Checks.recall(hits = 0, slots = 40, floor = 0.05).nonEmpty)
      eq(Checks.recall(hits = 0, slots = 0, floor = 0.05), Nil)
    }
    test("near-dup probe: an unflagged exact copy or a flagged fresh doc fails") {
      val pool = Map(10L -> (1L, true), 20L -> (-1L, false), 30L -> (2L, false))
      eq(Checks.nearDupVerdicts(Seq(10L, 20L, 30L),
        Map(10L -> (true, 1L), 20L -> (false, -1L), 30L -> (false, -1L)), pool), Nil)
      assert(Checks.nearDupVerdicts(Seq(10L, 20L, 30L),
        Map(10L -> (false, -1L), 20L -> (false, -1L), 30L -> (false, -1L)), pool).nonEmpty)
      assert(Checks.nearDupVerdicts(Seq(10L, 20L, 30L),
        Map(10L -> (true, 1L), 20L -> (true, 4L), 30L -> (false, -1L)), pool).nonEmpty)
      assert(Checks.nearDupVerdicts(Seq(10L, 20L), Map(10L -> (true, 1L)), pool).nonEmpty)
    }
    test("ingest: admitted planted copy, invisible vector, resurrected delete all fail") {
      def ingest(verdicts: Map[Long, Boolean] = Map(1L -> true, 9L -> false),
                 vecHits: Seq[(Long, Long)] = Seq(0L -> 100L, 1L -> 101L),
                 phraseHits: Seq[(Long, Long)] = Seq(0L -> 1L)) =
        Checks.ingest(verdicts, planted = Set(9L), vecQueries = Seq(100L, 101L),
          vecHits = vecHits, phraseDocs = Seq(1L, 5L), phraseHits = phraseHits,
          deletedDocs = Set(5L), deletedVecs = Set(77L))
      eq(ingest(), Nil)
      assert(ingest(verdicts = Map(1L -> true, 9L -> true)).nonEmpty)
      assert(ingest(vecHits = Seq(0L -> 100L, 1L -> 100L)).nonEmpty)
      assert(ingest(vecHits = Seq(0L -> 100L, 1L -> 101L, 1L -> 77L)).nonEmpty)
      assert(ingest(phraseHits = Seq(0L -> 1L, 1L -> 5L)).nonEmpty)
      assert(ingest(phraseHits = Nil).nonEmpty)
    }
    test("curate: a surviving exact copy or a short stage fails") {
      val texts = Map(1L -> "a b c d e f", 2L -> "g h i j k l", 11L -> "a b c d e f",
        12L -> "g h i j k x")
      def curate(clusters: Map[Long, Long] = Map(1L -> 1L, 11L -> 1L, 2L -> 2L, 12L -> 2L),
                 langRows: Seq[Long] = Seq(1L, 2L, 11L, 12L),
                 semKept: Map[Long, Boolean] = Map(5L -> true, 15L -> false)) =
        Checks.curate(Set(1L, 2L, 11L, 12L), Set(5L, 15L),
          plantedDocs = Map(11L -> (1L, true), 12L -> (2L, false)),
          plantedVecs = Map(15L -> 5L), texts = texts, langRows = langRows, gateTotal = 4,
          piiRows = 4, sigRows = 4, pairs = Seq(1L -> 11L), clusters = clusters,
          dotRows = 2, dotKernel = 3.0, dotBuiltin = 3.0, semKept = semKept)
      eq(curate(), Nil)
      assert(curate(clusters = Map(2L -> 2L, 12L -> 2L)).nonEmpty)
      assert(curate(langRows = Seq(1L, 2L, 11L)).nonEmpty)
      assert(curate(semKept = Map(5L -> true, 15L -> true)).nonEmpty)
      assert(curate(clusters = Map(1L -> 1L, 11L -> 1L)).nonEmpty)
    }
    test("jaccard of 3-shingles") {
      near(Checks.jaccard("a b c d", "a b c d"), 1.0)
      near(Checks.jaccard("a b c d", "a b c x"), 1.0 / 3.0)
    }

    println(s"$passed passed, $failures failed")
    if (failures > 0) sys.exit(1)
  }
}
