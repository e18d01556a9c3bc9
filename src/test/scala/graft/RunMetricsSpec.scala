package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}

import org.apache.spark.graftbridge.BusListeners

import graft.sources.Par

/** [[RunMetrics.measure]]: the driver gap of overlapping jobs, per-job
  * task counts, and the listener's lifetime.
  */
class RunMetricsSpec extends SparkTestBase {
  private lazy val sc = spark.sparkContext

  test("driver gap is wall minus the union of job intervals: two " +
      "overlapping Par siblings count once") {
    import RunMetricsSpec.both
    // each job's one task waits for the other's, then holds for 1 s
    val job: () => Long = () => sc.parallelize(Seq(1), 1).map { x =>
      both.countDown(); both.await(30, TimeUnit.SECONDS)
      Thread.sleep(1000); x
    }.count()
    val (_, run) = RunMetrics.measure(sc)(Par.run(spark)(Seq(job, job)))
    assert(both.getCount === 0 && run.jobs.size === 2)
    assert(run.jobs.map(_.tags).distinct.size === 1 && run.jobs.head.tags.nonEmpty)
    val durS = run.jobs.map(j => (j.endMs.get - j.startMs) / 1e3)
    // the old formula, wall − Σ job durations, goes negative on this record
    val oldGapS = run.wallS - durS.sum
    assert(oldGapS < 0, s"jobs did not overlap: wall ${run.wallS} s, jobs $durS")
    assert(run.driverGapS >= 0 && run.driverGapS <= run.wallS - durS.max,
      s"gap ${run.driverGapS} s, wall ${run.wallS} s, jobs $durS")
  }

  test("a job's tasks are the tasks that ended: a skipped stage adds none") {
    val sums = sc.parallelize(1 to 100, 4).map(x => (x % 3, x)).reduceByKey(_ + _, 2)
    sums.count()
    val (_, run) = RunMetrics.measure(sc)(sums.count())
    assert(run.jobs.map(j => (j.stageNames.size, j.tasks)) === Seq((2, 2)) &&
      run.stages === 1 && run.tasks === 2)
  }

  test("a throwing body rethrows and leaves no listener behind") {
    val n0 = BusListeners.count(sc)
    var inside = -1
    val e = intercept[IllegalStateException](RunMetrics.measure(sc) {
      inside = BusListeners.count(sc)
      sc.parallelize(1 to 4, 2).count()
      throw new IllegalStateException("body failed")
    })
    assert(e.getMessage === "body failed" && inside === n0 + 1)
    assert(BusListeners.count(sc) === n0)
  }

  test("200 back-to-back measures on one session: each sees only its " +
      "own job, and the listener count is unchanged") {
    val n0 = BusListeners.count(sc)
    val jobs = (1 to 200).map(i =>
      RunMetrics.measure(sc)(sc.parallelize(1 to i, 1).count())._2.jobs.size)
    assert(jobs.forall(_ == 1) && BusListeners.count(sc) === n0)
  }
}

/** Where the overlap test's two tasks meet (local tasks share this JVM). */
object RunMetricsSpec { val both = new CountDownLatch(2) }
