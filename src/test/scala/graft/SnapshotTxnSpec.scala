package graft

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}

import org.apache.spark.TaskContext
import org.apache.spark.graftbridge.ListenerBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.functions._

import graft.sources.{IndexFS, Snapshot}

/** The one write path, `Snapshot.transact`: abort on a throwing body,
  * the no-op rule, the nesting guard, and ownership predicates over
  * many partition tuples.
  */
class SnapshotTxnSpec extends SparkTestBase {
  import spark.implicits._

  private def manifests(base: String): Seq[String] =
    IndexFS.listNames(s"$base/_SNAPSHOTS").filter(_.matches("m\\d+")).sorted

  private case object Boom extends RuntimeException

  test("a body that throws after a slow staging write aborts: the write " +
      "is cancelled and joined, nothing lands later, readers keep the " +
      "prior manifest") {
    val base = tmp("abort")
    Snapshot.transact(base)(_.writeFull(Seq(1, 2, 3).toDF("v"), "c"))
    val prior = Snapshot.require(base)
    def rows(m: Snapshot.Manifest) = m.read(spark, "c").as[Int].collect().sorted.toSeq
    val priorRows = rows(prior)
    def leaves = IndexFS.listNames(s"$base/c").filter(_.startsWith("gsn=")).sorted
    def staging = IndexFS.listNames(s"$base/.staging").sorted
    val priorLeaves = leaves

    val sc = spark.sparkContext
    val tagged = ConcurrentHashMap.newKeySet[Int]()
    val ended = ConcurrentHashMap.newKeySet[Int]()
    val started = new CountDownLatch(1)
    @volatile var tag = ""
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (tag.nonEmpty && Option(j.properties)
            .flatMap(p => Option(p.getProperty("spark.job.tags")))
            .exists(_.split(",").contains(tag))) {
          tagged.add(j.jobId)
          started.countDown()
        }
      override def onJobEnd(j: SparkListenerJobEnd): Unit = { ended.add(j.jobId); () }
    }
    // each task sleeps up to 30 s, stopping early once killed
    val slow = spark.range(0, 4, 1, 4).as[Long].map { x =>
      val t0 = System.nanoTime()
      while (!TaskContext.get().isInterrupted() &&
          System.nanoTime() - t0 < 30000000000L) Thread.sleep(20)
      x
    }.toDF("v")
    sc.addSparkListener(listener)
    try {
      val t0 = System.nanoTime()
      intercept[Boom.type] {
        Snapshot.transact(base) { txn =>
          tag = txn.tag
          txn.writeFull(slow, "c")
          assert(started.await(60, TimeUnit.SECONDS), "the staging job never started")
          throw Boom
        }
      }
      assert(System.nanoTime() - t0 < 20000000000L,
        "transact waited for the slow write instead of cancelling it")
      ListenerBridge.waitUntilListenerBusEmpty(sc)
      assert(!ListenerBridge.runsTagged(sc, tag),
        "a job of the aborted transaction still runs")
      assert(!tagged.isEmpty && tagged.stream().allMatch(ended.contains(_)),
        s"tagged jobs $tagged, ended $ended")
      val (leavesAt, stagingAt) = (leaves, staging)
      assert(leavesAt === priorLeaves, "the cancelled write landed a leaf")
      Thread.sleep(1500)
      assert(leaves === leavesAt, "a leaf landed after transact returned")
      assert(staging === stagingAt, ".staging changed after transact returned")
      val now = Snapshot.require(base)
      assert(now.id === prior.id)
      assert(rows(now) === priorRows)
    } finally sc.removeSparkListener(listener)
  }

  test("a transaction opened inside another on the same layout fails " +
      "loudly, and the outer one publishes nothing") {
    val base = tmp("nested")
    Snapshot.transact(base)(_.writeFull(Seq(1).toDF("v"), "c"))
    val before = manifests(base)
    val e = intercept[IllegalStateException] {
      Snapshot.transact(base) { outer =>
        outer.writeFull(Seq(2).toDF("v"), "c")
        Snapshot.transact(base)(_.dropComp("c"))
      }
    }
    assert(e.getMessage.contains("nested snapshot transaction"))
    assert(manifests(base) === before)
    assert(Snapshot.require(base).read(spark, "c").as[Int].collect().toSeq === Seq(1))
    // the guard is per layout, and a closed transaction leaves it open
    val other = tmp("nested-other")
    Snapshot.transact(base) { _ =>
      Snapshot.transact(other)(_.writeFull(Seq(3).toDF("v"), "c"))
    }
    Snapshot.transact(base)(_.writeFull(Seq(4).toDF("v"), "c"))
    assert(Snapshot.require(base).read(spark, "c").as[Int].collect().toSeq === Seq(4))
  }

  test("a transaction that stages nothing and keeps ownership publishes " +
      "no manifest and runs no GC") {
    val base = tmp("noop")
    Snapshot.transact(base)(_.writeFull(Seq(1).toDF("v"), "c"))
    val before = manifests(base)
    // an abandoned staging subtree, past any grace: the next GC reaps it
    val orphan = s"$base/.staging/orphan"
    IndexFS.writeString(s"$orphan/x", "")
    IndexFS.setMtime(orphan, System.currentTimeMillis() - 86400000L)
    spark.conf.set("graft.snapshot.graceMs", "0")
    try {
      val id = Snapshot.transact(base) { txn =>
        txn.dropComp("absent")
        txn.snap.id
      }
      assert(id === Snapshot.require(base).id)
      assert(manifests(base) === before, "a no-op transaction published")
      assert(IndexFS.exists(orphan), "a no-op transaction ran GC")
      // the control: an ownership change publishes, and GC reaps the orphan
      Snapshot.transact(base)(_.dropComp("c"))
      assert(manifests(base).size === before.size + 1)
      assert(!IndexFS.exists(orphan))
    } finally spark.conf.unset("graft.snapshot.graceMs")
  }

  test("an ownership predicate over many partition tuples analyses on " +
      "the default stack and still prunes to the claimed partitions") {
    val base = tmp("manytuples")
    // three physical partitions, two of them among 20,000 claimed (a, b)
    // tuples: a left-deep OR over the tuples overflows the stack while
    // Spark converts the Column
    val claims = (0 until 20000).map(i => Seq(i.toString, (i % 7).toString))
    Snapshot.transact(base)(_.writeParts(
      Seq((10L, "3", "3"), (11L, "5", "5"), (12L, "6", "0")).toDF("v", "a", "b"),
      "c", Seq("a", "b"), claims))
    val got = Snapshot.require(base).read(spark, "c")
      .select(col("v")).as[Long].collect().sorted.toSeq
    assert(got === Seq(10L, 11L))
  }
}
