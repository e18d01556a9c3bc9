package graft.sources

import java.util.concurrent.{CompletableFuture, CompletionException, ExecutionException,
  Executors, Future => JFuture, ThreadFactory, TimeUnit, TimeoutException}

import org.apache.spark.graftbridge.ListenerBridge
import org.apache.spark.sql.SparkSession

/** Driver-side overlap of INDEPENDENT Spark actions (optimization
  * guide §2.6 "Overlap independent jobs"): Spark's scheduler happily
  * runs several jobs at once inside one application — actions are only
  * sequential because driver code calls them sequentially. Where two
  * materializations provably do not depend on each other (a snapshot
  * transaction's per-component staging writes, a recall gate's
  * independent training chains), submitting them from separate driver
  * threads lets the later job's tasks back-fill executors idled by the
  * earlier job's tail. Results are unchanged — each thunk computes
  * exactly what it computed sequentially; only the wall-clock overlap
  * is new — and FIFO scheduling (the default) keeps the earlier job's
  * resource priority.
  *
  * The pool is cached (not fixed): concurrency is bounded by the call
  * sites (2-5 thunks each), and a cached pool cannot deadlock if a
  * thunk itself fans out. Threads are daemons — an abandoned action
  * never blocks JVM exit.
  */
private[graft] object Par {

  private lazy val pool = Executors.newCachedThreadPool(new ThreadFactory {
    private val n = new java.util.concurrent.atomic.AtomicInteger(0)
    override def newThread(r: Runnable): Thread = {
      val t = new Thread(r, s"graft-par-${n.incrementAndGet()}")
      t.setDaemon(true)
      t
    }
  })

  /** Thread-local Spark scheduling properties worth carrying onto the
    * pool thread so concurrent jobs keep the caller's UI label,
    * cancellation group and job tags.
    */
  private val carried = Seq("spark.job.description", "spark.jobGroup.id",
    "spark.job.interruptOnCancel", "spark.scheduler.pool", "spark.job.tags")

  def newTag(): String = s"graft-par-${java.util.UUID.randomUUID()}"

  /** Submit one thunk for background execution. The returned future
    * rethrows the thunk's failure on `get`. The caller's session and
    * job-label properties are re-established on the pool thread, and
    * every job the thunk runs carries the Spark job tag `tag` — a tag,
    * not a job group, which would replace the caller's own group.
    */
  def submit[T](spark: SparkSession, tag: String = newTag())
               (thunk: () => T): CompletableFuture[T] = {
    val sc = spark.sparkContext
    val props = carried.map(k => k -> sc.getLocalProperty(k))
    CompletableFuture.supplyAsync(() => {
      SparkSession.setActiveSession(spark)
      props.foreach { case (k, v) => sc.setLocalProperty(k, v) }
      sc.addJobTag(tag)
      try thunk() finally sc.removeJobTag(tag)
    }, pool)
  }

  /** Run independent thunks concurrently, returning results in input
    * order. A single thunk runs inline. The first failure ends the
    * rest ([[awaitAll]]) and is rethrown unwrapped from the executor.
    */
  def run[T](spark: SparkSession)(thunks: Seq[() => T]): Seq[T] =
    if (thunks.sizeIs <= 1) thunks.map(_())
    else {
      val tag = newTag()
      awaitAll(spark, tag, thunks.map(submit(spark, tag)))
    }

  /** Join `all`, whose jobs carry `tag`, returning their results in
    * order. The first failure to COMPLETE (a failure must not wait
    * behind a slow sibling) is rethrown after [[cancelAndDrain]]: no
    * sibling job is left running and no side effect after a cancelled
    * job lands.
    */
  def awaitAll[T](spark: SparkSession, tag: String,
                  all: Seq[CompletableFuture[T]]): Seq[T] = {
    val firstFailure = new CompletableFuture[Throwable]()
    all.foreach(_.whenComplete((_, e) => if (e != null) firstFailure.complete(e)))
    try CompletableFuture.anyOf(CompletableFuture.allOf(all: _*), firstFailure).join()
    catch { case _: CompletionException => () }
    if (all.exists(_.isCompletedExceptionally)) {
      cancelAndDrain(spark, tag, all)
      throw unwrap(firstFailure.join())
    }
    all.map(await)
  }

  /** Cancel every job carrying `tag` — repeatedly, while one of `all`
    * may still start one — until each of `all` has ended and no job
    * carrying the tag runs. Their results and failures are dropped.
    */
  def cancelAndDrain(spark: SparkSession, tag: String,
                     all: Seq[JFuture[_]]): Unit = {
    val sc = spark.sparkContext
    all.foreach { f =>
      while (!f.isDone) {
        sc.cancelJobsWithTag(tag)
        try { f.get(100, TimeUnit.MILLISECONDS); () }
        catch { case _: TimeoutException | _: ExecutionException => () }
      }
    }
    // a cancelled query's own threads (an in-flight broadcast, which
    // inherits the tag) can still submit a job after its thunk ended:
    // cancel until no tagged job has run for two checks in a row
    var quiet = 0
    while (quiet < 2) {
      Thread.sleep(20)
      try ListenerBridge.waitUntilListenerBusEmpty(sc)
      catch { case _: TimeoutException => () }
      if (ListenerBridge.runsTagged(sc, tag)) { sc.cancelJobsWithTag(tag); quiet = 0 }
      else quiet += 1
    }
  }

  private def unwrap(e: Throwable): Throwable = e match {
    case _: CompletionException | _: ExecutionException =>
      Option(e.getCause).getOrElse(e)
    case _ => e
  }

  /** `get` with the executor wrapper stripped, so callers see the same
    * exception type the sequential formulation threw.
    */
  def await[T](f: JFuture[T]): T =
    try f.get()
    catch { case e: ExecutionException => throw unwrap(e) }
}
