package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** In-memory spans around the benchmark's calls into the library.
  *
  * Every op (and every set-up pass) is a root span; each call the
  * benchmark makes into a layer's public function is a child of its
  * root. Spark jobs, stages and tasks are attributed to the call that
  * submitted them through the job group: the call sets
  * `spark.jobGroup.id` to its span id, the library's `sources.Par`
  * carries that property onto its pool threads, and the listener below
  * maps each job, its stages and their tasks back to the span.
  *
  * When disabled, [[root]] and [[call]] run their bodies and record
  * nothing, so untraced runs pay no tracing cost.
  */
final class Tracer(val enabled: Boolean) {
  import Tracer._

  private val spans = mutable.ArrayBuffer.empty[Span]
  /** The open spans of the calling thread, innermost first. */
  private val stack = new ThreadLocal[List[Span]] {
    override def initialValue(): List[Span] = Nil
  }
  private val nextId = new java.util.concurrent.atomic.AtomicLong(0L)
  @volatile private var sc: Option[SparkContext] = None

  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stages = new ConcurrentHashMap[Int, StageRec]()
  private val acc = new ConcurrentHashMap[Long, Acc]()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      spanOf(e.properties).foreach { sid =>
        jobs.put(e.jobId, JobRec(e.jobId, sid, e.time))
        e.stageIds.foreach(s => stages.putIfAbsent(s, StageRec(s, e.jobId, sid)))
      }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.end = e.time)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stages.get(e.stageInfo.stageId)).foreach { s =>
        s.start = e.stageInfo.submissionTime.getOrElse(0L)
        s.end = e.stageInfo.completionTime.getOrElse(0L)
        s.tasks = e.stageInfo.numTasks
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stages.get(e.stageId)).foreach { s =>
        val a = acc.computeIfAbsent(s.span, _ => new Acc)
        val m = e.taskMetrics
        a.synchronized {
          a.tasks += 1
          if (m != null) {
            a.runMs += m.executorRunTime
            a.cpuNs += m.executorCpuTime
            a.inputB += m.inputMetrics.bytesRead
            a.outputB += m.outputMetrics.bytesWritten
            a.shuffleB += m.shuffleReadMetrics.totalBytesRead +
              m.shuffleWriteMetrics.bytesWritten
            a.spillB += m.memoryBytesSpilled + m.diskBytesSpilled
          }
        }
      }
  }

  private def spanOf(p: java.util.Properties): Option[Long] =
    Option(p).flatMap(x => Option(x.getProperty(GroupKey)))
      .filter(_.startsWith(GroupPrefix))
      .map(_.stripPrefix(GroupPrefix).toLong)

  /** Attach to a (new) SparkContext. */
  def attach(context: SparkContext): Unit = if (enabled) {
    sc = Some(context)
    context.addSparkListener(listener)
  }

  /** Detach before the context stops, once its events are delivered. */
  def detach(): Unit = sc.foreach { c =>
    org.apache.spark.perfbench.Bus.drain(c)
    c.removeSparkListener(listener)
    sc = None
  }

  def root[T](name: String, op: Long)(body: => T): T = run("bench", name, Some(op))(body)

  /** Run `body` on another thread as if it were called here: its spans
    * become children of the caller's open span.
    */
  def inherit[T](body: => T): () => T = {
    val open = stack.get
    () => { stack.set(open); try body finally stack.remove() }
  }

  def call[T](layer: String, name: String)(body: => T): T = run(layer, name, None)(body)

  private def run[T](layer: String, name: String, op: Option[Long])(body: => T): T =
    if (!enabled) body
    else {
      val parent = stack.get.headOption
      val s = Span(nextId.incrementAndGet(), parent.map(_.id).getOrElse(0L),
        op.orElse(parent.map(_.op)).getOrElse(-1L), name, layer,
        System.currentTimeMillis(), System.nanoTime(), gcMillis())
      spans.synchronized { spans += s }
      stack.set(s :: stack.get)
      val prevGroup = sc.map(_.getLocalProperty(GroupKey))
      sc.foreach(_.setLocalProperty(GroupKey, s"$GroupPrefix${s.id}"))
      try body
      finally {
        s.endNs = System.nanoTime()
        s.endMs = System.currentTimeMillis()
        s.gcEnd = gcMillis()
        stack.set(stack.get.tail)
        sc.foreach(_.setLocalProperty(GroupKey, prevGroup.orNull))
      }
    }

  /** Settle the listener and return every recorded span with its jobs. */
  def settle(): Seq[SpanView] = {
    sc.foreach(org.apache.spark.perfbench.Bus.drain)
    val jobsBySpan = jobs.values().asScala.toSeq.groupBy(_.span)
    val stagesByJob = stages.values().asScala.toSeq.groupBy(_.job)
    val all = spans.synchronized(spans.toList)
    val children = all.groupBy(_.parent)
    all.map { s =>
      val js = jobsBySpan.getOrElse(s.id, Nil).sortBy(_.start)
      val kids = children.getOrElse(s.id, Nil)
      val covered = js.map(j => (j.start, j.end)) ++ kids.map(k => (k.startMs, k.endMs))
      val a = Option(acc.get(s.id)).getOrElse(new Acc)
      SpanView(s, js, js.flatMap(j => stagesByJob.getOrElse(j.id, Nil)), a,
        selfMs = (s.endMs - s.startMs) -
          Stats.unionLength(Stats.clip(covered, s.startMs, s.endMs)))
    }
  }

  private def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum
}

object Tracer {
  /** A tracer that records nothing (for the checks' own probes). */
  val off = new Tracer(false)

  val GroupKey = "spark.jobGroup.id"
  val GroupPrefix = "perfbench-"

  final case class Span(id: Long, parent: Long, op: Long, name: String,
                        layer: String, startMs: Long, startNs: Long,
                        gcStart: Long, var endMs: Long = 0L,
                        var endNs: Long = 0L, var gcEnd: Long = 0L) {
    def seconds: Double = (endNs - startNs) / 1e9
  }
  final case class JobRec(id: Int, span: Long, start: Long, var end: Long = 0L)
  final case class StageRec(id: Int, job: Int, span: Long, var start: Long = 0L,
                            var end: Long = 0L, var tasks: Int = 0)
  final class Acc {
    var tasks = 0L; var runMs = 0L; var cpuNs = 0L; var inputB = 0L
    var outputB = 0L; var shuffleB = 0L; var spillB = 0L
  }

  /** A settled span: its own jobs and stages (not its children's), the
    * task totals of those jobs, and its self time (duration minus the
    * part covered by child spans and its jobs).
    */
  final case class SpanView(span: Span, jobs: Seq[JobRec], stages: Seq[StageRec],
                            acc: Acc, selfMs: Long)
}
