package perfbench

import scala.collection.immutable.ListMap

import Tracer.SpanView

/** Per-layer figures from a traced run's spans. */
object Layers {

  private val MB = 1024.0 * 1024.0

  /** Call-level layer metrics: metric → (span name, statistic). Each is
    * reported for the workloads whose ops (or set-ups, for builds) make
    * that call; a time is the mean per call, jobs the mean per call,
    * and a set-up call its time in the set-up pass.
    */
  val named: Seq[(String, String, String)] = Seq(
    ("bulk_update.guard_s", "BulkUpdate.columnHasReadOnly", "s"),
    ("bulk_update.plan_s", "BulkUpdate.broadcastUpdate", "s"),
    ("bulk_update.plan_s", "BulkUpdate.zipUpdate", "s"),
    ("bulk_update.plan_s", "BulkUpdate.zipUpdateIndexed", "s"),
    ("bulk_update.outcome_s", "BulkUpdate.outcome", "s"),
    ("sources.merge_s", "Sources.mergeColumnUpdate", "s"),
    ("sources.merge_jobs", "Sources.mergeColumnUpdate", "jobs"),
    ("snapshot.resolve_s", "Snapshot.current", "s"),
    ("snapshot.gc_s", "Snapshot.gc", "s"),
    ("similarity.build_s", "Similarity.ivfpqBuildIndex", "setup"),
    ("text.bm25_build_s", "Text.bm25BuildIndex", "setup"),
    ("dedup.build_s", "Dedup.dedupBuildIndex", "setup"),
    ("similarity.probe_s", "Similarity.ivfpqProbeStored", "s"),
    ("similarity.probe_jobs", "Similarity.ivfpqProbeStored", "jobs"),
    ("text.bm25_probe_s", "Text.bm25ProbeStored", "s"),
    ("similarity.append_s", "Similarity.ivfpqAppend", "s"),
    ("similarity.compact_s", "Similarity.ivfpqCompact", "s"),
    ("text.bm25_append_s", "Text.bm25Append", "s"),
    ("text.bm25_compact_s", "Text.bm25Compact", "s"),
    ("dedup.admit_s", "Dedup.dedupAdmit", "s"),
    ("dedup.admit_jobs", "Dedup.dedupAdmit", "jobs"),
    ("text.gate_s", "Text.gopherGate", "s"),
    ("dedup.near_dups_s", "Dedup.minhashNearDups", "s"),
    ("functions.minhash_s", "functions.minhash_sig", "s"),
    ("functions.vector_dot_s", "functions.vector_dot", "s"))

  /** One traced op's totals over its root span and every child. */
  final case class OpFig(wallS: Double, jobs: Int, stages: Int, tasks: Long,
                         gapS: Double, runS: Double, cpuS: Double, gcS: Double,
                         inputMb: Double, shuffleMb: Double, spillMb: Double,
                         outputMb: Double, overlap: Double, opsS: Double,
                         sourcesS: Double, benchS: Double)

  def opFigures(views: Seq[SpanView]): OpFig = {
    val root = views.find(v => v.span.layer == "bench").get
    val s = root.span
    val jobs = views.flatMap(_.jobs).map(j => (j.start, j.end))
    def sumAcc(f: Tracer.Acc => Long): Long = views.map(v => f(v.acc)).sum
    def layerS(prefix: String): Double = views.filter(v => v.span.parent == s.id &&
      v.span.layer.startsWith(prefix)).map(_.span.seconds).sum
    OpFig(s.seconds, jobs.size, views.map(_.stages.size).sum, sumAcc(_.tasks),
      Stats.driverGap(s.startMs, s.endMs, jobs) / 1e3, sumAcc(_.runMs) / 1e3,
      sumAcc(_.cpuNs) / 1e9, (s.gcEnd - s.gcStart) / 1e3, sumAcc(_.inputB) / MB,
      sumAcc(_.shuffleB) / MB, sumAcc(_.spillB) / MB, sumAcc(_.outputB) / MB,
      Stats.overlap(jobs), layerS("ops."), layerS("sources."), root.selfMs / 1e3)
  }

  final class Report(val metrics: ListMap[String, (Double, String)],
                     val named: ListMap[String, Double],
                     val calls: Seq[(String, Int, Double, Double, Double, Double, Double)]) {

    private def overhead(traced: Seq[Double], untraced: Seq[Double]): Option[Double] =
      if (traced.isEmpty || untraced.isEmpty) None
      else Some(Stats.median(traced) - Stats.median(untraced))

    def record(traced: Seq[Double], untraced: Seq[Double]): ListMap[String, Any] = ListMap(
      "per_layer" -> metrics.map { case (k, (v, u)) => k -> ListMap("value" -> v, "unit" -> u) },
      "named" -> named,
      "overhead_s" -> overhead(traced, untraced),
      "traced_p50_s" -> (if (traced.isEmpty) None else Some(Stats.median(traced))),
      "untraced_p50_s" -> (if (untraced.isEmpty) None else Some(Stats.median(untraced))),
      "calls" -> calls.map { case (n, c, d, self, j, t, in) =>
        ListMap("call" -> n, "calls" -> c, "mean_s" -> d, "self_s" -> self,
          "jobs" -> j, "tasks" -> t, "input_mb" -> in)
      })

    def table(traced: Seq[Double], untraced: Seq[Double]): Seq[String] = {
      val head = Seq("per-layer (traced ops; means per op unless noted)") ++
        metrics.map { case (k, (v, u)) => f"  $k%-24s $v%12.6f $u" } ++
        named.map { case (k, v) => f"  $k%-24s $v%12.6f" } ++
        overhead(traced, untraced).map(o =>
          f"  tracing overhead: ${Stats.median(traced)}%.4f s traced - " +
            f"${Stats.median(untraced)}%.4f s untraced = $o%.4f s per op").toSeq
      head ++ Seq(f"  ${"call"}%-34s ${"calls"}%5s ${"mean_s"}%9s ${"self_s"}%9s " +
        f"${"jobs"}%7s ${"tasks"}%8s ${"input_mb"}%9s") ++
        calls.map { case (n, c, d, self, j, t, in) =>
          f"  $n%-34s $c%5d $d%9.4f $self%9.4f $j%7.1f $t%8.1f $in%9.3f"
        }
    }
  }

  def perLayer(views: Seq[SpanView], ops: Set[Long], cores: Int,
               sizes: Map[String, (Long, Long)]): Report = {
    val byOp = views.filter(v => ops(v.span.op)).groupBy(_.span.op)
    val figs = byOp.values.map(opFigures).toSeq
    def mean(f: OpFig => Double): Double =
      if (figs.isEmpty) 0.0 else figs.map(f).sum / figs.size
    def setupS(names: String*): Double = views
      .filter(v => v.span.op < 0 && names.contains(v.span.name)).map(_.span.seconds).sum
    val wall = figs.map(_.wallS).sum
    val metrics = ListMap(
      "spark.jobs" -> (mean(_.jobs.toDouble), "count"),
      "spark.stages" -> (mean(_.stages.toDouble), "count"),
      "spark.tasks" -> (mean(_.tasks.toDouble), "count"),
      "spark.driver_gap_s" -> (mean(_.gapS), "s"),
      "spark.core_busy" -> (if (wall == 0) 0.0 else figs.map(_.runS).sum / (wall * cores), "ratio"),
      "spark.executor_run_s" -> (mean(_.runS), "s"),
      "spark.executor_cpu_s" -> (mean(_.cpuS), "s"),
      "spark.gc_s" -> (mean(_.gcS), "s"),
      "spark.input_mb" -> (mean(_.inputMb), "MB"),
      "spark.shuffle_mb" -> (mean(_.shuffleMb), "MB"),
      "spark.job_overlap" -> (mean(_.overlap), "ratio"),
      "session.start_s" -> (setupS("GraftSession.builder"), "s"),
      "tables.first_read_s" -> (setupS("Tables.lineitem", "Tables.documents",
        "Tables.embeddings", "Tables.table"), "s"),
      "layer.ops_s" -> (mean(_.opsS), "s"),
      "layer.sources_s" -> (mean(_.sourcesS), "s"))

    val opCalls = views.filter(v => ops(v.span.op) && v.span.layer != "bench")
    val calls = opCalls.groupBy(_.span.name).toSeq.sortBy(_._1).map { case (n, vs) =>
      val c = vs.size
      (n, c, vs.map(_.span.seconds).sum / c, vs.map(_.selfMs).sum / 1e3 / c,
        vs.map(_.jobs.size).sum.toDouble / c, vs.map(_.acc.tasks).sum.toDouble / c,
        vs.map(_.acc.inputB).sum / MB / c)
    }
    val byName = calls.map(c => c._1 -> c).toMap
    val namedOut = named.groupBy(_._1).toSeq.sortBy(m => named.indexWhere(_._1 == m._1))
      .flatMap { case (metric, entries) =>
        val stat = entries.head._3
        val spanNames = entries.map(_._2)
        stat match {
          case "setup" =>
            val v = setupS(spanNames: _*)
            if (v > 0) Some(metric -> v) else None
          case _ =>
            val cs = spanNames.flatMap(byName.get)
            if (cs.isEmpty) None
            else {
              val n = cs.map(_._2).sum
              Some(metric -> (if (stat == "jobs") cs.map(c => c._5 * c._2).sum / n
                else cs.map(c => c._3 * c._2).sum / n))
            }
        }
      }
    val extra = Seq.newBuilder[(String, Double)]
    extra += "layer.bench_s" -> mean(_.benchS)
    extra += "spark.spill_mb" -> mean(_.spillMb)
    extra += "snapshot.written_mb" -> mean(_.outputMb)
    for (c <- byName.get("Similarity.ivfpqProbeStored");
         (_, b) <- sizes.get("ivfpq_layout") if b > 0)
      extra += "similarity.probe_input_ratio" -> c._7 * MB / b
    new Report(metrics, ListMap(namedOut ++ extra.result(): _*), calls)
  }

  /** Every span, one JSON object per line; jobs and stages are children
    * of the call that submitted them.
    */
  def spansJsonl(views: Seq[SpanView]): String = {
    val b = new StringBuilder
    views.foreach { v =>
      val s = v.span
      b ++= Json.render(ListMap("id" -> s"s${s.id}", "parent" -> s"s${s.parent}",
        "op" -> s.op, "layer" -> s.layer, "name" -> s.name, "start_ms" -> s.startMs,
        "end_ms" -> s.endMs, "dur_s" -> s.seconds, "self_s" -> v.selfMs / 1e3,
        "tasks" -> v.acc.tasks, "executor_run_s" -> v.acc.runMs / 1e3,
        "input_mb" -> v.acc.inputB / MB, "output_mb" -> v.acc.outputB / MB)) += '\n'
      v.jobs.foreach { j =>
        b ++= Json.render(ListMap("id" -> s"j${j.id}", "parent" -> s"s${s.id}",
          "op" -> s.op, "layer" -> "spark", "name" -> s"job ${j.id}",
          "start_ms" -> j.start, "end_ms" -> j.end)) += '\n'
      }
      v.stages.foreach { st =>
        b ++= Json.render(ListMap("id" -> s"t${st.id}", "parent" -> s"j${st.job}",
          "op" -> s.op, "layer" -> "spark", "name" -> s"stage ${st.id}",
          "start_ms" -> st.start, "end_ms" -> st.end, "tasks" -> st.tasks)) += '\n'
      }
    }
    b.result()
  }
}
