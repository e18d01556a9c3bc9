package graft

/** Benchmark main (driver contract): runs every registered query at
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line with per-query and total
  * wall-clock seconds.
  *
  * A full warmup pass runs first so the measured pass reports
  * steady-state engine time (JIT + codegen-compile noise would
  * otherwise dominate the many sub-second queries and make per-query
  * numbers meaningless across rounds).
  */
object Bench {

  /** Codegen-fallback tripwire: a generated class that fails janino
    * compilation makes Spark log a warning and silently run
    * INTERPRETED — correct answers, wrong execution mode (exactly how
    * the 64-chunk pHash projection shipped unnoticed in round 4). This
    * log4j2 appender watches the codegen loggers for the three
    * fallback messages during the bench, so any expression that drops
    * out of codegen is caught in-round: the count lands in the bench
    * line (`codegen_fallbacks`) and the messages in bench_full.json.
    */
  object CodegenWatch {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.{LoggerConfig, Property}

    val hits = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    private val MaxHits = 256 // a per-task fallback on a big stage would
                              // otherwise queue thousands before dedup

    // covers BOTH fallback modes: janino compile failure ("Whole-stage
    // codegen disabled for plan …" / "falling back to interpreter") and
    // the huge-method bytecode check ("… the whole-stage codegen was
    // disabled for this plan")
    private val needles = Seq("codegen disabled", "codegen was disabled",
      "falling back to interpreter", "failed to compile")

    /** Callers MUST have created (and touched) the SparkSession first:
      * Spark's first log call RECONFIGURES the log4j context (applying
      * its defaults profile), which discards any appender installed
      * before that point — the watcher would be silently dead.
      */
    def install(): Unit = {
      // resolve the context by SPARK's classloader, not the caller's
      // thread-context loader: under sbt's forked test runner the test
      // classes live in a child loader with their OWN log4j context,
      // and an appender attached there never sees Spark's events
      val ctx = LogManager
        .getContext(classOf[org.apache.spark.SparkContext].getClassLoader,
          false)
        .asInstanceOf[LoggerContext]
      val cfg = ctx.getConfiguration
      if (cfg.getAppenders.containsKey("graftCodegenWatch")) return
      val app = new AbstractAppender("graftCodegenWatch", null, null, true,
          Property.EMPTY_ARRAY) {
        override def append(ev: LogEvent): Unit = {
          val m = ev.getMessage.getFormattedMessage
          val low = m.toLowerCase
          if (needles.exists(low.contains) && hits.size < MaxHits)
            hits.add(m.linesIterator.nextOption().getOrElse(m).take(300))
        }
      }
      app.start()
      cfg.addAppender(app)
      // the two loggers that announce fallbacks, pinned to INFO so the
      // bench's ERROR root level can't filter them (the huge-method
      // bytecode fallback logs at INFO, the janino-failure one at
      // WARN); additivity off so the captured events don't spam the
      // console — the appender keeps only needle matches anyway
      Seq("org.apache.spark.sql.catalyst.expressions.codegen",
          "org.apache.spark.sql.execution.WholeStageCodegenExec")
        .foreach { name =>
          val lc = new LoggerConfig(name, Level.INFO, false)
          lc.addAppender(app, Level.INFO, null)
          cfg.addLogger(name, lc)
        }
      ctx.updateLoggers()
    }

    def distinctHits: Seq[String] = {
      import scala.jdk.CollectionConverters._
      hits.iterator().asScala.toSeq.distinct
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.harness("bench").getOrCreate()
    // provenance: the bench measures the AQE-ON plans (the Spark 4
    // default and the 100×-scale deployment default); only PLANS.md's
    // static dumps run AQE-off, for readability
    System.err.println(
      s"[bench] spark.sql.adaptive.enabled=" +
        spark.conf.get("spark.sql.adaptive.enabled"))
    CodegenWatch.install()

    // SPARK_GRAFT_BENCH_ONLY=q1,q2 narrows to a subset for targeted
    // experiments (e.g. contention profiling); subset runs never touch
    // bench_full.json — the committed record stays full-board only
    val subset = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => subset.forall(_.contains(n)))
    // A query that throws is charged its elapsed time (the board keeps
    // moving), but the failure is recorded: a failed query's "time" is
    // the time-to-exception, not engine time, and must never become the
    // committed per-query minimum.
    val failed = scala.collection.mutable.LinkedHashSet[String]()
    def runOnce(name: String): Double = {
      val t0 = System.nanoTime()
      try { SparkEntry.queries(name)(spark, sfDir).count(); () }
      catch { case _: Throwable =>
        // A dead context means the JVM is going down (e.g. the launcher
        // was SIGTERMed and Spark's shutdown hook stopped the context
        // mid-pass): every remaining query would then "complete" in
        // ~4 ms as an instant failure, and the per-query MIN would
        // record it — exactly how a killed run once wrote a bench_full
        // with 48 queries at 0.004 s. Abort instead of measuring ghosts.
        if (spark.sparkContext.isStopped)
          sys.error(s"SparkContext stopped mid-bench at $name; aborting")
        failed += name
      }
      (System.nanoTime() - t0) / 1e9
    }
    // NOISE INDEX: the box this bench runs on drifts ±30% on an hour
    // scale (round 9's 167→230 s swing was adjudicated as environment,
    // not code), so every record carries its own weather report — a
    // pinned CONTROL set of queries untouched since round 1, expressed
    // as the ratio to their committed round-1 seconds. A record whose
    // noise index is ~1.3 explains a 1.3× board without blaming the
    // code; a real regression moves the board WITHOUT moving the
    // controls.
    //
    // TWO readings, two jobs (round 12 — round 11 proved a single
    // upfront probe under-reads: it stamped 0.78 while the board ran a
    // uniform +10% vs the prior record, because 2.4 s of back-to-back
    // control runs at t≈0 read INSTANTANEOUS state, not the sustained
    // throughput the 20-30 min board actually experienced):
    //  - the PROBE below (warm + min over 3 back-to-back passes) is
    //    instantaneous by construction — it only decides the timed
    //    pass count, and is never recorded;
    //  - the RECORDED index is computed AFTER the measured passes from
    //    the board's own control-query minimums: the controls ride the
    //    permuted passes like every other query, so their samples are
    //    spread across the full board window and their min-over-passes
    //    is exactly as sustained a reading as the board numbers it is
    //    meant to explain.
    val r01 = readR01()
    val controlsComparable = subset.isEmpty && sfDir.endsWith("sf0.1") &&
      controlSet.forall(n => names.contains(n) && r01.contains(n))
    val probeIndex: Option[Double] =
      if (!controlsComparable) None
      else {
        controlSet.foreach(runOnce) // warm (JIT + codegen + page cache)
        val probePasses = (0 until 3).map(_ =>
          controlSet.map(n => n -> runOnce(n)).toMap)
        val mins = controlSet.map(n => probePasses.map(_(n)).min)
        val ratio = mins.sum / controlSet.map(r01).sum
        System.err.println(
          f"[bench] instantaneous probe (pass-count decision only): " +
            f"$ratio%.2fx r01")
        Some(ratio)
      }

    // warmup: full pass, untimed. The pass doubles as the ARM CAPTURE
    // point: folded entries deposit their per-arm frames as they are
    // constructed (SparkEntry.armCapture), so the record run can time
    // each union branch of the ≥3-arm folds separately without
    // re-running any query's construction-time maintenance.
    //
    // OPT-IN (SPARK_GRAFT_ARMS=1): arm capture + the per-arm re-count
    // pass add most of a board-equivalent of wall-clock, and the
    // driver's bench budget is fixed — round 10's default-on arms
    // were part of why the official run timed out (rc 124). The
    // committed bench_full.json carries `_arms` only when a local
    // arms-enabled run wrote it; the official driver run measures the
    // folds' 2-3-pass minimums only.
    val armsEnabled = sys.env.get("SPARK_GRAFT_ARMS").contains("1")
    val armFrames = scala.collection.mutable.LinkedHashMap[
      String, Seq[(String, org.apache.spark.sql.DataFrame)]]()
    names.foreach { n =>
      if (armsEnabled) {
        val buf = scala.collection.mutable.Buffer[
          (String, org.apache.spark.sql.DataFrame)]()
        SparkEntry.armCapture.set(buf)
        try runOnce(n)
        finally SparkEntry.armCapture.remove()
        if (buf.size >= 3) armFrames += n -> buf.toSeq
      } else runOnce(n)
    }
    // Measured passes, per-query MIN, each pass in a DIFFERENT
    // deterministic order: a single pass carries run-order noise (GC,
    // lazy JIT tiers, OS page cache), and identically-ordered sweeps put
    // every query at the same wall-clock offset each pass, so a machine
    // load spike with any periodicity can land on the SAME query in all
    // passes (round 5: dedup_minhash recorded 19.2 s in both driver
    // passes while a quiet re-run of the same binary gave 0.76 s).
    // Permuting per pass decorrelates query identity from spike timing.
    //
    // PASS COUNT is adaptive to the just-measured instantaneous probe:
    // on a QUIET box (controls ≤ 1.1× their round-1 seconds) two
    // permuted passes already bound run-order noise and the third pass
    // is a board-equivalent of wall-clock the driver budget can't
    // spare; on a noisy box (ratio > 1.1, or no control reading at
    // all) the third pass stays — that is exactly when permutation
    // earns its cost. MERGE runs (SPARK_GRAFT_BENCH_MERGE=1) always
    // take 3 passes: the probe is instantaneous and a merge run's
    // minimums become the committed record, so the stronger defense is
    // worth its cost there (and merge runs are builder-side, off the
    // driver's budget). SPARK_GRAFT_PASSES overrides for experiments —
    // parsed defensively (non-numeric or <1 falls back to the
    // adaptive default rather than throwing after the warmup pass was
    // already paid).
    val mergeRun = sys.env.get("SPARK_GRAFT_BENCH_MERGE").contains("1")
    val nPasses = sys.env.get("SPARK_GRAFT_PASSES")
      .flatMap(_.toIntOption).filter(_ >= 1)
      .getOrElse {
        if (mergeRun) 3
        else if (probeIndex.exists(_ <= 1.1)) 2
        else 3
      }
    System.err.println(s"[bench] timed passes: $nPasses")
    val passes = (0 until nPasses).map { i =>
      val order = new scala.util.Random(7919 * (i + 1)).shuffle(names)
      order.map(n => n -> runOnce(n)).toMap
    }
    val measured = names.map(n => n -> passes.map(_(n)).min)
    // the RECORDED noise index (see the probe comment above): the
    // controls' board-pass minimums vs their round-1 seconds — a
    // sustained reading over the same window as the board numbers.
    // The instantaneous probe values are deliberately excluded: a
    // momentarily-quiet start must not stamp a noisy board quiet.
    val noiseIndex: Option[(Int, Double, Double)] =
      if (!controlsComparable) None
      else {
        val m = measured.toMap
        val r01Sec = controlSet.map(r01).sum
        val nowSec = controlSet.map(m).sum
        System.err.println(
          f"[bench] noise index (sustained, board-pass mins): " +
            f"now=$nowSec%.3f s vs r01=$r01Sec%.3f s -> " +
            f"${nowSec / r01Sec}%.2fx")
        Some((controlSet.size, r01Sec, nowSec))
      }
    // Outlier defense: any query whose min is still >3x its committed
    // prior-round value (bench_full.json, written by the builder on a
    // verified-quiet run) gets two solo re-runs; the official number is
    // the min over everything, and both readings land in bench_full's
    // "_reruns" so a contaminated record is self-documenting.
    val ref = readRef()
    val suspects = measured.filter { case (n, v) =>
      v > 0.5 && ref.get(n).exists(r => v > 3 * r) }.map(_._1)
    val reruns = suspects.map { n =>
      n -> math.min(runOnce(n), runOnce(n)) }.toMap
    val results = measured.map { case (n, v) =>
      n -> math.min(v, reruns.getOrElse(n, v)) }
    // full per-query history: the driver tail keeps only the 12 slowest,
    // so regressions on the other ~190 queries would be invisible
    // round-over-round; bench_full.json (committed per round) makes
    // every query's minimum diffable against the previous round
    // the committed record is the official sf0.1 board ONLY: a full
    // run at another SF (e.g. an sf0.01 smoke) must not clobber the
    // reference the outlier defense compares against
    // ... and only from a run where every query actually ran: with any
    // failure the record would mix engine time with time-to-exception
    if (subset.isEmpty && sfDir.endsWith("sf0.1") && failed.isEmpty) {
      // arm sub-timings for the ≥3-arm folds: one warm count() per arm
      // (visibility, not an official number — the official time is the
      // fold's 3-pass minimum above). Frames captured at warmup; any
      // arm that fails to re-execute records -1 rather than killing
      // the record run.
      val armTimes = armFrames.toSeq.map { case (n, arms) =>
        n -> arms.map { case (tag, df) =>
          val t0 = System.nanoTime()
          val ok = try { df.count(); true } catch { case _: Throwable => false }
          tag -> (if (ok) (System.nanoTime() - t0) / 1e9 else -1.0)
        }
      }
      writeFull(results, sfDir, CodegenWatch.distinctHits,
        suspects.map(n => (n, measured.toMap.apply(n), reruns(n))), armTimes,
        noiseIndex = noiseIndex,
        merge = mergeRun, wallS = Some(jvmElapsedS))
    }
    if (failed.nonEmpty)
      System.err.println(s"[bench] FAILED queries (record not written): " +
        failed.mkString(", "))
    println(renderLine(results, sfDir, CodegenWatch.distinctHits.size,
      noiseIndex, wallS = Some(jvmElapsedS)))
    spark.stop()
  }

  /** Seconds since this JVM started — the bench's own wall-clock,
    * emitted as `wall_s` so each record self-documents its margin
    * against the driver's fixed budget (round 11's notes claimed
    * 21.5-26 min default runs while the driver's actual run took
    * 40:06; nobody could see the real headroom from the artifacts).
    */
  def jvmElapsedS: Double =
    (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

  /** The pinned noise-index control set: queries UNTOUCHED since the
    * round-1 record (same name, same operator code path), spanning the
    * engine's main cost classes — hash-groupBy dedup, join+agg,
    * broadcast top-k, and a text map pass. Their ratio-to-r01 is the record's
    * environment weather report; do not rename or re-shape these
    * queries without re-pinning the set.
    */
  val controlSet: Seq[String] = Seq("dedup_exact", "rel_pricing_summary",
    "rel_revenue_by_region", "sim_cosine_topk", "txt_langid")

  /** Per-query seconds of the committed ROUND-1 record (the values ride
    * inside its escaped "tail" string). Empty map when absent.
    *
    * Stays a REGEX scan deliberately: the driver's tail capture
    * truncates the record's inner JSON line at the FRONT (the
    * committed file starts mid-key), so no JSON parser can read it —
    * the regex harvests whatever well-formed `"name":seconds` pairs
    * survive. BenchRecordSpec pins the harvest (≥50 names, nonzero
    * seconds) so a format drift fails the suite, not silently the
    * noise index.
    */
  def readR01(): Map[String, Double] =
    try {
      val txt = java.nio.file.Files.readString(
        java.nio.file.Paths.get("BENCH_r01.json"))
      val entry = """"([A-Za-z0-9_]+)\\?":([0-9]+\.[0-9]+)""".r
      entry.findAllMatchIn(txt)
        .map(m => m.group(1) -> m.group(2).toDouble)
        .filterNot { case (k, _) => Set("n", "rc", "cpus", "sf", "value")(k) }
        .toMap
    } catch { case _: Throwable => Map.empty }

  /** A parsed bench_full.json record: the TOP-LEVEL per-query seconds
    * (nested `_arms`/`_reruns` sub-timings excluded by construction),
    * the merged-run count, the noise index, the record's SF tag, and
    * the core count it was measured at (`_cpus`; records from rounds
    * ≤ 12 predate the tag — every committed one was a 32-core run, so
    * absent reads as 32) and its noise epoch (`_noise_epoch`; absent
    * reads as 1).
    */
  final case class BenchRecord(queries: Map[String, Double], runs: Int,
                               noise: Option[(Int, Double, Double)],
                               sf: Option[String],
                               armsJson: Option[String],
                               cpus: Option[Int] = None,
                               epoch: Int = 1)

  /** The board's baseline epoch. Epoch 1: records up to round 12.
    * Epoch 2: the board runs on [[GraftSession.harness]] (the shipped
    * extensions and the 256-entry codegen cache). Records of different
    * epochs are never merged or compared.
    */
  val NoiseEpoch = 2

  /** Real-JSON parse of a bench_full.json record (jackson, shipped in
    * Spark's classpath). Only top-level numeric fields whose name does
    * not start with `_` count as query values, so an arm tag that
    * happened to collide with a query name could never floor that
    * query's committed minimum (the old regex scan had exactly that
    * hazard); a malformed record parses to None — loudly nothing,
    * never a silently partial map.
    */
  private[graft] def parseRecord(txt: String): Option[BenchRecord] =
    try {
      import scala.jdk.CollectionConverters._
      val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(txt)
      if (root == null || !root.isObject) None
      else {
        val qs = root.fieldNames().asScala.filterNot(_.startsWith("_"))
          .flatMap { k =>
            val v = root.get(k)
            if (v.isNumber) Some(k -> v.asDouble()) else None
          }.toMap
        val runs = Option(root.get("_runs")).filter(_.isInt)
          .map(_.asInt()).getOrElse(1)
        val noise = Option(root.get("_noise_index")).filter(_.isObject)
          .flatMap { n =>
            (Option(n.get("n")), Option(n.get("r01_sec")),
              Option(n.get("now_sec"))) match {
              case (Some(a), Some(b), Some(c))
                  if a.isNumber && b.isNumber && c.isNumber =>
                Some((a.asInt(), b.asDouble(), c.asDouble()))
              case _ => None
            }
          }
        val sf = Option(root.get("_sf")).filter(_.isTextual).map(_.asText())
        val arms = Option(root.get("_arms")).filter(_.isObject)
          .map(_.toString).filter(_ != "{}")
        val cpus = Option(root.get("_cpus")).filter(_.isInt).map(_.asInt())
        val epoch = Option(root.get("_noise_epoch")).filter(_.isInt)
          .map(_.asInt()).getOrElse(1)
        Some(BenchRecord(qs, runs, noise, sf, arms, cpus, epoch))
      }
    } catch { case _: Throwable => None }

  /** Prior-round per-query seconds for the outlier defense: the
    * committed bench_full.json (or SPARK_GRAFT_BENCH_REF). Missing or
    * unparseable file → empty map → no re-runs, plain pass minimums.
    */
  def readRef(): Map[String, Double] = {
    val path = sys.env.getOrElse("SPARK_GRAFT_BENCH_REF",
      sys.env.getOrElse("SPARK_GRAFT_BENCH_FULL", "bench_full.json"))
    try parseRecord(java.nio.file.Files.readString(
        java.nio.file.Paths.get(path)))
      .map(_.queries).getOrElse(Map.empty)
    catch { case _: Throwable => Map.empty }
  }

  /** All per-query minimums → bench_full.json in the repo root (or
    * SPARK_GRAFT_BENCH_FULL when set), plus any codegen-fallback
    * messages the watcher caught (distinct, truncated).
    *
    * `merge = true` (SPARK_GRAFT_BENCH_MERGE=1) makes the COMMITTED
    * record a min-per-query across runs: the existing same-SF record's
    * values floor the new ones, `_runs` counts the merged runs, and
    * `_noise_index` keeps the quietest run's reading. This is the
    * round-10 noise procedure (BENCH_NOTES.md): one fresh run, then
    * ≥1 merge run — a single run's ±30% box drift can no longer be
    * the committed number. Merge is opt-in, never default: the env
    * flag asserts "same code as the existing record" (min across
    * DIFFERENT code versions would keep a deleted optimization's
    * number alive).
    */
  def writeFull(results: Seq[(String, Double)], sfDir: String,
                fallbacks: Seq[String] = Nil,
                reruns: Seq[(String, Double, Double)] = Nil,
                arms: Seq[(String, Seq[(String, Double)])] = Nil,
                pathOverride: Option[String] = None,
                noiseIndex: Option[(Int, Double, Double)] = None,
                merge: Boolean = false,
                wallS: Option[Double] = None): Unit = {
    val requested = pathOverride.getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_FULL", "bench_full.json"))
    val cpus = GraftSession.harnessCpus
    def readAt(p: String): Option[BenchRecord] =
      (try Some(java.nio.file.Files.readString(
          java.nio.file.Paths.get(p))) catch { case _: Throwable => None })
        .flatMap(parseRecord)
    // CORE-COUNT GUARD: the committed record is the per-query reference
    // the outlier defense and the round-over-round diff key on, and
    // every committed one is a 32-core measurement — a run at another
    // core count (the driver's own scaling run at local[8]) must not
    // clobber it (round 12's verdict: exactly that happened). A
    // mismatched run writes BESIDE the record (bench_full_c<cpus>.json),
    // leaving the existing record byte-identical. Records from rounds
    // ≤ 12 predate the `_cpus` tag; absent reads as 32 (all were
    // 32-core runs). A record of another noise epoch is kept the same
    // way: same-core runs of a new epoch write `_e<epoch>` beside it.
    val path = readAt(requested) match {
      case Some(p) if p.cpus.getOrElse(32) != cpus || p.epoch != NoiseEpoch =>
        val tag =
          if (p.cpus.getOrElse(32) != cpus) s"_c$cpus" else s"_e$NoiseEpoch"
        val div =
          if (requested.endsWith(".json"))
            requested.stripSuffix(".json") + s"$tag.json"
          else requested + tag
        System.err.println(s"[bench] record at $requested is " +
          s"${p.cpus.getOrElse(32)}-core epoch ${p.epoch}; this run is " +
          s"$cpus-core epoch $NoiseEpoch — writing $div instead")
        div
      case _ => requested
    }
    // prior same-SF same-cpus same-epoch record, read on EVERY run: a
    // merge run floors its per-query values with it (TOP-LEVEL values
    // only — real JSON parse, so nested arm tags and rerun sub-timings
    // can never floor a query's committed minimum); a fresh run uses it
    // ONLY to carry the `_arms` block forward when this run captured
    // none (arms are opt-in visibility — without this a round's first
    // record reset them to {} until the next arms-enabled run, ADVICE r11)
    val names = results.map(_._1).toSet
    val prior: Option[BenchRecord] = readAt(path)
        .filter(_.sf.contains(sfDir))
        .filter(_.cpus.getOrElse(32) == cpus)
        .filter(_.epoch == NoiseEpoch)
    val priorVals: Map[String, Double] =
      if (!merge) Map.empty
      else prior.map(_.queries.filter(kv => names(kv._1))).getOrElse(Map.empty)
    val priorRuns: Int = if (merge) prior.map(_.runs).getOrElse(0) else 0
    val priorNoise: Option[(Int, Double, Double)] =
      if (merge) prior.flatMap(_.noise) else None
    val merged = results.map { case (k, v) =>
      k -> math.min(v, priorVals.getOrElse(k, v)) }
    val mergedNoise = (noiseIndex, priorNoise) match {
      case (Some(a), Some(b)) => Some(if (a._3 <= b._3) a else b)
      case (a, b) => a.orElse(b)
    }
    val qs = merged.sortBy(_._1)
      .map { case (k, v) => "  \"" + k + "\": " + f"$v%.3f" }
      .mkString("{\n", ",\n", ",\n")
    def esc(s: String): String =
      s.flatMap { case '"' => "\\\""; case '\\' => "\\\\"
        case c if c < ' ' => " "; case c => c.toString }
    val fb = fallbacks.map(m => "\"" + esc(m) + "\"").mkString("[", ", ", "]")
    val rr = reruns.map { case (n, m, s) =>
      "\"" + n + "\": {\"measured\": " + f"$m%.3f" + ", \"solo\": " + f"$s%.3f" + "}"
    }.mkString("{", ", ", "}")
    // arm sub-timings are OPT-IN (SPARK_GRAFT_ARMS=1): a merge run
    // without them keeps the prior record's _arms block instead of
    // clobbering it with {}
    val am =
      if (arms.isEmpty) prior.flatMap(_.armsJson).getOrElse("{}")
      else arms.map { case (n, ts) =>
        "\"" + n + "\": {" + ts.map { case (tag, v) =>
          "\"" + tag + "\": " + f"$v%.3f" }.mkString(", ") + "}"
      }.mkString("{", ", ", "}")
    val ni = mergedNoise.map { case (n, r01s, nows) =>
      f"""  "_noise_index": {"n": $n, "r01_sec": $r01s%.3f, "now_sec": $nows%.3f, "ratio": ${nows / r01s}%.3f},\n"""
    }.getOrElse("")
    val ws = wallS.map(w => f"""  "_wall_s": $w%.1f,\n""").getOrElse("")
    val tail = s"""  "_total": ${f"${merged.map(_._2).sum}%.3f"},
                  |$ni$ws  "_runs": ${priorRuns + 1},
                  |  "_cpus": $cpus,
                  |  "_noise_epoch": $NoiseEpoch,
                  |  "_codegen_fallbacks": $fb,
                  |  "_reruns": $rr,
                  |  "_arms": $am,
                  |  "_sf": "$sfDir"
                  |}""".stripMargin
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), qs + tail)
  }

  /** The emitted line must stay well under the driver's output-tail
    * capture (~2 KB) or it cannot be parsed (round 1 failed exactly
    * this way): report per-query seconds only for the headline
    * (heaviest) queries, ms precision, the total over ALL registered
    * queries, and the codegen-fallback count (0 = every expression
    * stayed compiled; details in bench_full.json).
    */
  def renderLine(results: Seq[(String, Double)], sfDir: String,
                 nFallbacks: Int = 0,
                 noiseIndex: Option[(Int, Double, Double)] = None,
                 wallS: Option[Double] = None): String = {
    val headline = results.sortBy(-_._2).take(12).sortBy(_._1)
    def r(v: Double): String = f"$v%.3f"
    val qs = headline.map { case (k, v) => "\"" + k + "\":" + r(v) }
      .mkString("{", ",", "}")
    val total = results.map(_._2).sum
    val common = r01Common(results)
    val ni = noiseIndex.map { case (_, r01s, nows) =>
      s""""noise_index":${r(nows / r01s)},""" }.getOrElse("")
    val ws = wallS.map(w => f""""wall_s":$w%.1f,""").getOrElse("")
    s"""{"metric":"total","value":${r(total)},"unit":"sec","n_queries":${results.size},"codegen_fallbacks":$nFallbacks,$ni$ws$common"queries":$qs,"sf":"$sfDir"}"""
  }

  /** Apples-to-apples drift metric against the ROUND-1 record: the
    * total over exactly the 68 queries r01 measured (the registry has
    * since tripled with deliberately expensive write-side index
    * builds, so the aggregate per-query rate mostly tracks the MIX,
    * not the engine — this field tracks the engine). Empty when the
    * committed `BENCH_r01.json` is absent or the current run is a
    * subset.
    */
  def r01Common(results: Seq[(String, Double)]): String = {
    try {
      val r01 = readR01()
      val now = results.toMap
      val common = r01.keySet.intersect(now.keySet)
      // comparable only for FULL-board runs (a bench-subset run misses
      // most r01 queries by construction). The round-7 registry fold
      // merged 11 r01-era variant queries into multi-assert entries,
      // so the honest apples-to-apples intersection is now ~56 names —
      // the sum compares exactly those, which is still the engine
      // drift signal (BENCH_NOTES.md r7 entry).
      if (results.size < SparkEntry.queries.size || common.size < 40) ""
      else {
        val t01 = common.toSeq.map(r01).sum
        val tn = common.toSeq.map(now).sum
        f""""r01_common":{"n":${common.size},"r01_sec":$t01%.3f,"now_sec":$tn%.3f},"""
      }
    } catch { case _: Throwable => "" }
  }
}
