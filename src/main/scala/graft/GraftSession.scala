package graft

import org.apache.spark.sql.SparkSession

/** User entry point: a SparkSession wired for this engine — the graft
  * SQL extensions ([[graft.functions.GraftExtensions]]: the native
  * `vector_dot` / `minhash_sig` / `simhash32` / `phash_bands` /
  * `zorder_key` / `hashed_linear_score` functions, the TopKPerKey
  * planner strategy, and the `ParamLiterals` physical rule, which keeps
  * numeric constants out of generated Java source so a stream of
  * same-shaped jobs reuses Spark's compiled classes instead of
  * compiling new ones per job) plus the
  * configuration the operators assume (UTC session time,
  * nanosecond-parquet handling for `events`-style tables, shuffle
  * parallelism sized to cores rather than the 200 default, and the
  * byte-verified stored-ANN serving settings below).
  *
  * ```scala
  * val spark = GraftSession.builder(master = "local[8]").getOrCreate()
  * // cluster deployments: point the checkpoint dir at durable storage
  * // so the graph and label-propagation loops checkpoint RELIABLY — an
  * // executor loss replays one round, not the whole loop. Trained
  * // centroids and codebooks are held on the driver: no round to lose.
  * spark.sparkContext.setCheckpointDir("hdfs:///checkpoints/graft")
  * Tables.registerViews(spark, "/data/sf0.01")
  * spark.sql("SELECT vector_dot(embedding, embedding) FROM embeddings")
  * ```
  *
  * Serving-path notes (measured in `graft.WeakScale`, recorded in
  * BENCH_NOTES.md):
  *  - runtime bloom-filter injection is DISABLED: on the stored-ANN
  *    probe the injected filter re-scans the already-cell-pruned
  *    vector table once per probe to "reduce" a heap-bounded shortlist
  *    of a few hundred rows — byte-measured pure overhead (2.41 →
  *    1.19 MB per ×8 probe with it off). Sessions that never serve
  *    stored indexes may re-enable it after `builder(...)`.
  *  - dynamic partition pruning stays ON, but note its
  *    `reuseBroadcastOnly` default: a DPP subquery that cannot reuse a
  *    broadcast is dropped at planning, so a plan can LOOK pruned while
  *    reading the full table. The stored-index probes therefore push
  *    their probed-partition sets as STATIC IN-lists and do not depend
  *    on DPP being byte-effective.
  *  - the generated-class cache (`spark.sql.codegen.cache.maxEntries`,
  *    a static conf) holds 256 classes instead of Spark's 100. One
  *    serving cycle of the perfbench `index_serve` workload (IVFADC,
  *    filtered IVFADC, BM25, phrase and near-dup probes) needs about
  *    170-200 distinct classes; an LRU cache smaller than a cyclic
  *    working set never hits, so with 100 entries every probe
  *    recompiled 17-55 classes and ran them cold through the JIT. At
  *    256 a warm probe compiles none. The cost is the classes kept:
  *    heap retained after session stop rose 84.1 → 87.0 MB (+3.4%,
  *    median of ten runs) on that workload; a 2,000-entry cache kept
  *    about 7.6 MB more (+9%).
  *
  * Every main in this repository (`Verify`, `Bench`, `PlanAudit`,
  * `WeakScale`, `PlanDump`, `ProfileQuery`) starts from [[harness]]:
  * this builder on `SPARK_GRAFT_CPUS` cores ([[harnessCpus]]) with the
  * UI off, log level ERROR and a per-harness checkpoint dir. Two of
  * them chain named overrides on top: `PlanAudit.overrides` (AQE off,
  * untruncated scan metadata) and `WeakScale.overrides` (reliable
  * checkpoints, untruncated scan metadata). The specs' shared session
  * applies [[configs]] with the extension installed per session, so a
  * plain session on the same context can serve as the control.
  */
object GraftSession {

  /** The exact configuration [[builder]] applies — exposed so
    * deployments embedding the library into an existing session
    * builder (and the specs) can apply/assert the same settings.
    */
  def configs(shufflePartitions: Int): Map[String, String] = Map(
    "spark.sql.extensions" -> "graft.functions.GraftExtensions",
    "spark.sql.shuffle.partitions" -> shufflePartitions.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "false",
    "spark.sql.codegen.cache.maxEntries" -> "256")

  def builder(master: String = "local[*]",
              shufflePartitions: Option[Int] = None): SparkSession.Builder = {
    val parts = shufflePartitions.getOrElse(
      Runtime.getRuntime.availableProcessors())
    SparkSession.builder().master(master).config(configs(parts))
  }

  /** Cores the mains run on: `SPARK_GRAFT_CPUS`, else the box's cores. */
  private[graft] lazy val harnessCpus: Int =
    sys.env.get("SPARK_GRAFT_CPUS").flatMap(_.toIntOption)
      .getOrElse(Runtime.getRuntime.availableProcessors())

  /** The mains' session: [[builder]] on [[harnessCpus]] cores, UI off,
    * log level ERROR, and `<tmpdir>/graft_ckpt_<name>` as the
    * checkpoint dir of the graph and label-propagation loops' reliable
    * checkpoints ([[graft.sources.Sources.truncatingCheckpoint]]; a
    * cluster deployment points it at durable storage).
    */
  private[graft] def harness(name: String): SparkSession.Builder =
    builder(s"local[$harnessCpus]", Some(harnessCpus))
      .config("spark.ui.enabled", "false")
      .config("spark.log.level", "ERROR")
      .config("spark.checkpoint.dir",
        s"${System.getProperty("java.io.tmpdir")}/graft_ckpt_$name")
}
