package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, MapType, StructField, StructType}
import scala.jdk.CollectionConverters._

import graft.sources.{IndexFS, Snapshot, Sources, StoredLayout}
import graft.sources.Sources.MaintCheckpointSyntax

/** Similarity search over the `embeddings` table (`Array[Float]`
  * vectors): brute-force cosine top-k as the exact baseline, and a
  * random-hyperplane LSH-bucketed variant as the scale path.
  *
  * Scale design: the query side is always the small side — it is
  * broadcast, so the corpus never shuffles. Brute force scans the corpus
  * once per batch of queries (one projection, no join shuffle); the LSH
  * variant first buckets the corpus by hyperplane sign bits so each
  * query only scores its own bucket — corpus shuffle on the bucket key
  * happens once and is reusable across query batches.
  *
  * All arithmetic is double-precision left-fold (0.0 seed), which both
  * Spark (`aggregate`) and the DuckDB oracle (`list_sum` over doubles)
  * evaluate in list order — bit-identical, so even raw similarity
  * values hash-match.
  */
object Similarity {

  /** In-order double dot product of two float vectors — a codegen'd
    * native Expression (graft.functions.FloatVectorDotProduct). Same
    * left-fold result as `aggregate(zip_with(...))`, ~10× faster: HOF
    * lambdas are interpreted and allocate per row; this stays inside
    * whole-stage codegen.
    */
  def dot(a: Column, b: Column): Column =
    graft.functions.VectorFunctions.float_dot(a, b)

  def normSq(a: Column): Column = dot(a, a)

  /** cosine(a,b) = dot / sqrt(|a|²) / sqrt(|b|²) — two sequential
    * divisions, mirrored exactly in the oracle (a*b vs /…/ differ in
    * final ulp).
    */
  def cosine(a: Column, b: Column): Column =
    dot(a, b) / sqrt(normSq(a)) / sqrt(normSq(b))

  /** Per-query descending top-k + rank over a scored frame, through
    * the custom [[graft.plans.TopKPerKeyPlan]] heap node: the map-side
    * PARTIAL heap prunes every input partition to ≤k rows per query
    * BEFORE any shuffle, and nothing ever sorts the full candidate
    * set. The window formulation would shuffle ALL scored rows into
    * nQueries hash partitions — a parallelism ceiling of #queries,
    * fatal on a 1000-executor cluster scoring a large corpus — then
    * sort each. The rank window here touches only the ≤ k×queries
    * survivors. Ordering is (score DESC, neighbor_id ASC), made total
    * by the negated-id tiebreak in the heap's second component.
    * `nKeys`, when the caller knows its query count, bounds the tail
    * ([[rankedTail]]).
    */
  private[ops] def topKRanked(scored: DataFrame, scoreCol: String,
                              k: Int, nKeys: Option[Long] = None): DataFrame = {
    val pruned = org.apache.spark.sql.graftbridge.PlanBridge.topKPerKey(
        scored.withColumn("__tie", -col("neighbor_id")),
        Seq("query_id"), Seq(scoreCol, "__tie"), k)
      .drop("__tie")
    rankedTail(pruned, "query_id", scoreCol, "neighbor_id", nKeys.map(_ * k))
  }

  /** Rank column + output order over per-key top-k survivors
    * (`rank` = row_number by (score DESC, id ASC), rows ordered by
    * (key, rank)). When the caller bounds the survivors on the driver
    * (`maxRows`, e.g. queries × k) and they fit
    * [[graft.sources.Sources.HeldBytes]], the tail runs in ONE
    * partition: `coalesce(1)` satisfies the window's clustering with
    * no shuffle, and a local sort gives the final order — instead of
    * the window's hash shuffle plus the range-partitioned `orderBy`'s
    * sampling job and shuffle. Unbounded (corpus-wide) callers keep
    * the range sort. Both tails return the same rows in the same
    * order.
    */
  private[graft] def rankedTail(pruned: DataFrame, key: String,
                              scoreCol: String, id: String,
                              maxRows: Option[Long]): DataFrame = {
    val w = Window.partitionBy(col(key)).orderBy(col(scoreCol).desc, col(id))
    def ranked(df: DataFrame) =
      df.withColumn("rank", row_number().over(w).cast("long"))
    if (maxRows.exists(Sources.fitsHeld(_, pruned.schema)))
      ranked(pruned.coalesce(1)).sortWithinPartitions(col(key), col("rank"))
    else ranked(pruned).orderBy(col(key), col("rank"))
  }

  /** Brute-force cosine top-k: corpus ⋈ broadcast(queries), score,
    * per-query heap top-k ([[topKRanked]]). Exact; O(corpus × queries)
    * scoring but a single corpus scan and no full-candidate shuffle.
    */
  def cosineTopK(embeddings: DataFrame, nQueries: Int, k: Int): DataFrame = {
    val queries = embeddings.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    val scored = embeddings.repartition(embeddings.sparkSession.sparkContext.defaultParallelism, col("vec_id"))
      .select(col("vec_id").as("neighbor_id"), col("embedding").as("ce"))
      .join(broadcast(queries), col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("qe"), col("ce")).as("sim"))
    topKRanked(scored, "sim", k)
  }

  /** k-NN majority-vote classification over the `label` column — the
    * label-propagation / weak-supervision pattern: each query vector
    * takes the modal label of its k nearest neighbors. Ties break by
    * label value (deterministic, engine-portable); the per-query vote
    * count is tiny so the vote itself is one window over k rows.
    */
  def knnClassify(embeddings: DataFrame, nQueries: Int, k: Int): DataFrame = {
    val topk = cosineTopK(embeddings, nQueries, k)
    val votes = topk
      .join(broadcast(embeddings.select(col("vec_id").as("neighbor_id"),
          col("label"))),
        Seq("neighbor_id"))
      .groupBy(col("query_id"), col("label"))
      .agg(count(lit(1)).as("votes"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("votes").desc, col("label").asc)
    votes.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("query_id"), col("label").cast("long").as("predicted_label"),
        col("votes"))
      .orderBy(col("query_id"))
  }

  /** recall@k of the IVF index against brute-force ground truth —
    * ANN quality evaluated IN-ENGINE (the metric a pipeline monitors
    * when it trades exactness for probe count). Both rankings come from
    * the operators above; the join is per (query, neighbor).
    */
  /** All six recall gates in ONE pass — the engine behind the folded
    * `sim_recall_gates` registry entry. The unfiltered arms (pq, sq,
    * ivf, ivfpq, ivfpq_res) compare against the SAME brute-force
    * ground truth, so it is scored ONCE and held (nQueries·k rows) —
    * [[cosineTopK]] is deterministic, so sharing it is
    * result-identical to the per-gate formulations the oracle
    * re-derives, while saving four full-corpus exact passes. The
    * filtered arm keeps its own filtered ground truth (different
    * candidate set by construction). Each approximate arm keeps its
    * independent training: the gate judges THAT family's index,
    * trained the way that family trains it.
    */
  def recallGates(embeddings: DataFrame, nQueries: Int, k: Int,
                  nlist: Int = 16, nprobe: Int = 4,
                  labelMod: Int = 2): DataFrame = {
    val spark = embeddings.sparkSession
    // the four training/ground-truth chains below are INDEPENDENT of
    // each other (bf truth; coarse quantizer; unit→PQ codebooks; the
    // residual arm's own full training), and each one materializes
    // eagerly round by round — sequentially they idled the
    // executors in every loop's tail. Overlap them from driver threads
    // (guide §2.6); each chain computes exactly what it computed
    // before, so the gate output is bit-identical.
    //
    // shared training: pq/ivf/ivfpq/filtered quantize identically to
    // their standalone formulations (deterministic training over the
    // same inputs), so ONE coarse quantizer and ONE codebook table
    // serve four arms. The residual arm trains on unit vectors
    // (different centroids by construction) and stays independent;
    // SQ8's per-dim min/max "training" is one cheap aggregate.
    val Seq(Seq(bf), Seq(centroids), Seq(unit, codebooks), Seq(resArm)) =
      graft.sources.Par.run(spark)(Seq(
        () => Seq(Sources.hold(cosineTopK(embeddings, nQueries, k)
          .select(col("query_id"), col("neighbor_id")),
          Some(nQueries.toLong * k)).df),
        () => Seq(kmeansCentroids(embeddings, nlist)),
        () => {
          val u = unitVectors(embeddings).maintCheckpoint()
          Seq(u, pqCodebooks(u))
        },
        () => Seq(ivfpqResidualTopK(embeddings, nQueries, k))))
    def gate(variant: String, truth: DataFrame,
             approx: DataFrame): DataFrame =
      truth.join(approx.select(col("query_id").as("q2"),
            col("neighbor_id").as("n2")),
          col("query_id") === col("q2") && col("neighbor_id") === col("n2"),
          "left")
        .groupBy(col("query_id"))
        .agg((count(col("n2")).cast("double") / k).as("recall_at_k"))
        .select(lit(variant).as("variant"), col("query_id"),
          col("recall_at_k"))
    // filtered ground truth: the same predicate applied to the
    // candidate set before exact scoring ([[ivfFilteredRecall]]'s arm)
    val parallelism =
      embeddings.sparkSession.sparkContext.defaultParallelism
    val fcand = embeddings
      .filter(pmod(col("label"), lit(labelMod)) === 0)
      .repartition(parallelism, col("vec_id"))
      .select(col("vec_id").as("neighbor_id"), col("embedding").as("ce"))
    val q = embeddings.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    val fbf = topKRanked(fcand
        .join(broadcast(q), col("neighbor_id") =!= col("query_id"))
        .select(col("query_id"), col("neighbor_id"),
          cosine(col("qe"), col("ce")).as("sim")), "sim", k)
      .select(col("query_id"), col("neighbor_id"))
    val arms = Seq(
      "pq" -> gate("pq", bf, pqTopKWith(unit, codebooks, nQueries, k)),
      "sq" -> gate("sq", bf, sqTopK(embeddings, nQueries, k)),
      "ivf" -> gate("ivf", bf,
        ivfTopKWith(embeddings, centroids, nQueries, k, nprobe)),
      "ivfpq" -> gate("ivfpq", bf, ivfpqTopKWith(embeddings, unit,
        centroids, codebooks, nQueries, k, nprobe)),
      "ivfpq_res" -> gate("ivfpq_res", bf, resArm),
      "ivf_filtered" -> gate("ivf_filtered", fbf, ivfFilteredTopKWith(
        embeddings, centroids, nQueries, k, nprobe, labelMod)))
    // bespoke fold (shared ground truth + quantizers): deposit the arm
    // frames for the bench's per-arm sub-timings, like foldedQuery does
    Option(graft.SparkEntry.armCapture.get())
      .foreach(buf => arms.foreach(buf += _))
    arms.map(_._2).reduce(_.unionByName(_))
      .orderBy(col("variant"), col("query_id"))
  }

  def ivfRecall(embeddings: DataFrame, nQueries: Int, k: Int): DataFrame = {
    val bf = cosineTopK(embeddings, nQueries, k)
      .select(col("query_id"), col("neighbor_id"))
    val ivf = ivfTopK(embeddings, nQueries, k)
      .select(col("query_id").as("q2"), col("neighbor_id").as("n2"))
    bf.join(ivf,
        col("query_id") === col("q2") && col("neighbor_id") === col("n2"),
        "left")
      .groupBy(col("query_id"))
      .agg((count(col("n2")).cast("double") / k).as("recall_at_k"))
      .orderBy(col("query_id"))
  }

  /** Recall gate for FILTERED search: [[ivfFilteredTopK]] against the
    * filtered BRUTE FORCE (the same predicate applied to the candidate
    * set before exact scoring) — what pre-filtering costs in recall at
    * a given nprobe under the predicate's selectivity. The production
    * reading: as the predicate gets more selective, fewer passing
    * vectors live in the probed cells, and this gate is the signal to
    * raise nprobe (the knob the pre-filter formulation trades on).
    */
  def ivfFilteredRecall(embeddings: DataFrame, nQueries: Int, k: Int,
                        nlist: Int = 16, nprobe: Int = 4,
                        labelMod: Int = 2): DataFrame = {
    val parallelism =
      embeddings.sparkSession.sparkContext.defaultParallelism
    val cand = embeddings
      .filter(pmod(col("label"), lit(labelMod)) === 0)
      .repartition(parallelism, col("vec_id"))
      .select(col("vec_id").as("neighbor_id"), col("embedding").as("ce"))
    val q = embeddings.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    val scored = cand
      .join(broadcast(q), col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("qe"), col("ce")).as("sim"))
    val bf = topKRanked(scored, "sim", k)
      .select(col("query_id"), col("neighbor_id"))
    val f = ivfFilteredTopK(embeddings, nQueries, k, nlist, nprobe, labelMod)
      .select(col("query_id").as("q2"), col("neighbor_id").as("n2"))
    bf.join(f,
        col("query_id") === col("q2") && col("neighbor_id") === col("n2"),
        "left")
      .groupBy(col("query_id"))
      .agg((count(col("n2")).cast("double") / k).as("recall_at_k"))
      .orderBy(col("query_id"))
  }

  /** Deterministic pseudo-random hyperplanes (LCG over the flat index,
    * Weyl-style): plane(i)(j) ∈ [-1, 1). Pure data-independent
    * constants — both engines materialize the SAME literals, and any
    * worker can regenerate them without coordination.
    */
  val numPlanes = 8
  val dim = 64

  def planeValue(i: Int, j: Int): Double = {
    val x = ((i.toLong * dim + j + 1) * 2654435761L) % 4294967296L
    x.toDouble / 2147483648.0 - 1.0
  }

  val planes: Seq[Seq[Double]] =
    (0 until numPlanes).map(i => (0 until dim).map(j => planeValue(i, j)))

  /** Sign-bit bucket key of a vector under the hyperplanes: "01101100". */
  def bucketKey(vec: Column): Column = {
    val bits = planes.map { p =>
      val planeCol = array(p.map(lit): _*)
      when(dot(planeCol, vec) > 0, lit("1")).otherwise(lit("0"))
    }
    concat(bits: _*)
  }

  /** LSH-bucketed approximate NN: score only same-bucket candidates.
    * Trades recall for a candidate set ~corpus/2^numPlanes per query.
    */
  def lshTopK(embeddings: DataFrame, nQueries: Int, k: Int): DataFrame = {
    val bucketed = embeddings.repartition(embeddings.sparkSession.sparkContext.defaultParallelism, col("vec_id"))
      .select(col("vec_id"), col("embedding"), bucketKey(col("embedding")).as("bucket"))
    val queries = bucketed.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"), col("bucket"))
    val scored = bucketed
      .select(col("vec_id").as("neighbor_id"), col("embedding").as("ce"), col("bucket"))
      .join(broadcast(queries), Seq("bucket"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("qe"), col("ce")).as("sim"))
    topKRanked(scored, "sim", k)
  }

  /** Johnson–Lindenstrauss random-projection geometry: [[rpDim]] dense
    * projection planes from the same deterministic LCG family as the
    * LSH hyperplanes ([[planeValue]]), offset by [[numPlanes]] so the
    * two plane sets never share a row. Data-independent constants —
    * both engines materialize identical literals, any worker
    * regenerates them without coordination, and (unlike a trained
    * rotation) nothing has to be fit, stored, or kept fresh.
    *
    * 2× compression (64 → 32): the JL distortion bound scales as
    * √(ln n / d'), and the fixture embeddings are i.i.d. isotropic
    * (neighbor cosines are statistically near-indistinguishable — the
    * honest-measurement note at [[ivfIters]]), so 4× compression
    * shortlists near chance there while 2× keeps measurable signal;
    * real clustered embeddings tolerate far more.
    */
  val rpDim = 32

  val rpPlanes: Seq[Seq[Double]] =
    (0 until rpDim).map(i => (0 until dim).map(j => planeValue(i + numPlanes, j)))

  /** Project a [[dim]]-dim vector to [[rpDim]] dims through the native
    * [[graft.functions.PlaneProject]] expression — bit-identical to a
    * column of per-plane [[dot]]s against literal arrays (same
    * multiplies and additions, same order), but ONE plan node instead
    * of rpDim × dim Literal nodes: the 2048-literal tree cost real
    * analyzer/optimizer/janino time on every run of the JL arm.
    */
  def rpProject(vec: Column): Column =
    graft.functions.VectorFunctions.plane_project(vec, numPlanes, rpDim, dim)

  /** Two-stage retrieval through RANDOM-PROJECTION compression
    * (Johnson–Lindenstrauss): shortlist `nCand` per query by cosine in
    * the [[rpDim]]-dim projected space (2× fewer multiplies per
    * candidate than full-width scoring), then re-rank the shortlist
    * with exact full-width cosine — [[pqRerankTopK]]'s shape with JL
    * instead of PQ as the compressor. The trade a 100 TB pipeline
    * cares about: RP needs NO training pass and no stored codebooks
    * (the planes are constants), at the cost of a weaker
    * distance-preservation guarantee per byte than a trained
    * quantizer — which is why both live in the engine, with
    * [[pqRecall]]-style recall measurement for each.
    *
    * Scale shape: the projection is a per-row map inside the scan
    * (no shuffle); shortlist selection is the two-phase heap node;
    * the exact re-rank touches only queries × nCand rows.
    */
  def rpRerankTopK(embeddings: DataFrame, nQueries: Int, k: Int,
                   nCand: Int = 20): DataFrame = {
    val parallelism =
      embeddings.sparkSession.sparkContext.defaultParallelism
    // project BEFORE the balancing shuffle (the exchange then carries
    // rpDim doubles + a norm per row, not the full-width vector), and
    // precompute each side's norm ONCE per row below the join — the
    // per-pair score is then a single rpDim-dot and two divisions,
    // bit-identical to cosine(qrp, rp) (same dot, same two sequential
    // divisions in the same query-then-neighbor order)
    // the norm is computed ABOVE the exchange: below it, CollapseProject
    // would inline the projection into the norm's self-dot and compute
    // it three times per row (the materialization-blocking rule the
    // token pipelines use); the exchange boundary pins `rp` computed
    // once
    val proj = embeddings
      .select(col("vec_id").as("neighbor_id"),
        rpProject(col("embedding")).as("rp"))
      .repartition(parallelism, col("neighbor_id"))
      .withColumn("rpn", sqrt(normSq(col("rp"))))
    val qproj = embeddings.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"),
        rpProject(col("embedding")).as("qrp"))
      .withColumn("qrpn", sqrt(normSq(col("qrp"))))
    val scoredRp = proj
      .join(broadcast(qproj), col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        (dot(col("qrp"), col("rp")) / col("qrpn") / col("rpn")).as("rpsim"))
    val cands = org.apache.spark.sql.graftbridge.PlanBridge.topKPerKey(
        scoredRp.withColumn("__tie", -col("neighbor_id")),
        Seq("query_id"), Seq("rpsim", "__tie"), nCand)
      .select(col("query_id"), col("neighbor_id"))
    val full = embeddings
      .select(col("vec_id").as("neighbor_id"), col("embedding").as("ce"))
    val q = embeddings.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    val scored = full.join(broadcast(cands), Seq("neighbor_id"))
      .join(broadcast(q), Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("qe"), col("ce")).as("sim"))
    topKRanked(scored, "sim", k)
  }

  /** Matryoshka prefix width for [[mrlRerankTopK]] — 4× compression
    * of the 64-dim fixtures. MRL-trained encoders front-load
    * information so the prefix is a usable embedding on its own; on
    * untrained vectors the prefix carries dims/mrlDim of the variance
    * (the same honest-measurement note as the JL planes).
    */
  val mrlDim = 16

  /** Two-stage retrieval through MATRYOSHKA truncation (MRL,
    * Kusupati et al. 2022, public): shortlist `nCand` per query by
    * cosine over the FIRST [[mrlDim]] dimensions — a zero-compute
    * "projection" (an array slice: no planes, no training, no stored
    * artifacts, not even multiplies to compress) — then re-rank the
    * shortlist with exact full-width cosine. Completes the
    * compression triptych the engine serves: trained codebooks
    * ([[pqRerankTopK]]) > data-independent planes ([[rpRerankTopK]])
    * > prefix truncation (this) — each trading preparation cost
    * against distance fidelity; MRL's bet is that the ENCODER was
    * trained to front-load, making the cheapest compressor the best
    * one when you control the model.
    *
    * Scale shape: the slice is a per-row projection inside the scan
    * (no shuffle, no compute); shortlist through the two-phase heap
    * node; exact re-rank touches queries × nCand rows.
    */
  def mrlRerankTopK(embeddings: DataFrame, nQueries: Int, k: Int,
                    nCand: Int = 20): DataFrame = {
    val parallelism =
      embeddings.sparkSession.sparkContext.defaultParallelism
    val proj = embeddings.repartition(parallelism, col("vec_id"))
      .select(col("vec_id").as("neighbor_id"),
        slice(col("embedding"), 1, mrlDim).as("mr"))
    val qproj = embeddings.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"),
        slice(col("embedding"), 1, mrlDim).as("qmr"))
    val scoredMr = proj
      .join(broadcast(qproj), col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("qmr"), col("mr")).as("msim"))
    val cands = org.apache.spark.sql.graftbridge.PlanBridge.topKPerKey(
        scoredMr.withColumn("__tie", -col("neighbor_id")),
        Seq("query_id"), Seq("msim", "__tie"), nCand)
      .select(col("query_id"), col("neighbor_id"))
    val full = embeddings
      .select(col("vec_id").as("neighbor_id"), col("embedding").as("ce"))
    val q = embeddings.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    val scored = full.join(broadcast(cands), Seq("neighbor_id"))
      .join(broadcast(q), Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("qe"), col("ce")).as("sim"))
    topKRanked(scored, "sim", k)
  }

  /** Vector L2-normalization as a reusable projection. NOTE: the norm
    * is re-evaluated inside the (interpreted) lambda per ELEMENT —
    * O(dim²) per vector. Fine for one-off projections; hot paths use
    * the hoisted two-step form in [[unitVectors]] instead.
    */
  def normalized(vec: Column): Column =
    transform(vec, x => x.cast("double") / sqrt(normSq(vec)))

  /** Number of Lloyd iterations for the IVF coarse quantizer. Fixed (not
    * convergence-tested) so the trained quantizer is a pure function of
    * the data — the determinism the oracle hash check requires.
    *
    * Measured honestly: the synthetic fixture embeddings are i.i.d.
    * isotropic (mean same-label cosine 0.0016 vs 0.0003 across labels —
    * no cluster structure), so recall@5 under the trained quantizer is
    * statistically flat vs the seeded one (0.85–0.925 across iteration
    * counts at nprobe=4; each of the 8 queries quantizes recall in 0.2
    * steps). On clustered real-world embeddings Lloyd iterations are
    * what aligns cells with the data's modes; `sim_ivf_recall` now
    * evaluates that trained quantizer rather than a fixed artifact.
    */
  val ivfIters = 3

  /** argmax-cosine cell assignment against a (small, broadcast) centroid
    * set: ties break on centroid_id, so assignment is total and
    * deterministic.
    *
    * Shape note: argmax is `max_by` over a TOTAL ordering key, not a
    * `row_number` window — the aggregation partial-combines map-side
    * (nlist·N scored rows collapse to N before any shuffle) and never
    * sorts, where the window shuffles the full fan-out and sorts each
    * partition. (cs, -centroid_id) makes the ordering total, so the
    * map-side combine order cannot change the result.
    *
    * `extra` names metadata columns of `embeddings` to carry through
    * the assignment unchanged — how filter columns (e.g. `label`)
    * ride into the cell-partitioned stored layout so query-time
    * predicates become plain pushed-down Parquet filters there.
    */
  def assignCells(embeddings: DataFrame, centroids: DataFrame,
                  extra: Seq[String] = Nil): DataFrame = {
    val carried = Seq("embedding") ++ extra
    val scored = embeddings
      .repartition(embeddings.sparkSession.sparkContext.defaultParallelism, col("vec_id"))
      .join(broadcast(centroids))
      .select(col("vec_id") +: carried.map(col) :+
        col("centroid_id") :+
        cosine(col("embedding"), col("ce")).as("cs"): _*)
    scored.groupBy(col("vec_id"))
      .agg(max_by(struct(carried.map(col) :+ col("centroid_id"): _*),
        struct(col("cs"), -col("centroid_id"))).as("best"))
      .select(col("vec_id") +:
        carried.map(c => col(s"best.$c").as(c)) :+
        col("best.centroid_id").as("cell"): _*)
  }

  /** Quantizer-training sample rate (percent) and fold block width.
    * Production quantizers train on a bounded sample, never the full
    * corpus — at 100 TB the training input must not scale with the
    * data. 50% here keeps the tiny fixtures trainable; at scale the
    * same knob is 0.1–1%.
    */
  val trainPct = 50
  val trainBlock = 256

  /** Deterministic md5 hash-sample of the corpus feeding quantizer
    * TRAINING (same device as `Text.hashSample`: reproducible across
    * runs, engines, and partition layouts, unlike seeded `df.sample`).
    */
  def trainingSample(embeddings: DataFrame): DataFrame =
    embeddings.filter(
      Text.tokenHash(col("vec_id").cast("string")) % 100 < trainPct)

  /** Deterministic per-group mean of `v`, folded with FIXED block
    * boundaries: rows group by (keys, vec_id div [[trainBlock]]), each
    * block left-folds its ≤[[trainBlock]] members in vec_id order, and
    * the block sums left-fold in block order. A float sum's value
    * depends on addition order, so plain `avg()` is partition-count-
    * dependent and would break both the DuckDB hash oracle and the
    * 4-vs-32-thread determinism gate; a single-level sorted fold is
    * deterministic but materializes a WHOLE cell in one aggregation
    * buffer (multi-GB for a hot cell at 100×). The two-level fold keeps
    * every buffer ≤[[trainBlock]] structs (inner) or one struct per
    * block (outer) while remaining a pure function of the data.
    * Expects columns `vec_id`, `v`; emits keys + `mv`.
    */
  private def twoLevelMean(dims: DataFrame, keys: Seq[String]): DataFrame = {
    val kcols = keys.map(col)
    val blocks = dims
      .withColumn("blk", expr(s"vec_id div $trainBlock"))
      .groupBy(kcols :+ col("blk"): _*)
      .agg(aggregate(sort_array(collect_list(struct(col("vec_id"), col("v")))),
          lit(0.0), (acc, x) => acc + x.getField("v").cast("double")).as("bsum"),
        count(lit(1)).as("bn"))
    blocks.groupBy(kcols: _*)
      .agg((aggregate(sort_array(collect_list(struct(col("blk"), col("bsum")))),
        lit(0.0), (acc, x) => acc + x.getField("bsum"))
        / sum(col("bn"))).as("mv"))
  }

  /** k-means training for the IVF coarse quantizer: [[ivfIters]] Lloyd
    * iterations as pure DataFrame ops over the [[trainingSample]] —
    * training input is a bounded hash-sample, not the corpus. Init =
    * the embeddings of the `nlist` lowest vec_ids of the FULL corpus
    * (deterministic, sample-independent seeding); update = the
    * per-dimension [[twoLevelMean]] of each cell's sampled members, so
    * no aggregation buffer ever holds a whole cell. Each iteration's
    * centroids (nlist rows) are held on the driver ([[Sources.hold]]):
    * iteration i never re-runs iterations 0..i−1, and the returned
    * quantizer is a local relation that feeds both the assignment and
    * the probe chain without recomputation.
    */
  def kmeansCentroids(embeddings: DataFrame, nlist: Int,
                      iters: Int = ivfIters): DataFrame = {
    // the sample is re-scanned every iteration — checkpoint the filter
    val sample = trainingSample(embeddings).maintCheckpoint()
    var cent = embeddings.filter(col("vec_id") < nlist)
      .select(col("vec_id").as("centroid_id"),
        transform(col("embedding"), x => x.cast("double")).as("ce"))
    for (_ <- 1 to iters) {
      val dims = assignCells(sample, cent)
        .select(col("cell"), col("vec_id"),
          posexplode(col("embedding")).as(Seq("j", "v")))
      val means = twoLevelMean(dims, Seq("cell", "j"))
      cent = Sources.hold(means.groupBy(col("cell"))
        .agg(transform(sort_array(collect_list(struct(col("j"), col("mv")))),
          x => x.getField("mv")).as("ce"))
        .select(col("cell").as("centroid_id"), col("ce")), Some(nlist.toLong)).df
    }
    cent
  }

  /** IVF (inverted-file) ANN — the other classic scale path: a k-means
    * coarse quantizer of `nlist` centroids partitions the corpus; a
    * query scores only the vectors assigned to its `nprobe` nearest
    * centroids. Assignment = argmax cosine over the broadcast trained
    * centroid set; at 100 TB the corpus is written partitioned by
    * `cell` ([[graft.sources.Sources.writeIvfCells]]) so a probe reads
    * only nprobe/nlist of the data — partition pruning on the probe
    * scan is asserted in SourcesSpec, not just claimed here.
    */
  def ivfAssign(embeddings: DataFrame, nlist: Int): DataFrame =
    assignCells(embeddings, kmeansCentroids(embeddings, nlist))

  /** Per-label centroid embeddings — the class-prototype vectors a
    * weak-supervision / nearest-centroid-classification pipeline
    * derives from labeled embeddings — through the same deterministic
    * [[twoLevelMean]] as quantizer training: block-bounded buffers,
    * bit-stable across partitionings, hash-checkable. Output is
    * flattened to (label, dim_idx, mean_v) rows for the cross-engine
    * compare.
    */
  def labelCentroids(embeddings: DataFrame): DataFrame = {
    val dims = embeddings
      .repartition(embeddings.sparkSession.sparkContext.defaultParallelism,
        col("vec_id"))
      .select(col("label").cast("long").as("label"), col("vec_id"),
        posexplode(col("embedding")).as(Seq("j", "v")))
    twoLevelMean(dims, Seq("label", "j"))
      .select(col("label"), (col("j") + 1).cast("long").as("dim_idx"),
        col("mv").as("mean_v"))
      .orderBy(col("label"), col("dim_idx"))
  }

  /** Embedding k-means clustering as a first-class output: the trained
    * quantizer's cell census (size + smallest member id per cell) — the
    * corpus-segmentation / topic-bucketing read of the same artifact
    * the ANN index probes. One assignment scan + one count aggregation.
    */
  def kmeansCellStats(embeddings: DataFrame, nlist: Int): DataFrame =
    ivfAssign(embeddings, nlist)
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n_members"), min(col("vec_id")).as("first_vec"))
      .orderBy(col("cell"))

  /** IVF top-k: probe the query's `nprobe` best cells, exact-score only
    * their members. Assignment and probing share ONE trained quantizer
    * (a held nlist-row frame, broadcast to both sides).
    */
  def ivfTopK(embeddings: DataFrame, nQueries: Int, k: Int,
              nlist: Int = 16, nprobe: Int = 4): DataFrame =
    ivfTopKWith(embeddings, kmeansCentroids(embeddings, nlist),
      nQueries, k, nprobe)

  /** [[ivfTopK]] with a precomputed coarse quantizer (the
    * [[recallGates]] sharing point). Result-identical.
    */
  private[graft] def ivfTopKWith(embeddings: DataFrame,
                                 centroids: DataFrame, nQueries: Int,
                                 k: Int, nprobe: Int = 4): DataFrame = {
    val assigned = assignCells(embeddings, centroids)
    // query → its nprobe nearest centroids
    val probes = embeddings.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
      .join(broadcast(centroids))
      .select(col("query_id"), col("qe"), col("centroid_id"),
        cosine(col("qe"), col("ce")).as("cs"))
    val pw = Window.partitionBy(col("query_id"))
      .orderBy(col("cs").desc, col("centroid_id"))
    val probeCells = probes.withColumn("rn", row_number().over(pw))
      .filter(col("rn") <= nprobe)
      .select(col("query_id"), col("qe"), col("centroid_id").as("cell"))
    // score only the probed cells' members
    val scored = assigned
      .join(broadcast(probeCells), Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        cosine(col("qe"), col("embedding")).as("sim"))
    topKRanked(scored, "sim", k)
  }

  /** Skew-guarded IVF probe scoring for the MANY-QUERIES regime. When
    * the (query, probed-cell) frame is too large to broadcast, probing
    * becomes a shuffle join on `cell` — and cell sizes are
    * data-dependent, so at 100× one hot cell would land on a single
    * reducer and own the stage. The salted variant splits every cell
    * into `salts` shards: the corpus side's shard is a deterministic
    * hash of vec_id, the probe side replicates each probed cell once
    * per shard (an `salts`-row explode, not a crossJoin — the
    * [[Relational.saltedSupplierRevenue]] pattern), and the join key
    * becomes (cell, salt), so a hot cell spreads over `salts`
    * reducers. Results are IDENTICAL to [[ivfTopK]] — the registry
    * oracle computes the unsalted plan — and the per-shard candidate
    * bound is asserted in OpsSpec.
    */
  def ivfTopKSalted(embeddings: DataFrame, nQueries: Int, k: Int,
                    nlist: Int = 16, nprobe: Int = 4,
                    salts: Int = 8): DataFrame = {
    val centroids = kmeansCentroids(embeddings, nlist)
    val assigned = assignCells(embeddings, centroids)
      .withColumn("salt",
        pmod(Text.tokenHash(col("vec_id").cast("string")), lit(salts.toLong)))
    val probes = embeddings.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
      .join(broadcast(centroids))
      .select(col("query_id"), col("qe"), col("centroid_id"),
        cosine(col("qe"), col("ce")).as("cs"))
    val pw = Window.partitionBy(col("query_id"))
      .orderBy(col("cs").desc, col("centroid_id"))
    val probeCells = probes.withColumn("rn", row_number().over(pw))
      .filter(col("rn") <= nprobe)
      .select(col("query_id"), col("qe"), col("centroid_id").as("cell"))
      .withColumn("salt", explode(sequence(lit(0L), lit(salts - 1L))))
    val scored = assigned.join(probeCells, Seq("cell", "salt"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        cosine(col("qe"), col("embedding")).as("sim"))
    topKRanked(scored, "sim", k)
  }

  /** FILTERED vector search — top-k under a metadata predicate, the
    * production ANN feature every serving stack grows next (FAISS
    * IDSelector / Lucene-KNN filter / pgvector WHERE): "nearest
    * neighbors among vectors with label ∈ …". This is the PRE-filter
    * formulation: the index is built over the FULL corpus (the filter
    * is query-time, so one index serves every predicate), the probe
    * ranks cells as usual, and the predicate lands on the candidate
    * scan BEFORE scoring — at 100 TB the filter column rides in the
    * cell-partitioned layout next to the vectors, so the predicate is
    * an ordinary pushed-down Parquet filter on the probed partitions,
    * never a join. Contrast POST-filtering (filter the unfiltered
    * top-k afterwards), which silently returns < k rows whenever the
    * filter is selective; pre-filtering keeps k honest at the cost of
    * scoring only same-cell survivors — recall under selective
    * predicates is recovered by raising nprobe (OpsSpec gates recall
    * vs the filtered brute force).
    *
    * The default predicate (even label) is interpolated into the
    * DuckDB oracle from the same literal.
    */
  def ivfFilteredTopK(embeddings: DataFrame, nQueries: Int, k: Int,
                      nlist: Int = 16, nprobe: Int = 4,
                      labelMod: Int = 2): DataFrame =
    ivfFilteredTopKWith(embeddings, kmeansCentroids(embeddings, nlist),
      nQueries, k, nprobe, labelMod)

  /** [[ivfFilteredTopK]] with a precomputed coarse quantizer (the
    * [[recallGates]] sharing point — the filtered index is built over
    * the FULL corpus, so it trains exactly like [[ivfTopK]]'s).
    */
  private[graft] def ivfFilteredTopKWith(embeddings: DataFrame,
                                         centroids: DataFrame,
                                         nQueries: Int, k: Int,
                                         nprobe: Int = 4,
                                         labelMod: Int = 2): DataFrame = {
    // assignment carrying the filter column (assignCells drops it; the
    // max_by struct is the same shape plus `label`)
    val scoredAssign = embeddings
      .repartition(embeddings.sparkSession.sparkContext.defaultParallelism,
        col("vec_id"))
      .join(broadcast(centroids))
      .select(col("vec_id"), col("embedding"), col("label"),
        col("centroid_id"), cosine(col("embedding"), col("ce")).as("cs"))
    val assigned = scoredAssign.groupBy(col("vec_id"))
      .agg(max_by(struct(col("embedding"), col("label"), col("centroid_id")),
        struct(col("cs"), -col("centroid_id"))).as("best"))
      .select(col("vec_id"), col("best.embedding").as("embedding"),
        col("best.label").as("label"), col("best.centroid_id").as("cell"))
    val filtered = assigned.filter(pmod(col("label"), lit(labelMod)) === 0)
    val probes = embeddings.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
      .join(broadcast(centroids))
      .select(col("query_id"), col("qe"), col("centroid_id"),
        cosine(col("qe"), col("ce")).as("cs"))
    val pw = Window.partitionBy(col("query_id"))
      .orderBy(col("cs").desc, col("centroid_id"))
    val probeCells = probes.withColumn("rn", row_number().over(pw))
      .filter(col("rn") <= nprobe)
      .select(col("query_id"), col("qe"), col("centroid_id").as("cell"))
    val scored = filtered
      .join(broadcast(probeCells), Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        cosine(col("qe"), col("embedding")).as("sim"))
    topKRanked(scored, "sim", k)
  }

  // ---- Product quantization (Jégou, Douze & Schmid, "Product
  // Quantization for Nearest Neighbor Search", TPAMI 2011) ----

  /** PQ geometry: M subspaces of dsub dims, ksub centroids each. A
    * vector compresses to M small codes — at 100 TB THE memory story:
    * 4 bytes/vector here vs 256 bytes of float32, so a trillion-vector
    * index fits a modest cluster's RAM while full vectors stay in
    * cold storage for optional re-ranking.
    */
  val pqM = 4
  val pqDsub: Int = dim / pqM
  val pqKsub = 16
  val pqIters = 2

  /** 1-based subvector slice of subspace m. */
  def subvec(vec: Column, m: Int): Column = slice(vec, m * pqDsub + 1, pqDsub)

  /** Squared L2 via three in-order dot folds — the exact shape the
    * oracle mirrors with three list_sums, so distances (and therefore
    * argmin assignments) are bit-identical across engines.
    */
  def l2sq(a: Column, c: Column): Column =
    dot(a, a) - lit(2.0) * dot(a, c) + dot(c, c)

  /** L2-normalized corpus as double vectors: PQ here approximates
    * COSINE (train/encode/score on unit vectors), so the brute-force
    * cosine top-k stays the ground truth for recall.
    */
  private def unitVectors(embeddings: DataFrame): DataFrame =
    embeddings
      .repartition(embeddings.sparkSession.sparkContext.defaultParallelism,
        col("vec_id"))
      // norm hoisted to its own projection: one dot fold per vector,
      // then the divide lambda references the materialized column —
      // O(dim) instead of [[normalized]]'s O(dim²) re-fold per element
      .select(col("vec_id"), col("embedding"),
        sqrt(normSq(col("embedding"))).as("nrm"))
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double") / col("nrm"))
          .as("embedding"))

  /** All M codebooks, tagged by subspace: (m, code, ce) — M×ksub rows,
    * always the broadcast side.
    *
    * The M subspace k-means runs are BATCHED into one loop: every
    * frame carries the subspace tag `m` in its keys, so per round the
    * whole corpus does ONE assignment pass and ONE mean aggregation
    * covering all M codebooks (M separate trainings launched 4× the
    * jobs and checkpoints for the same row volume — measured 8.6 s vs
    * ~3 s at sf0.1). Per subspace the math is unchanged: first-ksub
    * seed, argmin-L2 with (d2, code) tie-break, ordered-fold means,
    * fixed [[pqIters]] rounds — the deterministic contract of
    * [[kmeansCentroids]] (each round held on the driver), quantizing
    * raw coordinates, not directions.
    */
  def pqCodebooks(unit: DataFrame): DataFrame = {
    // training reads only the hash-sample (bounded input at scale);
    // seeds stay the FULL corpus's first-ksub vectors so seeding is
    // sample-independent, matching [[kmeansCentroids]]
    val subs = trainingSample(unit).select(col("vec_id"), posexplode(
        array((0 until pqM).map(m => subvec(col("embedding"), m)): _*))
        .as(Seq("m", "sv")))
      .maintCheckpoint() // re-read every round; don't re-slice the corpus
    val parallelism = unit.sparkSession.sparkContext.defaultParallelism
    var cent = unit.filter(col("vec_id") < pqKsub)
      .select(col("vec_id"), posexplode(
        array((0 until pqM).map(m => subvec(col("embedding"), m)): _*))
        .as(Seq("m", "sv")))
      .select(col("m"), col("vec_id").as("code"),
        transform(col("sv"), x => x.cast("double")).as("ce"))
    for (_ <- 1 to pqIters) {
      // argmin-L2 as min_by over the total (d2, code) key: map-side
      // partial combine, no window sort (same device as assignCells)
      // spread on the argmin's own key: the scoring keeps every core,
      // and the aggregation below needs no further exchange
      val scored = subs.repartition(parallelism, col("m"), col("vec_id"))
        .join(broadcast(cent), Seq("m"))
        .select(col("m"), col("vec_id"), col("sv"), col("code"),
          l2sq(col("sv"), col("ce")).as("d2"))
      val assigned = scored.groupBy(col("m"), col("vec_id"))
        .agg(min_by(struct(col("sv"), col("code")),
          struct(col("d2"), col("code"))).as("best"))
        .select(col("m"), col("vec_id"), col("best.sv").as("sv"),
          col("best.code").as("cell"))
      val dims = assigned.select(col("m"), col("cell"), col("vec_id"),
        posexplode(col("sv")).as(Seq("j", "v")))
      val means = twoLevelMean(dims, Seq("m", "cell", "j"))
      cent = Sources.hold(means.groupBy(col("m"), col("cell"))
        .agg(transform(sort_array(collect_list(struct(col("j"), col("mv")))),
          x => x.getField("mv")).as("ce"))
        .select(col("m"), col("cell").as("code"), col("ce")),
        Some(pqM.toLong * pqKsub)).df
    }
    cent
  }

  /** PQ encoding: per vector, the argmin-L2 code of each subvector —
    * (vec_id, codes[M]). One corpus scan, a broadcast of the M×ksub
    * codebook, and a (vec_id, m)-partitioned argmin; the corpus never
    * joins itself.
    */
  def pqEncode(unit: DataFrame, codebooks: DataFrame): DataFrame = {
    val subs = unit.select(col("vec_id"), posexplode(
        array((0 until pqM).map(m => subvec(col("embedding"), m)): _*))
        .as(Seq("m", "sv")))
    val scored = subs.join(broadcast(codebooks), Seq("m"))
      .select(col("vec_id"), col("m"), col("code"),
        l2sq(col("sv"), col("ce")).as("d2"))
    // argmin-L2 via min_by (map-side combine: M·ksub·N scored rows
    // collapse to M·N before the shuffle, no window sort), then the
    // per-vector code array assembles on the second, M×-smaller pass
    scored.groupBy(col("vec_id"), col("m"))
      .agg(min_by(col("code"), struct(col("d2"), col("code"))).as("code"))
      .groupBy(col("vec_id"))
      .agg(transform(sort_array(collect_list(struct(col("m"), col("code")))),
        x => x.getField("code")).as("codes"))
  }

  /** PQ/ADC top-k (asymmetric distance computation): each query
    * precomputes a LUT of partial dot products against every codebook
    * entry (M×ksub doubles); scoring a compressed vector is then M map
    * lookups + an IN-ORDER fold — no decompression, no full-width
    * arithmetic. The LUT rides a broadcast keyed by query; the corpus
    * side touches only the M-byte code arrays. The fold's addition
    * order (m = 0..M-1, seed 0.0) is mirrored by the oracle's
    * `list_sum(list(pd ORDER BY m))`, so ADC scores hash-match.
    */
  def pqTopK(embeddings: DataFrame, nQueries: Int, k: Int): DataFrame = {
    // normalization feeds training, encoding, AND the query LUTs —
    // checkpoint once instead of re-normalizing per consumer
    val unit = unitVectors(embeddings).maintCheckpoint()
    pqTopKWith(unit, pqCodebooks(unit), nQueries, k)
  }

  /** [[pqTopK]] with precomputed unit vectors and trained codebooks —
    * the sharing point [[recallGates]] uses so ONE training serves
    * every arm that quantizes the same way. Result-identical: the
    * training is deterministic, only the redundant recomputation goes.
    */
  private[graft] def pqTopKWith(unit: DataFrame, codebooks: DataFrame,
                                nQueries: Int, k: Int): DataFrame = {
    // the checkpointed `unit` may arrive coalesced: spread the scoring
    val codes = pqEncode(unit.repartition(
      unit.sparkSession.sparkContext.defaultParallelism, col("vec_id")), codebooks)
    val qsubs = unit.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), posexplode(
        array((0 until pqM).map(m => subvec(col("embedding"), m)): _*))
        .as(Seq("m", "qsv")))
    val lut = qsubs.join(broadcast(codebooks), Seq("m"))
      .select(col("query_id"),
        (col("m") * pqKsub + col("code")).as("mk"),
        dot(col("qsv"), col("ce")).as("pd"))
    val lutMaps = lut.groupBy(col("query_id"))
      .agg(map_from_entries(sort_array(collect_list(
        struct(col("mk"), col("pd"))))).as("lut"))
    val scored = codes.join(broadcast(lutMaps))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        aggregate(sequence(lit(0), lit(pqM - 1)), lit(0.0),
          (acc, m) => acc + element_at(col("lut"),
            m * pqKsub + element_at(col("codes"), m + 1))).as("adc"))
    topKRanked(scored, "adc", k)
  }

  /** Two-stage retrieval: PQ/ADC shortlists `shortlist` candidates
    * per query from the compressed index, then ONLY those rows pay the
    * exact full-width cosine and the top-k re-ranks — the standard
    * production stack (compressed recall, exact precision). The
    * shortlist join touches `shortlist` rows per query, so the exact
    * arithmetic cost is independent of corpus size.
    */
  def pqRerankTopK(embeddings: DataFrame, nQueries: Int, k: Int,
                   shortlist: Int = 20): DataFrame = {
    val cands = pqTopK(embeddings, nQueries, shortlist)
      .select(col("query_id"), col("neighbor_id"))
    val q = embeddings.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    val scored = embeddings
      .select(col("vec_id").as("neighbor_id"), col("embedding").as("ce"))
      .join(broadcast(cands), Seq("neighbor_id"))
      .join(broadcast(q), Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("qe"), col("ce")).as("sim"))
    topKRanked(scored, "sim", k)
  }

  /** recall@k of PQ/ADC against brute-force cosine — the compression
    * quality gate next to [[ivfRecall]]'s probe quality gate.
    */
  def pqRecall(embeddings: DataFrame, nQueries: Int, k: Int): DataFrame = {
    val bf = cosineTopK(embeddings, nQueries, k)
      .select(col("query_id"), col("neighbor_id"))
    val pq = pqTopK(embeddings, nQueries, k)
      .select(col("query_id").as("q2"), col("neighbor_id").as("n2"))
    bf.join(pq,
        col("query_id") === col("q2") && col("neighbor_id") === col("n2"),
        "left")
      .groupBy(col("query_id"))
      .agg((count(col("n2")).cast("double") / k).as("recall_at_k"))
      .orderBy(col("query_id"))
  }

  // ---- IVFADC: IVF cell pruning × PQ compressed scoring ----

  /** IVFADC (Jégou, Douze & Schmid 2011, §IV; the FAISS `IVFPQ` index
    * with `by_residual=false`): the coarse quantizer prunes the search
    * to `nprobe` cells, the probed candidates are scored from their
    * 4-byte PQ codes via the query's ADC LUT, and only the ADC
    * `shortlist` pays the exact full-width cosine re-rank. This is the
    * composition production retrieval runs: per query batch the
    * scoring work is ~(nprobe/nlist)·N code-table lookups — not N
    * full-width dot products ([[ivfTopK]]) and not N ADC folds
    * ([[pqTopK]]) — and the exact arithmetic is `shortlist` rows per
    * query regardless of corpus size.
    *
    * The no-residual variant quantizes unit vectors directly, so ONE
    * compressed code table serves both flat PQ and IVFADC; at 100 TB
    * it is stored partitioned by cell
    * ([[graft.sources.Sources.writeIvfCells]]) so a probe also READS
    * only nprobe/nlist of the index from storage.
    *
    * The candidate join is an equi-join on `cell` against the
    * broadcast (query, probed-cell, LUT) frame — never an
    * unconditioned join against the full code table (plan-audited).
    */
  def ivfpqTopK(embeddings: DataFrame, nQueries: Int, k: Int,
                nlist: Int = 16, nprobe: Int = 4,
                shortlist: Int = 20): DataFrame = {
    // the coarse quantizer trains on raw embeddings, independent of
    // the unit→codebook chain — overlap the two training loops
    // (guide §2.6); both are deterministic, so the index and the
    // result are bit-identical to the sequential formulation
    val Seq(Seq(centroids), Seq(unit, codebooks)) =
      graft.sources.Par.run(embeddings.sparkSession)(Seq(
        () => Seq(kmeansCentroids(embeddings, nlist)),
        () => {
          val u = unitVectors(embeddings).maintCheckpoint()
          Seq(u, pqCodebooks(u))
        }))
    ivfpqTopKWith(embeddings, unit, centroids, codebooks, nQueries, k,
      nprobe, shortlist)
  }

  /** [[ivfpqTopK]] with precomputed unit vectors, coarse quantizer,
    * and PQ codebooks (the [[recallGates]] sharing point — the
    * no-residual variant's codebooks are exactly [[pqTopK]]'s and its
    * centroids exactly [[ivfTopK]]'s).
    */
  private[graft] def ivfpqTopKWith(embeddings: DataFrame, unit: DataFrame,
                                   centroids: DataFrame,
                                   codebooks: DataFrame, nQueries: Int,
                                   k: Int, nprobe: Int = 4,
                                   shortlist: Int = 20): DataFrame = {
    // index build (once per corpus, the write-side cost): cell
    // assignment ⋈ PQ codes on vec_id — co-partitioned equi-join
    val codesCells = pqEncode(unit.repartition(
        unit.sparkSession.sparkContext.defaultParallelism, col("vec_id")),
        codebooks) // spread as in pqTopKWith
      .join(assignCells(embeddings, centroids)
        .select(col("vec_id"), col("cell")), Seq("vec_id"))
    // query side: nprobe best cells (same ranking as ivfTopK)…
    val probes = embeddings.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
      .join(broadcast(centroids))
      .select(col("query_id"), col("centroid_id"),
        cosine(col("qe"), col("ce")).as("cs"))
    val pw = Window.partitionBy(col("query_id"))
      .orderBy(col("cs").desc, col("centroid_id"))
    val probeCells = probes.withColumn("rn", row_number().over(pw))
      .filter(col("rn") <= nprobe)
      .select(col("query_id"), col("centroid_id").as("cell"))
    // …and the per-query ADC LUT (same build as pqTopK)
    val qsubs = unit.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), posexplode(
        array((0 until pqM).map(m => subvec(col("embedding"), m)): _*))
        .as(Seq("m", "qsv")))
    val lut = qsubs.join(broadcast(codebooks), Seq("m"))
      .select(col("query_id"), (col("m") * pqKsub + col("code")).as("mk"),
        dot(col("qsv"), col("ce")).as("pd"))
    val lutMaps = lut.groupBy(col("query_id"))
      .agg(map_from_entries(sort_array(collect_list(
        struct(col("mk"), col("pd"))))).as("lut"))
    val probeLuts = probeCells.join(lutMaps, Seq("query_id"))
    // ADC-score ONLY the probed cells' codes: hash equi-join on cell
    val adc = codesCells.join(broadcast(probeLuts), Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        aggregate(sequence(lit(0), lit(pqM - 1)), lit(0.0),
          (acc, m) => acc + element_at(col("lut"),
            m * pqKsub + element_at(col("codes"), m + 1))).as("adc"))
    // ADC shortlist via the heap node (map-side pruning, no sort)
    val cands = org.apache.spark.sql.graftbridge.PlanBridge.topKPerKey(
        adc.withColumn("__tie", -col("neighbor_id")),
        Seq("query_id"), Seq("adc", "__tie"), shortlist)
      .select(col("query_id"), col("neighbor_id"))
    // exact re-rank of the shortlist (same tail as pqRerankTopK)
    val q = embeddings.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    val scored = embeddings
      .select(col("vec_id").as("neighbor_id"), col("embedding").as("ce"))
      .join(broadcast(cands), Seq("neighbor_id"))
      .join(broadcast(q), Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("qe"), col("ce")).as("sim"))
    topKRanked(scored, "sim", k)
  }

  /** TRUE residual IVFADC (Jégou §IV-A; FAISS `IVFPQ` with
    * `by_residual=true`): PQ quantizes the RESIDUAL r = x − c(x)
    * after the coarse quantizer, which has far less variance than x,
    * so the same 4-byte code budget buys materially lower distortion.
    * The coarse quantizer here trains on UNIT vectors, so
    * dot(q, x̂) = dot(q, c) + dot(q, r̂) estimates cosine: the
    * per-(query, probed-cell) constant dot(q, c) plus M LUT lookups.
    * The price vs the no-residual variant: the query LUT is PER
    * (query, cell) — nq·nprobe·M·ksub partial dots, still
    * broadcast-sized — and the scoring join is unchanged (cell-keyed,
    * compressed codes only).
    */
  def ivfpqResidualTopK(embeddings: DataFrame, nQueries: Int, k: Int,
                        nlist: Int = 16, nprobe: Int = 4,
                        shortlist: Int = 20): DataFrame = {
    val unit = unitVectors(embeddings).maintCheckpoint()
    val cent = kmeansCentroids(unit, nlist)
    val assigned = assignCells(unit, cent)
    // residuals feed BOTH codebook training and encoding — checkpoint
    val res = assigned.join(broadcast(cent), col("cell") === col("centroid_id"))
      .select(col("vec_id"),
        zip_with(col("embedding"), col("ce"), (x, c) => x - c).as("embedding"),
        col("cell"))
      .maintCheckpoint()
    val codebooks = pqCodebooks(res.select(col("vec_id"), col("embedding")))
    val codesCells = pqEncode(res.select(col("vec_id"), col("embedding")),
        codebooks)
      .join(res.select(col("vec_id"), col("cell")), Seq("vec_id"))
    val probes = unit.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
      .join(broadcast(cent))
      .select(col("query_id"), col("qe"), col("centroid_id"),
        cosine(col("qe"), col("ce")).as("cs"))
    val pw = Window.partitionBy(col("query_id"))
      .orderBy(col("cs").desc, col("centroid_id"))
    val probeCells = probes.withColumn("rn", row_number().over(pw))
      .filter(col("rn") <= nprobe)
      .select(col("query_id"), col("qe"), col("centroid_id").as("cell"))
    // per (query, probed cell): residual query + the dot(q, c) offset
    val qres = probeCells.join(broadcast(cent), col("cell") === col("centroid_id"))
      .select(col("query_id"), col("cell"),
        zip_with(col("qe"), col("ce"), (x, c) => x - c).as("qr"),
        dot(col("qe"), col("ce")).as("qc"))
    val qsubs = qres.select(col("query_id"), col("cell"), col("qc"),
      posexplode(array((0 until pqM).map(m => subvec(col("qr"), m)): _*))
        .as(Seq("m", "qsv")))
    val lut = qsubs.join(broadcast(codebooks), Seq("m"))
      .select(col("query_id"), col("cell"), col("qc"),
        (col("m") * pqKsub + col("code")).as("mk"),
        dot(col("qsv"), col("ce")).as("pd"))
    val probeLuts = lut.groupBy(col("query_id"), col("cell"), col("qc"))
      .agg(map_from_entries(sort_array(collect_list(
        struct(col("mk"), col("pd"))))).as("lut"))
    val adc = codesCells.join(broadcast(probeLuts), Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        (col("qc") + aggregate(sequence(lit(0), lit(pqM - 1)), lit(0.0),
          (acc, m) => acc + element_at(col("lut"),
            m * pqKsub + element_at(col("codes"), m + 1)))).as("adc"))
    val cands = org.apache.spark.sql.graftbridge.PlanBridge.topKPerKey(
        adc.withColumn("__tie", -col("neighbor_id")),
        Seq("query_id"), Seq("adc", "__tie"), shortlist)
      .select(col("query_id"), col("neighbor_id"))
    val q = embeddings.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    val scored = embeddings
      .select(col("vec_id").as("neighbor_id"), col("embedding").as("ce"))
      .join(broadcast(cands), Seq("neighbor_id"))
      .join(broadcast(q), Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("qe"), col("ce")).as("sim"))
    topKRanked(scored, "sim", k)
  }

  // ---- Build-once / probe-many: the stored IVFADC index ----

  /** Index directory layout under `base`: full vectors and PQ codes
    * both partitioned by their trained IVF cell (a probe reads only
    * its nprobe cell directories — metadata-only pruning, proven in
    * SourcesSpec), plus the two broadcast-sized trained artifacts.
    */
  /** The `label` metadata column is OPTIONAL on the write path: a
    * source without it (e.g. a raw vector stream) stores null, and
    * null never satisfies a filtered-search predicate — the safe
    * default for unknown metadata.
    */
  private def withLabel(df: DataFrame): DataFrame =
    if (df.columns.contains("label")) df
    else df.withColumn("label", lit(null).cast("int"))

  /** Lazy-rebuild gate shared by every stored-IVFADC probe: freshness
    * = geometry + input-listing fingerprint ONLY (the build-time n=
    * suffix is trusted, never recomputed — no corpus-wide aggregate on
    * the probe path; [[StoredLayout.ensureFresh]]).
    */
  private def ensureIvfpqFresh(embeddings: DataFrame, base: String,
                               nlist: Int): Unit =
    StoredLayout.ensureFresh(base, "ivfpq", indexMarkerPrefix(embeddings, nlist)) {
      ivfpqBuildIndex(embeddings, base, nlist).count()
    }

  /** Geometry prefix + corpus identity for the stored index
    * ([[StoredLayout.inputListingFp]]); the row count is stamped at
    * BUILD time purely as a build-side record.
    */
  private[graft] def indexMarkerPrefix(embeddings: DataFrame, nlist: Int): String =
    s"graft-ivfpq v3 nlist=$nlist m=$pqM ksub=$pqKsub " +
      s"src=${StoredLayout.inputListingFp(embeddings)}"

  private def indexMarker(embeddings: DataFrame, nlist: Int): String =
    s"${indexMarkerPrefix(embeddings, nlist)} n=${embeddings.count()}"

  /** BUILD: train the no-residual IVFADC artifacts
    * ([[ivfpqTopK]]'s exact chain) and PERSIST them — the
    * once-per-corpus write-side cost every `sim_ivfpq_*` registry
    * query otherwise re-pays inline (registry queries are
    * contractually independent). Written under `base`:
    *  - `cells/`     (vec_id, embedding) partitioned by cell — the
    *                 full vectors the exact re-rank reads;
    *  - `codes/`     (vec_id, codes) partitioned by cell — the 4-byte
    *                 compressed sidecar ADC scores;
    *  - `centroids/` nlist rows; `codebooks/` M×ksub rows — the
    *                 broadcast-sized quantizers the probe side needs.
    * Parquet round-trips doubles/floats bit-exactly, so probing the
    * stored index is result-identical to the inline plan (the
    * registry oracle for the probe IS the inline IVFADC oracle).
    * Returns the cell census of the layout AS RE-READ FROM STORAGE
    * (what you serve is what you audit) — hash-checked against the
    * k-means census oracle.
    *
    * The corpus's `label` metadata column rides through the
    * assignment into `cells/` (v3 layout), so filtered search
    * ([[ivfpqFilteredStored]]) evaluates its predicate as an ordinary
    * pushed-down Parquet filter on the probed cell partitions — one
    * full-corpus index serves every predicate, no query-time join
    * against the corpus for metadata.
    */
  def ivfpqBuildIndex(embeddings: DataFrame, base: String,
                      nlist: Int = 16): DataFrame =
      StoredLayout.build(base, "ivfpq") { b =>
    val spark = embeddings.sparkSession
    // coarse-quantizer training is independent of the unit→codebook
    // chain — overlap the two loops (guide §2.6, deterministic both)
    val Seq(Seq(centroids), Seq(unit, codebooks)) =
      graft.sources.Par.run(spark)(Seq(
        () => Seq(kmeansCentroids(embeddings, nlist)),
        () => {
          val u = unitVectors(embeddings).maintCheckpoint()
          Seq(u, pqCodebooks(u))
        }))
    // assignment feeds BOTH the cells write and the codes join —
    // checkpoint it so the corpus-wide argmax runs once, not per sink
    val assigned =
      assignCells(withLabel(embeddings), centroids, extra = Seq("label"))
        .maintCheckpoint()
    val codesCells = pqEncode(unit, codebooks)
      .join(assigned.select(col("vec_id"), col("cell")), Seq("vec_id"))
    // the four artifacts AND the clearing of any maintenance residue
    // (tombstones, resplit staging) flip in one transaction — a probe
    // racing the rebuild serves either the old index or the new one
    val snap = b.commit(indexMarker(embeddings, nlist)) { txn =>
      txn.writeFull(assigned, "cells", "cell")
      txn.writeFull(codesCells, "codes", "cell")
      // the held quantizers are a few KB: one file each
      txn.writeFull(centroids.coalesce(1), "centroids")
      txn.writeFull(codebooks.coalesce(1), "codebooks")
      txn.dropComp("tombstones")
      txn.dropComp("cells_resplit")
    }
    snap.read(spark, "cells")
      .groupBy(col("cell").cast("long").as("cell"))
      .agg(count(lit(1)).as("n_members"), min(col("vec_id")).as("first_vec"))
      .orderBy(col("cell"))
  }

  /** PROBE against the STORED index: the serving half of
    * [[ivfpqTopK]], reading ONLY the persisted artifacts — nlist-row
    * centroids, M×ksub codebooks, and the cell-partitioned code/vector
    * layouts; the corpus table is touched only for the nQueries query
    * vectors (fresh queries against a standing index — the production
    * read path). The codes and vector scans carry the probed cells as
    * a static partition IN-list, so a probe reads only the probed cell
    * DIRECTORIES (spec-asserted) — at 100 TB a probe reads nprobe/nlist of the
    * index bytes, which is the measurable difference between this and
    * the build-inline queries in the bench. Rebuilds lazily iff the
    * marker is absent/stale (registry queries stay independently
    * runnable); the steady state is build-once/probe-many.
    */
  def ivfpqProbeStored(embeddings: DataFrame, base: String, nQueries: Int,
                       k: Int, nlist: Int = 16, nprobe: Int = 4,
                       shortlist: Int = 20): DataFrame = {
    val spark = embeddings.sparkSession
    ensureIvfpqFresh(embeddings, base, nlist)
    ivfpqScoreStored(spark, base, heldQueries(embeddings, nQueries), k,
      nprobe, shortlist)
  }

  /** The probe's query vectors (`vec_id < nQueries`; `vec_id` is the
    * corpus's non-negative key, so at most nQueries rows), held on the
    * driver ([[Sources.hold]]): one scan, then every consumer (cell
    * ranking, LUT, re-rank broadcast) reads the held rows.
    */
  private[graft] def heldQueries(embeddings: DataFrame,
                                 nQueries: Int): Sources.Held =
    Sources.hold(embeddings.filter(col("vec_id") < nQueries)
      .select(col("vec_id"), col("embedding")), Some(nQueries.toLong))

  /** Each query's `nprobe` best stored centroids by (cosine DESC,
    * centroid_id ASC) as (query_id, [qe,] cell), ranked on the driver
    * ([[probeOrder]]) from the held query and centroid rows — no job
    * at all. At most queries × nprobe rows, held, so the probed-cell
    * IN-list comes from the rows too.
    */
  private def probeCells(queries: Sources.Held, centroids: Sources.Held,
                         nprobe: Int, withQe: Boolean): Sources.Held = {
    val schema = StructType(Seq(StructField("query_id", LongType)) ++
      (if (withQe) Seq(queries.df.schema("embedding").copy(name = "qe"))
       else Nil) :+ StructField("cell", LongType))
    val cents = centroids.all.map(r =>
      (r.getAs[Number]("centroid_id").longValue, doubles(r, "ce")))
    Sources.local(queries.df.sparkSession, queries.all.flatMap { q =>
      val qid = q.getAs[Number]("vec_id").longValue
      probeOrder(doubles(q, "embedding"), cents).take(nprobe).map(c =>
        Row.fromSeq(Seq(qid) ++
          (if (withQe) Seq(q.get(q.fieldIndex("embedding"))) else Nil) :+ c))
    }, schema)
  }

  /** A vector column of a held row as doubles (float elements widen
    * exactly, as in [[dot]]).
    */
  private def doubles(r: Row, c: String): IndexedSeq[Double] =
    r.getSeq[Number](r.fieldIndex(c)).map(_.doubleValue).toIndexedSeq

  /** Driver-side twin of [[dot]]: the same in-order double fold, so
    * every value is bit-identical to the Spark expression's.
    */
  private def dotRows(a: IndexedSeq[Double], b: IndexedSeq[Double]): Double = {
    val n = math.min(a.length, b.length)
    var acc = 0.0
    var i = 0
    while (i < n) { acc += a(i) * b(i); i += 1 }
    acc
  }

  /** Centroid ids by (cosine DESC, id ASC) for one query vector:
    * [[cosine]]'s arithmetic in its order (dot / √|q|² / √|c|²) and
    * Spark's double ordering (0.0 = −0.0, NaN largest) — the exact
    * order of the probe window.
    */
  private def probeOrder(qe: IndexedSeq[Double],
                         cents: Seq[(Long, IndexedSeq[Double])]): Seq[Long] = {
    val nq = math.sqrt(dotRows(qe, qe))
    cents.map { case (id, ce) =>
        (dotRows(qe, ce) / nq / math.sqrt(dotRows(ce, ce)), id) }
      .sortWith { case ((a, i), (b, j)) =>
        val c = if (a == b) 0 else java.lang.Double.compare(a, b)
        if (c != 0) c > 0 else i < j
      }.map(_._2)
  }

  /** Driver-side ADC lookup table of one held query: (m·ksub + code) →
    * dot(unit query subvector m, codebook centroid), by the arithmetic
    * of [[unitVectors]], [[subvec]] and [[dot]].
    */
  private def lutRow(qe: IndexedSeq[Double],
                     codebooks: Seq[Row]): Map[Long, Double] = {
    val nrm = math.sqrt(dotRows(qe, qe))
    val unit = qe.map(_ / nrm)
    codebooks.map { r =>
      val m = r.getAs[Number]("m").intValue
      (m.toLong * pqKsub + r.getAs[Number]("code").longValue) ->
        dotRows(unit.slice(m * pqDsub, m * pqDsub + pqDsub), doubles(r, "ce"))
    }.toMap
  }

  /** FILTERED search over the STORED index — [[ivfFilteredTopK]]'s
    * predicate semantics on [[ivfpqBuildIndex]]'s standing layout: the
    * label metadata column rides in the cell-partitioned `cells/`
    * files (written by the build), so the query-time predicate is an
    * ordinary PUSHED-DOWN Parquet filter on the probed cell
    * partitions (plan-audited: `PushedFilters` carries the label
    * predicate, a static probed-cell IN-list trims to nprobe
    * directories) — never a join against the corpus, and ONE
    * full-corpus index serves every predicate.
    *
    * Scoring is IVF-Flat (full-width cosine over the filtered
    * survivors) rather than ADC: a selective predicate has already
    * thinned the candidate set to the size the exact re-rank arm
    * handles, so compressed pre-scoring would add a pass without
    * removing one — the standard pre-filter trade. The corpus table
    * is touched only for the nQueries query vectors.
    */
  def ivfpqFilteredStored(embeddings: DataFrame, base: String,
                          nQueries: Int, k: Int, nlist: Int = 16,
                          nprobe: Int = 4,
                          labelMod: Int = 2): DataFrame = {
    val spark = embeddings.sparkSession
    ensureIvfpqFresh(embeddings, base, nlist)
    val snap = Snapshot.require(base)
    // the predicate is `label % labelMod = 0` — the SAME semantics as
    // the inline ivfFilteredTopK and the registry oracle — but pushed
    // to the stored layout as a literal IN-list DERIVED from the
    // layout's own label domain: an IN-list lands in the cells scan's
    // PushedFilters (an arithmetic form would only filter post-scan —
    // membership and range predicates are what parquet pushdown
    // evaluates against row-group statistics). The domain is a held
    // component (one column, read once per live leaf set); the
    // labelMod filter runs per probe. If the domain is too wide for an
    // IN-list (> 1024 passing labels) fall back to the post-scan
    // arithmetic filter rather than a mile-long pushdown literal.
    val cells0 = snap.read(spark, "cells")
    val passing = snap.held(spark, "cells", "label domain",
        _.select(col("label")).na.drop().distinct()).df
      .filter(pmod(col("label"), lit(labelMod)) === 0)
      .limit(1025).collect().map(_.get(0).asInstanceOf[Number].intValue).toSeq
    val cells = (if (passing.size <= 1024)
        cells0.filter(col("label").isin(passing: _*))
      else cells0.filter(pmod(col("label"), lit(labelMod)) === 0))
      .select(col("vec_id"), col("embedding"),
        col("cell").cast("long").as("cell"))
    val queries = heldQueries(embeddings, nQueries)
    val probed = probeCells(queries, snap.held(spark, "centroids"), nprobe,
      withQe = true)
    // static probed-cell IN-list (≤ nlist values) — deterministic
    // partition pruning, same contract as [[ivfpqScoreStored]]
    val probedCellVals = probed.keys(col("cell")).map(_.getLong(0)).sorted
    val scored = cells.filter(col("cell").isin(probedCellVals: _*))
      .join(broadcast(probed.df), Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        cosine(col("qe"), col("embedding")).as("sim"))
    topKRanked(scored, "sim", k, queries.size)
  }

  /** Index HEALTH for a stored IVFADC layout — the observability half
    * of the maintenance story: appends encode with the ORIGINAL
    * quantizers ([[ivfpqAppend]]), so cell occupancy drifts away from
    * the trained balance over time, and at some skew the probe's
    * nprobe-cells-of-nlist cost model stops holding. This reads ONLY
    * the cells layout (metadata-light: one column of one artifact),
    * emits per-cell occupancy with exact integer share (basis points,
    * floor division) and a hot-cell flag (`> 2× the mean`, i.e.
    * `n_vecs·nlist > 2·total` — exact integer compare), and is what a
    * scheduler would poll to decide "rebuild now". The aggregation is
    * nlist rows — trivially 100 TB-safe.
    */
  def ivfpqHealth(embeddings: DataFrame, base: String,
                  nlist: Int = 16): DataFrame = {
    val spark = embeddings.sparkSession
    ensureIvfpqFresh(embeddings, base, nlist)
    val snap = Snapshot.require(base)
    val perCell = snap.read(spark, "cells")
      .groupBy(col("cell").cast("int").as("cell"))
      .agg(count(lit(1)).as("n_vecs"))
    val total = snap.read(spark, "cells")
      .agg(count(lit(1)).as("n_total"))
    perCell.join(broadcast(total))
      .select(col("cell"), col("n_vecs"),
        expr("n_vecs * 10000 div n_total").as("share_bp"),
        (col("n_vecs") * lit(nlist.toLong) >
          col("n_total") * lit(2L)).as("is_hot"))
      .orderBy(col("cell"))
  }

  /** Hot-cell RESPLIT — the maintenance ACTION [[ivfpqHealth]]'s hot
    * flag calls for, without a full retrain: every cell holding more
    * than 2× the mean splits in two around a deterministic pivot (its
    * min-vec_id member) — a member joins the pivot's half iff it is
    * cosine-nearer to the pivot than to the trained centroid, one
    * 2-means-style step. Split halves land at `cell + nlist`, cold
    * cells keep their id, and the split rows stage into a
    * `cells_resplit` layout (dynamic partition overwrite — only hot
    * cells' directories are written; idempotent, same input → same
    * partitions). The returned report is the occupancy after: each
    * new cell with its parent and member count — the bounded
    * partition sizes the next probe generation gets. Scale shape:
    * pivot/centroid frames are ≤ nlist rows riding broadcasts; the
    * member pass is one scan of the hot cells' partitions only.
    */
  def ivfpqResplit(embeddings: DataFrame, base: String,
                   nlist: Int = 16, hotFactorPct: Int = 200): DataFrame =
      IndexFS.withWriterLease(base) {
    val spark = embeddings.sparkSession
    ensureIvfpqFresh(embeddings, base, nlist)
    Snapshot.transact(base) { txn =>
      val cells = txn.snap.read(spark, "cells")
        .select(col("vec_id"), col("embedding"), col("cell").cast("long").as("cell"))
        .maintCheckpoint() // one read feeds counts, pivots, and assignment
      val counts = cells.groupBy(col("cell")).agg(count(lit(1)).as("n"))
      val total = cells.agg(count(lit(1)).as("n_total"))
      // hot iff n > (hotFactorPct/100)× the mean cell — exact integers.
      // Production pairs this with ivfpqHealth's 200; the registry
      // instance runs at 110 so the near-balanced fixtures still
      // exercise the split machinery
      val hot = counts.join(broadcast(total))
        .filter(col("n") * lit(nlist.toLong) * lit(100L) >
          col("n_total") * lit(hotFactorPct.toLong))
        .select(col("cell"))
      val resplit = resplitAssignment(cells, hot,
        txn.snap.read(spark, "centroids"), nlist)
        .maintCheckpoint() // feeds the staging write AND the report
      val splitRows = resplit.filter(col("pe").isNotNull)
        .select(col("vec_id"), col("embedding"), col("new_cell").as("cell"))
      // the staged split cells' ids — ≤ 2·nlist values (each hot cell
      // yields its own id and id+nlist), so the collect is metadata-size
      val splitCells = splitRows.select(col("cell")).distinct()
        .collect().map(r => Seq(r.getLong(0).toString)).toSeq
      if (splitCells.nonEmpty)
        txn.writeParts(splitRows, "cells_resplit", Seq("cell"), splitCells)
      resplit.groupBy(col("new_cell"))
        .agg(min(col("cell")).as("parent_cell"),
          count(lit(1)).as("n_members"))
        .select(col("new_cell"), col("parent_cell"), col("n_members"),
          (col("new_cell") >= nlist).as("is_split_half"))
        .orderBy(col("new_cell"))
    }
  }

  /** PROBE over the RESPLIT serving generation — what makes
    * [[ivfpqResplit]] a real maintenance step rather than a report:
    * the augmented centroid table is the original centroids (cold
    * cells and split half-0) plus each split cell's PIVOT vector as
    * the centroid of its half at `cell + nlist`, and the serving
    * layout is the cold partitions of the original `cells` plus the
    * staged `cells_resplit` directories. A query ranks ≤ 2·nlist
    * augmented centroids, probes nprobe of them, and scores only
    * those partitions' members — identical plan shape to [[ivfTopK]],
    * but a former hot cell's members now spread across two smaller
    * probe targets, which is the point of the split. Replays the
    * (idempotent) resplit first, so the measured cost includes the
    * maintenance pass — same convention as the append probes.
    */
  def ivfpqProbeResplit(embeddings: DataFrame, base: String, nQueries: Int,
                        k: Int, nlist: Int = 16, hotFactorPct: Int = 110,
                        nprobe: Int = 4): DataFrame = {
    val spark = embeddings.sparkSession
    ivfpqResplit(embeddings, base, nlist, hotFactorPct).count()
    val snap = Snapshot.require(base)
    val cellsAll = snap.read(spark, "cells")
      .select(col("vec_id"), col("embedding"), col("cell").cast("long").as("cell"))
      .maintCheckpoint()
    val counts = cellsAll.groupBy(col("cell")).agg(count(lit(1)).as("n"))
    val total = cellsAll.agg(count(lit(1)).as("n_total"))
    val hot = Sources.hold(counts.join(broadcast(total))
      .filter(col("n") * lit(nlist.toLong) * lit(100L) >
        col("n_total") * lit(hotFactorPct.toLong))
      .select(col("cell")), Some(nlist.toLong)).df
    val pivotIds = cellsAll.join(broadcast(hot), Seq("cell"))
      .groupBy(col("cell")).agg(min(col("vec_id")).as("pivot_id"))
    val halfOneCents = cellsAll
      .select(col("vec_id").as("pivot_id"), col("embedding").as("pe"))
      .join(broadcast(pivotIds), Seq("pivot_id"))
      .select((col("cell") + lit(nlist.toLong)).as("cell"), col("pe").as("ce"))
    val aug = Sources.hold(snap.read(spark, "centroids")
      .select(col("centroid_id").cast("long").as("cell"), col("ce"))
      .unionByName(halfOneCents), Some(2L * nlist)).df
    // spread for the scoring below: the checkpointed cells may arrive
    // coalesced
    val layout = cellsAll.join(broadcast(hot), Seq("cell"), "left_anti")
      .unionByName(snap.read(spark, "cells_resplit")
        .select(col("vec_id"), col("embedding"), col("cell").cast("long").as("cell")))
      .repartition(spark.sparkContext.defaultParallelism, col("vec_id"))
    val probes = embeddings.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
      .join(broadcast(aug))
      .select(col("query_id"), col("qe"), col("cell"),
        cosine(col("qe"), col("ce")).as("cs"))
    val pw = Window.partitionBy(col("query_id"))
      .orderBy(col("cs").desc, col("cell"))
    val probeCells = probes.withColumn("rn", row_number().over(pw))
      .filter(col("rn") <= nprobe)
      .select(col("query_id"), col("qe"), col("cell"))
    val scored = layout.join(broadcast(probeCells), Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        cosine(col("qe"), col("embedding")).as("sim"))
    topKRanked(scored, "sim", k)
  }

  /** The pivot-vs-centroid assignment frame of [[ivfpqResplit]],
    * PRE-checkpoint — exposed so the plan audit can assert the join
    * shape (nlist-row broadcasts, no cartesian) that the registry
    * query's plan hides behind the checkpoint boundary.
    */
  private[graft] def resplitAssignment(cells: DataFrame, hot: DataFrame,
                                       centroids: DataFrame,
                                       nlist: Int): DataFrame = {
    val pivotIds = cells.join(broadcast(hot), Seq("cell"))
      .groupBy(col("cell")).agg(min(col("vec_id")).as("pivot_id"))
    val pivots = cells
      .select(col("vec_id").as("pivot_id"), col("embedding").as("pe"))
      .join(broadcast(pivotIds), Seq("pivot_id"))
      .select(col("cell"), col("pe"))
    val cent = centroids
      .select(col("centroid_id").cast("long").as("cell"), col("ce"))
    cells
      .join(broadcast(pivots), Seq("cell"), "left")
      .join(broadcast(cent), Seq("cell"))
      .withColumn("new_cell",
        when(col("pe").isNull, col("cell"))
          .otherwise(when(cosine(col("embedding"), col("pe")) >=
              cosine(col("embedding"), col("ce")),
            col("cell") + lit(nlist.toLong)).otherwise(col("cell"))))
  }

  /** Serve top-k for a (vec_id, embedding) query frame from a stored
    * IVFADC layout under `base` — the shared serving core of
    * [[ivfpqProbeStored]] and the maintenance scenarios
    * ([[graft.Scenarios]]); reads ONLY the persisted artifacts.
    */
  private[graft] def ivfpqScoreStored(spark: org.apache.spark.sql.SparkSession,
                               base: String, queries: Sources.Held, k: Int,
                               nprobe: Int, shortlist: Int): DataFrame = {
    // ONE manifest resolution pins the whole probe to a consistent
    // snapshot: concurrent maintenance publishes new generations but
    // never touches the files this resolution references. The
    // quantizers are held components: read once per live leaf set.
    val snap = Snapshot.require(base)
    val codebooks = snap.held(spark, "codebooks")
    // probe ranking: the query's nprobe best stored centroids, held
    // (feeds the cell IN-list, the LUT join and the ADC join)
    val probed = probeCells(queries, snap.held(spark, "centroids"), nprobe,
      withQe = false)
    // the probed-cell SET: ≤ nlist values (the distinct union of every
    // query's nprobe cells), pushed into BOTH index scans as a STATIC
    // partition IN-filter. Dynamic partition pruning is not trusted
    // with this contract: its default reuseBroadcastOnly mode silently
    // drops the pruning filter whenever the probe broadcast fails
    // canonical reuse matching (found by the weak-scaling harness —
    // the plan showed `dynamicpruning` while every cell directory was
    // read), whereas a literal IN-list prunes deterministically at
    // planning time.
    val probedCellVals = probed.keys(col("cell")).map(_.getLong(0)).sorted
    // tombstone serving: deleted vectors drop out of the candidate set
    // via anti-join (no stats to go stale here, unlike BM25 — the
    // tombstoned probe is already EXACTLY the index minus the deletes;
    // compaction only reclaims the bytes)
    val codesCells = StoredLayout.minusTombstones(snap, snap.read(spark, "codes")
      .filter(col("cell").isin(probedCellVals: _*))
      .select(col("vec_id"), col("codes"), col("cell").cast("long").as("cell")),
      "vec_id")
    // per-query ADC LUT from the held codebooks (unit-normalized
    // queries: per-row normalization, identical to normalizing the
    // corpus then filtering), built on the driver; the LUTs ride the
    // probed cells as one local relation
    val cbs = codebooks.all
    val luts = queries.all.map(q => q.getAs[Number]("vec_id").longValue ->
      lutRow(doubles(q, "embedding"), cbs)).toMap
    val probeLuts = spark.createDataFrame(
      probed.all.map(r => Row(r.getLong(0), luts(r.getLong(0)), r.getLong(1))).asJava,
      StructType(Seq(StructField("query_id", LongType),
        StructField("lut", MapType(LongType, DoubleType, false)),
        StructField("cell", LongType))))
    // ADC over the stored codes (already pruned to the probed cells by
    // the static IN-list above), joined to the broadcast LUT frame
    val adc = codesCells.join(broadcast(probeLuts), Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        aggregate(sequence(lit(0), lit(pqM - 1)), lit(0.0),
          (acc, m) => acc + element_at(col("lut"),
            m * pqKsub + element_at(col("codes"), m + 1))).as("adc"))
    val cands = org.apache.spark.sql.graftbridge.PlanBridge.topKPerKey(
        adc.withColumn("__tie", -col("neighbor_id")),
        Seq("query_id"), Seq("adc", "__tie"), shortlist)
      .select(col("query_id"), col("neighbor_id"))
    // exact re-rank from the STORED full-vector layout. Every
    // candidate lives in a probed cell by construction, so the
    // full-vector scan prunes to the SAME static cell IN-list as the
    // codes scan — without this the re-rank read the whole cells
    // artifact per probe (probe bytes grew with the corpus instead of
    // staying a cell-bounded fraction of the index)
    val storedVecs = snap.read(spark, "cells")
      .filter(col("cell").isin(probedCellVals: _*))
      .select(col("vec_id").as("neighbor_id"), col("embedding").as("ce"))
    val q = queries.df
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    // the shortlist BROADCASTS into the re-rank (queries × shortlist
    // rows vs the corpus-scale vector table): no shuffle join, and no
    // runtime bloom-filter injection scanning the vector table an
    // extra time to reduce an already-tiny side (the weak-scaling
    // harness caught exactly that extra scan)
    val scored = storedVecs
      .join(broadcast(cands), Seq("neighbor_id"))
      .join(broadcast(q), Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("qe"), col("ce")).as("sim"))
    topKRanked(scored, "sim", k, queries.size)
  }

  /** APPEND a vector batch into a stored IVFADC layout using the
    * STORED quantizers — index MAINTENANCE, the infra twin of
    * [[graft.ops.Dedup.incrementalDedup]]: assign the batch to the
    * trained cells, PQ-encode it with the trained codebooks, and merge
    * into the cell-partitioned vector and code layouts. Only the
    * batch's cells are rewritten (dynamic partition overwrite; the
    * affected-cell list is bounded by nlist, so the driver-side
    * collect is constant-size), existing rows of re-appended vec_ids
    * are anti-joined away first (idempotent), and quantizers are NOT
    * retrained — the layout after append is exactly a one-shot encode
    * of the unioned corpus under the base-trained quantizers, which is
    * what the registry oracle re-derives.
    */
  def ivfpqAppend(batch: DataFrame, base: String): Unit =
      Snapshot.transact(base) { txn =>
    val spark = batch.sparkSession
    val snap = txn.snap
    val centroids = snap.read(spark, "centroids")
    val codebooks = snap.read(spark, "codebooks")
    val assigned =
      assignCells(withLabel(batch), centroids, extra = Seq("label"))
        .maintCheckpoint()
    val codesB = pqEncode(unitVectors(batch), codebooks)
      .join(assigned.select(col("vec_id"), col("cell")), Seq("vec_id"))
    val batchIds = assigned.select(col("vec_id"))
    val affected = assigned.select(col("cell").cast("int")).distinct()
      .collect().map(_.getInt(0)).toSeq.sorted
    val oldCells = snap.read(spark, "cells")
      .filter(col("cell").isin(affected: _*))
      .select(col("vec_id"), col("embedding"), col("label"),
        col("cell").cast("long").as("cell"))
    val mergedCells = oldCells.join(batchIds, Seq("vec_id"), "left_anti")
      .unionByName(assigned
        .select(col("vec_id"), col("embedding"), col("label"), col("cell")))
    val oldCodes = snap.read(spark, "codes")
      .filter(col("cell").isin(affected: _*))
      .select(col("vec_id"), col("codes"), col("cell").cast("long").as("cell"))
    val mergedCodes = oldCodes.join(batchIds, Seq("vec_id"), "left_anti")
      .unionByName(codesB.select(col("vec_id"), col("codes"), col("cell")))
    // both merged rewrites and their ownership handoff flip in ONE
    // manifest publish: a probe racing the append serves either the
    // old layout or the fully merged one (the staged writes read the
    // old generation's files, which stay live through GC grace — no
    // defensive materialization needed)
    if (affected.nonEmpty) { // an empty batch is a no-op
      val parts = affected.map(c => Seq(c.toString))
      txn.writeParts(mergedCells, "cells", Seq("cell"), parts)
      txn.writeParts(mergedCodes, "codes", Seq("cell"), parts)
    }
  }

  /** DELETE vectors from the stored IVFADC layout — tombstoned, same
    * sidecar as [[graft.ops.Text.bm25Delete]]: serving excludes them
    * immediately ([[ivfpqScoreStored]] anti-joins the sidecar) and the
    * probe is already EXACT (no corpus statistics to go stale);
    * [[ivfpqCompact]] later reclaims the bytes.
    */
  def ivfpqDelete(deletedIds: DataFrame, base: String): Unit =
    StoredLayout.tombstone(deletedIds.select(col("vec_id")), base)

  /** COMPACT tombstones into the stored IVFADC layout: one
    * column-pruned id scan locates the tombstoned vectors' cells,
    * ONLY those cell partitions rewrite minus the deleted rows
    * (vectors and codes; dynamic partition overwrite), and the
    * sidecar clears. Serving results are unchanged by compaction —
    * spec-proven — because the tombstoned probe was already exact.
    */
  def ivfpqCompact(spark: org.apache.spark.sql.SparkSession,
                   base: String): Unit = Snapshot.transact(base) { txn =>
    // the affected-cell rewrites AND the tombstone clear are one
    // atomic manifest flip — no window where a probe could see the
    // compacted layout with the tombstones still applied (or vice
    // versa), which the old rewrite-then-clear ordering had
    txn.snap.readOpt(spark, "tombstones").foreach { tomb =>
      StoredLayout.rewriteMinusTombstones(txn, "cells", "cell", "vec_id",
          Seq("vec_id", "embedding", "label"), tomb)
        .foreach { case (_, affected) =>
          // codes share the cells' partitioning: rewrite the same cells
          StoredLayout.rewriteMinusTombstones(txn, "codes", "cell",
            "vec_id", Seq("vec_id", "codes"), tomb, parts = Some(affected))
        }
      txn.dropComp("tombstones")
    }
  }

  /** Maximal Marginal Relevance (Carbonell-Goldstein): diversity-aware
    * top-k — greedily pick argmax of λ·sim(q,c) − (1−λ)·max_{s∈S}
    * sim(c,s) over the unpicked candidates. The retrieval stack's
    * answer to near-duplicate corpora: plain top-k returns k copies of
    * one document, MMR penalizes each candidate by its similarity to
    * what's already picked.
    *
    * Shape: the candidate shortlist (top-nCand cosine via the map-side
    * heap node) is checkpointed once; each of the k greedy steps is a
    * broadcast of the nQueries-row pick table back onto the shortlist
    * plus a max_by argmax over a TOTAL (score, −id) key, maintaining a
    * running max-sim-to-picked column — so the greedy recursion never
    * rescans the corpus, and per-step state is queries×nCand rows
    * regardless of corpus size. λ and (1−λ) are interpolated into the
    * oracle from these same constants, so even the float scores
    * hash-match.
    */
  def mmrTopK(embeddings: DataFrame, nQueries: Int, k: Int = 5,
              nCand: Int = 20, lambda: Double = 0.7): DataFrame = {
    val oneMinus = 1.0 - lambda
    val queries = embeddings.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    val scored = embeddings
      .repartition(embeddings.sparkSession.sparkContext.defaultParallelism,
        col("vec_id"))
      .select(col("vec_id").as("cand_id"), col("embedding").as("cemb"))
      .join(broadcast(queries), col("cand_id") =!= col("query_id"))
      .select(col("query_id"), col("cand_id"), col("cemb"),
        cosine(col("qe"), col("cemb")).as("simq"))
    val cands = org.apache.spark.sql.graftbridge.PlanBridge.topKPerKey(
        scored.withColumn("__tie", -col("cand_id")),
        Seq("query_id"), Seq("simq", "__tie"), nCand)
      .drop("__tie")
      .maintCheckpoint() // shortlist feeds all k greedy steps
    // per-query argmax = the two-phase heap node with k=1: map-side
    // partials prune every partition to one row per query before the
    // shuffle. A max_by carrying the embedding payload would plan
    // SortAggregate (array-typed buffers can't hash-aggregate); the
    // heap node keeps whole rows and never sorts.
    def argmax(df: DataFrame, score: Column): DataFrame =
      org.apache.spark.sql.graftbridge.PlanBridge.topKPerKey(
          df.withColumn("__s", score).withColumn("__tie", -col("cand_id")),
          Seq("query_id"), Seq("__s", "__tie"), 1)
        .select(col("query_id"), col("cand_id").as("sel_id"),
          col("cemb").as("semb"), col("simq").as("sel_simq"))
    val first = argmax(cands, col("simq"))
    var picked = first.select(col("query_id"),
      col("sel_id").as("neighbor_id"), col("sel_simq").as("sim"),
      lit(1L).as("mmr_rank"))
    var rem = cands.join(broadcast(first), Seq("query_id"))
      .filter(col("cand_id") =!= col("sel_id"))
      .select(col("query_id"), col("cand_id"), col("cemb"), col("simq"),
        cosine(col("cemb"), col("semb")).as("maxsel"))
    for (i <- 2 to k) {
      val next = argmax(rem,
        col("simq") * lambda - col("maxsel") * oneMinus)
      picked = picked.unionByName(next.select(col("query_id"),
        col("sel_id").as("neighbor_id"), col("sel_simq").as("sim"),
        lit(i.toLong).as("mmr_rank")))
      if (i < k)
        rem = rem.join(broadcast(next), Seq("query_id"))
          .filter(col("cand_id") =!= col("sel_id"))
          .select(col("query_id"), col("cand_id"), col("cemb"), col("simq"),
            greatest(col("maxsel"),
              cosine(col("cemb"), col("semb"))).as("maxsel"))
    }
    picked.orderBy(col("query_id"), col("mmr_rank"))
  }

  /** Banded random-hyperplane LSH for embedding-cosine NEAR-DUP
    * detection: `numBands` independent bands of `rowsPerBand` sign bits
    * each. Fewer bits per band than the top-k bucket key (4 vs 8)
    * because near-dup recall matters more than candidate sparsity: for
    * a pair at cosine c, P(candidate) = 1 − (1 − p^r)^b with
    * p = 1 − arccos(c)/π.
    */
  val ndBands = 8
  val ndRows = 4

  /** Band keys; plane index offset avoids reusing the top-k planes. */
  def bandKeys(vec: Column): Column = {
    val keys = (0 until ndBands).map { b =>
      val bits = (0 until ndRows).map { r =>
        val p = (0 until dim).map(j => planeValue(numPlanes + b * ndRows + r, j))
        val planeCol = array(p.map(lit): _*)
        when(dot(planeCol, vec) > 0, lit("1")).otherwise(lit("0"))
      }
      concat(bits: _*)
    }
    array(keys: _*)
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * "SemDeDup: Data-efficient learning at web-scale through semantic
    * deduplication"): k-means-cluster the embedding space with the same
    * trained coarse quantizer the ANN index uses, then compare pairs
    * ONLY within a cluster and prune every vector whose cosine to an
    * earlier (lower vec_id) cluster member reaches the threshold. The
    * earlier member becomes the exemplar — the same canonical-minimum
    * convention as [[graft.ops.Dedup.nearDupClusters]], here as the
    * one-pass variant (pruned-by-earliest, no sequential within-cluster
    * greedy) so the decision is a pure join + min aggregation.
    *
    * Scale shape: the all-pairs comparison SemDeDup exists to avoid is
    * replaced by a self-join keyed on (cell, salt) — candidate volume
    * is Σ|cell|², and production nlist grows with the corpus so |cell|
    * stays bounded; cell SIZES are data-dependent though (clustered
    * corpora are SemDeDup's premise), so a hot cell would own one
    * reducer with |cell|² candidate pairs. The join therefore takes the
    * (cell, salt) spreading of [[ivfTopKSalted]]: the candidate side's
    * salt is a deterministic hash of cand_id, the keep side replicates
    * each row once per salt (a `salts`-row explode, never a crossJoin),
    * and a hot cell's pair work spreads over `salts` reducers. Results
    * are salt-INVARIANT — the registry oracle computes the unsalted
    * plan — and the per-shard candidate bound is asserted in OpsSpec on
    * a skewed corpus. One assignment pass (checkpointed) feeds
    * both join sides; training reads the bounded hash-sample.
    *
    * Cost note: replicating the keep side ×salts multiplies its
    * shuffle bytes by `salts` to bound per-reducer WORK — the standard
    * self-join salting trade. At production scale the refinement is
    * threshold salting (replicate only for cells above a size cutoff,
    * known from the assignment census) or letting AQE's skew-join
    * splitting handle the equi-join at runtime; the uniform salt here
    * keeps the plan static and the oracle contract exact.
    *
    * Output: one row per vector — (vec_id, cell, kept, exemplar_id),
    * kept = no earlier in-cell member at ≥ threshold cosine.
    */
  def semDedup(embeddings: DataFrame, nlist: Int = 16,
               threshold: Double = 0.2, salts: Int = 8): DataFrame = {
    val assigned =
      assignCells(embeddings, kmeansCentroids(embeddings, nlist))
        .maintCheckpoint()
    val keep = assigned.select(col("cell"), col("vec_id").as("keep_id"),
      col("embedding").as("keep_emb"))
      .withColumn("salt", explode(sequence(lit(0L), lit(salts - 1L))))
    val cand = assigned.select(col("cell"), col("vec_id").as("cand_id"),
      col("embedding").as("cand_emb"))
      .withColumn("salt",
        pmod(Text.tokenHash(col("cand_id").cast("string")), lit(salts.toLong)))
    val prunedBy = keep.join(cand, Seq("cell", "salt"))
      .filter(col("keep_id") < col("cand_id") &&
        cosine(col("keep_emb"), col("cand_emb")) >= threshold)
      .groupBy(col("cand_id"))
      .agg(min(col("keep_id")).as("exemplar"))
    assigned.join(prunedBy, assigned("vec_id") === prunedBy("cand_id"),
        "left")
      .select(col("vec_id"), col("cell"),
        col("exemplar").isNull.as("kept"),
        coalesce(col("exemplar"), col("vec_id")).as("exemplar_id"))
      .orderBy(col("vec_id"))
  }

  /** Quantization levels for the SQ8 scalar quantizer (codes 0..255,
    * one byte per dimension — 4× smaller than float32, vs PQ's 64×;
    * the standard middle rung of the compression ladder).
    */
  val sqLevels = 255

  /** SQ8 training: per-dimension [min, max] over the corpus. min/max
    * are order-independent (unlike float sums), so this needs no
    * two-level fold — one posexplode + hash aggregation, exact and
    * partition-layout-proof. Output: one row per dimension.
    */
  def sqParams(embeddings: DataFrame): DataFrame =
    embeddings
      .repartition(embeddings.sparkSession.sparkContext.defaultParallelism,
        col("vec_id"))
      .select(posexplode(col("embedding")).as(Seq("j", "v")))
      .groupBy(col("j"))
      .agg(min(col("v").cast("double")).as("mn"),
        max(col("v").cast("double")).as("mx"))

  /** The trained SQ params packed to dim-length arrays (mins + spans)
    * in ONE row — the broadcastable artifact encode/decode carries.
    */
  def sqParamArrays(embeddings: DataFrame): DataFrame =
    sqParams(embeddings)
      .withColumn("sp", col("mx") - col("mn"))
      .agg(
        transform(sort_array(collect_list(struct(col("j"), col("mn")))),
          x => x.getField("mn")).as("mns"),
        transform(sort_array(collect_list(struct(col("j"), col("sp")))),
          x => x.getField("sp")).as("sps"))

  /** SQ8 encode: code_j = floor((x_j − mn_j) · 255 / span_j), clamped
    * to 255 (floor, not round — round's half-way tie rule differs
    * between engines; floor is bit-identical). Zero-span dimensions
    * (constant across the corpus) encode as 0. The params row is a
    * one-row broadcast carrier, so encoding is a single corpus scan.
    * Callers that also DECODE (sqTopK) pass the trained `params` frame
    * in, so one min/max training aggregation feeds both sides — held
    * on the driver like every other trained artifact here; the default
    * trains fresh.
    */
  def sqEncode(embeddings: DataFrame, params: DataFrame = null): DataFrame =
    embeddings
      .repartition(embeddings.sparkSession.sparkContext.defaultParallelism,
        col("vec_id"))
      .crossJoin(broadcast(Option(params).getOrElse(sqParamArrays(embeddings))))
      .select(col("vec_id"),
        zip_with(
          zip_with(col("embedding"), col("mns"),
            (x, mn) => x.cast("double") - mn),
          col("sps"),
          (d, s) => when(s === lit(0.0), lit(0.0))
            .otherwise(least(floor(d * lit(255.0) / s).cast("double"),
              lit(255.0)))
            .cast("int")).as("codes"))

  /** SQ8 top-k: score queries against the DEQUANTIZED corpus —
    * x̂_j = mn_j + code_j·span_j/255. Reconstruction is per corpus row
    * (not per pair): decode once, then the codegen'd float_dot scores
    * each (query, x̂) pair. At 100 TB the 4×-compressed code table is
    * what sits on disk/in cache; the float corpus is only read to
    * train (min/max) and encode.
    */
  def sqTopK(embeddings: DataFrame, nQueries: Int, k: Int): DataFrame = {
    // ONE min/max training aggregation feeds encode AND dequantize —
    // held (one row) so the second consumer cannot replay the
    // full-corpus posexplode+agg training subtree
    val params = Sources.hold(sqParamArrays(embeddings), Some(1L)).df
    val recon = sqEncode(embeddings, params)
      .crossJoin(broadcast(params))
      .select(col("vec_id").as("neighbor_id"),
        zip_with(
          zip_with(col("codes"), col("sps"),
            (c, s) => c.cast("double") * s / lit(255.0)),
          col("mns"), (t, mn) => mn + t).as("ce"))
    val queries = embeddings.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    val scored = recon.join(broadcast(queries))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("qe"), col("ce")).as("sim"))
    topKRanked(scored, "sim", k)
  }

  /** Approximate kNN-GRAPH construction: every vector's top-k among
    * its banded-LSH candidates — the batch "kNN join" that seeds
    * graph-based ANN indexes (the NN-Descent / HNSW bootstrap),
    * kNN-graph dedup, and label propagation. Candidates come from the
    * same [[bandKeys]] banding as near-dup detection; each UNDIRECTED
    * candidate pair is scored ONCE and fans out to both directions in
    * the same pass (an explode, never a self-union that would replay
    * the pair pipeline — the [[graft.ops.Dedup.nearDupClusters]] edge
    * device), and the per-node top-k is the map-side heap node.
    * O(n·candidates), never all-pairs; nodes whose bands collide with
    * nothing have no edges — exactly the vectors LSH cannot place,
    * which a production NN-Descent refinement pass would then wire.
    */
  /** Salted banded-LSH candidate pairs (id1 < id2) — the shared
    * candidate generator of [[knnGraph]] and [[nearDupPairs]]. A hot
    * band bucket is an unsalted Σ|bucket|² on one reducer (the skew
    * class the SemDeDup cell join fixed in round 5); same device here:
    * the right side hash-salts by its own vec_id, the left side
    * replicates ×salts, the join keys on (band, salt). Each (a,b) pair
    * emerges exactly once — at salt(b) — so candidates are
    * salt-INVARIANT (the oracles compute the unsalted plan;
    * spec-proven) while a hot bucket's pair work spreads over `salts`
    * reducers. The banded frame is checkpointed (pruned to the
    * 3 join columns first) so the banding pipeline runs once even
    * though the two sides now project different salt columns.
    */
  private def bandedCandidatePairs(embeddings: DataFrame,
                                   salts: Int): DataFrame = {
    val banded = embeddings
      .repartition(embeddings.sparkSession.sparkContext.defaultParallelism,
        col("vec_id"))
      .select(col("vec_id"),
        posexplode(bandKeys(col("embedding"))).as(Seq("band_idx", "band_key")))
      .maintCheckpoint()
    val x = banded
      .withColumn("salt", explode(sequence(lit(0L), lit(salts - 1L))))
      .alias("x")
    val y = banded
      .withColumn("salt",
        pmod(graft.ops.Text.tokenHash(col("vec_id").cast("string")),
          lit(salts.toLong)))
      .alias("y")
    x.join(y,
        col("x.band_idx") === col("y.band_idx") &&
          col("x.band_key") === col("y.band_key") &&
          col("x.salt") === col("y.salt") &&
          col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("id1"), col("y.vec_id").as("id2")).distinct()
  }

  def knnGraph(embeddings: DataFrame, k: Int = 5,
               salts: Int = 8): DataFrame = {
    val cand = bandedCandidatePairs(embeddings, salts)
    val vecs = embeddings.select(col("vec_id"), col("embedding"))
    val scored = cand
      .join(vecs.select(col("vec_id").as("id1"), col("embedding").as("e1")),
        Seq("id1"))
      .join(vecs.select(col("vec_id").as("id2"), col("embedding").as("e2")),
        Seq("id2"))
      .select(col("id1"), col("id2"), cosine(col("e1"), col("e2")).as("sim"))
    val sym = scored.select(explode(array(
        struct(col("id1").as("query_id"), col("id2").as("neighbor_id"),
          col("sim").as("sim")),
        struct(col("id2").as("query_id"), col("id1").as("neighbor_id"),
          col("sim").as("sim")))).as("e"))
      .select(col("e.query_id"), col("e.neighbor_id"), col("e.sim"))
    topKRanked(sym, "sim", k)
  }

  /** ONE NN-Descent refinement round over the [[knnGraph]] (Dong et
    * al. 2011's core observation: a neighbor of a neighbor is likely a
    * neighbor): the candidate set grows by every u→v→w expansion over
    * the round-0 graph, PLUS the orphan-wiring pass — vectors whose
    * bands collided with nothing (no round-0 edges, exactly the nodes
    * LSH cannot place) get their trained IVF cell's members as
    * candidates. All candidates collapse to one undirected distinct
    * set, each pair is scored once and fanned to both directions, and
    * the per-node top-k is the same heap node as round 0 — so refined
    * recall can only meet or beat the banded graph (spec-gated
    * strictly above on the fixtures).
    *
    * Scale shape: the expansion join is edge-list×edge-list on node
    * keys (≤ k·n rows a side, uniform keys — no |V| broadcast, no
    * window); orphan candidates are |orphans|·|cell| with orphans few
    * by construction; further rounds would iterate the same step to
    * NN-Descent convergence.
    */
  def knnRefine(embeddings: DataFrame, k: Int = 5, nlist: Int = 16,
                salts: Int = 8): DataFrame =
    knnRefineWith(embeddings,
      knnGraph(embeddings, k, salts)
        .select(col("query_id"), col("neighbor_id"))
        .maintCheckpoint(), k, nlist)

  /** [[knnRefine]] with a precomputed round-0 graph — the sharing
    * point the folded `sim_knn_family` registry entry uses so the
    * graph arm and the refine arm compute the banded kNN join once.
    * `g0` must be materialized (checkpointed) (query_id, neighbor_id)
    * edges. Result-identical.
    */
  private[graft] def knnRefineWith(embeddings: DataFrame, g0: DataFrame,
                                   k: Int = 5,
                                   nlist: Int = 16): DataFrame = {
    val nn = g0.alias("a")
      .join(g0.alias("b"),
        col("a.neighbor_id") === col("b.query_id") &&
          col("a.query_id") =!= col("b.neighbor_id"))
      .select(col("a.query_id").as("id1"), col("b.neighbor_id").as("id2"))
    val orphans = embeddings.select(col("vec_id"))
      .join(g0.select(col("query_id")).distinct(),
        col("vec_id") === col("query_id"), "left_anti")
    val assigned = assignCells(embeddings, kmeansCentroids(embeddings, nlist))
      .select(col("vec_id"), col("cell"))
      .maintCheckpoint()
    val orphCand = assigned.join(orphans, Seq("vec_id"))
      .select(col("vec_id").as("id1"), col("cell"))
      .join(assigned.select(col("vec_id").as("id2"), col("cell")), Seq("cell"))
      .filter(col("id1") =!= col("id2"))
      .select(col("id1"), col("id2"))
    def undirected(df: DataFrame): DataFrame = df.select(
      least(col("id1"), col("id2")).as("id1"),
      greatest(col("id1"), col("id2")).as("id2"))
    val allCand = undirected(
        g0.select(col("query_id").as("id1"), col("neighbor_id").as("id2")))
      .unionByName(undirected(nn))
      .unionByName(undirected(orphCand))
      .distinct()
    val vecs = embeddings.select(col("vec_id"), col("embedding"))
    val scored = allCand
      .join(vecs.select(col("vec_id").as("id1"), col("embedding").as("e1")),
        Seq("id1"))
      .join(vecs.select(col("vec_id").as("id2"), col("embedding").as("e2")),
        Seq("id2"))
      .select(col("id1"), col("id2"), cosine(col("e1"), col("e2")).as("sim"))
    val sym = scored.select(explode(array(
        struct(col("id1").as("query_id"), col("id2").as("neighbor_id"),
          col("sim").as("sim")),
        struct(col("id2").as("query_id"), col("id1").as("neighbor_id"),
          col("sim").as("sim")))).as("e"))
      .select(col("e.query_id"), col("e.neighbor_id"), col("e.sim"))
    topKRanked(sym, "sim", k)
  }

  /** Semi-supervised LABEL PROPAGATION over the [[knnGraph]] — the
    * weak-supervision pattern that turns a few labeled examples into
    * corpus-wide labels (Zhu & Ghahramani 2002, as synchronous integer
    * voting): seed vectors (vec_id < nSeeds) keep their label; every
    * round each non-seed takes the MODAL label among its graph
    * neighbors' current labels (ties to the smaller label; unlabeled
    * neighbors don't vote; a node with no labeled neighbors keeps its
    * previous state). Fixed `rounds` iterations — the determinism
    * contract every iterative operator here follows — with each round
    * one equi-join + two aggregations over the ≤ k·n edge set; the
    * graph builds once (checkpointed) and labels checkpoint per round
    * so round r never replays rounds 0..r−1.
    *
    * Output: (vec_id, is_seed, label) — label −1 for nodes no label
    * ever reached (disconnected from all seeds).
    */
  def labelPropagate(embeddings: DataFrame, nSeeds: Int, k: Int = 5,
                     rounds: Int = 3): DataFrame = {
    val g = knnGraph(embeddings, k)
      .select(col("query_id").as("dst"), col("neighbor_id").as("src"))
      .maintCheckpoint()
    var labels = embeddings.select(col("vec_id"),
        when(col("vec_id") < nSeeds, col("label").cast("long")).as("lbl"))
      .maintCheckpoint()
    for (_ <- 1 to rounds) {
      val votes = g
        .join(labels.select(col("vec_id").as("src"), col("lbl")), Seq("src"))
        .filter(col("lbl").isNotNull)
        .groupBy(col("dst"), col("lbl"))
        .agg(count(lit(1)).as("votes"))
      // modal label via max_by over the TOTAL (votes, -lbl) key —
      // partial-aggregates map-side, never a window over the votes
      val best = votes.groupBy(col("dst"))
        .agg(max_by(col("lbl"), struct(col("votes"), -col("lbl")))
          .as("new_lbl"))
      labels = labels
        .join(best, labels("vec_id") === best("dst"), "left")
        .select(col("vec_id"),
          when(col("vec_id") < nSeeds, col("lbl"))
            .otherwise(coalesce(col("new_lbl"), col("lbl"))).as("lbl"))
        .maintCheckpoint()
    }
    labels.select(col("vec_id"), (col("vec_id") < nSeeds).as("is_seed"),
        coalesce(col("lbl"), lit(-1L)).as("label"))
      .orderBy(col("vec_id"))
  }

  /** Embedding-cosine near-dup pairs: banded LSH candidates + exact
    * cosine verification. O(n·candidates): the corpus is scanned once
    * to band, the self-join runs per (band, key) bucket, and only
    * candidate pairs pay the exact dot product.
    */
  def nearDupPairs(embeddings: DataFrame, threshold: Double,
                   salts: Int = 8): DataFrame = {
    val cand = bandedCandidatePairs(embeddings, salts)
    val vecs = embeddings.select(col("vec_id"), col("embedding"))
    cand
      .join(vecs.select(col("vec_id").as("id1"), col("embedding").as("e1")), Seq("id1"))
      .join(vecs.select(col("vec_id").as("id2"), col("embedding").as("e2")), Seq("id2"))
      .select(col("id1"), col("id2"), cosine(col("e1"), col("e2")).as("sim"))
      .filter(col("sim") >= threshold)
      .orderBy(col("id1"), col("id2"))
  }
}
