package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops._
import graft.sources.Sources.MaintCheckpointSyntax

/** Driver contract — registry of every implemented operator
  * (SURVEY.md §2) as `(SparkSession, sfDir) => DataFrame`, each paired
  * with a DuckDB oracle in `oracleSql`.
  *
  * Determinism conventions (the driver hash-compares results):
  *  - every query ends in an explicit orderBy over null-free keys (or
  *    uses NULLS FIRST on both sides — Spark's ASC default);
  *  - money/double aggregates are cast to decimal BEFORE summing: exact,
  *    associative, engine- and partition-order-independent;
  *  - column names are aliased identically in Spark and oracle SQL.
  */
object SparkEntry {
  import Tables._

  /** Zip-mode multiline input fixture: blank/whitespace-only lines are
    * dropped before positional assignment (OBP.js:297-298).
    */
  val zipText: String =
    "alpha\n\nbeta\ngamma\n   \ndelta\nepsilon\nzeta\n\neta\ntheta"

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * Broadcast-constant bulk update (the reference's main path): scan →
    * visibility filter → read-only mask → conditional update → project.
    */
  def entry(spark: SparkSession): DataFrame =
    queries("bu_broadcast")(spark, "/root/testdata/sf0.001")

  /** Registry fold (round-7 pruning): run several same-family variants
    * as ONE multi-assert query — each arm's rows ride under a `variant`
    * tag, padded with typed NULLs to the union of the family's columns,
    * so one hash checks every variant at once while the per-variant
    * semantics (and the ops functions implementing them) stay exactly
    * as they were. `cols` is (name, sparkType) over the union; an arm
    * contributes the columns it owns and NULLs for the rest.
    */
  /** When set (thread-local), [[foldedQuery]] deposits each arm's
    * tagged frame here as the fold is CONSTRUCTED — the bench's
    * per-arm visibility hook: a ≥3-arm fold's total time hides an
    * individual arm regressing, so the record run times each captured
    * arm separately (bench_full.json `_arms`). Never set on the
    * verify/serving paths.
    */
  private[graft] val armCapture =
    new ThreadLocal[scala.collection.mutable.Buffer[(String, DataFrame)]]

  private def foldedQuery(cols: Seq[(String, String)],
                          arms: (String, DataFrame)*): DataFrame = {
    val frames = arms.map { case (tag, df) =>
      val own = df.columns.toSet
      df.select(lit(tag).as("variant") +: cols.map { case (c, t) =>
        if (own(c)) col(c)
        else if (t == "timestamp") lit(oracles.Kit.tsPad).cast("timestamp").as(c)
        else lit(null).cast(t).as(c)
      }: _*)
    }
    Option(armCapture.get()).foreach(buf =>
      arms.map(_._1).zip(frames).foreach(buf += _))
    frames.reduce(_.unionByName(_))
      .orderBy(col("variant") +: cols.map(p => col(p._1)): _*)
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- reference core: bulk update (SURVEY §2.1) ----
    "bu_broadcast" -> ((s, d) => {
      val li = lineitem(s, d)
      BulkUpdate.broadcastUpdate(li, "l_linestatus", lit("U"),
          visible = col("l_quantity") > 25,
          readOnly = col("l_returnflag") === "R")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
          col("l_linestatus"))
        // sort over ALL output columns: (l_orderkey, l_linenumber) is not
        // unique, and a total output order keeps the dump deterministic
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
          col("l_linestatus"))
    }),
    "bu_zip" -> ((s, d) => {
      // orders: o_orderkey is a genuine unique document-order key
      // ((l_orderkey, l_linenumber) is NOT unique in the fixtures)
      BulkUpdate.zipUpdate(orders(s, d), "o_orderpriority", zipText,
          orderKeys = Seq("o_orderkey"),
          visible = col("o_orderstatus") === "O",
          readOnly = col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_orderpriority"))
        .orderBy(col("o_orderkey"))
    }),
    "bu_zip_large" -> ((s, d) => {
      // large-list variant: the value list is a distributed dataset, so
      // the zipWithIndex path computes the positional index
      val values = s.range(1000).select(col("id").as("__pos"),
        concat(lit("v"), col("id")).as("__newval"))
      BulkUpdate.zipUpdateIndexed(orders(s, d), "o_orderpriority", values,
          orderKeys = Seq("o_orderkey"),
          visible = col("o_orderstatus") === "O",
          readOnly = col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_orderpriority"))
        .orderBy(col("o_orderkey"))
    }),
    "bu_outcome" -> ((s, d) =>
      BulkUpdate.outcome(lineitem(s, d),
        visible = col("l_quantity") > 25,
        readOnly = col("l_returnflag") === "R")),
    "bu_readonly_guard" -> ((s, d) =>
      BulkUpdate.readOnlyGuard(lineitem(s, d),
        readOnly = col("l_returnflag") === "R")),
    "bu_split_lines" -> ((s, d) => {
      // O7 standalone: parse the multiline fixture inside the engine
      val df = s.range(1).select(lit(zipText).as("raw"))
      df.select(posexplode(filter(split(col("raw"), "\n"),
          x => trim(x) =!= "")).as(Seq("pos", "line")))
        .select(col("pos").cast("long").as("pos"), col("line"))
        .orderBy(col("pos"))
    }),
    "bu_bool_coerce" -> ((s, d) => {
      import s.implicits._
      val vals = Seq("true", "True", "TRUE", " true ", "false", "FALSE",
        "1", "yes", "", "truthy").toDF("raw")
      vals.select(col("raw"), BulkUpdate.coerceBoolean(col("raw")).as("coerced"))
        .orderBy(col("raw"))
    }),
    "bu_int_clamp" -> ((s, d) => {
      import s.implicits._
      val vals = Seq("400", "0", "-100", "7", "-1", "250", "abc", " 42 ", "3.9")
        .toDF("raw")
      vals.select(col("raw"), BulkUpdate.parseClampInt(col("raw")).as("clamped"))
        .orderBy(col("raw"))
    }),
    "bu_limit" -> ((s, d) =>
      lineitem(s, d)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
        .limit(500)),
    // O18 end to end: stage → MERGE writeback → census (the oracle
    // recomputes the UPDATE's effect as a CASE over the same input)
    "bu_merge" -> ((s, d) =>
      graft.sources.Sources.mergeProbe(s, d, layoutBase("merge_sink", d))),

    // ---- registry folds (round-7 pruning): each runs a whole variant
    // family as ONE multi-assert query; the ops functions behind every
    // variant are unchanged ----
    "txt_fuzzy_family" -> ((s, d) =>
      foldedQuery(Seq("name1" -> "string", "name2" -> "string",
          "dist" -> "long"),
        "names" -> Text.fuzzyNamePairs(nation(s, d), "n_nationkey", "n_name"),
        "parts" -> Text.fuzzyDistinctNames(part(s, d), "p_name"))),
    // hash- vs merge-hinted strategies over the same relation: both
    // arms must produce the identical aggregate
    "rel_join_strategies" -> ((s, d) =>
      foldedQuery(Seq("s_name" -> "string", "n_items" -> "long",
          "revenue" -> "double"),
        "hash" -> Relational.supplierRevenueHashJoin(lineitem(s, d), supplier(s, d)),
        "merge" -> Relational.supplierRevenueMergeJoin(lineitem(s, d), supplier(s, d)))),
    "txt_sample_strata" -> ((s, d) =>
      foldedQuery(Seq("lang" -> "string", "n_sampled" -> "long",
          "first_doc" -> "long"),
        "uniform" -> Text.hashSample(documents(s, d)),
        "stratified" -> Text.stratifiedSample(documents(s, d),
          Map("en" -> 50, "zh" -> 25)))),
    "txt_winnow_family" -> ((s, d) =>
      foldedQuery(Seq("doc_id" -> "long", "n_fp" -> "long",
          "fp_min" -> "long", "fp_max" -> "long", "fp_xor" -> "long",
          "doc1" -> "long", "doc2" -> "long", "n_shared" -> "long"),
        "sketch" -> Text.winnowSketch(documents(s, d)),
        "pairs" -> Text.winnowMatches(documents(s, d)))),
    "txt_dup_family" -> ((s, d) =>
      foldedQuery(Seq("doc_id" -> "long", "n_positions" -> "long",
          "n_dup" -> "long", "dup_frac" -> "double", "span_start" -> "long",
          "span_end" -> "long", "span_tokens" -> "long"),
        "ngrams" -> Text.ngramCoverage(documents(s, d)),
        "spans" -> Text.dupSpans(documents(s, d)))),
    // the pair arm's candidate enumeration is computed ONCE and feeds
    // the cluster arm's connected components
    "mm_phash_family" -> ((s, d) => {
      val dups = Multimodal.phashDups(documents(s, d)).maintCheckpoint()
      foldedQuery(Seq("id1" -> "long", "id2" -> "long", "hamming" -> "long",
          "doc_id" -> "long", "canon_id" -> "long", "n_members" -> "long"),
        "dups" -> dups,
        "clusters" -> Multimodal.phashClustersFrom(dups))
    }),
    "rel_resample" -> ((s, d) =>
      foldedQuery(Seq("user_id" -> "long", "day" -> "timestamp",
          "n_events" -> "long", "filled_value" -> "double",
          "interp_value" -> "double", "is_gap" -> "boolean"),
        "ffill" -> Relational.resampleFfill(events(s, d)),
        "interp" -> Relational.resampleInterp(events(s, d)))),
    "xtr_kmv" -> ((s, d) =>
      foldedQuery(Seq("l_returnflag" -> "string", "exact_parts" -> "long",
          "kmv_est" -> "double", "lang1" -> "string", "lang2" -> "string",
          "est_1" -> "double", "est_2" -> "double", "est_union" -> "double",
          "est_inter" -> "double", "jaccard_est" -> "double"),
        "distinct" -> Scalar.kmvDistinct(lineitem(s, d)),
        "overlap" -> Text.langTokenOverlap(documents(s, d)))),
    "xtr_quantiles" -> ((s, d) =>
      foldedQuery(Seq("event_type" -> "string", "exact_p50" -> "double",
          "approx_in_rank_band" -> "boolean", "l_returnflag" -> "string",
          "qty_p25" -> "double", "qty_p50" -> "double", "qty_p75" -> "double",
          "n" -> "long"),
        "approx_gate" -> Scalar.approxQuantileGate(events(s, d)),
        "grouped" -> Relational.groupQuantiles(lineitem(s, d)))),
    // the custom heap-node top-k and the LATERAL-subquery top-k
    "rel_topk_variants" -> ((s, d) =>
      foldedQuery(Seq("o_orderkey" -> "long", "o_custkey" -> "long",
          "o_totalprice" -> "double", "n_nationkey" -> "int",
          "s_suppkey" -> "long", "s_acctbal" -> "double"),
        "native_heap" -> Relational.topOrdersPerCustomerNative(orders(s, d), 3),
        "lateral" -> Relational.topSuppliersPerNationLateral(
          nation(s, d), supplier(s, d)))),
    "rel_argminmax" -> ((s, d) =>
      foldedQuery(Seq("l_partkey" -> "long", "l_suppkey" -> "long",
          "o_orderstatus" -> "string", "priciest_order" -> "long",
          "cheapest_order" -> "long", "max_price" -> "double",
          "min_price" -> "double"),
        "argmin" -> Relational.cheapestSuppliers(lineitem(s, d)),
        "minmax_by" -> Relational.orderExtremes(orders(s, d)))),
    "mm_grid_family" -> ((s, d) =>
      foldedQuery(Seq("doc_id" -> "long", "frame_idx" -> "long",
          "frame_len" -> "long", "tx" -> "long", "ty" -> "long",
          "tile_w" -> "long", "tile_h" -> "long"),
        "frames" -> Multimodal.frameStats(documents(s, d), 256, 2),
        "tiles" -> Multimodal.tileGrid(documents(s, d)))),
    "sca_genseq" -> ((s, d) =>
      foldedQuery(Seq("n_nationkey" -> "int", "pos" -> "long",
          "part" -> "string", "seq_len" -> "long", "seq_sum" -> "long",
          "one_two_three" -> "string"),
        "generators" -> Scalar.generatorFamily(nation(s, d)),
        "sequence" -> Scalar.sequenceFamily(nation(s, d)))),
    "txt_doc_metrics" -> ((s, d) =>
      foldedQuery(Seq("doc_id" -> "long", "n_tokens" -> "long",
          "n_types" -> "long", "ttr" -> "double", "n_words" -> "long",
          "n_sentences" -> "long", "n_syllables" -> "long",
          "flesch" -> "double"),
        "ttr" -> Text.typeTokenRatio(documents(s, d)),
        "readability" -> Text.readability(documents(s, d)))),
    "str_watermarks" -> ((s, d) =>
      foldedQuery(Seq("event_type" -> "string", "n_events" -> "long",
          "n_late" -> "long", "n_on_time" -> "long", "late_share" -> "double",
          "window_start" -> "timestamp", "n_users" -> "long"),
        "late_audit" -> graft.streaming.StreamingOps.lateDataAudit(events(s, d)),
        "window_users" -> graft.streaming.StreamingOps
          .windowUserCounts(events(s, d)))),
    "rel_scd_family" -> ((s, d) => {
      // deterministic synthetic "next snapshot": every 97th key deleted,
      // every 11th price bumped, every 101st key re-inserted shifted
      val prev = orders(s, d)
      val next = prev
        .filter(col("o_orderkey") % 97 =!= 0)
        .withColumn("o_totalprice",
          when(col("o_orderkey") % 11 === 0, col("o_totalprice") + 1.0)
            .otherwise(col("o_totalprice")))
        .unionByName(prev.filter(col("o_orderkey") % 101 === 0)
          .withColumn("o_orderkey", col("o_orderkey") + 1000000000L))
      foldedQuery(Seq("o_custkey" -> "long", "o_orderkey" -> "long",
          "o_orderstatus" -> "string", "effective_from" -> "timestamp",
          "effective_to" -> "timestamp", "is_current" -> "boolean",
          "op" -> "string", "n_rows" -> "long"),
        "scd2" -> Relational.scd2Intervals(orders(s, d)),
        "snapshot_diff" -> Relational.snapshotDiff(prev, next, "o_orderkey",
          Seq("o_orderstatus", "o_totalprice")))
    }),
    "rel_join_predicates" -> ((s, d) =>
      foldedQuery(Seq("ckey_s" -> "long", "n_pairs" -> "long",
          "revenue" -> "double", "n_items" -> "long"),
        "null_safe" -> Relational.nullSafeJoinCounts(customer(s, d), supplier(s, d)),
        "disjunctive" -> Relational.disjunctiveRevenue(lineitem(s, d), part(s, d)))),
    "txt_pack_family" -> ((s, d) =>
      foldedQuery(Seq("shard" -> "long", "bin" -> "long", "n_docs" -> "long",
          "sum_tokens" -> "long", "first_doc" -> "long", "last_doc" -> "long",
          "doc_id" -> "long", "pos" -> "long"),
        "bins" -> Text.packBins(documents(s, d), capacity = 512)
          .withColumn("shard", col("shard").cast("long")),
        "epoch_shuffle" -> Text.epochShuffle(documents(s, d), 1))),
    // backward as-of is rel_asof_join; the directed variants fold here
    "rel_asof_directed" -> ((s, d) =>
      foldedQuery(Seq("o_orderkey" -> "long", "next_event_id" -> "long",
          "next_ts" -> "timestamp", "event_id" -> "long",
          "asof_orderkey" -> "long", "asof_orderdate" -> "timestamp"),
        "forward" -> Relational.asofNextEvent(orders(s, d), events(s, d)),
        "merge_scan" -> Relational.asofMergeJoin(events(s, d), orders(s, d)))),
    // exact + fuzzy incremental dedup against the train-split history
    "dedup_incr_family" -> ((s, d) => {
      val docs = documents(s, d)
      val split = Text.trainValSplit(docs).select(col("doc_id"), col("split"))
      val withSplit = docs.join(split, Seq("doc_id"))
      val batch = withSplit.filter(col("split") =!= "train")
      val hist = withSplit.filter(col("split") === "train")
      foldedQuery(Seq("doc_id" -> "long", "lang" -> "string",
          "source" -> "string", "n_cands" -> "long", "n_dups" -> "long",
          "dup_of" -> "long", "is_dup" -> "boolean"),
        "exact" -> Dedup.incrementalDedup(batch,
          hist.select(md5(col("text")).as("seen_hash")).distinct()),
        "near" -> Dedup.incrementalNearDup(batch, hist))
    }),
    // all six set operators in one multi-assert result: the ±ALL arms
    // carry their multiplicity, the distinct arms a constant 1
    "rel_set_ops" -> ((s, d) => {
      val c = customer(s, d); val su = supplier(s, d)
      val one = lit(1L)
      foldedQuery(Seq("nk" -> "int", "n" -> "long"),
        "union" -> Relational.nationKeysUnion(c, su).withColumn("n", one),
        "union_all" -> Relational.nationKeysUnionAll(c, su),
        "intersect" -> Relational.nationKeysIntersect(c, su).withColumn("n", one),
        "intersect_all" -> Relational.nationKeysIntersectAll(c, su),
        "except" -> Relational.nationKeysExcept(c, su).withColumn("n", one),
        "except_all" -> Relational.nationKeysExceptAll(c, su))
    }),
    // ROLLUP + CUBE + GROUPING SETS under generic key/aggregate names
    "rel_grouping_family" -> ((s, d) => {
      def k(df: DataFrame, k1: String, k2: String, agg: String) =
        df.select(col(k1).as("k1"), col(k2).as("k2"), col("n"),
          col(agg).as("agg"))
      foldedQuery(Seq("k1" -> "string", "k2" -> "string", "n" -> "long",
          "agg" -> "double"),
        "rollup" -> k(Relational.orderRollup(orders(s, d)),
          "o_orderstatus", "o_orderpriority", "total"),
        "cube" -> k(Relational.lineitemCube(lineitem(s, d)),
          "l_returnflag", "l_linestatus", "sum_qty"),
        "gsets" -> k(Relational.orderGroupingSets(orders(s, d)),
          "o_orderstatus", "o_orderpriority", "total"))
    }),
    "rel_semi_anti" -> ((s, d) =>
      foldedQuery(Seq("c_custkey" -> "long", "c_name" -> "string",
          "c_mktsegment" -> "string", "acctbal" -> "double"),
        "semi" -> Relational.customersWithOrders(customer(s, d), orders(s, d)),
        "anti" -> Relational.customersWithoutOrders(customer(s, d), orders(s, d)))),

    // ---- relational breadth (SURVEY §2.2) ----
    "rel_pricing_summary" -> ((s, d) => Relational.pricingSummary(lineitem(s, d))),
    "rel_revenue_by_region" -> ((s, d) =>
      Relational.revenueByRegion(lineitem(s, d), orders(s, d), customer(s, d),
        nation(s, d), region(s, d))),
    "rel_full_outer" -> ((s, d) => Relational.customerOrderFullOuter(customer(s, d), orders(s, d))),
    "rel_right_outer" -> ((s, d) => Relational.orderCustomerRightOuter(customer(s, d), orders(s, d))),
    "rel_window_topk" -> ((s, d) => Relational.topOrdersPerCustomer(orders(s, d), 3)),
    "rel_window_running" -> ((s, d) => Relational.runningLineTotals(lineitem(s, d))),
    "rel_sort_topk" -> ((s, d) => Relational.topKByPrice(lineitem(s, d), 100)),
    "rel_count_distinct" -> ((s, d) => Relational.distinctPartsPerSupplier(lineitem(s, d))),
    "rel_range_join" -> ((s, d) => Relational.partSizeBuckets(part(s, d))),
    "rel_asof_join" -> ((s, d) => Relational.asofLatestOrder(events(s, d), orders(s, d))),

    "rel_pivot" -> ((s, d) => Relational.orderPivot(orders(s, d))),
    "rel_window_family" -> ((s, d) => Relational.windowFunctionFamily(orders(s, d))),

    // ---- scalar function families (SURVEY §2.2 "Scalar functions") ----
    "sca_string" -> ((s, d) => Scalar.stringFunctions(part(s, d))),
    "sca_date" -> ((s, d) => Scalar.dateFunctions(orders(s, d))),
    "sca_math" -> ((s, d) => Scalar.mathFunctions(lineitem(s, d))),
    "sca_array" -> ((s, d) => Scalar.arrayFunctions(embeddings(s, d))),
    "sca_json" -> ((s, d) => Scalar.jsonFunctions(events(s, d))),
    "sca_conditional" -> ((s, d) => Scalar.conditionalFunctions(customer(s, d))),
    "sca_string2" -> ((s, d) => Scalar.stringFunctions2(part(s, d))),
    "sca_regex" -> ((s, d) => Scalar.regexFunctions(part(s, d))),
    "sca_date2" -> ((s, d) => Scalar.dateFunctions2(events(s, d))),
    "sca_array2" -> ((s, d) => Scalar.arrayFunctions2(documents(s, d))),
    // approx distinct carries a hash-checkable accuracy gate; map funcs
    // project oracle-checkable scalars out of the MAP column; the
    // moments derive from exact integer power sums so even skew/kurtosis
    // hash-match (shared double formula strings, Scalar.momentOutExprs)
    "xtr_approx_distinct" -> ((s, d) => Scalar.approxDistinct(lineitem(s, d))),
    "xtr_map_funcs" -> ((s, d) => Scalar.mapFunctions(documents(s, d))),
    "xtr_stats_moments" -> ((s, d) => Scalar.statsMoments(lineitem(s, d))),

    // ---- text analysis (LLM-pipeline operators) ----
    "txt_stats" -> ((s, d) => Text.docStats(documents(s, d))),
    "txt_lang_dist" -> ((s, d) => Text.langDistribution(documents(s, d))),
    "txt_quality" -> ((s, d) => Text.qualityScore(documents(s, d))),
    // hashed-linear classifier: md5-derived per-feature weights summed
    // per doc in one codegen'd HOF pass — the trained-filter stage
    "txt_quality_clf" -> ((s, d) => Text.qualityClassify(documents(s, d))),
    // classifier-driven curation dashboard + quality-weighted sampling
    "txt_source_report" -> ((s, d) => Text.sourceReport(documents(s, d))),
    "txt_quality_sample" -> ((s, d) => Text.qualitySample(documents(s, d))),
    "txt_token_freq" -> ((s, d) => Text.tokenFrequency(documents(s, d), 50)),
    "txt_bigrams" -> ((s, d) => Text.bigramFrequency(documents(s, d), 30)),
    "txt_langid" -> ((s, d) => Text.languageId(documents(s, d))),
    "txt_fingerprint" -> ((s, d) => Text.fingerprint(documents(s, d))),

    // ---- streaming-window batch analogs (same fns drive readStream) ----
    "str_tumbling" -> ((s, d) =>
      graft.streaming.StreamingOps.tumblingCounts(events(s, d), "1 hour")
        .orderBy(col("window_start"), col("event_type"))),
    "str_sliding" -> ((s, d) =>
      graft.streaming.StreamingOps.slidingCounts(events(s, d), "1 hour", "30 minutes")
        .orderBy(col("window_start"), col("event_type"))),
    "str_session" -> ((s, d) =>
      graft.streaming.StreamingOps.sessionize(events(s, d), 30)),
    "str_click_attr" -> ((s, d) =>
      graft.streaming.StreamingOps.clickAttributionBatch(events(s, d))),
    "str_dedup" -> ((s, d) =>
      graft.streaming.StreamingOps.firstEventPerKey(events(s, d))),

    // ---- deduplication (LLM-pipeline operators) ----
    "dedup_exact" -> ((s, d) => Dedup.exactDedup(documents(s, d))),
    "dedup_dup_stats" -> ((s, d) => Dedup.exactDupStats(documents(s, d))),
    "dedup_minhash" -> ((s, d) => Dedup.minhashNearDups(documents(s, d))),
    "dedup_simhash" -> ((s, d) => Dedup.simhash(documents(s, d))),
    "dedup_jaccard" -> ((s, d) => Dedup.jaccardPairs(documents(s, d))),

    // ---- similarity search (LLM-pipeline operators) ----
    "sim_cosine_topk" -> ((s, d) => Similarity.cosineTopK(embeddings(s, d), 8, 5)),
    "sim_lsh_topk" -> ((s, d) => Similarity.lshTopK(embeddings(s, d), 8, 5)),
    "sim_near_dup" -> ((s, d) => Similarity.nearDupPairs(embeddings(s, d), 0.5)),
    "sim_ivf_topk" -> ((s, d) => Similarity.ivfTopK(embeddings(s, d), 8, 5)),
    // filtered vector search: top-k under a metadata predicate (even
    // label), pre-filtered on the candidate scan — one full-corpus
    // index serves every predicate
    "sim_ivf_filtered" -> ((s, d) =>
      Similarity.ivfFilteredTopK(embeddings(s, d), 8, 5)),
    // JL random-projection shortlist (16-dim, constant planes — no
    // training, no stored artifacts) + exact full-width re-rank
    // multimodal retrieval end-to-end: payload -> stub embedding ->
    // cosine top-k (the encoder swap point is the projection only)
    "mm_ann" -> ((s, d) => Multimodal.annRetrieve(documents(s, d))),
    // positional phrase search: exact phrase matches via one
    // term-join + vote aggregation over the positional token index
    "txt_phrase_search" -> ((s, d) => Text.phraseSearch(documents(s, d))),
    // PMI-lift collocations: top-20 adjacent pairs most above chance
    "txt_collocations" -> ((s, d) => Text.collocations(documents(s, d))),
    // DSIR importance weights: hashed-ngram likelihood ratios against
    // a curated target set, log-free so the float weights hash-match
    "txt_dsir_weights" -> ((s, d) => Text.dsirWeights(documents(s, d))),
    // BPE merge LEARNING on the word-frequency table (one corpus scan,
    // then vocabulary-sized rounds — all integer counts) FOLDED with
    // the corpus-wide ENCODE under the learned merges (round 12): the
    // apply phase is a vocabulary lookup + one corpus join, reported
    // as per-doc encoded token counts
    "txt_bpe_train" -> ((s, d) => {
      val (merges, encoded) = Text.bpeTrainEncode(documents(s, d))
      foldedQuery(Seq("merge_round" -> "long", "left_sym" -> "string",
          "right_sym" -> "string", "merged" -> "string",
          "pair_count" -> "long", "doc_id" -> "long",
          "n_words" -> "long", "n_syms" -> "long"),
        "merges" -> merges,
        "encode" -> encoded)
    }),
    "txt_bpe_tokens" -> ((s, d) => Text.bpeTokenCounts(documents(s, d))),
    "txt_train_val_split" -> ((s, d) => Text.trainValSplit(documents(s, d))),
    "txt_split_stats" -> ((s, d) => Text.splitStats(documents(s, d))),
    "rel_salted_agg" -> ((s, d) => Relational.saltedEventStats(events(s, d))),
    "rel_monthly_trend" -> ((s, d) => Relational.monthlyRevenueTrend(lineitem(s, d))),

    // ---- multimodal binary columns ----
    "mm_meta" -> ((s, d) => Multimodal.metaExpr(documents(s, d))),
    "mm_resize" -> ((s, d) => Multimodal.resizeMeta(documents(s, d), 64, 64)),

    // ---- round-2 breadth: agg/window/join/scalar families ----
    "rel_string_agg" -> ((s, d) => Relational.nationSupplierNames(supplier(s, d))),
    "rel_window_range_time" -> ((s, d) => Relational.trailingHourStats(events(s, d))),
    "rel_cross_join" -> ((s, d) => Relational.regionNationPairs(region(s, d), nation(s, d))),
    "rel_scalar_subquery" -> ((s, d) => Relational.aboveAverageOrders(orders(s, d))),
    "sca_cast" -> ((s, d) => Scalar.castFamily(s)),
    "sca_hof" -> ((s, d) => Scalar.hofFamily(documents(s, d))),
    "xtr_custom_agg" -> ((s, d) => Scalar.customStatsAgg(events(s, d))),
    "dedup_cluster" -> ((s, d) => Dedup.nearDupClusters(documents(s, d))),
    "rel_shipping_priority" -> ((s, d) =>
      Relational.shippingPriority(lineitem(s, d), orders(s, d), customer(s, d))),
    "rel_returned_items" -> ((s, d) =>
      Relational.returnedItemRevenue(lineitem(s, d), orders(s, d),
        customer(s, d), nation(s, d))),
    "sim_knn_classify" -> ((s, d) => Similarity.knnClassify(embeddings(s, d), 8, 5)),
    "rel_exists_subquery" -> ((s, d) =>
      Relational.customersWithBigOrders(customer(s, d), orders(s, d))),
    "sca_bits" -> ((s, d) => Scalar.bitsFamily(nation(s, d))),
    "rel_market_basket" -> ((s, d) => Relational.partCooccurrence(lineitem(s, d))),
    "rel_salted_join" -> ((s, d) =>
      Relational.saltedSupplierRevenue(lineitem(s, d), supplier(s, d))),
    "xtr_corr_exact" -> ((s, d) => Relational.exactCorrelation(lineitem(s, d))),
    "txt_top_terms" -> ((s, d) => Text.topTerms(documents(s, d))),
    "rel_transitions" -> ((s, d) => Relational.eventTransitions(events(s, d))),
    "rel_left_outer" -> ((s, d) =>
      Relational.customerOrderLeftOuter(customer(s, d), orders(s, d))),
    "rel_cohorts" -> ((s, d) => Relational.cohortRetention(events(s, d))),
    "rel_histogram" -> ((s, d) => Relational.priceHistogram(lineitem(s, d))),
    "txt_pii_mask" -> ((s, d) => Text.piiMask(documents(s, d))),
    "txt_sentence_dedup" -> ((s, d) => Text.sentenceDedupStats(documents(s, d))),
    "sca_url" -> ((s, d) => Scalar.urlFamily(documents(s, d))),
    "sca_date3" -> ((s, d) => Scalar.dateFormatFamily(orders(s, d))),
    "rel_latest_per_key" -> ((s, d) => Relational.latestEventPerUser(events(s, d))),
    "txt_bigram_lm" -> ((s, d) => Text.bigramLm(documents(s, d))),
    "txt_contamination" -> ((s, d) => Text.contaminationScores(documents(s, d))),
    "rel_funnel" -> ((s, d) => Relational.viewToPurchaseFunnel(events(s, d))),
    "rel_unpivot" -> ((s, d) => Relational.partMeasuresUnpivot(part(s, d))),
    "rel_nation_trade" -> ((s, d) =>
      Relational.nationTrade(lineitem(s, d), orders(s, d), customer(s, d),
        supplier(s, d), nation(s, d))),
    "rel_big_orders" -> ((s, d) =>
      Relational.bigOrders(lineitem(s, d), orders(s, d), customer(s, d))),
    "rel_cust_distribution" -> ((s, d) =>
      Relational.custOrderDistribution(customer(s, d), orders(s, d))),
    "str_session_native" -> ((s, d) =>
      graft.streaming.StreamingOps.nativeSessionWindows(events(s, d))),
    "sca_struct" -> ((s, d) => Scalar.structFamily(customer(s, d))),
    "rel_dq_audit" -> ((s, d) =>
      Relational.dataQualityAudit(customer(s, d), orders(s, d), lineitem(s, d))),
    "mm_embed" -> ((s, d) => Multimodal.embedStub(documents(s, d))),
    "rel_supplier_dist" -> ((s, d) =>
      Relational.partTypeSuppliers(lineitem(s, d), part(s, d))),
    "dedup_apply" -> ((s, d) => Dedup.applyNearDupDedup(documents(s, d))),
    "txt_clean_funnel" -> ((s, d) => Text.cleaningFunnel(documents(s, d))),
    "txt_langid_confusion" -> ((s, d) => Text.langIdConfusion(documents(s, d))),
    "xtr_bloom_prune" -> ((s, d) => {
      // semi-join reduction: orders pruned by a 1024-bit bloom filter
      // over one nation's customer keys; output is the effectiveness
      // accounting (pass/member/false-positive counts), which pins the
      // filter's exact deterministic contents for the oracle
      val dim = customer(s, d).filter(col("c_nationkey") === 7)
      Bloom.pruneStats(orders(s, d), col("o_custkey"), dim, col("c_custkey"))
    }),
    "xtr_cms_topk" -> ((s, d) => CountMin.heavyHitters(documents(s, d))),
    "rel_waiting_supp" -> ((s, d) =>
      Relational.waitingSuppliers(lineitem(s, d), orders(s, d), supplier(s, d))),
    "rel_idle_rich" -> ((s, d) =>
      Relational.idleRichCustomers(customer(s, d), orders(s, d))),
    "rel_event_paths" -> ((s, d) => Relational.eventPaths(events(s, d))),
    "xtr_outliers" -> ((s, d) => Scalar.robustOutliers(events(s, d))),
    // capacity sized to the fixture's ~54-token docs so shards actually
    // span multiple bins (4096 would degenerate to one bin per shard)
    "xtr_zorder_key" -> ((s, d) => {
      // the clustering key behind Sources.writeZOrdered: Morton
      // interleave of (l_partkey, l_suppkey), computed by the native
      // codegen'd ZOrderKey expression (parity with the builtin twin is
      // spec-asserted; the oracle mirrors the builtin formulation)
      lineitem(s, d).select(
          col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
          col("l_suppkey"),
          graft.functions.ZOrderKey
            .zorder_key(col("l_partkey"), col("l_suppkey")).as("z_key"))
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
          col("l_suppkey"))
    }),
    "txt_repetition" -> ((s, d) => Text.repetitionStats(documents(s, d))),
    "txt_mixture_sample" -> ((s, d) =>
      Text.mixtureSample(documents(s, d), oracles.Kit.mixtureRates)),
    "txt_novel_bigrams" -> ((s, d) => Text.novelBigrams(documents(s, d))),
    "txt_quota_sample" -> ((s, d) => Text.quotaSample(documents(s, d))),
    "rel_concomp" -> ((s, d) =>
      Graph.copurchaseComponents(lineitem(s, d), orders(s, d))),
    "rel_pagerank" -> ((s, d) =>
      Graph.nationPageRank(nation(s, d), lineitem(s, d), orders(s, d),
        customer(s, d), supplier(s, d))),
    "sim_pq_topk" -> ((s, d) => Similarity.pqTopK(embeddings(s, d), 8, 5)),
    "sim_ivfpq_topk" -> ((s, d) => Similarity.ivfpqTopK(embeddings(s, d), 8, 5)),
    "sim_ivf_salted" -> ((s, d) => Similarity.ivfTopKSalted(embeddings(s, d), 8, 5)),
    "sim_kmeans_cells" -> ((s, d) => Similarity.kmeansCellStats(embeddings(s, d), 16)),
    "rel_forecast_revenue" -> ((s, d) => Relational.forecastRevenue(lineitem(s, d))),
    "rel_promo_revenue" -> ((s, d) => Relational.promoRevenue(lineitem(s, d), part(s, d))),
    "rel_top_supplier" -> ((s, d) => Relational.topSupplier(lineitem(s, d), supplier(s, d))),
    "rel_small_qty" -> ((s, d) => Relational.smallQtyRevenue(lineitem(s, d), part(s, d))),
    "rel_market_share" -> ((s, d) => Relational.marketShare(lineitem(s, d),
      orders(s, d), customer(s, d), nation(s, d), region(s, d),
      supplier(s, d), part(s, d))),
    "rel_min_cost_supp" -> ((s, d) => Relational.minCostSupplier(
      lineitem(s, d), part(s, d), supplier(s, d), nation(s, d))),
    "rel_priority_count" -> ((s, d) =>
      Relational.priorityOrderCounts(orders(s, d), lineitem(s, d))),
    "rel_nation_profit" -> ((s, d) => Relational.nationProfit(lineitem(s, d),
      orders(s, d), part(s, d), supplier(s, d), nation(s, d))),
    "rel_top_value_parts" -> ((s, d) => Relational.topValueParts(
      lineitem(s, d), supplier(s, d), nation(s, d))),
    "rel_priority_mix" -> ((s, d) =>
      Relational.priorityMix(lineitem(s, d), orders(s, d))),
    "rel_bulk_suppliers" -> ((s, d) => Relational.bulkSuppliers(
      lineitem(s, d), part(s, d), supplier(s, d))),
    "sim_ivfpq_res" -> ((s, d) => Similarity.ivfpqResidualTopK(embeddings(s, d), 8, 5)),
    "sim_label_centroids" -> ((s, d) => Similarity.labelCentroids(embeddings(s, d))),
    "sim_mmr" -> ((s, d) => Similarity.mmrTopK(embeddings(s, d), 8)),
    "sim_semdedup" -> ((s, d) => Similarity.semDedup(embeddings(s, d), 16, 0.2)),
    "sim_sq_topk" -> ((s, d) => Similarity.sqTopK(embeddings(s, d), 8, 5)),
    // every approximate arm's recall gate vs its brute-force twin,
    // folded into ONE multi-assert query (one row per arm × query);
    // the shared exact ground truth is scored once (recallGates)
    "sim_recall_gates" -> ((s, d) =>
      Similarity.recallGates(embeddings(s, d), 8, 5)),
    // kNN graph + its NN-Descent refinement round, folded (refined
    // recall strictly above the banded graph stays spec-gated); the
    // round-0 graph is computed ONCE and feeds both arms
    "sim_knn_family" -> ((s, d) => {
      val e = embeddings(s, d)
      val g = Similarity.knnGraph(e, 5).maintCheckpoint()
      foldedQuery(Seq("query_id" -> "long", "neighbor_id" -> "long",
          "sim" -> "double", "rank" -> "long"),
        "graph" -> g,
        "refine" -> Similarity.knnRefineWith(e,
          g.select(col("query_id"), col("neighbor_id")), 5))
    }),
    // the three shortlist-compression re-rank arms (PQ ADC, random
    // projection, Matryoshka truncation), folded
    "sim_rerank_family" -> ((s, d) => {
      val e = embeddings(s, d)
      // the three arms train/checkpoint independently — overlap their
      // construction (guide §2.6); each arm computes exactly what it
      // computed sequentially, and the fold happens on this thread
      val arms = graft.sources.Par.run(s)(Seq(
        () => Similarity.pqRerankTopK(e, 8, 5),
        () => Similarity.rpRerankTopK(e, 8, 5),
        () => Similarity.mrlRerankTopK(e, 8, 5)))
      foldedQuery(Seq("query_id" -> "long", "neighbor_id" -> "long",
          "sim" -> "double", "rank" -> "long"),
        "pq" -> arms(0), "rp" -> arms(1), "mrl" -> arms(2))
    }),
    "sim_label_prop" -> ((s, d) =>
      Similarity.labelPropagate(embeddings(s, d), 100, 5, 3)),
    "txt_bm25_topk" -> ((s, d) => Text.bm25TopK(documents(s, d))),
    // build-once/probe-many: _build persists the IVFADC index (the
    // once-per-corpus write cost, measured separately in the bench),
    // _stored probes ONLY the persisted artifacts (the production
    // serving path; rebuilds lazily iff the marker is stale)
    "sim_ivfpq_build" -> ((s, d) =>
      Similarity.ivfpqBuildIndex(embeddings(s, d), layoutBase("ivfpq_index", d), 16)),
    "sim_ivfpq_stored" -> ((s, d) =>
      Similarity.ivfpqProbeStored(embeddings(s, d), layoutBase("ivfpq_index", d), 8, 5)),
    // filtered search over the STANDING layout: the label column rides
    // in the cell partitions, so the predicate is a pushed-down
    // Parquet filter on the probed directories — no corpus join
    "sim_ivfpq_filtered" -> ((s, d) =>
      Similarity.ivfpqFilteredStored(embeddings(s, d), layoutBase("ivfpq_index", d), 8, 5)),
    // index observability: per-cell occupancy of the standing IVFADC
    // layout (appends drift cells away from the trained balance; the
    // hot flag is the "rebuild now" signal a scheduler polls)
    "sim_ivfpq_health" -> ((s, d) =>
      Similarity.ivfpqHealth(embeddings(s, d), layoutBase("ivfpq_index", d), 16)),
    // the maintenance ACTION the health flag calls for: hot cells
    // split 2-means-style around a deterministic pivot; report is the
    // occupancy after (registry threshold 1.1x mean so balanced
    // fixtures still exercise the split)
    "sim_ivfpq_resplit" -> ((s, d) =>
      Similarity.ivfpqResplit(embeddings(s, d), layoutBase("ivfpq_index", d), 16, 110)),
    // ...and the probe over the resplit generation: split halves are
    // served via the augmented centroid table (pivots at cell+16)
    "sim_ivfpq_resprobe" -> ((s, d) =>
      Similarity.ivfpqProbeResplit(embeddings(s, d), layoutBase("ivfpq_index", d), 8, 5)),
    // index MAINTENANCE: quantizers train on the base four-fifths
    // (lazy build, marker), every run replays the idempotent batch
    // append into the cell partitions (dynamic partition overwrite),
    // then probes the merged layout over the full corpus
    "sim_ivfpq_append" -> ((s, d) =>
      Scenarios.ivfpqAppendProbe(embeddings(s, d), layoutBase("ivfpq_mod5", d), 8, 5)),
    // index deletion: every seventh vector tombstones out of the
    // standing index; the probe serves around the sidecar with NO
    // layout rewrite and is already exact (quantizers keep their
    // full-corpus training). Compaction equivalence is spec-proven.
    "sim_ivfpq_delete" -> ((s, d) =>
      Scenarios.ivfpqDeleteProbe(embeddings(s, d), layoutBase("ivfpq_delete", d), 8, 5)),
    // streaming-ingestion analog: three fixed vector batches replay
    // through the production append (pristine base restored per run),
    // the production probe serves after each — one tagged result block
    // per ingest step, the ANN twin of dedup_admit
    "sim_ivfpq_admit" -> ((s, d) =>
      Scenarios.ivfpqAdmitProbe(embeddings(s, d), layoutBase("ivfpq_mod5", d),
        3, 8, 5)),
    "txt_span_cut" -> ((s, d) => Text.spanCut(documents(s, d))),
    "txt_hybrid_rrf" -> ((s, d) => Text.hybridRrf(documents(s, d))),
    // hybrid retrieval over the STANDING indexes: lexical arm from the
    // stored BM25 buckets, semantic arm probing the stored stub-vector
    // IVF cells — no corpus tokenize or brute-force scoring at probe
    "txt_hybrid_stored" -> ((s, d) =>
      Text.hybridStored(documents(s, d), layoutBase("bm25_index", d), layoutBase("hybrid_ann", d))),
    "txt_lm_quality" -> ((s, d) => Text.lmQuality(documents(s, d))),
    // the quality-scoring build-once/score-many pair (the CCNet
    // shape): _build trains the reference bigram LM (the
    // even-doc_id half standing in for the curated corpus) and
    // persists its count tables bucket-partitioned; _stored scores
    // the WHOLE corpus against the standing model — training is
    // paid once per reference, not once per scoring batch
    "txt_lm_build" -> ((s, d) =>
      Text.lmBuildIndex(documents(s, d), layoutBase("lm_index", d))),
    "txt_lm_stored" -> ((s, d) =>
      Text.lmScoreStored(documents(s, d), layoutBase("lm_index", d))),
    // LM maintenance: the reference corpus grows — a batch's counts
    // merge in as an additive delta segment (never a model rebuild),
    // and scoring serves the per-key SUM across generations
    "txt_lm_append" -> ((s, d) =>
      Scenarios.lmAppendProbe(documents(s, d), layoutBase("lm_append", d))),
    // LM deletion by SUBTRACTION: the count tables are additive, so a
    // delta segment carrying the victims' counts negated serves exact
    // removal with no rebuild (net-zero keys drop at serve time)
    "txt_lm_delete" -> ((s, d) =>
      Scenarios.lmDeleteProbe(documents(s, d), layoutBase("lm_delete", d))),
    // the full maintenance cycle: append + delete + COMPACT (fold the
    // generations into the base; the served model is unchanged, the
    // serve-time aggregation disappears from the probe plan)
    "txt_lm_compact" -> ((s, d) =>
      Scenarios.lmCompactProbe(documents(s, d), layoutBase("lm_compact", d))),
    // the lexical build-once/probe-many pair: _build persists the
    // bucket-partitioned inverted index, _stored scores the fixed
    // query set from the persisted artifacts only (static bucket
    // partition pruning — the query terms are plan-time literals)
    "txt_bm25_build" -> ((s, d) =>
      Text.bm25BuildIndex(documents(s, d), layoutBase("bm25_index", d))),
    "txt_bm25_stored" -> ((s, d) =>
      Text.bm25ProbeStored(documents(s, d), layoutBase("bm25_index", d))),
    // phrase search over the STORED positional postings (the v3
    // layout's pos/ extension): static bucket filters from the
    // literal phrase terms, no corpus tokenize at probe time
    "txt_phrase_stored" -> ((s, d) =>
      Text.phraseSearchStored(documents(s, d), layoutBase("bm25_index", d))),
    // index observability: per-bucket postings/term mass of the
    // standing BM25 layout (vocabulary drift from appends shows up
    // here as hot buckets dominating probe I/O)
    "txt_bm25_health" -> ((s, d) =>
      Text.bm25Health(documents(s, d), layoutBase("bm25_index", d))),
    // the action on the health signal: hot buckets split by the next
    // md5 bit of the term hash — probes over the split layout keep
    // their STATIC partition filters (the split key is plan-time
    // computable from the literal query terms)
    "txt_bm25_resplit" -> ((s, d) =>
      Text.bm25Resplit(documents(s, d), layoutBase("bm25_index", d), 110)),
    // index MAINTENANCE: build on the base four-fifths (lazy, marker),
    // merge the batch fifth into the affected bucket partitions every
    // run (dynamic partition overwrite — the measured cost IS the
    // append), probe the merged layout; result-identical to the
    // inline index over the full corpus, so the oracle is bm25Oracle
    "txt_bm25_append" -> ((s, d) =>
      Scenarios.bm25AppendProbe(documents(s, d), layoutBase("bm25_append", d))),
    // index deletion: every seventh document tombstones out, then
    // COMPACTION rewrites only the affected buckets and re-derives
    // their df — after which the probe is exactly the inline index
    // over the surviving corpus (the tombstone-serving half, with its
    // documented stale df, is spec-proven)
    "txt_bm25_delete" -> ((s, d) =>
      Scenarios.bm25DeleteProbe(documents(s, d), layoutBase("bm25_delete", d))),
    "txt_gopher_gate" -> ((s, d) => Text.gopherGate(documents(s, d))),
    // PII scan + redaction over a deterministically PII-planted twin
    // of the corpus (the fixtures carry no natural PII, so both
    // engines plant identical synthetic spans from doc_id — the scan
    // then proves real positives and exact redaction extents)
    "txt_pii_scan" -> ((s, d) => Text.piiScan(documents(s, d))),
    "rel_triangles" -> ((s, d) =>
      Graph.nationTriangles(lineitem(s, d), orders(s, d), customer(s, d),
        supplier(s, d))),
    // the stored near-dup index pair: _build persists the history's
    // band postings + shingle sets (signatures computed once, when a
    // doc enters the history), _stored probes them without ever
    // re-tokenizing the historical corpus
    "dedup_index_build" -> ((s, d) => {
      val docs = documents(s, d)
      val split = Text.trainValSplit(docs).select(col("doc_id"), col("split"))
      Dedup.dedupBuildIndex(
        docs.join(split, Seq("doc_id")).filter(col("split") === "train"),
        layoutBase("neardup_index", d))
    }),
    "dedup_incr_stored" -> ((s, d) => {
      val docs = documents(s, d)
      val split = Text.trainValSplit(docs).select(col("doc_id"), col("split"))
      val withSplit = docs.join(split, Seq("doc_id"))
      Dedup.incrementalNearDupStored(
        withSplit.filter(col("split") =!= "train"),
        withSplit.filter(col("split") === "train"),
        layoutBase("neardup_index", d))
    }),
    // the streaming admission gate's deterministic batch analog: three
    // fixed micro-batches replayed in order against the standing index
    // (each checked against train + everything admitted before it),
    // with the per-doc delta-layout census read back from the snapshot.
    // SHARED base with dedup_index_build/dedup_incr_stored (round 12,
    // the dedup twin of the IVFADC pair): same train-split index, one
    // build, one pristine cache — the replay force-restores pristine,
    // and the stored probe restores before serving iff deltas are
    // present ([[graft.ops.Dedup.incrementalNearDupStored]]).
    "dedup_admit" -> ((s, d) =>
      Scenarios.dedupAdmitProbe(documents(s, d), layoutBase("neardup_index", d))),
  )

  /** Per-SF stored-layout location `<tmpdir>/graft_<name>/<sf>`
    * (tmpdir: the index is a derived artifact, rebuilt lazily whenever
    * its marker goes stale). ONE standing mod-5 layout (`ivfpq_mod5`)
    * serves BOTH IVFADC maintenance slots (`sim_ivfpq_append`,
    * `sim_ivfpq_admit`): same base split, same base-trained quantizers,
    * same marker contract — one base build and one pristine cache
    * instead of two ([[Scenarios.ensureMod5Base]]).
    */
  private def layoutBase(name: String, sfDir: String): String =
    s"${System.getProperty("java.io.tmpdir")}/graft_$name/" +
      new java.io.File(sfDir).getName

  /** DuckDB-dialect oracle per query (same parquet tables,
    * driver-run). The SQL lives in per-family files under
    * `graft.oracles`; this concatenation is the single
    * driver-facing surface and every registry key appears in
    * exactly one family map.
    */
  def oracleSql: Map[String, String] =
    oracles.BaseOracles.sql ++ oracles.DedupOracles.sql ++
      oracles.SimOracles.sql ++ oracles.TextOracles.sql ++
      oracles.MmOracles.sql
}
