package graft

/** Physical-plan audit: asserts the plan properties that matter at
  * 100 TB for representative registry queries — predicate pushdown into
  * the parquet scan, column pruning (ReadSchema), broadcast joins for
  * dimension tables, TakeOrderedAndProject for top-k, and whole-stage
  * codegen coverage. Run: `sbt "runMain graft.PlanAudit [sfDir]"`.
  */
object PlanAudit {
  /** The audit's settings on top of [[GraftSession.harness]]. */
  private[graft] val overrides: Map[String, String] = Map(
    // audit the STATIC plan shape: with AQE on, codegen spans and
    // ReusedExchange only surface in the final adaptive plan
    "spark.sql.adaptive.enabled" -> "false",
    // stored layouts carry a leading generation-stamp partition
    // filter; keep scan metadata untruncated so the bucket/cell
    // pruning assertions below see the full PartitionFilters list
    "spark.sql.maxMetadataStringLength" -> "2048")

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = GraftSession.harness("planaudit").config(overrides).getOrCreate()

    var failures = 0
    def audit(name: String)(checks: (String, String => Boolean)*): Unit = {
      val plan = SparkEntry.queries(name)(spark, sfDir)
        .queryExecution.executedPlan.toString
      checks.foreach { case (desc, check) =>
        val ok = check(plan)
        if (!ok) failures += 1
        println(f"${if (ok) "PASS" else "FAIL"}  $name%-24s $desc")
        if (!ok) println(plan.linesIterator.take(40).mkString("  | ", "\n  | ", ""))
      }
    }
    // arm-level audit: some registry entries fold several variants into
    // one multi-assert query; plan properties that are per-arm (absence
    // checks, exchange bounds) are asserted on the arm frame directly
    def auditDf(name: String, df: => org.apache.spark.sql.DataFrame)(
        checks: (String, String => Boolean)*): Unit = {
      val plan = df.queryExecution.executedPlan.toString
      checks.foreach { case (desc, check) =>
        val ok = check(plan)
        if (!ok) failures += 1
        println(f"${if (ok) "PASS" else "FAIL"}  $name%-24s $desc")
        if (!ok) println(plan.linesIterator.take(40).mkString("  | ", "\n  | ", ""))
      }
    }

    // filter pushdown + column pruning reach the scan
    audit("rel_pricing_summary")(
      ("filter pushed to parquet scan", _.contains("PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,0.0)]")),
      ("scan reads only needed columns (no l_shipdate)", !_.contains("l_shipdate")),
      ("two-phase hash aggregation", p => "HashAggregate".r.findAllIn(p).size >= 2))

    // star join: dims broadcast, fact not re-shuffled for dims
    audit("rel_revenue_by_region")(
      ("customer/nation/region broadcast", p => "BroadcastHashJoin".r.findAllIn(p).size >= 3),
      ("no cartesian/BNL join", p => !p.contains("CartesianProduct")))

    // top-k must be TakeOrderedAndProject, not global sort
    audit("rel_sort_topk")(
      ("TakeOrderedAndProject", _.contains("TakeOrderedAndProject")))

    // semi/anti joins stay semi/anti (folded into one registry entry)
    audit("rel_semi_anti")(
      ("LeftSemi join", _.contains("LeftSemi")),
      ("LeftAnti join", _.contains("LeftAnti")))

    // bulk update is a pure projection over the scan — no shuffle at all
    audit("bu_broadcast")(
      ("no exchange except final sort", p =>
        "Exchange".r.findAllIn(p).size <= 1),
      ("conditional update stays in codegen", _.contains("*(")))

    // similarity: custom codegen'd expression present, queries broadcast,
    // and the top-k is the two-phase HEAP node — the full scored set is
    // never shuffled into #queries partitions nor sorted (the rank
    // window afterwards touches only the k×queries survivors)
    audit("sim_cosine_topk")(
      ("native vector_dot expression in plan", _.contains("vector_dot")),
      ("query side broadcast", _.contains("BroadcastExchange")),
      ("two-phase heap top-k (map-side partial prune)", p =>
        p.contains("TopKPerKeyPartial") && p.contains("TopKPerKeyFinal")))

    // minhash: the banding pipeline runs ONCE into a checkpoint (the
    // salted join sides project different salt columns, so alias-reuse
    // can no longer dedupe them), and the candidate join keys on
    // (band, salt) so a hot band bucket spreads across reducers
    audit("dedup_minhash")(
      ("banding checkpointed once (signatures not recomputed per side)",
        p => p.contains("Scan ExistingRDD")),
      ("candidate join keyed on (band, salt) — hot buckets spread",
        p => "band_key#\\d+, salt#".r.findAllIn(p).nonEmpty))

    // window top-k: single shuffle on the partition key
    audit("rel_window_topk")(
      ("window rank evaluated (limit-style) in plan",
        p => p.contains("RunningWindowFunction") || p.contains("Window")))

    // jaccard co-occurrence join: no cartesian, shared shingle exchange
    audit("dedup_jaccard")(
      ("no cartesian/BNL pair enumeration", p => !p.contains("CartesianProduct")),
      ("exploded-shingle exchange reused", _.contains("ReusedExchange")))

    // sessionize: window + aggregation share ONE hash shuffle on user_id
    audit("str_session")(
      ("single hash exchange (window partitioning reused by groupBy)",
        p => "Exchange hashpartitioning".r.findAllIn(p).size <= 1))

    // IVF: centroids + probe cells broadcast; corpus shuffles at most once
    audit("sim_ivf_topk")(
      ("centroid/probe sides broadcast", p => "BroadcastExchange".r.findAllIn(p).size >= 2),
      ("no cartesian in cell scoring", p => !p.contains("CartesianProduct")))

    // join-strategy hint honored: shuffled hash, not sort-merge
    // folded strategy pair: the hash arm must stay hash and the merge
    // arm merge — per-arm exclusivity is asserted on the arm frames
    auditDf("rel_join_strategies/hash",
      graft.ops.Relational.supplierRevenueHashJoin(
        Tables.lineitem(spark, sfDir), Tables.supplier(spark, sfDir)))(
      ("shuffled hash join (no probe-side sort)", _.contains("ShuffledHashJoin")),
      ("no sort-merge join", !_.contains("SortMergeJoin")))

    // time-range window: one shuffle on user_id, frame is running (not O(n²))
    audit("rel_window_range_time")(
      ("single hash exchange on user_id",
        p => "Exchange hashpartitioning".r.findAllIn(p).size <= 1))

    // fuzzy match: gram-blocked equi-join candidates, never an
    // all-pairs nested loop over the table
    audit("txt_fuzzy_family")(
      ("no BroadcastNestedLoopJoin over the full table",
        !_.contains("BroadcastNestedLoopJoin")),
      ("no shuffle-based cartesian", !_.contains("CartesianProduct")))

    // scalar subqueries over the same table: merged/reused, not re-scanned
    audit("rel_scalar_subquery")(
      ("count+sum subqueries merged into one pass",
        p => p.contains("ReusedSubquery")))

    // custom plan node: heap-based per-key top-k — one clustered
    // exchange, no Sort, no Window
    audit("rel_topk_variants")(
      ("two-phase: map-side partial top-k below the exchange",
        p => p.contains("TopKPerKeyPartial") && p.contains("TopKPerKeyFinal")),
      ("no cartesian", p => !p.contains("CartesianProduct")))
    // the heap arm alone keeps its strict shape
    auditDf("rel_topk_variants/heap",
      graft.ops.Relational.topOrdersPerCustomerNative(
        Tables.orders(spark, sfDir), 3))(
      ("no window operator", !_.contains("Window")),
      ("single hash exchange, no extra sort below the node", p =>
        "Exchange hashpartitioning".r.findAllIn(p).size <= 1))

    // market basket: pairs generated array-locally — no self-join at all
    audit("rel_market_basket")(
      ("no join in the pair generation", p =>
        !p.contains("Join") && !p.contains("CartesianProduct")),
      ("top-k via TakeOrderedAndProject", _.contains("TakeOrderedAndProject")),
      ("two hash exchanges only (basket + pair counts)", p =>
        "Exchange hashpartitioning".r.findAllIn(p).size <= 2))

    // Q3 shape: date pushdown, broadcast semi prune, top-k not global sort
    audit("rel_shipping_priority")(
      ("shipdate predicate pushed to fact scan",
        _.contains("PushedFilters: [IsNotNull(l_shipdate), GreaterThan(l_shipdate,")),
      ("customer prune is broadcast semi", p =>
        p.contains("BroadcastHashJoin") && p.contains("LeftSemi")),
      ("top-10 is TakeOrderedAndProject", _.contains("TakeOrderedAndProject")))

    // Q10 shape: returnflag pushdown, dims broadcast, top-k
    audit("rel_returned_items")(
      ("returnflag pushed to fact scan",
        _.contains("EqualTo(l_returnflag,R)")),
      ("customer+nation broadcast", p =>
        "BroadcastHashJoin".r.findAllIn(p).size >= 2),
      ("top-20 is TakeOrderedAndProject", _.contains("TakeOrderedAndProject")))

    // Q7 shape: every dimension side is a broadcast build, never a
    // shuffle of the fact table per dim
    audit("rel_nation_trade")(
      ("all dims broadcast (supp/cust pre-filtered)", p =>
        "BroadcastHashJoin".r.findAllIn(p).size >= 2),
      ("no cartesian pair enumeration", p => !p.contains("CartesianProduct")))

    // Q18 shape: having-agg first, then joins, then top-k without sort
    audit("rel_big_orders")(
      ("customer broadcast", _.contains("BroadcastHashJoin")),
      ("top-20 is TakeOrderedAndProject", _.contains("TakeOrderedAndProject")))

    // Q16 shape: the bridge dedups BEFORE the broadcast part join
    audit("rel_supplier_dist")(
      ("part side broadcast", _.contains("BroadcastHashJoin")),
      ("no cartesian", p => !p.contains("CartesianProduct")))

    // merge-scan as-of: ONE co-partitioning shuffle plus the output
    // sort — never a join operator (the scan IS the join)
    auditDf("rel_asof_directed/merge",
      graft.ops.Relational.asofMergeJoin(
        Tables.events(spark, sfDir), Tables.orders(spark, sfDir)))(
      ("no join operator in the plan", p =>
        !p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin") &&
          !p.contains("ShuffledHashJoin") && !p.contains("BroadcastNestedLoopJoin")),
      ("at most two exchanges (co-partition + output sort)", p =>
        "Exchange".r.findAllIn(p).size - "ReusedExchange".r.findAllIn(p).size <= 2))

    // bloom prune: the probe table is reduced map-side — its join key is
    // never hash-partitioned; the one-row (128-byte) filter arrives by
    // broadcast (a BNL join against ONE row is a per-partition constant
    // lookup, not a pair enumeration)
    audit("xtr_bloom_prune")(
      ("probe side never hash-partitioned on its key",
        p => !p.contains("hashpartitioning(o_custkey")),
      ("one-row filter broadcast to the probe",
        p => p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange")))

    // Q6 shape: the pure scan reduction — every predicate reaches the
    // parquet scan, nothing joins, nothing shuffles but the one agg
    audit("rel_forecast_revenue")(
      // the PushedFilters list is elided in toString — assert its
      // visible prefix plus the 4-column pruned ReadSchema
      ("predicates pushed to the scan, columns pruned", p =>
        p.contains("PushedFilters: [IsNotNull(l_shipdate), " +
          "IsNotNull(l_discount), IsNotNull(l_quantity), " +
          "GreaterThanOrEqual(l_shipda") &&
        p.contains("ReadSchema: struct<l_quantity:double," +
          "l_extendedprice:double,l_discount:double,l_shipdate:timestamp")),
      ("no join anywhere", p => !p.contains("Join")))

    // Q8 shape: dims broadcast, region prune is a semi join, single agg
    audit("rel_market_share")(
      ("part/supplier/customer sides broadcast", p =>
        "BroadcastHashJoin".r.findAllIn(p).size >= 3),
      ("region-customer prune is a semi join", _.contains("LeftSemi")),
      ("no cartesian", p => !p.contains("CartesianProduct")))

    // join-strategy control: the merge hint must actually produce a
    // sort-merge join (completing broadcast / shuffle-hash / merge)
    auditDf("rel_join_strategies/merge",
      graft.ops.Relational.supplierRevenueMergeJoin(
        Tables.lineitem(spark, sfDir), Tables.supplier(spark, sfDir)))(
      ("hint honored: SortMergeJoin planned", _.contains("SortMergeJoin")),
      ("no broadcast of the hinted side", p =>
        !p.contains("BroadcastHashJoin")))

    // interpolation: both bracket windows ride ONE (user_id, day) sort
    auditDf("rel_resample/interp",
      graft.ops.Relational.resampleInterp(Tables.events(spark, sfDir)))(
      ("both window passes share one partitioning", p =>
        "Exchange hashpartitioning\\(user_id".r.findAllIn(p).size <= 2),
      ("no cartesian grid", p => !p.contains("CartesianProduct")))

    // Q2 shape: the correlated per-part min decorrelates to
    // aggregate-then-join, with the dimension-sized minima and
    // supplier×nation builds broadcast — the fact scans once, the part
    // filter is pushed into it via the broadcast prune
    audit("rel_min_cost_supp")(
      ("per-part minima and supplier dim broadcast", p =>
        "BroadcastHashJoin".r.findAllIn(p).size >= 3),
      ("cost aggregation is two-phase hash", p =>
        "HashAggregate".r.findAllIn(p).size >= 2),
      ("no cartesian from the decorrelation", p =>
        !p.contains("CartesianProduct")))

    // Q9 shape: all three dims broadcast; the only shuffle join is
    // lineitem ⋈ orders on the order key
    audit("rel_nation_profit")(
      ("part and supplier-nation dims broadcast", p =>
        "BroadcastHashJoin".r.findAllIn(p).size >= 2),
      ("part name filter pushed to the scan", p =>
        p.contains("PushedFilters: [IsNotNull(p_name)") ||
        "StringContains\\(p_name".r.findAllIn(p).nonEmpty ||
        p.contains("p_name LIKE")),
      ("no cartesian", p => !p.contains("CartesianProduct")))

    // Q19 shape: the disjunctive predicate must not break the equi-join
    audit("rel_join_predicates")(
      ("join stays hash-based despite the OR residual",
        _.contains("BroadcastHashJoin")),
      ("no cartesian fallback", p => !p.contains("CartesianProduct")))

    // Q21 shape: decorrelated to window passes — no correlated re-scan,
    // top-k never global-sorts
    audit("rel_waiting_supp")(
      ("top-k via TakeOrderedAndProject", _.contains("TakeOrderedAndProject")),
      ("no cartesian", p => !p.contains("CartesianProduct")),
      ("bounded exchanges (group, window, final agg)", p =>
        "Exchange hashpartitioning".r.findAllIn(p).size <= 3))

    // Q22 shape: anti join against a date-pruned scan
    audit("rel_idle_rich")(
      ("anti join planned as LeftAnti", _.contains("LeftAnti")),
      ("recent-order cutoff pushed to the orders scan",
        _.contains("GreaterThanOrEqual(o_orderdate")))

    // winnowing overlap pairs: fingerprint equi-join, never all-pairs
    audit("txt_winnow_family")(
      ("no cartesian/BNL pair enumeration", p =>
        !p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin")))

    // count-min: estimates join the fixed-size counter matrix by
    // broadcast; the head is TakeOrderedAndProject
    audit("xtr_cms_topk")(
      ("counter-matrix joins broadcast", _.contains("BroadcastHashJoin")),
      ("no vocabulary-wide range sort under the joins (head is a " +
        "materialized TakeOrderedAndProject)",
        p => !p.contains("Exchange rangepartitioning")),
      ("no cartesian", p => !p.contains("CartesianProduct")))

    // repetition stats: the whole computation is per-row array folds —
    // NO generator explosion, NO aggregation shuffle; the only exchange
    // is the final deterministic output sort
    // hashed-linear classifier: the whole model evaluates per row
    // inside codegen — no feature explode, no shuffle before the
    // output sort, no broadcast (the weight table is folded into the
    // feature hash)
    audit("txt_quality_clf")(
      ("no feature explode (per-row HOF fold)", !_.contains("Generate")),
      ("no hash-partitioned shuffle (final sort only)",
        p => !p.contains("Exchange hashpartitioning")),
      ("classifier runs inside whole-stage codegen (*(n) span over the scoring Project)",
        p => p.contains("*(1) Project") || p.contains("WholeStageCodegen")))

    // classifier-driven report/sampling: the model stays a per-row
    // scan expression — the report pays exactly one aggregation
    // exchange, the sample none at all
    audit("txt_source_report")(
      ("no feature explode", !_.contains("Generate")),
      ("single aggregation exchange", p =>
        "Exchange hashpartitioning".r.findAllIn(p).size <= 1))
    audit("txt_quality_sample")(
      ("no feature explode", !_.contains("Generate")),
      ("no hash-partitioned shuffle (per-row filter only)",
        p => !p.contains("Exchange hashpartitioning")),
      ("sampling predicate pushed into the scan stage (codegen span)",
        p => p.contains("*(1) Filter") || p.contains("*(1) Project")))

    audit("txt_repetition")(
      ("no explode/generate in the plan", !_.contains("Generate")),
      ("no hash-partitioned shuffle (per-row fold only)",
        p => !p.contains("Exchange hashpartitioning")))

    // bigram novelty: hash-keyed aggregations, df=1 credit comes off the
    // frequency agg (no join-back of the exploded bigram set)
    audit("txt_novel_bigrams")(
      ("no cartesian", p => !p.contains("CartesianProduct")),
      ("bounded exchanges (doc partition, hash agg, credit re-key)", p =>
        "Exchange hashpartitioning".r.findAllIn(p).size <= 4))

    // pagerank: rank/node tables are |V| — never broadcast; only the
    // one-row count and the 25-row dims may ride broadcasts
    audit("rel_pagerank")(
      ("no cartesian pair enumeration", p => !p.contains("CartesianProduct")),
      ("per-round contribution agg is hash-partitioned", p =>
        p.contains("Exchange hashpartitioning")))

    // PQ/ADC: codebooks and query LUTs broadcast; the corpus code table
    // never self-joins and the scoring fold uses the native dot
    audit("sim_pq_topk")(
      ("codebook/LUT sides broadcast", p =>
        "BroadcastExchange".r.findAllIn(p).size >= 2),
      ("native vector_dot in the LUT build", _.contains("vector_dot")),
      ("no cartesian", p => !p.contains("CartesianProduct")))

    // IVFADC: the ADC scoring join must be CONDITIONED on the probed
    // cell — a hash equi-join with `cell` in its keys — never the flat
    // unconditioned broadcast over the full code table (pqTopK's
    // legitimate-but-O(N) shape). The only nested-loop joins allowed
    // are the nlist-row centroid broadcasts.
    audit("sim_ivfpq_topk")(
      ("ADC candidate join is hash-keyed on the probed cell",
        p => "BroadcastHashJoin \\[cell#".r.findAllIn(p).nonEmpty),
      ("probe/LUT and query sides broadcast", p =>
        "BroadcastExchange".r.findAllIn(p).size >= 3),
      ("shortlist + re-rank both use the heap top-k node", p =>
        "TopKPerKeyPartial".r.findAllIn(p).size >= 2),
      ("no cartesian", p => !p.contains("CartesianProduct")))

    // residual IVFADC: same conditioning contract as sim_ivfpq_topk —
    // the per-(query, cell) LUT join must stay keyed on the probed
    // cell; residual construction only adds nlist-row centroid
    // broadcasts, never a full-corpus nested loop
    audit("sim_ivfpq_res")(
      ("ADC candidate join is hash-keyed on the probed cell",
        p => "BroadcastHashJoin \\[cell#".r.findAllIn(p).nonEmpty),
      ("probe/LUT and query sides broadcast", p =>
        "BroadcastExchange".r.findAllIn(p).size >= 3),
      ("shortlist + re-rank both use the heap top-k node", p =>
        "TopKPerKeyPartial".r.findAllIn(p).size >= 2),
      ("no cartesian", p => !p.contains("CartesianProduct")))

    // stored-index probe: the serving half of IVFADC against the
    // persisted layout — the probed-cell set collects driver-side
    // (<= nlist values) and lands in BOTH index scans as a STATIC
    // partition IN-filter (the nprobe/nlist read-bytes contract of
    // the stored index, byte-verified by graft.WeakScale; dynamic
    // pruning was plan-visible but byte-false when its broadcast
    // failed reuse matching)
    audit("sim_ivfpq_stored")(
      ("codes + cells scans statically pruned to the probed cells",
        p => "PartitionFilters: \\[[^\\]]*cell#\\d+ IN".r.findAllIn(p).size >= 2),
      ("probe/LUT and query sides broadcast", p =>
        "BroadcastExchange".r.findAllIn(p).size >= 3),
      ("shortlist + re-rank both use the heap top-k node", p =>
        "TopKPerKeyPartial".r.findAllIn(p).size >= 2),
      ("no cartesian", p => !p.contains("CartesianProduct")))

    // MMR: the corpus is scanned ONCE into the checkpointed heap-node
    // shortlist (the checkpoint boundary is the audited RDD scan —
    // without it each of the k greedy chains would rescan the corpus);
    // every greedy step re-joins queries×nCand state via broadcast
    audit("sim_mmr")(
      ("greedy steps read the checkpointed shortlist, not the corpus",
        p => p.contains("Scan ExistingRDD") && !p.contains("parquet")),
      ("greedy pick tables broadcast back onto the shortlist", p =>
        "BroadcastExchange".r.findAllIn(p).size >= 3),
      ("every greedy argmax is the two-phase heap node (k=1)", p =>
        "TopKPerKeyPartial".r.findAllIn(p).size >= 5),
      ("nothing sort-aggregates the candidate state", p =>
        !p.contains("SortAggregate")),
      ("no window over the candidate relation", p => !p.contains("Window")),
      ("no cartesian", p => !p.contains("CartesianProduct")))

    // multimodal near-dup: banded-Hamming candidates come from an
    // equi-join per (band_idx, band_val) bucket — all-pairs never
    // enumerated; the banded exchange feeds both join sides once
    // the folded entry shares the CHECKPOINTED pair set between the
    // arms, so its plan shows the leaf; the pair-enumeration shape is
    // audited on the arm frame
    audit("mm_phash_family")(
      ("no cartesian/BNL pair enumeration", p =>
        !p.contains("CartesianProduct") &&
          !p.contains("BroadcastNestedLoopJoin")))
    auditDf("mm_phash_family/dups",
      graft.ops.Multimodal.phashDups(Tables.documents(spark, sfDir)))(
      ("no cartesian/BNL pair enumeration", p =>
        !p.contains("CartesianProduct") &&
          !p.contains("BroadcastNestedLoopJoin")),
      ("banded-fingerprint exchange reused across the self-join",
        _.contains("ReusedExchange")),
      // the fingerprint is the native phash_bands expression INSIDE a
      // whole-stage-codegen stage ("*(n)" prefix on its Project) — the
      // builtin 64-tree formulation blew janino's 64 KB method limit
      // and silently ran interpreted
      ("native phash_bands fingerprint inside whole-stage codegen", p =>
        p.linesIterator.exists(l =>
          l.contains("phash_bands") && l.contains("*("))))

    // phash clusters: the CC capstone over the banded pairs. The edge
    // build's plan contract is audited via mm_phash_dups above; the
    // returned labeling is MATERIALIZED behind a checkpoint boundary
    // (connectedComponents checkpoints its output so the cached
    // per-round edge sets can be released) — assert that boundary, and
    // that nothing downstream of it re-enumerates pairs
    auditDf("mm_phash_family/clusters",
      graft.ops.Multimodal.phashClusters(Tables.documents(spark, sfDir)))(
      ("labeling materialized behind a checkpoint boundary", p =>
        p.contains("Scan ExistingRDD")),
      ("no cartesian/BNL downstream of the checkpoint", p =>
        !p.contains("CartesianProduct") &&
          !p.contains("BroadcastNestedLoopJoin")))

    // salted IVF probing: the candidate join must key on (cell, salt)
    // so a hot cell spreads across `salts` reducers when the probe
    // side shuffles instead of broadcasting
    audit("sim_ivf_salted")(
      ("candidate join keyed on (cell, salt)",
        p => "\\[cell#\\d+L?, salt#".r.findAllIn(p).nonEmpty),
      ("no cartesian", p => !p.contains("CartesianProduct")))

    // filtered ANN: the metadata predicate must land on the candidate
    // side BEFORE scoring (pre-filter — at 100 TB an ordinary pushed
    // filter on the probed cell partitions), the probe join stays a
    // broadcast equi-join on cell, and top-k is the heap node
    audit("sim_ivf_filtered")(
      ("label pre-filter present in the candidate pipeline",
        p => "pmod\\(.*label".r.findAllIn(p).nonEmpty),
      ("probe join is a broadcast equi-join on cell",
        p => "BroadcastHashJoin \\[cell".r.findAllIn(p).nonEmpty),
      ("two-phase heap top-k", p =>
        p.contains("TopKPerKeyPartial") && p.contains("TopKPerKeyFinal")),
      ("no cartesian pair enumeration", p => !p.contains("CartesianProduct")))

    // JL random-projection rerank: the projection is the native
    // codegen'd dot (one per output dim, constants inlined — no
    // trained artifact anywhere in the plan), BOTH stages prune
    // through the heap node, and nothing pairs corpus rows
    audit("sim_rerank_family")(
      ("native vector_dot computes projections and scores",
        _.contains("vector_dot")),
      ("prefix slice present (Matryoshka arm)", _.contains("slice")),
      ("heap top-k in every shortlist+rerank stage", p =>
        "TopKPerKeyPartial".r.findAllIn(p).size >= 4),
      ("no cartesian pair enumeration", p => !p.contains("CartesianProduct")))

    // MRL rerank: the compression is an array SLICE (zero compute, no
    // trained artifact, no plane constants anywhere in the plan), both
    // stages prune through the heap node

    // phrase search: corpus tokens equi-join the broadcast literal
    // query-term table; matching is pure aggregation — no corpus
    // self-join, no per-document window, no cartesian
    audit("txt_phrase_search")(
      ("query terms broadcast into an equi-join", p =>
        p.contains("BroadcastHashJoin")),
      ("vote + match counting are hash aggregations", p =>
        "HashAggregate".r.findAllIn(p).size >= 2),
      ("no window operator", p => !p.contains("Window")),
      ("no cartesian", p => !p.contains("CartesianProduct")))

    // collocations: ONE tokenize feeds unigram and bigram counts
    // (checkpoint boundary), the global top-k is TakeOrderedAndProject
    // (never a full-vocabulary sort), totals ride one-row broadcasts
    audit("txt_collocations")(
      ("positional token frame checkpointed once",
        p => p.contains("Scan ExistingRDD")),
      ("global top-k is TakeOrderedAndProject",
        p => p.contains("TakeOrderedAndProject")),
      ("no cartesian beyond one-row total carriers",
        p => !p.contains("CartesianProduct")))

    // multimodal retrieval: payload→embedding is a per-row projection
    // inside the scan, queries broadcast, heap top-k — same serving
    // shape as sim_cosine_topk with a binary-column source
    audit("mm_ann")(
      ("native vector_dot scores the candidates", _.contains("vector_dot")),
      ("query side broadcast", _.contains("BroadcastExchange")),
      ("two-phase heap top-k", p =>
        p.contains("TopKPerKeyPartial") && p.contains("TopKPerKeyFinal")),
      ("no cartesian", p => !p.contains("CartesianProduct")))

    // filtered search over the STORED layout: the label metadata
    // column rides in the cell partitions, so the predicate reaches
    // the parquet scan as a pushed IN-filter (row-group pruning, not
    // a post-scan Filter), the probed-cell join still partition-prunes
    // dynamically, and the corpus parquet is read only for the query
    // vectors
    audit("sim_ivfpq_filtered")(
      ("label predicate PUSHED into the cells scan",
        p => "PushedFilters: \\[In\\(label".r.findAllIn(p).nonEmpty),
      ("cells scan statically pruned to the probed cells",
        p => "PartitionFilters: \\[[^\\]]*cell#\\d+ IN".r.findAllIn(p).nonEmpty),
      ("two-phase heap top-k", p =>
        p.contains("TopKPerKeyPartial") && p.contains("TopKPerKeyFinal")),
      ("no cartesian", p => !p.contains("CartesianProduct")))

    // phrase search over the STORED positional postings: the pos/
    // scan carries a STATIC bucket partition filter (phrase terms are
    // plan-time literals), the serving plan never tokenizes the
    // corpus (no Generate), and matching stays pure aggregation
    audit("txt_phrase_stored")(
      ("pos scan statically pruned to the phrase-term buckets",
        p => "PartitionFilters: \\[[^\\]]*bucket#\\d+ IN".r.findAllIn(p).nonEmpty),
      ("no corpus tokenize in the serving plan (index-only read)",
        p => !p.contains("Generate")),
      ("vote + match counting are hash aggregations", p =>
        "HashAggregate".r.findAllIn(p).size >= 2),
      ("no window operator", p => !p.contains("Window")),
      ("no cartesian", p => !p.contains("CartesianProduct")))

    // stored near-dup probe: the history side is the persisted band
    // index (no re-minhash of the history corpus), candidates stay an
    // equi-join, and since the v3 bucketed layout the batch's band
    // keys are signed ONCE into a checkpoint that feeds both the
    // partition-pruning IN-list collect and the candidate join (the
    // signature pipeline would otherwise run per consumer), with the
    // postings/shingle scans pruned to the batch's own buckets
    audit("dedup_incr_stored")(
      ("history bands read from the persisted index",
        p => p.contains("graft_neardup_index")),
      // the bands scan itself executes at CONSTRUCTION time (inside the
      // candidate checkpoint) so its kb-bucket IN-list never prints in
      // the final plan — its pruning is byte-gated in graft.WeakScale
      ("candidates ride their one-pass checkpoint",
        _.contains("Scan ExistingRDD")),
      // the prune can print three ways depending on candidate bucket
      // count: IN (…) below the OptimizeIn threshold (10), INSET
      // above it, and a plain equality when it folds to one bucket —
      // each alternative ANCHORED to the db attribute itself (a db#
      // somewhere plus an unrelated IN/INSET on another column must
      // not pass the audit, ADVICE r11)
      ("shingle sidecar pruned to the candidates' doc buckets",
        p => """db#\d+L?\s+(IN \(|INSET\s|= \d+)""".r
          .findFirstIn(p).nonEmpty),
      ("no cartesian/BNL pair enumeration", p =>
        !p.contains("CartesianProduct") &&
          !p.contains("BroadcastNestedLoopJoin")))

    // BPE training + encode fold: every round's vocabulary materializes
    // behind a checkpoint and its winner is held, so the merges arm is
    // the 1-row winner rows unioned; the encode arm adds exactly ONE corpus
    // scan (tokenize → vocabulary-lookup join → per-doc aggregate) —
    // the apply phase never replays the merge replaces over the corpus
    audit("txt_bpe_train")(
      ("merge table rides the per-round winner checkpoints",
        p => p.contains("Scan ExistingRDD")),
      ("encode is ONE corpus scan (training rounds stay materialized)",
        p => "Scan parquet".r.findAllIn(p).size == 1),
      ("per-doc symbol counts are a hash aggregation",
        p => p.contains("HashAggregate")),
      ("no cartesian", p => !p.contains("CartesianProduct")))

    // DSIR weights: the (doc, bucket, membership) feature frame is
    // checkpointed once and feeds model counts AND per-doc scoring;
    // the trained ratio model rides a broadcast (dsirBuckets rows);
    // the global top-k never sorts the pool
    audit("txt_dsir_weights")(
      ("feature frame checkpointed once (one tokenize)",
        p => p.contains("Scan ExistingRDD")),
      ("ratio model broadcast onto the features",
        p => p.contains("BroadcastHashJoin [bucket")),
      ("global top-k is TakeOrderedAndProject",
        p => p.contains("TakeOrderedAndProject")),
      ("no cartesian beyond one-row total carriers",
        p => !p.contains("CartesianProduct")))

    // SemDeDup: the pair comparison must be the within-cluster
    // equi-join keyed on (cell, salt) — never an all-pairs
    // cartesian/BNL over the corpus (the exact blow-up clustering
    // exists to avoid), and never bare `cell` (a hot cell would own one
    // reducer with |cell|² candidate pairs); the only nested-loop joins
    // allowed are the nlist-row centroid broadcasts
    audit("sim_semdedup")(
      ("pair candidates keyed on (cell, salt) — hot cells spread",
        p => "Join \\[cell#\\d+L?, salt#".r.findAllIn(p).nonEmpty),
      ("no cartesian pair enumeration", p =>
        !p.contains("CartesianProduct")),
      ("native vector_dot scores the in-cell pairs",
        _.contains("vector_dot")))

    // SQ8: params are a one-row broadcast carrier on both the encode
    // and decode sides; scoring uses the heap top-k node, and nothing
    // ever pairs corpus rows with each other
    audit("sim_sq_topk")(
      ("param/query sides broadcast", p =>
        "BroadcastExchange".r.findAllIn(p).size >= 2),
      ("two-phase heap top-k", p =>
        p.contains("TopKPerKeyPartial") && p.contains("TopKPerKeyFinal")),
      ("native vector_dot in scoring", _.contains("vector_dot")),
      // params trained ONCE: the min/max training (posexplode + agg) is
      // held out of the serving plan — encode and dequantize
      // both read the one-row artifact, so no Generate remains anywhere
      ("single checkpointed training (no posexplode subtree in plan)",
        p => !p.contains("Generate")))

    // duplicated-ngram coverage: the unique credit comes straight off
    // the totals aggregation (min(doc_id) of a count-1 gram = THE doc)
    // — the gram pipeline feeds exactly ONE chain, so the corpus is
    // tokenized/exploded once and no data-row join-back exists
    audit("txt_dup_family")(
      ("single gram explode (no recomputed pipeline)", p =>
        "Generate explode".r.findAllIn(p).size == 1),
      ("run-merge window partitioned by doc_id (no global order)", p =>
        p.contains("hashpartitioning(doc_id")),
      ("no cartesian", p => !p.contains("CartesianProduct")))

    // duplicated spans: the corpus is tokenized ONCE into the
    // checkpointed positional gram index, which feeds both the dup-set
    // aggregation and the position join-back; the run-merge window
    // partitions by doc_id — never a global order
    auditDf("txt_dup_family/spans",
      graft.ops.Text.dupSpans(Tables.documents(spark, sfDir)))(
      ("corpus tokenized once into the checkpointed positional index " +
        "(no Generate in the serving plan)", p =>
        !p.contains("Generate") && p.contains("Scan ExistingRDD")))

    // quota sampling: the per-stratum fill is the heap node (map-side
    // prune to ≤k before the stratum shuffle); the apportionment rides
    // broadcasts, and the rank window sees only heap survivors
    audit("txt_quota_sample")(
      ("two-phase heap top-k fill", p =>
        p.contains("TopKPerKeyPartial") && p.contains("TopKPerKeyFinal")),
      ("quota/total sides broadcast", p =>
        "BroadcastExchange".r.findAllIn(p).size >= 2),
      ("no cartesian over data rows", p =>
        !p.contains("CartesianProduct")))

    // BM25 ranked retrieval: ONE corpus tokenize feeds tf, with df/dl
    // as re-aggregations of the same exchange (reused, not recomputed);
    // query terms ride broadcasts; top-k is the two-phase heap node.
    // The only nested-loop join allowed is the one-row corpus-stats
    // carrier (a BNL against ONE row is a per-partition constant).
    audit("txt_bm25_topk")(
      ("corpus tokenized ONCE into the checkpointed inverted index " +
        "(no Generate in the serving plan)", p =>
        !p.contains("Generate") && p.contains("Scan ExistingRDD")),
      ("two-phase heap top-k", p =>
        p.contains("TopKPerKeyPartial") && p.contains("TopKPerKeyFinal")),
      ("no cartesian over data rows", p => !p.contains("CartesianProduct")))

    // hybrid RRF fusion: each arm prunes to nCand through its own heap
    // node and the fusion itself is a third — the rank join touches
    // only arm survivors; query terms/vectors ride broadcasts. The
    // only nested-loop join allowed is the 4-row query-vector carrier.
    audit("txt_hybrid_rrf")(
      ("three heap prunes (lexical arm, semantic arm, fusion)", p =>
        "TopKPerKeyPartial".r.findAllIn(p).size >= 3),
      ("query-side tables broadcast", p =>
        "BroadcastExchange".r.findAllIn(p).size >= 2),
      ("no cartesian over data rows", p => !p.contains("CartesianProduct")))

    // kNN graph: banded candidates (never all-pairs), ONE undirected
    // scoring pass fanned to both directions by an explode (no
    // self-union replaying the pair pipeline), heap-node per-node top-k
    // the folded entry shares a CHECKPOINTED round-0 graph between the
    // arms, so its plan shows the leaf; the graph-construction shape is
    // audited on the arm frame
    audit("sim_knn_family")(
      ("no cartesian/BNL pair enumeration", p =>
        !p.contains("CartesianProduct") &&
          !p.contains("BroadcastNestedLoopJoin")),
      ("round-0 graph checkpointed once for both arms",
        p => p.contains("Scan ExistingRDD")),
      ("two-phase heap top-k per node", p =>
        p.contains("TopKPerKeyPartial") && p.contains("TopKPerKeyFinal")),
      ("native vector_dot scoring", _.contains("vector_dot")))
    auditDf("sim_knn_family/graph",
      graft.ops.Similarity.knnGraph(Tables.embeddings(spark, sfDir), 5))(
      ("candidate join keyed on (band, salt) — hot buckets spread",
        p => "band_key#\\d+, salt#".r.findAllIn(p).nonEmpty),
      ("no cartesian/BNL pair enumeration", p =>
        !p.contains("CartesianProduct") &&
          !p.contains("BroadcastNestedLoopJoin")))

    // NN-Descent refinement: the round-0 graph and cell assignment are
    // checkpointed (candidates never re-enumerate the banding), the
    // expansion is edge×edge equi-join, the re-score is one undirected
    // pass through the native dot, and the top-k is the heap node

    // label propagation: the kNN graph builds once behind a checkpoint
    // (the serving plan never re-enumerates candidates), each round is
    // equi-join + hash aggregation — no window over the votes, no
    // cartesian anywhere
    audit("sim_label_prop")(
      ("graph and labels read from checkpoints (no candidate re-enum)",
        p => p.contains("Scan ExistingRDD")),
      ("modal vote is hash-aggregated, not windowed",
        p => !p.contains("Window")),
      ("no cartesian", p => !p.contains("CartesianProduct")))

    // incremental near-dup: batch bands equi-join the history band
    // index — history never self-joins, nothing enumerates all pairs,
    // and signatures come from the native codegen'd minhash_sig
    audit("dedup_incr_family")(
      ("no cartesian/BNL pair enumeration", p =>
        !p.contains("CartesianProduct") &&
          !p.contains("BroadcastNestedLoopJoin")),
      ("native minhash_sig signature computation",
        _.contains("minhash_sig")))

    // stored BM25 probe: the postings scans (match side + the
    // df-derivation side) carry STATIC bucket partition filters
    // (query terms are plan-time literals — no subquery, no corpus
    // tokenize anywhere in the serving plan)
    audit("txt_bm25_stored")(
      ("postings scan statically pruned to the query-term buckets",
        p => "PartitionFilters: \\[[^\\]]*bucket#\\d+ IN".r.findAllIn(p).size >= 2),
      ("no corpus tokenize in the serving plan (index-only read)",
        p => !p.contains("Generate")),
      ("two-phase heap top-k", p =>
        p.contains("TopKPerKeyPartial") && p.contains("TopKPerKeyFinal")),
      ("no cartesian over data rows", p => !p.contains("CartesianProduct")))

    // hot-cell resplit: the registry plan is the report downstream of
    // the assignment checkpoint — single agg over the checkpoint scan
    audit("sim_ivfpq_resplit")(
      ("report rides the assignment checkpoint",
        p => p.contains("Scan ExistingRDD")),
      ("single aggregation exchange over new_cell", p =>
        "Exchange hashpartitioning".r.findAllIn(p).size <= 1),
      ("no cartesian over members", p => !p.contains("CartesianProduct")))

    // ...and the PRE-checkpoint assignment frame (hidden from the
    // registry plan by the checkpoint): pivot/centroid sides are
    // nlist-row broadcasts, nothing enumerates member pairs
    {
      import org.apache.spark.sql.functions.{col, count, lit}
      val emb = graft.Tables.embeddings(spark, sfDir)
      val cells = emb.select(col("vec_id"), col("embedding"),
        (col("vec_id") % 16).as("cell"))
      val counts = cells.groupBy(col("cell")).agg(count(lit(1)).as("n"))
      val hot = counts.limit(3).select(col("cell"))
      val cent = cells.groupBy(col("cell").cast("int").as("centroid_id"))
        .agg(org.apache.spark.sql.functions.first(col("embedding")).as("ce"))
      val p = graft.ops.Similarity
        .resplitAssignment(cells.localCheckpoint(), hot, cent, 16)
        .queryExecution.executedPlan.toString
      val checks = Seq(
        ("assignment: pivot/centroid sides broadcast",
          "BroadcastHashJoin".r.findAllIn(p).size >= 2),
        ("assignment: no cartesian over members",
          !p.contains("CartesianProduct")))
      checks.foreach { case (desc, ok) =>
        if (!ok) failures += 1
        println(f"${if (ok) "PASS" else "FAIL"}  ${"sim_ivfpq_resplit"}%-24s $desc")
        if (!ok) println(p.linesIterator.take(40).mkString("  | ", "\n  | ", ""))
      }
    }

    // BM25 hot-bucket resplit: report rides the split checkpoint; the
    // hot side is a broadcast; nothing enumerates posting pairs
    audit("txt_bm25_resplit")(
      ("report rides the split checkpoint",
        p => p.contains("Scan ExistingRDD")),
      ("no corpus tokenize (artifact-only read)", !_.contains("Generate")),
      ("no cartesian over postings", p => !p.contains("CartesianProduct")))

    // resplit-generation probe: augmented centroids and probed cells
    // ride broadcasts, scoring is equi-keyed on the cell, per-query
    // top-k through the heap node
    audit("sim_ivfpq_resprobe")(
      ("centroid/probe frames broadcast", p =>
        "BroadcastHashJoin".r.findAllIn(p).size >= 2),
      ("no cartesian over members", p => !p.contains("CartesianProduct")),
      ("two-phase heap top-k", p =>
        p.contains("TopKPerKeyPartial") && p.contains("TopKPerKeyFinal")))

    // BM25 append probe: the serving plan after the merge is the same
    // index-only read as txt_bm25_stored — static bucket pruning, no
    // corpus tokenize (the append work happened at construction time)
    audit("txt_bm25_append")(
      ("postings scan statically pruned to the query-term buckets",
        p => "PartitionFilters: \\[[^\\]]*bucket#\\d+ IN".r.findAllIn(p).size >= 2),
      ("no corpus tokenize in the serving plan (index-only read)",
        p => !p.contains("Generate")),
      ("no cartesian over data rows", p => !p.contains("CartesianProduct")))

    // IVFADC append probe: serves the merged cell layout through the
    // same statically-pruned path as sim_ivfpq_stored
    audit("sim_ivfpq_append")(
      ("codes + cells scans statically pruned to the probed cells",
        p => "PartitionFilters: \\[[^\\]]*cell#\\d+ IN".r.findAllIn(p).size >= 2),
      ("shortlist + re-rank both use the heap top-k node", p =>
        "TopKPerKeyPartial".r.findAllIn(p).size >= 2),
      ("no cartesian", p => !p.contains("CartesianProduct")))

    // BM25 delete probe: after compaction the serving plan is again
    // the plain index-only read — no tombstone anti-join left, same
    // static bucket pruning
    audit("txt_bm25_delete")(
      ("postings scan statically pruned to the query-term buckets",
        p => "PartitionFilters: \\[[^\\]]*bucket#\\d+ IN".r.findAllIn(p).size >= 2),
      ("no corpus tokenize in the serving plan (index-only read)",
        p => !p.contains("Generate")),
      ("no cartesian over data rows", p => !p.contains("CartesianProduct")))

    // IVFADC delete probe: serves AROUND the tombstone sidecar — the
    // codes scan anti-joins it (broadcast) and stays statically pruned
    audit("sim_ivfpq_delete")(
      ("tombstones excluded by broadcast anti-join",
        p => p.contains("LeftAnti")),
      ("codes + cells scans statically pruned to the probed cells",
        p => "PartitionFilters: \\[[^\\]]*cell#\\d+ IN".r.findAllIn(p).size >= 2),
      ("no cartesian", p => !p.contains("CartesianProduct")))

    // hybrid retrieval over the STANDING indexes: neither arm touches
    // the corpus at probe time — no tokenize explode anywhere, lexical
    // scans carry static bucket filters, the semantic cells scan is
    // statically pruned to the probed cells, and each arm plus the fusion
    // prunes through its own heap node
    audit("txt_hybrid_stored")(
      ("no corpus tokenize/brute-force scoring (no Generate)",
        p => !p.contains("Generate")),
      ("lexical scans statically bucket-pruned",
        p => "PartitionFilters: \\[[^\\]]*bucket#\\d+ IN".r.findAllIn(p).size >= 2),
      ("semantic cells scan statically pruned to the probed cells",
        p => "PartitionFilters: \\[[^\\]]*cell#\\d+ IN".r
          .findAllIn(p).nonEmpty),
      ("three heap prunes (lexical arm, semantic arm, fusion)", p =>
        "TopKPerKeyPartial".r.findAllIn(p).size >= 3),
      ("no cartesian over data rows", p => !p.contains("CartesianProduct")))

    // span cut: the gram index rides dupSpans' checkpoint, the cut
    // join is (doc, pos) equi-keyed, reassembly is a per-doc hash
    // aggregation — the only window is dupSpans' per-doc run-merge
    audit("txt_span_cut")(
      ("gram index read from the checkpoint (dupSpans device)",
        p => p.contains("Scan ExistingRDD")),
      ("windows partition by doc_id only (no global order)", p =>
        !"Window \\[(?!.*doc_id)".r.findAllIn(p).hasNext),
      ("no cartesian", p => !p.contains("CartesianProduct")))

    // LM quality: the positional pair frame is checkpointed (three
    // consumers; no explode in the serving plan), LM joins are
    // hash-keyed, and the per-doc mean folds behind a doc_id window-
    // free aggregation — no global sort except the output orderBy
    audit("txt_lm_quality")(
      ("corpus paired once into the checkpointed positional frame", p =>
        !p.contains("Generate") && p.contains("Scan ExistingRDD")),
      ("no cartesian", p => !p.contains("CartesianProduct")))

    // stored-LM scoring: the reference model comes off the persisted
    // count tables (never re-aggregated from the reference half at
    // scoring time), joins hash-keyed
    audit("txt_lm_stored")(
      ("model served from the persisted count tables", p =>
        p.contains("graft_lm_index")),
      ("no cartesian", p => !p.contains("CartesianProduct")),
      ("no broadcast nested loop", p =>
        !p.contains("BroadcastNestedLoopJoin")))

    // connected components: the star rounds are checkpointed
    // (groupBy-min + equi-join per round, composed by the loop), and
    // the returned labeling is materialized behind a checkpoint
    // boundary so the loop's cached edge sets can be released — the
    // audited plan is that boundary plus anything composed after it
    audit("rel_concomp")(
      ("labeling materialized behind a checkpoint boundary", p =>
        p.contains("Scan ExistingRDD")),
      ("no cartesian downstream of the checkpoint",
        p => !p.contains("CartesianProduct")),
      ("no broadcast of the full node set", p =>
        !p.contains("BroadcastNestedLoopJoin")))

    // ...and the PRE-checkpoint edge build (the checkpoint hides it
    // from the registry query's plan — audited directly, the way
    // mm_phash_dups covers the phash edge build): urgent-orders filter
    // pushed into the scan, co-purchase self-join equi-keyed with one
    // reused exchange, pair space never a cross product
    {
      val edges = graft.ops.Graph.copurchaseEdges(
        Tables.lineitem(spark, sfDir), Tables.orders(spark, sfDir))
      val p = edges.queryExecution.executedPlan.toString
      val checks = Seq(
        ("edge build: urgent filter pushed to the orders scan",
          p.contains("PushedFilters") && p.contains("o_orderpriority")),
        ("edge build: self-join reuses one lineitem exchange",
          p.contains("ReusedExchange")),
        ("edge build: no cartesian pair enumeration",
          !p.contains("CartesianProduct")))
      checks.foreach { case (desc, ok) =>
        if (!ok) failures += 1
        println(f"${if (ok) "PASS" else "FAIL"}  ${"rel_concomp"}%-24s $desc")
        if (!ok) println(p.linesIterator.take(40).mkString("  | ", "\n  | ", ""))
      }
    }

    // streaming dedup batch analog: ONE hash aggregation, min(struct)
    // partial-aggregated map-side — no window sort anywhere
    audit("str_dedup")(
      ("no window operator (first-row via associative min)",
        !_.contains("Window")),
      ("two-phase hash aggregation", p =>
        "HashAggregate".r.findAllIn(p).size >= 2))

    // triangle counting: every step is an equi-join on packed keys —
    // the wedge enumeration must never fall back to a cross product
    audit("rel_triangles")(
      ("no cartesian in wedge/closure joins",
        p => !p.contains("CartesianProduct")))

    // resample+ffill: grid, join, and fill all partition on user_id
    auditDf("rel_resample/ffill",
      graft.ops.Relational.resampleFfill(Tables.events(spark, sfDir)))(
      ("bounded exchanges on the single key", p =>
        "Exchange hashpartitioning".r.findAllIn(p).size <= 3),
      ("no cartesian grid", p => !p.contains("CartesianProduct")))

    // KMV overlap: strata compress to sketches BEFORE pairing — the
    // pair join runs on aggregated rows, so no unjoined-row rescan
    audit("xtr_kmv")(
      ("two-phase sketch aggregation (map-side partials)", p =>
        "ObjectHashAggregate".r.findAllIn(p).size >= 2 ||
          "SortAggregate".r.findAllIn(p).size >= 2),
      ("single token explode feeds both sketch sides", p =>
        "Generate explode".r.findAllIn(p).size <= 1 ||
          p.contains("ReusedExchange")))

    // dedup application: the loser set is data-dependent (billions of
    // rows at a realistic dup rate over 100 TB) — the anti-join must
    // carry NO mandatory broadcast hint; AQE picks the strategy from the
    // runtime size instead. Checked on the analyzed logical plan, where
    // a user hint would survive as ResolvedHint.
    {
      val qe = SparkEntry.queries("dedup_apply")(spark, sfDir).queryExecution
      val checks = Seq(
        ("anti-join has no mandatory broadcast hint",
          !qe.analyzed.toString.contains("ResolvedHint")),
        ("planned as LeftAnti", qe.executedPlan.toString.contains("LeftAnti")))
      checks.foreach { case (desc, ok) =>
        if (!ok) failures += 1
        val n = "dedup_apply"
        println(f"${if (ok) "PASS" else "FAIL"}  $n%-24s $desc")
      }
    }

    println(s"== plan audit: ${if (failures == 0) "ALL PASS" else s"$failures FAILURES"} ==")

    // optional: dump formatted plans for review (`runMain graft.PlanAudit <sfDir> <outFile>`)
    args.drop(1).headOption.foreach { out =>
      val flagship = Seq("bu_broadcast", "bu_zip", "rel_pricing_summary",
        "rel_revenue_by_region", "rel_sort_topk", "rel_join_strategies",
        "rel_scalar_subquery", "rel_window_range_time", "rel_topk_variants",
        "rel_shipping_priority", "dedup_minhash",
        "dedup_jaccard", "sim_cosine_topk", "sim_ivf_topk", "str_session",
        "txt_fuzzy_family", "rel_asof_directed", "rel_nation_trade",
        "rel_market_basket", "rel_pagerank", "rel_triangles",
        "sim_pq_topk", "txt_repetition", "str_dedup", "rel_resample",
        "sim_ivfpq_topk", "sim_ivf_salted", "mm_phash_family",
        "sim_ivfpq_res", "sim_mmr", "rel_min_cost_supp",
        "rel_nation_profit", "str_watermarks",
        "sim_semdedup", "sim_sq_topk", "sim_ivfpq_stored",
        "txt_bm25_topk", "txt_bm25_stored", "txt_hybrid_rrf",
        "txt_dup_family", "sim_knn_family", "dedup_incr_family",
        "txt_span_cut", "txt_bm25_append", "sim_ivfpq_append",
        "txt_hybrid_stored", "txt_bm25_delete",
        "sim_ivfpq_delete", "txt_quality_clf", "sim_ivfpq_resplit",
        "txt_lm_build", "txt_lm_stored", "txt_lm_append", "txt_lm_delete",
        "txt_lm_compact")
      // Tolerate registry drift: a folded-away key must not crash the
      // dump after the audit already passed — warn and skip instead.
      val (present, missing) = flagship.partition(SparkEntry.queries.contains)
      missing.foreach(n => println(s"WARN  plan-dump key not in SparkEntry.queries, skipped: $n"))
      val text = present.map { name =>
        val df = SparkEntry.queries(name)(spark, sfDir)
        val formatted = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        s"## $name\n\n```\n$formatted```\n"
      }.mkString(
        "# Physical plans (static, AQE off) — flagship queries at sf0.01\n\n" +
          "Generated by `sbt \"runMain graft.PlanAudit <sfDir> <file>\"`.\n\n", "\n", "")
      java.nio.file.Files.writeString(java.nio.file.Paths.get(out), text)
      println(s"plans written to $out")
    }
    spark.stop()
    if (failures > 0) sys.exit(1)
  }
}
