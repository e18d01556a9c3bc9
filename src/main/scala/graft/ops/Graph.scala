package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sources.Sources.MaintCheckpointSyntax

/** Iterative graph analytics as DataFrame rounds — the Pregel-style
  * computation family (PageRank here; the dedup family's connected
  * components in [[Dedup.nearDupClusters]] is the same shape). Each
  * round is two hash-partitioned shuffles (join ranks⋈edges on src,
  * re-aggregate on dst); the driver loop only composes plans, it never
  * touches data.
  *
  * Determinism: ranks are FIXED-POINT integers (scaled by 10^12) and
  * every step uses integer multiply / floor division only — no float
  * accumulation order to drift, so a 3-iteration run hash-matches the
  * DuckDB oracle bit-for-bit. (Brin & Page, "The Anatomy of a
  * Large-Scale Hypertextual Web Search Engine", WWW 1998, §2.1.1 for
  * the rank recurrence; damping 0.85 expressed as ×85 div 100.)
  */
object Graph {

  /** Fixed-point scale: 1.0 of rank mass = 10^12. Headroom check:
    * a node's rank never exceeds the total mass 10^12, so the largest
    * intermediate (85 × Σ contribs) stays < 10^14 — comfortably inside
    * signed-64 even before ANSI overflow checks would fire.
    */
  val scale: Long = 1000000000000L

  /** Nation→nation trade edges: customer's nation → supplier's nation
    * for every trade relationship in the fact table, self-loops
    * dropped, deduplicated. Dims broadcast; the only big shuffle is
    * the distinct over (src, dst) — a 2×4-byte key.
    */
  def tradeEdges(lineitem: DataFrame, orders: DataFrame,
                 customer: DataFrame, supplier: DataFrame): DataFrame =
    lineitem
      .join(orders, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(customer), col("o_custkey") === col("c_custkey"))
      .join(broadcast(supplier), col("l_suppkey") === col("s_suppkey"))
      .select(col("c_nationkey").cast("long").as("src"),
        col("s_nationkey").cast("long").as("dst"))
      .filter(col("src") =!= col("dst"))
      .distinct()

  /** PageRank over (nodes, edges), `iters` synchronous rounds from a
    * uniform start. Per round: contrib(dst) = Σ_in-edges rank(src) div
    * outdeg(src); rank' = (15·scale) div (100·N) + (85·Σ) div 100.
    * Dangling-node mass is dropped (total mass shrinks slightly per
    * round) — the standard simplification, stated so the oracle agrees.
    *
    * Scale shape: NO broadcast of ranks or nodes (both are |V|, which
    * is huge on a real graph — only the one-row count rides a
    * broadcast); edges⋈ranks shuffles on src, the contribution
    * aggregate shuffles on dst, and AQE is free to broadcast when |V|
    * actually fits. The loop builds one composed plan; nothing
    * materializes on the driver.
    */
  def pageRank(nodes: DataFrame, edges: DataFrame, iters: Int = 3): DataFrame = {
    val ids = nodes.select(col("id").cast("long").as("id"))
    val cnt = ids.agg(count(lit(1)).as("n_nodes"))
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
    var ranks = ids.join(broadcast(cnt))
      .select(col("id"), expr(s"$scale div n_nodes").as("rank"))
    for (_ <- 1 to iters) {
      val contrib = edges
        .join(deg, Seq("src"))
        .join(ranks, col("src") === col("id"))
        .select(col("dst"), expr("rank div outdeg").as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("contrib"))
      ranks = ids.join(broadcast(cnt))
        .join(contrib, col("id") === col("dst"), "left")
        .select(col("id"),
          (expr(s"(15 * $scale) div (100 * n_nodes)") +
            expr("(85 * coalesce(contrib, 0)) div 100")).as("rank"))
    }
    ranks
  }

  /** Triangle counting by DEGREE ORIENTATION (the "forward" algorithm,
    * Schank & Wagner, "Finding, Counting and Listing All Triangles in
    * Large Graphs", WEA 2005): orient every undirected edge from the
    * lower (degree, id) endpoint to the higher, enumerate wedges only
    * from common SOURCES, and close each wedge with one more edge
    * lookup. Out-degrees under this orientation are O(√m), so the
    * wedge join materializes O(m^1.5) rows instead of the Σ deg² a
    * naive orientation pays — the difference between hours and
    * forever on a power-law web graph.
    *
    * Everything is equi-joins on (deg·2^32 + id) packed keys; counts
    * are exact integers. Each triangle is counted exactly once.
    */
  def triangleStats(edges: DataFrame): DataFrame = {
    val und = edges
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b")).distinct()
    val deg = und.select(col("a").as("id")).unionAll(und.select(col("b").as("id")))
      .groupBy(col("id")).agg(count(lit(1)).as("deg"))
    // the packed (deg, id) key is total only while id ∈ [0, 2^32) and
    // deg < 2^31 — generic inputs outside that domain would alias keys
    // and silently mis-orient edges, so the guard fails loudly in-plan
    val key = when(col("id") < 0 || col("id") >= lit(4294967296L)
          || col("deg") >= lit(2147483648L),
        raise_error(lit("triangleStats: node id/degree outside packed-key domain"))
          .cast("long"))
      .otherwise(col("deg") * lit(4294967296L) + col("id"))
    val keyed = deg.select(col("id"), key.as("k"))
    // orient toward the higher (deg, id) endpoint
    val oriented = und
      .join(keyed.select(col("id").as("a"), col("k").as("ka")), Seq("a"))
      .join(keyed.select(col("id").as("b"), col("k").as("kb")), Seq("b"))
      .select(when(col("ka") < col("kb"), col("ka")).otherwise(col("kb")).as("u"),
        when(col("ka") < col("kb"), col("kb")).otherwise(col("ka")).as("v"))
    val wedges = oriented.alias("x")
      .join(oriented.alias("y"),
        col("x.u") === col("y.u") && col("x.v") < col("y.v"))
      .select(col("x.v").as("p"), col("y.v").as("q"))
    val triangles = wedges
      .join(oriented.alias("z"),
        col("p") === col("z.u") && col("q") === col("z.v"))
    und.agg(count(lit(1)).as("n_edges"))
      .join(wedges.agg(count(lit(1)).as("n_wedges")))
      .join(triangles.agg(count(lit(1)).as("n_triangles")))
  }

  /** Connected components by alternating LARGE-STAR / SMALL-STAR
    * rounds (Kiveris et al., "Connected Components in MapReduce and
    * Beyond", SoCC 2014) — the MapReduce-native CC that converges in
    * O(log² n) rounds on ANY graph shape, including the deep chains
    * that make per-round min-label propagation ([[Dedup.nearDupClusters]],
    * fine for clique-ish LSH components) take O(diameter) rounds.
    *
    * large-star: every node u connects its strictly-larger neighbors
    * to m(u) = min(N(u) ∪ {u}); small-star (over edges oriented
    * hi→lo): every node hi re-points its smaller neighbors and itself
    * at its minimum neighbor. Both are one groupBy-min + one equi-join
    * per round — never a collect, never a broadcast of |V| — and the
    * driver loop only composes plans (each round checkpointed so
    * round k doesn't replay rounds 0..k−1). At the fixpoint the edge
    * set IS the component assignment: a star from every member to its
    * component's minimum id.
    *
    * Output: (id, component, n_members) for every node that appears in
    * ≥1 edge; component = min member id — the same canonical-minimum
    * convention as the dedup family, and exactly the fixpoint the
    * oracle's recursive min-reachability re-derives.
    */
  def connectedComponents(edges: DataFrame, maxRounds: Int = 30): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    def canon(e: DataFrame): DataFrame = e
      .select(greatest(col("hi"), col("lo")).as("hi"),
        least(col("hi"), col("lo")).as("lo"))
      .filter(col("hi") =!= col("lo")).distinct()
    var cur = canon(edges.select(col("src").as("hi"), col("dst").as("lo")))
      .persist(StorageLevel.MEMORY_AND_DISK)
    var rounds = 0
    var changed = 1L
    while (changed > 0 && rounds < maxRounds) {
      // large-star over the SYMMETRIZED neighborhood
      val sym = cur.select(col("hi").as("u"), col("lo").as("v"))
        .unionAll(cur.select(col("lo").as("u"), col("hi").as("v")))
      val mins = sym.groupBy(col("u")).agg(min(col("v")).as("mv"))
        .select(col("u"), least(col("mv"), col("u")).as("m"))
      val afterLarge = canon(
        sym.join(mins, Seq("u"))
          .filter(col("v") > col("u"))
          .select(col("v").as("hi"), col("m").as("lo")))
        .maintCheckpoint()
      // small-star over the hi→lo orientation
      val minsS = afterLarge.groupBy(col("hi")).agg(min(col("lo")).as("m"))
      val afterSmall = canon(
        afterLarge.join(minsS, Seq("hi"))
          .filter(col("lo") =!= col("m"))
          .select(col("lo").as("hi"), col("m").as("lo"))
          .unionAll(minsS.select(col("hi"), col("m").as("lo"))))
        .persist(StorageLevel.MEMORY_AND_DISK)
      changed = afterSmall.unionAll(cur).groupBy(col("hi"), col("lo"))
        .agg(count(lit(1)).as("n")).filter(col("n") === 1).count()
      cur.unpersist()
      cur = afterSmall
      rounds += 1
    }
    // non-convergence must not pass silently: the fixpoint IS the
    // correctness contract (a star per component), and worst-case
    // convergence is O(log² n) rounds — if maxRounds ran out first the
    // labeling below would be silently wrong
    require(changed == 0,
      s"connectedComponents did not converge in $maxRounds rounds " +
        s"($changed edges still changing) — raise maxRounds")
    val members = cur.select(col("hi").as("id"), col("lo").as("component"))
      .unionAll(cur.select(col("lo").as("id"), col("lo").as("component")))
      .groupBy(col("id")).agg(min(col("component")).as("component"))
    val sizes = members.groupBy(col("component"))
      .agg(count(lit(1)).as("n_members"))
    // materialize the labeling so the last round's cached edge blocks
    // (and the loop's checkpoint lineage) can be released now instead
    // of leaking until context shutdown
    val out = members.join(sizes, Seq("component"))
      .select(col("id"), col("component"), col("n_members"))
      .maintCheckpoint()
    cur.unpersist()
    out
  }

  /** Registry shape: components of the URGENT high-quantity co-purchase
    * graph — parts that co-occur on the same urgent order at quantity
    * ≥ 45 are linked; components are the product clusters. The edge
    * build reduces lineitem to (orderkey, partkey) BEFORE the self-join
    * and dedups on 2×8-byte keys.
    */
  /** The edge build of [[copurchaseComponents]], exposed so the plan
    * audit can inspect it PRE-checkpoint (the CC loop materializes its
    * output, so the registry query's plan shows only the boundary —
    * this frame is where pushdown/broadcast/no-cartesian must hold).
    */
  def copurchaseEdges(lineitem: DataFrame, orders: DataFrame): DataFrame = {
    val li = lineitem
      .join(orders.filter(col("o_orderpriority") === "1-URGENT")
          .select(col("o_orderkey")),
        col("l_orderkey") === col("o_orderkey"))
      .filter(col("l_quantity") >= 45)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
    li.alias("a").join(li.alias("b"),
        col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
      .select(col("a.pk").as("src"), col("b.pk").as("dst"))
      .distinct()
  }

  def copurchaseComponents(lineitem: DataFrame, orders: DataFrame): DataFrame =
    connectedComponents(copurchaseEdges(lineitem, orders))
      .select(col("id").as("part_id"), col("component"), col("n_members"))
      .orderBy(col("part_id"))

  /** Registry shape: triangle census of the nation trade graph. */
  def nationTriangles(lineitem: DataFrame, orders: DataFrame,
                      customer: DataFrame, supplier: DataFrame): DataFrame =
    triangleStats(tradeEdges(lineitem, orders, customer, supplier))

  /** Registry shape: PageRank of the nation trade graph, labeled and
    * rank-ordered. `rank_scaled` is the fixed-point integer — the
    * hash-checkable value; divide by 10^12 for the conventional score.
    */
  def nationPageRank(nation: DataFrame, lineitem: DataFrame,
                     orders: DataFrame, customer: DataFrame,
                     supplier: DataFrame, iters: Int = 3): DataFrame = {
    val nodes = nation.select(col("n_nationkey").cast("long").as("id"))
    val edges = tradeEdges(lineitem, orders, customer, supplier)
    pageRank(nodes, edges, iters)
      .join(nation, col("id") === col("n_nationkey").cast("long"))
      .select(col("n_nationkey"), col("n_name"), col("rank").as("rank_scaled"))
      .orderBy(col("rank_scaled").desc, col("n_nationkey"))
  }
}
