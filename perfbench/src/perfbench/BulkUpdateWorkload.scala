package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.ops.BulkUpdate
import graft.sources.{Snapshot, Sources}

import Checks.Census

/** The reference pipeline at data scale: a lineitem target table stored
  * as a versioned layout, and per op one seeded bulk-update job — guard,
  * update plan, merge write-back, outcome census.
  */
final class BulkUpdateWorkload extends Workload {
  import BulkUpdateWorkload._

  val name = "bulk_update"
  val itemUnit = "rows"
  val cycle: Int = mix.size

  private var target = ""
  private var rows = 0L
  private var expectedChecksum = 0L
  /** Rows the merges rewrote and rows the updates changed, over checked ops. */
  private var rewritten, changed = 0L

  def generate(spark: SparkSession, seed: Long, dir: String): Unit =
    Inputs.lineitem(spark, seed, tableRows).write.parquet(s"$dir/lineitem.parquet")

  def setup(ctx: Ctx): Unit = {
    val li = ctx.call("Tables", "Tables.lineitem") {
      val df = Tables.lineitem(ctx.spark, ctx.inputs)
      df.schema
      df
    }
    target = s"${ctx.root}/lineitem_target"
    ctx.call("sources.Sources", "Sources.writeVersioned") {
      Sources.writeVersioned(li, target)
    }
    // warm-up: one op of each update mode
    Workload.warmUps(mix).foreach(i => op(ctx, i))
  }

  /** Untimed: the check's reference figures, from the input file. */
  override def prepareChecks(ctx: Ctx): Unit = {
    val in = ctx.spark.read.parquet(s"${ctx.inputs}/lineitem.parquet")
    val r = in.agg(count(lit(1)), checksum).head()
    rows = r.getLong(0)
    expectedChecksum = r.getLong(1)
  }

  def op(ctx: Ctx, i: Int): OpResult = {
    val spark = ctx.spark
    val p = Params(ctx.seed, i)
    val df = ctx.call("sources.Sources", "Sources.readVersioned") {
      Sources.readVersioned(spark, target)
    }
    val visible = expr(p.visibleSql)
    val readOnly = expr(p.readOnlySql)
    // 1-2: the column-level guard aborts a job whose column is locked;
    // the seeded lock predicate never holds, so the guard scans it all
    val locked = ctx.call("ops.BulkUpdate", "BulkUpdate.columnHasReadOnly") {
      BulkUpdate.columnHasReadOnly(df, expr(p.lockSql))
    }
    if (locked) throw new IllegalStateException(s"op $i: column guard fired")
    // 3: the update plan
    val updated = ctx.call("ops.BulkUpdate", s"BulkUpdate.${p.mode}") {
      p.mode match {
        case "broadcastUpdate" =>
          BulkUpdate.broadcastUpdate(df, p.column, lit(p.tag), visible, readOnly)
        case "zipUpdate" =>
          BulkUpdate.zipUpdate(df, p.column, p.zipText, Seq("rowkey"), visible,
            readOnly)
        case "zipUpdateIndexed" =>
          val values = spark.range(p.k).select(col("id").as("__pos"),
            concat(lit(p.tag + "-"), col("id").cast("string")).as("__newval"))
          BulkUpdate.zipUpdateIndexed(df, p.column, values, Seq("rowkey"),
            visible, readOnly)
      }
    }
    val updates = updated.filter(col(p.column).startsWith(p.tag))
      .select(col("rowkey"), col(p.column))
    // 4: write-back as a new generation
    val committed = ctx.call("sources.Sources", "Sources.mergeColumnUpdate") {
      Sources.mergeColumnUpdate(spark, target, updates, "rowkey", p.column)
    }
    // 5: the census on the committed table
    val census = ctx.call("ops.BulkUpdate", "BulkUpdate.outcome") {
      BulkUpdate.outcome(Sources.readVersioned(spark, target), visible, readOnly)
        .head()
    }
    val got = Census(census.getLong(0), census.getLong(1), census.getLong(2),
      census.getLong(3))
    OpResult(committed, () => check(ctx, p, got, committed))
  }

  private def check(ctx: Ctx, p: Params, got: Census, committed: Long): Seq[String] = {
    val gen = Snapshot.require(target).read(ctx.spark, "data")
    val r = gen.agg(count(lit(1)),
        count_if(expr(s"(${p.visibleSql}) AND NOT (${p.readOnlySql})")),
        count_if(expr(s"(${p.visibleSql}) AND (${p.readOnlySql})")),
        count_if(expr(s"NOT (${p.visibleSql})")),
        checksum,
        count_if(col(p.column).startsWith(p.tag)),
        count_if(col(p.column).startsWith(p.tag) &&
          !expr(s"(${p.visibleSql}) AND NOT (${p.readOnlySql})")))
      .head()
    val recount = Census(r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(0))
    rewritten += committed
    changed += r.getLong(5)
    Checks.bulkUpdate(p.mode, p.k, got, recount, committed,
      expectedRows = rows, checksum = r.getLong(4),
      expectedChecksum = expectedChecksum, tagged = r.getLong(5),
      misplaced = r.getLong(6))
  }

  override def finish(ctx: Ctx): Map[String, Double] =
    if (changed == 0) Map.empty
    else Map("sources.rewrite_ratio" -> rewritten.toDouble / changed)

  def inputSizes(ctx: Ctx): Map[String, (Long, Long)] = Map(
    "lineitem_target" -> (rows, Workload.bytesUnder(
      s"${ctx.inputs}/lineitem.parquet")))
}

object BulkUpdateWorkload {
  /** sf0.1 lineitem: 600k rows. */
  val tableRows: Long = 600000L

  val modes = Seq("broadcastUpdate", "zipUpdate", "zipUpdateIndexed")

  /** One cycle of seven ops ([[Workload.cycle]]): five broadcasts, one
    * page-sized zip, one distributed-list zip. The reference offers both
    * modes (OBP.js:305, 309) but no record of how often each is used, so
    * the mix is chosen: broadcast holds five of seven ops, so the median
    * of any whole number of cycles is a broadcast op, never falls between
    * two modes' latencies, and is not the slowest broadcast of the run;
    * each zip mode still runs, and is checked, once per cycle.
    */
  val mix: Seq[String] =
    Seq(modes(0), modes(1), modes(0), modes(0), modes(2), modes(0), modes(0))

  /** Rows of one rendered list page, the most the reference zips onto
    * (visible rows of the page, OBP.js:432-452).
    */
  val pageRows = 80

  /** The columns the updates target; every other column is checksummed. */
  val targetColumns = Seq("l_returnflag", "l_linestatus")

  val checksum: Column = bit_xor(xxhash64(Seq("rowkey", "l_orderkey",
    "l_partkey", "l_suppkey", "l_linenumber", "l_quantity", "l_extendedprice",
    "l_discount", "l_tax", "l_shipdate").map(col): _*))

  final case class Params(seed: Long, i: Int) {
    private val rng = new scala.util.Random(seed * 1000003L + i)
    val mode: String = Workload.cycle(mix, i)
    val column: String = targetColumns(rng.nextInt(targetColumns.size))
    val tag: String = f"u$seed%x.$i%d:"
    private val lo = 1 + rng.nextInt(49)
    /** Chosen, not sourced: two adjacent of the 50 quantities, so 4% of
      * the rows (24k) are visible and each op changes few rows of a table
      * it rewrites whole. The width is fixed because the visible count
      * sets a broadcast op's cost, so every seed's ops weigh alike.
      */
    val visibleSql = s"l_quantity BETWEEN $lo AND ${lo + 1}"
    /** Chosen, not sourced: 1/11 of the rows are read-only and silently
      * skipped, so every op exercises the mask.
      */
    val readOnlySql = s"l_suppkey % 11 = ${rng.nextInt(11)}"
    /** The column-level lock: quantities never exceed 50. */
    val lockSql = s"l_quantity > ${50 + rng.nextInt(50)}"
    /** Value-list length: one page for zip; for the indexed zip a
      * distributed list of 2k-20k values (chosen, not sourced: the
      * reference's lists never leave one page), which reaches part of the
      * visible rows or all of them; broadcast writes one value everywhere.
      */
    val k: Int = mode match {
      case "zipUpdate"        => pageRows
      case "zipUpdateIndexed" => 2000 + rng.nextInt(18000)
      case _                  => 0
    }
    /** The reference's multiline input: blank lines are dropped before
      * positions are assigned.
      */
    def zipText: String = (0 until k)
      .map(j => if (j % 17 == 5) s"$tag-$j\n" else s"$tag-$j")
      .mkString("\n")
  }
}
