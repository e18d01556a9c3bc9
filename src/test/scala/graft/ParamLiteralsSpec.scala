package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.aggregate.Partial
import org.apache.spark.sql.execution.{ExtendedMode, FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.HashAggregateExec
import org.apache.spark.sql.functions._

import graft.plans.ParamLiteral

/** `graft.plans.ParamLiterals`: numeric literals leave the generated
  * source, so a re-run with other constants reuses the compiled classes,
  * while scans, explain text and results stay exactly as without it.
  */
class ParamLiteralsSpec extends SparkTestBase with AdaptiveSparkPlanHelper {

  private lazy val ext = extensionSession()

  private lazy val path: String = {
    import spark.implicits._
    val p = java.nio.file.Files.createTempDirectory("graft-paramlit").toString + "/t"
    (0 until 400).map(i => (i, i.toLong * 7, i % 50, i * 0.25,
        java.sql.Date.valueOf(java.time.LocalDate.of(2024, 1, 1).plusDays(i % 90)),
        new java.sql.Timestamp(1700000000000L + i * 3600000L), s"s${i % 13}"))
      .toDF("k", "lk", "q", "x", "d", "ts", "s")
      .repartition(3).write.parquet(p)
    p
  }

  /** The bulk-update shape: visibility filter, masked CASE projection,
    * outcome counts — `lo` and `m` vary from job to job.
    */
  private def job(s: SparkSession, lo: Int, m: Int): DataFrame =
    s.read.parquet(path)
      .filter(col("q").between(lo, lo + 9))
      .select(col("k"), col("s"),
        when(col("lk") % m === 0, lit("ro")).otherwise(col("s")).as("v"))
      .agg(count(when(col("k") > lo * 3, 1)).as("n"), count(lit(1)).as("all"))

  private def compiles(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  private def normalized(df: DataFrame): String =
    df.queryExecution.explainString(ExtendedMode)
      .replaceAll("#\\d+L?", "#_").replaceAll("plan_id=\\d+", "plan_id=_")

  private def plans(df: DataFrame): Seq[SparkPlan] =
    collectWithSubqueries(df.queryExecution.executedPlan) { case p => p }

  private def hasParam(p: SparkPlan): Boolean =
    p.expressions.exists(_.exists(_.isInstanceOf[ParamLiteral]))

  private def withAqe[T](on: Boolean)(f: => T): T = {
    val key = "spark.sql.adaptive.enabled"
    val saved = Seq(spark, ext).map(_.conf.get(key))
    Seq(spark, ext).foreach(_.conf.set(key, on.toString))
    try f
    finally Seq(spark, ext).zip(saved).foreach { case (s, v) => s.conf.set(key, v) }
  }

  test("a re-run with other numeric literals compiles nothing") {
    Seq(true, false).foreach { aqe =>
      withAqe(aqe) {
        job(ext, 3, 5).collect()
        val before = compiles()
        val got = job(ext, 11, 7).collect()
        assert(compiles() - before === 0, s"aqe=$aqe")
        assert(got.toSeq === job(spark, 11, 7).collect().toSeq)
        // control: the plain session inlines the constants and compiles
        // (constants unseen so far, so no class is cached for them)
        val plain = compiles()
        job(spark, if (aqe) 17 else 23, if (aqe) 9 else 13).collect()
        assert(compiles() - plain > 0, s"aqe=$aqe")
      }
    }
  }

  test("scans keep their literals: pushdown, explain text, plan placement") {
    Seq(true, false).foreach { aqe =>
      withAqe(aqe) {
        val withExt = job(ext, 20, 3)
        val plain = job(spark, 20, 3)
        withExt.collect(); plain.collect()
        val text = normalized(withExt)
        assert(text === normalized(plain), s"aqe=$aqe")
        assert(text.contains("PushedFilters: [IsNotNull(q), " +
          "GreaterThanOrEqual(q,20), LessThanOrEqual(q,29)]"), text)
        val nodes = plans(withExt)
        assert(nodes.exists(hasParam), s"aqe=$aqe: rule did not fire")
        nodes.foreach {
          case scan: FileSourceScanExec => assert(!hasParam(scan), scan.toString)
          case agg: HashAggregateExec if !agg.aggregateExpressions.forall(_.mode == Partial) =>
            assert(!hasParam(agg), agg.toString)
          case _ =>
        }
      }
    }
  }

  test("results match the plain session: %, IN, dates, timestamps, nulls") {
    val d0 = java.sql.Date.valueOf("2024-02-01")
    val t0 = java.sql.Timestamp.valueOf("2023-11-20 00:00:00")
    val queries: Seq[SparkSession => DataFrame] = Seq(
      s => s.read.parquet(path)
        .filter(col("q") % 7 === 3 || col("q").isin(1, 2, 40))
        .select(col("k"), (col("lk") % 11).as("r"), (col("x") * 2.5 - 1).as("y")),
      s => s.read.parquet(path)
        .filter(col("d") >= lit(d0) && col("ts") < lit(t0))
        .select(col("k"), col("d"), datediff(col("d"), lit(d0)).as("dd")),
      s => s.read.parquet(path)
        .select(col("k"), (col("q") > lit(null).cast("int")).as("n1"),
          (coalesce(col("q"), lit(null).cast("int")) + 1).as("n2"),
          col("q").isin(3, null).as("n3")),
      s => s.read.parquet(path).groupBy(col("s"))
        .agg(sum(when(col("q") > 10, col("lk") * 3)).as("a"),
          count(when(col("x") <= 12.5, 1)).as("b"),
          avg(col("q") / 4).as("c"), max(col("d")).as("m")),
      s => { s.read.parquet(path).createOrReplaceTempView("param_lit_t")
        s.sql("SELECT s, count(*) FILTER (WHERE q BETWEEN 5 AND 9) AS f, " +
          "sum(lk % 4) AS g FROM param_lit_t WHERE k NOT IN (0, 1, 2) GROUP BY s") })
    for (aqe <- Seq(true, false); (q, i) <- queries.zipWithIndex) withAqe(aqe) {
      def rows(s: SparkSession): Seq[String] = q(s).collect().map(_.toString).sorted.toSeq
      assert(rows(ext) === rows(spark), s"query $i aqe=$aqe")
    }
  }
}
