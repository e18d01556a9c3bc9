package graft.functions

import org.apache.spark.sql.{Column, Encoder, Encoders, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.expressions.Aggregator

/** Session extension for the engine. It injects:
  *  - the native expressions for the SQL surface (`vector_dot`,
  *    `minhash_sig`, `simhash32`, `phash_bands`, `zorder_key`,
  *    `hashed_linear_score`): `SELECT vector_dot(a, b) FROM ...` resolves
  *    to the same codegen'd Catalyst expression the Column API uses;
  *  - the [[graft.plans.TopKPerKeyStrategy]] planner strategy;
  *  - the [[graft.plans.ParamLiterals]] physical rule, as a columnar rule
  *    (Spark runs those right before whole-stage codegen collapses the
  *    plan). Spark inlines numeric constants into generated Java source
  *    and caches compiled classes by that source, so jobs of one shape
  *    with different constants — the bulk-update loop's visibility
  *    window, read-only mask and value — each compiled fresh classes and
  *    ran them cold through the JIT. The rule moves those constants into
  *    the class's `references` array, so such jobs reuse one class.
  *
  * Register via
  * `SparkSession.builder().withExtensions(new GraftExtensions)` or
  * `spark.sql.extensions=graft.functions.GraftExtensions` (what
  * [[graft.GraftSession.builder]] sets). `GraftExtensions.register(spark)`
  * adds only the SQL functions to an already-built session.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectFunction(GraftExtensions.vectorDotDescriptor)
    e.injectFunction(GraftExtensions.minhashSigDescriptor)
    e.injectFunction(GraftExtensions.simhash32Descriptor)
    e.injectFunction(GraftExtensions.phashBandsDescriptor)
    e.injectFunction(GraftExtensions.zorderKeyDescriptor)
    e.injectFunction(GraftExtensions.hashedLinearScoreDescriptor)
    e.injectPlannerStrategy(_ => graft.plans.TopKPerKeyStrategy)
    e.injectColumnar(_ => graft.plans.ParamLiterals.Hook)
  }
}

object GraftExtensions {
  private[functions] val vectorDotDescriptor
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("vector_dot"),
    new ExpressionInfo(classOf[VectorDotProduct].getName, "vector_dot"),
    (children: Seq[Expression]) => VectorDotProduct(children(0), children(1)))

  /** `minhash_sig(tokens)` — the codegen'd 16-slot MinHash signature
    * with the engine's fixed permutation constants (graft.ops.Dedup),
    * so SQL users get the exact signatures the dedup pipeline uses.
    */
  private[functions] val minhashSigDescriptor
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("minhash_sig"),
    new ExpressionInfo(classOf[MinHashSignature].getName, "minhash_sig"),
    (children: Seq[Expression]) =>
      MinHashSignature(children.head, w = 3, graft.ops.Dedup.minhashAB, graft.ops.Dedup.P))

  /** `simhash32(tokens)` — the codegen'd per-row 32-bit SimHash. */
  private[functions] val simhash32Descriptor
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("simhash32"),
    new ExpressionInfo(classOf[SimHash32].getName, "simhash32"),
    (children: Seq[Expression]) => SimHash32(children.head))

  /** `phash_bands(text)` — the codegen'd 64-bit perceptual fingerprint
    * as its 4 band longs.
    */
  private[functions] val phashBandsDescriptor
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("phash_bands"),
    new ExpressionInfo(classOf[PhashBands].getName, "phash_bands"),
    (children: Seq[Expression]) => PhashBands(children.head))

  /** `zorder_key(x, y)` — the codegen'd 16-bit Morton interleave
    * (inputs cast to bigint at the SQL surface for ergonomics).
    */
  private[functions] val zorderKeyDescriptor
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("zorder_key"),
    new ExpressionInfo(classOf[ZOrderKey].getName, "zorder_key"),
    (children: Seq[Expression]) => ZOrderKey(
      org.apache.spark.sql.catalyst.expressions.Cast(children(0),
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.catalyst.expressions.Cast(children(1),
        org.apache.spark.sql.types.LongType), bits = 16))

  /** `hashed_linear_score(tokens)` — the codegen'd hashed-linear
    * classifier score with the engine's fixed weight geometry
    * (mod 17, shift 8), so SQL users score documents with the exact
    * model the txt_quality_clf pipeline uses.
    */
  private[functions] val hashedLinearScoreDescriptor
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("hashed_linear_score"),
    new ExpressionInfo(classOf[HashedLinearScore].getName, "hashed_linear_score"),
    (children: Seq[Expression]) => HashedLinearScore(children.head, 17, 8))

  /** Runtime registration for an already-built session. */
  def register(spark: SparkSession): Unit = {
    Seq(vectorDotDescriptor, minhashSigDescriptor, simhash32Descriptor,
        phashBandsDescriptor, zorderKeyDescriptor, hashedLinearScoreDescriptor)
      .foreach { case (id, info, builder) =>
        spark.sessionState.functionRegistry.registerFunction(id, info, builder)
      }
  }
}

/** Typed UDAF surface (SURVEY.md §2.2 "UDF/UDAF/UDTF"): a custom
  * `Aggregator[IN, BUF, OUT]` computing count/min/max/sum in one pass —
  * the reduce/merge split is what makes it distribute (partial
  * aggregation per partition, associative merge across partitions).
  */
object StatsAggregator extends Aggregator[Double, (Long, Double, Double, Double), (Long, Double, Double, Double)] {
  override def zero: (Long, Double, Double, Double) =
    (0L, Double.MaxValue, Double.MinValue, 0.0)
  override def reduce(b: (Long, Double, Double, Double), a: Double) =
    (b._1 + 1, math.min(b._2, a), math.max(b._3, a), b._4 + a)
  override def merge(x: (Long, Double, Double, Double), y: (Long, Double, Double, Double)) =
    (x._1 + y._1, math.min(x._2, y._2), math.max(x._3, y._3), x._4 + y._4)
  override def finish(r: (Long, Double, Double, Double)) = r
  override def bufferEncoder: Encoder[(Long, Double, Double, Double)] =
    Encoders.tuple(Encoders.scalaLong, Encoders.scalaDouble, Encoders.scalaDouble, Encoders.scalaDouble)
  override def outputEncoder: Encoder[(Long, Double, Double, Double)] =
    bufferEncoder

  /** Column form for untyped DataFrame aggregation. */
  def asColumn: Column =
    org.apache.spark.sql.functions.udaf(this).apply(org.apache.spark.sql.functions.col("value"))
}
