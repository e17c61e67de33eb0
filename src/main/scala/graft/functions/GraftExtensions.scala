package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Registration: per-session (for the registry queries) and via
  * SparkSessionExtensions (`spark.sql.extensions=graft.functions.GraftExtensions`)
  * for library users. */
object GraftFunctions {
  val info = new ExpressionInfo(
    classOf[SortedLongIntersectSize].getName, "sorted_intersect_size")
  val mrhInfo = new ExpressionInfo(
    classOf[MinRollingHash].getName, "min_rolling_hash")
  val bpeInfo = new ExpressionInfo(
    classOf[BpeTokenCount].getName, "bpe_token_count")
  val vecDotInfo = new ExpressionInfo(
    classOf[VecDot].getName, "vec_dot")
  val bloomInfo = new ExpressionInfo(
    classOf[BloomMightContain].getName, "bloom_might_contain")
  val pqAdcInfo = new ExpressionInfo(
    classOf[PqAdc].getName, "pq_adc")

  def builder(args: Seq[Expression]): Expression =
    SortedLongIntersectSize(args(0), args(1))
  def mrhBuilder(args: Seq[Expression]): Expression =
    MinRollingHash(args(0))
  def bpeBuilder(args: Seq[Expression]): Expression =
    BpeTokenCount(args(0))
  def vecDotBuilder(args: Seq[Expression]): Expression =
    VecDot(args(0), args(1))
  def bloomBuilder(args: Seq[Expression]): Expression =
    BloomMightContain(args(0), args(1))
  def pqAdcBuilder(args: Seq[Expression]): Expression =
    PqAdc(args(0), args(1))

  def register(spark: SparkSession): Unit = {
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "sorted_intersect_size", builder, "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "min_rolling_hash", mrhBuilder, "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "bpe_token_count", bpeBuilder, "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "vec_dot", vecDotBuilder, "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "bloom_might_contain", bloomBuilder, "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "pq_adc", pqAdcBuilder, "scala_udf")
  }
}

class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction(
      (FunctionIdentifier("sorted_intersect_size"), GraftFunctions.info,
        GraftFunctions.builder))
    ext.injectFunction(
      (FunctionIdentifier("min_rolling_hash"), GraftFunctions.mrhInfo,
        GraftFunctions.mrhBuilder))
    ext.injectFunction(
      (FunctionIdentifier("bpe_token_count"), GraftFunctions.bpeInfo,
        GraftFunctions.bpeBuilder))
    ext.injectFunction(
      (FunctionIdentifier("vec_dot"), GraftFunctions.vecDotInfo,
        GraftFunctions.vecDotBuilder))
    ext.injectFunction(
      (FunctionIdentifier("bloom_might_contain"), GraftFunctions.bloomInfo,
        GraftFunctions.bloomBuilder))
    ext.injectFunction(
      (FunctionIdentifier("pq_adc"), GraftFunctions.pqAdcInfo,
        GraftFunctions.pqAdcBuilder))
    // Custom optimizer rule: band inequality joins -> bucket equi-joins
    // (see graft.plans.BandedRangeJoinRule for scope and proof sketch).
    ext.injectOptimizerRule(_ => graft.plans.BandedRangeJoinRule)
  }
}
