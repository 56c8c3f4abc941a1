package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry.FunctionBuilder
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import graft.functions.{BitmapAndCardinality, BitmapBuildAggregate, BitmapCardinality, BitmapMergeAggregate, DotProduct, HllAggregate, HllEstimate, HllMergeAggregate, HllZeroRegisters, KmvAggregate, KmvMergeAggregate, L2Norm, MisraGriesAggregate, SampleKAggregate, TopKAggregate, Wkt4326Ring, ZOrderKey}

/** SparkSessionExtensions entry point: makes the engine's custom expressions
  * available to ANY session (including pure-SQL users) via
  * `spark.sql.extensions=graft.GraftExtensions` — the standard plug-in path,
  * no code changes in the consuming application.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit =
    GraftExtensions.functions.foreach { case (name, cls, build) =>
      e.injectFunction((
        new FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), build))
    }
}

object GraftExtensions {
  /** The engine's SQL functions as (SQL name, expression class, builder):
    * the one list that both entry points register — [[GraftExtensions]] at
    * session build time, [[graft.functions.VectorFunctions.register]] on an
    * existing session.
    */
  private[graft] val functions: Seq[(String, Class[_], FunctionBuilder)] = Seq(
    ("graft_dot", classOf[DotProduct], e => DotProduct(e(0), e(1))),
    ("graft_l2norm", classOf[L2Norm], e => L2Norm(e.head)),
    ("graft_zorder", classOf[ZOrderKey], e => ZOrderKey(e(0), e(1))),
    ("graft_wkt4326", classOf[Wkt4326Ring], e => Wkt4326Ring(e(0), e(1), e(2), e(3),
      boolLit(e(4), "graft_wkt4326 north"))),
    ("graft_topk", classOf[TopKAggregate], e =>
      TopKAggregate(e(0), e(1), intLit(e(2), "graft_topk k")).toAggregateExpression()),
    ("graft_kmv", classOf[KmvAggregate], e =>
      KmvAggregate(e(0), intLit(e(1), "graft_kmv k")).toAggregateExpression()),
    ("graft_kmv_merge", classOf[KmvMergeAggregate], e =>
      KmvMergeAggregate(e(0), intLit(e(1), "graft_kmv_merge k")).toAggregateExpression()),
    ("graft_bitmap", classOf[BitmapBuildAggregate], e =>
      BitmapBuildAggregate(e.head).toAggregateExpression()),
    ("graft_bitmap_merge", classOf[BitmapMergeAggregate], e =>
      BitmapMergeAggregate(e.head).toAggregateExpression()),
    ("graft_bitmap_card", classOf[BitmapCardinality], e => BitmapCardinality(e.head)),
    ("graft_bitmap_and_card", classOf[BitmapAndCardinality], e =>
      BitmapAndCardinality(e(0), e(1))),
    ("graft_hll", classOf[HllAggregate], e => HllAggregate(e.head).toAggregateExpression()),
    ("graft_hll_merge", classOf[HllMergeAggregate], e =>
      HllMergeAggregate(e.head).toAggregateExpression()),
    ("graft_hll_est", classOf[HllEstimate], e => HllEstimate(e.head)),
    ("graft_hll_zeros", classOf[HllZeroRegisters], e => HllZeroRegisters(e.head)),
    ("graft_misra_gries", classOf[MisraGriesAggregate], e =>
      MisraGriesAggregate(e(0), intLit(e(1), "graft_misra_gries k")).toAggregateExpression()),
    ("graft_sample_k", classOf[SampleKAggregate], e =>
      SampleKAggregate(e(0), e(1), intLit(e(2), "graft_sample_k k")).toAggregateExpression()))

  /** Extracts a boolean literal argument (the TopKAggregate k-literal
    * pattern: plan-time parameters arrive as foldable literals).
    */
  private[graft] def boolLit(e: Expression, what: String): Boolean = e match {
    case Literal(v: Boolean, _) => v
    case other => throw new IllegalArgumentException(
      s"$what must be a boolean literal, got $other")
  }

  /** Extracts an integer literal argument, e.g. a sketch's `k`. */
  private[graft] def intLit(e: Expression, what: String): Int = e match {
    case Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got $other")
  }
}
