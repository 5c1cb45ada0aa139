package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import graft.functions.{FloatVecDot, FloatVecL2Sq}

/** `spark.sql.extensions=graft.plans.GraftExtensions` registration — also
  * usable programmatically via `SparkSession.builder.withExtensions(new
  * GraftExtensions()(_))`. Injects the native vector functions (`vec_dot`,
  * `vec_l2sq`, `feature_hash_embed` — the same builders as
  * `GraftFunctions.register`), so a SQL-first user can write
  * `ORDER BY vec_l2sq(...) LIMIT k` without any programmatic setup.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.functions.foreach(ext.injectFunction)
}

object GraftExtensions {

  /** FunctionDescriptions mirroring `GraftFunctions.register` — one source
    * of truth for the builders, injectable at session build for clusters.
    */
  val functions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("vec_dot"),
      new ExpressionInfo(classOf[FloatVecDot].getName, "vec_dot"),
      (es: Seq[Expression]) => FloatVecDot(es(0), es(1))),
    (FunctionIdentifier("vec_l2sq"),
      new ExpressionInfo(classOf[FloatVecL2Sq].getName, "vec_l2sq"),
      (es: Seq[Expression]) => FloatVecL2Sq(es(0), es(1))),
    (FunctionIdentifier("feature_hash_embed"),
      new ExpressionInfo(classOf[graft.vector.FeatureHashEmbed].getName, "feature_hash_embed"),
      (es: Seq[Expression]) => graft.vector.FeatureHashEmbed(es(0),
        es(1).eval().asInstanceOf[Int])))
}
