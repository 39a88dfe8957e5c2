package graft

import graft.functions.{LongDot, QuantizeVec, ShingleHashes, SimHash56, ZInterleave}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** SparkSessionExtensions installer: registers graft's custom expressions
  * for SQL use (`SELECT simhash56(hashes) ...`) and the
  * [[graft.plans.RangeJoinRewrite]] optimizer rule. Enable with
  * `.config("spark.sql.extensions", "graft.GraftExtensions")` — set by
  * [[GraftSession.settings]]. The DataFrame API ([[graft.functions]]) works without
  * registration (and without the rule, marked range joins still compute
  * the same result on the unrewritten plan).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.registry.foreach(ext.injectFunction)
    ext.injectOptimizerRule(_ => graft.plans.RangeJoinRewrite)
  }
}

object GraftExtensions {
  private val registry: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    (
      FunctionIdentifier("simhash56"),
      new ExpressionInfo(classOf[SimHash56].getName, "simhash56"),
      (children: Seq[Expression]) => SimHash56(children.head)
    ),
    (
      FunctionIdentifier("long_dot"),
      new ExpressionInfo(classOf[LongDot].getName, "long_dot"),
      (children: Seq[Expression]) => LongDot(children(0), children(1))
    ),
    (
      FunctionIdentifier("quantize_vec"),
      new ExpressionInfo(classOf[QuantizeVec].getName, "quantize_vec"),
      (children: Seq[Expression]) =>
        QuantizeVec(children(0), children(1).eval().asInstanceOf[Number].intValue())
    ),
    (
      FunctionIdentifier("shingle_hashes"),
      new ExpressionInfo(classOf[ShingleHashes].getName, "shingle_hashes"),
      (children: Seq[Expression]) =>
        ShingleHashes(children(0), children(1).eval().asInstanceOf[Number].intValue())
    ),
    (
      FunctionIdentifier("z_interleave"),
      new ExpressionInfo(classOf[ZInterleave].getName, "z_interleave"),
      (children: Seq[Expression]) => ZInterleave(children(0), children(1))
    )
  )
}
