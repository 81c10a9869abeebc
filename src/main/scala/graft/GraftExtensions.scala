package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions.{BitHamming, FloatVecDot, FloatVecPack, Int8VecDot, SortedOverlapCount}

/** Session extensions registering the graft custom expressions as SQL
  * functions, so `spark.sql("SELECT float_vec_dot(a, b)")` works — the
  * SURVEY §7.3 path (c): extension injection via a session builder's
  * `withExtensions(new GraftExtensions)` or
  * `spark.sql.extensions=graft.GraftExtensions`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(e: SparkSessionExtensions): Unit = {
    // whole-operator tier: the co-partitioned ADC block-join node
    // (graft.plans.AdcCodesJoin) — also installable per-session via
    // AdcCodesJoinStrategy.install (the facade does this itself)
    e.injectPlannerStrategy(_ => graft.plans.AdcCodesJoinStrategy)
    e.injectFunction((
      new FunctionIdentifier("float_vec_dot"),
      new ExpressionInfo(classOf[FloatVecDot].getName, "float_vec_dot"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "float_vec_dot(a, b) takes 2 arguments")
        FloatVecDot(args.head, args(1))
      }))
    e.injectFunction((
      new FunctionIdentifier("float_vec_pack"),
      new ExpressionInfo(classOf[FloatVecPack].getName, "float_vec_pack"),
      (args: Seq[Expression]) => {
        require(args.length == 1, "float_vec_pack(v) takes 1 argument")
        FloatVecPack(args.head)
      }))
    e.injectFunction((
      new FunctionIdentifier("int8_vec_dot"),
      new ExpressionInfo(classOf[Int8VecDot].getName, "int8_vec_dot"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "int8_vec_dot(a, b) takes 2 arguments")
        Int8VecDot(args.head, args(1))
      }))
    e.injectFunction((
      new FunctionIdentifier("bit_hamming"),
      new ExpressionInfo(classOf[BitHamming].getName, "bit_hamming"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "bit_hamming(a, b) takes 2 arguments")
        BitHamming(args.head, args(1))
      }))
    e.injectFunction((
      new FunctionIdentifier("sorted_overlap_count"),
      new ExpressionInfo(classOf[SortedOverlapCount].getName,
        "sorted_overlap_count"),
      (args: Seq[Expression]) => {
        require(args.length == 2,
          "sorted_overlap_count(a, b) takes 2 arguments")
        SortedOverlapCount(args.head, args(1))
      }))
  }
}
