package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, DoubleType}

/** Native Catalyst expression for the embedding hot path: dot product of
  * two float arrays with sequential double accumulation, participating in
  * whole-stage codegen (no per-row lambda dispatch, no boxing — unlike
  * the higher-order-function formulation).
  */
case class FloatVectorDot(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "vec_dot"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      acc += x.getFloat(i).toDouble * y.getFloat(i).toDouble
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      s"""
        int $n = java.lang.Math.min($a.numElements(), $b.numElements());
        double $acc = 0.0;
        for (int $i = 0; $i < $n; $i++) {
          $acc += ((double) $a.getFloat($i)) * ((double) $b.getFloat($i));
        }
        ${ev.value} = $acc;
      """
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object VectorExpressions {
  /** Register `vec_dot` in the session's function registry so it is
    * callable from SQL / `expr(...)` — the classic-session route to a
    * custom expression without private Column constructors.
    */
  def register(spark: SparkSession): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "vec_dot", exprs => FloatVectorDot(exprs(0), exprs(1)), "scala_udf")
}

/** Deployment route for cluster use: `--conf spark.sql.extensions=
  * graft.plans.GraftExtensions` injects, into every session at build time
  * (SURVEY.md §2.D custom-operator preference (b): no per-session
  * registration):
  *  - the native functions `vec_dot`, `minhash_lanes`, `nfc_normalize`
  *    and `pos_ngrams`, and the `graft_table` table function;
  *  - two optimizer rules: [[RangeBucketJoin]] (band joins become
  *    bucketized equi joins) and [[SmallReadOnePartition]] (an aggregate
  *    or window over a small `FactTable` read runs in one task).
  * The second applies the one size rule, `FactTable.oneTask`: inputs
  * whose logged bytes are at most 1 MiB (the measured crossover) and at
  * most `spark.sql.autoBroadcastJoinThreshold` are handled in one task,
  * as the Buffer flush's driver-side merge also decides; `-1` turns both
  * off.
  */
class GraftExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  import org.apache.spark.sql.catalyst.FunctionIdentifier
  import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

  override def apply(e: org.apache.spark.sql.SparkSessionExtensions): Unit = {
    e.injectFunction((
      new FunctionIdentifier("vec_dot"),
      new ExpressionInfo(classOf[FloatVectorDot].getName, "vec_dot"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        FloatVectorDot(exprs(0), exprs(1))))
    // single-pass all-lanes MinHash over a shingle array (map-only
    // signature computation — see MinHashExpression.scala)
    e.injectFunction((
      new FunctionIdentifier("minhash_lanes"),
      new ExpressionInfo(classOf[MinHashLanes].getName, "minhash_lanes"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        MinHashLanes(exprs(0), exprs(1))))
    // Unicode NFC normalization (map-only text canonicalization)
    e.injectFunction((
      new FunctionIdentifier("nfc_normalize"),
      new ExpressionInfo(classOf[NfcNormalize].getName, "nfc_normalize"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        NfcNormalize(exprs(0))))
    // custom table function (Generator): pos_ngrams(tokens, n)
    e.injectFunction((
      new FunctionIdentifier("pos_ngrams"),
      new ExpressionInfo(classOf[PosNGrams].getName, "pos_ngrams"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        PosNGrams(exprs(0), exprs(1))))
    // range-join optimization: pure band joins → bucketized equi joins
    e.injectOptimizerRule(_ => RangeBucketJoin)
    // size rule: no exchange under aggregates and windows over small
    // FactTable reads
    e.injectOptimizerRule(_ => SmallReadOnePartition)
    // table-valued function: graft_table('/path'[, asOfVersion]) reads a
    // transaction-logged FactTable (optionally time-traveled) from SQL
    e.injectTableFunction((
      new FunctionIdentifier("graft_table"),
      new ExpressionInfo(classOf[graft.storage.FactTable].getName, "graft_table"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        def lit(i: Int): Any = {
          val e = exprs(i)
          require(e.foldable, s"graft_table argument $i must be a literal")
          e.eval(org.apache.spark.sql.catalyst.InternalRow.empty)
        }
        val path = lit(0).toString
        val asOf = if (exprs.length > 1)
          lit(1).asInstanceOf[Number].longValue() else Long.MaxValue
        val spark = org.apache.spark.sql.SparkSession.active
        new graft.storage.FactTable(path, spark).read(asOf)
          .queryExecution.analyzed
      }))
  }
}
