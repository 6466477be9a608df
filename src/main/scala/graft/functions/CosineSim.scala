package graft.functions

import graft.streaming.NioCheckpointFileManager
import org.apache.spark.SparkContext
import org.apache.spark.sql.Column
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native Catalyst expression: cosine similarity of two float vectors in
  * one fused pass (dot + both norms in a single loop), with whole-stage
  * codegen.
  *
  * Preference order for extending Spark (builder brief / SURVEY §4):
  * built-in functions > native Expression with doGenCode > UDF. The
  * higher-order-function formulation (aggregate ∘ zip_with, see
  * ops.Similarity q_sim_brute) allocates a zipped intermediate array per
  * pair and evaluates a lambda per element; this expression runs a tight
  * primitive loop inside the generated code — same arithmetic
  * (per-element float→double widening, index-order accumulation), so it
  * is value-identical and shares the DuckDB oracle.
  *
  * Registered through SparkSessionExtensions ([[GraftExtensions]]), the
  * idiomatic injection point for custom expressions.
  */
case class CosineSim(left: Expression, right: Expression)
    extends BinaryExpression {

  private def isFloatArray(dt: DataType): Boolean = dt match {
    case ArrayType(FloatType, _) => true // containsNull-insensitive
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (isFloatArray(left.dataType) && isFloatArray(right.dataType))
      TypeCheckResult.TypeCheckSuccess
    else
      TypeCheckResult.TypeCheckFailure(
        s"cosine_sim expects two array<float> arguments, got " +
          s"${left.dataType.simpleString} and ${right.dataType.simpleString}")

  override def dataType: DataType = DoubleType

  /** NULL for ragged (length-mismatched) pairs and zero-norm vectors —
    * a malformed embeddings corpus must surface as nulls (loud under
    * count/filter), never as a silently-truncated dot product or a
    * NaN/Infinity score. Mirrors DuckDB's list_inner_product, which
    * errors on ragged lists. */
  override def nullable: Boolean = true

  override def prettyName: String = "cosine_sim"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var dot = 0.0; var nx = 0.0; var ny = 0.0
    var i = 0
    while (i < n) {
      // a NULL element is a malformed embedding → NULL score (checked
      // explicitly: UnsafeArrayData.getFloat would silently read 0.0
      // under codegen while the interpreted path NPEs — r12 review)
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      val xi = x.getFloat(i).toDouble
      val yi = y.getFloat(i).toDouble
      dot += xi * yi; nx += xi * xi; ny += yi * yi
      i += 1
    }
    if (nx == 0.0 || ny == 0.0) null
    else dot / (math.sqrt(nx) * math.sqrt(ny))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val nx = ctx.freshName("nx")
      val ny = ctx.freshName("ny")
      val xi = ctx.freshName("xi")
      val yi = ctx.freshName("yi")
      // same guards as nullSafeEval: ragged, null-element or zero-norm
      // input → null (the isNullAt check keeps codegen and interpreted
      // paths value-identical — r12 review)
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $dot = 0.0, $nx = 0.0, $ny = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    double $xi = (double) $a.getFloat($i);
         |    double $yi = (double) $b.getFloat($i);
         |    $dot += $xi * $yi; $nx += $xi * $xi; $ny += $yi * $yi;
         |  }
         |  if (!${ev.isNull}) {
         |    if ($nx == 0.0 || $ny == 0.0) {
         |      ${ev.isNull} = true;
         |    } else {
         |      ${ev.value} = $dot / (java.lang.Math.sqrt($nx) * java.lang.Math.sqrt($ny));
         |    }
         |  }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSim =
    copy(left = newLeft, right = newRight)
}

object CosineSim {
  /** Column API: resolves through the session FunctionRegistry, so the
    * session must be built with [[GraftExtensions]] (all of this repo's
    * entry points are). */
  def cosine_sim(a: Column, b: Column): Column =
    call_function("cosine_sim", a, b)
}

/** SparkSessionExtensions entry point: registers graft's native
  * expressions for both SQL and Column use, and makes
  * [[graft.streaming.NioCheckpointFileManager]] the streaming checkpoint
  * manager of the context the session is built on. Activate with
  * .config("spark.sql.extensions", "graft.functions.GraftExtensions").
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  // wrong arity must be an analysis-time error, not a silently-ignored
  // extra argument or a raw IndexOutOfBounds (r12 review)
  private def arity(name: String, n: Int)(children: Seq[Expression]): Seq[Expression] = {
    if (children.length != n)
      throw new IllegalArgumentException(
        s"$name expects exactly $n arguments, got ${children.length}")
    children
  }

  override def apply(ext: SparkSessionExtensions): Unit = {
    // A default, not an override: Spark resolves the manager from
    // newHadoopConf(), which lays the session's SQL conf over this Hadoop
    // conf, so a class named in the session or the Hadoop conf still wins.
    // Extensions are applied while the builder's context is active.
    SparkContext.getOrCreate().hadoopConfiguration.setIfUnset(
      NioCheckpointFileManager.ClassKey, classOf[NioCheckpointFileManager].getName)
    ext.injectFunction((
      new FunctionIdentifier("cosine_sim"),
      new ExpressionInfo(classOf[CosineSim].getName, "cosine_sim"),
      (children: Seq[Expression]) => {
        val c = arity("cosine_sim", 2)(children); CosineSim(c(0), c(1)) }))
    ext.injectFunction((
      new FunctionIdentifier("dot_product"),
      new ExpressionInfo(classOf[DotProduct].getName, "dot_product"),
      (children: Seq[Expression]) => {
        val c = arity("dot_product", 2)(children); DotProduct(c(0), c(1)) }))
    ext.injectFunction((
      new FunctionIdentifier("char_trigram_tfs"),
      new ExpressionInfo(classOf[CharTrigramTfs].getName, "char_trigram_tfs"),
      (children: Seq[Expression]) => {
        val c = arity("char_trigram_tfs", 1)(children); CharTrigramTfs(c(0)) }))
    ext.injectFunction((
      new FunctionIdentifier("markov_conv_reach"),
      new ExpressionInfo(classOf[MarkovConvReach].getName, "markov_conv_reach"),
      (children: Seq[Expression]) => {
        val c = arity("markov_conv_reach", 1)(children); MarkovConvReach(c(0)) }))
    ext.injectFunction((
      new FunctionIdentifier("pq_encode"),
      new ExpressionInfo(classOf[PqEncode].getName, "pq_encode"),
      (children: Seq[Expression]) => {
        val c = arity("pq_encode", 3)(children); PqEncode(c(0), c(1), c(2)) }))
    ext.injectFunction((
      new FunctionIdentifier("holdout_hit"),
      new ExpressionInfo(classOf[HoldoutHit].getName, "holdout_hit"),
      (children: Seq[Expression]) => {
        val c = arity("holdout_hit", 3)(children); HoldoutHit(c(0), c(1), c(2)) }))
    ext.injectFunction((
      new FunctionIdentifier("zorder2"),
      new ExpressionInfo(classOf[ZOrder2].getName, "zorder2"),
      (children: Seq[Expression]) => {
        val c = arity("zorder2", 2)(children); ZOrder2(c(0), c(1)) }))
    ext.injectFunction((
      new FunctionIdentifier("interval_match"),
      new ExpressionInfo(classOf[graft.plans.IntervalMatch].getName, "interval_match"),
      (children: Seq[Expression]) => {
        val c = arity("interval_match", 3)(children)
        graft.plans.IntervalMatch(c(0), c(1), c(2)) }))
    // plans an inner join whose condition is a single interval_match as
    // graft.plans.BroadcastRangeJoinExec (binary-searched build side);
    // any other shape falls through to Spark's own planner
    ext.injectPlannerStrategy(_ => new graft.plans.RangeJoinStrategy)
    // unfolds literal/column interval_match FILTERS into native range
    // comparisons so parquet row-group pruning sees them (join
    // conditions are untouched — the strategy above needs the shape)
    ext.injectOptimizerRule(_ => graft.plans.IntervalFilterUnfold)
  }
}
