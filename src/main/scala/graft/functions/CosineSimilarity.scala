package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native Catalyst expression: cosine similarity of two float vectors,
  * `graft_cosine(a, b)`.
  *
  * Why a custom Expression when `zip_with`+`aggregate` can express the
  * same math ([[graft.llm.Dedup.dotExpr]]): the built-in route
  * traverses the arrays once per accumulator (dot, ‖a‖², ‖b‖²) and
  * allocates an intermediate array per pair; this fuses all three into
  * one loop with zero allocation, inside whole-stage codegen — the
  * per-pair inner kernel of similarity search, the hottest loop at
  * 100 TB. It follows the task's extension ladder: built-ins first,
  * then a codegen'd `Expression` (this), and only then UDFs.
  *
  * Numeric contract: accumulation is a sequential left fold in element
  * order — identical IEEE-754 sequence to the interpreted fold and the
  * DuckDB oracle's explicit term chain, so results are bit-identical
  * across all three paths (verified: llm_sim_search_native shares
  * llm_sim_search's oracle).
  *
  * Registered as a SQL function via [[graft.plans.GraftExtensions]]
  * (`spark.sql.extensions`, set by [[graft.core.Session]]).
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(FloatType, _), ArrayType(FloatType, _)) =>
      TypeCheckResult.TypeCheckSuccess
    case (l, r) =>
      TypeCheckResult.TypeCheckFailure(
        s"graft_cosine expects (array<float>, array<float>), got ($l, $r)")
  }

  override def nullSafeEval(a: Any, b: Any): Any =
    CosineSimilarity.of(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      val sa = ctx.freshName("sa")
      val sb = ctx.freshName("sb")
      val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0;
         |double $sa = 0.0;
         |double $sb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $x = (double) $a.getFloat($i);
         |  double $y = (double) $b.getFloat($i);
         |  $dot += $x * $y;
         |  $sa += $x * $x;
         |  $sb += $y * $y;
         |}
         |${ev.value} = $dot / (java.lang.Math.sqrt($sa) * java.lang.Math.sqrt($sb));
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimilarity =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "graft_cosine"
}

object CosineSimilarity {

  /** The kernel's interpreted arithmetic on two non-null float arrays:
    * what `nullSafeEval` returns and what the generated loop computes.
    * A driver-side caller ([[graft.llm.Dedup.dedupEmbedOn]]'s held path)
    * calls it to score exactly as the expression does. */
  def of(x: ArrayData, y: ArrayData): Double = {
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0
    var sa = 0.0
    var sb = 0.0
    var i = 0
    while (i < n) {
      val xi = x.getFloat(i).toDouble
      val yi = y.getFloat(i).toDouble
      dot += xi * yi
      sa += xi * xi
      sb += yi * yi
      i += 1
    }
    dot / (math.sqrt(sa) * math.sqrt(sb))
  }
}
