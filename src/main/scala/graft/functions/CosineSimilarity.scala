package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native Catalyst expression: cosine similarity of two ARRAY<FLOAT>
  * columns, with full whole-stage codegen (`doGenCode`).
  *
  * Why a custom Expression (SURVEY.md §4.3's escalation path): it compiles
  * to one primitive loop in the generated code and allocates nothing per
  * row, where the composable form — `aggregate(zip_with(a, b, _*_), ...)`
  * — materializes an intermediate 64-element array per row and carries
  * three lambda evaluations. Measured honestly: at this
  * benchmark's scale the join dominates and the two are comparable; the
  * native form is kept as the default for the zero-allocation property
  * and as the engine's reference implementation of a codegen'd Expression.
  *
  * Arithmetic association is IDENTICAL to the composable form and the
  * DuckDB oracle: sequential dot and squared-norm folds in index order,
  * then dot / (sqrt(na) * sqrt(nb)) — results are bit-equal, so it swaps
  * in under queries whose oracle was validated against the old form
  * (asserted in FunctionsSpec).
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(t: DataType): Boolean = t match {
      case ArrayType(FloatType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two ARRAY<FLOAT> arguments, got " +
        s"${left.dataType.sql} and ${right.dataType.sql}")
  }

  override def dataType: DataType = DoubleType

  // null is produced for zero-norm inputs even when both children are
  // non-nullable — without this the planner could elide the null check
  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    // strict null propagation, matching cosineHof exactly: zip_with over
    // unequal lengths pads with null and a null element nulls the whole
    // aggregate — reading such elements as 0.0 here would make the two
    // "bit-equal" implementations diverge precisely on dirty inputs
    if (x.numElements() != y.numElements()) return null
    val n = x.numElements()
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      val xi = x.getFloat(i).toDouble
      val yi = y.getFloat(i).toDouble
      dot += xi * yi
      na += xi * xi
      nb += yi * yi
      i += 1
    }
    // zero-norm / empty input → null, never NaN: Spark orders NaN above
    // all doubles, so a NaN here would rank a zero vector FIRST in every
    // top-k. Mirrored in doGenCode, cosineHof, and the DuckDB oracle SQL.
    if (na * nb == 0.0) null
    else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val xi = ctx.freshName("xi")
      val yi = ctx.freshName("yi")
      s"""
         |if ($x.numElements() != $y.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  int $n = $x.numElements();
         |  double $dot = 0.0, $na = 0.0, $nb = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($x.isNullAt($i) || $y.isNullAt($i)) {
         |      ${ev.isNull} = true; break;
         |    }
         |    double $xi = (double) $x.getFloat($i);
         |    double $yi = (double) $y.getFloat($i);
         |    $dot += $xi * $yi; $na += $xi * $xi; $nb += $yi * $yi;
         |  }
         |  if (!${ev.isNull}) {
         |    if ($na * $nb == 0.0) {
         |      ${ev.isNull} = true;
         |    } else {
         |      ${ev.value} = $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
         |    }
         |  }
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): CosineSimilarity =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "cosine_similarity"
}

object CosineSimilarity {
  /** Column-API entry point. */
  def apply(a: Column, b: Column): Column =
    Bridge.column(CosineSimilarity(
      Bridge.expression(a), Bridge.expression(b)))
}
