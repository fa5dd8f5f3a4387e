package graft.expressions

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Native codegen cosine similarity over two `ARRAY<DOUBLE>` columns.
  *
  * Preference order per the build charter: built-ins first — but the
  * built-in composition (`aggregate(zip_with(a, b, _*_), 0d, _+_)` plus two
  * norm folds) allocates three intermediate arrays and three lambda frames
  * per row on the ANN hot path. This expression fuses dot product and both
  * norms into ONE loop inside whole-stage codegen — same arithmetic, same
  * left-to-right accumulation order (bit-identical results to the fold
  * composition, which the DuckDB oracle parity relies on), no allocations.
  *
  * SQL name: `cosine_sim(a, b)`; NULL when either input is NULL or either
  * norm is zero.
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(t: DataType) = t match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"cosine_sim expects (ARRAY<DOUBLE>, ARRAY<DOUBLE>), " +
        s"got (${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true // zero-norm inputs yield NULL
  override def prettyName: String = "cosine_sim"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0; var nx = 0.0; var ny = 0.0
    var i = 0
    while (i < n) {
      val xi = x.getDouble(i); val yi = y.getDouble(i)
      dot += xi * yi; nx += xi * xi; ny += yi * yi
      i += 1
    }
    if (nx == 0.0 || ny == 0.0) null
    else dot / (math.sqrt(nx) * math.sqrt(ny))
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      // fresh names: this inlines into surrounding codegen that may
      // already bind n/i (e.g. a transform() cast lambda on the column)
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      val nx = ctx.freshName("nx")
      val ny = ctx.freshName("ny")
      val xi = ctx.freshName("xi")
      val yi = ctx.freshName("yi")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0, $nx = 0.0, $ny = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $xi = $a.getDouble($i);
         |  double $yi = $b.getDouble($i);
         |  $dot += $xi * $yi; $nx += $xi * $xi; $ny += $yi * $yi;
         |}
         |if ($nx == 0.0 || $ny == 0.0) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = $dot / (java.lang.Math.sqrt($nx) * java.lang.Math.sqrt($ny));
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): Expression = copy(left = newLeft, right = newRight)
}
