package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{AbstractDataType, ArrayType, DataType, DoubleType, FloatType}

/** Fused cosine similarity over two `array<float>` columns — a native
  * Catalyst expression with whole-stage codegen.
  *
  * The composable form (`aggregate(zip_with(a, b, _*_), 0d, _+_)` three
  * times over) materializes intermediate arrays per row and per norm; at
  * 100 TB of embeddings that's the hot path, so this is the case where a
  * custom `Expression` is justified (SURVEY §2.9 — everything else in the
  * engine stays on built-ins). One pass, no allocation, accumulating in
  * double in index order — bit-identical to the sequential-fold formula
  * the DuckDB oracle mirrors.
  *
  * Returns null for null or length-mismatched inputs.
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  override val nullIntolerant: Boolean = true

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    })
    if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"cosine_similarity expects (array<float>, array<float>), got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = a.numElements()
    if (n != b.numElements()) null
    else {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < n) {
        val x = a.getFloat(i).toDouble
        val y = b.getFloat(i).toDouble
        dot += x * y; na += x * x; nb += y * y
        i += 1
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      s"""
         |final int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    final double $x = (double) $a.getFloat($i);
         |    final double $y = (double) $b.getFloat($i);
         |    $dot += $x * $y; $na += $x * $x; $nb += $y * $y;
         |  }
         |  ${ev.value} = $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimilarity =
    copy(left = newLeft, right = newRight)
}

object GraftFunctions {

  private val cosineInfo = new ExpressionInfo(
    classOf[CosineSimilarity].getName, "cosine_similarity")

  /** Register the `cosine_similarity` SQL name into an existing session
    * (queries call the expression directly; only SQL text needs this). */
  def register(spark: SparkSession): Unit =
    spark.sessionState.functionRegistry.registerFunction(
      FunctionIdentifier("cosine_similarity"),
      cosineInfo,
      (children: Seq[Expression]) => CosineSimilarity(children(0), children(1)))
}
