package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, FloatType, LongType}

/** Micro-unit quantization of a float vector —
  * `transform(v, x -> cast(round(cast(x as double) * 1e6) as long))`
  * as one codegen-friendly kernel (the HOF form is CodegenFallback:
  * per-element interpreted lambda dispatch on the Lloyd trainer's
  * every scan).
  *
  * Bit-compat: element-wise `BigDecimal.valueOf(x * 1e6).setScale(0,
  * HALF_UP)` — exactly Spark's `Round` on a double (Scala
  * `BigDecimal(d)` delegates to the decimal text representation, i.e.
  * `java.math.BigDecimal.valueOf`), then the double→long cast's
  * truncation. Null elements stay null; a null array stays null.
  * KMeansSpec pins this against the literal BigDecimal formula.
  *
  * Non-finite elements: Spark's Round passes NaN/±Inf through and the
  * kernel then applies the JVM double→long conversion (NaN → 0,
  * +Inf → Long.MaxValue, −Inf → Long.MinValue). The ANSI HOF form instead throws CAST_OVERFLOW
  * there — a deliberate divergence: on the Lloyd hot path over
  * arbitrary embeddings a poisoned element must not crash the job
  * (ADVICE r13). `BigDecimal.valueOf` would throw
  * NumberFormatException on non-finite input, hence the guard.
  */
case class QuantizeMicro(child: Expression) extends UnaryExpression {
  override def prettyName: String = "quantize_micro"
  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def nullable: Boolean = child.nullable
  override val nullIntolerant: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects array<float>, got ${other.simpleString}")
  }

  override def nullSafeEval(input: Any): Any =
    QuantizeMicro.quant(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.QuantizeMicro.quant($a);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object QuantizeMicro {
  /** Static kernel shared by eval and codegen. */
  def quant(a: ArrayData): ArrayData = {
    val n = a.numElements()
    val out = new Array[Any](n)
    var i = 0
    while (i < n) {
      if (!a.isNullAt(i)) {
        val d = a.getFloat(i).toDouble * 1e6
        // Spark's Round guards NaN/Inf before BigDecimal.valueOf (which
        // throws NumberFormatException on them); the double→long cast
        // then yields 0 / Long.MaxValue / Long.MinValue for NaN / +Inf /
        // −Inf — mirror that exactly.
        out(i) =
          if (d.isNaN || d.isInfinite) d.toLong
          else java.math.BigDecimal.valueOf(d)
            .setScale(0, java.math.RoundingMode.HALF_UP)
            .doubleValue().toLong
      }
      i += 1
    }
    new GenericArrayData(out)
  }
}
