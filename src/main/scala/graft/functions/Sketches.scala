package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** 64-bit SimHash from pre-hashed words: sign of per-bit ±1 votes.
  *
  * Takes `array<long>` (each word already hashed once, e.g. by
  * `graft_portable_words`) and fuses what the higher-order-function
  * formulation does in 64 interpreted passes into one codegen'd loop.
  */
case class SimHash64(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"$prettyName requires array<long>, got $t")
  }

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_simhash64"

  override def nullSafeEval(input: Any): Any = {
    val xs = input.asInstanceOf[ArrayData]
    val n = xs.numElements()
    val votes = new Array[Int](64)
    var j = 0
    while (j < n) {
      val x = xs.getLong(j)
      var i = 0
      while (i < 64) {
        if (((x >>> i) & 1L) == 1L) votes(i) += 1 else votes(i) -= 1
        i += 1
      }
      j += 1
    }
    var out = 0L
    var i = 0
    while (i < 64) {
      if (votes(i) > 0) out |= (1L << i)
      i += 1
    }
    out
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, xs => {
      val votes = ctx.freshName("votes")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val x = ctx.freshName("x")
      val n = ctx.freshName("n")
      val out = ctx.freshName("out")
      s"""
         |// graft_simhash64 fused loop
         |int $n = $xs.numElements();
         |int[] $votes = new int[64];
         |for (int $j = 0; $j < $n; $j++) {
         |  long $x = $xs.getLong($j);
         |  for (int $i = 0; $i < 64; $i++) {
         |    if ((($x >>> $i) & 1L) == 1L) $votes[$i]++; else $votes[$i]--;
         |  }
         |}
         |long $out = 0L;
         |for (int $i = 0; $i < 64; $i++) {
         |  if ($votes[$i] > 0) $out |= (1L << $i);
         |}
         |${ev.value} = $out;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
}

/** Symmetric int8 quantization of a float vector (the e22 tier):
  * `q_i = trunc(x_i · 127 / max|x|)`, emitted as integral floats; an
  * all-zero (or empty) vector quantizes to zeros.
  *
  * Why native: the `transform`-based formulation is a higher-order
  * function, which kicks its whole projection out of whole-stage
  * codegen AND re-runs per consumer — the IVF composition (e34) scans
  * the quantized corpus three times (seed draw, assignment, probing),
  * paying the interpreted transform each pass. This is one fused
  * codegen'd loop: max-abs pass + quantize pass, no boxing.
  *
  * Bit parity with the HOF path: max over |x| as double (order-free),
  * `(x · 127.0 / ma)` in double, cast-to-int truncation toward zero,
  * widen to float — the exact sequence
  * `(xd(x) * 127.0 / ma).cast(IntegerType).cast(FloatType)` performs. */
object QuantizeI8 {
  /** Null-element semantics mirror the HOF formulation bit-for-bit
    * (parity is spec-pinned in DedupSimilaritySpec E3, now over
    * null-bearing vectors too — the embeddings parquet declares
    * nullable list elements, so `containsNull=true` is the real input
    * shape): `array_max` skips nulls when computing the scale; an
    * all-null (or empty) vector has a NULL scale, so every element maps
    * to null; a zero-scale vector hits the HOF's `when(ma === 0)`
    * constant branch, which rewrites EVERY element (nulls included) to
    * 0f; otherwise null elements stay null and the rest quantize. */
  def compute(vec: ArrayData): GenericArrayData = {
    val n = vec.numElements()
    var ma = 0.0
    var seen = false
    var i = 0
    while (i < n) {
      if (!vec.isNullAt(i)) {
        seen = true
        val a = math.abs(vec.getFloat(i).toDouble)
        if (a > ma) ma = a
      }
      i += 1
    }
    val out = new Array[Any](n)
    i = 0
    if (!seen) {
      while (i < n) { out(i) = null; i += 1 }
    } else if (ma == 0.0) {
      while (i < n) { out(i) = 0f; i += 1 }
    } else {
      while (i < n) {
        out(i) =
          if (vec.isNullAt(i)) null
          else (vec.getFloat(i).toDouble * 127.0 / ma).toInt.toFloat
        i += 1
      }
    }
    new GenericArrayData(out)
  }
}

case class QuantizeI8(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(org.apache.spark.sql.types.FloatType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"$prettyName requires array<float>, got $t")
  }

  override def dataType: DataType = child.dataType match {
    // element nullability follows the input: a null element quantizes to
    // null (HOF parity); a containsNull=false input yields none
    case ArrayType(_, n) =>
      ArrayType(org.apache.spark.sql.types.FloatType, containsNull = n)
    case _ => ArrayType(org.apache.spark.sql.types.FloatType, containsNull = false)
  }
  override def prettyName: String = "graft_quantize_i8"

  override def nullSafeEval(input: Any): Any =
    QuantizeI8.compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v =>
      s"${ev.value} = graft.functions.QuantizeI8.compute($v); // graft_quantize_i8")

  override protected def withNewChildInternal(newChild: Expression): QuantizeI8 =
    copy(child = newChild)
}
