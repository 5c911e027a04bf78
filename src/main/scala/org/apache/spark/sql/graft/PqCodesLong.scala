package org.apache.spark.sql.graft

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType}

/** Integer PQ encoder for the TRAINED-exact tier (r17): all `m` subspace
  * codes of a milli-quantized long vector in one codegen-called loop —
  * `codes[j] = argmin_c ‖q_j − book_{j,c}‖²` in exact integer arithmetic,
  * ties to the SMALLEST code (strict `<` keeps the first index — the same
  * rule as the exact k-means' least-struct argmin and the oracle's
  * `ORDER BY dist, j`). The Column form (per-subspace `least` over ksub
  * structs) fell out of whole-stage codegen at m=16 and ran interpreted —
  * measured as the dominant cost of the exact PQ scan; this is a flat
  * long-array walk with zero per-candidate allocation. No normalization:
  * the books were trained on the raw quantized space (L2 metric).
  */
case class PqCodesLong(child: Expression, books: Array[Long],
                       m: Int, ksub: Int, dsub: Int)
    extends UnaryExpression {

  require(m > 0 && ksub > 0 && dsub > 0, "m, ksub, dsub must be positive")
  require(books.length == m * ksub * dsub,
    s"books length ${books.length} != m*ksub*dsub = ${m * ksub * dsub}")

  override def dataType: DataType =
    ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "pq_codes_long"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(org.apache.spark.sql.types.LongType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"pq_codes_long needs array<bigint>, got ${other.catalogString}")
  }

  override def nullSafeEval(input: Any): Any =
    PqCodesLong.compute(input.asInstanceOf[ArrayData], books, m, ksub, dsub)

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    val cls = PqCodesLong.getClass.getName.stripSuffix("$") + "$.MODULE$"
    val b = ctx.addReferenceObj("pqBooksLong", books, "long[]")
    defineCodeGen(ctx, ev, a => s"$cls.compute($a, $b, $m, $ksub, $dsub)")
  }

  override protected def withNewChildInternal(
      newChild: Expression): PqCodesLong = copy(child = newChild)
}

object PqCodesLong {

  /** Shared by interpreted eval and generated code. Elements past the
    * vector's length read as 0 (cannot happen for engine callers — the
    * quantizer preserves length). */
  def compute(vec: ArrayData, books: Array[Long],
              m: Int, ksub: Int, dsub: Int): ArrayData = {
    val dims = m * dsub
    val x = new Array[Long](dims)
    val n = math.min(vec.numElements(), dims)
    var i = 0
    while (i < n) { x(i) = vec.getLong(i); i += 1 }
    val out = new Array[Int](m)
    var j = 0
    while (j < m) {
      val base = j * dsub
      var best = 0
      var bd = Long.MaxValue
      var c = 0
      while (c < ksub) {
        var off = (j * ksub + c) * dsub
        var s = 0L
        var d = 0
        while (d < dsub) {
          val diff = x(base + d) - books(off)
          s += diff * diff
          d += 1; off += 1
        }
        if (s < bd) { bd = s; best = c }
        c += 1
      }
      out(j) = best
      j += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }
}
