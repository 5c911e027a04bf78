package org.apache.spark.sql.graft

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, LongType}

/** PCA projection of a float vector onto `r` principal components in ONE
  * codegen-called loop: `out_j = round(1e6 · Σ_i V[j,i] · (⌊x_i·s⌋/s −
  * mean_i))`, emitted as integer millionths.
  *
  * The literal-fold formulation (one Column expression per component,
  * d terms each) generates r·d inline add-chains — at 64d → 8
  * components that is ~512 terms inside the Generate consume method,
  * which overflows janino's method budget and silently drops the whole
  * stage out of codegen. This expression is the repo's standard fix
  * (see [[PqCodesLong]]): the r×d loading matrix ships as a referenced
  * object (kilobytes, driver-bounded like the Similarity codebooks) and
  * the generated code is a flat two-level loop that stays inside
  * whole-stage codegen no matter the dimensionality.
  *
  * Components quantize to `floor(x·scale)/scale` BEFORE projecting — the
  * corpus the [[VectorGramAgg]] moments were computed on — and each
  * output accumulates in fixed index order in DOUBLE, so results are
  * deterministic and the variance-capture law holds exactly
  * (EmbeddingsSpec). `loadings` is the flattened r × dim matrix. */
case class PcaProjectExpr(child: Expression, means: Array[Double],
                          loadings: Array[Double], r: Int, dim: Int,
                          scale: Int) extends UnaryExpression {

  require(r > 0 && dim > 0 && scale > 0, "r, dim, scale must be positive")
  require(means.length == dim, s"means length ${means.length} != $dim")
  require(loadings.length == r * dim,
    s"loadings length ${loadings.length} != r*dim = ${r * dim}")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "pca_project"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"pca_project needs array<float|double>, got ${other.catalogString}")
  }

  // def, not val: dataType on an unresolved child throws during analysis
  // tree transforms (copy() runs before resolution)
  private def isFloat = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def nullSafeEval(input: Any): Any =
    PcaProjectExpr.compute(input.asInstanceOf[ArrayData], means, loadings,
      r, dim, scale, isFloat)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cls = PcaProjectExpr.getClass.getName.stripSuffix("$") + "$.MODULE$"
    val m = ctx.addReferenceObj("pcaMeans", means, "double[]")
    val l = ctx.addReferenceObj("pcaLoadings", loadings, "double[]")
    defineCodeGen(ctx, ev,
      a => s"$cls.compute($a, $m, $l, $r, $dim, $scale, $isFloat)")
  }

  override protected def withNewChildInternal(newChild: Expression)
    : PcaProjectExpr = copy(child = newChild)
}

object PcaProjectExpr {

  /** Shared by interpreted eval and generated code. */
  def compute(vec: ArrayData, means: Array[Double], loadings: Array[Double],
              r: Int, dim: Int, scale: Int, isFloat: Boolean): ArrayData = {
    val x = new Array[Double](dim)
    val n = math.min(vec.numElements(), dim)
    var i = 0
    while (i < n) {
      val v = if (isFloat) vec.getFloat(i).toDouble else vec.getDouble(i)
      x(i) = math.floor(v * scale) / scale - means(i)
      i += 1
    }
    while (i < dim) { x(i) = -means(i); i += 1 }
    val out = new Array[Long](r)
    var j = 0
    while (j < r) {
      var s = 0.0
      var off = j * dim
      i = 0
      while (i < dim) {
        s += loadings(off) * x(i)
        i += 1; off += 1
      }
      out(j) = math.rint(s * 1e6).toLong
      j += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }
}
