package org.apache.spark.sql.graft

import java.security.MessageDigest

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}

/** 64-bit SimHash of a token array as one codegen-called primitive loop:
  * per token, a 64-bit content hash votes +1/-1 on each bit position;
  * the fingerprint packs the vote signs. The higher-order-function
  * formulation built a 64-int vote array PER TOKEN and folded them with
  * zip_with — interpreted, allocation-heavy, and the slowest remaining
  * stage of the dedup bench. Repeated tokens vote repeatedly (multiset
  * semantics, same as the reference HOF formulation).
  *
  * Per [[HashFamily]]: `Xxh64` votes the 64 bits of each token's XXH64.
  * `Md5` votes the 60 bits of each token's 15-hex-char md5 prefix
  * (`conv(substring(md5(t),1,15),16,10)`), skips empty tokens, and gives
  * NULL when no token voted. Ties (vote sum 0) resolve to bit 0. */
case class SimHash64(child: Expression, family: HashFamily = HashFamily.Xxh64)
    extends UnaryExpression {

  override def dataType: DataType = LongType
  override def nullable: Boolean = family == HashFamily.Md5 || child.nullable
  override def prettyName: String = "simhash64" + family.suffix
  override protected def stringArgs: Iterator[Any] = Iterator(child)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"simhash64 needs array<string>, got ${other.catalogString}")
  }

  override def nullSafeEval(input: Any): Any = family match {
    case HashFamily.Xxh64 => SimHash64.compute(input.asInstanceOf[ArrayData])
    case HashFamily.Md5 =>
      val h = SimHash64.computeMd5(input.asInstanceOf[ArrayData])
      if (h < 0) null else h
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cls = SimHash64.getClass.getName.stripSuffix("$") + "$.MODULE$"
    if (family == HashFamily.Md5) nullSafeCodeGen(ctx, ev, a => s"""
      |${ev.value} = $cls.computeMd5($a);
      |${ev.isNull} = ${ev.value} < 0L;
      |""".stripMargin)
    else defineCodeGen(ctx, ev, a => s"$cls.compute($a)")
  }

  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
}

object SimHash64 {
  /** Shared by interpreted eval and generated code. */
  def compute(toks: ArrayData): Long = {
    val votes = new Array[Int](64)
    val n = toks.numElements()
    var j = 0
    while (j < n) {
      val s = toks.getUTF8String(j)
      if (s != null) {
        val h = XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset,
          s.numBytes(), 42L)
        var i = 0
        while (i < 64) {
          if (((h >>> i) & 1L) == 1L) votes(i) += 1 else votes(i) -= 1
          i += 1
        }
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

  /** The `Md5` family; −1 (never a 60-bit fingerprint) when no token
    * voted. */
  def computeMd5(toks: ArrayData): Long = {
    val md = MessageDigest.getInstance("MD5")
    val votes = new Array[Int](60)
    var voted = false
    var j = 0
    while (j < toks.numElements()) {
      val s = toks.getUTF8String(j)
      if (s != null && s.numBytes() > 0) {
        voted = true
        val h = HashFamily.Md5.prefix64(md.digest(s.getBytes)) >>> 4
        var i = 0
        while (i < 60) {
          if (((h >>> i) & 1L) == 1L) votes(i) += 1 else votes(i) -= 1
          i += 1
        }
      }
      j += 1
    }
    if (!voted) return -1L
    var out = 0L
    var i = 0
    while (i < 60) {
      if (votes(i) > 0) out |= (1L << i)
      i += 1
    }
    out
  }
}
