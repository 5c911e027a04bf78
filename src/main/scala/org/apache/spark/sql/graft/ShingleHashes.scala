package org.apache.spark.sql.graft

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}

/** Distinct k-gram (shingle) hashes of a token array, as one codegen-called
  * primitive loop: per-token content hashes are computed once, each k-gram
  * hash is a k-fold chain over them, and dedup happens in a per-row hash
  * set. The higher-order-function formulation (`transform` + `slice` +
  * structural `xxhash64` + `array_distinct`) allocates a slice array per
  * shingle and runs interpreted — this stage starts every dedup operator,
  * so it pays to be a single tight loop.
  *
  * Output order follows first occurrence; all consumers treat the result
  * as a set.
  *
  * Per [[HashFamily]]: `Xxh64` chains XXH64 over the token hashes; `Md5`
  * is the md5 of the space-joined shingle (the [[Shingles]] string) as a
  * 64-bit long, i.e. its 16-hex-char md5 prefix read as a number.
  */
case class ShingleHashes(child: Expression, k: Int,
                         family: HashFamily = HashFamily.Xxh64)
    extends UnaryExpression {

  require(k > 0, "k must be positive")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "shingle_hashes" + family.suffix
  override protected def stringArgs: Iterator[Any] = Iterator(child, k)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"shingle_hashes needs array<string>, got ${other.catalogString}")
  }

  override def nullSafeEval(input: Any): Any = family match {
    case HashFamily.Xxh64 => ShingleHashes.compute(input.asInstanceOf[ArrayData], k)
    case HashFamily.Md5 => ShingleHashes.computeMd5(input.asInstanceOf[ArrayData], k)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cls = ShingleHashes.getClass.getName.stripSuffix("$") + "$.MODULE$"
    val fn = if (family == HashFamily.Md5) "computeMd5" else "compute"
    defineCodeGen(ctx, ev, a => s"$cls.$fn($a, $k)")
  }

  override protected def withNewChildInternal(newChild: Expression): ShingleHashes =
    copy(child = newChild)
}

object ShingleHashes {
  private final val Seed = 42L

  /** Shared by interpreted eval and generated code. */
  def compute(toks: ArrayData, k: Int): ArrayData = {
    val n = toks.numElements()
    if (n < k) return UnsafeArrayData.fromPrimitiveArray(Array.emptyLongArray)
    val tokenHash = new Array[Long](n)
    var i = 0
    while (i < n) {
      val s = toks.getUTF8String(i)
      tokenHash(i) =
        if (s == null) 0L
        else XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes(), Seed)
      i += 1
    }
    val m = n - k + 1
    val out = new Array[Long](m)
    val seen = new java.util.HashSet[java.lang.Long](m * 2)
    var w = 0
    i = 0
    while (i < m) {
      var g = Seed
      var j = i
      while (j < i + k) { g = XXH64.hashLong(tokenHash(j), g); j += 1 }
      if (seen.add(g)) { out(w) = g; w += 1 }
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(java.util.Arrays.copyOf(out, w))
  }

  /** The `Md5` family: md5 of each shingle's UTF-8 bytes, fed token by
    * token with single spaces between, so no shingle string is built. */
  def computeMd5(toks: ArrayData, k: Int): ArrayData = {
    val n = toks.numElements()
    if (n < k) return UnsafeArrayData.fromPrimitiveArray(Array.emptyLongArray)
    val bytes = Array.tabulate(n) { i =>
      val s = toks.getUTF8String(i)
      if (s == null) Array.emptyByteArray else s.getBytes
    }
    val md = java.security.MessageDigest.getInstance("MD5")
    val m = n - k + 1
    val out = new Array[Long](m)
    val seen = new java.util.HashSet[java.lang.Long](m * 2)
    var w = 0
    var i = 0
    while (i < m) {
      md.update(bytes(i))
      var j = i + 1
      while (j < i + k) { md.update(' '.toByte); md.update(bytes(j)); j += 1 }
      val g = HashFamily.Md5.prefix64(md.digest())
      if (seen.add(g)) { out(w) = g; w += 1 }
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(java.util.Arrays.copyOf(out, w))
  }
}
