package org.apache.spark.sql.graft

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** MinHash signature of a hashed-shingle set as ONE codegen'd expression:
  * position i of the output is the minimum over shingles of hash_i.
  *
  * At corpus scale the signature pass dominates MinHash-LSH dedup — it is
  * numHashes × |shingles| hash evaluations per document. The higher-order
  * function formulation (`aggregate`/`zip_with`/`transform`) runs
  * interpreted and allocates a numHashes-element array per shingle; this
  * expression is a tight primitive long loop inside whole-stage codegen:
  * no boxing, no per-shingle allocation, shingle-major for cache locality
  * (measured ~10x on the sf0.1 bench — see Dedup.minhashLshPairs).
  *
  * Per [[HashFamily]]:
  *   - `Xxh64`: hash_i(x) = `xxhash64(x, salt_i)`, salts derived like
  *     Spark's seeded `xxhash64`. An empty set gives all `Long.MaxValue`.
  *   - `Md5`: over `Md5`-family [[ShingleHashes]], hash_i(x) =
  *     `(a_i·(x >>> 36) + b_i) mod (2^31 − 1)`: `x >>> 36` is the shingle's
  *     28-bit md5 prefix (`conv(substring(md5(s),1,7),16,10)`), and every
  *     product stays below 2^59, exact in int64 on any engine. An empty
  *     set gives NULL.
  */
case class MinHashSignature(child: Expression, numHashes: Int,
                            family: HashFamily = HashFamily.Xxh64)
    extends UnaryExpression {

  require(numHashes > 0, "numHashes must be positive")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = family == HashFamily.Md5 || child.nullable
  override def prettyName: String = "minhash_signature" + family.suffix
  override protected def stringArgs: Iterator[Any] = Iterator(child, numHashes)
  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName needs array<bigint>, got ${other.catalogString}")
    }

  /** Per-position salts, matching `xxhash64(lit(i), x)` fold order
    * (int seed hashed first with Spark's default seed 42). */
  @transient private lazy val salts: Array[Long] =
    Array.tabulate(numHashes)(i => XXH64.hashInt(i, 42L))

  @transient private lazy val (as, bs) =
    MinHashSignature.md5Consts(numHashes).toArray.unzip

  private def hash(v: Long, i: Int): Long = family match {
    case HashFamily.Xxh64 => XXH64.hashLong(v, salts(i))
    case HashFamily.Md5 => ((v >>> 36) * as(i) + bs(i)) % MinHashSignature.P
  }

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    if (n == 0 && family == HashFamily.Md5) return null
    val out = Array.fill(numHashes)(Long.MaxValue)
    var j = 0
    while (j < n) {
      val v = arr.getLong(j)
      var i = 0
      while (i < numHashes) {
        val h = hash(v, i)
        if (h < out(i)) out(i) = h
        i += 1
      }
      j += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val hashOf: (String, String) => String = family match {
      case HashFamily.Xxh64 =>
        val saltsRef = ctx.addReferenceObj("salts", salts, "long[]")
        val xxh = classOf[XXH64].getName
        (v, i) => s"$xxh.hashLong($v, $saltsRef[$i])"
      case HashFamily.Md5 =>
        val asRef = ctx.addReferenceObj("as", as, "long[]")
        val bsRef = ctx.addReferenceObj("bs", bs, "long[]")
        (v, i) => s"(($v >>> 36) * $asRef[$i] + $bsRef[$i]) % ${MinHashSignature.P}L"
    }
    val unsafeArr = classOf[UnsafeArrayData].getName
    nullSafeCodeGen(ctx, ev, a => {
      val out = ctx.freshName("out")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val v = ctx.freshName("v")
      val h = ctx.freshName("h")
      val n = ctx.freshName("n")
      val emptyIsNull =
        if (family == HashFamily.Md5) s"${ev.isNull} = $n == 0;" else ""
      s"""
         |long[] $out = new long[$numHashes];
         |java.util.Arrays.fill($out, Long.MAX_VALUE);
         |int $n = $a.numElements();
         |for (int $j = 0; $j < $n; $j++) {
         |  long $v = $a.getLong($j);
         |  for (int $i = 0; $i < $numHashes; $i++) {
         |    long $h = ${hashOf(v, i)};
         |    if ($h < $out[$i]) $out[$i] = $h;
         |  }
         |}
         |${ev.value} = $unsafeArr.fromPrimitiveArray($out);$emptyIsNull
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): MinHashSignature =
    copy(child = newChild)
}

object MinHashSignature {
  private[graft] final val P = 2147483647L // 2^31 − 1

  /** (a_i, b_i) of the `Md5` family's h_i(x) = (a_i·x + b_i) mod p: the
    * one generator behind this kernel and the SQL oracles' literals
    * (`SparkEntryOracles`), so the two cannot drift. a_i is forced
    * nonzero. */
  def md5Consts(n: Int): Seq[(Long, Long)] =
    (0 until n).map { i =>
      val a = ((2L * i + 1L) * 2654435761L) % P
      val b = (i.toLong * 40503L * 65537L + 17L) % P
      (if (a == 0L) 1L else a, b)
    }
}
