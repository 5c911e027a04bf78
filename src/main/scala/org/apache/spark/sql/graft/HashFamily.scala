package org.apache.spark.sql.graft

/** The hash a dedup kernel ([[ShingleHashes]], [[MinHashSignature]],
  * [[SimHash64]]) runs on, fixed when the plan is built; `suffix` marks
  * the kernel's `prettyName`. `Xxh64` is Spark's XXH64 with seed 42
  * (replayed in DuckDB by `graft.XxhSql`); `Md5` takes prefixes of the md5
  * digest, which any engine computes identically on the same UTF-8 bytes.
  */
sealed abstract class HashFamily(val suffix: String)

object HashFamily {
  case object Xxh64 extends HashFamily("")

  case object Md5 extends HashFamily("_md5") {
    /** The first 8 bytes of an md5 digest, big-endian: its 16 leading hex
      * chars as one number. */
    def prefix64(digest: Array[Byte]): Long =
      java.nio.ByteBuffer.wrap(digest).getLong
  }
}
