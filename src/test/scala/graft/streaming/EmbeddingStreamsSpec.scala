package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger

import graft.{SparkSpec, Tables}
import graft.operators.{Embeddings, Similarity}

class EmbeddingStreamsSpec extends SparkSpec {

  test("streaming IVF growth: batches append under the frozen codebook; " +
      "the grown layout equals a rebuild over the full corpus") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val emb = Tables(spark, sfDir, "embeddings").cache()
    val base = emb.where($"vec_id" % 3 === 0)   // seed corpus
    val arriving = emb.where($"vec_id" % 3 =!= 0)
    val tmp = Files.createTempDirectory("ivf-stream").toString
    val grown = s"$tmp/grown"; val rebuilt = s"$tmp/rebuilt"
    Similarity.writeIvf(base, "vec_id", "embedding", grown,
      Embeddings.exactCentroids(base, "vec_id", "embedding",
        dim = 64, k = 16, iters = 2))

    // two separate micro-batches prove per-batch (not one-shot) growth
    val rows = arriving.as[(Long, Array[Float], Int)].collect()
    val (b0, b1) = rows.splitAt(rows.length / 2)
    val stream = MemoryStream[(Long, Array[Float], Int)]
    val q = EmbeddingStreams.ivfAppendIngest(
      stream.toDF().toDF("vec_id", "embedding", "label"),
      grown, s"$tmp/cp", "vec_id", "embedding",
      trigger = Trigger.ProcessingTime(0))
    try {
      stream.addData(b0.toIndexedSeq)
      q.processAllAvailable()
      stream.addData(b1.toIndexedSeq)
      q.processAllAvailable()
    } finally q.stop()

    // every arriving vector landed exactly once
    val grownRows = spark.read.parquet(s"$grown/data")
    assert(grownRows.count() === emb.count())
    assert(grownRows.select("vec_id").distinct().count()
      === grownRows.count()) // at-least-once did not double-append here
    // streamed-grown layout answers exactly like a full rebuild under
    // the same frozen codebook — growth is invisible to queries
    val codebook = Similarity.readIvfCodebook(spark, grown)
    Similarity.writeIvf(emb, "vec_id", "embedding", rebuilt, codebook)
    val queries = emb.where($"vec_id" < 30)
    def top(p: String) = Similarity
      .knnIvfPartitioned(spark, p, queries, "vec_id", "embedding", 5,
        nprobe = 4)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(top(grown) === top(rebuilt))
  }
}
