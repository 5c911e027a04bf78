package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.operators.Similarity

/** Streaming growth of the at-rest ANN index — the missing half of
  * [[DocumentStreams]]' corpus story: documents dedup-on-arrival there,
  * their embeddings index-on-arrival here. Each micro-batch assigns
  * cells under the layout's persisted integer codebook and appends into
  * the cell-partitioned directory ([[Similarity.appendToIvf]]), so the
  * index serves queries continuously while it grows — no re-train, no
  * rebuild, no read of the existing corpus, per-batch cost bounded by
  * the batch.
  *
  * Scale shape: the only work per batch is one scan-side L2 argmin
  * against the kilobyte codebook plus a partitioned append; readers keep
  * their snapshot (existing files are never rewritten — pinned in
  * `SimilaritySpec`). foreachBatch is at-least-once: a replayed batch
  * would re-append its rows — make the vector id a key downstream
  * (queries dedup neighbors on id), or wire `Sinks`' exactly-once marker
  * drain when the layout must be exact. Codebook drift is the standing
  * IVF trade ([[Similarity.appendToIvf]]'s scaladoc): monitor cell-size
  * skew and re-train with a full [[Similarity.writeIvf]] when the data
  * distribution has moved. */
object EmbeddingStreams {

  /** Start the index-growth stream onto an EXISTING [[Similarity
    * .writeIvf]] layout at `layoutPath` (build it from the seed corpus
    * first — the persisted codebook must exist before the first batch
    * arrives). */
  def ivfAppendIngest(newVecs: DataFrame, layoutPath: String,
                      checkpointDir: String, idCol: String, vecCol: String,
                      trigger: Trigger = Trigger.AvailableNow())
      : StreamingQuery =
    newVecs.writeStream
      .foreachBatch { (batch: Dataset[Row], _: Long) =>
        Similarity.appendToIvf(batch, idCol, vecCol, layoutPath)
        ()
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .start()
}
