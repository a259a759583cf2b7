package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

import graft.ops.{IvfPqIndex, Similarity}

/** Streaming ANN index ingest: new embedding rows append-encode into a
  * persisted [[graft.ops.IvfPqIndex]] — the serve-side companion of the
  * x70 build/serve split (FAISS's `add` on a trained index; Jégou et al.
  * 2011's structures are append-only once the quantizers are frozen).
  *
  * Each micro-batch reads the index's small tables (centroids/codebook/
  * meta — k-sized driver state; never `codes`), encodes the batch with
  * the FROZEN quantizers (row-local kernels, no shuffle), and appends the slim
  * (cid, cell, codes) rows to the codes table. Because encoding is a pure
  * per-row function of the frozen quantizers, ingest-then-search equals
  * build-from-scratch-then-search exactly (AnnStreamSpec proves it) —
  * the one thing that drifts under append-only ingest is cell BALANCE
  * (a shifted embedding distribution can pile into few cells), which is
  * a re-train decision, not a correctness one.
  */
object AnnStream {

  /** One ingest step, shared by the streaming sink and its batch twin. */
  def ingestBatch(batch: DataFrame, idCol: String, embCol: String,
      indexDir: String): Unit = {
    val (centroids, m, codebook) = IvfPqIndex.readQuantizers(batch.sparkSession, indexDir)
    Similarity.ivfPqEncodeCells(batch, idCol, embCol, centroids, m, codebook)
      .write.mode("append").parquet(s"$indexDir/codes")
  }

  /** Wire [[ingestBatch]] into a foreachBatch sink over an embedding
    * stream. The index at `indexDir` must already exist (built once via
    * [[graft.ops.IvfPqIndex.build]] + `save`). */
  def indexIngest(stream: DataFrame, idCol: String, embCol: String,
      indexDir: String, checkpointDir: String): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (b: DataFrame, _: Long) =>
        ingestBatch(b, idCol, embCol, indexDir)
      }
      .start()
}
