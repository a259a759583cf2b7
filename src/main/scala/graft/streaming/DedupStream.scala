package graft.streaming

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.ops.Dedup

/** Dedupe-on-ingest: a document stream near-dup-checked against the
  * GROWING index of everything admitted so far (SURVEY §2.9 extension —
  * the reference is batch-only; this is the production shape where a
  * nightly/continuous feed must not re-admit content the corpus already
  * holds).
  *
  * Built on `foreachBatch` because the accumulated index is cross-batch
  * state no declarative streaming operator holds: each micro-batch runs
  * [[graft.ops.Dedup.minhashNearDupsAgainst]] (x47's incremental
  * banded-LSH, cost follows the BATCH's bucket occupancy, not index size)
  * against the index parquet, logs the dup pairs, and appends only novel
  * docs back to the index.
  *
  * At 100 TB the index side of the band join is what you'd materialize
  * (persist `lshBands` output once, append per batch) instead of
  * re-banding index text per micro-batch; the parquet-table-as-index here
  * keeps the oracle/test surface simple while the join SHAPE — batch
  * bands equi-joined into index bands, payloads never riding the
  * candidate join — is already the scale path. Exactly-once: Spark
  * retries a failed micro-batch, so the appends are at-least-once;
  * admitted docs carry their batch id, letting a replayed append be
  * reconciled downstream (the standard foreachBatch idempotency device).
  */
object DedupStream {

  /** One ingest step, shared verbatim by the streaming sink and its batch
    * twin (the spec's stream==batch proof runs THIS against a manual fold):
    *
    *  1. batch-internal near-dups (x2's self-banding): a doc that is the
    *     higher id (`doc_b`) of any within-batch pair is dropped —
    *     first-wins by id, deterministic on replay;
    *  2. survivors near-dup-checked against the index parquet
    *     (x47's batch-vs-index banding); hits are logged, not admitted;
    *  3. novel survivors appended to the index, pairs appended to the log
    *     (`kind` = "batch" for within-batch evidence, "index" for
    *     stream-vs-index hits).
    *
    * Pairs and novel rows are materialized (localCheckpoint) BEFORE either
    * append lands: both plans read the index directory the novel-append
    * writes to, and a lazy plan executed after the append would see its
    * own output. The three checkpoints are released once both appends
    * land (or the step fails). */
  def ingestBatch(batch: DataFrame, idCol: String, textCol: String,
      indexDir: String, pairsDir: String, batchId: Long,
      threshold: Double = 0.8): Unit = {
    val spark = batch.sparkSession
    val pinned = mutable.Buffer.empty[DataFrame]
    def pin(df: DataFrame): DataFrame = { val c = df.localCheckpoint(); pinned += c; c }
    try {
      val docs = pin(batch.select(col(idCol), col(textCol)))
      val internal = Dedup.minhashNearDups(docs, idCol, textCol,
          threshold = threshold)
        .withColumn("kind", lit("batch"))
      val survivors = docs.join(
        internal.select(col("doc_b").as(idCol)).distinct(), Seq(idCol), "left_anti")
      val idxPath = new org.apache.hadoop.fs.Path(indexDir)
      val idxFs = idxPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val index = if (idxFs.exists(idxPath)) spark.read.parquet(indexDir)
      else docs.limit(0) // first batch: nothing admitted yet
      val against = Dedup.minhashNearDupsAgainst(survivors, index,
          idCol, textCol, threshold = threshold)
        .withColumn("kind", lit("index"))
      val pairs = pin(internal.unionByName(against)
        .withColumn("batch_id", lit(batchId)))
      val novel = pin(survivors.join(
          pairs.filter(col("kind") === "index")
            .select(col("doc_a").as(idCol)).distinct(),
          Seq(idCol), "left_anti")
        .withColumn("batch_id", lit(batchId)))
      pairs.write.mode("append").parquet(pairsDir)
      novel.write.mode("append").parquet(indexDir)
    } finally pinned.foreach(release)
  }

  /** Drops the blocks behind a localCheckpoint'd frame. */
  private def release(df: DataFrame): Unit = df.queryExecution.logical.foreach {
    case r: LogicalRDD => r.rdd.unpersist(blocking = false)
    case _ =>
  }

  /** The streaming wiring: every micro-batch of `docs` flows through
    * [[ingestBatch]]. Caller owns the three directories (index, pair log,
    * checkpoint). */
  def dedupeOnIngest(docs: DataFrame, idCol: String, textCol: String,
      indexDir: String, pairsDir: String, checkpointDir: String,
      threshold: Double = 0.8): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (b: DataFrame, id: Long) =>
        ingestBatch(b, idCol, textCol, indexDir, pairsDir, id, threshold)
      }
      .start()
}
