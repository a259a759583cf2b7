package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.SparkSpec

class DedupStreamSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  test("dedupe-on-ingest: two-batch stream equals the sequential batch fold") {
    val docs = graft.Tables.documents(spark, sfDir)
      .select($"doc_id", $"text").orderBy("doc_id")
      .as[(Long, String)].collect().toSeq
    val (b1, b2) = docs.splitAt(docs.length / 2)

    // streaming run: two micro-batches through the foreachBatch sink
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val (sIdx, sPairs) = (tmp("dedup_s_idx"), tmp("dedup_s_pairs"))
    // createTempDirectory pre-creates the dirs; ingestBatch must see "no
    // index yet", so hand the stream paths that don't exist
    val q = DedupStream.dedupeOnIngest(mem.toDF().toDF("doc_id", "text"),
      "doc_id", "text", s"$sIdx/t", s"$sPairs/t", tmp("dedup_ckpt"))
    mem.addData(b1: _*)
    q.processAllAvailable()
    mem.addData(b2: _*)
    q.processAllAvailable()
    q.stop()

    // batch twin: the same fold called directly, no streaming machinery
    val (bIdx, bPairs) = (tmp("dedup_b_idx"), tmp("dedup_b_pairs"))
    DedupStream.ingestBatch(b1.toDF("doc_id", "text"), "doc_id", "text",
      s"$bIdx/t", s"$bPairs/t", batchId = 0L)
    DedupStream.ingestBatch(b2.toDF("doc_id", "text"), "doc_id", "text",
      s"$bIdx/t", s"$bPairs/t", batchId = 1L)

    def pairsOf(dir: String) = spark.read.parquet(dir)
      .select("doc_a", "doc_b", "jaccard", "kind", "batch_id")
      .as[(Long, Long, Double, String, Long)].collect().toSet
    def indexOf(dir: String) = spark.read.parquet(dir)
      .select("doc_id", "batch_id").as[(Long, Long)].collect().toSet

    val (sp, bp) = (pairsOf(s"$sPairs/t"), pairsOf(s"$bPairs/t"))
    val (si, bi) = (indexOf(s"$sIdx/t"), indexOf(s"$bIdx/t"))
    assert(sp === bp)
    assert(si === bi)

    // the scenario is non-vacuous: the harness corpus has near-dups that
    // SPAN the batch split, so both evidence kinds appear
    assert(sp.exists(_._4 == "batch"), "expected within-batch dup pairs")
    assert(sp.exists(_._4 == "index"), "expected stream-vs-index dup pairs")
    // second-batch docs that hit the index were logged and NOT admitted
    val indexHits = sp.collect { case (a, _, _, "index", _) => a }
    assert(indexHits.nonEmpty)
    indexHits.foreach(d => assert(!si.exists(_._1 == d),
      s"doc $d matched the index but was still admitted"))
    // every admitted doc is novel: no admitted pair (a, b) both in index
    sp.foreach { case (a, b, _, _, _) =>
      assert(!(si.exists(_._1 == a) && si.exists(_._1 == b)),
        s"near-dup pair ($a, $b) both admitted to the index") }
  }

  test("re-delivered content is never re-admitted: the whole batch flags " +
      "as index dups and the index is unchanged") {
    val docs = graft.Tables.documents(spark, sfDir)
      .select($"doc_id", $"text").orderBy("doc_id").limit(40)
      .as[(Long, String)].collect().toSeq
    val (idx, prs) = (tmp("dedup_r_idx"), tmp("dedup_r_pairs"))
    DedupStream.ingestBatch(docs.toDF("doc_id", "text"), "doc_id", "text",
      s"$idx/t", s"$prs/t", batchId = 0L)
    val once = spark.read.parquet(s"$idx/t")
      .select("doc_id", "batch_id").as[(Long, Long)].collect().toSeq
    // upstream re-delivers the same content in a later micro-batch: every
    // doc is an exact dup of the index (jaccard 1.0 self-match through
    // the banding), so NOTHING is admitted twice
    DedupStream.ingestBatch(docs.toDF("doc_id", "text"), "doc_id", "text",
      s"$idx/t", s"$prs/t", batchId = 1L)
    val after = spark.read.parquet(s"$idx/t")
      .select("doc_id", "batch_id").as[(Long, Long)].collect().toSeq
    assert(after.sorted === once.sorted, "re-delivery must not re-admit")
    // and the pair log carries the evidence for every batch-1 doc: either
    // it hit the index, or it was dropped first as the higher id of a
    // WITHIN-batch near-dup pair (that stage runs before the index check)
    val p1 = spark.read.parquet(s"$prs/t").filter($"batch_id" === 1L)
      .select("doc_a", "doc_b", "kind").as[(Long, Long, String)].collect()
    val hit = p1.collect { case (a, _, "index") => a }.toSet
    val droppedInternally = p1.collect { case (_, b, "batch") => b }.toSet
    assert((hit ++ droppedInternally) === docs.map(_._1).toSet)
  }

  test("ingestBatch releases its checkpoints: no persistent RDD outlives a step") {
    val docs = graft.Tables.documents(spark, sfDir)
      .select($"doc_id", $"text").orderBy("doc_id").limit(40)
      .as[(Long, String)].collect().toSeq
    val (idx, prs) = (tmp("dedup_l_idx"), tmp("dedup_l_pairs"))
    def persisted = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val before = persisted
    // the first step builds the index, the second bands against it
    DedupStream.ingestBatch(docs.toDF("doc_id", "text"), "doc_id", "text",
      s"$idx/t", s"$prs/t", batchId = 0L)
    assert((persisted -- before).isEmpty)
    DedupStream.ingestBatch(docs.toDF("doc_id", "text"), "doc_id", "text",
      s"$idx/t", s"$prs/t", batchId = 1L)
    assert((persisted -- before).isEmpty)
  }
}
