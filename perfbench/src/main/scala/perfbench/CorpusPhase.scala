package perfbench

import java.io.File

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ops.{Dedup, IvfPqIndex, Similarity}
import graft.streaming.{AnnStream, DedupStream}

/** `corpus_dedup_search`: batch near-dup removal (cleaned corpus written to
  * parquet), IVF-PQ index build + save, one stream-ingest batch of documents
  * and vectors, then closed-loop single-query searches against the grown
  * index and one batched search that measures recall. Every iteration
  * starts from the same index state. */
final class CorpusPhase(spark: SparkSession, dir: String, checks: Checks)
    extends GatedPhase {
  val name = "corpus"
  private val in = s"$dir/corpus"
  private val work = s"$dir/corpus_work"
  private val cleanDir = s"$work/clean"
  private val pairsDir = s"$work/pairs"
  private val idxDir = s"$work/index"
  private val Threshold = 0.8
  private val K = 10
  private val NProbe = 4
  /** Closed-loop single-query searches per iteration. */
  private val Searches = 10

  private val json = new ObjectMapper()
  private val meta = json.readTree(new File(s"$in/truth.json"))
  private val truth: Map[Long, Set[Long]] = meta.get("truth").fields().asScala.map { e =>
    e.getKey.toLong -> e.getValue.elements().asScala.map(_.asLong).toSet
  }.toMap
  private val planted: Set[(Long, Long)] =
    json.readTree(new File(s"$in/planted.json")).elements().asScala
      .map(p => (p.get(0).asLong, p.get(1).asLong)).toSet
  private val docs = spark.read.parquet(s"$in/base_docs.parquet")
  private val vecs = spark.read.parquet(s"$in/base_vecs.parquet")
  private val ingestDocs = spark.read.parquet(s"$in/ingest_docs.parquet")
  private val ingestVecs = spark.read.parquet(s"$in/ingest_vecs.parquet")
  private val queries = spark.read.parquet(s"$in/queries.parquet")

  val docCount: Long = meta.get("docs").asLong
  val vecCount: Long = meta.get("vectors").asLong
  private val ingestRows: Long = meta.get("ingest_docs").asLong + meta.get("ingest_vectors").asLong
  Sizes.values ++= Seq("corpus_docs" -> docCount, "corpus_vectors" -> vecCount,
    "corpus_ingest_rows" -> ingestRows, "corpus_recall_queries" -> truth.size.toLong)

  private val texts: Map[Long, String] =
    docs.select("doc_id", "text").union(ingestDocs.select("doc_id", "text"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
  /** Vector ids in the index after the ingest. */
  private val indexIds: Set[Long] =
    (0L until vecCount).toSet ++ ingestVecs.select("vec_id").collect().map(_.getLong(0))
  /** The single-row query frames a client would send, in id order. */
  private val searches: Seq[(Long, DataFrame)] = {
    val schema = StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType))))
    queries.orderBy("vec_id").limit(Searches).select("vec_id", "embedding").collect().toSeq
      .map(r => r.getLong(0) -> spark.createDataFrame(java.util.List.of(r), schema))
  }
  private lazy val codebook: Array[Array[Double]] =
    Similarity.seedVectors(vecs, "vec_id", "embedding", 0L to 15L)
      .map(_.map(_.toDouble).toArray).toArray

  private def shingles(t: String): Set[String] =
    t.trim.split("\\s+").filter(_.nonEmpty).sliding(3).filter(_.length == 3)
      .map(_.mkString(" ")).toSet
  private def jaccard(a: Long, b: Long): Double = {
    val (sa, sb) = (shingles(texts(a)), shingles(texts(b)))
    (sa intersect sb).size.toDouble / (sa union sb).size
  }
  /** Problems with reported (doc_a, doc_b, jaccard) rows. */
  private def pairProblems(rows: Array[Row]): Seq[String] = rows.toSeq.flatMap { r =>
    val (a, b, j) = (r.getLong(0), r.getLong(1), r.getDouble(2))
    if (j < Threshold) Some(s"pair ($a,$b) reported jaccard $j < $Threshold")
    else if (jaccard(a, b) < Threshold - 1e-9) Some(s"pair ($a,$b) exact jaccard ${jaccard(a, b)}")
    else None
  }

  private val writeRowsPerS, dedupDocsPerS, pairRecall, ingestRowsPerS =
    mutable.ArrayBuffer.empty[Double]
  private val searchMs = mutable.ArrayBuffer.empty[Double]
  private var recallAt10 = 0.0

  private def dedup(): Array[Row] = {
    val pairs = Dedup.minhashNearDups(docs, "doc_id", "text", threshold = Threshold).cache()
    val rows = pairs.collect()
    docs.join(pairs.select(col("doc_b").as("doc_id")).distinct(), Seq("doc_id"), "left_anti")
      .write.parquet(cleanDir)
    rows
  }

  /** Checks the batch pairs; returns the planted-pair recall. */
  private def checkDedup(rows: Array[Row]): Double = {
    val found = rows.map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = planted.count(found).toDouble / planted.size
    checks.op("corpus.dedup", pairProblems(rows) ++
      (if (recall < 1.0) Seq(s"planted-pair recall $recall") else Nil))
    recall
  }

  private def buildIndex(): IvfPqIndex =
    IvfPqIndex.build(vecs, "vec_id", "embedding", seedIds = 0L to 7L, m = 8, codebook)

  private def checkIngest(): Unit = {
    val logged = spark.read.parquet(pairsDir)
      .select(col("doc_a").cast("long"), col("doc_b").cast("long"), col("jaccard")).collect()
    checks.op("corpus.ingest", pairProblems(logged))
  }

  private def checkIds(what: String, ids: Seq[Long]): Seq[String] = {
    val unknown = ids.filterNot(indexIds)
    Seq((ids.size != K) -> s"$what returned ${ids.size} ids, expected $K",
      unknown.nonEmpty -> s"$what returned ids not in the index: ${unknown.take(3)}")
      .collect { case (true, m) => m }
  }

  /** One closed-loop search; returns its wall seconds. */
  private def search(idx: IvfPqIndex, qid: Long, q: DataFrame): Double = {
    val (rows, s) = Io.seconds(idx.topK(q, "vec_id", "embedding", K, NProbe).select("cid").collect())
    checks.op("corpus.search", checkIds(s"query $qid", rows.map(_.getLong(0)).toSeq))
    s
  }

  /** All queries in one batched search: recall@10 against exact cosine. */
  private def batchRecall(idx: IvfPqIndex): Double = {
    val got = idx.topK(queries.select("vec_id", "embedding"), "vec_id", "embedding", K, NProbe)
      .select("qid", "cid").collect().groupBy(_.getLong(0)).map { case (q, rs) =>
        q -> rs.map(_.getLong(1)).toSeq
      }
    checks.op("corpus.batch_search",
      got.toSeq.flatMap { case (q, ids) => checkIds(s"query $q", ids) } ++
        (if (got.size != truth.size) Seq(s"${got.size} of ${truth.size} queries answered") else Nil))
    got.map { case (q, ids) => ids.count(truth(q)).toDouble / K }.sum / truth.size
  }

  private def runOnce(record: Boolean, searchCount: Int): Unit = {
    Io.reset(work)
    val (rows, tDedup) = Io.seconds(dedup())
    Io.releaseCaches(spark)
    val recall = checkDedup(rows)
    buildIndex().save(idxDir)
    val (_, tIngest) = Io.seconds {
      DedupStream.ingestBatch(ingestDocs, "doc_id", "text", cleanDir, pairsDir, 0L,
        threshold = Threshold)
      AnnStream.ingestBatch(ingestVecs, "vec_id", "embedding", idxDir)
    }
    Io.releaseCaches(spark)
    checkIngest()
    val idx = IvfPqIndex.load(spark, idxDir)
    val lat = searches.take(searchCount).map { case (q, df) => search(idx, q, df) }
    val rec = batchRecall(idx)
    if (record) {
      searchMs ++= lat.map(_ * 1e3)
      writeRowsPerS += (docCount + ingestRows) / (tDedup + tIngest)
      dedupDocsPerS += docCount / tDedup
      ingestRowsPerS += ingestRows / tIngest
      pairRecall += recall
      recallAt10 = rec
    }
  }

  // a warm-up needs each code path once, not every search
  def warmUp(): Unit = runOnce(record = false, searchCount = 2)
  val settleIterations = 1
  def iterate(record: Boolean): Unit = runOnce(record, Searches)

  def endToEnd(r: Report): Unit = {
    r("throughput_per_s") = (Stats.median(writeRowsPerS.toSeq), "1/s")
    r("op_p50_ms") = (Stats.quantile(searchMs.toSeq, 0.5), "ms")
    r("quality") = (recallAt10, "ratio")
  }

  def named(r: Report): Unit = {
    r("ann.search_samples") = (searchMs.size.toDouble, "count")
    r("dedup.docs_per_s") = (Stats.median(dedupDocsPerS.toSeq), "1/s")
    r("dedup.pair_recall") = (Stats.median(pairRecall.toSeq), "ratio")
    r("ingest.rows_per_s") = (Stats.median(ingestRowsPerS.toSeq), "1/s")
    r("ann.search_p50_ms") = (Stats.quantile(searchMs.toSeq, 0.5), "ms")
    r("ann.search_p90_ms") = (Stats.quantile(searchMs.toSeq, 0.9), "ms")
    r("ann.recall_at_10") = (recallAt10, "ratio")
  }

  // Filled by the traced iteration.
  private var candidatePairs = 0L
  private var verifiedPairs = 0L
  private var codesScannedPerQuery = 0.0
  private var occupancyMaxShare = 0.0
  private var bytesWrittenPerRow = 0.0

  /** The iteration with each module call in its own span, plus the pieces
    * of minhashNearDups (signatures, bands, candidate join) measured on
    * their own. */
  def traced(t: Tracer): Unit = {
    Io.reset(work)
    val rows = t("ops.Dedup.minhashNearDups")(dedup())
    Io.releaseCaches(spark)
    verifiedPairs = rows.length
    checkDedup(rows)
    val sigs = t("ops.Dedup.withMinhash") {
      val s = Dedup.withMinhash(graft.Tables.fanOut(docs.select("doc_id", "text"), col("doc_id")),
        "text").filter(size(col("shingle_hashes")) > 0).select("doc_id", "sig").cache()
      s.count(); s
    }
    val bands = t("ops.Dedup.lshBands") {
      val b = Dedup.capBuckets(Dedup.lshBands(sigs, "doc_id", 16, 4)).cache()
      b.count(); b
    }
    candidatePairs = bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id"), col("b.doc_id")).distinct().count()
    Io.releaseCaches(spark)

    val built = t("ops.IvfPqIndex.build") {
      val i = buildIndex()
      val c = i.copy(codes = i.codes.cache())
      c.codes.count(); c
    }
    t("ops.IvfPqIndex.save")(built.save(idxDir))
    Io.releaseCaches(spark)

    val before = Io.treeBytes(new File(work))
    t("streaming.DedupStream.ingestBatch")(DedupStream.ingestBatch(ingestDocs, "doc_id",
      "text", cleanDir, pairsDir, 0L, threshold = Threshold))
    t("streaming.AnnStream.ingestBatch")(
      AnnStream.ingestBatch(ingestVecs, "vec_id", "embedding", idxDir))
    bytesWrittenPerRow = (Io.treeBytes(new File(work)) - before).toDouble / ingestRows
    Io.releaseCaches(spark)
    checkIngest()
    val idx = t("ops.IvfPqIndex.load")(IvfPqIndex.load(spark, idxDir))
    val occ = idx.occupancy().collect()
      .map(o => o.getAs[Number]("cell").intValue -> o.getAs[Number]("n_vecs").longValue).toMap
    occupancyMaxShare = occ.values.max.toDouble / occ.values.sum
    val scanned = searches.map { case (qid, q) =>
      t("ops.IvfPqIndex.topK")(search(idx, qid, q))
      val v = q.head().getSeq[Float](1)
      val probed = idx.centroids.zipWithIndex.map { case (c, i) =>
        (c.indices.map(d => (v(d) - c(d)) * (v(d) - c(d))).sum, i)
      }.sortBy(identity).take(NProbe).map(_._2)
      probed.map(occ.getOrElse(_, 0L)).sum.toDouble
    }
    codesScannedPerQuery = Stats.median(scanned)
    t("ops.IvfPqIndex.batchTopK")(batchRecall(idx))
  }

  override def layers(r: Report): Unit = {
    r("ops.Dedup.candidate_pairs") = (candidatePairs.toDouble, "count")
    r("ops.Dedup.verified_pairs") = (verifiedPairs.toDouble, "count")
    r("ops.Dedup.verify_yield") = (verifiedPairs.toDouble / math.max(1L, candidatePairs), "ratio")
    r("ops.IvfPqIndex.codes_scanned_per_query") = (codesScannedPerQuery, "count")
    r("ops.IvfPqIndex.occupancy_max_share") = (occupancyMaxShare, "ratio")
    r("streaming.bytes_written_per_row") = (bytesWrittenPerRow, "B")
  }
}
