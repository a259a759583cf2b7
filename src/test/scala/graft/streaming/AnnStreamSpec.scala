package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.SparkSpec
import graft.ops.{IvfPqIndex, Similarity}

class AnnStreamSpec extends SparkSpec {
  import spark.implicits._

  test("streamed index ingest == index built on the full corpus in one shot") {
    val e = graft.Tables.embeddings(spark, sfDir)
    val codebook = Similarity.seedCentroids(e, "vec_id", "embedding", (0L to 15L))
    val base = e.filter($"vec_id" < 300)
    val rest = e.filter($"vec_id" >= 300)
      .select($"vec_id", $"embedding")
      .as[(Long, Array[Float])].collect().toSeq
    assert(rest.nonEmpty)
    val (rest1, rest2) = rest.splitAt(rest.length / 2)

    // build on the base slice only, persist
    val dir = java.nio.file.Files.createTempDirectory("ann_ingest").toString + "/idx"
    IvfPqIndex.build(base, "vec_id", "embedding",
      seedIds = (0L to 7L), m = 8, codebook).save(dir)

    // stream the remaining rows in as two micro-batches
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Array[Float])]
    val q = AnnStream.indexIngest(
      mem.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding", dir,
      java.nio.file.Files.createTempDirectory("ann_ckpt").toString)
    mem.addData(rest1: _*)
    q.processAllAvailable()
    mem.addData(rest2: _*)
    q.processAllAvailable()
    q.stop()

    val ingested = IvfPqIndex.load(spark, dir)
    // the one-shot index over the SAME total corpus (same frozen quantizers)
    val oneShot = IvfPqIndex.build(e, "vec_id", "embedding",
      seedIds = (0L to 7L), m = 8, codebook)
    assert(ingested.codes.orderBy("cid").collect().toSeq
      === oneShot.codes.orderBy("cid").collect().toSeq)
    // and the search surface agrees end-to-end
    val queries = e.filter($"vec_id" < 5)
    assert(ingested.topK(queries, "vec_id", "embedding", k = 10, nProbe = 3)
        .orderBy("qid", "rn").collect().toSeq
      === oneShot.topK(queries, "vec_id", "embedding", k = 10, nProbe = 3)
        .orderBy("qid", "rn").collect().toSeq)
  }

  test("health-triggered retrain after drifted stream ingest serves == fresh build") {
    val e = graft.Tables.embeddings(spark, sfDir)
    val root = java.nio.file.Files.createTempDirectory("ann_retrain").toString
    val mid = e.agg(org.apache.spark.sql.functions.max($"vec_id")).head.getLong(0) / 2
    val first = e.filter($"vec_id" <= mid)
    val cbA = Similarity.seedCentroids(first, "vec_id", "embedding", (0L to 15L))
    // v1: deliberately under-trained coarse quantizer (2 cells)
    IvfPqIndex.publish(IvfPqIndex.build(first, "vec_id", "embedding",
      seedIds = (0L to 1L), m = 8, cbA), root, v = 1)
    assert(IvfPqIndex.currentVersion(root) === Some(1))

    // drifted second half arrives as a STREAM into the live version
    val rest = e.filter($"vec_id" > mid)
      .select($"vec_id", $"embedding").as[(Long, Array[Float])].collect().toSeq
    assert(rest.nonEmpty)
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Array[Float])]
    val q = AnnStream.indexIngest(mem.toDF().toDF("vec_id", "embedding"),
      "vec_id", "embedding", IvfPqIndex.currentDir(root),
      java.nio.file.Files.createTempDirectory("ann_retrain_ckpt").toString)
    mem.addData(rest: _*)
    q.processAllAvailable()
    q.stop()

    // 2 cells ⇒ max occupancy share ≥ 0.5: the health trigger must fire,
    // re-train on the full corpus, and swap CURRENT to v2
    val v = IvfPqIndex.retrainIfUnhealthy(spark, root, e, "vec_id", "embedding",
      seedIds = (0L to 7L), m = 8, codebookSeedIds = (0L to 15L), maxShare = 0.25)
    assert(v === Some(2))
    assert(IvfPqIndex.currentVersion(root) === Some(2))

    // post-retrain serve == fresh-build serve, code table and top-k both
    val cbFull = Similarity.seedCentroids(e, "vec_id", "embedding", (0L to 15L))
    val fresh = IvfPqIndex.build(e, "vec_id", "embedding",
      seedIds = (0L to 7L), m = 8, cbFull)
    val swapped = IvfPqIndex.loadCurrent(spark, root)
    assert(swapped.codes.orderBy("cid").collect().toSeq
      === fresh.codes.orderBy("cid").collect().toSeq)
    val queries = e.filter($"vec_id" < 5)
    assert(swapped.topK(queries, "vec_id", "embedding", k = 10, nProbe = 3)
        .orderBy("qid", "rn").collect().toSeq
      === fresh.topK(queries, "vec_id", "embedding", k = 10, nProbe = 3)
        .orderBy("qid", "rn").collect().toSeq)
  }

  test("a vector of the wrong dimension fails search and ingest with a clear message") {
    val e = graft.Tables.embeddings(spark, sfDir)
    val dir = java.nio.file.Files.createTempDirectory("ann_dims").toString + "/idx"
    IvfPqIndex.build(e, "vec_id", "embedding", seedIds = (0L to 7L), m = 8,
      Similarity.seedCentroids(e, "vec_id", "embedding", (0L to 15L))).save(dir)
    val short = e.filter($"vec_id" < 5)
      .select($"vec_id", org.apache.spark.sql.functions.slice($"embedding", 1, 32)
        .as("embedding"))
    def messages(t: Throwable): String =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).map(_.getMessage).mkString(" | ")
    val searchErr = intercept[Exception] {
      IvfPqIndex.load(spark, dir).topK(short, "vec_id", "embedding", k = 10, nProbe = 3)
        .collect()
    }
    assert(messages(searchErr).contains("vector has 32 dimensions, expected 64"))
    val ingestErr = intercept[Exception] {
      AnnStream.ingestBatch(short.withColumn("vec_id", $"vec_id" + 100000L),
        "vec_id", "embedding", dir)
    }
    assert(messages(ingestErr).contains("vector has 32 dimensions, expected 64"))
    assert(IvfPqIndex.load(spark, dir).codes.count() === e.count(),
      "a failed ingest must not append codes")
  }

  test("healthy occupancy does not retrain; pointer stays put") {
    val e = graft.Tables.embeddings(spark, sfDir)
    val root = java.nio.file.Files.createTempDirectory("ann_noretrain").toString
    val cb = Similarity.seedCentroids(e, "vec_id", "embedding", (0L to 15L))
    IvfPqIndex.publish(IvfPqIndex.build(e, "vec_id", "embedding",
      seedIds = (0L to 7L), m = 8, cb), root, v = 1)
    val v = IvfPqIndex.retrainIfUnhealthy(spark, root, e, "vec_id", "embedding",
      seedIds = (0L to 7L), m = 8, codebookSeedIds = (0L to 15L), maxShare = 0.9)
    assert(v === None)
    assert(IvfPqIndex.currentVersion(root) === Some(1))
  }
}
