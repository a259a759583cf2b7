package graft.ops

import org.apache.spark.sql.functions._
import graft.SparkSpec

class QuantizedSpec extends SparkSpec {
  import spark.implicits._

  private def vecs = Seq(
    (0L, Seq(1.0f, 0.0f, 0.0f)),
    (1L, Seq(0.9f, 0.1f, 0.0f)),
    (2L, Seq(0.0f, 1.0f, 0.0f)),
    (3L, Seq(0.0f, 0.9f, 0.1f)),
    (4L, Seq(-0.5f, -0.5f, 0.7f))
  ).toDF("vec_id", "embedding")

  test("quantize: floor(v*scale + 0.5), negative halves handled identically") {
    val q = vecs.select(Quantized.quantizeUdf(10.0)(col("embedding")))
      .as[Seq[Long]].collect()
    assert(q(0) === Seq(10L, 0L, 0L))
    assert(q(4) === Seq(-5L, -5L, 7L)) // floor(-5 + 0.5) = -5, not -4
  }

  test("jlSign is ±1 and roughly balanced over the index grid") {
    val signs = for (i <- 0 until 64; j <- 0 until 16)
      yield Quantized.jlSign(i, j, 16)
    assert(signs.forall(s => s == 1L || s == -1L))
    val pos = signs.count(_ == 1L).toDouble / signs.size
    assert(pos > 0.4 && pos < 0.6, s"sign balance off: $pos")
  }

  test("projection is exact integer math and deterministic") {
    val q = vecs.select(col("vec_id"),
      Quantized.quantizeUdf(1e6)(col("embedding")).as("q"))
    val p1 = q.select(Quantized.projectUdf(4)(col("q"))).as[Seq[Long]].collect()
    val p2 = q.repartition(3).select(Quantized.projectUdf(4)(col("q")))
      .as[Seq[Long]].collect()
    assert(p1.map(_.mkString(",")).sorted === p2.map(_.mkString(",")).sorted)
    // hand-check row 0: proj_j = 1e6 * sign(0, j)
    val expected = (0 until 4).map(j => 1000000L * Quantized.jlSign(0, j, 4))
    assert(p1(0) === expected)
  }

  // quantized vectors of ids 0, 2, 4 at scale 1e4 — the seed set the old
  // id-mod rule produced, now passed explicitly
  private def seeds024: Array[Array[Long]] = vecs
    .filter(col("vec_id").isin(0L, 2L, 4L)).orderBy("vec_id")
    .select(Quantized.quantizeUdf(1e4)(col("embedding")))
    .as[Seq[Long]].collect().map(_.toArray)

  test("lloydKmeansSeeded: two tight blobs separate, sums/n are exact integers") {
    val out = Quantized.lloydKmeansSeeded(vecs, "vec_id", "embedding",
        seeds024, scale = 1e4, iters = 2)
      .orderBy("cluster", "pos")
      .as[(Int, Long, Long, Long)].collect()
    // 3 clusters x 3 dims
    assert(out.length === 9)
    val byCluster = out.groupBy(_._1).view.mapValues(_.map(_._4).head).toMap
    assert(byCluster.values.sum === 5L) // every vector assigned exactly once
    // cluster 0 captures ids 0,1 (x-axis blob): sum of dim-1 = 10000+9000
    assert(out.find(r => r._1 == 0 && r._2 == 1L).get._3 === 19000L)
    assert(byCluster(0) === 2L)
  }

  test("centroidOutliers ranks by exact scaled distance, ties to lowest id") {
    val out = Quantized.centroidOutliers(vecs, "vec_id", "embedding",
        topN = 2, scale = 1e4)
      .orderBy("rank").as[(Long, Long, Long)].collect()
    assert(out.length === 2)
    // id 4 is farthest from the centroid of these 5 vectors
    assert(out(0)._1 === 4L)
    assert(out(0)._2 > out(1)._2 || (out(0)._2 == out(1)._2 && out(0)._1 < out(1)._1))
  }

  test("lloydKmeansFixedK: k is respected, every vector assigned, " +
      "partition-invariant, and seed order follows the salted md5") {
    val out = Quantized.lloydKmeansFixedK(vecs, "vec_id", "embedding",
        k = 2, salt = "spec-salt:", scale = 1e4, iters = 2)
      .orderBy("cluster", "pos")
      .as[(Int, Long, Long, Long)].collect()
    assert(out.forall(_._1 < 2), "cluster ids must stay below k")
    val n = out.groupBy(_._1).view.mapValues(_.map(_._4).head).values.sum
    assert(n === 5L) // every vector assigned exactly once
    // partition invariance (integer sums are order-free)
    val b = Quantized.lloydKmeansFixedK(vecs.repartition(4), "vec_id",
        "embedding", 2, "spec-salt:", 1e4, 2)
      .orderBy("cluster", "pos").as[(Int, Long, Long, Long)].collect()
    assert(out.toSeq === b.toSeq)
    // centroid index = salted-md5 rank — pin it exactly: with k = n every
    // row is its own seed, each point's nearest centroid is itself
    // (distance 0), so cluster i MUST be precisely the row at hash-rank i
    // and its sums that row's own quantized vector with n = 1
    val rankOrder = vecs
      .withColumn("h", md5(concat(lit("spec-salt:"), col("vec_id").cast("string"))))
      .orderBy(col("h"), col("vec_id"))
      .select(col("vec_id"), Quantized.quantizeUdf(1e4)(col("embedding")))
      .as[(Long, Seq[Long])].collect()
    val self = Quantized.lloydKmeansFixedK(vecs, "vec_id", "embedding",
        k = 5, salt = "spec-salt:", scale = 1e4, iters = 1)
      .orderBy("cluster", "pos")
      .as[(Int, Long, Long, Long)].collect()
    rankOrder.zipWithIndex.foreach { case ((_, q), rank) =>
      val rows = self.filter(_._1 == rank).sortBy(_._2)
      assert(rows.map(_._4).forall(_ == 1L),
        s"cluster $rank should hold exactly its own seed row")
      assert(rows.map(_._3).toSeq === q,
        s"cluster $rank sums must equal the hash-rank-$rank row's vector")
    }
  }

  test("kmeans result is partition-invariant (integer sums are order-free)") {
    val a = Quantized.lloydKmeansSeeded(vecs, "vec_id", "embedding",
        seeds024, 1e4, 2)
      .orderBy("cluster", "pos").collect().toSeq
    val b = Quantized.lloydKmeansSeeded(vecs.repartition(4), "vec_id",
        "embedding", seeds024, 1e4, 2)
      .orderBy("cluster", "pos").collect().toSeq
    assert(a === b)
  }

  test("a vector of the wrong dimension fails k-means and outliers with a clear message") {
    // seven 64-dimensional rows and one 63-dimensional row (id 7)
    val mixed = (0L until 8L).map { id =>
      (id, Seq.tabulate(if (id == 7L) 63 else 64)(i => ((id * 7 + i) % 11) / 10.0f))
    }.toDF("vec_id", "embedding")
    def messages(t: Throwable): String =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).map(_.getMessage).mkString(" | ")
    val kmeansErr = intercept[Exception] {
      Quantized.lloydKmeansFixedK(mixed, "vec_id", "embedding", k = 2,
        salt = "spec-salt:").collect()
    }
    assert(messages(kmeansErr).contains("vector has 63 dimensions, expected 64"))
    val outlierErr = intercept[Exception] {
      Quantized.centroidOutliers(mixed, "vec_id", "embedding", topN = 3).collect()
    }
    assert(messages(outlierErr).contains("vector has 63 dimensions, expected 64"))
  }
}
