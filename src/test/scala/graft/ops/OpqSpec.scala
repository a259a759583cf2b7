package graft.ops

import org.apache.spark.sql.functions._
import graft.{SparkSpec, Tables}

class OpqSpec extends SparkSpec {

  private def sample(): Array[Array[Double]] =
    Tables.embeddings(spark, sfDir).orderBy("vec_id").limit(128)
      .select(col("embedding")).collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray)

  test("rotation is orthogonal and training distortion never increases") {
    val model = Opq.train(sample(), m = 8, k = 16, iters = 5)
    val d = model.r.length
    // R^T R == I
    var maxDev = 0.0
    var i = 0
    while (i < d) {
      var j = 0
      while (j < d) {
        var acc = 0.0; var t = 0
        while (t < d) { acc += model.r(t)(i) * model.r(t)(j); t += 1 }
        val expect = if (i == j) 1.0 else 0.0
        maxDev = math.max(maxDev, math.abs(acc - expect))
        j += 1
      }
      i += 1
    }
    assert(maxDev < 1e-9, s"R not orthogonal: max |R^T R - I| = $maxDev")
    // alternating minimization: each step optimizes a convex subproblem,
    // so recorded MSE must be non-increasing
    model.mseHistory.sliding(2).foreach { case Seq(a, b) =>
      assert(b <= a + 1e-12, s"distortion rose: $a -> $b")
    }
    assert(model.mseHistory.last < model.mseHistory.head,
      "training made no progress at all")
  }

  test("trained OPQ beats seed-codebook PQ distortion end-to-end on the corpus") {
    val e = Tables.embeddings(spark, sfDir)
    val model = Opq.train(sample(), m = 8, k = 16, iters = 5)

    val seedCb = Similarity.seedCentroids(e, "vec_id", "embedding", (0L to 15L))
    val plainMse = Similarity.pqEncode(e, "vec_id", "embedding", m = 8, seedCb)
      .agg(avg(col("mse_e6"))).head.getDouble(0)

    val rotated = e.select(col("vec_id"),
      Opq.rotate(col("embedding"), model.r).as("embedding"))
    val opqMse = Similarity.pqEncode(rotated, "vec_id", "embedding", m = 8,
        model.codebooks)
      .agg(avg(col("mse_e6"))).head.getDouble(0)

    assert(opqMse < plainMse,
      s"OPQ encode MSE $opqMse not below seed-PQ baseline $plainMse")
  }

  // MEASURED finding, same story as x84/x92: on these near-isotropic
  // synthetic embeddings the trained rotation+codebooks cut encode MSE
  // (previous test) but do NOT lift retrieval recall — L2 reconstruction
  // error is not the same objective as ADC cosine RANKING, and with no
  // variance structure to concentrate, the ranking does not improve
  // (measured 0.44 OPQ vs 0.46 seed-PQ @ refine=20 on sf0.001). The test
  // pins that measurement: recall must stay in the baseline's band (a
  // pipeline break would send it toward 0) without claiming a lift the
  // data cannot show. On variance-concentrated real embeddings the same
  // harness measures the lift directly.
  test("trained OPQ pipeline holds seed-codebook PQ recall at equal refine depth") {
    val e = Tables.embeddings(spark, sfDir)
    val q = e.filter(col("vec_id") < 5)
    val exact = Similarity.cosineTopK(q, e, "vec_id", "embedding", k = 10)
      .select("qid", "cid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    def recallOf(short: org.apache.spark.sql.DataFrame): Double = {
      val approx = Similarity.cosineRerank(short.select("qid", "cid"), q, e,
          "vec_id", "embedding", k = 10)
        .select("qid", "cid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      exact.intersect(approx).size.toDouble / exact.size
    }

    val seedCb = Similarity.seedCentroids(e, "vec_id", "embedding", (0L to 15L))
    val plainRecall = recallOf(
      Similarity.pqAdcTopK(q, e, "vec_id", "embedding", m = 8, k = 20, seedCb))

    val model = Opq.train(sample(), m = 8, k = 16, iters = 5)
    val eRot = e.select(col("vec_id"),
      Opq.rotate(col("embedding"), model.r).as("embedding"))
    val qRot = eRot.filter(col("vec_id") < 5)
    val opqRecall = recallOf(Similarity.pqAdcTopK(qRot, eRot, "vec_id",
      "embedding", m = 8, k = 20, model.codebooks))

    info(f"recall@10 refine=20: seed-PQ $plainRecall%.3f, trained OPQ $opqRecall%.3f")
    assert(opqRecall >= plainRecall - 0.05,
      s"trained OPQ recall $opqRecall fell out of the seed-PQ band $plainRecall")
  }

  test("rotate kernel matches driver-side matrix product; cosines preserved") {
    val model = Opq.train(sample(), m = 8, k = 16, iters = 3)
    val d = model.r.length
    val e = Tables.embeddings(spark, sfDir)
      .filter(col("vec_id") < 10).orderBy("vec_id")
    val orig = e.select(col("embedding")).collect()
      .map(_.getSeq[Float](0).toArray)
    val viaSpark = e.select(Opq.rotate(col("embedding"), model.r)).collect()
      .map(_.getSeq[Float](0).toArray)
    def rotDriver(x: Array[Float]): Array[Double] =
      Array.tabulate(d)(j => (0 until d).map(i => x(i) * model.r(i)(j)).sum)
    orig.zip(viaSpark).foreach { case (o, sp) =>
      val drv = rotDriver(o)
      var j = 0
      while (j < d) {
        assert(math.abs(sp(j) - drv(j)) < 1e-5,
          s"kernel deviates from driver matmul at dim $j")
        j += 1
      }
    }
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      dot / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    val c0 = cos(orig(0).map(_.toDouble), orig(1).map(_.toDouble))
    val c1 = cos(rotDriver(orig(0)), rotDriver(orig(1)))
    assert(math.abs(c0 - c1) < 1e-9,
      "orthogonal rotation failed to preserve cosine")
  }
}
