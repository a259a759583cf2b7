package graft.ops

import org.apache.spark.sql.functions._
import graft.{SparkSpec, Tables}

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  private def vecs = Seq(
    (1L, Array(1.0f, 0.0f, 0.0f)),
    (2L, Array(0.9f, 0.1f, 0.0f)),  // near 1
    (3L, Array(0.0f, 1.0f, 0.0f)),  // orthogonal to 1
    (4L, Array(-1.0f, 0.0f, 0.0f)), // opposite of 1
    (5L, Array(1.0f, 0.05f, 0.0f))  // nearest to 1
  ).toDF("vec_id", "embedding")

  test("cosine: orthogonal=0, identical=1, opposite=-1") {
    val sims = vecs.as("a").crossJoin(vecs.as("b"))
      .select($"a.vec_id".as("i"), $"b.vec_id".as("j"),
        Similarity.cosine($"a.embedding", $"b.embedding").as("c"))
      .as[(Long, Long, Double)].collect()
      .map { case (i, j, c) => (i, j) -> c }.toMap
    assert(sims((1L, 1L)) === 1.0)
    assert(sims((1L, 3L)) === 0.0)
    assert(sims((1L, 4L)) === -1.0)
    assert(sims((1L, 2L)) > 0.99 && sims((1L, 2L)) < 1.0)
  }

  test("brute-force top-k ranks by similarity with id tiebreak") {
    val top = Similarity.cosineTopK(
        vecs.filter($"vec_id" === 1), vecs, "vec_id", "embedding", 2)
      .select("cid", "rn").as[(Long, Long)].collect().toList.sortBy(_._2)
    assert(top.map(_._1) === List(5L, 2L)) // 5 is closest, then 2
  }

  test("LSH top-k recall vs brute force on harness embeddings") {
    val e = graft.Tables.embeddings(spark, sfDir)
    val q = e.filter($"vec_id" < 10)
    val exact = Similarity.cosineTopK(q, e, "vec_id", "embedding", 5)
      .select("qid", "cid").as[(Long, Long)].collect().toSet
    val approx = Similarity.lshTopK(q, e, "vec_id", "embedding", 5, nBits = 2, dim = 64)
      .select("qid", "cid").as[(Long, Long)].collect().toSet
    // approximate: same-bucket probing must recover a reasonable share
    val recall = (exact intersect approx).size.toDouble / exact.size
    assert(recall >= 0.3, s"LSH recall $recall too low")
    // and every LSH hit must carry the true cosine (scored, not estimated)
    assert(approx.subsetOf(
      Similarity.cosineTopK(q, e, "vec_id", "embedding", 500)
        .select("qid", "cid").as[(Long, Long)].collect().toSet))
  }

  test("IVF top-k: high recall vs brute force with multi-probe") {
    val e = graft.Tables.embeddings(spark, sfDir)
    val q = e.filter($"vec_id" < 10)
    val exact = Similarity.cosineTopK(q, e, "vec_id", "embedding", 5)
      .select("qid", "cid").as[(Long, Long)].collect().toSet
    val ivf = Similarity.ivfTopK(q, e, "vec_id", "embedding",
        k = 5, nCells = 4, nProbe = 2)
      .select("qid", "cid").as[(Long, Long)].collect().toSet
    val recall = (exact intersect ivf).size.toDouble / exact.size
    assert(recall >= 0.5, s"IVF recall $recall too low")
    // every IVF hit carries the true cosine (scored, not estimated)
    assert(ivf.subsetOf(
      Similarity.cosineTopK(q, e, "vec_id", "embedding", 1000)
        .select("qid", "cid").as[(Long, Long)].collect().toSet))
  }

  test("kmeans centroids are deterministic across runs") {
    val e = graft.Tables.embeddings(spark, sfDir)
    val a = Similarity.kmeansCentroids(e, "vec_id", "embedding", 3, iters = 2)
    val b = Similarity.kmeansCentroids(e, "vec_id", "embedding", 3, iters = 2)
    a.zip(b).foreach { case (x, y) => assert(x.toSeq === y.toSeq) }
  }

  test("bucket assignment is deterministic") {
    val b1 = vecs.select(Similarity.lshBucket($"embedding", 4, 3)).as[Long].collect()
    val b2 = vecs.select(Similarity.lshBucket($"embedding", 4, 3)).as[Long].collect()
    assert(b1.toSeq === b2.toSeq)
  }

  test("pq codes: seed vectors code to themselves with zero distortion") {
    val e = graft.Tables.embeddings(spark, sfDir)
    val codebook = Similarity.seedCentroids(e, "vec_id", "embedding", (0L to 15L))
    val out = Similarity.pqEncode(e, "vec_id", "embedding", m = 8, codebook)
      .as[(Long, String, Double)].collect()
      .map { case (k, v, m2) => k -> (v, m2) }.toMap
    (0 to 15).foreach { c =>
      val (codes, mse) = out(c.toLong)
      assert(codes === Seq.fill(8)(c).mkString("-")) // own subvectors win
      assert(mse === 0.0)
    }
    // non-seed vectors approximate with nonzero distortion
    assert(out.filterNot(k => (0L to 15L).contains(k._1)).forall(_._2._2 > 0.0))
  }

  test("pq ADC: distances match reconstructed-centroid sums, ranking ascends") {
    val e = graft.Tables.embeddings(spark, sfDir)
    val codebook = Similarity.seedCentroids(e, "vec_id", "embedding", (0L to 15L))
    val q = e.filter($"vec_id" < 3)
    val out = Similarity.pqAdcTopK(q, e, "vec_id", "embedding",
        m = 8, k = 5, codebook)
      .select("qid", "cid", "adc", "rn")
      .as[(Long, Long, Double, Long)].collect()
    assert(out.groupBy(_._1).keySet === Set(0L, 1L, 2L))
    assert(out.groupBy(_._1).values.forall(_.length === 5))
    assert(out.forall { case (qid, cid, _, _) => qid != cid })
    // independent recomputation of the ADC sum from codes + codebook
    val codes = Similarity.pqEncode(e, "vec_id", "embedding", 8, codebook)
      .select("vec_id", "codes").as[(Long, String)].collect().toMap
    val qv = q.select($"vec_id", $"embedding")
      .as[(Long, Seq[Float])].collect().toMap
    out.foreach { case (qid, cid, adc, _) =>
      val v = qv(qid)
      val cs = codes(cid).split('-').map(_.toInt)
      val dsub = v.length / 8
      val expect = (0 until 8).map { s =>
        (s * dsub until (s + 1) * dsub).map { i =>
          val d = v(i) - codebook(cs(s))(i); d * d
        }.sum
      }.sum
      assert(math.abs(adc - expect) < 1e-3, s"adc mismatch $qid->$cid")
    }
    // nearest-first: adc is non-decreasing in rn within each query
    out.groupBy(_._1).values.foreach { g =>
      val byRank = g.sortBy(_._4).map(_._3)
      assert(byRank.toSeq === byRank.sorted.toSeq)
    }
  }

  test("ivfPqTopK = pqAdcTopK restricted to probed cells") {
    val e = graft.Tables.embeddings(spark, sfDir)
    val codebook = Similarity.seedCentroids(e, "vec_id", "embedding", (0L to 15L))
    val queries = e.filter(col("vec_id") < 3)

    val ivfpq = Similarity.ivfPqTopK(queries, e, "vec_id", "embedding",
        k = 5, nProbe = 8, seedIds = (0L to 7L), m = 8, codebook)
      .select("qid", "cid", "adc", "rn")
      .as[(Long, Long, Double, Long)].collect().toSet
    // nProbe = nCells → every cell probed → identical to the flat ADC sweep
    val flat = Similarity.pqAdcTopK(queries, e, "vec_id", "embedding",
        m = 8, k = 5, codebook)
      .select("qid", "cid", "adc", "rn")
      .as[(Long, Long, Double, Long)].collect().toSet
    assert(ivfpq === flat)

    // with 1 probe, results are a subset of the flat candidates and every
    // emitted neighbor shares the query's probed cell
    val one = Similarity.ivfPqTopK(queries, e, "vec_id", "embedding",
        k = 5, nProbe = 1, seedIds = (0L to 7L), m = 8, codebook)
      .select("qid", "cid").as[(Long, Long)].collect()
    assert(one.nonEmpty)
    val flatAll = Similarity.pqAdcTopK(queries, e, "vec_id", "embedding",
        m = 8, k = Int.MaxValue, codebook)
      .select("qid", "cid", "adc").as[(Long, Long, Double)].collect()
      .map { case (q, c, a) => (q, c) -> a }.toMap
    one.foreach { case (q, c) => assert(flatAll.contains((q, c))) }
  }

  test("refined IVF-PQ clears recall@10 >= 0.7 vs brute force (measures 0.94)") {
    val e = graft.Tables.embeddings(spark, sfDir)
    val q = e.filter($"vec_id" < 5)
    val exact = Similarity.cosineTopK(q, e, "vec_id", "embedding", k = 10)
      .select("qid", "cid").as[(Long, Long)].collect().groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    val codebook = Similarity.seedCentroids(e, "vec_id", "embedding", (0L to 15L))
    val refined = Similarity.ivfPqRefineTopK(q, e, "vec_id", "embedding",
        k = 10, nProbe = 4, seedIds = (0L to 7L), m = 8, codebook, refine = 100)
      .select("qid", "cid").as[(Long, Long)].collect().groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    val recalls = exact.map { case (qid, ex) =>
      refined.getOrElse(qid, Set.empty).count(ex).toDouble / ex.size
    }
    val mean = recalls.sum / recalls.size
    // the shipping bar from the eval dial: ADC-only ranking sits at
    // 0.2-0.5 (x63); the re-rank tail must lift the SAME index past 0.7
    assert(mean >= 0.7, s"mean recall@10 $mean below the 0.7 bar: $recalls")
  }

  test("IvfPqIndex: loaded index reproduces rebuilt results exactly") {
    val e = graft.Tables.embeddings(spark, sfDir)
    val q = e.filter($"vec_id" < 5)
    val codebook = Similarity.seedCentroids(e, "vec_id", "embedding", (0L to 15L))
    val dir = java.nio.file.Files.createTempDirectory("ivfpq_idx").toString
    val built = IvfPqIndex.build(e, "vec_id", "embedding",
      seedIds = (0L to 7L), m = 8, codebook)
    built.save(dir)
    val loaded = IvfPqIndex.load(spark, dir)
    // the persisted halves round-trip bit-for-bit
    assert(loaded.m === built.m)
    assert(loaded.centroids.map(_.toSeq).toSeq === built.centroids.map(_.toSeq).toSeq)
    assert(loaded.codebook.map(_.toSeq).toSeq === built.codebook.map(_.toSeq).toSeq)
    assert(loaded.codes.orderBy("cid").collect().toSeq
      === built.codes.orderBy("cid").collect().toSeq)
    // serve path off the loaded index == rebuild-every-time operator, for
    // both the raw ADC ranking and the refined tail
    val fresh = Similarity.ivfPqTopK(q, e, "vec_id", "embedding",
        k = 10, nProbe = 3, seedIds = (0L to 7L), m = 8, codebook)
      .orderBy("qid", "rn").collect().toSeq
    assert(loaded.topK(q, "vec_id", "embedding", k = 10, nProbe = 3)
      .orderBy("qid", "rn").collect().toSeq === fresh)
    val freshRefined = Similarity.ivfPqRefineTopK(q, e, "vec_id", "embedding",
        k = 10, nProbe = 4, seedIds = (0L to 7L), m = 8, codebook, refine = 100)
      .orderBy("qid", "rn").collect().toSeq
    assert(loaded.refineTopK(q, e, "vec_id", "embedding",
        k = 10, nProbe = 4, refine = 100)
      .orderBy("qid", "rn").collect().toSeq === freshRefined)
  }

  test("brute-force and index top-k cuts plan a per-partition k-heap (Partial WindowGroupLimit)") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.window.WindowGroupLimitExec
    val e = graft.Tables.embeddings(spark, sfDir)
    val q = e.filter($"vec_id" < 5)
    val idx = IvfPqIndex.build(e, "vec_id", "embedding", seedIds = (0L to 7L), m = 8,
      Similarity.seedCentroids(e, "vec_id", "embedding", (0L to 15L)))
    val plans = new AdaptiveSparkPlanHelper {}
    Seq("cosineTopK" -> Similarity.cosineTopK(q, e, "vec_id", "embedding", k = 10),
        "IvfPqIndex.topK" -> idx.topK(q, "vec_id", "embedding", k = 10, nProbe = 3))
      .foreach { case (name, df) =>
        assert(df.count() === 50L, name)
        val modes = plans.collect(df.queryExecution.executedPlan) {
          case w: WindowGroupLimitExec => w.mode.toString
        }
        assert(modes.exists(_.contains("Partial")),
          s"$name has no Partial-mode WindowGroupLimit below its shuffle: $modes")
      }
  }

  test("semDedup drops the higher id of in-cell near-dups, keeps the rest") {
    // cells from seeds 1 (x-axis) and 3 (y-axis): vecs 2,5 land in 1's
    // cell, 4 in 3's (d2 to x-axis seed is 4, to y-axis seed is 2)
    val out = Similarity.semDedup(vecs, "vec_id", "embedding",
        tau = 0.99, seedIds = Seq(1L, 3L))
      .select("vec_id", "dup_of", "keep")
      .as[(Long, Option[Long], Long)].collect()
      .map { case (id, d, k) => id -> ((d, k)) }.toMap
    assert(out(1L) === ((None, 1L)))        // lowest id always kept
    assert(out(2L) === ((Some(1L), 0L)))    // cos(1,2) ~ 0.994 >= tau
    assert(out(5L) === ((Some(1L), 0L)))    // cos(1,5) ~ 0.999 >= tau
    assert(out(3L) === ((None, 1L)))        // alone-ish in its own cell
    assert(out(4L) === ((None, 1L)))        // opposite vector: cos = -1
    assert(out.size === 5)                  // every input row present
  }

  test("hardNegatives: cross-label top-k with a correct semi-hard flag") {
    val emb = Tables.embeddings(spark, sfDir)
    val k = 4
    val rows = Similarity
      .hardNegatives(emb.filter(col("vec_id") < 10), emb,
        "vec_id", "embedding", "label", k)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4), r.getLong(5)))

    val all = emb.collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray, r.getInt(2)))
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        d += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
        nb += b(i).toDouble * b(i); i += 1
      }
      BigDecimal(d / (math.sqrt(na) * math.sqrt(nb)))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    }

    rows.groupBy(_._1).foreach { case (qid, negs) =>
      val (_, qemb, qlabel) = all.find(_._1 == qid).get
      val posMax = all.filter(x => x._1 != qid && x._3 == qlabel)
        .map(x => cos(qemb, x._2)).max
      val expected = all.filter(x => x._1 != qid && x._3 != qlabel)
        .map(x => (cos(qemb, x._2), x._1))
        .sortBy { case (s, id) => (-s, id) }.take(k)
      assert(negs.sortBy(_._2).map(x => (x._4, x._3)).toSeq === expected.toSeq,
        s"anchor $qid top-$k")
      negs.foreach { n =>
        assert(n._5 === posMax, s"anchor $qid pos_sim")
        assert(n._6 === (if (n._4 < posMax) 1L else 0L), s"anchor $qid semi_hard")
      }
    }
    assert(rows.map(_._1).distinct.length === 10)
  }

  test("kcenterCoreset: replays the farthest-first traversal exactly") {
    val emb = Tables.embeddings(spark, sfDir)
    val k = 5
    val out = Similarity.kcenterCoreset(emb, "vec_id", "embedding", k)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sortBy(_._1)

    val all = emb.collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).sortBy(_._1)
    def sq(a: Array[Float]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i).toDouble * a(i); i += 1 }; s
    }
    def dot(a: Array[Float], b: Array[Float]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i).toDouble * b(i); i += 1 }; s
    }
    def d2(a: Array[Float], b: Array[Float]): Double =
      BigDecimal(sq(a) + sq(b) - 2.0 * dot(a, b))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble

    var centers = List(all.head)
    var expected = List((1L, all.head._1, 0.0))
    var dmin = all.map(p => p._1 -> d2(p._2, all.head._2)).toMap
    (2 to k).foreach { j =>
      val pick = all.map(p => (p._1, dmin(p._1)))
        .minBy { case (id, d) => (-d, id) }
      expected ::= ((j.toLong, pick._1, pick._2))
      val ce = all.find(_._1 == pick._1).get
      centers ::= ce
      dmin = all.map(p => p._1 -> math.min(dmin(p._1), d2(p._2, ce._2))).toMap
    }
    assert(out.toSeq === expected.reverse)
    // radii never increase: the coverage-curve property selection reads
    assert(out.map(_._3).drop(1).sliding(2).forall {
      case Array(a, b) => b <= a
      case _ => true
    })
  }

  test("bitextMarginPairs: margin algebra matches a driver-side replay") {
    val emb = Tables.embeddings(spark, sfDir)
    val k = 3
    val src = emb.filter(col("vec_id") < 8)
    val tgt = emb.filter(col("vec_id") >= 8 && col("vec_id") < 28)
    val out = Similarity
      .bitextMarginPairs(src, tgt, "vec_id", "embedding", k)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))

    val sv = src.collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val tv = tgt.collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        d += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
        nb += b(i).toDouble * b(i); i += 1
      }
      BigDecimal(d / (math.sqrt(na) * math.sqrt(nb)))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val pairs = for ((sid, se) <- sv; (tid, te) <- tv)
      yield (sid, tid, cos(se, te))
    // exact decimal k-NN sums, as the op documents
    def knnSum(xs: Seq[Double]): Double =
      xs.sorted.reverse.take(k).map(BigDecimal(_)).sum.toDouble
    val sx = pairs.groupBy(_._1).map { case (s, p) => s -> knnSum(p.map(_._3).toSeq) }
    val sy = pairs.groupBy(_._2).map { case (t, p) => t -> knnSum(p.map(_._3).toSeq) }
    val margins = pairs.map { case (s, t, sim) =>
      (s, t, sim, BigDecimal(sim / ((sx(s) + sy(t)) / (2.0 * k)))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
    val best = margins.groupBy(_._1).map { case (s, ms) =>
      ms.minBy { case (_, t, _, m) => (-m, t) }
    }.toSeq.sortBy(_._1)

    assert(out.sortBy(_._1).toSeq === best)
    assert(out.length === 8) // one row per source
  }

  test("bitextMarginPairsAnn equals the brute form under a covering probe") {
    // nProbe = #cells and k >= both side sizes make the IVF-PQ candidate
    // set the full bipartite product and every k-NN list exhaustive, so
    // the ANN plan must reproduce the brute margins bit-for-bit
    val emb = Tables.embeddings(spark, sfDir)
    val src = emb.filter(col("vec_id") < 6)
    val tgt = emb.filter(col("vec_id") >= 8 && col("vec_id") < 14)
    val k = 6
    val codebook = Similarity.seedCentroids(emb, "vec_id", "embedding", (0L to 15L))
    val brute = Similarity
      .bitextMarginPairs(src, tgt, "vec_id", "embedding", k)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
      .sortBy(_._1).toSeq
    val ann = Similarity
      .bitextMarginPairsAnn(src, tgt, "vec_id", "embedding", k,
        nProbe = 2, srcSeeds = Seq(0L, 1L), tgtSeeds = Seq(8L, 9L),
        m = 8, codebook)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
      .sortBy(_._1).toSeq
    assert(ann === brute)
    assert(ann.length === 6)
  }
}
