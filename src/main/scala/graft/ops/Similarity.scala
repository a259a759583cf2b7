package graft.ops

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`ARRAY<FLOAT>`).
  *
  * Two paths, per the 100 TB design point:
  *  - [[cosineTopK]]: brute force — every (query, corpus) pair. Correct
  *    baseline; cost O(|Q|·|C|·d). Fine when |Q| is small or as the
  *    within-bucket scorer.
  *  - [[lshTopK]]: random-hyperplane LSH — corpus is bucketed by sign
  *    pattern, queries probe only their own bucket. The shuffle is on the
  *    bucket key; each bucket's pair count is |bucket|·|queries in bucket|,
  *    so at scale cost follows data density instead of |C|.
  *
  * Dot products run in double precision through the native codegen
  * expression [[graft.plans.FloatDotProduct]] (`float_dot`), with per-side
  * norms precomputed once — on equal-length inputs bit-identical to the
  * `aggregate(zip_with(...))` formulation (NULL on dimension mismatch), but
  * ~10× faster on pair sweeps (HOFs sit outside whole-stage codegen and
  * materialize a zipped array per pair). The HOF builders below remain as
  * session-free Column utilities.
  */
object Similarity {

  /** Double-precision dot product of two float-array columns. */
  def dot(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)

  /** L2 norm of a float-array column, in double precision. */
  def l2norm(a: Column): Column =
    sqrt(aggregate(a, lit(0.0), (acc, x) => acc + x.cast("double") * x.cast("double")))

  /** Cosine similarity, rounded to 4 decimals for cross-engine determinism. */
  def cosine(a: Column, b: Column): Column =
    round(dot(a, b) / (l2norm(a) * l2norm(b)), 4)

  /** Brute-force cosine top-k: for each query vector, the k nearest corpus
    * vectors (excluding itself), ranked by rounded cosine desc then id. */
  def cosineTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
      embCol: String, k: Int): DataFrame = {
    val q = withNorm(queries.select(col(idCol).as("qid"), col(embCol).as("q_emb")),
      "q_emb", "q_nrm")
    val c = withNorm(corpus.select(col(idCol).as("cid"), col(embCol).as("c_emb")),
      "c_emb", "c_nrm")
    topKByCosine(q.crossJoin(c).filter(col("qid") =!= col("cid")), k)
  }

  /** `df` plus `nrm`, the L2 norm of its float-array column `emb` —
    * computed once per row so a pair sweep never recomputes it. Registers
    * `float_dot` on the frame's session. */
  private def withNorm(df: DataFrame, emb: String, nrm: String): DataFrame = {
    graft.plans.GraftFunctions.register(df.sparkSession)
    df.withColumn(nrm, sqrt(expr(s"float_dot($emb, $emb)")))
  }

  /** Cosine of embedding columns `a` and `b` over their [[withNorm]]
    * norms, rounded to 4 decimals for cross-engine determinism. */
  private def cosineScore(a: String, b: String, aNrm: String, bNrm: String): Column =
    round(expr(s"float_dot($a, $b)") / (col(aNrm) * col(bNrm)), 4)

  /** The per-query top-k cut shared by every ranked output here: k rows
    * per `qid`, ordered by `score` then `cid`. Plans as Partial+Final
    * WindowGroupLimit, so each partition keeps a bounded k-heap before the
    * single shuffle. */
  private def topKPerQuery(df: DataFrame, k: Int, score: Column): DataFrame =
    Relational.topKPerGroup(df, k, Seq(col("qid")), Seq(score, col("cid")))

  /** Rank (qid, q_emb, q_nrm) × (cid, c_emb, c_nrm) pairs by rounded
    * cosine: (qid, cid, sim, rn), sim desc. */
  private def topKByCosine(pairs: DataFrame, k: Int): DataFrame =
    topKPerQuery(pairs.select(col("qid"), col("cid"),
        cosineScore("q_emb", "c_emb", "q_nrm", "c_nrm").as("sim")),
      k, col("sim").desc)

  /** Deterministic random hyperplanes: nBits × dim doubles in [-1, 1],
    * generated from a fixed seed and inlined as literal arrays. */
  private def hyperplanes(nBits: Int, dim: Int, seed: Long = 7L): Seq[Seq[Double]] = {
    val rng = new scala.util.Random(seed)
    Seq.fill(nBits)(Seq.fill(dim)(rng.nextDouble() * 2 - 1))
  }

  /** Sign-pattern bucket id (0 .. 2^nBits-1) of an embedding under the
    * deterministic hyperplane family. Row-local, codegen'd. */
  def lshBucket(emb: Column, nBits: Int, dim: Int): Column =
    hyperplanes(nBits, dim).zipWithIndex.map { case (plane, i) =>
      val planeCol = array(plane.map(lit): _*)
      when(dot(emb, planeCol) >= 0, shiftleft(lit(1L), i)).otherwise(lit(0L))
    }.reduce((a, b) => a.bitwiseOR(b))

  /** Embeddings of the given ids, collected as literal hyperplanes (tiny
    * driver-side collect, one per seed id). Using CORPUS ROWS as the plane
    * family — the data is zero-centered, so a corpus vector is as good a
    * random hyperplane as a synthetic one — makes bucket assignment a pure
    * function of the data: an external oracle can recompute the buckets
    * (and therefore the full candidate set) from the table alone, which a
    * seeded-PRNG plane family can never offer. */
  def seedVectors(corpus: DataFrame, idCol: String, embCol: String,
      seedIds: Seq[Long]): Seq[Seq[Float]] = {
    val byId = corpus.filter(col(idCol).isin(seedIds.map(Long.box): _*))
      .select(col(idCol).cast("long"), col(embCol)).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    seedIds.map(id => byId.getOrElse(id,
      throw new IllegalArgumentException(s"seed id $id not in corpus")))
  }

  /** [[seedVectors]] in double precision — the centroid table (IVF coarse
    * cells) or codebook (PQ) the kernels below score against, index-aligned
    * with `seedIds`. */
  def seedCentroids(corpus: DataFrame, idCol: String, embCol: String,
      seedIds: Seq[Long]): Array[Array[Double]] =
    seedVectors(corpus, idCol, embCol, seedIds).map(_.map(_.toDouble).toArray).toArray

  /** Variance-balanced subspace permutation — the cheap, permutation-only
    * member of the OPQ family (eigenvalue-allocation flavor; Ge et al.,
    * "Optimized Product Quantization", CVPR 2013, public). Per-dimension
    * variance comes from ONE distributed aggregate (64 `var_pop` columns,
    * rounded to 6 decimals so an oracle ranks identically); dimensions are
    * then dealt snake-wise across the `m` subspaces in descending-variance
    * order, so every subquantizer sees the same variance budget. Driver
    * work is a 64-value sort — corpus size never touches it.
    *
    * Returns `perm` where output position `j` takes original dimension
    * `perm(j)` (0-based); subspace `s` of the permuted vector is positions
    * `[s·dim/m, (s+1)·dim/m)`.
    *
    * Measured on the harness embeddings (x84): NO recall benefit — this
    * corpus is near-isotropic (per-dim variance spread 1.31×, natural
    * subspace sums already within 7%), so the codebook, not the dimension
    * allocation, is the recall bottleneck. The op earns its keep on real
    * embedding models, where leading dims carry most of the variance. */
  def varianceSnakePerm(corpus: DataFrame, embCol: String, dim: Int,
      m: Int): Array[Int] = {
    require(dim % m == 0, s"dim $dim not divisible by m $m")
    val aggs = (1 to dim).map(i =>
      round(var_pop(element_at(col(embCol), i).cast("double")), 6).as(s"v$i"))
    val row = corpus.agg(aggs.head, aggs.tail: _*).head
    val v = Array.tabulate(dim)(i => row.getDouble(i))
    val slots = dim / m
    val perm = new Array[Int](dim)
    (0 until dim).sortBy(i => (-v(i), i)).zipWithIndex.foreach { case (d, r) =>
      val pass = r / m
      val pos = r % m
      val g = if (pass % 2 == 0) pos else m - 1 - pos
      perm(g * slots + pass) = d
    }
    perm
  }

  /** Apply a dimension permutation as a pure projection — `dim`
    * `element_at`s inside whole-stage codegen, zero UDF. An orthogonal
    * transform, so cosine/L2 between permuted vectors equal the originals;
    * only the subspace SLICING (and therefore PQ) changes. */
  def permuteDims(embCol: Column, perm: Array[Int]): Column =
    array(perm.map(d => element_at(embCol, d + 1)): _*)

  /** Sign-pattern bucket under seed-vector planes: bit i = (emb · seed_i >= 0).
    * The dot runs through the HOF builder (once per row, not per pair) so
    * the double accumulation order matches a SQL re-implementation. */
  def seededBucket(emb: Column, planes: Seq[Seq[Float]]): Column =
    planes.zipWithIndex.map { case (plane, i) =>
      when(dot(emb, typedlit(plane)) >= 0, shiftleft(lit(1L), i)).otherwise(lit(0L))
    }.reduce((a, b) => a.bitwiseOR(b))

  /** Shared bucketed-top-k core: queries only score vectors in their own
    * bucket; one equi-join shuffle on the bucket key. */
  private def bucketedTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
      embCol: String, k: Int, bucketOf: Column => Column): DataFrame = {
    val q = withNorm(queries.select(col(idCol).as("qid"), col(embCol).as("q_emb"),
      bucketOf(col(embCol)).as("bucket")), "q_emb", "q_nrm")
    val c = withNorm(corpus.select(col(idCol).as("cid"), col(embCol).as("c_emb"),
      bucketOf(col(embCol)).as("bucket")), "c_emb", "c_nrm")
    topKByCosine(q.join(c, "bucket").filter(col("qid") =!= col("cid")), k)
  }

  /** LSH-bucketed approximate top-k: queries only score vectors in their own
    * sign bucket. Recall < 1 by construction; nBits trades bucket size
    * against recall (multi-probe = re-run with neighboring buckets). */
  def lshTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
      embCol: String, k: Int, nBits: Int, dim: Int): DataFrame =
    bucketedTopK(queries, corpus, idCol, embCol, k,
      e => lshBucket(e, nBits, dim))

  /** LSH top-k with seed-vector planes ([[seededBucket]]) — same plan shape
    * as [[lshTopK]], but every stage (bucket assignment included) is
    * recomputable by an external oracle from the data alone. */
  def lshTopKSeeded(queries: DataFrame, corpus: DataFrame, idCol: String,
      embCol: String, k: Int, seedIds: Seq[Long]): DataFrame = {
    val planes = seedVectors(corpus, idCol, embCol, seedIds)
    bucketedTopK(queries, corpus, idCol, embCol, k, e => seededBucket(e, planes))
  }

  /** Embedding-cosine near-duplicate pairs (sim >= threshold), bucketed so
    * only same-bucket pairs are scored. */
  private def bucketedNearDups(df: DataFrame, idCol: String, embCol: String,
      threshold: Double, bucketOf: Column => Column): DataFrame = {
    val e = withNorm(df.select(col(idCol), col(embCol),
      bucketOf(col(embCol)).as("bucket")), embCol, "__nrm")
    e.as("a").join(e.as("b"),
        col("a.bucket") === col("b.bucket") && col(s"a.$idCol") < col(s"b.$idCol"))
      .select(
        col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"),
        cosineScore(s"a.$embCol", s"b.$embCol", "a.__nrm", "b.__nrm").as("sim"))
      .filter(col("sim") >= threshold)
  }

  def cosineNearDups(df: DataFrame, idCol: String, embCol: String,
      threshold: Double, nBits: Int, dim: Int): DataFrame =
    bucketedNearDups(df, idCol, embCol, threshold, e => lshBucket(e, nBits, dim))

  /** Near-dup pairs with seed-vector planes — oracle-recomputable buckets. */
  def cosineNearDupsSeeded(df: DataFrame, idCol: String, embCol: String,
      threshold: Double, seedIds: Seq[Long]): DataFrame = {
    val planes = seedVectors(df, idCol, embCol, seedIds)
    bucketedNearDups(df, idCol, embCol, threshold, e => seededBucket(e, planes))
  }

  // ------------------------------------------------------------------- IVF

  /** Deterministic k-means coarse quantizer (Lloyd, fixed iterations,
    * centroids seeded from evenly-spaced corpus rows by id order). Runs as
    * DataFrame jobs: assignment is a row-local argmin over broadcast
    * centroids; the update step is one groupBy per iteration. Returns the
    * final centroids, index-aligned with their cluster id.
    *
    * Seed selection is fully deterministic: candidates (id % step == 0) are
    * sorted by id before the first k are taken (Dataset.take alone returns
    * partition order); an empty candidate set (tiny corpus, sparse ids)
    * falls back to the first k rows in id order. Throws on an empty corpus —
    * there is nothing to quantize. */
  def kmeansCentroids(corpus: DataFrame, idCol: String, embCol: String,
      k: Int, iters: Int = 5): Array[Array[Double]] = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val vecs = corpus.select(col(idCol).cast("long"), col(embCol))
      .as[(Long, Seq[Float])]
    // deterministic seeds: k evenly-spaced rows in id order
    val n = vecs.count()
    require(n > 0, "kmeansCentroids: empty corpus")
    val step = math.max(1L, n / k)
    val spaced = vecs.filter(v => v._1 % step == 0)
      .orderBy(col(idCol)).map(_._2).take(k)
      .map(_.map(_.toDouble).toArray)
    val seeds =
      if (spaced.nonEmpty) spaced
      else vecs.orderBy(col(idCol)).map(_._2).take(k).map(_.map(_.toDouble).toArray)
    var centroids = seeds.padTo(k, seeds.head)

    (0 until iters).foreach { _ =>
      val bc = spark.sparkContext.broadcast(centroids)
      val assigned = vecs.map { case (_, v) =>
        (nearestCell(v, bc.value)._1, v.map(_.toDouble).toArray)
      }.toDF("cluster", "vec")
      val updated = assigned
        .groupBy(col("cluster"))
        .agg(count(lit(1)).as("n"),
          array((0 until centroids.head.length).map(i =>
            sum(element_at(col("vec"), i + 1))): _*).as("sums"))
        .as[(Int, Long, Seq[Double])]
        .collect()
        .map { case (c, cnt, sums) => c -> sums.map(_ / cnt).toArray }
        .toMap
      centroids = centroids.indices.map(i => updated.getOrElse(i, centroids(i))).toArray
    }
    centroids
  }

  /** Squared L2 distance between `a` and `cent` over dims [from, until) —
    * the one distance loop behind every centroid scan and PQ subspace
    * lookup here. `a` is the vector materialized once: generic Seq element
    * access inside the centroid × dim loop costs boxing + megamorphic
    * dispatch (see Quantized.FlatCentroids). */
  private def sqL2(a: Array[Float], cent: Array[Double], from: Int, until: Int): Double = {
    require(a.length == cent.length, s"vector has ${a.length} dimensions, " +
      s"expected ${cent.length} (the centroid/codebook dimension)")
    var d = 0.0; var i = from
    while (i < until) { val diff = a(i) - cent(i); d += diff * diff; i += 1 }
    d
  }

  /** Squared L2 distance from `v` to every centroid, index-aligned. */
  private def centroidDists(v: Seq[Float], cents: Array[Array[Double]]): Array[Double] = {
    val a = v.toArray
    cents.map(sqL2(a, _, 0, a.length))
  }

  /** Nearest centroid of `v` and its squared distance; ties go to the
    * lower cell. */
  private def nearestCell(v: Seq[Float], cents: Array[Array[Double]]): (Int, Double) = {
    val ds = centroidDists(v, cents)
    var best = 0; var bestD = Double.MaxValue
    var c = 0
    while (c < ds.length) {
      if (ds(c) < bestD) { bestD = ds(c); best = c }
      c += 1
    }
    (best, bestD)
  }

  /** Row-local cell assignment over broadcast centroids. */
  private def cellUdf(bc: Broadcast[Array[Array[Double]]]) =
    udf { v: Seq[Float] => nearestCell(v, bc.value)._1 }

  /** The `nProbe` nearest cells of a query, nearest first, ties to the
    * lower cell. */
  private def probeUdf(bc: Broadcast[Array[Array[Double]]], nProbe: Int) =
    udf { v: Seq[Float] =>
      centroidDists(v, bc.value).zipWithIndex.sortBy(x => (x._1, x._2))
        .take(nProbe).map(_._2)
    }

  /** Cell assignment with its squared distance in integer micro-units —
    * [[cellAssignUdf]]'s row type. Micros, not a rounded double: summing
    * longs is order-independent, so per-cell aggregates match a SQL
    * DECIMAL fold exactly (the x40/x44 determinism device). */
  final case class CellAssign(cell: Int, micros: Long)

  /** Nearest-centroid id AND distance in one pass (the index-health lens:
    * per-cell occupancy and distortion are the re-train signals for a
    * frozen coarse quantizer). Same kernel as [[cellUdf]]. */
  def cellAssignUdf(cents: Array[Array[Double]]) = udf { v: Seq[Float] =>
    val (cell, d) = nearestCell(v, cents)
    CellAssign(cell, math.floor(d * 1e6 + 0.5).toLong)
  }

  /** Per-vector int8 quantization summary from [[int8QuantUdf]]. */
  final case class QuantStats(q_min: Int, q_max: Int, mse_e6: Double)

  /** Symmetric int8 quantization of an embedding (the standard 4x storage
    * compression for ANN indexes): scale = max|v|/127, q_i = round(v_i/scale)
    * clamped to [-127,127], and the reconstruction MSE of dequantization.
    * Rounding is half-away-from-zero EXPLICITLY (Java's Math.round rounds
    * negative halves toward +inf; SQL round() does not). Row-local kernel;
    * every output is recomputable by an oracle from the raw floats. */
  val int8QuantUdf = udf { v: Seq[Float] =>
    var maxAbs = 0.0
    v.foreach { x => val a = math.abs(x.toDouble); if (a > maxAbs) maxAbs = a }
    if (maxAbs == 0.0 || v.isEmpty) QuantStats(0, 0, 0.0)
    else {
      val scale = maxAbs / 127.0
      var qmin = Int.MaxValue; var qmax = Int.MinValue; var sse = 0.0
      v.foreach { x =>
        val r = x.toDouble / scale
        val q0 = if (r >= 0) math.floor(r + 0.5) else math.ceil(r - 0.5)
        val q = math.max(-127.0, math.min(127.0, q0))
        val qi = q.toInt
        if (qi < qmin) qmin = qi
        if (qi > qmax) qmax = qi
        val err = q * scale - x.toDouble
        sse += err * err
      }
      QuantStats(qmin, qmax, sse / v.length * 1e6)
    }
  }

  /** Per-vector product-quantization summary from [[pqEncode]]. */
  final case class PqStats(codes: String, mse_e6: Double)

  /** Product quantization (Jégou et al. 2011, public): the embedding is cut
    * into `m` contiguous subvectors and each is replaced by the index of its
    * nearest codebook centroid — the standard memory layout for
    * billion-scale ANN (m bytes per vector instead of 4·dim). The codebook
    * here is SEED VECTORS (the same oracle-recomputable device as
    * [[ivfTopKSeeded]]): centroid c of subspace s is the seed's own dims
    * [s·dsub, (s+1)·dsub). Returns (id, codes joined "-", reconstruction
    * MSE ×1e6 rounded 4). Row-local compiled kernel over a broadcast
    * codebook — no shuffle, linear at any corpus size; ties go to the
    * lowest centroid index (strict `<`), matching a SQL `ORDER BY d2, c`.
    */
  def pqEncode(df: DataFrame, idCol: String, embCol: String, m: Int,
      codebook: Array[Array[Double]], keep: Seq[String] = Nil): DataFrame = {
    val bc = df.sparkSession.sparkContext.broadcast(codebook)
    val kernel = udf { v: Seq[Float] =>
      val nCent = bc.value.length
      val ds = pqSubspaceDists(v, bc.value, m)
      val sb = new StringBuilder
      var sse = 0.0
      var s = 0
      while (s < m) {
        var best = 0; var bestD = Double.MaxValue
        var c = 0
        while (c < nCent) {
          val d = ds(s * nCent + c)
          if (d < bestD) { bestD = d; best = c }
          c += 1
        }
        sse += bestD
        if (s > 0) sb.append('-')
        sb.append(best)
        s += 1
      }
      PqStats(sb.toString, sse / v.length * 1e6)
    }
    df.select(col(idCol) +: keep.map(col) :+ kernel(col(embCol)).as("pq"): _*)
      .select(col(idCol) +: keep.map(col) :+ col("pq.codes").as("codes")
        :+ round(col("pq.mse_e6"), 4).as("mse_e6"): _*)
  }

  /** Per-query ADC lookup table over a broadcast codebook: entry
    * (s, c) = ||q[s·dsub,(s+1)·dsub) − cent_c[same)||², rounded to 6
    * decimals so downstream ADC sums are exact integer-micro sums on both
    * the engine and the oracle (the x40/x44 DECIMAL(18,6) device). */
  private def pqLutUdf(m: Int, bc: Broadcast[Array[Array[Double]]]) =
    udf { v: Seq[Float] =>
      pqSubspaceDists(v, bc.value, m).map(d => math.floor(d * 1e6 + 0.5) / 1e6)
    }

  /** Squared L2 distance from each of `v`'s `m` contiguous subvectors to
    * the same slice of every codebook centroid — the shared kernel of
    * [[pqEncode]] and the ADC lookup table; entry (s, c) at s·|cb| + c. */
  private def pqSubspaceDists(v: Seq[Float], cb: Array[Array[Double]],
      m: Int): Array[Double] = {
    val a = v.toArray
    val dsub = a.length / m
    val out = new Array[Double](m * cb.length)
    var c = 0
    while (c < cb.length) {
      var s = 0
      while (s < m) {
        out(s * cb.length + c) = sqL2(a, cb(c), s * dsub, (s + 1) * dsub)
        s += 1
      }
      c += 1
    }
    out
  }

  /** ADC distance = Σ_s lut(s, code_s): summed in integer micro-units
    * (LUT entries are exact multiples of 1e-6), order-independent and
    * bit-identical to the oracle's DECIMAL(18,6) aggregate. Parses
    * "c0-c1-..." without allocating a split array. */
  private def pqAdcUdf(nCent: Int) = udf { (lut: Seq[Double], codes: String) =>
    var micros = 0L
    var s = 0
    var start = 0
    var i = 0
    while (i <= codes.length) {
      if (i == codes.length || codes.charAt(i) == '-') {
        var cOf = 0
        var j = start
        while (j < i) { cOf = cOf * 10 + (codes.charAt(j) - '0'); j += 1 }
        micros += math.rint(lut(s * nCent + cOf) * 1e6).toLong
        s += 1
        start = i + 1
      }
      i += 1
    }
    micros / 1e6
  }

  /** ADC (asymmetric distance computation) top-k search over [[pqEncode]]
    * codes — the search half of product quantization (Jégou et al. 2011
    * §IV, public): each query precomputes ONE lookup table of squared L2
    * distances to every (subspace, centroid) pair, and the approximate
    * distance to a coded corpus vector is m table lookups — the corpus's
    * full vectors are never read again after encoding. Scale shape: the
    * corpus side carries only (id, m-byte code); the query side (few rows,
    * each with an m·k-entry LUT) broadcasts; per-pair cost is m array
    * reads, so a 100 TB sweep streams codes at memory bandwidth. Ranking
    * is on the 4-decimal-rounded distance with id tiebreak (ascending —
    * nearest first), matching a SQL `ORDER BY adc, cid`; the top-k window
    * plans as Partial+Final WindowGroupLimit, so each partition keeps a
    * bounded k-heap before the single shuffle.
    */
  def pqAdcTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
      embCol: String, m: Int, k: Int,
      codebook: Array[Array[Double]]): DataFrame = {
    val spark = corpus.sparkSession
    val bc = spark.sparkContext.broadcast(codebook)
    val lutUdf = pqLutUdf(m, bc)
    val adcUdf = pqAdcUdf(codebook.length)
    val coded = pqEncode(corpus, idCol, embCol, m, codebook)
      .select(col(idCol).as("cid"), col("codes"))
    val q = queries.select(col(idCol).as("qid"), lutUdf(col(embCol)).as("lut"))
    topKPerQuery(coded.crossJoin(broadcast(q))
        .filter(col("qid") =!= col("cid"))
        .select(col("qid"), col("cid"),
          round(adcUdf(col("lut"), col("codes")), 4).as("adc")),
      k, col("adc"))
  }

  /** IVF-PQ top-k (the FAISS IVFPQ layout; Jégou et al. 2011 §V, public):
    * the seeded coarse quantizer bounds WHICH rows are scored (queries
    * explode to their nProbe nearest cells, candidates = probed cells
    * only) and PQ-ADC bounds the COST PER ROW (m LUT lookups over the
    * m-byte code; full vectors never reread after encoding). At 100 TB the
    * probe join is equi on the cell key against a code table of
    * (id, cell, m bytes), so per-query work follows probed-cell occupancy
    * — the index you actually ship when both |corpus| and dim hurt.
    * Same output contract as [[pqAdcTopK]] (rounded adc, id tiebreak),
    * restricted to candidates in probed cells. */
  def ivfPqTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
      embCol: String, k: Int, nProbe: Int, seedIds: Seq[Long],
      m: Int, codebook: Array[Array[Double]]): DataFrame = {
    val cents = seedCentroids(corpus, idCol, embCol, seedIds)
    val coded = ivfPqEncodeCells(corpus, idCol, embCol, cents, m, codebook)
    ivfPqSearchCoded(queries, idCol, embCol, coded, cents, m, codebook,
      k, nProbe)
  }

  /** The BUILD half of IVF-PQ: corpus rows assigned to their nearest coarse
    * cell and PQ-coded — the (cid, cell, codes) table an index persists.
    * Row-local kernels over broadcast centroids/codebook; no shuffle. */
  private[graft] def ivfPqEncodeCells(corpus: DataFrame, idCol: String,
      embCol: String, centroids: Array[Array[Double]], m: Int,
      codebook: Array[Array[Double]]): DataFrame = {
    val bcC = corpus.sparkSession.sparkContext.broadcast(centroids)
    pqEncode(corpus.withColumn("cell", cellUdf(bcC)(col(embCol))),
        idCol, embCol, m, codebook, keep = Seq("cell"))
      .select(col(idCol).as("cid"), col("cell"), col("codes"))
  }

  /** The SERVE half of IVF-PQ: ADC top-k over an ALREADY-CODED corpus
    * table — what runs against a loaded index, where the scan reads only
    * (cid, cell, codes) and the full embedding column never appears. */
  private[ops] def ivfPqSearchCoded(queries: DataFrame, idCol: String,
      embCol: String, coded: DataFrame, centroids: Array[Array[Double]],
      m: Int, codebook: Array[Array[Double]], k: Int, nProbe: Int): DataFrame = {
    val spark = coded.sparkSession
    val bcC = spark.sparkContext.broadcast(centroids)
    val bcCb = spark.sparkContext.broadcast(codebook)
    val lutUdf = pqLutUdf(m, bcCb)
    val adcUdf = pqAdcUdf(codebook.length)
    val q = queries.select(col(idCol).as("qid"),
        lutUdf(col(embCol)).as("lut"),
        explode(probeUdf(bcC, nProbe)(col(embCol))).as("cell"))
    topKPerQuery(coded.join(q, "cell")
        .filter(col("qid") =!= col("cid"))
        .select(col("qid"), col("cid"),
          round(adcUdf(col("lut"), col("codes")), 4).as("adc")),
      k, col("adc"))
  }

  /** IVF-PQ with an exact re-rank tail (the FAISS `IndexRefineFlat`
    * pattern; Jégou et al. 2011 §VII report the same shortlist-then-verify
    * device, public): the PQ index's job shrinks from "rank exactly" to
    * "don't lose the true neighbors from a `refine`-sized shortlist", and
    * the final order comes from true cosine over the full vectors of
    * shortlist members only. Closes the recall gap the ADC-only ranking
    * leaves (seed-vector codebooks at m=8 measure recall@10 ≈ 0.2–0.5 on
    * the harness embeddings; with nProbe=4 and refine=100 the re-ranked
    * output measures 0.94 — x69 is the oracle-checked eval).
    *
    * Scale shape: the shortlist is |queries|·refine slim (qid, cid) rows —
    * broadcastable by construction — so the full-vector fetch is one
    * broadcast equi-join against the corpus scan, never a shuffle of the
    * embedding column; per-query refine cost is `refine` exact dots, fixed
    * and independent of corpus size. Output contract matches
    * [[cosineTopK]]: (qid, cid, sim rounded 4, rn by sim desc / cid). */
  def ivfPqRefineTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
      embCol: String, k: Int, nProbe: Int, seedIds: Seq[Long],
      m: Int, codebook: Array[Array[Double]], refine: Int): DataFrame = {
    val shortlist = ivfPqTopK(queries, corpus, idCol, embCol,
        k = refine, nProbe, seedIds, m, codebook)
      .select(col("qid"), col("cid"))
    cosineRerank(shortlist, queries, corpus, idCol, embCol, k)
  }

  /** Exact-cosine re-rank of a slim (qid, cid) shortlist against full
    * corpus vectors — the shared refine tail of [[ivfPqRefineTopK]] and
    * [[IvfPqIndex.refineTopK]]. The shortlist is |queries|·refine rows by
    * construction, so it broadcasts to the corpus scan; output contract
    * matches [[cosineTopK]]. */
  private[ops] def cosineRerank(shortlist: DataFrame, queries: DataFrame,
      corpus: DataFrame, idCol: String, embCol: String, k: Int): DataFrame = {
    val c = withNorm(corpus.select(col(idCol).as("cid"), col(embCol).as("c_emb")),
      "c_emb", "c_nrm")
    val q = withNorm(queries.select(col(idCol).as("qid"), col(embCol).as("q_emb")),
      "q_emb", "q_nrm")
    topKByCosine(broadcast(shortlist).join(c, "cid").join(broadcast(q), "qid"), k)
  }

  /** IVF core given a fixed centroid table: cell assignment is a row-local
    * argmin over the broadcast centroids, queries explode to their `nProbe`
    * nearest cells, and the probe join is equi on cell id — per-query work
    * scales with probed-cell size, not corpus size (the 100 TB path). */
  private def ivfTopKWithCentroids(queries: DataFrame, corpus: DataFrame,
      idCol: String, embCol: String, k: Int, nProbe: Int,
      centroids: Array[Array[Double]]): DataFrame = {
    val bc = corpus.sparkSession.sparkContext.broadcast(centroids)
    val c = withNorm(corpus.select(col(idCol).as("cid"), col(embCol).as("c_emb"),
      cellUdf(bc)(col(embCol)).as("cell")), "c_emb", "c_nrm")
    val q = withNorm(queries.select(col(idCol).as("qid"), col(embCol).as("q_emb"),
      explode(probeUdf(bc, nProbe)(col(embCol))).as("cell")), "q_emb", "q_nrm")
    topKByCosine(q.join(c, "cell").filter(col("qid") =!= col("cid")), k)
  }

  /** IVF approximate top-k with a Lloyd k-means coarse quantizer. */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
      embCol: String, k: Int, nCells: Int, nProbe: Int,
      kmeansIters: Int = 3): DataFrame =
    ivfTopKWithCentroids(queries, corpus, idCol, embCol, k, nProbe,
      kmeansCentroids(corpus, idCol, embCol, nCells, kmeansIters))

  /** IVF top-k with SEED-VECTOR centroids (Voronoi cells of fixed corpus
    * rows, no Lloyd iterations — "IVF-random" in ANN-library terms). Same
    * plan shape as [[ivfTopK]]; the trade is a slightly less balanced cell
    * partition for a quantizer an external oracle can recompute exactly
    * (argmin of L2 distance to named corpus rows, ties to the lower cell). */
  def ivfTopKSeeded(queries: DataFrame, corpus: DataFrame, idCol: String,
      embCol: String, k: Int, nProbe: Int, seedIds: Seq[Long]): DataFrame =
    ivfTopKWithCentroids(queries, corpus, idCol, embCol, k, nProbe,
      seedCentroids(corpus, idCol, embCol, seedIds))

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540, public): duplicates
    * that string-level dedup cannot see — same meaning, different words —
    * found in embedding space. The corpus is partitioned into k clusters
    * and only WITHIN-cluster pairs are scored; a vector is dropped iff
    * some lower-id vector in its cluster has cosine >= `tau` (the paper
    * keeps one arbitrary member per duplicate group; min-id makes the
    * choice deterministic and oracle-replayable).
    *
    * Plan shape at 100 TB: cluster assignment is a row-local argmin over
    * k broadcast centroids — the clustering is exactly what keeps the
    * pair sweep off O(n²); the sweep is a self-equi-join on the cell key
    * (cost ~ Σ|cell|²; k controls it — the paper runs k=50k on web
    * scale); the verdict per vector is one aggregation on the id.
    * Centroids here are seed corpus rows (the oracle-recomputable device
    * of [[ivfTopKSeeded]], ties to the lower cell); swap in
    * [[kmeansCentroids]] for balanced cells when no oracle is needed.
    *
    * Returns every corpus row: (id, cell, dup_of = lowest dropping
    * witness id or NULL, keep ∈ {0,1}). */
  def semDedup(corpus: DataFrame, idCol: String, embCol: String,
      tau: Double, seedIds: Seq[Long]): DataFrame = {
    val bc = corpus.sparkSession.sparkContext.broadcast(
      seedCentroids(corpus, idCol, embCol, seedIds))
    val e = withNorm(corpus.select(col(idCol), col(embCol),
      cellUdf(bc)(col(embCol)).cast("long").as("cell")), embCol, "__nrm")
    val dropped = e.as("a").join(e.as("b"),
        col("a.cell") === col("b.cell") && col(s"b.$idCol") < col(s"a.$idCol"))
      .filter(cosineScore(s"a.$embCol", s"b.$embCol", "a.__nrm", "b.__nrm") >= tau)
      .groupBy(col(s"a.$idCol").as(idCol))
      .agg(min(col(s"b.$idCol")).as("dup_of"))
    e.select(col(idCol), col("cell"))
      .join(dropped, Seq(idCol), "left_outer")
      .withColumn("keep", col("dup_of").isNull.cast("long"))
  }

  /** Hard-negative mining for contrastive training (the FaceNet device,
    * Schroff et al. 2015): for each anchor, the k most cosine-similar
    * corpus rows with a DIFFERENT label — "hard" because the encoder
    * currently confuses them — plus the anchor's best same-label
    * similarity, and the semi-hard flag (negative still inside the
    * positive's radius, the regime the triplet loss trains on).
    *
    * Scale shape: the anchor set is small by construction (a training
    * batch), so it broadcasts and the corpus streams through ONE pass
    * computing both the positive max and the negative top-k; the only
    * shuffle is the anchor-keyed window over candidate rows, and
    * WindowGroupLimit caps it at k rows per anchor pre-shuffle. At 100 TB
    * the brute-force scan swaps for [[ivfPqTopK]] candidates feeding the
    * same ranking — the output contract is unchanged. */
  def hardNegatives(anchors: DataFrame, corpus: DataFrame, idCol: String,
      embCol: String, labelCol: String, k: Int): DataFrame = {
    val a = withNorm(anchors.select(col(idCol).as("qid"), col(embCol).as("q_emb"),
      col(labelCol).as("q_label")), "q_emb", "q_nrm")
    val c = withNorm(corpus.select(col(idCol).as("cid"), col(embCol).as("c_emb"),
      col(labelCol).as("c_label")), "c_emb", "c_nrm")
    val scored = broadcast(a).crossJoin(c)
      .filter(col("qid") =!= col("cid"))
      .select(col("qid"), col("cid"), col("q_label"), col("c_label"),
        cosineScore("q_emb", "c_emb", "q_nrm", "c_nrm").as("sim"))
    val pos = scored.filter(col("q_label") === col("c_label"))
      .groupBy("qid").agg(max(col("sim")).as("pos_sim"))
    topKPerQuery(scored.filter(col("q_label") =!= col("c_label")), k, col("sim").desc)
      .join(broadcast(pos), Seq("qid"), "left_outer")
      .select(col("qid"), col("rn"), col("cid"), col("sim").as("neg_sim"),
        col("pos_sim"),
        // anchors with no same-label peer report semi_hard = 0, not NULL
        when(col("sim") < col("pos_sim"), 1L).otherwise(0L).as("semi_hard"))
  }

  /** k-center coreset by farthest-first traversal (Gonzalez 1985) — the
    * classic 2-approximation to the k-center cover, and the seeding step
    * of coreset-based data selection: pick the lowest id, then repeatedly
    * the point farthest (squared L2) from everything picked so far.
    * Returns (rank, id, radius) — radius is the pick's distance at
    * selection time, a non-increasing sequence that reads as the corpus
    * coverage curve.
    *
    * Scale shape: k passes over the corpus, each one scan computing a
    * rowwise min against the single newest center (a broadcast literal)
    * and one top-1 reduce — no pairwise table, no per-row state beyond
    * the running dmin column; localCheckpoint pins each pass so lineage
    * stays O(1). Driver pulls exactly one row per pass (k-bounded).
    *
    * Determinism: d² decomposes as na + nb − 2·a·b with every dot an
    * ascending-index sum, rounded to 4 before any comparison; ties break
    * to the lower id — a SQL twin replays the traversal exactly. */
  def kcenterCoreset(corpus: DataFrame, idCol: String, embCol: String,
      k: Int): DataFrame = {
    val spark = corpus.sparkSession
    graft.plans.GraftFunctions.register(spark)
    import spark.implicits._
    val base = corpus
      .select(col(idCol).cast("long").as("id"), col(embCol).as("emb"))
      .withColumn("na", expr("float_dot(emb, emb)"))
      .localCheckpoint()
    def centerLit(e: Seq[Float]): Column = array(e.map(lit): _*)
    def selfDot(e: Seq[Float]): Double = {
      var s = 0.0; var i = 0
      while (i < e.length) { s += e(i).toDouble * e(i); i += 1 }
      s
    }
    def d2(e: Seq[Float]): Column =
      round(col("na") + lit(selfDot(e)) -
        lit(2.0) * call_function("float_dot", col("emb"), centerLit(e)), 4)

    val first = base.orderBy("id").limit(1).select("id", "emb").head()
    var picked = List((1L, first.getLong(0), 0.0))
    var cur = base.withColumn("dmin", d2(first.getSeq[Float](1)))
      .localCheckpoint()
    (2 to k).foreach { j =>
      val p = cur.orderBy(col("dmin").desc, col("id")).limit(1)
        .select("id", "dmin", "emb").head()
      picked ::= ((j.toLong, p.getLong(0), p.getDouble(1)))
      cur = cur.withColumn("dmin",
        least(col("dmin"), d2(p.getSeq[Float](2)))).localCheckpoint()
    }
    picked.reverse.toDF("rank", "vec_id", "radius")
  }

  /** Margin-based bitext mining (Artetxe & Schwenk 2019, the LAŠER /
    * CCMatrix device): candidate translation pairs across two monolingual
    * sides score cos(x,y) divided by the mean of each side's k-nearest
    * cross-side similarities — the margin denominator cancels hubness, so
    * a pair only wins if it is similar BEYOND how similar its members are
    * to everything. Emits each source row's best target by margin (the
    * "max" strategy of the paper) with the forward margin.
    *
    * Determinism: per-pair cosines round to 4 decimals; each side's
    * k-NN sum accumulates those rounded values as DECIMAL(18,6) (exact,
    * order-free) and the final margin divides in one fixed expression
    * order — a SQL twin replays it bit-for-bit.
    *
    * Scale shape: the bipartite pair table is |X|·|Y| here (brute force —
    * correct baseline); at 100 TB each side's k-NN list comes from
    * [[ivfPqTopK]] and the margin join is two |X|·k tables keyed on the
    * pair — the ranking algebra below is unchanged. Window partitions are
    * per-source-row / per-target-row, never global. */
  def bitextMarginPairs(src: DataFrame, tgt: DataFrame, idCol: String,
      embCol: String, k: Int): DataFrame = {
    val pairs = bitextSims(
        bitextSrc(src, idCol, embCol).crossJoin(bitextTgt(tgt, idCol, embCol)))
      .localCheckpoint() // three consumers below; compute the O(|X||Y|) scan once
    val knnX = Relational.topKPerGroup(pairs, k, Seq(col("src_id")),
        Seq(col("sim").desc, col("tgt_id")))
      .groupBy("src_id")
      .agg(sum(col("sim").cast("decimal(18,6)")).cast("double").as("sx"))
    val knnY = Relational.topKPerGroup(pairs, k, Seq(col("tgt_id")),
        Seq(col("sim").desc, col("src_id")))
      .groupBy("tgt_id")
      .agg(sum(col("sim").cast("decimal(18,6)")).cast("double").as("sy"))
    bestByMargin(pairs, knnX, knnY, k)
  }

  /** The two sides of a bitext pair table: (src_id, x_emb, x_nrm) and
    * (tgt_id, y_emb, y_nrm). */
  private def bitextSrc(src: DataFrame, idCol: String, embCol: String): DataFrame =
    withNorm(src.select(col(idCol).as("src_id"), col(embCol).as("x_emb")),
      "x_emb", "x_nrm")
  private def bitextTgt(tgt: DataFrame, idCol: String, embCol: String): DataFrame =
    withNorm(tgt.select(col(idCol).as("tgt_id"), col(embCol).as("y_emb")),
      "y_emb", "y_nrm")

  /** (src_id, tgt_id, sim) over joined [[bitextSrc]] × [[bitextTgt]] rows. */
  private def bitextSims(pairs: DataFrame): DataFrame =
    pairs.select(col("src_id"), col("tgt_id"),
      cosineScore("x_emb", "y_emb", "x_nrm", "y_nrm").as("sim"))

  /** Each source row's best target by margin sim / ((sx + sy) / 2k) — the
    * ranking both bitext forms share, given each side's k-NN sim sums. */
  private def bestByMargin(sims: DataFrame, sx: DataFrame, sy: DataFrame,
      k: Int): DataFrame =
    Relational.topKPerGroup(
        sims.join(sx, "src_id").join(sy, "tgt_id")
          .select(col("src_id"), col("tgt_id"), col("sim"),
            round(col("sim") /
              ((col("sx") + col("sy")) / lit(2.0 * k.toDouble)), 4).as("margin")),
        1, Seq(col("src_id")), Seq(col("margin").desc, col("tgt_id")))
      .drop("rn")

  /** [[bitextMarginPairs]] with the 100 TB candidate path: each side's
    * k-NN list comes from [[ivfPqTopK]] (probed-cell equi-join candidates,
    * ADC-ranked — never an |X|·|Y| pair table), exact cosines are computed
    * ONLY on the union of the two k-NN lists, and the margin algebra is
    * UNCHANGED — sim / ((Σ_fwd + Σ_bwd) / 2k) with the forward/backward
    * sums over each side's k-NN pairs (Artetxe & Schwenk 2019 §3.2 run
    * their mining exactly this way, over FAISS shortlists).
    *
    * Scale shape: candidate volume is ≤ (|X|+|Y|)·k slim id pairs; the
    * exact-cosine fetch is two id equi-joins; per-query ADC work follows
    * probed-cell occupancy. Nothing anywhere is |X|·|Y|. When the probe
    * set covers every cell and k ≥ |Y|, the output equals the brute-force
    * [[bitextMarginPairs]] (the spec's cross-check).
    *
    * Determinism: identical devices to the brute form — 4-dp rounded
    * cosines, DECIMAL(18,6) k-NN sums, fixed-order margin division — plus
    * x57's integer-micros ADC, so a SQL twin replays candidates AND
    * margins bit-for-bit. */
  def bitextMarginPairsAnn(src: DataFrame, tgt: DataFrame, idCol: String,
      embCol: String, k: Int, nProbe: Int, srcSeeds: Seq[Long],
      tgtSeeds: Seq[Long], m: Int,
      codebook: Array[Array[Double]]): DataFrame = {
    val fw = ivfPqTopK(src, tgt, idCol, embCol, k, nProbe, tgtSeeds, m,
        codebook)
      .select(col("qid").as("src_id"), col("cid").as("tgt_id"))
    val bw = ivfPqTopK(tgt, src, idCol, embCol, k, nProbe, srcSeeds, m,
        codebook)
      .select(col("cid").as("src_id"), col("qid").as("tgt_id"))
    val cand = fw.union(bw).distinct()

    val sims = bitextSims(cand.join(bitextSrc(src, idCol, embCol), "src_id")
        .join(bitextTgt(tgt, idCol, embCol), "tgt_id"))
      .localCheckpoint() // consumed three times below; bounded (|X|+|Y|)·k rows

    val sx = fw.join(sims, Seq("src_id", "tgt_id")).groupBy("src_id")
      .agg(sum(col("sim").cast("decimal(18,6)")).cast("double").as("sx"))
    val sy = bw.join(sims, Seq("src_id", "tgt_id")).groupBy("tgt_id")
      .agg(sum(col("sim").cast("decimal(18,6)")).cast("double").as("sy"))
    bestByMargin(sims, sx, sy, k)
  }
}
