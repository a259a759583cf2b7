package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Integer-quantized embedding operators.
  *
  * The float embedding is quantized once — `q_i = floor(v_i * scale + 0.5)`
  * as a Long — and every downstream reduction (projection sums, squared
  * distances, per-cluster sums) runs in EXACT integer arithmetic. That buys
  * two properties the double-precision formulations lack:
  *
  *  - **Order-free determinism.** Integer addition is associative, so the
  *    result is identical under any Spark partitioning / AQE re-plan — no
  *    `+0.0` folds, no rounded-sum devices. The only floating-point steps
  *    are single divisions of identical integers, which every IEEE engine
  *    performs bit-identically.
  *  - **Oracle replay.** `floor(x * scale + 0.5)` is the same IEEE op
  *    sequence in Spark and in SQL (unlike `round()`, whose half-way rule
  *    differs between engines), so an external oracle recomputes every
  *    output from the raw floats, including argmin cluster assignments.
  *
  * Magnitude budget (|v| <= 1 assumed, dim <= 64): kmeans uses scale=1e4 so
  * the scaled distance `sum_i (q_i*n - s_i)^2` stays within 2^62 for
  * cluster sizes up to ~2M rows; projection uses scale=1e6 (no n factor).
  * At larger cluster cardinalities the quantized path would switch the
  * update step to double means — the assignment itself stays integer.
  */
object Quantized {

  /** Quantize a float array to Longs: floor(v*scale + 0.5) — identical IEEE
    * ops in Spark and SQL, no rounding-mode divergence on negative halves. */
  def quantizeUdf(scale: Double) = udf { v: Seq[Float] =>
    val out = new Array[Long](v.length)
    var i = 0
    while (i < v.length) {
      out(i) = math.floor(v(i).toDouble * scale + 0.5).toLong
      i += 1
    }
    out
  }

  /** Deterministic Achlioptas-style ±1 sign for input dim `i`, output dim
    * `j`: bit 16 of the LCG value ((i*outDim + j)*1103515245 + 12345) mod
    * 2^31 — high LCG bits mix well enough for a JL sketch and the whole
    * expression replays in integer SQL. */
  private[ops] def jlSign(i: Int, j: Int, outDim: Int): Long = {
    val h = ((i.toLong * outDim + j) * 1103515245L + 12345L) % 2147483648L
    1L - 2L * ((h / 65536L) % 2L)
  }

  /** Johnson–Lindenstrauss random projection dim → outDim with the ±1 sign
    * family above (Achlioptas 2003, public): proj_j = Σ_i q_i · s(i,j).
    * Row-local compiled kernel — zero shuffle at any corpus size; the 4×
    * (64→16) dimension cut is the standard pre-filter in front of exact
    * rescoring. E[|proj_j|²] = |q|², so `norm_ratio` =
    * (Σ_j proj_j²/outDim) / Σ_i q_i² concentrates near 1 — emitted as the
    * per-row distortion check. */
  def projectUdf(outDim: Int) = udf { q: Seq[Long] =>
    // materialize once: element access through the generic Seq in the hot
    // loop costs boxing + megamorphic dispatch (measured 45x on the kmeans
    // kernel below)
    val a = q.toArray
    val proj = new Array[Long](outDim)
    var j = 0
    while (j < outDim) {
      var s = 0L
      var i = 0
      while (i < a.length) { s += a(i) * jlSign(i, j, outDim); i += 1 }
      proj(j) = s
      j += 1
    }
    proj
  }

  /** Centroids as exact rationals in struct-of-arrays layout: `sums` is
    * k·dim Longs (centroid c occupies [c·dim, (c+1)·dim)), `ns` the k
    * member counts. Flat primitive arrays keep the argmin inner loop
    * monomorphic and box-free — the tupled Array-per-centroid layout plus
    * generic Seq element access measured 45x slower at k=400 (60 s → 1.3 s
    * on the 20k-vector probe corpus). */
  private final case class FlatCentroids(sums: Array[Long], ns: Array[Long], dim: Int) {
    def k: Int = ns.length
  }

  /** Exact scaled squared distance Σ (a_i·n − s_i)² from `a` to the
    * centroid whose `dim` member sums start at `sums(off)` and whose member
    * count is `n` — the one L2 kernel of the k-means assignment and the
    * outlier ranking. */
  private def scaledSqL2(a: Array[Long], sums: Array[Long], off: Int, dim: Int,
      n: Long): Long = {
    require(a.length == dim, s"vector has ${a.length} dimensions, " +
      s"expected $dim (the centroid dimension)")
    var acc = 0L
    var i = 0
    while (i < dim) { val d = a(i) * n - sums(off + i); acc += d * d; i += 1 }
    acc
  }

  /** Argmin cluster of `a` against centroids held as exact rationals
    * (sums_c, n_c): minimizes Σ (a_i·n_c − s_ci)² / n_c² — one double
    * division of exact integers per candidate, ties to the lowest cluster
    * id (matching SQL `ORDER BY dist, c LIMIT 1`). */
  private def nearestExact(a: Array[Long], fc: FlatCentroids): Int = {
    var best = 0
    var bestD = Double.MaxValue
    var c = 0
    while (c < fc.k) {
      val n = fc.ns(c)
      val dist = scaledSqL2(a, fc.sums, c * fc.dim, fc.dim, n).toDouble /
        (n.toDouble * n.toDouble)
      if (dist < bestD) { bestD = dist; best = c }
      c += 1
    }
    best
  }

  /** Lloyd k-means over quantized embeddings with caller-supplied seed
    * centroids (already quantized, in centroid-index order) — the
    * explicit-seeds entry point for tests and for callers that manage
    * their own (bounded) seed selection. Returns the flat
    * (cluster, pos, sum_q, n) of the FINAL assignment — all integers, so
    * the result is hash-stable under any partitioning. */
  private[graft] def lloydKmeansSeeded(df: DataFrame, idCol: String,
      embCol: String, seeds: Array[Array[Long]], scale: Double = 1e4,
      iters: Int = 2): DataFrame = {
    require(seeds.nonEmpty, "lloydKmeansSeeded: no seeds")
    val q = df.select(col(idCol).cast("long").as("id"),
        quantizeUdf(scale)(col(embCol)).as("q"))
    lloydRounds(q, seeds.map((_, 1L)), iters)
  }

  /** Fixed-k Lloyd k-means: seeds = the `k` rows with the SMALLEST salted
    * md5 of the decimal id string (ties to lowest id), centroid index = that
    * hash order — the x49/x86 seeded-hash device, so the seed set replays
    * in SQL (`row_number() OVER (ORDER BY md5(salt||id), id) <= k`).
    *
    * This is the 100 TB-correct configuration: unlike the `seedMod` rule
    * (k = n/seedMod, driver state O(n), assignment O(n²/seedMod)), k here
    * is corpus-independent — driver state is k·dim Longs, the seed pick is
    * a global bounded top-k (TakeOrderedAndProject: a k-heap per partition,
    * k rows to the driver), and assignment stays O(n·k) with constant k at
    * any corpus size.
    */
  def lloydKmeansFixedK(df: DataFrame, idCol: String, embCol: String,
      k: Int, salt: String, scale: Double = 1e4, iters: Int = 2): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val q = df.select(col(idCol).cast("long").as("id"),
        quantizeUdf(scale)(col(embCol)).as("q"))
    val seeds = q
      .withColumn("h", md5(concat(lit(salt), col("id").cast("string"))))
      .orderBy(col("h"), col("id")).limit(k)
      .select(col("q")).as[Seq[Long]].collect()
      .map(v => (v.toArray, 1L))
    require(seeds.nonEmpty, "lloydKmeansFixedK: no seed rows")
    lloydRounds(q, seeds, iters)
  }

  /** Shared Lloyd rounds: per round the k·dim centroid Longs (the ONLY
    * driver-side state) broadcast into a compiled argmin kernel; the update
    * is one element-wise Long-array aggregation with map-side combine.
    * Empty clusters keep their previous centroid. */
  private def lloydRounds(q: DataFrame, seeds: Array[(Array[Long], Long)],
      iters: Int): DataFrame = {
    val spark = q.sparkSession
    import spark.implicits._
    val dim = seeds.head._1.length

    var cents: Array[(Array[Long], Long)] = seeds
    var assigned: DataFrame = null
    (0 until iters).foreach { _ =>
      val bc = spark.sparkContext.broadcast(
        FlatCentroids(cents.flatMap(_._1), cents.map(_._2), dim))
      val assignUdf = udf { v: Seq[Long] => nearestExact(v.toArray, bc.value) }
      assigned = q.withColumn("cluster", assignUdf(col("q")))
      val agg = new graft.functions.LongVectorSumAggregator(dim)
      val sumVec = udaf(agg)
      val upd = assigned.groupBy("cluster")
        .agg(sumVec(col("q")).as("sums"), count(lit(1)).as("n"))
        .as[(Int, Seq[Long], Long)].collect()
        .map { case (c, s, n) => (c, (s.toArray, n)) }.toMap
      cents = cents.indices.map(i => upd.getOrElse(i, cents(i))).toArray
    }
    assigned
      .select(col("cluster"), posexplode(col("q")).as(Seq("p", "qv")))
      .groupBy(col("cluster"), (col("p") + 1).cast("long").as("pos"))
      .agg(sum("qv").as("sum_q"), count(lit(1)).as("n"))
  }

  /** Distance-to-centroid outliers: the `topN` vectors farthest from the
    * corpus centroid, ranked by the exact scaled distance
    * Σ (q_i·n − s_i)² (ties to lowest id). The centroid is a single
    * element-wise aggregate crossed back in — no driver collect, one
    * map-side-combined reduction plus a broadcast of one row; the ranking
    * is a global bounded top-k (TakeOrderedAndProject at plan level when
    * limited, WindowGroupLimit here), never a full sort of the corpus. */
  def centroidOutliers(df: DataFrame, idCol: String, embCol: String,
      topN: Int, scale: Double = 1e4): DataFrame = {
    val spark = df.sparkSession
    val dim = df.select(size(col(embCol))).first().getInt(0)
    val q = df.select(col(idCol).cast("long").as("id"),
      quantizeUdf(scale)(col(embCol)).as("q"))
    val agg = new graft.functions.LongVectorSumAggregator(dim)
    val sumVec = udaf(agg)
    val cent = q.agg(sumVec(col("q")).as("sums"), count(lit(1)).as("n"))
    val d2nUdf = udf { (v: Seq[Long], s: Seq[Long], n: Long) =>
      scaledSqL2(v.toArray, s.toArray, 0, dim, n)
    }
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("d2n").desc, col("id"))
    q.crossJoin(broadcast(cent))
      .select(col("id"), d2nUdf(col("q"), col("sums"), col("n")).as("d2n"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= topN)
  }
}
