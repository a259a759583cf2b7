package graft.ops

import org.apache.spark.sql.functions._
import graft.{QuerySpec, Tables}
import graft.functions.TextFunctions
import graft.ops.ExtensionQueries._

/** Vector/ANN family: cosine/LSH/IVF/PQ/OPQ serve paths, quantization,
  * clustering, and embedding-space diagnostics.
  *
  * Split out of ExtensionQueries (round 14: the single file had grown to
  * 21k lines); the shared helpers (context/pair builders, oracle CTEs,
  * sink-cleanup hooks) stay in [[ExtensionQueries]] and are imported
  * wholesale. Registered via ExtensionQueries.all — same names, same
  * specs, zero behavior change.
  */
object ExtensionAnnQueries {

  def all: Seq[QuerySpec] = Seq(
  // --------------------------------------------------------- similarity
    // Brute-force cosine top-5 for query vectors (vec_id < 20) — the exact
    // baseline an ANN variant is judged against.
    QuerySpec(
      "x5_cosine_topk",
      (s, dir) => {
        val e = Tables.embeddings(s, dir)
        Similarity.cosineTopK(
            e.filter(col("vec_id") < 20), e, "vec_id", "embedding", k = 5)
          .select(col("qid"), col("cid"), col("sim"), col("rn"))
          .orderBy("qid", "rn")
      },
      Some("""WITH e AS (
             |  SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS emb
             |  FROM embeddings),
             |n AS (SELECT vec_id, emb, sqrt(list_sum([x * x for x in emb])) AS nrm FROM e),
             |f AS (
             |  SELECT q.vec_id AS qid, c.vec_id AS cid, q.nrm AS qn, c.nrm AS cn,
             |    unnest(q.emb) AS qv, unnest(c.emb) AS cv
             |  FROM n q CROSS JOIN n c
             |  WHERE q.vec_id < 20 AND q.vec_id <> c.vec_id),
             |d AS (
             |  SELECT qid, cid,
             |    round(sum(qv * cv) / (any_value(qn) * any_value(cn)), 4) AS sim
             |  FROM f GROUP BY qid, cid)
             |SELECT qid, cid, sim,
             |  CAST(row_number() OVER (PARTITION BY qid ORDER BY sim DESC, cid) AS BIGINT) AS rn
             |FROM d QUALIFY rn <= 5 ORDER BY qid, rn""".stripMargin)),
    // LSH-bucketed ANN with SEED-VECTOR planes: bucket bit i is the sign of
    // the dot product against corpus row i — a pure function of the data —
    // so the oracle recomputes the buckets, the candidate set, and the
    // ranking. Fully hash-checked despite being an approximate index.
    // (The seeded-PRNG plane variant, lshTopK, stays in the library with
    // recall asserted in SimilaritySpec.)
    QuerySpec(
      "x6_ann_lsh",
      (s, dir) => {
        val e = Tables.embeddings(s, dir)
        Similarity.lshTopKSeeded(
            e.filter(col("vec_id") < 20), e, "vec_id", "embedding",
            k = 5, seedIds = Seq(0L, 1L, 2L, 3L))
          .select(col("qid"), col("cid"), col("sim"), col("rn"))
          .orderBy("qid", "rn")
      },
      Some("""WITH e AS (SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS emb FROM embeddings),
             |s AS (SELECT vec_id AS sid, emb AS semb FROM e WHERE vec_id IN (0,1,2,3)),
             |b AS (
             |  SELECT e.vec_id, e.emb, sqrt(list_sum([x*x for x in e.emb])) AS nrm,
             |    CAST(sum(CASE WHEN list_sum([e.emb[i]*s.semb[i] for i in range(1,65)]) >= 0
             |             THEN power(2, s.sid) ELSE 0 END) AS BIGINT) AS bucket
             |  FROM e CROSS JOIN s GROUP BY e.vec_id, e.emb),
             |f AS (
             |  SELECT q.vec_id AS qid, c.vec_id AS cid,
             |    round(list_sum([q.emb[i]*c.emb[i] for i in range(1,65)]) / (q.nrm*c.nrm), 4) AS sim
             |  FROM b q JOIN b c ON q.bucket = c.bucket AND q.vec_id <> c.vec_id
             |  WHERE q.vec_id < 20)
             |SELECT qid, cid, sim,
             |  CAST(row_number() OVER (PARTITION BY qid ORDER BY sim DESC, cid) AS BIGINT) AS rn
             |FROM f QUALIFY rn <= 5 ORDER BY qid, rn""".stripMargin)),
    // IVF ANN with SEED-VECTOR centroids (Voronoi cells of corpus rows 0..7,
    // multi-probe 3): the quantizer is argmin L2 to named data rows, so the
    // oracle replays cell assignment, probing, and ranking exactly. The
    // Lloyd-k-means variant (ivfTopK) stays in the library with recall
    // asserted in SimilaritySpec.
    QuerySpec(
      "x13_ann_ivf",
      (s, dir) => {
        val e = Tables.embeddings(s, dir)
        Similarity.ivfTopKSeeded(
            e.filter(col("vec_id") < 20), e, "vec_id", "embedding",
            k = 5, nProbe = 3, seedIds = (0L to 7L))
          .select(col("qid"), col("cid"), col("sim"), col("rn"))
          .orderBy("qid", "rn")
      },
      Some("""WITH e AS (SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS emb FROM embeddings),
             |s AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, emb AS cemb
             |      FROM e WHERE vec_id IN (0,1,2,3,4,5,6,7)),
             |d AS (
             |  SELECT e.vec_id, s.cell,
             |    list_sum([(e.emb[i]-s.cemb[i])*(e.emb[i]-s.cemb[i]) for i in range(1,65)]) AS d2
             |  FROM e CROSS JOIN s),
             |ranked AS (
             |  SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rnk
             |  FROM d),
             |assign AS (SELECT vec_id, cell FROM ranked WHERE rnk = 1),
             |probe AS (SELECT vec_id, cell FROM ranked WHERE rnk <= 3 AND vec_id < 20),
             |n AS (SELECT vec_id, emb, sqrt(list_sum([x*x for x in emb])) AS nrm FROM e),
             |f AS (
             |  SELECT p.vec_id AS qid, a.vec_id AS cid,
             |    round(list_sum([qn.emb[i]*cn.emb[i] for i in range(1,65)]) / (qn.nrm*cn.nrm), 4) AS sim
             |  FROM probe p JOIN assign a ON p.cell = a.cell AND p.vec_id <> a.vec_id
             |  JOIN n qn ON qn.vec_id = p.vec_id JOIN n cn ON cn.vec_id = a.vec_id)
             |SELECT qid, cid, sim,
             |  CAST(row_number() OVER (PARTITION BY qid ORDER BY sim DESC, cid) AS BIGINT) AS rn
             |FROM f QUALIFY rn <= 5 ORDER BY qid, rn""".stripMargin)),
    // Embedding-cosine near-dup pairs bucketed by SEED-VECTOR planes
    // (corpus rows 0,1): buckets, candidate pairs, and sims are all
    // recomputable from the table, so the approximate index is still
    // hash-checked end-to-end. Threshold 0.4 matches this corpus's tail.
    QuerySpec(
      "x15_cosine_neardup",
      (s, dir) =>
        Similarity.cosineNearDupsSeeded(Tables.embeddings(s, dir), "vec_id",
            "embedding", threshold = 0.4, seedIds = Seq(0L, 1L))
          .orderBy("id_a", "id_b"),
      Some("""WITH e AS (SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS emb FROM embeddings),
             |s AS (SELECT vec_id AS sid, emb AS semb FROM e WHERE vec_id IN (0,1)),
             |b AS (
             |  SELECT e.vec_id, e.emb, sqrt(list_sum([x*x for x in e.emb])) AS nrm,
             |    CAST(sum(CASE WHEN list_sum([e.emb[i]*s.semb[i] for i in range(1,65)]) >= 0
             |             THEN power(2, s.sid) ELSE 0 END) AS BIGINT) AS bucket
             |  FROM e CROSS JOIN s GROUP BY e.vec_id, e.emb),
             |p AS (
             |  SELECT a.vec_id AS id_a, b2.vec_id AS id_b,
             |    round(list_sum([a.emb[i]*b2.emb[i] for i in range(1,65)]) / (a.nrm*b2.nrm), 4) AS sim
             |  FROM b a JOIN b b2 ON a.bucket = b2.bucket AND a.vec_id < b2.vec_id)
             |SELECT id_a, id_b, sim FROM p WHERE sim >= 0.4
             |ORDER BY id_a, id_b""".stripMargin)),
    // Int8 embedding quantization (4x ANN index compression): per-vector
    // scale, quantized range, and dequantization MSE — every column
    // recomputable from the raw floats.
    QuerySpec(
      "x25_int8_quantize",
      (s, dir) =>
        Tables.embeddings(s, dir)
          .select(col("vec_id"),
            Similarity.int8QuantUdf(col("embedding")).as("qs"))
          .select(col("vec_id"),
            col("qs.q_min").cast("long").as("q_min"),
            col("qs.q_max").cast("long").as("q_max"),
            round(col("qs.mse_e6"), 4).as("mse_e6"))
          .orderBy("vec_id"),
      Some("""WITH e AS (SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS emb FROM embeddings),
             |s AS (SELECT vec_id, emb, list_max([abs(x) for x in emb]) / 127 AS scale FROM e
             |      WHERE list_max([abs(x) for x in emb]) > 0),
             |q AS (SELECT vec_id, scale, emb,
             |        [greatest(-127, least(127, round(x / scale))) for x in emb] AS qs
             |      FROM s)
             |SELECT vec_id,
             |  CAST(list_min(qs) AS BIGINT) AS q_min,
             |  CAST(list_max(qs) AS BIGINT) AS q_max,
             |  round(list_sum([(qs[i]*scale - emb[i]) * (qs[i]*scale - emb[i])
             |                  for i in range(1, len(emb)+1)]) / len(emb) * 1000000, 4)
             |    AS mse_e6
             |FROM q ORDER BY vec_id""".stripMargin)),
    // Per-label embedding centroid, element-wise (the relational twin of
    // functions.VectorAggregates.CentroidAggregator — equality of the two
    // is asserted in VectorAggregatesSpec; this flat shape is what the
    // oracle can express).
    QuerySpec(
      "x12_centroid",
      (s, dir) =>
        Tables.embeddings(s, dir)
          .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "v")))
          .groupBy(col("label"), (col("pos") + 1).cast("long").as("pos"))
          // + 0.0 folds IEEE -0.0 to +0.0 (engines differ; hash compare cares)
          .agg((round(avg(col("v").cast("double")), 3) + 0.0).as("mean_v"),
            count(lit(1)).as("n"))
          .orderBy("label", "pos"),
      Some("""SELECT label, CAST(pos AS BIGINT) AS pos,
             |  round(avg(CAST(v AS DOUBLE)), 3) + 0.0 AS mean_v, COUNT(*) AS n
             |FROM (SELECT label, unnest(embedding) AS v,
             |        generate_subscripts(embedding, 1) AS pos
             |      FROM embeddings)
             |GROUP BY label, pos ORDER BY label, pos""".stripMargin)),
    // ------------------------------------------------ product quantization
    // PQ codes + reconstruction distortion over the embedding table, with a
    // seed-vector codebook (16 centroids × 8 subspaces of 8 dims) the
    // oracle rebuilds from the table itself. Row-local kernel; no shuffle.
    QuerySpec(
      "x30_pq_codes",
      (s, dir) => {
        val e = Tables.embeddings(s, dir)
        val codebook = Similarity.seedCentroids(e, "vec_id", "embedding", (0L to 15L))
        Similarity.pqEncode(e, "vec_id", "embedding", m = 8, codebook)
          .orderBy("vec_id")
      },
      Some("""WITH e AS (SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS emb
             |           FROM embeddings),
             |cb AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS c, emb AS cemb
             |       FROM e WHERE vec_id BETWEEN 0 AND 15),
             |sub AS (SELECT unnest(range(0, 8)) AS s),
             |d AS (
             |  SELECT e.vec_id, sub.s, cb.c,
             |    list_sum([(e.emb[8*sub.s+i]-cb.cemb[8*sub.s+i])
             |              *(e.emb[8*sub.s+i]-cb.cemb[8*sub.s+i])
             |              for i in range(1, 9)]) AS d2
             |  FROM e CROSS JOIN sub CROSS JOIN cb),
             |best AS (SELECT vec_id, s, c, d2,
             |           row_number() OVER (PARTITION BY vec_id, s ORDER BY d2, c) AS rnk
             |         FROM d),
             |agg AS (SELECT vec_id, string_agg(c, '-' ORDER BY s) AS codes, SUM(d2) AS sse
             |        FROM best WHERE rnk = 1 GROUP BY 1)
             |SELECT vec_id, codes, round(sse/64*1000000, 4) AS mse_e6
             |FROM agg ORDER BY vec_id""".stripMargin)),
    // Matryoshka truncation evaluation: retrieval quality of 16-dim
    // prefixes vs full 64-dim embeddings (the MRL deployment question —
    // Kusupati et al. 2022, public: can the index store a prefix?).
    // Truncation is a row-local slice (cosine self-normalizes, so no
    // explicit renormalize); both top-5 sweeps reuse the exact cosineTopK
    // operator and the overlap flag is a (qid, cid) equi-join. Exact
    // brute-force on both sides keeps the oracle replayable; the ANN paths
    // (x6/x13) are the production index.
    QuerySpec(
      "x37_matryoshka_eval",
      (s, dir) => {
        val e = Tables.embeddings(s, dir)
        val full = Similarity
          .cosineTopK(e.filter(col("vec_id") < 20), e, "vec_id", "embedding", k = 5)
          .select(col("qid"), col("cid"), lit(1L).as("hit"))
        val trunc = e.select(col("vec_id"), slice(col("embedding"), 1, 16).as("emb16"))
        Similarity
          .cosineTopK(trunc.filter(col("vec_id") < 20), trunc, "vec_id", "emb16", k = 5)
          .join(full, Seq("qid", "cid"), "left")
          .select(col("qid"), col("rn"), col("cid"), col("sim").as("sim_trunc"),
            coalesce(col("hit"), lit(0L)).as("in_full_top5"))
          .orderBy("qid", "rn")
      },
      Some("""WITH e AS (
             |  SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS emb
             |  FROM embeddings),
             |f AS (SELECT vec_id, emb, sqrt(list_sum([x*x for x in emb])) AS nrm FROM e),
             |t AS (SELECT vec_id, emb[1:16] AS temb,
             |             sqrt(list_sum([x*x for x in emb[1:16]])) AS tnrm FROM e),
             |pairs AS (
             |  SELECT q.vec_id AS qid, c.vec_id AS cid,
             |    round(list_sum([q.emb[i]*c.emb[i] for i in range(1,65)])/(q.nrm*c.nrm), 4) AS sim_full
             |  FROM f q CROSS JOIN f c WHERE q.vec_id < 20 AND q.vec_id <> c.vec_id),
             |tpairs AS (
             |  SELECT q.vec_id AS qid, c.vec_id AS cid,
             |    round(list_sum([q.temb[i]*c.temb[i] for i in range(1,17)])/(q.tnrm*c.tnrm), 4) AS sim_trunc
             |  FROM t q CROSS JOIN t c WHERE q.vec_id < 20 AND q.vec_id <> c.vec_id),
             |topf AS (SELECT qid, cid,
             |           row_number() OVER (PARTITION BY qid ORDER BY sim_full DESC, cid) AS rn
             |         FROM pairs QUALIFY rn <= 5),
             |topt AS (SELECT qid, cid, sim_trunc,
             |           row_number() OVER (PARTITION BY qid ORDER BY sim_trunc DESC, cid) AS rn
             |         FROM tpairs QUALIFY rn <= 5)
             |SELECT t.qid, CAST(t.rn AS BIGINT) AS rn, t.cid, t.sim_trunc,
             |  CAST(EXISTS(SELECT 1 FROM topf f2
             |              WHERE f2.qid = t.qid AND f2.cid = t.cid) AS BIGINT) AS in_full_top5
             |FROM topt t ORDER BY qid, rn""".stripMargin)),
    // PQ ADC top-k search — the query half of x30's product quantization:
    // per-query LUT of (subspace, centroid) squared distances, approximate
    // distance to a coded vector = m lookups. Corpus rides through the
    // join as (id, m-byte code) only; the nearest-first ranking replays in
    // SQL because codebook and codes are seed-vector-recomputable (x30)
    // and the LUT rows are exactly the d2 table the code assignment uses.
    QuerySpec(
      "x42_pq_adc_topk",
      (s, dir) => {
        val e = Tables.embeddings(s, dir)
        val codebook = Similarity.seedCentroids(e, "vec_id", "embedding", (0L to 15L))
        Similarity.pqAdcTopK(e.filter(col("vec_id") < 5), e,
            "vec_id", "embedding", m = 8, k = 10, codebook)
          .orderBy("qid", "rn")
      },
      Some("""WITH e AS (SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS emb FROM embeddings),
             |cb AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS c, emb AS cemb
             |       FROM e WHERE vec_id BETWEEN 0 AND 15),
             |sub AS (SELECT unnest(range(0, 8)) AS s),
             |d AS (
             |  SELECT e.vec_id, sub.s, cb.c,
             |    list_sum([(e.emb[8*sub.s+i]-cb.cemb[8*sub.s+i])
             |              *(e.emb[8*sub.s+i]-cb.cemb[8*sub.s+i])
             |              for i in range(1, 9)]) AS d2
             |  FROM e CROSS JOIN sub CROSS JOIN cb),
             |code AS (SELECT vec_id, s, c,
             |           row_number() OVER (PARTITION BY vec_id, s ORDER BY d2, c) AS rnk
             |         FROM d),
             |cc AS (SELECT vec_id AS cid, s, c FROM code WHERE rnk = 1),
             |lut AS (SELECT vec_id AS qid, s, c,
             |          CAST(round(d2, 6) AS DECIMAL(18,6)) AS d2
             |        FROM d WHERE vec_id < 5),
             |f AS (SELECT l.qid, cc.cid, round(CAST(SUM(l.d2) AS DOUBLE), 4) AS adc
             |      FROM cc JOIN lut l USING (s, c) WHERE cc.cid <> l.qid
             |      GROUP BY 1, 2)
             |SELECT qid, cid, adc,
             |  CAST(row_number() OVER (PARTITION BY qid ORDER BY adc, cid) AS BIGINT) AS rn
             |FROM f QUALIFY rn <= 10 ORDER BY qid, rn""".stripMargin)),
    // Z-order (Morton) clustering key over (customer, order-day) — the
    // write-side layout primitive behind two-dimensional file pruning
    // (Layout.zOrdered range-partitions + sorts on it; ZOrderSpec shows
    // both dimensions narrow per partition at once). Codegen'd native
    // expression, integer-only math, key replayed bit-for-bit in SQL.
    QuerySpec(
      "x48_zorder_key",
      (s, dir) => {
        graft.plans.GraftFunctions.register(s)
        Tables.orders(s, dir)
          .select(col("o_orderkey"),
            col("o_custkey").cast("long").as("a"),
            datediff(to_date(col("o_orderdate")), lit("1995-01-01"))
              .cast("long").as("b"))
          .select(col("o_orderkey"), col("a"), col("b"),
            expr("zorder_key(a, b)").as("zkey"))
          .orderBy("o_orderkey")
      },
      Some("""WITH d AS (
             |  SELECT o_orderkey, CAST(o_custkey AS BIGINT) AS a,
             |    CAST(date_diff('day', TIMESTAMP '1995-01-01', o_orderdate) AS BIGINT) AS b
             |  FROM orders)
             |SELECT o_orderkey, a, b,
             |  CAST(list_sum([ ((a // (CAST(1 AS BIGINT) << i)) % 2) * (CAST(1 AS BIGINT) << (2*i))
             |                + ((b // (CAST(1 AS BIGINT) << i)) % 2) * (CAST(1 AS BIGINT) << (2*i+1))
             |                for i in range(0, 21)]) AS BIGINT) AS zkey
             |FROM d ORDER BY o_orderkey""".stripMargin)),
    // Johnson–Lindenstrauss ±1 projection 64 → 16 dims over the quantized
    // embedding (Quantized.projectUdf): the 4× dimension cut used as an ANN
    // pre-filter. Exact integer sums — hash-stable under any partitioning —
    // with the per-row norm-ratio distortion check as the only (single-
    // division) floating-point step.
    QuerySpec(
      "x51_random_projection",
      (s, dir) =>
        Tables.embeddings(s, dir)
          .select(col("vec_id"),
            Quantized.quantizeUdf(1e6)(col("embedding")).as("q"))
          .select(col("vec_id"), col("q"),
            Quantized.projectUdf(16)(col("q")).as("proj"))
          .withColumn("sum_p2",
            expr("aggregate(proj, CAST(0 AS BIGINT), (a, x) -> a + x * x)"))
          .withColumn("sum_q2",
            expr("aggregate(q, CAST(0 AS BIGINT), (a, x) -> a + x * x)"))
          .select(col("vec_id"),
            array_join(transform(col("proj"), _.cast("string")), ",").as("proj"),
            when(col("sum_q2") > 0,
              round(col("sum_p2").cast("double") / 16 / col("sum_q2"), 4))
              .otherwise(lit(null).cast("double")).as("norm_ratio"))
          .orderBy("vec_id"),
      Some("""WITH e AS (SELECT vec_id,
             |  [CAST(floor(CAST(x AS DOUBLE)*1000000 + 0.5) AS BIGINT) for x in embedding] AS q FROM embeddings),
             |p AS (SELECT vec_id, q,
             |  [CAST(list_sum([q[i+1] * (1 - 2*(((((i*16+j)*1103515245 + 12345) % 2147483648) // 65536) % 2))
             |                  for i in range(0, len(q))]) AS BIGINT) for j in range(0, 16)] AS proj
             |  FROM e)
             |SELECT vec_id, array_to_string(proj, ',') AS proj,
             |  CASE WHEN list_sum([x*x for x in q]) > 0 THEN
             |    round(CAST(list_sum([x*x for x in proj]) AS DOUBLE) / 16 / list_sum([x*x for x in q]), 4)
             |  ELSE NULL END AS norm_ratio
             |FROM p ORDER BY vec_id""".stripMargin)),
    // Two Lloyd rounds of k-means over quantized embeddings (the curation
    // clustering primitive behind SemDeDup/cluster-balanced sampling).
    // Seeds = the k=16 rows with the smallest salted md5(vec_id) — k is
    // CORPUS-INDEPENDENT (the x49/x86 seeded-hash device), so driver state
    // is k·dim Longs at any corpus size, the seed pick is a bounded global
    // top-k (TakeOrderedAndProject), and assignment is O(n·k) with constant
    // k. Per round the centroids broadcast into a compiled argmin kernel
    // and the update is one map-side-combined array aggregation — no
    // explode, no corpus-proportional driver collect. All-integer distances
    // (scale 1e4) make even the ASSIGNMENTS replay exactly in the oracle;
    // output is the final (cluster, pos, sum_q, n).
    QuerySpec(
      "x52_kmeans_lloyd",
      (s, dir) =>
        Quantized.lloydKmeansFixedK(Tables.embeddings(s, dir), "vec_id",
            "embedding", k = 16, salt = "graft-kmeans-42:", scale = 1e4,
            iters = 2)
          .select(col("cluster").cast("long").as("cluster"), col("pos"),
            col("sum_q"), col("n"))
          .orderBy("cluster", "pos"),
      Some("""WITH e AS (SELECT vec_id,
             |  [CAST(floor(CAST(x AS DOUBLE)*10000 + 0.5) AS BIGINT) for x in embedding] AS q FROM embeddings),
             |s AS (SELECT (row_number() OVER (ORDER BY md5('graft-kmeans-42:' || CAST(vec_id AS VARCHAR)), vec_id) - 1) AS c, q
             |      FROM e QUALIFY c <= 15),
             |a1 AS (
             |  SELECT e.vec_id, s.c,
             |    list_sum([(e.q[i+1] - s.q[i+1])*(e.q[i+1] - s.q[i+1]) for i in range(0, len(e.q))]) AS d2
             |  FROM e CROSS JOIN s
             |  QUALIFY row_number() OVER (PARTITION BY e.vec_id ORDER BY d2, s.c) = 1),
             |m1 AS (SELECT a1.c, generate_subscripts(e.q, 1) AS pos, unnest(e.q) AS qv
             |       FROM a1 JOIN e USING (vec_id)),
             |c1 AS (SELECT c, pos, CAST(SUM(qv) AS BIGINT) AS sv, CAST(COUNT(*) AS BIGINT) AS n
             |       FROM m1 GROUP BY 1, 2),
             |c1arr AS (
             |  SELECT s.c,
             |    CASE WHEN COUNT(c1.sv) = 0 THEN s.q ELSE list(c1.sv ORDER BY c1.pos) END AS sums,
             |    CASE WHEN COUNT(c1.sv) = 0 THEN 1 ELSE any_value(c1.n) END AS n
             |  FROM s LEFT JOIN c1 USING (c) GROUP BY s.c, s.q),
             |a2 AS (
             |  SELECT e.vec_id, c1arr.c,
             |    CAST(list_sum([(e.q[i+1]*c1arr.n - c1arr.sums[i+1])*(e.q[i+1]*c1arr.n - c1arr.sums[i+1])
             |                   for i in range(0, len(e.q))]) AS DOUBLE)
             |      / (CAST(c1arr.n AS DOUBLE) * c1arr.n) AS dist
             |  FROM e CROSS JOIN c1arr
             |  QUALIFY row_number() OVER (PARTITION BY e.vec_id ORDER BY dist, c1arr.c) = 1),
             |f AS (SELECT a2.c AS cluster, generate_subscripts(e.q, 1) AS pos, unnest(e.q) AS qv
             |      FROM a2 JOIN e USING (vec_id))
             |SELECT CAST(cluster AS BIGINT) AS cluster, CAST(pos AS BIGINT) AS pos,
             |  CAST(SUM(qv) AS BIGINT) AS sum_q, CAST(COUNT(*) AS BIGINT) AS n
             |FROM f GROUP BY 1, 2 ORDER BY cluster, pos""".stripMargin)),
    // Embedding outliers: top-25 farthest from the corpus centroid under
    // the exact scaled distance Σ(q_i·n − s_i)² — the "drop the weird
    // tail" curation gate. Centroid = one map-side-combined Long-array
    // aggregate crossed back as a broadcast row (no driver collect); the
    // ranking is a bounded top-k, not a full corpus sort.
    QuerySpec(
      "x54_centroid_outliers",
      (s, dir) =>
        Quantized.centroidOutliers(Tables.embeddings(s, dir), "vec_id",
            "embedding", topN = 25, scale = 1e4)
          .select(col("id").as("vec_id"), col("d2n"), col("rank"))
          .orderBy("rank"),
      Some("""WITH e AS (SELECT vec_id,
             |  [CAST(floor(CAST(x AS DOUBLE)*10000 + 0.5) AS BIGINT) for x in embedding] AS q FROM embeddings),
             |u AS (SELECT vec_id, generate_subscripts(q, 1) AS pos, unnest(q) AS qv FROM e),
             |cent AS (SELECT pos, CAST(SUM(qv) AS BIGINT) AS sv FROM u GROUP BY 1),
             |nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM e),
             |d AS (SELECT u.vec_id, CAST(SUM((u.qv*nn.n - cent.sv)*(u.qv*nn.n - cent.sv)) AS BIGINT) AS d2n
             |      FROM u JOIN cent USING (pos) CROSS JOIN nn GROUP BY 1)
             |SELECT vec_id, d2n, CAST(row_number() OVER (ORDER BY d2n DESC, vec_id) AS BIGINT) AS rank
             |FROM d QUALIFY rank <= 25 ORDER BY rank""".stripMargin)),
    // IVF-PQ: the two ANN halves composed the way FAISS ships them — the
    // seeded coarse quantizer bounds WHICH rows are scored (x13's probe
    // join, equi on the cell key), PQ-ADC bounds the COST PER ROW (x42's m
    // LUT lookups over the m-byte code). Candidates follow probed-cell
    // occupancy and full vectors are never reread after encoding: the
    // index for when both corpus size and dimensionality hurt. Oracle
    // replays BOTH stages (seed cells + codes + LUT are all corpus-row
    // arithmetic).
    QuerySpec(
      "x57_ivfpq_topk",
      (s, dir) => {
        val e = Tables.embeddings(s, dir)
        val codebook = Similarity.seedCentroids(e, "vec_id", "embedding", (0L to 15L))
        Similarity.ivfPqTopK(e.filter(col("vec_id") < 5), e,
            "vec_id", "embedding", k = 10, nProbe = 3,
            seedIds = (0L to 7L), m = 8, codebook)
          .orderBy("qid", "rn")
      },
      Some("""WITH e AS (SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS emb FROM embeddings),
             |ivf AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, emb AS cemb
             |        FROM e WHERE vec_id IN (0,1,2,3,4,5,6,7)),
             |dv AS (SELECT e.vec_id, ivf.cell,
             |         list_sum([(e.emb[i]-ivf.cemb[i])*(e.emb[i]-ivf.cemb[i]) for i in range(1,65)]) AS d2
             |       FROM e CROSS JOIN ivf),
             |rankedv AS (SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rnk FROM dv),
             |assign AS (SELECT vec_id, cell FROM rankedv WHERE rnk = 1),
             |probe AS (SELECT vec_id, cell FROM rankedv WHERE rnk <= 3 AND vec_id < 5),
             |cb AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS c, emb AS cemb
             |       FROM e WHERE vec_id BETWEEN 0 AND 15),
             |sub AS (SELECT unnest(range(0, 8)) AS s),
             |d AS (SELECT e.vec_id, sub.s, cb.c,
             |        list_sum([(e.emb[8*sub.s+i]-cb.cemb[8*sub.s+i])*(e.emb[8*sub.s+i]-cb.cemb[8*sub.s+i])
             |                  for i in range(1, 9)]) AS d2
             |      FROM e CROSS JOIN sub CROSS JOIN cb),
             |code AS (SELECT vec_id, s, c, row_number() OVER (PARTITION BY vec_id, s ORDER BY d2, c) AS rnk FROM d),
             |cc AS (SELECT vec_id AS cid, s, c FROM code WHERE rnk = 1),
             |lut AS (SELECT vec_id AS qid, s, c, CAST(round(d2, 6) AS DECIMAL(18,6)) AS d2 FROM d WHERE vec_id < 5),
             |cand AS (SELECT p.vec_id AS qid, a.vec_id AS cid
             |         FROM probe p JOIN assign a ON p.cell = a.cell AND a.vec_id <> p.vec_id),
             |f AS (SELECT cand.qid, cand.cid, round(CAST(SUM(l.d2) AS DOUBLE), 4) AS adc
             |      FROM cand JOIN cc ON cc.cid = cand.cid
             |      JOIN lut l ON l.qid = cand.qid AND l.s = cc.s AND l.c = cc.c
             |      GROUP BY 1, 2)
             |SELECT qid, cid, adc, CAST(row_number() OVER (PARTITION BY qid ORDER BY adc, cid) AS BIGINT) AS rn
             |FROM f QUALIFY rn <= 10 ORDER BY qid, rn""".stripMargin)),
    // ANN index-quality eval: recall@10 of the IVF-PQ index (x57's exact
    // configuration) against the exact cosine top-10 — the measurement
    // that decides nProbe/m/codebook before an index ships. Composes the
    // two verified operators; one left join on (qid, cid). The honest
    // numbers here (recall ~0.2-0.5) are WHY the eval op exists: m=8 seed
    // codebooks at nProbe=3 are coarse, and this query is the dial.
    QuerySpec(
      "x63_ann_recall",
      (s, dir) => {
        val e = Tables.embeddings(s, dir)
        val q = e.filter(col("vec_id") < 5)
        val exact = Similarity.cosineTopK(q, e, "vec_id", "embedding", k = 10)
          .select(col("qid"), col("cid"))
        val codebook = Similarity.seedCentroids(e, "vec_id", "embedding", (0L to 15L))
        val approx = Similarity.ivfPqTopK(q, e, "vec_id", "embedding",
            k = 10, nProbe = 3, seedIds = (0L to 7L), m = 8, codebook)
          .select(col("qid"), col("cid")).withColumn("hit", lit(1L))
        exact.join(approx, Seq("qid", "cid"), "left")
          .groupBy("qid")
          .agg(count(lit(1)).as("k"),
            sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
          .select(col("qid"), col("k"), col("n_hit"),
            round(col("n_hit").cast("double") / col("k"), 4).as("recall"))
          .orderBy("qid")
      },
      Some("""WITH e AS (SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS emb FROM embeddings),
             |n AS (SELECT vec_id, emb, sqrt(list_sum([x * x for x in emb])) AS nrm FROM e),
             |ex AS (
             |  SELECT q.vec_id AS qid, c.vec_id AS cid,
             |    round(list_sum([q.emb[i]*c.emb[i] for i in range(1,65)]) / (q.nrm*c.nrm), 4) AS sim
             |  FROM n q CROSS JOIN n c WHERE q.vec_id < 5 AND q.vec_id <> c.vec_id),
             |exact10 AS (
             |  SELECT qid, cid FROM (
             |    SELECT qid, cid, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, cid) AS rn FROM ex)
             |  WHERE rn <= 10),
             |ivf AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, emb AS cemb
             |        FROM e WHERE vec_id IN (0,1,2,3,4,5,6,7)),
             |dv AS (SELECT e.vec_id, ivf.cell,
             |         list_sum([(e.emb[i]-ivf.cemb[i])*(e.emb[i]-ivf.cemb[i]) for i in range(1,65)]) AS d2
             |       FROM e CROSS JOIN ivf),
             |rankedv AS (SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rnk FROM dv),
             |assign AS (SELECT vec_id, cell FROM rankedv WHERE rnk = 1),
             |probe AS (SELECT vec_id, cell FROM rankedv WHERE rnk <= 3 AND vec_id < 5),
             |cb AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS c, emb AS cemb
             |       FROM e WHERE vec_id BETWEEN 0 AND 15),
             |sub AS (SELECT unnest(range(0, 8)) AS s),
             |d AS (SELECT e.vec_id, sub.s, cb.c,
             |        list_sum([(e.emb[8*sub.s+i]-cb.cemb[8*sub.s+i])*(e.emb[8*sub.s+i]-cb.cemb[8*sub.s+i])
             |                  for i in range(1, 9)]) AS d2
             |      FROM e CROSS JOIN sub CROSS JOIN cb),
             |code AS (SELECT vec_id, s, c, row_number() OVER (PARTITION BY vec_id, s ORDER BY d2, c) AS rnk FROM d),
             |cc AS (SELECT vec_id AS cid, s, c FROM code WHERE rnk = 1),
             |lut AS (SELECT vec_id AS qid, s, c, CAST(round(d2, 6) AS DECIMAL(18,6)) AS d2 FROM d WHERE vec_id < 5),
             |cand AS (SELECT p.vec_id AS qid, a.vec_id AS cid
             |         FROM probe p JOIN assign a ON p.cell = a.cell AND a.vec_id <> p.vec_id),
             |f AS (SELECT cand.qid, cand.cid, round(CAST(SUM(l.d2) AS DOUBLE), 4) AS adc
             |      FROM cand JOIN cc ON cc.cid = cand.cid
             |      JOIN lut l ON l.qid = cand.qid AND l.s = cc.s AND l.c = cc.c
             |      GROUP BY 1, 2),
             |approx10 AS (
             |  SELECT qid, cid FROM (
             |    SELECT qid, cid, row_number() OVER (PARTITION BY qid ORDER BY adc, cid) AS rn FROM f)
             |  WHERE rn <= 10)
             |SELECT e10.qid, CAST(COUNT(*) AS BIGINT) AS k,
             |  CAST(COUNT(a10.cid) AS BIGINT) AS n_hit,
             |  round(CAST(COUNT(a10.cid) AS DOUBLE) / COUNT(*), 4) AS recall
             |FROM exact10 e10 LEFT JOIN approx10 a10 USING (qid, cid)
             |GROUP BY 1 ORDER BY qid""".stripMargin)),
    // IVF-PQ with an exact re-rank tail (FAISS's IndexRefineFlat device):
    // the tuned answer to x63's honest recall numbers — the ADC shortlist
    // (nProbe=4, refine=100) only has to RETAIN the true neighbors, and
    // the final order is true cosine over shortlist members' full vectors.
    // Measured recall@10 vs x5's exact baseline: 0.94 mean (x69 is the
    // oracle-checked eval). Oracle replays all three stages: seeded cells,
    // PQ codes + LUT shortlist, cosine re-rank.
    QuerySpec(
      "x68_ivfpq_refined",
      (s, dir) => {
        val e = Tables.embeddings(s, dir)
        val codebook = Similarity.seedCentroids(e, "vec_id", "embedding", (0L to 15L))
        Similarity.ivfPqRefineTopK(e.filter(col("vec_id") < 5), e,
            "vec_id", "embedding", k = 10, nProbe = 4,
            seedIds = (0L to 7L), m = 8, codebook, refine = 100)
          .orderBy("qid", "rn")
      },
      Some("""WITH e AS (SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS emb FROM embeddings),
             |n AS (SELECT vec_id, emb, sqrt(list_sum([x * x for x in emb])) AS nrm FROM e),
             |ivf AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, emb AS cemb
             |        FROM e WHERE vec_id IN (0,1,2,3,4,5,6,7)),
             |dv AS (SELECT e.vec_id, ivf.cell,
             |         list_sum([(e.emb[i]-ivf.cemb[i])*(e.emb[i]-ivf.cemb[i]) for i in range(1,65)]) AS d2
             |       FROM e CROSS JOIN ivf),
             |rankedv AS (SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rnk FROM dv),
             |assign AS (SELECT vec_id, cell FROM rankedv WHERE rnk = 1),
             |probe AS (SELECT vec_id, cell FROM rankedv WHERE rnk <= 4 AND vec_id < 5),
             |cb AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS c, emb AS cemb
             |       FROM e WHERE vec_id BETWEEN 0 AND 15),
             |sub AS (SELECT unnest(range(0, 8)) AS s),
             |d AS (SELECT e.vec_id, sub.s, cb.c,
             |        list_sum([(e.emb[8*sub.s+i]-cb.cemb[8*sub.s+i])*(e.emb[8*sub.s+i]-cb.cemb[8*sub.s+i])
             |                  for i in range(1, 9)]) AS d2
             |      FROM e CROSS JOIN sub CROSS JOIN cb),
             |code AS (SELECT vec_id, s, c, row_number() OVER (PARTITION BY vec_id, s ORDER BY d2, c) AS rnk FROM d),
             |cc AS (SELECT vec_id AS cid, s, c FROM code WHERE rnk = 1),
             |lut AS (SELECT vec_id AS qid, s, c, CAST(round(d2, 6) AS DECIMAL(18,6)) AS d2 FROM d WHERE vec_id < 5),
             |cand AS (SELECT p.vec_id AS qid, a.vec_id AS cid
             |         FROM probe p JOIN assign a ON p.cell = a.cell AND a.vec_id <> p.vec_id),
             |f AS (SELECT cand.qid, cand.cid, round(CAST(SUM(l.d2) AS DOUBLE), 4) AS adc
             |      FROM cand JOIN cc ON cc.cid = cand.cid
             |      JOIN lut l ON l.qid = cand.qid AND l.s = cc.s AND l.c = cc.c
             |      GROUP BY 1, 2),
             |short AS (SELECT qid, cid FROM (
             |    SELECT qid, cid, row_number() OVER (PARTITION BY qid ORDER BY adc, cid) AS rn FROM f)
             |  WHERE rn <= 100),
             |r AS (SELECT s.qid, s.cid,
             |        round(list_sum([q.emb[i]*c.emb[i] for i in range(1,65)]) / (q.nrm*c.nrm), 4) AS sim
             |      FROM short s JOIN n q ON q.vec_id = s.qid JOIN n c ON c.vec_id = s.cid)
             |SELECT qid, cid, sim, CAST(row_number() OVER (PARTITION BY qid ORDER BY sim DESC, cid) AS BIGINT) AS rn
             |FROM r QUALIFY rn <= 10 ORDER BY qid, rn""".stripMargin)),
    // Recall@10 of the REFINED index (x68's exact configuration) against
    // the exact cosine top-10 — x63's eval re-run at the tuned operating
    // point. x63 measures the ADC-only ranking at 0.2–0.5 and stays as the
    // "before" record; this query is the "after": every qid at or above
    // 0.9, mean 0.94 — the dial landed where an index would actually ship.
    QuerySpec(
      "x69_ann_recall_tuned",
      (s, dir) => {
        val e = Tables.embeddings(s, dir)
        val q = e.filter(col("vec_id") < 5)
        val exact = Similarity.cosineTopK(q, e, "vec_id", "embedding", k = 10)
          .select(col("qid"), col("cid"))
        val codebook = Similarity.seedCentroids(e, "vec_id", "embedding", (0L to 15L))
        val approx = Similarity.ivfPqRefineTopK(q, e, "vec_id", "embedding",
            k = 10, nProbe = 4, seedIds = (0L to 7L), m = 8, codebook,
            refine = 100)
          .select(col("qid"), col("cid")).withColumn("hit", lit(1L))
        exact.join(approx, Seq("qid", "cid"), "left")
          .groupBy("qid")
          .agg(count(lit(1)).as("k"),
            sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
          .select(col("qid"), col("k"), col("n_hit"),
            round(col("n_hit").cast("double") / col("k"), 4).as("recall"))
          .orderBy("qid")
      },
      Some("""WITH e AS (SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS emb FROM embeddings),
             |n AS (SELECT vec_id, emb, sqrt(list_sum([x * x for x in emb])) AS nrm FROM e),
             |ex AS (
             |  SELECT q.vec_id AS qid, c.vec_id AS cid,
             |    round(list_sum([q.emb[i]*c.emb[i] for i in range(1,65)]) / (q.nrm*c.nrm), 4) AS sim
             |  FROM n q CROSS JOIN n c WHERE q.vec_id < 5 AND q.vec_id <> c.vec_id),
             |exact10 AS (
             |  SELECT qid, cid FROM (
             |    SELECT qid, cid, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, cid) AS rn FROM ex)
             |  WHERE rn <= 10),
             |ivf AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, emb AS cemb
             |        FROM e WHERE vec_id IN (0,1,2,3,4,5,6,7)),
             |dv AS (SELECT e.vec_id, ivf.cell,
             |         list_sum([(e.emb[i]-ivf.cemb[i])*(e.emb[i]-ivf.cemb[i]) for i in range(1,65)]) AS d2
             |       FROM e CROSS JOIN ivf),
             |rankedv AS (SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rnk FROM dv),
             |assign AS (SELECT vec_id, cell FROM rankedv WHERE rnk = 1),
             |probe AS (SELECT vec_id, cell FROM rankedv WHERE rnk <= 4 AND vec_id < 5),
             |cb AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS c, emb AS cemb
             |       FROM e WHERE vec_id BETWEEN 0 AND 15),
             |sub AS (SELECT unnest(range(0, 8)) AS s),
             |d AS (SELECT e.vec_id, sub.s, cb.c,
             |        list_sum([(e.emb[8*sub.s+i]-cb.cemb[8*sub.s+i])*(e.emb[8*sub.s+i]-cb.cemb[8*sub.s+i])
             |                  for i in range(1, 9)]) AS d2
             |      FROM e CROSS JOIN sub CROSS JOIN cb),
             |code AS (SELECT vec_id, s, c, row_number() OVER (PARTITION BY vec_id, s ORDER BY d2, c) AS rnk FROM d),
             |cc AS (SELECT vec_id AS cid, s, c FROM code WHERE rnk = 1),
             |lut AS (SELECT vec_id AS qid, s, c, CAST(round(d2, 6) AS DECIMAL(18,6)) AS d2 FROM d WHERE vec_id < 5),
             |cand AS (SELECT p.vec_id AS qid, a.vec_id AS cid
             |         FROM probe p JOIN assign a ON p.cell = a.cell AND a.vec_id <> p.vec_id),
             |f AS (SELECT cand.qid, cand.cid, round(CAST(SUM(l.d2) AS DOUBLE), 4) AS adc
             |      FROM cand JOIN cc ON cc.cid = cand.cid
             |      JOIN lut l ON l.qid = cand.qid AND l.s = cc.s AND l.c = cc.c
             |      GROUP BY 1, 2),
             |short AS (SELECT qid, cid FROM (
             |    SELECT qid, cid, row_number() OVER (PARTITION BY qid ORDER BY adc, cid) AS rn FROM f)
             |  WHERE rn <= 100),
             |r AS (SELECT s.qid, s.cid,
             |        round(list_sum([q.emb[i]*c.emb[i] for i in range(1,65)]) / (q.nrm*c.nrm), 4) AS sim
             |      FROM short s JOIN n q ON q.vec_id = s.qid JOIN n c ON c.vec_id = s.cid),
             |approx10 AS (
             |  SELECT qid, cid FROM (
             |    SELECT qid, cid, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, cid) AS rn FROM r)
             |  WHERE rn <= 10)
             |SELECT e10.qid, CAST(COUNT(*) AS BIGINT) AS k,
             |  CAST(COUNT(a10.cid) AS BIGINT) AS n_hit,
             |  round(CAST(COUNT(a10.cid) AS DOUBLE) / COUNT(*), 4) AS recall
             |FROM exact10 e10 LEFT JOIN approx10 a10 USING (qid, cid)
             |GROUP BY 1 ORDER BY qid""".stripMargin)),
    // Index build/serve split: the IVF-PQ index is built ONCE, persisted
    // to parquet (codes + centroids + codebook + meta), reloaded, and the
    // query runs off the LOADED index — the production lifecycle (FAISS
    // write_index/read_index) where a 100 TB corpus is encoded in one job
    // and every later batch searches slim code rows without re-encoding.
    // Oracle = x68's SQL verbatim: the round-trip must reproduce the
    // rebuild-every-time result bit-for-bit or persistence lost something.
    // The index search runs when called and returns local rows, so the
    // handle's cached layout is released before the plan is returned.
    QuerySpec(
      "x70_ivfpq_index_roundtrip",
      (s, dir) => {
        val e = Tables.embeddings(s, dir)
        val codebook = Similarity.seedCentroids(e, "vec_id", "embedding", (0L to 15L))
        val idxDir = java.nio.file.Files
          .createTempDirectory("graft_ivfpq_index").toString
        deleteOnExit(idxDir)
        IvfPqIndex.build(e, "vec_id", "embedding",
            seedIds = (0L to 7L), m = 8, codebook)
          .save(idxDir)
        val idx = IvfPqIndex.load(s, idxDir)
        try idx.refineTopK(e.filter(col("vec_id") < 5), e, "vec_id", "embedding",
            k = 10, nProbe = 4, refine = 100).orderBy("qid", "rn")
        finally idx.release()
      },
      Some("""WITH e AS (SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS emb FROM embeddings),
             |n AS (SELECT vec_id, emb, sqrt(list_sum([x * x for x in emb])) AS nrm FROM e),
             |ivf AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, emb AS cemb
             |        FROM e WHERE vec_id IN (0,1,2,3,4,5,6,7)),
             |dv AS (SELECT e.vec_id, ivf.cell,
             |         list_sum([(e.emb[i]-ivf.cemb[i])*(e.emb[i]-ivf.cemb[i]) for i in range(1,65)]) AS d2
             |       FROM e CROSS JOIN ivf),
             |rankedv AS (SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rnk FROM dv),
             |assign AS (SELECT vec_id, cell FROM rankedv WHERE rnk = 1),
             |probe AS (SELECT vec_id, cell FROM rankedv WHERE rnk <= 4 AND vec_id < 5),
             |cb AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS c, emb AS cemb
             |       FROM e WHERE vec_id BETWEEN 0 AND 15),
             |sub AS (SELECT unnest(range(0, 8)) AS s),
             |d AS (SELECT e.vec_id, sub.s, cb.c,
             |        list_sum([(e.emb[8*sub.s+i]-cb.cemb[8*sub.s+i])*(e.emb[8*sub.s+i]-cb.cemb[8*sub.s+i])
             |                  for i in range(1, 9)]) AS d2
             |      FROM e CROSS JOIN sub CROSS JOIN cb),
             |code AS (SELECT vec_id, s, c, row_number() OVER (PARTITION BY vec_id, s ORDER BY d2, c) AS rnk FROM d),
             |cc AS (SELECT vec_id AS cid, s, c FROM code WHERE rnk = 1),
             |lut AS (SELECT vec_id AS qid, s, c, CAST(round(d2, 6) AS DECIMAL(18,6)) AS d2 FROM d WHERE vec_id < 5),
             |cand AS (SELECT p.vec_id AS qid, a.vec_id AS cid
             |         FROM probe p JOIN assign a ON p.cell = a.cell AND a.vec_id <> p.vec_id),
             |f AS (SELECT cand.qid, cand.cid, round(CAST(SUM(l.d2) AS DOUBLE), 4) AS adc
             |      FROM cand JOIN cc ON cc.cid = cand.cid
             |      JOIN lut l ON l.qid = cand.qid AND l.s = cc.s AND l.c = cc.c
             |      GROUP BY 1, 2),
             |short AS (SELECT qid, cid FROM (
             |    SELECT qid, cid, row_number() OVER (PARTITION BY qid ORDER BY adc, cid) AS rn FROM f)
             |  WHERE rn <= 100),
             |r AS (SELECT s.qid, s.cid,
             |        round(list_sum([q.emb[i]*c.emb[i] for i in range(1,65)]) / (q.nrm*c.nrm), 4) AS sim
             |      FROM short s JOIN n q ON q.vec_id = s.qid JOIN n c ON c.vec_id = s.cid)
             |SELECT qid, cid, sim, CAST(row_number() OVER (PARTITION BY qid ORDER BY sim DESC, cid) AS BIGINT) AS rn
             |FROM r QUALIFY rn <= 10 ORDER BY qid, rn""".stripMargin)),
    // IVF index health: per-cell occupancy share and distortion (avg/max
    // squared distance to the assigned centroid) — the re-train signals
    // for a frozen coarse quantizer (AnnStream's ingest note: appended
    // data that drifts piles into few cells; this table is where it
    // shows). Distances ride as integer micros so the per-cell fold is
    // order-independent on both engines. One row-local kernel + one
    // groupBy on the k-sized cell key.
    QuerySpec(
      "x76_ivf_cell_health",
      (s, dir) => {
        val e = Tables.embeddings(s, dir)
        val cents = Similarity.seedCentroids(e, "vec_id", "embedding", (0L to 7L))
        val assigned = e
          .select(Similarity.cellAssignUdf(cents)(col("embedding")).as("ca"))
          .select(col("ca.cell").as("cell"), col("ca.micros").as("micros"))
        val tot = assigned.agg(count(lit(1)).as("n_total"))
        assigned.groupBy("cell")
          .agg(count(lit(1)).as("n_vecs"),
            sum(col("micros")).as("sum_micros"),
            max(col("micros")).as("max_micros"))
          .crossJoin(broadcast(tot))
          .select(col("cell"), col("n_vecs"),
            round(col("n_vecs").cast("double") / col("n_total"), 4).as("share"),
            round(col("sum_micros").cast("double") / col("n_vecs") / 1e6, 6)
              .as("avg_d2"),
            round(col("max_micros").cast("double") / 1e6, 6).as("max_d2"))
          .orderBy("cell")
      },
      Some("""WITH e AS (SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS emb FROM embeddings),
             |ivf AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, emb AS cemb
             |        FROM e WHERE vec_id IN (0,1,2,3,4,5,6,7)),
             |dv AS (SELECT e.vec_id, ivf.cell,
             |         list_sum([(e.emb[i]-ivf.cemb[i])*(e.emb[i]-ivf.cemb[i]) for i in range(1,65)]) AS d2
             |       FROM e CROSS JOIN ivf),
             |assign AS (SELECT vec_id, cell, CAST(round(d2 * 1000000, 0) AS BIGINT) AS micros
             |           FROM (SELECT vec_id, cell, d2,
             |                   row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rnk FROM dv)
             |           WHERE rnk = 1),
             |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM assign)
             |SELECT cell, CAST(COUNT(*) AS BIGINT) AS n_vecs,
             |  round(CAST(COUNT(*) AS DOUBLE) / MAX(tot.n), 4) AS share,
             |  round(CAST(SUM(micros) AS DOUBLE) / COUNT(*) / 1000000, 6) AS avg_d2,
             |  round(CAST(MAX(micros) AS DOUBLE) / 1000000, 6) AS max_d2
             |FROM assign CROSS JOIN tot GROUP BY cell ORDER BY cell""".stripMargin)),
    // Full index lifecycle with a health-triggered RETRAIN (closes the
    // x76 loop): v1 is built on half the corpus with a deliberately
    // under-trained coarse quantizer (2 cells — the drifted-distribution
    // stand-in), the other half append-ingests through the frozen
    // quantizers (AnnStream's batch twin), the occupancy health signal
    // fires (2 cells ⇒ max share ≥ 0.5 > 0.25), and retrainIfUnhealthy
    // re-trains both quantizers on the full corpus, re-encodes, and
    // atomically swaps the CURRENT pointer to v2. Serving off the swapped
    // pointer must equal a fresh full-corpus build bit-for-bit — the
    // oracle is x70's SQL verbatim (same final quantizer spec), so a
    // retrain that loses or double-encodes anything hash-fails.
    QuerySpec(
      "x83_ivfpq_retrain_swap",
      (s, dir) => {
        val e = Tables.embeddings(s, dir)
        // Fresh root per invocation (AnnStreamSpec's discipline): a fixed
        // shared tmp root would let two concurrent sessions (bench +
        // verify) race on each other's recursive delete. The root can't
        // be deleted inside this body — the returned DataFrame lazily
        // re-reads the published index — so an exit hook reaps it (each
        // bench/verify invocation would otherwise leak two full index
        // copies per run).
        val root = java.nio.file.Files
          .createTempDirectory("graft_ivfpq_versioned").toString
        deleteOnExit(root)
        val mid = e.agg(max(col("vec_id"))).head.getLong(0) / 2
        val first = e.filter(col("vec_id") <= mid)
        val cbA = Similarity.seedCentroids(first, "vec_id", "embedding", (0L to 15L))
        IvfPqIndex.publish(
          IvfPqIndex.build(first, "vec_id", "embedding",
            seedIds = (0L to 1L), m = 8, cbA), root, v = 1)
        graft.streaming.AnnStream.ingestBatch(e.filter(col("vec_id") > mid),
          "vec_id", "embedding", IvfPqIndex.currentDir(root))
        val v = IvfPqIndex.retrainIfUnhealthy(s, root, e, "vec_id", "embedding",
          seedIds = (0L to 7L), m = 8, codebookSeedIds = (0L to 15L),
          maxShare = 0.25)
        require(v.contains(2), s"health trigger must fire on a 2-cell index, got $v")
        val idx = IvfPqIndex.loadCurrent(s, root)
        try idx.refineTopK(e.filter(col("vec_id") < 5), e, "vec_id", "embedding",
            k = 10, nProbe = 4, refine = 100).orderBy("qid", "rn")
        finally idx.release()
      },
      Some("""WITH e AS (SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS emb FROM embeddings),
             |n AS (SELECT vec_id, emb, sqrt(list_sum([x * x for x in emb])) AS nrm FROM e),
             |ivf AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, emb AS cemb
             |        FROM e WHERE vec_id IN (0,1,2,3,4,5,6,7)),
             |dv AS (SELECT e.vec_id, ivf.cell,
             |         list_sum([(e.emb[i]-ivf.cemb[i])*(e.emb[i]-ivf.cemb[i]) for i in range(1,65)]) AS d2
             |       FROM e CROSS JOIN ivf),
             |rankedv AS (SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rnk FROM dv),
             |assign AS (SELECT vec_id, cell FROM rankedv WHERE rnk = 1),
             |probe AS (SELECT vec_id, cell FROM rankedv WHERE rnk <= 4 AND vec_id < 5),
             |cb AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS c, emb AS cemb
             |       FROM e WHERE vec_id BETWEEN 0 AND 15),
             |sub AS (SELECT unnest(range(0, 8)) AS s),
             |d AS (SELECT e.vec_id, sub.s, cb.c,
             |        list_sum([(e.emb[8*sub.s+i]-cb.cemb[8*sub.s+i])*(e.emb[8*sub.s+i]-cb.cemb[8*sub.s+i])
             |                  for i in range(1, 9)]) AS d2
             |      FROM e CROSS JOIN sub CROSS JOIN cb),
             |code AS (SELECT vec_id, s, c, row_number() OVER (PARTITION BY vec_id, s ORDER BY d2, c) AS rnk FROM d),
             |cc AS (SELECT vec_id AS cid, s, c FROM code WHERE rnk = 1),
             |lut AS (SELECT vec_id AS qid, s, c, CAST(round(d2, 6) AS DECIMAL(18,6)) AS d2 FROM d WHERE vec_id < 5),
             |cand AS (SELECT p.vec_id AS qid, a.vec_id AS cid
             |         FROM probe p JOIN assign a ON p.cell = a.cell AND a.vec_id <> p.vec_id),
             |f AS (SELECT cand.qid, cand.cid, round(CAST(SUM(l.d2) AS DOUBLE), 4) AS adc
             |      FROM cand JOIN cc ON cc.cid = cand.cid
             |      JOIN lut l ON l.qid = cand.qid AND l.s = cc.s AND l.c = cc.c
             |      GROUP BY 1, 2),
             |short AS (SELECT qid, cid FROM (
             |    SELECT qid, cid, row_number() OVER (PARTITION BY qid ORDER BY adc, cid) AS rn FROM f)
             |  WHERE rn <= 100),
             |r AS (SELECT s.qid, s.cid,
             |        round(list_sum([q.emb[i]*c.emb[i] for i in range(1,65)]) / (q.nrm*c.nrm), 4) AS sim
             |      FROM short s JOIN n q ON q.vec_id = s.qid JOIN n c ON c.vec_id = s.cid)
             |SELECT qid, cid, sim, CAST(row_number() OVER (PARTITION BY qid ORDER BY sim DESC, cid) AS BIGINT) AS rn
             |FROM r QUALIFY rn <= 10 ORDER BY qid, rn""".stripMargin)),
    // OPQ-style rotation eval (closes VERDICT r6 item 7, Ge et al. CVPR
    // 2013's eigenvalue-allocation flavor, public): does a
    // variance-balanced dimension permutation (varianceSnakePerm) lift PQ
    // recall at a FIXED refine depth? Both variants run the identical
    // PQ-ADC shortlist (m=8, seed codebook 0-15, refine=30) + exact
    // re-rank; truth is the exact cosine top-10, which one permutation-
    // invariant computation serves for both. MEASURED ANSWER on this
    // corpus: no lift (mean recall@10 0.52 plain vs 0.46 rotated) — the
    // embeddings are near-isotropic (per-dim variance spread 1.31x,
    // natural subspace sums within 7%), so the seed codebook, not the
    // dimension allocation, binds recall. That is WHY the rotation is not
    // wired into the serving path (x68/x70); it earns its keep on real
    // embedding models whose leading dims concentrate variance. The
    // oracle re-derives the permutation from per-dim variance in SQL, so
    // the snake allocation itself is hash-checked, not inlined. The FULL
    // learned-rotation OPQ (dense orthogonal R via alternating Procrustes)
    // lives in [[Opq]] — its SVD is not SQL-expressible, so it is
    // test-gated (OpqSpec) rather than oracle-checked.
    QuerySpec(
      "x84_opq_rotation_eval",
      (s, dir) => {
        val e = Tables.embeddings(s, dir)
        val q = e.filter(col("vec_id") < 5)
        val exact = Similarity.cosineTopK(q, e, "vec_id", "embedding", k = 10)
          .select(col("qid"), col("cid"))
        val cb = Similarity.seedCentroids(e, "vec_id", "embedding", (0L to 15L))
        val perm = Similarity.varianceSnakePerm(e, "embedding", dim = 64, m = 8)
        val cbRot = cb.map(cent => Array.tabulate(64)(j => cent(perm(j))))
        val plainShort = Similarity.pqAdcTopK(q, e, "vec_id", "embedding",
            m = 8, k = 30, codebook = cb).select(col("qid"), col("cid"))
        val plain = Similarity.cosineRerank(plainShort, q, e, "vec_id",
            "embedding", k = 10)
          .select(col("qid"), col("cid")).withColumn("hit_p", lit(1L))
        val eRot = e.withColumn("rot",
          Similarity.permuteDims(col("embedding"), perm))
        val qRot = q.withColumn("rot",
          Similarity.permuteDims(col("embedding"), perm))
        val rotShort = Similarity.pqAdcTopK(qRot, eRot, "vec_id", "rot",
            m = 8, k = 30, codebook = cbRot).select(col("qid"), col("cid"))
        val rot = Similarity.cosineRerank(rotShort, q, e, "vec_id",
            "embedding", k = 10)
          .select(col("qid"), col("cid")).withColumn("hit_r", lit(1L))
        exact.join(plain, Seq("qid", "cid"), "left")
          .join(rot, Seq("qid", "cid"), "left")
          .groupBy("qid")
          .agg(count(lit(1)).as("k"),
            sum(coalesce(col("hit_p"), lit(0L))).as("n_hit_plain"),
            sum(coalesce(col("hit_r"), lit(0L))).as("n_hit_rot"))
          .select(col("qid"), col("k"), col("n_hit_plain"), col("n_hit_rot"),
            round(col("n_hit_plain").cast("double") / col("k"), 4)
              .as("recall_plain"),
            round(col("n_hit_rot").cast("double") / col("k"), 4)
              .as("recall_rot"))
          .orderBy("qid")
      },
      Some("""WITH e0 AS (SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS emb FROM embeddings),
             |n AS (SELECT vec_id, emb, sqrt(list_sum([x * x for x in emb])) AS nrm FROM e0),
             |ex AS (
             |  SELECT q.vec_id AS qid, c.vec_id AS cid,
             |    round(list_sum([q.emb[i]*c.emb[i] for i in range(1,65)]) / (q.nrm*c.nrm), 4) AS sim
             |  FROM n q CROSS JOIN n c WHERE q.vec_id < 5 AND q.vec_id <> c.vec_id),
             |exact10 AS (
             |  SELECT qid, cid FROM (
             |    SELECT qid, cid, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, cid) AS rn FROM ex)
             |  WHERE rn <= 10),
             |vstats AS (SELECT i, round(var_pop(emb[i]), 6) AS v
             |           FROM e0 CROSS JOIN (SELECT unnest(range(1, 65)) AS i) t GROUP BY 1),
             |ranked AS (SELECT i, row_number() OVER (ORDER BY v DESC, i) - 1 AS r FROM vstats),
             |pmap AS (SELECT i AS dim,
             |           (CASE WHEN (r // 8) % 2 = 0 THEN r % 8 ELSE 7 - (r % 8) END) * 8 + (r // 8) + 1 AS j
             |         FROM ranked),
             |rote AS (SELECT e0.vec_id, list(e0.emb[p.dim] ORDER BY p.j) AS emb
             |         FROM e0 CROSS JOIN pmap p GROUP BY e0.vec_id),
             |sub AS (SELECT unnest(range(0, 8)) AS s),
             |cbp AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS c, emb AS cemb
             |        FROM e0 WHERE vec_id BETWEEN 0 AND 15),
             |dp AS (SELECT e0.vec_id, sub.s, cbp.c,
             |         list_sum([(e0.emb[8*sub.s+i]-cbp.cemb[8*sub.s+i])*(e0.emb[8*sub.s+i]-cbp.cemb[8*sub.s+i])
             |                   for i in range(1, 9)]) AS d2
             |       FROM e0 CROSS JOIN sub CROSS JOIN cbp),
             |codep AS (SELECT vec_id, s, c, row_number() OVER (PARTITION BY vec_id, s ORDER BY d2, c) AS rnk FROM dp),
             |ccp AS (SELECT vec_id AS cid, s, c FROM codep WHERE rnk = 1),
             |lutp AS (SELECT vec_id AS qid, s, c, CAST(round(d2, 6) AS DECIMAL(18,6)) AS d2 FROM dp WHERE vec_id < 5),
             |fp AS (SELECT l.qid, ccp.cid, round(CAST(SUM(l.d2) AS DOUBLE), 4) AS adc
             |       FROM ccp JOIN lutp l ON l.s = ccp.s AND l.c = ccp.c
             |       WHERE l.qid <> ccp.cid GROUP BY 1, 2),
             |shortp AS (SELECT qid, cid FROM (
             |    SELECT qid, cid, row_number() OVER (PARTITION BY qid ORDER BY adc, cid) AS rn FROM fp)
             |  WHERE rn <= 30),
             |rp AS (SELECT s.qid, s.cid,
             |         round(list_sum([q.emb[i]*c.emb[i] for i in range(1,65)]) / (q.nrm*c.nrm), 4) AS sim
             |       FROM shortp s JOIN n q ON q.vec_id = s.qid JOIN n c ON c.vec_id = s.cid),
             |ap AS (SELECT qid, cid FROM (
             |    SELECT qid, cid, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, cid) AS rn FROM rp)
             |  WHERE rn <= 10),
             |cbr AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS c, emb AS cemb
             |        FROM rote WHERE vec_id BETWEEN 0 AND 15),
             |dr AS (SELECT rote.vec_id, sub.s, cbr.c,
             |         list_sum([(rote.emb[8*sub.s+i]-cbr.cemb[8*sub.s+i])*(rote.emb[8*sub.s+i]-cbr.cemb[8*sub.s+i])
             |                   for i in range(1, 9)]) AS d2
             |       FROM rote CROSS JOIN sub CROSS JOIN cbr),
             |coder AS (SELECT vec_id, s, c, row_number() OVER (PARTITION BY vec_id, s ORDER BY d2, c) AS rnk FROM dr),
             |ccr AS (SELECT vec_id AS cid, s, c FROM coder WHERE rnk = 1),
             |lutr AS (SELECT vec_id AS qid, s, c, CAST(round(d2, 6) AS DECIMAL(18,6)) AS d2 FROM dr WHERE vec_id < 5),
             |fr AS (SELECT l.qid, ccr.cid, round(CAST(SUM(l.d2) AS DOUBLE), 4) AS adc
             |       FROM ccr JOIN lutr l ON l.s = ccr.s AND l.c = ccr.c
             |       WHERE l.qid <> ccr.cid GROUP BY 1, 2),
             |shortr AS (SELECT qid, cid FROM (
             |    SELECT qid, cid, row_number() OVER (PARTITION BY qid ORDER BY adc, cid) AS rn FROM fr)
             |  WHERE rn <= 30),
             |rr AS (SELECT s.qid, s.cid,
             |         round(list_sum([q.emb[i]*c.emb[i] for i in range(1,65)]) / (q.nrm*c.nrm), 4) AS sim
             |       FROM shortr s JOIN n q ON q.vec_id = s.qid JOIN n c ON c.vec_id = s.cid),
             |ar AS (SELECT qid, cid FROM (
             |    SELECT qid, cid, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, cid) AS rn FROM rr)
             |  WHERE rn <= 10)
             |SELECT e10.qid, CAST(COUNT(*) AS BIGINT) AS k,
             |  CAST(COUNT(p.cid) AS BIGINT) AS n_hit_plain,
             |  CAST(COUNT(r2.cid) AS BIGINT) AS n_hit_rot,
             |  round(CAST(COUNT(p.cid) AS DOUBLE) / COUNT(*), 4) AS recall_plain,
             |  round(CAST(COUNT(r2.cid) AS DOUBLE) / COUNT(*), 4) AS recall_rot
             |FROM exact10 e10 LEFT JOIN ap p USING (qid, cid) LEFT JOIN ar r2 USING (qid, cid)
             |GROUP BY 1 ORDER BY qid""".stripMargin)),
    // Embedding distribution drift: mean-vector comparison between the
    // standing corpus and the newest ingest (halves by vec_id as the
    // stand-in) — the INPUT-side drift detector that complements x76's
    // occupancy signal (which only fires AFTER assignments skew) and
    // feeds the same x83 retrain decision. Per-dim means come from one
    // distributed aggregate over exploded (dim, value) rows — 64 groups
    // regardless of corpus size; everything downstream (top-10 drifted
    // dims, mean-cosine, ||delta||) runs on the 64-row means table.
    QuerySpec(
      "x87_embedding_drift",
      (s, dir) => {
        val e = Tables.embeddings(s, dir)
        val mid = e.agg(max(col("vec_id"))).head.getLong(0) / 2
        val d = e.select(
            when(col("vec_id") <= mid, lit(0)).otherwise(lit(1)).as("half"),
            posexplode(col("embedding")).as(Seq("pos", "x")))
          .select(col("half"), (col("pos") + 1).cast("long").as("dim"),
            col("x").cast("double").as("x"))
        val m = d.groupBy("dim").agg(
            round(avg(when(col("half") === 0, col("x"))), 6).as("m0"),
            round(avg(when(col("half") === 1, col("x"))), 6).as("m1"))
        val delta = m.select(col("dim"), col("m0"), col("m1"),
          round(abs(col("m1") - col("m0")), 6).as("ad"))
        val top10 = delta.orderBy(col("ad").desc, col("dim")).limit(10)
          .select(lit("abs_delta").as("metric"), col("dim"),
            col("ad").as("value"))
        val summary = delta.agg(
            round(sum(col("m0") * col("m1")) /
              (sqrt(sum(col("m0") * col("m0"))) *
                sqrt(sum(col("m1") * col("m1")))), 6).as("mean_cos"),
            round(sqrt(sum(pow(col("m1") - col("m0"), lit(2)))), 6)
              .as("delta_l2"))
        val cosRow = summary.select(lit("mean_cos").as("metric"),
          lit(-1L).as("dim"), col("mean_cos").as("value"))
        val l2Row = summary.select(lit("delta_l2").as("metric"),
          lit(-1L).as("dim"), col("delta_l2").as("value"))
        cosRow.union(l2Row).union(top10).orderBy("metric", "dim")
      },
      Some("""WITH e AS (SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS emb FROM embeddings),
             |mid AS (SELECT MAX(vec_id) // 2 AS mid FROM e),
             |d AS (SELECT i.i AS dim, e.emb[i.i] AS x,
             |        CASE WHEN e.vec_id <= mid.mid THEN 0 ELSE 1 END AS half
             |      FROM e CROSS JOIN (SELECT unnest(range(1, 65)) AS i) i CROSS JOIN mid),
             |m AS (SELECT dim,
             |        round(avg(CASE WHEN half = 0 THEN x END), 6) AS m0,
             |        round(avg(CASE WHEN half = 1 THEN x END), 6) AS m1
             |      FROM d GROUP BY 1),
             |delta AS (SELECT dim, m0, m1, round(abs(m1 - m0), 6) AS ad FROM m),
             |top10 AS (SELECT 'abs_delta' AS metric, CAST(dim AS BIGINT) AS dim,
             |            CAST(ad AS DOUBLE) AS value
             |          FROM (SELECT dim, ad, row_number() OVER (ORDER BY ad DESC, dim) AS rn FROM delta)
             |          WHERE rn <= 10),
             |cosr AS (SELECT 'mean_cos' AS metric, CAST(-1 AS BIGINT) AS dim,
             |           round(SUM(m0*m1) / (sqrt(SUM(m0*m0)) * sqrt(SUM(m1*m1))), 6) AS value
             |         FROM m),
             |l2 AS (SELECT 'delta_l2' AS metric, CAST(-1 AS BIGINT) AS dim,
             |         round(sqrt(SUM((m1-m0)*(m1-m0))), 6) AS value
             |       FROM m)
             |SELECT * FROM (SELECT * FROM cosr UNION ALL SELECT * FROM l2 UNION ALL SELECT * FROM top10)
             |ORDER BY metric, dim""".stripMargin)),
    // Matryoshka truncation eval (Kusupati et al. 2022, "Matryoshka
    // Representation Learning", public): recall@10 of cosine search over
    // PREFIX-truncated embeddings (16/32/64 dims) against the full-dim
    // exact truth — the measurement that decides whether a cheaper
    // low-dim first-stage retrieval is safe for this embedding model.
    // MEASURED ANSWER here: these synthetic embeddings carry NO
    // matryoshka structure (recall 0.1-0.3 @16, 0.2-0.5 @32; 1.0 @64 is
    // the built-in sanity check) — information is spread uniformly across
    // dims, consistent with x84's isotropy finding. On an MRL-trained
    // model the same query grades the dim-budget trade directly.
    QuerySpec(
      "x92_matryoshka_recall",
      (s, dir) => {
        import s.implicits._
        val e = Tables.embeddings(s, dir)
        val q = e.filter(col("vec_id") < 5)
        val exact = Similarity.cosineTopK(q, e, "vec_id", "embedding", k = 10)
          .select(col("qid"), col("cid"))
        val t10 = Seq(16, 32, 64).map { d =>
          val te = e.select(col("vec_id"),
            slice(col("embedding"), 1, d).as("embedding"))
          val tq = q.select(col("vec_id"),
            slice(col("embedding"), 1, d).as("embedding"))
          Similarity.cosineTopK(tq, te, "vec_id", "embedding", k = 10)
            .select(lit(d.toLong).as("dims"), col("qid"), col("cid"),
              lit(1L).as("hit"))
        }.reduce(_ union _)
        val dimsDf = Seq(16L, 32L, 64L).toDF("dims")
        exact.crossJoin(broadcast(dimsDf))
          .join(t10, Seq("dims", "qid", "cid"), "left")
          .groupBy("dims", "qid")
          .agg(sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
          .select(col("dims"), col("qid"), col("n_hit"),
            round(col("n_hit").cast("double") / 10, 4).as("recall"))
          .orderBy("dims", "qid")
      },
      Some("""WITH e AS (SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS emb FROM embeddings),
             |dims AS (SELECT unnest([16, 32, 64]) AS d),
             |n AS (SELECT vec_id, emb, sqrt(list_sum([x*x for x in emb])) AS nrm FROM e),
             |ex AS (SELECT q.vec_id AS qid, c.vec_id AS cid,
             |         round(list_sum([q.emb[i]*c.emb[i] for i in range(1,65)])/(q.nrm*c.nrm),4) AS sim
             |       FROM n q CROSS JOIN n c WHERE q.vec_id < 5 AND q.vec_id <> c.vec_id),
             |exact10 AS (SELECT qid, cid FROM (
             |    SELECT qid, cid, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, cid) AS rn FROM ex) WHERE rn <= 10),
             |tr AS (SELECT d.d, e.vec_id, e.emb[1:d.d] AS temb,
             |         sqrt(list_sum([x*x for x in e.emb[1:d.d]])) AS tnrm
             |       FROM e CROSS JOIN dims d),
             |tx AS (SELECT q.d, q.vec_id AS qid, c.vec_id AS cid,
             |         round(list_sum([q.temb[i]*c.temb[i] for i in range(1, q.d+1)])/(q.tnrm*c.tnrm), 4) AS sim
             |       FROM tr q JOIN tr c ON q.d = c.d AND q.vec_id < 5 AND q.vec_id <> c.vec_id),
             |t10 AS (SELECT d, qid, cid FROM (
             |    SELECT d, qid, cid, row_number() OVER (PARTITION BY d, qid ORDER BY sim DESC, cid) AS rn FROM tx) WHERE rn <= 10)
             |SELECT dims.d AS dims, e10.qid AS qid, CAST(COUNT(t10.cid) AS BIGINT) AS n_hit,
             |  round(CAST(COUNT(t10.cid) AS DOUBLE) / 10, 4) AS recall
             |FROM dims CROSS JOIN exact10 e10
             |LEFT JOIN t10 ON t10.d = dims.d AND t10.qid = e10.qid AND t10.cid = e10.cid
             |GROUP BY 1, 2 ORDER BY dims, qid""".stripMargin)),
    // Image near-duplicate detection via banded perceptual hash — the
    // multimodal twin of MinHash+LSH text dedup (x2) and the dedup
    // modality an image-bearing corpus needs (crops/re-encodes of one
    // image collapse to nearby aHashes). REAL path end to end: gradient
    // images PNG-encoded by the stage-1 encoder, ImageIO-decoded and
    // grid-sampled by the aHash kernel (Multimodal.aHash), 64 bits as
    // four 16-bit bands; candidates come from an equi-join on
    // (band, value) — the LSH device: only images agreeing EXACTLY on
    // ≥1 band pair up, never all pairs — then exact Hamming ≤ 6 confirms.
    // The oracle recomputes the hash from closed-form pixel math, so a
    // single wrong decoded pixel flips a band and reddens the row.
    // Output is the per-image summary (|images| rows, not |pairs|):
    // candidate count, confirmed near-dups, nearest-neighbor distance.
    QuerySpec(
      "x107_image_neardup",
      (s, dir) => {
        val ids = Tables.documents(s, dir).select(col("doc_id").as("media_id"))
        // multiple plan branches reuse the hash table; localCheckpoint
        // materializes the decode+hash kernel ONCE — 5 longs per image,
        // vs re-decoding every PNG per branch
        val hashes = Multimodal
          .imageHashes(s, Multimodal.pngMediaFromIds(s, ids)).toDF()
          .localCheckpoint()
        // group-collapsed pairing (exact-dedup-first): the banded join
        // runs over DISTINCT hashes, per-image counts reconstruct from
        // group sizes — byte-identical to all-pairs enumeration
        // (MultimodalSpec), O(groups²) not O(pairs) on re-encode-heavy
        // corpora like this one (every 768th gradient image is an exact
        // pixel repeat, so hash groups are deep)
        Multimodal.nearDupSummary(hashes, maxHamming = 6)
          .orderBy("media_id")
      },
      Some("""WITH g AS (SELECT doc_id AS id, doc_id % 16 + 1 AS w, doc_id % 12 + 1 AS h FROM documents),
             |grid AS (SELECT gx.range AS gx, gy.range AS gy FROM range(8) gx CROSS JOIN range(8) gy),
             |cells AS (SELECT id, gy * 8 + gx AS bit,
             |            (id + ((gy * h) // 8) * w + ((gx * w) // 8)) % 256 AS v
             |          FROM g CROSS JOIN grid),
             |m AS (SELECT id, CAST(SUM(v) AS DOUBLE) / 64 AS mu FROM cells GROUP BY 1),
             |bits AS (SELECT c.id, c.bit, CASE WHEN c.v > m.mu THEN 1 ELSE 0 END AS b
             |         FROM cells c JOIN m USING (id)),
             |hx AS (SELECT id,
             |         CAST(SUM(CASE WHEN bit < 16 THEN b * (1 << (bit % 16)) ELSE 0 END) AS BIGINT) AS b0,
             |         CAST(SUM(CASE WHEN bit >= 16 AND bit < 32 THEN b * (1 << (bit % 16)) ELSE 0 END) AS BIGINT) AS b1,
             |         CAST(SUM(CASE WHEN bit >= 32 AND bit < 48 THEN b * (1 << (bit % 16)) ELSE 0 END) AS BIGINT) AS b2,
             |         CAST(SUM(CASE WHEN bit >= 48 THEN b * (1 << (bit % 16)) ELSE 0 END) AS BIGINT) AS b3
             |       FROM bits GROUP BY 1),
             |bands AS (SELECT id, 0 AS band, b0 AS v FROM hx UNION ALL
             |          SELECT id, 1, b1 FROM hx UNION ALL
             |          SELECT id, 2, b2 FROM hx UNION ALL
             |          SELECT id, 3, b3 FROM hx),
             |cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
             |         FROM bands a JOIN bands b
             |           ON a.band = b.band AND a.v = b.v AND a.id < b.id),
             |ham AS (SELECT c.id_a, c.id_b,
             |          bit_count(xor(a.b0, b.b0)) + bit_count(xor(a.b1, b.b1)) +
             |          bit_count(xor(a.b2, b.b2)) + bit_count(xor(a.b3, b.b3)) AS d
             |        FROM cand c JOIN hx a ON a.id = c.id_a JOIN hx b ON b.id = c.id_b),
             |u AS (SELECT id_a AS media_id, d FROM ham UNION ALL SELECT id_b, d FROM ham)
             |SELECT media_id, CAST(COUNT(*) AS BIGINT) AS n_cand,
             |  CAST(SUM(CASE WHEN d <= 6 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
             |  CAST(MIN(d) AS BIGINT) AS nn
             |FROM u GROUP BY 1 ORDER BY media_id""".stripMargin)),
    // Hard-negative mining for contrastive training (FaceNet, Schroff et
    // al. 2015): per anchor (vec_id < 20, a training batch), the 5 most
    // cosine-similar DIFFERENT-label rows, the best same-label similarity,
    // and the semi-hard flag (neg still inside the positive radius — the
    // triplet-loss training regime). Anchors broadcast; the corpus streams
    // through one pass feeding both the positive max and the negative
    // top-5; the anchor-keyed window is WindowGroupLimit-capped. At
    // 100 TB the scan swaps for ivfPqTopK candidates, same contract.
    QuerySpec(
      "x109_hard_negatives",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        Similarity.hardNegatives(emb.filter(col("vec_id") < 20), emb,
            "vec_id", "embedding", "label", k = 5)
          .orderBy("qid", "rn")
      },
      Some("""WITH e AS (SELECT vec_id, label, [CAST(x AS DOUBLE) for x in embedding] AS emb FROM embeddings),
             |n AS (SELECT vec_id, label, emb, sqrt(list_sum([x*x for x in emb])) AS nrm FROM e),
             |p AS (SELECT q.vec_id AS qid, c.vec_id AS cid, q.label AS ql, c.label AS cl,
             |        round(list_sum([q.emb[i]*c.emb[i] for i in range(1,65)])/(q.nrm*c.nrm), 4) AS sim
             |      FROM n q CROSS JOIN n c WHERE q.vec_id < 20 AND q.vec_id <> c.vec_id),
             |pos AS (SELECT qid, MAX(sim) AS pos_sim FROM p WHERE ql = cl GROUP BY 1),
             |neg AS (SELECT qid, cid, sim,
             |          CAST(row_number() OVER (PARTITION BY qid ORDER BY sim DESC, cid) AS BIGINT) AS rn
             |        FROM p WHERE ql <> cl QUALIFY rn <= 5)
             |SELECT neg.qid, neg.rn, neg.cid, neg.sim AS neg_sim, pos.pos_sim,
             |  CAST(CASE WHEN neg.sim < pos.pos_sim THEN 1 ELSE 0 END AS BIGINT) AS semi_hard
             |FROM neg LEFT JOIN pos ON pos.qid = neg.qid
             |ORDER BY neg.qid, rn""".stripMargin)),
    // Margin-based bitext mining (Artetxe & Schwenk 2019 — the CCMatrix
    // device): en-side docs score against de-side docs by cosine divided
    // by the mean of each member's 4 nearest cross-side similarities;
    // the margin denominator cancels hubness, so a pair wins only by
    // being similar BEYOND its members' background similarity. Output:
    // each en doc's best de match with forward margin ("max" strategy).
    // THIS IS THE 100 TB PLAN: each side's k-NN list comes from the
    // IVF-PQ index (probed-cell candidates, ADC ranking — x57's exact
    // machinery, which the oracle replays below per direction), exact
    // cosines are computed only on the ≤(|X|+|Y|)·k union of the two
    // k-NN lists, and the margin algebra is unchanged from the paper —
    // nothing anywhere is |X|·|Y| (SimilaritySpec cross-checks this form
    // against the brute baseline under a covering probe). Per-side
    // coarse seeds = the lowest ⌈√n⌉ doc_ids of the side (round-14: the
    // 100x probe caught the earlier FIXED 8-cell quantizer going
    // quadratic — per-cell occupancy grew with the corpus, so the
    // probed-cell candidate join was |X|·|Y|·nProbe/8; √n cells is the
    // FAISS nlist≈√n discipline: occupancy and assign fan-out both stay
    // √n, total serve work n^1.5, per-query √n). Still a bounded
    // TakeOrdered and SQL-replayable — the oracle's LIMIT takes the same
    // ⌈√count⌉ as a scalar subquery. Codebook = embeddings rows 0–15
    // (the x57 device). k-NN sums accumulate round-4 sims as
    // DECIMAL(18,6) — exact, order-free — then one fixed-order division.
    QuerySpec(
      "x110_bitext_margin",
      (s, dir) => {
        import s.implicits._
        val docs = Tables.documents(s, dir)
        val embFull = Tables.embeddings(s, dir)
        val emb = embFull.withColumnRenamed("vec_id", "doc_id")
        def side(lang: String) =
          docs.filter(col("lang") === lang).select("doc_id").join(emb, "doc_id")
        def lowSqrtN(d: org.apache.spark.sql.DataFrame): Seq[Long] = {
          val nCells = math.ceil(math.sqrt(d.count().toDouble)).toInt.max(1)
          d.select(col("doc_id").cast("long")).orderBy("doc_id")
            .limit(nCells).as[Long].collect().toSeq
        }
        val en = side("en")
        val de = side("de")
        // the two sides' seed collects (count + ordered take each) and
        // the 16-row codebook collect are independent driver actions —
        // overlap them (guide §2.6); each returns the same rows it did
        // sequentially
        val (srcSeeds, tgtSeeds, codebook) = graft.Par.par3 {
          lowSqrtN(en)
        } {
          lowSqrtN(de)
        } {
          Similarity.seedCentroids(embFull, "vec_id", "embedding", (0L to 15L))
        }
        Similarity.bitextMarginPairsAnn(en, de, "doc_id", "embedding",
            k = 4, nProbe = 3, srcSeeds = srcSeeds, tgtSeeds = tgtSeeds,
            m = 8, codebook)
          .orderBy("src_id")
      },
      Some("""WITH e AS (SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS emb FROM embeddings),
             |xs AS (SELECT d.doc_id AS id, e.emb, sqrt(list_sum([v*v for v in e.emb])) AS nrm
             |      FROM documents d JOIN e ON e.vec_id = d.doc_id WHERE d.lang = 'en'),
             |ys AS (SELECT d.doc_id AS id, e.emb, sqrt(list_sum([v*v for v in e.emb])) AS nrm
             |      FROM documents d JOIN e ON e.vec_id = d.doc_id WHERE d.lang = 'de'),
             |cb AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS c, emb AS cemb
             |       FROM e WHERE vec_id BETWEEN 0 AND 15),
             |sub AS (SELECT unnest(range(0, 8)) AS s),
             |dx AS (SELECT x.id, sub.s, cb.c,
             |        list_sum([(x.emb[8*sub.s+i]-cb.cemb[8*sub.s+i])*(x.emb[8*sub.s+i]-cb.cemb[8*sub.s+i])
             |                  for i in range(1, 9)]) AS d2
             |      FROM xs x CROSS JOIN sub CROSS JOIN cb),
             |dy AS (SELECT y.id, sub.s, cb.c,
             |        list_sum([(y.emb[8*sub.s+i]-cb.cemb[8*sub.s+i])*(y.emb[8*sub.s+i]-cb.cemb[8*sub.s+i])
             |                  for i in range(1, 9)]) AS d2
             |      FROM ys y CROSS JOIN sub CROSS JOIN cb),
             |codex AS (SELECT id, s, c FROM (SELECT id, s, c,
             |            row_number() OVER (PARTITION BY id, s ORDER BY d2, c) AS rnk FROM dx) WHERE rnk = 1),
             |codey AS (SELECT id, s, c FROM (SELECT id, s, c,
             |            row_number() OVER (PARTITION BY id, s ORDER BY d2, c) AS rnk FROM dy) WHERE rnk = 1),
             |lutx AS (SELECT id, s, c, CAST(round(d2, 6) AS DECIMAL(18,6)) AS d2 FROM dx),
             |luty AS (SELECT id, s, c, CAST(round(d2, 6) AS DECIMAL(18,6)) AS d2 FROM dy),
             |ivx AS (SELECT row_number() OVER (ORDER BY id) - 1 AS cell, emb AS cemb
             |        FROM (SELECT id, emb FROM xs ORDER BY id
             |              LIMIT (SELECT CAST(ceil(sqrt(COUNT(*))) AS BIGINT) FROM xs))),
             |ivy AS (SELECT row_number() OVER (ORDER BY id) - 1 AS cell, emb AS cemb
             |        FROM (SELECT id, emb FROM ys ORDER BY id
             |              LIMIT (SELECT CAST(ceil(sqrt(COUNT(*))) AS BIGINT) FROM ys))),
             |dvxx AS (SELECT x.id, ivx.cell,
             |         list_sum([(x.emb[i]-ivx.cemb[i])*(x.emb[i]-ivx.cemb[i]) for i in range(1,65)]) AS d2
             |        FROM xs x CROSS JOIN ivx),
             |dvyy AS (SELECT y.id, ivy.cell,
             |         list_sum([(y.emb[i]-ivy.cemb[i])*(y.emb[i]-ivy.cemb[i]) for i in range(1,65)]) AS d2
             |        FROM ys y CROSS JOIN ivy),
             |dvxy AS (SELECT x.id, ivy.cell,
             |         list_sum([(x.emb[i]-ivy.cemb[i])*(x.emb[i]-ivy.cemb[i]) for i in range(1,65)]) AS d2
             |        FROM xs x CROSS JOIN ivy),
             |dvyx AS (SELECT y.id, ivx.cell,
             |         list_sum([(y.emb[i]-ivx.cemb[i])*(y.emb[i]-ivx.cemb[i]) for i in range(1,65)]) AS d2
             |        FROM ys y CROSS JOIN ivx),
             |assignx AS (SELECT id, cell FROM (SELECT id, cell,
             |              row_number() OVER (PARTITION BY id ORDER BY d2, cell) AS rnk FROM dvxx) WHERE rnk = 1),
             |assigny AS (SELECT id, cell FROM (SELECT id, cell,
             |              row_number() OVER (PARTITION BY id ORDER BY d2, cell) AS rnk FROM dvyy) WHERE rnk = 1),
             |probexy AS (SELECT id, cell FROM (SELECT id, cell,
             |              row_number() OVER (PARTITION BY id ORDER BY d2, cell) AS rnk FROM dvxy) WHERE rnk <= 3),
             |probeyx AS (SELECT id, cell FROM (SELECT id, cell,
             |              row_number() OVER (PARTITION BY id ORDER BY d2, cell) AS rnk FROM dvyx) WHERE rnk <= 3),
             |adcf AS (SELECT p.id AS qid, a.id AS cid, round(CAST(SUM(l.d2) AS DOUBLE), 4) AS adc
             |         FROM probexy p JOIN assigny a ON p.cell = a.cell AND a.id <> p.id
             |         JOIN codey cc ON cc.id = a.id
             |         JOIN lutx l ON l.id = p.id AND l.s = cc.s AND l.c = cc.c
             |         GROUP BY 1, 2),
             |adcb AS (SELECT p.id AS qid, a.id AS cid, round(CAST(SUM(l.d2) AS DOUBLE), 4) AS adc
             |         FROM probeyx p JOIN assignx a ON p.cell = a.cell AND a.id <> p.id
             |         JOIN codex cc ON cc.id = a.id
             |         JOIN luty l ON l.id = p.id AND l.s = cc.s AND l.c = cc.c
             |         GROUP BY 1, 2),
             |fw AS (SELECT qid AS src_id, cid AS tgt_id FROM (SELECT qid, cid,
             |         row_number() OVER (PARTITION BY qid ORDER BY adc, cid) AS rn FROM adcf) WHERE rn <= 4),
             |bw AS (SELECT cid AS src_id, qid AS tgt_id FROM (SELECT qid, cid,
             |         row_number() OVER (PARTITION BY qid ORDER BY adc, cid) AS rn FROM adcb) WHERE rn <= 4),
             |cand AS (SELECT DISTINCT src_id, tgt_id FROM
             |         (SELECT src_id, tgt_id FROM fw UNION ALL SELECT src_id, tgt_id FROM bw)),
             |sims AS (SELECT c.src_id, c.tgt_id,
             |          round(list_sum([x.emb[i]*y.emb[i] for i in range(1,65)])/(x.nrm*y.nrm), 4) AS sim
             |         FROM cand c JOIN xs x ON x.id = c.src_id JOIN ys y ON y.id = c.tgt_id),
             |kx AS (SELECT f.src_id, CAST(SUM(CAST(s.sim AS DECIMAL(18,6))) AS DOUBLE) AS sx
             |       FROM fw f JOIN sims s ON s.src_id = f.src_id AND s.tgt_id = f.tgt_id GROUP BY 1),
             |ky AS (SELECT b.tgt_id, CAST(SUM(CAST(s.sim AS DECIMAL(18,6))) AS DOUBLE) AS sy
             |       FROM bw b JOIN sims s ON s.src_id = b.src_id AND s.tgt_id = b.tgt_id GROUP BY 1),
             |m AS (SELECT s.src_id, s.tgt_id, s.sim,
             |        round(s.sim / ((kx.sx + ky.sy) / 8.0), 4) AS margin
             |      FROM sims s JOIN kx ON kx.src_id = s.src_id JOIN ky ON ky.tgt_id = s.tgt_id)
             |SELECT src_id, tgt_id, sim, margin
             |FROM (SELECT src_id, tgt_id, sim, margin,
             |        row_number() OVER (PARTITION BY src_id ORDER BY margin DESC, tgt_id) AS rn
             |      FROM m QUALIFY rn = 1)
             |ORDER BY src_id""".stripMargin)),
    // k-center coreset by farthest-first traversal (Gonzalez 1985): 6
    // centers over the embeddings, each pass one corpus scan against the
    // single newest center + a top-1 reduce (no pairwise table); the
    // radius sequence is the coverage curve coreset selection reads.
    // d² = na + nb − 2·a·b with ascending-index dots, rounded to 4 before
    // any comparison, ties to the lower id — the oracle replays the
    // traversal step by step in chained CTEs.
    QuerySpec(
      "x113_kcenter_coreset",
      (s, dir) =>
        Similarity.kcenterCoreset(Tables.embeddings(s, dir),
            "vec_id", "embedding", k = 6)
          .orderBy("rank"),
      Some("""WITH e AS (SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS emb FROM embeddings),
             |n AS (SELECT vec_id, emb, list_sum([x*x for x in emb]) AS na FROM e),
             |c1 AS (SELECT vec_id, emb, na FROM n ORDER BY vec_id LIMIT 1),
             |d1 AS (SELECT p.vec_id,
             |         round(p.na + c.na - 2*list_sum([p.emb[i]*c.emb[i] for i in range(1,65)]), 4) AS dmin
             |       FROM n p CROSS JOIN c1 c),
             |p2 AS (SELECT vec_id, dmin FROM d1 ORDER BY dmin DESC, vec_id LIMIT 1),
             |c2 AS (SELECT n.vec_id, n.emb, n.na FROM n JOIN p2 ON p2.vec_id = n.vec_id),
             |d2 AS (SELECT d1.vec_id,
             |         least(d1.dmin, round(p.na + c.na - 2*list_sum([p.emb[i]*c.emb[i] for i in range(1,65)]), 4)) AS dmin
             |       FROM d1 JOIN n p ON p.vec_id = d1.vec_id CROSS JOIN c2 c),
             |p3 AS (SELECT vec_id, dmin FROM d2 ORDER BY dmin DESC, vec_id LIMIT 1),
             |c3 AS (SELECT n.vec_id, n.emb, n.na FROM n JOIN p3 ON p3.vec_id = n.vec_id),
             |d3 AS (SELECT d2.vec_id,
             |         least(d2.dmin, round(p.na + c.na - 2*list_sum([p.emb[i]*c.emb[i] for i in range(1,65)]), 4)) AS dmin
             |       FROM d2 JOIN n p ON p.vec_id = d2.vec_id CROSS JOIN c3 c),
             |p4 AS (SELECT vec_id, dmin FROM d3 ORDER BY dmin DESC, vec_id LIMIT 1),
             |c4 AS (SELECT n.vec_id, n.emb, n.na FROM n JOIN p4 ON p4.vec_id = n.vec_id),
             |d4 AS (SELECT d3.vec_id,
             |         least(d3.dmin, round(p.na + c.na - 2*list_sum([p.emb[i]*c.emb[i] for i in range(1,65)]), 4)) AS dmin
             |       FROM d3 JOIN n p ON p.vec_id = d3.vec_id CROSS JOIN c4 c),
             |p5 AS (SELECT vec_id, dmin FROM d4 ORDER BY dmin DESC, vec_id LIMIT 1),
             |c5 AS (SELECT n.vec_id, n.emb, n.na FROM n JOIN p5 ON p5.vec_id = n.vec_id),
             |d5 AS (SELECT d4.vec_id,
             |         least(d4.dmin, round(p.na + c.na - 2*list_sum([p.emb[i]*c.emb[i] for i in range(1,65)]), 4)) AS dmin
             |       FROM d4 JOIN n p ON p.vec_id = d4.vec_id CROSS JOIN c5 c),
             |p6 AS (SELECT vec_id, dmin FROM d5 ORDER BY dmin DESC, vec_id LIMIT 1)
             |SELECT * FROM (
             |  SELECT CAST(1 AS BIGINT) AS rank, vec_id, 0.0 AS radius FROM c1
             |  UNION ALL SELECT 2, vec_id, dmin FROM p2
             |  UNION ALL SELECT 3, vec_id, dmin FROM p3
             |  UNION ALL SELECT 4, vec_id, dmin FROM p4
             |  UNION ALL SELECT 5, vec_id, dmin FROM p5
             |  UNION ALL SELECT 6, vec_id, dmin FROM p6
             |) ORDER BY rank""".stripMargin)),
    // Top principal component by distributed covariance + power iteration
    // (the PCA workhorse; von Mises & Pollaczek-Geiringer 1929) — the
    // spectral summary x87's per-dim drift means can't give: the
    // DIRECTION of maximum variance in the embedding cloud, plus its
    // eigenvalue. Two-phase, the only shape that survives 100 TB: (1)
    // the corpus reduces to 64² second moments in ONE scan — the outer
    // product expands row-LOCALLY (flatten/transform, no self-join, no
    // shuffle of vector pairs) into slim (i, j, p) rows that map-side-
    // combine into 4096 groups; localCheckpoint pins the tiny C so the
    // iterations never rescan the corpus. (2) Three power iterations run
    // entirely on the 4096-row C: each is a j-keyed equi-join against
    // the 64-row vector + a 64-group aggregate. Determinism: products
    // and squares round to 6 dp and sum as DECIMAL(18,6); the v₀ = e₁
    // start fixes the sign. The oracle replays both phases in SQL
    // (range² expansion + three chained mat-vec/normalize CTEs).
    QuerySpec(
      "x127_pca_power",
      (s, dir) => {
        // both moment passes (mu and the upper-triangle grid) explode
        // 64 (resp. ~2080) cells per vector above the first exchange; an
        // under-split scan runs that on its few scan tasks (measured:
        // 2×2.0 s single-task at sf0.1). Fan the slim vectors first —
        // no-op when the scan has enough file splits (guide §2.5).
        val e = Tables.fanOut(Tables.embeddings(s, dir)
            .select(col("vec_id"), col("embedding").as("e")), col("vec_id"))
          .select(col("e"))
        // Both moment passes are plain posexplode + codegen arithmetic
        // (round 17, guide item 4 "eliminate non-codegen expressions in
        // the hot path"): the previous shape ran a higher-order
        // transform(named_struct(decimal)) for mu and a slice()+explode
        // upper-triangle for the grid — HOFs and per-row slice
        // materialization are CodegenFallback, measured ~10-20 µs/row
        // interpreted, and the upper aggregate was additionally
        // recomputed by BOTH union branches of its mirror (two ~45
        // CPU-s jobs for one 2080-cell result). The full 64² grid in one
        // whole-stage-codegen explode×explode is exactly what the oracle
        // computes, and round(vi*vj*1e6) is exactly commutative, so every
        // cell value (and its count) is identical to the mirrored form —
        // only the execution shape changes (93 CPU-s → ~2, one pass, no
        // union).
        val mu = e.select(posexplode(col("e")))
          .select((col("pos") + 1).as("i"),
            round(col("col").cast("double"), 6).cast("decimal(18,6)")
              .as("v"))
          .groupBy("i").agg(sum(col("v")).as("sv"), count(lit(1)).as("n"))
          .select(col("i"), (col("sv").cast("double") / col("n")).as("mu"))
        val sums = e.select(col("e"), posexplode(col("e")))
          .select(col("e"), (col("pos") + 1).as("i"),
            col("col").cast("double").as("vi"))
          .select(col("i"), col("vi"), posexplode(col("e")))
          .select(col("i"), (col("pos") + 1).as("j"),
            round(col("vi") * col("col") * lit(1000000.0), 0)
              .cast("long").as("p"))
          .groupBy("i", "j")
          .agg(sum(col("p")).as("sp"), count(lit(1)).as("n"))
        val cmat = sums
          .join(broadcast(mu.select(col("i"), col("mu").as("mi"))), "i")
          .join(broadcast(mu.select(col("i").as("j"), col("mu").as("mj"))), "j")
          .select(col("i"), col("j"),
            (col("sp").cast("double") / lit(1000000.0) / col("n") -
              col("mi") * col("mj")).as("c"))
          .localCheckpoint() // 4096 rows; iterations never rescan the corpus
        // The L2 normalizer is a GLOBAL aggregate of the 64-row w vector —
        // dimension-bounded, never corpus-bounded — so it rides a
        // partition-less window over the aggregate instead of a separate
        // agg + crossJoin(broadcast(...)) per iteration: same decimal sum,
        // same rounding, but the three iterations collapse into ONE lazy
        // plan (no per-iteration broadcast jobs; measured 22 jobs -> 5 at
        // sf0.1). Scale-safe per the PlansSpec window rule: the window
        // input is the 64-row groupBy("i") aggregate.
        val wg = org.apache.spark.sql.expressions.Window
          .partitionBy().rowsBetween(
            org.apache.spark.sql.expressions.Window.unboundedPreceding,
            org.apache.spark.sql.expressions.Window.unboundedFollowing)
        var v = cmat.select(col("i").as("j")).distinct()
          .select(col("j"),
            when(col("j") === 1, lit(1.0)).otherwise(lit(0.0)).as("vj"),
            lit(0.0).as("nrm"))
        for (_ <- 1 to 3) {
          val w = cmat.join(v.select(col("j"), col("vj")), "j")
            .groupBy(col("i"))
            .agg(sum(round(col("c") * col("vj"), 6).cast("decimal(18,6)"))
              .as("wd"))
            .select(col("i"), col("wd").cast("double").as("w"))
          v = w
            .withColumn("nrm",
              sqrt(sum(round(col("w") * col("w"), 6).cast("decimal(18,6)"))
                .over(wg).cast("double")))
            .select(col("i").as("j"),
              round(col("w") / col("nrm"), 6).as("vj"), col("nrm"))
        }
        v.select(col("j").cast("long").as("dim"), col("vj").as("loading"),
            round(col("nrm"), 6).as("eigenvalue"))
          .orderBy("dim")
      },
      Some("""WITH d AS (SELECT CAST(range AS INT) AS i FROM range(1, 65)),
             |mu AS (SELECT d.i,
             |         CAST(SUM(CAST(round(CAST(e.embedding[d.i] AS DOUBLE), 6)
             |           AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS mu
             |       FROM embeddings e CROSS JOIN d GROUP BY d.i),
             |cm AS (SELECT di.i, dj.i AS j,
             |         CAST(SUM(CAST(round(CAST(e.embedding[di.i] AS DOUBLE)
             |             * e.embedding[dj.i] * 1000000.0, 0) AS BIGINT)) AS DOUBLE)
             |           / 1000000.0 / COUNT(*)
             |           - mi.mu * mj.mu AS c
             |       FROM embeddings e CROSS JOIN d di CROSS JOIN d dj
             |         JOIN mu mi ON mi.i = di.i JOIN mu mj ON mj.i = dj.i
             |       GROUP BY di.i, dj.i, mi.mu, mj.mu),
             |v0 AS (SELECT i AS j, CASE WHEN i = 1 THEN CAST(1.0 AS DOUBLE)
             |                          ELSE CAST(0.0 AS DOUBLE) END AS vj FROM d),
             |w1 AS (SELECT cm.i, CAST(SUM(CAST(round(cm.c * v0.vj, 6)
             |         AS DECIMAL(18,6))) AS DOUBLE) AS w
             |       FROM cm JOIN v0 ON v0.j = cm.j GROUP BY cm.i),
             |n1 AS (SELECT sqrt(CAST(SUM(CAST(round(w * w, 6) AS DECIMAL(18,6)))
             |         AS DOUBLE)) AS nrm FROM w1),
             |v1 AS (SELECT w1.i AS j, round(w1.w / n1.nrm, 6) AS vj
             |       FROM w1 CROSS JOIN n1),
             |w2 AS (SELECT cm.i, CAST(SUM(CAST(round(cm.c * v1.vj, 6)
             |         AS DECIMAL(18,6))) AS DOUBLE) AS w
             |       FROM cm JOIN v1 ON v1.j = cm.j GROUP BY cm.i),
             |n2 AS (SELECT sqrt(CAST(SUM(CAST(round(w * w, 6) AS DECIMAL(18,6)))
             |         AS DOUBLE)) AS nrm FROM w2),
             |v2 AS (SELECT w2.i AS j, round(w2.w / n2.nrm, 6) AS vj
             |       FROM w2 CROSS JOIN n2),
             |w3 AS (SELECT cm.i, CAST(SUM(CAST(round(cm.c * v2.vj, 6)
             |         AS DECIMAL(18,6))) AS DOUBLE) AS w
             |       FROM cm JOIN v2 ON v2.j = cm.j GROUP BY cm.i),
             |n3 AS (SELECT sqrt(CAST(SUM(CAST(round(w * w, 6) AS DECIMAL(18,6)))
             |         AS DOUBLE)) AS nrm FROM w3),
             |v3 AS (SELECT w3.i AS j, round(w3.w / n3.nrm, 6) AS vj
             |       FROM w3 CROSS JOIN n3)
             |SELECT CAST(v3.j AS BIGINT) AS dim, v3.vj AS loading,
             |  round(n3.nrm, 6) AS eigenvalue
             |FROM v3 CROSS JOIN n3 ORDER BY dim""".stripMargin)),
    // Binary (sign-bit) embedding quantization + Hamming-shortlist ANN
    // (Charikar 2002 hyperplane LSH at its degenerate axis-aligned limit;
    // the "binary quantization" serving trick in modern vector stores):
    // each 64-dim float vector (256 B) compresses to TWO 32-bit sign
    // words (16 B) stored as BIGINTs; candidate search is bit_count(XOR)
    // popcount over the packed codes — 16× less data moves than floats —
    // and only the top-20 Hamming shortlist is reranked with exact
    // cosine. Scale shape: the query side (5 rows) broadcasts, the
    // corpus side streams slim (id, lo, hi) codes, both rank stages are
    // WindowGroupLimit-bounded, and full embeddings attach ONLY to the
    // |queries|·20 shortlist rows.
    QuerySpec(
      "x130_binary_hamming_ann",
      (s, dir) => {
        val e = Tables.embeddings(s, dir)
        val codes = e.select(col("vec_id"), expr(PackLoExpr).as("lo"),
          expr(PackHiExpr).as("hi"))
        val q = codes.filter(col("vec_id") < 5)
          .select(col("vec_id").as("qid"), col("lo").as("qlo"),
            col("hi").as("qhi"))
        val ham = codes.join(broadcast(q), col("vec_id") =!= col("qid"))
          .select(col("qid"), col("vec_id").as("cid"),
            (expr("bit_count(qlo ^ lo) + bit_count(qhi ^ hi)"))
              .cast("long").as("ham"))
        val wq = org.apache.spark.sql.expressions.Window
          .partitionBy("qid").orderBy(col("ham"), col("cid"))
        val short = ham.withColumn("hrn", row_number().over(wq))
          .filter(col("hrn") <= 20).drop("hrn")
        val qe = e.select(col("vec_id").as("qid"), col("embedding").as("qe"))
        val ce = e.select(col("vec_id").as("cid"), col("embedding").as("ce"))
        val wr = org.apache.spark.sql.expressions.Window
          .partitionBy("qid").orderBy(col("sim").desc, col("cid"))
        short.join(broadcast(qe), "qid").join(ce, "cid")
          .select(col("qid"), col("cid"), col("ham"), expr(CosineSim4Expr).as("sim"))
          .withColumn("rn", row_number().over(wr).cast("long"))
          .filter(col("rn") <= 5)
          .orderBy("qid", "rn")
      },
      Some(s"""WITH $BinPackOracleCte,
             |h AS (SELECT q.vec_id AS qid, c.vec_id AS cid,
             |        CAST(bit_count(xor(q.lo, c.lo))
             |           + bit_count(xor(q.hi, c.hi)) AS BIGINT) AS ham
             |      FROM p q JOIN p c ON c.vec_id <> q.vec_id
             |      WHERE q.vec_id < 5),
             |s AS (SELECT qid, cid, ham,
             |        row_number() OVER (PARTITION BY qid ORDER BY ham, cid) AS hrn
             |      FROM h QUALIFY hrn <= 20),
             |$EmbNormOracleCte,
             |f AS (SELECT s.qid, s.cid, s.ham, q.nrm AS qn, c.nrm AS cn,
             |        unnest(q.emb) AS qv, unnest(c.emb) AS cv
             |      FROM s JOIN n q ON q.vec_id = s.qid
             |        JOIN n c ON c.vec_id = s.cid),
             |d AS (SELECT qid, cid, any_value(ham) AS ham,
             |        round(sum(qv * cv) / (any_value(qn) * any_value(cn)), 4)
             |          AS sim
             |      FROM f GROUP BY qid, cid)
             |SELECT qid, cid, ham, sim,
             |  CAST(row_number() OVER (PARTITION BY qid
             |    ORDER BY sim DESC, cid) AS BIGINT) AS rn
             |FROM d QUALIFY rn <= 5 ORDER BY qid, rn""".stripMargin)),
    // Mann-Whitney U / Wilcoxon rank-sum test (Mann & Whitney 1947) with
    // tie correction between the A/B variants' per-user purchase counts —
    // the nonparametric companion to x133's Welch t (heavy-tailed user
    // metrics break the t-test's moment assumptions; ranks don't care).
    // The whole rank computation stays INTEGER-exact: average ranks ride
    // as 2·rank (ca·(2·cum_before + cnt + 1) — no .5 floats), so the
    // rank-sum, U, and the tie term Σ(t³−t) are BIGINTs in any add
    // order; only the final 1-row z arithmetic is floating. Windows run
    // over the |distinct y| aggregate — Rule-1-safe bounded input.
    QuerySpec(
      "x135_mann_whitney",
      (s, dir) => {
        val W = org.apache.spark.sql.expressions.Window
        val u = Tables.events(s, dir)
          .groupBy(col("user_id"))
          .agg(sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .as("y"))
          .select((col("user_id") % 2).as("variant"), col("y"))
        val grid = u.groupBy(col("y"))
          .agg(sum(when(col("variant") === 0, 1L).otherwise(0L)).as("ca"),
            sum(when(col("variant") === 1, 1L).otherwise(0L)).as("cb"))
          .withColumn("cnt", col("ca") + col("cb"))
        val wc = W.orderBy("y").rowsBetween(W.unboundedPreceding, -1)
        val ranked = grid.withColumn("cumprev",
          coalesce(sum(col("cnt")).over(wc), lit(0L)))
        val m = ranked.agg(
          sum(col("ca")).as("na"), sum(col("cb")).as("nb"),
          sum(col("ca") * (lit(2L) * col("cumprev") + col("cnt") + 1L))
            .as("r2a"),
          sum(col("cnt") * col("cnt") * col("cnt") - col("cnt")).as("ties"))
        m.select(col("na"), col("nb"),
            ((col("r2a") - col("na") * (col("na") + 1L)).cast("double") / 2.0)
              .as("u_a"),
            (col("na") * col("nb") / lit(2.0)).as("mu_u"),
            (col("na").cast("double") * col("nb") / 12.0 *
              ((col("na") + col("nb") + 1L) -
                col("ties").cast("double") /
                  ((col("na") + col("nb")).cast("double") *
                    (col("na") + col("nb") - 1L)))).as("var_u"))
          .select(col("na"), col("nb"), round(col("u_a"), 6).as("u_a"),
            round((col("u_a") - col("mu_u")) / sqrt(col("var_u")), 6)
              .as("z"),
            (abs((col("u_a") - col("mu_u")) / sqrt(col("var_u"))) > 1.96)
              .cast("long").as("reject_05"))
          .orderBy("na")
      },
      Some("""WITH u AS (SELECT user_id % 2 AS variant,
             |        SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
             |          AS y
             |      FROM events GROUP BY user_id),
             |grid AS (SELECT y,
             |           SUM(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS ca,
             |           SUM(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS cb,
             |           COUNT(*) AS cnt0
             |         FROM u GROUP BY 1),
             |g2 AS (SELECT y, ca, cb, ca + cb AS cnt,
             |         COALESCE(SUM(ca + cb) OVER (ORDER BY y
             |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             |           AS cumprev
             |       FROM grid),
             |m AS (SELECT SUM(ca) AS na, SUM(cb) AS nb,
             |        SUM(ca * (2 * cumprev + cnt + 1)) AS r2a,
             |        SUM(cnt * cnt * cnt - cnt) AS ties
             |      FROM g2),
             |v AS (SELECT na, nb,
             |        CAST(r2a - na * (na + 1) AS DOUBLE) / 2.0 AS u_a,
             |        na * nb / 2.0 AS mu_u,
             |        CAST(na AS DOUBLE) * nb / 12.0 *
             |          ((na + nb + 1) - CAST(ties AS DOUBLE) /
             |            (CAST(na + nb AS DOUBLE) * (na + nb - 1))) AS var_u
             |      FROM m)
             |SELECT CAST(na AS BIGINT) AS na, CAST(nb AS BIGINT) AS nb,
             |  round(u_a, 6) AS u_a,
             |  round((u_a - mu_u) / sqrt(var_u), 6) AS z,
             |  CAST(CASE WHEN abs((u_a - mu_u) / sqrt(var_u)) > 1.96
             |       THEN 1 ELSE 0 END AS BIGINT) AS reject_05
             |FROM v ORDER BY na""".stripMargin)),
    // KNN-Shapley data valuation (Jia et al., PVLDB 12(11), 2019,
    // Theorem 1): the exact Shapley value of each training point for a
    // K-NN classifier, in closed form — sort train points by similarity
    // to a probe, then s(α_N) = 1[y_N=y]/N and
    // s(α_i) = s(α_{i+1}) + (1[y_i=y] − 1[y_{i+1}=y])/K · min(K,i)/i —
    // i.e. a SUFFIX SUM over the ranking of row-local terms, which is
    // exactly a window aggregate. This is the data-valuation primitive a
    // curation pipeline uses to price individual examples (which rows
    // help / hurt a probe set) without training anything. At 100 TB:
    // the probe set is BOUNDED (8 rows, seeded-hash pick — the x49/x52
    // device), so similarity is 8·n map-side dot products against a
    // broadcast probe frame (the corpus never shuffles for it); the only
    // shuffle is the per-probe ranking, a partition-by-qid sort whose
    // 100 TB form is the two-level bucketed global-rank device x165/x168
    // already use (bucket by sim band, countBelow per band, rank within).
    // Terms are rounded-6 and DECIMAL-summed in the window frame so the
    // suffix accumulation is exact and engine-order-proof (DuckDB's
    // segment-tree window sum vs Spark's running sum would otherwise
    // differ in float add order). Output: top-5 most valuable train
    // points per probe.
    QuerySpec(
      "x176_knn_shapley",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val e = Tables.embeddings(s, dir)
        val probes = e
          .withColumn("h", md5(concat(lit("shap"), col("vec_id").cast("string"))))
          .orderBy("h", "vec_id").limit(8)
          .select(col("vec_id").as("qid"), col("embedding").as("qemb"),
            col("label").as("qlab"))
        val train = e.join(
          broadcast(probes.select(col("qid").as("vec_id"))), Seq("vec_id"), "left_anti")
        val shap = Valuation.knnShapley(train, probes, "vec_id", "embedding",
          "label", k = 5)
        val wVal = Window.partitionBy("qid").orderBy(col("shap").desc, col("tid"))
        shap
          .withColumn("vrank", row_number().over(wVal).cast("long"))
          .filter(col("vrank") <= 5)
          .select(col("qid"), col("vrank"), col("tid"), col("tlab"),
            col("sim"), col("shap"))
          .orderBy("qid", "vrank")
      },
      Some("""WITH pr AS (SELECT vec_id,
             |        md5(concat('shap', CAST(vec_id AS VARCHAR))) AS h
             |      FROM embeddings),
             |t AS (SELECT vec_id FROM pr ORDER BY h, vec_id LIMIT 8),
             |e AS (SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS emb,
             |        label FROM embeddings),
             |n AS (SELECT vec_id, emb, label,
             |        sqrt(list_sum([x * x for x in emb])) AS nrm FROM e),
             |f AS (SELECT q.vec_id AS qid, q.label AS qlab, c.vec_id AS tid,
             |        c.label AS tlab, q.nrm AS qn, c.nrm AS cn,
             |        unnest(q.emb) AS qv, unnest(c.emb) AS cv
             |      FROM n q CROSS JOIN n c
             |      WHERE q.vec_id IN (SELECT vec_id FROM t)
             |        AND c.vec_id NOT IN (SELECT vec_id FROM t)),
             |d AS (SELECT qid, any_value(qlab) AS qlab, tid,
             |        any_value(tlab) AS tlab,
             |        round(sum(qv * cv) / (any_value(qn) * any_value(cn)), 4) AS sim
             |      FROM f GROUP BY qid, tid),
             |r AS (SELECT qid, qlab, tid, tlab, sim,
             |        row_number() OVER (PARTITION BY qid ORDER BY sim DESC, tid) AS rk,
             |        COUNT(*) OVER (PARTITION BY qid) AS nn,
             |        CASE WHEN tlab = qlab THEN 1.0 ELSE 0.0 END AS m
             |      FROM d),
             |g AS (SELECT *,
             |        CASE WHEN rk < nn THEN
             |          (m - lead(m) OVER (PARTITION BY qid ORDER BY rk)) / 5.0
             |            * least(5, rk) / rk
             |        ELSE 0.0 END AS term,
             |        MAX(CASE WHEN rk = nn THEN
             |          CASE WHEN nn > 5 THEN m / nn
             |               ELSE m * least(5, nn) / (5.0 * nn) END
             |        END) OVER (PARTITION BY qid) AS base
             |      FROM r),
             |sv AS (SELECT qid, tid, tlab, sim,
             |        round(base + CAST(sum(CAST(round(term, 6) AS DECIMAL(18,6)))
             |          OVER (PARTITION BY qid ORDER BY rk DESC
             |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |          AS DOUBLE), 6) AS shap
             |      FROM g)
             |SELECT qid, CAST(row_number() OVER (PARTITION BY qid
             |    ORDER BY shap DESC, tid) AS BIGINT) AS vrank,
             |  tid, tlab, sim, shap
             |FROM sv QUALIFY vrank <= 5 ORDER BY qid, vrank""".stripMargin)),
    // Mann-Kendall trend test + Sen's slope (Mann 1945; Kendall 1975;
    // Sen, JASA 1968) over monthly revenue — the NONPARAMETRIC trend
    // read complementing the parametric suite (x122 Holt level/trend,
    // x143 changepoint, x146 MASE): S = Σ_{i<j} sign(x_j − x_i) with the
    // tie-corrected variance Var(S) = [n(n−1)(2n+5) − Σ_t t(t−1)(2t+5)]/18,
    // the continuity-corrected z, and Sen's slope = median of pairwise
    // slopes — robust to outlier months and needing no distributional
    // assumption. At-scale shape: the corpus collapses to CALENDAR-BOUNDED
    // month cells first (80 here; any horizon is thousands at most), so the
    // pairwise stage is |months|² over a broadcast frame — never data-sized.
    // Month revenue goes through the round-6 DECIMAL bridge, so every
    // pairwise sign/slope is computed on bit-identical doubles per engine;
    // Spark's exact `percentile` and DuckDB's `quantile_cont` share the
    // same sorted-linear-interpolation definition.
    QuerySpec(
      "x177_mann_kendall",
      (s, dir) => {
        val mo = Tables.orders(s, dir)
          .groupBy((year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
            .cast("long").as("mi"))
          .agg(sum(round(col("o_totalprice"), 6).cast("decimal(18,6)"))
            .cast("double").as("rev"))
          .localCheckpoint() // one scan feeds pairs (both sides), ties, n
        val pairs = mo.as("a").join(mo.as("b"), col("a.mi") < col("b.mi"))
          .select(signum(col("b.rev") - col("a.rev")).cast("int").as("sg"),
            ((col("b.rev") - col("a.rev")) /
              (col("b.mi") - col("a.mi")).cast("double")).as("slope"))
        val sAgg = pairs.agg(sum(col("sg")).cast("long").as("s_stat"),
          expr("percentile(slope, 0.5)").as("sen"))
        val ties = mo.groupBy("rev").agg(count(lit(1)).as("t"))
          .agg(sum(col("t") * (col("t") - 1) * (col("t") * 2 + 5)).as("tie_term"),
            sum(col("t")).cast("long").as("n"))
        sAgg.crossJoin(broadcast(ties))
          .withColumn("var_s",
            (col("n") * (col("n") - 1) * (col("n") * 2 + 5) - col("tie_term"))
              .cast("double") / 18.0)
          .withColumn("zz",
            when(col("s_stat") > 0,
              (col("s_stat").cast("double") - 1.0) / sqrt(col("var_s")))
              .when(col("s_stat") < 0,
                (col("s_stat").cast("double") + 1.0) / sqrt(col("var_s")))
              .otherwise(lit(0.0)))
          .select(col("n").as("n_months"), col("s_stat"),
            round(col("var_s"), 6).as("var_s"), round(col("zz"), 6).as("z"),
            when(col("zz") > 1.959964, "increasing")
              .when(col("zz") < -1.959964, "decreasing")
              .otherwise("no trend").as("trend"),
            round(col("sen"), 6).as("sen_slope"))
          .orderBy("n_months")
      },
      Some("""WITH mo AS (SELECT CAST(year(o_orderdate)*12 + month(o_orderdate) AS BIGINT) AS mi,
             |        CAST(SUM(CAST(round(o_totalprice, 6) AS DECIMAL(18,6))) AS DOUBLE) AS rev
             |      FROM orders GROUP BY 1),
             |p AS (SELECT CAST(sign(b.rev - a.rev) AS INT) AS sg,
             |        (b.rev - a.rev) / CAST(b.mi - a.mi AS DOUBLE) AS slope
             |      FROM mo a JOIN mo b ON a.mi < b.mi),
             |sa AS (SELECT CAST(SUM(sg) AS BIGINT) AS s_stat,
             |        quantile_cont(slope, 0.5) AS sen FROM p),
             |ti AS (SELECT SUM(t*(t-1)*(t*2+5)) AS tie_term,
             |        CAST(SUM(t) AS BIGINT) AS n
             |      FROM (SELECT COUNT(*) AS t FROM mo GROUP BY rev)),
             |v AS (SELECT sa.s_stat, sa.sen, ti.tie_term, ti.n,
             |        CAST(n*(n-1)*(n*2+5) - tie_term AS DOUBLE)/18.0 AS var_s
             |      FROM sa CROSS JOIN ti),
             |z AS (SELECT *,
             |        CASE WHEN s_stat > 0 THEN (CAST(s_stat AS DOUBLE)-1.0)/sqrt(var_s)
             |             WHEN s_stat < 0 THEN (CAST(s_stat AS DOUBLE)+1.0)/sqrt(var_s)
             |             ELSE 0.0 END AS zz FROM v)
             |SELECT n AS n_months, s_stat, round(var_s, 6) AS var_s,
             |  round(zz, 6) AS z,
             |  CASE WHEN zz > 1.959964 THEN 'increasing'
             |       WHEN zz < -1.959964 THEN 'decreasing'
             |       ELSE 'no trend' END AS trend,
             |  round(sen, 6) AS sen_slope
             |FROM z ORDER BY n_months""".stripMargin)),
    // Geometric median of the embedding corpus via Weiszfeld iterations
    // (Weiszfeld 1937; Beck & Sabach, "Weiszfeld's method: old and new
    // results", JOTA 2015) — the ROBUST centroid: the arithmetic mean
    // (x12) moves arbitrarily far under a single adversarial vector,
    // while the geometric median has a 50% breakdown point — the
    // aggregation a poisoning-resistant pipeline wants (robust federated
    // averaging is exactly this device). Three iterations of
    // c ← Σ wᵢvᵢ / Σ wᵢ with wᵢ = 1/max(‖vᵢ − c‖, ε), seeded at the
    // mean. Shapes: the centroid lives as a 64-row (dim, value) frame;
    // distances come from ONE broadcast-join + per-vector group sum
    // (rounded 4, the x5 group-sum stability precedent), weighted sums
    // ride the round-6 DECIMAL bridge per dim — every stage is a slim
    // equi-join or map-side-combined aggregate, linear in the corpus,
    // and replays verbatim in SQL. Output contrasts mean vs median per
    // dim (the shift IS the robustness signal).
    QuerySpec(
      "x184_geometric_median",
      (s, dir) => {
        // Examined for the r16 fan-out pass and deliberately left on the
        // scan's layout: the Weiszfeld rounds are ~30 tiny broadcast/agg
        // jobs over a 640k-row working set, so the cost is per-job
        // scheduling, not map-side serialization — fanning the checkpoint
        // to 32 partitions measured WORSE at sf0.1 (2.48 -> 2.97 s
        // profiler min; 32 task launches per micro-stage outweigh the
        // parallel compute).
        val ex = Tables.embeddings(s, dir)
          .select(col("vec_id"),
            posexplode(col("embedding")).as(Seq("dim", "v")))
          .select(col("vec_id"), col("dim"), col("v").cast("double").as("v"))
          .localCheckpoint() // one explode feeds the seed and all rounds
        val n = ex.agg(countDistinct(col("vec_id")).as("n"))
        val mean = ex.groupBy("dim")
          .agg(sum(round(col("v"), 6).cast("decimal(18,6)")).cast("double")
            .as("sv"))
          .crossJoin(broadcast(n))
          .select(col("dim"), round(col("sv") / col("n"), 6).as("c"))
        var cen = mean
        for (_ <- 1 to 3) {
          val d = ex.join(broadcast(cen), "dim")
            .groupBy("vec_id")
            .agg(round(sqrt(sum((col("v") - col("c")) * (col("v") - col("c")))), 4)
              .as("dist"))
          val w = d.select(col("vec_id"),
            round(lit(1.0) / greatest(col("dist"), lit(1e-6)), 6).as("w"))
          val sw = w.agg(sum(col("w").cast("decimal(18,6)")).cast("double")
            .as("swv"))
          cen = ex.join(broadcast(w), "vec_id")
            .groupBy("dim")
            .agg(sum(round(col("w") * col("v"), 6).cast("decimal(18,6)"))
              .cast("double").as("num"))
            .crossJoin(broadcast(sw))
            .select(col("dim"), round(col("num") / col("swv"), 6).as("c"))
        }
        mean.select(col("dim"), col("c").as("mean_c"))
          .join(cen.select(col("dim"), col("c").as("geomed_c")), "dim")
          .select(col("dim").cast("long").as("dim"), col("mean_c"),
            col("geomed_c"),
            round(col("geomed_c") - col("mean_c"), 6).as("shift"))
          .orderBy("dim")
      },
      Some("""WITH ex AS (SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS dim,
             |        CAST(unnest(embedding) AS DOUBLE) AS v
             |      FROM embeddings),
             |n AS (SELECT COUNT(DISTINCT vec_id) AS n FROM ex),
             |mean AS (SELECT dim,
             |        round(CAST(SUM(CAST(round(v, 6) AS DECIMAL(18,6))) AS DOUBLE)
             |          / n.n, 6) AS c
             |      FROM ex CROSS JOIN n GROUP BY dim, n.n),
             |d1 AS (SELECT vec_id, round(sqrt(SUM((v - c) * (v - c))), 4) AS dist
             |      FROM ex JOIN mean USING (dim) GROUP BY 1),
             |w1 AS (SELECT vec_id, round(1.0 / greatest(dist, 0.000001), 6) AS w FROM d1),
             |sw1 AS (SELECT CAST(SUM(CAST(w AS DECIMAL(18,6))) AS DOUBLE) AS swv FROM w1),
             |c1 AS (SELECT dim,
             |        round(CAST(SUM(CAST(round(w * v, 6) AS DECIMAL(18,6))) AS DOUBLE)
             |          / sw1.swv, 6) AS c
             |      FROM ex JOIN w1 USING (vec_id) CROSS JOIN sw1 GROUP BY dim, sw1.swv),
             |d2 AS (SELECT vec_id, round(sqrt(SUM((v - c) * (v - c))), 4) AS dist
             |      FROM ex JOIN c1 USING (dim) GROUP BY 1),
             |w2 AS (SELECT vec_id, round(1.0 / greatest(dist, 0.000001), 6) AS w FROM d2),
             |sw2 AS (SELECT CAST(SUM(CAST(w AS DECIMAL(18,6))) AS DOUBLE) AS swv FROM w2),
             |c2 AS (SELECT dim,
             |        round(CAST(SUM(CAST(round(w * v, 6) AS DECIMAL(18,6))) AS DOUBLE)
             |          / sw2.swv, 6) AS c
             |      FROM ex JOIN w2 USING (vec_id) CROSS JOIN sw2 GROUP BY dim, sw2.swv),
             |d3 AS (SELECT vec_id, round(sqrt(SUM((v - c) * (v - c))), 4) AS dist
             |      FROM ex JOIN c2 USING (dim) GROUP BY 1),
             |w3 AS (SELECT vec_id, round(1.0 / greatest(dist, 0.000001), 6) AS w FROM d3),
             |sw3 AS (SELECT CAST(SUM(CAST(w AS DECIMAL(18,6))) AS DOUBLE) AS swv FROM w3),
             |c3 AS (SELECT dim,
             |        round(CAST(SUM(CAST(round(w * v, 6) AS DECIMAL(18,6))) AS DOUBLE)
             |          / sw3.swv, 6) AS c
             |      FROM ex JOIN w3 USING (vec_id) CROSS JOIN sw3 GROUP BY dim, sw3.swv)
             |SELECT CAST(mean.dim AS BIGINT) AS dim, mean.c AS mean_c,
             |  c3.c AS geomed_c, round(c3.c - mean.c, 6) AS shift
             |FROM mean JOIN c3 USING (dim) ORDER BY dim""".stripMargin)),
    // Feature-hashing collision audit (Weinberger et al., "Feature
    // Hashing for Large Scale Multitask Learning", ICML 2009 — the
    // hashing trick x41's DSIR features already use at a fixed 64
    // buckets): for bucket widths 2^b, b ∈ {4,6,8}, how much of the
    // vocabulary — and how much of the token MASS — lands in buckets
    // shared with another word. The capacity-planning table you read
    // before fixing a hashed-feature width: unweighted collision rate
    // falls like the birthday bound, but the MASS-weighted rate is what
    // distorts a learner, and a Zipfian head keeps it high long after
    // the unweighted rate looks fine. Buckets are the x86 md5 device
    // (mod 2^b), so the whole audit replays in SQL; everything is exact
    // integer masses over a |vocab| × 3 grid — corpus-sized work is
    // ONE word-frequency aggregate.
    QuerySpec(
      "x190_feature_hashing",
      (s, dir) => {
        val wf = Tables.documents(s, dir)
          .select(explode(TextFunctions.tokens(col("text"))).as("wd"))
          .groupBy("wd").agg(count(lit(1)).as("freq"))
          .withColumn("hk",
            conv(substring(md5(concat(lit("fh:"), col("wd"))), 1, 12), 16, 10)
              .cast("long"))
          .localCheckpoint() // one token pass feeds all three widths
        val grid = s.range(0, 3).toDF("gi")
          .select(element_at(array(lit(4), lit(6), lit(8)),
            col("gi").cast("int") + 1).as("b"))
          .select(col("b"), pow(lit(2.0), col("b").cast("double"))
            .cast("long").as("nb"))
        val bk = wf.crossJoin(broadcast(grid))
          .select(col("b"), col("nb"), (col("hk") % col("nb")).as("bkt"),
            col("wd"), col("freq"))
        val loads = bk.groupBy("b", "nb", "bkt")
          .agg(count(lit(1)).as("nw"), sum(col("freq")).as("mass"))
        loads.groupBy("b", "nb")
          .agg(sum(col("nw")).as("n_words"),
            count(lit(1)).as("n_used"),
            sum(when(col("nw") >= 2, col("nw")).otherwise(0L))
              .as("n_colliding"),
            sum(col("mass")).as("total_mass"),
            sum(when(col("nw") >= 2, col("mass")).otherwise(0L))
              .as("colliding_mass"))
          .select(col("b").cast("long").as("b"), col("nb"), col("n_words"),
            col("n_used"), col("n_colliding"),
            round(col("n_colliding").cast("double") /
              col("n_words").cast("double"), 6).as("word_collision_rate"),
            round(col("colliding_mass").cast("double") /
              col("total_mass").cast("double"), 6).as("mass_collision_rate"))
          .orderBy("b")
      },
      Some("""WITH tok AS (SELECT unnest(list_filter(
             |        regexp_split_to_array(trim(text), '\s+'), x -> x <> '')) AS wd
             |      FROM documents),
             |wf AS (SELECT wd, COUNT(*) AS freq,
             |        CAST(('0x' || substr(md5('fh:' || wd), 1, 12)) AS BIGINT) AS hk
             |      FROM tok GROUP BY 1),
             |grid AS (SELECT b, CAST(pow(2.0, CAST(b AS DOUBLE)) AS BIGINT) AS nb
             |      FROM (SELECT unnest([4, 6, 8]) AS b)),
             |bk AS (SELECT b, nb, hk % nb AS bkt, wd, freq
             |      FROM wf CROSS JOIN grid),
             |loads AS (SELECT b, nb, bkt, COUNT(*) AS nw, SUM(freq) AS mass
             |      FROM bk GROUP BY 1, 2, 3)
             |SELECT CAST(b AS BIGINT) AS b, nb,
             |  CAST(SUM(nw) AS BIGINT) AS n_words,
             |  COUNT(*) AS n_used,
             |  CAST(SUM(CASE WHEN nw >= 2 THEN nw ELSE 0 END) AS BIGINT) AS n_colliding,
             |  round(CAST(SUM(CASE WHEN nw >= 2 THEN nw ELSE 0 END) AS DOUBLE) /
             |    CAST(SUM(nw) AS DOUBLE), 6) AS word_collision_rate,
             |  round(CAST(SUM(CASE WHEN nw >= 2 THEN mass ELSE 0 END) AS DOUBLE) /
             |    CAST(SUM(mass) AS DOUBLE), 6) AS mass_collision_rate
             |FROM loads GROUP BY b, nb ORDER BY b""".stripMargin)),
    // Greedy facility-location selection (Nemhauser, Wolsey & Fisher,
    // Math. Prog. 14, 1978: the greedy (1 − 1/e) guarantee for monotone
    // submodular maximization) — the data-SUBSET-selection primitive
    // complementing x113's k-center (max-min distance) with the
    // max-COVERAGE objective F(S) = Σ_probe max_{c∈S} sim(p, c): pick
    // k = 4 representatives whose combined similarity coverage of a
    // probe set is maximal, the device behind representative-subset /
    // coreset curation. Shapes: candidates (32) and probes (128) are
    // seeded-hash picks, so the sim matrix is a BOUNDED 4,096-pair
    // broadcast cross — at any corpus size; each greedy round is one
    // bounded groupBy + a 1-ROW collect (driver state = k ids, the
    // x52-fixed bounded-collect discipline). Sims rounded-4 (x5
    // precedent), marginal gains DECIMAL-summed; already-selected
    // candidates are excluded from later rounds on both engines.
    QuerySpec(
      "x200_facility_location",
      (s, dir) => {
        def pick(tag: String, nn: Int) = Tables.embeddings(s, dir)
          .withColumn("h", md5(concat(lit(tag), col("vec_id").cast("string"))))
          .orderBy("h", "vec_id").limit(nn)
        val cands = pick("fac:c:", 32)
          .select(col("vec_id").as("cid"), col("embedding").as("cemb"))
        val probes = pick("fac:p:", 128)
          .select(col("vec_id").as("pid"), col("embedding").as("pemb"))
        val sims = probes.crossJoin(broadcast(cands))
          .select(col("pid"), col("cid"),
            Similarity.cosine(col("pemb"), col("cemb")).as("sim"))
          .localCheckpoint() // the 4,096-pair matrix feeds all 4 rounds
        var best = sims.select(col("pid")).distinct()
          .withColumn("b", lit(0.0))
        var selected = List.empty[Long]
        val rows = (1 to 4).map { r =>
          val gains = sims
            .filter(!col("cid").isin(selected: _*))
            .join(best, "pid")
            .groupBy("cid")
            .agg(sum(round(greatest(col("sim") - col("b"), lit(0.0)), 6)
              .cast("decimal(18,6)")).cast("double").as("g"))
          // bounded driver state: ONE row per round (k = 4 total)
          val top = gains.orderBy(col("g").desc, col("cid")).limit(1)
            .collect()(0)
          val cid = top.getLong(0)
          selected = selected :+ cid
          best = best.join(
              sims.filter(col("cid") === cid).select(col("pid"), col("sim")),
              "pid")
            .select(col("pid"), greatest(col("b"), col("sim")).as("b"))
            .localCheckpoint()
          val obj = best
            .agg(sum(round(col("b"), 6).cast("decimal(18,6)")).cast("double"))
            .head().getDouble(0)
          (r.toLong, cid, top.getDouble(1), obj)
        }
        import s.implicits._
        rows.toDF("round", "cand_id", "gain", "objective")
          .select(col("round"), col("cand_id"),
            round(col("gain"), 6).as("gain"),
            round(col("objective"), 6).as("objective"))
          .orderBy("round")
      },
      Some("""WITH ec AS (SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS emb
             |      FROM embeddings),
             |nc AS (SELECT vec_id, emb, sqrt(list_sum([x * x for x in emb])) AS nrm FROM ec),
             |cands AS (SELECT vec_id AS cid, emb, nrm FROM (
             |      SELECT vec_id, emb, nrm,
             |        md5(concat('fac:c:', CAST(vec_id AS VARCHAR))) AS h
             |      FROM nc) ORDER BY h, cid LIMIT 32),
             |probes AS (SELECT vec_id AS pid, emb, nrm FROM (
             |      SELECT vec_id, emb, nrm,
             |        md5(concat('fac:p:', CAST(vec_id AS VARCHAR))) AS h
             |      FROM nc) ORDER BY h, pid LIMIT 128),
             |f AS (SELECT p.pid, c.cid, p.nrm AS pn, c.nrm AS cn,
             |        unnest(p.emb) AS pv, unnest(c.emb) AS cv
             |      FROM probes p CROSS JOIN cands c),
             |sims AS (SELECT pid, cid,
             |        round(sum(pv * cv) / (any_value(pn) * any_value(cn)), 4) AS sim
             |      FROM f GROUP BY pid, cid),
             |g1 AS (SELECT cid, CAST(SUM(CAST(round(greatest(sim - 0.0, 0.0), 6)
             |        AS DECIMAL(18,6))) AS DOUBLE) AS g
             |      FROM sims GROUP BY 1),
             |c1 AS (SELECT cid, g FROM g1 ORDER BY g DESC, cid LIMIT 1),
             |b1 AS (SELECT s.pid, greatest(MAX(CASE WHEN s.cid = c1.cid
             |          THEN s.sim END), 0.0) AS b
             |      FROM sims s CROSS JOIN c1 GROUP BY 1),
             |o1 AS (SELECT CAST(SUM(CAST(round(b, 6) AS DECIMAL(18,6))) AS DOUBLE)
             |        AS obj FROM b1),
             |g2 AS (SELECT s.cid, CAST(SUM(CAST(round(greatest(s.sim - b1.b, 0.0), 6)
             |        AS DECIMAL(18,6))) AS DOUBLE) AS g
             |      FROM sims s JOIN b1 USING (pid) CROSS JOIN c1
             |      WHERE s.cid <> c1.cid GROUP BY 1),
             |c2 AS (SELECT cid, g FROM g2 ORDER BY g DESC, cid LIMIT 1),
             |b2 AS (SELECT b1.pid, greatest(b1.b, coalesce(MAX(CASE WHEN s.cid = c2.cid
             |          THEN s.sim END), -1.0)) AS b
             |      FROM b1 JOIN sims s USING (pid) CROSS JOIN c2 GROUP BY b1.pid, b1.b),
             |o2 AS (SELECT CAST(SUM(CAST(round(b, 6) AS DECIMAL(18,6))) AS DOUBLE)
             |        AS obj FROM b2),
             |g3 AS (SELECT s.cid, CAST(SUM(CAST(round(greatest(s.sim - b2.b, 0.0), 6)
             |        AS DECIMAL(18,6))) AS DOUBLE) AS g
             |      FROM sims s JOIN b2 USING (pid) CROSS JOIN c1 CROSS JOIN c2
             |      WHERE s.cid <> c1.cid AND s.cid <> c2.cid GROUP BY 1),
             |c3 AS (SELECT cid, g FROM g3 ORDER BY g DESC, cid LIMIT 1),
             |b3 AS (SELECT b2.pid, greatest(b2.b, coalesce(MAX(CASE WHEN s.cid = c3.cid
             |          THEN s.sim END), -1.0)) AS b
             |      FROM b2 JOIN sims s USING (pid) CROSS JOIN c3 GROUP BY b2.pid, b2.b),
             |o3 AS (SELECT CAST(SUM(CAST(round(b, 6) AS DECIMAL(18,6))) AS DOUBLE)
             |        AS obj FROM b3),
             |g4 AS (SELECT s.cid, CAST(SUM(CAST(round(greatest(s.sim - b3.b, 0.0), 6)
             |        AS DECIMAL(18,6))) AS DOUBLE) AS g
             |      FROM sims s JOIN b3 USING (pid)
             |      CROSS JOIN c1 CROSS JOIN c2 CROSS JOIN c3
             |      WHERE s.cid <> c1.cid AND s.cid <> c2.cid AND s.cid <> c3.cid
             |      GROUP BY 1),
             |c4 AS (SELECT cid, g FROM g4 ORDER BY g DESC, cid LIMIT 1),
             |b4 AS (SELECT b3.pid, greatest(b3.b, coalesce(MAX(CASE WHEN s.cid = c4.cid
             |          THEN s.sim END), -1.0)) AS b
             |      FROM b3 JOIN sims s USING (pid) CROSS JOIN c4 GROUP BY b3.pid, b3.b),
             |o4 AS (SELECT CAST(SUM(CAST(round(b, 6) AS DECIMAL(18,6))) AS DOUBLE)
             |        AS obj FROM b4)
             |SELECT CAST(1 AS BIGINT) AS round, c1.cid AS cand_id,
             |  round(c1.g, 6) AS gain, round(o1.obj, 6) AS objective
             |FROM c1 CROSS JOIN o1
             |UNION ALL SELECT 2, c2.cid, round(c2.g, 6), round(o2.obj, 6)
             |FROM c2 CROSS JOIN o2
             |UNION ALL SELECT 3, c3.cid, round(c3.g, 6), round(o3.obj, 6)
             |FROM c3 CROSS JOIN o3
             |UNION ALL SELECT 4, c4.cid, round(c4.g, 6), round(o4.obj, 6)
             |FROM c4 CROSS JOIN o4
             |ORDER BY round""".stripMargin)),
    // Simplified silhouette (Kaufman & Rousseeuw 1990 §2.2; the
    // centroid-distance simplification of Hruschka et al. 2004, the form
    // every large-scale library ships because the full silhouette is
    // O(n²)): the internal-validity audit for the x52 k-means clustering
    // the suite curates by — s(i) = (b−a)/max(a,b) with a = distance to
    // the OWN final centroid, b = the nearest OTHER centroid. Replays
    // the x52 fit exactly (same seeds/scale/2 Lloyd rounds via the
    // shared Quantized.lloydKmeansFixedK), then one assignment-shaped
    // pass against the k final centroids: distances use the identical
    // integer Σ(q·n−s)²/n² arithmetic x52's oracle replays, so argmin
    // and runner-up are engine-exact; per-row silhouettes round to 6 dp
    // and DECIMAL-sum per cluster. Scale shape: k-bounded broadcast
    // fan-out (n·k rows), a 16-row-per-vector window for rank-1/rank-2,
    // cluster-count aggregates — the same O(n·k) as assignment itself.
    QuerySpec(
      "x215_silhouette",
      (s, dir) => {
        val W = org.apache.spark.sql.expressions.Window
        // fan the under-split scan once; the k-means assign passes and the
        // 16-centroid distance map both run per-row above the first
        // exchange (measured 2×0.87 s single-task at sf0.1; guide §2.5,
        // no-op on a well-split table)
        val emb = Tables.fanOut(Tables.embeddings(s, dir), col("vec_id"))
        val cents = Quantized.lloydKmeansFixedK(emb, "vec_id", "embedding",
            k = 16, salt = "graft-kmeans-42:", scale = 1e4, iters = 2)
          .groupBy(col("cluster").cast("long").as("c"))
          .agg(expr("transform(array_sort(collect_list(struct(pos, " +
            "sum_q))), r -> r.sum_q)").as("sums"),
            max(col("n")).as("n"))
        val qv = emb.select(col("vec_id"),
          Quantized.quantizeUdf(1e4)(col("embedding")).as("q"))
        val d = qv.crossJoin(broadcast(cents))
          .select(col("vec_id"), col("c"),
            (expr("CAST(aggregate(zip_with(q, sums, (x, sv) -> " +
              "(x*n - sv)*(x*n - sv)), CAST(0 AS BIGINT), " +
              "(acc, x) -> acc + x) AS DOUBLE)") /
              (col("n").cast("double") * col("n"))).as("dist"))
        val rk = d.withColumn("rn",
          row_number().over(W.partitionBy("vec_id")
            .orderBy(col("dist"), col("c"))))
        val ab = rk.filter(col("rn") === 1)
          .select(col("vec_id"), col("c").as("cluster"),
            col("dist").as("a"))
          .join(rk.filter(col("rn") === 2)
            .select(col("vec_id"), col("dist").as("b")), "vec_id")
        ab.select(col("cluster"), col("a"), col("b"),
            when(greatest(col("a"), col("b")) > 0,
              round((col("b") - col("a")) / greatest(col("a"), col("b")),
                6)).otherwise(0.0).as("sil"))
          .groupBy("cluster")
          .agg(count(lit(1)).as("n_vecs"),
            round(sum(round(col("a"), 6).cast("decimal(38,6)"))
              .cast("double") / count(lit(1)), 6).as("cohesion"),
            round(sum(round(col("b"), 6).cast("decimal(38,6)"))
              .cast("double") / count(lit(1)), 6).as("separation"),
            round(sum(col("sil").cast("decimal(38,6)")).cast("double") /
              count(lit(1)), 6).as("silhouette"))
          .orderBy("cluster")
      },
      Some("""WITH e AS (SELECT vec_id,
             |  [CAST(floor(CAST(x AS DOUBLE)*10000 + 0.5) AS BIGINT) for x in embedding] AS q FROM embeddings),
             |s AS (SELECT (row_number() OVER (ORDER BY md5('graft-kmeans-42:' || CAST(vec_id AS VARCHAR)), vec_id) - 1) AS c, q
             |      FROM e QUALIFY c <= 15),
             |a1 AS (
             |  SELECT e.vec_id, s.c,
             |    list_sum([(e.q[i+1] - s.q[i+1])*(e.q[i+1] - s.q[i+1]) for i in range(0, len(e.q))]) AS d2
             |  FROM e CROSS JOIN s
             |  QUALIFY row_number() OVER (PARTITION BY e.vec_id ORDER BY d2, s.c) = 1),
             |m1 AS (SELECT a1.c, generate_subscripts(e.q, 1) AS pos, unnest(e.q) AS qv
             |       FROM a1 JOIN e USING (vec_id)),
             |c1 AS (SELECT c, pos, CAST(SUM(qv) AS BIGINT) AS sv, CAST(COUNT(*) AS BIGINT) AS n
             |       FROM m1 GROUP BY 1, 2),
             |c1arr AS (
             |  SELECT s.c,
             |    CASE WHEN COUNT(c1.sv) = 0 THEN s.q ELSE list(c1.sv ORDER BY c1.pos) END AS sums,
             |    CASE WHEN COUNT(c1.sv) = 0 THEN 1 ELSE any_value(c1.n) END AS n
             |  FROM s LEFT JOIN c1 USING (c) GROUP BY s.c, s.q),
             |a2 AS (
             |  SELECT e.vec_id, c1arr.c,
             |    CAST(list_sum([(e.q[i+1]*c1arr.n - c1arr.sums[i+1])*(e.q[i+1]*c1arr.n - c1arr.sums[i+1])
             |                   for i in range(0, len(e.q))]) AS DOUBLE)
             |      / (CAST(c1arr.n AS DOUBLE) * c1arr.n) AS dist
             |  FROM e CROSS JOIN c1arr
             |  QUALIFY row_number() OVER (PARTITION BY e.vec_id ORDER BY dist, c1arr.c) = 1),
             |f AS (SELECT a2.c AS cluster, e.vec_id, generate_subscripts(e.q, 1) AS pos, unnest(e.q) AS qv
             |      FROM a2 JOIN e USING (vec_id)),
             |c2 AS (SELECT cluster, pos, CAST(SUM(qv) AS BIGINT) AS sv,
             |        CAST(COUNT(DISTINCT vec_id) AS BIGINT) AS n
             |      FROM f GROUP BY 1, 2),
             |c2arr AS (SELECT cluster AS c, list(sv ORDER BY pos) AS sums,
             |        any_value(n) AS n FROM c2 GROUP BY 1),
             |d AS (SELECT e.vec_id, c2arr.c,
             |    CAST(list_sum([(e.q[i+1]*c2arr.n - c2arr.sums[i+1])*(e.q[i+1]*c2arr.n - c2arr.sums[i+1])
             |                   for i in range(0, len(e.q))]) AS DOUBLE)
             |      / (CAST(c2arr.n AS DOUBLE) * c2arr.n) AS dist
             |  FROM e CROSS JOIN c2arr),
             |rk AS (SELECT vec_id, c, dist,
             |        row_number() OVER (PARTITION BY vec_id
             |          ORDER BY dist, c) AS rn FROM d),
             |ab AS (SELECT r1.vec_id, r1.c AS cluster, r1.dist AS a,
             |        r2.dist AS b
             |      FROM rk r1 JOIN rk r2 ON r1.vec_id = r2.vec_id
             |        AND r1.rn = 1 AND r2.rn = 2),
             |sil AS (SELECT cluster, a, b,
             |        CASE WHEN greatest(a, b) > 0
             |          THEN round((b - a) / greatest(a, b), 6)
             |          ELSE 0.0 END AS sil FROM ab)
             |SELECT cluster, COUNT(*) AS n_vecs,
             |  round(CAST(SUM(CAST(round(a, 6) AS DECIMAL(38,6))) AS DOUBLE)
             |    / COUNT(*), 6) AS cohesion,
             |  round(CAST(SUM(CAST(round(b, 6) AS DECIMAL(38,6))) AS DOUBLE)
             |    / COUNT(*), 6) AS separation,
             |  round(CAST(SUM(CAST(sil AS DECIMAL(38,6))) AS DOUBLE)
             |    / COUNT(*), 6) AS silhouette
             |FROM sil GROUP BY 1 ORDER BY cluster""".stripMargin)),
    // Grid-accelerated DBSCAN (Ester, Kriegel, Sander & Xu, KDD 1996;
    // the cell-based neighborhood join of Gunawan 2013 / He et al.
    // "MR-DBSCAN" 2011): density clustering with NOISE — the cluster
    // reader x52's k-means can't give (k-means force-assigns outliers;
    // DBSCAN names them). Points are the 2-d JL projection of the
    // quantized embeddings (integer coords, the x12 device); eps =
    // range/64 derived from the data, minPts = 4. Candidates come ONLY
    // from the 3×3 adjacent-cell equi-join (each pair matches exactly
    // one (dx,dy), so no dedup is needed); the exact integer d² ≤ eps²
    // test verifies. Core points (≥ minPts−1 neighbors) cluster via 3
    // unrolled hash-min rounds over core-core edges (the x170 HCC
    // device, with the same changed-in-round-3 honesty probe); border
    // points adopt the MIN neighboring core label; the rest is noise.
    // Five rounds (not x170's three): the eps-graph of a 2-d blob has
    // longer chains than the co-occurrence graph, and the probe showed
    // round 3 still moving one label here. Scale shape: everything is
    // equi-joins on cell keys and bounded aggregates — but eps is a
    // DENSITY parameter: the fixed 64-wide grid keeps per-cell occupancy
    // bounded only at fixed corpus density, so a 100 TB run re-derives
    // eps (finer grid) the same way this query derives it from min/max.
    QuerySpec(
      "x217_grid_dbscan",
      (s, dir) => {
        val p = Tables.embeddings(s, dir).select(col("vec_id"),
            Quantized.projectUdf(2)(
              Quantized.quantizeUdf(1e4)(col("embedding"))).as("pr"))
          .select(col("vec_id"), col("pr")(0).as("px"), col("pr")(1).as("py"))
        val mm = p.agg(min(col("px")).as("mnx"), max(col("px")).as("mxx"),
            min(col("py")).as("mny"), max(col("py")).as("mxy"))
          .select(col("mnx"), col("mny"),
            expr("greatest(mxx - mnx, mxy - mny) div 64 + 1").as("eps"))
        val pts = p.crossJoin(broadcast(mm))
          .select(col("vec_id"), (col("px") - col("mnx")).as("x"),
            (col("py") - col("mny")).as("y"), col("eps"))
          .withColumn("cx", expr("x div eps"))
          .withColumn("cy", expr("y div eps"))
          .localCheckpoint() // feeds probes, the cell join, degrees, totals
        val probes = pts
          .withColumn("dx", explode(expr("array(-1L, 0L, 1L)")))
          .withColumn("dy", explode(expr("array(-1L, 0L, 1L)")))
          .select(col("vec_id").as("va"), col("x").as("xa"),
            col("y").as("ya"), col("eps"),
            (col("cx") + col("dx")).as("qx"),
            (col("cy") + col("dy")).as("qy"))
        val nb = probes.join(
            pts.select(col("vec_id").as("vb"), col("x").as("xb"),
              col("y").as("yb"), col("cx").as("bx"), col("cy").as("by")),
            col("bx") === col("qx") && col("by") === col("qy") &&
              col("va") =!= col("vb"))
          .filter((col("xa") - col("xb")) * (col("xa") - col("xb")) +
            (col("ya") - col("yb")) * (col("ya") - col("yb")) <=
            col("eps") * col("eps"))
          .select(col("va"), col("vb"))
          .localCheckpoint() // pair list feeds degree, edges, and borders
        val deg = nb.groupBy(col("va").as("vec_id"))
          .agg(count(lit(1)).as("n_nb"))
        val core = pts.join(deg, Seq("vec_id"), "left")
          .filter(coalesce(col("n_nb"), lit(0L)) + 1 >= 4)
          .select("vec_id")
        val ce = nb
          .join(core.select(col("vec_id").as("va")), "va")
          .join(core.select(col("vec_id").as("vb")), "vb")
          .select(col("va").as("src"), col("vb").as("dst"))
          .localCheckpoint()
        var lab = core.select(col("vec_id").as("v"),
          col("vec_id").as("lab"))
        var prev: org.apache.spark.sql.DataFrame = null
        (1 to 5).foreach { _ =>
          prev = lab
          lab = ce.join(lab.select(col("v").as("src"), col("lab")), "src")
            .select(col("dst").as("v"), col("lab"))
            .union(lab)
            .groupBy("v").agg(min(col("lab")).as("lab"))
            .localCheckpoint()
        }
        val changed = lab.as("a")
          .join(prev.as("b"), col("a.v") === col("b.v"))
          .filter(col("a.lab") =!= col("b.lab"))
          .agg(count(lit(1)).as("n_changed_last_round"))
        val border = nb
          .join(core.select(col("vec_id").as("va")), Seq("va"), "left_anti")
          .join(lab.select(col("v").as("vb"), col("lab")), "vb")
          .groupBy(col("va").as("v")).agg(min(col("lab")).as("lab"))
        val nCore = core.agg(count(lit(1)).as("n_core"))
        val nBorder = border.agg(count(lit(1)).as("n_border"))
        val nAll = pts.agg(count(lit(1)).as("n_pts"))
        val asg = lab.unionByName(border)
        asg.groupBy("lab").agg(count(lit(1)).as("size"))
          .groupBy("size").agg(count(lit(1)).as("n_clusters"),
            min(col("lab")).cast("long").as("min_root"))
          .crossJoin(broadcast(nCore)).crossJoin(broadcast(nBorder))
          .crossJoin(broadcast(nAll)).crossJoin(broadcast(changed))
          .select(col("size"), col("n_clusters"), col("min_root"),
            col("n_core"), col("n_border"),
            (col("n_pts") - col("n_core") - col("n_border")).as("n_noise"),
            col("n_changed_last_round"))
          .orderBy("size")
      },
      Some("""WITH e AS (SELECT vec_id,
             |  [CAST(floor(CAST(x AS DOUBLE)*10000 + 0.5) AS BIGINT) for x in embedding] AS q FROM embeddings),
             |p AS (SELECT vec_id,
             |  CAST(list_sum([q[i+1] * (1 - 2*(((((i*2+0)*1103515245 + 12345) % 2147483648) // 65536) % 2))
             |                 for i in range(0, len(q))]) AS BIGINT) AS px,
             |  CAST(list_sum([q[i+1] * (1 - 2*(((((i*2+1)*1103515245 + 12345) % 2147483648) // 65536) % 2))
             |                 for i in range(0, len(q))]) AS BIGINT) AS py
             |  FROM e),
             |mm AS (SELECT MIN(px) AS mnx, MIN(py) AS mny,
             |        greatest(MAX(px) - MIN(px), MAX(py) - MIN(py)) // 64 + 1
             |          AS eps FROM p),
             |pts AS (SELECT vec_id, px - mnx AS x, py - mny AS y,
             |        (px - mnx) // eps AS cx, (py - mny) // eps AS cy, eps
             |      FROM p CROSS JOIN mm),
             |dd AS (SELECT a.dx, b.dy FROM (VALUES (-1), (0), (1)) a(dx)
             |      CROSS JOIN (VALUES (-1), (0), (1)) b(dy)),
             |nb AS (SELECT a.vec_id AS va, b.vec_id AS vb
             |      FROM pts a CROSS JOIN dd
             |      JOIN pts b ON b.cx = a.cx + dd.dx AND b.cy = a.cy + dd.dy
             |        AND b.vec_id <> a.vec_id
             |      WHERE (a.x - b.x)*(a.x - b.x) + (a.y - b.y)*(a.y - b.y)
             |        <= a.eps * a.eps),
             |deg AS (SELECT va AS vec_id, COUNT(*) AS n_nb FROM nb GROUP BY 1),
             |core AS (SELECT p2.vec_id FROM pts p2
             |      LEFT JOIN deg ON deg.vec_id = p2.vec_id
             |      WHERE COALESCE(deg.n_nb, 0) + 1 >= 4),
             |ce AS (SELECT nb.va AS src, nb.vb AS dst FROM nb
             |      JOIN core c1 ON c1.vec_id = nb.va
             |      JOIN core c2 ON c2.vec_id = nb.vb),
             |l0 AS (SELECT vec_id AS v, vec_id AS lab FROM core),
             |l1 AS (SELECT v, MIN(lab) AS lab FROM (
             |        SELECT ce.dst AS v, l.lab FROM ce JOIN l0 l ON l.v = ce.src
             |        UNION ALL SELECT v, lab FROM l0) GROUP BY 1),
             |l2 AS (SELECT v, MIN(lab) AS lab FROM (
             |        SELECT ce.dst AS v, l.lab FROM ce JOIN l1 l ON l.v = ce.src
             |        UNION ALL SELECT v, lab FROM l1) GROUP BY 1),
             |l3 AS (SELECT v, MIN(lab) AS lab FROM (
             |        SELECT ce.dst AS v, l.lab FROM ce JOIN l2 l ON l.v = ce.src
             |        UNION ALL SELECT v, lab FROM l2) GROUP BY 1),
             |l4 AS (SELECT v, MIN(lab) AS lab FROM (
             |        SELECT ce.dst AS v, l.lab FROM ce JOIN l3 l ON l.v = ce.src
             |        UNION ALL SELECT v, lab FROM l3) GROUP BY 1),
             |l5 AS (SELECT v, MIN(lab) AS lab FROM (
             |        SELECT ce.dst AS v, l.lab FROM ce JOIN l4 l ON l.v = ce.src
             |        UNION ALL SELECT v, lab FROM l4) GROUP BY 1),
             |ch AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_changed_last_round
             |      FROM l5 JOIN l4 ON l4.v = l5.v AND l4.lab <> l5.lab),
             |border AS (SELECT nb.va AS v, MIN(l5.lab) AS lab
             |      FROM nb JOIN l5 ON l5.v = nb.vb
             |      LEFT JOIN core c1 ON c1.vec_id = nb.va
             |      WHERE c1.vec_id IS NULL GROUP BY 1),
             |tots AS (SELECT
             |        (SELECT COUNT(*) FROM core) AS n_core,
             |        (SELECT COUNT(*) FROM border) AS n_border,
             |        (SELECT COUNT(*) FROM pts) AS n_pts),
             |asg AS (SELECT v, lab FROM l5 UNION ALL
             |        SELECT v, lab FROM border),
             |cs AS (SELECT lab, COUNT(*) AS size FROM asg GROUP BY 1)
             |SELECT CAST(size AS BIGINT) AS size,
             |  CAST(COUNT(*) AS BIGINT) AS n_clusters,
             |  CAST(MIN(lab) AS BIGINT) AS min_root,
             |  CAST(tots.n_core AS BIGINT) AS n_core,
             |  CAST(tots.n_border AS BIGINT) AS n_border,
             |  CAST(tots.n_pts - tots.n_core - tots.n_border AS BIGINT)
             |    AS n_noise,
             |  ch.n_changed_last_round
             |FROM cs CROSS JOIN tots CROSS JOIN ch
             |GROUP BY size, tots.n_core, tots.n_border, tots.n_pts,
             |  ch.n_changed_last_round
             |ORDER BY size""".stripMargin)),
    // Hubness audit (Radovanović, Nanopoulos & Ivanović, JMLR 2010):
    // the k-occurrence distribution N_k — how often each vector
    // appears in other vectors' top-k — whose right-skew is THE
    // high-dimensional pathology that silently degrades every ANN
    // index the suite ships (hubs soak up neighbor lists, antihubs
    // become unreachable; x63/x69 measure recall, this explains it).
    // Queries are a FIXED-SIZE 200-id sample (the 200 smallest under
    // a multiplicative hash of vec_id — deterministic, oracle-
    // replayable, and — unlike the round-10 vec_id%5 sample, whose
    // 20%-of-corpus query side made the score join O(n²/5) — CONSTANT
    // in the corpus: pair mass is 200·n, a linear scan, at any scale.
    // N̂_k is an estimate either way; the column name says so. Top-10
    // hubs ride with the global N_k skewness and antihub share.
    QuerySpec(
      "x276_hubness",
      (s, dir) => {
        val e = Tables.embeddings(s, dir)
        val seeds = e.select(col("vec_id"))
          .orderBy((col("vec_id") % 1000003L * 48271L % 1000003L).asc,
            col("vec_id").asc)
          .limit(200)
        val top = Similarity.cosineTopK(
          e.join(broadcast(seeds), Seq("vec_id")), e, "vec_id",
          "embedding", k = 10)
        val nk = e.select(col("vec_id").as("cid"))
          .join(top.groupBy("cid").agg(count(lit(1)).as("n_k")),
            Seq("cid"), "left")
          .na.fill(0L, Seq("n_k"))
          .localCheckpoint() // corpus-row-bounded occurrence table
        val mom = nk.agg(count(lit(1)).as("n"),
            sum(col("n_k")).as("s1"),
            sum(col("n_k") * col("n_k")).as("s2"),
            sum(col("n_k") * col("n_k") * col("n_k")).as("s3"),
            sum((col("n_k") === 0).cast("long")).as("zeros"))
          .select(col("n"), col("zeros"),
            (col("s1").cast("double") / col("n")).as("m1"),
            (col("s2").cast("double") / col("n")).as("r2"),
            (col("s3").cast("double") / col("n")).as("r3"))
          .select(col("n"), col("zeros"), col("m1"),
            (col("r2") - col("m1") * col("m1")).as("m2"),
            (col("r3") - lit(3.0) * col("m1") * col("r2") +
              lit(2.0) * col("m1") * col("m1") * col("m1")).as("m3"))
        val hubs = nk.orderBy(col("n_k").desc, col("cid")).limit(10)
        hubs.crossJoin(broadcast(mom))
          .select(col("cid").as("hub_vec_id"), col("n_k").as("nk_est"),
            round(col("m3") / pow(col("m2"), 1.5), 6)
              .as("nk_skewness"),
            round(col("zeros").cast("double") / col("n"), 6)
              .as("antihub_share"),
            round(col("m1"), 6).as("nk_mean"))
          .orderBy(col("nk_est").desc, col("hub_vec_id"))
      },
      Some("""WITH e AS (SELECT vec_id,
             |        [CAST(x AS DOUBLE) for x in embedding] AS emb
             |      FROM embeddings),
             |n AS (SELECT vec_id, emb,
             |        sqrt(list_sum([x * x for x in emb])) AS nrm FROM e),
             |s AS (SELECT vec_id FROM embeddings
             |      ORDER BY vec_id % 1000003 * 48271 % 1000003, vec_id
             |      LIMIT 200),
             |f AS (SELECT q.vec_id AS qid, c.vec_id AS cid,
             |        q.nrm AS qn, c.nrm AS cn,
             |        unnest(q.emb) AS qv, unnest(c.emb) AS cv
             |      FROM n q CROSS JOIN n c
             |      WHERE q.vec_id IN (SELECT vec_id FROM s)
             |        AND q.vec_id <> c.vec_id),
             |d AS (SELECT qid, cid,
             |        round(sum(qv * cv) / (any_value(qn) *
             |          any_value(cn)), 4) AS sim
             |      FROM f GROUP BY qid, cid),
             |top AS (SELECT qid, cid FROM (SELECT qid, cid,
             |        row_number() OVER (PARTITION BY qid
             |          ORDER BY sim DESC, cid) AS rn FROM d)
             |      WHERE rn <= 10),
             |nk AS (SELECT e.vec_id AS cid,
             |        COALESCE(t.n_k, 0) AS n_k
             |      FROM e LEFT JOIN (SELECT cid, COUNT(*) AS n_k
             |        FROM top GROUP BY 1) t ON t.cid = e.vec_id),
             |mom AS (SELECT COUNT(*) AS n,
             |        SUM(CASE WHEN n_k = 0 THEN 1 ELSE 0 END) AS zeros,
             |        CAST(SUM(n_k) AS DOUBLE) / COUNT(*) AS m1,
             |        CAST(SUM(n_k * n_k) AS DOUBLE) / COUNT(*) AS r2,
             |        CAST(SUM(n_k * n_k * n_k) AS DOUBLE) / COUNT(*)
             |          AS r3
             |      FROM nk),
             |cm AS (SELECT n, zeros, m1, r2 - m1 * m1 AS m2,
             |        r3 - 3.0 * m1 * r2 + 2.0 * m1 * m1 * m1 AS m3
             |      FROM mom),
             |hubs AS (SELECT cid, n_k FROM nk
             |      ORDER BY n_k DESC, cid LIMIT 10)
             |SELECT CAST(hubs.cid AS BIGINT) AS hub_vec_id,
             |  CAST(hubs.n_k AS BIGINT) AS nk_est,
             |  round(cm.m3 / power(cm.m2, 1.5), 6) AS nk_skewness,
             |  round(CAST(cm.zeros AS DOUBLE) / cm.n, 6)
             |    AS antihub_share,
             |  round(cm.m1, 6) AS nk_mean
             |FROM hubs CROSS JOIN cm
             |ORDER BY nk_est DESC, hub_vec_id""".stripMargin)),
    // Embedding anisotropy (Ethayarajh, EMNLP 2019 popularized the
    // measure; Mu & Viswanath, ICLR 2018 the all-but-the-top fix it
    // motivates): the mean pairwise cosine of the corpus — near 0 for
    // an isotropic space, large when embeddings share a dominant
    // direction (which silently inflates every cosine the ANN stack
    // ranks by). The 100 TB insight: for unit vectors the pair sum
    // telescopes, Σ_{i≠j} uᵢ·uⱼ = ‖Σuᵢ‖² − n, so the corpus-wide mean
    // pairwise cosine needs ONE normalization pass and a 64-cell
    // vector sum — no pair join exists at any scale. Per-dim sums ride
    // rounded-6 DECIMALs; the mean-vector norm (the "common direction"
    // magnitude) reports alongside.
    QuerySpec(
      "x277_anisotropy",
      (s, dir) => {
        val ex = Tables.embeddings(s, dir)
          .select(col("vec_id"),
            posexplode(col("embedding")).as(Seq("dim", "v")))
          .select(col("vec_id"), col("dim"),
            col("v").cast("double").as("v"))
        val nrm = ex.groupBy("vec_id")
          .agg(round(sqrt(sum(col("v") * col("v"))), 6).as("nrm"))
        val u = ex.join(nrm, "vec_id")
          .select(col("vec_id"), col("dim"),
            round(col("v") / col("nrm"), 6).as("u"))
        val sv = u.groupBy("dim")
          .agg(sum(col("u").cast("decimal(38,6)")).cast("double")
            .as("sd"))
        val n = nrm.agg(count(lit(1)).as("n"))
        sv.agg(sum(round(col("sd") * col("sd"), 6)
            .cast("decimal(38,6)")).cast("double").as("ss"))
          .crossJoin(broadcast(n))
          .select(col("n").as("n_vectors"),
            round((col("ss") - col("n")) /
              (col("n").cast("double") * (col("n") - 1L)), 6)
              .as("mean_pairwise_cosine"),
            round(sqrt(col("ss")) / col("n"), 6)
              .as("mean_vector_norm"))
          .orderBy("n_vectors")
      },
      Some("""WITH ex AS (SELECT vec_id, g.i - 1 AS dim,
             |        CAST(embedding[g.i] AS DOUBLE) AS v
             |      FROM embeddings CROSS JOIN (SELECT unnest(
             |        range(1, 65)) AS i) g),
             |nrm AS (SELECT vec_id, round(sqrt(SUM(v * v)), 6) AS nrm
             |      FROM ex GROUP BY 1),
             |u AS (SELECT ex.vec_id, ex.dim,
             |        round(ex.v / nrm.nrm, 6) AS u
             |      FROM ex JOIN nrm ON nrm.vec_id = ex.vec_id),
             |sv AS (SELECT dim,
             |        CAST(SUM(CAST(u AS DECIMAL(38,6))) AS DOUBLE) AS sd
             |      FROM u GROUP BY 1),
             |n AS (SELECT COUNT(*) AS n FROM nrm),
             |ss AS (SELECT CAST(SUM(CAST(round(sd * sd, 6)
             |        AS DECIMAL(38,6))) AS DOUBLE) AS ss FROM sv)
             |SELECT CAST(n.n AS BIGINT) AS n_vectors,
             |  round((ss.ss - n.n) / (CAST(n.n AS DOUBLE) * (n.n - 1)),
             |    6) AS mean_pairwise_cosine,
             |  round(sqrt(ss.ss) / n.n, 6) AS mean_vector_norm
             |FROM ss CROSS JOIN n ORDER BY n_vectors""".stripMargin)))
}
