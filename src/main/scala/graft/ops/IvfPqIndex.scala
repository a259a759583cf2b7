package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Build-once / serve-many IVF-PQ index — the production shape of the ANN
  * path: a pipeline builds the index in one job, persists it, and every
  * later query batch loads and searches WITHOUT re-encoding the corpus
  * (FAISS's `write_index`/`read_index` lifecycle; Jégou et al. 2011's
  * structures are exactly what gets persisted; reference has no index
  * persistence — extension op).
  *
  * On-disk layout under one directory, all parquet:
  *   codes/     (cid, cell, codes) — one slim row per corpus vector; the
  *              only table that scales with the corpus (~m bytes payload),
  *              and the only one a search scans
  *   centroids/ (cell, vec)        — coarse quantizer, |cells| rows
  *   codebook/  (c, vec)           — PQ codebook, |centroids| rows
  *   meta/      (m)                — subspace count
  *
  * At 100 TB: `codes` is written partitioned by the same parquet layout as
  * any fact table (rebuild is the one full-corpus job); centroids/codebook/
  * meta are driver-sized and load with a tiny collect. A search touches
  * only probed-cell code rows + the two small tables — the full embedding
  * column never rides through a serve-side plan. */
final case class IvfPqIndex(
    codes: DataFrame,
    centroids: Array[Array[Double]],
    codebook: Array[Array[Double]],
    m: Int) {

  /** Persist all four tables under `dir` (overwrite). Returns this.
    *
    * The four sinks are independent jobs (distinct directories, no data
    * dependency), and three of them are driver-built single-row-group
    * writes whose cost is pure job fixed overhead — so they run
    * CONCURRENTLY (guide §2.6: actions are only sequential because the
    * driver calls them sequentially). The small writes are submitted to a
    * pool and the corpus-sized `codes` write keeps the caller thread; the
    * scheduler back-fills the small jobs into the encode job's tail. The
    * written bytes are identical to the sequential form — same frames,
    * same paths, same mode. */
  def save(dir: String): IvfPqIndex = {
    val spark = codes.sparkSession
    import spark.implicits._
    val small = Seq(
      centroids.zipWithIndex.toSeq.map { case (v, i) => (i, v.toSeq) }
        .toDF("cell", "vec") -> s"$dir/centroids",
      codebook.zipWithIndex.toSeq.map { case (v, i) => (i, v.toSeq) }
        .toDF("c", "vec") -> s"$dir/codebook",
      Seq(m).toDF("m") -> s"$dir/meta")
    val pool = java.util.concurrent.Executors.newFixedThreadPool(small.size)
    try {
      val futs = small.map { case (df, path) =>
        pool.submit(new java.util.concurrent.Callable[Unit] {
          def call(): Unit =
            df.coalesce(1).write.mode("overwrite").parquet(path)
        })
      }
      codes.write.mode("overwrite").parquet(s"$dir/codes")
      futs.foreach(_.get())
    } finally pool.shutdown()
    this
  }

  /** The re-train signal (x76's report computed against THIS index):
    * per-cell occupancy share off the slim codes table — no corpus scan,
    * no re-encoding; one groupBy on the |cells|-sized key. Under frozen
    * quantizers a drifting ingest distribution piles rows into few cells,
    * and it shows here first: probed-cell candidate lists (and therefore
    * per-query serve cost) follow occupancy. */
  def occupancy(): DataFrame = {
    val tot = codes.agg(count(lit(1)).as("n_total"))
    codes.groupBy("cell").agg(count(lit(1)).as("n_vecs"))
      .crossJoin(broadcast(tot))
      .select(col("cell"), col("n_vecs"),
        round(col("n_vecs").cast("double") / col("n_total"), 4).as("share"))
  }

  /** ADC top-k straight off the (possibly loaded) code table — same output
    * contract as [[Similarity.ivfPqTopK]], no corpus re-encoding. */
  def topK(queries: DataFrame, idCol: String, embCol: String, k: Int,
      nProbe: Int): DataFrame =
    Similarity.ivfPqSearchCoded(queries, idCol, embCol, codes, centroids,
      m, codebook, k, nProbe)

  /** Index shortlist + exact cosine re-rank against the corpus's full
    * vectors — same output contract as [[Similarity.ivfPqRefineTopK]].
    * The corpus table is needed only here (the refine tail reads `refine`
    * full vectors per query); plain [[topK]] never touches it. */
  def refineTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
      embCol: String, k: Int, nProbe: Int, refine: Int): DataFrame = {
    val shortlist = topK(queries, idCol, embCol, k = refine, nProbe)
      .select(col("qid"), col("cid"))
    Similarity.cosineRerank(shortlist, queries, corpus, idCol, embCol, k)
  }
}

object IvfPqIndex {

  /** Encode the corpus into an in-memory index handle (the one
    * full-corpus job): coarse cells from seed-vector centroids, PQ codes
    * from the given codebook. Call [[IvfPqIndex.save]] to persist. */
  def build(corpus: DataFrame, idCol: String, embCol: String,
      seedIds: Seq[Long], m: Int, codebook: Array[Array[Double]]): IvfPqIndex = {
    val cents = Similarity.seedCentroids(corpus, idCol, embCol, seedIds)
    IvfPqIndex(
      Similarity.ivfPqEncodeCells(corpus, idCol, embCol, cents, m, codebook),
      cents, codebook, m)
  }

  /** Reload a persisted index: codes stay a lazy DataFrame over the
    * parquet; centroids/codebook/meta are k-sized driver collects — three
    * independent tiny jobs, run concurrently (guide §2.6) so a load pays
    * one job round-trip of fixed overhead instead of three. */
  def load(spark: SparkSession, dir: String): IvfPqIndex = {
    def vecs(path: String, ord: String): Array[Array[Double]] =
      spark.read.parquet(path).select(col(ord), col("vec")).orderBy(ord)
        .collect().map(_.getSeq[Double](1).toArray)
    val (cents, m, cb) = graft.Par.par3 {
      vecs(s"$dir/centroids", "cell")
    } {
      spark.read.parquet(s"$dir/meta").head.getInt(0)
    } {
      vecs(s"$dir/codebook", "c")
    }
    IvfPqIndex(spark.read.parquet(s"$dir/codes"), cents, cb, m)
  }

  // ---- versioned lifecycle: build → serve/ingest → health → re-train ----
  //
  // A retrain re-encodes the corpus, so it must not clobber the index a
  // concurrent reader is serving from. Versions are immutable directories
  // (v1, v2, ...) under one root; a CURRENT pointer file names the live
  // one and is the ONLY thing a swap rewrites — written to a temp name
  // and atomically renamed, so a reader sees either the old or the new
  // index, never a half-written one (the _last_checkpoint /
  // HDFS-edit-log pointer idiom). All pointer I/O goes through Hadoop's
  // FileSystem/FileContext resolved from `root`'s scheme, so the root may
  // be hdfs:// (FileContext rename with OVERWRITE is atomic there, as on
  // a local posix FS) — the same discipline as PmiStream's state reads;
  // java.io/java.nio here would silently report "no index" on any
  // non-local root. On S3-class stores rename is copy+delete, so a real
  // deployment there would publish via the store's conditional-put of
  // this same tiny object.

  private def hconf: org.apache.hadoop.conf.Configuration =
    org.apache.spark.sql.SparkSession.getActiveSession
      .orElse(org.apache.spark.sql.SparkSession.getDefaultSession)
      .map(_.sparkContext.hadoopConfiguration)
      .getOrElse(new org.apache.hadoop.conf.Configuration())

  private def pointer(root: String) =
    new org.apache.hadoop.fs.Path(root, "CURRENT")

  /** The live version number at `root`, if a pointer has been published. */
  def currentVersion(root: String): Option[Int] = {
    val p = pointer(root)
    val fs = p.getFileSystem(hconf)
    if (fs.exists(p)) {
      val in = fs.open(p)
      try Some(scala.io.Source.fromInputStream(in, "UTF-8")
        .mkString.trim.stripPrefix("v").toInt)
      finally in.close()
    } else None
  }

  /** Directory of the live version (where a streaming ingest appends). */
  def currentDir(root: String): String =
    s"$root/v${currentVersion(root).getOrElse(sys.error(s"no CURRENT at $root"))}"

  /** Persist `idx` as version `v` under `root` and atomically publish it
    * as CURRENT. Returns the version directory. */
  def publish(idx: IvfPqIndex, root: String, v: Int): String = {
    val dir = s"$root/v$v"
    idx.save(dir)
    val p = pointer(root)
    val fs = p.getFileSystem(hconf)
    val tmp = new org.apache.hadoop.fs.Path(root, s".CURRENT.v$v.tmp")
    val out = fs.create(tmp, true)
    try out.write(s"v$v".getBytes("UTF-8")) finally out.close()
    // FileSystem.rename refuses an existing destination on HDFS;
    // FileContext rename with OVERWRITE is the portable atomic swap.
    org.apache.hadoop.fs.FileContext.getFileContext(p.toUri, hconf)
      .rename(tmp, p, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    dir
  }

  /** Load whatever CURRENT points at. */
  def loadCurrent(spark: SparkSession, root: String): IvfPqIndex =
    load(spark, currentDir(root))

  /** Close the loop on the health signal: if the live index's occupancy
    * has degraded past `maxShare` (one cell holding more than that
    * fraction of the corpus — drifted ingest under frozen quantizers, the
    * exact failure AnnStream's scaladoc predicts), re-train both
    * quantizers on the CURRENT corpus, re-encode, and atomically swap the
    * pointer to the new version. Returns the new version if a retrain
    * fired. The decision reads the |cells|-sized occupancy table; the
    * retrain itself is the one full-corpus job a rebuild always is. */
  def retrainIfUnhealthy(spark: SparkSession, root: String, corpus: DataFrame,
      idCol: String, embCol: String, seedIds: Seq[Long], m: Int,
      codebookSeedIds: Seq[Long], maxShare: Double): Option[Int] = {
    val cur = loadCurrent(spark, root)
    val worst = cur.occupancy().agg(max(col("share"))).head.getDouble(0)
    if (worst <= maxShare) None
    else {
      val cb = Similarity.seedCentroids(corpus, idCol, embCol, codebookSeedIds)
      val v = currentVersion(root).getOrElse(0) + 1
      publish(build(corpus, idCol, embCol, seedIds, m, cb), root, v)
      Some(v)
    }
  }
}
