package graft.ops

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Build-once / serve-many IVF-PQ index — the production shape of the ANN
  * path: a pipeline builds the index in one job, persists it, and every
  * later query batch loads and searches WITHOUT re-encoding the corpus
  * (FAISS's `write_index`/`read_index` lifecycle; Jégou et al. 2011's
  * structures are exactly what gets persisted; reference has no index
  * persistence — extension op).
  *
  * On-disk layout under one directory, all parquet:
  *   codes/     (cid, cell, codes) — one slim row per corpus vector, codes
  *              dash-separated decimal; the only table that scales with
  *              the corpus
  *   centroids/ (cell, vec)        — coarse quantizer, |cells| rows
  *   codebook/  (c, vec)           — PQ codebook, |centroids| rows
  *   meta/      (m)                — subspace count
  *
  * Serve layout (a local index per partition plus a global merge, as in
  * REPOSE, ICDE 2021). A handle lays its codes out once, as a cached RDD
  * with one [[IvfPqIndex.CellBlock]] per partition: partition p holds the
  * rows of the cells c with c mod P == p, P = min(|cells|,
  * defaultParallelism), as columnar arrays sorted by cell with m code bytes
  * per row. The code strings are decoded and checked once, there.
  * [[IvfPqIndex.load]] lays the codes out before it returns; a handle from
  * [[IvfPqIndex.build]] does so on its first search. [[release]] unpersists
  * the layout (a later search lays it out again). A handle serves the code
  * rows its `codes` frame listed when it was made; rows a stream ingest
  * appends later show after a reload.
  *
  * At 100 TB: `codes` is written partitioned by the same parquet layout as
  * any fact table (rebuild is the one full-corpus job); centroids/codebook/
  * meta are driver-sized and load with a tiny collect. A search touches
  * only the partitions of probed cells and, within them, only probed-cell
  * rows — the full embedding column never rides through a serve path. */
final case class IvfPqIndex(
    codes: DataFrame,
    centroids: Array[Array[Double]],
    codebook: Array[Array[Double]],
    m: Int) {
  import IvfPqIndex._

  @transient private var laidOut: RDD[CellBlock] = _

  /** The serve layout, laid out and cached on first use. */
  private[ops] def layout: RDD[CellBlock] = synchronized {
    if (laidOut == null) laidOut = layOut(codes, centroids.length, codebook.length, m)
    laidOut
  }

  /** Unpersist the serve layout, if one is laid out. */
  def release(): Unit = synchronized {
    if (laidOut != null) { laidOut.unpersist(blocking = false); laidOut = null }
  }

  /** Persist all four tables under `dir`, replacing what is there as one
    * unit ([[graft.sources.Publish.replaceDir]]): the tables are staged
    * side by side and swapped in together, so a failed save leaves the
    * previous index whole. Returns this.
    *
    * The four sinks are independent jobs (distinct directories, no data
    * dependency), and three of them are driver-built single-row-group
    * writes whose cost is pure job fixed overhead — so they run
    * CONCURRENTLY ([[graft.Par]]; guide §2.6: actions are only sequential
    * because the driver calls them sequentially). The corpus-sized `codes`
    * write keeps the caller thread; the scheduler back-fills the small
    * jobs into the encode job's tail. */
  def save(dir: String): IvfPqIndex = {
    val spark = codes.sparkSession
    import spark.implicits._
    def vecs(vs: Array[Array[Double]], key: String) =
      vs.zipWithIndex.toSeq.map { case (v, i) => (i, v.toSeq) }.toDF(key, "vec")
    graft.sources.Publish.replaceDir(spark, dir) { tmp =>
      def small(df: DataFrame, table: String): Unit = df.coalesce(1).write.parquet(s"$tmp/$table")
      graft.Par.par2 {
        graft.Par.par3(small(vecs(centroids, "cell"), "centroids"))(
          small(vecs(codebook, "c"), "codebook"))(small(Seq(m).toDF("m"), "meta"))
      }(codes.write.parquet(s"$tmp/codes"))
    }
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

  /** ADC top-k off the serve layout — the same rows and schema as
    * [[Similarity.ivfPqTopK]] (qid, cid, adc rounded to 4 decimals, rn;
    * ranked by adc then cid; a query never returns its own id), no corpus
    * re-encoding. The queries are collected to the driver, which computes
    * each one's LUT and probed cells; one job over the probed cells'
    * partitions keeps a k-heap per query per task; the driver merges the
    * partial lists and returns a local DataFrame. Single queries and
    * batches take this one path. */
  def topK(queries: DataFrame, idCol: String, embCol: String, k: Int,
      nProbe: Int): DataFrame = {
    val spark = queries.sparkSession
    val rows = queries.select(col(idCol), col(embCol)).collect().filterNot(_.isNullAt(0))
    val qs = rows.map(r => query(r.getAs[Number](0).longValue, r.getSeq[Float](1), nProbe))
    val (nCodes, mm) = (codebook.length, m)
    val perTask: Array[Array[Array[Hit]]] =
      if (qs.forall(_.cells.isEmpty)) Array.empty
      else {
        val lay = layout
        val parts = qs.flatMap(_.cells).map(lay.partitioner.get.getPartition).distinct.sorted
        spark.sparkContext.runJob(lay,
          (it: Iterator[CellBlock]) => it.next().topK(qs, nCodes, mm, k), parts.toSeq)
      }
    val out: Seq[Row] = qs.indices.groupBy(qs(_).id).toSeq.sortBy(_._1).flatMap { case (_, is) =>
      val hits = is.flatMap(i => perTask.flatMap(_(i).toSeq)).sorted.take(k)
      hits.zipWithIndex.map { case (h, r) =>
        Row(rows(is.head).get(0), h.cid, h.adc4 / 1e4, r + 1L)
      }
    }
    spark.createDataFrame(out.asJava, StructType(Seq(
      StructField("qid", queries.schema(idCol).dataType, queries.schema(idCol).nullable),
      StructField("cid", LongType, codes.schema("cid").nullable),
      StructField("adc", DoubleType),
      StructField("rn", LongType, nullable = false))))
  }

  /** Query `id` with vector `v` as the search tasks see it: its LUT in
    * integer micro-units and its `nProbe` nearest cells. */
  private[ops] def query(id: Long, v: Seq[Float], nProbe: Int): Query =
    Query(id, Similarity.pqLut(v, codebook, m).map(d => math.rint(d * 1e6).toLong),
      Similarity.probedCells(v, centroids, nProbe))

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

  /** The quantizers of a persisted index: (centroids, m, codebook). They
    * are k-sized driver collects — three independent tiny jobs, run
    * concurrently (guide §2.6) so a read pays one job round-trip of fixed
    * overhead instead of three. `codes` is not read. An interrupted
    * [[save]] into `dir` is healed first. */
  private[graft] def readQuantizers(spark: SparkSession,
      dir: String): (Array[Array[Double]], Int, Array[Array[Double]]) = {
    graft.sources.Publish.recover(spark, dir)
    def vecs(path: String, ord: String): Array[Array[Double]] =
      spark.read.parquet(path).select(col(ord), col("vec")).orderBy(ord)
        .collect().map(_.getSeq[Double](1).toArray)
    graft.Par.par3 {
      vecs(s"$dir/centroids", "cell")
    } {
      spark.read.parquet(s"$dir/meta").head.getInt(0)
    } {
      vecs(s"$dir/codebook", "c")
    }
  }

  /** A handle over a persisted index whose codes are a lazy DataFrame over
    * the parquet; nothing is laid out. [[readQuantizers]] heals `dir`
    * before anything is read. */
  private def open(spark: SparkSession, dir: String): IvfPqIndex = {
    val (cents, m, cb) = readQuantizers(spark, dir)
    IvfPqIndex(spark.read.parquet(s"$dir/codes"), cents, cb, m)
  }

  /** Reload a persisted index, ready to serve: its serve layout is laid
    * out and cached before this returns. Call [[IvfPqIndex.release]] when
    * done with it. */
  def load(spark: SparkSession, dir: String): IvfPqIndex = {
    val idx = open(spark, dir)
    idx.layout
    idx
  }

  /** A query as a search task sees it: its id (skipped among the
    * candidates), its LUT in integer micro-units and its probed cells. */
  private[ops] final case class Query(id: Long, lut: Array[Long], cells: Array[Int])

  /** A candidate: adc rounded to 4 decimals, in units of 1e-4, and its id.
    * Ordered as the ranking is: adc, then cid. */
  private[ops] final case class Hit(adc4: Long, cid: Long) extends Ordered[Hit] {
    def compare(o: Hit): Int =
      if (adc4 != o.adc4) java.lang.Long.compare(adc4, o.adc4)
      else java.lang.Long.compare(cid, o.cid)
  }

  /** One partition of the serve layout: its code rows sorted by cell,
    * with m code bytes per row at `codes(i * m)`. */
  private[ops] final case class CellBlock(cid: Array[Long], cell: Array[Int],
      codes: Array[Byte]) {

    /** For each query, its k nearest rows here among its probed cells,
      * nearest first — a bounded max-heap per query. ADC sums integer
      * micro-units (as [[Similarity.ivfPqTopK]]'s kernel does). */
    def topK(qs: Array[Query], nCodes: Int, m: Int, k: Int): Array[Array[Hit]] =
      qs.map { q =>
        val heap = mutable.PriorityQueue.empty[Hit]
        q.cells.foreach { c =>
          var i = firstRow(c)
          while (i < cell.length && cell(i) == c) {
            if (cid(i) != q.id) {
              var micros = 0L; var s = 0
              while (s < m) { micros += q.lut(s * nCodes + (codes(i * m + s) & 0xff)); s += 1 }
              val h = Hit(round4(micros), cid(i))
              if (heap.size < k) heap += h
              else if (k > 0 && h < heap.head) { heap.dequeue(); heap += h }
            }
            i += 1
          }
        }
        heap.toArray.sorted
      }

    /** The first row whose cell is at least `c`. */
    private def firstRow(c: Int): Int = {
      var lo = 0; var hi = cell.length
      while (lo < hi) { val mid = (lo + hi) >>> 1; if (cell(mid) < c) lo = mid + 1 else hi = mid }
      lo
    }
  }

  /** `round(micros / 1e6, 4)` in units of 1e-4, as Spark's HALF_UP `round`
    * computes it: integer arithmetic off a tie, and on a tie the
    * `BigDecimal.valueOf` Spark itself uses. Distances are non-negative. */
  private def round4(micros: Long): Long =
    if (micros % 100 != 50) (micros + 50) / 100
    else java.math.BigDecimal.valueOf(micros / 1e6)
      .setScale(4, java.math.RoundingMode.HALF_UP).unscaledValue.longValue

  /** Lay `codes` out by cell (see the class doc) and cache it; one job
    * fills the cache. A row whose code string is not exactly m codes in
    * [0, nCodes) fails the job with a message naming its cid and where
    * the codes come from. */
  private def layOut(codes: DataFrame, nCells: Int, nCodes: Int, m: Int): RDD[CellBlock] = {
    require(nCodes <= 256, s"a codebook of $nCodes centroids does not fit one byte per code")
    val source = codes.queryExecution.analyzed match {
      case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) => fs.location.rootPaths.mkString(", ")
      case _ => "the in-memory codes table"
    }
    def decode(cid: Long, str: String, into: Array[Byte], at: Int): Unit = {
      val parts = Option(str).fold(Array.empty[String])(_.split("-", -1))
      def valid(p: String) = p.nonEmpty && p.length <= 3 &&
        p.forall(c => c >= '0' && c <= '9') && p.toInt < nCodes
      require(parts.length == m && parts.forall(valid), s"malformed PQ code row " +
        s"cid=$cid in $source: '$str' is not $m dash-separated codes in [0, $nCodes)")
      parts.indices.foreach(s => into(at + s) = parts(s).toInt.toByte)
    }
    val spark = codes.sparkSession
    val parts = math.max(1, math.min(nCells, spark.sparkContext.defaultParallelism))
    val laid = codes.select(col("cid").cast("long"), col("cell"), col("codes")).rdd
      .map(r => r.getInt(1) -> (r.getLong(0), r.getString(2)))
      .partitionBy(new HashPartitioner(parts))
      .mapPartitions({ it =>
        val rows = it.toArray.sortBy(_._1)
        val bytes = new Array[Byte](rows.length * m)
        rows.indices.foreach { i => decode(rows(i)._2._1, rows(i)._2._2, bytes, i * m) }
        Iterator(CellBlock(rows.map(_._2._1), rows.map(_._1), bytes))
      }, preservesPartitioning = true)
      .persist()
    try { laid.count(); laid }
    catch { case e: Throwable => laid.unpersist(blocking = false); throw e }
  }

  // ---- versioned lifecycle: build → serve/ingest → health → re-train ----
  //
  // A retrain re-encodes the corpus, so it must not clobber the index a
  // concurrent reader is serving from. Versions are directories (v1, v2,
  // ...) under one root; a CURRENT pointer file names the live one and is
  // written to a temp name and atomically renamed, so a reader sees either
  // the old or the new index, never a half-written one (the
  // _last_checkpoint / HDFS-edit-log pointer idiom). [[save]] itself
  // replaces a directory whole, so `publish` no longer needs a fresh
  // version directory to be safe; fresh versions keep an older handle's
  // files in place while it still serves. All pointer I/O goes through
  // Hadoop's FileSystem/FileContext resolved from `root`'s scheme, so the
  // root may be hdfs:// (FileContext rename with OVERWRITE is atomic
  // there, as on a local posix FS) — the same discipline as PmiStream's
  // state reads; java.io/java.nio here would silently report "no index"
  // on any non-local root. On S3-class stores rename is copy+delete, so a
  // real deployment there would publish via the store's conditional-put
  // of this same tiny object.

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
    val cur = open(spark, currentDir(root))
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
