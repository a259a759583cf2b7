package graft.sources

import java.io.{File, OutputStream}
import java.nio.file.{Files, Paths, StandardOpenOption}
import java.util.UUID
import java.util.regex.Pattern

import scala.util.matching.Regex

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.{Partitioner, SerializableWritable, TaskContext}
import org.apache.spark.sql.{Dataset, SparkSession}

/** Sharded TFRecord sink (SURVEY §2.1 S8, images_to_tfrecord.py:228-261).
  *
  * The reference sends record `idx` to `writers[idx % num_shards]` on a
  * single thread (:252). [[write]] keeps that exact placement and spreads
  * the writing over T = min(N, `defaultParallelism`) tasks: a preview job
  * counts each input partition, which gives every record its global index
  * g; an exchange keyed by g sends shard `g % N` to task `(g % N) % T`; and
  * each task writes all of its shards, empty ones included, in g order.
  * Under exact placement every shard draws from every input partition, so
  * the exchange cannot go; what it replaces is a round-robin repartition
  * into N one-record tasks. Shard naming preserved:
  * `{prefix}-%05d-of-%05d.tfrecord` (:229).
  *
  * A write publishes a whole set or nothing. Each task attempt writes into
  * its own staging directory (through Hadoop `FileSystem`, or java.nio for
  * a local path); the tasks return their staged files and record counts
  * through `runJob`, and only after the job succeeds does the driver
  * delete the old set and rename the staged shards into place. The
  * staging directory goes either way, so a job that fails part-way leaves
  * the previous set as it was.
  *
  * A shard set is exactly the files named `{prefix}-NNNNN-of-NNNNN.tfrecord`
  * in `dir`: the publish, [[scan]] and [[readAll]] all select files by that
  * one name rule, so the sets `val` and `val-hard` share a directory
  * without touching each other. The readers also require the set to be
  * complete: one N, and every index in 0..N-1.
  */
object TFRecordSink {

  def shardPath(dir: String, prefix: String, idx: Int, numShards: Int): String =
    s"$dir/${shardFile(prefix, idx, numShards)}"

  private def shardFile(prefix: String, idx: Int, numShards: Int): String =
    f"$prefix-$idx%05d-of-$numShards%05d.tfrecord"

  /** The file names of the set `prefix`: exactly
    * `{prefix}-NNNNN-of-NNNNN.tfrecord`, so `val` never claims `val-hard-…`. */
  private def shardName(prefix: String): Regex =
    (Pattern.quote(prefix) + """-(\d{5})-of-(\d{5})\.tfrecord""").r

  /** The shard names of set `prefix` among `names`, in name order. Fails
    * when there are none, when they disagree on N, or when an index in
    * 0..N-1 is missing (the message names the missing indices). */
  private def completeSet(names: Seq[String], prefix: String, dir: String): Seq[String] = {
    val shard = shardName(prefix)
    val found = names.collect { case n @ shard(i, of) => (n, i.toInt, of.toInt) }.sortBy(_._1)
    require(found.nonEmpty, s"no TFRecord shards of set '$prefix' in $dir")
    val counts = found.map(_._3).distinct.sorted
    require(counts.size == 1,
      s"TFRecord set '$prefix' in $dir mixes shard counts ${counts.mkString(", ")}")
    val n = counts.head
    val missing = (0 until n).diff(found.map(_._2))
    require(missing.isEmpty, s"TFRecord set '$prefix' in $dir is incomplete: " +
      s"shards ${missing.mkString(", ")} of $n are missing")
    require(found.forall(_._2 < n),
      s"TFRecord set '$prefix' in $dir has shard indices past ${n - 1}")
    found.map(_._1)
  }

  /** Opens a new shard file for writing. Local paths open through
    * java.nio: without its native library, Hadoop's local file system sets
    * each new file's permissions by forking `chmod` (~3 ms a file; a
    * 256-shard write stage took ~2 task-s against ~0.15 through java.nio),
    * and it adds `.crc` sidecar files that the TFRecord framing's own CRCs
    * make redundant. */
  private def create(p: Path, conf: Configuration): OutputStream =
    if (p.toUri.getScheme == "file") {
      val local = Paths.get(p.toUri)
      Files.createDirectories(local.getParent)
      Files.newOutputStream(local, StandardOpenOption.CREATE_NEW, StandardOpenOption.WRITE)
    } else p.getFileSystem(conf).create(p, false)

  /** Shard s belongs to writer task s mod T; the key is a record's global
    * index g, and its shard is g mod N. */
  private final class ShardOwner(numShards: Int, writers: Int) extends Partitioner {
    def numPartitions: Int = writers
    def getPartition(key: Any): Int =
      ((key.asInstanceOf[Long] % numShards) % writers).toInt
  }

  /** What one writer task staged: its shard files and the records it wrote. */
  private final case class Staged(files: Seq[String], records: Long)

  /** Write pre-encoded tf.Example records into numShards files, record g
    * into shard g mod numShards in g order, and publish the set in place
    * of any old set of this prefix (whatever its N). Returns the number of
    * records written. The input is read twice (the count preview, then the
    * exchange), so cache it if computing it is dear or not repeatable. */
  def write(examples: Dataset[Array[Byte]], dir: String, prefix: String,
      numShards: Int): Long = {
    require(numShards > 0, s"numShards must be positive, got $numShards")
    val sc = examples.sparkSession.sparkContext
    val conf = sc.hadoopConfiguration
    val root = new Path(dir)
    val fs = root.getFileSystem(conf)
    // qualified, so the tasks see the scheme (`file:` for a bare local path)
    val staging = fs.makeQualified(new Path(root, s"_staging-$prefix-${UUID.randomUUID()}")).toString
    val input = examples.rdd
    val counts = sc.runJob(input, (it: Iterator[Array[Byte]]) => it.size.toLong)
    val offsets = counts.scanLeft(0L)(_ + _)
    val writers = math.min(numShards, sc.defaultParallelism)
    val placed = input
      .mapPartitionsWithIndex { (p, it) =>
        var g = offsets(p) - 1
        it.map { r => g += 1; (g, r) }
      }
      .repartitionAndSortWithinPartitions(new ShardOwner(numShards, writers))
    val taskConf = sc.broadcast(new SerializableWritable(conf))
    try {
      val staged = sc.runJob(placed, (ctx: TaskContext, it: Iterator[(Long, Array[Byte])]) => {
        val attempt = new Path(staging, s"attempt-${ctx.taskAttemptId()}")
        val owned = ctx.partitionId() until numShards by writers
        val files = owned.map(s => new Path(attempt, shardFile(prefix, s, numShards)))
        val outs = new Array[TFRecordIO.Writer](owned.size)
        var records = 0L
        try {
          files.indices.foreach(k => outs(k) = new TFRecordIO.Writer(create(files(k), taskConf.value.value)))
          // owned shard s = t + k*T sits at k; the sorted stream is in g order
          it.foreach { case (g, r) => outs(((g % numShards) / writers).toInt).write(r); records += 1 }
        } finally outs.filter(_ != null).foreach(_.close())
        Staged(files.map(_.toString), records)
      })
      publish(fs, root, prefix, staged.toSeq.flatMap(_.files).map(new Path(_)))
      staged.map(_.records).sum
    } finally {
      fs.delete(new Path(staging), true)
      taskConf.destroy()
    }
  }

  /** Replace the set `prefix` in `root` by the staged shards: delete the
    * old set (any N), then rename each staged file into place. */
  private def publish(fs: FileSystem, root: Path, prefix: String, staged: Seq[Path]): Unit = {
    val shard = shardName(prefix)
    fs.listStatus(root).map(_.getPath).filter(p => shard.matches(p.getName))
      .foreach(fs.delete(_, false))
    staged.foreach { p =>
      require(fs.rename(p, new Path(root, p.getName)), s"could not publish $p into $root")
    }
  }

  /** Distributed scan of a sharded set — the re-ingestion path, so stage-2
    * output is consumable at scale. The driver lists the set once and
    * checks it is complete; the shards are spread over
    * `defaultParallelism` tasks, and each task opens its shards through
    * the session's Hadoop configuration (broadcast once) and streams them
    * through the framing/CRC reader ([[TFRecordIO.readStream]]), so a
    * shard of any size reads in O(record) memory. A CRC failure fails the
    * task and names the shard; a set with no shards, mixed N or a missing
    * shard fails the call. Oracle-checked end-to-end by q51_tfrecord_scan
    * (value roundtrip vs the source table) and TFRecordScanSpec (sha256
    * multiset equality vs readAll, CRC failure surfaced from an executor). */
  def scan(spark: SparkSession, dir: String, prefix: String): Dataset[Array[Byte]] = {
    import spark.implicits._
    val sc = spark.sparkContext
    val conf = sc.hadoopConfiguration
    val root = new Path(dir)
    val paths = completeSet(root.getFileSystem(conf).listStatus(root).map(_.getPath.getName).toSeq,
      prefix, dir).map(n => new Path(root, n).toString)
    val taskConf = sc.broadcast(new SerializableWritable(conf))
    sc.parallelize(paths, math.min(paths.size, sc.defaultParallelism))
      .flatMap { p =>
        val path = new Path(p)
        val in = path.getFileSystem(taskConf.value.value).open(path)
        // closes the shard if the task stops early (a limit, a CRC failure)
        TaskContext.get().addTaskCompletionListener[Unit](_ => in.close())
        TFRecordIO.readStream(in, p)
      }
      .toDS()
  }

  /** Read every record of a sharded set back — the driver-side twin of
    * [[scan]] for tests/verification on local paths (same shard-name rule,
    * completeness check and framing reader). Shards come in index order,
    * so for a set of N shards the records come in the order
    * g = 0, N, 2N, …, 1, N+1, …. */
  def readAll(dir: String, prefix: String): Iterator[Array[Byte]] = {
    val names = Option(new File(dir).list()).toSeq.flatten
    completeSet(names, prefix, dir).iterator.flatMap(n => TFRecordIO.readFile(s"$dir/$n"))
  }
}
