package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** The one way the engine replaces a whole output directory: readers see
  * either the complete old directory or the complete new one.
  *
  * Protocol. [[replaceDir]] writes the new contents into the sibling
  * `<target>.compact_tmp`, then swaps it in: it renames `target` aside to
  * `<target>.pre_compact`, renames the staged directory to `target` and
  * deletes the backup. A target that does not exist yet is simply
  * renamed into place. A failed write deletes the staging directory and
  * leaves `target` as it was; a successful call leaves neither sibling
  * behind. A kill between the two renames leaves `target` missing and the
  * old contents in the backup. [[recover]] renames the backup back, or
  * drops a stale backup when `target` exists; the index and state readers
  * run it before they read, and the swap runs it before it moves anything
  * (so an annotation directory heals on its next replace). The data is
  * never in fewer than one complete directory. The sibling names are those
  * `streaming.StateCompaction` state directories have always used.
  *
  * The renames and the heal are serialized per directory within the JVM,
  * so an in-process reader never "heals" the mid-swap state of a live
  * publish. Writers of one target must not overlap: they would share the
  * staging directory (`StateCompaction` enforces one writer process with
  * a marker file).
  *
  * What stays out.
  *  - [[TFRecordSink.write]] publishes at file level, with attempt-scoped
  *    staging: the `train` and `val` sets share one `tfrecords/` directory
  *    and are written concurrently, so a directory swap cannot serve them.
  *  - `DedupStream` and `AnnStream` append to a directory rather than
  *    replace it, so a swap does not apply; making their replays
  *    exactly-once is a separate change.
  */
object Publish {

  private def tmpPath(target: String) = new Path(target + ".compact_tmp")
  private def backupPath(target: String) = new Path(target + ".pre_compact")

  private def fsOf(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** One monitor per directory, keyed on the FileSystem-qualified path so
    * every spelling of the same directory maps to one lock. */
  private val locks = new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private def lockFor(spark: SparkSession, target: String): Object = {
    val p = new Path(target)
    locks.computeIfAbsent(fsOf(spark, p).makeQualified(p).toString, _ => new Object)
  }

  /** Replace `target` with what `write` puts under the staging path it is
    * given, and return what `write` returns. `write` runs outside the lock
    * and must create the staging directory; if it throws, the staging
    * directory is deleted and `target` is left as it was. */
  def replaceDir[A](spark: SparkSession, target: String)(write: String => A): A = {
    val tmp = tmpPath(target)
    val fs = fsOf(spark, tmp)
    fs.delete(tmp, true)
    val result =
      try write(tmp.toString)
      catch { case e: Throwable => fs.delete(tmp, true); throw e }
    swap(spark, target)
    result
  }

  /** Promote the staged `<target>.compact_tmp` to `target`, through the
    * backup rename when `target` exists. Heals an earlier interrupted swap
    * first, so the only complete old copy is never the one deleted. */
  private def swap(spark: SparkSession, target: String): Unit = healed(spark, target) {
    val t = new Path(target)
    val (fs, tmp, backup) = (fsOf(spark, t), tmpPath(target), backupPath(target))
    val moved = fs.exists(t)
    if (moved && !fs.rename(t, backup)) sys.error(s"swap failed: cannot move $t aside")
    if (!fs.rename(tmp, t)) {
      if (moved) fs.rename(backup, t)
      sys.error(s"swap failed: cannot promote $tmp to $t; $t is as it was")
    }
    fs.delete(backup, true)
  }

  /** Heal a kill inside the swap window (see the object doc). One
    * existence probe when nothing needs healing. */
  def recover(spark: SparkSession, target: String): Unit = healed(spark, target)(())

  /** Heal `target`, then run `body` while still holding its lock, so no
    * in-process swap of `target` can start in between. */
  private[graft] def healed[A](spark: SparkSession, target: String)(body: => A): A =
    lockFor(spark, target).synchronized {
      val t = new Path(target)
      val (fs, backup) = (fsOf(spark, t), backupPath(target))
      if (fs.exists(backup)) {
        if (!fs.exists(t)) {
          if (!fs.rename(backup, t)) sys.error(s"recovery failed: cannot restore $backup -> $t")
        } else fs.delete(backup, true)
      }
      body
    }
}
