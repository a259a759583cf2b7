package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Output checks: every measured operation is one attempt; an operation
  * whose output fails any check counts once as failed. */
final class Checks {
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]

  /** Record one operation whose checks produced `problems` (empty = ok). */
  def op(what: String, problems: Seq[String]): Unit = synchronized {
    attempted += 1
    if (problems.nonEmpty) {
      failed += 1
      if (failures.size < 20) failures += s"$what: ${problems.take(3).mkString("; ")}"
      System.err.println(s"[perfbench] CHECK FAILED $what: ${problems.take(5).mkString("; ")}")
    }
  }
}

/** Named metric values of one run, in insertion order. */
final class Report {
  val values = mutable.LinkedHashMap.empty[String, (Double, String)]
  def update(name: String, v: (Double, String)): Unit = values(name) = v
}

object Stats {
  /** Linear-interpolated quantile, q in [0,1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of nothing")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}

object Io {
  def deleteRecursively(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(deleteRecursively)
    f.delete()
  }
  def reset(path: String): Unit = deleteRecursively(new File(path))
  def treeBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).map(treeBytes).sum
    else if (f.isFile) f.length else 0L

  def seconds[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Set while the phases warm up concurrently: one phase must not drop
    * another's cached blocks or checkpoints mid-job. */
  @volatile var holdCaches = false

  /** Drop every cached Dataset and persisted RDD (localCheckpoints too) so
    * no operation inherits another's cached blocks. */
  def releaseCaches(spark: SparkSession): Unit = if (!holdCaches) {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  def sha256Hex(b: Array[Byte]): String =
    java.security.MessageDigest.getInstance("SHA-256").digest(b).map("%02x".format(_)).mkString
}

/** A benchmark phase: one of the three workloads the benchmark drives. */
trait Phase {
  def name: String
  /** One untimed iteration that compiles every code path (set-up). */
  def warmUp(): Unit
  /** One full iteration; checks its outputs and, if `record`, keeps its
    * samples. */
  def iterate(record: Boolean): Unit
  /** One iteration with every module call in its own span (traced run). */
  def traced(t: Tracer): Unit
  /** The measurements under their per-workload names. */
  def named(r: Report): Unit
  /** Layer metrics that need no spans (micro-benchmarks, plan shapes). */
  def layers(r: Report): Unit = ()
}

/** A phase that is a gated workload of its own (BENCHMARK.json). */
trait GatedPhase extends Phase {
  /** Full iterations run and discarded after the warm-up, while the JIT
    * settles (measured: the first few iterations after a single warm-up
    * run 20-70% slower than later ones). Part of set-up. */
  def settleIterations: Int
  /** The end-to-end metrics named in BENCHMARK.json: throughput_per_s,
    * op_p50_ms and quality. */
  def endToEnd(r: Report): Unit
}
