package perfbench

import java.math.{MathContext, RoundingMode}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.Tables

/** Order-insensitive fingerprint of a query result: the row count and the
  * 64-bit sum of per-row hashes. Doubles are compared at 9 significant
  * digits, so a change of summation order does not read as a wrong result. */
object Fingerprint {
  private val mc = new MathContext(9, RoundingMode.HALF_EVEN)

  private def norm(v: Any): String = v match {
    case null => "∅"
    case d: Double => num(d)
    case f: Float => num(f.toDouble)
    case b: java.math.BigDecimal => num(b.doubleValue)
    case b: BigDecimal => num(b.toDouble)
    case b: Array[Byte] => b.map("%02x".format(_)).mkString("0x", "", "")
    case r: Row => r.toSeq.map(norm).mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => norm(k) + "->" + norm(x) }.sorted.mkString("<", ",", ">")
    case s: scala.collection.Seq[_] => s.map(norm).mkString("[", ",", "]")
    case t: java.sql.Timestamp => t.toInstant.toString
    case i: java.time.Instant => i.toString
    case x => x.toString
  }

  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else if (d == 0.0) "0"
    else new java.math.BigDecimal(d).round(mc).stripTrailingZeros.toString

  private def rowHash(r: Row): Long = {
    val s = r.toSeq.map(norm).mkString("\u0001")
    val h1 = scala.util.hashing.MurmurHash3.stringHash(s, 0x1234567)
    val h2 = scala.util.hashing.MurmurHash3.stringHash(s, 0x7654321)
    (h1.toLong << 32) ^ (h2.toLong & 0xFFFFFFFFL)
  }

  def of(rows: Array[Row]): String = f"${rows.length}:${rows.map(rowHash).sum}%016x"
}

/** `query_mix`: one closed-loop client running a fixed query list over the
  * generated harness tables, in seed-shuffled order. Every result is
  * collected and fingerprinted against the golden record; cached Datasets
  * and checkpoints are released after every query, and the SharedStages
  * memo is reset before every pass, so each pass pays for its shared stage
  * once. The Tables plan memo stays warm from set-up. */
final class QueryPhase(spark: SparkSession, tablesDir: String, seed: Long,
    golden: Map[String, String], checks: Checks) extends Phase {
  val name = "query"

  private val specs: Seq[(String, (SparkSession, String) => DataFrame)] = {
    val registry = graft.SparkEntry.queries
    val missing = QueryPhase.Names.filterNot(registry.contains)
    require(missing.isEmpty, s"queries not in the registry: ${missing.mkString(", ")}")
    new scala.util.Random(seed).shuffle(QueryPhase.Names.map(n => n -> registry(n)))
  }
  Sizes.values("query_count") = specs.size.toLong

  private val latencies = mutable.ArrayBuffer.empty[Double]
  private val buildMs = mutable.ArrayBuffer.empty[Double]

  /** Runs one query: build the DataFrame, collect it, check it, release. */
  private def runQuery(q: (String, (SparkSession, String) => DataFrame), record: Boolean,
      t: Option[Tracer]): Unit = {
    def span[T](n: String)(b: => T): T = t.fold(b)(_(n)(b))
    val t0 = System.nanoTime()
    val df: DataFrame = span("Queries.build")(q._2(spark, tablesDir))
    val t1 = System.nanoTime()
    val rows = span("Queries.collect")(df.collect())
    val t2 = System.nanoTime()
    Io.releaseCaches(spark)
    val fp = Fingerprint.of(rows)
    val problems = golden.get(q._1) match {
      case Some(g) if g == fp => Nil
      case Some(g) => Seq(s"fingerprint $fp != golden $g")
      case None => Seq("no golden fingerprint")
    }
    checks.op(s"query.${q._1}", problems)
    if (record) {
      latencies += (t2 - t0) / 1e9
      buildMs += (t1 - t0) / 1e6
    }
  }

  private def pass(record: Boolean, t: Option[Tracer] = None): Unit = {
    graft.ops.SharedStages.reset()
    specs.foreach(q => t.fold(runQuery(q, record, None))(tr =>
      tr(s"Queries.run.${q._1}")(runQuery(q, record, t))))
  }

  def warmUp(): Unit = pass(record = false)
  def iterate(record: Boolean): Unit = pass(record)
  def traced(t: Tracer): Unit = pass(record = false, Some(t))

  def named(r: Report): Unit = {
    r("query.samples") = (latencies.size.toDouble, "count")
    r("query.p50_s") = (Stats.quantile(latencies.toSeq, 0.5), "s")
    r("query.p90_s") = (Stats.quantile(latencies.toSeq, 0.9), "s")
  }

  override def layers(r: Report): Unit = {
    // Table resolution through the plan memo, per call (memo warm).
    val names = Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents", "embeddings")
    def resolveAll(): Unit = {
      Tables.region(spark, tablesDir); Tables.nation(spark, tablesDir)
      Tables.customer(spark, tablesDir); Tables.supplier(spark, tablesDir)
      Tables.part(spark, tablesDir); Tables.orders(spark, tablesDir)
      Tables.lineitem(spark, tablesDir); Tables.events(spark, tablesDir)
      Tables.documents(spark, tablesDir); Tables.embeddings(spark, tablesDir)
    }
    resolveAll()
    val per = Stats.median((1 to 9).map(_ => Io.seconds((1 to 100).foreach(_ => resolveAll()))._2))
    r("Tables.resolve_ms") = (per * 1e3 / (100 * names.size), "ms")
    r("Queries.build_ms") = (Stats.median(buildMs.toSeq), "ms")
  }

  /** Fingerprints of every listed query, for the golden record. */
  def capture(): Map[String, String] =
    specs.sortBy(_._1).map { case (n, run) =>
      val rows = run(spark, tablesDir).collect()
      Io.releaseCaches(spark)
      n -> Fingerprint.of(rows)
    }.toMap
}

object QueryPhase {
  /** The query mix: 8 of the 52 core relational queries, spread over the
    * cheap-to-heavy range of warm latency, plus one heavy extension query
    * each from the text and graph modules. */
  val Names: Seq[String] = Seq(
    "q1_pricing_summary", "q5_semi_join", "q7_group_collect", "q16_hash_funcs",
    "q25_bbox_normalize", "q31_pivot", "q37_range_join", "q47_grouping_sets",
    "x35_bpe_apply", "x101_item_pagerank")
}
