package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession

/** Benchmark entry point. Prints one JSON line of metrics as the last line of
  * stdout, after one informational line (environment, sizes, and the
  * measurements under their per-workload names).
  *
  *   --workload W      rsna_etl | corpus_dedup_search
  *   --data DIR        inputs written by gen.py (tables/, corpus/); the ETL
  *                     inputs are generated here under DIR/etl
  *   --seed N          input and query-order seed
  *   --seconds S       measurement window (at least MinIterations run)
  *   --trace 0|1       1: per-layer run over all three workloads (spans,
  *                     Spark counters, kernel micro-benchmarks)
  *   --golden FILE     golden query fingerprints
  *   --t0-ms MS        epoch millis when set-up started (before gen.py)
  *   --memory-fraction F  spark.memory.fraction (sets Spark's storage memory)
  *   --capture FILE    write the query fingerprints to FILE and exit
  */
object Main {
  private val MinIterations = 3

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val dataDir = new File(args("data")).getAbsolutePath
    val seed = args.getOrElse("seed", "1").toLong
    val cores = Runtime.getRuntime.availableProcessors()

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "8192")
      .config("spark.local.dir", s"$dataDir/spark-local")
      .config("spark.memory.fraction", args.getOrElse("memory-fraction", "0.6"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      val checks = new Checks
      val golden: Map[String, String] = args.get("golden").filter(new File(_).isFile).map { f =>
        new ObjectMapper().readTree(new File(f)).fields().asScala
          .map(e => e.getKey -> e.getValue.asText).toMap
      }.getOrElse(Map.empty)
      def query() = new QueryPhase(spark, s"$dataDir/tables", seed, golden, checks)
      args.get("capture") match {
        case Some(out) =>
          val fps = query().capture().toSeq.sortBy(_._1)
          Files.writeString(Paths.get(out), fps.map { case (k, v) => s"""  "$k": "$v"""" }
            .mkString("{\n", ",\n", "\n}\n"))
        case None =>
          val t0Ms = args.get("t0-ms").map(_.toLong).getOrElse(System.currentTimeMillis())
          def etl() = { val e = new EtlPhase(spark, dataDir, seed, checks); e.generate(); e }
          def corpus() = new CorpusPhase(spark, dataDir, checks)
          val report = new Report
          val named = new Report
          if (args.getOrElse("trace", "0") == "1") {
            val phases = Seq(etl(), query(), corpus())
            warmUp(spark, phases)
            traced(spark, phases, report, named)
          } else {
            val phase: GatedPhase = args("workload") match {
              case "rsna_etl" => etl()
              case "corpus_dedup_search" => corpus()
            }
            warmUp(spark, Seq(phase))
            (1 to phase.settleIterations).foreach { i =>
              log(f"settle $i: ${Io.seconds(phase.iterate(record = false))._2}%.3f s")
            }
            report("setup_s") = ((System.currentTimeMillis() - t0Ms) / 1e3, "s")
            val deadline = System.nanoTime() + (args.getOrElse("seconds", "10").toDouble * 1e9).toLong
            var n = 0
            val (_, s) = Io.seconds {
              while (n < MinIterations || System.nanoTime() < deadline) {
                log(f"iteration $n: ${Io.seconds(phase.iterate(record = true))._2}%.3f s")
                n += 1
              }
            }
            log(f"measured ${phase.name}: $n iterations in $s%.2f s")
            phase.endToEnd(report)
            phase.named(named)
            report("peak_rss_mb") = (peakRssMb(), "MB")
            report("ops_ok_ratio") = (1.0 - checks.failed.toDouble / checks.attempted, "ratio")
          }
          printResult(spark, cores, checks, report, named)
      }
    } finally spark.stop()
  }

  /** One untimed iteration of each phase. The warm-ups only compile plans
    * and JIT kernels, so several run side by side; caches are released
    * once, after all of them. */
  private def warmUp(spark: SparkSession, phases: Seq[Phase]): Unit = {
    Io.holdCaches = true
    val pool = java.util.concurrent.Executors.newFixedThreadPool(phases.size)
    try {
      phases.map { p =>
        pool.submit(new java.util.concurrent.Callable[Unit] {
          def call(): Unit = log(f"warm-up ${p.name}: ${Io.seconds(p.warmUp())._2}%.2f s")
        })
      }.foreach(_.get())
    } finally pool.shutdown()
    Io.holdCaches = false
    Io.releaseCaches(spark)
  }

  /** Per phase: one untraced iteration (Spark counters), one traced
    * iteration (spans), the difference as tracing overhead, then the
    * phase's own layer metrics. */
  private def traced(spark: SparkSession, phases: Seq[Phase], r: Report, named: Report): Unit = {
    val probe = new Probe(spark)
    phases.foreach { p =>
      val c0 = probe.snapshot()
      val (_, untraced) = Io.seconds(p.iterate(record = true))
      val c = probe.snapshot() - c0
      val tracer = new Tracer(spark, probe)
      val (_, traced) = Io.seconds(tracer(s"${p.name}.iteration")(p.traced(tracer)))
      tracer.summary().toSeq.sortBy(_._1).foreach { case (name, st) =>
        if (!name.startsWith("Queries.run.")) {
          if (name.endsWith(".load") || name.endsWith(".topK"))
            r(s"${name}_ms") = (st.totalS * 1e3 / st.count, "ms")
          else r(s"${name}_s") = (st.totalS, "s")
          if (st.parent) r(s"$name.self_s") = (st.selfS, "s")
          else r(s"$name.task_s") = (st.taskS, "s")
        }
      }
      r(s"${p.name}.untraced_s") = (untraced, "s")
      r(s"${p.name}.trace_overhead_s") = (traced - untraced, "s")
      sparkMetrics(p.name, c, untraced, r)
      p.layers(r)
      p.named(named)
    }
  }

  private def sparkMetrics(phase: String, c: Counters, wallS: Double, r: Report): Unit = {
    val p = s"$phase.spark"
    r(s"$p.jobs") = (c.jobs.toDouble, "count")
    r(s"$p.tasks") = (c.tasks.toDouble, "count")
    r(s"$p.failed_tasks") = (c.failedTasks.toDouble, "count")
    r(s"$p.exec_s") = (c.jobWallMs / 1e3, "s")
    r(s"$p.task_s") = (c.taskMs / 1e3, "s")
    r(s"$p.task_wall_ratio") = (c.taskMs / 1e3 / wallS, "ratio")
    r(s"$p.scheduler_delay_s") = (c.schedulerDelayMs / 1e3, "s")
    r(s"$p.shuffle_write_bytes") = (c.shuffleWriteBytes.toDouble, "B")
    r(s"$p.spill_bytes") = (c.spillBytes.toDouble, "B")
    r(s"$p.gc_s") = (c.gcMs / 1e3, "s")
    r(s"$p.planning_ms") = (c.planningMs.toDouble / math.max(1L, c.actions), "ms")
    r(s"$p.codegen_compile_ms") = (c.codegenNs / 1e6, "ms")
    r(s"$p.codegen_classes") = (c.codegenClasses.toDouble, "count")
  }

  private def printResult(spark: SparkSession, cores: Int, checks: Checks, report: Report,
      named: Report): Unit = {
    val storageMb = spark.sparkContext.getExecutorMemoryStatus.values.map(_._1).sum >> 20
    val env = Seq(
      "nproc" -> cores.toString,
      "master" -> s""""local[$cores]"""",
      "heap_mb" -> (Runtime.getRuntime.maxMemory >> 20).toString,
      "storage_memory_mb" -> storageMb.toString,
      "spark_version" -> s""""${spark.version}"""") ++
      Sizes.values.toSeq.sortBy(_._1).map { case (k, v) => k -> v.toString }
    println(s"""{"env": ${json(env)}, "named": ${metricsJson(named)}}""")
    if (checks.failures.nonEmpty)
      log("failed checks:\n  " + checks.failures.mkString("\n  "))
    println(s"""{"correct": ${checks.failed == 0}, "attempted": ${checks.attempted}, """ +
      s""""failed": ${checks.failed}, "metrics": ${metricsJson(report)}}""")
  }

  private def json(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s""""$k": $v""" }.mkString("{", ", ", "}")

  private def metricsJson(r: Report): String =
    json(r.values.toSeq.map { case (k, (v, u)) => k -> s"""{"value": ${num(v)}, "unit": "$u"}""" })

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString

  private[perfbench] def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  /** Peak resident set of this JVM (VmHWM), in MB. */
  private def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024)
      .getOrElse(Runtime.getRuntime.totalMemory / 1048576.0)
}

/** Workload sizes recorded by the phases for the informational line. */
object Sizes {
  val values: scala.collection.concurrent.Map[String, Long] =
    new java.util.concurrent.ConcurrentHashMap[String, Long]().asScala
}
