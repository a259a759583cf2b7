package graft

import org.apache.spark.sql.SparkSession

/** The one local SparkSession shape of the engine's mains (Bench, Verify,
  * ScaleProbe, Explain): `local[$SPARK_GRAFT_CPUS]` with as many shuffle
  * partitions as cores, UTC session time, no UI, log level WARN.
  * `defaultCpus` is the core count when SPARK_GRAFT_CPUS is unset. */
object LocalSession {
  def apply(defaultCpus: Int): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", defaultCpus.toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // Codegen class cache sized to the workload (a fixed per-query
      // overhead otherwise): the static default (100 entries)
      // holds ~10 queries' worth of WholeStageCodegen units, so a
      // 392-query pass evicts EVERYTHING between a query's pass-1 and
      // pass-2 reps and every rep re-compiles every stage (Janino,
      // ~20-80 ms per unit, driver-side serial). Production multi-query
      // drivers size this cache to their live query set for exactly this
      // reason; scale-independent (it caches compiled classes keyed by
      // generated source, never data or results).
      .config("spark.sql.codegen.cache.maxEntries", "8192")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
