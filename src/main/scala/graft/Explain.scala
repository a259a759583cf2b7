package graft

import java.io.{File, PrintWriter}

import org.apache.spark.sql.execution.FormattedMode

/** Plan-audit tool: dumps `explain("formatted")` for registry queries so
  * shuffle count, filter/column pushdown, broadcast choices and
  * WholeStageCodegen spans can be reviewed (the 100 TB design check).
  * Plans come from the Bench session shape ([[LocalSession]]), so the
  * dumped plan is the one the bench executes.
  *
  * Usage: runMain graft.Explain <sfDir> <outFile> [name,...]
  * With no names it dumps every [[SparkEntry.queries]] key, sorted.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: graft.Explain <sfDir> <outFile> [name,...]")
    val Array(sfDir, outFile) = args.take(2)
    val names = args.lift(2).map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(SparkEntry.queries.keys.toSeq.sorted)
    val spark = LocalSession(defaultCpus = 32)
    val pw = new PrintWriter(new File(outFile))
    try names.foreach { name =>
      pw.println(s"\n=== $name ===")
      pw.println(SparkEntry.queries(name)(spark, sfDir).queryExecution
        .explainString(FormattedMode))
    } finally pw.close()
    println(s"plans written to $outFile")
    spark.stop()
  }
}
