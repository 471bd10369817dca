package graft

import java.io.{File, PrintWriter}

/** Optimization-round instrument: dump `explain("formatted")` for NAMED
  * registry queries, one file per query, so before/after plan diffs can be
  * committed as review artifacts (plans/r16/<name>_<tag>.txt).
  *
  * Usage: runMain graft.PlanDump <sfDir> <outDir> <tag> <name1,name2,...>
  *
  * Uses the bench session shape (local[$SPARK_GRAFT_CPUS], shuffle
  * partitions = cpus) so the dumped plan is the one the bench executes,
  * not a 4-core variant.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val tag = args(2)
    val names = args(3).split(",").map(_.trim).filter(_.nonEmpty)
    val spark = Harness.session(defaultCpus = 32, logLevel = "ERROR")
    new File(outDir).mkdirs()
    val byName = SparkEntry.queries
    names.foreach { name =>
      val pw = new PrintWriter(new File(outDir, s"${name}_$tag.txt"))
      try {
        val plan = byName(name)(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        pw.println(s"=== $name ($tag) ===")
        pw.println(plan)
      } finally pw.close()
      println(s"dumped $name -> $outDir/${name}_$tag.txt")
    }
    spark.stop()
  }
}
