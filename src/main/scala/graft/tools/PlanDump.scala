package graft.tools

import java.nio.file.{Files, Paths}

/** Dev tool: dump `.explain("formatted")` for a set of registered
  * queries into a directory — the before/after plan evidence the
  * optimization rounds commit under `plans/`.
  *
  * Usage: runMain graft.tools.PlanDump <outDir> <suffix> [sfDir] [q ...]
  * Writes `<outDir>/<query>_<suffix>.txt` per query (all queries when
  * none are named). The formatted plan is the PRE-execution plan
  * (deterministic, fixture-cheap); gates that commit temp stores during
  * DataFrame construction still run those jobs, so prefer a small sfDir.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val suffix = args(1)
    val sfDir = if (args.length > 2) args(2) else "/root/testdata/sf0.01"
    val only = args.drop(3).toSet
    Files.createDirectories(Paths.get(outDir))
    val spark = graft.core.GraftSession.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt)
    val names = graft.SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.isEmpty || only.contains(n))
    // NonFatal only (round-15 ADVICE #3): swallowing an OutOfMemoryError
    // and looping on would write misleading FAILED files for every
    // later query; and stop the session even when a dump throws.
    try names.foreach { name =>
      try {
        val df = graft.SparkEntry.queries(name)(spark, sfDir)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        Files.writeString(Paths.get(outDir, s"${name}_$suffix.txt"), plan)
        System.err.println(s"[plandump] $name ok (${plan.length} chars)")
      } catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[plandump] $name FAILED: ${e.getMessage}")
        Files.writeString(Paths.get(outDir, s"${name}_$suffix.txt"),
          s"PLAN DUMP FAILED: ${e.getMessage}\n")
      }
      // gates persist slivers and commit temp stores; clear between dumps
      QueriesToolSupport.clear(spark)
    } finally spark.stop()
  }
}

/** Session-state clear shared by dev tools (mirrors Bench's isolation). */
private[tools] object QueriesToolSupport {
  def clear(spark: org.apache.spark.sql.SparkSession): Unit = {
    graft.core.SliverCache.clear()
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
  }
}
