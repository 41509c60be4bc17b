package graft.tools

import graft.LocalSession

/** Dev tool: dump `explain("formatted")` of the APPROX BUILD's lazy
  * audit lineage ([[graft.operators.Ann.hnswEdgesApproxForAudit]]) —
  * the declared `hnsw_edges_approx` materializes eagerly behind a
  * localCheckpoint, so `PlanFiles` on the declared query shows only
  * the final rank stage; this is the evidence file for the build
  * stages themselves (plans/<round>/hnsw_edges_approx_build_*.txt).
  * Usage: runMain graft.tools.BuildPlanDump <outFile> [sfDir]
  */
object BuildPlanDump {
  def main(args: Array[String]): Unit = {
    val out = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.001"
    val spark = LocalSession("graft-buildplandump", 8, "ERROR")
    val df = graft.operators.Ann.hnswEdgesApproxForAudit(spark, sfDir)
    val plan = df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(out).toAbsolutePath.getParent)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out), plan)
    println(s"[buildplandump] wrote $out")
    spark.stop()
  }
}
