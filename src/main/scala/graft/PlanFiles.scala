package graft

/** Dev tool: dump `explain("formatted")` of NAMED queries to one file
  * each — the before/after plan evidence the optimization rounds
  * commit under `plans/<round>/<query>_{before,after}.txt`.
  * Usage: runMain graft.PlanFiles <outDir> <suffix> <query>[,query...] [sfDir]
  */
object PlanFiles {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val suffix = args(1)
    val names = args(2).split(",").toSeq
    val sfDir = if (args.length > 3) args(3) else "/root/testdata/sf0.001"
    val spark = LocalSession("graft-planfiles", 8, "ERROR")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    names.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      val p = java.nio.file.Paths.get(outDir, s"${name}_$suffix.txt")
      java.nio.file.Files.writeString(p, plan)
      println(s"[planfiles] wrote $p")
    }
    spark.stop()
  }
}
