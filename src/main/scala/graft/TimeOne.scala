package graft

/** Dev tool: time named queries in isolation.
  * Usage: runMain graft.TimeOne <sfDir> <query>[,query...] [reps]
  * Warms each query at sf0.001 first (JIT), then times `reps` runs.
  */
object TimeOne {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args(1).split(",").toSeq
    val reps = if (args.length > 2) args(2).toInt else 3
    val spark = LocalSession("graft-timeone", LocalSession.cpus(32))
    names.foreach { n =>
      val fn = SparkEntry.queries(n)
      fn(spark, "/root/testdata/sf0.001").count() // warm
      val times = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        fn(spark, sfDir).count()
        (System.nanoTime() - t0) / 1e9
      }
      println(f"[timeone] $n%-24s min=${times.min}%8.3f  runs=${times.map(t => f"$t%.2f").mkString(",")}")
    }
    spark.stop()
  }
}
