package graft

/** Dev tool: time named queries in isolation.
  * Usage: runMain graft.TimeOne <sfDir> <query>[,query...] [reps]
  * Warms each query at sf0.001 first (JIT), then times `reps` runs.
  * Each run writes the result to Spark's `noop` sink, so every output
  * column is computed: a `count()` lets column pruning drop per-row
  * projections a query's rows do not depend on (doc_fingerprint's
  * `sim48`, say), and would time a plan without them.
  * Every run starts from an empty session cache: Spark's cache manager
  * dedups by logical plan, so without the free a query that caches an
  * intermediate (the text family's shingle and band frames) would time
  * that intermediate once and serve it from memory on every later rep.
  */
object TimeOne {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args(1).split(",").toSeq
    val reps = if (args.length > 2) args(2).toInt else 3
    val spark = LocalSession("graft-timeone", LocalSession.cpus(32))
    def free(): Unit = {
      spark.sharedState.cacheManager.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    }
    names.foreach { n =>
      val fn = SparkEntry.queries(n)
      def run(dir: String): Unit =
        fn(spark, dir).write.format("noop").mode("overwrite").save()
      run("/root/testdata/sf0.001") // warm
      val times = (1 to reps).map { _ =>
        free()
        val t0 = System.nanoTime()
        run(sfDir)
        (System.nanoTime() - t0) / 1e9
      }
      println(f"[timeone] $n%-24s min=${times.min}%8.3f  runs=${times.map(t => f"$t%.2f").mkString(",")}")
    }
    spark.stop()
  }
}
