package graft

/** Dev tool: run ONLY the reference-comparable baseline workload
  * (BASELINE.md scale) with explicit SIMD-kernel status, to separate
  * kernel regressions from host noise without paying the full bench.
  * Usage: runMain graft.BaselineOnly [reps] [dim] [k]
  */
object BaselineOnly {
  def main(args: Array[String]): Unit = {
    val reps = if (args.nonEmpty) args(0).toInt else 3
    val dim = if (args.length > 1) args(1).toInt else BaselineWorkload.DIM
    val k = if (args.length > 2) args(2).toInt else BaselineWorkload.K
    val cpus = LocalSession.cpus(32)
    val spark = LocalSession("graft-baseline-only", cpus)
    println(s"[baseline] simdEnabled=${VectorKernel.simdEnabled} cpus=$cpus dim=$dim k=$k")
    BaselineWorkload.run(spark, dim = dim, k = k) // warm; pays JIT, discarded
    (1 to reps).foreach { i =>
      val (b, s) = BaselineWorkload.run(spark, dim = dim, k = k)
      println(f"[baseline] run=$i build=$b%.3f s search=$s%.3f s total=${b + s}%.3f s (${BaselineWorkload.Q / s}%.0f q/s)")
    }
    spark.stop()
  }
}
