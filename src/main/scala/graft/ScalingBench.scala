package graft

import org.apache.spark.sql.SparkSession

/** Thread-scaling curve of the reference-comparable workload — the
  * measurement the reference DEFINES but never takes: its
  * multi-threaded bench matrix labels thread counts {2, 4, 8}
  * (`benchmarks/multi_threaded_benchmarks.zig:8`) yet spawns no
  * threads, and its benchmark.md:19-29 discusses concurrency scaling
  * against a global-mutex single-writer design. This engine's workload
  * is shared-nothing (per-partition scan blocks, broadcast queries,
  * P×Q×k merge traffic — see [[BaselineWorkload]]), so throughput
  * should scale near-linearly with cores until the merge/driver
  * fixed costs dominate; this main substantiates that with data.
  *
  * One JVM, sequential `local[c]` sessions for c ∈ {2, 4, 8, 16, 32}
  * (SPARK_GRAFT_SCALING_CORES overrides, comma-separated). Per core
  * count: one warm run (JIT + codegen, discarded), then min of
  * SPARK_GRAFT_BENCH_REPS (default 3). Emits ONE JSON line on stdout
  * (same contract as [[Bench]]) plus a human-readable table on stderr.
  */
object ScalingBench {
  def main(args: Array[String]): Unit = {
    val cores = sys.env.getOrElse("SPARK_GRAFT_SCALING_CORES", "2,4,8,16,32")
      .split(",").map(_.trim.toInt).toSeq
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt

    val rows = cores.map { c =>
      val spark = LocalSession(s"graft-scaling-$c", c)
      BaselineWorkload.run(spark) // warm: pays JIT once per session
      val (b, s) = Seq.fill(reps)(BaselineWorkload.run(spark))
        .minBy(r => r._1 + r._2)
      spark.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      val qps = BaselineWorkload.Q / s
      System.err.println(f"[scaling] cores=$c%2d build=$b%.3f s search=$s%.3f s  ${qps}%.0f q/s")
      (c, b, s, qps)
    }

    val (c0, _, _, qps0) = rows.head
    val cells = rows.map { case (c, b, s, qps) =>
      // speedup: throughput vs the smallest measured core count;
      // efficiency: speedup normalized by the core ratio (1.0 = linear)
      val speedup = qps / qps0
      val efficiency = speedup * c0 / c
      f"""{"cores":$c,"build_sec":$b%.4f,"search_sec":$s%.4f,"search_queries_per_sec":$qps%.1f,"speedup_vs_${c0}cores":$speedup%.3f,"parallel_efficiency":$efficiency%.3f}"""
    }
    println(s"""{"metric":"thread_scaling","workload":{"n":${BaselineWorkload.N},"dim":${BaselineWorkload.DIM},"q":${BaselineWorkload.Q},"k":${BaselineWorkload.K}},"cells":${cells.mkString("[", ",", "]")}}""")
  }
}
