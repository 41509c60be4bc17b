package graft.tools

import graft.LocalSession

/** Scratch: edge recall of the approximate index build vs the exact
  * m-NN graph at a given fixture + knob setting — the measurement
  * behind the nProj default (VERDICT r6 task 6 asks whether nProj can
  * drop 8 → 6 with edge recall still ≥ 0.95).
  *
  * Usage: runMain graft.tools.EdgeRecall [sfDir] [nProj] [w] [probe]
  */
object EdgeRecall {
  def main(args: Array[String]): Unit = {
    val d = args.headOption.getOrElse("/root/testdata/sf0.01")
    val nProj = args.lift(1).map(_.toInt).getOrElse(8)
    val w = args.lift(2).map(_.toDouble).getOrElse(0.1)
    val probe = args.lift(3).map(_.toInt).getOrElse(1)
    val spark = LocalSession("graft-edge-recall", LocalSession.cpus(32))
    val key = (df: org.apache.spark.sql.DataFrame) =>
      df.select("level", "src", "dst").collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
    val ex = key(graft.operators.Ann.hnswEdges(spark, d))
    val ap = key(graft.operators.Ann.hnswEdgesApprox(spark, d,
      nProj = nProj, w = w, probe = probe))
    val rec = ap.intersect(ex).size.toDouble / ex.size
    println(f"[edgerecall] d=$d nProj=$nProj w=$w probe=$probe " +
      f"recall=$rec%.4f approx=${ap.size} exact=${ex.size}")
    spark.stop()
  }
}
