package graft.tools

import org.apache.spark.sql.functions._

import graft.LocalSession

/** Sampled edge recall of the approximate index build at scales where
  * the full exact m-NN graph is out of reach (sf10: 200k² pairs). For
  * a deterministic sample of source nodes, the exact top-m neighbor
  * set is computed by a broadcast-sample × corpus scan (|S|·n pairs),
  * and the approximate build's level-0 edges for those sources are
  * graded against it. This is the 100×-point recall measurement
  * behind the membership cap's quality claim: the cap bounds
  * candidate mass (time stays ~flat sf1 → sf10), and THIS tool shows
  * what that bound costs in edge quality.
  *
  * The exact stage reduces the |S|·n scored pairs to |S|·m rows with
  * the SAME map-side bounded-heap aggregate the build uses
  * ([[graft.functions.expressions.TopMEdges]] — ties (dist, id),
  * identical to the window `ORDER BY dist, dst` it replaces). The
  * original window formulation shuffled ALL scored pairs to rank
  * them: invisible at sf10 (4×10⁷ rows) but 4×10⁹ rows / tens of GB
  * of exchange at the 2M-vector rung-3 point — the tool failing its
  * own would-this-survive-100× rule. The fallback threshold is
  * raised past |S| for this session (2,000 groups per task is above
  * the 128-key default, which would silently demote the typed
  * aggregate to a sort of the whole candidate stream), and the
  * corpus is repartitioned so a few large parquet row-groups cannot
  * serialize the scan.
  *
  * Usage: runMain graft.tools.EdgeRecallSampled [sfDir] [sampleStride] [m]
  */
object EdgeRecallSampled {
  def main(args: Array[String]): Unit = {
    val d = args.headOption.getOrElse("/root/repo/fixtures/sf10")
    val stride = args.lift(1).map(_.toInt).getOrElse(1000)
    val m = args.lift(2).map(_.toInt).getOrElse(16)
    val refine = args.lift(3).map(_.toInt).getOrElse(2)
    val ceiling = args.lift(4).map(_.toLong)
      .getOrElse(graft.operators.Ann.DefaultScoredMassCeiling)
    val spark = LocalSession("graft-edge-recall-sampled", LocalSession.cpus(32))
    import graft.operators.Ann
    import graft.functions.expressions.TopMEdges
    import org.apache.spark.sql.graftbridge.SqlBridge

    val e = graft.Tables.embeddings(spark, d)
      .select(col("vec_id"), col("embedding"))
    val sample = e.filter(col("vec_id") % stride === 0)
      .select(col("vec_id").as("src"))
    // exact top-m for the sampled sources — the BUILD's own shared
    // exact stage (Ann.sampledExactPairsAt: broadcast-sample × corpus
    // scan, map-side bounded heap, scoped fallback-threshold raise)
    val exactPairs = Ann.sampledExactPairsAt(e, stride, m)
    val exact = exactPairs.select(col("src"), col("dst"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    Ann.freeBuildState(exactPairs)

    val t0 = System.nanoTime()
    val approx = Ann.hnswEdgesApprox(spark, d, m = m, refine = refine,
        scoredMassCeiling = ceiling)
      .filter(col("level") === 0)
      .join(broadcast(sample.select(col("src"))), Seq("src"), "left_semi")
      .select(col("src"), col("dst"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    val buildSec = (System.nanoTime() - t0) / 1e9
    val rec = approx.intersect(exact).size.toDouble / exact.size
    val srcs = exact.map(_._1).size
    println(f"[sampled-recall] d=$d sampled_srcs=$srcs m=$m refine=$refine " +
      f"level0_edge_recall=$rec%.4f exact=${exact.size} " +
      f"approx_for_sample=${approx.size} build_sec=$buildSec%.1f")
    spark.stop()
  }
}
