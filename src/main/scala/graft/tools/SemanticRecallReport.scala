package graft.tools

import graft.LocalSession

/** Prints [[graft.operators.Similarity.semanticPairRecallProbe]] — the
  * measured fraction of true ε-pairs visible to semantic_dedup_probe's
  * probes×occupants join at probe width p — for a fixture dir. At the
  * default p = 1 that is the fraction semantic_dedup's Voronoi cells
  * keep intra-cell. The semantic-dedup counterpart of
  * [[EdgeRecallSampled]]: clone-structured fixtures cannot see a
  * boundary-straddling miss, so the number must come from a spread
  * (low-contrast) corpus.
  *
  * Usage: runMain graft.tools.SemanticRecallReport [sfDir] [eps] [stride] [p]
  */
object SemanticRecallReport {
  def main(args: Array[String]): Unit = {
    val d = args.headOption.getOrElse("/root/testdata/sf0.01")
    val eps = args.lift(1).map(_.toDouble).getOrElse(1.1)
    val stride = args.lift(2).map(_.toLong).getOrElse(1L)
    val p = args.lift(3).map(_.toInt).getOrElse(1)
    val spark = LocalSession("graft-semantic-recall", LocalSession.cpus(32))
    val r = graft.operators.Similarity.semanticPairRecallProbe(
      spark, d, eps = eps, stride = stride, p = p)
    println(f"[semantic-recall] d=$d eps=$eps stride=$stride p=$p pair_recall=$r%.4f")
    spark.stop()
  }
}
