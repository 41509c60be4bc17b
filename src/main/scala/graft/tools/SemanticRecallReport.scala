package graft.tools

import graft.LocalSession

/** Prints [[graft.operators.Similarity.semanticPairRecall]] — the
  * measured fraction of true ε-pairs that semantic_dedup's Voronoi
  * cells keep intra-cell — for a fixture dir. The semantic-dedup
  * counterpart of [[EdgeRecallSampled]]: clone-structured fixtures
  * cannot see a boundary-straddling miss, so the number must come
  * from a spread (low-contrast) corpus.
  *
  * With a 4th arg p ≥ 1, reports the MULTI-PROBE capture
  * ([[graft.operators.Similarity.semanticPairRecallProbe]]) instead:
  * the fraction of true ε-pairs visible to semantic_dedup_probe's
  * probes×occupants join at that probe width.
  *
  * Usage: runMain graft.tools.SemanticRecallReport [sfDir] [eps] [stride] [p]
  */
object SemanticRecallReport {
  def main(args: Array[String]): Unit = {
    val d = args.headOption.getOrElse("/root/testdata/sf0.01")
    val eps = args.lift(1).map(_.toDouble).getOrElse(1.1)
    val stride = args.lift(2).map(_.toLong).getOrElse(1L)
    val p = args.lift(3).map(_.toInt)
    val spark = LocalSession("graft-semantic-recall", LocalSession.cpus(32))
    val r = p match {
      case Some(pp) => graft.operators.Similarity.semanticPairRecallProbe(
        spark, d, eps = eps, stride = stride, p = pp)
      case None => graft.operators.Similarity.semanticPairRecall(
        spark, d, eps = eps, stride = stride)
    }
    println(f"[semantic-recall] d=$d eps=$eps stride=$stride" +
      p.map(pp => s" p=$pp").getOrElse("") + f" pair_recall=$r%.4f")
    spark.stop()
  }
}
