package graft.tools

import graft.LocalSession

/** Prints [[graft.operators.Similarity.semanticDedupMeasured]]'s
  * chooser outcome — the measured capture curve, exact candidate
  * masses, the chosen probe width, and whether the floor was met —
  * plus the verdict row count at the chosen width. Always measures
  * live, at the given knobs.
  *
  * Usage: runMain graft.tools.DedupChoiceReport
  *   [sfDir] [eps] [stride] [massPerRow] [cellSize]
  * (stride 0 = the engine's measured-bounded auto stride, n/2048;
  * massPerRow and cellSize default to the declared-query knobs 512/64
  * — raise massPerRow to measure the recall-vs-ceiling escalation the
  * ANN chooser documents in SCALING_SF10.md §6.6, or cellSize to
  * trade per-cell join width for boundary capture)
  */
object DedupChoiceReport {
  def main(args: Array[String]): Unit = {
    import graft.operators.Similarity.{DefaultEps, DefaultStride,
      DefaultMassPerRow, DefaultCellSize}
    val d = args.headOption.getOrElse("/root/testdata/sf0.01")
    val eps = args.lift(1).map(_.toDouble).getOrElse(DefaultEps)
    val stride = args.lift(2).map(_.toLong).getOrElse(DefaultStride)
    val massPerRow = args.lift(3).map(_.toLong).getOrElse(DefaultMassPerRow)
    val cellSize = args.lift(4).map(_.toInt).getOrElse(DefaultCellSize)
    val spark = LocalSession("graft-dedup-choice", LocalSession.cpus(32))
    val (verdicts, assign, c) = graft.operators.Similarity
      .semanticDedupMeasuredWithState(spark, d, eps = eps, stride = stride,
        massPerRow = massPerRow, cellSize = cellSize)
    val rows = try verdicts.count()
      finally graft.operators.Ann.freeBuildState(assign)
    println(s"[dedup-choice] d=$d eps=$eps stride=$stride " +
      s"massPerRow=$massPerRow cellSize=$cellSize chosen_p=${c.p} " +
      s"floor_met=${c.floorMet} true_pairs=${c.truePairs} " +
      s"captured=${c.capturedAtP.toSeq.sortBy(_._1)} " +
      s"mass=${c.massAtP.toSeq.sortBy(_._1)} verdict_rows=$rows")
    spark.stop()
  }
}
