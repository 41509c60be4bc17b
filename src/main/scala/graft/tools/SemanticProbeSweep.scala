package graft.tools

import org.apache.spark.sql.functions._

import graft.{LocalSession, Tables}
import graft.functions.VectorFunctions._
import graft.operators.{Ann, Similarity}

/** One-session probe-width sweep for the multi-probe semantic dedup:
  * computes the stride-sampled exact ε-pair ground truth ONCE
  * (checkpointed), then reports
  * [[graft.operators.Similarity.semanticCellsProbe]] pair capture at
  * each requested probe width — the per-p cost is the assignment, not
  * the quadratic exact stage, so a 3-point sweep costs ~1/3 of three
  * separate [[SemanticRecallReport]] runs at the scales (200k+) where
  * the exact stage dominates.
  *
  * Usage: runMain graft.tools.SemanticProbeSweep [sfDir] [eps] [stride] [p,p,...]
  */
object SemanticProbeSweep {
  def main(args: Array[String]): Unit = {
    val d = args.headOption.getOrElse("/root/testdata/sf0.01")
    val eps = args.lift(1).map(_.toDouble).getOrElse(1.1)
    val stride = args.lift(2).map(_.toLong).getOrElse(1L)
    val ps = args.lift(3).map(_.split(",").map(_.toInt).toSeq)
      .getOrElse(Seq(1, 2, 4))
    val spark = LocalSession("graft-semantic-probe-sweep", LocalSession.cpus(32))

    val e = Tables.embeddings(spark, d).select(col("vec_id"), col("embedding"))
    val sample = e.filter(col("vec_id") % stride === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val truePairs = e.crossJoin(broadcast(sample))
      .filter(col("vec_id") =!= col("qid") &&
        squaredL2Within(col("embedding"), col("qv"), eps))
      .select(least(col("vec_id"), col("qid")).as("a"),
        greatest(col("vec_id"), col("qid")).as("b"))
      .distinct()
      .localCheckpoint(true)
    try {
      val total = truePairs.count()
      println(s"[probe-sweep] d=$d eps=$eps stride=$stride true_pairs=$total")
      ps.foreach { p =>
        val cells = Similarity.semanticCellsProbe(spark, d, 64, p)
        try {
          val r =
            if (total == 0L) 1.0
            else {
              val pa = cells.select(col("vec_id").as("a"),
                col("cell").as("ca"), col("rnk").as("ra"))
              val pb = cells.select(col("vec_id").as("b"),
                col("cell").as("cb"), col("rnk").as("rb"))
              truePairs.join(pa, "a").join(pb, "b")
                .filter(col("ca") === col("cb") &&
                  (col("ra") === 1 || col("rb") === 1))
                .select(col("a"), col("b")).distinct()
                .count().toDouble / total
            }
          println(f"[probe-sweep] d=$d eps=$eps stride=$stride p=$p pair_recall=$r%.4f")
        } finally Ann.freeBuildState(cells)
      }
    } finally Ann.freeBuildState(truePairs)
    spark.stop()
  }
}
