package graft.tools

import org.apache.spark.sql.functions._

import graft.LocalSession

/** End-user recall of the full SERVING path at scale: the hierarchical
  * descent + beam walk over the persisted approximate index
  * ([[graft.operators.Ann.hnswSearchApprox]] — the build→persist→serve
  * lifecycle the engine ships for corpora where the exact build is
  * unaffordable), graded against the brute-force exact top-k for the
  * same queries. Complements [[EdgeRecallSampled]]: that tool grades
  * the GRAPH the build produces (level-0 edge recall, 0.9972 at sf10);
  * this one grades what a USER gets back from a query against that
  * graph — descent entry, per-level argmin, beam expansion and all.
  * Exact ground truth is one broadcast-queries × corpus scan (nq·n
  * pairs), the same shape as annRecallReport's exact arm.
  *
  * Usage: runMain graft.tools.ServingRecall [sfDir] [nq] [k] [beam]
  * [arms] [rounds]
  * `arms`: comma list of exact,approx,ivf,ivfk,sq8,bq,pq,ivfpq,lsh
  * (default exact,approx — note the exact arm needs the exact m-NN
  * index, whose block build is ~50 min at sf10; pass `approx` alone
  * at scales where only the approximate build is affordable, which is
  * the whole point of that path). `rounds` is the walk's frontier
  * round budget (default 3; only the exact/approx graph arms read it).
  * Budget sweeps: `bq=N` grades bq with re-rank budget cand=N, and
  * `pq=N` / `ivfpq=N` grade those arms with an ADC shortlist of N
  * (e.g. `bq=50,bq=200,bq=1000` is the r13 task-6 sweep).
  */
object ServingRecall {
  def main(args: Array[String]): Unit = {
    val d = args.headOption.getOrElse("/root/repo/fixtures/sf10")
    val nq = args.lift(1).map(_.toInt).getOrElse(100)
    val k = args.lift(2).map(_.toInt).getOrElse(10)
    val beam = args.lift(3).map(_.toInt).getOrElse(16)
    val arms = args.lift(4).map(_.split(",").toSet)
      .getOrElse(Set("exact", "approx"))
    val rounds = args.lift(5).map(_.toInt).getOrElse(3)
    val spark = LocalSession("graft-serving-recall", LocalSession.cpus(32))
    import graft.operators.Ann

    val e = graft.Tables.embeddings(spark, d)
      .select(col("vec_id"), col("embedding"))
    // exact ground truth: the same query convention as the serving
    // walks (the first nq vec_ids query the whole corpus)
    val exact = graft.plans.KnnJoin.exact(e, e.filter(col("vec_id") < nq), k)
      .select(col("query_id"), col("vec_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    def grade(label: String)(df: org.apache.spark.sql.DataFrame): Unit = {
      val t0 = System.nanoTime()
      val got = df.select(col("query_id"), col("vec_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val sec = (System.nanoTime() - t0) / 1e9
      val rec = got.intersect(exact).size.toDouble / exact.size
      // per-query recall histogram: a BIMODAL distribution (all-or-
      // nothing per query) is the signature of clique-trapping — the
      // walk either lands in the query's cluster (perfect recall) or
      // in a cluster the level-0 top-m graph gives it no path out of
      val perQ = exact.groupBy(_._1).map { case (q, ps) =>
        ps.count(got.contains).toDouble / ps.size
      }.toSeq
      val bins = Seq(0.0 -> "0", 0.25 -> "<=.25", 0.5 -> "<=.5",
        0.75 -> "<=.75", 0.999 -> "<1", 1.0 -> "1")
      val hist = perQ.groupBy(r => bins.find(r <= _._1).get._2)
        .map { case (b, rs) => s"$b:${rs.size}" }.toSeq.sorted.mkString(" ")
      println(f"[serving-recall] d=$d arm=$label nq=$nq k=$k beam=$beam " +
        f"rounds=$rounds recall_at_k=$rec%.4f rows=${got.size} wall=$sec%.1f s " +
        s"per_query_hist{$hist}")
    }
    // exact-index hierarchical walk first (isolates descent/beam loss
    // from graph loss), then the approximate-index serve (the scale
    // path's end-to-end answer quality), then the quantized/bucketed
    // arms — the full serving decision matrix at this scale
    if (arms("exact"))
      grade("hnsw_exact_index")(Ann.hnswSearch(spark, d, nq, k, beam, rounds))
    if (arms("approx"))
      grade("hnsw_approx_index")(
        Ann.hnswSearchApprox(spark, d, nq, k, beam, rounds))
    if (arms("ivf")) grade("ivf")(Ann.annIvfRaw(spark, d, nq, k))
    if (arms("ivfk")) grade("ivf_trained")(Ann.annIvfTrainedRaw(spark, d, nq, k))
    if (arms("sq8")) grade("sq8")(Ann.annSq8Raw(spark, d, nq, k))
    if (arms("bq")) grade("bq")(Ann.annBqRaw(spark, d, nq, k))
    if (arms("pq")) grade("pq")(Ann.annPqRaw(spark, d, nq, k))
    if (arms("ivfpq")) grade("ivfpq")(Ann.annIvfPqRaw(spark, d, nq, k))
    if (arms("lsh")) grade("lsh")(Ann.annLshRaw(spark, d, nq, k))
    // budget sweeps: arm=N grades one arm at one candidate budget
    arms.toSeq.sorted.foreach { a =>
      if (a.startsWith("bq=")) {
        val c = a.drop(3).toInt
        grade(s"bq_cand$c")(Ann.annBqRaw(spark, d, nq, k, cand = c))
      } else if (a.startsWith("pq=")) {
        val c = a.drop(3).toInt
        grade(s"pq_cand$c")(Ann.annPqRaw(spark, d, nq, k, cand = c))
      } else if (a.startsWith("ivfpq=")) {
        val c = a.drop(6).toInt
        grade(s"ivfpq_cand$c")(Ann.annIvfPqRaw(spark, d, nq, k, cand = c))
      }
    }
    spark.stop()
  }
}
