package graft.perfbench

import java.io.File

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.{Ann, Knn, Similarity, TextOps}

/** Measures the properties that drive the engine's cost and path on a
  * corpus directory (the engine's input layout) and on a generated
  * shard of the same row counts, and prints them side by side:
  * neighbour contrast and the approximate build's measured capture
  * for the vectors, length, vocabulary and near-duplicate pair rates
  * for the documents.
  *
  * Usage: Calibrate <corpusDir> <seed> <workDir>
  * (`python3 perfbench/run.py --calibrate <corpusDir>`).
  */
object Calibrate {
  def main(argv: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val Array(corpus, seed, work) = argv
    val spark = Session.local(new File(work))
    try {
      val nV = Tables.embeddings(spark, corpus).count().toInt
      val nD = Tables.documents(spark, corpus).count().toInt
      val gen = new File(work, "generated")
      Gen.write(spark, gen, Some(Gen.vectors(seed.toLong, 0, nV)), Some(Gen.docs(seed.toLong, 0, nD)))
      val a = measure(spark, corpus)
      val b = measure(spark, gen.getPath)
      println(f"${"property"}%-28s ${"corpus"}%12s ${"generated"}%12s")
      a.keys.foreach(k => println(f"$k%-28s ${a(k)}%12.4f ${b(k)}%12.4f"))
    } finally spark.stop()
  }

  private def median(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)

  def measure(s: SparkSession, d: String): scala.collection.mutable.LinkedHashMap[String, Double] = {
    val out = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    // vectors: shape and neighbour contrast
    val vr = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"), col("label"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray, r.getInt(2))).sortBy(_._1)
    val rows = vr.map(r => (r._1, r._2))
    val n = rows.length
    val all = vr.flatMap(_._2)
    val mean = all.sum / all.length
    val sd = math.sqrt(all.map(x => (x - mean) * (x - mean)).sum / all.length)
    out("vectors") = n
    out("vec.dim_std") = sd
    out("vec.kurtosis") = all.map(x => math.pow((x - mean) / sd, 4)).sum / all.length
    val nn = rows.indices.map { i =>
      rows.indices.filter(_ != i).map(j => Truth.sq(rows(i)._2, rows(j)._2)).sorted.take(10).toArray
    }
    val rnd = new scala.util.Random(1)
    val randD2 = median(Seq.fill(20000) {
      val i = rnd.nextInt(n); val j = (i + 1 + rnd.nextInt(n - 1)) % n
      Truth.sq(rows(i)._2, rows(j)._2)
    })
    out("vec.nn1_d2_median") = median(nn.map(_(0)))
    out("vec.nn10_d2_median") = median(nn.map(_(9)))
    out("vec.random_d2_median") = randD2
    out("vec.contrast_random/nn10") = randD2 / out("vec.nn10_d2_median")
    out("vec.nn1_same_label") = rows.indices.count { i =>
      val j = rows.indices.filter(_ != i).minBy(j => Truth.sq(rows(i)._2, rows(j)._2))
      vr(i)._3 == vr(j)._3
    }.toDouble / n
    val eps = Truth.epsDups(rows, 1.1)
    out("vec.eps1.1_dup_share") = eps.size.toDouble / n
    // the approximate build's path: its measured capture and rounds
    val t0 = System.nanoTime()
    Ann.ensureFullIndexApprox(s, d)
    out("build.approx_s") = (System.nanoTime() - t0) / 1e9
    val diag = Ann.lastBuildDiag
    out("build.capture") = diag.map(_.capture).getOrElse(Double.NaN)
    out("build.nnd_rounds") = diag.map(_.rounds.toDouble).getOrElse(Double.NaN)
    def top(df: org.apache.spark.sql.DataFrame) =
      df.select(col("query_id"), col("vec_id")).collect().map(r => (r.getLong(0), r.getLong(1)))
        .groupBy(_._1).map { case (q, xs) => q -> xs.map(_._2).toSet }
    val exact = top(Knn.knnBatch(s, d, nq = 100))
    Ann.ensureFullIndexVecApprox(s, d)
    Seq("hnsw" -> Ann.hnswSearchApprox(s, d, nq = 100), "sq8" -> Ann.annSq8(s, d, nq = 100),
        "ivfpq" -> Ann.annIvfPq(s, d, nq = 100)).foreach { case (arm, df) =>
      val got = top(df)
      out(s"$arm.recall_at_10") = exact.map { case (q, e) =>
        got.getOrElse(q, Set.empty).intersect(e).size.toDouble / e.size }.sum / exact.size
    }
    val sem = Similarity.semanticDedup(s, d).select(col("vec_id")).collect().map(_.getLong(0)).toSet
    out("semantic.flagged_per_vec") = sem.size.toDouble / n
    out("semantic.eps_dup_recall") = if (eps.isEmpty) 1.0 else eps.count(sem).toDouble / eps.size
    // documents: shape and near-duplicate pair rates
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val nd = docs.length.toDouble
    val toks = docs.map(_._2.split(" "))
    val freq = toks.flatten.groupBy(identity).map(_._2.length)
    out("documents") = nd
    out("doc.tokens_mean") = toks.map(_.length).sum / nd
    out("doc.tokens_min") = toks.map(_.length).min
    out("doc.tokens_max") = toks.map(_.length).max
    out("doc.vocabulary") = freq.size
    out("doc.top_word_share") = freq.max.toDouble / freq.sum
    out("doc.jaccard0.5_pairs_per_doc") = Truth.jaccardPairs(docs, 0.5).size / nd
    out("doc.boiler_docs_per_doc") = Truth.boilerDocs(docs).size / nd
    out("minhash.pairs_per_doc") = TextOps.minhashLshDedup(s, d).count() / nd
    out("simhash64.pairs_per_doc") = TextOps.simhash64NearDup(s, d).count() / nd
    out("passage.flagged_per_doc") = TextOps.passageDedup(s, d).filter(col("n_boiler") > 0).count() / nd
    out("keep_best.clusters_per_doc") = TextOps.dedupKeepBest(s, d).count() / nd
    s.sharedState.cacheManager.clearCache()
    out
  }
}
