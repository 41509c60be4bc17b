package graft.perfbench

import scala.collection.mutable

/** Driver-side exact answers, computed from the rows a shard was made
  * of (or read back from a corpus): what the output checks grade the
  * engine against, and what the calibration measures. Every
  * definition follows the engine's own (3-word distinct shingles,
  * `jac >= theta`, 8-token passage grid, `d² < eps`, double left fold). */
object Truth {
  def toDouble(e: Array[Float]): Array[Double] = e.map(_.toDouble)

  /** Squared L2 as the engine folds it: left to right, in double. */
  def sq(a: Array[Double], b: Array[Double]): Double = {
    var d = 0.0
    var i = 0
    while (i < a.length) { val x = a(i) - b(i); d += x * x; i += 1 }
    d
  }

  /** Exact top-`k` of the queries `vec_id < nq`, in the engine's
    * (dist, id) order. */
  def topK(rows: Array[(Long, Array[Double])], nq: Int, k: Int = 10): Map[Long, Set[Long]] =
    rows.take(nq).map { case (q, qv) =>
      q -> rows.map { case (id, e) => (sq(e, qv), id) }.sorted.take(k).map(_._2).toSet
    }.toMap

  /** Ids with a smaller-id vector within squared distance `eps` — what
    * `Similarity.semanticDedup` flags when no cell boundary hides the
    * pair. */
  def epsDups(rows: Array[(Long, Array[Double])], eps: Double): Set[Long] =
    rows.indices.filter { j =>
      val (idj, vj) = rows(j)
      rows.exists { case (idi, vi) => idi < idj && sq(vi, vj) < eps }
    }.map(rows(_)._1).toSet

  /** The engine's shingle set of a document: distinct ordered 3-word
    * shingles, none below 3 tokens. */
  def shingles(text: String): Set[String] = {
    val t = text.split(" ")
    if (t.length < 3) Set.empty else t.sliding(3).map(_.mkString(" ")).toSet
  }

  def jaccard(a: Set[String], b: Set[String]): Double = {
    val i = a.count(b)
    if (a.isEmpty && b.isEmpty) 0.0 else i.toDouble / (a.size + b.size - i)
  }

  /** Every pair (a < b) with shingle Jaccard ≥ `theta`, by an inverted
    * index over shingles. */
  def jaccardPairs(docs: Array[(Long, String)], theta: Double): Set[(Long, Long)] = {
    val sh = docs.map { case (id, t) => id -> shingles(t) }
    val byId = sh.toMap
    val inv = mutable.HashMap.empty[String, mutable.ArrayBuffer[Long]]
    sh.foreach { case (id, s) => s.foreach(g => inv.getOrElseUpdate(g, mutable.ArrayBuffer.empty) += id) }
    val cand = mutable.HashSet.empty[(Long, Long)]
    inv.valuesIterator.filter(_.size > 1).foreach { ids =>
      for (a <- ids; b <- ids if a < b) cand += ((a, b))
    }
    cand.filter { case (a, b) => jaccard(byId(a), byId(b)) >= theta }.toSet
  }

  /** Documents carrying a `width`-token grid passage that another
    * document also carries — what `TextOps.passageDedup` flags. */
  def boilerDocs(docs: Array[(Long, String)], width: Int = 8): Set[Long] = {
    val carriers = mutable.HashMap.empty[String, mutable.HashSet[Long]]
    docs.foreach { case (id, text) =>
      val t = text.split(" ")
      (0 until t.length / width).foreach { i =>
        carriers.getOrElseUpdate(t.slice(i * width, (i + 1) * width).mkString(" "),
          mutable.HashSet.empty) += id
      }
    }
    carriers.valuesIterator.filter(_.size > 1).flatten.toSet
  }
}
