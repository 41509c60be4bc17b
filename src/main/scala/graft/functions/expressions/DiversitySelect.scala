package graft.functions.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Malkov's diversity-aware neighbor selection (HNSW paper §4,
  * SELECT-NEIGHBORS-HEURISTIC) over a per-node candidate list — the
  * prune the reference's `shrinkConnections` (`src/hnsw.zig:143-170`,
  * plain insertion-sort top-m by distance) deliberately lacks, and the
  * measured fix for its clustered-corpus failure: at 100× the gate
  * scale the plain prune closes clone clusters into ~2,000
  * near-disconnected cliques and the serving walk collapses to
  * recall 0.39 with 58/100 queries returning NOTHING (SCALING_SF10.md
  * §7.5); the decisive experiment (SCALING_SF10.md §7.6) measured
  * this selection at 0.999 vs 0.510 for plain top-m from the SAME
  * candidates, with zero trapped queries.
  *
  * Semantics, given candidates sorted ascending by (dist, dst):
  *   - greedy scan: keep candidate c (at distance d(src,c)) iff fewer
  *     than m are kept so far AND d(c, k) > d(src, c) for EVERY
  *     already-kept k — i.e. c is closer to the source than to any
  *     kept neighbor, so each kept edge opens a genuinely new
  *     direction instead of burrowing into one cluster;
  *   - backfill: if the scan keeps fewer than m, append the nearest
  *     skipped candidates in scan order until degree m (Malkov's
  *     keepPrunedConnections, so the graph keeps its degree budget).
  *
  * Output size is min(m, |candidates|) — exactly the plain prune's,
  * so edge counts and index_stats are unchanged; only WHICH edges
  * survive differs.
  *
  * Input: ARRAY<STRUCT<dist DOUBLE, dst BIGINT, dv ARRAY<DOUBLE>>>,
  * pre-sorted ascending (struct order = (dist, dst) — dst is unique
  * per group so the vector field never participates in the sort).
  * Output: ARRAY<STRUCT<dst BIGINT, dist DOUBLE>> of the selected
  * edges, in scan order (callers re-rank by (dist, dst)).
  *
  * Evaluated ONCE per (level, src) group in a build stage (never per
  * candidate pair), so CodegenFallback costs nothing measurable; the
  * inner distance test is the same strict left fold as
  * [[SquaredL2Distance]] / DuckDB's `list_sum` — bit-identical to the
  * oracle's recursive-CTE restatement of this scan. The inter-candidate
  * distances are evaluated LAZILY against kept neighbors only (≤ m per
  * candidate, and only until the first refutation), which is why the
  * selection wants vectors in the row rather than a precomputed
  * |cands|² distance matrix.
  */
case class DiversitySelect(child: Expression, m: Int)
    extends UnaryExpression with CodegenFallback {
  require(m >= 1, s"diversity_select requires m >= 1, got $m")
  override def prettyName: String = "diversity_select"
  override def nullable: Boolean = child.nullable

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StructType(Array(
        StructField(_, DoubleType, _, _),
        StructField(_, LongType, _, _),
        StructField(_, ArrayType(DoubleType, _), _, _))), _) =>
      TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires ARRAY<STRUCT<dist DOUBLE, dst BIGINT, " +
        s"dv ARRAY<DOUBLE>>>, got ${t.simpleString(40)}")
  }

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("dst", LongType, nullable = false),
    StructField("dist", DoubleType, nullable = false))), containsNull = false)

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val dists = new Array[Double](n)
    val dsts = new Array[Long](n)
    val vecs = new Array[Array[Double]](n)
    var i = 0
    while (i < n) {
      val row = arr.getStruct(i, 3)
      dists(i) = row.getDouble(0)
      dsts(i) = row.getLong(1)
      vecs(i) = row.getArray(2).toDoubleArray()
      i += 1
    }
    val keep = math.min(m, n)
    val kept = new Array[Int](keep)
    var nk = 0
    // greedy diversity scan (candidates arrive sorted by (dist, dst))
    i = 0
    while (i < n && nk < keep) {
      val cv = vecs(i)
      val cd = dists(i)
      var ok = true
      var j = 0
      while (ok && j < nk) {
        val kv = vecs(kept(j))
        // strict left fold, the SquaredL2Distance order
        var acc = 0.0
        var x = 0
        while (x < cv.length) { val dd = cv(x) - kv(x); acc += dd * dd; x += 1 }
        if (acc <= cd) ok = false
        j += 1
      }
      if (ok) { kept(nk) = i; nk += 1 }
      i += 1
    }
    // backfill skipped candidates in scan order up to degree m
    val sel = new Array[Boolean](n)
    var j = 0
    while (j < nk) { sel(kept(j)) = true; j += 1 }
    i = 0
    while (nk < keep && i < n) {
      if (!sel(i)) { sel(i) = true; kept(nk) = i; nk += 1 }
      i += 1
    }
    val out = new Array[Any](nk)
    j = 0
    while (j < nk) { out(j) = InternalRow(dsts(kept(j)), dists(kept(j))); j += 1 }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}
