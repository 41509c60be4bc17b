package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.Tables
import graft.functions.VectorFunctions._
import graft.functions.expressions.TopMEdges
import org.apache.spark.sql.graftbridge.SqlBridge

/** Approximate-nearest-neighbor scale path: LSH bucketing, IVF coarse
  * quantization, and the HNSW-shaped hierarchical k-NN graph — the
  * batch re-expressions of the reference's index (`src/hnsw.zig`).
  *
  * Where the reference builds a pointer graph under a global mutex and
  * searches it greedily (`insert` `src/hnsw.zig:73-117`, `search`
  * `:194-236`), the Spark engine builds *partitionable structures*:
  *
  *   - LSH: per-vector bucket keys from deterministic random-ish
  *     projections → candidate generation is an equi-join on bucket,
  *     turning the O(n²) similarity join into O(n·bands) shuffle.
  *   - IVF: coarse centroids (the label centroids of
  *     [[Similarity.nearestCentroid]] serve as the deterministic
  *     codebook), vectors assigned to nearest centroid; a query probes
  *     the `nprobe` nearest cells only.
  *   - HNSW-shaped graph: geometric level assignment + per-level
  *     m-NN edges — the relational materialization of what
  *     `insert`/`connect`/`shrinkConnections` build imperatively.
  *
  * Determinism without crypto randomness (the reference's
  * `std.crypto.random` level draw, `src/hnsw.zig:172-180`, makes its
  * index non-reproducible — SURVEY §2.2): all randomness here derives
  * from md5 of ids/dimension indices, so every structure is exactly
  * reproducible in both engines — which is also what makes every query
  * in this module DuckDB-hash-oracle-checkable, including the graph
  * build ([[hnswEdges]]) and the beam search ([[annGraphSearch]]).
  */
object Ann {

  private val hash60 = "CAST(conv(substr(md5(%s), 1, 15), 16, 10) AS BIGINT)"

  /** Geometric(p=0.5) level from trailing-zero bits of the id hash —
    * integer-exact mirror of `randomLevel` (`src/hnsw.zig:172-180`,
    * p=0.5, cap 31) with a seeded hash instead of crypto randomness.
    * Scala twin: [[HnswLevel.levelOf]] (parity asserted in AnnSpec). */
  private val levelExpr = {
    val h = hash60.format("CAST(vec_id AS STRING)")
    // count trailing zero bits of h (h is uniform over 60 bits)
    s"""least(31, CAST(aggregate(sequence(0, 31),
       |  named_struct('done', false, 'n', 0),
       |  (acc, b) -> CASE WHEN acc.done OR (($h >> b) & 1) = 1
       |                   THEN named_struct('done', true, 'n', acc.n)
       |                   ELSE named_struct('done', false, 'n', acc.n + 1) END,
       |  acc -> acc.n) AS INT))""".stripMargin
  }

  private val Dim = 64 // fixture embedding width

  /** Projection `p` as a constant vector: component j =
    * unitHash("p-j"). Computed once driver-side and shipped as an
    * array literal — the values depend only on (p, j), so evaluating
    * the md5 chain per corpus row (512 interpreted hashes/row, the r2
    * plan) was pure waste. The dot product against the literal is the
    * native codegen'd [[graft.functions.expressions.DotProduct]]. */
  private def projVector(p: Int): Seq[Double] =
    (0 until Dim).map(j => HnswLevel.unitHash(s"$p-$j"))

  /** Per-vector LSH bucket keys, unordered (shared by [[lshBuckets]]
    * and [[annLsh]]). */
  private[graft] def bucketsRaw(s: SparkSession, d: String, nProj: Int, w: Double): DataFrame = {
    val e = Tables.embeddings(s, d)
    val buckets = (0 until nProj).map { p =>
      struct(lit(p).as("proj_id"),
        floor(dot(col("embedding"), typedLit(projVector(p))) / w)
          .cast("long").as("bucket"))
    }
    e.select(col("vec_id"), explode(array(buckets: _*)).as("pb"))
      .select(col("vec_id"), col("pb.proj_id").as("proj_id"), col("pb.bucket").as("bucket"))
  }

  /** Per-vector LSH bucket keys: `nProj` signed random projections,
    * bucket = floor(dot(vec, proj)/w). Returns (vec_id, proj_id, bucket). */
  def lshBuckets(s: SparkSession, d: String, nProj: Int = DefaultNProj,
                 w: Double = DefaultKeyW): DataFrame =
    bucketsRaw(s, d, nProj, w).orderBy(col("vec_id"), col("proj_id"))

  /** The serving skeleton every approximate search arm ends in: the
    * reference's own query tail (`search`, `src/hnsw.zig:194-236`:
    * score the candidates by squared L2, keep the top k by (dist, id))
    * as two stages, so an arm states only its candidate generator.
    *
    *   - [[exactRerank]]: lsh, ivf/ivfk, bq, pq and ivfpq generate a
    *     `(query_id, vec_id)` candidate set; the true corpus vectors
    *     and the broadcast query vectors are attached, scored by exact
    *     squared-L2, and the top k kept. The returned `dist` is exact
    *     whatever approximate score chose the candidates — the
    *     standard two-stage shape: a shortlist, exact verification,
    *     then the top-k merge (Jégou, Douze & Schmid, TPAMI 2011 §V).
    *   - [[topK]]: sq8 (whose `dist` is the reconstructed-vector
    *     distance), graph, hnsw/hnswa and filtered (whose walks score
    *     exactly as they go) rank their pool directly.
    *
    * The oracle SQL states the same two stages once each
    * ([[topKSql]], [[exactRerankSql]]).
    *
    * This helper keeps the `n` best rows of `pool` per query by (dist,
    * vec_id), ranked 1..n in `rnk`. A pool that already carries `rn`
    * (the hierarchical walk's final beam round, ranked over the same
    * order) is filtered on it instead: row_number over the same window
    * assigns the same ranks, and reuse skips one exchange+sort+window
    * pass over the pool. */
  private def topK(pool: DataFrame, n: Int): DataFrame =
    if (pool.columns.contains("rn"))
      pool.filter(col("rn") <= n).withColumnRenamed("rn", "rnk")
    else
      pool.withColumn("rnk", row_number().over(
          Window.partitionBy("query_id").orderBy(col("dist"), col("vec_id"))))
        .filter(col("rnk") <= n)

  /** The query vectors `(query_id, qv)`: the corpus rows vec_id < nq. */
  private def queryVecs(e: DataFrame, nq: Int): DataFrame =
    e.filter(col("vec_id") < nq)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))

  /** Exact re-rank of a `(query_id, vec_id)` candidate set into the
    * [[topK]]: the true corpus vectors join by id, the query vectors
    * broadcast, squared-L2 scores each pair. `bounded` marks a
    * shortlist whose size is fixed by construction (≤ shortlist·nq
    * rows: bq, pq, ivfpq): it broadcasts against the corpus scan, so
    * the fetch is map-only and never a second corpus-wide distance
    * pass. Candidate sets that grow with the corpus (lsh's bucket
    * collisions, ivf's probed cells) join without a hint. */
  private def exactRerank(e: DataFrame, cands: DataFrame, nq: Int, k: Int,
                          bounded: Boolean): DataFrame = {
    val c = cands.select(col("query_id"), col("vec_id"))
    topK(e.select(col("vec_id"), col("embedding"))
      .join(if (bounded) broadcast(c) else c, Seq("vec_id"))
      .join(broadcast(queryVecs(e, nq)), Seq("query_id"))
      .select(col("query_id"), col("vec_id"),
        squaredL2(col("embedding"), col("qv")).as("dist")), k)
  }

  /** LSH-accelerated approximate k-NN for queries (vec_id < nq):
    * candidates = corpus vectors sharing ≥1 (proj, bucket) key with the
    * query. The equi-join on bucket keys is the 100 TB path: no cross
    * join anywhere. The bucket table feeds both join sides, so it is
    * cached once. */
  private[graft] def annLshRaw(s: SparkSession, d: String, nq: Int = 10, k: Int = 10): DataFrame = {
    val b = bucketsRaw(s, d, nProj = DefaultNProj, w = DefaultKeyW).cache()
    val qb = b.filter(col("vec_id") < nq)
      .select(col("vec_id").as("query_id"), col("proj_id"), col("bucket"))
    val cand = qb.join(b, Seq("proj_id", "bucket"))
      .select(col("query_id"), col("vec_id")).distinct()
    exactRerank(Tables.embeddings(s, d), cand, nq, k, bounded = false)
  }

  def annLsh(s: SparkSession, d: String, nq: Int = 10, k: Int = 10): DataFrame =
    annLshRaw(s, d, nq, k).orderBy(col("query_id"), col("rnk"))

  /** LSH-bucketed near-duplicate PAIR GENERATION over the embedding
    * corpus — the approximate scale path of
    * [[Similarity.nearDupPairs]] (the exact block-partitioned ε-join):
    * candidates are pairs sharing ≥1 (proj, bucket) key — a banded
    * self-equi-join whose output is candidate-pair-sized, never
    * corpus² — verified with the exact squared-L2 < eps predicate.
    * Completes the dedup menu's symmetry: documents get
    * exact-Jaccard / MinHash-LSH / SimHash; embeddings get the exact
    * ε-join / THIS. Pairs whose endpoints collide on no projection
    * band are missed — the standard LSH recall trade, measured
    * against the exact form in AnnSpec. */
  def neardupLsh(s: SparkSession, d: String, eps: Double = 1.1): DataFrame = {
    val e = Tables.embeddings(s, d)
    // vectors ride ON the bucket rows so the distance is computed
    // inside the bucket-join stage and the ε filter prunes BEFORE the
    // dedup shuffle: the candidate multiset (Σ bucket² rows — 300M at
    // the sf1 scale point) stays pipelined in its map stage and only
    // true near-pairs (× collision multiplicity ≤ nProj) reach the
    // exchange. The old shape distinct()ed the full candidate set
    // first, which WAS the 300M-row shuffle. Same output bit-for-bit:
    // dist is a pure function of the pair, so filter∘distinct ≡
    // distinct∘filter and every duplicate carries an identical row.
    val bv = bucketsRaw(s, d, nProj = 8, w = 0.1)
      .join(e.select(col("vec_id"), col("embedding")), "vec_id")
      .cache()
    bv.as("l").join(bv.as("r"),
        col("l.proj_id") === col("r.proj_id") &&
          col("l.bucket") === col("r.bucket") &&
          col("l.vec_id") < col("r.vec_id"))
      .select(col("l.vec_id").as("src"), col("r.vec_id").as("dst"),
        squaredL2(col("l.embedding"), col("r.embedding")).as("dist"))
      .filter(col("dist") < eps)
      .distinct()
      .orderBy(col("src"), col("dst"))
  }

  /** IVF assignment: each vector → nearest label-centroid cell
    * (deterministic codebook from [[Similarity]]'s decimal centroids).
    * The argmin is the PER-ROW codegen'd
    * [[graft.functions.expressions.NearestCentroid]] over the codebook
    * folded into one broadcast array row — MAP-ONLY: zero exchanges,
    * where the r13 `groupBy(vec_id).agg(min(struct))` form (itself the
    * fix for the r12 window's |centroids|× crossed shuffle) still
    * hash-partitioned the full corpus by vec_id. Identical (dist,
    * label) values and tie order — see the expression's doc. */
  private def ivfAssignWith(e: DataFrame, cent: DataFrame): DataFrame =
    Tables.spread(e.sparkSession, e).crossJoin(broadcast(cent.agg(
        sort_array(collect_list(struct(col("clabel"), col("cvec"))))
          .as("cents"))))
      .select(col("vec_id"),
        graft.functions.VectorFunctions.argminCentroid(
          col("embedding"), col("cents")).as("m"))
      .select(col("vec_id"), col("m.label").as("cell"), col("m.dist").as("cdist"))

  private def ivfAssignRaw(s: SparkSession, d: String): DataFrame =
    ivfAssignWith(Tables.embeddings(s, d), Similarity.centroids(s, d))

  def ivfAssign(s: SparkSession, d: String): DataFrame =
    ivfAssignRaw(s, d).orderBy(col("vec_id"))

  /** The `nprobe` nearest coarse cells per query by (cdist, cell) —
    * the IVF cell probe of [[annIvfWith]] and [[annIvfPqRaw]]. The
    * query and centroid vectors ride along for ivfpq's query residual. */
  private def probeCells(q: DataFrame, cent: DataFrame, nprobe: Int): DataFrame = {
    val wq = Window.partitionBy("query_id").orderBy(col("cdist"), col("cell"))
    q.crossJoin(broadcast(cent))
      .select(col("query_id"), col("qv"), col("clabel").as("cell"), col("cvec"),
        squaredL2(col("qv"), col("cvec")).as("cdist"))
      .withColumn("rn", row_number().over(wq))
      .filter(col("rn") <= nprobe)
  }

  /** IVF approximate k-NN: candidates = the corpus vectors of the
    * `nprobe` nearest cells per query. Scan cost drops from |corpus|
    * to |probed cells| — the standard inverted-file trade. */
  private def annIvfWith(e: DataFrame, cent: DataFrame,
                         nq: Int, k: Int, nprobe: Int): DataFrame = {
    val assign = ivfAssignWith(e, cent).select(col("vec_id"), col("cell"))
    val probed = probeCells(queryVecs(e, nq), cent, nprobe)
      .select(col("query_id"), col("cell"))
    exactRerank(e, probed.join(assign, "cell"), nq, k, bounded = false)
  }

  private[graft] def annIvfRaw(s: SparkSession, d: String,
      nq: Int = 10, k: Int = 10, nprobe: Int = 3): DataFrame =
    annIvfWith(Tables.embeddings(s, d), Similarity.centroids(s, d), nq, k, nprobe)

  def annIvf(s: SparkSession, d: String, nq: Int = 10, k: Int = 10, nprobe: Int = 3): DataFrame =
    annIvfRaw(s, d, nq, k, nprobe).orderBy(col("query_id"), col("rnk"))

  /** TRAINED IVF: the same cell-probe search served from the k-means
    * codebook ([[Similarity.kmeansIterCentroids]] — Lloyd run to a
    * fixpoint from the label seed) instead of the raw label centroids —
    * the production IVF lifecycle, where the coarse quantizer is
    * trained before the inverted file is built. Identical plan shape
    * to [[annIvf]] (broadcast codebook, cell equi-join); only the
    * codebook differs, so cells are tighter and the same nprobe
    * recovers more true neighbors. */
  private[graft] def annIvfTrainedRaw(s: SparkSession, d: String,
      nq: Int = 10, k: Int = 10, nprobe: Int = 3, iters: Int = 3): DataFrame =
    annIvfWith(Tables.embeddings(s, d),
      Similarity.kmeansIterCentroids(s, d, iters), nq, k, nprobe)

  def annIvfTrained(s: SparkSession, d: String,
      nq: Int = 10, k: Int = 10, nprobe: Int = 3, iters: Int = 3): DataFrame =
    annIvfTrainedRaw(s, d, nq, k, nprobe, iters)
      .orderBy(col("query_id"), col("rnk"))

  /** HNSW-shaped hierarchical structure: geometric levels + per-level
    * m-NN edges (m=16 as in every reference config, pruned per
    * `shrinkConnections` semantics `src/hnsw.zig:143-170`, ties on id). */
  def hnswLevels(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .withColumn("level", expr(levelExpr))
      .select(col("vec_id"), col("level"))
      .orderBy(col("vec_id"))

  /** A table's rows as (id, vector, level) — the node form shared by
    * the level-aware edge builders. */
  private def levelNodes(s: SparkSession, d: String)
      : org.apache.spark.sql.Dataset[(Long, Array[Double], Int)] = {
    import s.implicits._
    Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding")).as[(Long, Array[Double])]
      .map { case (id, v) => (id, v, HnswLevel.levelOf(id)) }
  }

  /** Partial per-level top-m candidates for every probe row against the
    * corpus side, block-partitioned on both sides ([[BlockKnnJoin]]'s
    * shape — no driver collect). Each block pair computes every
    * pairwise distance ONCE, offering it to the bounded per-level
    * heaps of the probe row (a level-l node is a valid neighbor at
    * levels 0..min(srcLevel, dstLevel)). Output is partial — callers
    * window-merge per (level, src) to the global top-m. */
  private def levelEdgePartials(
      s: SparkSession,
      probe: org.apache.spark.sql.Dataset[(Long, Array[Double], Int)],
      corpus: org.apache.spark.sql.Dataset[(Long, Array[Double], Int)],
      m: Int, maxLevel: Int, nBlocks: Int): DataFrame = {
    import s.implicits._
    val mm = m
    val ml = maxLevel
    def blocked(ds: org.apache.spark.sql.Dataset[(Long, Array[Double], Int)]) =
      ds.groupByKey { case (id, _, _) => math.floorMod(id, nBlocks.toLong).toInt }
        .mapGroups((blk: Int, it: Iterator[(Long, Array[Double], Int)]) => (blk, it.toArray))
    val partial = blocked(probe).joinWith(blocked(corpus), lit(true), "cross")
      .repartition(nBlocks * nBlocks)
      .flatMap { case ((_, lnodes), (_, rnodes)) =>
        lnodes.iterator.flatMap { case (sid, svec, slvl) =>
          val lmax = math.min(slvl, ml)
          val heaps = Array.fill(lmax + 1)(new BoundedTopK(mm))
          var i = 0
          while (i < rnodes.length) {
            val (did, dvec, dlvl) = rnodes(i)
            if (did != sid) {
              // plain fold — no heap-bound abandon (a measured
              // pessimization; see BlockKnnJoin.knnGraph)
              val dist = BlockKnnJoin.sqDist(svec, dvec)
              val top = math.min(lmax, dlvl)
              var l = 0
              while (l <= top) { heaps(l).offer(dist, did); l += 1 }
            }
            i += 1
          }
          heaps.iterator.zipWithIndex.flatMap { case (h, l) =>
            h.drain().iterator.map { case (dist, did) => (l, sid, did, dist) }
          }
        }
      }
      .toDF("level", "src", "dst", "dist")
    partial
  }

  /** One-pass symmetric partials for the incremental-insert path: every
    * (corpus-node, delta-node) distance is computed ONCE per block pair
    * and offered to the per-level heaps of BOTH endpoints:
    *
    *   - delta-side probes emit always — ranged over the whole corpus
    *     (`all` ⊇ base ∪ delta) they become the inserted nodes'
    *     neighbor lists;
    *   - corpus-side probes emit only where `emitLeft` holds (the base
    *     rows) — those rows are the repair candidates merged into the
    *     stored lists.
    *
    * Compared to running [[levelEdgePartials]] twice (delta×all then
    * base×delta), this halves both the distance evaluations and the
    * number of blocked-shuffle passes — at scale the pass cost is
    * dominated by the corpus-side scan, so one pass instead of two is
    * a genuine 2×. Each ordered (probe, neighbor) pair is produced by
    * exactly one block pair, so the global window prune sees no
    * duplicates. */
  private def levelEdgePartialsSym(
      s: SparkSession,
      all: org.apache.spark.sql.Dataset[(Long, Array[Double], Int)],
      delta: org.apache.spark.sql.Dataset[(Long, Array[Double], Int)],
      emitLeft: Long => Boolean,
      m: Int, maxLevel: Int, nBlocks: Int, dBlocks: Int): DataFrame = {
    import s.implicits._
    val mm = m
    val ml = maxLevel
    def blocked(ds: org.apache.spark.sql.Dataset[(Long, Array[Double], Int)], nb: Int) =
      ds.groupByKey { case (id, _, _) => math.floorMod(id, nb.toLong).toInt }
        .mapGroups((blk: Int, it: Iterator[(Long, Array[Double], Int)]) => (blk, it.toArray))
    blocked(all, nBlocks).joinWith(blocked(delta, dBlocks), lit(true), "cross")
      .repartition(nBlocks * dBlocks)
      .flatMap { case ((_, lnodes), (_, rnodes)) =>
        val lheaps: Array[Array[BoundedTopK]] = lnodes.map { case (id, _, lvl) =>
          if (emitLeft(id)) Array.fill(math.min(lvl, ml) + 1)(new BoundedTopK(mm)) else null
        }
        val rheaps: Array[Array[BoundedTopK]] = rnodes.map { case (_, _, lvl) =>
          Array.fill(math.min(lvl, ml) + 1)(new BoundedTopK(mm))
        }
        var i = 0
        while (i < lnodes.length) {
          val (aid, av, alvl) = lnodes(i)
          val lh = lheaps(i)
          var j = 0
          while (j < rnodes.length) {
            val (bid, bv, blvl) = rnodes(j)
            if (bid != aid) {
              // plain fold — no heap-bound abandon (a measured
              // pessimization; see BlockKnnJoin.knnGraph)
              val dist = BlockKnnJoin.sqDist(av, bv)
              val top = math.min(math.min(alvl, blvl), ml)
              val rh = rheaps(j)
              var l = 0
              while (l <= top) {
                if (lh != null) lh(l).offer(dist, bid)
                rh(l).offer(dist, aid)
                l += 1
              }
            }
            j += 1
          }
          i += 1
        }
        def emit(id: Long, heaps: Array[BoundedTopK]): Iterator[(Int, Long, Long, Double)] =
          heaps.iterator.zipWithIndex.flatMap { case (h, l) =>
            h.drain().iterator.map { case (dist, did) => (l, id, did, dist) }
          }
        lnodes.iterator.zip(lheaps.iterator).filter(_._2 != null)
          .flatMap { case ((id, _, _), hs) => emit(id, hs) } ++
          rnodes.iterator.zip(rheaps.iterator)
            .flatMap { case ((id, _, _), hs) => emit(id, hs) }
      }
      .toDF("level", "src", "dst", "dist")
  }

  /** Global top-m per (level, src) over partial candidate rows. */
  private def pruneLevelEdges(partial: DataFrame, m: Int): DataFrame = {
    val w = Window.partitionBy("level", "src").orderBy(col("dist"), col("dst"))
    partial.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= m)
  }

  /** Candidate-widening factor of the diversity prune: every stored /
    * maintained edge STATE is the plain top-(DiversityWiden·m) per
    * (level, src) — reference `shrinkConnections` semantics
    * (`src/hnsw.zig:143-170`), just wider — and the DECLARED neighbor
    * lists are [[graft.functions.expressions.DiversitySelect]]'s
    * diversity-selected m of those candidates ([[diversityView]]).
    * 4 is the measured shape recorded in SCALING_SF10.md §7.6:
    * top-4m candidates recover recall 0.999 on the corpora whose
    * plain top-m graph clique-traps to 0.39–0.51,
    * while keeping the NND refinement itself at m (running the rounds
    * at 4m is a 16× candidate blowup the experiment measured into
    * driver heartbeat stalls). Keeping the STATE plain-wide (not
    * diversity-pruned) is what keeps incremental maintenance exact:
    * top-w(all) = top-w(top-w(stored) ∪ top-w(delta partials)) under
    * the (dist, id) total order — the same associativity argument as
    * the previous m-wide state — whereas a diversity-pruned state
    * discards candidates a later arrival could make diverse again. */
  private[operators] val DiversityWiden = 4

  /** The DECLARED adjacency over a WIDE plain edge state: per (level,
    * src), collect the ≤ DiversityWiden·m candidates ascending (dist,
    * dst) with their dst vectors and apply the greedy diversity
    * selection (keep c only while closer to src than to every kept
    * neighbor; backfill to degree m — [[graft.functions.expressions
    * .DiversitySelect]]). Output is (level, src, dst, dist), exactly
    * min(m, |cands|) rows per group — the same counts as a plain top-m,
    * only the surviving edges differ.
    *
    * Plan shape: the wide state arrives hash-partitioned by (level,
    * src) (its window / TopMEdges prune put it there), the dst-vector
    * attach is a broadcast join below [[BroadcastFetchMaxRows]] (so it
    * stays in the same stage and the collect_list groupBy reuses the
    * partitioning — no second exchange), and the selection itself is
    * one expression eval per group. Beyond the broadcast bound the
    * attach becomes a shuffle join — n·(DiversityWiden·m)·levels rows
    * carrying one vector each, an output-×-widen-sized exchange paid
    * once per build, which is the honest cost of grouping candidate
    * vectors at corpus scale. */
  private[graft] def diversityView(s: SparkSession, d: String,
                                   wide: DataFrame, m: Int): DataFrame = {
    val e = Tables.embeddings(s, d)
    val cnt = e.count()
    val ft = e.select(col("vec_id").as("dst"), col("embedding").as("dv"))
    val attached = wide.select(col("level"), col("src"), col("dst"), col("dist"))
      .join(if (cnt <= BroadcastFetchMaxRows) broadcast(ft) else ft, Seq("dst"))
    val sel = SqlBridge.column(graft.functions.expressions.DiversitySelect(
      SqlBridge.expression(
        sort_array(collect_list(struct(col("dist"), col("dst"), col("dv"))))),
      m))
    attached.groupBy(col("level"), col("src"))
      .agg(sel.as("sel"))
      .select(col("level"), col("src"), explode(col("sel")).as("e"))
      .select(col("level"), col("src"),
        col("e.dst").as("dst"), col("e.dist").as("dist"))
  }

  // levels above this are astronomically unlikely occupied by >1 node
  private val MaxLevel = 8
  private val EdgeBlocks = 8

  /** All-level HNSW edge table in ONE distributed pass — replaces the
    * r2 plan of 9 per-level broadcast joins (9 driver collects, 9 full
    * O(n²) scans, levelExpr re-evaluated per level — ~120 s at sf0.1)
    * with one O(n²) scan and zero collects.
    *
    * As of round 14 the DECLARED lists are DIVERSITY-PRUNED
    * ([[diversityView]] over the wide plain state — the measured fix
    * for the reference-faithful plain prune's clustered-corpus clique
    * trap, SCALING_SF10.md §7.5–7.6). The faithful plain-top-m form
    * survives as [[hnswEdgesPlain]] (declared `hnsw_edges_plain`). */
  def hnswEdges(s: SparkSession, d: String, m: Int = 16): DataFrame =
    approxFinalRank(diversityView(s, d, hnswEdgesWide(s, d, m), m))

  /** The wide (top-DiversityWiden·m) plain edge STATE of the exact
    * build — the stored/maintained form every incremental operator
    * folds into (see [[DiversityWiden]] for why the state stays plain
    * and wide while the declared view is diversity-selected). */
  private[operators] def hnswEdgesWide(s: SparkSession, d: String, m: Int = 16): DataFrame = {
    val nodes = levelNodes(s, d)
    val wm = DiversityWiden * m
    pruneLevelEdges(levelEdgePartials(s, nodes, nodes, wm, MaxLevel, EdgeBlocks), wm)
      .select(col("level"), col("src"), col("dst"), col("dist"))
  }

  /** Reference-semantics variant: the plain top-m-by-(dist, id) prune of
    * `shrinkConnections` (`src/hnsw.zig:143-170`), exactly as shipped
    * through round 13 — kept as a declared, gate-checked query because
    * it IS the reference's behavior, including the measured defect the
    * declared [[hnswEdges]] now corrects (plain pruning closes clustered
    * corpora into cliques; recall 0.39 at 100× — SCALING_SF10.md §7.5). */
  def hnswEdgesPlain(s: SparkSession, d: String, m: Int = 16): DataFrame = {
    val nodes = levelNodes(s, d)
    pruneLevelEdges(levelEdgePartials(s, nodes, nodes, m, MaxLevel, EdgeBlocks), m)
      .orderBy(col("level"), col("src"), col("rnk"))
  }

  /** APPROXIMATE all-level index build — the `ef_construction`-shaped
    * quality-parameterized build path the reference stores a knob for
    * but never uses (`src/hnsw.zig:49,59` keeps `ef_construction` dead
    * — SURVEY §2.2.1). [[hnswEdges]] is an EXACT m-NN graph via the
    * block self-join — O(n²/blocks), the one lifecycle stage that
    * cannot survive a 100× corpus. This variant builds the same
    * (level, src, dst, dist, rnk) table from LSH candidate buckets
    * instead: a node's neighbor list is the top-m of the candidates
    * that share ≥1 (projection, bucket±probe) key with it — the
    * banded-equi-join machinery of [[neardupLsh]] pointed at graph
    * construction, so the shuffle is candidate-pair-sized and the
    * quadratic block scan disappears entirely.
    *
    * Quality knobs (the ef_construction analog): more projections,
    * wider buckets, or more multiprobe offsets → more candidates →
    * higher edge recall, linearly more work — never O(n²). At the
    * defaults, edge recall vs the exact [[hnswEdges]] is ≥0.95 at both
    * tested scales (pinned in AnnSpec). On this near-uniform synthetic
    * fixture the buckets are dense, so candidate counts sit near n²;
    * on clustered real corpora the same construction prunes
    * aggressively — the structural claim (no all-pairs stage, shuffle
    * bounded by actual collisions) is what scales, and the knobs trade
    * recall for collision volume explicitly.
    *
    * Everything is deterministic (md5-derived projections, integer
    * bucket ids), so the DuckDB oracle rebuilds the identical
    * candidate set and the gate hash-compares the full output.
    *
    * `cap` bounds BUCKET MEMBERSHIP (first `cap` nodes per (proj,
    * bucket) in vec_id order — deterministic, oracle-mirrored): a
    * degenerate bucket that swallows a constant fraction of the corpus
    * would otherwise regrow the quadratic candidate set inside one
    * key. With the cap, per-bucket pairs are ≤ cap²·(2·probe+1) no
    * matter how skewed the data — the sf1 scale run surfaced exactly
    * this (near-dup replica clusters densified the buckets). Capped
    * nodes keep their OWN neighbor lists via the projections where
    * they fall in sparser buckets — edge recall stays pinned in
    * AnnSpec. The candidate multiset itself never shuffles: see the
    * in-body comment on [[graft.functions.expressions.TopMEdges]]. */
  /** keyDims target — the weighted collider budget that picks how many
    * adjacent projections compose one bucket KEY. keyDims is the
    * smallest k whose MEASURED per-key collider mass Σ occ² (over the
    * uncapped bucket table, all nProj rotated composite keys) is
    * ≤ target · n · nProj — i.e. a mean vector meets ≤ `target`
    * candidates per projection key. 2048 = 2 × the membership cap:
    * at that mass the cap truncates only the densest tail instead of
    * evicting systematically, and it is the PROVEN-quality band — the
    * sf10/100× point shipped at a measured 1,803 colliders/vec
    * (k = 2) with sampled edge recall 0.9972.
    *
    * Measured, not count-derived: round 9 replaced a count ladder
    * (rung k per 46× of corpus) after the 2M-vector rung-3 fixture
    * showed the per-dimension division factor is a DATA property —
    * ~10.4 on the uniform-envelope fixtures (46 was a distinct-bucket
    * count, not an occupancy divisor), so the count ladder's rungs
    * ended with 4.4× more colliders each and diverged at scale; the
    * measured rule lands every gated fixture on the same k the ladder
    * chose (sf0.01…sf1 → 1, kd2/sf10 → 2, sf100 → 3) and adapts to
    * any distribution. One count-only aggregation over the n·nProj
    * bucket rows per k tried (k is final-k small); integer-exact on
    * both engines (the oracle sums the identical GROUP BY counts —
    * DECIMAL here, HUGEINT there, compared against the same
    * target·n·nProj bound). The oracle models k ≤ 2 and fails LOUDLY
    * (error()) when the measured mass needs k ≥ 3 — no oracle-gated
    * fixture is within 10× of that scale. */
  private[graft] val KeyDimsColliderTarget = 2048L

  /** Corpus-row ceiling for the build's broadcast vector fetch
    * (~2.2 GB of 64-dim f32 payload at the ceiling). The build's
    * candidate streams shuffle SLIM (ids + bucket keys only) and
    * re-attach the embedding payload map-side from one broadcast of
    * the corpus — at rung 3 the probe explode is 27× per bucket row,
    * and carrying the 256 B vector through it (the original shape)
    * wrote ~130 GB of exchange at the 2M-vector fixture vs ~10 GB
    * slim, filling the single-node disk. Past the ceiling the fetch
    * degrades to a plain shuffle join: the pair stream still moves
    * id-only rows, and aggregate shuffle capacity is the resource
    * that actually scales with a cluster. (The next rung, if a
    * ≥10⁹-vector corpus ever needs the broadcast back, is a
    * bucket-co-partitioned fetch — the
    * [[graft.operators.Similarity.semanticCells]] treatment.) */
  private[graft] val BroadcastFetchMaxRows = 8388608L

  /** The measured keyDims rule (see [[KeyDimsColliderTarget]]): the
    * smallest key width k whose collider mass Σ occ² over the uncapped
    * n·nProj bucket table is ≤ target·n·nProj, bounded by nProj. One
    * count-only aggregation per k tried, over a cached slim frame of
    * the nProj raw per-projection buckets (composite keys are
    * rotations of the SAME nProj raw values, so the corpus-scale dot
    * products run once, not once per k). DECIMAL sum — a degenerate
    * 10⁹-row corpus in one bucket would overflow Σ occ² in BIGINT. */
  private[graft] def measuredKeyDims(e: DataFrame, cnt: Long, nProj: Int,
      w: Double): Int = {
    if (cnt <= 1L) return 1
    val raw = e.select((0 until nProj).map(p =>
        floor(dot(col("embedding"), typedLit(projVector(p))) / w)
          .cast("long").as(s"rb$p")): _*)
      .cache()
    try {
      val bound = BigDecimal(KeyDimsColliderTarget) * cnt * nProj
      var k = 1
      var found = false
      while (!found && k < nProj) {
        val keys = (0 until nProj).map { p =>
          struct((lit(p).as("proj_id") +:
            (0 until k).map(j => col(s"rb${(p + j) % nProj}").as(s"b$j"))): _*)
        }
        val mass = raw.select(explode(array(keys: _*)).as("key"))
          .groupBy(col("key")).agg(count(lit(1)).as("c"))
          .agg(sum(col("c").cast("decimal(38,0)") * col("c")).as("mass"))
          .head.getDecimal(0)
        if (mass == null || BigDecimal(mass) <= bound) found = true
        else k += 1
      }
      k
    } finally raw.unpersist(false)
  }

  /** Map-side hash budget for the build's TopMEdges reduction: how
    * many DISTINCT (level, src) buffers one task may hold before
    * ObjectHashAggregate falls back to sort-based aggregation. Round
    * 7 raised the 128-key default to a constant 4,194,304 so map
    * tasks actually hash; the 2M-vector fixture then found the
    * constant's other edge. The BUCKET stage is safe at any corpus —
    * its candidates come from a vec_id-partitioned slice, so a task
    * meets ~n/tasks src keys — but an NND round's co-neighbor stream
    * is NOT src-partitioned (src is a neighbor's dst), so every task
    * can meet every (level, src) key: ~4M buffers × ~450 B × 32
    * tasks ≈ 58 GB, and a constant threshold sitting JUST above the
    * key count kept every task hashing into heap death (observed:
    * java.lang.OutOfMemoryError at -Xmx48g in the round-1 NND stage,
    * 4h into the 2M-vector build). The threshold is therefore the
    * per-task heap share instead: ~40% of heap/parallelism at
    * ~512 B/buffer, capped at the old 4M, floored well above the
    * 128 default. Past the budget, tasks fall back to SORT-BASED
    * aggregation — the same reduction, externally sorted and
    * spillable, slower but alive; results are identical either path,
    * so the gate hashes cannot move. (local-mode heap == executor
    * heap; on a separated cluster this reads the driver's JVM as a
    * proxy — conservative when executors are larger.) */
  private[graft] def topMFallbackThreshold(heapBytes: Long,
      parallelism: Int): Long = {
    val perTask = heapBytes / math.max(1, parallelism)
    math.min(4194304L, math.max(131072L, perTask * 2 / 5 / 512))
  }

  /** Floor for the build's MEASURED true-neighbor capture (and for the
    * escalated refinement's sampled recall). The rung-3 measurement
    * (SCALING_SF10.md §5) showed the collider-mass budget alone is
    * blind to quality: at the 2M-vector point the mass-chosen key
    * width had on-budget candidate mass (1,817/vec — same as sf10's
    * healthy 1,803) yet captured only 32% of true neighbor pairs,
    * and shipped a 0.19-recall index with no signal. The build now
    * measures capture on a stride-sampled exact ground truth and,
    * below this floor, keeps running NN-descent rounds until the
    * SAME sample's recall reaches the floor, stalls, or hits
    * [[MaxNndRounds]]. Every gated fixture measures ≥ 0.99 (sf1
    * 0.9947, kd2 0.9990, sf10 1.0000 — KeyCaptureDiagnostic), so
    * gated builds never escalate and stay bit-identical; the oracle
    * computes the same capture in SQL and error()s where the engine
    * would escalate. */
  private[graft] val CaptureFloor = 0.90

  /** Hard cap on total NN-descent rounds when the capture guard
    * escalates — bounds build cost on a corpus whose geometry defeats
    * the bucket family outright (each round is O(n·(2m)²) candidates,
    * the same order as the bucket stage). */
  private[graft] val MaxNndRounds = 10

  /** Minimum per-round sampled-recall gain to keep escalating:
    * NN-descent that has stopped moving will not start again (its
    * candidate proposals are a function of the current graph), so a
    * stalled loop burns rounds for nothing. */
  private[graft] val MinNndGain = 0.01

  /** Ceiling on the number of disjoint scored-probe keys the
    * low-contrast seed path may compose. Each key is a near-
    * independent capture chance (capture composes toward
    * 1 − (1 − c1)^nKeys) and mass grows LINEARLY in the key count —
    * the one knob without a geometric blow-up. The ceiling bounds
    * build mass: 64 keys × (measured per-key mass ≲ 1k) ≈ 64k
    * candidates per query, ~4× the grid budget — the measured price
    * of holding recall on geometry that defeats every cheaper
    * family. */
  private[graft] val MaxScoredKeys = 64

  /** The (k, w, T) cells the scored-seed chooser measures, cheapest
    * first. All sit in the region the round-9/10 sweeps showed can
    * hold capture on low-contrast geometry (k ≥ 6, w ≥ 0.4) — below
    * it capture-per-key is too weak for any affordable key count;
    * the chooser picks by MEASURED per-key after-cap capture, so the
    * ladder only sets what gets measured. T = 16 is the knee of every
    * measured probe curve; T = 32 variants trade 2× per-key mass for
    * reach into the harder pair tail. */
  private[graft] val ScoredKWLadder: Seq[(Int, Double, Int)] =
    Seq((6, 0.4, 16), (6, 0.5, 16), (6, 0.5, 32),
      (8, 0.5, 16), (8, 0.6, 16), (8, 0.6, 32))

  /** The measured scored-seed configuration choice for a corpus whose
    * grid capture fell below [[CaptureFloor]] (the rung-3 failure
    * mode). Two measured stages, every knob derived from the guarded
    * quantity itself:
    *
    *  1. PER-KEY: for each ladder cell, measure the per-key AFTER-CAP
    *     capture c1 on the sampled exact pairs (2 disjoint probe keys
    *     → c1 = 1 − √(1 − c2)) and the per-key capped mass; project
    *     the key count that composes to the floor under independence
    *     and pick the cell with the least projected total mass.
    *  2. VERIFY-ITERATE: per-pair capture probabilities CORRELATE
    *     across keys (a pair far in many projections is hard for
    *     every key — measured on sp30k: 22 keys predicted 0.90
    *     independent, delivered 0.85), so the composed capture is
    *     MEASURED at the projected count and the count re-derived
    *     from the measured effective per-key rate, up to 3 rounds,
    *     until the floor is met, growth stops, or [[MaxScoredKeys]]
    *     caps it. Below-floor exits are LOUD; the NND escalation
    *     guard still measures the end state either way. */
  /** Default per-query seed-mass ceiling for the scored path: 2× the
    * grid budget (KeyDimsColliderTarget · 8 rotated keys). Candidate
    * mass IS build time (mass · n scored pairs through the map-side
    * TopM reduction), so the ceiling is the conscious price bound for
    * low-contrast geometry — and an OPERATOR KNOB: the measured
    * recall-vs-ceiling law on uniform spread data (SCALING_SF10.md
    * §6.5: floor at 8.5k/query @ 30k rows, needs ~46k @ 200k, ~237k
    * @ 2M) means a cluster operator who wants the floor at a given
    * scale raises the ceiling and pays linearly. */
  private[graft] val DefaultScoredMassCeiling: Long =
    2L * KeyDimsColliderTarget * 8

  /** The approximate build's default knobs, named so tooling that
    * re-runs the build's decision stages (ChooserReport) measures the
    * SAME configuration the build ships — a retune of
    * [[hnswEdgesApprox]]'s signature cannot silently diverge from the
    * committed decision-trail records. */
  private[graft] val DefaultNProj = 8
  private[graft] val DefaultKeyW = 0.1
  private[graft] val DefaultProbe = 1
  private[graft] val DefaultCap = 1024

  private[graft] def chooseScoredConfig(e: DataFrame, exactPairs: DataFrame,
      cap: Int, stride: Long,
      massCeilingPerQuery: Long = DefaultScoredMassCeiling): (Seq[Seq[Int]], Double, Int) = {
    // a corpus where the floor costs more than the ceiling gets the
    // best capture the ceiling buys plus a LOUD warning and the
    // guard's measured end state — never a silent day-long build
    val massCeiling = massCeilingPerQuery.toDouble
    def neededKeys(c1: Double): Int =
      if (c1 <= 0.005) Int.MaxValue
      else math.ceil(math.log(1.0 - CaptureFloor) / math.log(1.0 - c1)).toInt
    val measured = ScoredKWLadder.map { case (k, w, t) =>
      val probeKeys = disjointKeys(2, k)
      val c2 = scoredCaptureAfterCap(e, exactPairs, probeKeys, w, t, cap)
      val c1 = 1.0 - math.sqrt(math.max(0.0, 1.0 - c2))
      val m1 = math.max(1.0, scoredProbeMass(e, probeKeys, w, t, cap, stride) / 2.0)
      val nk = neededKeys(c1)
      System.err.println(f"[scored-choose] k=$k w=$w T=$t " +
        f"c1_after_cap=$c1%.4f per_key_mass=$m1%.1f nKeys_projected=$nk")
      (k, w, t, c1, m1, nk)
    }
    def keyBudget(m1: Double): Int =
      math.max(1, math.min(MaxScoredKeys, (massCeiling / m1).toInt))
    val feasible = measured.filter { case (_, _, _, _, m1, nk) =>
      nk <= keyBudget(m1)
    }
    val (k, w, t, c1, m1, nk0) =
      if (feasible.nonEmpty)
        feasible.minBy { case (_, _, _, _, m1, nk) => m1 * nk }
      else
        // nothing reaches the floor inside the ceiling: take the cell
        // with the best capture composable WITHIN its key budget
        measured.maxBy { case (_, _, _, c1, m1, _) =>
          1.0 - math.pow(1.0 - c1, keyBudget(m1))
        } match {
          case (k, w, t, c1, m1, _) => (k, w, t, c1, m1, keyBudget(m1))
        }
    val nCap = keyBudget(m1)
    var nKeys = math.min(nCap, math.max(4, nk0))
    var cMeasured = 0.0
    var lastMeasuredKeys = -1
    var iter = 0
    var done = false
    while (!done && iter < 3) {
      cMeasured = scoredCaptureAfterCap(e, exactPairs,
        disjointKeys(nKeys, k), w, t, cap)
      lastMeasuredKeys = nKeys
      System.err.println(f"[scored-choose] verify nKeys=$nKeys k=$k w=$w " +
        f"T=$t measured_capture=$cMeasured%.4f floor=$CaptureFloor " +
        f"mass_ceiling_keys=$nCap")
      if (cMeasured >= CaptureFloor || nKeys >= nCap) done = true
      else {
        val c1eff = 1.0 - math.pow(1.0 - math.min(cMeasured, 0.999999), 1.0 / nKeys)
        val next = math.min(nCap, math.max(nKeys + 2, neededKeys(c1eff)))
        if (next <= nKeys) done = true else nKeys = next
      }
      iter += 1
    }
    // the loop can exit having GROWN nKeys past its last measurement
    // (iteration budget); the contract is that the SHIPPED key count's
    // capture was measured, so measure once more in that case
    if (nKeys != lastMeasuredKeys) {
      cMeasured = scoredCaptureAfterCap(e, exactPairs,
        disjointKeys(nKeys, k), w, t, cap)
      System.err.println(f"[scored-choose] verify nKeys=$nKeys k=$k w=$w " +
        f"T=$t measured_capture=$cMeasured%.4f floor=$CaptureFloor (final)")
    }
    if (cMeasured < CaptureFloor)
      System.err.println(f"[scored-choose] WARNING: measured capture " +
        f"$cMeasured%.4f below floor at the $nKeys-key budget " +
        f"(ceiling ${massCeiling.toLong} candidates/query) — NND escalation " +
        f"carries the residual; end recall is measured by the guard")
    System.err.println(f"[scored-choose] chosen k=$k w=$w T=$t nKeys=$nKeys " +
      f"measured_capture=$cMeasured%.4f est_mass=${(m1 * nKeys).toLong}")
    (disjointKeys(nKeys, k), w, t)
  }

  /** Test/tooling observation surface: diagnostics of the most recent
    * [[hnswEdgesApprox]] build in this JVM — the measured capture,
    * total NN-descent rounds run, and (when the guard escalated) the
    * final sampled level-0 recall. Written once per build; never read
    * by the build itself. */
  @volatile private[graft] var lastBuildDiag: Option[BuildDiag] = None
  private[graft] final case class BuildDiag(capture: Double, rounds: Int,
      sampledRecall: Option[Double])

  /** The stride of the build's capture/recall sample: ≤ ~2048 sources,
    * integer-exact on both engines (`greatest(1, n // 2048)`). */
  private[graft] def captureSampleStride(cnt: Long): Long =
    math.max(1L, cnt / 2048L)

  /** Stride-sampled exact top-`m` ground truth at the build's derived
    * stride ([[captureSampleStride]]). See [[sampledExactPairsAt]]. */
  private[graft] def sampledExactPairs(e: DataFrame, cnt: Long,
      m: Int): DataFrame =
    sampledExactPairsAt(e, captureSampleStride(cnt), m)

  /** Session-scoped memo of the sampled-exact ground-truth stage, keyed
    * by (session, corpus content fingerprint, stride, m) — the
    * [[upperGraph]]/ensure* treatment applied to the measurement stage
    * the capture guard, `index_stats`, and repeated builds all share
    * (measured 3.3 s at sf1 inside `index_stats` alone; a session that
    * builds then reports was paying it twice).
    *
    * Entries are CACHE-OWNED: callers must NOT [[freeBuildState]] them.
    * External freeing is legal and detected — Bench unpersists every
    * persistent RDD between queries, which truncates a localCheckpoint
    * irrecoverably — via the checkpointed RDD's storage level; a dead
    * entry is rebuilt, never served. Bounded at [[MaxExactPairsEntries]]
    * (each entry is ≤ ~2048·m rows — sample-sized, not corpus-sized). */
  private val exactPairsCache =
    new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()
  private[graft] val MaxExactPairsEntries = 8

  private def checkpointLive(df: DataFrame): Boolean =
    df.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.getStorageLevel != org.apache.spark.storage.StorageLevel.NONE
      case _ => false
    }

  private[graft] def sampledExactPairsCached(s: SparkSession, d: String,
      e: DataFrame, stride: Long, m: Int): DataFrame = {
    val key = s"${System.identityHashCode(s)}|" +
      BuildStore.key(d, "exactpairs", s"s$stride", s"m$m")
    val hit = exactPairsCache.get(key)
    if (hit != null && checkpointLive(hit)) hit
    else {
      val fresh = sampledExactPairsAt(e, stride, m)
      if (exactPairsCache.size >= MaxExactPairsEntries) {
        // drop externally-freed entries first; if genuinely full, free
        // and drop everything — correctness never depends on a hit
        exactPairsCache.entrySet().removeIf(
          (en: java.util.Map.Entry[String, DataFrame]) =>
            !checkpointLive(en.getValue))
        if (exactPairsCache.size >= MaxExactPairsEntries) {
          // evict WITHOUT explicit freeing: a concurrent (or outer)
          // build may still hold and re-join an entry, and freeing a
          // localCheckpoint under a holder truncates it irrecoverably
          // (this file's own contract). Entries are sample-sized
          // (≤ ~2048·m rows), so deferring reclamation to the
          // ContextCleaner once the last holder drops its reference
          // is bounded-small — correctness never depends on a hit.
          exactPairsCache.clear()
        }
      }
      exactPairsCache.put(key, fresh)
      fresh
    }
  }

  /** Stride-sampled exact top-`m` ground truth: one broadcast of the
    * sample against a single corpus scan, reduced map-side by the
    * build's own bounded heap ([[TopMEdges]], (dist, id) ties) —
    * THE exact stage, shared by the build's capture guard,
    * `index_stats`, and the recall tools (EdgeRecallSampled,
    * KeyCaptureDiagnostic, ScoredProbeDiagnostic), so its load-bearing
    * shape — tie order, the scoped ObjectHashAggregate fallback raise
    * (the 128-key default would silently demote the typed aggregate
    * to a sort of the whole |S|·n candidate stream), the spread
    * repartition against big parquet row-groups — lives in exactly
    * one place. Returns the (src, dst, dist) pair table, eagerly
    * checkpointed (≤ |S|·m rows); the conf raise is restored before
    * returning. */
  private[graft] def sampledExactPairsAt(e: DataFrame, stride: Long,
      m: Int): DataFrame = {
    val s = e.sparkSession
    SessionConf.scoped(s, SessionConf.FallbackThreshold -> "65536") {
      val sample = e.filter(col("vec_id") % stride === 0)
        .select(col("vec_id").as("qsrc"), col("embedding").as("sv"))
      val top = SqlBridge.column(TopMEdges(
        SqlBridge.expression(col("dst")), SqlBridge.expression(col("dist")), m)
        .toAggregateExpression())
      e.select(col("vec_id"), col("embedding"))
        .repartition(s.sparkContext.defaultParallelism)
        .crossJoin(broadcast(sample))
        .filter(col("vec_id") =!= col("qsrc"))
        .select(col("qsrc").as("src"), col("vec_id").as("dst"),
          squaredL2(col("embedding"), col("sv")).as("dist"))
        .groupBy(col("src")).agg(top.as("top"))
        .select(col("src"), explode(col("top")).as("te"))
        .select(col("src"), col("te.dst").as("dst"), col("te.dist").as("dist"))
        .localCheckpoint(true)
    }
  }

  /** The measured capture of key configuration (keyDims, w, probe) on
    * a sampled exact pair table: the fraction of true (src, dst)
    * pairs whose per-projection bucket deltas are ≤ probe on ALL
    * keyDims components of ≥ 1 of the nProj rotated keys — i.e. the
    * fraction the bucket join can possibly seed, before the
    * membership cap. Buckets are computed for the involved ids only
    * (≤ |S|·(m+1) rows); empty-pair corpora measure 1.0. */
  private[graft] def measuredCapture(e: DataFrame, exactPairs: DataFrame,
      keyDims: Int, nProj: Int, w: Double, probe: Int): Double = {
    val inv = exactPairs.select(col("src").as("vec_id"))
      .union(exactPairs.select(col("dst").as("vec_id"))).distinct()
    val rawB = e.join(broadcast(inv), "vec_id")
      .select(col("vec_id") +: (0 until nProj).map(p =>
        floor(dot(col("embedding"), typedLit(projVector(p))) / w)
          .cast("long").as(s"rb$p")): _*)
    val collide = (0 until nProj).map { p =>
      (0 until keyDims).map { j =>
        val c = s"rb${(p + j) % nProj}"
        abs(col(s"l.$c") - col(s"r.$c")) <= probe
      }.reduce(_ && _)
    }.reduce(_ || _)
    exactPairs
      .join(broadcast(rawB.as("l")), col("src") === col("l.vec_id"))
      .join(broadcast(rawB.as("r")), col("dst") === col("r.vec_id"))
      .agg(coalesce(avg(when(collide, 1.0).otherwise(0.0)), lit(1.0)))
      .head.getDouble(0)
  }

  // ---- scored multiprobe (Lv et al. 2007, "Multi-Probe LSH") ----
  //
  // Grid multiprobe explodes every key to (2·probe+1)^keyDims
  // neighbor buckets — affordable at keyDims ≤ 3, ruinous at the
  // wide keys a LOW-CONTRAST corpus needs (the round-9 sf100
  // measurement, SCALING_SF10.md §5: no (k ≤ 4, w ≤ 0.4) cell holds
  // both capture and candidate mass; the cells that could, k ≥ 6,
  // would cost 3^k ≥ 729 grid probes). Scored multiprobe caps that
  // at T probes per key, ranked by Lv's expected-distance score:
  // for rotated key p over k components, bucket b_j = floor(raw_j),
  // frac f_j = raw_j − b_j, closer-boundary distance
  // x_j = min(f_j, 1 − f_j), direction d_j = −1 if f_j < 0.5 else +1.
  // A probe is a bitmask t over components — probing component j
  // moves b_j by d_j — with score Σ_{j∈t} x_j², the squared distance
  // (bucket units) from the query to the region the probe targets.
  // The direction is restricted to the CLOSER side per component:
  // the farther side both costs more under the score and is the less
  // likely side for a true neighbor given the query's in-bucket
  // position; a pair straddling the farther side of one endpoint is
  // usually the CLOSER side of the other, and capture tests/joins
  // run from both endpoints. All 2^k subsets are scored per row with
  // one HOF transform over a LITERAL bitmask array (the x2/b/d
  // inputs are materialized as columns first, so the per-element
  // lambda is k adds — never a re-evaluated dot product), sorted,
  // and cut to the top T. Deterministic end to end: scores are pure
  // column math off the md5-derived projections, ties break on the
  // bitmask value inside the sorted (score, t) struct.

  /** Key LAYOUTS — which raw projections compose each bucket key.
    * `rotatedKeys` is the grid path's layout (key p = projections
    * p, p+1, …, p+k−1 mod nProj): cheap (nProj dot products total)
    * but heavily CORRELATED — adjacent keys share k−1 of k
    * components, so the OR over nProj keys behaves like ~1–2
    * independent chances, not nProj. `disjointKeys` gives each key
    * its own k projections (nKeys·k raws): nKeys genuinely
    * independent capture chances per pair side — the difference is
    * decisive at wide keys (measured on the sf100 spread corpus,
    * SCALING_SF10.md §6). */
  private[graft] def rotatedKeys(nProj: Int, k: Int): Seq[Seq[Int]] =
    (0 until nProj).map(p => (0 until k).map(j => (p + j) % nProj))
  private[graft] def disjointKeys(nKeys: Int, k: Int): Seq[Seq[Int]] =
    (0 until nKeys).map(p => (0 until k).map(j => p * k + j))

  /** Per-node scored-probe working columns for bucket width w and a
    * key layout touching raw projections 0 until nRaw: vec_id, `keep`
    * pass-throughs, and per raw projection q the bucket `b\$q` (long),
    * closer direction `d\$q` (long), and closer-boundary distance
    * `x\$q` (double, bucket units, ∈ [0, ½]). One projection layer —
    * every downstream subset/probe expression references these as
    * plain columns, computed once per row. */
  private def scoredBaseCols(df: DataFrame, keep: Seq[String],
      nRaw: Int, w: Double): DataFrame = {
    val raws = df.select((col("vec_id") +: keep.map(col)) ++
      (0 until nRaw).map(q =>
        (dot(col("embedding"), typedLit(projVector(q))) / w).as(s"raw$q")): _*)
    raws.select((col("vec_id") +: keep.map(col)) ++
      (0 until nRaw).flatMap { q =>
        val r = col(s"raw$q")
        val f = r - floor(r)
        Seq(floor(r).cast("long").as(s"b$q"),
          when(f < 0.5, lit(-1L)).otherwise(lit(1L)).as(s"d$q"),
          least(f, lit(1.0) - f).as(s"x$q"))
      }: _*)
  }

  private def nRawOf(keys: Seq[Seq[Int]]): Int = keys.flatten.max + 1

  /** Digit of probe code t for component j: base-(dirs+1), so
    * one-direction codes are bitmasks and two-direction codes are
    * trit vectors. Digit 0 = home, 1 = closer side (move by d_j,
    * cost x_j²), 2 = farther side (move by −d_j, cost (1−x_j)²). */
  private def probeDigit(t: Column, j: Int, dirs: Int): Column = {
    val base = dirs + 1
    var div = 1; var i = 0
    while (i < j) { div *= base; i += 1 }
    (t / lit(div)).cast("int") % lit(base)
  }

  private[graft] def probeCodeCount(k: Int, dirs: Int): Int = {
    val base = dirs + 1
    var n = 1; var i = 0
    while (i < k) { n *= base; i += 1 }
    n
  }

  /** The sorted (score, t) probe-code array for the key over raw
    * projections `key`: all (dirs+1)^k codes ranked ascending by Lv
    * score (home bucket t = 0, score 0, always first). References the
    * `x\$q` columns of [[scoredBaseCols]]. */
  private def sortedSubsets(key: Seq[Int], dirs: Int): Column = {
    val masks = typedLit((0 until probeCodeCount(key.size, dirs)).toList)
    array_sort(transform(masks, t => struct(
      key.zipWithIndex.map { case (q, j) =>
        val x = col(s"x$q")
        val dg = probeDigit(t, j, dirs)
        when(dg === 1, x * x)
          .when(dg === 2, (lit(1.0) - x) * (lit(1.0) - x))
          .otherwise(lit(0.0))
      }.reduce(_ + _).as("s"),
      t.as("t"))))
  }

  /** Slim probe rows for the scored bucket join: per node and key p,
    * the top-T probe keys — (vec_id, `keep`..., proj_id, bucket,
    * bucket2, …). keys.size·T rows per node, no embedding payload. */
  private[graft] def scoredProbeRows(df: DataFrame, keep: Seq[String],
      keys: Seq[Seq[Int]], w: Double, T: Int, dirs: Int = 1): DataFrame = {
    val k = keys.head.size
    val base = scoredBaseCols(df, keep, nRawOf(keys), w)
    val probeArrs = keys.zipWithIndex.map { case (key, p) =>
      transform(slice(sortedSubsets(key, dirs), 1, T), st =>
        struct((lit(p).as("proj_id") +: key.zipWithIndex.map { case (q, j) =>
          val dg = probeDigit(st.getField("t"), j, dirs)
          (col(s"b$q") + when(dg === 1, col(s"d$q"))
            .when(dg === 2, col(s"d$q") * -1L)
            .otherwise(lit(0L))).as(s"b$j")
        }): _*))
    }
    base.select((col("vec_id") +: keep.map(col)) :+
        explode(flatten(array(probeArrs: _*))).as("pk"): _*)
      .select((col("vec_id") +: keep.map(col)) ++
        (col("pk.proj_id").as("proj_id") +:
          (0 until k).map(j => col(s"pk.b$j").as(scoredBucketCol(j)))): _*)
  }

  /** Home-bucket key rows (the occupant side of the scored join and
    * the occupancy table): per node and key p, the exact floor
    * buckets — (vec_id, `keep`..., proj_id, bucket, bucket2, …). */
  private[graft] def scoredExactKeyRows(df: DataFrame, keep: Seq[String],
      keys: Seq[Seq[Int]], w: Double): DataFrame = {
    val k = keys.head.size
    val base = scoredBaseCols(df, keep, nRawOf(keys), w)
    val keyArr = array(keys.zipWithIndex.map { case (key, p) =>
      struct((lit(p).as("proj_id") +: key.zipWithIndex.map { case (q, j) =>
        col(s"b$q").as(s"b$j")
      }): _*)
    }: _*)
    base.select((col("vec_id") +: keep.map(col)) :+ explode(keyArr).as("pk"): _*)
      .select((col("vec_id") +: keep.map(col)) ++
        (col("pk.proj_id").as("proj_id") +:
          (0 until k).map(j => col(s"pk.b$j").as(scoredBucketCol(j)))): _*)
  }

  private[graft] def scoredBucketCol(j: Int): String =
    if (j == 0) "bucket" else s"bucket${j + 1}"

  /** Measured capture of scored multiprobe on a sampled exact pair
    * table, as a curve over probe counts `Ts`: for each true
    * (src, dst) pair, the minimum rank (1-based position in the
    * sorted subset sequence) at which EITHER endpoint's probe
    * sequence reaches the other's home bucket on ANY rotated key;
    * capture at T = fraction of pairs with min rank ≤ T. Sample-sized
    * work only (involved ids ≤ |S|·(m+1)). */
  private[graft] def scoredCaptureCurve(e: DataFrame, exactPairs: DataFrame,
      keys: Seq[Seq[Int]], w: Double, Ts: Seq[Int],
      dirs: Int = 1): Seq[Double] = {
    val nRaw = nRawOf(keys)
    val inv = exactPairs.select(col("src").as("vec_id"))
      .union(exactPairs.select(col("dst").as("vec_id"))).distinct()
    val base = scoredBaseCols(e.join(broadcast(inv), "vec_id"), Nil, nRaw, w)
    val nf = base.select((col("vec_id") +:
      (0 until nRaw).flatMap(q => Seq(col(s"b$q"), col(s"d$q")))) ++
      keys.indices.map(p =>
        transform(sortedSubsets(keys(p), dirs), st => st.getField("t"))
          .as(s"st$p")): _*)
    val lName = nf.columns.map(c => if (c == "vec_id") "src" else s"l_$c")
    val rName = nf.columns.map(c => if (c == "vec_id") "dst" else s"r_$c")
    val joined = exactPairs
      .join(broadcast(nf.toDF(lName.toIndexedSeq: _*)), "src")
      .join(broadcast(nf.toDF(rName.toIndexedSeq: _*)), "dst")
    val NoRank = Long.MaxValue
    val base_ = dirs + 1
    // probing FROM node n reaches the peer iff every component delta
    // is 0, d_n (digit 1), or — with dirs = 2 — −d_n (digit 2); the
    // reaching probe code's rank in n's sorted sequence is the T at
    // which the pair becomes captured from n's side.
    def rankFrom(pfx: String, p: Int, comps: Seq[(Column, Int)]): Column = {
      val digits = comps.zipWithIndex.map { case ((dlt, q), j) =>
        var place = 1; var i = 0
        while (i < j) { place *= base_; i += 1 }
        when(dlt === 0, lit(0))
          .when(dlt === col(s"${pfx}_d$q"), lit(place))
          .when(lit(dirs) === 2 && dlt === col(s"${pfx}_d$q") * -1,
            lit(2 * place))
          .otherwise(lit(-1))
      }
      val anyInvalid = digits.map(_ === -1).reduce(_ || _)
      val tStar = digits.reduce(_ + _)
      when(!anyInvalid, array_position(col(s"${pfx}_st$p"), tStar))
        .otherwise(lit(NoRank))
    }
    val ranks = keys.indices.flatMap { p =>
      val comps = keys(p).map { q =>
        (col(s"r_b$q") - col(s"l_b$q"), q)
      }
      val compsNeg = comps.map { case (dlt, q) => (dlt * -1, q) }
      // from L the delta to reach is b_R − b_L; from R it is b_L − b_R
      Seq(rankFrom("l", p, comps), rankFrom("r", p, compsNeg))
    }
    val minRank = ranks.reduce(least(_, _))
    val aggs = Ts.map(t =>
      coalesce(avg(when(minRank <= t, 1.0).otherwise(0.0)), lit(1.0)))
    val row = joined.agg(aggs.head, aggs.tail: _*).head
    Ts.indices.map(row.getDouble)
  }

  /** Measured AFTER-CAP capture of a scored-probe configuration: the
    * fraction of true pairs where some key's top-T probe sequence of
    * one endpoint reaches the other endpoint's home bucket AND the
    * reached endpoint SURVIVES the membership cap in that bucket (rank
    * by vec_id ≤ cap — the occupant-side truncation the join actually
    * applies). This is the quantity that predicted the grid path's
    * sf100 collapse (before-cap capture 0.68 → after-cap 0.018 at the
    * k=2 cell, KeyCaptureDiagnostic): dense cells keep their first
    * `cap` ids only, so a capture-healthy-but-saturated configuration
    * silently evicts the very neighbors it captured. One corpus-scale
    * window (slim id+key rows) + sample-sized joins. */
  private[graft] def scoredCaptureAfterCap(e: DataFrame, exactPairs: DataFrame,
      keys: Seq[Seq[Int]], w: Double, T: Int, cap: Int,
      dirs: Int = 1): Double = {
    val k = keys.head.size
    val keyCols = "proj_id" +: (0 until k).map(scoredBucketCol)
    val inv = exactPairs.select(col("src").as("vec_id"))
      .union(exactPairs.select(col("dst").as("vec_id"))).distinct()
    val wb = Window.partitionBy(keyCols.map(col): _*).orderBy(col("vec_id"))
    val kept = scoredExactKeyRows(e, Nil, keys, w)
      .withColumn("rn", row_number().over(wb)).filter(col("rn") <= cap)
      .drop("rn")
      .join(broadcast(inv), "vec_id")
      .localCheckpoint(true)
    val probes = scoredProbeRows(e.join(broadcast(inv), "vec_id"), Nil,
      keys, w, T, dirs).localCheckpoint(true)
    try {
      def oneSide(pairs: DataFrame): DataFrame = {
        val p = probes.toDF(probes.columns.map(c =>
          if (c == "vec_id") "src" else c).toIndexedSeq: _*)
        val c = kept.toDF(kept.columns.map(c =>
          if (c == "vec_id") "cdst" else s"c_$c").toIndexedSeq: _*)
        val keyEq = keyCols.map(kc => col(kc) === col(s"c_$kc")).reduce(_ && _)
        pairs.join(p, "src").join(c, keyEq && col("dst") === col("cdst"))
          .select(col("src"), col("dst")).distinct()
      }
      val swapped = exactPairs.select(col("dst").as("src"), col("src").as("dst"))
      val hit = oneSide(exactPairs)
        .unionByName(oneSide(swapped)
          .select(col("dst").as("src"), col("src").as("dst")))
        .distinct()
      val total = math.max(1L, exactPairs.count())
      exactPairs.join(hit, Seq("src", "dst"), "left_semi").count().toDouble / total
    } finally { freeBuildState(kept); freeBuildState(probes) }
  }

  /** Measured candidate mass of a scored-probe configuration: mean
    * candidates a query meets across its nProj·T probes, each probed
    * bucket contributing min(occupancy, cap) — the membership-capped
    * quantity the join actually generates. Occupancy is one
    * corpus-scale groupBy; the probe side is a stride sample. */
  private[graft] def scoredProbeMass(e: DataFrame, keys: Seq[Seq[Int]],
      w: Double, T: Int, cap: Int, stride: Long, dirs: Int = 1): Double = {
    val keyCols = "proj_id" +: (0 until keys.head.size).map(scoredBucketCol)
    val occ = scoredExactKeyRows(e, Nil, keys, w)
      .groupBy(keyCols.map(col): _*)
      .agg(least(count(lit(1)), lit(cap.toLong)).as("occ"))
    val sample = e.filter(col("vec_id") % stride === 0)
    val nSample = math.max(1L, sample.count())
    val probes = scoredProbeRows(sample, Nil, keys, w, T, dirs)
    val total = probes.join(occ, keyCols.toSeq)
      .agg(coalesce(sum(col("occ")), lit(0L))).head.getLong(0)
    total.toDouble / nSample
  }

  /** Scored-probe seed candidates — the low-contrast replacement for
    * the grid bucket join, same output shape (src, dst, dist, minl):
    * occupants answer for their home bucket (membership-capped, first
    * `cap` ids per cell — identical truncation to the grid path),
    * queries probe their top-T perturbation-ranked buckets per
    * disjoint key, and the join stays a slim equi-join on (proj_id,
    * bucket components) with payloads re-attached map-side via the
    * caller's `attach`. Candidate mass is keys.size · T · min(occ,
    * cap) per query — LINEAR in the measured key count, never a grid
    * explode. */
  private def scoredSeedCandidates(e: DataFrame, keys: Seq[Seq[Int]],
      w: Double, T: Int, cap: Int,
      attach: (DataFrame, String, String) => DataFrame): DataFrame = {
    val k = keys.head.size
    val keyCols = "proj_id" +: (0 until k).map(scoredBucketCol)
    val wb = Window.partitionBy(keyCols.map(col): _*).orderBy(col("vec_id"))
    // BOTH sides stay slim through their exchanges — the occupant
    // stream explodes keys.size (up to MaxScoredKeys = 64) rows per
    // node through the cap window's shuffle, and 64 copies of a 512 B
    // embedding per node is the exact fat-explode trap the grid path
    // measured at ~130 GB (its 27× probe case); payloads re-attach
    // map-side via `attach` after the join, like every other
    // candidate stream in this build.
    val occ = scoredExactKeyRows(e, Seq("level"), keys, w)
      .withColumn("rn", row_number().over(wb)).filter(col("rn") <= cap)
      .drop("rn")
    val probes = scoredProbeRows(e, Seq("level"), keys, w, T)
    val keyEq = keyCols.map(c => col(s"l.$c") === col(s"r.$c")).reduce(_ && _)
    val scoredPairs = attach(attach(
      occ.as("l").join(probes.as("r"),
          keyEq && col("l.vec_id") =!= col("r.vec_id"))
        .select(col("l.vec_id").as("src"), col("r.vec_id").as("dst"),
          least(col("l.level"), col("r.level"), lit(MaxLevel)).as("minl")),
      "src", "lv"), "dst", "rv")
      .select(col("src"), col("dst"),
        squaredL2(col("lv"), col("rv")).as("dist"), col("minl"))
    // SYMMETRIZE: closer-side probe sequences are one-directional —
    // pair (u, v) may be reachable only as "v probes u's home cell",
    // which yields the candidate (src=u, dst=v) and NOT its reverse
    // (grid multiprobe's ±probe windows are symmetric, so the grid
    // path never needed this). The capture measurements OR both
    // directions; without this the built edges hold only the reached
    // direction (measured on sp30k: either-side capture 0.906 vs
    // one-direction end recall 0.847). Emitted as a 2-element explode
    // of the SAME scored row — one plan of the expensive join, 2×
    // rows map-side, absorbed by the TopMEdges reduction; distance is
    // symmetric so no rescore.
    scoredPairs.select(explode(array(
        struct(col("src"), col("dst"), col("dist"), col("minl")),
        struct(col("dst").as("src"), col("src").as("dst"),
          col("dist"), col("minl")))).as("p"))
      .select(col("p.src").as("src"), col("p.dst").as("dst"),
        col("p.dist").as("dist"), col("p.minl").as("minl"))
  }

  def hnswEdgesApprox(s: SparkSession, d: String, m: Int = 16,
      nProj: Int = DefaultNProj, w: Double = DefaultKeyW,
      probe: Int = DefaultProbe,
      cap: Int = DefaultCap, refine: Int = 2,
      scoredMassCeiling: Long = DefaultScoredMassCeiling): DataFrame =
    hnswEdgesApproxWith(s, d, m, nProj, w, probe, cap, refine,
      scoredMassCeiling, wide => diversityView(s, d, wide, m))

  /** The approximate build's PLAIN top-m adjacency — the top-m slice
    * of the same wide state the declared [[hnswEdgesApprox]] diversity-
    * selects from. This is the k-NN-graph view: graph ANALYTICS
    * (centrality, coreset) are defined on nearest-neighbor adjacency,
    * where diversity pruning — a SERVING transform that trades nearest
    * edges for escape routes — would change the measured object, not
    * approximate it (KnnSpec's exact-vs-approx pagerank overlap reads
    * 0.10 across the two graph kinds vs ≥0.95 within the plain kind). */
  private[graft] def hnswEdgesApproxTopM(s: SparkSession, d: String,
      m: Int = 16): DataFrame = {
    val w = Window.partitionBy("level", "src").orderBy(col("dist"), col("dst"))
    hnswEdgesApproxWith(s, d, m, DefaultNProj, DefaultKeyW, DefaultProbe,
      DefaultCap, 2, DefaultScoredMassCeiling,
      wide => wide.withColumn("fr", row_number().over(w))
        .filter(col("fr") <= m).drop("fr"))
  }

  private def hnswEdgesApproxWith(s: SparkSession, d: String, m: Int,
      nProj: Int, w: Double, probe: Int, cap: Int, refine: Int,
      scoredMassCeiling: Long,
      view: DataFrame => DataFrame): DataFrame = {
    // TopMEdges plans as ObjectHashAggregate, whose sort-based
    // fallback triggers after 128 DISTINCT KEYS per task (a default
    // tuned for sketch-sized buffers like percentile_approx) — this
    // build has ~n×levels keys per map task, so at the default every
    // task abandoned hashing immediately and externally SORTED its
    // whole candidate-multiset slice (measured 2.2× the build at sf1:
    // 30 s → 13.5 s steady-state). A TopMEdges buffer is a bounded
    // m-entry heap (~300 B at m=16), so holding every key's buffer is
    // ~n×levels×300B ≈ 60 MB per task at sf1 — raise the threshold so
    // the map-side reduction actually runs as a hash aggregate. The
    // raise is memory-DERIVED, not a constant ([[topMFallbackThreshold]]):
    // the 2M-vector fixture found the constant's other edge — see
    // that method's doc for the stage-85 heap death it replaces.
    // ObjectHashAggregateExec reads the threshold from the ACTIVE
    // session conf inside doExecute (verified against the Spark 4.1.2
    // bytecode), so a lazily-returned plan cannot scope it: the build
    // MATERIALIZES EAGERLY here (one localCheckpoint of the
    // output-sized edge table — the NND rounds already checkpoint
    // tables of the same size) inside [[approxBuildConf]]'s scope,
    // which also turns AQE off; the scope restores both keys, so later
    // aggregates in the same session (e.g. a sketch-typed UDAF whose
    // per-key buffers are KB, where 4M keys would be an OOM) see their
    // own conf, never this build's raise.
    // The eager boundary is also what makes the intermediate state
    // freeable: the bucket-stage cache and the per-round NND
    // checkpoints unpersist on the way out, so repeated builds in one
    // session leave only their result checkpoint (pinned in AnnSpec).
    // The plan call itself runs eager jobs (measuredKeyDims,
    // sampledExactPairs, measuredCapture, escalated NND rounds), so it
    // sits INSIDE the scope: a failure mid-build must still restore the
    // conf and free whatever state was registered up to the throw —
    // the plan registers each cache/checkpoint into `track` the moment
    // it creates it, not on return.
    SessionConf.scoped(s, approxBuildConf(s): _*) {
      val track = scala.collection.mutable.ListBuffer.empty[DataFrame]
      try {
        val wide =
          hnswEdgesApproxPlan(s, d, m, nProj, w, probe, cap, refine, track,
            scoredMassCeiling = scoredMassCeiling)
        // the view (diversity selection or plain slice) pipelines
        // straight onto the wide final TopMEdges stage (same-keys
        // window / collect_list — no extra exchange), so ONE eager
        // checkpoint materializes build + view inside the conf scope
        approxFinalRank(view(wide).localCheckpoint(true))
      } finally track.foreach(freeBuildState)
    }
  }

  /** The session conf both approximate-build entry points run under:
    * the memory-derived TopMEdges hash budget
    * ([[topMFallbackThreshold]]), and AQE off. With AQE off every
    * shuffled join in the build plans both sides with one partition
    * count, so no join under a union can meet sides that AQE finalized
    * at different counts (Spark fails those with "PartitioningCollection
    * requires all of its partitionings have the same numPartitions").
    * ParallelismSweepSpec builds at 1, 3 and 8 cores. */
  private def approxBuildConf(s: SparkSession): Seq[(String, String)] = Seq(
    SessionConf.FallbackThreshold -> topMFallbackThreshold(
      Runtime.getRuntime.maxMemory,
      s.sparkContext.defaultParallelism).toString,
    SessionConf.Adaptive -> "false")

  /** Final presentation of the refined edge table: per-(level, src)
    * rank in (dist, dst) order — runs AFTER the eager build boundary,
    * so it needs no conf raise (plain window + range sort). */
  private def approxFinalRank(edges: DataFrame): DataFrame =
    edges
      .withColumn("rnk", row_number().over(
        Window.partitionBy("level", "src").orderBy(col("dist"), col("dst"))))
      .orderBy(col("level"), col("src"), col("rnk"))

  /** Audit surface for PlanSpec: the identical build lineage the eager
    * wrapper executes, returned LAZILY — no result checkpoint — so the
    * plan audit sees every stage a regression could land in. The plan
    * call still runs the build's eager measurement jobs, so it runs
    * under the same [[approxBuildConf]] scope as the eager wrapper. */
  private[graft] def hnswEdgesApproxForAudit(s: SparkSession, d: String,
      m: Int = 16, nProj: Int = DefaultNProj, w: Double = DefaultKeyW,
      probe: Int = DefaultProbe,
      cap: Int = DefaultCap, refine: Int = 2): DataFrame =
    SessionConf.scoped(s, approxBuildConf(s): _*) {
      approxFinalRank(diversityView(s,
        d,
        hnswEdgesApproxPlan(s, d, m, nProj, w, probe, cap, refine,
          scala.collection.mutable.ListBuffer.empty[DataFrame], audit = true),
        m))
    }

  /** Frees one piece of build state: a cached DataFrame, or the
    * block-manager blocks behind a localCheckpoint (reached through
    * its LogicalRDD — Spark exposes no public unpersist for
    * checkpointed frames). Only safe once nothing references the
    * frame, which the eager build boundary guarantees. */
  private[graft] def freeBuildState(df: DataFrame): Unit =
    df.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(false)
      case _ => df.unpersist(false)
    }

  /** Data-derived shard count for the build's EXPLICIT repartitions —
    * the scale-adaptive replacement for the r14 constant
    * `defaultParallelism` target (the [[graft.streaming.StreamingOps]]
    * feed-shard pattern): enough partitions that each holds ~32 MB of
    * the given rows, floored at 8 so small corpora still spread off a
    * 1–2-split scan, capped by the session's parallelism — the cap is
    * what binds at warehouse scale, so nothing here assumes local[32].
    * At the bench SFs this turns 32 tiny tasks per explicit exchange
    * into 8 (sf0.1's whole build state is ~KBs–MBs), which is where the
    * measured 8-core-beats-32-core inversion on this query lived. */
  private def buildShards(s: SparkSession, rows: Long,
      bytesPerRow: Long): Int = {
    val bytes = math.max(1L, rows) * bytesPerRow
    val byVolume = math.ceil(bytes.toDouble / (32L << 20)).toLong
    math.max(8L, math.min(s.sparkContext.defaultParallelism.toLong, byVolume))
      .toInt
  }

  /** Shard count for the build's COMPUTE-BOUND join stages (candidate
    * scoring, NND co-neighbor scoring), derived from the ESTIMATED
    * distance-fold count rather than bytes: these stages carry slim id
    * rows but evaluate a 64-wide fold per candidate pair, so byte-based
    * sizing (AQE's coalescing included) serializes exactly the stages
    * that need cores — the measured r14 pathology behind the
    * 8-core-beats-32 inversion. ~512k folds per shard keeps local
    * shards ≥ a few hundred ms of real work; the parallelism cap binds
    * at warehouse scale (the session knob stays authoritative). */
  private def foldShards(s: SparkSession, pairsEst: Double): Int =
    math.max(8L, math.min(s.sparkContext.defaultParallelism.toLong,
      math.ceil(pairsEst / 512000.0).toLong)).toInt

  /** The build plan of [[hnswEdgesApprox]] (everything up to the
    * final rank). Every intermediate frame the caller must free after
    * materialization (bucket-stage cache + per-round NND checkpoint
    * inputs + the capture sample) is appended to `track` AS CREATED —
    * so a caller's finally can free partial state even when the
    * build's eager stages throw mid-way. */
  private def hnswEdgesApproxPlan(s: SparkSession, d: String, m: Int,
      nProj: Int, w: Double, probe: Int, cap: Int, refine: Int,
      track: scala.collection.mutable.Buffer[DataFrame],
      audit: Boolean = false,
      scoredMassCeiling: Long = DefaultScoredMassCeiling): DataFrame = {
    val e = Tables.embeddings(s, d)
      .withColumn("level", expr(levelExpr))
      .select(col("vec_id"), col("embedding"), col("level"))
    val cnt = e.count()
    // keyDims: how many projections compose one bucket KEY — the
    // corpus-adaptive knob that keeps per-key occupancy below the
    // membership cap. With a single projection, occupancy grows ∝ n
    // and passed the cap at ~40k rows on this fixture's projection
    // spread; past that the cap stopped bounding skew and started
    // evicting whole NODES from every dense bucket (measured at the
    // repo's sf10/100× point: level-0 edge recall 0.09, most nodes
    // edgeless). Composing another projection into the key divides
    // occupancy by a DATA-DEPENDENT factor (~10× on the uniform
    // envelope fixtures), so the cap goes back to being a skew guard
    // instead of a systematic filter, while true near-pairs — whose
    // per-projection bucket deltas are small — still collide
    // (multiprobe runs over EVERY key component). The width comes from
    // [[measuredKeyDims]]: the smallest k whose MEASURED collider
    // mass meets the [[KeyDimsColliderTarget]] budget. At every gated
    // scale the measured choice coincides with the retired count
    // ladder's (sf0.01 … sf1 → 1, 50k/sf10 → 2), so the single-key
    // fixtures stay BIT-IDENTICAL to the original single-projection
    // form; the oracle measures the same masses in SQL and error()s
    // loudly when the data needs k ≥ 3.
    val keyDims = measuredKeyDims(e, cnt, nProj, w)
    val bucketCols =
      (0 until keyDims).map(j => if (j == 0) "bucket" else s"bucket${j + 1}")
    val keys = (0 until nProj).map { p =>
      val comps = (0 until keyDims).map { j =>
        floor(dot(col("embedding"), typedLit(projVector((p + j) % nProj))) / w)
          .cast("long").as(bucketCols(j))
      }
      struct((lit(p).as("proj_id") +: comps): _*)
    }
    val wb = Window.partitionBy(("proj_id" +: bucketCols).map(col): _*)
      .orderBy(col("vec_id"))
    // multiprobe: the dst side answers for bucket−probe..bucket+probe
    // (per key component), so a candidate pair needs its bucket
    // deltas ≤ probe on some shared key — the standard recall patch
    // for points landing just across a bucket boundary, still an
    // equi-join after explode.
    // Only the OCCUPANT side of the bucket join carries the vector
    // payload (×1 per bucket row); every exploded or derived
    // candidate stream shuffles SLIM and re-attaches embeddings
    // map-side via `attach` below. The candidate multiset (Σ bucket²
    // rows — 300M at the sf1 scale point) is generated, scored,
    // level-exploded, and REDUCED TO ≤ m ROWS PER (level, src) all
    // inside one map stage — [[graft.functions.expressions.TopMEdges]]
    // is a TypedImperativeAggregate, so Spark's partial-merge-final
    // pipeline runs the bounded heap map-side and the only
    // corpus-scale exchange in the whole build carries n×m partial
    // heaps. The previous shape (distinct → two vector joins → window
    // rank) shuffled the full candidate set twice and took 10 minutes
    // of the sf1 verify run. Heap dedup ≡ distinct (duplicates carry
    // identical (dist, dst)), so the DuckDB oracle keeps its DISTINCT
    // formulation unchanged. The repartition by vec_id spreads the
    // build across the cluster regardless of the (often
    // single-partition) input file layout.
    val bve = e.select(col("vec_id"), col("embedding"), col("level"),
        explode(array(keys: _*)).as("pb"))
      .select(Seq(col("vec_id"), col("embedding"), col("level"),
        col("pb.proj_id").as("proj_id")) ++
        bucketCols.map(bc => col(s"pb.$bc").as(bc)): _*)
      .withColumn("rn", row_number().over(wb)).filter(col("rn") <= cap)
      .drop("rn")
      // explicit spread of the capped bucket rows (vector payload rides
      // along — ~550 B/row × nProj copies): shard count derives from
      // that volume, not the session's core count ([[buildShards]])
      .repartition(buildShards(s, cnt * nProj, 560L), col("vec_id"))
      .cache()
    track += bve
    // the payload re-attach: one broadcast of the corpus serves every
    // slim candidate stream (see [[BroadcastFetchMaxRows]]); identical
    // rows to joining the fat streams directly, so the gate hashes and
    // the oracle SQL are untouched by the slim/fat distinction
    val fetch = e.select(col("vec_id"), col("embedding"))
    def attach(df: DataFrame, idCol: String, out: String): DataFrame = {
      val ft = fetch.select(col("vec_id").as(idCol), col("embedding").as(out))
      df.join(if (cnt <= BroadcastFetchMaxRows) broadcast(ft) else ft,
        Seq(idCol))
    }
    // one ±probe explode per key component — ≤ (2·probe+1)^keyDims
    // probe rows per bucket row, still an equi-join on every
    // component. The probe stream drops the embedding BEFORE the
    // explode: at rung 3 the explode is 27×, and 27 copies of a
    // 256 B vector per bucket row was ~130 GB of exchange at the
    // 2M-vector fixture (vs ~10 GB slim).
    val probed = bucketCols.foldLeft(bve.drop("embedding")) { (df, bc) =>
      df.withColumn(bc, explode(sequence(col(bc) - probe, col(bc) + probe)))
    }
    val keyEq = ("proj_id" +: bucketCols)
      .map(c => col(s"l.$c") === col(s"r.$c")).reduce(_ && _)
    // Each unordered candidate pair is scored ONCE (join on <, not ≠)
    // and mirrored into both directed rows by a generator in the same
    // map stage — the candidate generation is symmetric (both sides
    // draw from the same capped bucket rows and the ±probe window is
    // symmetric), so the directed multiset is IDENTICAL to the ≠-join
    // form while the join emits half the rows and the dominant cost —
    // the 64-wide distance fold, ~Σ bucket² evaluations — runs half as
    // often. Bit-identical distances: (x−y)² = (y−x)² term by term and
    // the fold visits the same index order, so the (dist, id) heaps
    // and the DISTINCT-formulated oracle are untouched.
    //
    // Both join sides are repartitioned on the join key to one
    // fold-count-derived shard count ([[foldShards]]): the scoring
    // stage is compute-bound on slim rows, so it is sized by estimated
    // distance folds, not by bytes or the session's shuffle default.
    // The exchange count is unchanged (the join required these
    // shuffles anyway); only their partition count is pinned.
    val candShards = foldShards(s, cnt.toDouble * nProj *
      math.pow(2 * probe + 1, keyDims) * cap / 2)
    val keyJoinCols = ("proj_id" +: bucketCols).map(col)
    val half = attach(
      bve.repartition(candShards, keyJoinCols: _*).as("l")
        .join(probed.repartition(candShards, keyJoinCols: _*).as("r"),
          keyEq && col("l.vec_id") < col("r.vec_id"))
        .select(col("l.vec_id").as("a"), col("l.embedding").as("lv"),
          col("r.vec_id").as("b"),
          least(col("l.level"), col("r.level"), lit(MaxLevel)).as("minl")),
      "b", "rv")
      .select(col("a"), col("b"),
        squaredL2(col("lv"), col("rv")).as("dist"), col("minl"))
    val scored = half
      .select(explode(array(
          struct(col("a").as("src"), col("b").as("dst")),
          struct(col("b").as("src"), col("a").as("dst")))).as("e"),
        col("dist"), col("minl"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"),
        col("dist"), col("minl"))
    // Chord-finger seed: every node also gets deterministic LONG-RANGE
    // seed candidates — rank r connects to ranks (r + 2^j) mod n for
    // j < bit-length(n-1), the Chord finger table. The bucket cap
    // above bounds candidate mass, but on a corpus whose per-bucket
    // occupancy outgrows the cap it evicts whole nodes from EVERY
    // dense bucket — measured at the repo's sf10 (100×) point: only
    // 848 of 3200 sampled exact edges had any approximate
    // counterpart, level-0 edge recall 0.09. A contiguous-id block
    // seed was tried first and CANNOT fix it: disjoint cliques give
    // the NN-descent rounds below no long-range edges to explore
    // through (recall stayed at 0.10 after two rounds). The finger
    // graph is an expander with log-n diameter, so co-neighbor
    // proposals reach the whole corpus; O(n·log n) extra candidates.
    // Bit-length is computed with INTEGER arithmetic on both engines
    // (numberOfLeadingZeros here, len(bin(n-1)) in the oracle) —
    // float log2 would disagree at exact powers of two.
    val fingers = math.min(m,
      if (cnt <= 1L) 1 else 64 - java.lang.Long.numberOfLeadingZeros(cnt - 1))
    // Global 0-based rank of every vec_id as a TWO-LEVEL prefix count
    // (the [[graft.operators.TextOps.sequencePack]] shape): per-bucket
    // row_number windows run fully parallel over ⌈√n⌉-row id
    // partitions, and the only single-partition window in the whole
    // build is the running offset over the ⌈√n⌉-row bucket-totals
    // table — (bkt, bn) columns only, never the embedding payload,
    // never a corpus-sized partition (pinned in PlanSpec). The result
    // is bit-identical to row_number() OVER (ORDER BY vec_id) − 1, so
    // the oracle keeps its one-window arnk formulation.
    val rbs = math.max(64L,
      math.ceil(math.sqrt(math.max(cnt, 1L).toDouble)).toLong)
    val idsB = e.select(col("vec_id"))
      .withColumn("bkt", expr(s"vec_id div $rbs"))
    val wIn = Window.partitionBy("bkt").orderBy("vec_id")
    val intra = idsB
      .withColumn("ir", row_number().over(wIn).cast("long") - lit(1L))
    val wOff = Window.orderBy("bkt")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offs = idsB.groupBy("bkt").agg(count(lit(1)).as("bn"))
      .withColumn("boff", coalesce(sum(col("bn")).over(wOff), lit(0L)))
      .select(col("bkt"), col("boff"))
    val ranks = intra.join(broadcast(offs), "bkt")
      .select(col("vec_id"), (col("boff") + col("ir")).as("r"))
    // finger pairs move (id, level, rank) only — n·fingers slim rows
    // through the rank equi-join, payloads re-attached map-side.
    // Both sides of the finger-pair join are repartitioned to one
    // volume-derived shard count ([[buildShards]]), which sizes the
    // stage that joins, re-attaches and scores the n·fingers pairs;
    // the join then plans with no extra exchange (each side is already
    // hash-partitioned on its key).
    val fingerShards = buildShards(s, cnt * (fingers + 1L), 48L)
    val er = e.select(col("vec_id"), col("level")).join(ranks, "vec_id")
    val fj = er.select(col("vec_id"), col("level"), col("r"),
        explode(sequence(lit(0), lit(fingers - 1))).as("j"))
      .withColumn("pr", expr(s"(r + shiftleft(1L, j)) % ${math.max(cnt, 1L)}"))
      .repartition(fingerShards, col("pr"))
    val erByRank = er.repartition(fingerShards, col("r"))
    val fingerScored = attach(attach(
      fj.as("l")
        .join(erByRank.as("r2"), col("l.pr") === col("r2.r"))
        .filter(col("l.vec_id") =!= col("r2.vec_id"))
        .select(col("l.vec_id").as("src"), col("r2.vec_id").as("dst"),
          least(col("l.level"), col("r2.level"), lit(MaxLevel)).as("minl")),
      "src", "lv"), "dst", "rv")
      .select(col("src"), col("dst"),
        squaredL2(col("lv"), col("rv")).as("dist"), col("minl"))
    // Seed-family decision (non-audit): the capture measurement runs
    // BEFORE the candidate join materializes, so a corpus whose
    // geometry defeats the grid key family ([[CaptureFloor]], the
    // rung-3 failure) gets SCORED DISJOINT-KEY seeds instead of grid
    // seeds whose misses NND cannot recover (measured on the sp30k
    // spread fixture: grid capture 0.60 → NND stalls at sampled
    // recall 0.73 after one escalated round, gain 0.005 — the
    // closure proposes only through edges it already has). Gated
    // fixtures all measure capture ≥ 0.99, so they take the grid
    // branch and their plans/hashes are bit-identical; the oracle
    // error()s exactly where the scored branch engages. The audit
    // lineage stays the grid form (eager measurement contradicts the
    // lazy audit contract, and on non-escalating corpora the audited
    // lineage is the shipped lineage).
    val (exactOpt, capture, seedScored) =
      if (audit) (None, 1.0, scored)
      else {
        // memoized (cache-owned — NOT tracked for build-end freeing):
        // repeated builds and index_stats share one materialization
        val exact = sampledExactPairsCached(s, d, e,
          captureSampleStride(cnt), m)
        val cap0 = measuredCapture(e, exact, keyDims, nProj, w, probe)
        if (cap0 >= CaptureFloor) (Some(exact), cap0, scored)
        else {
          val (skeys, sw, st) =
            chooseScoredConfig(e, exact, cap, captureSampleStride(cnt),
              scoredMassCeiling)
          (Some(exact), cap0,
            scoredSeedCandidates(e, skeys, sw, st, cap, attach))
        }
      }
    // an edge candidate serves levels 0..min(levels) exactly as in the
    // exact builder
    val exploded = seedScored.unionByName(fingerScored).select(
      explode(sequence(lit(0), col("minl"))).as("level"),
      col("src"), col("dst"), col("dist"))
    // (level, src, dst, dist) — exactly what both consumers read;
    // ranks are recomputed by approxFinalRank's window, so a
    // posexplode rank here would be dead weight in every build plan.
    // `keep` parameterizes the heap width. The STATE every prune
    // maintains is WIDE (top-DiversityWiden·m — the candidate list the
    // declared diversity view selects m from), while NND PROPOSES only
    // from the top-m slice of that state (see nndRound): the measured
    // 16× blowup of SCALING_SF10.md §7.6 came from proposing co-
    // neighbor pairs among 4m neighbors (pair count scales with
    // degree²), not from heap width — a wm-wide heap with m-wide
    // proposals keeps the candidate stream at n·(2m)² while letting
    // every round's exactly-scored survivors accumulate in the wide
    // tail the diversity selection draws from (keeping only the final
    // round wide was measured at sf0.001 to leave the tail too
    // LSH-shaped: approx-vs-exact diverse-edge overlap 0.867 vs 0.986
    // with the accumulated tail).
    def topM(cands: DataFrame, keep: Int = m): DataFrame = {
      val top = SqlBridge.column(TopMEdges(
        SqlBridge.expression(col("dst")), SqlBridge.expression(col("dist")), keep)
        .toAggregateExpression())
      cands.groupBy(col("level"), col("src")).agg(top.as("top"))
        .select(col("level"), col("src"), explode(col("top")).as("e"))
        .select(col("level"), col("src"), col("e.dst").as("dst"),
          col("e.dist").as("dist"))
    }
    // NN-descent refinement (Dong, Moses & Li, WWW'11 — the standard
    // k-NN-graph convergence loop): each round proposes every pair of
    // co-neighbors (u, v both adjacent to some node, in either edge
    // direction) as candidate edges, re-scores, and re-prunes to the
    // top-m. Reverse neighbors are capped at m per node (the NND
    // sample-rate trick) so a hub's in-degree cannot make its
    // candidate block quadratic: per (level, node) the neighborhood
    // is ≤ 2m rows and a round generates ≤ n·(2m)² candidates —
    // linear in the corpus, the same order as the bucket stage. Two
    // rounds lift the sf10 seed above from 0.09 to ≥0.9 recall (the
    // convergence NND is known for); at gate scale they only polish
    // an already-0.95 graph. Everything stays deterministic ((dist,
    // id)-ordered windows, pure distance recompute), so the DuckDB
    // oracle unrolls the identical rounds as CTEs.
    // Each round references its INPUT edge table three times (forward
    // edges, reverse edges, and the candidate-union floor); without
    // materialization Catalyst re-executes the whole prior lineage
    // per reference and the DAG grows 3^rounds — the localCheckpoint
    // (lazy: materialized by the first action, reused after) is the
    // same diamond-breaking treatment
    // [[graft.operators.TextOps.trainingManifest]] applies. The edge
    // table is n·m·levels rows — output-sized state, never the
    // candidate multiset. Checkpointing round INPUTS (not outputs)
    // leaves the final round's stages visible to the PlanSpec audit
    // and lets them pipeline straight into the output action.
    // every prune maintains the WIDE state (see topM's keep doc)
    val wm = DiversityWiden * m
    var edges = topM(exploded, wm)
    def nndRound(base: DataFrame): DataFrame = {
      // base is the wm-wide state; proposals read only its top-m
      // slice — the graph NND refines is the declared-degree graph,
      // and the slice keeps the co-neighbor pair count at n·(2m)²
      val wb = Window.partitionBy("level", "src").orderBy(col("dist"), col("dst"))
      val baseM = base.withColumn("fr", row_number().over(wb))
        .filter(col("fr") <= m).drop("fr")
      val rev = baseM.select(col("level"), col("dst").as("src"),
        col("src").as("dst"), col("dist"))
      val wrev = Window.partitionBy("level", "src").orderBy(col("dist"), col("dst"))
      val revCapped = rev.withColumn("rr", row_number().over(wrev))
        .filter(col("rr") <= m).drop("rr")
      // the neighborhood table self-joins SLIM — (level, src, dst)
      // only; attaching the vectors before the self-join (the
      // original shape) put the ≤2m-per-node payload through BOTH
      // shuffle sides, ~76 GB at the 2M-vector fixture. The n·(2m)²
      // candidate stream never shuffles at all: self-join → attach ×2
      // → score → partial TopMEdges heap is one map stage.
      // the self-join's sides are ONE repartitioned frame with a
      // fold-count-derived shard count ([[foldShards]]), as for the
      // bucket candidate join above: the n·(2m)² scoring stage is
      // compute-bound, so it is sized by folds, not bytes
      val nbShards = foldShards(s, 2.0 * cnt * (2 * m) * (2 * m))
      val nb = baseM.select(col("level"), col("src"), col("dst"))
        .unionByName(revCapped.select(col("level"), col("src"), col("dst")))
        .repartition(nbShards, col("level"), col("src"))
      // co-neighbor proposals are symmetric (u,v share a hub s in
      // either order), so score each unordered pair once (join on <)
      // and mirror the directed rows in the same map stage — half the
      // distance folds of the ≠-join form, identical candidate
      // multiset, bit-identical distances (same index-order fold)
      val candHalf = attach(attach(
        nb.as("a").join(nb.as("b"),
            col("a.level") === col("b.level") && col("a.src") === col("b.src") &&
              col("a.dst") < col("b.dst"))
          .select(col("a.level").as("level"), col("a.dst").as("u"),
            col("b.dst").as("v")),
        "u", "av"), "v", "bv")
        .select(col("level"), col("u"), col("v"),
          squaredL2(col("av"), col("bv")).as("dist"))
      val cand = candHalf
        .select(col("level"), explode(array(
            struct(col("u").as("src"), col("v").as("dst")),
            struct(col("v").as("src"), col("u").as("dst")))).as("e"),
          col("dist"))
        .select(col("level"), col("e.src").as("src"),
          col("e.dst").as("dst"), col("dist"))
      // the union floor is the FULL wide base: survivors accumulate
      // across rounds in the wide tail whatever round scored them
      topM(cand.unionByName(
        base.select(col("level"), col("src"), col("dst"), col("dist"))), wm)
    }
    for (_ <- 1 to refine) {
      val base = edges.localCheckpoint(false)
      track += base
      edges = nndRound(base)
    }
    // The measured capture guard (see [[CaptureFloor]]): when the
    // chosen key configuration geometrically misses too many true
    // neighbor pairs — the rung-3 failure mode the mass budget cannot
    // see — keep running NN-descent rounds, graded against the SAME
    // sampled exact ground truth, until the sample's level-0 recall
    // reaches the floor, stops improving, or hits [[MaxNndRounds]].
    // Every gated fixture measures capture ≥ 0.99, so this branch
    // never runs there and gated plans/hashes are untouched; the
    // DuckDB oracle computes the same capture and error()s loudly on
    // a corpus that would escalate (it unrolls exactly `refine`
    // rounds and cannot model a measured round count). The audit
    // path skips the guard: it is an eager measurement (the audit
    // contract is a lazy lineage), and on a non-escalating corpus
    // the audited lineage is the shipped lineage either way.
    if (audit) { edges } else {
    val exact = exactOpt.get
    var roundsRun = refine
    var finalRecall: Option[Double] = None
    if (capture < CaptureFloor) {
      // the probe grades the WIDE graph — the right metric for the
      // diversity build: a true neighbor anywhere in the wm-wide list
      // is available to the declared selection (and to backfill)
      val exactCnt = math.max(1L, exact.count())
      def sampledRecall(ed: DataFrame): Double =
        ed.filter(col("level") === 0)
          .join(broadcast(exact), Seq("src", "dst"), "left_semi")
          .count().toDouble / exactCnt
      // escalated rounds materialize eagerly so each recall probe
      // reads a computed table instead of re-running the round
      var cur = edges.localCheckpoint(true)
      track += cur
      var rec = sampledRecall(cur)
      var gain = 1.0
      System.err.println(f"[build-escalate] capture=$capture%.4f below " +
        f"floor $CaptureFloor; rounds=$roundsRun sampled_recall=$rec%.4f")
      while (rec < CaptureFloor && roundsRun < MaxNndRounds &&
          gain >= MinNndGain) {
        cur = nndRound(cur).localCheckpoint(true)
        track += cur
        roundsRun += 1
        val nr = sampledRecall(cur)
        gain = nr - rec
        rec = nr
        System.err.println(f"[build-escalate] rounds=$roundsRun " +
          f"sampled_recall=$rec%.4f gain=$gain%.4f")
      }
      finalRecall = Some(rec)
      edges = cur
    }
    lastBuildDiag = Some(BuildDiag(capture, roundsRun, finalRecall))
    edges
    }
  }

  /** [[BuildStore]] tags of the vector-resident index layouts, which
    * also key [[upperGraph]]'s memo. */
  private val FullVecTag = "fullv"
  private val FullVecApproxTag = "fullv-approx"

  /** Setup step of the incremental-insert lifecycle: build the base
    * (90%) index ONCE per fixture and persist it as a parquet edge
    * table — the stored structure an insert batch amends, exactly like
    * a production index living on shared storage. Subsequent calls
    * (and every rerun of [[hnswInsertDelta]]) just read it back, so
    * the measured cost of the incremental path is the O(Δ·n) delta
    * math, not a rebuild. The stored maintenance state is WIDE
    * (top-DiversityWiden·m plain — see [[DiversityWiden]]). */
  def ensureBaseIndex(s: SparkSession, d: String, m: Int = 16): DataFrame =
    BuildStore.parquet(s, d, "base", s"m$m") {
      val base = levelNodes(s, d).filter(n => n._1 % 10 != 0)
      val wm = DiversityWiden * m
      pruneLevelEdges(levelEdgePartials(s, base, base, wm, MaxLevel, EdgeBlocks), wm)
        .select(col("level"), col("src"), col("dst"), col("dist"))
    }

  /** Setup step of the serving lifecycle: build the FULL all-level
    * edge table ONCE per fixture ([[hnswEdges]]' exact output, minus
    * the presentation `rnk`) and persist it as parquet — the stored
    * index a search query serves from. The reference separates these
    * phases the same way: `insert` builds the structure once, `search`
    * runs against the built structure (`src/hnsw.zig:73,194`) — a
    * search never pays a rebuild. The SERVING graph is the declared
    * diversity-pruned adjacency; maintenance composes on the wide plain
    * state ([[ensureFullIndexWide]]) this view derives from. */
  def ensureFullIndex(s: SparkSession, d: String, m: Int = 16): DataFrame =
    BuildStore.parquet(s, d, "full", s"m$m")(
      diversityView(s, d, ensureFullIndexWide(s, d, m), m))

  /** The persisted WIDE plain state of the full exact index — the form
    * the incremental delete path repairs against (its "affected srcs"
    * are srcs whose WIDE list lost a member; repairing the declared
    * m-list alone would discard candidates the diversity view needs). */
  private[operators] def ensureFullIndexWide(s: SparkSession, d: String, m: Int = 16): DataFrame =
    BuildStore.parquet(s, d, "fullw", s"m$m")(hnswEdgesWide(s, d, m))

  /** [[ensureFullIndex]] with the dst VECTOR materialized onto every
    * edge — the vector-resident adjacency layout a serving index uses
    * so one search round touches exactly one stationary table: scan
    * edges at the round's level, broadcast the (query-sized) frontier,
    * score in place. Costs ×m storage over the vectors-once layout —
    * the standard serving trade, paid ONCE at build time (the join
    * below), never per query; without it each round needs a second
    * corpus join plus a third broadcast just to look up dst vectors. */
  def ensureFullIndexVec(s: SparkSession, d: String, m: Int = 16): DataFrame =
    BuildStore.parquet(s, d, FullVecTag, s"m$m")(withDstVectors(s, d, ensureFullIndex(s, d, m)))

  private def withDstVectors(s: SparkSession, d: String, edges: DataFrame): DataFrame =
    edges.join(Tables.embeddings(s, d)
        .select(col("vec_id").as("dst"), col("embedding").as("dv")), "dst")
      .select(col("level"), col("src"), col("dst"), col("dv"))

  /** [[ensureFullIndex]] for the APPROXIMATE build — the persisted
    * twin of [[hnswEdgesApprox]]'s output, so the scale-path lifecycle
    * is complete: approximate build once, serve hierarchical searches
    * from storage, never pay the O(n²/blocks) exact build. Same
    * (level, src, dst, dist) layout, separate store entry. */
  def ensureFullIndexApprox(s: SparkSession, d: String, m: Int = 16): DataFrame =
    BuildStore.parquet(s, d, "full-approx", s"m$m")(
      hnswEdgesApprox(s, d, m).select(col("level"), col("src"), col("dst"), col("dist")))

  /** Vector-resident serving layout of the approximate index (the
    * [[ensureFullIndexVec]] trade applied to [[ensureFullIndexApprox]]). */
  def ensureFullIndexVecApprox(s: SparkSession, d: String, m: Int = 16): DataFrame =
    BuildStore.parquet(s, d, FullVecApproxTag, s"m$m")(
      withDstVectors(s, d, ensureFullIndexApprox(s, d, m)))

  /** Incremental insert — the delta path of the reference's
    * insert-driven lifecycle (`src/hnsw.zig:73-117` grows the graph one
    * point at a time; the engine otherwise batch-rebuilds). The corpus
    * splits into base (90%) and a delta batch (vec_id ≡ 0 mod 10);
    * `oldEdges` is the PERSISTED pre-existing index
    * ([[ensureBaseIndex]] — built once, then read from storage), and
    * the incremental step computes ONLY:
    *
    *   - the delta nodes' neighbor lists: delta × (base ∪ delta)
    *     distances — O(|Δ|·n), not O(n²);
    *   - repairs to base lists: base × delta candidate edges merged
    *     with the old lists and re-pruned to top-m (sound because
    *     top-m(all) = top-m(top-m(base) ∪ top-m(delta)) under the
    *     (dist, id) total order).
    *
    * The declared oracle is the FULL-REBUILD SQL ([[hnswEdgesOracle]])
    * — the hash gate proves insert-then-repair ≡ rebuild exactly. */
  def hnswInsertDelta(s: SparkSession, d: String, m: Int = 16): DataFrame = {
    val all = levelNodes(s, d)
    val delta = all.filter(n => n._1 % 10 == 0)
    val oldEdges = ensureBaseIndex(s, d, m)
    // one symmetric pass: delta-side heaps → inserted nodes' lists;
    // base-side heaps → repair candidates. Base and delta sources are
    // disjoint, so ONE window prune over (stored ∪ partials) both
    // repairs the base lists and finalizes the delta lists.
    // all state math happens at the WIDE degree (top-w, w = 4m): the
    // associativity argument is unchanged — top-w(all) =
    // top-w(top-w(base) ∪ top-w(delta partials)) under (dist, id) —
    // and the declared output is the diversity view of that state,
    // so insert-then-repair still hash-equals the full diverse rebuild
    val wm = DiversityWiden * m
    val sym = levelEdgePartialsSym(
      s, all, delta, id => id % 10 != 0, wm, MaxLevel, EdgeBlocks, dBlocks = 2)
    val wide = pruneLevelEdges(oldEdges.unionByName(sym), wm)
    approxFinalRank(diversityView(s, d, wide, m))
  }

  /** Index observability — the stats panel every vector store ships
    * next to its index: per HNSW layer, the participating node count
    * (a node of level L serves layers 0..L), the stored edge count,
    * the average out-degree, and the STORAGE accounting the reference
    * budgets but never measures (`benchmarks/benchmark.md:116-144`
    * targets <5% index overhead over raw vectors):
    *
    *   - `bytes_idonly`: the id-only edge layout ([[ensureFullIndex]])
    *     at 24 B/edge — src i64 + dst i64 + dist f64; `level` is the
    *     partition key, not a per-row cost;
    *   - `bytes_vecres`: the vector-resident serving layout
    *     ([[ensureFullIndexVec]]) at 24 + dim·8 B/edge — the ×m
    *     storage trade its docstring admits, now quantified;
    *   - `overhead_idonly` / `overhead_vecres`: layer bytes as a
    *     fraction of the raw corpus (n · dim · 8 B).
    *
    * Logical (uncompressed, pre-parquet-encoding) sizes — the
    * apples-to-apples figure against the reference's in-memory budget.
    * One tiny explode over the pure-function levels projection + one
    * aggregate over the persisted edge table + a 1-row broadcast raw-
    * size scalar; layers above the top occupied edge level report 0
    * edges (their nodes exist but have nothing to link to). */
  def indexStats(s: SparkSession, d: String, m: Int = 16,
                 nProj: Int = 8, w: Double = 0.1, probe: Int = 1): DataFrame = {
    val lv = Tables.embeddings(s, d).withColumn("level", expr(levelExpr))
    val pn = lv
      .select(explode(sequence(lit(0), least(col("level"), lit(MaxLevel)))).as("layer"))
      .groupBy(col("layer")).agg(count(lit(1)).as("n_nodes"))
    val eg = ensureFullIndex(s, d, m)
      .groupBy(col("level").as("layer")).agg(count(lit(1)).as("n_edges"))
    // fixture embeddings are fixed 64-dim (FIXTURES.md) — 512 B/row raw
    val raw = Tables.embeddings(s, d)
      .agg((count(lit(1)) * lit(64L * 8L)).as("raw_bytes"))
    // The approximate build's QUALITY diagnostics, measured the same
    // way the build measures them (r9's rung-3 lesson: candidate mass
    // alone is blind to whether the true neighbors are among the
    // candidates): the stride-sampled true-neighbor capture of the
    // measured key configuration, and the NN-descent rounds the build
    // runs at that capture. Above the floor the build never escalates,
    // so rounds is the declared refine count and the escalated-recall
    // column is NULL; below the floor rounds/recall are only knowable
    // by running the escalated build — reported NULL here, measured by
    // the build itself into [[lastBuildDiag]] and the SCALING notes.
    // Cheap: one sample-sized exact pass + one capture aggregate — the
    // same ~2-min-at-2M stage the build runs.
    val e2 = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
    val cnt = e2.count()
    val keyDims = measuredKeyDims(e2, cnt, nProj, w)
    // memoized (cache-owned, no freeing here): a session that already
    // built the approx index reuses its ground-truth materialization
    val exact = sampledExactPairsCached(s, d, e2,
      captureSampleStride(cnt), m)
    val capture = measuredCapture(e2, exact, keyDims, nProj, w, probe)
    val rounds: Column =
      if (capture >= CaptureFloor) lit(2L) else lit(null).cast("long")
    val edges = coalesce(col("n_edges"), lit(0L))
    pn.join(eg, Seq("layer"), "left")
      .crossJoin(broadcast(raw))
      .select(col("layer"), col("n_nodes"),
        edges.as("n_edges"),
        (edges / col("n_nodes").cast("double")).as("avg_out_degree"),
        (edges * lit(24L)).as("bytes_idonly"),
        (edges * lit(24L + 64L * 8L)).as("bytes_vecres"),
        ((edges * lit(24L)).cast("double") / col("raw_bytes").cast("double"))
          .as("overhead_idonly"),
        ((edges * lit(24L + 64L * 8L)).cast("double") / col("raw_bytes").cast("double"))
          .as("overhead_vecres"),
        lit(capture).as("build_capture"),
        rounds.as("build_nnd_rounds"),
        lit(null).cast("double").as("build_sampled_recall"))
      .orderBy(col("layer"))
  }

  /** Incremental DELETE — the other half of the index-maintenance
    * lifecycle ([[hnswInsertDelta]] is the insert half; the reference
    * is insert-only, `src/hnsw.zig:73` — deletion is a capability the
    * engine adds): remove the delta nodes (vec_id ≡ 0 mod 10) from the
    * PERSISTED full index and repair, computing ONLY:
    *
    *   - drop: deleted srcs' lists, and edges INTO deleted dsts (a
    *     filter over the stored table — map-only);
    *   - repair: a src that lost ≥1 neighbor no longer holds a
    *     provable top-m (the true replacement may lie OUTSIDE its
    *     stored list), so affected srcs rescan the surviving corpus —
    *     one blocked O(a·n) pass ([[levelEdgePartials]] with the
    *     affected set as probes), a = |srcs that lost an edge|.
    *     Unaffected srcs keep their stored lists untouched (still
    *     exact: no list member was removed).
    *
    * The declared oracle is the FULL-REBUILD SQL over the surviving
    * corpus — the hash gate proves delete-then-repair ≡ rebuild. */
  def hnswDeleteDelta(s: SparkSession, d: String, m: Int = 16): DataFrame =
    approxFinalRank(diversityView(s, d, hnswDeleteDeltaWide(s, d, m), m))

  /** The delete repair on the WIDE stored state — the composable form
    * [[hnswUpsertRoundtrip]] folds an insert back into. "Affected"
    * means a src whose WIDE list lost a member: the wide list is the
    * state the diversity view selects from, so a src whose declared m
    * neighbors all survived can still need repair (a deleted wide
    * candidate could have been the diversity pick after the delete). */
  private def hnswDeleteDeltaWide(s: SparkSession, d: String, m: Int): DataFrame = {
    import s.implicits._
    val wm = DiversityWiden * m
    val full = ensureFullIndexWide(s, d, m)
    val surviving = full.filter(col("src") % 10 =!= 0)
    val clean = surviving.filter(col("dst") % 10 =!= 0)
      .select(col("level"), col("src"), col("dst"), col("dist"))
    val affected = surviving.filter(col("dst") % 10 === 0)
      .select(col("src")).distinct()
    val remaining = levelNodes(s, d).filter(n => n._1 % 10 != 0)
    val affNodes = remaining.toDF("id", "vec", "lvl")
      .join(affected.select(col("src").as("id")), "id")
      .select(col("id"), col("vec"), col("lvl"))
      .as[(Long, Array[Double], Int)]
    // affected srcs are recomputed from scratch (their fresh partials
    // are complete candidate sets, and keeping their stored rows would
    // duplicate (level, src, dst) pairs under the prune window)
    val cleanUnaffected = clean.join(affected, Seq("src"), "left_anti")
    val partials = levelEdgePartials(s, affNodes, remaining, wm, MaxLevel, EdgeBlocks)
    pruneLevelEdges(cleanUnaffected.unionByName(partials), wm)
      .select(col("level"), col("src"), col("dst"), col("dist"))
  }

  /** Fold ONE arrival batch into a maintained index — the micro-batch
    * unit of the streaming index-maintenance lifecycle
    * ([[graft.streaming.StreamingOps.IndexMaintainer]] drives it from
    * `foreachBatch`): `current` is the stored (level, src, dst, dist)
    * edge table covering some node set S (its level-0 srcs), and the
    * batch inserts the fixture nodes in `batchIds` = Δ. Identical math
    * to [[hnswInsertDelta]] — one symmetric O(|Δ|·|S∪Δ|) blocked pass
    * (Δ lists ranged over S∪Δ; S-side repair candidates), one window
    * prune over stored ∪ partials — so folding is associative: any
    * micro-batch partition of the same arrivals yields the same index
    * (batch-boundary invariance, pinned in StreamingSpec).
    *
    * Precondition: each id arrives at most once across batches and is
    * not already in S — re-inserting a covered src would duplicate its
    * stored rows under the prune window. An at-least-once feed gets
    * this by composing the streaming-dedup pattern upstream
    * (`dropDuplicates("vec_id")` — exactly what [[graft.streaming
    * .StreamingOps.IndexMaintainer]]'s contract requires). */
  def hnswFoldBatch(s: SparkSession, d: String, current: DataFrame,
                    batchIds: Set[Long], m: Int = 16): DataFrame = {
    import s.implicits._
    val stored = current.select(col("level"), col("src"), col("dst"), col("dist"))
    if (batchIds.isEmpty) return stored
    val bset = batchIds
    val nodes = levelNodes(s, d)
    // covered = level-0 srcs of the stored table (every covered node
    // has a level-0 list), plus this batch — membership resolved by
    // join, never a corpus collect
    val coveredIds = stored.filter(col("level") === 0)
      .select(col("src").as("id")).distinct()
      .unionByName(bset.toSeq.toDF("id"))
      .distinct()
    val all = nodes.toDF("id", "vec", "lvl")
      .join(coveredIds, "id")
      .as[(Long, Array[Double], Int)]
    val delta = nodes.filter(n => bset(n._1))
    // the maintained state is WIDE (top-DiversityWiden·m plain — the
    // [[ensureBaseIndex]] storage form); readers present it through
    // [[hnswIndexView]], exactly like the batch delta operators
    val wm = DiversityWiden * m
    val sym = levelEdgePartialsSym(
      s, all, delta, id => !bset(id), wm, MaxLevel, EdgeBlocks, dBlocks = 1)
    pruneLevelEdges(stored.unionByName(sym), wm)
      .select(col("level"), col("src"), col("dst"), col("dist"))
  }

  /** The declared adjacency of a maintained WIDE index state — what a
    * reader of [[graft.streaming.StreamingOps.IndexMaintainer]]'s
    * `current` serves from ((level, src, dst, dist), diversity-selected
    * m per group; ≡ [[hnswEdges]] minus the presentation rank). */
  def hnswIndexView(s: SparkSession, d: String, state: DataFrame,
                    m: Int = 16): DataFrame =
    diversityView(s, d, state, m)

  /** The CRUD cycle composed — delete a slice, then insert it back,
    * against the same persisted index: [[hnswDeleteDelta]]'s repaired
    * survivor index is the stored structure an insert batch then
    * amends ([[hnswInsertDelta]]'s one-pass symmetric O(Δ·n) math,
    * with the delete's output in place of the persisted base). The
    * declared oracle is the FULL-CORPUS rebuild SQL: the hash gate
    * proves delete∘insert ≡ identity — maintenance round-trips
    * losslessly, which is the invariant that makes incremental
    * maintenance trustworthy at all. */
  def hnswUpsertRoundtrip(s: SparkSession, d: String, m: Int = 16): DataFrame = {
    val all = levelNodes(s, d)
    val delta = all.filter(n => n._1 % 10 == 0)
    // compose on the WIDE states: delete's repaired wide survivors are
    // the stored structure the insert folds into; the declared output
    // is the diversity view of the round-tripped wide state, so the
    // gate proves diverse(delete∘insert) ≡ diverse(rebuild) ≡ identity
    val wm = DiversityWiden * m
    val afterDelete = hnswDeleteDeltaWide(s, d, m)
    val sym = levelEdgePartialsSym(
      s, all, delta, id => id % 10 != 0, wm, MaxLevel, EdgeBlocks, dBlocks = 2)
    val wide = pruneLevelEdges(afterDelete.unionByName(sym), wm)
    approxFinalRank(diversityView(s, d, wide, m))
  }

  /** Deterministic beam search over the exact level-0 m-NN graph — the
    * batch analogue of the reference's `search`
    * (`src/hnsw.zig:194-236`: expansion from an entry point, visited
    * set, expand-until-k). Semantics, mirrored exactly by the DuckDB
    * oracle ([[graphSearchOracle]]):
    *
    *   pool₀ = { entry node 0 };
    *   poolᵣ = best `beam` of poolᵣ₋₁ ∪ out-neighbors(poolᵣ₋₁),
    *           ranked by (dist, id);
    *   result = top-k of pool_rounds with rnk.
    *
    * This declared form is FULLY DISTRIBUTED — frontier equi-joins, no
    * corpus-sized collect anywhere:
    *
    *   - the adjacency is read from the PERSISTED index
    *     ([[ensureFullIndex]]'s level 0 — identical to the block
    *     self-join's output) and cached (it is probed once per round);
    *   - each round the pool — at most nq·beam rows, query-sized, never
    *     corpus-sized — is BROADCAST against the stationary edge table
    *     to expand, then the (also query-sized) candidate set is
    *     broadcast against the stationary vector table to score. The
    *     corpus sides never shuffle; per-round movement is
    *     O(nq·beam·m) tuples;
    *   - `localCheckpoint` after each round truncates the growing
    *     lineage (the r2 form re-planned the whole history every round
    *     — that, not data volume, was its 163 s cost).
    *
    * Rounds are a small constant, so the whole search is a fixed-depth
    * chain of broadcast joins — the shape that survives a graph too
    * large for any single heap. For bounded indexes there is also
    * [[annGraphSearchReplica]], the serving-side pattern (index replica
    * per executor, zero joins per query); it is deliberately NOT the
    * declared query because its index load is driver-resident.
    */
  private[operators] def annGraphSearchRaw(
      s: SparkSession, d: String,
      nq: Int = 10, k: Int = 10, beam: Int = 16, rounds: Int = 4,
      truncateLineage: Boolean = true): DataFrame = {
    // truncateLineage=false keeps every round in ONE analyzable plan
    // (PlanSpec audits the broadcast contract through all rounds);
    // the default checkpoints per round — identical results, bounded
    // plan depth.
    // lazy checkpoint: leaf plan per round (the pool feeds two
    // references per round — without the cut the analyzed tree doubles
    // per round), but no eager per-round job — the whole search runs
    // as one job at first action (see hnswSearchRaw's note)
    def cp(df: DataFrame): DataFrame =
      if (truncateLineage) df.localCheckpoint(eager = false) else df
    val e = Tables.embeddings(s, d)
    // Serve from the PERSISTED vector-resident index
    // ([[ensureFullIndexVec]] — level 0 of the all-level table is
    // exactly the m=16 k-NN graph, with the dst vector on each edge):
    // a search reads the stored structure, it never pays a rebuild —
    // the build cost is what `knn_graph`/`hnsw_edges` measure — and a
    // round scores in place off the one stationary table (one
    // frontier broadcast per round, not three). Bitwise-identical
    // to building inline (DOUBLE round-trips parquet exactly; the
    // oracle recomputes the graph from scratch and still hash-matches).
    val edges = ensureFullIndexVec(s, d, 16).filter(col("level") === 0)
      .select(col("src"), col("dst"), col("dv"))
      .cache()
    val q = queryVecs(e, nq)
    // seed: 1-row entry, pushed-down point lookup, broadcast against
    // the nq queries — the nested-loop join this plans as has a 1-row
    // build side, the optimal physical shape for pairing every query
    // with one constant row (PlanSpec pins that the build side is
    // always the broadcast side)
    val entry = e.filter(col("vec_id") === 0L).select(col("embedding").as("ev"))
    var pool = cp(q.crossJoin(broadcast(entry))
      .select(col("query_id"), lit(0L).as("vec_id"),
        squaredL2(col("qv"), col("ev")).as("dist"), col("qv")))
    var r = 0
    while (r < rounds) {
      // no distinct() on the expansion: the pool's group-by-min dedups
      // candidates anyway, so the extra shuffle bought nothing —
      // duplicate scoring is ≤ beam·m cheap squaredL2 evals per query
      val scored = edges
        .join(broadcast(pool.select(
          col("query_id"), col("vec_id").as("src"), col("qv"))), "src")
        .select(col("query_id"), col("dst").as("vec_id"),
          squaredL2(col("dv"), col("qv")).as("dist"), col("qv"))
      pool = cp(topK(pool.unionByName(scored)
        .groupBy(col("query_id"), col("vec_id"))
        // qv is constant per query_id, so first() is value-deterministic
        .agg(min(col("dist")).as("dist"), first(col("qv")).as("qv")), beam)
        .drop("rnk"))
      r += 1
    }
    topK(pool, k).drop("qv")
  }

  def annGraphSearch(
      s: SparkSession, d: String,
      nq: Int = 10, k: Int = 10, beam: Int = 16, rounds: Int = 4,
      truncateLineage: Boolean = true): DataFrame =
    annGraphSearchRaw(s, d, nq, k, beam, rounds, truncateLineage)
      .orderBy(col("query_id"), col("rnk"))

  /** Serving-replica variant of [[annGraphSearch]] — identical results,
    * different physics: the built index (n·m edge ids + the n stored
    * vectors) is materialized once and replicated to every executor,
    * and each query runs the whole beam search in a task-local loop —
    * rounds·beam·m distance evals, zero shuffles, embarrassingly
    * parallel in queries. This is the shape that serves 10⁶ queries/s
    * against a memory-resident index (the reference holds the same
    * structure in one process's heap).
    *
    * The index load necessarily passes through the driver
    * (`collect` + `broadcast`), so the method REFUSES corpora beyond
    * `maxReplicaRows` — callers with a bigger graph use the declared
    * frontier-join form, which has no such bound. */
  def annGraphSearchReplica(
      s: SparkSession, d: String,
      nq: Int = 10, k: Int = 10, beam: Int = 16, rounds: Int = 4,
      maxReplicaRows: Long = 2000000L): DataFrame = {
    import s.implicits._
    val e = Tables.embeddings(s, d)
    val n = e.count()
    require(n <= maxReplicaRows,
      s"corpus has $n rows > maxReplicaRows=$maxReplicaRows: a replica " +
        "would not fit one heap — use annGraphSearch (frontier joins)")
    // the SAME persisted diversity-pruned level-0 adjacency the join
    // form serves from ('identical results, different physics' — a
    // replica over the old plain knn graph would answer differently)
    val edges = ensureFullIndex(s, d, 16).filter(col("level") === 0)
      .select(col("src"), col("dst")).as[(Long, Long)].collect()
    val adj: Map[Long, Array[Long]] =
      edges.groupBy(_._1).map { case (src, a) => (src, a.map(_._2)) }
    val vecs: Map[Long, Array[Double]] =
      e.select(col("vec_id"), col("embedding")).as[(Long, Array[Double])]
        .collect().toMap
    val bAdj = s.sparkContext.broadcast(adj)
    val bVec = s.sparkContext.broadcast(vecs)
    val (kk, bm, rr) = (k, beam, rounds)
    e.filter(col("vec_id") < nq)
      .select(col("vec_id"), col("embedding")).as[(Long, Array[Double])]
      .flatMap { case (qid, qv) =>
        val adjM = bAdj.value
        val vecM = bVec.value
        def distTo(id: Long): Double = BlockKnnJoin.sqDist(vecM(id), qv)
        val empty = Array.empty[Long]
        // seed mirrors the join form exactly: it seeds from
        // vec_id === 0, which on a corpus WITHOUT id 0 is an empty
        // frontier and an empty result — not a NoSuchElementException
        // ('identical results, different physics' is the contract)
        var pool: Seq[(Long, Double)] =
          if (vecM.contains(0L)) Seq(0L -> distTo(0L)) else Seq.empty
        var r = 0
        while (r < rr) {
          val cand = scala.collection.mutable.HashMap[Long, Double](pool: _*)
          pool.foreach { case (id, _) =>
            adjM.getOrElse(id, empty).foreach { nb =>
              if (!cand.contains(nb)) cand(nb) = distTo(nb)
            }
          }
          pool = cand.toSeq.sortBy { case (id, dd) => (dd, id) }.take(bm)
          r += 1
        }
        pool.sortBy { case (id, dd) => (dd, id) }.take(kk).zipWithIndex
          .map { case ((id, dd), i) => (qid, id, dd, i + 1) }
      }
      .toDF("query_id", "vec_id", "dist", "rnk")
      .orderBy(col("query_id"), col("rnk"))
  }

  /** HIERARCHICAL search — the textbook HNSW query the reference
    * builds its hierarchy for but never runs: its `search` expands on
    * layer 0 only (`src/hnsw.zig:194-236`; SURVEY §2.2 "search ignores
    * the hierarchy"), while the greedy multi-level descent exists only
    * inside its `insert` (`src/hnsw.zig:85-104`, one candidate per
    * level). This operator composes both halves the reference already
    * defines — insert's descent, then search's bottom-layer expansion —
    * into the complete hierarchical query, so the levels
    * ([[hnswLevels]], [[hnswEdges]]) earn their keep at query time:
    *
    *   entry  = the max-level node (ties → min id) — the deterministic
    *            analogue of the reference's tracked entry point;
    *   cur_l  = argmin by (dist, id) of {cur_{l+1}} ∪ N_l(cur_{l+1})
    *            for l = MaxLevel..1 — ONE greedy step per level (the
    *            reference iterates to a local minimum; a fixed step
    *            count keeps the recurrence oracle-unrollable, and with
    *            ~log₂ n levels one step per level is the textbook
    *            cost model);
    *   pool   = `rounds` beam-`beam` expansions of {cur_1} on the
    *            level-0 graph (the [[annGraphSearch]] recurrence);
    *   result = top-k of pool by (dist, id).
    *
    * Fully distributed, same physics as [[annGraphSearch]]: the
    * per-level frontier is nq rows (beam 1), broadcast against the
    * stationary persisted edge table; the corpus never shuffles and
    * never transits the driver. Descent rounds are a fixed small
    * count, so the whole search is a bounded chain of broadcast joins
    * that holds at any corpus size. */
  /** Collected upper-hierarchy serving structure for the COLLAPSED
    * descent (see [[hnswWalk]]): adjacency + vectors of every node
    * participating in layers [l0..topLevel], plus the entry point.
    * The upper hierarchy is geometrically small — nodes with level ≥ l
    * number ~n/2^l — so above a fixed depth it ALWAYS fits a broadcast
    * budget regardless of corpus size; l0 is chosen per corpus from
    * the level-census statistics so the collected footprint stays
    * under [[MaxUpperBytes]], and everything below l0 keeps the
    * frontier-join rounds. */
  private[graft] final case class UpperGraph(
      topLevel: Int, l0: Int, entryId: Long,
      adj: Map[(Int, Long), Array[Long]],
      vecs: Map[Long, Array[Double]])

  private[graft] val upperCache =
    new java.util.concurrent.ConcurrentHashMap[String, UpperGraph]()

  /** Entry bound for [[upperCache]]: each entry holds up to
    * [[MaxUpperBytes]] of driver-side structure, so sessions/fixtures
    * accumulating entries is a real driver-memory leak. Before
    * inserting past the cap, entries from OTHER sessions (dead or not
    * — a foreign session can rebuild its own) are dropped first; if
    * the current session alone fills the cap, everything is dropped
    * (plain JVM data — no unpersist needed). */
  private[graft] val MaxUpperEntries = 4
  private[graft] def boundUpperCache(sessPrefix: String): Unit =
    if (upperCache.size >= MaxUpperEntries) {
      upperCache.keySet.removeIf((k: String) => !k.startsWith(sessPrefix))
      if (upperCache.size >= MaxUpperEntries) upperCache.clear()
    }

  /** Budget for the collected upper-graph structure (~87k nodes at
    * 64-dim). Vectors dominate: Dim doubles + ~2·m edge ids per node. */
  private val MaxUpperBytes = 64L << 20

  /** In-task strict-left-fold squared L2 — the JVM twin of the codegen
    * [[graft.functions.VectorFunctions.squaredL2]] step
    * (`d = x - y; acc += d*d` in index order), so the collapsed
    * descent's distances are bit-identical to the join form's. */
  private def sqDistJvm(a: Array[Double], b: Array[Double]): Double = {
    var acc = 0.0; var i = 0
    while (i < a.length) { val dd = a(i) - b(i); acc += dd * dd; i += 1 }
    acc
  }

  /** Build (memoized per session + persisted-index identity) the
    * collapsed-descent structure, or None when even the top slice
    * exceeds the broadcast budget (then every level keeps the
    * frontier-join rounds). The collects here are BOUNDED by
    * construction — l0 is chosen from the level census so the
    * collected node set fits [[MaxUpperBytes]] — the same contract as
    * [[BroadcastKnnJoin]]'s query-side collect, not a corpus collect. */
  private def upperGraph(
      s: SparkSession, d: String, m: Int, topLevel: Int,
      idxAll: DataFrame, lvlCounts: Map[Int, Long],
      tag: String): Option[UpperGraph] = {
    if (topLevel < 1) return None
    // ~2× slack: a node of level L is an adjacency src in every layer
    // l0..min(L, topLevel), and node counts halve per level, so the
    // full per-layer footprint is ≲ 2× the level-l0 census. l0 = 0
    // (the whole graph fits — serving-cache scale, ~32k nodes at the
    // fixture Dim) collapses the ENTIRE search, beam rounds included,
    // into the one walk job; at corpus scale cumFrom(0) overflows the
    // budget and l0 lands on the geometrically-thin upper hierarchy.
    val bytesPerNode = 2L * (Dim * 8L + 2L * m * 16L)
    val cumFrom: Int => Long = l =>
      lvlCounts.collect { case (lv, c) if lv >= l => c }.sum
    val l0 = (0 to topLevel).find(l => cumFrom(l) * bytesPerNode <= MaxUpperBytes)
    l0.map { l0v =>
      val sessPrefix = s"${System.identityHashCode(s)}|"
      val key = s"$sessPrefix${BuildStore.key(d, tag, s"m$m")}|$l0v|$topLevel"
      if (!upperCache.containsKey(key)) boundUpperCache(sessPrefix)
      upperCache.computeIfAbsent(key, _ => {
        val vecs = Tables.embeddings(s, d)
          .withColumn("level", expr(levelExpr))
          .filter(col("level") >= l0v)
          .select(col("vec_id"), col("embedding")).collect()
          .map(r => r.getLong(0) ->
            r.getSeq[Double](1).toArray).toMap
        val adj = idxAll
          .filter(col("level").between(l0v, topLevel))
          .select(col("level"), col("src"), col("dst")).collect()
          .map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2))
          .groupBy(_._1).map { case (k, a) => k -> a.map(_._2).sorted }
        // entry: max node level, ties → min id (driver-side twin of the
        // levels projection; the entry's level ≥ topLevel ≥ l0, so it
        // is always in the collected set)
        val entryId = vecs.keys.minBy(id => (-HnswLevel.levelOf(id), id))
        UpperGraph(topLevel, l0v, entryId, adj, vecs)
      })
    }
  }

  /** Row emitted by the collapsed in-task descent: landing rows carry
    * the query vector forward into the beam rounds (and, in the
    * fully-collapsed l0=0 mode, the final beam pool with its 1-based
    * rank); visited rows are the scored expansions (qv null — never
    * read; rn 0 — never read). */
  private[operators] final case class WalkRow(
      query_id: Long, vec_id: Long, dist: Double,
      qv: Array[Double], landing: Boolean, rn: Int)

  /** Input row of the collapsed descent (named fields so the encoder
    * binds to the q projection by column name). */
  private[operators] final case class WalkIn(query_id: Long, qv: Array[Double])

  /** The hierarchical walk shared by [[hnswSearch]] (top-k of the
    * final pool) and [[hnswSearchFiltered]] (top-k of the VISITED set
    * under a metadata predicate): returns the final beam pool plus
    * every scored frontier expansion (seed, one per descent level, one
    * per beam round) — the walk's visited set, each piece query-sized.
    * Collecting the pieces adds no work to the unfiltered path: they
    * are the `scored` DataFrames the recurrence builds anyway, and
    * nothing materializes unless a caller unions them. */
  private def hnswWalk(
      s: SparkSession, d: String,
      nq: Int, beam: Int, rounds: Int,
      m: Int, truncateLineage: Boolean,
      approxIndex: Boolean = false): (DataFrame, Seq[DataFrame]) = {
    // LAZY checkpoint EVERY round is load-bearing, on both axes: the
    // pool feeds two downstream references per round (frontier +
    // union), so an un-truncated plan both re-executes each prior
    // round twice AND doubles the analyzed tree per round (measured
    // 2.2 s → 6.0 s when checkpointing only every third round) —
    // the leaf-plan cut must happen per round. But EAGER checkpoints
    // paid one scheduled job per level (~12 jobs of ~100 ms overhead
    // on μs of data — the r4 verdict's latency finding); lazy keeps
    // the leaf plan and the persisted-RDD dedup while letting the
    // whole descent run as ONE job at first action (measured
    // 2.5 s → 1.0 s at sf0.1).
    def cp(df: DataFrame): DataFrame =
      if (truncateLineage) df.localCheckpoint(eager = false) else df
    import s.implicits._
    val e = Tables.embeddings(s, d)
    // ONE level-census job (≤32 rows) yields both descent statistics:
    // the top OCCUPIED edge level (an edge at level l needs TWO
    // endpoints with level ≥ l, so it is the SECOND-highest node
    // level, capped at MaxLevel) and the census [[upperGraph]] sizes
    // its broadcast budget from. Pure-function levels projection — an
    // AQE-style statistic, not a corpus collect.
    val lvlCounts: Map[Int, Long] = e.select(expr(levelExpr).as("level"))
      .groupBy(col("level")).agg(count(lit(1)).as("c")).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    // empty corpus: every sibling search arm (annLsh, annIvf, ...)
    // returns an empty result; without this guard the census Map is
    // empty and keys.max throws at plan-construction time
    if (lvlCounts.isEmpty) {
      val empty = s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("query_id",
            org.apache.spark.sql.types.LongType, nullable = false),
          org.apache.spark.sql.types.StructField("vec_id",
            org.apache.spark.sql.types.LongType, nullable = false),
          org.apache.spark.sql.types.StructField("dist",
            org.apache.spark.sql.types.DoubleType, nullable = false),
          org.apache.spark.sql.types.StructField("qv",
            org.apache.spark.sql.types.ArrayType(
              org.apache.spark.sql.types.DoubleType), nullable = true))))
      return (empty, Seq.empty)
    }
    val maxNodeLvl = lvlCounts.keys.max
    val topLevel = math.min(MaxLevel,
      if (lvlCounts(maxNodeLvl) >= 2L) maxNodeLvl
      else lvlCounts.keys.filter(_ < maxNodeLvl).maxOption.getOrElse(0))
    val idxAll =
      if (approxIndex) ensureFullIndexVecApprox(s, d, m)
      else ensureFullIndexVec(s, d, m)
    // COLLAPSED upper descent: the per-level argmin recurrence above
    // level l0 runs as ONE in-task loop over a broadcast of the upper
    // hierarchy (geometrically small — see [[UpperGraph]]) instead of
    // topLevel chained broadcast-join rounds. Each chained round costs
    // a scheduled stage (~100 ms of driver latency on μs of data — the
    // r5 verdict's remaining hnsw_search latency finding); collapsing
    // the 8 fixture levels into one task cuts the job chain from ~12
    // to ~5. Identical math: same (dist, id) argmin order, same
    // strict-left-fold f64 distances ([[sqDistJvm]]), same visited
    // set — the driver hash gate and the in-test hierarchical
    // reference pin bitwise equality.
    val upper = upperGraph(s, d, m, topLevel, idxAll, lvlCounts,
      if (approxIndex) FullVecApproxTag else FullVecTag)
    val joinTop = upper.map(_.l0 - 1).getOrElse(topLevel)
    // vector-resident adjacency: one table per round, no dst-vector
    // lookup join — see [[ensureFullIndexVec]]. Cached as PER-LEVEL
    // slices covering only the levels the JOIN rounds will visit
    // (collapsed levels never scan the table; same-plan slices dedup
    // in Spark's cache manager, so repeated calls reuse, not re-add).
    val idxLvl: Map[Int, DataFrame] =
      (0 to joinTop).map(l => l -> idxAll.filter(col("level") === l).cache()).toMap
    // the frontier carries qv along (one 64-double array per pool row,
    // pool is ≤ beam·nq rows), so scoring needs NO query join either:
    // each round is edges ⋈ broadcast(frontier) — one broadcast, one
    // tiny argmin shuffle, down from three broadcasts + two joins
    val q = queryVecs(e, nq)
    var cur: DataFrame = null
    var visited: List[DataFrame] = Nil
    upper match {
      case Some(g) =>
        val bc = s.sparkContext.broadcast(g)
        val walk = q.as[WalkIn].mapPartitions { it =>
          val ug = bc.value
          it.flatMap { case WalkIn(qid, qv) =>
            val out = scala.collection.mutable.ArrayBuffer.empty[WalkRow]
            // seed: score the entry point (the join form's 1-row
            // crossJoin seed), then one greedy argmin step per level —
            // down to level 1; level 0 is beam territory, never greedy
            var curId = ug.entryId
            var curDist = sqDistJvm(ug.vecs(curId), qv)
            out += WalkRow(qid, curId, curDist, null, landing = false, rn = 0)
            var l = ug.topLevel
            while (l >= math.max(ug.l0, 1)) {
              val ns = ug.adj.getOrElse((l, curId), null)
              if (ns != null) {
                var i = 0
                while (i < ns.length) {
                  val id = ns(i)
                  val dd = sqDistJvm(ug.vecs(id), qv)
                  out += WalkRow(qid, id, dd, null, landing = false, rn = 0)
                  // the (dist, id) total order of min(struct(dist, id))
                  if (dd < curDist || (dd == curDist && id < curId)) {
                    curId = id; curDist = dd
                  }
                  i += 1
                }
              }
              l -= 1
            }
            if (ug.l0 == 0) {
              // FULLY-COLLAPSED beam: the join form's per-round
              // recurrence (expand level-0 neighbors of every pool
              // node, union, dedup bitwise-identical (dist, id) pairs,
              // sort by the (dist, id) struct order, keep `beam`) run
              // in-task. dist is a pure function of (query, id), so
              // pair-dedup ≡ the join form's array_distinct; tuple
              // sort order ≡ the struct lexicographic sort; sums of
              // squares are ≥ 0, so the -0.0/NaN corners where JVM and
              // SQL double order could differ cannot arise.
              var pool = scala.collection.immutable.Vector((curDist, curId))
              var r = 0
              while (r < rounds) {
                val scored = scala.collection.mutable.ArrayBuffer.empty[(Double, Long)]
                pool.foreach { case (_, src) =>
                  val ns = ug.adj.getOrElse((0, src), null)
                  if (ns != null) {
                    var i = 0
                    while (i < ns.length) {
                      val id = ns(i)
                      val dd = sqDistJvm(ug.vecs(id), qv)
                      scored += ((dd, id))
                      out += WalkRow(qid, id, dd, null, landing = false, rn = 0)
                      i += 1
                    }
                  }
                }
                pool = (pool ++ scored).distinct.sorted.take(beam)
                r += 1
              }
              var p = 0
              while (p < pool.length) {
                out += WalkRow(qid, pool(p)._2, pool(p)._1, qv,
                  landing = true, rn = p + 1)
                p += 1
              }
            } else {
              out += WalkRow(qid, curId, curDist, qv, landing = true, rn = 1)
            }
            out.iterator
          }
        }
        // lazy checkpoint: the walk output feeds both cur and visited —
        // one materialization, not two flatMap executions
        val out = cp(walk.toDF())
        cur =
          if (g.l0 == 0)
            out.filter(col("landing"))
              .select(col("query_id"), col("vec_id"), col("dist"),
                col("qv"), col("rn"))
          else
            out.filter(col("landing"))
              .select(col("query_id"), col("vec_id"), col("dist"), col("qv"))
        visited = List(out.filter(!col("landing"))
          .select(col("query_id"), col("vec_id"), col("dist")))
      case None =>
        // fallback (upper slice beyond broadcast budget): the original
        // per-level chain — seed from the 1-row entry lookup
        val entry = e
          .withColumn("level", expr(levelExpr))
          .orderBy(col("level").desc, col("vec_id")).limit(1)
          .select(col("vec_id"), col("embedding"))
        cur = cp(q.crossJoin(broadcast(entry))
          .select(col("query_id"), col("vec_id"),
            squaredL2(col("embedding"), col("qv")).as("dist"), col("qv")))
        visited = List(cur.select(col("query_id"), col("vec_id"), col("dist")))
    }
    // greedy descent join rounds for levels [1..joinTop] (empty when
    // the whole upper hierarchy collapsed — the usual case; at corpora
    // where even the top slice exceeds the broadcast budget, every
    // level runs here exactly as before)
    var l = joinTop
    while (l >= 1) {
      val scored = idxLvl(l)
        .join(broadcast(cur.select(
          col("query_id"), col("vec_id").as("src"), col("qv"))), "src")
        .select(col("query_id"), col("dst").as("vec_id"),
          squaredL2(col("dv"), col("qv")).as("dist"), col("qv"))
      visited ::= scored.select(col("query_id"), col("vec_id"), col("dist"))
      // argmin as a hash aggregate (map-side partials), not a window:
      // min(struct(dist, vec_id)) IS the (dist, id) total order of the
      // reference's CandidateNode heap — same row survives, no
      // exchange+sort+window chain on the μs-sized pool
      cur = cp(cur.unionByName(scored)
        .groupBy(col("query_id"))
        .agg(min(struct(col("dist"), col("vec_id"))).as("mn"),
          first(col("qv")).as("qv"))
        .select(col("query_id"), col("mn.vec_id").as("vec_id"),
          col("mn.dist").as("dist"), col("qv")))
      l -= 1
    }
    // bottom layer: beam expansion from the descent's landing node
    // (already done in-task when the whole graph collapsed — then
    // `cur` IS the final ranked pool and idxLvl holds no level 0)
    var pool = cur
    var r = if (upper.exists(_.l0 == 0)) rounds else 0
    lazy val g0 = idxLvl(0)
    while (r < rounds) {
      val scored = g0
        .join(broadcast(pool.select(
          col("query_id"), col("vec_id").as("src"), col("qv"))), "src")
        .select(col("query_id"), col("dst").as("vec_id"),
          squaredL2(col("dv"), col("qv")).as("dist"), col("qv"))
      visited ::= scored.select(col("query_id"), col("vec_id"), col("dist"))
      // dedup + top-beam in ONE aggregation: collect_list →
      // array_distinct (duplicates are bitwise-identical (dist,
      // vec_id) structs — the distance is a pure function of (query,
      // dst), so every re-reach of a node yields the same struct) →
      // array_sort (struct lexicographic order IS the (dist, vec_id)
      // window order) → slice beam → posexplode (position+1 IS
      // row_number). One exchange per round instead of the groupBy +
      // window chain's two, and no sort exchange; the per-query array
      // is ≤ beam·(m+1) structs — bounded, scale-safe.
      // qv is constant per query_id, so first() is value-deterministic.
      val ranked = pool.unionByName(scored)
        .groupBy(col("query_id"))
        .agg(slice(array_sort(array_distinct(
            collect_list(struct(col("dist"), col("vec_id"))))), 1, beam).as("top"),
          first(col("qv")).as("qv"))
        .select(col("query_id"), col("qv"), posexplode(col("top")).as(Seq("p", "sv")))
        .select(col("query_id"), col("sv.vec_id").as("vec_id"),
          col("sv.dist").as("dist"), col("qv"), (col("p") + 1).as("rn"))
      // the FINAL round keeps its rank column: it carries the same
      // 1..beam ranks [[topK]]'s window would recompute, so the top-k
      // filters rn ≤ k directly
      pool = cp(if (r == rounds - 1) ranked else ranked.drop("rn"))
      r += 1
    }
    (pool, visited.reverse)
  }

  private[operators] def hnswSearchRaw(
      s: SparkSession, d: String,
      nq: Int = 10, k: Int = 10, beam: Int = 16, rounds: Int = 3,
      m: Int = 16, truncateLineage: Boolean = true): DataFrame =
    topK(hnswWalk(s, d, nq, beam, rounds, m, truncateLineage)._1, k).drop("qv")

  def hnswSearch(
      s: SparkSession, d: String,
      nq: Int = 10, k: Int = 10, beam: Int = 16, rounds: Int = 3,
      m: Int = 16, truncateLineage: Boolean = true): DataFrame =
    hnswSearchRaw(s, d, nq, k, beam, rounds, m, truncateLineage)
      .orderBy(col("query_id"), col("rnk"))

  /** Hierarchical search served from the APPROXIMATE index — the
    * lifecycle cell that makes the scale path complete end-to-end:
    * [[hnswEdgesApprox]] (LSH-candidate build, no O(n²) stage)
    * persisted once ([[ensureFullIndexVecApprox]]), then the exact
    * same descent + beam walk as [[hnswSearch]] over it. At corpus
    * sizes where the exact block self-join build is unaffordable,
    * this pair IS the index: approximate build, hierarchical serve —
    * the composition the reference's `ef_construction` knob gestures
    * at and never ships. Recall vs the exact-index walk is pinned in
    * AnnSpec; the oracle rebuilds the identical approx graph (the
    * hash-green `hnsw_edges_approx` SQL) and unrolls the identical
    * descent recurrence, so the gate hash-proves the full
    * build→persist→serve chain. */
  private[operators] def hnswSearchApproxRaw(
      s: SparkSession, d: String,
      nq: Int = 10, k: Int = 10, beam: Int = 16, rounds: Int = 3,
      m: Int = 16, truncateLineage: Boolean = true): DataFrame =
    topK(hnswWalk(s, d, nq, beam, rounds, m, truncateLineage,
      approxIndex = true)._1, k).drop("qv")

  def hnswSearchApprox(
      s: SparkSession, d: String,
      nq: Int = 10, k: Int = 10, beam: Int = 16, rounds: Int = 3,
      m: Int = 16, truncateLineage: Boolean = true): DataFrame =
    hnswSearchApproxRaw(s, d, nq, k, beam, rounds, m, truncateLineage)
      .orderBy(col("query_id"), col("rnk"))

  /** FILTERED approximate search — the metadata-constrained serving
    * query composed into the hierarchical walk ([[Knn.knnFiltered]] is
    * the exact form; this is the approximate cell of the vector-DB
    * feature matrix the exact form's docstring flags as the one graph
    * indexes struggle with). Semantics, mirrored by the oracle:
    *
    *   - NAVIGATION IS UNFILTERED: the descent + beam recurrence walks
    *     the same graph as [[hnswSearch]] — excluded nodes still route
    *     (the standard fix for filtered HNSW: a walk constrained to
    *     matching nodes fragments and strands);
    *   - the result is the top-k BY (dist, id) of the walk's VISITED
    *     set (every node the walk ever scored — strictly more than the
    *     final pool) restricted to the predicate (`label % 2 = 0`,
    *     [[Knn.knnFiltered]]'s stand-in metadata constraint);
    *   - the beam is over-expanded (32 vs the unfiltered 16) and one
    *     extra round run, compensating for the ~half of visited nodes
    *     the predicate discards — recall vs the filtered-exact oracle
    *     ≥0.9, pinned in AnnSpec.
    *
    * Same physics as [[hnswSearch]]: the corpus never shuffles; the
    * visited set is query-sized (≤ nq·beam·m·rounds rows before
    * dedup), broadcast against the stationary label projection for the
    * predicate join. */
  private[operators] def hnswSearchFilteredRaw(
      s: SparkSession, d: String,
      nq: Int = 10, k: Int = 10, beam: Int = 32, rounds: Int = 4,
      m: Int = 16, truncateLineage: Boolean = true): DataFrame = {
    val (_, visited) = hnswWalk(s, d, nq, beam, rounds, m, truncateLineage)
    val vis = visited.reduce(_ unionByName _)
      .groupBy(col("query_id"), col("vec_id"))
      .agg(min(col("dist")).as("dist"))
    val lbl = Tables.embeddings(s, d).select(col("vec_id"), col("label"))
    topK(lbl.join(broadcast(vis), "vec_id")
      .filter(col("label") % 2 === 0)
      .select(col("query_id"), col("vec_id"), col("dist")), k)
  }

  def hnswSearchFiltered(
      s: SparkSession, d: String,
      nq: Int = 10, k: Int = 10, beam: Int = 32, rounds: Int = 4,
      m: Int = 16, truncateLineage: Boolean = true): DataFrame =
    hnswSearchFilteredRaw(s, d, nq, k, beam, rounds, m, truncateLineage)
      .orderBy(col("query_id"), col("rnk"))

  /** SQ8 scalar quantization: each dimension linearly mapped to an
    * int8 code by its corpus-wide [min, max] — the 4×-smaller storage
    * representation every vector store ships (f32 → u8; here the
    * fixture's doubles quantize the same way). Declared exploded
    * (vec_id, pos, code) for the scalar-only gate contract. Shape:
    * posexplode (a flatMap), a 64-row min/max aggregate broadcast
    * back, and a per-element map — corpus-sized work is map-only. */
  def sq8Codes(s: SparkSession, d: String): DataFrame = {
    val ex = Tables.embeddings(s, d)
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("pos", "val")))
    val dims = ex.groupBy(col("pos"))
      .agg(min(col("val")).as("dmin"), max(col("val")).as("dmax"))
    ex.join(broadcast(dims), "pos")
      .withColumn("code",
        when(col("dmax") === col("dmin"), lit(0)).otherwise(
          least(lit(255), greatest(lit(0),
            round((col("val") - col("dmin")) / (col("dmax") - col("dmin")) * 255)
              .cast("int")))))
      .select(col("vec_id"), col("pos"), col("code"))
      .orderBy(col("vec_id"), col("pos"))
  }

  /** Approximate k-NN over the SQ8-quantized corpus: distances are
    * computed against RECONSTRUCTED vectors (code/255·(max−min)+min),
    * queries stay exact — the asymmetric-distance convention. The
    * reconstruction is a per-row array fold (strict left-to-right, so
    * the dist is bit-deterministic and oracle-checkable); at serving
    * scale the codes table is the resident index at ¼ the footprint,
    * and the 2×64-value dim bounds ride along as a broadcast. */
  private[graft] def annSq8Raw(s: SparkSession, d: String, nq: Int = 10, k: Int = 10): DataFrame = {
    val e = Tables.embeddings(s, d)
    // ONE corpus aggregation derives the 64 (dmin, dmax) bounds and
    // collapses them to a 1-row broadcast of two arrays; encode AND
    // reconstruct then happen in a single map over the corpus — the
    // quantize→reconstruct round trip is a per-element expression, so
    // no posexplode of the corpus, no explode→collect_list reassembly
    // shuffles (the r4 shape scanned embeddings three times and
    // shuffled 64n scalar rows twice for identical output).
    val dimsArr = e
      .select(posexplode(col("embedding")).as(Seq("pos", "val")))
      .groupBy(col("pos"))
      .agg(min(col("val")).as("dmin"), max(col("val")).as("dmax"))
      .groupBy()
      .agg(
        transform(array_sort(collect_list(struct(col("pos"), col("dmin")))),
          x => x.getField("dmin")).as("dmin_a"),
        transform(array_sort(collect_list(struct(col("pos"), col("dmax")))),
          x => x.getField("dmax")).as("dmax_a"))
    // 255.0D: a bare 255.0 parses as DECIMAL(4,1) in Spark SQL and
    // the division would round in decimal arithmetic (~1e-6 error vs
    // the IEEE double division DuckDB performs)
    val rec = e.select(col("vec_id"), col("embedding"))
      .crossJoin(broadcast(dimsArr))
      .withColumn("rv", expr(
        s"""transform(sequence(1, $Dim), i ->
           |  CASE WHEN element_at(dmax_a, i) = element_at(dmin_a, i)
           |       THEN element_at(dmin_a, i)
           |       ELSE least(255, greatest(0,
           |              CAST(round((element_at(embedding, i) - element_at(dmin_a, i))
           |                   / (element_at(dmax_a, i) - element_at(dmin_a, i)) * 255) AS INT)))
           |            / 255.0D
           |            * (element_at(dmax_a, i) - element_at(dmin_a, i))
           |            + element_at(dmin_a, i) END)""".stripMargin))
      .select(col("vec_id"), col("rv"))
    topK(rec.crossJoin(broadcast(queryVecs(e, nq)))
      .select(col("query_id"), col("vec_id"),
        squaredL2(col("rv"), col("qv")).as("dist")), k)
  }

  def annSq8(s: SparkSession, d: String, nq: Int = 10, k: Int = 10): DataFrame =
    annSq8Raw(s, d, nq, k).orderBy(col("query_id"), col("rnk"))

  /** Binary quantization: one SIGN BIT per dimension, packed into two
    * 32-bit halves (a single 64-bit a·2+b fold would overflow the
    * signed long under ANSI mode) — the 64×-smaller representation
    * whose Hamming distance approximates angular distance on
    * centered data. Map-only. */
  def bqCodes(s: SparkSession, d: String): DataFrame = {
    // codegen'd sign-bit packing (bit-identical to the retired
    // `aggregate(sequence(...))` HOF, whose interpreted per-element
    // lambda ran over every corpus row — guide step 4: no non-codegen
    // expressions in per-row hot paths; [[SignBits]] states the exact
    // HOF it replaces, null semantics included)
    Tables.spread(s, Tables.embeddings(s, d))
      .select(col("vec_id"),
        signBits(col("embedding"), 1, 32).as("b0"),
        signBits(col("embedding"), 33, 64).as("b1"))
      .orderBy(col("vec_id"))
  }

  /** Binary-quantized search: Hamming pre-ranking over the packed sign
    * bits selects [[BqShortlist]] candidates per query, and
    * [[exactRerank]] recovers the final top-k — the standard two-stage
    * BQ serving shape (the first stage touches 16 bytes/vector, the
    * second only the shortlist's full vectors). The fixture-scale
    * candidate generation is a code-only broadcast cross join (3 longs
    * per corpus row); at index scale the first stage becomes a
    * multi-index banded equi-join over code chunks — the
    * [[TextOps.simhashNearDup]] plan shape, pigeonhole over bands. */
  private[graft] def annBqRaw(s: SparkSession, d: String,
            nq: Int = 10, k: Int = 10): DataFrame = {
    val c = bqCodes(s, d)
    val qc = c.filter(col("vec_id") < nq)
      .select(col("vec_id").as("query_id"), col("b0").as("qb0"), col("b1").as("qb1"))
    // the Hamming distance ranks the shortlist in the `dist` slot
    val ham = c.crossJoin(broadcast(qc))
      .select(col("query_id"), col("vec_id"),
        (expr("bit_count(b0 ^ qb0)") + expr("bit_count(b1 ^ qb1)")).as("dist"))
    exactRerank(Tables.embeddings(s, d), topK(ham, BqShortlist), nq, k, bounded = true)
  }

  def annBq(s: SparkSession, d: String, nq: Int = 10, k: Int = 10): DataFrame =
    annBqRaw(s, d, nq, k).orderBy(col("query_id"), col("rnk"))

  /** Hamming shortlist size per query of [[annBq]]. */
  private val BqShortlist = 50

  private val PqSubs = 8   // subspaces (64 dims / 8)
  private val PqSubDim = 8 // dims per subspace
  private val PqK = 16     // codewords per subspace

  /** Deterministic PQ codebook: codeword c of subspace s = the s-th
    * 8-dim slice of corpus vector c (vec_id < 16) — a sampled codebook
    * (the degenerate-but-valid variant of the usual per-subspace
    * k-means training; sampling keeps it a pure function of the corpus
    * so both engines derive the identical codebook). 128 rows total,
    * broadcast everywhere it is used. */
  private def pqCodebook(s: SparkSession, d: String): DataFrame = {
    val subs = (0 until PqSubs).map { sub =>
      struct(lit(sub).as("sub"),
        slice(col("embedding"), sub * PqSubDim + 1, PqSubDim).as("cw"))
    }
    val cb = Tables.embeddings(s, d).filter(col("vec_id") < PqK)
      .select(col("vec_id").cast("int").as("code"), explode(array(subs: _*)).as("sc"))
      .select(col("sc.sub").as("sub"), col("code"), col("sc.cw").as("cw"))
    // the sampled-codebook contract assumes vec_ids 0..PqK-1 exist and
    // are contiguous; a re-keyed or smaller corpus would otherwise
    // yield a silently incomplete codebook that annPq's fixed
    // PqK-stride LUT indexing reads out of — fail loudly instead.
    // Validated ONCE per (session, fixture dir): the check is an eager
    // count() at plan-construction time, and annPqRaw reaches this
    // codebook twice (LUT + codes), so an unmemoized check would bill
    // two extra Spark jobs to every PQ plan construction.
    // keyed through BuildStore so the CONTENT digest rides along: an
    // in-place fixture regeneration (re-keyed vec_ids, same dir) must
    // re-validate, not skip the completeness check it exists for
    val vkey = s"${System.identityHashCode(s)}|${BuildStore.key(d, "pqvalidation")}"
    if (!pqValidated.contains(vkey)) {
      val n = cb.count()
      require(n == PqSubs.toLong * PqK,
        s"PQ codebook incomplete: expected ${PqSubs * PqK} (sub, code) rows, " +
          s"got $n — corpus must contain contiguous vec_ids 0..${PqK - 1}")
      pqValidated.add(vkey)
    }
    cb
  }
  private val pqValidated =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Product quantization: each vector → 8 sub-codes (one per 8-dim
    * subspace), code = argmin by (subdistance, code) over the 16
    * broadcast codewords of that subspace — 64 doubles become 8 small
    * ints, a 16× compression with per-subspace resolution (vs [[annBq]]'s
    * 1 bit/dim and [[sq8Codes]]' per-dim linear map). Shape: slice is
    * per-row (map-only), the codebook broadcasts, and the argmin is a
    * map-side partial `min(struct(cd, code))` — the corpus shuffles
    * once as (vec_id, sub) partials, never the crossed ×16 rows. */
  /** The flattened PQ codebook as ONE broadcastable array row, sorted
    * (sub, code) — the input shape [[graft.functions.expressions
    * .PqEncode]] requires. subs·k rows reduced once; never corpus-scale. */
  private def pqCodebookArray(cb: DataFrame): DataFrame =
    cb.agg(sort_array(collect_list(
      struct(col("sub"), col("code"), col("cw")))).as("cbarr"))

  private def pqCodesRaw(s: SparkSession, d: String): DataFrame = {
    // all 8 sub-codes per row in one codegen'd pass over the broadcast
    // codebook ([[PqEncode]]) — MAP-ONLY, where the explode ⨯ cb join →
    // groupBy(vec_id, sub) argmin shuffled the corpus (×8 sub rows)
    // once; bit-identical codes (same strict-fold subdistances, same
    // (cd, code) tie order), so the oracle SQL is untouched
    Tables.spread(s, Tables.embeddings(s, d))
      .crossJoin(broadcast(pqCodebookArray(pqCodebook(s, d))))
      .select(col("vec_id"),
        posexplode(pqEncode(col("embedding"), col("cbarr"), PqSubs, PqSubDim))
          .as(Seq("sub", "code")))
  }

  def pqCodes(s: SparkSession, d: String): DataFrame =
    pqCodesRaw(s, d).orderBy(col("vec_id"), col("sub"))

  /** Shortlist factor of the PQ arms: ADC ranks the top
    * (PqRerankWiden·k) candidates per query and [[exactRerank]]
    * verifies them to k. Re-rank-free ADC graded 0.20/0.19 recall for
    * pq/ivfpq at sf10 (SCALING_SF10.md §7.5); the exact verification
    * of the standard two-stage PQ serving shape (Jégou, Douze & Schmid,
    * TPAMI 2011 §V) is the fix. 4 mirrors [[DiversityWiden]]. */
  private val PqRerankWiden = 4

  /** PQ approximate k-NN via asymmetric distance computation (ADC):
    * per query, a 8×16 lookup table of exact subspace distances to
    * every codeword; per corpus vector, adc ≈ Σ_s LUT[s][code_s] — a
    * strict left fold over the flattened LUT, so bit-deterministic and
    * oracle-checkable. The ADC scan yields the [[PqRerankWiden]]·k
    * shortlist per query. The corpus is touched only through its
    * 8-byte code rows plus the shortlist fetch; the LUT is query-sized
    * and broadcasts; both stages are map-only + bounded top-k. */
  private[graft] def annPqRaw(s: SparkSession, d: String, nq: Int = 10,
                              k: Int = 10): DataFrame = {
    val e = Tables.embeddings(s, d)
    val cb = pqCodebook(s, d)
    // codes array straight from the codegen'd per-row encoder — the
    // previous shape re-aggregated pqCodesRaw's exploded rows with a
    // SECOND corpus exchange (collect_list by vec_id) just to get the
    // array back; [[PqEncode]] emits it map-only and bit-identically
    val codes = Tables.spread(s, e).crossJoin(broadcast(pqCodebookArray(cb)))
      .select(col("vec_id"),
        pqEncode(col("embedding"), col("cbarr"), PqSubs, PqSubDim).as("codes"))
    val qsubs = (0 until PqSubs).map { sub =>
      struct(lit(sub).as("sub"),
        slice(col("embedding"), sub * PqSubDim + 1, PqSubDim).as("qsv"))
    }
    val qsv = e.filter(col("vec_id") < nq)
      .select(col("vec_id").as("query_id"), explode(array(qsubs: _*)).as("sc"))
      .select(col("query_id"), col("sc.sub").as("sub"), col("sc.qsv").as("qsv"))
    // flattened sub-major, code-minor: LUT[(s-1)*16 + code + 1]
    val lut = qsv.join(broadcast(cb), "sub")
      .select(col("query_id"), col("sub"), col("code"),
        squaredL2(col("qsv"), col("cw")).as("ld"))
      .groupBy(col("query_id"))
      .agg(transform(
        array_sort(collect_list(struct(col("sub"), col("code"), col("ld")))),
        x => x.getField("ld")).as("lut"))
    // codegen'd ADC fold ([[AdcDist]]) — this is the per-(corpus row ×
    // query) hot loop of the scan, previously an interpreted
    // `aggregate(sequence(...))` lambda with boxed element_at reads
    val adc = codes.crossJoin(broadcast(lut))
      .withColumn("dist", adcDist(col("codes"), col("lut"), PqK))
      .select(col("query_id"), col("vec_id"), col("dist"))
    exactRerank(e, topK(adc, PqRerankWiden * k), nq, k, bounded = true)
  }

  def annPq(s: SparkSession, d: String, nq: Int = 10, k: Int = 10): DataFrame =
    annPqRaw(s, d, nq, k).orderBy(col("query_id"), col("rnk"))

  /** IVF-PQ — the composed production index (faiss `IVFx,PQy`): coarse
    * IVF cells ([[ivfAssignWith]], deterministic label centroids) with
    * RESIDUAL product quantization — each vector is stored as its cell
    * id + the PQ codes of (v − centroid(cell)), and a query scans only
    * its `nprobe` nearest cells through a per-(query, cell) ADC lookup
    * table built from the QUERY residual against that cell. Encoding
    * residuals instead of raw vectors is what makes the composition
    * worth having: residual norms shrink with cell radius, so the same
    * 8×16 codebook quantizes far finer than [[annPq]]'s global codes.
    *
    * Deterministic end-to-end (centroids are the decimal-exact label
    * means, the residual codebook is sampled from vec_id < 16 — both
    * pure functions of the corpus), so the full pipeline is
    * hash-oracle-checkable like its parts.
    *
    * Scale shape: corpus touched once to encode (map-only after one
    * broadcast-assign), once to scan codes in probed cells (cell
    * equi-join against the query-sized probe list — |probed cells|
    * rows, not |corpus|); centroids, codebook, and the nq·nprobe·128
    * LUT rows broadcast; the ADC shortlist ends in [[exactRerank]]. */
  private[graft] def annIvfPqRaw(
      s: SparkSession, d: String,
      nq: Int = 10, k: Int = 10, nprobe: Int = 3): DataFrame = {
    val e = Tables.embeddings(s, d)
    val cent = Similarity.centroids(s, d)
    val cellVec = cent.select(col("clabel").as("cell"), col("cvec"))
    // residuals: v − centroid(cell(v)) — one broadcast assign + zip_with
    val resid = Tables.spread(s, e)
      .join(ivfAssignWith(e, cent).select(col("vec_id"), col("cell")), "vec_id")
      .join(broadcast(cellVec), "cell")
      .select(col("vec_id"), col("cell"),
        zip_with(col("embedding"), col("cvec"), (a, b) => a - b).as("rv"))
    // sampled RESIDUAL codebook (the [[pqCodebook]] contract on rv)
    val cbSubs = (0 until PqSubs).map { sub =>
      struct(lit(sub).as("sub"), slice(col("rv"), sub * PqSubDim + 1, PqSubDim).as("cw"))
    }
    val cb = resid.filter(col("vec_id") < PqK)
      .select(col("vec_id").cast("int").as("code"), explode(array(cbSubs: _*)).as("sc"))
      .select(col("sc.sub").as("sub"), col("code"), col("sc.cw").as("cw"))
    // per-vector residual codes in one codegen'd map pass
    // ([[PqEncode]] over the broadcast residual codebook) — the
    // previous shape shuffled the corpus TWICE (argmin groupBy per
    // (vec, cell, sub), then a collect_list groupBy to re-assemble the
    // codes array); bit-identical codes, so the oracle is untouched
    val codes = resid
      .crossJoin(broadcast(pqCodebookArray(cb)))
      .select(col("vec_id"), col("cell"),
        pqEncode(col("rv"), col("cbarr"), PqSubs, PqSubDim).as("codes"))
    // nprobe nearest cells per query, query residual per probed cell
    val probed = probeCells(queryVecs(e, nq), cent, nprobe)
      .select(col("query_id"), col("cell"),
        zip_with(col("qv"), col("cvec"), (a, b) => a - b).as("qr"))
    // per-(query, cell) ADC LUT over the query residual
    val qsv = probed.select(col("query_id"), col("cell"),
        explode(array((0 until PqSubs).map { sub =>
          struct(lit(sub).as("sub"), slice(col("qr"), sub * PqSubDim + 1, PqSubDim).as("qsv"))
        }: _*)).as("sc"))
      .select(col("query_id"), col("cell"), col("sc.sub").as("sub"), col("sc.qsv").as("qsv"))
    val lut = qsv.join(broadcast(cb), "sub")
      .select(col("query_id"), col("cell"), col("sub"), col("code"),
        squaredL2(col("qsv"), col("cw")).as("ld"))
      .groupBy(col("query_id"), col("cell"))
      .agg(transform(
        array_sort(collect_list(struct(col("sub"), col("code"), col("ld")))),
        x => x.getField("ld")).as("lut"))
    // ADC scan restricted to probed cells: cell equi-join, then the
    // codegen'd strict-left-fold LUT sum ([[AdcDist]]) — map-only over
    // the candidate rows; its shortlist is verified like [[annPqRaw]]'s
    val adc = codes.join(broadcast(lut), Seq("cell"))
      .withColumn("dist", adcDist(col("codes"), col("lut"), PqK))
      .select(col("query_id"), col("vec_id"), col("dist"))
    exactRerank(e, topK(adc, PqRerankWiden * k), nq, k, bounded = true)
  }

  def annIvfPq(s: SparkSession, d: String,
               nq: Int = 10, k: Int = 10, nprobe: Int = 3): DataFrame =
    annIvfPqRaw(s, d, nq, k, nprobe).orderBy(col("query_id"), col("rnk"))

  /** MMR (maximal marginal relevance) diversified re-rank — the
    * standard retrieval post-processor an LLM RAG pipeline runs on a
    * raw top-k: greedily pick, per query, the candidate minimizing
    * `dist_to_query − μ · min-dist-to-already-selected` (ties → id) —
    * relevance traded against redundancy, so near-duplicate hits stop
    * crowding the result list. Round 1 is plain argmin by distance.
    *
    * Shape: the candidate pool is the exact top-`cand` per query (the
    * custom KnnJoin operator), pairwise candidate distances are a
    * query-local self-join (cand² rows per query — candidates are
    * broadcast-sized BY CONSTRUCTION, the corpus is touched only by
    * the initial top-cand scan), and each greedy round is a pair of
    * query-sized joins + a map-side argmin aggregate. k rounds, all
    * lazily checkpointed — the driver never sees a row. Determinism:
    * every distance is the strict-fold kernel, min() over doubles is
    * order-insensitive, and the score arithmetic `dist − μ·minpd` is
    * one double expression mirrored exactly by the oracle's unroll. */
  def mmrRerank(s: SparkSession, d: String, nq: Int = 10, k: Int = 10,
                cand: Int = 30, mu: Double = 0.5): DataFrame = {
    // r14: the k-round greedy recurrence runs as ONE expression eval
    // per query group ([[graft.functions.expressions.MmrSelect]] — the
    // [[diversityView]] greedy-scan treatment applied to MMR) instead
    // of k−1 rounds of {anti-join, penalty join + min aggregate,
    // argmin aggregate} over query-sized tables — ~30 operators, 9
    // sequential plan roots and their lazy checkpoints, all moving ≤
    // nq·cand rows per round with a full scheduling round-trip each.
    // Bit-identical selection (the expression doc gives the argument:
    // same strict-fold pairwise distances, same IEEE min over selected,
    // same (score, id) tie order), so the unrolled-SQL oracle is
    // untouched. Plan: exact top-cand scan (the corpus-sized stage,
    // unchanged) → broadcast shortlist back onto the corpus scan for
    // vectors → one query-count-sized collect_list group → map.
    val e = Tables.embeddings(s, d)
    val base = graft.plans.KnnJoin.exact(e, e.filter(col("vec_id") < nq), cand)
      .select(col("query_id"), col("vec_id"), col("dist"))
    val withV = e.select(col("vec_id"), col("embedding"))
      .join(broadcast(base), "vec_id")
    val sel = SqlBridge.column(graft.functions.expressions.MmrSelect(
      SqlBridge.expression(sort_array(collect_list(
        struct(col("dist"), col("vec_id"), col("embedding"))))), k, mu))
    withV.groupBy(col("query_id"))
      .agg(sel.as("sel"))
      .select(col("query_id"), posexplode(col("sel")).as(Seq("pos", "vec_id")))
      .select(col("query_id"), col("vec_id"), (col("pos") + lit(1)).as("rnk"))
      .orderBy(col("query_id"), col("rnk"))
  }

  /** Arm names of the recall report, alphabetical (= output order);
    * "ivfk" is the k-means-trained IVF ([[annIvfTrained]]), "hnswa"
    * the approximate-index hierarchical walk ([[hnswSearchApprox]]),
    * "ivfpq" the residual-coded composed index ([[annIvfPq]]). */
  private[operators] val RecallArms: Seq[String] =
    Seq("bq", "graph", "hnsw", "hnswa", "ivf", "ivfk", "ivfpq", "lsh", "pq", "sq8")

  /** Every approximate serving arm's UNSORTED internal form, named as
    * in [[RecallArms]]: `(query_id, vec_id, dist, rnk)` per arm. */
  private[graft] def servingArms(s: SparkSession, d: String,
                                 nq: Int, k: Int): Seq[(String, DataFrame)] = {
    val arms = Seq(
      "bq"    -> annBqRaw(s, d, nq, k),
      "graph" -> annGraphSearchRaw(s, d, nq, k),
      "hnsw"  -> hnswSearchRaw(s, d, nq, k),
      "hnswa" -> hnswSearchApproxRaw(s, d, nq, k),
      "ivf"   -> annIvfRaw(s, d, nq, k),
      "ivfk"  -> annIvfTrainedRaw(s, d, nq, k),
      "ivfpq" -> annIvfPqRaw(s, d, nq, k),
      "lsh"   -> annLshRaw(s, d, nq, k),
      "pq"    -> annPqRaw(s, d, nq, k),
      "sq8"   -> annSq8Raw(s, d, nq, k))
    require(arms.map(_._1) == RecallArms, "arm list drifted from RecallArms")
    arms
  }

  /** Recall@k self-evaluation — the measurement every ANN deployment
    * ships next to its index: per (arm, query), |approx ∩ exact| / k,
    * for EVERY approximate serving arm (bq, graph, hnsw, hnswa, ivf,
    * ivfk, ivfpq, lsh, pq, sq8) against the exact batch k-NN as
    * ground truth — the published
    * search-quality evidence the reference never measured
    * (`benchmarks/benchmark.md:107-113`, "approximate, recall
    * unmeasured"). All arms are existing declared plans composed on
    * their UNSORTED internal forms (the declared forms' global sorts
    * would be dead work under the join); the intersection per arm is
    * an equi-join of two k-row-per-query sets, so the whole report
    * adds arm-count query-sized joins regardless of corpus size. */
  def annRecallReport(s: SparkSession, d: String, nq: Int = 10, k: Int = 10): DataFrame = {
    val e = Tables.embeddings(s, d)
    val exact = graft.plans.KnnJoin.exact(e, e.filter(col("vec_id") < nq), k)
      .select(col("query_id"), col("vec_id"))
    val approx = servingArms(s, d, nq, k).map { case (n, df) =>
      df.select(lit(n).as("arm"), col("query_id"), col("vec_id"))
    }.reduce(_ unionByName _)
    val hits = approx.join(exact, Seq("query_id", "vec_id"))
      .groupBy(col("arm"), col("query_id")).agg(count(lit(1)).as("hits"))
    // (arm × query) grid, map-only, so arms with zero hits still report
    val grid = e.filter(col("vec_id") < nq)
      .select(col("vec_id").as("query_id"),
        explode(array(RecallArms.map(lit): _*)).as("arm"))
    grid.join(hits, Seq("arm", "query_id"), "left")
      .select(col("arm"), col("query_id"),
        coalesce(col("hits"), lit(0L)).as("hits"),
        (coalesce(col("hits"), lit(0L)) / lit(k.toDouble)).as("recall"))
      .orderBy(col("arm"), col("query_id"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ann_graph_search" -> ((s, d) => annGraphSearch(s, d)),
    "lsh_buckets" -> ((s, d) => lshBuckets(s, d)),
    "ann_lsh"     -> ((s, d) => annLsh(s, d)),
    "neardup_lsh" -> ((s, d) => neardupLsh(s, d)),
    "ivf_assign"  -> ((s, d) => ivfAssign(s, d)),
    "ann_ivf"     -> ((s, d) => annIvf(s, d)),
    "ann_ivf_trained" -> ((s, d) => annIvfTrained(s, d)),
    "hnsw_levels" -> ((s, d) => hnswLevels(s, d)),
    "hnsw_edges"  -> ((s, d) => hnswEdges(s, d)),
    "hnsw_edges_plain" -> ((s, d) => hnswEdgesPlain(s, d)),
    "hnsw_edges_approx" -> ((s, d) => hnswEdgesApprox(s, d)),
    "hnsw_insert_delta" -> ((s, d) => hnswInsertDelta(s, d)),
    "hnsw_delete_delta" -> ((s, d) => hnswDeleteDelta(s, d)),
    "index_stats" -> ((s, d) => indexStats(s, d)),
    "hnsw_upsert_roundtrip" -> ((s, d) => hnswUpsertRoundtrip(s, d)),
    "hnsw_search" -> ((s, d) => hnswSearch(s, d)),
    "hnsw_search_approx" -> ((s, d) => hnswSearchApprox(s, d)),
    "hnsw_search_filtered" -> ((s, d) => hnswSearchFiltered(s, d)),
    "sq8_codes"   -> ((s, d) => sq8Codes(s, d)),
    "ann_sq8"     -> ((s, d) => annSq8(s, d)),
    "bq_codes"    -> ((s, d) => bqCodes(s, d)),
    "ann_bq"      -> ((s, d) => annBq(s, d)),
    "pq_codes"    -> ((s, d) => pqCodes(s, d)),
    "ann_pq"      -> ((s, d) => annPq(s, d)),
    "ann_ivfpq"   -> ((s, d) => annIvfPq(s, d)),
    "ann_recall_report" -> ((s, d) => annRecallReport(s, d)),
    "mmr_rerank" -> ((s, d) => mmrRerank(s, d))
  )

  private val duckHash60 = "CAST(('0x' || substr(md5(%s), 1, 15)) AS BIGINT)"
  private def duckUnit(key: String) =
    s"((${duckHash60.format(key)} % 1000001) / 1000000.0 - 0.5)"
  private val duckSq = "list_sum(list_transform(list_zip(%s, %s), p -> (p[1]-p[2])*(p[1]-p[2])))"

  /** The oracle's corpus: `e(vec_id, v)` with DOUBLE elements. */
  private val corpusCte =
    "e AS MATERIALIZED (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings)"

  /** SQL twin of [[levelExpr]]: `h(vec_id, hv)` and `lv(vec_id, level)`.
    * Not MATERIALIZED: DuckDB 1.0.0 fails a query that binds a
    * materialized CTE's name again in a nested WITH ("Duplicate
    * alias"), and the `index_stats` oracle nests an edges oracle under
    * its own `h`/`lv`. */
  private val levelCtes =
    s"""h AS (SELECT vec_id, ${duckHash60.format("CAST(vec_id AS STRING)")} AS hv FROM embeddings),
       |lv AS (SELECT vec_id, least(31, CAST(len(regexp_extract(
       |         reverse(bin(hv)), '^0*')) AS INT)) AS level FROM h)""".stripMargin

  /** [[levelCtes]] plus the levelled corpus `e(vec_id, label, v,
    * level)`, restricted to `corpusWhere` over `embeddings em`. */
  private def levelCorpusCtes(corpusWhere: String = "TRUE"): String =
    s"""$levelCtes,
       |e AS MATERIALIZED (SELECT em.vec_id, em.label, list_transform(em.embedding, x -> CAST(x AS DOUBLE)) AS v, lv.level
       |      FROM embeddings em JOIN lv ON lv.vec_id = em.vec_id
       |      WHERE $corpusWhere)""".stripMargin

  /** SQL twin of [[topK]]: the `n` best rows of `src(query_id, vec_id,
    * dist)` per query by (dist, vec_id), ranked 1..n in `rnk`. */
  private def topKSql(src: String, n: Int): String =
    s"""SELECT query_id, vec_id, dist, rnk FROM (
       |  SELECT query_id, vec_id, dist,
       |    row_number() OVER (PARTITION BY query_id ORDER BY dist, vec_id) AS rnk
       |  FROM $src) WHERE rnk <= $n""".stripMargin

  /** A serving arm's final statement: [[topKSql]] to k, in output order. */
  private def resultSql(src: String, k: Int): String =
    s"${topKSql(src, k)} ORDER BY query_id, rnk"

  /** SQL twin of [[exactRerank]]: the candidate CTE `cands(query_id,
    * vec_id)` scored by exact squared-L2 against the enclosing corpus
    * `e(vec_id, v)`, ending the statement with [[resultSql]]. */
  private def exactRerankSql(cands: String, k: Int): String =
    s"""rr AS (SELECT c.query_id, c.vec_id, ${duckSq.format("ev.v", "qe.v")} AS dist
       |       FROM $cands c JOIN e ev ON ev.vec_id = c.vec_id JOIN e qe ON qe.vec_id = c.query_id)
       |${resultSql("rr", k)}""".stripMargin

  /** SQL twin of [[bucketsRaw]] at 8 projections, w = 0.1:
    * `pb(vec_id, proj_id, bucket)` over the enclosing `e(vec_id, v)`. */
  private val lshBucketCte =
    s"""pb AS (SELECT vec_id, p AS proj_id,
       |  CAST(floor(list_sum(list_transform(generate_series(1, 64),
       |    j -> v[j] * ${duckUnit("concat(CAST(p AS STRING), '-', CAST(j - 1 AS STRING))")})) / 0.1) AS BIGINT) AS bucket
       |  FROM e, (SELECT unnest(generate_series(0, 7)) AS p))""".stripMargin

  /** SQL twin of [[ivfAssignWith]] over the codebook CTE `cent(clabel,
    * cvec)`: `asg(vec_id, cell, cdist)`, nearest cell by (cdist, cell). */
  private def ivfAssignCte(cent: String): String =
    s"""asg AS (SELECT vec_id, cell, cdist FROM (
       |  SELECT vec_id, cell, cdist,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY cdist, cell) AS rn
       |  FROM (SELECT e.vec_id, c.clabel AS cell, ${duckSq.format("e.v", "c.cvec")} AS cdist
       |        FROM e, $cent c)) WHERE rn = 1)""".stripMargin

  /** SQL twin of [[probeCells]] for the 10 oracle queries at nprobe 3:
    * `probed(query_id, cell, qr)`, `qr` the query residual. */
  private def probeCte(cent: String): String =
    s"""probed AS MATERIALIZED (SELECT query_id, cell, qr FROM (
       |  SELECT q.vec_id AS query_id, c.clabel AS cell,
       |    list_transform(list_zip(q.v, c.cvec), p -> p[1] - p[2]) AS qr,
       |    row_number() OVER (PARTITION BY q.vec_id
       |      ORDER BY ${duckSq.format("q.v", "c.cvec")}, c.clabel) AS rn
       |  FROM e q, $cent c WHERE q.vec_id < 10) WHERE rn <= 3)""".stripMargin

  /** The [[annIvf]] oracle over the codebook `cent` that `ctes` (a
    * `WITH` list also defining `e`) ends in. */
  private def ivfOracle(ctes: String, cent: String): String =
    s"""$ctes,
       |${ivfAssignCte(cent)},
       |${probeCte(cent)},
       |cand AS (SELECT p.query_id, a.vec_id FROM probed p JOIN asg a ON a.cell = p.cell),
       |${exactRerankSql("cand", 10)}""".stripMargin

  /** SQL twin of [[bqCodes]]: `c(vec_id, b0, b1)` over `e(vec_id, v)`. */
  private val bqCodesCte =
    """c AS (SELECT vec_id,
      |  list_reduce(list_transform(generate_series(1, 32),
      |    i -> CASE WHEN v[i] > 0 THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END),
      |    (a, b) -> a*2 + b) AS b0,
      |  list_reduce(list_transform(generate_series(33, 64),
      |    i -> CASE WHEN v[i] > 0 THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END),
      |    (a, b) -> a*2 + b) AS b1
      |  FROM e)""".stripMargin

  /** SQL twin of the PQ encoder over `src(vec_id, [cell,] vec)`: the
    * sampled codebook `cb(sub, code, cw)` (slices of vec_id < 16), the
    * per-subspace argmin by (subdistance, code) `qz`, and the code
    * arrays `codes(vec_id, [cell,] codes)`. */
  private def pqCtes(src: String, vec: String, cell: Boolean): String = {
    val kc = if (cell) ", cell" else ""
    s"""ss AS (SELECT unnest(range(8)) AS sub),
       |cb AS MATERIALIZED (SELECT sub, CAST(vec_id AS INT) AS code,
       |         list_slice($vec, sub*8+1, sub*8+8) AS cw FROM $src, ss WHERE vec_id < 16),
       |qz AS (SELECT vec_id$kc, sub, code FROM (
       |         SELECT sv.vec_id$kc, sv.sub, cb.code,
       |           row_number() OVER (PARTITION BY sv.vec_id, sv.sub
       |             ORDER BY ${duckSq.format("sv.sv", "cb.cw")}, cb.code) AS rn
       |         FROM (SELECT vec_id$kc, sub, list_slice($vec, sub*8+1, sub*8+8) AS sv
       |               FROM $src, ss) sv JOIN cb USING (sub)) WHERE rn = 1),
       |codes AS (SELECT vec_id$kc, list(code ORDER BY sub) AS codes FROM qz GROUP BY vec_id$kc)""".stripMargin
  }

  /** SQL twin of the ADC scan: per-(query[, cell]) lookup tables over
    * the query slices of `qsrc(query_id, [cell,] qvec)`, and the
    * strict-left-fold [[graft.functions.expressions.AdcDist]] sum
    * `ad(query_id, vec_id, dist)` over [[pqCtes]]' `codes`, restricted
    * to each LUT's cell when `cell`, ranked to the [[PqRerankWiden]]·10
    * shortlist `sl`. */
  private def adcShortlistCtes(qsrc: String, qvec: String, cell: Boolean): String = {
    val kc = if (cell) ", cell" else ""
    s"""qsv AS (SELECT query_id$kc, sub, list_slice($qvec, sub*8+1, sub*8+8) AS qsv FROM $qsrc, ss),
       |ldt AS (SELECT query_id$kc, sub, code, ${duckSq.format("qsv", "cw")} AS ld
       |        FROM qsv JOIN cb USING (sub)),
       |lut AS (SELECT query_id$kc, list(ld ORDER BY sub, code) AS lut FROM ldt GROUP BY query_id$kc),
       |ad AS (SELECT l.query_id, c.vec_id,
       |         list_sum(list_transform(range(1, 9),
       |           s -> l.lut[(s-1)*16 + c.codes[s] + 1])) AS dist
       |       FROM codes c JOIN lut l ON ${if (cell) "l.cell = c.cell" else "TRUE"}),
       |sl AS (${topKSql("ad", PqRerankWiden * 10)})""".stripMargin
  }

  /** The diversity selection as a CTE chain — the oracle restatement
    * of [[graft.functions.expressions.DiversitySelect]]'s greedy scan,
    * referencing an enclosing wide candidate CTE `$wc(level, src, dst,
    * dist)` (the plain top-DiversityWiden·m state) and a corpus CTE
    * `$eSrc(vec_id, v, …)` for the candidate vectors. The scan is
    * inherently sequential per (level, src), so it is a RECURSIVE CTE
    * stepping through the candidates in (dist, dst) rank order,
    * carrying the kept list (ids + vectors) as state: at step r,
    * candidate r is kept iff fewer than m are kept and its distance to
    * every kept neighbor exceeds its distance to the source (the same
    * `list_sum`-fold squared-L2 as every other oracle distance, so the
    * comparison sees bit-identical doubles). `dout` then backfills the
    * nearest skipped candidates in rank order to degree m — kept ∪
    * first (m − |kept|) non-kept, exactly the expression's output set.
    *
    * NOTE: every oracle embedding this chain must open with
    * `WITH RECURSIVE` (mixing recursive and plain CTEs is fine).
    * DuckDB 1.0.0's `list_reduce` cannot express the fold — its
    * accumulator threading breaks under a conditional lambda (a CASE
    * whose ELSE returns the accumulator resets it; measured on this
    * host), hence recursion rather than a lambda fold. */
  private def diversityCtes(m: Int, wc: String, eSrc: String = "e"): String =
    s"""dcand AS MATERIALIZED (
       |  SELECT w.level, w.src, w.dst, w.dist, ev.v,
       |    row_number() OVER (PARTITION BY w.level, w.src ORDER BY w.dist, w.dst) AS crnk
       |  FROM $wc w JOIN $eSrc ev ON ev.vec_id = w.dst),
       |dstep AS (
       |  SELECT level, src, 1 AS step, [struct_pack(dst := dst, v := v)] AS kept
       |  FROM dcand WHERE crnk = 1
       |  UNION ALL
       |  SELECT c.level, c.src, p.step + 1,
       |    CASE WHEN len(p.kept) < $m AND coalesce(list_sum(list_transform(p.kept,
       |            kk -> CASE WHEN ${duckSq.format("kk.v", "c.v")} <= c.dist THEN 1 ELSE 0 END)), 0) = 0
       |         THEN list_append(p.kept, struct_pack(dst := c.dst, v := c.v))
       |         ELSE p.kept END
       |  FROM dstep p JOIN dcand c
       |    ON c.level = p.level AND c.src = p.src AND c.crnk = p.step + 1),
       |dkept AS (
       |  SELECT level, src, list_transform(kept, x -> x.dst) AS kd
       |  FROM (SELECT level, src, kept,
       |          row_number() OVER (PARTITION BY level, src ORDER BY step DESC) AS rl
       |        FROM dstep) WHERE rl = 1),
       |dout AS MATERIALIZED (
       |  SELECT level, src, dst, dist FROM (
       |    SELECT c.level, c.src, c.dst, c.dist,
       |      CASE WHEN list_contains(k.kd, c.dst) THEN 0 ELSE 1 END AS fill,
       |      row_number() OVER (PARTITION BY c.level, c.src,
       |        CASE WHEN list_contains(k.kd, c.dst) THEN 0 ELSE 1 END
       |        ORDER BY c.crnk) AS fr,
       |      len(k.kd) AS nk
       |    FROM dcand c JOIN dkept k ON k.level = c.level AND k.src = c.src)
       |  WHERE fill = 0 OR fr <= $m - nk)""".stripMargin

  /** Per-level oracle for [[hnswEdges]], generated mechanically: the
    * level assignment is the (already hash-green) [[hnswLevels]] SQL,
    * each level l is the windowed top-(DiversityWiden·m) self-join
    * restricted to nodes with level ≥ l (the wide plain state), and
    * the declared lists are [[diversityCtes]]' selection over it. */
  private def hnswEdgesOracle(m: Int, maxLevel: Int,
                              corpusWhere: String = "TRUE"): String = {
    val wm = DiversityWiden * m
    val header = s"WITH RECURSIVE ${levelCorpusCtes(corpusWhere)}"
    val perLevel = (0 to maxLevel).map { l =>
      s"""d$l AS (SELECT a.vec_id AS src, b.vec_id AS dst, ${duckSq.format("a.v", "b.v")} AS dist
         |        FROM e a JOIN e b ON a.vec_id <> b.vec_id
         |        WHERE a.level >= $l AND b.level >= $l),
         |gw$l AS (SELECT $l AS level, src, dst, dist FROM (
         |        SELECT src, dst, dist,
         |          row_number() OVER (PARTITION BY src ORDER BY dist, dst) AS rnk
         |        FROM d$l) WHERE rnk <= $wm)""".stripMargin
    }
    val union = (0 to maxLevel).map(l => s"SELECT * FROM gw$l").mkString(" UNION ALL ")
    s"""$header,
       |${perLevel.mkString(",\n")},
       |wcw AS MATERIALIZED ($union),
       |${diversityCtes(m, "wcw")}
       |SELECT level, src, dst, dist,
       |  row_number() OVER (PARTITION BY level, src ORDER BY dist, dst) AS rnk
       |FROM dout ORDER BY level, src, rnk""".stripMargin
  }

  /** The round-13 plain-top-m oracle, verbatim — the declared
    * reference-semantics variant ([[hnswEdgesPlain]]), and the edge
    * COUNTER the index_stats oracle embeds (diversity selection keeps
    * exactly min(m, |candidates|) edges per (level, src), so per-layer
    * counts are identical and the cheaper plain chain counts them). */
  private def hnswEdgesPlainOracle(m: Int, maxLevel: Int,
                                   corpusWhere: String = "TRUE"): String = {
    val header = s"WITH ${levelCorpusCtes(corpusWhere)}"
    val perLevel = (0 to maxLevel).map { l =>
      s"""d$l AS (SELECT a.vec_id AS src, b.vec_id AS dst, ${duckSq.format("a.v", "b.v")} AS dist
         |        FROM e a JOIN e b ON a.vec_id <> b.vec_id
         |        WHERE a.level >= $l AND b.level >= $l),
         |g$l AS (SELECT $l AS level, src, dst, dist, rnk FROM (
         |        SELECT src, dst, dist,
         |          row_number() OVER (PARTITION BY src ORDER BY dist, dst) AS rnk
         |        FROM d$l) WHERE rnk <= $m)""".stripMargin
    }
    val union = (0 to maxLevel).map(l => s"SELECT * FROM g$l").mkString(" UNION ALL ")
    s"$header,\n${perLevel.mkString(",\n")}\n" +
      s"SELECT level, src, dst, dist, rnk FROM ($union) ORDER BY level, src, rnk"
  }

  /** Oracle for [[hnswEdgesApprox]], mirroring the operator statement
    * for statement: the bucket CTE is the (hash-green) `lsh_buckets`
    * SQL, the candidate set is the multiprobe banded self-join, and
    * the per-level prune is [[hnswEdgesOracle]]'s window — only the
    * candidate generator differs from the exact build's O(n²) join. */
  /** Shared CTE chain stating the APPROXIMATE build (capped multiprobe
    * LSH candidates ∪ id-block seed → top-m seed graph → `refine`
    * NN-descent rounds), referencing an enclosing `e(vec_id, v,
    * level)` CTE. CTE names are `a`-prefixed so the chain composes
    * into [[hnswSearchOracle]] (whose descent/beam CTEs use x/c/u/b)
    * without collisions. Ends by defining `ae$refine` — the refined
    * (level, src, dst, dist) edge table, ≤ m rows per (level, src). */
  /** Capture-measurement CTE chain, referencing an enclosing
    * `e(vec_id, v, …)` CTE: the measured keyDims rule (akd), the
    * stride-sampled exact top-m ground truth (asp), and the measured
    * capture (acap). Shared by [[approxEdgeChain]] — whose acapok
    * guard error()s below [[CaptureFloor]] — and the `index_stats`
    * oracle, which REPORTS the same measured numbers.
    *
    * akd mirrors the engine's MEASURED keyDims rule
    * ([[measuredKeyDims]]): both raw bucket components are computed
    * unconditionally (apb0), the k=1 and k=2 collider masses Σ occ²
    * come from the identical GROUP BY counts the engine aggregates
    * (BIGINT counts — sum widens to HUGEINT here, DECIMAL there,
    * both exact), and kd is the smallest k whose mass meets the
    * target·n·nProj budget. The oracle models k ≤ 2 — when even the
    * k=2 mass is over budget it raises a DuckDB error() (lazy in the
    * un-taken CASE branch, verified), so an oracle-gated fixture
    * beyond what this SQL models fails LOUDLY instead of silently
    * hash-diverging from the engine's wider key. */
  private def approxCaptureCtes(m: Int, nProj: Int, probe: Int,
                                src: String = "e"): String =
    s"""acnt0 AS (SELECT count(*) AS n FROM $src),
       |apb0 AS MATERIALIZED (SELECT vec_id, p AS proj_id,
       |  CAST(floor(list_sum(list_transform(generate_series(1, 64),
       |    j -> v[j] * ${duckUnit("concat(CAST(p AS STRING), '-', CAST(j - 1 AS STRING))")})) / 0.1) AS BIGINT) AS bucket,
       |  CAST(floor(list_sum(list_transform(generate_series(1, 64),
       |    j -> v[j] * ${duckUnit(s"concat(CAST((p + 1) % $nProj AS STRING), '-', CAST(j - 1 AS STRING))")})) / 0.1) AS BIGINT) AS bucket2
       |  FROM $src, (SELECT unnest(generate_series(0, ${nProj - 1})) AS p)),
       |am1 AS (SELECT sum(c * c) AS mass FROM (
       |         SELECT count(*) AS c FROM apb0 GROUP BY proj_id, bucket) t),
       |am2 AS (SELECT sum(c * c) AS mass FROM (
       |         SELECT count(*) AS c FROM apb0 GROUP BY proj_id, bucket, bucket2) t),
       |akd AS (SELECT CASE
       |         WHEN coalesce(am1.mass, 0) <= $KeyDimsColliderTarget * n * $nProj THEN 1
       |         WHEN coalesce(am2.mass, 0) <= $KeyDimsColliderTarget * n * $nProj THEN 2
       |         ELSE CAST(error('oracle models keyDims <= 2; the measured collider mass of this corpus needs k >= 3 (engine measuredKeyDims)') AS INT)
       |         END AS kd FROM acnt0, am1, am2),
       |asmp AS (SELECT greatest(1, n // 2048) AS stride FROM acnt0),
       |asx AS (SELECT $src.vec_id AS src, $src.v AS sv FROM $src, asmp
       |        WHERE $src.vec_id % asmp.stride = 0),
       |asd AS (SELECT s.src, $src.vec_id AS dst, ${duckSq.format(s"$src.v", "s.sv")} AS dist
       |        FROM $src, asx s WHERE $src.vec_id <> s.src),
       |asp AS MATERIALIZED (SELECT src, dst FROM (
       |        SELECT src, dst,
       |          row_number() OVER (PARTITION BY src ORDER BY dist, dst) AS rnk
       |        FROM asd) WHERE rnk <= $m),
       |acap AS (SELECT coalesce(avg(hit), 1.0) AS capture FROM (
       |        SELECT p.src, p.dst,
       |          max(CASE WHEN abs(l.bucket - r.bucket) <= $probe
       |                AND (akd.kd < 2 OR abs(l.bucket2 - r.bucket2) <= $probe)
       |              THEN 1 ELSE 0 END) AS hit
       |        FROM asp p
       |        JOIN apb0 l ON l.vec_id = p.src
       |        JOIN apb0 r ON r.vec_id = p.dst AND r.proj_id = l.proj_id, akd
       |        GROUP BY p.src, p.dst) t)""".stripMargin

  private def approxEdgeChain(m: Int, maxLevel: Int, nProj: Int,
                              probe: Int, cap: Int, refine: Int): String = {
    // NN-descent rounds unrolled as CTE chains (the ann_graph_search
    // oracle pattern): aeK-1 → top-m slice → forward ∪ capped-reverse
    // neighborhood → co-neighbor candidate pairs → re-score → window.
    // Every round's STATE window keeps DiversityWiden·m (the wide
    // state the diversity view selects from); proposals read only the
    // top-m slice (anbm) — the engine's baseM/topM(wm) split.
    //
    // NO bare set-`UNION` anywhere in this chain: every embedding of
    // it now sits under `WITH RECURSIVE` (the diversity scan's dstep),
    // and DuckDB 1.0.0 silently DROPS the set-dedup of a UNION inside
    // a non-self-referencing CTE of a RECURSIVE clause (minimal repro
    // measured on this host: `WITH RECURSIVE t AS (SELECT 1 UNION
    // SELECT 1) SELECT count(*) FROM t` → 2). The r14 migration hit
    // this live — duplicate survivor rows tripled dout groups (27,708
    // vs 15,714) — so the merge is stated DISTINCT-over-UNION-ALL,
    // which the recursive rewriter leaves alone.
    val wm = DiversityWiden * m
    val rounds = (1 to refine).map { r =>
      s"""anbm$r AS (SELECT level, src, dst, dist FROM (
         |       SELECT level, src, dst, dist,
         |         row_number() OVER (PARTITION BY level, src ORDER BY dist, dst) AS fr
         |       FROM ae${r - 1}) WHERE fr <= $m),
         |anb$r AS (SELECT level, src, dst FROM anbm$r
         |       UNION ALL
         |       SELECT level, dst AS src, src AS dst FROM (
         |         SELECT level, src, dst, dist,
         |           row_number() OVER (PARTITION BY level, dst ORDER BY dist, src) AS rr
         |         FROM anbm$r) WHERE rr <= $m),
         |acn$r AS (SELECT DISTINCT a.level, a.dst AS src, b.dst AS dst
         |       FROM anb$r a JOIN anb$r b
         |         ON a.level = b.level AND a.src = b.src AND a.dst <> b.dst),
         |au$r AS (SELECT DISTINCT level, src, dst, dist FROM (
         |       SELECT c.level, c.src, c.dst, ${duckSq.format("a.v", "b.v")} AS dist
         |       FROM acn$r c JOIN e a ON a.vec_id = c.src JOIN e b ON b.vec_id = c.dst
         |       UNION ALL
         |       SELECT level, src, dst, dist FROM ae${r - 1})),
         |ae$r AS MATERIALIZED (SELECT level, src, dst, dist FROM (
         |       SELECT level, src, dst, dist,
         |         row_number() OVER (PARTITION BY level, src ORDER BY dist, dst) AS rnk
         |       FROM au$r) WHERE rnk <= $wm)""".stripMargin
    }
    val roundsSql = if (rounds.isEmpty) "" else ",\n" + rounds.mkString(",\n")
    s"""${approxCaptureCtes(m, nProj, probe)},
       |acapok AS (SELECT CASE WHEN capture >= $CaptureFloor THEN 1
       |        ELSE CAST(error('measured capture below floor; the engine escalates NN-descent rounds beyond the fixed count this oracle unrolls (Ann.CaptureFloor guard)') AS INT)
       |        END AS ok FROM acap),
       |apb AS MATERIALIZED (SELECT vec_id, proj_id, bucket,
       |         CASE WHEN akd.kd >= 2 THEN bucket2 ELSE 0 END AS bucket2
       |       FROM apb0, akd),
       |apbc AS MATERIALIZED (SELECT vec_id, proj_id, bucket, bucket2 FROM (
       |         SELECT vec_id, proj_id, bucket, bucket2,
       |           row_number() OVER (PARTITION BY proj_id, bucket, bucket2 ORDER BY vec_id) AS rn
       |         FROM apb) WHERE rn <= $cap),
       |arnk AS MATERIALIZED (SELECT vec_id,
       |         row_number() OVER (ORDER BY vec_id) - 1 AS r FROM e),
       |acnt AS (SELECT count(*) AS n,
       |         least($m, CAST(len(bin(count(*) - 1)) AS INT)) AS nj FROM e),
       |acand AS (SELECT DISTINCT src, dst FROM (
       |         SELECT l.vec_id AS src, r.vec_id AS dst
       |         FROM apbc l JOIN (SELECT vec_id, proj_id, bucket + o AS bucket,
       |                                  bucket2 + o2 AS bucket2
       |                          FROM apbc, akd,
       |                               (SELECT unnest(generate_series(-$probe, $probe)) AS o) os,
       |                               (SELECT unnest(generate_series(-$probe, $probe)) AS o2) os2
       |                          WHERE akd.kd >= 2 OR o2 = 0) r
       |           ON l.proj_id = r.proj_id AND l.bucket = r.bucket
       |             AND l.bucket2 = r.bucket2
       |             AND l.vec_id <> r.vec_id
       |         UNION ALL
       |         SELECT a.vec_id AS src, b.vec_id AS dst
       |         FROM arnk a, acnt,
       |              (SELECT unnest(generate_series(0, ${m - 1})) AS j) js,
       |              arnk b
       |         WHERE js.j < acnt.nj
       |           AND b.r = (a.r + (CAST(1 AS BIGINT) << js.j)) % acnt.n
       |           AND a.vec_id <> b.vec_id)),
       |add0 AS (SELECT least(a.level, b.level, $maxLevel) AS minl, c.src, c.dst,
       |              ${duckSq.format("a.v", "b.v")} AS dist
       |       FROM acand c JOIN e a ON a.vec_id = c.src JOIN e b ON b.vec_id = c.dst),
       |ax AS (SELECT t.l AS level, src, dst, dist
       |      FROM add0, unnest(generate_series(0, minl)) AS t(l)),
       |ae0 AS MATERIALIZED (SELECT level, src, dst, dist FROM (
       |  SELECT level, src, dst, dist,
       |    row_number() OVER (PARTITION BY level, src ORDER BY dist, dst) AS rnk
       |  FROM ax) CROSS JOIN acapok WHERE rnk <= $wm AND acapok.ok = 1)$roundsSql""".stripMargin
  }

  private def hnswEdgesApproxOracle(m: Int, maxLevel: Int,
                                    nProj: Int, probe: Int,
                                    cap: Int = 1024, refine: Int = 2): String =
    s"""WITH RECURSIVE ${levelCorpusCtes()},
       |${approxEdgeChain(m, maxLevel, nProj, probe, cap, refine)},
       |${diversityCtes(m, s"ae$refine")}
       |SELECT level, src, dst, dist,
       |  row_number() OVER (PARTITION BY level, src ORDER BY dist, dst) AS rnk
       |FROM dout
       |ORDER BY level, src, rnk""".stripMargin

  /** Unrolled oracle for [[annGraphSearch]] — the graph build is
    * `knn_graph`'s oracle SQL and each beam round is one
    * union + group-by-min + window-prune CTE, mirroring the operator's
    * pool recurrence statement for statement. */
  private def graphSearchOracle(nq: Int, k: Int, beam: Int, rounds: Int, m: Int): String = {
    // the served adjacency is level 0 of the persisted diversity index
    // ([[annGraphSearchRaw]] reads ensureFullIndexVec level 0), so the
    // oracle's g is the diversity selection over the wide all-pairs
    // top-(DiversityWiden·m) — one level, tagged 0 for the shared chain
    val wm = DiversityWiden * m
    val header =
      s"""WITH RECURSIVE $corpusCte,
         |dp AS (SELECT l.vec_id AS src, r.vec_id AS dst, ${duckSq.format("l.v", "r.v")} AS dist
         |       FROM e l, e r WHERE l.vec_id <> r.vec_id),
         |wcw AS MATERIALIZED (SELECT 0 AS level, src, dst, dist FROM (
         |        SELECT src, dst, dist, row_number() OVER (PARTITION BY src ORDER BY dist, dst) AS rnk
         |        FROM dp) WHERE rnk <= $wm),
         |${diversityCtes(m, "wcw")},
         |g AS MATERIALIZED (SELECT src, dst FROM dout),
         |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < $nq),
         |p0 AS (SELECT q.query_id, CAST(0 AS BIGINT) AS vec_id, ${duckSq.format("e0.v", "q.qv")} AS dist
         |       FROM q CROSS JOIN (SELECT v FROM e WHERE vec_id = 0) e0)""".stripMargin
    val roundsSql = (1 to rounds).map { r =>
      s"""c$r AS (SELECT query_id, vec_id, dist FROM p${r - 1}
         |       UNION ALL
         |       SELECT p.query_id, g.dst AS vec_id, ${duckSq.format("ed.v", "q.qv")} AS dist
         |       FROM p${r - 1} p JOIN g ON g.src = p.vec_id
         |         JOIN e ed ON ed.vec_id = g.dst JOIN q ON q.query_id = p.query_id),
         |u$r AS (SELECT query_id, vec_id, min(dist) AS dist FROM c$r GROUP BY 1, 2),
         |p$r AS (${topKSql(s"u$r", beam)})""".stripMargin
    }
    s"$header,\n${roundsSql.mkString(",\n")}\n${resultSql(s"p$rounds", k)}"
  }

  /** Unrolled oracle for [[hnswSearch]] — the per-level graphs are
    * [[hnswEdgesOracle]]'s g_l CTEs, the entry point is a LIMIT-1
    * order-by over the (hash-green) level SQL, each descent level is
    * one union + rn=1 window CTE, and the bottom-layer beam rounds are
    * [[graphSearchOracle]]'s recurrence — statement for statement the
    * operator's plan. */
  private def hnswSearchOracle(
      nq: Int, k: Int, beam: Int, rounds: Int, m: Int, maxLevel: Int,
      filteredEven: Boolean = false,
      approxGraph: Boolean = false,
      nProj: Int = 8, probe: Int = 1, cap: Int = 1024,
      refine: Int = 2): String = {
    // `e` is referenced ~3·maxLevel times below; without MATERIALIZED
    // DuckDB inlines the CTE per reference and re-opens the parquet
    // each time — at 30+ references that exhausts the fd limit (and
    // recomputes every O(n²) d_l join per reference). MATERIALIZED
    // evaluates each hot CTE once.
    val header = s"WITH RECURSIVE ${levelCorpusCtes()}"
    // g_l: per-level DIVERSITY-SELECTED adjacency (the declared serving
    // graph) — wide candidates from the exact O(n²) per-level
    // self-joins, or (approxGraph) from the SAME capped multiprobe
    // LSH candidate chain as the hash-green `hnsw_edges_approx`
    // oracle, one diversity recursion over all levels, then per-level
    // slices — so the served graph IS the persisted index
    val wm = DiversityWiden * m
    val perLevel =
      if (!approxGraph) {
        (0 to maxLevel).map { l =>
          s"""d$l AS (SELECT a.vec_id AS src, b.vec_id AS dst, ${duckSq.format("a.v", "b.v")} AS dist
             |        FROM e a JOIN e b ON a.vec_id <> b.vec_id
             |        WHERE a.level >= $l AND b.level >= $l),
             |gw$l AS (SELECT $l AS level, src, dst, dist FROM (
             |        SELECT src, dst, dist,
             |          row_number() OVER (PARTITION BY src ORDER BY dist, dst) AS rnk
             |        FROM d$l) WHERE rnk <= $wm)""".stripMargin
        } ++ Seq(
          s"""wcw AS MATERIALIZED (${(0 to maxLevel)
               .map(l => s"SELECT * FROM gw$l").mkString(" UNION ALL ")}),
             |${diversityCtes(m, "wcw")}""".stripMargin) ++
          (0 to maxLevel).map { l =>
            s"""g$l AS MATERIALIZED (SELECT src, dst FROM dout
               |        WHERE level = $l)""".stripMargin
          }
      }
      else {
        Seq(approxEdgeChain(m, maxLevel, nProj, probe, cap, refine),
            diversityCtes(m, s"ae$refine")) ++
          (0 to maxLevel).map { l =>
            s"""g$l AS MATERIALIZED (SELECT src, dst FROM dout
               |        WHERE level = $l)""".stripMargin
          }
      }
    val seed =
      s"""q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < $nq),
         |ent AS (SELECT vec_id, v FROM e ORDER BY level DESC, vec_id LIMIT 1),
         |c${maxLevel + 1} AS (SELECT q.query_id, ent.vec_id, ${duckSq.format("ent.v", "q.qv")} AS dist
         |       FROM q CROSS JOIN ent)""".stripMargin
    val descent = (maxLevel to 1 by -1).map { l =>
      s"""x$l AS (SELECT query_id, vec_id, dist FROM c${l + 1}
         |       UNION ALL
         |       SELECT p.query_id, g.dst AS vec_id, ${duckSq.format("ed.v", "q.qv")} AS dist
         |       FROM c${l + 1} p JOIN g$l g ON g.src = p.vec_id
         |         JOIN e ed ON ed.vec_id = g.dst JOIN q ON q.query_id = p.query_id),
         |c$l AS (${topKSql(s"x$l", 1)})""".stripMargin
    }
    val beamRounds = (1 to rounds).map { r =>
      val prev = if (r == 1) "c1" else s"p${r - 1}"
      s"""b$r AS (SELECT query_id, vec_id, dist FROM $prev
         |       UNION ALL
         |       SELECT p.query_id, g.dst AS vec_id, ${duckSq.format("ed.v", "q.qv")} AS dist
         |       FROM $prev p JOIN g0 g ON g.src = p.vec_id
         |         JOIN e ed ON ed.vec_id = g.dst JOIN q ON q.query_id = p.query_id),
         |u$r AS (SELECT query_id, vec_id, min(dist) AS dist FROM b$r GROUP BY 1, 2),
         |p$r AS (${topKSql(s"u$r", beam)})""".stripMargin
    }
    val finalSel =
      if (!filteredEven) resultSql(s"p$rounds", k)
      else {
        // visited set: the seed is inside x_maxLevel; every descent
        // expansion is inside its x_l; every beam expansion inside its
        // b_r — the union is exactly the set the engine walk scores
        val parts =
          (maxLevel to 1 by -1).map(l => s"SELECT query_id, vec_id, dist FROM x$l") ++
            (1 to rounds).map(r => s"SELECT query_id, vec_id, dist FROM b$r")
        s"""vis AS (SELECT query_id, vec_id, min(dist) AS dist FROM (
           |  ${parts.mkString(" UNION ALL ")}) GROUP BY 1, 2),
           |fvis AS (SELECT v.query_id, v.vec_id, v.dist FROM vis v JOIN e ON e.vec_id = v.vec_id
           |  WHERE e.label % 2 = 0)
           |${resultSql("fvis", k)}""".stripMargin
      }
    s"$header,\n${perLevel.mkString(",\n")},\n$seed,\n" +
      s"${descent.mkString(",\n")},\n${beamRounds.mkString(",\n")}" +
      (if (filteredEven) ",\n" else "\n") + finalSel
  }

  private lazy val baseOracles: Map[String, String] = Map(
    "hnsw_edges" -> hnswEdgesOracle(m = 16, maxLevel = 8),
    "hnsw_edges_plain" -> hnswEdgesPlainOracle(m = 16, maxLevel = 8),
    "hnsw_edges_approx" ->
      hnswEdgesApproxOracle(m = 16, maxLevel = 8, nProj = 8, probe = 1),
    "hnsw_search" -> hnswSearchOracle(
      nq = 10, k = 10, beam = 16, rounds = 3, m = 16, maxLevel = 8),
    "hnsw_search_approx" -> hnswSearchOracle(
      nq = 10, k = 10, beam = 16, rounds = 3, m = 16, maxLevel = 8,
      approxGraph = true),
    "hnsw_search_filtered" -> hnswSearchOracle(
      nq = 10, k = 10, beam = 32, rounds = 4, m = 16, maxLevel = 8,
      filteredEven = true),
    // incremental insert must equal a full rebuild — same oracle SQL
    "hnsw_insert_delta" -> hnswEdgesOracle(m = 16, maxLevel = 8),
    // delete-then-reinsert must equal the untouched full rebuild
    "hnsw_upsert_roundtrip" -> hnswEdgesOracle(m = 16, maxLevel = 8),
    // incremental delete must equal a rebuild over the survivors
    "hnsw_delete_delta" ->
      hnswEdgesOracle(m = 16, maxLevel = 8, corpusWhere = "em.vec_id % 10 <> 0"),
    // per-layer panel: participating nodes from the levels projection,
    // edges aggregated over the (nested-WITH) edges oracle
    "index_stats" ->
      s"""WITH $levelCtes,
         |part AS (SELECT unnest(generate_series(0, least(level, 8))) AS layer FROM lv),
         |pn AS (SELECT layer, count(*) AS n_nodes FROM part GROUP BY layer),
         |eg AS (SELECT level AS layer, count(*) AS n_edges
         |       FROM (${hnswEdgesPlainOracle(m = 16, maxLevel = 8)}) GROUP BY level),
         |raw AS (SELECT count(*) * 512 AS raw_bytes FROM embeddings),
         |ecap AS MATERIALIZED (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         |${approxCaptureCtes(m = 16, nProj = 8, probe = 1, src = "ecap")}
         |SELECT pn.layer, pn.n_nodes,
         |  CAST(coalesce(eg.n_edges, 0) AS BIGINT) AS n_edges,
         |  coalesce(eg.n_edges, 0) / CAST(pn.n_nodes AS DOUBLE) AS avg_out_degree,
         |  CAST(coalesce(eg.n_edges, 0) * 24 AS BIGINT) AS bytes_idonly,
         |  CAST(coalesce(eg.n_edges, 0) * 536 AS BIGINT) AS bytes_vecres,
         |  CAST(coalesce(eg.n_edges, 0) * 24 AS DOUBLE)
         |    / CAST(raw.raw_bytes AS DOUBLE) AS overhead_idonly,
         |  CAST(coalesce(eg.n_edges, 0) * 536 AS DOUBLE)
         |    / CAST(raw.raw_bytes AS DOUBLE) AS overhead_vecres,
         |  acap.capture AS build_capture,
         |  CASE WHEN acap.capture >= $CaptureFloor THEN CAST(2 AS BIGINT)
         |       ELSE CAST(NULL AS BIGINT) END AS build_nnd_rounds,
         |  CAST(NULL AS DOUBLE) AS build_sampled_recall
         |FROM pn LEFT JOIN eg ON eg.layer = pn.layer CROSS JOIN raw CROSS JOIN acap
         |ORDER BY pn.layer""".stripMargin,
    "ann_graph_search" -> graphSearchOracle(nq = 10, k = 10, beam = 16, rounds = 4, m = 16),
    "lsh_buckets" ->
      s"""WITH $corpusCte,
         |$lshBucketCte
         |SELECT vec_id, proj_id, bucket FROM pb ORDER BY vec_id, proj_id""".stripMargin,
    "ann_lsh" ->
      s"""WITH $corpusCte,
         |$lshBucketCte,
         |cand AS (SELECT DISTINCT q.vec_id AS query_id, b.vec_id
         |         FROM pb q JOIN pb b ON q.proj_id = b.proj_id AND q.bucket = b.bucket
         |         WHERE q.vec_id < 10),
         |${exactRerankSql("cand", 10)}""".stripMargin,
    "neardup_lsh" ->
      s"""WITH $corpusCte,
         |$lshBucketCte,
         |cand AS (SELECT DISTINCT l.vec_id AS src, r.vec_id AS dst
         |         FROM pb l JOIN pb r ON l.proj_id = r.proj_id AND l.bucket = r.bucket
         |           AND l.vec_id < r.vec_id)
         |SELECT c.src, c.dst, ${duckSq.format("ea.v", "eb.v")} AS dist
         |FROM cand c JOIN e ea ON ea.vec_id = c.src JOIN e eb ON eb.vec_id = c.dst
         |WHERE ${duckSq.format("ea.v", "eb.v")} < 1.1
         |ORDER BY src, dst""".stripMargin,
    // kmeansCtes(0) is the label-centroid codebook cent0 (and corpus e)
    "ivf_assign" ->
      s"""${Similarity.kmeansCtes(0)},
         |${ivfAssignCte("cent0")}
         |SELECT vec_id, cell, cdist FROM asg ORDER BY vec_id""".stripMargin,
    "ann_ivf" -> ivfOracle(Similarity.kmeansCtes(0), "cent0"),
    // the kmeans_iter oracle's unrolled chain ends in the trained cent3
    "ann_ivf_trained" -> ivfOracle(Similarity.kmeansCtes(3), "cent3"),
    "hnsw_levels" ->
      s"""WITH $levelCtes
         |SELECT vec_id, level FROM lv ORDER BY vec_id""".stripMargin,
    "bq_codes" ->
      s"""WITH $corpusCte,
         |$bqCodesCte
         |SELECT vec_id, b0, b1 FROM c ORDER BY vec_id""".stripMargin,
    "ann_bq" ->
      s"""WITH $corpusCte,
         |$bqCodesCte,
         |qc AS (SELECT vec_id AS query_id, b0 AS qb0, b1 AS qb1 FROM c WHERE vec_id < 10),
         |ham AS (SELECT qc.query_id, c.vec_id,
         |          bit_count(xor(c.b0, qc.qb0)) + bit_count(xor(c.b1, qc.qb1)) AS dist
         |        FROM c, qc),
         |cand AS (${topKSql("ham", BqShortlist)}),
         |${exactRerankSql("cand", 10)}""".stripMargin,
    // pos is 0-based in the engine (posexplode); generate_subscripts
    // is 1-based, hence the pos - 1 on output
    "sq8_codes" ->
      """WITH ex AS (SELECT vec_id, generate_subscripts(embedding, 1) AS pos,
        |                   CAST(unnest(embedding) AS DOUBLE) AS val FROM embeddings),
        |dims AS (SELECT pos, min(val) AS dmin, max(val) AS dmax FROM ex GROUP BY pos)
        |SELECT vec_id, CAST(ex.pos - 1 AS INT) AS pos,
        |  CASE WHEN dmax = dmin THEN 0
        |       ELSE least(255, greatest(0, CAST(round((val - dmin)/(dmax - dmin)*255, 0) AS INT))) END AS code
        |FROM ex JOIN dims USING (pos) ORDER BY vec_id, pos""".stripMargin,
    // dist is the RECONSTRUCTED-vector distance: sq8 ranks its own
    // scores, with no exact re-rank
    "ann_sq8" ->
      s"""WITH $corpusCte,
         |ex AS (SELECT vec_id, generate_subscripts(embedding, 1) AS pos,
         |       CAST(unnest(embedding) AS DOUBLE) AS val FROM embeddings),
         |dims AS (SELECT pos, min(val) AS dmin, max(val) AS dmax FROM ex GROUP BY pos),
         |qz AS (SELECT vec_id, ex.pos,
         |         CASE WHEN dmax = dmin THEN 0
         |              ELSE least(255, greatest(0, CAST(round((val - dmin)/(dmax - dmin)*255, 0) AS INT))) END AS code
         |       FROM ex JOIN dims USING (pos)),
         |codes AS (SELECT vec_id, list(code ORDER BY pos) AS codes FROM qz GROUP BY vec_id),
         |da AS (SELECT list(dmin ORDER BY pos) AS dmin_a, list(dmax ORDER BY pos) AS dmax_a FROM dims),
         |rec AS (SELECT vec_id, list_transform(generate_series(1, 64), i ->
         |          CASE WHEN dmax_a[i] = dmin_a[i] THEN dmin_a[i]
         |               ELSE codes[i] / 255.0 * (dmax_a[i] - dmin_a[i]) + dmin_a[i] END) AS rv
         |        FROM codes, da),
         |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 10),
         |dd AS (SELECT q.query_id, rec.vec_id, ${duckSq.format("rec.rv", "q.qv")} AS dist FROM rec, q)
         |${resultSql("dd", 10)}""".stripMargin,
    "pq_codes" ->
      s"""WITH $corpusCte,
         |${pqCtes("e", "v", cell = false)}
         |SELECT vec_id, CAST(sub AS INT) AS sub, code FROM qz ORDER BY vec_id, sub""".stripMargin,
    "ann_pq" ->
      s"""WITH $corpusCte,
         |${pqCtes("e", "v", cell = false)},
         |${adcShortlistCtes("(SELECT vec_id AS query_id, v FROM e WHERE vec_id < 10) q", "v", cell = false)},
         |${exactRerankSql("sl", 10)}""".stripMargin,
    // IVF-PQ: the ivf assignment, residuals, the ann_pq machinery
    // re-pointed at residual slices, per-(query, probed cell) residual
    // LUTs, a cell-restricted ADC scan, then the exact re-rank
    "ann_ivfpq" ->
      s"""${Similarity.kmeansCtes(0)},
         |${ivfAssignCte("cent0")},
         |rv AS MATERIALIZED (SELECT a.vec_id, a.cell,
         |         list_transform(list_zip(e.v, c.cvec), p -> p[1] - p[2]) AS rv
         |       FROM asg a JOIN e ON e.vec_id = a.vec_id JOIN cent0 c ON c.clabel = a.cell),
         |${pqCtes("rv", "rv", cell = true)},
         |${probeCte("cent0")},
         |${adcShortlistCtes("probed", "qr", cell = true)},
         |${exactRerankSql("sl", 10)}""".stripMargin,
  )

  /** [[mmrRerank]]'s oracle: the greedy recurrence unrolled — round 1
    * is the plain distance argmin; each later round scores the
    * not-yet-selected candidates as dist − μ·min-pair-dist-to-selected
    * and picks the (score, id) argmin. */
  private def mmrOracle(nq: Int, k: Int, cand: Int, mu: Double): String = {
    // MATERIALIZED: each round references base/pd/s_{r-1} several
    // times; un-materialized, DuckDB inlines the CTE per reference and
    // re-opens the parquet each time — the unroll exhausts the fd
    // limit (the hnswSearchOracle precedent)
    val header =
      s"""WITH $corpusCte,
         |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < $nq),
         |dq AS (SELECT q.query_id, e.vec_id, ${duckSq.format("e.v", "q.qv")} AS dist FROM e, q),
         |base AS MATERIALIZED (${topKSql("dq", cand)}),
         |pd AS MATERIALIZED (SELECT a.query_id, a.vec_id AS i, b.vec_id AS j, ${duckSq.format("ea.v", "eb.v")} AS pd
         |       FROM base a JOIN base b ON a.query_id = b.query_id AND a.vec_id <> b.vec_id
         |       JOIN e ea ON ea.vec_id = a.vec_id JOIN e eb ON eb.vec_id = b.vec_id),
         |s1 AS MATERIALIZED (SELECT query_id, vec_id, 1 AS rnk FROM (${topKSql("base", 1)}))""".stripMargin
    val rounds = (2 to k).map { r =>
      s"""p$r AS (SELECT query_id, vec_id, $r AS rnk FROM (
         |    SELECT b.query_id, b.vec_id,
         |      row_number() OVER (PARTITION BY b.query_id
         |        ORDER BY b.dist - CAST($mu AS DOUBLE) * pen.minpd, b.vec_id) AS rn
         |    FROM base b
         |    JOIN (SELECT pd.query_id, pd.i, min(pd.pd) AS minpd
         |          FROM pd JOIN s${r - 1} s ON s.query_id = pd.query_id AND s.vec_id = pd.j
         |          GROUP BY 1, 2) pen
         |      ON pen.query_id = b.query_id AND pen.i = b.vec_id
         |    WHERE NOT EXISTS (SELECT 1 FROM s${r - 1} s2
         |                      WHERE s2.query_id = b.query_id AND s2.vec_id = b.vec_id)
         |  ) WHERE rn = 1),
         |s$r AS MATERIALIZED (SELECT * FROM s${r - 1} UNION ALL SELECT * FROM p$r)""".stripMargin
    }
    s"$header,\n${rounds.mkString(",\n")}\n" +
      s"SELECT query_id, vec_id, rnk FROM s$k ORDER BY query_id, rnk"
  }

  val oracles: Map[String, String] =
    baseOracles +
      ("ann_recall_report" -> recallReportOracle) +
      ("mmr_rerank" -> mmrOracle(nq = 10, k = 10, cand = 30, mu = 0.5))

  /** Every arm's own (already hash-green) oracle, embedded verbatim as
    * a nested-WITH derived table, intersected with the knn_batch exact
    * oracle — so the recall numbers the driver artifact publishes are
    * themselves oracle-derived, not copied from the engine. */
  private lazy val recallReportOracle: String = {
    val armSql: Map[String, String] = Map(
      "bq"    -> baseOracles("ann_bq"),
      "graph" -> baseOracles("ann_graph_search"),
      "hnsw"  -> baseOracles("hnsw_search"),
      "hnswa" -> baseOracles("hnsw_search_approx"),
      "ivf"   -> baseOracles("ann_ivf"),
      "ivfk"  -> baseOracles("ann_ivf_trained"),
      "ivfpq" -> baseOracles("ann_ivfpq"),
      "lsh"   -> baseOracles("ann_lsh"),
      "pq"    -> baseOracles("ann_pq"),
      "sq8"   -> baseOracles("ann_sq8"))
    val armCtes = RecallArms.map { a =>
      s"a_$a AS (SELECT query_id, vec_id FROM (${armSql(a)}))"
    }.mkString(",\n")
    val appr = RecallArms.map { a =>
      s"SELECT '$a' AS arm, query_id, vec_id FROM a_$a"
    }.mkString("\nUNION ALL\n")
    s"""WITH x_exact AS (SELECT query_id, vec_id FROM (${Knn.oracles("knn_batch")})),
       |$armCtes,
       |appr AS ($appr),
       |hits AS (SELECT arm, a.query_id, count(*) AS hits
       |         FROM appr a JOIN x_exact x
       |           ON x.query_id = a.query_id AND x.vec_id = a.vec_id
       |         GROUP BY arm, a.query_id),
       |grid AS (SELECT arm, vec_id AS query_id FROM embeddings,
       |           (SELECT unnest([${RecallArms.map("'" + _ + "'").mkString(",")}]) AS arm)
       |         WHERE vec_id < 10)
       |SELECT g.arm, g.query_id, coalesce(h.hits, 0) AS hits,
       |  coalesce(h.hits, 0) / CAST(10 AS DOUBLE) AS recall
       |FROM grid g LEFT JOIN hits h ON h.arm = g.arm AND h.query_id = g.query_id
       |ORDER BY g.arm, g.query_id""".stripMargin
  }
}
