package graft.tools

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.LocalSession

/** Attribution probe for approximate-build recall at a given bucket
  * key width: for a deterministic sample of sources and their EXACT
  * top-m neighbors, measures where the bucket stage loses the true
  * pair. The collider-mass budget ([[graft.operators.Ann.measuredKeyDims]])
  * bounds how many candidates a vector MEETS; this tool measures the
  * other half the budget does not see — whether the TRUE neighbors are
  * among them:
  *
  *   - `capture_before_cap`: fraction of exact (src,dst) pairs whose
  *     per-projection bucket deltas are ≤ probe on ≥1 of the nProj
  *     rotated composite keys — the geometric collision rate of the
  *     key family at width k, independent of any cap.
  *   - `capture_after_cap`: same, additionally requiring BOTH ends to
  *     survive the per-bucket membership cap on that key — what the
  *     bucket join can actually emit.
  *   - occupancy-seen stats (mean/median/p99 over the n·nProj bucket
  *     rows) and the eviction rate (rows ranked past the cap): the
  *     shape of the distribution whose mean the collider budget pins.
  *
  * Reads the same fixtures as the build; key construction replicates
  * [[graft.operators.Ann.hnswEdgesApprox]] exactly (rotated adjacent
  * projections, floor(dot/w), cap by ascending vec_id). Driver-side
  * set arithmetic runs over |S|·m pairs only — a diagnostic tool, not
  * a declared operator.
  *
  * `k` and `w` accept comma-separated sweep lists — the exact stage
  * (the expensive part at 2M vectors) runs once and every (k, w)
  * combo grades against the same ground truth.
  *
  * Usage: runMain graft.tools.KeyCaptureDiagnostic <sfDir> <k[,k2..]> [stride] [m] [probe] [cap] [nProj] [w[,w2..]]
  */
object KeyCaptureDiagnostic {
  def main(args: Array[String]): Unit = {
    val d = args.headOption.getOrElse("/root/repo/fixtures/sf10")
    val ks = args.lift(1).getOrElse("2").split(",").map(_.toInt).toSeq
    val stride = args.lift(2).map(_.toInt).getOrElse(1000)
    val m = args.lift(3).map(_.toInt).getOrElse(16)
    val probe = args.lift(4).map(_.toInt).getOrElse(1)
    val cap = args.lift(5).map(_.toInt).getOrElse(1024)
    val nProj = args.lift(6).map(_.toInt).getOrElse(8)
    val ws = args.lift(7).getOrElse("0.1").split(",").map(_.toDouble).toSeq
    val spark = LocalSession("graft-key-capture-diagnostic", LocalSession.cpus(32))
    import graft.functions.VectorFunctions.{dot, squaredL2}
    import graft.functions.expressions.TopMEdges
    import graft.operators.HnswLevel
    import org.apache.spark.sql.graftbridge.SqlBridge

    def projVector(p: Int): Seq[Double] =
      (0 until 64).map(j => HnswLevel.unitHash(s"$p-$j"))

    val e = graft.Tables.embeddings(spark, d)
      .select(col("vec_id"), col("embedding"))
    // exact top-m for the sampled sources — the BUILD's own shared
    // exact stage (Ann.sampledExactPairsAt: broadcast-sample × corpus
    // scan, map-side bounded heap, scoped fallback-threshold raise)
    val exactPairs = graft.operators.Ann.sampledExactPairsAt(e, stride, m)
    val exact = exactPairs
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    graft.operators.Ann.freeBuildState(exactPairs)
    // the neighbor-distance scale the bucket width must track: a pair
    // at squared distance D has per-projection |Δdot| ~ sqrt(D/3)
    // (uniform ±1 projection components), so capture per component is
    // governed by w / sqrt(D/3)
    val dists = exact.map(_._3).sorted
    val dMed = dists(dists.length / 2)
    val dP90 = dists((dists.length * 9) / 10)
    println(f"[key-capture] d=$d exact_pairs=${exact.length} " +
      f"nn_dist_median=$dMed%.4f nn_dist_p90=$dP90%.4f " +
      f"sigma_delta_dot_med=${math.sqrt(dMed / 3)}%.4f")
    val ids = (exact.map(_._1) ++ exact.map(_._2)).toSet
    val idsDf = spark.createDataFrame(
      ids.toSeq.map(Tuple1(_))).toDF("vec_id")

    for (w <- ws; k <- ks) {
      // full composite-key bucket table at width k: one row per
      // (vec_id, proj_id), rank + occupancy from one window over the
      // (proj_id, b0..b{k-1}) partition — the build's cap ordering
      val comps = (0 until nProj).map { p =>
        struct((lit(p).as("proj_id") +: (0 until k).map(j =>
          floor(dot(col("embedding"), typedLit(projVector((p + j) % nProj))) / w)
            .cast("long").as(s"b$j"))): _*)
      }
      val bCols = (0 until k).map(j => s"b$j")
      val bt = e.select(col("vec_id"), explode(array(comps: _*)).as("pb"))
        .select(Seq(col("vec_id"), col("pb.proj_id").as("proj_id")) ++
          bCols.map(c => col(s"pb.$c").as(c)): _*)
      val part = Window.partitionBy(("proj_id" +: bCols).map(col): _*)
      val ranked = bt
        .withColumn("rn", row_number().over(part.orderBy(col("vec_id"))))
        .withColumn("occ", count(lit(1)).over(part))
        .localCheckpoint()

      // occupancy-seen distribution over ALL n*nProj rows
      val stats = ranked.agg(
        avg(col("occ")).as("mean_seen"),
        expr("percentile_approx(occ, 0.5)").as("median_seen"),
        expr("percentile_approx(occ, 0.99)").as("p99_seen"),
        avg(when(col("rn") > cap, 1.0).otherwise(0.0)).as("evict_rate")
      ).head()

      // per-involved-id key profile: buckets + rank for each rotation
      val prof = ranked.join(broadcast(idsDf), "vec_id")
        .collect()
        .groupBy(_.getLong(0))
        .map { case (id, rows) =>
          id -> rows.map { r =>
            val p = r.getInt(1)
            val bs = (0 until k).map(j => r.getLong(2 + j)).toArray
            val rn = r.getInt(2 + k)
            (p, bs, rn)
          }.sortBy(_._1)
        }

      var before = 0; var after = 0
      for ((s0, d0, _) <- exact) {
        val ps = prof(s0); val pd = prof(d0)
        var hitB = false; var hitA = false
        var i = 0
        while (i < nProj && !hitA) {
          val (_, bs, rs) = ps(i); val (_, bd, rd) = pd(i)
          var ok = true
          var j = 0
          while (j < k && ok) {
            if (math.abs(bs(j) - bd(j)) > probe) ok = false
            j += 1
          }
          if (ok) {
            hitB = true
            if (rs <= cap && rd <= cap) hitA = true
          }
          i += 1
        }
        if (hitB) before += 1
        if (hitA) after += 1
      }
      val n = exact.length.toDouble
      println(f"[key-capture] d=$d k=$k w=$w%.3f probe=$probe cap=$cap pairs=${exact.length} " +
        f"capture_before_cap=${before / n}%.4f capture_after_cap=${after / n}%.4f " +
        f"mean_seen_occ=${stats.getDouble(0)}%.1f median_seen_occ=${stats.getLong(1)} " +
        f"p99_seen_occ=${stats.getLong(2)} evict_rate=${stats.getDouble(3)}%.4f")
    }
    spark.stop()
  }
}
