package graft.tools

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.LocalSession

/** Measures what SCORED multiprobe (Lv et al. 2007, multi-probe LSH)
  * buys on a given corpus: for a ladder of (k, w) key cells — wider
  * than grid multiprobe can afford, whose probe explode is
  * (2·probe+1)^k — and a curve of probe counts T, the fraction of
  * TRUE neighbor pairs (stride-sampled exact top-m ground truth, the
  * [[EdgeRecallSampled]] stage) whose bucket delta is reachable by a
  * top-T perturbation-ranked probe sequence, plus the measured
  * candidate mass those probes would meet.
  *
  * Probe model (the one the build's scored path implements): for
  * rotated key p over k components, bucket b_j = floor(raw_j), frac
  * f_j = raw_j − b_j, closer-boundary distance x_j = min(f_j, 1−f_j)
  * and direction d_j = −1 if f_j < 0.5 else +1. A probe is a bitmask
  * t over components (probing component j moves b_j by d_j) with
  * score Σ_{j∈t} x_j² — Lv's expected-distance ranking restricted to
  * the closer direction per component (the farther side both costs
  * more and is the less likely side for a true neighbor given the
  * query's in-bucket position). A pair is captured at T iff, on ANY
  * of the nProj rotated keys, EITHER endpoint's top-T probe set
  * reaches the other endpoint's home bucket.
  *
  * This is the measurement behind round 10's scored-multiprobe build
  * path: the round-9 sweep (SCALING_SF10.md §5) showed grid multiprobe
  * cannot hold capture and mass simultaneously anywhere in
  * (k ≤ 4, w ≤ 0.4) on the sf100 spread geometry; the (k ≥ 6,
  * w ≥ 0.3) cells that could hold both cost 3^k grid probes. This
  * tool tells us which (k, w, T) actually holds both.
  *
  * Usage: runMain graft.tools.ScoredProbeDiagnostic [sfDir] [stride] [m] [mode]
  *
  * mode `broad` (default) sweeps layouts × (k, w) for before-cap
  * capture curves; mode `focus` takes the disjoint-layout finalists
  * and measures what the BUILD would actually see: after-cap capture
  * (the grid path's killer) and capped candidate mass, at several T.
  */
object ScoredProbeDiagnostic {
  def main(args: Array[String]): Unit = {
    val d = args.headOption.getOrElse("/root/repo/fixtures/sf100")
    val stride = args.lift(1).map(_.toInt).getOrElse(1000)
    val m = args.lift(2).map(_.toInt).getOrElse(16)
    val mode = args.lift(3).getOrElse("broad")
    val spark = LocalSession("graft-scored-probe-diagnostic", LocalSession.cpus(32))
    import graft.operators.Ann

    val e = graft.Tables.embeddings(spark, d)
      .select(col("vec_id"), col("embedding"))
    val cnt = e.count()
    val nProj = 8
    val cap = 1024
    // exact ground truth — the BUILD's own shared exact stage
    // (stride from the arg, not the build's derived one, so the
    // sample matches the other recall tools)
    val exact = Ann.sampledExactPairsAt(e, stride, m)
    val nPairs = exact.count()
    println(s"[scored-probe] d=$d n=$cnt sampled_pairs=$nPairs m=$m")

    if (mode == "focus") {
      // finalists from the broad 200k sweep: disjoint layouts in the
      // capture-feasible (k >= 6, w >= 0.4) region; the decision
      // numbers are AFTER-CAP capture and capped mass at each T
      val ladder = Seq(
        ("dis4", Ann.disjointKeys(4, 6), 6, 0.5), ("dis4", Ann.disjointKeys(4, 6), 6, 0.6),
        ("dis8", Ann.disjointKeys(8, 6), 6, 0.4), ("dis8", Ann.disjointKeys(8, 6), 6, 0.5),
        ("dis8", Ann.disjointKeys(8, 6), 6, 0.6),
        ("dis8", Ann.disjointKeys(8, 8), 8, 0.5), ("dis8", Ann.disjointKeys(8, 8), 8, 0.6))
      for ((tag, keys, k, w) <- ladder; t <- Seq(4, 8, 16, 32)) {
        val cap2 = Ann.scoredCaptureAfterCap(e, exact, keys, w, t, cap)
        val mass = Ann.scoredProbeMass(e, keys, w, t, cap,
          Ann.captureSampleStride(cnt))
        println(f"[scored-aftercap] layout=$tag k=$k w=$w T=$t " +
          f"capture_after_cap=$cap2%.4f mean_candidates_per_query=$mass%.1f " +
          f"budget=${Ann.KeyDimsColliderTarget * nProj}")
      }
    } else {
    val Ts = Seq(4, 8, 16, 32, 64, 128, 256)
    val rotated = Seq((3, 0.1), (4, 0.2), (4, 0.4), (6, 0.3), (6, 0.4),
      (6, 0.5), (6, 0.6), (8, 0.4), (8, 0.5))
      .map { case (k, w) => (s"rot8", Ann.rotatedKeys(nProj, k), k, w) }
    val disjoint = for {
      nk <- Seq(4, 8)
      (k, w) <- Seq((4, 0.3), (4, 0.4), (6, 0.3), (6, 0.4), (6, 0.5), (6, 0.6),
        (8, 0.5), (8, 0.6))
    } yield (s"dis$nk", Ann.disjointKeys(nk, k), k, w)
    for (dirs <- Seq(1, 2);
         (tag, keys, k, w) <- rotated ++ disjoint
         if Ann.probeCodeCount(k, dirs) <= 6561) {
      val ts = Ts.filter(_ <= Ann.probeCodeCount(k, dirs))
      val curve = Ann.scoredCaptureCurve(e, exact, keys, w, ts, dirs)
      val curveStr = ts.zip(curve).map { case (t, c) => f"T=$t:$c%.4f" }.mkString(" ")
      println(s"[scored-capture] layout=$tag dirs=$dirs k=$k w=$w $curveStr")
      // mass at the smallest floor-clearing T, else at the largest T
      // measured (to see the capture/mass tradeoff even when the
      // config cannot reach the floor)
      val pick = ts.zip(curve).find(_._2 >= Ann.CaptureFloor)
        .orElse(ts.zip(curve).lastOption.filter(_._2 >= 0.3))
      pick.foreach { case (t, c) =>
        val mass = Ann.scoredProbeMass(e, keys, w, t, cap,
          Ann.captureSampleStride(cnt), dirs)
        println(f"[scored-mass] layout=$tag dirs=$dirs k=$k w=$w T=$t capture=$c%.4f " +
          f"mean_candidates_per_query=$mass%.1f budget=${Ann.KeyDimsColliderTarget * nProj}")
      }
    }
    }
    spark.stop()
  }
}
