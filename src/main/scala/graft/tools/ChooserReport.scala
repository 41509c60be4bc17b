package graft.tools

import org.apache.spark.sql.functions._

import graft.LocalSession

/** Runs the approximate build's seed-family DECISION stages on a
  * fixture and prints the whole measured trail WITHOUT paying for the
  * build itself: the measured keyDims, the grid capture at that key
  * (the [[graft.operators.Ann.CaptureFloor]] gate), and — when the
  * grid fails — the scored chooser's per-cell capture/mass ladder,
  * its verify iterations, and the final (possibly loudly refusing)
  * choice, exactly as `hnswEdgesApprox` would make it.
  *
  * This exists for the round-13 re-measurement of the rung-3
  * (2M-vector sf100) point on the current tree: the r10
  * scored-multiprobe chooser was built for exactly the geometry that
  * collapsed there (SCALING_SF10.md §5 measured end recall 0.19 on
  * the PRE-chooser build), but the full build at that scale costs
  * hours this box doesn't owe the measurement — the decision trail is
  * the deliverable (the chooser prices the floor before any candidate
  * join runs; that is its whole design). The same stages inside the
  * real build run from the identical code paths, so this trail IS
  * what the build would decide.
  *
  * Usage: runMain graft.tools.ChooserReport [sfDir] [m] [massCeiling]
  */
object ChooserReport {
  def main(args: Array[String]): Unit = {
    val d = args.headOption.getOrElse("/root/repo/fixtures/sf100")
    val m = args.lift(1).map(_.toInt).getOrElse(16)
    val spark = LocalSession("graft-chooser-report", LocalSession.cpus(32))
    import graft.operators.Ann
    val ceiling = args.lift(2).map(_.toLong)
      .getOrElse(Ann.DefaultScoredMassCeiling)

    // the build's own defaults — the SHARED constants behind
    // hnswEdgesApprox's signature, so a retune there cannot silently
    // diverge from this tool's committed decision trails
    val (nProj, w, probe, cap) =
      (Ann.DefaultNProj, Ann.DefaultKeyW, Ann.DefaultProbe, Ann.DefaultCap)
    val e = graft.Tables.embeddings(spark, d)
      .select(col("vec_id"), col("embedding"))
    val cnt = e.count()
    println(s"[chooser-report] d=$d n=$cnt m=$m mass_ceiling=$ceiling")

    def timed[A](label: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[chooser-report] $label%-28s ${(System.nanoTime() - t0) / 1e9}%8.1f s")
      r
    }

    val keyDims = timed("measuredKeyDims")(
      Ann.measuredKeyDims(e, cnt, nProj, w))
    println(s"[chooser-report] keyDims=$keyDims (grid key width)")

    val stride = Ann.captureSampleStride(cnt)
    val exact = timed("sampledExactPairs")(
      Ann.sampledExactPairsAt(e, stride, m))
    val nPairs = exact.count()
    println(s"[chooser-report] stride=$stride sampled_exact_pairs=$nPairs")

    val gridCapture = timed("grid measuredCapture")(
      Ann.measuredCapture(e, exact, keyDims, nProj, w, probe))
    println(f"[chooser-report] grid_capture=$gridCapture%.4f " +
      f"floor=${Ann.CaptureFloor} -> " +
      (if (gridCapture >= Ann.CaptureFloor) "GRID seeds (chooser not engaged)"
       else "grid REFUSED, engaging scored chooser"))

    if (gridCapture < Ann.CaptureFloor) {
      // the chooser logs its whole ladder + verify trail to stderr;
      // mirror the final choice to stdout for the committed record
      val (keys, sw, st) = timed("chooseScoredConfig")(
        Ann.chooseScoredConfig(e, exact, cap, stride, ceiling))
      println(f"[chooser-report] chosen nKeys=${keys.size} k=${keys.head.size} " +
        f"w=$sw T=$st est_mass_per_query<=${ceiling}")
    }
    Ann.freeBuildState(exact)
    spark.stop()
  }
}
