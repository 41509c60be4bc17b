package graft

/** Dev tool: dump `explain("formatted")` of headline queries to
  * PLANS.md — the checked-in evidence that the plans have the shape
  * the docstrings claim (pushdown, broadcasts, no stray shuffles,
  * the custom KnnJoin node).
  * Usage: runMain graft.PlanDump [sfDir] [outFile]
  */
object PlanDump {
  val Headline: Seq[String] = Seq(
    "knn_batch",          // custom KnnJoinExec operator
    "pricing_summary",    // pushdown + pruned scan + partial aggs
    "events_asof_order",  // union + window, zero joins
    "minhash_lsh_dedup",  // banded equi-join
    "simhash64_neardup",  // scale-safe 4x16-bit banded equi-join
    "ann_ivf",            // broadcast codebook, cell-probe equi-join
    "ann_pq",             // broadcast LUT, map-only ADC scan + top-k
    "ann_ivfpq",          // residual codes, broadcast per-cell LUTs,
                          // cell-restricted (not full-corpus) ADC scan
    "hnsw_edges_approx",  // LSH candidates -> map-side TopMEdges heap,
                          // candidate multiset never exchanged
    "neardup_lsh",        // bucket join, eps filter BEFORE the dedup
                          // shuffle: exchange is true-pair-sized
    "langid_trigram",     // broadcast lang grid, single trigram shuffle
    "domain_mix",         // bucket-histogram prune: admission window
                          // over broadcast-pruned candidates, not corpus
    "multimodal_knn",     // real WAV decode -> 8-band energy ->
                          // broadcast query-band equi-join, integer L2
    "multimodal_wav_energy", // real WAV decode+reduce in the scan stage
    "multimodal_grid_knn",   // decoded-grid kNN: cell equi-join, integer L2
    "semantic_dedup",     // two-level stride-seeded assignment (r7):
                          // coarse broadcast, ccell/cell equi-joins,
                          // materialized assignment diamond
    "semantic_dedup_probe", // multi-probe assignment (r10): pair stage
                          // reads the materialized top-p assignment,
                          // probes x occupants cell equi-join
    "cross_split_contamination", // eval-vs-train band-key equi-join
    "passage_dedup",      // hash-reduced passage explosion, two-level
                          // agg + semi-join — exchanges carry int64s
    "substring_dedup")    // positional-shingle repeated-span islands:
                          // hash-agg on int64 shingle, semi-join,
                          // per-doc gaps-and-islands windows — no
                          // text crosses any exchange

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.001"
    val out = if (args.length > 1) args(1) else "PLANS.md"
    val spark = LocalSession("graft-plandump", 8, "ERROR")
    val sb = new StringBuilder
    sb.append("# PLANS — formatted physical plans of headline queries\n\n")
    sb.append(s"Generated by `graft.PlanDump` at $sfDir. Regenerate: " +
      "`sbt \"runMain graft.PlanDump\"`.\n")
    Headline.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      sb.append(s"\n## $name\n\n```\n$plan```\n")
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out), sb.toString)
    println(s"[plandump] wrote $out")
    spark.stop()
  }
}
