package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg: comma-separated query-name filter (dev tool —
    // single-query gate runs; the driver always passes exactly 2 args)
    val (sfDir, outDir) = (args(0), args(1))
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    def keep(name: String): Boolean = only.forall(_.contains(name))
    val spark = LocalSession("graft-verify", LocalSession.cpus(4))
    new java.io.File(outDir).mkdirs()
    // No warm-up pass. Bench warms every query at sf0.001 because it
    // measures steady-state seconds; this main measures nothing — each
    // query runs once and only the RESULT matters, so JIT cost is paid
    // exactly once either way and a warm-up pass would near-double the
    // plans executed. Gate wall-time is a budget (the r6 driver
    // artifact came back empty, plausibly a driver-side timeout):
    // dropping the warm-up cut the sf0.01 gate's Spark phase
    // measurably with bitwise-identical output (results are
    // JIT-independent by construction). SPARK_GRAFT_VERIFY_WARM=1
    // restores it for A/B timing.
    if (sys.env.get("SPARK_GRAFT_VERIFY_WARM").contains("1")
        && !sfDir.contains("sf0.001")) {
      SparkEntry.queries.foreach { case (name, fn) =>
        if (keep(name)) {
          try fn(spark, "/root/testdata/sf0.001").count()
          catch { case _: Throwable => () }
        }
      }
    }
    // Reader-unstable dtype guard: a DECIMAL column in a DECLARED
    // output hashes differently depending on which parquet reader the
    // adjudicator uses (duckdb .df() → float64, pyarrow → Decimal
    // objects) — the r11 dedup_stats driver red, unreproducible
    // through any same-reader path. Decimals stay fine INTERNALLY
    // (exact aggregation); they must not reach a gate-hashed schema.
    def decimalCols(t: org.apache.spark.sql.types.DataType,
        path: String): Seq[String] = t match {
      case _: org.apache.spark.sql.types.DecimalType => Seq(path)
      case s: org.apache.spark.sql.types.StructType =>
        s.fields.toSeq.flatMap(f => decimalCols(f.dataType, s"$path.${f.name}"))
      case a: org.apache.spark.sql.types.ArrayType =>
        decimalCols(a.elementType, s"$path[]")
      case m: org.apache.spark.sql.types.MapType =>
        decimalCols(m.keyType, s"$path.key") ++
          decimalCols(m.valueType, s"$path.value")
      case _ => Seq.empty
    }
    // Bench's leaked-state discipline (see Bench.scala): several
    // queries return caller-owned block-manager state by design
    // (localCheckpoint'd assignments, cached bands); this main IS the
    // caller, and without freeing between queries ~100 queries of
    // leaked checkpoints accumulate into late-query GC/OOM pressure —
    // at a wall-clock-budgeted driver gate that surfaces as a query
    // failure. Results are written BEFORE the free, and the in-session
    // chooser memo is a plain map, untouched by cache clearing.
    def freeLeakedState(): Unit = {
      spark.sharedState.cacheManager.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    }
    SparkEntry.queries.filter(kv => keep(kv._1)).foreach { case (name, fn) =>
      val t0 = System.nanoTime()
      try {
        val df = fn(spark, sfDir)
        val decs = df.schema.fields.toSeq
          .flatMap(f => decimalCols(f.dataType, f.name))
        if (decs.nonEmpty) System.err.println(
          s"[verify] WARNING $name: decimal column(s) ${decs.mkString(",")} " +
            "in a declared output — reader-unstable at the driver gate " +
            "(duckdb renders DECIMAL as float64, pyarrow as Decimal objects)")
        df.coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        System.err.println(
          f"[verify] $name ok in ${(System.nanoTime() - t0) / 1e9}%.1f s")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      freeLeakedState()
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql.filter(kv => keep(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    // In filtered (dev) mode write to a suffixed name: a partial run
    // must never clobber a full verification artifact in the same
    // outDir — a later DuckDB compare over oracle_sql.json would
    // silently skip every unfiltered query.
    val oracleName =
      if (only.isDefined) "oracle_sql.partial.json" else "oracle_sql.json"
    Files.writeString(Paths.get(s"$outDir/$oracleName"), json)
    spark.stop()
  }
}
