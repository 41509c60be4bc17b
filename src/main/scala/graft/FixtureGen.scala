package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic sf1 fixture generator — the 10× scale point the
  * scale-proof run measures against (VERDICT r5 task 1). The driver
  * owns /root/testdata (read-only, seed=42); this derives sf1 FROM
  * sf0.1 so the scale point exists without touching driver territory:
  *
  *   sf1 = ⋃_{r=0..9} T_r(sf0.1)
  *
  * where T_0 = identity and T_r (r ≥ 1) remaps keys into disjoint
  * ranges (`key + r · maxKey⁺`) with every foreign key remapped by the
  * SAME replica offset — referential integrity holds per replica by
  * construction. Content is decorrelated across replicas so the data
  * distribution SCALES instead of degenerating into 10-clone groups:
  *
  *   - `embeddings.embedding`: + a per-(replica, id, dim) uniform
  *     perturbation in [-0.05, 0.05) from a splitmix64-style integer
  *     hash — clone groups would make every dedup/knn distance tie
  *     and every near-dup group 10-wide (pair counts 45× instead of
  *     10×, a data artifact masquerading as a plan regression);
  *   - `documents.text`: every word gets a replica suffix (`w` →
  *     `wxR`), so shingle/minhash/jaccard structure WITHIN a replica
  *     is exactly sf0.1's and cross-replica similarity is zero —
  *     near-dup pair counts scale exactly 10×. `n_chars` is
  *     recomputed to keep its `= length(text)` invariant;
  *   - dimension tables (`region`, `nation`) stay as-is (they are
  *     scale-invariant in TPC-H too);
  *   - `events.user_id` offsets per replica (10× users, same per-user
  *     session/window structure; timestamps unchanged so time-window
  *     density grows 10× — the streaming-state stress axis).
  *
  * Determinism: every transform is a pure column expression over the
  * (deterministic, driver-seeded) sf0.1 input — regenerating yields
  * byte-identical row sets. `--fingerprint` prints a per-table
  * order-insensitive content hash (sum of xxhash64 over canonicalized
  * rows) so FIXTURES.md can pin regeneration stability.
  *
  * Usage: runMain graft.FixtureGen <outDir> [--fingerprint]
  *          [--replicas N] [--tables a,b,c] [--spread]
  *
  * `--tables` restricts generation to the named tables — the rung-3
  * key-ladder scale point needs ONLY a ~2M-row embeddings table
  * (1000 replicas), and generating the 600M-row lineitem alongside
  * it would be pure waste. Strides are replica-count-agnostic:
  * disjointness needs stride ≥ the per-replica key range, which
  * holds at any N.
  *
  * `--spread` switches the EMBEDDINGS decorrelation from base+noise
  * to full per-replica regeneration. The ±0.05 noise keeps every
  * clone family within near-dup range (clone-pair dist² ≈ 0.11 vs
  * the corpus's natural nn dist² ≈ 1.3) — intended for dedup
  * honesty at sf1/sf10, but at 1000 replicas it makes bucket-stage
  * candidate mass ∝ replicas² (clones co-bucket by construction),
  * a fixture artifact that swamps any key-ladder measurement
  * (observed: the clone-structured 2M fixture ground ~4×10¹¹
  * candidate pairs, ~300× the sf10 stage, killed after 2h22m).
  * Spread replicas draw each dim i.i.d. uniform in
  * [-0.2165, 0.2165) — matching the driver corpus's per-dim
  * envelope (std 0.125), so the per-projection bucket fanout carries
  * over from the gated fixtures — giving a corpus whose bucket
  * occupancy actually divides when [[graft.operators.Ann.measuredKeyDims]]
  * widens the key, i.e. the thing the rung-3 point measures.
  * Replica 0 stays verbatim either way.
  */
object FixtureGen {
  val Replicas = 10

  /** Replica count for this generation run — 10 (sf1, the default)
    * or 100 (sf10, the 100× scale point). Every stride above is ≥
    * 10× its per-replica key range, so 100 replicas stay disjoint
    * with the same constants; the word suffix (`wxR`) and the
    * per-(replica, id, dim) noise hash are replica-count-agnostic. */
  private val Src = "/root/testdata/sf0.1"

  def tables(s: SparkSession, replicas: Int = Replicas,
      spread: Boolean = false): Map[String, DataFrame] = {
    // events.ts passes through VERBATIM in whatever physical type the
    // driver fixture carries — BIGINT nanos (older TIMESTAMP(NANOS)
    // vintage, via the legacy flag) or timestamp[us] (newer vintage).
    // Tables.normalizeTs folds either written form to identical µs
    // TimestampType values, so sf1 consumers are vintage-agnostic;
    // the events fingerprint is vintage-specific (FINGERPRINTS.txt).
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    def rd(name: String) = s.read.parquet(s"$Src/$name.parquet")
    val rep = broadcast(s.range(0, replicas).select(col("id").cast("int").as("r")))

    // key offsets: one past the max key at sf0.1, constant per table
    // (hard-coded from FIXTURES.md row counts — keys are dense 0-based
    // or 1-based; a generous power-of-ten stride keeps ranges disjoint
    // and replica recovery trivial: replica = key / stride)
    val custStride = 100000L   // 15,000 customers at sf0.1
    val suppStride = 10000L    // 1,000 suppliers
    val partStride = 100000L   // 20,000 parts
    val orderStride = 1000000L // 150,000 orders (keys sparse in TPC-H)
    val docStride = 100000L    // 5,000 docs
    val vecStride = 10000L     // 2,000 vectors
    val eventStride = 1000000L // 100,000 events
    val userStride = 100000L

    val customer = rd("customer").crossJoin(rep).select(
      (col("c_custkey") + col("r") * custStride).as("c_custkey"),
      col("c_name"), col("c_nationkey"), col("c_acctbal"), col("c_mktsegment"))

    val supplier = rd("supplier").crossJoin(rep).select(
      (col("s_suppkey") + col("r") * suppStride).as("s_suppkey"),
      col("s_name"), col("s_nationkey"), col("s_acctbal"))

    val part = rd("part").crossJoin(rep).select(
      (col("p_partkey") + col("r") * partStride).as("p_partkey"),
      col("p_name"), col("p_brand"), col("p_type"), col("p_size"),
      col("p_retailprice"))

    val orders = rd("orders").crossJoin(rep).select(
      (col("o_orderkey") + col("r") * orderStride).as("o_orderkey"),
      (col("o_custkey") + col("r") * custStride).as("o_custkey"),
      col("o_orderstatus"), col("o_totalprice"), col("o_orderdate"),
      col("o_orderpriority"))

    val lineitem = rd("lineitem").crossJoin(rep).select(
      (col("l_orderkey") + col("r") * orderStride).as("l_orderkey"),
      (col("l_partkey") + col("r") * partStride).as("l_partkey"),
      (col("l_suppkey") + col("r") * suppStride).as("l_suppkey"),
      col("l_linenumber"), col("l_quantity"), col("l_extendedprice"),
      col("l_discount"), col("l_tax"), col("l_returnflag"),
      col("l_linestatus"), col("l_shipdate"))

    val events = rd("events").crossJoin(rep).select(
      (col("event_id") + col("r") * eventStride).as("event_id"),
      col("ts"),
      (col("user_id") + col("r") * userStride).as("user_id"),
      col("event_type"), col("value"), col("props"))

    val documents = rd("documents").crossJoin(rep).select(
      (col("doc_id") + col("r") * docStride).as("doc_id"),
      when(col("r") === 0, col("text")).otherwise(
        // suffix every word: cross-replica shingle overlap → 0
        expr("array_join(transform(split(text, ' '), w -> concat(w, 'x', CAST(r AS STRING))), ' ')"))
        .as("text"),
      col("lang"), col("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))

    // spread mode: replicas r ≥ 1 regenerate each dim i.i.d. uniform
    // in [-0.2165, 0.2165) (std 0.125 = the driver corpus's per-dim
    // envelope) from the same per-(replica, id, dim) hash — no clone
    // structure at all; see the --spread scaladoc
    val replicaEmbedding =
      if (spread)
        expr("""transform(embedding, (x, i) -> CAST(
               |  (pmod(xxhash64(vec_id, i, r), 1000000) / 1000000.0D - 0.5D) * 0.433D
               |  AS FLOAT))""".stripMargin.replaceAll("\n", " "))
      else
        // per-(replica, id, dim) uniform noise in [-0.05, 0.05):
        // xxhash64 (overflow-free under ANSI mode, unlike hand-rolled
        // integer mixing) drives pmod into [0, 10⁶), scaled and
        // centered; FLOAT keeps the declared ARRAY<FLOAT> schema
        expr("""transform(embedding, (x, i) -> CAST(x +
               |  (pmod(xxhash64(vec_id, i, r), 1000000) / 10000000.0D - 0.05D)
               |  AS FLOAT))""".stripMargin.replaceAll("\n", " "))

    val embeddings = rd("embeddings").crossJoin(rep).select(
      (col("vec_id") + col("r") * vecStride).as("vec_id"),
      when(col("r") === 0, col("embedding")).otherwise(replicaEmbedding)
        .as("embedding"),
      col("label"))

    Map(
      "region" -> rd("region"), "nation" -> rd("nation"),
      "customer" -> customer, "supplier" -> supplier, "part" -> part,
      "orders" -> orders, "lineitem" -> lineitem, "events" -> events,
      "documents" -> documents, "embeddings" -> embeddings)
  }

  def main(args: Array[String]): Unit = {
    // a flags-first invocation must not write fixtures into a dir
    // literally named "--fingerprint": the first arg is outDir only
    // when it isn't a flag
    val outDir = args.headOption.filterNot(_.startsWith("--"))
      .getOrElse("/root/repo/fixtures/sf1")
    val fingerprint = args.contains("--fingerprint")
    // --replicas N: 10 = sf1 (default, byte-identical to the pinned
    // fingerprints), 100 = sf10 (the 100× scale point)
    var only = Set.empty[String]
    var replicas = Replicas
    args.sliding(2).foreach {
      case Array("--replicas", n) => replicas = n.toInt
      case Array("--tables", t) => only = t.split(",").toSet
      case _ => ()
    }
    val spread = args.contains("--spread")
    val spark = LocalSession("graft-fixture-gen", LocalSession.cpus(32))

    tables(spark, replicas, spread).toSeq.sortBy(_._1)
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, df) =>
      df.write.mode("overwrite").parquet(s"$outDir/$name.parquet")
      if (fingerprint) {
        // order-insensitive content hash: sum of xxhash64 over the
        // canonical string form of every row — pins regeneration
        // stability in FIXTURES.md
        // sum in DECIMAL(38,0): a BIGINT sum of per-row xxhash64 values
        // overflows under ANSI mode
        // ONE read serves both the hash aggregate and the row count —
        // a separate count() re-scanned the whole table (at sf10 the
        // regenerated lineitem is ~600M rows, doubling wall time)
        val row = spark.read.parquet(s"$outDir/$name.parquet")
          .select(xxhash64(to_json(struct(col("*")))).cast("decimal(38,0)").as("h"))
          .agg(sum(col("h")), count(lit(1))).head()
        val h = row.getDecimal(0)
        val n = row.getLong(1)
        println(f"[fixture] $name%-10s rows=$n%9d fingerprint=$h%s")
      } else {
        println(s"[fixture] $name written")
      }
    }
    spark.stop()
  }
}
