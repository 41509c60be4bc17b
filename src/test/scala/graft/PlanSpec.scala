package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{ArrayTransform, Expression,
  HigherOrderFunction, Literal, StringSplit}
import org.apache.spark.sql.catalyst.plans.QueryPlan
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.types.{ArrayType, IntegerType}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.expressions.WordShingles
import graft.operators.{Ann, Knn, Similarity, TextOps}

/** Physical-plan audits: the scale contracts the operators claim are
  * asserted against the actual executed plans, so a regression that
  * re-introduces a cartesian product, an interpreted hash chain, or a
  * dropped pushdown fails CI — not a 100×-slower bench three rounds
  * later. */
class PlanSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[8]")
    .appName("plan-spec")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  val d = "/root/testdata/sf0.001"

  private def plan(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("simhash_neardup: banded equi-join, no nested-loop cartesian") {
    val p = plan(TextOps.simhashNearDup(spark, d))
    assert(!p.contains("BroadcastNestedLoopJoin"), "cartesian is back")
    assert(!p.contains("CartesianProduct"), "cartesian is back")
  }

  test("simhash64_neardup: banded equi-join with 2^16-ary band buckets") {
    val df = TextOps.simhash64NearDup(spark, d)
    val p = plan(df)
    assert(!p.contains("BroadcastNestedLoopJoin"), "cartesian is back")
    assert(!p.contains("CartesianProduct"), "cartesian is back")
    // the scale contract: band values span 16 bits (mask 65535), not
    // the 5–6-bit bands of the hd<=8/48 test variant (masks 31/63)
    assert(p.contains("65535"), s"band mask is not 16-bit:\n$p")
    assert(!p.contains("& 31)") && !p.contains("& 63)"),
      "narrow band masks crept back into the declared plan")
  }

  /** Every expression of an optimized plan, including the physical
    * plans of its cached relations (`InMemoryRelation`'s inner child,
    * and under it an adaptive plan's input, which is not a tree child). */
  private def allExpressions(p: QueryPlan[_]): Seq[Expression] = {
    val inner = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.inputPlan)
      case _ => p.children ++ p.innerChildren
    }
    p.expressions ++ inner.flatMap {
      case q: QueryPlan[_] => allExpressions(q)
      case _ => Nil
    }
  }

  test("text dedup chain: shingles, hashes and signatures are kernels, not lambdas") {
    // the re-split hazard: a size(sh) > 0 filter above the shingle
    // projection is pushed down with `toks` substituted, so an
    // interpreted shingle lambda re-ran split(text) ~3x per shingle
    // inside the Filter. With the kernels no lambda sees the shingle
    // array or split(); the ONE HOF allowed is minhash's 4-element
    // band-key transform over sequence(0, 3) (and the cast lambda
    // nested in it).
    def isBandKey(h: HigherOrderFunction): Boolean = h match {
      // sequence(0, 3) is constant-folded to a literal array
      case ArrayTransform(Literal(a: ArrayData, ArrayType(IntegerType, _)), _) =>
        a.toIntArray().toSeq == Seq(0, 1, 2, 3)
      case _ => false
    }
    val queries = Seq(
      "minhash_lsh_dedup" -> TextOps.minhashLshDedup(spark, d),
      "simhash64_neardup" -> TextOps.simhash64NearDup(spark, d),
      "simhash_neardup" -> TextOps.simhashNearDup(spark, d),
      "doc_fingerprint" -> TextOps.docFingerprint(spark, d),
      "repetition_stats" -> TextOps.repetitionStats(spark, d))
    queries.foreach { case (name, df) =>
      val exprs = allExpressions(df.queryExecution.optimizedPlan)
      val hofs = exprs.flatMap(_.collect { case h: HigherOrderFunction => h })
      val allowed = hofs.filter(isBandKey)
        .flatMap(_.collect { case h: HigherOrderFunction => h })
      val stray = hofs.filterNot(h => allowed.exists(_ eq h))
      assert(stray.isEmpty, s"$name plans an interpreted lambda:\n${stray.mkString("\n")}")
      val splitInLambda = hofs.flatMap(_.functions).exists(_.exists(_.isInstanceOf[StringSplit]))
      assert(!splitInLambda, s"$name splits text inside a lambda")
      assert(exprs.exists(_.exists(_.isInstanceOf[WordShingles])), s"$name lost the shingle kernel")
    }
  }

  test("langid_trigram: the doc x language grid is broadcast, not cartesian") {
    val p = plan(TextOps.langidTrigram(spark, d))
    assert(!p.contains("CartesianProduct"), s"langid grid plans a cartesian:\n$p")
  }

  test("ann_lsh / lsh_buckets: no per-row md5 projection chain") {
    // projections are literal arrays now; md5 must not appear in the plan
    assert(!plan(Ann.lshBuckets(spark, d)).toLowerCase.contains("md5"))
    assert(!plan(Ann.annLsh(spark, d)).toLowerCase.contains("md5"))
  }

  test("pricing_summary scan prunes columns and pushes the date filter") {
    val p = plan(operators.Relational.pricingSummary(spark, d))
    assert(p.contains("PushedFilters: ["), "no pushed filters in scan")
    // full lineitem is 16 columns; the scan must read only what's used
    val readSchema = "ReadSchema: [^\\n]*".r.findFirstIn(p).getOrElse("")
    assert(readSchema.nonEmpty && readSchema.count(_ == ',') < 10,
      s"scan reads too many columns: $readSchema")
  }

  test("knn_batch / knn_graph: the corpus side never shuffles its vectors") {
    // the k-NN join emits (query_id, id, dist) partials; an Exchange
    // of embedding arrays would mean the corpus is being shuffled.
    val pBatch = plan(Knn.knnBatch(spark, d))
    assert(!"Exchange [^\\n]*embedding".r.findFirstIn(pBatch).isDefined,
      "corpus vectors cross an exchange in knn_batch")
    // knn_batch plans through the first-class Catalyst operator
    // (the plan string renders KnnJoinExec as "KnnJoin" — Spark strips
    // the Exec suffix — and must NOT carry the "!" invalid-node marker)
    assert("(?m)\\bKnnJoin\\b".r.findFirstIn(pBatch).isDefined,
      s"knn_batch no longer plans the custom operator:\n$pBatch")
    assert(!pBatch.contains("!KnnJoin"),
      s"KnnJoinExec is marked invalid in the plan:\n$pBatch")
  }

  test("ivf / centroid classification broadcast the codebook") {
    assert(plan(Similarity.nearestCentroid(spark, d)).contains("BroadcastExchange"))
    assert(plan(Ann.annIvf(spark, d)).contains("BroadcastExchange"))
  }

  test("events_asof_order: union + one window pass, no join operator at all") {
    // the as-of is a union + carry-forward window; any Join node means
    // the quadratic theta-join form crept back in
    val p = plan(operators.EventsOps.asofOrderJoin(spark, d))
    assert(!p.contains("Join"), s"as-of join plans a join:\n$p")
    assert(p.contains("Window"), "as-of join lost its window")
  }

  test("bucketed tables co-locate the join: no shuffle, buckets pruned") {
    // the 100 TB co-located-join path: both sides bucketed on the key
    // with the same bucket count join with ZERO exchanges — the join
    // reads matching buckets in place. Single-node proof of the
    // layout the engine would give a large deployment.
    val tmp = java.nio.file.Files.createTempDirectory("graft_bucketed").toString
    val e = Tables.embeddings(spark, d).select(col("vec_id"), col("label"))
    for (t <- Seq("b1", "b2")) {
      spark.sql(s"DROP TABLE IF EXISTS $t")
      e.write.format("parquet").option("path", s"$tmp/$t")
        .bucketBy(8, "vec_id").sortBy("vec_id").saveAsTable(t)
    }
    // disable auto-broadcast: at fixture size the planner would rather
    // broadcast (also correct), hiding the co-location this test pins
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("b1").join(spark.table("b2"), "vec_id")
      val p = plan(joined)
      assert(!p.contains("Exchange"), s"bucketed join still shuffles:\n$p")
      assert(p.contains("Bucketed: true"), s"scan not bucket-aware:\n$p")
      assert(joined.count() == e.count())
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
  }

  test("partitioned layout prunes partitions at the scan") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_part").toString
    Tables.documents(spark, d)
      .write.mode("overwrite").partitionBy("lang").parquet(tmp)
    val scan = spark.read.parquet(tmp).filter(col("lang") === "en")
    val p = plan(scan)
    assert("PartitionFilters: \\[[^\\]]*lang[^\\]]*\\]".r.findFirstIn(p).isDefined,
      s"lang filter did not become a partition filter:\n$p")
    val enCount = Tables.documents(spark, d).filter(col("lang") === "en").count()
    assert(scan.count() == enCount)
  }

  test("graph searches: frontier broadcasts through every round, no cartesian") {
    // truncateLineage=false keeps all rounds in one analyzable plan
    // (the default per-round localCheckpoint would hide every earlier
    // round behind an RDD scan; it is plan-inspection-only — each
    // round references the prior pool twice, so an un-truncated plan
    // grows exponentially and must never be executed). Contract:
    // frontier expansion and scoring are broadcast HASH joins; no
    // cartesian and no corpus-sized sort-merge join anywhere. (The
    // 1-row entry seed plans as a BroadcastNestedLoopJoin — correct:
    // pairing every query with one constant row has no join key — so
    // BNLJ presence is not asserted against; no corpus DF carries a
    // broadcast hint in these plans, so the build side is always
    // query-sized.)
    // hnswSearch at fixture scale runs FULLY COLLAPSED (the whole
    // graph fits the broadcast budget, so descent + beam are one
    // MapPartitions walk — no join of any kind, strictly stronger
    // than the broadcast-join contract); annGraphSearch keeps the
    // per-round broadcast-join recurrence and pins it.
    val pw = plan(Ann.hnswSearch(spark, d, rounds = 1, truncateLineage = false))
    assert(pw.contains("MapPartitions"), "collapsed walk missing from hnsw plan")
    assert(!pw.contains("CartesianProduct"), "cartesian in a graph search")
    assert(!pw.contains("SortMergeJoin"), "corpus-sized shuffle join in a graph search")
    val p = plan(Ann.annGraphSearch(spark, d, rounds = 2, truncateLineage = false))
    assert(p.contains("BroadcastHashJoin"), "frontier is not broadcast-joined")
    assert(!p.contains("CartesianProduct"), "cartesian in a graph search")
    assert(!p.contains("SortMergeJoin"), "corpus-sized shuffle join in a graph search")
  }

  test("sequence_pack: the corpus-row window is bucket-partitioned, not global") {
    // the scale contract of the two-level prefix sum: per-doc cumsum
    // windows must carry a partition spec (bucket), so no corpus-sized
    // Exchange SinglePartition exists — the only single-partition
    // window runs over the bucketSize-times-smaller totals table
    val p = plan(TextOps.sequencePack(spark, d))
    assert(p.contains("windowspecdefinition(bucket"),
      s"per-doc window is not partitioned by bucket:\n$p")
    val singles = "Exchange SinglePartition".r.findAllIn(p).size
    assert(singles <= 1,
      s"more than one single-partition exchange (corpus-sized window crept in):\n$p")
  }

  test("semantic_dedup: broadcast seed assignment, equi-join refine and pair stages") {
    // scale contract of the two-level stride-seeded form, pinned on
    // the assignment subplan: the only nested-loop joins allowed are
    // the two COARSE-seed broadcasts (corpus × n/cellSize² seeds,
    // fine-seeds × coarse-seeds); the level-2 refinement must be an
    // equi-join on ccell — the fine codebook is corpus-scaled and
    // must never be crossed against the corpus
    val pa = plan(Similarity.semanticCells(spark, d, 64))
    assert(!pa.contains("CartesianProduct"), s"cartesian in the assignment:\n$pa")
    val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(pa).size
    assert(bnlj <= 2, s"a corpus-scaled join fell back to nested-loop:\n$pa")
    // the dedup phase reads the MATERIALIZED assignment (both pair
    // sides reference it; unchecked, the whole assignment planned
    // twice) and pairs via a cell equi-join
    val p = plan(Similarity.semanticDedup(spark, d))
    assert(!p.contains("CartesianProduct"), s"cartesian in semantic_dedup:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"assignment subplan planned into the dedup phase (diamond unbroken):\n$p")
    assert(p.contains("ExistingRDD"),
      s"no materialized-assignment scan in semantic_dedup:\n$p")
  }

  test("semantic_dedup_probe: one coarse broadcast, equi-join refine and pair stages") {
    // the multi-probe assignment keeps the single-probe ladder's scale
    // shape: the only nested-loop joins allowed are the two COARSE-seed
    // broadcasts (corpus × n/cellSize^levels seeds on the probe side,
    // seed-rows × coarse-seeds inside the seeds branch — the same
    // diamond semanticCells pins at <= 2); every refinement level joins
    // the running assignment to its seeds on pcell — an equi-join —
    // and the top-p heap is a map-side TopMEdges partial, so the
    // corpus never shuffles as crossed candidates
    val pa = plan(Similarity.semanticCellsProbeForAudit(spark, d))
    assert(!pa.contains("CartesianProduct"), s"cartesian in probe assignment:\n$pa")
    val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(pa).size
    assert(bnlj <= 2, s"a refinement level fell back to nested-loop:\n$pa")
    assert(pa.contains("top_m_edges"),
      s"top-p heap is not the TopMEdges aggregate:\n$pa")
    // the seeds-branch coarse recomputation is only affordable because
    // the stride predicate pushes below its top-p aggregate to the
    // scan — the same contract the single-probe ladder pins
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter}
    val opt = Similarity.semanticCellsProbeForAudit(spark, d)
      .queryExecution.optimizedPlan
    val strideFilters = opt.collect {
      case f: Filter if f.condition.toString.contains("% 64") => f
    }
    assert(strideFilters.exists(f =>
      f.child.collect { case a: Aggregate => a }.isEmpty),
      s"seed-stride filter stranded above the probe assignment aggregate:\n$opt")
    // the dedup phase reads the MATERIALIZED assignment and pairs
    // probes × occupants via a cell equi-join
    val p = plan(Similarity.semanticDedupProbe(spark, d))
    assert(!p.contains("CartesianProduct"), s"cartesian in semantic_dedup_probe:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"pair stage fell back to nested-loop:\n$p")
    assert(p.contains("ExistingRDD"),
      s"no materialized-assignment scan in semantic_dedup_probe:\n$p")
  }

  test("semantic_dedup: the seed-stride filter pushes below the assignment argmin") {
    // the r9 ladder derives each level's seed table by FILTERING the
    // running assignment (seeds are corpus rows, so their cells are
    // already computed) — the cost contract is that Catalyst pushes
    // the stride predicate through the argmin Aggregate to the scan,
    // so the seed branch does seed-table-sized work (the shape the
    // old two-level form got from its separate fineCells subplan). A
    // filter stranded ABOVE the aggregate recomputes the full-corpus
    // assignment just to keep 1/cellSize of it.
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter}
    val opt = Similarity.semanticCells(spark, d, 64)
      .queryExecution.optimizedPlan
    val strideFilters = opt.collect {
      case f: Filter if f.condition.toString.contains("% 64") => f
    }
    assert(strideFilters.nonEmpty, s"no seed-stride filter in the plan:\n$opt")
    assert(strideFilters.exists(f =>
      f.child.collect { case a: Aggregate => a }.isEmpty),
      s"seed-stride filter stranded above the assignment aggregate:\n$opt")
  }

  test("cross_split_contamination: band-key equi-join candidates, no pair enumeration") {
    // the eval×train candidate stage must be an equi-join on the band
    // key — a nested loop here is the |eval|×|train| scan the banding
    // exists to avoid
    val p = plan(TextOps.crossSplitContamination(spark, d))
    assert(!p.contains("CartesianProduct"), s"cartesian in decontamination scan:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"candidate stage fell back to nested-loop:\n$p")
  }

  test("doc_chunk is a pure flatMap; bpe_pair_stats top-k never sorts globally") {
    // doc_chunk's scale contract: chunking is map-only — the only
    // exchange allowed is the presentation orderBy's range partition
    val pc = plan(TextOps.docChunk(spark, d))
    assert(!pc.contains("Exchange hashpartitioning"),
      s"doc_chunk grew a shuffle:\n$pc")
    assert(!pc.contains("Join"), s"doc_chunk grew a join:\n$pc")
    // bpe_pair_stats: one hash shuffle of partial pair counts, then
    // TakeOrderedAndProject — a global Sort of the pair table would
    // be a vocabulary²-sized sort for a 50-row answer
    val pb = plan(TextOps.bpePairStats(spark, d))
    assert(pb.contains("TakeOrderedAndProject"),
      s"bpe top-k is not TakeOrderedAndProject:\n$pb")
    assert("partial_count".r.findFirstIn(pb).isDefined,
      s"pair counting lost its map-side combine:\n$pb")
  }

  test("substring_dedup: hash-agg on shingle hash, no cartesian, no text past the hash") {
    val p = plan(TextOps.substringDedup(spark, d))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "pair enumeration is back")
    // the scale contract: duplicate detection is one hash aggregation
    // keyed by the int64 shingle hash, reached by a semi-join — and
    // every exchange carries (doc_id, pos, sh) slim rows, never the
    // document text (the hash happens before the first shuffle)
    assert(p.contains("LeftSemi"), s"semi-join verdict missing:\n$p")
    val exchanges = p.linesIterator.filter(_.contains("Exchange")).mkString("\n")
    assert(!exchanges.contains("text"), s"document text crosses a shuffle:\n$exchanges")
  }

  test("training_manifest: the mix diamond is materialized, not planned twice") {
    // srcOff aggregates the same mix the manifest joins back to;
    // without the localCheckpoint Catalyst plans the whole mix subplan
    // (two corpus scans each) TWICE — measured 4 FileScans, zero
    // ReusedExchange. The checkpoint pins the contract: the final plan
    // reads the budget-bounded materialized mix, no corpus scan left
    val p = plan(TextOps.trainingManifest(spark, d))
    val scans = "Scan parquet".r.findAllIn(p).size
    assert(scans == 0,
      s"mix subplan planned into the manifest ($scans corpus scans — diamond unbroken):\n$p")
    assert(p.contains("ExistingRDD") || p.contains("LocalTableScan"),
      s"no materialized-mix scan found in training_manifest plan:\n$p")
  }

  test("domain_mix: admission window reads the broadcast-pruned candidate set") {
    // scale contract: the corpus-side join against the candidate
    // buckets must be a broadcast hash join (the histogram-derived
    // bucket list is tiny), the admission window must be partitioned
    // by source (never global), and no cartesian may appear; the
    // global-order windows (dense_rank over sources) are allowed only
    // on the histogram branch, which single-partitions a
    // |sources|·256-row table, not the corpus
    val p = plan(TextOps.domainMix(spark, d))
    assert(p.contains("BroadcastHashJoin"),
      s"candidate-bucket prune is not a broadcast join:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian in domain_mix:\n$p")
    // match the ADMISSION window specifically (partition by source,
    // order by hk, doc_id) — the bare "windowspecdefinition(source"
    // prefix is also satisfied by the histogram branch's bucket
    // window, which would let the admission window silently lose its
    // source partitioning
    assert("windowspecdefinition\\(source#\\d+, hk#\\d+ ASC".r.findFirstIn(p).isDefined,
      s"admission window is not (partition by source, order by hk, ...):\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"corpus-sized shuffle join crept into domain_mix:\n$p")
  }

  test("shard_manifest: one hash shuffle, per-shard windows, no global sort before output") {
    val p = plan(TextOps.shardManifest(spark, d))
    // the permutation is (shard, pos) by construction — the plan must
    // not contain a single-partition exchange (a global sort/window
    // would be a corpus-sized funnel at 100 TB); the final
    // presentation orderBy is a range exchange, which is fine
    assert(!p.contains("Exchange SinglePartition"),
      s"global single-partition stage in shard_manifest:\n$p")
    assert(p.contains("windowspecdefinition(shard"),
      s"windows are not shard-partitioned:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian in shard_manifest:\n$p")
  }

  test("hnsw_edges_approx: refined build stays equi-join + hash-agg") {
    // the NND-refined build (r7): bucket candidates, finger seed, and
    // co-neighbor rounds must all plan as equi-joins — a nested-loop
    // fallback here is the corpus² scan the whole construction exists
    // to avoid — and the top-m reduction must stay an
    // ObjectHashAggregate (TopMEdges map-side bounded heap), not a
    // sort-based aggregate over the candidate multiset. The audit runs
    // over the LAZY build lineage (hnswEdgesApproxForAudit — the
    // public operator materializes eagerly behind a checkpoint, which
    // would hide the build stages from the plan string); the per-round
    // localCheckpoints still truncate lineage, so this audits the
    // final round + prune — the stage a regression would land in.
    val p = plan(Ann.hnswEdgesApproxForAudit(spark, d))
    assert(!p.contains("CartesianProduct"),
      s"cartesian in the refined approx build:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"nested-loop fallback in the refined approx build:\n$p")
    assert(p.contains("ObjectHashAggregate"),
      s"TopMEdges reduction is not an object hash aggregate:\n$p")
  }

  test("hnsw_edges_approx: no single-partition window carries the corpus or its payload") {
    // the finger-seed global rank is a two-level prefix count: the
    // only zero-partition window allowed in the build is the running
    // offset over the √n-row bucket-totals table, whose input is
    // exactly (bkt, bn) — never the embedding payload, never a
    // corpus-sized row set (the r7 advice item: the global rank window
    // used to carry the full 64-dim embedding through one partition).
    // refine = 0: the NND rounds checkpoint their inputs, which
    // truncates lineage — the un-refined plan is the one that still
    // shows the seed stage this pin audits.
    val df = Ann.hnswEdgesApproxForAudit(spark, d, refine = 0)
    val globalWindows = df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window
          if w.partitionSpec.isEmpty => w
    }
    assert(globalWindows.nonEmpty,
      "expected the bucket-offset window in the build plan")
    globalWindows.foreach { w =>
      val in = w.child.output.map(_.name).toSet
      assert(in.subsetOf(Set("bkt", "bn")),
        s"zero-partition window carries more than the bucket totals: $in")
    }
  }

  test("grid_knn: the query side's doc filter is pushed to the parquet scan") {
    // filters cannot push through the synthesis/decode mapPartitions,
    // so the one-document query side must filter BEFORE it — at scale
    // the alternative decodes the whole corpus twice to read 16 rows
    import graft.multimodal.Multimodal
    val p = plan(Multimodal.gridKnn(spark, d))
    assert(p.contains("PushedFilters: [IsNotNull(doc_id), EqualTo(doc_id,0)]"),
      s"query-side doc_id filter not pushed to the scan:\n$p")
  }

  test("multimodal_knn (audio bands): the query side's doc filter is pushed to the parquet scan") {
    // same contract as grid_knn for the audio modality: the one-document
    // query side filters the documents scan BEFORE WAV synthesis/decode
    import graft.multimodal.Multimodal
    val p = plan(Multimodal.multimodalKnn(spark, d))
    assert(p.contains("PushedFilters: [IsNotNull(doc_id), EqualTo(doc_id,0)]"),
      s"query-side doc_id filter not pushed to the scan:\n$p")
  }

  test("multimodal decode queries: media blobs never cross an exchange") {
    // the multimodal scale contract: container bytes are decoded and
    // reduced in the scan stage; only the small derived rows
    // (metadata, frame energies, grid sums) shuffle. A BINARY column
    // inside any Exchange means blobs are being moved.
    import org.apache.spark.sql.execution.exchange.Exchange
    import org.apache.spark.sql.types.BinaryType
    import graft.multimodal.Multimodal
    // AQE hides exchanges inside query stages (and its pre-execution
    // inputPlan predates EnsureRequirements, so it has none at all);
    // scope it off so executedPlan carries the literal exchange nodes
    val aqeKey = "spark.sql.adaptive.enabled"
    val prev = spark.conf.get(aqeKey)
    spark.conf.set(aqeKey, "false")
    try Seq(
      "wav_meta"   -> Multimodal.wavMeta(spark, d),
      "wav_energy" -> Multimodal.wavFrameEnergy(spark, d),
      "image_grid" -> Multimodal.imageGrid(spark, d),
      "stream_frames" -> Multimodal.streamFrames(spark, d),
      "gif_stats" -> Multimodal.gifStats(spark, d),
      "ulaw_energy" -> Multimodal.ulawEnergy(spark, d),
      "grid_knn" -> Multimodal.gridKnn(spark, d),
      "features" -> Multimodal.featuresExploded(spark, d),
      "audio_knn" -> Multimodal.multimodalKnn(spark, d)
    ).foreach { case (name, df) =>
      val exchanges =
        df.queryExecution.executedPlan.collect { case e: Exchange => e }
      assert(exchanges.nonEmpty,
        s"$name: expected the presentation-sort exchange in the plan")
      exchanges.foreach { e =>
        assert(!e.output.exists(_.dataType == BinaryType),
          s"$name: a binary blob column crosses an exchange: ${e.output}")
      }
    } finally spark.conf.set(aqeKey, prev)
  }
}
