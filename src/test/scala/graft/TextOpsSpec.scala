package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.TextOps

/** Behavioral cross-checks for the text operators: banded plans proven
  * equal to their quadratic reference forms, and the hybrid-retrieval
  * fusion's determinism contract. */
class TextOpsSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[8]")
    .appName("textops-spec")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  val d = "/root/testdata/sf0.001"

  test("simhash_neardup (hd<=8/48, test-only variant) ≡ brute-force hamming join") {
    // the tight-radius 9-band form is no longer gate-declared (its
    // 5-6-bit band buckets are a scale hazard — simhash64_neardup is
    // the declared production form); this parity check keeps it
    // correct: banded candidates + verification must equal the full
    // quadratic hamming join over the declared (green) fingerprints
    val dd = "/root/testdata/sf0.01"
    val fps = TextOps.docFingerprint(spark, dd)
      .select(col("doc_id"), col("sim48"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val brute = (for {
      (a, fa) <- fps; (b, fb) <- fps
      if a < b && java.lang.Long.bitCount(fa ^ fb) <= 8
    } yield (a, b, java.lang.Long.bitCount(fa ^ fb).toLong)).sortBy(p => (p._1, p._2))
    // non-vacuity FIRST: an empty brute set would make the equality
    // below pass trivially and hide a broken fixture
    assert(brute.nonEmpty, "fixture has no hd<=8 pairs; test is vacuous")
    val banded = TextOps.simhashNearDup(spark, dd)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2).toLong))
    assert(banded.toSeq == brute.toSeq,
      s"banded ${banded.length} pairs != brute ${brute.length}")
  }

  test("hybrid fusion tie policy: rrf and bm25 variants break equal fused scores identically") {
    // RRF scores are sums of two reciprocals, so cross-doc ties are
    // structural (swapping arm ranks preserves the sum); both hybrid
    // variants must resolve them by doc_id ascending — the fusion
    // contract that keeps either arm swappable without reordering
    // untied results
    def tiesOrdered(df: org.apache.spark.sql.DataFrame): Int = {
      val rows = df.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      var ties = 0
      rows.groupBy(_._1).foreach { case (_, rs) =>
        val byRnk = rs.sortBy(_._4)
        byRnk.sliding(2).foreach {
          case Array((_, d1, s1, r1), (_, d2, s2, r2)) =>
            assert(r2 == r1 + 1)
            if (s1 == s2) { ties += 1; assert(d1 < d2,
              s"tied score $s1: doc $d1 (rnk $r1) should precede $d2 only if smaller") }
            else assert(s1 > s2, "scores must be non-increasing in rank")
          case _ => ()
        }
      }
      ties
    }
    val tRrf = tiesOrdered(TextOps.hybridRrf(spark, d))
    val tBm = tiesOrdered(TextOps.hybridBm25(spark, d))
    info(s"adjacent fused-score ties: rrf=$tRrf bm25=$tBm")
    assert(tRrf > 0, "no ties in hybrid_rrf output; tie test is vacuous")
    assert(tBm > 0, "no ties in hybrid_bm25 output; tie test is vacuous")
  }

  test("bm25 arm: a query document ranks itself first in its own hybrid result") {
    // tf-saturated self-match dominates: doc q shares every term with
    // itself and the vector arm scores dist 0 — the fused top-1 must
    // be the query doc itself (both arms rank it 1, the max fused
    // score 2/(c0+1) is unique)
    val top1 = TextOps.hybridBm25(spark, d)
      .filter(col("rnk") === 1)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(top1.nonEmpty)
    top1.foreach { case (q, doc) => assert(q == doc, s"query $q top-1 is $doc") }
  }

  test("sequence_pack: two-level prefix sum ≡ global cumsum; bucketSize-invariant") {
    val sp = TextOps.sequencePack(spark, d).collect()
    assert(sp.nonEmpty)
    // the two-level offsets must BE the sequential cumsum, replayed
    var run = 0L
    sp.foreach { r =>
      val tokens = r.getInt(1)
      assert(r.getLong(2) == run, s"doc ${r.getLong(0)} tok_start ${r.getLong(2)} != $run")
      if (tokens > 0) {
        assert(r.getLong(5) == r.getLong(4) - r.getLong(3) + 1)
        assert(r.getLong(3) == r.getLong(2) / 2048)
      } else assert(r.getLong(5) == 0L)
      run += tokens
    }
    // the bucketing is an execution detail: any bucketSize must give
    // byte-identical packing
    val alt = TextOps.sequencePack(spark, d, bucketSize = 7).collect()
    assert(sp.map(_.toSeq).toSeq == alt.map(_.toSeq).toSeq,
      "packing differs across bucketSize choices")
  }

  test("cross_split_contamination: exactly the banded subset of true cross-split leaks") {
    val docs = Tables.documents(spark, d).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ", -1)).toMap
    def shingles(w: Array[String]): Set[String] =
      if (w.length < 3) Set.empty
      else (0 to w.length - 3).map(i => s"${w(i)} ${w(i + 1)} ${w(i + 2)}").toSet
    val split = TextOps.docSplit(spark, d).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    val evals = docs.keys.filter(split(_) != "train").toSeq
    val trains = docs.keys.filter(split(_) == "train").toSeq
    val exact = (for {
      e <- evals; t <- trains
      se = shingles(docs(e)); st = shingles(docs(t))
      if se.nonEmpty && st.nonEmpty
      i = (se & st).size
      jac = i.toDouble / (se.size + st.size - i)
      if jac >= 0.5
    } yield (e, t) -> jac).toMap
    assert(exact.nonEmpty, "fixture has no cross-split leak; test is vacuous")
    val got = TextOps.crossSplitContamination(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(2)) -> r.getDouble(3)).toMap
    // banding can only MISS true leaks, never invent one; the verify
    // stage recomputes exact Jaccard so reported values must agree
    got.foreach { case (pair, jac) =>
      assert(exact.contains(pair), s"reported leak $pair is not a true leak")
      assert(jac == exact(pair), s"jaccard mismatch for $pair")
    }
    val recall = got.size.toDouble / exact.size
    info(f"cross-split leak recall = $recall%.2f (${got.size}/${exact.size})")
    assert(recall >= 0.5, f"banding missed too many true leaks: $recall%.2f")
  }

  test("passage_dedup: matches a text-level brute-force boilerplate recount") {
    val docs = Tables.documents(spark, d).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ", -1)).toMap
    def passages(w: Array[String]): Seq[String] =
      (0 until w.length / 8).map(i => w.slice(i * 8, i * 8 + 8).mkString(" "))
    val byDoc = docs.view.filter(_._2.length >= 8)
      .mapValues(w => passages(w)).toMap
    val boiler = byDoc.toSeq.flatMap { case (id, ps) => ps.distinct.map(_ -> id) }
      .groupBy(_._1).filter(_._2.map(_._2).distinct.size >= 2).keySet
    assert(boiler.nonEmpty, "fixture has no cross-doc passage; test is vacuous")
    val expected = byDoc.toSeq.map { case (id, ps) =>
      (id, ps.size.toLong, ps.count(boiler).toLong)
    }.sortBy(_._1)
    val got = TextOps.passageDedup(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == expected,
      "passage stats diverge from the text-level recount (hash-level ≡ text-level on this corpus)")
  }

  test("substring_dedup: matches a text-level brute-force span recount") {
    // re-derive the maximal cross-document repeated spans from raw
    // text (no hashing): positional 5-shingles, duplicated iff seen
    // in >= 2 distinct docs, merged while gaps <= width — the exact
    // definition the operator and its oracle share
    val width = 5
    val docs = Tables.documents(spark, d).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ", -1)).toMap
    val shingles = docs.view.filter(_._2.length >= width).toSeq.flatMap {
      case (id, w) => (0 to w.length - width).map(i =>
        (id, i + 1L, w.slice(i, i + width).mkString(" ")))
    }
    val dup = shingles.groupBy(_._3).filter(_._2.map(_._1).distinct.size >= 2).keySet
    assert(dup.nonEmpty, "fixture has no cross-doc repeated span; test is vacuous")
    val expected = shingles.filter(s => dup(s._3))
      .groupBy(_._1).toSeq.flatMap { case (id, ss) =>
        val ps = ss.map(_._2).sorted
        // islands: split where the position gap exceeds width
        val spans = ps.tail.foldLeft(List((ps.head, ps.head))) {
          case ((s0, e0) :: rest, p) =>
            if (p - e0 <= width) (s0, p) :: rest else (p, p) :: (s0, e0) :: rest
          case (Nil, p) => List((p, p))
        }.reverse
        spans.zipWithIndex.map { case ((s0, e0), i) =>
          (id, i + 1L, s0, e0 + width - 1L, e0 + width - s0) }
      }.sortBy(t => (t._1, t._2))
    val got = TextOps.substringDedup(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSeq
    assert(got == expected,
      "spans diverge from the text-level recount (hash-level ≡ text-level on this corpus)")
  }

  test("doc_chunk: chunks tile every document with the declared width/stride") {
    val docs = Tables.documents(spark, d).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ", -1)).toMap
    val chunks = TextOps.docChunk(spark, d).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.sortBy(_.getLong(1))).toMap
    assert(chunks.keySet == docs.filter(_._2.nonEmpty).keySet,
      "chunked doc set differs from the non-empty corpus")
    chunks.foreach { case (id, cs) =>
      val n = docs(id).length
      cs.zipWithIndex.foreach { case (r, i) =>
        assert(r.getLong(1) == i, s"doc $id: chunk indices not dense")
        val start = r.getLong(2)
        assert(start == i * 48L, s"doc $id chunk $i: start $start != ${i * 48}")
        val len = r.getLong(3)
        assert(len == math.min(64L, n - start), s"doc $id chunk $i: bad length $len")
        assert(r.getString(4) == docs(id).slice(start.toInt, (start + len).toInt).mkString(" "),
          s"doc $id chunk $i: text mismatch")
      }
      // full coverage: the last chunk reaches the document's end
      val last = cs.last
      assert(last.getLong(2) + last.getLong(3) == n, s"doc $id: tail tokens uncovered")
    }
  }

  test("bpe_pair_stats: counts equal a brute-force adjacent-pair recount") {
    val docs = Tables.documents(spark, d).select("text").collect().map(_.getString(0))
    val brute = docs.flatMap { t =>
      val w = t.split(" ", -1); w.dropRight(1).zip(w.drop(1))
    }.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val top = TextOps.bpePairStats(spark, d).collect()
    assert(top.length == 50)
    val expected = brute.toSeq
      .sortBy { case ((a, b), n) => (-n, a, b) }.take(50)
    top.zip(expected).foreach { case (r, ((a, b), n)) =>
      assert((r.getString(0), r.getString(1), r.getLong(2)) == ((a, b, n)),
        s"rank mismatch: got ${r.toSeq}, want ($a,$b,$n)")
    }
  }

  test("sequence_pack: derived bucketSize √-balances both prefix-sum levels") {
    // the scale contract of the auto knob: at n docs, neither the
    // per-bucket windows (≈bucketSize rows) nor the single-task
    // bucket-totals table (⌈n/bucketSize⌉ rows) may exceed
    // max(64, ⌈√n⌉) — i.e. no level inherits a corpus-proportional
    // partition as n grows (the r6 fixed-default hazard)
    Seq(1L, 500L, 4096L, 1000000L, 10000000000L).foreach { n =>
      val bs = TextOps.autoBucketSize(n)
      val bound = math.max(64L, math.ceil(math.sqrt(n.toDouble)).toLong)
      assert(bs <= bound, s"n=$n: bucketSize $bs above the √ bound $bound")
      val totalsRows = (n + bs - 1) / bs
      assert(totalsRows <= bound + 1,
        s"n=$n: bucket-totals table $totalsRows rows exceeds the √ bound $bound")
    }
    assert(TextOps.autoBucketSize(500L) == 64,
      "fixture-scale derivation changed — bench comparability broken")
  }

  test("domain_mix: bucket-pruned admission ≡ naive per-source cumsum; budgets bind") {
    import org.apache.spark.sql.expressions.Window
    val mix = TextOps.domainMix(spark, d).collect()
    assert(mix.nonEmpty, "mixture is empty; test is vacuous")
    // naive reference form: one per-source window cumsum over the whole
    // corpus (what the oracle states), replayed without bucket pruning
    val base = graft.Tables.documents(spark, d)
      .withColumn("hk", md5(concat(lit("mix-"), col("doc_id").cast("string"))))
      .select(col("doc_id"), col("source"), col("hk"),
        expr("CAST(size(split(text, ' ')) AS BIGINT)").as("n_tok"))
    val nSrc = base.select("source").distinct().count()
    val denom = (nSrc * (nSrc + 1)) / 2
    val srcRank = base.select("source").distinct().collect()
      .map(_.getString(0)).sorted.zipWithIndex
      .map { case (src, i) => src -> (10000L * (nSrc - i)) / denom }.toMap
    val wCum = Window.partitionBy("source").orderBy(col("hk"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val naive = base.withColumn("cum_tok", sum(col("n_tok")).over(wCum)).collect()
      .filter(r => r.getAs[Long]("cum_tok") <= srcRank(r.getAs[String]("source")))
      .map(r => (r.getAs[String]("source"), r.getAs[Long]("doc_id"),
        r.getAs[Long]("n_tok"), r.getAs[Long]("cum_tok"),
        srcRank(r.getAs[String]("source"))))
      .sortBy(t => (t._1, t._4, t._2)).toSeq
    val got = mix.map(r => (r.getString(0), r.getLong(1), r.getLong(2),
      r.getLong(3), r.getLong(4))).toSeq
    assert(got == naive, "bucket-pruned admission diverges from naive cumsum")
    // non-vacuity of the budget: at least one source must have excluded
    // docs (otherwise the filter never binds and the test proves nothing)
    val admitted = mix.groupBy(_.getString(0)).view.mapValues(_.length).toMap
    val totals = base.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(totals.exists { case (src, n) => admitted.getOrElse(src, 0) < n },
      "no source was budget-limited; fixture makes the admission vacuous")
  }

  test("training_manifest: offsets replay as one contiguous token stream over the admitted mix") {
    val tm = TextOps.trainingManifest(spark, d).collect()
    assert(tm.nonEmpty)
    // the composed pipeline must pack EXACTLY the admitted mixture
    val admitted = TextOps.domainMix(spark, d).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toSet
    assert(tm.map(r => r.getString(0) -> r.getLong(1)).toSet == admitted,
      "packed set differs from the admitted mixture")
    // replay: tok_start must be the running total in output order, and
    // chunk bounds must follow from it at capacity 512
    var run = 0L
    tm.foreach { r =>
      val (nTok, tokStart) = (r.getLong(2), r.getLong(3))
      assert(tokStart == run, s"doc ${r.getLong(1)} tok_start $tokStart != $run")
      assert(r.getLong(4) == tokStart / 512)
      assert(r.getLong(5) == (tokStart + nTok - 1) / 512)
      run += nTok
    }
    assert(run / 512 >= 2, "fewer than 3 chunks; capacity invariants are vacuous")
  }

  test("shard_manifest: positions dense per shard, totals consistent, all docs covered") {
    val m = TextOps.shardManifest(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(m.nonEmpty)
    val nDocs = graft.Tables.documents(spark, d).count()
    assert(m.length == nDocs, "manifest must cover every doc exactly once")
    assert(m.map(_._3).distinct.length == nDocs, "doc_id must be unique")
    val byShard = m.groupBy(_._1)
    assert(byShard.size > 1, "fixture landed in one shard; test is vacuous")
    byShard.foreach { case (shard, rows) =>
      assert(rows.map(_._2).sorted.toSeq == (1L to rows.length).toSeq,
        s"shard $shard positions not dense 1..n")
      assert(rows.forall(_._5 == rows.length), s"shard $shard shard_docs wrong")
      assert(rows.forall(_._6 == rows.map(_._4).sum), s"shard $shard shard_toks wrong")
    }
  }

  test("short docs (< 3 tokens) carry no shingle signature: no fabricated " +
      "near-dups, no divide-by-zero, no bogus trigrams") {
    // a corpus of sub-3-token docs plus normal docs — the regime the
    // gated fixtures never exercise (their min token count is 10).
    // Pre-fix behavior: empty shingle sets gave every short doc the
    // same MinHash band keys (md5('')) and SimHash 0, so all short
    // pairs were reported as duplicates and the exact-Jaccard verify
    // divided 0/0 (an ANSI runtime error); langid fabricated trigrams
    // from Spark's DESCENDING sequence() on len<3 texts.
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_short_docs")
    val dir = tmp.toString
    val docs = Seq(
      (0L, "a b", "en", "s0", 3L),                           // 2 tokens
      (1L, "x y", "en", "s0", 3L),                           // 2 tokens
      (2L, "z", "fr", "s1", 1L),                             // 1 token, 1 char
      (3L, "one two three four five six", "en", "s0", 27L),  // normal
      (4L, "one two three four five six", "en", "s0", 27L),  // exact dup of 3
      (5L, "ab", "fr", "s1", 2L)                             // 2 chars
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    docs.coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    // near-dup families: ONLY the genuine duplicate pair (3, 4)
    val mh = TextOps.minhashLshDedup(spark, dir).collect()
    assert(mh.map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((3L, 4L)),
      s"minhash reported short-doc pairs: ${mh.mkString(",")}")
    val s64 = TextOps.simhash64NearDup(spark, dir).collect()
    assert(s64.map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((3L, 4L)),
      s"simhash64 reported short-doc pairs: ${s64.mkString(",")}")
    val s48 = TextOps.simhashNearDup(spark, dir).collect()
    assert(s48.map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((3L, 4L)),
      s"simhash48 reported short-doc pairs: ${s48.mkString(",")}")
    // langid: every doc predicted (short docs score 0 for all langs →
    // alphabetically-first profile), no fabricated trigrams — matches
    // DuckDB's empty generate_series(1, len-2) for len < 3
    val li = TextOps.langidTrigram(spark, dir).collect()
    assert(li.length == docs.count().toInt, "langid must keep every doc")
    val shortScores = li.filter(r => Seq(2L, 5L).contains(r.getLong(0)))
    assert(shortScores.forall(_.getLong(3) == 0L),
      s"sub-3-char docs scored on fabricated trigrams: ${shortScores.mkString(",")}")
    graft.operators.BuildStore.deleteRecursively(tmp.toFile)
  }
}
