package graft.perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions
import graft.operators.{Ann, Knn, Similarity, TextOps}

/** The benchmark's JVM side. One run = one workload, one seed:
  * set-up (session, seeded shards, warm-up), a timed phase of one
  * fixed unit of work, output checks, then one JSON result line on
  * stdout.
  *
  * Usage: PerfBench <workload> <seed> <trace 0|1> <workDir> [tiny]
  *
  * `perfbench/run.py` builds this and runs it with `java.io.tmpdir`
  * pointing into `workDir`, so every persisted engine store of the run
  * lives there and dies with it. See perfbench/README.md for why each
  * workload exists and which metric each layer should move.
  */
object PerfBench {
  def main(argv: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val Array(workload, seed, trace, work) = argv.take(4)
    val h = new Harness(workload, seed.toLong, trace == "1",
      new File(work), tiny = argv.drop(4).contains("tiny"))
    val code = try h.run() finally h.spark.stop()
    System.out.flush()
    sys.exit(code)
  }
}

/** Timed-shard sizes; `tiny` is the self-test scale. Warm shards are a
  * quarter of these. A full shard has the vector count of the repo's
  * sf0.1 bench corpus (2,000) and half its documents (2,500 of 5,000:
  * the per-document pair densities do not depend on the count, and the
  * runs must fit the benchmark's time budget). */
final case class Sizes(vecs: Int, nq: Int, upsertBatch: Int, docs: Int, docVecs: Int)

object Sizes {
  val Full = Sizes(vecs = 2000, nq = 100, upsertBatch = 100, docs = 2500, docVecs = 2000)
  val Tiny = Sizes(vecs = 300, nq = 10, upsertBatch = 10, docs = 300, docVecs = 300)
}

/** The SparkSession every benchmark JVM uses: `local[nproc]`, with its
  * local dir and warehouse inside the run's work dir. */
object Session {
  def local(work: File): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      // the status store keeps this many finished jobs/queries on the
      // heap; keeping one makes live heap independent of run length and
      // of which query happened to finish last
      .config("spark.sql.ui.retainedExecutions", "1")
      .config("spark.ui.retainedJobs", "1")
      .config("spark.ui.retainedStages", "1")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

final class Harness(workload: String, seed: Long, trace: Boolean,
                    work: File, tiny: Boolean) {
  private val sz = if (tiny) Sizes.Tiny else Sizes.Full
  private val cores = Runtime.getRuntime.availableProcessors
  private val storeRoot = new File(System.getProperty("java.io.tmpdir"), "graft_base_index")
  private val shardRoot = new File(work, "shards")
  private val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
  private val loadStart = loadAvg()

  // Isolation: every engine store of this run lives under this run's
  // own tmpdir; one that already exists would turn a timed call into a
  // read of someone else's index.
  require(new File(System.getProperty("java.io.tmpdir")).getCanonicalPath
    .startsWith(work.getCanonicalPath), "java.io.tmpdir must lie inside the work dir")
  require(!storeRoot.exists(), s"stale engine store at $storeRoot")

  val spark: SparkSession = Session.local(work)
  private val sc = spark.sparkContext
  private val sessionReadyMs = System.currentTimeMillis()
  private val layers = if (trace) Some(new Layers) else None
  layers.foreach(sc.addSparkListener)

  // ------------------------------------------------------------ calls

  final case class Call(kind: String, group: String, phase: String,
                        startMs: Long, endMs: Long, wallS: Double, ok: Boolean)
  private val calls = mutable.ArrayBuffer.empty[Call]
  private val failures = mutable.ArrayBuffer.empty[String]
  private var attempted = 0
  private var phase = ""

  /** Enters a run phase; jobs outside timed calls run under the job group
    * `session#<phase>`. */
  private def enter(p: String): Unit = {
    phase = p
    sc.setJobGroup(s"session#$p", p, interruptOnCancel = false)
  }

  /** One engine call, timed from outside. Timed-phase (and kernel) calls
    * run under their own job group `<kind>#<n>`, so the listener can
    * attribute their jobs; after a timed call, outside its span, the
    * harness frees what the call left cached, so no call reuses another
    * one's state. A throwing call is recorded as failed and yields None. */
  private def call[T](kind: String)(f: => T): Option[T] = {
    val own = phase == "timed" || phase == "kernel"
    val group = if (own) s"$kind#${calls.size}" else s"session#$phase"
    if (own) sc.setJobGroup(group, kind, interruptOnCancel = false)
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val out = try Some(f) catch {
      case NonFatal(e) =>
        failures += s"$kind ($phase): ${e.getClass.getSimpleName}: ${e.getMessage}".take(400)
        None
    }
    val wall = (System.nanoTime() - t0) / 1e9
    if (own) enter(phase)
    calls += Call(kind, group, phase, startMs, System.currentTimeMillis(), wall, out.isDefined)
    if (phase == "timed" || out.isEmpty) attempted += 1
    if (phase == "timed") free()
    out
  }

  /** An output check: counts as attempted, and as failed when false. */
  private def check(name: String, ok: Boolean, detail: => String): Unit = {
    attempted += 1
    if (!ok) failures += s"check $name: $detail"
  }

  // ---------------------------------------------------- hygiene, heap

  private var hygieneNs = 0L
  private val heapSamples = mutable.ArrayBuffer.empty[Double]

  /** Frees what the caller owns between calls (outside every span), as
    * graft.Bench does between queries: cached plans, persisted RDDs
    * and checkpoints, and — through a full GC, which lets Spark's
    * ContextCleaner see them — stale broadcasts. */
  private def free(): Unit = {
    val t = System.nanoTime()
    spark.sharedState.cacheManager.clearCache()
    sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    System.gc()
    hygieneNs += System.nanoTime() - t
  }

  /** Live heap after a full GC; taken only at fixed points. Spark's
    * listeners and ContextCleaner release more after each GC (cleaned
    * broadcasts and shuffles), so GCs repeat until the heap in use
    * stops falling. */
  private def sampleHeap(): Unit = {
    free()
    val t = System.nanoTime()
    def used() = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    var last = used()
    var settled = false
    var i = 0
    while (!settled && i < 5) {
      org.apache.spark.perfbench.Bus.drain(sc)
      Thread.sleep(100)
      System.gc()
      val now = used()
      settled = last - now < 0.5
      last = now
      i += 1
    }
    hygieneNs += System.nanoTime() - t
    heapSamples += last
  }

  // ----------------------------------------------------------- shards

  private val shardSetupS = mutable.ArrayBuffer.empty[Double]
  private var genS = 0.0
  private var inputHash = 0L

  /** Sets up one shard: generates and writes its inputs, then runs
    * `prepare` (a workload's per-shard set-up, e.g. its base store). */
  private def shard(name: String, vecs: Option[Gen.Vectors], docs: Option[Gen.Docs])
                   (prepare: String => Unit = _ => ()): String = {
    val dir = new File(shardRoot, name)
    val t0 = System.nanoTime()
    inputHash = inputHash * 31 + (vecs.map(_.rows.toSeq.map { case (id, e, l) =>
      (id, java.util.Arrays.hashCode(e), l) }).hashCode, docs.map(_.rows.toSeq).hashCode).hashCode
    Gen.write(spark, dir, vecs, docs)
    genS += (System.nanoTime() - t0) / 1e9
    prepare(dir.getPath)
    dir.getPath
  }

  /** Sets up the timed shard (`mk(0)`) and [[SetupSamples]] − 1 more
    * shards that exist only as further `setup_s` samples: one shard's
    * set-up is a few seconds at most, too short to report steadily
    * from a single sample. Returns the timed shard. */
  private def timedShard[T](mk: Int => T): T =
    (0 until SetupSamples).map { i =>
      val t0 = System.nanoTime()
      val out = mk(i)
      shardSetupS += (System.nanoTime() - t0) / 1e9
      out
    }.head

  private val SetupSamples = 3

  /** Names of the engine's persisted stores present now. */
  private def stores(): Set[String] =
    Option(storeRoot.list()).map(_.toSet).getOrElse(Set.empty)

  // ---------------------------------------------------------- warm-up

  private val coldS = mutable.LinkedHashMap.empty[String, Double]
  private var warmS = 0.0

  /** Runs one unit on a warm shard a quarter of the timed size (the
    * cold cost is plan code generation and JIT, which does not scale
    * with rows); its call times are the cold calls. One warm unit is
    * what the run's time budget allows (a second one did not make the
    * timed unit faster); `session.jit_ms_timed` shows the compilation
    * left for the timed phase. */
  private def warm(unit: => Unit): Unit = {
    enter("warm")
    val t0 = System.nanoTime()
    val from = calls.size
    unit
    calls.drop(from).foreach(c => coldS(c.kind) = c.wallS)
    free()
    warmS += (System.nanoTime() - t0) / 1e9
    enter("setup")
  }

  private val WarmScale = 4

  // ----------------------------------------------------- timed phase

  private var timedWallS = 0.0
  private var jitMsTimed = 0L
  private var gcMsTimed = 0L
  private var timedFromMs = 0L
  private var setupWallS = 0.0

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum
  private def jitMs(): Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  /** The timed phase: one unit, with live heap sampled before and
    * after it. The timed wall excludes the freeing between calls. */
  private def timed(unit: => Unit): Unit = {
    setupWallS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    sampleHeap()
    enter("timed")
    val hyg0 = hygieneNs
    val gc0 = gcMs()
    val jit0 = jitMs()
    timedFromMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    unit
    timedWallS = (System.nanoTime() - t0 - (hygieneNs - hyg0)) / 1e9
    gcMsTimed = gcMs() - gc0
    jitMsTimed = jitMs() - jit0
    sampleHeap()
    enter("check")
  }

  // --------------------------------------------------------- helpers

  /** Order-insensitive content fingerprint plus row count — forces
    * every column of `df` without shipping rows to the driver. */
  private def fingerprint(df: DataFrame): (BigDecimal, Long) = {
    val r = df.agg(
      coalesce(sum(xxhash64(df.columns.map(col).toIndexedSeq: _*).cast("decimal(38,0)")),
        lit(0).cast("decimal(38,0)")),
      count(lit(1))).head()
    (BigDecimal(r.getDecimal(0)), r.getLong(1))
  }

  private def pairs(df: DataFrame, a: String, b: String): Set[(Long, Long)] =
    df.select(col(a), col(b)).collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  private def topK(df: DataFrame): Map[Long, Set[Long]] =
    pairs(df, "query_id", "vec_id").groupBy(_._1).map { case (q, s) => q -> s.map(_._2) }

  /** Mean recall@k of `approx` against `exact` over exact's queries. */
  private def recall(approx: Map[Long, Set[Long]], exact: Map[Long, Set[Long]]): Double =
    exact.map { case (q, e) => approx.getOrElse(q, Set.empty).intersect(e).size.toDouble / e.size }
      .sum / math.max(1, exact.size)

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def loadAvg(): Double =
    ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  // ------------------------------------------------------- workloads

  /** What a workload hands back: the unit's rate, quality figures,
    * per-layer values, and values for the determinism self-test. */
  private var itemsPerS = Double.NaN
  private val quality = mutable.ArrayBuffer.empty[Double]
  private val stats = mutable.LinkedHashMap.empty[String, Double]
  private val fingerprints = mutable.LinkedHashMap.empty[String, String]

  private def salt(kind: Int, i: Int): Int = kind * 100000 + i

  private val Arms = Seq("ann.search.hnsw", "ann.search.sq8", "ann.search.ivfpq", "knn.exact")

  private val Cols4 = Seq("level", "src", "dst", "dist").map(col)

  private def vecRows(v: Gen.Vectors): Array[(Long, Array[Double])] =
    v.rows.map { case (id, e, _) => (id, Truth.toDouble(e)) }

  /** One fresh shard through the vector-index lifecycle: approximate
    * build, vector layout, one query batch per search arm (seeded
    * order), one upsert batch folded into the shard's base store and
    * read back through the index view. */
  private def vectorIndex(): Unit = {
    val nq = sz.nq
    val order = new scala.util.Random(seed)
    final case class Out(arms: Map[String, Map[Long, Set[Long]]], fold: (BigDecimal, Long),
                         buildB: Long, layoutB: Long)
    def upsertIds(v: Gen.Vectors): Set[Long] =
      v.rows.map(_._1).filter(_ % 10 == 0).take(sz.upsertBatch).toSet
    def unit(v: Gen.Vectors, d: String): Option[Out] = {
      val s0 = stores()
      call("ann.build")(Ann.ensureFullIndexApprox(spark, d))
      Ann.lastBuildDiag.foreach { g =>
        fingerprints(s"build_diag.$phase") = s"capture=${g.capture} rounds=${g.rounds}"
      }
      val s1 = stores()
      call("ann.layout")(Ann.ensureFullIndexVecApprox(spark, d))
      val s2 = stores()
      def bytes(names: Set[String]) = names.toSeq.map(n => Files.sizeOf(new File(storeRoot, n))).sum
      val arms = order.shuffle(Arms).flatMap { kind =>
        call(kind)(topK(kind match {
          case "ann.search.hnsw" => Ann.hnswSearchApprox(spark, d, nq = nq)
          case "ann.search.sq8" => Ann.annSq8(spark, d, nq = nq)
          case "ann.search.ivfpq" => Ann.annIvfPq(spark, d, nq = nq)
          case "knn.exact" => Knn.knnBatch(spark, d, nq = nq)
        })).map(kind -> _)
      }.toMap
      val fold = call("ann.fold")(fingerprint(Ann.hnswIndexView(spark, d,
        Ann.hnswFoldBatch(spark, d, Ann.ensureBaseIndex(spark, d), upsertIds(v))).select(Cols4: _*)))
      for (f <- fold if arms.size == Arms.size && s1.size > s0.size && s2.size > s1.size)
        yield Out(arms, f, bytes(s1 -- s0), bytes(s2 -- s1))
    }
    // per-shard set-up: inputs plus the exact wide base store the
    // upsert batch folds into
    def prepare(d: String): Unit = { Ann.ensureBaseIndex(spark, d); free() }
    val warmV = Gen.vectors(seed, salt(1, 0), sz.vecs / WarmScale)
    val warmDir = shard("warm", Some(warmV), None)(prepare)
    var warmFold: Option[(BigDecimal, Long)] = None
    warm { warmFold = unit(warmV, warmDir).map(_.fold) }
    val (v, d) = timedShard { i =>
      val v = Gen.vectors(seed, salt(2, i), sz.vecs)
      v -> shard(s"vec$i", Some(v), None)(prepare)
    }
    var out: Option[Out] = None
    timed {
      val from = calls.size
      out = unit(v, d)
      out.foreach { o =>
        val cs = calls.drop(from)
        def secs(kinds: String*) = cs.filter(c => kinds.contains(c.kind)).map(_.wallS).sum
        val n = v.rows.length
        itemsPerS = n / cs.map(_.wallS).sum
        stats("vector.build_vecs_per_s") = n / secs("ann.build", "ann.layout")
        stats("vector.search_qps") = Arms.size * nq / secs(Arms: _*)
        stats("vector.upsert_vecs_per_s") = sz.upsertBatch / secs("ann.fold")
        stats("knn.exact.ns_per_pair") = secs("knn.exact") * 1e9 / (nq.toLong * n)
        stats("ann.build.store_mb") = o.buildB / 1048576.0
        stats("ann.layout.store_mb") = o.layoutB / 1048576.0
        stats("vector.index_bytes_per_vec") = (o.buildB + o.layoutB).toDouble / n
      }
    }
    // grading, outside the timed phase: the exact arm against a driver
    // brute force, each approximate arm against the exact arm
    out.foreach { o =>
      val exact = o.arms("knn.exact")
      val r = recall(exact, Truth.topK(vecRows(v), nq))
      check("exact recall", r == 1.0, f"knnBatch recall@10 $r%.4f != 1.0")
      Arms.filter(_ != "knn.exact").foreach { a =>
        val ra = recall(o.arms(a), exact)
        stats(s"$a.recall_at_10") = ra
        quality += ra
        check(s"$a recall", ra >= RecallFloor(a), f"$a recall@10 $ra%.3f < ${RecallFloor(a)}")
      }
      fingerprints("vec") =
        (Arms.map(a => recall(o.arms(a), exact)) :+ o.fold :+ o.buildB :+ o.layoutB).mkString(",")
    }
    // the upsert path's correctness, on the (small) warm shard: its base
    // store with the upsert batch folded in equals the one-shot build of
    // the same vectors
    val ids = upsertIds(warmV)
    val same = Gen.Vectors(warmV.rows.filter(r => r._1 % 10 != 0 || ids(r._1)))
    val sameDir = shard("foldcheck", Some(same), None)()
    for (folded <- warmFold;
         oneShot <- call("check.rebuild")(fingerprint(Ann.hnswEdges(spark, sameDir).select(Cols4: _*)))) {
      check("fold == rebuild", folded == oneShot, s"folded $folded vs rebuilt $oneShot")
      fingerprints("fold") = folded.toString
    }
    check("fold ran", warmFold.isDefined, "the warm shard's upsert failed")
  }

  /** Recall@10 floors against `knnBatch`, below what each arm measures
    * on the repo's sf0.1 corpus (hnsw 0.92, sq8 0.98, ivfpq 0.32:
    * nprobe 3 of 10 cells on a corpus without clusters). */
  private val RecallFloor = Map("ann.search.hnsw" -> 0.85, "ann.search.sq8" -> 0.9,
    "ann.search.ivfpq" -> 0.2)

  /** What one text_dedup unit returns for grading. */
  private final case class TextOut(minhash: Set[(Long, Long)], simhash: (BigDecimal, Long),
                                   passage: Set[Long], keepBest: (BigDecimal, Long),
                                   semantic: Set[(Long, Long)])

  /** `minhashLshDedup`'s and `semanticDedup`'s default thresholds. */
  private val Theta = 0.5
  private val Eps = 1.1
  /** Floor on the share of exact ε-duplicates `semanticDedup` flags.
    * Its same-cell rule misses pairs that straddle a cell boundary. */
  private val SemanticRecallFloor = 0.05

  private def textDedup(): Unit = {
    // one unit = the five dedup calls over one fresh shard's documents
    // and embeddings
    def unit(d: String): Option[TextOut] = {
      val mh = call("text.minhash")(pairs(TextOps.minhashLshDedup(spark, d), "src", "dst"))
      val sh = call("text.simhash64")(fingerprint(TextOps.simhash64NearDup(spark, d)))
      val ps = call("text.passage")(pairs(TextOps.passageDedup(spark, d)
        .filter(col("n_boiler") > 0), "doc_id", "n_boiler").map(_._1))
      val kb = call("text.keep_best")(fingerprint(TextOps.dedupKeepBest(spark, d)))
      val sem = call("similarity.semantic_dedup")(
        pairs(Similarity.semanticDedup(spark, d), "vec_id", "dup_of"))
      for (a <- mh; b <- sh; c <- ps; k <- kb; e <- sem) yield TextOut(a, b, c, k, e)
    }
    def gen(kind: Int, i: Int, scale: Int = 1) =
      (Gen.docs(seed, salt(kind, i), sz.docs / scale), Gen.vectors(seed, salt(kind, i), sz.docVecs / scale))
    val (warmDocs, warmV) = gen(3, 0, WarmScale)
    warm(unit(shard("warm", Some(warmV), Some(warmDocs))()))
    val (dc, v, d) = timedShard { i =>
      val (dc, v) = gen(4, i)
      (dc, v, shard(s"text$i", Some(v), Some(dc))())
    }
    var out: Option[TextOut] = None
    timed {
      val from = calls.size
      out = unit(d)
      if (out.isDefined) itemsPerS = dc.rows.length / calls.drop(from).map(_.wallS).sum
    }
    // grading, outside the timed phase, against the planted duplicates
    // and the driver's exact answers
    out.foreach { o =>
      val docs = dc.rows.map(r => (r._1, r._2))
      val text = docs.toMap
      // planted pairs the operator can find: shingle Jaccard ≥ θ
      val truth = dc.dupPairs.filter { case (a, b) =>
        Truth.jaccard(Truth.shingles(text(a)), Truth.shingles(text(b))) >= Theta }
      val found = o.minhash
      val rec = found.intersect(truth).size.toDouble / math.max(1, truth.size)
      val prec = if (found.isEmpty) 0.0 else found.intersect(dc.dupPairs).size.toDouble / found.size
      quality += rec
      stats("text.dup_pair_precision") = prec
      check("dup recall", rec >= 0.85, f"planted-pair recall $rec%.3f < 0.85")
      check("dup precision", prec >= 0.95, f"planted-pair precision $prec%.3f < 0.95")
      val boiler = Truth.boilerDocs(docs)
      check("passage == exact", o.passage == boiler,
        s"passageDedup flagged ${o.passage.size} docs, exact ${boiler.size}, " +
          s"${(o.passage -- boiler).size} extra, ${(boiler -- o.passage).size} missed")
      // every semantic verdict is a true ε-pair with the smaller id kept
      val vec = vecRows(v).toMap
      val wrong = o.semantic.count { case (id, of) => !(of < id && Truth.sq(vec(id), vec(of)) < Eps) }
      check("semantic pairs within eps", wrong == 0, s"$wrong of ${o.semantic.size} verdicts not ε-pairs")
      val epsDups = Truth.epsDups(vecRows(v), Eps)
      val semRec = epsDups.count(o.semantic.map(_._1)).toDouble / math.max(1, epsDups.size)
      fingerprints("semantic_eps_recall") = semRec.toString
      check("semantic recall", semRec >= SemanticRecallFloor,
        f"ε-dup recall $semRec%.3f < $SemanticRecallFloor")
      val counts = Seq(found.size, o.simhash._2, o.passage.size, o.keepBest._2, o.semantic.size)
      TextSpans.zip(counts).foreach { case (k, c) => stats(s"$k.pairs_out") = c.toDouble }
      fingerprints("text") = (counts :+ o.simhash :+ o.keepBest).mkString(",")
    }
    fingerprints("dup_recall") = quality.headOption.toString
  }

  private val TextSpans = Seq("text.minhash", "text.simhash64", "text.passage",
    "text.keep_best", "similarity.semantic_dedup")

  /** `VectorFunctions.squaredL2` against its interpreted HOF form over
    * one pairs frame: the first 200 vectors of a shard against all. */
  private def kernels(): Unit = {
    val v = Gen.vectors(seed, salt(5, 0), sz.vecs)
    val d = shard("kernel", Some(v), None)()
    val e = graft.Tables.embeddings(spark, d).select(col("vec_id"), col("embedding"))
    val pf = e.filter(col("vec_id") < 200).select(col("embedding").as("a"))
      .crossJoin(e.select(col("embedding").as("b")))
    val n = math.min(200, v.rows.length).toLong * v.rows.length
    val sums = Seq("kernel.squared_l2" -> VectorFunctions.squaredL2 _,
                   "kernel.squared_l2_hof" -> VectorFunctions.squaredL2Hof _).map { case (k, f) =>
      val q = pf.agg(sum(f(col("a"), col("b"))))
      q.head() // warm, outside the span
      val r = call(k)(q.head().getDouble(0))
      stats(s"$k.ns_per_pair") = calls.last.wallS * 1e9 / n
      r
    }
    check("kernel parity", sums.forall(_.isDefined) &&
      math.abs(sums(0).get - sums(1).get) <= 1e-9 * math.abs(sums(0).get),
      s"squaredL2 ${sums(0)} vs hof ${sums(1)}")
  }

  // ---------------------------------------------------------- report

  /** Spans with the full counter set; the two kernel spans (one
    * aggregate each) report wall and executor CPU only. */
  private val Spans = Seq("session", "ann.build", "ann.layout", "ann.search.hnsw",
    "ann.search.sq8", "ann.search.ivfpq", "knn.exact", "ann.fold") ++ TextSpans
  private val Kernels = Seq("kernel.squared_l2", "kernel.squared_l2_hof")
  private val Fields = Seq("wall_s" -> "s", "driver_s" -> "s", "jobs" -> "count",
    "tasks" -> "count", "exec_cpu_s" -> "s", "gc_s" -> "s", "shuffle_write_mb" -> "MB")
  /** Per-layer values, with units. */
  private val Stats = Seq("ann.build.store_mb" -> "MB", "ann.layout.store_mb" -> "MB",
    "knn.exact.ns_per_pair" -> "ns", "ann.search.hnsw.recall_at_10" -> "ratio",
    "ann.search.sq8.recall_at_10" -> "ratio", "ann.search.ivfpq.recall_at_10" -> "ratio",
    "vector.build_vecs_per_s" -> "1/s", "vector.search_qps" -> "1/s",
    "vector.upsert_vecs_per_s" -> "1/s", "vector.index_bytes_per_vec" -> "B",
    "text.dup_pair_precision" -> "ratio") ++
    TextSpans.map(k => s"$k.pairs_out" -> "count") ++
    Kernels.map(k => s"$k.ns_per_pair" -> "ns")

  def run(): Int = {
    enter("setup")
    workload match {
      case "vector_index" => vectorIndex()
      case "text_dedup" => textDedup()
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    if (trace && workload == "vector_index") { enter("kernel"); kernels() }
    val endMs = System.currentTimeMillis()
    check("unit", !itemsPerS.isNaN, "the timed unit did not complete")
    layers.foreach(_ => org.apache.spark.perfbench.Bus.drain(sc))

    val timedCalls = calls.filter(_.phase == "timed")
    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    if (!trace) {
      metrics("setup_s") = (median(shardSetupS.toSeq), "s")
      metrics("items_per_s") = (itemsPerS, "1/s")
      metrics("quality") = (quality.sum / math.max(1, quality.size), "ratio")
      metrics("live_heap_mb") = (heapSamples.max, "MB")
    } else {
      val l = layers.get
      // the counters of the job groups `gs` within [from, to], in `Fields` order
      def counters(gs: Seq[String], from: Long, to: Long, wall: Double): Seq[Double] = {
        val ts = gs.flatMap(l.byGroup.get)
        Seq(wall, math.max(0.0, wall - gs.map(l.jobMs(_, from, to)).sum / 1000.0),
          ts.map(_.jobs).sum.toDouble, ts.map(_.tasks).sum.toDouble,
          ts.map(_.cpuNs).sum / 1e9, ts.map(_.gcMs).sum / 1000.0,
          ts.map(_.shuffleWrite).sum / 1048576.0)
      }
      val byKind = calls.filter(c => c.phase == "timed" || c.phase == "kernel").groupBy(_.kind)
      def spanTotals(span: String): Seq[Double] = {
        val per =
          if (span == "session")
            Seq(counters(Seq("session#setup", "session#warm"), jvmStartMs, timedFromMs, setupWallS))
          else byKind.getOrElse(span, Nil).toSeq.map(c => counters(Seq(c.group), c.startMs, c.endMs, c.wallS))
        Fields.indices.map(i => per.map(_(i)).sum)
      }
      Spans.foreach { span =>
        spanTotals(span).zip(Fields).foreach { case (v, (f, u)) => metrics(s"$span.$f") = (v, u) }
      }
      Kernels.foreach { k =>
        val t = spanTotals(k)
        metrics(s"$k.wall_s") = (t(0), "s")
        metrics(s"$k.exec_cpu_s") = (t(4), "s")
      }
      Stats.foreach { case (k, u) =>
        metrics(k) = (stats.getOrElse(k, 0.0), u)
      }
      metrics("session.start_s") = ((sessionReadyMs - jvmStartMs) / 1000.0, "s")
      metrics("session.gen_s") = (genS, "s")
      metrics("session.warm_s") = (warmS, "s")
      metrics("session.jit_ms_timed") = (jitMsTimed.toDouble, "ms")
      metrics("session.gc_s_timed") = (gcMsTimed / 1000.0, "s")
      metrics("timed.wall_s") = (timedWallS, "s")
      metrics("timed.items_per_s") = (itemsPerS, "1/s")
      metrics("timed.spill_mb") = (timedCalls.flatMap(c => l.byGroup.get(c.group))
        .map(_.spill).sum / 1048576.0, "MB")
      metrics("trace.span_coverage") = (timedCalls.map(_.wallS).sum / timedWallS, "ratio")
      metrics("trace.overhead_pct") = (100.0 * l.busyNs / 1e9 / timedWallS, "%")
    }

    fingerprints("inputs") = inputHash.toString
    record(endMs, timedCalls.size)
    val failed = failures.size
    val metricJson = metrics.map { case (k, (v, u)) =>
      s""""$k": {"value": ${num(v)}, "unit": "$u"}""" }.mkString(", ")
    println(s"""{"correct": ${failed == 0}, "attempted": ${math.max(1, attempted)}, """ +
      s""""failed": $failed, "metrics": {$metricJson}}""")
    if (failed == 0) 0 else 1
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  private def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  /** The run record on stderr: enough to attribute a noisy run. */
  private def record(endMs: Long, nTimed: Int): Unit = {
    val rt = Runtime.getRuntime
    val fields = Seq(
      "workload" -> str(workload), "seed" -> seed.toString, "trace" -> trace.toString,
      "nproc" -> cores.toString,
      "loadavg_start" -> num(loadStart), "loadavg_end" -> num(loadAvg()),
      "heap_max_mb" -> num(rt.maxMemory / 1048576.0),
      "jdk" -> str(System.getProperty("java.runtime.version")),
      "spark" -> str(spark.version),
      "setup_wall_s" -> num(setupWallS), "timed_wall_s" -> num(timedWallS),
      "timed_calls" -> nTimed.toString,
      "jit_ms_timed" -> jitMsTimed.toString, "gc_ms_timed" -> gcMsTimed.toString,
      "shard_setup_s" -> shardSetupS.map(num).mkString("[", ", ", "]"),
      "items_per_s" -> num(itemsPerS),
      "live_heap_mb" -> heapSamples.map(num).mkString("[", ", ", "]"),
      "cold_s" -> coldS.map { case (k, v) => s"${str(k)}: ${num(v)}" }.mkString("{", ", ", "}"),
      "stats" -> stats.map { case (k, v) => s"${str(k)}: ${num(v)}" }
        .mkString("{", ", ", "}"),
      "fingerprints" -> fingerprints.map { case (k, v) => s"${str(k)}: ${str(v)}" }
        .mkString("{", ", ", "}"),
      "failures" -> failures.map(str).mkString("[", ", ", "]"),
      "calls" -> calls.map(c => s"[${str(c.kind)}, ${str(c.phase)}, ${num(c.wallS)}, ${c.ok}]")
        .mkString("[", ", ", "]"),
      "total_s" -> num((endMs - jvmStartMs) / 1000.0))
    System.err.println("PERFBENCH_RECORD " + fields.map { case (k, v) => s"${str(k)}: $v" }
      .mkString("{", ", ", "}"))
  }
}
