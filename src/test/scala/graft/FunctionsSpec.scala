package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.{Gen, Prop, Test => SCTest}

import graft.operators.BroadcastKnnJoin

/** SQL-surface registration + ScalaCheck properties with brute-force
  * in-test oracles (SURVEY §5: metric axioms, pruning counts). */
class FunctionsSpec extends AnyFunSuite {
  private def check(p: Prop, minSuccessful: Int = 20): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(minSuccessful), p)
    assert(res.passed, res.status.toString)
  }
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[8]")
    .appName("functions-spec")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("squared_l2 / dot_product / simhash48 / simhash64 usable from SQL after registration") {
    GraftExtensions.register(spark)
    val r = spark.sql(
      """SELECT squared_l2(array(1.0D, 2.0D), array(4.0D, 6.0D)) AS d,
        |       dot_product(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS p,
        |       simhash48(array(7L)) AS s,
        |       simhash64(array(7L)) AS s64""".stripMargin).head()
    assert(r.getDouble(0) == 25.0)
    assert(r.getDouble(1) == 11.0)
    // single hash 7 = bits 0,1,2 set -> votes +1 there, -1 elsewhere;
    // packing puts bit b at position (47-b): value = 2^47 + 2^46 + 2^45
    assert(r.getLong(2) == (1L << 47) + (1L << 46) + (1L << 45))
    // 64-bit width: same bits land at positions (63-b)
    assert(r.getLong(3) == (1L << 63) + (1L << 62) + (1L << 61))
  }

  test("ARRAY<FLOAT> input fails at analysis instead of silently reinterpreting") {
    // regression: UnsafeArrayData.toDoubleArray on packed floats
    // bulk-reinterprets 4-byte elements as 8-byte doubles — before the
    // checkInputDataTypes guard, squared_l2 over a raw float embedding
    // column returned plausible near-zero garbage (~1e-12) instead of
    // erroring; simhash over non-BIGINT arrays has the same failure
    // shape through getLong. The analysis error is the contract.
    GraftExtensions.register(spark)
    val floats = spark.sql(
      "SELECT array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)) AS v")
    floats.createOrReplaceTempView("float_vecs")
    val e1 = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT squared_l2(v, v) FROM float_vecs").collect()
    }
    assert(e1.getMessage.contains("ARRAY<DOUBLE>"), e1.getMessage)
    val e2 = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT simhash64(array(CAST(7 AS INT)))").collect()
    }
    assert(e2.getMessage.contains("ARRAY<BIGINT>"), e2.getMessage)
  }

  test("SQL-only consumer path: pure-SQL top-k over a view equals the operator") {
    // the (c)-level integration contract: a consumer who only speaks
    // SQL (registered functions + temp views, no Column API) gets
    // bitwise the same results as the DataFrame operator surface
    GraftExtensions.register(spark)
    val d = "/root/testdata/sf0.001"
    Tables.embeddings(spark, d).createOrReplaceTempView("emb")
    val sqlRows = spark.sql(
      """SELECT e.vec_id, e.label, squared_l2(e.embedding, q.embedding) AS dist
        |FROM emb e, (SELECT embedding FROM emb WHERE vec_id = 0) q
        |ORDER BY dist, vec_id LIMIT 10""".stripMargin).collect()
    val opRows = graft.operators.Knn.knnTopK(spark, d).collect()
    assert(sqlRows.map(_.toSeq).toSeq == opRows.map(_.toSeq).toSeq)
  }

  test("different element types: i32 and f64 through the engine's distance + search " +
      "(reference 'Different Data Types', src/test_hnsw.zig:239-273)") {
    val s = spark
    import s.implicits._
    def asCorpus(rows: Seq[(Long, Array[Double])]) =
      rows.toDF("vec_id", "embedding")
    // i32 — the reference's integer fixture, k=2. Integer components
    // cast to DOUBLE are exact (< 2^53), so every distance is an exact
    // integer and the engine's result is integer-deterministic.
    val ci = asCorpus(Seq(
      0L -> Array(1.0, 2.0, 3.0), 1L -> Array(4.0, 5.0, 6.0), 2L -> Array(7.0, 8.0, 9.0)))
    val qi = asCorpus(Seq(0L -> Array(3.0, 4.0, 5.0)))
    val ri = graft.plans.KnnJoin.exact(ci, qi, k = 2)
      .orderBy(col("rnk")).collect()
    assert(ri.length == 2)
    assert(ri.map(r => (r.getLong(1), r.getDouble(2))).toSeq ==
      Seq((1L, 3.0), (0L, 12.0)))
    // f64 — the reference's float64 fixture, k=2; expectation computed
    // with the engine's own contract (strict left fold) in-test.
    def fold(a: Array[Double], b: Array[Double]): Double =
      a.zip(b).foldLeft(0.0) { case (acc, (x, y)) => acc + (x - y) * (x - y) }
    val p = Seq(Array(1.1, 2.2, 3.3), Array(4.4, 5.5, 6.6), Array(7.7, 8.8, 9.9))
    val qv = Array(3.3, 4.4, 5.5)
    val cf = asCorpus(p.zipWithIndex.map { case (v, i) => i.toLong -> v })
    val qf = asCorpus(Seq(0L -> qv))
    val rf = graft.plans.KnnJoin.exact(cf, qf, k = 2)
      .orderBy(col("rnk")).collect()
    assert(rf.length == 2)
    val expect = p.zipWithIndex
      .map { case (v, i) => (i.toLong, fold(v, qv)) }
      .sortBy { case (id, dd) => (dd, id) }.take(2)
    assert(rf.map(r => (r.getLong(1), r.getDouble(2))).toSeq == expect,
      "f64 distances must be bitwise the strict left fold")
  }

  test("i32 vectors: distances are exact integers (property)") {
    val s = spark
    import s.implicits._
    val vecGen = Gen.listOfN(6, Gen.chooseNum(-1000, 1000)).map(_.toArray)
    check(Prop.forAll(vecGen, vecGen) { (a: Array[Int], b: Array[Int]) =>
      val df = Seq((a.map(_.toDouble), b.map(_.toDouble))).toDF("a", "b")
      val got = df.select(
        graft.functions.VectorFunctions.squaredL2(col("a"), col("b"))).head().getDouble(0)
      val exact = a.zip(b).map { case (x, y) =>
        val d = (x - y).toLong; d * d
      }.sum
      got == exact.toDouble
    })
  }

  test("metric axioms on random vectors (property)") {
    val s = spark
    import s.implicits._
    val vecGen = Gen.listOfN(8, Gen.chooseNum(-10.0, 10.0)).map(_.toArray)
    check(Prop.forAll(vecGen, vecGen) { (a: Array[Double], b: Array[Double]) =>
      val df = Seq((a, b)).toDF("a", "b")
      val row = df.select(
        graft.functions.VectorFunctions.squaredL2(col("a"), col("b")).as("ab"),
        graft.functions.VectorFunctions.squaredL2(col("b"), col("a")).as("ba"),
        graft.functions.VectorFunctions.squaredL2(col("a"), col("a")).as("aa")).head()
      val brute = a.zip(b).map { case (x, y) => (x - y) * (x - y) }.foldLeft(0.0)(_ + _)
      row.getDouble(0) == brute && row.getDouble(1) == row.getDouble(0) &&
        row.getDouble(2) == 0.0
    })
  }

  test("knn matches brute force on random corpora (property)") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(7)
    for (_ <- 1 to 5) {
      val n = 1 + rnd.nextInt(40)
      val k = 1 + rnd.nextInt(12)
      val corpus = (0 until n).map(i => (i.toLong, Array.fill(4)(rnd.nextInt(10).toDouble)))
      val qv = Array.fill(4)(rnd.nextInt(10).toDouble)
      val corpusDF = corpus.toDF("vec_id", "embedding")
      val qDF = Seq((999L, qv)).toDF("vec_id", "embedding")
      val got = BroadcastKnnJoin(spark, corpusDF, qDF, k)
        .orderBy("rnk").collect()
        .map(r => (r.getLong(1), r.getDouble(2)))
      val want = corpus.map { case (id, v) =>
        (id, v.zip(qv).map { case (x, y) => (x - y) * (x - y) }.foldLeft(0.0)(_ + _))
      }.sortBy { case (id, dd) => (dd, id) }.take(k)
      assert(got.toSeq == want.toSeq, s"n=$n k=$k")
    }
  }

  test("squaredL2Within ≡ squaredL2 < eps: verdicts identical over fixture pairs, edges pinned") {
    // the fused early-exit predicate must be the SAME boolean function
    // as the unfused comparison — exhaustively over a fixture sample
    // at several eps (incl. ones where nothing / everything exits
    // early), plus the n=0 and eps<=0 edges the loop cannot reach
    import graft.functions.VectorFunctions.{squaredL2, squaredL2Within}
    val d = "/root/testdata/sf0.001"
    val e = Tables.embeddings(spark, d).limit(60)
      .select(col("vec_id"), col("embedding"))
    val pairs = e.crossJoin(
      e.select(col("vec_id").as("qid"), col("embedding").as("qv")))
    Seq(0.5, 1.1, 10.0, 1e6).foreach { eps =>
      val diff = pairs.filter(
        squaredL2Within(col("embedding"), col("qv"), eps) =!=
          (squaredL2(col("embedding"), col("qv")) < eps)).count()
      assert(diff == 0L, s"fused/unfused verdicts diverge at eps=$eps")
    }
    // n = 0: the loop body never runs; the answer must still be 0 < eps
    import spark.implicits._
    val empty = Seq((Array.empty[Double], Array.empty[Double])).toDF("a", "b")
    val r = empty.select(
      squaredL2Within(col("a"), col("b"), 1.0).as("pos"),
      squaredL2Within(col("a"), col("b"), 0.0).as("zero"),
      squaredL2Within(col("a"), col("b"), -1.0).as("neg")).head()
    assert(r.getBoolean(0) && !r.getBoolean(1) && !r.getBoolean(2),
      s"empty-array edge moved: $r")
    // length mismatch is null (a Filter drops it), like the unfused form
    val mism = Seq((Array(1.0), Array(1.0, 2.0))).toDF("a", "b")
      .select(squaredL2Within(col("a"), col("b"), 1.0)).head()
    assert(mism.isNullAt(0), "length mismatch must be null")
    // NaN/Inf parity: the unfused `squared_l2 < eps` is FALSE for a
    // NaN or +Inf distance; the fused exit must agree (a NaN partial
    // fails `acc < eps`, so the >= form would have returned true)
    val weird = Seq(
      (Array(Double.NaN, 1.0), Array(0.0, 0.0)),           // NaN first term
      (Array(1.0, Double.NaN), Array(1.0, 0.0)),           // NaN after finite
      (Array(Double.PositiveInfinity),
        Array(Double.PositiveInfinity)),                   // Inf−Inf = NaN
      (Array(Double.PositiveInfinity), Array(0.0)),        // Inf distance
      (Array(Double.NegativeInfinity), Array(1.0))         // Inf via square
    ).toDF("a", "b")
    Seq(1.0, 1e300).foreach { eps =>
      val bad = weird.filter(
        squaredL2Within(col("a"), col("b"), eps) =!=
          (squaredL2(col("a"), col("b")) < eps)).count()
      assert(bad == 0L, s"fused/unfused diverge on NaN/Inf rows at eps=$eps")
      val anyTrue = weird.filter(
        squaredL2Within(col("a"), col("b"), eps)).count()
      assert(anyTrue == 0L, s"a NaN/Inf distance passed the ε-ball at eps=$eps")
    }
    // null ELEMENTS null-propagate like the HOF form (whose aggregate
    // accumulator goes null at the first null and stays null) and
    // DuckDB's list folds — reading the slot as 0.0 would be a silent
    // verdict flip against both
    val nulled = spark.sql(
      """SELECT array(1.0D, CAST(NULL AS DOUBLE)) AS a,
        |       array(0.0D, 0.0D) AS b""".stripMargin)
    val nr = nulled.select(
      squaredL2(col("a"), col("b")).as("d"),
      squaredL2Within(col("a"), col("b"), 10.0).as("w"),
      graft.functions.VectorFunctions.dot(col("a"), col("b")).as("p"),
      graft.functions.VectorFunctions.squaredL2Hof(col("a"), col("b")).as("hof")
    ).head()
    assert(nr.isNullAt(0) && nr.isNullAt(1) && nr.isNullAt(2) && nr.isNullAt(3),
      s"null element did not propagate: $nr")
    // the early exit must not MASK a later null (r12 advice): term 0
    // already crosses eps, so the exit fires at i=0 — but the unfused
    // fold of this row is null, and the fused verdict must agree even
    // past the exit (divergence shows under NOT or when projected).
    // Both execution paths pinned: the foldable-literal form is
    // constant-folded through eval on the driver, while the
    // col("id")-dependent form survives to WholeStageCodegen and
    // compiles doGenCode's tail scan.
    val lateNull = spark.sql(
      """SELECT array(10.0D, CAST(NULL AS DOUBLE)) AS a,
        |       array(0.0D, 0.0D) AS b""".stripMargin)
    val ln = lateNull.select(
      squaredL2Within(col("a"), col("b"), 1.0).as("w"),
      (squaredL2(col("a"), col("b")) < 1.0).as("u")).head()
    assert(ln.isNullAt(0) && ln.isNullAt(1),
      s"early exit masked a later null element (interpreted path): $ln")
    val lnGen = spark.range(1).select(
      array(lit(10.0) + col("id"),
        when(col("id") === 1, 0.0).otherwise(lit(null).cast("double"))).as("a"),
      array(lit(0.0) + col("id"), lit(0.0) + col("id")).as("b"))
      .select(squaredL2Within(col("a"), col("b"), 1.0).as("w")).head()
    assert(lnGen.isNullAt(0),
      s"early exit masked a later null element (codegen path): $lnGen")
    // simhash: a null element hash nulls the fingerprint (HOF parity)
    import org.apache.spark.sql.graftbridge.SqlBridge.{column, expression}
    val sh = spark.sql("SELECT array(CAST(1 AS BIGINT), CAST(NULL AS BIGINT)) AS hs")
      .select(column(graft.functions.expressions.SimHash(
        expression(col("hs")), 48)).as("f")).head()
    assert(sh.isNullAt(0), s"null element hash did not null the simhash: $sh")
  }

  test("nearest_centroid ≡ crossJoin+min(struct) aggregate, both execution paths") {
    import graft.functions.VectorFunctions.{argminCentroid, squaredL2}
    val d = "/root/testdata/sf0.01"
    val e = Tables.embeddings(spark, d)
    val cent = graft.operators.Similarity.centroids(spark, d)
    // the retired aggregate form — the semantics the expression must
    // reproduce bitwise (same strict-fold distance, same (dist, label)
    // lexicographic tie order)
    val agg = e.crossJoin(broadcast(cent))
      .select(col("vec_id"), col("clabel"),
        squaredL2(col("embedding"), col("cvec")).as("cdist"))
      .groupBy(col("vec_id"))
      .agg(min(struct(col("cdist"), col("clabel"))).as("m"))
      .select(col("vec_id"), col("m.clabel").as("cell"), col("m.cdist").as("cdist"))
    val expr = e.crossJoin(broadcast(cent.agg(
        sort_array(collect_list(struct(col("clabel"), col("cvec")))).as("cents"))))
      .select(col("vec_id"),
        argminCentroid(col("embedding"), col("cents")).as("m"))
      .select(col("vec_id"), col("m.label").as("cell"), col("m.dist").as("cdist"))
    // bitwise: join on vec_id and require identical (cell, dist) — a
    // plain exceptAll would mask a double that differs in the last ulp
    val diff = agg.as("a").join(expr.as("b"), "vec_id")
      .filter(col("a.cell") =!= col("b.cell") ||
        col("a.cdist") =!= col("b.cdist")).count()
    assert(diff == 0L, s"$diff vec_ids diverge from the aggregate form")
    assert(expr.count() == e.count())
    // tie-break: two centroids at identical distance -> smaller label
    // wins, exactly min(struct)'s order. INT labels (the fixture type).
    val tie = spark.sql(
      """SELECT array(0.0D, 0.0D) AS v,
        |  array(named_struct('l', 7, 'c', array(1.0D, 0.0D)),
        |        named_struct('l', 3, 'c', array(0.0D, 1.0D)),
        |        named_struct('l', 5, 'c', array(3.0D, 4.0D))) AS cents""".stripMargin)
      .select(argminCentroid(col("v"), col("cents")).as("m")).head()
    assert(tie.getStruct(0).getDouble(0) == 1.0 &&
      tie.getStruct(0).getInt(1) == 3, s"tie-break diverged: $tie")
    // BIGINT labels (the semantic-cells seed ids)
    val lt = spark.sql(
      """SELECT array(0.0D) AS v,
        |  array(named_struct('l', CAST(9 AS BIGINT), 'c', array(2.0D)),
        |        named_struct('l', CAST(4 AS BIGINT), 'c', array(5.0D))) AS cents""".stripMargin)
      .select(argminCentroid(col("v"), col("cents")).as("m")).head()
    assert(lt.getStruct(0).getDouble(0) == 4.0 && lt.getStruct(0).getLong(1) == 9L)
    // null vector / empty codebook / length mismatch -> null result
    val edge = spark.sql(
      """SELECT CAST(NULL AS ARRAY<DOUBLE>) AS nv, array(1.0D) AS v,
        |  array(named_struct('l', 1, 'c', array(1.0D))) AS ok,
        |  array(named_struct('l', 1, 'c', array(1.0D, 2.0D))) AS mismatch,
        |  CAST(array() AS ARRAY<STRUCT<l: INT, c: ARRAY<DOUBLE>>>) AS empty""".stripMargin)
      .select(argminCentroid(col("nv"), col("ok")).as("a"),
        argminCentroid(col("v"), col("mismatch")).as("b"),
        argminCentroid(col("v"), col("empty")).as("c")).head()
    assert(edge.isNullAt(0) && edge.isNullAt(1) && edge.isNullAt(2), s"$edge")
    // interpreted path (constant folding runs eval on the driver)
    val lit1 = spark.range(1).select(argminCentroid(
      array(lit(0.0)),
      array(struct(lit(2).as("l"), array(lit(3.0)).as("c")),
        struct(lit(1).as("l"), array(lit(10.0)).as("c")))).as("m")).head()
    assert(lit1.getStruct(0).getDouble(0) == 9.0 && lit1.getStruct(0).getInt(1) == 2)
  }

  test("text kernels ≡ the HOF strings they replace: shingles, hashes, minhash, " +
       "band keys, fingerprints over sf0.01 + edge rows, both execution paths") {
    import org.apache.spark.sql.{Column, DataFrame}
    import org.apache.spark.sql.graftbridge.SqlBridge.{column, expression}
    import graft.functions.expressions.{ElementHash, MinHashSignature, SimHash}
    import spark.implicits._
    // the retired lambda strings, verbatim — the semantics (and the
    // oracle SQL's) the kernels must reproduce bit for bit
    val h60 = "CAST(conv(substr(md5(%s), 1, 15), 16, 10) AS BIGINT)"
    val hofShingles = when(size(col("toks")) >= 3, expr(
      "transform(sequence(1, size(toks)-2), i -> concat_ws(' ', element_at(toks,i), " +
        "element_at(toks,i+1), element_at(toks,i+2)))")).otherwise(expr("array()"))
    val hofH60 = s"transform(sh, t -> ${h60.format("t")})"
    val hofH31 = s"transform(sh, t -> ${h60.format("t")} % 2147483647)"
    val hofH64 = s"transform(sh, t -> (${h60.format("t")} & 4294967295L) | " +
      s"shiftleft(${h60.format("concat('s2:', t)")}, 32))"
    val hofSig = "transform(sequence(0,15), i -> " +
      "array_min(transform(h31, h -> ((2*i+1)*h + i*7919) % 2147483647)))"
    // minhash's band-key lambda, unchanged in TextOps: fed both signatures
    val bandKeys = "transform(sequence(0,3), b -> " +
      "md5(array_join(transform(slice(sig, b*4+1, 4), x -> CAST(x AS STRING)), '-')))"
    def k(e: org.apache.spark.sql.catalyst.expressions.Expression): Column = column(e)
    def hash(c: String, form: Int): Column = k(ElementHash(expression(col(c)), form))
    def simhash(c: String, bits: Int): Column = k(SimHash(expression(col(c)), bits))
    def chain(toks: DataFrame, kernel: Boolean): Array[org.apache.spark.sql.Row] = {
      val sh = toks
        .withColumn("osh", if (kernel) operators.TextOps.orderedShingles else hofShingles)
        .withColumn("sh", array_distinct(col("osh")))
      val hs =
        if (kernel) sh.withColumn("h60", hash("sh", ElementHash.Plain))
          .withColumn("h31", hash("sh", ElementHash.Mod31))
          .withColumn("h64", hash("sh", ElementHash.Wide64))
        else sh.withColumn("h60", expr(hofH60)).withColumn("h31", expr(hofH31))
          .withColumn("h64", expr(hofH64))
      hs.withColumn("sig",
          if (kernel) k(MinHashSignature(expression(col("h31")))) else expr(hofSig))
        .withColumn("bk", expr(bandKeys))
        .withColumn("f48", simhash("h60", 48))
        .withColumn("f64", simhash("h64", 64))
        .select("doc_id", "osh", "sh", "h60", "h31", "h64", "sig", "bk", "f48", "f64")
        .orderBy("doc_id").collect()
    }
    def assertSame(hof: Array[org.apache.spark.sql.Row],
                   ker: Array[org.apache.spark.sql.Row], what: String): Unit = {
      assert(hof.length == ker.length, what)
      hof.zip(ker).foreach { case (a, b) =>
        assert(a == b, s"$what: doc ${a.get(0)} diverges\n HOF:    $a\n kernel: $b")
      }
    }
    val texts = Seq(
      "one", "one two", "one two three", "",                     // 1/2/3 tokens; "" is one empty token
      " lead space", "trail space here ", "double  space  here", // empty tokens
      "数据 管道 去重 数据 管道 去重", "Größe Übung Straße Größe Übung",   // zh / de multi-byte UTF-8
      "a b c a b c a b c d",                                   // repeated shingles: distinct keeps first-seen order
      null)                                                    // null text: no shingles
    val fromText = (Tables.documents(spark, "/root/testdata/sf0.01")
        .select(col("doc_id"), col("text"))
        .unionByName(texts.zipWithIndex.map { case (t, i) => (-1L - i, t) }.toDF("doc_id", "text")))
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
    val nullElems = Seq(                                       // 0 tokens; null tokens
      (-100L, Seq.empty[String]), (-101L, Seq("a", null, "b", "c")),
      (-102L, Seq[String](null, null, null)), (-103L, Seq("x", null, null, "y", "z")))
      .toDF("doc_id", "toks")
    // codegen path: the repartition keeps the projections off the
    // driver-side LocalRelation folding, so they compile in WSCG
    val all = fromText.unionByName(nullElems).repartition(4)
    val ker = chain(all, kernel = true)
    assert(ker.length == 500 + texts.size + 4)
    assertSame(chain(all, kernel = false), ker, "codegen path")
    val sample = ker.filter(_.getLong(0) == -10L).head // the repeated-shingle row
    assert(sample.getSeq[String](1).size == 8 && sample.getSeq[String](2) ==
      Seq("a b c", "b c a", "c a b", "b c d"), s"$sample")
    // interpreted path: a literal token array constant-folds through
    // eval on the driver — the folded plan keeps no kernel call
    (texts.filter(_ != null).map(_.split(" ", -1).toSeq) ++
        Seq(Seq.empty[String], Seq("a", null, "b", "c"))).foreach { t =>
      val lit1 = spark.range(1).select(lit(0L).as("doc_id"), typedLit(t).as("toks"))
      assertSame(chain(lit1, kernel = false), chain(lit1, kernel = true), s"interpreted $t")
      val f = lit1.select(operators.TextOps.orderedShingles.as("o")).queryExecution.optimizedPlan
      assert(!f.toString.contains("word_shingles"), s"kernel survived constant folding:\n$f")
    }
    // null ELEMENTS of the hash and signature inputs, both paths:
    // a null string hashes to null; array_min skips nulls, and an
    // all-null or empty input gives a null at every signature slot
    val gen = spark.range(2).select(
      array(lit("x"), when(col("id") > 5, lit("y"))).as("sh"),
      array(lit(5L) + col("id"), when(col("id") > 5, lit(1L)), lit(9L)).as("h31"),
      array(when(col("id") > 5, lit(1L))).as("allnull"),
      when(col("id") > 5, array(lit(1L))).otherwise(array().cast("array<bigint>")).as("empty"))
    val folded = spark.sql(
      """SELECT array('x', CAST(NULL AS STRING)) AS sh,
        |  array(5L, CAST(NULL AS BIGINT), 9L) AS h31,
        |  array(CAST(NULL AS BIGINT)) AS allnull,
        |  CAST(array() AS ARRAY<BIGINT>) AS empty""".stripMargin)
    for (df <- Seq(gen, folded)) {
      val r = df.select(
        hash("sh", ElementHash.Plain).as("k60"), expr(hofH60).as("f60"),
        hash("sh", ElementHash.Wide64).as("k64"), expr(hofH64).as("f64"),
        k(MinHashSignature(expression(col("h31")))).as("ks"), expr(hofSig).as("fs"),
        k(MinHashSignature(expression(col("allnull")))).as("kn"),
        k(MinHashSignature(expression(col("empty")))).as("ke")).head()
      assert(r.get(0) == r.get(1) && r.getSeq[Any](0)(1) == null, s"$r")
      assert(r.get(2) == r.get(3) && r.getSeq[Any](2)(1) == null, s"$r")
      assert(r.get(4) == r.get(5) && !r.getSeq[Any](4).contains(null), s"$r")
      assert(r.getSeq[Any](6) == Seq.fill(16)(null) && r.getSeq[Any](7) == Seq.fill(16)(null), s"$r")
    }
  }

  test("Tables.normalizeTs folds every fixture vintage to the same µs timestamps") {
    // every events consumer (batch + streaming) routes through this
    // helper; the driver fixtures have switched physical type once
    // already (TIMESTAMP(NANOS) → timestamp[us]), so pin all three
    // branches: BIGINT nanos, TIMESTAMP_NTZ, and already-TimestampType
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    import spark.implicits._
    val nanos = 1704067200123456789L // 2024-01-01T00:00:00.123456789
    val asLong = Seq(nanos).toDF("ts")
    val asNtz = spark.sql(
      s"SELECT make_timestamp_ntz(2024, 1, 1, 0, 0, 0.123456) AS ts")
    val asTs = spark.sql(
      s"SELECT timestamp_micros(${nanos / 1000}) AS ts")
    val outs = Seq(asLong, asNtz, asTs).map { df =>
      val out = graft.Tables.normalizeTs(df)
      assert(out.schema("ts").dataType ==
        org.apache.spark.sql.types.TimestampType, s"from ${df.schema("ts").dataType}")
      out.select(unix_micros(col("ts"))).head().getLong(0)
    }
    assert(outs.distinct.size == 1,
      s"vintages disagree on the instant: $outs")
    assert(outs.head == nanos / 1000, "nanos must truncate to µs (DuckDB parity)")
  }
}
