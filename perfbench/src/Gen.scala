package graft.perfbench

import java.io.File
import java.util.SplittableRandom

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded input generation. Every shard is a directory holding the
  * engine's own input layout (`embeddings.parquet`, `documents.parquet`),
  * so the engine reads only generated parquet, through `Tables`.
  *
  * All randomness flows from `(seed, shard)` through [[SplittableRandom]],
  * so the same seed gives the same rows; the driver-side row lists are
  * what the output checks grade against (planted duplicates and
  * [[Truth]]'s exact answers).
  */
object Gen {
  val Dim = 64 // the engine's fixed embedding width (FIXTURES.md)

  final case class Vectors(rows: Array[(Long, Array[Float], Int)])
  final case class Docs(rows: Array[(Long, String, String, String)],
                        dupPairs: Set[(Long, Long)])

  // SplittableRandom seeds that differ by its gamma give shifted copies
  // of one stream, so (seed, shard, kind) is mixed first (MurmurHash3's
  // 64-bit finalizer)
  private def mix(x: Long): Long = {
    var z = x
    z = (z ^ (z >>> 33)) * 0xFF51AFD7ED558CCDL
    z = (z ^ (z >>> 33)) * 0xC4CEB9FE1A85EC53L
    z ^ (z >>> 33)
  }
  private def rng(seed: Long, shard: Int, kind: Int): SplittableRandom =
    new SplittableRandom(mix(mix(mix(seed) + shard) + kind))

  // The constants below reproduce the measured shape of the repo's
  // sf0.1 bench corpus (perfbench/README.md, "Inputs"; re-measure with
  // `run.py --calibrate <dir>`).

  /** `n` unit vectors drawn uniformly on the sphere (normalized i.i.d.
    * Gaussians: per-dimension std 1/8), each with a label in 0..9 drawn
    * independently of the geometry. No clusters and no planted copies,
    * so true neighbours are barely closer than random pairs: the
    * low-contrast regime of the corpus. */
  def vectors(seed: Long, shard: Int, n: Int): Vectors = {
    val r = rng(seed, shard, 1)
    Vectors(Array.tabulate(n) { i =>
      val g = Array.fill(Dim)(r.nextGaussian())
      val norm = math.sqrt(g.map(x => x * x).sum)
      (i.toLong, g.map(x => (x / norm).toFloat), r.nextInt(10))
    })
  }

  /** The corpus's 30-word analytics vocabulary, drawn uniformly. */
  val Vocab: Array[String] = ("a agg batch big column customer data fast filter group hash join " +
    "key line merge order part query row scan slow small sort spark stream table the value " +
    "vector window").split(" ")
  /** Token appended by an "insert" copy (the corpus marks copies so). */
  val DupToken = "dup"
  val MinToks = 10
  val MaxToks = 100
  /** Share of documents that are near-duplicate copies of an earlier one. */
  val CopyRate = 0.05
  private val Langs = Array("en", "de", "es", "fr", "zh")
  private val LangWeights = Array(0.41, 0.14, 0.15, 0.15, 0.15)
  private val Sources = 20

  /** `n` word-soup documents of [[MinToks]]–[[MaxToks]] uniform
    * tokens over [[Vocab]]. A document is, with probability
    * [[CopyRate]], a copy of a uniformly chosen earlier one (copies of
    * copies included) that appends [[DupToken]] (half), drops its last
    * token (47%) or changes nothing (3%). Ground truth pairs are every
    * pair within a family (an original plus its copies). */
  def docs(seed: Long, shard: Int, n: Int): Docs = {
    val r = rng(seed, shard, 2)
    val toks = new Array[Array[String]](n)
    val family = new Array[Int](n)
    for (i <- 0 until n) {
      if (i > 0 && r.nextDouble() < CopyRate) {
        val j = r.nextInt(i)
        val t = toks(j)
        val mode = r.nextDouble()
        toks(i) =
          if (mode < 0.50) t :+ DupToken
          else if (mode < 0.97 && t.length > 1) t.dropRight(1)
          else t.clone()
        family(i) = family(j)
      } else {
        toks(i) = Array.fill(MinToks + r.nextInt(MaxToks - MinToks + 1))(Vocab(r.nextInt(Vocab.length)))
        family(i) = i
      }
    }
    def lang(): String = {
      var u = r.nextDouble()
      var k = 0
      while (k < Langs.length - 1 && u >= LangWeights(k)) { u -= LangWeights(k); k += 1 }
      Langs(k)
    }
    val rows = Array.tabulate(n) { i =>
      (i.toLong, toks(i).mkString(" "), lang(), s"src${r.nextInt(Sources)}")
    }
    val dups = (0 until n).groupBy(family(_)).values.filter(_.size > 1).flatMap { ids =>
      for (a <- ids; b <- ids if a < b) yield (a.toLong, b.toLong)
    }.toSet
    Docs(rows, dups)
  }

  private val VecSchema = StructType(Seq(
    StructField("vec_id", LongType, nullable = false),
    StructField("embedding", ArrayType(FloatType, containsNull = false)),
    StructField("label", IntegerType, nullable = false)))
  private val DocSchema = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** Writes one shard's tables as single-file parquet under `dir`
    * (`embeddings.parquet`, `documents.parquet`), the layout `Tables`
    * reads. */
  def write(s: SparkSession, dir: File, vecs: Option[Vectors], docs: Option[Docs]): Unit = {
    import scala.jdk.CollectionConverters._
    def emit(table: String, schema: StructType, rows: Seq[Row]): Unit =
      s.createDataFrame(rows.asJava, schema).coalesce(1)
        .write.parquet(new File(dir, s"$table.parquet").getPath)
    vecs.foreach(v => emit("embeddings", VecSchema,
      v.rows.toSeq.map { case (id, e, l) => Row(id, e.toSeq, l) }))
    docs.foreach(d => emit("documents", DocSchema,
      d.rows.toSeq.map { case (id, t, lang, src) => Row(id, t, lang, src, t.length.toLong) }))
  }
}

object Files {
  /** Bytes under `f`, a file or a directory tree. */
  def sizeOf(f: File): Long =
    if (f.isFile) f.length else Option(f.listFiles()).map(_.map(sizeOf).sum).getOrElse(0L)
}
