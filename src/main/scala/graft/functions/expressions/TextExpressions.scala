package graft.functions.expressions

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

import graft.operators.HnswLevel

/** Codegen'd per-document text kernels: the shingle → md5-hash →
  * MinHash-signature chain behind the dedup operators.
  *
  * The HOF formulation (`transform(sequence(...), i -> concat_ws(...))`,
  * `transform(sh, t -> CAST(conv(substr(md5(t),1,15),16,10) AS BIGINT))`,
  * `transform(sequence(0,15), i -> array_min(transform(hs, ...)))`) is a
  * `CodegenFallback`: every element runs an interpreted lambda with
  * boxing, one row at a time — measured 2.8–3.3 s for the 16-wide
  * signature over 2,500 documents against 0.27–0.31 s for a JVM loop.
  * These expressions compute the same values bit for bit (FunctionsSpec
  * compares each against the HOF string it replaced) inside
  * whole-stage codegen. Each kernel's loop lives once, in [[TextKernels]]:
  * `nullSafeEval` and the generated code call the same method, so the
  * interpreted and compiled paths cannot drift apart.
  */
private[graft] object TextKernels {
  private val md5 = ThreadLocal.withInitial[MessageDigest](() => MessageDigest.getInstance("MD5"))
  private val space = UTF8String.fromString(" ")
  private val wideSalt = "s2:".getBytes(UTF_8)

  /** The MinHash universal-hash family: h_i(x) = (a_i·x + b_i) mod p,
    * a_i = 2i+1, b_i = 7919·i, for i < 16 (4 LSH bands of 4 rows). */
  private val MinHashK = 16
  private val MinHashPrime = 2147483647L
  private val MinHashB = 7919L

  /** Every window of `width` consecutive elements starting at 0, step,
    * 2·step, … that fits entirely, each joined `concat_ws(' ', …)`-style:
    * null elements are skipped, an all-null window is ''. Fewer than
    * `width` elements give an empty array. */
  def shingles(toks: ArrayData, width: Int, step: Int): ArrayData = {
    val n = toks.numElements()
    val m = if (n < width) 0 else (n - width) / step + 1
    val out = new Array[Any](m)
    val window = new Array[UTF8String](width)
    var j = 0
    while (j < m) {
      val start = j * step
      var t = 0
      while (t < width) {
        window(t) = if (toks.isNullAt(start + t)) null else toks.getUTF8String(start + t)
        t += 1
      }
      out(j) = UTF8String.concatWs(space, window: _*)
      j += 1
    }
    new GenericArrayData(out)
  }

  /** md5 of (`salt` ‖ UTF-8 bytes of `s`) → the engine's 60-bit hash,
    * i.e. SQL `CAST(conv(substr(md5(concat(salt, s)), 1, 15), 16, 10)
    * AS BIGINT)`. Reads the string's bytes in place when on-heap. */
  private def hash60(md: MessageDigest, salt: Array[Byte], s: UTF8String): Long = {
    if (salt != null) md.update(salt)
    s.getBaseObject match {
      case b: Array[Byte] =>
        md.update(b, (s.getBaseOffset - Platform.BYTE_ARRAY_OFFSET).toInt, s.numBytes)
      case _ => md.update(s.getBytes)
    }
    HnswLevel.hash60FromDigest(md.digest())
  }

  /** Element-wise hashes of an ARRAY<STRING> in one of the
    * [[ElementHash]] forms; a null element gives a null element. */
  def hashes(arr: ArrayData, form: Int): ArrayData = {
    val md = md5.get()
    md.reset()
    val n = arr.numElements()
    val out = ArrayData.allocateArrayData(8, n, "element hashes")
    var i = 0
    while (i < n) {
      if (arr.isNullAt(i)) out.setNullAt(i)
      else {
        val s = arr.getUTF8String(i)
        val h = hash60(md, null, s)
        out.setLong(i, form match {
          case ElementHash.Plain => h
          case ElementHash.Mod31 => h % MinHashPrime
          case _ => (h & 0xFFFFFFFFL) | (hash60(md, wideSalt, s) << 32)
        })
      }
      i += 1
    }
    out
  }

  /** The MinHash signature: sig_i = min over non-null h of
    * ((2i+1)·h + 7919·i) mod p — `array_min`'s semantics, so an empty or
    * all-null input gives null at every position. Inputs are 31-bit
    * (`hash60 % p`), so (2·15+1)·h + 7919·15 stays far inside a long. */
  def minhash(hs: ArrayData): ArrayData = {
    val k = MinHashK
    val n = hs.numElements()
    val mins = Array.fill(k)(Long.MaxValue)
    var seen = false
    var j = 0
    while (j < n) {
      if (!hs.isNullAt(j)) {
        seen = true
        val h = hs.getLong(j)
        var i = 0
        while (i < k) {
          val v = ((2L * i + 1) * h + MinHashB * i) % MinHashPrime
          if (v < mins(i)) mins(i) = v
          i += 1
        }
      }
      j += 1
    }
    val out = ArrayData.allocateArrayData(8, k, "minhash signature")
    var i = 0
    while (i < k) {
      if (seen) out.setLong(i, mins(i)) else out.setNullAt(i)
      i += 1
    }
    out
  }
}

/** Shared shape of the text kernels: one array child, a type check, and
  * `nullSafeEval`/`doGenCode` that both call one [[TextKernels]] method
  * (null input → null output). */
abstract class ArrayKernel extends UnaryExpression {
  protected def elementOk(t: DataType): Boolean
  protected def expected: String
  /** The kernel call as Scala (interpreted path) and as Java source. */
  protected def run(arr: ArrayData): ArrayData
  protected def javaCall(arr: String): String

  override def nullable: Boolean = child.nullable
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(t, _) if elementOk(t) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires an $expected argument, got ${t.simpleString}")
  }
  override def nullSafeEval(input: Any): Any = run(input.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"graft.functions.expressions.TextKernels.${javaCall(a)}")
}

/** Word `width`-grams over a token array: windows start every `step`
  * tokens, each joined with single spaces (`concat_ws(' ', …)`). The
  * 3-word shingles of the dedup operators are `WordShingles(toks, 3, 1)`;
  * passage dedup's fixed grid is `WordShingles(toks, w, w)`. */
case class WordShingles(child: Expression, width: Int, step: Int) extends ArrayKernel {
  require(width >= 1 && step >= 1, s"shingle width and step must be >= 1, got $width/$step")
  override def prettyName: String = "word_shingles"
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override protected def elementOk(t: DataType): Boolean = t.isInstanceOf[StringType]
  override protected def expected = "ARRAY<STRING>"
  override protected def run(arr: ArrayData): ArrayData = TextKernels.shingles(arr, width, step)
  override protected def javaCall(a: String): String = s"shingles($a, $width, $step)"
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Element-wise md5 hashes of an ARRAY<STRING>, in one of three forms:
  *   - [[ElementHash.Plain]]: the 60-bit `hash60(t)`;
  *   - [[ElementHash.Mod31]]: `hash60(t) % 2147483647` (MinHash input);
  *   - [[ElementHash.Wide64]]: `(hash60(t) & 0xFFFFFFFF) |
  *     (hash60('s2:' ‖ t) << 32)` (the 64-bit SimHash input).
  * A null element hashes to a null element. */
case class ElementHash(child: Expression, form: Int) extends ArrayKernel {
  require(form >= ElementHash.Plain && form <= ElementHash.Wide64, s"unknown hash form $form")
  override def prettyName: String = Seq("hash60s", "hash31s", "hash64s")(form)
  override def dataType: DataType =
    ArrayType(LongType, child.dataType.asInstanceOf[ArrayType].containsNull)
  override protected def elementOk(t: DataType): Boolean = t.isInstanceOf[StringType]
  override protected def expected = "ARRAY<STRING>"
  override protected def run(arr: ArrayData): ArrayData = TextKernels.hashes(arr, form)
  override protected def javaCall(a: String): String = s"hashes($a, $form)"
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object ElementHash {
  final val Plain = 0
  final val Mod31 = 1
  final val Wide64 = 2
}

/** The 16-wide MinHash signature of an ARRAY<BIGINT> of 31-bit element
  * hashes; see [[TextKernels.minhash]]. */
case class MinHashSignature(child: Expression) extends ArrayKernel {
  override def prettyName: String = "minhash16"
  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override protected def elementOk(t: DataType): Boolean = t == LongType
  override protected def expected = "ARRAY<BIGINT>"
  override protected def run(arr: ArrayData): ArrayData = TextKernels.minhash(arr)
  override protected def javaCall(a: String): String = s"minhash($a)"
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}
