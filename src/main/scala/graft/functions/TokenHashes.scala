package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.unsafe.types.UTF8String

/** Native tokenize-and-hash expressions — the codegen'd front of the
  * dedup/sketch pipeline.
  *
  * Why native: the column-algebra formulation
  * (`transform(sequence(...), i -> concat_ws(' ', element_at...))`)
  * contains higher-order functions, and ANY HOF in a projection kicks
  * the whole stage out of whole-stage codegen — the sketch front then
  * interprets two lambdas per token and allocates every n-gram string.
  * These expressions hash token/byte ranges of the input `UTF8String`
  * in place: zero string allocation, one pass, and the enclosing
  * projection stays codegen'd (asserted in DotProductF32Spec).
  *
  * Hash parity: ranges are hashed with the same XXH64(seed=42) Spark's
  * `xxhash64` uses, and an n-gram's byte range [start(w_i),
  * end(w_{i+n-1})) is byte-identical to `concat_ws(" ", w_i..w_{i+n-1})`
  * under single-space splitting (empty tokens from repeated spaces
  * reproduce the same bytes on both formulations) — so
  * `graft_shingle_hashes(t, n)` equals
  * `transform(shingles(t, n), s -> xxhash64(s))` element-for-element
  * (property-tested in DedupSimilaritySpec).
  */
object TokenHashes {
  private final val Seed = 42L
  private final val Space = 0x20.toByte
  private final val ByteArrayOffset =
    org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET

  /** Single-space word boundaries of a byte buffer: returns
    * (starts, ends) with `starts(w)`/`ends(w)` the byte offsets
    * delimiting word w (empty words from repeated spaces included) —
    * THE tokenization shared by every expression in this file, so the
    * boundary semantics can never drift between them. */
  private[functions] def wordBounds(bytes: Array[Byte]): (Array[Int], Array[Int]) = {
    val len = bytes.length
    var words = 1
    var i = 0
    while (i < len) {
      if (bytes(i) == Space) words += 1
      i += 1
    }
    val starts = new Array[Int](words)
    val ends = new Array[Int](words)
    var w = 0
    var start = 0
    i = 0
    while (i <= len) {
      if (i == len || bytes(i) == Space) {
        starts(w) = start
        ends(w) = i
        w += 1
        start = i + 1
      }
      i += 1
    }
    (starts, ends)
  }

  private def xx(bytes: Array[Byte], start: Int, end: Int): Long =
    XXH64.hashUnsafeBytes(bytes, ByteArrayOffset + start, end - start, Seed)

  /** xxhash64 of each n-word shingle's byte range; a text with fewer
    * than n words yields one hash of the whole text (the `shingles`
    * short-document rule). */
  def shingles(t: UTF8String, n: Int): GenericArrayData = {
    val bytes = t.getBytes
    val (starts, ends) = wordBounds(bytes)
    val words = starts.length
    if (words < n) {
      return new GenericArrayData(Array(xx(bytes, 0, bytes.length)))
    }
    val m = words - n + 1
    val out = new Array[Long](m)
    var i = 0
    while (i < m) {
      out(i) = xx(bytes, starts(i), ends(i + n - 1))
      i += 1
    }
    new GenericArrayData(out)
  }
}

/** Engine-neutral shingle hashing: md5 of each n-gram byte range, top
  * 24 bits (= the first 6 hex chars of `md5(shingle)`, the form any SQL
  * engine can restate as `CAST(('0x'||substr(md5(s),1,6)) AS BIGINT)`).
  * The codegen'd replacement for interpreted
  * `explode(shingles(text,n)) → md5 → conv` chains in oracle-bridged
  * sketch pipelines. */
object PortableShingleHashes {
  private val md = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  private def top24(d: Array[Byte]): Long =
    ((d(0) & 0xffL) << 16) | ((d(1) & 0xffL) << 8) | (d(2) & 0xffL)

  def compute(t: UTF8String, n: Int): GenericArrayData = {
    val bytes = t.getBytes
    val digest = md.get()
    def h(start: Int, end: Int): Long = {
      digest.reset()
      digest.update(bytes, start, end - start)
      top24(digest.digest())
    }
    val (starts, ends) = TokenHashes.wordBounds(bytes)
    val words = starts.length
    if (words < n) {
      return new GenericArrayData(Array(h(0, bytes.length)))
    }
    val m = words - n + 1
    val out = new Array[Long](m)
    var i = 0
    while (i < m) {
      out(i) = h(starts(i), ends(i + n - 1))
      i += 1
    }
    new GenericArrayData(out)
  }
}

/** Engine-neutral word hashing at full oracle strength: the top 60 bits
  * of md5 per whitespace token (= `CAST(('0x'||substr(md5(w),1,15)) AS
  * BIGINT)`, the [[graft.ext.Dedup.portableHash64]] family). The
  * codegen'd replacement for the interpreted
  * `transform(split(text,' '), w -> conv(substring(md5(w),1,15),16,10))`
  * chain in the oracle-bridged SimHash flavor — per token: one md5 over
  * the word's byte range, no string allocation, no HOF. */
object PortableWordHashes {
  private val md = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** First 15 hex chars of the digest as an int64: bytes 0-6 whole (56
    * bits) then the high nibble of byte 7 — exactly the value
    * `conv(substring(md5(x),1,15),16,10)` parses. */
  private def top60(d: Array[Byte]): Long = {
    var v = 0L
    var i = 0
    while (i < 7) { v = (v << 8) | (d(i) & 0xffL); i += 1 }
    (v << 4) | ((d(7) >> 4) & 0xfL)
  }

  def compute(t: UTF8String): GenericArrayData = {
    val bytes = t.getBytes
    val digest = md.get()
    val (starts, ends) = TokenHashes.wordBounds(bytes)
    val out = new Array[Long](starts.length)
    var w = 0
    while (w < starts.length) {
      digest.reset()
      digest.update(bytes, starts(w), ends(w) - starts(w))
      out(w) = top60(digest.digest())
      w += 1
    }
    new GenericArrayData(out)
  }
}

/** [[PortableShingleHashes]] at full oracle strength: the top 60 md5
  * bits per n-word window (= `CAST(('0x'||substr(md5(s),1,15)) AS
  * BIGINT)` over the space-joined window, the
  * [[graft.ext.Dedup.portableHash64]] family). 24 bits is right for
  * sketch minima (e05's family mixes further); a raw window IDENTITY
  * (duplicate-span coverage, where a collision is a false dup flag)
  * needs the full width. Same single-space contract as the 24-bit
  * flavor: the byte range IS the joined string when tokens are
  * single-space separated. */
object PortableShingleHashes64 {
  private val md = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  private def top60(d: Array[Byte]): Long = {
    var v = 0L
    var i = 0
    while (i < 7) { v = (v << 8) | (d(i) & 0xffL); i += 1 }
    (v << 4) | ((d(7) >> 4) & 0xfL)
  }

  def compute(t: UTF8String, n: Int): GenericArrayData = {
    val bytes = t.getBytes
    val digest = md.get()
    def h(start: Int, end: Int): Long = {
      digest.reset()
      digest.update(bytes, start, end - start)
      top60(digest.digest())
    }
    val (starts, ends) = TokenHashes.wordBounds(bytes)
    val words = starts.length
    if (words < n) {
      return new GenericArrayData(Array(h(0, bytes.length)))
    }
    val m = words - n + 1
    val out = new Array[Long](m)
    var i = 0
    while (i < m) {
      out(i) = h(starts(i), ends(i + n - 1))
      i += 1
    }
    new GenericArrayData(out)
  }
}

/** `graft_portable_shingles64(text, n)` → array<long>: 60-bit md5
  * prefix per n-word window (whole text when shorter than n words),
  * one hash per window POSITION (multiset). */
case class PortableShingleHashes64(child: Expression, n: Int) extends UnaryExpression {

  require(n > 0 && n <= 64, s"shingle width out of range: $n")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"$prettyName requires string, got $t")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_portable_shingles64"

  override def nullSafeEval(input: Any): Any =
    PortableShingleHashes64.compute(input.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.PortableShingleHashes64.compute($c, $n); // graft_portable_shingles64")

  override protected def withNewChildInternal(newChild: Expression): PortableShingleHashes64 =
    copy(child = newChild)
}

/** `graft_portable_words(text)` → array<long>: 60-bit md5 prefix per
  * whitespace token, in token order. */
case class PortableWordHashes(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"$prettyName requires string, got $t")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_portable_words"

  override def nullSafeEval(input: Any): Any =
    PortableWordHashes.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.PortableWordHashes.compute($c); // graft_portable_words")

  override protected def withNewChildInternal(newChild: Expression): PortableWordHashes =
    copy(child = newChild)
}

/** `graft_portable_shingles(text, n)` → array<long>: 24-bit md5 prefix
  * per n-word shingle (whole text when shorter than n words). */
case class PortableShingleHashes(child: Expression, n: Int) extends UnaryExpression {

  require(n > 0 && n <= 64, s"shingle width out of range: $n")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"$prettyName requires string, got $t")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_portable_shingles"

  override def nullSafeEval(input: Any): Any =
    PortableShingleHashes.compute(input.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.PortableShingleHashes.compute($c, $n); // graft_portable_shingles")

  override protected def withNewChildInternal(newChild: Expression): PortableShingleHashes =
    copy(child = newChild)
}

/** `graft_shingle_hashes(text, n)` → array<long>: xxhash64 per n-word
  * shingle byte range (whole text when shorter than n words). */
case class ShingleHashes(child: Expression, n: Int) extends UnaryExpression {

  require(n > 0 && n <= 64, s"shingle width out of range: $n")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"$prettyName requires string, got $t")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_shingle_hashes"

  override def nullSafeEval(input: Any): Any =
    TokenHashes.shingles(input.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.TokenHashes.shingles($c, $n); // graft_shingle_hashes")

  override protected def withNewChildInternal(newChild: Expression): ShingleHashes =
    copy(child = newChild)
}
