package graft.functions.expressions

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Shared implementation of the engine-portable polynomial string hash
  * (see [[graft.ext.Dedup.polyHash]] for the contract and the DuckDB
  * recomputation recipe). ONE implementation backs both the interpreted
  * `eval` and the generated code, so the two cannot drift.
  *
  * Bit-exactness contract, replicating the HOF form
  * `when(length(s) <= 1, ascii(s)).otherwise(aggregate(transform(
  * sequence(2, length(s)), i -> ascii(substr(s, i, 1))), ascii(substr(s,
  * 1, 1)), (acc, x) -> (acc*31 + x) % 1000000007))` exactly:
  * - Spark 4's `ascii` is `substring(0,1).toString().codePointAt(0)`
  *   (0 for the empty string) — the full Unicode CODEPOINT of the first
  *   character, surrogate pairs included, NOT the first byte.
  * - character stepping is UTF8String's: one character per
  *   `numBytesForFirstByte(lead byte)` stride — the same stride
  *   `length()`, `substr()` and `reverse()` use.
  * - the seed (first character's codepoint) enters the fold UNREDUCED,
  *   exactly like the HOF's seed; single-char strings return the raw
  *   codepoint with no modulo.
  * ASCII characters take a branch-free fast path; any non-ASCII lead
  * byte falls back to the JDK decoder (`new String(slice,
  * UTF_8).codePointAt(0)`) — byte-for-byte the reference semantics,
  * including U+FFFD replacement on malformed input. */
object PolyHashImpl {
  final val P = 1000000007L

  /** Codepoint of the character whose UTF-8 encoding starts at `i`
    * (exclusive end `end`), matching `ascii(substr(...))`. */
  private def codePointAt(bytes: Array[Byte], i: Int, end: Int): Long = {
    val b = bytes(i)
    if (b >= 0) b.toLong // 1-byte ASCII fast path
    else {
      val s = new String(bytes, i, end - i, java.nio.charset.StandardCharsets.UTF_8)
      if (s.isEmpty) 0L else s.codePointAt(0).toLong
    }
  }

  def hash(str: UTF8String): Long = {
    val bytes = str.getBytes
    val nb = bytes.length
    if (nb == 0) return 0L
    var i = 0
    var step = UTF8String.numBytesForFirstByte(bytes(0))
    var acc = codePointAt(bytes, 0, math.min(step, nb))
    i = step
    while (i < nb) {
      step = UTF8String.numBytesForFirstByte(bytes(i))
      val end = math.min(i + step, nb)
      acc = (acc * 31L + codePointAt(bytes, i, end)) % P
      i += step
    }
    acc
  }

  /** polyHash of `reverse(str)` WITHOUT materializing the reversed
    * string: UTF8String.reverse copies whole characters in reverse
    * order (forward `numBytesForFirstByte` strides), so the reversed
    * string's k-th character is the original's (n−1−k)-th — fold the
    * original's codepoints back-to-front. */
  def hashReversed(str: UTF8String): Long = {
    val bytes = str.getBytes
    val nb = bytes.length
    if (nb == 0) return 0L
    // forward scan collecting character start offsets (the same strides
    // reverse()/substr()/length() take)
    val starts = new Array[Int](nb)
    var n = 0
    var i = 0
    while (i < nb) {
      starts(n) = i
      n += 1
      i += UTF8String.numBytesForFirstByte(bytes(i))
    }
    var k = n - 1
    var end = nb
    var acc = codePointAt(bytes, starts(k), math.min(end, nb))
    end = starts(k)
    k -= 1
    while (k >= 0) {
      acc = (acc * 31L + codePointAt(bytes, starts(k), end)) % P
      end = starts(k)
      k -= 1
    }
    acc
  }
}

/** Codegen form of [[graft.ext.Dedup.polyHash]] (`reversed = true` ⇒ of
  * `reverse(child)`): the HOF form allocates a sequence array, one
  * single-character UTF8String per character (`substr`) and an
  * interpreted lambda frame per fold step — the dominant per-row cost
  * under the winnowing / sketch / simhash / feature-hash families. This
  * is one tight loop over the string's bytes inside whole-stage codegen.
  * Null in → null out, like the HOF chain. A non-string child fails at
  * analysis (no implicit cast: the hash is defined on characters). */
case class PolyHash(child: Expression, reversed: Boolean = false)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes = Seq(StringType)
  override def dataType: DataType = LongType
  override def prettyName: String =
    if (reversed) "poly_hash_rev" else "poly_hash"

  override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String]
    if (reversed) PolyHashImpl.hashReversed(s) else PolyHashImpl.hash(s)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val fn = if (reversed) "hashReversed" else "hash"
      s"${ev.value} = graft.functions.expressions.PolyHashImpl.$fn($a);"
    })

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}
