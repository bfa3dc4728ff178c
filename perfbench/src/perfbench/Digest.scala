package perfbench

import org.apache.spark.sql.perfbench.Internals
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.catalyst.util.{ArrayData, MapData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Order-sensitive digest of a query result, computed while the result is
  * produced in full: every output column of every row is read, in the
  * final order.
  *
  * A result r_1..r_n digests to H = Σ h(r_i)·P^(n-i) mod 2^64. Each
  * partition folds its own rows to (n, H); partitions combine left to
  * right as (n_a + n_b, H_a·P^(n_b) + H_b), so the digest does not depend
  * on where partition boundaries fall. Values are hashed exactly — the
  * oracle compare in tools/check.py allows no float tolerance either —
  * after folding -0.0 into 0.0 and every NaN into one NaN, the only
  * normalisation that compare applies.
  */
object Digest {

  final case class Result(rows: Long, hash: Long, schema: String) {
    def hex: String = f"$hash%016x"
  }

  private val P = 0x9E3779B97F4A7C15L
  private val NullHash = 0x5bd1e9955bd1e995L

  private def mix(h: Long, x: Long): Long = {
    var z = (h ^ x) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 31)) * 0x94D049BB133111EBL
    z ^ (z >>> 29)
  }

  private def powP(n: Long): Long = {
    var r = 1L; var b = P; var e = n
    while (e > 0) { if ((e & 1) == 1) r *= b; b *= b; e >>= 1 }
    r
  }

  private def hashBytes(a: Array[Byte]): Long =
    XXH64.hashUnsafeBytes(a, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET,
      a.length, 42L)

  private def hashString(s: UTF8String): Long =
    XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes(), 42L)

  private def hashDouble(d: Double): Long =
    if (d.isNaN) 0x7ff8000000000000L
    else if (d == 0.0) 0L
    else java.lang.Double.doubleToLongBits(d)

  /** Hash of field `i` of type `dt` in `get` (a row or an array). */
  private def field(isNull: Int => Boolean, get: (Int, DataType) => Any,
      i: Int, dt: DataType): Long =
    if (isNull(i)) NullHash
    else dt match {
      case BooleanType => if (get(i, dt).asInstanceOf[Boolean]) 1L else 2L
      case ByteType | ShortType | IntegerType | DateType | LongType |
          TimestampType | TimestampNTZType | _: YearMonthIntervalType |
          _: DayTimeIntervalType =>
        get(i, dt).asInstanceOf[Number].longValue()
      case FloatType => hashDouble(get(i, dt).asInstanceOf[Float].toDouble)
      case DoubleType => hashDouble(get(i, dt).asInstanceOf[Double])
      case _: StringType => hashString(get(i, dt).asInstanceOf[UTF8String])
      case BinaryType => hashBytes(get(i, dt).asInstanceOf[Array[Byte]])
      case _: DecimalType =>
        val v = get(i, dt).asInstanceOf[org.apache.spark.sql.types.Decimal]
        hashString(UTF8String.fromString(v.toJavaBigDecimal.toPlainString))
      case st: StructType =>
        row(get(i, dt).asInstanceOf[InternalRow], st)
      case ArrayType(et, _) => array(get(i, dt).asInstanceOf[ArrayData], et)
      case MapType(kt, vt, _) =>
        val m = get(i, dt).asInstanceOf[MapData]
        mix(array(m.keyArray(), kt), array(m.valueArray(), vt))
      case _ => hashString(UTF8String.fromString(get(i, dt).toString))
    }

  private def array(a: ArrayData, et: DataType): Long = {
    var h = a.numElements().toLong
    var i = 0
    while (i < a.numElements()) {
      h = mix(h, field(a.isNullAt, (j, t) => a.get(j, t), i, et)); i += 1
    }
    h
  }

  private def row(r: InternalRow, st: StructType): Long = {
    var h = st.length.toLong
    var i = 0
    while (i < st.length) {
      h = mix(h, field(r.isNullAt, (j, t) => r.get(j, t), i, st(i).dataType))
      i += 1
    }
    h
  }

  /** (rows, H) of one partition. */
  private def fold(st: StructType)(it: Iterator[InternalRow]): (Long, Long) = {
    var n = 0L; var h = 0L
    while (it.hasNext) { h = h * P + row(it.next(), st); n += 1 }
    (n, h)
  }

  def combine(parts: Seq[(Long, Long)]): (Long, Long) =
    parts.foldLeft((0L, 0L)) { case ((n, h), (pn, ph)) =>
      (n + pn, h * powP(pn) + ph) }

  /** Execute `df` and digest its full, ordered output. */
  def of(df: DataFrame): Result = {
    val st = df.schema
    val (n, h) = combine(Internals.foldPartitions(df)(fold(st)).toSeq)
    Result(n, h, st.simpleString)
  }
}
