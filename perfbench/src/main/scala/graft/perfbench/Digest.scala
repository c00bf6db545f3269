package graft.perfbench

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.catalyst.util.{ArrayData, MapData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Order-insensitive content digest of a result, folded over the physical
  * plan's `InternalRow`s without converting them to `Row` objects.
  *
  * Each row hashes every column in order; the result digest is the row
  * count plus two independent 64-bit sums of the row hashes, so row order
  * (and partitioning) never changes it while a changed, missing or
  * duplicated row does. Floating-point values are rounded to 9 significant
  * digits (6 for `float`) before hashing, matching the relative tolerance
  * of the oracle comparison in `tools/compare.py`, so a reordered
  * floating-point sum does not read as a wrong answer. */
object Digest {

  final case class Value(rows: Long, sumA: Long, sumB: Long) {
    def +(o: Value): Value = Value(rows + o.rows, sumA + o.sumA, sumB + o.sumB)
    def hex: String = f"$rows%d:$sumA%016x:$sumB%016x"
  }
  val Empty: Value = Value(0, 0, 0)

  /** Folds the rows of one partition. */
  def partition(it: Iterator[InternalRow], schema: StructType): Value = {
    var acc = Empty
    val types = schema.fields.map(_.dataType)
    it.foreach { r =>
      val h = row(r, types)
      acc = Value(acc.rows + 1, acc.sumA + h, acc.sumB + mix(h ^ 0x5bd1e995L))
    }
    acc
  }

  def row(r: InternalRow, types: Array[DataType]): Long = {
    var h = 17L
    var i = 0
    while (i < types.length) {
      h = h * 0x9E3779B97F4A7C15L + (if (r.isNullAt(i)) 0x6e756c6cL else value(r.get(i, types(i)), types(i)))
      i += 1
    }
    mix(h)
  }

  private def value(v: Any, t: DataType): Long = (v, t) match {
    case (null, _) => 0x6e756c6cL
    case (d: Double, _) => double(d, 9)
    case (f: Float, _) => double(f.toDouble, 6)
    case (b: Boolean, _) => if (b) 1L else 2L
    case (n: Byte, _) => n.toLong
    case (n: Short, _) => n.toLong
    case (n: Int, _) => n.toLong
    case (n: Long, _) => n
    case (s: UTF8String, _) =>
      XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, 42L)
    case (b: Array[Byte], _) => java.util.Arrays.hashCode(b).toLong * 31 + b.length
    case (d: Decimal, _) => d.toJavaBigDecimal.stripTrailingZeros.hashCode.toLong
    case (a: ArrayData, ArrayType(et, _)) =>
      var h = 31L + a.numElements()
      var i = 0
      while (i < a.numElements()) {
        h = h * 0x9E3779B97F4A7C15L +
          (if (a.isNullAt(i)) 0x6e756c6cL else value(a.get(i, et), et))
        i += 1
      }
      mix(h)
    case (s: InternalRow, st: StructType) => row(s, st.fields.map(_.dataType))
    case (m: MapData, MapType(kt, vt, _)) =>
      mix(value(m.keyArray(), ArrayType(kt)) * 31 + value(m.valueArray(), ArrayType(vt)))
    case (other, _) => other.toString.hashCode.toLong
  }

  /** Round to `digits` significant digits, then hash the bits. */
  private def double(d: Double, digits: Int): Long =
    if (d.isNaN) 0x7ff8L
    else if (d == 0.0 || d.isInfinite) java.lang.Double.doubleToLongBits(d + 0.0)
    else {
      val scale = digits - 1 - math.floor(math.log10(math.abs(d))).toInt
      val rounded = new java.math.BigDecimal(d)
        .setScale(scale, java.math.RoundingMode.HALF_EVEN)
      rounded.unscaledValue.longValue * 31 + scale
    }

  /** MurmurHash3's 64-bit finalizer. */
  def mix(x0: Long): Long = {
    var x = x0
    x ^= x >>> 33
    x *= 0xff51afd7ed558ccdL
    x ^= x >>> 33
    x *= 0xc4ceb34fe1a85ec3L
    x ^ (x >>> 33)
  }
}
