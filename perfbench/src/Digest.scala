package perfbench

import java.nio.charset.StandardCharsets

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._

/** Order-independent digest of a result frame, normalised the way
  * tools/check_oracle.py compares a Spark dump with its DuckDB oracle:
  * columns sorted by name, floats (and decimals) to 6 significant digits
  * in Python's `%.6g` form, every other value as Python's `str()` would
  * print it. Each row becomes one string, hashed; the digest is the row
  * count and the sum of the 64-bit row hashes, so row order never
  * matters. perfbench/oracle.py computes the same digest from DuckDB.
  */
object Digest {

  /** Python's `format(v, '.6g')`, including `nan`, `inf` and `-0`. */
  def fmt6g(v: Double): String =
    if (v.isNaN) "nan"
    else if (v.isInfinite) (if (v > 0) "inf" else "-inf")
    else if (v == 0.0) (if (1.0 / v < 0) "-0" else "0")
    else {
      val bd = new java.math.BigDecimal(v)
        .round(new java.math.MathContext(6, java.math.RoundingMode.HALF_EVEN))
      val exp = bd.precision - bd.scale - 1
      if (exp < -4 || exp >= 6) {
        val digits = bd.unscaledValue.abs.toString.reverse.dropWhile(_ == '0').reverse
        val mant = if (digits.length > 1) digits.head + "." + digits.tail else digits
        val sign = if (bd.signum < 0) "-" else ""
        f"$sign${mant}e${if (exp < 0) "-" else "+"}${math.abs(exp)}%02d"
      } else {
        val plain = bd.setScale(math.max(0, 5 - exp), java.math.RoundingMode.UNNECESSARY)
          .toPlainString
        if (plain.contains('.')) plain.reverse.dropWhile(_ == '0').dropWhile(_ == '.').reverse
        else plain
      }
    }

  private val tsFmt = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")

  /** `str(datetime)` of a UTC microsecond timestamp. */
  def pyTimestamp(micros: Long): String = {
    val secs = Math.floorDiv(micros, 1000000L)
    val us = Math.floorMod(micros, 1000000L)
    val base = java.time.LocalDateTime.ofEpochSecond(secs, 0, java.time.ZoneOffset.UTC).format(tsFmt)
    if (us == 0) base else f"$base.$us%06d"
  }

  private def value(row: InternalRow, i: Int, dt: DataType): String =
    if (row.isNullAt(i)) "None"
    else dt match {
      case BooleanType => if (row.getBoolean(i)) "True" else "False"
      case ByteType => row.getByte(i).toString
      case ShortType => row.getShort(i).toString
      case IntegerType => row.getInt(i).toString
      case LongType => row.getLong(i).toString
      case FloatType => fmt6g(row.getFloat(i).toDouble)
      case DoubleType => fmt6g(row.getDouble(i))
      case d: DecimalType =>
        fmt6g(row.getDecimal(i, d.precision, d.scale).toJavaBigDecimal.doubleValue)
      case _: StringType => row.getUTF8String(i).toString
      case BinaryType => row.getBinary(i).map(b => f"${b & 0xff}%02x").mkString
      case DateType => java.time.LocalDate.ofEpochDay(row.getInt(i).toLong).toString
      case TimestampType | TimestampNTZType => pyTimestamp(row.getLong(i))
      case other => throw new IllegalArgumentException(s"digest: unsupported column type $other")
    }

  /** The canonical string of one row, columns in name order. */
  def rowString(row: InternalRow, order: Array[(Int, DataType)]): String = {
    val sb = new java.lang.StringBuilder
    var k = 0
    while (k < order.length) {
      if (k > 0) sb.append('\u001f')
      sb.append(value(row, order(k)._1, order(k)._2))
      k += 1
    }
    sb.toString
  }

  /** 64-bit FNV-1a of the string's UTF-8 bytes. */
  def rowHash(s: String): Long = {
    var h = 0xcbf29ce484222325L
    val b = s.getBytes(StandardCharsets.UTF_8)
    var i = 0
    while (i < b.length) {
      h = (h ^ (b(i) & 0xffL)) * 0x100000001b3L
      i += 1
    }
    h
  }

  def order(schema: StructType): Array[(Int, DataType)] =
    schema.fields.zipWithIndex.sortBy(_._1.name).map { case (f, i) => (i, f.dataType) }

  def render(count: Long, sum: Long): String =
    s"$count:${"%016x".format(sum)}"

  /** Run `df` through its compiled plan (`toRdd`: every row is produced
    * and consumed, no pruning by a count on top) and fold the rows into
    * a digest.
    */
  def ofFrame(df: DataFrame): String = {
    val ord = order(df.schema)
    val parts = df.queryExecution.toRdd.mapPartitions { it =>
      var n = 0L
      var s = 0L
      it.foreach { r => n += 1; s += rowHash(rowString(r, ord)) }
      Iterator((n, s))
    }.collect()
    render(parts.map(_._1).sum, parts.map(_._2).sum)
  }
}
