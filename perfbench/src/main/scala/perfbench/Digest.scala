package perfbench

import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Order-independent fingerprint of a query result, compared against the
  * DuckDB oracle's fingerprint (perfbench/oracle/regen.py computes the same
  * encoding from Arrow). The rule is strict, as in scripts/check.py:
  * columns are compared by sorted name, types must agree (all integer
  * widths count as one type), and values must be identical — doubles
  * bit for bit. Each row is encoded canonically, hashed with MD5, and
  * the first 8 bytes of every row hash are summed modulo 2^64, so the
  * fingerprint is a multiset hash that needs no sort. */
object Digest {
  final case class Result(types: String, rows: Long, sum: String)

  def typeName(t: DataType): String = t match {
    case ByteType | ShortType | IntegerType | LongType => "int"
    case DoubleType => "double"
    case FloatType => "float"
    case StringType => "string"
    case BooleanType => "bool"
    case TimestampType | TimestampNTZType => "timestamp"
    case DateType => "date"
    case BinaryType => "binary"
    case _: DecimalType => "decimal"
    case ArrayType(e, _) => s"list<${typeName(e)}>"
    case MapType(k, v, _) => s"map<${typeName(k)},${typeName(v)}>"
    case s: StructType =>
      s.fields.map(f => s"${f.name}:${typeName(f.dataType)}")
        .mkString("struct<", ",", ">")
    case other => other.simpleString
  }

  private def bits(d: Double): String =
    f"${java.lang.Double.doubleToLongBits(d)}%016x"

  private def micros(ts: java.sql.Timestamp): Long =
    Math.floorDiv(ts.getTime, 1000L) * 1000000L + ts.getNanos / 1000L

  def encode(v: Any): String = v match {
    case null => "N"
    case b: java.lang.Byte => "i" + b
    case s: java.lang.Short => "i" + s
    case i: java.lang.Integer => "i" + i
    case l: java.lang.Long => "i" + l
    case d: java.lang.Double => "d" + bits(d)
    case f: java.lang.Float => "d" + bits(f.toDouble)
    case s: String => "s" + s
    case b: java.lang.Boolean => if (b) "b1" else "b0"
    case ts: java.sql.Timestamp => "t" + micros(ts)
    case i: java.time.Instant =>
      "t" + (Math.multiplyExact(i.getEpochSecond, 1000000L) + i.getNano / 1000)
    case l: java.time.LocalDateTime =>
      encode(l.toInstant(java.time.ZoneOffset.UTC))
    case d: java.sql.Date => "D" + d.toLocalDate.toEpochDay
    case d: java.time.LocalDate => "D" + d.toEpochDay
    case d: java.math.BigDecimal => "x" + d.toPlainString
    case d: scala.math.BigDecimal => "x" + d.bigDecimal.toPlainString
    case b: Array[Byte] => "y" + b.map(x => f"${x & 0xff}%02x").mkString
    case r: Row => r.toSeq.map(encode).mkString("{", "\u0003", "}")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => encode(k) + "=" + encode(x) }.sorted
        .mkString("m{", "\u0003", "}")
    case xs: Iterable[_] => xs.map(encode).mkString("[", "\u0002", "]")
    case other => "?" + other.toString
  }

  def of(schema: StructType, rows: Array[Row]): Result = {
    val order = schema.fields.zipWithIndex.sortBy(_._1.name)
    val types = order.map { case (f, _) => s"${f.name}:${typeName(f.dataType)}" }
      .mkString(",")
    val md = MessageDigest.getInstance("MD5")
    var sum = 0L
    rows.foreach { r =>
      val line = order.map { case (_, i) => encode(r.get(i)) }
        .mkString("\u0001")
      sum += ByteBuffer.wrap(
        md.digest(line.getBytes(StandardCharsets.UTF_8))).getLong
    }
    Result(types, rows.length.toLong, f"$sum%016x")
  }
}
