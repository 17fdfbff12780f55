package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Order-sensitive result digest in the canonical form of
  * `tools/check.py`: columns sorted by name, every cell type-faithful
  * (int and float never coerced, -0.0 distinct from 0.0, NaN equal to
  * NaN), and the column types as DuckDB reads them back from the
  * parquet Spark would write. `oracle.py` computes the same encoding
  * over the DuckDB oracle result, so the two digests are equal exactly
  * when check.py would pass the query. */
object Digest {

  /** DuckDB's read-back type of a Spark column, with check.py's
    * collapse of every integer width up to 64 bits to INT64. */
  def duckType(dt: DataType): String = dt match {
    case ByteType | ShortType | IntegerType | LongType => "INT64"
    case FloatType => "FLOAT"
    case DoubleType => "DOUBLE"
    case StringType => "VARCHAR"
    case BooleanType => "BOOLEAN"
    case DateType => "DATE"
    case TimestampType => "TIMESTAMP WITH TIME ZONE"
    case TimestampNTZType => "TIMESTAMP"
    case BinaryType => "BLOB"
    case d: DecimalType => s"DECIMAL(${d.precision},${d.scale})"
    case ArrayType(e, _) => duckType(e) + "[]"
    case other => other.simpleString
  }

  private def micros(epochSecond: Long, nano: Int): Long =
    epochSecond * 1000000L + nano / 1000

  def cell(v: Any): String = v match {
    case null => "N"
    case b: Boolean => if (b) "b1" else "b0"
    case b: Byte => "i" + b
    case s: Short => "i" + s
    case i: Int => "i" + i
    case l: Long => "i" + l
    case f: Float => float(f.toDouble)
    case d: Double => float(d)
    case s: String => "s" + s.getBytes(UTF_8).length + ":" + s
    case d: java.sql.Date => "d" + d.toLocalDate.toEpochDay
    case d: java.time.LocalDate => "d" + d.toEpochDay
    case t: java.sql.Timestamp =>
      val i = t.toInstant
      "t" + micros(i.getEpochSecond, i.getNano)
    case i: java.time.Instant => "t" + micros(i.getEpochSecond, i.getNano)
    case t: java.time.LocalDateTime =>
      val i = t.toInstant(java.time.ZoneOffset.UTC)
      "t" + micros(i.getEpochSecond, i.getNano)
    case d: java.math.BigDecimal => "m" + d.toPlainString
    case d: scala.math.BigDecimal => "m" + d.bigDecimal.toPlainString
    case r: Row => r.toSeq.map(cell).mkString("r(", ",", ")")
    case s: scala.collection.Seq[_] => s.map(cell).mkString("a[", ",", "]")
    case other => "x" + other.toString
  }

  private def float(d: Double): String =
    if (d.isNaN) "fnan"
    else "f" + java.lang.Long.toHexString(java.lang.Double.doubleToRawLongBits(d))

  private def hex(bytes: Array[Byte]): String = bytes.map("%02x".format(_)).mkString

  /** Digest of an ordered result: (row count, sha256 hex). */
  def ordered(schema: StructType, rows: Array[Row]): (Long, String) = {
    val perm = schema.fields.indices.sortBy(i => schema.fields(i).name)
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.update(perm.map(i => schema.fields(i).name + ":" +
      duckType(schema.fields(i).dataType)).mkString("", ",", "\n").getBytes(UTF_8))
    rows.foreach { r =>
      md.update(perm.map(i => cell(r.get(i))).mkString("", "|", "\n").getBytes(UTF_8))
    }
    (rows.length.toLong, hex(md.digest()))
  }
}
