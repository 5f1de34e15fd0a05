package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

/** Order-insensitive content hash of a result, computed the same way by
  * `oracle.py` over DuckDB's rows so the two engines can be compared:
  *
  *  - columns in name order;
  *  - every number (integer, decimal, float) as the bits of its nearest
  *    double, so `1.50` as a decimal and `1.5` as a double agree;
  *  - timestamps as epoch microseconds (UTC), dates as epoch days;
  *  - arrays element by element, structs by field name;
  *  - each row is hashed on its own, and the sorted row digests are hashed
  *    together, so the row order does not matter but duplicates do.
  */
object Canon {

  final case class Digest(rows: Long, hash: String)

  def digest(df: DataFrame): Digest = {
    val fields = df.schema.fields.sortBy(_.name)
    val idx = fields.map(f => df.schema.fieldIndex(f.name))
    val rowDigests = df.collect().map { r =>
      sha(fields.indices.map(i => value(r.get(idx(i)), fields(i).dataType)).mkString("\u0001"))
    }.sorted
    Digest(rowDigests.length, sha(rowDigests.mkString("\n")))
  }

  private def sha(s: String): String =
    MessageDigest.getInstance("SHA-256").digest(s.getBytes(UTF_8))
      .map(b => f"${b & 0xff}%02x").mkString

  private def num(d: Double): String = {
    val x = if (d == 0.0) 0.0 else if (d.isNaN) Double.NaN else d
    "n" + java.lang.Long.toHexString(java.lang.Double.doubleToLongBits(x))
  }

  private def value(v: Any, t: DataType): String = if (v == null) "N" else t match {
    case BooleanType => if (v.asInstanceOf[Boolean]) "T" else "F"
    case ByteType | ShortType | IntegerType | LongType =>
      num(v.asInstanceOf[java.lang.Number].longValue.toDouble)
    case FloatType => num(v.asInstanceOf[Float].toDouble)
    case DoubleType => num(v.asInstanceOf[Double])
    case _: DecimalType => num(v.asInstanceOf[java.math.BigDecimal].doubleValue)
    case StringType => "s" + v
    case TimestampType =>
      val ts = v.asInstanceOf[java.sql.Timestamp]
      "t" + (Math.floorDiv(ts.getTime, 1000L) * 1000000L + ts.getNanos / 1000)
    case TimestampNTZType =>
      val ldt = v.asInstanceOf[java.time.LocalDateTime]
      val i = ldt.toInstant(java.time.ZoneOffset.UTC)
      "t" + (i.getEpochSecond * 1000000L + i.getNano / 1000)
    case DateType => "d" + v.asInstanceOf[java.sql.Date].toLocalDate.toEpochDay
    case BinaryType => "b" + v.asInstanceOf[Array[Byte]].map(b => f"${b & 0xff}%02x").mkString
    case ArrayType(et, _) => v.asInstanceOf[scala.collection.Seq[Any]].map(value(_, et)).mkString("[", ",", "]")
    case st: StructType =>
      val r = v.asInstanceOf[Row]
      st.fields.zipWithIndex.sortBy(_._1.name)
        .map { case (f, i) => value(r.get(i), f.dataType) }.mkString("{", ",", "}")
    case other => throw new IllegalArgumentException(s"no canonical form for $other")
  }
}
