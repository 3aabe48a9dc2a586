package perfbench

import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

/** Order-independent digest of a query result, computed from every value
  * of every output column. perfbench/digest.py computes the same digest
  * from a DuckDB result, so an engine result and its oracle compare by
  * digest alone.
  *
  * The normalisation follows tools/compare_oracle.py: columns sorted by
  * name, rows compared as a multiset. Each value is encoded to bytes
  * (integers in decimal, floating point and decimals as IEEE-754 double
  * bits with -0.0 folded into 0.0, timestamps as epoch
  * microseconds, dates as epoch days, nested values recursively); a row
  * hashes to the first 8 bytes of the MD5 of its length-prefixed fields,
  * and the digest is the row count, the 64-bit sum of the row hashes and
  * a hash of the sorted column names. */
object Digest {

  def ofRows(schema: StructType, rows: Array[Row]): String = {
    val order = schema.fieldNames.zipWithIndex.sortBy(_._1)
    val md = MessageDigest.getInstance("MD5")
    var sum = 0L
    var i = 0
    while (i < rows.length) {
      val row = rows(i)
      val buf = new java.io.ByteArrayOutputStream(64)
      order.foreach { case (_, j) => field(buf, encode(schema(j).dataType, row.get(j))) }
      md.reset()
      sum += ByteBuffer.wrap(md.digest(buf.toByteArray)).getLong
      i += 1
    }
    md.reset()
    val names = md.digest(order.map(_._1).mkString(",").getBytes(UTF_8))
    f"${rows.length}%d:$sum%016x:${ByteBuffer.wrap(names).getInt}%08x"
  }

  /** Collects `df` (every column, every row) and digests it. */
  def of(df: DataFrame): String = ofRows(df.schema, df.collect())

  private def field(out: java.io.ByteArrayOutputStream, b: Array[Byte]): Unit = {
    out.write(ByteBuffer.allocate(4).putInt(b.length).array())
    out.write(b)
  }

  private def text(s: String): Array[Byte] = s.getBytes(UTF_8)

  private def encode(dt: DataType, v: Any): Array[Byte] =
    if (v == null) Array[Byte](0)
    else dt match {
      case BooleanType => text(if (v.asInstanceOf[Boolean]) "t" else "f")
      case ByteType | ShortType | IntegerType | LongType => text(v.toString)
      case FloatType => dbl(v.asInstanceOf[Float].toDouble)
      case DoubleType => dbl(v.asInstanceOf[Double])
      // compare_oracle.py reads both sides through pandas, where a decimal
      // becomes a float64: decimals digest as the double they round to
      case _: DecimalType => dbl(v.asInstanceOf[java.math.BigDecimal].doubleValue)
      case StringType => text(v.toString)
      case BinaryType => text(v.asInstanceOf[Array[Byte]].map("%02x".format(_)).mkString)
      case DateType => v match {
        case d: java.sql.Date => text(d.toLocalDate.toEpochDay.toString)
        case d: java.time.LocalDate => text(d.toEpochDay.toString)
      }
      case TimestampType | TimestampNTZType => text(micros(v).toString)
      case ArrayType(et, _) =>
        nested('[', v.asInstanceOf[scala.collection.Seq[Any]].map(encode(et, _)).toSeq, ']')
      case st: StructType =>
        val r = v.asInstanceOf[Row]
        nested('{', st.fields.indices.map(i => encode(st(i).dataType, r.get(i))), '}')
      case MapType(kt, vt, _) =>
        val entries = v.asInstanceOf[scala.collection.Map[Any, Any]].toSeq
          .map { case (k, x) => (encode(kt, k), encode(vt, x)) }
          .sortWith((a, b) => java.util.Arrays.compareUnsigned(a._1, b._1) < 0)
        nested('<', entries.flatMap { case (k, x) => Seq(k, x) }, '>')
      case other => throw new IllegalArgumentException(s"no digest encoding for $other")
    }

  private def nested(open: Char, parts: Seq[Array[Byte]], close: Char): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    out.write(open.toInt)
    parts.foreach(field(out, _))
    out.write(close.toInt)
    out.toByteArray
  }

  private def dbl(d: Double): Array[Byte] = {
    val x = if (d == 0.0) 0.0 else d // folds -0.0
    val bits = if (x.isNaN) 0x7ff8000000000000L else java.lang.Double.doubleToRawLongBits(x)
    text(f"$bits%016x")
  }

  private def micros(v: Any): Long = v match {
    case t: java.sql.Timestamp =>
      Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000
    case i: java.time.Instant =>
      i.getEpochSecond * 1000000L + i.getNano / 1000
    case l: java.time.LocalDateTime =>
      val i = l.toInstant(java.time.ZoneOffset.UTC)
      i.getEpochSecond * 1000000L + i.getNano / 1000
  }
}
