package perfbench

import java.math.{BigDecimal => JBigDecimal, BigInteger, MathContext, RoundingMode}
import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import java.time.{Instant, LocalDate, LocalDateTime, ZoneOffset}
import java.time.format.DateTimeFormatter

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Order-insensitive content fingerprint of a query result.
  *
  * The canonical form follows the repository's DuckDB compare
  * (scripts/check.py): columns are taken in name order, each column carries
  * its width-exact type family (an int32 result against an int64 oracle is a
  * mismatch), timestamps print as UTC `yyyy-MM-dd HH:mm:ss.ffffff`, and rows
  * compare as a multiset. A hash cannot apply check.py's 1e-9 relative
  * tolerance, so floating and decimal values are rounded to 10 significant
  * digits instead, from their exact binary value. Both the Spark result and
  * the oracle's answer (written by DuckDB, read back through Spark) pass
  * through this one function, so the two sides cannot canonicalise
  * differently.
  */
object Canon {

  final case class Fingerprint(columns: String, rows: Long, digest: String)

  private val Sig = new MathContext(10, RoundingMode.HALF_EVEN)
  private val TsFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS")
  private val Mod = BigInteger.ONE.shiftLeft(128)

  def typeFamily(t: DataType): String = t match {
    case ByteType => "int8"
    case ShortType => "int16"
    case IntegerType => "int32"
    case LongType => "int64"
    case FloatType => "float32"
    case DoubleType => "float64"
    case _: DecimalType => "decimal"
    case StringType => "string"
    case BooleanType => "bool"
    case TimestampType | TimestampNTZType => "timestamp"
    case DateType => "date"
    case ArrayType(e, _) => s"array<${typeFamily(e)}>"
    case other => other.simpleString
  }

  private def number(d: JBigDecimal): String =
    if (d.signum == 0) "0" else d.round(Sig).stripTrailingZeros.toPlainString

  private def floating(x: Double): String =
    if (x.isNaN) "NaN"
    else if (x.isInfinite) (if (x > 0) "Infinity" else "-Infinity")
    else number(new JBigDecimal(x))

  /** One cell's canonical text; strings are length-prefixed so that no
    * string content can be confused with a separator or the null marker. */
  def cell(v: Any): String = v match {
    case null => "\\N"
    case s: String => s"${s.length}:$s"
    case b: Boolean => b.toString
    case x: Double => floating(x)
    case x: Float => floating(x.toDouble)
    case x: JBigDecimal => number(x)
    case x: scala.math.BigDecimal => number(x.bigDecimal)
    case x @ (_: Byte | _: Short | _: Int | _: Long | _: BigInteger) => x.toString
    case t: java.sql.Timestamp => TsFmt.format(t.toInstant.atOffset(ZoneOffset.UTC))
    case t: Instant => TsFmt.format(t.atOffset(ZoneOffset.UTC))
    case t: LocalDateTime => TsFmt.format(t)
    case d: java.sql.Date => d.toLocalDate.toString
    case d: LocalDate => d.toString
    case r: Row => r.toSeq.map(cell).mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => s"${cell(k)}=${cell(x)}" }.sorted
        .mkString("<", ",", ">")
    case a: Array[Byte] => a.map(b => f"$b%02x").mkString("0x", "", "")
    case xs: Iterable[_] => xs.map(cell).mkString("[", ",", "]")
    case other => other.toString
  }

  def fingerprint(schema: StructType, rows: Array[Row]): Fingerprint = {
    val order = schema.fields.indices.sortBy(i => schema.fields(i).name)
    val columns = order.map { i =>
      s"${schema.fields(i).name}:${typeFamily(schema.fields(i).dataType)}"
    }.mkString(",")
    val md = MessageDigest.getInstance("SHA-256")
    var sum = BigInteger.ZERO
    rows.foreach { r =>
      val text = order.map(i => cell(r.get(i))).mkString("\u001f")
      val h = md.digest(text.getBytes(UTF_8))
      sum = sum.add(new BigInteger(1, java.util.Arrays.copyOf(h, 16)))
    }
    Fingerprint(columns, rows.length.toLong, sum.mod(Mod).toString(16))
  }

  /** Why `actual` differs from `expected`, or None when they agree. */
  def mismatch(expected: Fingerprint, actual: Fingerprint): Option[String] =
    if (expected.columns != actual.columns)
      Some(s"columns differ: oracle=[${expected.columns}] spark=[${actual.columns}]")
    else if (expected.rows != actual.rows)
      Some(s"rows differ: oracle=${expected.rows} spark=${actual.rows}")
    else if (expected.digest != actual.digest)
      Some(s"content differs over ${actual.rows} rows")
    else None
}
