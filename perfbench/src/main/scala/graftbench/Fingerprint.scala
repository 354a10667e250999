package graftbench

import java.math.{MathContext, RoundingMode}
import scala.util.hashing.MurmurHash3
import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.types.StructType

/** An order-insensitive fingerprint of a result: its schema, its row
  * count and two wrapping sums of per-row 32-bit hashes over a canonical
  * text form of each row.
  *
  * Canonical form (what makes one result read the same on every run):
  *  - row order does not matter (sums commute);
  *  - doubles keep [[SigDigits]] significant digits, so a last-bit
  *    difference from a different summation order does not show;
  *    floats keep 6; -0.0 reads as 0; NaN and the infinities get names;
  *  - decimals drop trailing zeros; map entries are sorted;
  *  - timestamps print as UTC instants or local date-times, never in the
  *    JVM zone.
  */
object Fingerprint {
  val SigDigits = 9

  final case class Fp(rows: Long, h1: Long, h2: Long) {
    def +(o: Fp): Fp = Fp(rows + o.rows, h1 + o.h1, h2 + o.h2)
  }
  val Zero: Fp = Fp(0L, 0L, 0L)

  private def roundSig(x: java.math.BigDecimal, digits: Int): String =
    x.round(new MathContext(digits, RoundingMode.HALF_EVEN))
      .stripTrailingZeros.toString

  def canonDouble(d: Double, digits: Int = SigDigits): String =
    if (d.isNaN) "NaN"
    else if (d.isPosInfinity) "Inf"
    else if (d.isNegInfinity) "-Inf"
    else if (d == 0.0) "0"
    else roundSig(new java.math.BigDecimal(d), digits)

  def canon(v: Any): String = v match {
    case null => "∅"
    case d: Double => canonDouble(d)
    case f: Float => canonDouble(f.toDouble, 6)
    case b: java.math.BigDecimal =>
      if (b.signum == 0) "0" else b.stripTrailingZeros.toPlainString
    case b: BigDecimal => canon(b.bigDecimal)
    case s: String => "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    case t: java.sql.Timestamp => t.toInstant.toString
    case d: java.sql.Date => d.toLocalDate.toString
    case a: Array[Byte] => a.map(b => f"${b & 0xff}%02x").mkString("0x", "", "")
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }.sorted
        .mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case a: Array[_] => canon(a.toSeq)
    case other => other.toString // integers, booleans, java.time values
  }

  def canonRow(r: Row): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < r.length) {
      if (i > 0) sb.append('\u0001')
      sb.append(canon(r.get(i)))
      i += 1
    }
    sb.toString
  }

  def ofRows(rows: Iterator[Row]): Fp = {
    var n, s1, s2 = 0L
    rows.foreach { r =>
      val c = canonRow(r)
      n += 1
      s1 += MurmurHash3.stringHash(c, 0x5eed) & 0xffffffffL
      s2 += MurmurHash3.stringHash(c, 0x0ddba11) & 0xffffffffL
    }
    Fp(n, s1, s2)
  }

  def schemaText(s: StructType): String =
    s.fields.map(f => s"${f.name}:${f.dataType.simpleString}").mkString(",")

  def render(schema: StructType, fp: Fp): String =
    f"${fp.rows}%d:${MurmurHash3.stringHash(schemaText(schema))}%08x:" +
      f"${fp.h1}%016x${fp.h2}%016x"

  /** A cheap exact fingerprint of a stored table (no canonical form:
    * both sides of a comparison hold the same typed values): rows and two
    * wrapping sums of 31-bit row hashes, over columns in name order.
    */
  def table(df: DataFrame): String = {
    import org.apache.spark.sql.functions._
    val cols = df.columns.toSeq.sorted.map(col)
    val r = df.agg(count(lit(1)),
      coalesce(sum(pmod(xxhash64(cols: _*), lit(2147483647L))), lit(0L)),
      coalesce(sum(pmod(hash(cols: _*).cast("long"), lit(2147483647L))),
        lit(0L))).head()
    f"${r.getLong(0)}%d:${r.getLong(1)}%016x${r.getLong(2)}%016x"
  }

  /** Executes `df` in full (every column of every row is read into its
    * canonical text) as ONE SQL execution and returns the rendered
    * fingerprint. This is the benchmark's sink: it does the work graft's
    * `noop` sink does, plus the check.
    */
  def of(df: DataFrame): String = {
    val enc = Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong,
      Encoders.scalaLong)
    val parts = df.mapPartitions { it =>
      val fp = ofRows(it)
      Iterator((fp.rows, fp.h1, fp.h2))
    }(enc).collect()
    render(df.schema, parts.foldLeft(Zero) { case (acc, (n, a, b)) =>
      acc + Fp(n, a, b) })
  }
}
