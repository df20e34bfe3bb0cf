package graft.perfbench

import org.apache.spark.sql.Row

/** Result normalisation shared by every correctness check: a result is
  * compared as a multiset of rows, each value rendered the way the
  * DuckDB side renders it (see `check.py`), doubles to nine significant
  * digits so summation order cannot flip a comparison. */
object Rows {
  private val tsFmt = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")

  def value(v: Any): String = v match {
    case null => "null"
    case d: Double => num(d)
    case f: Float => num(f.toDouble)
    case n: java.lang.Number if n.isInstanceOf[java.math.BigDecimal] =>
      num(n.doubleValue)
    case n: scala.math.BigDecimal => num(n.toDouble)
    case n: java.lang.Number => num(n.doubleValue)
    case b: Boolean => b.toString
    case t: java.time.LocalDateTime => ts(t)
    case t: java.sql.Timestamp => ts(t.toLocalDateTime)
    case t: java.time.Instant => ts(java.time.LocalDateTime.ofInstant(t, java.time.ZoneOffset.UTC))
    case d: java.time.LocalDate => d.toString
    case d: java.sql.Date => d.toLocalDate.toString
    case s: String => quote(s)
    case a: Array[Byte] => a.map("%02x".format(_)).mkString("x", "", "")
    case s: scala.collection.Seq[_] => s.map(value).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => value(k) + ":" + value(x) }.sorted.mkString("{", ",", "}")
    case r: Row => r.toSeq.map(value).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def num(d: Double): String =
    if (d.isNaN) "nan"
    else if (d.isInfinite) (if (d > 0) "inf" else "-inf")
    else {
      val r = new java.math.BigDecimal(d).round(new java.math.MathContext(9)).stripTrailingZeros
      if (r.signum == 0) "0" else r.toPlainString
    }

  private def ts(t: java.time.LocalDateTime): String = {
    val base = t.format(tsFmt)
    val micros = t.getNano / 1000
    if (micros == 0) base else f"$base.$micros%06d"
  }

  private def quote(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  /** Order-free canonical form of a collected result. */
  def canonical(rows: Array[Row]): Vector[String] =
    rows.map(r => r.toSeq.map(value).mkString("[", ",", "]")).sorted.toVector

  /** First difference between two canonical results, if any. */
  def diff(a: Vector[String], b: Vector[String]): Option[String] =
    if (a == b) None
    else if (a.size != b.size) Some(s"${a.size} rows vs ${b.size} rows")
    else a.zip(b).collectFirst { case (x, y) if x != y => s"${x.take(160)} vs ${y.take(160)}" }
}
