package e2ebench

import org.apache.spark.sql.Row

/** Minimal JSON writer. Result cells are encoded so that the Python side,
  * after `json.loads`, holds the same values pyarrow would hand it for the
  * same result written as parquet: timestamps become their `str(datetime)`
  * text, doubles keep every bit (Java's shortest round-trip form). */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  private def num(d: Double): String =
    if (d.isNaN) "\"NaN\"" else if (d.isPosInfinity) "\"inf\"" else if (d.isNegInfinity) "\"-inf\""
    else d.toString

  private def micros(nanos: Int): String =
    if (nanos / 1000 == 0) "" else f".${nanos / 1000}%06d"

  /** Any JVM value: collected cells, and the benchmark's own records. */
  def value(v: Any): String = v match {
    case null => "null"
    case b: Boolean => b.toString
    case d: Double => num(d)
    case f: Float => num(f.toDouble)
    case n: Byte => n.toString
    case n: Short => n.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case d: java.math.BigDecimal => str(d.toPlainString)
    case s: String => str(s)
    case t: java.time.LocalDateTime =>
      str(f"${t.toLocalDate} ${t.getHour}%02d:${t.getMinute}%02d:${t.getSecond}%02d${micros(t.getNano)}")
    case t: java.sql.Timestamp => value(t.toInstant)
    case t: java.time.Instant =>
      value(java.time.LocalDateTime.ofInstant(t, java.time.ZoneOffset.UTC)).dropRight(1) + "+00:00\""
    case d: java.sql.Date => str(d.toLocalDate.toString)
    case d: java.time.LocalDate => str(d.toString)
    case r: Row =>
      r.schema.fields.indices.map(i => str(r.schema.fields(i).name) + ":" + value(r.get(i)))
        .mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + value(x) }.mkString("{", ",", "}")
    case s: scala.collection.Iterable[_] => s.map(value).mkString("[", ",", "]")
    case a: Array[_] => a.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def obj(fields: (String, Any)*): String =
    fields.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")
}
