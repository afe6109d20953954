package graphbench

import org.apache.spark.sql.Row

/** Canonical JSON form of a collected result, compared against the DuckDB
  * oracle by `oracle.py`. Columns are ordered by name and rows sorted by
  * their JSON text, so two executions that return the same multiset of rows
  * serialize identically. Doubles keep 12 significant digits: far below the
  * 1e-9 relative tolerance of the comparison, enough to fold away
  * summation-order noise between executions. */
object ResultJson {
  def apply(cols: Array[String], rows: Array[Row]): String = {
    val order = cols.indices.sortBy(cols(_)).toArray
    val sb = new StringBuilder
    sb.append("{\"cols\":[")
    sb.append(order.map(i => str(cols(i))).mkString(","))
    sb.append("],\"rows\":[")
    sb.append(rows.map(r => order.map(i => value(r.get(i))).mkString("[", ",", "]")).sorted.mkString(","))
    sb.append("]}")
    sb.toString
  }

  private def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }

  private def num(d: Double): String =
    if (d.isNaN) "\"NaN\"" else if (d.isInfinite) (if (d > 0) "\"Infinity\"" else "\"-Infinity\"")
    else if (d == math.rint(d) && math.abs(d) < 1e15) java.lang.Long.toString(d.toLong) + ".0"
    else new java.math.BigDecimal(d).round(new java.math.MathContext(12)).stripTrailingZeros().toString
      .replace("E+", "e").replace("E", "e")

  private def micros(i: java.time.Instant): Long = i.getEpochSecond * 1000000L + i.getNano / 1000

  def value(v: Any): String = v match {
    case null => "null"
    case b: Boolean => b.toString
    case b: Byte => b.toString
    case s: Short => s.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case f: Float => num(f.toDouble)
    case d: Double => num(d)
    case d: java.math.BigDecimal => num(d.doubleValue)
    case d: scala.math.BigDecimal => num(d.toDouble)
    case s: String => str(s)
    case t: java.sql.Timestamp => micros(t.toInstant).toString
    case t: java.time.Instant => micros(t).toString
    case t: java.time.LocalDateTime => micros(t.toInstant(java.time.ZoneOffset.UTC)).toString
    case d: java.sql.Date => str(d.toLocalDate.toString)
    case d: java.time.LocalDate => str(d.toString)
    case b: Array[Byte] => str(b.map(x => f"$x%02x").mkString)
    case r: Row =>
      val names = Option(r.schema).map(_.fieldNames).getOrElse(r.toSeq.indices.map(i => s"_$i").toArray)
      names.indices.map(i => str(names(i)) + ":" + value(r.get(i))).mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => (k match { case s: String => s; case o => value(o) }, value(x)) }
        .sortBy(_._1).map { case (k, x) => str(k) + ":" + x }.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(value).mkString("[", ",", "]")
    case a: Array[_] => a.map(value).mkString("[", ",", "]")
    case o => str(o.toString)
  }
}
