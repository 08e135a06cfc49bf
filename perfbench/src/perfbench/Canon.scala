package perfbench

import java.math.{BigDecimal => JBigDecimal, RoundingMode}

import org.apache.spark.sql.Row

/** Canonical text form of a query answer, shared with `oracle.py`.
  *
  * Both sides reduce every cell to the same string: numbers rounded
  * half-even at 9 decimals and printed plainly (so a Spark long and a
  * DuckDB HUGEINT, or two doubles summed in different orders, meet),
  * booleans as 1/0, lists element-wise. Columns are sorted by name and
  * rows by value, because neither engine promises an order. Any change
  * here must be mirrored in `oracle.py`'s `canon`.
  */
object Canon {

  final case class Answer(cols: Seq[String], rows: Seq[String])

  private val Sep = "\u0001"

  def number(v: JBigDecimal): String = {
    val r = v.setScale(9, RoundingMode.HALF_EVEN)
    if (r.signum == 0) "0" else r.stripTrailingZeros.toPlainString
  }

  def double(d: Double): String =
    if (d.isNaN) "NaN"
    else if (d.isPosInfinity) "Inf"
    else if (d.isNegInfinity) "-Inf"
    else number(new JBigDecimal(d))

  def cell(v: Any): String = v match {
    case null => "NULL"
    case b: Boolean => if (b) "1" else "0"
    case x: Byte => x.toString
    case x: Short => x.toString
    case x: Int => x.toString
    case x: Long => x.toString
    case x: Float => double(x.toDouble)
    case x: Double => double(x)
    case x: JBigDecimal => number(x)
    case x: BigDecimal => number(x.bigDecimal)
    case x: String => x
    case x: Array[Byte] => x.map(b => f"$b%02x").mkString
    case x: java.sql.Date => x.toLocalDate.toString
    case x: java.time.LocalDate => x.toString
    case x: java.sql.Timestamp => timestamp(x.toLocalDateTime)
    case x: java.time.LocalDateTime => timestamp(x)
    case x: java.time.Instant => timestamp(java.time.LocalDateTime.ofInstant(x, java.time.ZoneOffset.UTC))
    case x: Row => x.schema.fieldNames.zipWithIndex
      .map { case (n, i) => s"$n:${cell(x.get(i))}" }.mkString("{", ",", "}")
    case x: scala.collection.Map[_, _] =>
      x.toSeq.map { case (k, e) => s"${cell(k)}:${cell(e)}" }.sorted.mkString("{", ",", "}")
    case x: scala.collection.Seq[_] => x.map(cell).mkString("[", ",", "]")
    case x => x.toString
  }

  /** Python's `datetime.isoformat(sep=' ')`: microseconds only when non-zero. */
  private def timestamp(t: java.time.LocalDateTime): String = {
    val base = f"${t.toLocalDate} ${t.getHour}%02d:${t.getMinute}%02d:${t.getSecond}%02d"
    val micros = t.getNano / 1000
    if (micros == 0) base else f"$base.$micros%06d"
  }

  def answer(cols: Seq[String], rows: Array[Row]): Answer = {
    val order = cols.indices.sortBy(cols(_))
    Answer(order.map(cols(_)),
      rows.map(r => order.map(i => cell(r.get(i))).mkString(Sep)).toSeq.sorted)
  }

  def fromJson(path: String): Answer = {
    val node = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new java.io.File(path))
    def strings(n: com.fasterxml.jackson.databind.JsonNode): Seq[String] = {
      val it = n.elements(); val b = Seq.newBuilder[String]
      while (it.hasNext) b += it.next().asText(); b.result()
    }
    val rows = Seq.newBuilder[String]
    val it = node.get("rows").elements()
    while (it.hasNext) rows += strings(it.next()).mkString(Sep)
    Answer(strings(node.get("cols")), rows.result().sorted)
  }

  /** None when equal; otherwise a one-line description of the first difference. */
  def diff(got: Answer, want: Answer): Option[String] =
    if (got.cols != want.cols) Some(s"columns ${got.cols} != ${want.cols}")
    else if (got.rows != want.rows) {
      val i = got.rows.zipAll(want.rows, null, null).indexWhere { case (g, w) => g != w }
      def show(r: String) = Option(r).map(_.replace(Sep, " | ").take(200)).getOrElse("<none>")
      Some(s"${got.rows.size} rows vs ${want.rows.size} expected; first difference at " +
        s"sorted row $i: got [${show(got.rows.lift(i).orNull)}] want [${show(want.rows.lift(i).orNull)}]")
    } else None
}
