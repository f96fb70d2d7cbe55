package perfbench

import org.apache.spark.sql.Row

/** Result checking and the summary statistics every workload reports. */
object Check {
  /** Canonical cell: timestamps as epoch micros, integral numbers as
    * Long, other numbers as Double. */
  def canon(v: Any): Any = v match {
    case t: java.sql.Timestamp =>
      Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000
    case t: java.time.Instant => t.getEpochSecond * 1000000L + t.getNano / 1000
    case i: Int => i.toLong
    case s: Short => s.toLong
    case d: Double => d
    case f: Float => f.toDouble
    case other => other
  }

  def rows(got: Array[Row]): Seq[Seq[Any]] = got.toSeq.map(_.toSeq.map(canon))

  private def same(a: Any, b: Any): Boolean = (a, b) match {
    case (x: Double, y: Double) =>
      x == y || math.abs(x - y) <= 1e-9 * math.max(1.0, math.max(math.abs(x), math.abs(y)))
    case (x: Long, y: Double) => same(x.toDouble, y)
    case (x: Double, y: Long) => same(x, y.toDouble)
    case _ => a == b
  }

  /** None when `got` equals `want`, else a one-line reason. */
  def diff(got: Seq[Seq[Any]], want: Seq[Seq[Any]]): Option[String] =
    if (got.size != want.size) Some(s"${got.size} rows, expected ${want.size}")
    else got.zip(want).zipWithIndex.collectFirst {
      case ((g, w), k) if g.size != w.size || !g.zip(w).forall { case (x, y) => same(x, y) } =>
        s"row $k is ${g.mkString("(", ", ", ")")}, expected ${w.mkString("(", ", ", ")")}"
    }

  /** Nearest-rank quantile of an ascending array. */
  def quantile(sorted: Array[Double], q: Double): Double =
    if (sorted.isEmpty) Double.NaN
    else sorted(math.min(sorted.length - 1, math.max(0, math.ceil(q * sorted.length).toInt - 1)))

  def median(xs: Seq[Double]): Double = quantile(xs.sorted.toArray, 0.5)

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}
