package perfbench

import java.util.SplittableRandom

/** One read request: its dialect text, the rows it must return (in
  * [[Check]]'s canonical form, in order) and how many dt partitions
  * its time window overlaps. */
final case class Query(template: String, sql: String,
    expected: Seq[Seq[Any]], windowPartitions: Int)

/** Query templates with plain-Scala expected answers, computed from
  * [[Gen]] alone. Parameters come from a seeded random stream: series
  * popularity is skewed towards low indices and windows towards recent
  * days. Templates are drawn in blocks that hold each template once, in
  * a seeded order, so every seed runs the same template mix. */
final class Queries(seed: Long, shape: Shape, rng: SplittableRandom) {
  import Gen.{name, points, lit, DayUs, BaseUs}

  /** dash_read: single-series requests that each return little data.
    * The raw fetch comes as two templates, by value and by attribute,
    * so every block holds each kind once: a random choice between them
    * would shift the mix, and the median with it, from run to run. */
  val Dash: Seq[String] = Seq("raw_value", "raw_region", "rollup", "latest", "host_count")
  /** scan_agg: whole-family analytics. */
  val Scan: Seq[String] = Seq("percentile", "align_daily", "rate_delta",
    "host_join", "describe")

  private val all: Seq[Int] = 0 until shape.series

  /** `count(mNNN)` over one whole series: the exact-count probe. */
  def count(i: Int, expected: Long): Query =
    Query("count", s"SELECT count(${name(i)}) AS n FROM dom.fam",
      Seq(Seq(expected)), shape.days)

  def block(templates: Seq[String]): Seq[String] = {
    val a = templates.toArray
    for (j <- a.indices.reverse) {
      val r = rng.nextInt(j + 1); val t = a(j); a(j) = a(r); a(r) = t
    }
    a.toSeq
  }

  private def skewed(pool: Seq[Int]): Int = {
    val u = rng.nextDouble()
    pool((u * u * pool.size).toInt)
  }
  private def recentDay(): Int = {
    val u = rng.nextDouble()
    shape.days - 1 - (u * u * shape.days).toInt
  }

  /** Build one request of `template` over a series drawn from `pool`.
    * Parameters are redrawn while the expected answer is empty (an empty
    * answer cannot tell a right result from a wrong one); a template that
    * stays empty is rejected. */
  def make(template: String, pool: Seq[Int] = all): Query =
    Iterator.continually(draw(template, pool)).take(20).find(_.expected.nonEmpty)
      .getOrElse(throw new IllegalStateException(
        s"template $template gave an empty expected answer 20 times"))

  private def draw(template: String, pool: Seq[Int]): Query = template match {
    case "raw_value" | "raw_region" =>
      val i = skewed(pool); val n = name(i); val d = recentDay()
      val hours = 1 + rng.nextInt(6)
      val startUs = BaseUs + d * DayUs +
        rng.nextInt((24 - hours) * 60 + 1) * 60000000L
      val endUs = startUs + hours * 3600000000L
      val byValue = template == "raw_value"
      val region = "r" + rng.nextInt(8)
      val pred = if (byValue) s"$n > 900.0" else s"$n.region = '$region'"
      val rows = points(seed, shape, i, d, d + 1)
        .filter(p => p.ts >= startUs && p.ts < endUs &&
          (if (byValue) p.value > 900.0 else p.region == region))
        .map(p => Seq[Any](p.ts, p.value)).toSeq
      Query(template, s"SELECT ts, $n FROM dom.fam WHERE $pred AND " +
        s"ts >= TIMESTAMP '${lit(startUs)}' AND ts < TIMESTAMP '${lit(endUs)}' " +
        "ORDER BY ts", rows, 1)
    case "rollup" =>
      val i = skewed(pool); val n = name(i); val d = recentDay()
      val hours = 6 + rng.nextInt(19)
      val startUs = BaseUs + d * DayUs + rng.nextInt(24 - hours + 1) * 3600000000L
      val endUs = startUs + hours * 3600000000L
      val rows = points(seed, shape, i, d, d + 1)
        .filter(p => p.ts >= startUs && p.ts < endUs).toSeq
        .groupBy(p => p.ts / 3600000000L * 3600L).toSeq.sortBy(_._1)
        .map { case (h, ps) => Seq[Any](h, ps.size.toLong, ps.map(_.value).sum) }
      val b = "CAST(bucket(ts, '1 hour') AS int)"
      Query(template, s"SELECT $b AS h, count($n) AS n, sum($n) AS s " +
        s"FROM dom.fam WHERE ts >= TIMESTAMP '${lit(startUs)}' AND " +
        s"ts < TIMESTAMP '${lit(endUs)}' GROUP BY $b ORDER BY h", rows, 1)
    case "latest" =>
      val i = skewed(pool); val n = name(i)
      val k = Seq(10, 20, 50)(rng.nextInt(3))
      val rows = points(seed, shape, i, shape.days - 1, shape.days).toSeq
        .takeRight(k).reverse.map(p => Seq[Any](p.ts, p.value))
      Query(template, s"SELECT ts, $n FROM dom.fam ORDER BY ts DESC LIMIT $k",
        rows, shape.days)
    case "host_count" =>
      val i = skewed(pool); val n = name(i)
      // a host the series really has, so the answer is never empty
      val host = Gen.point(seed, shape, i,
        rng.nextLong(shape.points / shape.series)).host
      val c = points(seed, shape, i, 0, shape.days).count(_.host == host)
      Query(template, s"SELECT count($n) AS n FROM dom.fam WHERE $n.host = '$host'",
        Seq(Seq(c.toLong)), shape.days)
    case "percentile" =>
      val i = skewed(pool); val n = name(i)
      val rows = points(seed, shape, i, 0, shape.days).toSeq.groupBy(_.region)
        .toSeq.sortBy(_._1).map { case (r, ps) =>
          Seq[Any](r, Queries.percentile(ps.map(_.value).sorted, 0.9)) }
      Query(template, s"SELECT $n.region, percentile($n, 0.9) AS p " +
        s"FROM dom.fam GROUP BY $n.region ORDER BY $n.region", rows, shape.days)
    case "align_daily" =>
      // two series of one timestamp group: every point aligns
      val g = skewed(pool) / shape.groupSize * shape.groupSize
      val (a, b) = (g, g + 1 + rng.nextInt(shape.groupSize - 1))
      val rows = (0 until shape.days).map { d =>
        val pa = points(seed, shape, a, d, d + 1).toSeq
        val pb = points(seed, shape, b, d, d + 1).toSeq
        Seq[Any]((BaseUs + d * DayUs) / 1000000L, pa.size.toLong,
          pa.map(_.value).sum, pb.map(_.value).max)
      }
      val bk = "CAST(bucket(ts, '1 day') AS int)"
      Query(template, s"SELECT $bk AS d, count(*) AS n, sum(${name(a)}) AS a, " +
        s"max(${name(b)}) AS b FROM dom.fam GROUP BY $bk ORDER BY d",
        rows, shape.days)
    case "rate_delta" =>
      val i = skewed(pool); val n = name(i)
      val ps = points(seed, shape, i, 0, shape.days).toSeq
      val pairs = ps.zip(ps.tail)
      val rates = pairs.map { case (p, q) =>
        (q.value - p.value) / ((q.ts - p.ts).toDouble / 1e6) }
      Query(template, "SELECT count(t.r) AS n, max(t.r) AS mx, sum(t.d) AS s " +
        s"FROM (SELECT rate($n) AS r, delta($n) AS d FROM dom.fam) AS t",
        Seq(Seq[Any](rates.size.toLong, rates.max,
          pairs.map { case (p, q) => q.value - p.value }.sum)), shape.days)
    case "host_join" =>
      val a = skewed(pool)
      val b = pool(rng.nextInt(pool.size)) match { case x if x == a => pool.find(_ != a).get; case x => x }
      val pa = points(seed, shape, a, 0, shape.days).toSeq.groupBy(_.host)
      val cb = points(seed, shape, b, 0, shape.days).toSeq.groupBy(_.host)
        .map { case (k, v) => k -> v.size.toLong }
      val matches = pa.toSeq.flatMap { case (hst, ps) => cb.get(hst).map(c => (ps, c)) }
      val (na, nb) = (name(a), name(b))
      Query(template, s"SELECT count(*) AS n, sum(a.$na) AS s FROM dom.fam AS a " +
        s"JOIN dom.fam AS b ON a.$na.host = b.$nb.host",
        Seq(Seq[Any](matches.map { case (ps, c) => ps.size * c }.sum,
          matches.map { case (ps, c) => ps.map(_.value).sum * c }.sum)),
        shape.days)
    case "describe" =>
      val perSeries = shape.points / shape.series
      val rows = all.map { i =>
        Seq[Any](name(i), perSeries, Gen.point(seed, shape, i, 0).ts,
          Gen.point(seed, shape, i, perSeries - 1).ts, "host,region", "dc")
      }
      Query(template, "DESCRIBE dom.fam", rows, shape.days)
  }
}

object Queries {
  /** Spark's exact `percentile`: linear interpolation at position
    * p * (n - 1) of the sorted values. */
  def percentile(sorted: Seq[Double], p: Double): Double = {
    val pos = p * (sorted.size - 1)
    val (lo, hi) = (pos.floor.toInt, pos.ceil.toInt)
    if (lo == hi || sorted(lo) == sorted(hi)) sorted(lo)
    else (hi - pos) * sorted(lo) + (pos - lo) * sorted(hi)
  }
}
