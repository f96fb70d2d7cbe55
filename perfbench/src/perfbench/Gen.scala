package perfbench

import java.sql.Timestamp

import org.apache.spark.sql.Row

/** The benchmark's series family, as a pure function of
  * (seed, series, point index): the same seed always gives the same
  * points, and the expected answers below are computed from this
  * function alone, never from the program under test.
  *
  * Series `mNNN` hold one point per `step` (one day / `perDay`), with a
  * whole-second jitter below half a step, so a point's index fixes its
  * day and timestamps are unique per series. Series of one `group`
  * share their timestamps, which gives the exact-ts alignment join
  * something to match. Values are whole numbers below 1000, so sums
  * are exact in doubles and need no tolerance.
  */
final case class Shape(series: Int, days: Int, perDay: Int, hosts: Int,
    groupSize: Int) {
  def stepUs: Long = Gen.DayUs / perDay
  def points: Long = series.toLong * days * perDay
}

final case class Pt(ts: Long, value: Double, host: String, region: String)

object Gen {
  val DayUs: Long = 86400L * 1000000L
  /** 2024-01-01T00:00:00Z in epoch micros: day 0 of every family. */
  val BaseUs: Long = 1704067200L * 1000000L

  /** Full size: 32 series x 10 days x 1 point/min = 461k points, a
    * 10k-host attribute. Tiny size is for the smoke test only. */
  val Full: Shape = Shape(series = 32, days = 10, perDay = 1440,
    hosts = 10000, groupSize = 8)
  val Tiny: Shape = Shape(series = 12, days = 3, perDay = 96,
    hosts = 50, groupSize = 4)

  def name(i: Int): String = f"m$i%03d"

  private def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  private def h(seed: Long, a: Long, b: Long, salt: Long): Long =
    mix(mix(mix(seed ^ (salt << 56)) + a) + b) >>> 1

  def point(seed: Long, s: Shape, i: Int, k: Long): Pt = {
    val stepS = s.stepUs / 1000000L
    val jitterS = h(seed, i / s.groupSize, k, 1) % math.max(1L, stepS / 2)
    Pt(BaseUs + k * s.stepUs + jitterS * 1000000L,
      (h(seed, i, k, 2) % 1000).toDouble,
      "h" + h(seed, i, k, 3) % s.hosts,
      "r" + h(seed, i, k, 4) % 8)
  }

  /** Points of series `i` on days [from, until). */
  def points(seed: Long, s: Shape, i: Int, from: Int, until: Int): Iterator[Pt] =
    (from.toLong * s.perDay until until.toLong * s.perDay).iterator
      .map(k => point(seed, s, i, k))

  def tags(i: Int): Map[String, String] = Map("dc" -> s"dc${i % 3}")

  def row(i: Int, p: Pt): Row =
    Row(name(i), ts(p.ts), p.value, tags(i),
      Map("host" -> p.host, "region" -> p.region))

  def ts(us: Long): Timestamp = {
    val t = new Timestamp(Math.floorDiv(us, 1000L))
    t.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
    t
  }

  /** `TIMESTAMP '…'` literal text (the session runs in UTC). */
  def lit(us: Long): String =
    java.time.Instant.ofEpochSecond(us / 1000000L).toString
      .replace("T", " ").replace("Z", "")
}
