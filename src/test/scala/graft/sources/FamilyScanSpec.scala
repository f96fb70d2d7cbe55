package graft.sources

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.boostql.BoostQL

/** The family-scan planner extension: `dt` bounds inferred from WHERE
  * `ts` bounds must never drop a row, and window reads that differ only
  * in their literals must reuse generated code. */
class FamilyScanSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  /** cpu and mem, one point every 3 hours over 2024-01-01..05 (UTC),
    * so every day has a point at exactly 00:00:00. */
  private lazy val points: Seq[(String, Timestamp, Double)] =
    for (s <- Seq("cpu", "mem"); k <- 0 until 40)
      yield (s, new Timestamp(Timestamp.valueOf("2024-01-01 00:00:00").getTime +
        k * 3 * 3600000L), k.toDouble)

  private lazy val root: String = {
    val r = Files.createTempDirectory("graft-famscan").toString
    val s = spark
    import s.implicits._
    TimeSeriesTable.append(points.toDF("series", "ts", "value")
      .select(col("series"), col("ts"), col("value"),
        typedLit(Map("dc" -> "dc1")).as("tags"),
        typedLit(Map("host" -> "h1")).as("attributes")), r, "dom", "f")
    r
  }

  /** The same directory read without the family marker: no inference. */
  private def unmarked: DataFrame =
    spark.read.schema(TimeSeriesTable.schema).parquet(s"$root/dom/f")

  private def scanOf(df: DataFrame): FileSourceScanExec = {
    df.collect()
    collect(df.queryExecution.executedPlan) { case s: FileSourceScanExec => s }.head
  }

  private def rows(df: DataFrame): Seq[Row] = df.collect().toSeq

  private def read(where: String, fam: DataFrame): DataFrame =
    BoostQL.sql(s"SELECT ts, cpu FROM dom.f WHERE $where ORDER BY ts", _ => fam)

  test("dt bounds from WHERE ts bounds prune partitions and keep every row") {
    val cases = Seq(
      "ts >= '2024-01-02 00:00:00' AND ts < '2024-01-02 06:00:00'" -> 1,
      "ts >= '2024-01-02 18:00:00' AND ts < '2024-01-03 00:00:00'" -> 1,
      "ts BETWEEN '2024-01-02 12:00:00' AND '2024-01-04 00:00:00'" -> 3,
      "ts = '2024-01-03 00:00:00'" -> 1,
      "'2024-01-03 00:00:00' < ts" -> 3,
      "ts >= '2024-01-04 12:00:00'" -> 2,
      "ts < '2024-01-02 00:00:00' OR ts > '2024-01-04 21:00:00'" -> 5)
    for ((where, partitions) <- cases) {
      val fam = TimeSeriesTable.open(spark, root, "dom", "f")
      val got = read(where, fam)
      val want = rows(read(where, unmarked))
      assert(want.nonEmpty, where)
      assert(rows(got) == want, where)
      val scan = scanOf(got)
      assert(scan.metrics("numPartitions").value == partitions,
        s"$where: ${scan.partitionFilters}")
      if (where.contains(" OR "))
        assert(scan.partitionFilters.isEmpty, s"a disjunction derives no dt bound: $where")
    }
  }

  test("dt bounds are not inferred over a plain parquet directory") {
    // dt here is NOT to_date(ts): every point is filed three days late
    val dir = Files.createTempDirectory("graft-famscan-plain").resolve("t").toString
    val s = spark
    import s.implicits._
    points.toDF("series", "ts", "value")
      .select(col("series"), col("ts"), col("value"),
        typedLit(Map("dc" -> "dc1")).as("tags"),
        typedLit(Map("host" -> "h1")).as("attributes"),
        date_add(to_date(col("ts")), 3).as("dt"))
      .write.partitionBy("dt").parquet(dir)
    val plain = spark.read.parquet(dir)
    val got = read("ts >= '2024-01-02 00:00:00' AND ts < '2024-01-03 00:00:00'", plain)
    val want = points.filter { case (sr, t, _) => sr == "cpu" &&
      !t.before(Timestamp.valueOf("2024-01-02 00:00:00")) &&
      t.before(Timestamp.valueOf("2024-01-03 00:00:00")) }.map { case (_, t, v) => Row(t, v) }
    assert(rows(got) == want)
    assert(scanOf(got).partitionFilters.isEmpty)
  }

  test("window reads differing only in literals reuse generated code") {
    def q(day: Int, floor: Double) =
      s"SELECT ts, cpu FROM dom.f WHERE cpu > $floor AND " +
        s"ts >= '2024-01-0$day 03:00:00' AND ts < '2024-01-0$day 21:00:00'"
    def want(day: Int, floor: Double) = points.filter { case (sr, t, v) =>
      val h = (t.getTime - Timestamp.valueOf("2024-01-01 00:00:00").getTime) / 3600000L
      sr == "cpu" && v > floor && h >= (day - 1) * 24 + 3 && h < (day - 1) * 24 + 21
    }.map { case (_, t, v) => Row(t, v) }.toSet
    val fam = TimeSeriesTable.open(spark, root, "dom", "f")
    assert(BoostQL.sql(q(2, 9.0), _ => fam).collect().toSet == want(2, 9.0))
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val second = BoostQL.sql(q(4, 26.0), _ => fam).collect().toSet
    assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount == before,
      "the second read compiled generated code afresh")
    assert(second == want(4, 26.0) && second.nonEmpty)
  }
}
