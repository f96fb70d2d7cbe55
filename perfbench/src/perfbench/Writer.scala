package perfbench

import java.nio.file.Path
import java.util.SplittableRandom

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.boostql.BoostQL
import graft.sources.TimeSeriesTable

/** The ingest_mutate writer: one thread running a seeded sequence that
  * alternates an append of one new day (for the series it owns) with a
  * copy-on-write verb, cycling delete, update, upsert, merge, compact;
  * ten ops, one full cycle, in 20 s.
  * It keeps a plain-Scala model of its series, checks what each verb
  * reports against the model outside the timed interval, and checks the
  * final family against the model in [[verify]]. */
final class Writer(spark: SparkSession, root: Path, seed: Long, shape: Shape,
    series: Seq[Int], rng: SplittableRandom, layers: Layers,
    tracer: () => Option[Tracer]) {
  import Gen.{name, lit, DayUs, BaseUs}
  import Writer.Op

  val outcomes = mutable.ArrayBuffer.empty[Outcome]
  /** Points per second of each append. */
  val appendRates = mutable.ArrayBuffer.empty[Double]
  private var nextDay = shape.days
  private var step = 0
  private val model: Map[Int, mutable.TreeMap[Long, (Double, Option[String])]] =
    series.map { i =>
      val m = mutable.TreeMap.empty[Long, (Double, Option[String])]
      Gen.points(seed, shape, i, 0, shape.days).foreach(p => m(p.ts) = (p.value, Some(p.host)))
      i -> m
    }.toMap
  private val Verbs = Seq("delete", "update", "upsert", "merge", "compact")
  /** (start ns, end ns, verb) of every finished op, and the running one. */
  private val done = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, String)]
  @volatile private var running: Option[(Long, String)] = None

  /** The verb of an op that ran during [t0, t1], if any: a reader whose
    * answer is wrong then may have read across its file swap. */
  def during(t0: Long, t1: Long): Option[String] =
    running.filter(_._1 < t1).map(_._2).orElse(
      done.asScala.find(o => o._1 < t1 && o._2 > t0).map(_._3))
  private val famDir = root.resolve("dom/fam")
  private def rootS = root.toString

  def livePoints(others: Long): Long = others + model.values.map(_.size.toLong).sum

  /** Open loop: one op every `PeriodMs` until `until`, so every run puts
    * the same sequence of ops, at the same times, beside the reader. */
  def loop(until: Long): Unit = {
    val from = System.nanoTime()
    var due = from
    while (due < until && System.nanoTime() < until) {
      val wait = due - System.nanoTime()
      if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
      val verb = if (step % 2 == 0) "append" else Verbs((step / 2) % Verbs.size)
      step += 1
      outcomes += run(verb)
      due += Writer.PeriodMs * 1000000L
    }
  }

  private def day(us: Long): String =
    java.time.LocalDate.ofEpochDay(Math.floorDiv(us, DayUs)).toString
  private def dates(parts: Seq[String]): Set[String] =
    parts.flatMap("""\d{4}-\d{2}-\d{2}""".r.findFirstIn).toSet

  private def run(verb: String): Outcome = {
    val s = series(rng.nextInt(series.size))
    val op = plan(verb, s)
    val bytes0 = if (verb == "append") Workloads.dirBytes(famDir) else 0L
    var req = 0L
    val t0 = System.nanoTime()
    running = Some((t0, verb))
    val res = try tracer() match {
      case Some(t) => t.span(s"sources.$verb") { req = t.currentRequest; op.call() }
      case None => op.call()
    } catch { case e: Throwable =>
      return Outcome(Double.NaN, Some(s"$verb: ${Workloads.brief(e)}")) }
    finally { done.add((t0, System.nanoTime(), verb)); running = None }
    val ms = (System.nanoTime() - t0) / 1e6
    op.apply()
    if (verb == "append") {
      layers.add("sources.append_ms", ms)
      layers.add("sources.append_bytes", (Workloads.dirBytes(famDir) - bytes0).toDouble)
      appendRates += op.rowsChanged / (ms / 1e3)
    } else {
      layers.add(s"sources.mutate_ms.$verb", ms)
      if (verb != "compact") layers.add("sources.partitions_rewritten", op.partitions)
      tracer().foreach { t =>
        if (op.rowsChanged > 0) layers.add("sources.bytes_rewritten_per_row_changed",
          t.workOf(req).values.map(_.bytesWritten).sum.toDouble / op.rowsChanged)
      }
    }
    op.check(res) match {
      case None => Outcome(ms, None)
      case Some(why) => Outcome(ms, Some(s"$verb: $why"), wrong = true)
    }
  }

  private def window(hours: Int): (Long, Long) = {
    val d = rng.nextInt(nextDay)
    val a = BaseUs + d * DayUs + rng.nextInt(24 - hours + 1) * 3600000000L
    (a, a + hours * 3600000000L)
  }

  private def plan(verb: String, s: Int): Op = {
    val m = model(s)
    val n = name(s)
    verb match {
      case "append" =>
        val d = nextDay
        val pts = series.map(i => i -> Gen.points(seed, shape, i, d, d + 1).toSeq)
        val df = spark.createDataFrame(
          pts.flatMap { case (i, ps) => ps.map(Gen.row(i, _)) }.asJava, TimeSeriesTable.schema)
        Op(() => TimeSeriesTable.append(df, rootS, "dom", "fam"), _ => None,
          () => {
            pts.foreach { case (i, ps) => ps.foreach(p => model(i)(p.ts) = (p.value, Some(p.host))) }
            nextDay += 1
          }, pts.map(_._2.size).sum.toLong, 1)
      case "delete" =>
        val hosts = m.valuesIterator.flatMap(_._2).toIndexedSeq
        val host = hosts(rng.nextInt(hosts.size))
        val gone = m.filter(_._2._2.contains(host)).keys.toSeq
        val want = gone.map(day).toSet
        Op(() => BoostQL.sqlDelete(s"DELETE FROM dom.fam WHERE $n.host = '$host'", spark, rootS),
          r => { val got = dates(r.asInstanceOf[Seq[String]])
            if (got == want) None else Some(s"rewrote $got, expected $want") },
          () => gone.foreach(m.remove), gone.size, want.size)
      case "update" =>
        val (a, b) = window(1 + rng.nextInt(6))
        val hit = m.range(a, b).keys.toSeq
        val want = hit.map(day).toSet
        Op(() => BoostQL.sqlUpdate(s"UPDATE dom.fam SET $n = $n + 1.0 WHERE " +
            s"ts >= TIMESTAMP '${lit(a)}' AND ts < TIMESTAMP '${lit(b)}'", spark, rootS),
          r => { val got = dates(r.asInstanceOf[Seq[String]])
            if (got == want) None else Some(s"rewrote $got, expected $want") },
          () => hit.foreach(t => m(t) = (m(t)._1 + 1.0, m(t)._2)), hit.size, want.size)
      case "upsert" | "merge" =>
        val (a, b) = window(1)
        val hit = m.range(a, b).keys.toSeq
        val fresh = (0 until 5).map(j => a + j * 1000000L + 500000L)
        val corr = (hit.map(t => t -> (2000.0 + m(t)._1 % 7)) ++ fresh.map(t => t -> 3000.0))
        val df = spark.createDataFrame(corr.map { case (t, v) =>
          Row(n, Gen.ts(t), v, Map.empty[String, String], Map.empty[String, String]) }.asJava,
          TimeSeriesTable.schema)
        val src: ((String, String)) => DataFrame = _ => df
        val sel = s"SELECT ts, $n FROM dom.corr"
        val call: () => Any =
          if (verb == "upsert") () => BoostQL.sqlUpsert(s"UPSERT INTO dom.fam $sel", src, rootS)
          else () => BoostQL.sqlMerge(s"MERGE INTO dom.fam USING ($sel) WHEN MATCHED " +
            "THEN UPDATE WHEN NOT MATCHED THEN INSERT", src, rootS)
        val want: Any = if (verb == "upsert") (hit.size.toLong, corr.size.toLong)
          else (hit.size.toLong, 0L, fresh.size.toLong)
        Op(call, r => if (r == want) None else Some(s"reported $r, expected $want"),
          () => corr.foreach { case (t, v) => m(t) = (v, None) },
          corr.size.toLong, (hit ++ fresh).map(day).distinct.size)
      case "compact" =>
        Op(() => TimeSeriesTable.compact(spark, rootS, "dom", "fam"), _ => None, () => (), 0L, 0)
    }
  }

  /** Count and sum every written series; compare with the model. */
  def verify(): Seq[Outcome] = series.flatMap { i =>
    val n = name(i)
    val want = Seq(Seq[Any](model(i).size.toLong, model(i).values.map(_._1).sum))
    try {
      val got = Check.rows(BoostQL.sql(s"SELECT count($n) AS n, sum($n) AS s FROM dom.fam",
        (_: (String, String)) => TimeSeriesTable.open(spark, rootS, "dom", "fam")).collect())
      Check.diff(got, want).map(d => Outcome(Double.NaN, Some(s"final state of $n: $d"), wrong = true))
    } catch { case e: Throwable =>
      Some(Outcome(Double.NaN, Some(s"final state of $n: ${Workloads.brief(e)}"))) }
  }
}

object Writer {
  val PeriodMs = 2000L

  /** A verb: the call (timed), a check of its result against the model
    * (untimed), then the model update, applied only when the call ran. */
  private final case class Op(call: () => Any, check: Any => Option[String],
      apply: () => Unit, rowsChanged: Long, partitions: Int)
}
