package perfbench

import java.nio.file.Path
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress, Trigger}

import graft.boostql.BoostQL
import graft.sources.TimeSeriesTable

/** The stream_tail pipeline. An open-loop generator appends a fixed-size
  * batch to family `dom.live` every `PeriodMs` through
  * [[TimeSeriesTable.append]], each point stamped with its creation time
  * (as its value, in micros since this tail started, and as its ts).
  * Batches rotate over `Lanes` lanes (a `lane` attribute). A watermarked
  * `bucket()` aggregate per (window, lane) runs through
  * [[BoostQL.sqlStream]] over [[TimeSeriesTable.openStream]] with a
  * processing-time trigger and update output mode, into a foreachBatch
  * sink. Freshness of an emitted row is the time from the creation stamp
  * of its newest point to the moment the sink has collected the row. */
final class LiveTail(spark: SparkSession, root: Path, layers: Layers,
    tracer: () => Option[Tracer]) {
  import LiveTail._

  private val nano0 = System.nanoTime()
  private val wall0Us = System.currentTimeMillis() * 1000L
  private def stampUs: Double = (System.nanoTime() - nano0) / 1e3

  /** (window, lane) -> (points, newest stamp), as last emitted. */
  private val state = new ConcurrentHashMap[(Long, String), (Long, Double)]
  /** (sink time ns, freshness ms) per emitted row. */
  private val seen = new ConcurrentLinkedQueue[(Long, Double)]
  private val stamps = new ConcurrentLinkedQueue[Double]
  @volatile private var newestSeen = -1.0
  @volatile private var appended = 0L
  private var batches = 0
  private var query: StreamingQuery = _
  private val batchOutcomes = mutable.ArrayBuffer.empty[Outcome]
  private val rates = mutable.ArrayBuffer.empty[Double]

  private def appendBatch(lane: Int): Unit = {
    val st = stampUs
    val tsUs = wall0Us + st.toLong
    val rows = (0 until BatchPoints).map(k => Row("live", Gen.ts(tsUs + k), st,
      Map.empty[String, String], Map("lane" -> s"l$lane")))
    TimeSeriesTable.append(spark.createDataFrame(rows.asJava, TimeSeriesTable.schema),
      root.toString, "dom", "live")
    stamps.add(st)
    appended += BatchPoints
  }

  private val sink: (DataFrame, Long) => Unit = (df, _) => {
    val rows = df.collect()
    val t = System.nanoTime()
    val now = (t - nano0) / 1e3
    rows.foreach { r =>
      val c = r.toSeq.map(Check.canon)
      val (b, lane, n, newest) = (c(0).asInstanceOf[Long], c(1).asInstanceOf[String],
        c(2).asInstanceOf[Long], c(3).asInstanceOf[Double])
      state.put((b, lane), (n, newest))
      seen.add((t, (now - newest) / 1e3))
      if (newest > newestSeen) newestSeen = newest
    }
    layers.add("streaming.backlog_files", stamps.asScala.count(_ > newestSeen).toDouble)
  }

  /** Seed one batch, start the query, and wait for its first emitted row. */
  def start(): LiveTail = {
    appendBatch(0)
    val t0 = System.nanoTime()
    val stream = TimeSeriesTable.openStream(spark, root.toString, "dom", "live")
    query = BoostQL.sqlStream(Statement, _ => stream, "30 seconds")
      .writeStream.outputMode("update")
      .trigger(Trigger.ProcessingTime(TriggerMs))
      .option("checkpointLocation", root.resolve("checkpoint").toString)
      .foreachBatch(sink).start()
    awaitStamp(stamps.peek(), 60)
    layers.add("streaming.start_ms", (System.nanoTime() - t0) / 1e6)
    this
  }

  def stop(): Unit = query.stop()

  private def awaitStamp(st: Double, timeoutS: Int): Boolean = {
    val end = System.nanoTime() + timeoutS * 1000000000L
    while (newestSeen < st && System.nanoTime() < end && query.isActive) Thread.sleep(2)
    if (!query.isActive) query.exception.foreach(e => throw e)
    newestSeen >= st
  }

  /** Open loop until `until`: returns the freshness of every row emitted
    * for this interval's batches, once the sink has seen the last one. */
  def generate(until: Long): Seq[Outcome] = {
    val from = System.nanoTime()
    val points0 = appended
    var j = 0
    var due = from
    // a batch due before the deadline is skipped once the deadline has
    // passed, so an overloaded host cannot stretch the run
    while (due < until && System.nanoTime() < until) {
      val wait = due - System.nanoTime()
      if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
      layers.add("gen.late_ms", math.max(0L, System.nanoTime() - due) / 1e6)
      val t0 = System.nanoTime()
      val ok = try {
        tracer() match {
          case Some(t) => t.span("sources.append")(appendBatch(batches % Lanes))
          case None => appendBatch(batches % Lanes)
        }
        None
      } catch { case e: Throwable => Some(s"append: ${Workloads.brief(e)}") }
      val ms = (System.nanoTime() - t0) / 1e6
      layers.add("sources.append_ms", ms)
      batchOutcomes += Outcome(ms, ok)
      batches += 1
      j += 1
      due = from + j * PeriodMs * 1000000L
    }
    val last = stamps.asScala.last
    if (!awaitStamp(last, 60)) batchOutcomes += Outcome(Double.NaN,
      Some("the sink never saw the last batch of the interval"), wrong = true)
    val end = System.nanoTime()
    rates += (appended - points0) / ((end - from) / 1e9)
    seen.asScala.filter(_._1 >= from).map(s => Outcome(s._2, None)).toSeq
  }

  /** Points per second the stream processed, per interval. */
  def rate(interval: Int): Double = rates(interval)

  /** Drain, check that every appended point was counted exactly once,
    * record the stream's own progress reports, and stop. */
  def finish(progress: Seq[StreamingQueryProgress]): Seq[Outcome] = {
    query.processAllAvailable()
    val counted = state.values.asScala.map(_._1).sum
    val check = if (counted == appended) None else
      Some(Outcome(Double.NaN, Some(s"stream counted $counted points, appended $appended"), wrong = true))
    if (progress.nonEmpty) {
      def d(k: String) = Check.mean(progress.map(p => Option(p.durationMs.get(k)).fold(0.0)(_.toDouble)))
      layers.set("streaming.batches", progress.size.toDouble)
      layers.set("streaming.batch_ms", d("triggerExecution"))
      layers.set("streaming.add_batch_ms", d("addBatch"))
      layers.set("streaming.query_planning_ms", d("queryPlanning"))
      layers.set("streaming.latest_offset_ms", d("latestOffset"))
      layers.set("streaming.wal_commit_ms", d("walCommit"))
      layers.set("streaming.commit_offsets_ms", d("commitOffsets"))
      progress.lastOption.flatMap(_.stateOperators.headOption).foreach { s =>
        layers.set("streaming.state_rows", s.numRowsTotal.toDouble)
        layers.set("streaming.state_bytes", s.memoryUsedBytes.toDouble)
      }
    }
    query.stop()
    batchOutcomes.toSeq ++ check
  }
}

object LiveTail {
  val Lanes = 4
  val BatchPoints = 3200
  val PeriodMs = 400L
  val TriggerMs = 0L
  val Statement: String =
    "SELECT CAST(bucket(ts, '10 seconds') AS int) AS b, live.lane AS lane, " +
      "count(*) AS n, max(live) AS newest FROM dom.live GROUP BY b, lane"
}
