package perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.SplittableRandom

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.streaming.StreamingQueryProgress

import graft.boostql.{BoostQL, Compiler, Parser}
import graft.sources.TimeSeriesTable

/** Entry point: `perfbench.Main --workload <name> --seed <n> --seconds <s>
  * --trace <0|1> --work <dir> [--size full|tiny]`.
  *
  * Prints diagnostics, then as its last stdout line one JSON object with
  * `correct`, `attempted`, `failed` and `metrics`: the end-to-end
  * metrics when untraced, the per-layer metrics when traced. Everything
  * it writes goes under `--work`.
  */
object Main {
  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val t0 = System.nanoTime()
    def note(what: String): Unit = println(f"perfbench: ${(System.nanoTime() - t0) / 1e9}%.1f s: $what")
    val workload = a("workload")
    require(Workloads.Names.contains(workload),
      s"unknown workload '$workload' (one of ${Workloads.Names.mkString(", ")})")
    val work = Paths.get(a("work")).toAbsolutePath
    val cores = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    note("session up")
    val out = try new Workloads(spark, work, a("seed").toLong, a("seconds").toDouble,
        a("trace") == "1", if (a.getOrElse("size", "full") == "tiny") Gen.Tiny else Gen.Full,
        cores, note).run(workload)
      finally spark.stop()
    note("session stopped")
    println(out)
  }
}

/** One request's outcome: latency, and a reason when it failed (an
  * exception or a wrong answer). Failed requests with an exception have
  * no latency. */
final case class Outcome(ms: Double, error: Option[String], wrong: Boolean = false)

/** The four workloads. All run in one process on `local[cores]`. */
final class Workloads(spark: SparkSession, work: Path, seed: Long,
    seconds: Double, traced: Boolean, shape: Shape, cores: Int, note: String => Unit) {
  import Workloads._

  private val layers = new Layers
  private val rng = new SplittableRandom(seed)
  private val queries = new Queries(seed, shape, rng.split())
  private val outcomes = new java.util.concurrent.ConcurrentLinkedQueue[Outcome]
  /** The tracer while spans are being recorded, else None. */
  private var tracer: Option[Tracer] = None
  private var recorded: Option[Tracer] = None
  private val RepeatSetup = 3
  /** The write op, if any, that ran during a read's interval (ingest_mutate). */
  private var writeDuring: (Long, Long) => Option[String] = (_, _) => None

  def run(workload: String): String = {
    Files.createDirectories(work)
    val e2e: Seq[(String, Double, String)] = workload match {
      case "dash_read" => readWorkload(queries.Dash, workload)
      case "scan_agg" => readWorkload(queries.Scan, workload)
      case "ingest_mutate" => ingestMutate(workload)
      case "stream_tail" => streamTail(workload)
    }
    val failures = outcomes.asScala.toSeq.flatMap(_.error)
    failures.groupBy(identity).foreach { case (m, xs) =>
      System.err.println(s"perfbench: FAILED x${xs.size}: $m") }
    val attempted = outcomes.size
    val correct = !outcomes.asScala.exists(_.wrong)
    val metrics = if (!traced) e2e else perLayer()
    recorded.foreach(_.write(work.getParent.resolve("traces").resolve(s"$workload-seed$seed.jsonl")))
    val body = metrics.map { case (n, v, u) =>
      val x = if (v.isNaN || v.isInfinite) 0.0 else v
      s""""$n": {"value": $x, "unit": "$u"}""" }.mkString(", ")
    s"""{"correct": $correct, "attempted": $attempted, "failed": ${failures.size}, "metrics": {$body}}"""
  }

  // ---- family set-up -------------------------------------------------------

  /** Seed the pre-generated family under `root` (every series, every day). */
  private def seedFamily(root: Path): Unit = {
    val (s, sd) = (shape, seed)
    val rows = spark.sparkContext.parallelize(0 until s.series, cores)
      .flatMap(i => Gen.points(sd, s, i, 0, s.days).map(p => Gen.row(i, p)))
    val t0 = System.nanoTime()
    TimeSeriesTable.append(spark.createDataFrame(rows, TimeSeriesTable.schema),
      root.toString, "dom", "fam")
    layers.add("sources.seed_ms", (System.nanoTime() - t0) / 1e6)
    layers.set("sources.bytes_per_point", dirBytes(root.resolve("dom/fam")).toDouble / s.points)
  }

  /** Every family lookup opens the family afresh, listing its files. */
  private def resolver(root: Path): ((String, String)) => DataFrame = { case (_, f) =>
    tracer match {
      case Some(t) => t.span("sources.open")(TimeSeriesTable.open(spark, root.toString, "dom", f))
      case None => TimeSeriesTable.open(spark, root.toString, "dom", f)
    }
  }

  /** Set up `RepeatSetup` times on fresh roots; report the median time of
    * one set-up and keep the last root. */
  private def repeatedSetup(once: Path => Unit, release: () => Unit = () => ()): (Path, Double) = {
    val times = (0 until RepeatSetup).map { k =>
      val root = work.resolve(s"root$k")
      val t0 = System.nanoTime()
      once(root)
      val s = (System.nanoTime() - t0) / 1e9
      if (k < RepeatSetup - 1) { release(); deleteTree(root) }
      s
    }
    note(s"set up ${RepeatSetup}x: ${times.map(t => f"$t%.2f").mkString(", ")} s")
    (work.resolve(s"root${RepeatSetup - 1}"), Check.median(times))
  }

  /** Seed, then run the first request of each template: the cost a user
    * pays before the first answer. */
  private def seedAndWarm(templates: Seq[String], pool: Seq[Int])(root: Path): Unit = {
    seedFamily(root)
    templates.foreach { t =>
      val o = read(queries.make(t, pool), root)
      o.error.foreach(e => throw new IllegalStateException(s"warm-up failed: $e"))
    }
  }

  // ---- reads -----------------------------------------------------------------

  /** Run one read request; its result is checked outside the timed interval. */
  private def read(q: Query, root: Path): Outcome = {
    val res = resolver(root)
    val start = System.nanoTime()
    try tracer match {
      case None =>
        val got = BoostQL.sql(q.sql, res).collect()
        val ms = (System.nanoTime() - start) / 1e6
        checked(q, got, ms, start)
      case Some(t) =>
        var df: DataFrame = null
        var got: Array[Row] = null
        var req = 0L
        t.span("request." + q.template) {
          req = t.currentRequest
          df = if (q.sql.startsWith("DESCRIBE")) t.span("boostql.facade")(BoostQL.sql(q.sql, res))
            else {
              val ast = t.span("boostql.parse")(Parser.parseStmt(q.sql))
              t.span("boostql.compile")(Compiler.compile(ast, res))
            }
          t.span("catalyst.plan")(df.queryExecution.executedPlan)
          got = t.span("exec.collect")(df.collect())
        }
        val root = t.spansOf(req).find(_.id == req).get
        recordRead(t, req, q, df, got.length, root.ms)
        checked(q, got, root.ms, start)
    } catch { case e: Throwable => Outcome(Double.NaN, Some(s"${q.template}: ${brief(e)}")) }
  }

  /** A wrong answer while a write op ran is a torn read: a failure with
    * that cause, not a wrong result of the query itself. */
  private def checked(q: Query, got: Array[Row], ms: Double, start: Long): Outcome =
    Check.diff(Check.rows(got), q.expected) match {
      case None => Outcome(ms, None)
      case Some(d) => writeDuring(start, System.nanoTime()) match {
        case Some(verb) => Outcome(ms, Some(s"${q.template}: torn read, wrong answer " +
          s"while a concurrent $verb ran: $d [${q.sql}]"))
        case None => Outcome(ms, Some(s"${q.template}: wrong answer: $d [${q.sql}]"), wrong = true)
      }
    }

  private def recordRead(t: Tracer, req: Long, q: Query, df: DataFrame,
      returned: Int, ms: Double): Unit = {
    val spans = t.spansOf(req)
    def spanMs(n: String) = spans.filter(_.name == n).map(_.ms).sum
    val w = t.workOf(req)
    def sum(f: Work => Double) = w.values.map(f).sum
    layers.add("boostql.parse_ms", spanMs("boostql.parse"))
    layers.add("boostql.compile_ms", spanMs("boostql.compile") + spanMs("boostql.facade"))
    layers.add("boostql.compile_jobs", Seq("boostql.compile", "boostql.facade", "sources.open")
      .flatMap(w.get).map(_.jobs.toDouble).sum)
    layers.add("sources.open_ms", spanMs("sources.open"))
    layers.add("catalyst.analyze_ms", Trace.planningMs(df, "analysis"))
    layers.add("catalyst.optimize_ms", Trace.planningMs(df, "optimization"))
    layers.add("catalyst.plan_ms", Trace.planningMs(df, "planning"))
    val execMs = spanMs("exec.collect")
    layers.add("exec.ms", execMs)
    layers.add("exec.jobs", sum(_.jobs.toDouble))
    layers.add("exec.stages", sum(_.stages.toDouble))
    layers.add("exec.tasks", sum(_.tasks.toDouble))
    layers.add("exec.sched_delay_ms", sum(_.schedMs))
    layers.add("exec.task_run_ms", sum(_.runMs))
    layers.add("exec.task_cpu_ms", sum(_.cpuMs))
    layers.add("exec.task_gc_ms", sum(_.gcMs))
    layers.add("exec.utilization", if (execMs > 0) sum(_.runMs) / (execMs * cores) else 0.0)
    layers.add("exec.shuffle_read_bytes", sum(_.shuffleRead.toDouble))
    layers.add("exec.shuffle_write_bytes", sum(_.shuffleWrite.toDouble))
    layers.add("exec.spill_bytes", sum(_.spill.toDouble))
    val (parts, files, rows) = Trace.scans(df)
    layers.add("scan.partitions_read", parts.toDouble)
    layers.add("scan.partitions_in_window", q.windowPartitions.toDouble)
    layers.add("scan.files_read", files.toDouble)
    layers.add("scan.bytes_read", sum(_.bytesRead.toDouble))
    layers.add("scan.rows_read", rows.toDouble)
    layers.add("scan.rows_read_per_row_returned", rows.toDouble / math.max(1, returned))
    layers.add("trace.request_ms", ms)
    layers.add("trace.uncovered_ms", t.uncoveredMs(req))
  }

  /** Closed loop, one client: template blocks until the deadline. A
    * probe request after each block is checked and counted, but it is
    * not part of the mix, so its latency is left out of the result. */
  private def readLoop(templates: Seq[String], pool: Seq[Int], root: Path,
      until: Long, probe: Option[() => Query] = None): Seq[Outcome] = {
    val out = mutable.ArrayBuffer.empty[Outcome]
    while (System.nanoTime() < until) {
      for (tpl <- queries.block(templates) if System.nanoTime() < until)
        out += read(queries.make(tpl, pool), root)
      probe.foreach(p => if (System.nanoTime() < until) outcomes.add(read(p(), root)))
    }
    out.foreach(outcomes.add)
    out.toSeq
  }

  /** Warm-up, then measurement. The workload first runs untimed for a
    * quarter of the run time, at most `WarmupMaxS`: JIT compilation and
    * first-touch costs fill the first seconds of a JVM, and how long they
    * last varies with host load, so timing them would move every median
    * from run to run. Warm-up requests are still checked and counted;
    * only their latencies are dropped.
    *
    * Untraced run: the whole interval measured. Traced run: the middle
    * half traced and the quarters either side untraced, so the two are
    * compared at the same average point of the run. Returns the untraced
    * and the traced outcomes and the seconds the untraced slices took. */
  private def phases(body: Long => Seq[Outcome]): (Seq[Outcome], Seq[Outcome], Double) = {
    body(System.nanoTime() + (math.min(WarmupMaxS, seconds / 4) * 1e9).toLong)
    note("warmed up")
    var untracedS = 0.0
    def slice(share: Double) = {
      val t0 = System.nanoTime()
      val os = body(t0 + (share * seconds * 1e9).toLong)
      untracedS += (System.nanoTime() - t0) / 1e9
      os
    }
    if (!traced) return { val a = slice(1.0); note("measured"); (a, Seq.empty, untracedS) }
    val a1 = slice(0.25)
    val t = new Tracer(spark)
    recorded = Some(t)
    tracer = recorded
    Jvm.resetHeapPeak()
    val gc0 = Jvm.gcMs()
    val b = body(System.nanoTime() + (0.5 * seconds * 1e9).toLong)
    layers.set("jvm.gc_ms", Jvm.gcMs() - gc0)
    layers.set("jvm.heap_peak_mb", Jvm.heapPeakMb())
    tracer = None
    t.close()
    val a2 = slice(0.25)
    note("measured")
    (a1 ++ a2, b, untracedS)
  }

  private def latencies(os: Seq[Outcome]): Array[Double] =
    os.map(_.ms).filterNot(_.isNaN).sorted.toArray

  private def e2e(workload: String, setupS: Double, os: Seq[Outcome],
      workPerS: Double): Seq[(String, Double, String)] = {
    val l = latencies(os)
    val q = TailQuantile(workload)
    val beyond = l.length - math.ceil(q * l.length).toInt
    println(s"perfbench: $workload tail_ms is p${(q * 100).round} of ${l.length} samples " +
      s"($beyond beyond it)")
    if (l.isEmpty) throw new IllegalStateException("no successful request was measured")
    Seq(("setup_s", setupS, "s"), ("p50_ms", Check.quantile(l, 0.5), "ms"),
      ("tail_ms", Check.quantile(l, q), "ms"), ("work_per_s", workPerS, "1/s"),
      ("peak_rss_mb", Jvm.peakRssMb(), "MB"))
  }

  /** Tracing overhead: traced median latency over untraced, minus one. */
  private def overhead(a: Seq[Outcome], b: Seq[Outcome]): Unit = {
    val (la, lb) = (latencies(a), latencies(b))
    if (la.nonEmpty && lb.nonEmpty)
      layers.set("trace.overhead_share", Check.quantile(lb, 0.5) / Check.quantile(la, 0.5) - 1)
  }

  private def readWorkload(templates: Seq[String], workload: String) = {
    val pool = 0 until shape.series
    val (root, setupS) = repeatedSetup(seedAndWarm(templates, pool))
    val (a, b, untracedS) = phases(until => readLoop(templates, pool, root, until))
    overhead(a, b)
    e2e(workload, setupS, a, a.size / untracedS)
  }

  // ---- ingest + mutate -------------------------------------------------------

  private def ingestMutate(workload: String) = {
    val written = (shape.series - WriteSeries until shape.series)
    val readable = 0 until shape.series - WriteSeries
    val (root, setupS) = repeatedSetup(seedAndWarm(queries.Dash, readable))
    val writer = new Writer(spark, root, seed, shape, written, rng.split(), layers, () => tracer)
    writeDuring = writer.during
    val perSeries = shape.points / shape.series
    // a series the writer never touches, counted exactly: a torn read
    // across a partition swap shows as a wrong count
    val probe = () => queries.count(readable(rng.nextInt(readable.size)), perSeries)
    val (a, b, _) = phases { until =>
      val th = new Thread(() => writer.loop(until), "perfbench-writer")
      th.start()
      try readLoop(queries.Dash, readable, root, until, Some(probe)) finally th.join()
    }
    writer.outcomes.foreach(outcomes.add)
    writer.verify().foreach(outcomes.add)
    overhead(a, b)
    val ptsPerS = Check.median(writer.appendRates.toSeq)
    layers.set("sources.files_live", dataFiles(root.resolve("dom/fam")).toDouble)
    layers.set("sources.bytes_per_point",
      dirBytes(root.resolve("dom/fam")).toDouble / writer.livePoints(perSeries * readable.size))
    e2e(workload, setupS, a, ptsPerS)
  }

  // ---- live tail -------------------------------------------------------------

  private def streamTail(workload: String) = {
    var live: Option[LiveTail] = None
    val (_, setupS) = repeatedSetup(
      r => live = Some(new LiveTail(spark, r, layers, () => tracer).start()),
      () => live.foreach(_.stop()))
    val tail = live.get
    val (a, b, _) = phases(until => tail.generate(until))
    tail.finish(recorded.fold(Seq.empty[StreamingQueryProgress])(_.progress.asScala.toSeq))
      .foreach(outcomes.add)
    overhead(a, b)
    // interval 0 is the warm-up, interval 1 the first measured one
    e2e(workload, setupS, a, tail.rate(1))
  }

  // ---- per-layer report ------------------------------------------------------

  private def perLayer(): Seq[(String, Double, String)] = {
    layers.set("host.cpu_cal_s", graft.Bench.calibrate(spark, 3))
    layers.set("host.io_cal_s", graft.Bench.calibrateIo(spark, 3))
    val req = layers.values("trace.request_ms").sum
    layers.set("trace.unattributed_share",
      if (req > 0) layers.values("trace.uncovered_ms").sum / req else 0.0)
    layers.set("trace.spans", recorded.fold(0.0)(_.spans.size.toDouble))
    PerLayer.map { case (n, u) => (n, layers.mean(n), u) }
  }

}

object Workloads {
  private def parquetFiles(p: Path): Seq[Path] =
    if (!Files.exists(p)) Seq.empty
    else { val s = Files.walk(p)
      try s.iterator.asScala.filter(f => Files.isRegularFile(f) &&
        f.getFileName.toString.endsWith(".parquet")).toList finally s.close() }

  def dirBytes(p: Path): Long = parquetFiles(p).map(Files.size).sum
  def dataFiles(p: Path): Long = parquetFiles(p).size.toLong

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.iterator.asScala.toSeq.reverse.foreach(Files.delete) finally s.close()
  }

  val Names: Seq[String] = Seq("dash_read", "scan_agg", "ingest_mutate", "stream_tail")
  /** Series the ingest_mutate writer owns (the highest-numbered ones). */
  val WriteSeries = 8
  /** Longest warm-up before measuring, in seconds. */
  val WarmupMaxS = 10.0
  /** The percentile `tail_ms` reports: the highest of p50/p75/p90/p95/p99
    * with at least ten samples beyond it at the workload's usual sample
    * count (dash_read and stream_tail at 40 s, the others at 15-20 s). */
  val TailQuantile: Map[String, Double] = Map("dash_read" -> 0.95,
    "scan_agg" -> 0.9, "ingest_mutate" -> 0.75, "stream_tail" -> 0.9)

  def brief(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).linesIterator.nextOption().getOrElse("").take(160)}"

  val PerLayer: Seq[(String, String)] = Seq(
    "boostql.parse_ms" -> "ms", "boostql.compile_ms" -> "ms", "boostql.compile_jobs" -> "count",
    "catalyst.analyze_ms" -> "ms", "catalyst.optimize_ms" -> "ms", "catalyst.plan_ms" -> "ms",
    "exec.jobs" -> "count", "exec.stages" -> "count", "exec.tasks" -> "count",
    "exec.sched_delay_ms" -> "ms", "exec.ms" -> "ms", "exec.task_run_ms" -> "ms",
    "exec.task_cpu_ms" -> "ms", "exec.utilization" -> "share",
    "exec.shuffle_read_bytes" -> "bytes", "exec.shuffle_write_bytes" -> "bytes",
    "exec.spill_bytes" -> "bytes", "exec.task_gc_ms" -> "ms",
    "scan.partitions_read" -> "count", "scan.partitions_in_window" -> "count",
    "scan.files_read" -> "count", "scan.bytes_read" -> "bytes", "scan.rows_read" -> "rows",
    "scan.rows_read_per_row_returned" -> "ratio",
    "sources.seed_ms" -> "ms", "sources.append_ms" -> "ms", "sources.append_bytes" -> "bytes",
    "sources.bytes_per_point" -> "bytes/point",
    "sources.mutate_ms.delete" -> "ms", "sources.mutate_ms.update" -> "ms",
    "sources.mutate_ms.upsert" -> "ms", "sources.mutate_ms.merge" -> "ms",
    "sources.mutate_ms.compact" -> "ms", "sources.partitions_rewritten" -> "count",
    "sources.bytes_rewritten_per_row_changed" -> "bytes/row",
    "sources.open_ms" -> "ms", "sources.files_live" -> "count",
    "streaming.start_ms" -> "ms", "streaming.batches" -> "count", "streaming.batch_ms" -> "ms",
    "streaming.add_batch_ms" -> "ms", "streaming.query_planning_ms" -> "ms",
    "streaming.latest_offset_ms" -> "ms", "streaming.wal_commit_ms" -> "ms",
    "streaming.commit_offsets_ms" -> "ms", "streaming.backlog_files" -> "count",
    "streaming.state_rows" -> "rows", "streaming.state_bytes" -> "bytes",
    "jvm.gc_ms" -> "ms", "jvm.heap_peak_mb" -> "MB",
    "host.cpu_cal_s" -> "s", "host.io_cal_s" -> "s", "gen.late_ms" -> "ms",
    "trace.overhead_share" -> "share", "trace.unattributed_share" -> "share",
    "trace.spans" -> "count")
}
