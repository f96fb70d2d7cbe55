package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** A timed interval around one call into a layer. `req` is the id of
  * the request's root span; `parent` is 0 for a root. */
final case class Span(id: Long, parent: Long, req: Long, name: String,
    startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Task-side totals for the Spark jobs one (request, span) launched. */
final class Work {
  var jobs, stages, tasks = 0L
  var runMs, cpuMs, gcMs, schedMs = 0.0
  var shuffleRead, shuffleWrite, spill, bytesRead, bytesWritten = 0L
}

/** Spans kept in memory, plus the Spark listeners that attribute jobs,
  * stages and tasks to them. Jobs are tagged through the public
  * `setJobGroup` (one group per request) and a local property naming
  * the innermost open span. */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val ids = new AtomicLong
  val spans = new ConcurrentLinkedQueue[Span]
  private val open = ThreadLocal.withInitial[List[(Long, String, Long)]](() => Nil)
  private val SpanKey = "perfbench.span"

  def span[T](name: String)(body: => T): T = {
    val id = ids.incrementAndGet()
    val stack = open.get
    val (parent, req) = stack.headOption.fold((0L, id))(h => (h._1, h._3))
    open.set((id, name, req) :: stack)
    if (stack.isEmpty) sc.setJobGroup(s"req-$id", name, interruptOnCancel = false)
    sc.setLocalProperty(SpanKey, name)
    val t0 = System.nanoTime()
    try body
    finally {
      spans.add(Span(id, parent, req, name, t0, System.nanoTime()))
      open.set(stack)
      sc.setLocalProperty(SpanKey, stack.headOption.map(_._2).orNull)
      if (stack.isEmpty) sc.clearJobGroup()
    }
  }

  /** Id of the innermost open root span on this thread. */
  def currentRequest: Long = open.get.lastOption.fold(0L)(_._1)

  private val work = new ConcurrentHashMap[(String, String), Work]
  private val stageOwner = new ConcurrentHashMap[Int, (String, String)]
  val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]

  private val jobs = new SparkListener {
    private def w(key: (String, String)) = work.computeIfAbsent(key, _ => new Work)
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = e.properties
      val key = (String.valueOf(Option(p).map(_.getProperty("spark.jobGroup.id")).orNull),
        String.valueOf(Option(p).map(_.getProperty(SpanKey)).orNull))
      e.stageIds.foreach(stageOwner.put(_, key))
      w(key).synchronized(w(key).jobs += 1)
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      Option(stageOwner.get(e.stageInfo.stageId)).foreach { k =>
        w(k).synchronized(w(k).stages += 1) }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      for (k <- Option(stageOwner.get(e.stageId)); m <- Option(e.taskMetrics)) {
        val x = w(k)
        val i = e.taskInfo
        x.synchronized {
          x.tasks += 1
          x.runMs += m.executorRunTime
          x.cpuMs += m.executorCpuTime / 1e6
          x.gcMs += m.jvmGCTime
          x.schedMs += math.max(0L, i.duration - m.executorRunTime -
            m.executorDeserializeTime - m.resultSerializationTime - i.gettingResultTime)
          x.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          x.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          x.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          x.bytesRead += m.inputMetrics.bytesRead
          x.bytesWritten += m.outputMetrics.bytesWritten
        }
      }
  }
  private val streams = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.add(e.progress)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }
  sc.addSparkListener(jobs)
  spark.streams.addListener(streams)

  def close(): Unit = {
    org.apache.spark.PerfbenchBridge.drain(sc)
    sc.removeSparkListener(jobs)
    spark.streams.removeListener(streams)
  }

  /** Task totals of request `req`, per span name (drained first). */
  def workOf(req: Long): Map[String, Work] = {
    org.apache.spark.PerfbenchBridge.drain(sc)
    work.asScala.collect { case ((g, s), w) if g == s"req-$req" => s -> w }.toMap
  }

  def spansOf(req: Long): Seq[Span] = spans.asScala.filter(_.req == req).toSeq

  /** Time of a request's root span that none of its children cover
    * (children on one thread never overlap). */
  def uncoveredMs(req: Long): Double = {
    val s = spansOf(req)
    s.find(_.id == req).fold(0.0)(root => root.ms - s.filter(_.parent == req).map(_.ms).sum)
  }

  /** Spans as JSON lines, one per span. */
  def write(path: java.nio.file.Path): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    val lines = spans.asScala.toSeq.sortBy(_.id).map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"req":${s.req},"name":"${s.name}",""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs}}"""
    }
    java.nio.file.Files.write(path, lines.asJava)
  }
}

object Trace {
  /** (dt partitions read, files read, rows output) over every file scan
    * of an executed plan, through adaptive stages and subqueries. */
  def scans(df: DataFrame): (Long, Long, Long) = {
    def walk(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case f: FileSourceScanExec => Seq(f)
      case other => other.children.flatMap(walk) ++ other.subqueries.flatMap(walk)
    }
    val fs = walk(df.queryExecution.executedPlan)
    def m(f: FileSourceScanExec, k: String) = f.metrics.get(k).fold(0L)(_.value)
    (fs.map(m(_, "numPartitions")).sum, fs.map(m(_, "numFiles")).sum,
      fs.map(m(_, "numOutputRows")).sum)
  }

  def planningMs(df: DataFrame, phase: String): Double =
    df.queryExecution.tracker.phases.get(phase).fold(0.0)(_.durationMs.toDouble)
}

/** JVM and process counters. */
object Jvm {
  import java.lang.management.{ManagementFactory, MemoryType}

  def gcMs(): Double = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(b => math.max(0L, b.getCollectionTime)).sum.toDouble

  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP)
  def resetHeapPeak(): Unit = heapPools.foreach(_.resetPeakUsage())
  def heapPeakMb(): Double = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0

  /** Peak resident set of this process (VmHWM), MB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(0.0)
    finally src.close()
  }
}

/** Per-layer samples, reported as means. */
final class Layers {
  private val xs = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  def add(name: String, v: Double): Unit = synchronized {
    xs.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v }
  def set(name: String, v: Double): Unit = synchronized {
    xs(name) = mutable.ArrayBuffer(v) }
  def mean(name: String): Double = synchronized { xs.get(name).fold(0.0)(b => Check.mean(b.toSeq)) }
  def values(name: String): Seq[Double] = synchronized { xs.get(name).fold(Seq.empty[Double])(_.toSeq) }
}
