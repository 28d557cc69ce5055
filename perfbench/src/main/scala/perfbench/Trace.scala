package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener
import graft.sink.BatchSink

/** Per-layer tracing through Spark's public listener APIs.
  *
  * Jobs are attributed to spans through a thread-local property
  * ([[Trace.SpanKey]]) set by the harness around each measured call:
  * `build:<family>:<query>` and `action:<family>:<query>` on query_mix,
  * `sink` inside `BatchSink.writeAll`. Other jobs of a micro-batch are
  * attributed through streaming's own `streaming.sql.batchId`. The span
  * tree (workload → pass/drain → query or batch → job) is kept in
  * memory and written as JSON lines at exit.
  */
final class Trace(spark: SparkSession) {
  import Trace._

  final case class Job(id: Int, span: String, batch: Long, exec: Long,
      start: Long, @volatile var end: Long = -1L)

  /** Engine counters of one group (a query family, or the workload). */
  final class Counters {
    var stages, tasks, singleTaskStages = 0L
    var runMs, cpuNs, gcMs, shuffleRead, shuffleWrite, spill, peakMem = 0L
    var planningMs = 0L
  }

  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  /** (start of the first planning phase, planning ms) per execution. */
  private val planning = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
  /** Wall-clock (epoch ms) windows of the harness's calls, by group. */
  private val windows = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long, Long)]()
  private val counters = mutable.Map.empty[String, Counters]
  private val lastEvent = new AtomicLong(System.nanoTime())
  val progress = new java.util.concurrent.ConcurrentLinkedQueue[
    org.apache.spark.sql.streaming.StreamingQueryProgress]()
  /** Spans recorded by the harness: (kind, name, startNs, endNs). */
  val spans = new java.util.concurrent.ConcurrentLinkedQueue[
    (String, String, Long, Long)]()

  private def group(stage: Int): String =
    Option(stageJob.get(stage)).flatMap(j => Option(jobs.get(j)))
      .map(j => groupOf(j.span)).getOrElse(Other)

  private def c(g: String): Counters = counters.getOrElseUpdate(g, new Counters)

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      lastEvent.set(System.nanoTime())
      val p = Option(e.properties)
      def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
      val j = Job(e.jobId, prop(SpanKey).getOrElse(""),
        prop("streaming.sql.batchId").map(_.toLong).getOrElse(-1L),
        prop("spark.sql.execution.id").map(_.toLong).getOrElse(-1L), e.time)
      jobs.put(e.jobId, j)
      e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      lastEvent.set(System.nanoTime())
      Option(jobs.get(e.jobId)).foreach(_.end = e.time)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      lastEvent.set(System.nanoTime())
      val g = group(e.stageInfo.stageId)
      counters.synchronized {
        val k = c(g)
        k.stages += 1
        if (e.stageInfo.numTasks == 1) k.singleTaskStages += 1
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      lastEvent.set(System.nanoTime())
      val m = e.taskMetrics
      if (m != null) {
        val g = group(e.stageId)
        counters.synchronized {
          val k = c(g)
          k.tasks += 1
          k.runMs += m.executorRunTime
          k.cpuNs += m.executorCpuTime
          k.gcMs += m.jvmGCTime
          k.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          k.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          k.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          k.peakMem = math.max(k.peakMem, m.peakExecutionMemory)
        }
      }
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = {
      lastEvent.set(System.nanoTime())
      val phases = qe.tracker.phases.values
      if (phases.nonEmpty)
        planning.add((phases.map(_.startTimeMs).min, phases.map(_.durationMs).sum))
    }
  }

  private val streamListener = new StreamingQueryListener {
    import StreamingQueryListener._
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = {
      lastEvent.set(System.nanoTime())
      progress.add(e.progress)
    }
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  }

  private var attached = false

  /** Register the listeners; the harness attaches around traced units
    * only, so untraced units in the same run pay no listener cost. */
  def attach(): Unit = if (!attached) {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
    attached = true
  }

  def detach(): Unit = if (attached) {
    settle()
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
    spark.streams.removeListener(streamListener)
    attached = false
  }

  /** Listener buses deliver asynchronously: wait until every started
    * job has ended and no event arrived for a short quiet period. */
  def settle(): Unit = {
    val deadline = System.nanoTime() + 10_000_000_000L
    while (System.nanoTime() < deadline &&
        (jobs.values.asScala.exists(_.end < 0) ||
          System.nanoTime() - lastEvent.get() < 300_000_000L))
      Thread.sleep(50)
  }

  def span(kind: String, name: String, t0: Long, t1: Long): Unit =
    spans.add((kind, name, t0, t1))

  def allJobs: Seq[Job] = jobs.values.asScala.toSeq.sortBy(_.id)

  /** Record that calls made between `startMs` and `endMs` (epoch ms)
    * belong to `group`. */
  def window(group: String, startMs: Long, endMs: Long): Unit =
    windows.add((group, startMs, endMs))

  /** Engine counters per group. Planning time goes to the group whose
    * window holds the execution's first planning phase; with no windows
    * recorded (ingest) it all belongs to the workload. */
  def countersByGroup: Map[String, Counters] = counters.synchronized {
    val ws = windows.asScala.toSeq
    planning.asScala.foreach { case (at, ms) =>
      val g = if (ws.isEmpty) "ingest"
        else ws.find { case (_, s, e) => s <= at && at <= e }.map(_._1)
          .getOrElse(Other)
      c(g).planningMs += ms
    }
    planning.clear()
    counters.toMap
  }

  /** Length of the union of the given [start, end] intervals. */
  def unionMs(iv: Seq[(Long, Long)]): Long = {
    var total, curS, curE = 0L
    var open = false
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (!open || s > curE) {
        if (open) total += curE - curS
        curS = s; curE = e; open = true
      } else curE = math.max(curE, e)
    }
    if (open) total += curE - curS
    total
  }

  /** The span tree as JSON lines: harness spans, then jobs. */
  def write(path: java.nio.file.Path): Unit = {
    val sb = new StringBuilder
    spans.asScala.foreach { case (kind, name, t0, t1) =>
      sb.append(Json.obj("type" -> "span", "kind" -> kind, "name" -> name,
        "start_ns" -> t0, "end_ns" -> t1)).append('\n')
    }
    progress.asScala.foreach { p =>
      sb.append(Json.obj("type" -> "batch", "batch_id" -> p.batchId,
        "input_rows" -> p.numInputRows,
        "duration_ms" -> p.durationMs.asScala.toSeq.sortBy(_._1)
          .map { case (k, v) => k -> (v.longValue: Any) }.toMap))
        .append('\n')
    }
    allJobs.foreach { j =>
      sb.append(Json.obj("type" -> "job", "job_id" -> j.id, "span" -> j.span,
        "batch_id" -> j.batch, "execution_id" -> j.exec,
        "start_ms" -> j.start, "end_ms" -> j.end)).append('\n')
    }
    java.nio.file.Files.writeString(path, sb.toString)
  }
}

object Trace {
  val SpanKey = "perfbench.span"

  /** A traced run's units (passes or drains): unit 0 is an untraced
    * extra warm-up that no metric uses, then odd units are traced and
    * even ones not, at least two of each. */
  val MinUnits = 5
  def tracedUnit(i: Int): Boolean = i % 2 == 1
  val Other = "other"

  /** `build:<family>:<query>` → family; `sink` and untagged → ingest. */
  def groupOf(span: String): String = span.split(':') match {
    case Array(_, fam, _) => fam
    case Array("check") => Other
    case _ => "ingest"
  }

  /** Run `body` with the span property set on the calling thread. */
  def tagged[T](spark: SparkSession, span: String)(body: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(SpanKey)
    sc.setLocalProperty(SpanKey, span)
    try body finally sc.setLocalProperty(SpanKey, prev)
  }
}

/** Timing decorator for the sink passed to `Ingest.start`: times each
  * group commit and tags its Spark jobs with the `sink` span. */
final class TimedSink(inner: BatchSink, trace: Trace) extends BatchSink {
  val writeAllNanos = new AtomicLong(0L)
  val failedFiles = new AtomicLong(0L)
  /** Wall-clock (epoch ms) interval of every group commit. */
  val intervals = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()

  override def write(fileName: String, raw: DataFrame, agg: DataFrame)
      : Boolean = inner.write(fileName, raw, agg)

  override def writeAll(fileNames: Seq[String], raw: DataFrame,
      agg: DataFrame): Set[String] = {
    val t0 = System.nanoTime()
    val ms0 = System.currentTimeMillis()
    val failed = Trace.tagged(raw.sparkSession, "sink") {
      inner.writeAll(fileNames, raw, agg)
    }
    val t1 = System.nanoTime()
    intervals.add((ms0, System.currentTimeMillis()))
    writeAllNanos.addAndGet(t1 - t0)
    failedFiles.addAndGet(failed.size)
    trace.span("sink.write_all", s"${fileNames.size} files", t0, t1)
    failed
  }
}
