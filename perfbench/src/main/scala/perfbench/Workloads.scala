package perfbench

import java.nio.file.{Files, Path}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** Layer metrics shared by the workloads. */
object Layers {
  /** `spark.*` engine counters, divided by `per` (passes or drains)
    * except the peak; utilization is executor time over wall × cores. */
  def spark(k: Trace#Counters, wallS: Double, cores: Int, per: Double,
      suffix: String): Map[String, Double] = Map(
    "spark.planning_s" -> k.planningMs / 1e3 / per,
    "spark.stages" -> k.stages / per,
    "spark.tasks" -> k.tasks / per,
    "spark.single_task_stages" -> k.singleTaskStages / per,
    "spark.executor_run_s" -> k.runMs / 1e3 / per,
    "spark.executor_cpu_s" -> k.cpuNs / 1e9 / per,
    "spark.gc_s" -> k.gcMs / 1e3 / per,
    "spark.shuffle_read_bytes" -> k.shuffleRead / per,
    "spark.shuffle_write_bytes" -> k.shuffleWrite / per,
    "spark.spill_bytes" -> k.spill / per,
    "spark.peak_exec_mem_bytes" -> k.peakMem.toDouble,
    "spark.core_utilization" ->
      (if (wallS > 0) k.runMs / 1e3 / (wallS * cores) else 0.0),
  ).map { case (n, v) => (n + suffix) -> v }

  def merge(trace: Trace, groups: Iterable[Trace#Counters]): Trace#Counters = {
    val t = new trace.Counters
    groups.foreach { k =>
      t.stages += k.stages; t.tasks += k.tasks
      t.singleTaskStages += k.singleTaskStages; t.runMs += k.runMs
      t.cpuNs += k.cpuNs; t.gcMs += k.gcMs; t.shuffleRead += k.shuffleRead
      t.shuffleWrite += k.shuffleWrite; t.spill += k.spill
      t.peakMem = math.max(t.peakMem, k.peakMem)
      t.planningMs += k.planningMs
    }
    t
  }

  /** `stream.*`, `ops.*` and `sink.*` from the traced micro-batches. */
  def ingest(trace: Trace, sink: Seq[TimedSink], runs: Seq[IngestRun],
      per: Double): Map[String, Double] = {
    val batches = trace.progress.asScala.toSeq.filter(_.numInputRows > 0)
    def ms(p: org.apache.spark.sql.streaming.StreamingQueryProgress,
        k: String): Long =
      Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
    val jobs = trace.allJobs.filter(j => j.batch >= 0 && j.end >= 0)
    val byBatch = jobs.groupBy(_.batch)
    // Batch ids restart with every stream: a job belongs to the batch
    // with its id whose trigger window holds it. Driver time is addBatch
    // minus the union of the batch's validate jobs and sink calls, so
    // validate + sink + driver partitions addBatch.
    val sinkSpans = sink.flatMap(_.intervals.asScala)
    var driverMs, validateMs = 0L
    batches.foreach { p =>
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli
      val end = start + ms(p, "triggerExecution")
      val inWindow = (s: Long, e: Long) => s >= start - 5 && e <= end + 5
      val validate = byBatch.getOrElse(p.batchId, Nil)
        .filter(j => j.span != "sink" && inWindow(j.start, j.end))
        .map(j => (j.start, j.end))
      val sinks = sinkSpans.filter { case (s, e) => inWindow(s, e) }
      driverMs += math.max(0L,
        ms(p, "addBatch") - trace.unionMs(validate ++ sinks))
      validateMs += trace.unionMs(validate)
    }
    val sumMs = (k: String) => batches.map(ms(_, k)).sum / 1e3 / per
    val validateJobs = jobs.count(j => j.span != "sink")
    val sinkJobs = jobs.count(_.span == "sink")
    val (files, bytes) = runs.map(_.sinkFiles()).foldLeft((0L, 0L)) {
      case ((a, b), (c, d)) => (a + c, b + d)
    }
    def status(s: String) = runs.map(_.statusCounts.getOrDefault(s, 0)).sum
    Map(
      "stream.batches" -> batches.size / per,
      "stream.trigger_s" -> sumMs("triggerExecution"),
      "stream.list_s" -> (sumMs("latestOffset") + sumMs("getBatch")),
      "stream.wal_commit_s" -> (sumMs("walCommit") + sumMs("commitOffsets")),
      "stream.batch_s" -> sumMs("addBatch"),
      "stream.batch_driver_s" -> driverMs / 1e3 / per,
      "stream.batch_jobs" -> jobs.size / per,
      "stream.backlog_files_max" ->
        runs.map(_.maxFilesPerBatch).foldLeft(0)(math.max).toDouble,
      "ops.validate_jobs_s" -> validateMs / 1e3 / per,
      "ops.validate_jobs" -> validateJobs / per,
      "sink.write_all_s" -> sink.map(_.writeAllNanos.get).sum / 1e9 / per,
      "sink.write_all_jobs" -> sinkJobs / per,
      "sink.files_written" -> files / per,
      "sink.bytes_written" -> bytes / per,
      "sink.failed_files" -> sink.map(_.failedFiles.get).sum / per,
      "routing.processed_files" -> status("processed") / per,
      "routing.quarantined_files" -> status("quarantined") / per,
      "routing.retried_files" ->
        (status("retained") + status("move_deferred_failed")) / per,
    )
  }

  def unit(wallS: Double, meter: (Double, Double),
      traced: Boolean): Map[String, Any] =
    Map("wall_s" -> wallS, "cpu_s" -> meter._1, "heap_mb" -> meter._2,
      "traced" -> traced)
}

final class QueryMixWorkload(spark: SparkSession, a: Main.Args,
    trace: Option[Trace]) extends Workload {
  private val cores = a.int("cores")
  private var execs: Seq[QueryMix.Exec] = Nil
  private var passMeters = Map.empty[Int, (Double, Double)]

  private var fingerprints = Map.empty[String, String]

  def warm(): Unit = fingerprints = QueryMix.checkPass(spark, a.str("tables"))

  def run(seconds: Double): Unit = {
    val (e, meters) = QueryMix.run(spark, a.str("tables"), a.str("seed").toLong,
      seconds, trace)
    execs = e
    passMeters = meters
  }

  def report(): Map[String, Any] = {
    val passes = execs.groupBy(_.pass).toSeq.sortBy(_._1)
    val units = passes.map { case (p, es) =>
      Layers.unit(es.map(_.wallS).sum, passMeters(p), es.head.traced)
    }
    val out = mutable.LinkedHashMap[String, Any](
      "units" -> units,
      "execs" -> execs.map(e =>
        Map("query" -> e.query, "s" -> e.wallS, "traced" -> e.traced)),
      "attempted" -> execs.size,
      "errors" -> execs.flatMap(e => e.error.map(e.query + ": " + _)).distinct,
      "executions" -> execs.groupBy(_.query).map { case (q, es) => q -> es.size },
      "fingerprints" -> fingerprints)
    trace.foreach(t => out("layers") = layers(t))
    out.toMap
  }

  private def layers(t: Trace): Map[String, Double] = {
    val traced = execs.filter(_.traced)
    // The untraced passes after the extra warm-up give the family walls,
    // a figure independent of the traced build and action spans.
    val untraced = execs.filter(e => !e.traced && e.pass > 0)
    val per = traced.map(_.pass).distinct.size.toDouble
    val groups = t.countersByGroup
    val jobs = t.allJobs
    // Sum over queries of each query's median wall.
    def total(es: Seq[QueryMix.Exec]) =
      es.groupBy(_.query).values.map(x => Stats.median(x.map(_.wallS))).sum
    val m = mutable.Map.empty[String, Double]
    QueryMix.families.foreach { case (f, _) =>
      val es = traced.filter(_.family == f)
      m(s"query_${f}_s") = total(untraced.filter(_.family == f))
      m(s"entry.build_s.$f") = es.map(_.buildS).sum / per
      m(s"entry.action_s.$f") = es.map(_.actionS).sum / per
      m(s"entry.build_jobs.$f") = jobs.count(_.span.startsWith(s"build:$f:")) / per
      m(s"entry.action_jobs.$f") = jobs.count(_.span.startsWith(s"action:$f:")) / per
      val k = groups.getOrElse(f, new t.Counters)
      m ++= Layers.spark(k, es.map(_.wallS).sum, cores, per, s".$f")
    }
    m("query_mix_s") = total(untraced)
    m ++= Layers.spark(
      Layers.merge(t, QueryMix.families.keys.flatMap(groups.get)),
      traced.map(_.wallS).sum, cores, per, "")
    m("tracing_overhead") = total(traced) / total(untraced) - 1.0
    m.toMap
  }
}

final class BacklogWorkload(spark: SparkSession, a: Main.Args,
    trace: Option[Trace]) extends Workload {
  private val work = a.path("work")
  private val cores = a.int("cores")
  private final case class Drain(i: Int, run: IngestRun, start: Long, end: Long,
      meter: (Double, Double), traced: Boolean) {
    def wallS: Double = (end - start) / 1e9
  }
  private val drains = mutable.ArrayBuffer.empty[Drain]

  def warm(): Unit = {
    val (_, s, e) = IngestRun.drainCopy(spark, a.path("corpus"),
      work.resolve("warm"), None)
    System.err.println(f"[perfbench] warm drain ${(e - s) / 1e9}%.3f s")
  }

  /** Drains of the same corpus until `seconds` have elapsed, at least
    * one; a traced run alternates as in [[QueryMix.run]]. */
  def run(seconds: Double): Unit = {
    val t0 = System.nanoTime()
    val need = if (trace.isDefined) Trace.MinUnits else 1
    var i = 0
    while (i < need || (System.nanoTime() - t0) / 1e9 < seconds) {
      val tr = trace.filter(_ => Trace.tracedUnit(i))
      val meter = new Main.UnitMeter
      tr.foreach(_.attach())
      val (run, s, e) = IngestRun.drainCopy(spark, a.path("corpus"),
        work.resolve(s"drain$i"), tr)
      drains += Drain(i, run, s, e, meter.stop(), tr.isDefined)
      System.err.println(f"[perfbench] drain $i ${(e - s) / 1e9}%.3f s")
      tr.foreach { t =>
        t.span("drain", s"drain$i", s, e)
        t.detach()
      }
      i += 1
    }
  }

  def report(): Map[String, Any] = {
    val checks = drains.map { d =>
      val (raw, agg) = d.run.sinkRows()
      Map("root" -> d.run.root.toString, "raw_rows" -> raw, "agg_rows" -> agg,
        "statuses" -> d.run.delivered.asScala.toMap)
    }
    val out = mutable.LinkedHashMap[String, Any](
      "units" -> drains.map(d => Layers.unit(d.wallS, d.meter, d.traced)),
      "drains" -> checks)
    trace.foreach { t =>
      val traced = drains.filter(_.traced)
      val per = traced.size.toDouble
      val m = mutable.Map.empty[String, Double]
      m ++= Layers.ingest(t, traced.flatMap(_.run.sink).toSeq,
        traced.map(_.run).toSeq, per)
      val wall = traced.map(_.wallS).sum
      m ++= Layers.spark(Layers.merge(t, t.countersByGroup
        .filter(_._1 == "ingest").values), wall, cores, per, "")
      // The untraced drains after the extra warm-up give the rate.
      val untraced = drains.filter(d => !d.traced && d.i > 0).map(_.wallS).toSeq
      val rows = a.str("corpus_rows").toDouble
      m("ingest_rows_per_s") = rows / Stats.median(untraced)
      m("tracing_overhead") =
        Stats.median(traced.map(_.wallS).toSeq) / Stats.median(untraced) - 1.0
      out("layers") = m.toMap
    }
    out.toMap
  }
}
