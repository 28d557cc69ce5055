package perfbench

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentHashMap
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import graft.config.PipelineConf
import graft.sink.{BatchSink, ParquetSink}
import graft.stream.Ingest

/** Drives `Ingest.start` over a prepared directory tree and records
  * each file's last `onBatch` outcome. */
final class IngestRun(spark: SparkSession, val root: Path,
    trace: Option[Trace]) {
  val data: Path = Files.createDirectories(root.resolve("data"))
  val conf: PipelineConf = PipelineConf(
    dataDir = data.toString,
    processedDir = root.resolve("processed").toString,
    quarantineDir = root.resolve("quarantine").toString,
    checkpointDir = root.resolve("checkpoint").toString,
    monitorIntervalSec = 1,
    strictMode = true)
  private val parquet =
    new ParquetSink(root.resolve("raw").toString, root.resolve("agg").toString)
  val sink: Option[TimedSink] = trace.map(new TimedSink(parquet, _))

  /** file → status of its last outcome. */
  val delivered = new ConcurrentHashMap[String, String]()
  @volatile var maxFilesPerBatch = 0
  val statusCounts = new ConcurrentHashMap[String, Int]()

  private def onBatch(outcomes: Seq[Ingest.FileOutcome]): Unit = {
    outcomes.foreach { o =>
      delivered.put(o.file, o.status)
      statusCounts.merge(o.status, 1, Integer.sum)
    }
    val files = outcomes.map(_.file).distinct.size
    if (files > maxFilesPerBatch) maxFilesPerBatch = files
  }

  private var query: org.apache.spark.sql.streaming.StreamingQuery = _
  var startNs = 0L

  def start(): Unit = {
    startNs = System.nanoTime()
    query = Ingest.start(spark, conf, sink.getOrElse(parquet: BatchSink),
      onBatch)
  }

  /** Block until every available file is processed; returns the time. */
  def drain(): Long = { query.processAllAvailable(); System.nanoTime() }

  def stop(): Unit = query.stop()

  /** Untimed check counts: rows in the raw and aggregate sink tables. */
  def sinkRows(): (Long, Long) = Trace.tagged(spark, "check") {
    def count(d: String) =
      if (Files.isDirectory(root.resolve(d)))
        spark.read.parquet(root.resolve(d).toString).count()
      else 0L
    (count("raw"), count("agg"))
  }

  /** Parquet files and bytes the sink left in raw/ and agg/. */
  def sinkFiles(): (Long, Long) = {
    var n, bytes = 0L
    Seq("raw", "agg").map(root.resolve).filter(Files.isDirectory(_))
      .foreach { d =>
        val s = Files.walk(d)
        try s.iterator.asScala
          .filter(p => p.getFileName.toString.endsWith(".parquet"))
          .foreach { p => n += 1; bytes += Files.size(p) }
        finally s.close()
      }
    (n, bytes)
  }
}

object IngestRun {
  def csvFiles(dir: Path): Seq[Path] = {
    val s = Files.list(dir)
    try s.iterator.asScala.filter(_.toString.endsWith(".csv")).toSeq
      .sortBy(_.getFileName.toString)
    finally s.close()
  }

  /** Copy a corpus into a fresh tree's data/ and drain it as one
    * micro-batch. Returns the run and (start, end) of the drain. */
  def drainCopy(spark: SparkSession, corpus: Path, root: Path,
      trace: Option[Trace]): (IngestRun, Long, Long) = {
    val run = new IngestRun(spark, root, trace)
    csvFiles(corpus).foreach(p => Files.copy(p, run.data.resolve(p.getFileName)))
    run.start()
    val end = try run.drain() finally run.stop()
    (run, run.startNs, end)
  }
}
