package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side. `perfbench/run.py` prepares the inputs,
  * launches this class with `key=value` arguments, and checks the
  * outputs; this class sets up Spark, runs one workload, measures it
  * and writes `result.json` (plus `trace.jsonl` on a traced run) into
  * its working directory.
  */
object Main {
  final class Args(args: Array[String]) {
    private val m = args.map { a =>
      val i = a.indexOf('=')
      a.take(i) -> a.drop(i + 1)
    }.toMap
    def str(k: String): String =
      m.getOrElse(k, throw new IllegalArgumentException(s"missing $k="))
    def path(k: String): Path = Paths.get(str(k)).toAbsolutePath
    def int(k: String): Int = str(k).toInt
    def dbl(k: String): Double = str(k).toDouble
    def flag(k: String): Boolean = m.get(k).contains("1")
  }

  def epochNs(): Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000000L + i.getNano
  }

  private val os = java.lang.management.ManagementFactory
    .getOperatingSystemMXBean.asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def cpuNs(): Long = os.getProcessCpuTime

  def session(cores: Int, work: Path): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", work.resolve("spark-warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.Tables.prepare(spark)
    spark
  }

  /** Process CPU and heap use of one timed unit (pass or drain). The
    * unit starts after a full collection, so it starts from the live
    * heap rather than from the garbage of the units before it. */
  final class UnitMeter {
    System.gc()
    HeapWatch.takePeak()
    private val c0 = cpuNs()

    /** CPU seconds, and the largest heap occupancy after a collection
      * in MB, since the unit started. */
    def stop(): (Double, Double) =
      ((cpuNs() - c0) / 1e9, HeapWatch.takePeak() / (1024.0 * 1024))
  }

  /** Fixed CPU-bound probe: host weather, reported only. */
  @volatile private var calibSink = 0L
  def calibrate(): Double = {
    val t0 = System.nanoTime()
    var x = 0x9E3779B97F4A7C15L
    var i = 0
    while (i < 300000000) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      i += 1
    }
    calibSink = x
    (System.nanoTime() - t0) / 1e9
  }

  /** Peak resident memory outside the heap, in MB: `VmHWM` less the
    * committed heap, which `AlwaysPreTouch` keeps resident from the
    * moment it is committed. */
  def offHeapPeakMb(): Double = {
    val hwmKb = Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble).getOrElse(0.0)
    val mb = hwmKb / 1024 - HeapWatch.maxCommitted / (1024.0 * 1024)
    System.err.println(f"[perfbench] VmHWM ${hwmKb / 1024}%.1f MB, heap committed ${HeapWatch.maxCommitted / (1024.0 * 1024)}%.1f MB")
    mb
  }

  def main(argv: Array[String]): Unit = {
    val a = new Args(argv)
    val work = a.path("work")
    val cores = a.int("cores")
    val traced = a.flag("trace")
    val seconds = a.dbl("seconds")
    val result = mutable.LinkedHashMap.empty[String, Any]
    HeapWatch.install()

    val spark = session(cores, work)
    val trace = if (traced) Some(new Trace(spark)) else None
    // Workload-specific warm-up, then the set-up clock stops.
    val workload: Workload = a.str("workload") match {
      case "query_mix" => new QueryMixWorkload(spark, a, trace)
      case "ingest_backlog" => new BacklogWorkload(spark, a, trace)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    workload.warm()
    result("setup_s") = (epochNs() - a.str("launch_ns").toLong) / 1e9

    workload.run(seconds)
    result ++= workload.report()
    trace.foreach(_.write(work.resolve("trace.jsonl")))
    result("calib_s") = calibrate()
    System.err.println(s"[perfbench] setup_s ${result("setup_s")} calib_s ${result("calib_s")}")
    result("offheap_peak_mb") = offHeapPeakMb()
    Files.writeString(work.resolve("result.json"), Json.value(result.toMap))
    spark.stop()
  }
}

/** One workload: warm-up (part of set-up), the timed run, and a report
  * of measurements and check observations for run.py. */
trait Workload {
  def warm(): Unit
  def run(seconds: Double): Unit
  def report(): Map[String, Any]
}

/** Heap occupancy after each collection, from the collectors' JMX
  * notifications: the largest occupancy since the last `takePeak`, and
  * the largest committed heap seen over the run. */
object HeapWatch {
  import java.lang.management.{ManagementFactory, MemoryType}
  import javax.management.{Notification, NotificationEmitter}
  import javax.management.openmbean.CompositeData
  import com.sun.management.GarbageCollectionNotificationInfo

  private var peak = 0L
  @volatile var maxCommitted = 0L

  def takePeak(): Long = synchronized { val p = peak; peak = 0L; p }

  private lazy val heapPools: Set[String] =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet

  private def onGc(n: Notification): Unit =
    if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val after = GarbageCollectionNotificationInfo
        .from(n.getUserData.asInstanceOf[CompositeData]).getGcInfo
        .getMemoryUsageAfterGc.asScala.filter(p => heapPools(p._1)).values
      synchronized {
        peak = math.max(peak, after.map(_.getUsed).sum)
        maxCommitted = math.max(maxCommitted, after.map(_.getCommitted).sum)
      }
    }

  def install(): Unit = {
    maxCommitted = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getCommitted
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter =>
        e.addNotificationListener((n: Notification, _: AnyRef) => onGc(n), null, null)
      case _ =>
    }
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    val m = s.size / 2
    if (s.size % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2
  }
}
