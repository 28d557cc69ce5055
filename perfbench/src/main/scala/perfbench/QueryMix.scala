package perfbench

import scala.collection.immutable.ListMap
import scala.collection.mutable
import org.apache.spark.sql.{Row, SparkSession}
import graft.SparkEntry

/** query_mix: a closed loop with one client over 5 queries in five
  * families. Each query is built with `SparkEntry.queries(name)` and
  * its result written to the `noop` sink; the build and the action are
  * timed separately. The seed permutes the query order of every pass.
  */
object QueryMix {
  /** family → its query. One query per family keeps a run's cold check
    * pass short enough for several timed passes; see README.md. */
  val families: Map[String, String] = ListMap(
    "core" -> "q_agg_metrics",
    "dedup" -> "q_dedup_minhash",
    "vector" -> "q_sim_ivf",
    "text" -> "q_tfidf_top",
    "analytics" -> "q_join_salted")

  val familyOf: Map[String, String] = families.map(_.swap)
  val queries: Seq[String] = families.values.toSeq

  final case class Exec(pass: Int, query: String, family: String,
      buildS: Double, actionS: Double, traced: Boolean,
      error: Option[String]) {
    def wallS: Double = buildS + actionS
  }

  /** One timed execution: build, then write to the noop sink. */
  def runOne(spark: SparkSession, dir: String, q: String, pass: Int,
      trace: Option[Trace]): Exec = {
    val fam = familyOf(q)
    val ms0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    var t1 = t0
    val err = try {
      val df = Trace.tagged(spark, s"build:$fam:$q") {
        SparkEntry.queries(q)(spark, dir)
      }
      t1 = System.nanoTime()
      Trace.tagged(spark, s"action:$fam:$q") {
        df.write.format("noop").mode("overwrite").save()
      }
      None
    } catch {
      case scala.util.control.NonFatal(e) =>
        if (t1 == t0) t1 = System.nanoTime()
        Some(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300))
    }
    val t2 = System.nanoTime()
    System.err.println(f"[perfbench] pass $pass $q%-22s build ${(t1 - t0) / 1e9}%.3f s action ${(t2 - t1) / 1e9}%.3f s")
    trace.foreach { tr =>
      tr.span("query.build", q, t0, t1)
      tr.span("query.action", q, t1, t2)
      tr.window(fam, ms0, System.currentTimeMillis())
    }
    // Eager queries persist intermediates; free them between queries,
    // outside the timed window.
    spark.catalog.clearCache()
    Exec(pass, q, fam, (t1 - t0) / 1e9, (t2 - t1) / 1e9, trace.isDefined, err)
  }

  def order(seed: Long, pass: Int): Seq[String] =
    new scala.util.Random(seed * 1000003L + pass).shuffle(queries)

  /** Timed passes until `seconds` have elapsed, at least one. With a
    * trace, pass 0 is an untraced extra warm-up that neither side of
    * the tracing overhead uses; then odd passes are traced and even
    * ones not (at least five passes, so two of each). */
  def run(spark: SparkSession, dir: String, seed: Long, seconds: Double,
      trace: Option[Trace]): (Seq[Exec], Map[Int, (Double, Double)]) = {
    val out = mutable.ArrayBuffer.empty[Exec]
    val meters = mutable.Map.empty[Int, (Double, Double)]
    val t0 = System.nanoTime()
    var pass = 0
    val need = if (trace.isDefined) Trace.MinUnits else 1
    while (pass < need || (System.nanoTime() - t0) / 1e9 < seconds) {
      val tr = trace.filter(_ => Trace.tracedUnit(pass))
      val meter = new Main.UnitMeter
      tr.foreach(_.attach())
      val p0 = System.nanoTime()
      order(seed, pass).foreach(q => out += runOne(spark, dir, q, pass, tr))
      meters(pass) = meter.stop()
      tr.foreach { t =>
        t.span("pass", s"pass$pass", p0, System.nanoTime())
        t.detach()
      }
      pass += 1
    }
    (out.toSeq, meters.toMap)
  }

  /** Order-insensitive fingerprint of a query's result: row count plus
    * the sum of per-row 64-bit hashes of a canonical rendering with the
    * columns in name order. `oracle_fingerprints.py` renders DuckDB's
    * result of the oracle SQL the same way, so the rendering does not
    * depend on which numeric or timestamp type a side returns. */
  def fingerprint(columns: Seq[String], rows: Array[Row]): String = {
    val order = columns.zipWithIndex.sortBy(_._1).map(_._2)
    var sum = 0L
    rows.foreach(r => sum += hash64(order.map(i => canon(r.get(i))).mkString("(", ",", ")")))
    s"${rows.length}:${java.lang.Long.toHexString(sum)}"
  }

  private val mc = new java.math.MathContext(9)

  /** Integral numbers exactly; others rounded to 9 significant digits
    * (the relative tolerance of the DuckDB oracle compare) and written
    * as `<unscaled>e<exponent>`. */
  private def number(b: java.math.BigDecimal): String =
    if (b.signum == 0 || b.stripTrailingZeros.scale <= 0) b.toBigInteger.toString
    else {
      val r = b.round(mc).stripTrailingZeros
      s"${r.unscaledValue}e${-r.scale}"
    }

  private[perfbench] def canon(v: Any): String = v match {
    case null => "\u0000"
    case d: Double =>
      if (d.isNaN || d.isInfinite) d.toString else number(new java.math.BigDecimal(d))
    case f: Float => canon(f.toDouble)
    case b: java.math.BigDecimal => number(b)
    case n @ (_: Long | _: Int | _: Short | _: Byte) => n.toString
    // Timestamps as epoch microseconds, dates as epoch days.
    case t: java.sql.Timestamp =>
      "t" + (Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000)
    case t: java.time.Instant => "t" + (t.getEpochSecond * 1000000L + t.getNano / 1000)
    case t: java.time.LocalDateTime => canon(t.toInstant(java.time.ZoneOffset.UTC))
    case d: java.sql.Date => "d" + d.toLocalDate.toEpochDay
    case d: java.time.LocalDate => "d" + d.toEpochDay
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }.sorted
        .mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case b: Array[Byte] => b.map(x => f"$x%02x").mkString("0x", "", "")
    case other => other.toString
  }

  private def hash64(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    java.nio.ByteBuffer.wrap(d).getLong
  }

  /** The untimed check pass, which is also the warm-up: every query
    * once, in the fixed order, built and collected; returns each
    * query's fingerprint (or its error). */
  def checkPass(spark: SparkSession, dir: String): Map[String, String] =
    queries.map { q =>
      val t0 = System.nanoTime()
      val fp = try Trace.tagged(spark, "check") {
        val df = SparkEntry.queries(q)(spark, dir)
        fingerprint(df.schema.fieldNames.toSeq, df.collect())
      } catch {
        case scala.util.control.NonFatal(e) =>
          s"error: ${e.getClass.getSimpleName}: ${e.getMessage}".take(300)
      }
      spark.catalog.clearCache()
      System.err.println(f"[perfbench] check $q%-22s ${(System.nanoTime() - t0) / 1e9}%.3f s $fp")
      q -> fp
    }.toMap
}
