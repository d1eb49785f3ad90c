package graft.perfbench

import java.math.{MathContext, RoundingMode}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** Percentiles. */
object Stats {
  /** Linearly interpolated quantile (numpy's default); NaN when empty. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = (s.size - 1) * q
      val lo = math.floor(pos).toInt
      val hi = math.ceil(pos).toInt
      s(lo) + (pos - lo) * (s(hi) - s(lo))
    }

  /** Samples strictly above the nearest-rank p-th percentile of n. */
  def beyond(n: Int, p: Double): Int = n - math.ceil(p * n - 1e-9).toInt

  /** Nearest-rank p-th percentile; requires ten samples beyond it. */
  def tail(xs: Seq[Double], p: Double): Double = {
    require(beyond(xs.size, p) >= 10, s"p$p of ${xs.size} samples has fewer than 10 beyond it")
    xs.sorted.apply(math.ceil(p * xs.size - 1e-9).toInt - 1)
  }
}

/** Order-insensitive result fingerprints: row count plus the sum of a
  * 64-bit hash per row. Columns are taken in name order; floating
  * values are rounded to 10 significant digits so a different
  * summation order in a parallel aggregate reads the same. */
object Fingerprint {
  private val mc = new MathContext(10, RoundingMode.HALF_EVEN)

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else new java.math.BigDecimal(d).round(mc).stripTrailingZeros.toString

  def value(v: Any): String = v match {
    case null => "null"
    case d: Double => num(d)
    case f: Float => num(f.toDouble)
    case b: java.math.BigDecimal => b.stripTrailingZeros.toString
    case bs: Array[Byte] => bs.map("%02x".format(_)).mkString
    case other => other.toString
  }

  def row(r: Row): String =
    r.schema.fieldNames.zipWithIndex.sortBy(_._1)
      .map { case (n, i) => n + "=" + value(r.get(i)) }.mkString("(", "\u0001", ")")

  def hash64(s: String): Long = {
    val h1 = scala.util.hashing.MurmurHash3.stringHash(s, 0x1b873593)
    val h2 = scala.util.hashing.MurmurHash3.stringHash(s, 0x5bd1e995)
    (h1.toLong << 32) | (h2.toLong & 0xffffffffL)
  }

  def ofRows(rows: Iterable[Row]): String = {
    var n = 0L; var sum = 0L
    rows.foreach { r => n += 1; sum += hash64(row(r)) }
    f"$n%d:$sum%016x"
  }

  def of(df: DataFrame): String = ofRows(df.collect())
}

/** Recorded expected outputs, next to the benchmark in `perfbench/expected`. */
object Expected {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
  @volatile var dir: String = "perfbench/expected"

  private def read(name: String): Option[com.fasterxml.jackson.databind.JsonNode] = {
    val f = new java.io.File(dir, name)
    if (f.isFile) Some(mapper.readTree(f)) else None
  }

  /** query → fingerprint of its result over the generated tables. */
  lazy val headline: Map[String, String] = read("headline.json").map { n =>
    n.path("fingerprints").properties().asScala.map(e => e.getKey -> e.getValue.asText()).toMap
  }.getOrElse(Map.empty)

  /** seed → recommended "type|signature|score" list. */
  lazy val vis: Map[Long, Seq[String]] = read("vis_session.json").map { n =>
    n.path("lists").properties().asScala.map { e =>
      e.getKey.toLong -> e.getValue.elements().asScala.map(_.asText()).toSeq
    }.toMap
  }.getOrElse(Map.empty)

  def write(name: String, node: com.fasterxml.jackson.databind.JsonNode): Unit =
    mapper.writerWithDefaultPrettyPrinter().writeValue(new java.io.File(dir, name), node)

  def json: com.fasterxml.jackson.databind.ObjectMapper = mapper
}

/** Host-load labels: system-wide busy fraction from /proc/stat and the
  * 1-minute load average, so a run made on a busy host says so. */
object Host {
  final case class Load(busy: Double, load1: Double)

  def sample(): Load = Load(busyFraction(), load1())

  private def cpuTimes(): (Long, Long) = {
    val src = scala.io.Source.fromFile("/proc/stat")
    val f = try src.getLines().next().trim.split("\\s+").drop(1).take(8).map(_.toLong)
            finally src.close()
    (f.sum, f(3) + f(4)) // total(user..steal), idle+iowait
  }

  /** Non-idle share of all CPUs over a 200 ms window; -1 off Linux. */
  def busyFraction(): Double =
    try {
      val (t0, i0) = cpuTimes()
      Thread.sleep(200)
      val (t1, i1) = cpuTimes()
      if (t1 > t0) 1.0 - (i1 - i0).toDouble / (t1 - t0) else -1.0
    } catch { case NonFatal(_) => -1.0 }

  def load1(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/loadavg")
      try src.mkString.trim.split("\\s+").head.toDouble finally src.close()
    } catch { case NonFatal(_) => -1.0 }

  /** CPU time this JVM has used, all threads (JIT and GC included). */
  def processCpuSeconds(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e9
      case _ => Double.NaN
    }

  /** Peak resident set of this process (VmHWM), in MiB; -1 off Linux. */
  def peakRssMb(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/self/status")
      try src.getLines().find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024)
        .getOrElse(-1.0)
      finally src.close()
    } catch { case NonFatal(_) => -1.0 }
}

/** The one session factory: `local[n]` with n shuffle partitions,
  * n = the CPUs this JVM may use. */
object Session {
  def create(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def stop(spark: SparkSession): Unit = {
    graft.CacheScope.releaseAll()
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }
}
