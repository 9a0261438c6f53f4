package graft.perfbench

import java.io.File

import scala.collection.mutable

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** One benchmark run in a fresh JVM: `graft.perfbench.Harness --workload W
  * --dir RUN --seed N --trace 0|1`. `RUN/inputs` holds the
  * generator's files; everything the run writes goes under `RUN`. The last
  * stdout line is one JSON object: the metrics, the set-up seconds spent
  * in this JVM, and the attempted/failed counts. */
object Harness {

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val t0 = System.nanoTime
    val cores = Runtime.getRuntime.availableProcessors
    val spark = Bench.session(cores, a("dir"))
    val c = new Ctx(spark, a("dir"), a("seed").toLong, a("trace") == "1", cores)
    c.setupS += Bench.secs(t0)
    try a("workload") match {
      case "infer"        => Infer.run(c)
      case "ingest_state" => IngestState.run(c)
      case "query_mix"    => QueryMix.run(c)
      case w              => throw new IllegalArgumentException(s"unknown workload $w")
    } finally SparkSession.active.stop()
    c.put("peak_rss_mb", Bench.peakRssMb())
    println(c.json)
  }
}

/** Run state: the session, the run directory, the arguments, and what the
  * run has measured so far. */
final class Ctx(var spark: SparkSession, val dir: String, val seed: Long,
    val trace: Boolean, val cores: Int) {
  val inputs = s"$dir/inputs"
  var setupS = 0.0
  var attempted = 0L
  var failed = 0L
  private val metrics = mutable.LinkedHashMap.empty[String, Double]

  /** Record a metric; the caller picks the end-to-end or the per-layer
    * set by name. */
  def put(name: String, v: Double): Unit = metrics(name) = v

  /** Count one output check; a failed one is logged and counted. */
  def check(name: String, ok: Boolean, detail: => String = ""): Unit = {
    attempted += 1
    if (!ok) {
      failed += 1
      System.err.println(s"[perfbench] check failed: $name $detail")
    }
  }

  def json: String = {
    val ms = metrics.map { case (k, v) => "\"" + k + "\": " + Bench.num(v) }
    s"""{"setup_s": ${Bench.num(setupS)}, "attempted": $attempted, "failed": $failed, """ +
      s""""metrics": {${ms.mkString(", ")}}}"""
  }
}

object Bench {

  /** The engine's own local session shape (`Sessions.local`): local[cores],
    * shuffle partitions = cores, UTC, plus `Sessions.EngineConfs`. Scratch
    * and warehouse directories stay inside the run directory. */
  def session(cores: Int, dir: String): SparkSession = {
    val s = graft.Sessions.tune(SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$dir/spark-local")
      .config("spark.sql.warehouse.dir", s"$dir/warehouse")
      .config("spark.sql.streaming.numRecentProgressUpdates", "10000"))
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def timed[A](f: => A): (A, Long) = {
    val t = System.nanoTime
    val a = f
    (a, System.nanoTime - t)
  }

  def secs(t0: Long): Double = (System.nanoTime - t0) / 1e9

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  def readJson(path: String): JsonNode = new ObjectMapper().readTree(new File(path))

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024
    }.getOrElse(0.0)
    finally src.close()
  }

  /** Bytes and files under a directory (0, 0 when absent). */
  def du(path: String): (Long, Long) = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(walk) else Seq(f)
    val files = walk(new File(path)).filter(f => f.isFile && !f.getName.startsWith("."))
    (files.map(_.length).sum, files.size.toLong)
  }

  /** Order-insensitive digest of rows: doubles and floats rounded to six
    * significant digits, rows sorted, md5 of the lines. */
  def digest(rows: Seq[Row]): String = {
    def fmt(v: Any): String = v match {
      case d: Double => round(d)
      case f: Float => round(f.toDouble)
      case o => String.valueOf(o)
    }
    val md = java.security.MessageDigest.getInstance("MD5")
    rows.map(_.toSeq.map(fmt).mkString("|")).sorted
      .foreach(l => md.update((l + "\n").getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  private def round(d: Double): String =
    if (d.isNaN || d.isInfinite || d == 0.0) d.toString
    else new java.math.BigDecimal(d).round(new java.math.MathContext(6)).stripTrailingZeros.toPlainString

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
}
