package perfbench

import java.lang.management.ManagementFactory
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The engine-side benchmark harness; `run.py` starts it alongside the stub.
  *
  *   Harness --workload <w> --seed <n> --seconds <s> --trace <0|1>
  *           --work <dir> [--port <stub port>] [--sf <corpus dir>]
  *           [--goldens <file>] [--record-goldens <file>]
  *
  * Prints one JSON object as its last stdout line: `correct`,
  * `attempted`, `failed` and `metrics` (name -> value, unit).
  */
object Harness {

  final case class Opts(
      workload: String, seed: Long, seconds: Double, trace: Boolean, work: Path,
      port: Int, sf: String, goldens: Path, recordGoldens: Option[Path])

  final case class Metric(name: String, value: Double, unit: String)

  final case class Out(attempted: Int, failed: Int, metrics: Seq[Metric], failures: Map[String, String])

  val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = Paths.get(kv("work")).toAbsolutePath
    val o = Opts(kv("workload"), kv("seed").toLong, kv("seconds").toDouble,
      kv.getOrElse("trace", "0") == "1", work, kv.getOrElse("port", "0").toInt,
      kv.getOrElse("sf", ""), Paths.get(kv.getOrElse("goldens", "")),
      kv.get("record-goldens").map(Paths.get(_)))
    Files.createDirectories(work)
    val out =
      try o.workload match {
        case w if Profile.byWorkload.contains(w) => EnrichBench.run(o)
        case CatalogBench.Workload => CatalogBench.run(o)
        case w => sys.error(s"unknown workload $w")
      } catch { case e: Throwable =>
        // Spark's non-daemon threads would keep a failed JVM alive
        e.printStackTrace()
        sys.exit(1)
      }
    out.failures.toSeq.sortBy(_._1).take(20).foreach { case (k, why) =>
      System.err.println(s"[perfbench] FAILED $k: $why")
    }
    val metrics = (out.metrics :+ Metric("peak_rss_mb", peakRssMb(), "MB"))
      .filter(m => o.trace == traceOnly(m.name))
    val body = metrics.map(m => s""""${m.name}":{"value":${num(m.value)},"unit":"${m.unit}"}""")
      .mkString("{", ",", "}")
    println(s"""{"correct":${out.failed == 0},"attempted":${out.attempted},"failed":${out.failed},"metrics":$body}""")
    System.out.flush()
    // Spark's non-daemon threads must not keep the JVM alive
    sys.exit(0)
  }

  /** per-layer metrics are the dotted names; the rest are end to end */
  private def traceOnly(name: String): Boolean = name.contains('.')

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  /** VmHWM of this process */
  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  /** wall time since this JVM started, seconds */
  def sinceJvmStart(): Double =
    (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

  /** A fresh session, configured the way `graft.Main` configures its
    * own: `graft.Main` then reuses it and leaves it alone. */
  def session(o: Opts): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-${o.workload}")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.speculation", "false")
      .config("spark.local.dir", o.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", o.work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def stopSession(s: SparkSession): Unit = {
    s.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** Run `setup` `times` times, stopping the session between them, and
    * return the last session with the median set-up time. The first
    * set-up is timed from JVM start. */
  def timedSetups(o: Opts, times: Int)(setup: SparkSession => Unit): (SparkSession, Double) = {
    var spark: SparkSession = null
    val ts = (1 to times).map { k =>
      if (spark != null) stopSession(spark)
      val t0 = System.nanoTime()
      spark = session(o)
      setup(spark)
      val t = (System.nanoTime() - t0) / 1e9
      if (k == 1) sinceJvmStart() else t
    }
    System.err.println(f"[perfbench] set-up times ${ts.map(t => f"$t%.3f").mkString(" ")}")
    (spark, median(ts))
  }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def time[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def percentile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0 else s(math.min(s.size - 1, math.ceil(p * s.size).toInt - 1).max(0))
  }

  /** Repeat `pass` until `seconds` have gone by, at least `min` times. */
  def repeat[A](seconds: Double, min: Int)(pass: => A): Seq[A] = {
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    val out = Vector.newBuilder[A]
    var n = 0
    while (n < min || System.nanoTime() < deadline) { out += pass; n += 1 }
    out.result()
  }

  /** Client for the stub's control endpoints. */
  final class StubControl(port: Int) {
    private val http = HttpClient.newHttpClient()
    private val mapper = new ObjectMapper()
    private def call(path: String, post: Boolean): String = {
      val b = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
      val req = if (post) b.POST(HttpRequest.BodyPublishers.noBody()).build() else b.GET().build()
      http.send(req, HttpResponse.BodyHandlers.ofString(UTF_8)).body()
    }
    def reset(): Unit = call("/perfbench/reset", post = true)

    /** wait until the stub, started alongside this JVM, listens */
    def awaitReady(seconds: Double): Unit = {
      val deadline = System.nanoTime() + (seconds * 1e9).toLong
      while (scala.util.Try(reset()).isFailure) {
        if (System.nanoTime() > deadline) sys.error(s"stub on port $port did not come up")
        Thread.sleep(50)
      }
    }

    /** the epoch's requests, in arrival order */
    def log(): Seq[StubRequest] =
      mapper.readTree(call("/perfbench/stats", post = false)).path("log").elements().asScala.map { a =>
        StubRequest(a.get(0).asText(), a.get(1).asInt(), a.get(2).asInt(), a.get(3).asDouble(), a.get(4).asDouble())
      }.toVector
  }

  final case class StubRequest(id: String, ordinal: Int, status: Int, arrivalMs: Double, serviceMs: Double)
}
