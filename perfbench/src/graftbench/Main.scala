package graftbench

import java.lang.management.ManagementFactory
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.GraftSession
import graft.serving.OtlpHttp
import graft.sources.LakeIndex

/** One run of one workload: generate inputs from the seed, set up
  * (several times, median reported), measure for `--seconds`, check
  * every output, and write the result object the runner prints.
  */
final class Ctx(val workload: String, val seed: Long, val seconds: Int, val traced: Boolean,
                val work: Path, val reports: Path) {
  val cores = 4
  private var session: SparkSession = _
  private val failures = new AtomicLong(0)
  private val attempts = new AtomicLong(0)

  def spark: SparkSession = session

  /** (Re)start the session; returns seconds taken. */
  def startSession(): Double = {
    val s = System.nanoTime()
    if (session != null) session.stop()
    session = GraftSession.builder("perfbench", cores)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    session.sparkContext.setLogLevel("ERROR")
    (System.nanoTime() - s) / 1e9
  }

  private val t0 = System.nanoTime()
  /** Progress line on stderr (the runner keeps it in the run's log). */
  def log(msg: String): Unit = System.err.println(f"[perfbench ${(System.nanoTime() - t0) / 1e9}%7.2fs] $msg")

  def attempt(): Unit = attempts.incrementAndGet()
  def attempted: Long = attempts.get
  def failed: Long = failures.get

  /** Count a failed op (an exception or a wrong answer). */
  def fail(what: String): Unit = {
    if (failures.incrementAndGet() <= 20) System.err.println(s"[perfbench] FAIL $what")
  }

  def check(ok: Boolean, what: => String): Unit = if (!ok) fail(what)

  def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.replaceAll("[^0-9]", "").toDouble / 1024.0)
      .getOrElse(Double.NaN)
}

/** What a workload reports: the gated end-to-end metrics (by their
  * generic names), the workload's own named end-to-end metrics, and
  * per-layer metrics (traced runs).
  */
final case class Metric(name: String, value: Double, unit: String)

final case class Outcome(e2e: Seq[Metric], named: Seq[Metric], layers: Seq[Metric])

/** OTLP/HTTP client side shared by the workloads. */
object Otlp {
  val client: HttpClient = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()

  /** POST one body; returns the status. */
  def post(port: Int, p: Gen.Post): Int = {
    val b = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/v1/logs"))
      .header("Content-Type", "application/json")
    if (p.gzipped) b.header("Content-Encoding", "gzip")
    client.send(b.POST(HttpRequest.BodyPublishers.ofByteArray(p.body)).build(),
      HttpResponse.BodyHandlers.discarding()).statusCode()
  }

  /** Build a lake through the real ingest path: POST every body to a
    * fresh [[OtlpHttp]] edge, flush after every `flushEvery` batches and
    * after the last (each flush writes and registers its files), then
    * stop. Flush timings go to `t` as layer samples. Returns (rows
    * landed, quarantined).
    */
  def ingest(ctx: Ctx, t: Tracer, root: String, posts: Seq[Gen.Post], flushEvery: Int): (Long, Long) = {
    val spark = ctx.spark
    val server = OtlpHttp.start(spark, root)
    var rows = 0L
    var quarantined = 0L
    def flush(): Unit = {
      val s = System.nanoTime()
      val (r, q) = server.flush()
      val secs = (System.nanoTime() - s) / 1e9
      t.rec("serving.flush_s", secs)
      ctx.log(f"flush: $r rows, $q quarantined in $secs%.2f s")
      t.rec("serving.flush_rows", r.toDouble)
      t.rec("serving.flush_quarantined", q.toDouble)
      rows += r; quarantined += q
    }
    try {
      posts.zipWithIndex.foreach { case (p, i) =>
        val status = post(server.port, p)
        ctx.check(status == 200, s"setup POST seq=${p.seq} answered $status")
        val last = i + 1 == posts.length
        if (last || (posts(i + 1).seq != p.seq && (p.seq + 1) % flushEvery == 0)) flush()
      }
    } finally server.stop()
    (rows, quarantined)
  }

  /** Build the trace_id bloom and body-token sidecars. */
  def buildSidecars(ctx: Ctx, t: Tracer, root: String): Unit = {
    val s = System.nanoTime()
    LakeIndex.build(ctx.spark, root, "trace_id")
    LakeIndex.buildTokens(ctx.spark, root, "body")
    t.rec("index.build_s", (System.nanoTime() - s) / 1e9)
  }
}

object Main {
  private def arg(args: Array[String], name: String): String = {
    val i = args.indexOf(s"--$name")
    require(i >= 0 && i + 1 < args.length, s"missing --$name")
    args(i + 1)
  }

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else java.math.BigDecimal.valueOf(v).toPlainString

  def main(args: Array[String]): Unit = {
    val workload = arg(args, "workload")
    val ctx = new Ctx(workload, arg(args, "seed").toLong, arg(args, "seconds").toInt,
      arg(args, "trace") == "1", Paths.get(arg(args, "work")), Paths.get(arg(args, "reports")))
    Files.createDirectories(ctx.reports)
    val w: Workload = workload match {
      case "dashboard" => new Dashboard(ctx)
      case "curate" => new Curate(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val out = w.run()
    ctx.log("workload done")
    val rss = ctx.peakRssMb()
    val e2e = out.e2e :+ Metric("peak_rss_mb", rss, "MB")
    val named = out.named ++ Seq(
      Metric("failed_share", ctx.failed.toDouble / math.max(1L, ctx.attempted), "ratio"),
      Metric("peak_rss_mb", rss, "MB"))
    named.foreach(m => println(f"metric ${m.name}%-22s ${num(m.value)}%14s ${m.unit}"))
    if (ctx.traced) out.layers.foreach(m => println(f"layer  ${m.name}%-28s ${num(m.value)}%14s ${m.unit}"))
    val common = Layers.Common.map(_._1).toSet
    val shown = if (ctx.traced) out.layers.filter(m => common(m.name)) else e2e
    val metrics = shown.map(m => s""""${m.name}":{"value":${num(m.value)},"unit":"${m.unit}"}""")
    val json = s"""{"correct":${ctx.failed == 0},"attempted":${ctx.attempted},""" +
      s""""failed":${ctx.failed},"metrics":{${metrics.mkString(",")}}}"""
    val named0 = named.map(m => s""""${m.name}":${num(m.value)}""").mkString(",")
    Files.writeString(ctx.reports.resolve(s"$workload-${ctx.seed}-${if (ctx.traced) "traced" else "plain"}.json"),
      s"""{"result":$json,"named":{$named0}}""")
    Files.writeString(Paths.get(arg(args, "out")), json)
    ctx.spark.stop()
    ctx.log("session stopped")
  }
}

trait Workload {
  def run(): Outcome
}
