package graftbench

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.zip.GZIPOutputStream

import scala.collection.mutable

/** Seeded input generator. The same seed gives the same bytes: every
  * draw goes through [[Rng]] (SplitMix64), never wall-clock time or
  * hash-map order. graft only ever sees what this writes (OTLP/JSON
  * POST bodies and `documents.parquet` shards); the ground truth stays
  * on the benchmark's side of the wall.
  */
object Gen {

  final class Rng(seed: Long) {
    private var s = seed
    def long(): Long = {
      s += 0x9E3779B97F4A7C15L
      var z = s
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^ (z >>> 31)
    }
    def int(n: Int): Int = java.lang.Math.floorMod(long(), n.toLong).toInt
    def double(): Double = (long() >>> 11).toDouble / (1L << 53).toDouble
    def chance(p: Double): Boolean = double() < p
    def pick(cdf: Array[Double]): Int = {
      val x = double() * cdf.last
      val i = java.util.Arrays.binarySearch(cdf, x)
      math.min(cdf.length - 1, if (i >= 0) i + 1 else -i - 1)
    }
  }

  def mix(a: Long, b: Long): Long = new Rng(a * 0x632BE59BD9B4E019L + b).long()

  def cdf(weights: Seq[Double]): Array[Double] = weights.scanLeft(0.0)(_ + _).tail.toArray

  // ---- OTLP logs ---------------------------------------------------------

  val Services = 10
  val Severities: Array[String] = Array("TRACE", "DEBUG", "INFO", "WARN", "ERROR", "FATAL")
  val SevNumbers: Array[Int] = Array(1, 5, 9, 13, 17, 21)
  val Envs: Array[String] = Array("prod", "staging", "canary")
  /** Planted rare search tokens `fault0` .. `fault19`. Each (service,
    * day) cell carries exactly one of them, so a term lives in a few
    * (service, day) partitions and the token sidecar can prune.
    */
  val Terms = 20
  val TraceRows = 6
  val DayUs: Long = 86400L * 1000000L
  private val Words = Array("request", "served", "cache", "miss", "hit", "user", "login",
    "order", "payment", "queue", "worker", "started", "finished", "retry", "timeout",
    "db", "query", "took", "ms", "upstream", "returned", "status", "session", "token",
    "refresh", "scheduled", "job", "batch", "write", "read", "shard", "replica", "lag",
    "config", "reload", "health", "check", "passed", "span", "exported")
  private val svcWeights = cdf((0 until Services).map(i => 1.0 / (1 + i * 0.35)))
  private val sevWeights = cdf(Seq(5.0, 15, 55, 15, 8, 2))

  def svcName(s: Int): String = f"svc-$s%02d"
  def hostName(h: Int): String = s"host-$h"
  def envOf(h: Int): String = Envs(h % Envs.length)
  def termName(k: Int): String = s"fault$k"
  def termOf(svc: Int, day: Int): Int = (svc * 7 + day) % Terms

  final case class Rec(tsUs: Long, svc: Int, host: Int, sev: Int, trace: Int,
                       term: Int, body: String)

  def traceHex(seed: Long, t: Int): String = f"${mix(seed, t)}%016x${mix(seed ^ 0x5eedL, t)}%016x"
  private def spanHex(seed: Long, i: Long): String = f"${mix(seed + 17, i)}%016x"

  /** `n` records in strictly increasing µs timestamps over `days` days
    * from `startUs`; trace `i / TraceRows` groups consecutive records,
    * so one trace crosses services the way a distributed request does.
    */
  def logRecords(seed: Long, n: Int, startUs: Long, days: Int, termRate: Double): Array[Rec] = {
    val r = new Rng(seed)
    val step = days.toLong * DayUs / n
    Array.tabulate(n) { i =>
      val ts = startUs + i * step + r.int(math.max(1, step.toInt))
      val svc = r.pick(svcWeights)
      val host = 2 * svc + r.int(2)
      val sev = r.pick(sevWeights)
      val day = ((ts - startUs) / DayUs).toInt
      val term = if (r.chance(termRate)) termOf(svc, day) else -1
      val words = Array.fill(5 + r.int(6))(Words(r.int(Words.length)))
      if (term >= 0) words(r.int(words.length)) = termName(term)
      Rec(ts, svc, host, sev, i / TraceRows, term, words.mkString(" "))
    }
  }

  /** One OTLP/JSON `ExportLogsServiceRequest` body: records grouped by
    * resource (service, host), each record tagged with the batch's
    * `seq` log attribute.
    */
  def otlpJson(seed: Long, recs: Seq[Rec], seq: Long, firstIndex: Long): String = {
    val sb = new java.lang.StringBuilder(recs.size * 360)
    sb.append("{\"resourceLogs\":[")
    val byRes = recs.zipWithIndex.groupBy { case (r, _) => (r.svc, r.host) }.toSeq.sortBy(_._1)
    byRes.zipWithIndex.foreach { case (((svc, host), rs), ri) =>
      if (ri > 0) sb.append(',')
      sb.append("{\"resource\":{\"attributes\":[")
        .append("{\"key\":\"service.name\",\"value\":{\"stringValue\":\"").append(svcName(svc)).append("\"}},")
        .append("{\"key\":\"host.name\",\"value\":{\"stringValue\":\"").append(hostName(host)).append("\"}},")
        .append("{\"key\":\"deployment.environment\",\"value\":{\"stringValue\":\"").append(envOf(host)).append("\"}}")
        .append("]},\"scopeLogs\":[{\"scope\":{\"name\":\"perfbench\",\"version\":\"1.0\"},\"logRecords\":[")
      rs.sortBy(_._2).zipWithIndex.foreach { case ((r, idx), k) =>
        if (k > 0) sb.append(',')
        val ns = r.tsUs * 1000L
        sb.append("{\"timeUnixNano\":\"").append(ns)
          .append("\",\"observedTimeUnixNano\":\"").append(ns + 1000000L)
          .append("\",\"severityText\":\"").append(Severities(r.sev))
          .append("\",\"severityNumber\":").append(SevNumbers(r.sev))
          .append(",\"body\":{\"stringValue\":\"").append(r.body)
          .append("\"},\"traceId\":\"").append(traceHex(seed, r.trace))
          .append("\",\"spanId\":\"").append(spanHex(seed, firstIndex + idx))
          .append("\",\"attributes\":[{\"key\":\"seq\",\"value\":{\"intValue\":\"").append(seq)
          .append("\"}}]}")
      }
      sb.append("]}]}")
    }
    sb.append("]}").toString
  }

  def gzip(b: Array[Byte]): Array[Byte] = {
    val bo = new ByteArrayOutputStream(b.length / 4)
    val gz = new GZIPOutputStream(bo)
    gz.write(b); gz.close()
    bo.toByteArray
  }

  /** One POST body as sent. A malformed body is a truncated envelope:
    * it passes the edge's cheap request-time gate (it names
    * `resourceLogs`), is 200-acked, and must be quarantined at flush.
    */
  final case class Post(seq: Long, body: Array[Byte], gzipped: Boolean, malformed: Boolean)

  /** The records as POST bodies of `perPost` records each, in time
    * order, a `gzipShare` of them gzipped. Every `malformedEvery`-th
    * batch is followed by a truncated copy of itself, so the malformed
    * share is fixed and every record still lands exactly once.
    */
  def posts(seed: Long, recs: Array[Rec], perPost: Int, gzipShare: Double,
            malformedEvery: Int): Array[Post] = {
    val r = new Rng(seed ^ 0x9057L)
    recs.grouped(perPost).zipWithIndex.flatMap { case (chunk, b) =>
      val json = otlpJson(seed, chunk.toSeq, b, b.toLong * perPost).getBytes(UTF_8)
      val gz = r.chance(gzipShare)
      def post(raw: Array[Byte], malformed: Boolean) = Post(b, if (gz) gzip(raw) else raw, gz, malformed)
      if ((b + 1) % malformedEvery == 0)
        Seq(post(json, false), post(java.util.Arrays.copyOf(json, json.length / 2), true))
      else Seq(post(json, false))
    }.toArray
  }

  /** Write every POST body to `dir` (gzip bodies as `.json.gz`). */
  def writePosts(dir: Path, ps: Seq[Post]): Unit = {
    Files.createDirectories(dir)
    ps.foreach { p =>
      val name = f"batch-${p.seq}%06d" + (if (p.malformed) "-malformed" else "") + ".json" +
        (if (p.gzipped) ".gz" else "")
      Files.write(dir.resolve(name), p.body)
    }
  }

  /** Answers every dashboard panel can be checked against. */
  final class LogTruth(seed: Long, val recs: Array[Rec]) {
    val ts: Array[Long] = recs.map(_.tsUs)
    val sevCounts: Map[(String, String), Long] =
      recs.groupBy(r => (svcName(r.svc), Severities(r.sev))).map { case (k, v) => k -> v.length.toLong }
    val hostSev: Map[(Int, String), Long] =
      recs.groupBy(r => (r.host, Severities(r.sev))).map { case (k, v) => k -> v.length.toLong }
    val termCount: Array[Long] = Array.fill(Terms)(0L)
    val termTsSum: Array[Long] = Array.fill(Terms)(0L)
    recs.foreach { r => if (r.term >= 0) { termCount(r.term) += 1; termTsSum(r.term) += r.tsUs } }
    private val traceRows = recs.groupBy(_.trace).map { case (t, v) => t -> v.length.toLong }
    val traceIds: Array[Int] = traceRows.keys.toArray.sorted

    def traceCount(t: Int): Long = traceRows.getOrElse(t, 0L)
    private def lower(x: Long): Int = {
      val i = java.util.Arrays.binarySearch(ts, x)
      if (i >= 0) i else -i - 1
    }
    /** The newest `limit` timestamps in [fromUs, untilUs), newest first. */
    def tail(fromUs: Long, untilUs: Long, limit: Int): Seq[Long] = {
      val (a, b) = (lower(fromUs), lower(untilUs))
      (math.max(a, b - limit) until b).reverse.map(ts)
    }
    /** Rows of `svc` per hour bucket (µs bucket start) in [fromUs, untilUs). */
    def series(svc: Int, fromUs: Long, untilUs: Long): Map[Long, Long] = {
      val out = mutable.Map[Long, Long]()
      (lower(fromUs) until lower(untilUs)).foreach { i =>
        if (recs(i).svc == svc) {
          val h = recs(i).tsUs - Math.floorMod(recs(i).tsUs, 3600L * 1000000L)
          out(h) = out.getOrElse(h, 0L) + 1
        }
      }
      out.toMap
    }

    def json(malformed: Long, pool: Seq[Int]): String = {
      val sev = sevCounts.toSeq.sorted.map { case ((s, v), n) => s""""$s/$v":$n""" }.mkString(",")
      val terms = (0 until Terms).map(k => s""""${termName(k)}":${termCount(k)}""").mkString(",")
      val traces = pool.map(t => s""""${traceHex(seed, t)}":${traceCount(t)}""").mkString(",")
      s"""{"rows":${recs.length},"malformed_batches":$malformed,"severity_counts":{$sev},""" +
        s""""term_counts":{$terms},"trace_rows":{$traces}}"""
    }
  }

  // ---- document shards ---------------------------------------------------

  private val StopWords = Array("the", "a", "an", "and", "of", "to", "in", "is", "it", "that")
  private val Vocab = Array.tabulate(3000)(i => "w" + Integer.toString(i + 1296, 36))
  private val vocabCdf = cdf(Vocab.indices.map(i => 1.0 / (i + 10)))
  /** Shared boilerplate lines, each exactly `lineTokens` (5) tokens so
    * they sit on TrainPrep.lineDedup's line boundaries when prepended.
    */
  private val Boilerplate = Array.tabulate(6)(b => (0 until 5).map(k => s"bp${b}x$k").mkString(" "))

  final case class Doc(id: Long, text: String, lang: String, source: String)
  final case class DocTruth(exactPairs: Seq[(Long, Long)], nearPairs: Seq[(Long, Long, Double)],
                            boilerplateLines: Long, docs: Int) {
    def exactCopies: Seq[Long] = exactPairs.map(_._2)
  }

  private def shingles(toks: Array[String]): Set[String] =
    if (toks.length < 3) Set.empty else toks.sliding(3).map(_.mkString(" ")).toSet

  def jaccard(a: String, b: String): Double = {
    val (sa, sb) = (shingles(a.split(" ")), shingles(b.split(" ")))
    val inter = sa.intersect(sb).size
    inter.toDouble / (sa.size + sb.size - inter)
  }

  /** `n` base documents plus `planted` verbatim copies and `planted`
    * near-duplicates (a few tokens replaced; Jaccard known exactly),
    * appended with higher doc_ids so the originals are the keepers.
    */
  def documents(seed: Long, n: Int, planted: Int): (Array[Doc], DocTruth) = {
    val r = new Rng(seed)
    var bpLines = 0L
    val base = Array.tabulate(n) { i =>
      val kind = r.double()
      val len = if (kind < 0.15) 5 + r.int(15) else if (kind < 0.85) 20 + r.int(60) else 80 + r.int(120)
      val stopRate = if (r.chance(0.1)) 0.0 else 0.2 + 0.1 * r.double()
      val body = Array.fill(len)(if (r.chance(stopRate)) StopWords(r.int(StopWords.length))
        else Vocab(r.pick(vocabCdf)))
      val bp = if (r.chance(0.3)) Seq.fill(1 + r.int(2))(Boilerplate(r.int(Boilerplate.length))) else Nil
      bpLines += bp.size
      Doc(i, (bp :+ body.mkString(" ")).mkString(" "), if (r.chance(0.8)) "en" else "de",
        s"src${r.int(5)}")
    }
    val longIds = base.indices.filter(i => base(i).text.count(_ == ' ') >= 100)
    require(longIds.length >= 4 * planted, s"too few long documents to plant $planted pairs")
    val picks = Iterator.continually(longIds(r.int(longIds.length))).distinct.take(2 * planted).toArray
    val copies = picks.take(planted).zipWithIndex.map { case (src, k) =>
      base(src).copy(id = n + k)
    }
    val near = picks.drop(planted).zipWithIndex.map { case (src, k) =>
      val toks = base(src).text.split(" ")
      (0 until 1 + r.int(2)).foreach { _ => toks(10 + r.int(toks.length - 10)) = s"nd${k}x${r.int(1000)}" }
      val d = base(src).copy(id = n + planted + k, text = toks.mkString(" "))
      (d, (src.toLong, d.id, jaccard(base(src).text, d.text)))
    }
    bpLines += picks.take(planted).map(i => base(i).text.split(" ").takeWhile(_.startsWith("bp")).length / 5).sum
    bpLines += picks.drop(planted).map(i => base(i).text.split(" ").takeWhile(_.startsWith("bp")).length / 5).sum
    val all = base ++ copies ++ near.map(_._1)
    val exact = picks.take(planted).zip(copies).map { case (src, c) => (src.toLong, c.id) }
    (all, DocTruth(exact.toSeq, near.map(_._2).toSeq, bpLines, all.length))
  }
}
