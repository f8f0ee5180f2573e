package graftbench

import org.apache.spark.sql.functions._

import graft.sources.{LakeIndex, LogSync}
import graft.streaming.SignalLakeMaintenance

import Tracer.{median, pct}

/** Read-only Grafana path: a closed loop of 2 clients over the
  * reference's panels, on a lake built through the OTLP edge. Nothing
  * writes during the measurement, so every manifest-signature memo
  * stays valid.
  */
final class Dashboard(ctx: Ctx) extends Workload {
  val Rows = 8000
  val Days = 2
  val PerPost = 500
  val FlushEvery = 4
  val MalformedEvery = 8
  val Clients = 2
  val SetupRounds = 2
  /** The owner's compaction threshold in the traced maintenance round:
    * the program's default (64 files) is above what 4 flushes leave.
    */
  val CompactAt = 16
  val StartUs: Long = java.time.Instant.parse("2026-01-01T00:00:00Z").getEpochSecond * 1000000L
  /** One refresh of a dashboard holding the six panels issues each
    * panel's query once, so every client cycles through all six in a
    * fixed order; client c starts at panel 3c. Mix and overlap are the
    * same for every seed, so a run's median moves with the program, not
    * with the draw of panel kinds; the seed draws each panel's
    * parameters.
    */
  private val kinds = Seq("tail", "series", "severity", "search", "lookup", "attrs")

  private def day(d: Int): String = java.time.LocalDate.of(2026, 1, 1).plusDays(d).toString

  def run(): Outcome = {
    val g0 = System.nanoTime()
    val recs = Gen.logRecords(ctx.seed, Rows, StartUs, Days, termRate = 0.01)
    val posts = Gen.posts(ctx.seed, recs, PerPost, gzipShare = 0.1, MalformedEvery)
    val malformed = posts.count(_.malformed)
    val truth = new Gen.LogTruth(ctx.seed, recs)
    val pool = {
      val r = new Gen.Rng(ctx.seed ^ 0x7ace)
      Seq.fill(256)(truth.traceIds(r.int(truth.traceIds.length))).distinct
    }
    Gen.writePosts(ctx.work.resolve("inputs/batches"), posts.toSeq)
    java.nio.file.Files.writeString(ctx.work.resolve("inputs/truth.json"), truth.json(malformed, pool))
    val genS = (System.nanoTime() - g0) / 1e9
    ctx.log(f"generated ${posts.length} posts in $genS%.2f s")

    // set-up, several rounds on fresh roots; the last lake is measured
    val setupT = new Tracer(null, traced = false)
    val setups = (0 until SetupRounds).map { k =>
      val sessionS = ctx.startSession()
      val s = System.nanoTime()
      val root = ctx.work.resolve(s"lake-$k").toString
      val (rows, q) = Otlp.ingest(ctx, setupT, root, posts.toSeq, FlushEvery)
      ctx.check(rows == Rows && q == malformed,
        s"setup landed $rows rows, $q quarantined; expected $Rows, $malformed")
      Otlp.buildSidecars(ctx, setupT, root)
      ctx.log(s"setup $k done")
      sessionS + (System.nanoTime() - s) / 1e9
    }
    val root = ctx.work.resolve(s"lake-${SetupRounds - 1}").toString
    val spark = ctx.spark
    if (ctx.traced) {
      // the lake owner's periodic rounds, timed once on the first
      // round's identical lake so the measured one keeps its files: a
      // registration round that finds nothing new, and a maintenance
      // round, which compacts the accumulated flush files
      val other = ctx.work.resolve("lake-0").toString
      val s = System.nanoTime()
      LogSync.sync(spark, other)
      val m = System.nanoTime()
      val stats = SignalLakeMaintenance.run(spark, other, minFilesToCompact = CompactAt)
      setupT.rec("registry.sync_s", (m - s) / 1e9)
      setupT.rec("maint.run_s", (System.nanoTime() - m) / 1e9)
      stats.compacted.foreach { c =>
        setupT.rec("maint.files_before", c.filesBefore.toDouble)
        setupT.rec("maint.files_after", c.filesAfter.toDouble)
      }
      val after = LogSync.table(spark, other).count()
      ctx.check(stats.compacted.exists(c => c.filesAfter < c.filesBefore) && after == Rows,
        s"maintenance: $stats, $after rows after it")
    }

    def panel(t: Tracer, r: Gen.Rng, kind: String): Unit = {
      ctx.attempt()
      try kind match {
        case "tail" =>
          val d = r.int(Days); val w = 1 + r.int(math.min(2, Days - d))
          val (rows, _) = t.op(kind) { o =>
            val df = o.construct("registry.read_build_ms")(LogSync.tableBetween(spark, root, day(d), day(d + w)))
              .select(unix_micros(col("timestamp")), col("service_name"), col("body"))
              .orderBy(col("timestamp").desc).limit(100)
            o.plan(df); o.act(df.collect())
          }
          val want = truth.tail(StartUs + d * Gen.DayUs, StartUs + (d + w) * Gen.DayUs, 100)
          ctx.check(rows.map(_.getLong(0)).toSeq == want, s"tail $d+$w")
          if (t.traced) prune(t, LogSync.statsPruneCounts(spark, root, day(d), day(d + w)))
        case "severity" =>
          val (rows, _) = t.op(kind) { o =>
            val df = o.construct("registry.read_build_ms")(LogSync.table(spark, root))
              .groupBy(col("service_name"), col("severity_text")).count()
            o.plan(df); o.act(df.collect())
          }
          ctx.check(rows.map(x => (x.getString(0), x.getString(1)) -> x.getLong(2)).toMap == truth.sevCounts,
            "severity counts")
        case "series" =>
          val svc = r.int(Gen.Services); val d = r.int(Days - 1); val w = 1 + r.int(Days - d)
          val (rows, _) = t.op(kind) { o =>
            val df = o.construct("registry.read_build_ms")(
                LogSync.tableFor(spark, root, Gen.svcName(svc), day(d), day(d + w)))
              .groupBy(unix_micros(date_trunc("hour", col("timestamp")))).count()
            o.plan(df); o.act(df.collect())
          }
          ctx.check(rows.map(x => x.getLong(0) -> x.getLong(1)).toMap ==
            truth.series(svc, StartUs + d * Gen.DayUs, StartUs + (d + w) * Gen.DayUs), s"series $svc $d+$w")
          if (t.traced) prune(t, LogSync.forPruneCounts(spark, root, Gen.svcName(svc), day(d), day(d + w)))
        case "search" =>
          val k = r.int(Gen.Terms)
          val (rows, _) = t.op(kind) { o =>
            val df = o.construct("index.read_build_ms")(
                LakeIndex.grep(spark, root, "body", Seq(Gen.termName(k))))
              .select(unix_micros(col("timestamp")))
            o.plan(df); o.act(df.collect())
          }
          ctx.check(rows.length == truth.termCount(k) && rows.map(_.getLong(0)).sum == truth.termTsSum(k),
            s"search ${Gen.termName(k)}: ${rows.length} rows, want ${truth.termCount(k)}")
          if (t.traced) index(t, LakeIndex.grepPruneCounts(spark, root, "body", Seq(Gen.termName(k))))
        case "lookup" =>
          val tr = pool(r.int(pool.length))
          val hex = Gen.traceHex(ctx.seed, tr)
          val (rows, _) = t.op(kind) { o =>
            val df = o.construct("index.read_build_ms")(LakeIndex.lookup(spark, root, "trace_id", Seq(hex)))
              .select(unix_micros(col("timestamp")), col("service_name"))
            o.plan(df); o.act(df.collect())
          }
          ctx.check(rows.length == truth.traceCount(tr), s"lookup $hex: ${rows.length} rows")
          if (t.traced) index(t, LakeIndex.pruneCounts(spark, root, "trace_id", Seq(hex)))
        case "attrs" =>
          val h = r.int(2 * Gen.Services)
          val (rows, _) = t.op(kind) { o =>
            val df = o.construct("registry.read_build_ms")(LogSync.table(spark, root))
              .filter(col("resource_attributes").contains(s""""host.name":"${Gen.hostName(h)}""""))
              .groupBy(col("severity_text")).count()
            o.plan(df); o.act(df.collect())
          }
          ctx.check(rows.map(x => (h, x.getString(0)) -> x.getLong(1)).toMap ==
            truth.hostSev.filter(_._1._1 == h), s"attrs host-$h")
      } catch {
        case e: Exception => ctx.fail(s"$kind panel threw ${e.getClass.getSimpleName}: ${e.getMessage}")
      }
    }

    // warm-up outside the clock: JIT and the read memos fill once, as
    // on a dashboard that has been open for a while
    val warm = new Tracer(spark, traced = false)
    val wr = new Gen.Rng(ctx.seed ^ 0xa4a4)
    kinds.foreach(k => panel(warm, wr, k))
    ctx.log("warm-up done")
    val warmAttempts = ctx.attempted
    val warmFailed = ctx.failed

    val t = new Tracer(spark, ctx.traced)
    val gc0 = ctx.gcMs()
    val start = System.nanoTime()
    val deadline = start + ctx.seconds * 1000000000L
    val threads = (0 until Clients).map { c =>
      val th = new Thread(() => {
        val r = new Gen.Rng(Gen.mix(ctx.seed, 100 + c))
        var slot = c * kinds.length / Clients
        while (System.nanoTime() < deadline) { panel(t, r, kinds(slot % kinds.length)); slot += 1 }
      }, s"dashboard-client-$c")
      th.start(); th
    }
    threads.foreach(_.join())
    val elapsed = (System.nanoTime() - start) / 1e9
    ctx.log(s"measured $elapsed s")
    val gcMs = ctx.gcMs() - gc0
    val lat = t.ops.toArray(Array.empty[OpRecord]).toSeq.map(_.wallMs)
    val n = lat.size

    val activeFiles = LogSync.manifest(spark, root).filter(col("removed_at").isNull)
    val files = activeFiles.count().toDouble
    val bytes = activeFiles.select("path").collect().map { r =>
      val p = new org.apache.hadoop.fs.Path(r.getString(0))
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).getFileStatus(p).getLen
    }.sum
    if (t.traced) t.dumpSpans(ctx.reports.resolve(s"dashboard-${ctx.seed}.spans.jsonl"))
    val setupS = median(setups)
    val e2e = Seq(Metric("setup_s", setupS, "s"), Metric("op_p50_ms", median(lat), "ms"),
      Metric("op_p90_ms", pct(lat, 90), "ms"), Metric("work_per_s", n / elapsed, "1/s"))
    val named = Seq(Metric("setup_s", setupS, "s"), Metric("gen_s", genS, "s"),
      Metric("panel_p50_ms", median(lat), "ms"), Metric("panel_p95_ms", pct(lat, 95), "ms"),
      Metric("panels", n, "count"), Metric("panels_per_s", n / elapsed, "1/s"),
      Metric("warmup_panels", warmAttempts, "count"), Metric("warmup_failed", warmFailed, "count"))
    val extra = Map("jvm.gc_ms" -> gcMs.toDouble, "gen_s" -> genS,
      "exec.storage_mem_bytes" -> spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum.toDouble,
      "lake.files_active" -> files, "lake.bytes_per_row" -> bytes.toDouble / Rows,
      "serving.flush_s" -> median(setupT.values("serving.flush_s")),
      "serving.flush_rows" -> median(setupT.values("serving.flush_rows")),
      "serving.flush_quarantined" -> setupT.values("serving.flush_quarantined").sum / SetupRounds,
      "maint.files_before" -> median(setupT.values("maint.files_before")),
      "maint.files_after" -> median(setupT.values("maint.files_after")),
      "registry.sync_s" -> median(setupT.values("registry.sync_s")),
      "maint.run_s" -> median(setupT.values("maint.run_s")),
      "index.build_s" -> median(setupT.values("index.build_s"))) ++ pruneMetrics(t)
    Outcome(e2e, named, Layers.collect(t, kinds.toSet, "registry.read_build_jobs", extra))
  }

  private def prune(t: Tracer, kt: (Long, Long)): Unit = {
    t.rec("prune.files_kept", kt._1.toDouble); t.rec("prune.files_total", kt._2.toDouble)
  }
  private def index(t: Tracer, kt: (Long, Long)): Unit = {
    t.rec("index.files_kept", kt._1.toDouble); t.rec("index.files_total", kt._2.toDouble)
  }
  private def pruneMetrics(t: Tracer): Map[String, Double] =
    Seq("prune.files_kept", "prune.files_total", "index.files_kept", "index.files_total")
      .filter(n => t.values(n).nonEmpty).map(n => n -> median(t.values(n))).toMap
}
