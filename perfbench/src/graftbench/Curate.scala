package graftbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._

import graft.operators.{Curation, Dedup, TrainPrep}

import Tracer.{median, pct}

/** Batch curation, 1 client: every shard is a fresh directory, so no
  * dir-keyed memo is reused and each shard pays its own edge set and
  * heavy-line model. Shard contents cycle through `Contents` seeded
  * corpora, which makes every output comparable across repeats.
  */
final class Curate(ctx: Ctx) extends Workload {
  val Docs = 1000
  val Planted = 15
  val Contents = 2
  val SetupRounds = 15     // session restarts are cheap; more rounds steady the median

  /** Outputs that must repeat exactly for the same content. */
  final case class Answer(pairs: Long, dropped: Long, keep: Long, pipelineDocs: Long)

  def run(): Outcome = {
    val g0 = System.nanoTime()
    ctx.startSession()
    val contents = (0 until Contents).map { m =>
      val (docs, truth) = Gen.documents(Gen.mix(ctx.seed, m), Docs, Planted)
      val dir = ctx.work.resolve(s"inputs/content-$m")
      val spark = ctx.spark
      import spark.implicits._
      docs.toSeq.map(d => (d.id, d.text, d.lang, d.source, d.text.length.toLong))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1).write.parquet(dir.resolve("documents.parquet").toString)
      Files.writeString(dir.resolve("truth.json"),
        s"""{"docs":${truth.docs},"exact_copies":[${truth.exactCopies.mkString(",")}],""" +
          s""""near_pairs":[${truth.nearPairs.map { case (a, b, j) => s"[$a,$b,$j]" }.mkString(",")}],""" +
          s""""boilerplate_lines":${truth.boilerplateLines}}""")
      (dir, truth)
    }
    val genS = (System.nanoTime() - g0) / 1e9
    ctx.log(f"generated $Contents contents in $genS%.2f s")
    // the program's set-up here is session start alone: no lake, no sidecar
    val setups = (0 until SetupRounds).map(_ => ctx.startSession())
    val spark = ctx.spark

    var shardNo = 0
    def freshShard(m: Int): String = {
      val dir = ctx.work.resolve(s"shards/shard-$shardNo")
      shardNo += 1
      copyTree(contents(m)._1.resolve("documents.parquet"), dir.resolve("documents.parquet"))
      dir.toString
    }

    def stage(o: Tracer#Op, name: String, build: => DataFrame, checks: Column*): (Map[String, Any], Double) = {
      val s = System.nanoTime()
      val obs = Observation(s"$name-${o.id}")
      val df = o.construct("operators.build_ms")(build)
      val observed = df.observe(obs, count(lit(1)).as("rows"), checks: _*)
      o.act(observed.write.format("noop").mode("overwrite").save())
      val out = (obs.get, (System.nanoTime() - s) / 1e9)
      o.planned(obs.name, name)
      out
    }

    /** One shard: the four operators, each fully materialised. */
    def shard(t: Tracer, m: Int, answers: scala.collection.mutable.Map[Int, Answer]): Unit = {
      val (_, truth) = contents(m)
      val dir = freshShard(m)
      ctx.attempt()
      try {
        val copies = truth.exactCopies
        val ((edges, lines, cur, pipe), wall) = t.op("shard") { o =>
          val e = stage(o, "edges", Dedup.ngramJaccard(spark, dir))
          val l = stage(o, "linededup", TrainPrep.lineDedup(spark, dir),
            sum(col("n_dropped")).as("dropped"))
          val c = stage(o, "curate", Curation.curate(spark, dir),
            sum(when(col("reason") === "keep", 1L).otherwise(0L)).as("keep"),
            sum(when(col("doc_id").isin(copies: _*) && col("reason") === "duplicate", 1L)
              .otherwise(0L)).as("copies_dropped"))
          val p = stage(o, "pipeline", TrainPrep.pipeline(spark, dir),
            sum(col("n_docs")).as("pipeline_docs"))
          (e, l, c, p)
        }
        Seq("edges" -> edges._2, "linededup" -> lines._2, "curate" -> cur._2, "pipeline" -> pipe._2)
          .foreach { case (n, s) => t.rec(s"operators.${n}_s", s) }
        // the persisted edge set is the operator's own memo: reading it back is free
        val got = Dedup.ngramJaccard(spark, dir).collect()
          .map(r => (r.getAs[Long]("da"), r.getAs[Long]("db")) -> r.getAs[Double]("j")).toMap
        val planted = truth.nearPairs.map { case (a, b, j) => ((a, b), j) } ++
          truth.exactPairs.map(_ -> 1.0)
        val found = planted.count { case (k, j) => got.get(k).exists(g => math.abs(g - j) < 1e-4) }
        t.rec("operators.dedup_pairs", got.size.toDouble)
        ctx.check(found == planted.size, s"shard content $m: planted-pair recall $found/${planted.size}")
        ctx.check(lines._1("rows") == truth.docs && lines._1("dropped").asInstanceOf[Long] >= truth.boilerplateLines,
          s"linededup rows ${lines._1("rows")}, dropped ${lines._1("dropped")} < planted ${truth.boilerplateLines}")
        ctx.check(cur._1("copies_dropped") == copies.size.toLong,
          s"curate dropped ${cur._1("copies_dropped")} of ${copies.size} planted copies")
        val a = Answer(got.size, lines._1("dropped").asInstanceOf[Long], cur._1("keep").asInstanceOf[Long],
          pipe._1("pipeline_docs").asInstanceOf[Long])
        answers.get(m) match {
          case Some(prev) => ctx.check(prev == a, s"content $m answers changed: $prev then $a")
          case None => answers(m) = a
        }
        t.rec("exec.storage_mem_bytes",
          spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum.toDouble)
      } catch {
        case e: Exception => ctx.fail(s"shard of content $m threw ${e.getClass.getSimpleName}: ${e.getMessage}")
      }
    }

    val answers = scala.collection.mutable.Map[Int, Answer]()
    // warm-up outside the clock: a full shard of content 0 compiles the
    // plans and records the answers the first measured shard must repeat;
    // a smaller one left the first measured shard ~15% slower than the next
    shard(new Tracer(spark, traced = false), 0, answers)
    ctx.log("warm-up done")

    val t = new Tracer(spark, ctx.traced)
    val gc0 = ctx.gcMs()
    val start = System.nanoTime()
    val deadline = start + ctx.seconds * 1000000000L
    // at least two shards: with one, a run's median would be its one
    // shard exactly when that shard was slow enough to fill the clock
    var k = 0
    while (k < 2 || System.nanoTime() < deadline) { shard(t, k % Contents, answers); k += 1 }
    val gcMs = ctx.gcMs() - gc0
    val walls = t.ops.asScala.toSeq.map(_.wallMs)
    val docs = walls.size * contents(0)._2.docs
    val docsPerS = docs / (walls.sum / 1e3)
    if (t.traced) t.dumpSpans(ctx.reports.resolve(s"curate-${ctx.seed}.spans.jsonl"))
    val keepFile = ctx.reports.resolve(s"curate-${ctx.seed}.answers")
    val answerText = answers.toSeq.sortBy(_._1).map(_.toString).mkString("\n")
    if (Files.exists(keepFile))
      ctx.check(Files.readString(keepFile) == answerText, s"answers differ from an earlier run of seed ${ctx.seed}")
    else Files.writeString(keepFile, answerText)
    val setupS = median(setups)
    val e2e = Seq(Metric("setup_s", setupS, "s"), Metric("op_p50_ms", median(walls), "ms"),
      Metric("op_p90_ms", pct(walls, 90), "ms"), Metric("work_per_s", docsPerS, "1/s"))
    val named = Seq(Metric("setup_s", setupS, "s"), Metric("gen_s", genS, "s"),
      Metric("curate_docs_per_s", docsPerS, "docs/s"),
      Metric("curate_shard_p50_s", median(walls) / 1e3, "s"), Metric("shards", walls.size, "count"))
    val extra = Map("jvm.gc_ms" -> gcMs.toDouble, "gen_s" -> genS,
      "operators.dedup_pairs" -> median(t.values("operators.dedup_pairs")),
      "exec.storage_mem_bytes" -> t.values("exec.storage_mem_bytes").foldLeft(0.0)(math.max))
    Outcome(e2e, named, Layers.collect(t, Set("shard"), "operators.build_jobs", extra))
  }

  private def copyTree(src: Path, dst: Path): Unit =
    Files.walk(src).iterator().asScala.foreach { p =>
      val target = dst.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(target)
      else if (!p.getFileName.toString.startsWith(".")) Files.copy(p, target)
    }
}
