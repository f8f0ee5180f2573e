package graftbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark work attributed to one job group (one phase of one op). */
final class GroupExec {
  var jobs = 0
  var stages = 0
  var tasks = 0L
  var taskRunMs = 0L
  var taskCpuNs = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var input = 0L
  val jobIntervals: mutable.Map[Int, (Long, Long)] = mutable.Map()
}

/** The benchmark's own listener: attributes jobs, stages and task
  * metrics to the job group the op thread set, so two concurrent
  * dashboard clients never mix their numbers. Jobs without a group are
  * graft's own background work and land under `"-"`.
  */
final class JobListener extends SparkListener {
  private val groups = mutable.Map[String, GroupExec]()
  private val stageGroup = mutable.Map[Int, String]()
  private val jobGroup = mutable.Map[Int, String]()
  private var running = 0
  @volatile var lastEventMs: Long = System.currentTimeMillis()

  private def g(name: String): GroupExec = groups.getOrElseUpdate(name, new GroupExec)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val name = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("-")
    jobGroup(e.jobId) = name
    e.stageIds.foreach(stageGroup(_) = name)
    val x = g(name)
    x.jobs += 1
    x.jobIntervals(e.jobId) = (e.time, Long.MaxValue)
    running += 1
    lastEventMs = System.currentTimeMillis()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobGroup.get(e.jobId).foreach { name =>
      val x = g(name)
      x.jobIntervals.get(e.jobId).foreach { case (s, _) => x.jobIntervals(e.jobId) = (s, e.time) }
    }
    running -= 1
    lastEventMs = System.currentTimeMillis()
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    g(stageGroup.getOrElse(e.stageInfo.stageId, "-")).stages += 1
    lastEventMs = System.currentTimeMillis()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val x = g(stageGroup.getOrElse(e.stageId, "-"))
    x.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      x.taskRunMs += m.executorRunTime
      x.taskCpuNs += m.executorCpuTime
      x.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      x.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      x.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      x.input += m.inputMetrics.bytesRead
    }
    lastEventMs = System.currentTimeMillis()
  }

  def group(name: String): Option[GroupExec] = synchronized(groups.get(name))

  /** Wait until every started job has ended and the bus has been quiet
    * for a moment, so per-op numbers are read after their last event.
    */
  def settle(maxMs: Long = 10000): Unit = {
    val until = System.currentTimeMillis() + maxMs
    while (System.currentTimeMillis() < until &&
      (synchronized(running) > 0 || System.currentTimeMillis() - lastEventMs < 300)) Thread.sleep(50)
  }
}

/** The benchmark's own query listener: planning time (analysis,
  * optimisation and physical planning, from the execution's planning
  * tracker, ms resolution) and exchange count of every execution that
  * carried a named observation, keyed by that name. An action that
  * builds its own execution, such as a write, plans the frame again;
  * this reads the planning of the execution that actually ran.
  */
final class PlanListener extends QueryExecutionListener {
  private val byObservation = new ConcurrentHashMap[String, (Double, Int)]()

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val names = qe.observedMetrics.keys
    if (names.nonEmpty) {
      val phases = qe.tracker.phases
      val ms = Seq(QueryPlanningTracker.ANALYSIS, QueryPlanningTracker.OPTIMIZATION,
        QueryPlanningTracker.PLANNING).flatMap(phases.get).map(_.durationMs).sum
      val ex = Tracer.exchangeCount(qe.executedPlan)
      names.foreach(n => byObservation.put(n, (ms.toDouble, ex)))
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** The planning of the execution that carried `name`; waits for the
    * listener bus, which delivers after the action returns.
    */
  def await(name: String, maxMs: Long = 10000): (Double, Int) = {
    val until = System.currentTimeMillis() + maxMs
    while (!byObservation.containsKey(name) && System.currentTimeMillis() < until) Thread.sleep(5)
    Option(byObservation.remove(name)).getOrElse(
      throw new IllegalStateException(s"no execution reported observation $name"))
  }
}

final case class Span(id: Long, parent: Long, op: Long, name: String, startNs: Long, endNs: Long)

final case class OpRecord(id: Long, kind: String, startMs: Long, endMs: Long, wallMs: Double)

/** Records ops for both modes. Untraced: only each op's wall time.
  * Traced: a span for the op and for each child phase (construct,
  * plan, act), a Spark job group per phase, and the exchange count of
  * every planned frame.
  */
final class Tracer(spark: SparkSession, val traced: Boolean) {
  val listener: Option[JobListener] =
    if (traced) { val l = new JobListener; spark.sparkContext.addSparkListener(l); Some(l) } else None
  val planListener: Option[PlanListener] =
    if (traced) { val l = new PlanListener; spark.listenerManager.register(l); Some(l) } else None
  private val ids = new AtomicLong(0)
  val spans = new ConcurrentLinkedQueue[Span]()
  val ops = new ConcurrentLinkedQueue[OpRecord]()
  private val samples = new ConcurrentHashMap[String, ConcurrentLinkedQueue[Double]]()
  /** Exchanges per planned frame label (the op kind unless given): a
    * property of the plan, so it repeats exactly.
    */
  val exchanges = new ConcurrentHashMap[String, Integer]()

  def rec(name: String, v: Double): Unit =
    samples.computeIfAbsent(name, _ => new ConcurrentLinkedQueue[Double]()).add(v)
  def values(name: String): Seq[Double] =
    Option(samples.get(name)).map(_.asScala.toSeq).getOrElse(Nil)

  final class Op private[Tracer] (val id: Long, val kind: String) {
    private def child[T](name: String)(f: => T): T = {
      if (!traced) return f
      val sc = spark.sparkContext
      sc.setJobGroup(s"$id:$name", kind, interruptOnCancel = false)
      val s = System.nanoTime()
      try f
      finally {
        spans.add(Span(ids.incrementAndGet(), id, id, name, s, System.nanoTime()))
        sc.setJobGroup(s"$id:op", kind, interruptOnCancel = false)
      }
    }

    /** A read constructor or operator call that returns a lazy frame;
      * its time lands in `construct.ms` and in the layer's own sample.
      */
    def construct[T](layerMetric: String)(f: => T): T = {
      val s = System.nanoTime()
      val out = child("construct")(f)
      if (traced) {
        val ms = (System.nanoTime() - s) / 1e6
        rec(layerMetric, ms); rec("construct.ms", ms)
      }
      out
    }

    /** Force Catalyst analysis, optimisation and physical planning
      * before the action (traced only), and count the plan's exchanges.
      */
    def plan(df: DataFrame, label: String = kind): Unit = if (traced) {
      val s = System.nanoTime()
      val p = child("plan")(df.queryExecution.executedPlan)
      rec("plan.ms", (System.nanoTime() - s) / 1e6)
      exchanges.put(label, Tracer.exchangeCount(p))
    }

    def act[T](f: => T): T = child("act")(f)

    /** For an action that plans the frame anew (a write): read the
      * planning of the execution that ran, through the observation
      * `observation` it carried (traced only). That planning happened
      * inside `act`.
      */
    def planned(observation: String, label: String): Unit = if (traced) {
      val (ms, ex) = planListener.get.await(observation)
      rec("plan.ms", ms)
      exchanges.put(label, ex)
    }
  }

  /** Run one op; returns its result and wall time in ms. */
  def op[T](kind: String)(body: Op => T): (T, Double) = {
    val o = new Op(ids.incrementAndGet(), kind)
    val sc = spark.sparkContext
    if (traced) sc.setJobGroup(s"${o.id}:op", kind, interruptOnCancel = false)
    val startMs = System.currentTimeMillis()
    val s = System.nanoTime()
    try {
      val out = body(o)
      val e = System.nanoTime()
      val wall = (e - s) / 1e6
      ops.add(OpRecord(o.id, kind, startMs, System.currentTimeMillis(), wall))
      if (traced) spans.add(Span(o.id, 0L, o.id, kind, s, e))
      (out, wall)
    } finally if (traced) sc.clearJobGroup()
  }

  /** Per-op Spark accounting from the listener (traced runs). */
  def opExec(o: OpRecord, phase: String*): GroupExec = {
    val out = new GroupExec
    val l = listener.get
    (if (phase.isEmpty) Seq("op", "construct", "plan", "act") else phase).foreach { ph =>
      l.group(s"${o.id}:$ph").foreach { x =>
        out.jobs += x.jobs; out.stages += x.stages; out.tasks += x.tasks
        out.taskRunMs += x.taskRunMs; out.taskCpuNs += x.taskCpuNs
        out.shuffleRead += x.shuffleRead; out.shuffleWrite += x.shuffleWrite
        out.spill += x.spill; out.input += x.input
        out.jobIntervals ++= x.jobIntervals
      }
    }
    out
  }

  /** Self time per span name: duration minus the part its children cover. */
  def selfTimesMs(): Map[String, Double] = {
    val all = spans.asScala.toSeq
    val kids = all.filter(_.parent != 0).groupBy(_.parent)
    all.map { s =>
      val covered = Tracer.union(kids.getOrElse(s.id, Nil).map(c => (c.startNs, c.endNs)))
      s.name -> (s.endNs - s.startNs - covered) / 1e6
    }.groupBy(_._1).map { case (n, v) => n -> v.map(_._2).sum }
  }

  def dumpSpans(path: java.nio.file.Path): Unit = {
    val lines = spans.asScala.toSeq.sortBy(_.startNs).map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"name":"${s.name}",""" +
        s""""start_us":${s.startNs / 1000},"end_us":${s.endNs / 1000}}"""
    }
    java.nio.file.Files.write(path, lines.asJava)
  }
}

object Tracer {
  /** Exchanges in a physical plan before execution, looking through
    * adaptive wrappers (their initial plan, with every exchange in
    * place), query stages, and subqueries.
    */
  def exchangeCount(plan: SparkPlan): Int = plan match {
    case a: AdaptiveSparkPlanExec => exchangeCount(a.initialPlan)
    case q: QueryStageExec => exchangeCount(q.plan)
    case p => (if (p.isInstanceOf[Exchange]) 1 else 0) +
      (p.children ++ p.subqueries).map(exchangeCount).sum
  }

  /** Length of the union of [start, end) intervals. */
  def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Nearest-rank percentile of a sample (p in 0..100). */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      s(math.min(s.length - 1, math.max(0, math.ceil(p / 100.0 * s.length).toInt - 1)))
    }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
    }
}
