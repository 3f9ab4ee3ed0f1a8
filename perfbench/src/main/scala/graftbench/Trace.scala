package graftbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

/** A timed interval at one layer boundary. Times are epoch milliseconds
  * with sub-millisecond digits; `parent` is the span that caused it
  * (0 for the run).
  */
final case class Span(id: Int, parent: Int, kind: String, name: String, start: Double, end: Double) {
  def seconds: Double = (end - start) / 1e3
}

/** Spans and task counts of the traced run, kept in memory and written at
  * exit.
  *
  * The benchmark opens run, pass, query and phase (build | plan | exec)
  * spans around its calls into the engine. Each phase sets the Spark job
  * group to its span id, so the listener files every job, stage and task
  * under the phase that caused it. Written-out plans (the text sink) are
  * caught by a query-execution listener, for their planning time and the
  * sort time of the secondary-sort reduce.
  */
final class Tracer(spark: SparkSession) extends SparkListener {
  import Tracer._

  private val sc       = spark.sparkContext
  private val baseMs   = System.currentTimeMillis().toDouble
  private val baseNs   = System.nanoTime()
  private var nextId   = 0
  private val open     = mutable.Stack[Int]()
  val spans            = mutable.ArrayBuffer[Span]()
  val jobs             = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
  val stageGroup       = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  val tasks            = new java.util.concurrent.ConcurrentLinkedQueue[TaskRec]()
  /** Exec span id → (planning ms, sort ms) of the plans its actions ran. */
  val writes           = new java.util.concurrent.ConcurrentHashMap[Int, (Double, Double)]()

  def now(): Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  /** Id of the innermost open span. */
  def currentId: Int = open.headOption.getOrElse(0)

  private val written = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = written.add(qe)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  def start(): Unit = {
    written.clear()
    sc.addSparkListener(this)
    spark.listenerManager.register(qeListener)
  }
  def stop(): Unit = {
    drain()
    spark.listenerManager.unregister(qeListener)
    sc.removeSparkListener(this)
  }

  /** Wait until the listeners have seen every event posted so far. */
  def drain(): Unit = org.apache.spark.GraftBenchBus.drain(sc)

  /** Run `body` inside a new span under the innermost open one. Phase
    * spans tag the Spark jobs they start; an exec phase also collects the
    * plans its actions ran.
    */
  def span[T](kind: String, name: String)(body: => T): T = {
    nextId += 1
    val id     = nextId
    val parent = open.headOption.getOrElse(0)
    val t0     = now()
    open.push(id)
    val phase = Phases.contains(kind)
    if (phase) sc.setJobGroup(id.toString, s"$kind $name", interruptOnCancel = false)
    try body
    finally {
      if (phase) sc.clearJobGroup()
      open.pop()
      spans += Span(id, parent, kind, name, t0, now())
      if (kind == "exec") {
        drain()
        var qe = written.poll()
        while (qe != null) {
          val planMs = Seq("analysis", "optimization", "planning")
            .flatMap(p => qe.tracker.phases.get(p)).map(_.durationMs.toDouble).sum
          val (p, s) = writes.getOrDefault(id, (0.0, 0.0))
          writes.put(id, (p + planMs, s + sortMs(qe.executedPlan)))
          qe = written.poll()
        }
      }
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit =
    jobs.put(e.jobId, JobRec(e.jobId, Option(e.properties).map(_.getProperty(GroupKey)).orNull,
      e.time.toDouble, Double.NaN))

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(j => jobs.put(e.jobId, j.copy(end = e.time.toDouble)))

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty(GroupKey)))
      .foreach(g => stageGroup.put(e.stageInfo.stageId, g))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) tasks.add(TaskRec(e.stageId, e.taskInfo.launchTime.toDouble,
      e.taskInfo.finishTime.toDouble, m.executorRunTime, m.jvmGCTime, m.inputMetrics.bytesRead,
      m.shuffleWriteMetrics.bytesWritten, m.shuffleWriteMetrics.recordsWritten,
      m.shuffleReadMetrics.totalBytesRead, m.memoryBytesSpilled + m.diskBytesSpilled))
  }

  def children(id: Int): Seq[Span] = spans.iterator.filter(_.parent == id).toSeq

  /** Job spans (under their phase) and stage spans (under their job). */
  def sparkSpans(): Seq[Span] = {
    val js = jobs.values.asScala.toSeq.filter(_.group != null).sortBy(_.id)
    val jobSpans = js.map(j => Span(100000000 + j.id, j.group.toInt, "job", s"job ${j.id}", j.start, j.end))
    val byStage  = tasks.asScala.toSeq.groupBy(_.stage)
    val stageSpans = stageGroup.asScala.toSeq.flatMap { case (st, g) =>
      byStage.get(st).map { ts =>
        val job = js.filter(_.group == g).find(j => j.start <= ts.map(_.launch).min)
          .map(j => 100000000 + j.id).getOrElse(g.toInt)
        Span(200000000 + st, job, "stage", s"stage $st (${ts.size} tasks)", ts.map(_.launch).min, ts.map(_.finish).max)
      }
    }
    jobSpans ++ stageSpans
  }

  /** Per-layer counts of the phases under `query` spans below `pass`. */
  def passLayers(pass: Int, catalogObject: String => Option[String]): Map[String, Double] = {
    drain()
    val queries = children(pass).filter(_.kind == "query")
    val byGroup = tasks.asScala.toSeq.groupBy(t => stageGroup.getOrDefault(t.stage, ""))
    val jobsBy  = jobs.values.asScala.toSeq.groupBy(j => Option(j.group).getOrElse(""))
    val acc     = mutable.LinkedHashMap[String, Double]().withDefaultValue(0.0)
    val skews   = mutable.ArrayBuffer[Double]()
    for (q <- queries) {
      catalogObject(q.name).foreach(o => acc(s"ops.$o.pass_s") += q.seconds)
      for (ph <- children(q.id)) {
        val g  = ph.id.toString
        val ts = byGroup.getOrElse(g, Nil)
        val nJobs = jobsBy.getOrElse(g, Nil).size
        val (planMs, sortMs) = writes.getOrDefault(ph.id, (0.0, 0.0))
        // an explicit plan phase already timed the planning of its query
        if (!children(q.id).exists(_.kind == "plan")) acc("catalyst.plan_s") += planMs / 1e3
        acc("plans.sort_s") += sortMs / 1e3
        ph.kind match {
          case "build" =>
            acc("ops.build_s") += ph.seconds
            acc("ops.build_jobs") += nJobs
          case "plan" =>
            acc("catalyst.plan_s") += ph.seconds
          case "exec" =>
            acc("exec.jobs") += nJobs
            acc("exec.stages") += ts.map(_.stage).distinct.size
            acc("exec.tasks") += ts.size
            acc("exec.idle_s") += idle(ph, ts)
            acc("exec.task_s") += ts.map(_.runMs).sum / 1e3
            acc("exec.gc_s") += ts.map(_.gcMs).sum / 1e3
            acc("exec.input_mb") += ts.map(_.inBytes).sum / MB
            acc("exec.shuffle_write_mb") += ts.map(_.shWBytes).sum / MB
            acc("exec.shuffle_read_mb") += ts.map(_.shRBytes).sum / MB
            acc("exec.spill_mb") += ts.map(_.spill).sum / MB
            acc("mr.shuffle_records") += ts.map(_.shWRecs).sum
            if (ts.nonEmpty) skews += skew(ts)
          case _ => ()
        }
      }
    }
    acc("exec.skew") = Stats.median(skews.toSeq)
    acc.toMap
  }

  /** Wall time of the phase with no task running. */
  private def idle(ph: Span, ts: Seq[TaskRec]): Double = {
    val iv = ts.map(t => (math.max(t.launch, ph.start), math.min(t.finish, ph.end)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0.0
    var curS = Double.NaN; var curE = Double.NaN
    for ((a, b) <- iv) {
      if (curS.isNaN || a > curE) {
        if (!curS.isNaN) covered += curE - curS
        curS = a; curE = b
      } else curE = math.max(curE, b)
    }
    if (!curS.isNaN) covered += curE - curS
    math.max(0.0, (ph.end - ph.start) - covered) / 1e3
  }
}

object Tracer extends AdaptiveSparkPlanHelper {
  val GroupKey = "spark.jobGroup.id"
  val Phases   = Set("build", "plan", "exec")
  private val MB = 1024.0 * 1024.0

  final case class JobRec(id: Int, group: String, start: Double, end: Double)
  final case class TaskRec(stage: Int, launch: Double, finish: Double, runMs: Long, gcMs: Long,
      inBytes: Long, shWBytes: Long, shWRecs: Long, shRBytes: Long, spill: Long)

  /** Max ÷ median task time in the stage with the most task time. */
  def skew(ts: Seq[TaskRec]): Double = {
    val heaviest = ts.groupBy(_.stage).values.maxBy(_.map(t => t.finish - t.launch).sum)
    val d = heaviest.map(t => math.max(1.0, t.finish - t.launch))
    d.max / Stats.median(d)
  }

  /** Sort milliseconds of the sorts feeding a secondary-sort reduce. */
  def sortMs(plan: SparkPlan): Double =
    collect(plan) { case p if p.nodeName.contains("SortedGroupReduce") => p }
      .flatMap(_.children.flatMap(c => collect(c) { case s: SortExec => s }.take(1)))
      .flatMap(_.metrics.get("sortTime")).map(_.value.toDouble).sum
}

/** Writes the traced run's artifacts: every span as JSON and the per-layer
  * summary as a table.
  */
object Report {
  def writeTrace(out: java.nio.file.Path, run: String, t: Tracer,
      layers: scala.collection.Map[String, Double]): Unit = {
    import java.nio.charset.StandardCharsets.UTF_8
    val traced = (t.spans.toSeq ++ t.sparkSpans()).sortBy(s => (s.start, s.id))
    val all    = Span(0, -1, "run", run, traced.map(_.start).min, traced.map(_.end).max) +: traced
    val spans = all.map(s => Map("id" -> s.id, "parent" -> s.parent, "kind" -> s.kind,
      "name" -> s.name, "start_ms" -> s.start, "end_ms" -> s.end))
    java.nio.file.Files.write(out.resolve("spans.json"), (Stats.json(Map("spans" -> spans)) + "\n").getBytes(UTF_8))
    val w = layers.keys.map(_.length).max
    val table = layers.toSeq.map { case (k, v) => k.padTo(w, ' ') + f"  $v%14.6f" }
    java.nio.file.Files.write(out.resolve("layers.txt"), (table.mkString("\n") + "\n").getBytes(UTF_8))
  }
}
