package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.perfbench.Internals
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable

/** One finished task, as the listener saw it. */
final case class TaskRec(
    stageId: Int, ok: Boolean, runS: Double, cpuS: Double, gcS: Double,
    shuffleWriteB: Long, shuffleReadB: Long, fetchWaitS: Double, spillB: Long)

/** Sums task metrics of everything that ran. This is the only listener of
  * an untraced run; it feeds `cpu_s` and `task_s`.
  */
final class TaskTotals extends SparkListener {
  private val buf = mutable.ArrayBuffer.empty[TaskRec]

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val ok = e.reason == org.apache.spark.Success
    val rec =
      if (m == null) TaskRec(e.stageId, ok, 0, 0, 0, 0, 0, 0, 0)
      else TaskRec(
        e.stageId, ok,
        m.executorRunTime / 1e3, m.executorCpuTime / 1e9, m.jvmGCTime / 1e3,
        m.shuffleWriteMetrics.bytesWritten,
        m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead,
        m.shuffleReadMetrics.fetchWaitTime / 1e3,
        m.memoryBytesSpilled + m.diskBytesSpilled)
    synchronized(buf += rec)
  }

  /** Tasks that ended since the last call (listeners drained first). */
  def take(sc: SparkContext): Seq[TaskRec] = {
    Internals.drainListeners(sc)
    synchronized { val out = buf.toList; buf.clear(); out }
  }
}

/** A traced interval; `parent` is the span that caused it (0 = none). */
final class Span(val id: Int, val parent: Int, val name: String, val layer: String,
                 val startNs: Long) {
  @volatile var endNs: Long = startNs
}

/** A finished stage: the benchmark span that caused its job, its operator
  * scopes and its tasks.
  */
final case class StageRec(id: Int, cause: String, scopes: Set[String], tasks: Seq[TaskRec])

/** A finished SQL query: the benchmark span that caused it, its Catalyst
  * analysis + optimisation + planning time, the summed SQL metrics of its
  * final physical plan (keyed `<node>.<metric>`) and its shuffle count.
  */
final case class QueryRec(cause: String, planS: Double, metrics: Map[String, Double],
                          shuffles: Int)

/** Everything one op caused. */
final case class OpTrace(jobs: Int, stages: Seq[StageRec], queries: Seq[QueryRec]) {
  def tasks: Seq[TaskRec] = stages.flatMap(_.tasks)
}

/** In-memory tracer of one run. The benchmark opens spans around its calls
  * into the engine, its forces and its checks; a `SparkListener` adds job
  * and stage spans and a `QueryExecutionListener` reads each query's final
  * plan. Each job carries the id of the benchmark span open when it started
  * (a local property), so jobs, stages and queries all link back to the
  * call that caused them. Spans are written out only by [[dump]].
  */
final class Tracer(sc: SparkContext) extends SparkListener with QueryExecutionListener {
  private val SpanProp = "perfbench.span"
  private var nextId = 1
  private val open = mutable.Stack.empty[Span]
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val byId = mutable.Map.empty[Int, Span]
  private val jobSpan = mutable.Map.empty[Int, Span]
  // Span that caused the latest job. Job starts and query ends reach the
  // listeners in posting order, and the benchmark runs one query at a time,
  // so a query's end follows its own jobs' starts.
  private var lastJobCause = 0
  private val stageJob = mutable.Map.empty[Int, Int]
  private val pendingStages = mutable.ArrayBuffer.empty[(Int, Int, Set[String])]
  private val pendingQueries = mutable.ArrayBuffer.empty[QueryRec]
  private var pendingJobs = 0
  private val tasks = new TaskTotals

  private def newSpan(parent: Int, name: String, layer: String, startNs: Long): Span =
    synchronized {
      val s = new Span(nextId, parent, name, layer, startNs)
      nextId += 1
      spans += s
      byId(s.id) = s
      s
    }

  /** Run `body` inside a span named `name` of layer `layer`. */
  def span[T](name: String, layer: String)(body: => T): T = {
    val parent = open.headOption.map(_.id).getOrElse(0)
    val s = newSpan(parent, name, layer, System.nanoTime())
    open.push(s)
    sc.setLocalProperty(SpanProp, s.id.toString)
    try body
    finally {
      s.endNs = System.nanoTime()
      open.pop()
      sc.setLocalProperty(SpanProp, open.headOption.map(_.id.toString).orNull)
    }
  }

  // Listener event times are wall-clock ms, spans use nanoTime; one offset
  // taken at start maps the first onto the second.
  private val offsetNs = System.nanoTime() - System.currentTimeMillis() * 1000000L
  private def ns(ms: Long): Long = ms * 1000000L + offsetNs

  private def causeName(id: Int): String = byId.get(id).map(_.name).getOrElse("none")

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val cause = props.flatMap(p => Option(p.getProperty(SpanProp))).map(_.toInt).getOrElse(0)
    jobSpan(e.jobId) = newSpan(cause, "job", "exec", ns(e.time))
    lastJobCause = cause
    e.stageIds.foreach(stageJob(_) = e.jobId)
    pendingJobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobSpan.get(e.jobId).foreach(_.endNs = ns(e.time))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    val job = jobSpan.get(stageJob.getOrElse(info.stageId, -1))
    val start = info.submissionTime.getOrElse(0L)
    val end = info.completionTime.getOrElse(start)
    newSpan(job.map(_.id).getOrElse(0), "stage", "exec", ns(start)).endNs = ns(end)
    pendingStages += ((info.stageId, job.map(_.parent).getOrElse(0), Internals.scopeNames(info)))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = tasks.onTaskEnd(e)

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val phases = qe.tracker.phases
    val planS = Seq("analysis", "optimization", "planning")
      .flatMap(phases.get).map(_.durationMs).sum / 1e3
    val metrics = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    var shuffles = 0
    nodes(qe.executedPlan).foreach { n =>
      if (n.isInstanceOf[ShuffleExchangeLike]) shuffles += 1
      n.metrics.foreach { case (k, m) => metrics(s"${n.nodeName}.$k") += m.value.toDouble }
    }
    synchronized(pendingQueries += QueryRec(causeName(lastJobCause), planS, metrics.toMap, shuffles))
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Every node of a physical plan, through AQE wrappers and query stages. */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case r: ReusedExchangeExec => Seq(r)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }

  /** What ran since the last call: drains the listeners, then hands over
    * the jobs, stages (with their tasks) and queries seen so far.
    */
  def take(): OpTrace = {
    val ts = tasks.take(sc).groupBy(_.stageId)
    synchronized {
      val st = pendingStages.toList.map { case (id, cause, scopes) =>
        StageRec(id, causeName(cause), scopes, ts.getOrElse(id, Nil))
      }
      val out = OpTrace(pendingJobs, st, pendingQueries.toList)
      pendingStages.clear(); pendingQueries.clear(); pendingJobs = 0
      out
    }
  }

  /** Self time of a span: its duration minus the union of its children. */
  private def selfSeconds(s: Span, kids: Seq[Span]): Double = {
    val iv = kids.map(k => (math.max(k.startNs, s.startNs), math.min(k.endNs, s.endNs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curA = 0L
    var curB = 0L
    var first = true
    iv.foreach { case (a, b) =>
      if (first || a > curB) {
        if (!first) covered += curB - curA
        curA = a; curB = b; first = false
      } else curB = math.max(curB, b)
    }
    if (!first) covered += curB - curA
    (s.endNs - s.startNs - covered) / 1e9
  }

  /** Summed self time per span name (`layer:name`). */
  def selfTimes: Map[String, Double] = synchronized {
    val kids = spans.groupBy(_.parent)
    spans.groupBy(s => s"${s.layer}:${s.name}").map { case (k, ss) =>
      k -> ss.map(s => selfSeconds(s, kids.getOrElse(s.id, Nil).toSeq)).sum
    }
  }

  /** Write every span as one JSON line (id, parent, name, layer, start,
    * end, self time) to `path`.
    */
  def dump(path: java.nio.file.Path): Unit = synchronized {
    val kids = spans.groupBy(_.parent)
    val lines = spans.map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}","layer":"${s.layer}",""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs},""" +
        s""""self_s":${selfSeconds(s, kids.getOrElse(s.id, Nil).toSeq)}}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}
