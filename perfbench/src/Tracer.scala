package graftbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** In-memory spans for the traced run: workload -> op -> query -> Spark job.
  *
  * The benchmark thread opens a span and sets its id as the Spark job group,
  * so every job submitted inside it names its parent. A job whose group is
  * not an open span is unattributed. Spans are written once, at the end.
  */
final class Tracer(spark: SparkSession) {
  final case class Span(id: String, parent: String, kind: String, name: String,
                        startMs: Long, var endMs: Long = -1L)
  final class JobStats(val jobId: Int, val group: String, val submitMs: Long) {
    var endMs = -1L
    var tasks = 0L
    var failedTasks = 0L
    var busyMs = 0L
    var shuffleBytes = 0L
  }
  /** Counters of one closed span, summed over its own and its children's jobs. */
  final case class Totals(wallMs: Double, jobs: Long, tasks: Long, failedTasks: Long, busyMs: Long,
                          shuffleBytes: Long, exchanges: Long, gcMs: Long)

  private val sc = spark.sparkContext
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.Stack.empty[Span]
  private val nextId = new AtomicLong()
  private val jobs = new ConcurrentHashMap[Int, JobStats]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val exchangesSinceTake = new AtomicLong()
  /** Time spent inside the listener callbacks: the tracing cost. */
  val listenerNs = new AtomicLong()
  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq

  private def gcMs: Long = gcBeans.map(_.getCollectionTime).sum

  private def timedCallback(f: => Unit): Unit = {
    val t0 = System.nanoTime()
    f
    listenerNs.addAndGet(System.nanoTime() - t0)
  }

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = timedCallback {
      val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
      jobs.put(e.jobId, new JobStats(e.jobId, group, e.time))
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = timedCallback {
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timedCallback {
      Option(stageJob.get(e.stageId)).flatMap(j => Option(jobs.get(j))).foreach { j =>
        j.tasks += 1
        if (e.taskInfo != null && e.taskInfo.failed) j.failedTasks += 1
        val m = e.taskMetrics
        if (m != null) {
          j.busyMs += m.executorRunTime
          j.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        }
      }
    }
  }

  private def exchangesIn(p: SparkPlan): Long = p match {
    case a: AdaptiveSparkPlanExec => exchangesIn(a.executedPlan)
    case q: QueryStageExec => exchangesIn(q.plan)
    case e: ShuffleExchangeLike => 1L + e.children.map(exchangesIn).sum
    case other => other.children.map(exchangesIn).sum + other.subqueries.map(exchangesIn).sum
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = timedCallback {
      exchangesSinceTake.addAndGet(exchangesIn(qe.executedPlan))
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  def attach(): Unit = {
    sc.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  def detach(): Unit = {
    drain()
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }

  private def drain(): Unit = org.apache.spark.BenchListenerBus.drain(sc)

  /** Runs `body` inside a new span whose id is the job group of its jobs. */
  def span[A](kind: String, name: String)(body: => A): (A, Totals) = {
    val parent = open.headOption.map(_.id).getOrElse("")
    val s = Span(s"s${nextId.incrementAndGet()}", parent, kind, name, System.currentTimeMillis())
    spans += s
    open.push(s)
    sc.setJobGroup(s.id, s"$kind $name", interruptOnCancel = false)
    val gc0 = gcMs
    val t0 = System.nanoTime()
    val ex0 = exchangesSinceTake.get()
    try {
      val r = body
      val wallMs = (System.nanoTime() - t0) / 1e6
      s.endMs = System.currentTimeMillis()
      drain()
      (r, totals(s, wallMs, exchangesSinceTake.get() - ex0, gcMs - gc0))
    } finally {
      open.pop()
      open.headOption match {
        case Some(p) => sc.setJobGroup(p.id, s"${p.kind} ${p.name}", interruptOnCancel = false)
        case None => sc.clearJobGroup()
      }
    }
  }

  private def descendants(id: String): Set[String] = {
    val kids = spans.filter(_.parent == id).map(_.id)
    kids.toSet ++ kids.flatMap(descendants)
  }

  private def totals(s: Span, wallMs: Double, exchanges: Long, gc: Long): Totals = {
    val ids = descendants(s.id) + s.id
    val js = jobs.values().asScala.filter(j => ids.contains(j.group))
    Totals(wallMs, js.size, js.map(_.tasks).sum, js.map(_.failedTasks).sum, js.map(_.busyMs).sum,
      js.map(_.shuffleBytes).sum, exchanges, gc)
  }

  /** Share of the jobs submitted inside `spanIds`' time windows that carry no
    * open span's group.
    */
  def unattributedShare(spanIds: Set[String]): Double = {
    val windows = spans.filter(s => spanIds.contains(s.id)).map(s => (s.startMs, s.endMs))
    val inside = jobs.values().asScala.filter(j => windows.exists { case (a, b) => j.submitMs >= a && j.submitMs <= b })
    val known = spans.map(_.id).toSet
    if (inside.isEmpty) 0.0 else inside.count(j => !known.contains(j.group)).toDouble / inside.size
  }

  def spanIds(kind: String): Set[String] = spans.filter(_.kind == kind).map(_.id).toSet

  /** Spans and job spans as one JSON document. */
  def writeJson(path: java.nio.file.Path): Unit = {
    def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    val spanLines = spans.map(s =>
      s"""{"id": ${q(s.id)}, "parent": ${q(s.parent)}, "kind": ${q(s.kind)}, "name": ${q(s.name)}, "start_ms": ${s.startMs}, "end_ms": ${s.endMs}}""")
    val jobLines = jobs.values().asScala.toSeq.sortBy(_.jobId).map(j =>
      s"""{"id": ${q("job" + j.jobId)}, "parent": ${q(j.group)}, "kind": "job", "name": ${q("job " + j.jobId)}, "start_ms": ${j.submitMs}, "end_ms": ${j.endMs}, "tasks": ${j.tasks}, "failed_tasks": ${j.failedTasks}, "busy_ms": ${j.busyMs}, "shuffle_bytes": ${j.shuffleBytes}}""")
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path, (spanLines ++ jobLines).mkString("[\n", ",\n", "\n]\n"))
  }
}
