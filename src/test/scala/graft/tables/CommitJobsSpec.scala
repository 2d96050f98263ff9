package graft.tables

import graft.SparkTestBase
import org.apache.spark.TestListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.execution.{QueryExecution, SQLExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

/** Spark-job budget of a stage commit: a `merge` into a fixed small table, a
  * `replace`, a `mergeScoped` and a lineage `capture`, each under its own job
  * group, with the number of jobs the group submitted pinned. Bookkeeping
  * that quietly goes back to Spark — a schema-inference read, a recount of
  * what was just written, a lineage write job — moves the count and fails
  * here. The commit's plan shape is pinned too: one narrow bucket scan that
  * runs no SQL execution, then one SQL write with a single shuffle.
  */
class CommitJobsSpec extends AnyFunSuite {
  import CommitJobsSpec.Run

  private val spark = SparkTestBase.spark
  import spark.implicits._

  private def tmp(): String =
    Files.createTempDirectory(Paths.get("target"), "commit-jobs-").toString

  private def run(group: String)(body: => Unit): Run = {
    val sc = spark.sparkContext
    val bare = new ConcurrentLinkedQueue[Int]
    val executions = new ConcurrentLinkedQueue[Long]
    val plans = new ConcurrentLinkedQueue[SparkPlan]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val props = e.properties
        if (props != null && props.getProperty("spark.jobGroup.id") == group &&
            props.getProperty(SQLExecution.EXECUTION_ID_KEY) == null) bare.add(e.jobId)
      }
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart if s.jobGroupId.contains(group) => executions.add(s.executionId)
        case _ =>
      }
    }
    val qeListener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        plans.add(qe.executedPlan)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    // a query that finished before `body` (the table's setup commit) may
    // still be queued on the bus: deliver it before listening
    TestListenerBus.drain(sc)
    sc.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    sc.setJobGroup(group, group)
    try body
    finally {
      sc.clearJobGroup()
      TestListenerBus.drain(sc)
      sc.removeSparkListener(listener)
      spark.listenerManager.unregister(qeListener)
    }
    Run(sc.statusTracker.getJobIdsForGroup(group).length, bare.size, executions.size,
      plans.asScala.toSeq)
  }

  private def jobsOf(group: String)(body: => Unit): Int = run(group)(body).jobs

  /** Every node of a final plan, through AQE's wrappers and query stages. */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => q +: nodes(q.plan)
    case other => other +: other.children.flatMap(nodes)
  }

  private def table(): MergeTable = {
    val t = new MergeTable(spark, tmp(), Seq("id"))
    t.merge((1 to 40).map(i => (s"k$i", i)).toDF("id", "v"))
    t
  }

  private def mergeBatch = ((1 to 5).map(i => (s"k$i", -i)) ++ (41 to 45).map(i => (s"k$i", i))).toDF("id", "v")
  private def replaceBatch = (1 to 20).map(i => (s"r$i", i)).toDF("id", "v")

  /** A url-scoped table of 40 pages with two rows each. */
  private def scopedTable(): MergeTable = {
    val t = new MergeTable(spark, tmp(), Seq("url", "begin"), scopeCols = Some(Seq("url")))
    t.merge((1 to 40).flatMap(i => Seq((s"u$i", 0, "a"), (s"u$i", 5, "b"))).toDF("url", "begin", "v"))
    t
  }

  /** Pages u1–u3 re-emit one row each; u4 is processed and emits none. */
  private def mergeScopedOnce(t: MergeTable): Unit =
    t.mergeScoped((1 to 3).map(i => (s"u$i", 0, "new")).toDF("url", "begin", "v"),
      (1 to 4).map(i => s"u$i").toDF("url"))

  test("a merge into a small table submits the pinned number of Spark jobs") {
    val t = table()
    val got = jobsOf("commit-jobs-merge")(t.merge(mergeBatch))
    assert(t.rowCount == 45)
    // 3 since the touched buckets come from a narrow bitmask scan and the
    // surviving rows from a per-bucket window: the scan, the one shuffle and
    // the write (6 with the touched-bucket collect, the anti-join and the
    // batch dedup)
    assert(got == 3, s"merge ran $got Spark jobs, pinned 3")
  }

  test("a replace submits the pinned number of Spark jobs") {
    val t = table()
    val got = jobsOf("commit-jobs-replace")(t.replace(replaceBatch))
    assert(t.rowCount == 20)
    // 2 since the batch dedup rides the write's one shuffle by bucket: the
    // shuffle and the write (3 with a dedup shuffle of its own)
    assert(got == 2, s"replace ran $got Spark jobs, pinned 2")
  }

  test("a mergeScoped into a small table submits the pinned number of Spark jobs") {
    val t = scopedTable()
    val got = jobsOf("commit-jobs-merge-scoped")(mergeScopedOnce(t))
    assert(t.rowCount == 80 - 8 + 3)
    // the scan of scopes ∪ batch scopes, the one shuffle and the write
    assert(got == 3, s"mergeScoped ran $got Spark jobs, pinned 3")
  }

  test("a capture of a 4-partition frame submits the pinned number of Spark jobs") {
    val lineage = new Lineage(spark, tmp())
    val got = jobsOf("commit-jobs-capture")(
      lineage.capture("jobs", 1L, spark.range(0, 40, 1, 4).toDF("id"), 1L))
    assert(lineage.lineageRows().count() == 4)
    assert(got == 1, s"capture ran $got Spark jobs, pinned 1")
  }

  Seq[(String, () => MergeTable, MergeTable => Unit, Int)](
    ("merge", () => table(), t => t.merge(mergeBatch), 1),
    ("mergeScoped", () => scopedTable(), mergeScopedOnce, 1),
    ("replace", () => table(), t => t.replace(replaceBatch), 0)
  ).foreach { case (name, make, commit, scans) =>
    test(s"a $name commits through one SQL write with one shuffle and no join") {
      val t = make()
      val got = run(s"commit-plan-$name")(commit(t))
      assert(got.executions == 1, s"$name ran ${got.executions} SQL executions")
      // the touched-bucket scan is the only job outside the write's execution
      assert(got.bareJobs == scans, s"$name ran ${got.bareJobs} jobs outside a SQL execution")
      assert(got.plans.size == 1, s"$name finished ${got.plans.size} queries")
      val plan = nodes(got.plans.head)
      val shuffles = plan.count(_.isInstanceOf[ShuffleExchangeLike])
      assert(shuffles == 1, s"$name: $shuffles shuffle exchanges in\n${got.plans.head}")
      assert(!plan.exists(n => n.isInstanceOf[BroadcastExchangeLike] || n.isInstanceOf[BaseJoinExec]),
        s"$name: a join or broadcast in\n${got.plans.head}")
    }
  }
}

object CommitJobsSpec {

  /** What one job group ran: its Spark jobs, those of them outside any SQL
    * execution, its SQL executions and the plans of the queries that
    * finished meanwhile.
    */
  private final case class Run(jobs: Int, bareJobs: Int, executions: Int, plans: Seq[SparkPlan])
}
