package graft.tables

import graft.SparkTestBase
import org.apache.spark.TestListenerBus
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}

/** Spark-job budget of a stage commit: a `merge` into a fixed small table, a
  * `replace` and a lineage `capture`, each under its own job group, with the
  * number of jobs the group submitted pinned. Bookkeeping that quietly goes
  * back to Spark — a schema-inference read, a recount of what was just
  * written, a lineage write job — moves the count and fails here.
  */
class CommitJobsSpec extends AnyFunSuite {

  private val spark = SparkTestBase.spark
  import spark.implicits._

  private def tmp(): String =
    Files.createTempDirectory(Paths.get("target"), "commit-jobs-").toString

  private def jobsOf(group: String)(body: => Unit): Int = {
    val sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try body
    finally sc.clearJobGroup()
    TestListenerBus.drain(sc)
    sc.statusTracker.getJobIdsForGroup(group).length
  }

  private def table(): MergeTable = {
    val t = new MergeTable(spark, tmp(), Seq("id"))
    t.merge((1 to 40).map(i => (s"k$i", i)).toDF("id", "v"))
    t
  }

  test("a merge into a small table submits the pinned number of Spark jobs") {
    val t = table()
    val batch = ((1 to 5).map(i => (s"k$i", -i)) ++ (41 to 45).map(i => (s"k$i", i))).toDF("id", "v")
    val got = jobsOf("commit-jobs-merge")(t.merge(batch))
    assert(t.rowCount == 45)
    // 6 since the anti-join's key side reads the raw batch: the batch is
    // deduplicated once, for the union side, no longer for the key side too
    assert(got == 6, s"merge ran $got Spark jobs, pinned 6")
  }

  test("a replace submits the pinned number of Spark jobs") {
    val t = table()
    val got = jobsOf("commit-jobs-replace")(t.replace((1 to 20).map(i => (s"r$i", i)).toDF("id", "v")))
    assert(t.rowCount == 20)
    assert(got == 3, s"replace ran $got Spark jobs, pinned 3")
  }

  test("a capture of a 4-partition frame submits the pinned number of Spark jobs") {
    val lineage = new Lineage(spark, tmp())
    val got = jobsOf("commit-jobs-capture")(
      lineage.capture("jobs", 1L, spark.range(0, 40, 1, 4).toDF("id"), 1L))
    assert(lineage.lineageRows().count() == 4)
    assert(got == 1, s"capture ran $got Spark jobs, pinned 1")
  }
}
