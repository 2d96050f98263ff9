package graft.operators

import graft.SparkTestBase
import graft.canon.ConnectedComponents
import org.apache.spark.TestListenerBus
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** Spark-job budget of the seven iterative graph operators: each runs on one
  * small fixed graph under its own job group, result consumed by a collect,
  * and the number of jobs the group submitted is pinned. A change to a loop
  * that quietly adds (or drops) an action — an extra count, an uncached
  * re-derivation, a lost early stop — moves the count and fails here.
  */
class GraphLoopJobsSpec extends AnyFunSuite {

  private val spark = SparkTestBase.spark
  import spark.implicits._

  // a triangle with a tail and a detached pair, symmetric, integer weights
  private val und = Seq(("a", "b", 1L), ("a", "c", 2L), ("b", "c", 1L),
    ("c", "d", 3L), ("d", "e", 1L), ("x", "y", 2L))
  private def edges: DataFrame =
    (und ++ und.map { case (s, d, w) => (d, s, w) }).toDF("src", "dst", "w")
  private def seeds: DataFrame = Seq("a", "x").toDF("id")

  private def jobsOf(group: String)(body: => DataFrame): Int = {
    val sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try body.collect()
    finally sc.clearJobGroup()
    TestListenerBus.drain(sc)
    sc.statusTracker.getJobIdsForGroup(group).length
  }

  private val pinned: Seq[(String, () => DataFrame, Int)] = Seq(
    ("pageRankInt", () => GraphOps.pageRankInt(edges, iters = 10), 50),
    ("bfsDistances", () => GraphOps.bfsDistances(edges, seeds, maxHops = 4), 27),
    ("ssspBounded", () => GraphOps.ssspBounded(
      edges.withColumnRenamed("w", "cost"), seeds, rounds = 3), 15),
    ("kcoreBounded", () => GraphOps.kcoreBounded(edges, k = 2, rounds = 3), 28),
    ("labelPropagation", () => GraphOps.labelPropagation(edges, rounds = 3), 23),
    ("randomWalks", () => GraphOps.randomWalks(edges, walkLen = 3), 10),
    ("ConnectedComponents.run", () => ConnectedComponents.run(spark,
      edges, Seq("solo").toDF("id")), 38))

  pinned.foreach { case (name, op, want) =>
    test(s"$name submits the pinned number of Spark jobs") {
      val got = jobsOf(s"graph-loop-jobs-$name")(op())
      assert(got == want, s"$name ran $got Spark jobs, pinned $want")
    }
  }
}
