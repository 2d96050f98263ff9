package graft

/** Round-6 side benchmark (guide §1.4): time a SUBSET of SparkEntry.queries
  * with the same methodology as [[Bench]] (count() action, one warm-up pass,
  * min over N interleaved rounds, cache cleared between runs) — for
  * before/after isolation while optimizing, without touching the frozen
  * driver harness. Also supports a `noop:` prefix per query name to time the
  * full-materialization noop sink instead of count(), and an `explain:`
  * prefix to print the query's formatted physical plan (pushdown,
  * broadcast choice, codegen spans) instead of timing it. After the times it
  * prints the 40 longest stages of the timed rounds.
  *
  * Usage: `sbt "runMain graft.BenchExtra d18_dup_spans noop:d20_winnow_fingerprints explain:kg4_triples"`
  * Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS, SPARK_GRAFT_BENCH_ROUNDS as Bench.
  */
object BenchExtra {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val rounds = sys.env.getOrElse("SPARK_GRAFT_BENCH_ROUNDS", "2").toInt
    require(args.nonEmpty, "pass query names (optionally noop:<name> or explain:<name>)")
    val spark = SideMain.session("graft-benchextra")

    val (explains, wanted) = args.toSeq.partition(_.startsWith("explain:"))
    explains.map(_.stripPrefix("explain:")).foreach { q =>
      println(s"\n========== $q ==========")
      SparkEntry.queries(q)(spark, sfDir).explain("formatted")
    }

    // per-stage profile: top stages by wall duration with their job
    // description — guide §1's "where does the time go" empirical loop
    // without the (disabled) UI
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[(String, Double, Long, Long)]()
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onStageCompleted(
            sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
          val i = sc.stageInfo
          val dur = (for {s <- i.submissionTime; e <- i.completionTime}
            yield (e - s) / 1e3).getOrElse(-1.0)
          stages.add((s"stage ${i.stageId} [${i.name.takeWhile(_ != '\n')}]",
            dur, i.taskMetrics.shuffleReadMetrics.totalBytesRead,
            i.taskMetrics.shuffleWriteMetrics.bytesWritten))
        }
      })

    val units = wanted.distinct
    var runs = 0
    def runOnce(name: String): Unit = {
      // the timer warms every unit up first: profile only the timed rounds
      if (runs == units.size) stages.clear()
      runs += 1
      val noop = name.startsWith("noop:")
      spark.sparkContext.setJobDescription(name)
      try {
        val df = SparkEntry.queries(name.stripPrefix("noop:"))(spark, sfDir)
        if (noop) df.write.format("noop").mode("overwrite").save()
        else df.count()
      } finally spark.sparkContext.setJobDescription(null)
    }

    SideMain.minOverRounds(units, rounds, () => spark.catalog.clearCache())(runOnce).foreach {
      case (n, Some((t, _))) => println(f"[benchextra] $n%-40s ${t}%.3f s")
      case (n, None) => println(f"[benchextra] $n%-40s FAILED (every round)")
    }
    import scala.jdk.CollectionConverters._
    stages.asScala.toSeq.sortBy(-_._2).take(40).foreach { case (n, d, sr, sw) =>
      println(f"[stage] $d%8.3f s  read=${sr / 1024}%8d KiB write=${sw / 1024}%8d KiB  $n")
    }
    spark.stop()
  }
}
