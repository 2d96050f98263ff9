package graft

import org.apache.spark.sql.SparkSession

/** Round-6 side benchmark (guide §1.4): time a SUBSET of SparkEntry.queries
  * with the same methodology as [[Bench]] (count() action, one warm-up pass,
  * min over N interleaved rounds, cache cleared between runs) — for
  * before/after isolation while optimizing, without touching the frozen
  * driver harness. Also supports a `noop:` prefix per query name to time the
  * full-materialization noop sink instead of count(), and an `explain:`
  * prefix to print the query's formatted physical plan (pushdown,
  * broadcast choice, codegen spans) instead of timing it.
  *
  * Usage: `sbt "runMain graft.BenchExtra d18_dup_spans noop:d20_winnow_fingerprints explain:kg4_triples"`
  * Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS, SPARK_GRAFT_BENCH_ROUNDS as Bench.
  */
object BenchExtra {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val rounds = sys.env.getOrElse("SPARK_GRAFT_BENCH_ROUNDS", "2").toInt
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    require(args.nonEmpty, "pass query names (optionally noop:<name> or explain:<name>)")
    val (explains, wanted) = args.toSeq.partition(_.startsWith("explain:"))
    explains.map(_.stripPrefix("explain:")).foreach { q =>
      println(s"\n========== $q ==========")
      SparkEntry.queries(q)(spark, sfDir).explain("formatted")
    }

    // optional per-stage profile (SPARK_GRAFT_BENCH_PROFILE=1): top stages
    // by wall duration with their job description — guide §1's "where does
    // the time go" empirical loop without the (disabled) UI
    val profile = sys.env.get("SPARK_GRAFT_BENCH_PROFILE").contains("1")
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[(String, Double, Long, Long)]()
    if (profile) spark.sparkContext.addSparkListener(
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

    def timeOnce(name: String): Double = {
      val noop = name.startsWith("noop:")
      val q = name.stripPrefix("noop:")
      val fn = SparkEntry.queries(q)
      spark.sparkContext.setJobDescription(name)
      val t0 = System.nanoTime()
      try {
        val df = fn(spark, sfDir)
        if (noop) df.write.format("noop").mode("overwrite").save()
        else df.count()
      } catch { case e: Throwable => System.err.println(s"$name FAILED: $e"); return -1.0 }
      finally spark.sparkContext.setJobDescription(null)
      (System.nanoTime() - t0) / 1e9
    }

    wanted.foreach { n => timeOnce(n); spark.catalog.clearCache() }
    stages.clear()
    val best = scala.collection.mutable.LinkedHashMap[String, Double]()
    for (_ <- 0 until rounds; n <- wanted) {
      val t = timeOnce(n)
      spark.catalog.clearCache()
      // a failed round (t < 0) never displaces a valid time
      if (t >= 0) best(n) = best.get(n).fold(t)(math.min(_, t))
    }
    wanted.distinct.foreach { n =>
      best.get(n) match {
        case Some(t) => println(f"[benchextra] $n%-40s ${t}%.3f s")
        case None => println(f"[benchextra] $n%-40s FAILED (every round)")
      }
    }
    if (profile) {
      import scala.jdk.CollectionConverters._
      stages.asScala.toSeq.sortBy(-_._2).take(40).foreach { case (n, d, sr, sw) =>
        println(f"[stage] $d%8.3f s  read=${sr / 1024}%8d KiB write=${sw / 1024}%8d KiB  $n")
      }
    }
    spark.stop()
  }
}
