package graft

import org.apache.spark.sql.SparkSession
import scala.util.control.NonFatal

/** What the side mains ([[BenchExtra]], [[ScalingBench]], [[RunPipeline]])
  * share, so each keeps only its own measurement policy: one session
  * builder and one min-over-rounds timer. [[Bench]] and [[Verify]] build
  * their own sessions and are left as they are.
  */
object SideMain {

  /** A session with AQE on, UTC and log level WARN. A master given by
    * spark-submit (or `-Dspark.master`) is kept together with its shuffle
    * partitions and UI; otherwise the session runs `local[threads]` with
    * `threads` shuffle partitions and the UI off.
    */
  def session(appName: String,
              threads: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt): SparkSession = {
    val builder = SparkSession.builder()
      .appName(appName)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
    val spark = (if (sys.props.contains("spark.master")) builder
                 else builder.master(s"local[$threads]")
                   .config("spark.sql.shuffle.partitions", threads.toString)
                   .config("spark.ui.enabled", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Min-over-rounds timing: one warm-up run per unit, then `rounds`
    * interleaved rounds over all units, `between()` after every run. A run
    * that throws is reported on stderr and never displaces a valid time.
    * Returns, per unit in order, its fastest timed run as (seconds, result),
    * or None when every timed round failed.
    */
  def minOverRounds[U, R](units: Seq[U], rounds: Int, between: () => Unit = () => ())
                         (run: U => R): Seq[(U, Option[(Double, R)])] = {
    def once(u: U): Option[(Double, R)] = {
      val t0 = System.nanoTime()
      try {
        val r = run(u)
        Some(((System.nanoTime() - t0) / 1e9, r))
      } catch { case NonFatal(e) => System.err.println(s"$u FAILED: $e"); None }
      finally between()
    }
    units.foreach(once)
    val best = scala.collection.mutable.LinkedHashMap(units.map(_ -> Option.empty[(Double, R)]): _*)
    for (_ <- 0 until rounds; u <- units; t <- once(u))
      if (best(u).forall(_._1 > t._1)) best(u) = Some(t)
    best.toSeq
  }
}
