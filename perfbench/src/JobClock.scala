package graftbench

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** Submission and end time of each Spark job, to split an op's wall time at
  * its job boundaries. Two listener callbacks per job, none per task.
  */
final class JobClock(spark: SparkSession) {
  private val sc = spark.sparkContext
  /** job id -> (submitted, ended) in epoch ms; -1 while running. */
  private val jobs = new ConcurrentHashMap[Int, Array[Long]]()

  sc.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = jobs.put(e.jobId, Array(e.time, -1L))
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Option(jobs.get(e.jobId)).foreach(_(1) = e.time)
  })

  /** `[fromMs, toMs]` cut at the submission and end of every job submitted in
    * it: the driver time before, between and after jobs and each job's time,
    * in the order they happened. Forgets every job seen so far.
    */
  def phasesMs(fromMs: Long, toMs: Long): Seq[Double] = {
    org.apache.spark.BenchListenerBus.drain(sc)
    val inside = jobs.values.asScala.filter(t => t(0) >= fromMs && t(0) <= toMs).toSeq
    jobs.clear()
    val cuts = inside.flatMap(_.toSeq).map(t => if (t < 0) toMs else math.min(math.max(t, fromMs), toMs)).sorted
    (fromMs +: cuts :+ toMs).sliding(2).map { case Seq(a, b) => (b - a).toDouble }.toSeq
  }
}
