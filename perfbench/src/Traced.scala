package graftbench

import java.nio.file.{Files, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import scala.collection.mutable

/** The traced run: every workload in turn, each for a third of the run's
  * seconds, with op and query spans, Spark job counters and the kernel
  * timers on. Prints every per-layer metric.
  */
object Traced {
  import Main.median

  /** Runs `inner`'s ops inside op spans and keeps each op's counters. */
  private final class TracedWorkload(inner: Workload, tracer: Tracer) extends Workload {
    val totals = mutable.ArrayBuffer.empty[Tracer#Totals]
    var inOp = false
    def name: String = inner.name
    def unitName: String = inner.unitName
    def unitsPerOp: Double = inner.unitsPerOp
    def prepare(): Unit = inner.prepare()
    def warmupSeconds: Double = inner.warmupSeconds
    def warmupOp(i: Int): Unit = inner.warmupOp(i)
    def op(i: Int): Unit = {
      inOp = true
      try totals += tracer.span("op", s"$name-$i")(inner.op(i))._2
      finally inOp = false
    }
    def phasesMs: Seq[Double] = inner.phasesMs
    def check(): Seq[String] = inner.check()
    def checkCount: Int = inner.checkCount
  }

  def run(spark: SparkSession, args: Main.Args): String = {
    val tracer = new Tracer(spark)
    tracer.attach()
    val out = mutable.ArrayBuffer.empty[(String, Double, String)]
    var attempted = 0L
    var failed = 0L
    val seconds = args.seconds / Workload.names.size

    def perOp(prefix: String, ts: Seq[Tracer#Totals]): Unit = {
      out += ((s"$prefix.jobs", median(ts.map(_.jobs.toDouble)), "count"))
      out += ((s"$prefix.tasks", median(ts.map(_.tasks.toDouble)), "count"))
      out += ((s"$prefix.busy_ms", median(ts.map(_.busyMs.toDouble)), "ms"))
      out += ((s"$prefix.shuffle_bytes", median(ts.map(_.shuffleBytes.toDouble)), "bytes"))
      out += ((s"$prefix.gc_ms", median(ts.map(_.gcMs.toDouble)), "ms"))
      out += ((s"$prefix.tasks_failed", ts.map(_.failedTasks).sum.toDouble, "count"))
    }

    for (wn <- Workload.names) {
      val inner = Workload(wn, spark, args)
      val w = new TracedWorkload(inner, tracer)
      var beforeOp: Int => Unit = _ => ()
      var afterOp: Int => Unit = _ => ()
      val written = mutable.ArrayBuffer.empty[(Double, Double, Double)]
      val queryTotals = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Tracer#Totals]]

      inner match {
        case k: KernelsWorkload =>
          beforeOp = _ => k.traced = true
          afterOp = _ => k.traced = false
        case d: DeltaWorkload =>
          var before: Set[Path] = Set.empty
          beforeOp = _ => before = Main.files(d.tableRoot)
          afterOp = _ => {
            val added = Main.files(d.tableRoot) -- before
            val bytes = added.toSeq.map(Files.size).sum.toDouble
            val htmlBytes = d.lastBatch.agg(sum(length(col("html")))).head().getLong(0).toDouble
            written += ((bytes, added.size.toDouble, bytes / htmlBytes))
          }
        case q: QueriesWorkload =>
          q.around = (name, f) =>
            if (!w.inOp) f()
            else {
              val (d, t) = tracer.span("query", name)(f())
              queryTotals.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += t
              d
            }
      }

      val m = tracer.span("workload", wn)(
        // set-up time is not reported here: one set-up is enough
        Runner.measure(w, seconds, 0.0, prepares = 1, beforeOp, afterOp))._1
      attempted += m.opsMs.size + m.failedOps + m.checks
      failed += m.failedOps + m.checkFailures.size
      out += ((s"$wn.traced_op_ms", median(m.opsMs), "ms"))

      inner match {
        case k: KernelsWorkload =>
          k.kernels.zipWithIndex.foreach { case (kn, j) =>
            out += ((s"kernel.${kn}_ns", k.kernelNs(j).toDouble / k.tracedPages, "ns"))
          }
        case d: DeltaWorkload =>
          perOp("delta", w.totals.toSeq)
          out += (("delta.tables.bytes_written", median(written.map(_._1).toSeq), "bytes"))
          out += (("delta.tables.files_written", median(written.map(_._2).toSeq), "count"))
          out += (("delta.tables.write_amp", median(written.map(_._3).toSeq), "ratio"))
          out += (("delta.stored_bytes_per_page", d.storedBytesPerPage, "bytes"))
        case q: QueriesWorkload =>
          perOp("queries", w.totals.toSeq)
          val passes = queryTotals.values.map(_.size).min
          q.families.foreach { f =>
            val inFamily = q.mix.collect { case (name, `f`) => queryTotals(name) }
            val perPass = (0 until passes).map(k => inFamily.map(_(k)))
            def med(g: Tracer#Totals => Double) = median(perPass.map(_.map(g).sum))
            out += ((s"queries.$f.wall_ms", med(_.wallMs), "ms"))
            out += ((s"queries.$f.jobs", med(_.jobs.toDouble), "count"))
            out += ((s"queries.$f.tasks", med(_.tasks.toDouble), "count"))
            out += ((s"queries.$f.busy_ms", med(_.busyMs.toDouble), "ms"))
            out += ((s"queries.$f.shuffle_bytes", med(_.shuffleBytes.toDouble), "bytes"))
            out += ((s"queries.$f.exchanges", med(_.exchanges.toDouble), "count"))
          }
          q.mix.foreach { case (name, _) =>
            out += ((s"queries.$name.wall_ms", median(queryTotals(name).map(_.wallMs).toSeq), "ms"))
          }
      }
    }
    out += (("trace.unattributed_share", tracer.unattributedShare(tracer.spanIds("op")), "ratio"))
    out += (("trace.listener_ms", tracer.listenerNs.get() / 1e6, "ms"))
    tracer.detach()
    args.traceOut.foreach(tracer.writeJson)
    Main.resultJson(failed == 0, attempted, failed, out.toSeq)
  }
}
