package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** Entry point of the graft benchmark (see perfbench/README.md).
  *
  *   Main --workload kernels|delta|queries --seed N --seconds S --trace 0|1
  *        --work DIR [--expected FILE] [--record FILE] [--trace-out FILE]
  *        [--corrupt-expected]
  *
  * With `--trace 0` one workload runs untraced and the last stdout line holds
  * its end-to-end metrics. With `--trace 1` every workload runs once with the
  * listener and layer timers attached, so one traced run measures every
  * per-layer metric whichever workload was named.
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        work: Path, expected: Option[Path], record: Option[Path],
                        traceOut: Option[Path], corruptExpected: Boolean)

  def parse(argv: Array[String]): Args = {
    val flag = "--corrupt-expected"
    val kv = argv.filter(_ != flag).grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
    }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble, need("trace") == "1",
      Paths.get(need("work")), kv.get("expected").map(Paths.get(_)), kv.get("record").map(Paths.get(_)),
      kv.get("trace-out").map(Paths.get(_)), argv.contains(flag))
  }

  def session(work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // permissions through java.nio instead of a chmod/ls child process
      // per file (see NoForkLocalFileSystem)
      .config("spark.hadoop.fs.file.impl", classOf[NoForkLocalFileSystem].getName)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      // the status store keeps every finished job and query in the heap;
      // bounded, the heap after a run does not grow with its op count
      .config("spark.sql.ui.retainedExecutions", "20")
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "50")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    Files.createDirectories(args.work)
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = session(args.work)
    val sessionReadyS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    val result =
      try {
        if (args.trace) Traced.run(spark, args)
        else {
          val w = Workload(args.workload, spark, args)
          Runner.untraced(w, args, sessionReadyS)
        }
      } finally {
        spark.stop()
        deleteTree(args.work)
      }
    println(result)
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      try walk.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(x => Files.deleteIfExists(x))
      finally walk.close()
    }

  /** Regular files under `p`. */
  def files(p: Path): Set[Path] =
    if (!Files.exists(p)) Set.empty
    else {
      val walk = Files.walk(p)
      try {
        val b = Set.newBuilder[Path]
        walk.filter(Files.isRegularFile(_)).forEach(f => b += f)
        b.result()
      } finally walk.close()
    }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** One JSON result line: `metrics` is name -> (value, unit). */
  def resultJson(correct: Boolean, attempted: Long, failed: Long,
                 metrics: Seq[(String, Double, String)]): String = {
    val ms = metrics.map { case (n, v, u) =>
      require(!v.isNaN && !v.isInfinite, s"metric $n is not finite")
      s""""$n": {"value": ${java.math.BigDecimal.valueOf(v).toPlainString}, "unit": "$u"}"""
    }.mkString("{", ", ", "}")
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": $ms}"""
  }
}

/** Timing loop shared by every workload. */
object Runner {
  import Main.median

  private val memory = ManagementFactory.getMemoryMXBean

  /** Heap in use after a full collection: the live set the op left behind. */
  def heapAfterGcMb(): Double = {
    System.gc()
    memory.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** `opsMs`: wall time of each op that succeeded; `phasesMs`: the same ops
    * split into their phases (see [[Workload.phasesMs]]).
    */
  final case class Measured(setupS: Double, opsMs: Seq[Double], phasesMs: Seq[Seq[Double]], failedOps: Int,
                            peakHeapMb: Double, checkFailures: Seq[String], checks: Int)

  /** An op's time on a quiet host: each phase at the fastest it ran, summed.
    * On CPUs shared with other tenants, ops of the same work differ by up to
    * 2x, in stretches of a fraction of a second to a minute; a phase of
    * 8-300 ms often runs in a quiet stretch, a whole op of 0.1-1.5 s
    * seldom does. Only ops with the most common phase count take part, so
    * phase k is the same piece of work in each.
    */
  def floorMs(phasesMs: Seq[Seq[Double]]): Double = {
    val same = phasesMs.groupBy(_.size).maxBy { case (n, ops) => (ops.size, n) }._2
    same.transpose.map(_.min).sum
  }

  /** Set up `prepares` times (median kept), warm up, then run ops in a closed
    * loop until `seconds` have passed, then check outputs.
    */
  def measure(w: Workload, seconds: Double, sessionReadyS: Double, prepares: Int = 3,
              beforeOp: Int => Unit = _ => (), afterOp: Int => Unit = _ => ()): Measured = {
    val prepS = (1 to prepares).map { _ =>
      val t0 = System.nanoTime()
      w.prepare()
      (System.nanoTime() - t0) / 1e9
    }
    val tw = System.nanoTime()
    var j = 0
    while (j == 0 || (System.nanoTime() - tw) / 1e9 < w.warmupSeconds) { w.warmupOp(j); j += 1 }
    val warmS = (System.nanoTime() - tw) / 1e9
    val setupS = sessionReadyS + median(prepS) + warmS

    val samples = mutable.ArrayBuffer.empty[Double]
    val phases = mutable.ArrayBuffer.empty[Seq[Double]]
    var failedOps = 0
    var peak = heapAfterGcMb()
    val start = System.nanoTime()
    var lastSample = start
    var i = 0
    while (i == 0 || (System.nanoTime() - start) / 1e9 < seconds) {
      beforeOp(i)
      val t0 = System.nanoTime()
      val ok =
        try { w.op(i); true }
        catch { case e: Exception => System.err.println(s"op $i failed: $e"); false }
      val wallMs = (System.nanoTime() - t0) / 1e6
      val ph = if (ok) w.phasesMs else Nil
      if (ok) { samples += wallMs; phases += ph } else failedOps += 1
      System.err.println(f"[${w.name}] op $i: $wallMs%.1f ms, phases ${ph.map(p => f"$p%.0f").mkString(" ")}")
      afterOp(i)
      // a full GC costs about as much as a kernels op: sample once a second
      if (System.nanoTime() - lastSample > 1e9) {
        peak = math.max(peak, heapAfterGcMb())
        lastSample = System.nanoTime()
      }
      i += 1
    }
    val failures = w.check()
    failures.foreach(f => System.err.println(s"check failed: $f"))
    Measured(setupS, samples.toSeq, phases.toSeq, failedOps, peak, failures, w.checkCount)
  }

  def untraced(w: Workload, args: Main.Args, sessionReadyS: Double): String = {
    val m = measure(w, args.seconds, sessionReadyS)
    if (m.opsMs.isEmpty) throw new IllegalStateException(s"${w.name}: no op succeeded")
    val attempted = m.opsMs.size + m.failedOps + m.checks
    val failed = m.failedOps + m.checkFailures.size
    val opFloorMs = floorMs(m.phasesMs)
    val opMedMs = median(m.opsMs)
    System.err.println(f"[${w.name}] ops=${m.opsMs.size} phases=${m.phasesMs.map(_.size).max} " +
      f"op_floor_ms=$opFloorMs%.1f op_min_ms=${m.opsMs.min}%.1f op_p50_ms=$opMedMs%.1f " +
      f"setup_s=${m.setupS}%.2f peak_heap_mb=${m.peakHeapMb}%.1f " +
      f"${w.unitName}_per_s=${w.unitsPerOp * 1000 / opMedMs}%.1f error_rate=${failed.toDouble / attempted}%.4f")
    Main.resultJson(failed == 0, attempted, failed, Seq(
      ("setup_s", m.setupS, "s"),
      ("op_floor_ms", opFloorMs, "ms"),
      ("peak_heap_mb", m.peakHeapMb, "MB")))
  }
}
