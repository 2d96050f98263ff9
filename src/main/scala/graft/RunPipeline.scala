package graft

import graft.pipeline.KgPipeline

/** spark-submit entry point for the KG-construction pipeline.
  *
  *   spark-submit --class graft.RunPipeline <jar> <rootDir> [nPages]
  *
  * Master/executors come from spark-submit (`--master`, `--num-executors`);
  * when launched standalone (sbt runMain) it runs local[SPARK_GRAFT_CPUS]
  * ([[SideMain.session]]). The pipeline is resumable by construction:
  * re-submitting with the same root skips committed stages (stage markers
  * keyed by input snapshot) and MERGE idempotency makes replays
  * exactly-once — kill it anywhere and re-submit.
  */
object RunPipeline {
  def main(args: Array[String]): Unit = {
    val root = args.headOption.getOrElse("target/kg")
    val nPages = args.lift(1).map(_.toLong).getOrElse(2000L)

    val spark = SideMain.session("graft-kg-pipeline")

    val pipeline = new KgPipeline(spark, root, nPages)
    val triplesSnap = pipeline.run()
    // every table, keyed by its directory name
    val counts = pipeline.tables
      .map(t => s""""${t.path.split('/').last}": ${t.rowCount}""").mkString("{", ", ", "}")
    println(s"""{"metric":"kg_pipeline","triples_snapshot":$triplesSnap,"tables":$counts}""")
    spark.stop()
  }
}
