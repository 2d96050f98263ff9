package graft.tables

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Eager materialization with a choice of durability, and the one owner of
  * the "compute once, release the inputs" lifecycle in this library: every
  * call-scoped cache in the operator library is held in a [[superstep]]
  * scope. The iterative graph operators ([[graft.operators.GraphOps]],
  * [[graft.canon.ConnectedComponents]]) run their rounds in one; each
  * [[graft.pipeline.KgPipeline]] chain holds its run-scoped payload caches
  * in one; and a one-shot operator (the dedup, sketch, text-analysis,
  * similarity, packing and keyword-search operators, the Linker
  * mention/link stages, EmbeddingCache) is a scope that calls no `rounds`:
  * it holds the frames its plan reads more than once, materializes the
  * result and returns it. The only caches outside a scope are a stage's
  * output inside [[Lineage.commit]], and two that their caller owns: the
  * serving frames of a [[graft.operators.KeywordSearch.Index]] and the
  * test-only un-materialized result of
  * [[graft.canon.ConnectedComponents.runIncremental]].
  *
  * The lifecycle contract of a [[superstep]] call:
  *  - held frames ([[Superstep.hold]]) are persisted once and released
  *    when the call returns OR throws — an operator that fails mid-loop
  *    leaves nothing in the session's cache;
  *  - round frames ([[Superstep.holdRound]]) are released at the end of
  *    the round that made them, again also on a throw;
  *  - [[Superstep.rounds]] owns the round counter and the early stop; each
  *    step calls `materialize` itself, on whatever cadence it needs, so the
  *    per-round plan never embeds earlier rounds (an iterative plan that is
  *    never cut grows with every round);
  *  - durability: `materialize` is `localCheckpoint(eager = true)` when
  *    `dir` is None — it truncates lineage by caching the RDD in the
  *    executors' block managers, correct and cheap in a single JVM, but on
  *    a real cluster an executor loss during a later stage recomputes the
  *    WHOLE upstream pipeline (the lineage is gone, so Spark can't replay
  *    just the lost partitions). Passing `dir` switches to reliable
  *    `checkpoint()`: partitions are written to fault-tolerant storage
  *    (HDFS/S3) and an executor loss re-reads only the lost files. Both
  *    modes give identical output (spec-pinned per operator). Spark does
  *    NOT auto-delete reliable checkpoints: the returned frame depends on
  *    its files until the caller has consumed (or re-materialized) it,
  *    after which the caller owns deleting `dir`; set
  *    `spark.cleaner.referenceTracking.cleanCheckpoints=true` to let the
  *    ContextCleaner reclaim per-round intermediates as they fall out of
  *    scope.
  *
  * Global-dir caveat: `setCheckpointDir` is SparkContext-GLOBAL, so the
  * reliable mode saves and restores the session's previous dir around the
  * call — two pipelines (or unrelated `.checkpoint()` code) in one session
  * cannot silently write into each other's dirs. Spark has no unset API:
  * when the session had NO previous dir, the dir passed here necessarily
  * remains installed afterwards, and later unrelated `.checkpoint()` calls
  * in the same session would write into it. That is harmless for
  * correctness but surprising, so a warning is logged in that case rather
  * than claiming full isolation.
  */
object Checkpoints {

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Run `body` with a materialize function bound to the chosen durability,
    * inside a single save/set/restore of the global checkpoint dir when
    * `dir` is Some — the one place the SparkContext-global state dance
    * lives (iterative callers materialize many frames per call; wrapping
    * once here keeps the no-previous-dir warning to one line per call).
    */
  private def withDir[A](spark: SparkSession, dir: Option[String])
                        (body: (DataFrame => DataFrame) => A): A = dir match {
    case None => body(df => df.localCheckpoint(eager = true))
    case Some(d) =>
      val sc = spark.sparkContext
      val prev = sc.getCheckpointDir
      if (prev.isEmpty)
        log.warn(s"session had no checkpoint dir; '$d' will remain the " +
          "session-global checkpoint dir after this call (Spark has no unset API)")
      sc.setCheckpointDir(d)
      try body(df => df.checkpoint(eager = true))
      finally prev.foreach(sc.setCheckpointDir)
  }

  /** One call of an operator: `body` gets the call's
    * [[Superstep]] scope; every frame it holds is released when `body`
    * returns or throws (latest first, so dependents go before their inputs).
    */
  def superstep[A](spark: SparkSession, dir: Option[String])(body: Superstep => A): A =
    withDir(spark, dir) { materialize =>
      val s = new Superstep(materialize)
      try body(s) finally s.release()
    }

  /** The scope of one [[superstep]] call. */
  final class Superstep private[Checkpoints] (val materialize: DataFrame => DataFrame) {
    private var held = List.empty[Dataset[_]]
    private var roundHeld = List.empty[DataFrame]

    /** Persist `ds` until the call ends; the caller's first action on it
      * (the up-front count, where the operator has one) materializes it.
      */
    def hold[T](ds: Dataset[T]): Dataset[T] = { held ::= persist(ds); ds }

    /** Persist `df` until the current round ends. */
    def holdRound(df: DataFrame): DataFrame = { roundHeld ::= persist(df); df }

    /** Run `step(state, round)` for rounds 1..`maxRounds`; a step returns
      * the next state and whether to go on, so a loop stops early when a
      * round cannot change the result. Returns the last state.
      */
    def rounds[S](init: S, maxRounds: Int)(step: (S, Int) => (S, Boolean)): S = {
      @annotation.tailrec def go(state: S, round: Int): S =
        if (round > maxRounds) state
        else {
          val (next, more) = try step(state, round) finally releaseRound()
          if (more) go(next, round + 1) else next
        }
      go(init, 1)
    }

    private def persist[T](ds: Dataset[T]) = ds.persist(StorageLevel.MEMORY_AND_DISK)

    private def releaseRound(): Unit = { roundHeld.foreach(_.unpersist()); roundHeld = Nil }

    private[Checkpoints] def release(): Unit = {
      releaseRound()
      held.foreach(_.unpersist())
      held = Nil
    }
  }
}
