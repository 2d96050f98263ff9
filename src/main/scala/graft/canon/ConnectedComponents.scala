package graft.canon

import graft.tables.Checkpoints
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Connected components over alias/sameAs edges as iterative DataFrame
  * self-joins — small-label propagation with pointer jumping (SURVEY.md §4,
  * north_star "canonicalization"). No GraphX: plain Dataset ops so AQE/skew
  * handling apply.
  *
  * Algorithm: every node starts with component = its own id; each round a
  * node adopts min(component of itself, components of its neighbors), then
  * POINTER-JUMPS: component(u) := component(component(u)). Labels are node
  * ids, so the jump is one more self-join, and it doubles the effective
  * propagation distance per round — convergence in O(log diameter) rounds
  * instead of O(diameter), which is what keeps chain-heavy graphs (paths of
  * redirects/sameAs hops) inside any fixed round budget at web scale.
  * Stop when no assignment changed.
  *
  * Scale notes:
  *  - edges are symmetrized once up front;
  *  - each round's frame is eagerly materialized: this truncates the
  *    logical plan, which otherwise grows exponentially across iterations
  *    (every round re-embeds the previous round's join tree). Lifecycle,
  *    durability and `checkpointDir`: [[graft.tables.Checkpoints]];
  *  - supernode skew (one hub with millions of neighbors) rides on AQE skew
  *    splitting; the `spark.sql.adaptive.skewJoin` knobs are the knob, not
  *    custom salting, because the join keys here are already maximally
  *    fine-grained (node ids).
  *
  * Deterministic: min() is order-insensitive, so the result is invariant
  * under partitioning and edge order (property-tested).
  */
object ConnectedComponents {

  /** edges(src, dst) → (id, component) with component = min id in the
    * component (string min). Nodes = every id appearing in edges ∪ `nodes`.
    * Lifecycle and `checkpointDir`: [[graft.tables.Checkpoints]].
    */
  def run(spark: SparkSession, edges: DataFrame, nodes: DataFrame,
          maxIterations: Int = 50, checkpointDir: Option[String] = None): DataFrame =
    Checkpoints.superstep(spark, checkpointDir) { s =>
    val sym = s.hold(edges.select(col("src"), col("dst"))
      .unionByName(edges.select(col("dst").as("src"), col("src").as("dst")))
      .distinct())
    sym.count()

    val start = s.materialize(nodes.select(col("id"))
      .unionByName(sym.select(col("src").as("id")))
      .distinct()
      .withColumn("component", col("id")))

    val (labels, changed) = s.rounds((start, 1L), maxIterations) { case ((labels, _), _) =>
      // neighbor-min: for each node, the min component among its neighbors
      val neighborMin = sym
        .join(labels.withColumnRenamed("id", "dst"), Seq("dst"))
        .groupBy(col("src").as("id"))
        .agg(min(col("component")).as("nmin"))

      // both jump-join sides read it: never run the neighbor-min shuffle
      // twice per round (held for the round, not materialized — lineage is
      // truncated by `next`'s materialize anyway)
      val stepped = s.holdRound(labels
        .join(neighborMin, Seq("id"), "left")
        .select(col("id"),
          least(col("component"), coalesce(col("nmin"), col("component"))).as("component"),
          (col("nmin").isNotNull && col("nmin") < col("component")).as("_changed")))
      // build its cache before the jump join is planned: over an unbuilt
      // cache AQE submits one build per scan and plans the join's shuffles
      // by which build it sees finish first, so the round's Spark jobs
      // varied from run to run
      stepped.count()

      // pointer jump: component(u) := component(component(u)) — component
      // values are node ids, so one more equi-join halves the remaining
      // chain length every round
      val parents = stepped.select(col("id").as("_pid"), col("component").as("_pcomp"))
      val next = s.materialize(stepped
        .join(parents, stepped("component") === col("_pid"), "left")
        .select(col("id"),
          least(col("component"), coalesce(col("_pcomp"), col("component"))).as("component"),
          (col("_changed") ||
            (col("_pcomp").isNotNull && col("_pcomp") < col("component"))).as("_changed")))

      val changed = next.filter(col("_changed")).count()
      ((next.drop("_changed"), changed), changed > 0)
    }
    // exhausting the round budget while labels were still moving would mean
    // silently-wrong component ids for any component with diameter >
    // maxIterations — fail loudly instead (callers pick the budget; a
    // large-star/small-star contraction variant is the O(log n)-rounds
    // upgrade if real graphs ever trip this)
    if (changed > 0)
      throw new IllegalStateException(
        s"connected components did not converge after $maxIterations rounds " +
          s"($changed labels still changing); raise maxIterations")
    labels
    }

  /** Incremental maintenance: fold a crawl delta's edges into an existing
    * FULL assignment (every id, including trivial id == component rows,
    * i.e. [[run]]'s raw output) WITHOUT re-running components over the
    * world. The daily-crawl reality at 10^12 documents: the base graph has
    * billions of nodes, the delta has millions of edges — a full recompute
    * is a world-scan per day, while this touches the world only in one
    * final broadcast-sized remap join.
    *
    * Correctness: base labels are min-ids of their base components, so
    * contracting every delta edge endpoint to its base label and running
    * [[run]] on the CONTRACTED graph (≤ 2·|delta| nodes) yields, for each
    * merged label set, the min over base labels = the global min id —
    * exactly the full-recompute answer (property-pinned: incremental ==
    * [[run]] over base ∪ delta edges). Delta edges that merely re-assert
    * existing links contract to self-loops and drop out, so re-crawled
    * pages re-emitting their old sameAs claims cost nothing.
    *
    * Returns the same FULL-assignment shape as [[run]] covering base ids ∪
    * delta endpoints. The remap join is on the contracted-component result
    * (bounded by the delta size) and broadcast — the world-sized base frame
    * never shuffles. The result is materialized with the same durability
    * as the CC rounds, and the internal assign/delta caches are released
    * on return or throw ([[graft.tables.Checkpoints]]).
    */
  def runIncremental(spark: SparkSession, baseAssign: DataFrame,
                     deltaEdges: DataFrame, maxIterations: Int = 50,
                     checkpointDir: Option[String] = None): DataFrame =
    Checkpoints.superstep(spark, checkpointDir) { s =>
      // with a checkpointDir the world-sized result survives executor loss;
      // localCheckpoint would strand its lineage in executor block managers
      // right after the reliable rounds paid for fault tolerance
      s.materialize(incrementalFrame(s, spark, baseAssign, deltaEdges, maxIterations, checkpointDir))
    }

  /** The un-materialized result plan of [[runIncremental]], with its
    * assign/delta caches held in the caller's scope `s` — the seam the
    * plan-shape spec inspects (the entry's eager checkpoint hides it).
    */
  def incrementalFrame(s: Checkpoints.Superstep, spark: SparkSession, baseAssign: DataFrame,
                       deltaEdges: DataFrame, maxIterations: Int,
                       checkpointDir: Option[String]): DataFrame = {
    val base = baseAssign.select(col("id"), col("component"))
    // delta edges are scanned three times below (endpoint union + both
    // contraction joins) — hold so an expensive upstream (a crawl parse)
    // runs once
    val delta = s.hold(deltaEdges.select(col("src"), col("dst")))
    // endpoints unseen by the base crawl are their own base component
    val deltaNodes = delta.select(col("src").as("id"))
      .unionByName(delta.select(col("dst").as("id")))
      .distinct()
    val newNodes = deltaNodes.join(base, Seq("id"), "left_anti")
      .withColumn("component", col("id"))
    val assign = s.hold(base.unionByName(newNodes))

    // contract delta edges to base labels; re-asserted edges become
    // self-loops and are dropped BEFORE the small CC run
    val contracted = delta
      .join(assign.select(col("id").as("src"), col("component").as("csrc")), Seq("src"))
      .join(assign.select(col("id").as("dst"), col("component").as("cdst")), Seq("dst"))
      .select(col("csrc").as("src"), col("cdst").as("dst"))
      .filter(col("src") =!= col("dst"))
      .distinct()

    // run() labels the contracted graph by ITS node ids, which are base
    // labels — so the remap key is the old label, the value the merged min
    val emptyNodes = assign.select(col("id")).limit(0)
    val remap = run(spark, contracted, emptyNodes, maxIterations, checkpointDir)
      .select(col("id").as("component"), col("component").as("_merged"))

    assign
      .join(broadcast(remap), Seq("component"), "left")
      .select(col("id"), coalesce(col("_merged"), col("component")).as("component"))
  }
}
