package graft.operators

import graft.tables.Checkpoints
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Graph analytics over the materialized KG — the QA half of "graph
  * materialize": once nodes/edges exist as tables, the standard questions
  * (co-occurrence structure, triangle density) are DataFrame jobs with the
  * same discipline as the dedup family: orient first so nothing quadratic
  * forms, shuffle only ids and small scalars.
  */
object GraphOps {

  /** Weighted co-occurrence edges from a bipartite (url, qid) frame: a pair
    * of entities is an edge iff they appear on ≥ `minShared` common pages.
    * Returns (a, b, w) with a < b.
    *
    * The pair expansion is O(k²) per url — the one quadratic point in this
    * plan, so the bound is ENFORCED here, not assumed of the caller (this
    * is a public operator; the upstream mention cap kg2 documents protects
    * the kg queries, but any other frame could carry a hub page). A url
    * with more than `maxPerUrl` entities fails loudly by default (the
    * RangeJoin explosion-guard discipline: one 10k-entity hub row would
    * emit ~50M pairs); `sliceOverflow = true` instead keeps the
    * lexicographically first `maxPerUrl` qids — deterministic, because the
    * per-url set is sorted before the slice.
    */
  def cooccurEdges(urlQid: DataFrame, minShared: Int,
                   assumeDistinct: Boolean = false,
                   maxPerUrl: Int = 10000,
                   sliceOverflow: Boolean = false): DataFrame = {
    require(maxPerUrl >= 2, s"maxPerUrl must be >= 2, got $maxPerUrl")
    val spark = urlQid.sparkSession
    import spark.implicits._
    // group once and expand pairs narrow — a url self-join shuffles the
    // (url, qid) rows twice and re-derives the upstream frame per side;
    // this shape shuffles them once and the pair expansion is a map.
    // assumeDistinct skips the dedup shuffle when the caller already
    // deduped (liftScores persists its distinct frame for the count dims)
    (if (assumeDistinct) urlQid.select("url", "qid")
     else urlQid.select("url", "qid").distinct())
      .groupBy("url").agg(sort_array(collect_set(col("qid"))).as("qs"))
      .select(col("url"), col("qs")).as[(String, Seq[String])]
      .flatMap { case (url, qs0) =>
        val qs =
          if (qs0.size <= maxPerUrl) qs0
          else if (sliceOverflow) qs0.take(maxPerUrl)
          else throw new IllegalStateException(
            s"cooccurEdges: url '$url' carries ${qs0.size} entities " +
              s"(> maxPerUrl=$maxPerUrl) — one such hub row emits " +
              s"~${qs0.size.toLong * (qs0.size - 1) / 2} pairs; raise " +
              "maxPerUrl or pass sliceOverflow=true")
        for { i <- qs.indices.iterator; j <- (i + 1 until qs.size).iterator }
          yield (qs(i), qs(j))
      }
      .toDF("a", "b")
      .groupBy("a", "b").agg(count(lit(1)).as("w"))
      .filter(col("w") >= minShared)
  }

  /** PageRank over directed edges in EXACT integer arithmetic: ranks are
    * parts-per-`scale` (default 10^12) BIGINTs, contributions are integer
    * divisions (`rank div outdeg`), damping is `(sum * 85) div 100` — every
    * operation is exact and order-independent, so the result is invariant
    * under partitioning AND bit-replayable by any engine (the kg15 DuckDB
    * oracle unrolls the same ten iterations; float PageRank could never
    * hash-match across engines because shuffle order perturbs low bits).
    *
    * Scale shape: the edge+outdeg frame is held once and re-joined per
    * round; per-round cost is one shuffle join + one groupBy on node ids.
    * The rank frame is materialized every 5 rounds and after the last, so
    * a plan spans at most five join/agg levels (fewer job boundaries than
    * per-round cuts, same total work). Each round probes the previous
    * rank frame twice, so the plan between cuts holds 2^5 copies of the
    * last cut — the interval is fixed because a larger one grows analysis
    * cost exponentially. Lifecycle and `checkpointDir`:
    * [[graft.tables.Checkpoints]]. Dangling mass (no-out-edge nodes) is
    * dropped, not redistributed — both engines state the same rule. Fixed
    * `iters`, no convergence race. Returns (id, rank).
    */
  def pageRankInt(edges0: DataFrame, iters: Int = 10,
                  scale: Long = 1000000000000L,
                  checkpointDir: Option[String] = None): DataFrame =
    Checkpoints.superstep(edges0.sparkSession, checkpointDir) { s =>
      // the raw edge set is held only until edgesOd and nodes are cached
      val (edgesOd, nodes, n) = Checkpoints.superstep(edges0.sparkSession, None) { raw =>
        // hold the deduped edge set FIRST: outdeg, edgesOd and nodes all
        // derive from it — without this the caller's upstream pipeline
        // (mention detection at kg15) re-runs once per derivation (the
        // self-join recompute trap triangles documents)
        val edges = raw.hold(edges0.select("src", "dst").distinct())
        val outdeg = edges.groupBy("src").agg(count(lit(1)).as("od"))
        val edgesOd = s.hold(edges.join(outdeg, Seq("src")))
        val nodes = s.hold(edges.select(col("src").as("id"))
          .unionByName(edges.select(col("dst").as("id")))
          .distinct())
        val n = nodes.count()
        require(n > 0, "pageRankInt needs at least one edge")
        edgesOd.count()
        (edgesOd, nodes, n)
      }
      val init = scale / n
      val base = (scale * 15L / 100L) / n

      s.rounds(s.materialize(nodes.withColumn("rank", lit(init))), iters) { (ranks, i) =>
        val contribs = edgesOd
          .join(ranks.withColumnRenamed("id", "src"), Seq("src"))
          .select(col("dst").as("id"), expr("rank div od").as("c"))
          .groupBy("id").agg(sum(col("c")).as("sc"))
        // left-join the PREVIOUS rank frame, not `nodes`: the id sets are
        // identical by construction (every round emits every node), and
        // within a checkpoint block the previous round's join output is
        // already hash-partitioned by id — joining `nodes` instead paid one
        // extra Exchange of the node set per round (round-6 measurement)
        val next = ranks.select(col("id"))
          .join(contribs, Seq("id"), "left")
          .select(col("id"),
            (lit(base) + expr("(coalesce(sc, 0L) * 85) div 100")).as("rank"))
        (if (i % 5 == 0 || i == iters) s.materialize(next) else next, true)
      }
    }

  /** Association (lift) scores for co-occurring entity pairs:
    * `lift = P(a,b) / (P(a)·P(b))` computed as `w·n / (cₐ·c_b)` over the
    * bipartite (url, qid) frame — w = pages sharing the pair (≥ minShared),
    * cₓ = pages containing x, n = total pages. The arithmetic is ONE double
    * multiply and ONE divide over exact integer counts — IEEE-deterministic,
    * no libm — so any engine replaying the same two ops (the kg17 DuckDB
    * oracle does) matches bit for bit, unrounded; a log-PMI variant could
    * not cross engines safely.
    *
    * Scale shape: pair weights come from [[cooccurEdges]] (one shuffle,
    * never a url self-join); the per-entity count dim joins once per pair
    * end. Only ids and three scalars shuffle. Returns (a, b, w, lift).
    */
  def liftScores(urlQid: DataFrame, minShared: Int): DataFrame =
    Checkpoints.superstep(urlQid.sparkSession, None) { s =>
      val uq = s.hold(urlQid.select("url", "qid").distinct())
      val n = uq.select("url").distinct().count()
      val docCounts = uq.groupBy("qid").agg(count(lit(1)).as("c"))
      s.materialize(cooccurEdges(uq, minShared, assumeDistinct = true)
        .join(docCounts.select(col("qid").as("a"), col("c").as("ca")), Seq("a"))
        .join(docCounts.select(col("qid").as("b"), col("c").as("cb")), Seq("b"))
        .select(col("a"), col("b"), col("w"),
          // ca/cb cast to double BEFORE multiplying: the Long product wraps
          // past 2^63 once both counts reach ~3e9 (possible at 10^12 pages);
          // the double product is exact while < 2^53 and degrades gracefully
          // beyond — the oracle mirrors the same cast order
          (col("w").cast("double") * n /
            (col("ca").cast("double") * col("cb").cast("double"))).as("lift")))
    }

  /** Multi-source bounded-hop BFS: min hop distance from each seed to every
    * node within `maxHops`, the Pregel frontier shape as plain DataFrames.
    * Per hop: frontier ⋈ edges fan-out, distinct on (seed, id), anti-join
    * against the visited set — BFS level order guarantees first visit =
    * min distance, so no min-combine is ever needed. The frontier (small,
    * shrinking) is the only iterated frame; the visited set grows by
    * concatenation of checkpointed frontiers, never recomputed. Everything
    * is ids + an int hop — exact, order-independent, bit-replayable (the
    * kg16 oracle unrolls the same hops as chained CTEs). Fixed `maxHops`,
    * stops early when a frontier empties (cannot change the result).
    * `seeds` = one `id` column; returns (seed, id, dist), dist 0..maxHops.
    * Lifecycle and `checkpointDir`: [[graft.tables.Checkpoints]].
    */
  def bfsDistances(edges0: DataFrame, seeds: DataFrame, maxHops: Int,
                   checkpointDir: Option[String] = None): DataFrame =
    Checkpoints.superstep(edges0.sparkSession, checkpointDir) { s =>
      val edges = s.hold(edges0.select("src", "dst").distinct())
      edges.count()
      val start = s.materialize(seeds.select(col("id").as("seed"))
        .withColumn("id", col("seed")).withColumn("dist", lit(0)))
      s.rounds((start, start), maxHops) { case ((known, frontier), hop) =>
        val next = s.materialize(frontier
          .join(edges, frontier("id") === edges("src"))
          .select(col("seed"), col("dst").as("id"), lit(hop).as("dist"))
          .distinct()
          .join(known, Seq("seed", "id"), "left_anti")) // truncate lineage per hop
        // unions of checkpoints: no recompute
        if (next.isEmpty) ((known, frontier), false)
        else ((known.unionByName(next), next), true)
      }._1
    }

  /** Bounded-round weighted shortest paths (Bellman-Ford relaxation over
    * the min-plus semiring): after `rounds` rounds, `dist(seed, id)` is the
    * exact minimum total cost over all paths of ≤ `rounds` edges — the
    * weighted generalization of [[bfsDistances]] (hop counts are the
    * special case cost ≡ 1). Costs are INTEGER, so every relaxation is
    * exact and order-independent: the result is partition-invariant and
    * bit-replayable by a SQL engine unrolling the same rounds (the kg25
    * DuckDB oracle) — float costs could never hash-match across engines.
    *
    * Bounded rounds rather than run-to-fixpoint is the scale choice, same
    * as the kg16 BFS: on a small-world KG the interesting neighborhood is
    * a few hops, and each round is one shuffle join + one min-groupBy on
    * (seed, id) scalars. The dist frame is materialized per round so plans
    * never compound. Lifecycle and `checkpointDir`:
    * [[graft.tables.Checkpoints]].
    *
    * Input: directed (src, dst, cost) with cost ≥ 0; seeds (id). Output:
    * (seed, id, dist), one row per reached node per seed.
    */
  def ssspBounded(edges0: DataFrame, seeds: DataFrame, rounds: Int,
                  checkpointDir: Option[String] = None): DataFrame =
    Checkpoints.superstep(edges0.sparkSession, checkpointDir) { s =>
      val edges = s.hold(edges0.select("src", "dst", "cost").distinct())
      edges.count()
      val start = s.materialize(seeds.select(col("id").as("seed"))
        .withColumn("id", col("seed")).withColumn("dist", lit(0L)))
      s.rounds(start, rounds) { (dist, _) =>
        val relaxed = dist
          .join(edges, dist("id") === edges("src"))
          .select(col("seed"), col("dst").as("id"),
            (col("dist") + col("cost")).as("dist"))
        (s.materialize(dist.unionByName(relaxed)
          .groupBy("seed", "id").agg(min(col("dist")).as("dist"))), true)
      }
    }

  /** Bounded-round k-core peeling (Matula & Beck 1983's algorithm with a
    * fixed round budget): each round SYNCHRONOUSLY removes every node whose
    * degree within the current surviving subgraph is below `k`; after
    * `rounds` rounds the survivors are a superset of the true k-core that
    * shrinks monotonically toward it (equal once a round removes nothing).
    * Synchronous peeling with a fixed budget is a pure function of the edge
    * set — partition-invariant and replayable by a SQL engine unrolling the
    * same rounds (the kg27 DuckDB oracle) — where run-to-fixpoint would
    * have a data-dependent round count the oracle could not mirror
    * verbatim; the same bounded-round choice as [[bfsDistances]] and
    * [[ssspBounded]].
    *
    * Scale shape: the (deduped, persisted) edge frame is re-joined per
    * round; a round is two semi-joins of edges against the survivor set
    * plus one partial-aggregated degree count — ids and one long cross the
    * shuffle, never adjacency lists. The survivor frame is materialized per
    * round so plans never compound. Stops early when a round peels nothing
    * (cannot change the result). Lifecycle and `checkpointDir`:
    * [[graft.tables.Checkpoints]].
    *
    * Input: symmetric edges (src, dst). Output: (id, deg) for surviving
    * nodes, deg = degree within the surviving core (0 if every neighbor
    * was peeled in the final round).
    */
  def kcoreBounded(edges0: DataFrame, k: Int, rounds: Int,
                   checkpointDir: Option[String] = None): DataFrame =
    Checkpoints.superstep(edges0.sparkSession, checkpointDir) { s =>
      require(k >= 1, s"k must be >= 1, got $k")
      val edges = s.hold(edges0.select("src", "dst").distinct())
      edges.count()
      def survivorDegrees(nodes: DataFrame): DataFrame = edges
        .join(nodes.withColumnRenamed("id", "src"), Seq("src"), "leftsemi")
        .join(nodes.withColumnRenamed("id", "dst"), Seq("dst"), "leftsemi")
        .groupBy(col("src").as("id")).agg(count(lit(1)).as("deg"))
      val all = s.materialize(edges.select(col("src").as("id")).distinct())
      val (nodes, _) = s.rounds((all, all.count()), rounds) { case ((cur, n), _) =>
        val next = s.materialize(
          survivorDegrees(cur).filter(col("deg") >= k).select("id"))
        val n2 = next.count()
        ((next, n2), n2 != n)
      }
      s.materialize(nodes
        .join(survivorDegrees(nodes), Seq("id"), "left")
        .select(col("id"), coalesce(col("deg"), lit(0L)).as("deg")))
    }

  /** Synchronous weighted label propagation (Raghavan et al. 2007, made
    * deterministic): every node starts as its own label; each round every
    * node adopts the label with the greatest total incident edge weight
    * among its neighbors, ties broken by the SMALLEST label — so with a
    * fixed round count the result is a pure function of the edge set,
    * partition-invariant, and bit-replayable by a SQL engine unrolling the
    * same rounds (the kg26 DuckDB oracle; free-running asynchronous LPA is
    * famously run-order-dependent and could never sit under a hash gate).
    * Weights are exact integers, so the per-label vote sums are too.
    *
    * Scale shape = [[pageRankInt]]'s: the (deduped, held) edge frame is
    * re-joined per round, each round is one shuffle join + two
    * partial-aggregated groupBys on (id, label) scalars, and the label
    * frame is materialized per round so plans never compound. The argmax
    * is `min(struct(-votes, label))` — a bounded aggregate, never a
    * per-node window sort. Vote-less nodes (none in a symmetric graph)
    * keep their label, mirrored by the oracle's LEFT JOIN + coalesce.
    * Lifecycle and `checkpointDir`: [[graft.tables.Checkpoints]].
    *
    * Input: symmetric weighted edges (src, dst, w). Output: (id, community).
    */
  def labelPropagation(edges0: DataFrame, rounds: Int,
                       checkpointDir: Option[String] = None): DataFrame =
    Checkpoints.superstep(edges0.sparkSession, checkpointDir) { s =>
      val edges = s.hold(edges0.select("src", "dst", "w").distinct())
      edges.count()
      val nodes = edges.select(col("src").as("id")).distinct()
      s.rounds(s.materialize(nodes.withColumn("label", col("id"))), rounds) { (lab, _) =>
        val votes = edges
          .join(lab.withColumnRenamed("id", "src"), Seq("src"))
          .groupBy(col("dst").as("id"), col("label"))
          .agg(sum(col("w")).as("sw"))
        val winners = votes.groupBy("id")
          .agg(min(struct((-col("sw")).as("nw"), col("label").as("l"))).as("b"))
          .select(col("id"), col("b").getField("l").as("win"))
        (s.materialize(lab.join(winners, Seq("id"), "left")
          .select(col("id"), coalesce(col("win"), col("label")).as("label"))), true)
      }.select(col("id"), col("label").as("community"))
    }

  /** Triangle enumeration with degree-ordered orientation (compact-forward):
    * every undirected edge is oriented from its (degree, id)-smaller
    * endpoint to the larger, which turns the edge set into a DAG where each
    * wedge-center's out-degree is O(sqrt(|E|)) — the classic bound that
    * keeps the wedge join from going quadratic on hubs at corpus scale
    * (a naive u-join enumerates deg² wedges at every hub). Each triangle is
    * then counted exactly once: as the wedge at its order-minimal vertex,
    * closed by the oriented edge between the other two.
    *
    * Input: (a, b, ...) undirected edges with a < b. Output: one row per
    * triangle, corners sorted by id — (q1, q2, q3). Lifecycle and
    * `checkpointDir`: [[graft.tables.Checkpoints]].
    */
  def triangles(edges0: DataFrame,
                checkpointDir: Option[String] = None): DataFrame =
    Checkpoints.superstep(edges0.sparkSession, checkpointDir) { s =>
    // the edge frame feeds the degree count AND both orientation joins, and
    // the oriented frame feeds both wedge sides plus the closing semi-join:
    // hold each for the duration of the call or the upstream subtree
    // re-derives once per reference (the self-join recompute trap), then
    // materialize the (small) triangle rows
    val edges = s.hold(edges0.select("a", "b"))
    val deg = edges.select(col("a").as("id"))
      .unionByName(edges.select(col("b").as("id")))
      .groupBy("id").agg(count(lit(1)).as("d"))
    val withDeg = edges
      .join(deg.select(col("id").as("a"), col("d").as("da")), Seq("a"))
      .join(deg.select(col("id").as("b"), col("d").as("db")), Seq("b"))
    // orient u -> v with u the (degree, id)-lexicographic minimum; a < b
    // already, so the id tie-break is simply a
    val aFirst = col("da") < col("db") || (col("da") === col("db"))
    val oriented = s.hold(withDeg.select(
      when(aFirst, col("a")).otherwise(col("b")).as("u"),
      when(aFirst, col("b")).otherwise(col("a")).as("v"),
      when(aFirst, col("db")).otherwise(col("da")).as("dv")))

    // wedges at u, enumerated in the SAME total order the orientation used,
    // so the closing edge is oriented x -> y by construction
    val e1 = oriented.select(col("u"), col("v").as("x"), col("dv").as("dx"))
    val e2 = oriented.select(col("u"), col("v").as("y"), col("dv").as("dy"))
    val wedges = e1.join(e2, Seq("u"))
      .filter(col("dx") < col("dy") || (col("dx") === col("dy") && col("x") < col("y")))
    s.materialize(wedges
      .join(oriented.select(col("u").as("x"), col("v").as("y")), Seq("x", "y"), "leftsemi")
      .select(array_sort(array(col("u"), col("x"), col("y"))).as("t"))
      .select(element_at(col("t"), 1).as("q1"),
        element_at(col("t"), 2).as("q2"),
        element_at(col("t"), 3).as("q3")))
  }

  /** kg30: deterministic random walks over a (src, dst) edge frame — the
    * DeepWalk/node2vec-style corpus generator: node-embedding training data
    * IS walk sequences, and at KG scale generating them is a distributed
    * job, not a preprocessing script. One walk starts at every distinct
    * src (× `walksPerNode`); the "random" next hop is the neighbor
    * minimizing the md5-derived hash of (walk_id, step, neighbor) — a
    * seeded draw both engines replay bit-identically (the dd1/d8/d25 hash
    * recipe), with ties to the lower id. A dead-end node simply ends its
    * walk. Returns (walk_id, step, node), steps 0..walkLen.
    *
    * Scale shape (the round-5 verdict's adjacency-array form): the
    * maxDegree-guarded (node, sorted-neighbor-array) frame is built ONCE
    * (one shuffle of id scalars) and persisted; each step is then one
    * equi-join of the frontier against it (the key a real deployment
    * buckets edges by) plus an IN-ROW seeded argmin over the adjacency
    * array ([[graft.functions.MinHashPick]], bit-identical to the previous
    * per-walk `(hash asc, dst asc)` window draw — KernelEquivalenceSpec
    * pins the equality). Nothing expands: the round-5 hop shuffled
    * Σ deg(frontier) rows per step (a hub's FULL adjacency once per
    * visiting walk, every step) and sorted them in a per-walk window; this
    * hop moves one row per live walk and no window exists. Each frontier
    * is eagerly materialized, so level i's plan no longer embeds levels
    * 0..i−1 and DeepWalk-scale walkLen (40–80) keeps bounded lineage; the
    * materialized levels also make the final union read each level once
    * instead of recomputing the whole prefix per level. Lifecycle and
    * `checkpointDir`: [[graft.tables.Checkpoints]].
    */
  def randomWalks(edges: DataFrame, walkLen: Int,
                  walksPerNode: Int = 1,
                  checkpointDir: Option[String] = None,
                  maxDegree: Int = 1000000): DataFrame =
    Checkpoints.superstep(edges.sparkSession, checkpointDir) { s =>
      // one adjacency array per node, neighbors sorted ascending so the
      // kernel's first-minimum tie-break equals the window's (hash, dst)
      // order; degree-bounded loudly (the cooccurEdges guard discipline:
      // a 10⁶-neighbor hub row is ~20 MB — beyond maxDegree the caller
      // must pre-slice its hubs, not silently build gigarows)
      val adj = s.hold(edges
        .groupBy(col("src"))
        .agg(sort_array(collect_set(col("dst"))).as("_adj"))
        .select(col("src"),
          when(size(col("_adj")) <= maxDegree, col("_adj"))
            .otherwise(raise_error(concat(
              lit(s"randomWalks: node degree exceeds maxDegree=$maxDegree at '"),
              col("src"), lit("'")))).as("adj")))
      val starts = adj.select(col("src"))
        .select(col("src"),
          explode(array((0 until walksPerNode).map(w => lit(w.toString)): _*)).as("w"))
        .select(concat_ws("#", col("src"), col("w")).as("walk_id"),
          col("src").as("node"))
      // levels newest first: the frontier is the head
      s.rounds(List(s.materialize(starts)), walkLen) { (levels, i) =>
        (s.materialize(walkHop(levels.head, adj, i)) :: levels, true)
      }.reverse.zipWithIndex
        .map { case (level, i) => level.withColumn("step", lit(i)) }
        .reduce(_ unionByName _)
        .select("walk_id", "step", "node")
    }

  /** One walk step over the adjacency frame — the seam the plan pin
    * inspects (the loop materializes each frontier, which hides the hop
    * plan behind a Scan ExistingRDD): equi-join on the current node + the
    * in-row [[graft.functions.MinHashPick]] argmin. No Window, no
    * row_number, no per-edge row expansion.
    */
  private[operators] def walkHop(frontier: DataFrame, adj: DataFrame,
                                 step: Int): DataFrame =
    frontier.join(adj, frontier("node") === adj("src"))
      .select(col("walk_id"),
        graft.functions.TextKernels.minHashPick(
          col("adj"), concat(col("walk_id"), lit(s"_${step}_"))).as("node"))

  /** kg31: skip-gram co-visit pairs over a walk corpus — the statistic
    * node-embedding training actually consumes (word2vec over walks =
    * DeepWalk): for every walk, each forward pair of nodes within
    * `window` steps counts once, unordered (least/greatest), self-revisits
    * dropped. Returns (a, b, n).
    *
    * Scale shape: the pairing is a walk_id equi-self-join of SCALAR
    * (walk_id, step, node) rows — per walk it expands to at most
    * walkLen·window pairs, a constant, so the shuffle carries
    * O(|walks|) id/step rows and the count groupBy gets map-side partials.
    * Callers should pass an eagerly-materialized walk frame (the KgQueries
    * wrapper checkpoints) so the self-join's two sides don't re-run the
    * walk front-end.
    */
  def skipGramPairs(walks: DataFrame, window: Int = 2): DataFrame = {
    val x = walks.select(col("walk_id"), col("step").as("si"), col("node").as("na"))
    val y = walks.select(col("walk_id"), col("step").as("sj"), col("node").as("nb"))
    x.join(y, Seq("walk_id"))
      .filter(col("sj") > col("si") && col("sj") - col("si") <= window &&
        col("na") =!= col("nb"))
      .select(least(col("na"), col("nb")).as("a"),
        greatest(col("na"), col("nb")).as("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("n"))
  }
}
