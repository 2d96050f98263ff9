package graft.operators

import graft.SparkTestBase
import org.scalatest.funsuite.AnyFunSuite

/** The degree-ordered triangle enumeration must agree with brute force —
  * every triple checked — on seeded random graphs, including ones with a
  * hub (the vertex the orientation exists to protect against), and count
  * each triangle exactly once.
  */
class GraphOpsSpec extends AnyFunSuite {

  private val spark = SparkTestBase.spark
  import spark.implicits._

  private def bruteTriangles(edges: Set[(String, String)]): Set[(String, String, String)] = {
    val adj = edges.flatMap(e => Seq(e, (e._2, e._1))).groupBy(_._1)
      .view.mapValues(_.map(_._2)).toMap
    val nodes = adj.keys.toSeq.sorted
    (for {
      a <- nodes; b <- adj.getOrElse(a, Set.empty) if a < b
      c <- adj.getOrElse(b, Set.empty) if b < c && adj(a).contains(c)
    } yield (a, b, c)).toSet
  }

  test("triangles == brute force on seeded random graphs (hub included)") {
    val rnd = new scala.util.Random(20260817L)
    (0 until 5).foreach { round =>
      val n = 24
      val ids = (0 until n).map(i => f"Q$i%03d")
      val random = (for {
        i <- 0 until n; j <- i + 1 until n if rnd.nextDouble() < 0.18
      } yield (ids(i), ids(j))).toSet
      // a hub wired to everything: the degree-ordered orientation's stress case
      val hub = ids.tail.map(x => if (x < ids.head) (x, ids.head) else (ids.head, x)).toSet
      val edges = random ++ hub
      val df = edges.toSeq.toDF("a", "b")
      val got = GraphOps.triangles(df)
        .as[(String, String, String)].collect()
      val want = bruteTriangles(edges)
      assert(got.length == got.toSet.size, s"round $round: duplicate triangle rows")
      assert(got.toSet == want,
        s"round $round: got ${got.toSet.size} vs brute ${want.size}")
    }
  }

  test("cooccurEdges: weight = shared pages, threshold applied") {
    val uq = Seq(
      ("u1", "A"), ("u1", "B"), ("u1", "C"),
      ("u2", "A"), ("u2", "B"),
      ("u3", "A"), ("u3", "B"), ("u3", "B") // dup row must not double-count
    ).toDF("url", "qid")
    val got = GraphOps.cooccurEdges(uq, minShared = 2)
      .as[(String, String, Long)].collect().toSet
    assert(got == Set(("A", "B", 3L)))
  }

  test("cooccurEdges: a hub url past maxPerUrl fails loudly by default, slices deterministically on opt-in") {
    // hub page with 7 entities; normal page with 2
    val uq = ((1 to 7).map(i => ("hub", s"Q$i")) ++
      Seq(("u1", "Q1"), ("u1", "Q2"))).toDF("url", "qid")
    // default mode: raise with the url and the pair-count estimate
    val ex = intercept[org.apache.spark.SparkException] {
      GraphOps.cooccurEdges(uq, minShared = 1, maxPerUrl = 5).collect()
    }
    val msg = Option(ex.getCause).map(_.getMessage).getOrElse(ex.getMessage)
    assert(msg.contains("hub") && msg.contains("maxPerUrl=5"), msg)
    // slice mode: the hub keeps its lexicographically first 5 qids (the
    // per-url set is sorted before the slice, so this is deterministic)
    val sliced = GraphOps.cooccurEdges(uq, minShared = 1, maxPerUrl = 5,
        sliceOverflow = true)
      .as[(String, String, Long)].collect().toSet
    val kept = Seq("Q1", "Q2", "Q3", "Q4", "Q5")
    val hubPairs = for (i <- kept.indices; j <- i + 1 until kept.size)
      yield (kept(i), kept(j))
    val want = hubPairs.map { case (a, b) =>
      (a, b, if (a == "Q1" && b == "Q2") 2L else 1L) }.toSet
    assert(sliced == want)
    // below the cap nothing changes
    val fine = GraphOps.cooccurEdges(uq, minShared = 1, maxPerUrl = 7)
      .as[(String, String, Long)].collect()
    assert(fine.length == 21)
  }

  /** Driver-side replica of the exact integer PageRank — same two-step base
    * division, same `rank / outdeg` truncation, same `* 85 / 100` damping.
    */
  private def brutePageRank(edges: Set[(String, String)], iters: Int,
                            scale: Long): Map[String, Long] = {
    val outdeg = edges.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val nodes = edges.flatMap(e => Seq(e._1, e._2))
    val n = nodes.size.toLong
    val init = scale / n
    val base = (scale * 15L / 100L) / n
    var ranks = nodes.map(_ -> init).toMap
    for (_ <- 1 to iters) {
      val recv = edges.toSeq
        .map { case (s, d) => d -> ranks(s) / outdeg(s) }
        .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
      ranks = nodes.map(x => x -> (base + recv.getOrElse(x, 0L) * 85L / 100L)).toMap
    }
    ranks
  }

  test("pageRankInt == driver-side integer replica (dangling nodes, dups)") {
    val rnd = new scala.util.Random(20260817L)
    val n = 30
    val ids = (0 until n).map(i => f"Q$i%03d")
    val edges = (for {
      i <- 0 until n; j <- 0 until n
      if i != j && rnd.nextDouble() < 0.12
    } yield (ids(i), ids(j))).toSet + ((ids(1), ids(0))) // Q000: sink w/ no outs? ensure a pure-dangling dst
    val dangling = edges + ((ids(5), "QSINK")) // QSINK receives, never emits
    // feed duplicated edge rows: the operator must distinct them
    val df = (dangling.toSeq ++ dangling.toSeq.take(7)).toDF("src", "dst")
    val got = GraphOps.pageRankInt(df, iters = 4)
      .as[(String, Long)].collect().toMap
    val want = brutePageRank(dangling, iters = 4, scale = 1000000000000L)
    assert(got == want)
    // partition invariance: exact arithmetic must not care about layout
    val got2 = GraphOps.pageRankInt(df.repartition(13), iters = 4)
      .as[(String, Long)].collect().toMap
    assert(got2 == want)
    // checkpoint cadence and reliable-checkpoint mode change nothing
    val tmp = java.nio.file.Files.createTempDirectory("pr-ckpt").toString
    try {
      val got3 = GraphOps.pageRankInt(df, iters = 4,
        checkpointDir = Some(tmp)).as[(String, Long)].collect().toMap
      assert(got3 == want)
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(tmp)).iterator().asScala
        .toSeq.reverse.foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  test("liftScores == brute-force P(a,b)/(P(a)P(b)) with identical op order") {
    val rnd = new scala.util.Random(99L)
    val uq = (for {
      u <- 1 to 60; q <- 1 to 10 if rnd.nextDouble() < 0.3
    } yield (s"u$u", s"Q$q")) ++ Seq(("u1", "Q1"), ("u1", "Q1")) // dup rows
    val got = GraphOps.liftScores(uq.toDF("url", "qid"), minShared = 2)
      .as[(String, String, Long, Double)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
    val clean = uq.distinct
    val n = clean.map(_._1).distinct.size.toLong
    val byQ = clean.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val want = clean.groupBy(_._1).values
      .flatMap(rows => { val qs = rows.map(_._2).distinct.sorted
        for (i <- qs.indices; j <- i + 1 until qs.size) yield (qs(i), qs(j)) })
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
      .filter(_._2 >= 2)
      .map { case ((a, b), w) =>
        (a, b) -> ((w, w.toDouble * n / (byQ(a) * byQ(b)))) }
    assert(got == want)
  }

  /** Driver-side level-order BFS: min hop distance per (seed, node). */
  private def bruteBfs(edges: Set[(String, String)], seeds: Seq[String],
                       maxHops: Int): Map[(String, String), Int] = {
    val adj = edges.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    seeds.flatMap { s =>
      var dist = Map(s -> 0)
      var frontier = Set(s)
      for (h <- 1 to maxHops) {
        frontier = frontier.flatMap(u => adj.getOrElse(u, Set.empty))
          .filterNot(dist.contains)
        dist ++= frontier.map(_ -> h)
      }
      dist.map { case (v, d) => (s, v) -> d }
    }.toMap
  }

  test("bfsDistances == driver-side BFS (directed, unreachable, early-empty)") {
    val rnd = new scala.util.Random(42L)
    val n = 40
    val ids = (0 until n).map(i => f"Q$i%03d")
    val edges = (for {
      i <- 0 until n; j <- 0 until n if i != j && rnd.nextDouble() < 0.06
    } yield (ids(i), ids(j))).toSet +
      (("ISOLATED_SRC", "ISOLATED_DST")) // its own 2-node island
    val df = edges.toSeq.toDF("src", "dst")
    val seeds = Seq(ids(0), ids(7), "ISOLATED_SRC")
    val got = GraphOps.bfsDistances(df, seeds.toDF("id"), maxHops = 3)
      .as[(String, String, Int)].collect()
    assert(got.length == got.map(r => (r._1, r._2)).distinct.length,
      "duplicate (seed, id) rows")
    val want = bruteBfs(edges, seeds, maxHops = 3)
    assert(got.map(r => (r._1, r._2) -> r._3).toMap == want)
    // a frontier that empties before maxHops (the island seed) must stop
    // cleanly and still report identical rows at a larger hop budget
    val island = GraphOps.bfsDistances(df, Seq("ISOLATED_SRC").toDF("id"), maxHops = 5)
      .as[(String, String, Int)].collect().toSet
    assert(island == Set(("ISOLATED_SRC", "ISOLATED_SRC", 0),
      ("ISOLATED_SRC", "ISOLATED_DST", 1)))
  }

  test("ssspBounded: weighted paths beat costly direct edges; rounds bound hop count") {
    val edges = Seq(
      ("s", "a", 10L), ("a", "b", 1L), ("s", "b", 100L),
      ("b", "c", 1L), ("c", "d", 1L)).toDF("src", "dst", "cost")
    val seeds = Seq("s").toDF("id")
    def run(rounds: Int): Map[String, Long] =
      GraphOps.ssspBounded(edges, seeds, rounds)
        .as[(String, String, Long)].collect()
        .map(r => r._2 -> r._3).toMap
    // rounds=3: b via a (11) beats the direct 100-cost edge (NOT a BFS);
    // d is only 3-hop-reachable through the expensive b edge
    assert(run(3) == Map("s" -> 0L, "a" -> 10L, "b" -> 11L, "c" -> 12L, "d" -> 102L))
    // one more round relaxes d through the cheap chain
    assert(run(4)("d") == 13L)
  }

  test("ssspBounded == driver-side Bellman-Ford on seeded random weighted graphs") {
    val rnd = new scala.util.Random(20260818L)
    val n = 30
    val ids = (0 until n).map(i => f"Q$i%03d")
    val edges = (for {
      i <- 0 until n; j <- 0 until n if i != j && rnd.nextDouble() < 0.08
    } yield (ids(i), ids(j), 1L + rnd.nextInt(20))).toSet
    val seeds = Seq(ids(0), ids(5))
    val rounds = 3
    val got = GraphOps.ssspBounded(edges.toSeq.toDF("src", "dst", "cost"),
        seeds.toDF("id"), rounds)
      .as[(String, String, Long)].collect()
    assert(got.length == got.map(r => (r._1, r._2)).distinct.length,
      "duplicate (seed, id) rows")
    // brute Bellman-Ford: rounds synchronous relaxations
    val want = seeds.flatMap { s =>
      var dist = Map(s -> 0L)
      (1 to rounds).foreach { _ =>
        val relaxed = edges.toSeq.flatMap { case (u, v, c) =>
          dist.get(u).map(du => v -> (du + c)) }
        dist = (dist.toSeq ++ relaxed).groupBy(_._1)
          .view.mapValues(_.map(_._2).min).toMap
      }
      dist.map { case (id, d) => (s, id) -> d }
    }.toMap
    assert(got.map(r => (r._1, r._2) -> r._3).toMap == want)
  }

  test("bfs + triangles: reliable checkpoint mode (checkpointDir) == localCheckpoint mode") {
    val rnd = new scala.util.Random(7L)
    val ids = (0 until 30).map(i => f"Q$i%03d")
    val dirEdges = (for {
      i <- 0 until 30; j <- 0 until 30 if i != j && rnd.nextDouble() < 0.08
    } yield (ids(i), ids(j))).toSet
    val undEdges = dirEdges.map { case (a, b) => if (a < b) (a, b) else (b, a) }
    val tmp = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get("target"), "graph-ckpt").toString
    try {
      val seeds = Seq(ids(0), ids(3)).toDF("id")
      val eDf = dirEdges.toSeq.toDF("src", "dst")
      val local = GraphOps.bfsDistances(eDf, seeds, maxHops = 3)
        .as[(String, String, Int)].collect().toSet
      val reliable = GraphOps.bfsDistances(eDf, seeds, maxHops = 3,
        checkpointDir = Some(s"$tmp/bfs")).as[(String, String, Int)].collect().toSet
      assert(reliable == local)
      val uDf = undEdges.toSeq.toDF("a", "b")
      val tLocal = GraphOps.triangles(uDf)
        .as[(String, String, String)].collect().toSet
      val tReliable = GraphOps.triangles(uDf, checkpointDir = Some(s"$tmp/tri"))
        .as[(String, String, String)].collect().toSet
      assert(tReliable == tLocal)
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(tmp)).iterator().asScala
        .toSeq.reverse.foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  test("bounded k-core peeling == driver-side synchronous replay on seeded random graphs") {
    val rnd = new scala.util.Random(20260818L)
    (0 until 3).foreach { round =>
      val n = 20
      val ids = (0 until n).map(i => f"Q$i%03d")
      val und = (for {
        i <- 0 until n; j <- i + 1 until n if rnd.nextDouble() < 0.2
      } yield (ids(i), ids(j))).toSet
      val sym = und.flatMap(e => Seq(e, e.swap))
      def degrees(surv: Set[String]): Map[String, Int] =
        sym.toSeq.filter(e => surv(e._1) && surv(e._2))
          .groupBy(_._1).view.mapValues(_.size).toMap
      var surv = sym.map(_._1)
      for (_ <- 1 to 3) { // three SYNCHRONOUS peels at k=3
        val deg = degrees(surv)
        surv = surv.filter(v => deg.getOrElse(v, 0) >= 3)
      }
      val finalDeg = degrees(surv)
      val want = surv.map(v => v -> finalDeg.getOrElse(v, 0).toLong).toMap
      val got = GraphOps.kcoreBounded(
        sym.toSeq.toDF("src", "dst"), k = 3, rounds = 3)
        .as[(String, Long)].collect().toMap
      assert(got == want, s"round=$round")
    }
  }

  test("label propagation: two dense clusters split along the weak bridge; invariant to partitioning") {
    // two all-pairs-weight-10 triangles joined by one weight-1 bridge c-d;
    // intra-cluster votes (20) swamp the bridge (1), so four rounds settle
    // on one label per cluster — the min id of each
    val und = Seq(
      ("a", "b", 10L), ("a", "c", 10L), ("b", "c", 10L),
      ("d", "e", 10L), ("d", "f", 10L), ("e", "f", 10L),
      ("c", "d", 1L))
    val sym = (und ++ und.map { case (s, d, w) => (d, s, w) })
      .toDF("src", "dst", "w")
    val want = Map("a" -> "a", "b" -> "a", "c" -> "a",
      "d" -> "d", "e" -> "d", "f" -> "d")
    for (parts <- Seq(1, 7)) {
      val got = GraphOps.labelPropagation(sym.repartition(parts), rounds = 4)
        .as[(String, String)].collect().toMap
      assert(got == want, s"parts=$parts")
    }
  }

  test("label propagation: heavier neighbor label wins over smaller label; isolated-pair keeps its labels") {
    // y's neighbors after round 1: x (label x, w 5) vs z (label z, w 2) —
    // weight must beat the lexicographic tie-break
    val und = Seq(("x", "y", 5L), ("y", "z", 2L), ("p", "q", 3L))
    val sym = (und ++ und.map { case (s, d, w) => (d, s, w) })
      .toDF("src", "dst", "w")
    val got = GraphOps.labelPropagation(sym, rounds = 2)
      .as[(String, String)].collect().toMap
    // an isolated dominant pair is synchronous LPA's classic 2-cycle: swap,
    // then swap back — after an EVEN round count both sit on self-labels
    assert(got("p") == "p" && got("q") == "q")
    // z: round 1 takes y's label (its only neighbor), round 2 takes y's
    // ROUND-1 label, which x's 5-weight vote set to x — weight beat the
    // lexicographic tie-break (z's own z < x would win a pure-label tie)
    assert(got("z") == "x")
  }

  test("random walks == independent seeded replay; dead ends stop walks") {
    // directed graph with a hub, a chain, and a dead end (d has no out-edge)
    val edges = Seq(
      ("a", "b"), ("a", "c"), ("a", "d"), ("b", "a"), ("b", "c"),
      ("c", "a"), ("c", "d")).toDF("src", "dst")
    val got = GraphOps.randomWalks(edges, walkLen = 3)
      .as[(String, Int, String)].collect().toSet

    // driver-side replay with the same hash recipe and tie-break
    def h60(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      java.lang.Long.parseLong(d.take(8).map("%02x".format(_)).mkString.take(15), 16)
    }
    val adj = Map("a" -> Seq("b", "c", "d"), "b" -> Seq("a", "c"), "c" -> Seq("a", "d"))
    val want = scala.collection.mutable.Set[(String, Int, String)]()
    Seq("a", "b", "c").foreach { start => // walks start at distinct SRC only
      val wid = s"$start#0"
      var cur = start
      want += ((wid, 0, cur))
      var step = 1
      var alive = true
      while (alive && step <= 3) {
        adj.get(cur) match {
          case Some(ns) =>
            cur = ns.minBy(n => (h60(s"${wid}_${step}_$n"), n))
            want += ((wid, step, cur)); step += 1
          case None => alive = false // dead end: the walk stops emitting
        }
      }
    }
    assert(got == want.toSet, s"got ${got.toSeq.sorted}, want ${want.toSeq.sorted}")
    // the dead end is real: some walk must be shorter than walkLen+1
    val lens = got.groupBy(_._1).view.mapValues(_.size).toMap
    assert(lens.values.exists(_ < 4), s"no walk hit the dead end: $lens")

    // kg31: skip-gram pairs over the SAME walks == independent pair replay
    // (forward pairs within 2 steps, unordered, self-revisits dropped)
    val gotPairs = GraphOps.skipGramPairs(GraphOps.randomWalks(edges, walkLen = 3))
      .as[(String, String, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    val wantPairs = want.toSeq.groupBy(_._1).values.flatMap { rows =>
      val byStep = rows.map(r => r._2 -> r._3).toMap
      for {
        i <- byStep.keys.toSeq; j <- byStep.keys.toSeq
        if j > i && j - i <= 2 && byStep(i) != byStep(j)
      } yield (Seq(byStep(i), byStep(j)).min, Seq(byStep(i), byStep(j)).max)
    }.groupBy(identity).view.mapValues(_.size.toLong).toMap
    assert(gotPairs == wantPairs, s"got $gotPairs, want $wantPairs")
    assert(gotPairs.nonEmpty)
  }

  test("random walks: adjacency-array hop == window-form draw at walkLen 12 with a degree-1000 hub") {
    // the round-5 verdict's scale case: a hub whose FULL adjacency the old
    // degree-expansion hop re-shuffled every step — plus enough cycle edges
    // that walks run all 12 steps. The new in-row argmin must draw the
    // bit-identical walk the per-walk (hash asc, dst asc) window drew.
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val hubEdges = (0 until 1000).map(i => ("hub", f"n$i%04d"))
    val backEdges = (0 until 1000).map(i => (f"n$i%04d", "hub"))
    val edges = (hubEdges ++ backEdges).toDF("src", "dst")

    val got = GraphOps.randomWalks(edges, walkLen = 12)

    // the round-5 window form, inlined as the independent replay
    def windowWalks(walkLen: Int): org.apache.spark.sql.DataFrame = {
      val starts = edges.select(col("src")).distinct()
        .select(concat_ws("#", col("src"), lit("0")).as("walk_id"),
          col("src").as("node"))
      var frontier = starts
      val levels = Seq.newBuilder[org.apache.spark.sql.DataFrame]
      levels += starts.withColumn("step", lit(0))
      for (i <- 1 to walkLen) {
        val h = Sketches.kmvHash(
          concat_ws("_", col("walk_id"), lit(i.toString), col("dst")))
        val w = Window.partitionBy("walk_id").orderBy(col("_h").asc, col("dst").asc)
        frontier = frontier.join(edges, frontier("node") === edges("src"))
          .select(col("walk_id"), col("dst"), h.as("_h"))
          .withColumn("_rn", row_number().over(w)).filter(col("_rn") === 1)
          .select(col("walk_id"), col("dst").as("node"))
        levels += frontier.withColumn("step", lit(i))
      }
      levels.result().reduce(_ unionByName _).select("walk_id", "step", "node")
    }
    val want = windowWalks(12).as[(String, Int, String)].collect().toSet
    assert(got.as[(String, Int, String)].collect().toSet == want)
    assert(want.size == 1001 * 13) // all walks run the full 12 steps

    // plan pin on the hop seam (the loop materializes each frontier, which
    // hides the executed hop plans): an equi-join + the in-row argmin — no
    // Window, no row_number, no per-edge Generate/explode
    val adj = edges.groupBy(col("src"))
      .agg(sort_array(collect_set(col("dst"))).as("adj"))
    val frontier = edges.select(col("src")).distinct()
      .select(concat_ws("#", col("src"), lit("0")).as("walk_id"),
        col("src").as("node"))
    val p = GraphOps.walkHop(frontier, adj, step = 1)
      .queryExecution
      .explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(!p.contains("Window"), p.take(1500))
    assert(!p.contains("row_number"), p.take(1500))
    assert(!p.contains("Generate"), p.take(1500))
    assert(p.contains("graft_minhash_pick"), p.take(1500))
  }

  test("random walks: maxDegree guard fails loudly on an over-degree hub") {
    import org.apache.spark.sql.functions._
    val edges = (0 until 50).map(i => ("hub", s"n$i")).toDF("src", "dst")
    val e = intercept[Exception] {
      GraphOps.randomWalks(edges, walkLen = 1, maxDegree = 10).count()
    }
    assert(e.getMessage.contains("maxDegree") ||
      Option(e.getCause).exists(_.getMessage.contains("maxDegree")),
      s"unexpected: $e")
  }
}
