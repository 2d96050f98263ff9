package graft

import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape regression guards: the scale contract lives in the physical
  * plan (pushdown, pruned reads, broadcast dims, codegen) — these assertions
  * keep a refactor from silently trading it away.
  */
class PlanShapeSpec extends AnyFunSuite {

  private val spark = SparkTestBase.spark
  private val dir = "/root/testdata/sf0.001"

  private def planOf(name: String): String = {
    val df = SparkEntry.queries(name)(spark, dir)
    df.queryExecution.explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
  }

  test("q6: filters reach the parquet scan, read schema is pruned to 3 columns") {
    val p = planOf("q6_forecast_revenue")
    assert(p.contains("PushedFilters:") && p.contains("LessThan(l_quantity,24.0)"), p.take(800))
    assert(p.contains("ReadSchema: struct<l_quantity:double,l_extendedprice:double,l_discount:double>"))
  }

  test("q2: dimension joins are broadcast hash joins with pruned scans") {
    val p = planOf("q2_revenue_by_nation")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("ReadSchema: struct<n_nationkey:int,n_name:string>")) // nation pruned
  }

  test("q1: aggregation is partial (map-side combine) inside codegen") {
    val p = planOf("q1_pricing_summary")
    assert(p.contains("HashAggregate"))
    assert(p.contains("partial_sum"), p.take(1200))
    // note: whole-stage-codegen markers only appear in the AQE final plan
    // (isFinalPlan=true, post-execution), so they are not asserted here
  }

  test("s1: codegen'd fdot expression is in the plan (no higher-order lambda)") {
    val p = planOf("s1_ann_brute")
    assert(p.contains("graft_fdot"), p.take(1200))
    assert(!p.contains("zip_with"))
  }

  test("q3: global top-K compiles to TakeOrderedAndProject (no full sort)") {
    val p = planOf("q3_top_orders")
    assert(p.contains("TakeOrderedAndProject"))
  }

  test("q20: as-of join is union + ONE keyed window — no range-theta join") {
    val p = planOf("q20_asof_join")
    assert(p.contains("Window"), p.take(1200))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p.take(1200))
    // exactly one key shuffle for the window pass itself; the orders
    // pre-reduce adds its own agg exchange, nothing else may
    val exchanges = "hashpartitioning".r.findAllIn(p).size
    assert(exchanges <= 2, s"expected ≤2 hash exchanges (window + pre-reduce), got $exchanges\n${p.take(1500)}")
  }

  test("q21: range join is an equi-join on (key, bucket) — no nested-loop range scan") {
    val p = planOf("q21_range_join")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p.take(1200))
    assert(p.contains("Join") && p.contains("_b"), p.take(1200)) // bucket key in the join
  }

  test("d8: KMV sketch aggregates partially before the shuffle (object hash agg)") {
    val p = planOf("d8_kmv_distinct")
    assert(p.contains("ObjectHashAggregate"), p.take(1500))
    assert(p.contains("partial_kmvagg"), p.take(1500)) // map-side combine of sketches
  }

  test("s3: exact near-dup broadcasts one side (single corpus scan, no shuffle pair-join)") {
    val p = planOf("s3_embedding_neardup")
    assert(p.contains("BroadcastNestedLoopJoin"), p.take(1200))
    assert(p.contains("graft_fdot"))
    assert(!p.contains("CartesianProduct"))
  }

  test("em3: candidate metadata filter sits in the broadcast join condition, not post-scoring") {
    val p = planOf("em3_filtered_retrieval")
    assert(p.contains("BroadcastNestedLoopJoin"), p.take(1200))
    // the label predicate must be part of the JOIN CONDITION itself, so
    // cosine never runs on filtered-out candidates — assert on the join's
    // detail line, not anywhere downstream of it
    assert(p.linesIterator.exists(l =>
      l.contains("Join condition:") && l.contains("query_label")),
      "label predicate not in the join condition:\n" +
        p.linesIterator.filter(_.contains("Join condition:")).mkString("\n"))
  }

  test("dd3: capped posting list is computed once and cached for join sides + sizes") {
    // the query entry is now eager (materialize-then-release lifecycle), so
    // its final plan is a checkpoint scan — pin the inner join plan on the
    // seam, exactly as the query builds it: persisted postings feeding both
    // self-join sides + the sizes aggregate
    val inv = graft.operators.Dedup.cappedPostings(spark, dir, maxDf = 1000)
    val pInv = inv.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(pInv.contains("Window"), pInv.take(1200)) // df-cap rides the g-partitioning
    val invP = inv.persist()
    try {
      val p = graft.operators.Dedup.ngramJaccardFrame(invP, threshold = 0.03)
        .queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      // the shingle map + df-cap subtree must appear as a cache scan, not be
      // re-derived per self-join side (it ran 4x per query before)
      assert(p.contains("InMemoryTableScan") || p.contains("TableCacheQueryStage"),
        "posting list not cached:\n" + p.take(2000))
      assert(!p.contains("CartesianProduct"))
    } finally invP.unpersist()
  }

  test("kw1: query-term and stats joins broadcast (postings never reshuffle per query)") {
    // the one-shot entry eagerly checkpoints since round 6 (build-cache
    // lifecycle), so pin the serving seam: index().search() returns the
    // lazy scoring plan over the persisted postings
    val idx = graft.operators.KeywordSearch.index(spark,
      spark.read.parquet(s"$dir/documents.parquet"))
    try {
      val p = idx.search(spark, Seq((1L, "spark window batch")), k = 10)
        .queryExecution
        .explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      assert(p.contains("BroadcastHashJoin"), p.take(1200))
    } finally idx.unpersist()
  }

  test("kg2: candidate explode is a narrow Generate (adds no shuffle over the resolved frame)") {
    import org.apache.spark.sql.functions.col
    val spark2 = spark
    import spark2.implicits._
    val resolved = Seq(
      ("u1", "Q1", "Berlin", 0, 6, Seq("Q2", "Q3", "Q1"), "ctx"),
      ("u2", "Q9", "x", 1, 2, Seq[String](), "c"))
      .toDF("url", "self_id", "surface", "begin", "end", "qids", "context")
    val exploded = graft.link.Linker.explodeCandidates(resolved, maxCandidates = 50)
    val p = exploded.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(p.contains("Generate"), p.take(1200)) // explode(slice(array_sort(filter(...))))
    assert(!p.contains("Exchange"), "candidate explode must stay narrow:\n" + p.take(2000))
    // semantics: self dropped, sorted, empty arrays vanish
    assert(exploded.select("qid").as[String].collect().toSeq == Seq("Q2", "Q3"))
  }

  test("kg3: link scoring is an equi-join with the codegen'd fdot (no cartesian)") {
    // the query entry is eager (materialize-then-release lifecycle), so its
    // final plan is a checkpoint scan — pin the scoreTopK seam the query
    // feeds, on tiny synthetic frames (the kg11 test's pattern)
    import org.apache.spark.sql.functions.col
    val spark2 = spark
    import spark2.implicits._
    val ments = Seq(("u1", 0, 3, "s", "Q1", Seq(1f, 0f)))
      .toDF("url", "begin", "end", "surface", "qid", "ctx_vec")
      .withColumn("ctx_vec", col("ctx_vec").cast("array<float>"))
    val vecs = Seq(("Q1", Seq(1f, 0f))).toDF("id", "vec")
      .withColumn("vec", col("vec").cast("array<float>"))
    val p = graft.link.Linker.scoreTopK(ments, vecs, k = 5)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(p.contains("graft_fdot"), p.take(1200))
    assert(p.contains("Window")) // per-mention top-K
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "candidate resolution must be an equi-join on qid, not a nested-loop scan")
  }

  test("kg11: LSH link is one shuffle-hash bucket join with codegen'd projections") {
    // the query's final plan is truncated by its eager checkpoint, so pin
    // the join/score/top-K plan seam directly on tiny synthetic frames
    import org.apache.spark.sql.functions.col
    val spark2 = spark
    import spark2.implicits._
    val S = graft.operators.Similarity
    val ments = Seq(("u1", "s", 0, 3, Seq(1f, 0f)), ("u2", "s", 1, 4, Seq(0f, 1f)))
      .toDF("url", "surface", "begin", "end", "ctx_vec")
      .withColumn("ctx_vec", col("ctx_vec").cast("array<float>"))
      .withColumn("_n", S.norm(col("ctx_vec")))
    val ents = Seq(("Q1", Seq(1f, 0f)), ("Q2", Seq(0f, 1f)))
      .toDF("qid", "vec")
      .withColumn("vec", col("vec").cast("array<float>"))
      .withColumn("_en", S.norm(col("vec")))
    val p = graft.link.Linker.linkLshFrame(ments, ents, k = 5, bits = 4, tables = 2, dimLen = 2)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    // plane projections ride the single-node SignBucket kernel (round 6 —
    // the per-bit fddot literal chains cost ~100 KB of plan per LSH query)
    assert(p.contains("graft_sign_bucket"), p.take(1200))
    assert(p.contains("ShuffledHashJoin"),
      "bucket rendezvous must hash, not sort embedding payloads:\n" +
        p.linesIterator.filter(_.contains("Join")).mkString("\n"))
    assert(!p.contains("SortMergeJoin"))
    assert(!p.contains("CartesianProduct"))
  }

  test("s5: IVF probes broadcast; corpus side stays a single scan per stage") {
    val p = planOf("s5_ann_ivf")
    assert(p.contains("graft_fdot"), p.take(1200))
    assert(!p.contains("CartesianProduct"), "IVF must not plan a cartesian product")
  }

  test("d11: repetition signals are ONE narrow projection — no Exchange anywhere") {
    val p = planOf("d11_repetition")
    assert(!p.contains("Exchange"),
      "per-doc repetition signals must never shuffle\n" + p.take(1500))
    assert(!p.contains("Generate"), "no explode — grams stay inside the row")
  }

  test("d12: eval-gram set broadcasts; the corpus grams never sort-merge") {
    val p = planOf("d12_decontaminate")
    assert(p.contains("BroadcastHashJoin"), p.take(1500))
    assert(!p.contains("SortMergeJoin"),
      "the corpus side must not shuffle its grams into a sort-merge join\n" + p.take(1500))
    assert(p.contains("partial_count") || p.contains("HashAggregate"),
      "per-doc count must partial-aggregate map-side")
  }

  test("d12: the gram kernel evaluates ONCE per branch — never inside a Filter") {
    // a plain (non-outer) explode makes the optimizer infer size/isnotnull
    // filters and push them below the gram projection with the kernel
    // substituted → 3-4× the per-row CPU at scale; pin the explode_outer fix
    val p = planOf("d12_decontaminate")
    assert("array_distinct\\(transform".r.findAllIn(p).size <= 2,
      "gram kernel must appear at most once per branch (corpus + eval)\n" + p.take(1500))
    assert(!p.linesIterator.filter(_.contains("Condition")).exists(_.contains("transform(")),
      "no Filter condition may re-evaluate the gram kernel")
  }

  test("w1: url canonicalization is ONE narrow projection — no Exchange, no UDF") {
    val p = planOf("w1_url_canon")
    assert(!p.contains("Exchange"), p.take(1200))
    assert(!p.contains("BatchEvalPython") && !p.contains("SQLUDF"))
  }

  test("w3: host quality is one projection + one scalar groupBy — no self-join") {
    val p = planOf("w3_host_quality")
    // count operator-detail headers — the tree summary repeats each name
    assert("""\(\d+\) Exchange""".r.findAllIn(p).size == 1,
      "exactly the groupBy(host) shuffle, nothing else\n" + p.take(1500))
    assert(!p.contains("Join"), "signals + host computed in one projection, no join")
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      "host rollup must partial-aggregate map-side (skewed hosts)")
  }

  test("kg19: digests are projected BEFORE the per-url shuffle (bodies never move)") {
    val spark2 = spark
    import spark2.implicits._
    val pages = Seq(("u1", new java.sql.Timestamp(1L), Array[Byte](1, 2)))
      .toDF("url", "warc_ts", "html")
    val df = graft.operators.Revisit
      .latest(graft.operators.Revisit.snapshotDigests(pages, "html"))
    // the consolidation aggregate's input (what crosses the url shuffle)
    // must carry the 16-byte digest, never the page body
    val aggs = df.queryExecution.optimizedPlan.collect {
      case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
    }
    assert(aggs.nonEmpty)
    val shuffled = aggs.head.child.output.map(_.name)
    assert(shuffled.contains("digest") && !shuffled.contains("html"),
      s"aggregate input was $shuffled")
  }

  test("kg20: both SCD windows share ONE exchange+sort (single shuffle history build)") {
    val spark2 = spark
    import spark2.implicits._
    val obs = Seq(("q", "v", new java.sql.Timestamp(1L))).toDF("qid", "value", "ts")
    val p = graft.operators.Scd.intervals(obs, Seq("qid"), "value", "ts")
      .queryExecution.explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    val windows = "(?m)^\\(\\d+\\) Window".r.findAllIn(p).size
    val exchanges = "hashpartitioning".r.findAllIn(p).size
    assert(windows == 2, s"expected 2 Window operators, got $windows\n${p.take(1500)}")
    assert(exchanges == 1, s"expected ONE hash exchange under both windows, got $exchanges\n${p.take(1500)}")
  }

  test("kg21: incremental canon remaps via ONE broadcast join — the base never reshuffles") {
    val spark2 = spark
    import spark2.implicits._
    val baseAssign = graft.canon.ConnectedComponents.run(spark,
      Seq(("b", "c")).toDF("src", "dst"), Seq("a", "b", "c").toDF("id"))
    // the entry's eager checkpoint hides the plan: inspect the seam inside a
    // scope, so the held assign/delta caches are in the plan
    val p = graft.tables.Checkpoints.superstep(spark, None) { s =>
      graft.canon.ConnectedComponents.incrementalFrame(s, spark, baseAssign,
        Seq(("c", "a"), ("z", "a")).toDF("src", "dst"), maxIterations = 50, checkpointDir = None)
        .queryExecution.explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    }
    assert(p.contains("BroadcastHashJoin"), p.take(1500))
    assert(!p.contains("SortMergeJoin"),
      "the world-sized base assignment must not sort-merge against the remap table\n" + p.take(1500))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("d15: rank window partitions on doc_id, N arrives broadcast, no cartesian") {
    // final plan is a checkpoint scan — pin the d15Frame seam the query wraps
    val spark2 = spark
    import spark2.implicits._
    val tf = Seq(("a", "x", 2L), ("a", "y", 1L), ("b", "x", 3L)).toDF("doc_id", "word", "tf")
    val n = Seq(Tuple1(2L)).toDF("n_docs")
    val p = graft.operators.TextAnalysis.d15Frame(tf, n, k = 5).queryExecution
      .explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(p.contains("Window"), p.take(1500))
    assert(p.contains("PartitionBy: [doc_id") || p.contains("partitionBy=[doc_id")
      || p.contains("windowspecdefinition(doc_id"),
      "per-doc window must partition on doc_id (corpus-wide group count)\n" + p.take(1500))
    // the 1-row N frame rides a broadcast nested-loop (no join key, 1 row —
    // the KeywordSearch corpus-stats precedent); a shuffled CartesianProduct
    // over the full tf frame would be the scale bug this guards against
    assert(!p.contains("CartesianProduct"), p.take(1500))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"))
  }

  test("w5: rules ride a broadcast join; the verdict is a per-doc aggregate, not a window") {
    val p = planOf("w5_robots_filter")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      "the robots.txt-sized rule table must broadcast\n" + p.take(1500))
    assert(!p.contains("Window"), "longest-match must be the min(struct) aggregate")
    assert(!p.contains("CartesianProduct"), p.take(1500))
    assert(!p.contains("SortMergeJoin"), "the doc×rule match must never shuffle both sides")
  }

  test("d16: LM train + score are aggregate shuffles; T arrives broadcast; no window, no cartesian") {
    // pin the d16Plan seam (the entry's eager checkpoint hides the plan)
    val spark2 = spark
    import spark2.implicits._
    val docs = Seq((1L, "a b c a b")).toDF("doc_id", "text")
    val grams = Seq((1L, "a b"), (1L, "b c"), (1L, "c a"), (1L, "a b"))
      .toDF("doc_id", "g")
    import org.apache.spark.sql.functions.{count, lit}
    val counts = grams.groupBy("g").agg(count(lit(1)).as("c"))
    val p = graft.operators.TextAnalysis.d16Plan(docs, grams, counts, keepBelow = 8.0)
      .queryExecution
      .explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(p.contains("HashAggregate") && p.contains("partial_count"),
      "gram counts must combine map-side\n" + p.take(1500))
    assert(!p.contains("Window") && !p.contains("CartesianProduct"), p.take(1500))
    // the 1-row total rides a broadcast (the d15 N precedent); the
    // grams⋈counts join is an equi-join on g, never a nested loop over both
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      p.take(1500))
  }

  test("d20: winnowing selects fingerprints in-row — one projection + Generate, no Exchange") {
    val p = planOf("d20_winnow_fingerprints")
    assert(!p.contains("Exchange"),
      "window argmins are array expressions — nothing may shuffle\n" + p.take(1500))
    assert(p.contains("Generate"), "the fingerprint explode is the only wide op")
  }

  test("d21: covered positions fold to one array; all joins equi, no Expand") {
    // pin the d21Plan seam over a tiny pre-hashed gram-array frame
    val spark2 = spark
    import spark2.implicits._
    val docs = Seq((1L, "a b c d"), (2L, "a b c e")).toDF("doc_id", "text")
    val staged = Seq((1L, Seq(11L, 12L)), (2L, Seq(11L)))
      .toDF("doc_id", "hs")
    val p = graft.operators.TextAnalysis.d21Plan(docs, staged, k = 3)
      .queryExecution
      .explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(!p.contains("Expand"), p.take(1500))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      p.take(1500))
    assert(p.contains("HashAggregate") || p.contains("ObjectHashAggregate"), p.take(1500))
  }

  test("d22: bitset rides a 1-row broadcast; probe side never sort-merge joins") {
    val spark2 = spark
    import spark2.implicits._
    val pos = Seq((3L, 2, Array(1, 2, 3)), (1L, 2, Array(1, 2, 3)))
      .toDF("doc_id", "n_grams", "ps")
    val p = graft.operators.TextAnalysis.d22Plan(pos, mBits = 256)
      .queryExecution
      .explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    // the only join is the 1-row bitset rendezvous: a broadcast nested-loop
    // over a single-row inner side (the KeywordSearch N-broadcast shape) —
    // NOT a shuffle of the probe grams
    assert(!p.contains("SortMergeJoin"), p.take(1500))
    assert(!p.contains("ShuffledHashJoin"), p.take(1500))
    assert(p.contains("BroadcastNestedLoopJoin"), p.take(1500))
    assert(p.contains("HashAggregate") || p.contains("ObjectHashAggregate"), p.take(1500))
  }

  test("d23: one pair-count Exchange; top-k is a bounded TakeOrderedAndProject, no global Sort") {
    val spark2 = spark
    import spark2.implicits._
    val docs = Seq((1L, "abab ab"), (2L, "x yz")).toDF("doc_id", "text")
    val p = graft.operators.TextAnalysis.d23Frame(docs, k = 20)
      .queryExecution
      .explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert("""\(\d+\) Exchange""".r.findAllIn(p).size == 1, p.take(1500))
    assert(p.contains("TakeOrderedAndProject"), p.take(1500))
    assert(!p.contains("(Sort ") && !"""\(\d+\) Sort\b""".r.findAllIn(p).hasNext,
      "top-k must not globally sort:\n" + p.take(1500))
  }

  test("d18: df rollup has no count-distinct Expand; join back is an equi-join on the hash") {
    // pin the d18Plan seam over a tiny pre-hashed gram-array frame; the df
    // rollup's per-doc dedup is the IN-ROW array_distinct (round 6) — the
    // no-Expand assertion still guards the count(DISTINCT) regression
    val spark2 = spark
    import spark2.implicits._
    val docs = Seq((1L, "a b c d"), (2L, "a b c e")).toDF("doc_id", "text")
    val staged = Seq((1L, Seq(11L, 12L)), (2L, Seq(11L))).toDF("doc_id", "hs")
    val p = graft.operators.TextAnalysis.d18Plan(docs, staged, flagAt = 0.5)
      .queryExecution
      .explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(!p.contains("Expand"),
      "df must be distinct-then-count, never count(DISTINCT) expand\n" + p.take(1500))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      p.take(1500))
    assert(p.contains("HashAggregate") && p.contains("partial_count"), p.take(1500))
  }

  test("d19: the log-ratio dim joins broadcast; scoring has no window, no cartesian") {
    // pin the d19Plan seam over a tiny pre-bucketed token stream
    val spark2 = spark
    import spark2.implicits._
    val docs = Seq((1L, "en"), (2L, "de")).toDF("doc_id", "lang")
    val toks = Seq((1L, true, 3L), (1L, true, 5L), (2L, false, 3L))
      .toDF("doc_id", "tgt", "b")
    val p = graft.operators.Dsir.d19Plan(docs, toks, buckets = 256,
        selectAbove = 0.0)
      .queryExecution
      .explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      "the <=256-row model dim must broadcast\n" + p.take(1500))
    assert(!p.contains("Window") && !p.contains("CartesianProduct"), p.take(1500))
    assert(p.contains("HashAggregate") && p.contains("partial_count"), p.take(1500))
  }

  test("kg24: the diff is window + ONE conditional aggregate — no join anywhere") {
    val spark2 = spark
    import spark2.implicits._
    val ts = (ms: Long) => new java.sql.Timestamp(ms)
    val obs = Seq(("q1", "p1", "v1", ts(1L)), ("q1", "p1", "v2", ts(2L)))
      .toDF("qid", "pid", "value", "ts")
    val p = graft.operators.KgQueries.tripleDiffFrame(obs)
      .queryExecution
      .explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(!p.contains("Join"), "presence flags fold in the aggregate, never a join\n" + p.take(1500))
    assert(p.contains("Window"), p.take(1500))
    // the window's qid shuffle satisfies the (qid,pid,value) grouping — the
    // whole diff rides ONE hash exchange
    val exchanges = "hashpartitioning".r.findAllIn(p).size
    assert(exchanges == 1,
      s"expected 1 hash exchange (window, reused by the agg), got $exchanges\n${p.take(1500)}")
  }

  test("mm2: candidates bucket-join on (block, key) scalars; no cartesian pair formation") {
    // pin the shared simhash frame seam over a tiny signature frame
    val spark2 = spark
    import spark2.implicits._
    val sigs = Seq((1L, 7L), (2L, 7L), (3L, -1L)).toDF("doc_id", "sig")
    val blocks = graft.operators.Dedup.simhashBlocksOf(sigs, maxDist = 3)
    val p = graft.operators.Dedup.simhashNearDupFrame(blocks, maxDist = 3)
      .queryExecution
      .explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "the candidate join must be an equi-join on (block, key)\n" + p.take(1500))
    assert(p.contains("block") && p.contains("key"), p.take(1500))
  }

  test("s8: corpus encodes in-row (one exchange total, for the rank window); queries broadcast") {
    val p = planOf("s8_ann_pq")
    assert(!p.contains("CartesianProduct"), p.take(1500))
    assert(p.contains("BroadcastExchange"), "query+LUT side must broadcast\n" + p.take(1500))
    // encode is a narrow projection against codebook literals: the ONLY
    // hash shuffle in the whole query is the per-query rank window
    val exchanges = "hashpartitioning".r.findAllIn(p).size
    assert(exchanges == 1, s"expected 1 hash exchange (rank window), got $exchanges\n${p.take(1500)}")
  }

  test("s9: candidates join the broadcast probes on the cell EQUI-key; corpus side in-row") {
    val p = planOf("s9_ann_ivfpq")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "cell must be an equi-join key, not a per-query corpus scan\n" + p.take(1500))
    assert(p.contains("BroadcastHashJoin"), p.take(1500))
    // corpus side encodes in-row: the only hash exchanges are the two
    // bounded windows (query-side probe ranking + final rank)
    val exchanges = "hashpartitioning".r.findAllIn(p).size
    assert(exchanges <= 2, s"expected ≤2 hash exchanges, got $exchanges\n${p.take(1500)}")
  }

  test("kg28: the lag window and the per-url aggregate share ONE exchange") {
    val p = planOf("kg28_recrawl_priority")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    // window partitions by url, groupBy keys on url → Spark must reuse the
    // window's hashpartitioning for the aggregate (single shuffle end to end)
    val exchanges = "hashpartitioning".r.findAllIn(p).size
    assert(exchanges == 1, s"expected 1 hash exchange (url), got $exchanges\n${p.take(1500)}")
  }

  test("kg29: two map-side-combined aggregate exchanges, no join, no window") {
    val p = planOf("kg29_property_profile")
    assert(!p.contains("Join") && !p.contains("Window"), p.take(1500))
    val exchanges = "hashpartitioning".r.findAllIn(p).size
    assert(exchanges == 2, s"expected 2 hash exchanges ((qid,pid) then pid), got $exchanges\n${p.take(1500)}")
  }

  test("d25: HLL registers are a plain partial-max aggregate — no custom agg, no window") {
    // pin the lazy seam: the public entry eagerly checkpoints (so the two
    // passes share the token cache), which would hide the aggregate
    import graft.operators.Sketches
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val p = Sketches.d25Plan(Sketches.d25Tokens(docs), p = 6)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(p.contains("partial_max"), p.take(1500)) // map-side register combine
    assert(!p.contains("ObjectHashAggregate"), "HLL must not need a typed Aggregator\n" + p.take(1200))
    assert(!p.contains("Window"), p.take(1200))
    assert(!p.contains("CartesianProduct"))
  }

  test("s11: the delta assignment filter is pushed to the scan; no cartesian") {
    val p = planOf("s11_ann_ingest")
    // the batch boundary (vec_id >= split) must reach the parquet scan of
    // the newly-ingested branch — the base side never recomputes assignment
    assert(p.contains("GreaterThanOrEqual(vec_id"), p.take(2000))
    assert(!p.contains("CartesianProduct"))
  }

  test("w7: allocation adds only 1-row broadcasts + the host ranking to w3's single host shuffle") {
    val p = planOf("w7_crawl_budget")
    assert(!p.contains("CartesianProduct"), p.take(1500))
    // the only hash exchange in the whole query is w3's groupBy(host) —
    // totals/leftovers are 1-row broadcast nested loops, the remainder
    // ranking is a single-partition sort of host scalars
    val exchanges = "hashpartitioning".r.findAllIn(p).size
    assert(exchanges <= 1, s"expected ≤1 hash exchange (host), got $exchanges\n${p.take(1500)}")
  }

  test("kg30: every hop is an equi-join on the current node — no cartesian anywhere") {
    val p = planOf("kg30_walks")
    assert(!p.contains("CartesianProduct"), p.take(1500))
  }
}
