package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators.{AsOfJoin, Dedup, Dsir, Eval, KgQueries, LangId, Mixture, Packing, RangeJoin, Relational => R, Similarity, Sketches, TextAnalysis => T, TopK, UrlOps}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Each entry in [[queries]] is one implemented operator from SURVEY.md §2;
  * [[oracleSql]] carries the DuckDB-equivalent ANSI SQL for the driver's
  * correctness gate (column names aliased identically on both sides).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    R.q2RevenueByNation(spark, "/root/testdata/sf0.001")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q1_pricing_summary" -> (R.q1PricingSummary _),
    "q2_revenue_by_nation" -> (R.q2RevenueByNation _),
    "q3_top_orders" -> (R.q3TopOrders _),
    "q4_semi_join" -> (R.q4SemiJoin _),
    "q5_anti_join" -> (R.q5AntiJoin _),
    "q6_forecast_revenue" -> (R.q6ForecastRevenue _),
    "q7_window_topk" -> (R.q7WindowTopK _),
    "q8_running_total" -> (R.q8RunningTotal _),
    "q9_events_hourly" -> (R.q9EventsHourly _),
    "q10_daily_users" -> (R.q10DailyUsers _),
    "q11_part_stats" -> (R.q11PartStats _),
    "q12_items_per_order" -> (R.q12ItemsPerOrder _),
    "q13_rollup" -> (R.q13Rollup _),
    "q14_lag" -> (R.q14Lag _),
    "q15_ntile" -> (R.q15Ntile _),
    "q16_conditional_agg" -> (R.q16ConditionalAgg _),
    "q17_string_funcs" -> (R.q17StringFuncs _),
    "q18_setops" -> (R.q18SetOps _),
    "q19_argmax_per_brand" -> (R.q19ArgmaxPerBrand _),
    // backward as-of join (events → latest at-or-before order), composed as
    // tagged-union + one window pass — no range-theta explosion
    "q20_asof_join" -> (AsOfJoin.q20AsOf _),
    // bucketed range join (events within each order's 7-day window) — the
    // (key, bucket) equi-rendezvous, never a nested-loop range scan
    "q21_range_join" -> (RangeJoin.q21RangeJoin _),
    "d1_doc_stats" -> (T.d1DocStats _),
    "d2_exact_dedup_stats" -> (T.d2ExactDedupStats _),
    "d3_dup_groups" -> (T.d3DupGroups _),
    "d4_token_counts" -> (T.d4TokenCounts _),
    "d5_quality_signals" -> (T.d5QualitySignals _),
    // deterministic hash-stratified sampling (curation op): the include
    // decision is a pure function of the key — retry/repartition-stable
    "d6_stratified_sample" -> (T.d6StratifiedSample _),
    // PII scrub (C4/CCNet-style cleanup): redact + count, pure codegen
    "d7_pii_scrub" -> (T.d7PiiScrub _),
    // KMV distinct sketch: mergeable bounded-memory custom Aggregator —
    // only k longs per group cross the shuffle; estimate IEEE-replayable
    "d8_kmv_distinct" -> ((s, d) => Sketches.d8KmvDistinct(s, d)),
    // Count-Min heavy-hitter estimates: sum-based counters — mergeable,
    // order-independent, at most d*w rows leave any partition
    "d9_cms_heavy" -> ((s, d) => Sketches.d9CmsHeavy(s, d)),
    // HyperLogLog distinct sketch: register max IS a relational aggregate
    // (two-level groupBy, map-side partials), exact-integer registers,
    // estimate + linear-counting branch IEEE-replayed by the oracle
    "d25_hll_distinct" -> ((s, d) => Sketches.d25HllDistinct(s, d)),
    // deterministic bottom-k-by-hash uniform sample → quantile estimates
    // next to exact order statistics (no global per-group sort at scale)
    "d10_quantile_sample" -> ((s, d) => Sketches.d10QuantileSample(s, d)),
    // Gopher-style repetition quality signals: all per-row higher-order
    // array expressions — one narrow projection, zero shuffles (plan-pinned)
    "d11_repetition" -> (T.d11RepetitionSignals _),
    // eval-set n-gram decontamination: the distinct eval-gram set broadcasts,
    // the corpus side's grams never shuffle (plan-pinned broadcast join)
    "d12_decontaminate" -> ((s, d) => T.d12Decontaminate(s, d)),
    // token-budget mixture sampling: distributed two-pass prefix sum, NOT
    // the one-partition-per-stratum window (spec pins bit-identity to it)
    "d13_token_budget" -> (Mixture.d13TokenBudget _),
    // exact per-language top-20 vocabulary: bounded mergeable top-K
    // aggregate over final counts — no per-group window partition
    "d14_top_vocab" -> ((s, d) => TopK.d14TopVocab(s, d)),
    // per-document keyword extraction: all-integer salience ranking (no
    // transcendental in the ordering), IEEE-exact displayed score
    "d15_keywords" -> ((s, d) => T.d15Keywords(s, d)),
    // CCNet-style LM quality filter: in-corpus bigram-LM stand-in, per-doc
    // mean negative log gram frequency + fixed-threshold keep verdict
    "d16_perplexity_filter" -> ((s, d) => T.d16PerplexityFilter(s, d)),
    // GPT-style sequence packing: concatenate-and-cut context windows via
    // the d13 distributed prefix sum (no single-partition global window)
    "d17_sequence_packing" -> ((s, d) => Packing.d17SequencePacking(s, d)),
    // cross-document duplicated-span signal (Lee et al. ExactSubstr stat):
    // grams hash to 60-bit bigints in the scan, both shuffles carry 8-byte
    // keys, df dictionary pruned to df>=2 before the join back
    "d18_dup_spans" -> ((s, d) => T.d18DupSpans(s, d)),
    // DSIR importance weights: hashed-unigram target/raw models collapse to
    // <=256 rows and broadcast; the only wide shuffle is per-doc partials
    "d19_dsir_weights" -> ((s, d) => Dsir.d19DsirWeights(s, d)),
    // winnowing fingerprints (MOSS): window argmins selected entirely
    // in-row with array expressions — one narrow projection, no shuffle
    "d20_winnow_fingerprints" -> ((s, d) => T.d20Winnow(s, d)),
    // duplicated-span REMOVAL (the d18 detect → apply pair, as dd1 → dd5):
    // covered positions collapse to one int array per doc; text moves only
    // in the final doc-keyed rendezvous; the word surgery is in-row
    "d21_dup_span_removal" -> ((s, d) => T.d21DupSpanRemoval(s, d)),
    // bloom-filter decontamination (d12's documented scale degradation as
    // its own gate): eval grams fold to ONE fixed-size OR-merged bitset
    // that rides a 1-row broadcast; probe grams never shuffle
    "d22_bloom_decontaminate" -> ((s, d) => T.d22BloomDecontaminate(s, d)),
    // BPE merge candidates (tokenizer-training inner statistic): bounded
    // pair space → map-side partials; top-k via TakeOrderedAndProject
    // (bounded heap), never a global sort
    "d23_bpe_pairs" -> ((s, d) => T.d23BpePairs(s, d)),
    // BPE tokenizer APPLY (the d23-trained merges as a tokenizer): merge
    // rules are a driver-bounded literal in one narrow codegen projection
    "d24_bpe_encode" -> ((s, d) => T.d24BpeEncode(s, d)),
    // dedup family
    // url canonicalization (pre-dedup crawl hygiene): chain of codegen'd
    // regexp columns, one narrow projection — zero shuffles
    "w1_url_canon" -> (UrlOps.w1UrlCanon _),
    // host rollup over canonical urls: scalar (host, canon) pairs shuffle
    "w2_host_stats" -> (UrlOps.w2HostStats _),
    // host-level quality blocklist: signals + host in ONE narrow projection,
    // a single scalar groupBy — no document/url self-join
    "w3_host_quality" -> (UrlOps.w3HostQuality _),
    // per-host boilerplate gram: argmax as min(struct(-c, gram)) aggregate,
    // no per-host window partition
    "w4_host_boilerplate" -> (UrlOps.w4HostBoilerplate _),
    // robots-compliance frontier filter: broadcast rule table, prefix-match
    // left-join, per-doc min-rule verdict
    "w5_robots_filter" -> (UrlOps.w5RobotsFilter _),
    // politeness timetable over the robots-filtered frontier: per-host
    // sequential fetch slots (the inherently-serial-per-host window)
    "w6_frontier_schedule" -> (UrlOps.w6FrontierSchedule(_, _)),
    // crawl-budget allocation: largest-remainder integer quotas over
    // quality-weighted hosts — Σ quota == budget exactly, zero float
    "w7_crawl_budget" -> ((s, d) => UrlOps.w7CrawlBudget(s, d)),
    "dd1_minhash_lsh" -> ((s, d) => Dedup.minhashLsh(s, d)),
    "dd2_simhash_neardup" -> ((s, d) => Dedup.simhashNearDup(s, d)),
    "dd3_ngram_jaccard" -> ((s, d) => Dedup.ngramJaccardExact(s, d)),
    // incremental ingestion dedup: new batch vs corpus + within-batch,
    // corpus x corpus never pairs (batch filter pushed to the scan)
    "dd4_minhash_incremental" -> (Dedup.minhashLshIncrementalDocs _),
    // dedup APPLICATION: LSH pairs → connected components → keeper election;
    // kept=false rows are the delete list
    "dd5_dedup_apply" -> ((s, d) => Dedup.dedupApply(s, d)),
    // similarity search / ANN
    "s1_ann_brute" -> ((s, d) => Similarity.bruteForceTopK(s, d)),
    "s2_ann_lsh" -> ((s, d) => Similarity.lshTopK(s, d)),
    // threshold 0.3: the synthetic embeddings have no true near-dups (max
    // pairwise cosine ≈ 0.46); real corpora would use ~0.95+.
    // s3 = exact all-pairs (DuckDB-oracle-backed verification baseline);
    // s4 = LSH-bucketed scale path, recall-spec'd against s3.
    "s3_embedding_neardup" -> ((s, d) => Similarity.embeddingNearDupExact(s, d, threshold = 0.3)),
    "s4_embedding_neardup_lsh" -> ((s, d) => Similarity.embeddingNearDup(s, d, threshold = 0.3)),
    // IVF coarse-quantizer ANN: deterministic centroids -> fully
    // oracle-expressible (recall vs brute force additionally spec'd)
    "s5_ann_ivf" -> ((s, d) => Similarity.ivfTopK(s, d)),
    // IVF with TRAINED (deterministic Lloyd) centroids: the codebook is the
    // materialized kernel; the oracle replays assignment/probe/re-rank
    "s6_ann_ivf_trained" -> ((s, d) => Similarity.ivfTopKTrained(s, d)),
    // blocking-quality audit: pair completeness / reduction ratio / pairs
    // quality of the s4 LSH blocking vs the s3 exact truth
    "s7_blocking_quality" -> ((s, d) => Similarity.blockingQuality(s, d, threshold = 0.3)),
    // product-quantization ANN: integer-quantized codebook + ADC search over
    // codes only — the compressed-corpus scale path, bit-replayable in SQL
    "s8_ann_pq" -> ((s, d) => Similarity.pqTopK(s, d)),
    // IVF-PQ: coarse cells + PQ over residuals — the billion-scale index
    // layout; per-(query, probed-cell) LUTs, candidates pruned by cell
    "s9_ann_ivfpq" -> ((s, d) => Similarity.ivfPqTopK(s, d)),
    // recall audit: recall@k of every approximate searcher (s2/s5/s6/s8/s9)
    // vs the s1 exact truth in one frame — the metric that makes
    // bits/tables/nProbe/ksub tunable before trusting an index at scale
    "s10_ann_recall_audit" -> ((s, d) => Similarity.annRecallAudit(s, d)),
    // incremental index ingest: frozen centroids, persisted base
    // assignments READ not recomputed, only the delta pays the assignment
    // map — bit-identical to a full rebuild (spec-pinned)
    "s11_ann_ingest" -> ((s, d) => Similarity.ivfIngestDelta(s, d)),
    // retrieval eval
    "em1_retrieval_metrics" -> ((s, d) => Eval.metrics(s, d)),
    "em2_rerank" -> ((s, d) => Eval.rerank(s, d)),
    // comparative filtered retrieval (J10/F7): per-query candidate sets
    "em3_filtered_retrieval" -> ((s, d) => Eval.retrieveComparative(s, d)),
    // precision/recall@K curve: micro-averaged so every sum is an exact
    // integer; two IEEE divisions per K are the only floats
    "em4_pr_curve" -> ((s, d) => Eval.prCurve(s, d)),
    // text ops
    "lid1_langid_fingerprint" -> ((s, d) => LangId.detectDocs(s, d)),
    // multimodal plumbing
    "mm1_media_stats" -> ((s, d) => graft.multimodal.Media.mediaStats(s, d)),
    // media near-dup: pHash stand-in bucketed through the dd2 bit-block
    // machinery; finds the planted one-byte-flipped twin assets
    "mm2_media_neardup" -> ((s, d) => graft.multimodal.Media.mediaNearDup(s, d)),
    // streaming semantics in batch mode (sum rounded so the DuckDB oracle's
    // per-session summation order can't flip a low bit)
    "st1_sessionize" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      graft.streaming.EventsStream.sessionize(s, s.read.parquet(s"$d/events.parquet"))
        .withColumn("sum_value", round(col("sum_value"), 2))
    }),
    // keyword search (BM25 over an inverted index — the S12/K2 analog)
    "kw1_keyword_search" -> ((s, d) => graft.operators.KeywordSearch.searchDocs(s, d)),
    // embedding cache (J9/E2): two passes; second must be all hits
    "cache1_embedding_cache" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      val tmp = java.nio.file.Files.createTempDirectory(
        java.nio.file.Paths.get("target"), "embcache-").toString
      val cache = new graft.link.EmbeddingCache(s,
        new graft.tables.MergeTable(s, tmp, Seq("text_key")))
      val texts = s.read.parquet(s"$d/documents.parquet")
        .select(col("doc_id").cast("string").as("id"), col("text"))
      val (r1, miss1) = cache.embedWithCache(texts)
      val n1 = r1.count()
      val (r2, miss2) = cache.embedWithCache(texts)
      val n2 = r2.count()
      import s.implicits._
      Seq((n1, miss1, n2, miss2)).toDF("n_first", "misses_first", "n_second", "misses_second")
    }),
    // KG pipeline stages (self-generated deterministic corpus)
    "kg1_extract_text" -> (KgQueries.extractText _),
    "kg2_mentions" -> (KgQueries.mentions _),
    "kg3_links" -> (KgQueries.links _),
    "kg4_triples" -> (KgQueries.triples _),
    "kg5_canon" -> (KgQueries.canon _),
    "kg6_chunks" -> ((s, d) => KgQueries.chunks(s, d)),
    "kg7_triples_for_url" -> ((s, d) => KgQueries.triplesForUrl(s, d)),
    // P6: qualifier + reference sub-triples (notebook get_triplets semantics)
    "kg8_triplets" -> (KgQueries.triplets _),
    // A1: per-PID / per-class / per-site corpus stats
    "kg9_stats" -> (KgQueries.stats _),
    // S13: stage-6 HF export rows (clean_entity + labels splice + compact
    // json columns), golden-pinned byte-exact by HfExportGoldenSpec
    "kg10_hf_export" -> (KgQueries.hfExport _),
    // LSH candidate generation for linking (north-star) — oracle recomputes
    // planes/buckets/join/cosine/window from the materialized frames
    "kg11_links_lsh" -> (KgQueries.linksLsh _),
    // the hash-split export scale mode (no global window; md5-derived split
    // the oracle recomputes) — kg10 stays the reference's sequential mode
    "kg12_hf_export_hashed" -> (KgQueries.hfExportHashed _),
    // uniqueness-constraint QA: (qid, pid) with >1 distinct value
    "kg13_conflicts" -> (KgQueries.conflicts _),
    // degree-ordered triangle census of the entity co-occurrence graph
    "kg14_triangles" -> (KgQueries.triangles _),
    // exact-integer PageRank (10 iterations) over the co-occurrence graph —
    // bit-replayable because every op is BIGINT arithmetic
    "kg15_pagerank" -> (KgQueries.pagerank _),
    // bounded-hop BFS from the top-degree hub entities (Pregel frontier
    // shape; oracle unrolls the hops)
    "kg16_bfs" -> (KgQueries.bfs _),
    // deterministic random-walk corpus (DeepWalk-style node-embedding
    // training data): seeded md5 next-hop draw, one frontier⋈edges join +
    // one per-walk window per step, ids/hashes only on the wire
    "kg30_walks" -> (KgQueries.walks _),
    // skip-gram co-visit pairs over the walks (the node-embedding training
    // statistic): walk_id equi-self-join of scalar rows, bounded pairs per
    // walk, map-side-combined count
    "kg31_walk_pairs" -> (KgQueries.walkPairs _),
    // top-50 entity pairs by lift — IEEE-double-exact association mining
    "kg17_cooccur_lift" -> (KgQueries.lift _),
    // referential-integrity QA: QID-valued statements with no target entity
    "kg18_dangling_refs" -> (KgQueries.dangling _),
    // crawl-snapshot consolidation: latest-per-url + changed/unchanged
    // revisit signal (digests computed BEFORE the per-url shuffle)
    "kg19_revisit_latest" -> (KgQueries.revisit _),
    // temporal SCD-2 triple history (P1082 across crawls 1+2): validity
    // intervals open only on value CHANGES, re-assertions extend them
    "kg20_triple_scd" -> (KgQueries.tripleScd _),
    // point-in-time snapshot read over the kg20 SCD-2 history: probes
    // between/after the crawls see crawl-1 vs current values
    "kg22_triple_asof" -> (KgQueries.tripleAsOf _),
    // incremental canonicalization: crawl-2 delta edges folded into the
    // crawl-1 assignment via a contracted-graph CC (world never recomputed);
    // oracle recomputes components from scratch over base ∪ delta
    "kg21_canon_delta" -> (KgQueries.canonDelta _),
    // exact-dup groups over the two-crawl digests — the d3 shape on a
    // corpus with GUARANTEED duplicates (unchanged re-serves), so the
    // exact-dedup gate is non-vacuous (d3's driver fixture has none)
    "kg23_exact_dup_groups" -> (KgQueries.exactDupGroups _),
    // snapshot-to-snapshot KG diff: added/removed facts between crawl 1 and
    // the latest fetches — one qid window + ONE presence-flag groupBy (the
    // distinct/anti-join form pays four shuffles); bodies parse in place
    "kg24_triple_diff" -> (KgQueries.tripleDiff _),
    // bounded-round weighted shortest paths (min-plus Bellman-Ford) from
    // the top hubs: exact BIGINT costs, one join + one min-groupBy per
    // round — the weighted complement of the kg16 hop-count BFS
    "kg25_sssp" -> (KgQueries.sssp _),
    // community detection: deterministic synchronous weighted label
    // propagation, four unrolled vote rounds, bounded argmax aggregate
    // (min(struct)) — never a per-node window sort
    "kg26_communities" -> (KgQueries.communities _),
    // bounded k-core peeling: per round two survivor semi-joins + one
    // degree count — ids and one long on the wire, never adjacency lists
    "kg27_kcore" -> (KgQueries.kcore _),
    // change-rate recrawl priority: the scheduling signal from revisit
    // history — one url-keyed window + one groupBy over digest scalars
    "kg28_recrawl_priority" -> (KgQueries.recrawlPriority _),
    // per-predicate property profile: cardinality + kind stats, the
    // constraint-induction table (functional == max_per_subject = 1)
    "kg29_property_profile" -> (KgQueries.propertyProfile _),
    // exactly-once projection of an at-least-once event delivery:
    // retransmitted duplicates collapse on event_id
    "st2_stream_dedup" -> ((s, d) =>
      graft.streaming.EventsStream.dedupEvents(R.table(s, d, "events"))),
    // purchase attribution: each purchase's same-user views in the prior
    // 30 minutes, as a bucketed interval join
    "st3_attribution" -> ((s, d) =>
      graft.streaming.EventsStream.attribution(R.table(s, d, "events"))),
  )

  /** Single source of truth for the oracle-frame location: the SQL below
    * interpolates this constant, so the engine's writes and the oracle's
    * `read_parquet` can never point at different paths.
    */
  private val OF: String = graft.operators.OracleFrames.dir

  /** Exact DuckDB replica of the engine's cosine arithmetic: FLOAT*FLOAT
    * multiply, double accumulate in array order — bit-identical to
    * `graft_fdot` / `aggregate(zip_with(...))` (verified), so value-level
    * oracle rows (not just ranks) compare exactly.
    */
  private def sqlDot(a: String, b: String): String =
    s"list_aggregate(list_transform(list_zip($a, $b), z -> CAST(z[1]*z[2] AS DOUBLE)), 'sum')"

  /** Shared LSH CTEs for the s2/s4 oracles — mirrors Similarity.lshBucket:
    * plane(seed,b,i) = md5-derived uniform in [−1,1) (exact in double), bucket
    * = Σ 2^b over non-negative projections, projections computed with the
    * bit-exact dot replica so every sign matches the engine.
    */
  private def lshCte(seedBase: Int, tables: Int, bits: Int): String =
    s"""nn AS (
       |  SELECT vec_id, embedding,
       |    sqrt(${sqlDot("embedding", "embedding")}) AS nrm
       |  FROM embeddings),
       |pl AS (
       |  SELECT t.t, b.b,
       |    list_transform(range(64), i ->
       |      CAST('0x' || substring(md5(CAST($seedBase + t.t AS VARCHAR) || '_' ||
       |        CAST(b.b AS VARCHAR) || '_' || CAST(i AS VARCHAR)), 1, 8) AS BIGINT)
       |      / 2147483648.0 - 1.0) AS plane
       |  FROM range($tables) t(t) CROSS JOIN range($bits) b(b)),
       |bkt AS (
       |  SELECT n.vec_id, p.t,
       |    CAST(sum(CASE WHEN ${sqlDot("n.embedding", "p.plane")} >= 0
       |      THEN (1 << p.b) ELSE 0 END) AS BIGINT) AS bucket
       |  FROM nn n CROSS JOIN pl p
       |  GROUP BY n.vec_id, p.t)""".stripMargin

  /** The ANN searcher oracles (each a complete WITH…SELECT returning
    * (query_id, neighbor_id, rank)), shared between their own map entries
    * and the s10 recall-audit oracle, which nests every one of them as a
    * parenthesized subquery — so the audit can never drift from the
    * searcher semantics it claims to measure.
    */
  private lazy val annSqls: Map[String, String] = Map(
    "s1" ->
      """WITH q AS (
        |  SELECT vec_id AS query_id, embedding AS qvec FROM embeddings WHERE vec_id < 10),
        |scored AS (
        |  SELECT query_id, e.vec_id AS neighbor_id,
        |    list_cosine_similarity(qvec, e.embedding) AS cos
        |  FROM embeddings e, q WHERE e.vec_id != q.query_id),
        |r AS (
        |  SELECT query_id, neighbor_id,
        |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rank
        |  FROM scored)
        |SELECT query_id, neighbor_id, rank FROM r WHERE rank <= 5""".stripMargin,
    "s2" ->
      s"""WITH ${lshCte(seedBase = 42, tables = 4, bits = 8)},
         |q AS (SELECT vec_id AS query_id, embedding AS qvec, nrm AS qn
         |      FROM nn WHERE vec_id < 10),
         |cand AS (
         |  SELECT DISTINCT c.vec_id AS neighbor_id, qb.vec_id AS query_id
         |  FROM bkt c JOIN bkt qb ON c.t = qb.t AND c.bucket = qb.bucket
         |  WHERE qb.vec_id < 10 AND c.vec_id != qb.vec_id),
         |sc AS (
         |  SELECT cand.query_id, cand.neighbor_id,
         |    CASE WHEN q.qn * e.nrm = 0 THEN 0.0
         |         ELSE ${sqlDot("q.qvec", "e.embedding")} / (q.qn * e.nrm) END AS cos
         |  FROM cand
         |  JOIN nn e ON e.vec_id = cand.neighbor_id
         |  JOIN q ON q.query_id = cand.query_id),
         |r AS (SELECT *, row_number() OVER (PARTITION BY query_id
         |  ORDER BY cos DESC, neighbor_id ASC) AS rank FROM sc)
         |SELECT query_id, neighbor_id, rank FROM r WHERE rank <= 5""".stripMargin,
    "s5" ->
      s"""WITH nn AS (
         |  SELECT vec_id, embedding, sqrt(${sqlDot("embedding", "embedding")}) AS nrm
         |  FROM embeddings),
         |cent AS (SELECT vec_id AS cell, embedding AS cvec, nrm AS cn FROM nn WHERE vec_id < 16),
         |asg AS (
         |  SELECT vec_id, embedding, nrm, cell FROM (
         |    SELECT n.vec_id, n.embedding, n.nrm, c.cell,
         |      row_number() OVER (PARTITION BY n.vec_id ORDER BY
         |        CASE WHEN n.nrm * c.cn = 0 THEN 0.0
         |             ELSE ${sqlDot("n.embedding", "c.cvec")} / (n.nrm * c.cn) END DESC,
         |        c.cell ASC) AS cr
         |    FROM nn n CROSS JOIN cent c) t WHERE cr = 1),
         |q AS (SELECT vec_id AS query_id, embedding AS qvec, nrm AS qn FROM nn WHERE vec_id < 10),
         |probe AS (
         |  SELECT query_id, qvec, qn, cell FROM (
         |    SELECT q.query_id, q.qvec, q.qn, c.cell,
         |      row_number() OVER (PARTITION BY q.query_id ORDER BY
         |        CASE WHEN q.qn * c.cn = 0 THEN 0.0
         |             ELSE ${sqlDot("q.qvec", "c.cvec")} / (q.qn * c.cn) END DESC,
         |        c.cell ASC) AS pr
         |    FROM q CROSS JOIN cent c) t WHERE pr <= 4),
         |sc AS (
         |  SELECT p.query_id, a.vec_id AS neighbor_id,
         |    CASE WHEN p.qn * a.nrm = 0 THEN 0.0
         |         ELSE ${sqlDot("p.qvec", "a.embedding")} / (p.qn * a.nrm) END AS cos
         |  FROM asg a JOIN probe p ON a.cell = p.cell AND a.vec_id != p.query_id),
         |r AS (SELECT *, row_number() OVER (PARTITION BY query_id
         |  ORDER BY cos DESC, neighbor_id ASC) AS rank FROM sc)
         |SELECT query_id, neighbor_id, rank FROM r WHERE rank <= 5""".stripMargin,
    "s6" ->
      s"""WITH nn AS (
         |  SELECT vec_id, embedding, sqrt(${sqlDot("embedding", "embedding")}) AS nrm
         |  FROM embeddings),
         |cent AS (
         |  SELECT cell, cvec, sqrt(${sqlDot("cvec", "cvec")}) AS cn
         |  FROM read_parquet('$OF/s6_centroids/*.parquet')),
         |asg AS (
         |  SELECT vec_id, embedding, nrm, cell FROM (
         |    SELECT n.vec_id, n.embedding, n.nrm, c.cell,
         |      row_number() OVER (PARTITION BY n.vec_id ORDER BY
         |        CASE WHEN n.nrm * c.cn = 0 THEN 0.0
         |             ELSE ${sqlDot("n.embedding", "c.cvec")} / (n.nrm * c.cn) END DESC,
         |        c.cell ASC) AS cr
         |    FROM nn n CROSS JOIN cent c) t WHERE cr = 1),
         |q AS (SELECT vec_id AS query_id, embedding AS qvec, nrm AS qn FROM nn WHERE vec_id < 10),
         |probe AS (
         |  SELECT query_id, qvec, qn, cell FROM (
         |    SELECT q.query_id, q.qvec, q.qn, c.cell,
         |      row_number() OVER (PARTITION BY q.query_id ORDER BY
         |        CASE WHEN q.qn * c.cn = 0 THEN 0.0
         |             ELSE ${sqlDot("q.qvec", "c.cvec")} / (q.qn * c.cn) END DESC,
         |        c.cell ASC) AS pr
         |    FROM q CROSS JOIN cent c) t WHERE pr <= 4),
         |sc AS (
         |  SELECT p.query_id, a.vec_id AS neighbor_id,
         |    CASE WHEN p.qn * a.nrm = 0 THEN 0.0
         |         ELSE ${sqlDot("p.qvec", "a.embedding")} / (p.qn * a.nrm) END AS cos
         |  FROM asg a JOIN probe p ON a.cell = p.cell AND a.vec_id != p.query_id),
         |r AS (SELECT *, row_number() OVER (PARTITION BY query_id
         |  ORDER BY cos DESC, neighbor_id ASC) AS rank FROM sc)
         |SELECT query_id, neighbor_id, rank FROM r WHERE rank <= 5""".stripMargin,
    "s8" ->
      s"""WITH cb AS (
         |  SELECT sub, code, qvec FROM read_parquet('$OF/s8_codebook/*.parquet')),
         |e AS (
         |  SELECT vec_id, list_transform(embedding,
         |    x -> CAST(floor(CAST(x AS DOUBLE) * 4096.0 + 0.5) AS BIGINT)) AS q
         |  FROM embeddings),
         |sub_e AS (
         |  SELECT vec_id, s.sub AS sub,
         |    unnest(list_slice(q, s.sub*8+1, s.sub*8+8)) AS x,
         |    unnest(range(1, 9)) AS i
         |  FROM e CROSS JOIN (SELECT unnest(range(0, 8)) AS sub) s),
         |cb_e AS (
         |  SELECT sub, code, unnest(qvec) AS y, unnest(range(1, 9)) AS i FROM cb),
         |d AS (
         |  SELECT se.vec_id, se.sub, c.code,
         |    CAST(SUM((se.x - c.y)*(se.x - c.y)) AS BIGINT) AS d
         |  FROM sub_e se JOIN cb_e c ON se.sub = c.sub AND se.i = c.i
         |  GROUP BY 1, 2, 3),
         |enc AS (
         |  SELECT vec_id, sub, code FROM (
         |    SELECT vec_id, sub, code,
         |      row_number() OVER (PARTITION BY vec_id, sub ORDER BY d ASC, code ASC) AS r
         |    FROM d) t WHERE r = 1),
         |adc AS (
         |  SELECT qd.vec_id AS query_id, en.vec_id AS neighbor_id,
         |    CAST(SUM(qd.d) AS BIGINT) AS ad
         |  FROM enc en JOIN d qd ON qd.sub = en.sub AND qd.code = en.code
         |  WHERE qd.vec_id < 10 AND en.vec_id != qd.vec_id
         |  GROUP BY 1, 2),
         |r AS (
         |  SELECT query_id, neighbor_id, row_number() OVER (PARTITION BY query_id
         |    ORDER BY ad ASC, neighbor_id ASC) AS rank FROM adc)
         |SELECT query_id, neighbor_id, rank FROM r WHERE rank <= 5""".stripMargin,
    "s9" ->
      s"""WITH cb AS (
         |  SELECT sub, code, qvec FROM read_parquet('$OF/s9_pq_codebook/*.parquet')),
         |e AS (
         |  SELECT vec_id, list_transform(embedding,
         |    x -> CAST(floor(CAST(x AS DOUBLE) * 4096.0 + 0.5) AS BIGINT)) AS q
         |  FROM embeddings),
         |coarse AS (SELECT CAST(vec_id AS INT) AS cell, q AS cvec FROM e WHERE vec_id < 16),
         |ce AS (SELECT vec_id, unnest(q) AS x, unnest(range(1, 65)) AS i FROM e),
         |cc AS (SELECT cell, unnest(cvec) AS y, unnest(range(1, 65)) AS i FROM coarse),
         |cd AS (
         |  SELECT ce.vec_id, cc.cell, CAST(SUM((ce.x - cc.y)*(ce.x - cc.y)) AS BIGINT) AS d
         |  FROM ce JOIN cc ON ce.i = cc.i GROUP BY 1, 2),
         |asg AS (
         |  SELECT vec_id, cell FROM (
         |    SELECT vec_id, cell,
         |      row_number() OVER (PARTITION BY vec_id ORDER BY d ASC, cell ASC) AS r
         |    FROM cd) t WHERE r = 1),
         |r_e AS (
         |  SELECT ce.vec_id, CAST((ce.i - 1) // 8 AS INT) AS sub,
         |    ((ce.i - 1) % 8) + 1 AS j, ce.x - cc.y AS rx
         |  FROM ce JOIN asg a ON ce.vec_id = a.vec_id
         |          JOIN cc ON cc.cell = a.cell AND cc.i = ce.i),
         |cb_e AS (SELECT sub, code, unnest(qvec) AS y, unnest(range(1, 9)) AS j FROM cb),
         |pd AS (
         |  SELECT r.vec_id, r.sub, c.code,
         |    CAST(SUM((r.rx - c.y)*(r.rx - c.y)) AS BIGINT) AS d
         |  FROM r_e r JOIN cb_e c ON r.sub = c.sub AND r.j = c.j GROUP BY 1, 2, 3),
         |enc AS (
         |  SELECT vec_id, sub, code FROM (
         |    SELECT vec_id, sub, code,
         |      row_number() OVER (PARTITION BY vec_id, sub ORDER BY d ASC, code ASC) AS rr
         |    FROM pd) t WHERE rr = 1),
         |probe AS (
         |  SELECT query_id, cell FROM (
         |    SELECT vec_id AS query_id, cell,
         |      row_number() OVER (PARTITION BY vec_id ORDER BY d ASC, cell ASC) AS pr
         |    FROM cd WHERE vec_id < 10) t WHERE pr <= 4),
         |q_r AS (
         |  SELECT p.query_id, p.cell, CAST((ce.i - 1) // 8 AS INT) AS sub,
         |    ((ce.i - 1) % 8) + 1 AS j, ce.x - cc.y AS rx
         |  FROM probe p JOIN ce ON ce.vec_id = p.query_id
         |          JOIN cc ON cc.cell = p.cell AND cc.i = ce.i),
         |lut AS (
         |  SELECT q.query_id, q.cell, q.sub, c.code,
         |    CAST(SUM((q.rx - c.y)*(q.rx - c.y)) AS BIGINT) AS d
         |  FROM q_r q JOIN cb_e c ON q.sub = c.sub AND q.j = c.j GROUP BY 1, 2, 3, 4),
         |adc AS (
         |  SELECT l.query_id, en.vec_id AS neighbor_id, CAST(SUM(l.d) AS BIGINT) AS ad
         |  FROM enc en JOIN asg a ON a.vec_id = en.vec_id
         |       JOIN lut l ON l.cell = a.cell AND l.sub = en.sub AND l.code = en.code
         |  WHERE en.vec_id != l.query_id
         |  GROUP BY 1, 2),
         |rk AS (
         |  SELECT query_id, neighbor_id, row_number() OVER (PARTITION BY query_id
         |    ORDER BY ad ASC, neighbor_id ASC) AS rank FROM adc)
         |SELECT query_id, neighbor_id, rank FROM rk WHERE rank <= 5""".stripMargin)

  /** s10 oracle: truth and every approximate searcher nest VERBATIM (each
    * full WITH…SELECT as a parenthesized subquery), then one left join
    * against truth + per-method counts + the 1-row n_truth cross join —
    * the same shape as the engine's audit frame.
    */
  private def s10Sql: String = {
    val union = Seq("s2" -> "s2_lsh", "s5" -> "s5_ivf", "s6" -> "s6_ivf_trained",
      "s8" -> "s8_pq", "s9" -> "s9_ivfpq")
      .map { case (key, name) =>
        s"SELECT '$name' AS method, query_id, neighbor_id FROM (\n${annSqls(key)}\n) z"
      }.mkString("\n  UNION ALL\n")
    s"""WITH truth AS (SELECT query_id, neighbor_id FROM (
       |${annSqls("s1")}
       |) z),
       |am AS (
       |  $union),
       |tc AS (SELECT CAST(count(*) AS BIGINT) AS n_truth FROM truth),
       |g AS (
       |  SELECT method, CAST(count(*) AS BIGINT) AS n_returned,
       |    CAST(coalesce(sum(CASE WHEN t.query_id IS NOT NULL THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_hit
       |  FROM am a LEFT JOIN truth t
       |    ON a.query_id = t.query_id AND a.neighbor_id = t.neighbor_id
       |  GROUP BY method)
       |SELECT method, n_returned, n_hit, n_truth,
       |  CASE WHEN n_truth = 0 THEN CAST(1.0 AS DOUBLE)
       |       ELSE CAST(n_hit AS DOUBLE) / CAST(n_truth AS DOUBLE) END AS recall
       |FROM g CROSS JOIN tc""".stripMargin
  }

  /** Unrolled random-walk CTEs over a materialized edge frame — the shared
    * replay of [[graft.operators.GraphOps.randomWalks]] (walkLen 3, one
    * walk per node): `walks(walk_id, step, node)`. Used by the kg30 walk
    * dump and the kg31 skip-gram pairs, which therefore can never drift
    * from each other's hop semantics.
    */
  private def walkCtes(frame: String): String = {
    val hops = (1 to 3).map { i =>
      s"""s$i AS (
         |  SELECT walk_id, node FROM (
         |    SELECT f.walk_id, e.dst AS node,
         |      row_number() OVER (PARTITION BY f.walk_id ORDER BY
         |        CAST('0x' || substring(md5(f.walk_id || '_${i}_' || e.dst), 1, 15) AS BIGINT) ASC,
         |        e.dst ASC) AS rn
         |    FROM s${i - 1} f JOIN e ON e.src = f.node) t WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    val union = (0 to 3)
      .map(i => s"SELECT walk_id, $i AS step, node FROM s$i")
      .mkString("\nUNION ALL\n")
    s"""e AS (SELECT src, dst FROM read_parquet('$OF/$frame/*.parquet')),
       |n AS (SELECT DISTINCT src FROM e),
       |s0 AS (SELECT src || '#0' AS walk_id, src AS node FROM n),
       |$hops,
       |walks AS (
       |$union)""".stripMargin
  }

  /** w1/w2 oracle scaffold: rebuild the deterministic messy urls and replay
    * the canonicalizer's six rules as chained CTEs; the caller supplies the
    * final SELECT over `c7(doc_id, raw_url, canon_url)`.
    */
  /** d24 oracle: the d23 pair-count CTE ranks the merge list; each rank
    * folds into two constant columns (pattern "␟a␟b␟", replacement "␟ab␟",
    * chr(30) when the rank doesn't exist — it can never match); the
    * tokenizer is the unrolled rank-ordered two-pass `replace` chain over
    * each word's chr(31)-interspersed rendering — character-identical to
    * the engine's TextAnalysis.d24Frame column chain.
    */
  private def d24Sql: String = {
    val base = "chr(31) || regexp_replace(x, '(.)', '\\1' || chr(31), 'g')"
    val chain = (1 to 8).foldLeft(base) { (acc, r) =>
      s"replace(replace($acc, r.p$r, r.q$r), r.p$r, r.q$r)"
    }
    val ruleCols = (1 to 8).map { r =>
      s"coalesce(max(CASE WHEN rk = $r THEN chr(31) || pair[1:1] || chr(31) || pair[2:2] || chr(31) END), chr(30)) AS p$r,\n" +
        s"    coalesce(max(CASE WHEN rk = $r THEN chr(31) || pair || chr(31) END), chr(30)) AS q$r"
    }.mkString(",\n    ")
    s"""WITH t AS (
       |  SELECT doc_id,
       |    CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
       |         ELSE regexp_split_to_array(trim(text), '\\s+') END AS w
       |  FROM documents),
       |pr AS (
       |  SELECT unnest(list_transform(range(1, length(word)), i -> word[i:i+1])) AS pair
       |  FROM (SELECT unnest(w) AS word FROM t) z),
       |m AS (
       |  SELECT pair, rk FROM (
       |    SELECT pair, row_number() OVER (ORDER BY count(*) DESC, pair ASC) AS rk
       |    FROM pr GROUP BY pair) z WHERE rk <= 8),
       |rules AS (
       |  SELECT
       |    $ruleCols
       |  FROM m),
       |app AS (
       |  SELECT doc_id, w, list_transform(w, x -> $chain) AS a
       |  FROM t CROSS JOIN rules r),
       |agg AS (
       |  SELECT doc_id, CAST(len(w) AS BIGINT) AS n_words,
       |    CAST(coalesce(list_sum(list_transform(w, x -> length(x))), 0) AS BIGINT) AS n_chars,
       |    CAST(coalesce(list_sum(list_transform(a,
       |      s -> length(s) - length(replace(s, chr(31), '')) - 1)), 0) AS BIGINT) AS n_tokens
       |  FROM app)
       |SELECT doc_id, n_words, n_chars, n_tokens,
       |  CASE WHEN n_chars > 0 THEN CAST(n_tokens AS DOUBLE) / CAST(n_chars AS DOUBLE)
       |       ELSE 0.0 END AS compression
       |FROM agg""".stripMargin
  }

  private def urlCanonSql(finalSelect: String): String =
    s"""WITH raw AS (
       |  SELECT doc_id,
       |    (CASE WHEN doc_id % 2 = 0 THEN 'HTTPS' ELSE 'https' END) || '://' ||
       |    (CASE WHEN doc_id % 3 = 0 THEN 'WWW.' ELSE '' END) ||
       |    'Host' || CAST(doc_id % 13 AS VARCHAR) || '.Example.com' ||
       |    (CASE WHEN doc_id % 5 = 0 THEN ':443' ELSE '' END) ||
       |    '/' || source || '/doc/' || CAST(doc_id AS VARCHAR) ||
       |    (CASE WHEN doc_id % 4 = 0 THEN '?utm_source=feed&id=' || CAST(doc_id AS VARCHAR) || '&utm_campaign=x'
       |          WHEN doc_id % 4 = 1 THEN '?id=' || CAST(doc_id AS VARCHAR) || '&ref=' || lang
       |          WHEN doc_id % 4 = 2 THEN '?utm_medium=a'
       |          ELSE '?id=' || CAST(doc_id AS VARCHAR) END) ||
       |    (CASE WHEN doc_id % 7 = 0 THEN '#sec' || CAST(doc_id % 5 AS VARCHAR) ELSE '' END) AS raw_url
       |  FROM documents),
       |c1 AS (SELECT doc_id, raw_url,
       |  lower(regexp_extract(raw_url, '^([^/?#]*://[^/?#]*)', 1)) ||
       |  regexp_replace(raw_url, '^[^/?#]*://[^/?#]*', '') AS u FROM raw),
       |c2 AS (SELECT doc_id, raw_url,
       |  regexp_replace(regexp_replace(u, '^(https://[^/?#:]+):443([/?#].*)?$$', '\\1\\2'),
       |                 '^(http://[^/?#:]+):80([/?#].*)?$$', '\\1\\2') AS u FROM c1),
       |c3 AS (SELECT doc_id, raw_url, regexp_replace(u, '^(https?://)www\\.', '\\1') AS u FROM c2),
       |c4 AS (SELECT doc_id, raw_url, regexp_replace(u, '#.*$$', '') AS u FROM c3),
       |c5 AS (SELECT doc_id, raw_url,
       |  regexp_extract(u, '^([^?]*)', 1) AS base,
       |  CASE WHEN strpos(u, '?') > 0
       |       THEN regexp_replace(u, '^[^?]*\\?', '') ELSE '' END AS q FROM c4),
       |c6 AS (SELECT doc_id, raw_url, base, q,
       |  regexp_replace('&' || q, '&(utm_[a-z]+|ref)=[^&]*', '', 'g') AS qc FROM c5),
       |c7 AS (SELECT doc_id, raw_url,
       |  base || CASE WHEN q = '' THEN ''
       |               ELSE regexp_replace(qc, '^&', '?') END AS canon_url FROM c6)
       |$finalSelect""".stripMargin

  /** w5/w6 oracle scaffold: the canon chain + robots rule table + per-doc
    * longest-match ranking ending in `m(doc_id, host, path, rtype, rpath,
    * rn)` (rn = 1 is the winning rule); callers append the final SELECT.
    */
  private def robotsVerdictSql(finalSelect: String): String = urlCanonSql(
    s""",
       |d AS (
       |  SELECT doc_id,
       |    regexp_extract(canon_url, '^[a-z]+://([^/?#]+)', 1) AS host,
       |    regexp_extract(canon_url, '^[a-z]+://[^/?#]+([^?#]*)', 1) AS path
       |  FROM c7),
       |rules AS (
       |  SELECT 'host' || CAST(k AS VARCHAR) || '.example.com' AS rhost,
       |         'disallow' AS rtype, '/src' || CAST(k AS VARCHAR) AS rpath
       |  FROM range(13) t(k)
       |  UNION ALL
       |  SELECT 'host' || CAST(k AS VARCHAR) || '.example.com',
       |         'disallow', '/src' || CAST((k + 7) % 20 AS VARCHAR)
       |  FROM range(13) t(k)
       |  UNION ALL
       |  SELECT 'host' || CAST(k AS VARCHAR) || '.example.com',
       |         'allow', '/src' || CAST(k AS VARCHAR) || '/doc'
       |  FROM range(13) t(k) WHERE k % 3 = 0),
       |m AS (
       |  SELECT d.doc_id, d.host, d.path, r.rtype, r.rpath,
       |    row_number() OVER (PARTITION BY d.doc_id
       |      ORDER BY length(r.rpath) DESC, r.rtype ASC, r.rpath ASC) AS rn
       |  FROM d LEFT JOIN rules r
       |    ON d.host = r.rhost AND starts_with(d.path, r.rpath))
       |$finalSelect""".stripMargin)

  /** dd1/dd4/dd5 oracle scaffold: the shared MinHash-signature + LSH-banding
    * replay (md5-derived Kirsch–Mitzenmacher hashes, 16 hashes × 4 bands)
    * ending in `est(a, b, est_jaccard)`; callers append extra CTEs (must
    * start with ",") and the final SELECT. `recursive = true` for callers
    * whose extra CTEs are recursive (DuckDB requires the RECURSIVE keyword
    * on the WITH head).
    */
  private def minhashLshSql(extraCtes: String, finalSelect: String,
                            recursive: Boolean = false): String =
    s"""WITH ${if (recursive) "RECURSIVE " else ""}w AS (
       |  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS words
       |  FROM documents WHERE length(trim(text)) > 0),
       |sh AS (
       |  SELECT doc_id, list_distinct(list_transform(range(1, len(words) - 1),
       |    i -> array_to_string(words[i:i+2], ' '))) AS s
       |  FROM w WHERE len(words) >= 3),
       |hp AS (
       |  SELECT doc_id,
       |    CAST('0x' || substring(md5(g), 1, 15) AS BIGINT) AS h1,
       |    CAST('0x' || substring(md5(g), 16, 8) AS BIGINT) AS h2
       |  FROM (SELECT doc_id, unnest(s) AS g FROM sh)),
       |mh AS (
       |  SELECT doc_id, ii.i, min(h1 + ii.i * h2) AS h
       |  FROM hp CROSS JOIN range(16) ii(i)
       |  GROUP BY doc_id, ii.i),
       |bk AS (
       |  SELECT doc_id, i // 4 AS band, string_agg(h, ',' ORDER BY i) AS bkey
       |  FROM mh GROUP BY doc_id, band),
       |cand AS (
       |  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
       |  FROM bk x JOIN bk y ON x.band = y.band AND x.bkey = y.bkey
       |    AND x.doc_id < y.doc_id),
       |est AS (
       |  SELECT c.a, c.b,
       |    sum(CASE WHEN xa.h = xb.h THEN 1 ELSE 0 END) / 16.0 AS est_jaccard
       |  FROM cand c
       |  JOIN mh xa ON xa.doc_id = c.a
       |  JOIN mh xb ON xb.doc_id = c.b AND xb.i = xa.i
       |  GROUP BY c.a, c.b)$extraCtes
       |$finalSelect""".stripMargin

  /** kg15 oracle: PageRank's ten iterations UNROLLED as chained CTEs (a
    * recursive CTE cannot aggregate in its recursive term), replaying the
    * engine's exact integer arithmetic — `rank // od` contributions,
    * `(sum * 85) // 100` damping, two-step base division — from the
    * materialized edge frame. Exact BIGINT ops are order-independent, so
    * this hash-matches bit for bit; a float PageRank could not.
    */
  private def pagerankSql(iters: Int): String = {
    val steps = (1 to iters).map { i =>
      s"""r$i AS (
         |  SELECT n.id,
         |    bb.base + (coalesce(c.sc, 0) * 85) // 100 AS rank
         |  FROM nodes n CROSS JOIN bb
         |  LEFT JOIN (
         |    SELECT e.dst AS id, CAST(sum(r.rank // e.od) AS BIGINT) AS sc
         |    FROM e JOIN r${i - 1} r ON r.id = e.src
         |    GROUP BY e.dst) c ON c.id = n.id)""".stripMargin
    }.mkString(",\n")
    s"""WITH e0 AS (
       |  SELECT DISTINCT src, dst FROM read_parquet('$OF/kg15_edges/*.parquet')),
       |odeg AS (SELECT src, count(*) AS od FROM e0 GROUP BY src),
       |e AS (SELECT e0.src, e0.dst, odeg.od FROM e0 JOIN odeg USING (src)),
       |nodes AS (SELECT DISTINCT id FROM
       |  (SELECT src AS id FROM e0 UNION ALL SELECT dst FROM e0)),
       |nn AS (SELECT count(*) AS n FROM nodes),
       |bb AS (SELECT (1000000000000 * 15 // 100) // n AS base,
       |              1000000000000 // n AS init FROM nn),
       |r0 AS (SELECT id, bb.init AS rank FROM nodes CROSS JOIN bb),
       |$steps
       |SELECT id, rank FROM r$iters""".stripMargin
  }

  /** kg16 oracle: multi-source BFS with each hop UNROLLED as a frontier
    * CTE (new nodes = hop-h neighbors NOT EXISTS in the visited set) and a
    * visited CTE (union of frontiers) — the exact level-order semantics of
    * [[graft.operators.GraphOps.bfsDistances]]; first visit = min distance,
    * so no min-combine appears on either side. Seeds (top-3 degree, ties by
    * id) are recomputed from the edge frame, not trusted from the engine.
    */
  private def bfsSql(hops: Int): String = {
    val steps = (1 to hops).map { h =>
      s"""f$h AS (
         |  SELECT seed, id, $h AS dist FROM (
         |    SELECT DISTINCT f.seed, e.dst AS id
         |    FROM f${h - 1} f JOIN e ON e.src = f.id) n
         |  WHERE NOT EXISTS (
         |    SELECT 1 FROM d${h - 1} k WHERE k.seed = n.seed AND k.id = n.id)),
         |d$h AS (SELECT * FROM d${h - 1} UNION ALL SELECT * FROM f$h)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS (
       |  SELECT DISTINCT src, dst FROM read_parquet('$OF/kg16_edges/*.parquet')),
       |seeds AS (SELECT src AS id FROM (
       |  SELECT src, count(*) AS d FROM e GROUP BY src
       |  ORDER BY d DESC, src ASC LIMIT 3)),
       |d0 AS (SELECT id AS seed, id, 0 AS dist FROM seeds),
       |f0 AS (SELECT * FROM d0),
       |$steps
       |SELECT seed, id, dist FROM d$hops""".stripMargin
  }

  /** kg25 oracle: Bellman-Ford relaxation rounds unrolled as chained CTEs
    * over the materialized cost-edge frame — exact BIGINT min-plus, so the
    * replay hash-matches the engine bit for bit (the bfsSql discipline).
    */
  private def ssspSql(rounds: Int): String = {
    val steps = (1 to rounds).map { h =>
      s"""r$h AS (
         |  SELECT seed, id, min(dist) AS dist FROM (
         |    SELECT seed, id, dist FROM r${h - 1}
         |    UNION ALL
         |    SELECT d.seed, e.dst AS id, d.dist + e.cost AS dist
         |    FROM r${h - 1} d JOIN e ON e.src = d.id) u
         |  GROUP BY seed, id)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS (
       |  SELECT DISTINCT src, dst, cost FROM read_parquet('$OF/kg25_edges/*.parquet')),
       |seeds AS (SELECT src AS id FROM (
       |  SELECT src, count(*) AS d FROM (SELECT DISTINCT src, dst FROM e)
       |  GROUP BY src ORDER BY d DESC, src ASC LIMIT 3)),
       |r0 AS (SELECT id AS seed, id, CAST(0 AS BIGINT) AS dist FROM seeds),
       |$steps
       |SELECT seed, id, dist FROM r$rounds""".stripMargin
  }

  /** kg26 oracle: synchronous weighted label propagation with each vote
    * round UNROLLED as chained CTEs (votes → deterministic argmax →
    * relabel) over the materialized weighted edge frame. The argmax is a
    * row_number window over the total (votes desc, label asc) order —
    * semantically identical to the engine's bounded `min(struct(-sw,
    * label))` aggregate; integer vote sums make the replay hash-exact.
    */
  private def lpaSql(rounds: Int): String = {
    val steps = (1 to rounds).map { h =>
      s"""v$h AS (
         |  SELECT e.dst AS id, l.label, CAST(sum(e.w) AS BIGINT) AS sw
         |  FROM e JOIN l${h - 1} l ON l.id = e.src GROUP BY e.dst, l.label),
         |w$h AS (
         |  SELECT id, label FROM (
         |    SELECT id, label,
         |      row_number() OVER (PARTITION BY id ORDER BY sw DESC, label ASC) AS rn
         |    FROM v$h) WHERE rn = 1),
         |l$h AS (
         |  SELECT p.id, coalesce(w.label, p.label) AS label
         |  FROM l${h - 1} p LEFT JOIN w$h w USING (id))""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS (
       |  SELECT DISTINCT src, dst, cost AS w FROM read_parquet('$OF/kg26_edges/*.parquet')),
       |nodes AS (SELECT DISTINCT src AS id FROM e),
       |l0 AS (SELECT id, id AS label FROM nodes),
       |$steps
       |SELECT id, label AS community FROM l$rounds""".stripMargin
  }

  /** kg27 oracle: k-core peeling with each synchronous peel round UNROLLED
    * as chained CTEs (degree among survivors → keep deg ≥ k) over the
    * materialized edge frame, plus a final within-core degree — integer
    * survivor sets, hash-exact replay of
    * [[graft.operators.GraphOps.kcoreBounded]] (whose early stop fires only
    * when a round changes nothing, which cannot diverge from the fixed
    * unroll).
    */
  private def kcoreSql(k: Int, rounds: Int): String = {
    val steps = (1 to rounds).map { h =>
      s"""d$h AS (
         |  SELECT e.src AS id, count(*) AS deg FROM e
         |  JOIN n${h - 1} a ON a.id = e.src
         |  JOIN n${h - 1} b ON b.id = e.dst
         |  GROUP BY e.src),
         |n$h AS (SELECT id FROM d$h WHERE deg >= $k)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS (
       |  SELECT DISTINCT src, dst FROM read_parquet('$OF/kg27_edges/*.parquet')),
       |n0 AS (SELECT DISTINCT src AS id FROM e),
       |$steps,
       |dfin AS (
       |  SELECT e.src AS id, count(*) AS deg FROM e
       |  JOIN n$rounds a ON a.id = e.src
       |  JOIN n$rounds b ON b.id = e.dst
       |  GROUP BY e.src)
       |SELECT n.id, CAST(coalesce(d.deg, 0) AS BIGINT) AS deg
       |FROM n$rounds n LEFT JOIN dfin d USING (id)""".stripMargin
  }

  /** Shared retrieval CTE for the em* oracles — mirrors Eval.retrieve:
    * queries = lowest vec_id per label; rank by (cos desc, neighbor_id asc).
    */
  private def retrievalCte(extraCond: String = ""): String =
    s"""WITH nn AS (
       |  SELECT vec_id, label, embedding,
       |    sqrt(${sqlDot("embedding", "embedding")}) AS nrm
       |  FROM embeddings),
       |q AS (
       |  SELECT vec_id AS query_id, label AS query_label, embedding AS qvec, nrm AS qn
       |  FROM (SELECT *, row_number() OVER (PARTITION BY label ORDER BY vec_id) AS rn FROM nn) t
       |  WHERE rn = 1),
       |sc AS (
       |  SELECT q.query_id, q.query_label, e.vec_id AS neighbor_id, e.label AS neighbor_label,
       |    CASE WHEN q.qn * e.nrm = 0 THEN 0.0
       |         ELSE ${sqlDot("q.qvec", "e.embedding")} / (q.qn * e.nrm) END AS cos
       |  FROM nn e JOIN q ON e.vec_id != q.query_id $extraCond),
       |r AS (
       |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rank,
       |    CASE WHEN neighbor_label = query_label THEN 1 ELSE 0 END AS relevant
       |  FROM sc)""".stripMargin

  /** Zero-sign note: every oracle that rounds a possibly-tiny-negative
    * double (cosines, jaccards, log-odds) adds `+ 0` after the round.
    * DuckDB's `round(-1e-9, 6)` preserves IEEE signed zero (`-0.0`) while
    * Spark's round goes through BigDecimal (no signed zero → `+0.0`); the
    * values compare equal under `==` but differ at the byte level the
    * driver hashes (this was kg3's one red row in round 3). `-0.0 + 0`
    * is `+0.0` by IEEE 754, so the guard normalizes without changing any
    * non-zero value. ZeroSignSpec pins the engine side of the contract.
    */
  def oracleSql: Map[String, String] = Map(
    "q1_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |  sum(l_quantity) AS sum_qty,
        |  round(sum(l_extendedprice), 2) AS sum_base_price,
        |  round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS sum_disc_price,
        |  count(*) AS count_order
        |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin,
    "q2_revenue_by_nation" ->
      """SELECT n_name,
        |  round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue,
        |  count(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name""".stripMargin,
    "q3_top_orders" ->
      """SELECT orderkey, orderstatus, revenue FROM (
        |  SELECT l_orderkey AS orderkey, o_orderstatus AS orderstatus,
        |    round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  GROUP BY l_orderkey, o_orderstatus)
        |ORDER BY revenue DESC, orderkey ASC LIMIT 10""".stripMargin,
    "q4_semi_join" ->
      """SELECT c_mktsegment, count(*) AS n_customers
        |FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |GROUP BY c_mktsegment""".stripMargin,
    "q5_anti_join" ->
      """SELECT c_mktsegment, count(*) AS n_customers,
        |  round(sum(c_acctbal), 2) AS total_acctbal
        |FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |GROUP BY c_mktsegment""".stripMargin,
    "q6_forecast_revenue" ->
      """SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue,
        |  count(*) AS n_items
        |FROM lineitem
        |WHERE l_quantity < 24 AND l_discount >= 0.05 AND l_discount <= 0.07""".stripMargin,
    "q7_window_topk" ->
      """SELECT suppkey, orderkey, linenumber, price, rnk FROM (
        |  SELECT l_suppkey AS suppkey, l_orderkey AS orderkey,
        |    l_linenumber AS linenumber, round(l_extendedprice, 2) AS price,
        |    row_number() OVER (PARTITION BY l_suppkey
        |      ORDER BY l_extendedprice DESC, l_orderkey ASC, l_linenumber ASC) AS rnk
        |  FROM lineitem)
        |WHERE rnk <= 3""".stripMargin,
    "q8_running_total" ->
      """SELECT o_custkey AS custkey, o_orderkey AS orderkey,
        |  round(sum(o_totalprice) OVER (PARTITION BY o_custkey
        |    ORDER BY o_orderdate ASC, o_orderkey ASC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_total
        |FROM orders""".stripMargin,
    "q9_events_hourly" ->
      """SELECT date_trunc('hour', ts) AS hour, event_type,
        |  count(*) AS n_events, round(sum(value), 2) AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin,
    "q10_daily_users" ->
      """SELECT date_trunc('day', ts) AS day,
        |  count(DISTINCT user_id) AS n_users, count(*) AS n_events
        |FROM events GROUP BY 1""".stripMargin,
    "q11_part_stats" ->
      """SELECT p_brand, count(*) AS n_parts,
        |  min(p_retailprice) AS min_price, max(p_retailprice) AS max_price,
        |  min(p_size) AS min_size, max(p_size) AS max_size
        |FROM part GROUP BY p_brand""".stripMargin,
    "q12_items_per_order" ->
      """SELECT o_orderstatus, CAST(sum(n_items) AS BIGINT) AS total_items, count(*) AS n_orders
        |FROM orders JOIN (
        |  SELECT l_orderkey, count(*) AS n_items FROM lineitem GROUP BY l_orderkey
        |) ON o_orderkey = l_orderkey
        |GROUP BY o_orderstatus""".stripMargin,
    "q13_rollup" ->
      """SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty, count(*) AS n_rows
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin,
    "q14_lag" ->
      """SELECT o_custkey AS custkey, o_orderkey AS orderkey,
        |  round(o_totalprice - coalesce(lag(o_totalprice, 1) OVER (
        |    PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC), 0.0), 2) AS delta
        |FROM orders""".stripMargin,
    "q15_ntile" ->
      """SELECT c_mktsegment, quartile, count(*) AS n,
        |  min(c_acctbal) AS min_bal, max(c_acctbal) AS max_bal
        |FROM (SELECT c_mktsegment, c_acctbal,
        |  ntile(4) OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal ASC, c_custkey ASC) AS quartile
        |  FROM customer)
        |GROUP BY c_mktsegment, quartile""".stripMargin,
    "q16_conditional_agg" ->
      """SELECT o_orderpriority,
        |  CAST(sum(CASE WHEN o_totalprice > 100000 THEN 1 ELSE 0 END) AS BIGINT) AS n_big,
        |  CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_finished,
        |  count(*) AS n
        |FROM orders GROUP BY o_orderpriority""".stripMargin,
    "q17_string_funcs" ->
      """SELECT upper(substring(p_type, 1, 5)) AS type_prefix, count(*) AS n,
        |  max(length(p_name)) AS max_name_len,
        |  min(concat(p_brand, '#', p_type)) AS min_brand_type
        |FROM part GROUP BY 1""".stripMargin,
    "q18_setops" ->
      """SELECT
        |  (SELECT count(*) FROM (
        |     SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
        |     INTERSECT
        |     SELECT o_custkey FROM orders WHERE o_orderstatus = 'O')) AS n_both,
        |  (SELECT count(*) FROM (
        |     SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
        |     EXCEPT
        |     SELECT o_custkey FROM orders WHERE o_orderstatus = 'O')) AS n_only_f""".stripMargin,
    "q19_argmax_per_brand" ->
      """SELECT p_brand, p_partkey AS top_partkey, p_retailprice AS top_price
        |FROM (SELECT p_brand, p_partkey, p_retailprice,
        |  row_number() OVER (PARTITION BY p_brand
        |    ORDER BY p_retailprice DESC, p_partkey ASC) AS rn FROM part)
        |WHERE rn = 1""".stripMargin,
    // q20: DuckDB's NATIVE asof join is the oracle — an independent
    // implementation of the same latest-at-or-before contract, not a replay
    // of the engine's union+window plan
    "q20_asof_join" ->
      """WITH r AS (
        |  SELECT o_custkey, o_orderdate, max(o_orderkey) AS o_orderkey,
        |         arg_max(o_totalprice, o_orderkey) AS o_totalprice
        |  FROM orders GROUP BY 1, 2)
        |SELECT e.event_id, e.ts, e.user_id, e.event_type,
        |       r.o_orderkey, r.o_orderdate, r.o_totalprice
        |FROM events e ASOF LEFT JOIN r
        |  ON e.user_id = r.o_custkey AND e.ts >= r.o_orderdate""".stripMargin,
    // q21: the oracle is the plain BETWEEN theta join — independent
    // semantics, not a replay of the engine's bucket rendezvous
    "q21_range_join" ->
      """SELECT p.event_id AS purchase_id, count(*) AS n_prior_events
        |FROM events p JOIN events e
        |  ON p.event_type = 'purchase' AND e.event_type <> 'purchase'
        | AND e.user_id = p.user_id
        | AND e.ts >= p.ts - INTERVAL 24 HOUR AND e.ts < p.ts
        |GROUP BY 1""".stripMargin,
    "d1_doc_stats" ->
      """SELECT lang, source, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars,
        |  min(length(text)) AS min_len, max(length(text)) AS max_len
        |FROM documents GROUP BY lang, source""".stripMargin,
    "d2_exact_dedup_stats" ->
      """SELECT lang, count(*) AS n_docs, count(DISTINCT text) AS n_unique
        |FROM documents GROUP BY lang""".stripMargin,
    "d3_dup_groups" ->
      """SELECT md5(text) AS fp, count(*) AS n_copies, min(doc_id) AS rep_doc_id
        |FROM documents GROUP BY text HAVING count(*) > 1""".stripMargin,
    "d4_token_counts" ->
      """SELECT lang,
        |  CAST(sum(n_tokens) AS BIGINT) AS total_tokens, max(n_tokens) AS max_tokens,
        |  count(*) AS n_docs
        |FROM (SELECT lang,
        |  CASE WHEN length(trim(text)) = 0 THEN 0
        |       ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tokens
        |  FROM documents)
        |GROUP BY lang""".stripMargin,
    "d5_quality_signals" ->
      """SELECT doc_id, length(text) AS n_char,
        |  CASE WHEN length(trim(text)) = 0 THEN 0
        |       ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tokens,
        |  length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS n_punct,
        |  length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS n_digit
        |FROM documents""".stripMargin,
    "d6_stratified_sample" ->
      """SELECT doc_id, lang FROM documents
        |WHERE CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)
        |      / 4294967296.0
        |    < CASE WHEN lang = 'en' THEN 0.5 WHEN lang = 'de' THEN 0.25 ELSE 0.1 END""".stripMargin,
    "d7_pii_scrub" ->
      """SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INTEGER) AS n_emails,
        |  CAST(len(regexp_extract_all(text, '\+?[0-9]{3}[- ][0-9]{3,4}[- ][0-9]{4}')) AS INTEGER) AS n_phones,
        |  regexp_replace(regexp_replace(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\+?[0-9]{3}[- ][0-9]{3,4}[- ][0-9]{4}', '<PHONE>', 'g') AS text_scrubbed
        |FROM documents""".stripMargin,
    // d8: DuckDB recomputes the 60-bit md5-prefix hashes, the k smallest
    // per group (relationally — the ORDER-INDEPENDENT definition the
    // Aggregator implements incrementally), and the same two-division
    // estimate; n_distinct doubles as the accuracy reference
    "d8_kmv_distinct" ->
      """WITH h AS (
        |  SELECT DISTINCT lang,
        |    CAST('0x' || substring(md5(text), 1, 15) AS BIGINT) AS h
        |  FROM documents WHERE text IS NOT NULL),
        |r AS (SELECT lang, h,
        |  row_number() OVER (PARTITION BY lang ORDER BY h) AS rn FROM h),
        |a AS (SELECT lang, count(*) AS n_distinct,
        |  max(CASE WHEN rn = 64 THEN h END) AS hk FROM r GROUP BY lang)
        |SELECT lang, n_distinct,
        |  CASE WHEN hk IS NULL THEN CAST(n_distinct AS DOUBLE)
        |       ELSE 63.0 / (CAST(hk AS DOUBLE) / 1152921504606846976.0)
        |  END AS est_kmv
        |FROM a""".stripMargin,
    // d25: HLL replay — same 60-bit md5 hash, bucket = low 6 bits, ρ via
    // the STRING bitlen length(bin(w)) (exact in both engines), registers
    // as max(ρ), indicator sum exact in BIGINT (Σ 1<<(55−reg) + empties),
    // then the identical α·m²·2^55/S chain and ln-linear-counting branch
    "d25_hll_distinct" ->
      """WITH toks AS (
        |  SELECT lang, unnest(string_split_regex(trim(text), '\s+')) AS t
        |  FROM documents WHERE length(trim(text)) > 0),
        |tok AS (SELECT lang, t FROM toks WHERE length(t) > 0),
        |h AS (
        |  SELECT lang, t, CAST('0x' || substring(md5(t), 1, 15) AS BIGINT) AS h
        |  FROM tok),
        |br AS (
        |  SELECT lang, h % 64 AS bucket,
        |    CASE WHEN h // 64 = 0 THEN 55
        |         ELSE 55 - length(bin(h // 64)) END AS rho
        |  FROM h),
        |regs AS (SELECT lang, bucket, max(rho) AS reg FROM br GROUP BY 1, 2),
        |agg AS (
        |  SELECT lang,
        |    CAST(sum(1::BIGINT << (55 - reg)) AS BIGINT) AS s_present,
        |    count(*) AS nb
        |  FROM regs GROUP BY lang),
        |ex AS (SELECT lang, CAST(count(DISTINCT t) AS BIGINT) AS n_exact
        |       FROM tok GROUP BY lang),
        |est AS (
        |  SELECT a.lang, e.n_exact,
        |    CAST(a.s_present + (64 - a.nb) * (1::BIGINT << 55) AS DOUBLE) AS s,
        |    64 - a.nb AS v
        |  FROM agg a JOIN ex e ON a.lang = e.lang),
        |fin AS (
        |  SELECT lang, n_exact,
        |    CASE WHEN (0.7213 / (1.0 + 1.079 / 64.0)) * 4096.0 * 36028797018963968.0 / s <= 160.0
        |              AND v > 0
        |         THEN 64.0 * ln(64.0 / CAST(v AS DOUBLE))
        |         ELSE (0.7213 / (1.0 + 1.079 / 64.0)) * 4096.0 * 36028797018963968.0 / s
        |    END AS e
        |  FROM est)
        |SELECT lang, n_exact, round(e, 6) + 0 AS est_hll,
        |  round((e - CAST(n_exact AS DOUBLE)) / CAST(n_exact AS DOUBLE), 6) + 0 AS rel_err
        |FROM fin""".stripMargin,
    // d9: DuckDB rebuilds the counter matrix (same md5 buckets, sums) and
    // takes the same min-over-rows estimates for the same top-20 probes
    "d9_cms_heavy" ->
      """WITH toks AS (
        |  SELECT unnest(string_split_regex(trim(text), '\s+')) AS t
        |  FROM documents WHERE length(trim(text)) > 0),
        |tok AS (SELECT t FROM toks WHERE length(t) > 0),
        |exact AS (SELECT t, count(*) AS n_exact FROM tok GROUP BY t),
        |probes AS (SELECT t, n_exact FROM exact ORDER BY n_exact DESC, t LIMIT 20),
        |rws AS (SELECT unnest(range(0, 4)) AS r),
        |cnt AS (
        |  SELECT r.r AS r,
        |    CAST('0x' || substring(md5(CAST(r.r AS VARCHAR) || '_' || tok.t), 1, 8)
        |      AS BIGINT) % 1024 AS b,
        |    count(*) AS cnt
        |  FROM tok CROSS JOIN rws r GROUP BY 1, 2)
        |SELECT p.t, p.n_exact, min(coalesce(c.cnt, 0)) AS est_cms
        |FROM probes p CROSS JOIN rws r
        |LEFT JOIN cnt c ON c.r = r.r
        |  AND c.b = CAST('0x' || substring(md5(CAST(r.r AS VARCHAR) || '_' || p.t), 1, 8)
        |    AS BIGINT) % 1024
        |GROUP BY 1, 2""".stripMargin,
    // d10: the oracle redraws the SAME deterministic sample relationally
    // (row_number over (h, doc_id) <= k) and replays the pure-integer
    // order-statistic indices on both the sample and the full data
    "d10_quantile_sample" ->
      """WITH h AS (
        |  SELECT lang, doc_id, n_chars,
        |    CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) AS h
        |  FROM documents WHERE doc_id IS NOT NULL AND n_chars IS NOT NULL),
        |s AS (SELECT lang, n_chars,
        |  row_number() OVER (PARTITION BY lang ORDER BY h, doc_id) AS rn FROM h),
        |sa AS (SELECT lang, count(*) AS m, list_sort(list(n_chars)) AS sv
        |       FROM s WHERE rn <= 64 GROUP BY lang),
        |est AS (SELECT lang, m,
        |  sv[CAST((m - 1) // 2 AS INT) + 1] AS est_p50,
        |  sv[CAST(((m - 1) * 9) // 10 AS INT) + 1] AS est_p90 FROM sa),
        |e AS (SELECT lang, n_chars,
        |  row_number() OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS rn,
        |  count(*) OVER (PARTITION BY lang) AS n FROM h),
        |ex AS (SELECT lang, max(n) AS n_docs,
        |  max(CASE WHEN rn = (n - 1) // 2 + 1 THEN n_chars END) AS exact_p50,
        |  max(CASE WHEN rn = ((n - 1) * 9) // 10 + 1 THEN n_chars END) AS exact_p90
        |  FROM e GROUP BY lang)
        |SELECT ex.lang, n_docs, m, est_p50, est_p90, exact_p50, exact_p90
        |FROM ex JOIN est USING (lang)""".stripMargin,
    // d11: the oracle rebuilds words/2-grams/3-grams with DuckDB list
    // lambdas and recomputes the max-2-gram multiplicity relationally
    // (unnest + group-by + max) — an independent check of the engine's
    // sorted-run `aggregate` form. All fractions divide exact integers, so
    // the doubles (and the threshold booleans) are bit-identical.
    "d11_repetition" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
        |         ELSE regexp_split_to_array(trim(text), '\s+') END AS w
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, w,
        |    list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1]) AS g2,
        |    list_transform(range(1, len(w) - 1), i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]) AS g3
        |  FROM t),
        |m2 AS (
        |  SELECT doc_id, max(c) AS best2
        |  FROM (SELECT doc_id, gram, count(*) AS c
        |        FROM (SELECT doc_id, unnest(g2) AS gram FROM g)
        |        GROUP BY doc_id, gram)
        |  GROUP BY doc_id),
        |sig AS (
        |  SELECT g.doc_id,
        |    CAST(len(w) AS INTEGER) AS n_words,
        |    CASE WHEN len(w) = 0 THEN 0.0
        |         ELSE CAST(len(w) - len(list_distinct(w)) AS DOUBLE) / CAST(len(w) AS DOUBLE) END AS dup_word_frac,
        |    CASE WHEN len(g2) = 0 THEN 0.0
        |         ELSE CAST(coalesce(m2.best2, 0) AS DOUBLE) / CAST(len(g2) AS DOUBLE) END AS top_2gram_frac,
        |    CASE WHEN len(g3) = 0 THEN 0.0
        |         ELSE CAST(len(g3) - len(list_distinct(g3)) AS DOUBLE) / CAST(len(g3) AS DOUBLE) END AS dup_3gram_frac
        |  FROM g LEFT JOIN m2 ON g.doc_id = m2.doc_id)
        |SELECT doc_id, n_words, dup_word_frac, top_2gram_frac, dup_3gram_frac,
        |  (dup_word_frac > 0.3 OR top_2gram_frac > 0.18 OR dup_3gram_frac > 0.6) AS repetitive
        |FROM sig""".stripMargin,
    // d12: same 3-gram construction, eval slice = doc_id % 97 = 3; the
    // oracle joins grams relationally (the engine broadcasts the eval set)
    "d12_decontaminate" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
        |         ELSE regexp_split_to_array(trim(text), '\s+') END AS w
        |  FROM documents),
        |g AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(range(1, len(w) - 1), i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS grams
        |  FROM t),
        |x AS (SELECT doc_id, CAST(len(grams) AS INTEGER) AS n_grams, unnest(grams) AS gram FROM g),
        |ev AS (SELECT DISTINCT gram FROM x WHERE doc_id % 97 = 3)
        |SELECT doc_id, n_grams, count(*) AS n_shared,
        |  CAST(count(*) AS DOUBLE) / CAST(n_grams AS DOUBLE) AS contaminated_frac
        |FROM x JOIN ev USING (gram)
        |WHERE doc_id % 97 <> 3
        |GROUP BY doc_id, n_grams""".stripMargin,
    // d13: the oracle replays the budget cut as the per-stratum running-
    // total window over the 60-bit md5 order (the engine computes the SAME
    // cumulative sums with a distributed two-pass prefix sum — the window
    // form would execute one partition per stratum at scale); strict-prefix
    // semantics: the budget-crossing doc and everything after it drop
    "d13_token_budget" ->
      """WITH b AS (
        |  SELECT doc_id, lang,
        |    CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) AS h,
        |    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
        |         ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS BIGINT) AS n_tokens
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, lang, n_tokens,
        |    CAST(sum(n_tokens) OVER (PARTITION BY lang ORDER BY h, doc_id) AS BIGINT) AS cum_tokens
        |  FROM b)
        |SELECT doc_id, lang, n_tokens, cum_tokens FROM c
        |WHERE cum_tokens <= CASE WHEN lang = 'en' THEN 3000
        |                         WHEN lang = 'de' THEN 1500 ELSE 800 END""".stripMargin,
    // d14: the oracle counts words relationally and selects per-language
    // winners with the row_number window that is safe at ORACLE scale
    // (the engine's bounded top-K aggregate avoids it); ties break
    // (c DESC, word ASC) on both engines
    "d14_top_vocab" ->
      """WITH w AS (
        |  SELECT lang, unnest(regexp_split_to_array(trim(text), '\s+')) AS word
        |  FROM documents WHERE length(trim(text)) > 0),
        |c AS (SELECT lang, word, count(*) AS c FROM w GROUP BY 1, 2),
        |r AS (
        |  SELECT lang, word, c,
        |    row_number() OVER (PARTITION BY lang ORDER BY c DESC, word ASC) AS rank
        |  FROM c)
        |SELECT lang, word, c AS n_occurrences, CAST(rank AS BIGINT) AS rank
        |FROM r WHERE rank <= 20""".stripMargin,
    // d15: tf/df/N are integers and the rank order is all-integer, so the
    // only float is the displayed salience tf*(N+1)/(df+1) — IEEE
    // multiply/divide, bit-identical across engines, no rounding needed
    "d15_keywords" ->
      """WITH w AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS word
        |  FROM documents WHERE length(trim(text)) > 0),
        |tf AS (SELECT doc_id, word, count(*) AS tf FROM w GROUP BY 1, 2),
        |dfq AS (SELECT word, count(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT count(*) AS n_docs FROM documents),
        |r AS (
        |  SELECT tf.doc_id, tf.word, tf.tf, dfq.df,
        |    (tf.tf * (n.n_docs + CAST(1.0 AS DOUBLE))) /
        |      (dfq.df + CAST(1.0 AS DOUBLE)) AS salience,
        |    row_number() OVER (PARTITION BY tf.doc_id
        |      ORDER BY tf.tf DESC, dfq.df ASC, tf.word ASC) AS rank
        |  FROM tf JOIN dfq USING (word) CROSS JOIN n)
        |SELECT doc_id, word, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
        |  CAST(salience AS DOUBLE) AS salience, CAST(rank AS BIGINT) AS rank
        |FROM r WHERE rank <= 5""".stripMargin,
    // d16: the oracle trains the same in-corpus bigram LM (the d11 gram
    // recipe) and replays score = ln(T) - avg(ln c); score rounds to 6dp
    // with the zero-sign guard, and the keep verdict compares the SAME
    // rounded value (raw double sums differ across engines in low bits)
    "d16_perplexity_filter" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
        |         ELSE regexp_split_to_array(trim(text), '\s+') END AS w
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, unnest(list_transform(range(1, len(w)),
        |    i -> w[i] || ' ' || w[i+1])) AS g
        |  FROM t),
        |cnt AS (SELECT g, count(*) AS c FROM g GROUP BY 1),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS t FROM g),
        |s AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
        |    ln(tot.t) - sum(ln(cnt.c)) / count(*) AS sc
        |  FROM g JOIN cnt USING (g) CROSS JOIN tot
        |  GROUP BY doc_id, tot.t)
        |SELECT d.doc_id, coalesce(s.n_grams, 0) AS n_grams,
        |  round(s.sc, 6) + 0 AS score,
        |  coalesce(round(s.sc, 6) + 0 <= 8.0, false) AS keep
        |FROM documents d LEFT JOIN s USING (doc_id)""".stripMargin,
    // d17: the oracle replays the packing prefix sum with a global window
    // (fine at oracle scale; the engine uses the distributed two-pass
    // form) — all-BIGINT arithmetic, bit-identical by construction
    "d17_sequence_packing" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
        |         ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS BIGINT) AS n_tokens
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, n_tokens,
        |    coalesce(sum(n_tokens) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start_off
        |  FROM t)
        |SELECT doc_id, n_tokens, CAST(start_off AS BIGINT) AS start_off,
        |  CAST(CASE WHEN n_tokens > 0 THEN start_off // 512 END AS BIGINT) AS first_window,
        |  CAST(CASE WHEN n_tokens > 0 THEN (start_off + n_tokens - 1) // 512 END AS BIGINT) AS last_window,
        |  CAST(CASE WHEN n_tokens > 0
        |    THEN (start_off + n_tokens - 1) // 512 - start_off // 512 + 1
        |    ELSE 0 END AS BIGINT) AS n_windows
        |FROM s""".stripMargin,
    // d18: duplicated-span replay — same trigram recipe as d12, positions
    // hashed with the dd1/dd2 60-bit md5 recipe, distinct-doc df, join back
    "d18_dup_spans" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
        |         ELSE regexp_split_to_array(trim(text), '\s+') END AS w
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, unnest(list_transform(range(1, len(w) - 1),
        |    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS g
        |  FROM t),
        |p AS (
        |  SELECT doc_id,
        |    CAST('0x' || substring(md5(g), 1, 15) AS BIGINT) AS gh
        |  FROM g),
        |d AS (
        |  SELECT gh, CAST(count(*) AS BIGINT) AS df_docs
        |  FROM (SELECT DISTINCT doc_id, gh FROM p)
        |  GROUP BY gh HAVING count(*) >= 2),
        |s AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
        |    CAST(sum(CASE WHEN df_docs IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
        |    CAST(max(coalesce(df_docs, 0)) AS BIGINT) AS max_df
        |  FROM p LEFT JOIN d USING (gh) GROUP BY doc_id)
        |SELECT dd.doc_id,
        |  coalesce(n_grams, 0) AS n_grams,
        |  coalesce(n_dup, 0) AS n_dup,
        |  CASE WHEN coalesce(n_grams, 0) = 0 THEN 0.0
        |       ELSE CAST(n_dup AS DOUBLE) / CAST(n_grams AS DOUBLE) END AS dup_frac,
        |  coalesce(max_df, 0) AS max_df,
        |  coalesce(CAST(n_dup AS DOUBLE) / CAST(n_grams AS DOUBLE) >= 0.5, false) AS flagged
        |FROM documents dd LEFT JOIN s USING (doc_id)""".stripMargin,
    // d19: DSIR replay — hashed-unigram buckets, add-one-smoothed target/raw
    // models, mean per-token log ratio; rounded-verdict contract as d16
    "d19_dsir_weights" ->
      """WITH t AS (
        |  SELECT doc_id, lang, lang = 'en' AS tgt,
        |    CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
        |         ELSE regexp_split_to_array(trim(text), '\s+') END AS w
        |  FROM documents),
        |k0 AS (SELECT doc_id, tgt, unnest(w) AS word FROM t),
        |k AS (
        |  SELECT doc_id, tgt,
        |    CAST('0x' || substring(md5(word), 1, 15) AS BIGINT) % 256 AS b
        |  FROM k0),
        |m AS (
        |  SELECT b, CAST(count(*) AS BIGINT) AS raw_c,
        |    CAST(sum(CASE WHEN tgt THEN 1 ELSE 0 END) AS BIGINT) AS tgt_c
        |  FROM k GROUP BY b),
        |tot AS (
        |  SELECT CAST(sum(raw_c) AS BIGINT) AS raw_t,
        |    CAST(sum(tgt_c) AS BIGINT) AS tgt_t FROM m),
        |dim AS (
        |  SELECT b,
        |    ln(CAST(tgt_c + 1 AS DOUBLE) / CAST(tgt_t + 256 AS DOUBLE))
        |      - ln(CAST(raw_c + 1 AS DOUBLE) / CAST(raw_t + 256 AS DOUBLE)) AS lr
        |  FROM m CROSS JOIN tot),
        |s AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
        |    sum(lr) / count(*) AS sc
        |  FROM k JOIN dim USING (b) GROUP BY doc_id)
        |SELECT d.doc_id, d.lang,
        |  coalesce(n_words, 0) AS n_words,
        |  round(s.sc, 6) + 0 AS dsir_weight,
        |  coalesce(round(s.sc, 6) + 0 > 0.0, false) AS selected
        |FROM documents d LEFT JOIN s USING (doc_id)""".stripMargin,
    // d20: winnowing replay — same trigram + 60-bit hash recipe, window
    // argmin with the first-position tie-break (list_position = first
    // index), boundary rule: short docs get one window over all grams
    "d20_winnow_fingerprints" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
        |         ELSE regexp_split_to_array(trim(text), '\s+') END AS w
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, list_transform(range(1, len(w) - 1),
        |    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]) AS grams
        |  FROM t),
        |h AS (
        |  SELECT doc_id, list_transform(grams,
        |    g -> CAST('0x' || substring(md5(g), 1, 15) AS BIGINT)) AS hs
        |  FROM g WHERE len(grams) > 0),
        |s AS (
        |  SELECT doc_id, hs,
        |    list_distinct(list_transform(range(1, greatest(len(hs) - 3, 1) + 1),
        |      i -> i - 1 + list_position(list_slice(hs, i, i + 3),
        |                                 list_min(list_slice(hs, i, i + 3))))) AS sel
        |  FROM h),
        |x AS (SELECT doc_id, hs, unnest(sel) AS pos FROM s)
        |SELECT doc_id, CAST(pos AS BIGINT) AS pos, hs[pos] AS fp FROM x""".stripMargin,
    // d21: span-removal replay — d18's hashed-gram df dictionary, covered
    // positions via list expansion, word surgery with an indexed
    // list_filter (1-based j, matching the engine's i0+1)
    "d21_dup_span_removal" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
        |         ELSE regexp_split_to_array(trim(text), '\s+') END AS w
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, w, list_transform(range(1, len(w) - 1),
        |    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]) AS grams
        |  FROM t),
        |h AS (
        |  SELECT doc_id, list_transform(grams,
        |    g -> CAST('0x' || substring(md5(g), 1, 15) AS BIGINT)) AS hs
        |  FROM g),
        |p AS (SELECT doc_id, unnest(hs) AS gh,
        |        unnest(range(1, len(hs) + 1)) AS i FROM h),
        |d AS (
        |  SELECT gh FROM (SELECT DISTINCT doc_id, gh FROM p)
        |  GROUP BY gh HAVING count(*) >= 2),
        |st AS (
        |  SELECT doc_id,
        |    list_distinct(flatten(list_transform(list(i),
        |      s -> [s, s + 1, s + 2]))) AS covered
        |  FROM p JOIN d USING (gh) GROUP BY doc_id),
        |q AS (
        |  SELECT g.doc_id, w,
        |    list_filter(w, (x, j) ->
        |      NOT list_contains(coalesce(covered, []::BIGINT[]), j)) AS kept
        |  FROM g LEFT JOIN st USING (doc_id))
        |SELECT doc_id,
        |  CAST(len(w) AS BIGINT) AS n_words,
        |  CAST(len(w) - len(kept) AS BIGINT) AS n_removed,
        |  coalesce(array_to_string(kept, ' '), '') AS cleaned_text
        |FROM q""".stripMargin,
    // d22: bloom replay — identical md5-nibble positions on both engines,
    // so even the filter's false positives match; membership = all three
    // positions present in the eval-side distinct-position set (exactly
    // the bitset's semantics, without materializing words)
    "d22_bloom_decontaminate" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
        |         ELSE regexp_split_to_array(trim(text), '\s+') END AS w
        |  FROM documents),
        |g AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(range(1, len(w) - 1), i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS grams
        |  FROM t),
        |x AS (SELECT doc_id, CAST(len(grams) AS INTEGER) AS n_grams, unnest(grams) AS gram FROM g),
        |p AS (
        |  SELECT doc_id, n_grams,
        |    CAST('0x' || substring(md5(gram), 1, 4) AS INTEGER) % 65536 AS p1,
        |    CAST('0x' || substring(md5(gram), 5, 4) AS INTEGER) % 65536 AS p2,
        |    CAST('0x' || substring(md5(gram), 9, 4) AS INTEGER) % 65536 AS p3
        |  FROM x),
        |bits AS (
        |  SELECT DISTINCT p FROM (
        |    SELECT unnest([p1, p2, p3]) AS p FROM p WHERE doc_id % 97 = 3)),
        |hits AS (
        |  SELECT doc_id, n_grams, count(*) AS n_flagged
        |  FROM p c
        |  WHERE doc_id % 97 <> 3
        |    AND EXISTS (SELECT 1 FROM bits b WHERE b.p = c.p1)
        |    AND EXISTS (SELECT 1 FROM bits b WHERE b.p = c.p2)
        |    AND EXISTS (SELECT 1 FROM bits b WHERE b.p = c.p3)
        |  GROUP BY doc_id, n_grams)
        |SELECT doc_id, n_grams, n_flagged,
        |  CAST(n_flagged AS DOUBLE) / CAST(n_grams AS DOUBLE) AS flagged_frac
        |FROM hits""".stripMargin,
    // d23: adjacent-char-pair counts replayed with DuckDB slicing; the
    // length guard is implicit there (range(1,1) is empty where Spark's
    // sequence(1,0) would descend)
    "d23_bpe_pairs" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
        |         ELSE regexp_split_to_array(trim(text), '\s+') END AS w
        |  FROM documents),
        |wd AS (SELECT unnest(w) AS word FROM t),
        |p AS (
        |  SELECT unnest(list_transform(range(1, length(word)),
        |    i -> word[i:i+1])) AS pair
        |  FROM wd),
        |c AS (SELECT pair, count(*) AS n FROM p GROUP BY pair)
        |SELECT pair, n FROM c ORDER BY n DESC, pair ASC LIMIT 20""".stripMargin,
    // d24: BPE apply — the oracle re-derives the ranked merge list with the
    // d23 CTE, folds it into one constant `rules` row (chr(30) dummies for
    // absent ranks never match), and replays the tokenizer as the SAME
    // unrolled two-pass replace chain per word inside a list lambda
    "d24_bpe_encode" -> d24Sql,
    // w1/w2: the oracle rebuilds the SAME deterministic messy urls from
    // doc_id/source/lang and replays the canonicalizer rule-for-rule (RE2
    // dialect: \1 backrefs in the REWRITE only; patterns are Java∩RE2)
    "w1_url_canon" -> urlCanonSql(
      "SELECT doc_id, raw_url, canon_url, " +
        "regexp_extract(canon_url, '^[a-z]+://([^/?#]+)', 1) AS host FROM c7"),
    "w2_host_stats" -> urlCanonSql(
      "SELECT regexp_extract(canon_url, '^[a-z]+://([^/?#]+)', 1) AS host, " +
        "count(*) AS n_docs, count(DISTINCT canon_url) AS n_unique_urls " +
        "FROM c7 GROUP BY 1"),
    // w3: the oracle joins the canonical urls back to documents for the d5
    // signals (the engine computes both in one projection — same result);
    // bad/blocked predicates are integer cross-multiplications, bad_frac
    // divides exact integers, sum() is HUGEINT in DuckDB → CAST
    "w3_host_quality" -> urlCanonSql(
      """SELECT host, n_docs, n_bad,
        |  CAST(n_bad AS DOUBLE) / CAST(n_docs AS DOUBLE) AS bad_frac,
        |  (n_bad * 4 > n_docs) AS blocked
        |FROM (
        |  SELECT regexp_extract(canon_url, '^[a-z]+://([^/?#]+)', 1) AS host,
        |    count(*) AS n_docs,
        |    CAST(sum(CASE WHEN
        |      (CASE WHEN length(trim(d.text)) = 0 THEN 0
        |            ELSE len(regexp_split_to_array(trim(d.text), '\s+')) END) < 5
        |      OR (length(d.text) - length(regexp_replace(d.text, '[.,;:!?]', '', 'g'))) * 10 > length(d.text)
        |      OR (length(d.text) - length(regexp_replace(d.text, '[0-9]', '', 'g'))) * 5 > length(d.text)
        |      THEN 1 ELSE 0 END) AS BIGINT) AS n_bad
        |  FROM c7 JOIN documents d USING (doc_id)
        |  GROUP BY 1)""".stripMargin),
    // w7: the oracle replays w3's host-quality rollup, then the identical
    // all-integer largest-remainder allocation — floor = (w·B) // W,
    // leftovers to the biggest remainders (host ASC ties) — so quotas
    // hash-match exactly and Σ quota == B in both engines
    "w7_crawl_budget" -> urlCanonSql(
      """,
        |hq AS (
        |  SELECT host, n_docs, n_bad, (n_bad * 4 > n_docs) AS blocked
        |  FROM (
        |    SELECT regexp_extract(canon_url, '^[a-z]+://([^/?#]+)', 1) AS host,
        |      count(*) AS n_docs,
        |      CAST(sum(CASE WHEN
        |        (CASE WHEN length(trim(d.text)) = 0 THEN 0
        |              ELSE len(regexp_split_to_array(trim(d.text), '\s+')) END) < 5
        |        OR (length(d.text) - length(regexp_replace(d.text, '[.,;:!?]', '', 'g'))) * 10 > length(d.text)
        |        OR (length(d.text) - length(regexp_replace(d.text, '[0-9]', '', 'g'))) * 5 > length(d.text)
        |        THEN 1 ELSE 0 END) AS BIGINT) AS n_bad
        |    FROM c7 JOIN documents d USING (doc_id)
        |    GROUP BY 1)),
        |w AS (
        |  SELECT host, blocked,
        |    CASE WHEN blocked THEN CAST(0 AS BIGINT)
        |         ELSE n_docs - n_bad END AS weight
        |  FROM hq),
        |t AS (SELECT CAST(sum(weight) AS BIGINT) AS tw FROM w),
        |b AS (
        |  SELECT host, blocked, weight, tw,
        |    CASE WHEN tw > 0 THEN CAST((weight * 1000) // tw AS BIGINT)
        |         ELSE CAST(0 AS BIGINT) END AS fl,
        |    CASE WHEN tw > 0 THEN CAST((weight * 1000) % tw AS BIGINT)
        |         ELSE CAST(0 AS BIGINT) END AS rem
        |  FROM w CROSS JOIN t),
        |l AS (
        |  SELECT CASE WHEN max(tw) > 0 THEN 1000 - CAST(sum(fl) AS BIGINT)
        |              ELSE CAST(0 AS BIGINT) END AS lo
        |  FROM b),
        |r AS (
        |  SELECT b.*, row_number() OVER (ORDER BY rem DESC, host ASC) AS rk
        |  FROM b)
        |SELECT host, blocked, weight,
        |  CAST(fl + CASE WHEN rk <= l.lo THEN 1 ELSE 0 END AS BIGINT) AS quota
        |FROM r CROSS JOIN l""".stripMargin),
    // w4: the oracle rebuilds host + distinct 3-grams per doc, counts
    // document frequency relationally, and picks the per-host winner with a
    // row_number window (count DESC, gram ASC — the engine's min(struct)
    // argmax tie-break); hosts whose docs are all too short for a 3-gram
    // drop out of both engines via the inner join
    "w4_host_boilerplate" -> urlCanonSql(
      """,
        |d AS (
        |  SELECT c7.doc_id,
        |    regexp_extract(canon_url, '^[a-z]+://([^/?#]+)', 1) AS host, dd.text
        |  FROM c7 JOIN documents dd USING (doc_id)),
        |wd AS (
        |  SELECT doc_id, host,
        |    CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
        |         ELSE regexp_split_to_array(trim(text), '\s+') END AS w
        |  FROM d),
        |g AS (
        |  SELECT doc_id, host,
        |    list_distinct(list_transform(range(1, len(w) - 1),
        |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS grams
        |  FROM wd),
        |n AS (SELECT host, count(*) AS n_docs FROM g GROUP BY 1),
        |cnt AS (
        |  SELECT host, gram, count(*) AS c
        |  FROM (SELECT host, unnest(grams) AS gram FROM g)
        |  GROUP BY 1, 2),
        |top AS (
        |  SELECT host, gram AS top_gram, c AS n_docs_with_gram,
        |    row_number() OVER (PARTITION BY host ORDER BY c DESC, gram ASC) AS rn
        |  FROM cnt)
        |SELECT n.host, top_gram, n_docs_with_gram, n_docs,
        |  CAST(n_docs_with_gram AS DOUBLE) / CAST(n_docs AS DOUBLE) AS df_share,
        |  (n_docs_with_gram * 2 > n_docs) AS boilerplate
        |FROM top JOIN n USING (host) WHERE rn = 1""".stripMargin),
    // w5: the oracle rebuilds the same arithmetic rule table with range(13)
    // and replays the prefix match + RFC 9309 longest-match precedence with
    // a per-doc row_number window ordered (length DESC, rtype ASC — 'allow'
    // < 'disallow' encodes the allow-wins tie rule — rpath ASC), exactly
    // the engine's min(struct) argmax
    "w5_robots_filter" -> robotsVerdictSql(
      """SELECT doc_id, host, path,
        |  coalesce(rtype = 'disallow', false) AS blocked,
        |  rpath AS rule, rtype AS rule_type
        |FROM m WHERE rn = 1""".stripMargin),
    // w6: the politeness timetable over the same robots verdicts — allowed
    // urls get per-host sequential slots (path, doc_id order)
    "w6_frontier_schedule" -> robotsVerdictSql(
      """SELECT doc_id, host, path, slot, (slot - 1) * 1000 AS fetch_at_ms
        |FROM (
        |  SELECT doc_id, host, path,
        |    row_number() OVER (PARTITION BY host ORDER BY path, doc_id) AS slot
        |  FROM m
        |  WHERE rn = 1 AND NOT coalesce(rtype = 'disallow', false))""".stripMargin),
    "dd1_minhash_lsh" -> minhashLshSql("",
      "SELECT a, b, est_jaccard FROM est WHERE est_jaccard >= 0.5"),
    // dd4: incremental dedup == exactly the dd1 pairs that involve >= 1
    // batch doc (a < b, so b >= split); the split point is the same bounded
    // floor(max*0.8) scalar the engine computes
    "dd4_minhash_incremental" -> minhashLshSql(
      ",\nsplit AS (SELECT CAST(floor(max(doc_id) * 0.8) AS BIGINT) AS s FROM documents)",
      """SELECT a, b, est_jaccard FROM est, split
        |WHERE est_jaccard >= 0.5 AND b >= split.s""".stripMargin),
    // dd5: the oracle re-derives the dd1 survivor pairs, then computes the
    // components INDEPENDENTLY via a recursive transitive-closure CTE (the
    // kg5 pattern) — min id per reachability set = the engine's iterated
    // min-label fixpoint — and replays the keeper election
    "dd5_dedup_apply" -> minhashLshSql(
      """,
        |p AS (SELECT a, b FROM est WHERE est_jaccard >= 0.5),
        |sym AS (SELECT a AS src, b AS dst FROM p UNION SELECT b, a FROM p),
        |n AS (SELECT DISTINCT src AS id FROM sym),
        |reach(id, r) AS (
        |  SELECT id, id AS r FROM n
        |  UNION
        |  SELECT reach.id, sym.dst AS r FROM reach JOIN sym ON reach.r = sym.src)""".stripMargin,
      """SELECT id AS doc_id, min(r) AS canon_id, (id = min(r)) AS kept
        |FROM reach GROUP BY id""".stripMargin,
      recursive = true),
    "dd2_simhash_neardup" ->
      """WITH tok AS (
        |  SELECT DISTINCT doc_id, t FROM (
        |    SELECT doc_id, unnest(regexp_split_to_array(lower(text), '\W+')) AS t
        |    FROM documents)
        |  WHERE length(t) > 0),
        |th AS (
        |  SELECT doc_id,
        |    CAST('0x' || substring(md5(t), 1, 8) AS BIGINT) AS hi,
        |    CAST('0x' || substring(md5(t), 9, 8) AS BIGINT) AS lo
        |  FROM tok),
        |bits AS (
        |  SELECT d.doc_id, bb.b,
        |    CASE WHEN coalesce(sum(CASE WHEN
        |        (CASE WHEN bb.b < 32 THEN th.lo >> bb.b
        |              ELSE th.hi >> (bb.b - 32) END) & 1 = 1
        |      THEN 1 ELSE -1 END), 0) > 0 THEN 1 ELSE 0 END AS bit
        |  FROM documents d
        |  CROSS JOIN range(64) bb(b)
        |  LEFT JOIN th ON th.doc_id = d.doc_id
        |  GROUP BY d.doc_id, bb.b),
        |blk AS (
        |  SELECT doc_id, b // 16 AS block,
        |    CAST(sum(bit * (1 << (b % 16))) AS BIGINT) AS key
        |  FROM bits GROUP BY doc_id, block),
        |cand AS (
        |  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
        |  FROM blk x JOIN blk y ON x.block = y.block AND x.key = y.key
        |    AND x.doc_id < y.doc_id),
        |ham AS (
        |  SELECT c.a, c.b,
        |    CAST(sum(CASE WHEN xa.bit != xb.bit THEN 1 ELSE 0 END) AS BIGINT) AS hamming
        |  FROM cand c
        |  JOIN bits xa ON xa.doc_id = c.a
        |  JOIN bits xb ON xb.doc_id = c.b AND xb.b = xa.b
        |  GROUP BY c.a, c.b)
        |SELECT a, b, hamming FROM ham WHERE hamming <= 3""".stripMargin,
    "dd3_ngram_jaccard" ->
      """WITH w AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS words
        |  FROM documents WHERE length(trim(text)) > 0),
        |sh AS (
        |  SELECT doc_id, list_distinct(list_transform(range(1, len(words) - 1),
        |    i -> array_to_string(words[i:i+2], ' '))) AS s
        |  FROM w WHERE len(words) >= 3),
        |inv0 AS (SELECT doc_id, unnest(s) AS g FROM sh),
        |freq AS (SELECT g, count(*) AS df FROM inv0 GROUP BY g),
        |inv AS (SELECT inv0.doc_id, inv0.g FROM inv0 JOIN freq USING (g) WHERE df <= 1000),
        |inter AS (
        |  SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS inter
        |  FROM inv x JOIN inv y ON x.g = y.g AND x.doc_id < y.doc_id
        |  GROUP BY 1, 2),
        |sizes AS (SELECT doc_id, count(*) AS nsh FROM inv GROUP BY doc_id)
        |SELECT a, b,
        |  round(inter * 1.0 / (sa.nsh + sb.nsh - inter), 6) + 0 AS jaccard
        |FROM inter
        |JOIN sizes sa ON sa.doc_id = a
        |JOIN sizes sb ON sb.doc_id = b
        |WHERE inter * 1.0 / (sa.nsh + sb.nsh - inter) >= 0.03""".stripMargin,
    "s1_ann_brute" -> annSqls("s1"),
    "s2_ann_lsh" -> annSqls("s2"),
    "s4_embedding_neardup_lsh" ->
      s"""WITH ${lshCte(seedBase = 7, tables = 4, bits = 10)},
         |cand AS (
         |  SELECT DISTINCT x.vec_id AS a, y.vec_id AS b
         |  FROM bkt x JOIN bkt y ON x.t = y.t AND x.bucket = y.bucket
         |    AND x.vec_id < y.vec_id),
         |p AS (
         |  SELECT c.a, c.b,
         |    CASE WHEN x.nrm * y.nrm = 0 THEN 0.0
         |         ELSE ${sqlDot("x.embedding", "y.embedding")} / (x.nrm * y.nrm) END AS cos
         |  FROM cand c
         |  JOIN nn x ON x.vec_id = c.a
         |  JOIN nn y ON y.vec_id = c.b)
         |SELECT a, b, round(cos, 6) + 0 AS cos FROM p WHERE cos >= 0.3""".stripMargin,
    // s7: the oracle recomputes BOTH sides — candidates from the same
    // md5-derived hyperplanes as s4, truth from the same bit-exact cosine
    // as s3 — then the four audit counts and IEEE long/long ratio divisions
    "s7_blocking_quality" ->
      s"""WITH ${lshCte(seedBase = 7, tables = 4, bits = 10)},
         |cand AS (
         |  SELECT DISTINCT x.vec_id AS a, y.vec_id AS b
         |  FROM bkt x JOIN bkt y ON x.t = y.t AND x.bucket = y.bucket
         |    AND x.vec_id < y.vec_id),
         |truth AS (
         |  SELECT x.vec_id AS a, y.vec_id AS b
         |  FROM nn x JOIN nn y ON x.vec_id < y.vec_id
         |  WHERE (CASE WHEN x.nrm * y.nrm = 0 THEN 0.0
         |         ELSE ${sqlDot("x.embedding", "y.embedding")} / (x.nrm * y.nrm) END)
         |    >= 0.3),
         |m AS (
         |  SELECT
         |    (SELECT count(*) FROM nn) AS n_vectors,
         |    (SELECT count(*) FROM cand) AS n_candidates,
         |    (SELECT count(*) FROM truth) AS n_truth,
         |    (SELECT count(*) FROM truth t JOIN cand c
         |       ON t.a = c.a AND t.b = c.b) AS n_covered)
         |SELECT n_vectors,
         |  (n_vectors * (n_vectors - 1)) // 2 AS n_total_pairs,
         |  n_candidates, n_truth, n_covered,
         |  CASE WHEN n_truth = 0 THEN CAST(1.0 AS DOUBLE)
         |       ELSE CAST(n_covered AS DOUBLE) / CAST(n_truth AS DOUBLE) END
         |    AS pair_completeness,
         |  CASE WHEN n_vectors < 2 THEN CAST(0.0 AS DOUBLE)
         |       ELSE CAST(1.0 AS DOUBLE) - CAST(n_candidates AS DOUBLE) /
         |         CAST((n_vectors * (n_vectors - 1)) // 2 AS DOUBLE) END
         |    AS reduction_ratio,
         |  CASE WHEN n_candidates = 0 THEN CAST(1.0 AS DOUBLE)
         |       ELSE CAST(n_covered AS DOUBLE) / CAST(n_candidates AS DOUBLE) END
         |    AS pairs_quality
         |FROM m""".stripMargin,
    "s3_embedding_neardup" ->
      s"""WITH nn AS (
         |  SELECT vec_id, embedding, sqrt(${sqlDot("embedding", "embedding")}) AS nrm
         |  FROM embeddings),
         |p AS (
         |  SELECT x.vec_id AS a, y.vec_id AS b,
         |    CASE WHEN x.nrm * y.nrm = 0 THEN 0.0
         |         ELSE ${sqlDot("x.embedding", "y.embedding")} / (x.nrm * y.nrm) END AS cos
         |  FROM nn x JOIN nn y ON x.vec_id < y.vec_id)
         |SELECT a, b, round(cos, 6) + 0 AS cos FROM p WHERE cos >= 0.3""".stripMargin,
    "s5_ann_ivf" -> annSqls("s5"),
    // s6: trained-IVF — the k-means codebook is the materialized non-SQL
    // kernel; the oracle REPLAYS the whole search half from it (assignment,
    // probes, bit-exact re-rank, top-K window), mirroring Similarity.ivfSearch
    "s6_ann_ivf_trained" -> annSqls("s6"),
    // s8: PQ — the trained integer codebook is the materialized kernel; the
    // oracle replays quantize → per-subspace encode (argmin integer L2²,
    // ties to the lower code) → ADC (the query's distance rows ARE the
    // lookup table) → top-K, all in exact bigint arithmetic
    "s8_ann_pq" -> annSqls("s8"),
    // s9: IVF-PQ — coarse centroids DERIVE in SQL (first-16 rule), the
    // residual codebook is the materialized kernel; the oracle replays
    // quantize → coarse argmin → residual → encode → probes →
    // per-(query,cell) LUT → ADC → top-K in exact bigint arithmetic
    "s9_ann_ivfpq" -> annSqls("s9"),
    // s10: the recall audit's oracle nests truth + all five approximate
    // searchers VERBATIM (annSqls), so the audit row and each searcher row
    // are provably measuring the same semantics
    "s10_ann_recall_audit" -> s10Sql,
    // s11: the frozen index halves are materialized frames (centroids +
    // base assignments); the oracle replays ONLY what the engine computes
    // at ingest time — the delta assignment from the split rule, the
    // union, probes, and the bit-exact re-rank
    "s11_ann_ingest" ->
      s"""WITH nn AS (
         |  SELECT vec_id, embedding, sqrt(${sqlDot("embedding", "embedding")}) AS nrm
         |  FROM embeddings),
         |cent AS (
         |  SELECT cell, cvec, sqrt(${sqlDot("cvec", "cvec")}) AS cn
         |  FROM read_parquet('$OF/s11_centroids/*.parquet')),
         |sp AS (SELECT CAST(floor(max(vec_id) * 0.8) AS BIGINT) AS sp FROM embeddings),
         |basea AS (
         |  SELECT b.vec_id, n.embedding, n.nrm, b.cell
         |  FROM read_parquet('$OF/s11_base_assign/*.parquet') b
         |  JOIN nn n ON n.vec_id = b.vec_id),
         |deltaa AS (
         |  SELECT vec_id, embedding, nrm, cell FROM (
         |    SELECT n.vec_id, n.embedding, n.nrm, c.cell,
         |      row_number() OVER (PARTITION BY n.vec_id ORDER BY
         |        CASE WHEN n.nrm * c.cn = 0 THEN 0.0
         |             ELSE ${sqlDot("n.embedding", "c.cvec")} / (n.nrm * c.cn) END DESC,
         |        c.cell ASC) AS cr
         |    FROM nn n CROSS JOIN cent c CROSS JOIN sp WHERE n.vec_id >= sp.sp) t
         |  WHERE cr = 1),
         |asg AS (SELECT * FROM basea UNION ALL SELECT * FROM deltaa),
         |q AS (SELECT vec_id AS query_id, embedding AS qvec, nrm AS qn FROM nn WHERE vec_id < 10),
         |probe AS (
         |  SELECT query_id, qvec, qn, cell FROM (
         |    SELECT q.query_id, q.qvec, q.qn, c.cell,
         |      row_number() OVER (PARTITION BY q.query_id ORDER BY
         |        CASE WHEN q.qn * c.cn = 0 THEN 0.0
         |             ELSE ${sqlDot("q.qvec", "c.cvec")} / (q.qn * c.cn) END DESC,
         |        c.cell ASC) AS pr
         |    FROM q CROSS JOIN cent c) t WHERE pr <= 4),
         |sc AS (
         |  SELECT p.query_id, a.vec_id AS neighbor_id,
         |    CASE WHEN p.qn * a.nrm = 0 THEN 0.0
         |         ELSE ${sqlDot("p.qvec", "a.embedding")} / (p.qn * a.nrm) END AS cos
         |  FROM asg a JOIN probe p ON a.cell = p.cell AND a.vec_id != p.query_id),
         |r AS (SELECT *, row_number() OVER (PARTITION BY query_id
         |  ORDER BY cos DESC, neighbor_id ASC) AS rank FROM sc)
         |SELECT query_id, neighbor_id, rank FROM r WHERE rank <= 5""".stripMargin,
    // em4: the oracle replays the same retrieval CTE, expands (query, k)
    // for k = 1..10, and mirrors the integer micro sums — the two final
    // divisions are the only floats, IEEE-identical cross-engine
    "em4_pr_curve" ->
      s"""${retrievalCte()},
         |ks AS (SELECT CAST(unnest(range(1, 11)) AS INT) AS k),
         |pq AS (
         |  SELECT r.query_id, r.query_label, ks.k,
         |    CAST(sum(relevant) AS BIGINT) AS hits
         |  FROM r JOIN ks ON r.rank <= ks.k
         |  GROUP BY 1, 2, 3),
         |lc AS (SELECT label AS query_label, count(*) AS n_label
         |       FROM embeddings GROUP BY 1),
         |pq2 AS (SELECT pq.*, lc.n_label - 1 AS n_rel
         |        FROM pq JOIN lc USING (query_label)),
         |g AS (
         |  SELECT k, count(*) AS n_queries,
         |    CAST(sum(hits) AS BIGINT) AS total_hits,
         |    CAST(sum(n_rel) AS BIGINT) AS total_rel
         |  FROM pq2 GROUP BY k)
         |SELECT k, n_queries, total_hits,
         |  CAST(total_hits AS DOUBLE) / CAST(k * n_queries AS DOUBLE) AS precision,
         |  CASE WHEN total_rel = 0 THEN CAST(1.0 AS DOUBLE)
         |       ELSE CAST(total_hits AS DOUBLE) / CAST(total_rel AS DOUBLE) END AS recall
         |FROM g""".stripMargin,
    "em1_retrieval_metrics" ->
      s"""${retrievalCte()},
         |pq AS (
         |  SELECT query_id,
         |    min(CASE WHEN relevant = 1 THEN rank END) AS first_hit_rank,
         |    sum(CASE WHEN relevant = 1 THEN 1.0 / log2(rank + 1) ELSE 0.0 END) AS dcg,
         |    sum(relevant) AS n_rel,
         |    max(CASE WHEN rank = 1 THEN relevant END) AS top1_hit,
         |    max(CASE WHEN relevant = 1 THEN cos END) AS best_rel,
         |    max(CASE WHEN relevant = 0 THEN cos END) AS best_irrel
         |  FROM r WHERE rank <= 10 GROUP BY query_id),
         |pq2 AS (
         |  SELECT *,
         |    CASE WHEN n_rel > 0 THEN list_aggregate(
         |      list_transform(range(1, CAST(least(n_rel, 10) AS BIGINT) + 1), i -> 1.0 / log2(i + 1)), 'sum')
         |    ELSE 0.0 END AS idcg
         |  FROM pq)
         |SELECT count(*) AS n_queries,
         |  round(avg(CASE WHEN first_hit_rank IS NOT NULL THEN 1.0 / first_hit_rank ELSE 0.0 END), 6) AS mrr,
         |  round(avg(CASE WHEN idcg > 0 THEN dcg / idcg ELSE 0.0 END), 6) AS ndcg,
         |  round(avg(coalesce(top1_hit, 0)), 6) AS accuracy,
         |  round(avg(CASE WHEN best_rel IS NOT NULL AND best_irrel IS NOT NULL THEN
         |      ln((best_rel + 1) / 2 / (1.0 - (best_rel + 1) / 2 + 1e-9)) -
         |      ln((best_irrel + 1) / 2 / (1.0 - (best_irrel + 1) / 2 + 1e-9)) END), 6) + 0 AS log_odds_gap
         |FROM pq2""".stripMargin,
    "em2_rerank" ->
      s"""${retrievalCte()},
         |rr AS (
         |  SELECT query_id, neighbor_id, rank,
         |    round(CAST('0x' || substring(md5(CAST(query_id AS VARCHAR) || '_' || CAST(neighbor_id AS VARCHAR)), 1, 8) AS BIGINT) / 4294967296.0, 6) AS cross_score
         |  FROM r WHERE rank <= 10)
         |SELECT query_id,
         |  row_number() OVER (PARTITION BY query_id ORDER BY cross_score DESC, rank ASC) AS new_rank,
         |  neighbor_id, cross_score
         |FROM rr""".stripMargin,
    "em3_filtered_retrieval" ->
      s"""${retrievalCte("AND (e.label = q.query_label OR e.label = q.query_label + 1)")}
         |SELECT query_id, neighbor_id, neighbor_label, rank, relevant, round(cos, 6) + 0 AS cos
         |FROM r WHERE rank <= 10""".stripMargin,
    "st1_sessionize" ->
      """WITH e AS (
        |  SELECT user_id, ts, event_id, value,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |         OR epoch_ms(ts) - epoch_ms(lag(ts) OVER w) > 1800000 THEN 1 ELSE 0 END AS is_new
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (
        |  SELECT user_id, ts, value,
        |    sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        |  FROM e)
        |SELECT user_id, min(epoch_ms(ts)) AS start_ms, max(epoch_ms(ts)) AS end_ms,
        |  CAST(count(*) AS INTEGER) AS n_events, round(sum(value), 2) AS sum_value
        |FROM s GROUP BY user_id, session_id""".stripMargin,
    // st2: the oracle re-creates the md5-derived retransmissions and
    // collapses them — duplicates are verbatim rows, so DISTINCT over all
    // columns IS dedup-by-delivery-key
    "st2_stream_dedup" ->
      """WITH d AS (
        |  SELECT event_id, epoch_ms(ts) AS ts_ms, user_id, event_type, value FROM events
        |  UNION ALL
        |  SELECT event_id, epoch_ms(ts), user_id, event_type, value FROM events
        |  WHERE CAST('0x' || substring(md5(CAST(event_id AS VARCHAR)), 1, 8) AS BIGINT)
        |        / 4294967296.0 < 0.1)
        |SELECT DISTINCT event_id, ts_ms, user_id, event_type, value FROM d""".stripMargin,
    // st3: the oracle expresses the 30-minute attribution window as a
    // direct interval join; the engine's bucketed rendezvous must be
    // pair-for-pair identical
    "st3_attribution" ->
      """SELECT p.event_id AS purchase_id, v.event_id AS view_id, p.user_id,
        |  epoch_ms(p.ts) AS purchase_ms, epoch_ms(v.ts) AS view_ms
        |FROM events p JOIN events v
        |  ON v.user_id = p.user_id
        | AND p.event_type = 'purchase' AND v.event_type = 'view'
        | AND v.ts >= p.ts - INTERVAL 30 MINUTE AND v.ts < p.ts""".stripMargin,
    "kw1_keyword_search" ->
      """WITH q(query_id, term) AS (VALUES
        |  (1,'spark'),(1,'window'),(1,'batch'),
        |  (2,'customer'),(2,'join'),(2,'filter'),
        |  (3,'vector'),(3,'merge'),(3,'stream'),
        |  (4,'the'),(4,'quick'),(4,'missing'),(4,'terms')),
        |tok AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\W+')) AS term
        |  FROM documents),
        |tok2 AS (SELECT doc_id, term FROM tok WHERE length(term) > 0),
        |post AS (SELECT doc_id, term, count(*) AS tf FROM tok2 GROUP BY 1, 2),
        |dl AS (SELECT doc_id, count(*) AS dl FROM tok2 GROUP BY 1),
        |nd AS (SELECT count(*) AS n FROM documents),
        |stats AS (SELECT term, count(*) AS df FROM post GROUP BY 1),
        |ad AS (SELECT avg(dl) AS avgdl FROM dl),
        |scored AS (
        |  SELECT q.query_id, p.doc_id,
        |    round(sum(ln((nd.n - s.df + 0.5) / (s.df + 0.5) + 1.0)
        |      * (p.tf * (1.2 + 1)) / (p.tf + 1.2 * ((1 - 0.75) + 0.75 * d.dl / ad.avgdl))), 6) AS score,
        |    count(*) AS n_matched_terms
        |  FROM post p JOIN q ON p.term = q.term
        |  JOIN stats s ON s.term = p.term
        |  JOIN dl d ON d.doc_id = p.doc_id
        |  CROSS JOIN nd CROSS JOIN ad
        |  GROUP BY 1, 2),
        |rk AS (SELECT *, row_number() OVER (PARTITION BY query_id
        |  ORDER BY score DESC, doc_id ASC) AS rank FROM scored)
        |SELECT query_id, doc_id, score, n_matched_terms, rank FROM rk WHERE rank <= 10""".stripMargin,
    "cache1_embedding_cache" ->
      """SELECT count(*) AS n_first, count(DISTINCT text) AS misses_first,
        |  count(*) AS n_second, CAST(0 AS BIGINT) AS misses_second
        |FROM documents""".stripMargin,
    // kg4/kg9 ride materialized deterministic frames (graft.Verify writes
    // them under target/oracle_frames; the engine reads the SAME files), so
    // the self-generated corpus' relational halves get hard oracle rows:
    // kg4 = the full label-join + render stage, kg9 = the stat aggregation.
    "kg4_triples" ->
      s"""WITH r AS (
        |  SELECT * FROM read_parquet('$OF/kg4_claim_rows/*.parquet')),
        |l AS (
        |  SELECT * FROM read_parquet('$OF/kg4_labels/*.parquet')),
        |j AS (
        |  SELECT r.*, p.label AS _plabel, s.label AS _slabel, v.label AS _vlabel,
        |    regexp_replace(regexp_replace(v.label, '^b''', ''), '''\\z', '') AS stripped
        |  FROM r
        |  JOIN l p ON r.pid = p.id AND p.id LIKE 'P%'
        |  JOIN l s ON r.qid = s.id
        |  LEFT JOIN l v ON r.isQidValue AND r.valueScalar = v.id)
        |SELECT
        |  md5(concat_ws('|', qid, pid, claimIdx, valueScalar)) AS uuid,
        |  qid, pid,
        |  translate(valueScalar, '"', '''') AS value,
        |  translate(_slabel, '"', '''') AS qid_label,
        |  translate(itemDesc, '"', '''') AS item_label,
        |  translate(_plabel, '"', '''') AS property_label,
        |  translate(CASE WHEN isQidValue THEN stripped ELSE valueScalar END,
        |    '"', '''') AS value_content,
        |  translate(concat_ws(' ', itemDesc, _plabel,
        |    CASE WHEN isQidValue THEN stripped ELSE valueScalar END),
        |    '"', '''') AS statement
        |FROM j
        |WHERE NOT isQidValue OR (_vlabel IS NOT NULL AND length(stripped) > 0)""".stripMargin,
    "kg9_stats" ->
      s"""SELECT stat, key, count(*) AS n
        |FROM read_parquet('$OF/kg9_stat_rows/*.parquet')
        |GROUP BY stat, key""".stripMargin,
    // kg2: the trie match is the non-SQL kernel; the oracle replays the
    // candidate explode (self-drop + sort + cap 50 + unnest) from the
    // materialized resolved-mentions frame (mirrors Linker.explodeCandidates)
    "kg2_mentions" ->
      s"""SELECT url, surface, "begin", "end",
        |  unnest(list_slice(list_sort(list_filter(qids, q -> q != self_id)), 1, 50)) AS qid,
        |  context
        |FROM read_parquet('$OF/kg2_mentions_raw/*.parquet')""".stripMargin,
    // kg3: candidate equi-join + bit-exact cosine + per-mention top-5 window
    // over the materialized (ctx-embedded mentions, entity vecs) frames —
    // mirrors Linker.scoreTopK
    "kg3_links" ->
      s"""WITH m AS (
         |  SELECT * FROM read_parquet('$OF/kg3_mentions/*.parquet')),
         |v AS (
         |  SELECT * FROM read_parquet('$OF/kg3_vecs/*.parquet')),
         |s AS (
         |  SELECT m.url, m."begin", m."end", m.surface, m.qid,
         |    CASE WHEN sqrt(${sqlDot("ctx_vec", "ctx_vec")}) * sqrt(${sqlDot("vec", "vec")}) = 0
         |         THEN 0.0
         |         ELSE ${sqlDot("ctx_vec", "vec")}
         |           / (sqrt(${sqlDot("ctx_vec", "ctx_vec")}) * sqrt(${sqlDot("vec", "vec")})) END
         |      AS score_raw
         |  FROM m JOIN v ON m.qid = v.id),
         |r AS (
         |  SELECT *, row_number() OVER (PARTITION BY url, "begin"
         |    ORDER BY score_raw DESC, qid ASC) AS rank
         |  FROM s)
         |SELECT url, "begin", "end", surface, qid, round(score_raw, 6) + 0 AS score, rank
         |FROM r WHERE rank <= 5""".stripMargin,
    // kg5: connected components recomputed INDEPENDENTLY from the
    // materialized edge/node frames — recursive-CTE transitive closure +
    // min-label, a from-first-principles check of the pointer-jumped
    // iterative-join implementation
    "kg5_canon" ->
      s"""WITH RECURSIVE e AS (
        |  SELECT src, dst FROM read_parquet('$OF/kg5_edges/*.parquet')),
        |sym AS (SELECT src, dst FROM e UNION SELECT dst, src FROM e),
        |n AS (
        |  SELECT id FROM read_parquet('$OF/kg5_nodes/*.parquet')
        |  UNION SELECT src AS id FROM sym),
        |reach(id, r) AS (
        |  SELECT id, id AS r FROM n
        |  UNION
        |  SELECT reach.id, sym.dst AS r FROM reach JOIN sym ON reach.r = sym.src)
        |SELECT id, min(r) AS component FROM reach GROUP BY id HAVING min(r) <> id""".stripMargin,
    // kg7: the kg4 join/render replay filtered to one subject key (the
    // url→qid contract pins the literal)
    "kg7_triples_for_url" ->
      s"""WITH r AS (
        |  SELECT * FROM read_parquet('$OF/kg4_claim_rows/*.parquet')),
        |l AS (
        |  SELECT * FROM read_parquet('$OF/kg4_labels/*.parquet')),
        |j AS (
        |  SELECT r.*, p.label AS _plabel, s.label AS _slabel, v.label AS _vlabel,
        |    regexp_replace(regexp_replace(v.label, '^b''', ''), '''\\z', '') AS stripped
        |  FROM r
        |  JOIN l p ON r.pid = p.id AND p.id LIKE 'P%'
        |  JOIN l s ON r.qid = s.id
        |  LEFT JOIN l v ON r.isQidValue AND r.valueScalar = v.id)
        |SELECT
        |  md5(concat_ws('|', qid, pid, claimIdx, valueScalar)) AS uuid,
        |  qid, pid,
        |  translate(valueScalar, '"', '''') AS value,
        |  translate(_slabel, '"', '''') AS qid_label,
        |  translate(itemDesc, '"', '''') AS item_label,
        |  translate(_plabel, '"', '''') AS property_label,
        |  translate(CASE WHEN isQidValue THEN stripped ELSE valueScalar END,
        |    '"', '''') AS value_content,
        |  translate(concat_ws(' ', itemDesc, _plabel,
        |    CASE WHEN isQidValue THEN stripped ELSE valueScalar END),
        |    '"', '''') AS statement,
        |  'https://fixture.test/wiki/Q100007' AS url
        |FROM j
        |WHERE qid = 'Q100007'
        |  AND (NOT isQidValue OR (_vlabel IS NOT NULL AND length(stripped) > 0))""".stripMargin,
    // kg11: LSH-candidate linking — the oracle RECOMPUTES the md5-derived
    // hyperplanes, both sides' sign buckets, the same-bucket join, the
    // bit-exact cosine and the top-K window from the materialized frames
    // (mirrors Linker.linkLshScored at bits=10, tables=6, dim=32, seed 91+t)
    "kg11_links_lsh" ->
      s"""WITH m AS (
         |  SELECT *, sqrt(${sqlDot("ctx_vec", "ctx_vec")}) AS mn
         |  FROM read_parquet('$OF/kg11_mentions/*.parquet')),
         |v AS (
         |  SELECT id AS qid, vec, sqrt(${sqlDot("vec", "vec")}) AS vn
         |  FROM read_parquet('$OF/kg11_vecs/*.parquet')),
         |pl AS (
         |  SELECT t.t, b.b,
         |    list_transform(range(32), i ->
         |      CAST('0x' || substring(md5(CAST(91 + t.t AS VARCHAR) || '_' ||
         |        CAST(b.b AS VARCHAR) || '_' || CAST(i AS VARCHAR)), 1, 8) AS BIGINT)
         |      / 2147483648.0 - 1.0) AS plane
         |  FROM range(6) t(t) CROSS JOIN range(10) b(b)),
         |mb AS (
         |  SELECT m.url, m."begin", m."end", m.surface, m.ctx_vec, m.mn, p.t,
         |    CAST(sum(CASE WHEN ${sqlDot("m.ctx_vec", "p.plane")} >= 0
         |      THEN (1 << p.b) ELSE 0 END) AS BIGINT) AS bucket
         |  FROM m CROSS JOIN pl p
         |  GROUP BY m.url, m."begin", m."end", m.surface, m.ctx_vec, m.mn, p.t),
         |vb AS (
         |  SELECT v.qid, v.vec, v.vn, p.t,
         |    CAST(sum(CASE WHEN ${sqlDot("v.vec", "p.plane")} >= 0
         |      THEN (1 << p.b) ELSE 0 END) AS BIGINT) AS bucket
         |  FROM v CROSS JOIN pl p
         |  GROUP BY v.qid, v.vec, v.vn, p.t),
         |cand AS (
         |  SELECT DISTINCT mb.url, mb."begin", mb."end", mb.surface, vb.qid,
         |    CASE WHEN mb.mn * vb.vn = 0 THEN 0.0
         |         ELSE ${sqlDot("mb.ctx_vec", "vb.vec")} / (mb.mn * vb.vn) END AS score
         |  FROM mb JOIN vb ON mb.t = vb.t AND mb.bucket = vb.bucket),
         |r AS (
         |  SELECT *, row_number() OVER (PARTITION BY url, "begin"
         |    ORDER BY score DESC, qid ASC) AS rank
         |  FROM cand)
         |SELECT url, "begin", "end", surface, qid, round(score, 6) + 0 AS score, rank
         |FROM r WHERE rank <= 5""".stripMargin,
    // lid1: the per-doc trigram/fingerprint kernel is materialized as
    // (doc × candidate-language) score rows; the oracle replays the argmax
    // (window max + min-lang tie-break, 'und' when nothing scores above 0)
    "lid1_langid_fingerprint" ->
      s"""WITH s AS (
        |  SELECT * FROM read_parquet('$OF/lid1_scores/*.parquet')),
        |m AS (SELECT *, max(score) OVER (PARTITION BY doc_id) AS ms FROM s)
        |SELECT doc_id, lang,
        |  CASE WHEN max(ms) <= 0 THEN 'und' ELSE min(cand_lang) END AS predicted_lang,
        |  fingerprint, winnowed_min
        |FROM m WHERE score = ms
        |GROUP BY doc_id, lang, fingerprint, winnowed_min""".stripMargin,
    // kg6: the chunking kernel is the non-SQL half (golden-pinned); the
    // oracle replays the explode + deterministic `qid_lang_idx` assignment
    // from the materialized per-entity chunk arrays (lateral range join =
    // posexplode; empty arrays vanish on both sides)
    "kg6_chunks" ->
      s"""WITH x AS (
        |  SELECT qid, lang, unnest(chunks) AS text,
        |    unnest(range(1, len(chunks) + 1)) AS i
        |  FROM read_parquet('$OF/kg6_chunk_arrays/*.parquet'))
        |SELECT qid || '_' || lang || '_' || CAST(i AS VARCHAR) AS chunk_id,
        |  qid, CAST(i AS INTEGER) AS chunk, text
        |FROM x""".stripMargin,
    // kg10: the clean_entity + labels-splice + compact-json rendering is the
    // non-SQL kernel (byte-exact golden-pinned); the oracle replays the
    // sequential fixed-size split assignment (global row_number window).
    // floor() because DuckDB CAST-to-INT rounds while Spark's truncates.
    "kg10_hf_export" ->
      s"""SELECT CAST(floor((row_number() OVER (ORDER BY id) - 1) / 500.0) AS INTEGER) AS split,
        |  id, labels, descriptions, aliases, sitelinks, claims
        |FROM read_parquet('$OF/kg10_rows/*.parquet')""".stripMargin,
    // kg12: the hash-split scale mode — the oracle RECOMPUTES the md5-derived
    // split (first 8 hex digits of md5(id) mod 8) from the rendered rows, so
    // the narrow-map split assignment is hard-checked end to end
    "kg12_hf_export_hashed" ->
      s"""SELECT CAST(CAST('0x' || substring(md5(id), 1, 8) AS BIGINT) % 8 AS INTEGER) AS split,
        |  id, labels, descriptions, aliases, sitelinks, claims
        |FROM read_parquet('$OF/kg12_rows/*.parquet')""".stripMargin,
    // kg13: single-value-constraint violations from the materialized claim
    // rows; the value set is order-pinned by sorting inside the aggregate
    "kg13_conflicts" ->
      s"""SELECT qid, pid, count(DISTINCT valueScalar) AS n_values,
        |  string_agg(DISTINCT valueScalar, '|' ORDER BY valueScalar) AS "values"
        |FROM read_parquet('$OF/kg13_claim_rows/*.parquet')
        |GROUP BY qid, pid HAVING count(DISTINCT valueScalar) > 1""".stripMargin,
    // kg14: triangle census replayed from the materialized mention frame —
    // candidate explode (kg2's rule), >=2-shared-page co-occurrence edges,
    // (degree, id)-ordered orientation, wedge + closing-edge join
    "kg14_triangles" ->
      s"""WITH m AS (
        |  SELECT url,
        |    unnest(list_slice(list_sort(list_filter(qids, q -> q != self_id)), 1, 50)) AS qid
        |  FROM read_parquet('$OF/kg14_mentions/*.parquet')),
        |uq AS (SELECT DISTINCT url, qid FROM m),
        |e AS (
        |  SELECT x.qid AS a, y.qid AS b, count(*) AS w
        |  FROM uq x JOIN uq y ON x.url = y.url AND x.qid < y.qid
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |deg AS (
        |  SELECT id, count(*) AS d
        |  FROM (SELECT a AS id FROM e UNION ALL SELECT b AS id FROM e)
        |  GROUP BY id),
        |o AS (
        |  SELECT CASE WHEN da.d <= db.d THEN e.a ELSE e.b END AS u,
        |         CASE WHEN da.d <= db.d THEN e.b ELSE e.a END AS v,
        |         CASE WHEN da.d <= db.d THEN db.d ELSE da.d END AS dv
        |  FROM e JOIN deg da ON da.id = e.a JOIN deg db ON db.id = e.b),
        |wed AS (
        |  SELECT w1.u, w1.v AS x, w1.dv AS dx, w2.v AS y
        |  FROM o w1 JOIN o w2 ON w1.u = w2.u
        |  WHERE w1.dv < w2.dv OR (w1.dv = w2.dv AND w1.v < w2.v)),
        |tri AS (
        |  SELECT wed.u, wed.x, wed.y FROM wed
        |  JOIN o ON o.u = wed.x AND o.v = wed.y),
        |s AS (SELECT list_sort([u, x, y]) AS t FROM tri)
        |SELECT t[1] AS q1, t[2] AS q2, t[3] AS q3 FROM s""".stripMargin,
    "kg15_pagerank" -> pagerankSql(iters = 10),
    "kg16_bfs" -> bfsSql(hops = 3),
    "kg25_sssp" -> ssspSql(rounds = 3),
    // kg30: every seeded hop replays from the materialized edge frame —
    // the same md5-derived draw (60-bit prefix parse), ties to lower dst,
    // one chained CTE per step; dead-end walks simply stop emitting
    "kg30_walks" ->
      s"""WITH ${walkCtes("kg30_edges")}
         |SELECT walk_id, step, node FROM walks""".stripMargin,
    // kg31: the skip-gram pair statistic over the SAME unrolled walk CTEs
    // (from kg31's own edge frame) — within-walk forward pairs at step
    // distance ≤ 2, unordered (least/greatest), self-pairs dropped
    "kg31_walk_pairs" ->
      s"""WITH ${walkCtes("kg31_edges")},
         |p AS (
         |  SELECT least(x.node, y.node) AS a, greatest(x.node, y.node) AS b
         |  FROM walks x JOIN walks y
         |    ON x.walk_id = y.walk_id AND y.step > x.step
         |    AND y.step - x.step <= 2 AND x.node != y.node)
         |SELECT a, b, CAST(count(*) AS BIGINT) AS n FROM p GROUP BY a, b""".stripMargin,
    "kg26_communities" -> lpaSql(rounds = 4),
    "kg27_kcore" -> kcoreSql(k = 3, rounds = 3),
    // kg19: snapshot consolidation replayed from the materialized
    // (url, warc_ts, digest) frame — arg-min/max digests decide `changed`
    // (fetch times are unique per url by construction, so min_by/max_by
    // are deterministic in both engines)
    "kg19_revisit_latest" ->
      s"""SELECT url, count(*) AS n_snapshots,
         |  min(warc_ts) AS first_ts, max(warc_ts) AS latest_ts,
         |  min_by(digest, warc_ts) <> max_by(digest, warc_ts) AS changed
         |FROM read_parquet('$OF/kg19_snapshots/*.parquet')
         |GROUP BY url""".stripMargin,
    // kg23: exact-dup groups replayed from the materialized two-crawl
    // digest frame — plain groupBy/HAVING; non-empty by construction
    // (unchanged re-serves are byte-identical), unlike the vacuous d3 gate
    "kg23_exact_dup_groups" ->
      s"""SELECT digest, count(*) AS n_copies,
         |  count(DISTINCT url) AS n_urls, min(url) AS rep_url
         |FROM read_parquet('$OF/kg23_snapshots/*.parquet')
         |GROUP BY digest HAVING count(*) > 1""".stripMargin,
    // kg28: recrawl priority replayed from the materialized snapshot
    // digests — lag window for consecutive-pair changes, then per-url
    // counts, rate and class (CASE order mirrors the Spark when-chain)
    "kg28_recrawl_priority" ->
      s"""WITH st AS (
         |  SELECT url, digest,
         |    lag(digest) OVER (PARTITION BY url ORDER BY warc_ts) AS prev
         |  FROM read_parquet('$OF/kg28_snapshots/*.parquet')),
         |g AS (
         |  SELECT url, count(*) AS n_snapshots,
         |    CAST(SUM(CASE WHEN prev IS NOT NULL AND digest != prev
         |                  THEN 1 ELSE 0 END) AS BIGINT) AS n_changes
         |  FROM st GROUP BY url)
         |SELECT url, n_snapshots, n_changes,
         |  CASE WHEN n_snapshots > 1
         |       THEN CAST(n_changes AS DOUBLE) / CAST(n_snapshots - 1 AS DOUBLE)
         |       ELSE 0.0 END AS change_rate,
         |  CASE WHEN n_snapshots = 1 THEN 'unknown'
         |       WHEN CAST(n_changes AS DOUBLE) / CAST(n_snapshots - 1 AS DOUBLE) >= 0.5 THEN 'high'
         |       WHEN n_changes > 0 THEN 'medium'
         |       ELSE 'low' END AS priority
         |FROM g""".stripMargin,
    // kg29: property profile replayed from the materialized
    // (qid, pid, isQidValue) claim rows — the same two-level aggregate
    "kg29_property_profile" ->
      s"""WITH per_subj AS (
         |  SELECT qid, pid, count(*) AS n,
         |    CAST(SUM(CASE WHEN isQidValue THEN 1 ELSE 0 END) AS BIGINT) AS nq
         |  FROM read_parquet('$OF/kg29_claim_kinds/*.parquet')
         |  GROUP BY qid, pid)
         |SELECT pid, CAST(SUM(n) AS BIGINT) AS n_claims,
         |  count(*) AS n_subjects,
         |  max(n) AS max_per_subject,
         |  CAST(SUM(nq) AS BIGINT) AS n_entity_valued,
         |  CAST(SUM(n) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS mean_per_subject,
         |  max(n) = 1 AS functional
         |FROM per_subj GROUP BY pid""".stripMargin,
    // kg24: snapshot-to-snapshot fact diff replayed from the materialized
    // (qid, pid, value, ts) observation frame — latest fetch via a qid
    // window, then both presence flags in one conditional aggregate
    "kg24_triple_diff" ->
      s"""WITH o AS (
         |  SELECT * FROM read_parquet('$OF/kg24_obs/*.parquet')),
         |m AS (
         |  SELECT *, max(ts) OVER (PARTITION BY qid) AS max_ts FROM o),
         |f AS (
         |  SELECT qid, pid, value,
         |    bool_or(ts < TIMESTAMP '2025-01-02 00:00:00') AS in_base,
         |    bool_or(ts = max_ts) AS in_current
         |  FROM m GROUP BY qid, pid, value)
         |SELECT qid, pid, value,
         |  CASE WHEN in_current THEN 'added' ELSE 'removed' END AS change
         |FROM f WHERE in_base <> in_current""".stripMargin,
    // kg20: SCD-2 validity intervals replayed from the materialized
    // (qid, value, ts) observation frame — change points via lag, interval
    // ends via lead, exactly the engine's two stacked windows
    "kg20_triple_scd" ->
      s"""WITH o AS (
         |  SELECT * FROM read_parquet('$OF/kg20_obs/*.parquet')),
         |c AS (
         |  SELECT qid, value, ts,
         |    lag(value) OVER (PARTITION BY qid ORDER BY ts) AS prev,
         |    lag(ts) OVER (PARTITION BY qid ORDER BY ts) AS prev_ts
         |  FROM o),
         |cp AS (
         |  SELECT qid, value, ts FROM c
         |  WHERE prev_ts IS NULL OR value IS DISTINCT FROM prev)
         |SELECT qid, value, ts AS valid_from,
         |  lead(ts) OVER (PARTITION BY qid ORDER BY ts) AS valid_to
         |FROM cp""".stripMargin,
    // kg22: the oracle rebuilds the SCD-2 history from the same observation
    // frame (the kg20 replay) and applies the interval-coverage predicate
    // at the two fixed probe instants
    "kg22_triple_asof" ->
      s"""WITH o AS (
         |  SELECT * FROM read_parquet('$OF/kg20_obs/*.parquet')),
         |c AS (
         |  SELECT qid, value, ts,
         |    lag(value) OVER (PARTITION BY qid ORDER BY ts) AS prev,
         |    lag(ts) OVER (PARTITION BY qid ORDER BY ts) AS prev_ts
         |  FROM o),
         |cp AS (
         |  SELECT qid, value, ts FROM c
         |  WHERE prev_ts IS NULL OR value IS DISTINCT FROM prev),
         |h AS (
         |  SELECT qid, value, ts AS valid_from,
         |    lead(ts) OVER (PARTITION BY qid ORDER BY ts) AS valid_to
         |  FROM cp),
         |p(probe, pts) AS (VALUES
         |  ('between_crawls', epoch_ms(1735732800000)),
         |  ('after_crawl2', epoch_ms(1735862400000)))
         |SELECT p.probe, h.qid, h.value, epoch_ms(h.valid_from) AS valid_from_ms
         |FROM h JOIN p ON h.valid_from <= p.pts
         |  AND (h.valid_to IS NULL OR p.pts < h.valid_to)""".stripMargin,
    // kg21: components recomputed FROM SCRATCH over base ∪ delta edges
    // (recursive-CTE closure + min-label, the kg5 shape) — an independent
    // check that the engine's incremental contracted-graph fold equals the
    // full recompute
    "kg21_canon_delta" ->
      s"""WITH RECURSIVE e AS (
         |  SELECT src, dst FROM read_parquet('$OF/kg21_base_edges/*.parquet')
         |  UNION
         |  SELECT src, dst FROM read_parquet('$OF/kg21_delta_edges/*.parquet')),
         |sym AS (SELECT src, dst FROM e UNION SELECT dst, src FROM e),
         |n AS (
         |  SELECT id FROM read_parquet('$OF/kg21_nodes/*.parquet')
         |  UNION SELECT src AS id FROM sym),
         |reach(id, r) AS (
         |  SELECT id, id AS r FROM n
         |  UNION
         |  SELECT reach.id, sym.dst AS r FROM reach JOIN sym ON reach.r = sym.src)
         |SELECT id, min(r) AS component FROM reach GROUP BY id HAVING min(r) <> id""".stripMargin,
    // kg18: left join + conditional aggregation replayed from the
    // materialized claim-row and known-id frames
    "kg18_dangling_refs" ->
      s"""SELECT pid, count(*) AS n_refs, count(k.id) AS n_resolved,
         |  count(*) - count(k.id) AS n_dangling
         |FROM read_parquet('$OF/kg18_qid_refs/*.parquet') r
         |LEFT JOIN read_parquet('$OF/kg18_known_ids/*.parquet') k
         |  ON k.id = r.valueScalar
         |GROUP BY pid""".stripMargin,
    // kg17: counts, pair weights, and the exact double arithmetic
    // (w::DOUBLE * n, then / (ca::DOUBLE * cb::DOUBLE) — counts cast
    // BEFORE multiplying, as the engine does) recomputed from the materialized
    // bipartite frame; ranked cut tie-broken on (a, b)
    "kg17_cooccur_lift" ->
      s"""WITH uq AS (
         |  SELECT DISTINCT url, qid FROM read_parquet('$OF/kg17_urlqid/*.parquet')),
         |nn AS (SELECT count(DISTINCT url) AS n FROM uq),
         |dc AS (SELECT qid, count(*) AS c FROM uq GROUP BY qid),
         |pr AS (
         |  SELECT a.qid AS a, b.qid AS b, count(*) AS w
         |  FROM uq a JOIN uq b ON a.url = b.url AND a.qid < b.qid
         |  GROUP BY 1, 2 HAVING count(*) >= 2),
         |l AS (
         |  SELECT pr.a, pr.b, pr.w,
         |         CAST(pr.w AS DOUBLE) * nn.n / (CAST(ca.c AS DOUBLE) * CAST(cb.c AS DOUBLE)) AS lift
         |  FROM pr CROSS JOIN nn
         |  JOIN dc ca ON ca.qid = pr.a JOIN dc cb ON cb.qid = pr.b)
         |SELECT a, b, w, lift FROM l ORDER BY lift DESC, a, b LIMIT 50""".stripMargin,
    // mm1: the stub decode is the non-SQL kernel; the oracle replays the
    // per-kind aggregation from the materialized decoded-metadata frames
    "mm1_media_stats" ->
      s"""SELECT 'image' AS kind, count(*) AS n, CAST(sum(width) AS BIGINT) AS sum_w
        |FROM read_parquet('$OF/mm1_images/*.parquet')
        |UNION ALL
        |SELECT 'video_frames' AS kind, count(*) AS n, CAST(sum(t_ms) AS BIGINT) AS sum_w
        |FROM read_parquet('$OF/mm1_frames/*.parquet')""".stripMargin,
    // mm2: the byte→pHash kernel is the non-SQL half (materialized as
    // (doc_id, sig)); the oracle replays the dd2 recipe — 16-bit block
    // bucket join + exact hamming — over the signature frame
    "mm2_media_neardup" ->
      s"""WITH s AS (
         |  SELECT doc_id, sig FROM read_parquet('$OF/mm2_sigs/*.parquet')),
         |blk AS (
         |  SELECT doc_id, b AS block, (sig >> CAST(b * 16 AS INT)) & 65535 AS key
         |  FROM s CROSS JOIN range(4) t(b)),
         |cand AS (
         |  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
         |  FROM blk x JOIN blk y ON x.block = y.block AND x.key = y.key
         |    AND x.doc_id < y.doc_id)
         |SELECT c.a, c.b, bit_count(xor(sa.sig, sb.sig)) AS hamming
         |FROM cand c
         |JOIN s sa ON sa.doc_id = c.a
         |JOIN s sb ON sb.doc_id = c.b
         |WHERE bit_count(xor(sa.sig, sb.sig)) <= 3""".stripMargin,
  )
}
