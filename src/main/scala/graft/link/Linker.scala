package graft.link

import graft.mention.AhoCorasick
import graft.tables.Checkpoints
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Mention detection + embedding-based entity-link scoring (north_star
  * stages 2–3).
  *
  * Mentions: Aho-Corasick over the broadcast label+alias trie, one narrow
  * pass over the extracted text (no shuffle).
  *
  * Linking: every (mention, candidate QID) pair is scored with cosine
  * similarity between the mention's local context embedding (computed
  * map-side by the deterministic stand-in embedder) and the candidate
  * entity's item-text embedding (K1 semantics, K default 50 like the
  * reference's retrieval top-K). Candidate resolution is an equi-join on the
  * candidate QID — the embedding table never broadcasts, so this survives a
  * 9.2M-entity dimension; the per-mention top-K is a window over
  * (url, begin).
  */
object Linker {

  /** Default broadcast budget for the mention-trie dictionary — one shared
    * constant so pipeline config and direct calls can't drift apart.
    */
  val DefaultBroadcastBudgetChars: Long = 64L * 1000 * 1000

  /** (surface → candidate ids) for the mention trie, from the en rows of a
    * label dimension (id, lang, label, is_property, aliases). Stays a
    * DataFrame: [[mentionsSharded]] decides whether it fits one broadcast.
    */
  def mentionDict(labels: DataFrame): DataFrame =
    labels.filter(!col("is_property") && col("lang") === "en")
      .select(col("id"), explode(array_union(array(col("label")), col("aliases"))).as("surface"))
      .filter(length(col("surface")) > 0)
      .groupBy("surface").agg(collect_list("id").as("ids"))

  private val contextChars = 80

  /** The context window around a mention, captured map-side while the full
    * text is in hand — downstream linking never re-joins the (wide) texts
    * table; only the small context window travels.
    */
  private def contextOf(text: String, begin: Int, end: Int): String =
    text.substring(math.max(0, begin - contextChars), math.min(text.length, end + contextChars))

  /** Resolved (leftmost-longest) mentions BEFORE the candidate explode:
    * (url, self_id, surface, begin, end, qids, context) — one row per
    * mention span with its full candidate array. The trie match is the
    * non-SQL kernel; everything after this frame is relational. Works on
    * batch AND streaming texts frames (narrow flatMap) — the streaming
    * mention stage calls this directly so the kernels cannot drift.
    */
  def resolvedRows(spark: SparkSession, texts: DataFrame,
                   trie: Broadcast[AhoCorasick]): DataFrame = {
    import spark.implicits._
    texts.select("url", "id", "text").as[(String, String, String)]
      .flatMap { case (url, selfId, text) =>
        trie.value.findMentions(text).map { m =>
          (url, selfId, m.surface, m.begin, m.end, m.qids, contextOf(text, m.begin, m.end))
        }
      }
      .toDF("url", "self_id", "surface", "begin", "end", "qids", "context")
  }

  /** The candidate explode as a Catalyst expression chain: drop the page's
    * own entity, sort for determinism, cap the fan-out (uncapped explosion
    * on a hyper-ambiguous surface is the mention-side skew hazard at corpus
    * scale), explode. Pure column functions — codegen'd, and replayable by
    * the DuckDB oracle from a materialized resolved-mentions frame (kg2).
    */
  def explodeCandidates(resolved: DataFrame, maxCandidates: Int = 50): DataFrame =
    resolved.select(
      col("url"), col("surface"), col("begin"), col("end"),
      explode(slice(array_sort(filter(col("qids"), q => q =!= col("self_id"))),
        1, maxCandidates)).as("qid"),
      col("context"))
      .select("url", "surface", "begin", "end", "qid", "context")

  /** Mention detection with a broadcast-size guard (SURVEY.md §7.4): the
    * surface dictionary `dict(surface, ids)` stays distributed; one tiny agg
    * measures it, and only if it fits `broadcastBudgetChars` is it collected
    * into a single trie. Past the budget the dictionary hash-shards by
    * surface into ceil(total/budget) shard tries built EXECUTOR-SIDE (see
    * [[resolvedMentions]]) — the driver never holds a shard — and the
    * single-trie leftmost-longest policy replays per document, so output is
    * identical to the one-trie path (spec-pinned).
    */
  def mentionsSharded(spark: SparkSession, texts: DataFrame, dict: DataFrame,
                      broadcastBudgetChars: Long = DefaultBroadcastBudgetChars,
                      maxCandidates: Int = 50): DataFrame =
    explodeCandidates(
      resolvedMentions(spark, texts, dict, broadcastBudgetChars), maxCandidates)

  /** The sharded match+resolve up to (but not including) the candidate
    * explode: (url, self_id, surface, begin, end, qids, context). This is
    * the kg2 oracle-frame seam — [[explodeCandidates]] is the relational
    * half DuckDB replays.
    *
    * Past the broadcast budget the shard tries are built EXECUTOR-SIDE via
    * a fragment-and-replicate cogroup: the dictionary hash-shards by
    * surface into `nShards` ≤-budget fragments and is replicated across
    * `nBuckets` text buckets; the texts hash into buckets and are
    * replicated across shards; each (shard, bucket) cogroup task builds
    * its shard's trie from the dictionary iterator (peak memory = one
    * shard, the same bound the old driver build had) and streams its
    * texts through it. Round 3 built each shard trie ON THE DRIVER in a
    * sequential collect+build+broadcast loop — a driver-side pipeline
    * bubble where 1000 executors idle between shard scans; this shape has
    * no driver involvement and parallelism nShards × nBuckets. Cost moved
    * INTO the cluster: the dictionary shuffles nBuckets copies and the
    * texts nShards copies (both compressed columnar shuffle files), and
    * each shard's trie is built nBuckets times — all embarrassingly
    * parallel. Raw matches then regroup per url so the single-trie
    * leftmost-longest policy replays exactly (output spec-pinned identical
    * to the one-trie path).
    *
    * `checkpointDir`: the resolved frame is eagerly materialized (it feeds
    * several downstream consumers; without it each would replay the
    * texts×shards shuffle). None = `localCheckpoint` (single-JVM mode);
    * Some(dir) = reliable `checkpoint()` so an executor loss during the
    * long mention/link stages re-reads files instead of recomputing the
    * corpus scan — see [[graft.tables.Checkpoints]].
    */
  def resolvedMentions(spark: SparkSession, texts: DataFrame, dict: DataFrame,
                       broadcastBudgetChars: Long = DefaultBroadcastBudgetChars,
                       checkpointDir: Option[String] = None): DataFrame = {
    import spark.implicits._
    val stats = dict.agg(coalesce(sum(length(col("surface"))), lit(0L)).cast("long")).collect()(0)
    val totalChars = stats.getLong(0)
    val nShards = math.max(1L, (totalChars + broadcastBudgetChars - 1) / broadcastBudgetChars).toInt
    if (nShards == 1) {
      val entries = dict.as[(String, Seq[String])].collect()
      val trie = spark.sparkContext.broadcast(AhoCorasick.build(entries.map(d => d._1 -> d._2)))
      return resolvedRows(spark, texts, trie)
    }

    // enough buckets that shard×bucket tasks use the session's parallelism
    val nBuckets = math.max(1,
      spark.conf.get("spark.sql.shuffle.partitions").toInt / nShards)

    val dictRep = dict
      .select(
        pmod(xxhash64(col("surface")), lit(nShards.toLong)).cast("int").as("s"),
        explode(lit((0 until nBuckets).toArray)).as("p"),
        col("surface"), col("ids"))
      .as[(Int, Int, String, Seq[String])]
      .groupByKey(r => (r._1, r._2))
    val textsRep = texts
      .select(
        explode(lit((0 until nShards).toArray)).as("s"),
        pmod(xxhash64(col("url")), lit(nBuckets.toLong)).cast("int").as("p"),
        col("url"), col("id"), col("text"))
      .as[(Int, Int, String, String, String)]
      .groupByKey(r => (r._1, r._2))

    val raw = dictRep.cogroup(textsRep) { case (_, dIt, tIt) =>
      // the dictionary side is consumed first (bounded by the shard
      // budget); the texts side streams
      val entries = dIt.map(r => r._3 -> r._4).toArray
      if (entries.isEmpty) Iterator.empty
      else {
        val trie = AhoCorasick.build(entries)
        tIt.flatMap { case (_, _, url, selfId, text) =>
          trie.findRawMentions(text).map { m =>
            (url, selfId, m.surface, m.begin, m.end, m.qids, contextOf(text, m.begin, m.end))
          }
        }
      }
    }

    val resolved = raw
      .groupByKey(_._1)
      .flatMapGroups { (url: String, it: Iterator[(String, String, String, Int, Int, Seq[String], String)]) =>
        val hits = it.toVector
        val selfId = hits.head._2
        val bySpan = hits.map(h => (h._4, h._5) -> h).toMap
        AhoCorasick.resolveLeftmostLongest(
          hits.map(h => graft.mention.Mention(h._3, h._6, h._4, h._5)))
          .iterator.map { m =>
            val (_, _, surface, begin, end, qids, ctx) = bySpan((m.begin, m.end))
            (url, selfId, surface, begin, end, qids, ctx)
          }
      }
      .toDF("url", "self_id", "surface", "begin", "end", "qids", "context")
    Checkpoints.superstep(spark, checkpointDir)(_.materialize(resolved))
  }

  /** The non-SQL half of linking: each mention's local context embedded
    * map-side in 64-row batches (the mapPartitions shape a real encoder
    * drops into). Output: (url, surface, begin, end, qid, ctx_vec).
    */
  def contextVecs(mentionsDf: DataFrame): DataFrame = {
    val spark = mentionsDf.sparkSession
    import spark.implicits._
    mentionsDf
      .select(col("url"), col("surface"), col("begin"), col("end"), col("qid"), col("context"))
      .as[(String, String, Int, Int, String, String)]
      .mapPartitions { it =>
        it.grouped(64).flatMap { batch =>
          val vecs = Embedder.encodeBatch(batch.map(_._6))
          batch.zip(vecs).map { case ((url, s, b, e, q, _), v) => (url, s, b, e, q, v) }
        }
      }
      .toDF("url", "surface", "begin", "end", "qid", "ctx_vec")
  }

  /** The relational half: resolve candidates by equi-join on the candidate
    * QID (the vec table never broadcasts), cosine-score, keep top-K per
    * mention via a (url, begin) window. DuckDB-oracle-replayable given the
    * two input frames (kg3's hard-oracle path).
    */
  def scoreTopK(withContext: DataFrame, entityVecs: DataFrame, k: Int): DataFrame = {
    val scored = withContext
      .join(entityVecs.select(col("id").as("qid"), col("vec")), Seq("qid"))
      .withColumn("score", graft.operators.Similarity.cosineCol(col("ctx_vec"), col("vec")))

    val w = Window.partitionBy("url", "begin").orderBy(desc("score"), asc("qid"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("url", "begin", "end", "surface", "qid", "score", "rank")
  }

  /** Score candidates and keep top-K per mention.
    * Output: (url, begin, end, surface, qid, score, rank).
    */
  def link(spark: SparkSession, mentionsDf: DataFrame,
           entityVecs: DataFrame, k: Int = 50): DataFrame =
    scoreTopK(contextVecs(mentionsDf), entityVecs, k)

  /** The non-SQL half of LSH linking: one context embedding per mention span
    * (batched map). Output: (url, surface, begin, end, ctx_vec) — the kg11
    * oracle-frame seam; everything after is relational (the plane
    * projections are md5-derived column arithmetic DuckDB replays).
    */
  def embedMentions(resolved: DataFrame): DataFrame = {
    val spark = resolved.sparkSession
    import spark.implicits._
    resolved
      .select(col("url"), col("surface"), col("begin"), col("end"), col("context"))
      .as[(String, String, Int, Int, String)]
      .mapPartitions { it =>
        it.grouped(64).flatMap { batch =>
          val vecs = Embedder.encodeBatch(batch.map(_._5))
          batch.zip(vecs).map { case ((u, s, b, e, _), v) => (u, s, b, e, v) }
        }
      }
      .toDF("url", "surface", "begin", "end", "ctx_vec")
  }

  /** LSH candidate generation (the north-star's alternative to the surface
    * dictionary) over a pre-embedded mention frame ([[embedMentions]]):
    * mention context embeddings and entity item-text embeddings are
    * sign-bucketed with the SAME seeded hyperplanes; same-bucket pairs
    * across `tables` independent hash tables are the candidate set, scored
    * exactly and re-ranked per mention. Finds candidates the surface trie
    * cannot (paraphrases, unseen aliases) at |corpus|·tables/2^bits expected
    * candidates per mention instead of |entities|.
    *
    * Same scale discipline as the ANN paths: the cosine is computed inside
    * each table branch (narrow, vectors in hand) so the cross-table dedup
    * shuffles only scalar rows, and the entity side is an equi-join on the
    * bucket id — nothing broadcasts, nothing goes quadratic.
    *
    * `checkpointDir` = reliable checkpoint for the materialized result (an
    * executor loss after a long link stage re-reads files instead of
    * re-running it); None = localCheckpoint, the single-JVM mode.
    * Output: (url, begin, end, surface, qid, score, rank).
    */
  def linkLshScored(ments0: DataFrame, entityVecs: DataFrame,
                    k: Int, bits: Int, tables: Int, dimLen: Int,
                    checkpointDir: Option[String] = None): DataFrame =
    Checkpoints.superstep(ments0.sparkSession, checkpointDir) { s =>
      import graft.operators.Similarity
      // every hash table re-buckets the same embedded frame
      val ments = s.hold(ments0.withColumn("_n", Similarity.norm(col("ctx_vec"))))
      val ents = s.hold(entityVecs.select(col("id").as("qid"), col("vec"))
        .withColumn("_en", Similarity.norm(col("vec"))))
      s.materialize(linkLshFrame(ments, ents, k, bits, tables, dimLen))
    }

  /** The join/score/top-K plan itself, persist/checkpoint lifecycle aside
    * (PlanShapeSpec pins this plan). `ments` must carry `_n`, `ents` must be
    * (qid, vec, _en).
    */
  def linkLshFrame(ments: DataFrame, ents: DataFrame,
                   k: Int, bits: Int, tables: Int, dimLen: Int): DataFrame = {
    import graft.operators.Similarity
    // all hash tables in ONE frame: per-table buckets computed as an array
    // in a single projection, posexploded to (t, bucket) rows, and ONE
    // equi-join on (t, bucket) — a per-table union-of-joins ran `tables`
    // separate join stages over the same cached inputs (measured 6× the
    // wall time of this shape at tables=6)
    def withBuckets(df: DataFrame, vec: String): DataFrame =
      df.select(col("*"), posexplode(array((0 until tables).map(t =>
        Similarity.lshBucket(col(vec), dimLen, bits, seed = 91L + t)): _*))
        .as(Seq("t", "bucket")))
    // shuffle-HASH join, not sort-merge: both sides carry their embedding
    // arrays to the bucket rendezvous, and sorting 32-float payloads for an
    // SMJ was the measured wall-clock (the arrays only need to MEET, not
    // order)
    val candidates = withBuckets(ments, "ctx_vec")
      .join(withBuckets(ents, "vec").hint("shuffle_hash"), Seq("t", "bucket"))
      .select(col("url"), col("begin"), col("end"), col("surface"), col("qid"),
        Similarity.cosineWithNorms(col("ctx_vec"), col("vec"), col("_n"), col("_en"))
          .as("score"))
      .dropDuplicates("url", "begin", "qid")

    val w = Window.partitionBy("url", "begin").orderBy(desc("score"), asc("qid"))
    candidates
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("url", "begin", "end", "surface", "qid", "score", "rank")
  }
}
