package graft.operators

import graft.tables.Checkpoints
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Near-duplicate detection over the `documents` table — the training-data
  * dedup family: exact, MinHash+LSH banding, SimHash, n-gram Jaccard.
  * Generalizes the reference's `ON CONFLICT DO NOTHING` exact dedup
  * (src/wikidataDB.py:46-76) to fuzzy matching at corpus scale.
  *
  * Scale shape shared by all of them: map each doc to a small signature
  * (narrow stage), shuffle only (signature, doc_id) pairs, join/group within
  * buckets — the raw text never crosses the wire twice.
  *
  * Plan hygiene (measured 30×+ speedups at sf0.1): token/shingle arrays are
  * materialized in their own projection before any expression that
  * references them repeatedly — otherwise each lambda reference re-evaluates
  * the `split()` per array element. Signatures are computed in ONE pass
  * (`transform(sequence(...))` for minhash; a typed map for simhash's
  * 64-bit vote, which as 64 separate `aggregate()` columns re-walked the
  * token array 64 times).
  */
object Dedup {

  private def docs(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/documents.parquet")

  /** Word 3-gram shingles, first-occurrence order (pure Scala — matches the
    * SQL oracle's `list_distinct(list_transform(...))` set-wise).
    */
  def shinglesScala(text: String, n: Int = 3): Seq[String] = {
    // TextAnalysis.WhitespaceRe: RE2 \s (the oracle dialect) minus Java's
    // extra U+000B match
    val toks = text.trim.split(TextAnalysis.WhitespaceRe).filter(_.nonEmpty)
    if (toks.length < n) Seq.empty
    else {
      val out = scala.collection.mutable.LinkedHashSet.empty[String]
      var i = 0
      while (i + n <= toks.length) { out += toks.slice(i, i + n).mkString(" "); i += 1 }
      out.toSeq
    }
  }

  /** (doc_id, sh) via a typed map — per-row shingle/tokenize loops are
    * imperative logic; as nested column lambdas they re-evaluated the token
    * array per element (measured 40s → <2s at sf0.1).
    */
  private def withShingles(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    docs(spark, dir).select("doc_id", "text").as[(Long, String)]
      .map { case (id, text) => (id, shinglesScala(text)) }
      .toDF("doc_id", "sh")
      .filter(size(col("sh")) > 0)
  }

  /** md5-derived double-hash pieces for a shingle: h1 = first 60 bits of the
    * digest hex, h2 = the next 32 — hash_i = h1 + i·h2 (Kirsch–Mitzenmacher).
    * One MD5 per shingle, and — the point — DuckDB-reproducible:
    * `CAST('0x' || substring(md5(g), 1, 15) AS BIGINT)` etc., so the LSH
    * output has a hard SQL oracle instead of a recall-only spec. Values stay
    * below 2^60 + 16·2^32, so i·h2 never overflows a signed long on either
    * engine. (Replaces a seeded FNV mix the oracle couldn't express.)
    */
  def mhashPieces(g: String): (Long, Long) = {
    val hex = graft.triples.Triples.md5Hex(g)
    (java.lang.Long.parseLong(hex.substring(0, 15), 16),
      java.lang.Long.parseLong(hex.substring(15, 23), 16))
  }

  /** MinHash signatures, all k mins in one pass per doc (typed map). */
  def minhashSigs(spark: SparkSession, dir: String, numHashes: Int): DataFrame = {
    import spark.implicits._
    docs(spark, dir).select("doc_id", "text").as[(Long, String)]
      .map { case (id, text) =>
        val sh = shinglesScala(text)
        val sig = Array.fill(numHashes)(Long.MaxValue)
        sh.foreach { g =>
          val (h1, h2) = mhashPieces(g)
          var i = 0
          while (i < numHashes) {
            val h = h1 + i * h2
            if (h < sig(i)) sig(i) = h
            i += 1
          }
        }
        (id, sig.toSeq, sh.nonEmpty)
      }
      .toDF("doc_id", "sig", "nonEmpty")
      .filter(col("nonEmpty")).drop("nonEmpty")
  }

  /** MinHash + LSH banding: docs sharing any band bucket are candidate
    * pairs; est_jaccard = fraction of agreeing signature positions.
    * Returns (a, b, est_jaccard) with a < b.
    */
  def minhashLsh(spark: SparkSession, dir: String, numHashes: Int = 16, bands: Int = 4,
                 threshold: Double = 0.5): DataFrame =
    Checkpoints.superstep(spark, None) { s =>
      // both self-join sides read the bucket frame: hold it so signatures
      // are computed once per doc, not once per side
      val buckets = s.hold(bandBuckets(minhashSigs(spark, dir, numHashes), numHashes, bands))
      s.materialize(minhashLshFrame(buckets, numHashes, threshold))
    }

  /** (doc_id, sig, bucket) frame: one row per doc per band, bucket = the
    * band id + its signature slice.
    */
  private def bandBuckets(d: DataFrame, numHashes: Int, bands: Int): DataFrame = {
    val perBand = numHashes / bands
    val bandCols = (0 until bands).map { b =>
      struct(lit(b).as("band") +:
        (0 until perBand).map(r => element_at(col("sig"), b * perBand + r + 1).as(s"r$r")): _*)
        .as("bucket")
    }
    d.select(col("doc_id"), col("sig"), explode(array(bandCols: _*)).as("bucket"))
  }

  /** Shared candidate-join/estimate plan: the full and incremental seams
    * differ ONLY in the optional right-side (batch) filter — one place owns
    * the estimate expression and the filter-before-dedup ordering.
    */
  private def lshPairEstimates(buckets: DataFrame, rightFilter: Option[Column],
                               numHashes: Int, threshold: Double): DataFrame = {
    val l = buckets.select(col("bucket"), col("doc_id").as("a"), col("sig").as("siga"))
    val r = rightFilter.fold(buckets)(buckets.filter)
      .select(col("bucket"), col("doc_id").as("b"), col("sig").as("sigb"))
    // similarity-filter BEFORE the (a,b) dedup shuffle: the estimate is a
    // narrow map over the joined rows, so only pairs that pass it travel —
    // at corpus scale the candidate stream is orders of magnitude larger
    // than the survivor set
    l.join(r, Seq("bucket")).filter(col("a") < col("b"))
      .select(col("a"), col("b"),
        (size(filter(zip_with(col("siga"), col("sigb"), (x, y) => x === y), bEq => bEq))
          .cast("double") / numHashes).as("est_jaccard"))
      .filter(col("est_jaccard") >= threshold)
      .dropDuplicates("a", "b")
  }

  /** The candidate-join/estimate plan over a (pre-persisted) bucket frame —
    * the plan seam PlanShapeSpec pins.
    */
  def minhashLshFrame(buckets: DataFrame, numHashes: Int, threshold: Double): DataFrame =
    lshPairEstimates(buckets, None, numHashes, threshold)

  /** Incremental MinHash dedup — the ingestion shape at corpus scale: a new
    * batch (doc_id ≥ splitId) is checked against the existing corpus AND
    * within itself, but corpus×corpus pairs NEVER form. One side of the
    * band-bucket join is everything, the other side is ONLY the batch
    * (its filter pushes to the scan — plan-pinned), so per-ingest cost is
    * O(batch × collision rate), not O(corpus²) re-paired every time; at
    * 100 TB the corpus-side signatures would be a persisted bucket-keyed
    * table the batch joins into. Returns exactly the dd1 pairs that involve
    * ≥1 batch doc (a < b, so that is `b ≥ splitId`) — which is how the
    * DuckDB oracle states it.
    */
  def minhashLshIncremental(spark: SparkSession, dir: String, splitId: Long,
                            numHashes: Int = 16, bands: Int = 4,
                            threshold: Double = 0.5): DataFrame =
    Checkpoints.superstep(spark, None) { s =>
      val buckets = s.hold(bandBuckets(minhashSigs(spark, dir, numHashes), numHashes, bands))
      s.materialize(minhashLshIncrementalFrame(buckets, splitId, numHashes, threshold))
    }

  /** The incremental candidate join over a (pre-persisted) bucket frame —
    * the plan seam PlanShapeSpec pins: the batch filter sits under exactly
    * one join side (the corpus never self-pairs); everything else is the
    * shared [[lshPairEstimates]] plan.
    */
  def minhashLshIncrementalFrame(buckets: DataFrame, splitId: Long,
                                 numHashes: Int, threshold: Double): DataFrame =
    lshPairEstimates(buckets, Some(col("doc_id") >= splitId), numHashes, threshold)

  /** The dd4 query entry: the "batch" is the newest 20% of doc ids — the
    * split point is a bounded 1-row aggregate both engines compute
    * identically (`floor(max(doc_id) * 0.8)`).
    */
  def minhashLshIncrementalDocs(spark: SparkSession, dir: String): DataFrame = {
    val split = docs(spark, dir)
      .agg(floor(max(col("doc_id")) * 0.8).cast("long")).collect()(0).getLong(0)
    minhashLshIncremental(spark, dir, splitId = split)
  }

  /** 64-bit SimHash per doc — typed map (single pass over tokens). */
  def simhashSigs(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    docs(spark, dir).select("doc_id", "text").as[(Long, String)]
      .map { case (id, text) => (id, simhash64(text)) }
      .toDF("doc_id", "sig")
  }

  /** Pure single-pass SimHash. The per-token 64-bit value is the first 16
    * hex chars of md5(token) — low word = hex[8,16), high word = hex[0,8) —
    * so the DuckDB oracle reproduces each bit as
    * `(CAST('0x'||substring(md5(t),9,8) AS BIGINT) >> b) & 1` (b<32) /
    * the [1,8) slice shifted by b−32 (b≥32). Replaces a `String.hashCode`
    * mix SQL couldn't express.
    */
  def simhash64(text: String): Long = {
    val votes = new Array[Int](64)
    val seen = scala.collection.mutable.HashSet.empty[String]
    text.toLowerCase.split("\\W+").foreach { t =>
      if (t.nonEmpty && seen.add(t)) {
        val hex = graft.triples.Triples.md5Hex(t)
        val hi = java.lang.Long.parseLong(hex.substring(0, 8), 16)
        val lo = java.lang.Long.parseLong(hex.substring(8, 16), 16)
        val h = (hi << 32) | lo
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
          b += 1
        }
      }
    }
    var sig = 0L
    var b = 0
    while (b < 64) { if (votes(b) > 0) sig |= (1L << b); b += 1 }
    sig
  }

  /** Near-dups = hamming distance ≤ maxDist, candidates via equal-width
    * block buckets. Pigeonhole soundness requires MORE blocks than the
    * distance budget (dist ≤ d over b > d blocks ⇒ at least one block
    * equal), so the block count is DERIVED: maxDist+1 blocks of 64/(d+1)
    * bits — 4×16-bit at the default maxDist=3 (what the dd2 oracle pins).
    * A fixed block count with a free maxDist would silently lose recall.
    */
  def simhashNearDup(spark: SparkSession, dir: String, maxDist: Int = 3): DataFrame =
    Checkpoints.superstep(spark, None) { s =>
      val blocks = s.hold(simhashBlocksOf(simhashSigs(spark, dir), maxDist)) // feeds both self-join sides
      s.materialize(simhashNearDupFrame(blocks, maxDist))
    }

  /** Equal-width bit-block frame (doc_id, sig, block, key) over ANY
    * (doc_id, sig) signature frame — the candidate-bucket construction is
    * signature-agnostic, so the media pHash family (mm2) reuses it
    * unchanged. Block count derives from maxDist (pigeonhole soundness —
    * see [[simhashNearDup]]).
    */
  def simhashBlocksOf(sigs: DataFrame, maxDist: Int): DataFrame = {
    require(maxDist >= 0 && maxDist < 64, s"maxDist $maxDist out of range")
    val nBlocks = maxDist + 1
    val width = 64 / nBlocks // last block absorbs the remainder bits
    (0 until nBlocks).map { b =>
      val lo = b * width
      val hi = if (b == nBlocks - 1) 64 else (b + 1) * width
      val mask = if (hi - lo == 64) -1L else (1L << (hi - lo)) - 1L
      sigs.select(col("doc_id"), col("sig"),
        lit(b).as("block"), shiftright(col("sig"), lo).bitwiseAND(lit(mask)).as("key"))
    }.reduce(_ unionByName _)
  }

  /** The block-bucket candidate join over a (pre-persisted) block frame. */
  def simhashNearDupFrame(blocks: DataFrame, maxDist: Int): DataFrame = {
    val l = blocks.select(col("block"), col("key"), col("doc_id").as("a"), col("sig").as("siga"))
    val r = blocks.select(col("block"), col("key"), col("doc_id").as("b"), col("sig").as("sigb"))
    // hamming-filter before the (a,b) dedup shuffle — same ordering rule as
    // the minhash path: only surviving pairs shuffle
    l.join(r, Seq("block", "key")).filter(col("a") < col("b"))
      .select(col("a"), col("b"),
        bit_count(col("siga").bitwiseXOR(col("sigb"))).as("hamming"))
      .filter(col("hamming") <= maxDist)
      .dropDuplicates("a", "b")
  }

  /** Exact n-gram Jaccard over all pairs sharing ≥1 shingle, via an
    * inverted-index join: explode (doc, shingle), self-join on shingle,
    * count matches per pair = |A∩B| (shingles are distinct per doc), then
    * |A∪B| = |A|+|B|−|A∩B| from per-doc sizes. No arrays cross the shuffle,
    * so this is the 100 TB-exact-dedup shape (pair space bounded by shared
    * shingles, not n²). DuckDB-oracle-backed.
    *
    * `maxDf` caps shingle document frequency before the self-join: a single
    * boilerplate shingle shared by k docs otherwise yields k² pair rows — the
    * one quadratic blow-up in this plan at web scale. Shingles above the cap
    * are dropped from the shingle universe entirely (postings AND per-doc
    * sizes — standard near-dup practice), and the oracle SQL applies the
    * identical cap, so semantics match by definition. The window count rides
    * the same hash-partitioning by `g` the self-join needs anyway.
    */
  def ngramJaccardExact(spark: SparkSession, dir: String, threshold: Double = 0.03,
                        maxDf: Int = 1000): DataFrame =
    Checkpoints.superstep(spark, None) { s =>
      // hold the capped postings: they feed BOTH self-join sides and the
      // per-doc sizes — without it the shingle map ran 4× per query
      // (MEMORY_AND_DISK, so at scale the posting list spills rather than
      // recomputes)
      val inv = s.hold(cappedPostings(spark, dir, maxDf))
      s.materialize(ngramJaccardFrame(inv, threshold))
    }

  /** The df-capped inverted index (doc_id, g): the window count rides the
    * same hash-partitioning by `g` the downstream self-join needs anyway.
    */
  def cappedPostings(spark: SparkSession, dir: String, maxDf: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = withShingles(spark, dir)
    d.select(col("doc_id"), explode(col("sh")).as("g"))
      .withColumn("_df", count(lit(1)).over(Window.partitionBy("g")))
      .filter(col("_df") <= maxDf).drop("_df")
  }

  /** The inverted-index self-join + Jaccard over (pre-persisted) postings —
    * the plan seam PlanShapeSpec pins.
    */
  def ngramJaccardFrame(inv: DataFrame, threshold: Double): DataFrame = {
    val sizes = inv.groupBy("doc_id").agg(count(lit(1)).as("nsh"))
    val inter = inv.as("x").join(inv.as("y"),
        col("x.g") === col("y.g") && col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.select(col("doc_id").as("a"), col("nsh").as("na")), Seq("a"))
      .join(sizes.select(col("doc_id").as("b"), col("nsh").as("nb")), Seq("b"))
      .select(col("a"), col("b"),
        (col("inter").cast("double") / (col("na") + col("nb") - col("inter"))).as("_raw"))
      // threshold the RAW value, round only for display — the dd3 oracle
      // filters raw, and a boundary pair must not diverge on the rounding
      .filter(col("_raw") >= threshold)
      .select(col("a"), col("b"), round(col("_raw"), 6).as("jaccard"))
  }

  /** dd5: dedup APPLICATION — turn the MinHash/LSH candidate PAIRS into an
    * actionable per-document verdict: cluster the pairs with connected
    * components, elect the min-doc_id of each cluster as its canonical
    * keeper, and emit (doc_id, canon_id, kept) for every document touched
    * by a duplicate pair. `kept = false` rows are exactly the delete list a
    * curation pipeline applies; the surviving corpus is an anti-join of
    * `documents` against them. Pairs alone never deduplicate anything —
    * transitivity matters (A~B, B~C must keep ONE of three even when A~C
    * was never a candidate pair), which is why the group step is components,
    * not a pair-wise argmin.
    *
    * 100 TB shape: the pair stream is the already-pruned LSH survivor set
    * (orders of magnitude smaller than the corpus); components iterate over
    * (id, label) scalars only with per-round checkpoint truncation
    * ([[graft.canon.ConnectedComponents.run]], reliable-checkpoint option
    * for real clusters); the verdict is a projection of the assignment. The
    * corpus itself is never touched past signature extraction.
    */
  def dedupApply(spark: SparkSession, dir: String, numHashes: Int = 16,
                 bands: Int = 4, threshold: Double = 0.5,
                 checkpointDir: Option[String] = None): DataFrame = {
    val pairs = minhashLsh(spark, dir, numHashes, bands, threshold)
    val edges = pairs.select(col("a").as("src"), col("b").as("dst"))
    val noExtraNodes = spark.range(0).select(col("id"))
    graft.canon.ConnectedComponents
      .run(spark, edges, noExtraNodes, checkpointDir = checkpointDir)
      .select(
        col("id").as("doc_id"),
        col("component").as("canon_id"),
        (col("id") === col("component")).as("kept"))
  }
}
