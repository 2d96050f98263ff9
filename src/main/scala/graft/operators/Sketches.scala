package graft.operators

import graft.tables.Checkpoints
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** KMV (k-minimum-values) distinct-count sketch as a typed Spark
  * `Aggregator`: the buffer is the k smallest distinct 60-bit md5-prefix
  * hashes seen, so partial aggregation works map-side and only k longs per
  * group ever cross the shuffle — the bounded-memory shape `countDistinct`
  * (full dedup shuffle) and `approx_count_distinct` (opaque HLL bytes no
  * other engine can replay) don't give us together. "k smallest of the
  * union" is order- and partition-independent, so the sketch — and the
  * estimate `(k-1) / (h_k / 2^60)`, exactly two IEEE-double ops — is
  * bit-replayable by the d8 DuckDB oracle from the same md5 arithmetic.
  * Estimator: Beyer et al., "On Synopses for Distinct-Value Estimation
  * Under Multiset Operations" (SIGMOD'07); relative error ≈ 1/√(k−2).
  */
object Sketches {

  /** 60-bit hash = first 15 hex chars of md5 (`CAST('0x'||substring(md5(x),
    * 1,15) AS BIGINT)` in DuckDB — the dd1/dd2 signature recipe).
    */
  def kmvHash(value: Column): Column =
    conv(substring(md5(value.cast("binary")), 1, 15), 16, 10).cast("long")

  private val TwoPow60 = 1152921504606846976.0

  /** Buffer/result = strictly-increasing sorted array of ≤ k hashes. */
  final class KmvAgg(k: Int) extends Aggregator[Long, Array[Long], Array[Long]] {
    override def zero: Array[Long] = Array.empty

    override def reduce(buf: Array[Long], h: Long): Array[Long] = {
      val pos = java.util.Arrays.binarySearch(buf, h)
      if (pos >= 0) buf // already present
      else {
        val ins = -pos - 1
        if (ins >= k) buf // larger than the current k minima
        else {
          val n = math.min(buf.length + 1, k)
          val out = new Array[Long](n)
          System.arraycopy(buf, 0, out, 0, ins)
          out(ins) = h
          System.arraycopy(buf, ins, out, ins + 1, n - ins - 1)
          out
        }
      }
    }

    override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
      // sorted-merge keeping the k smallest distinct — O(k)
      val out = new Array[Long](math.min(a.length + b.length, k))
      var i = 0; var j = 0; var n = 0
      while (n < out.length && (i < a.length || j < b.length)) {
        val take =
          if (i >= a.length) { j += 1; b(j - 1) }
          else if (j >= b.length) { i += 1; a(i - 1) }
          else if (a(i) < b(j)) { i += 1; a(i - 1) }
          else if (a(i) > b(j)) { j += 1; b(j - 1) }
          else { i += 1; j += 1; a(i - 1) }
        out(n) = take; n += 1
      }
      if (n == out.length) out else java.util.Arrays.copyOf(out, n)
    }

    override def finish(r: Array[Long]): Array[Long] = r
    override def bufferEncoder =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
    override def outputEncoder =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
  }

  /** Estimate from a sketch array column: exact size below k (the sketch
    * saw everything), else `(k-1) / (h_k / 2^60)` — division order mirrored
    * by the oracle.
    */
  def kmvEstimate(mins: Column, k: Int): Column =
    when(size(mins) < k, size(mins).cast("double"))
      .otherwise(lit((k - 1).toDouble) /
        (element_at(mins, k).cast("double") / lit(TwoPow60)))

  /** Bottom-k-by-hash uniform sample, payload-carrying — the sampling
    * sibling of [[KmvAgg]]: buffer = the k rows with smallest (hash, id)
    * keys, so the sample is a deterministic uniform-without-replacement
    * draw that is order/partition-independent and mergeable ("k smallest
    * of the union" again), with map-side partials and k triples per group
    * on the wire. The d10 oracle recomputes the same sample relationally
    * (`row_number() OVER (ORDER BY h, id) <= k`). Rows are (hash, id,
    * value); the id tiebreak makes a 60-bit hash collision harmless.
    */
  final class BottomKSampleAgg(k: Int)
      extends Aggregator[(Long, Long, Long), Array[(Long, Long, Long)], Array[(Long, Long, Long)]] {
    private val ord = Ordering.by[(Long, Long, Long), (Long, Long)](r => (r._1, r._2))
    override def zero: Array[(Long, Long, Long)] = Array.empty

    override def reduce(buf: Array[(Long, Long, Long)], r: (Long, Long, Long)) = {
      val pos = {
        // binary search on (hash, id)
        var lo = 0; var hi = buf.length
        while (lo < hi) {
          val mid = (lo + hi) >>> 1
          if (ord.lt(buf(mid), r)) lo = mid + 1 else hi = mid
        }
        lo
      }
      if (pos < buf.length && buf(pos)._1 == r._1 && buf(pos)._2 == r._2) buf
      else if (pos >= k) buf
      else {
        val n = math.min(buf.length + 1, k)
        val out = new Array[(Long, Long, Long)](n)
        System.arraycopy(buf, 0, out, 0, pos)
        out(pos) = r
        System.arraycopy(buf, pos, out, pos + 1, n - pos - 1)
        out
      }
    }

    override def merge(a: Array[(Long, Long, Long)], b: Array[(Long, Long, Long)]) = {
      val out = new Array[(Long, Long, Long)](math.min(a.length + b.length, k))
      var i = 0; var j = 0; var n = 0
      while (n < out.length && (i < a.length || j < b.length)) {
        val take =
          if (i >= a.length) { j += 1; b(j - 1) }
          else if (j >= b.length) { i += 1; a(i - 1) }
          else if (ord.lt(a(i), b(j))) { i += 1; a(i - 1) }
          else if (ord.lt(b(j), a(i))) { j += 1; b(j - 1) }
          else { i += 1; j += 1; a(i - 1) }
        out(n) = take; n += 1
      }
      if (n == out.length) out else java.util.Arrays.copyOf(out, n)
    }

    override def finish(r: Array[(Long, Long, Long)]) = r
    override def bufferEncoder =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[(Long, Long, Long)]]()
    override def outputEncoder =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[(Long, Long, Long)]]()
  }

  /** d10: per-language p50/p90 of document length, estimated from the
    * deterministic bottom-64 sample next to the exact order statistics
    * (index = `(n-1)·q div 1` in pure integer arithmetic — no percentile
    * interpolation ambiguity to replay). The exact columns are the gate's
    * comparison; the sample path is the 100 TB pattern — no global
    * per-group sort, k triples per group cross the shuffle.
    */
  def d10QuantileSample(spark: SparkSession, dir: String, k: Int = 64): DataFrame =
    Checkpoints.superstep(spark, None) { s =>
      import org.apache.spark.sql.expressions.Window
      val sampler = udaf(new BottomKSampleAgg(k))
      // feeds BOTH the sampled and exact subtrees: scan + md5 hashing must
      // run once, not once per consumer
      val docs = s.hold(Relational.table(spark, dir, "documents")
        .filter(col("doc_id").isNotNull && col("n_chars").isNotNull) // typed
          // agg inputs are non-nullable Longs; oracle filters identically
        .select(col("lang"), col("doc_id"), col("n_chars"),
          kmvHash(col("doc_id").cast("string")).as("h")))

      val sampled = docs.groupBy("lang")
        .agg(sampler(col("h"), col("doc_id"), col("n_chars")).as("sample"))
        .select(col("lang"), size(col("sample")).as("m"),
          sort_array(expr("transform(sample, x -> x._3)")).as("sv"))
        .select(col("lang"), col("m"),
          element_at(col("sv"), expr("cast((m - 1) div 2 as int) + 1")).as("est_p50"),
          element_at(col("sv"), expr("cast(((m - 1) * 9) div 10 as int) + 1")).as("est_p90"))

      val wOrd = Window.partitionBy("lang").orderBy("n_chars", "doc_id")
      val wAll = Window.partitionBy("lang")
      val exact = docs
        .withColumn("rn", row_number().over(wOrd))
        .withColumn("n", count(lit(1)).over(wAll))
        .groupBy("lang").agg(
          max(col("n")).as("n_docs"),
          max(when(expr("rn = (n - 1) div 2 + 1"), col("n_chars"))).as("exact_p50"),
          max(when(expr("rn = ((n - 1) * 9) div 10 + 1"), col("n_chars"))).as("exact_p90"))
      s.materialize(exact.join(sampled, Seq("lang"))
        .select("lang", "n_docs", "m", "est_p50", "est_p90", "exact_p50", "exact_p90"))
    }

  /** Bloom-filter bitset as a typed OR-merge aggregate: the buffer is a
    * FIXED-SIZE array of `mBits/64` longs whatever the input cardinality —
    * the membership companion to [[KmvAgg]] (distinct counts) and the CMS
    * counters (frequencies). OR is commutative/associative/idempotent, so
    * partials build map-side, the shuffle moves exactly mBits/8 bytes per
    * group, and the result is order- and partition-invariant. Because the
    * set positions are plain md5-nibble arithmetic (not opaque library
    * state), another engine computes the IDENTICAL bit positions and the
    * filter's false positives are deterministic — which is what lets the
    * d22 gate hash-match a DuckDB replay bit for bit.
    *
    * Input rows are small position arrays (the k hash positions of one
    * element); positions out of range fail loudly rather than aliasing.
    */
  final class BloomOrAgg(mBits: Int)
      extends Aggregator[Array[Int], Array[Long], Array[Long]] {
    require(mBits > 0 && mBits % 64 == 0, s"mBits must be a positive multiple of 64, got $mBits")
    private val words = mBits / 64
    override def zero: Array[Long] = new Array[Long](words)

    override def reduce(buf: Array[Long], ps: Array[Int]): Array[Long] = {
      var i = 0
      while (i < ps.length) {
        val p = ps(i)
        if (p < 0 || p >= mBits)
          throw new IllegalArgumentException(
            s"BloomOrAgg: position $p out of [0, $mBits)")
        buf(p >>> 6) |= 1L << (p & 63)
        i += 1
      }
      buf
    }

    override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
      var i = 0
      while (i < words) { a(i) |= b(i); i += 1 }
      a
    }

    override def finish(r: Array[Long]): Array[Long] = r
    override def bufferEncoder =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
    override def outputEncoder =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
  }

  /** Count-Min bucket for hash row `r`: first 32 md5 bits of "r_token" mod
    * width — the dd-family signature recipe, replayed by the d9 oracle as
    * `CAST('0x'||substring(md5(r||'_'||t),1,8) AS BIGINT) % w`.
    */
  def cmsBucket(r: Column, t: Column, w: Int): Column =
    pmod(conv(substring(md5(
      concat(r.cast("string"), lit("_"), t).cast("binary")), 1, 8), 16, 10)
      .cast("long"), lit(w.toLong))

  /** Count-Min counter table (r, b, cnt) over a token column `t`: d hash
    * rows × w buckets. Counters are SUMS — order-independent, mergeable by
    * addition, and (unlike SpaceSaving-style top-k structures, whose state
    * depends on arrival order) bit-replayable by any engine. Scale shape:
    * the groupBy is partial-aggregated, so at most d·w counter rows leave
    * each partition no matter how many tokens enter — the frequency
    * companion to [[KmvAgg]]'s distinct counting.
    */
  def cmsCounters(tokens: DataFrame, d: Int, w: Int): DataFrame =
    tokens
      .withColumn("r", explode(array((0 until d).map(i => lit(i)): _*)))
      .withColumn("b", cmsBucket(col("r"), col("t"), w))
      .groupBy("r", "b").agg(count(lit(1)).as("cnt"))

  /** Point estimate for each probe token: min over the d rows of its
    * bucket's counter (0 when the bucket is empty) — the classic CMS upper
    * bound, never below the true count.
    */
  def cmsEstimate(counters: DataFrame, probes: DataFrame, d: Int, w: Int): DataFrame =
    probes
      .withColumn("r", explode(array((0 until d).map(i => lit(i)): _*)))
      .withColumn("b", cmsBucket(col("r"), col("t"), w))
      .join(counters, Seq("r", "b"), "left")
      .groupBy("t").agg(min(coalesce(col("cnt"), lit(0L))).as("est_cms"))

  /** d9: CMS-estimated counts for the 20 most frequent tokens next to the
    * exact counts (ties on count broken by token; the whitespace
    * tokenization mirrors the dd1 oracle's `string_split_regex`).
    */
  def d9CmsHeavy(spark: SparkSession, dir: String, d: Int = 4, w: Int = 1024): DataFrame =
    Checkpoints.superstep(spark, None) { s =>
      val tokens = s.hold(Relational.table(spark, dir, "documents")
        .filter(length(trim(col("text"))) > 0)
        .select(explode(split(trim(col("text")), TextAnalysis.WhitespaceRe)).as("t"))
        .filter(length(col("t")) > 0))
      val exact = tokens.groupBy("t").agg(count(lit(1)).as("n_exact"))
      val probes = exact.orderBy(col("n_exact").desc, col("t")).limit(20)
      s.materialize(probes
        .join(cmsEstimate(cmsCounters(tokens, d, w), probes.select("t"), d, w), Seq("t")))
    }

  /** d8: per-language distinct-text estimate next to the exact count (the
    * accuracy gate the oracle replays value-for-value; production use
    * would drop the exact column and with it the dedup shuffle).
    */
  def d8KmvDistinct(spark: SparkSession, dir: String, k: Int = 64): DataFrame = {
    val kmv = udaf(new KmvAgg(k))
    val hashes = Relational.table(spark, dir, "documents")
      .filter(col("text").isNotNull) // null text = no hash: the typed agg's
                                     // Long input is non-nullable, and SQL
                                     // count(DISTINCT) ignores nulls anyway
      .select(col("lang"), kmvHash(col("text")).as("h"))
      .distinct() // for the exact column only; KmvAgg dedups by itself
    hashes.groupBy("lang")
      .agg(count(lit(1)).as("n_distinct"), kmv(col("h")).as("mins"))
      .select(col("lang"), col("n_distinct"),
        kmvEstimate(col("mins"), k).as("est_kmv"))
  }

  /** d25: HyperLogLog distinct-count sketch (Flajolet et al., AofA 2007) —
    * the REGISTER-based sibling of [[KmvAgg]], here estimating per-language
    * vocabulary size (distinct tokens). Where KMV keeps the k smallest
    * hashes, HLL keeps max(ρ) per bucket — and because max is an ordinary
    * relational aggregate, the whole sketch is a plain two-level groupBy:
    * no custom Aggregator needed, map-side partial max collapses each
    * partition to ≤ m scalar rows per group before the one shuffle, and
    * merge-across-partitions is max's own associativity.
    *
    * Exact-integer registers: hash = the 60-bit md5 prefix (the dd1/d8
    * recipe), bucket = low p bits, ρ = leading-zero count of the remaining
    * 54-bit window + 1 computed via `length(bin(w))` — a STRING-based
    * bitlen, exact in both engines (never floor(log2(double))). The
    * indicator sum Σ 2^−reg scales by 2^55 into one exact BIGINT, so the
    * only floating-point ops are the final α·m²·2^55/S division chain and
    * the small-range `m·ln(m/V)` linear-counting branch — both replayed
    * IEEE-identically (ln guarded by the round(·,6)+0 contract). The raw
    * estimate is compared, not rounded, for branch selection: both engines
    * compute it from the same integers with the same op order, so the
    * branch can never split. Relative error ≈ 1.04/√m.
    */
  def d25HllDistinct(spark: SparkSession, dir: String, p: Int = 6): DataFrame =
    Checkpoints.superstep(spark, None) { s =>
      // the register pass and the exact-count pass both hit the token cache
      val tokens = s.hold(d25Tokens(Relational.table(spark, dir, "documents")))
      s.materialize(d25Plan(tokens, p))
    }

  /** The exploded (lang, t) token frame d25 sketches over. */
  def d25Tokens(documents: DataFrame): DataFrame =
    documents
      .filter(length(trim(col("text"))) > 0)
      .select(col("lang"), explode(split(trim(col("text")), TextAnalysis.WhitespaceRe)).as("t"))
      .filter(length(col("t")) > 0)

  /** The lazy HLL plan over a prepared token frame — the plan-pin seam
    * (PlanShapeSpec asserts the map-side partial max here; the public
    * entry's eager checkpoint would hide the aggregate behind an RDD scan).
    */
  def d25Plan(tokens: DataFrame, p: Int): DataFrame = {
    val m = 1 << p
    val wBits = 60 - p // remaining hash window after the bucket index
    val rhoMax = wBits + 1
    val h = kmvHash(col("t"))
    val w = shiftright(h, p) // h ≥ 0, so arithmetic shift == unsigned
    val rho = when(w === 0L, lit(rhoMax))
      .otherwise(lit(rhoMax) - length(bin(w)).cast("int"))
    val regs = tokens
      .select(col("lang"), pmod(h, lit(m.toLong)).as("bucket"), rho.as("rho"))
      .groupBy("lang", "bucket").agg(max("rho").as("reg"))
    // Σ 2^(55−reg) over present buckets — exact long; absent buckets are
    // reg=0 terms of 2^55 each, added from the bucket count
    val sums = regs.groupBy("lang")
      .agg(sum(call_function("shiftleft", lit(1L),
        lit(rhoMax) - col("reg"))).as("s_present"),
        count(lit(1)).as("nb"))
      .select(col("lang"),
        (col("s_present") + (lit(m.toLong) - col("nb")) * lit(1L << rhoMax)).as("s"),
        (lit(m.toLong) - col("nb")).as("v"))
    val exact = tokens.groupBy("lang").agg(countDistinct("t").as("n_exact"))
    val alpha = lit(0.7213) / (lit(1.0) + lit(1.079) / lit(m.toDouble))
    val rawEst = alpha * lit(m.toDouble * m.toDouble) *
      lit((1L << rhoMax).toDouble) / col("s").cast("double")
    val est = when(rawEst <= lit(2.5 * m) && col("v") > 0L,
      lit(m.toDouble) * log(lit(m.toDouble) / col("v").cast("double")))
      .otherwise(rawEst)
    sums.join(exact, Seq("lang"))
      .select(col("lang"), col("n_exact"),
        (round(est, 6) + lit(0.0)).as("est_hll"),
        (round((est - col("n_exact").cast("double")) / col("n_exact").cast("double"), 6)
          + lit(0.0)).as("rel_err"))
  }
}
