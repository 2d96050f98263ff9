package graft.link

import org.apache.spark.sql.{Dataset, Encoder}

/** Deterministic stand-in embedder (FIXTURES.md §5).
  *
  * The reference embeds with GPU sentence-transformers in fixed-size batches
  * (ref: src/JinaAI.py:139-153, batch 8–128). The sandbox has no model, so
  * this is a seeded feature-hashing encoder: same text → same vector, cosine
  * similarity correlates with token overlap. What matters for the engine is
  * the *Spark-side shape*: `mapPartitions` + grouped iterator batching —
  * swap `encodeBatch` for a real model without touching the plan.
  */
object Embedder extends Serializable {

  val dim = 32

  private def mix(h0: Int): Int = {
    var h = h0
    h ^= h >>> 16; h *= 0x85ebca6b; h ^= h >>> 13; h *= 0xc2b2ae35; h ^= h >>> 16
    h
  }

  /** `c` is a token char of lowercased text: `[a-z0-9_]`, the complement of
    * `\W` (no UNICODE_CHARACTER_CLASS) once `toLowerCase` has left no A-Z.
    */
  private def isTokenChar(c: Char): Boolean =
    (c >= 'a' && c <= 'z') || (c >= '0' && c <= '9') || c == '_'

  private def bump(v: Array[Float], h: Int, w: Float): Unit =
    v(math.abs(h % dim)) += (if (h >= 0) w else -w)

  /** Encode one text: hashed unigram + bigram features, L2-normalized.
    *
    * Tokens are the non-empty pieces of a `\W+` split of `text.toLowerCase`.
    * One scan finds them and computes each token's `String.hashCode` as it
    * goes, so no token string is built.
    */
  def encode(text: String): Array[Float] = {
    val v = new Array[Float](dim)
    val s = text.toLowerCase
    var h = 0         // hashCode of the token being scanned
    var inToken = false
    var prev = 0      // hashCode of the previous token
    var hasPrev = false
    var i = 0
    while (i <= s.length) {
      val c = if (i < s.length) s.charAt(i) else ' '
      if (isTokenChar(c)) { h = 31 * h + c; inToken = true }
      else if (inToken) {
        // features in token order: unigram(t0), bigram(t0, t1), unigram(t1), ...
        if (hasPrev) bump(v, mix(prev * 31 + h), 0.5f)
        bump(v, mix(h), 1f)
        prev = h; hasPrev = true
        h = 0; inToken = false
      }
      i += 1
    }
    var norm = 0.0
    v.foreach(x => norm += x * x)
    val n = math.sqrt(norm)
    if (n > 0) { var j = 0; while (j < dim) { v(j) = (v(j) / n).toFloat; j += 1 } }
    v
  }

  /** Batch entry — the seam where a real model's `model.encode(batch)` goes. */
  def encodeBatch(texts: Seq[String]): Seq[Array[Float]] = texts.map(encode)

  /** Distributed embedding with the reference's batching shape (E1):
    * mapPartitions → grouped(batchSize) → batch encode. One narrow stage, no
    * shuffle; at 100 TB this pipelines into the upstream scan.
    */
  def embedDataset[T](ds: Dataset[(String, String)], batchSize: Int = 64)(
      implicit enc: Encoder[(String, Array[Float])]): Dataset[(String, Array[Float])] =
    ds.mapPartitions { it =>
      it.grouped(batchSize).flatMap { batch =>
        val vecs = encodeBatch(batch.map(_._2))
        batch.map(_._1).zip(vecs)
      }
    }

  def cosine(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
    if (na == 0 || nb == 0) 0.0 else dot / math.sqrt(na * nb)
  }
}
