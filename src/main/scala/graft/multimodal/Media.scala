package graft.multimodal

import graft.tables.Checkpoints
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal column plumbing: image/audio/video as opaque `binary` columns
  * with typed metadata, processed in fixed-size batches via `mapPartitions`
  * (the Scala analog of Pandas-UDF `mapInPandas` batching).
  *
  * The actual decoders are NOT in this container, so `decodeImage` is a
  * clearly-marked deterministic STUB: it fabricates plausible metadata and a
  * feature vector from the bytes alone. Everything around it — schema,
  * partitioning, batch shape, the explode for frame sampling — is the real
  * Spark-side pipeline a production decoder would drop into.
  */
object Media {

  final case class MediaAsset(asset_id: Long, kind: String, bytes: Array[Byte],
                              mime: String, source_doc: Long)
  final case class DecodedImage(asset_id: Long, width: Int, height: Int,
                                channels: Int, features: Array[Float])
  final case class Frame(asset_id: Long, frame_idx: Int, t_ms: Long, features: Array[Float])

  /** Deterministic synthetic media table derived from `documents` (binary
    * payload = seeded bytes; kind cycles image/audio/video).
    */
  def assets(spark: SparkSession, dir: String): Dataset[MediaAsset] = {
    import spark.implicits._
    spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text").as[(Long, String)]
      .map { case (docId, text) =>
        val rnd = new java.util.Random(docId * 2654435761L)
        val kind = Seq("image", "audio", "video")((docId % 3).toInt)
        val len = 256 + rnd.nextInt(768)
        val bytes = new Array[Byte](len); rnd.nextBytes(bytes)
        val mime = kind match {
          case "image" => "image/png"; case "audio" => "audio/wav"; case _ => "video/mp4"
        }
        MediaAsset(docId, kind, bytes, mime, docId)
      }
  }

  /** STUB decoder — a real implementation would decode the container here.
    * Deterministic from the bytes, so tests and reruns agree.
    */
  private def decodeImageStub(bytes: Array[Byte]): (Int, Int, Int, Array[Float]) = {
    val h0 = java.util.Arrays.hashCode(bytes)
    val width = 64 + math.abs(h0 % 1024)
    val height = 64 + math.abs((h0 / 7) % 1024)
    val feats = new Array[Float](16)
    var i = 0
    while (i < bytes.length) { feats(i % 16) += (bytes(i) & 0xff) / 255.0f; i += 1 }
    (width, height, 3, feats)
  }

  /** Batched decode / feature-extract (mapPartitions, batch 32). */
  def decodeImages(assets: Dataset[MediaAsset], batchSize: Int = 32): Dataset[DecodedImage] = {
    import assets.sparkSession.implicits._
    assets.filter(_.kind == "image").mapPartitions { it =>
      it.grouped(batchSize).flatMap { batch =>
        // real decoder: pass `batch.map(_.bytes)` to the native lib at once
        batch.map { a =>
          val (w, h, c, f) = decodeImageStub(a.bytes)
          DecodedImage(a.asset_id, w, h, c, f)
        }
      }
    }
  }

  /** Resize stub: scales stub metadata, keeps the feature contract. */
  def resize(decoded: Dataset[DecodedImage], maxSide: Int): Dataset[DecodedImage] = {
    import decoded.sparkSession.implicits._
    decoded.map { d =>
      val scale = math.min(1.0, maxSide.toDouble / math.max(d.width, d.height))
      d.copy(width = math.max(1, (d.width * scale).toInt),
        height = math.max(1, (d.height * scale).toInt))
    }
  }

  /** Frame sampling for video assets: one row per sampled frame (explode). */
  def sampleFrames(assets: Dataset[MediaAsset], everyMs: Long = 1000, maxFrames: Int = 8): Dataset[Frame] = {
    import assets.sparkSession.implicits._
    assets.filter(_.kind == "video").flatMap { a =>
      val n = 1 + math.abs(java.util.Arrays.hashCode(a.bytes) % maxFrames)
      (0 until n).map { i =>
        val (_, _, _, f) = decodeImageStub(a.bytes ++ Array(i.toByte))
        Frame(a.asset_id, i, i * everyMs, f)
      }
    }
  }

  /** Asset-id offset of the planted near-identical twins (mm2 fixture). */
  val TwinIdOffset = 1000000L

  /** Deterministic near-identical TWIN assets: every 16th asset re-appears
    * under `asset_id + TwinIdOffset` with exactly ONE byte flipped — the
    * planted near-dup family the mm2 gate must find (a re-encoded or
    * single-pixel-edited image in a real pipeline).
    */
  def assetsWithTwins(spark: SparkSession, dir: String): Dataset[MediaAsset] = {
    import spark.implicits._
    val base = assets(spark, dir)
    val twins = base.filter((a: MediaAsset) => a.asset_id % 16 == 0)
      .map { a =>
        val b = a.bytes.clone()
        b(b.length / 2) = (b(b.length / 2) ^ 0x01).toByte
        a.copy(asset_id = a.asset_id + TwinIdOffset, bytes = b)
      }
    base.unionByName(twins)
  }

  /** Perceptual-hash STAND-IN over the raw bytes (a real pipeline plugs a
    * DCT pHash of the DECODED image here): 64 equal byte regions, bit i =
    * lsb of md5(region i). Deterministic, md5-derived, and — the property
    * that makes it a usable pHash analog — LOCAL: a single corrupted byte
    * touches one region, so it moves AT MOST ONE bit (spec-pinned), while
    * unrelated assets differ in ~32. The bucket/verify machinery downstream
    * is exactly what the real hash would ride.
    */
  def pHashStub(bytes: Array[Byte]): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val n = bytes.length
    val regionLen = math.max(1, (n + 63) / 64)
    var sig = 0L
    var b = 0
    while (b < 64) {
      val from = math.min(b * regionLen, n)
      val until = math.min(from + regionLen, n)
      md.reset()
      md.update(bytes, from, until - from)
      if ((md.digest()(0) & 1) == 1) sig |= (1L << b)
      b += 1
    }
    sig
  }

  /** mm2: media near-dup pairs — pHash signatures bucketed through the dd2
    * bit-block machinery ([[graft.operators.Dedup.simhashBlocksOf]] /
    * `simhashNearDupFrame` verbatim): candidates must share one of
    * maxDist+1 16-bit blocks (pigeonhole-sound), survivors filter on true
    * hamming distance. Under graft.Verify the (asset_id, sig) frame is
    * materialized and the DuckDB oracle replays the block join + hamming
    * half as a hard check; the byte→sig kernel is the documented non-SQL
    * half, locality-pinned by MediaSpec.
    *
    * 100 TB shape: signatures are computed in the decode pass (one scan of
    * the binary column — bytes never shuffle); only (id, 8-byte sig) rows
    * enter the bucket join.
    */
  def mediaNearDup(spark: SparkSession, dir: String, maxDist: Int = 3): DataFrame = {
    import graft.operators.{Dedup, OracleFrames}
    import spark.implicits._
    val sigs = OracleFrames.materialize(
      assetsWithTwins(spark, dir)
        .map(a => (a.asset_id, pHashStub(a.bytes))).toDF("doc_id", "sig"),
      "mm2_sigs")
    Checkpoints.superstep(spark, None) { s =>
      val blocks = s.hold(Dedup.simhashBlocksOf(sigs, maxDist))
      s.materialize(Dedup.simhashNearDupFrame(blocks, maxDist))
    }
  }

  /** Summary query: decoded media stats per kind (the queries() entry). */
  def mediaStats(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.OracleFrames
    val a = assets(spark, dir)
    // under graft.Verify the decoded metadata rows are materialized so the
    // DuckDB oracle replays the aggregation half (the stub decode itself is
    // the documented non-SQL kernel)
    val imgRows = OracleFrames.materialize(
      decodeImages(a).toDF().select("asset_id", "width", "height", "channels"), "mm1_images")
    val frameRows = OracleFrames.materialize(
      sampleFrames(a).toDF().select("asset_id", "frame_idx", "t_ms"), "mm1_frames")
    val img = imgRows
      .agg(count(lit(1)).as("n"), sum(col("width").cast("long")).as("sum_w")).withColumn("kind", lit("image"))
    val frames = frameRows
      .agg(count(lit(1)).as("n"), sum(col("t_ms")).as("sum_w")).withColumn("kind", lit("video_frames"))
    img.unionByName(frames).select("kind", "n", "sum_w")
  }
}
