package graft.operators

import graft.SparkTestBase
import graft.link.Embedder
import org.scalatest.funsuite.AnyFunSuite

class MiscOpsSpec extends AnyFunSuite {

  private val spark = SparkTestBase.spark
  import spark.implicits._

  test("Embedder is deterministic, normalized, and batch == single") {
    val texts = Seq("hello world", "hello world", "something else entirely", "")
    val v = texts.map(Embedder.encode)
    assert(v(0).toSeq == v(1).toSeq)
    assert(Embedder.encodeBatch(texts).map(_.toSeq) == v.map(_.toSeq))
    val n = math.sqrt(v(0).map(x => x.toDouble * x).sum)
    assert(math.abs(n - 1.0) < 1e-5)
    assert(Embedder.cosine(v(0), v(1)) > 0.9999)
    assert(Embedder.cosine(v(0), v(2)) < 0.9)
  }

  test("embedDataset (mapPartitions batching) == per-row encode") {
    val data = (0 until 100).map(i => (s"id$i", s"some text number $i with words"))
    val got = Embedder.embedDataset(spark.createDataset(data), batchSize = 7)
      .collect().toMap
    data.foreach { case (id, t) =>
      assert(got(id).toSeq == Embedder.encode(t).toSeq)
    }
  }

  test("LangId detects the language of held-out sentences") {
    assert(LangId.detect("the cat sat on the mat and then the dog came over to the house") == "en")
    assert(LangId.detect("der hund lief über die straße und der mann ging in das haus hinein") == "de")
    assert(LangId.detect("le chat est sur la table et le chien est dans la maison avec des amis") == "fr")
    assert(LangId.detect("el gato está en la mesa y el perro está en la casa con los amigos") == "es")
    assert(LangId.detect("القط على الطاولة والكلب في المنزل مع الأصدقاء في المدينة") == "ar")
    assert(LangId.detect("这是最好的时代也是最坏的时代一个中文示例句子") == "zh")
    assert(LangId.detect("") == "und")
    assert(LangId.detect("xq") == "und")
  }

  test("PII scrub redacts planted emails and phones (corpus has none — oracle covers the no-op)") {
    val dir = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get("target"), "pii-").toString
    Seq(
      (1L, "contact john.doe+x@example.co.uk or call +1-555-0100 maybe"),
      (2L, "two mails a@b.io c.d@e.org and a phone 415 555 1234 here"),
      (3L, "clean text with numbers 12345 but no pii")
    ).toDF("doc_id", "text").write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = TextAnalysis.d7PiiScrub(spark, dir)
      .as[(Long, Int, Int, String)].collect().sortBy(_._1)
    assert(got(0)._2 == 1 && got(0)._4.contains("<EMAIL>"))
    assert(got(1)._2 == 2 && got(1)._3 == 1)
    assert(got(1)._4 == "two mails <EMAIL> <EMAIL> and a phone <PHONE> here")
    assert(got(2) == ((3L, 0, 0, "clean text with numbers 12345 but no pii")))
  }

  test("detectDocs relational argmax == scalar detect per document") {
    // the lid1 path now runs the argmax relationally (window max + min-lang
    // tie-break) so DuckDB can replay it; pin it to detect()'s semantics
    val dir = "/root/testdata/sf0.001"
    val texts = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text").as[(Long, String)].collect().toMap
    val got = LangId.detectDocs(spark, dir)
      .select("doc_id", "predicted_lang").as[(Long, String)].collect().toMap
    assert(got.size == texts.size)
    texts.foreach { case (id, t) =>
      assert(got(id) == LangId.detect(t), s"doc $id")
    }
  }

  test("fingerprint: shift-stable winnowed min, edit changes full hash") {
    val t1 = "the quick brown fox jumps over the lazy dog repeatedly and often"
    val (f1, w1) = LangId.fingerprint(t1)
    val (f2, w2) = LangId.fingerprint("PAD " + t1) // content shifted
    assert(f1 != f2)
    assert(w2 == w1 || LangId.fingerprint("PAD " + t1, 16)._2 == w2) // deterministic
    val (f3, _) = LangId.fingerprint(t1.replace("fox", "cat"))
    assert(f1 != f3)
    assert(LangId.fingerprint(t1) == LangId.fingerprint(t1))
  }

  test("Eval.metrics on a hand-computed tiny table") {
    val dir = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get("target"), "eval-").toString
    // two labels; within-label vectors identical → perfect retrieval
    val rows = Seq(
      (0L, Seq(1f, 0f, 0f, 0f), 0), (1L, Seq(1f, 0f, 0f, 0f), 0), (2L, Seq(0.9f, 0.1f, 0f, 0f), 0),
      (10L, Seq(0f, 1f, 0f, 0f), 1), (11L, Seq(0f, 1f, 0f, 0f), 1))
    rows.toDF("vec_id", "embedding", "label")
      .withColumn("embedding", org.apache.spark.sql.functions.col("embedding").cast("array<float>"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val m = Eval.metrics(spark, dir, k = 3).collect().head
    assert(m.getAs[Long]("n_queries") == 2)
    assert(m.getAs[Double]("mrr") == 1.0) // first hit always rank 1
    assert(m.getAs[Double]("accuracy") == 1.0)
    assert(m.getAs[Double]("ndcg") == 1.0) // all relevant ranked before irrelevant
  }

  test("Eval.prCurve (em4): hand-computed micro precision/recall at every k") {
    val dir = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get("target"), "prcurve-").toString
    // label 0: vecs 0,1 identical + 2 close; label 1: vecs 10,11 identical.
    // queries derive one per label: 0 and 10.
    //   q0 ranking: 1 (rel), 2 (rel), 10, 11        n_rel = 2
    //   q10 ranking: 11 (rel), 2, 0, 1              n_rel = 1
    val rows = Seq(
      (0L, Seq(1f, 0f, 0f, 0f), 0), (1L, Seq(1f, 0f, 0f, 0f), 0), (2L, Seq(0.9f, 0.1f, 0f, 0f), 0),
      (10L, Seq(0f, 1f, 0f, 0f), 1), (11L, Seq(0f, 1f, 0f, 0f), 1))
    rows.toDF("vec_id", "embedding", "label")
      .withColumn("embedding", org.apache.spark.sql.functions.col("embedding").cast("array<float>"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val got = Eval.prCurve(spark, dir)
      .as[(Int, Long, Long, Double, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    assert(got.keySet == (1 to 10).toSet)
    // hits: q0 gives 1 at k=1 then 2 from k=2; q10 gives 1 at every k
    def hits(k: Int): Long = (if (k >= 2) 2L else 1L) + 1L
    (1 to 10).foreach { k =>
      val h = hits(k)
      val expect = (2L, h, h.toDouble / (k.toLong * 2L).toDouble,
        if (k >= 2) 1.0 else 2.0 / 3.0)
      assert(got(k) == expect, s"k=$k: got ${got(k)}, want $expect")
    }
  }

  test("Eval.retrieve with an explicit bounded query table (the broadcast contract)") {
    val dir = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get("target"), "evalq-").toString
    val rows = Seq(
      (0L, Seq(1f, 0f, 0f, 0f), 0), (1L, Seq(1f, 0f, 0f, 0f), 0), (2L, Seq(0.9f, 0.1f, 0f, 0f), 0),
      (10L, Seq(0f, 1f, 0f, 0f), 1), (11L, Seq(0f, 1f, 0f, 0f), 1))
    rows.toDF("vec_id", "embedding", "label")
      .withColumn("embedding", org.apache.spark.sql.functions.col("embedding").cast("array<float>"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    // external eval set (reference shape: docker/4's QA table), NOT derived
    // from the corpus — only query 0 is asked, so only query 0 is answered
    val qs = Seq((0L, Seq(1f, 0f, 0f, 0f), 0)).toDF("query_id", "qvec", "query_label")
      .withColumn("qvec", org.apache.spark.sql.functions.col("qvec").cast("array<float>"))
    val r = Eval.retrieve(spark, dir, k = 3, queriesDf = Some(qs))
      .select("query_id", "neighbor_id", "rank", "relevant")
      .as[(Long, Long, Int, Int)].collect()
    assert(r.map(_._1).toSet == Set(0L), "only the supplied query runs")
    assert(r.filter(_._3 == 1).head._2 == 1L, "identical vector ranks first")
    // the derived-default path answers one query PER LABEL (2 here) — the
    // explicit table bounds the broadcast side independently of the corpus
    val m = Eval.metrics(spark, dir, k = 3, queriesDf = Some(qs)).collect().head
    assert(m.getAs[Long]("n_queries") == 1)
    assert(m.getAs[Double]("mrr") == 1.0)
  }

  test("multimodal stubs: decode/frames are deterministic with real batching") {
    val dir = "/root/testdata/sf0.001"
    val a = graft.multimodal.Media.assets(spark, dir)
    val dec1 = graft.multimodal.Media.decodeImages(a, batchSize = 8).collect().sortBy(_.asset_id)
    val dec2 = graft.multimodal.Media.decodeImages(a, batchSize = 32).collect().sortBy(_.asset_id)
    assert(dec1.map(d => (d.asset_id, d.width, d.height, d.features.toSeq)).toSeq ==
      dec2.map(d => (d.asset_id, d.width, d.height, d.features.toSeq)).toSeq)
    val frames = graft.multimodal.Media.sampleFrames(a).collect()
    assert(frames.nonEmpty && frames.forall(_.features.length == 16))
  }

  test("mm2 pHash locality: one corrupted byte moves at most one bit; near-dup finds exactly the planted twins") {
    import graft.multimodal.Media
    val dir = "/root/testdata/sf0.001"
    // kernel locality property, across many assets and corruption positions
    val rnd = new java.util.Random(7L)
    (1 to 50).foreach { _ =>
      val bytes = new Array[Byte](256 + rnd.nextInt(768)); rnd.nextBytes(bytes)
      val twin = bytes.clone()
      val pos = rnd.nextInt(twin.length)
      twin(pos) = (twin(pos) ^ (1 << rnd.nextInt(8))).toByte
      val d = java.lang.Long.bitCount(Media.pHashStub(bytes) ^ Media.pHashStub(twin))
      assert(d <= 1, s"single-byte corruption moved $d bits")
    }
    // end-to-end: the pair set is exactly {(base, base + TwinIdOffset)}
    val got = Media.mediaNearDup(spark, dir)
      .as[(Long, Long, Int)].collect().toSeq
    val baseIds = Media.assets(spark, dir).collect().map(_.asset_id)
      .filter(_ % 16 == 0).toSet
    assert(got.nonEmpty)
    assert(got.map { case (a, b, _) => (a, b) }.toSet ==
      baseIds.map(i => (i, i + Media.TwinIdOffset)))
    assert(got.forall(_._3 <= 1))
  }

  test("sessionize: sessions split on gaps; start <= end, positive counts") {
    import graft.streaming.EventsStream.{Event, Session}
    val base = 1735689600000L // 2025-01-01T00:00Z
    def ev(id: Long, offsetMin: Long, user: Long, v: Double) =
      Event(id, new java.sql.Timestamp(base + offsetMin * 60000L), user, "t", v)
    // user 1: t+0, t+10, t+20 are one session (gap 30 min); t+120 opens the next
    val hand = graft.streaming.EventsStream.sessionize(spark, Seq(ev(4, 120, 1L, 4.0),
      ev(1, 0, 1L, 1.0), ev(3, 20, 1L, 3.0), ev(2, 10, 1L, 2.0), ev(99, 6000, 999L, 0.0)).toDF())
      .as[Session].collect().sortBy(s => (s.user_id, s.start_ms)).toSeq
    assert(hand == Seq(Session(1L, base, base + 20 * 60000L, 3, 6.0),
      Session(1L, base + 120 * 60000L, base + 120 * 60000L, 1, 4.0),
      Session(999L, base + 6000 * 60000L, base + 6000 * 60000L, 1, 0.0)))

    val dir = "/root/testdata/sf0.001"
    val sessions = graft.streaming.EventsStream
      .sessionize(spark, spark.read.parquet(s"$dir/events.parquet"))
    val s = sessions.collect()
    assert(s.nonEmpty)
    // session invariants: start <= end, positive counts
    s.foreach { r =>
      assert(r.getAs[Long]("start_ms") <= r.getAs[Long]("end_ms"))
      assert(r.getAs[Int]("n_events") > 0)
    }
  }

  test("retransmissions add duplicates; dedupEvents collapses them to the base count") {
    val events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    val base = events.count()
    val withDupes = graft.streaming.EventsStream.withRetransmissions(events).count()
    assert(withDupes > base, "retransmission model injected no duplicates")
    val batch = graft.streaming.EventsStream.dedupEvents(events)
      .as[(Long, Long, Long, String, Double)].collect().toSet
    assert(batch.size == base, "verbatim duplicates must collapse to the original set")
  }

  test("attribution boundary semantics: window is [p - 30min, p), same user only") {
    import java.sql.Timestamp
    def ts(minute: Int) = Timestamp.valueOf(f"2024-01-01 10:$minute%02d:00")
    val events = Seq(
      // user 1: purchase at 10:40
      (100L, ts(40), 1L, "purchase", 1.0, ""),
      (1L, ts(10), 1L, "view", 0.0, ""),  // exactly p-30min → IN (>= start)
      (2L, ts(9), 1L, "view", 0.0, ""),   // before window → out
      (3L, ts(40), 1L, "view", 0.0, ""),  // at purchase instant → out (< p)
      (4L, ts(39), 1L, "view", 0.0, ""),  // in
      (5L, ts(25), 2L, "view", 0.0, ""))  // other user → out
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val got = graft.streaming.EventsStream.attribution(events)
      .select("purchase_id", "view_id").as[(Long, Long)].collect().toSet
    assert(got == Set((100L, 1L), (100L, 4L)))
  }
}
