package graft.link

import graft.SparkTestBase
import org.scalatest.funsuite.AnyFunSuite

/** LSH candidate generation for entity linking (the north-star's alternative
  * to the surface-dictionary candidates): mentions whose context paraphrases
  * an entity's item text must surface that entity via same-bucket joins, and
  * the scores must agree with exact brute-force scoring.
  */
class LinkerLshSpec extends AnyFunSuite {

  private val spark = SparkTestBase.spark
  import spark.implicits._

  private val entities = (0 until 200).map { i =>
    (s"Q$i", s"entity number $i describes topic ${i % 17} with detail words " +
      s"alpha${i * 7} beta${i % 23} and a longer tail of shared vocabulary")
  }

  test("linkLsh finds the exact top-1 entity for near-verbatim contexts") {
    val entityVecs = Embedder.embedDataset(spark.createDataset(entities)).toDF("id", "vec")
    // mentions whose context IS (almost) an entity's item text
    val mentions = (0 until 50).map { i =>
      val (qid, text) = entities(i * 3)
      (s"u$i", "SELF", s"surf$i", 0, 5, Seq.empty[String], text + " trailing mention context")
    }
    val resolved = mentions
      .toDF("url", "self_id", "surface", "begin", "end", "qids", "context")

    // bits/tables is the recall-vs-candidate-volume dial: fewer bits = bigger
    // buckets, more tables = more second chances. 6/6 targets high recall on
    // genuinely-shifted contexts; the 8/4 default is the cheaper setting.
    val lsh = Linker.linkLshScored(Linker.embedMentions(resolved), entityVecs,
      k = 5, bits = 6, tables = 6, dimLen = Embedder.dim)
      .select("url", "qid").as[(String, String)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap

    // exact comparator: every mention scored against ALL entities
    val vecs = entities.map { case (q, t) => q -> Embedder.encode(t) }
    var hit = 0
    mentions.foreach { case (url, _, _, _, _, _, ctx) =>
      val cv = Embedder.encode(ctx)
      val exactTop1 = vecs.maxBy { case (_, v) => Embedder.cosine(cv, v) }._1
      if (lsh.getOrElse(url, Set.empty).contains(exactTop1)) hit += 1
    }
    val recall = hit.toDouble / mentions.size
    info(f"linkLsh top-5 recall of exact top-1: $recall%.2f")
    assert(recall >= 0.8, s"recall $recall below 0.8")

    // scores must be the exact cosine (the candidates are LSH-generated, the
    // scoring is not approximate)
    val scored = Linker.linkLshScored(Linker.embedMentions(resolved), entityVecs,
      k = 5, bits = 6, tables = 6, dimLen = Embedder.dim)
      .select("url", "qid", "score").as[(String, String, Double)].collect()
    val byId = vecs.toMap
    scored.foreach { case (url, qid, score) =>
      val i = url.drop(1).toInt
      val cv = Embedder.encode(mentions(i)._7)
      assert(math.abs(score - Embedder.cosine(cv, byId(qid))) < 1e-12)
    }
  }
}
