package graft.canon

import graft.model.WikidataJson
import graft.pipeline.{PagePayload, PagesGen}
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Alias-identity candidate edges for canonicalization (north-star:
  * "connected-components over alias/sameAs edges").
  *
  * Two entities sharing an EXACT surface (label or alias) are duplicate
  * candidates. Two conservative gates keep this from clique-merging the
  * graph at corpus scale:
  *
  *  - `minLen`: short surfaces ("Ab", "The") are stop-word-grade and shared
  *    by unrelated entities — they generate nothing;
  *  - `maxIds`: a hub surface shared by more than `maxIds` entities (every
  *    "John Smith") is ambiguity, not identity — it generates nothing. This
  *    is also the skew guard: without it one hot surface emits a
  *    quadratic-in-ambiguity edge clique.
  *
  * Surviving surface groups emit a CHAIN over the sorted ids (size-1 edges),
  * not the full clique — connected components only needs connectivity, and
  * the chain keeps edge volume linear in group size.
  *
  * Shape: explode surfaces → groupBy surface (one shuffle, map-side
  * combine) → chain explode. Nothing broadcasts; nothing is quadratic.
  */
object AliasEdges {

  /** sameAs identity edges (src, dst) of a payload set: every QID-valued
    * sameAs claim — the dump-semantics canonicalization input that the
    * alias edges below optionally extend.
    */
  def sameAsEdges(payloads: Dataset[PagePayload]): DataFrame = {
    import payloads.sparkSession.implicits._
    payloads
      .flatMap(pp => WikidataJson.claimRowsOf(pp.payload))
      .filter(r => r.pid == PagesGen.sameAsPid && r.isQidValue)
      .map(r => (r.qid, r.valueScalar)).toDF("src", "dst")
  }

  /** labels(id, lang, label, is_property, aliases) → edges(src, dst). */
  def edges(labels: DataFrame, lang: String = "en",
            minLen: Int = 4, maxIds: Int = 2): DataFrame = {
    val surf = labels
      .filter(!col("is_property") && col("lang") === lang)
      .select(col("id"),
        explode(array_union(array(col("label")), col("aliases"))).as("surface"))
      .filter(length(col("surface")) >= minLen)
      .distinct()

    val grouped = surf.groupBy("surface")
      .agg(array_sort(collect_set("id")).as("ids"))
      .filter(size(col("ids")).between(2, maxIds))

    grouped
      .select(explode(arrays_zip(
        slice(col("ids"), lit(1), size(col("ids")) - 1),
        slice(col("ids"), lit(2), size(col("ids")) - 1))).as("e"))
      .select(col("e.0").as("src"), col("e.1").as("dst"))
      .distinct()
  }
}
