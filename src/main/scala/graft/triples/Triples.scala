package graft.triples

import com.fasterxml.jackson.databind.JsonNode
import graft.model.{ClaimRow, Triple, WikidataJson}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** (subj, pred, obj) triple extraction — the reference's statement pipeline
  * (ref: experimental_run_scripts/wikidata_datadump_statement_textification.py:333-453).
  *
  * Row semantics (goldens pin these, see tools/gen_goldens.py):
  *  - entity skipped entirely when `descriptions[lang]` is absent (no mul
  *    fallback; ref :337-338)
  *  - one row per claim with a mainsnak datavalue, regardless of rank/type
  *    (the raw-claims pipeline does NOT rank-filter)
  *  - value scalarization ladder id→amount→time→text→lat/lon/alt (ref :356-375)
  *  - QID-shaped values resolve to labels; unresolved QID values drop the row
  *    (ref :392-398,420-421); resolved labels get the `b'` prefix / trailing
  *    `'` strip (ref :395-398); an empty resolved label drops the row (the
  *    reference raises IndexError at `value_label[-1]`)
  *  - missing subject or property label drops the row (the reference crashes
  *    on those — never emits them)
  *  - `"`→`'` escaping on all label fields and the statement (ref :423-432)
  *  - uuid: the reference uses uuid4; we need determinism under parallelism
  *    (SURVEY.md §7.4) so it's md5(qid|pid|claimIdx|value)
  */
object Triples {

  private def strip(label: String): String = {
    var l = label
    if (l.startsWith("b'")) l = l.substring(2)
    if (l.endsWith("'")) l = l.substring(0, l.length - 1)
    l
  }

  private def esc(s: String): String = s.replace("\"", "'")

  /** Pure per-item extraction against an in-memory label store. Used by the
    * golden tests; the distributed path below must agree with it exactly.
    */
  def fromItem(item: JsonNode, labelOf: String => Option[String], lang: String = "en"): Seq[Triple] = {
    val rows = WikidataJson.toClaimRows(item, lang)
    if (rows.isEmpty) Seq.empty
    else labelOf(rows.head.qid) match {
      case None => Seq.empty
      case Some(qidLabel) =>
        rows.flatMap { r =>
          fromRow(r, qidLabel, labelOf(r.pid), if (r.isQidValue) labelOf(r.valueScalar) else None)
        }
    }
  }

  private val md5TL: ThreadLocal[java.security.MessageDigest] =
    ThreadLocal.withInitial(() => java.security.MessageDigest.getInstance("MD5"))

  private val HEX = "0123456789abcdef".toCharArray

  def md5Hex(s: String): String = {
    val md = md5TL.get(); md.reset()
    val d = md.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val out = new Array[Char](32)
    var i = 0
    while (i < 16) {
      out(i * 2) = HEX((d(i) >> 4) & 0xf); out(i * 2 + 1) = HEX(d(i) & 0xf); i += 1
    }
    new String(out)
  }

  private def fromRow(r: ClaimRow, qidLabel: String, propLabelOpt: Option[String],
                      valueLabelOpt: Option[String]): Option[Triple] = {
    val propLabel = propLabelOpt.orNull
    if (propLabel == null) return None
    val valueLabel: String =
      if (r.isQidValue) {
        valueLabelOpt match {
          case None => return None
          case Some(l) =>
            val s = strip(l)
            if (s.isEmpty) return None // ref IndexError at value_label[-1]
            s
        }
      } else r.valueScalar
    val value = esc(r.valueScalar)
    val q = esc(qidLabel); val d = esc(r.itemDesc); val p = esc(propLabel); val v = esc(valueLabel)
    val statement = esc(s"$d $p $v")
    val uuid = md5Hex(s"${r.qid}|${r.pid}|${r.claimIdx}|${r.valueScalar}")
    Some(Triple(uuid, r.qid, r.pid, value, q, d, p, v, statement))
  }

  /** Distributed extraction: dump lines → claim rows → label-resolution
    * joins → triples. The reference does these label lookups row-at-a-time
    * against SQLite (its single biggest perf difference, SURVEY.md §2.7);
    * here they are three joins:
    *
    *  - property labels: tiny dim (~12.7k PIDs) → broadcast hash join
    *  - subject labels:  shuffle join on qid (co-partitioned with the
    *    explode output, one shuffle)
    *  - value labels:    the big join (J2) — shuffle on the value QID; at
    *    100 TB this is sort-merge with AQE skew splitting (hot QIDs like
    *    "human" are the classic skew case)
    *
    * Everything after the joins is codegen'd column work (translate/concat),
    * no UDFs.
    */
  def fromLines(spark: SparkSession, lines: Dataset[String], labels: DataFrame,
                lang: String = "en"): DataFrame = {
    import spark.implicits._
    fromClaimRows(spark, lines.flatMap(WikidataJson.claimRowsOf(_, lang)).toDF(), labels)
  }

  /** Join + render stage, shared by batch and fixture paths.
    * `labels` must have columns (id, label).
    */
  def fromClaimRows(spark: SparkSession, rows: DataFrame, labels: DataFrame): DataFrame = {
    val propLabels = labels.filter(col("id").startsWith("P"))
      .select(col("id").as("_pid"), col("label").as("_plabel"))
    val subjLabels = labels.select(col("id").as("_sid"), col("label").as("_slabel"))
    val valueLabels = labels.select(col("id").as("_vid"), col("label").as("_vlabel"))

    // \z (absolute end), not $: Java-regex $ also matches before a trailing
    // line terminator, which would diverge from the pure path's endsWith("'")
    // on labels ending "'\n"
    val stripExpr = regexp_replace(regexp_replace(col("_vlabel"), "^b'", ""), "'\\z", "")

    rows
      .join(broadcast(propLabels), col("pid") === col("_pid"), "inner")
      .join(subjLabels, col("qid") === col("_sid"), "inner")
      .join(valueLabels, col("isQidValue") && col("valueScalar") === col("_vid"), "left")
      .filter(!col("isQidValue") || (col("_vlabel").isNotNull && length(stripExpr) > 0))
      .select(
        md5(concat_ws("|", col("qid"), col("pid"), col("claimIdx"), col("valueScalar"))).as("uuid"),
        col("qid"), col("pid"),
        translate(col("valueScalar"), "\"", "'").as("value"),
        translate(col("_slabel"), "\"", "'").as("qid_label"),
        translate(col("itemDesc"), "\"", "'").as("item_label"),
        translate(col("_plabel"), "\"", "'").as("property_label"),
        translate(when(col("isQidValue"), stripExpr).otherwise(col("valueScalar")), "\"", "'").as("value_content"),
        translate(
          concat_ws(" ", col("itemDesc"), col("_plabel"),
            when(col("isQidValue"), stripExpr).otherwise(col("valueScalar"))),
          "\"", "'").as("statement"))
  }
}
