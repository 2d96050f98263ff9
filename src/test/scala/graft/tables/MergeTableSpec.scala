package graft.tables

import graft.SparkTestBase
import org.apache.spark.sql.functions.{col, lit, pmod, xxhash64}
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Unit contract of the Iceberg-semantics MERGE layer: upsert-by-key, new
  * wins, untouched buckets carry over by manifest pointer (no rewrite),
  * snapshot lineage, idempotent re-merge.
  */
class MergeTableSpec extends AnyFunSuite {

  private val spark = SparkTestBase.spark
  import spark.implicits._

  private def tmp(): String =
    Files.createTempDirectory(Paths.get("target"), "mt-").toString

  test("merge upserts by key; new rows win; row count tracked") {
    val t = new MergeTable(spark, tmp(), Seq("id"))
    val s1 = t.merge(Seq(("a", 1), ("b", 2), ("c", 3)).toDF("id", "v"))
    assert(s1 == 1 && t.rowCount == 3)
    val s2 = t.merge(Seq(("b", 20), ("d", 4)).toDF("id", "v"))
    assert(s2 == 2 && t.rowCount == 4)
    val got = t.read().as[(String, Int)].collect().toMap
    assert(got == Map("a" -> 1, "b" -> 20, "c" -> 3, "d" -> 4))
  }

  test("untouched buckets are carried by manifest pointer, not rewritten") {
    val path = tmp()
    val t = new MergeTable(spark, path, Seq("id"))
    t.merge((1 to 200).map(i => (s"k$i", i)).toDF("id", "v"))
    val dirsAfter1 = Files.list(Paths.get(path, "data")).toArray.map(_.toString).toSet
    t.merge(Seq(("k1", -1)).toDF("id", "v")) // touches one bucket
    val dirsAfter2 = Files.list(Paths.get(path, "data")).toArray.map(_.toString).toSet
    assert(dirsAfter2.contains(dirsAfter1.head)) // snap-1 data still referenced on disk
    // snap-2 wrote only the touched bucket's directory
    val snap2Buckets = Files.list(Paths.get(path, "data", "snap-2")).toArray
      .map(_.toString).count(_.contains("_bucket="))
    assert(snap2Buckets == 1, s"expected 1 rewritten bucket, got $snap2Buckets")
    val got = t.read().as[(String, Int)].collect().toMap
    assert(got("k1") == -1 && got.size == 200 && got("k200") == 200)
  }

  test("merge reads ONLY touched buckets: untouched bucket files are never opened") {
    val path = tmp()
    val t = new MergeTable(spark, path, Seq("id"))
    t.merge((1 to 100).map(i => (s"k$i", i)).toDF("id", "v"))
    assert(t.rowCount == 100)
    // hide every snap-1 bucket EXCEPT the one "k1" hashes to; if merge (or its
    // manifest row-count bookkeeping) read any untouched bucket it would fail
    // on the missing files.
    val k1Bucket = bucketOf("k1")
    val snap1 = Paths.get(path, "data", "snap-1")
    val hidden = Files.list(snap1).toArray.map(_.toString)
      .filter(d => d.contains("_bucket=") && !d.endsWith(s"_bucket=$k1Bucket"))
      .map { d =>
        val target = Paths.get(d + ".hidden")
        Files.move(Paths.get(d), target); (target, Paths.get(d))
      }
    assert(hidden.nonEmpty)
    try {
      t.merge(Seq(("k1", -1)).toDF("id", "v")) // must touch only k1's bucket
      assert(t.rowCount == 100) // counts carried from the manifest, not rescanned
    } finally hidden.foreach { case (from, to) => Files.move(from, to) }
    val got = t.read().as[(String, Int)].collect().toMap
    assert(got("k1") == -1 && got.size == 100)
  }

  test("re-merging the same batch is idempotent (exactly-once semantics)") {
    val t = new MergeTable(spark, tmp(), Seq("id"))
    val batch = Seq(("x", 1), ("y", 2)).toDF("id", "v")
    t.merge(batch)
    val before = t.read().collect().map(_.toString).sorted.toSeq
    t.merge(batch)
    val after = t.read().collect().map(_.toString).sorted.toSeq
    assert(before == after && t.rowCount == 2)
  }

  test("time travel: historical snapshots stay readable after later merges") {
    val t = new MergeTable(spark, tmp(), Seq("id"))
    t.merge(Seq(("a", 1), ("b", 2)).toDF("id", "v"))
    t.merge(Seq(("b", 20), ("c", 3)).toDF("id", "v"))
    t.merge(Seq(("a", 100)).toDF("id", "v"))
    assert(t.snapshots == Seq(1L, 2L, 3L))
    assert(t.readSnapshot(1).as[(String, Int)].collect().toMap == Map("a" -> 1, "b" -> 2))
    assert(t.readSnapshot(2).as[(String, Int)].collect().toMap == Map("a" -> 1, "b" -> 20, "c" -> 3))
    assert(t.read().as[(String, Int)].collect().toMap == Map("a" -> 100, "b" -> 20, "c" -> 3))
  }

  test("scope-replace: a re-processed scope sheds rows it no longer emits") {
    val t = new MergeTable(spark, tmp(), Seq("url", "begin"),
      scopeCols = Some(Seq("url")))
    t.merge(Seq(("u1", 0, "a"), ("u1", 5, "b"), ("u2", 0, "c")).toDF("url", "begin", "v"))
    assert(t.rowCount == 3)
    // u1 shrinks from two rows to one; u2 is untouched
    t.merge(Seq(("u1", 0, "a2")).toDF("url", "begin", "v"))
    assert(t.read().as[(String, Int, String)].collect().toSet ==
      Set(("u1", 0, "a2"), ("u2", 0, "c")))
    assert(t.rowCount == 2)
    // explicit scopes: u2 processed but yields ZERO rows -> its rows delete
    t.mergeScoped(Seq.empty[(String, Int, String)].toDF("url", "begin", "v"),
      Seq("u2").toDF("url"))
    assert(t.read().as[(String, Int, String)].collect().toSet == Set(("u1", 0, "a2")))
    assert(t.rowCount == 1)
  }

  test("mergeScoped never loses co-bucketed rows when df carries scopes missing from `scopes`") {
    // u2 and u3 share a bucket that u1 does not: if the merge rewrote u3's
    // bucket without having read it (scope u3 absent from `scopes`), u2's
    // row would silently vanish
    val candidates = (1 to 200).map(i => s"u$i")
    val buckets = bucketsOf(candidates)
    val Seq(u2, u3) = candidates.filter(buckets(_) == buckets("u2")).take(2)
    val u1 = candidates.find(buckets(_) != buckets(u2)).get
    val t = new MergeTable(spark, tmp(), Seq("url", "begin"),
      scopeCols = Some(Seq("url")))
    t.merge(Seq((u1, 0, "a"), (u2, 0, "b")).toDF("url", "begin", "v"))
    t.mergeScoped(Seq((u3, 0, "c")).toDF("url", "begin", "v"), Seq(u1).toDF("url"))
    val got = t.read().as[(String, Int, String)].collect().toSet
    assert(got == Set((u2, 0, "b"), (u3, 0, "c"))) // u1 replaced away, u2 intact
  }

  test("expireSnapshots: reachability GC — shared first-snapshot data survives, dead churn is reclaimed") {
    val path = tmp()
    val t = new MergeTable(spark, path, Seq("id"))
    t.merge((1 to 100).map(i => (s"k$i", i)).toDF("id", "v"))       // snap 1: all buckets
    t.merge(Seq(("k1", -1)).toDF("id", "v"))                        // snap 2: rewrites k1's bucket
    t.merge(Seq(("k1", -2)).toDF("id", "v"))                        // snap 3: rewrites it again
    val before = t.read().as[(String, Int)].collect().toMap

    val (expired, deleted) = t.expireSnapshots(keepLast = 1)
    assert(expired == Seq(1L, 2L), "manifests v1+v2 expire")
    // snap-2's data is owned only by expired history → reclaimed; snap-1's
    // untouched buckets are still referenced by the CURRENT manifest → kept
    assert(deleted == Seq(2L), s"only dead churn reclaimed, got $deleted")
    assert(Files.exists(Paths.get(path, "data", "snap-1")))
    assert(!Files.exists(Paths.get(path, "data", "snap-2")))
    // reachability is per (snap, bucket): snap-1's copy of k1's bucket was
    // superseded by snap-3, so that ONE subdir is reclaimed from the
    // surviving dir while its other buckets stay
    val k1Bucket = bucketOf("k1")
    assert(!Files.exists(Paths.get(path, "data", "snap-1", s"_bucket=$k1Bucket")),
      "superseded bucket copy inside a surviving snap dir must be reclaimed")
    assert(Files.list(Paths.get(path, "data", "snap-1")).toArray
      .map(_.toString).count(_.contains("_bucket=")) > 0,
      "still-referenced buckets of snap-1 survive")

    // current read is bit-identical; time travel to the kept snapshot works,
    // to expired history fails fast
    assert(t.read().as[(String, Int)].collect().toMap == before)
    assert(t.readSnapshot(3).count() == 100)
    intercept[Exception](t.readSnapshot(1))
    assert(t.snapshots == Seq(3L))

    // expiry is idempotent and a later merge keeps working
    assert(t.expireSnapshots(keepLast = 1) == ((Seq.empty, Seq.empty)))
    t.merge(Seq(("k2", -9)).toDF("id", "v"))
    val after = t.read().as[(String, Int)].collect().toMap
    assert(after("k2") == -9 && after("k1") == -2 && after.size == 100)
  }

  test("concurrent commit: interleaved merges — one wins, one fails loudly, table stays consistent") {
    val path = tmp()
    val writerA = new MergeTable(spark, path, Seq("id"))
    val writerB = new MergeTable(spark, path, Seq("id"))
    writerA.merge(Seq(("a", 1), ("b", 2)).toDF("id", "v")) // snapshot 1
    // interleave deterministically at the widest real race window: writer A
    // has read parent=1 and written its data files; before its manifest CAS,
    // writer B completes a full merge of its own
    var bSnap = -1L
    writerA.onBeforeCommit = () => {
      writerA.onBeforeCommit = () => () // B's own commit must not recurse
      bSnap = writerB.merge(Seq(("c", 30)).toDF("id", "v"))
    }
    val ex = intercept[java.util.ConcurrentModificationException] {
      writerA.merge(Seq(("b", 99)).toDF("id", "v"))
    }
    assert(ex.getMessage.contains("concurrent writer"))
    // B won: its snapshot is current, its rows are visible, A's attempt
    // left no manifest and no pointer change
    assert(bSnap == 2 && writerA.currentSnapshot.contains(2L))
    assert(writerA.snapshots == Seq(1L, 2L))
    val got = writerA.read().as[(String, Int)].collect().toMap
    assert(got == Map("a" -> 1, "b" -> 2, "c" -> 30))
    // the loser wrote only to its own staging dir — B's committed snap-2
    // files were NEVER at risk of being overwritten, and the loser's staging
    // is deleted on abort
    val stagingLeft = Files.list(Paths.get(path, "data")).toArray
      .map(_.toString).filter(_.contains("_staging-"))
    assert(stagingLeft.isEmpty, s"loser staging must be cleaned: ${stagingLeft.toSeq}")
    // the table keeps working: a retry of A's merge now succeeds against parent 2
    writerA.onBeforeCommit = () => ()
    val s3 = writerA.merge(Seq(("b", 99)).toDF("id", "v"))
    assert(s3 == 3 && writerA.read().as[(String, Int)].collect().toMap ==
      Map("a" -> 1, "b" -> 99, "c" -> 30))
  }

  test("crash recovery: an orphaned manifest (committed CAS, no pointer flip) is skipped, not a permanent wedge") {
    val path = tmp()
    val t = new MergeTable(spark, path, Seq("id"))
    t.merge(Seq(("a", 1)).toDF("id", "v")) // snapshot 1
    // a writer that died between its manifest CREATE_NEW and its pointer
    // flip leaves exactly this state: manifest v2 exists, _current still 1
    Files.writeString(Paths.get(path, "_manifests", "v2.json"),
      """{"snapshotId": 2, "parent": 1, "rowCount": 0, "buckets": {}}""")
    assert(t.currentSnapshot.contains(1L))
    // the next merge must allocate PAST the orphan (its commit was never
    // visible — losing it is correct crash semantics) instead of colliding
    // with it forever
    val s = t.merge(Seq(("b", 2)).toDF("id", "v"))
    assert(s == 3 && t.currentSnapshot.contains(3L))
    assert(t.read().as[(String, Int)].collect().toMap == Map("a" -> 1, "b" -> 2))
    // and the table keeps advancing normally afterwards
    assert(t.merge(Seq(("c", 3)).toDF("id", "v")) == 4)
  }

  test("concurrent commit: manifest CREATE_NEW is the CAS — a planted rival manifest is never overwritten") {
    val path = tmp()
    val t = new MergeTable(spark, path, Seq("id"))
    t.merge(Seq(("a", 1)).toDF("id", "v")) // snapshot 1
    // rival that crashed mid-commit: manifest v2 written, pointer NOT yet
    // flipped — the parent re-check passes (current is still 1), so the
    // CREATE_NEW write itself must be the guard that fires
    val v2 = Paths.get(path, "_manifests", "v2.json")
    val rivalJson = """{"snapshotId": 2, "parent": 1, "rowCount": 0, "buckets": {}}"""
    t.onBeforeCommit = () => Files.writeString(v2, rivalJson)
    val ex = intercept[java.util.ConcurrentModificationException] {
      t.merge(Seq(("b", 2)).toDF("id", "v"))
    }
    assert(ex.getMessage.contains("already exists"))
    // the rival's manifest survives byte-for-byte and the pointer is unmoved
    assert(Files.readString(v2) == rivalJson)
    assert(t.currentSnapshot.contains(1L))
    assert(t.read().as[(String, Int)].collect().toMap == Map("a" -> 1))
  }

  test("bucket-layout mismatch is a hard error, not silent duplication") {
    val path = tmp()
    new MergeTable(spark, path, Seq("url", "begin"), scopeCols = Some(Seq("url")))
      .merge(Seq(("u1", 0, "a")).toDF("url", "begin", "v"))
    val wrongLayout = new MergeTable(spark, path, Seq("url", "begin")) // key-bucketed
    intercept[IllegalStateException] {
      wrongLayout.merge(Seq(("u1", 1, "b")).toDF("url", "begin", "v"))
    }
  }

  // a manifest missing any field the writer stamps (a root written by an
  // older layout) can prove neither its bucketing, its counts nor its schema
  Seq("bucketCols", "bucketRows", "schema").foreach { field =>
    test(s"a legacy manifest without $field is a hard error (cannot verify layout)") {
      val path = tmp()
      val t = new MergeTable(spark, path, Seq("url"), scopeCols = Some(Seq("url")))
      t.merge(Seq(("u1", "a")).toDF("url", "v"))
      val mf = Paths.get(path, "_manifests", "v1.json")
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      val node = mapper.readTree(Files.readString(mf))
        .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
      assert(node.remove(field) != null)
      Files.writeString(mf, mapper.writeValueAsString(node))
      val reopened = new MergeTable(spark, path, Seq("url"), scopeCols = Some(Seq("url")))
      val onRead = intercept[IllegalStateException](reopened.read())
      val onMerge = intercept[IllegalStateException] {
        reopened.merge(Seq(("u1", "b")).toDF("url", "v"))
      }
      Seq(onRead, onMerge).foreach(e => assert(e.getMessage.contains(s"records no $field")))
    }
  }

  test("a fully-emptied table keeps its schema on read") {
    val t = new MergeTable(spark, tmp(), Seq("id"), scopeCols = Some(Seq("id")))
    t.merge(Seq(("a", 1)).toDF("id", "v"))
    t.mergeScoped(Seq.empty[(String, Int)].toDF("id", "v"), Seq("a").toDF("id"))
    assert(t.rowCount == 0)
    assert(t.read().columns.toSeq == Seq("id", "v"))
    assert(t.read().count() == 0)
  }

  test("replace: table contents become exactly the new frame; history stays readable") {
    val t = new MergeTable(spark, tmp(), Seq("id"))
    t.merge(Seq(("a", 1), ("b", 2)).toDF("id", "v"))
    t.replace(Seq(("c", 3)).toDF("id", "v"))
    assert(t.read().as[(String, Int)].collect().toSet == Set(("c", 3)))
    assert(t.rowCount == 1)
    assert(t.readSnapshot(1).as[(String, Int)].collect().toMap == Map("a" -> 1, "b" -> 2))
  }

  test("composite keys") {
    val t = new MergeTable(spark, tmp(), Seq("a", "b"))
    t.merge(Seq(("x", 1, "v1"), ("x", 2, "v2")).toDF("a", "b", "v"))
    t.merge(Seq(("x", 1, "v9")).toDF("a", "b", "v"))
    val got = t.read().as[(String, Int, String)].collect().toSet
    assert(got == Set(("x", 1, "v9"), ("x", 2, "v2")))
  }

  private def manifestOf(t: MergeTable) = new com.fasterxml.jackson.databind.ObjectMapper()
    .readTree(Files.readString(Paths.get(t.path, "_manifests", s"v${t.currentSnapshot.get}.json")))

  /** The manifest's `bucketRows` and `rowCount` against a Spark count of
    * `read()` per bucket.
    */
  private def assertCountsExact(t: MergeTable, bucketCols: Seq[String]): Unit = {
    val m = manifestOf(t)
    val recorded = m.get("bucketRows").properties().asScala
      .map(e => e.getKey.toInt -> e.getValue.asLong()).toMap
    val counted = t.read()
      .groupBy(pmod(xxhash64(bucketCols.map(col): _*), lit(MergeTable.Buckets)).cast("int"))
      .count().as[(Int, Long)].collect().toMap
    assert(recorded == counted)
    assert(m.get("buckets").properties().asScala.map(_.getKey.toInt).toSet == counted.keySet)
    assert(m.get("rowCount").asLong() == t.read().count() && t.rowCount == counted.values.sum)
  }

  /** Each value's bucket under a one-column table's hash, in one Spark job. */
  private def bucketsOf(vs: Seq[String]): Map[String, Int] =
    vs.toDF("k").select(col("k"), pmod(xxhash64(col("k")), lit(MergeTable.Buckets)).cast("int"))
      .as[(String, Int)].collect().toMap

  private def bucketOf(v: String): Int = bucketsOf(Seq(v))(v)

  /** What Spark infers from the parquet files of the current snapshot. */
  private def inferredSchema(path: String, snap: Long): StructType =
    spark.read.parquet(Files.list(Paths.get(path, "data", s"snap-$snap")).iterator().asScala
      .map(_.toString).filter(_.contains("_bucket=")).toSeq: _*).schema

  private def allNullable(t: DataType): Boolean = t match {
    case s: StructType => s.fields.forall(f => f.nullable && allNullable(f.dataType))
    case a: ArrayType => a.containsNull && allNullable(a.elementType)
    case m: MapType => m.valueContainsNull && allNullable(m.keyType) && allNullable(m.valueType)
    case _ => true
  }

  test("read() uses the recorded schema: the inferred one, same field order, all fields nullable") {
    val path = tmp()
    val t = new MergeTable(spark, path, Seq("id"))
    val df = Seq(("a", 1, 2L, Seq(1, 2), Map("x" -> 1.5), ("s", 3)),
      ("b", 4, 5L, Seq.empty[Int], Map.empty[String, Double], ("t", 6)))
      .toDF("id", "i", "l", "arr", "m", "st")
    assert(!allNullable(df.schema))
    t.merge(df)
    val schema = t.read().schema
    assert(schema == inferredSchema(path, 1L))
    assert(schema.fieldNames.toSeq == df.columns.toSeq && allNullable(schema))
    // a merge reads its touched buckets with the same schema
    t.merge(Seq(("a", 9, 9L, Seq(9), Map("y" -> 9.0), ("u", 9))).toDF("id", "i", "l", "arr", "m", "st"))
    assert(t.read().schema == schema)
    assert(t.read().filter(col("id") === "a").select("i").as[Int].head() == 9 && t.read().count() == 2)
  }

  test("an emptied table reads with its recorded schema, as before") {
    val t = new MergeTable(spark, tmp(), Seq("id"), scopeCols = Some(Seq("id")))
    val df = Seq(("a", 1)).toDF("id", "v")
    t.merge(df)
    t.mergeScoped(Seq.empty[(String, Int)].toDF("id", "v"), Seq("a").toDF("id"))
    assert(t.read().schema == df.schema)
  }

  test("footer row counts are exact after a plain merge") {
    val t = new MergeTable(spark, tmp(), Seq("id"))
    t.merge((1 to 50).map(i => (s"k$i", i)).toDF("id", "v"))
    assertCountsExact(t, Seq("id"))
    t.merge(((1 to 10).map(i => (s"k$i", -i)) ++ (51 to 60).map(i => (s"k$i", i))).toDF("id", "v"))
    assert(t.rowCount == 60)
    assertCountsExact(t, Seq("id"))
  }

  test("footer row counts are exact after a mergeScoped that empties a bucket") {
    val t = new MergeTable(spark, tmp(), Seq("url", "begin"),
      scopeCols = Some(Seq("url")))
    val buckets = bucketsOf((0 to 20).map(i => s"u$i"))
    val others = (1 to 20).map(i => s"u$i").filter(buckets(_) != buckets("u0")).take(5)
    t.merge(((("u0", 0, "a") +: ("u0", 5, "b") +: others.map(u => (u, 0, "c"))))
      .toDF("url", "begin", "v"))
    assertCountsExact(t, Seq("url"))
    t.mergeScoped(Seq.empty[(String, Int, String)].toDF("url", "begin", "v"), Seq("u0").toDF("url"))
    assert(!manifestOf(t).get("bucketRows").has(buckets("u0").toString))
    assert(t.rowCount == others.size)
    assertCountsExact(t, Seq("url"))
  }

  test("footer row counts are exact after a replace with an empty frame") {
    val t = new MergeTable(spark, tmp(), Seq("id"))
    t.merge(Seq(("a", 1), ("b", 2)).toDF("id", "v"))
    t.replace(Seq.empty[(String, Int)].toDF("id", "v"))
    assert(t.rowCount == 0 && manifestOf(t).get("bucketRows").size() == 0)
    assertCountsExact(t, Seq("id"))
  }

  test("footer row counts are exact after a composite-key merge") {
    val t = new MergeTable(spark, tmp(), Seq("a", "b"))
    t.merge((1 to 30).map(i => (s"x${i % 3}", i, "v")).toDF("a", "b", "v"))
    t.merge(Seq(("x1", 1, "w"), ("x1", 31, "w"), ("x2", 2, "w")).toDF("a", "b", "v"))
    assert(t.rowCount == 31)
    assertCountsExact(t, Seq("a", "b"))
  }
}
