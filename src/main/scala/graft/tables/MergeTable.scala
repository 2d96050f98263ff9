package graft.tables

import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.io.LocalInputFile
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

/** Iceberg-*semantics* table: bucketed Parquet + JSON snapshot manifests +
  * key-based MERGE, per SURVEY.md §7.4 (no Iceberg jar in the sandbox; the
  * interface is what a real Iceberg catalog would replace).
  *
  * Layout:
  *   path/data/snap-N/_bucket=K/ (parquet)  — data written by snapshot N
  *   path/_manifests/v{N}.json              — snapshot manifest:
  *       {snapshotId, parent, rowCount, createdMs,
  *        buckets: {K -> snap that owns K}, bucketRows: {K -> rows},
  *        bucketCols, schema}
  *   path/_current                          — current snapshot id (atomic move)
  *
  * Rows hash into [[MergeTable.Buckets]] (32) buckets by `bucketCols` (the
  * scope columns of a scoped table, else the key). There is one manifest
  * format and every reader requires all of its fields: a manifest without
  * `bucketCols`, `buckets`, `bucketRows` or `schema` (a root written by an
  * older layout), or whose `bucketCols` differ from this table's, is a hard
  * error, never a silent re-bucketing.
  *
  * MERGE is read-merge-rewrite of *touched buckets only*: a narrow scan finds
  * the buckets the incoming batch (and, for a scope-replace, its processed
  * scopes) hashes to; the merge reads just those buckets' old rows, unions
  * them with the batch, keeps per bucket one row per key — the batch's over
  * the old — and rewrites those buckets under a new snapshot, in one SQL
  * write with one shuffle (see [[commit]]). Unaffected buckets keep their
  * old files and row counts (manifest pointers carry over). At 100 TB this
  * bounds merge I/O to O(touched data), the same contract as Iceberg MERGE
  * with bucket partitioning. Bucket files are read with the manifest's
  * recorded schema (no schema-inference job), and a new snapshot's row
  * counts come from the footers of the files it wrote. A REPLACE is the same
  * commit with no old rows and no bucket carried over.
  *
  * Idempotency: deterministic keys + MERGE ⇒ re-running a stage converges to
  * the same table (ref analog: `INSERT … ON CONFLICT` upserts +
  * deterministic `_id = qid_lang_chunk`, src/wikidataDB.py:46-76,
  * docker/3_Add_Wikidata_to_AstraDB/run.py:88).
  *
  * @param scopeCols when set, the table supports SCOPE-REPLACE merges: a
  *   merge deletes every old row whose scope appears in the batch unless the
  *   batch re-emits it (a changed web page whose output SHRANK must shed its
  *   stale mentions/chunks/triples — MERGE-only upserts cannot delete).
  *   Buckets hash by scope, so a scope's rows co-locate and replacing it
  *   touches only its own buckets. Contract: a key determines its scope —
  *   the key contains the scope columns or is derived from them (`url` in
  *   `(url, begin, qid)`, `uuid = md5(qid|…)`, `doc_id = qid_lang_chunk`).
  *   Keys are compared within a bucket, so one key under two scopes is
  *   outside the contract: which of its rows survive is unspecified.
  */
final class MergeTable(spark: SparkSession, val path: String,
                       val keyCols: Seq[String],
                       val scopeCols: Option[Seq[String]] = None) {

  private val mapper = new ObjectMapper()

  private def currentFile = Paths.get(path, "_current")
  private def manifestFile(v: Long) = Paths.get(path, "_manifests", s"v$v.json")

  def currentSnapshot: Option[Long] =
    if (Files.exists(currentFile)) Some(Files.readString(currentFile).trim.toLong) else None

  def exists: Boolean = currentSnapshot.isDefined

  /** One snapshot manifest: the snapshot that owns each bucket, each
    * bucket's row count (so a merge carries untouched buckets' counts
    * forward without re-reading their files) and the table schema.
    */
  private case class Manifest(buckets: Map[Int, Long], bucketRows: Map[Int, Long],
                              schema: StructType) {
    def rowCount: Long = bucketRows.values.sum
  }

  /** The one manifest parser. A table's bucket hashing is part of its
    * on-disk layout: merging with a DIFFERENT bucketing than the one that
    * wrote it would neither find nor replace existing rows (silent
    * duplicates), and a manifest missing a field cannot prove its layout,
    * counts or schema — both are hard errors.
    */
  private def parseManifest(v: Long): Manifest = {
    val node = mapper.readTree(Files.readString(manifestFile(v)))
    def field(name: String): JsonNode = Option(node.get(name)).getOrElse(
      throw new IllegalStateException(
        s"table $path manifest v$v records no $name (written by an older table " +
          "layout) — recreate the table at a fresh root"))
    def intMap(name: String): Map[Int, Long] =
      field(name).properties().asScala.map(e => e.getKey.toInt -> e.getValue.asLong()).toMap
    val stored = field("bucketCols").elements().asScala.map(_.asText()).toSeq
    if (stored != bucketCols)
      throw new IllegalStateException(
        s"table $path bucket layout mismatch: on-disk bucketCols=$stored vs " +
          s"configured $bucketCols — recreate the table at a fresh root")
    Manifest(intMap("buckets"), intMap("bucketRows"),
      DataType.fromJson(field("schema").toString).asInstanceOf[StructType])
  }

  /** The one manifest renderer (the format [[parseManifest]] reads). */
  private def renderManifest(snap: Long, parent: Long, m: Manifest): String = {
    def intMapJson(m: Map[Int, Long]): String = m.toSeq.sortBy(_._1)
      .map { case (b, s) => s""""$b": $s""" }.mkString("{", ", ", "}")
    val bucketColsJson = bucketCols.map(c => "\"" + c + "\"").mkString("[", ", ", "]")
    s"""{"snapshotId": $snap, "parent": $parent, "rowCount": ${m.rowCount},
       | "createdMs": ${System.currentTimeMillis()}, "buckets": ${intMapJson(m.buckets)},
       | "bucketRows": ${intMapJson(m.bucketRows)},
       | "bucketCols": $bucketColsJson,
       | "schema": ${m.schema.json}}""".stripMargin
  }

  def rowCount: Long = currentSnapshot.map(parseManifest(_).rowCount).getOrElse(0L)

  private def bucketDir(snap: Long, bucket: Int): String =
    s"$path/data/snap-$snap/_bucket=$bucket"

  private def bucketCols: Seq[String] = scopeCols.getOrElse(keyCols)
  private def bucketExpr =
    pmod(xxhash64(bucketCols.map(col): _*), lit(MergeTable.Buckets)).cast("int")

  /** Current table contents (without the internal bucket column). */
  def read(): DataFrame = currentSnapshot match {
    case None => throw new IllegalStateException(s"table $path has no snapshot")
    case Some(v) => readSnapshot(v)
  }

  /** Time travel: the table as of snapshot `v` — manifests are immutable and
    * old bucket files are never rewritten, so any historical snapshot stays
    * readable (Iceberg snapshot-read semantics). Bucket files are read with
    * the recorded schema, so no schema-inference job runs; Spark reads a
    * user-given file schema as all-nullable, the same schema inference gives.
    */
  def readSnapshot(v: Long): DataFrame = {
    val m = parseManifest(v)
    val dirs = m.buckets.toSeq.map { case (b, snap) => bucketDir(snap, b) }
      .filter(d => Files.exists(Paths.get(d)))
    // a scope-replace/replace can legally empty the table: keep the last
    // recorded schema so downstream column references still resolve
    if (dirs.nonEmpty) spark.read.schema(m.schema).parquet(dirs: _*) else empty(m.schema)
  }

  private def empty(schema: StructType): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)

  /** Numeric ids parsed from a directory's entries via `pattern`'s first
    * group (shared by the manifest and data-dir listings).
    */
  private def listIds(dir: Path, pattern: scala.util.matching.Regex): Seq[Long] =
    if (!Files.exists(dir)) Seq.empty
    else {
      val stream = Files.list(dir)
      try stream.toArray.map(_.toString)
        .flatMap(s => pattern.findFirstMatchIn(s).map(_.group(1).toLong))
        .sorted.toSeq
      finally stream.close()
    }

  /** All snapshot ids, oldest first. */
  def snapshots: Seq[Long] =
    listIds(Paths.get(path, "_manifests"), "v(\\d+)\\.json$".r)

  /** The current contents, or an empty frame with `schemaOf`'s schema when
    * the table has no snapshot yet.
    */
  def readOrEmpty(schemaOf: DataFrame): DataFrame =
    if (exists) read() else empty(schemaOf.schema)

  /** MERGE: upsert `df` by key. New rows win over old rows with the same key.
    * On a scoped table, additionally deletes old rows of every scope PRESENT
    * IN `df` that the batch does not re-emit. Returns the new snapshot id.
    */
  def merge(df: DataFrame): Long = commit(df, keepOld = true, scopes = None)

  /** Scope-replace MERGE with an EXPLICIT processed-scope set: every scope in
    * `scopes` is replaced by its rows in `df` — including scopes that yield
    * ZERO rows this time (a re-processed page whose mentions/chunks/triples
    * all disappeared must still shed its old rows). `scopes` must contain the
    * table's scopeCols; duplicate scopes are harmless.
    */
  def mergeScoped(df: DataFrame, scopes: DataFrame): Long = {
    require(scopeCols.nonEmpty, s"table $path has no scopeCols")
    commit(df, keepOld = true, scopes = Some(scopes.select(scopeCols.get.map(col): _*)))
  }

  /** Full-table REPLACE: the new snapshot contains exactly `df` (derived
    * global artifacts — canon/nodes/edges — are recomputed wholesale, so
    * rows absent from the recompute must not survive).
    */
  def replace(df: DataFrame): Long = commit(df, keepOld = false, scopes = None)

  /** Buckets that rows of `frame` hash to, from one narrow Spark job: each
    * partition ORs its rows' buckets into a `Long` bitmask, which holds all
    * [[MergeTable.Buckets]] (the per-partition pattern of
    * [[Lineage.capture]]). No shuffle and no SQL execution runs, so no plan
    * is described.
    */
  private def touchedBuckets(frame: DataFrame): Set[Int] = {
    val masks = frame.select(bucketExpr).queryExecution.toRdd.mapPartitions { rows =>
      var mask = 0L
      while (rows.hasNext) mask |= 1L << rows.next().getInt(0)
      Iterator.single(mask)
    }.collect()
    val mask = masks.foldLeft(0L)(_ | _)
    (0 until MergeTable.Buckets).filter(b => (mask & (1L << b)) != 0).toSet
  }

  /** The one commit path of [[merge]], [[mergeScoped]] and [[replace]]. It
    * reads the table's state once — the current snapshot and its manifest —
    * and allocates the new snapshot id.
    *
    * A merge (`keepOld`) rewrites the old buckets that a batch row or a
    * processed scope hashes to, found by [[touchedBuckets]], and carries
    * every other old bucket over by pointer; a replace carries none. The
    * rows to write are one union, each row tagged with its `_bucket` and its
    * source `_src`: the old rows of the rewritten buckets (0), the processed
    * `scopes` with their other columns null (1) and the batch (2). One
    * shuffle by `_bucket` feeds two per-bucket windows, which keep
    *   - a batch row that ranks first among the rows of its key, by `_src`
    *     descending (one row per key; which of a batch's duplicate keys is
    *     kept is unspecified, as with `dropDuplicates`);
    *   - an old row that ranks first among the rows of its key — no batch
    *     row has its key — and, on a scoped table, whose scope holds no
    *     batch row and no processed-scope row.
    * The rows are written to a staging dir, counted from their footers, and
    * committed by [[commitManifest]] under a manifest whose written buckets
    * point at the new snapshot and whose carried buckets keep their owner
    * and row count. Returns the new id.
    */
  private def commit(df: DataFrame, keepOld: Boolean, scopes: Option[DataFrame]): Long = {
    val snap = currentSnapshot
    val parent = snap.getOrElse(0L)
    val current = snap.map(parseManifest)
    // one past the max of every EXISTING manifest and the current pointer —
    // never `current + 1` alone. A writer that crashed after its manifest
    // CAS but before its pointer flip leaves an orphaned manifest at
    // current+1; allocating past it makes the orphan a skipped id (its
    // commit was never visible, so losing it is correct crash semantics)
    // instead of a permanent collision that would make every later
    // commit's CREATE_NEW fail forever
    val newSnap = (snapshots :+ parent).max + 1
    val oldBuckets = if (keepOld) current.fold(Map.empty[Int, Long])(_.buckets) else Map.empty[Int, Long]
    // a processed scope may have zero incoming rows but still demands a
    // rewrite, and a batch row's scope may be missing from `scopes`: a
    // bucket it lands in must be read, or rewriting it would drop the
    // bucket's unrelated old rows. With no old bucket, nothing is read
    val touched =
      if (oldBuckets.isEmpty) Set.empty[Int]
      else touchedBuckets(scopes.fold(df)(_.unionByName(df.select(scopeCols.get.map(col): _*))))
    val touchedWithData = touched.filter(oldBuckets.contains).toSeq
    val cols = df.columns.toSeq.map(col)
    val old = Option.when(touchedWithData.nonEmpty)(
      spark.read.schema(current.get.schema)
        .parquet(touchedWithData.map(b => bucketDir(oldBuckets(b), b)): _*).select(cols: _*))
    // scope markers only ever delete old rows
    val markers = scopes.filter(_ => old.nonEmpty).map { s =>
      s.select(df.schema.map { f =>
        if (s.columns.contains(f.name)) col(f.name) else lit(null).cast(f.dataType).as(f.name)
      }: _*)
    }
    def tagged(f: DataFrame, tag: Int) =
      f.withColumn("_bucket", bucketExpr).withColumn("_src", lit(tag))
    val inputs = old.map(tagged(_, 0)).toSeq ++ markers.map(tagged(_, 1)) :+ tagged(df, 2)
    val src = col("_src")
    val byKey = Window.partitionBy(col("_bucket") +: keyCols.map(col): _*).orderBy(src.desc)
    val scopeKept = scopeCols match {
      case Some(sc) if old.nonEmpty =>
        max(src).over(Window.partitionBy(col("_bucket") +: sc.map(col): _*)) === 0
      case _ => lit(true)
    }
    // the shuffle by `_bucket` satisfies both windows' distributions and
    // clusters the write: one file per written bucket instead of (#tasks ×
    // #buckets) shards — without it, every snapshot sprays ~1000 tiny files
    // that each subsequent merge/read must open (measured: the small-file
    // tax dominated incremental merges). The windows' sorts start with
    // `_bucket`, which is the partitioned write's required order
    val rows = inputs.reduce(_ unionByName _).repartition(col("_bucket"))
      .withColumn("_keep", row_number().over(byKey) === 1 && (src === 2 || src === 0 && scopeKept))
      .where(col("_keep"))
      .select(cols :+ col("_bucket"): _*)

    Files.createDirectories(Paths.get(path, "_manifests"))
    // The write targets a writer-private STAGING dir — never the final
    // snap-N path — so a concurrent writer racing for the same snapshot id
    // can never clobber the winner's committed files; commitManifest binds
    // the staged data to the id only after winning the manifest CAS.
    val staging = Paths.get(path, s"data/_staging-${java.util.UUID.randomUUID().toString.take(8)}")
    rows.write.mode("overwrite").partitionBy("_bucket").parquet(staging.toString)
    // per-bucket counts of what we just wrote, read from the staged files'
    // parquet footers on the driver (no Spark job): the merge plan executes
    // exactly once, in the write job (persisting it instead measured 5×
    // slower on the partitioned write path). A written bucket is absent
    // when a scope-replace deleted its last row.
    val written = footerRows(stagedBuckets(staging))
    val carried = oldBuckets.keySet -- touched
    val prior = current.getOrElse(Manifest(Map.empty, Map.empty, df.schema))
    val manifest = Manifest(
      prior.buckets.view.filterKeys(carried).toMap ++ written.keys.map(_ -> newSnap),
      prior.bucketRows.view.filterKeys(carried).toMap ++ written, df.schema)
    commitManifest(newSnap, parent, manifest, staging)
    newSnap
  }

  /** The `_bucket=K` partition dirs of a staged write (none for an empty
    * frame, whose write leaves only `_SUCCESS`).
    */
  private def stagedBuckets(staging: Path): Map[Int, Path] =
    listIds(staging, "_bucket=(\\d+)$".r).map(b => b.toInt -> staging.resolve(s"_bucket=$b")).toMap

  /** Row count of each bucket dir, summed from the parquet footers of the
    * files Spark would read (names starting with `.` or `_` are skipped),
    * on the driver with no Spark job; a missing dir counts 0. The read
    * options are built once per call: the default ones build a fresh Hadoop
    * `Configuration` per file, about 10 ms each.
    */
  private def footerRows(dirs: Map[Int, Path]): Map[Int, Long] = {
    val options = HadoopReadOptions.builder(spark.sparkContext.hadoopConfiguration).build()
    def fileRows(f: Path): Long = {
      val reader = ParquetFileReader.open(new LocalInputFile(f), options)
      try reader.getRecordCount finally reader.close()
    }
    dirs.map { case (b, dir) =>
      b -> (if (!Files.exists(dir)) 0L else {
        val st = Files.list(dir)
        try st.iterator().asScala.filterNot { f =>
          val n = f.getFileName.toString
          n.startsWith(".") || n.startsWith("_")
        }.map(fileRows).sum
        finally st.close()
      })
    }
  }

  private def deleteTreeIfExists(dir: Path): Unit =
    if (Files.exists(dir)) {
      val walk = Files.walk(dir)
      try walk.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(p => Files.deleteIfExists(p))
      finally walk.close()
    }

  /** Iceberg-style snapshot expiry + orphan-file GC (`expire_snapshots` +
    * `remove_orphan_files`): keep the newest `keepLast` manifests (always
    * including current), delete every older manifest, then remove every
    * `data/snap-N/_bucket=K` directory no SURVIVING manifest's bucket map
    * references (and any snap dir left empty). REACHABILITY, not age,
    * decides data deletion — per (snapshot, bucket): an untouched bucket's
    * file written by the very first snapshot survives as long as a kept
    * manifest still points at it, while that same dir's bucket copies that
    * later merges superseded are reclaimed. Time travel to a kept snapshot
    * keeps working; to an expired one it fails fast on the missing
    * manifest.
    *
    * At 100 TB this is the maintenance job that bounds table storage:
    * every merge rewrites touched buckets under a new snapshot, so without
    * expiry the table grows by the churn rate forever. Pure
    * manifest/directory metadata work — no data files are read or
    * rewritten, no Spark job runs.
    *
    * Returns (expired manifest ids, deleted snapshot data dirs).
    */
  def expireSnapshots(keepLast: Int): (Seq[Long], Seq[Long]) = {
    require(keepLast >= 1, s"keepLast must be >= 1, got $keepLast")
    val cur = currentSnapshot.getOrElse(
      throw new IllegalStateException(s"table $path has no snapshot"))
    val all = snapshots
    val keep = all.takeRight(keepLast).toSet + cur
    val expired = all.filterNot(keep)
    // reachability is per (owning snapshot, bucket) — exactly what the kept
    // manifests' bucket maps record — so a surviving snapshot dir sheds the
    // individual bucket copies later merges superseded (the initial
    // full-load dir would otherwise retain a stale copy of every bucket
    // rewritten since, for the life of the table)
    // .toSeq before the swap: mapping the Map directly would key the result
    // by snapshot and silently collapse every bucket sharing one
    val referenced: Set[(Long, Int)] =
      keep.flatMap(v => parseManifest(v).buckets.toSeq.map { case (b, snap) => (snap, b) })
    expired.foreach(v => Files.deleteIfExists(manifestFile(v)))
    val onDisk = listIds(Paths.get(path, "data"), "snap-(\\d+)$".r)
    val deletedDirs = onDisk.flatMap { snap =>
      val snapDir = Paths.get(path, s"data/snap-$snap")
      listIds(snapDir, "_bucket=(\\d+)$".r)
        .filterNot(b => referenced((snap, b.toInt)))
        .foreach(b => deleteTreeIfExists(snapDir.resolve(s"_bucket=$b")))
      // drop the dir itself once nothing referenced remains — unless it is
      // a KEPT snapshot's own dir (a merge that only carried pointers
      // forward writes no files; keep its empty shell out of caution)
      if (listIds(snapDir, "_bucket=(\\d+)$".r).isEmpty && !keep(snap)) {
        deleteTreeIfExists(snapDir)
        Some(snap)
      } else None
    }
    // abandoned staging dirs (a writer that crashed before its commit CAS)
    // are unreferenced by construction — sweep them with the same
    // maintenance pass. Safe under the single-maintenance-job discipline
    // every table-compaction system assumes (a LIVE writer's staging dir
    // would also match; don't run expiry concurrently with writers).
    val dataDir = Paths.get(path, "data")
    if (Files.exists(dataDir)) {
      val st = Files.list(dataDir)
      try st.filter(p => p.getFileName.toString.startsWith("_staging-"))
        .forEach(p => deleteTreeIfExists(p))
      finally st.close()
    }
    (expired, deletedDirs)
  }

  /** Test seam for the concurrent-commit spec: runs after a merge/replace
    * has chosen its parent snapshot and written its data files, immediately
    * before the manifest CAS — the widest real race window. Production code
    * never sets it.
    */
  private[tables] var onBeforeCommit: () => Unit = () => ()

  /** Commit = manifest CAS + data-dir bind + pointer flip. Snapshot-id
    * allocation is the conflict detector (Iceberg's optimistic-concurrency
    * discipline): two writers that both read parent P compute the same id,
    * and CREATE_NEW makes exactly one manifest write win — the loser throws
    * ConcurrentModificationException with nothing committed AND nothing
    * clobbered: its data lives only in its own staging dir (deleted on the
    * way out), never at the shared snap-N path, which only the CAS winner
    * renames its staging onto. The parent re-check before the manifest
    * write is belt-and-braces for a writer raced between its data write and
    * its commit. Crash windows: before the CAS → only an abandoned staging
    * dir (expireSnapshots sweeps those); after the CAS but before the flip →
    * an orphaned manifest that [[commit]]'s id allocation skips, the commit
    * was never visible.
    */
  private def commitManifest(newSnap: Long, parent: Long, manifest: Manifest,
                             staging: Path): Unit = {
    onBeforeCommit()
    def abort(msg: String): Nothing = {
      deleteTreeIfExists(staging)
      throw new java.util.ConcurrentModificationException(msg)
    }
    val now = currentSnapshot.getOrElse(0L)
    if (now != parent)
      abort(s"table $path: snapshot $newSnap was derived from parent $parent " +
        s"but current is now $now — a concurrent " +
        "writer committed first; retry the merge against the new current")
    try Files.writeString(manifestFile(newSnap), renderManifest(newSnap, parent, manifest),
      java.nio.file.StandardOpenOption.CREATE_NEW)
    catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        abort(s"table $path: manifest v$newSnap already exists — a concurrent " +
          "writer committed the same snapshot id first; retry the merge " +
          "against the new current")
    }
    // the id is exclusively ours now: bind the staged data to it (atomic
    // same-filesystem rename; the target cannot exist because ids are never
    // reused and only the CAS winner renames)
    if (Files.exists(staging))
      Files.move(staging, Paths.get(path, s"data/snap-$newSnap"),
        StandardCopyOption.ATOMIC_MOVE)
    val tmp = Paths.get(path, s"_current.tmp")
    Files.writeString(tmp, newSnap.toString)
    Files.move(tmp, currentFile, StandardCopyOption.REPLACE_EXISTING,
      StandardCopyOption.ATOMIC_MOVE)
  }
}

object MergeTable {

  /** Every table's bucket count. It is part of the on-disk layout: a table
    * re-bucketed with another count would neither find nor replace its old
    * rows, so it is a constant, not an option.
    */
  val Buckets = 32
}
