package graft.tables

import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.io.LocalInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
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
  *       {snapshotId, parent, rowCount, buckets: {K -> snap that owns K},
  *        bucketRows: {K -> rows}, bucketCols, schema}
  *   path/_current                          — current snapshot id (atomic move)
  *
  * MERGE is read-merge-rewrite of *touched buckets only*: rows hash-bucket by
  * key; a merge reads just the buckets present in the incoming batch,
  * anti-joins old-by-key, unions, and rewrites those buckets under a new
  * snapshot — unaffected buckets keep their old files (manifest pointers
  * carry over). At 100 TB this bounds merge I/O to O(touched data), the same
  * contract as Iceberg MERGE with bucket partitioning. Bucket files are read
  * with the manifest's recorded schema (no schema-inference job), and a new
  * snapshot's row counts come from the footers of the files it wrote.
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
  *   touches only its own buckets.
  */
final class MergeTable(spark: SparkSession, val path: String,
                       val keyCols: Seq[String], val numBuckets: Int = 32,
                       val scopeCols: Option[Seq[String]] = None) {

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  private def currentFile = Paths.get(path, "_current")
  private def manifestFile(v: Long) = Paths.get(path, "_manifests", s"v$v.json")

  def currentSnapshot: Option[Long] =
    if (Files.exists(currentFile)) Some(Files.readString(currentFile).trim.toLong) else None

  def exists: Boolean = currentSnapshot.isDefined

  private def manifestNode(v: Long) = mapper.readTree(Files.readString(manifestFile(v)))

  /** One snapshot manifest. `bucketRows` lets merge carry untouched buckets'
    * counts forward without re-reading their files (absent only in
    * pre-upgrade manifests); `schema` is absent only in manifests written
    * before schema stamping.
    */
  private case class Manifest(buckets: Map[Int, Long], rowCount: Long,
                              bucketRows: Map[Int, Long], schema: Option[StructType])

  private def readManifest(v: Long): Manifest = {
    val node = manifestNode(v)
    def intMap(n: com.fasterxml.jackson.databind.JsonNode): Map[Int, Long] =
      n.properties().asScala.map(e => e.getKey.toInt -> e.getValue.asLong()).toMap
    Manifest(intMap(node.get("buckets")), node.get("rowCount").asLong(),
      Option(node.get("bucketRows")).map(intMap).getOrElse(Map.empty),
      Option(node.get("schema")).map(n => DataType.fromJson(n.toString).asInstanceOf[StructType]))
  }

  /** A table's bucket hashing is part of its on-disk layout: merging with a
    * DIFFERENT bucketing than the one that wrote it would neither find nor
    * replace existing rows (silent duplicates). Manifests record it; a
    * mismatch is a hard error, not a corruption.
    */
  private def validateLayout(): Unit = currentSnapshot.foreach { v =>
    Option(manifestNode(v).get("bucketCols"))
      .map(_.elements().asScala.map(_.asText()).toSeq) match {
      case Some(stored) =>
        if (stored != bucketCols)
          throw new IllegalStateException(
            s"table $path bucket layout mismatch: on-disk bucketCols=$stored vs " +
              s"configured $bucketCols — recreate the table at a fresh root")
      case None =>
        // a manifest that predates layout stamping can't prove its bucketing;
        // merging against it with ANY assumed layout could silently
        // mis-bucket (duplicates / missed scope deletions) — hard error, same
        // as a recorded mismatch
        throw new IllegalStateException(
          s"table $path manifest v$v records no bucketCols (pre-layout-stamp " +
            s"table) — cannot verify it matches configured $bucketCols; " +
            "recreate the table at a fresh root")
    }
  }

  def rowCount: Long = currentSnapshot.map(readManifest(_).rowCount).getOrElse(0L)

  private def bucketDir(snap: Long, bucket: Int): String =
    s"$path/data/snap-$snap/_bucket=$bucket"

  private def bucketCols: Seq[String] = scopeCols.getOrElse(keyCols)
  private def bucketExpr = pmod(xxhash64(bucketCols.map(col): _*), lit(numBuckets)).cast("int")

  /** Current table contents (without the internal bucket column). */
  def read(): DataFrame = currentSnapshot match {
    case None => throw new IllegalStateException(s"table $path has no snapshot")
    case Some(v) => readSnapshot(v)
  }

  /** Time travel: the table as of snapshot `v` — manifests are immutable and
    * old bucket files are never rewritten, so any historical snapshot stays
    * readable (Iceberg snapshot-read semantics).
    */
  def readSnapshot(v: Long): DataFrame = {
    val m = readManifest(v)
    val dirs = m.buckets.toSeq.map { case (b, snap) => bucketDir(snap, b) }
      .filter(d => Files.exists(Paths.get(d)))
    if (dirs.nonEmpty) readParquet(m.schema, dirs)
    else m.schema match {
      // a scope-replace/replace can legally empty the table: keep the last
      // recorded schema so downstream column references still resolve
      case Some(st) => spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], st)
      case None => spark.emptyDataFrame
    }
  }

  /** Bucket files read with the recorded `schema`, so no schema-inference
    * job runs; Spark reads a user-given file schema as all-nullable, the
    * same schema inference gives. Only a manifest without one infers.
    */
  private def readParquet(schema: Option[StructType], dirs: Seq[String]): DataFrame =
    schema.fold(spark.read)(spark.read.schema(_)).parquet(dirs: _*)

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

  def readOrEmpty(schemaOf: DataFrame): DataFrame =
    if (exists) read() else spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schemaOf.schema)

  /** MERGE: upsert `df` by key. New rows win over old rows with the same key.
    * On a scoped table, additionally deletes old rows of every scope PRESENT
    * IN `df` that the batch does not re-emit. Returns the new snapshot id.
    */
  def merge(df: DataFrame): Long =
    mergeInternal(df, scopeCols.map(sc => df.select(sc.map(col): _*).distinct()))

  /** Scope-replace MERGE with an EXPLICIT processed-scope set: every scope in
    * `scopes` is replaced by its rows in `df` — including scopes that yield
    * ZERO rows this time (a re-processed page whose mentions/chunks/triples
    * all disappeared must still shed its old rows). `scopes` must contain the
    * table's scopeCols.
    */
  def mergeScoped(df: DataFrame, scopes: DataFrame): Long = {
    require(scopeCols.nonEmpty, s"table $path has no scopeCols")
    // ALWAYS include the incoming rows' own scopes: a row whose scope were
    // missing from `scopes` would land in a bucket the merge never read,
    // and rewriting that bucket would drop its unrelated old rows
    val eff = scopes.select(scopeCols.get.map(col): _*)
      .unionByName(df.select(scopeCols.get.map(col): _*))
      .distinct()
    mergeInternal(df, Some(eff))
  }

  /** Full-table REPLACE: the new snapshot contains exactly `df` (derived
    * global artifacts — canon/nodes/edges — are recomputed wholesale, so
    * rows absent from the recompute must not survive).
    */
  def replace(df: DataFrame): Long = {
    validateLayout()
    val newSnap = allocateSnapshot()
    val parent = currentSnapshot.getOrElse(0L)
    val incoming = df.dropDuplicates(keyCols).withColumn("_bucket", bucketExpr)
    Files.createDirectories(Paths.get(path, "_manifests"))
    val staging = newStagingDir()
    incoming.repartition(col("_bucket")).write.mode("overwrite").partitionBy("_bucket")
      .parquet(staging.toString)
    val newBucketRows = footerRows(stagedBuckets(staging))
    commitManifest(newSnap, parent,
      manifestJson(newSnap, parent, newBucketRows.keys.map(_ -> newSnap).toMap,
        newBucketRows, df.schema.json), staging)
    newSnap
  }

  private def mergeInternal(df: DataFrame, scopes: Option[DataFrame]): Long = {
    validateLayout()
    val newSnap = allocateSnapshot()
    val incoming = df.dropDuplicates(keyCols).withColumn("_bucket", bucketExpr)

    val snap = currentSnapshot
    val parent = snap.getOrElse(0L)
    val current = snap.map(readManifest)
    val oldBuckets = current.fold(Map.empty[Int, Long])(_.buckets)

    // buckets touched by this batch: from the processed SCOPES when given
    // (a scope may have zero incoming rows but still demand a rewrite),
    // else from the incoming rows
    val touched = scopes.getOrElse(incoming)
      .withColumn("_bucket", bucketExpr)
      .select("_bucket").distinct().collect().map(_.getInt(0)).toSet
    val touchedWithData = touched.filter(oldBuckets.contains)

    val merged = (
      if (touchedWithData.isEmpty) incoming
      else {
        val oldDirs = touchedWithData.toSeq.map(b => bucketDir(oldBuckets(b), b))
        val old = readParquet(current.flatMap(_.schema), oldDirs).withColumn("_bucket", bucketExpr)
        // key-anti for plain upsert; scope-anti replaces whole scopes. The
        // key side reads the raw batch: duplicate keys on a left-anti join's
        // right side do not change its result, so deduplicating them first
        // would only cost a second pass over the batch
        val survivors = scopes match {
          case Some(s) => old.join(s, scopeCols.get, "left_anti")
          case None    => old.join(df.select(keyCols.map(col): _*), keyCols, "left_anti")
        }
        survivors.unionByName(incoming)
      // the anti-join puts join keys first: re-project to the incoming order
      // so every snapshot's files share one column order
      }).select(incoming.columns.map(col): _*)

    Files.createDirectories(Paths.get(path, "_manifests"))
    // cluster by bucket before the partitioned write: one file per touched
    // bucket instead of (#tasks × #buckets) shards — without this, every
    // snapshot sprays ~1000 tiny files that each subsequent merge/read must
    // open (measured: the small-file tax dominated incremental merges).
    // The write targets a writer-private STAGING dir — never the final
    // snap-N path — so a concurrent writer racing for the same snapshot id
    // can never clobber the winner's committed files; commitManifest binds
    // the staged data to the id only after winning the manifest CAS.
    val staging = newStagingDir()
    merged.repartition(col("_bucket")).write.mode("overwrite").partitionBy("_bucket")
      .parquet(staging.toString)

    // per-bucket counts of what we just wrote, read from the staged files'
    // parquet footers on the driver (no Spark job): the anti-join plan
    // executes exactly once, in the write job (persisting it instead
    // measured 5× slower on the partitioned write path)
    val newBucketRows = footerRows(stagedBuckets(staging))

    // new manifest: touched buckets point at newSnap (dropped entirely when
    // a scope-replace deleted their last row), others carry over — including
    // their row counts, so merge I/O stays O(touched data): no untouched
    // bucket is ever re-read just to recount it. (Pre-upgrade manifests
    // without bucketRows pay one footer recount, then carry.)
    val untouched = oldBuckets.keySet -- touched
    val newBuckets = oldBuckets.view.filterKeys(untouched.contains).toMap ++
      newBucketRows.keys.map(_ -> newSnap)
    val oldBucketRows = current.fold(Map.empty[Int, Long])(_.bucketRows)
    val untouchedRows: Map[Int, Long] =
      if (untouched.forall(oldBucketRows.contains)) untouched.map(b => b -> oldBucketRows(b)).toMap
      else footerRows(untouched.map(b => b -> Paths.get(bucketDir(oldBuckets(b), b))).toMap)
    commitManifest(newSnap, parent,
      manifestJson(newSnap, parent, newBuckets, untouchedRows ++ newBucketRows,
        df.schema.json), staging)
    newSnap
  }

  private def manifestJson(newSnap: Long, parent: Long,
                           buckets: Map[Int, Long], bucketRows: Map[Int, Long],
                           schemaJson: String): String = {
    def intMapJson(m: Map[Int, Long]): String = m.toSeq.sortBy(_._1)
      .map { case (b, s) => s""""$b": $s""" }.mkString("{", ", ", "}")
    val bucketColsJson = bucketCols.map(c => "\"" + c + "\"").mkString("[", ", ", "]")
    s"""{"snapshotId": $newSnap, "parent": $parent, "rowCount": ${bucketRows.values.sum},
       | "createdMs": ${System.currentTimeMillis()}, "buckets": ${intMapJson(buckets)},
       | "bucketRows": ${intMapJson(bucketRows)},
       | "bucketCols": $bucketColsJson,
       | "schema": $schemaJson}""".stripMargin
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

  /** Next snapshot id: one past the max of every EXISTING manifest and the
    * current pointer — never `current + 1` alone. A writer that crashed
    * after its manifest CAS but before its pointer flip leaves an orphaned
    * manifest at current+1; allocating past it makes the orphan a skipped id
    * (its commit was never visible, so losing it is correct crash
    * semantics) instead of a permanent collision that would make every
    * later merge's CREATE_NEW fail forever.
    */
  private def allocateSnapshot(): Long =
    (snapshots :+ currentSnapshot.getOrElse(0L)).max + 1

  /** Writer-private staging dir for one commit attempt's data files. */
  private def newStagingDir(): Path =
    Paths.get(path, s"data/_staging-${java.util.UUID.randomUUID().toString.take(8)}")

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
      keep.flatMap(v => readManifest(v).buckets.toSeq.map { case (b, snap) => (snap, b) })
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
    * an orphaned manifest that [[allocateSnapshot]] skips, the commit was
    * never visible.
    */
  private def commitManifest(newSnap: Long, parent: Long, json: String,
                             staging: Path): Unit = {
    onBeforeCommit()
    def abort(msg: String): Nothing = {
      deleteTreeIfExists(staging)
      throw new java.util.ConcurrentModificationException(msg)
    }
    if (currentSnapshot.getOrElse(0L) != parent)
      abort(s"table $path: snapshot $newSnap was derived from parent $parent " +
        s"but current is now ${currentSnapshot.getOrElse(0L)} — a concurrent " +
        "writer committed first; retry the merge against the new current")
    try Files.writeString(manifestFile(newSnap), json,
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
