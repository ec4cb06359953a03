package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** The ONE transactional table surface behind every versioned-snapshot
  * sink (the s5 PIT upsert, s16 SCD2 dim, s36/s37 materialized views
  * all publish through here): immutable `v<batchId>` parquet version
  * directories, a one-line `CURRENT` pointer file swapped atomically,
  * bounded retention, and an as-known-at read over the retained
  * versions.
  *
  * Transaction model — single-writer, many-reader:
  *  - **Atomicity**: a version dir is written COMPLETELY before the
  *    pointer names it; the swap is a FileContext rename with
  *    OVERWRITE — atomic on HDFS and local filesystems, which is
  *    where the claim is scoped (S3A renames are copy+delete; an
  *    object-store deployment must swap through a conditional-put or
  *    an external pointer service instead).
  *  - **Idempotence + monotonicity**: [[commit]] with a batchId at or
  *    BELOW the live version is a no-op. This subsumes the replay
  *    case (foreachBatch is at-least-once; a crash between swap and
  *    checkpoint-commit replays the batch) and additionally refuses
  *    out-of-order re-publication of an older state — strictly safer
  *    than a same-id-only check.
  *  - **Isolation**: readers resolve the pointer once and scan an
  *    immutable dir; retention keeps ≥ the predecessor so a reader
  *    that resolved just before a swap finishes its scan.
  *  - **Determinism**: the merge function receives the PUBLISHED base
  *    snapshot; a crash before the swap rewrites the same version
  *    from the same base.
  *
  * Time travel: [[snapshotAt]] serves "the table as known at batch
  * N" from the newest RETAINED version ≤ N — travel depth is
  * `keepVersions`, a deliberate knob (2 = predecessor-only safety;
  * raise it to hold an audit window). [[versions]] lists what is
  * servable.
  */
class VersionedTable(ss: SparkSession, tableDir: String,
                     keepVersions: Int = 2) {
  require(keepVersions >= 2,
    "keepVersions < 2 would delete the version a concurrent reader " +
      "may still be scanning")

  private val hconf = ss.sparkContext.hadoopConfiguration
  private val dirPath = new org.apache.hadoop.fs.Path(tableDir)
  private def fs = dirPath.getFileSystem(hconf)

  /** The written schema of each retained version this instance
    * committed: reads pass it and skip parquet's schema-inference job
    * (a reopened table infers it). */
  @volatile private var schemas = Map.empty[Long, StructType]

  private def read(v: Long): DataFrame = {
    val path = s"$tableDir/v$v"
    schemas.get(v).fold(ss.read.parquet(path))(ss.read.schema(_).parquet(path))
  }

  /** The live version id, or None before the first commit. */
  def currentVersion: Option[Long] = {
    val ptr = new org.apache.hadoop.fs.Path(s"$tableDir/CURRENT")
    if (!fs.exists(ptr)) None
    else {
      val in = fs.open(ptr)
      try Some(new java.io.BufferedReader(
        new java.io.InputStreamReader(in)).readLine().trim.drop(1).toLong)
      finally in.close()
    }
  }

  /** The live snapshot, or None before the first commit. */
  def current: Option[DataFrame] =
    currentVersion.map(read)

  /** Retained version ids, ascending — the servable time-travel set. */
  def versions: Seq[Long] =
    if (!fs.exists(dirPath)) Seq.empty
    else fs.listStatus(dirPath).toSeq.map(_.getPath.getName)
      .filter(n => n.startsWith("v") && n.length > 1 &&
        n.drop(1).forall(_.isDigit))
      .map(_.drop(1).toLong).sorted

  /** As-known-at read: the newest retained version ≤ `batchId`, or
    * None if that knowledge has been pruned (or never existed). Only
    * versions at or below the LIVE pointer are served — a version dir
    * mid-write by a crashed publisher is never visible.
    */
  def snapshotAt(batchId: Long): Option[DataFrame] =
    currentVersion.flatMap { live =>
      versions.filter(v => v <= batchId && v <= live).lastOption
        .map(read)
    }

  /** Publish the result of `merge(currentSnapshot)` as `v<batchId>`
    * and swap the pointer. Returns false (untouched table) when
    * `batchId` ≤ the live version — the replay / out-of-order no-op.
    * `merge` sees None before the first commit.
    */
  def commit(batchId: Long)(merge: Option[DataFrame] => DataFrame)
      : Boolean = {
    if (currentVersion.exists(_ >= batchId)) return false
    val version = s"v$batchId"
    val written = merge(current)
    written.write.mode("overwrite").parquet(s"$tableDir/$version")
    val tmp = new org.apache.hadoop.fs.Path(s"$tableDir/CURRENT.tmp")
    val out = fs.create(tmp, true)
    try out.write(version.getBytes("UTF-8")) finally out.close()
    val fc = org.apache.hadoop.fs.FileContext.getFileContext(
      dirPath.toUri, hconf)
    fc.rename(tmp, new org.apache.hadoop.fs.Path(s"$tableDir/CURRENT"),
      org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    // Retention counts only versions AT OR BELOW the new live pointer:
    // a crash-leftover dir numbered above it (a publisher that died
    // after its parquet write but before its swap) was never visible
    // to any reader and must not consume the retention quota — counting
    // it could delete the live predecessor a concurrent reader is
    // still scanning. Such orphan dirs are garbage and are deleted too
    // (single-writer model: no in-flight higher commit can exist here).
    val keep = versions.filter(_ <= batchId).takeRight(keepVersions).toSet
    fs.listStatus(dirPath).map(_.getPath).foreach { p =>
      val n = p.getName
      if (n.startsWith("v") && n.drop(1).forall(_.isDigit) &&
          !keep.contains(n.drop(1).toLong)) {
        if (!fs.delete(p, true))
          throw new java.io.IOException(s"failed to prune stale version $p")
      }
    }
    schemas = schemas.filter { case (v, _) => keep(v) } +
      (batchId -> written.schema)
    true
  }

  /** MERGE INTO: rows of `delta` replace the base rows sharing their
    * key (WHEN MATCHED THEN UPDATE with the delta row), unmatched
    * delta rows insert, unmatched base rows carry over. `delta` must
    * be unique per key (the standard merge-source contract — dedupe
    * upstream; two source rows for one key make the merge ambiguous).
    * Schema is the base's column set (unionByName, no missing-column
    * tolerance — a drifting delta schema is a data error).
    */
  def merge(batchId: Long, delta: DataFrame, keys: Seq[String]): Boolean = {
    require(keys.nonEmpty && keys.forall(delta.columns.contains),
      s"merge keys $keys must be delta columns ${delta.columns.toSeq}")
    commit(batchId) {
      case None => delta
      case Some(base) =>
        base.join(delta.select(keys.map(col): _*), keys, "left_anti")
          .unionByName(delta)
    }
  }

  /** MERGE WHEN MATCHED THEN DELETE: drop base rows satisfying
    * `predicate`, publish the survivor set as `v<batchId>`.
    */
  def delete(batchId: Long, predicate: org.apache.spark.sql.Column)
      : Boolean =
    commit(batchId) {
      case None => throw new IllegalStateException(
        s"delete from an unpublished table $tableDir")
      case Some(base) => base.filter(!predicate)
    }
}
