package graft.icenet

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.Tables

/** Snapshot versioning with time travel — the lakehouse capability the
  * in-place [[TableOps]] swap protocol deliberately trades away (its
  * `.old` sibling survives only until the next commit). Where [[TableOps]]
  * re-expresses the reference's PostgreSQL write semantics, this object is
  * beyond-reference surface: reproducibility infrastructure for a training
  * pipeline ("which corpus snapshot did run X train on?") in the shape
  * every table format ships (Delta/Iceberg time travel).
  *
  * Layout (all under the table root, underscore-prefixed so a naive
  * directory scan ignores the metadata):
  * {{{
  *   <path>/_versions/v00000017/  parquet snapshot (immutable once committed)
  *   <path>/_versions/v00000017/_commit   commit marker: "<version> <epochMillis>"
  *   <path>/_latest               pointer file: current version number
  * }}}
  *
  * Commit protocol: write the snapshot dir, then the `_commit` marker, then
  * swap the pointer (write `_latest.tmp`, delete `_latest`, rename). The
  * marker is the version's commit point; the pointer is the TABLE's. Crash
  * windows and their recovery:
  *  - snapshot written, no marker: ignored by readers and [[history]];
  *    its number is never reused (next version = max listed + 1).
  *  - marker written, pointer stale/missing: [[currentVersion]] falls back
  *    to the max COMMITTED version, so readers still see a complete
  *    snapshot; the next commit rewrites the pointer.
  * Pointer reads never trust partial writes: the tmp file is renamed into
  * place, and rename is the atomicity boundary on HDFS-like stores (same
  * caveat as [[TableOps.withTableLock]] on local/object stores).
  *
  * Every snapshot is a FULL copy: right for the reference's
  * materialized-view cadence (S7) and for curated-corpus releases, wasteful
  * for high-frequency fact appends — that is what delta logs are for, and
  * the scaladoc seam where a real deployment swaps in Delta/Iceberg.
  * [[expire]] bounds retention. Mutators take the [[TableOps.withTableLock]]
  * lease; reads are lock-free.
  */
object Snapshots {

  private val VersionsDir = "_versions"
  private val PointerFile = "_latest"

  private def fs(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def versionsRoot(path: String) = new Path(path, VersionsDir)
  private def versionDir(path: String, v: Long) =
    new Path(versionsRoot(path), f"v$v%08d")

  private def listVersions(hfs: FileSystem, path: String): Seq[Long] = {
    val root = versionsRoot(path)
    if (!hfs.exists(root)) Nil
    else hfs.listStatus(root).toSeq
      .filter(_.isDirectory)
      .map(_.getPath.getName)
      .collect { case n if n.matches("v\\d{8}") => n.drop(1).toLong }
      .sorted
  }

  private def isCommitted(hfs: FileSystem, path: String, v: Long): Boolean =
    hfs.exists(new Path(versionDir(path, v), "_commit"))

  private def commitMillis(hfs: FileSystem, path: String, v: Long): Long = {
    val in = hfs.open(new Path(versionDir(path, v), "_commit"))
    try {
      val line = new java.io.BufferedReader(
        new java.io.InputStreamReader(in, "UTF-8")).readLine()
      line.split(' ')(1).toLong
    } finally in.close()
  }

  /** The pointer's version if it exists and is committed, else the max
    * committed version (stale-pointer crash recovery). None = no committed
    * snapshot at all.
    */
  def currentVersion(spark: SparkSession, path: String): Option[Long] = {
    val hfs = fs(spark, new Path(path))
    val pointer = new Path(path, PointerFile)
    val pointed =
      if (!hfs.exists(pointer)) None
      else {
        val in = hfs.open(pointer)
        try {
          val line = new java.io.BufferedReader(
            new java.io.InputStreamReader(in, "UTF-8")).readLine()
          Option(line).map(_.trim.toLong).filter(isCommitted(hfs, path, _))
        } finally in.close()
      }
    pointed.orElse(listVersions(hfs, path).filter(isCommitted(hfs, path, _)).lastOption)
  }

  /** Commits `df` as the next snapshot version and returns its number. */
  def commit(
      spark: SparkSession, path: String, df: DataFrame,
      partitionCols: Seq[String] = Nil): Long =
    TableOps.withTableLock(spark, path) {
      val hfs = fs(spark, new Path(path))
      val v = listVersions(hfs, path).lastOption.fold(1L)(_ + 1L) // never reuse
      val dir = versionDir(path, v)
      val writer = df.write.mode("overwrite")
      (if (partitionCols.nonEmpty) writer.partitionBy(partitionCols: _*)
       else writer).parquet(dir.toString)
      val marker = hfs.create(new Path(dir, "_commit"), false)
      marker.writeBytes(s"$v ${System.currentTimeMillis()}\n")
      marker.close()
      val tmp = new Path(path, PointerFile + ".tmp")
      val out = hfs.create(tmp, true)
      out.writeBytes(s"$v\n")
      out.close()
      // The pointer swap is an OPTIMIZATION (readers fall back to the max
      // committed version), but a silent rename failure must not be
      // invisible: the data commit above already succeeded, so surface the
      // pointer problem without failing the commit.
      val ptr = new Path(path, PointerFile)
      hfs.delete(ptr, false) // false = pointer absent, which is fine
      if (!hfs.rename(tmp, ptr))
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          s"snapshot commit $v: _latest pointer rename failed at $path; " +
            "readers will recover via the max-committed fallback")
      v
    }

  /** Reads a snapshot: the current one by default, or any retained
    * `version` (time travel). Uncommitted or expired versions fail loudly.
    */
  def read(
      spark: SparkSession, path: String,
      version: Option[Long] = None): DataFrame = {
    val hfs = fs(spark, new Path(path))
    val v = version.getOrElse(currentVersion(spark, path).getOrElse(
      throw new IllegalStateException(s"$path has no committed snapshot")))
    require(isCommitted(hfs, path, v),
      s"$path has no committed version $v (uncommitted, expired, or never written)")
    Tables.parquet(spark, versionDir(path, v).toString)
  }

  /** Time travel by wall clock: the latest snapshot committed at or before
    * `tsMillis` (commit times come from the `_commit` markers, so they are
    * transaction times, not file mtimes).
    */
  def asOf(spark: SparkSession, path: String, tsMillis: Long): DataFrame = {
    val hfs = fs(spark, new Path(path))
    val v = listVersions(hfs, path)
      .filter(isCommitted(hfs, path, _))
      .filter(commitMillis(hfs, path, _) <= tsMillis)
      .lastOption
      .getOrElse(throw new IllegalStateException(
        s"$path has no snapshot committed at or before $tsMillis"))
    read(spark, path, Some(v))
  }

  /** (version, commitMillis, isCurrent) for every committed snapshot,
    * oldest first. Uncommitted (crash-orphaned) version dirs are omitted.
    */
  def history(spark: SparkSession, path: String): Seq[(Long, Long, Boolean)] = {
    val hfs = fs(spark, new Path(path))
    val cur = currentVersion(spark, path)
    listVersions(hfs, path).filter(isCommitted(hfs, path, _))
      .map(v => (v, commitMillis(hfs, path, v), cur.contains(v)))
  }

  /** Changelog between two committed versions — the INVERSE of CDC
    * compaction ([[TableOps.cdcSnapshot]] turns a changelog into a
    * snapshot; this turns two snapshots into the minimal changelog):
    * one row per key that was inserted ('I', new values), updated
    * ('U', new values), or deleted ('D', last-known values) between
    * `fromVersion` and `toVersion`. Unchanged keys are absent, so
    * downstream consumers replay only the delta.
    */
  def diff(
      spark: SparkSession, path: String,
      fromVersion: Long, toVersion: Long,
      keys: Seq[String]): DataFrame =
    diffFrames(read(spark, path, Some(fromVersion)),
      read(spark, path, Some(toVersion)), keys)

  /** Frame-level core of [[diff]]: full-outer join on `keys`, null-safe
    * struct comparison of the non-key columns. One shuffle per side on the
    * key — the join IS the diff; nothing is collected or pairwise.
    */
  def diffFrames(oldDf: DataFrame, newDf: DataFrame, keys: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions._
    require(oldDf.columns.sorted.sameElements(newDf.columns.sorted),
      s"diff requires identical schemas: [${oldDf.columns.sorted.mkString(",")}] " +
        s"vs [${newDf.columns.sorted.mkString(",")}]")
    val payload = oldDf.columns.filterNot(keys.contains).sorted.toIndexedSeq
    def packed(df: DataFrame, tag: String) = df.select(
      keys.map(col) :+ struct(payload.map(col): _*).as(s"row_$tag"): _*)
    packed(oldDf, "old").join(packed(newDf, "new"), keys, "full_outer")
      .withColumn("op",
        when(col("row_old").isNull, "I")
          .when(col("row_new").isNull, "D")
          .when(!(col("row_old") <=> col("row_new")), "U"))
      .filter(col("op").isNotNull)
      .select(keys.map(col) ++ Seq(col("op")) ++ payload.map(c =>
        // whole-row source picked by op (a per-column coalesce would
        // resurrect old values under a legitimately-NULL update)
        when(col("op") === "D", col(s"row_old.$c"))
          .otherwise(col(s"row_new.$c")).as(c)): _*)
  }

  /** Deletes all but the newest `keepLast` committed snapshots (and any
    * uncommitted orphans older than what is kept). The current pointer
    * target is always kept. Returns the deleted version numbers.
    */
  def expire(spark: SparkSession, path: String, keepLast: Int): Seq[Long] =
    TableOps.withTableLock(spark, path) {
      require(keepLast >= 1, "keepLast must be >= 1")
      val hfs = fs(spark, new Path(path))
      val committed = listVersions(hfs, path).filter(isCommitted(hfs, path, _))
      val keep = committed.takeRight(keepLast).toSet ++ currentVersion(spark, path)
      val doomed = listVersions(hfs, path)
        .filterNot(keep.contains)
        .filter(v => committed.isEmpty || v < keep.min) // orphans beyond kept stay
      doomed.foreach(v => hfs.delete(versionDir(path, v), true))
      doomed
    }

  /** Deletes EVERY uncommitted version directory — the half-written debris
    * of crashed writers ([[expire]] only sweeps orphans below the kept
    * range, so a crash at the head of the version sequence leaks until
    * this runs). Safe under the table lock: a live writer holds the same
    * lock for its whole write+commit, so any uncommitted directory visible
    * here is abandoned by construction, never in-flight. Returns the
    * vacuumed version numbers.
    */
  def vacuum(spark: SparkSession, path: String): Seq[Long] =
    TableOps.withTableLock(spark, path) {
      val hfs = fs(spark, new Path(path))
      val orphans = listVersions(hfs, path).filterNot(isCommitted(hfs, path, _))
      orphans.foreach(v => hfs.delete(versionDir(path, v), true))
      orphans
    }
}
