package graft.icenet

import java.nio.charset.StandardCharsets.UTF_8
import scala.util.Using
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._
import graft.Tables

/** Keyed-table write semantics over parquet directories — the Spark
  * re-expression of the reference's PostgreSQL write path:
  *
  *  - S5 `INSERT ... ON CONFLICT DO NOTHING` (processor.py:249-257, 326-334)
  *    -> [[insertIgnore]]: left-anti join of incoming vs existing keys, then
  *    append. First write wins, re-ingest converges. [[appendWith]] is the
  *    same locked append for rows the caller derives from the table itself
  *    (the cell table's continuing ids), and it skips the write when
  *    nothing is new.
  *  - S6 `INSERT ... SELECT ... ON CONFLICT DO UPDATE` (processor.py:375-403)
  *    -> [[upsert]]: one aggregate by key over the table and the batch, with
  *    incoming precedence (last write wins), committed as a whole-table swap.
  *  - S7 `REFRESH MATERIALIZED VIEW` (processor.py:444-448) ->
  *    [[overwriteView]]: full recompute + crash-safe directory swap, with a
  *    record of what the view was built from ([[sourceOf]]).
  *  - S8 `CREATE TABLE IF NOT EXISTS` (processor.py:198-209 etc.) ->
  *    [[exists]]/first-write bootstrap; parquet needs no DDL-before-write.
  *
  * On a shared cluster these four become Delta/Iceberg `MERGE`/`INSERT`/
  * `CREATE OR REPLACE` with optimistic concurrency; this parquet
  * implementation keeps identical *semantics* (idempotent convergence,
  * verified by PipelineSpec) with single-writer discipline — which is
  * exactly the reference's own concurrency model (host.json:4-8 forces
  * strictly serial processing).
  *
  * Crash-safety model (the parquet stand-in for a transactional commit): one
  * swap and one keyed append.
  *  - [[replace]], the swap behind [[upsert]], [[overwriteView]] and
  *    [[compact]], never deletes the current table before its successor is
  *    in place: write `.staging`, rename current -> `.old`, rename
  *    `.staging` -> current, delete `.old`. The commit point is the second
  *    rename; at every instant either the table dir or its `.old` sibling
  *    holds one complete consistent version, and [[read]]/[[exists]] fall
  *    back to `.old` when a crash landed between the renames. Leftover
  *    `.staging`/`.old` dirs are cleaned by the next replace.
  *  - [[insertIgnore]]'s append commits file-at-a-time (Spark's task-commit
  *    rename). A crash can leave a PARTIAL batch visible, but every appended
  *    row is a brand-new key (anti-joined), so re-running the same ingest
  *    inserts exactly the missing rows — the same convergence granularity as
  *    the reference's row-at-a-time ON CONFLICT inserts.
  *
  * Scale notes: the anti-join reads ONLY the key columns of the existing side
  * (column pruning reaches the parquet scan) and, when the table is
  * partitioned, ONLY the partitions whose values occur in the incoming batch
  * ([[pruneToPartitions]]; the values come from the caller, or from one
  * collect of the batch) — so a one-date ingest against years of facts
  * touches one date's files, matching the PG unique-index cost model it
  * replaces. A batch none of whose partitions the table holds yet skips the
  * anti-join; the table's partitions come from the read's listing on the
  * driver ([[partitionFiles]]), with no job. The existing side is the BUILD
  * side of the left-anti join only after pruning makes it small; Catalyst
  * picks broadcast vs shuffle from the pruned size via AQE. Tables are
  * partitioned by the date column when `partitionCols` is given, replacing
  * the reference's b-tree indexes (processor.py:286-288) with pruning.
  */
object TableOps {

  def exists(spark: SparkSession, path: String): Boolean =
    rawExists(spark, path) || rawExists(spark, path + ".old")

  /** Single-writer arbitration for the parquet commit protocol. The
    * reference delegates concurrent-writer conflicts to PostgreSQL
    * (processor.py:91-115 retries on conflict) and then forces strictly
    * serial processing anyway (host.json:4-8); the parquet swap protocol
    * here is likewise only correct under ONE writer per table — two
    * concurrent [[insertIgnore]] calls could both pass the anti-join and
    * double-insert a key. Every mutating op therefore takes a lease via
    * atomic create-if-absent of a `.lock` sibling file and FAILS FAST
    * (`IllegalStateException`) when another writer holds it — the Spark
    * analogue of PG failing the second transaction rather than corrupting.
    *
    * A writer that dies without releasing leaves a stale lock; that is a
    * deliberate fail-safe (writes stay blocked until an operator confirms
    * the writer is gone and calls [[forceUnlock]]) rather than a timeout
    * lease, which could let two live writers overlap on a long GC pause.
    *
    * Atomicity caveat: create-if-absent is a true atomic lease only on
    * HDFS-like filesystems (namenode-arbitrated create). LocalFileSystem's
    * exists-then-create and object stores' PUT are not atomic, so on those
    * backends the lock is best-effort double-write *detection*, not
    * prevention — acceptable under the single-writer deployment model, and
    * the seam where a real deployment swaps in Delta/Iceberg OCC. Only a
    * FileAlreadyExistsException is interpreted as "locked"; any other
    * IOException (permissions, transient IO) is rethrown as-is so an
    * operator is never misled into force-unlocking a live writer.
    */
  def withTableLock[T](spark: SparkSession, path: String)(body: => T): T = {
    val lock = new Path(path + ".lock")
    val fs = lock.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out =
      try fs.create(lock, false) // atomic create-if-absent = lease acquire
      catch {
        case e @ (_: org.apache.hadoop.fs.FileAlreadyExistsException |
                  _: java.nio.file.FileAlreadyExistsException) =>
          throw new IllegalStateException(
            s"$path is locked by another writer ($lock exists); concurrent " +
              "keyed writes would break first/last-write-wins. If the " +
              "holder crashed, remove the lock with TableOps.forceUnlock.", e)
      }
    try {
      out.writeBytes(s"pid=${ProcessHandle.current().pid()}\n")
      out.close()
      body
    } finally fs.delete(lock, false)
  }

  /** Removes a stale lock left by a crashed writer. Operator-invoked only —
    * see [[withTableLock]] for why there is no automatic timeout.
    */
  def forceUnlock(spark: SparkSession, path: String): Unit = {
    val lock = new Path(path + ".lock")
    lock.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(lock, false)
  }

  /** The table's last committed version: the table dir, or its `.old`
    * sibling when a crash landed between [[replace]]'s renames
    * ([[resolve]]). [[graft.Tables.parquet]] takes the schema from one
    * footer on the driver, so building a read launches no Spark job.
    */
  def read(spark: SparkSession, path: String): DataFrame =
    Tables.parquet(spark, resolve(spark, path))

  /** S5: idempotent first-write-wins append. Rows whose key already exists
    * in the table are silently dropped (the PG unique-index arbitration).
    * Incoming duplicates are also collapsed to one row per key — same net
    * effect as the reference's row-at-a-time conflict handling.
    *
    * `knownValues` may give, per partition column, values the caller already
    * knows the batch to hold; a superset is safe, since a partition column
    * is a key column. They replace the job [[pruneToPartitions]] would
    * otherwise run to collect them.
    */
  def insertIgnore(
      spark: SparkSession, path: String, incoming: DataFrame,
      keys: Seq[String], partitionCols: Seq[String] = Nil,
      knownValues: Map[String, Seq[Any]] = Map.empty): Unit =
    withTableLock(spark, path) {
      heal(spark, path)
      val deduped = incoming.dropDuplicates(keys)
      existing(spark, path) match {
        case None => write(deduped, path, "overwrite", partitionCols)
        case Some(table) =>
          requireSameColumns(table, deduped, path)
          requirePartitionColsInKeys(partitionCols, keys)
          val values = partitionCols.map(pc => pc -> knownValues.getOrElse(pc, valuesIn(deduped, pc)))
          // a batch none of whose partitions the table holds yet (a new
          // date) is all new: the anti-join is skipped
          val overlaps = values.forall { case (pc, vs) =>
            partitionFiles(table, pc).keys.exists(vs.contains) }
          append(table, if (overlaps) freshIn(table, deduped, keys, values) else deduped,
            path, partitionCols)
      }
    }

  /** Append whose new rows depend on more of the table than a key
    * anti-join can see — e.g. surrogate ids that continue from the table's
    * largest id. Under the writer lock and after [[heal]], `rowsFor` gets
    * the table as it stands (`None` before its first write) and returns
    * the rows to add, or `None` to leave the table untouched: no write, no
    * empty part file. The rows must carry the table's column set.
    */
  def appendWith(spark: SparkSession, path: String)(
      rowsFor: Option[DataFrame] => Option[DataFrame]): Unit =
    withTableLock(spark, path) {
      heal(spark, path)
      val table = existing(spark, path)
      rowsFor(table).foreach { rows =>
        table match {
          case None => write(rows, path, "overwrite", Nil)
          case Some(t) => requireSameColumns(t, rows, path); append(t, rows, path, Nil)
        }
      }
    }

  private def existing(spark: SparkSession, path: String): Option[DataFrame] =
    if (exists(spark, path)) Some(read(spark, path)) else None

  /** Appends `rows` in the TABLE's column order, so every appended file
    * shares one field layout.
    */
  private def append(
      table: DataFrame, rows: DataFrame, path: String, partitionCols: Seq[String]): Unit =
    write(rows.select(table.columns.map(col).toIndexedSeq: _*), path, "append", partitionCols)

  /** Fail-fast guard against silent schema drift: a batch whose column set
    * differs from the table's would otherwise append parquet files the
    * table's readers resolve inconsistently (missing columns as nulls, new
    * columns invisible without mergeSchema). Types are checked too — a
    * same-named column of a different type would append files the reader
    * cannot reconcile with the table's footer schema.
    */
  private def requireSameColumns(
      existing: DataFrame, incoming: DataFrame, path: String): Unit = {
    def sig(df: DataFrame) =
      df.schema.map(f => s"${f.name}:${f.dataType.simpleString}").sorted
    require(sig(existing) == sig(incoming),
      s"$path: incoming schema [${sig(incoming).mkString(",")}] does not match " +
        s"table schema [${sig(existing).mkString(",")}]")
  }

  /** Incoming rows whose key is NOT yet in the table at `path`.
    *
    * When the table is partitioned, the existing side is first filtered to
    * the partition values present in the incoming batch — those values are
    * collected (an ingest batch carries O(1) distinct partition values, e.g.
    * one generation date) and pushed as literal predicates, so the scan
    * prunes to the affected partitions instead of reading every partition's
    * key columns on each ingest. Exposed (not private) so tests can assert
    * the pruning reaches the scan.
    */
  def freshRows(
      spark: SparkSession, path: String, deduped: DataFrame,
      keys: Seq[String], partitionCols: Seq[String] = Nil): DataFrame = {
    requirePartitionColsInKeys(partitionCols, keys)
    freshIn(read(spark, path), deduped, keys,
      partitionCols.map(pc => pc -> valuesIn(deduped, pc)))
  }

  /** [[freshRows]] against an already-read `table`, pruned to `values`.
    * Keys compare null-safely (`<=>`), so a key holding a null matches
    * itself, as it does in `dropDuplicates`; the existing side's keys are
    * renamed, so that each side of a condition names one input.
    */
  private def freshIn(
      table: DataFrame, deduped: DataFrame,
      keys: Seq[String], values: Seq[(String, Seq[Any])]): DataFrame =
    deduped.join(pruneToPartitions(table, values).select(keys.map(k => col(k).as(s"__$k")): _*),
      keys.map(k => col(k) <=> col(s"__$k")).reduce(_ && _), "left_anti")

  /** Partition pruning is only a valid optimization of the key anti-join
    * when the partition value is determined by the key: a partition column
    * outside the key set would let an existing key hide in an unpruned
    * partition and be silently re-inserted, breaking first-write-wins.
    */
  private def requirePartitionColsInKeys(
      partitionCols: Seq[String], keys: Seq[String]): Unit =
    require(partitionCols.forall(keys.contains),
      s"partition columns [${partitionCols.mkString(",")}] must be a subset " +
        s"of the key columns [${keys.mkString(",")}]: a partition column " +
        "outside the keys would break keyed-write pruning")

  /** The distinct values of `column` in a batch: one collecting job. */
  private def valuesIn(batch: DataFrame, column: String): Seq[Any] =
    batch.select(col(column)).distinct().collect().map(_.get(0)).toSeq

  /** Existing rows restricted to the given partition values: those of the
    * incoming batch, collected by [[valuesIn]] or given by the caller
    * ([[insertIgnore]]'s `knownValues`). Values compare null-safely
    * (`<=>`), so a null value keeps the null partition, which `isin()` never
    * matches: a null-partition key would otherwise escape the prune and be
    * re-appended.
    */
  private def pruneToPartitions(
      existing: DataFrame, values: Seq[(String, Seq[Any])]): DataFrame =
    values.foldLeft(existing) { case (df, (pc, vs)) =>
      df.filter(vs.distinct.map(v => col(pc) <=> lit(v)).foldLeft(lit(false))(_ || _))
    }

  /** The data files of `table` (a [[read]]) per value of its partition
    * column `column`, each named relative to the table root
    * (`column=value/part-…`), so the names stay the same when the read
    * resolves to `.old`. Only partitions that hold a data file appear. They
    * come from the file index the read built on the driver, so no Spark job
    * runs; the values have the types `collect` returns (a `java.sql.Date`
    * for a date).
    */
  def partitionFiles(table: DataFrame, column: String): Map[Any, Seq[String]] =
    table.queryExecution.analyzed.collectFirst {
      case l: LogicalRelation => l.relation
    } match {
      case Some(fs: HadoopFsRelation) =>
        val i = fs.partitionSchema.fieldIndex(column)
        val dt = fs.partitionSchema(i).dataType
        val toScala = CatalystTypeConverters.createToScalaConverter(dt)
        // a file's name and its partition directories' names
        def relative(f: Path) = Iterator.iterate(f)(_.getParent)
          .take(fs.partitionSchema.length + 1).map(_.getName).toSeq.reverse.mkString("/")
        fs.location.listFiles(Nil, Nil).filter(_.files.nonEmpty)
          .groupMapReduce(p => toScala(p.values.get(i, dt)))(
            _.files.map(f => relative(f.getPath)))(_ ++ _)
      case other => throw new IllegalArgumentException(
        s"partitionFiles needs a file-table read, got ${other.getOrElse("no relation")}")
    }

  /** S6: last-write-wins upsert — matched keys take the incoming row,
    * unmatched existing rows are kept, new keys are inserted. Every upsert
    * rewrites the whole table through [[replace]], which is sized for the
    * O(dates) `forecast_meta` rollup, the reference's one last-write-wins
    * table (processor.py:375-403).
    *
    * The table and the batch meet in ONE aggregate: their rows, unioned and
    * tagged by side, are grouped by key, and each key keeps its incoming
    * row when it has one. Incoming duplicates collapse to one of them.
    */
  def upsert(
      spark: SparkSession, path: String, incoming: DataFrame,
      keys: Seq[String]): Unit =
    withTableLock(spark, path) {
      heal(spark, path)
      existing(spark, path) match {
        case None => write(incoming.dropDuplicates(keys), path, "overwrite", Nil)
        case Some(table) =>
          requireSameColumns(table, incoming, path)
          val cols = table.columns.toSeq
          // `__in` rides along, so the struct has a field when every column is a key
          val row = struct((cols.filterNot(keys.contains) :+ "__in").map(col): _*)
          def tagged(df: DataFrame, in: Boolean) =
            df.select(cols.map(col): _*).withColumn("__in", lit(in))
          replace(spark, path,
            tagged(table, in = false).unionByName(tagged(incoming, in = true))
              .groupBy(keys.map(col): _*)
              .agg(max_by(row, col("__in")).as("__row"))
              .select(cols.map(c =>
                if (keys.contains(c)) col(c) else col("__row").getField(c).as(c)): _*),
            Nil)
      }
    }

  /** S7: materialized-view refresh — full recompute, crash-safe swap.
    * `source` records what the view was built from: [[replace]] writes it
    * as a `_source` file into the successor before the commit rename, so the
    * view and its record commit together, and [[sourceOf]] reads it back.
    */
  def overwriteView(spark: SparkSession, path: String, view: DataFrame, source: String): Unit =
    withTableLock(spark, path) {
      heal(spark, path)
      replace(spark, path, view, Nil, Some(source))
    }

  /** The `source` of the view's last committed [[overwriteView]], read
    * through [[resolve]] (so from `.old` after a crash between
    * [[replace]]'s renames); `None` when there is no view or it has no
    * record.
    */
  def sourceOf(spark: SparkSession, path: String): Option[String] = {
    val record = new Path(resolve(spark, path), SourceFile)
    val fs = record.getFileSystem(spark.sparkContext.hadoopConfiguration)
    Option.when(fs.exists(record))(
      Using.resource(fs.open(record))(in => new String(in.readAllBytes(), UTF_8)))
  }

  /** The name of [[overwriteView]]'s record; readers skip `_` names. */
  private val SourceFile = "_source"

  /** Compacts a table's files into ~`targetBytes` outputs via the same
    * crash-safe swap as a view refresh. Incremental keyed ingest
    * ([[insertIgnore]]) appends one small file set per batch — after
    * thousands of one-date ingests the table is a small-files swamp whose
    * scan cost is dominated by per-file open/footer overhead. Compaction
    * rewrites it to size-targeted files (per partition directory when
    * `partitionCols` is set, since `partitionBy` re-splits the repartitioned
    * data on write). Content is byte-identical; only layout changes.
    */
  def compact(
      spark: SparkSession, path: String,
      partitionCols: Seq[String] = Nil,
      targetBytes: Long = 128L * 1024 * 1024,
      sortCols: Seq[String] = Nil): Unit =
    withTableLock(spark, path) {
      heal(spark, path)
      val src = new Path(resolve(spark, path))
      val fs = src.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val totalBytes = fs.getContentSummary(src).getLength
      val nFiles = math.max(1L, (totalBytes + targetBytes - 1) / targetBytes).toInt
      // optional clustered layout: range-partition + sort by `sortCols` so
      // parquet column min/max statistics become selective — point/range
      // predicates on the sort key then prune whole files and row groups,
      // the poor man's Z-order (exact for a single-column key, prefix-major
      // for a composite). Incremental appends don't maintain the layout;
      // re-compaction restores it — same lifecycle as OPTIMIZE ... ZORDER.
      val laid =
        if (sortCols.isEmpty) read(spark, path).repartition(nFiles)
        else read(spark, path)
          .repartitionByRange(nFiles, sortCols.map(col): _*)
          .sortWithinPartitions(sortCols.map(col): _*)
      replace(spark, path, laid, partitionCols)
    }

  /** Crash-safe table swap (see the class doc's crash-safety model). The
    * old data is never deleted before the replacement is committed; readers
    * that race a crash fall back to the `.old` sibling via [[resolve]].
    */
  private def replace(
      spark: SparkSession, path: String, df: DataFrame,
      partitionCols: Seq[String], source: Option[String] = None): Unit = {
    val staging = new Path(path + ".staging")
    val old = new Path(path + ".old")
    val cur = new Path(path)
    // materialize the successor BEFORE touching the current table (Spark
    // cannot overwrite an input path of the running plan anyway)
    write(df, staging.toString, "overwrite", partitionCols)
    val fs = cur.getFileSystem(spark.sparkContext.hadoopConfiguration)
    source.foreach(s =>
      Using.resource(fs.create(new Path(staging, SourceFile), true))(_.write(s.getBytes(UTF_8))))
    fs.delete(old, true) // leftover from an earlier crash, already superseded
    if (fs.exists(cur)) fs.rename(cur, old)
    fs.rename(staging, cur) // commit point
    fs.delete(old, true)
  }

  /** Repairs a crashed swap BEFORE any new write: if the table dir is gone
    * but `.old` survives (a crash between [[replace]]'s two renames),
    * promote `.old` back to the table dir. Without this, an append after
    * such a crash would create a fresh table dir that SHADOWS the committed
    * data still sitting in `.old`. Must run before plans over [[read]] are
    * built, so lazy scans never point at a path the heal then moves.
    */
  private def heal(spark: SparkSession, path: String): Unit = {
    val cur = new Path(path)
    val old = new Path(path + ".old")
    val fs = cur.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(cur) && fs.exists(old)) fs.rename(old, cur)
  }

  /** ANALYZE: per-column (min, max, null count, exact NDV) in long form —
    * the statistics layer that feeds file skipping, join reordering and
    * broadcast decisions (the reference delegates this to PostgreSQL's
    * analyzer; a lakehouse table must collect its own).
    *
    * Shape: ONE narrow aggregate computes every min/max/null metric
    * (min/max rendered as strings so heterogeneous columns share a
    * schema), `stack`-unpivoted to a row per column; exact NDV runs as a
    * per-column partial-distinct branch (column-pruned scan -> hash
    * distinct whose exchange carries only the DISTINCT VALUES -> count)
    * joined back at |cols| rows. Folding the NDVs into the single
    * aggregate instead plans Spark's multi-distinct Expand — the input
    * duplicated once per distinct column through one exchange — measured
    * 5.1 s vs this plan's sub-second at sf0.1. The 100 TB path swaps the
    * exact branches for `approx_count_distinct` inside the one narrow
    * aggregate (HLL, no distinct exchange at all) where estimates
    * suffice, which file-skipping stats do.
    */
  def columnStats(df: DataFrame, cols: Seq[String]): DataFrame = {
    val aggs = cols.flatMap { c =>
      Seq(min(col(c)).cast("string").as(s"${c}__min"),
        max(col(c)).cast("string").as(s"${c}__max"),
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"${c}__nulls"))
    }
    val stackArgs = cols.map(c =>
      s"'$c', `${c}__min`, `${c}__max`, `${c}__nulls`").mkString(", ")
    val plain = df.agg(aggs.head, aggs.tail: _*)
      .select(expr(
        s"stack(${cols.size}, $stackArgs) AS (column_name, min_value, max_value, n_nulls)"))
    val ndv = cols.map { c =>
        df.select(col(c)).distinct()
          .agg(count(col(c)).as("ndv"))
          .select(lit(c).as("column_name"), col("ndv"))
      }
      .reduce(_.unionByName(_))
    plain.join(ndv, Seq("column_name"))
      .select("column_name", "min_value", "max_value", "n_nulls", "ndv")
  }

  /** Per-partition file-skipping statistics: min/max/null-count of
    * `statCols` plus row count, grouped by the partition key — the
    * manifest metadata a lakehouse (Iceberg/Delta) keeps per data file,
    * here at partition granularity. A planner consults this O(#partitions)
    * table instead of opening files: a predicate whose range misses a
    * partition's [min, max] skips it entirely ([[pruneCandidates]]).
    *
    * Plan: ONE hash aggregate over the scan (partial agg collapses each
    * task to O(#partitions) rows pre-exchange); the stats table is bounded
    * by partition count, never data size. Columns stay NUMERIC (no string
    * rendering) so the table is cross-engine stable and directly usable in
    * range comparisons.
    */
  def partitionStats(df: DataFrame, partCol: String, statCols: Seq[String]): DataFrame = {
    val aggs = statCols.flatMap { c =>
      Seq(min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c"),
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"nulls_$c"))
    } :+ count(lit(1)).as("n_rows")
    df.groupBy(col(partCol)).agg(aggs.head, aggs.tail: _*)
  }

  /** File-skipping decision from a [[partitionStats]] table: the partitions
    * a range predicate `lo <= col <= hi` can possibly touch — i.e. those
    * whose [min, max] envelope intersects [lo, hi]. Runs on the O(#parts)
    * stats table, so the pruning decision itself costs nothing at scale.
    */
  def pruneCandidates(
      stats: DataFrame, partCol: String, statCol: String,
      lo: Column, hi: Column): DataFrame =
    stats.filter(col(s"max_$statCol") >= lo && col(s"min_$statCol") <= hi)
      .select(col(partCol))

  /** CDC changelog -> snapshot compaction: given an ordered change stream
    * (upserts and deletes per key), compute the current table state — the
    * MERGE-free way a lakehouse applies a Debezium/binlog feed: keep each
    * key's LATEST change (by `orderBy` desc, which must be a total order
    * per key — e.g. ts + a change sequence number), then drop keys whose
    * latest change is a delete. A delete followed by a later re-insert
    * correctly survives; an out-of-order late change correctly loses.
    *
    * Scale: ONE shuffle on the key; WindowGroupLimit keeps only each key's
    * top row per partition before the exchange at scale (rank filter
    * pushdown), so the exchange carries ~|keys| rows, not the changelog.
    */
  def cdcSnapshot(
      changelog: DataFrame, keys: Seq[String], orderBy: Seq[String],
      opCol: String = "op", deleteOp: String = "delete"): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keys.map(col): _*)
      .orderBy(orderBy.map(c => col(c).desc): _*)
    changelog.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1 && col(opCol) =!= deleteOp)
      .drop("__rn", opCol)
  }

  /** Readable root for `path`: the table dir itself, or — if a crash landed
    * between [[replace]]'s two renames — the `.old` sibling, which holds the
    * last committed version.
    */
  private def resolve(spark: SparkSession, path: String): String =
    if (rawExists(spark, path)) path
    else if (rawExists(spark, path + ".old")) path + ".old"
    else path

  private def rawExists(spark: SparkSession, path: String): Boolean = {
    val p = new Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  private def write(
      df: DataFrame, path: String, mode: String, partitionCols: Seq[String]): Unit = {
    val w = df.write.mode(mode)
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w)
      .parquet(path)
  }
}
