package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, JoinedRow}
import org.apache.spark.sql.graftbridge.InternalRddBridge
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Scalable dense global row numbering — `row_number() OVER (ORDER BY ...)`
  * without the single-partition sort.
  *
  * Spark plans an un-partitioned window as "move EVERYTHING to one
  * partition, sort, number" (WindowExec warns about exactly this): the
  * right shape for a bounded view, a cluster-killer on a fact table — one
  * task sorts the whole dataset, at 100 TB an automatic OOM. The reference
  * never needs a global id over data-sized input (its `PARTITION BY true`
  * row_number runs on a one-date view, processor.py:420), but a training-
  * data pipeline does (stable example ids over a corpus), so this operator
  * is the scale path:
  *
  *  1. `repartitionByRange(orderCols)` + per-partition sort — the same
  *     total-order exchange a global sort uses: partition p holds keys at
  *     or below partition p+1's (equal keys land in ONE partition, so
  *     duplicate order keys never straddle a boundary), each partition
  *     sorted in parallel.
  *  2. `zipWithIndex` over that ONE RDD: a first job counts rows per
  *     partition (cumulative offsets — an array bounded by the partition
  *     count, never the data), a second pass adds offset + local index.
  *     Both jobs run over the SAME RDD object, so the range shuffle is
  *     computed once (the count job's map outputs are reused); only the
  *     cheap post-shuffle partition sort runs twice.
  *
  * Why not a pure-DataFrame formulation (window over
  * `spark_partition_id()` + a counts branch broadcast back)? Range
  * boundaries are picked by RESERVOIR SAMPLING seeded per RDD instance —
  * two plan branches each get their own range exchange (column pruning
  * differentiates them, so ReuseExchange can't merge), sample different
  * boundaries once partitions exceed the sample size, and the offsets then
  * disagree with the data branch's actual partition sizes: ids silently
  * drift by a few rows (caught by the sf0.001 oracle; the single-RDD
  * formulation is immune by construction). Rows stay in Tungsten binary
  * format end to end ([[InternalRddBridge]] — no external-Row
  * decode/encode), at the cost of leaving whole-stage codegen for this one
  * narrow step.
  *
  * The id equals the global-window `row_number()` exactly when `orderCols`
  * is a total order (unique keys). With duplicate keys the numbering is a
  * valid tie-break within each duplicate run, same as the global window's
  * own arbitrary-within-ties order. NOTE: `zipWithIndex` launches its
  * count job when this method is CALLED (eager, like a broadcast probe),
  * not at first action on the result.
  */
object GlobalRowNumber {

  /** Appends `idCol` (LONG, 1-based, dense) numbering `df` by `orderCols`,
    * range-partitioned at the session's shuffle parallelism. Sizing rule
    * at scale: data size / that width must fit a task's sort buffer.
    */
  def withGlobalRowNumber(
      df: DataFrame, idCol: String, orderCols: Seq[Column]): DataFrame = {
    val spark = df.sparkSession
    val parts = spark.sessionState.conf.numShufflePartitions
    val ranged = df.repartitionByRange(parts, orderCols: _*)
      .sortWithinPartitions(orderCols: _*)
    val rdd = ranged.queryExecution.toRdd // ONE RDD — both jobs share its shuffle
    val indexed: org.apache.spark.rdd.RDD[InternalRow] =
      rdd.zipWithIndex().mapPartitions { it =>
        val joiner = new JoinedRow
        it.map { case (row, i) =>
          // rows off toRdd are buffer-reused UnsafeRows: copy (a byte-array
          // clone) before pairing with the id cell. The JoinedRow itself is
          // reused per-row — standard operator contract (valid until next()).
          joiner(row.copy(), new GenericInternalRow(Array[Any](i + 1L))): InternalRow
        }
      }
    InternalRddBridge.internalCreateDataFrame(spark, indexed,
      StructType(df.schema.fields :+ StructField(idCol, LongType, nullable = false)))
  }
}
