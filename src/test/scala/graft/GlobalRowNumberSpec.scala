package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.GlobalRowNumber

/** The scalable global row number must agree with the single-partition
  * global window EXACTLY (on a total order), stay dense/1-based, and
  * actually spread the sort across partitions (the property it exists for).
  */
class GlobalRowNumberSpec extends SparkSpec {
  import spark.implicits._

  private lazy val df = spark.range(1000)
    .select(
      // scrambled insertion order so the range exchange has real work
      pmod(col("id") * 373 + 11, lit(1000)).as("k"),
      (col("id") % 7).as("payload"))

  test("ids equal the global-window row_number on a unique key") {
    val fast = GlobalRowNumber
      .withGlobalRowNumber(df, "rid", Seq(col("k")))
    val slow = df.withColumn("rid",
      row_number().over(Window.orderBy("k")).cast("long"))
    assert(fast.except(slow).isEmpty && slow.except(fast).isEmpty)
  }

  test("ids are dense, 1-based, and keep the input columns") {
    val out = GlobalRowNumber
      .withGlobalRowNumber(df, "rid", Seq(col("k")))
    assert(out.columns.toSeq == Seq("k", "payload", "rid"))
    val ids = out.select("rid").as[Long].collect().sorted
    assert(ids.toSeq == (1L to 1000L))
  }

  test("duplicate keys never straddle partitions: ids stay a valid dense ranking") {
    val dup = spark.range(1000).select((col("id") % 10).as("k")) // 100x each key
    val out = GlobalRowNumber
      .withGlobalRowNumber(dup, "rid", Seq(col("k")))
      .select(col("k"), col("rid")).as[(Long, Long)].collect().sortBy(_._2)
    assert(out.map(_._2).toSeq == (1L to 1000L))
    // non-decreasing key along the id order = consistent with ORDER BY k
    assert(out.map(_._1).sliding(2).forall(p => p(0) <= p(1)))
  }

  test("the sort is spread over the requested partitions, never one") {
    val out = GlobalRowNumber
      .withGlobalRowNumber(df, "rid", Seq(col("k")))
    assert(out.rdd.getNumPartitions == 4,
      "numbering must run on the range partitions, not a single-partition sort")
  }

  test("regression: ids stay exact when range-boundary SAMPLING kicks in") {
    // > sampleSizePerPartition (default 100 * 3 per upstream partition)
    // rows per partition, so the range exchange picks boundaries from a
    // random sample. The r5 two-branch formulation (window + separate
    // counts branch) drifted here: each branch's exchange sampled with a
    // different RDD-id seed, boundaries disagreed, and ids shifted by a
    // few rows. The single-RDD zipWithIndex formulation is immune.
    val big = spark.range(20000).select(
      pmod(col("id") * 7919 + 13, lit(20000)).as("k"))
    val fast = GlobalRowNumber
      .withGlobalRowNumber(big, "rid", Seq(col("k")))
    val slow = big.withColumn("rid",
      row_number().over(Window.orderBy("k")).cast("long"))
    assert(fast.except(slow).isEmpty && slow.except(fast).isEmpty)
  }

  test("empty input yields an empty, correctly-shaped result") {
    val out = GlobalRowNumber.withGlobalRowNumber(
      df.filter(col("k") < 0), "rid", Seq(col("k")))
    assert(out.columns.contains("rid") && out.isEmpty)
  }
}
