package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Dev tool: scales a TESTDATA.md fixture directory by an integer factor
  * (default 10), e.g. sf0.1 -> sf1, for the superlinear-failure-mode stress
  * run the sf0.1 bench cannot provide (LSH bucket-cap effectiveness,
  * connected-components round counts, AQE skew splits — VERDICT r5 #3).
  *
  * Method: each row is replicated `factor` times with surrogate keys offset
  * by `copy * stride` (stride = max source key + 1), so primary keys stay
  * unique and every foreign key is remapped with ITS referenced table's
  * stride — referential integrity holds by construction and join/group
  * cardinalities scale linearly like a real corpus. `region`/`nation` stay
  * fixed (TPC-H semantics: they never scale). Distribution notes:
  *  - `events.user_id` is NOT remapped: each user gets factor x events,
  *    so hot keys get hotter — deliberate skew growth for the skew paths.
  *  - `documents.text` gets a per-copy suffix token (copy 0 unchanged):
  *    copies become 10-way NEAR-duplicate cliques (boilerplate shape) that
  *    exercise minhash/simhash banding without collapsing to exact dups.
  *  - `embeddings.embedding` gets a tiny per-copy first-component nudge:
  *    near-identical vectors stress IVF/LSH bucketing the same way.
  * `events.ts` is read nanos-as-long and written back as plain BIGINT
  * nanos, preserving the TIMESTAMP(NANOS) read path in [[Tables.events]].
  *
  * This is a stress generator, not an oracle input: correctness stays
  * pinned at sf0.01 (driver gate); sf1 numbers land in BASELINE.md as a
  * footnote. Usage: `runMain graft.GenScale /root/testdata/sf0.1 /tmp/sf1 10`.
  */
object GenScale {
  def main(args: Array[String]): Unit = {
    val Array(src, dst) = args.take(2)
    val factor = args.lift(2).map(_.toInt).getOrElse(10)
    val spark = Tables.localSession()
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")

    def read(name: String) = Tables.parquet(spark, s"$src/$name.parquet")
    def stride(df: DataFrame, key: String): Long =
      df.agg(max(col(key))).head().getLong(0) + 1L

    val orderStride = stride(read("orders"), "o_orderkey")
    val custStride = stride(read("customer"), "c_custkey")
    val partStride = stride(read("part"), "p_partkey")
    val suppStride = stride(read("supplier"), "s_suppkey")

    /** Replicates `factor`x; `remap` keys shift by copy x stride; `tweak`
      * columns rewrite as f(value, copy). Output partition count scales
      * with the copy explode so downstream scans parallelize.
      */
    def scale(
        name: String, remap: Map[String, Long],
        tweak: Map[String, (Column, Column) => Column] = Map.empty,
        outParts: Int = 8, copies: Int = factor): Unit = {
      val df = read(name)
      val out = df
        .withColumn("__c", explode(sequence(lit(0L), lit(copies - 1L))))
        .select(df.columns.toSeq.map { c =>
          val typ = df.schema(c).dataType
          remap.get(c).map(s => (col(c) + col("__c") * s).cast(typ).as(c))
            .orElse(tweak.get(c).map(f => f(col(c), col("__c")).as(c)))
            .getOrElse(col(c))
        }: _*)
      out.repartition(outParts).write.mode("overwrite")
        .parquet(s"$dst/$name.parquet")
      println(s"[genscale] $name -> ${factor}x")
    }

    // copies = 1: region/nation pass through verbatim — replicating them
    // without a key remap would duplicate primary keys and multiply every
    // join that touches them
    scale("region", Map.empty, outParts = 1, copies = 1)
    scale("nation", Map.empty, outParts = 1, copies = 1)
    scale("customer", Map("c_custkey" -> custStride))
    scale("supplier", Map("s_suppkey" -> suppStride), outParts = 2)
    scale("part", Map("p_partkey" -> partStride), outParts = 2)
    scale("orders", Map("o_orderkey" -> orderStride, "o_custkey" -> custStride))
    scale("lineitem", Map("l_orderkey" -> orderStride,
      "l_partkey" -> partStride, "l_suppkey" -> suppStride), outParts = 16)
    scale("events", Map("event_id" -> stride(read("events"), "event_id")))
    scale("documents", Map("doc_id" -> stride(read("documents"), "doc_id")),
      tweak = Map("text" -> ((t, c) =>
        when(c === 0, t).otherwise(concat(t, lit(" dupvariant"), c)))))
    scale("embeddings", Map("vec_id" -> stride(read("embeddings"), "vec_id")),
      tweak = Map("embedding" -> ((e, c) =>
        transform(e, (v, i) =>
          when(i === 0, v + c.cast("float") * lit(0.001f)).otherwise(v)))))
    // copy-0 rows are bit-identical to the source, so every source row
    // survives verbatim and sf1 strictly contains sf0.1
    spark.stop()
  }
}
