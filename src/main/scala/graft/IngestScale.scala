package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Write-path scale rung (r11 VERDICT #4) — the one subsystem with no
  * sf1/sf10 measurement: steady-state [[graft.icenet.Pipeline]] ingest
  * across a (file size × warehouse partition count) grid.
  *
  * Two scale questions, one axis each:
  *
  *  1. '''Does per-file fixed overhead amortize with file size?''' The
  *     r7 analysis counted ~15 scheduler-bound Spark jobs per ingested
  *     file (existence probes, max-date scalars, the anti-join, the
  *     view rebuild, the meta upsert) — at 100k-row files that overhead
  *     IS the cost. If rows/s grows roughly with file size, the chain
  *     is overhead-bound and fine at production drop sizes (one
  *     432×432×93 EASE drop ≈ 17M rows); if it plateaus early,
  *     something scales with rows that shouldn't.
  *  2. '''Is ingest independent of warehouse size?''' insertIgnore's
  *     anti-join prunes to the incoming date's partitions and the
  *     incremental view rebuild reads one date — so 10 vs 100 prior
  *     date-partitions should cost the SAME. If the 100-partition
  *     column is slower, a listing or prune is leaking whole-table
  *     work.
  *
  * Grid: file rows ∈ {10.24k, 100k, ~1M} (nLead=10, square y/x grids
  * 32/100/316 — all three grids share axis origin and 25 km step, so
  * the geometry table converges and first-write-wins stays exercised)
  * × prior partitions ∈ {10, 100} (seeded with ONE multi-date drop of
  * 1,024 rows/date: partition COUNT is the axis under test, so seeds
  * stay small). Per cell: one untimed warm ingest, then `filesTimed`
  * timed single-date ingests — the steady-state regime of a long-lived
  * warehouse.
  *
  * Output: one JSON line per grid cell + a closing summary line; the
  * numbers land as a BASELINE.md footnote.
  *
  * Usage: `runMain graft.IngestScale [filesTimed]` (default 4).
  */

object IngestScale {

  def main(args: Array[String]): Unit = {
    val filesTimed = if (args.nonEmpty) args(0).toInt else 4
    val spark = Tables.localSession()

    val sizes = Seq(("10k", 32, 32), ("100k", 100, 100), ("1M", 316, 316))
    val priors = Seq(10, 100)
    val results = for ((label, nY, nX) <- sizes; prior <- priors) yield {
      val r = oneCell(spark, label, nY, nX, prior, filesTimed)
      println(r)
      r
    }
    println(s"""{"metric":"ingest_scale_done","cells":${results.size}}""")
    spark.stop()
  }

  /** One grid cell: fresh warehouse, `prior`-partition seed, one warm
    * ingest, `filesTimed` timed ingests. Returns the JSON record.
    */
  private[graft] def oneCell(
      spark: SparkSession, label: String, nY: Int, nX: Int,
      prior: Int, filesTimed: Int, nLead: Int = 10): String = {
    val whPath = java.nio.file.Files.createTempDirectory("graft_ingest_scale")
    try {
      val pipe =
        new graft.icenet.Pipeline(spark, whPath.toString, graft.icenet.North)
      // seed: one multi-date drop -> `prior` fact partitions. 1,024 rows
      // per date keeps the seed O(100k) rows while the partition COLUMN
      // cardinality — the thing the anti-join and listing must prune —
      // is exactly `prior`.
      pipe.ingest(seedRaw(spark, prior))
      val rowsPerFile = nLead.toLong * nY * nX
      pipe.ingest(Bench.syntheticRaw(spark, prior, nLead, nY, nX)) // warm, untimed
      // Throughput denominator = rows that actually LAND in the fact
      // table, not raw generated rows: Ingest.load drops sic_mean <= 0
      // (~5/19 of the synthetic grid), so the raw count overstates
      // rows/s by ~35% (r13 ADVICE). Counted as the warehouse delta
      // across the timed loop so the convention is filter-proof.
      def factRows(): Long =
        graft.icenet.TableOps.read(spark, pipe.forecastPath).count()
      val before = factRows()
      val t0 = System.nanoTime()
      (1 to filesTimed).foreach { k =>
        pipe.ingest(Bench.syntheticRaw(spark, prior + k, nLead, nY, nX))
      }
      val sec = (System.nanoTime() - t0) / 1e9
      val rows = factRows() - before
      f"""{"metric":"ingest_scale","file_rows":$rowsPerFile,""" +
        f""""file_label":"$label","prior_partitions":$prior,""" +
        f""""files_timed":$filesTimed,"sec":$sec%.3f,""" +
        f""""ingested_rows":$rows,""" +
        f""""rows_per_sec":${rows / sec}%.1f}"""
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(whPath)
        .sorted(java.util.Comparator.reverseOrder())
        .iterator().asScala.foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }

  /** One drop carrying `prior` distinct generation dates (day 0..prior-1),
    * 1,024 rows each on the 32×32 sub-grid (nLead=1) — the cheapest frame
    * that leaves `prior` partitions behind. Axes are the shared-origin
    * 25 km grid, a subset of every timed grid's axes.
    */
  private def seedRaw(spark: SparkSession, prior: Int): DataFrame = {
    import org.apache.spark.sql.functions._
    val perDate = 1024L
    spark.range(prior * perDate).select(
      timestamp_seconds(
        lit(1609459200L) + (col("id") / perDate).cast("long") * 86400L
      ).as("time"),
      lit(1).as("leadtime"),
      (lit(-537.5) + (col("id") / 32 % 32).cast("int") * 25.0).as("yc"),
      (lit(-262.5) + (col("id") % 32).cast("int") * 25.0).as("xc"),
      (pmod(col("id") * 7, lit(19)).cast("int") / 10.0 - 0.4).as("sic_mean"),
      (pmod(col("id"), lit(7)).cast("int") / 100.0).as("sic_stddev"))
  }
}

/** Production-shape write-path measurement (r12 VERDICT #3): one REAL
  * EASE-grid drop — 432×432 cells × 93 leadtimes ≈ 17.36M raw rows, the
  * exact shape `processor.py` receives per forecast file — end to end
  * through [[graft.icenet.Pipeline]], against the footnote-24 projection
  * (~66 s/file from the 1M-row rung). Seeds a `prior`-partition
  * warehouse, warms with one untimed EASE drop (geometry convergence +
  * JIT), then times `filesTimed` steady-state drops.
  *
  * Usage: `runMain graft.IngestEase [filesTimed] [prior]` (default 2, 100).
  * Run with SPARK_DRIVER_MEM=48g: each drop caches ~17M six-column rows.
  */
object IngestEase {

  def main(args: Array[String]): Unit = {
    val filesTimed = if (args.nonEmpty) args(0).toInt else 2
    val prior = args.lift(1).map(_.toInt).getOrElse(100)
    val spark = Tables.localSession()
    if (args.contains("decomp")) decomp(spark, prior)
    else println(IngestScale.oneCell(spark, "EASE_17M", 432, 432, prior,
      filesTimed, nLead = 93))
    println(s"""{"metric":"ingest_ease_done"}""")
    spark.stop()
  }

  /** Stage decomposition of one steady-state EASE ingest (after seed +
    * one warm drop): where do the ~93 s/file go? Prints one JSON line
    * per pipeline stage.
    */
  private def decomp(spark: SparkSession, prior: Int): Unit = {
    val whPath = java.nio.file.Files.createTempDirectory("graft_ease_decomp")
    try {
      val pipe =
        new graft.icenet.Pipeline(spark, whPath.toString, graft.icenet.North)
      pipe.ingest(Bench.syntheticRaw(spark, 0, 93, 432, 432)) // warm
      def timed[A](stage: String)(f: => A): A = {
        val t0 = System.nanoTime()
        val r = f
        println(f"""{"metric":"ease_stage","stage":"$stage",""" +
          f""""sec":${(System.nanoTime() - t0) / 1e9}%.2f}""")
        r
      }
      val loaded = graft.icenet.Ingest
        .load(Bench.syntheticRaw(spark, 1, 93, 432, 432)).cache()
      try {
        timed("load_cache_count")(loaded.count())
        timed("update_geometries")(pipe.updateGeometries(loaded))
        timed("update_forecasts")(pipe.updateForecasts(loaded))
        timed("update_latest_incremental")(pipe.updateLatestIncremental(loaded))
        timed("update_meta")(pipe.updateMeta(loaded))
      } finally loaded.unpersist()
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(whPath)
        .sorted(java.util.Comparator.reverseOrder())
        .iterator().asScala.foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }
}
