package graft

import java.sql.{Date, Timestamp}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.icenet._

/** End-to-end pipeline tests over a reference-shaped fixture (FIXTURES.md §B):
  * a 3x3 grid, 2 leadtimes, two files with different generation dates.
  * Covers the full per-file run (__init__.py:14-32) and its convergence
  * guarantees.
  */
class PipelineSpec extends SparkSpec {
  import spark.implicits._

  /** Long-form raw file frame: one generation instant, full grid x leadtimes. */
  private def rawFile(gen: String, meanOffset: Double): DataFrame = {
    val t = Timestamp.valueOf(s"$gen 00:00:00")
    val rows = for {
      xi <- 1 to 3; yi <- 1 to 3; lt <- 1 to 2
      // corner cell (3,3) is "land": null concentration
      mean = if (xi == 3 && yi == 3) None
             else Some(0.1 * xi + 0.01 * yi + meanOffset)
    } yield (t, lt, xi * 25.0, yi * 25.0, 80.0 + xi, 10.0 * yi,
             mean, mean.map(_ / 10))
    rows.toDF("time", "leadtime", "xc", "yc", "lat", "lon", "sic_mean", "sic_stddev")
  }

  /** Long-form raw file over the grid `xis` x `yis` (25 km pitch), every
    * cell wet, 2 leadtimes.
    */
  private def rawGrid(gen: String, xis: Seq[Int], yis: Seq[Int]): DataFrame = {
    val t = Timestamp.valueOf(s"$gen 00:00:00")
    val rows = for (xi <- xis; yi <- yis; lt <- 1 to 2)
      yield (t, lt, xi * 25.0, yi * 25.0, 80.0 + xi, 10.0 * yi,
        0.1 + 0.01 * xi + 0.001 * yi, 0.01)
    rows.toDF("time", "leadtime", "xc", "yc", "lat", "lon", "sic_mean", "sic_stddev")
  }

  /** (centroid_x, centroid_y) -> cell_id of the cell table. */
  private def cellIds(p: Pipeline): Map[(Int, Int), Long] =
    TableOps.read(spark, p.cellPath).select("centroid_x", "centroid_y", "cell_id")
      .as[(Int, Int, Long)].collect().map { case (x, y, id) => (x, y) -> id }.toMap

  /** File name -> size of every file below `path`. */
  private def filesUnder(path: String): Map[String, Long] = {
    import org.apache.hadoop.fs.Path
    val root = new Path(path)
    val it = root.getFileSystem(spark.sparkContext.hadoopConfiguration).listFiles(root, true)
    Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
      .map(f => f.getPath.toString -> f.getLen).toMap
  }

  private def freshPipeline(): Pipeline =
    new Pipeline(spark, tmpDir("wh"), North)

  test("single-file ingest populates all four artifacts") {
    val p = freshPipeline()
    p.ingest(rawFile("2020-06-01", 0.0))
    val cells = TableOps.read(spark, p.cellPath)
    assert(cells.count() == 9) // 3x3 grid, including the land cell's geometry
    assert(cells.columns.toSet ==
      Set("cell_id", "centroid_x", "centroid_y", "geom_6931", "geom_4326"))
    val facts = TableOps.read(spark, p.forecastPath)
    assert(facts.count() == 16) // 8 wet cells x 2 leadtimes
    assert(TableOps.read(spark, p.latestPath).count() == 16)
    val meta = TableOps.read(spark, p.metaPath).collect()
    assert(meta.length == 1)
    val m = TableOps.read(spark, p.metaPath)
      .select("date_forecast_first", "date_forecast_last", "n_records", "hemisphere")
      .head()
    assert(m.getDate(0) == Date.valueOf("2020-06-02"))
    assert(m.getDate(1) == Date.valueOf("2020-06-03"))
    assert(m.getLong(2) == 16L && m.getString(3) == "north")
  }

  test("incremental latest-view refresh equals the full recompute " +
    "(new date, same date, older date)") {
    val p = freshPipeline()
    def viewEqualsFull(): Unit = {
      val inc = TableOps.read(spark, p.latestPath).collect().toSet
      val full = p.latestView().collect().toSet
      assert(inc == full, "incremental view must equal the full recompute")
    }
    def ingestIncremental(raw: DataFrame): Unit = {
      val loaded = Ingest.load(raw).cache()
      try {
        p.updateGeometries(loaded)
        p.updateForecasts(loaded)
        p.updateLatestIncremental(loaded)
        p.updateMeta(loaded)
      } finally loaded.unpersist()
    }
    ingestIncremental(rawFile("2020-06-01", 0.0)) // bootstrap
    viewEqualsFull()
    ingestIncremental(rawFile("2020-06-08", 0.1)) // NEW date: view advances
    viewEqualsFull()
    assert(TableOps.read(spark, p.latestPath)
      .select("date_forecast_generated").distinct().head().getDate(0)
      == Date.valueOf("2020-06-08"))
    val viewFiles = filesUnder(p.latestPath)
    ingestIncremental(rawFile("2020-06-01", 0.2)) // OLDER date: view untouched
    viewEqualsFull()
    assert(filesUnder(p.latestPath) == viewFiles, "a late replay must not rebuild the view")
    ingestIncremental(rawFile("2020-06-08", 0.1)) // SAME date replay: fixed point
    viewEqualsFull()
    // view removed (manual repair) + OLDER-date replay: must rebuild the
    // full view, not resurrect the old date
    import org.apache.hadoop.fs.Path
    val fs = new Path("/tmp").getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new Path(p.latestPath), true)
    ingestIncremental(rawFile("2020-06-01", 0.3))
    viewEqualsFull()
    assert(TableOps.read(spark, p.latestPath)
      .select("date_forecast_generated").distinct().head().getDate(0)
      == Date.valueOf("2020-06-08"))
    // CRASHED ingest: facts advance to 2020-06-15 but the view refresh
    // never ran; a later OLDER-date ingest must notice the stale view and
    // recompute to the facts' max, not pin it to its own (non-max) date
    val crashed = Ingest.load(rawFile("2020-06-15", 0.4)).cache()
    try { p.updateGeometries(crashed); p.updateForecasts(crashed) }
    finally crashed.unpersist()
    ingestIncremental(rawFile("2020-06-01", 0.5))
    viewEqualsFull()
    assert(TableOps.read(spark, p.latestPath)
      .select("date_forecast_generated").distinct().head().getDate(0)
      == Date.valueOf("2020-06-15"))
  }

  test("EMPTY ingest still heals a stale latest view (designated heal point)") {
    val p = freshPipeline()
    val d1 = Ingest.load(rawFile("2020-06-01", 0.0)).cache()
    try {
      p.updateGeometries(d1); p.updateForecasts(d1); p.updateLatestIncremental(d1)
    } finally d1.unpersist()
    // crashed ingest: facts advance to 2020-06-08, view refresh never ran
    val crashed = Ingest.load(rawFile("2020-06-08", 0.1)).cache()
    try { p.updateGeometries(crashed); p.updateForecasts(crashed) }
    finally crashed.unpersist()
    // a subsequent EMPTY drop must still notice facts-ahead-of-view and
    // recompute — an early return here would leave the view stale until
    // the next non-empty ingest
    val empty = Ingest.load(rawFile("2020-06-01", 0.0).limit(0)).cache()
    try p.updateLatestIncremental(empty) finally empty.unpersist()
    assert(TableOps.read(spark, p.latestPath)
      .select("date_forecast_generated").distinct().head().getDate(0)
      == Date.valueOf("2020-06-08"))
  }

  test("re-ingesting the same file is a fixed point (idempotency)") {
    val p = freshPipeline()
    p.ingest(rawFile("2020-06-01", 0.0))
    val before = (
      TableOps.read(spark, p.cellPath).count(),
      TableOps.read(spark, p.forecastPath).collect().toSet,
      TableOps.read(spark, p.metaPath).collect().toSet)
    p.ingest(rawFile("2020-06-01", 0.0))
    assert(TableOps.read(spark, p.cellPath).count() == before._1)
    assert(TableOps.read(spark, p.forecastPath).collect().toSet == before._2)
    assert(TableOps.read(spark, p.metaPath).collect().toSet == before._3)
  }

  test("re-ingest with changed values: facts first-write-wins, meta last-write-wins") {
    val p = freshPipeline()
    p.ingest(rawFile("2020-06-01", 0.0))
    p.ingest(rawFile("2020-06-01", 0.5)) // same keys, different measures
    val mean0 = TableOps.read(spark, p.forecastPath)
      .agg(max("sea_ice_concentration_mean")).head().getFloat(0)
    assert(mean0 < 0.5f) // original (offset 0) values kept
    assert(TableOps.read(spark, p.metaPath).count() == 1) // meta overwritten, not duplicated
  }

  test("second generation date: latest view tracks only the max date") {
    val p = freshPipeline()
    p.ingest(rawFile("2020-06-01", 0.0))
    p.ingest(rawFile("2020-06-08", 0.1))
    val latest = TableOps.read(spark, p.latestPath)
    val dates = latest.select("date_forecast_generated").distinct().collect()
    assert(dates.map(_.getDate(0)).toSet == Set(Date.valueOf("2020-06-08")))
    // deterministic surrogate ids 1..N over the natural key
    val ids = latest.select("forecast_id").as[Long].collect().sorted
    assert(ids.toSeq == (1L to ids.length))
    // facts accumulate both generations
    assert(TableOps.read(spark, p.forecastPath)
      .select("date_forecast_generated").distinct().count() == 2)
    assert(TableOps.read(spark, p.metaPath).count() == 2)
  }

  test("FK audit: unknown-centroid forecasts are quarantined, never NULL cell_id") {
    val p = freshPipeline()
    p.ingest(rawFile("2020-06-01", 0.0)) // cells now cover the 3x3 grid only
    // a frame bypassing geometry update, with one centroid the cell table
    // has never seen (xc=225 km) — the reference's fk_cell_id would reject it
    val rogue = Seq(
      (Timestamp.valueOf("2020-06-02 00:00:00"), 1, 225.0, 25.0, 85.0, 10.0,
        Some(0.4), Some(0.04)),
      (Timestamp.valueOf("2020-06-02 00:00:00"), 1, 25.0, 25.0, 85.0, 10.0,
        Some(0.5), Some(0.05))) // known centroid: inserts normally
      .toDF("time", "leadtime", "xc", "yc", "lat", "lon", "sic_mean", "sic_stddev")
    val nBad = p.updateForecasts(Ingest.load(rogue))
    assert(nBad == 1)
    val q = spark.read.parquet(p.quarantinePath)
    assert(q.count() == 1)
    assert(q.select("xc_m").head().getInt(0) == 225000) // provenance kept
    val facts = TableOps.read(spark, p.forecastPath)
    assert(facts.filter(col("cell_id").isNull).count() == 0)
    assert(facts.filter(col("date_forecast_generated") === "2020-06-02").count() == 1)
  }

  test("FK audit: re-applying a rogue batch quarantines its rows once") {
    val p = freshPipeline()
    p.ingest(rawFile("2020-06-01", 0.0))
    val rogue = Seq(
      (Timestamp.valueOf("2020-06-02 00:00:00"), 1, 225.0, 25.0, 85.0, 10.0,
        Some(0.4), Some(0.04)),
      (Timestamp.valueOf("2020-06-02 00:00:00"), 1, 25.0, 25.0, 85.0, 10.0,
        Some(0.5), Some(0.05)))
      .toDF("time", "leadtime", "xc", "yc", "lat", "lon", "sic_mean", "sic_stddev")
    assert(p.updateForecasts(Ingest.load(rogue)) == 1)
    assert(p.updateForecasts(Ingest.load(rogue)) == 1) // a re-delivery
    assert(TableOps.read(spark, p.quarantinePath).count() == 1)
    assert(TableOps.read(spark, p.forecastPath)
      .filter(col("date_forecast_generated") === "2020-06-02").count() == 1)
  }

  test("SQL surface: registered catalog views match the Scala read path") {
    val p = freshPipeline()
    p.ingest(rawFile("2020-06-01", 0.0))
    p.registerSqlViews()
    // the reference's reader contract: query tables/views by name in SQL
    assert(spark.sql("SELECT count(*) AS n FROM north_cell").head().getLong(0)
      == TableOps.read(spark, p.cellPath).count())
    assert(spark.sql("SELECT count(*) AS n FROM forecast_meta").head().getLong(0) == 1)
    val viaSql = spark.sql(
      """SELECT date_forecast_generated, date_forecast_for, cell_id,
        |       sea_ice_concentration_mean
        |FROM north_forecast_latest""".stripMargin)
      .orderBy("date_forecast_for", "cell_id").collect().toSeq
    val viaScala = p.latestView()
      .select("date_forecast_generated", "date_forecast_for", "cell_id",
        "sea_ice_concentration_mean")
      .orderBy("date_forecast_for", "cell_id").collect().toSeq
    assert(viaSql == viaScala)
    // registration is a refresh point: a later ingest + re-register shows
    // the new date (temp views capture the listing at registration)
    p.ingest(rawFile("2020-06-05", 0.1))
    p.registerSqlViews()
    assert(spark.sql(
      "SELECT max(date_forecast_generated) AS d FROM north_forecast_latest")
      .head().getDate(0) == Date.valueOf("2020-06-05"))
  }

  test("cell geometry: WKT ring is closed and 4326 ring is in lon/lat range") {
    val p = freshPipeline()
    p.ingest(rawFile("2020-06-01", 0.0))
    val geoms = TableOps.read(spark, p.cellPath)
      .select("geom_6931", "geom_4326").collect()
    geoms.foreach { r =>
      val ring = r.getString(0).stripPrefix("POLYGON((").stripSuffix("))").split(", ")
      assert(ring.length == 5 && ring.head == ring.last) // closed 5-point ring
      val pts4326 = r.getString(1).stripPrefix("POLYGON((").stripSuffix("))")
        .split(", ").map(_.split(" ").map(_.toDouble))
      pts4326.foreach { case Array(lon, lat) =>
        assert(lon >= -180 && lon <= 180 && lat >= -90 && lat <= 90)
        assert(lat > 80) // 25-75 km from the pole -> very high latitude
      }
    }
  }

  test("grid extension: new cells get new ids, existing cells keep theirs") {
    val p = freshPipeline()
    p.ingest(rawGrid("2020-06-01", Seq(2, 3), Seq(1, 2, 3)))
    val before = cellIds(p)
    assert(before.values.toSeq.sorted == (1L to 6L))
    // the new column x = 25 km sorts before every existing cell
    p.ingest(rawGrid("2020-06-08", Seq(1, 2, 3), Seq(1, 2, 3)))
    val after = cellIds(p)
    assert(after.size == 9)
    assert(after.values.toSet.size == 9, s"duplicate cell_id: $after")
    assert(before.forall { case (k, id) => after(k) == id }, "an existing cell changed id")
    assert(after.filter(_._1._1 == 25000).values.toSeq.sorted == Seq(7L, 8L, 9L))
    val view = TableOps.read(spark, p.latestPath)
    assert(view.count() == 18) // 9 wet cells x 2 leadtimes
    assert(view.select("date_forecast_for", "cell_id").distinct().count() == 18)
  }

  test("a known-grid drop leaves the cell table's files untouched") {
    val p = freshPipeline()
    p.ingest(rawFile("2020-06-01", 0.0))
    val files = filesUnder(p.cellPath)
    p.ingest(rawFile("2020-06-08", 0.1))
    p.ingest(rawFile("2020-06-01", 0.0))
    assert(filesUnder(p.cellPath) == files)
    // the axis guard still runs on every drop, before any cross join
    val wide = spark.range(Geometry.MaxAxisLen + 1)
      .select((col("id") * 25000).cast("int").as("xc_m"),
        ((col("id") % 2) * 25000).cast("int").as("yc_m"))
    val e = intercept[IllegalArgumentException](p.updateGeometries(wide))
    assert(e.getMessage.contains("GlobalRowNumber"))
    assert(filesUnder(p.cellPath) == files)
  }

  test("narrow numbering equals numbering the geometry-joined rows") {
    val p = freshPipeline()
    // the join-first formulation: join cells, dedup the wide rows, number
    def oracle(): Seq[org.apache.spark.sql.Row] = {
      val facts = TableOps.read(spark, p.forecastPath)
      val maxd = facts.agg(max("date_forecast_generated")).head().getDate(0)
      val cells = TableOps.read(spark, p.cellPath).select("cell_id", "geom_4326")
      graft.operators.GlobalRowNumber.withGlobalRowNumber(
        facts.filter(col("date_forecast_generated") === lit(maxd))
          .join(cells, Seq("cell_id"))
          .select("date_forecast_generated", "date_forecast_for", "cell_id",
            "sea_ice_concentration_mean", "sea_ice_concentration_stddev", "geom_4326")
          .distinct(),
        "forecast_id", Seq(col("date_forecast_for"), col("cell_id")))
        .orderBy("forecast_id").collect().toSeq
    }
    def viewEqualsOracle(): Unit = {
      val view = p.latestView()
      assert(view.columns.toSeq == Seq("date_forecast_generated", "date_forecast_for",
        "cell_id", "sea_ice_concentration_mean", "sea_ice_concentration_stddev",
        "geom_4326", "forecast_id"))
      val got = view.orderBy("forecast_id").collect().toSeq
      assert(got.nonEmpty && got == oracle())
    }
    p.ingest(rawFile("2020-06-01", 0.0))
    p.ingest(rawFile("2020-06-08", 0.1)) // new date
    viewEqualsOracle()
    p.ingest(rawFile("2020-06-04", 0.2)) // older date
    viewEqualsOracle()
    p.ingest(rawGrid("2020-06-15", Seq(0, 1, 2, 3), Seq(1, 2, 3))) // grid extension
    viewEqualsOracle()
  }

  test("a re-delivery of the newest date that lands nothing leaves the view's files") {
    val p = freshPipeline()
    p.ingest(rawFile("2020-06-01", 0.0))
    p.ingest(rawFile("2020-06-08", 0.1)) // new date: the view advances
    val viewFiles = filesUnder(p.latestPath)
    p.ingest(rawFile("2020-06-08", 0.1)) // same file again: no fact row lands
    assert(filesUnder(p.latestPath) == viewFiles, "a no-op re-delivery must not rebuild the view")
    assert(TableOps.read(spark, p.latestPath).collect().toSet == p.latestView().collect().toSet)
  }

  test("a drop's job count: new date and older-date re-delivery") {
    val p = freshPipeline()
    p.ingest(rawFile("2020-06-01", 0.0))
    p.ingest(rawFile("2020-06-08", 0.1))
    // the drop's scalars come from one summary aggregate; the view refresh
    // compares the fact table's listing with the view's record, so a
    // re-delivery of an older date runs no job for the view
    val (_, newDate) = jobsOf(p.ingest(rawFile("2020-06-15", 0.2)))
    assert(newDate == 23)
    val (_, redelivery) = jobsOf(p.ingest(rawFile("2020-06-08", 0.1)))
    assert(redelivery == 17)
  }

  test("a crashed same-date append is healed by a re-delivery, a late replay or an EMPTY drop") {
    val d = "2020-06-08"
    // a 3x3 drop for d, then a 4x3 drop for d whose view refresh never ran:
    // the facts of d gained a grid column the view does not show
    def crashed(): Pipeline = {
      val p = freshPipeline()
      p.ingest(rawGrid(d, Seq(1, 2, 3), Seq(1, 2, 3)))
      val wider = Ingest.load(rawGrid(d, Seq(1, 2, 3, 4), Seq(1, 2, 3))).cache()
      try { p.updateGeometries(wider); p.updateForecasts(wider) } finally wider.unpersist()
      p
    }
    def viewEqualsFull(p: Pipeline, after: String): Unit = {
      val full = p.latestView().collect().toSet
      val view = TableOps.read(spark, p.latestPath).collect().toSet
      assert(full.size == 24) // 12 cells x 2 leadtimes
      assert(view.size == full.size, s"$after: the view holds ${view.size} rows")
      assert(view == full, after)
    }
    val redelivered = crashed()
    redelivered.ingest(rawGrid(d, Seq(1, 2, 3, 4), Seq(1, 2, 3)))
    viewEqualsFull(redelivered, "after a same-date re-delivery")
    val replayed = crashed()
    replayed.ingest(rawGrid("2020-06-01", Seq(1, 2, 3), Seq(1, 2, 3)))
    viewEqualsFull(replayed, "after an older-date replay")
    val emptied = crashed()
    val empty = Ingest.load(rawGrid(d, Seq(1), Seq(1)).limit(0)).cache()
    try emptied.updateLatestIncremental(empty) finally empty.unpersist()
    viewEqualsFull(emptied, "after an EMPTY drop")
  }

  test("a view without its source record is rebuilt once") {
    import org.apache.hadoop.fs.Path
    val p = freshPipeline()
    p.ingest(rawFile("2020-06-08", 0.0))
    val fs = new Path(p.latestPath).getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.delete(new Path(p.latestPath, "_source"), false))
    val unrecorded = filesUnder(p.latestPath)
    p.ingest(rawFile("2020-06-01", 0.1)) // older date: rebuilds, the record is missing
    val rebuilt = filesUnder(p.latestPath)
    assert(rebuilt.keySet != unrecorded.keySet, "a view without a record must be rebuilt")
    assert(TableOps.sourceOf(spark, p.latestPath).nonEmpty)
    assert(TableOps.read(spark, p.latestPath).collect().toSet == p.latestView().collect().toSet)
    p.ingest(rawFile("2020-06-01", 0.2)) // older date again: the record matches
    assert(filesUnder(p.latestPath) == rebuilt, "a recorded view must not be rebuilt again")
  }

  test("the fact table's newest date from its listing equals max(date_forecast_generated)") {
    import org.apache.hadoop.fs.Path
    val p = freshPipeline()
    def listingMaxIsMax(): Unit = {
      val facts = TableOps.read(spark, p.forecastPath)
      assert(p.newestDate(facts) == facts.agg(max("date_forecast_generated")).head().getDate(0))
    }
    p.ingest(rawFile("2020-06-08", 0.0))
    listingMaxIsMax()
    p.ingest(rawFile("2020-06-15", 0.1)) // new date
    listingMaxIsMax()
    p.ingest(rawFile("2020-06-01", 0.2)) // older date
    listingMaxIsMax()
    p.ingest(rawFile("2020-06-15", 0.1)) // same date
    listingMaxIsMax()
    // a compaction that crashed between its renames: the read resolves to
    // the `.old` sibling
    TableOps.compact(spark, p.forecastPath, partitionCols = Seq("date_forecast_generated"))
    val fs = new Path(p.forecastPath).getFileSystem(spark.sparkContext.hadoopConfiguration)
    TableOps.read(spark, p.forecastPath).write.partitionBy("date_forecast_generated")
      .parquet(p.forecastPath + ".staging")
    fs.rename(new Path(p.forecastPath), new Path(p.forecastPath + ".old"))
    assert(!fs.exists(new Path(p.forecastPath)))
    listingMaxIsMax()
    assert(p.newestDate(TableOps.read(spark, p.forecastPath)) == Date.valueOf("2020-06-15"))
  }
}
