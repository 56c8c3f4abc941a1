package icebench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.icenet.{Ingest, North, Pipeline, TableOps}
import graft.sources.NetcdfClassic

/** Sizes of the warehouse and of one forecast drop. */
object IceShape {
  val NY = 120
  val NX = 120
  /** Leadtimes of one timed drop: 20 x 120 x 120 = 288k cells. */
  val NLead = 20
  /** Prior generation dates, seeded from one multi-date file. */
  val Prior = 30
  /** Leadtimes per prior date: the seed lays down the date axis (30 fact
    * partitions, 30 meta rows, 30 points of history) at a twentieth of the
    * rows of 30 full drops.
    */
  val PriorLead = 1
}

/** The IceNet warehouse as the blob trigger and its readers see it: the
  * four tables under one directory, fed from NetCDF files through the
  * gridded source and [[Pipeline]]. `leads` records what each ingested
  * date holds, so any expected answer can be recomputed from the grid.
  */
final class IceWarehouse(val spark: SparkSession, work: Path, val grid: IceGrid) {
  import IceShape._
  val files: Path = Files.createDirectories(work.resolve("incoming"))
  val pipe = new Pipeline(spark, work.resolve("warehouse").toString, North)
  val leads = mutable.LinkedHashMap.empty[Int, Int]

  def tablePaths: Seq[Path] = Seq(pipe.cellPath, pipe.forecastPath,
    pipe.latestPath, pipe.metaPath).map(Paths.get(_))

  def fileFor(dates: Seq[Int], nLead: Int, tag: String): Path = {
    val p = files.resolve(s"$tag.nc")
    grid.writeNc(p, dates, nLead)
    p
  }

  def raw(p: Path): DataFrame = spark.read.format("gridded").load(p.toString)

  /** Seeds dates 0 until `Prior` from one multi-date file. */
  def seed(): Unit = {
    val prior = 0 until Prior
    pipe.ingest(raw(fileFor(prior, PriorLead, "seed")))
    prior.foreach(leads(_) = PriorLead)
  }

  def maxDate: Int = leads.keys.max

  def expectedRows(d: Int): Long = grid.landedRows(d, leads(d))

  def sql(q: String): DataFrame = spark.sql(q)

  def factRows(): Long = TableOps.read(spark, pipe.forecastPath).count()

  /** On-disk bytes of the four tables per fact row. */
  def bytesPerRow(): Double =
    tablePaths.map(Harness.dirBytes).sum.toDouble / factRows()

  def day(d: Int): String = s"date_add(DATE'1970-01-01', ${grid.epochDay(d)})"
}

/** `warehouse`: the reference's own job and its readers. Set-up seeds 30
  * prior generation dates and registers the SQL views. Each block of 12
  * ops starts with a new single-date NetCDF drop ingested by
  * [[Pipeline.ingest]] and a reader's view refresh; the other 10 are, in a
  * seeded order, eight reads (tile x3, cell_history x2, extent, export,
  * meta) and the re-delivery of a seeded prior date (a blob-trigger
  * re-fire, which must add no rows and take the view's late-replay branch)
  * followed by a refresh. Every answer is checked against the generator.
  */
final class WarehouseWorkload(seed: Long) extends Workload {
  import IceShape._
  private var wh: IceWarehouse = _
  private val rnd = new scala.util.Random(seed ^ 0x1CE)
  private var nextDate = Prior
  private var landedRows = 0L
  private val kinds = mutable.ArrayBuffer.empty[String]
  private val Reads = Seq.fill(3)("tile") ++ Seq.fill(2)("cell_history") ++
    Seq("extent", "export", "meta")
  private val h = North.name

  def blockSize: Int = 4 + Reads.size

  /** Fact rows landed by the loop's drops, for `rows_per_s`. */
  def rowsDone: Long = landedRows
  /** Over new-date drops only: a re-delivery lands no rows. */
  override def rowsPerSecond(rs: Seq[OpResult]): Double =
    rowsDone / rs.filter(_.kind == "file").map(_.seconds).sum

  def setup(session: () => SparkSession, work: Path): SparkSession = {
    val spark = session()
    wh = new IceWarehouse(spark, work, new IceGrid(seed, NY, NX))
    wh.seed()
    wh.pipe.registerSqlViews()
    spark
  }

  /** Each read once. Ingest is already warm: each of the three set-ups ran
    * [[Pipeline.ingest]] in this JVM.
    */
  def warmUp(): Unit = {
    val off = new Tracer(wh.spark.sparkContext, enabled = false)
    (Reads.distinct :+ "refresh").foreach(k => Harness.timed(readOp(k), off, s"warm-$k"))
  }

  /** A block: a new drop and its refresh, then the reads in a seeded
    * order with the re-delivery and its refresh at a seeded position.
    */
  private def kindAt(i: Int): String = {
    while (kinds.size <= i) {
      val reads = rnd.shuffle(Reads)
      val at = rnd.nextInt(reads.size + 1)
      kinds ++= Seq("file", "refresh") ++ reads.take(at) ++
        Seq("redelivery", "refresh") ++ reads.drop(at)
    }
    kinds(i)
  }

  /** A re-delivery re-sends a seeded prior date, older than the newest, so
    * it takes the view refresh's late-replay branch.
    */
  def op(i: Int): Op = kindAt(i) match {
    case "file" => nextDate += 1; new Drop("file", nextDate - 1)
    case "redelivery" => new Drop("redelivery", rnd.nextInt(Prior))
    case read => readOp(read)
  }

  private def require(ok: Boolean, what: => String): Unit =
    if (!ok) throw new WrongAnswer(what)

  /** One NetCDF drop through the gridded source and [[Pipeline.ingest]]. */
  final class Drop(val kind: String, date: Int) extends Op {
    private val nLead = wh.leads.getOrElse(date, NLead)
    private val path = wh.fileFor(Seq(date), nLead, s"drop-$date")
    private val factsBefore = wh.factRows()
    private val filesBefore = wh.tablePaths.flatMap(p => Harness.listFiles(p).keySet).toSet
    var quarantined = 0L
    var bytesRead = 0L
    var written: (Long, Long) = (0L, 0L)
    var landed = 0L
    override def counters: Map[String, Double] = Map("bytes_read" -> bytesRead.toDouble,
      "bytes_written" -> written._1.toDouble, "files_written" -> written._2.toDouble,
      "rows_landed" -> landed.toDouble, "quarantined" -> quarantined.toDouble)

    def run(t: Tracer): Unit = {
      val raw = wh.raw(path)
      if (!t.enabled) wh.pipe.ingest(raw)
      else {
        // stage by stage, the calls Pipeline.ingest makes, plus a decode
        // probe and a cache fill so each layer's time and jobs separate
        val b0 = NetcdfClassic.bytesRead.get()
        t.layer("sources")(raw.write.format("noop").mode("overwrite").save())
        bytesRead = NetcdfClassic.bytesRead.get() - b0
        val loaded = t.layer("ingest.load") {
          val l = Ingest.load(raw).cache(); l.count(); l
        }
        try {
          t.layer("pipeline.geometries")(wh.pipe.updateGeometries(loaded))
          quarantined = t.layer("pipeline.forecasts")(wh.pipe.updateForecasts(loaded))
          t.layer("pipeline.latest")(wh.pipe.updateLatestIncremental(loaded))
          t.layer("pipeline.meta")(wh.pipe.updateMeta(loaded))
        } finally loaded.unpersist()
      }
    }

    def check(): Unit = {
      Files.deleteIfExists(path)
      val fresh = !wh.leads.contains(date)
      wh.leads(date) = nLead
      val added = wh.tablePaths.flatMap(p => Harness.listFiles(p))
        .filter { case (p, _) => !filesBefore.contains(p) }
      written = (added.map(_._2).sum, added.size.toLong)
      val expected = wh.expectedRows(date)
      val delta = wh.factRows() - factsBefore
      landed = delta
      landedRows += delta
      require(delta == (if (fresh) expected else 0L),
        s"$kind of date $date added $delta fact rows, expected ${if (fresh) expected else 0L}")
      val stored = wh.sql(s"SELECT count(*) FROM parquet.`${wh.pipe.forecastPath}` " +
        s"WHERE date_forecast_generated = ${wh.day(date)}").head().getLong(0)
      require(stored == expected, s"date $date holds $stored rows, expected $expected")
      val meta = wh.sql(s"SELECT n_records FROM parquet.`${wh.pipe.metaPath}` " +
        s"WHERE date_forecast_generated = ${wh.day(date)}").collect().map(_.getLong(0))
      require(meta.toSeq == Seq(expected),
        s"meta n_records of date $date is ${meta.mkString(",")}, expected $expected")
      require(!Files.exists(Paths.get(wh.pipe.quarantinePath)), "quarantine is not empty")
    }
  }

  /** One reader query; `expect` recomputes its answer from the grid. */
  private final class Read(val kind: String, body: () => Array[Row], expect: Array[Row] => Unit)
      extends Op {
    private var rows: Array[Row] = Array.empty
    def run(t: Tracer): Unit = rows = t.layer(s"read.$kind")(body())
    def check(): Unit = expect(rows)
  }

  private def close(a: Double, b: Double) = math.abs(a - b) <= 1e-9 * math.max(1.0, math.abs(b))

  private def readOp(kind: String): Op = {
    val g = wh.grid
    def sql(q: String) = () => wh.sql(q).collect()
    kind match {
      case "tile" =>
        // a 30 x 30 bbox of the newest drop, per forecast day
        val (y0, x0, side) = (rnd.nextInt(NY - 30), rnd.nextInt(NX - 30), 30)
        new Read(kind, sql(
          s"SELECT datediff(l.date_forecast_for, DATE'1970-01-01') AS day, " +
            s"count(*) AS n, sum(l.sea_ice_concentration_mean) AS s " +
            s"FROM ${h}_forecast_latest l JOIN ${h}_cell c ON l.cell_id = c.cell_id " +
            s"WHERE c.centroid_x BETWEEN ${g.xm(x0)} AND ${g.xm(x0 + side - 1)} " +
            s"AND c.centroid_y BETWEEN ${g.ym(y0)} AND ${g.ym(y0 + side - 1)} " +
            s"GROUP BY l.date_forecast_for"), rows => {
          val d = wh.maxDate
          val want = (1 to wh.leads(d)).flatMap { l =>
            val vals = for (y <- y0 until y0 + side; x <- x0 until x0 + side
              if g.landed(d, l, y, x)) yield g.mean(d, l, y, x).toDouble
            if (vals.isEmpty) None else Some(g.epochDay(d) + l -> (vals.size.toLong, vals.sum))
          }.toMap
          val got = rows.map(r => r.getInt(0).toLong -> (r.getLong(1), r.getDouble(2))).toMap
          require(got.keySet == want.keySet &&
            want.forall { case (k, (n, s)) => got(k)._1 == n && close(got(k)._2, s) },
            s"tile at ($y0,$x0) differs from the grid")
        })
      case "cell_history" =>
        // one sea cell's one-day-ahead forecast across every generation date
        var (y, x) = (rnd.nextInt(NY), rnd.nextInt(NX))
        while (g.land(y, x)) { y = rnd.nextInt(NY); x = rnd.nextInt(NX) }
        new Read(kind, sql(
          s"SELECT datediff(f.date_forecast_generated, DATE'1970-01-01') AS day, " +
            s"f.sea_ice_concentration_mean FROM ${h}_forecast f JOIN ${h}_cell c " +
            s"ON f.cell_id = c.cell_id WHERE c.centroid_x = ${g.xm(x)} " +
            s"AND c.centroid_y = ${g.ym(y)} " +
            s"AND f.date_forecast_for = date_add(f.date_forecast_generated, 1) ORDER BY 1"),
          rows => {
            val want = wh.leads.keys.toSeq.sorted.filter(g.landed(_, 1, y, x))
              .map(d => (g.epochDay(d), g.mean(d, 1, y, x)))
            require(rows.toSeq.map(r => (r.getInt(0).toLong, r.getFloat(1))) == want,
              s"history of cell ($y,$x) differs from the grid")
          })
      case "extent" =>
        // daily count of cells above 15% over a week of generation dates
        val a = rnd.nextInt(Prior - 6)
        new Read(kind, sql(
          s"SELECT datediff(date_forecast_generated, DATE'1970-01-01') AS day, " +
            s"count(*) AS n FROM ${h}_forecast WHERE date_forecast_generated " +
            s"BETWEEN ${wh.day(a)} AND ${wh.day(a + 6)} " +
            s"AND sea_ice_concentration_mean > 0.15 GROUP BY date_forecast_generated"),
          rows => {
            val want = (a to a + 6).map { d =>
              var n = 0L
              for (l <- 1 to wh.leads(d); y <- 0 until NY; x <- 0 until NX)
                if (g.mean(d, l, y, x).toDouble > 0.15) n += 1
              g.epochDay(d) -> n
            }.filter(_._2 > 0).toMap
            require(rows.map(r => r.getInt(0).toLong -> r.getLong(1)).toMap == want,
              s"extent of dates $a..${a + 6} differs from the grid")
          })
      case "export" =>
        // the whole latest view, WKT ring included
        new Read(kind, sql(s"SELECT * FROM ${h}_forecast_latest"), rows => {
          val d = wh.maxDate
          val want = for (l <- 1 to wh.leads(d); y <- 0 until NY; x <- 0 until NX
            if g.landed(d, l, y, x)) yield g.mean(d, l, y, x).toDouble
          val ids = rows.map(_.getAs[Long]("forecast_id")).distinct.length
          val wkt = rows.count(r =>
            Option(r.getAs[String]("geom_4326")).exists(_.startsWith("POLYGON")))
          val s = rows.map(_.getAs[Float]("sea_ice_concentration_mean").toDouble).sum
          require(rows.length == want.size && ids == rows.length && wkt == rows.length &&
            close(s, want.sum), s"export of ${rows.length} rows differs from the grid")
        })
      case "meta" =>
        new Read(kind, sql(
          s"SELECT datediff(date_forecast_generated, DATE'1970-01-01') AS day, " +
            s"n_records FROM forecast_meta ORDER BY date_forecast_generated DESC LIMIT 10"),
          rows => {
            val want = wh.leads.keys.toSeq.sorted.reverse.take(10)
              .map(d => (g.epochDay(d), wh.expectedRows(d)))
            require(rows.toSeq.map(r => (r.getInt(0).toLong, r.getLong(1))) == want,
              "newest meta rows differ from the grid")
          })
      case "refresh" =>
        // what a reader runs after a drop: re-register the four views
        new Read(kind, () => { wh.pipe.registerSqlViews(); Array.empty[Row] }, _ => {
          val names = Seq(s"${h}_cell", s"${h}_forecast", s"${h}_forecast_latest",
            "forecast_meta")
          require(names.forall(wh.spark.catalog.tableExists), "views missing after refresh")
        })
    }
  }

  /** Whole-warehouse checks after the loop: the latest view holds exactly
    * the newest date's rows, and meta matches the grid for every date.
    */
  override def finalCheck(): Seq[String] = {
    val out = mutable.ArrayBuffer.empty[String]
    val d = wh.maxDate
    val view = wh.sql(s"SELECT count(*), count(DISTINCT date_forecast_generated), " +
      s"max(datediff(date_forecast_generated, DATE'1970-01-01')), " +
      s"sum(sea_ice_concentration_mean) FROM parquet.`${wh.pipe.latestPath}`").head()
    val facts = wh.sql(s"SELECT count(*), sum(sea_ice_concentration_mean) " +
      s"FROM parquet.`${wh.pipe.forecastPath}` " +
      s"WHERE date_forecast_generated = ${wh.day(d)}").head()
    if (view.getLong(0) != wh.expectedRows(d) || view.getLong(1) != 1L ||
        view.getInt(2).toLong != wh.grid.epochDay(d) || view.getLong(0) != facts.getLong(0) ||
        !close(view.getDouble(3), facts.getDouble(1)))
      out += s"latest view (${view.mkString(",")}) is not the rows of the newest date $d " +
        s"(${facts.mkString(",")}; ${wh.expectedRows(d)} expected)"
    val meta = wh.sql(s"SELECT datediff(date_forecast_generated, DATE'1970-01-01'), " +
      s"n_records FROM parquet.`${wh.pipe.metaPath}`").collect()
      .map(r => r.getInt(0).toLong -> r.getLong(1)).toMap
    if (meta != wh.leads.keys.map(d => wh.grid.epochDay(d) -> wh.expectedRows(d)).toMap)
      out += "meta rows differ from the grid's counts"
    out.toSeq
  }

  /** Medians over the traced ops of each kind; the write-path layers come
    * from new-date drops only (a re-delivery skips most of the chain).
    */
  def layerMetrics(t: Tracer, traced: Seq[(Op, OpResult)]): Map[String, Double] = {
    val ok = traced.filter(_._2.ok)
    def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Harness.median(xs)
    def secs(layer: String, r: OpResult) =
      t.layerSpans(layer).filter(_.request == r.request).map(_.seconds).sum
    def jobs(layer: String, r: OpResult) = t.jobs(r.request, layer).size.toDouble
    val drops = ok.collect { case (d: WarehouseWorkload#Drop, r) if r.kind == "file" => (d, r) }
    def perDrop(f: ((WarehouseWorkload#Drop, OpResult)) => Double) = med(drops.map(f))
    val stages = Seq("geometries", "forecasts", "latest", "meta")
    val reads = ok.map(_._2).filterNot(r => r.kind == "file" || r.kind == "redelivery")
    val readJobs = reads.map(r => r.kind -> t.jobs(r.request))
    val perKind = reads.groupBy(_.kind).map { case (k, rs) => s"read.${k}_s" -> med(rs.map(_.seconds)) }
    Map(
      "ingest.file_s" -> perDrop(_._2.seconds),
      "ingest.redelivery_s" -> med(ok.map(_._2).filter(_.kind == "redelivery").map(_.seconds)),
      "sources.decode_s" -> perDrop(x => secs("sources", x._2)),
      "sources.bytes_read" -> perDrop(_._1.bytesRead.toDouble),
      "sources.tasks" -> perDrop(x =>
        t.stages(t.jobs(x._2.request, "sources")).map(_.tasks).sum.toDouble),
      "ingest.load_s" -> perDrop(x => secs("ingest.load", x._2)),
      "ingest.load_jobs" -> perDrop(x => jobs("ingest.load", x._2)),
      "ingest.rows_landed" -> perDrop(_._1.landed.toDouble),
      "pipeline.jobs_per_file" -> perDrop(x =>
        ("ingest.load" +: stages.map("pipeline." + _)).map(jobs(_, x._2)).sum),
      "pipeline.quarantined_rows" -> traced.collect { case (d: WarehouseWorkload#Drop, _) => d.quarantined }.sum.toDouble,
      "tableops.bytes_written_per_file" -> perDrop(_._1.written._1.toDouble),
      "tableops.files_written_per_file" -> perDrop(_._1.written._2.toDouble),
      "read.refresh_jobs" -> med(readJobs.filter(_._1 == "refresh").map(_._2.size.toDouble)),
      "read.jobs_per_op" -> readJobs.map(_._2.size).sum.toDouble / math.max(1, reads.size),
      "read.tasks_per_op" ->
        readJobs.map(j => t.stages(j._2).map(_.tasks).sum).sum.toDouble / math.max(1, reads.size),
      "warehouse.bytes_per_row" -> wh.bytesPerRow()) ++ perKind ++
      stages.flatMap(s => Seq(
        s"pipeline.${s}_s" -> perDrop(x => secs(s"pipeline.$s", x._2)),
        s"pipeline.${s}_jobs" -> perDrop(x => jobs(s"pipeline.$s", x._2))))
  }
}
