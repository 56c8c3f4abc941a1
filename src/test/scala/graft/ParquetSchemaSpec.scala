package graft

import java.sql.Timestamp
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import graft.icenet._

/** [[Tables.parquet]] resolves a parquet schema on the driver: it must give
  * exactly the schema Spark's inference gives for the same path, partition
  * columns included, while building the read launches no Spark job.
  */
class ParquetSchemaSpec extends SparkSpec {
  import spark.implicits._

  private val fixtures = "/root/testdata/sf0.001"

  /** Asserts the resolver's schema for `read` equals `inferred`'s, and that
    * `read` launched no job while `inferred` launched at least one (so the
    * counter is seen to count).
    */
  private def assertResolved(what: String, read: => DataFrame, inferred: => DataFrame): Unit = {
    val (viaFooter, footerJobs) = jobsOf(read.schema)
    val (viaInference, inferenceJobs) = jobsOf(inferred.schema)
    assert(viaFooter == viaInference, s"$what: $viaFooter vs $viaInference")
    assert(footerJobs == 0, s"$what: building the read launched $footerJobs jobs")
    assert(inferenceJobs >= 1, s"$what: inference launched no job to compare with")
  }

  private def rawFile(gen: String): DataFrame = {
    val t = Timestamp.valueOf(s"$gen 00:00:00")
    (for (xi <- 1 to 3; yi <- 1 to 3; lt <- 1 to 2)
      yield (t, lt, xi * 25.0, yi * 25.0, 80.0 + xi, 10.0 * yi,
        0.1 * xi + 0.01 * yi, 0.01))
      .toDF("time", "leadtime", "xc", "yc", "lat", "lon", "sic_mean", "sic_stddev")
  }

  private def fs = new Path("/").getFileSystem(spark.sparkContext.hadoopConfiguration)

  test("the four warehouse tables after an ingest, partitioned facts included") {
    val p = new Pipeline(spark, tmpDir("wh"), North)
    p.ingest(rawFile("2020-06-01"))
    p.ingest(rawFile("2020-06-02"))
    for (path <- Seq(p.cellPath, p.forecastPath, p.latestPath, p.metaPath))
      assertResolved(path, TableOps.read(spark, path), spark.read.parquet(path))
    val facts = TableOps.read(spark, p.forecastPath).schema
    assert(facts.fieldNames.last == "date_forecast_generated", facts)
  }

  test("a table read through .old after a crashed replace") {
    val path = tmpDir("to") + "/t"
    TableOps.insertIgnore(spark, path, Seq((1, "a"), (2, "b")).toDF("k", "v"), Seq("k"))
    fs.rename(new Path(path), new Path(path + ".old")) // crash between the renames
    assertResolved(".old", TableOps.read(spark, path), spark.read.parquet(path + ".old"))
    assert(TableOps.read(spark, path).count() == 2)
  }

  test("Tables.events and two other fixture tables") {
    val (events, jobs) = jobsOf(Tables.events(spark, fixtures).schema)
    assert(jobs == 0, s"Tables.events launched $jobs jobs")
    assert(events("ts").dataType == org.apache.spark.sql.types.TimestampType, events)
    for (name <- Seq("events", "lineitem", "orders"))
      assertResolved(name, Tables.table(spark, fixtures, name),
        spark.read.parquet(s"$fixtures/$name.parquet"))
  }

  test("a path with no data file fails the way spark.read.parquet fails") {
    val empty = tmpDir("empty")
    fs.create(new Path(empty, "_SUCCESS")).close()
    fs.mkdirs(new Path(empty, "d=2020-01-01"))
    for (path <- Seq(empty, empty + "/no_such_table")) {
      val viaFooter = intercept[Exception](Tables.parquet(spark, path))
      val viaInference = intercept[Exception](spark.read.parquet(path))
      assert(viaFooter.getClass == viaInference.getClass, path)
      assert(viaFooter.getMessage == viaInference.getMessage, path)
    }
  }
}
