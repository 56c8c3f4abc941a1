package graft

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{
  ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}

/** Loaders for the driver-generated parquet fixtures (see TESTDATA.md), and
  * the one parquet reader of the repo ([[parquet]]).
  *
  * Every query in [[SparkEntry.queries]] receives a scale-factor directory and
  * reads tables through here, so projection/predicate pushdown reaches the
  * parquet scan uniformly. At cluster scale these would be catalog tables
  * (`spark.read.table`), whose schema comes from the catalog; [[parquet]]
  * gets the same effect from one footer read on the driver, so no table
  * read costs a Spark job.
  */
object Tables {
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    parquet(spark, s"$dir/$name.parquet")

  /** `spark.read.parquet(path)` without the schema-inference job. Spark
    * infers a parquet schema by launching a one-task job that reads one
    * footer, even with `mergeSchema` off. Here the driver reads the footer
    * of the first data file under `path` itself, converts it with the calls
    * that task makes (`ParquetFileFormat.readSchemaFromFooter` and a
    * [[ParquetToSparkSchemaConverter]] over the session conf), and passes
    * the result as the read's data schema. Partition columns are still
    * discovered from the directory names, so column order and types come
    * out as with inference.
    *
    * There is no cache: every read reads the current footer, so a rewritten
    * table never shows a stale schema. A path with no data file falls
    * through to `spark.read.parquet`, which fails as it always has.
    */
  def parquet(spark: SparkSession, path: String): DataFrame = {
    val session = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val conf = session.sessionState.newHadoopConf()
    val p = new Path(path)
    firstDataFile(p.getFileSystem(conf), p) match {
      case None => spark.read.parquet(path)
      case Some(file) =>
        val footer = ParquetFooterReader.readFooter(
          HadoopInputFile.fromPath(file, conf), ParquetMetadataConverter.SKIP_ROW_GROUPS)
        val schema = ParquetFileFormat.readSchemaFromFooter(
          new Footer(file, footer),
          new ParquetToSparkSchemaConverter(session.sessionState.conf))
        spark.read.schema(schema).parquet(path)
    }
  }

  /** The first data file at or below `root`: names in sorted order, hidden
    * names (`_SUCCESS`, `.crc` files, `_commit` markers) skipped, partition
    * directories descended into. `None` when there is none, or no `root`.
    * Stops at the first hit, so it never walks a large table.
    */
  private def firstDataFile(fs: FileSystem, root: Path): Option[Path] = {
    def visible(s: FileStatus) =
      !s.getPath.getName.startsWith("_") && !s.getPath.getName.startsWith(".")
    def first(s: FileStatus): Option[Path] =
      if (s.isFile) Some(s.getPath)
      else fs.listStatus(s.getPath).filter(visible).sortBy(_.getPath.getName)
        .iterator.flatMap(first).nextOption()
    if (fs.exists(root)) first(fs.getFileStatus(root)) else None
  }

  /** `events.parquet` has stored `ts` as parquet TIMESTAMP(NANOS) in some
    * fixture generations (which Spark 4 rejects unless read as a raw long)
    * and TIMESTAMP(MICROS) in others. Normalize whatever is on disk to a
    * session-zoned micros TimestampType so downstream code sees one type:
    * nanos arrive as long (via `nanosAsLong`) and are rebuilt with integer
    * DIV — epoch-ns values (~1.7e18) exceed double's 2^53 integer range, so
    * floating division would be off by up to 1 us — while micros arrive as
    * TIMESTAMP_NTZ and cast losslessly under the UTC session zone.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    val raw = table(spark, dir, "events")
    raw.schema("ts").dataType match {
      case LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast(TimestampType))
      case _ => raw
    }
  }

  def region(s: SparkSession, d: String): DataFrame    = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = table(s, d, "lineitem")
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")

  /** The repo's one session factory: every main and the test suite build
    * their session here, so the settings cannot drift apart. `cores`
    * defaults to `SPARK_GRAFT_CPUS`, else the machine's processor count. On
    * a real cluster these settings come from spark-submit and this is not
    * used.
    */
  def localSession(
      cores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
        .getOrElse(Runtime.getRuntime.availableProcessors)): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // ANSI is the Spark 4 default; pinned so the repo's numeric-budget
      // overflows fail loudly even under cluster-level config drift.
      .config("spark.sql.ansi.enabled", "true")
      .getOrCreate()
    // ERROR, not WARN: benign per-query WARNs (e.g. AQE notices) multiplied
    // by hundreds of queries can alone overflow a driver's output tail.
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}
