package graft

/** The repo's fixed-point operators carry scaladoc numeric budgets that
  * assume past-budget arithmetic FAILS LOUDLY rather than wrapping or
  * nulling (r13 ADVICE medium, Recommend.scala:64 et al.). That guarantee
  * is ANSI mode: Spark 4 defaults `spark.sql.ansi.enabled=true`, and every
  * session builder in the repo now pins it explicitly. This spec is the
  * regression gate — if a future session builder (or a cluster-level
  * default) turns ANSI off, the budget comments become silently false and
  * this suite fails first.
  */
class AnsiContractSpec extends SparkSpec {

  test("shared test session runs with ANSI enabled") {
    assert(spark.conf.get("spark.sql.ansi.enabled") == "true")
  }

  test("long sum overflow fails loudly (budget-overrun contract)") {
    val e = intercept[Exception] {
      spark.sql("SELECT 9223372036854775807 + CAST(1 AS BIGINT)").collect()
    }
    assert(e.getClass.getName.contains("Arithmetic"),
      s"expected loud arithmetic failure, got ${e.getClass.getName}")
  }

  test("overflowing decimal-to-long cast fails loudly, not null") {
    val e = intercept[Exception] {
      spark.sql(
        "SELECT CAST(CAST('99999999999999999999999999999999999999' " +
        "AS DECIMAL(38,0)) AS BIGINT)").collect()
    }
    assert(e.getClass.getName.contains("Arithmetic"),
      s"expected loud arithmetic failure, got ${e.getClass.getName}")
  }

  test("every library/driver session builder pins ansi.enabled") {
    // Source-level gate: any SparkSession.builder() in main code must set
    // spark.sql.ansi.enabled explicitly (drift-proofing, not behavior).
    val root = java.nio.file.Paths.get("src/main/scala/graft")
    import scala.jdk.CollectionConverters._
    val offenders = java.nio.file.Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .map(p => p -> new String(java.nio.file.Files.readAllBytes(p)))
      .filter { case (_, src) => src.contains("SparkSession.builder") }
      .collect { case (p, src)
        if !src.contains("spark.sql.ansi.enabled") => p.toString }
      .toList
    assert(offenders.isEmpty,
      s"session builders missing explicit ansi.enabled pin: $offenders")
  }

  test("Tables.localSession is the only session builder in main code") {
    // One factory, so the session settings cannot drift between mains.
    val root = java.nio.file.Paths.get("src/main/scala")
    import scala.jdk.CollectionConverters._
    val builders = java.nio.file.Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .filter(p => new String(java.nio.file.Files.readAllBytes(p))
        .contains("SparkSession.builder"))
      .map(p => root.relativize(p).toString)
      .toList
    assert(builders == List("graft/Tables.scala"),
      s"SparkSession.builder outside Tables.localSession: $builders")
  }
}
