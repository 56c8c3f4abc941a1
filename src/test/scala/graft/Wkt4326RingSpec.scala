package graft

import org.apache.spark.sql.functions._
import graft.functions.Wkt4326Ring
import graft.icenet.{Geometry, Laea}

/** The promoted LAEA ring expression (ex-wkt4326Udf): value parity with the
  * geodesy reference, codegen execution, null safety, SQL registration, and
  * the grid-axis size guard ([[Geometry.axes]]) that the expression's
  * bounded-input contract rides on.
  */
class Wkt4326RingSpec extends SparkSpec {
  import spark.implicits._

  /** The old UDF's formula, kept as the test reference. */
  private def ringRef(cx: Long, cy: Long, hx: Long, hy: Long, north: Boolean) = {
    val corners = Seq(
      (cx - hx, cy - hy), (cx - hx, cy + hy),
      (cx + hx, cy + hy), (cx + hx, cy - hy), (cx - hx, cy - hy))
    corners.map { case (x, y) =>
      val (lon, lat) = Laea.inverse(x.toDouble, y.toDouble, north)
      String.format(java.util.Locale.ROOT, "%.6f %.6f",
        Double.box(lon), Double.box(lat))
    }.mkString("POLYGON((", ", ", "))")
  }

  private val cells = Seq(
    (-537500L, -537500L), (0L, 12500L), (262500L, -12500L))

  test("expression output matches the geodesy reference, both hemispheres") {
    Seq(true, false).foreach { north =>
      val got = cells.toDF("cx", "cy")
        .select(Geometry.wkt4326(north)(
          col("cx"), col("cy"), lit(12500L), lit(12500L)).as("wkt"))
        .as[String].collect().toSeq
      val want = cells.map { case (cx, cy) => ringRef(cx, cy, 12500L, 12500L, north) }
      assert(got == want)
    }
  }

  test("runs inside whole-stage codegen (no ScalaUDF / BatchEvalPython wall)") {
    // spark.range, not a local Seq: ConvertToLocalRelation would fold a
    // literal-backed projection at optimize time, leaving no codegen stage
    val df = spark.range(100)
      .select((col("id") * 25000L).as("cx"), (col("id") * -25000L).as("cy"))
      .select(Geometry.wkt4326(north = true)(
        col("cx"), col("cy"), lit(12500L), lit(12500L)).as("wkt"))
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("ScalaUDF"), plan)
    val codegen = org.apache.spark.sql.execution.debug.codegenString(
      df.queryExecution.executedPlan)
    assert(codegen.contains("graft.functions.Wkt4326Ring"),
      s"expected the expression inside generated code:\n$codegen")
  }

  test("null inputs yield null, not a crash") {
    val got = Seq((Option(0L), Option.empty[Long]))
      .toDF("cx", "cy")
      .select(Geometry.wkt4326(north = true)(
        col("cx"), col("cy"), lit(1L), lit(1L)).as("wkt"))
      .as[Option[String]].collect().toSeq
    assert(got == Seq(None))
  }

  test("SQL surface: graft_wkt4326 registered for spark.sql users") {
    graft.functions.VectorFunctions.register(spark)
    val got = spark.sql(
      "SELECT graft_wkt4326(0L, 12500L, 12500L, 12500L, true) AS wkt")
      .as[String].head()
    assert(got == ringRef(0L, 12500L, 12500L, 12500L, north = true))
  }

  test("buildCells fails loudly on data-sized axes (single-task window guard)") {
    val big = spark.range(Geometry.MaxAxisLen + 1)
      .select((col("id") * 25000L).cast("double").as("centroid_x"))
    val y = Seq(0.0, 25000.0).toDF("centroid_y")
    val e = intercept[IllegalArgumentException] {
      Geometry.axes(Geometry.axisValues(big, y))
    }
    assert(e.getMessage.contains("GlobalRowNumber"))
  }
}
