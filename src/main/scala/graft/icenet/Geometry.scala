package graft.icenet

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Grid-cell geometry construction — the Spark-first re-expression of the
  * reference's `update_geometries` stage (processor.py:192-266).
  *
  * The reference cross-joins the x/y centroid axes in nested Python loops
  * (processor.py:223-226), builds a shapely rectangle per cell
  * (processor.py:225-236), serializes to WKT, and lets PostGIS reproject
  * (`ST_Transform`, processor.py:252). Here: `crossJoin` of two tiny axis
  * DataFrames, a codegen'd `format_string` for the WKT ring (F1), and a
  * pure-Scala LAEA inverse ([[Laea]]) for the EPSG:4326 ring (F4).
  */
object Geometry {

  /** WKT 5-point closed rectangle ring around an integer centroid (F1;
    * reference processor.py:225-236). Pure `format_string` — stays inside
    * whole-stage codegen, no UDF.
    */
  def wktCellPolygon(cx: Column, cy: Column, halfX: Column, halfY: Column): Column =
    format_string(
      "POLYGON((%d %d, %d %d, %d %d, %d %d, %d %d))",
      (cx - halfX).cast("long"), (cy - halfY).cast("long"),
      (cx - halfX).cast("long"), (cy + halfY).cast("long"),
      (cx + halfX).cast("long"), (cy + halfY).cast("long"),
      (cx + halfX).cast("long"), (cy - halfY).cast("long"),
      (cx - halfX).cast("long"), (cy - halfY).cast("long"))

  /** Reproject a projected-meters cell rectangle to an EPSG:4326 WKT ring
    * (F4; reference delegates to `ST_Transform(geom, 4326)` at
    * processor.py:252). Vertex-wise LAEA inverse via the native codegen'd
    * [[graft.functions.Wkt4326Ring]] expression (the former UDF, promoted
    * per SURVEY §2.9); 6 decimal places (~0.1 m), typical WKT precision.
    */
  def wkt4326(north: Boolean)(cx: Column, cy: Column, hx: Column, hy: Column): Column =
    graft.functions.Wkt4326Ring.wkt4326(north)(cx, cy, hx, hy)

  /** Axis-length bound for [[axes]]: the EASE-Grid 2.0 axes are O(500)
    * values by contract (25 km pitch over a hemisphere, SURVEY §1.1); 16384
    * is ~30x headroom. Anything bigger is a mis-wired input (a fact table
    * where an axis belongs), and the unpartitioned id window in [[cellsOf]]
    * would single-task it — fail loudly instead, pointing at the scalable
    * path.
    */
  val MaxAxisLen: Long = 16384L

  /** One centroid axis as the cell builder needs it: `half` is half of the
    * mean step between sorted distinct values — the reference's
    * `mean_step_size/2` (utils.py:47-48, processor.py:218-219), i.e.
    * (max-min)/(n-1)/2 — and `n` is the distinct count [[MaxAxisLen]]
    * bounds.
    */
  final case class Axis(half: Double, n: Long)

  /** The distinct values of both centroid axes as `(is_x, v)` rows in one
    * partition: one exchange for both axes, however many rows feed them,
    * and no further exchange for [[axes]]' aggregate.
    */
  def axisValues(xAxis: DataFrame, yAxis: DataFrame): DataFrame =
    xAxis.select(lit(true).as("is_x"), col("centroid_x").as("v"))
      .union(yAxis.select(lit(false).as("is_x"), col("centroid_y").as("v")))
      .distinct().coalesce(1)

  /** Both axes from ONE scalar aggregate over [[axisValues]], failing on
    * axes longer than [[MaxAxisLen]] before anything is cross-joined.
    */
  def axes(values: DataFrame): (Axis, Axis) = {
    def stats(isX: Boolean) = {
      val v = when(col("is_x") === isX, col("v"))
      Seq((max(v) - min(v)) / (count(v) - 1) / 2.0, count(v))
    }
    val aggs = stats(isX = true) ++ stats(isX = false)
    val r = values.agg(aggs.head, aggs.tail: _*).head()
    val (x, y) = (Axis(r.getDouble(0), r.getLong(1)), Axis(r.getDouble(2), r.getLong(3)))
    require(x.n <= MaxAxisLen && y.n <= MaxAxisLen,
      s"grid axes have ${x.n} x ${y.n} distinct centroids; the contract is " +
        s"O(500) grid axes (max $MaxAxisLen). A data-sized table would " +
        "single-task the cell_id window — use GlobalRowNumber for scalable ids.")
    (x, y)
  }

  /** Every centroid pair of the grid: distinct x by distinct y (J3,
    * processor.py:223-226), from [[axisValues]].
    */
  def pairs(values: DataFrame): DataFrame =
    values.filter(col("is_x")).select(col("v").as("centroid_x"))
      .crossJoin(values.filter(!col("is_x")).select(col("v").as("centroid_y")))

  /** Cell rows for the centroid `pairs` (WKT rings + surrogate key), with
    * ring half-widths from the grid's axes. Ids continue a table whose
    * largest id is `maxId`: `maxId + row_number()` over the natural key
    * `(centroid_x, centroid_y)`, so existing cells keep theirs and new ones
    * never collide with them (the reference's `cell_id SERIAL PK`). The
    * window is one partition; callers bound `pairs` by the axis guard.
    */
  def cellsOf(pairs: DataFrame, x: Axis, y: Axis, north: Boolean, maxId: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hx = lit(math.round(x.half))
    val hy = lit(math.round(y.half))
    val geomCol = if (north) "geom_6931" else "geom_6932"
    pairs
      .withColumn(geomCol,
        wktCellPolygon(col("centroid_x"), col("centroid_y"), hx, hy))
      .withColumn("geom_4326",
        wkt4326(north)(col("centroid_x").cast("long"),
          col("centroid_y").cast("long"), hx.cast("long"), hy.cast("long")))
      .withColumn("cell_id", lit(maxId) +
        row_number().over(Window.orderBy("centroid_x", "centroid_y")).cast("long"))
      .select("cell_id", "centroid_x", "centroid_y", geomCol, "geom_4326")
  }
}
