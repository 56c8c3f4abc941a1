package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, Literal}
import org.apache.spark.sql.graftbridge.ExtensionsBridge
import org.apache.spark.sql.types.{ArrayType, BooleanType, DoubleType, IntegerType, LongType}
import graft.functions.VectorFunctions

/** The engine's SQL functions: both entry points — session build time
  * (`spark.sql.extensions=graft.GraftExtensions`) and an existing session
  * (`VectorFunctions.register`) — register the one table in
  * `GraftExtensions.functions`, and its literal-argument checks fail loudly.
  */
class FunctionRegistrySpec extends SparkSpec {

  private val expected = Set(
    "graft_dot", "graft_l2norm", "graft_zorder", "graft_wkt4326", "graft_topk",
    "graft_kmv", "graft_kmv_merge", "graft_misra_gries", "graft_sample_k",
    "graft_bitmap", "graft_bitmap_merge", "graft_bitmap_card", "graft_bitmap_and_card",
    "graft_hll", "graft_hll_merge", "graft_hll_est", "graft_hll_zeros")

  private def graftNames(reg: FunctionRegistry): Set[String] =
    reg.listFunction().map(_.funcName).filter(_.startsWith("graft_")).toSet

  /** A builtin registry with the extension's functions added, as a session
    * built with `spark.sql.extensions=graft.GraftExtensions` gets it.
    */
  private def extensionRegistry(): FunctionRegistry = {
    val ext = new SparkSessionExtensions
    new GraftExtensions()(ext)
    ExtensionsBridge.registerFunctions(ext, FunctionRegistry.builtin.clone())
  }

  /** A fresh session's registry after `VectorFunctions.register`. */
  private def registeredSessionRegistry(): FunctionRegistry = {
    val session = spark.newSession()
    VectorFunctions.register(session)
    session.sessionState.functionRegistry
  }

  test("both entry points register exactly the table's 17 graft_* functions") {
    val table = GraftExtensions.functions.map(_._1)
    assert(table.size == 17 && table.toSet == expected)
    assert(graftNames(FunctionRegistry.builtin).isEmpty)
    assert(graftNames(extensionRegistry()) == expected)
    assert(graftNames(spark.newSession().sessionState.functionRegistry).isEmpty)
    assert(graftNames(registeredSessionRegistry()) == expected)
  }

  test("the builder-time path resolves the functions to the table's expression classes") {
    val reg = extensionRegistry()
    GraftExtensions.functions.foreach { case (name, cls, _) =>
      assert(reg.lookupFunction(FunctionIdentifier(name)).map(_.getClassName)
        .contains(cls.getName), name)
    }
    val v = AttributeReference("v", ArrayType(DoubleType))()
    assert(reg.lookupFunction(FunctionIdentifier("graft_dot"), Seq(v, v))
      .isInstanceOf[graft.functions.DotProduct])
  }

  test("a non-literal k or north fails naming the function and the argument") {
    val s = AttributeReference("s", DoubleType)()
    val id = AttributeReference("id", LongType)()
    val k = AttributeReference("k", IntegerType)()
    val d = AttributeReference("d", DoubleType)()
    val north = AttributeReference("north", BooleanType)()
    for (reg <- Seq(extensionRegistry(), registeredSessionRegistry())) {
      val topk = intercept[IllegalArgumentException] {
        reg.lookupFunction(FunctionIdentifier("graft_topk"), Seq(s, id, k))
      }
      assert(topk.getMessage.contains("graft_topk k must be an integer literal"))
      val ring = intercept[IllegalArgumentException] {
        reg.lookupFunction(FunctionIdentifier("graft_wkt4326"), Seq(d, d, d, d, north))
      }
      assert(ring.getMessage.contains("graft_wkt4326 north"))
      // the literal forms still build
      reg.lookupFunction(FunctionIdentifier("graft_topk"), Seq(s, id, Literal(3)))
      reg.lookupFunction(FunctionIdentifier("graft_wkt4326"),
        Seq(d, d, d, d, Literal(true)))
    }
  }
}
