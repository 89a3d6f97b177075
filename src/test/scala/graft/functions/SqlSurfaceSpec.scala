package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{col, expr, lit}
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** The native-expression surface: `column` must build the graft
  * functions with no session registry at all, and `dot_f32` built that
  * way must match Spark's own zip_with/aggregate formulation.
  */
class SqlSurfaceSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def dot(a: Column, b: Column) =
    GraftFunctions.column("dot_f32", a, b)

  test("column builds a table function without any registry; bad calls fail cleanly") {
    val fresh = spark.newSession() // nothing registered here
    val got = fresh.range(1)
      .select(GraftFunctions.column("fnv1a64", lit("graft"))).head().getLong(0)
    assert(got == Fnv1a64.hashString("graft"))
    val arity = intercept[IllegalArgumentException](
      GraftFunctions.column("dot_f32", lit(1)))
    assert(arity.getMessage.contains("dot_f32"))
    val unknown = intercept[IllegalArgumentException](
      GraftFunctions.column("no_such_fn", lit(1)))
    assert(unknown.getMessage.contains("no_such_fn"))
  }

  test("dot_f32 matches the zip_with/aggregate formulation bit-for-bit") {
    import spark.implicits._
    // irrational-ish values so summation order matters at the ULP level
    val rows = (0 until 50).map { i =>
      val a = Array.tabulate(64)(d => (math.sin(i * 131 + d) * 3.7).toFloat)
      val b = Array.tabulate(64)(d => (math.cos(i * 17 + d) * 2.3).toFloat)
      (i, a, b)
    }
    val df = rows.toDF("id", "a", "b")
    val got = df.select(col("id"), dot(col("a"), col("b")).as("d")).collect()
      .map(r => r.getInt(0) -> r.getDouble(1)).toMap
    val ref = df.selectExpr("id",
      """aggregate(zip_with(a, b, (x, y) -> cast(x as double) * cast(y as double)),
        |cast(0.0 as double), (acc, v) -> acc + v) AS d""".stripMargin)
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    rows.foreach { case (i, _, _) =>
      assert(java.lang.Double.doubleToLongBits(got(i)) ==
        java.lang.Double.doubleToLongBits(ref(i)), s"row $i")
    }
  }

  test("dot_f32 rejects length mismatch and propagates null") {
    import spark.implicits._
    val df = Seq((Array(1f, 2f), Array(1f, 2f, 3f))).toDF("a", "b")
    intercept[Exception] { df.select(dot(col("a"), col("b"))).collect() }
    val n = Seq((Some(Array(1f)), Option.empty[Array[Float]]))
      .toDF("a", "b").select(dot(col("a"), col("b")).as("d")).collect().head
    assert(n.isNullAt(0))
  }

  test("dot_f32 null elements poison like zip_with; double arrays accepted") {
    def one(a: String, b: String) =
      spark.range(1).select(dot(expr(a), expr(b)).as("d")).collect().head
    // null element anywhere -> NULL (the zip_with formulation's semantics)
    assert(one("array(1.0F, CAST(NULL AS FLOAT))", "array(2.0F, 3.0F)").isNullAt(0))
    // ARRAY<DOUBLE> inputs (and mixed float/double) compute correctly
    assert(one("array(1.0D, 2.0D)", "array(3.0D, 4.0D)").getDouble(0) == 11.0)
    assert(one("array(1.0F, 2.0F)", "array(3.0D, 4.0D)").getDouble(0) == 11.0)
    // wrong arity is a clean error, not IndexOutOfBounds
    val e = intercept[Exception] {
      spark.range(1).select(GraftFunctions.column("dot_f32", expr("array(1.0F)")))
        .collect()
    }
    assert(e.getMessage.contains("dot_f32"))
  }
}
