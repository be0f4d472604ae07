package graft.plans

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class VecDotSpec extends AnyFunSuite with graft.SharedSpark {

  test("vec_dot matches the interpreted HOF fold and the JVM left fold bit-for-bit") {
    GraftExtensions.register(spark)
    import spark.implicits._
    val r = new scala.util.Random(3)
    val rows = Seq.fill(200)((
      Array.fill(64)(r.nextDouble() * 2 - 1),
      Array.fill(64)(r.nextDouble() * 2 - 1)))
    val df = rows.toDF("a", "b")
    val got = df.select(call_function("vec_dot", $"a", $"b")).as[Double].collect().toSeq
    val hof = df.select(
      aggregate(zip_with($"a", $"b", (x, y) => x * y), lit(0.0), (acc, x) => acc + x))
      .as[Double].collect().toSeq
    val want = rows.map { case (a, b) =>
      var acc = 0.0
      var i = 0
      while (i < a.length) { acc += a(i) * b(i); i += 1 }
      acc
    }
    // exact double equality: same sequential accumulation order everywhere
    assert(got == want)
    assert(hof == got)
  }

  test("vec_dot is null-safe, SQL-callable, and takes the shorter prefix on length mismatch") {
    GraftExtensions.register(spark)
    import spark.implicits._
    val df = Seq(
      (Option(Array(1.0, 2.0)), Array(3.0, 4.0)),
      (Option.empty[Array[Double]], Array(1.0))).toDF("a", "b")
    val out = df.select(call_function("vec_dot", $"a", $"b")).collect()
    assert(out(0).getDouble(0) == 11.0)
    assert(out(1).isNullAt(0))
    val sql = spark.sql("SELECT vec_dot(array(1.0d, 2.0d, 9.0d), array(5.0d, 7.0d))")
      .collect()(0).getDouble(0)
    assert(sql == 19.0)
  }

  test("vec_dot fails loudly on a null array element instead of reading 0.0") {
    GraftExtensions.register(spark)
    // codegen path
    val ex = intercept[Exception] {
      spark.sql("SELECT vec_dot(array(1.0d, CAST(NULL AS DOUBLE)), array(3.0d, 4.0d))").collect()
    }
    def rootMsg(t: Throwable): String = {
      var c: Throwable = t
      while (c.getCause != null) c = c.getCause
      Option(c.getMessage).getOrElse("")
    }
    assert(rootMsg(ex).contains("null array element"))
    // interpreted (non-codegen) path: evaluate the expression directly
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.sql.types._
    val arrT = ArrayType(DoubleType, containsNull = true)
    val withNull = Literal.create(ArrayData.toArrayData(Array[Any](1.0, null)), arrT)
    val dense = Literal.create(ArrayData.toArrayData(Array[Any](3.0, 4.0)), arrT)
    val ex2 = intercept[IllegalArgumentException](VecDot(withNull, dense).eval(null))
    assert(ex2.getMessage.contains("null array element"))
    // non-nullable schema keeps working (branch-free loop path)
    assert(VecDot(
      Literal.create(ArrayData.toArrayData(Array(1.0, 2.0)), ArrayType(DoubleType, false)),
      Literal.create(ArrayData.toArrayData(Array(3.0, 4.0)), ArrayType(DoubleType, false)))
      .eval(null) == 11.0)
  }
}
