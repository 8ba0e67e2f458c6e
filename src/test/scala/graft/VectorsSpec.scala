package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.{Vectors => V, VectorExpressions}

class VectorsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("native dot product matches HOF formulation and known values") {
    import spark.implicits._
    val df = Seq(
      (Array(1.0, 2.0, 3.0), Array(4.0, 5.0, 6.0)),
      (Array(0.0, 0.0), Array(1.0, 1.0)),
      (Array(1.5), Array(-2.0))).toDF("a", "b")
    val rows = df.select(
      V.dot(col("a"), col("b")).as("native"),
      V.dotHof(col("a"), col("b")).as("hof")).collect()
    assert(rows(0).getDouble(0) == 32.0)
    assert(rows(1).getDouble(0) == 0.0)
    assert(rows(2).getDouble(0) == -3.0)
    rows.foreach(r => assert(r.getDouble(0) == r.getDouble(1)))
  }

  test("cosine of identical / orthogonal vectors") {
    import spark.implicits._
    val df = Seq(
      (Array(1.0, 2.0), Array(1.0, 2.0)),
      (Array(1.0, 0.0), Array(0.0, 1.0))).toDF("a", "b")
    val rows = df.select(V.cosine(col("a"), col("b")).as("c")).collect()
    assert(math.abs(rows(0).getDouble(0) - 1.0) < 1e-12)
    assert(math.abs(rows(1).getDouble(0)) < 1e-12)
  }

  test("dot_product registered for SQL and null-safe") {
    VectorExpressions.register(spark)
    val r = spark.sql(
      "SELECT dot_product(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d, " +
      "dot_product(CAST(NULL AS ARRAY<DOUBLE>), array(1.0d)) AS n")
      .collect().head
    assert(r.getDouble(0) == 11.0)
    assert(r.isNullAt(1))
  }
}
