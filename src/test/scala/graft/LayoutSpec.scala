package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.Layout

/** Z-order key: the bit interleave on known cells, and the native
  * expression against its composed-expression witness. */
class LayoutSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("zValue interleaves bits (known cells) and orders like the curve") {
    import spark.implicits._
    val rows = Seq((0L, 0L), (1L, 0L), (0L, 1L), (1L, 1L), (255L, 255L))
      .toDF("x", "y")
      .select(Layout.zValue(col("x"), col("y"), 8).as("z"))
      .collect().map(_.getLong(0)).toSeq
    // x on odd bits, y on even: (1,0)→2, (0,1)→1, (1,1)→3, (255,255)→65535
    assert(rows === Seq(0L, 2L, 1L, 3L, 65535L))
  }

  test("native ZOrder64 expression equals the composed form on a full grid") {
    val grid = spark.range(0, 4096).select(
      (col("id") % 64).as("x"), (col("id") / 64).cast("long").as("y"))
    val diff = grid.select(
      Layout.zValue(col("x"), col("y"), 6).as("zn"),
      Layout.zValueComposed(col("x"), col("y"), 6).as("zc"))
      .filter(col("zn") =!= col("zc")).count()
    assert(diff === 0L)
  }
}
