package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Morton-curve layout: column expression ≡ reference implementation, box
  * reads are layout-invariant, and the z-range pre-filter reaches the
  * parquet scan. */
class ZOrderSpec extends SparkSpec {
  import spark.implicits._

  test("zValue2 column matches the reference implementation") {
    val bits = 9
    val grid = for {
      a <- Seq(0L, 1L, 2L, 7L, 255L, 256L, 511L)
      b <- Seq(0L, 1L, 3L, 8L, 100L, 511L)
    } yield (a, b)
    val got = grid.toDF("a", "b")
      .select(col("a"), col("b"), ZOrder.zValue2(col("a"), col("b"), bits).as("z"))
      .as[(Long, Long, Long)].collect()
    got.foreach { case (a, b, z) =>
      assert(z == ZOrder.zValue2Long(a, b, bits), s"z($a,$b)")
    }
    // interleave really separates: z is monotone in each coordinate
    assert(ZOrder.zValue2Long(3, 0, bits) < ZOrder.zValue2Long(4, 0, bits))
    assert(ZOrder.zValue2Long(0, 3, bits) < ZOrder.zValue2Long(0, 4, bits))
  }

  test("box read over the z-ordered layout equals the direct filter") {
    val df = (0L until 2000L)
      .map(i => (i, (i * 131) % 512, (i * 17) % 512))
      .toDF("id", "a", "b")
    val dir = graft.TempDirs.create("zorder_spec").toString
    ZOrder.writeZOrdered(df, col("a"), col("b"), bits = 9,
      numFiles = 8, s"$dir/z")
    val got = ZOrder.readBox(spark, s"$dir/z", "a", "b", bits = 9,
      aLo = 100, aHi = 200, bLo = 50, bHi = 300)
      .select("id").as[Long].collect().toSet
    val want = df.where(col("a").between(100, 200) && col("b").between(50, 300))
      .select("id").as[Long].collect().toSet
    assert(got == want && want.nonEmpty)
  }

  test("z-range pre-filter is pushed to the parquet scan") {
    val df = (0L until 500L).map(i => (i, i % 32, (i * 3) % 32))
      .toDF("id", "a", "b")
    val dir = graft.TempDirs.create("zorder_push").toString
    ZOrder.writeZOrdered(df, col("a"), col("b"), bits = 5,
      numFiles = 4, s"$dir/z")
    val plan = ZOrder.readBox(spark, s"$dir/z", "a", "b", bits = 5,
      aLo = 4, aHi = 9, bLo = 4, bHi = 9)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") &&
      plan.contains("GreaterThanOrEqual(zkey"), plan)
  }
}
