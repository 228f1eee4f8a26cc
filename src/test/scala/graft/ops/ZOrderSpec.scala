package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.GraftSpark

/** ZOrder: interleave arithmetic vs a bit-twiddling reference,
  * SQL-rendering parity, and the MEASURED locality claim — z-clustered
  * partitions bound both dimensions tightly where a single-column
  * range layout bounds only the sorted one. */
class ZOrderSpec extends AnyFunSuite with GraftSpark {

  import spark.implicits._

  /** Reference Morton encoding, one bit at a time. */
  private def morton(xs: Seq[Long], bits: Int): Long = {
    val d = xs.size
    var z = 0L
    for (j <- xs.indices; i <- 0 until bits)
      z |= ((xs(j) >> i) & 1L) << (i * d + j)
    z
  }

  test("interleave matches the reference encoding (2 and 3 columns)") {
    val rnd = new scala.util.Random(7)
    val rows = Seq.fill(200)((rnd.nextInt(65536).toLong,
      rnd.nextInt(65536).toLong, rnd.nextInt(1024).toLong)) ++
      Seq((0L, 0L, 0L), (65535L, 65535L, 1023L), (1L, 0L, 0L), (0L, 1L, 0L))
    val df = rows.toDF("x", "y", "w")
    val got2 = df.withColumn("z",
        ZOrder.interleave(Seq(col("x"), col("y")), 16))
      .select("x", "y", "z").as[(Long, Long, Long)].collect()
    got2.foreach { case (x, y, z) =>
      assert(z == morton(Seq(x, y), 16), s"2-col mismatch at ($x,$y)")
    }
    val got3 = df.withColumn("z",
        ZOrder.interleave(Seq(col("x"), col("y"), col("w")), 10))
      .select("x", "y", "w", "z").as[(Long, Long, Long, Long)].collect()
    got3.foreach { case (x, y, w, z) =>
      assert(z == morton(Seq(x % 1024, y % 1024, w), 10) ||
        // inputs above 2^bits: interleave only reads the low bits
        z == morton(Seq(x & 1023, y & 1023, w), 10))
    }
  }

  test("interleaveSql renders the identical function (Spark-evaluated)") {
    val rnd = new scala.util.Random(11)
    val df = Seq.fill(100)((rnd.nextInt(65536).toLong, rnd.nextInt(65536).toLong))
      .toDF("ox", "oy")
    val bad = df
      .withColumn("z_col", ZOrder.interleave(Seq(col("ox"), col("oy")), 16))
      .withColumn("z_sql", expr(ZOrder.interleaveSql(Seq("ox", "oy"), 16)))
      .filter(col("z_col") =!= col("z_sql")).count()
    assert(bad == 0)
  }

  test("z-clustering bounds BOTH dimensions; x-only range layout does not") {
    // 64x64 grid, one row per cell; 16 partitions of 256 rows each
    val grid = (for (x <- 0 until 64; y <- 0 until 64)
      yield (x.toLong, y.toLong)).toDF("x", "y")
    def maxYSpread(df: org.apache.spark.sql.DataFrame): Long = df
      .withColumn("pid", spark_partition_id())
      .groupBy("pid").agg((max("y") - min("y")).as("spread"))
      .agg(max("spread")).head().getLong(0)
    val zClustered = ZOrder.cluster(
      grid, ZOrder.interleave(Seq(col("x"), col("y")), 6), 16)
    val xClustered = grid.repartitionByRange(16, col("x"))
    // x-layout partitions span (nearly) the full y range; z-layout
    // partitions cover a quadrant-sized y window (16 = 4x4 blocks of
    // the z-curve → y spread 15 in the ideal split; driver sampling
    // can off-by-a-row the range bounds, hence the slack to 31)
    assert(maxYSpread(xClustered) >= 60, "x layout should not bound y")
    assert(maxYSpread(zClustered) <= 31,
      "z layout must bound y within a block")
  }

  test("cluster keeps rows intact and sorts by z within partitions") {
    val grid = (for (x <- 0 until 32; y <- 0 until 32)
      yield (x.toLong, y.toLong)).toDF("x", "y")
    val zc = ZOrder.cluster(grid, ZOrder.interleave(Seq(col("x"), col("y")), 5), 8)
    assert(zc.count() == 1024)
    assert(zc.columns.toSeq == Seq("x", "y")) // helper column dropped
    // within each partition the z sequence is nondecreasing
    val unsorted = zc
      .withColumn("z", ZOrder.interleave(Seq(col("x"), col("y")), 5))
      .withColumn("pid", spark_partition_id())
      .withColumn("prev", lag("z", 1).over(
        org.apache.spark.sql.expressions.Window.partitionBy("pid").orderBy(monotonically_increasing_id())))
      .filter(col("prev").isNotNull && col("prev") > col("z"))
    assert(unsorted.count() == 0)
  }

  test("guards: column count and bit budget") {
    intercept[IllegalArgumentException](ZOrder.interleave(Seq(col("x")), 16))
    intercept[IllegalArgumentException](
      ZOrder.interleave(Seq(col("x"), col("y")), 32))
  }
}
