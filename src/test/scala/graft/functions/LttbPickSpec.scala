package graft.functions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.GraftSpark

/** lttb_pick — the flat-buffer argmax that replaced max(struct(k,-t,v))
  * in sampleByLttb: bit-equivalence to the struct form on random data
  * (including forced k-ties and duplicate-timestamp v-ties), merge-path
  * coverage across many partitions, null-skip totality, and the
  * literal-array vs broadcast-join path equivalence of the enclosing
  * operator. */
class LttbPickSpec extends AnyFunSuite with GraftSpark {

  import spark.implicits._

  test("equals max(struct(k,-t,v)) on random groups incl. forced ties") {
    val rnd = new scala.util.Random(7)
    // k drawn from a SMALL integer domain so k-ties are common; some
    // duplicate timestamps so the v tie-break fires too
    val rows = (1 to 5000).map { i =>
      val g = rnd.nextInt(40)
      val t = (rnd.nextInt(50) + 1).toLong // duplicates guaranteed
      val v = (rnd.nextInt(20) - 10).toDouble / 4.0
      val k = rnd.nextInt(6).toDouble
      (g, k, t, v)
    }
    val df = rows.toDF("g", "k", "t", "v").repartition(8)
    val viaPick = df.groupBy("g")
      .agg(call_function("lttb_pick", col("k"), col("t"), col("v")).as("sel"))
      .select(col("g"), col("sel.sel_ts"), col("sel.sel_value"),
        col("sel.n_points"))
      .collect().map(r => (r.getInt(0), (r.getLong(1), r.getDouble(2), r.getLong(3)))).toMap
    val viaStruct = df.groupBy("g")
      .agg(max(struct(col("k"), (-col("t")).as("nt"), col("v").as("v"))).as("sel"),
        count(lit(1)).as("n"))
      .select(col("g"), (-col("sel.nt")).as("sel_ts"), col("sel.v"), col("n"))
      .collect().map(r => (r.getInt(0), (r.getLong(1), r.getDouble(2), r.getLong(3)))).toMap
    assert(viaPick == viaStruct)
  }

  test("null inputs are skipped, not counted; all-null group is NULL") {
    val df = Seq[(Int, Option[Double], Option[Long], Option[Double])](
      (1, Some(5.0), Some(10L), Some(1.0)),
      (1, None, Some(11L), Some(9.0)),    // null k → skipped
      (1, Some(7.0), Some(12L), Some(2.0)),
      (2, None, None, None)               // all-null group
    ).toDF("g", "k", "t", "v")
    val got = df.groupBy("g")
      .agg(call_function("lttb_pick", col("k"), col("t"), col("v")).as("sel"))
      .collect().map(r => r.getInt(0) -> Option(r.getStruct(1))).toMap
    val g1 = got(1).get
    assert((g1.getLong(0), g1.getDouble(1), g1.getLong(2)) == ((12L, 2.0, 2L)))
    assert(got(2).isEmpty)
  }

  test("sampleByLttb literal-array and join fallback paths agree") {
    import graft.engine.SeriesOps
    // dense path: small span
    val pts = (1 to 400).map { i =>
      (i.toLong * 7 % 1000, (i % 13).toDouble - 6.0)
    }.toDF("timestamp", "value")
    val denseOut = SeriesOps.sampleByLttb(pts, 100L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    // fallback path: same points shifted so span/interval exceeds the
    // cap (one far outlier forces the dense axis over LttbGridCap)
    val far = SeriesOps.LttbGridCap.toLong * 100L * 2L
    val pts2 = pts.union(Seq((far, 0.5)).toDF("timestamp", "value"))
    val fb = SeriesOps.sampleByLttb(pts2, 100L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    // the shared windows select identically under both paths: the far
    // point only perturbs the previously-LAST window (it gains a next
    // anchor) and adds its own window
    val sharedDense = denseOut.filter(_._1 < 900L)
    val sharedFb = fb.filter(_._1 < 900L)
    assert(sharedDense == sharedFb)
    assert(fb.exists(_._1 > 900L))
  }
}
