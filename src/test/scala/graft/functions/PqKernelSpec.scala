package graft.functions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.GraftSpark

/** Differential lock for the fused PQ kernels (optimization r16):
  * PqCodes / PqAdcTables / IvfProbeCells must be BIT-IDENTICAL to the
  * composed-builtin formulation they replaced inside ivfPqTopK —
  * slice + normDec + greatest(centroidStructsOn) for assignment,
  * dotLit arrays for ADC, sort_array(desc).take(nProbe) for probes —
  * including the zero-norm/null-cosine edge semantics (null loses to
  * any value, ties to the smallest cid, all-null lands in the
  * smallest cid). The fixture plants a zero vector, a vector whose
  * FIRST SUBSPACE slice is all-zero (null sub-cosine with a live
  * coarse cosine), and exact duplicates (guaranteed cosine ties). */
class PqKernelSpec extends AnyFunSuite with GraftSpark {

  private val dim = 16
  private val nSub = 4
  private val subDim = dim / nSub

  // deterministic corpus with planted edge cases
  private lazy val emb = {
    val rnd = new scala.util.Random(7)
    val rows = (0 until 40).map { i =>
      val v = Array.fill(dim)(rnd.nextFloat() * 2 - 1)
      if (i == 11) java.util.Arrays.fill(v, 0.0f)          // zero vector
      if (i == 12) (0 until subDim).foreach(v(_) = 0.0f)   // zero subspace 0
      if (i == 13) { val c = rows0(5); System.arraycopy(c, 0, v, 0, dim) }
      (i.toLong, v)
    }
    spark.createDataFrame(rows).toDF("vec_id", "embedding")
  }
  // raw vectors for the duplicate plant above
  private lazy val rows0: Map[Int, Array[Float]] = {
    val rnd = new scala.util.Random(7)
    (0 until 40).map { i =>
      i -> Array.fill(dim)(rnd.nextFloat() * 2 - 1)
    }.toMap
  }

  // a small trained-book stand-in: centroids from the corpus itself,
  // including a ZERO centroid (cn == 0 → null cosine in every row)
  private lazy val coarse: Seq[(Long, Array[Double])] = Seq(
    0L -> rows0(0).map(_.toDouble),
    1L -> rows0(3).map(_.toDouble),
    2L -> Array.fill(dim)(0.0),
    3L -> rows0(9).map(_.toDouble))
  private lazy val subs: Seq[Seq[(Long, Array[Double])]] =
    (0 until nSub).map { m =>
      Seq(
        0L -> rows0(1).slice(m * subDim, (m + 1) * subDim).map(_.toDouble),
        1L -> rows0(4).slice(m * subDim, (m + 1) * subDim).map(_.toDouble),
        2L -> rows0(8).slice(m * subDim, (m + 1) * subDim).map(_.toDouble))
    }

  /** The composed-builtin reference: exactly the pre-r16 ivfPqTopK
    * column chain. */
  private def composedRef() = {
    import graft.ops.Similarity.normDec
    def dotLit(embCol: String, v: Array[Double]) =
      call_function("dot_dec", col(embCol), typedLit(v))
    def centroidStructsOn(embCol: String, nrmCol: String,
        cents: Seq[(Long, Array[Double])]) =
      array(cents.map { case (cid, ce) =>
        val cn = math.sqrt(VecCodec.dotDecConst(ce, ce))
        val cs =
          if (cn == 0.0) lit(null).cast("double")
          else when(col(nrmCol) =!= 0.0,
            round(dotLit(embCol, ce) / (lit(cn) * col(nrmCol)), 4))
        struct(cs.as("cs"), lit(-cid).as("ncid"))
      }: _*)
    val base = emb.withColumn("nrm", normDec("embedding"))
    val centStructs = centroidStructsOn("embedding", "nrm", coarse)
    var coded = base.withColumn("cell",
      -greatest(coarse.indices.map(i => centStructs.getItem(i)): _*).getField("ncid"))
    for (m <- 0 until nSub) {
      coded = coded
        .withColumn(s"pe$m", slice(col("embedding"), m * subDim + 1, subDim))
        .withColumn(s"pn$m", normDec(s"pe$m"))
      val ss = centroidStructsOn(s"pe$m", s"pn$m", subs(m))
      coded = coded.withColumn(s"code$m",
        -greatest(subs(m).indices.map(i => ss.getItem(i)): _*).getField("ncid"))
    }
    val sortedCents = sort_array(centStructs, asc = false)
    coded = coded.withColumn("probe_cells",
      array((0 until 3).map(i =>
        -sortedCents.getItem(i).getField("ncid")): _*))
    for (m <- 0 until nSub)
      coded = coded.withColumn(s"adc$m",
        array(subs(m).map { case (_, ce) => dotLit(s"pe$m", ce) }: _*))
    coded
  }

  test("PqCodes ≡ greatest(centroidStructs) chain, all rows incl. zero-norm plants") {
    val ref = composedRef()
      .select(col("vec_id"), col("cell"),
        array((0 until nSub).map(m => col(s"code$m")): _*).as("codes"))
      .collect().map(r => (r.getLong(0),
        (r.getLong(1), r.getSeq[Long](2).toSeq))).toMap
    val got = emb.select(col("vec_id"),
        PqKernel.codes(col("embedding"), coarse, subs).as("pqa"))
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1).toSeq)).toMap
    assert(got.keySet == ref.keySet)
    got.foreach { case (id, pqa) =>
      assert(pqa.head == ref(id)._1, s"cell mismatch for vec $id")
      assert(pqa.tail == ref(id)._2, s"codes mismatch for vec $id")
    }
  }

  test("PqAdcTables ≡ dotLit arrays, bit-for-bit") {
    def tables(r: org.apache.spark.sql.Row): Seq[Seq[Double]] =
      r.getSeq[Any](1).toSeq.map(
        _.asInstanceOf[scala.collection.Seq[Double]].toSeq)
    val ref = composedRef()
      .select(col("vec_id"),
        array((0 until nSub).map(m => col(s"adc$m")): _*).as("adcs"))
      .collect().map(r => (r.getLong(0), tables(r))).toMap
    val got = emb.select(col("vec_id"),
        PqKernel.adcTables(col("embedding"), subs).as("adcs"))
      .collect().map(r => (r.getLong(0), tables(r))).toMap
    assert(got == ref) // exact doubles: same decimal accumulation
  }

  test("IvfProbeCells ≡ sort_array(desc).take(nProbe), null cells last, cid ties asc") {
    val ref = composedRef()
      .select(col("vec_id"), col("probe_cells"))
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1).toSeq)).toMap
    val got = emb.select(col("vec_id"),
        PqKernel.probeCells(col("embedding"), coarse, 3).as("pc"))
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1).toSeq)).toMap
    assert(got == ref)
  }
}
