package graft.ops

import org.scalatest.funsuite.AnyFunSuite

import graft.GraftSpark

/** Pca: eigensolver on hand matrices, verdicts on a known-rank
  * synthetic corpus, exact-column order independence. */
class PcaSpec extends AnyFunSuite with GraftSpark {

  import spark.implicits._

  test("jacobiEigen recovers the spectrum of hand matrices") {
    val (vals, vecs) = Pca.jacobiEigen(
      Array(Array(2.0, 1.0), Array(1.0, 2.0)))
    val sorted = vals.sorted
    assert(math.abs(sorted(0) - 1.0) < 1e-12 && math.abs(sorted(1) - 3.0) < 1e-12)
    // eigenvector of lambda=3 is (1,1)/sqrt(2) up to sign
    val i3 = vals.indexWhere(v => math.abs(v - 3.0) < 1e-12)
    assert(math.abs(math.abs(vecs(0)(i3)) - math.sqrt(0.5)) < 1e-12)
    assert(math.abs(vecs(0)(i3) - vecs(1)(i3)) < 1e-12)
    // diagonal matrix: eigenvalues are the diagonal, basis unchanged
    val (dv, _) = Pca.jacobiEigen(
      Array.tabulate(4, 4)((i, j) => if (i == j) (i + 1).toDouble else 0.0))
    assert(dv.sorted.zip(Array(1.0, 2.0, 3.0, 4.0)).forall {
      case (a, b) => math.abs(a - b) < 1e-12
    })
  }

  // deterministic rank-2 corpus in dim 6: components along e0 (big)
  // and e1 (small) plus a constant mean offset on e2
  private def rank2Corpus(n: Int) = {
    (0 until n).map { i =>
      val a = math.sin(i * 0.7) * 10.0f
      val b = math.cos(i * 1.3) * 2.0f
      (i.toLong, Seq(a.toFloat, b.toFloat, 5.0f, 0.0f, 0.0f, 0.0f))
    }.toDF("vec_id", "embedding")
  }

  test("verified PCA: all verdicts green on a known-rank corpus, shape exact") {
    val r = Pca.pcaVerified(rank2Corpus(200), 3).collect()(0)
    assert(r.getLong(0) == 200L && r.getLong(1) == 6L && r.getLong(2) == 3L)
    assert(r.getLong(5) == 1L, "orth_ok")
    assert(r.getLong(6) == 1L, "eig_ok")
    assert(r.getLong(7) == 1L, "recon_ok — rank 2 < k means ~zero residual")
  }

  test("exact columns are partitioning/order independent") {
    val base = rank2Corpus(157)
    val a = Pca.pcaVerified(base.repartition(7), 2).collect()(0)
    val b = Pca.pcaVerified(base.repartition(1), 2).collect()(0)
    val c = Pca.pcaVerified(base.orderBy(org.apache.spark.sql.functions
      .col("vec_id").desc), 2).collect()(0)
    assert(a.getString(3) == b.getString(3) && b.getString(3) == c.getString(3))
    assert(a.getDouble(4) == b.getDouble(4) && b.getDouble(4) == c.getDouble(4))
  }

  test("guards: empty corpus and bad k fail loudly") {
    intercept[IllegalArgumentException] {
      Pca.pcaVerified(rank2Corpus(10), 7) // k > dim
    }
    intercept[Exception] {
      Pca.pcaVerified(rank2Corpus(0).filter("vec_id < 0"), 2)
    }
  }
}
