package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.GraftSpark

/** The linear-probe trainer: learnability on a separable synthetic
  * corpus, determinism (bit-identical weights across runs and
  * partitionings — the order-independence the integer gradient sums
  * exist for), the band-structure signs on a Gopher-like fixture, and
  * totality requirements. */
class ProbeSpec extends AnyFunSuite with GraftSpark {

  import spark.implicits._

  /** Synthetic Gopher-metric corpus: keep ⟺ (enough words AND low
    * repetition) — a band conjunction is not perfectly linearly
    * separable, but 32 rounds must land well above the majority
    * class (measured 0.83 vs 0.69). */
  private def corpus(n: Int) = {
    val rnd = new scala.util.Random(5)
    (1 to n).map { _ =>
      val words = 10 + rnd.nextInt(120)
      val dup2 = rnd.nextInt(1500)
      val top = rnd.nextInt(2500)
      val keep = if (words >= 40 && dup2 <= 900 && top <= 1800) 1L else 0L
      (words.toLong, 45000L, dup2.toLong, rnd.nextInt(300).toLong, top.toLong, keep)
    }.toDF("n_words", "mean_word_len_bp", "dup_2gram_bp",
      "dup_3gram_bp", "top_word_bp", "keep")
  }

  test("learns a separable band rule well above the majority class") {
    val df = corpus(3000)
    val out = Probe.trainQualityProbe(df).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val (_, nCorrect, n) = out("bias")
    val keepRate = df.agg(avg("keep")).collect()(0).getDouble(0)
    val majority = math.max(keepRate, 1 - keepRate)
    assert(nCorrect.toDouble / n > 0.80, s"acc=${nCorrect.toDouble / n}")
    assert(nCorrect.toDouble / n > majority + 0.05)
    // band structure: words-above-minimum helps, repetition hurts
    assert(out("f_words")._1 > 0)
    assert(out("f_dup2")._1 < 0)
    assert(out("f_top")._1 < 0)
  }

  test("weights are bit-identical across runs and partitionings") {
    val df = corpus(1000)
    def weights(parts: Int) =
      Probe.trainQualityProbe(df.repartition(parts)).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
    val a = weights(1)
    val b = weights(7)
    val c = weights(8)
    assert(a == b && b == c)
  }

  test("holdout scoring: trains on the slice, generalizes to unseen docs") {
    val rnd0 = new scala.util.Random(5)
    val df = (1 to 3000).map { i =>
      val words = 10 + rnd0.nextInt(120)
      val dup2 = rnd0.nextInt(1500)
      val top = rnd0.nextInt(2500)
      val keep = if (words >= 40 && dup2 <= 900 && top <= 1800) 1L else 0L
      (i.toLong, words.toLong, 45000L, dup2.toLong,
        rnd0.nextInt(300).toLong, top.toLong, keep)
    }.toDF("doc_id", "n_words", "mean_word_len_bp", "dup_2gram_bp",
      "dup_3gram_bp", "top_word_bp", "keep")
    val rows = Probe.scoreHoldoutProbe(df, "doc_id % 2 = 0").collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(rows.length == 3000)
    // the flag reflects the predicate exactly
    assert(rows.forall { case (id, _, _, isTrain) =>
      isTrain == (if (id % 2 == 0) 1L else 0L) })
    // held-out accuracy beats the majority class: the probe learned
    // band structure from the train half, not the held-out labels
    val held = rows.filter(_._4 == 0L)
    val acc = held.count { case (_, pk, k, _) => pk == k }.toDouble / held.length
    val keepRate = held.count(_._3 == 1L).toDouble / held.length
    assert(acc > math.max(keepRate, 1 - keepRate) + 0.05, s"heldout acc=$acc")
    // deterministic across partitionings
    val again = Probe.scoreHoldoutProbe(df.repartition(7), "doc_id % 2 = 0")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val first = rows.map(r => r._1).zip(
      Probe.scoreHoldoutProbe(df, "doc_id % 2 = 0").collect().map(_.getLong(1))).toMap
    assert(again == first)
  }

  test("every feature is clamped to [-1, 1] even for zero-word documents") {
    // n_words=0 forces mean_word_len_bp=0; without the lower clamp f_mwl
    // would be (0-65000)/55000 < -1, the quantized gradient could go
    // negative, and Spark's truncating `div` would diverge from DuckDB's
    // flooring `//` — breaking cross-engine weight parity.
    val degenerate = Seq((0L, 0L, 0L, 0L, 0L, 0L), (150L, 120000L, 2000L, 400L, 3000L, 1L))
      .toDF("n_words", "mean_word_len_bp", "dup_2gram_bp",
        "dup_3gram_bp", "top_word_bp", "keep")
    val feats = degenerate.selectExpr(
      Probe.FEATURES.map { case (n, t) => s"$t AS $n" }: _*).collect()
    for (r <- feats; j <- 0 until r.length) {
      val v = r.getDouble(j)
      assert(v >= -1.0 && v <= 1.0, s"${Probe.FEATURES(j)._1} = $v out of [-1,1]")
    }
    // and training over a corpus containing such docs stays engine-stable
    val mixed = corpus(200).union(degenerate)
    val w1 = Probe.trainQualityProbe(mixed.repartition(1), iters = 4).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val w2 = Probe.trainQualityProbe(mixed.repartition(7), iters = 4).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(w1 == w2)
  }

  test("empty corpus fails loudly; zero rounds returns the zero model") {
    intercept[IllegalArgumentException] {
      Probe.trainQualityProbe(corpus(10).limit(0))
    }
    val out = Probe.trainQualityProbe(corpus(50), iters = 0).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out.values.forall(_ == 0L))
  }
}
