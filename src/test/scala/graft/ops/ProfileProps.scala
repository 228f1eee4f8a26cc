package graft.ops

import org.scalacheck.{Gen, Prop, Properties}
import org.scalacheck.Prop.forAll

import graft.GraftSpark

/** Differential fuzz for the profile rework (r11: two-phase
  * fine-group + bitmap branches replaced the Expand-planning
  * countDistinct shape): every (n_rows, n_null, n_distinct, min, max)
  * must equal a naive driver-side recomputation on generated data
  * heavy in nulls, duplicates, and negative/extreme values. */
object ProfileProps extends Properties("Profile") with GraftSpark {

  private val genLong: Gen[Option[Long]] = Gen.frequency(
    3 -> Gen.const(None),
    5 -> Gen.chooseNum(-3L, 3L).map(Some(_)), // dup-heavy
    2 -> Gen.chooseNum(Long.MinValue / 4, Long.MaxValue / 4).map(Some(_)))

  private val genDouble: Gen[Option[Double]] = Gen.frequency(
    3 -> Gen.const(None),
    // + 0.0 canonicalizes -0.0: Spark's group/agg normalization and a
    // boxed-equality compare disagree about the two zeros
    5 -> Gen.chooseNum(-2.0, 2.0).map(d => Some(math.rint(d * 4) / 4 + 0.0)),
    1 -> Gen.oneOf(Some(-1e300), Some(1e300), Some(0.0)))

  private val genString: Gen[Option[String]] = Gen.frequency(
    2 -> Gen.const(None),
    6 -> Gen.oneOf("a", "b", "c").map(Some(_)),
    1 -> Gen.alphaNumStr.map(s => Some(s.take(8))))

  private val genRows: Gen[List[(Option[Long], Option[Double], Option[String])]] =
    Gen.chooseNum(0, 40).flatMap(n =>
      Gen.listOfN(n, Gen.zip(genLong, genDouble, genString)))

  property("matchesNaiveRecomputation") = forAll(genRows) { rows =>
    import spark.implicits._
    val df = rows.toDF("k", "v", "s")
    val got = Profile.profile(df, Seq("k", "v"), Seq("s")).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3),
          if (r.isNullAt(4)) None else Some(r.getDouble(4)),
          if (r.isNullAt(5)) None else Some(r.getDouble(5))))).toMap

    def naive[T](xs: List[Option[T]], mm: Boolean)(toD: T => Double) = {
      val nn = xs.flatten
      ((xs.size.toLong, (xs.size - nn.size).toLong, nn.distinct.size.toLong,
        if (mm && nn.nonEmpty) Some(nn.map(toD).min) else None,
        if (mm && nn.nonEmpty) Some(nn.map(toD).max) else None))
    }
    Prop.all(
      Prop(got("k") == naive(rows.map(_._1), mm = true)(_.toDouble)) :| "k",
      Prop(got("v") == naive(rows.map(_._2), mm = true)(identity)) :| "v",
      Prop(got("s") == naive(rows.map(_._3), mm = false)(_ => 0.0)) :| "s")
  }
}
