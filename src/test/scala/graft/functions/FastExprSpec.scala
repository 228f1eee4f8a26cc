package graft.functions

import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

import graft.GraftSpark

/** Parity locks for the r11 native hot-path expressions:
  * h60_long must be bit-identical to the composed
  * conv(substring(md5(x),1,15),16,10) chain it replaced (every
  * hash-split gate depends on the VALUES), and json_long must agree
  * with get_json_object on integer sidecar fields across generated
  * JSON shapes (plus its documented NULL contract on the rest). */
class FastExprSpec extends AnyFunSuite with GraftSpark {

  test("h60_long == legacy conv/substring/md5 chain == h60Scala, 2000 random strings") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val strs = (0 until 2000).map { i =>
      val n = rnd.nextInt(40)
      val core = (0 until n).map(_ => rnd.nextPrintableChar()).mkString
      if (i % 7 == 0) core + "é中" else core // multi-byte tails
    } :+ "" :+ "sample:123" :+ "incr:0"
    val df = strs.toDF("s")
      .select(col("s"), expr("h60_long(s)").as("fast"),
        conv(substring(md5(col("s")), 1, 15), 16, 10).cast("long").as("legacy"))
      .collect()
    df.foreach { r =>
      assert(r.getLong(1) == r.getLong(2), s"mismatch on '${r.getString(0)}'")
      assert(r.getLong(1) == graft.ops.TextFns.h60Scala(r.getString(0)))
    }
  }

  test("json_long == get_json_object-as-long on integer fields, generated objects") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    def randomJson(i: Int): String = {
      // mixed-shape flat-ish objects: the target key "k" holds an
      // integer at a random position among noise fields of every type
      val noise = Seq(
        s""""s": "va\\"l${rnd.nextInt(9)}"""",
        s""""f": ${rnd.nextInt(100)}.5""",
        """"b": true""",
        """"z": null""",
        s""""o": {"nested": [1, 2, {"k": 999}]}""",
        s""""a": [${rnd.nextInt(9)}, "x,y}"]""")
      val target = s""""k": ${rnd.nextInt(2000000) - 1000000}"""
      val fields = rnd.shuffle(noise.take(rnd.nextInt(6)) :+ target)
      val ws = if (i % 3 == 0) " \n\t" else ""
      fields.mkString("{" + ws, s",$ws", ws + "}")
    }
    val rows = (0 until 500).map(randomJson) ++ Seq(
      """{"k": 42}""", """{ "k" : -7 }""", """{"a": 1, "k": 0}""",
      """{"notk": 5}""", """{}""", """not json""", """[1,2]""",
      """{"k": 1.5}""", """{"k": true}""",
      """{"kk": 3, "k": 9}""")
    val got = rows.toDF("j")
      .select(col("j"), expr("json_long(j, 'k')").as("fast"),
        get_json_object(col("j"), "$.k").as("ref"))
      .collect()
    got.foreach { r =>
      val fast = if (r.isNullAt(1)) None else Some(r.getLong(1))
      val ref = Option(r.getString(2)).flatMap(_.toLongOption)
      // contract: wherever the reference extraction IS an integer
      // TOKEN, the fast path must agree; where it is not (float/bool),
      // the fast path returns NULL by documented design
      assert(fast == ref, s"on ${r.getString(0)}: fast=$fast ref=${r.getString(2)}")
    }
    // documented divergence: a QUOTED number is a string value — the
    // reference stringifies it ("12" parses as a long downstream), the
    // fast path's integer-token contract says NULL
    assert(JsonLongCodec.extract(UTF8String.fromString("""{"k": "12"}"""),
      UTF8String.fromString("k")) == null)
  }

  test("json_long nested/escape/overflow corners") {
    val f: (String, String) => Option[Long] = (j, k) =>
      Option(JsonLongCodec.extract(UTF8String.fromString(j),
        UTF8String.fromString(k))).map(_.longValue())
    // nested same-name key must NOT match top-level lookup
    assert(f("""{"o": {"k": 5}, "k": 6}""", "k") == Some(6L))
    assert(f("""{"o": {"k": 5}}""", "k") == None)
    // escaped quote and backslash inside skipped strings
    assert(f("""{"s": "a\"b,}", "k": 3}""", "k") == Some(3L))
    assert(f("""{"s": "a\\", "k": 4}""", "k") == Some(4L))
    // arrays with braces in strings
    assert(f("""{"a": ["}", "{"], "k": 5}""", "k") == Some(5L))
    // overflow → NULL, max long ok
    assert(f(s"""{"k": ${Long.MaxValue}}""", "k") == Some(Long.MaxValue))
    assert(f("""{"k": 9223372036854775808}""", "k") == None)
    // FULL int64 domain: Long.MinValue is in-range (its magnitude
    // exceeds Long.MaxValue — the negative-accumulation path), one
    // past it overflows → NULL
    assert(f(s"""{"k": ${Long.MinValue}}""", "k") == Some(Long.MinValue))
    assert(f("""{"k": -9223372036854775809}""", "k") == None)
    // trailing garbage after the number → malformed → NULL
    assert(f("""{"k": 12x}""", "k") == None)
    // first occurrence wins on duplicates
    assert(f("""{"k": 1, "k": 2}""", "k") == Some(1L))
  }
}
