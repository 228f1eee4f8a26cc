package tsbench

import org.scalatest.funsuite.AnyFunSuite

import graft.protocol.{Wire, WireResponse}
import graft.tsql.{Parser, Statement, TimeExpr}

class HarnessSpec extends AnyFunSuite {

  private def statements(seed: Long, n: Int): Seq[Stmt] = {
    val series = Gen.series(seed, 2)
    series.indices.flatMap(c => Gen.stream(seed, c, series(c)).take(n).toSeq)
  }

  test("the statement generator is deterministic for a seed") {
    assert(statements(7, 40) == statements(7, 40))
    assert(Gen.series(7, 2) == Gen.series(7, 2))
    assert(statements(7, 40).map(_.sql) != statements(8, 40).map(_.sql))
  }

  test("every frame is under 512 bytes and parses with graft.tsql.Parser") {
    for (seed <- 1L to 20L; s <- statements(seed, 50)) {
      val frame = Wire.encodeRequest(s.sql).fold(e => fail(e), identity)
      assert(frame.length < Wire.MaxQuerySize, s.sql)
      Parser.parse(s.sql) match {
        case Right(Statement.Insert(_, rows)) =>
          assert(rows.size == s.written && s.written == Gen.InsertRows)
          assert(rows.forall(_._1.isInstanceOf[TimeExpr.Num]))
        case Right(_: Statement.Select) => assert(s.written == 0)
        case other => fail(s"${s.sql} parsed to $other")
      }
    }
  }

  test("INSERT timestamps advance and the reads ask for the newest batch") {
    val series = Gen.series(3, 1)
    val cycle = Gen.stream(3, 0, series(0)).take(2 * Gen.CycleLength).toSeq
    val inserted = cycle.filter(_.cls == "insert").flatMap { s =>
      Parser.parse(s.sql).toOption.get.asInstanceOf[Statement.Insert].rows
        .map { case (TimeExpr.Num(t), v) => (t, v); case other => fail(other.toString) }
    }
    assert(inserted.map(_._1) == inserted.map(_._1).sorted.distinct)
    assert(inserted.head == series(0).point(Gen.History))
    val lastOfCycle = inserted.take(Gen.InsertsPerCycle * Gen.InsertRows).last
    cycle(Gen.InsertsPerCycle).expect match {
      case Expect.Records(pts) => assert(pts.last == lastOfCycle)
      case other => fail(other.toString)
    }
  }

  test("the percentile helper returns the requested percentile and its sample count") {
    val xs = (1 to 100).map(_.toDouble).reverse
    assert(Stats.percentile(xs, 50) == Pct(50.0, 100))
    assert(Stats.percentile(xs, 90) == Pct(90.0, 100))
    assert(Stats.percentile(Seq(3.0, 1.0, 2.0), 50) == Pct(2.0, 3))
    assert(Stats.percentile(Seq(5.0), 90) == Pct(5.0, 1))
    assert(Stats.percentile(Nil, 50).n == 0)
  }

  test("the geometric mean weighs every sample's ratio the same") {
    assert(math.abs(Stats.geomean(Seq(1.0, 100.0)) - 10.0) < 1e-9)
    assert(math.abs(Stats.geomean(Seq(2.0, 2.0, 2.0)) - 2.0) < 1e-9)
    assert(Stats.geomean(Nil).isNaN)
  }

  test("time less stolen time takes out the stolen share of the machine's CPU time") {
    val from = Some(HostTicks(ran = 1000, stolen = 50))
    val to = Some(HostTicks(ran = 1300, stolen = 150))
    assert(HostTicks.stolenShare(from, to) == 0.25)
    assert(Run.Took.between(2.0, from, to) == Run.Took(2.0, 1.5))
    assert(Run.Took.between(2.0, None, to) == Run.Took(2.0, 2.0))
    assert(HostTicks.stolenShare(from, from) == 0.0)
  }

  test("the answer checker accepts the right answer and rejects a planted wrong one") {
    val s = Gen.series(5, 1).head
    val pts = (0L until 15L).map(s.point)
    def wire(r: WireResponse) = Answer.decode(Wire.encodeResponse(r).toOption.get).toOption.get
    assert(Check(Expect.Records(pts), wire(WireResponse.Arr(pts))).isEmpty)
    val planted = pts.updated(7, (pts(7)._1, pts(7)._2 + 0.25))
    assert(Check(Expect.Records(pts), wire(WireResponse.Arr(planted))).nonEmpty)
    assert(Check(Expect.Records(pts), wire(WireResponse.Arr(pts.dropRight(1)))).nonEmpty)
    assert(Check(Expect.Inserted(15), wire(WireResponse.Str(0, "15 point(s) inserted, 0 error(s)"))).isEmpty)
    assert(Check(Expect.Inserted(15), wire(WireResponse.Str(0, "14 point(s) inserted, 1 error(s)"))).nonEmpty)
    assert(Check(Expect.Records(pts), wire(WireResponse.Str(1, "TsNotFound: x"))).nonEmpty)
  }
}
