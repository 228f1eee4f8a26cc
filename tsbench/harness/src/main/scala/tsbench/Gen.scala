package tsbench

import scala.util.Random

/** One series the harness writes and therefore knows point by point:
  * point `i` sits at `T0 + i` seconds with value `((i * a + b) mod 1000)
  * / 4`. Values are quarter steps, so they print and parse exactly. */
final case class SeriesModel(name: String, a: Int, b: Int, history: Int) {
  import Gen.{NsPerS, T0}
  def ts(i: Long): Long = T0 + i * NsPerS
  def value(i: Long): Double = Math.floorMod(i * a + b, 1000L) * 0.25
  def point(i: Long): (Long, Double) = (ts(i), value(i))
}

/** What a correct answer to one statement is. */
sealed trait Expect
object Expect {
  /** `(timestamp, value)` records, in order. */
  final case class Records(points: IndexedSeq[(Long, Double)]) extends Expect
  /** An INSERT acknowledgement for `n` points. */
  final case class Inserted(n: Int) extends Expect
}

/** One generated statement: its class (the latency mode it belongs to),
  * its text, the answer it must get, and the points it writes. */
final case class Stmt(cls: String, sql: String, expect: Expect, written: Int = 0)

/** The seeded `tsql_ingest` statement generator. The program never sees
  * the seed, only the statements; the same seed and client always give
  * the same statements, whatever their timing. */
object Gen {
  val NsPerS = 1000000000L
  /** 2023-11-14 22:00:00 UTC, a multiple of the catalog's 900 s bucket. */
  val T0: Long = 1699999200L * NsPerS

  /** One day of one-second points before a client's first INSERT. */
  val History = 86400
  /** The most rows of this shape a 512-byte request frame holds. */
  val InsertRows = 15
  val InsertsPerCycle = 4
  val CycleLength: Int = InsertsPerCycle + 1
  val Classes: Seq[String] = Seq("insert", "rw_latest", "rw_window")

  /** One series per client. */
  def series(seed: Long, clients: Int): IndexedSeq[SeriesModel] = {
    val rnd = new Random(seed)
    def step() = Iterator.continually(1 + rnd.nextInt(999)).find(a => a % 2 != 0 && a % 5 != 0).get
    (0 until clients).map(c => SeriesModel(s"w$c", step(), rnd.nextInt(1000), History))
  }

  private def insertSql(s: SeriesModel, i0: Long): String =
    (i0 until i0 + InsertRows).map { i =>
      val (t, v) = s.point(i)
      s"($t, $v)"
    }.mkString(s"INSERT INTO ${s.name} VALUES ", ", ", "")

  /** Client `client`'s statements on its own series `s`: cycles of four
    * 15-point INSERTs at advancing timestamps, then one read-your-writes
    * SELECT of the newest point or of the last batch's window. */
  def stream(seed: Long, client: Int, s: SeriesModel): Iterator[Stmt] = {
    val rnd = new Random(seed * 1000003L + client)
    Iterator.from(0).flatMap { cycle =>
      val base = s.history.toLong + cycle.toLong * InsertsPerCycle * InsertRows
      val inserts = (0 until InsertsPerCycle).map { k =>
        Stmt("insert", insertSql(s, base + k * InsertRows), Expect.Inserted(InsertRows), InsertRows)
      }
      val last = base + InsertsPerCycle * InsertRows - 1
      val first = last - InsertRows + 1
      val read =
        if (rnd.nextBoolean())
          Stmt("rw_latest", s"SELECT latest(value) FROM ${s.name}", Expect.Records(Vector(s.point(last))))
        else
          Stmt("rw_window", s"SELECT value FROM ${s.name} BETWEEN ${s.ts(first)} AND ${s.ts(last)}",
            Expect.Records((first to last).map(s.point)))
      inserts :+ read
    }
  }
}
