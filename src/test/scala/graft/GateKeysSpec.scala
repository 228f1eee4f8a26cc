package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Every key a timing list names, and every oracle, belongs to a gate
  * query: a deleted key that leaves a stale `Bench` entry, a stale
  * benchmark fleet row or an orphaned oracle fails here instead of
  * halfway through a bench run. */
class GateKeysSpec extends AnyFunSuite {

  private lazy val queryKeys = SparkEntry.queries.keySet

  private def missing(keys: Iterable[String]) = keys.filterNot(queryKeys).toSeq.sorted

  test("every Bench headline key is a query key, listed once") {
    val keys = Bench.headlineKeys
    assert(keys.nonEmpty)
    assert(missing(keys).isEmpty, s"Bench times keys with no query: ${missing(keys)}")
    val twice = keys.diff(keys.distinct).distinct
    assert(twice.isEmpty, s"Bench lists keys more than once: $twice")
  }

  test("every benchmark fleet key is a query key") {
    val rows = Files.readAllLines(Paths.get("tsbench", "fleet_rows.txt")).asScala
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map(_.split("\\s+")(0))
    assert(rows.nonEmpty, "no fleet keys read")
    assert(missing(rows).isEmpty, s"fleet rows name keys with no query: ${missing(rows)}")
  }

  test("every oracle key is a query key") {
    val orphans = missing(SparkEntry.oracleSql.keys)
    assert(orphans.isEmpty, s"oracles with no query: $orphans")
  }
}
