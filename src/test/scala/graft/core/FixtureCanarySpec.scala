package graft.core

import org.scalatest.funsuite.AnyFunSuite

import graft.GraftSpark

/** Fixture-schema canary (r6 postmortem: the driver regenerated
  * `events.ts` from TIMESTAMP(NANOS) to TIMESTAMP(MICROS) and 47 gate
  * keys silently vanished). These assertions are UNIT-sanity, not
  * value-exactness: whatever the parquet encoding, the micros
  * projection must yield a series spanning DAYS (the fixture is a
  * month of data) — a wrong-unit read compresses or stretches the span
  * by 1000× and fails loudly here with a named cause. */
class FixtureCanarySpec extends AnyFunSuite with GraftSpark {

  private val sfDir = "/root/testdata/sf0.001"
  private val DAY_US = 86400000000L

  test("events series spans days (not minutes/millennia) under the micros projection") {
    val row = Tables.eventSeries(spark, sfDir)
      .agg(org.apache.spark.sql.functions.min("timestamp"),
        org.apache.spark.sql.functions.max("timestamp"),
        org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)))
      .head()
    val (lo, hi, n) = (row.getLong(0), row.getLong(1), row.getLong(2))
    assert(n > 0, "events fixture is empty")
    val spanDays = (hi - lo).toDouble / DAY_US
    assert(spanDays >= 5 && spanDays <= 120,
      s"events span is $spanDays days — wrong time unit? (min=$lo max=$hi)")
    // the fixture's documented window is Jan 2024; a decoded micros
    // value must land in [2020, 2030) as a gross unit check
    val y2020 = 1577836800000000L
    val y2030 = 1893456000000000L
    assert(lo >= y2020 && hi < y2030,
      s"events timestamps outside 2020-2030 in micros — wrong unit? (min=$lo max=$hi)")
  }

  test("nanos projection is exactly 1000x the micros projection") {
    import org.apache.spark.sql.functions._
    val ev = Tables.load(spark, sfDir, "events")
    val bad = ev.select(Tables.tsMicros(ev).as("us"), Tables.tsNanos(ev).as("ns"))
      .filter(col("ns") =!= col("us") * 1000L)
      .count()
    assert(bad == 0, s"$bad rows where tsNanos != tsMicros*1000")
  }
}
