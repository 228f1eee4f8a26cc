package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.GraftSpark

/** Salted two-phase aggregation: identical results to the direct
  * groupBy, with the merge spread over nSalts reducers. */
class SkewSpec extends AnyFunSuite with GraftSpark {

  import spark.implicits._

  // one massively hot key, two cold ones
  private lazy val events = ((0 until 5000).map(i => ("hot", i.toLong, (i % 97).toDouble)) ++
    (0 until 40).map(i => ("warm", 10000L + i, i.toDouble)) ++
    Seq(("cold", 20000L, 1.5)))
    .toDF("event_type", "event_id", "value")

  test("saltedSumCount matches the direct single-phase aggregation exactly") {
    val salted = Skew.saltedSumCount(events, "event_type", "value",
        saltBy = "event_id", nSalts = 16)
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSet
    val direct = events.groupBy("event_type")
      .agg(round(sum(col("value").cast("decimal(30,6)")).cast("double"), 4).as("s"),
        count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSet
    assert(salted == direct)
  }

  test("salted plan splits the merge into two shuffles; phase-1 keys spread the hot key") {
    val df = Skew.saltedSumCount(events, "event_type", "value", "event_id", 16)
    val plan = df.queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(plan).size >= 2, plan.take(2000))
    // phase-1 groups: the hot key occupies nSalts distinct reduce keys
    val phase1 = events.withColumn("salt", pmod(hash(col("event_id")), lit(16)))
      .groupBy("event_type", "salt").count()
      .filter(col("event_type") === "hot").count()
    assert(phase1 == 16)
  }

  test("twoPhaseCountDistinct equals count(distinct) per key") {
    val two = Skew.twoPhaseCountDistinct(events, "event_type", "event_id")
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(two == Map("hot" -> 5000L, "warm" -> 40L, "cold" -> 1L))
  }

  test("AQE splits a skewed join partition at runtime (the third skew tool)") {
    // salting and two-phase aggs handle skewed AGGREGATIONS; for a
    // skewed JOIN the 100 TB plan leans on AQE's OptimizeSkewedJoin,
    // which re-splits an oversized shuffle partition after the map
    // stage materializes. Thresholds are lowered so the fixture-scale
    // hot key qualifies; the assertion is on the FINAL adaptive plan.
    import spark.implicits._
    withConf(
        "spark.sql.adaptive.enabled" -> "true",
        "spark.sql.adaptive.skewJoin.enabled" -> "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1.0",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "16KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "16KB",
        "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
        "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val left = (0 until 60000).map(i => ("hot", i.toLong)) ++
        (0 until 50).map(i => (s"k$i", i.toLong))
      val right = Seq(("hot", 1.0)) ++ (0 until 50).map(i => (s"k$i", i * 1.0))
      val joined = left.toDF("key", "seq").repartition(8)
        .join(right.toDF("key", "w"), "key")
      // collect() runs THIS DataFrame's QueryExecution, finalizing its
      // AdaptiveSparkPlan in place (a write wraps a fresh execution
      // whose final plan would be invisible here)
      joined.collect()
      val finalPlan = joined.queryExecution.executedPlan.toString
      assert(finalPlan.contains("skew=true"), finalPlan.take(3000))
    }
  }
}
