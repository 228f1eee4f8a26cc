package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Single-pass table profiling — the data-validation stage a pipeline
  * runs before trusting an input (the Deequ/dbt-test class): per
  * column, row/null/distinct counts plus numeric min/max, computed in
  * ONE aggregate over the table and unpivoted to a row per column.
  *
  * Distinct counts are EXACT — the cross-engine gate needs integers,
  * and Spark's HLL++ and DuckDB's approx_distinct are different
  * sketches. No branch ever mixes a distinct aggregate with the row
  * counts (that shape plans an Expand — every input row duplicated
  * per aggregate arm): integral columns count via range-bounded
  * bitmap partials, everything else via the two-phase fine-group
  * shape. At 100 TB the same plan holds with approx_count_distinct
  * swapped in per column (documented trade — the agg_approx_distinct
  * gate locks that estimator separately).
  *
  * The unpivot is a literal k-element array over the one-row
  * aggregate — no second scan, no driver loop.
  */
object Profile {

  /** Profile `numericCols` (full stats) and `otherCols` (counts only;
    * min/max null — cross-type min/max strings do not round-trip
    * identically between engines). Output: one row per column:
    * (col_name, n_rows, n_null, n_distinct, min_v, max_v).
    *
    * One aggregate branch PER COLUMN, unioned — not one giant
    * aggregate with multi-column countDistinct: Catalyst plans the
    * latter via Expand (k+1 copies of every row through the
    * aggregation — measured 42x the embedded referent at 3M rows),
    * while per-column branches each scan ONLY their column (parquet
    * pruning), partial-aggregate map-side, and exchange just the
    * per-partition distinct values.
    *
    * INTEGRAL columns count distinct via `bitmap_ndv`
    * ([[graft.functions.NdvBitmap]]) instead of count(DISTINCT): an
    * ID-like column is exactly where the distinct exchange is worst
    * (mostly-unique keys dedup nothing map-side, so EVERY value
    * ships — r11: 9.3 s of profile_events' 10.4 s at 100M events was
    * the event_id branch), while its bitmap partial is bounded by the
    * value RANGE a partition touches, not its row count. Same exact
    * integer result; the range/memory contract (loud failure past a
    * ~4.3e9-wide ID space — where the exchange shape is the right
    * one again) is on the aggregate's doc. */
  def profile(df: DataFrame, numericCols: Seq[String],
      otherCols: Seq[String]): DataFrame = {
    val integral: Set[org.apache.spark.sql.types.DataType] = Set(
      org.apache.spark.sql.types.LongType,
      org.apache.spark.sql.types.IntegerType,
      org.apache.spark.sql.types.ShortType,
      org.apache.spark.sql.types.ByteType)
    require(numericCols.nonEmpty || otherCols.nonEmpty, "no columns")
    val all = numericCols.map((_, true)) ++ otherCols.map((_, false))
    val branches = all.map { case (c, isNum) =>
      val mm =
        if (isNum) Seq(min(col(c)).cast("double").as("min_v"),
          max(col(c)).cast("double").as("max_v"))
        else Seq(lit(null).cast("double").as("min_v"),
          lit(null).cast("double").as("max_v"))
      if (integral(df.schema(c).dataType)) {
        // bitmap partials: no distinct aggregate in the branch, so no
        // Expand — one plain aggregate over the pruned column scan
        val aggs = Seq(
          (count(lit(1)) - count(col(c))).as("n_null"),
          call_function("bitmap_ndv", col(c)).as("n_distinct")) ++ mm
        df.select(col(c)).agg(count(lit(1)).as("n_rows"), aggs: _*)
          .select((lit(c).as("col_name") +: Seq("n_rows", "n_null",
            "n_distinct", "min_v", "max_v").map(col)): _*)
      } else {
        // TWO-PHASE fine-group distinct (the agg_hourly_rollup /
        // sketchMergeVerified shape): countDistinct BESIDE the row
        // counts makes Catalyst plan an Expand — every input row
        // duplicated per aggregate arm (2x the rows through the
        // aggregation; measured as profile_events' residual at 100M
        // events). Pre-grouping on the value instead scans each row
        // once into a state the size of the column's cardinality:
        // n_rows = sum of group counts, n_null = the null group's
        // count, n_distinct = non-null group count, min/max = extrema
        // of the group keys themselves.
        val fine = df.groupBy(col(c)).agg(count(lit(1)).as("cnt"))
        val aggs = Seq(
          coalesce(sum(when(col(c).isNull, col("cnt"))), lit(0L)).as("n_null"),
          count(when(col(c).isNotNull, lit(1))).as("n_distinct")) ++ mm
        fine.agg(coalesce(sum("cnt"), lit(0L)).as("n_rows"), aggs: _*)
          .select((lit(c).as("col_name") +: Seq("n_rows", "n_null",
            "n_distinct", "min_v", "max_v").map(col)): _*)
      }
    }
    branches.reduce(_ unionByName _)
  }

  /** DuckDB twin: one UNION ALL branch per column over a shared CTE. */
  def profileOracleSql(src: String, numericCols: Seq[String],
      otherCols: Seq[String]): String = {
    val branches =
      numericCols.map { c =>
        s"""SELECT '$c' AS col_name, CAST(count(*) AS BIGINT) AS n_rows,
           |  CAST(count(*) - count($c) AS BIGINT) AS n_null,
           |  CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct,
           |  CAST(min($c) AS DOUBLE) AS min_v, CAST(max($c) AS DOUBLE) AS max_v
           |FROM t""".stripMargin
      } ++ otherCols.map { c =>
        s"""SELECT '$c' AS col_name, CAST(count(*) AS BIGINT) AS n_rows,
           |  CAST(count(*) - count($c) AS BIGINT) AS n_null,
           |  CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct,
           |  CAST(NULL AS DOUBLE) AS min_v, CAST(NULL AS DOUBLE) AS max_v
           |FROM t""".stripMargin
      }
    s"WITH t AS ($src)\n" + branches.mkString("\nUNION ALL\n")
  }
}
