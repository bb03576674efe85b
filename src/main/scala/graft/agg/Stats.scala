package graft.agg

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.util.Rank

/** Exact distributed quantiles — the corpus-profiling primitive
  * (`percentile_approx` is engine-defined and NOT cross-engine checkable;
  * these are exact, so a DuckDB oracle exists).
  *
  * PINNED semantics (the SQL twin [[exactQuantilesBySql]] replays them):
  * quantiles are RATIONALS (q_num, q_den), and the selected row is the
  * 1-based within-group rank
  *
  *   target_rank = 1 + (q_num * (n - 1)) div q_den      (all-integer)
  *
  * over the group's non-null values ordered ascending — the lower
  * nearest-rank definition, exact at any n with zero floating-point
  * involvement (a double `floor(q * (n-1))` form would have rounding edges
  * exactly at the integer boundaries that matter). Ties in the value order
  * are benign: the VALUE at a rank is invariant under any tie permutation.
  *
  * Scale shape: the within-group rank is [[Rank.groupRowNumber]] over the
  * value (`row_number().over(Window.partitionBy(group))` would serialize
  * each group into one task); its value ties are the one case the
  * total-order rule of [[Rank]] admits. Target selection joins a broadcast
  * quantiles-row table on the rank. Nothing wider than (group, value) ever
  * shuffles.
  */
object Stats {

  /** Per-group exact quantiles of `valueCol` (LongType recommended;
    * any orderable type works — the value is carried through untouched):
    * (groupCol, q_num, q_den, n, target_rank, value).
    */
  def exactQuantilesBy(df: DataFrame, groupCol: String, valueCol: String,
                       qs: Seq[(Int, Int)]): DataFrame = {
    require(qs.nonEmpty && qs.forall { case (a, b) => a >= 0 && a <= b && b > 0 },
      "quantiles must be rationals in [0, 1]")
    val spark = df.sparkSession
    import spark.implicits._

    val vals = df.select(col(groupCol), col(valueCol))
      .filter(col(valueCol).isNotNull)
    Rank.groupRowNumber(vals, groupCol, Seq(col(valueCol).asc), "target_rank", "n")
      .join(broadcast(qs.toDF("q_num", "q_den")),
        col("target_rank") === lit(1L) + expr("q_num * (n - 1) div q_den"))
      .select(col(groupCol), col("q_num"), col("q_den"), col("n"),
        col("target_rank"), col(valueCol).as("value"))
  }

  /** DuckDB twin of [[exactQuantilesBy]]: same all-integer rank selection
    * (`//` is DuckDB's integer division — floor, identical to Spark `div`
    * for the non-negative operands here); the per-group window is the
    * oracle's prerogative. `valueExpr` is any SQL expression over `table`'s
    * rows producing the value (mirror the Spark-side derivation).
    */
  def exactQuantilesBySql(table: String, groupCol: String, valueExpr: String,
                          qs: Seq[(Int, Int)]): String = {
    val qvals = qs.map { case (a, b) => s"($a, $b)" }.mkString(", ")
    s"""WITH v AS (
       |  SELECT $groupCol AS g, $valueExpr AS x FROM $table),
       |nn AS (SELECT g, x FROM v WHERE x IS NOT NULL),
       |r AS (SELECT g, x,
       |        CAST(row_number() OVER (PARTITION BY g ORDER BY x) AS BIGINT) AS rk
       |      FROM nn),
       |n AS (SELECT g, CAST(count(*) AS BIGINT) AS n FROM nn GROUP BY g),
       |q AS (SELECT CAST(q_num AS INT) AS q_num, CAST(q_den AS INT) AS q_den
       |      FROM (VALUES $qvals) q(q_num, q_den)),
       |t AS (SELECT n.g, q.q_num, q.q_den, n.n,
       |             1 + (q.q_num * (n.n - 1)) // q.q_den AS target_rank
       |      FROM n CROSS JOIN q)
       |SELECT t.g AS $groupCol, t.q_num, t.q_den, t.n,
       |       CAST(t.target_rank AS BIGINT) AS target_rank, r.x AS value
       |FROM t JOIN r ON r.g = t.g AND r.rk = t.target_rank""".stripMargin
  }
}
