package graft.util

import org.apache.spark.sql.{Column, DataFrame, GraftColumns}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{JoinedRow, SpecificInternalRow, UnsafeProjection}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.functions.{broadcast, col, count, lit, min}
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

/** Distributed global rank and running sum — the scale-safe replacements
  * for `row_number()` / `sum()` `.over(Window.orderBy(...))`, which coalesce
  * the entire input into ONE partition (the classic global-sort trap,
  * SURVEY.md §7.3.3).
  *
  * Both are one two-pass body over per-row Long values (a constant 1 for the
  * row number, a column for the running sum):
  *   1. range-partition + sort within partitions — a DISTRIBUTED sort;
  *   2. collect only the per-partition sums (one Long per partition);
  *   3. broadcast the partition offsets, then a partition-local running
  *      accumulator appends the output column to each Catalyst row.
  *
  * Determinism (the round-3 fix — the round-2 form was WRONG at scale): the
  * sum pass and the assign pass MUST consume the SAME RDD lineage. Each
  * `Dataset.rdd` call builds a fresh DAG with a fresh range exchange whose
  * boundary sampling is re-run per execution — two `.rdd` calls meant two
  * independently-sampled partitionings, and at 10^5 rows × local[32] the
  * boundaries drifted between the passes: offsets from one layout applied
  * to another produced a NON-permutation (measured: 100k rows, distinct
  * positions 99.7k, max position 100.9k, different every run). With one
  * shared lineage the boundaries are sampled once, the shuffle map output
  * is written once and reused by both jobs (skipped stages), and
  * `sortWithinPartitions` canonicalizes reduce-side fetch order — every
  * execution of the returned frame sees the identical layout.
  *
  * Total order: `order` MUST be a total order over the rows (end it with a
  * unique key). The output comes from partition-local iteration order, so
  * tied rows could swap ranks or offsets between the two passes or between
  * recomputations. The one exception is a caller that reads only the tied
  * value at a rank, never which row holds it: `graft.agg.Stats`, whose ties
  * are on the selected value itself.
  *
  * `persistSorted`: spill-backed caching of the sorted form between the
  * two passes. Set it for post-aggregation inputs (a vocab's (key, freq)
  * table is orders of magnitude smaller than the corpus); leave it off for
  * full-table inputs (positional split at 10^12 rows), where one
  * deterministic recompute beats materializing the table.
  */
object Rank {

  /** Append 1-based global rank `outCol` (LongType) ordered by `order`.
    * Returns (ranked dataframe, total row count).
    */
  def globalRowNumber(df: DataFrame, order: Seq[Column], outCol: String,
                      persistSorted: Boolean = false): (DataFrame, Long) =
    twoPass(df, order, outCol, persistSorted, inclusive = true)(_ => 1L)

  /** Distributed EXCLUSIVE global prefix sum of `valueCol` (a LongType
    * column with no nulls; a null fails the job) over `order` — the
    * running-offset primitive behind token-stream chunking: `outCol` = sum
    * of `valueCol` over all rows strictly before this one in the global
    * order. Returns (frame, total).
    */
  def globalRunningSum(df: DataFrame, order: Seq[Column], valueCol: String,
                       outCol: String): (DataFrame, Long) = {
    val vIdx = df.schema.fieldIndex(valueCol)
    require(df.schema(vIdx).dataType == LongType,
      s"globalRunningSum: $valueCol must be LongType (cast at the call site)")
    twoPass(df, order, outCol, persistSorted = false, inclusive = false) { r =>
      // InternalRow.getLong reads a null slot as 0: check explicitly
      if (r.isNullAt(vIdx))
        throw new IllegalArgumentException(s"globalRunningSum: null in $valueCol")
      r.getLong(vIdx)
    }
  }

  /** Append the 1-based rank `rankCol` within each `group` (ordered by
    * `order`) and the group's row count `sizeCol` — the distributed form of
    * `row_number()` / `count` over `Window.partitionBy(group)`, which runs
    * ONE task per group (a scale-killer when one group dominates).
    * Formulation: [[globalRowNumber]] over (group +: order) minus a
    * broadcast per-group `min` (one row per group), so no task ever holds
    * more than a range-partition slice of one group. `group` + `order` fall
    * under the total-order rule of the object doc. The group column comes
    * first in the output, and rows whose group is null are dropped (the
    * offset join is an equi-join).
    */
  def groupRowNumber(df: DataFrame, group: String, order: Seq[Column],
                     rankCol: String, sizeCol: String): DataFrame = {
    val (ranked, _) = globalRowNumber(df, col(group) +: order, "__gr")
    val base = ranked.groupBy(col(group))
      .agg(min(col("__gr")).as("__r0"), count(lit(1)).as(sizeCol))
    ranked.join(broadcast(base), Seq(group))
      .withColumn(rankCol, col("__gr") - col("__r0") + 1L)
      .drop("__gr", "__r0")
  }

  /** The shared body: appends the running sum of `value` over `order`
    * (including the current row iff `inclusive`); returns (frame, total). */
  private def twoPass(df: DataFrame, order: Seq[Column], outCol: String,
                      persistSorted: Boolean, inclusive: Boolean)
                     (value: InternalRow => Long): (DataFrame, Long) = {
    val spark   = df.sparkSession
    val sorted0 = df.repartitionByRange(order: _*).sortWithinPartitions(order: _*)
    val sorted  = if (persistSorted) sorted0.persist(StorageLevel.MEMORY_AND_DISK)
                  else sorted0
    // ONE RDD lineage shared by both passes (see the object doc: a second
    // plan execution would re-sample the range boundaries). Planning it
    // under an execution id, as `Dataset.rdd` does, keeps the sort's
    // stages visible to SQL listeners.
    val qe   = sorted.queryExecution
    val rows = SQLExecution.withNewExecutionId(qe, Some("rank"))(qe.toRdd)
    val sums = rows
      .mapPartitions(it => Iterator(it.foldLeft(0L)((a, r) => a + value(r))))
      .collect()
    val offsets = spark.sparkContext.broadcast(sums.scanLeft(0L)(_ + _))

    val types = sorted.schema.fields.map(_.dataType) :+ LongType
    val withSum = rows.mapPartitionsWithIndex[InternalRow] { (i, it) =>
      val project = UnsafeProjection.create(types)
      val joined  = new JoinedRow
      val tail    = new SpecificInternalRow(Seq(LongType))
      var acc     = offsets.value(i)
      it.map { r =>
        val v = value(r)
        tail.setLong(0, if (inclusive) acc + v else acc)
        acc += v
        project(joined(r, tail))
      }
    }
    val out = GraftColumns.internalDataFrame(spark, withSum,
      StructType(sorted.schema :+ StructField(outCol, LongType, nullable = false)))
    if (persistSorted) {
      // Release the sorted cache before returning: a long-lived session
      // (Verify runs every query in one session) would otherwise accumulate
      // one MEMORY_AND_DISK table per vocab call until shutdown. The ranked
      // output is localCheckpoint'ed (eager) first so the returned plan no
      // longer references the unpersisted cache.
      val pinned = out.localCheckpoint(true)
      sorted.unpersist(false)
      (pinned, sums.sum)
    } else (out, sums.sum)
  }
}
