package graft.route

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}
import java.nio.file.{Files, Paths}

/** Router / fan-out sinks with per-partition lineage + metrics, and
  * checkpoint-resumable stages (SURVEY.md §2.1 S8/S9, §4.2).
  *
  * The reference routes rows to per-class and per-template text files in
  * driver loops (dataset/data_process.py:214-254; PLELog/utils/Drain.py:201-213).
  * Here: ONE pass, `write.partitionBy(routeKey)` — a single shuffle-free
  * columnar write fanning out to one directory per route value — plus a
  * `_metrics` sidecar with per-sink row counts (the routed-row-equality
  * evidence the north rule requires) written atomically after the data.
  *
  * Resume: a stage whose `_SUCCESS` marker and `_metrics` sidecar both exist
  * is skipped on restart; outputs are overwritten per-stage otherwise, so a
  * rerun is idempotent (exactly-once per stage output).
  */
object Router {

  final case class SinkMetrics(route: String, rows: Long)

  /** Route `df` into `outDir` partitioned by `routeKey`; returns per-sink
    * counts. `maxRecordsPerFile` bounds file sizes at scale.
    *
    * Lineage: alongside the per-sink row counts, `_lineage.json` records the
    * input file set (count + stable digest of the sorted paths) and the
    * per-sink file counts, so a resumed or re-run job can prove which
    * snapshot produced each routed partition (the parquet-level stand-in for
    * Iceberg snapshot ids — no Iceberg runtime ships in this sandbox).
    */
  /** @param colocate controls the pre-write layout — the file-count /
    *        parallelism trade-off depends on route-key CARDINALITY:
    *        - `true` (HIGH-cardinality routes, routes ≳ write tasks): REBALANCE
    *          (AQE) on the route key. Without it every task writes one file per
    *          route it sees — 10⁵ tasks × 10³ routes = 10⁸ files. Rebalance
    *          gives a cold route exactly one file and splits hot routes by
    *          size (AQE skew split); with many distinct keys the hash spreads
    *          over all tasks, so parallelism is preserved.
    *        - `false` (LOW-cardinality routes, routes ≪ tasks, e.g. a 5-template
    *          corpus): rebalancing by the key would collapse the write into
    *          ~routes fat partitions AND add a full-table shuffle to the
    *          biggest stage. Instead keep the input partitioning and sort
    *          within partitions by the route key — files per task are bounded
    *          by the routes that task holds (≤ cardinality, written
    *          sequentially with one open file at a time), and every task
    *          writes in parallel with NO extra exchange.
    *        Callers that know the cardinality up front (Pipeline knows the
    *        template-dictionary size before routing) pass it explicitly.
    */
  def fanOut(df: DataFrame, routeKey: String, outDir: String,
             train: Boolean = false, dedupCols: Seq[String] = Nil,
             colocate: Boolean = true): Seq[SinkMetrics] = {
    val inputFiles = df.inputFiles.sorted
    // train-side dedup only (dataset/data_process.py:163-176)
    val deduped = if (train && dedupCols.nonEmpty) df.dropDuplicates(dedupCols) else df
    val routed =
      if (colocate) deduped.hint("rebalance", col(routeKey))
      else deduped.sortWithinPartitions(col(routeKey))

    routed.write
      .mode(SaveMode.Overwrite)
      .option("maxRecordsPerFile", 5000000)
      .partitionBy(routeKey)
      .parquet(s"$outDir/data")

    recordSinks(deduped, inputFiles, routeKey, outDir, layout = "", withFiles = true)
  }

  /** Records the sinks just written to `outDir/data`: per-sink row counts in
    * `_metrics.json` and, with the input file set and `layout` (extra
    * top-level fields), in `_lineage.json`; `withFiles` adds each sink's file
    * count to the lineage. Returns the counts.
    *
    * Counts reflect what actually LANDED, not what was planned. This is NOT
    * a second data scan: the aggregate needs only the partition column (from
    * directory names) and row counts (from parquet footers), so the scan's
    * required schema is struct<> — zero data pages read (RouterSpec asserts
    * the pruned ReadSchema). The explicit schema also pins the partition
    * column's type: digit-only route values (possible for hex event ids)
    * would otherwise be INFERRED as integers, losing leading zeros.
    */
  private def recordSinks(df: DataFrame, inputFiles: Array[String], routeKey: String,
                          outDir: String, layout: String, withFiles: Boolean): Seq[SinkMetrics] = {
    val read = df.sparkSession.read.schema(df.schema).parquet(s"$outDir/data")
    val written = if (withFiles) read.withColumn("__file", input_file_name()) else read
    val files = if (withFiles) Seq(countDistinct(col("__file")).as("files")) else Nil
    val stats = written.groupBy(col(routeKey)).agg(count(lit(1)).as("rows"), files: _*)
      .collect()
      .map(r => (Option(r.get(0)).map(_.toString).getOrElse("null"), r.getLong(1),
        if (withFiles) s""","files":${r.getLong(2)}""" else ""))
      .sortBy(_._1)
    val counts = stats.map(s => SinkMetrics(s._1, s._2)).toSeq
    writeMetrics(outDir, counts)
    val inputDigest = graft.parse.Drain.md5_8(inputFiles.mkString("\n"))
    Files.writeString(Paths.get(s"$outDir/_lineage.json"),
      stats.map(s => s"""{"route":"${s._1}","rows":${s._2}${s._3}}""").mkString(
        s"""{"input_files":${inputFiles.length},"input_digest":"$inputDigest"$layout,"sinks":[""",
        ",", "]}"))
    counts
  }

  /** Bucketed route store — the cross-stage partitioning mechanism the plain
    * parquet fan-out cannot provide: `partitionBy(routeKey)` directories (the
    * per-template sinks) + `bucketBy(buckets, bucketKey)` files whose hash
    * layout is recorded in the session catalog. Paying ONE write-side shuffle
    * on the bucket key here buys EXCHANGE-FREE aggregation/windowing on that
    * key for every downstream stage that reads the table (Spark's
    * HashPartitioning(bucketKey, n) satisfies any clustering whose keys
    * contain bucketKey). This is the parquet stand-in for a bucketed Iceberg
    * table; the pre-write `repartition(buckets, bucketKey)` co-locates each
    * bucket in one task so files = routes × buckets, never × tasks.
    *
    * Caveat at scale: a bucketed write cannot AQE-split a skewed bucket —
    * size `buckets` to the cluster.
    */
  def fanOutBucketed(df: DataFrame, routeKey: String, bucketKey: String,
                     buckets: Int, outDir: String, tableName: String): Seq[SinkMetrics] = {
    val spark = df.sparkSession
    val inputFiles = df.inputFiles.sorted
    spark.sql(s"DROP TABLE IF EXISTS $tableName")
    df.repartition(buckets, col(bucketKey))
      .write.mode(SaveMode.Overwrite)
      .format("parquet")
      .option("path", s"$outDir/data")
      .partitionBy(routeKey)
      .bucketBy(buckets, bucketKey)
      .saveAsTable(tableName)
    recordSinks(df, inputFiles, routeKey, outDir, layout = s""","buckets":$buckets""", withFiles = false)
  }

  /** Bucket count the files at `outDir` were actually WRITTEN with, read
    * back from the `_lineage.json` sidecar [[fanOutBucketed]] records; None
    * when the prior layout was non-bucketed (plain [[fanOut]]) or the sidecar
    * is missing.
    */
  def lineageBuckets(outDir: String): Option[Int] = {
    val p = Paths.get(s"$outDir/_lineage.json")
    if (!Files.exists(p)) None
    else """"buckets":(\d+)""".r
      .findFirstMatchIn(Files.readString(p))
      .map(_.group(1).toInt)
  }

  /** Re-register the bucketed route table after a restart (the bucket spec
    * lives in the catalog, not in the files — a NEW session resuming a
    * completed stage must redeclare the identical layout, then recover the
    * route-key partitions from the directory structure).
    *
    * The bucket count comes from the stage's own `_lineage.json`, NEVER from
    * the resuming session's configuration: a session resumed with a different
    * parallelism would otherwise register a wrong CLUSTERED BY spec — fewer
    * buckets than written breaks the bucket-id filename scan, more silently
    * fakes a HashPartitioning and corrupts any bucket-aligned join. Resuming
    * over a non-bucketed prior layout (plain [[fanOut]] files) is an error
    * for the same reason. `expectedBuckets` (when the caller pins a count
    * explicitly) is validated against the recorded value.
    */
  def ensureBucketedTable(spark: SparkSession, tableName: String,
                          schema: StructType,
                          routeKey: String, bucketKey: String, outDir: String,
                          expectedBuckets: Option[Int] = None): Int = {
    val buckets = lineageBuckets(outDir).getOrElse(throw new IllegalStateException(
      s"$outDir was not written as a bucketed route store (no bucket count in " +
        "_lineage.json) — a bucketed-table registration over plain fanOut files " +
        "would claim a hash layout the files do not have; rerun the stage with " +
        "fanOutBucketed or resume with bucketRoute=false"))
    expectedBuckets.filter(_ != buckets).foreach { e =>
      throw new IllegalStateException(
        s"$outDir was written with $buckets buckets but the resuming session " +
          s"requested $e — the recorded layout wins; drop the explicit bucket " +
          "count or rewrite the stage")
    }
    if (!spark.catalog.tableExists(tableName)) {
      val dataCols = schema.fields.filterNot(_.name == routeKey)
      val ddlSchema = (dataCols :+ schema(routeKey))
        .map(f => s"`${f.name}` ${f.dataType.sql}").mkString(", ")
      spark.sql(
        s"""CREATE TABLE $tableName ($ddlSchema) USING PARQUET
           |PARTITIONED BY (`$routeKey`)
           |CLUSTERED BY (`$bucketKey`) INTO $buckets BUCKETS
           |LOCATION '$outDir/data'""".stripMargin)
      spark.catalog.recoverPartitions(tableName)
    }
    buckets
  }

  def writeMetrics(outDir: String, counts: Seq[SinkMetrics]): Unit = {
    val json = counts.map(m => s"""{"route":"${m.route}","rows":${m.rows}}""")
      .mkString("[", ",", "]")
    Files.createDirectories(Paths.get(outDir))
    Files.writeString(Paths.get(s"$outDir/_metrics.json"), json)
  }

  /** True iff the stage at `outDir` completed (data `_SUCCESS` + metrics). */
  def isComplete(outDir: String): Boolean =
    Files.exists(Paths.get(s"$outDir/data/_SUCCESS")) &&
      Files.exists(Paths.get(s"$outDir/_metrics.json"))

  /** Checkpoint-resumable stage runner: skip if complete, else compute+write.
    * Returns the stage output as a DataFrame (read back from the sink so
    * downstream stages consume the materialized checkpoint, giving restart
    * cuts between every stage).
    */
  def stage(spark: SparkSession, outDir: String)(compute: => DataFrame): DataFrame =
    stageWithCount(spark, outDir)(compute)._1

  /** Like [[stage]], also returning the stage's row count — from the
    * `_metrics.json` sidecar when resuming, so completed stages cost zero
    * extra jobs.
    *
    * The read-back never infers its schema (a one-task footer job per read):
    * it declares the schema parquet inference yields for the written frame
    * ([[readSchema]]), recorded in a `_schema.json` sidecar before
    * `_metrics.json` so a resumed stage declares it too. A completed stage
    * without the sidecar (written before it existed) falls back to inference.
    */
  def stageWithCount(spark: SparkSession, outDir: String)(compute: => DataFrame): (DataFrame, Long) =
    if (!isComplete(outDir)) {
      val df = compute
      df.write.mode(SaveMode.Overwrite).parquet(s"$outDir/data")
      val schema = readSchema(df.schema)
      Files.writeString(Paths.get(s"$outDir/_schema.json"), schema.json)
      val out = spark.read.schema(schema).parquet(s"$outDir/data")
      val c = out.count() // metadata-only scan of the written files
      writeMetrics(outDir, Seq(SinkMetrics("_all", c)))
      (out, c)
    } else {
      val sidecar = Paths.get(s"$outDir/_schema.json")
      val reader =
        if (Files.exists(sidecar))
          spark.read.schema(DataType.fromJson(Files.readString(sidecar)).asInstanceOf[StructType])
        else spark.read
      (reader.parquet(s"$outDir/data"), readMetrics(outDir).map(_.rows).sum)
    }

  /** The schema `spark.read.parquet` infers for files written from a frame
    * of `written`: every top-level field nullable, nested types as written.
    */
  def readSchema(written: StructType): StructType =
    StructType(written.fields.map(_.copy(nullable = true)))

  def readMetrics(outDir: String): Seq[SinkMetrics] = {
    val json = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$outDir/_metrics.json")), "UTF-8")
    """\{"route":"([^"]*)","rows":(\d+)\}""".r
      .findAllMatchIn(json)
      .map(m => SinkMetrics(m.group(1), m.group(2).toLong))
      .toSeq
  }
}
