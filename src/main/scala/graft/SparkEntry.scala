package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.parse.DrainConfig
import graft.agg.Features
import graft.queries._
import graft.queries.QueryScaffold.parsed

/** Driver contract (SURVEY.md §7).
  *
  * Every query runs over the deterministic `transcripts` derivation of the
  * driver's `events.parquet` (graft.sources.Transcripts), or directly over the
  * TPC-H-ish / documents / embeddings tables. Each [[Query]] is declared once,
  * in one family registry, beside the DuckDB oracle SQL computing the
  * identical result; `queries` and `oracleSql` are derived from them.
  */
object SparkEntry {

  /** Drain config used for transcripts: numbers are the parameter slots. */
  val drainCfg: DrainConfig = QueryScaffold.drainCfg

  /** Flagship query on sf=0.001 — the end-to-end parse→enrich→aggregate
    * backbone; driver smoke-checks rows>0.
    */
  def entry(spark: SparkSession): DataFrame = {
    val p = parsed(spark, "/root/testdata/sf0.001")
    Features.saltedCount(p, "event_id")
  }

  /** Every driver query, one family after another. */
  val registry: Seq[Query] =
    ParseQueries.all ++ TextQueries.all ++ DedupQueries.all ++
      FeatureQueries.all ++ SamplingQueries.all

  /** `f` of each query keyed by its name; fails on a name declared twice,
    * which `toMap` would otherwise silently collapse to one entry.
    */
  private[graft] def byName[A](qs: Seq[Query])(f: Query => A): Map[String, A] = {
    val dups = qs.groupBy(_.name).collect { case (n, g) if g.size > 1 => n }
    require(dups.isEmpty,
      s"query names declared more than once: ${dups.toSeq.sorted.mkString(", ")}")
    qs.map(q => q.name -> f(q)).toMap
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    byName(registry)(_.run)

  val oracleSql: Map[String, String] = byName(registry)(_.oracle)
}
