package graft

import org.apache.spark.sql.SparkSession
import graft.pipeline.Pipeline
import graft.sources.Transcripts

/** spark-submit entry point for the end-to-end job (north rule: "run via
  * spark-submit"). Local smoke: `sbt "runMain graft.Main <workDir>"`.
  *
  *   spark-submit --class graft.Main app.jar <workDir> [transcriptsParquet] [mineFraction]
  *
  * With no transcripts path, the driver-testdata derivation is used. The
  * session is configured for the sandbox (local[*]); under a real cluster
  * spark-submit's --master/--num-executors take precedence because we only
  * `getOrCreate()`.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val workDir = args.headOption.getOrElse(
      java.nio.file.Files.createTempDirectory("graft-run").toString)
    // register the kernels' SQL-string names (graft_dot, …) so SQL text
    // submitted against this session can call them; the library's own
    // Columns build the kernels directly and do not need it.
    // spark.sql.extensions is a comma-separated LIST: a user's own
    // --conf spark.sql.extensions must be appended to, never replaced.
    val userExts = sys.props.get("spark.sql.extensions").filter(_.nonEmpty)
    val graftExt = "graft.expr.GraftExtensions"
    val exts = userExts match {
      case Some(e) if e.split(",").map(_.trim).contains(graftExt) => e
      case Some(e) => s"$e,$graftExt"
      case None => graftExt
    }
    val builder = SparkSession.builder()
      .appName("graft-pipeline")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", exts)
    // spark-submit sets spark.master; only default it for bare runMain
    val spark = (if (sys.props.contains("spark.master")) builder
                 else builder.master("local[*]")).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val transcripts =
      if (args.length > 1) spark.read.parquet(args(1))
      else Transcripts.fromEvents(spark, "/root/testdata/sf0.01")
    val mineFraction = if (args.length > 2) args(2).toDouble else 1.0

    // GRAFT_MAIN_WARMUP=1: run a bounded warmup pass first so the reported
    // pipeline_sec measures steady-state throughput, not whole-stage-codegen
    // JIT (first execution of a generated stage is ~10x slower; with N fresh
    // executor JVMs each pays it separately — see BASELINE.md methodology).
    if (sys.env.get("GRAFT_MAIN_WARMUP").contains("1")) {
      Pipeline.run(spark, transcripts.limit(50000), s"$workDir-warmup")
      graft.util.BenchSupport.rmrf(s"$workDir-warmup")
    }

    val t0 = System.nanoTime()
    val res = Pipeline.run(spark, transcripts, workDir, mineFraction = mineFraction)
    val pipelineSec = (System.nanoTime() - t0) / 1e9
    // "fused": the SQL-string names are registered in this session — lets
    // tools/submit_smoke.sh assert the PRODUCTION entry installs the
    // Catalyst extension under spark-submit
    println(s"""{"turns":${res.turns},"templates":${res.templates},""" +
      s""""windows":${res.windows},"count_vector_rows":${res.countVectorRows},""" +
      s""""fused":${graft.expr.VectorFunctions.available(spark)},""" +
      f""""pipeline_sec":$pipelineSec%.2f,""" +
      s""""routes":${res.routes.map(m => s"""{"route":"${m.route}","rows":${m.rows}}""").mkString("[", ",", "]")}}""")
    spark.stop()
  }
}
