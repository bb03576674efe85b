package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.enrich.Enrich
import graft.parse.{Drain, DrainConfig, TemplateEntry}

/** The earlier route plan, which labelled each turn through a broadcast join
  * against a per-conversation `groupBy(conv_id)` label table. A row with a
  * null conv_id matches no label row and gets the default 0. Parity twin of
  * the route write in [[Pipeline.run]]. */
object PipelineTwins {

  def routeBroadcastLabels(transcripts: DataFrame, dict: Seq[TemplateEntry],
                           cfg: DrainConfig = DrainConfig(depth = 4, st = 0.4)): DataFrame = {
    val labels = transcripts.groupBy(col("conv_id"))
      .agg(max(when(col("role") === "tool", 1).otherwise(0)).as("label"))
    Enrich.convLabels(
      Drain.matchEventIds(transcripts, "text", dict, cfg)
        .select("conv_id", "turn_idx", "role", "tool", "ts", "event_id"),
      labels)
  }
}
