package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import Classifier._

/** The composed form of [[Classifier.hashedLinearScore]]. */
object ClassifierTwins {

  /** The composed explode+aggregate chain of
    * [[Classifier.hashedLinearScore]] — ClassifierSpec pins it against the
    * fused kernel.
    */
  def hashedLinearScoreComposed(df: DataFrame, idCol: String,
                                textCol: String): DataFrame = {
    val toks = TextAnalysis.tokens(col(textCol))
    val unigrams = filter(toks, w => w =!= lit(""))
    val bigrams  = TextAnalysis.ngramsWithMultiplicity(col(textCol), 2)
    val feats = df.select(col(idCol),
      explode(concat(unigrams, bigrams)).as("__g"))
    val bucket = xxhash64(col("__g")).bitwiseAND(lit((numBuckets - 1).toLong))
    feats
      .withColumn("__w", weightOf(bucket))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_feats"),
        sum(col("__w")).as("score_micro"))
      .withColumn("label",
        when(col("score_micro") > 0, lit(1)).otherwise(lit(0)))
  }
}
