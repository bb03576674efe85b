package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.GraftColumns.{column, expression}
import org.apache.spark.sql.functions._

import graft.expr.TrigramTopK
import LangId._

/** Composed and top-K-kernel forms of [[LangId.classify]] — the parity
  * oracles LangIdSpec pins the fused `graft_langid` kernel against.
  */
object LangIdTwins {

  /** Composed (id, gram, rd) top-K profile rows — [[fusedTop]]'s semantic
    * twin (LangIdSpec pins parity).
    */
  def composedTop(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val norm = concat(lit(" "),
      regexp_replace(lower(trim(col(textCol))), "\\s+", " "), lit(" "))
    // trigram generation stays CODEGEN'D: explode an int position sequence
    // and substr in the same whole-stage span (an ArrayTransform lambda
    // building the gram array is CodegenFallback — interpreted PER GRAM,
    // and was the dominant cost at 17M+ grams). The < 3 guard keeps
    // sequence() from stepping backwards on degenerate text; explode drops
    // the empty array, so sub-trigram docs fall out here on both engines.
    val counts = df
      .select(col(idCol).as("id"), norm.as("n"))
      .select(col("id"), col("n"), explode(
        when(length(col("n")) < nGram, array().cast("array<int>"))
          .otherwise(sequence(lit(1), length(col("n")) - (nGram - 1)))).as("p"))
      .select(col("id"), col("n").substr(col("p"), lit(nGram)).as("gram"))
      .groupBy(col("id"), col("gram")).agg(count(lit(1)).as("cnt"))
    // per-doc top-K WITHOUT a window: row_number over (cnt DESC, gram ASC)
    // equals the position in the ascending sort of (-cnt, gram) structs —
    // unique per doc, so identical ranks — but a window sorts the FULL
    // (id, gram, cnt) stream inside each partition (the dominant cost at
    // 17M+ gram rows), where collect_list + array_sort + slice sorts ~250
    // counted grams per doc and ships only the top-K onward
    counts
      .groupBy(col("id"))
      .agg(slice(array_sort(collect_list(
        struct((-col("cnt")).as("nc"), col("gram")))), 1, profileSize).as("t"))
      .select(col("id"), posexplode(col("t")).as(Seq("p", "s")))
      .select(col("id"), col("s.gram").as("gram"),
        (col("p") + 1).cast("int").as("rd"))
  }

  /** Fused (id, gram, rd) profile rows via `graft_trigram_topk`: the whole
    * per-doc count+rank stays IN-ROW, so the operator ships K short grams
    * per document instead of one shuffled row per gram occurrence (the
    * composed path exchanges the full 17M+-row (doc, gram) stream twice).
    */
  def fusedTop(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("id"),
        posexplode(column(TrigramTopK(expression(col(textCol)),
          expression(lit(profileSize))))).as(Seq("p", "gram")))
      .select(col("id"), col("gram"), (col("p") + 1).cast("int").as("rd"))

  /** The composed explode + broadcast-join + double-aggregate chain of
    * [[LangId.classify]] over the [[fusedTop]] profile rows — LangIdSpec
    * pins it against the fused kernel.
    */
  def classifyComposed(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val s: SparkSession = df.sparkSession
    import s.implicits._
    val top = fusedTop(df, idCol, textCol)
    val langDf = profiles.map(_._1).distinct.sorted.toDF("lang")
    val profDf = profiles.toDF("lang", "gram", "rl")
    top.crossJoin(broadcast(langDf))
      .join(broadcast(profDf), Seq("lang", "gram"), "left")
      .groupBy(col("id"), col("lang"))
      .agg(sum(coalesce(abs(col("rd") - col("rl")), lit(penalty))).as("dist"))
      .groupBy(col("id").as(idCol))
      .agg(min(struct(col("dist"), col("lang"))).as("b"))
      .select(col(idCol), col("b.lang").as("lang_ct"), col("b.dist").as("dist"))
  }
}
