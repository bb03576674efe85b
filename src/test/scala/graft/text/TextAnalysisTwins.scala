package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import TextAnalysis._

/** Composed column forms of the fused text kernels — the parity oracles
  * the specs pin each kernel against. Library code calls the kernels.
  */
object TextAnalysisTwins {

  /** The composed HOF form of [[TextAnalysis.nonEmptyTokenCount]] —
    * NgramSpec pins it against the fused kernel.
    */
  def nonEmptyTokenCountComposed(text: Column): Column =
    size(filter(tokens(text), w => w =!= lit("")))

  /** The composed HOF chain of [[TextAnalysis.reflowLines]] —
    * GopherRulesSpec pins it against the fused kernel.
    */
  def reflowLinesComposed(text: Column, perLine: Int): Column =
    element_at(
      transform(array(split(trim(text), "\\s+")), toks =>
        array_join(
          transform(
            sequence(lit(0L),
              floor((size(toks) + (perLine - 1)) / lit(perLine.toDouble)).cast("long") - 1),
            i => array_join(slice(toks, (i * perLine + 1).cast("int"), lit(perLine)), " ")),
          "\n")),
      1)

  /** The composed column chain of [[TextAnalysis.gopherQualityRules]] —
    * GopherRulesSpec pins it against the fused kernel.
    */
  def gopherQualityRulesComposed(df: DataFrame, textCol: String,
                         minWords: Int = 50, maxWords: Int = 100000): DataFrame = {
    val t     = col(textCol)
    val words = split(trim(t), "\\s+")
    val lines = split(t, "\n")
    val nw    = greatest(size(words), lit(1))
    val nl    = greatest(size(lines), lit(1))
    // round-7: literal char/substring counts via translate/replace — the
    // regexp_replace forms scanned the doc with the regex engine three
    // times; these are bit-identical (single chars and a fixed "..." both
    // replace non-overlapping left-to-right in either engine)
    val nHash     = length(t) - length(translate(t, "#", ""))
    val nEllipsis = (length(t) - length(replace(t, lit("...")))) / lit(3)
    df.withColumn("n_words", size(words))
      .withColumn("mean_word_len",
        round(nonWsChars(t).cast("double") / nw, 4))
      .withColumn("symbol_word_ratio",
        round((nHash + nEllipsis).cast("double") / nw, 4))
      .withColumn("bullet_line_frac",
        round(size(filter(lines, l =>
          substring(l, 1, 2) === "- " || substring(l, 1, 2) === "* ")).cast("double") / nl, 4))
      .withColumn("ellipsis_line_frac",
        round(size(filter(lines, l => l.endsWith("..."))).cast("double") / nl, 4))
      .withColumn("alpha_word_frac",
        round(size(filter(words, w => w.rlike("[A-Za-z]"))).cast("double") / nw, 4))
      .withColumn("dup_line_frac",
        round(lit(1.0) - size(array_distinct(lines)).cast("double") / nl, 4))
      .withColumn("gopher_pass",
        col("n_words").between(minWords, maxWords) &&
          col("mean_word_len").between(3.0, 10.0) &&
          col("symbol_word_ratio") < 0.1 &&
          col("bullet_line_frac") < 0.9 &&
          col("ellipsis_line_frac") < 0.3 &&
          col("alpha_word_frac") >= 0.8 &&
          col("dup_line_frac") < 0.3)
  }

  /** The composed twin of `graft_repetition`: (\_\_rep_id, __nums) per
    * document that has at least one n-gram for some n — nine n-gram
    * explodes unioned into one (doc, n, gram) count aggregate. Gram-less
    * docs drop out here; the kernel emits zeros for them (RepetitionSpec).
    */
  def repetitionNumsComposed(df: DataFrame, idCol: String,
                                            textCol: String): DataFrame = {
    val allNs = Seq(2, 3, 4, 5, 6, 7, 8, 9, 10)
    val perN = allNs.map { n =>
      df.select(col(idCol).as("__rep_id"), lit(n).as("n"),
        explode(ngramsWithMultiplicity(col(textCol), n)).as("gram"))
    }.reduce(_ union _)
    val counts = perN.groupBy(col("__rep_id"), col("n"), col("gram"))
      .agg(count(lit(1)).as("c"))
    val pern = counts.groupBy(col("__rep_id"), col("n"))
      .agg(
        min(struct((-col("c")).as("nc"), col("gram"))).as("top"),
        sum(when(col("c") >= 2, col("c") * length(col("gram")))).as("dup"))
      .select(col("__rep_id"), col("n"),
        when(-col("top.nc") >= 2, (-col("top.nc")) * length(col("top.gram")))
          .otherwise(0L).cast("long").as("topnum"),
        coalesce(col("dup"), lit(0L)).cast("long").as("dupnum"))
    val aggExprs = allNs.map { n =>
      val src = if (n <= 4) col("topnum") else col("dupnum")
      coalesce(sum(when(col("n") === n, src)), lit(0L)).as(s"__v$n")
    }
    val agged = pern.groupBy(col("__rep_id"))
      .agg(aggExprs.head, aggExprs.tail: _*)
    agged.select(col("__rep_id"),
      array(allNs.map(n => col(s"__v$n")): _*).as("__nums"))
  }

  /** The composed six-pass chain of [[TextAnalysis.piiScrub]] —
    * TextCleanSpec pins it against the fused kernel.
    */
  def piiScrubComposed(df: DataFrame, textCol: String): DataFrame =
    df.withColumn("n_emails", regexp_count(col(textCol), lit(piiEmailRe)).cast("int"))
      .withColumn("__t1", regexp_replace(col(textCol), piiEmailRe, "<EMAIL>"))
      .withColumn("n_ips", regexp_count(col("__t1"), lit(piiIpRe)).cast("int"))
      .withColumn("__t2", regexp_replace(col("__t1"), piiIpRe, "<IP>"))
      .withColumn("n_ids", regexp_count(col("__t2"), lit(piiIdRe)).cast("int"))
      .withColumn("text_scrubbed", regexp_replace(col("__t2"), piiIdRe, "<ID>"))
      .drop("__t1", "__t2")

  /** The composed HOF chain of [[TextAnalysis.dedupLines]] — the line
    * survives iff its 1-based position equals `array_position` of its
    * first occurrence, let-bound through the outer lambda variable (`l` is
    * a lambda BINDING, not a recomputed subtree). TextCleanSpec pins it
    * against the fused kernel.
    */
  def dedupLinesComposed(df: DataFrame, textCol: String): DataFrame = {
    val dedup = element_at(
      transform(array(split(col(textCol), "\n")), l =>
        filter(l, (x, i) => array_position(l, x) === (i + 1).cast("long"))),
      1)
    df.withColumn("n_lines", size(split(col(textCol), "\n")).cast("int"))
      .withColumn("text_dedup", array_join(dedup, "\n"))
      .withColumn("n_kept", size(dedup).cast("int"))
  }

  /** The composed form of [[TextAnalysis.fingerprint]] — CsvWinnowSpec
    * pins it against the fused kernel.
    */
  def fingerprintComposed(text: Column): Column =
    md5(regexp_replace(lower(trim(text)), "\\s+", " "))

  /** The composed HOF chain of [[TextAnalysis.ngramsWithMultiplicity]] —
    * NgramSpec pins it against the fused kernel.
    */
  def ngramsWithMultiplicityComposed(text: Column, n: Int): Column =
    element_at(
      transform(array(split(trim(text), "\\s+")), toks =>
        filter(
          transform(sequence(lit(0), greatest(size(toks) - n, lit(0))),
            i => when(i + n <= size(toks), array_join(slice(toks, i + 1, lit(n)), " "))),
          x => x.isNotNull && x =!= lit(""))),
      1)
}
