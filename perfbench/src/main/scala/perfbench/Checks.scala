package perfbench

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.pipeline.Pipeline

/** Output checks. Each returns the list of mismatches; empty means the
  * output is correct.
  */
object Checks {

  /** What every pipeline run over one input must report: the input's turn
    * and conversation counts (counted in set-up), and the template and
    * count-vector row counts of the set-up run.
    */
  final case class PipelineExpect(turns: Long, convs: Long, templates: Int, cvRows: Long)

  def pipeline(r: Pipeline.Result, e: PipelineExpect): Seq[String] = Seq(
    (r.turns == e.turns) -> s"turns ${r.turns} != input rows ${e.turns}",
    (r.routes.map(_.rows).sum == r.turns) ->
      s"route sinks sum to ${r.routes.map(_.rows).sum}, not to turns ${r.turns}",
    (r.windows == e.convs) -> s"windows ${r.windows} != distinct conv_id ${e.convs}",
    (r.templates == e.templates) -> s"templates ${r.templates} != set-up run's ${e.templates}",
    (r.countVectorRows == e.cvRows) ->
      s"count-vector rows ${r.countVectorRows} != set-up run's ${e.cvRows}"
  ).collect { case (false, msg) => msg }

  /** Fields two pipeline runs over one input must agree on. */
  def sameResult(a: Pipeline.Result, b: Pipeline.Result): Seq[String] = Seq(
    (a.turns == b.turns) -> s"turns ${a.turns} != ${b.turns}",
    (a.templates == b.templates) -> s"templates ${a.templates} != ${b.templates}",
    (a.routes.sortBy(_.route) == b.routes.sortBy(_.route)) -> "per-sink route counts differ",
    (a.windows == b.windows) -> s"windows ${a.windows} != ${b.windows}",
    (a.countVectorRows == b.countVectorRows) ->
      s"count-vector rows ${a.countVectorRows} != ${b.countVectorRows}"
  ).collect { case (false, msg) => msg }

  /** Row count and order-independent checksum of a query output. */
  final case class Digest(rows: Long, checksum: Long)

  /** Per-row hash of every column. Doubles are rounded to 6 places and map
    * entries sorted, so the digest does not depend on summation or shuffle
    * order.
    */
  private def rowHash(df: DataFrame): Column = {
    val cols = df.schema.fields.toSeq.map { f =>
      val c = col(s"`${f.name}`")
      f.dataType match {
        case DoubleType | FloatType => round(c.cast(DoubleType), 6)
        case ArrayType(DoubleType | FloatType, _) => transform(c, x => round(x.cast(DoubleType), 6))
        case _: MapType => array_sort(map_entries(c))
        case _ => c
      }
    }
    xxhash64(cols: _*).bitwiseAND(lit(0xFFFFFFFFL))
  }

  /** `df` with an observation that yields its [[Digest]] once an action ran. */
  def observed(df: DataFrame, name: String): (DataFrame, () => Digest) = {
    val obs = Observation(name)
    val out = df.observe(obs, count(lit(1)).as("rows"),
      coalesce(sum(rowHash(df)), lit(0L)).as("checksum"))
    (out, () => {
      val m = obs.get
      Digest(m("rows").asInstanceOf[Long], m("checksum").asInstanceOf[Long])
    })
  }

  /** The digest of `df`, computed by a separate aggregation. */
  def digest(df: DataFrame): Digest = {
    val r = df.agg(count(lit(1)), coalesce(sum(rowHash(df)), lit(0L))).head()
    Digest(r.getLong(0), r.getLong(1))
  }

  def query(name: String, got: Digest, expected: Map[String, Digest]): Seq[String] =
    expected.get(name) match {
      case None => Seq(s"$name has no expected digest")
      case Some(e) if e != got => Seq(s"$name: got $got, expected $e")
      case _ => Nil
    }

  /** Expected digests, one `name<TAB>rows<TAB>checksum` line each. */
  def readExpected(path: String): Map[String, Digest] = {
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.readAllLines(java.nio.file.Paths.get(path)).asScala
      .filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l =>
        val Array(n, rows, sum) = l.split("\t")
        n -> Digest(rows.toLong, sum.toLong)
      }.toMap
  }
}
