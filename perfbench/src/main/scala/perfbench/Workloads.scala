package perfbench

import org.apache.spark.sql.DataFrame

import graft.SparkEntry
import graft.pipeline.Pipeline
import graft.sources.Transcripts

/** One closed-loop workload with a single caller: each operation starts
  * when the previous one returned. Constructing a workload runs its one
  * untimed warm-up operation.
  */
trait Workload {
  /** Input turns one operation processes. */
  def turns: Long
  /** Fewest timed operations a run makes. */
  def minOps: Int
  /** Untimed preparation before each operation. */
  def reset(): Unit = ()
  /** One operation; returns its output-check failures. */
  def run(): Seq[String]
}

object Workloads {

  val Names: Seq[String] = Seq("pipeline_skewed", "query_sweep")

  /** Conversations of the `pipeline_skewed` input (~18 turns each on
    * average: 1% of conversations are ~100x longer, template 0 carries
    * ~50% of turns, 8 templates).
    */
  val SkewedConvs = 8000

  /** The `query_sweep` list: parse kernel evaluated twice (tfidf family),
    * explode-amplified windows, text kernels, parse/session, dedup and ANN,
    * enrich and sketches.
    */
  val TfidfFamily: Seq[String] = Seq("q_tfidf", "q_zero_mean", "q_align_counts")
  val WindowQueries: Seq[String] = Seq("q_fixed_window", "q_time_window", "q_time_window_global")
  val SweepQueries: Seq[String] = TfidfFamily ++ WindowQueries ++ Seq(
    "q_repetition", "q_lang_quality", "q_langid_profiles",
    "q_parse_structured", "q_session_seq",
    "q_minhash_lsh", "q_semdedup", "q_ann_ivfpq",
    "q_asof_enrich", "q_kmv_grouped")
  /** Sweep queries that read the transcripts derived from events.parquet. */
  val TranscriptQueries: Set[String] = (TfidfFamily ++ WindowQueries ++ Seq(
    "q_parse_structured", "q_session_seq", "q_asof_enrich")).toSet

  final case class Input(dir: String, turns: Long, convs: Long)

  /** Writes the seeded synthetic transcripts; counts turns and conversations. */
  def generate(s: Session, dir: String, nConv: Int, seed: Long): Input = {
    Transcripts.synthetic(s.spark, nConv, seed, partitions = 2 * s.cpus)
      .write.mode("overwrite").parquet(dir)
    val df = s.spark.read.parquet(dir)
    Input(dir, df.count(), df.select("conv_id").distinct().count())
  }

  def failLoudly(what: String, failures: Seq[String]): Unit =
    if (failures.nonEmpty)
      throw new IllegalStateException(s"$what failed its output check: " + failures.mkString("; "))

  /** What set-up stages before the warm-up: the generated input of
    * `pipeline_skewed`; nothing for `query_sweep`, whose tables ship with
    * the benchmark.
    */
  def stage(name: String, s: Session, work: String, seed: Long): Option[Input] =
    if (name == "pipeline_skewed") Some(generate(s, s"$work/input", SkewedConvs, seed)) else None

  /** The workload over its staged input, after its warm-up operation. */
  def warmedUp(s: Session, staged: Option[Input], work: String, data: String, seed: Long,
               expected: => Map[String, Checks.Digest]): Workload = staged match {
    case Some(in) => new FreshPipeline(s, in, s"$work/run")
    case None => new QuerySweep(s, data, expected, new scala.util.Random(seed).shuffle(SweepQueries))
  }
}

/** A fresh `Pipeline.run` per operation over one input. */
final class FreshPipeline(s: Session, in: Workloads.Input, dir: String) extends Workload {
  private def once(): Pipeline.Result = Pipeline.run(s.spark, s.spark.read.parquet(in.dir), dir)

  val reference: Pipeline.Result = once()
  val expect = Checks.PipelineExpect(in.turns, in.convs, reference.templates, reference.countVectorRows)
  Workloads.failLoudly("set-up run", Checks.pipeline(reference, expect))

  def turns: Long = in.turns
  /** The first timed run still pays JIT compilation (~1.5x the task CPU of
    * the next ones); with three, the median never reads it alone.
    */
  val minOps = 3
  override def reset(): Unit = Dirs.rmrf(dir)
  def run(): Seq[String] = Checks.pipeline(once(), expect)
}

/** One pass over the sweep queries at `data`, each forced through the noop
  * sink; the pass order is the seed's shuffle of the list.
  */
final class QuerySweep(s: Session, data: String, expected: Map[String, Checks.Digest],
                       val order: Seq[String]) extends Workload {
  val eventRows: Long = s.spark.read.parquet(s"$data/events.parquet").count()

  def turns: Long = eventRows * order.count(Workloads.TranscriptQueries)
  /** A pass runs 16 queries, longer than a run's measuring time. */
  val minOps = 1

  /** Runs query `name` (optionally corrupted, for the self-test) and checks
    * its row count and checksum, observed during the same execution.
    */
  def runQuery(name: String, corrupt: DataFrame => DataFrame = identity): Seq[String] = {
    val (df, digest) = Checks.observed(corrupt(SparkEntry.queries(name)(s.spark, data)), name)
    df.write.format("noop").mode("overwrite").save()
    Checks.query(name, digest(), expected)
  }

  def run(): Seq[String] = order.flatMap(runQuery(_))
  Workloads.failLoudly("warm-up pass", run())
}
