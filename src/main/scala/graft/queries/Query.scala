package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.parse.{Drain, DrainConfig}
import graft.sources.Transcripts

/** One driver query: its Spark body over a scale-factor directory, and the
  * DuckDB SQL that computes the identical result. The families
  * ([[ParseQueries]], [[TextQueries]], [[DedupQueries]], [[FeatureQueries]],
  * [[SamplingQueries]]) declare each query once, body beside oracle;
  * [[graft.SparkEntry]] derives the driver's two maps from them.
  */
final case class Query(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: String)

/** Scaffolding shared by every query family. It lives apart from
  * [[graft.SparkEntry]] so that a family building its oracle strings while
  * `SparkEntry` initializes never reads a field of a half-built object.
  */
private[graft] object QueryScaffold {

  /** Drain config used for transcripts: numbers are the parameter slots. */
  val drainCfg: DrainConfig = DrainConfig(depth = 4, st = 0.4, maxChild = 100)

  def transcripts(s: SparkSession, dir: String): DataFrame =
    Transcripts.fromEvents(s, dir)

  /** transcripts + Drain two-phase parse → adds event_id / event_template. */
  def parsed(s: SparkSession, dir: String): DataFrame = {
    val t = transcripts(s, dir)
    val (p, _) = Drain.parse(t, "text", drainCfg)
    p
  }

  /** Id-only twin of [[parsed]] for queries that never read
    * `event_template` or `text`: plans `graft_drain_match_id` — no per-row
    * template string build. Same event_id values ([[Drain.parseIds]];
    * DrainSpec pins the parity). The match runs on the unnumbered rows and
    * the turns are numbered after it, so the numbering exchange carries the
    * 8-char id and column pruning drops `text` from it. A consumer that
    * still reads `text` calls `Drain.parseIds(transcripts(…))` instead, so
    * its exchange does not carry both columns.
    */
  def parsedIds(s: SparkSession, dir: String): DataFrame = {
    val (p, _) = Drain.parseIds(Transcripts.rows(s, dir), "text", drainCfg)
    Transcripts.numberTurns(p)
  }

  // ---- oracle SQL scaffolding -------------------------------------------
  def withT(body: String): String =
    s"WITH ${Transcripts.oracleCte} $body"

  /** DuckDB equivalent of the Drain parse on this corpus: the mined template
    * provably converges to the digit-masked text (every parameter slot in the
    * derived texts is a digit run), so the oracle is a pure regexp_replace.
    */
  val parsedCte: String =
    """parsed AS (
      |  SELECT conv_id, turn_idx, role, tool, ts, text,
      |         regexp_replace(text, '[0-9]+', '<*>', 'g') AS event_template,
      |         substr(md5(regexp_replace(text, '[0-9]+', '<*>', 'g')), 1, 8) AS event_id
      |  FROM transcripts
      |)""".stripMargin

  def withP(body: String): String =
    s"WITH ${Transcripts.oracleCte}, $parsedCte $body"

  /** Work dir for the CSV round-trip artifacts (q_csv_*): honors the
    * `graft.workdir` conf when set — Verify points it inside its own output
    * directory, i.e. a path on the job filesystem that is cleaned up with
    * the run — and falls back to ONE per-PROCESS temp subdir otherwise
    * (pid-suffixed: two concurrent local JVMs — e.g. Bench and sbt test —
    * must not overwrite each other's round-trip artifacts and read mixed
    * part files; within one JVM the writes are SaveMode.Overwrite, so
    * repeated runs reuse the dir instead of leaking one per invocation).
    * On a multi-node cluster `graft.workdir` MUST point at shared storage:
    * executors write their part files there and the read-back must see all
    * of them.
    */
  // per-process fallback dir, created lazily ONCE per JVM and deleted by a
  // shutdown hook — concurrent JVMs can't collide (pid suffix) and repeated
  // runs can't accumulate leaked artifact directories in the shared tmpdir
  private lazy val csvFallbackBase: String = {
    val dir = java.nio.file.Files.createTempDirectory(
      s"graft-csv-work-${ProcessHandle.current().pid()}-")
    Runtime.getRuntime.addShutdownHook(
      new Thread(() => graft.util.BenchSupport.rmrf(dir.toString)))
    dir.toString
  }

  def csvWorkDir(s: SparkSession, name: String): String = {
    val base = s.conf.getOption("graft.workdir").getOrElse(csvFallbackBase)
    s"$base/$name"
  }
}
