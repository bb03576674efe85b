package graft.parse

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.GraftColumns.{column, expression}
import org.apache.spark.sql.functions._

import graft.expr.{DrainMatch, DrainMatchId}
import scala.collection.mutable
import java.security.MessageDigest

/** Configuration of the Drain template miner.
  *
  * Semantics follow the published Drain algorithm (He et al., ICWS'17) as used
  * by the reference (/root/reference/logadempirical/logparser/Drain.py:32-55):
  * `depth` is the full tree depth (internal token layers = depth - 2), `st`
  * the similarity threshold, `maxChild` the child cap per internal node,
  * `scrub` the preprocessing regexes replaced by `<*>` before tokenizing
  * (Drain.py:290-293).
  */
final case class DrainConfig(
    depth: Int = 4,
    st: Double = 0.4,
    maxChild: Int = 100,
    scrub: Seq[String] = Nil
) {
  require(depth >= 3, "depth must be >= 3 (one root layer + one length layer)")
  def internalDepth: Int = depth - 2
}

/** A mined cluster: current template tokens + how many lines it absorbed. */
final case class MinedCluster(tokens: Seq[String], count: Long)

/** Finalized template dictionary entry (mirrors `_templates.csv`,
  * Drain.py:218-224; `event_id = md5(template)[0:8]`, Drain.py:203,221).
  */
final case class TemplateEntry(event_id: String, event_template: String, occurrences: Long)

/** Drain prefix tree — faithful Scala re-expression of the reference's
  * mutable parse state (Drain.py:60-194). One tree per Spark partition in the
  * mine phase; a fresh driver-side tree for the deterministic merge; a frozen
  * tree (no mutation) broadcast for the match phase.
  */
final class DrainTree(cfg: DrainConfig) extends Serializable {

  final class LogCluster(var tokens: Vector[String], var count: Long) extends Serializable
  final class Node extends Serializable {
    val children: mutable.HashMap[String, Node]    = mutable.HashMap.empty
    val clusters: mutable.ArrayBuffer[LogCluster]  = mutable.ArrayBuffer.empty
  }

  private val rootByLen: mutable.HashMap[Int, Node] = mutable.HashMap.empty

  private def hasNumbers(s: String): Boolean = s.exists(_.isDigit)

  /** Drain.py:146-160 — token-position similarity; `<*>` in the template is
    * skipped (counted as a parameter, used only for tie-breaking).
    */
  private def seqDist(template: Vector[String], seq: Vector[String]): (Double, Int) = {
    var sim = 0; var par = 0; var i = 0
    while (i < template.length) {
      val t = template(i)
      if (t == "<*>") par += 1
      else if (t == seq(i)) sim += 1
      i += 1
    }
    (sim.toDouble / template.length, par)
  }

  /** Drain.py:162-179 — best cluster by (similarity, #params); ≥ st or none. */
  private def fastMatch(cands: mutable.ArrayBuffer[LogCluster], seq: Vector[String]): Option[LogCluster] = {
    var maxSim = -1.0; var maxPar = -1; var best: LogCluster = null
    var i = 0
    while (i < cands.length) {
      val c = cands(i)
      val (s, p) = seqDist(c.tokens, seq)
      if (s > maxSim || (s == maxSim && p > maxPar)) { maxSim = s; maxPar = p; best = c }
      i += 1
    }
    if (maxSim >= cfg.st) Option(best) else None
  }

  /** Array-specialized match path (no per-row Vector): same semantics as
    * [[search]], used by the broadcast matcher's hot loop.
    */
  def searchArr(seq: Array[String]): LogCluster = {
    val first = rootByLen.getOrElse(seq.length, null)
    if (first == null) return null
    var parent = first
    var depth  = 1
    var i      = 0
    while (i < seq.length && depth < cfg.internalDepth && depth <= seq.length) {
      val tok = seq(i)
      val n = parent.children.getOrElse(tok, parent.children.getOrElse("<*>", null))
      if (n == null) return null
      parent = n
      depth += 1; i += 1
    }
    // fastMatch on arrays
    val cands = parent.clusters
    var maxSim = -1.0; var maxPar = -1; var best: LogCluster = null
    var c = 0
    while (c < cands.length) {
      val cl  = cands(c)
      val tpl = cl.tokens
      var sim = 0; var par = 0; var j = 0
      while (j < tpl.length) {
        val t = tpl(j)
        if (t == "<*>") par += 1
        else if (t == seq(j)) sim += 1
        j += 1
      }
      val s = sim.toDouble / tpl.length
      if (s > maxSim || (s == maxSim && par > maxPar)) { maxSim = s; maxPar = par; best = cl }
      c += 1
    }
    if (maxSim >= cfg.st) best else null
  }

  /** Drain.py:60-86 — descend (length, token-prefix) layers to the leaf. */
  def search(seq: Vector[String]): Option[LogCluster] = {
    rootByLen.get(seq.length).flatMap { first =>
      var parent = first
      var depth  = 1
      var i      = 0
      var dead   = false
      while (!dead && i < seq.length && depth < cfg.internalDepth && depth <= seq.length) {
        val tok = seq(i)
        parent.children.get(tok).orElse(parent.children.get("<*>")) match {
          case Some(n) => parent = n
          case None    => dead = true
        }
        depth += 1; i += 1
      }
      if (dead) None else fastMatch(parent.clusters, seq)
    }
  }

  /** Drain.py:88-143 — insert a new cluster, capping children at maxChild and
    * forcing digit-bearing tokens to `<*>`.
    */
  private def addToTree(cluster: LogCluster): Unit = {
    val seq   = cluster.tokens
    var parent = rootByLen.getOrElseUpdate(seq.length, new Node)
    var depth = 1
    var i     = 0
    var done  = false
    while (!done) {
      if (depth >= cfg.internalDepth || depth > seq.length) {
        parent.clusters += cluster
        done = true
      } else {
        val tok = seq(i)
        parent.children.get(tok) match {
          case Some(n) => parent = n
          case None =>
            if (!hasNumbers(tok)) {
              if (parent.children.contains("<*>")) {
                if (parent.children.size < cfg.maxChild) {
                  val n = new Node; parent.children(tok) = n; parent = n
                } else parent = parent.children("<*>")
              } else {
                if (parent.children.size + 1 < cfg.maxChild) {
                  val n = new Node; parent.children(tok) = n; parent = n
                } else if (parent.children.size + 1 == cfg.maxChild) {
                  val n = new Node; parent.children("<*>") = n; parent = n
                } else parent = parent.children("<*>")
              }
            } else {
              parent = parent.children.getOrElseUpdate("<*>", new Node)
            }
        }
        depth += 1; i += 1
      }
    }
  }

  /** Drain.py:181-194 — position-wise template merge: mismatch → `<*>`. */
  private def mergeTemplate(seq: Vector[String], tpl: Vector[String]): Vector[String] = {
    val out = Vector.newBuilder[String]
    var i = 0
    while (i < seq.length) { out += (if (seq(i) == tpl(i)) tpl(i) else "<*>"); i += 1 }
    out.result()
  }

  /** One observation (Drain.py:255-273). `weight` > 1 replays a whole mined
    * cluster during the driver-side merge.
    */
  def insert(seq: Vector[String], weight: Long = 1L): Unit = {
    if (seq.nonEmpty) search(seq) match {
      case None =>
        addToTree(new LogCluster(seq, weight))
      case Some(c) =>
        val merged = mergeTemplate(seq, c.tokens)
        c.count += weight
        if (merged != c.tokens) c.tokens = merged
    }
  }

  /** Array-specialized [[insert]] — the MINE-phase hot loop (round-7): same
    * semantics through [[searchArr]] (the bit-identical array twin of
    * [[search]]) and a position-wise merge that only materializes a new
    * token Vector when the template actually changes; the Vector-based form
    * built one Vector per ROW. DrainSpec's oracle-parity and
    * partition-invariance suites pin the equivalence.
    */
  def insertArr(seq: Array[String], weight: Long = 1L): Unit = {
    if (seq.length != 0) {
      val c = searchArr(seq)
      if (c == null) addToTree(new LogCluster(seq.toVector, weight))
      else {
        val tpl = c.tokens
        c.count += weight
        var changed = false
        var i = 0
        while (!changed && i < seq.length) {
          // merged(i) = tpl(i) when equal, else "<*>"; it differs from
          // tpl(i) only when they mismatch AND tpl(i) is not already "<*>"
          if (seq(i) != tpl(i) && tpl(i) != "<*>") changed = true
          i += 1
        }
        if (changed) {
          val out = Vector.newBuilder[String]
          var j = 0
          while (j < seq.length) {
            out += (if (seq(j) == tpl(j)) tpl(j) else "<*>"); j += 1
          }
          c.tokens = out.result()
        }
      }
    }
  }

  /** Insert preserving the template verbatim (frozen match-phase dictionary).
    * Returns the cluster so callers can attach metadata (precomputed ids).
    */
  def insertFrozen(seq: Vector[String], count: Long): LogCluster = {
    val c = new LogCluster(seq, count)
    addToTree(c)
    c
  }

  def clusters: Vector[MinedCluster] = {
    val out = Vector.newBuilder[MinedCluster]
    def walk(n: Node): Unit = {
      n.clusters.foreach(c => out += MinedCluster(c.tokens, c.count))
      n.children.valuesIterator.foreach(walk)
    }
    rootByLen.valuesIterator.foreach(walk)
    out.result()
  }
}

/** Two-phase distributed Drain (SURVEY.md §2.3 T1).
  *
  * The reference's miner is order-dependent (templates mutate as lines arrive,
  * Drain.py:270-273) and single-threaded. The Spark-first re-expression:
  *
  *   (a) '''mine''' — a Drain tree per partition via `mapPartitions`, partial
  *       cluster lists collected (templates only — tiny) and merged on the
  *       driver through a fresh tree in deterministic (length, template) order;
  *   (b) '''match''' — the finalized dictionary is broadcast (frozen tree) and
  *       every row is matched embarrassingly-parallel with the same
  *       `seqDist ≥ st` rule; no mutation, fully deterministic.
  *
  * Tests' oracle runs the same two phases single-threaded (SURVEY.md §7.3.1).
  */
object Drain {

  // MessageDigest.getInstance synchronizes on the JCA provider registry —
  // a per-row call serializes all executor threads (measured: the match UDF
  // ran 2× SLOWER at local[32] than local[8]). One digest per thread.
  private val md5Local: ThreadLocal[MessageDigest] =
    ThreadLocal.withInitial(() => MessageDigest.getInstance("MD5"))

  def md5_8(s: String): String = {
    val md = md5Local.get()
    md.reset()
    val d = md.digest(s.getBytes("UTF-8"))
    d.take(4).map(b => f"${b & 0xff}%02x").mkString
  }

  // Pattern compilation is per-call in String.replaceAll/split — cache
  // compiled patterns (Pattern is immutable + thread-safe).
  private val patternCache =
    new java.util.concurrent.ConcurrentHashMap[String, java.util.regex.Pattern]()
  private[parse] def pattern(rx: String): java.util.regex.Pattern =
    patternCache.computeIfAbsent(rx, java.util.regex.Pattern.compile(_))
  private val wsPattern = java.util.regex.Pattern.compile("\\s+")

  /** Drain.py:290-293 — chained regex scrub to `<*>`. */
  def scrub(text: String, regexes: Seq[String]): String =
    regexes.foldLeft(text)((t, r) => pattern(r).matcher(t).replaceAll("<*>"))

  /** Drain.py:258 — whitespace tokenization after scrub. Array variant is
    * the hot (match-phase) path: no Vector conversion, no second copy when
    * there are no empty tokens (the common case).
    */
  def tokenizeArr(text: String, scrubRegexes: Seq[String]): Array[String] = {
    val parts = wsPattern.split(scrub(text, scrubRegexes).trim)
    var clean = true
    var i = 0
    while (clean && i < parts.length) { if (parts(i).isEmpty) clean = false; i += 1 }
    if (clean) parts else parts.filter(_.nonEmpty)
  }

  def tokenize(text: String, scrubRegexes: Seq[String]): Vector[String] =
    tokenizeArr(text, scrubRegexes).toVector

  /** Phase (a): mine per-partition trees, merge deterministically. */
  def mine(df: DataFrame, textCol: String, cfg: DrainConfig): Vector[TemplateEntry] = {
    val scrubRx = cfg.scrub
    val partials: Array[MinedCluster] =
      df.select(col(textCol)).na.drop()
        .mapPartitions { it =>
          val tree = new DrainTree(cfg)
          // array tokenization + array insert: no per-row Vector (round-7)
          it.foreach(r => tree.insertArr(tokenizeArr(r.getString(0), scrubRx)))
          tree.clusters.iterator
        }(org.apache.spark.sql.Encoders.product[MinedCluster])
        .collect()
    mergePartials(partials.toIndexedSeq, cfg)
  }

  /** Deterministic driver-side merge: replay partials through a fresh tree in
    * (token-count, template-text, -count) order, then finalize ids/counts.
    */
  def mergePartials(partials: Seq[MinedCluster], cfg: DrainConfig): Vector[TemplateEntry] = {
    val tree = new DrainTree(cfg)
    partials
      .sortBy(c => (c.tokens.length, c.tokens.mkString(" "), -c.count))
      .foreach(c => tree.insert(c.tokens.toVector, c.count))
    // identical post-merge templates may coexist as distinct clusters → fold
    tree.clusters
      .groupBy(_.tokens)
      .map { case (toks, cs) =>
        val t = toks.mkString(" ")
        TemplateEntry(md5_8(t), t, cs.map(_.count).sum)
      }
      .toVector
      .sorted(dictOrder)
  }

  /** The dictionary order [[mergePartials]] emits: most frequent first, ties
    * by template text. A [[Matcher]] built from a dictionary read back from
    * storage must see this order again — its tree's tie-breaks follow
    * insertion order.
    */
  val dictOrder: Ordering[TemplateEntry] = Ordering.by(t => (-t.occurrences, t.event_template))

  /** A frozen matcher over a finalized dictionary, broadcast-friendly.
    * Event ids are precomputed per template — the hot per-row path does no
    * hashing at all (only the rare fallback does).
    */
  final class Matcher(entries: Seq[TemplateEntry], cfg: DrainConfig) extends Serializable {
    private val tree = new DrainTree(cfg)
    // cluster identity → id: read-only after construction; identity survives
    // java serialization (one object graph per broadcast value)
    private val idByCluster = new java.util.IdentityHashMap[AnyRef, String]()
    private val insertedClusters = new java.util.ArrayList[tree.LogCluster]()
    entries.foreach { e =>
      val c = tree.insertFrozen(e.event_template.split(" ").toVector, e.occurrences)
      idByCluster.put(c, e.event_id)
      insertedClusters.add(c)
    }
    private val idByTemplate: Map[String, String] =
      entries.map(e => e.event_template -> e.event_id).toMap
    // (id, template) per cluster, precomputed AFTER all inserts (the tree is
    // frozen, so cluster tokens cannot change later): the matchText hit path
    // previously rebuilt the template string (tokens.mkString) and re-looked
    // it up PER ROW for one of ~|dict| distinct outcomes.
    private val pairByCluster = {
      val m = new java.util.IdentityHashMap[AnyRef, (String, String)]()
      val it = insertedClusters.iterator()
      while (it.hasNext) {
        val c = it.next()
        val t = c.tokens.mkString(" ")
        m.put(c, (idByTemplate.getOrElse(t, md5_8(t)), t))
      }
      m
    }
    private val scrubRx = cfg.scrub

    /** Id-only match: no per-row template string or Vector is built on the
      * hit path (array tokenization + precomputed cluster ids).
      */
    def matchId(text: String): String = {
      val toks = tokenizeArr(text, scrubRx)
      val c    = tree.searchArr(toks)
      if (c != null) {
        val id = idByCluster.get(c)
        if (id != null) id else md5_8(c.tokens.mkString(" "))
      } else {
        md5_8(toks.map(t => if (t.exists(_.isDigit)) "<*>" else t).mkString(" "))
      }
    }

    /** Match one raw text → (event_id, event_template). Unmatched rows fall
      * back to their own digit-masked token sequence (pinned deterministic
      * rule, SURVEY.md §7.3.2).
      */
    def matchText(text: String): (String, String) = {
      val toks = tokenizeArr(text, scrubRx)
      val c    = tree.searchArr(toks)
      if (c != null) {
        val pre = pairByCluster.get(c)
        if (pre != null) pre
        else { val t = c.tokens.mkString(" "); (idByTemplate.getOrElse(t, md5_8(t)), t) }
      } else {
        val t = toks.map(t => if (t.exists(_.isDigit)) "<*>" else t).mkString(" ")
        (md5_8(t), t)
      }
    }
  }

  /** Phase (b): append `event_id`, `event_template` by matching `textCol`
    * against the broadcast dictionary. Narrow (no shuffle), deterministic.
    */
  def matchTemplates(df: DataFrame, textCol: String, dict: Seq[TemplateEntry],
                     cfg: DrainConfig): DataFrame = {
    // codegen'd expression over the broadcast frozen tree (round-7): no
    // ScalaUDF row-conversion boundary, and the plan carries only the
    // broadcast handle (the graft_bloom_contains pattern)
    val bc = df.sparkSession.sparkContext.broadcast(new Matcher(dict, cfg))
    df.withColumn("__m", column(DrainMatch(expression(col(textCol)), bc)))
      .withColumn("event_id", col("__m.event_id"))
      .withColumn("event_template", col("__m.event_template"))
      .drop("__m")
  }

  /** Phase (b), id-only variant: when downstream only needs `event_id`
    * (e.g. the pipeline's slim stage output), skip building the per-row
    * template string — Catalyst cannot prune inside the struct kernel, so
    * the pruning happens here.
    */
  def matchEventIds(df: DataFrame, textCol: String, dict: Seq[TemplateEntry],
                    cfg: DrainConfig): DataFrame = {
    val bc = df.sparkSession.sparkContext.broadcast(new Matcher(dict, cfg))
    df.withColumn("event_id", column(DrainMatchId(expression(col(textCol)), bc)))
  }

  /** End-to-end parse: mine + match in one call. */
  def parse(df: DataFrame, textCol: String, cfg: DrainConfig): (DataFrame, Vector[TemplateEntry]) = {
    val dict = mine(df, textCol, cfg)
    (matchTemplates(df, textCol, dict, cfg), dict)
  }

  /** End-to-end id-only parse: mine + [[matchEventIds]]. For consumers that
    * never read `event_template`: [[parse]]'s match expression computes the
    * (id, template) STRUCT per row, and extracting only `.event_id` does
    * not stop the kernel from building the template string — this variant
    * plans `graft_drain_match_id`, whose hit path does no per-row string
    * building at all. event_id values are identical to [[parse]]'s
    * (tokenizeArr/searchArr are [[tokenize]]/[[search]]'s bit-identical
    * twins and both matchers resolve a matched cluster to the same
    * precomputed id; DrainSpec pins id-only == struct-path ids row-for-row).
    */
  def parseIds(df: DataFrame, textCol: String, cfg: DrainConfig): (DataFrame, Vector[TemplateEntry]) = {
    val dict = mine(df, textCol, cfg)
    (matchEventIds(df, textCol, dict, cfg), dict)
  }

  /** T3 parameter extraction (Drain.py:336-345) — the *intended* semantics:
    * template `<*>` slots → non-greedy capture groups, other chars literal,
    * runs of spaces → `\s+`, anchored. (The reference's own implementation
    * escapes the space before substituting `\s+`, producing `\\s+` — a literal
    * backslash — so its ParameterList is empty for any multi-token template;
    * we implement the documented intent and pin it with tests.)
    */
  def parameterPattern(template: String): java.util.regex.Pattern = {
    val normalized = template.replaceAll("<.{1,5}>", "<*>")
    val sb = new StringBuilder("^")
    var i = 0
    while (i < normalized.length) {
      if (normalized.startsWith("<*>", i)) { sb.append("(.*?)"); i += 3 }
      else if (normalized.charAt(i) == ' ') {
        sb.append("\\s+"); while (i < normalized.length && normalized.charAt(i) == ' ') i += 1
      } else { sb.append(java.util.regex.Pattern.quote(normalized.charAt(i).toString)); i += 1 }
    }
    sb.append("$")
    java.util.regex.Pattern.compile(sb.toString)
  }

  // template → compiled parameter pattern (dictionaries are small; the cache
  // avoids a per-row Pattern.compile)
  private val paramPatternCache =
    new java.util.concurrent.ConcurrentHashMap[String, java.util.regex.Pattern]()

  /** Column of extracted parameters: `parameters: array<string>`. */
  def extractParameters(df: DataFrame, textCol: String, templateCol: String): DataFrame = {
    val extractUdf = udf { (text: String, template: String) =>
      if (text == null || template == null) Seq.empty[String]
      else {
        val p = paramPatternCache.computeIfAbsent(template, parameterPattern(_))
        val m = p.matcher(text)
        if (m.matches()) (1 to m.groupCount()).map(m.group) else Seq.empty[String]
      }
    }
    df.withColumn("parameters", extractUdf(col(textCol), col(templateCol)))
  }
}
