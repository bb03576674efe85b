package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.sources.Transcripts
import graft.parse.{Drain, DrainConfig}
import graft.enrich.Enrich
import graft.agg.Features
import org.apache.spark.TestListenerBus
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.apache.spark.sql.util.QueryExecutionListener
import scala.jdk.CollectionConverters._

/** Physical-plan assertions: the properties that make the operators hold up
  * at 100 TB must be visible in the plan, not just hoped for. Plans are
  * inspected AFTER execution so AQE's final plan (isFinalPlan=true) is what
  * is asserted.
  */
class PlanSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  val dir = "/root/testdata/sf0.001"

  /** Execute, then render the final (post-AQE) physical plan. */
  def finalPlan(df: org.apache.spark.sql.DataFrame): String = {
    df.collect()
    df.queryExecution.executedPlan.toString
  }

  test("parquet scan: filter and column pruning reach the scan") {
    val df = spark.read.parquet(s"$dir/lineitem.parquet")
      .filter(col("l_quantity") > 30)
      .select("l_orderkey", "l_quantity")
    val scan = df.queryExecution.executedPlan.collectLeaves().head.toString
    assert(scan.contains("PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,30.0)]"),
      s"filter not pushed:\n$scan")
    assert(scan.contains("ReadSchema: struct<l_orderkey:bigint,l_quantity:double>"),
      s"columns not pruned:\n$scan")
  }

  test("enrich joins are broadcast hash joins (no sort-merge shuffle)") {
    val t = Transcripts.fromEvents(spark, dir)
    val labels = t.groupBy(col("conv_id"))
      .agg(max(when(col("role") === "tool", 1).otherwise(0)).as("label"))
    val plan = finalPlan(Enrich.convLabels(t, labels))
    assert(plan.contains("BroadcastHashJoin"), s"no broadcast join:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      "sort-merge join crept into a dict-lookup enrich")
  }

  test("route write plan: one conv_id exchange, no broadcast, no label in the shuffle, no labels stage") {
    val executions = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        executions.add(qe)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    val work = java.nio.file.Files.createTempDirectory("graft-plan-route").toString
    val t = Transcripts.synthetic(spark, 300, seed = 48L, partitions = 8)
    val sc = spark.sparkContext
    TestListenerBus.drain(sc)
    spark.listenerManager.register(listener)
    try {
      graft.pipeline.Pipeline.run(spark, t, work)
      TestListenerBus.drain(sc)
    } finally spark.listenerManager.unregister(listener)

    // every node that ran: adaptive plans contribute their final plan
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec        => nodes(q.plan)
      case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
    }
    val routeWrites = executions.asScala.toSeq.map(qe => nodes(qe.executedPlan)).filter(_.exists {
      case w: DataWritingCommandExec => w.cmd.toString.contains(s"$work/route/data")
      case _ => false
    })
    assert(routeWrites.size === 1, s"${routeWrites.size} route write plans")
    val plan = routeWrites.head
    val exchanges = plan.collect { case e: ShuffleExchangeLike => e }
    assert(exchanges.size === 1, s"route write shuffles ${exchanges.size} times:\n${plan.head}")
    exchanges.head.outputPartitioning match {
      case HashPartitioning(Seq(key: Attribute), n) =>
        assert(key.name === "conv_id" && n === sc.defaultParallelism)
      case other => fail(s"route exchange is $other, not hashpartitioning(conv_id, n)")
    }
    assert(!exchanges.head.child.output.exists(_.name == "label"),
      s"label crosses the route exchange: ${exchanges.head.child.output}")
    assert(!plan.exists(_.isInstanceOf[BroadcastExchangeLike]), s"broadcast in route write:\n${plan.head}")
    assert(!plan.exists(_.isInstanceOf[BroadcastHashJoinExec]), s"broadcast join in route write:\n${plan.head}")
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$work/labels")))
  }

  test("template match phase is narrow: no exchange between scan and match") {
    val t = Transcripts.fromEvents(spark, dir)
    val dict = Drain.mine(t, "text", DrainConfig(4, 0.4))
    // match over an already-loaded table must not shuffle
    val plain = spark.read.parquet(s"$dir/events.parquet")
      .select(col("props").as("text"))
    val matched = Drain.matchTemplates(plain, "text", dict, DrainConfig(4, 0.4))
    val plan = finalPlan(matched)
    assert(!plan.contains("Exchange"), s"match phase introduced a shuffle:\n$plan")
  }

  test("salted count is a two-level aggregate (partial+final × salt+rollup)") {
    val t = Transcripts.fromEvents(spark, dir).withColumn("event_id", lit("e"))
    val plan = finalPlan(Features.saltedCount(t, "event_id"))
    val aggs = "HashAggregate".r.findAllIn(plan).size
    assert(aggs >= 4, s"expected two-level aggregate, got $aggs HashAggregate nodes:\n$plan")
  }

  test("fixedWindows reuses the conv_id exchange for the window aggregate") {
    val t = Transcripts.fromEvents(spark, dir).withColumn("event_id", lit("e"))
    val plan = finalPlan(graft.windows.Windows.fixedWindows(t, 4, 2))
      .split("== Initial Plan ==")(0) // assert on the executed (final) plan only
    // exactly 1 exchange: the transcripts derivation numbers turns inside
    // hashpartitioning(conv_id), and that ONE exchange serves the turn
    // numbering, the window's row number AND the final
    // groupBy(conv_id, win_start) — no second shuffle appears
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges === 1, s"fixedWindows shuffles too much ($exchanges):\n$plan")
    assert(!plan.contains("CartesianProduct"), "cartesian in fixedWindows")
  }

  test("ngram-Jaccard near-dup join is a shuffle join on the shingle key, never cartesian") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val plan = finalPlan(
      graft.dedup.Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.3))
    assert(!plan.contains("CartesianProduct"), s"cartesian crept in:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"), s"nested-loop join crept in:\n$plan")
  }

  test("embedding LSH dedup plans equi-joins only: no nested-loop, no cartesian") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val plan = finalPlan(graft.dedup.Dedup.embeddingLshPairs(
      emb, "vec_id", "embedding", tau = 0.35, nPlanes = 4, tables = 4))
    assert(!plan.contains("BroadcastNestedLoopJoin"), s"nested-loop join:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"cartesian:\n$plan")
  }

  test("lshTopK bucket exchange carries no vector column (id-only candidates)") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val q = graft.ann.Similarity.lshTopK(emb, "vec_id", "embedding",
      (0L until 5L), 5, nPlanes = 6, tables = 4)
    q.collect()
    // every Exchange in the candidate path must shuffle narrow rows: no
    // exchange output may contain the vector column `v` (vectors join back
    // by id after the (qid, id) dedup)
    val exchanges = q.queryExecution.executedPlan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    exchanges.foreach { e =>
      assert(!e.output.exists(a => a.name == "v" || a.name == "qv"),
        s"bucket exchange shuffles vectors: ${e.output.map(_.name)}")
    }
    assert(!finalPlan(q).contains("CartesianProduct"))
  }

  test("driver LSH/minhash/winnow queries take the FUSED expressions, not the composed fallbacks") {
    // the fused kernels are 3-6x the composed forms (BASELINE.md round 3);
    // a call site rewritten to a composed form is a perf regression this
    // test exists to catch
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val emb  = spark.read.parquet(s"$dir/embeddings.parquet")
    val mh = finalPlan(graft.dedup.Dedup.minhashLshPairs(docs, "doc_id", "text", 3, 24, 4, 0.3))
    assert(mh.contains("graft_minhash"), "minhash query lost the fused signature")
    assert(mh.contains("graft_shingles"), "minhash query lost the fused shingles")
    val el = finalPlan(graft.dedup.Dedup.embeddingLshPairs(emb, "vec_id", "embedding", 0.35))
    assert(el.contains("graft_hyperplane_buckets"), "embedding LSH lost the fused buckets")
    assert(!el.contains("graft_dot(" + "transform"),
      "embedding LSH re-expanded a per-plane dot forest")
    val wn = finalPlan(docs.select(graft.text.TextAnalysis.winnowFingerprints(col("text"))))
    assert(wn.contains("graft_winnow"), "winnowing lost the fused kernel")
  }

  test("round-7 driver queries take the new fused kernels, not the composed fallbacks") {
    def analyzed(name: String): String =
      SparkEntry.queries(name)(spark, dir).queryExecution.analyzed.toString
    assert(analyzed("q_pii_scrub").contains("graft_pii_scrub"))
    assert(analyzed("q_quality_classifier").contains("graft_hash_features"))
    assert(analyzed("q_dedup_lines").contains("graft_dedup_lines"))
    val qr = analyzed("q_quality_rules")
    assert(qr.contains("graft_gopher") && qr.contains("graft_reflow"))
    assert(analyzed("q_langid_profiles").contains("graft_langid"))
    assert(analyzed("q_lm_score").contains("graft_ngrams"))
    val cu = analyzed("q_curation")
    assert(cu.contains("graft_fingerprint") && cu.contains("graft_pii_scrub") &&
      cu.contains("graft_gopher") && cu.contains("graft_dedup_lines"))
    // q_concat_chunks/q_exact_quantiles hide the count behind the Rank
    // RDD materialization in `analyzed`; q_sft_budget shows it directly
    assert(analyzed("q_sft_budget").contains("graft_ws_tokens"))
    // the fused classifier and langid are MAP-ONLY: no exchange at all
    Seq("q_quality_classifier", "q_langid_profiles").foreach { q =>
      val plan = finalPlan(SparkEntry.queries(q)(spark, dir))
      assert(!plan.contains("Exchange"), s"$q regained a shuffle:\n$plan")
    }
    // id-only parse consumers plan graft_drain_match_id — the struct match
    // (graft_drain_match) builds the template string per row even when only
    // .event_id is extracted, so a call site silently reverting to parsed()
    // is a perf regression; template-bearing queries keep the struct match
    // (q_vocab hides the match behind the Rank RDD materialization, like
    // q_concat_chunks above — asserted via the other consumers instead)
    Seq("q_session_seq", "q_fixed_window", "q_history", "q_tfidf",
        "q_count_vector", "q_route_counts").foreach { q =>
      val a = analyzed(q)
      assert(a.contains("graft_drain_match_id"), s"$q lost the id-only match")
      assert(!a.contains("graft_drain_match("), s"$q still plans the struct match")
    }
    assert(analyzed("q_parse_structured").contains("graft_drain_match("))
  }

  test("ivfTopK plans no full-corpus InMemoryRelation (hash-sampled quantizer)") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val q = graft.ann.Similarity.ivfTopK(emb, "vec_id", "embedding",
      (0L until 5L), 5, nLists = 4, nProbe = 2, iters = 1)
    q.collect()
    val plan = finalPlan(q)
    assert(!plan.contains("InMemoryTableScan"),
      s"IVF search path reads a cached full corpus:\n$plan")
  }

  test("simhash banded pairing plans equi-joins only: no nested-loop, no cartesian") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val plan = finalPlan(graft.dedup.Dedup.simhashPairs(docs, "doc_id", "text", 7))
    assert(!plan.contains("BroadcastNestedLoopJoin"), s"nested-loop join:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"cartesian:\n$plan")
  }

  test("vocab rank is distributed: multi-partition output, matches single-node ranking") {
    // 1000 distinct keys with distinct frequencies — the round-1 form ranked
    // them through a partition-less window (ONE task); the two-phase rank
    // must spread the ranked output across range partitions
    val rows = (1 to 1000).flatMap(i => Seq.fill(i % 7 + 1)(f"k$i%04d"))
    val df = rows.toDF("event_id").repartition(8)
    val v = Features.vocab(df)
    assert(v.rdd.getNumPartitions > 1, "vocab ranking coalesced to one partition")
    val got = v.select("event_id", "vocab_id").as[(String, Int)].collect().toMap
    val expected = rows.groupBy(identity).view.mapValues(_.size).toSeq
      .sortBy { case (k, f) => (-f, k) }.zipWithIndex
      .map { case ((k, _), i) => k -> (i + 1) }.toMap
    assert(got === expected)
  }

  test("count vectors keep whole-stage codegen (no UDF in the aggregate path)") {
    val parsed = Seq(("c1", "e1"), ("c1", "e2")).toDF("conv_id", "event_id")
    val plan = finalPlan(Features.countVectors(parsed, Seq("conv_id")))
    // "*(n)" prefixes mark WholeStageCodegen spans in the compact rendering
    assert(plan.contains("*(1) HashAggregate") || plan.contains("WholeStageCodegen"),
      s"aggregate path fell out of whole-stage codegen:\n$plan")
    assert(plan.contains("partial_count"), "no map-side partial aggregation")
  }

  test("scale-safe default: ngramJaccard ships the hot-shingle df cap unless opted out") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    // default = Some(10000): the hot-shingle broadcast anti-join is in the plan
    val guarded = finalPlan(
      graft.dedup.Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.3))
    assert(guarded.contains("LeftAnti"), s"default lost the hot-shingle guard:\n$guarded")
    // the exact-baseline opt-out (the oracle path) carries no guard join
    val exact = finalPlan(graft.dedup.Dedup.ngramJaccardPairs(
      docs, "doc_id", "text", 3, 0.3, maxShingleDf = None))
    assert(!exact.contains("LeftAnti"), "opt-out still plans the guard")
  }

  test("scale-safe default: IVF auto quantizer sampling bounds the train set") {
    // tiny corpus -> mod 1 (full-corpus training == the pinned oracle path)
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    assert(graft.ann.Similarity.autoSampleMod(emb) === 1L)
    // a billion-row source must come out sampled WITHOUT running a job
    val big = spark.range(1L << 30).toDF("id")
    val mod = graft.ann.Similarity.autoSampleMod(big)
    assert(mod > 1L, s"auto sampling left a 2^30-row quantizer train set (mod=$mod)")
  }
}
