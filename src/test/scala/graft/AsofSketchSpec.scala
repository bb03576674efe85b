package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.agg.Sketches
import graft.enrich.Enrich

/** As-of join semantics + KMV sketch: correctness on hand-computable inputs
  * and the plan shapes that make both scale (no join operator at all for
  * as-of; no global sort for the sketch's top-k).
  */
class AsofSketchSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("asOfJoin: latest update at ts <= event ts, per key, ties visible, null before first") {
    val left = Seq(
      ("a", 1, 5L), ("a", 2, 10L), ("a", 3, 15L), ("a", 4, 20L),
      ("b", 1, 7L), ("c", 1, 100L))
      .toDF("k", "idx", "ts")
    val right = Seq(
      ("a", 10L, "u1"), ("a", 18L, "u2"),
      ("b", 8L, "late"), ("c", 100L, "exact"))
      .toDF("k", "ts", "v")
    val got = Enrich.asOfJoin(left, right, Seq("k"), "ts", Seq("v"))
      .select("k", "idx", "v").as[(String, Int, String)].collect()
      .map(t => (t._1, t._2) -> t._3).toMap
    assert(got === Map(
      ("a", 1) -> null,     // before any update
      ("a", 2) -> "u1",     // tie: update at ts==10 IS visible
      ("a", 3) -> "u1",
      ("a", 4) -> "u2",
      ("b", 1) -> null,     // update arrives after the only event
      ("c", 1) -> "exact")) // tie on the first update
  }

  test("asOfJoin carries multiple value columns and preserves left schema") {
    val left  = Seq(("a", 1, 5L), ("a", 2, 9L)).toDF("k", "idx", "ts")
    val right = Seq(("a", 6L, 42, "x")).toDF("k", "ts", "n", "s")
    val out = Enrich.asOfJoin(left, right, Seq("k"), "ts", Seq("n", "s"))
    assert(out.columns.toSeq === Seq("k", "idx", "ts", "n", "s"))
    val rows = out.orderBy("idx").collect()
    assert(rows(0).isNullAt(3) && rows(0).isNullAt(4))
    assert(rows(1).getInt(3) === 42 && rows(1).getString(4) === "x")
  }

  test("asOfJoin plans NO join operator — one exchange, window-only") {
    val left  = Seq(("a", 1, 5L)).toDF("k", "idx", "ts")
    val right = Seq(("a", 6L, 1)).toDF("k", "ts", "n")
    val plan = Enrich.asOfJoin(left, right, Seq("k"), "ts", Seq("n"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"as-of should be join-free:\n$plan")
    assert(plan.contains("Window"), "expected the running-last window")
  }

  test("kmvDistinct: exact below k, estimate within 3 stderr above k, deterministic") {
    // below k: the sketch IS the exact count
    val small = (0 until 40).map(i => s"doc-$i").toDF("text")
    val exactRow = Sketches.kmvDistinct(small, "text", k = 64).collect()(0)
    assert(exactRow.getLong(0) === 40L)
    assert(exactRow.getDouble(2) === 40.0)
    // above k: 5000 distinct values, k=64 -> stderr ~ 1/sqrt(62) ~ 12.7%
    val big = (0 until 5000).map(i => s"value-$i").toDF("text")
    val est = Sketches.kmvDistinct(big, "text", k = 64).collect()(0).getDouble(2)
    assert(math.abs(est - 5000) / 5000 < 0.38, s"est=$est")
    // duplicates don't change the sketch (distinct semantics)
    val dup = big.union(big).union(big)
    val estDup = Sketches.kmvDistinct(dup, "text", k = 64).collect()(0).getDouble(2)
    assert(estDup === est)
  }

  test("asOfJoin is invariant to partitioning (2 vs 16 partitions)") {
    val rng = new scala.util.Random(9)
    val left = (0 until 500).map(i =>
      (s"k${rng.nextInt(8)}", i, rng.nextInt(10000).toLong)).toDF("k", "idx", "ts")
    val right = (0 until 120).map(i =>
      (s"k${rng.nextInt(8)}", rng.nextInt(10000).toLong * 2, i)).toDF("k", "ts", "v")
      .dropDuplicates("k", "ts") // unique (key, ts) per the documented contract
    def run(n: Int) = Enrich.asOfJoin(
        left.repartition(n), right.repartition(n), Seq("k"), "ts", Seq("v"))
      .select("k", "idx", "v").collect()
      .map(r => (r.getString(0), r.getInt(1)) -> (if (r.isNullAt(2)) -1 else r.getInt(2)))
      .toMap
    assert(run(2) === run(16))
  }

  test("rangeJoinBinned == brute-force interval containment; equi-join plan only") {
    val rng = new scala.util.Random(5)
    val events = (0 until 400).map(i =>
      (s"k${rng.nextInt(4)}", i, new java.sql.Timestamp(rng.nextInt(100000).toLong * 1000)))
    val ivals = (0 until 60).map { i =>
      val t0 = rng.nextInt(90000).toLong * 1000
      (s"k${rng.nextInt(4)}", i, new java.sql.Timestamp(t0),
        new java.sql.Timestamp(t0 + rng.nextInt(20000).toLong * 1000))
    }
    val eDf = events.toDF("k", "eid", "ts")
    val iDf = ivals.toDF("k", "iid", "t0", "t1")
    val got = graft.windows.Windows.rangeJoinBinned(
        eDf, iDf, Seq("k"), "ts", "t0", "t1", Seq("iid"), binSec = 7)
      .select("eid", "iid").as[(Int, Int)].collect().toSet
    val expected = (for {
      (ek, eid, ts) <- events
      (ik, iid, t0, t1) <- ivals
      if ek == ik && !ts.before(t0) && !ts.after(t1)
    } yield (eid, iid)).toSet
    assert(got === expected)
    assert(expected.nonEmpty, "vacuous fixture")
    val plan = graft.windows.Windows.rangeJoinBinned(
      eDf, iDf, Seq("k"), "ts", "t0", "t1", Seq("iid"), binSec = 7)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"), s"nested loop:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"cartesian:\n$plan")
  }

  test("asOfJoin: duplicate updates at one (key, ts) resolve to the MAX value struct, deterministically") {
    val left = Seq(("a", 1, 10L), ("a", 2, 20L)).toDF("k", "idx", "ts")
    // three updates on the same (key, ts): max struct = (9, "z") must win,
    // whatever the partitioning or input order
    val right = Seq(("a", 10L, 3, "z"), ("a", 10L, 9, "z"), ("a", 10L, 9, "a"),
      ("a", 15L, 1, "mid")).toDF("k", "ts", "n", "s")
    def run(leftParts: Int, rightParts: Int) = Enrich.asOfJoin(
        left.repartition(leftParts), right.repartition(rightParts),
        Seq("k"), "ts", Seq("n", "s"))
      .select("idx", "n", "s").as[(Int, Int, String)].collect().toSet
    val expected = Set((1, 9, "z"), (2, 1, "mid"))
    assert(run(1, 1) === expected)
    assert(run(7, 3) === expected)
    assert(run(2, 16) === expected)
  }

  test("asOfJoin accepts unorderable (map) value columns — canonical-hash tie-break") {
    val left = Seq(("a", 1, 10L), ("a", 2, 3L)).toDF("k", "idx", "ts")
    val right = Seq(("a", 5L, Map("cfg" -> "v1"))).toDF("k", "ts", "attrs")
    val out = Enrich.asOfJoin(left, right, Seq("k"), "ts", Seq("attrs"))
      .orderBy("idx").collect()
    assert(out(0).getMap[String, String](3).get("cfg").contains("v1"))
    assert(out(1).isNullAt(3)) // event before the update
  }

  test("asOfJoin: duplicate map-valued updates at one (key, ts) pin to ONE winner across partitionings") {
    // maps are unorderable, so the max-struct tie-break can't apply; the
    // xxhash64(to_json(...)) tie-break must still make the winner a pure
    // function of the DATA — identical across input order and partitioning
    val left = Seq(("a", 1, 10L)).toDF("k", "idx", "ts")
    val updates = Seq(
      ("a", 10L, Map("cfg" -> "v1")),
      ("a", 10L, Map("cfg" -> "v2")),
      ("a", 10L, Map("cfg" -> "v3")))
    def winner(order: Seq[(String, Long, Map[String, String])], parts: Int): String =
      Enrich.asOfJoin(left, order.toDF("k", "ts", "attrs").repartition(parts),
          Seq("k"), "ts", Seq("attrs"))
        .select("attrs").collect()(0).getMap[String, String](0)("cfg")
    val w = winner(updates, 1)
    assert(winner(updates.reverse, 1) === w)
    assert(winner(updates, 7) === w)
    assert(winner(scala.util.Random.shuffle(updates), 16) === w)
  }

  test("rangeJoinBinned fails LOUDLY on an interval spanning more than maxBinsPerInterval bins") {
    val eDf = Seq(("k", 1, new java.sql.Timestamp(1000L))).toDF("k", "eid", "ts")
    // one year-long interval at binSec=60 -> ~526k bins >> the cap
    val iDf = Seq(("k", 1, new java.sql.Timestamp(0L),
      new java.sql.Timestamp(365L * 86400 * 1000))).toDF("k", "iid", "t0", "t1")
    val ex = intercept[Exception] {
      graft.windows.Windows.rangeJoinBinned(
        eDf, iDf, Seq("k"), "ts", "t0", "t1", Seq("iid"), binSec = 60).collect()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(ex).exists(_.contains("maxBinsPerInterval")),
      s"expected the guard to name itself, got: ${messages(ex)}")
    // a raised cap admits the same interval
    val ok = graft.windows.Windows.rangeJoinBinned(
      eDf, iDf, Seq("k"), "ts", "t0", "t1", Seq("iid"), binSec = 60,
      maxBinsPerInterval = 600000L).select("eid", "iid").collect()
    assert(ok.length === 1)
  }

  test("kmvDistinct plans per-partition top-k (TakeOrdered), never a global sort") {
    val df = (0 until 1000).map(i => s"v$i").toDF("text").repartition(8)
    val plan = Sketches.kmvDistinct(df, "text", 32).queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), s"expected TakeOrdered:\n$plan")
    assert(!plan.contains("Sort [") || plan.contains("TakeOrderedAndProject"),
      s"global sort crept in:\n$plan")
  }

  /** Shuffle exchanges of the initial (adaptive) plan that sit above the
    * as-of union, i.e. that re-shuffle the unioned stream. */
  def exchangesAboveUnion(df: org.apache.spark.sql.DataFrame): Int = {
    import org.apache.spark.sql.execution.{SparkPlan, UnionExec}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    def count(p: SparkPlan): Int = p.collectWithSubqueries {
      case e: ShuffleExchangeExec if e.child.exists(_.isInstanceOf[UnionExec]) => 1
      case a: AdaptiveSparkPlanExec => count(a.executedPlan)
    }.sum
    count(df.queryExecution.executedPlan)
  }

  test("asOfJoin plans no exchange above the union when both inputs are key-partitioned, else one") {
    val left  = Seq(("a", 1, 5L), ("b", 2, 9L)).toDF("k", "idx", "ts")
    val right = Seq(("a", 6L, 1), ("b", 1L, 2)).toDF("k", "ts", "n")
    // selecting a subset of the left columns (as q_asof_enrich does) lets
    // nested-column pruning project any key still inside the left payload
    // as a second column, which costs the union its key partitioning
    val parted = Enrich.asOfJoin(left.repartition(4, col("k")),
      right.repartition(4, col("k")), Seq("k"), "ts", Seq("n")).select("k", "idx", "n")
    assert(exchangesAboveUnion(parted) === 0, parted.queryExecution.executedPlan.toString)
    assert(parted.orderBy("idx").select("n").as[Option[Int]].collect().toSeq === Seq(None, Some(2)))
    val plain = Enrich.asOfJoin(left, right, Seq("k"), "ts", Seq("n")).select("k", "idx", "n")
    assert(exchangesAboveUnion(plain) === 1, plain.queryExecution.executedPlan.toString)
  }

  test("asOfJoin: an int left key against a long right key keeps the left's type") {
    val left  = Seq((1, 1, 5L), (1, 2, 9L), (2, 3, 9L)).toDF("k", "idx", "ts")
    val right = Seq((1L, 6L, "u"), (2L, 10L, "late")).toDF("k", "ts", "v")
    val out = Enrich.asOfJoin(left, right, Seq("k"), "ts", Seq("v"))
    assert(out.schema("k").dataType === org.apache.spark.sql.types.IntegerType)
    assert(out.columns.toSeq === Seq("k", "idx", "ts", "v"))
    assert(out.select("k", "idx", "v").as[(Int, Int, Option[String])].collect().toSet ===
      Set((1, 1, None), (1, 2, Some("u")), (2, 3, None)))
  }

  test("asOfJoin == the keys-in-payload twin (fixtures and q_asof_enrich at sf0.001)") {
    import graft.enrich.EnrichTwins
    def same(left: org.apache.spark.sql.DataFrame, right: org.apache.spark.sql.DataFrame,
             keys: Seq[String], values: Seq[String]): Unit = {
      val got = Enrich.asOfJoin(left, right, keys, "ts", values)
      val twin = EnrichTwins.asOfJoinKeysInPayload(left, right, keys, "ts", values)
      // names and types agree; a key read at top level may be non-nullable
      // where the twin's struct field was nullable
      assert(got.schema.map(f => f.name -> f.dataType) === twin.schema.map(f => f.name -> f.dataType))
      assert(got.count() === left.count())
      assert(got.exceptAll(twin).isEmpty && twin.exceptAll(got).isEmpty)
    }
    same(Seq(("a", 1, 5L), ("a", 2, 10L), ("a", 3, 15L), ("a", 4, 20L),
        ("b", 1, 7L), ("c", 1, 100L)).toDF("k", "idx", "ts"),
      Seq(("a", 10L, "u1"), ("a", 18L, "u2"), ("b", 8L, "late"),
        ("c", 100L, "exact")).toDF("k", "ts", "v"), Seq("k"), Seq("v"))
    same(Seq(("a", 1, 10L), ("a", 2, 20L)).toDF("k", "idx", "ts"),
      Seq(("a", 10L, 3, "z"), ("a", 10L, 9, "z"), ("a", 10L, 9, "a"),
        ("a", 15L, 1, "mid")).toDF("k", "ts", "n", "s"), Seq("k"), Seq("n", "s"))
    // two keys, one of them after the payload columns
    val rng = new scala.util.Random(9)
    same((0 until 300).map(i => (i, rng.nextInt(10000).toLong, s"k${rng.nextInt(5)}",
        rng.nextInt(3))).toDF("idx", "ts", "k", "g"),
      (0 until 80).map(i => (s"k${rng.nextInt(5)}", rng.nextInt(3),
        rng.nextInt(10000).toLong, i)).toDF("k", "g", "ts", "v"), Seq("k", "g"), Seq("v"))
    // q_asof_enrich's inputs
    val t = graft.queries.QueryScaffold.transcripts(spark, "/root/testdata/sf0.001")
    val upd = t.filter(col("role") === "tool").groupBy(col("conv_id"), col("ts"))
      .agg(max(col("turn_idx")).as("last_tool_turn"))
    same(t.select("conv_id", "turn_idx", "ts"), upd, Seq("conv_id"), Seq("last_tool_turn"))
  }
}
