package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.expr.VectorFunctions

/** Native Catalyst expressions (graft_dot / graft_norm and the fused
  * kernels) — value-exactness vs the composed higher-order-function forms,
  * SQL-surface registration via SparkSessionExtensions, codegen
  * participation.
  */
class ExprSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("registered via SparkSessionExtensions and callable from SQL") {
    val names = Seq("graft_dot", "graft_norm", "graft_count_in",
      "graft_hyperplane_buckets", "graft_minhash", "graft_shingles", "graft_winnow",
      "graft_rolling_min", "graft_trigram_topk", "graft_repetition", "graft_simhash",
      "graft_digits", "graft_pii_scrub", "graft_hash_features", "graft_dedup_lines",
      "graft_reflow", "graft_ngrams", "graft_ws_tokens", "graft_gopher",
      "graft_fingerprint", "graft_langid", "graft_nearest_centroid", "graft_kmv",
      "graft_cms")
    val table = graft.expr.GraftExtensions.functions.map { case (id, _, build) =>
      id.funcName -> build }
    assert(table.map(_._1).sorted === names.sorted)
    // each build function reads at most three children; extras are ignored
    val children = Seq.fill(3)(org.apache.spark.sql.catalyst.expressions.Literal(1))
    table.foreach { case (name, build) =>
      assert(spark.catalog.functionExists(name), name)
      val built = build(children)
      assert(spark.catalog.getFunction(name).className === built.getClass.getName, name)
      assert(built.prettyName === name)
    }
    val r = spark.sql(
      "SELECT graft_dot(array(1.0D, 2.0D, 3.0D), array(4.0D, -5.0D, 6.0D)) AS d, " +
        "graft_norm(array(3.0D, 4.0D)) AS n").as[(Double, Double)].head()
    assert(r === ((12.0, 5.0)))
  }

  test("expression values == higher-order-function fallback on null-free vectors (incl. float input)") {
    val rng = new scala.util.Random(7)
    val df = (0 until 50).map(_ =>
        (Array.fill(16)(rng.nextFloat() * 2 - 1), Array.fill(16)(rng.nextFloat() * 2 - 1)))
      .toDF("a", "b")
    def hofDot = aggregate(
      zip_with(col("a"), col("b"), (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)
    val viaExpr = df.select(VectorFunctions.dot(col("a"), col("b"))).as[Double].collect()
    val viaHof  = df.select(hofDot).as[Double].collect()
    assert(viaExpr === viaHof) // bit-identical: same left-to-right summation
    val nExpr = df.select(VectorFunctions.norm(col("a"))).as[Double].collect()
    val nHof  = df.select(sqrt(aggregate(transform(col("a"), _.cast("double")),
      lit(0.0), (acc, x) => acc + x * x))).as[Double].collect()
    assert(nExpr === nHof)
  }

  test("null elements are skipped by the expression (pinned; vectors are null-free by contract)") {
    val r = spark.sql(
      "SELECT graft_dot(array(1.0D, CAST(NULL AS DOUBLE), 3.0D), array(2.0D, 2.0D, 2.0D)) AS d")
      .as[Double].head()
    assert(r === 8.0)
  }

  test("fallback parity on null elements and length-mismatched vectors") {
    // native: null elements skipped, mismatched lengths truncated to min —
    // the composed HOF twin yields the SAME values
    val df = Seq(
      (Seq[java.lang.Double](1.0, null, 3.0), Seq[java.lang.Double](2.0, 2.0, 2.0)),
      (Seq[java.lang.Double](1.0, 2.0, 3.0), Seq[java.lang.Double](4.0, 5.0)), // len mismatch
      (Seq[java.lang.Double](null, null), Seq[java.lang.Double](1.0, 1.0))
    ).toDF("a", "b")
    val hofDot = aggregate(zip_with(col("a"), col("b"), (x, y) => coalesce(x * y, lit(0.0))),
      lit(0.0), (acc, x) => acc + x)
    val hofNorm = sqrt(aggregate(col("a"), lit(0.0), (acc, x) => acc + coalesce(x * x, lit(0.0))))
    val native  = df.select(VectorFunctions.dot(col("a"), col("b"))).as[Double].collect()
    val viaHof  = df.select(hofDot).as[Double].collect()
    assert(native === Array(8.0, 14.0, 0.0))
    assert(native === viaHof)
    val nativeN = df.select(VectorFunctions.norm(col("a"))).as[Double].collect()
    val hofN    = df.select(hofNorm).as[Double].collect()
    assert(nativeN === hofN)
  }

  test("graft_count_in: occurrence counting (duplicates included) == filter-HOF form") {
    val ws = Seq("the", "a", "of")
    val df = Seq(
      Seq("the", "cat", "the", "a"),   // 3 (duplicates counted)
      Seq("x", "y"),                   // 0
      Seq.empty[String]                // 0
    ).toDF("toks")
    val viaExpr = df.select(VectorFunctions.countIn(col("toks"), ws)).as[Int].collect()
    val viaHof  = df.select(size(filter(col("toks"), t => t.isInCollection(ws))))
      .as[Int].collect()
    assert(viaExpr === Array(3, 0, 0))
    assert(viaExpr === viaHof)
    // SQL surface + non-literal set rejected
    assert(spark.sql("SELECT graft_count_in(array('a','b','a'), array('a')) AS c")
      .as[Int].head() === 2)
  }

  test("graft_hyperplane_buckets == composed per-table hyperplaneBuckets forest (bit parity)") {
    import graft.ann.Similarity
    val rng = new scala.util.Random(11)
    val dim = 64; val nPlanes = 8; val tables = 8; val seed = 42L
    val df = (0 until 200).map(i => (i.toLong, Array.fill(dim)(rng.nextFloat() * 2 - 1)))
      .toDF("id", "emb")
      .select(col("id"), transform(col("emb"), x => x.cast("double")).as("v"))
    val fused = df.select(col("id"),
        Similarity.hyperplaneBucketsAll(col("v"), nPlanes, tables, dim, seed).as("b"))
      .as[(Long, Seq[Long])].collect().toMap
    val composed = df.select(col("id"),
        array((0 until tables).map(t =>
          graft.ann.SimilarityTwins.hyperplaneBuckets(col("v"), nPlanes, dim, seed + t * 7919L)): _*).as("b"))
      .as[(Long, Seq[Long])].collect().toMap
    assert(fused === composed)
    // and it actually took the fused path: ONE projection node, no dot forest
    val plan = df.select(Similarity.hyperplaneBucketsAll(col("v"), nPlanes, tables, dim, seed))
      .queryExecution.executedPlan.toString
    assert(plan.contains("graft_hyperplane_buckets"), plan.take(500))
    assert(!plan.contains("graft_dot"), "fused path must not expand a per-plane dot forest")
  }

  test("graft_minhash == composed HOF one-hash signature (bit parity, incl. null shingle)") {
    val df = Seq(
      Seq("a b c", "b c d", "c d e"),
      Seq("x"),
      Seq[String](null, "a b c")          // null shingle contributes base = 42
    ).toDF("sh")
    def hofSig(numHashes: Int) = element_at(
      transform(array(transform(col("sh"), s => xxhash64(s))), base =>
        array((0 until numHashes).map { i =>
          array_min(transform(base, h => xxhash64(lit(i), h)))
        }: _*)),
      1)
    val fused = df.select(VectorFunctions.countIn(col("sh"), Seq()).as("z"), // keep plan shape varied
        call_function("graft_minhash", col("sh"), lit(24)).as("sig"))
      .select("sig").as[Seq[Long]].collect()
    val hof = df.select(hofSig(24).as("sig")).as[Seq[Long]].collect()
    assert(fused === hof)
    // empty input mirrors array_min(empty) = null elements
    val empty = Seq(Seq.empty[String]).toDF("sh")
      .select(call_function("graft_minhash", col("sh"), lit(4)).as("sig"))
      .as[Seq[Option[Long]]].head()
    assert(empty === Seq(None, None, None, None))
  }

  test("graft_shingles == composed HOF shingle chain (parity incl. whitespace edge cases)") {
    val texts = Seq(
      "user 8 clicked element 69",
      "  leading and trailing  ",
      "\tstarts with tab",          // SQL trim keeps the tab -> leading empty token
      "ends with tab\t",            // limit -1 keeps the trailing empty token
      "a a a a a",                  // duplicate shingles -> distinct
      "two words",                  // shorter than n
      "one",
      "")
    val df = texts.toDF("text")
    def composed(n: Int) = element_at(
      transform(array(split(trim(col("text")), "\\s+")), toks =>
        array_distinct(
          filter(
            transform(sequence(lit(0), greatest(size(toks) - n, lit(0))),
              i => when(i + n <= size(toks), array_join(slice(toks, i + 1, lit(n)), " "))),
            x => x.isNotNull))),
      1)
    for (n <- Seq(1, 2, 3)) {
      val fused = df.select(call_function("graft_shingles", col("text"), lit(n)))
        .as[Seq[String]].collect().toSeq
      val hof = df.select(composed(n)).as[Seq[String]].collect().toSeq
      assert(fused === hof, s"n=$n")
    }
  }

  test("graft_digits == regexp_extract(s, \"[0-9]+\", 0) (parity, incl. unicode digits and null)") {
    import spark.implicits._
    val rows = Seq(
      "abc", "", "123", "abc123def456", "  7 89 ", "a1b2c3",
      "٣٤",          // Arabic-Indic digits: [0-9] does NOT match
      "① circled 5five",  // enumerated digit char vs ASCII '5'
      "é12é3",                 // multibyte bytes AROUND an ASCII run
      "0", "00042", "x9", "9x", "𝟙𝟚13",  // math digits (non-BMP) vs ASCII
      null.asInstanceOf[String])
    val df = rows.zipWithIndex.map { case (t, i) => (i, t) }.toDF("i", "s")
    val out = df.select(col("i"),
        call_function("graft_digits", col("s")).as("fused"),
        regexp_extract(col("s"), "[0-9]+", 0).as("composed"))
      .collect()
    out.foreach { r =>
      assert(r.get(1) === r.get(2), s"row ${r.get(0)}: '${r.get(1)}' != '${r.get(2)}'")
    }
  }

  test("graft_winnow / graft_rolling_min == composed fingerprint chains (parity)") {
    val texts = Seq(
      "user 8 clicked element 69",
      "User 8  CLICKED   element 69",   // case + multi-space normalization
      "short",                          // < k
      "12345678",                       // exactly k chars (k=8)
      "aaaaaaaaaaaaaaaaaaaaaaaa",       // every gram identical -> 1 fingerprint
      "  padded  ",
      "")
    val df = texts.toDF("text")
    def composedWinnow(k: Int, w: Int) = element_at(
      transform(array(regexp_replace(lower(trim(col("text"))), "\\s+", " ")), norm =>
        when(length(norm) < k, array(md5(norm))).otherwise(
          element_at(
            transform(
              array(transform(sequence(lit(1), length(norm) - (k - 1)),
                i => md5(norm.substr(i, lit(k))))),
              hs =>
                array_distinct(
                  transform(sequence(lit(1), greatest(size(hs) - (w - 1), lit(1))),
                    j => array_min(slice(hs, j, lit(w)))))),
            1))),
      1)
    def composedRolling(w: Int) = element_at(
      transform(array(regexp_replace(lower(trim(col("text"))), "\\s+", " ")), norm =>
        when(length(norm) < w, md5(norm)).otherwise(
          array_min(transform(sequence(lit(1), length(norm) - (w - 1)),
            i => md5(norm.substr(i, lit(w))))))),
      1)
    for ((k, w) <- Seq((8, 4), (3, 2), (8, 100))) {
      val fused = df.select(call_function("graft_winnow", col("text"), lit(k), lit(w)))
        .as[Seq[String]].collect().toSeq
      val hof = df.select(composedWinnow(k, w)).as[Seq[String]].collect().toSeq
      assert(fused === hof, s"winnow k=$k w=$w")
    }
    for (w <- Seq(16, 4)) {
      val fused = df.select(call_function("graft_rolling_min", col("text"), lit(w)))
        .as[String].collect().toSeq
      val hof = df.select(composedRolling(w)).as[String].collect().toSeq
      assert(fused === hof, s"rolling w=$w")
    }
  }

  test("graft_simhash == UDF simhash (bit parity incl. whitespace/empty edges)") {
    val texts = Seq(
      "user 8 clicked element 69",
      "  padded   tokens  ",
      "\ttab\tseparated\ttokens",
      "palindrome abccba xyzzyx",
      "x",
      "")
    val df = texts.toDF("text")
    val fused = df.select(call_function("graft_simhash", col("text"))).as[Long].collect().toSeq
    // the UDF twin, inlined (same hash chain the Python oracle ports)
    val wsP = java.util.regex.Pattern.compile("\\s+")
    val expected = texts.map { text =>
      val counts = new Array[Int](64)
      wsP.split(text.trim).foreach { tok =>
        val h = (scala.util.hashing.MurmurHash3.stringHash(tok).toLong << 32) |
          (scala.util.hashing.MurmurHash3.stringHash(tok.reverse).toLong & 0xffffffffL)
        (0 until 64).foreach(j => if (((h >>> j) & 1L) == 1L) counts(j) += 1 else counts(j) -= 1)
      }
      (0 until 64).foldLeft(0L)((acc, j) => if (counts(j) > 0) acc | (1L << j) else acc)
    }
    assert(fused === expected)
  }

  test("fuzz: fused text kernels == composed twins on 300 random whitespace-heavy strings") {
    // seeded generator biased toward the nasty cases: runs of mixed
    // whitespace, empty tokens, repeated tokens, case changes, punctuation
    val rng = new scala.util.Random(20260817L)
    val palette = "ab cd  e\tf\ng:HIJ.12 345 ab cd"
    val texts = (0 until 300).map { _ =>
      val len = rng.nextInt(60)
      (0 until len).map(_ => palette(rng.nextInt(palette.length))).mkString
    }
    val df = texts.toDF("text")

    def composedShingles(n: Int) = element_at(
      transform(array(split(trim(col("text")), "\\s+")), toks =>
        array_distinct(
          filter(
            transform(sequence(lit(0), greatest(size(toks) - n, lit(0))),
              i => when(i + n <= size(toks), array_join(slice(toks, i + 1, lit(n)), " "))),
            x => x.isNotNull))),
      1)
    for (n <- Seq(1, 2, 3)) {
      val fused = df.select(call_function("graft_shingles", col("text"), lit(n)))
        .as[Seq[String]].collect().toSeq
      val hof = df.select(composedShingles(n)).as[Seq[String]].collect().toSeq
      assert(fused === hof, s"shingles n=$n")
    }

    def composedWinnow(k: Int, w: Int) = element_at(
      transform(array(regexp_replace(lower(trim(col("text"))), "\\s+", " ")), norm =>
        when(length(norm) < k, array(md5(norm))).otherwise(
          element_at(
            transform(
              array(transform(sequence(lit(1), length(norm) - (k - 1)),
                i => md5(norm.substr(i, lit(k))))),
              hs =>
                array_distinct(
                  transform(sequence(lit(1), greatest(size(hs) - (w - 1), lit(1))),
                    j => array_min(slice(hs, j, lit(w)))))),
            1))),
      1)
    val fusedW = df.select(call_function("graft_winnow", col("text"), lit(5), lit(3)))
      .as[Seq[String]].collect().toSeq
    val hofW = df.select(composedWinnow(5, 3)).as[Seq[String]].collect().toSeq
    assert(fusedW === hofW, "winnow")

    def composedRolling(w: Int) = element_at(
      transform(array(regexp_replace(lower(trim(col("text"))), "\\s+", " ")), norm =>
        when(length(norm) < w, md5(norm)).otherwise(
          array_min(transform(sequence(lit(1), length(norm) - (w - 1)),
            i => md5(norm.substr(i, lit(w))))))),
      1)
    val fusedR = df.select(call_function("graft_rolling_min", col("text"), lit(7)))
      .as[String].collect().toSeq
    val hofR = df.select(composedRolling(7)).as[String].collect().toSeq
    assert(fusedR === hofR, "rolling-min")

    def hofMinhash(numHashes: Int) = element_at(
      transform(array(transform(call_function("graft_shingles", col("text"), lit(2)),
        s => xxhash64(s))), base =>
        array((0 until numHashes).map { i =>
          array_min(transform(base, h => xxhash64(lit(i), h)))
        }: _*)),
      1)
    val fusedM = df.select(call_function("graft_minhash",
        call_function("graft_shingles", col("text"), lit(2)), lit(8)))
      .as[Seq[Option[Long]]].collect().toSeq
    val hofM = df.select(hofMinhash(8)).as[Seq[Option[Long]]].collect().toSeq
    assert(fusedM === hofM, "minhash")

    val wsP = java.util.regex.Pattern.compile("\\s+")
    val fusedS = df.select(call_function("graft_simhash", col("text"))).as[Long].collect().toSeq
    val expectedS = texts.map { text =>
      val counts = new Array[Int](64)
      wsP.split(text.trim).foreach { tok =>
        val h = (scala.util.hashing.MurmurHash3.stringHash(tok).toLong << 32) |
          (scala.util.hashing.MurmurHash3.stringHash(tok.reverse).toLong & 0xffffffffL)
        (0 until 64).foreach(j => if (((h >>> j) & 1L) == 1L) counts(j) += 1 else counts(j) -= 1)
      }
      (0 until 64).foldLeft(0L)((acc, j) => if (counts(j) > 0) acc | (1L << j) else acc)
    }
    assert(fusedS === expectedS, "simhash")
  }

  test("graft_nearest_centroid == boxed-UDF scan (first-minimum tie-break)") {
    val rng = new scala.util.Random(5)
    val dim = 16
    val cents: Seq[Seq[Double]] =
      (0 until 4).map(_ => Seq.fill(dim)(rng.nextDouble() * 2 - 1))
    val df = (0 until 100).map(i => (i.toLong, Seq.fill(dim)(rng.nextDouble() * 2 - 1)))
      .toDF("id", "v")
    val centArr = cents.map(_.toArray).toArray
    val viaUdf = udf { v: Seq[Double] =>
      var best = -1; var bestD = Double.MaxValue
      centArr.zipWithIndex.foreach { case (c, cid) =>
        var d = 0.0; var i = 0
        while (i < c.length) { val x = v(i) - c(i); d += x * x; i += 1 }
        if (d < bestD) { bestD = d; best = cid }
      }
      best
    }
    val fused = df.select(col("id"),
        call_function("graft_nearest_centroid", col("v"), typedlit(cents)).as("c"))
      .as[(Long, Int)].collect().toMap
    val boxed = df.select(col("id"), viaUdf(col("v")).as("c"))
      .as[(Long, Int)].collect().toMap
    assert(fused === boxed)
    // duplicated centroid: the FIRST index must win (strict < tie-break)
    val dup = cents.head +: cents
    val tied = df.select(call_function("graft_nearest_centroid", col("v"), typedlit(dup)).as("c"))
      .as[Int].collect()
    val orig = df.select(call_function("graft_nearest_centroid", col("v"), typedlit(cents)).as("c"))
      .as[Int].collect()
    tied.zip(orig).foreach { case (t, o) =>
      if (o == 0) assert(t == 0, "duplicate-first centroid must keep index 0")
    }
  }

  test("dot runs inside whole-stage codegen") {
    val df = spark.range(1000)
      .select(array((0 until 8).map(i => (col("id") * i).cast("double")): _*).as("v"))
    val q = df.select(VectorFunctions.dot(col("v"), col("v")).as("d"))
    assert(q.agg(sum(col("d"))).as[Double].head() > 0)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("WholeStageCodegen") || plan.contains("*(1)"),
      s"dot fell out of whole-stage codegen:\n$plan")
  }
}
