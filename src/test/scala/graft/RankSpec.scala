package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.util.Rank

/** The distributed rank primitives: `groupRowNumber` against the
  * single-task window it replaces, column pass-through of every type
  * through both two-pass bodies, and the null contract of the running sum.
  * (Empty input: PreprocessingSpec; prefix-sum values: PackingSpec.)
  */
class RankSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def sameRows(a: DataFrame, b: DataFrame): Unit = {
    assert(a.exceptAll(b).count() === 0L)
    assert(b.exceptAll(a).count() === 0L)
  }

  test("groupRowNumber == row_number / count over Window.partitionBy(g), stable") {
    // one group holds half the rows; range partitions are not coalesced, so
    // groups straddle partition boundaries
    val key = "spark.sql.adaptive.coalescePartitions.enabled"
    spark.conf.set(key, "false")
    try {
      val df = spark.range(100000L)
        .select(col("id"),
          when(col("id") % 2 === 0, lit("big"))
            .otherwise(concat(lit("g"), (col("id") % 97).cast("string"))).as("g"),
          (xxhash64(col("id")) % 1000).as("v"))
        .repartition(16)
      val order = Seq(col("v").desc, col("id"))
      val w = Window.partitionBy(col("g"))
      val expected = df
        .withColumn("rk", row_number().over(w.orderBy(order: _*)).cast("long"))
        .withColumn("n", count(lit(1)).over(w))
        .select("id", "g", "v", "rk", "n").cache()
      assert(expected.filter(col("g") === "big").count() === 50000L)
      (1 to 3).foreach { _ =>
        sameRows(Rank.groupRowNumber(df, "g", order, "rk", "n")
          .select("id", "g", "v", "rk", "n"), expected)
      }
      expected.unpersist()
    } finally spark.conf.unset(key)
  }

  test("every column type passes through globalRowNumber and globalRunningSum") {
    def nullEvery5(c: Column): Column = when(col("id") % 5 === 0, lit(null)).otherwise(c)
    val df = spark.range(300L)
      .select(col("id"),
        nullEvery5(concat(lit("s"), col("id").cast("string"))).as("str"),
        lit(null).as("nul"),
        nullEvery5(array(col("id").cast("int"), lit(-1))).as("arr"),
        nullEvery5(struct(col("id").cast("int").as("a"),
          col("id").cast("string").as("b"))).as("st"),
        nullEvery5(map(lit("k"), col("id").cast("int"), lit("j"), lit(0))).as("m"),
        nullEvery5((col("id") / 7).cast("decimal(20,4)")).as("dec"),
        nullEvery5(timestamp_seconds(col("id") * 1000)).as("ts"))
      .repartition(5)
    // set operations reject map columns: compare the map as its entry array
    def comparable(d: DataFrame): DataFrame =
      d.withColumn("m", map_entries(col("m")))
    val outs = Seq(
      (Rank.globalRowNumber(df, Seq(col("id")), "extra", persistSorted = true), 300L),
      (Rank.globalRowNumber(df, Seq(col("id")), "extra", persistSorted = false), 300L),
      (Rank.globalRunningSum(df, Seq(col("id")), "id", "extra"), (0L until 300L).sum))
    outs.foreach { case ((out, total), expectedTotal) =>
      assert(total === expectedTotal)
      assert(out.schema.dropRight(1) === df.schema)
      sameRows(comparable(out.drop("extra")), comparable(df))
    }
    assert(outs.head._1._1.select("id", "extra").as[(Long, Long)].collect()
      .forall { case (id, rn) => rn == id + 1 })
  }

  test("globalRunningSum fails on a null value instead of reading it as 0") {
    val df = Seq((1L, Some(5L)), (2L, None), (3L, Some(7L))).toDF("id", "v")
    val e = intercept[Exception](Rank.globalRunningSum(df, Seq(col("id")), "v", "t0"))
    val messages = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(t => String.valueOf(t.getMessage))
    assert(messages.exists(_.contains("globalRunningSum: null in v")), e)
  }
}
