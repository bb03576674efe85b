package graft

import org.apache.spark.sql.DataFrame

import graft.util.BenchSupport.{benchSession, rmrf, workDir}

/** Round-7 optimization-side measurement harness (guide §1) — NOT part of the
  * driver contract ([[Bench]] is frozen). Two modes, both on tmpfs with the
  * same session shape as Bench:
  *
  *   - `SPARK_GRAFT_PLANS_DIR=plans/r07 SPARK_GRAFT_PLANS_SUFFIX=before`
  *     dumps `.explain("formatted")` for every declared query to
  *     `<dir>/<query>_<suffix>.txt` (no execution — plan shape evidence).
  *   - `SPARK_GRAFT_BENCHX_QUERIES=q_tfidf,q_curation` (or `bench` for the
  *     52 queries [[Bench]] times, or `all`) times each listed query through the
  *     noop sink, best-of-N (`SPARK_GRAFT_BENCHX_REPS`, default 3), and
  *     prints one JSON line.
  *
  * Job descriptions are set per query so the SQL tab / event logs stay
  * readable (guide §1.5).
  */
object BenchExtra {

  def force(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus  = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val work = workDir("graft-benchx")
    val spark = benchSession(cpus, work)

    // -- plan dump mode ------------------------------------------------------
    sys.env.get("SPARK_GRAFT_PLANS_DIR").foreach { plansDir =>
      val suffix = sys.env.getOrElse("SPARK_GRAFT_PLANS_SUFFIX", "before")
      val only   = sys.env.get("SPARK_GRAFT_PLANS_QUERIES")
        .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(plansDir))
      SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
        if (only.forall(_.contains(name))) {
          val plan =
            try fn(spark, sfDir).queryExecution.explainString(
              org.apache.spark.sql.execution.FormattedMode)
            catch { case e: Throwable => s"PLAN FAILED: $e" }
          java.nio.file.Files.writeString(
            java.nio.file.Paths.get(plansDir, s"${name}_$suffix.txt"), plan)
          System.err.println(s"[plans] $name -> $plansDir/${name}_$suffix.txt")
        }
      }
    }

    // -- timing mode ---------------------------------------------------------
    sys.env.get("SPARK_GRAFT_BENCHX_QUERIES").foreach { sel =>
      val reps = sys.env.getOrElse("SPARK_GRAFT_BENCHX_REPS", "3").toInt
      val names: Seq[String] = sel match {
        case "bench" => Bench.singles.map(_._2)
        case "all"   => SparkEntry.queries.keys.toSeq.sorted
        case s       => s.split(",").map(_.trim).filter(_.nonEmpty).toSeq
      }
      // JIT/codegen warmup on the smallest SF (same rationale as Bench)
      names.foreach { n =>
        try force(SparkEntry.queries(n)(spark, "/root/testdata/sf0.001"))
        catch { case _: Throwable => () }
      }
      val results = scala.collection.mutable.LinkedHashMap[String, Seq[Double]]()
      (1 to reps).foreach { _ =>
        names.foreach { n =>
          val t0 = System.nanoTime()
          force(SparkEntry.queries(n)(spark, sfDir))
          val t = (System.nanoTime() - t0) / 1e9
          results(n) = results.getOrElse(n, Seq.empty) :+ t
        }
      }
      val qs = results.map { case (k, v) =>
        "\"" + k + "\":{\"min\":" + f"${v.min}%.3f" +
          ",\"samples\":[" + v.map(t => f"$t%.3f").mkString(",") + "]}"
      }.mkString("{", ",", "}")
      println(s"""{"benchx":$qs,"sf":"$sfDir","reps":$reps}""")
    }

    spark.stop()
    rmrf(work)
  }
}
