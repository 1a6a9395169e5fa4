package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Per-round query benchmark (driver contract).
  *
  * Measures each `SparkEntry.queries` entry by executing the FULL delivered
  * plan: a `noop`-format write. Timing `count()` (round 1) let Catalyst
  * prune every projection and eliminate sorts under the aggregate, so
  * projection-heavy queries were under-measured; the noop sink materializes
  * every output row/column and discards it, which is the honest cost.
  *
  * Fixed (sorted) query order + a warm-up pass (JVM/codegen/file-footer
  * caches primed on the base tables and one representative query) so
  * first-query startup cost is not charged to whichever query runs first.
  */
object Bench {
  private def runPlan(df: DataFrame): Unit =
    df.write.mode("overwrite").format("noop").save()

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      // spark-submit does not inherit build.sbt's -D timezone flag; pin
      // UTC here so timestamp-formatting queries run identically per box
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // warm-up (excluded from the clock): prime parquet footers + codegen
    Seq("lineitem", "orders", "customer", "part", "events", "documents",
      "embeddings").foreach { t =>
      try runPlan(spark.read.parquet(s"$sfDir/$t.parquet")) catch {
        case _: Throwable => ()
      }
    }
    SparkEntry.queries.get("q02_agg_pricing_summary").foreach { fn =>
      try runPlan(fn(spark, sfDir)) catch { case _: Throwable => () }
    }

    val names = SparkEntry.queries.keys.toSeq.sorted
    val results = names.map { name =>
      val fn = SparkEntry.queries(name)
      val t0 = System.nanoTime()
      // a failed query records the -1 sentinel, never a fast-looking
      // time; its reason goes to stderr, leaving the stdout JSON alone
      val t = try { runPlan(fn(spark, sfDir)); (System.nanoTime() - t0) / 1e9 }
        catch { case e: Throwable =>
          System.err.println(
            s"[bench] $name failed: ${e.getClass.getName}: ${e.getMessage}")
          -1.0
        }
      name -> t
    }
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    // total = successful entries only; sentinels must not SHRINK the total
    val total = results.collect { case (_, v) if v >= 0 => v }.sum
    val nFailed = results.count(_._2 < 0)
    println(s"""{"metric":"total","value":$total,"unit":"sec","failed":$nFailed,"queries":$qs,"sf":"$sfDir"}""")
    spark.stop()
  }
}
