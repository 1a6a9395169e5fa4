package graft.pipeline

import org.apache.spark.sql.{DataFrame, Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Iceberg-style table emulation (SURVEY.md §4.4).
  *
  * No `iceberg-spark-runtime` jar exists in this zero-egress sandbox, so an
  * Iceberg table is emulated as: a parquet directory hash-partitioned by
  * `bucket = pmod(xxhash64(url), numBuckets)` (the Iceberg `bucket(N, url)`
  * transform), written with dynamic partition overwrite for idempotent
  * re-runs, plus a `_manifest` parquet table carrying per-(stage, bucket)
  * lineage: watermark, row/byte counts, wall time, run id (north_rule:
  * "resumable from checkpoint with per-partition lineage + metrics").
  * The API is deliberately thin so a real Iceberg catalog can replace it on
  * a cluster without touching pipeline code.
  */
object Icebergish {

  val DefaultBuckets = 256

  def withBucket(df: DataFrame, numBuckets: Int = DefaultBuckets): DataFrame =
    df.withColumn("bucket", pmod(xxhash64(col("url")), lit(numBuckets)).cast("int"))

  /** Bucket-partitioned write; dynamic overwrite = re-running a subset of
    * buckets replaces exactly those partitions (idempotent resume).
    *
    * The repartition on `bucket` BEFORE partitionBy is load-bearing at
    * scale: without it every task writes a file into every bucket dir
    * (tasks × buckets tiny files — 65k files at 256×256, metadata death);
    * with it each bucket is written by exactly one task → one file per
    * bucket. This is the "range-partitioned shuffle by url-hash" the
    * north rule asks for. */
  def write(df: DataFrame, dir: String): Unit =
    df.repartition(col("bucket"))
      .write
      .partitionBy("bucket")
      .option("partitionOverwriteMode", "dynamic")
      .mode(SaveMode.Overwrite)
      .parquet(dir)

  /** Write WITHOUT the bucket shuffle — correct when the rows are already
    * bucket-local (e.g. triples derived row-wise from a bucket-partitioned
    * pages scan inherit their page's bucket): each task then writes into
    * the one or two bucket dirs it holds, so the file count stays ≈ the
    * task count. Using this for the triple write removes the ONLY
    * page-volume shuffle in the KG job. */
  def writeColocated(df: DataFrame, dir: String): Unit =
    df.write
      .partitionBy("bucket")
      .option("partitionOverwriteMode", "dynamic")
      .mode(SaveMode.Overwrite)
      .parquet(dir)

  def read(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(dir)

  // ---------------- manifest ----------------

  def manifestDir(dir: String): String = s"$dir/_manifest"

  /** One lineage row per (stage, bucket) processed in this run. */
  def appendManifest(spark: SparkSession, dir: String, stage: String,
      perBucket: DataFrame, runId: String, wallMs: Long): Unit = {
    perBucket
      .withColumn("stage", lit(stage))
      .withColumn("wall_ms", lit(wallMs))
      .withColumn("run_id", lit(runId))
      .select("stage", "bucket", "watermark", "rows", "bytes", "wall_ms",
        "run_id")
      .write.mode(SaveMode.Append).parquet(manifestDir(dir))
  }

  /** Buckets already completed for `stage` (any run). */
  def doneBuckets(spark: SparkSession, dir: String, stage: String): DataFrame = {
    val path = new org.apache.hadoop.fs.Path(manifestDir(dir))
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(path)) spark.emptyDataFrame.selectExpr()
      .withColumn("bucket", lit(0)).limit(0)
    else spark.read.parquet(manifestDir(dir))
      .where(col("stage") === stage)
      .select("bucket").distinct()
  }

  /** Resumable triple-extraction job over a bucketed pages table:
    *   0. resume filter — LEFT ANTI join pages' buckets vs manifest
    *   1-7. KgPipeline.triples (single narrow stage)
    *   8. bucketed write (dynamic overwrite) + manifest append
    * Returns the number of pages actually processed this run.
    */
  def runResumable(spark: SparkSession, pagesDir: String, outDir: String,
      entities: DataFrame, aliases: DataFrame, runId: String,
      numBuckets: Int = DefaultBuckets,
      prepared: Option[KgPipeline.Prepared] = None): Long = {
    import spark.implicits._
    val t0 = System.nanoTime()
    val pagesAll = read(spark, pagesDir)
    val done = doneBuckets(spark, outDir, "triples")
    val todo = pagesAll.join(broadcast(done), Seq("bucket"), "left_anti")
    val todoPages = todo.select("url", "warc_ts", "html", "text", "lang")
      .as[Page]
    // count on the partition column only — no html bytes read
    val nPages = todo.select("bucket").count()
    if (nPages == 0) return 0L
    // The OUTPUT modulus must match the pages table's ingestion-time
    // bucketing: triples inherit their page's bucket by recomputing
    // pmod(xxhash64(url), numBuckets), so a numBuckets that differs from
    // ingestion silently breaks colocation AND excludes partitions from
    // the per-bucket manifest stats. A bounded sample (limit stops the
    // scan after the first partitions) catches any wrong modulus with
    // near-certainty — a full-table check would tax every timed run.
    locally {
      val sample = todo.select(col("url"),
          col("bucket"), pmod(xxhash64(col("url")), lit(numBuckets))
            .cast("int").as("recomputed"))
        .limit(2048).collect()
      val bad = sample.find(r => r.getInt(1) != r.getInt(2))
      require(bad.isEmpty,
        s"pages bucketing mismatch: url=${bad.get.getString(0)} has " +
          s"bucket=${bad.get.getInt(1)} but pmod(xxhash64(url), " +
          s"$numBuckets)=${bad.get.getInt(2)} — pass the ingestion-time " +
          "bucket count to runResumable")
    }

    // triples inherit their page's bucket: same hash, same modulus — so
    // the manifest's resume unit (input bucket) and the output partition
    // line up one-to-one
    val prep = prepared.getOrElse(KgPipeline.prepare(spark, entities, aliases))
    val triples = KgPipeline.run(spark, todoPages, prep)
    // triples are bucket-local (same url hash as their page, and the pages
    // scan is bucket-partitioned) → the write needs NO shuffle
    val out = withBucket(triples.toDF(), numBuckets)
    writeColocated(out, s"$outDir/triples")

    val wallMs = (System.nanoTime() - t0) / 1000000L
    // Iceberg-style manifest stats FROM STORAGE, not by re-computing the
    // data: bytes per bucket from the file listing; rows + watermark from
    // a pruned (bucket, warc_ts) columnar read of what was just written.
    val bytesByBucket = {
      val base = new org.apache.hadoop.fs.Path(s"$outDir/triples")
      val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.listStatus(base).filter(_.getPath.getName.startsWith("bucket="))
        .map { d =>
          val b = d.getPath.getName.stripPrefix("bucket=").toInt
          b -> fs.listStatus(d.getPath).map(_.getLen).sum
        }.toMap
    }
    val bytesUdf = udf((b: Int) => bytesByBucket.getOrElse(b, 0L))
    // restrict to THIS run's buckets — the output dir also holds buckets
    // from earlier runs, which must not get duplicate manifest rows; the
    // isin filter partition-prunes the stats read to the new dirs
    val todoBucketList = todo.select("bucket").distinct()
      .collect().map(_.getInt(0)).toSeq
    // explicit schema: a first run whose EVERY bucket produced zero
    // triples leaves no parquet footers to infer from, and an inference
    // crash here would land before appendManifest — a permanent
    // reprocess-and-crash loop instead of rows=0 manifest entries
    val perBucket = spark.read.schema(out.schema)
      .parquet(s"$outDir/triples")
      .where(col("bucket").isin(todoBucketList: _*))
      .groupBy("bucket").agg(
        max(col("warc_ts")).as("watermark"),
        count(lit(1)).as("rows"))
      .withColumn("bytes", bytesUdf(col("bucket")))
    // buckets whose pages produced zero triples still need a manifest row,
    // or resume would re-process them forever
    val allTodoBuckets = todoBucketList.toDF("bucket")
    val withEmpty = allTodoBuckets.join(perBucket, Seq("bucket"), "left_outer")
      .select(col("bucket"),
        coalesce(col("watermark"), lit(null).cast("timestamp")).as("watermark"),
        coalesce(col("rows"), lit(0L)).as("rows"),
        coalesce(col("bytes"), lit(0L)).as("bytes"))
    appendManifest(spark, outDir, "triples", withEmpty, runId, wallMs)
    nPages
  }
}
