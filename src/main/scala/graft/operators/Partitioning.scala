package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Scale-ADAPTIVE shuffle-partition sizing for the iterative operators'
  * cached round state (optimization guide §2: derive partitioning from
  * input size — rather than a constant tuned for either local mode or
  * the cluster).
  *
  * Why it exists: the fixpoint operators (CC, PageRank, LPA, BFS, walks,
  * k-core) repartition-and-cache their edge/adjacency state once and then
  * run many small driver-loop rounds against it. Pinning that state to
  * `spark.sql.shuffle.partitions` makes EVERY round launch stages that
  * wide no matter how small the graph is — and per-stage dispatch is the
  * dominant cost of a driver loop (measured on the bench box,
  * OPTIMIZATION_r08.md §1.2: ~450 ms per one-shuffle job at 32 tasks/stage vs
  * ~150 ms narrow, i.e. ~14 ms per task just to schedule it). AQE cannot
  * help here: it coalesces the REDUCE side of a shuffle, but a cached /
  * checkpointed RDD's partition count is fixed at materialization and
  * every downstream map stage inherits it.
  *
  * The rule: partitions = ceil(estimated bytes / TargetBytesPerPartition),
  * clamped to [1, spark.sql.shuffle.partitions]. The per-partition target
  * is ~1 MiB — deliberately far SMALLER than AQE's 64 MB shuffle
  * advisory, because this state is re-scanned CPU-bound every round: a
  * partition under ~1 MiB costs more to dispatch (~14 ms) than to scan
  * (~1 ms/MiB of cached columnar longs), while anything bigger wants all
  * the cores — measured both ways: sizing the 1M-node GraphBench
  * adjacency (40 MB estimate) near the 64 MB advisory collapsed it to 1–2
  * partitions and DOUBLED the k-core/LPA legs; at the 1 MiB target it
  * lands at the ceiling (32), byte-identical to the round-7 behavior,
  * while the sf-dir graphs (≤ 700 KB estimates) collapse to 1 partition
  * and their per-round stages drop to the narrow-dispatch floor (q110
  * 17.9 s → 2.7 s warm at sf0.1). At corpus scale the estimate exceeds
  * target × conf and the ceiling wins — behavior identical to the old
  * constant. The estimate is Catalyst's plan statistic (file sizes
  * propagated through the plan) — no job is run to obtain it; an unknown
  * estimate falls back to the ceiling, never under-partitioning.
  */
object Partitioning {

  /** ~1 MiB of estimated input per cached-round-state partition: below
    * this a task is dispatch-bound, not compute-bound
    * (OPTIMIZATION_r08.md §1.2). */
  val TargetBytesPerPartition: Long = 1L << 20

  /** Partition count for repartition-and-cache of `df`, sized from its
    * Catalyst size estimate, clamped to [1, numShufflePartitions]. */
  def adaptiveParts(spark: SparkSession, df: DataFrame): Int = {
    val ceiling = spark.sessionState.conf.numShufflePartitions
    val est = df.queryExecution.optimizedPlan.stats.sizeInBytes
    if (est <= 0 || est > BigInt(Long.MaxValue)) ceiling
    else {
      val want =
        (est.toLong + TargetBytesPerPartition - 1) / TargetBytesPerPartition
      math.max(1L, math.min(ceiling.toLong, want)).toInt
    }
  }

  /** Inputs at or under this estimate fit inside a single scan split
    * (spark.sql.files.maxPartitionBytes defaults to 128 MB with a 4 MB
    * open-cost floor), so a CPU-amplifying stage over them runs as ONE
    * task however many cores the session has — and shuffling this many
    * bytes to spread them is free relative to the stage it unblocks. */
  val SpreadThresholdBytes: Long = 64L << 20

  /** The INVERSE of [[adaptiveParts]], for the other way a bytes-derived
    * partitioning betrays a CPU-bound stage: `adaptiveParts` stops tiny
    * cached state from inheriting a corpus-sized stage width; this stops
    * a tiny SCAN from starving a CPU-amplifying narrow stage (k-shingle
    * explode + per-shingle hashing multiplies work per input byte, so
    * bytes under-measure cost). An input whose size estimate fits in one
    * scan split is round-robin spread across the session's shuffle
    * width before the expensive stage; anything larger is returned
    * UNCHANGED — at real corpus scale the scan's own splits provide the
    * parallelism and the repartition must not shuffle payload bytes
    * (guide §8: move heavy bytes once). The added exchange is bounded by
    * [[SpreadThresholdBytes]] by construction; an unknown estimate is
    * never spread. Results are unaffected: downstream joins/aggregates
    * key-partition for themselves and the repartition is deterministic
    * (sort-before-repartition is on by default, SPARK-23207). */
  def spreadSmallScan(spark: SparkSession, df: DataFrame): DataFrame = {
    val est = df.queryExecution.optimizedPlan.stats.sizeInBytes
    if (est > 0 && est <= SpreadThresholdBytes)
      df.repartition(spark.sessionState.conf.numShufflePartitions)
    else df
  }
}
