package graft.operators

import graft.core.Bpe
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Distributed BPE vocabulary training — tokenizer learning at corpus
  * scale, the same driver-loop-with-distributed-state shape as the CC
  * fixpoint:
  *   - the corpus collapses ONCE to a word-frequency table (vocab-sized,
  *     stays a distributed Dataset — at 10^12 docs the vocabulary is
  *     millions of rows, never collected);
  *   - each merge round is one map-side-combinable pair-count aggregate
  *     plus a ONE-ROW collect (the argmax pair) plus a narrow typed map
  *     applying the merge — per-round driver traffic is one row, exactly
  *     like CC's accumulator convergence count;
  *   - per-round state is persisted and the previous round freed, so the
  *     plan never re-derives round k from round 0 (the common-subplan
  *     lesson from the CC fixpoint, applied from the start).
  * All pair/merge/tie-break semantics live in graft.core.Bpe, shared with
  * the in-process reference trainer — the BpeSpec equality is by
  * construction, not coincidence.
  */
object BpeSpark {

  /** (word, count) over single-space tokenization. */
  def wordCounts(docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode(split(col(textCol), " ")).as("word"))
      .groupBy("word").agg(count(lit(1)).as("c"))

  /** Frequency-weighted adjacent symbol-pair counts of the INITIAL
    * (one-symbol-per-char) tokenization — round 1 of training, fully
    * SQL-expressible, so it carries a DuckDB oracle (q97). */
  def initialPairCounts(docs: DataFrame, textCol: String): DataFrame = {
    val wc = wordCounts(docs, textCol)
    // pairs (word[i], word[i+1]) for i in 1..len-1; single-char words
    // contribute nothing (sequence would reverse on start > stop, so
    // guard with an empty array)
    val idx = when(length(col("word")) > 1,
      sequence(lit(1), length(col("word")) - 1))
      .otherwise(array().cast("array<int>"))
    wc.select(col("c"), explode(transform(idx, i => struct(
        col("word").substr(i, lit(1)).as("a"),
        col("word").substr(i + 1, lit(1)).as("b")))).as("p"))
      .groupBy(col("p.a").as("a"), col("p.b").as("b"))
      .agg(sum(col("c")).as("cnt"))
  }

  /** Train `nMerges` merges; returns (rank, a, b, cnt) in merge order.
    * Stops early when no adjacent pair remains. One merge per round —
    * exactly `trainMergesBatched` with batchSize = 1 (a single-element
    * ranked list can never conflict), which is how it is implemented;
    * BpeSpec pins the equality to the pure-Scala reference trainer. */
  def trainMerges(docs: DataFrame, textCol: String,
      nMerges: Int): Vector[(Int, String, String, Long)] =
    trainMergesBatched(docs, textCol, nMerges, batchSize = 1)._1

  /** Batched distributed training: per round, ONE pair-count aggregate,
    * one `min(batchSize, remaining)`-row TakeOrdered collect, and the
    * symbol-disjoint PREFIX of that ranked list applied in a single
    * narrow pass (selection rule + divergence contract documented at
    * Bpe.trainBatched — symbol-disjoint merges cannot perturb each
    * other's counts, so every applied merge's recorded count is exact).
    * This is what makes tokenizer training viable at a production
    * 30–50k merge vocabulary: the exact trainer's cost is dominated by
    * nMerges sequential Spark jobs (~100 ms dispatch each → hours of
    * fixed cost); batching amortizes that dispatch by up to batchSize×
    * while vocab stays a distributed Dataset and driver traffic stays
    * ≤ batchSize rows per round. `skipConflicts = true` switches the
    * selection to skip-and-continue (Bpe.disjointSelect) — more merges
    * per round on natural text, larger order-divergence from the
    * sequential trainer. Returns (merges-in-rank-order,
    * rounds-executed); batchSize = 1 is exactly `trainMerges`. */
  def trainMergesBatched(docs: DataFrame, textCol: String, nMerges: Int,
      batchSize: Int, skipConflicts: Boolean = false,
      checkpointEvery: Int = 0, checkpointDir: String = "")
      : (Vector[(Int, String, String, Long)], Int) = {
    val spark = docs.sparkSession
    import spark.implicits._
    require(nMerges > 0, s"nMerges must be positive, got $nMerges")
    val vocab0 = wordCounts(docs, textCol)
      .as[(String, Long)]
      .map { case (w, c) => (Bpe.symbolize(w), c) }
    trainLoop(spark, vocab0, Vector.empty, rounds0 = 0, nMerges,
      batchSize, skipConflicts, checkpointEvery, checkpointDir)
  }

  /** Resume batched training from the newest COMMITTED checkpoint under
    * `checkpointDir` (written by a prior run with `checkpointEvery` >
    * 0): reloads the per-word symbol vocab and the merges learned so
    * far, then continues toward the TOTAL `nMerges` target. Selection
    * state is fully captured by (vocab, merges), so an interrupted run
    * resumed here yields the same merge table as an uninterrupted one —
    * pinned by BpeSpec's resume-after-kill spec. Checkpoint discovery
    * lists the directory via java.io.File (driver-local path); a
    * non-local root (s3://, hdfs://) would go through the Hadoop
    * FileSystem API instead. */
  def resumeMergesBatched(spark: SparkSession, checkpointDir: String,
      nMerges: Int, batchSize: Int, skipConflicts: Boolean = false,
      checkpointEvery: Int = InheritCadence)
      : (Vector[(Int, String, String, Long)], Int) = {
    import spark.implicits._
    require(nMerges > 0, s"nMerges must be positive, got $nMerges")
    val committed = committedRounds(checkpointDir)
    require(committed.nonEmpty,
      s"no committed checkpoint under $checkpointDir")
    val r = committed.max
    // selection semantics are part of the training state: resuming with
    // different (batchSize, skipConflicts) would silently change which
    // merges the continued rounds commit, so the checkpoint pins them
    val paramsPath =
      java.nio.file.Paths.get(s"$checkpointDir/r$r/params.txt")
    require(java.nio.file.Files.exists(paramsPath),
      s"checkpoint $checkpointDir/r$r carries no params.txt (written by " +
        "a pre-params version?) — cannot validate selection semantics; " +
        "retrain rather than resume")
    val lines = new String(java.nio.file.Files.readAllBytes(paramsPath),
      java.nio.charset.StandardCharsets.UTF_8).split('\n')
    val expect = paramsLine(batchSize, skipConflicts)
    require(lines(0) == expect,
      s"checkpoint $checkpointDir/r$r was written with [${lines(0)}] but " +
        s"resume was called with [$expect] — selection semantics differ")
    // the cadence is durability policy, not selection semantics: the
    // default INHERITS the checkpoint's recorded cadence, because the
    // natural resume call dropping to 0 would silently disable further
    // checkpointing — the next crash then loses ALL resumed work, the
    // exact flaky-hardware scenario the feature exists for (third
    // review pass). An explicit non-negative value overrides.
    val recordedEvery = lines
      .collectFirst { case l if l.startsWith("checkpointEvery=") =>
        l.stripPrefix("checkpointEvery=").toInt }
      .getOrElse(0)
    val effectiveEvery =
      if (checkpointEvery == InheritCadence) recordedEvery
      else checkpointEvery
    val merges0 = spark.read
      .parquet(s"$checkpointDir/r$r/merges")
      .select("rank", "a", "b", "cnt")
      .as[(Int, String, String, Long)]
      .collect().toVector.sortBy(_._1)
    if (merges0.length >= nMerges)
      // the checkpoint already meets the target: honor the
      // never-more-than-nMerges contract instead of returning the
      // checkpoint's larger table verbatim
      (merges0.take(nMerges), r)
    else {
      val vocab0 = spark.read.parquet(s"$checkpointDir/r$r/vocab")
        .select("syms", "c")
        .as[(Vector[String], Long)]
      trainLoop(spark, vocab0, merges0, rounds0 = r, nMerges, batchSize,
        skipConflicts, effectiveEvery, checkpointDir)
    }
  }

  /** Sentinel for [[resumeMergesBatched]]'s `checkpointEvery`: inherit
    * the cadence recorded in the checkpoint being resumed. */
  val InheritCadence: Int = -1

  private def committedRounds(dir: String): Seq[Int] =
    Option(new java.io.File(dir).listFiles())
      .getOrElse(Array.empty).toSeq
      .filter(f => f.isDirectory && f.getName.matches("r\\d+") &&
        new java.io.File(f, "_COMMIT").exists)
      .map(_.getName.drop(1).toInt)

  private def paramsLine(batchSize: Int, skipConflicts: Boolean): String =
    s"batchSize=$batchSize;skipConflicts=$skipConflicts"

  /** Shared driver loop for fresh and resumed batched training. With
    * `checkpointEvery` > 0 it writes (vocab, merges-so-far) as parquet
    * under `checkpointDir/r<round>/` every that-many rounds, committing
    * each with a `_COMMIT` marker written LAST — a run killed mid-write
    * leaves no marker and resume falls back to the previous committed
    * round. This is the production alternative to localCheckpoint's
    * recompute trade-off (see the loop below): a multi-hour 30–50k-
    * merge run on flaky hardware restarts from the last committed round
    * instead of from scratch, at the cost of one vocab-sized columnar
    * write per cadence. */
  private def trainLoop(spark: SparkSession,
      vocab0: Dataset[(Vector[String], Long)],
      merges0: Vector[(Int, String, String, Long)], rounds0: Int,
      nMerges: Int, batchSize: Int, skipConflicts: Boolean,
      checkpointEvery: Int, checkpointDir: String)
      : (Vector[(Int, String, String, Long)], Int) = {
    import spark.implicits._
    require(batchSize > 0, s"batchSize must be positive, got $batchSize")
    require(checkpointEvery >= 0,
      s"checkpointEvery must be >= 0, got $checkpointEvery")
    require(checkpointEvery == 0 || checkpointDir.nonEmpty,
      "checkpointEvery > 0 needs a checkpointDir")
    if (checkpointEvery > 0 && rounds0 == 0) {
      // a FRESH checkpointed run takes ownership of the directory:
      // committed rounds left by a previous run (possibly a different
      // corpus or parameterization) would otherwise out-rank this run's
      // progress at resume time and silently mix training states.
      // Invalidating the markers is enough — unmarked rounds are
      // invisible to resume, and their data is overwritten when this
      // run reaches the same round number.
      committedRounds(checkpointDir).foreach { r =>
        java.nio.file.Files.deleteIfExists(
          java.nio.file.Paths.get(s"$checkpointDir/r$r", "_COMMIT"))
      }
    }
    // Each round's vocab LANDS as a lineage-cut checkpoint (RoundLoop)
    // and frees the previous one: the per-job plan stays CONSTANT-SIZE.
    // Uncut, the logical plan grows by one map stage per merge round and
    // the per-job plan work (explain strings, analysis, codegen keys)
    // grows quadratically — measured driver OOM at a 60-merge run with
    // an 8 GB heap, and an executor StackOverflowError ~60 rounds in from
    // task serialization walking the RDD chain. The blocks stay in
    // compact tungsten InternalRow format (an rdd-level cache of the
    // deserialized tuples is several times the footprint). Trade-off: a
    // localCheckpoint gives up recompute-on-block-loss, so an executor
    // failure mid-training fails the job; `checkpointEvery` is the
    // durable alternative.
    RoundLoop.run() { loop =>
      var vocab = loop.land(vocab0)
      val merges = Vector.newBuilder[(Int, String, String, Long)]
      merges ++= merges0
      var k = merges0.length
      var rounds = rounds0
      var done = false
      while (k < nMerges && !done) {
        val top = vocab.flatMap { case (syms, c) =>
            Bpe.pairsOf(syms).map { case (a, b) => (a, b, c) }
          }.toDF("a", "b", "c")
          .groupBy("a", "b").agg(sum(col("c")).as("cnt"))
          // UTF8String binary order == Bpe.Utf8Ordering (BpeSpec parity)
          .orderBy(col("cnt").desc, col("a").asc, col("b").asc)
          .limit(math.min(batchSize, nMerges - k))
          .as[(String, String, Long)]
          .collect().toVector
        val batch = Bpe.disjointSelect(top, skipConflicts)
        if (batch.isEmpty) done = true
        else {
          batch.foreach { case (a, b, cnt) =>
            merges += ((k, a, b, cnt)); k += 1
          }
          vocab = loop.land(vocab.map { case (s, c) =>
            (batch.foldLeft(s) { case (acc, (a, b, _)) =>
              Bpe.mergeOnce(acc, a, b) }, c)
          })
          rounds += 1
          if (checkpointEvery > 0 && rounds % checkpointEvery == 0)
            writeCheckpoint(spark, checkpointDir, rounds, vocab,
              merges.result(), batchSize, skipConflicts, checkpointEvery)
        }
      }
      (merges.result(), rounds)
    }
  }

  private def writeCheckpoint(spark: SparkSession, dir: String, round: Int,
      vocab: Dataset[(Vector[String], Long)],
      merges: Vector[(Int, String, String, Long)],
      batchSize: Int, skipConflicts: Boolean,
      checkpointEvery: Int): Unit = {
    import spark.implicits._
    val base = s"$dir/r$round"
    // invalidate any stale commit of this round BEFORE rewriting its
    // data, so a kill mid-rewrite can never leave a marker over
    // half-written parquet (resume then falls back one cadence)
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(base, "_COMMIT"))
    vocab.toDF("syms", "c").write.mode("overwrite")
      .parquet(s"$base/vocab")
    merges.toDF("rank", "a", "b", "cnt").write.mode("overwrite")
      .parquet(s"$base/merges")
    writeSynced(java.nio.file.Paths.get(base, "params.txt"),
      (paramsLine(batchSize, skipConflicts) +
        s"\ncheckpointEvery=$checkpointEvery")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    // marker LAST, and durably: the ordering alone only guards process
    // kills — on OS crash/power loss an unflushed marker could become
    // visible over unflushed checkpoint data (ADVICE r6), so the
    // params/marker bytes are fsynced (FileChannel.force) and the round
    // directory entry is fsynced after marker creation. The parquet
    // payload itself is flushed by Hadoop's LocalFileSystem on stream
    // close; a marker that survives a machine crash while a parquet
    // page didn't will surface as a read error on resume, which the
    // loader treats as fall-back-one-cadence — never silent corruption.
    writeSynced(java.nio.file.Paths.get(base, "_COMMIT"),
      Array.emptyByteArray)
    syncDir(java.nio.file.Paths.get(base))
  }

  /** Write bytes and force them (and the file's metadata) to the storage
    * device before returning — checkpoint markers must not outrun their
    * payload through the page cache. */
  private def writeSynced(p: java.nio.file.Path, bytes: Array[Byte]): Unit = {
    val ch = java.nio.channels.FileChannel.open(p,
      java.nio.file.StandardOpenOption.CREATE,
      java.nio.file.StandardOpenOption.TRUNCATE_EXISTING,
      java.nio.file.StandardOpenOption.WRITE)
    try {
      ch.write(java.nio.ByteBuffer.wrap(bytes))
      ch.force(true)
    } finally ch.close()
  }

  /** fsync a directory so a just-created entry (the _COMMIT marker)
    * survives an OS crash. Some filesystems refuse opening a directory
    * for sync (notably on Windows) — best-effort there, matching every
    * production WAL implementation. */
  private def syncDir(p: java.nio.file.Path): Unit =
    try {
      val ch = java.nio.channels.FileChannel.open(p,
        java.nio.file.StandardOpenOption.READ)
      try ch.force(true) finally ch.close()
    } catch { case _: java.io.IOException => () }

  /** Default bound on the per-partition word→tokens encode cache: ~1M
    * distinct words comfortably fits an executor core's share of memory
    * (entries are short token vectors) while covering the Zipf head of
    * any real corpus partition. */
  val DefaultMaxCacheWords: Int = 1 << 20

  /** Tokenize the corpus with a learned merge table: (id, tokens) under
    * the trained vocabulary — the materialized product a training-data
    * pipeline actually ships downstream. The merge ranks broadcast (a
    * merge table is nMerges rows — tiny); encoding is a narrow typed
    * map, zero shuffle. The per-word encode is cached per partition —
    * corpus word frequency follows a Zipf law, so the hit rate is high.
    * The cache is SIZE BOUNDED at `maxCacheWords`: a pathological
    * partition (unique-word spam) would otherwise grow it without
    * limit; on overflow it is cleared — the Zipf head re-warms within a
    * few rows, and an adversarial all-unique partition degrades to
    * cache-free encoding instead of an OOM. */
  def encodeTokens(docs: DataFrame, textCol: String, idCol: String,
      merges: Vector[(Int, String, String, Long)],
      maxCacheWords: Int = DefaultMaxCacheWords): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    require(maxCacheWords > 0,
      s"maxCacheWords must be positive, got $maxCacheWords")
    val ranks: Map[(String, String), Int] =
      merges.map { case (rank, a, b, _) => (a, b) -> rank }.toMap
    val bc = spark.sparkContext.broadcast(ranks)
    // the per-word BPE encode loop is CPU-amplifying — spread one-split
    // inputs across the session width first (no-op at corpus scale; the
    // per-partition memo cache stays a pure memo, so results are
    // partition-independent)
    Partitioning.spreadSmallScan(spark,
        docs.select(col(idCol).cast("long"), col(textCol)))
      .as[(Long, String)]
      .mapPartitions { it =>
        val r = bc.value
        val cache = scala.collection.mutable.Map.empty[String, Vector[String]]
        it.map { case (id, text) =>
          val toks = text.split(' ').iterator
            .flatMap { w =>
              cache.get(w) match {
                case Some(t) => t
                case None =>
                  val t = Bpe.encode(w, r)
                  if (cache.size >= maxCacheWords) cache.clear()
                  cache.update(w, t)
                  t
              }
            }
            .toVector
          (id, toks)
        }
      }.toDF(idCol, "tokens")
  }

  /** Per-doc token and distinct-token counts under the trained
    * vocabulary — expression-level reductions over `encodeTokens`
    * (still one narrow pass: Catalyst fuses the size/array_distinct
    * projection into the same stage as the typed map). */
  def encodeTokenCounts(docs: DataFrame, textCol: String, idCol: String,
      merges: Vector[(Int, String, String, Long)],
      maxCacheWords: Int = DefaultMaxCacheWords): DataFrame =
    encodeTokens(docs, textCol, idCol, merges, maxCacheWords)
      .select(col(idCol),
        size(col("tokens")).as("n_tokens"),
        size(array_distinct(col("tokens"))).as("n_distinct_tokens"))
}
