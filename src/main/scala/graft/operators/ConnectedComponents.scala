package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Distributed connected components as an iterative DataFrame fixpoint
  * (SURVEY.md §2.f; north_rule: "GraphFrames or iterative DataFrame
  * self-join with salted keys" — no GraphFrames jar in the sandbox and
  * GraphX is RDD-based, so DataFrame self-join it is).
  *
  * Algorithm: min-label propagation with POINTER JUMPING — each round
  *   1. comp'(u) = min(comp(u), min over neighbors v of comp(v))
  *   2. comp''(u) = comp(comp'(u))       // pointer jump
  *   3. comp'''(u) = comp(comp''(u))     // second jump: ~log3(L) rounds
  * until no label changes. Labels are node ids; the fixpoint label is the
  * component's minimum node id (exactly the UnionFind oracle's output).
  *
  * Scale notes (the parts that matter at 10^12 edges):
  *   - edges are symmetrized once up front, REPARTITIONED BY the join key
  *     (v) and cached, so the big side of every round's join reuses one
  *     partitioning instead of re-shuffling per round. (On a real cluster,
  *     bucket-write the symmetrized edge table once for the same effect
  *     with spill-to-disk durability.)
  *   - per-round persistence truncates lineage (a driver-loop operator
  *     otherwise grows plan + RDD dependency chain per round) and
  *     computes each round's plan exactly ONCE. The rounds live in a
  *     [[RoundLoop]], in one of two stores:
  *       default   — localCheckpoint blocks in the block manager, in
  *                   tungsten format; NO parquet encode/decode, no
  *                   filesystem round-trip, no per-round read-back job
  *                   setup. This is the in-session shape (three rounds of
  *                   driver-side q63 flares traced to the fixed per-round
  *                   parquet+dispatch cost amplifying box noise — r4–r6).
  *       resumable — [[resumableRun]]: parquet rounds in a CALLER-OWNED
  *                   dir (ParquetStore). They survive executor/block loss
  *                   and double as a CRASH checkpoint: a new process
  *                   reseeds from the last committed round.
  *                   (Dataset.checkpoint would compute each round twice
  *                   — materialize + re-read — hence parquet, not
  *                   reliable checkpoint.)
  *   - the input edge plan is cached during init only: it is referenced
  *     4× (node union + symmetrize union) and Spark does not dedupe
  *     common subplans — an expensive upstream derivation (q109's
  *     containment pairs) would otherwise execute once per reference.
  *   - tiny graphs can skip the fixpoint entirely: see
  *     `smallGraphThreshold` on [[runManaged]] (measured-count-gated
  *     driver UnionFind, bit-identical labels).
  *   - the convergence count is FUSED with the round's materialization:
  *     the round is staged as a lazy localCheckpoint and the count is
  *     the one action that runs it, so each round costs a single
  *     scheduler round-trip (computing the join once, persisting the
  *     blocks, counting the changed labels) and the pass stays
  *     closure-free (codegen).
  *   - round n-1's storage is freed as soon as round n lands; whatever
  *     backs the FINAL round outlives this call (it backs the returned
  *     DataFrame) and is freed by CcHandle.close(), or by the
  *     ContextCleaner once the labels are GC'd.
  *   - hub skew: the neighbor-min uses groupBy(min), which does map-side
  *     partial aggregation — a degree-10^4 hub collapses to one row per
  *     input partition before the shuffle, so no salting is needed on the
  *     aggregate. The label join is on the (unique-key) labels side, with
  *     AQE skew-join splitting enabled for the residual edge-side skew.
  */
object ConnectedComponents {

  /** Result handle: `labels` is backed by the final round's storage
    * (block-manager blocks by default; parquet files for resumable runs).
    * A caller that has FULLY consumed the labels (collected them, or
    * written them elsewhere) should call `close()` to free that storage
    * immediately instead of waiting for GC — a long-lived driver running
    * many fixpoints would otherwise accumulate one final-round footprint
    * per run. The DataFrame must not be used after close(). Idempotent. */
  final class CcHandle private[ConnectedComponents] (
      val labels: DataFrame, loop: RoundLoop,
      /** fixpoint rounds actually executed (incl. the final no-change
        * round) — the per-round job cost dominates small graphs, so this
        * is the number to watch when a topology gets slower */
      val rounds: Int) {
    def close(): Unit = loop.close()
  }

  /** @param edges DataFrame with long columns `src`, `dst`
    * @return DataFrame (node LONG, comp LONG), comp = min id in component.
    *   Backing storage lives until GC; use `runManaged` to reclaim it
    *   earlier. */
  def run(spark: SparkSession, edges: DataFrame,
      maxIter: Int = 50, smallGraphThreshold: Long = 0L): DataFrame =
    runManaged(spark, edges, maxIter, smallGraphThreshold).labels

  /** As `run`, returning a handle whose close() frees the run's backing
    * storage once the caller has fully consumed the labels.
    * @param smallGraphThreshold when > 0 and BOTH the measured distinct
    *   symmetrized edge count and node count come in at or under it,
    *   skip the distributed fixpoint and run the in-repo UnionFind on
    *   the driver (labels bit-identical — UnionFind is the fixpoint's
    *   own spec oracle; handle.rounds = 0 signals the path taken). The
    *   same move Spark makes broadcasting a small join side: measure
    *   first, then pick the plan — the collect is gated by the measured
    *   counts, so driver memory is bounded by construction (~32 MB at
    *   the 1M-edge default callers use). The win is real even locally:
    *   a ~5-round fixpoint costs ~10 job dispatches however tiny the
    *   graph; a dedup-cluster graph (q109) is pair-bounded and usually
    *   small even when the corpus is not. 0 (the default) disables —
    *   q63/q88 keep exercising the distributed path unconditionally. */
  def runManaged(spark: SparkSession, edges: DataFrame,
      maxIter: Int = 50, smallGraphThreshold: Long = 0L): CcHandle =
    fixpoint(spark, edges, maxIter, files = None, seed = None,
      smallGraphThreshold)

  /** Crash-resumable fixpoint in a CALLER-OWNED checkpoint dir — the
    * north-rule resume contract, for fixpoints long enough that
    * restarting from scratch is the real cost of an executor-loss or
    * driver crash. On start, the newest COMMITTED round under `dir`
    * (subdir `round_N` whose `_SUCCESS` marker the parquet job commit
    * wrote — a killed mid-write round has no marker and is ignored,
    * then overwritten) seeds the labels and the round counter; absent
    * any committed round this is a fresh parquet-round run rooted at
    * `dir`.
    *
    * Resuming from ANY committed round is correct, not just the last
    * one before a crash: every persisted labeling is a monotone
    * contraction state (each label is the id of a node in the same
    * component, labels only ever decrease), and the recurrence applied
    * to any such state converges to the same min-id-per-component
    * fixpoint — so a lost trailing round costs rounds, never
    * correctness (spec-pinned against the fresh run's labels).
    *
    * `maxIter` counts TOTAL rounds including the resumed prefix (the
    * round counter continues from N). close() deletes the whole dir —
    * call it only once the labels are consumed; crash before close()
    * and the next resumableRun picks up from the last commit. */
  def resumableRun(spark: SparkSession, edges: DataFrame, dir: String,
      maxIter: Int = 50): CcHandle = {
    val root = new java.io.File(dir)
    root.mkdirs()
    val committed = Option(root.listFiles()).toSeq.flatten
      .filter(f => f.isDirectory && f.getName.matches("round_\\d+") &&
        new java.io.File(f, "_SUCCESS").exists)
      .map(_.getName.stripPrefix("round_").toInt)
    val seed = committed.sorted.lastOption.map { n =>
      (spark.read.parquet(new java.io.File(root, s"round_$n").getPath)
        .select("node", "comp"), n)
    }
    fixpoint(spark, edges, maxIter,
      Some(new ParquetStore(root, seed.map(_._2))), seed, smallGraph = 0L)
  }

  private def fixpoint(spark: SparkSession, edges: DataFrame,
      maxIter: Int, files: Option[ParquetStore],
      seed: Option[(DataFrame, Int)], smallGraph: Long): CcHandle =
    RoundLoop.run(files) { loop =>
      import spark.implicits._

      // the input edge plan appears FOUR times below (both legs of the
      // node union, both legs of the symmetrize union) and Spark does not
      // dedupe common subplans — fine when `edges` is a parquet scan
      // (q63/q88), but when it is an expensive derivation (q109 feeds the
      // whole containment-pair join in here) init would execute it 4×
      // (measured: q109 14.0 s in the r7 bench vs ~6.5 s with the cache).
      // Cache it for init only: edge-granularity, freed as soon as the
      // symmetrized/cached `e` is materialized below.
      val raw = loop.cache(edges.selectExpr("CAST(src AS BIGINT) AS u",
        "CAST(dst AS BIGINT) AS v"))
      // symmetrize once; self-loops dropped; hash-partitioned by the
      // per-round join key and cached so rounds never re-shuffle the big
      // side. The partition count is SCALE-ADAPTIVE (guide §2;
      // Partitioning scaladoc): every fixpoint round launches stages as
      // wide as this cache, so a small dup-pair graph must not inherit the
      // corpus-sized shuffle partition conf — ceiling-clamped, identical
      // at real edge scale.
      val eSym = raw
        .unionByName(raw.select(col("v").as("u"), col("u").as("v")))
        .where(col("u") =!= col("v"))
        .distinct()
      val e = loop.cache(eSym
        .repartition(Partitioning.adaptiveParts(spark, eSym), col("v")))
      // materialize e NOW (round 1 would have paid this anyway): the raw
      // cache can then be dropped before the fixpoint holds two edge-scale
      // caches at once, and the count doubles as the small-graph gate
      val nEdges = e.count()
      val nodesDf = raw.select(col("u").as("n"))
        .unionByName(raw.select(col("v").as("n"))).distinct()
      // nodes can exceed edges (self-loop-only nodes) — gate BOTH
      // measured counts before collecting anything
      if (smallGraph > 0 && seed.isEmpty && nEdges <= smallGraph &&
          nodesDf.count() <= smallGraph) {
        val uf = new graft.core.UnionFind
        nodesDf.as[Long].collect().foreach(uf.add)
        e.select(col("u"), col("v")).as[(Long, Long)].collect()
          .foreach { case (a, b) => uf.union(a, b) }
        // the labels are a LocalRelation — nothing distributed backs them
        val lbl = uf.components().toSeq.sortBy(_._1).toDF("node", "comp")
        new CcHandle(lbl, loop, 0)
      } else {
        // every endpoint is a node (self-loops contribute a node, no
        // edge); a resumed run starts from the seed round's labels instead
        // (already lineage-cut: a fresh parquet read). Eager: no caller
        // action follows the init round, and the raw cache it reads is
        // freed on the next line — round 0 must not be left lazy over a
        // freed cache.
        val labels = seed.map(_._1).getOrElse(loop.land(
          raw.select(col("u").as("node"))
            .unionByName(raw.select(col("v").as("node")))
            .distinct()
            .withColumn("comp", col("node"))))
        loop.uncache(raw)
        contract(loop, e, labels, seed.map(_._2).getOrElse(0), maxIter)
      }
    }

  /** The fixpoint rounds proper, from `labels0` after `iter0` rounds. */
  private def contract(loop: RoundLoop, e: DataFrame, labels0: DataFrame,
      iter0: Int, maxIter: Int): CcHandle = {
    var labels = labels0
    var iter = iter0
    var changed = 1L
    while (changed > 0 && iter < maxIter) {
      // 1. neighbor-min: comp of v flows to u (map-side combine on groupBy)
      val nbrMin = e.join(labels.withColumnRenamed("node", "v"), Seq("v"))
        .groupBy(col("u").as("node"))
        .agg(min(col("comp")).as("nbrComp"))
      // step1 is referenced THREE times below (rootMin, step2, and via jt
      // both jumps) and Spark does not dedupe common subplans — without a
      // persist the round's ONE edge join would execute once per
      // reference (measured: q63 6.4 → 22-66 s in the full bench when the
      // cached edge blocks start evicting; at 10^12 edges a 3× edge join
      // per round is the difference between the plan and 3× the plan).
      // Node-granularity rows, freed right after the round materializes.
      val step1 = loop.cache(labels.join(nbrMin, Seq("node"), "left_outer")
        .select(col("node"), col("comp").as("oldComp"),
          least(col("comp"), coalesce(col("nbrComp"), col("comp")))
            .as("comp1")))
      // 1b. root update (the hash-to-min trick): members report their new
      // min UP to the label they were pointing at, so the jump table the
      // steps below read is the previous labels IMPROVED by this round's
      // member discoveries. Without it, a merge discovered at one member
      // of an already-contracted cluster (one bridge endpoint) reaches the
      // cluster's root only hop-by-hop along original edges — measured 22
      // rounds on the q88 bridged-chain topology vs 7 with it (BASELINE.md;
      // on a 10^12-edge graph each round is a full edge-join job, so round
      // count IS the cost). The aggregate is label-granularity (map-side
      // combine collapses each cluster to one row per partition).
      // only IMPROVED members can improve their root: comp(root) ≤ root's
      // own id ≤ any stale report, so filtering to comp1 < oldComp keeps
      // the aggregate input at changed-node granularity (tiny near
      // convergence) without affecting the result
      val rootMin = step1.where(col("comp1") < col("oldComp"))
        .groupBy(col("oldComp").as("node"))
        .agg(min(col("comp1")).as("memberMin"))
      // jt feeds BOTH jumps — same dedupe argument as step1
      val jt = loop.cache(labels.join(rootMin, Seq("node"), "left_outer")
        .select(col("node"),
          least(col("comp"), coalesce(col("memberMin"), col("comp")))
            .as("best")))
      // 2. pointer jump through the improved table: comp2(u) = jt(comp1(u))
      val jump = jt.select(col("node").as("comp1"), col("best").as("jumped"))
      val step2 = step1.join(jump, Seq("comp1"), "left_outer")
        .select(col("node"), col("oldComp"),
          least(col("comp1"), coalesce(col("jumped"), col("comp1")))
            .as("comp2"))
      // 3. second jump against the same improved table: each extra hop
      // shortens pointer chains by another label lookup per round, so a
      // length-L chain converges in ~log3(L) instead of ~log2(L) rounds.
      // One extra node-granularity join per round buys one FEWER round —
      // i.e. one fewer round materialization + job dispatch, the dominant
      // per-round fixed cost both here and on a real cluster. Correctness
      // is unchanged by 1b/2/3: labels only ever decrease, and every
      // adopted label (a neighbor's comp, a member's comp1, a jump target)
      // is the id of a node in the SAME component — so the fixpoint is
      // still exactly min-id-per-component (same monotone-contraction
      // argument as before; asserted against union-find in specs).
      val jump2 = jt.select(col("node").as("comp2"), col("best").as("jumped2"))
      val step3 = step2.join(jump2, Seq("comp2"), "left_outer")
        .select(col("node"), col("oldComp"),
          least(col("comp2"), coalesce(col("jumped2"), col("comp2")))
            .as("comp"))
      iter += 1
      // convergence count, FUSED with the round's materialization: the
      // round is staged lazily, so this ONE count job computes the round,
      // persists its blocks, and counts the changed labels in a single
      // scheduler round-trip. The count itself stays a codegen'd filter
      // over the materializing rows (no closures, exact where an
      // accumulator could overshoot on task retries); a ParquetStore
      // writes the round inside the staging instead (parquet IS its
      // storage) and the count reads the files back.
      val (round, nChanged) = loop.converge(step3)(
        _.where(col("oldComp") =!= col("comp")).count())
      changed = nChanged
      // the round's storage now holds everything downstream needs — free
      // the intra-round caches before the next round allocates its own
      loop.uncache(step1, jt)
      labels = round.select("node", "comp")
    }
    loop.uncache(e)
    // a fixpoint that exits on maxIter has MULTIPLE labels inside some
    // component — silently returning them would poison every downstream
    // join/canonicalization; fail loudly instead (the loop frees the
    // run's storage; a resumable run keeps its committed rounds, so the
    // caller can resume with a higher maxIter)
    if (changed != 0)
      throw new IllegalStateException(
        s"connected components did not converge within $maxIter rounds " +
          s"($changed labels still changing) — raise maxIter")
    new CcHandle(loop.outputRound(labels), loop, iter)
  }
}
