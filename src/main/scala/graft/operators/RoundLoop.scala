package graft.operators

import scala.collection.mutable

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** The round state of one iterative-operator run: the ONE place the
  * operators persist, checkpoint and free driver-loop storage. Every
  * fixpoint (CC, pageRank/PPR, kCore, labelPropagation, nearestSeeds,
  * both walk operators), the BPE trainer's vocab rounds and
  * minhashNearDups' signature pass run inside [[RoundLoop.run]]:
  *
  *   - `cache` persists a frame the run reads many times
  *     (MEMORY_AND_DISK; Spark does not dedupe common subplans);
  *   - `checkpoint` cuts a frame's lineage with a localCheckpoint that is
  *     held until the run ends (BFS frontiers, minhash signatures);
  *   - `land` and `converge` stage a ROUND, and free the previous round
  *     once the new one has landed (the staged round's plan reads the
  *     previous blocks, and a lineage cut cannot recompute freed blocks).
  *     `land` materializes eagerly. `converge` stages lazily, so the one
  *     probe action the caller passes (the convergence or exhaustion
  *     count) both materializes the round and decides the loop: one
  *     scheduler round-trip per round, the dominant per-round fixed cost
  *     of a driver loop (guide §1.2);
  *   - `iterate` unrolls a fixed-iteration loop into one Catalyst plan and
  *     lands a lineage cut every [[RoundLoop.CutEvery]] rounds — an uncut
  *     32-round plan stalls the driver in analysis and optimization, and
  *     task serialization walks the uncut RDD chain recursively.
  *
  * Lifetimes. A checkpoint is registered with the loop BEFORE its first
  * job runs (staged lazily, then materialized), so a failing job cannot
  * orphan it. When the body throws, everything the run created is freed;
  * a [[ParquetStore]] keeps its committed rounds, which are what a
  * restart resumes from. When the body returns, everything is freed
  * except the output.
  *
  * Output contract, for every caller: a frame returned by `output` (or
  * the final round, marked by `outputRound`) is backed by checkpoint
  * blocks — parquet files for a ParquetStore. They are freed by `close()`
  * where the operator hands out a handle (ConnectedComponents.CcHandle),
  * and otherwise by the ContextCleaner once the returned frame is GC'd.
  */
final class RoundLoop private (private val rounds: RoundLoop.RoundStore) {
  import RoundLoop._

  private val caches = mutable.ArrayBuffer.empty[Dataset[_]]
  private val held = mutable.ArrayBuffer.empty[RDD[_]]
  private var out: Option[RDD[_]] = None
  private var keepRounds = false

  def cache[T](ds: Dataset[T]): Dataset[T] = {
    caches += ds
    ds.persist(StorageLevel.MEMORY_AND_DISK)
  }

  /** Frees cached frames before the run ends (non-blocking). */
  def uncache(dss: Dataset[_]*): Unit = dss.foreach { ds =>
    ds.unpersist(blocking = false)
    caches -= ds
  }

  def checkpoint[T](ds: Dataset[T], eager: Boolean = true): Dataset[T] =
    localCheckpoint(ds, eager)(held += _)

  def land[T](ds: Dataset[T]): Dataset[T] = {
    val m = rounds.stage(ds, eager = true)
    rounds.commit()
    m
  }

  def converge[T](ds: Dataset[T])(probe: Dataset[T] => Long)
      : (Dataset[T], Long) = {
    val m = rounds.stage(ds, eager = false)
    val n = probe(m)
    rounds.commit()
    (m, n)
  }

  def iterate[T](init: Dataset[T], n: Int)
      (step: (Dataset[T], Int) => Dataset[T]): Dataset[T] =
    (1 to n).foldLeft(init) { (ds, i) =>
      val next = step(ds, i)
      if (i % CutEvery == 0 && i < n) land(next) else next
    }

  /** Materializes the run's result into blocks that outlive the run. */
  def output[T](ds: Dataset[T]): Dataset[T] =
    localCheckpoint(ds, eager = true)(r => out = Some(r))

  /** Marks the current round (`ds` reads it) as the run's result. */
  def outputRound[T](ds: Dataset[T]): Dataset[T] = {
    keepRounds = true
    ds
  }

  /** Frees everything the run holds, its output included. Idempotent;
    * the output's last free blocks so a caller's close() is
    * deterministic. */
  def close(): Unit = {
    freeTransient()
    out.foreach(_.unpersist(blocking = true))
    out = None
    rounds.release(blocking = true)
  }

  private def freeTransient(): Unit = {
    caches.foreach(_.unpersist(blocking = false))
    caches.clear()
    held.foreach(_.unpersist(blocking = false))
    held.clear()
  }

  private def finish(): Unit = {
    freeTransient()
    if (!keepRounds) rounds.release(blocking = false)
  }

  private def abandon(): Unit = {
    freeTransient()
    out.foreach(_.unpersist(blocking = false))
    out = None
    rounds.abandon()
  }
}

object RoundLoop {

  /** Rounds between lineage cuts of an unrolled fixed-iteration loop. */
  val CutEvery = 8

  /** Runs `body` with a fresh loop: block-manager rounds by default, or
    * `files`' parquet rounds. */
  def run[A](files: Option[ParquetStore] = None)(body: RoundLoop => A): A = {
    val loop = new RoundLoop(files.getOrElse(new BlockStore))
    val result = try body(loop) catch {
      case t: Throwable => loop.abandon(); throw t
    }
    loop.finish()
    result
  }

  /** Lazily localCheckpoints `ds`, hands its backing RDD to `track`, then
    * (if `eager`) materializes it — the same single job an eager
    * localCheckpoint runs. The blocks belong to the RDD inside the
    * returned Dataset's LogicalRDD leaf; this is the one place that
    * looks it up. */
  private def localCheckpoint[T](ds: Dataset[T], eager: Boolean)
      (track: RDD[_] => Unit): Dataset[T] = {
    val m = ds.localCheckpoint(eager = false)
    val rdd = m.queryExecution.analyzed.collectFirst {
      case lr: LogicalRDD => lr.rdd
    }.getOrElse(throw new IllegalStateException(
      "localCheckpoint is not backed by a LogicalRDD"))
    track(rdd)
    if (eager) rdd.count()
    m
  }

  /** Where a run's rounds live. `stage` returns the round as a
    * lineage-cut frame; `commit` frees the round before it; `release`
    * frees every round; `abandon` runs instead of `release` when the
    * run fails. */
  private[operators] sealed trait RoundStore {
    def stage[T](ds: Dataset[T], eager: Boolean): Dataset[T]
    def commit(): Unit
    def release(blocking: Boolean): Unit
    def abandon(): Unit = release(blocking = false)
  }

  /** In-session rounds: localCheckpoint blocks in tungsten format — no
    * encode/decode or filesystem round-trip per round. */
  private final class BlockStore extends RoundStore {
    private var last: Option[RDD[_]] = None
    private var pending: Option[RDD[_]] = None
    def stage[T](ds: Dataset[T], eager: Boolean): Dataset[T] =
      localCheckpoint(ds, eager)(r => pending = Some(r))
    def commit(): Unit = {
      last.foreach(_.unpersist(blocking = false))
      last = pending
      pending = None
    }
    def release(blocking: Boolean): Unit = {
      pending.foreach(_.unpersist(blocking = false))
      pending = None
      last.foreach(_.unpersist(blocking))
      last = None
    }
  }
}

/** Durable rounds: one parquet directory `round_N` per round under a
  * CALLER-OWNED `root`, which survives block loss and doubles as a crash
  * checkpoint (ConnectedComponents.resumableRun). The write IS the
  * materialization, so staging is always eager; the commit split only
  * delays deleting the previous round until the caller's probe has run,
  * so at least one committed round is always on disk. A failed run keeps
  * its files; `release` (the handle's close()) deletes `root`.
  * `seedRound` is the committed round a resumed run starts from: it is
  * deleted once the first new round commits. */
private[operators] final class ParquetStore(root: java.io.File,
    seedRound: Option[Int]) extends RoundLoop.RoundStore {
  import graft.core.Fs.deleteRecursively
  private var next = seedRound.fold(0)(_ + 1)
  private var prev = seedRound.map(n => new java.io.File(root, s"round_$n"))
  private var pending: Option[java.io.File] = None
  def stage[T](ds: Dataset[T], eager: Boolean): Dataset[T] = {
    val dir = new java.io.File(root, s"round_$next")
    next += 1
    ds.write.mode("overwrite").parquet(dir.getAbsolutePath)
    pending = Some(dir)
    ds.sparkSession.read.parquet(dir.getAbsolutePath).as(ds.encoder)
  }
  def commit(): Unit = if (pending.isDefined) {
    prev.foreach(deleteRecursively)
    prev = pending
    pending = None
  }
  def release(blocking: Boolean): Unit = deleteRecursively(root)
  override def abandon(): Unit = ()
}
