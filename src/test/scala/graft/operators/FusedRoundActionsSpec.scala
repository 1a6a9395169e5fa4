package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Pins the round-8 fusion of round materialization with the convergence
  * probe in the driver-loop operators (CC fixpoint, k-core, multi-source
  * BFS): each round must issue exactly ONE action — a `count` over the
  * lazily-checkpointed round state — and never a separate
  * eager-checkpoint-then-`isEmpty`/`count` pair. The fixed-iteration
  * loops (pageRank/PPR, label propagation, both walks) are pinned too:
  * one checkpoint per lineage cut plus the result's. Every loop's exact
  * action sequence is pinned (each checkpoint, lazy or eager, reports a
  * `localCheckpoint` action). Asserted at the ACTION level
  * (QueryExecutionListener) rather than the job level, because AQE stage
  * materializations and broadcast builds contribute sub-jobs of their
  * own; the action sequence is what the operator controls.
  */
class FusedRoundActionsSpec extends SparkTestBase {

  /** Records Dataset action names fired during `body` (listener events
    * are posted asynchronously — poll until the recorded set is stable). */
  private def recordActions(body: => Unit): Seq[String] = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val l = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution,
          durationNs: Long): Unit = seen.add(funcName)
      def onFailure(funcName: String, qe: QueryExecution,
          exception: Exception): Unit = seen.add(s"FAILED:$funcName")
    }
    spark.listenerManager.register(l)
    try {
      body
      // the bus drains quickly; wait until the count is stable for a
      // couple of polls (bounded — a busy box must not hang the suite)
      var last = -1
      var stable = 0
      var waited = 0
      while (stable < 3 && waited < 10000) {
        Thread.sleep(100); waited += 100
        if (seen.size == last) stable += 1 else { stable = 0; last = seen.size }
      }
    } finally spark.listenerManager.unregister(l)
    seen.toArray(Array.empty[String]).toSeq
  }

  test("kCore rounds fuse materialization with the kill count: one " +
      "count action per executed round, no isEmpty probes") {
    import spark.implicits._
    // path 1-2-3-4-5-6, k=2: peel kills {1,6}, {2,5}, {3,4} — exactly
    // 3 executed rounds, then the round-3 count reports an empty kill set
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L))
      .toDF("src", "dst")
    val actions = recordActions {
      val out = Graphs.kCore(spark, edges, k = 2L, rounds = 10)
      assert(out.count() == 0L) // the whole path peels away
    }
    assert(!actions.exists(_.contains("isEmpty")),
      s"kCore must not issue isEmpty probes, saw: $actions")
    // 1 init count (materializes degrees) + 3 round counts, + the final
    // count() this test itself runs on the (empty) result
    assert(actions.count(_ == "count") == 5,
      s"expected 5 count actions (init + 3 rounds + test), saw: $actions")
    assert(actions == Seq.fill(5)(Seq("localCheckpoint", "count")).flatten,
      s"saw: $actions")
  }

  test("CC fixpoint rounds fuse materialization with the convergence " +
      "count: one count action per round plus the edge-count gate") {
    import spark.implicits._
    // two components: a 4-chain and a triangle
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (11L, 12L),
      (10L, 12L)).toDF("src", "dst")
    var rounds = -1
    val actions = recordActions {
      val h = ConnectedComponents.runManaged(spark, edges)
      rounds = h.rounds
      h.close()
    }
    assert(rounds >= 1)
    assert(!actions.exists(_.contains("isEmpty")),
      s"CC must not issue isEmpty probes, saw: $actions")
    // e.count() gate + one fused count per round; round 0 is the eager
    // init checkpoint (its action name is version-dependent, asserted
    // only by exclusion above)
    assert(actions.count(_ == "count") == rounds + 1,
      s"expected ${rounds + 1} count actions (edge gate + $rounds " +
        s"rounds), saw: $actions")
    assert(actions == Seq("count", "localCheckpoint") ++
      Seq.fill(rounds)(Seq("localCheckpoint", "count")).flatten,
      s"saw: $actions")
  }

  test("nearestSeeds depths fuse frontier materialization with the " +
      "exhaustion count: one count action per executed depth") {
    import spark.implicits._
    // path 0-1-2, seed {0}, depth bound 5: frontiers {1}, {2}, then an
    // empty third frontier exhausts — exactly 3 executed depths
    val edges = Seq((0L, 1L), (1L, 2L)).toDF("src", "dst")
    val seeds = Seq(0L).toDF("node")
    val actions = recordActions {
      val out = Graphs.nearestSeeds(spark, edges, seeds, maxDepth = 5)
      assert(out.count() == 3L) // nodes 0, 1, 2 all settle
    }
    assert(!actions.exists(_.contains("isEmpty")),
      s"nearestSeeds must not issue isEmpty probes, saw: $actions")
    // 3 depth counts + the final count() this test runs on the result
    assert(actions.count(_ == "count") == 4,
      s"expected 4 count actions (3 depths + test), saw: $actions")
    assert(actions == "localCheckpoint" +:
      Seq.fill(4)(Seq("localCheckpoint", "count")).flatten,
      s"saw: $actions")
  }

  // ---------------- fixed-iteration loops: exact action sequences -------

  /** A 12-ring with two chords, a self-loop and no dead ends. */
  private val ring = (0L until 12L).map(k => (k, (k + 1) % 12)) ++
    Seq((0L, 6L), (3L, 9L), (2L, 2L))

  test("pageRank issues the seed-count probe and one result checkpoint") {
    import spark.implicits._
    val actions = recordActions {
      Graphs.pageRank(spark, ring.toDF("src", "dst"), iters = 5)
    }
    assert(actions == Seq("count", "localCheckpoint"), s"saw: $actions")
  }

  test("personalizedPageRank past the round-8 cut: one checkpoint per cut") {
    import spark.implicits._
    val actions = recordActions {
      Graphs.personalizedPageRank(spark, ring.toDF("src", "dst"),
        Seq(0L, 5L).toDF("node"), iters = 9)
    }
    assert(actions == Seq("count", "localCheckpoint", "localCheckpoint"),
      s"saw: $actions")
  }

  test("labelPropagation with iters = 9 cuts lineage once at round 8") {
    import spark.implicits._
    val actions = recordActions {
      Graphs.labelPropagation(spark, ring.toDF("src", "dst"), iters = 9)
    }
    assert(actions == Seq("localCheckpoint", "localCheckpoint"),
      s"saw: $actions")
  }

  test("randomWalks past the round-8 cut: one checkpoint per cut") {
    import spark.implicits._
    val actions = recordActions {
      Graphs.randomWalks(spark, ring.toDF("src", "dst"),
        Seq(0L, 4L, 7L).toDF("node"), length = 9)
    }
    assert(actions == Seq("localCheckpoint", "localCheckpoint"),
      s"saw: $actions")
  }

  test("weightedRandomWalks: weight probe, then the walk's checkpoints") {
    import spark.implicits._
    val actions = recordActions {
      Graphs.weightedRandomWalks(spark,
        (ring ++ ring.take(3)).toDF("src", "dst"),
        Seq(0L, 4L, 7L).toDF("node"), length = 9)
    }
    assert(actions == Seq("head", "localCheckpoint", "localCheckpoint"),
      s"saw: $actions")
  }
}
