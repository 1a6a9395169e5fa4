package graft

import org.apache.spark.sql.DataFrame

/** Physical-plan assertions for the scale-critical properties README
  * claims: filters and column pruning reach the parquet scan, dimension
  * joins broadcast, big equi-joins sort-merge, and the candidate-
  * generation joins (LSH/simhash/range) NEVER degenerate into a
  * cartesian/nested-loop product — the one plan shape that cannot
  * survive 100×. Asserted on executed plans (post-AQE) at sf0.001.
  */
class PlanAuditSpec extends SparkTestBase {

  private val sf = "/root/testdata/sf0.001"

  private def executedPlan(name: String): String = {
    val df: DataFrame = SparkEntry.queries(name)(spark, sf)
    df.collect()
    df.queryExecution.executedPlan.toString
  }

  test("q01: filter is pushed to the parquet scan and columns are pruned") {
    val plan = executedPlan("q01_scan_filter_project")
    assert(plan.contains("PushedFilters:"), plan.take(2000))
    // (the plan string truncates long filter lists — match prefixes)
    assert(plan.contains("GreaterThan(l_quantity") &&
      plan.contains("EqualTo(l_returnfl"), plan.take(3000))
    // projection pruning: the scan schema must not carry untouched columns
    assert(!plan.contains("l_comment") && !plan.contains("l_shipdate"),
      "scan reads columns the query never touches")
  }

  test("q04 broadcasts the dimension; q05 sort-merges the fact join") {
    assert(executedPlan("q04_join_broadcast").contains("BroadcastHashJoin"))
    assert(executedPlan("q05_join_sortmerge").contains("SortMergeJoin"))
  }

  test("bucketed/banded candidate joins never plan a cartesian product") {
    for (q <- Seq("q25_range_join", "q45_minhash_neardup", "q46_simhash",
        "q52_embedding_neardup", "q44_ngram_jaccard")) {
      val plan = executedPlan(q)
      assert(!plan.contains("CartesianProduct"), s"$q: ${plan.take(1500)}")
      assert(!plan.contains("BroadcastNestedLoopJoin"),
        s"$q: ${plan.take(1500)}")
    }
  }

  test("q45's banded candidate join stays an equi-join over the " +
      "checkpointed signatures (round-8: the query-level plan is " +
      "checkpoint-hidden, so pin the operator)") {
    import spark.implicits._
    val docs = Seq((1L, "a b c d e"), (2L, "a b c e f"), (3L, "x y z w v"))
      .toDF("doc_id", "text")
    val sigs = graft.operators.Dedup
      .minhashSignatures(docs, "text", "doc_id", 3, 8)
      .localCheckpoint(eager = true)
    val cands = graft.operators.Dedup
      .lshCandidatePairs(sigs, "doc_id", 4, 2)
    cands.collect()
    val plan = cands.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan.take(1500))
  }

  test("the shingle-pair candidate join is a shuffled-hash join " +
      "(round-8: no sort of the exploded relation)") {
    val plan = executedPlan("q44_ngram_jaccard")
    assert(plan.contains("ShuffledHashJoin"), plan.take(2000))
  }

  test("global sort plans a range-partitioned exchange, not a single task") {
    val plan = executedPlan("q12_global_topk")
    // top-k compiles to TakeOrderedAndProject — no global sort at all
    assert(plan.contains("TakeOrderedAndProject"), plan.take(1500))
  }

  test("round-6 documents queries prune the scan to touched columns") {
    // at 100 TB a corpus scan that reads `text` for a (lang, n_chars)
    // aggregate reads ~1000× the bytes it needs — pruning must reach
    // the parquet ReadSchema
    val q105 = executedPlan("q105_quantile_sketch")
    assert(!q105.contains("text") && !q105.contains("source"),
      "q105 scan reads columns the aggregate never touches")
    val q106 = executedPlan("q106_containment_neardup")
    assert(!q106.contains("n_chars") && !q106.contains("lang"),
      "q106 scan reads columns the pair scorer never touches")
    // and the containment candidate join stays an equi-join
    assert(!q106.contains("CartesianProduct") &&
      !q106.contains("BroadcastNestedLoopJoin"), q106.take(1500))
  }

  test("q109/q113 group sizes are map-side aggregates, not unbounded " +
      "windows (round-8: the mega-cluster/giant-community skew fix)") {
    // q113's whole executed plan is visible — no Window node anywhere
    val q113 = executedPlan("q113_label_propagation")
    assert(!q113.contains("Window"), q113.take(1500))
    // q109's final plan sits behind the result checkpoint, so pin the
    // shared decoration helper itself: groupBy+join-back, never a
    // partitionBy window
    import org.apache.spark.sql.functions._
    val labels = spark.range(8).select(col("id").as("node"),
      (col("id") % 3).as("comp"))
    val dec = graft.queries.GraphQueries.withGroupSize(labels, "comp")
    dec.collect()
    val plan = dec.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), plan.take(1500))
    assert(plan.contains("HashAggregate"), plan.take(1500))
  }

  test("round-7 graph queries prune the customer scan to the key column") {
    // the graphs are pure key arithmetic — at 100 TB an edge derivation
    // that drags c_name/c_address/c_comment through every fixpoint
    // round reads ~20× the bytes it needs
    for (q <- Seq("q110_pagerank", "q111_triangles",
        "q113_label_propagation", "q114_link_prediction",
        "q116_random_walks", "q117_skipgram_pairs",
        "q118_nearest_seed", "q119_weighted_walks")) {
      val plan = executedPlan(q)
      assert(!plan.contains("c_name") && !plan.contains("c_address") &&
        !plan.contains("c_comment"),
        s"$q scan reads customer columns the graph never touches")
      assert(!plan.contains("CartesianProduct"), s"$q: ${plan.take(1500)}")
    }
  }
}
