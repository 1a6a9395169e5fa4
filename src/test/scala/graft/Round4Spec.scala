package graft

import graft.core.UnionFind
import graft.operators.{BpeSpark, ConnectedComponents, Dedup, Graphs,
  Similarity}
import graft.pipeline.FixtureSpark
import graft.streaming.EventsStream
import org.apache.spark.sql.functions._

/** Round-4 hardening (VERDICT r3 + ADVICE r3):
  *   - hashed-key ngramJaccard candidates == exact string-key candidates
  *     on adversarial shingle sets (the documented "equal up to a 64-bit
  *     collision" claim, pinned);
  *   - CcHandle.close() frees exactly its own run dir (two concurrent
  *     resumable fixpoints, driver-reuse lifecycle), and every round-loop
  *     operator leaves only its output's blocks persisted;
  *   - bruteForceTopK/ivfTopK fail fast on a non-integral QUERIES id
  *     (the round-3 guard covered only the vectors side);
  *   - runToMemory(requireSingleBatch) rejects multi-batch consumption
  *     (q87's oracle-equality assumption, asserted not assumed);
  *   - q88's bridged CC topology matches the union-find oracle (the
  *     DuckDB hash check runs driver-side; this is the local twin);
  *   - pagesSkewed: deterministic across parallelism, real url-hash
  *     buckets, exactly one hotFactor× bucket.
  */
class Round4Spec extends SparkTestBase {

  private val sf = "/root/testdata/sf0.001"

  // ---------------- ngramJaccard hash-key equivalence ----------------

  /** Candidate/jaccard computation keyed on the RAW shingle string —
    * the pre-round-3 formulation, kept here as the oracle for the
    * hashed-key rewrite. */
  private def ngramJaccardStringKeyed(docs: org.apache.spark.sql.DataFrame,
      k: Int, threshold: Double) = {
    val withSh = docs.select(col("doc_id"), col("source"),
      Dedup.shingles(col("text"), k).as("sh"))
    val sizes = withSh.select(col("doc_id"), col("source"),
      size(col("sh")).as("nsh"))
    val exploded = withSh.select(col("doc_id"), col("source"),
      explode(col("sh")).as("shingle"))
    val inter = exploded.as("l").join(exploded.as("r"),
        col("l.shingle") === col("r.shingle") &&
        col("l.source") === col("r.source") &&
        col("l.doc_id") < col("r.doc_id"))
      .groupBy(col("l.doc_id").as("a"), col("r.doc_id").as("b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.select(col("doc_id").as("a"), col("nsh").as("na")), "a")
      .join(sizes.select(col("doc_id").as("b"), col("nsh").as("nb")), "b")
      .withColumn("jaccard", col("inter").cast("double") /
        (col("na") + col("nb") - col("inter")).cast("double"))
      .where(col("jaccard") >= threshold)
      .select("a", "b", "jaccard")
  }

  test("hashed-key ngramJaccard == string-keyed on adversarial shingles") {
    import spark.implicits._
    // adversarial: shared long prefixes, unicode (multi-byte UTF-8),
    // shingles that are substrings/prefixes of other shingles, repeats
    val docs = Seq(
      (1L, "s1", "aaaa aaaa aaab aaaa aaaa"),
      (2L, "s1", "aaaa aaaa aaab aaaa aaac"),
      (3L, "s1", "aaaa aaaab aab aaaa aaaa"),
      (4L, "s1", "ユニ コード 文字 列 テスト"),
      (5L, "s1", "ユニ コード 文字 列 試験"),
      (6L, "s1", "a aa aaa aaaa aaaaa a aa aaa"),
      (7L, "s1", "a aa aaa aaaa aaaaa a aa aab"),
      (8L, "s2", "aaaa aaaa aaab aaaa aaaa"),   // same text, other block
      (9L, "s2", "naïve café déjà vu naïve café"),
      (10L, "s2", "naïve café déjà vu naïve cafe")
    ).toDF("doc_id", "source", "text")
    for (k <- Seq(2, 3)) {
      val hashed = Dedup.ngramJaccardPairs(docs, "text", "doc_id",
        "source", k = k, threshold = 0.0).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val exact = ngramJaccardStringKeyed(docs, k, 0.0).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(hashed == exact, s"k=$k: hashed-key pairs diverge from " +
        s"string-key pairs\nhashed-only: ${hashed -- exact}\n" +
        s"string-only: ${exact -- hashed}")
      assert(hashed.nonEmpty)
    }
  }

  // ---------------- CcHandle lifecycle under driver reuse ----------------

  private def ccTmpDirs(): Set[String] = {
    val tmp = new java.io.File(sys.props("java.io.tmpdir"))
    Option(tmp.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("graft-cc"))
      .map(_.getName).toSet
  }

  /** A caller-owned checkpoint dir, named so ccTmpDirs() sees it. */
  private def ccTmpDir(): java.io.File =
    java.nio.file.Files.createTempDirectory("graft-cc").toFile

  test("durable CcHandle.close frees its own dir; a second live handle " +
      "survives") {
    import spark.implicits._
    val e1 = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    val e2 = Seq((10L, 11L), (11L, 12L), (12L, 10L)).toDF("src", "dst")
    val before = ccTmpDirs()
    val (d1, d2) = (ccTmpDir(), ccTmpDir())
    val h1 = ConnectedComponents.resumableRun(spark, e1, d1.getPath)
    val h2 = ConnectedComponents.resumableRun(spark, e2, d2.getPath)
    // each run keeps its rounds in its own dir and creates no other
    assert((ccTmpDirs() -- before) == Set(d1.getName, d2.getName))
    assert(Seq(d1, d2).forall(_.list().exists(_.startsWith("round_"))))
    h1.close()
    // h1's dir is gone, h2's remains — and h2's labels stay readable
    assert((ccTmpDirs() -- before) == Set(d2.getName),
      "close() must remove exactly the closed handle's dir")
    val got2 = h2.labels.collect().map(r => (r.getLong(0), r.getLong(1)))
      .toMap
    assert(got2 == Map(10L -> 10L, 11L -> 10L, 12L -> 10L))
    h1.close() // idempotent
    h2.close()
    assert((ccTmpDirs() -- before).isEmpty)
  }

  test("default (localCheckpoint) CC run writes no temp dir and matches " +
      "the durable run's labels") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("src", "dst")
    val before = ccTmpDirs()
    val h = ConnectedComponents.runManaged(spark, edges)
    val got = h.labels.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(ccTmpDirs() == before,
      "non-durable fixpoint must not touch the filesystem")
    val hd = ConnectedComponents.resumableRun(spark, edges,
      ccTmpDir().getPath)
    val want = hd.labels.collect().map(r => (r.getLong(0), r.getLong(1)))
      .toMap
    hd.close()
    h.close()
    assert(got == want)
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  // ---------------- queries-side id guard ----------------

  test("topK operators fail fast on a non-integral QUERIES id column") {
    import spark.implicits._
    val vecs = spark.read.parquet(s"$sf/embeddings.parquet")
    val strQueries = Seq(("q1", Seq.fill(64)(0.5f)))
      .toDF("vec_id", "embedding")
    val e1 = intercept[IllegalArgumentException] {
      Similarity.bruteForceTopK(vecs, strQueries, "vec_id", "embedding", 3)
    }
    assert(e1.getMessage.contains("queries side"))
    val e2 = intercept[IllegalArgumentException] {
      Similarity.ivfTopK(vecs, strQueries, "vec_id", "embedding", 4, 2, 3)
    }
    assert(e2.getMessage.contains("queries side"))
  }

  // ---------------- single-batch assertion ----------------

  test("runToMemory(requireSingleBatch) rejects multi-batch consumption") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-r4-stream")
      .toFile.getAbsolutePath
    // two separate parquet FILES so maxFilesPerTrigger=1 forces 2 batches
    Seq((1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 1L,
        "click", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("append").parquet(dir)
    Seq((2L, java.sql.Timestamp.valueOf("2024-01-01 01:00:00"), 1L,
        "click", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("append").parquet(dir)
    def stream(maxFiles: Option[Int]) = {
      val r = spark.readStream.schema(EventsStream.eventSchema)
      maxFiles.fold(r)(m => r.option("maxFilesPerTrigger", m.toString))
        .parquet(dir).select("event_id", "user_id")
    }
    val err = intercept[IllegalArgumentException] {
      EventsStream.runToMemory(spark, stream(Some(1)), "r4_two_batches",
        "append", requireSingleBatch = true)
    }
    assert(err.getMessage.contains("micro-batches"))
    spark.catalog.dropTempView("r4_two_batches")
    // and the single-batch path passes
    val ok = EventsStream.runToMemory(spark, stream(None), "r4_one_batch",
      "append", requireSingleBatch = true)
    assert(ok.count() == 2)
    spark.catalog.dropTempView("r4_one_batch")
  }

  // ---------------- q88 bridged topology vs union-find ----------------

  test("q88's bridged chain graph matches the union-find oracle") {
    val keys = spark.read.parquet(s"$sf/customer.parquet")
      .select(col("c_custkey").cast("long"))
      .collect().map(_.getLong(0))
    val edges = keys.filter(_ % 50 != 49).map(k => (k, k + 1)) ++
      keys.filter(_ % 250 == 0).map(k => (k, k + 50)) ++
      keys.filter(_ % 250 == 10).map(k => (k, k + 110)) ++
      keys.filter(_ % 250 == 75).map(k => (k, k + 50))
    // the bridges must actually fire at this sf, or the spec is vacuous
    assert(keys.count(_ % 250 == 10) > 0 && keys.count(_ % 250 == 75) > 0)
    val want = UnionFind.componentsOf(edges)
    // at least one component must span >1 chain (merge contention)
    val sizes = want.groupBy(_._2).map(_._2.size)
    assert(sizes.max > 60, s"no multi-chain component: ${sizes.toSeq.sorted}")
    val got = SparkEntry.queries("q88_cc_bridged")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == want)
  }

  // ---------------- skewed pages generator ----------------

  test("pagesSkewed: deterministic, real url-hash buckets, one 10x bucket") {
    val n = 2650L // = 10 × (256 - 1 + 10) slots → exact counts
    val a = FixtureSpark.pagesSkewed(spark, n, 4, buckets = 256,
      hotFactor = 10)
    val b = FixtureSpark.pagesSkewed(spark, n, 13, buckets = 256,
      hotFactor = 10)
    // identical rows at different parallelism (order-insensitive compare)
    assert(a.toDF().exceptAll(b.toDF()).isEmpty &&
      b.toDF().exceptAll(a.toDF()).isEmpty)
    // the bucket column Icebergish derives from the url must show the
    // skew exactly: bucket 0 = hotFactor × every other bucket
    val hist = graft.pipeline.Icebergish.withBucket(a.toDF(), 256)
      .groupBy("bucket").count()
      .collect().map(r => (r.getInt(0), r.getLong(1))).toMap
    assert(hist.size == 256)
    assert(hist(0) == 100L, s"hot bucket: ${hist(0)}")
    assert((1 until 256).forall(b2 => hist(b2) == 10L),
      s"cold buckets uneven: ${hist.filter(_._2 != 10L)}")
  }

  // ---------------- CC fixpoint cache hygiene ----------------

  /** Persisted-RDD ids created since `before`, polled until they settle
    * on `want` (frees are non-blocking) or 10 s pass. */
  private def newPersisted(before: Set[Int],
      want: Set[Int] = Set.empty): Set[Int] = {
    val deadline = System.nanoTime() + 10_000_000_000L
    var got = persisted() -- before
    while (got != want && System.nanoTime() < deadline) {
      Thread.sleep(200)
      got = persisted() -- before
    }
    got
  }

  private def persisted(): Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** Id of the checkpoint RDD behind a result frame. */
  private def backingId(df: org.apache.spark.sql.DataFrame): Set[Int] =
    df.queryExecution.analyzed.collect {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.id
    }.toSet

  /** The per-round step1/jump-table persists (added to keep the edge join
    * exactly-once per round — Spark does not dedupe common subplans) must
    * all be RELEASED by the time runManaged returns: a long-lived driver
    * running many fixpoints must not accumulate cached blocks. The only
    * RDD left is the final round's, until close(). */
  test("CC fixpoint releases every persisted RDD it created") {
    import spark.implicits._
    val before = persisted()
    val edges = (0L until 400L).filter(_ % 20 != 19)
      .map(k => (k, k + 1)).toDF("src", "dst")
    val h = ConnectedComponents.runManaged(spark, edges)
    assert(h.labels.count() == 400L)
    val last = backingId(h.labels)
    assert(last.size == 1)
    assert(newPersisted(before, last) == last,
      "only the final round may outlive runManaged")
    h.close()
    val leaked = newPersisted(before)
    assert(leaked.isEmpty, s"fixpoint left cached RDDs behind: $leaked")
  }

  test("every round-loop operator leaves only its output's blocks " +
      "persisted") {
    import spark.implicits._
    val edges = ((0L until 12L).map(k => (k, (k + 1) % 12)) ++
      Seq((0L, 6L), (3L, 9L), (0L, 6L))).toDF("src", "dst")
    val nodes = Seq(0L, 5L).toDF("node")
    val docs = Seq((0L, "the quick brown fox jumps"),
      (1L, "the quick brown fox jumped"), (2L, "something else entirely"))
      .toDF("doc_id", "text")
    val callers = Seq[(String, () => org.apache.spark.sql.DataFrame)](
      "pageRank" -> (() => Graphs.pageRank(spark, edges, iters = 9)),
      "personalizedPageRank" -> (() =>
        Graphs.personalizedPageRank(spark, edges, nodes, iters = 9)),
      "kCore" -> (() => Graphs.kCore(spark, edges, k = 2L, rounds = 5)),
      "labelPropagation" -> (() =>
        Graphs.labelPropagation(spark, edges, iters = 9)),
      "nearestSeeds" -> (() =>
        Graphs.nearestSeeds(spark, edges, nodes, maxDepth = 3)),
      "randomWalks" -> (() =>
        Graphs.randomWalks(spark, edges, nodes, length = 9)),
      "weightedRandomWalks" -> (() =>
        Graphs.weightedRandomWalks(spark, edges, nodes, length = 9)),
      "linkPredict" -> (() => Graphs.linkPredict(spark, edges)),
      "triangleStats" -> (() => Graphs.triangleStats(spark, edges)),
      "minhashNearDups" -> (() => Dedup.minhashNearDups(docs, "text",
        "doc_id", k = 2, numHashes = 16, bands = 8, threshold = 0.3)))
    for ((name, call) <- callers) {
      val before = persisted()
      val out = call()
      val kept = backingId(out)
      assert(kept.size == 1, s"$name: output not checkpoint-backed")
      assert(newPersisted(before, kept) == kept,
        s"$name left more than its output persisted")
      assert(out.count() > 0L, s"$name: output not readable")
    }
    // the BPE trainer returns driver data: nothing may stay behind
    val before = persisted()
    assert(BpeSpark.trainMerges(docs, "text", nMerges = 3).nonEmpty)
    assert(newPersisted(before).isEmpty, "trainMerges left RDDs behind")
  }
}
