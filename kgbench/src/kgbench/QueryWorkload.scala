package kgbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.lit

/** A workload of `SparkEntry.queries` over the fixed tables in `dataDir`.
  * Each operation runs one query's whole plan and fingerprints its output
  * (`OutputHash`); the fingerprint must equal the recorded reference.
  *
  * Set-up stages the tables into a fresh directory of the work dir (the
  * streaming queries list and read that directory) and opens each table,
  * checking its row count against the reference. */
final class QueryWorkload(spark: SparkSession, val name: String,
    queryFamilies: Seq[(String, String)], seed: Long, dataDir: String,
    workDir: String, reference: Reference, recordTo: Option[String],
    tiny: Boolean) extends Workload {

  /** The first query opens every pass, so that the JVM's and Spark's
    * first-use costs land on the same query in every run; the seed orders
    * the rest. */
  private val order: Seq[(String, String)] =
    if (tiny) queryFamilies.take(1)
    else queryFamilies.head +: new scala.util.Random(seed).shuffle(queryFamilies.tail)
  private var tablesDir: String = ""
  private val recorded = scala.collection.mutable.LinkedHashMap.empty[String, Fingerprint]

  private val tables = new File(dataDir).listFiles()
    .filter(_.getName.endsWith(".parquet")).sortBy(_.getName).toSeq

  def setup(round: Int): Unit = {
    val dir = new File(s"$workDir/tables_$round")
    dir.mkdirs()
    tables.foreach(f => Files.copy(f.toPath, new File(dir, f.getName).toPath,
      StandardCopyOption.REPLACE_EXISTING))
    // open every table and count its rows, all in one job
    val counts = tables.map { f =>
      val t = f.getName.stripSuffix(".parquet")
      spark.read.parquet(s"$dir/${f.getName}").select(lit(t).as("t"))
    }.reduce(_ union _).groupBy("t").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    tables.foreach { f =>
      val t = f.getName.stripSuffix(".parquet")
      val n = counts.getOrElse(t, 0L)
      reference.tableRows(t) match {
        case Some(want) => require(n == want,
          s"table $t has $n rows, the reference records $want")
        case None if recordTo.isDefined => recorded(s"table.$t") =
          Fingerprint(n, 0L, "table")
        case None => throw new IllegalStateException(
          s"table $t: no reference row count recorded")
      }
    }
    if (tablesDir.nonEmpty) graft.core.Fs.deleteRecursively(new File(tablesDir))
    tablesDir = dir.getPath
  }

  def ops: Seq[Op] = order.map { case (q, _) => queryOp(q) }

  private def queryOp(q: String): Op = new Op {
    val name = q
    private var got: Fingerprint = _
    def run(): Unit = got = OutputHash.of(graft.SparkEntry.queries(q)(spark, tablesDir))
    def check(): Option[String] =
      if (recordTo.isDefined) recorded.get(q) match {
        case Some(prev) if !prev.sameAs(got) =>
          Some(s"$q: output $got differs from an earlier pass's $prev")
        case _ => recorded(q) = got; None
      }
      else reference.query(q) match {
        case None => Some(s"$q: no reference fingerprint recorded")
        case Some(want) if !got.sameAs(want) =>
          Some(s"$q: output $got (${got.schema}) differs from reference " +
            s"$want (${want.schema})")
        case _ => None
      }
  }

  override def finalCheck(): Option[String] = {
    recordTo.foreach(path => Reference.append(path, recorded.toSeq))
    None
  }

  def ownedPrefixes: Seq[String] =
    if (name == "graph_fixpoints") Seq("ops.") else Seq("queries.", "streaming.")

  def layerMetrics(passes: Seq[Seq[OpRec]], trace: Trace): Seq[(String, Double)] = {
    def medWall(q: String): Double = Trace.median(passes.flatMap(
      _.filter(r => r.name == q && r.error.isEmpty).map(_.wallS)))
    if (name == "graph_fixpoints")
      QueryWorkload.Graph.map { case (q, _) =>
        s"ops.${q.takeWhile(_ != '_')}_s" -> medWall(q)
      }
    else {
      val families = QueryWorkload.Families.map { f =>
        s"queries.${f}_s" -> order.filter(_._2 == f).map(x => medWall(x._1)).sum
      }
      val batches = passes.map(_.map(r =>
        trace.rollup(r.label, r.startMs, r.endMs).batches))
      families ++ Seq(
        "streaming.batches" -> Trace.median(batches.map(_.map(_.size).sum.toDouble)),
        "streaming.batch_p50_s" -> Trace.median(batches.flatten.flatten))
    }
  }
}

object QueryWorkload {

  /** One query per driver-side round loop family: connected components
    * (q63), pagerank (q110), label propagation (q113), nearest seeds (q118)
    * and the walk step loop (q119, weighted random walks). */
  val Graph: Seq[(String, String)] = Seq(
    "q63_connected_components", "q110_pagerank", "q113_label_propagation",
    "q118_nearest_seed", "q119_weighted_walks").map(_ -> "graph")

  val Families: Seq[String] = Seq("relational", "events", "text", "dedup",
    "embedding", "pipeline", "streaming", "multimodal")

  /** A fixed sample of the single-pass queries, at least one per domain
    * family. The text pair is q91/q99, where the small-input spread
    * (`Partitioning.spreadSmallScan`) adds a shuffle that does not pay; the
    * dedup pair holds q44, where the spread is meant to pay. */
  val Suite: Seq[(String, String)] = Seq(
    "q05_join_sortmerge" -> "relational",
    "q33_session_window" -> "events",
    "q91_tfidf" -> "text",
    "q99_bpe_encode" -> "text",
    "q44_ngram_jaccard" -> "dedup",
    "q45_minhash_neardup" -> "dedup",
    "q50_cosine_topk" -> "embedding",
    "q61_pipeline_mentions" -> "pipeline",
    "q87_stream_sessionize" -> "streaming",
    "q64_multimodal_meta" -> "multimodal")
}
