package kgbench

import java.io.File
import java.sql.Timestamp
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

import graft.core.{DocProcessor, FixtureGen, Fs}
import graft.pipeline.{FixtureSpark, Icebergish, KgPipeline, Page}
import org.apache.spark.sql.{Dataset, Row, SparkSession}
import org.apache.spark.sql.functions.col

/** The product path: `FixtureGen` pages for the seed's id range are ingested
  * into a bucketed pages table during set-up, together with
  * `KgPipeline.prepare` (linking model and connected-components canonical
  * map). A pass has two timed operations:
  *   - `build`: a fresh `Icebergish.runResumable` over all pages;
  *   - `resume`: a crash resume over the same output. Before it, the
  *     manifest is cut back to a seeded half of the buckets (their triples
  *     stay in place), so the run reads a non-empty manifest, processes the
  *     other half and overwrites their existing partitions.
  * Checks: pages processed per run; both runs yield the triple multiset the
  * pure-JVM `DocProcessor` yields for the same pages; exactly one manifest
  * row per bucket; a rerun processes no page.
 */
final class KgWorkload(spark: SparkSession, seed: Long, nPages: Long,
    buckets: Int, cores: Int, workDir: String) extends Workload {
  import KgWorkload._

  val name = "kg_pipeline"
  private val entities = FixtureSpark.entities(spark)
  private val aliases = FixtureSpark.aliases(spark)
  private var prep: KgPipeline.Prepared = _
  private var table: Table = _
  private val ingestS = ArrayBuffer.empty[Double]
  private val prepareS = ArrayBuffer.empty[Double]
  private val rerunS = ArrayBuffer.empty[Double]
  private val outputFiles = ArrayBuffer.empty[Double]
  private val outputBytes = ArrayBuffer.empty[Double]
  private val manifestRows = ArrayBuffer.empty[Double]
  private var pass = 0

  /** An ingested pages table and what the checks expect of it. */
  private final class Table(val dir: String, val firstId: Long, val n: Long) {
    Icebergish.write(Icebergish.withBucket(
      pages(spark, firstId, n, cores * 4).toDF(), buckets), dir)

    /** bucket → pages. */
    lazy val bucketPages: Map[Int, Long] =
      spark.read.parquet(dir).groupBy("bucket").count().collect()
        .map(r => r.getInt(0) -> r.getLong(1)).toMap

    /** The buckets a crashed run had already committed. */
    lazy val committedHalf: Set[Int] = {
      val all = bucketPages.keys.toSeq.sorted
      new scala.util.Random(seed).shuffle(all).take(all.size / 2).toSet
    }

    lazy val resumePages: Long =
      bucketPages.collect { case (b, c) if !committedHalf(b) => c }.sum

    private var core: Option[Fingerprint] = None

    /** The triples `DocProcessor` yields for these pages, computed once. */
    def expected(schema: String): Fingerprint = core.getOrElse {
      val fp = coreTriples(firstId, n, schema)
      core = Some(fp)
      fp
    }
  }

  def setup(round: Int): Unit = {
    val t0 = System.nanoTime()
    val t = new Table(s"$workDir/pages_$round",
      math.floorMod(seed, 100000L) * nPages, nPages)
    val t1 = System.nanoTime()
    prep = KgPipeline.prepare(spark, entities, aliases)
    val t2 = System.nanoTime()
    ingestS += (t1 - t0) / 1e9
    prepareS += (t2 - t1) / 1e9
    if (table != null) Fs.deleteRecursively(new File(table.dir))
    table = t
  }

  def ops: Seq[Op] = opsOn(table)

  private def opsOn(t: Table): Seq[Op] = {
    pass += 1
    val out = s"$workDir/out_$pass"
    def runOnce(runId: String): Long = Icebergish.runResumable(spark,
      t.dir, out, entities, aliases, runId, buckets, Some(prep))
    var built: Fingerprint = null
    val build = new Op {
      val name = "build"
      private var n = -1L
      def run(): Unit = n = runOnce(s"build-$pass")
      def check(): Option[String] = {
        built = triples(out)
        val want = t.expected(built.schema)
        val files = new File(s"$out/triples").listFiles().toSeq
          .filter(_.isDirectory).flatMap(_.listFiles())
          .filter(f => f.getName.startsWith("part-"))
        outputFiles += files.size.toDouble
        outputBytes += files.map(_.length).sum.toDouble
        if (n != t.n) Some(s"build processed $n pages, expected ${t.n}")
        else if (!built.sameAs(want)) Some(s"build triples $built differ " +
          s"from DocProcessor's $want")
        else manifestProblem(out, t)
      }
    }
    val resume = new Op {
      val name = "resume"
      private var n = -1L
      override def prepare(): Unit = {
        val m = Icebergish.manifestDir(out)
        spark.read.parquet(m)
          .where(col("bucket").isin(t.committedHalf.toSeq: _*))
          .write.parquet(s"$m.crash")
        Fs.deleteRecursively(new File(m))
        require(new File(s"$m.crash").renameTo(new File(m)))
      }
      def run(): Unit = n = runOnce(s"resume-$pass")
      def check(): Option[String] = {
        val got = triples(out)
        val problem =
          if (n != t.resumePages)
            Some(s"resume processed $n pages, expected ${t.resumePages}")
          else if (!got.sameAs(built))
            Some(s"resume triples $got differ from build's $built")
          else manifestProblem(out, t)
        manifestRows += spark.read.parquet(Icebergish.manifestDir(out))
          .count().toDouble
        val t0 = System.nanoTime()
        val again = runOnce(s"rerun-$pass")
        rerunS += (System.nanoTime() - t0) / 1e9
        Fs.deleteRecursively(new File(out))
        problem.orElse(
          if (again != 0) Some(s"rerun processed $again pages, expected 0")
          else None)
      }
    }
    Seq(build, resume)
  }

  private def triples(out: String): Fingerprint = OutputHash.of(
    spark.read.parquet(s"$out/triples")
      .select("subj", "pred", "obj", "url", "warc_ts"))

  private def manifestProblem(out: String, t: Table): Option[String] = {
    val perBucket = spark.read.parquet(Icebergish.manifestDir(out))
      .where(col("stage") === "triples").groupBy("bucket").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    if (perBucket.keySet != t.bucketPages.keySet)
      Some(s"manifest covers ${perBucket.size} buckets, the pages table " +
        s"${t.bucketPages.size}")
    else perBucket.collectFirst { case (b, c) if c != 1 =>
      s"manifest holds $c rows for bucket $b"
    }
  }

  /** The same triples computed without Spark: `DocProcessor.process` on
    * every page, canonicalized through the prepared map. */
  private def coreTriples(firstId: Long, n: Long, schema: String): Fingerprint = {
    val rows = new AtomicLong
    val hash = new AtomicLong
    val next = new AtomicLong(firstId)
    val end = firstId + n
    val threads = (1 to cores).map { _ =>
      new Thread(() => {
        val proc = new DocProcessor(prep.model.gaz, prep.model.aliasMap,
          FixtureGen.profileWords)
        var k = 0L
        var h = 0L
        var id = next.getAndIncrement()
        while (id < end) {
          val p = FixtureGen.page(id)
          val ts = new Timestamp(p.warcTsMicros / 1000L)
          proc.process(p.html).triples.foreach { t =>
            for (s <- prep.canon.get(t.subjId); o <- prep.canon.get(t.objId)) {
              k += 1
              h += OutputHash.rowHash(Row(s, t.pred, o, p.url, ts))
            }
          }
          id = next.getAndIncrement()
        }
        rows.addAndGet(k)
        hash.addAndGet(h)
        ()
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    Fingerprint(rows.get, hash.get, schema)
  }

  def ownedPrefixes: Seq[String] = Seq("pipeline.")

  def layerMetrics(passes: Seq[Seq[OpRec]], trace: Trace): Seq[(String, Double)] = {
    val med = Trace.median _
    def ok(op: String) = passes.flatMap(_.filter(r => r.name == op && r.error.isEmpty))
    val builds = ok("build")
    val resumes = ok("resume")
    // an operation's wall splits around its heaviest job (most executor
    // time), the fused narrow stage with its colocated write: before it the
    // resume filter (manifest read, counts, broadcasts), after it the
    // manifest update
    def phases(r: OpRec): (Double, Double, Double, Double) = {
      val jobs = trace.jobsOf(r.label).map(j => j -> trace.stagesOfJob(j, r.label))
      if (jobs.isEmpty) (r.wallS, 0.0, 0.0, 1.0)
      else {
        val (j, ss) = jobs.maxBy(_._2.map(_.runMs).sum)
        val skew = if (ss.isEmpty) 1.0 else Trace.skew(ss.maxBy(_.runMs).taskMs.toSeq)
        ((j.start - r.startMs) / 1e3, (j.end - j.start) / 1e3,
          (r.endMs - j.end) / 1e3, skew)
      }
    }
    val bp = builds.map(phases)
    val rp = resumes.map(phases)
    val bs = builds.map(r => (r, trace.rollup(r.label, r.startMs, r.endMs)))
    Seq(
      "pipeline.ingest_s" -> med(ingestS.toSeq),
      "pipeline.prepare_s" -> med(prepareS.toSeq),
      "pipeline.build_docs_per_s" -> nPages / med(builds.map(_.wallS)),
      "pipeline.resume_s" -> med(resumes.map(_.wallS)),
      "pipeline.resume_scan_s" -> med(bp.map(_._1)),
      "pipeline.map_write_s" -> med(bp.map(_._2)),
      "pipeline.manifest_s" -> med(bp.map(_._3)),
      "pipeline.resume_bookkeeping_s" -> med(rp.map(p => p._1 + p._3)),
      "pipeline.resume_map_write_s" -> med(rp.map(_._2)),
      "pipeline.busy_share" ->
        med(bs.map { case (r, s) => s.busyCoreS / (cores * r.wallS) }),
      "pipeline.gc_share" -> med(bs.map { case (_, s) =>
        if (s.busyCoreS > 0) s.gcS / s.busyCoreS else 0.0 }),
      "pipeline.task_skew" -> med(bp.map(_._4)),
      "pipeline.noop_rerun_s" -> med(rerunS.toSeq),
      "pipeline.jobs" -> med(bs.map(_._2.jobs.toDouble)),
      "pipeline.shuffle_bytes" -> med(bs.map(_._2.shuffleBytes.toDouble)),
      "pipeline.output_files" -> med(outputFiles.toSeq),
      "pipeline.output_bytes" -> med(outputBytes.toSeq),
      "pipeline.manifest_rows" -> med(manifestRows.toSeq))
  }

  override def report: Seq[(String, String)] = Seq(
    "pages" -> nPages.toString, "first_page_id" -> table.firstId.toString,
    "buckets" -> buckets.toString,
    "buckets_committed_before_resume" -> table.committedHalf.size.toString,
    "resume_pages" -> table.resumePages.toString)
}

object KgWorkload {
  /** Pages `firstId until firstId + n`, each generated on the executors
    * from its id alone (as `FixtureSpark.pages` does for ids from 0). */
  def pages(spark: SparkSession, firstId: Long, n: Long,
      partitions: Int): Dataset[Page] = {
    import spark.implicits._
    spark.range(firstId, firstId + n, 1L, partitions).mapPartitions { it =>
      it.map { id =>
        val p = FixtureGen.page(id)
        Page(p.url, new Timestamp(p.warcTsMicros / 1000L), p.html, null,
          p.lang)
      }
    }
  }
}
