package kgbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side: one closed-loop client running one workload
  * in one `local[cores]` session.
  *
  * A run sets up three times (reporting the median), then runs timed
  * passes until `seconds` have passed (at least one). There is no warm-up
  * pass: the first pass runs in a fresh JVM, as a job submitted on its own
  * does, so JIT compilation and code generation are part of its time. Every
  * operation's output is checked. With `trace` the
  * run registers listeners and reports per-layer metrics instead of the
  * end-to-end ones. The result and a detailed report are written as JSON.
  *
  * Usage (normally through run.py): kgbench.Main --workload <name>
  *   --seed <n> --seconds <s> --trace <0|1> --cores <n> --work <dir>
  *   --data <dir> --reference <tsv> --result <json> --report <json>
  *   [--tiny 1] [--record <tsv>] */
object Main {

  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "pass_s" -> "s", "op_geomean_s" -> "s",
    "rss_peak_mb" -> "MB", "success_rate" -> "ratio")

  val PerLayer: Seq[(String, String)] = Seq(
    "core.extract_us" -> "us", "core.tokenize_us" -> "us",
    "core.viterbi_us" -> "us", "core.spans_us" -> "us",
    "core.link_us" -> "us", "core.spo_us" -> "us",
    "core.docproc_us" -> "us", "core.alloc_kb" -> "KB",
    "core.tokens" -> "count", "core.mentions" -> "count",
    "core.candidates_per_mention" -> "count", "core.linked_ratio" -> "ratio",
    "core.triples" -> "count",
    "pipeline.ingest_s" -> "s", "pipeline.prepare_s" -> "s",
    "pipeline.build_docs_per_s" -> "1/s", "pipeline.resume_s" -> "s",
    "pipeline.resume_scan_s" -> "s", "pipeline.map_write_s" -> "s",
    "pipeline.manifest_s" -> "s", "pipeline.resume_bookkeeping_s" -> "s",
    "pipeline.resume_map_write_s" -> "s", "pipeline.busy_share" -> "ratio",
    "pipeline.gc_share" -> "ratio", "pipeline.task_skew" -> "ratio",
    "pipeline.noop_rerun_s" -> "s", "pipeline.jobs" -> "count",
    "pipeline.shuffle_bytes" -> "bytes", "pipeline.output_files" -> "count",
    "pipeline.output_bytes" -> "bytes", "pipeline.manifest_rows" -> "count") ++
    QueryWorkload.Graph.map { case (q, _) =>
      s"ops.${q.takeWhile(_ != '_')}_s" -> "s" } ++
    QueryWorkload.Families.map(f => s"queries.${f}_s" -> "s") ++
    Seq("streaming.batches" -> "count", "streaming.batch_p50_s" -> "s",
      "spark.jobs" -> "count", "spark.stages" -> "count",
      "spark.tasks" -> "count", "spark.driver_gap_s" -> "s",
      "spark.driver_gap_share" -> "ratio", "spark.busy_share" -> "ratio",
      "spark.gc_share" -> "ratio", "spark.task_skew" -> "ratio",
      "spark.shuffle_bytes" -> "bytes", "spark.spill_bytes" -> "bytes",
      "spark.single_task_stages" -> "count",
      "spark.rdd_blocks_left" -> "count",
      "spark.persisted_rdds_left" -> "count",
      "trace.pass_s" -> "s", "trace.op_geomean_s" -> "s")

  private def arg(m: Map[String, String], k: String): String =
    m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))

  def main(argv: Array[String]): Unit = {
    val m = argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }
      .toMap
    val workload = arg(m, "workload")
    val seed = arg(m, "seed").toLong
    val seconds = arg(m, "seconds").toDouble
    val traced = arg(m, "trace") == "1"
    val cores = arg(m, "cores").toInt
    val work = arg(m, "work")
    val tiny = m.get("tiny").contains("1")
    val record = m.get("record")
    val loadBefore = loadAvg()

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"kgbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.streaming.forceDeleteTempCheckpointLocation", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sc = spark.sparkContext
    val trace = new Trace
    if (traced) {
      sc.addSparkListener(trace)
      spark.streams.addListener(trace.streaming)
    }

    val reference = Reference.load(arg(m, "reference"))
    val wl: Workload = workload match {
      case "kg_pipeline" => new KgWorkload(spark, seed,
        nPages = if (tiny) 2000L else 30000L, buckets = 64, cores, work)
      case "graph_fixpoints" => new QueryWorkload(spark, workload,
        QueryWorkload.Graph, seed, arg(m, "data"), work, reference, record,
        tiny)
      case "operator_suite" => new QueryWorkload(spark, workload,
        QueryWorkload.Suite, seed, arg(m, "data"), work, reference, record,
        tiny)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    val problems = ArrayBuffer.empty[String]
    val failures = ArrayBuffer.empty[String]
    var attempted = 0

    val setupS = (1 to 3).map { k =>
      val t0 = System.nanoTime()
      wl.setup(k)
      (System.nanoTime() - t0) / 1e9
    }

    def runPass(p: Int): Seq[OpRec] = wl.ops.map { op =>
      val label = s"$p/${op.name}"
      attempted += 1
      def failure(e: Throwable) = Some(s"${e.getClass.getName}: ${e.getMessage}")
      val prepared = try { op.prepare(); None } catch { case e: Throwable => failure(e) }
      val startMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val error = prepared.orElse(
        try {
          sc.setLocalProperty(Trace.OpKey, label)
          trace.setStreamOp(label)
          op.run()
          None
        } catch { case e: Throwable => failure(e) }
        finally sc.setLocalProperty(Trace.OpKey, null))
      val wallS = (System.nanoTime() - t0) / 1e9
      val endMs = System.currentTimeMillis()
      error match {
        case Some(e) =>
          failures += s"pass $p ${op.name}: $e"
          System.err.println(s"[kgbench] FAILED pass $p ${op.name}: $e")
        case None =>
          val problem = try op.check() catch {
            case e: Throwable => Some(s"check threw ${e.getClass.getName}: " +
              e.getMessage)
          }
          problem.foreach { msg =>
            problems += s"pass $p ${op.name}: $msg"
            System.err.println(s"[kgbench] MISMATCH pass $p: $msg")
          }
      }
      val (blocks, persisted) =
        if (traced) (sc.getRDDStorageInfo.map(_.numCachedPartitions).sum,
          sc.getPersistentRDDs.size)
        else (0, 0)
      OpRec(op.name, label, startMs, endMs, wallS, error, blocks, persisted)
    }

    val passes = ArrayBuffer.empty[Seq[OpRec]]
    val loopStart = System.nanoTime()
    do passes += runPass(passes.size + 1)
    while ((System.nanoTime() - loopStart) / 1e9 < seconds)
    wl.finalCheck().foreach(problems += _)
    if (traced) Trace.drain(sc)

    // end-to-end numbers, computed the same way with or without tracing
    val passS = Trace.median(passes.map(_.map(_.wallS).sum).toSeq)
    val perOp = passes.flatten.filter(_.error.isEmpty).groupBy(_.name)
      .values.map(rs => Trace.median(rs.map(_.wallS).toSeq)).toSeq
    val opGeomean =
      if (perOp.isEmpty) Double.NaN
      else math.exp(perOp.map(math.log).sum / perOp.size)

    val values: Seq[(String, Double)] =
      if (!traced) Seq(
        "setup_s" -> Trace.median(setupS),
        "pass_s" -> passS,
        "op_geomean_s" -> opGeomean,
        "rss_peak_mb" -> rssPeakMb(),
        "success_rate" -> (attempted - failures.size).toDouble / attempted)
      else {
        val own = wl.layerMetrics(passes.toSeq, trace) ++
          sparkMetrics(passes.toSeq, trace, cores) ++
          Seq("trace.pass_s" -> passS, "trace.op_geomean_s" -> opGeomean) ++
          CoreProbe.run(math.floorMod(seed, 100000L) * 1000L,
            if (tiny) 50 else 300, repeats = 3)
        val owned = own.toMap
        val missing = PerLayer.map(_._1).filter(n => !owned.contains(n) &&
          (wl.ownedPrefixes :+ "core." :+ "spark." :+ "trace.")
            .exists(n.startsWith))
        if (missing.nonEmpty) problems += s"metrics not measured: $missing"
        PerLayer.map { case (n, _) => n -> owned.getOrElse(n, 0.0) }
      }
    val units = (EndToEnd ++ PerLayer).toMap
    val bad = values.filter(v => v._2.isNaN || v._2.isInfinite).map(_._1)
    if (bad.nonEmpty) problems += s"metrics without a value: $bad"
    val correct = problems.isEmpty

    val metricsJson = values.map { case (n, v) =>
      val x = if (v.isNaN || v.isInfinite) 0.0 else v
      s"${Json.str(n)}: {\"value\": $x, \"unit\": ${Json.str(units(n))}}"
    }.mkString("{", ", ", "}")
    val result = s"""{"correct": $correct, "attempted": $attempted, """ +
      s""""failed": ${failures.size}, "metrics": $metricsJson}"""
    write(arg(m, "result"), result)

    val all = passes.flatten
    val report = Json.obj(Seq(
      "workload" -> Json.str(workload), "seed" -> seed.toString,
      "traced" -> traced.toString,
      "box" -> Json.obj(Seq(
        "cores" -> cores.toString,
        "heap_mb" -> (Runtime.getRuntime.maxMemory / 1048576).toString,
        "load_before" -> Json.str(loadBefore), "load_after" -> Json.str(loadAvg()),
        "free_disk_mb" -> (new File(work).getUsableSpace / 1048576).toString,
        "jdk" -> Json.str(System.getProperty("java.version")),
        "spark" -> Json.str(spark.version),
        "scala" -> Json.str(scala.util.Properties.versionNumberString))),
      "setup_s" -> setupS.mkString("[", ", ", "]"),
      "timed_passes" -> passes.size.toString,
      "operations" -> all.map { r => Json.obj(Seq(
        "label" -> Json.str(r.label), "wall_s" -> r.wallS.toString,
        "error" -> r.error.map(Json.str).getOrElse("null"),
        "rdd_blocks_after" -> r.rddBlocks.toString,
        "persisted_rdds_after" -> r.persistedRdds.toString,
        "jobs" -> trace.jobsOf(r.label).map { j => Json.obj(Seq(
          "call_site" -> Json.str(j.callSite),
          "start_s" -> ((j.start - r.startMs) / 1e3).toString,
          "wall_s" -> ((j.end - j.start) / 1e3).toString)) }
          .mkString("[", ", ", "]"))) }
        .mkString("[", ", ", "]"),
      "failures" -> failures.map(Json.str).mkString("[", ", ", "]"),
      "problems" -> problems.map(Json.str).mkString("[", ", ", "]"),
      "workload_facts" -> Json.obj(wl.report.map { case (k, v) => k -> Json.str(v) }),
      "result" -> result))
    write(arg(m, "report"), report)
    System.err.println(s"[kgbench] $workload seed=$seed passes=${passes.size} " +
      s"attempted=$attempted failed=${failures.size} correct=$correct " +
      s"load=$loadBefore -> ${loadAvg()}")
    spark.stop()
  }

  /** Spark roll-up per timed pass (sum over its operations), median over
    * passes. The leak counts are the most RDD blocks and persisted RDDs
    * still held after any one operation (the context cleaner may free them
    * later, at a garbage collection). */
  private def sparkMetrics(passes: Seq[Seq[OpRec]], trace: Trace,
      cores: Int): Seq[(String, Double)] = {
    val per = passes.map { ops =>
      val rs = ops.map(r => (r, trace.rollup(r.label, r.startMs, r.endMs)))
      val wall = ops.map(_.wallS).sum
      val busy = rs.map(_._2.busyCoreS).sum
      val gap = rs.map { case (r, s) => math.max(0.0, r.wallS - s.stageActiveS) }.sum
      Map(
        "spark.jobs" -> rs.map(_._2.jobs).sum.toDouble,
        "spark.stages" -> rs.map(_._2.stages).sum.toDouble,
        "spark.tasks" -> rs.map(_._2.tasks).sum.toDouble,
        "spark.driver_gap_s" -> gap,
        "spark.driver_gap_share" -> gap / wall,
        "spark.busy_share" -> busy / (cores * wall),
        "spark.gc_share" -> (if (busy > 0) rs.map(_._2.gcS).sum / busy else 0.0),
        "spark.task_skew" -> Trace.median(rs.map(_._2.skew)),
        "spark.shuffle_bytes" -> rs.map(_._2.shuffleBytes).sum.toDouble,
        "spark.spill_bytes" -> rs.map(_._2.spillBytes).sum.toDouble,
        "spark.single_task_stages" -> rs.map(_._2.singleTaskStages).sum.toDouble)
    }
    val ops = passes.flatten
    per.head.keys.toSeq.map(k => k -> Trace.median(per.map(_(k)))) ++ Seq(
      "spark.rdd_blocks_left" -> ops.map(_.rddBlocks).max.toDouble,
      "spark.persisted_rdds_left" -> ops.map(_.persistedRdds).max.toDouble)
  }

  private def rssPeakMb(): Double = {
    val status = Paths.get("/proc/self/status")
    if (Files.exists(status))
      new String(Files.readAllBytes(status), UTF_8).linesIterator
        .find(_.startsWith("VmHWM:"))
        .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
    else Double.NaN
  }

  private def loadAvg(): String = {
    val p = Paths.get("/proc/loadavg")
    if (Files.exists(p)) new String(Files.readAllBytes(p), UTF_8).trim
      .split(" ").take(3).mkString(" ")
    else "unknown"
  }

  private def write(path: String, s: String): Unit = {
    Option(Paths.get(path).getParent).foreach(Files.createDirectories(_))
    Files.write(Paths.get(path), (s + "\n").getBytes(UTF_8))
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
}
