package graft.queries

import graft.operators.{ConnectedComponents, Multimodal}
import graft.pipeline.{FixtureSpark, KgPipeline}
import graft.sources.Tables._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** KG-construction pipeline stages exposed as driver queries. These run on
  * the deterministic generated `pages` fixtures (SURVEY.md §3.4 — the
  * reference mount was empty), not on sfDir tables, so they are rows-only
  * for the driver; exact correctness is asserted against the golden plants
  * in KgPipelineSpec. Sized by sfDir so the bench exercises them harder. */
object PipelineQueries {
  type QFn = (SparkSession, String) => DataFrame

  private def nPages(d: String): Long =
    if (d.contains("0.1")) 4000L else if (d.contains("0.01")) 1000L else 300L

  private def model(s: SparkSession) =
    s.sparkContext.broadcast(KgPipeline.fixtureModel())

  /** Chain edges over a key column: k → k+1 within blocks of 50 — the
    * q63 oracled topology. On q88's bridged variant below, the CC root
    * update cuts the fixpoint from 22 to 7 rounds (BASELINE.md). */
  def chainEdges(c: DataFrame): DataFrame =
    c.where(col("k") % 50 =!= 49)
      .select(col("k").as("src"), (col("k") + 1).as("dst"))

  /** q88's bridged topology: chains plus three bridge families fusing
    * chains per 250-block, so two labels race into one component (merge
    * contention) while staying DuckDB WITH RECURSIVE-closable. */
  def bridgedChainEdges(c: DataFrame): DataFrame = {
    val b1 = c.where(col("k") % 250 === 0)
      .select(col("k").as("src"), (col("k") + 50).as("dst"))
    val b2 = c.where(col("k") % 250 === 10)
      .select(col("k").as("src"), (col("k") + 110).as("dst"))
    val b3 = c.where(col("k") % 250 === 75)
      .select(col("k").as("src"), (col("k") + 50).as("dst"))
    chainEdges(c).unionByName(b1).unionByName(b2).unionByName(b3)
  }

  private def canon(s: SparkSession) = {
    val canonicalById = graft.core.FixtureGen.entities()
      .map(e => e.entity_id -> e.canonical).toMap
    s.sparkContext.broadcast(
      graft.core.FixtureGen.canonicalComponentMap().map { case (e, c) =>
        e -> canonicalById(c)
      })
  }

  val queries: Map[String, QFn] = Map(
    "q60_pipeline_text" -> ((s, d) => {
      val pages = FixtureSpark.pages(s, nPages(d), 32)
      KgPipeline.extractText(pages).toDF()
        .select(col("url"), length(col("text")).as("text_len"))
        .orderBy("url")
    }),

    "q61_pipeline_mentions" -> ((s, d) => {
      val pages = FixtureSpark.pages(s, nPages(d), 32)
      KgPipeline.mentions(pages, model(s)).toDF()
        .groupBy("cls").agg(count(lit(1)).as("n_mentions"),
          countDistinct(col("entity_id")).as("n_entities"))
        .orderBy("cls")
    }),

    "q62_pipeline_triples" -> ((s, d) => {
      val pages = FixtureSpark.pages(s, nPages(d), 32)
      KgPipeline.triples(pages, model(s), canon(s)).toDF()
        .groupBy("pred").agg(count(lit(1)).as("n"),
          countDistinct(col("subj")).as("n_subj"),
          countDistinct(col("obj")).as("n_obj"))
        .orderBy("pred")
    }),

    "q63_connected_components" -> ((s, d) => {
      // edges DERIVED from the sf-dir customer table (chains of 50 within
      // c_custkey blocks) so DuckDB's WITH RECURSIVE closure can verify the
      // distributed fixpoint end-to-end — the full per-node labeling, not a
      // histogram. Chain length 50 forces ~log2(50) pointer-jump rounds;
      // the hub-degree-2000 fixture case stays covered by OperatorsSpec.
      val c = graft.sources.Tables.customer(s, d)
        .select(col("c_custkey").cast("long").as("k"))
      ConnectedComponents.run(s, chainEdges(c))
        .select(col("node"), col("comp"))
        .orderBy("node")
    }),

    "q88_cc_bridged" -> ((s, d) => {
      // q63's oracled topology is the friendliest case (disjoint chains:
      // pointer-jump depth, no merges). This variant adds cross-links so
      // the HASH-CHECKED path also exercises label-merge contention —
      // three chains fused per 250-block, with block m+2 receiving two
      // racing labels (block m's min via one bridge, block m+1's via
      // another) — while staying WITH RECURSIVE-closable in DuckDB
      // (components ≤ 150 nodes). dst endpoints are pure arithmetic on
      // the src key, identical on both sides, so node-set parity holds
      // even past the max customer key.
      val c = graft.sources.Tables.customer(s, d)
        .select(col("c_custkey").cast("long").as("k"))
      ConnectedComponents.run(s, bridgedChainEdges(c))
        .select(col("node"), col("comp"))
        .orderBy("node")
    }),

    "q64_multimodal_meta" -> ((s, d) => {
      val media = Multimodal.syntheticMedia(documents(s, d))
      Multimodal.decodeMeta(media)
        .groupBy("kind", "channels")
        .agg(count(lit(1)).as("n"), sum(col("n_bytes")).as("total_bytes"),
          min(col("width")).as("min_w"), max(col("height")).as("max_h"))
        .orderBy("kind", "channels")
    }),

    "q65_multimodal_features" -> ((s, d) => {
      val media = Multimodal.syntheticMedia(documents(s, d))
      Multimodal.extractFeatures(media, dim = 16)
        .select(col("media_id"),
          round(aggregate(col("features"), lit(0.0),
            (acc, v) => acc + v.cast("double")), 5).as("feature_sum"))
        .orderBy("media_id")
    }),

    "q80_multimodal_resize" -> ((s, d) => {
      // binary→binary resize; output round-trips through decode
      val media = Multimodal.syntheticMedia(documents(s, d))
      Multimodal.decodeMeta(Multimodal.resize(media, 32, 32))
        .groupBy("width", "height", "format")
        .agg(count(lit(1)).as("n"), sum(col("n_bytes")).as("total_bytes"))
        .orderBy("format")
    }),

    "q81_frame_sample" -> ((s, d) => {
      // generator over binary payloads: every 4th width-byte frame
      val media = Multimodal.syntheticMedia(documents(s, d))
      Multimodal.frameSample(media, everyK = 4)
        .groupBy("media_id")
        .agg(count(lit(1)).as("n_frames"),
          sum(length(col("frame"))).as("frame_bytes"))
        .orderBy("media_id")
    })
  )

  /** Most entries are rows-only (generated input / stubs — each with an
    * exact ScalaTest spec); the CC fixpoint is oracled by a recursive
    * reachability closure over the same derived edge set (SURVEY.md §2.f).
    * The closure materializes Σ size² pairs per component — fine for the
    * 50-node blocks here; the distributed fixpoint itself is O(E log n). */
  val oracles: Map[String, String] = Map(
    // frameSample over syntheticMedia is arithmetic on strlen(text) and
    // the doc_id-derived width: every emitted frame is exactly `width`
    // bytes and frames at indices 0, k, 2k, ... below body_len // width
    "q81_frame_sample" ->
      """WITH f AS (
        |  SELECT doc_id AS media_id,
        |    strlen(text) // (16 + doc_id % 64) AS nf,
        |    16 + doc_id % 64 AS w
        |  FROM documents)
        |SELECT media_id, (nf - 1) // 4 + 1 AS n_frames,
        |  CAST(((nf - 1) // 4 + 1) * w AS BIGINT) AS frame_bytes
        |FROM f WHERE nf > 0 ORDER BY media_id""".stripMargin,

    // the STUB feature extractor (16 block-means over body bytes) replayed
    // with float32 emulation: DuckDB REAL division is the same
    // correctly-rounded IEEE binary32 op as the JVM's float division, so
    // the per-block (sum/n)/255 chain is bit-identical before the double
    // sum and 5-digit round. ASCII corpus ⇒ body bytes == ascii(char).
    "q65_multimodal_features" ->
      """WITH f AS (
        |  SELECT doc_id AS media_id, strlen(text) AS n,
        |    greatest(1, strlen(text) // 16) AS blk, text
        |  FROM documents),
        |feat AS (
        |  SELECT media_id,
        |    list_transform(range(0, 16), i ->
        |      CASE WHEN least(n, (i + 1) * blk) - i * blk <= 0 THEN 0.0
        |      ELSE CAST(CAST(CAST(CAST(
        |        list_aggregate(list_transform(
        |          range(i * blk + 1, least(n, (i + 1) * blk) + 1),
        |          j -> ascii(text[j])), 'sum') AS REAL)
        |        / CAST(least(n, (i + 1) * blk) - i * blk AS REAL) AS REAL)
        |        / CAST(255 AS REAL) AS REAL) AS DOUBLE) END) AS outs
        |  FROM f)
        |SELECT media_id,
        |  round(list_aggregate(outs, 'sum'), 5) AS feature_sum
        |FROM feat ORDER BY media_id""".stripMargin,

    // syntheticMedia's header is pure doc_id arithmetic (w = 16 + id%64,
    // h = 16 + (id/64)%64, 3 channels, fmt = id%2) and its body is the
    // UTF-8 text bytes — so the decode/resize groupBys are mirrorable in
    // SQL exactly, graduating q64/q80 from rows-only to hash-checked.
    "q64_multimodal_meta" ->
      """SELECT CASE WHEN doc_id % 2 = 0 THEN 'image' ELSE 'audio' END
        |    AS kind,
        |  CAST(3 AS INTEGER) AS channels,
        |  COUNT(*) AS n,
        |  CAST(SUM(8 + strlen(text)) AS BIGINT) AS total_bytes,
        |  CAST(MIN(16 + doc_id % 64) AS INTEGER) AS min_w,
        |  CAST(MAX(16 + (doc_id // 64) % 64) AS INTEGER) AS max_h
        |FROM documents GROUP BY 1, 2 ORDER BY kind, channels""".stripMargin,

    "q80_multimodal_resize" ->
      """WITH m AS (
        |  SELECT CASE WHEN doc_id % 2 = 0 THEN 'img' ELSE 'aud' END
        |      AS format,
        |    strlen(text) AS body_len,
        |    (16 + doc_id % 64) * (16 + (doc_id // 64) % 64) AS px
        |  FROM documents)
        |SELECT CAST(32 AS INTEGER) AS width, CAST(32 AS INTEGER) AS height,
        |  format, COUNT(*) AS n,
        |  CAST(SUM(8 + CASE WHEN body_len = 0 THEN 0
        |    ELSE GREATEST(1, (body_len * 1024) // px) END) AS BIGINT)
        |    AS total_bytes
        |FROM m GROUP BY format ORDER BY format""".stripMargin,

    "q88_cc_bridged" ->
      """WITH RECURSIVE
        |ch AS (SELECT c_custkey AS src, c_custkey + 1 AS dst
        |       FROM customer WHERE c_custkey % 50 <> 49),
        |b1 AS (SELECT c_custkey AS src, c_custkey + 50 AS dst
        |       FROM customer WHERE c_custkey % 250 = 0),
        |b2 AS (SELECT c_custkey AS src, c_custkey + 110 AS dst
        |       FROM customer WHERE c_custkey % 250 = 10),
        |b3 AS (SELECT c_custkey AS src, c_custkey + 50 AS dst
        |       FROM customer WHERE c_custkey % 250 = 75),
        |edges AS (SELECT * FROM ch UNION ALL SELECT * FROM b1
        |          UNION ALL SELECT * FROM b2 UNION ALL SELECT * FROM b3),
        |sym AS (SELECT src AS u, dst AS v FROM edges
        |        UNION SELECT dst AS u, src AS v FROM edges),
        |nodes AS (SELECT DISTINCT u AS node FROM sym),
        |reach(node, r) AS (
        |  SELECT node, node FROM nodes
        |  UNION
        |  SELECT s.u, rr.r FROM sym s JOIN reach rr ON s.v = rr.node
        |)
        |SELECT node, MIN(r) AS comp FROM reach
        |GROUP BY node ORDER BY node""".stripMargin,

    "q63_connected_components" ->
      """WITH RECURSIVE
        |edges AS (SELECT c_custkey AS src, c_custkey + 1 AS dst
        |          FROM customer WHERE c_custkey % 50 <> 49),
        |sym AS (SELECT src AS u, dst AS v FROM edges
        |        UNION SELECT dst AS u, src AS v FROM edges),
        |nodes AS (SELECT DISTINCT u AS node FROM sym),
        |reach(node, r) AS (
        |  SELECT node, node FROM nodes
        |  UNION
        |  SELECT s.u, rr.r FROM sym s JOIN reach rr ON s.v = rr.node
        |)
        |SELECT node, MIN(r) AS comp FROM reach
        |GROUP BY node ORDER BY node""".stripMargin
  )
}
