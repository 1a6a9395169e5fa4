package graft.queries

import graft.core.Conll
import graft.functions.SpanF1
import graft.operators.Multimodal
import graft.pipeline.{FixtureSpark, KgPipeline}
import graft.sources.Tables._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** KG-construction pipeline stages exposed as driver queries (text,
  * mentions, triples, CoNLL export, span F1), plus the multimodal
  * binary-payload operators. The stages run on the deterministic generated
  * `pages` fixtures (SURVEY.md §3.4 — the reference mount was empty), not
  * on sfDir tables, so they are rows-only for the driver; exact
  * correctness is asserted against the golden plants in KgPipelineSpec.
  * Sized by sfDir so the bench exercises them harder. The multimodal
  * queries decode synthetic media derived from `documents` and are
  * oracled by replaying that derivation in SQL. */
object PipelineQueries extends graft.QueryModule {

  private def nPages(d: String): Long =
    if (d.contains("0.1")) 4000L else if (d.contains("0.01")) 1000L else 300L

  /** q66/q67 keep their own, smaller page counts. */
  private def conllPages(d: String): Long =
    if (d.contains("0.1")) 2000L else 400L

  /** The fixture linking model, broadcast once per query run. */
  private def model(s: SparkSession) =
    s.sparkContext.broadcast(KgPipeline.fixtureModel())

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

    "q66_conll_export" -> ((s, d) => {
      val pages = FixtureSpark.pages(s, conllPages(d), 32)
      import s.implicits._
      KgPipeline.sentences(pages, model(s))
        .groupByKey(_.url)
        .mapGroups { (url, rows) =>
          val sents = rows.toSeq.sortBy(_.sentIdx)
            .map(r => (r.tokens, r.tags))
          (url, Conll.format(url, sents))
        }
        .toDF("url", "conll")
        .select(col("url"), length(col("conll")).as("conll_len"),
          substring(col("conll"), 1, 40).as("head"))
        .orderBy("url")
    }),

    "q67_span_f1" -> ((s, d) => {
      // predicted vs golden mention spans → full outer join → typed UDAF;
      // fixture construction makes P=R=F1=1.0 (asserted in SpanF1Spec)
      val pages = FixtureSpark.pages(s, conllPages(d), 32)
      import s.implicits._
      val pred = KgPipeline.mentions(pages, model(s)).toDF()
        .select(col("url"), col("sentIdx"), col("beginTok"), col("endTok"),
          col("cls")).withColumn("isPred", lit(true))
      val gold = pages.flatMap { p =>
        graft.core.FixtureGen.page(
          p.url.substring(p.url.lastIndexOf('p') + 1).toLong) match {
          case g => g.sentences.flatMap(gs => gs.mentions.map(m =>
            (g.url, m.sentIdx, m.beginTok, m.endTok, m.cls)))
        }
      }.toDF("url", "sentIdx", "beginTok", "endTok", "cls")
        .withColumn("isGold", lit(true))
      val joined = pred.join(gold,
          Seq("url", "sentIdx", "beginTok", "endTok", "cls"), "full_outer")
        .select(coalesce(col("isPred"), lit(false)).as("isPred"),
          coalesce(col("isGold"), lit(false)).as("isGold"))
        .as[SpanF1.SpanFlag]
      joined.select(SpanF1.aggregator.toColumn).toDF()
        .select(col("precision"), col("recall"), col("f1"))
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

  val oracles: Map[String, String] = Map(
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
        |FROM f WHERE nf > 0 ORDER BY media_id""".stripMargin
  )
}
