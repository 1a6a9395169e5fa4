package graft.pipeline

import graft.core._
import graft.operators.ConnectedComponents
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

final case class PageText(url: String, text: String)
/** The columns the narrow stages actually consume. Deserializing the full
  * Page encoder would force the scan to read `text`/`lang` too — null at
  * fixture scale, but on a real pages table (text filled by the extract
  * stage) that is a 2× scan for nothing. Every stage narrows to this
  * internally, so column pruning reaches the parquet scan regardless of
  * what the caller hands in (asserted in ResumeSpec's plan check). */
final case class PageRaw(url: String, warc_ts: java.sql.Timestamp,
    html: Array[Byte])
final case class SentenceRow(url: String, sentIdx: Int, tokens: Seq[String],
    tags: Seq[String])
final case class MentionRow(url: String, sentIdx: Int, mentionIdx: Int,
    beginTok: Int, endTok: Int, cls: String, surface: String,
    entity_id: Long, score: Double)
final case class TripleRow(subj: String, pred: String, obj: String,
    url: String, warc_ts: java.sql.Timestamp)
final case class TripleIdRow(subjId: Long, pred: String, objId: Long,
    url: String, warc_ts: java.sql.Timestamp)

/** The KG-construction pipeline (SURVEY.md §3.2):
  *
  *   pages → extract_text → sentences → ner_tags → mentions → candidates
  *         → links → triples → canonicalize → bucketed parquet + manifest
  *
  * Physical shape, chosen for 10^12-document scale:
  *   - stages 1–7 are DOCUMENT-LOCAL: one `mapPartitions` over the pages
  *     scan (DocPipeline.process), so the heavy data never shuffles. The
  *     alias/gazetteer/profile model is a broadcast (the typed realization
  *     of the candidate-generation broadcast hash join; see
  *     `stagedTriples` for the Catalyst BroadcastHashJoinExec variant that
  *     tests cross-check against this path).
  *   - canonicalization runs connected components on the ENTITY graph
  *     (tiny relative to pages) and broadcasts the resulting
  *     entity→canonical map into the same narrow stage.
  *   - the only wide exchange is the final repartition by url-hash bucket
  *     for the partitioned write (north_rule: range-partitioned shuffles by
  *     url-hash), plus the manifest aggregation (one row per bucket).
  */
object KgPipeline {

  /** Broadcastable linking model: gazetteer + alias candidates + profiles. */
  final case class Model(gaz: NerModel.Gazetteer, aliasMap: DocPipeline.AliasMap)
      extends Serializable

  def buildModel(entities: Vector[(Long, String, String)],
      aliases: Vector[(String, Long, Double)]): Model = {
    val clsById = entities.map(e => e._1 -> e._3).toMap
    val gaz = NerModel.Gazetteer.fromAliases(
      aliases.map(a => a._1 -> clsById.getOrElse(a._2, "")))
    val aliasMap = aliases.groupBy(_._1).map { case (k, v) =>
      k -> v.map(a => (a._2, a._3)).sortBy(_._1).toVector
    }
    Model(gaz, aliasMap)
  }

  def fixtureModel(): Model = buildModel(
    FixtureGen.entities().map(e => (e.entity_id, e.canonical, e.cls)),
    FixtureGen.aliases().map(a => (a.alias, a.entity_id, a.prior)))

  // ---------------- canonicalization ----------------

  /** Same-as edges: entities sharing a high-prior alias surface (the
    * duplicate-entity signal). Pure DataFrame self-join on the alias table. */
  def sameAsEdges(aliases: DataFrame): DataFrame = {
    val a = aliases.where(col("prior") >= 0.8)
      .select(col("alias"), col("entity_id"))
    a.as("l").join(a.as("r"), col("l.alias") === col("r.alias") &&
        col("l.entity_id") < col("r.entity_id"))
      .select(col("l.entity_id").as("src"), col("r.entity_id").as("dst"))
      .distinct()
  }

  /** entity_id → canonical surface of its component representative
    * (min entity_id), via the distributed CC fixpoint.
    *
    * @param hugeEntities when the entity table is too big to broadcast,
    *   the representative lookup runs as a sort-merge join instead */
  def canonicalMap(spark: SparkSession, entities: DataFrame,
      aliases: DataFrame, hugeEntities: Boolean = false): DataFrame =
    canonicalMapManaged(spark, entities, aliases, hugeEntities)._1

  /** As `canonicalMap`, also returning the CC run handle so a caller that
    * fully consumes the map (e.g. `prepare`'s collect) can free the
    * fixpoint's final-round checkpoint blocks immediately instead of
    * when the labels are GC'd. */
  def canonicalMapManaged(spark: SparkSession, entities: DataFrame,
      aliases: DataFrame, hugeEntities: Boolean = false)
      : (DataFrame, ConnectedComponents.CcHandle) = {
    val cc = ConnectedComponents.runManaged(spark, sameAsEdges(aliases))
    // `labeled` is referenced twice below (repIds and the final join) and
    // deliberately NOT persisted: cc.labels is backed by the fixpoint's
    // final-round checkpoint blocks, so each reference re-derives only a
    // block scan + one dimension-sized join — NOT the CC fixpoint itself. A
    // persist here would have no sound unpersist point (the returned
    // DataFrame is lazy; consumers run after this method exits) and would
    // pin a dimension-sized cache entry per call in a long-lived driver.
    val labeled = entities
      .join(cc.labels.withColumnRenamed("node", "entity_id"),
        Seq("entity_id"), "left_outer")
      .withColumn("comp", coalesce(col("comp"), col("entity_id")))
    // The representative is the min entity id that EXISTS in the entity
    // table per component — the raw CC min label can be a dangling alias
    // entity_id (FK-dirty alias tables are supported), and looking THAT
    // up directly would silently drop the whole component from the map.
    // repIds is an entity-granularity aggregate (dimension-sized).
    val repIds = labeled.groupBy("comp").agg(min("entity_id").as("rep_id"))
    val reps = repIds.join(entities.select(col("entity_id").as("rep_id"),
        col("canonical").as("comp_canonical")), Seq("rep_id"))
      .select(col("comp"), col("comp_canonical"))
    val repsSide = if (hugeEntities) reps.hint("merge") else broadcast(reps)
    val out = labeled
      .join(repsSide, Seq("comp"))
      .select(col("entity_id"), col("comp"), col("comp_canonical"))
    (out, cc)
  }

  // ---------------- fused narrow stages ----------------

  /** Narrow any pages input to the columns the stages read — the project
    * sits directly over the scan, so Catalyst prunes `text`/`lang` out of
    * the parquet read. */
  private def raw(pages: Dataset[Page]): Dataset[PageRaw] = {
    import pages.sparkSession.implicits._
    pages.select(col("url"), col("warc_ts"), col("html")).as[PageRaw]
  }

  def extractText(pages: Dataset[Page]): Dataset[PageText] = {
    import pages.sparkSession.implicits._
    raw(pages).map(p => PageText(p.url, HtmlText.extract(p.html)))
  }

  def sentences(pages: Dataset[Page], bc: Broadcast[Model]): Dataset[SentenceRow] = {
    import pages.sparkSession.implicits._
    raw(pages).mapPartitions { it =>
      val m = bc.value
      val proc = new DocProcessor(m.gaz, m.aliasMap, FixtureGen.profileWords)
      it.flatMap { p =>
        // sentence/tag prefix only — this stage discards mentions and
        // triples, so it must not pay the linking + SPO cost per page
        proc.processSentences(p.html)
          .map(s => SentenceRow(p.url, s.sentIdx, s.tokens, s.tags))
      }
    }
  }

  def mentions(pages: Dataset[Page], bc: Broadcast[Model]): Dataset[MentionRow] = {
    import pages.sparkSession.implicits._
    raw(pages).mapPartitions { it =>
      val m = bc.value
      val proc = new DocProcessor(m.gaz, m.aliasMap, FixtureGen.profileWords)
      it.flatMap { p =>
        proc.process(p.html, emitTriples = false)
          .mentions.map(x => MentionRow(p.url, x.sentIdx, x.mentionIdx,
            x.beginTok, x.endTok, x.cls, x.surface, x.entityId, x.score))
      }
    }
  }

  /** pages → canonicalized (subj, pred, obj, url, warc_ts): the whole
    * document-local path in one narrow stage. */
  def triples(pages: Dataset[Page], bc: Broadcast[Model],
      bcCanon: Broadcast[Map[Long, String]]): Dataset[TripleRow] = {
    import pages.sparkSession.implicits._
    raw(pages).mapPartitions { it =>
      val m = bc.value
      val canon = bcCanon.value
      val proc = new DocProcessor(m.gaz, m.aliasMap, FixtureGen.profileWords)
      it.flatMap { p =>
        proc.process(p.html)
          .triples.flatMap { t =>
            for {
              s <- canon.get(t.subjId)
              o <- canon.get(t.objId)
            } yield TripleRow(s, t.pred, o, p.url, p.warc_ts)
          }
      }
    }
  }

  /** pages → (subjId, pred, objId, url, warc_ts): the document-local path
    * with canonicalization DEFERRED — the scale path when the canonical
    * map outgrows a driver-side broadcast (see runWithJoinedCanon). */
  def triplesById(pages: Dataset[Page],
      bc: Broadcast[Model]): Dataset[TripleIdRow] = {
    import pages.sparkSession.implicits._
    raw(pages).mapPartitions { it =>
      val m = bc.value
      val proc = new DocProcessor(m.gaz, m.aliasMap, FixtureGen.profileWords)
      it.flatMap { p =>
        proc.process(p.html)
          .triples.map(t =>
            TripleIdRow(t.subjId, t.pred, t.objId, p.url, p.warc_ts))
      }
    }
  }

  /** The broadcastable, page-count-independent part of the job: linking
    * model + connected-components canonical map. O(|entities|+|aliases|);
    * at 10^12 documents this is a fixed cost amortized to zero, so callers
    * that process many batches (bench, resume loops) build it once. */
  final case class Prepared(model: Model, canon: Map[Long, String])

  private def collectModel(entities: DataFrame, aliases: DataFrame): Model =
    buildModel(
      entities.select("entity_id", "canonical", "cls").collect().toVector
        .map(r => (r.getLong(0), r.getString(1), r.getString(2))),
      aliases.select("alias", "entity_id", "prior").collect().toVector
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))))

  def prepare(spark: SparkSession, entities: DataFrame,
      aliases: DataFrame): Prepared = {
    val model = collectModel(entities, aliases)
    val (cmap, cc) = canonicalMapManaged(spark, entities, aliases)
    val canon =
      try cmap.select("entity_id", "comp_canonical").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      finally cc.close() // collect fully consumed the fixpoint's files
    Prepared(model, canon)
  }

  /** End-to-end: build model + canonical map from the entity/alias tables,
    * then run the narrow stage. Picks the canonicalization strategy by
    * entity-table size: below the limit the canonical map is collected and
    * broadcast into the fused narrow stage (zero extra shuffle); above it
    * — where a driver-side Map would OOM — triples carry entity ids out of
    * the narrow stage and canonicalize via a distributed sort-merge join
    * (runWithJoinedCanon; the two paths are asserted equal in
    * KgPipelineSpec). */
  def run(spark: SparkSession, pages: Dataset[Page], entities: DataFrame,
      aliases: DataFrame): Dataset[TripleRow] =
    run(spark, pages, entities, aliases, broadcastCanonLimit = 10000000L)

  def run(spark: SparkSession, pages: Dataset[Page], entities: DataFrame,
      aliases: DataFrame, broadcastCanonLimit: Long,
      maxAliasRows: Int = 10000000): Dataset[TripleRow] = {
    // size probe capped at limit+1 rows — never a full count of a huge table
    val probe = entities.select("entity_id")
      .limit(math.min(broadcastCanonLimit + 1, Int.MaxValue.toLong).toInt)
      .count()
    if (probe <= broadcastCanonLimit)
      run(spark, pages, prepare(spark, entities, aliases))
    else runWithJoinedCanon(spark, pages, entities, aliases, maxAliasRows)
  }

  /** The no-driver-side-canonical-map path (README's promised fallback):
    * the narrow stage emits id-keyed triples; subject and object resolve to
    * canonical surfaces through sort-merge joins on entity_id against the
    * distributed canonical map. Inner joins drop ids absent from the
    * entity table — exactly the fused path's `canon.get` semantics
    * (canonicalMap covers every entity via its left-outer + coalesce).
    *
    * Driver-memory contract on this path: only the ALIAS-granularity model
    * is materialized (the gazetteer/candidate map — the NER "model", which
    * must broadcast in any design); the entity table itself is touched
    * only through distributed joins, so |entities| >> |aliases| never
    * lands on the driver. */
  def runWithJoinedCanon(spark: SparkSession, pages: Dataset[Page],
      entities: DataFrame, aliases: DataFrame): Dataset[TripleRow] =
    runWithJoinedCanon(spark, pages, entities, aliases,
      maxAliasRows = 10000000)

  def runWithJoinedCanon(spark: SparkSession, pages: Dataset[Page],
      entities: DataFrame, aliases: DataFrame,
      maxAliasRows: Int): Dataset[TripleRow] = {
    require(maxAliasRows > 0 && maxAliasRows < Int.MaxValue,
      s"maxAliasRows must be in (0, Int.MaxValue), got $maxAliasRows")
    import spark.implicits._
    // (alias, entity_id, prior, cls): classes resolved by a DISTRIBUTED
    // join to the entity table, then collected at alias granularity.
    // LEFT join: an alias with a dangling entity_id keeps its candidate
    // row with cls "" (skipped by the gazetteer, kept by the linker) —
    // exactly buildModel's clsById.getOrElse(_, "") semantics, so the
    // broadcast and joined paths stay output-identical even on FK-dirty
    // alias tables.
    // HARD CAP on the driver-side collect: the NER gazetteer/candidate
    // model must broadcast in any design, but an alias table that outgrows
    // the cap fails LOUDLY here instead of OOMing the driver mid-collect.
    // The cap check is a fully-parallel count (a limit(n+1).collect probe
    // would plan CollectLimitExec's sequential take waves); the second
    // scan of this cheap alias-granularity join is noise in prepare.
    val joined = aliases.select("alias", "entity_id", "prior")
      .join(entities.select(col("entity_id"),
        col("cls").as("__cls")), Seq("entity_id"), "left_outer")
      .select(col("alias"), col("entity_id"), col("prior"),
        coalesce(col("__cls"), lit("")).as("__cls"))
    val nAlias = joined.count()
    require(nAlias <= maxAliasRows,
      s"alias table has $nAlias rows, exceeding maxAliasRows=" +
        s"$maxAliasRows — the alias-granularity NER model no longer fits " +
        "a driver broadcast; shrink or pre-aggregate the alias table, or " +
        "raise maxAliasRows (the entity table may stay huge either way)")
    val aliasRows = joined.collect()
    val gaz = NerModel.Gazetteer.fromAliases(
      aliasRows.map(r => r.getString(0) -> r.getString(3)))
    val aliasMap: DocPipeline.AliasMap = aliasRows
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      .groupBy(_._1).map { case (k, v) =>
        k -> v.map(a => (a._2, a._3)).sortBy(_._1).toVector
      }
    val bc = spark.sparkContext.broadcast(Model(gaz, aliasMap))
    val ids = triplesById(pages, bc).toDF()
    val canon = canonicalMap(spark, entities, aliases, hugeEntities = true)
      .select(col("entity_id"), col("comp_canonical"))
    ids
      .join(canon.select(col("entity_id").as("subjId"),
        col("comp_canonical").as("subj")).hint("merge"), Seq("subjId"))
      .join(canon.select(col("entity_id").as("objId"),
        col("comp_canonical").as("obj")).hint("merge"), Seq("objId"))
      .select(col("subj"), col("pred"), col("obj"), col("url"),
        col("warc_ts"))
      .as[TripleRow]
  }

  def run(spark: SparkSession, pages: Dataset[Page],
      prepared: Prepared): Dataset[TripleRow] = {
    val bc = spark.sparkContext.broadcast(prepared.model)
    val bcCanon = spark.sparkContext.broadcast(prepared.canon)
    triples(pages, bc, bcCanon)
  }

  // ---------------- staged DataFrame variant (cross-check) ----------------

  /** Linking expressed as staged Catalyst operators: mentions DataFrame →
    * BROADCAST HASH JOIN against the alias table → context-score UDF →
    * top-1 per mention via groupBy(max_by) (partial-aggregated map-side,
    * cheaper than a window at scale). Used by tests to cross-check the
    * fused path's links; at 100 TB the fused path wins because the
    * mention-granularity shuffle disappears entirely.
    *
    * FIXTURE-SCOPED: the NER gazetteer and the entity profiles come from
    * fixtureModel()/FixtureGen (the de-facto reference this repo verifies
    * against — SURVEY §0), which is why there is no entities parameter:
    * an earlier signature accepted one and silently ignored it. Only the
    * alias table varies. */
  def stagedLinks(spark: SparkSession, pages: Dataset[Page],
      aliases: DataFrame): DataFrame = {
    import spark.implicits._
    val model = fixtureModel()
    val bc = spark.sparkContext.broadcast(Model(model.gaz, Map.empty))

    // mentions with their context window, NO linking yet
    val ment = raw(pages).mapPartitions { it =>
      val m = bc.value
      it.flatMap { p =>
        val res = DocPipeline.process(p.html, m.gaz, Map.empty,
          _ => Vector.empty)
        res.sentences.flatMap { s =>
          val toks = s.tokens.toIndexedSeq
          val spans = BioSpans.toSpans(
            Tokenizer.tokenize(s.tokens.mkString(" ")), s.tags.toIndexedSeq)
          spans.zipWithIndex.map { case (sp, mi) =>
            (p.url, s.sentIdx, mi, sp.surface,
              Linking.contextTokens(toks, sp.beginTok, sp.endTok).toSeq)
          }
        }
      }
    }.toDF("url", "sentIdx", "mentionIdx", "surface", "context")

    val scoreUdf = udf((entityId: Long, prior: Double, ctx: Seq[String]) =>
      Linking.score(prior, FixtureGen.profileWords(entityId).toSet, ctx.toSet))

    val linked = ment
      .join(broadcast(aliases), ment("surface") === aliases("alias"))
      .withColumn("score", scoreUdf(col("entity_id"), col("prior"), col("context")))
      .groupBy("url", "sentIdx", "mentionIdx")
      .agg(max_by(col("entity_id"),
        struct(col("score"), col("entity_id") * -1)).as("entity_id"))
    linked
  }
}
