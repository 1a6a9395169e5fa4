package graft

import graft.pipeline.FixtureSpark
import graft.queries._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see SURVEY.md §3.3.
  *
  * `queries` is the full operator surface (SURVEY.md §2): one named entry
  * per operator, reading the driver testdata under the given sf dir (or
  * deterministic generated fixtures for the KG-pipeline stages).
  * `oracleSql` carries the DuckDB-dialect equivalent for every
  * SQL-expressible query; column names/types and row order match the Spark
  * results exactly (see graft.queries.Q for the float-determinism rules).
  * Omitted keys get the driver's weaker rows-only check (generated-input /
  * fixpoint / signature ops — each of those has an exact ScalaTest spec
  * instead).
  *
  * The registry is `domains`: each domain module defines a disjoint set of
  * queries and the oracles of its own queries, and both maps are built
  * once from them.
  */
object SparkEntry {

  /** Flagship: the full KG-construction pipeline (html → text → NER →
    * linking → SVO triples → connected-components canonicalization) on
    * generated Common-Crawl-style pages. Driver smoke-checks rows > 0. */
  def entry(spark: SparkSession): DataFrame = {
    val pages = FixtureSpark.pages(spark, 200L, 8)
    graft.pipeline.KgPipeline.run(spark, pages,
      FixtureSpark.entities(spark), FixtureSpark.aliases(spark)).toDF()
  }

  /** The registry; `DocCountsSpec` checks that no two domains define the
    * same query key. */
  val domains: Seq[QueryModule] = Seq(RelationalQueries, EventQueries,
    TextQueries, SimilarityQueries, GraphQueries, PipelineQueries,
    StreamingQueries)

  /** One entry per implemented operator from SURVEY.md §2. */
  val queries: Map[String, (SparkSession, String) => DataFrame] =
    domains.flatMap(_.queries).toMap

  /** DuckDB equivalents for every SQL-expressible query. */
  val oracleSql: Map[String, String] = domains.flatMap(_.oracles).toMap
}

/** One domain of the driver surface: its named queries, each reading the
  * driver tables under the given sf dir, and the DuckDB oracle SQL of
  * those of its queries that have one. */
trait QueryModule {
  type QFn = (SparkSession, String) => DataFrame

  val queries: Map[String, QFn]
  val oracles: Map[String, String]
}
