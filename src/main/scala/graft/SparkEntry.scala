package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** A named engine query with its DuckDB oracle twin (None for operators
  * ANSI SQL cannot express — the driver then records a rows-only check). */
case class QueryDef(name: String,
                    fn: (SparkSession, String) => DataFrame,
                    oracle: Option[String])

/** A topic catalog of registry queries: one object per topic under
  * `graft.queries`, listed once in [[Registry.catalogs]]. */
trait QueryCatalog {
  def defs: Seq[QueryDef]

  /** The catalog's heading in QUERIES.md. */
  def name: String = getClass.getSimpleName.stripSuffix("$")
}

/** Registry of every implemented operator query, derived from the topic
  * catalogs. */
object Registry {
  import queries._

  val catalogs: Seq[QueryCatalog] = Seq(
    CoreQueries, MobilityQueries, SpatialQueries, BehaviorQueries,
    CustomerQueries, RelationalQueries, TpchQueries, LayoutQueries,
    SupplyChainQueries, PricingQueries, GraphCentralityQueries,
    GraphStructureQueries, GraphCommunityQueries, DedupQueries,
    SimilarityQueries, ClusteringQueries, TextQueries, CorpusStatsQueries,
    RetrievalQueries, CurationQueries, AuditQueries, ModelQueries,
    ModelEvalQueries, RegressionQueries, TwoSampleQueries, RankTestQueries,
    AssociationQueries, InequalityQueries, DivergenceQueries,
    AgreementQueries, SpcQueries, ForecastQueries, TimeSeriesQueries,
    SeriesShapeQueries, ExtremesQueries, SurvivalQueries, CausalQueries,
    ExperimentQueries, SketchQueries, DescriptiveQueries)

  lazy val all: Seq[QueryDef] = catalogs.flatMap(_.defs)
}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q_pipeline_tiles")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2; built once. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    Registry.all.map(q => q.name -> q.fn).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  lazy val oracleSql: Map[String, String] =
    Registry.all.flatMap(q => q.oracle.map(q.name -> _)).toMap
}
