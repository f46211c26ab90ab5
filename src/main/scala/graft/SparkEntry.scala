package graft
import org.apache.spark.sql.{SparkSession, DataFrame}
/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {
  /** Flagship query: the full KG-construction pipeline (synthesize
    * transcripts deterministically -> extract triples -> hashed edge table ->
    * lodcc measures, long format). Driver smoke-checks rows>0.
    */
  def entry(spark: SparkSession): DataFrame = {
    val turns = graft.io.Transcripts.generate(spark, nConvs = 200, partitions = 8).toDF()
    val (_, edges) = Pipeline.build(turns, partitions = 8)
    Pipeline.measures(Pin.pin(edges, budget = None)._1)
  }
  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    graft.queries.KgQueries.queries ++
      graft.queries.AlgoQueries.queries ++
      graft.queries.ExtractQueries.queries ++
      graft.queries.DocQueries.queries ++
      graft.queries.MoreQueries.queries ++
      graft.queries.GraphQueries2.queries ++
      graft.queries.CurationQueries.queries ++
      graft.queries.EventQueries.queries ++
      graft.queries.SearchQueries.queries ++
      graft.queries.ConstructQueries.queries ++
      graft.queries.AnalyticsQueries.queries
  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    graft.queries.KgQueries.oracleSql ++
      graft.queries.AlgoQueries.oracleSql ++
      graft.queries.ExtractQueries.oracleSql ++
      graft.queries.DocQueries.oracleSql ++
      graft.queries.MoreQueries.oracleSql ++
      graft.queries.GraphQueries2.oracleSql ++
      graft.queries.CurationQueries.oracleSql ++
      graft.queries.EventQueries.oracleSql ++
      graft.queries.SearchQueries.oracleSql ++
      graft.queries.ConstructQueries.oracleSql ++
      graft.queries.AnalyticsQueries.oracleSql
}
