package graft
import org.apache.spark.sql.{SparkSession, DataFrame}
/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    CoreQueries.q17EtlPipeline(spark, "/root/testdata/sf0.001")
  /** Every catalogued operator, one entry per key across the five catalogues. */
  def catalogue: Seq[Query] =
    CoreQueries.catalogue ++ LlmQueries.catalogue ++ AnalyticsQueries.catalogue ++
    ScaleQueries.catalogue ++ TrainingDataQueries.catalogue
  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    catalogue.map(q => q.name -> q.fn).toMap
  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    catalogue.flatMap(q => q.oracle.map(q.name -> _)).toMap
}

/** One catalogue entry: the query key, its fn, and its DuckDB oracle SQL,
  * or `None` for a rows-only operator (checked for rows, not cells). */
final case class Query(name: String, fn: Q, oracle: Option[String])

object Query {
  def apply(name: String, fn: Q, oracleSql: String): Query = Query(name, fn, Some(oracleSql))
  def rowsOnly(name: String, fn: Q): Query = Query(name, fn, None)
}
