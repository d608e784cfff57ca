package graft
import org.apache.spark.sql.{SparkSession, DataFrame}
/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * Runs the filtered 4-table join chain (SURVEY §7.2 slice), which the
    * Selinger rule orders in sessions built by `Catalog.newSession`.
    */
  def entry(spark: SparkSession): DataFrame =
    Queries.q05_join_opt(spark, "/root/testdata/sf0.001")
  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Queries.all
  /** The streaming-tagged subset of [[queries]] — the bench keys its
    * stream-median / no-challenge-rerun policy off this registry, never
    * off a name substring (see [[Queries.QuerySpec]]).
    */
  def streamingQueries: Set[String] = Queries.streamingQueries
  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Every query has one: a [[Queries.QuerySpec]]
    * row cannot be written without it. */
  def oracleSql: Map[String, String] = Queries.oracle
}
