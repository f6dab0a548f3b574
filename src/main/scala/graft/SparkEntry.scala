package graft
import org.apache.spark.sql.{SparkSession, DataFrame}
import graft.queries.NearDupQueries

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  * Query implementations live in the `graft.queries` family files,
  * gathered by [[Queries]]; the dedup-cluster pipeline
  * in [[graft.pipeline.DedupPipeline]].
  */
object SparkEntry {
  /** Flagship: full near-dup clustering of the documents table at
    * sf0.001; driver smoke-checks rows>0.
    */
  def entry(spark: SparkSession): DataFrame =
    NearDupQueries.dDocClusters(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Queries.all

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops.
    */
  def oracleSql: Map[String, String] = Queries.oracle
}
