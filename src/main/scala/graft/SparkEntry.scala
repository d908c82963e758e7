package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` is assembled from per-area catalogs; every entry that is
  * ANSI-SQL-expressible carries a DuckDB oracle in `oracleSql`.
  */
object SparkEntry {

  /** All query catalogs (one per SURVEY §2 area). */
  def catalogs: Seq[QueryCatalog] = Seq(
    TpchQueries, OperatorQueries, FunctionQueries, TrinoQueries, LlmQueries,
    IcebergQueries, RefGoldenQueries, StreamingQueries)

  private lazy val all: Seq[Q] = {
    val qs = catalogs.flatMap(_.defs)
    val dup = qs.groupBy(_.name).collect { case (n, g) if g.size > 1 => n }
    require(dup.isEmpty, s"duplicate query names: ${dup.mkString(",")}")
    qs
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    TpchQueries.q01.run(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    all.map(q => q.name -> q.run).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    all.flatMap(q => q.oracleSql.map(q.name -> _)).toMap
}
