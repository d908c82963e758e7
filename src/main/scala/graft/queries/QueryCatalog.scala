package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.Engine

/** One named catalog entry: the Spark-side query plus, when
  * SQL-expressible, an ANSI-SQL oracle the driver runs in DuckDB over
  * the same parquet tables (SparkEntry contract).
  *
  * A row runs its oracle text (`Q.sql`) unless it is a declared
  * reshape: a row whose plan must differ from the oracle's — a
  * spill-removing rewrite, a write-and-reread roundtrip, an operator
  * or function spelling the oracle cannot carry. Each catalog declares
  * its reshapes in `QueryCatalog.reshaped`; `OraclePlanSpec` fails on
  * a row that is neither.
  *
  * Column names/aliases MUST match between `run`'s result and `oracle` —
  * the driver sorts columns by name before hashing. Double-typed
  * aggregates are rounded on BOTH sides so accumulation-order ULP
  * differences between engines can't flip the hash.
  */
final case class Q(
    name: String,
    oracle: Option[String],
    run: (SparkSession, String) => DataFrame) {

  /** The oracle text as `SparkEntry.oracleSql` hands it out. */
  def oracleSql: Option[String] = oracle.map(Q.normalize)

  /** True when `run` executes exactly `oracleSql` (a `Q.sql` row). */
  def runsOracle: Boolean = run match {
    case Q.RunSql(text) => oracleSql.contains(text)
    case _ => false
  }
}

object Q {

  /** A row whose Spark side is its oracle: `run` registers the sf dir
    * and executes the text `SparkEntry.oracleSql` returns. */
  def sql(name: String, text: String): Q = Q(name, Some(text), RunSql(normalize(text)))

  /** A reshape whose only difference from its oracle is one join hint:
    * `run` executes the oracle text with `hint` (say `BROADCAST(part)`)
    * as a hint comment after its first SELECT. */
  def hinted(name: String, text: String, hint: String): Q =
    Q(name, Some(text), RunSql(normalize(text).replaceFirst("SELECT", s"SELECT /*+ $hint */")))

  private def normalize(text: String): String = text.stripMargin.trim

  private final case class RunSql(text: String)
      extends ((SparkSession, String) => DataFrame) {
    def apply(s: SparkSession, dir: String): DataFrame = Engine.sql(s, dir)(text)
  }
}

trait QueryCatalog {
  def defs: Seq[Q]

  /** The declared reshapes, name -> why: rows whose run must plan
    * differently from their oracle. Every other row whose oracle Spark
    * analyzes is a `Q.sql` row; `OraclePlanSpec` checks both ways. */
  def reshaped: Map[String, String] = Map.empty
}
