package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registered query: its name, its Spark plan over an sf dir, and
  * the DuckDB SQL that checks the plan's result over the same parquet
  * tables. `oracleSql` maps the sf dir to that SQL; every oracle but
  * q_opq_recall's is one fixed statement.
  */
final class QuerySpec private (
    val name: String,
    val run: (SparkSession, String) => DataFrame,
    val oracleSql: String => Option[String])

object QuerySpec {

  /** A query checked against one fixed statement, built each time an
    * oracle dump asks for it.
    */
  def apply(name: String, run: (SparkSession, String) => DataFrame,
            oracleSql: => String): QuerySpec =
    new QuerySpec(name, run, _ => Some(oracleSql))

  /** A query whose oracle embeds what its own run captured for an sf
    * dir: `None` until it has run against that dir.
    */
  def captured(name: String, run: (SparkSession, String) => DataFrame)(
      oracleSql: String => Option[String]): QuerySpec =
    new QuerySpec(name, run, oracleSql)
}
