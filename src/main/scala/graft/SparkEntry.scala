package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators.{FunctionQueries, GeoQueries, MergeQueries, MiningQueries, PipelineQueries, RelationalQueries, SideTableQueries, SinkQueries, TextQueries, V2Queries}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Query inventory lives in graft.operators.*Queries; each QueryDef
  * pairs the Spark implementation with its DuckDB oracle SQL (or None
  * for non-SQL-expressible operators, which get a rows-only check).
  */
object SparkEntry {

  val registry: Map[String, QueryDef] =
    RelationalQueries.registry ++ TextQueries.registry ++
      PipelineQueries.registry ++ V2Queries.registry ++
      FunctionQueries.registry ++ MergeQueries.registry ++
      SinkQueries.registry ++ SideTableQueries.registry ++
      GeoQueries.registry ++ MiningQueries.registry ++
      graft.streaming.StreamingQueries.registry

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    registry("q1_pricing_summary").fn(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map { case (k, v) => k -> v.fn }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    registry.collect { case (k, QueryDef(_, Some(sql))) => k -> sql }

  /** `oracle_sql.json`: a JSON object of name → SQL. Strings escape
    * backslash, quote and ALL control chars (< 0x20) — a tab or CR in
    * builder-authored SQL would otherwise make the driver's json.load
    * fail and silently zero the round's correctness. */
  def oracleSqlJson(sql: Map[String, String] = oracleSql): String = {
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    sql.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
  }
}
