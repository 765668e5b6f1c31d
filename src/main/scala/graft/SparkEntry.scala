package graft

import scala.collection.immutable.ListMap
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries.{LlmQueries, MultimodalQueries, QueryDef, RelationalQueries, SeamfQueries, StreamQueries}

/** Driver contract — see SURVEY.md §7.
  *
  * `queries` is the operator inventory (SURVEY.md §2): each entry is one
  * implemented operator exercised over the `/root/testdata` fixture tables;
  * `oracleSql` carries the DuckDB-equivalent SQL for the driver's
  * hash-compare. Query implementations live in [[graft.queries]].
  */
object SparkEntry {

  private def allDefs: ListMap[String, QueryDef] =
    RelationalQueries.defs ++ LlmQueries.defs ++ SeamfQueries.defs ++
      StreamQueries.defs ++ MultimodalQueries.defs

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    RelationalQueries.defs("q01_pricing_summary")
      .fn(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    allDefs.map { case (name, d) => name -> d.fn }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for hash-defined ops (MinHash,
    * SimHash, LSH) → driver records a weaker rows-only check.
    */
  def oracleSql: Map[String, String] =
    allDefs.collect { case (name, QueryDef(_, Some(sql))) => name -> sql }
}
