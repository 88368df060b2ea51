package graft

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.TraceExport

/** Entry-point contract — see SURVEY.md §7.
  *
  * Both maps are projections of the one declaration list in [[Queries]]:
  * every operator from SURVEY.md §2 is a `queries` entry, and the entries
  * whose declaration carries ANSI-SQL-expressible semantics also appear in
  * `oracleSql` (column names aligned on both sides — the driver sorts
  * columns by name and hash-compares values).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * Reproduces the reference's single pipeline end-to-end: gzip ingest →
    * IN-list + time-range filter → sort → decompress → output projection. */
  def entry(spark: SparkSession): DataFrame = {
    val trace = TraceExport.fromEvents(spark, "/root/testdata/sf0.001")
    TraceExport.export(trace,
      ids = Seq(1L, 2L, 3L, 5L, 8L, 13L),
      start = Timestamp.valueOf("2024-01-01 00:00:00"),
      end = Timestamp.valueOf("2024-01-31 23:59:59"))
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Queries.all

  /** For each query declared with an oracle, equivalent ANSI SQL runnable
    * by DuckDB on the same parquet tables; a subset of `queries` keys. */
  def oracleSql: Map[String, String] =
    Queries.oracles
}
