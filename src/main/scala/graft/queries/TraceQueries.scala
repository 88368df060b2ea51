package graft.queries

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.TraceExport

/**
 * Flagship / reference-pipeline family (SURVEY §2.1): the whole reference
 * query S1→S2→F1∧F2(∧F3)→O1→T1/T2→T4 over a trace table derived from
 * `events` (traceData = gzip(props)), so the DuckDB oracle can verify the
 * gzip round-trip by projecting `props` directly; plus the golden
 * reference-seed case and the empty-filter (K2) case.
 */
object TraceQueries extends QueryFamily {

  private val traceIds = Seq(1L, 2L, 3L, 5L, 8L, 13L)
  private val traceT0 = Timestamp.valueOf("2024-01-01 00:00:00")
  private val traceT1 = Timestamp.valueOf("2024-01-31 23:59:59")

  def traceExport(spark: SparkSession, dir: String): DataFrame =
    TraceExport.export(TraceExport.fromEvents(spark, dir), traceIds, traceT0, traceT1)

  def traceExportEmpty(spark: SparkSession, dir: String): DataFrame =
    TraceExport.export(TraceExport.fromEvents(spark, dir), Seq.empty, traceT0, traceT1)

  /** Same export with the decompression-bomb guard armed: every fixture
    * payload is far under 1 MiB inflated, so the result — and the oracle —
    * are identical to trace_export; the query proves the bounded path
    * keeps reference parity for well-formed data. */
  def traceExportBounded(spark: SparkSession, dir: String): DataFrame =
    TraceExport.export(TraceExport.fromEvents(spark, dir), traceIds, traceT0, traceT1,
      maxPayloadBytes = 1L << 20)

  def traceSeedGolden(spark: SparkSession, dir: String): DataFrame =
    TraceExport.export(TraceExport.referenceSeed(spark), Seq(1L, 2L),
      Timestamp.valueOf("2024-01-01 00:00:00"),
      Timestamp.valueOf("2024-01-31 23:59:59"))

  /** Typed extension path (SURVEY §1.3): the reference carries the
    * decompressed payload opaquely; here it continues into typed columns
    * via from_json over the gunzipped text — the "what the reference
    * would do next" query. */
  def traceTyped(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    traceExport(spark, dir)
      .select(
        col("paramIndex"), col("startTime"),
        from_json(col("traceData"), StructType(Seq(StructField("k", IntegerType))))
          .getField("k").as("k"))
  }

  /**
   * The DSv2 trace GENERATOR as a driver row — the V2 source's whole
   * contract replayed structurally: a `paramIndex BETWEEN 3 AND 6`
   * predicate is pushed into the scan (planning must prune to ≤ 2 of
   * the 8 contiguous-layout partitions — surfaced as a gate column off
   * [[graft.sources.v2.TraceGenScan.lastPlannedPartitions]]), the
   * generated rows' every field is closed-form (param = rid·16 div 600
   * + 1, one row per minute from the 2024 epoch, +5 min end, payload =
   * rid mod 3 over three fixed JSONs), and the gzip payload round-trips
   * through the house codegen gunzip — so DuckDB rebuilds the exact
   * row set from `generate_series` alone. A generator layout drift, a
   * pushdown that drops or leaks rows, or a gzip corruption hash-fails.
   */
  def traceGenReplay(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val rows = spark.read.format("graft.sources.v2.TraceGenSource")
      .option("rows", "600").option("nParams", "16").option("partitions", "8")
      .load()
      .filter(col("paramIndex") >= 3L && col("paramIndex") <= 6L)
      .select(col("paramIndex"), col("startTime"), col("endTime"),
        graft.functions.gunzip_string(col("traceData")).as("payload"))
    // force one planning pass so the pruning gate reads THIS scan
    rows.write.format("noop").mode("overwrite").save()
    val planned = graft.sources.v2.TraceGenScan.lastPlannedPartitions.get()
    rows
      .withColumn("pruned_partitions_ok", lit(planned >= 1 && planned <= 2))
      .orderBy(col("startTime"))
  }

  /** Scale-path variant: no global sort — per-partition clustering only.
    * Row order is partition-dependent, so this surface is NOT registered
    * as a standalone query (it could only ever be a rows-only check);
    * its values are verified through the order-insensitive digest twin
    * below, which consumes this exact plan — full operator coverage,
    * zero avoidable `no_oracle` rows. */
  def traceExportUnordered(spark: SparkSession, dir: String): DataFrame =
    TraceExport.exportUnordered(TraceExport.fromEvents(spark, dir), traceIds, traceT0, traceT1)

  /** Order-insensitive digest of the unordered scale-path export, so its
    * VALUES are driver-verified too (the rows-only check above can't see
    * content): count, key/time extrema and sums, payload cardinality —
    * every column independent of row order, every one SQL-expressible. */
  def traceExportUnorderedDigest(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    traceExportUnordered(spark, dir).agg(
      count(lit(1)).as("n_rows"),
      sum(col("paramIndex")).as("sum_param"),
      min(col("startTime")).as("min_start"),
      max(col("startTime")).as("max_start"),
      sum(length(col("traceData"))).as("sum_chars"),
      count_distinct(col("traceData")).as("n_payloads"))
  }

  /** Shared by trace_export and trace_export_bounded — the bounded form
    * is DOCUMENTED as result-identical (the payload bound only rejects
    * rows that would fail both), so one literal keeps the two oracles
    * from drifting apart on a future edit. */
  private val traceExportOracleSql =
    """SELECT user_id AS paramIndex,
      |       ts AS startTime,
      |       ts + INTERVAL 60 SECOND AS endTime,
      |       props AS traceData
      |FROM events
      |WHERE user_id IN (1, 2, 3, 5, 8, 13)
      |  AND ts >= TIMESTAMP '2024-01-01 00:00:00'
      |  AND ts <= TIMESTAMP '2024-01-31 23:59:59'
      |ORDER BY paramIndex, startTime""".stripMargin

  val declarations: Seq[Q] = Seq(
    // the generator's closed forms from generate_series alone: param
    // layout, minute cadence, +5min end, rid%3 payload ring, and the
    // constant-TRUE pruning gate
    Q("trace_gen_replay", traceGenReplay _,
      """WITH r AS (SELECT unnest(generate_series(0, 599)) AS rid),
        |g AS (SELECT rid,
        |        CAST(rid * 16 // 600 + 1 AS BIGINT) AS pidx,
        |        TIMESTAMP '2024-01-01 00:00:00' + rid * INTERVAL 1 MINUTE AS st
        |      FROM r)
        |SELECT pidx AS paramIndex, st AS startTime,
        |  st + INTERVAL 5 MINUTE AS endTime,
        |  CASE rid % 3
        |    WHEN 0 THEN '{"value": 100, "status": "OK"}'
        |    WHEN 1 THEN '{"value": 250, "status": "WARN", "temp": 45.5}'
        |    ELSE '{"value": 500, "status": "CRITICAL", "pressure": 1.5}'
        |  END AS payload,
        |  TRUE AS pruned_partitions_ok
        |FROM g WHERE pidx BETWEEN 3 AND 6
        |ORDER BY startTime""".stripMargin),
    Q("trace_export_bounded", traceExportBounded _, traceExportOracleSql),
    Q("trace_export", traceExport _, traceExportOracleSql),
    Q("trace_export_empty", traceExportEmpty _,
      """SELECT user_id AS paramIndex, ts AS startTime,
        |       ts + INTERVAL 60 SECOND AS endTime, props AS traceData
        |FROM events WHERE 1 = 0""".stripMargin),
    Q("trace_export_unordered_digest", traceExportUnorderedDigest _,
      """SELECT CAST(COUNT(1) AS BIGINT) AS n_rows,
        |       CAST(SUM(user_id) AS BIGINT) AS sum_param,
        |       MIN(ts) AS min_start,
        |       MAX(ts) AS max_start,
        |       CAST(SUM(LENGTH(props)) AS BIGINT) AS sum_chars,
        |       CAST(COUNT(DISTINCT props) AS BIGINT) AS n_payloads
        |FROM events
        |WHERE user_id IN (1, 2, 3, 5, 8, 13)
        |  AND ts >= TIMESTAMP '2024-01-01 00:00:00'
        |  AND ts <= TIMESTAMP '2024-01-31 23:59:59'""".stripMargin),
    Q("trace_typed", traceTyped _,
      """SELECT user_id AS paramIndex,
        |       ts AS startTime,
        |       CAST(JSON_EXTRACT(props, '$.k') AS INT) AS k
        |FROM events
        |WHERE user_id IN (1, 2, 3, 5, 8, 13)
        |  AND ts >= TIMESTAMP '2024-01-01 00:00:00'
        |  AND ts <= TIMESTAMP '2024-01-31 23:59:59'
        |ORDER BY paramIndex, startTime""".stripMargin),
    Q("trace_seed_golden", traceSeedGolden _,
      """SELECT * FROM (VALUES
        |  (CAST(1 AS BIGINT), TIMESTAMP '2024-01-10 10:00:00',
        |   TIMESTAMP '2024-01-10 10:05:00',
        |   '{"value": 100, "status": "OK"}'),
        |  (CAST(2 AS BIGINT), TIMESTAMP '2024-01-15 14:30:00',
        |   TIMESTAMP '2024-01-15 14:35:00',
        |   '{"value": 250, "status": "WARN", "temp": 45.5}')
        |) AS t(paramIndex, startTime, endTime, traceData)
        |ORDER BY paramIndex""".stripMargin))
}
