package graft.operators

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project, Repartition, Sort}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.CatalystBridge
import org.apache.spark.sql.types._

import graft.functions.{gunzip_string, gzip_string}
import graft.sources.Tables

/**
 * The flagship pipeline — the reference engine's single query, re-expressed
 * as a declarative Spark plan.
 *
 * Reference chain (SURVEY.md §2.1): scan S1 → project S2 → IN-list filter F1
 * ∧ time-range filter F2 (with empty-ids short-circuit F3) → two-key sort O1
 * → per-row gzip decompress T1 + UTF-8 decode T2 → output projection T4 →
 * parquet sink K1 (empty-result semantic K2). Reference sites:
 * repository/ParameterDataRepository.java:53-78 (scan/filter/sort SQL),
 * service/ParquetConversionService.java:60-113 (decompress + Avro-parquet
 * write), controller/DataExportController.java:33-62 (param semantics).
 *
 * Scale notes (100 TB): unlike the reference — which `collectList()`s the
 * whole result into one heap (ParquetConversionService.java:61, its
 * documented OOM cliff) — this plan streams partition-wise: the isin/range
 * filters push into the scan, the gzip expression runs inside whole-stage
 * codegen, and the only shuffle is the one exchange the sort needs: a
 * range exchange for a multi-file export, a single-partition exchange for
 * the one-file sink (`exportToParquet(singleFile = true)`, which also
 * skips the range-bounds sampling job). On a real cluster the output
 * should usually NOT be globally sorted into one file; `export` keeps the
 * reference's ORDER BY semantics, while `exportUnordered` is the
 * scale-path variant (sortWithinPartitions gives per-file clustering
 * without a global exchange).
 */
object TraceExport {

  /** Output schema — Avro ParameterRecord analog (ParameterRecord.avsc:5-10):
    * all four fields non-nullable, traceData is the decompressed JSON text. */
  val outputSchema: StructType = StructType(Seq(
    StructField("paramIndex", LongType, nullable = false),
    StructField("startTime", TimestampNTZType, nullable = false),
    StructField("endTime", TimestampNTZType, nullable = false),
    StructField("traceData", StringType, nullable = false)))

  /** Input (storage-table) schema — TD_FD_TRACE_PARAM analog
    * (reference schema.sql:12-19): traceData is gzipped UTF-8 JSON. */
  val storageSchema: StructType = StructType(Seq(
    StructField("paramIndex", LongType, nullable = false),
    StructField("startTime", TimestampNTZType, nullable = false),
    StructField("endTime", TimestampNTZType, nullable = false),
    StructField("traceData", BinaryType, nullable = false)))

  /** Reference-faithful seed rows (config/DataInitializer.java:39-43):
    * params 1..3 in January 2024 with ragged JSON payloads. */
  def referenceSeed(spark: SparkSession): DataFrame = {
    val rows = Seq(
      (1L, "2024-01-10 10:00:00", "2024-01-10 10:05:00", """{"value": 100, "status": "OK"}"""),
      (2L, "2024-01-15 14:30:00", "2024-01-15 14:35:00", """{"value": 250, "status": "WARN", "temp": 45.5}"""),
      (3L, "2024-01-20 09:15:00", "2024-01-20 09:20:00", """{"value": 500, "status": "CRITICAL", "pressure": 1.5}"""))
    import spark.implicits._
    rows.toDF("paramIndex", "startTime", "endTime", "json")
      .select(
        col("paramIndex"),
        col("startTime").cast(TimestampNTZType).as("startTime"),
        col("endTime").cast(TimestampNTZType).as("endTime"),
        gzip_string(col("json")).as("traceData"))
  }

  /** Ingest analog of reference W1 (DataInitializer.java:81-92) at fixture
    * scale: derive a trace table from the `events` fixture — one trace per
    * event, payload = gzip(props JSON). Deterministic, so the DuckDB oracle
    * can reproduce the post-decompress result from `events` directly. */
  def fromEvents(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir).select(
      col("user_id").as("paramIndex"),
      col("ts").as("startTime"),
      (col("ts") + expr("INTERVAL 60 SECONDS")).as("endTime"),
      gzip_string(col("props")).as("traceData"))

  /** The IN-list + closed time-range filter shared by every export
    * variant — ONE definition, so the variants cannot drift (the
    * maxPayloadBytes bound had drifted out of two of the three). Time
    * bounds enter as `LocalDateTime` literals (TimestampNTZType
    * directly): a `java.sql.Timestamp` literal is an LTZ instant whose
    * NTZ cast re-reads the wall clock through the SESSION timezone —
    * with JVM default ≠ session tz the window would silently shift by
    * the zone offset against the NTZ startTime column; `toLocalDateTime`
    * keeps the caller's wall clock exactly. */
  private def filtered(
      trace: DataFrame,
      ids: Seq[Long],
      start: Timestamp,
      end: Timestamp): DataFrame =
    trace
      .filter(col("paramIndex").isin(ids: _*))
      .filter(col("startTime") >= lit(start.toLocalDateTime)
        && col("startTime") <= lit(end.toLocalDateTime))

  /** The output projection shared by every export variant — applied
    * AFTER any sort, so an exchange carries the compressed bytes, never
    * the inflated text. */
  private def outputProjection(maxPayloadBytes: Long): Seq[org.apache.spark.sql.Column] =
    Seq(
      col("paramIndex"),
      col("startTime"),
      col("endTime"),
      gunzip_string(col("traceData"), maxBytes = maxPayloadBytes).as("traceData"))

  /** One export request, shared by every variant so they cannot drift:
    * the A1 window check, the F3 empty-ids short-circuit, [[filtered]],
    * the variant's `arrange` step, then [[outputProjection]].
    *
    * A1 (DataExportController.java:39-43): an inverted range is a caller
    * error, not an empty result. F3 (ParameterDataRepository.java:54-56):
    * an empty id list yields an empty result without scanning. Catalyst
    * would also fold isin() on an empty list, but the explicit guard
    * keeps the semantic visible and plan-free. A stream keeps the folded
    * filter instead, so its result is still a stream. */
  private def request(
      trace: DataFrame,
      ids: Seq[Long],
      start: Timestamp,
      end: Timestamp,
      maxPayloadBytes: Long)(arrange: DataFrame => DataFrame): DataFrame = {
    require(!start.after(end), s"startTime must be before endTime: $start > $end")
    if (ids.isEmpty && !trace.isStreaming)
      trace.sparkSession.createDataFrame(trace.sparkSession.sparkContext.emptyRDD[Row], outputSchema)
    else
      arrange(filtered(trace, ids, start, end)).select(outputProjection(maxPayloadBytes): _*)
  }

  /** The reference query: ids IN-list + closed startTime interval (both ends
    * inclusive, END_TIME unconstrained — ParameterDataRepository.java:65-67),
    * ORDER BY paramIndex, startTime, decompress payload to text.
    *
    * `maxPayloadBytes` (engine extension, default unbounded = reference
    * parity) bounds each row's INFLATED size: the reference only ever
    * inflates its own trusted writes (util/GzipUtil.java:19-31), but an
    * export over third-party ingested traces must not let one hostile
    * high-ratio payload kill an executor. Strict semantics, matching the
    * reference's abort-on-corrupt policy: an over-budget row fails the
    * export. */
  def export(
      trace: DataFrame,
      ids: Seq[Long],
      start: Timestamp,
      end: Timestamp,
      maxPayloadBytes: Long = Long.MaxValue): DataFrame =
    request(trace, ids, start, end, maxPayloadBytes)(
      _.orderBy(col("paramIndex").asc, col("startTime").asc))

  /** Scale-path variant: no global sort (range exchange) — cluster within
    * output partitions only. Preferred at 100 TB where a total order across
    * files buys nothing. Carries the same decompression-bomb bound as
    * [[export]] — the scale path over third-party traces is exactly where
    * one hostile high-ratio payload must not kill an executor. */
  def exportUnordered(
      trace: DataFrame,
      ids: Seq[Long],
      start: Timestamp,
      end: Timestamp,
      maxPayloadBytes: Long = Long.MaxValue): DataFrame =
    request(trace, ids, start, end, maxPayloadBytes)(
      _.sortWithinPartitions(col("paramIndex"), col("startTime")))

  /** Streaming flagship: the same filter→decompress→project chain over an
    * unbounded trace stream (`spark.readStream` on a landing directory, or
    * any streaming DataFrame with the storage schema). No sort — a total
    * order is undefined on an unbounded stream (and unsupported by
    * Structured Streaming); downstream windows/sessions impose event-time
    * order where needed. Continuous-export twin of the reference's
    * request-triggered endpoint. */
  def exportStream(
      trace: DataFrame,
      ids: Seq[Long],
      start: Timestamp,
      end: Timestamp,
      maxPayloadBytes: Long = Long.MaxValue): DataFrame =
    request(trace, ids, start, end, maxPayloadBytes)(identity)

  /** K1 sink. The reference materializes ONE in-memory parquet byte[]
    * (ParquetConversionService.java:60-85) consumed as a single file
    * (README.md:123-128); `singleFile = true` reproduces that one-artifact
    * contract. It stays off by default: one output file means one writing
    * task — correct for a service handing a file to a caller, wrong for a
    * 100 TB export (where the multi-part directory is the scale contract).
    *
    * K2 (empty → sentinel/404) is surfaced as a boolean so a service layer
    * can map it: true iff rows were written. The count comes from the
    * write itself — an `Observation` of `count(1)` on the written frame —
    * so no job reads the artifact back.
    *
    * The one-file plan: a globally sorted frame ([[export]]) is written
    * as one single-partition exchange with the sort above it, which
    * needs neither range-bounds sampling nor a range exchange (see
    * [[singlePartitionSort]]); any other frame (the empty-ids frame,
    * [[exportUnordered]]) goes through `coalesce(1)`. Rows and their
    * order are those of the frame either way. */
  def exportToParquet(result: DataFrame, path: String, singleFile: Boolean = false): Boolean = {
    val sink =
      if (singleFile) singlePartitionSort(result).getOrElse(result.coalesce(1)) else result
    val written = new Observation()
    sink.observe(written, count(lit(1)).as("rows")).write.mode("overwrite").parquet(path)
    written.get("rows").asInstanceOf[Long] > 0
  }

  /** `result` with its analyzed plan `Project*(Sort(global, child))`
    * rewritten to `Project*(Sort(global, Repartition(1, child)))`: the
    * child's rows shuffle into one partition, which already satisfies
    * the sort's ordered distribution, so the sort runs there and no
    * range exchange (nor its sampling job) is planned. None when the
    * plan has no global sort under its projections. Scoped to the
    * one-file sink rather than a session rule, so every other ORDER BY
    * keeps Spark's plan. */
  private[operators] def singlePartitionSort(result: DataFrame): Option[DataFrame] = {
    def rewrite(plan: LogicalPlan): Option[LogicalPlan] = plan match {
      case p: Project => rewrite(p.child).map(c => p.copy(child = c))
      case s @ Sort(_, true, child, _) =>
        Some(s.copy(child = Repartition(1, shuffle = true, child)))
      case _ => None
    }
    rewrite(result.queryExecution.analyzed).map(CatalystBridge.withPlan(result, _))
  }

  /** Typed output row — the ParameterRecord Avro analog as a case class
    * (ParameterRecord.avsc:5-10); TimestampNTZ ⇔ LocalDateTime. */
  case class ParameterRecord(
      paramIndex: Long,
      startTime: java.time.LocalDateTime,
      endTime: java.time.LocalDateTime,
      traceData: String)

  /** Typed flagship variant: same plan, `Dataset[ParameterRecord]` out —
    * compile-time field access for callers that post-process rows. */
  def exportTyped(
      trace: DataFrame,
      ids: Seq[Long],
      start: Timestamp,
      end: Timestamp): org.apache.spark.sql.Dataset[ParameterRecord] =
    export(trace, ids, start, end)
      .as(org.apache.spark.sql.Encoders.product[ParameterRecord])

  /** A2 typed-error variant: the reference maps an empty export to
    * NoDataFoundException → HTTP 404 (NoDataFoundException.java:9-14,
    * DataExportController.java:50-52); this is the engine-level analog
    * for callers that want the reference's service semantics. */
  def exportToParquetStrict(result: DataFrame, path: String): Unit =
    if (!exportToParquet(result, path))
      throw new NoDataFoundException(s"no rows matched; nothing exported to $path")
}

/** Engine-level analog of the reference's 404 semantic
  * (exception/NoDataFoundException.java:9-14). */
class NoDataFoundException(msg: String) extends RuntimeException(msg)
