package graft.bench

import java.sql.Timestamp
import java.time.LocalDateTime

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.gzip_string
import graft.operators.TraceExport

/** Pieces both export workloads share: the generated table and the
  * independent read-back of an export. */
object ExportCommon {
  def ldt(micros: Long): LocalDateTime =
    TraceData.T0.plus(micros - Mix.micros(TraceData.T0), java.time.temporal.ChronoUnit.MICROS)

  /** The generated rows with their payload as plain text. */
  def rows(spark: SparkSession, seed: Long, shape: TraceShape, files: Int): DataFrame = {
    import spark.implicits._
    spark.range(0L, shape.rows.toLong, 1L, files).map { i =>
      val r = TraceData.row(seed, i, shape)
      (r.param, ldt(r.startMicros), ldt(r.endMicros), r.text)
    }.toDF("paramIndex", "startTime", "endTime", "json")
  }

  /** The stored trace table: payload gzipped by the engine's kernel. */
  def ingest(rows: DataFrame, dir: String): Unit =
    rows.select(col("paramIndex"), col("startTime"), col("endTime"),
      gzip_string(col("json")).as("traceData"))
      .write.mode("overwrite").parquet(dir)

  /** Rows of an exported directory in file order, then row order. */
  def readBack(spark: SparkSession, dir: String): Seq[TraceData.Row] =
    spark.read.parquet(dir)
      .select(col("paramIndex"), col("startTime"), col("endTime"), col("traceData"),
        col("_metadata.file_name"), col("_metadata.row_index"))
      .collect().toSeq
      .sortBy(r => (r.getString(4), r.getLong(5)))
      .map(r => TraceData.Row(r.getLong(0), Mix.micros(r.getAs[LocalDateTime](1)),
        Mix.micros(r.getAs[LocalDateTime](2)), r.getString(3)))

  /** (rows, sum of params, digest) of a directory of parquet files whose
    * `traceData` is text (`gzipped = false`) or gzip bytes inflated here by
    * java.util.zip, apart from the engine's kernels. */
  def totals(spark: SparkSession, dir: String, gzipped: Boolean): (Long, Long, Long) = {
    import spark.implicits._
    val df = spark.read.parquet(dir).select(col("paramIndex"), col("startTime"), col("traceData"))
    val parts = df.mapPartitions { it =>
      var n = 0L; var s = 0L; var d = 0L
      it.foreach { r =>
        val text =
          if (gzipped) gunzipJava(r.getAs[Array[Byte]](2)) else r.getString(2)
        n += 1; s += r.getLong(0)
        d += Mix.rowDigest(r.getLong(0), Mix.micros(r.getAs[LocalDateTime](1)), text)
      }
      Iterator((n, s, d))
    }.collect()
    parts.foldLeft((0L, 0L, 0L)) { case ((a, b, c), (x, y, z)) => (a + x, b + y, c + z) }
  }

  def gunzipJava(bytes: Array[Byte]): String = {
    val in = new java.util.zip.GZIPInputStream(new java.io.ByteArrayInputStream(bytes))
    try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8) finally in.close()
  }

  /** Keys of a directory in file order, then row order. */
  def keysInOrder(spark: SparkSession, dir: String): Seq[(Long, Long)] =
    spark.read.parquet(dir)
      .select(col("paramIndex"), col("startTime"), col("_metadata.file_name"), col("_metadata.row_index"))
      .collect().toSeq
      .sortBy(r => (r.getString(2), r.getLong(3)))
      .map(r => (r.getLong(0), Mix.micros(r.getAs[LocalDateTime](1))))

  /** Bytes and count of the data files under `dir`. */
  def dataFiles(dir: String): (Long, Int) = {
    val files = Files.dataFiles(dir)
    (files.map(_.length()).sum, files.length)
  }

  def ts(t: LocalDateTime): Timestamp = Timestamp.valueOf(t)

  /** The export's IN-list and closed time-range filter, written here for
    * the traced scan probe (scan plus filter alone). */
  def scanFilter(trace: DataFrame, ids: Seq[Long], s: LocalDateTime, e: LocalDateTime): DataFrame =
    trace.filter(col("paramIndex").isin(ids: _*))
      .filter(col("startTime") >= lit(s) && col("startTime") <= lit(e))
}

/**
 * `export_requests`: one client in a closed loop sends the seeded request
 * stream; each request is `TraceExport.export` then
 * `TraceExport.exportToParquet(singleFile = true)` over the trace table.
 * A round is [[RoundSize]] requests, the last of which matches nothing.
 */
object ExportRequests extends Workload {
  val name = "export_requests"
  val Shape = TraceShape(rows = 80000, params = 300, spanDays = 60)
  val Files = 8
  val RoundSize = 8
  private val WarmUp = 4

  def run(ctx: Ctx): Outcome = {
    import ExportCommon._
    val spark = ctx.spark
    val table = ctx.path("trace")
    Log.phase("generate and ingest the trace table")(ingest(rows(spark, ctx.seed, Shape, Files), table))
    val out = ctx.path("response")
    val reqs = TraceData.requests(ctx.seed, Shape, 64, RoundSize)
    val warm = TraceData.requests(ctx.seed + 1, Shape, 1, WarmUp)

    def request(req: TraceData.Request): Boolean =
      TraceExport.exportToParquet(
        TraceExport.export(spark.read.parquet(table), req.ids, ts(req.start), ts(req.end)),
        out, singleFile = true)

    Log.phase("warm-up requests")(warm.foreach(request))
    var rowsOut = 0L
    var bytesOut = 0L
    ctx.startMeasuring()
    val rounds = ctx.rounds { r =>
      (0 until RoundSize).foreach { j =>
        val req = reqs((r * RoundSize + j) % reqs.length)
        ctx.op("request")(request(req)).foreach { returned =>
          val want = TraceData.expected(ctx.seed, Shape, req)
          ctx.verify(Checks.emptyFlag(want.length, returned))
          if (want.nonEmpty) {
            val got = readBack(spark, out)
            ctx.verify(Checks.exportRows(want, got))
            rowsOut += got.length
            bytesOut += dataFiles(out)._1
          }
          ctx.tracer.foreach(t => traceProbes(ctx, t, table, req, want.length))
        }
      }
    }
    val lat = ctx.latencies("request")
    val p50 = Stats.median(lat)
    val detail = Seq(
      "request_p50_s" -> Metric(p50, "s"),
      "requests" -> Metric(lat.length, "count"),
      "rounds" -> Metric(rounds, "count"),
      "rows_out" -> Metric(rowsOut, "count")) ++
      Stats.tail(lat).toSeq.flatMap { case (v, pct) =>
        Seq("request_tail_s" -> Metric(v, "s"), "request_tail_percentile" -> Metric(pct, "%"))
      }
    val storedPerRow = dataFiles(table)._1.toDouble / Shape.rows
    Outcome(Common.endToEnd(ctx, p50, storedPerRow),
      detail :+ ("response_bytes_per_row" -> Metric(bytesOut.toDouble / math.max(1L, rowsOut), "bytes")))
  }

  /** Traced-only probes around a request: the scan plus filter alone, and
    * the single-file write without exportToParquet's emptiness read. */
  private def traceProbes(ctx: Ctx, t: Tracer, table: String, req: TraceData.Request, rowsOut: Int): Unit = {
    import ExportCommon._
    val spark = ctx.spark
    t.span("probe.scan") {
      scanFilter(spark.read.parquet(table), req.ids, req.start, req.end)
        .write.format("noop").mode("overwrite").save()
    }
    t.add("rows_out", rowsOut)
    t.span("probe.write_only") {
      TraceExport.export(spark.read.parquet(table), req.ids, ts(req.start), ts(req.end))
        .coalesce(1).write.mode("overwrite").parquet(ctx.path("probe_write"))
    }
  }
}

/**
 * `export_bulk`: each round ingests the whole generated table through
 * `gzip_string` and a Parquet write, then exports all of it once through
 * `TraceExport.exportUnordered` and once through the ordered
 * `TraceExport.export`, both to multi-file Parquet.
 */
object ExportBulk extends Workload {
  val name = "export_bulk"
  val Shape = TraceShape(rows = 60000, params = 300, spanDays = 60)
  val Files = 8

  def run(ctx: Ctx): Outcome = {
    import ExportCommon._
    val spark = ctx.spark
    val source = rows(spark, ctx.seed, Shape, Files).persist()
    val expect = TraceData.totals(ctx.seed, Shape)
    Log.phase("generate and cache the rows")(source.count())
    val table = ctx.path("trace")
    val outU = ctx.path("bulk_unordered")
    val outS = ctx.path("bulk_sorted")
    val allIds = (1L to Shape.params.toLong)
    val lo = ts(TraceData.T0)
    val hi = ts(ldt(TraceData.startMicros(Shape.rows - 1L, Shape)))
    val n = Shape.rows.toLong

    // warm-up: one untimed pass, so codegen, class loading and the first
    // JIT compiles are set-up, not the first round
    Log.phase("warm-up pass") {
      ingest(source, table)
      TraceExport.exportToParquet(TraceExport.exportUnordered(spark.read.parquet(table), allIds, lo, hi), outU)
      TraceExport.exportToParquet(TraceExport.export(spark.read.parquet(table), allIds, lo, hi), outS)
    }

    var cpuExport = 0.0
    var bytesSorted = 0L
    var filesSorted = 0L
    ctx.startMeasuring()
    val rounds = ctx.rounds { _ =>
      ctx.op("ingest")(ingest(source, table)).foreach { _ =>
        ctx.verify(Checks.totals("ingested table", expect, totals(spark, table, gzipped = true)))
          
      }
      val c0 = ctx.cpu.cpuSeconds()
      val u = ctx.op("unordered") {
        TraceExport.exportToParquet(TraceExport.exportUnordered(spark.read.parquet(table), allIds, lo, hi), outU)
      }
      val c1 = ctx.cpu.cpuSeconds()
      u.foreach { wrote =>
        ctx.check(wrote, "exportToParquet of the whole table returned false")
        ctx.verify(Checks.totals("unordered export", expect, totals(spark, outU, gzipped = false)))
          
      }
      val c2 = ctx.cpu.cpuSeconds()
      val s = ctx.op("sorted") {
        TraceExport.exportToParquet(TraceExport.export(spark.read.parquet(table), allIds, lo, hi), outS)
      }
      cpuExport += (c1 - c0) + (ctx.cpu.cpuSeconds() - c2)
      s.foreach { wrote =>
        ctx.check(wrote, "exportToParquet of the whole table returned false")
        ctx.verify(Checks.totals("ordered export", expect, totals(spark, outS, gzipped = false)))
          
        ctx.verify(Checks.nonDecreasing(keysInOrder(spark, outS)))
        val (b, f) = dataFiles(outS)
        bytesSorted += b
        filesSorted += f
      }
      ctx.tracer.foreach(t => traceProbes(ctx, t, source, table, outU, allIds))
    }
    source.unpersist()
    val sortedP50 = Stats.median(ctx.latencies("sorted"))
    val bytesPerRow = bytesSorted.toDouble / (n * rounds)
    val detail = Seq(
      "ingest_rows_per_s" -> Metric(n / Stats.median(ctx.latencies("ingest")), "rows/s"),
      "bulk_unordered_rows_per_s" -> Metric(n / Stats.median(ctx.latencies("unordered")), "rows/s"),
      "bulk_sorted_rows_per_s" -> Metric(n / sortedP50, "rows/s"),
      "bulk_cpu_s_per_mrow" -> Metric(cpuExport / (2.0 * n * rounds) * 1e6, "s"),
      "output_bytes_per_row" -> Metric(bytesPerRow, "bytes"),
      "sorted_files_per_export" -> Metric(filesSorted.toDouble / rounds, "count"),
      "rounds" -> Metric(rounds, "count"))
    Outcome(Common.endToEnd(ctx, sortedP50, bytesPerRow), detail)
  }

  /** Traced-only probes: the scan plus filter alone, the gunzip kernel
    * (export to a noop sink minus the same plan without the kernel), the
    * gzip kernel (ingest to a noop sink minus the plain rows), and the
    * unordered export to a noop sink (its write is the difference). */
  private def traceProbes(ctx: Ctx, t: Tracer, source: DataFrame, table: String, outU: String,
      allIds: Seq[Long]): Unit = {
    val inflatedBytes = (0L until Shape.rows.toLong).map(i => TraceData.payload(ctx.seed, i).length.toLong).sum
    import ExportCommon._
    val spark = ctx.spark
    val lo = TraceData.T0
    val hi = ldt(TraceData.startMicros(Shape.rows - 1L, Shape))
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    t.span("probe.scan")(noop(scanFilter(spark.read.parquet(table), allIds, lo, hi)))
    t.add("rows_out", Shape.rows)
    t.span("probe.unordered_noop")(noop(
      TraceExport.exportUnordered(spark.read.parquet(table), allIds, ts(lo), ts(hi))))
    t.span("probe.unordered_no_gunzip")(noop(
      scanFilter(spark.read.parquet(table), allIds, lo, hi)
        .sortWithinPartitions(col("paramIndex"), col("startTime"))))
    t.span("probe.gzip")(noop(source.select(gzip_string(col("json")))))
    t.span("probe.rows")(noop(source.select(col("json"))))
    val (b, f) = dataFiles(outU)
    t.add("unordered_bytes_written", b)
    t.add("unordered_files_written", f)
    t.add("inflated_bytes", inflatedBytes)
  }
}

/** The end-to-end metrics every workload prints, in the same terms. */
object Common {
  def endToEnd(ctx: Ctx, opP50: Double, bytesPerRow: Double): Map[String, Metric] = Map(
    "setup_s" -> Metric(ctx.setupS, "s"),
    "op_p50_s" -> Metric(opP50, "s"),
    "round_s" -> Metric(Stats.median(ctx.roundSeconds), "s"),
    "cpu_s_per_round" -> Metric(ctx.cpuPerRound, "s"),
    "bytes_per_row" -> Metric(bytesPerRow, "bytes"))
}
