package graft.operators

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec

import graft.SparkSpec

class TraceExportSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private val jan0 = Timestamp.valueOf("2024-01-01 00:00:00")
  private val jan1 = Timestamp.valueOf("2024-01-31 23:59:59")

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def dataFiles(dir: String): Seq[java.io.File] =
    new java.io.File(dir).listFiles().toSeq
      .filter(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("_"))

  /** The shuffle exchanges Spark plans for `df` (before any stage runs). */
  private def exchanges(df: DataFrame): Seq[ShuffleExchangeExec] =
    collect(df.queryExecution.executedPlan) { case e: ShuffleExchangeExec => e }

  /** Every export shape with an empty result: no ids (the 0-partition
    * frame), a window that matches nothing, ids the table lacks. */
  private def emptyExports(trace: DataFrame): Seq[(String, DataFrame)] = Seq(
    "empty ids" -> TraceExport.export(trace, Seq.empty, jan0, jan1),
    "empty window" -> TraceExport.export(trace, Seq(1L, 2L, 3L),
      Timestamp.valueOf("2023-01-01 00:00:00"), Timestamp.valueOf("2023-01-31 00:00:00")),
    "absent ids" -> TraceExport.export(trace, Seq(99L, 100L), jan0, jan1))

  test("golden: README filter {1,2} over reference seed → exactly the 2 reference rows, in order") {
    val out = TraceExport.export(TraceExport.referenceSeed(spark), Seq(1L, 2L), jan0, jan1)
    val rows = out.collect()
    assert(rows.length == 2)
    assert(rows(0).getLong(0) == 1L && rows(1).getLong(0) == 2L)
    assert(rows(0).getString(3) == """{"value": 100, "status": "OK"}""")
    assert(rows(1).getString(3) == """{"value": 250, "status": "WARN", "temp": 45.5}""")
    // names + types must match the Avro ParameterRecord analog
    // (nullability is laxer in-flight: casts mark columns nullable)
    assert(out.schema.map(f => (f.name, f.dataType)) ==
      TraceExport.outputSchema.map(f => (f.name, f.dataType)))
  }

  test("maxPayloadBytes: generous bound keeps reference parity, tight bound aborts the export") {
    val seed = TraceExport.referenceSeed(spark)
    val bounded = TraceExport.export(seed, Seq(1L, 2L), jan0, jan1,
      maxPayloadBytes = 1L << 20).collect()
    assert(bounded.length == 2) // well-formed payloads: identical result
    intercept[Exception] { // over-budget row fails the export (strict policy)
      TraceExport.export(seed, Seq(1L, 2L), jan0, jan1, maxPayloadBytes = 4L).collect()
    }
  }

  test("F2 is closed on both ends and constrains startTime only") {
    val seed = TraceExport.referenceSeed(spark)
    // exact boundary: start == row 1's startTime, end == row 3's startTime
    val out = TraceExport.export(seed, Seq(1L, 2L, 3L),
      Timestamp.valueOf("2024-01-10 10:00:00"), Timestamp.valueOf("2024-01-20 09:15:00"))
    assert(out.count() == 3)
  }

  test("typed flagship: Dataset[ParameterRecord] fields match the untyped rows") {
    val seed = TraceExport.referenceSeed(spark)
    val typed = TraceExport.exportTyped(seed, Seq(1L, 2L), jan0, jan1).collect()
    assert(typed.length == 2)
    assert(typed(0).paramIndex == 1L && typed(1).paramIndex == 2L)
    assert(typed(0).traceData == """{"value": 100, "status": "OK"}""")
    assert(typed(0).startTime == java.time.LocalDateTime.parse("2024-01-10T10:00:00"))
  }

  test("streaming flagship equals the batch export, order aside") {
    import graft.streaming.EventStreams
    val dir = java.nio.file.Files.createTempDirectory("graft-trace-stream").toString
    val trace = TraceExport.fromEvents(spark, sfDir)
    trace.write.mode("overwrite").parquet(dir)
    val ids = Seq(1L, 2L, 3L, 5L, 8L, 13L)
    val t0 = Timestamp.valueOf("2024-01-01 00:00:00")
    val t1 = Timestamp.valueOf("2024-01-31 23:59:59")
    val streamedIn = spark.readStream.schema(trace.schema).parquet(dir)
    val streamed = EventStreams.runToBatch(spark,
      TraceExport.exportStream(streamedIn, ids, t0, t1), "t_trace_stream")
    val batch = TraceExport.export(trace, ids, t0, t1)
    assert(streamed.count() > 0)
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
  }

  test("A1: inverted time range is a caller error (reference 400 semantic)") {
    val seed = TraceExport.referenceSeed(spark)
    intercept[IllegalArgumentException] {
      TraceExport.export(seed, Seq(1L), jan1, jan0)
    }
  }

  test("F3: empty id list → empty result with the output schema, no scan") {
    val out = TraceExport.export(TraceExport.referenceSeed(spark), Seq.empty, jan0, jan1)
    assert(out.isEmpty && out.schema == TraceExport.outputSchema)
  }

  test("K1/K2: parquet sink round-trip; empty export reports no data") {
    val dir = java.nio.file.Files.createTempDirectory("graft").toString
    val seed = TraceExport.referenceSeed(spark)
    assert(TraceExport.exportToParquet(
      TraceExport.export(seed, Seq(1L, 2L), jan0, jan1), s"$dir/ok"))
    val back = spark.read.parquet(s"$dir/ok")
    assert(back.count() == 2)
    assert(!TraceExport.exportToParquet(
      TraceExport.export(seed, Seq(99L), jan0, jan1), s"$dir/empty"))
    intercept[NoDataFoundException] { // A2: reference's 404 semantic
      TraceExport.exportToParquetStrict(
        TraceExport.export(seed, Seq(99L), jan0, jan1), s"$dir/empty2")
    }
  }

  test("K1 single-file mode writes exactly one data file (reference one-artifact contract)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-single").toString
    val seed = TraceExport.referenceSeed(spark)
    assert(TraceExport.exportToParquet(
      TraceExport.export(seed, Seq(1L, 2L, 3L), jan0, jan1), s"$dir/one", singleFile = true))
    val dataFiles = new java.io.File(s"$dir/one").listFiles()
      .filter(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("_"))
    assert(dataFiles.length == 1, dataFiles.map(_.getName).toSeq)
    // the sort runs above the single-partition exchange, so the
    // reference's global ORDER BY survives into the single artifact
    val back = spark.read.parquet(s"$dir/one").collect()
    assert(back.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
  }

  test("K2: every empty path reports no data in both sink modes, and strict mode throws") {
    val dir = tmp("graft-k2")
    emptyExports(TraceExport.referenceSeed(spark)).zipWithIndex.foreach { case ((what, out), i) =>
      assert(!TraceExport.exportToParquet(out, s"$dir/multi$i"), what)
      assert(!TraceExport.exportToParquet(out, s"$dir/single$i", singleFile = true), what)
      assert(dataFiles(s"$dir/single$i").length == 1, what)
      assert(spark.read.parquet(s"$dir/single$i").isEmpty, what)
      intercept[NoDataFoundException](TraceExport.exportToParquetStrict(out, s"$dir/strict$i"))
    }
  }

  test("one-file sink: a global sort writes through one single-partition exchange, no range exchange") {
    val out = TraceExport.export(TraceExport.fromEvents(spark, sfDir), Seq(1L, 2L, 3L), jan0, jan1)
    // the multi-file export keeps Spark's range exchange for the global sort
    assert(exchanges(out).exists(_.outputPartitioning.isInstanceOf[RangePartitioning]))
    val single = exchanges(TraceExport.singlePartitionSort(out).get)
    assert(single.length == 1, single)
    assert(single.head.outputPartitioning.numPartitions == 1)
    assert(!single.head.outputPartitioning.isInstanceOf[RangePartitioning])
  }

  test("one-file sink: frames without a global sort fall back to coalesce(1), one file each") {
    val dir = tmp("graft-fallback")
    val seed = TraceExport.referenceSeed(spark)
    val unordered = TraceExport.exportUnordered(seed, Seq(1L, 2L, 3L), jan0, jan1)
    val noIds = TraceExport.export(seed, Seq.empty, jan0, jan1)
    assert(TraceExport.singlePartitionSort(unordered).isEmpty)
    assert(TraceExport.singlePartitionSort(noIds).isEmpty)
    assert(TraceExport.exportToParquet(unordered, s"$dir/unordered", singleFile = true))
    assert(dataFiles(s"$dir/unordered").length == 1)
    assert(spark.read.parquet(s"$dir/unordered").count() == 3)
    assert(!TraceExport.exportToParquet(noIds, s"$dir/noids", singleFile = true))
    assert(dataFiles(s"$dir/noids").length == 1)
  }

  test("one-file sink: the rewritten write equals the coalesce(1) write, row for row and in order") {
    val dir = tmp("graft-same")
    val trace = TraceExport.fromEvents(spark, sfDir)
    val ids = (1L to 40L).toSeq
    val out = TraceExport.export(trace, ids, jan0, Timestamp.valueOf("2024-12-31 23:59:59"))
    assert(TraceExport.exportToParquet(out, s"$dir/rewrite", singleFile = true))
    out.coalesce(1).write.parquet(s"$dir/coalesce")
    val a = spark.read.parquet(s"$dir/rewrite").collect().toSeq
    val b = spark.read.parquet(s"$dir/coalesce").collect().toSeq
    assert(a.length > 100, a.length)
    assert(dataFiles(s"$dir/rewrite").length == 1 && dataFiles(s"$dir/coalesce").length == 1)
    assert(a == b)
  }

  test("TIMESTAMP_MILLIS parity: physical schema matches the reference's Avro output") {
    // The reference writes INT64 TIMESTAMP(MILLIS, UTC-adjusted)
    // (ParameterRecord.avsc timestamp-millis; verified in its data.parquet).
    // Parity mode: cast NTZ→LTZ (UTC session ⇒ same wall clock) and write
    // with outputTimestampType=TIMESTAMP_MILLIS; assert the parquet footer.
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("graft-millis").toString
    val key = "spark.sql.parquet.outputTimestampType"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "TIMESTAMP_MILLIS")
    try {
      val out = TraceExport.export(TraceExport.referenceSeed(spark), Seq(1L, 2L, 3L), jan0, jan1)
        .select(col("paramIndex"),
          col("startTime").cast("timestamp").as("startTime"),
          col("endTime").cast("timestamp").as("endTime"),
          col("traceData"))
      // the projection over `export` keeps the one-file rewrite
      assert(TraceExport.singlePartitionSort(out).exists(o =>
        !exchanges(o).exists(_.outputPartitioning.isInstanceOf[RangePartitioning])))
      assert(TraceExport.exportToParquet(out, s"$dir/millis", singleFile = true))
    } finally spark.conf.set(key, prev)

    val file = new java.io.File(s"$dir/millis").listFiles()
      .filter(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("_")).head
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(file.getPath),
      spark.sparkContext.hadoopConfiguration)
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    val schema =
      try reader.getFooter.getFileMetaData.getSchema
      finally reader.close()
    import org.apache.parquet.schema.{LogicalTypeAnnotation, PrimitiveType}
    Seq("startTime", "endTime").foreach { f =>
      val pt = schema.getType(Seq(f): _*).asPrimitiveType()
      assert(pt.getPrimitiveTypeName == PrimitiveType.PrimitiveTypeName.INT64, f)
      val ann = pt.getLogicalTypeAnnotation
        .asInstanceOf[LogicalTypeAnnotation.TimestampLogicalTypeAnnotation]
      assert(ann.getUnit == LogicalTypeAnnotation.TimeUnit.MILLIS, f)
      assert(ann.isAdjustedToUTC, f)
    }
    // second-precision reference payloads survive the millis round-trip
    val back = spark.read.parquet(s"$dir/millis")
    assert(back.count() == 3)
    assert(back.collect().map(_.getTimestamp(1).toString).sorted.head == "2024-01-10 10:00:00.0")
  }

  test("fromEvents trace table round-trips props through gzip") {
    val out = TraceExport.export(TraceExport.fromEvents(spark, sfDir),
      Seq(1L, 2L), jan0, jan1)
    val rows = out.collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getString(3).startsWith("{")))
  }
}
