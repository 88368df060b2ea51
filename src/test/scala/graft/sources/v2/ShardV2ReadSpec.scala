package graft.sources.v2

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec

/**
 * The V2 READ relation ([[ShardScanBuilder]] / [[ShardScanImpl]]):
 * `spark.read.format(...).load(dir)` and SQL over it must serve exactly
 * what [[ShardReader.readEvolved]] serves — manifest-scoped (orphans
 * invisible), `_SCHEMA`-evolved (old shards null-fill), sidecar-pruned
 * at PLAN time (the scan's partition count IS the candidate count),
 * column-pruned, and merge-on-read tombstone-screened.
 */
class ShardV2ReadSpec extends SparkSpec {
  import spark.implicits._

  private def v2(dir: String): DataFrame =
    spark.read.format("graft.sources.v2.ShardSink").load(dir)

  private def build(fmt: String): String = {
    val dir = java.nio.file.Files.createTempDirectory(s"graft-v2read-$fmt").toString
    def append(rows: Seq[(Long, String)]): Unit =
      rows.toDF("doc_id", "text").coalesce(1)
        .write.format("graft.sources.v2.ShardSink")
        .option("path", dir).option("statsColumn", "doc_id")
        .option("format", fmt)
        .mode("append").save()
    append((0L until 100L).map(i => (i, s"текст $i"))) // unicode payloads
    append((100L until 200L).map(i => (i, s"текст $i")))
    append((200L until 300L).map(i => (i, s"текст $i")))
    dir
  }

  test("v2 read == ShardReader.readEvolved, jsonl and parquet, unicode intact") {
    Seq(ShardPayload.Jsonl, ShardPayload.Parquet).foreach { fmt =>
      val dir = build(fmt)
      val viaV2 = v2(dir).collect().map(r => (r.getLong(0), r.getString(1))).toSet
      val viaReader = ShardReader.readEvolved(spark, dir)
        .collect().map(r => (r.getLong(0), r.getString(1))).toSet
      assert(viaV2 == viaReader && viaV2.size == 300, s"$fmt parity broke")
      assert(viaV2.contains((7L, "текст 7")))
    }
  }

  test("every admitted type, nulls and special doubles read the same through both paths") {
    val schema = StructType(Seq(
      StructField("id", IntegerType), StructField("s", StringType),
      StructField("l", LongType), StructField("sh", ShortType),
      StructField("b", ByteType), StructField("d", DoubleType),
      StructField("f", FloatType), StructField("flag", BooleanType)))
    val doubles = Seq(Double.NaN, Double.PositiveInfinity,
      Double.NegativeInfinity, -0.0d, 0.0d, 1.5d)
    val rows = doubles.zipWithIndex.map { case (d, i) =>
      Row(i, s"строка $i", i * 1000000000000L, (i - 3).toShort,
        (i - 3).toByte, d, d.toFloat, i % 2 == 0)
    } :+ Row(doubles.length, null, null, null, null, null, null, null)
    // rendered cells tell -0.0 from 0.0 and NaN from null
    def render(rs: Seq[Row]): Seq[String] = rs.map(_.mkString("|")).sorted
    Seq(ShardPayload.Jsonl, ShardPayload.Parquet).foreach { fmt =>
      val dir = java.nio.file.Files.createTempDirectory(s"graft-v2types-$fmt").toString
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
        .write.format("graft.sources.v2.ShardSink")
        .option("path", dir).option("format", fmt).mode("append").save()
      val viaReader = render(ShardReader.readEvolved(spark, dir).collect().toSeq)
      assert(viaReader == render(rows), s"$fmt: ShardReader lost a value")
      assert(render(v2(dir).collect().toSeq) == viaReader,
        s"$fmt: the V2 relation and ShardReader disagree")
    }
  }

  test("SQL over the relation prunes shards at plan time: partition count == candidates") {
    Seq(ShardPayload.Jsonl, ShardPayload.Parquet).foreach { fmt =>
      val dir = build(fmt)
      v2(dir).createOrReplaceTempView("v2_shard_tbl")
      val q = spark.sql(
        "SELECT doc_id, text FROM v2_shard_tbl WHERE doc_id IN (5, 7, 250)")
      // the stats prune keeps shards [0,100) and [200,300) — 2 of 3;
      // a filter-only plan is narrow, so the df partition count IS the
      // scan's planned partition count
      assert(q.rdd.getNumPartitions == 2,
        s"$fmt: expected 2 pruned partitions, got ${q.rdd.getNumPartitions}")
      assert(q.collect().map(_.getLong(0)).toSet == Set(5L, 7L, 250L))
      // the full scan plans one partition per manifested shard
      assert(v2(dir).rdd.getNumPartitions == 3)
      // pushed filters surface in the scan description
      val plan = q.queryExecution.executedPlan.toString
      assert(plan.contains("graft.ShardScan") && plan.contains("pushed=[In(doc_id"),
        s"$fmt: scan description lost the pushdown:\n$plan")
    }
  }

  test("column pruning: a 1-column projection requests 1 column; orphans invisible") {
    val dir = build(ShardPayload.Parquet)
    val one = v2(dir).select(col("text"))
    val plan = one.queryExecution.executedPlan.toString
    assert(plan.contains("cols=[text]"), s"projection not pruned:\n$plan")
    assert(one.count() == 300)
    // an orphan data file (crash debris — NOT in the manifest) is
    // invisible to the relation
    val orphanRows = Seq((9999L, "orphan")).toDF("doc_id", "text")
    orphanRows.coalesce(1).write.mode("overwrite").parquet(s"$dir/_orphan_tmp")
    val part = new java.io.File(s"$dir/_orphan_tmp").listFiles()
      .find(_.getName.endsWith(".parquet")).get
    java.nio.file.Files.move(part.toPath,
      java.nio.file.Paths.get(dir, "part-99999-orphan.parquet"))
    assert(v2(dir).count() == 300, "orphan leaked into the V2 relation")
  }

  test("widen-only evolution: pre-column shards read back NULL through the relation") {
    val dir = build(ShardPayload.Jsonl)
    (300L until 310L).map(i => (i, s"текст $i", s"label$i"))
      .toDF("doc_id", "text", "label").coalesce(1)
      .write.format("graft.sources.v2.ShardSink")
      .option("path", dir).option("statsColumn", "doc_id")
      .mode("append").save()
    val back = v2(dir)
    assert(back.columns.toSeq == Seq("doc_id", "text", "label"))
    assert(back.filter(col("label").isNull).count() == 300)
    assert(back.filter(col("label") === "label305").count() == 1)
  }

  test("merge-on-read tombstones screen through the relation, even column-pruned") {
    Seq(ShardPayload.Jsonl, ShardPayload.Parquet).foreach { fmt =>
      val dir = build(fmt)
      val schema = StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType)))
      ShardDelete.deleteByKeyDeferred(spark, dir, schema, "doc_id",
        Seq(5L, 105L, 205L).toDF("k"))
      assert(v2(dir).count() == 297, s"$fmt: tombstones not screened")
      assert(v2(dir).filter(col("doc_id") === 5L).count() == 0)
      // a projection WITHOUT the key column still screens (the readers
      // parse the key internally)
      val texts = v2(dir).select(col("text")).as[String].collect().toSet
      assert(!texts.contains("текст 5") && texts.contains("текст 6"),
        s"$fmt: pruned projection resurrected a deleted row")
    }
  }

  test("COUNT(*)/MIN/MAX answer from the metadata plane: zero shard files opened") {
    val dir = build(ShardPayload.Parquet)
    spark.read.format("graft.sources.v2.ShardSink").load(dir)
      .createOrReplaceTempView("v2_agg_tbl")
    val q = spark.sql(
      "SELECT COUNT(*), MIN(doc_id), MAX(doc_id) FROM v2_agg_tbl")
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("graft.ShardAggScan"),
      s"aggregate did not push to the metadata plane:\n$plan")
    val r = q.collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) == (300L, 0L, 299L))
    // PHYSICAL impossibility: every data shard removed from disk — the
    // metadata answer must not open one
    val names = scala.io.Source.fromFile(s"$dir/_MANIFEST").getLines()
      .filter(_.nonEmpty).map(_.split("\t")(0)).toSeq
    names.foreach(n => assert(new java.io.File(dir, n).delete()))
    assert(spark.sql("SELECT COUNT(*) FROM v2_agg_tbl").collect()
      .head.getLong(0) == 300L)

    // refusal directions fall back to the row scan (exactness first):
    // a WHERE clause, a grouped aggregate, and live tombstones
    val dir2 = build(ShardPayload.Jsonl)
    spark.read.format("graft.sources.v2.ShardSink").load(dir2)
      .createOrReplaceTempView("v2_agg_tbl2")
    val filtered = spark.sql(
      "SELECT COUNT(*) FROM v2_agg_tbl2 WHERE doc_id < 100")
    assert(!filtered.queryExecution.executedPlan.toString
      .contains("ShardAggScan"))
    assert(filtered.collect().head.getLong(0) == 100L)
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    ShardDelete.deleteByKeyDeferred(spark, dir2, schema, "doc_id",
      Seq(5L).toDF("k"))
    val tombed = spark.sql("SELECT COUNT(*) FROM v2_agg_tbl2")
    assert(!tombed.queryExecution.executedPlan.toString
      .contains("ShardAggScan"),
      "manifest counts are an upper bound under live tombstones")
    assert(tombed.collect().head.getLong(0) == 299L)
    // MIN/MAX on a column with no stats section: falls back, stays right
    val minText = spark.sql("SELECT MAX(text) FROM v2_agg_tbl2")
    assert(!minText.queryExecution.executedPlan.toString
      .contains("ShardAggScan"))
    assert(minText.collect().head.getString(0) == "текст 99")
  }

  test("runtime filtering re-prunes the partition list with join-key IN-sets") {
    val dir = build(ShardPayload.Jsonl)
    val builder = new ShardScanBuilder(dir,
      StructType(Seq(StructField("doc_id", LongType),
        StructField("text", StringType))))
    val scan = builder.build().asInstanceOf[ShardScanImpl]
    assert(scan.filterAttributes().map(_.describe()).toSeq == Seq("doc_id"))
    assert(scan.planInputPartitions().length == 3)
    scan.filter(Array[org.apache.spark.sql.sources.Filter](
      org.apache.spark.sql.sources.In("doc_id", Array[Any](5L, 7L))))
    assert(scan.planInputPartitions().length == 1,
      "runtime IN-set did not re-prune the partitions")
  }

  test("zero-column plans work on parquet tables: count/isEmpty pad one read column") {
    // SELECT 1 / df.isEmpty build an EMPTY required-column set; a
    // parquet-hadoop projection would reject the empty group schema
    // (InvalidSchemaException, r18 ADVICE, low), so both formats are
    // pinned on zero-column reads.
    Seq(ShardPayload.Jsonl, ShardPayload.Parquet).foreach { fmt =>
      val dir = build(fmt)
      assert(v2(dir).select(lit(1)).count() == 300, s"$fmt zero-col count")
      assert(!v2(dir).isEmpty, s"$fmt isEmpty")
      v2(dir).createOrReplaceTempView("v2_zero_col_tbl")
      assert(spark.sql("SELECT 1 FROM v2_zero_col_tbl").count() == 300)
    }
  }
}
