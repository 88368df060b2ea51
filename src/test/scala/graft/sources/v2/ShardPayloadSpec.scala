package graft.sources.v2

import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.SparkSpec

/**
 * Parquet payload on the shard store: the whole sidecar contract
 * (manifest / stats / bloom / schema / lock / snapshot) carried onto
 * columnar shards — plus the format-homogeneity refusal (the `_SCHEMA`
 * `#format` pin makes the payload format a table-level property), the
 * column-pruning payoff the format exists for, and evolution null-fill
 * over parquet.
 */
class ShardPayloadSpec extends SparkSpec {
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))

  private def append(dir: String, rows: Seq[(Long, String)], fmt: String): Unit =
    rows.toDF("doc_id", "text").coalesce(1)
      .write.format("graft.sources.v2.ShardSink")
      .option("path", dir).option("format", fmt)
      .option("statsColumn", "doc_id")
      .mode("append").save()

  test("parquet round trip: same rows back, .parquet shards, #format pinned, unicode intact") {
    val dir = java.nio.file.Files.createTempDirectory("graft-pq-rt").toString
    val rows = Seq((1L, "hello"), (2L, "机器学习 İstanbul"), (3L, null: String),
      (4L, "line\nbreak\tand \"quotes\""))
    append(dir, rows, "parquet")
    append(dir, Seq((5L, "second append")), "parquet")

    val back = ShardReader.read(spark, dir, schema)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(back == rows.toSet ++ Set((5L, "second append")))
    // manifest names are .parquet files, payload is REAL parquet
    val names = scala.io.Source.fromFile(s"$dir/_MANIFEST").getLines()
      .filter(_.nonEmpty).map(_.split("\t")(0)).toSeq
    assert(names.nonEmpty && names.forall(_.endsWith(".parquet")), names)
    assert(spark.read.parquet(s"$dir/${names.head}").count() > 0)
    // the format is pinned in _SCHEMA
    assert(scala.io.Source.fromFile(s"$dir/_SCHEMA").mkString
      .contains("#format\tparquet"))
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    assert(ShardPayload.of(fs, p) == "parquet")
    // and stats were collected through the parquet writer too
    assert(ShardStats.readIfExists(fs, p).get.ranges.size == 2)
  }

  test("format is a table-level property: mixing is refused with nothing published") {
    val dir = java.nio.file.Files.createTempDirectory("graft-pq-mix").toString
    append(dir, Seq((1L, "a")), "parquet")
    val mfBefore = scala.io.Source.fromFile(s"$dir/_MANIFEST").mkString
    // jsonl append on a parquet table dies at PLAN time (clean error)
    val e = intercept[IllegalArgumentException] {
      append(dir, Seq((2L, "b")), "jsonl")
    }
    assert(e.getMessage.contains("payload format is a table-level property"),
      e.getMessage)
    assert(scala.io.Source.fromFile(s"$dir/_MANIFEST").mkString == mfBefore)
    // and the reverse direction on a jsonl table
    val dir2 = java.nio.file.Files.createTempDirectory("graft-pq-mix2").toString
    append(dir2, Seq((1L, "a")), "jsonl")
    intercept[IllegalArgumentException] { append(dir2, Seq((2L, "b")), "parquet") }
    // a bogus format name is refused outright
    intercept[IllegalArgumentException] { append(dir2, Seq((3L, "c")), "orc") }
    // an append WITHOUT the option ADOPTS the table's pin (the natural
    // call — defaulting it to jsonl and refusing would reject every
    // plain append on a parquet table)
    Seq((2L, "adopted")).toDF("doc_id", "text").coalesce(1)
      .write.format("graft.sources.v2.ShardSink")
      .option("path", dir).mode("append").save()
    assert(ShardReader.readEvolved(spark, dir).count() == 2L)
    val names2 = scala.io.Source.fromFile(s"$dir/_MANIFEST").getLines()
      .filter(_.nonEmpty).map(_.split("\t")(0)).toSeq
    assert(names2.forall(_.endsWith(".parquet")), names2)
  }

  test("maintenance suite over a parquet table: delete, upsert, compact, snapshot, readByKey, vacuum") {
    val dir = java.nio.file.Files.createTempDirectory("graft-pq-maint").toString
    append(dir, (1L to 50L).map(i => (i, s"doc $i")), "parquet")
    append(dir, (51L to 100L).map(i => (i, s"doc $i")), "parquet")
    val v1 = ShardSnapshot.create(spark, dir)

    // keyed delete rewrites only hit shards — still parquet
    assert(ShardDelete.deleteByKey(
      spark, dir, schema, "doc_id", Seq(7L, 99L).toDF("k")) == 2L)
    assert(ShardReader.read(spark, dir, schema).count() == 98L)
    // upsert over parquet
    val (rep, ins) = ShardDelete.upsertByKey(spark, dir, schema, "doc_id",
      Seq((1L, "updated"), (200L, "inserted")).toDF("doc_id", "text"))
    assert(rep == 1L && ins == 1L)
    // compact to 2 range-laid parquet shards
    assert(ShardCompact.compact(spark, dir, schema, targetShards = 2) == 2)
    val names = scala.io.Source.fromFile(s"$dir/_MANIFEST").getLines()
      .filter(_.nonEmpty).map(_.split("\t")(0)).toSeq
    assert(names.size == 2 && names.forall(_.endsWith(".parquet")))
    // pruned point lookup over the compacted parquet layout
    assert(ShardReader.readByKey(spark, dir, schema, "doc_id",
      Seq(200L).toDF("k")).select("text").as[String].head() == "inserted")
    // the pre-mutation snapshot still reads (pins respected), in parquet
    assert(ShardSnapshot.read(spark, dir, schema, v1).count() == 100L)
    // retention reclaims the pinned parquet ex-shards
    val (dropped, reclaimed) = ShardSnapshot.retain(spark, dir, 0)
    assert(dropped == Seq(v1) && reclaimed.nonEmpty)
    assert(reclaimed.forall(_.endsWith(".parquet")), reclaimed)
    assert(ShardReader.read(spark, dir, schema).count() == 99L)
  }

  test("readByKey pushes small key sets into the scan; large sets keep the join; results agree") {
    val dir = java.nio.file.Files.createTempDirectory("graft-pq-push").toString
    append(dir, (1L to 100L).map(i => (i, s"doc $i")), "parquet")
    // small key set -> IN-list filter pushed to the parquet scan
    val pushed = ShardReader.readByKey(spark, dir, schema, "doc_id",
      Seq(3L, 7L).toDF("k"))
    val plan = pushed.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [In(doc_id"),
      s"IN-list did not reach the scan:\n$plan")
    assert(pushed.select("doc_id").as[Long].collect().toSet == Set(3L, 7L))
    // a key set over the 128-key push bound keeps the join path; the
    // pushed path over the keys that exist gives the same answer
    val joined = ShardReader.readByKey(
      spark, dir, schema, "doc_id", (1L to 200L).toDF("k"))
    assert(!joined.queryExecution.executedPlan.toString
      .contains("PushedFilters: [In(doc_id"))
    assert(joined.count() == 100L)
    val pushedAll = ShardReader.readByKey(
      spark, dir, schema, "doc_id", (1L to 100L).toDF("k"))
    assert(pushedAll.queryExecution.executedPlan.toString
      .contains("PushedFilters: [In(doc_id"))
    assert(joined.select("doc_id").as[Long].collect().toSet ==
      pushedAll.select("doc_id").as[Long].collect().toSet)
    graft.CacheScope.releaseAll()
    // an all-null key set matches nothing (IN semantics = join equality)
    assert(ShardReader.readByKey(spark, dir, schema, "doc_id",
      Seq(null.asInstanceOf[java.lang.Long]).toDF("k")).count() == 0L)
  }

  test("columnar payoff: a 1-column projection reads a 1-column schema") {
    val dir = java.nio.file.Files.createTempDirectory("graft-pq-prune").toString
    append(dir, (1L to 20L).map(i => (i, s"wide text payload $i")), "parquet")
    val plan = ShardReader.read(spark, dir, schema)
      .select("doc_id").queryExecution.executedPlan.toString
    assert(plan.contains("ReadSchema: struct<doc_id:bigint>"),
      s"parquet scan did not prune columns:\n$plan")
  }

  test("widen-only evolution over parquet: old shards null-fill, format survives the bump") {
    val dir = java.nio.file.Files.createTempDirectory("graft-pq-evolve").toString
    append(dir, Seq((1L, "old")), "parquet")
    Seq((2L, "new", 42L)).toDF("doc_id", "text", "score").coalesce(1)
      .write.format("graft.sources.v2.ShardSink")
      .option("path", dir).option("format", "parquet")
      .option("statsColumn", "doc_id")
      .mode("append").save()
    val ts = ShardReader.tableSchema(spark, dir)
    assert(ts.fieldNames.toSeq == Seq("doc_id", "text", "score"))
    val back = ShardReader.readEvolved(spark, dir)
      .orderBy("doc_id").collect()
    assert(back(0).isNullAt(2) && back(1).getLong(2) == 42L)
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    assert(ShardPayload.of(fs, p) == "parquet", "evolution dropped the format pin")
  }
}
