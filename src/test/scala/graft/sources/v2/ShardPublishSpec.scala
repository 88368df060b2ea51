package graft.sources.v2

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.types._

import graft.SparkSpec

/**
 * The shared publish path ([[ShardPublish]]) across every operation
 * that goes through it, on ONE table carrying a stats column and a bloom
 * column: append → upsert → deleteByKey → deleteByKeyDeferred → compact.
 * After each step: no staged `*.tmp` sidecar and no scratch directory is
 * left behind, every `_STATS`/`_BLOOM` section names exactly the
 * manifested shards, and the served rows equal the test's own model of
 * the table.
 */
class ShardPublishSpec extends SparkSpec {
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("digest", StringType),
    StructField("v", StringType)))

  private def row(id: Long, version: Int): (Long, String, String) =
    (id, org.apache.commons.codec.digest.DigestUtils.md5Hex(s"doc-$id"),
      s"v$version-$id")

  private def frame(rows: Seq[(Long, String, String)]) =
    rows.toDF("id", "digest", "v")

  private def assertPublished(
      dir: String, model: Map[Long, (Long, String, String)], step: String): Unit = {
    val top = new java.io.File(dir).listFiles().toSeq
    val leftovers = top.map(_.getName).filter(n => n.contains(".tmp") ||
      Seq("_delete-", "_upsert-", "_compact-", "_staging-", "_tomb-")
        .exists(n.startsWith))
    assert(leftovers.isEmpty, s"after $step: leftovers $leftovers")

    val t = ShardPublish.table(spark, dir)
    val manifested = ShardPublish.manifest(t).map(_._1).toSet
    val stats = ShardStats.readAll(t.fs, t.dir)
    val bloom = ShardBloom.readAll(t.fs, t.dir)
    assert(stats.map(_.column) == Seq("id"), s"after $step")
    assert(bloom.map(_.column) == Seq("digest"), s"after $step")
    stats.foreach(s => assert(s.ranges.keySet == manifested,
      s"after $step: _STATS names ${s.ranges.keySet}, manifest $manifested"))
    bloom.foreach(b => assert(b.filters.keySet == manifested,
      s"after $step: _BLOOM names ${b.filters.keySet}, manifest $manifested"))

    val served = ShardReader.read(spark, dir, schema).as[(Long, String, String)]
      .collect().sortBy(_._1).toSeq
    assert(served == model.values.toSeq.sortBy(_._1), s"after $step")
  }

  test("append, upsert, delete, deferred delete and compact publish cleanly") {
    val dir = java.nio.file.Files.createTempDirectory("graft-publish").toString
    var model = Map.empty[Long, (Long, String, String)]

    (0 until 3).foreach { s =>
      val rows = (s * 40L until (s + 1) * 40L).map(row(_, 0))
      frame(rows).coalesce(1).write.format("graft.sources.v2.ShardSink")
        .option("path", dir).option("statsColumn", "id")
        .option("bloomColumn", "digest").mode("append").save()
      model ++= rows.map(r => r._1 -> r)
      assertPublished(dir, model, s"append $s")
    }

    val updates = Seq(5L, 45L, 200L).map(row(_, 1))
    assert(ShardDelete.upsertByKey(spark, dir, schema, "id", frame(updates)) ==
      ((2L, 1L)))
    model ++= updates.map(r => r._1 -> r)
    assertPublished(dir, model, "upsertByKey")

    assert(ShardDelete.deleteByKey(spark, dir, schema, "id",
      Seq(10L, 50L, 999L).toDF("k")) == 2L)
    model --= Seq(10L, 50L)
    assertPublished(dir, model, "deleteByKey")

    assert(ShardDelete.deleteByKeyDeferred(spark, dir, schema, "id",
      Seq(90L, 91L).toDF("k")) == 2L)
    model --= Seq(90L, 91L)
    assertPublished(dir, model, "deleteByKeyDeferred")
    assert(new java.io.File(dir, ShardTombstones.FileName).exists())

    assert(ShardCompact.compact(spark, dir, schema, targetShards = 2) == 2)
    assertPublished(dir, model, "compact")
    // compaction materialized the deferred delete and retired its segment
    assert(!new java.io.File(dir, ShardTombstones.FileName).exists())
    assert(ShardPublish.manifest(ShardPublish.table(spark, dir)).size == 2)
  }

  test("a retried move-in counts an already-moved file as moved") {
    val dir = java.nio.file.Files.createTempDirectory("graft-movein").toString
    val t = ShardPublish.table(spark, dir)
    val src = new Path(t.dir, "_scratch/part-a.jsonl")
    t.fs.create(src).close()
    ShardPublish.moveIn(t.fs, Seq(src), t.dir, "test")
    ShardPublish.moveIn(t.fs, Seq(src), t.dir, "test") // resumed: a no-op
    assert(t.fs.exists(new Path(t.dir, "part-a.jsonl")) && !t.fs.exists(src))
    val missing = new Path(t.dir, "_scratch/part-b.jsonl")
    intercept[java.io.IOException](ShardPublish.moveIn(t.fs, Seq(missing), t.dir, "test"))
  }
}
