package graft.sources.v2

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec

/**
 * Merge-on-read tombstone contract ([[ShardTombstones]] /
 * [[ShardDelete.deleteByKeyDeferred]]): a keyed takedown publishes
 * metadata only (physical no-rewrite assert), every serve path excludes
 * the keys, shard-scoping keeps re-inserted keys visible, compaction
 * materializes and retires segments, snapshots stay honest in both
 * time directions, and vacuum reclaims retired segment files only when
 * no snapshot records them.
 */
class ShardTombstonesSpec extends SparkSpec {
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("doc_id", LongType), StructField("ld", StringType)))

  private def append(dir: String, rows: Seq[(Long, String)]): Unit =
    rows.toDF("doc_id", "ld").coalesce(1)
      .write.format("graft.sources.v2.ShardSink")
      .option("path", dir).option("statsColumn", "doc_id")
      .mode("append").save()

  private def newTable(prefix: String, shards: Int = 4, per: Int = 50): String = {
    val dir = java.nio.file.Files.createTempDirectory(prefix).toString
    (0 until shards).foreach(s =>
      append(dir, (s * per until (s + 1) * per).map(i => (i.toLong, s"v$i"))))
    dir
  }

  private def dataFiles(dir: String): Map[String, Long] =
    new java.io.File(dir).listFiles().toSeq
      .filter(f => f.isFile && f.getName.startsWith("part-"))
      .map(f => f.getName -> f.lastModified()).toMap

  private def tombFiles(dir: String): Set[String] =
    new java.io.File(dir).listFiles().toSeq
      .filter(f => f.isFile && f.getName.startsWith("tomb-"))
      .map(_.getName).toSet

  private def servedIds(dir: String): Set[Long] =
    ShardReader.read(spark, dir, schema).select("doc_id").as[Long]
      .collect().toSet

  test("deferred delete is metadata-only: manifest and data files untouched, reads exclude") {
    val dir = newTable("graft-tomb-basic")
    val mfBefore = scala.io.Source.fromFile(s"$dir/_MANIFEST").mkString
    val filesBefore = dataFiles(dir)
    val n = ShardDelete.deleteByKeyDeferred(spark, dir, schema, "doc_id",
      Seq(10L, 60L, 110L, 99999L).toDF("k")) // one ghost key
    assert(n == 4L) // distinct keys RECORDED, ghosts included by contract
    // the physical no-rewrite assert: same manifest bytes, same data
    // files with same mtimes — zero shard I/O happened
    assert(scala.io.Source.fromFile(s"$dir/_MANIFEST").mkString == mfBefore)
    assert(dataFiles(dir) == filesBefore)
    assert(tombFiles(dir).size == 1)
    // every serve path excludes the keys
    assert(!servedIds(dir).exists(Set(10L, 60L, 110L)))
    assert(servedIds(dir).size == 197)
    assert(ShardReader.readByKey(spark, dir, schema, "doc_id",
      Seq(10L, 11L).toDF("k")).select("doc_id").as[Long].collect().toSet ==
      Set(11L)) // small (pushed) path
    assert(ShardReader.readByKey(spark, dir, schema, "doc_id",
      (Seq(10L, 11L) ++ (100000L until 100200L)).toDF("k"))
      .select("doc_id").as[Long].collect().toSet == Set(11L)) // join path
    graft.CacheScope.releaseAll()
    // manifest row count becomes an upper bound while tombstones live
    assert(ShardReader.manifestRowCount(spark, dir) == 200L)
  }

  test("shard scoping: append and upsert re-introducing a deleted key stay visible") {
    val dir = newTable("graft-tomb-scope")
    ShardDelete.deleteByKeyDeferred(spark, dir, schema, "doc_id",
      Seq(10L, 20L).toDF("k"))
    assert(!servedIds(dir).contains(10L))
    // a fresh APPEND re-inserts key 10: its shard is outside every
    // segment's scope, so it serves immediately — no "undefined until
    // compaction" caveat
    append(dir, Seq((10L, "re-added")))
    assert(ShardReader.read(spark, dir, schema)
      .filter(col("doc_id") === 10L).select("ld").as[String].collect().toSeq ==
      Seq("re-added"))
    // an UPSERT re-inserts key 20 the same way (its old copy is in a
    // scoped shard — anti-joined; the new copy lands fresh)
    val (rep, ins) = ShardDelete.upsertByKey(spark, dir, schema, "doc_id",
      Seq((20L, "upserted")).toDF("doc_id", "ld"))
    assert(rep == 0L && ins == 1L) // the old copy is logically deleted
    assert(ShardReader.read(spark, dir, schema)
      .filter(col("doc_id") === 20L).select("ld").as[String].collect().toSeq ==
      Seq("upserted"))
  }

  test("compaction materializes: segments retire, bytes leave the data files, reads unchanged") {
    val dir = newTable("graft-tomb-compact")
    ShardDelete.deleteByKeyDeferred(spark, dir, schema, "doc_id",
      Seq(10L, 60L).toDF("k"))
    val before = servedIds(dir)
    assert(ShardCompact.compact(spark, dir, schema, targetShards = 2) == 2)
    // sidecar gone, reads identical, and the deleted keys' bytes are
    // PHYSICALLY absent from every data file now
    assert(!new java.io.File(dir, "_TOMBSTONES").exists())
    assert(servedIds(dir) == before)
    assert(ShardReader.manifestRowCount(spark, dir) == 198L) // truth restored
    val raw = new java.io.File(dir).listFiles().toSeq
      .filter(f => f.isFile && f.getName.startsWith("part-") &&
        f.getName.endsWith(".jsonl"))
      .map(f => scala.io.Source.fromFile(f).mkString).mkString
    assert(!raw.contains("\"v10\"") && !raw.contains("\"v60\""))
    // a 1-shard table with live tombstones still compacts (the
    // materialization step must not be skipped by the size early-return)
    val one = newTable("graft-tomb-one", shards = 1, per = 20)
    ShardDelete.deleteByKeyDeferred(spark, one, schema, "doc_id",
      Seq(5L).toDF("k"))
    assert(ShardCompact.compact(spark, one, schema, targetShards = 1) == 1)
    assert(!new java.io.File(one, "_TOMBSTONES").exists())
    assert(servedIds(one) == (0L until 20L).toSet - 5L)
  }

  test("snapshots are honest in both directions; vacuum honors segment pins") {
    val dir = newTable("graft-tomb-snap")
    val vPre = ShardSnapshot.create(spark, dir) // BEFORE the delete
    ShardDelete.deleteByKeyDeferred(spark, dir, schema, "doc_id",
      Seq(10L, 60L).toDF("k"))
    val vPost = ShardSnapshot.create(spark, dir) // AFTER the delete
    def snapIds(v: Int): Set[Long] =
      ShardSnapshot.read(spark, dir, schema, v).select("doc_id").as[Long]
        .collect().toSet
    assert(snapIds(vPre).contains(10L)) // pre-delete snapshot serves the key
    assert(!snapIds(vPost).contains(10L)) // post-delete one excludes it
    // compaction materializes and retires the live segments...
    ShardCompact.compact(spark, dir, schema, targetShards = 2)
    assert(!new java.io.File(dir, "_TOMBSTONES").exists())
    // ...but vPost RECORDED them, so its view is unchanged — and vacuum
    // must keep the recorded segment file on disk
    val reclaimed1 = ShardSnapshot.vacuum(spark, dir)
    assert(reclaimed1.forall(!_.startsWith("tomb-")),
      s"vacuum reclaimed a pinned segment: $reclaimed1")
    assert(tombFiles(dir).size == 1)
    assert(!snapIds(vPost).contains(10L) && snapIds(vPost).contains(11L))
    assert(snapIds(vPre).contains(10L))
    // pins lapse: dropping the snapshots releases the segment file
    ShardSnapshot.drop(spark, dir, vPre)
    ShardSnapshot.drop(spark, dir, vPost)
    val reclaimed2 = ShardSnapshot.vacuum(spark, dir)
    assert(reclaimed2.exists(_.startsWith("tomb-")), s"got $reclaimed2")
    assert(tombFiles(dir).isEmpty)
  }

  test("copy-on-write interplay: rewrites apply tombstones, scopes shrink, CDC sees the delete") {
    val dir = newTable("graft-tomb-cow")
    val v1 = ShardSnapshot.create(spark, dir)
    ShardDelete.deleteByKeyDeferred(spark, dir, schema, "doc_id",
      Seq(10L).toDF("k"))
    // CDC: the deferred delete surfaces as a `removed` tombstone row
    val feed = ShardSnapshot.readChangesSince(spark, dir, schema, "doc_id", v1)
      .collect()
    assert(feed.length == 1 && feed.head.getAs[String]("change") == "removed" &&
      feed.head.getAs[Long]("doc_id") == 10L)
    // a CoW delete of key 11 rewrites the shard holding 10 and 11: the
    // rewrite must materialize 10's tombstone (not resurrect it) and
    // drop the replaced shard from the segment's scope
    val (fs, p) = locally {
      val pp = new org.apache.hadoop.fs.Path(dir)
      (pp.getFileSystem(spark.sessionState.newHadoopConf()), pp)
    }
    val scopeBefore = ShardTombstones.readIfExists(fs, p).get
      .segments.head.shards
    assert(ShardDelete.deleteByKey(spark, dir, schema, "doc_id",
      Seq(11L).toDF("k")) == 1L) // 10 is logically gone: only 11 counts
    val after = ShardTombstones.readIfExists(fs, p)
    // the hit shard left the scope; 3 untouched shards remain scoped
    assert(after.isDefined && after.get.segments.head.shards.size ==
      scopeBefore.size - 1)
    assert(!servedIds(dir).exists(Set(10L, 11L)))
    // a second deferred delete on ANOTHER column is refused loud
    val err = intercept[IllegalArgumentException] {
      ShardDelete.deleteByKeyDeferred(spark, dir, schema, "ld",
        Seq("v12").toDF("k"))
    }
    assert(err.getMessage.contains("compact to materialize"))
  }

  test("sidecar is strict; minus refuses a schema that cannot apply the tombstones") {
    val dir = newTable("graft-tomb-strict", shards = 1, per = 10)
    ShardDelete.deleteByKeyDeferred(spark, dir, schema, "doc_id",
      Seq(3L).toDF("k"))
    // a read schema LACKING the tombstone column must fail loud, never
    // silently resurrect
    val err = intercept[IllegalArgumentException] {
      ShardReader.read(spark, dir,
        StructType(Seq(StructField("ld", StringType)))).collect()
    }
    assert(err.getMessage.contains("resurrect"))
    // malformed sidecar lines fail at first sight
    intercept[IllegalArgumentException] {
      ShardTombstones.parse("#key\tdoc_id\tlong\nseg only-two", null)
    }
    intercept[IllegalArgumentException] {
      ShardTombstones.parse("no-header\n", null)
    }
    // serialize→parse round trip
    val t = ShardTombstones.Tombstones("doc_id", "long", Seq(
      ShardTombstones.Segment("tomb-a.parquet", 3L, Set("s1", "s2"))))
    assert(ShardTombstones.parse(ShardTombstones.serialize(t), null) == t)
  }

  test("minus is key-only anti-joins with scope predicates: no key x shard cross product") {
    // r18 ADVICE (medium): the old form cross-joined each segment's
    // keys against its shard scope and force-broadcast nKeys x nShards
    // rows. Pin the fixed shape: with TWO live segments over a 4-shard
    // table, the read plan carries one anti-join per segment, no
    // CartesianProduct/cross join, and still serves the exact survivor
    // set (including a key deleted in one segment and re-added later --
    // the scope predicate, not the join key, decides shard membership).
    val dir = newTable("graft-tomb-shape")
    assert(ShardDelete.deleteByKeyDeferred(spark, dir, schema, "doc_id",
      Seq(10L, 60L).toDF("k")) == 2L)
    // re-add key 10 (fresh shard, outside the first segment's scope),
    // then a SECOND deferred delete creates a second segment scoping it
    append(dir, Seq((10L, "re-added")))
    assert(ShardDelete.deleteByKeyDeferred(spark, dir, schema, "doc_id",
      Seq(110L).toDF("k")) == 1L)
    val df = ShardReader.read(spark, dir, schema)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      s"tombstone minus must not cross-join keys with scopes:\n$plan")
    assert(plan.toLowerCase.contains("leftanti"),
      s"tombstone minus must anti-join the segments:\n$plan")
    val served = df.select("doc_id").as[Long].collect().toSeq
    assert(served.count(_ == 10L) == 1, "re-added key must serve exactly once")
    assert(!served.contains(60L) && !served.contains(110L))
    assert(served.size == 198) // 200 - 3 deleted + 1 re-add
  }
}
