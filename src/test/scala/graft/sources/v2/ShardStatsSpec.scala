package graft.sources.v2

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.SparkSpec

/**
 * The keyed-maintenance data-skipping contract: `_STATS` per-shard key
 * ranges prune hit DISCOVERY to the shards that can possibly contain a
 * key — verified not just by inspecting [[ShardDelete.candidateShards]]
 * but by a physical impossibility argument: the non-intersecting
 * shard's data file is REMOVED from disk before the delete, so if the
 * delete read it the scan would throw. Plus: stats survive every
 * copy-on-write mutator, degrade safely when absent or mixed, and
 * never change an answer.
 */
class ShardStatsSpec extends SparkSpec {
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))

  private def append(dir: String, rows: Seq[(Long, String)]): Unit =
    rows.toDF("doc_id", "text").coalesce(1)
      .write.format("graft.sources.v2.ShardSink")
      .option("path", dir).option("statsColumn", "doc_id")
      .mode("append").save()

  private def statsOf(dir: String): ShardStats.Stats = {
    val p = new org.apache.hadoop.fs.Path(dir)
    ShardStats.readIfExists(
      p.getFileSystem(spark.sessionState.newHadoopConf()), p).get
  }

  private def manifestNames(dir: String): Seq[String] =
    scala.io.Source.fromFile(s"$dir/_MANIFEST").getLines()
      .filter(_.nonEmpty).map(_.split("\t")(0)).toSeq

  test("statsColumn append publishes per-shard min/max; candidateShards prunes by range") {
    val dir = java.nio.file.Files.createTempDirectory("graft-stats-basic").toString
    append(dir, Seq((1L, "a"), (5L, "b")))      // shard A: [1, 5]
    append(dir, Seq((100L, "c"), (150L, "d")))  // shard B: [100, 150]
    append(dir, Seq((1000L, "e")))              // shard C: [1000, 1000]

    val s = statsOf(dir)
    assert(s.column == "doc_id" && s.dtype == "long")
    assert(s.ranges.size == 3)
    assert(s.ranges.values.toSet ==
      Set(Some(("1", "5")), Some(("100", "150")), Some(("1000", "1000"))))

    // a key set entirely inside shard B's range selects ONLY shard B
    val cands = ShardDelete.candidateShards(
      spark, dir, schema, "doc_id", Seq(120L, 130L).toDF("k"))
    val bName = s.ranges.collectFirst {
      case (n, Some(("100", "150"))) => n }.get
    assert(cands == Seq(bName), s"expected only $bName, got $cands")
    // a key matching nothing anywhere selects NO shard
    assert(ShardDelete.candidateShards(
      spark, dir, schema, "doc_id", Seq(9999L).toDF("k")).isEmpty)
    // boundary keys are inclusive
    assert(ShardDelete.candidateShards(
      spark, dir, schema, "doc_id", Seq(5L).toDF("k")).nonEmpty)
  }

  test("pruned delete physically cannot read non-intersecting shards (file removed from disk)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-stats-prune").toString
    append(dir, Seq((1L, "a"), (5L, "b")))
    append(dir, Seq((100L, "c"), (150L, "d")))
    append(dir, Seq((1000L, "e")))
    val s = statsOf(dir)
    val aName = s.ranges.collectFirst { case (n, Some(("1", "5"))) => n }.get
    val cName = s.ranges.collectFirst { case (n, Some(("1000", "1000"))) => n }.get

    // the impossibility assert: shards A and C are REMOVED from disk.
    // Any read of them throws FileNotFound — a delete of keys hitting
    // only shard B succeeds iff discovery pruned A and C at metadata
    // level and never opened a byte of either.
    assert(new java.io.File(dir, aName).delete())
    assert(new java.io.File(dir, cName).delete())
    val deleted = ShardDelete.deleteByKey(
      spark, dir, schema, "doc_id", Seq(100L).toDF("k"))
    assert(deleted == 1L)
    // manifest still names the (gone) untouched shards — only B rewritten
    val mf = manifestNames(dir)
    assert(mf.contains(aName) && mf.contains(cName), mf.toString)
    assert(!mf.exists(_ == s.ranges.collectFirst {
      case (n, Some(("100", "150"))) => n }.get))
    // and the same physical argument for upsert: only shard B's
    // replacement intersects key 150
    val (r, i) = ShardDelete.upsertByKey(spark, dir, schema, "doc_id",
      Seq((150L, "D2"), (5000L, "new")).toDF("doc_id", "text"))
    assert((r, i) == ((1L, 1L)), s"got ($r, $i)")
    graft.CacheScope.releaseAll()
  }

  test("stats follow every mutator: delete/upsert rewrite entries, compact re-collects, answers unchanged") {
    val dir = java.nio.file.Files.createTempDirectory("graft-stats-maint").toString
    append(dir, Seq((1L, "a"), (5L, "b")))
    append(dir, Seq((100L, "c"), (150L, "d")))

    ShardDelete.deleteByKey(spark, dir, schema, "doc_id", Seq(5L).toDF("k"))
    val afterDel = statsOf(dir)
    assert(afterDel.ranges.size == 2)
    assert(afterDel.ranges.values.toSet ==
      Set(Some(("1", "1")), Some(("100", "150"))),
      afterDel.ranges.toString) // rewritten shard's range shrank to [1,1]

    ShardDelete.upsertByKey(spark, dir, schema, "doc_id",
      Seq((150L, "D2"), (7L, "g")).toDF("doc_id", "text"))
    val afterUp = statsOf(dir)
    // every manifested shard still carries a stats entry
    assert(manifestNames(dir).forall(afterUp.ranges.contains))

    assert(ShardCompact.compact(spark, dir, schema, targetShards = 1) == 1)
    val afterCompact = statsOf(dir)
    assert(afterCompact.ranges.keySet == manifestNames(dir).toSet)
    assert(afterCompact.ranges.values.toSeq == Seq(Some(("1", "150"))))
    // and the data is exactly what an unpruned store would hold
    assert(ShardReader.read(spark, dir, schema)
      .as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (7L, "g"), (100L, "c"), (150L, "D2")))
    graft.CacheScope.releaseAll()
  }

  test("safe degradation: stats-less appends stay candidates; different key column scans all; string keys prune") {
    val dir = java.nio.file.Files.createTempDirectory("graft-stats-mixed").toString
    append(dir, Seq((1L, "a")))
    // an append WITHOUT the option: its shard must never be pruned
    Seq((500L, "legacy")).toDF("doc_id", "text").coalesce(1)
      .write.format("graft.sources.v2.ShardSink")
      .option("path", dir).mode("append").save()
    val cands = ShardDelete.candidateShards(
      spark, dir, schema, "doc_id", Seq(500L).toDF("k"))
    assert(cands.size == 1 && !statsOf(dir).ranges.contains(cands.head),
      s"stats-less shard must be its own candidate: $cands")
    // delete through the mixed table still answers correctly
    assert(ShardDelete.deleteByKey(
      spark, dir, schema, "doc_id", Seq(500L).toDF("k")) == 1L)

    // keyed on a DIFFERENT column than the stats: no prune, full scan
    val all = ShardDelete.candidateShards(
      spark, dir, schema, "text", Seq("zzz").toDF("k"))
    assert(all.toSet == manifestNames(dir).toSet)

    // string-keyed table prunes with Spark's own string ordering
    val sdir = java.nio.file.Files.createTempDirectory("graft-stats-str").toString
    def sappend(rows: Seq[(Long, String)]): Unit =
      rows.toDF("doc_id", "text").coalesce(1)
        .write.format("graft.sources.v2.ShardSink")
        .option("path", sdir).option("statsColumn", "text")
        .mode("append").save()
    sappend(Seq((1L, "apple"), (2L, "banana")))
    sappend(Seq((3L, "zebra")))
    val sc = ShardDelete.candidateShards(
      spark, sdir, schema, "text", Seq("avocado").toDF("k"))
    assert(sc.size == 1, s"got $sc")
    assert(statsOf(sdir).ranges(sc.head) == Some(("apple", "banana")))
    graft.CacheScope.releaseAll()
  }

  test("stats column is a table property: switching it on append fails loud; bad column/type fail at plan time") {
    val dir = java.nio.file.Files.createTempDirectory("graft-stats-prop").toString
    append(dir, Seq((1L, "a")))
    // r18 (multi-column sidecars): stats on ANOTHER column open a new
    // SECTION — allowed; a column's DTYPE stays immutable (simulate a
    // drifted sidecar by rewriting the doc_id section as string-typed:
    // the next doc_id append must refuse)
    Seq((2L, "b")).toDF("doc_id", "text").coalesce(1)
      .write.format("graft.sources.v2.ShardSink")
      .option("path", dir).option("statsColumn", "text")
      .mode("append").save()
    locally {
      val p = new org.apache.hadoop.fs.Path(dir)
      val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
      val sections = ShardStats.readAll(fs, p)
      assert(sections.map(_.column).toSet == Set("doc_id", "text"))
      assert(sections.find(_.column == "doc_id").get.ranges.size == 1)
      ShardStats.writeAllAtomic(spark.sessionState.newHadoopConf(), fs, p,
        sections.filterNot(_.column == "doc_id") :+
          ShardStats.Stats("doc_id", "string", Map.empty))
    }
    val e = intercept[Exception] {
      append(dir, Seq((3L, "c")))
    }
    def chain(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(8)
        .map(x => Option(x.getMessage).getOrElse("")).toSeq
    assert(chain(e).exists(_.contains("table-level property")), chain(e))
    intercept[Exception] {
      Seq((1L, "a")).toDF("doc_id", "text")
        .write.format("graft.sources.v2.ShardSink")
        .option("path", dir + "-x").option("statsColumn", "nope")
        .mode("append").save()
    }
    // all-null key shard: marked, and never a candidate for any key
    val ndir = java.nio.file.Files.createTempDirectory("graft-stats-null").toString
    Seq((null.asInstanceOf[java.lang.Long], "n"))
      .toDF("doc_id", "text").coalesce(1)
      .write.format("graft.sources.v2.ShardSink")
      .option("path", ndir).option("statsColumn", "doc_id")
      .mode("append").save()
    assert(statsOf(ndir).ranges.values.toSeq == Seq(None))
    assert(ShardDelete.candidateShards(
      spark, ndir, schema, "doc_id", Seq(1L).toDF("k")).isEmpty)
  }

  test("range-layout compaction keeps disjoint shard ranges; readByKey physically skips non-intersecting shards") {
    val dir = java.nio.file.Files.createTempDirectory("graft-stats-layout").toString
    // interleaved appends: every input shard spans nearly the whole domain
    append(dir, Seq((1L, "a"), (900L, "b")))
    append(dir, Seq((5L, "c"), (950L, "d")))
    append(dir, Seq((500L, "e"), (999L, "f")))
    // a stats-carrying table re-lays out by RANGE even without sortBy —
    // the default that keeps compaction from destroying the prune
    assert(ShardCompact.compact(spark, dir, schema, targetShards = 2) == 2)
    val s = statsOf(dir)
    val ranges = s.ranges.values.flatten.toSeq
      .map { case (mn, mx) => (mn.toLong, mx.toLong) }.sortBy(_._1)
    assert(ranges.size == 2 && ranges(0)._2 < ranges(1)._1,
      s"compacted shards must cover disjoint key ranges: $ranges")

    // readByKey: remove the high-range shard from disk — a lookup of
    // low keys succeeds iff the read never opened it
    val hi = s.ranges.collectFirst {
      case (n, Some((mn, _))) if mn.toLong == ranges(1)._1 => n }.get
    assert(new java.io.File(dir, hi).delete())
    val got = ShardReader.readByKey(spark, dir, schema, "doc_id",
      Seq(1L, 5L, 12345L).toDF("k"))
      .as[(Long, String)].collect().toSet
    assert(got == Set((1L, "a"), (5L, "c")), s"got $got")
    // no-candidate lookup: empty frame, zero shards opened
    assert(ShardReader.readByKey(spark, dir, schema, "doc_id",
      Seq(-1L).toDF("k")).count() == 0L)
    graft.CacheScope.releaseAll()
  }

  test("snapshot versions are never reused after dropping the latest (persistent high-water mark)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-snap-hwm").toString
    append(dir, Seq((1L, "a")))
    val v1 = ShardSnapshot.create(spark, dir)
    val v2 = ShardSnapshot.create(spark, dir)
    assert((v1, v2) == ((1, 2)))
    ShardSnapshot.drop(spark, dir, v2)
    val v3 = ShardSnapshot.create(spark, dir)
    assert(v3 == 3, s"dropped version number was reused: $v3")
    // creation timestamps are persisted and ordered
    assert(ShardSnapshot.createdAt(spark, dir, v1) <=
      ShardSnapshot.createdAt(spark, dir, v3))
  }

  test("retain(keepLast) and expireOlderThan compose drop+vacuum and report both halves") {
    val dir = java.nio.file.Files.createTempDirectory("graft-snap-retain").toString
    append(dir, Seq((1L, "a"), (2L, "b")))
    val v1 = ShardSnapshot.create(spark, dir)
    ShardDelete.deleteByKey(spark, dir, schema, "doc_id", Seq(1L).toDF("k"))
    val v2 = ShardSnapshot.create(spark, dir)
    ShardDelete.upsertByKey(spark, dir, schema, "doc_id",
      Seq((2L, "B2")).toDF("doc_id", "text"))
    val v3 = ShardSnapshot.create(spark, dir)

    val (dropped, reclaimed) = ShardSnapshot.retain(spark, dir, keepLast = 1)
    assert(dropped == Seq(v1, v2), s"got $dropped")
    assert(reclaimed.nonEmpty, "v1/v2 ex-shards should have been reclaimed")
    // the kept snapshot still reads; the dropped ones are gone loud
    assert(ShardSnapshot.read(spark, dir, schema, v3)
      .as[(Long, String)].collect().toSet == Set((2L, "B2")))
    intercept[IllegalArgumentException] {
      ShardSnapshot.read(spark, dir, schema, v1)
    }
    // current table untouched by retention
    assert(ShardReader.read(spark, dir, schema)
      .as[(Long, String)].collect().toSet == Set((2L, "B2")))

    // expireOlderThan with a future cutoff drops the remaining snapshot
    val (d2, _) = ShardSnapshot.expireOlderThan(
      spark, dir, System.currentTimeMillis() + 60000L)
    assert(d2 == Seq(v3))
    assert(ShardSnapshot.list(spark, dir).isEmpty)
    graft.CacheScope.releaseAll()
  }

  test("double-typed stats prune with IEEE ordering; strict sidecar parsers fail loud on corruption") {
    val dir = java.nio.file.Files.createTempDirectory("graft-stats-dbl").toString
    val dschema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("w", org.apache.spark.sql.types.DoubleType)))
    def dappend(rows: Seq[(Long, Double)]): Unit =
      rows.toDF("doc_id", "w").coalesce(1)
        .write.format("graft.sources.v2.ShardSink")
        .option("path", dir).option("statsColumn", "w")
        .mode("append").save()
    dappend(Seq((1L, 0.1), (2L, 0.5)))
    dappend(Seq((3L, 10.25), (4L, 99.5)))
    val s = statsOf(dir)
    assert(s.dtype == "double")
    assert(s.ranges.values.toSet ==
      Set(Some(("0.1", "0.5")), Some(("10.25", "99.5"))), s.ranges.toString)
    // a double key set inside the first range prunes to one shard —
    // note "10.0" < "2.0" lexicographically: only a TYPED compare prunes
    // this correctly
    val c = ShardDelete.candidateShards(spark, dir, dschema, "w",
      Seq(0.3).toDF("k"))
    assert(c.size == 1 && s.ranges(c.head) == Some(("0.1", "0.5")), c.toString)

    // strict parsers: a torn _STATS line fails at first sight (never
    // laundered into a wrong prune), and a torn _SCHEMA header likewise
    val statsFile = new java.io.File(dir, "_STATS")
    val orig = scala.io.Source.fromFile(statsFile).mkString
    java.nio.file.Files.writeString(statsFile.toPath, orig + "torn-no-tabs\n")
    new java.io.File(dir, "._STATS.crc").delete()
    val e = intercept[IllegalArgumentException] {
      ShardDelete.candidateShards(spark, dir, dschema, "w", Seq(0.3).toDF("k"))
    }
    assert(e.getMessage.contains("malformed stats line"), e.getMessage)
    java.nio.file.Files.writeString(statsFile.toPath, orig)
    new java.io.File(dir, "._STATS.crc").delete()

    val schemaFile = new java.io.File(dir, "_SCHEMA")
    java.nio.file.Files.writeString(schemaFile.toPath, "no-header\n")
    new java.io.File(dir, "._SCHEMA.crc").delete()
    val e2 = intercept[IllegalArgumentException] {
      ShardReader.tableSchema(spark, dir)
    }
    assert(e2.getMessage.contains("malformed schema header"), e2.getMessage)
  }

  test("double keys prune under SQL equality: -0.0 finds 0.0 and 0.0 finds -0.0 on every keyed path") {
    // the range test's compare is Spark SQL's: -0.0 = 0.0, NaN = NaN and
    // sorts greatest — a plain IEEE compare misses both zero directions
    val ranges = ShardStats.Stats("w", "double", Map(
      "pos" -> Some(("0.0", "1.0")), "neg" -> Some(("-0.0", "-0.0")),
      "nan" -> Some(("2.0", "NaN"))))
    def probe(k: Double): Set[String] = ShardStats.candidateShardsLocal(
      Some(ranges), org.apache.spark.sql.types.DoubleType, "w", Seq(k),
      Seq("pos", "neg", "nan")).toSet
    assert(probe(-0.0) == Set("pos", "neg"))
    assert(probe(0.0) == Set("pos", "neg"))
    assert(probe(Double.NaN) == Set("nan"))

    val dschema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("w", org.apache.spark.sql.types.DoubleType)))
    Seq(-0.0, 0.0).foreach { k =>
      val dir = java.nio.file.Files.createTempDirectory("graft-stats-zero").toString
      def dappend(rows: Seq[(Long, Double)]): Unit =
        rows.toDF("doc_id", "w").coalesce(1)
          .write.format("graft.sources.v2.ShardSink")
          .option("path", dir).option("statsColumn", "w")
          .mode("append").save()
      dappend(Seq((1L, 0.0), (2L, 1.0)))  // range [0.0, 1.0]
      dappend(Seq((3L, -0.0)))            // range [-0.0, -0.0]
      val zeros = Set(1L, 3L) // SQL: -0.0 = 0.0
      def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
        df.select("doc_id").as[Long].collect().toSet
      // small key set: the driver probe
      assert(ids(ShardReader.readByKey(spark, dir, dschema, "w",
        Seq(k).toDF("k"))) == zeros, s"small path, key $k")
      // over the push bound: the key-frame probe
      val many = (k +: (1000 until 1200).map(_.toDouble)).toDF("k")
      assert(ids(ShardReader.readByKey(spark, dir, dschema, "w", many)) ==
        zeros, s"key-frame path, key $k")
      graft.CacheScope.releaseAll()
      // the V2 scan's plan-time prune
      val v2 = spark.read.format("graft.sources.v2.ShardSink").load(dir)
      assert(ids(v2.filter(col("w") === lit(k))) == zeros, s"V2 scan, key $k")
      assert(ShardDelete.deleteByKey(spark, dir, dschema, "w",
        Seq(k).toDF("k")) == 2L, s"deleteByKey, key $k")
      assert(ids(ShardReader.read(spark, dir, dschema)) == Set(2L))
    }
  }

  test("append commit takes the lock: concurrent maintenance cannot interleave; live holder survives its lease (heartbeat)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-lock-append").toString
    append(dir, Seq((1L, "a")))
    // a held foreign lock blocks even a plain append — the vacuum-vs-
    // append race is closed structurally, not by convention
    val lockFile = new java.io.File(dir, ShardLock.FileName)
    val w = new java.io.PrintWriter(lockFile)
    w.println(s"other-writer\t${System.currentTimeMillis()}"); w.close()
    // commitRetryMs=0: this test pins the LOCK mechanics (fail-fast,
    // nothing published); the retry policy has its own racing-appends spec
    val e = intercept[Exception] {
      Seq((2L, "b")).toDF("doc_id", "text").coalesce(1)
        .write.format("graft.sources.v2.ShardSink")
        .option("path", dir).option("statsColumn", "doc_id")
        .option("commitRetryMs", "0")
        .mode("append").save()
    }
    def chain(t: Throwable): Seq[Throwable] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(8).toSeq
    assert(chain(e).exists(_.isInstanceOf[ShardLock.LockHeldException]),
      chain(e).map(_.getClass.getName).toString)
    assert(lockFile.delete())

    // heartbeat: a LIVE holder with a short lease is not broken by a
    // waiting writer — the mtime refresh makes expiry mean "crashed"
    val holderDone = new java.util.concurrent.CountDownLatch(1)
    val holderStarted = new java.util.concurrent.CountDownLatch(1)
    val holder = new Thread(() => {
      ShardLock.withLock(spark, dir, leaseMs = 2000L) {
        holderStarted.countDown()
        holderDone.await(20, java.util.concurrent.TimeUnit.SECONDS)
      }
    })
    holder.start()
    holderStarted.await(10, java.util.concurrent.TimeUnit.SECONDS)
    Thread.sleep(3000L) // well past the 2 s lease; heartbeat at ~1 s cadence
    val e2 = intercept[ShardLock.LockHeldException] {
      ShardLock.withLock(spark, dir, leaseMs = 2000L) { () }
    }
    assert(e2.getMessage.contains("another writer is running"), e2.getMessage)
    holderDone.countDown()
    holder.join(10000)
    // and after a clean release the lock is free
    ShardLock.withLock(spark, dir, leaseMs = 2000L) { () }
    assert(!lockFile.exists())
  }

  test("readChangesSince: empty feed on no changes; tombstone shape; multi-copy keys return every current copy") {
    val dir = java.nio.file.Files.createTempDirectory("graft-cdc").toString
    append(dir, Seq((1L, "a"), (2L, "b")))
    val v1 = ShardSnapshot.create(spark, dir)
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    // nothing changed yet -> empty feed
    assert(ShardSnapshot.readChangesSince(
      spark, dir, schema, "doc_id", v1).count() == 0L)
    // a historical MULTI-COPY append (same key twice) + a delete
    append(dir, Seq((3L, "c1"), (3L, "c2")))
    assert(ShardDelete.deleteByKey(
      spark, dir, schema, "doc_id", Seq(2L).toDF("k")) == 1L)
    val feed = ShardSnapshot.readChangesSince(
      spark, dir, schema, "doc_id", v1).collect()
    // added key 3 returns BOTH current copies; removed key 2 is one
    // null-filled tombstone; key 1 (unchanged) is absent
    val added = feed.filter(_.getString(2) == "added")
    assert(added.length == 2 && added.forall(_.getLong(0) == 3L))
    assert(added.map(_.getString(1)).toSet == Set("c1", "c2"))
    val removed = feed.filter(_.getString(2) == "removed")
    assert(removed.length == 1 && removed.head.getLong(0) == 2L &&
      removed.head.isNullAt(1))
    assert(!feed.exists(_.getLong(0) == 1L))
    graft.CacheScope.releaseAll()
  }

  test("readChangesSince is null-safe: a null-key group classifies once, its live rows are delivered") {
    val dir = java.nio.file.Files.createTempDirectory("graft-cdc-null").toString
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    def appendRows(rows: Seq[(java.lang.Long, String)]): Unit =
      rows.toDF("doc_id", "text").coalesce(1)
        .write.format("graft.sources.v2.ShardSink")
        .option("path", dir).mode("append").save()
    appendRows(Seq((1L, "a"), (null, "n1")))
    val v1 = ShardSnapshot.create(spark, dir)
    // identical null-key content -> NO change row at all (an equi-join
    // would fabricate a removed + added pair for the null group)
    assert(ShardSnapshot.readChangesSince(
      spark, dir, schema, "doc_id", v1).count() == 0L)
    // new null-key rows: ONE changed group, BOTH live copies delivered
    appendRows(Seq((null, "n2")))
    val feed = ShardSnapshot.readChangesSince(
      spark, dir, schema, "doc_id", v1).collect()
    assert(feed.length == 2, feed.mkString(","))
    assert(feed.forall(r => r.isNullAt(0) && r.getString(2) == "changed"))
    assert(feed.map(_.getString(1)).toSet == Set("n1", "n2"))
    graft.CacheScope.releaseAll()
  }

  test("heartbeat is token-checked: a takeover is never life-extended by its victim; release reports the overlap") {
    val dir = java.nio.file.Files.createTempDirectory("graft-lock-takeover").toString
    val lockFile = new java.io.File(dir, ShardLock.FileName)
    val holderDone = new java.util.concurrent.CountDownLatch(1)
    val holderStarted = new java.util.concurrent.CountDownLatch(1)
    @volatile var releaseError: Throwable = null
    val holder = new Thread(() => {
      try ShardLock.withLock(spark, dir, leaseMs = 2000L) {
        holderStarted.countDown()
        holderDone.await(30, java.util.concurrent.TimeUnit.SECONDS)
      } catch { case t: Throwable => releaseError = t }
    })
    holder.start()
    assert(holderStarted.await(10, java.util.concurrent.TimeUnit.SECONDS))
    // simulate a mid-run takeover: another writer broke our (stalled)
    // lease and re-created the lock with ITS token
    val w = new java.io.PrintWriter(lockFile)
    w.println(s"usurper-token\t${System.currentTimeMillis()}"); w.close()
    new java.io.File(dir, "._LOCK.crc").delete() // raw overwrite: drop stale crc
    val pinned = System.currentTimeMillis() - 5000L
    assert(lockFile.setLastModified(pinned))
    // ≥2 heartbeat periods (leaseMs/3 clamped to 1 s): a blind mtime
    // refresh would advance the usurper's clock; the token-checked
    // heartbeat must leave it untouched so the usurper can still expire
    Thread.sleep(2500L)
    assert(lockFile.lastModified() == pinned,
      "heartbeat refreshed a lock that no longer carries our token")
    // our release must surface the overlap LOUD, and must not delete the
    // usurper's live lock
    holderDone.countDown()
    holder.join(10000)
    assert(releaseError != null, "release swallowed the takeover")
    assert(releaseError.isInstanceOf[ShardLock.LockHeldException] &&
      releaseError.getMessage.contains("another writer took over"),
      s"$releaseError")
    assert(lockFile.exists(), "release deleted a lock that is not ours")
    assert(lockFile.delete())
  }
}
