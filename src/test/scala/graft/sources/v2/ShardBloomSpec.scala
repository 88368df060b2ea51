package graft.sources.v2

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec

/**
 * The `_BLOOM` sidecar contract: per-shard bloom filters prune keyed hit
 * discovery on HASH-DISTRIBUTED keys (content digests) — the key class
 * where min/max ranges prune nothing because every shard spans the whole
 * domain. Verified by the house physical-impossibility argument
 * (non-candidate shards REMOVED from disk, the op succeeds iff pruned),
 * plus: float normalization in the one hashing implementation, driver
 * and key-frame probes agreeing shard-for-shard, strict sidecar parsing, hint-only degradation in every direction (absent
 * entry, saturated filter, bloom-less append on a bloom table), and
 * survival through the copy-on-write maintenance suite.
 */
class ShardBloomSpec extends SparkSpec {
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("digest", StringType), StructField("text", StringType)))

  /** md5-keyed corpus row — the realistic takedown handle. */
  private def row(i: Long): (String, String) =
    (org.apache.commons.codec.digest.DigestUtils.md5Hex(s"doc-$i"), s"text $i")

  private def append(dir: String, rows: Seq[(String, String)],
      bits: Int = 8192): Unit =
    rows.toDF("digest", "text").coalesce(1)
      .write.format("graft.sources.v2.ShardSink")
      .option("path", dir).option("bloomColumn", "digest")
      .option("bloomBits", bits.toString)
      .mode("append").save()

  private def fsDir(dir: String) = {
    val p = new org.apache.hadoop.fs.Path(dir)
    (p.getFileSystem(spark.sessionState.newHadoopConf()), p)
  }

  private def bloomOf(dir: String): ShardBloom.Bloom = {
    val (fs, p) = fsDir(dir)
    ShardBloom.readIfExists(fs, p).get
  }

  test("writer hashing normalizes floats: -0.0/0.0 and every NaN share bloom positions") {
    // the bloom test hashes with the writer's own hash1/positions, so the
    // only contract left to pin is the float normalization that makes a
    // bloom answer agree with SQL equality (-0.0 = 0.0, NaN = NaN)
    def pos(v: Any, dt: DataType): Seq[Int] =
      ShardBloom.positions(ShardBloom.hash1(v, dt), 8192).toSeq
    assert(pos(java.lang.Double.valueOf(-0.0d), DoubleType) ==
      pos(java.lang.Double.valueOf(0.0d), DoubleType))
    assert(pos(java.lang.Float.valueOf(-0.0f), FloatType) ==
      pos(java.lang.Float.valueOf(0.0f), FloatType))
    val otherNaN = java.lang.Double.longBitsToDouble(0x7ff8000000000001L)
    assert(otherNaN.isNaN)
    assert(pos(java.lang.Double.valueOf(otherNaN), DoubleType) ==
      pos(java.lang.Double.valueOf(Double.NaN), DoubleType))
    // distinct values still hash apart
    assert(pos(java.lang.Double.valueOf(1.5d), DoubleType) !=
      pos(java.lang.Double.valueOf(0.0d), DoubleType))
  }

  test("digest-keyed prune: candidates shrink to the hit shards; physical impossibility") {
    val dir = java.nio.file.Files.createTempDirectory("graft-bloom-prune").toString
    // 8 shards x 50 digest-keyed docs; at m=8192/n=50 the FP rate is ~0,
    // so a 3-key takedown should discover <= 3 candidate shards
    (0 until 8).foreach(s => append(dir, (s * 50 until (s + 1) * 50).map(i => row(i.toLong))))
    val b = bloomOf(dir)
    assert(b.column == "digest" && b.tag == "string" &&
      b.mBits == 8192 && b.kHashes == ShardBloom.KHashes)
    assert(b.filters.size == 8 && b.filters.values.forall(_.isDefined))

    // keys planted in shards 1 and 6 (+ one absent digest)
    val keys = Seq(row(60L)._1, row(310L)._1,
      org.apache.commons.codec.digest.DigestUtils.md5Hex("never-written"))
    val cands = ShardDelete.candidateShards(
      spark, dir, schema, "digest", keys.toDF("k"))
    assert(cands.size <= 3, s"bloom did not prune: ${cands.size} of 8")
    assert(cands.nonEmpty)

    // physical impossibility: every NON-candidate shard is removed from
    // disk; the delete succeeds iff discovery never opens one of them
    val all = scala.io.Source.fromFile(s"$dir/_MANIFEST").getLines()
      .filter(_.nonEmpty).map(_.split("\t")(0)).toSeq
    all.filterNot(cands.contains).foreach(n =>
      assert(new java.io.File(dir, n).delete()))
    assert(ShardDelete.deleteByKey(
      spark, dir, schema, "digest", keys.toDF("k")) == 2L)
    // the two hit docs are gone, the others in the hit shards remain
    val left = ShardReader.readByKey(spark, dir, schema, "digest",
      Seq(row(60L)._1, row(61L)._1, row(311L)._1).toDF("k"))
      .select("digest").as[String].collect().toSet
    assert(left == Set(row(61L)._1, row(311L)._1), s"got $left")
  }

  test("readByKey prunes through the bloom; a key matching nothing reads nothing") {
    val dir = java.nio.file.Files.createTempDirectory("graft-bloom-read").toString
    (0 until 6).foreach(s => append(dir, (s * 40 until (s + 1) * 40).map(i => row(i.toLong))))
    val all = scala.io.Source.fromFile(s"$dir/_MANIFEST").getLines()
      .filter(_.nonEmpty).map(_.split("\t")(0)).toSeq
    val key = row(100L)._1 // lives in shard 2
    val cands = ShardDelete.candidateShards(
      spark, dir, schema, "digest", Seq(key).toDF("k"))
    assert(cands.size <= 1 + 1, s"got ${cands.size}") // tiny FP allowance
    // physically remove every non-candidate; the lookup must still work
    all.filterNot(cands.contains).foreach(n =>
      assert(new java.io.File(dir, n).delete()))
    assert(ShardReader.readByKey(spark, dir, schema, "digest",
      Seq(key).toDF("k")).count() == 1L)
    // an absent digest resolves to zero candidates -> empty, zero I/O
    val ghost = org.apache.commons.codec.digest.DigestUtils.md5Hex("ghost")
    assert(ShardReader.readByKey(spark, dir, schema, "digest",
      Seq(ghost).toDF("k")).count() == 0L)
  }

  test("hint-only degradation: bloom-less appends stay candidates; saturation never loses rows") {
    val dir = java.nio.file.Files.createTempDirectory("graft-bloom-mix").toString
    append(dir, (0 until 20).map(i => row(i.toLong)))
    // an append WITHOUT the bloom option on a bloom table is legal: its
    // shard simply has no entry and is always a candidate
    (20 until 40).map(i => row(i.toLong)).toDF("digest", "text").coalesce(1)
      .write.format("graft.sources.v2.ShardSink")
      .option("path", dir).mode("append").save()
    val b = bloomOf(dir)
    assert(b.filters.size == 1, "bloom-less shard must have NO entry")
    // a key in the bloom-less shard is found even though no filter knows it
    val cands = ShardDelete.candidateShards(
      spark, dir, schema, "digest", Seq(row(30L)._1).toDF("k"))
    assert(cands.exists(n => !b.filters.contains(n)),
      "bloom-less shard dropped from candidates — hint became a gate")
    assert(ShardDelete.deleteByKey(
      spark, dir, schema, "digest", Seq(row(30L)._1).toDF("k")) == 1L)

    // saturation: a 64-bit filter over 500 keys answers maybe for
    // everything — degraded to a full scan, never to a wrong answer
    val dir2 = java.nio.file.Files.createTempDirectory("graft-bloom-sat").toString
    (0 until 2).foreach(s =>
      append(dir2, (s * 250 until (s + 1) * 250).map(i => row(i.toLong)), bits = 64))
    assert(ShardDelete.deleteByKey(
      spark, dir2, schema, "digest", Seq(row(7L)._1).toDF("k")) == 1L)
    assert(ShardReader.readEvolved(spark, dir2).count() == 499L)
  }

  test("keys that collapse under the cast cannot fail a true hit shard (distinct AFTER cast)") {
    // long-keyed bloom table, STRING key frame with "5" and "05": both
    // cast to 5L — before the fix the duplicate doubled __got past
    // __need and the true hit shard was silently pruned (missed rows)
    val dir = java.nio.file.Files.createTempDirectory("graft-bloom-cast").toString
    val longSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    (0 until 3).foreach { s =>
      (s * 10 until (s + 1) * 10).map(i => (i.toLong, s"doc $i"))
        .toDF("doc_id", "text").coalesce(1)
        .write.format("graft.sources.v2.ShardSink")
        .option("path", dir).option("bloomColumn", "doc_id")
        .option("bloomBits", "8192").mode("append").save()
    }
    val cands = ShardDelete.candidateShards(
      spark, dir, longSchema, "doc_id", Seq("5", "05").toDF("k"))
    assert(cands.size == 1, s"collapsed-duplicate keys broke the hit: $cands")
    assert(ShardDelete.deleteByKey(
      spark, dir, longSchema, "doc_id", Seq("5", "05").toDF("k")) == 1L)
    assert(ShardReader.readEvolved(spark, dir).count() == 29L)
  }

  test("all-null keys serialize as `-` and are always pruned") {
    val dir = java.nio.file.Files.createTempDirectory("graft-bloom-null").toString
    Seq((null.asInstanceOf[String], "n1"), (null.asInstanceOf[String], "n2"))
      .toDF("digest", "text").coalesce(1)
      .write.format("graft.sources.v2.ShardSink")
      .option("path", dir).option("bloomColumn", "digest")
      .option("bloomBits", "8192").mode("append").save()
    append(dir, Seq(row(1L)))
    val b = bloomOf(dir)
    assert(b.filters.values.toSeq.count(_.isEmpty) == 1)
    val cands = ShardDelete.candidateShards(
      spark, dir, schema, "digest", Seq(row(1L)._1).toDF("k"))
    assert(cands.size == 1, s"all-null shard not pruned: $cands")
  }

  test("bloom column/geometry are table-level: switching either is refused with nothing published") {
    val dir = java.nio.file.Files.createTempDirectory("graft-bloom-compat").toString
    append(dir, Seq(row(1L)))
    val mfBefore = scala.io.Source.fromFile(s"$dir/_MANIFEST").mkString
    // r18 (multi-column sidecars): a bloom on ANOTHER column opens a
    // new SECTION — allowed; the per-COLUMN geometry stays immutable
    Seq(row(2L)).toDF("digest", "text").coalesce(1)
      .write.format("graft.sources.v2.ShardSink")
      .option("path", dir).option("bloomColumn", "text")
      .option("bloomBits", "8192").mode("append").save()
    locally {
      val (fs, p) = fsDir(dir)
      val sections = ShardBloom.readAll(fs, p)
      assert(sections.map(_.column).toSet == Set("digest", "text"))
      // the pre-existing digest section did not lose its entry
      assert(sections.find(_.column == "digest").get.filters.size == 1)
    }
    val mfMid = scala.io.Source.fromFile(s"$dir/_MANIFEST").mkString
    intercept[IllegalArgumentException] {
      append(dir, Seq(row(2L)), bits = 4096) // geometry change: refused
    }
    assert(scala.io.Source.fromFile(s"$dir/_MANIFEST").mkString == mfMid)
    // and a bogus geometry/column is refused at plan time
    intercept[IllegalArgumentException] {
      append(dir, Seq(row(2L)), bits = 63)
    }
    intercept[IllegalArgumentException] {
      Seq(row(2L)).toDF("digest", "text")
        .write.format("graft.sources.v2.ShardSink")
        .option("path", dir).option("bloomColumn", "nope")
        .mode("append").save()
    }
  }

  test("strict parse: malformed header, geometry, payload fail at first sight") {
    val dir = java.nio.file.Files.createTempDirectory("graft-bloom-strict").toString
    append(dir, Seq(row(1L)))
    val f = new java.io.File(dir, "_BLOOM")
    val orig = scala.io.Source.fromFile(f).mkString
    def plant(text: String): Unit = {
      java.nio.file.Files.writeString(f.toPath, text)
      new java.io.File(dir, "._BLOOM.crc").delete()
    }
    plant("not-a-header\n")
    val e1 = intercept[IllegalArgumentException] { bloomOf(dir) }
    assert(e1.getMessage.contains("malformed bloom header"), e1.getMessage)
    plant("#key\tdigest\tstring\t999\t4\nshard\tAAAA\n")
    val e2 = intercept[IllegalArgumentException] { bloomOf(dir) }
    assert(e2.getMessage.contains("malformed bloom geometry"), e2.getMessage)
    plant("#key\tdigest\tstring\t8192\t4\nshard\t%%%%\n")
    val e3 = intercept[IllegalArgumentException] { bloomOf(dir) }
    assert(e3.getMessage.contains("malformed bloom payload"), e3.getMessage)
    plant("#key\tdigest\tstring\t8192\t4\nshard\tAAAA\n")
    val e4 = intercept[IllegalArgumentException] { bloomOf(dir) }
    assert(e4.getMessage.contains("does not match"), e4.getMessage)
    plant(orig)
    assert(bloomOf(dir).filters.size == 1)
  }

  test("maintenance suite preserves the bloom: delete merges, compact re-collects, upsert stays prunable") {
    val dir = java.nio.file.Files.createTempDirectory("graft-bloom-maint").toString
    (0 until 4).foreach(s => append(dir, (s * 30 until (s + 1) * 30).map(i => row(i.toLong))))

    // delete: replaced shards' entries drop, rewritten shards' merge in
    assert(ShardDelete.deleteByKey(
      spark, dir, schema, "digest", Seq(row(10L)._1).toDF("k")) == 1L)
    val b1 = bloomOf(dir)
    assert(b1.filters.size == 4, s"merge lost entries: ${b1.filters.size}")
    // the rewritten shard's filter still knows its surviving keys
    assert(ShardDelete.candidateShards(
      spark, dir, schema, "digest", Seq(row(11L)._1).toDF("k")).size <= 2)

    // compact to 2 shards: bloom re-collected on the new layout
    assert(ShardCompact.compact(spark, dir, schema, targetShards = 2) == 2)
    val b2 = bloomOf(dir)
    assert(b2.filters.size == 2 && b2.mBits == 8192)
    val cands = ShardDelete.candidateShards(
      spark, dir, schema, "digest", Seq(row(50L)._1).toDF("k"))
    assert(cands.size <= 1 + 1)
    assert(ShardReader.readByKey(spark, dir, schema, "digest",
      Seq(row(50L)._1).toDF("k")).count() == 1L)

    // upsert: updated rows land in fresh, still-bloomed shards
    val (rep, ins) = ShardDelete.upsertByKey(spark, dir, schema, "digest",
      Seq((row(50L)._1, "updated"), (row(9999L)._1, "inserted"))
        .toDF("digest", "text"))
    assert(rep == 1L && ins == 1L)
    val b3 = bloomOf(dir)
    assert(ShardReader.readByKey(spark, dir, schema, "digest",
      Seq(row(9999L)._1).toDF("k")).select("text").as[String].head() == "inserted")
    assert(ShardDelete.candidateShards(spark, dir, schema, "digest",
      Seq(row(9999L)._1).toDF("k")).size < b3.filters.size)
  }

  test("stats + bloom compose: candidates are the intersection of both hints") {
    val dir = java.nio.file.Files.createTempDirectory("graft-bloom-both").toString
    def appendBoth(rows: Seq[(Long, String)]): Unit =
      rows.toDF("doc_id", "text").coalesce(1)
        .write.format("graft.sources.v2.ShardSink")
        .option("path", dir)
        .option("statsColumn", "doc_id")
        .option("bloomColumn", "doc_id").option("bloomBits", "8192")
        .mode("append").save()
    val both = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    // shards with OVERLAPPING ranges: [0,100) evens and [1,100) odds —
    // a range prune alone keeps both for any in-range key; the bloom
    // tells them apart
    appendBoth((0L until 100L by 2).map(i => (i, s"even $i")))
    appendBoth((1L until 100L by 2).map(i => (i, s"odd $i")))
    appendBoth((1000L until 1050L).map(i => (i, s"far $i")))
    // key 42: range prune keeps shards 1+2 (overlap), bloom keeps only 1
    val cands = ShardDelete.candidateShards(
      spark, dir, both, "doc_id", Seq(42L).toDF("k"))
    assert(cands.size == 1, s"intersection failed: $cands")
    // key 9999: range prune alone already empties the candidate set
    assert(ShardDelete.candidateShards(
      spark, dir, both, "doc_id", Seq(9999L).toDF("k")).isEmpty)
  }

  /** Spark jobs `body` submits (the listener bus is async: a short
    * wait lets every posted job-start event arrive). */
  private def jobsOf[T](body: => T): (T, Int) = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val r = body
      Thread.sleep(500)
      (r, jobs.get())
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("key-frame probe == driver probe; the driver probe runs zero Spark jobs, the key-frame probe one") {
    // string digests (bloom) AND long ids (stats + bloom): the probe run
    // per key-frame partition must agree shard-for-shard with the probe
    // of the same keys on the driver
    val dirS = java.nio.file.Files.createTempDirectory("graft-bloom-locS").toString
    (0 until 8).foreach(s =>
      append(dirS, (s * 50 until (s + 1) * 50).map(i => row(i.toLong))))
    val (fsS, pS) = fsDir(dirS)
    val (statsS, bloomS) = (ShardStats.readAll(fsS, pS), ShardBloom.readAll(fsS, pS))
    val namesS = scala.io.Source.fromFile(s"$dirS/_MANIFEST").getLines()
      .filter(_.nonEmpty).map(_.split("\t")(0)).toSeq
    val keysS = Seq(row(60L)._1, row(310L)._1,
      org.apache.commons.codec.digest.DigestUtils.md5Hex("never-written"))
    val keyFrameS = keysS.toDF("__k")
    val (loc, locJobs) = jobsOf(ShardPrune.candidateShardsLocal(
      statsS, bloomS, StringType, "digest", keysS, namesS))
    val (frame, frameJobs) = jobsOf(ShardPrune.candidateShards(
      spark, statsS, bloomS, StringType, "digest", keyFrameS, namesS))
    assert(loc == frame, s"driver=$loc key-frame=$frame")
    assert(loc.nonEmpty && loc.size <= 3, s"bloom did not prune: $loc")
    assert(locJobs == 0, s"driver probe submitted $locJobs Spark jobs")
    assert(frameJobs == 1, s"key-frame probe submitted $frameJobs Spark jobs")

    // long keys through stats + bloom intersection — same agreement
    val dirL = java.nio.file.Files.createTempDirectory("graft-bloom-locL").toString
    def appendBoth(rows: Seq[(Long, String)]): Unit =
      rows.toDF("doc_id", "text").coalesce(1)
        .write.format("graft.sources.v2.ShardSink")
        .option("path", dirL).option("statsColumn", "doc_id")
        .option("bloomColumn", "doc_id").option("bloomBits", "8192")
        .mode("append").save()
    appendBoth((0L until 100L by 2).map(i => (i, s"even $i")))
    appendBoth((1L until 100L by 2).map(i => (i, s"odd $i")))
    appendBoth((1000L until 1050L).map(i => (i, s"far $i")))
    val (fsL, pL) = fsDir(dirL)
    val (statsL, bloomL) = (ShardStats.readAll(fsL, pL), ShardBloom.readAll(fsL, pL))
    val namesL = scala.io.Source.fromFile(s"$dirL/_MANIFEST").getLines()
      .filter(_.nonEmpty).map(_.split("\t")(0)).toSeq
    val keyFrameL = Seq(42L, 9999L).toDF("__k")
    val (locL, locLJobs) = jobsOf(ShardPrune.candidateShardsLocal(
      statsL, bloomL, LongType, "doc_id", Seq(42L, 9999L), namesL))
    val (frameL, frameLJobs) = jobsOf(ShardPrune.candidateShards(
      spark, statsL, bloomL, LongType, "doc_id", keyFrameL, namesL))
    assert(locL == frameL && locL.size == 1, s"driver=$locL key-frame=$frameL")
    assert(locLJobs == 0 && frameLJobs == 1, s"jobs: $locLJobs / $frameLJobs")
  }

  test("dense sidecar: the probe keeps the hit shard and prunes a half-dense filter without the key") {
    // Synthetic sidecar: shardA's filter is sparse and CONTAINS the key
    // (must stay a hit); shardB is half-dense but lacks the key's bits;
    // shardC is sparse without the key. Probing a dense filter costs k
    // bit tests like any other, so both B and C are pruned — by the
    // driver probe and by the key-frame probe alike.
    val m = 1 << 23
    val key = "capped-key"
    val pos = ShardBloom.positions(ShardBloom.hash1(
      org.apache.spark.unsafe.types.UTF8String.fromString(key), StringType), m)
    val aBytes = new Array[Byte](m / 8)
    pos.foreach(p => ShardBloom.setBit(aBytes, p))
    val bBytes = Array.fill[Byte](m / 8)(0x33.toByte) // density exactly 0.5
    pos.foreach { p => // clear the key's bits: B is provably not a hit
      bBytes(p >>> 3) = (bBytes(p >>> 3) & ~(1 << (p & 7))).toByte
    }
    val cBytes = new Array[Byte](m / 8)
    ShardBloom.setBit(cBytes, (pos(0) + 1) % m) // one stray bit, no key
    val bloom = ShardBloom.Bloom("k", "string", m, ShardBloom.KHashes,
      Map("A" -> Some(aBytes), "B" -> Some(bBytes), "C" -> Some(cBytes)))
    val local = ShardPrune.candidateShardsLocal(Nil, Seq(bloom), StringType,
      "k", Seq(key), Seq("A", "B", "C"))
    assert(local == Seq("A"), s"got $local")
    val frame = ShardPrune.candidateShards(spark, Nil, Seq(bloom), StringType,
      "k", Seq(key).toDF("__k"), Seq("A", "B", "C"))
    assert(frame == Seq("A"), s"got $frame")
  }

  test("multi-column sidecars: one table prunes on id ranges AND digest blooms; mutators keep every section") {
    val dir = java.nio.file.Files.createTempDirectory("graft-multicol").toString
    val both = StructType(Seq(
      StructField("doc_id", LongType), StructField("ld", StringType)))
    def md5s(i: Long): String =
      org.apache.commons.codec.digest.DigestUtils.md5Hex(s"doc-$i")
    def appendM(rows: Seq[(Long, String)]): Unit =
      rows.toDF("doc_id", "ld").coalesce(1)
        .write.format("graft.sources.v2.ShardSink")
        .option("path", dir)
        .option("statsColumn", "doc_id")
        .option("bloomColumn", "doc_id,ld") // TWO bloom sections
        .option("bloomBits", "8192,16384")  // per-column geometry
        .mode("append").save()
    (0 until 4).foreach(s =>
      appendM((s * 50 until (s + 1) * 50).map(i => (i.toLong, md5s(i.toLong)))))
    val (fs, p) = fsDir(dir)
    assert(ShardBloom.readAll(fs, p).map(b => (b.column, b.mBits)).toSet ==
      Set(("doc_id", 8192), ("ld", 16384)))
    // range+bloom prune on the id; bloom prune on the digest — SAME table
    val byId = ShardDelete.candidateShards(
      spark, dir, both, "doc_id", Seq(5L, 7L).toDF("k"))
    assert(byId.size == 1, s"id prune failed: $byId")
    val byDigest = ShardDelete.candidateShards(
      spark, dir, both, "ld", Seq(md5s(60L), md5s(999999L)).toDF("k"))
    assert(byDigest.size <= 2 && byDigest.nonEmpty, s"digest prune failed: $byDigest")
    // a digest-keyed copy-on-write delete merges EVERY section; the id
    // prune survives it
    assert(ShardDelete.deleteByKey(spark, dir, both, "ld",
      Seq(md5s(60L)).toDF("k")) == 1L)
    assert(ShardBloom.readAll(fs, p).map(_.column).toSet == Set("doc_id", "ld"))
    assert(ShardDelete.candidateShards(
      spark, dir, both, "doc_id", Seq(5L).toDF("k")).size == 1)
    // compaction re-collects every section on the new layout
    assert(ShardCompact.compact(spark, dir, both, targetShards = 2) == 2)
    val after = ShardBloom.readAll(fs, p)
    assert(after.map(_.column).toSet == Set("doc_id", "ld") &&
      after.forall(_.filters.size == 2))
    assert(ShardReader.readByKey(spark, dir, both, "ld",
      Seq(md5s(61L)).toDF("k")).count() == 1L)
    // degradation: a column with NO section anywhere scans everything
    val noSection = ShardDelete.candidateShards(
      spark, dir, both, "ld", Seq("x").toDF("k"))
    assert(noSection.size <= 2) // ld HAS a section; ghost prunes to 0..FP
    val statsOnly = ShardStats.candidateShardsLocal(
      None, LongType, "doc_id", Seq(5L), Seq("a", "b"))
    assert(statsOnly == Seq("a", "b")) // absent sidecar: all candidates
  }

  test("readByKey large-key path evaluates the caller's key pipeline exactly once") {
    // 200 distinct keys (over the 128-key push bound) take the join path
    // with stats AND bloom prunes live: the size probe, the key-frame
    // probe and the final semi-join all read the key frame. Caching must
    // make the (possibly expensive) caller pipeline run once: the
    // accumulator counts UDF invocations, one per key row.
    val dir = java.nio.file.Files.createTempDirectory("graft-read-once").toString
    (0 until 4).foreach { s =>
      (s * 100L until (s + 1) * 100L).map(i => (i, s"text $i"))
        .toDF("doc_id", "text").coalesce(1)
        .write.format("graft.sources.v2.ShardSink")
        .option("path", dir).option("statsColumn", "doc_id")
        .option("bloomColumn", "doc_id").option("bloomBits", "8192")
        .mode("append").save()
    }
    val tbl = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val acc = spark.sparkContext.longAccumulator("keyPipelineEvals")
    val counted = udf((x: Long) => { acc.add(1L); x })
    val keys = spark.range(0L, 200L).select(counted(col("id")).as("k"))
    val out = ShardReader.readByKey(spark, dir, tbl, "doc_id", keys)
    assert(!out.queryExecution.executedPlan.toString.contains("In(doc_id"))
    assert(out.count() == 200L)
    assert(acc.value == 200L,
      s"key pipeline ran ${acc.value / 200.0}× (want exactly 1×)")
    graft.CacheScope.releaseAll()
  }
}
