package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, IOException}
import java.util.zip.{GZIPInputStream, GZIPOutputStream, ZipException}

import org.apache.spark.SparkException
import org.apache.spark.sql.functions.col
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.SparkSpec

class GzipSpec extends SparkSpec {
  import spark.implicits._

  private val propertyGen =
    Gen.stringOf(Gen.frequency(8 -> Gen.asciiPrintableChar, 2 -> Gen.alphaNumChar))

  private def utf8(s: String): Array[Byte] = s.getBytes("UTF-8")

  /** The JDK's own encoder, the byte-identity reference. */
  private def jdkGzip(plain: Array[Byte]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val gz = new GZIPOutputStream(bos)
    try gz.write(plain) finally gz.close()
    bos.toByteArray
  }

  /** The JDK's own decoder: what a fresh `GZIPInputStream` yields. */
  private def jdkGunzip(gzipped: Array[Byte]): Array[Byte] =
    new GZIPInputStream(new ByteArrayInputStream(gzipped)).readAllBytes()

  /** A benchmark-shaped trace payload: a small JSON object of random length. */
  private def tracePayload(rnd: scala.util.Random): Array[Byte] =
    utf8((0 until 1 + rnd.nextInt(8))
      .map(k => s""""f$k": ${rnd.nextInt(100000)}, "s$k": "${rnd.alphanumeric.take(rnd.nextInt(24)).mkString}"""")
      .mkString("{", ", ", "}"))

  private def setIntLE(b: Array[Byte], at: Int, v: Int): Array[Byte] = {
    val c = b.clone()
    (0 until 4).foreach(i => c(at + i) = (v >>> (8 * i)).toByte)
    c
  }

  /** Strict entry point returns `expected`; lenient returns it too. */
  private def decodesOnBoth(gz: Array[Byte], expected: Array[Byte], maxBytes: Long = Long.MaxValue): Unit = {
    assert(GzipCodec.decompress(gz, maxBytes).sameElements(expected))
    val lenient = GzipCodec.decompressOrNull(gz, maxBytes)
    assert(lenient != null && lenient.sameElements(expected))
  }

  /** Strict entry point throws an `E`; lenient returns null. */
  private def rejectedOnBoth[E <: IOException: scala.reflect.ClassTag](
      gz: Array[Byte], maxBytes: Long = Long.MaxValue): E = {
    val e = intercept[E] { GzipCodec.decompress(gz, maxBytes) }
    assert(GzipCodec.decompressOrNull(gz, maxBytes) == null)
    e
  }

  /** Rejected on both entry points, and strict throws what a fresh
    * `GZIPInputStream` throws on the same bytes (class and message). */
  private def rejectedLikeJdk(gz: Array[Byte]): Unit = {
    val jdk = intercept[IOException] { jdkGunzip(gz) }
    val ours = rejectedOnBoth[IOException](gz)
    assert((ours.getClass, ours.getMessage) == ((jdk.getClass, jdk.getMessage)))
  }

  private val threadBeans = java.lang.management.ManagementFactory.getThreadMXBean
    .asInstanceOf[com.sun.management.ThreadMXBean]

  /** Heap bytes the current thread allocates while evaluating `f`. */
  private def allocatedBy(f: => Any): Long = {
    val before = threadBeans.getCurrentThreadAllocatedBytes
    f
    threadBeans.getCurrentThreadAllocatedBytes - before
  }

  private def crc32(b: Array[Byte]): Int = {
    val c = new java.util.zip.CRC32
    c.update(b)
    c.getValue.toInt
  }

  private val plain = utf8("""{"value": 250, "status": "WARN", "temp": 45.5, "pressure": 1.5}""")

  test("codec round-trip: decompress(compress(s)) == s (property, 100 samples)") {
    (0 until 100).foreach { i =>
      val s = propertyGen.pureApply(Gen.Parameters.default, Seed(i.toLong))
      val bytes = s.getBytes("UTF-8")
      assert(GzipCodec.decompress(GzipCodec.compress(bytes)).sameElements(bytes))
    }
  }

  test("codec handles unicode and large payloads") {
    val payloads = Seq("", "héllo wörld ✓ 센서", "x" * 1000000,
      """{"value": 250, "status": "WARN", "temp": 45.5}""")
    payloads.foreach { s =>
      val rt = new String(GzipCodec.decompress(GzipCodec.compress(s.getBytes("UTF-8"))), "UTF-8")
      assert(rt == s)
    }
  }

  test("compress is byte-identical to GZIPOutputStream") {
    val samples = (0 until 100).map(i =>
      utf8(propertyGen.pureApply(Gen.Parameters.default, Seed(i.toLong))))
    val megabyte = new Array[Byte](1 << 20)
    new scala.util.Random(7).nextBytes(megabyte)
    val edge = Seq(Array.emptyByteArray, Array[Byte](42), utf8("héllo wörld ✓ 센서"), megabyte)
    (samples ++ edge).foreach { x =>
      assert(GzipCodec.compress(x).sameElements(jdkGzip(x)), s"${x.length} bytes")
    }
  }

  test("compressString deflates on-heap bytes in place, at any offset, and copies other strings") {
    val bytes = utf8("héllo ✓ {\"k\": 1}")
    val expected = jdkGzip(bytes)
    assert(GzipCodec.compressString(UTF8String.fromBytes(bytes)).sameElements(expected))
    val padded = Array[Byte](9, 9, 9) ++ bytes ++ Array[Byte](9)
    val inner = UTF8String.fromAddress(padded, Platform.BYTE_ARRAY_OFFSET + 3L, bytes.length)
    assert(GzipCodec.compressString(inner).sameElements(expected))
    // Spark's on-heap pages are long[]: such a string is copied out first
    val words = new Array[Long]((bytes.length + 7) / 8)
    Platform.copyMemory(bytes, Platform.BYTE_ARRAY_OFFSET.toLong, words,
      Platform.LONG_ARRAY_OFFSET.toLong, bytes.length.toLong)
    val wordBacked = UTF8String.fromAddress(words, Platform.LONG_ARRAY_OFFSET.toLong, bytes.length)
    assert(GzipCodec.compressString(wordBacked).sameElements(expected))
  }

  test("decode: a header with FNAME set decodes through the general decoder") {
    val gz = GzipCodec.compress(plain)
    val named = gz.take(10).updated(3, 0x08.toByte) ++ utf8("trace.json") ++ Array[Byte](0) ++ gz.drop(10)
    assert(jdkGunzip(named).sameElements(plain))
    decodesOnBoth(named, plain)
  }

  test("decode: concatenated members decode to their concatenation, as GZIPInputStream does") {
    val other = utf8("""{"value": 100, "status": "OK"}""")
    val twoKinds = GzipCodec.compress(plain) ++ GzipCodec.compress(other)
    assert(jdkGunzip(twoKinds).sameElements(plain ++ other))
    decodesOnBoth(twoKinds, plain ++ other)
    // same member twice: the last trailer's size and CRC both match the
    // first member alone, so only the left-over input tells them apart
    val twice = GzipCodec.compress(plain) ++ GzipCodec.compress(plain)
    decodesOnBoth(twice, plain ++ plain)
  }

  test("decode: a rewritten ISIZE is rejected, and a huge one allocates nothing large") {
    val gz = GzipCodec.compress(plain)
    val n = gz.length
    for (isize <- Seq(plain.length - 1, plain.length + 1, 0, 1 << 26, 0x7fffffff))
      rejectedLikeJdk(setIntLE(gz, n - 4, isize))
    // trailers forged so the CRC matches what an ISIZE-sized array would
    // hold: the output cut short, or padded with a zero byte
    val cut = plain.dropRight(1)
    rejectedLikeJdk(setIntLE(setIntLE(gz, n - 8, crc32(cut)), n - 4, cut.length))
    val padded = plain :+ 0.toByte
    rejectedLikeJdk(setIntLE(setIntLE(gz, n - 8, crc32(padded)), n - 4, padded.length))
    for (isize <- Seq(1 << 26, 0x7fffffff)) {
      val lying = setIntLE(gz, n - 4, isize)
      val allocated = allocatedBy(assert(GzipCodec.decompressOrNull(lying) == null))
      assert(allocated < (1L << 20), s"$allocated bytes allocated for a $n-byte payload claiming $isize")
    }
  }

  test("decode: a plain single member inflates into one exact-size array") {
    val rnd = new scala.util.Random(11)
    val payload = utf8((0 until 40).map(_ => rnd.alphanumeric.take(24).mkString).mkString(" "))
    val gz = GzipCodec.compress(payload)
    (0 until 100).foreach(_ => GzipCodec.decompress(gz))
    val perCall = allocatedBy((0 until 100).foreach(_ => GzipCodec.decompress(gz))) / 100
    // the general decoder alone allocates two 8 KiB buffers per call
    assert(perCall < payload.length + 1024, s"$perCall bytes per call for ${payload.length} inflated")
  }

  test("decode: a flipped CRC byte throws ZipException strict, null lenient") {
    val gz = GzipCodec.compress(plain)
    val n = gz.length
    (n - 8 until n - 4).foreach { at =>
      val flipped = gz.updated(at, (gz(at) ^ 0x01).toByte)
      rejectedOnBoth[ZipException](flipped)
      rejectedLikeJdk(flipped)
    }
  }

  test("decode: a truncated trailer throws strict, null lenient") {
    val gz = GzipCodec.compress(plain)
    Seq(1, 4, 7, 8).foreach { cut =>
      rejectedLikeJdk(gz.dropRight(cut))
    }
  }

  test("decode: a member whose deflate stream never ends is rejected, even with a matching trailer") {
    // a sync flush ends the data on a byte boundary without a final block:
    // every byte inflates, all input is used, but the stream is not done
    val deflater = new java.util.zip.Deflater(java.util.zip.Deflater.DEFAULT_COMPRESSION, true)
    val buf = new Array[Byte](1024)
    deflater.setInput(plain)
    val k = deflater.deflate(buf, 0, buf.length, java.util.zip.Deflater.SYNC_FLUSH)
    deflater.end()
    val header = GzipCodec.compress(plain).take(10)
    val open = setIntLE(setIntLE(header ++ buf.take(k) ++ new Array[Byte](8), 10 + k, crc32(plain)),
      14 + k, plain.length)
    rejectedLikeJdk(open)
  }

  test("decode: maxBytes equal to the inflated size is accepted, one byte less is rejected") {
    val gz = GzipCodec.compress(plain)
    decodesOnBoth(gz, plain, maxBytes = plain.length.toLong)
    rejectedOnBoth[IOException](gz, maxBytes = plain.length.toLong - 1)
    decodesOnBoth(GzipCodec.compress(Array.emptyByteArray), Array.emptyByteArray, maxBytes = 0L)
  }

  test("decode: corrupt payloads leave no state behind for the next row on the thread") {
    val gz = GzipCodec.compress(plain)
    // BFINAL=1 with the reserved block type 11: a data-format error mid-inflate
    val badBlock = gz.updated(10, 0x07.toByte)
    // a body cut short: the inflater is left waiting for input
    val shortBody = gz.take(gz.length / 2) ++ gz.takeRight(8)
    val flippedCrc = gz.updated(gz.length - 8, (gz(gz.length - 8) ^ 0x01).toByte)
    for (corrupt <- Seq(badBlock, shortBody, flippedCrc)) {
      intercept[IOException] { GzipCodec.decompress(corrupt) }
      assert(GzipCodec.decompress(gz).sameElements(plain))
      assert(GzipCodec.decompressOrNull(corrupt) == null)
      assert(GzipCodec.decompressOrNull(gz).sameElements(plain))
      // and the next valid row still takes the exact-size path
      val allocated = allocatedBy(GzipCodec.decompress(gz))
      assert(allocated < 1024, s"$allocated bytes to inflate ${plain.length} after a corrupt row")
    }
  }

  test("8 threads interleaving compress and decompress get the single-thread results") {
    val rnd = new scala.util.Random(2024)
    val payloads = Array.fill(5000)(tracePayload(rnd))
    val compressed = payloads.map(GzipCodec.compress)
    payloads.indices.foreach(i => assert(GzipCodec.decompress(compressed(i)).sameElements(payloads(i))))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      val results = (0 until 8).map { t =>
        pool.submit[Boolean] { () =>
          // each thread starts at its own offset so the pool's threads
          // work on different rows at the same moment
          payloads.indices.forall { k =>
            val i = (k + t * 625) % payloads.length
            GzipCodec.compress(payloads(i)).sameElements(compressed(i)) &&
            GzipCodec.decompress(compressed(i)).sameElements(payloads(i))
          }
        }
      }
      assert(results.forall(_.get()))
    } finally pool.shutdownNow()
  }

  test("column round-trip through whole-stage codegen") {
    val df = Seq("a", "bb", "{\"k\": 1}", "é✓").toDF("s")
      .select(col("s"), gunzip_string(gzip_string(col("s"))).as("rt"))
    assert(df.filter(col("s") =!= col("rt")).count() == 0)
  }

  test("null input → null output (null-intolerant expressions)") {
    val df = Seq((1, Option.empty[String]), (2, Some("x"))).toDF("i", "s")
      .select(gunzip_string(gzip_string(col("s"))).as("rt"))
    val rows = df.collect().map(r => Option(r.getString(0)))
    assert(rows.count(_.isEmpty) == 1 && rows.flatten.toSeq == Seq("x"))
  }

  test("corrupt gzip: failOnError=true aborts (reference policy), lenient mode yields null") {
    val corrupt = Seq(Array[Byte](1, 2, 3, 4)).toDF("b")
    intercept[Exception] { // ZipException locally, SparkException from tasks
      corrupt.select(gunzip(col("b"))).collect()
    }
    val lenient = corrupt.select(gunzip(col("b"), failOnError = false)).collect()
    assert(lenient.head.isNullAt(0))
  }

  test("maxBytes bounds the inflated size: strict throws, lenient nulls, under-limit unaffected") {
    // ~1000:1 ratio payload: 8 MiB of zeros gzips to ~8 KiB — the shape of
    // a decompression bomb a 100 TB third-party corpus will contain
    val bomb = GzipCodec.compress(new Array[Byte](8 * 1024 * 1024))
    assert(bomb.length < 64 * 1024)
    // kernel level
    intercept[java.io.IOException] { GzipCodec.decompress(bomb, 1024L * 1024) }
    assert(GzipCodec.decompressOrNull(bomb, 1024L * 1024) == null)
    assert(GzipCodec.decompress(bomb, 16L * 1024 * 1024).length == 8 * 1024 * 1024)
    // column level, through a real scan so codegen carries the limit
    val dir = java.nio.file.Files.createTempDirectory("graft-gz-bomb").toString
    val small = GzipCodec.compress("ok".getBytes("UTF-8"))
    Seq(bomb, small).toDF("gz").write.mode("overwrite").parquet(dir)
    val scanned = spark.read.parquet(dir)
    intercept[Exception] { // SparkException from the failing task
      scanned.select(gunzip(col("gz"), maxBytes = 1024L * 1024)).collect()
    }
    val lenient = scanned
      .select(gunzip_string(col("gz"), failOnError = false, maxBytes = 1024L * 1024).as("rt"))
      .collect().map(r => Option(r.getString(0)))
    assert(lenient.toSet == Set(Some("ok"), None))
  }

  test("lenient gunzip inside WholeStageCodegen: corrupt → null, not NPE") {
    // LocalRelation inputs are folded by ConvertToLocalRelation and never
    // exercise codegen — round 1's lenient-mode codegen bug (isNull never
    // set from the null result) was invisible to the local-only test. A
    // parquet round-trip forces a real scan + generated projection.
    val dir = java.nio.file.Files.createTempDirectory("graft-gz-lenient").toString
    val good = GzipCodec.compress("ok".getBytes("UTF-8"))
    Seq(good, Array[Byte](1, 2, 3, 4)).toDF("gz").write.mode("overwrite").parquet(dir)
    val df = spark.read.parquet(dir)
      .select(gunzip_string(col("gz"), failOnError = false).as("rt"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project"), plan)
    val rows = df.collect().map(r => Option(r.getString(0)))
    assert(rows.toSet == Set(Some("ok"), None))

    val binDf = spark.read.parquet(dir)
      .select(gunzip(col("gz"), failOnError = false).as("rt"))
    val binRows = binDf.collect().map(r => Option(r.get(0)))
    assert(binRows.count(_.isEmpty) == 1)
  }

  test("gunzip stays inside WholeStageCodegen (no fallback in the hot path)") {
    import spark.implicits._
    // pre-compress eagerly so EliminateGzipRoundTrip has nothing to fold —
    // this test is about the DEcompress expression's codegen
    val gzipped = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("text")).as[String].collect()
      .map(t => graft.functions.GzipCodec.compress(t.getBytes("UTF-8")))
    // parquet round-trip: a real scan, so ConvertToLocalRelation can't
    // eagerly evaluate the projection away
    val dir = java.nio.file.Files.createTempDirectory("graft-gz").toString
    gzipped.toSeq.toDF("gz").write.mode("overwrite").parquet(dir)
    val df = spark.read.parquet(dir).select(gunzip_string(col("gz")).as("rt"))
    val plan = df.queryExecution.executedPlan.toString
    // "*(n)" prefix marks operators fused into a WholeStageCodegen stage
    assert(plan.contains("*(1) Project [gunzip_string("), plan)
    assert(df.count() == 500)
  }
}
