package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import java.util.Arrays
import java.util.zip.{CRC32, DataFormatException, Deflater, GZIPInputStream, Inflater, ZipException}

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}

import org.apache.spark.sql.types.{BinaryType, DataType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/**
 * Gzip codec used by the trace pipeline: the reference's per-row
 * `GzipUtil.gzipDecompString` (T1 decompress + T2 UTF-8 decode,
 * util/GzipUtil.java:19-35) and its ingest-side compression
 * (config/DataInitializer.java:81-92). Spark has no built-in gzip scalar
 * function, so these are custom Catalyst expressions with real codegen
 * (a static-method call keeps them inside whole-stage codegen — no
 * CodegenFallback, no interpreted row boundary in the hot path).
 *
 * Rows are small (about 145 gzipped bytes in the trace table), so what a
 * row costs is mostly zlib setup, not inflation: a fresh stream per row
 * means a new native `Inflater`/`Deflater` (with a Cleaner registration;
 * about 256 KiB of native state for deflate), two 8 KiB buffers and a
 * final copy. So no zlib state is created per row:
 *
 *  - Per thread: one raw (`nowrap`) `Inflater`, one raw `Deflater`, one
 *    `CRC32` and a 64 KiB deflate scratch array, each in its own lazy
 *    `ThreadLocal` (a thread that only inflates never allocates deflate
 *    state). Every call `reset()`s what it uses first, so an exception
 *    or a killed task cannot leave stale state for the next row.
 *  - Per row, decode: a single member with the plain 10-byte header
 *    (`1f 8b 08`, FLG = 0) is inflated straight into an array of exactly
 *    ISIZE bytes (the inflated length in the trailer), then CRC-checked —
 *    one allocation, no copy. The array is allocated only when ISIZE is
 *    within `maxBytes` and within deflate's largest possible ratio of the
 *    compressed length, so a lying trailer cannot force a large
 *    allocation; the result is used only if the inflater finishes at
 *    exactly ISIZE with no input left over. Every other input (header
 *    flags, concatenated members, a trailer that disagrees) goes through
 *    [[decompressStreaming]], the one general decoder.
 *  - Per row, encode: the JDK's gzip header, the raw deflate stream into
 *    the thread's scratch array, and the CRC32/ISIZE trailer, copied once
 *    to the exact size — byte-identical to `GZIPOutputStream`.
 *
 * Static JVM methods so generated code can call them directly.
 */
object GzipCodec extends Serializable {
  private final val BufferSize = 8192
  private final val HeaderBytes = 10
  private final val TrailerBytes = 8
  /** deflate's largest expansion: 258 bytes from a 2-bit code, ~1032:1 */
  private final val MaxInflateRatio = 1032L
  private final val MaxArrayBytes = Int.MaxValue - 8
  private final val ScratchBytes = 64 * 1024

  /** `GZIPOutputStream`'s header: magic, CM = deflate, FLG = 0, MTIME = 0,
    * XFL = 0, OS = 255 (unknown). */
  private val Header = Array[Byte](0x1f, 0x8b.toByte, 8, 0, 0, 0, 0, 0, 0, 0xff.toByte)

  private val inflaters = ThreadLocal.withInitial[Inflater](() => new Inflater(true))
  private val deflaters =
    ThreadLocal.withInitial[Deflater](() => new Deflater(Deflater.DEFAULT_COMPRESSION, true))
  private val crcs = ThreadLocal.withInitial[CRC32](() => new CRC32)
  private val scratch = ThreadLocal.withInitial[Array[Byte]](() => new Array[Byte](ScratchBytes))

  def compress(plain: Array[Byte]): Array[Byte] = compress(plain, 0, plain.length)

  private def compress(src: Array[Byte], off: Int, len: Int): Array[Byte] = {
    val deflater = deflaters.get()
    deflater.reset()
    deflater.setInput(src, off, len)
    deflater.finish()
    val crc = crcs.get()
    crc.reset()
    crc.update(src, off, len)
    // room for header + stored-block worst case; grows if ever short
    val estimate = len.toLong + (len >> 12) + 64 + HeaderBytes + TrailerBytes
    var buf =
      if (estimate <= ScratchBytes) scratch.get()
      else new Array[Byte](math.min(estimate, MaxArrayBytes.toLong).toInt)
    System.arraycopy(Header, 0, buf, 0, HeaderBytes)
    var pos = HeaderBytes
    while (!deflater.finished()) {
      if (pos == buf.length) {
        if (buf.length == MaxArrayBytes) throw new OutOfMemoryError("gzip output exceeds the largest array")
        buf = Arrays.copyOf(buf, math.min(buf.length.toLong * 2, MaxArrayBytes.toLong).toInt)
      }
      pos += deflater.deflate(buf, pos, buf.length - pos)
    }
    // drop the reference to `src`: a string's bytes can sit in a whole
    // column batch, which this thread would otherwise keep alive
    deflater.setInput(Array.emptyByteArray)
    val out = Arrays.copyOf(buf, pos + TrailerBytes)
    putIntLE(out, pos, crc.getValue.toInt)
    putIntLE(out, pos + 4, len)
    out
  }

  /** Throws `java.io.IOException` (`ZipException` for corrupt data) on
    * corrupt input — the reference's fail-the-export policy
    * (service/ParquetConversionService.java:109-112).
    *
    * `maxBytes` bounds the INFLATED size: gzip ratios reach ~1000×, so at
    * corpus scale one hostile (or merely pathological) high-ratio payload
    * would otherwise balloon into an executor-killing allocation. The
    * reference never guards (util/GzipUtil.java:19-31 — it only ever
    * inflates its own trusted writes); an engine ingesting 100 TB of
    * third-party bytes must. Strict mode throws (this method); lenient
    * maps oversized, like corrupt, to null. */
  def decompress(gzipped: Array[Byte], maxBytes: Long): Array[Byte] = {
    val exact = inflateExact(gzipped, maxBytes)
    if (exact != null) exact else decompressStreaming(gzipped, maxBytes)
  }

  /** The fast path: a single plain-header member inflated into an array
    * of exactly its trailer's ISIZE. Null when the input is not that
    * shape or the trailer's size disagrees with the stream (the caller
    * then decodes through [[decompressStreaming]]); throws `ZipException`
    * when the stream is corrupt or the CRC32 does not match. */
  private def inflateExact(gzipped: Array[Byte], maxBytes: Long): Array[Byte] = {
    val n = gzipped.length
    if (n < HeaderBytes + TrailerBytes || gzipped(0) != 0x1f || gzipped(1) != 0x8b.toByte ||
        gzipped(2) != 8 || gzipped(3) != 0) return null
    val body = n - HeaderBytes - TrailerBytes
    val isize = getIntLE(gzipped, n - 4) & 0xffffffffL
    if (isize > maxBytes || isize > MaxInflateRatio * body || isize > MaxArrayBytes) return null
    val out = new Array[Byte](isize.toInt)
    val inflater = inflaters.get()
    inflater.reset()
    inflater.setInput(gzipped, HeaderBytes, body)
    try {
      // with all input given, one call inflates until the array is full
      // or the stream ends; zlib reads the final end-of-block code even
      // when the array is full, so a stream not finished here holds more
      // data than the trailer claims, or is cut short
      val filled = inflater.inflate(out)
      if (!inflater.finished() || filled != out.length || inflater.getRemaining != 0) return null
    } catch {
      case e: DataFormatException =>
        val msg = e.getMessage
        throw new ZipException(if (msg != null) msg else "Invalid ZLIB data format")
    }
    val crc = crcs.get()
    crc.reset()
    crc.update(out, 0, out.length)
    if (crc.getValue.toInt != getIntLE(gzipped, n - 8)) throw new ZipException("Corrupt GZIP trailer")
    out
  }

  /** The general decoder: any valid gzip input, concatenated members
    * included, inflated through `GZIPInputStream` in 8 KiB steps; each
    * step is checked against `maxBytes` before it is kept. */
  private def decompressStreaming(gzipped: Array[Byte], maxBytes: Long): Array[Byte] = {
    val in = new GZIPInputStream(new ByteArrayInputStream(gzipped), BufferSize)
    try {
      // initial-capacity hint only (the stream grows as needed): clamp —
      // length * 3 wraps negative past ~715 MB input and a negative
      // capacity would reject a legitimately large payload with an
      // unrelated error instead of the documented maxBytes policy
      val sizeHint = math.min(gzipped.length.toLong * 3 + 64, Int.MaxValue - 8).toInt
      val out = new ByteArrayOutputStream(sizeHint)
      val buf = new Array[Byte](BufferSize)
      var n = in.read(buf)
      while (n >= 0) {
        if (n > 0) {
          if (out.size().toLong + n > maxBytes)
            throw new java.io.IOException(
              s"gzip output exceeds maxBytes=$maxBytes (input ${gzipped.length} bytes)")
          out.write(buf, 0, n)
        }
        n = in.read(buf)
      }
      out.toByteArray
    } finally in.close()
  }

  private def getIntLE(b: Array[Byte], at: Int): Int =
    (b(at) & 0xff) | (b(at + 1) & 0xff) << 8 | (b(at + 2) & 0xff) << 16 | (b(at + 3) & 0xff) << 24

  private def putIntLE(b: Array[Byte], at: Int, v: Int): Unit = {
    b(at) = v.toByte
    b(at + 1) = (v >>> 8).toByte
    b(at + 2) = (v >>> 16).toByte
    b(at + 3) = (v >>> 24).toByte
  }

  def decompress(gzipped: Array[Byte]): Array[Byte] =
    decompress(gzipped, Long.MaxValue)

  /** Lenient variant: corrupt or over-budget input → null (engine-level
    * option the reference lacks; useful for dirty data at scale). */
  def decompressOrNull(gzipped: Array[Byte], maxBytes: Long): Array[Byte] =
    try decompress(gzipped, maxBytes)
    catch { case _: java.io.IOException | _: RuntimeException => null }

  def decompressOrNull(gzipped: Array[Byte]): Array[Byte] =
    decompressOrNull(gzipped, Long.MaxValue)

  def decompressToString(gzipped: Array[Byte], maxBytes: Long): UTF8String =
    UTF8String.fromBytes(decompress(gzipped, maxBytes))

  def decompressToString(gzipped: Array[Byte]): UTF8String =
    decompressToString(gzipped, Long.MaxValue)

  def decompressToStringOrNull(gzipped: Array[Byte], maxBytes: Long): UTF8String = {
    val b = decompressOrNull(gzipped, maxBytes)
    if (b == null) null else UTF8String.fromBytes(b)
  }

  def decompressToStringOrNull(gzipped: Array[Byte]): UTF8String =
    decompressToStringOrNull(gzipped, Long.MaxValue)

  /** Deflates the string's UTF-8 bytes in place when they live in an
    * on-heap byte array (no `getBytes` copy); off-heap or word-array
    * backed strings are copied out first. */
  def compressString(s: UTF8String): Array[Byte] = s.getBaseObject match {
    case a: Array[Byte] =>
      compress(a, (s.getBaseOffset - Platform.BYTE_ARRAY_OFFSET).toInt, s.numBytes)
    case _ => compress(s.getBytes)
  }
}

/** Base for the unary byte-codec expressions: null-safe, codegen via a
  * static call into [[GzipCodec]]. Declares input types so the analyzer
  * casts or rejects mismatched arguments (SQL-registered functions would
  * otherwise reach the kernels with arbitrary child types). */
abstract class GzipUnaryExpression extends UnaryExpression with ImplicitCastInputTypes {
  override def nullIntolerant: Boolean = true
  override def inputTypes: Seq[org.apache.spark.sql.graftbridge.CatalystBridge.AbstractType] = Seq(BinaryType)
  /** fully-qualified static method on GzipCodec the codegen calls */
  protected def staticMethod: String
  /** true when `staticMethod` maps corrupt input to null (failOnError=false) */
  protected def lenient: Boolean = false
  /** extra literal arguments appended to the static call (e.g. maxBytes) */
  protected def extraArgs: String = ""

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    if (!lenient) {
      defineCodeGen(ctx, ev, c => s"graft.functions.GzipCodec.$staticMethod($c$extraArgs)")
    } else {
      // defineCodeGen never re-checks ev.isNull after the call, so a
      // null-on-corrupt result would flow through whole-stage codegen as a
      // non-null null (NPE in the consumer). The lenient variants must set
      // isNull from the returned value explicitly.
      nullSafeCodeGen(ctx, ev, c =>
        s"""
           |${ev.value} = graft.functions.GzipCodec.$staticMethod($c$extraArgs);
           |${ev.isNull} = ${ev.value} == null;
         """.stripMargin)
    }
}

/** gzip-decompress: binary → binary. failOnError=true mirrors the
  * reference's abort-on-corrupt-row semantics; `maxBytes` bounds the
  * inflated size (strict → throw, lenient → null, like corrupt input). */
case class GzipDecompress(
    child: Expression,
    failOnError: Boolean = true,
    maxBytes: Long = Long.MaxValue)
    extends GzipUnaryExpression {
  override def dataType: DataType = BinaryType
  override protected def staticMethod: String =
    if (failOnError) "decompress" else "decompressOrNull"
  override protected def lenient: Boolean = !failOnError
  override protected def extraArgs: String = s", ${maxBytes}L"
  override def nullable: Boolean = child.nullable || !failOnError
  override protected def nullSafeEval(v: Any): Any =
    if (failOnError) GzipCodec.decompress(v.asInstanceOf[Array[Byte]], maxBytes)
    else GzipCodec.decompressOrNull(v.asInstanceOf[Array[Byte]], maxBytes)
  override def prettyName: String = "gunzip"
  override protected def withNewChildInternal(c: Expression): GzipDecompress = copy(child = c)
}

/** gzip-decompress + UTF-8 decode in one expression: binary → string.
  * Fuses the reference's T1+T2 (GzipUtil.gzipDecompString). */
case class GzipDecompressToString(
    child: Expression,
    failOnError: Boolean = true,
    maxBytes: Long = Long.MaxValue)
    extends GzipUnaryExpression {
  override def dataType: DataType = StringType
  override protected def staticMethod: String =
    if (failOnError) "decompressToString" else "decompressToStringOrNull"
  override protected def lenient: Boolean = !failOnError
  override protected def extraArgs: String = s", ${maxBytes}L"
  override def nullable: Boolean = child.nullable || !failOnError
  override protected def nullSafeEval(v: Any): Any =
    if (failOnError) GzipCodec.decompressToString(v.asInstanceOf[Array[Byte]], maxBytes)
    else GzipCodec.decompressToStringOrNull(v.asInstanceOf[Array[Byte]], maxBytes)
  override def prettyName: String = "gunzip_string"
  override protected def withNewChildInternal(c: Expression): GzipDecompressToString = copy(child = c)
}

/** gzip-compress: binary → binary (ingest path, reference W1). */
case class GzipCompress(child: Expression) extends GzipUnaryExpression {
  override def dataType: DataType = BinaryType
  override protected def staticMethod: String = "compress"
  override protected def nullSafeEval(v: Any): Any =
    GzipCodec.compress(v.asInstanceOf[Array[Byte]])
  override def prettyName: String = "gzip"
  override protected def withNewChildInternal(c: Expression): GzipCompress = copy(child = c)
}

/** gzip-compress a string column's UTF-8 bytes: string → binary. */
case class GzipCompressString(child: Expression) extends GzipUnaryExpression {
  override def inputTypes: Seq[org.apache.spark.sql.graftbridge.CatalystBridge.AbstractType] = Seq(StringType)
  override def dataType: DataType = BinaryType
  override protected def staticMethod: String = "compressString"
  override protected def nullSafeEval(v: Any): Any =
    GzipCodec.compressString(v.asInstanceOf[UTF8String])
  override def prettyName: String = "gzip_string"
  override protected def withNewChildInternal(c: Expression): GzipCompressString = copy(child = c)
}
