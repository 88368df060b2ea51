package graft.sources.v2

import java.util.Base64

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/**
 * Per-shard key BLOOM sidecar (`_BLOOM`) for [[ShardSink]] tables — the
 * data-skipping increment for HASH-DISTRIBUTED keys, the class the
 * `_STATS` min/max ranges ([[ShardStats]]) cannot prune: the store's own
 * dedup/admission machinery keys rows by content digest
 * ([[graft.operators.Dedup.exactByFingerprint]] — md5, uniformly
 * distributed), so every shard's [min,max] spans the whole key domain
 * and a digest-keyed takedown silently degrades to a full-table scan.
 * With a per-shard bloom, hit discovery asks each shard "could this
 * digest be in you?" and reads only the shards that answer maybe — the
 * Delta/Parquet bloom-filter-index shape, re-expressed on the house
 * sidecar contract.
 *
 * Activated by the [[ShardSink]] write option `bloomColumn=<col>`
 * (independent of `statsColumn`; a table can carry both — ranges prune
 * sequential keys, blooms prune hashed ones, and the candidate set is
 * the intersection of the two hints). `bloomBits` sizes the per-shard
 * filter (default 65536 = 8 KiB; ~10 bits per expected keys-per-shard
 * gives ~1% false-positive rate — an UNDERSIZED bloom saturates and
 * degrades to "every shard is a candidate", never to a wrong prune).
 *
 * Format (strict, like [[ShardManifest]]/[[ShardStats]] — malformed
 * lines fail at first sight, never laundered forward):
 *
 *   #key\t<column>\t<tag>\t<mBits>\t<kHashes>   one header line
 *   <shard>\t<b64 filter bytes>                 one line per shard;
 *                                               the literal `-` marks an
 *                                               all-null-key shard (can
 *                                               never satisfy an
 *                                               equality join — always
 *                                               pruned)
 *
 * Publication is the same atomic staged-rename as the manifest, written
 * AFTER it in the sink's commit: a crash between the two leaves fresh
 * shards manifested but bloom-less — un-pruned scan candidates, never a
 * wrong prune.
 *
 * CORRECTNESS INVARIANT (same as `_STATS`): the bloom is a PRUNING HINT
 * only. A shard in `_MANIFEST` but absent from `_BLOOM` is ALWAYS a
 * candidate; a `_BLOOM` entry for an un-manifested shard is dead
 * weight, never an error; a sidecar keyed on a different column / type
 * / geometry than the query is ignored wholesale. Every degradation
 * direction is "scan more", never "miss a row".
 *
 * Hashing contract: ONE implementation, the writer's. Each key is hashed
 * with [[org.apache.spark.sql.catalyst.expressions.XxHash64Function]]
 * (seed 42, the function behind Spark's `xxhash64()`), a second hash
 * chains the [[Salt]] constant, and k=[[KHashes]] bits are set at
 * `(h1 + i*(h2|1)) mod m` (Kirsch-Mitzenmacher). The prober
 * ([[candidateShardsLocal]], on the driver or per key-frame partition)
 * calls the same [[hash1]]/[[positions]], so writer and prober cannot
 * drift. Floats are normalized (-0.0 → 0.0, NaN → canonical) before
 * hashing, matching the SQL equality the prune must be conservative
 * against. Position arithmetic stays below 2^32
 * (`(h1 mod m) + i*((h2|1) mod m)`), so it cannot overflow.
 */
private[graft] object ShardBloom {

  val FileName = "_BLOOM"

  /** Write option on [[ShardSink]] that activates bloom collection. */
  val OptionKey = "bloomColumn"

  /** Write option sizing the per-shard filter in bits. */
  val BitsOptionKey = "bloomBits"

  val DefaultBits = 65536
  val KHashes = 4

  /** Seed link for the second hash: h2 = xxhash64(Salt, seed = h1). */
  val Salt = 0x5f4a7c15L

  private val NullMarker = "-"

  final case class Bloom(
      column: String,
      tag: String,
      mBits: Int,
      kHashes: Int,
      filters: Map[String, Option[Array[Byte]]])

  /** The bloom tag for a column type; None = unsupported (boolean has a
    * two-value domain — a bloom is meaningless). Tags are the EXACT
    * [[ShardSchema]] tags, not the stats-collapsed ones: xxhash64 of an
    * int and of the same value as long differ, so the prober must cast
    * the keys to the precise written type. */
  def tagFor(dt: DataType): Option[String] = dt match {
    case StringType | LongType | IntegerType | ShortType | ByteType |
        DoubleType | FloatType => Some(ShardSchema.tagOf(dt))
    case _ => None
  }

  // ---- hashing (one implementation: the writer and the prober)

  private val xx = org.apache.spark.sql.catalyst.expressions.XxHash64Function

  /** h1 for one key value (Catalyst-internal representation: UTF8String
    * for strings, primitives otherwise), normalized floats. Seed 42 =
    * the `xxhash64()` column default. */
  def hash1(value: Any, dt: DataType): Long = {
    val norm: Any = value match {
      case d: java.lang.Double =>
        if (d.isNaN) java.lang.Double.valueOf(Double.NaN)
        else if (d.doubleValue() == 0.0d) java.lang.Double.valueOf(0.0d)
        else d
      case f: java.lang.Float =>
        if (f.isNaN) java.lang.Float.valueOf(Float.NaN)
        else if (f.floatValue() == 0.0f) java.lang.Float.valueOf(0.0f)
        else f
      case other => other
    }
    xx.hash(norm, dt, 42L)
  }

  /** h2 chains the salt: hash(Salt: long, seed = h1). */
  def hash2(h1: Long): Long =
    xx.hash(java.lang.Long.valueOf(Salt), LongType, h1)

  /** The k bit positions for one key — overflow-free arithmetic. */
  def positions(h1: Long, mBits: Int): Array[Int] = {
    val h2odd = hash2(h1) | 1L
    val a = java.lang.Math.floorMod(h1, mBits.toLong)
    val b = java.lang.Math.floorMod(h2odd, mBits.toLong)
    Array.tabulate(KHashes)(i =>
      java.lang.Math.floorMod(a + i.toLong * b, mBits.toLong).toInt)
  }

  def setBit(bits: Array[Byte], pos: Int): Unit =
    bits(pos >>> 3) = (bits(pos >>> 3) | (1 << (pos & 7))).toByte

  def getBit(bits: Array[Byte], pos: Int): Boolean =
    (bits(pos >>> 3) & (1 << (pos & 7))) != 0

  // ---- sidecar (de)serialization — strict, staged-rename publish

  def serialize(b: Bloom): String = {
    val sb = new StringBuilder
    sb.append(s"#key\t${b.column}\t${b.tag}\t${b.mBits}\t${b.kHashes}\n")
    b.filters.toSeq.sortBy(_._1).foreach {
      case (name, Some(bytes)) =>
        sb.append(s"$name\t${Base64.getEncoder.encodeToString(bytes)}\n")
      case (name, None) =>
        sb.append(s"$name\t$NullMarker\n")
    }
    sb.toString
  }

  /** Multi-column form (r18): one SECTION per column, each with its
    * own header and geometry — a single-section file is byte-identical
    * to the pre-r18 format. Section order preserved as given
    * ([[ShardStats.serializeAll]]'s first-configured-column rationale). */
  def serializeAll(sections: Seq[Bloom]): String = {
    require(sections.map(_.column).distinct.size == sections.size,
      s"duplicate bloom sections: ${sections.map(_.column).mkString(",")}")
    sections.map(serialize).mkString
  }

  def parse(text: String, where: Path): Bloom = {
    val all = parseAll(text, where)
    require(all.size == 1,
      s"expected a single bloom section in $where, found ${all.size}")
    all.head
  }

  def parseAll(text: String, where: Path): Seq[Bloom] = {
    val lines = text.linesIterator.filter(_.nonEmpty).toSeq
    require(lines.nonEmpty && lines.head.startsWith("#key\t"),
      s"malformed bloom header in $where: ${lines.headOption.getOrElse("<empty>")}")
    val sections = Seq.newBuilder[Bloom]
    var header: Array[String] = null
    var m = 0; var k = 0
    var filters = Map.newBuilder[String, Option[Array[Byte]]]
    def flush(): Unit = if (header != null) {
      sections += Bloom(header(1), header(2), m, k, filters.result())
      filters = Map.newBuilder
    }
    lines.foreach { line =>
      if (line.startsWith("#key\t")) {
        flush()
        header = line.split('\t')
        require(header.length == 5, s"malformed bloom header in $where: $line")
        val mk = try (header(3).toInt, header(4).toInt) catch {
          case _: NumberFormatException => throw new IllegalArgumentException(
            s"malformed bloom geometry in $where: $line")
        }
        m = mk._1; k = mk._2
        require(m > 0 && m % 8 == 0 && k > 0,
          s"malformed bloom geometry in $where: m=$m k=$k")
      } else {
        val tab = line.indexOf('\t')
        require(tab > 0 && line.indexOf('\t', tab + 1) < 0,
          s"malformed bloom line in $where: $line")
        val payload = line.substring(tab + 1)
        val filter =
          if (payload == NullMarker) None
          else {
            val bytes = try Base64.getDecoder.decode(payload) catch {
              case _: IllegalArgumentException =>
                throw new IllegalArgumentException(
                  s"malformed bloom payload in $where: $line")
            }
            require(bytes.length == m / 8,
              s"bloom payload of ${bytes.length} bytes does not match " +
                s"m=$m bits in $where: ${line.substring(0, tab)}")
            Some(bytes)
          }
        filters += ((line.substring(0, tab), filter))
      }
    }
    flush()
    sections.result()
  }

  def bloomPath(dir: Path): Path = new Path(dir, FileName)

  /** All sections of the sidecar (empty when absent). */
  def readAll(fs: FileSystem, dir: Path): Seq[Bloom] =
    ShardPublish.readTextIfExists(fs, bloomPath(dir))
      .fold(Seq.empty[Bloom])(parseAll(_, bloomPath(dir)))

  /** The FIRST section — the whole sidecar on a single-column table.
    * Multi-column-aware prune paths use [[readAll]] + a column find. */
  def readIfExists(fs: FileSystem, dir: Path): Option[Bloom] =
    readAll(fs, dir).headOption

  def writeAllAtomic(
      conf: Configuration, fs: FileSystem, dir: Path,
      sections: Seq[Bloom]): Unit =
    ShardPublish.writeAtomic(conf, fs, bloomPath(dir), serializeAll(sections))

  /**
   * The bloom test — the ONE implementation, shared by the driver probe
   * and the key-frame probe ([[ShardPrune]] composes it with the range
   * test): each key is hashed with the writer's own [[hash1]]/
   * [[positions]] and tested against the parsed filter bytes,
   * O(#shards × keys × k) bit tests. `keyVals` are already cast to
   * `keyType`, external or Catalyst-internal (strings as [[String]] or
   * UTF8String); nulls must be pre-filtered (null never equals). Hint
   * contract: an absent / differently-keyed / differently-typed sidecar
   * returns `manifested` unchanged; no entry → candidate; `-` (all-null-
   * key shard) → pruned; a saturated filter needs no special case (it
   * simply answers "maybe"). Result order is `manifested`'s.
   */
  def candidateShardsLocal(
      bloom: Option[Bloom],
      keyType: DataType,
      keyCol: String,
      keyVals: Seq[Any],
      manifested: Seq[String]): Seq[String] = {
    val usable = bloom.filter(b =>
      b.column == keyCol && tagFor(keyType).contains(b.tag) &&
        b.kHashes == KHashes)
    usable match {
      case None => manifested
      case Some(b) =>
        val keyPos: Seq[Array[Int]] = keyVals.map(v => positions(
          hash1(ShardRowReader.toComparable(v, keyType), keyType), b.mBits))
        manifested.filter { n =>
          b.filters.get(n) match {
            case None => true        // no sidecar entry: always a candidate
            case Some(None) => false // all-null-key shard: never a hit
            case Some(Some(bytes)) =>
              keyPos.exists(ps => ps.forall(p => getBit(bytes, p)))
          }
        }
    }
  }
}

/**
 * The one shard-prune probe for keyed maintenance, point lookup and the
 * V2 scan: "may this shard hold one of these keys?", answered by the
 * `_STATS` range test ([[ShardStats.candidateShardsLocal]]) and the
 * `_BLOOM` test ([[ShardBloom.candidateShardsLocal]]), composed once
 * ([[compose]]) as
 *
 *   (range hits ∪ shards with no stats entry)
 *     ∩ (bloom hits ∪ shards with no bloom entry).
 *
 * The intersection of hints is still a hint — each absent / unusable /
 * differently-keyed sidecar passes its input through unchanged, so
 * every degradation direction is "scan more", never "miss a row". On a
 * sequential-id table the ranges do the work; on a digest-keyed table
 * the ranges pass everything and the bloom does.
 *
 * Two forms of the same function: [[candidateShardsLocal]] probes a
 * bounded key set already on the driver (zero Spark jobs), and
 * [[candidateShards]] probes a key frame per partition on the executors
 * (one job, a collect bounded by the shard count).
 */
private[graft] object ShardPrune {

  /** Keys per probe call on an executor: bounds the memory a partition
    * holds while its hits shrink the shards left to probe. */
  private val ProbeBatch = 4096

  /** Each sidecar's candidates among its own shard list, for one batch. */
  private def hints(
      stats: Option[ShardStats.Stats],
      bloom: Option[ShardBloom.Bloom],
      keyType: DataType,
      keyCol: String,
      keyVals: Seq[Any],
      ranged: Seq[String],
      bloomed: Seq[String]): (Seq[String], Seq[String]) =
    (ShardStats.candidateShardsLocal(stats, keyType, keyCol, keyVals, ranged),
      ShardBloom.candidateShardsLocal(bloom, keyType, keyCol, keyVals, bloomed))

  /** The composition, in `manifested` order. */
  private def compose(
      manifested: Seq[String], ranged: Set[String], bloomed: Set[String])
      : Seq[String] =
    manifested.filter(n => ranged(n) && bloomed(n))

  /** Driver probe of an ALREADY-BOUNDED key set, cast to `keyType`
    * (see [[ShardStats.candidateShardsLocal]] for the value forms):
    * zero Spark jobs. */
  def candidateShardsLocal(
      stats: Seq[ShardStats.Stats],
      bloom: Seq[ShardBloom.Bloom],
      keyType: DataType,
      keyCol: String,
      keyVals: Seq[Any],
      manifested: Seq[String]): Seq[String] = {
    val (r, b) = hints(stats.find(_.column == keyCol),
      bloom.find(_.column == keyCol), keyType, keyCol, keyVals,
      manifested, manifested)
    compose(manifested, r.toSet, b.toSet)
  }

  /**
   * Key-frame probe: the same tests over `keys` (one column, any type
   * that casts to `keyType`; never collected). Shards each test keeps
   * for ANY key set (no entry, unusable sidecar) are settled on the
   * driver; the rest are probed per partition over the Catalyst-internal
   * cast values, with the parsed sidecars shipped once as a broadcast.
   * Each partition returns its range and bloom hits separately, so the
   * driver unions them before composing — the result is exactly
   * [[candidateShardsLocal]] over the whole key set. One Spark job (plus
   * whatever `keys`' own plan needs), none when nothing is left to
   * probe.
   */
  def candidateShards(
      spark: SparkSession,
      stats: Seq[ShardStats.Stats],
      bloom: Seq[ShardBloom.Bloom],
      keyType: DataType,
      keyCol: String,
      keys: DataFrame,
      manifested: Seq[String]): Seq[String] = {
    val st = stats.find(_.column == keyCol)
    val bl = bloom.find(_.column == keyCol)
    val (r0, b0) = hints(st, bl, keyType, keyCol, Nil, manifested, manifested)
      match { case (r, b) => (r.toSet, b.toSet) }
    val open = manifested.filterNot(n => r0(n) && b0(n))
    if (open.isEmpty) return manifested
    val openR = open.filterNot(r0)
    val openB = open.filterNot(b0)
    val bc = spark.sparkContext.broadcast((st, bl))
    val parts = try keys.select(keys.col(keys.columns.head).cast(keyType))
      .queryExecution.toRdd.mapPartitions { rows =>
        val (s, b) = bc.value
        var (leftR, leftB) = (openR, openB)
        val hitR, hitB = Seq.newBuilder[String]
        rows.filter(!_.isNullAt(0))
          .map(_.get(0, keyType) match {
            case u: UTF8String => u.clone() // the row buffer is reused
            case v => v
          })
          .grouped(ProbeBatch)
          .takeWhile(_ => leftR.nonEmpty || leftB.nonEmpty)
          .foreach { batch =>
            val (r, h) = hints(s, b, keyType, keyCol, batch.toSeq, leftR, leftB)
            hitR ++= r; hitB ++= h
            leftR = leftR.filterNot(r.toSet); leftB = leftB.filterNot(h.toSet)
          }
        Iterator((hitR.result(), hitB.result()))
      }.collect() // one (range, bloom) hit pair per partition: ≤ shard count
    finally bc.destroy()
    compose(manifested, r0 ++ parts.flatMap(_._1), b0 ++ parts.flatMap(_._2))
  }
}

/**
 * Executor-side bloom builder for one shard's key column — lives in
 * [[ShardDataWriter]], one per task (the [[ShardStatsTracker]] twin).
 * Values are hashed immediately ([[ShardBloom.hash1]] — the exact
 * `xxhash64()` code path), nothing retained, so no UTF8String buffer
 * cloning is needed. [[result]] is None when every key was null (the
 * `-` sidecar marker — such a shard can never satisfy an equality join
 * and is always pruned).
 */
private[v2] final class ShardBloomTracker(dt: DataType, mBits: Int)
    extends Serializable {
  private val bits = new Array[Byte](mBits / 8)
  private var seen = false

  def update(value: Any): Unit = {
    seen = true
    val h1 = ShardBloom.hash1(value, dt)
    ShardBloom.positions(h1, mBits).foreach(p => ShardBloom.setBit(bits, p))
  }

  def result: Option[Array[Byte]] = if (seen) Some(bits) else None
}
