package graft.sources.v2

import java.util.Base64

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

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
 * Hashing contract: ONE implementation on both sides. The writer hashes
 * each key with [[org.apache.spark.sql.catalyst.expressions.XxHash64Function]]
 * (seed 42 — the exact function and seed behind Spark's `xxhash64()`
 * column), derives a second hash by chaining the [[Salt]] constant, and
 * sets k=[[KHashes]] bits at `(h1 + i*(h2|1)) mod m` (Kirsch-
 * Mitzenmacher). The read side computes the SAME positions with the
 * `xxhash64` column function — writer and prober cannot drift because
 * they run the same code. Floats are normalized (-0.0 → 0.0, NaN →
 * canonical) on both sides before hashing, matching the join equality
 * the prune must be conservative against. Position arithmetic stays
 * below 2^32 (`(h1 mod m) + i*((h2|1) mod m)`), so it is
 * overflow-free under ANSI evaluation.
 */
private[graft] object ShardBloom {

  val FileName = "_BLOOM"

  /** Write option on [[ShardSink]] that activates bloom collection. */
  val OptionKey = "bloomColumn"

  /** Write option sizing the per-shard filter in bits. */
  val BitsOptionKey = "bloomBits"

  val DefaultBits = 65536
  val KHashes = 4

  /** Seed link for the second hash: h2 = xxhash64(Salt, seed = h1) —
    * expressible on the column side as `xxhash64(key, lit(Salt))`. */
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
    * the key column to the precise written type. */
  def tagFor(dt: DataType): Option[String] = dt match {
    case StringType | LongType | IntegerType | ShortType | ByteType |
        DoubleType | FloatType => Some(ShardSchema.tagOf(dt))
    case _ => None
  }

  // ---- hashing (the writer half; the prober builds the same values
  // ---- with Spark columns — see positionsCol)

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

  /** h2 chains the salt: identical to `xxhash64(key, lit(Salt))`
    * (the expression folds left: hash(Salt: long, seed = h1)). */
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

  /** The SAME k positions as a column expression over a key column of
    * the written type — the prober's half of the hashing contract. */
  def positionsCol(key: Column, dt: DataType, mBits: Int): Seq[Column] = {
    val normed = dt match {
      case DoubleType =>
        when(isnan(key), lit(Double.NaN))
          .when(key === lit(0.0d), lit(0.0d)).otherwise(key)
      case FloatType =>
        when(isnan(key), lit(Float.NaN))
          .when(key === lit(0.0f), lit(0.0f)).otherwise(key)
      case _ => key
    }
    val h1 = xxhash64(normed)
    val h2odd = xxhash64(normed, lit(Salt)).bitwiseOR(lit(1L))
    val a = pmod(h1, lit(mBits.toLong))
    val b = pmod(h2odd, lit(mBits.toLong))
    (0 until KHashes).map(i => pmod(a + lit(i.toLong) * b, lit(mBits.toLong)))
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
   * Bloom-prune `manifested` down to the shards that might contain a
   * key. Fully relational — the key frame is joined, never collected:
   *
   *  1. each key explodes into its (distinct) bit positions — k rows;
   *  2. the driver-parsed filters explode into their SET-bit positions
   *     (bounded by shards × min(m, k·keys-per-shard) — sidecar-sized,
   *     already driver memory by the single-file metadata design);
   *  3. an equi-join on position + a per-(key, shard) count: a shard is
   *     a HIT for a key iff every one of the key's positions is set;
   *  4. distinct hit shards collect (≤ shard count, never data).
   *
   * Shards without a `_BLOOM` entry stay candidates; all-null-key
   * shards (`-`) can never satisfy an equality join and are pruned; an
   * absent / differently-keyed / differently-typed sidecar returns
   * `manifested` unchanged (the safe fallback direction).
   */
  def candidateShards(
      spark: SparkSession,
      fs: FileSystem,
      dir: Path,
      keyType: DataType,
      keyCol: String,
      keys: DataFrame, // one column named __k
      manifested: Seq[String]): Seq[String] =
    candidateShards(spark, readIfExists(fs, dir), keyType, keyCol, keys,
      manifested)

  /** Absolute driver budget for the relational prune's exploded set-bit
    * rows (≈ tens of MB of (name, pos) pairs): the saturation cutoff
    * bounds per-shard DENSITY, not total VOLUME — at 2^26-bit filters ×
    * tens of thousands of shards the explode would be driver-memory
    * bound. Shards past the budget stay scan candidates (the safe
    * direction); the never-collected large key sets that reach this
    * path still get a partial prune from the shards within budget. */
  private[v2] val MaxExplodedSetBits = 1 << 22

  /**
   * Driver-local bloom probe for an ALREADY-BOUNDED key set — the prune
   * [[graft.sources.v2.ShardReader.readByKey]]'s small-key path uses:
   * the keys were collected under the `maxPushKeys` bound, so each is
   * hashed with the writer's own [[hash1]]/[[positions]] code (one
   * implementation, zero drift by construction) and tested against the
   * parsed filter bytes directly — O(#shards × keys × k) bit tests,
   * ZERO Spark jobs, zero per-set-bit row materialization (the
   * relational path's explode is O(#shards × mBits) driver work that a
   * 128-key lookup never needs). `keyVals` are EXTERNAL values already
   * cast to `keyType` (strings as [[String]] — converted to UTF8String
   * here); nulls must be pre-filtered (null never equals). Same hint
   * contract: unusable sidecar → `manifested` unchanged; no entry →
   * candidate; `-` (all-null-key shard) → pruned; saturation needs no
   * special case (probing a dense filter is O(k) and simply answers
   * "maybe").
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
        val keyPos: Seq[Array[Int]] = keyVals.map { v =>
          val internal: Any = keyType match {
            case StringType =>
              org.apache.spark.unsafe.types.UTF8String.fromString(v.toString)
            case _ => v
          }
          positions(hash1(internal, keyType), b.mBits)
        }
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

  /** Same prune over a PRE-PARSED sidecar (see [[ShardStats]]'s twin). */
  def candidateShards(
      spark: SparkSession,
      bloom: Option[Bloom],
      keyType: DataType,
      keyCol: String,
      keys: DataFrame,
      manifested: Seq[String]): Seq[String] = {
    val usable = bloom.filter(b =>
      b.column == keyCol && tagFor(keyType).contains(b.tag) &&
        b.kHashes == KHashes)
    usable match {
      case None => manifested
      case Some(b) =>
        val (withBloom, without0) = manifested.partition(b.filters.contains)
        // SATURATION short-circuit: a filter with most bits set can
        // almost never prune (FP per key ≥ density^k), and exploding its
        // set bits would cost O(m) driver rows for nothing — an
        // undersized bloom must degrade to "this shard is a candidate",
        // never to driver-memory blowup. Density is one popcount pass
        // over the already-parsed bytes.
        val scored = withBloom.map { n =>
          val f = b.filters(n)
          val pop = f.fold(0)(bytes =>
            bytes.iterator.map(x => java.lang.Integer.bitCount(x & 0xff)).sum)
          (n, f, pop)
        }
        val (unsat, saturated) = scored.partition { case (_, f, pop) =>
          f.forall(_ => pop.toDouble / b.mBits <= 0.5) }
        // ABSOLUTE volume budget on top of the density cutoff: explode
        // shards first-come until [[MaxExplodedSetBits]] total set bits,
        // the rest stay candidates — the prune degrades partially, the
        // driver heap never scales with #shards × mBits
        var budget = MaxExplodedSetBits
        val (usableF, overBudget) = unsat.partition { case (_, f, pop) =>
          if (f.isEmpty) true // all-null shard: zero rows, prunes below
          else if (pop <= budget) { budget -= pop; true }
          else false
        }
        val without = without0 ++ saturated.map(_._1) ++ overBudget.map(_._1)
        val present = usableF.flatMap { case (n, f, _) => f.map((n, _)) }
        if (present.isEmpty) without
        else {
          import spark.implicits._
          // (2) set-bit table, built from the already-parsed sidecar
          val setBits = present.flatMap { case (name, bytes) =>
            (0 until b.mBits).iterator
              .filter(p => getBit(bytes, p)).map(p => (name, p.toLong))
          }.toDF("__shard", "__pos")
          // (1) per-key distinct positions + how many a full hit needs —
          // computed BEFORE the explode (no window, no extra exchange);
          // distinct positions because two of the k hashes can collide
          // on one bit, and a hit must then need one fewer match
          val posCols = positionsCol(col("__k").cast(keyType), keyType, b.mBits)
          val keyPos = keys
            .select(col("__k").cast(keyType).as("__k"))
            .na.drop()
            // distinct AFTER the cast: two distinct input keys that
            // collapse to one value under the cast (string "5"/"05"
            // against a long column) would otherwise double __got and
            // make a TRUE hit shard fail the __got === __need equality —
            // a silently pruned shard, the one failure direction this
            // file must never take
            .distinct()
            .withColumn("__parr", array_distinct(array(posCols: _*)))
            .withColumn("__need", size(col("__parr")).cast("long"))
            .withColumn("__pos", explode(col("__parr")))
            .drop("__parr")
          val hit = keyPos
            .join(broadcast(setBits), "__pos")
            .groupBy(col("__k"), col("__shard"), col("__need"))
            .agg(count(lit(1)).as("__got"))
            .filter(col("__got") === col("__need"))
            .select(col("__shard")).distinct()
            .collect().map(_.getString(0)).toSeq // ≤ shard count
          hit ++ without
        }
    }
  }
}

/**
 * Composition of the two pruning hints for keyed maintenance and point
 * lookup: range prune (`_STATS`) first, bloom prune (`_BLOOM`) on the
 * survivors. The intersection of hints is still a hint — each absent /
 * unusable / differently-keyed sidecar passes its input through
 * unchanged, so every degradation direction is "scan more", never
 * "miss a row". On a sequential-id table the ranges do the work; on a
 * digest-keyed table the ranges pass everything and the bloom does.
 */
private[graft] object ShardPrune {
  def candidateShards(
      spark: SparkSession,
      fs: FileSystem,
      dir: Path,
      keyType: DataType,
      keyCol: String,
      keys: DataFrame, // one column named __k
      manifested: Seq[String]): Seq[String] =
    candidateShards(spark,
      ShardStats.readAll(fs, dir).find(_.column == keyCol),
      ShardBloom.readAll(fs, dir).find(_.column == keyCol),
      keyType, keyCol, keys, manifested)

  /** Pre-parsed-sidecar form: one metadata read per mutation, not one
    * per consumer. */
  def candidateShards(
      spark: SparkSession,
      stats: Option[ShardStats.Stats],
      bloom: Option[ShardBloom.Bloom],
      keyType: DataType,
      keyCol: String,
      keys: DataFrame,
      manifested: Seq[String]): Seq[String] = {
    val ranged = ShardStats.candidateShards(
      spark, stats, keyType, keyCol, keys, manifested)
    ShardBloom.candidateShards(
      spark, bloom, keyType, keyCol, keys, ranged)
  }

  /** Driver-local twin for an ALREADY-BOUNDED, already-cast key set:
    * both prunes probe the parsed sidecars directly — ZERO Spark jobs
    * for the whole prune (see [[ShardStats.candidateShardsLocal]] /
    * [[ShardBloom.candidateShardsLocal]]). */
  def candidateShardsLocal(
      fs: FileSystem,
      dir: Path,
      keyType: DataType,
      keyCol: String,
      keyVals: Seq[Any],
      manifested: Seq[String]): Seq[String] = {
    val ranged = ShardStats.candidateShardsLocal(
      ShardStats.readAll(fs, dir).find(_.column == keyCol),
      keyType, keyCol, keyVals, manifested)
    ShardBloom.candidateShardsLocal(
      ShardBloom.readAll(fs, dir).find(_.column == keyCol),
      keyType, keyCol, keyVals, ranged)
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
