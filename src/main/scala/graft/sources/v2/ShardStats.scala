package graft.sources.v2

import java.nio.charset.StandardCharsets
import java.util.Base64

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/**
 * Per-shard key statistics sidecar (`_STATS`) for [[ShardSink]] tables —
 * the data-skipping increment the keyed-maintenance operators need at
 * scale: without it, [[ShardDelete.deleteByKey]]/[[ShardDelete.upsertByKey]]
 * discover their hit shards by scanning EVERY manifested shard, so a
 * 5-id takedown on a 100 TB table reads 100 TB. With it, hit discovery
 * tests the key set against the ≤-file-count shard ranges
 * ([[candidateShardsLocal]], run by [[ShardPrune]]) — zero data files
 * read for shards whose [min,max] cannot contain any key (the
 * Delta/Iceberg min-max skipping shape, re-expressed on the house
 * manifest contract).
 *
 * Format (strict, like [[ShardManifest]] — malformed lines fail at first
 * sight, never laundered forward):
 *
 *   #key\t<column>\t<dtype>          one header line; dtype ∈ long|double|string
 *   <shard>\t<b64min>\t<b64max>      one line per shard (base64 of the value's
 *                                    canonical string; the literal `-\t-`
 *                                    marks an all-null-key shard)
 *
 * Publication is the same atomic staged-rename as the manifest.
 *
 * CORRECTNESS INVARIANT: readers of `_STATS` must treat it as a pruning
 * hint only — a shard present in `_MANIFEST` but absent from `_STATS`
 * (appended without the `statsColumn` option, or by an older writer) is
 * ALWAYS a scan candidate, and a `_STATS` entry for a shard no longer
 * manifested is dead weight, never an error. Both directions degrade to
 * the pre-stats full scan, never to a wrong answer.
 *
 * Ordering contract: the range test compares keys with Spark SQL's own
 * orderings — signed integral, UTF8String binary for strings, and
 * [[SQLOrderingUtil.compareDoubles]] for doubles, under which `-0.0`
 * equals `0.0` and NaN equals NaN and sorts greatest, exactly as SQL
 * `=` does. The writer tracks min/max with the same string ordering and
 * IEEE order for doubles ([[java.lang.Double.compare]]), which only
 * splits what SQL merges (the two zeros), so every value SQL-equal to a
 * stored one lies inside the recorded range and a string key never
 * slips between a Java-`compareTo` writer and a UTF8String reader.
 */
private[graft] object ShardStats {

  val FileName = "_STATS"

  /** Write option on [[ShardSink]] that activates stats collection. */
  val OptionKey = "statsColumn"

  private val NullMarker = "-"

  final case class Stats(
      column: String,
      dtype: String,
      ranges: Map[String, Option[(String, String)]])

  /** The stats dtype tag for a column type; None = type unsupported for
    * stats (booleans have no useful range; everything else the sink can
    * write is rangeable). */
  def dtypeTag(dt: DataType): Option[String] = dt match {
    case LongType | IntegerType | ShortType | ByteType => Some("long")
    case DoubleType | FloatType => Some("double")
    case StringType => Some("string")
    case _ => None
  }

  private def b64(s: String): String =
    Base64.getEncoder.encodeToString(s.getBytes(StandardCharsets.UTF_8))
  private def unb64(s: String): String =
    new String(Base64.getDecoder.decode(s), StandardCharsets.UTF_8)

  def serialize(stats: Stats): String = {
    val sb = new StringBuilder
    sb.append(s"#key\t${stats.column}\t${stats.dtype}\n")
    stats.ranges.toSeq.sortBy(_._1).foreach {
      case (name, Some((mn, mx))) =>
        sb.append(s"$name\t${b64(mn)}\t${b64(mx)}\n")
      case (name, None) =>
        sb.append(s"$name\t$NullMarker\t$NullMarker\n")
    }
    sb.toString
  }

  /** Multi-column form (r18): one SECTION per column, each opened by
    * its own `#key` header — a single-section file is byte-identical
    * to the pre-r18 format, so every existing table reads unchanged.
    * Section ORDER is preserved as given (never sorted): the FIRST
    * section is the table's first-configured column — the primary
    * prune axis [[ShardCompact.compact]]'s default range layout keys
    * on, which an alphabetical sort would silently repoint at
    * whichever column sorts first. */
  def serializeAll(sections: Seq[Stats]): String = {
    require(sections.map(_.column).distinct.size == sections.size,
      s"duplicate stats sections: ${sections.map(_.column).mkString(",")}")
    sections.map(serialize).mkString
  }

  def parse(text: String, where: Path): Stats = {
    val all = parseAll(text, where)
    require(all.size == 1,
      s"expected a single stats section in $where, found ${all.size}")
    all.head
  }

  def parseAll(text: String, where: Path): Seq[Stats] = {
    val lines = text.linesIterator.filter(_.nonEmpty).toSeq
    require(lines.nonEmpty && lines.head.startsWith("#key\t"),
      s"malformed stats header in $where: ${lines.headOption.getOrElse("<empty>")}")
    val sections = Seq.newBuilder[Stats]
    var header: Array[String] = null
    var ranges = Map.newBuilder[String, Option[(String, String)]]
    def flush(): Unit = if (header != null) {
      sections += Stats(header(1), header(2), ranges.result())
      ranges = Map.newBuilder
    }
    lines.foreach { line =>
      if (line.startsWith("#key\t")) {
        flush()
        header = line.split('\t')
        require(header.length == 3, s"malformed stats header in $where: $line")
      } else {
        val a = line.split('\t').padTo(3, "")
        require(a(0).nonEmpty && line.count(_ == '\t') == 2,
          s"malformed stats line in $where: $line")
        val range =
          if (a(1) == NullMarker && a(2) == NullMarker) None
          else Some((unb64(a(1)), unb64(a(2))))
        ranges += ((a(0), range))
      }
    }
    flush()
    sections.result()
  }

  def statsPath(dir: Path): Path = new Path(dir, FileName)

  /** All sections of the sidecar (empty when absent). */
  def readAll(fs: FileSystem, dir: Path): Seq[Stats] =
    ShardPublish.readTextIfExists(fs, statsPath(dir))
      .fold(Seq.empty[Stats])(parseAll(_, statsPath(dir)))

  /** The FIRST section — the whole sidecar on a single-column table
    * (every pre-r18 table). Prune paths that must pick the right
    * section of a multi-column sidecar use [[readAll]] + a column
    * `find`, never this. */
  def readIfExists(fs: FileSystem, dir: Path): Option[Stats] =
    readAll(fs, dir).headOption

  def writeAllAtomic(
      conf: Configuration, fs: FileSystem, dir: Path,
      sections: Seq[Stats]): Unit =
    ShardPublish.writeAtomic(conf, fs, statsPath(dir), serializeAll(sections))

  /**
   * The range test — the ONE implementation, shared by the driver probe
   * and the key-frame probe ([[ShardPrune]] composes it with the bloom
   * test). Keeps the shards whose [min,max] can hold one of `keyVals`;
   * shards without a stats entry (or every shard, when the stats are
   * absent / keyed on a different column / typed differently than the
   * table schema says) stay candidates — the safe fallback direction.
   * All-null-key shards (`-\t-`) can never satisfy an equality and are
   * always pruned. `keyVals` are already cast to `keyType`, external or
   * Catalyst-internal (strings as [[String]] or UTF8String); nulls must be
   * pre-filtered (null never equals). Result order is `manifested`'s.
   */
  def candidateShardsLocal(
      stats: Option[Stats],
      keyType: DataType,
      keyCol: String,
      keyVals: Seq[Any],
      manifested: Seq[String]): Seq[String] =
    stats.filter(s => s.column == keyCol && dtypeTag(keyType).contains(s.dtype)) match {
      case None => manifested
      case Some(s) =>
        val ks = keyVals.map(ShardRowReader.toComparable(_, keyType))
        val inRange: (String, String) => Boolean = s.dtype match {
          case "long" =>
            val ls = ks.map(_.asInstanceOf[Number].longValue)
            (mn, mx) => { val lo = mn.toLong; val hi = mx.toLong
              ls.exists(k => k >= lo && k <= hi) }
          case "double" =>
            val ds = ks.map(_.asInstanceOf[Number].doubleValue)
            (mn, mx) => { val lo = mn.toDouble; val hi = mx.toDouble
              ds.exists(k => SQLOrderingUtil.compareDoubles(k, lo) >= 0 &&
                SQLOrderingUtil.compareDoubles(k, hi) <= 0) }
          case _ =>
            val us = ks.map(_.asInstanceOf[UTF8String])
            (mn, mx) => {
              val lo = UTF8String.fromString(mn); val hi = UTF8String.fromString(mx)
              us.exists(k => k.compareTo(lo) >= 0 && k.compareTo(hi) <= 0) }
        }
        manifested.filter(n => s.ranges.get(n) match {
          case None => true              // no stats entry: always a candidate
          case Some(None) => false       // all-null-key shard: never a hit
          case Some(Some((mn, mx))) => inRange(mn, mx)
        })
    }
}

/**
 * Executor-side min/max tracker for one shard's stats column — lives in
 * [[ShardDataWriter]], one per task. Values are retained as canonical
 * strings only at [[result]] time; in flight the comparisons use Spark's
 * own orderings (see [[ShardStats]] ordering contract). UTF8String
 * values are CLONED on retention — the row's backing buffer is reused
 * by the scan.
 */
private[v2] final class ShardStatsTracker(dtype: String) extends Serializable {
  private var seen = false
  private var minL = 0L; private var maxL = 0L
  private var minD = 0.0; private var maxD = 0.0
  private var minS: org.apache.spark.unsafe.types.UTF8String = null
  private var maxS: org.apache.spark.unsafe.types.UTF8String = null

  def updateLong(v: Long): Unit = {
    if (!seen) { minL = v; maxL = v; seen = true }
    else { if (v < minL) minL = v; if (v > maxL) maxL = v }
  }
  def updateDouble(v: Double): Unit = {
    if (!seen) { minD = v; maxD = v; seen = true }
    else {
      if (java.lang.Double.compare(v, minD) < 0) minD = v
      if (java.lang.Double.compare(v, maxD) > 0) maxD = v
    }
  }
  def updateString(v: org.apache.spark.unsafe.types.UTF8String): Unit = {
    if (!seen) { minS = v.clone(); maxS = v.clone(); seen = true }
    else {
      if (v.compareTo(minS) < 0) minS = v.clone()
      if (v.compareTo(maxS) > 0) maxS = v.clone()
    }
  }
  /** (min, max) as canonical strings; None when every key was null. */
  def result: Option[(String, String)] =
    if (!seen) None
    else dtype match {
      case "long" => Some((minL.toString, maxL.toString))
      case "double" => Some((minD.toString, maxD.toString))
      case _ => Some((minS.toString, maxS.toString))
    }
}
