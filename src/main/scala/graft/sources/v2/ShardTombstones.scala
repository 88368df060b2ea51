package graft.sources.v2

import java.util.UUID

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructField, StructType}

/**
 * MERGE-ON-READ keyed deletes for [[ShardSink]] tables — the metadata-
 * sized takedown the copy-on-write path cannot be: a 5-digest GDPR
 * delete on a 100 TB table through [[ShardDelete.deleteByKey]] rewrites
 * every HIT shard in full (shard-sized I/O and lock-held commit time);
 * through [[ShardDelete.deleteByKeyDeferred]] it publishes one
 * takedown-sized TOMBSTONE SEGMENT plus one sidecar line, and every
 * read path filters the live tombstones out. Compaction
 * ([[ShardCompact.compact]]) MATERIALIZES the deletes into rewritten
 * shards and retires the absorbed segments — copy-on-write stays as the
 * materialization path, exactly the discipline the house BM25/ANN
 * artifacts already use ([[graft.operators.KeyTombstones]]), carried
 * onto the store's sidecar + lock + snapshot contracts.
 *
 * SHARD-SCOPED, not global (the deletion-vector shape of Delta/Iceberg
 * merge-on-read, at shard granularity): a segment applies only to the
 * shards MANIFESTED at delete time, recorded per segment. A later
 * append or upsert that re-introduces a tombstoned key lands in a
 * FRESH shard no segment names, so it is visible immediately — no
 * "re-using a deleted key is undefined" caveat, and appends never have
 * to consult the tombstone plane at all. The scope sets only ever
 * SHRINK: a copy-on-write rewrite drops the replaced shard names (the
 * rewritten shards had the tombstones applied during the rewrite), a
 * compaction rewrites everything and clears every segment; a segment
 * whose scope empties is retired on the spot.
 *
 * Sidecar format (`_TOMBSTONES`, strict like every store sidecar;
 * staged-rename publish; written only under the table [[ShardLock]]):
 *
 *   #key\t<column>\t<tag>                        one header line
 *   <segfile>\t<nKeys>\t<shard>[,<shard>...]     one line per LIVE segment
 *
 * Segment files are single top-level `tomb-<uuid>.parquet` files of
 * the (distinct, non-null, table-typed) deleted keys. The key column is
 * a TABLE-LEVEL property like the stats/bloom columns: a deferred
 * delete on a different column is refused loud (materialize first).
 *
 * Crash ordering: the segment FILE lands first (an orphan — invisible
 * until the sidecar names it), the sidecar rename is the atomic
 * publish. A crash between the two leaves an orphan `tomb-*` file that
 * [[ShardSnapshot.vacuum]] reclaims; the delete simply has not
 * happened (re-run to converge).
 *
 * Snapshot interaction: [[ShardSnapshot.create]] records the live
 * segments (name + scope) as `#tomb` header lines in the snapshot
 * file, so a snapshot taken AFTER a deferred delete keeps excluding
 * the deleted keys even after a compaction has materialized and
 * retired the segments; vacuum treats snapshot-recorded segment files
 * as pinned. A snapshot taken BEFORE the delete carries no `#tomb`
 * line and still serves the keys — time travel is honest in both
 * directions.
 *
 * COMPLIANCE NOTE (stronger than the copy-on-write one): a deferred
 * delete is LOGICAL — the deleted rows' bytes stay in the data shards
 * until a compaction materializes the tombstones AND the usual
 * snapshot-drop + vacuum reclaims the old shards. The audited forget
 * sequence is: deferred delete → verify reads exclude → compact →
 * drop pinning snapshots → vacuum → verify reclaim.
 *
 * Row-count caveat: `_MANIFEST` row counts are written at append time,
 * so while tombstone segments are live, [[ShardReader.manifestRowCount]]
 * is an UPPER bound on the served row count (equality is restored by
 * compaction). The corruption check it exists for still holds in the
 * only direction that matters: served rows can never EXCEED the
 * manifest promise.
 */
object ShardTombstones {

  val FileName = "_TOMBSTONES"

  final case class Segment(file: String, nKeys: Long, shards: Set[String])
  final case class Tombstones(
      column: String, tag: String, segments: Seq[Segment])

  // ---- sidecar (de)serialization — strict, staged-rename publish

  def serialize(t: Tombstones): String = {
    val sb = new StringBuilder
    sb.append(s"#key\t${t.column}\t${t.tag}\n")
    t.segments.sortBy(_.file).foreach { s =>
      require(s.shards.nonEmpty, s"empty-scope segment must be retired: ${s.file}")
      sb.append(s"${s.file}\t${s.nKeys}\t${s.shards.toSeq.sorted.mkString(",")}\n")
    }
    sb.toString
  }

  def parse(text: String, where: Path): Tombstones = {
    val lines = text.linesIterator.filter(_.nonEmpty).toSeq
    require(lines.nonEmpty && lines.head.startsWith("#key\t"),
      s"malformed tombstone header in $where: ${lines.headOption.getOrElse("<empty>")}")
    val h = lines.head.split('\t')
    require(h.length == 3, s"malformed tombstone header in $where: ${lines.head}")
    val segs = lines.tail.map { line =>
      val a = line.split('\t')
      require(a.length == 3 && a(0).nonEmpty && a(2).nonEmpty,
        s"malformed tombstone line in $where: $line")
      val n = try a(1).toLong catch {
        case _: NumberFormatException => throw new IllegalArgumentException(
          s"malformed tombstone key count in $where: $line")
      }
      Segment(a(0), n, a(2).split(',').filter(_.nonEmpty).toSet)
    }
    Tombstones(h(1), h(2), segs)
  }

  def sidecarPath(dir: Path): Path = new Path(dir, FileName)

  def readIfExists(fs: FileSystem, dir: Path): Option[Tombstones] =
    ShardPublish.readTextIfExists(fs, sidecarPath(dir))
      .map(parse(_, sidecarPath(dir)))

  def writeAtomic(
      conf: Configuration, fs: FileSystem, dir: Path, t: Tombstones): Unit =
    if (t.segments.isEmpty) fs.delete(sidecarPath(dir), false) // clean table
    else ShardPublish.writeAtomic(conf, fs, sidecarPath(dir), serialize(t))

  /** Live tombstone segment FILE names (for vacuum's live set). */
  def liveSegmentFiles(fs: FileSystem, dir: Path): Set[String] =
    readIfExists(fs, dir).map(_.segments.map(_.file).toSet).getOrElse(Set.empty)

  // ---- segment write (one takedown-sized parquet file, orphan until
  // ---- the sidecar names it)

  /** Write the (distinct, non-null, `keyType`-cast) keys of `keys` as a
    * single `tomb-<uuid>.parquet` under `dir`; returns (fileName, nKeys)
    * or None when no usable key survives. */
  private[v2] def writeSegment(
      spark: SparkSession,
      fs: FileSystem,
      dir: Path,
      keyCol: String,
      keyType: DataType,
      keys: DataFrame): Option[(String, Long)] = {
    val scratch = new Path(dir, s"_tomb-${UUID.randomUUID().toString.take(8)}")
    keys.select(col(keys.columns.head).cast(keyType).as(keyCol))
      .na.drop().distinct()
      .coalesce(1)
      .write.mode("overwrite").parquet(scratch.toString)
    val part = fs.listStatus(scratch).map(_.getPath)
      .find(p => p.getName.startsWith("part-") && p.getName.endsWith(".parquet"))
    val out = part.flatMap { src =>
      val name = s"tomb-${UUID.randomUUID().toString}.parquet"
      val dst = new Path(dir, name)
      if (!fs.rename(src, dst))
        throw new java.io.IOException(s"tombstone rename failed: $src -> $dst")
      // key count from the parquet FOOTER — one metadata read, no Spark
      // job, no re-scan of the file inside the lock's critical section
      val n = locally {
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            dst, spark.sessionState.newHadoopConf()))
        try r.getRecordCount finally r.close()
      }
      if (n == 0L) { fs.delete(dst, false); None } else Some((name, n))
    }
    fs.delete(scratch, true)
    out
  }

  // ---- read-side application ([[ShardReader.scan]] anti-joins, the V2
  // ---- scan screens inside its readers)

  /** The tombstone key's type in the read `schema`. Fails LOUD when the
    * schema lacks the key column or its type drifted from the sidecar
    * tag — a read that returned unfiltered rows would resurrect deleted
    * keys, the one direction this file must never take. */
  private[v2] def keyType(t: Tombstones, schema: StructType, dir: Path): DataType = {
    require(schema.fieldNames.contains(t.column),
      s"table at $dir carries tombstones on '${t.column}' but the read " +
        s"schema (${schema.fieldNames.mkString(",")}) lacks it — a read that " +
        "cannot apply the tombstones would resurrect deleted keys")
    val dt = schema(t.column).dataType
    require(ShardSchema.tagOf(dt) == t.tag,
      s"tombstones at $dir are keyed on '${t.column}' (${t.tag}) but the " +
        s"read schema types it $dt — an equality over drifted types could " +
        "silently resurrect deleted keys")
    dt
  }

  /** One segment's keys as a one-column frame named `t.column`. The
    * schema is KNOWN (the sidecar-tagged key type [[keyType]] verified),
    * so the read skips the driver-side footer-inference job (r20). */
  private[v2] def segmentKeys(spark: SparkSession, dir: Path, t: Tombstones,
      keyType: DataType, s: Segment): DataFrame =
    spark.read.schema(StructType(Seq(StructField(t.column, keyType))))
      .parquet(new Path(dir, s.file).toString)
}
