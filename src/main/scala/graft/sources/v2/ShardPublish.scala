package graft.sources.v2

import java.nio.charset.StandardCharsets

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileSystem, Options, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** One operation's handle on a [[ShardSink]] table directory: ONE Hadoop
  * configuration and filesystem for the whole operation, and ONE read of
  * its `_SCHEMA` sidecar, on first use. */
private[graft] final case class ShardDir(path: String, conf: Configuration) {
  val dir = new Path(path)
  val fs: FileSystem = dir.getFileSystem(conf)
  val mfPath = new Path(dir, ShardManifest.FileName)
  lazy val schemaSidecar: Option[ShardSchema.TableSchema] =
    ShardSchema.readIfExists(fs, dir)
  def format: String = ShardPayload.of(schemaSidecar)
}

/**
 * The shard store's publish mechanics, in one place: the staged-rename
 * sidecar write, the sidecar text read, the idempotent move-in of fresh
 * shards, the mutator prologue, and the copy-on-write switch that
 * [[ShardDelete.deleteByKey]], [[ShardDelete.upsertByKey]] and
 * [[ShardCompact.compact]] share. Each sidecar object
 * ([[ShardManifest]], [[ShardSchema]], [[ShardStats]], [[ShardBloom]],
 * [[ShardTombstones]]) owns only its format; the order in which the
 * files of one operation are published — the store's crash contract —
 * is written down once, on [[switchCopyOnWrite]] (the append's order is
 * on [[ShardBatchWrite]]'s commit).
 */
private[v2] object ShardPublish {

  def table(spark: SparkSession, path: String): ShardDir =
    ShardDir(path, spark.sessionState.newHadoopConf())

  /** The whole file as UTF-8 text. */
  def readText(fs: FileSystem, path: Path): String = {
    val in = fs.open(path)
    try new String(org.apache.hadoop.io.IOUtils.readFullyToByteArray(in),
      StandardCharsets.UTF_8)
    finally in.close()
  }

  def readTextIfExists(fs: FileSystem, path: Path): Option[String] =
    if (!fs.exists(path)) None else Some(readText(fs, path))

  /** Atomic publish of `text` at `path`: staged as `<name>.tmp` beside
    * it, then `FileContext.rename(OVERWRITE)`d into place — a crash
    * mid-publish leaves the PREVIOUS file intact, never a torn one. */
  def writeAtomic(
      conf: Configuration, fs: FileSystem, path: Path, text: String): Unit = {
    val tmp = new Path(path.getParent, s"${path.getName}.tmp")
    val out = fs.create(tmp, true)
    try out.write(text.getBytes(StandardCharsets.UTF_8))
    finally out.close()
    FileContext.getFileContext(path.toUri, conf)
      .rename(tmp, path, Options.Rename.OVERWRITE)
  }

  /** The table's published `_MANIFEST`, None when nothing was ever
    * committed under it. */
  def manifestIfExists(t: ShardDir): Option[Seq[(String, Long)]] =
    readTextIfExists(t.fs, t.mfPath).map(ShardManifest.parse(_, t.mfPath))

  /** The table's published `_MANIFEST`; fails when nothing was ever
    * committed under it. */
  def manifest(t: ShardDir): Seq[(String, Long)] = committed(t, manifestIfExists(t))

  /** `mf`, a manifest read of `t`; fails when it found none. */
  def committed(t: ShardDir, mf: Option[Seq[(String, Long)]]): Seq[(String, Long)] =
    mf.getOrElse(throw new IllegalArgumentException(
      s"no ${ShardManifest.FileName} under ${t.path} — nothing committed there"))

  /** A live read's metadata: the tombstones, then the manifest. The two
    * reads are not atomic, so `_TOMBSTONES` is read BEFORE `_MANIFEST`
    * (r18 ADVICE): a reader racing a copy-on-write mutator that captured
    * the PRE-rewrite manifest with the POST-switch sidecar could serve a
    * snapshot-pinned replaced shard WITHOUT its tombstone scope —
    * silently resurrecting deleted keys. Scopes only ever SHRINK, so the
    * inverted skew (stale tombstones + fresh manifest) is safe: at worst
    * a scope names a shard the manifest no longer lists, and matches
    * nothing. */
  def published(t: ShardDir)
      : (Option[ShardTombstones.Tombstones], Option[Seq[(String, Long)]]) = {
    val tombs = ShardTombstones.readIfExists(t.fs, t.dir)
    (tombs, manifestIfExists(t))
  }

  /** The mutator prologue: `body` runs under the table's [[ShardLock]]
    * with the table handle and its published manifest. */
  def locked[T](spark: SparkSession, path: String, leaseMs: Long)(
      body: (ShardDir, Seq[(String, Long)]) => T): T = {
    val t = table(spark, path)
    ShardLock.withLock(t.fs, path, leaseMs)(body(t, manifest(t)))
  }

  /** Move each file in `files` into `dir` under its own name. A retried
    * move (or one resumed after a crash between the renames and the
    * manifest write) finds the source already moved: rename then
    * returns false with the destination present and the source gone.
    * That state IS the rename's postcondition and counts as success, so
    * the retry reaches the manifest write and restores visibility. */
  def moveIn(fs: FileSystem, files: Seq[Path], dir: Path, op: String): Unit =
    files.foreach { src =>
      val dst = new Path(dir, src.getName)
      if (!fs.rename(src, dst) && !(fs.exists(dst) && !fs.exists(src)))
        throw new java.io.IOException(s"$op rename failed: $src -> $dst")
    }

  /** A copy-on-write rewrite's scratch write: an append through the
    * sink's own two-phase commit into `scratch`, carrying the table's
    * stats/bloom columns (ALL sections, bloom geometry included) and
    * payload format, so rewritten shards stay prunable on every column
    * and the table stays format-homogeneous. */
  def writeScratch(
      df: DataFrame, scratch: Path,
      tableStats: Seq[ShardStats.Stats],
      tableBloom: Seq[ShardBloom.Bloom],
      fmt: String): Unit = {
    val w0 = df.write.format("graft.sources.v2.ShardSink")
      .option("path", scratch.toString).mode("append")
      .option(ShardPayload.OptionKey, fmt)
    val w1 =
      if (tableStats.isEmpty) w0
      else w0.option(ShardStats.OptionKey, tableStats.map(_.column).mkString(","))
    (if (tableBloom.isEmpty) w1
     else w1.option(ShardBloom.OptionKey, tableBloom.map(_.column).mkString(","))
       .option(ShardBloom.BitsOptionKey,
         tableBloom.map(_.mBits.toString).mkString(","))).save()
  }

  /** One per-shard sidecar after a rewrite: every table section keeps
    * its entries for `kept` shards and takes the `fresh` shards' entries
    * from the scratch write's section on the same column. Section order
    * is the table's ([[ShardStats.serializeAll]]). */
  private def mergeSections[S, E](
      table: Seq[S], scratch: Seq[S], kept: Set[String], fresh: Set[String])(
      column: S => String, entries: S => Map[String, E])(
      rebuild: (S, Map[String, E]) => S): Seq[S] =
    table.map { s =>
      val added = scratch.find(x => column(x) == column(s))
        .map(entries(_).filter { case (n, _) => fresh(n) })
        .getOrElse(Map.empty[String, E])
      rebuild(s, entries(s).filter { case (n, _) => kept(n) } ++ added)
    }

  /**
   * The copy-on-write switch: publish the shards a rewrite wrote into
   * `scratch` in place of the `replaced` shards of `old` (the manifest
   * read under the lock). Returns the fresh `(name, rows)` entries.
   *
   * Publish order — the store's crash contract:
   *
   *  1. (the caller) the rewritten rows went through the sink's own
   *     two-phase commit into `scratch`: invisible to readers;
   *  2. the fresh non-empty shards are moved into the table directory
   *     (UUID names cannot collide) — still orphans;
   *  3. ONE atomic `_MANIFEST` publish switches readers from `old` to
   *     (`old` minus `replaced`) plus fresh — the commit point;
   *     then the hint sidecars follow it: `_STATS` and `_BLOOM` keep
   *     the kept shards' entries and take the fresh shards' from
   *     scratch; then `_TOMBSTONES` narrows every segment's scope to the
   *     kept shards (the rewrite applied the live tombstones), retiring
   *     segments whose scope empties;
   *  4. the replaced shards are deleted — best-effort cleanup of what
   *     are now orphans — except any name the fresh manifest also
   *     claims and any shard a live snapshot pins ([[ShardSnapshot]]
   *     time travel; vacuum reclaims them once the pins lapse); then
   *     scratch is deleted.
   *
   * A crash before (3) leaves the table as it was (scratch dirs and
   * moved-in shards are invisible orphans; re-run to converge). A crash
   * after (3) leaves the operation applied: a stale sidecar is only a
   * pruning hint or a scope naming an unmanifested shard, never a
   * wrong answer; orphan files at worst.
   *
   * Compaction is the case `replaced` = every old shard.
   */
  def switchCopyOnWrite(
      t: ShardDir,
      old: Seq[(String, Long)],
      replaced: Set[String],
      scratch: Path,
      tableStats: Seq[ShardStats.Stats],
      tableBloom: Seq[ShardBloom.Bloom],
      tombstones: Option[ShardTombstones.Tombstones]): Seq[(String, Long)] = {
    val scratchMf = new Path(scratch, ShardManifest.FileName)
    val fresh = ShardManifest.parse(readText(t.fs, scratchMf), scratchMf)
      .filter(_._2 > 0L) // fully-rewritten-away partitions leave empty shards
    val freshNames = fresh.map(_._1).toSet
    // (2)
    moveIn(t.fs, fresh.map { case (n, _) => new Path(scratch, n) }, t.dir,
      "copy-on-write")
    // (3)
    val kept = old.filterNot { case (name, _) => replaced.contains(name) }
    val keptNames = kept.map(_._1).toSet
    writeAtomic(t.conf, t.fs, t.mfPath, ShardManifest.serialize(kept ++ fresh))
    if (tableStats.nonEmpty)
      ShardStats.writeAllAtomic(t.conf, t.fs, t.dir, mergeSections(tableStats,
        ShardStats.readAll(t.fs, scratch), keptNames, freshNames)(
        _.column, _.ranges)((s, m) => s.copy(ranges = m)))
    if (tableBloom.nonEmpty)
      ShardBloom.writeAllAtomic(t.conf, t.fs, t.dir, mergeSections(tableBloom,
        ShardBloom.readAll(t.fs, scratch), keptNames, freshNames)(
        _.column, _.filters)((b, m) => b.copy(filters = m)))
    tombstones.foreach(ts => ShardTombstones.writeAtomic(t.conf, t.fs, t.dir,
      ts.copy(segments = ts.segments.map(s => s.copy(shards = s.shards & keptNames))
        .filter(_.shards.nonEmpty))))
    // (4)
    val keep = freshNames ++ ShardSnapshot.pinned(t.fs, t.dir)
    replaced.foreach { name =>
      if (!keep.contains(name)) t.fs.delete(new Path(t.dir, name), false)
    }
    t.fs.delete(scratch, true)
    fresh
  }
}
