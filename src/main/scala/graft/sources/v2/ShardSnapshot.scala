package graft.sources.v2

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/**
 * Snapshot isolation + time travel for [[ShardSink]] tables — the
 * versioned-read increment on the durable corpus store (the capability
 * a training-data pipeline leans on daily: "train against corpus v12
 * while v13 is being built; diff v12→v13 to see exactly what changed";
 * the lakehouse-table shape of Delta/Iceberg snapshots, re-expressed on
 * the house manifest contract).
 *
 * A snapshot is simply the CURRENT `_MANIFEST`, archived as
 * `_SNAPSHOT.v<N>` (same `name\trows` format, staged then renamed into
 * place so a crash never publishes a torn file). Snapshots are
 * metadata-only — zero data copied — and they make the copy-on-write
 * maintenance operators time-travel-safe by PINNING: the cleanup step
 * of [[ShardDelete.deleteByKey]] / [[ShardDelete.upsertByKey]] /
 * [[ShardCompact.compact]] skips any shard a live snapshot still
 * names, so [[read]] of an old version keeps working after deletes,
 * upserts and compactions. A pinned ex-shard is an invisible orphan to
 * CURRENT readers (the manifest contract already guarantees that) but
 * stays on disk for snapshot readers — the exact deferred-reclaim
 * pattern the BM25/near-dup indexes use for serving fleets.
 *
 * [[drop]] + [[vacuum]] reclaim pinned ex-shards. COMPLIANCE NOTE: a
 * takedown ([[ShardDelete.deleteByKey]]) removes rows from the CURRENT
 * table, but a snapshot that predates it still pins the old bytes —
 * right-to-be-forgotten therefore requires dropping (or re-creating)
 * every snapshot that pins the deleted rows and then [[vacuum]]ing;
 * vacuum returns what it reclaimed so the pipeline can verify, never
 * silently.
 *
 * Concurrency: create and vacuum take the [[ShardLock]] — and so does
 * the sink's own job commit, so a vacuum can never list the window
 * where an append has renamed shards in but not yet manifested them
 * (the just-committed-data deletion race is structurally closed).
 * Snapshot files are immutable once published; version numbers are
 * never reused (persistent high-water mark, see [[create]]).
 */
object ShardSnapshot {

  private val Prefix = "_SNAPSHOT.v"
  private val HwmFile = "_SNAPSHOT.last"

  private def fsFor(spark: SparkSession, path: String): (FileSystem, Path) = {
    val dir = new Path(path)
    (dir.getFileSystem(spark.sessionState.newHadoopConf()), dir)
  }

  private def readHwm(fs: FileSystem, dir: Path): Int =
    ShardPublish.readTextIfExists(fs, new Path(dir, HwmFile))
      .fold(0)(_.trim.toInt)

  /** The persistent version high-water mark (0 before the first
    * snapshot) — the "versions ≤ this existed before now" marker
    * [[ShardVersionsStream]] pins into a fresh stream's offset so that
    * create-then-drop churn during downtime fails the retention check
    * loud instead of silently skipping windows (r18 ADVICE). */
  private[v2] def versionHwm(spark: SparkSession, path: String): Int = {
    val (fs, dir) = fsFor(spark, path)
    readHwm(fs, dir)
  }

  /** Archive the current manifest as the next snapshot version; returns
    * the new version number. Numbering comes from a persistent
    * high-water mark (`_SNAPSHOT.last`, updated under the lock), not
    * from the live files: dropping the latest snapshot and creating a
    * new one must NEVER reuse the dropped number — a reader holding the
    * old version id would silently read different content (max(live)+1
    * alone has exactly that collision). Takes the maintenance lock: a
    * create racing a mutator could otherwise archive a manifest whose
    * shards the mutator is about to reclaim (the snapshot must either
    * pin pre-mutation shards BEFORE cleanup sees it, or see the
    * post-mutation manifest — never the gap). The snapshot file opens
    * with a `#ts\t<epochMillis>` header (creation time, the retention
    * clock for [[expireOlderThan]]); [[ShardManifest]]-format entry
    * lines follow. */
  def create(spark: SparkSession, path: String,
      leaseMs: Long = ShardLock.DefaultLeaseMs): Int =
    ShardPublish.locked(spark, path, leaseMs) { (t, entries) =>
    val (fs, dir) = (t.fs, t.dir)
    // max(live) still participates: a pre-hwm table (or a hand-restored
    // snapshot file) must never be overwritten by a lower-counted hwm
    val v = (readHwm(fs, dir) +: 0 +: list(fs, dir)).max + 1
    // hwm FIRST (staged rename, crash-safe): a crash between the two
    // writes burns a version number, never reuses one
    ShardPublish.writeAtomic(t.conf, fs, new Path(dir, HwmFile), v.toString)
    // live merge-on-read tombstones are PART of the snapshot's logical
    // content: record them (name + scope) as headers so this version
    // keeps excluding the deferred-deleted keys even after a compaction
    // has materialized and retired the segments ([[ShardTombstones]])
    val tombHeader = ShardTombstones.readIfExists(fs, dir).map { ts =>
      s"#tombkey\t${ts.column}\t${ts.tag}\n" + ts.segments.map(s =>
        s"#tomb\t${s.file}\t${s.nKeys}\t${s.shards.toSeq.sorted.mkString(",")}\n")
        .mkString
    }.getOrElse("")
    ShardPublish.writeAtomic(t.conf, fs, new Path(dir, s"$Prefix$v"),
      s"#ts\t${System.currentTimeMillis()}\n" + tombHeader +
        ShardManifest.serialize(entries))
    v
    }

  /** Live snapshot versions, ascending. */
  def list(spark: SparkSession, path: String): Seq[Int] = {
    val (fs, dir) = fsFor(spark, path)
    list(fs, dir)
  }

  private def list(fs: FileSystem, dir: Path): Seq[Int] = {
    val st = fs.globStatus(new Path(dir, s"$Prefix*"))
    if (st == null) Seq.empty
    else st.toSeq.map(_.getPath.getName.stripPrefix(Prefix))
      .filter(_.matches("\\d+")).map(_.toInt).sorted
  }

  private def readSnapshotFile(fs: FileSystem, p: Path): (
      Option[Long], Seq[(String, Long)],
      Option[ShardTombstones.Tombstones]) = {
    val (headers, body) = ShardPublish.readText(fs, p).linesIterator.toSeq
      .partition(_.startsWith("#"))
    val ts = headers.collectFirst {
      case h if h.startsWith("#ts\t") => h.stripPrefix("#ts\t").trim.toLong
    }
    // `#tombkey` + `#tomb` lines reconstruct the tombstone state live at
    // create time (note the trailing tab: "#tombkey" must not match the
    // "#tomb\t" filter)
    val tombs = headers.collectFirst {
      case h if h.startsWith("#tombkey\t") =>
        val k = h.stripPrefix("#tombkey\t").split('\t')
        require(k.length == 2, s"malformed #tombkey header in $p: $h")
        ShardTombstones.Tombstones(k(0), k(1),
          headers.filter(_.startsWith("#tomb\t")).map { line =>
            val a = line.stripPrefix("#tomb\t").split('\t')
            require(a.length == 3, s"malformed #tomb header in $p: $line")
            ShardTombstones.Segment(a(0), a(1).toLong,
              a(2).split(',').filter(_.nonEmpty).toSet)
          })
    }
    (ts, ShardManifest.parse(body.mkString("\n"), p), tombs)
  }

  /** The shard entries snapshot `v` names. */
  def entries(spark: SparkSession, path: String, v: Int): Seq[(String, Long)] = {
    val (fs, dir) = fsFor(spark, path)
    val p = new Path(dir, s"$Prefix$v")
    require(fs.exists(p), s"no snapshot v$v under $path")
    readSnapshotFile(fs, p)._2
  }

  /** Snapshot `v`'s creation time (epoch millis): the `#ts` header, or —
    * for a pre-header snapshot — the file's mtime (immutable once
    * published, so the mtime IS the creation time). */
  def createdAt(spark: SparkSession, path: String, v: Int): Long = {
    val (fs, dir) = fsFor(spark, path)
    val p = new Path(dir, s"$Prefix$v")
    require(fs.exists(p), s"no snapshot v$v under $path")
    readSnapshotFile(fs, p)._1
      .getOrElse(fs.getFileStatus(p).getModificationTime)
  }

  /** Every (shard, tombstone-segment) file some live snapshot pins —
    * ONE pass over the snapshot files for both sets (vacuum needs both;
    * reading them separately would parse every snapshot twice). */
  private def pinnedAll(fs: FileSystem, dir: Path): (Set[String], Set[String]) = {
    val shards = Set.newBuilder[String]
    val tombs = Set.newBuilder[String]
    list(fs, dir).foreach { v =>
      val (_, es, t) = readSnapshotFile(fs, new Path(dir, s"$Prefix$v"))
      es.foreach { case (name, _) => shards += name }
      t.foreach(_.segments.foreach(s => tombs += s.file))
    }
    (shards.result(), tombs.result())
  }

  /** Every shard name some live snapshot pins — the set the
    * copy-on-write cleanup steps must not reclaim. Bounded by
    * snapshots × shards-per-snapshot manifest LINES, never data. */
  def pinned(spark: SparkSession, path: String): Set[String] = {
    val (fs, dir) = fsFor(spark, path)
    pinned(fs, dir)
  }

  private[v2] def pinned(fs: FileSystem, dir: Path): Set[String] =
    pinnedAll(fs, dir)._1

  /** Read the table AS OF snapshot `v`. Fails loud — not empty — when a
    * pinned shard has been vacuumed away (only possible after the
    * snapshot itself was dropped and re-created with a colliding
    * number, or an external deletion). */
  def read(
      spark: SparkSession, path: String, schema: StructType, v: Int): DataFrame = {
    val t = ShardPublish.table(spark, path)
    val (fs, dir) = (t.fs, t.dir)
    val p = new Path(dir, s"$Prefix$v")
    require(fs.exists(p), s"no snapshot v$v under $path")
    val (_, es, tombs) = readSnapshotFile(fs, p)
    // ONE directory listing, not one exists() RPC per shard — a
    // thousand-shard snapshot costs one metadata call to validate
    val present = fs.listStatus(dir).iterator
      .filter(_.isFile).map(_.getPath.getName).toSet
    es.foreach { case (name, _) =>
      require(present.contains(name),
        s"snapshot v$v of $path names shard $name which no longer exists " +
          "— it was vacuumed or externally deleted; the snapshot is gone")
    }
    tombs.foreach(_.segments.foreach(s =>
      require(present.contains(s.file),
        s"snapshot v$v of $path records tombstone segment ${s.file} which " +
          "no longer exists — it was vacuumed or externally deleted; " +
          "the snapshot is gone")))
    // the tombstones recorded AT CREATE TIME apply — not the live ones:
    // this is what keeps a post-delete snapshot honest after compaction
    // retired the segments, and a pre-delete snapshot serving the keys
    ShardReader.scan(spark, t, schema, es.map(_._1), tombs, keepShard = false)
  }

  /** Delete snapshot `v` (its pins lapse; [[vacuum]] reclaims).
    * Deliberately lock-free: a concurrent mutator/vacuum that already
    * read the pins keeps v's shards (the conservative direction); one
    * that reads after the drop reclaims them — both are correct. */
  def drop(spark: SparkSession, path: String, v: Int): Unit = {
    val (fs, dir) = fsFor(spark, path)
    val p = new Path(dir, s"$Prefix$v")
    require(fs.exists(p), s"no snapshot v$v under $path")
    fs.delete(p, false)
  }

  /** Reclaim every top-level shard data file that neither the current
    * manifest nor any live snapshot names — pinned ex-shards whose pins
    * lapsed, and crash orphans from torn maintenance runs. Returns the
    * reclaimed file names (verify, don't trust). Takes the maintenance
    * lock: a vacuum racing a mutator's orphan-in step would otherwise
    * see the just-renamed, not-yet-manifested shards as reclaimable and
    * delete data the imminent publish is about to name. */
  def vacuum(spark: SparkSession, path: String,
      leaseMs: Long = ShardLock.DefaultLeaseMs): Seq[String] =
    ShardPublish.locked(spark, path, leaseMs) { (t, manifest) =>
    val (fs, dir) = (t.fs, t.dir)
    val (pinnedShards, pinnedTombs) = pinnedAll(fs, dir)
    val live = manifest.map(_._1).toSet ++
      pinnedShards ++
      // tombstone segments stay while the live sidecar names them or a
      // snapshot records them (snapshot reads re-apply; see
      // [[ShardTombstones]]); retired, unrecorded ones reclaim here
      ShardTombstones.liveSegmentFiles(fs, dir) ++
      pinnedTombs
    val candidates = fs.listStatus(dir).toSeq
      .filter(st => st.isFile)
      .map(_.getPath.getName)
      .filter(n => (n.startsWith("part-") &&
        (n.endsWith(".jsonl") || n.endsWith(".parquet"))) ||
        (n.startsWith("tomb-") && n.endsWith(".parquet")))
    val orphans = candidates.filterNot(live.contains)
    orphans.foreach(n => fs.delete(new Path(dir, n), false))
    orphans.sorted
    }

  /** Retention: drop every snapshot except the newest `keepLast`, then
    * vacuum — the audited compliance sequence ("drop every snapshot
    * pinning the deleted rows, then reclaim") as ONE call instead of a
    * manual loop. Returns (dropped versions, reclaimed file names) so
    * the pipeline can verify both halves, never trust them. */
  def retain(spark: SparkSession, path: String, keepLast: Int,
      leaseMs: Long = ShardLock.DefaultLeaseMs): (Seq[Int], Seq[String]) = {
    require(keepLast >= 0, s"keepLast must be >= 0: $keepLast")
    val versions = list(spark, path)
    val dropped = versions.dropRight(keepLast)
    dropped.foreach(v => drop(spark, path, v))
    (dropped, vacuum(spark, path, leaseMs))
  }

  /** Retention by age: drop every snapshot created strictly before
    * `cutoffMillis` (the `#ts` header clock; pre-header snapshots use
    * their immutable file mtime), then vacuum. Returns (dropped
    * versions, reclaimed file names). */
  def expireOlderThan(spark: SparkSession, path: String, cutoffMillis: Long,
      leaseMs: Long = ShardLock.DefaultLeaseMs): (Seq[Int], Seq[String]) = {
    val dropped = list(spark, path)
      .filter(v => createdAt(spark, path, v) < cutoffMillis)
    dropped.foreach(v => drop(spark, path, v))
    (dropped, vacuum(spark, path, leaseMs))
  }

  /** Per-key content digest of one snapshot view: md5 of the
    * schema-ordered row json, multi-copy keys folded order-free (sorted
    * digest list) so historical duplicate keys diff deterministically. */
  private def keyedDigest(
      df: DataFrame, schema: StructType, keyCol: String, out: String): DataFrame =
    df.withColumn("__d",
        md5(to_json(struct(schema.fieldNames.map(col).toSeq: _*))))
      .groupBy(col(keyCol).as("__k"))
      .agg(md5(concat_ws(",", array_sort(collect_list(col("__d"))))).as(out))

  /** Keyed diff between two snapshot versions: one row per key whose
    * content differs — `change` ∈ added | removed | changed (vOld →
    * vNew). One hash exchange per side on the key; output is
    * change-set-sized. */
  def diffByKey(
      spark: SparkSession,
      path: String,
      schema: StructType,
      keyCol: String,
      vOld: Int,
      vNew: Int): DataFrame = {
    require(schema.fieldNames.contains(keyCol),
      s"key column '$keyCol' not in table schema ${schema.fieldNames.mkString(",")}")
    val a = keyedDigest(read(spark, path, schema, vOld), schema, keyCol, "__da")
      .withColumnRenamed("__k", "__ka")
    val b = keyedDigest(read(spark, path, schema, vNew), schema, keyCol, "__db")
      .withColumnRenamed("__k", "__kb")
    // NULL-SAFE join: null-key rows form ONE group per side (keyedDigest
    // groups them), and an equi-join would never match the two — the
    // null group would surface as a spurious removed + added pair even
    // when its content is identical
    a.join(b, col("__ka") <=> col("__kb"), "full_outer")
      .withColumn("change",
        when(col("__da").isNull, lit("added"))
          .when(col("__db").isNull, lit("removed"))
          .when(col("__da") =!= col("__db"), lit("changed")))
      .filter(col("change").isNotNull)
      .select(coalesce(col("__ka"), col("__kb")).as(keyCol), col("change"))
  }

  /**
   * Change-feed read — the CDC increment on the durable store: every
   * row a downstream pipeline must (re)process to catch up from
   * snapshot `vSince` to the CURRENT table, as (full row, `change`)
   * with `change` ∈ added | changed | removed. `added`/`changed` keys
   * return their CURRENT rows (every copy, for historical multi-copy
   * keys); `removed` keys return one tombstone row — key set, every
   * other column NULL. An incremental consumer applies the feed as
   * upserts + deletes instead of re-reading the table; the feed is
   * change-set-sized, never table-sized, and costs one keyed-digest
   * exchange per side ([[diffByKey]]'s shape) plus one semi-join of the
   * current table against the changed-key set.
   *
   * Consistency under concurrency: the CURRENT side's file list is
   * PINNED at call time (one eager manifest read; both the digest scan
   * and the live-row scan read that exact list, and shard files are
   * immutable once published), so the feed is always self-consistent —
   * a key can never be classified against one table state and have its
   * rows delivered from another. A concurrent copy-on-write mutation
   * can still physically DELETE a listed file between the call and the
   * scans; that fails the read LOUD (missing input file), never
   * silently inconsistent. A consumer that must be robust to concurrent
   * mutators should snapshot first and diff two snapshots
   * ([[readChanges]]) — those file lists are pin-protected from
   * reclaim.
   */
  def readChangesSince(
      spark: SparkSession,
      path: String,
      schema: StructType,
      keyCol: String,
      vSince: Int): DataFrame =
    changesBetween(spark, path, schema, keyCol,
      read(spark, path, schema, vSince),
      ShardReader.read(spark, path, schema))

  /**
   * VERSION-WINDOWED change feed — the `table_changes(v1, v2)` shape a
   * backfilling consumer wants: every row to (re)process to move a
   * downstream copy from snapshot `vFrom` to snapshot `vTo`, with the
   * same (full row, `change`) delivery contract as
   * [[readChangesSince]]. Feeds over consecutive windows COMPOSE:
   * applying the v1→v2 feed then the v2→v3 feed reconstructs exactly
   * the v1→v3 state (each feed's `added`/`changed` rows are the vTo
   * view's own rows), and windows are DISJOINT — a key that changed in
   * (v1,v2] and was untouched in (v2,v3] appears only in the first
   * feed. Both sides read snapshot-pinned file lists, so the windowed
   * form is fully isolated from concurrent mutators (the pins protect
   * every listed shard from reclaim). `vFrom` older than `vTo` is the
   * forward feed; reversed arguments produce the UNDO feed (what to
   * reapply to roll a copy back), which is occasionally exactly what an
   * operator wants and costs nothing to allow.
   */
  def readChanges(
      spark: SparkSession,
      path: String,
      schema: StructType,
      keyCol: String,
      vFrom: Int,
      vTo: Int): DataFrame =
    changesBetween(spark, path, schema, keyCol,
      read(spark, path, schema, vFrom),
      read(spark, path, schema, vTo))

  /** Shared diff-and-deliver kernel of [[readChangesSince]] /
    * [[readChanges]]: classify per-key digests old→new, deliver the NEW
    * side's rows for added/changed keys and null-filled tombstones for
    * removed ones. */
  private def changesBetween(
      spark: SparkSession,
      path: String,
      schema: StructType,
      keyCol: String,
      old: DataFrame,
      cur: DataFrame): DataFrame = {
    require(schema.fieldNames.contains(keyCol),
      s"key column '$keyCol' not in table schema ${schema.fieldNames.mkString(",")}")
    val a = keyedDigest(old, schema, keyCol, "__da")
      .withColumnRenamed("__k", "__ka")
    val b = keyedDigest(cur, schema, keyCol, "__db")
      .withColumnRenamed("__k", "__kb")
    // NULL-SAFE joins throughout ([[diffByKey]]'s rationale): null-key
    // rows are one group — classified added/changed/removed like any
    // other, their live rows delivered below. (APPLYING a null-key
    // tombstone needs a null-aware consumer: keyed equality deletes
    // cannot match null — the feed is honest, the consumer must be too.)
    val changes = a.join(b, col("__ka") <=> col("__kb"), "full_outer")
      .withColumn("change",
        when(col("__da").isNull, lit("added"))
          .when(col("__db").isNull, lit("removed"))
          .when(col("__da") =!= col("__db"), lit("changed")))
      .filter(col("change").isNotNull)
      .select(coalesce(col("__ka"), col("__kb")).as("__k"), col("change"))
    // added/changed: the CURRENT rows of the changed keys (null-safe
    // key join — change-set-sized); removed: one null-filled tombstone
    val live = cur.join(changes.filter(col("change") =!= "removed"),
        cur(keyCol) <=> col("__k"))
      .select(schema.fieldNames.map(cur(_)) :+ col("change"): _*)
    val tombstones = changes.filter(col("change") === "removed")
      .select(schema.fields.map { f =>
        if (f.name == keyCol) col("__k").cast(f.dataType).as(f.name)
        else lit(null).cast(f.dataType).as(f.name)
      } :+ col("change"): _*)
    live.unionByName(tombstones)
  }
}
