package graft.sources.v2

import java.util.UUID

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/**
 * Copy-on-write keyed delete for [[ShardSink]] tables — the takedown /
 * right-to-be-forgotten operation a training-corpus store must support
 * (reference has no analog; this is the durable-table increment the
 * append ([[ShardSink]]) + compaction ([[ShardCompact]]) pair leaves
 * out: removing a document by id without rewriting the table).
 *
 * Only the shards that actually CONTAIN a matching key are rewritten,
 * and — when the table carries `_STATS` key ranges ([[ShardStats]],
 * written by appends with the `statsColumn` option) — only the shards
 * whose [min,max] can contain a key are even READ: hit discovery probes
 * the key set against the ≤-file-count shard ranges (and `_BLOOM`
 * filters) per key-frame partition ([[ShardPrune.candidateShards]]),
 * then one scan of the surviving candidates gives per-shard match
 * counts (a bounded, ≤-shard-count collect, the house model-state
 * contract). At 100 TB a 5-id takedown reads the handful of shards the
 * manifest stats cannot rule out, not the table. Without stats (or
 * stats on a different column) discovery degrades to one manifest-scoped
 * scan of every shard — correct, just un-pruned. Untouched shards keep
 * their manifest entries and are never read again.
 *
 * Crash safety is ENTIRELY the manifest contract: survivors of the hit
 * shards are rewritten through the sink's own two-phase commit into an
 * invisible scratch subdirectory, and [[ShardPublish.switchCopyOnWrite]]
 * (shared with [[ShardCompact.compact]], which holds the publish order)
 * switches readers from (all old shards) to (untouched old shards +
 * rewritten shards) in ONE atomic manifest publish. A crash before that
 * publish leaves the table untouched (re-run to converge); a crash
 * after it leaves the delete APPLIED with orphan data files at worst,
 * and a re-run then matches nothing and is a no-op. Deleted rows remain
 * on disk until the replaced shards are deleted (and until a physical
 * `fs.delete` completes) — a compliance pipeline should verify cleanup,
 * as with any copy-on-write store.
 *
 * Concurrency is the [[ShardLock]] structural guarantee (the sink's
 * commit takes the same lock, so even an append cannot interleave with
 * the publish). The NEAR-DUP index deliberately has no delete
 * counterpart: an admission screen treats a takedown as "never re-admit
 * this content", which is exactly what the retained band keys express.
 * The BM25 index handles deletes via doc-keyed tombstones
 * ([[graft.operators.Retrieval]]), since postings ARE doc-keyed.
 */
object ShardDelete {

  /** Hit-discovery prune, exposed for spec-level file-list asserts and
    * the stage-timed scale probes: the shard names a delete/upsert of
    * `keys` must read, given the table's `_STATS`/`_BLOOM` sidecars (all
    * manifested shards when they are absent or keyed differently). */
  def candidateShards(
      spark: SparkSession,
      path: String,
      schema: StructType,
      keyCol: String,
      keys: DataFrame): Seq[String] = {
    val t = ShardPublish.table(spark, path)
    ShardPrune.candidateShards(spark, ShardStats.readAll(t.fs, t.dir),
      ShardBloom.readAll(t.fs, t.dir), schema(keyCol).dataType, keyCol, keys,
      ShardPublish.manifest(t).map(_._1))
  }

  /**
   * Delete every row of the table at `path` whose `keyCol` appears in
   * `keys` (a one-column DataFrame — joined, never collected, so a
   * large takedown list is fine). Returns the number of rows deleted
   * (0 = no-op, manifest untouched).
   */
  def deleteByKey(
      spark: SparkSession,
      path: String,
      schema: StructType,
      keyCol: String,
      keys: DataFrame,
      leaseMs: Long = ShardLock.DefaultLeaseMs): Long = {
    require(schema.fieldNames.contains(keyCol),
      s"key column '$keyCol' not in table schema ${schema.fieldNames.mkString(",")}")
    require(keys.columns.length == 1,
      s"keys must be a one-column frame, got ${keys.columns.mkString(",")}")
    ShardPublish.locked(spark, path, leaseMs) { (t, old) =>
    val (dir, fs) = (t.dir, t.fs)
    // ONE read per sidecar per operation (each readIfExists is a
    // metadata round trip on an object store), threaded to every
    // consumer below
    val tableStats = ShardStats.readAll(fs, dir)
    val tableBloom = ShardBloom.readAll(fs, dir)
    ShardSchema.requireCovers(t.schemaSidecar, dir, schema, "deleteByKey")
    if (old.isEmpty) return 0L

    val rawKeys = keys.toDF("__k")
    val keyDf = rawKeys.distinct()
    // manifest-level prune FIRST: shards whose sidecars rule out every
    // key are never read (zero data I/O for them); the probe needs no
    // distinct, so it skips the key frame's shuffle
    val candidates = ShardPrune.candidateShards(spark, tableStats, tableBloom,
      schema(keyCol).dataType, keyCol, rawKeys, old.map(_._1))
    if (candidates.isEmpty) return 0L
    val tombs = ShardTombstones.readIfExists(fs, dir)
    // live merge-on-read tombstones apply BEFORE hit counting: rows a
    // deferred delete already removed logically must neither count as
    // deleted here nor be resurrected by the rewrite
    val tagged = ShardReader.scan(spark, t, schema, candidates, tombs,
      keepShard = true)

    // ONE pass over the CANDIDATES finds the hit shards and their
    // per-shard match counts — ≤ shard-count rows on the driver, bounded
    // by the table's file count, never its data
    val hitCounts = tagged
      .join(keyDf, tagged(keyCol) === col("__k"), "left_semi")
      .groupBy(col("__shard")).agg(count(lit(1)).as("__n"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    if (hitCounts.isEmpty) return 0L
    val deleted = hitCounts.values.sum

    // rewrite ONLY the hit shards' survivors into invisible scratch,
    // then switch. Snapshot-pinned replaced shards stay on disk (the
    // [[ShardSnapshot]] compliance note: a takedown's bytes survive
    // until the pinning snapshots are dropped and vacuumed)
    val scratch = new Path(dir, s"_delete-${UUID.randomUUID().toString.take(8)}")
    ShardPublish.writeScratch(
      tagged.filter(col("__shard").isin(hitCounts.keys.toSeq: _*))
        .join(keyDf, tagged(keyCol) === col("__k"), "left_anti")
        .drop("__shard"),
      scratch, tableStats, tableBloom, t.format)
    ShardPublish.switchCopyOnWrite(t, old, hitCounts.keySet, scratch,
      tableStats, tableBloom, tombs)
    deleted
    }
  }

  /**
   * MERGE-ON-READ keyed delete — the metadata-sized takedown
   * ([[ShardTombstones]] has the full design): publish the key set as
   * one tombstone segment scoped to the currently-manifested shards,
   * WITHOUT reading or rewriting any data file. Every read path
   * ([[ShardReader.read]]/[[ShardReader.readByKey]],
   * [[ShardSnapshot.read]], the CDC feeds, and the copy-on-write
   * mutators' own scans) anti-joins live tombstones out;
   * [[ShardCompact.compact]] materializes them and retires the
   * segments. On a 100 TB table a 5-key takedown costs one
   * takedown-sized parquet write plus one sidecar rename under the
   * lock — no shard I/O at all — where [[deleteByKey]] pays a full
   * rewrite of every hit shard.
   *
   * Returns the number of DISTINCT non-null keys recorded (a deferred
   * delete never scans, so it cannot count matched rows — keys absent
   * from the table are recorded and harmlessly never match). Nulls are
   * dropped (null never equals — keyed deletes cannot remove null-key
   * rows, same as [[deleteByKey]]). The tombstone key column is a
   * table-level property while segments are live: deferring deletes on
   * a second column is refused loud (compact to materialize first).
   * Re-running the same deferred delete is idempotent in effect (the
   * second segment's keys filter nothing new) and converges physically
   * at the next compaction.
   */
  def deleteByKeyDeferred(
      spark: SparkSession,
      path: String,
      schema: StructType,
      keyCol: String,
      keys: DataFrame,
      leaseMs: Long = ShardLock.DefaultLeaseMs): Long = {
    require(schema.fieldNames.contains(keyCol),
      s"key column '$keyCol' not in table schema ${schema.fieldNames.mkString(",")}")
    require(keys.columns.length == 1,
      s"keys must be a one-column frame, got ${keys.columns.mkString(",")}")
    ShardPublish.locked(spark, path, leaseMs) { (t, old) =>
    val (dir, fs) = (t.dir, t.fs)
    ShardSchema.requireCovers(t.schemaSidecar, dir, schema, "deleteByKeyDeferred")
    if (old.isEmpty) return 0L
    val keyType = schema(keyCol).dataType
    val tag = ShardSchema.tagOf(keyType)
    val prior = ShardTombstones.readIfExists(fs, dir)
    prior.foreach(ts => require(ts.column == keyCol && ts.tag == tag,
      s"table at $path already carries tombstones on '${ts.column}' " +
        s"(${ts.tag}); compact to materialize them before deferring " +
        s"deletes on '$keyCol' ($tag)"))
    ShardTombstones.writeSegment(spark, fs, dir, keyCol, keyType, keys) match {
      case None => 0L
      case Some((file, n)) =>
        val seg = ShardTombstones.Segment(file, n, old.map(_._1).toSet)
        val merged = prior
          .map(ts => ts.copy(segments = ts.segments :+ seg))
          .getOrElse(ShardTombstones.Tombstones(keyCol, tag, Seq(seg)))
        ShardTombstones.writeAtomic(t.conf, fs, dir, merged)
        n
    }
    }
  }

  /**
   * Copy-on-write keyed UPSERT — the other half of the keyed-maintenance
   * pair ([[deleteByKey]]): every existing row whose `keyCol` matches an
   * update row's key is replaced, update rows with a new key are
   * inserted, and ONE atomic manifest publish switches readers to the
   * post-upsert table — the MERGE INTO of the shard store, under the
   * same four-step crash contract (a crash before the publish leaves the
   * table untouched; after it, the upsert is applied with orphan files
   * at worst, and a re-run converges: the same updates then replace
   * their own prior values).
   *
   * `updates` carries the FULL table schema and must be key-unique
   * (checked — two update rows for one key have no deterministic
   * outcome). Historical multi-copies of a key (the same id appended
   * twice) are healed by construction: every old copy lives in a hit
   * shard and is anti-joined out, exactly one update row lands. Only hit
   * shards are rewritten; hit DISCOVERY reads only the shards the
   * `_STATS` key ranges cannot rule out — with stats, an upsert touching
   * a handful of keys reads and rewrites a handful of shards; without
   * them it falls back to one manifest-scoped scan of every shard to
   * find the hits (still rewriting only hits).
   *
   * Returns (replaced, inserted): old rows removed, update keys that
   * matched no existing row. Concurrency is the [[ShardLock]] structural
   * guarantee, as in [[deleteByKey]].
   */
  def upsertByKey(
      spark: SparkSession,
      path: String,
      schema: StructType,
      keyCol: String,
      updates: DataFrame,
      leaseMs: Long = ShardLock.DefaultLeaseMs): (Long, Long) = {
    require(updates.columns.toSeq == schema.fieldNames.toSeq,
      s"updates must carry the table schema ${schema.fieldNames.mkString(",")}" +
        s" in order, got ${updates.columns.mkString(",")}")
    ShardPublish.locked(spark, path, leaseMs) { (t, old) =>
    val (dir, fs) = (t.dir, t.fs)
    val tableStats = ShardStats.readAll(fs, dir)
    val tableBloom = ShardBloom.readAll(fs, dir)
    ShardSchema.requireCovers(t.schemaSidecar, dir, schema, "upsertByKey")

    // updates feed four consumers (uniqueness gate, count, hit scan,
    // write) — scope-cached so the caller's plan runs once
    val up = graft.CacheScope.scoped(updates)
    // row count + key-uniqueness gate in ONE action (r19 — the separate
    // count + limit(1) gate was two full plans over the cached frame;
    // each lifecycle row pays the mutator's action count in driver
    // planning, which JobProfile measured dominating these rows)
    val gate = up.groupBy(col(keyCol)).agg(count(lit(1)).as("__n"))
      .agg(coalesce(sum(col("__n")), lit(0L)),
        coalesce(max(col("__n")), lit(0L)),
        first(when(col("__n") > 1, col(keyCol)), ignoreNulls = true)).head()
    val nUpdates = gate.getLong(0)
    if (nUpdates == 0L) return (0L, 0L)
    require(gate.getLong(1) <= 1L,
      s"updates are not key-unique on '$keyCol' (e.g. ${gate.get(2)}) — " +
        "an upsert with two rows for one key has no deterministic outcome")
    val keyDf = up.select(col(keyCol).as("__k"))

    // manifest-level prune, then ONE pass over the candidates feeds the
    // rollup below — per-shard hit counts and the matched-key count come
    // out of the same action
    val candidates = ShardPrune.candidateShards(spark, tableStats, tableBloom,
      schema(keyCol).dataType, keyCol, keyDf, old.map(_._1))
    val tombsU = ShardTombstones.readIfExists(fs, dir)
    // tombstones apply before hit counting (deleteByKey's rationale);
    // the upsert's own NEW rows land in fresh shards outside every
    // segment's scope, so re-inserting a tombstoned key just works
    val tagged = if (candidates.isEmpty) null
      else ShardReader.scan(spark, t, schema, candidates, tombsU, keepShard = true)
    // per-shard hit counts AND the global matched-key count in ONE
    // rollup action (r19): the grand-total row carries the global
    // countDistinct, the per-shard rows the counts — replacing two
    // actions over a scope-cached hit set with one uncached pass
    val hitAgg = if (candidates.isEmpty) Array.empty[org.apache.spark.sql.Row]
      else tagged.join(keyDf, tagged(keyCol) === col("__k"), "left_semi")
        .select(col("__shard"), col(keyCol).as("__key"))
        .rollup(col("__shard"))
        .agg(count(lit(1)).as("__n"), countDistinct(col("__key")).as("__d"))
        .collect()
    val hitCounts = hitAgg.filter(!_.isNullAt(0))
      .map(r => (r.getString(0), r.getLong(1))).toMap
    val replaced = hitCounts.values.sum
    val matchedKeys = hitAgg.find(_.isNullAt(0)).map(_.getLong(2)).getOrElse(0L)

    // survivors of the hit shards + ALL update rows, rewritten in ONE
    // append through the sink's own two-phase commit into invisible
    // scratch, then switched
    val scratch = new Path(dir, s"_upsert-${UUID.randomUUID().toString.take(8)}")
    val rows =
      if (hitCounts.isEmpty) up
      else tagged.filter(col("__shard").isin(hitCounts.keys.toSeq: _*))
        .join(keyDf, tagged(keyCol) === col("__k"), "left_anti")
        .drop("__shard")
        .unionByName(up)
    ShardPublish.writeScratch(rows, scratch, tableStats, tableBloom, t.format)
    ShardPublish.switchCopyOnWrite(t, old, hitCounts.keySet, scratch,
      tableStats, tableBloom, tombsU)
    (replaced, nUpdates - matchedKeys)
    }
  }
}
