package graft.sources.v2

import java.util.UUID

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType

/**
 * Atomic small-file compaction for [[ShardSink]] directories — the
 * maintenance half every append-heavy table needs at scale: a streaming
 * ingest lands one shard per micro-batch, and a year of micro-batches
 * is hundreds of thousands of small files whose listing and per-file
 * open costs dominate reads long before data volume does.
 *
 * Crash safety comes ENTIRELY from the existing manifest contract — at
 * every instant `_MANIFEST` names a complete, self-consistent shard
 * set, and files it does not name are invisible orphans to
 * [[ShardReader]]. The manifested rows are rewritten as `targetShards`
 * consolidated shards through the sink's own two-phase commit into an
 * invisible scratch subdirectory, and
 * [[ShardPublish.switchCopyOnWrite]] publishes them with every old shard
 * replaced: a crash anywhere before its manifest publish leaves the old
 * table intact, after it the new one, never a mix.
 *
 * Concurrency is the [[ShardLock]] structural guarantee — the sink's
 * job commit takes the same lock, so a compaction cannot interleave
 * with an append's publish. Re-running after any crash is safe and
 * converges (compacting an already-compact table is a no-op).
 */
object ShardCompact {

  /** Rewrite the manifested shards of `path` into `targetShards` files.
    * No-op when the table already has ≤ `targetShards` shards. Returns
    * the number of shards after compaction. A table carrying `_STATS`
    * key ranges keeps them: the rewrite re-collects stats on the same
    * column, so compaction never costs the keyed-maintenance prune.
    *
    * Layout: by default (and always when the table carries `_STATS`)
    * the rewrite is RANGE-partitioned on the stats/`sortBy` column, so
    * each output shard covers a disjoint key range — a hash/round-robin
    * repartition would leave every output shard spanning the whole key
    * domain and silently destroy the min/max prune the stats exist for
    * (every future takedown back to a full-table read). Pass
    * `sortBy = Some(col)` to range-lay-out a stats-less table too. */
  def compact(
      spark: SparkSession,
      path: String,
      schema: StructType,
      targetShards: Int = 1,
      leaseMs: Long = ShardLock.DefaultLeaseMs,
      sortBy: Option[String] = None): Int = {
    require(targetShards >= 1, s"targetShards must be >= 1: $targetShards")
    sortBy.foreach(c => require(schema.fieldNames.contains(c),
      s"sortBy column '$c' not in table schema ${schema.fieldNames.mkString(",")}"))
    ShardPublish.locked(spark, path, leaseMs) { (t, old) =>
    val (dir, fs) = (t.dir, t.fs)
    ShardSchema.requireCovers(t.schemaSidecar, dir, schema, "compact")
    // live merge-on-read tombstones force the rewrite even on an
    // already-compact table: compaction IS their materialization step
    // ([[ShardTombstones]]) — early-returning would leave a 1-shard
    // table's deferred deletes logical forever
    val tombs = ShardTombstones.readIfExists(fs, dir)
    if (old.size <= targetShards && tombs.isEmpty) return old.size
    val tableStats = ShardStats.readAll(fs, dir)
    val tableBloom = ShardBloom.readAll(fs, dir)
    // range layout keys on the FIRST stats column (the table's primary
    // prune axis by convention); secondary sidecars re-collect on the
    // new layout like any append
    val layoutCol = sortBy.orElse(tableStats.headOption.map(_.column))

    // consolidate into a scratch dir whose content is invisible to
    // readers of `path`. The rewrite consumes [[ShardReader.read]],
    // which applies every live tombstone, so the switch retires ALL
    // segments (their files stay on disk for snapshot readers until
    // vacuum), and the fresh stats/bloom become the whole sidecars.
    val scratch = new Path(dir, s"_compact-${UUID.randomUUID().toString.take(8)}")
    val in = ShardReader.read(spark, path, schema)
    val shaped = layoutCol match {
      case Some(c) if targetShards > 1 =>
        in.repartitionByRange(targetShards, org.apache.spark.sql.functions.col(c))
      case Some(c) =>
        in.coalesce(1).sortWithinPartitions(org.apache.spark.sql.functions.col(c))
      case None => in.repartition(targetShards)
    }
    ShardPublish.writeScratch(shaped, scratch, tableStats, tableBloom, t.format)
    ShardPublish.switchCopyOnWrite(t, old, old.map(_._1).toSet,
      scratch, tableStats, tableBloom, tombs).size
    }
  }
}
