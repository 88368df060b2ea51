package graft.sources.v2

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions.{broadcast, col, element_at, input_file_name, split}
import org.apache.spark.sql.types.StructType

/**
 * Manifest-aware reader for [[ShardSink]] directories — the consumer
 * half of the sink's atomicity contract. The sink's scaladoc says
 * "readers that require atomicity read the manifest"; this IS that
 * reader: only shards published in `_MANIFEST` become input splits, so
 *
 *  - orphan shards from a job that crashed between renames are
 *    invisible (never double-read, never half-read),
 *  - staging directories of in-flight jobs are invisible,
 *  - a concurrent append publishes atomically: its shards appear only
 *    once its merged manifest lands.
 *
 * A plain `spark.read.json(dir)` sees whatever files exist — correct
 * only when nothing ever failed; this reader is the one to use from
 * pipelines that re-run on flaky infrastructure. The manifest also
 * carries per-shard row counts, so corruption surfaces as a count
 * mismatch ([[manifestRowCount]] vs an actual count) without trusting
 * the data files themselves.
 */
object ShardReader {

  private def manifestEntries(
      spark: SparkSession, path: String): Seq[(String, Long)] =
    ShardPublish.manifest(ShardPublish.table(spark, path))

  /** Read exactly the manifested shards under `path` with the given
    * schema (JSONL shards carry no embedded schema; the writer's schema
    * is the contract, same as any warehouse table). Live merge-on-read
    * tombstones ([[ShardTombstones]], published by
    * [[ShardDelete.deleteByKeyDeferred]]) are anti-joined out — zero
    * overhead when none are live. */
  def read(spark: SparkSession, path: String, schema: StructType): DataFrame = {
    val t = ShardPublish.table(spark, path)
    val (tombs, mf) = ShardPublish.published(t)
    scan(spark, t, schema, ShardPublish.committed(t, mf).map(_._1), tombs,
      keepShard = false)
  }

  /**
   * The one relational scan of a shard table: the named `shards`
   * (manifest or snapshot entries) of `t` under `schema`, decoded by
   * Spark's json/parquet file reader in the table's payload format,
   * with the segments of `tombs` anti-joined out — a row goes iff its
   * (key, shard) pair is scoped by some segment. Rows carry their shard
   * file name in `__shard` while the anti-join needs it, and after it
   * when `keepShard` (the mutators count and rewrite per shard). Zero
   * overhead when neither applies. Fails LOUD when `schema` cannot
   * apply the tombstones ([[ShardTombstones.keyType]]).
   */
  private[graft] def scan(
      spark: SparkSession,
      t: ShardDir,
      schema: StructType,
      shards: Seq[String],
      tombs: Option[ShardTombstones.Tombstones],
      keepShard: Boolean): DataFrame = {
    val files = shards.map(n => new Path(t.dir, n).toString)
    val rows =
      if (files.isEmpty)
        spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
      else if (t.format == ShardPayload.Parquet)
        spark.read.schema(schema).parquet(files: _*)
      else spark.read.schema(schema).json(files: _*)
    val live = tombs.filter(_.segments.nonEmpty)
    if (live.isEmpty && !keepShard) return rows
    // the tag derives from input_file_name(), which only resolves below
    // the first exchange: it is taken directly over the file scan
    val tagged = rows.withColumn("__shard",
      element_at(split(input_file_name(), "/"), -1))
    // One anti-join per live segment, keyed on the KEY COLUMN ONLY,
    // with the segment's shard scope as a row-local isInCollection
    // predicate on the tag. The prior form cross-joined each segment's
    // keys against its scope (nKeys × nShards rows) and force-broadcast
    // the product — on a many-shard table a large deferred delete
    // exploded that broadcast quadratically (r18 ADVICE, medium). Here
    // each join ships only the takedown-sized key set; the broadcast
    // hint applies only while the sidecar-recorded key count stays
    // under the same bound the V2 scan's inline path uses — past it the
    // planner/AQE picks the strategy (the ngramJaccard guarded-hint
    // discipline). Segments are few by construction (one per pending
    // delete, retired at compaction), so the chain stays shallow.
    val out = live.fold(tagged) { ts =>
      val keyType = ShardTombstones.keyType(ts, schema, t.dir)
      ts.segments.foldLeft(tagged) { (acc, s) =>
        val keys = ShardTombstones.segmentKeys(spark, t.dir, ts, keyType, s)
          .select(col(ts.column).as("__tk"))
        val hinted =
          if (s.nKeys <= ShardScan.MaxInlineTombstoneKeys) broadcast(keys)
          else keys
        acc.join(hinted,
          acc(ts.column) === col("__tk") &&
            acc("__shard").isInCollection(s.shards.toSeq.sorted),
          "left_anti")
      }
    }
    if (keepShard) out else out.drop("__shard")
  }

  /** The table's own authoritative schema (`_SCHEMA` sidecar, written
    * by every sink commit since r16): all columns ever appended, in
    * first-appearance order, every one nullable — the out-of-band
    * schema argument of [[read]] made unnecessary. Fails loud on a
    * pre-schema table (pass the schema explicitly there). */
  def tableSchema(spark: SparkSession, path: String): StructType = {
    ShardPublish.table(spark, path).schemaSidecar.getOrElse(throw new
        IllegalArgumentException(
          s"no ${ShardSchema.FileName} under $path — a pre-evolution " +
            "table; pass the schema explicitly to read()"))
      .toStructType
  }

  /** Schema-less read of an evolved table: the manifested shards under
    * the table's OWN `_SCHEMA` — shards written before a column was
    * added read back NULL there, the widen-only evolution contract. */
  def readEvolved(spark: SparkSession, path: String): DataFrame =
    read(spark, path, tableSchema(spark, path))

  /** Distinct keys up to which [[readByKey]] collects the key set and
    * pushes it into the scan as an `IN`-list. */
  private val MaxPushKeys = 128

  /** Keyed point lookup — the read-side payoff of the `_STATS` ranges
    * and `_BLOOM` filters ([[ShardPrune]]): return exactly the rows
    * whose `keyCol` is in `keys` (one-column DataFrame), READING only
    * the shards the sidecars cannot rule out. On a range-laid-out table
    * ([[ShardCompact.compact]] keeps that layout) a handful-of-ids
    * lookup opens a handful of shards regardless of table size; without
    * sidecars it degrades to a manifest-scoped scan + semi-join —
    * correct, just un-pruned.
    *
    * Key-set handling: a limit-bounded collect of the distinct keys
    * decides the path (bounded by the constant, never the data). A
    * PROVABLY SMALL key set (at most 128 distinct keys) becomes an
    * `IN`-list FILTER instead of a join. That filter reaches the scan
    * (`PushedFilters: [In(key, ...)]`): on a parquet-format table the
    * row groups whose column stats exclude every key are skipped
    * without decoding — the in-shard prune on top of the shard-level
    * one. The collected keys probe the sidecars on the driver
    * ([[ShardPrune.candidateShardsLocal]], zero Spark jobs). A larger
    * key set is never collected: the key frame serves two consumers,
    * the key-frame probe ([[ShardPrune.candidateShards]]) and the final
    * semi-join. Unless it is a local relation, the key frame is
    * persisted before the size check and, on this path, its cache joins
    * the caller's scope ([[graft.CacheScope]]), so the
    * caller's key pipeline is evaluated once. */
  def readByKey(
      spark: SparkSession,
      path: String,
      schema: StructType,
      keyCol: String,
      keys: DataFrame): DataFrame = {
    require(schema.fieldNames.contains(keyCol),
      s"key column '$keyCol' not in table schema ${schema.fieldNames.mkString(",")}")
    require(keys.columns.length == 1,
      s"keys must be a one-column frame, got ${keys.columns.mkString(",")}")
    val t = ShardPublish.table(spark, path)
    val (dir, fs) = (t.dir, t.fs)
    val keyType = schema(keyCol).dataType
    // a key frame already on the driver (a local relation) costs nothing
    // to re-read; any other is persisted first, so the caller's pipeline
    // runs once whichever path the size check picks. The raw frame is
    // what is kept: neither the key-frame probe nor the semi-join needs
    // distinct keys
    val raw = keys.toDF("__k")
    val cached = !raw.queryExecution.optimizedPlan.isInstanceOf[LocalRelation]
    val keyDf = if (cached) raw.persist() else raw
    // one bounded collect yields (original, cast-to-table-type) pairs —
    // the original literals keep the final filter's semantics identical
    // to the join path's equality, the cast values feed the driver probe
    // (which hashes/compares in the table key type, the cast-collapse
    // discipline)
    val few = keyDf.distinct()
      .select(col("__k"), col("__k").cast(keyType).as("__kc"))
      .limit(MaxPushKeys + 1).collect()
    val small = few.length <= MaxPushKeys
    if (cached) { if (small) keyDf.unpersist() else graft.CacheScope.adopt(keyDf) }
    val (tombs, mf) = ShardPublish.published(t)
    val names = ShardPublish.committed(t, mf).map(_._1)
    val (stats, bloom) = (ShardStats.readAll(fs, dir), ShardBloom.readAll(fs, dir))
    val candidates =
      if (small) ShardPrune.candidateShardsLocal(stats, bloom, keyType, keyCol,
        few.map(_.get(1)).filter(_ != null).distinct.toSeq, names)
      else ShardPrune.candidateShards(spark, stats, bloom, keyType, keyCol,
        keyDf, names)
    val lits = few.map(_.get(0)).filter(_ != null) // null never equals
    if (candidates.isEmpty || lits.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    else {
      val df = scan(spark, t, schema, candidates, tombs, keepShard = false)
      if (small) df.filter(df(keyCol).isin(lits.toSeq: _*))
      else df.join(keyDf, df(keyCol) === col("__k"), "left_semi")
    }
  }

  /** Total row count the manifest promises — compare with an actual
    * count to detect shard corruption without trusting the shards. */
  def manifestRowCount(spark: SparkSession, path: String): Long =
    manifestEntries(spark, path).map(_._2).sum

  /** Number of shards the manifest currently publishes — the small-file
    * pressure gauge that decides when [[ShardCompact.compact]] is due. */
  def manifestShardCount(spark: SparkSession, path: String): Int =
    manifestEntries(spark, path).size
}
