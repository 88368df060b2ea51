package graft.sources.v2

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
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
    val (dir, fs) = (t.dir, t.fs)
    // _TOMBSTONES BEFORE _MANIFEST (r18 ADVICE): the non-atomic pair
    // must never capture a pre-rewrite manifest with a post-switch
    // sidecar (a pinned replaced shard would serve without its scope —
    // silent key resurrection). Scopes only shrink, so the inverted
    // skew is the safe direction. Same ordering as ShardScanMeta.load.
    val tomb = ShardTombstones.readIfExists(fs, dir)
    val files = ShardPublish.manifest(t)
      .map { case (name, _) => new Path(dir, name).toString }
    val base = ShardPayload.read(spark, schema, ShardPayload.of(fs, dir), files)
    tomb.fold(base)(t => ShardTombstones.minus(spark, dir, base, t, None))
  }

  /** The table's own authoritative schema (`_SCHEMA` sidecar, written
    * by every sink commit since r16): all columns ever appended, in
    * first-appearance order, every one nullable — the out-of-band
    * schema argument of [[read]] made unnecessary. Fails loud on a
    * pre-schema table (pass the schema explicitly there). */
  def tableSchema(spark: SparkSession, path: String): StructType = {
    val t = ShardPublish.table(spark, path)
    ShardSchema.readIfExists(t.fs, t.dir).getOrElse(throw new
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

  /** Keyed point lookup — the read-side payoff of the `_STATS` ranges
    * and `_BLOOM` filters ([[ShardPrune]]): return exactly the rows
    * whose `keyCol` is in `keys` (one-column DataFrame), READING only
    * the shards the sidecars cannot rule out. On a range-laid-out table
    * ([[ShardCompact.compact]] keeps that layout) a handful-of-ids
    * lookup opens a handful of shards regardless of table size; without
    * sidecars it degrades to a manifest-scoped scan + semi-join —
    * correct, just un-pruned.
    *
    * Key-set handling: a PROVABLY SMALL key set (≤ `maxPushKeys`
    * distinct keys, checked with a limit-bounded count — the collect is
    * bounded by the constant, never the data) becomes an `IN`-list
    * FILTER instead of a join. That filter reaches the scan
    * (`PushedFilters: [In(key, ...)]`): on a parquet-format table the
    * row groups whose column stats exclude every key are skipped
    * without decoding — the in-shard prune on top of the shard-level
    * one. The collected keys also probe the `_STATS`/`_BLOOM` sidecars
    * DRIVER-LOCALLY ([[ShardPrune.candidateShardsLocal]]) — the whole
    * shard-level prune costs zero Spark jobs and never materializes a
    * per-set-bit row. Larger key sets keep the join path (never
    * collected) with the caller's key pipeline SCOPE-CACHED
    * ([[graft.CacheScope]]) so its three consumers — stats prune, bloom
    * prune, final semi-join — evaluate it once, not three times; pass
    * `maxPushKeys = 0` to skip the size probe entirely when the key
    * pipeline is known-expensive and known-large. */
  def readByKey(
      spark: SparkSession,
      path: String,
      schema: StructType,
      keyCol: String,
      keys: DataFrame,
      maxPushKeys: Int = 128): DataFrame = {
    require(schema.fieldNames.contains(keyCol),
      s"key column '$keyCol' not in table schema ${schema.fieldNames.mkString(",")}")
    require(keys.columns.length == 1,
      s"keys must be a one-column frame, got ${keys.columns.mkString(",")}")
    val t = ShardPublish.table(spark, path)
    val (dir, fs) = (t.dir, t.fs)
    val keyType = schema(keyCol).dataType
    val rawKeys = keys.select(keys.columns.head).distinct()
      .withColumnRenamed(keys.columns.head, "__k")
    // size check FIRST, so a small key set is evaluated exactly ONCE:
    // one bounded collect yields (original, cast-to-table-type) pairs —
    // the original literals keep the final filter's semantics identical
    // to the join path's equality, the cast values feed the LOCAL
    // sidecar probes (which hash/compare in the table key type, the
    // r17 cast-collapse discipline). The collect is bounded by the
    // constant, never the data.
    val few =
      if (maxPushKeys <= 0) null
      else rawKeys
        .select(org.apache.spark.sql.functions.col("__k"),
          org.apache.spark.sql.functions.col("__k").cast(keyType).as("__kc"))
        .limit(maxPushKeys + 1).collect()
    val small = few != null && few.length <= maxPushKeys
    // _TOMBSTONES before _MANIFEST — see read() for the skew argument
    val tomb = ShardTombstones.readIfExists(fs, dir)
    def screened(files: Seq[String]): DataFrame = {
      val base = ShardPayload.read(
        spark, schema, ShardPayload.of(fs, dir), files)
      // tombstones directly over the scan: the shard tag derives from
      // input_file_name(), which only resolves below the first exchange
      tomb.fold(base)(t => ShardTombstones.minus(spark, dir, base, t, None))
    }
    val names = ShardPublish.manifest(t).map(_._1)
    if (small) {
      val castVals = few.map(_.get(1)).filter(_ != null).distinct.toSeq
      val candidates = ShardPrune.candidateShardsLocal(
        fs, dir, keyType, keyCol, castVals, names)
      val lits = few.map(_.get(0)).filter(_ != null) // null never equals
      if (candidates.isEmpty || lits.isEmpty)
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      else {
        val files = candidates.map(n => new Path(dir, n).toString)
        val df = screened(files)
        df.filter(df(keyCol).isin(lits.toSeq: _*))
      }
    } else {
      val keyDf = graft.CacheScope.scoped(rawKeys)
      val candidates = ShardPrune.candidateShards(spark, fs, dir,
        keyType, keyCol, keyDf, names)
      if (candidates.isEmpty)
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      else {
        val files = candidates.map(n => new Path(dir, n).toString)
        val df = screened(files)
        df.join(keyDf,
          df(keyCol) === org.apache.spark.sql.functions.col("__k"),
          "left_semi")
      }
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
