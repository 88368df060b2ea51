package graft.sources.v2

import org.apache.hadoop.fs.Path
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, UnsafeProjection}
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.execution.datasources.{FileFormat, PartitionedFile}
import org.apache.spark.sql.execution.datasources.json.JsonFileFormat
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.sources.{EqualNullSafe, EqualTo, Filter, In}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/**
 * The READ half of the shard store's DataSource V2 integration:
 * `spark.read.format("graft.sources.v2.ShardSink").load(dir)` — and
 * therefore every SQL view over it — gets what the imperative
 * [[ShardReader]] API earns:
 *
 *  - **manifest atomicity**: only `_MANIFEST`-published shards become
 *    input partitions (orphans and in-flight staging invisible);
 *  - **schema evolution**: the scan serves the table's own `_SCHEMA`
 *    (all columns ever appended; pre-column shards read back NULL);
 *  - **sidecar pruning, pushed from the PLAN**: `WHERE key = v` /
 *    `key IN (...)` filters on the `_STATS`/`_BLOOM` columns prune
 *    whole shards at planning time through the driver probe
 *    ([[ShardPrune.candidateShardsLocal]] — zero jobs), so the scan's
 *    partition list IS the candidate list;
 *  - **runtime filtering** ([[SupportsRuntimeFiltering]]): a join
 *    whose other side resolves to an IN-set on a sidecar column
 *    re-prunes the partition list at execution time through the same
 *    probe — the dynamic-partition-pruning shape, keyed on the store's
 *    own sidecars;
 *  - **column pruning**: only the requested columns are decoded;
 *  - **merge-on-read tombstones**: live [[ShardTombstones]] segments
 *    are loaded driver-side (takedown-sized by design, with a loud
 *    guard) and each task screens its shard's scoped keys out.
 *
 * Rows are decoded by the same Spark file readers [[ShardReader.scan]]
 * plans (`JsonFileFormat`, `ParquetFileFormat` — the vectorized one,
 * handing out rows): the reader is built once on the driver and each
 * task reads one shard file as one split, so the relation and the
 * imperative reader cannot decode a value differently. Filters are
 * reported as pushed-for-pruning but are ALWAYS also left in the plan
 * (`pushedFilters` ⊂ handled-by-Spark): the prune is shard-level,
 * row-level evaluation stays above the scan, so a false-positive shard
 * can never leak a wrong row. The two paths are parity-gated by the
 * `shard_v2_read` oracle row.
 */
private[v2] object ShardScan {

  /** Hard bound on driver-loaded tombstone keys for the V2 read path:
    * segments are takedown-sized by design; a table that accumulated
    * more pending deletes than this must compact (materialize) or read
    * through [[ShardReader.read]], which anti-joins relationally. */
  val MaxInlineTombstoneKeys = 2000000L

  /** Extract per-column equality value sets from pushed filters —
    * the shapes the sidecar prunes understand. */
  def equalityValues(filters: Seq[Filter]): Map[String, Seq[Any]] =
    filters.flatMap {
      case EqualTo(c, v) if v != null => Seq(c -> Seq(v))
      case EqualNullSafe(c, v) if v != null => Seq(c -> Seq(v))
      case In(c, vs) if vs != null => Seq(c -> vs.toSeq.filter(_ != null))
      case _ => Nil
    }.groupBy(_._1).map { case (c, vs) => c -> vs.flatMap(_._2).distinct }
}

private[v2] class ShardScanBuilder(path: String, tableSchema: StructType)
    extends ScanBuilder with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns
    with SupportsPushDownAggregates {

  private var pushed: Array[Filter] = Array.empty
  private var required: StructType = tableSchema

  // ONE metadata read per planned query: the sidecars are parsed here
  // lazily and threaded through every consumer (pushFilters, the
  // aggregate answer, the scan's planning and runtime re-pruning) —
  // on an object store each re-read is a metadata RPC, and planning
  // previously paid up to six of them
  private lazy val meta: ShardScanMeta = ShardScanMeta.load(path)
  // COMPLETE aggregate pushdown answered from the METADATA PLANE: an
  // unfiltered, ungrouped COUNT(*) is the manifest's row-count sum and
  // MIN/MAX over a stats column folds the `_STATS` ranges — one sidecar
  // read instead of a table scan (at 100 TB, the difference between a
  // metadata RPC and a cluster-hour). Only exact answers push: any
  // pushed filter, grouping, live tombstones (manifest counts become
  // upper bounds), a shard missing its stats entry, or a non-stats
  // column refuses — the scan falls back to rows, never approximates.
  private var aggAnswer: Option[Seq[Any]] = None
  private var aggSchema: StructType = _

  override def supportCompletePushDown(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Boolean = metadataAnswer(agg).isDefined

  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Boolean =
    metadataAnswer(agg) match {
      case Some((vals, schema)) =>
        aggAnswer = Some(vals); aggSchema = schema; true
      case None => false
    }

  /** The exact metadata answer for `agg`, or None when any element
    * cannot be answered exactly from `_MANIFEST`/`_STATS`. */
  private def metadataAnswer(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Option[(Seq[Any], StructType)] = {
    import org.apache.spark.sql.connector.expressions.aggregate.{CountStar, Max, Min}
    import org.apache.spark.sql.connector.expressions.NamedReference
    if (pushed.nonEmpty || agg.groupByExpressions().nonEmpty) return None
    if (!meta.manifestExists) return None
    if (meta.tombstones.isDefined) return None
    val entries = meta.entries
    val statsSections = meta.stats
    def colOf(e: org.apache.spark.sql.connector.expressions.Expression)
        : Option[String] = e match {
      case n: NamedReference if n.fieldNames.length == 1 =>
        Some(n.fieldNames.head)
      case _ => None
    }
    // fold one stats section end-to-end: every manifested shard must
    // carry an entry (None = all-null shard, skipped like SQL min/max
    // skips nulls); the fold stays in the column's own ordering
    def foldStats(colName: String, wantMin: Boolean): Option[(Any, DataType)] =
      tableSchema.fields.find(_.name == colName).flatMap { f =>
        statsSections.find(s => s.column == colName &&
          ShardStats.dtypeTag(f.dataType).contains(s.dtype)).flatMap { s =>
          if (!entries.forall { case (n, _) => s.ranges.contains(n) }) None
          else {
            val bounds = entries.flatMap { case (n, _) =>
              s.ranges(n).map(r => if (wantMin) r._1 else r._2) }
            if (bounds.isEmpty) Some((null, f.dataType)) // all-null column
            else s.dtype match {
              case "long" =>
                val v = if (wantMin) bounds.map(_.toLong).min
                        else bounds.map(_.toLong).max
                Some((f.dataType match {
                  case LongType => v
                  case IntegerType => v.toInt
                  case ShortType => v.toShort
                  case _ => v.toByte
                }, f.dataType))
              case "double" =>
                val ds = bounds.map(_.toDouble)
                val v = if (wantMin) ds.reduce((a, b) =>
                    if (java.lang.Double.compare(a, b) <= 0) a else b)
                  else ds.reduce((a, b) =>
                    if (java.lang.Double.compare(a, b) >= 0) a else b)
                Some((f.dataType match {
                  case DoubleType => v
                  case _ => v.toFloat
                }, f.dataType))
              case _ =>
                val us = bounds.map(UTF8String.fromString)
                Some((if (wantMin) us.min else us.max, f.dataType))
            }
          }
        }
      }
    val answered = agg.aggregateExpressions().toSeq.map {
      case _: CountStar =>
        Some((entries.map(_._2).sum: Any, LongType: DataType))
      case m: Min => colOf(m.column).flatMap(foldStats(_, wantMin = true))
      case m: Max => colOf(m.column).flatMap(foldStats(_, wantMin = false))
      case _ => None
    }
    if (answered.exists(_.isEmpty)) None
    else Some((answered.map(_.get._1),
      StructType(answered.zipWithIndex.map { case (a, i) =>
        StructField(s"agg_$i", a.get._2, nullable = true) })))
  }

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    // keep the equality shapes on sidecar-prunable columns for shard
    // pruning; EVERY filter is returned as residual — the prune is
    // shard-level, rows still filter above the scan (a bloom false
    // positive must never leak a row)
    val prunable =
      meta.stats.map(_.column).toSet ++ meta.bloom.map(_.column).toSet
    pushed = filters.filter {
      case EqualTo(c, _) => prunable.contains(c)
      case EqualNullSafe(c, _) => prunable.contains(c)
      case In(c, _) => prunable.contains(c)
      case _ => false
    }
    filters
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    // preserve TABLE column order (jsonl parse slots + parquet
    // projection are built positionally from this)
    required = StructType(
      tableSchema.fields.filter(f => requiredSchema.fieldNames.contains(f.name)))

  override def build(): Scan = aggAnswer match {
    case Some(vals) => new ShardAggScan(path, aggSchema, vals)
    case None => new ShardScanImpl(path, tableSchema, required, pushed, meta)
  }
}

/** One parsed snapshot of the table's metadata plane, shared by every
  * planning consumer of one query (driver-only, never serialized). */
private[v2] final case class ShardScanMeta(
    manifestExists: Boolean,
    entries: Seq[(String, Long)],
    stats: Seq[ShardStats.Stats],
    bloom: Seq[ShardBloom.Bloom],
    tombstones: Option[ShardTombstones.Tombstones],
    fmt: String)

private[v2] object ShardScanMeta {
  def load(path: String): ShardScanMeta = {
    val t = ShardPublish.table(SparkSession.active, path)
    val (tombstones, manifest) = ShardPublish.published(t)
    ShardScanMeta(
      manifestExists = manifest.isDefined,
      entries = manifest.getOrElse(Nil),
      stats = ShardStats.readAll(t.fs, t.dir),
      bloom = ShardBloom.readAll(t.fs, t.dir),
      tombstones = tombstones,
      fmt = t.format)
  }
}

/** The metadata-plane answer as a one-row scan: COUNT(*)/MIN/MAX folded
  * on the driver from `_MANIFEST`/`_STATS` at build time — zero data
  * files opened. */
private[v2] class ShardAggScan(
    path: String, schema: StructType, values: Seq[Any])
    extends Scan with Batch {
  override def readSchema(): StructType = schema
  override def description(): String =
    s"graft.ShardAggScan($path, metadata-answered aggregate)"
  override def toBatch: Batch = this
  override def planInputPartitions(): Array[InputPartition] =
    Array(ShardAggPartition(values.map {
      case s: String => UTF8String.fromString(s)
      case other => other
    }))
  override def createReaderFactory(): PartitionReaderFactory =
    new PartitionReaderFactory {
      override def createReader(
          p: InputPartition): PartitionReader[InternalRow] = {
        val vals = p.asInstanceOf[ShardAggPartition].values
        new PartitionReader[InternalRow] {
          private var emitted = false
          override def next(): Boolean =
            if (emitted) false else { emitted = true; true }
          override def get(): InternalRow =
            new GenericInternalRow(vals.toArray)
          override def close(): Unit = ()
        }
      }
    }
}

private[v2] case class ShardAggPartition(values: Seq[Any])
    extends InputPartition

private[v2] class ShardScanImpl(
    path: String,
    tableSchema: StructType,
    required: StructType,
    pushed: Array[Filter],
    @transient meta: ShardScanMeta)
    extends Scan with Batch with SupportsRuntimeFiltering {

  @volatile private var runtime: Array[Filter] = Array.empty

  override def readSchema(): StructType = required
  override def description(): String =
    s"graft.ShardScan($path, cols=[${required.fieldNames.mkString(",")}], " +
      s"pushed=[${pushed.mkString(",")}])"
  override def toBatch: Batch = this

  // runtime filtering: join-key IN-sets re-prune the partition list at
  // execution time with the same driver probe
  override def filterAttributes(): Array[NamedReference] =
    (meta.stats.map(_.column) ++ meta.bloom.map(_.column))
      .distinct.filter(tableSchema.fieldNames.contains(_))
      .map(Expressions.column).toArray
  override def filter(filters: Array[Filter]): Unit = runtime = filters

  override def planInputPartitions(): Array[InputPartition] = {
    val spark = SparkSession.active
    val dir = new Path(path)
    require(meta.manifestExists,
      s"no ${ShardManifest.FileName} under $path — nothing has been committed there")
    val manifested = meta.entries.map(_._1)
    // plan-time + runtime equality sets prune through the driver probe —
    // zero jobs, the scan's partition list IS the candidate list
    var candidates = manifested
    ShardScan.equalityValues((pushed ++ runtime).toSeq).foreach {
      case (colName, vals) =>
        tableSchema.fields.find(_.name == colName).foreach { f =>
          candidates = ShardPrune.candidateShardsLocal(meta.stats, meta.bloom,
            f.dataType, colName, vals, candidates)
        }
    }
    // merge-on-read tombstones ride into the tasks as per-shard excluded
    // key sets — loaded once on the driver, takedown-sized
    val segs = tombKey.fold(Seq.empty[(Set[String], Array[Any])]) {
      case (t, keyDt) =>
        val totalKeys = t.segments.map(_.nKeys).sum
        require(totalKeys <= ShardScan.MaxInlineTombstoneKeys,
          s"table at $path carries $totalKeys pending tombstone keys — " +
            "beyond the V2 scan's inline bound; compact to materialize " +
            "them or read through ShardReader.read (relational anti-join)")
        t.segments.map(s => (s.shards,
          ShardTombstones.segmentKeys(spark, dir, t, keyDt, s).collect()
            .map(_.get(0)).filter(_ != null)
            .map(ShardRowReader.toComparable(_, keyDt))))
    }
    candidates.map { name =>
      ShardScanPartition(new Path(dir, name).toString,
        segs.filter(_._1.contains(name)).flatMap(_._2).toArray): InputPartition
    }.toArray
  }

  /** The live tombstones and their key type, checked against the table
    * schema ([[ShardTombstones.keyType]]). */
  @transient private lazy val tombKey: Option[(ShardTombstones.Tombstones, DataType)] =
    meta.tombstones.map(t =>
      (t, ShardTombstones.keyType(t, tableSchema, new Path(path))))

  override def createReaderFactory(): PartitionReaderFactory = {
    val spark = SparkSession.active
    val conf = spark.sessionState.newHadoopConf()
    // the screen needs the tombstone key column even when the plan does not
    val tombCol = tombKey.map(_._1.column)
    val readCols = StructType(required.fields ++
      tombCol.filterNot(required.fieldNames.contains).map(tableSchema(_)))
    val (format: FileFormat, options) =
      if (meta.fmt == ShardPayload.Parquet)
        (new ParquetFileFormat, Map(FileFormat.OPTION_RETURNING_BATCH -> "false"))
      else (new JsonFileFormat, Map.empty[String, String])
    new ShardReaderFactory(
      format.buildReaderWithPartitionValues(spark, tableSchema, new StructType(),
        readCols, Nil, options, conf),
      required.length, readCols, tombCol.fold(-1)(readCols.fieldIndex),
      new SerializableHadoopConf(conf))
  }
}

/** One manifested shard file; `excludedKeys` are the tombstone keys
  * scoped to THIS shard (normalized comparable form). */
private[v2] case class ShardScanPartition(file: String, excludedKeys: Array[Any])
    extends InputPartition

/** One task per shard: `read` (the Spark file reader built on the
  * driver) decodes the file's `readCols`, the tombstone screen drops
  * rows whose key at `keyIdx` the shard's scope excludes, and rows are
  * cut to the plan's first `width` columns when the key column was read
  * only for the screen. */
private[v2] class ShardReaderFactory(
    read: PartitionedFile => Iterator[InternalRow],
    width: Int,
    readCols: StructType,
    keyIdx: Int,
    conf: SerializableHadoopConf)
    extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val sp = p.asInstanceOf[ShardScanPartition]
    val file = new Path(sp.file)
    // both readers take a byte range: the whole file is one split
    val len = file.getFileSystem(conf.value).getFileStatus(file).getLen
    val rows = read(PartitionedFile(InternalRow.empty, SparkPath.fromPath(file),
      0L, len, fileSize = len))
    val excluded = new java.util.HashSet[Any](sp.excludedKeys.length * 2)
    sp.excludedKeys.foreach(excluded.add)
    val keyDt = if (keyIdx < 0) NullType else readCols(keyIdx).dataType
    val cut =
      if (readCols.length == width) null
      else UnsafeProjection.create(readCols.fields.take(width).map(_.dataType))
    new PartitionReader[InternalRow] {
      private var row: InternalRow = _
      override def next(): Boolean = {
        while (rows.hasNext) {
          row = rows.next()
          if (excluded.isEmpty || row.isNullAt(keyIdx) || !excluded.contains(
              ShardRowReader.toComparable(row.get(keyIdx, keyDt), keyDt)))
            return true
        }
        false
      }
      override def get(): InternalRow = if (cut == null) row else cut(row)
      override def close(): Unit = rows match {
        case c: java.io.Closeable => c.close()
        case _ => ()
      }
    }
  }
}

private[v2] object ShardRowReader {
  /** Normalize a key value into the form rows compare under (strings →
    * UTF8String; ±0.0 folded so the hash-set screen agrees with SQL
    * equality — boxed Double/Float equals canonicalizes NaN already). */
  def toComparable(v: Any, dt: DataType): Any = dt match {
    case StringType => v match {
      case u: UTF8String => u
      case other => UTF8String.fromString(other.toString)
    }
    case DoubleType =>
      val d = v.asInstanceOf[Number].doubleValue()
      java.lang.Double.valueOf(if (d == 0.0d) 0.0d else d)
    case FloatType =>
      val f = v.asInstanceOf[Number].floatValue()
      java.lang.Float.valueOf(if (f == 0.0f) 0.0f else f)
    case _ => v
  }
}
