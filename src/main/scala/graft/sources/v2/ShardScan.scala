package graft.sources.v2

import java.nio.charset.StandardCharsets

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetReader
import org.apache.parquet.hadoop.api.{InitContext, ReadSupport}
import org.apache.parquet.io.api.{Binary, Converter, GroupConverter, PrimitiveConverter, RecordMaterializer}
import org.apache.parquet.schema.MessageType
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.{EqualNullSafe, EqualTo, Filter, In}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
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
 *  - **column pruning**: the jsonl reader emits only the requested
 *    columns, the parquet reader requests only their pages;
 *  - **merge-on-read tombstones**: live [[ShardTombstones]] segments
 *    are loaded driver-side (takedown-sized by design, with a loud
 *    guard) and each reader filters its shard's scoped keys out.
 *
 * Row delivery is a purpose-built row-at-a-time reader per payload
 * (Jackson over jsonl lines; parquet-hadoop [[ParquetReader]] under an
 * [[InternalRow]] materializer — the read twin of [[ShardPayload]]'s
 * WriteSupport). Filters are reported as pushed-for-pruning but are
 * ALWAYS also left in the plan (`pushedFilters` ⊂ handled-by-Spark):
 * the prune is shard-level, row-level evaluation stays above the scan,
 * so a false-positive shard can never leak a wrong row. Full-table
 * SCANS of parquet payloads should still prefer [[ShardReader.read]] —
 * it rides Spark's vectorized parquet reader — while point lookups and
 * SQL access get the pruned V2 path; the two are parity-gated by the
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
    val dir = new Path(path)
    val fs = dir.getFileSystem(
      SparkSession.active.sessionState.newHadoopConf())
    val mfPath = new Path(dir, ShardManifest.FileName)
    // _TOMBSTONES is read BEFORE _MANIFEST (r18 ADVICE): the two reads
    // are not atomic, and a reader racing a copy-on-write mutator that
    // captured the PRE-rewrite manifest with the POST-switch
    // sidecar could serve a snapshot-pinned replaced shard WITHOUT its
    // tombstone scope — silently resurrecting deleted keys. Scopes only
    // ever SHRINK, so the inverted skew (stale tombstones + fresh
    // manifest) is safe: at worst a scope names a shard the manifest no
    // longer lists, and the anti-join predicate matches nothing.
    val tombstones = ShardTombstones.readIfExists(fs, dir)
    val manifest = ShardPublish.readTextIfExists(fs, mfPath)
    ShardScanMeta(
      manifestExists = manifest.isDefined,
      entries = manifest.fold(Seq.empty[(String, Long)])(
        ShardManifest.parse(_, mfPath)),
      stats = ShardStats.readAll(fs, dir),
      bloom = ShardBloom.readAll(fs, dir),
      tombstones = tombstones,
      fmt = ShardPayload.of(fs, dir))
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
    val fmt = meta.fmt
    // merge-on-read tombstones ride into the readers as per-segment
    // (scope, keys) pairs — loaded once on the driver, takedown-sized
    val tombs = meta.tombstones.map { t =>
      val totalKeys = t.segments.map(_.nKeys).sum
      require(totalKeys <= ShardScan.MaxInlineTombstoneKeys,
        s"table at $path carries $totalKeys pending tombstone keys — " +
          "beyond the V2 scan's inline bound; compact to materialize " +
          "them or read through ShardReader.read (relational anti-join)")
      require(tableSchema.fieldNames.contains(t.column) &&
        ShardSchema.tagOf(
          tableSchema(t.column).dataType) == t.tag,
        s"tombstones at $path are keyed on '${t.column}' (${t.tag}) which " +
          "the table schema does not carry compatibly")
      val keyDt = tableSchema(t.column).dataType
      // explicit one-column schema: the type was just verified against
      // the sidecar tag, so the read skips footer inference (r20)
      val segSchema = StructType(Seq(StructField(t.column, keyDt)))
      (t.column, t.segments.map { s =>
        val keys = spark.read.schema(segSchema)
          .parquet(new Path(dir, s.file).toString)
          .collect().map(_.get(0)).filter(_ != null)
          .map(ShardRowReader.toComparable(_, keyDt))
        (s.shards, keys)
      })
    }
    candidates.map { name =>
      val excluded: Array[Any] = tombs match {
        case Some((_, segs)) =>
          segs.filter(_._1.contains(name)).flatMap(_._2).toArray
        case None => Array.empty
      }
      ShardScanPartition(new Path(dir, name).toString, fmt,
        tombs.map(_._1).orNull, excluded): InputPartition
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new ShardReaderFactory(tableSchema, required,
      new SerializableHadoopConf(
        SparkSession.active.sessionState.newHadoopConf()))
}

/** One manifested shard file; `excludedKeys` are the tombstone keys
  * scoped to THIS shard (normalized comparable form), `tombColumn`
  * names the column they key on (null when none). */
private[v2] case class ShardScanPartition(
    file: String, fmt: String, tombColumn: String, excludedKeys: Array[Any])
    extends InputPartition

private[v2] class ShardReaderFactory(
    tableSchema: StructType, required: StructType, conf: SerializableHadoopConf)
    extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val sp = p.asInstanceOf[ShardScanPartition]
    sp.fmt match {
      case ShardPayload.Parquet =>
        new ParquetShardPartitionReader(sp, tableSchema, required, conf)
      case _ => new JsonlShardPartitionReader(sp, tableSchema, required, conf)
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

/** Shared tombstone screen: reads parse the shard row, then drop it
  * when its key is in the shard-scoped excluded set. */
private[v2] abstract class ScreenedReader(
    sp: ShardScanPartition, tableSchema: StructType, required: StructType)
    extends PartitionReader[InternalRow] {
  private val excluded: java.util.HashSet[Any] =
    if (sp.excludedKeys.isEmpty) null
    else {
      val s = new java.util.HashSet[Any](sp.excludedKeys.length * 2)
      sp.excludedKeys.foreach(s.add)
      s
    }
  protected val keyDt: DataType =
    if (sp.tombColumn == null) NullType else tableSchema(sp.tombColumn).dataType
  /** The parsed key value of the CURRENT row (comparable form), or null. */
  protected def currentKey(): Any
  protected def advance(): Boolean
  final override def next(): Boolean = {
    while (advance()) {
      if (excluded == null) return true
      val k = currentKey()
      if (k == null || !excluded.contains(k)) return true
    }
    false
  }
}

/** Jackson line parser → InternalRow of the REQUIRED columns; the
  * tombstone key column is parsed even when not required. */
private[v2] class JsonlShardPartitionReader(
    sp: ShardScanPartition, tableSchema: StructType, required: StructType,
    conf: SerializableHadoopConf)
    extends ScreenedReader(sp, tableSchema, required) {
  private val in = {
    val p = new Path(sp.file)
    new java.io.BufferedReader(new java.io.InputStreamReader(
      p.getFileSystem(conf.value).open(p), StandardCharsets.UTF_8))
  }
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
  private val row = new GenericInternalRow(required.length)
  private var key: Any = null

  override protected def currentKey(): Any = key
  override protected def advance(): Boolean = {
    var line = in.readLine()
    while (line != null && line.isEmpty) line = in.readLine()
    if (line == null) return false
    val node = mapper.readTree(line)
    var i = 0
    while (i < required.length) {
      val f = required(i)
      row.update(i, JsonlShardPartitionReader.valueOf(node, f.name, f.dataType))
      i += 1
    }
    key =
      if (sp.tombColumn == null) null
      else {
        val raw = JsonlShardPartitionReader.valueOf(node, sp.tombColumn, keyDt)
        if (raw == null) null else ShardRowReader.toComparable(raw, keyDt)
      }
    true
  }
  override def get(): InternalRow = row
  override def close(): Unit = in.close()
}

private[v2] object JsonlShardPartitionReader {
  def valueOf(node: com.fasterxml.jackson.databind.JsonNode,
      name: String, dt: DataType): Any = {
    val v = node.get(name)
    if (v == null || v.isNull) null
    else dt match {
      case StringType => UTF8String.fromString(v.asText())
      case LongType => v.asLong()
      case IntegerType => v.asInt()
      case ShortType => v.asInt().toShort
      case ByteType => v.asInt().toByte
      case DoubleType => v.asDouble()
      case FloatType => v.asDouble().toFloat
      case BooleanType => v.asBoolean()
      case other => throw new IllegalStateException(
        s"ShardSink.validate admits no $other")
    }
  }
}

/** parquet-hadoop reader under an InternalRow materializer — the read
  * twin of [[ShardPayload]]'s WriteSupport. Requests only the needed
  * columns' pages; columns absent from an old shard read back NULL
  * (widen-only evolution). */
private[v2] class ParquetShardPartitionReader(
    sp: ShardScanPartition, tableSchema: StructType, required: StructType,
    conf: SerializableHadoopConf)
    extends ScreenedReader(sp, tableSchema, required) {
  // read schema = required ∪ the tombstone key column (appended when
  // missing — parsed for the screen, not emitted). A ZERO-column plan
  // (SELECT 1, df.isEmpty — possible only with no live tombstones, else
  // the key column is appended) must still read ONE arbitrary table
  // column: parquet rejects an empty group schema outright
  // (InvalidSchemaException), so an empty projection would fail loud on
  // a legitimate row-count query (r18 ADVICE, low). jsonl tolerates
  // zero columns, so only this reader pads.
  private val readCols: StructType = {
    val withTomb =
      if (sp.tombColumn == null || required.fieldNames.contains(sp.tombColumn))
        required
      else StructType(required.fields :+ tableSchema(sp.tombColumn))
    if (withTomb.isEmpty) StructType(Array(tableSchema.fields.head))
    else withTomb
  }
  private val keyIdx =
    if (sp.tombColumn == null) -1 else readCols.fieldNames.indexOf(sp.tombColumn)
  private val reader: ParquetReader[InternalRow] =
    ParquetReader.builder(
      new InternalRowReadSupport(readCols), new Path(sp.file))
      .withConf(conf.value).build()
  private var current: InternalRow = _

  override protected def currentKey(): Any =
    if (keyIdx < 0 || current.isNullAt(keyIdx)) null
    else ShardRowReader.toComparable(current.get(keyIdx, keyDt), keyDt)
  override protected def advance(): Boolean = {
    current = reader.read()
    current != null
  }
  override def get(): InternalRow =
    if (readCols.length == required.length) current
    else new GenericInternalRow(Array.tabulate[Any](required.length)(i =>
      current.get(i, required(i).dataType)))
  override def close(): Unit = reader.close()
}

private[v2] class InternalRowReadSupport(requested: StructType)
    extends ReadSupport[InternalRow] {
  override def init(ctx: InitContext): ReadSupport.ReadContext = {
    val fileSchema = ctx.getFileSchema
    // request only the fields this file actually has; the materializer
    // leaves the rest NULL (widen-only evolution)
    val present = StructType(requested.fields.filter(f =>
      fileSchema.containsField(f.name)))
    new ReadSupport.ReadContext(ShardPayload.messageType(present))
  }
  override def prepareForRead(
      conf: org.apache.hadoop.conf.Configuration,
      meta: java.util.Map[String, String],
      fileSchema: MessageType,
      ctx: ReadSupport.ReadContext): RecordMaterializer[InternalRow] = {
    val projection = ctx.getRequestedSchema
    // projected field i writes into requested slot slotOf(i)
    val slotOf: Array[Int] = (0 until projection.getFieldCount)
      .map(i => requested.fieldNames.indexOf(
        projection.getFields.get(i).getName)).toArray
    new RecordMaterializer[InternalRow] {
      private val row = new GenericInternalRow(requested.length)
      private val root: GroupConverter = new GroupConverter {
        override def getConverter(field: Int): Converter =
          new PrimitiveConverter {
            private val slot = slotOf(field)
            private val dt = requested(slot).dataType
            override def addBinary(v: Binary): Unit =
              row.update(slot, UTF8String.fromBytes(v.getBytes))
            override def addLong(v: Long): Unit = row.update(slot, v)
            override def addInt(v: Int): Unit = row.update(slot, dt match {
              case ShortType => v.toShort
              case ByteType => v.toByte
              case _ => v
            })
            override def addDouble(v: Double): Unit = row.update(slot, v)
            override def addFloat(v: Float): Unit = row.update(slot, v)
            override def addBoolean(v: Boolean): Unit = row.update(slot, v)
          }
        override def start(): Unit = {
          var i = 0
          while (i < requested.length) { row.update(i, null); i += 1 }
        }
        override def end(): Unit = ()
      }
      override def getRootConverter: GroupConverter = root
      override def getCurrentRecord: InternalRow = row
    }
  }
}
