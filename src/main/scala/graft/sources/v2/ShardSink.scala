package graft.sources.v2

import java.io.{BufferedWriter, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.util.UUID

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/**
 * DataSource V2 transactional JSONL shard sink — the WRITE half of the
 * V2 contract ([[TraceGenSource]] covers batch read, [[EventLogSource]]
 * the streaming read): newline-delimited JSON shards, the lingua franca
 * of LLM corpus interchange, written through the full two-phase commit
 * protocol.
 *
 *   df.write.format("graft.sources.v2.ShardSink")
 *     .option("path", dir).mode("append").save()
 *
 * Commit protocol (the part that matters at 1000 executors):
 *  - each task writes to `_staging-<queryId>/part-<task>-<uuid>.jsonl`
 *    and reports the file in its [[WriterCommitMessage]]; a task that
 *    fails or is speculatively duplicated leaves only staging garbage,
 *    never a visible file (its abort deletes even that);
 *  - the driver's job-level `commit` takes the table's [[ShardLock]],
 *    MOVES every reported file into the target directory and then
 *    writes a `_MANIFEST` (file → row count) MERGED with the manifest
 *    of any prior append job to the same directory — readers that
 *    require atomicity read the manifest ([[ShardReader]] is that
 *    reader), so a crash between renames exposes at worst unreferenced
 *    files, never a half-written or double-counted shard, and a second
 *    append never un-publishes the first job's shards. The lock makes
 *    the old "sequential appends only" discipline STRUCTURAL: racing
 *    commits serialize on it instead of racing the manifest
 *    read-merge-write, and an append's rename-then-publish window can
 *    never interleave with a [[ShardSnapshot.vacuum]] listing (the
 *    commit is bounded metadata work — renames plus one manifest write
 *    — so the lock hold is short). Under CONTENTION a commit retries
 *    with jittered backoff for up to `commitRetryMs` (default 60 s,
 *    0 = fail-fast): appends are mergeable by construction — every
 *    attempt re-reads and re-merges — so an N-job append fleet landing
 *    on one table makes progress in some serial order, each job landing
 *    exactly once (the optimistic-commit shape of Delta-class stores);
 *    the copy-on-write mutators keep fail-fast, their conflicts are not
 *    mergeable;
 *  - job-level `abort` deletes the staging directory wholesale.
 *
 * Supported row schema: primitive columns only (string / integral /
 * double / boolean — a shard line is flat by design); strings are
 * JSON-escaped. ShardSinkSpec asserts round-trip equality through
 * `spark.read.json`, manifest counts, and that staging never leaks into
 * a listing of the committed directory.
 *
 * Option `statsColumn=<col>` activates per-shard min/max statistics for
 * that column, published to the `_STATS` sidecar ([[ShardStats]]) in
 * the same commit — the data-skipping metadata that lets
 * [[ShardDelete.deleteByKey]]/[[ShardDelete.upsertByKey]] find their
 * hit shards without scanning the table. Stats are a pruning hint, not
 * a correctness dependency: appends without the option leave their
 * shards un-pruned (always scanned), never wrong.
 *
 * Append-heavy tables accumulate small shards (one per micro-batch);
 * [[ShardCompact]] is the matching maintenance pass — it consolidates
 * the manifested shards and republishes atomically under the same
 * manifest contract.
 */
class ShardSink extends TableProvider {
  /** Reads infer the table's own `_SCHEMA` (every column ever appended,
    * widen-only evolution); writes supply the DataFrame schema through
    * external metadata, so a fresh (schema-less) table infers empty. */
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    Option(options.get("path")).flatMap { p =>
      val dir = new Path(p)
      val fs = dir.getFileSystem(
        SparkSession.active.sessionState.newHadoopConf())
      ShardSchema.readIfExists(fs, dir).map(_.toStructType)
    }.getOrElse(StructType(Nil))
  override def supportsExternalMetadata(): Boolean = true
  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table =
    new ShardTable(schema, properties.asScala.toMap)
}

private[v2] class ShardTable(schema: StructType, props: Map[String, String])
    extends Table with SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsRead {
  override def name(): String = s"shards(${props.getOrElse("path", "?")})"
  override def schema(): StructType = schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_WRITE, TableCapability.BATCH_READ)
  /** The V2 READ relation ([[ShardScanBuilder]]): manifest-scoped,
    * sidecar-pruned, tombstone-screened — what `spark.read`/SQL gets. */
  override def newScanBuilder(
      options: CaseInsensitiveStringMap): org.apache.spark.sql.connector.read.ScanBuilder = {
    val path = Option(options.get("path"))
      .orElse(props.get("path"))
      .getOrElse(throw new IllegalArgumentException(
        "ShardSink reads require a 'path' option"))
    require(schema.nonEmpty,
      s"table at $path has no ${ShardSchema.FileName} (a pre-evolution " +
        "table) — pass the historical schema explicitly with .schema(...)")
    new ShardScanBuilder(path, schema)
  }
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    val path = info.options.get("path")
    require(path != null, "ShardSink requires a 'path' option")
    ShardSink.validate(info.schema())
    // stats columns (comma-separated list since r18 — a real table
    // prunes point lookups on its id AND takedowns on its digest),
    // validated at plan time: present and of a rangeable type — a typo
    // here must fail the write, not silently skip stats
    val statsCols: Seq[(String, Int, String)] =
      Option(info.options.get(ShardStats.OptionKey)).toSeq
        .flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty).map { c =>
          val idx = info.schema().fieldNames.indexOf(c)
          require(idx >= 0,
            s"${ShardStats.OptionKey} '$c' is not a column of the written " +
              s"schema ${info.schema().fieldNames.mkString(",")}")
          val tag = ShardStats.dtypeTag(info.schema()(idx).dataType).getOrElse(
            throw new IllegalArgumentException(
              s"${ShardStats.OptionKey} '$c' has type " +
                s"${info.schema()(idx).dataType} — stats need an ordered " +
                "primitive (integral / floating / string)"))
          (c, idx, tag)
        }
    require(statsCols.map(_._1).distinct.size == statsCols.size,
      s"duplicate ${ShardStats.OptionKey} entries: " +
        statsCols.map(_._1).mkString(","))
    // bloom columns, validated at plan time like the stats columns; the
    // `_BLOOM` sidecar is the prune for HASH-distributed keys (content
    // digests) that min/max ranges cannot touch — see [[ShardBloom]].
    // `bloomBits` is one value for all listed columns or a matching
    // comma list.
    val bloomColNames = Option(info.options.get(ShardBloom.OptionKey)).toSeq
      .flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty)
    val bloomBitsList: Seq[Int] = Option(info.options.get(ShardBloom.BitsOptionKey))
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).map(_.toInt).toSeq)
      .getOrElse(Seq(ShardBloom.DefaultBits))
    require(bloomColNames.isEmpty || bloomBitsList.size == 1 ||
      bloomBitsList.size == bloomColNames.size,
      s"${ShardBloom.BitsOptionKey} must be one value or one per " +
        s"${ShardBloom.OptionKey} column")
    val bloomCols: Seq[(String, Int, String, Int)] =
      bloomColNames.zipWithIndex.map { case (c, i) =>
        val idx = info.schema().fieldNames.indexOf(c)
        require(idx >= 0,
          s"${ShardBloom.OptionKey} '$c' is not a column of the written " +
            s"schema ${info.schema().fieldNames.mkString(",")}")
        val tag = ShardBloom.tagFor(info.schema()(idx).dataType).getOrElse(
          throw new IllegalArgumentException(
            s"${ShardBloom.OptionKey} '$c' has type " +
              s"${info.schema()(idx).dataType} — a bloom needs a hashable " +
              "primitive (integral / floating / string)"))
        val mBits =
          if (bloomBitsList.size == 1) bloomBitsList.head else bloomBitsList(i)
        require(mBits >= 64 && mBits % 8 == 0 && mBits <= (1 << 26),
          s"${ShardBloom.BitsOptionKey} must be a multiple of 8 in " +
            s"[64, ${1 << 26}]: $mBits")
        (c, idx, tag, mBits)
      }
    require(bloomCols.map(_._1).distinct.size == bloomCols.size,
      s"duplicate ${ShardBloom.OptionKey} entries: " +
        bloomCols.map(_._1).mkString(","))
    // commit-contention budget: how long a lock-held COMMIT retries
    // before failing loud. Appends are mergeable by construction (the
    // locked commit re-reads and re-merges manifest/stats/bloom on every
    // attempt), so an N-job append fleet landing on one table serializes
    // with progress instead of failing — the optimistic-commit shape of
    // Delta-class stores, expressed as retry-under-one-lock because the
    // lock hold is bounded metadata work. 0 disables (fail-fast).
    val retryMs = Option(info.options.get(ShardSink.RetryOptionKey))
      .map(_.toLong).getOrElse(ShardSink.DefaultCommitRetryMs)
    require(retryMs >= 0, s"${ShardSink.RetryOptionKey} must be >= 0: $retryMs")
    // payload format — a TABLE-LEVEL property pinned in `_SCHEMA`; see
    // [[ShardPayload]]. Resolved below: an EXPLICIT option must match an
    // existing pin; an absent option ADOPTS the pin (the natural append
    // call on a parquet table carries no option — defaulting it to jsonl
    // and then refusing the "switch" would reject every such append),
    // falling back to jsonl only on a fresh table.
    val explicitFmt = Option(info.options.get(ShardPayload.OptionKey))
      .map(ShardPayload.validate)
    // Capture the SESSION's Hadoop configuration at write-build time (we
    // are on the driver here) — a bare `new Configuration()` would drop
    // any configured filesystem settings (s3a/abfs credentials,
    // endpoints, custom schemes), silently confining the sink to
    // default-config filesystems.
    val hadoopConf = new SerializableHadoopConf(
      SparkSession.active.sessionState.newHadoopConf())
    // best-effort EARLY schema-evolution check (plan time, before any
    // task runs): a type-changing append fails here with a clean error;
    // the authoritative re-check runs inside the locked commit
    val fmt = locally {
      val dir = new Path(path)
      val fs = dir.getFileSystem(hadoopConf.value)
      val prior = ShardSchema.readIfExists(fs, dir)
      prior.foreach { p =>
        ShardSchema.validateAndMerge(p, info.schema(), path)
        explicitFmt.foreach(f => require(p.format == f,
          s"table at $path stores ${p.format} shards; an append " +
            s"cannot switch it to $f — the payload format is a " +
            "table-level property (rewrite the table to change it)"))
      }
      // same best-effort early check for the PER-COLUMN sidecar
      // properties: a column's stats dtype / bloom geometry can never
      // change (authoritative re-check inside the locked commit, BEFORE
      // any rename). Appending stats/blooms on an ADDITIONAL column
      // opens a new section — prior shards simply lack entries there
      // (the hint-only degradation).
      locally {
        val prevStats = ShardStats.readAll(fs, dir)
        statsCols.foreach { case (colName, _, tag) =>
          prevStats.find(_.column == colName).foreach(s => require(
            s.dtype == tag,
            s"table at $path already carries stats on '$colName' " +
              s"(${s.dtype}); an append cannot retype them to $tag — a " +
              "column's stats dtype is a table-level property"))
        }
        val prevBloom = ShardBloom.readAll(fs, dir)
        bloomCols.foreach { case (colName, _, tag, mBits) =>
          prevBloom.find(_.column == colName).foreach(b => require(
            b.tag == tag && b.mBits == mBits,
            s"table at $path already carries a bloom on '$colName' " +
              s"(${b.tag}, m=${b.mBits}); an append cannot switch it to " +
              s"($tag, m=$mBits) — a column's bloom geometry is a " +
              "table-level property"))
        }
      }
      explicitFmt.orElse(prior.map(_.format)).getOrElse(ShardPayload.Jsonl)
    }
    new WriteBuilder {
      override def build(): Write = new Write {
        override def toBatch: BatchWrite =
          new ShardBatchWrite(
            path, info.queryId(), info.schema(), hadoopConf, statsCols,
            bloomCols, retryMs, fmt)
      }
    }
  }
}

/** Java-serializable carrier for a Hadoop `Configuration` (which is
  * `Writable` but not `Serializable`), so the session's filesystem
  * settings reach executor-side writers. Same shape as Spark's internal
  * `SerializableConfiguration`, re-stated here because that class is not
  * public API. */
private[v2] class SerializableHadoopConf(@transient var value: Configuration)
    extends Serializable {
  private def writeObject(out: java.io.ObjectOutputStream): Unit = {
    out.defaultWriteObject()
    value.write(out)
  }
  private def readObject(in: java.io.ObjectInputStream): Unit = {
    in.defaultReadObject()
    value = new Configuration(false)
    value.readFields(in)
  }
}

private[v2] object ShardSink {
  /** Write option: total milliseconds a lock-held commit keeps retrying
    * before failing loud (0 = fail-fast). */
  val RetryOptionKey = "commitRetryMs"
  val DefaultCommitRetryMs = 60000L

  def validate(schema: StructType): Unit = schema.fields.foreach { f =>
    f.dataType match {
      case StringType | LongType | IntegerType | ShortType | ByteType |
          DoubleType | FloatType | BooleanType => ()
      case other => throw new IllegalArgumentException(
        s"ShardSink writes flat JSONL; column '${f.name}' has unsupported type $other")
    }
  }

  def jsonLine(schema: StructType, row: InternalRow): String = {
    val sb = new java.lang.StringBuilder(64)
    sb.append('{')
    var i = 0
    while (i < schema.length) {
      if (i > 0) sb.append(',')
      sb.append('"').append(schema(i).name).append("\":")
      if (row.isNullAt(i)) sb.append("null")
      else schema(i).dataType match {
        case StringType =>
          sb.append('"')
          val s = row.getUTF8String(i).toString
          var j = 0
          while (j < s.length) {
            s.charAt(j) match {
              case '"' => sb.append("\\\"")
              case '\\' => sb.append("\\\\")
              case '\n' => sb.append("\\n")
              case '\r' => sb.append("\\r")
              case '\t' => sb.append("\\t")
              case c if c < 0x20 => sb.append(f"\\u$c%04x")
              case c => sb.append(c)
            }
            j += 1
          }
          sb.append('"')
        case LongType => sb.append(row.getLong(i))
        case IntegerType => sb.append(row.getInt(i))
        case ShortType => sb.append(row.getShort(i).toInt)
        case ByteType => sb.append(row.getByte(i).toInt)
        case DoubleType => sb.append(row.getDouble(i))
        case FloatType => sb.append(row.getFloat(i))
        case BooleanType => sb.append(row.getBoolean(i))
        case _ => throw new IllegalStateException("validated above")
      }
      i += 1
    }
    sb.append('}')
    sb.toString
  }
}

private[v2] case class ShardCommit(
    stagedPath: String, rows: Long,
    // positional, aligned with the write's statsCols / bloomCols order
    statsRanges: Seq[Option[(String, String)]] = Nil,
    blooms: Seq[Option[Array[Byte]]] = Nil)
    extends WriterCommitMessage

private[v2] class ShardBatchWrite(
    path: String, queryId: String, schema: StructType,
    conf: SerializableHadoopConf,
    statsCols: Seq[(String, Int, String)],
    bloomCols: Seq[(String, Int, String, Int)] = Nil,
    commitRetryMs: Long = 0L,
    fmt: String = ShardPayload.Jsonl)
    extends BatchWrite with Serializable {
  private def fs(p: Path) = p.getFileSystem(conf.value)
  private val stagingDir = new Path(path, s"_staging-$queryId")

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new ShardWriterFactory(stagingDir.toString, schema, conf,
      statsCols.map { case (_, idx, tag) => (idx, tag) },
      bloomCols.map { case (_, idx, _, mBits) => (idx, mBits) },
      fmt)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    // Bounded retry on a HELD lock (acquire-path only — a release-side
    // overlap report is never retried): every attempt re-runs the full
    // read-merge-write under the lock, so N racing append jobs each
    // land exactly once, in some serial order. Deterministic per-query
    // jitter (queryId hash) de-synchronizes a fleet that started in
    // lockstep; the backoff is capped so a short commit behind a long
    // queue is not punished quadratically.
    val deadline = System.currentTimeMillis() + commitRetryMs
    var attempt = 0
    var done = false
    while (!done) {
      try { commitOnce(messages); done = true }
      catch {
        case e: ShardLock.LockHeldException
            if e.retryable && System.currentTimeMillis() < deadline =>
          attempt += 1
          val base = math.min(2000L, 100L * attempt)
          val jitter = math.floorMod(
            queryId.hashCode.toLong * 2654435761L + attempt, base + 1L)
          Thread.sleep(math.min(base + jitter,
            math.max(0L, deadline - System.currentTimeMillis())))
      }
    }
  }

  private def commitOnce(messages: Array[WriterCommitMessage]): Unit = {
    val target = new Path(path)
    val f = fs(target)
    f.mkdirs(target)
    // The whole publish — renames plus the manifest (and stats)
    // read-merge-write — holds the table's maintenance lock: a second
    // job committing at the same instant fails loud instead of silently
    // un-publishing this job's shards, and a concurrent vacuum can never
    // list the window where renamed shards are not yet manifested.
    ShardLock.withLock(f, path, ShardLock.DefaultLeaseMs) {
    // EVERY compatibility refusal fires BEFORE the first rename: a
    // refused append must fail with NOTHING published — a check that ran
    // after the renames and the manifest write would report failure with
    // the rows already durably committed and visible to readers (the
    // worst of both worlds).
    val mfPath = new Path(target, ShardManifest.FileName)
    val prior: Seq[(String, Long)] = ShardPublish.readTextIfExists(f, mfPath)
      .fold(Seq.empty[(String, Long)])(ShardManifest.parse(_, mfPath))
    // per-column sidecar compatibility (authoritative; plan time
    // re-checks best-effort): a column's stats dtype / bloom geometry
    // can never change; additional columns open new sections
    val priorStats = ShardStats.readAll(f, target)
    statsCols.foreach { case (colName, _, tag) =>
      priorStats.find(_.column == colName).foreach(s => require(
        s.dtype == tag,
        s"table at $path already carries stats on '$colName' " +
          s"(${s.dtype}); an append cannot retype them to $tag — a " +
          "column's stats dtype is a table-level property"))
    }
    val priorBloom = ShardBloom.readAll(f, target)
    bloomCols.foreach { case (colName, _, tag, mBits) =>
      priorBloom.find(_.column == colName).foreach(b => require(
        b.tag == tag && b.mBits == mBits,
        s"table at $path already carries a bloom on '$colName' " +
          s"(${b.tag}, m=${b.mBits}); an append cannot switch it to " +
          s"($tag, m=$mBits) — a column's bloom geometry is a " +
          "table-level property"))
    }
    // MERGE with any existing manifest: the documented usage is
    // mode("append"), and atomicity-sensitive readers read only the
    // manifest — an overwrite here would make previously committed
    // shards vanish for them. Shard names are task-UUID-unique, so a
    // plain union is a well-defined merge; dropping names already
    // present keeps a driver-retried commit idempotent. Parsing is the
    // shared STRICT ShardManifest (fail here rather than launder a
    // corrupt line into every future manifest), and publication is its
    // atomic staged-rename, so a crash mid-publish leaves the previous
    // manifest — and with it every previously committed shard — intact.
    // `_SCHEMA` FIRST (authoritative evolution check + merge, under the
    // lock): a crash between the schema write and the manifest write
    // leaves known-but-dataless columns (harmless NULLs), never
    // manifested shards carrying columns the schema file does not know
    ShardSchema.readIfExists(f, target) match {
      case Some(priorTs) =>
        require(priorTs.format == fmt,
          s"table at $path stores ${priorTs.format} shards; an append " +
            s"cannot switch it to $fmt — the payload format is a " +
            "table-level property (rewrite the table to change it)")
        ShardSchema.validateAndMerge(priorTs, schema, path).foreach(merged =>
          ShardSchema.writeAtomic(conf.value, f, target, merged))
      case None =>
        // bootstrap ONLY a table with no committed shards: on a
        // pre-schema table (pre-r16 `_MANIFEST`, no `_SCHEMA`) the
        // append's write schema alone is NOT the table schema —
        // historical shards' extra columns would be silently dropped by
        // readEvolved and a historical type difference silently
        // null-filled, exactly the corruption class `_SCHEMA` exists to
        // refuse. Adoption is an explicit, audited step that supplies
        // the full historical schema: [[ShardSchema.migrate]].
        require(prior.isEmpty,
          s"table at $path has ${prior.size} committed shards but no " +
            s"${ShardSchema.FileName} (a pre-schema table) — bootstrapping " +
            "the schema from this append alone would silently drop any " +
            "historical column it does not carry; run " +
            "ShardSchema.migrate(spark, path, fullHistoricalSchema) once, " +
            "then append")
        ShardSchema.writeAtomic(conf.value, f, target,
          ShardSchema.TableSchema(1,
            schema.fields.toSeq.map(fd =>
              (fd.name, ShardSchema.tagOf(fd.dataType))), fmt))
    }
    val existing = prior.map(_._1).toSet
    val staged = messages.toSeq.map { case c: ShardCommit => c }
    // idempotent under a retried or crash-resumed commit (see moveIn),
    // which is what makes the idempotency claim above actually hold
    ShardPublish.moveIn(f, staged.map(c => new Path(c.stagedPath)), target,
      "commit")
    val fresh = staged.map(c => (new Path(c.stagedPath).getName, c.rows))
      .filterNot { case (name, _) => existing.contains(name) }
    ShardPublish.writeAtomic(conf.value, f, mfPath,
      ShardManifest.serialize(prior ++ fresh))
    // stats AFTER the manifest: a crash between the two leaves fresh
    // shards manifested but stats-less — they degrade to un-pruned scan
    // candidates, never to a wrong prune. Per-COLUMN section merge:
    // this append's columns merge their fresh entries into their own
    // sections (created if new); every other section passes unchanged.
    if (statsCols.nonEmpty) {
      val freshNames = fresh.map(_._1).toSet
      val merged = statsCols.zipWithIndex.foldLeft(priorStats) {
        case (sections, ((colName, _, tag), i)) =>
          val freshStats = messages.toSeq.flatMap {
            case ShardCommit(staged, _, ranges, _) =>
              val name = new Path(staged).getName
              if (freshNames.contains(name)) Some(name -> ranges(i)) else None
          }.toMap
          // update IN PLACE — the first-ever-configured column must
          // stay the FIRST section (the compaction layout axis); new
          // sections append at the end
          sections.find(_.column == colName) match {
            case Some(prev) => sections.map(s =>
              if (s.column == colName)
                s.copy(ranges = prev.ranges ++ freshStats)
              else s)
            case None =>
              sections :+ ShardStats.Stats(colName, tag, freshStats)
          }
      }
      ShardStats.writeAllAtomic(conf.value, f, target, merged)
    }
    // bloom LAST, same hint-only crash ordering as the stats: a crash
    // anywhere before this write leaves fresh shards manifested but
    // bloom-less — un-pruned scan candidates, never a wrong prune
    if (bloomCols.nonEmpty) {
      val freshNames = fresh.map(_._1).toSet
      val merged = bloomCols.zipWithIndex.foldLeft(priorBloom) {
        case (sections, ((colName, _, tag, mBits), i)) =>
          val freshBlooms = messages.toSeq.flatMap {
            case ShardCommit(staged, _, _, blooms) =>
              val name = new Path(staged).getName
              if (freshNames.contains(name))
                // empty = the writer's all-null-keys sentinel -> `-`
                Some(name -> blooms(i).flatMap(b =>
                  if (b.isEmpty) None else Some(b)))
              else None
          }.toMap
          // in-place update, same section-order rationale as the stats
          sections.find(_.column == colName) match {
            case Some(prev) => sections.map(s =>
              if (s.column == colName)
                s.copy(filters = prev.filters ++ freshBlooms)
              else s)
            case None => sections :+ ShardBloom.Bloom(
              colName, tag, mBits, ShardBloom.KHashes, freshBlooms)
          }
      }
      ShardBloom.writeAllAtomic(conf.value, f, target, merged)
    }
    f.delete(stagingDir, true)
    }
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    fs(stagingDir).delete(stagingDir, true)
}

private[v2] class ShardWriterFactory(
    stagingDir: String, schema: StructType, conf: SerializableHadoopConf,
    stats: Seq[(Int, String)],
    bloom: Seq[(Int, Int)] = Nil,
    fmt: String = ShardPayload.Jsonl)
    extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] = {
    val file = new Path(stagingDir,
      // full UUID: a table accumulating hundreds of thousands of
      // micro-batch shards (mostly part-00000-*) would make a truncated
      // suffix collide across appends/compactions
      f"part-$partitionId%05d-${UUID.randomUUID().toString}" +
        ShardPayload.extensionOf(fmt))
    new ShardDataWriter(file, schema, conf, stats, bloom, fmt)
  }
}

private[v2] class ShardDataWriter(
    file: Path, schema: StructType, conf: SerializableHadoopConf,
    stats: Seq[(Int, String)],
    bloom: Seq[(Int, Int)] = Nil,
    fmt: String = ShardPayload.Jsonl)
    extends DataWriter[InternalRow] {
  private val f = file.getFileSystem(conf.value)
  private val out = ShardPayload.newWriter(fmt, file, schema, conf.value)
  private var rows = 0L
  // one tracker per configured column, positional (the commit message
  // carries the results in the same order)
  private val trackers = stats.map { case (_, tag) => new ShardStatsTracker(tag) }
  private val bloomTrackers = bloom.map { case (idx, mBits) =>
    new ShardBloomTracker(schema(idx).dataType, mBits) }

  override def write(record: InternalRow): Unit = {
    out.write(record)
    rows += 1
    var s = 0
    while (s < stats.length) {
      val (idx, tag) = stats(s)
      if (!record.isNullAt(idx)) {
        val t = trackers(s)
        tag match {
          case "long" => schema(idx).dataType match {
            case LongType => t.updateLong(record.getLong(idx))
            case IntegerType => t.updateLong(record.getInt(idx).toLong)
            case ShortType => t.updateLong(record.getShort(idx).toLong)
            case _ => t.updateLong(record.getByte(idx).toLong)
          }
          case "double" => schema(idx).dataType match {
            case DoubleType => t.updateDouble(record.getDouble(idx))
            case _ => t.updateDouble(record.getFloat(idx).toDouble)
          }
          case _ => t.updateString(record.getUTF8String(idx))
        }
      }
      s += 1
    }
    var b = 0
    while (b < bloom.length) {
      val (idx, _) = bloom(b)
      if (!record.isNullAt(idx)) {
        // hash by the column's EXACT type — the prober casts the key
        // frame to the same type, so the xxhash64 values agree
        val v: Any = schema(idx).dataType match {
          case StringType => record.getUTF8String(idx)
          case LongType => java.lang.Long.valueOf(record.getLong(idx))
          case IntegerType => java.lang.Integer.valueOf(record.getInt(idx))
          case ShortType => java.lang.Short.valueOf(record.getShort(idx))
          case ByteType => java.lang.Byte.valueOf(record.getByte(idx))
          case DoubleType => java.lang.Double.valueOf(record.getDouble(idx))
          case _ => java.lang.Float.valueOf(record.getFloat(idx))
        }
        bloomTrackers(b).update(v)
      }
      b += 1
    }
  }
  override def commit(): WriterCommitMessage = {
    out.close()
    // bloom encoding in the message: None = every key was null (the
    // sidecar's `-` marker — a real filter is never empty, m/8 >= 8
    // bytes); the Seq is positional per configured column
    ShardCommit(file.toString, rows, trackers.map(_.result),
      bloomTrackers.map(t => Some(t.result.getOrElse(Array.emptyByteArray))))
  }
  override def abort(): Unit = {
    try out.close() catch { case _: Throwable => () }
    f.delete(file, false)
  }
  override def close(): Unit = ()
}
