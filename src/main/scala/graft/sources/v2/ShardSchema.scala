package graft.sources.v2

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.types._

/**
 * Authoritative table schema sidecar (`_SCHEMA`) for [[ShardSink]]
 * tables — the schema-evolution half of the lakehouse contract (the
 * `_STATS` sidecar is the data-skipping half): a JSONL shard carries no
 * schema of its own, so without this file "the writer's schema is the
 * contract" means every reader must be told the schema out of band and
 * nothing stops two appends from silently disagreeing about a column's
 * TYPE — `spark.read.json` with a long schema reads a string-valued
 * field as NULL, no error anywhere (the silent-corruption class this
 * file exists to refuse).
 *
 * Evolution rule (Delta/Iceberg's widen-only shape, restricted to the
 * sink's flat primitives):
 *
 *  - an append whose write schema adds NEW columns merges them into the
 *    table schema (appended in write order; generation +1) — old shards
 *    simply lack the key and read back NULL, zero data rewritten;
 *  - an append MISSING known columns is fine (its rows read back NULL
 *    there) — the table schema is unchanged;
 *  - an append whose write schema gives a known column a DIFFERENT type
 *    is REFUSED loud, at plan time (best-effort, nice error before any
 *    task runs) and again authoritatively inside the locked commit.
 *
 * Format (strict, like [[ShardManifest]]): header `#v\t<generation>`,
 * then one `name\t<tag>` line per column in table order; every column
 * is nullable by construction (evolution forces it). Publication is the
 * atomic staged rename; ORDER MATTERS in the commit: `_SCHEMA` is
 * written BEFORE the manifest, so a crash between the two leaves extra
 * known columns with no data (harmless NULLs) — never manifested shards
 * carrying columns the schema file does not know (which a schema-less
 * reader would silently drop).
 */
private[graft] object ShardSchema {

  val FileName = "_SCHEMA"

  final case class TableSchema(
      generation: Int,
      fields: Seq[(String, String)],
      format: String = ShardPayload.Jsonl) {
    def toStructType: StructType =
      StructType(fields.map { case (n, t) =>
        StructField(n, ShardSchema.dataTypeOf(t), nullable = true)
      })
  }

  def tagOf(dt: DataType): String = dt match {
    case StringType => "string"
    case LongType => "long"
    case IntegerType => "int"
    case ShortType => "short"
    case ByteType => "byte"
    case DoubleType => "double"
    case FloatType => "float"
    case BooleanType => "boolean"
    case other => throw new IllegalArgumentException(
      s"ShardSink schema cannot carry type $other")
  }

  def dataTypeOf(tag: String): DataType = tag match {
    case "string" => StringType
    case "long" => LongType
    case "int" => IntegerType
    case "short" => ShortType
    case "byte" => ByteType
    case "double" => DoubleType
    case "float" => FloatType
    case "boolean" => BooleanType
    case other => throw new IllegalArgumentException(
      s"unknown $FileName type tag '$other'")
  }

  def serialize(ts: TableSchema): String =
    (s"#v\t${ts.generation}" +: s"#format\t${ts.format}" +:
      ts.fields.map { case (n, t) => s"$n\t$t" }).mkString("", "\n", "\n")

  def parse(text: String, where: Path): TableSchema = {
    val lines = text.linesIterator.filter(_.nonEmpty).toSeq
    require(lines.nonEmpty && lines.head.startsWith("#v\t"),
      s"malformed schema header in $where: ${lines.headOption.getOrElse("<empty>")}")
    val gen = lines.head.stripPrefix("#v\t").trim.toInt
    // `#format` pins the payload format (r17); a pre-pin file reads as
    // jsonl — bit-compatible with every existing table
    val (headerTail, format) = lines.tail match {
      case f +: rest if f.startsWith("#format\t") =>
        (rest, ShardPayload.validate(f.stripPrefix("#format\t").trim))
      case rest => (rest, ShardPayload.Jsonl)
    }
    val fields = headerTail.map { line =>
      val a = line.split('\t')
      require(a.length == 2 && a(0).nonEmpty,
        s"malformed schema line in $where: $line")
      dataTypeOf(a(1)) // strict: unknown tags fail at first sight
      (a(0), a(1))
    }
    require(fields.map(_._1).distinct.size == fields.size,
      s"duplicate column in $where")
    TableSchema(gen, fields, format)
  }

  def schemaPath(dir: Path): Path = new Path(dir, FileName)

  def readIfExists(fs: FileSystem, dir: Path): Option[TableSchema] =
    ShardPublish.readTextIfExists(fs, schemaPath(dir))
      .map(parse(_, schemaPath(dir)))

  def writeAtomic(
      conf: Configuration, fs: FileSystem, dir: Path, ts: TableSchema): Unit =
    ShardPublish.writeAtomic(conf, fs, schemaPath(dir), serialize(ts))

  /** Guard for the copy-on-write maintenance operators: their caller
    * schema must COVER the table's `_SCHEMA` (every evolved column
    * present, same type) — a rewrite through a narrower schema would
    * silently DROP evolved columns from the rewritten shards while the
    * schema file still lists them (every later read null-fills: data
    * loss with no error anywhere). Pass
    * [[ShardReader.tableSchema]] to maintenance calls on evolved
    * tables; pre-schema tables are unguarded (nothing to cover). */
  def requireCovers(
      fs: FileSystem, dir: Path, caller: StructType, op: String): Unit =
    requireCovers(readIfExists(fs, dir), dir, caller, op)

  /** Pre-parsed form — mutators read `_SCHEMA` once per operation. */
  def requireCovers(
      schema: Option[TableSchema], dir: Path, caller: StructType,
      op: String): Unit =
    schema.foreach { ts =>
      val have = caller.fields.map(f => (f.name, tagOf(f.dataType))).toMap
      ts.fields.foreach { case (n, t) =>
        require(have.get(n).contains(t),
          s"$op with a schema missing evolved column '$n' ($t) of the " +
            s"table at $dir — the rewrite would silently drop its data; " +
            "pass ShardReader.tableSchema(spark, path)")
      }
    }

  /** Explicit one-time adoption of a PRE-SCHEMA table (pre-evolution
    * `_MANIFEST`, no `_SCHEMA`) into the schema contract. The sink
    * refuses to bootstrap `_SCHEMA` on a table with committed shards —
    * an append's write schema alone is not the table schema, and
    * deriving it from one would silently drop every historical column
    * the append does not carry. This call is the audited migration step
    * that supplies the FULL historical schema; after it, appends evolve
    * normally. Takes the maintenance lock (it is a metadata publish);
    * refuses to overwrite an existing `_SCHEMA` (that table is already
    * adopted — evolution, not migration, changes it from there). */
  def migrate(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      full: StructType,
      leaseMs: Long = ShardLock.DefaultLeaseMs): Unit = {
    val dir = new Path(path)
    val conf = spark.sessionState.newHadoopConf()
    val fs = dir.getFileSystem(conf)
    ShardLock.withLock(fs, path, leaseMs) {
      require(!fs.exists(schemaPath(dir)),
        s"table at $path already carries ${FileName} — it is adopted; " +
          "appends evolve the schema from here (migrate is one-time)")
      // pre-schema tables are pre-format by definition: jsonl
      writeAtomic(conf, fs, dir, TableSchema(1,
        full.fields.toSeq.map(f => (f.name, tagOf(f.dataType))),
        ShardPayload.Jsonl))
    }
  }

  /** Validate a write schema against the table schema and return the
    * merged table schema — None when nothing changed. Throws on a type
    * conflict (the refusal this file exists for). */
  def validateAndMerge(
      prior: TableSchema, write: StructType, where: String): Option[TableSchema] = {
    val known = prior.fields.toMap
    write.fields.foreach { f =>
      known.get(f.name).foreach { tag =>
        require(tag == tagOf(f.dataType),
          s"column '${f.name}' is $tag in the table schema at $where but " +
            s"this append writes ${tagOf(f.dataType)} — a JSONL type change " +
            "reads back as silent NULLs; evolution is add-only (rewrite the " +
            "table to change a type)")
      }
    }
    val added = write.fields.toSeq
      .filterNot(f => known.contains(f.name))
      .map(f => (f.name, tagOf(f.dataType)))
    if (added.isEmpty) None
    else Some(TableSchema(prior.generation + 1, prior.fields ++ added,
      prior.format))
  }
}
