package graft.sources

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/**
 * Process-level resolved-schema cache for parquet ARTIFACT directories
 * whose schema is a writer-owned constant (index postings/norms, ANN
 * vectors/codes/model, near-dup band segments, CDC feed windows, and
 * the fixture tables via [[Tables]]'s own twin of this cache).
 *
 * Why (r20, guide §6/§7.3): every bare `spark.read.parquet(path)` pays
 * a driver-side footer read (schema inference) — a dedicated ~30 ms
 * Spark job plus its inter-job gap — once per READ CONSTRUCTION, and
 * the lifecycle queries construct the same artifact reads dozens of
 * times per pass. The schema of each of these directories is fixed by
 * the operator that writes it (the format IS the artifact contract),
 * so it is inferred once per process and every subsequent read is
 * constructed with the explicit schema, skipping inference entirely.
 *
 * Scope discipline: use ONLY for directories whose layout is owned by
 * one writer with a fixed schema for the life of the process. Never
 * route user-supplied/evolving tables through this cache — a stale
 * schema would silently drop newly added columns. (The shard store's
 * schema-evolution surface reads through [[v2.ShardSink]]'s own
 * sidecar-driven schema, not through here.) Caching METADATA of
 * immutable layouts only — data is re-read from parquet on every
 * invocation.
 *
 * Keyed by the first path: multi-path reads (segment merges) always
 * point inside one artifact family, and the family's schema is the
 * constant being cached.
 */
object ParquetSchemaCache {
  private val cache = new ConcurrentHashMap[String, StructType]()

  def read(spark: SparkSession, paths: String*): DataFrame = {
    require(paths.nonEmpty, "ParquetSchemaCache.read needs at least one path")
    val schema = cache.computeIfAbsent(paths.head,
      _ => inferWithStablePartitionTypes(spark, paths))
    spark.read.schema(schema).parquet(paths: _*)
  }

  /** Inferred schema with integral PARTITION columns widened to LONG.
    * Partition-column types are inferred from the directory VALUES
    * present at inference time, which is time-dependent where the data
    * columns are not: the BM25 store's first segment is `batch=1` (int)
    * while a later compaction publishes `batch=1000000000000` — a
    * cached int schema then fails the partition-value cast loudly
    * ([INVALID_PARTITION_VALUE], caught in r20 bench). Long is the
    * value-set-independent reading; data columns keep their exact
    * inferred types (query output schemas must not move). The partition
    * schema comes from the v1 `HadoopFsRelation`; any other plan (parquet
    * removed from `spark.sql.sources.useV1SourceList`) fails here rather
    * than caching an unwidened schema. */
  private def inferWithStablePartitionTypes(
      spark: SparkSession, paths: Seq[String]): StructType = {
    val df = spark.read.parquet(paths: _*)
    val partitionCols: Set[String] = df.queryExecution.analyzed match {
      case org.apache.spark.sql.execution.datasources.LogicalRelation(
          fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation,
          _, _, _, _) =>
        fs.partitionSchema.fieldNames.toSet
      case other => throw new IllegalStateException(
        s"ParquetSchemaCache needs a v1 HadoopFsRelation to widen partition " +
          s"columns of ${paths.mkString(", ")}, got ${other.nodeName}; keep " +
          "parquet in spark.sql.sources.useV1SourceList")
    }
    StructType(df.schema.map { f =>
      f.dataType match {
        case org.apache.spark.sql.types.ByteType |
             org.apache.spark.sql.types.ShortType |
             org.apache.spark.sql.types.IntegerType
            if partitionCols.contains(f.name) =>
          f.copy(dataType = org.apache.spark.sql.types.LongType)
        case _ => f
      }
    })
  }
}
