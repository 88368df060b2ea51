package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.types.LongType

import graft.SparkSpec

class ParquetSchemaCacheSpec extends SparkSpec {
  import spark.implicits._

  /** A fresh directory partitioned by an int column: never seen by the
    * process-level cache, so every read below infers. */
  private def partitionedDir(): String = {
    val dir = Files.createTempDirectory("graft-psc").resolve("t").toString
    Seq((1L, 1), (2L, 2)).toDF("id", "batch")
      .write.partitionBy("batch").parquet(dir)
    dir
  }

  test("v1 read widens an int partition column to long") {
    val df = ParquetSchemaCache.read(spark, partitionedDir())
    assert(df.schema("batch").dataType == LongType)
    assert(df.count() == 2)
  }

  test("a read that does not plan as a v1 HadoopFsRelation fails loudly") {
    val v2 = spark.newSession()
    v2.conf.set("spark.sql.sources.useV1SourceList", "")
    val e = intercept[IllegalStateException](ParquetSchemaCache.read(v2, partitionedDir()))
    assert(e.getMessage.contains("HadoopFsRelation"), e.getMessage)
  }
}
