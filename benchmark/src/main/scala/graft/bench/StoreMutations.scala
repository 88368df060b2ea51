package graft.bench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import graft.sources.v2.{ShardDelete, ShardReader}

/**
 * `store_mutations`: one writer in a closed loop on a
 * `graft.sources.v2.ShardSink` table written with `statsColumn = key`.
 *
 * The table starts with [[BaseKeys]] keys in [[BaseShards]] range-laid-out
 * shards. Every round runs the same five operations, chosen so the table
 * holds the same rows and shard count at the end of each round:
 *
 *  1. append a micro-batch of [[Batch]] fresh keys (one new shard);
 *  2. `readByKey` of a few keys: some from the batch, some base, one absent;
 *  3. `upsertByKey` of [[UpsertKeys]] keys of the batch, with new values;
 *  4. `deleteByKey` of the whole micro-batch (its shards empty and go);
 *  5. `readByKey` of deleted, base and absent keys.
 *
 * A key -> value model kept here says what every read must return.
 */
object StoreMutations extends Workload {
  val name = "store_mutations"
  val BaseKeys = 2000
  val BaseShards = 8
  val Batch = 50
  val UpsertKeys = 5
  val Schema: StructType = StructType(Seq(
    StructField("key", LongType), StructField("value", StringType)))

  def value(seed: Long, key: Long, version: Long): String =
    s"v$version-" + java.lang.Long.toHexString(Mix.h(seed, key, 1000 + version)) * 2

  private def frame(spark: SparkSession, rows: Seq[(Long, String)]): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map { case (k, v) => Row(k, v) }, 1), Schema)

  private def keys(spark: SparkSession, ks: Seq[Long]): DataFrame = {
    import spark.implicits._
    ks.toDF("key")
  }

  private def append(spark: SparkSession, dir: String, df: DataFrame): Unit =
    df.write.format("graft.sources.v2.ShardSink")
      .option("path", dir).option("statsColumn", "key").mode("append").save()

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val seed = ctx.seed
    val dir = ctx.path("store")
    val model = mutable.Map[Long, String]()
    (0L until BaseKeys.toLong).foreach(k => model(k) = value(seed, k, 0))
    Log.phase("write the base table") {
      append(spark, dir, frame(spark, model.toSeq.sortBy(_._1))
        .repartitionByRange(BaseShards, col("key")))
    }
    val rnd = new java.util.Random(Mix.h(seed, 0, 55))
    var nextKey = BaseKeys.toLong

    def lookup(ks: Seq[Long]): Unit =
      ctx.op("lookup") {
        val got = ShardReader.readByKey(spark, dir, Schema, "key", keys(spark, ks)).collect()
        graft.CacheScope.releaseAll()
        got
      }.foreach { got =>
        val rows = got.toSeq.map(r => (r.getLong(0), r.getString(1)))
        ctx.verify(Checks.storeRows(s"readByKey($ks)", model.filter(kv => ks.contains(kv._1)).toMap, rows))
      }

    // traced runs count the shard files each mutation writes
    def counting[T](kind: String)(body: => T): T = ctx.tracer match {
      case None => body
      case Some(t) =>
        def names = Files.dataFiles(dir).map(_.getName).toSet
        val before = names
        try body finally t.add(s"shards_written.$kind", (names -- before).size)
    }

    def round(r: Int): Unit = {
      val batch = (nextKey until nextKey + Batch).map(k => (k, value(seed, k, 0)))
      nextKey += Batch
      ctx.op("append")(append(spark, dir, frame(spark, batch))).foreach(_ => model ++= batch)

      val base = (0 until 2).map(_ => rnd.nextInt(BaseKeys).toLong)
      lookup(batch.take(3).map(_._1) ++ base :+ -1L - r)

      val upKeys = Iterator.continually(batch(rnd.nextInt(Batch))._1).distinct.take(UpsertKeys).toSeq.sorted
      val updates = upKeys.map(k => (k, value(seed, k, r + 1L)))
      ctx.op("upsert") {
        val res = counting("upsert")(ShardDelete.upsertByKey(spark, dir, Schema, "key", frame(spark, updates)))
        graft.CacheScope.releaseAll()
        res
      }.foreach { res =>
        ctx.check(res == ((UpsertKeys.toLong, 0L)), s"upsertByKey returned $res, expected ($UpsertKeys, 0)")
        model ++= updates
      }

      ctx.op("delete") {
        val n = counting("delete")(ShardDelete.deleteByKey(spark, dir, Schema, "key", keys(spark, batch.map(_._1))))
        graft.CacheScope.releaseAll()
        n
      }.foreach { n =>
        ctx.check(n == Batch, s"deleteByKey returned $n, expected $Batch")
        model --= batch.map(_._1)
      }
      lookup(upKeys.take(3) ++ base :+ (BaseKeys + 1000000L + r))
    }

    Log.phase("warm-up round")(round(-1))
    ctx.startMeasuring()
    val rounds = ctx.rounds(round)

    // the whole table against the model, and the manifest against the rows
    val all = ShardReader.read(spark, dir, Schema).collect().toSeq.map(r => (r.getLong(0), r.getString(1)))
    ctx.verify(Checks.storeRows("final table", model.toMap, all))
    ctx.verify(Checks.manifestCount(ShardReader.manifestRowCount(spark, dir), all.length))
    val shards = ShardReader.manifestShardCount(spark, dir)
    val bytes = Files.bytesUnder(dir)
    val p50 = (k: String) => Stats.median(ctx.latencies(k))
    val detail = Seq(
      "append_p50_s" -> Metric(p50("append"), "s"),
      "upsert_p50_s" -> Metric(p50("upsert"), "s"),
      "delete_p50_s" -> Metric(p50("delete"), "s"),
      "lookup_p50_s" -> Metric(p50("lookup"), "s"),
      "store_bytes_per_row" -> Metric(bytes.toDouble / all.length, "bytes"),
      "final_shards" -> Metric(shards, "count"),
      "rounds" -> Metric(rounds, "count"))
    Outcome(Common.endToEnd(ctx, p50("upsert"), bytes.toDouble / all.length), detail)
  }
}
