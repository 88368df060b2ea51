package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg: comma-separated query names (targeted local runs)
    val (sfDir, outDir, only) = args match {
      case Array(s, o)    => (s, o, Option.empty[Set[String]])
      case Array(s, o, f) => (s, o, Some(f.split(",").toSet))
      case _ =>
        System.err.println(
          "usage: graft.Verify <sfDir> <outDir> [query1,query2,...]")
        sys.exit(1)
    }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      // µs parquet timestamps so DuckDB reads the artifact losslessly
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.ui.enabled", "false")
      // let AQE re-optimize CACHED plan output partitioning: a cached
      // model-state frame built under a broadcast join otherwise keeps
      // the full shuffle width (e.g. 32 one-row partitions), and every
      // one of an iterative consumer's passes pays per-task overhead x
      // width for parameter-sized data; at real scale the coalesce
      // target keeps wide plans wide (advisory-size based)
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // Dump queries with a small thread pool: Spark schedules concurrent
    // jobs fine, and most of these are sub-second plans whose wall time is
    // otherwise dominated by sequential job setup. Temp-view names are
    // distinct per query, so concurrent registration is safe.
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(6, Runtime.getRuntime.availableProcessors))
    val tasks = SparkEntry.queries.toSeq
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .map { case (name, fn) =>
      pool.submit(new Runnable {
        override def run(): Unit =
          try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          catch { case e: Throwable =>
            System.err.println(s"[verify] $name failed: ${e.getMessage}")
            // delete any STALE artifact from a prior run into the same
            // outDir: overwrite only replaces on success, so leaving it
            // would let the DuckDB compare silently pass yesterday's
            // result for a query that now fails
            val dir = Paths.get(s"$outDir/$name")
            if (Files.exists(dir)) {
              import scala.jdk.CollectionConverters._
              Files.walk(dir).iterator().asScala.toSeq.reverse
                .foreach(Files.deleteIfExists(_))
            }
          }
      })
    }
    tasks.foreach(_.get())
    pool.shutdown()
    // release operator-scoped caches once the whole dump completes
    // (queries run concurrently above, so per-query release could yank a
    // cache out from under a still-running sibling)
    CacheScope.releaseAll()
    // ALWAYS the full oracle manifest: a targeted re-run into the
    // round's outDir must not clobber the manifest down to its subset
    // (the driver compares whatever result dirs exist against this map)
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${Bench.jstr(k)}: ${Bench.jstr(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
