package graft

import org.apache.spark.sql.SparkSession

/** The one local session the harness tools (Bench, BenchScale, Verify,
  * JobProfile, Explain) and the test suites run on. Callers add their own
  * extras (app name, output timestamp type, warehouse dir) to the builder
  * and call `getOrCreate()`. */
object LocalSession {

  /** `SPARK_GRAFT_CPUS`, else the host's core count (a measured value,
    * not a knob). */
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS",
    Runtime.getRuntime.availableProcessors.toString)

  /** `local[cores]` with as many shuffle partitions, UTC, no UI, and the
    * graft extensions. */
  def builder(cores: String = cpus): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // let AQE re-optimize CACHED plan output partitioning: a cached
      // model-state frame built under a broadcast join otherwise keeps
      // the full shuffle width (e.g. 32 one-row partitions), and every
      // one of an iterative consumer's passes pays per-task overhead x
      // width for parameter-sized data; at real scale the coalesce
      // target keeps wide plans wide (advisory-size based)
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .withExtensions(new GraftExtensions)
}
