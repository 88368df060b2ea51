package graft.bench

import java.lang.management.ManagementFactory

import org.apache.spark.sql.SparkSession

/**
 * Runs one workload in this JVM and prints its result as the last line of
 * standard output:
 *
 * {{{
 *   Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>
 * }}}
 *
 * Spark runs as `local[nproc]` with nproc shuffle partitions; one client
 * thread drives the engine. Untraced runs (`--trace 0`) print the
 * end-to-end metrics; traced runs print the per-layer metrics. Before the
 * result line each run prints a `detail` line with the workload's own
 * figures and the end-to-end metrics (in a traced run these show the
 * tracing overhead), and a traced run writes its spans under the work dir.
 */
object Main {
  val workloads: Seq[Workload] = Seq(ExportRequests, ExportBulk, StoreMutations, CorpusDedupAnn)

  def main(args: Array[String]): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = opts.getOrElse(k, sys.error(s"missing --$k"))
    val workload = workloads.find(_.name == need("workload"))
      .getOrElse(sys.error(s"unknown workload ${need("workload")}; known: ${workloads.map(_.name).mkString(", ")}"))
    val seed = need("seed").toLong
    val seconds = need("seconds").toDouble
    val traced = need("trace") == "1"
    val work = new java.io.File(need("work")).getAbsolutePath

    val spark = session(work, traced)
    Log(f"JVM start to Spark session: ${(System.currentTimeMillis() - jvmStartMs) / 1e3}%.2f s")
    try {
      val tracer = if (traced) { Tracer.requireCountingFs(spark); Some(new Tracer(spark)) } else None
      val ctx = new Ctx(spark, seed, seconds, tracer, s"$work/data", jvmStartMs)
      val outcome = workload.run(ctx)
      tracer.foreach(_.writeSpans(s"$work/spans-${workload.name}-$seed.jsonl"))
      val detail = outcome.detail ++ outcome.endToEnd.toSeq.sortBy(_._1)
      println("detail " + Json.obj(detail.map { case (k, m) =>
        k -> Json.obj(Seq("value" -> Json.num(m.value), "unit" -> Json.str(m.unit)))
      }))
      val metrics: Seq[(String, Metric)] =
        tracer.fold(outcome.endToEnd.toSeq.sortBy(_._1))(Layers.metrics)
      println(Json.obj(Seq(
        "correct" -> ctx.correct.toString,
        "attempted" -> ctx.attempted.toString,
        "failed" -> ctx.failed.toString,
        "metrics" -> Json.obj(metrics.map { case (k, m) =>
          k -> Json.obj(Seq("value" -> Json.num(m.value), "unit" -> Json.str(m.unit)))
        }))))
    } finally spark.stop()
  }

  def session(work: String, traced: Boolean): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors()
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-benchmark")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .withExtensions(new graft.GraftExtensions)
    if (traced) b.config("spark.hadoop.fs.file.impl", classOf[CountingFileSystem].getName)
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}
