package graft.bench

/**
 * The per-layer metrics a traced run prints, named after the engine's
 * modules. Every traced run of a workload in BENCHMARK.json prints the
 * same list; a layer the workload does not reach reads 0. Spans are named
 * after the operation type (`request`, `upsert`, ...) or, for the probes
 * that isolate one layer, `probe.<what>`. Per-operation values are means
 * per call.
 */
object Layers {
  val Ops: Seq[String] = Seq("request", "ingest", "unordered", "sorted", "append", "upsert",
    "delete", "lookup")
  /** Operations whose engine work is throughput-bound: they also get
    * task time, shuffle, spill and GC. */
  val HeavyOps: Seq[String] = Seq("ingest", "unordered", "sorted")
  val StoreOps: Seq[String] = Seq("append", "upsert", "delete", "lookup")

  private def ratio(a: Double, b: Double): Double = if (b == 0) 0.0 else a / b

  /** The Spark-engine metrics of operation types `ops` (and, for `heavy`,
    * task time, shuffle, spill and GC). */
  def spark(t: Tracer, ops: Seq[String], heavy: Seq[String]): Seq[(String, Metric)] = {
    def mean(span: String, key: String) = t.perSpan(span, key)
    ops.flatMap { op =>
      Seq(
        s"spark.planning_s.$op" -> Metric(mean(op, "planning_s"), "s"),
        s"spark.jobs.$op" -> Metric(mean(op, "jobs"), "count"),
        s"spark.tasks.$op" -> Metric(mean(op, "tasks"), "count"),
        s"spark.driver_outside_jobs_s.$op" -> Metric(mean(op, "driver_outside_jobs_s"), "s"),
        s"spark.executor_cpu_s.$op" -> Metric(mean(op, "executor_cpu_s"), "s"))
    } ++ heavy.flatMap { op =>
      Seq(
        s"spark.task_run_s.$op" -> Metric(mean(op, "task_run_s"), "s"),
        s"spark.shuffle_write_bytes.$op" -> Metric(mean(op, "shuffle_write_bytes"), "bytes"),
        s"spark.spill_bytes.$op" -> Metric(mean(op, "spill_bytes"), "bytes"),
        s"spark.gc_s.$op" -> Metric(mean(op, "gc_s"), "s"))
    }
  }

  def metrics(t: Tracer): Seq[(String, Metric)] = {
    def mean(span: String, key: String) = t.perSpan(span, key)
    def wall(span: String) = mean(span, "wall_s")
    // a difference of two spans' mean walls, where both ran
    def diff(a: String, b: String) =
      if (t.total(a, "count") == 0 || t.total(b, "count") == 0) 0.0 else wall(a) - wall(b)

    val gunzip = diff("probe.unordered_noop", "probe.unordered_no_gunzip")
    val layers = Seq(
      "sources.scan_s" -> Metric(wall("probe.scan"), "s"),
      "sources.bytes_read" -> Metric(mean("probe.scan", "bytes_read"), "bytes"),
      "sources.rows_scanned_per_row_out" ->
        Metric(ratio(t.total("probe.scan", "records_read"), t.value("rows_out")), "ratio"),
      "functions.gunzip_s" -> Metric(gunzip, "s"),
      "functions.inflated_mb_per_s" ->
        Metric(ratio(t.value("inflated_bytes") / math.max(1.0, t.total("probe.unordered_noop", "count")), gunzip) / 1e6, "MB/s"),
      "functions.gzip_s" -> Metric(diff("probe.gzip", "probe.rows"), "s"),
      "operators.sort_s" -> Metric(diff("sorted", "unordered"), "s"),
      "operators.write_s" -> Metric(diff("unordered", "probe.unordered_noop"), "s"),
      "operators.bytes_written" ->
        Metric(ratio(t.value("unordered_bytes_written"), t.total("unordered", "count")), "bytes"),
      "operators.files_written" ->
        Metric(ratio(t.value("unordered_files_written"), t.total("unordered", "count")), "count"),
      "operators.empty_probe_s" -> Metric(diff("request", "probe.write_only"), "s"))

    val store = StoreOps.flatMap { op =>
      FsCounts.names.map(k => s"sources.v2.fs_$k.$op" -> Metric(mean(op, s"fs_$k"), "count"))
    } ++ Seq("upsert", "delete").map { op =>
      s"sources.v2.shards_rewritten.$op" ->
        Metric(ratio(t.value(s"shards_written.$op"), t.total(op, "count")), "count")
    } :+ ("sources.v2.shards_read_per_lookup" ->
      Metric(ratio(t.total("lookup", "fs_data_open"), t.total("lookup", "count")), "count"))

    spark(t, Ops, HeavyOps) ++ layers ++ store
  }

  /** The corpus workload's layer figures (it is not in BENCHMARK.json, so
    * a traced run of it prints these in its detail line). */
  def corpus(t: Tracer): Seq[(String, Metric)] =
    spark(t, Seq("dedup", "ann_build", "ann_search"), Seq("dedup", "ann_build")) ++ Seq(
      "operators.dedup_s" -> Metric(t.perSpan("dedup", "wall_s"), "s"),
      "operators.dedup_candidate_pairs_per_doc" ->
        Metric(ratio(t.value("candidate_pairs"), t.value("dedup_docs")), "ratio"),
      "operators.kmeans_train_s" -> Metric(t.perSpan("probe.kmeans_train", "wall_s"), "s"),
      "operators.ann_candidates_per_query" ->
        Metric(ratio(t.value("ann_candidates"), t.value("ann_queries")), "count"))
}
