package graft
import org.apache.spark.sql.SparkSession

/** Driver-run benchmark: every registered query at `SPARK_GRAFT_SF_DIR`.
  * Emits the full per-query JSON line to stdout AND to `BENCH_FULL.json`,
  * then a compact tail-window-safe headline line (totals + 20 slowest)
  * as the LAST line of output — the harness preserves only the final
  * ~2000 characters of the log, which the ~8 KB full line overflows.
  *
  * The action is `write.format("noop")` — a full evaluation of every output
  * column through the sink interface — rather than `.count()`, which would
  * let Catalyst prune computed columns and under-measure projection-heavy
  * queries. A tiny warm-up query runs first so JVM/codegen startup is not
  * billed to the first measured query.
  *
  * Every query reports BOTH wall seconds and executor-CPU seconds (summed
  * `taskMetrics.executorCpuTime` over the query's tasks, via a
  * `SparkListener`). Wall alone is unusable for regression tracking on a
  * shared host: BENCH_r04's driver artifact showed 20-30x inflation on
  * queries whose code had not changed (CPU steal), while a clean re-run
  * totaled 15 s. CPU time is steal-robust — a stalled core accrues no
  * executorCpuTime — so `cpu` is the number to trend across rounds and
  * `wall` the number that reflects this box at this moment. A wall far
  * above cpu (beyond what per-task scheduling overhead explains) marks the
  * measurement itself as contention-suspect, which drives the re-measure
  * policy below.
  */
object Bench {
  /** JSON string escape for text not fixed in the source (env-sourced
    * paths, query names, oracle SQL): backslash, quote, and ALL control
    * chars (< 0x20) — a tab or CR would otherwise make the reader's
    * json.load fail. `jesc` escapes content for use inside an
    * already-quoted literal; `jstr` produces the full quoted literal. */
  def jesc(s: String): String = s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }
  def jstr(s: String): String = "\"" + jesc(s) + "\""

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // default: the host's core count (a measured value, not a knob)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    // optional arg: comma-separated query names (targeted local timing);
    // the driver passes no args and always measures the full set
    val only = args.headOption.map(_.split(",").toSet)
    // The three sketch queries' registered (Verify) forms include an exact
    // countDistinct so DuckDB can check the error bound; timing that form
    // measures the exact-distinct exchange the sketch exists to avoid.
    // Bench times sketch-only twins under the same names.
    val benchOverrides: Map[String, (SparkSession, String) => org.apache.spark.sql.DataFrame] = Map(
      "agg_approx_distinct" -> (graft.queries.AnalyticsQueries.aggApproxDistinctBench _),
      "agg_hll_sketch" -> (graft.queries.AnalyticsQueries.aggHllSketchBench _),
      "agg_hll_union" -> (graft.queries.AnalyticsQueries.aggHllUnionBench _))
    // a rename in the registry must not leave an orphan override timing
    // a stale twin under a name the Verify surface no longer carries
    require(benchOverrides.keySet.subsetOf(SparkEntry.queries.keySet),
      s"bench overrides for unregistered queries: " +
        (benchOverrides.keySet -- SparkEntry.queries.keySet).mkString(", "))
    val selected = (SparkEntry.queries ++ benchOverrides).filter {
      case (name, _) => only.forall(_.contains(name))
    }
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
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
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // Untimed warm-up pass at the smallest SF: JIT + codegen compile for
    // every query shape (the generated-code cache is keyed by source, so
    // the timed run at the bench SF reuses it), without touching the
    // bench-SF data. Otherwise JVM warm-up is billed to whichever queries
    // happen to run first.
    val warmDir = "/root/testdata/sf0.001"
    selected.foreach { case (_, fn) =>
      try fn(spark, warmDir).write.format("noop").mode("overwrite").save()
      catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[bench] warm-up failed (continuing): $e") }
    }
    CacheScope.releaseAll() // drop warm-up-scoped operator caches

    // Two residual-noise sources otherwise land on whichever queries run
    // first (alphabetical order — seen as 30×-inflated agg_* outliers):
    // (1) the warm-up pass enqueues hundreds of C2 compilations that keep
    // burning cores into the timed run — poll the JIT MXBean until four
    // consecutive 500 ms samples show no compilation progress; (2) the
    // first touch of each bench-SF table pays the cold page-cache read —
    // pre-scan them untimed through the same noop sink.
    val warmTables: Seq[(SparkSession, String) => org.apache.spark.sql.DataFrame] =
      Seq(graft.sources.Tables.region, graft.sources.Tables.nation,
        graft.sources.Tables.customer, graft.sources.Tables.supplier,
        graft.sources.Tables.part, graft.sources.Tables.orders,
        graft.sources.Tables.lineitem, graft.sources.Tables.events,
        graft.sources.Tables.documents, graft.sources.Tables.embeddings)
    warmTables.foreach { t =>
      try t(spark, sfDir).write.format("noop").mode("overwrite").save()
      catch { case _: Throwable => () }
    }
    val jit = java.lang.management.ManagementFactory.getCompilationMXBean
    var prev = -1L
    var settled = 0
    val tJit = System.currentTimeMillis()
    while (settled < 4 && System.currentTimeMillis() - tJit < 30000) {
      val cur = jit.getTotalCompilationTime
      if (cur == prev) settled += 1 else settled = 0
      prev = cur
      Thread.sleep(500)
    }

    // Executor-CPU accounting + event drain: the shared TaskCpuMeter
    // contract (one implementation for Bench AND BenchScale)
    val meter = new TaskCpuMeter(spark.sparkContext)
    def drainTaskEvents(): Unit = meter.drainTaskEvents()

    // Process-CPU (driver + executor threads — local mode is one JVM):
    // the stall test needs it because driver-heavy queries (BPE's merge
    // loop, the CMS probe loop) legitimately accrue wall with little
    // EXECUTOR cpu — judged on executor cpu alone they'd re-measure on
    // every run, even idle ones. A genuine steal stall burns neither.
    val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case b: com.sun.management.OperatingSystemMXBean => Some(b)
      case _ => None
    }
    // min-of-N protocol: every query is measured `passes` times (≥ 2 by
    // default) and the artifact records per-query MINs — see below.
    // A malformed value fails HERE with its name, not as a bare
    // NumberFormatException after Spark init + warm-up have been paid.
    val passes = sys.env.get("SPARK_GRAFT_BENCH_PASSES") match {
      case None => 2
      case Some(v) => v.trim.toIntOption.filter(_ >= 1).getOrElse(
        sys.error(s"SPARK_GRAFT_BENCH_PASSES must be a positive int, got: '$v'"))
    }
    // box-state record for the artifact (r14 verdict: the JSON must carry
    // the measurement's box state so cross-round comparisons can tell an
    // idle-box run from a loaded one — the minhash family is bimodal
    // under concurrent load and the mode was being re-litigated every
    // round from protocol notes instead of read off the artifact)
    val loadStart = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    val results = selected.toSeq.sortBy(_._1).map { case (name, fn) =>
      // (wall_s, executor_cpu_s, task_run_s, process_cpu_s, ok)
      def once(): (Double, Double, Double, Double, Boolean) = {
        drainTaskEvents()
        val c0 = meter.snapshotNs
        val r0 = meter.snapshotRunMs
        val p0 = osBean.map(_.getProcessCpuTime).getOrElse(0L)
        val t0 = System.nanoTime()
        val ok =
          try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true }
          catch { case e: Throwable => System.err.println(s"[bench] $name failed: $e"); false }
        val wall = (System.nanoTime() - t0) / 1e9
        // process-CPU delta snapshots HERE, before the drain and cache
        // release: CPU burned by those (GC, eviction, C2) would inflate
        // the stall-test denominator and let a steal-stalled query
        // escape the re-measure pass
        val proc = osBean.map(b => (b.getProcessCpuTime - p0) / 1e9).getOrElse(0.0)
        drainTaskEvents()
        // release operator-scoped caches: keeps the storage footprint
        // flat across the sweep AND makes re-measure passes fair (a
        // second pass must rebuild the cache, not reuse the first's)
        CacheScope.releaseAll()
        (wall, (meter.snapshotNs - c0) / 1e9,
          (meter.snapshotRunMs - r0) / 1e3, proc, ok)
      }
      // EVERY query runs `passes` times (default 2) and reports the min
      // PER METRIC across ok passes — the least-noise estimator for each
      // independently (a pass can have the better wall and the worse,
      // contention-inflated cpu). This makes the driver-stored artifact
      // load-robust BY CONSTRUCTION: BENCH_r09 was a single pass taken
      // under visible host load and read as a 1.88× wall regression with
      // zero code cause — the idle-min protocol must live in the
      // artifact, not in a SURVEY footnote.
      val runs = scala.collection.mutable.ArrayBuffer.empty[(Double, Double, Double, Double, Boolean)]
      (1 to passes).foreach(_ => runs += once())
      // stall-suspect top-up on the min (transient CPU-steal stalls have
      // inflated single measurements 10-30×; a stalled pass accrues wall
      // but neither executor-task nor process CPU, so: absolutely slow
      // (> 3 s wall) OR wall > 3× all JVM cpu with a 1 s floor that
      // keeps tiny planning-bound queries out of the re-run set)
      def mins: Option[(Double, Double, Double, Double)] = {
        val ok = runs.filter(_._5)
        if (ok.isEmpty) None
        else Some((ok.map(_._1).min, ok.map(_._2).min,
          ok.map(_._3).min, ok.map(_._4).min))
      }
      mins.foreach { case (w, c, _, p) =>
        if (w > 3.0 || (w > 1.0 && w > 3.0 * math.max(c, p))) runs += once()
      }
      // per-pass raw (wall, cpu) pairs ride into the artifact: two
      // rounds running, wall and CPU told different stories and the
      // wait-dominated rows had to be re-litigated from protocol notes —
      // with every pass recorded, a row whose EVERY pass shows wall >>
      // cpu is self-evidently wait-bound (fs lifecycle, micro-batch
      // timers), while a single inflated pass is self-evidently steal
      val raw = runs.toSeq.map(r => (r._1, r._2, r._5))
      mins match {
        case Some((w, c, r, _)) => (name, w, c, r, true, raw)
        case None => (name, runs.head._1, runs.head._2, runs.head._3, false, raw)
      }
    }
    // ROOT-locale numeric rendering: the f interpolator uses the JVM
    // default locale, so a comma-decimal locale (de_DE, fr_FR) would
    // render 12,345 and make every line unparseable JSON
    def num3(d: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(d))
    // failed queries report -1 (not their near-zero abort time) and are
    // listed in "failed", so a regression can't silently shrink the total
    val qs = results.map { case (k, w, _, _, ok, _) =>
      jstr(k) + ":" + (if (ok) num3(w) else "-1")
    }.mkString("{", ",", "}")
    val cpus_ = results.map { case (k, _, c, _, ok, _) =>
      jstr(k) + ":" + (if (ok) num3(c) else "-1")
    }.mkString("{", ",", "}")
    // per-query executor task RUN time (r20, PERF_r19 scaling item):
    // the data-work wall that should track the core count — fixed
    // driver/planning cost is excluded by construction, so the low-core
    // probe can read scaling off task/cpu instead of end-to-end wall
    val tasks_ = results.map { case (k, _, _, r, ok, _) =>
      jstr(k) + ":" + (if (ok) num3(r) else "-1")
    }.mkString("{", ",", "}")
    // every pass's (wall, cpu), failed passes as -1 — the full artifact
    // only (the compact tail line stays headline-sized)
    val raws = results.map { case (k, _, _, _, _, raw) =>
      jstr(k) + ":" + raw.map { case (w, c, ok) =>
        if (ok) s"[${num3(w)},${num3(c)}]" else "[-1,-1]"
      }.mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    val failedNames = results.collect { case (k, _, _, _, false, _) => k }
    val failed = failedNames.map(jstr).mkString("[", ",", "]")
    val total = results.collect { case (_, w, _, _, true, _) => w }.sum
    val cpuTotal = results.collect { case (_, _, c, _, true, _) => c }.sum
    val loadEnd = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    val nCores = Runtime.getRuntime.availableProcessors
    // loaded-box flag: load average already near/above the core count at
    // sweep start means another process was competing — the documented
    // high-mode trigger for the minhash family
    // Streaming rows are a SEPARATE CPU-accounting class, declared in
    // the artifact: their executor CPU includes micro-batch scheduler
    // task-spin (threads parked/polled between batches still accrue
    // small task slices), which bounces across runs of UNCHANGED code —
    // r16/r17 both flagged stream_eventlog_replay on exactly this with
    // wall flat. Regression reads of this artifact should trend
    // streaming rows on WALL (their raw pairs make spin self-evident:
    // every pass shows cpu >> wall variance) and apply the CPU flag
    // only to the non-streaming rows.
    val streamClass = results.collect {
      case (k, _, _, _, _, _) if k.startsWith("stream_") => jstr(k)
    }.mkString("[", ",", "]")
    val protocol =
      s"""{"isolation":"dedicated-jvm","estimator":"min-of-$passes per metric","load_avg_start":${num3(loadStart)},"load_avg_end":${num3(loadEnd)},"host_cores":$nCores,"concurrent_load":${loadStart > 0.5 * nCores},"cpu_noise_class":{"rows":$streamClass,"note":"micro-batch scheduler task-spin pollutes executor-CPU on streaming rows; trend these on wall, flag CPU only for non-streaming rows"}}"""
    val fullLine =
      s"""{"metric":"total","value":${num3(total)},"unit":"sec","cpu_total":${num3(cpuTotal)},"cpus":${cpus.trim.toIntOption.getOrElse(-1)},"passes":$passes,"protocol":$protocol,"queries":$qs,"cpu":$cpus_,"task":$tasks_,"raw":$raws,"sf":${jstr(sfDir)},"failed":$failed}"""
    // The harness keeps only the LAST ~2000 characters of stdout; the
    // full per-query line is ~8 KB, so on its own it is always truncated
    // mid-map and unparseable (BENCH_r01..r05 all carry "parsed": null).
    // So: (1) the full line goes to a file AND to stdout first, for
    // anyone reading the whole log; (2) the final printed line is a
    // compact headline — totals + the slowest queries only — sized to
    // survive the tail window intact.
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_FULL.json")
    try java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      (fullLine + "\n").getBytes("UTF-8"))
    catch { case e: Throwable => System.err.println(s"[bench] full-dump write failed: $e") }
    println(fullLine)
    val slow = results.filter(_._5).sortBy(-_._2).take(20)
    val slowQs = slow.map { case (k, w, _, _, _, _) => jstr(k) + ":" + num3(w) }
      .mkString("{", ",", "}")
    val slowCpu = slow.map { case (k, _, c, _, _, _) => jstr(k) + ":" + num3(c) }
      .mkString("{", ",", "}")
    // Compact line must survive a ~2000-char tail window even on a
    // worst-case run: cap the failed list at 10 names + a count (the full
    // list is always in the full-line artifact above).
    val failedCompact = failedNames.take(10).map(jstr).mkString("[", ",", "]")
    println(s"""{"metric":"total","value":${num3(total)},"unit":"sec","cpu_total":${num3(cpuTotal)},"cpus":${cpus.trim.toIntOption.getOrElse(-1)},"passes":$passes,"n_queries":${results.size},"n_failed":${failedNames.size},"queries":$slowQs,"cpu":$slowCpu,"note":"20 slowest; full map in ${jesc(outPath)}","sf":${jstr(sfDir)},"failed":$failedCompact}""")
    spark.stop()
  }
}
