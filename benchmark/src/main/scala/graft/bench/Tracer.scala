package graft.bench

import java.net.URI
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.hadoop.fs.{FileStatus, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Filesystem calls made through [[CountingFileSystem]], by kind. */
object FsCounts {
  val names: Seq[String] = Seq("create", "rename", "delete", "list", "open", "status")
  val counters: Map[String, AtomicLong] = names.map(_ -> new AtomicLong()).toMap
  /** Opens of data files (names not starting with `_` or `.`). */
  val dataOpens = new AtomicLong()
  def snapshot(): Map[String, Long] =
    counters.map { case (k, v) => k -> v.get() } + ("data_open" -> dataOpens.get())
}

/** The local filesystem with a counter on each metadata or data call.
  * A traced run installs it as the `file` scheme's implementation. */
class CountingFileSystem extends LocalFileSystem {
  private def bump(kind: String): Unit = FsCounts.counters(kind).incrementAndGet()

  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): org.apache.hadoop.fs.FSDataOutputStream = {
    bump("create")
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def rename(src: Path, dst: Path): Boolean = { bump("rename"); super.rename(src, dst) }
  override def delete(f: Path, recursive: Boolean): Boolean = { bump("delete"); super.delete(f, recursive) }
  override def listStatus(f: Path): Array[FileStatus] = { bump("list"); super.listStatus(f) }
  override def getFileStatus(f: Path): FileStatus = { bump("status"); super.getFileStatus(f) }
  override def open(f: Path, bufferSize: Int): org.apache.hadoop.fs.FSDataInputStream = {
    bump("open")
    val n = f.getName
    if (!n.startsWith("_") && !n.startsWith(".")) FsCounts.dataOpens.incrementAndGet()
    super.open(f, bufferSize)
  }
}

/**
 * Traced mode: a span around every call into a layer, plus the Spark and
 * filesystem work each span caused, summed per operation type.
 *
 * Spark work comes from a [[SparkListener]] (jobs, tasks, executor CPU,
 * task run time, shuffle, spill, GC, input) and a [[QueryExecutionListener]]
 * (planning phases). Filesystem work comes from [[CountingFileSystem]].
 * Spans are kept in memory and written out once, at the end of the run.
 */
final class Tracer(spark: SparkSession) {
  private final class Acc {
    val jobs = new AtomicLong(); val tasks = new AtomicLong()
    val cpuNs = new AtomicLong(); val runMs = new AtomicLong()
    val shuffleWrite = new AtomicLong(); val spill = new AtomicLong()
    val gcMs = new AtomicLong(); val bytesRead = new AtomicLong()
    val recordsRead = new AtomicLong(); val planningMs = new AtomicLong()
    def snap: Map[String, Double] = Map(
      "jobs" -> jobs.get().toDouble, "tasks" -> tasks.get().toDouble,
      "executor_cpu_s" -> cpuNs.get() / 1e9, "task_run_s" -> runMs.get() / 1e3,
      "shuffle_write_bytes" -> shuffleWrite.get().toDouble,
      "spill_bytes" -> spill.get().toDouble, "gc_s" -> gcMs.get() / 1e3,
      "bytes_read" -> bytesRead.get().toDouble,
      "records_read" -> recordsRead.get().toDouble,
      "planning_s" -> planningMs.get() / 1e3)
  }
  private val acc = new Acc
  private val jobSpans = mutable.ArrayBuffer[(Long, Long)]()
  private val jobStarts = mutable.Map[Int, Long]()

  spark.sparkContext.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = jobStarts.synchronized {
      acc.jobs.incrementAndGet(); jobStarts(e.jobId) = e.time
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = jobStarts.synchronized {
      jobStarts.remove(e.jobId).foreach(s => jobSpans += ((s, e.time)))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      acc.tasks.incrementAndGet()
      val m = e.taskMetrics
      if (m != null) {
        acc.cpuNs.addAndGet(m.executorCpuTime); acc.runMs.addAndGet(m.executorRunTime)
        acc.shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        acc.spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        acc.gcMs.addAndGet(m.jvmGCTime)
        acc.bytesRead.addAndGet(m.inputMetrics.bytesRead)
        acc.recordsRead.addAndGet(m.inputMetrics.recordsRead)
      }
    }
  })
  spark.listenerManager.register(new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      acc.planningMs.addAndGet(qe.tracker.phases.values.map(_.durationMs).sum)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      acc.planningMs.addAndGet(qe.tracker.phases.values.map(_.durationMs).sum)
  })

  private final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long)
  private val spans = mutable.ArrayBuffer[Span]()
  private var open = List(0)
  private val totals = mutable.LinkedHashMap[String, mutable.Map[String, Double]]()
  private val values = mutable.LinkedHashMap[String, Double]()

  private def drain(): Unit = org.apache.spark.BenchBus.drain(spark.sparkContext)

  /** Runs `body` as a span named `name`; sums the Spark and filesystem work
    * it caused under that name, with its wall time and the time the driver
    * spent outside any Spark job. */
  def span[T](name: String)(body: => T): T = {
    drain()
    val before = acc.snap
    val fsBefore = FsCounts.snapshot()
    val id = spans.length + 1
    val parent = open.head
    open = id :: open
    val wall0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      val wall1 = System.currentTimeMillis()
      open = open.tail
      drain()
      spans += Span(id, parent, name, t0, t1)
      val after = acc.snap
      val fsAfter = FsCounts.snapshot()
      val t = totals.getOrElseUpdate(name, mutable.Map[String, Double]().withDefaultValue(0.0))
      after.foreach { case (k, v) => t(k) += v - before(k) }
      fsAfter.foreach { case (k, v) => t(s"fs_$k") += (v - fsBefore(k)).toDouble }
      val wall = (t1 - t0) / 1e9
      t("wall_s") += wall
      t("count") += 1
      t("driver_outside_jobs_s") += wall - jobUnionSeconds(wall0, wall1)
    }
  }

  /** Time covered by the union of Spark jobs that started inside [a, b]. */
  private def jobUnionSeconds(a: Long, b: Long): Double = jobStarts.synchronized {
    val inside = jobSpans.filter { case (s, _) => s >= a && s <= b }
      .map { case (s, e) => (s, math.min(e, b)) }.sortBy(_._1)
    var covered = 0L
    var curS = -1L
    var curE = -1L
    inside.foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) covered += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) covered += curE - curS
    covered / 1e3
  }

  /** Sum of one counter over every span of operation type `name`. */
  def total(name: String, key: String): Double =
    totals.get(name).map(_(key)).getOrElse(0.0)

  /** Per-span mean of one counter over operation type `name`. */
  def perSpan(name: String, key: String): Double = {
    val n = total(name, "count")
    if (n == 0) 0.0 else total(name, key) / n
  }

  /** Accumulates a directly measured layer value under `name`. */
  def add(name: String, v: Double): Unit = values(name) = values.getOrElse(name, 0.0) + v
  def value(name: String): Double = values.getOrElse(name, 0.0)

  /** Writes every span as one JSON line per span. */
  def writeSpans(file: String): Unit = {
    val f = new java.io.File(file)
    f.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(f, "UTF-8")
    try spans.foreach { s =>
      w.println(Json.obj(Seq(
        "id" -> s.id.toString, "parent" -> s.parent.toString,
        "name" -> Json.str(s.name), "start_ns" -> s.startNs.toString,
        "end_ns" -> s.endNs.toString)))
    } finally w.close()
  }
}

object Tracer {
  /** Fails loudly when the counting filesystem did not get installed. */
  def requireCountingFs(spark: SparkSession): Unit = {
    val fs = org.apache.hadoop.fs.FileSystem.get(new URI("file:///"),
      spark.sessionState.newHadoopConf())
    require(fs.isInstanceOf[CountingFileSystem],
      s"traced run expected CountingFileSystem for file://, got ${fs.getClass}")
  }
}
