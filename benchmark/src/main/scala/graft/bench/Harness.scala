package graft.bench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Order statistics shared by the workloads and the report. */
object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile of a non-empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (pos - lo) * (s(hi) - s(lo))
  }

  /** The tail the report uses: the sample with exactly ten larger samples
    * beyond it, and the percentile that sample stands at. None below 40
    * samples, where such a percentile would be no tail. */
  def tail(xs: Seq[Double]): Option[(Double, Double)] =
    if (xs.length < 40) None
    else {
      val s = xs.sorted
      val idx = s.length - 11
      Some((s(idx), 100.0 * (idx + 1) / s.length))
    }
}

/** Progress lines on standard error. */
object Log {
  def apply(msg: String): Unit = System.err.println(s"[bench] $msg")

  def phase[T](what: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body finally apply(f"$what: ${(System.nanoTime() - t0) / 1e9}%.2f s")
  }
}

/** Files on disk, seen through java.io rather than Hadoop, so a traced
  * run's filesystem counters hold only the engine's own calls. */
object Files {
  def bytesUnder(dir: String): Long = {
    def walk(f: java.io.File): Long =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(walk).sum else f.length()
    walk(new java.io.File(dir))
  }

  /** The data files directly under `dir`: not `_` markers or sidecars, not
    * `.` checksums, not directories. */
  def dataFiles(dir: String): Seq[java.io.File] =
    Option(new java.io.File(dir).listFiles()).toSeq.flatten
      .filter(f => f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))
}

/** Minimal JSON writer for the result line: numbers keep every digit. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def num(d: Double): String = {
    require(!d.isNaN && !d.isInfinite, s"non-finite metric value $d")
    if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else java.lang.Double.toString(d)
  }

  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
}

/** One metric as printed: value and unit. */
final case class Metric(value: Double, unit: String)

/**
 * Per-run state every workload shares: the timed-round loop, operation
 * accounting, correctness checks and the samples the metrics are made of.
 *
 * A workload does its set-up, calls [[startMeasuring]] right before its
 * first timed operation, and then runs whole rounds through [[rounds]]
 * until the run length is used up. Every call into the engine that is
 * measured goes through [[op]], which times it, counts it as attempted
 * (and failed when it throws), and, in a traced run, records a span and
 * the Spark and filesystem work it caused.
 */
final class Ctx(
    val spark: SparkSession,
    val seed: Long,
    val seconds: Double,
    val tracer: Option[Tracer],
    val workDir: String,
    jvmStartMs: Long) {

  var attempted = 0L
  var failed = 0L
  private val problems = mutable.ArrayBuffer[String]()
  private val samples = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
  private val roundWalls = mutable.ArrayBuffer[Double]()
  private val roundCpu = mutable.ArrayBuffer[Double]()
  private var setupSeconds = -1.0
  private var opSeconds = 0.0
  val cpu = new CpuMeter(spark)

  def correct: Boolean = problems.isEmpty
  def setupS: Double = setupSeconds

  /** Records a correctness failure (the run then reports correct=false). */
  def check(cond: Boolean, what: => String): Unit =
    if (!cond) {
      val msg = what
      if (problems.length < 20) System.err.println(s"[bench] CHECK FAILED: $msg")
      problems += msg
    }

  /** Records the outcome of one of [[Checks]]. */
  def verify(result: Option[String]): Unit = result.foreach(m => check(false, m))

  def startMeasuring(): Unit = {
    setupSeconds = (System.currentTimeMillis() - jvmStartMs) / 1000.0
  }

  /** Runs whole rounds until the run length has passed; returns the count.
    * The round index is passed so each round can vary its inputs. */
  def rounds(body: Int => Unit): Int = {
    require(setupSeconds >= 0, "startMeasuring() must precede the rounds")
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var r = 0
    while (r == 0 || System.nanoTime() < deadline) {
      val opsBefore = opSeconds
      val cpuBefore = cpu.cpuSeconds()
      body(r)
      roundWalls += opSeconds - opsBefore
      roundCpu += cpu.cpuSeconds() - cpuBefore
      r += 1
    }
    r
  }

  /** Times one call into the engine under operation type `kind`. */
  def op[T](kind: String)(body: => T): Option[T] = {
    attempted += 1
    val t0 = System.nanoTime()
    val res =
      try Some(tracer.fold(body)(_.span(kind)(body)))
      catch {
        case scala.util.control.NonFatal(e) =>
          failed += 1
          System.err.println(s"[bench] operation $kind failed: $e")
          e.printStackTrace()
          None
      }
    val dt = (System.nanoTime() - t0) / 1e9
    opSeconds += dt
    if (res.isDefined) samples.getOrElseUpdate(kind, mutable.ArrayBuffer()) += dt
    res
  }

  def latencies(kind: String): Seq[Double] = samples.getOrElse(kind, Nil).toSeq
  def roundSeconds: Seq[Double] = roundWalls.toSeq
  /** Executor CPU seconds per round, the mean over the run's rounds. */
  def cpuPerRound: Double = roundCpu.sum / roundCpu.length

  def path(name: String): String = s"$workDir/$name"
}

/** Executor CPU seconds of finished tasks, summed by a listener. It runs
  * in untraced runs as well: it is what the CPU metric is made of. */
final class CpuMeter(spark: SparkSession) {
  private val cpuNs = new java.util.concurrent.atomic.AtomicLong()
  spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
    override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
      if (e.taskMetrics != null) cpuNs.addAndGet(e.taskMetrics.executorCpuTime)
  })
  def cpuSeconds(): Double = {
    org.apache.spark.BenchBus.drain(spark.sparkContext)
    cpuNs.get() / 1e9
  }
}

/** The outcome of one workload run: end-to-end metrics (always measured)
  * and a workload-specific detail record for the README's tables. */
final case class Outcome(
    endToEnd: Map[String, Metric],
    detail: Seq[(String, Metric)])

trait Workload {
  def name: String
  def run(ctx: Ctx): Outcome
}
