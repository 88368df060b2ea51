package graft.bench

import java.time.LocalDateTime
import java.time.temporal.ChronoUnit

/**
 * The seeded trace table: an append-only sensor log. Row `i` starts at
 * `T0 + i * step` (so the table is time-ordered), belongs to a param drawn
 * from the seed (params interleave), and carries a ragged JSON payload.
 * Every row is a pure function of (seed, i), so the expected result of any
 * request is computed here, apart from the engine.
 */
final case class TraceShape(rows: Int, params: Int, spanDays: Int) {
  val stepMicros: Long = spanDays * 86400L * 1000000L / rows
}

object TraceData {
  val T0: LocalDateTime = LocalDateTime.of(2024, 1, 1, 0, 0)
  private val T0Micros = Mix.micros(T0)

  def param(seed: Long, i: Long, shape: TraceShape): Long =
    1 + java.lang.Math.floorMod(Mix.h(seed, i, 1), shape.params.toLong)

  def startMicros(i: Long, shape: TraceShape): Long = T0Micros + i * shape.stepMicros

  def endMicros(seed: Long, i: Long, shape: TraceShape): Long =
    startMicros(i, shape) + (1 + java.lang.Math.floorMod(Mix.h(seed, i, 2), 600L)) * 1000000L

  private val Status = Array("OK", "WARN", "CRITICAL", "IDLE")

  /** Ragged JSON: 1 to 12 numeric fields after a value and a status. */
  def payload(seed: Long, i: Long): String = {
    val h = Mix.h(seed, i, 3)
    val b = new StringBuilder(256)
    b ++= "{\"value\": " ++= (java.lang.Math.floorMod(h, 100000L)).toString
    b ++= ", \"status\": \"" ++= Status(java.lang.Math.floorMod(h >>> 20, 4L).toInt) += '"'
    val extra = 1 + java.lang.Math.floorMod(h >>> 24, 12L).toInt
    var k = 0
    while (k < extra) {
      val v = Mix.h(seed, i, 100 + k)
      b ++= ", \"f" ++= k.toString ++= "\": "
      b ++= (java.lang.Math.floorMod(v, 1000000L) / 100.0).toString
      k += 1
    }
    (b += '}').toString
  }

  final case class Row(param: Long, startMicros: Long, endMicros: Long, text: String)

  def row(seed: Long, i: Long, shape: TraceShape): Row =
    Row(param(seed, i, shape), startMicros(i, shape), endMicros(seed, i, shape), payload(seed, i))

  /** One export request: param ids and a closed start-time window. */
  final case class Request(ids: Seq[Long], start: LocalDateTime, end: LocalDateTime)

  /** A seeded stream of reference-shaped requests, in rounds of
    * `roundSize`. The last request of each round asks for params the table
    * does not hold (the 404 path). The others ask for 1 to 16 params and a
    * window from two hours to three weeks; both are stratified within the
    * round (each request draws from its own slice of the log-uniform window
    * range and of the param-count range, paired at random), so every round
    * has the same make-up and seeds differ in where and which params. */
  def requests(seed: Long, shape: TraceShape, rounds: Int, roundSize: Int): IndexedSeq[Request] = {
    val rnd = new java.util.Random(Mix.h(seed, 0, 77))
    val spanMicros = shape.rows * shape.stepMicros
    val strata = roundSize - 1
    val (logLo, logHi) = (math.log(2), math.log(21 * 24))
    (0 until rounds).flatMap { _ =>
      val kOrder = scala.util.Random.javaRandomToRandom(rnd).shuffle((0 until strata).toIndexedSeq)
      (0 to strata).map { j =>
        val empty = j == strata
        val slot = if (empty) rnd.nextInt(strata) else j
        val k = 1 + ((kOrder(slot) + rnd.nextDouble()) * 16 / strata).toInt
        val ids =
          if (empty) (1 to k).map(x => shape.params.toLong + 1000 + x)
          else rnd.ints(0, shape.params).distinct().limit(k).toArray.toSeq.map(_ + 1L)
        val winHours = math.exp(logLo + (slot + rnd.nextDouble()) / strata * (logHi - logLo))
        val winMicros = (winHours * 3600e6).toLong
        val startOff = (rnd.nextDouble() * math.max(1L, spanMicros - winMicros)).toLong
        val s = T0.plus(startOff, ChronoUnit.MICROS)
        Request(ids.sorted, s, s.plus(winMicros, ChronoUnit.MICROS))
      }
    }
  }

  /** Rows the table holds for `req`, ordered by (param, start): computed
    * from the generator alone, scanning only the rows the window spans. */
  def expected(seed: Long, shape: TraceShape, req: Request): IndexedSeq[Row] = {
    val lo = Mix.micros(req.start) - T0Micros
    val hi = Mix.micros(req.end) - T0Micros
    val first = math.max(0L, ceilDiv(lo, shape.stepMicros))
    val last = math.min(shape.rows - 1L, java.lang.Math.floorDiv(hi, shape.stepMicros))
    val ids = req.ids.toSet
    val out = scala.collection.mutable.ArrayBuffer[Row]()
    var i = first
    while (i <= last) {
      if (ids.contains(param(seed, i, shape))) out += row(seed, i, shape)
      i += 1
    }
    out.sortBy(r => (r.param, r.startMicros)).toIndexedSeq
  }

  private def ceilDiv(a: Long, b: Long): Long = -java.lang.Math.floorDiv(-a, b)

  /** Closed forms of the whole table: rows, sum of params, and the
    * order-insensitive payload digest ([[Mix.rowDigest]] summed). */
  def totals(seed: Long, shape: TraceShape): (Long, Long, Long) = {
    var sumParam = 0L
    var digest = 0L
    var i = 0L
    while (i < shape.rows) {
      val p = param(seed, i, shape)
      sumParam += p
      digest += Mix.rowDigest(p, startMicros(i, shape), payload(seed, i))
      i += 1
    }
    (shape.rows.toLong, sumParam, digest)
  }
}

/** Seeded hashing shared by every generator and check in the benchmark. */
object Mix {
  /** SplitMix64 finalizer. */
  def mix(z0: Long): Long = {
    var z = z0
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  def h(seed: Long, i: Long, salt: Long): Long =
    mix(mix(seed * 0x9e3779b97f4a7c15L + salt) + i)

  def micros(t: LocalDateTime): Long =
    ChronoUnit.MICROS.between(LocalDateTime.of(1970, 1, 1, 0, 0), t)

  /** A 32-bit digest of one exported row; summed over rows it is
    * independent of row order and cannot overflow a long. */
  def rowDigest(param: Long, startMicros: Long, text: String): Long = {
    mix(mix(param * 31 + startMicros) + text.hashCode) & 0xffffffffL
  }
}
