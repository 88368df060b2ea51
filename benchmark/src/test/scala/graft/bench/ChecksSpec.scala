package graft.bench

import org.scalatest.funsuite.AnyFunSuite

/** Every correctness check passes on the right output and fails on a
  * deliberately wrong one. */
class ChecksSpec extends AnyFunSuite {
  private val shape = TraceShape(rows = 5000, params = 20, spanDays = 10)
  private val seed = 7L

  private def nonEmptyRequest: (TraceData.Request, IndexedSeq[TraceData.Row]) =
    TraceData.requests(seed, shape, 8, 8).iterator
      .map(r => r -> TraceData.expected(seed, shape, r)).find(_._2.length >= 3).get

  test("export rows: right rows pass; a dropped, reordered or altered row fails") {
    val (_, want) = nonEmptyRequest
    assert(Checks.exportRows(want, want).isEmpty)
    assert(Checks.exportRows(want, want.tail).isDefined)
    assert(Checks.exportRows(want, want.reverse).isDefined)
    val altered = want.updated(1, want(1).copy(text = want(1).text + " "))
    assert(Checks.exportRows(want, altered).isDefined)
  }

  test("expected rows match a brute-force scan of the generator") {
    val (req, want) = nonEmptyRequest
    val lo = Mix.micros(req.start)
    val hi = Mix.micros(req.end)
    val brute = (0L until shape.rows.toLong).map(i => TraceData.row(seed, i, shape))
      .filter(r => req.ids.contains(r.param) && r.startMicros >= lo && r.startMicros <= hi)
      .sortBy(r => (r.param, r.startMicros))
    assert(want == brute)
  }

  test("emptiness flag: requests that match nothing must return false") {
    val empty = TraceData.requests(seed, shape, 2, 8)(7)
    assert(TraceData.expected(seed, shape, empty).isEmpty)
    assert(Checks.emptyFlag(0, returned = false).isEmpty)
    assert(Checks.emptyFlag(0, returned = true).isDefined)
    assert(Checks.emptyFlag(3, returned = false).isDefined)
  }

  test("bulk totals: a missing row, a changed param or a changed payload fails") {
    val rows = (0L until shape.rows.toLong).map(i => TraceData.row(seed, i, shape))
    def of(rs: Seq[TraceData.Row]) =
      (rs.length.toLong, rs.map(_.param).sum, rs.map(r => Mix.rowDigest(r.param, r.startMicros, r.text)).sum)
    val expect = TraceData.totals(seed, shape)
    assert(Checks.totals("t", expect, of(rows.reverse)).isEmpty)
    assert(Checks.totals("t", expect, of(rows.tail)).isDefined)
    assert(Checks.totals("t", expect, of(rows.updated(3, rows(3).copy(param = rows(3).param + 1)))).isDefined)
    assert(Checks.totals("t", expect, of(rows.updated(3, rows(3).copy(text = "{}")))).isDefined)
  }

  test("ordered export: any inversion of (param, start) fails") {
    val keys = Seq((1L, 5L), (1L, 9L), (2L, 1L), (2L, 1L), (3L, 0L))
    assert(Checks.nonDecreasing(keys).isEmpty)
    assert(Checks.nonDecreasing(keys.updated(1, (1L, 4L))).isDefined)
    assert(Checks.nonDecreasing(keys :+ ((2L, 7L))).isDefined)
  }

  test("store: reads against the model, manifest count against the rows") {
    val model = Map(1L -> "a", 2L -> "b", 3L -> "c")
    assert(Checks.storeRows("r", model, Seq(3L -> "c", 1L -> "a", 2L -> "b")).isEmpty)
    assert(Checks.storeRows("r", model, Seq(1L -> "a", 2L -> "b")).isDefined)
    assert(Checks.storeRows("r", model, Seq(1L -> "a", 2L -> "b", 3L -> "old")).isDefined)
    assert(Checks.storeRows("r", model, Seq(1L -> "a", 2L -> "b", 3L -> "c", 4L -> "d")).isDefined)
    assert(Checks.storeRows("r", model, Seq(1L -> "a", 1L -> "a", 2L -> "b", 3L -> "c")).isDefined)
    assert(Checks.manifestCount(3, 3).isEmpty)
    assert(Checks.manifestCount(4, 3).isDefined)
  }

  test("dedup: one survivor per exact-copy group, output a subset of the input") {
    val docs = CorpusData.docs(seed, 200)
    val input = docs.texts.map(_._1).toSet
    assert(docs.exactGroups.nonEmpty && docs.exactGroups.forall(_.length >= 2))
    // every group's texts really are identical
    val text = docs.texts.toMap
    assert(docs.exactGroups.forall(g => g.map(text).distinct.length == 1))
    val keepFirst = input -- docs.exactGroups.flatMap(_.tail)
    assert(Checks.dedup(input, docs.exactGroups, keepFirst.toSeq).isEmpty)
    val g = docs.exactGroups.head
    assert(Checks.dedup(input, docs.exactGroups, (keepFirst ++ g).toSeq).isDefined)
    assert(Checks.dedup(input, docs.exactGroups, (keepFirst -- g).toSeq).isDefined)
    assert(Checks.dedup(input, docs.exactGroups, (keepFirst + 99999L).toSeq).isDefined)
  }

  test("ANN: scores must be the cosine, ranks ordered; recall against exact top-k") {
    val corpus = CorpusData.vectors(seed, 1, 300, 16, 4, 0L)
    val queries = CorpusData.vectors(seed, 2, 5, 16, 4, 1000L)
    val cmap = corpus.toMap
    val exact = queries.map { case (q, v) => q -> Checks.exactTopK(v, corpus, 10) }.toMap
    val right = queries.flatMap { case (q, v) =>
      exact(q).zipWithIndex.map { case (nb, i) => (q, i + 1L, nb, Checks.cosine(v, cmap(nb))) }
    }
    assert(Checks.annScores(right, queries.toMap, cmap, 10).isEmpty)
    assert(Checks.recall(exact, right.groupBy(_._1).map { case (q, rs) => q -> rs.map(_._3) }) == 1.0)
    val wrongScore = right.updated(2, right(2).copy(_4 = right(2)._4 + 0.01))
    assert(Checks.annScores(wrongScore, queries.toMap, cmap, 10).isDefined)
    val swapped = right.updated(0, right(0).copy(_2 = 2L)).updated(1, right(1).copy(_2 = 1L))
    assert(Checks.annScores(swapped, queries.toMap, cmap, 10).isDefined)
    val halfRecall = exact.map { case (q, nbs) => q -> (nbs.take(5) ++ Seq.fill(5)(-1L)) }
    assert(Checks.recall(exact, halfRecall) == 0.5)
  }
}
