package graft.bench

/**
 * The correctness checks, as pure functions of (what the benchmark's own
 * model says, what the engine returned). Each returns None when the output
 * is right and a one-line reason when it is not. None of them derives its
 * expectation from the engine's output.
 */
object Checks {
  private def first[T](xs: Iterator[Option[T]]): Option[T] = xs.collectFirst { case Some(x) => x }

  /** Export rows: same rows, same order, same payload text. */
  def exportRows(expected: Seq[TraceData.Row], got: Seq[TraceData.Row]): Option[String] =
    if (expected.length != got.length)
      Some(s"export returned ${got.length} rows, the generator says ${expected.length}")
    else first(expected.iterator.zip(got.iterator).zipWithIndex.map { case ((e, g), i) =>
      if (e != g) Some(s"export row $i is $g, the generator says $e") else None
    })

  /** exportToParquet's emptiness flag against the generator. */
  def emptyFlag(expectedRows: Int, returned: Boolean): Option[String] =
    if (returned != (expectedRows > 0))
      Some(s"exportToParquet returned $returned for a request the generator says has $expectedRows rows")
    else None

  /** (rows, sum of params, payload digest) against the closed forms. */
  def totals(what: String, expected: (Long, Long, Long), got: (Long, Long, Long)): Option[String] =
    if (expected != got) Some(s"$what: (rows, sum(paramIndex), digest) = $got, the generator says $expected")
    else None

  /** Keys in output order must be non-decreasing. */
  def nonDecreasing(keys: Seq[(Long, Long)]): Option[String] =
    first(keys.iterator.sliding(2).withPartial(false).zipWithIndex.map { case (Seq(a, b), i) =>
      if (Ordering[(Long, Long)].gt(a, b)) Some(s"ordered export breaks order at row ${i + 1}: $a then $b")
      else None
    })

  /** Rows read from the store against the benchmark's key -> value model. */
  def storeRows(what: String, model: Map[Long, String], got: Seq[(Long, String)]): Option[String] = {
    val gotMap = got.toMap
    if (gotMap.size != got.length) Some(s"$what: duplicate keys in ${got.length} rows read")
    else if (gotMap != model) {
      val missing = (model.keySet -- gotMap.keySet).take(3)
      val extra = (gotMap.keySet -- model.keySet).take(3)
      val wrong = model.keySet.intersect(gotMap.keySet).filter(k => model(k) != gotMap(k)).take(3)
      Some(s"$what: ${got.length} rows read, model has ${model.size}; missing $missing, extra $extra, wrong values $wrong")
    } else None
  }

  /** The manifest's promised row count against the rows read back. */
  def manifestCount(manifest: Long, read: Long): Option[String] =
    if (manifest != read) Some(s"manifestRowCount is $manifest but $read rows read back") else None

  /** Dedup output: a subset of the input, with exactly one survivor in each
    * planted exact-copy group. */
  def dedup(input: Set[Long], exactGroups: Seq[Seq[Long]], output: Seq[Long]): Option[String] = {
    val out = output.toSet
    if (out.size != output.length) Some("dedup output repeats a document")
    else if (!out.subsetOf(input)) Some(s"dedup output has ids not in the input: ${(out -- input).take(3)}")
    else first(exactGroups.iterator.map { g =>
      val kept = g.count(out.contains)
      if (kept != 1) Some(s"exact-copy group ${g.take(5)} kept $kept survivors, expected 1") else None
    })
  }

  def cosine(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < a.length) {
      dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i)
      i += 1
    }
    dot / math.sqrt(na * nb)
  }

  /** Every returned score equals an independently computed cosine, ranks
    * run 1..n per query with non-increasing scores, and no query gets more
    * than k neighbours. */
  def annScores(
      results: Seq[(Long, Long, Long, Double)],
      queries: Map[Long, Array[Float]],
      corpus: Map[Long, Array[Float]],
      k: Int): Option[String] =
    first(results.groupBy(_._1).iterator.map { case (q, rs) =>
      val sorted = rs.sortBy(_._2)
      if (!queries.contains(q)) Some(s"ANN returned unknown query $q")
      else if (sorted.length > k) Some(s"query $q got ${sorted.length} neighbours, k = $k")
      else if (sorted.map(_._2) != (1L to sorted.length.toLong)) Some(s"query $q ranks ${sorted.map(_._2)}")
      else first(sorted.iterator.zip(Iterator(None) ++ sorted.iterator.map(Some(_))).map {
        case ((_, rank, nb, score), prev) =>
          corpus.get(nb) match {
            case None => Some(s"query $q rank $rank: neighbour $nb is not in the corpus")
            case Some(v) =>
              val want = cosine(queries(q), v)
              if (math.abs(want - score) > 1e-4)
                Some(s"query $q rank $rank: score $score, cosine is $want")
              else if (prev.exists(_._4 < score - 1e-9))
                Some(s"query $q rank $rank: score $score above the rank before it")
              else None
          }
      })
    })

  /** Exact top-k by the benchmark's own loop, and the recall of `got`. */
  def exactTopK(q: Array[Float], corpus: Seq[(Long, Array[Float])], k: Int): Seq[Long] =
    corpus.map { case (id, v) => (id, cosine(q, v)) }
      .sortBy { case (id, s) => (-s, id) }.take(k).map(_._1)

  def recall(exact: Map[Long, Seq[Long]], got: Map[Long, Seq[Long]]): Double = {
    val hits = exact.iterator.map { case (q, e) => e.toSet.intersect(got.getOrElse(q, Nil).toSet).size }.sum
    hits.toDouble / exact.values.map(_.length).sum
  }
}
