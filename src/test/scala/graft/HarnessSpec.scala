package graft

import graft.queries.AnalyticsQueries

/** The registry and the pieces of the bench harnesses built on it: the
  * one declaration list, Bench's selection, `BenchScale`'s probe names,
  * the JSON string escaper shared by `Bench` and `Verify`,
  * `BenchScale`'s per-row scale gate and `JobProfile`'s span arithmetic. */
class HarnessSpec extends SparkSpec {

  private val sketchTwins = Map(
    "agg_approx_distinct" -> (AnalyticsQueries.aggApproxDistinctBench _),
    "agg_hll_sketch" -> (AnalyticsQueries.aggHllSketchBench _),
    "agg_hll_union" -> (AnalyticsQueries.aggHllUnionBench _))

  test("registered query names are unique") {
    val names = Queries.declarations.map(_.name)
    assert(names.distinct.size == names.size,
      names.diff(names.distinct).mkString(", "))
    assert(SparkEntry.queries.keySet == names.toSet)
  }

  test("the registry keeps 282 queries, 262 of them with an oracle") {
    assert(SparkEntry.queries.size == 282)
    assert(SparkEntry.oracleSql.size == 262)
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }

  test("Bench times the sketch twins and every other query's registered plan") {
    val selected = Bench.selection(None)
    assert(selected.keySet == SparkEntry.queries.keySet)
    assert(Queries.declarations.filter(_.benchTwin.isDefined).map(_.name).toSet ==
      sketchTwins.keySet)
    sketchTwins.foreach { case (name, twin) =>
      assert(selected(name) ne SparkEntry.queries(name), name)
      assert(selected(name)(spark, sfDir).sameSemantics(twin(spark, sfDir)), name)
      // the registered form carries the exact count only the oracle needs
      assert(SparkEntry.queries(name)(spark, sfDir).columns.contains("exact_customers"))
      assert(!selected(name)(spark, sfDir).columns.contains("exact_customers"), name)
    }
    (SparkEntry.queries.keySet -- sketchTwins.keySet).foreach { name =>
      assert(selected(name) eq SparkEntry.queries(name), name)
    }
    assert(Bench.selection(Some(Set("agg_hll_sketch", "trace_export"))).keySet ==
      Set("agg_hll_sketch", "trace_export"))
  }

  test("every BenchScale probe is a registered query or a stage probe") {
    val unknown = BenchScale.probes.map(_._1)
      .filterNot(n => SparkEntry.queries.contains(n) || BenchScale.stageProbes.contains(n))
    assert(unknown.isEmpty, unknown.mkString(", "))
    // stage probes never shadow a registered name, and each is probed
    assert(BenchScale.stageProbes.keySet.intersect(SparkEntry.queries.keySet).isEmpty)
    assert(BenchScale.stageProbes.keySet.subsetOf(BenchScale.probes.map(_._1).toSet))
  }

  test("the JSON escaper escapes quote, backslash, newline, tab and control chars") {
    val raw = "a\"b\\c\nd\te\u0001f"
    assert(Bench.jesc(raw) == "a\\\"b\\\\c\\nd\\te\\u0001f")
    assert(Bench.jstr(raw) == "\"" + Bench.jesc(raw) + "\"")
    // and a JSON parser reads the original string back
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    assert(mapper.readValue(Bench.jstr(raw), classOf[String]) == raw)
  }

  test("the answer-class scale gate fails a row whose x1 probe returned no rows") {
    // (c10/c1) · (r1/r10) would be 0 here and pass whatever the x10 cost
    assert(BenchScale.scaleGate("answer", 50.0, 0L, 1000L) == ((-1.0, false)))
    assert(BenchScale.scaleGate("answer", 10.0, 100L, 1000L) == ((1.0, true)))
    assert(!BenchScale.scaleGate("answer", 40.0, 100L, 1000L)._2)
    // other classes gate the total CPU ratio against the linear budget
    assert(BenchScale.scaleGate("linear", 15.0, 0L, 0L)._2)
    assert(!BenchScale.scaleGate("linear", 17.0, 5L, 50L)._2)
    assert(BenchScale.scaleGate("composite", 19.0, 5L, 50L)._2)
  }

  test("JobProfile bills overlapped job spans once and never prints a negative gap") {
    // job 2 (a broadcast, say) starts inside job 1; job 3 starts after
    // both, job 4 inside job 3
    val spans = Seq((0L, 100L), (40L, 150L), (200L, 300L), (250L, 260L))
    assert(JobProfile.spanUnion(spans) == 250L) // not the 360 summed walls
    assert(JobProfile.gaps(spans) == Seq(0L, 0L, 50L, 0L))
    // the gaps and the union cover the profiled interval exactly
    assert(JobProfile.spanUnion(spans) + JobProfile.gaps(spans).sum == 300L)
    // disjoint spans: the union is the plain sum; order does not matter
    assert(JobProfile.spanUnion(Seq((30L, 40L), (0L, 10L))) == 20L)
    assert(JobProfile.spanUnion(Nil) == 0L && JobProfile.gaps(Nil).isEmpty)
  }
}
