package graft

import graft.queries._

/**
 * Central query registry: the declarations of every query family, one
 * object per SURVEY.md §2 operator group. `Queries.all` (the
 * verification surface), `Queries.oracles` (its DuckDB twin) and
 * `Bench.selection` (what Bench times) are projections of that one list,
 * so an oracle or a bench twin cannot outlive its query.
 *
 * Determinism rules shared by all families are documented on
 * [[graft.queries.QueryFamily]].
 */
object Queries {

  private val families: Seq[QueryFamily] = Seq(
    TraceQueries,
    RelationalQueries,
    AnalyticsQueries,
    ScalarQueries,
    ExtensionQueries,
    PipelineQueries,
    RetrievalQueries)

  // lazy vals, not defs: the registry is immutable and Bench/Verify/
  // Explain each touch these several times at startup
  lazy val declarations: Seq[Q] = {
    val qs = families.flatMap(_.declarations)
    val dups = qs.groupBy(_.name).filter(_._2.size > 1).keys
    require(dups.isEmpty,
      s"duplicate query names across families (later would silently win): ${dups.mkString(", ")}")
    qs
  }

  lazy val all: Map[String, Q.Fn] =
    declarations.map(q => q.name -> q.fn).toMap

  lazy val oracles: Map[String, String] =
    declarations.flatMap(q => q.oracle.map(q.name -> _)).toMap
}
