package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{AnnIndex, Fusion, Retrieval, Similarity}
import graft.sources.Tables

/**
 * Retrieval family (SURVEY §2.3): BM25 ranked search over `documents`,
 * direct and served from the durable inverted-index artifact. Scores
 * are integer fixed-point (ppm) so the DuckDB oracles replay the exact
 * rational arithmetic bit-for-bit — see [[graft.operators.Retrieval]]
 * for the scoring contract.
 *
 * The fixture workload mixes one rare term (`dup`, df ≈ 5% of docs)
 * with common terms (df ≈ 80%) so the idf factor visibly reorders
 * results, not just tf.
 */
object RetrievalQueries extends QueryFamily {

  /** (query_id, term) fixture workload — `dup` is the rare term. */
  private val workload: Seq[(Int, String)] = Seq(
    1 -> "dup", 1 -> "join",
    2 -> "spark", 2 -> "window", 2 -> "agg",
    3 -> "fast", 3 -> "key")

  private def workloadDf(spark: SparkSession): DataFrame = {
    import spark.implicits._
    workload.toDF("query_id", "term")
  }

  private def workloadSqlValues: String =
    workload.map { case (q, t) => s"($q, '$t')" }.mkString(", ")

  /** BM25 top-10 docs per workload query. */
  def textBm25TopK(spark: SparkSession, dir: String): DataFrame =
    Retrieval.bm25TopK(Tables.documents(spark, dir), "doc_id", "text",
      workloadDf(spark), k = 10)
      .orderBy(col("query_id"), col("rank"))

  /** Same workload served from the durable inverted-index artifact —
    * build + serve in one query so the driver exercises the artifact
    * path end-to-end; bit-equality with `text_bm25_topk` means one
    * oracle covers both. */
  def textBm25Index(spark: SparkSession, dir: String): DataFrame = {
    // fixed per-(fixture, process) location + overwrite mode: repeated
    // runs within a harness (bench passes, multi-SF verification)
    // rebuild in place instead of leaking a corpus-sized index copy per
    // invocation, while the pid suffix keeps two concurrent graft
    // processes on the same fixture from deleting each other's index
    // mid-read
    val idx = graft.TmpCleanup.perProcessDir("graft-bm25-idx", dir)
    // the pid suffix means each JVM leaves its own copy behind — delete
    // it at JVM exit, or repeated bench/verify processes accumulate
    // corpus-sized index dirs in /tmp until the filesystem fills
    graft.TmpCleanup.register(idx)
    Retrieval.writeIndex(Tables.documents(spark, dir), "doc_id", "text", idx)
    Retrieval.searchIndex(spark, idx, workloadDf(spark), k = 10)
      .orderBy(col("query_id"), col("rank"))
  }

  /**
   * Segment compaction round trip — [[textBm25Index]]'s maintenance
   * twin: the index is built as TWO committed segments (even/odd docs —
   * the continuous-ingest shape, one segment per micro-batch), served,
   * compacted to ONE merged segment via the atomic superseding-marker
   * publish ([[Retrieval.compactIndexSegments]]), and served again.
   * The post-compaction serve is hash-checked against the same DuckDB
   * BM25 derivation as the direct query; `served_equal` gates
   * bit-equality of the pre/post serves (the merge must not move a
   * single score or rank) and `compacted_ok` that consolidation
   * actually happened (2 live segments → 1).
   */
  def textBm25SegmentCompact(spark: SparkSession, dir: String): DataFrame = {
    val idx = graft.TmpCleanup.perProcessDir("graft-bm25-seg", dir)
    graft.TmpCleanup.register(idx)
    // rebuild per invocation: compaction mutates the layout, so a bench
    // re-entry over last run's single segment would gate compacted_ok
    // vacuously red
    graft.TmpCleanup.wipe(idx)
    val docs = Tables.documents(spark, dir)
    Retrieval.writeIndexSegment(docs.filter(col("doc_id") % 2 === 0),
      "doc_id", "text", idx, "batch=0")
    Retrieval.writeIndexSegment(docs.filter(col("doc_id") % 2 === 1),
      "doc_id", "text", idx, "batch=1")
    def serve() = Retrieval.searchIndex(spark, idx, workloadDf(spark), k = 10)
      .orderBy(col("query_id"), col("rank"))
    // materialize BEFORE compacting — the lazy plan would otherwise
    // read the post-compaction layout (or a deleted segment)
    val before = serve().collect().toSeq
    val nAfter = Retrieval.compactIndexSegments(spark, idx)
    val compactedOk = nAfter == 1
    val after = serve()
    val servedEqual = after.collect().toSeq == before
    after
      .withColumn("served_equal", lit(servedEqual))
      .withColumn("compacted_ok", lit(compactedOk))
      .orderBy(col("query_id"), col("rank"))
  }

  /**
   * Doc-keyed takedown on the durable index
   * ([[Retrieval.deleteDocsFromIndex]]): the index is built as TWO
   * committed segments, every `doc_id % 7 == 0` is tombstoned, and the
   * serve must be score-identical to an index that NEVER ingested those
   * docs (results, df, and corpus stats all forget them — the DuckDB
   * twin recomputes BM25 over the filtered corpus). Then compaction
   * MATERIALIZES the deletes; `served_equal` gates bit-equality of the
   * tombstone-filtered and materialized serves, `tombstones_cleared`
   * that compaction reclaimed the absorbed tombstone segments.
   */
  def textBm25Delete(spark: SparkSession, dir: String): DataFrame = {
    val idx = graft.TmpCleanup.perProcessDir("graft-bm25-del", dir)
    graft.TmpCleanup.register(idx)
    // rebuild per invocation: deletes mutate the layout
    graft.TmpCleanup.wipe(idx)
    val docs = Tables.documents(spark, dir)
    Retrieval.writeIndexSegment(docs.filter(col("doc_id") % 2 === 0),
      "doc_id", "text", idx, "batch=0")
    Retrieval.writeIndexSegment(docs.filter(col("doc_id") % 2 === 1),
      "doc_id", "text", idx, "batch=1")
    Retrieval.deleteDocsFromIndex(spark, idx,
      docs.filter(col("doc_id") % 7 === 0).select(col("doc_id")))
    def serve() = Retrieval.searchIndex(spark, idx, workloadDf(spark), k = 10)
      .orderBy(col("query_id"), col("rank"))
    val before = serve().collect().toSeq
    Retrieval.compactIndexSegments(spark, idx)
    val after = serve()
    val servedEqual = after.collect().toSeq == before
    val tombstonesCleared = !new java.io.File(s"$idx/tombstones").exists() ||
      new java.io.File(s"$idx/tombstones").listFiles().isEmpty
    after
      .withColumn("served_equal", lit(servedEqual))
      .withColumn("tombstones_cleared", lit(tombstonesCleared))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Hybrid candidate depth: each ranker contributes its top-20 list,
    * deep enough that the fused top-10 is never truncation-starved
    * (dense alone yields 20 candidates per query at every fixture SF). */
  private val hybridDepth = 20

  /** Dense-side query vectors: the embeddings whose vec_id matches the
    * sparse workload's query_ids 1..3, so one fused ranking carries both
    * modalities per query. */
  private def hybridQueryVecs(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir).filter(col("vec_id").between(1, 3))

  /**
   * Hybrid retrieval ([[Fusion.hybridTopK]]): BM25 sparse top-20 ⊕ exact
   * cosine dense top-20, fused by reciprocal-rank in integer micro units
   * — the standard two-tower hybrid search every retrieval-augmented
   * pipeline serves. Both rankers are exact here, so the ENTIRE fused
   * ranking (per-side contributions included) replays in DuckDB: the
   * BM25 CTE chain for the sparse list, `list_cosine_similarity` ranks
   * for the dense list, `//` integer RRF for the fusion. The ANN-served
   * variant is [[textHybridIndexVerdict]].
   */
  def textHybridTopK(spark: SparkSession, dir: String): DataFrame = {
    val sparse = Retrieval.bm25TopK(Tables.documents(spark, dir),
      "doc_id", "text", workloadDf(spark), k = hybridDepth)
    val dense = Similarity.bruteForceTopK(Tables.embeddings(spark, dir),
      hybridQueryVecs(spark, dir), "vec_id", "embedding", k = hybridDepth)
    Fusion.hybridTopK(sparse, dense, n = 10)
      .orderBy(col("query_id"), col("rank"))
  }

  /**
   * Hybrid serve from BOTH durable artifacts — the production shape:
   * sparse list from the inverted-index segments ([[Retrieval
   * .searchIndex]]), dense list from the IVF-flat artifact
   * ([[AnnIndex.searchIvf]], nProbe = 4 — genuinely pruned probing, not
   * the exhaustive fallback), fused by the same [[Fusion.hybridTopK]].
   * The IVF list is approximate, so the fused ids are not
   * SQL-derivable; the verdict gates instead pin the two serve paths to
   * their in-memory twins under IDENTICAL parameters — both twins are
   * deterministic, and each equality covers the whole artifact
   * lifecycle (build → commit → prune → serve): `sparse_equal` ⇔
   * bit-equality with [[Retrieval.bm25TopK]] (scores included — integer
   * ppm), `dense_equal` ⇔ rank-for-rank identity with
   * [[Similarity.ivfTopK]] (ids + ranks; scores are float, compared by
   * the ordering they induce). Collects are workload-bounded
   * (queries × depth rows). Oracle: the exact (query_id, rank 1..10)
   * grid with TRUE gates — a missing fused row, an extra one, or either
   * twin diverging flips the compare.
   */
  def textHybridIndexVerdict(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val emb = Tables.embeddings(spark, dir)
    val bmIdx = graft.TmpCleanup.perProcessDir("graft-hyb-bm25", dir)
    val annIdx = graft.TmpCleanup.perProcessDir("graft-hyb-ivf", dir)
    graft.TmpCleanup.register(bmIdx)
    graft.TmpCleanup.register(annIdx)
    Retrieval.writeIndex(docs, "doc_id", "text", bmIdx)
    AnnIndex.writeIvf(emb, "vec_id", "embedding", annIdx,
      nCells = 16, trainSampleN = 4096)
    val qTerms = workloadDf(spark)
    val qVecs = hybridQueryVecs(spark, dir)
    // both served lists feed TWO actions (the verdict grid collect and
    // the returned fusion) — scope-cached so the artifact serve (segment
    // reads + scoring, a dozen-job plan each) runs once, not twice.
    // Measured at sf0.1, local[4], 5 interleaved pairs: 68 jobs against
    // 76 uncached, Bench wall lower in 5/5 pairs (median 3.88 vs 4.07 s)
    val sparseIdx = graft.CacheScope.scoped(
      Retrieval.searchIndex(spark, bmIdx, qTerms, k = hybridDepth))
    val denseIdx = graft.CacheScope.scoped(AnnIndex.searchIvf(spark, annIdx, qVecs,
      "vec_id", "embedding", k = hybridDepth, nProbe = 4))
    val sparseMem = Retrieval.bm25TopK(docs, "doc_id", "text",
      qTerms, k = hybridDepth)
    val denseMem = Similarity.ivfTopK(emb, qVecs, "vec_id", "embedding",
      k = hybridDepth, nCells = 16, nProbe = 4, trainSampleN = 4096)
    def grid(df: DataFrame, cols: String*): Set[Seq[Any]] =
      df.select(cols.map(col): _*).collect()
        .map(r => cols.indices.map(r.get)).toSet
    val sparseEqual =
      grid(sparseIdx, "query_id", "doc_id", "score_ppm", "rank") ==
        grid(sparseMem, "query_id", "doc_id", "score_ppm", "rank")
    val denseEqual =
      grid(denseIdx, "query_id", "rank", "neighbor_id") ==
        grid(denseMem, "query_id", "rank", "neighbor_id")
    Fusion.hybridTopK(sparseIdx, denseIdx, n = 10)
      .select(col("query_id"), col("rank"))
      .withColumn("sparse_equal", lit(sparseEqual))
      .withColumn("dense_equal", lit(denseEqual))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Quoted-phrase workload: a trigram with hits at ALL three fixture
    * SFs (5 / 1 / 7 occurrences at sf0.001/0.01/0.1), so no SF's
    * verification degenerates to an empty result. Multiplicity within
    * one doc is covered by RetrievalSpec's overlap cases. */
  private val phrase = Seq("order", "fast", "window")

  /** Exact positional phrase search with occurrence counts. */
  def textPhraseSearch(spark: SparkSession, dir: String): DataFrame =
    Retrieval.phraseSearch(Tables.documents(spark, dir), "doc_id", "text", phrase)
      .orderBy(col("doc_id"))

  /** Quoted CJK phrase under the UNICODE contract: "质量很高" is a
    * contiguous run inside mixed phrase 1 (docs with doc_id % 5 == 0);
    * [[Retrieval.phraseSearchText]] tokenizes the raw quote per-char
    * with the driver-side tokenizer twin — the query the old
    * `[a-z0-9]` term gate could not even EXPRESS (the r15-verdict
    * phrase-search gap). Full RE2 positional replay in DuckDB. */
  def textPhraseSearchUnicode(spark: SparkSession, dir: String): DataFrame =
    Retrieval.phraseSearchText(
      ExtensionQueries.withMixedText(Tables.documents(spark, dir), full = false),
      "doc_id", "mtext", "质量很高", unicode = true)
      .orderBy(col("doc_id"))

  /** Shared SQL fragments: the house tokenizer twin and the BM25 CTE
    * chain (used by both bm25 oracles — the index query is defined to
    * be bit-equal to the direct one). Note the stats CTE aggregates
    * over the docs relation directly, NOT over the unnested token
    * stream: Spark's corpus stats count every doc row, and a zero-token
    * doc would vanish from an unnest-derived count (the lens CTE is
    * only ever joined for docs that carry a query term, so its
    * derivation from toks is safe). */
  private def bm25Sql: String = bm25SqlOver("documents")

  /** The BM25 CTE body through `scored` (per-(query, doc) integer ppm
    * scores, unranked) — shared by the ranked bm25 oracles, the hybrid
    * oracle, and pipeline_corpus_v10 (which scores a derived corpus CTE
    * under the UNICODE tokenizer): ONE definition of the scoring chain,
    * so no oracle carries a driftable copy. `toksOf` maps a text-column
    * expr to its token-list SQL (default: the ASCII house tokenizer);
    * `workloadValues` is the (query_id, term) VALUES list. */
  private[queries] def bm25ScoredCtes(
      docsRel: String,
      toksOf: String => String = c =>
        s"list_filter(string_split_regex(lower($c), '[^a-z0-9]+'), x -> len(x) > 0)",
      workloadValues: String = workloadSqlValues): String =
    s"""toks AS (SELECT doc_id,
       |  unnest(${toksOf("text")}) AS tok
       |  FROM $docsRel),
       |lens AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS len FROM toks GROUP BY doc_id),
       |stats AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
       |    CAST(SUM(len(${toksOf("text")})) AS BIGINT) AS l
       |  FROM $docsRel),
       |a AS (SELECT n, l // n AS avgdl FROM stats),
       |q(query_id, term) AS (VALUES $workloadValues),
       |tf AS (SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf FROM toks
       |       WHERE tok IN (SELECT term FROM q) GROUP BY doc_id, tok),
       |dfs AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY tok),
       |scored AS (SELECT q.query_id, tf.doc_id,
       |    CAST(SUM(
       |      (((22000000 * tf.tf * a.avgdl) // (10 * tf.tf * a.avgdl + 3 * a.avgdl + 9 * l.len))
       |        * (2 * (a.n - d.df) + 1)) // (2 * d.df + 1)
       |    ) AS BIGINT) AS score_ppm
       |  FROM tf
       |  JOIN dfs d ON d.tok = tf.tok
       |  JOIN lens l ON l.doc_id = tf.doc_id
       |  JOIN q ON q.term = tf.tok
       |  CROSS JOIN a
       |  GROUP BY q.query_id, tf.doc_id)""".stripMargin

  /** The BM25 CTE chain over an arbitrary docs relation — `documents`
    * for the standing rows, a filtered subquery for the takedown twin
    * (the oracle's corpus must NEVER have contained the deleted ids). */
  private def bm25SqlOver(docsRel: String): String =
    s"""WITH ${bm25ScoredCtes(docsRel)}
       |SELECT query_id, doc_id, score_ppm, rank FROM (
       |  SELECT query_id, doc_id, score_ppm,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score_ppm DESC, doc_id) AS INT) AS rank
       |  FROM scored)
       |WHERE rank <= 10
       |ORDER BY query_id, rank""".stripMargin

  /** The sparse candidate CTE: ranks `scored` (from [[bm25ScoredCtes]])
    * at the hybrid depth. */
  private[queries] def sparseRankCte(depth: Int = hybridDepth): String =
    s"""sparse AS (SELECT * FROM (
       |    SELECT CAST(query_id AS BIGINT) AS query_id, CAST(doc_id AS BIGINT) AS doc_id,
       |      CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score_ppm DESC, doc_id) AS BIGINT) AS rank
       |    FROM scored)
       |  WHERE rank <= $depth)""".stripMargin

  /** The dense candidate CTE: exact cosine ranks of query vectors 1..3
    * against the embeddings corpus, optionally restricted by
    * `corpusFilter` (an `AND …` clause on the corpus side `ec`). */
  private[queries] def denseRankCte(
      corpusFilter: String = "", depth: Int = hybridDepth): String =
    s"""dense AS (SELECT * FROM (
       |    SELECT CAST(eq.vec_id AS BIGINT) AS query_id, CAST(ec.vec_id AS BIGINT) AS doc_id,
       |      CAST(ROW_NUMBER() OVER (PARTITION BY eq.vec_id
       |        ORDER BY list_cosine_similarity(eq.embedding, ec.embedding) DESC, ec.vec_id) AS BIGINT) AS rank
       |    FROM embeddings eq JOIN embeddings ec ON eq.vec_id <> ec.vec_id
       |    WHERE eq.vec_id BETWEEN 1 AND 3$corpusFilter)
       |  WHERE rank <= $depth)""".stripMargin

  /** The RRF fusion tail over the `sparse`/`dense` CTEs: the exact
    * integer micro arithmetic of [[Fusion.hybridTopK]]; `extraCols`
    * appends constant gate columns (", TRUE AS …") to the final
    * select. */
  private[queries] def hybridFuseTail(
      extraCols: String = "", n: Int = 10): String =
    s"""f AS (SELECT COALESCE(s.query_id, d.query_id) AS query_id,
       |    COALESCE(s.doc_id, d.doc_id) AS doc_id,
       |    COALESCE(CAST(1000000 AS BIGINT) // (60 + s.rank), CAST(0 AS BIGINT)) AS sparse_micro,
       |    COALESCE(CAST(1000000 AS BIGINT) // (60 + d.rank), CAST(0 AS BIGINT)) AS dense_micro
       |  FROM sparse s FULL OUTER JOIN dense d
       |    ON s.query_id = d.query_id AND s.doc_id = d.doc_id)
       |SELECT query_id, doc_id, sparse_micro, dense_micro,
       |  sparse_micro + dense_micro AS rrf_micro, rank$extraCols FROM (
       |  SELECT f.*, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
       |    ORDER BY sparse_micro + dense_micro DESC, doc_id) AS BIGINT) AS rank FROM f)
       |WHERE rank <= $n
       |ORDER BY query_id, rank""".stripMargin

  /** Hybrid oracle: the same BM25 `scored` chain ranked at depth 20,
    * the exact cosine ranking at depth 20, and the integer RRF fusion —
    * every output column (per-side micro contributions included)
    * derived in DuckDB integer arithmetic; the one float-ordering
    * dependency (cosine rank order) is the same one `sim_topk_brute`
    * has hash-matched since r2. */
  private def hybridSql: String =
    s"""WITH ${bm25ScoredCtes("documents")},
       |${sparseRankCte()},
       |${denseRankCte()},
       |${hybridFuseTail()}""".stripMargin

  /** The verdict grid for [[textHybridIndexVerdict]]: exact (query_id,
    * rank 1..10) rows with constant-TRUE gates. */
  private def hybridVerdictSql: String = {
    val qids = workload.map(_._1).distinct.sorted
      .map(q => s"($q)").mkString(", ")
    val ranks = (1 to 10).map(r => s"($r)").mkString(", ")
    s"""WITH q(query_id) AS (VALUES $qids), r(rank) AS (VALUES $ranks)
       |SELECT CAST(q.query_id AS BIGINT) AS query_id,
       |  CAST(r.rank AS BIGINT) AS rank,
       |  TRUE AS sparse_equal, TRUE AS dense_equal
       |FROM q CROSS JOIN r
       |ORDER BY query_id, rank""".stripMargin
  }

  val declarations: Seq[Q] = Seq(
    Q("text_bm25_topk", textBm25TopK _, bm25Sql),
    Q("text_bm25_index", textBm25Index _, bm25Sql),
    // same BM25 derivation + the two constant-TRUE maintenance gates
    Q("text_bm25_segment_compact", textBm25SegmentCompact _, bm25Sql
      .replace("SELECT query_id, doc_id, score_ppm, rank FROM (",
        "SELECT query_id, doc_id, score_ppm, rank, " +
          "TRUE AS served_equal, TRUE AS compacted_ok FROM (")),
    // the takedown twin: BM25 recomputed over a corpus that never
    // contained the deleted ids, plus the two constant-TRUE gates
    Q("text_bm25_delete", textBm25Delete _, bm25SqlOver(
      "(SELECT * FROM documents WHERE doc_id % 7 <> 0)")
      .replace("SELECT query_id, doc_id, score_ppm, rank FROM (",
        "SELECT query_id, doc_id, score_ppm, rank, " +
          "TRUE AS served_equal, TRUE AS tombstones_cleared FROM (")),
    Q("text_hybrid_topk", textHybridTopK _, hybridSql),
    Q("text_hybrid_index_verdict", textHybridIndexVerdict _, hybridVerdictSql),
    Q("text_phrase_search_unicode", textPhraseSearchUnicode _, {
      val terms = Seq("质", "量", "很", "高")
      val joins = terms.zipWithIndex.drop(1).map { case (t, i) =>
        s"JOIN t t$i ON t$i.doc_id = t0.doc_id AND t$i.pos = t0.pos + $i AND t$i.tok = '$t'"
      }.mkString("\n")
      s"""WITH mx AS (SELECT doc_id, ${ExtensionQueries.mixedSqlExpr(full = false)} AS mtext
         |  FROM documents),
         |t AS (SELECT doc_id,
         |    unnest(${ExtensionQueries.tokensUniSql("mtext")}) AS tok,
         |    unnest(range(1, len(${ExtensionQueries.tokensUniSql("mtext")}) + 1)) AS pos
         |  FROM mx)
         |SELECT t0.doc_id, CAST(COUNT(*) AS BIGINT) AS n_occurrences
         |FROM t t0
         |$joins
         |WHERE t0.tok = '${terms.head}'
         |GROUP BY t0.doc_id ORDER BY t0.doc_id""".stripMargin
    }),
    Q("text_phrase_search", textPhraseSearch _, {
      val joins = phrase.zipWithIndex.drop(1).map { case (t, i) =>
        s"JOIN t t$i ON t$i.doc_id = t0.doc_id AND t$i.pos = t0.pos + $i AND t$i.tok = '$t'"
      }.mkString("\n")
      s"""WITH t AS (SELECT doc_id,
         |    unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> len(x) > 0)) AS tok,
         |    unnest(range(1, len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> len(x) > 0)) + 1)) AS pos
         |  FROM documents)
         |SELECT t0.doc_id, CAST(COUNT(*) AS BIGINT) AS n_occurrences
         |FROM t t0
         |$joins
         |WHERE t0.tok = '${phrase.head}'
         |GROUP BY t0.doc_id ORDER BY t0.doc_id""".stripMargin
    }))
}
