package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.{AnnIndex, Components, Corpus, Dedup, Fusion, Ngrams,
  Retrieval, Sampling, Similarity, TextAnalysis}
import graft.sources.Tables

/**
 * Training-data pipeline operators, round 2 (SURVEY §2.3): deterministic
 * sampling/mixture control, n-gram decontamination and repetition
 * scoring, rare-term extraction, and connected-components duplicate
 * clustering. Every query here is ANSI-SQL-expressible by construction
 * (integer-exact hashes and weights — see the operator docs) and carries
 * a DuckDB oracle.
 */
object PipelineQueries extends QueryFamily {

  // --- deterministic sampling / mixture control ---

  /** Stratified sample by language: keep 50% of en, 25% of de, 10% of the
    * rest — selected by the deterministic id-hash bucket, so the sample
    * is identical on every run and cluster size. */
  def sampleStratified(spark: SparkSession, dir: String): DataFrame =
    Sampling.stratifiedSample(
      Tables.documents(spark, dir), "lang", "doc_id",
      permille = Map("en" -> 500, "de" -> 250), defaultPermille = 100)
      .select(col("doc_id"), col("lang"))
      .orderBy(col("doc_id"))

  /** Rebalance the language mixture to uniform: every language
    * downsampled to ≈ the smallest language's count. */
  def mixRebalance(spark: SparkSession, dir: String): DataFrame =
    Sampling.rebalanceToSmallest(
      Tables.documents(spark, dir), "lang", "doc_id")
      .select(col("doc_id"), col("lang"))
      .orderBy(col("doc_id"))

  /** Temperature-2 mixture: every language downsampled to
    * √(c_min · c_i) — the α = 1/2 interpolation between keep-all and
    * uniform that multilingual pretraining mixes use. */
  def mixTemperature(spark: SparkSession, dir: String): DataFrame =
    Sampling.temperatureMix(Tables.documents(spark, dir), "lang", "doc_id")
      .select(col("doc_id"), col("lang"))
      .orderBy(col("doc_id"))

  /** One-pass dataset profile of the documents table (null rates, exact
    * cardinalities, native-type bounds) — the pre-ingest data-quality
    * sweep. */
  def profileDocuments(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Profile.profile(Tables.documents(spark, dir),
      Seq("doc_id", "text", "lang", "source", "n_chars"))

  // --- n-gram pipeline ---

  /** Top token bigrams by lift (= PMI rank without the log): collocation
    * mining with a min-count guard against hapax noise. */
  def textCollocations(spark: SparkSession, dir: String): DataFrame =
    Ngrams.collocations(Tables.documents(spark, dir), "text",
      minCount = 5, topK = 50)

  /** Benchmark decontamination: docs sharing a word 3-gram with the
    * deterministic benchmark subset (doc_id ≡ 0 mod 97). */
  def decontaminate(spark: SparkSession, dir: String): DataFrame =
    Ngrams.decontaminate(
      Tables.documents(spark, dir), "doc_id", "text",
      benchmarkPred = col("doc_id") % 97 === 0, n = 3)
      .orderBy(col("doc_id"))

  /** Bloom-filter decontamination (the no-join 100 TB scale path; see
    * the operator doc). Rows-only: false positives are part of the
    * contract, so no SQL oracle can replay it — NgramsSpec pins the
    * superset-of-exact and determinism properties instead. */
  def decontaminateBloom(spark: SparkSession, dir: String): DataFrame =
    Ngrams.decontaminateBloom(
      Tables.documents(spark, dir), "doc_id", "text",
      benchmarkPred = col("doc_id") % 97 === 0, n = 3)
      .orderBy(col("doc_id"))

  /** [[decontaminate]] under the UNICODE lexical contract over the
    * mixed-script column: benchmark n-grams in CJK/Cyrillic/Indic text
    * now flag contaminated documents — under the ASCII contract those
    * scripts tokenize to zero tokens and benchmark leakage in them
    * passes the scrub silently (the r15-verdict gap this row closes).
    * DuckDB replays the identical unicode tokenizer (RE2), so the hit
    * counts hash-match. */
  def decontaminateUnicode(spark: SparkSession, dir: String): DataFrame =
    Ngrams.decontaminate(
      ExtensionQueries.withMixedText(Tables.documents(spark, dir), full = false),
      "doc_id", "mtext",
      benchmarkPred = col("doc_id") % 97 === 0, n = 3, unicode = true)
      .orderBy(col("doc_id"))

  /**
   * No-false-negative verdict for bloom decontamination — the property
   * that makes a Bloom filter usable as a contamination screen at all:
   * every doc the EXACT n-gram join flags (DuckDB replays that side
   * verbatim — it is the green `decontaminate` oracle) must also be
   * flagged by the bloom path, because a Bloom filter can only err
   * toward false POSITIVES. One exactly-contaminated doc missing from
   * the bloom set flips the constant-TRUE `bloom_flagged` gate.
   */
  def decontaminateBloomVerdict(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val exact = Ngrams.decontaminate(docs, "doc_id", "text",
      benchmarkPred = col("doc_id") % 97 === 0, n = 3)
      .select(col("doc_id"))
    val bloom = Ngrams.decontaminateBloom(docs, "doc_id", "text",
      benchmarkPred = col("doc_id") % 97 === 0, n = 3)
      .select(col("doc_id")).withColumn("__b", lit(true))
    exact.join(bloom, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("__b"), lit(false)).as("bloom_flagged"))
      .orderBy(col("doc_id"))
  }

  /** Gopher-style repetition rule inputs: top-bigram count and total
    * bigram count per doc (integer-exact; callers threshold the ratio). */
  def qualityRepetition(spark: SparkSession, dir: String): DataFrame =
    Ngrams.repetitionStats(Tables.documents(spark, dir), "doc_id", "text")
      .orderBy(col("doc_id"))

  /** Substring-dup candidate pairs: docs sharing a word 4-gram (the
    * candidate stage of exact-substring dedup; production n is 15–50). */
  def dedupSubstringPairs(spark: SparkSession, dir: String): DataFrame =
    Ngrams.substringPairs(Tables.documents(spark, dir), "doc_id", "text", n = 4)

  /** Exact-substring verify: longest certified shared token run per
    * pair (≥5 tokens) — the stage that turns substring CANDIDATES into
    * proven copied spans. */
  def dedupSubstringVerify(spark: SparkSession, dir: String): DataFrame =
    Ngrams.substringRuns(Tables.documents(spark, dir), "doc_id", "text",
      n = 4, minTokens = 5)
      .orderBy(col("id_a"), col("id_b"))

  /** Systematic PPS draw of 100 docs with inclusion ∝ n_chars — the
    * deterministic weighted sampler (midpoint rule over the distributed
    * prefix sum; Σ n_picks = 100 exactly). */
  def sampleSystematic(spark: SparkSession, dir: String): DataFrame =
    Sampling.systematicSample(Tables.documents(spark, dir), "doc_id",
      "n_chars", k = 100)
      .orderBy(col("doc_id"))

  /** Deterministic interleaved mixture schedule: every source paced by
    * its total n_chars (token-proportional), the exact global training
    * order as sortable integer keys. */
  def mixSchedule(spark: SparkSession, dir: String): DataFrame =
    Sampling.interleaveSchedule(Tables.documents(spark, dir),
      "source", "doc_id", col("n_chars"))

  /** Proportional source capping on a deliberately skewed regrouping
    * (8 fixture sources merged into one 40%-share "big" group): cap at
    * 200‰ binds on the big group and passes the 5% sources through —
    * both polarities in one draw. */
  def sampleSourceCap(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .withColumn("src_grp",
        when(col("source").isin("src1", "src2", "src3", "src4",
          "src5", "src6", "src7", "src8"), lit("big"))
          .otherwise(col("source")))
    Sampling.capSourceShare(docs, "src_grp", "doc_id", capPermille = 200)
      .select(col("src_grp"), col("doc_id"))
      .orderBy(col("src_grp"), col("doc_id"))
  }

  /** The salted cap draw on the same skewed regrouping — the hot-source
    * path: the big group's rank sort runs 8 slices wide, quotas split
    * exactly across slices. */
  def sampleSourceCapSalted(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .withColumn("src_grp",
        when(col("source").isin("src1", "src2", "src3", "src4",
          "src5", "src6", "src7", "src8"), lit("big"))
          .otherwise(col("source")))
    Sampling.capSourceShareSalted(docs, "src_grp", "doc_id",
      capPermille = 200, slices = 8)
      .select(col("src_grp"), col("doc_id"))
      .orderBy(col("src_grp"), col("doc_id"))
  }

  /** Composed flagship v8 — the r13 mixing chain end to end: dominance
    * cap (the [[sampleSourceCap]] skewed regrouping at 200‰) → the
    * capped survivors interleaved into the deterministic training
    * order ([[Sampling.interleaveSchedule]], paced by n_chars) →
    * per-source rollup with the doc ids chained IN SCHEDULE ORDER, so
    * the digest pins the exact global consumption order a trainer
    * would see. Every stage integer-exact; one end-to-end SQL oracle
    * composed from the same CTE families as the stage queries. */
  def pipelineCorpusV8(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .withColumn("src_grp",
        when(col("source").isin("src1", "src2", "src3", "src4",
          "src5", "src6", "src7", "src8"), lit("big"))
          .otherwise(col("source")))
    val capped = Sampling.capSourceShare(docs, "src_grp", "doc_id",
      capPermille = 200)
    val sched = Sampling.interleaveSchedule(capped, "src_grp", "doc_id",
      col("n_chars"))
    sched.groupBy(col("src_grp"))
      .agg(count(lit(1)).as("n_docs"),
        md5(concat_ws(",",
          transform(
            array_sort(collect_list(struct(col("sched_key"), col("doc_id")))),
            x => x.getField("doc_id").cast("string")))).as("sched_digest"))
      .orderBy(col("src_grp"))
  }

  /**
   * Composed flagship v9 — the full pretrain recipe end to end, the
   * chain a real 100 TB run would execute, as ONE integer-exact
   * derivation:
   *
   *   dominance cap (200‰ over the skewed regrouping) →
   *   durable-index admission screen ([[graft.operators.NearDupIndex]]
   *   build + append + serve on FINGERPRINT tokens: classes 0/1 mod 3
   *   are the standing corpus, class 2 is tonight's ingest — md5-hex
   *   docs collide iff texts are identical, so every screen verdict is
   *   SQL-derivable while the on-disk index machinery runs for real) →
   *   Gopher gate (evaluated as row-local columns inside the base scan,
   *   applied to screen survivors by id — text never rides an
   *   exchange) → benchmark decontamination (3-gram overlap with the
   *   doc_id ≡ 0 mod 97 suite, suite members excluded) → leakage-safe
   *   split (component = duplicate-chain closure over the CLEAN set;
   *   md5 split rule) → deterministic interleave schedule over the
   *   train split (n_chars pacing) → per-source attrition waterfall
   *   with the doc ids chained IN SCHEDULE ORDER.
   *
   * Every stage is integer/string-exact, so one composed oracle replays
   * the whole recipe: a cap off-by-one, a segment that stopped serving,
   * a gate threshold drift, a missed contamination hit, a component
   * that split across train/val, or a schedule reorder all hash-fail
   * the rollup. Scale shape: ONE scan family computes every row-local
   * derivative (fp digest, gopher gates) before any exchange; all joins
   * are id-keyed scalars; the only per-group sorts are the cap rank and
   * the schedule — the same exchanges the stage queries pay alone.
   */
  /** Scoped bucket rollup over a (doc_id, ld) store read plus its exact
    * row count (the sum of bucket counts) — the ONE digest/count shape
    * the v11/v12/v13 compliance gates share. Reading the count off the
    * cached rollup replaces a separate full-table count action (r20),
    * and one definition keeps the three gates' digest recipe from
    * drifting apart. */
  private def bucketRollupWithCount(back: DataFrame): (DataFrame, Long) = {
    val roll = graft.CacheScope.scoped(
      back.groupBy((col("doc_id") % 8).as("bucket"))
        .agg(count(lit(1)).as("n_docs"),
          md5(concat_ws("",
            transform(array_sort(collect_list(struct(col("doc_id"), col("ld")))),
              x => x.getField("ld")))).as("digest")))
    (roll, roll.agg(coalesce(sum(col("n_docs")), lit(0L))).head().getLong(0))
  }

  def pipelineCorpusV9(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.{NearDupIndex, Sampling}
    val idx = graft.TmpCleanup.perProcessDir("graft-v9-idx", dir)
    graft.TmpCleanup.register(idx)
    // base scan: regroup + every row-local text derivative, ONCE
    val base = graft.operators.TextAnalysis.withGopherGates(
      Tables.documents(spark, dir), "text")
      .withColumn("src_grp",
        when(col("source").isin("src1", "src2", "src3", "src4",
          "src5", "src6", "src7", "src8"), lit("big"))
          .otherwise(col("source")))
      .select(col("doc_id"), col("src_grp"), col("lang"), col("source"),
        col("n_chars"), md5(col("text")).as("fp"), col("keep"))
    // stage 1: dominance cap — scope-cached: feeds the index build, the
    // append, the ingest probe and the waterfall rollup
    val capped = graft.CacheScope.scoped(
      Sampling.capSourceShare(base, "src_grp", "doc_id", capPermille = 200))
    // stage 2: durable-index screen (build → append → serve, on disk)
    NearDupIndex.writeIndex(capped.filter(col("doc_id") % 3 === 0), "fp", idx)
    NearDupIndex.appendSegment(
      capped.filter(col("doc_id") % 3 === 1), "fp", idx, "batch=1")
    val screened = graft.CacheScope.scoped(NearDupIndex.admitNewIndexed(
      capped.filter(col("doc_id") % 3 === 2), "fp", "doc_id", idx))
    // stage 3: Gopher gate — the precomputed in-scan column, applied here
    val gated = graft.CacheScope.scoped(screened.filter(col("keep")))
    // stage 4: decontamination (its own scan family: the token stream)
    val contaminated = graft.operators.Ngrams.decontaminate(
      Tables.documents(spark, dir), "doc_id", "text",
      benchmarkPred = col("doc_id") % 97 === 0, n = 3)
      .select(col("doc_id"))
    val clean = graft.CacheScope.scoped(
      gated.filter(col("doc_id") % 97 =!= 0)
        .join(contaminated, Seq("doc_id"), "left_anti"))
    // stage 5: leakage-safe split over the clean survivors
    val split = graft.operators.Corpus.leakageSafeSplit(
      clean.select(col("doc_id"), col("src_grp"), col("lang"),
        col("source"), col("n_chars")),
      chainEdges(clean), "doc_id", valSixteenths = 2)
    val train = graft.CacheScope.scoped(
      split.filter(col("split") === "train"))
    // stage 6: the deterministic global training order
    val sched = Sampling.interleaveSchedule(train, "src_grp", "doc_id",
      col("n_chars"))
    // stage 7: waterfall + schedule-order digest per source group
    def n(df: DataFrame, name: String): DataFrame =
      df.groupBy(col("src_grp")).agg(count(lit(1)).as(name))
    n(capped, "n_capped")
      .join(n(screened, "n_screened"), Seq("src_grp"), "left")
      .join(n(gated, "n_gated"), Seq("src_grp"), "left")
      .join(n(clean, "n_clean"), Seq("src_grp"), "left")
      .join(n(train, "n_train"), Seq("src_grp"), "left")
      .join(sched.groupBy(col("src_grp"))
          .agg(md5(concat_ws(",",
            transform(
              array_sort(collect_list(struct(col("sched_key"), col("doc_id")))),
              x => x.getField("doc_id").cast("string")))).as("sched_digest")),
        Seq("src_grp"), "left")
      .select(col("src_grp"), col("n_capped"),
        coalesce(col("n_screened"), lit(0L)).as("n_screened"),
        coalesce(col("n_gated"), lit(0L)).as("n_gated"),
        coalesce(col("n_clean"), lit(0L)).as("n_clean"),
        coalesce(col("n_train"), lit(0L)).as("n_train"),
        coalesce(col("sched_digest"), lit("")).as("sched_digest"))
      .orderBy(col("src_grp"))
  }

  /** The v10 retrieval workload: ASCII terms plus one Han character —
    * under the unicode contract '中' is a per-char token, so the CJK
    * phrase docs (doc_id % 5 == 0 carry the Han phrase) are genuinely
    * retrievable; under the ASCII contract this term matches nothing. */
  private val v10Workload: Seq[(Int, String)] = Seq(
    1 -> "dup", 1 -> "join",
    2 -> "spark", 2 -> "中",
    3 -> "fast", 3 -> "key")

  private def v10WorkloadValues: String =
    v10Workload.map { case (q, t) => s"($q, '$t')" }.mkString(", ")

  /**
   * Composed flagship v10 — the round-15 surfaces end-to-end, one
   * oracle: a MULTILINGUAL corpus (the unicode-contract mixed-script
   * column), unicode exact dedup (min-id survivor per unicode
   * token-sequence fingerprint), BOTH durable retrieval artifacts built
   * over the survivors — the inverted index in unicode mode (tokenizer
   * pinned in the index meta) and the IVF-flat ANN artifact — then a
   * planted TAKEDOWN (doc-keyed tombstones published on both artifacts,
   * no rewrite) and a hybrid RRF serve whose results must be identical
   * to artifacts that NEVER ingested the deleted docs. Dense probing is
   * exhaustive here (nProbe = nCells) so every output value is
   * SQL-derivable — DuckDB re-derives the survivor set, the BM25 chain
   * under the unicode tokenizer over the never-ingested corpus, the
   * exact cosine ranks, and the integer RRF fusion; pruned-probe
   * serving is `text_hybrid_index_verdict`'s claim, and the
   * `forget_equal` gate additionally pins the artifact serve bit-equal
   * to the in-memory never-ingested twin (a tombstone missed by either
   * artifact's serve path flips it AND hash-fails the row values).
   */
  def pipelineCorpusV10(spark: SparkSession, dir: String): DataFrame = {
    val bmIdx = graft.TmpCleanup.perProcessDir("graft-v10-bm25", dir)
    val annIdx = graft.TmpCleanup.perProcessDir("graft-v10-ivf", dir)
    graft.TmpCleanup.register(bmIdx)
    graft.TmpCleanup.register(annIdx)
    // stage 0: the multilingual column (the unicode fixture recipe,
    // derived in-query so DuckDB rebuilds the identical corpus)
    val mdocs = ExtensionQueries.withMixedText(
      Tables.documents(spark, dir), full = false)
      .select(col("doc_id"), col("mtext"))
    // stage 1: unicode exact dedup — min-id survivor per fingerprint of
    // the EXACT unicode token sequence (the tok_digest contract)
    val survivors = graft.CacheScope.scoped(Dedup.exactByKey(
      mdocs.withColumn("fp",
        md5(concat_ws(" ", Dedup.tokensUnicode(col("mtext"))))),
      Seq("fp"), "doc_id").select(col("doc_id"), col("mtext")))
    // stage 2: both durable artifacts over the survivors (writeIndex /
    // writeIvf clear prior layouts, so bench re-entries rebuild in place)
    Retrieval.writeIndex(survivors, "doc_id", "mtext", bmIdx, unicode = true)
    val vecs = Tables.embeddings(spark, dir)
      .join(survivors.select(col("doc_id").as("vec_id")), Seq("vec_id"))
    AnnIndex.writeIvf(vecs, "vec_id", "embedding", annIdx, nCells = 16)
    // stage 3: planted takedown — tombstones on BOTH artifacts
    val takedown = survivors.filter(col("doc_id") % 13 === 0)
      .select(col("doc_id"))
    Retrieval.deleteDocsFromIndex(spark, bmIdx, takedown)
    AnnIndex.deleteVecs(spark, annIdx,
      takedown.select(col("doc_id").as("vec_id")))
    // stage 4: hybrid serve from the tombstone-filtered artifacts
    import spark.implicits._
    val qTerms = v10Workload.toDF("query_id", "term")
    val qVecs = Tables.embeddings(spark, dir)
      .filter(col("vec_id").between(1, 3))
    val sparse = Retrieval.searchIndex(spark, bmIdx, qTerms, k = 20)
    val dense = AnnIndex.searchIvf(spark, annIdx, qVecs,
      "vec_id", "embedding", k = 20, nProbe = 16)
    // scope-cached (r20): the serve feeds TWO actions — the forget-equal
    // collect below and the returned frame's own materialization — and
    // re-running the artifact serve (index reads + fusion, a dozen-job
    // plan) for the second was the row's single biggest driver cost
    val served = graft.CacheScope.scoped(Fusion.hybridTopK(sparse, dense, n = 10))
    // stage 5: forget-equality — the in-memory twin over a corpus that
    // never contained the deleted docs (workload-bounded collects)
    val standing = survivors.filter(col("doc_id") % 13 =!= 0)
    val memSparse = Retrieval.bm25TopK(standing, "doc_id", "mtext",
      qTerms, k = 20, unicode = true)
    val memDense = Similarity.bruteForceTopK(
      vecs.filter(col("vec_id") % 13 =!= 0), qVecs,
      "vec_id", "embedding", k = 20)
    val mem = Fusion.hybridTopK(memSparse, memDense, n = 10)
    val servedRows = served.orderBy(col("query_id"), col("rank"))
      .collect().toSeq
    val forgetEqual = servedRows ==
      mem.orderBy(col("query_id"), col("rank")).collect().toSeq
    served
      .withColumn("forget_equal", lit(forgetEqual))
      .orderBy(col("query_id"), col("rank"))
  }

  /**
   * Composed flagship v11 — the r16 surfaces as ONE pipeline, ending in
   * the durable store's full compliance lifecycle:
   *
   *  1. multilingual column (the unicode fixture recipe, in-query);
   *  2. UNICODE exact-substring span removal (keep-first — duplicated
   *     CJK runs rewritten out, the r16 spread);
   *  3. minimum-content gate on the SURVIVING tokens;
   *  4. exact dedup of the cleaned text (min-id survivor);
   *  5. survivors land in a durable [[graft.sources.v2.ShardSink]]
   *     table: RANGE-split stats-carrying appends, range-layout
   *     compaction to 4 disjoint-range shards;
   *  6. snapshot v1, keyed TAKEDOWN of the `% 13 == 1` survivors
   *     (pruned hit discovery over the range layout), then the ONE-call
   *     retention compliance: `retain(keepLast = 0)` drops the pinning
   *     snapshot and vacuums the pinned ex-shards — `forget_ok` gates
   *     that a pruned [[graft.sources.v2.ShardReader.readByKey]] of the
   *     deleted ids serves ZERO ghosts, the drop list is exactly v1,
   *     and the vacuum verifiably reclaimed bytes;
   *  7. read-back rollup whose digest chain must equal DuckDB's direct
   *     derivation (span CTEs → gate → dedup → minus the takedown set)
   *     — a corpus that never saw the store at all.
   */
  def pipelineCorpusV11(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.v2.{ShardCompact, ShardDelete, ShardReader, ShardSnapshot}
    val out = graft.TmpCleanup.perProcessDir("graft-v11-store", dir)
    graft.TmpCleanup.register(out)
    graft.TmpCleanup.wipe(out)
    val mdocs = ExtensionQueries.withMixedText(
      Tables.documents(spark, dir), full = false)
    val span = Ngrams.removeDuplicateSpans(
      mdocs, "doc_id", "mtext", n = 4, unicode = true)
    val gated = span.filter(col("n_tokens") - col("n_removed") >= 5)
      .select(col("doc_id"), md5(col("text_clean")).as("ld"))
    val sur = graft.CacheScope.scoped(Dedup.exactByKey(gated, Seq("ld"), "doc_id"))
    // durable store: range-split stats appends + range-layout compaction
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("ld", StringType)))
    val mid = Tables.documents(spark, dir)
      .agg(max(col("doc_id"))).collect().head.getLong(0) / 2L
    def append(half: DataFrame): Unit =
      half.write.format("graft.sources.v2.ShardSink")
        .option("path", out).option("statsColumn", "doc_id")
        .mode("append").save()
    append(sur.filter(col("doc_id") <= mid).repartition(3))
    append(sur.filter(col("doc_id") > mid).repartition(3))
    ShardCompact.compact(spark, out, schema, targetShards = 4,
      sortBy = Some("doc_id"))
    // snapshot → takedown → one-call retention compliance
    val v1 = ShardSnapshot.create(spark, out)
    val delKeys = sur.filter(col("doc_id") % 13 === 1).select(col("doc_id"))
    val nDel = delKeys.count()
    val removed = ShardDelete.deleteByKey(spark, out, schema, "doc_id", delKeys)
    val (dropped, reclaimed) = ShardSnapshot.retain(spark, out, keepLast = 0)
    val ghosts = ShardReader.readByKey(spark, out, schema, "doc_id", delKeys)
      .count()
    val back = ShardReader.read(spark, out, schema)
    // bucket rollup computed ONCE (r20): its n_docs sums to the exact
    // table row count, so the storeOk gate reads that off the scoped-
    // cached rollup instead of paying a second full-table count action
    // (every extra action on a lifecycle row is a full plan+AQE round)
    val (roll, backCount) = bucketRollupWithCount(back)
    val storeOk = nDel > 0 && removed == nDel &&
      ShardReader.manifestRowCount(spark, out) == backCount
    val forgetOk = ghosts == 0L && dropped == Seq(v1) && reclaimed.nonEmpty
    roll
      .withColumn("store_ok", lit(storeOk))
      .withColumn("forget_ok", lit(forgetOk))
      .orderBy(col("bucket"))
  }

  /**
   * Composed flagship v12 — the r17 store surface end-to-end, on a
   * COLUMNAR DIGEST-KEYED table: unicode span removal → content gate →
   * min-id exact dedup (v11's front), then a PARQUET-payload store
   * keyed by content digest with the `_BLOOM` sidecar (the key class
   * min/max ranges cannot prune) built as two residue appends →
   * snapshot → DIGEST-keyed takedown planted in the EVEN shards only
   * (the bloom prune gate: candidates must exclude the odd shards) →
   * CDC catch-up feed from the pre-takedown snapshot (all-removed,
   * exactly the takedown set) → one-call retention compliance →
   * zero-ghost pruned lookup of the deleted digests → a PUSHED
   * point lookup of three surviving digests (the IN-list must reach
   * the parquet scan: `pushed_ok` reads the executed plan) → bucket
   * digest rollup against DuckDB's store-less derivation.
   */
  def pipelineCorpusV12(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.v2.{ShardDelete, ShardReader, ShardSnapshot}
    val out = graft.TmpCleanup.perProcessDir("graft-v12-store", dir)
    graft.TmpCleanup.register(out)
    graft.TmpCleanup.wipe(out)
    val mdocs = ExtensionQueries.withMixedText(
      Tables.documents(spark, dir), full = false)
    val span = Ngrams.removeDuplicateSpans(
      mdocs, "doc_id", "mtext", n = 4, unicode = true)
    val gated = span.filter(col("n_tokens") - col("n_removed") >= 5)
      .select(col("doc_id"), md5(col("text_clean")).as("ld"))
    val sur = graft.CacheScope.scoped(Dedup.exactByKey(gated, Seq("ld"), "doc_id"))
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("ld", StringType)))
    def append(half: DataFrame): Unit =
      half.write.format("graft.sources.v2.ShardSink")
        .option("path", out)
        .option(graft.sources.v2.ShardPayload.OptionKey, "parquet")
        .option("bloomColumn", "ld")
        .option("bloomBits", (1 << 20).toString)
        .mode("append").save()
    append(sur.filter(col("doc_id") % 2 === 0).repartition(3))
    append(sur.filter(col("doc_id") % 2 === 1).repartition(3))
    val v1 = ShardSnapshot.create(spark, out)

    // digest-keyed takedown, planted in the EVEN half only so the bloom
    // prune is observable (the odd shards must not be candidates)
    val delKeys = sur.filter(col("doc_id") % 17 === 2 && col("doc_id") % 2 === 0)
      .select(col("ld"))
    val nDel = delKeys.count()
    val cands = ShardDelete.candidateShards(spark, out, schema, "ld", delKeys)
    val total = ShardReader.manifestShardCount(spark, out)
    val pruneOk = cands.nonEmpty && cands.size < total
    val removed = ShardDelete.deleteByKey(spark, out, schema, "ld", delKeys)

    // CDC catch-up from the pre-takedown snapshot: exactly the takedown
    // set, every row a removed-tombstone. Materialized eagerly — the
    // retention pass below reclaims the snapshot the feed reads.
    val feed = graft.CacheScope.scoped(
      ShardSnapshot.readChangesSince(spark, out, schema, "ld", v1))
    // total + non-removed counts in ONE action over the cached feed
    // (r20 — two separate counts were two full plan+AQE rounds)
    val feedAgg = feed.agg(count(lit(1)),
      count(when(col("change") =!= "removed", lit(1)))).head()
    val cdcOk = feedAgg.getLong(0) == nDel && feedAgg.getLong(1) == 0L

    // one-call retention compliance + zero-ghost pruned lookup
    val (dropped, reclaimed) = ShardSnapshot.retain(spark, out, keepLast = 0)
    val ghosts = ShardReader.readByKey(spark, out, schema, "ld", delKeys).count()
    // pushed point lookup: three surviving digests -> the IN-list must
    // reach the parquet scan (bounded 3-row collect of a LIMIT 3)
    val probeKeys = sur.join(delKeys.withColumnRenamed("ld", "__d"),
        col("ld") === col("__d"), "left_anti")
      .orderBy(col("doc_id")).limit(3).select(col("ld"))
    val lookup = ShardReader.readByKey(spark, out, schema, "ld", probeKeys)
    val pushedOk = lookup.queryExecution.executedPlan.toString
      .contains("PushedFilters: [In(ld") && lookup.count() == 3L
    val back = ShardReader.read(spark, out, schema)
    // bucket rollup computed ONCE — v11's rationale: n_docs sums to the
    // table count, so storeOk skips the separate full-table count action
    val (roll, backCount) = bucketRollupWithCount(back)
    val storeOk = nDel > 0 && removed == nDel && pruneOk &&
      ShardReader.manifestRowCount(spark, out) == backCount
    val forgetOk = ghosts == 0L && dropped == Seq(v1) && reclaimed.nonEmpty
    roll
      .withColumn("store_ok", lit(storeOk))
      .withColumn("forget_ok", lit(forgetOk))
      .withColumn("cdc_ok", lit(cdcOk))
      .withColumn("pushed_ok", lit(pushedOk))
      .orderBy(col("bucket"))
  }

  /**
   * Composed flagship v13 — the r18 store surface end-to-end: v12's
   * front (unicode span removal → content gate → min-id exact dedup),
   * then a PARQUET table with MULTI-COLUMN sidecars (`_STATS` on the
   * id; `_BLOOM` on id AND digest) built as two range-split appends;
   * a MERGE-ON-READ digest takedown ([[graft.sources.v2.ShardDelete
   * .deleteByKeyDeferred]]) whose physical no-rewrite is gated
   * byte-for-byte; a fresh append RE-ADDING the lowest deleted digest
   * at `doc_id + 10⁷` (shard-scoped tombstones must serve it);
   * snapshot-bracketed WINDOWED CDC (v1→v2 all-removed ≡ the takedown,
   * v2→v3 exactly the one re-add) plus the STREAMED replay of the same
   * windows through [[graft.sources.v2.ShardChangesStream]] (window
   * set + counts must agree); SQL over the V2 READ relation (a 3-id
   * IN-query plans ONE partition of five, the old copy of the re-added
   * digest stays hidden while the fresh copy serves — the tombstone
   * screen and its scoping observed THROUGH Catalyst); then the
   * materializing compaction + one-call retention, with zero ghosts
   * and the tombstone segments verifiably reclaimed. Bucket digest
   * rollup against DuckDB's store-less derivation (survivors minus the
   * takedown plus the re-add).
   */
  def pipelineCorpusV13(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.v2.{ShardCompact, ShardDelete, ShardReader, ShardSnapshot}
    val out = graft.TmpCleanup.perProcessDir("graft-v13-store", dir)
    graft.TmpCleanup.register(out)
    graft.TmpCleanup.wipe(out)
    val mdocs = ExtensionQueries.withMixedText(
      Tables.documents(spark, dir), full = false)
    val span = Ngrams.removeDuplicateSpans(
      mdocs, "doc_id", "mtext", n = 4, unicode = true)
    val gated = span.filter(col("n_tokens") - col("n_removed") >= 5)
      .select(col("doc_id"), md5(col("text_clean")).as("ld"))
    val sur = graft.CacheScope.scoped(Dedup.exactByKey(gated, Seq("ld"), "doc_id"))
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("ld", StringType)))
    val mid = Tables.documents(spark, dir)
      .agg(max(col("doc_id"))).collect().head.getLong(0) / 2L
    def append(half: DataFrame): Unit =
      half.write.format("graft.sources.v2.ShardSink")
        .option("path", out)
        .option(graft.sources.v2.ShardPayload.OptionKey, "parquet")
        .option("statsColumn", "doc_id")
        .option("bloomColumn", "doc_id,ld")
        .option("bloomBits", ((1 << 17).toString) + "," + ((1 << 20).toString))
        .mode("append").save()
    append(sur.filter(col("doc_id") <= mid)
      .repartitionByRange(2, col("doc_id")))
    append(sur.filter(col("doc_id") > mid)
      .repartitionByRange(2, col("doc_id")))
    val v1 = ShardSnapshot.create(spark, out)

    // MERGE-ON-READ digest takedown: physically writes NOTHING but one
    // segment + one sidecar line
    val delKeys = sur.filter(col("doc_id") % 17 === 2).select(col("ld"))
    val nDel = delKeys.count()
    def physical(): (String, Set[(String, Long)]) =
      ExtensionQueries.storePhysicalState(out)
    val before = physical()
    val recorded = ShardDelete.deleteByKeyDeferred(
      spark, out, schema, "ld", delKeys)
    val storeOk = recorded == nDel && nDel > 0 && physical() == before
    val v2 = ShardSnapshot.create(spark, out)

    // re-add the LOWEST deleted digest at doc_id + 10⁷: a fresh shard
    // outside every segment's scope — visible immediately. The appended
    // row is BUILT from the already-collected row (r20) — the prior
    // form re-ran the sort+limit plan over sur a second time just to
    // recompute the same single row inside the append
    val readd = sur.filter(col("doc_id") % 17 === 2)
      .orderBy(col("doc_id")).limit(1).collect().head
    val readdId = readd.getLong(0) + 10000000L
    val readdLd = readd.getString(1)
    append(spark.createDataFrame(
      java.util.List.of(org.apache.spark.sql.Row(readdId, readdLd)), schema))
    val v3 = ShardSnapshot.create(spark, out)

    // WINDOWED CDC: disjoint, composable snapshot-bracketed feeds.
    // w1's total + non-removed counts come out of ONE action (r20 —
    // they were two separate full plan+AQE rounds over the same feed)
    val w1 = ShardSnapshot.readChanges(spark, out, schema, "ld", v1, v2)
    val w2 = ShardSnapshot.readChanges(spark, out, schema, "ld", v2, v3)
    val w2rows = w2.collect()
    val w1Agg = w1.agg(count(lit(1)),
      count(when(col("change") =!= "removed", lit(1)))).head()
    val windowOk = w1Agg.getLong(0) == nDel && w1Agg.getLong(1) == 0L &&
      w2rows.length == 1 && w2rows.head.getAs[String]("change") == "added" &&
      w2rows.head.getAs[Long]("doc_id") == readdId

    // STREAMED replay of the same windows, exactly-once
    val feedDir = s"$out/_v13feed"; val ckpt = s"$out/_v13ckpt"
    val q = graft.sources.v2.ShardChangesStream.replay(
      spark, out, schema, "ld", feedDir, ckpt)
    try q.processAllAvailable() finally q.stop()
    val wins = new java.io.File(feedDir).listFiles()
      .map(_.getName).filter(_.startsWith("window=")).toSet
    val streamOk = wins == Set(s"window=${v1}_$v2", s"window=${v2}_$v3") &&
      spark.read.parquet(s"$feedDir/window=${v1}_$v2").count() == nDel &&
      spark.read.parquet(s"$feedDir/window=${v2}_$v3").count() == 1L

    // SQL over the V2 relation: pruned planning + the tombstone screen
    // (old copy hidden, re-added copy served) through Catalyst
    spark.read.format("graft.sources.v2.ShardSink").load(out)
      .createOrReplaceTempView("graft_v13_tbl")
    val lowIds = sur.filter(col("doc_id") % 17 =!= 2)
      .orderBy(col("doc_id")).limit(3).collect().map(_.getLong(0))
    val sqlPoint = spark.sql("SELECT doc_id FROM graft_v13_tbl WHERE " +
      s"doc_id IN (${lowIds.mkString(",")})")
    val readdServed = spark.sql(
      s"SELECT doc_id FROM graft_v13_tbl WHERE ld = '$readdLd'").collect()
    // one RDD handle serves both the partition-count probe and the count
    // (r20 — `.rdd` then a separate Dataset.count planned the query twice)
    val sqlPointRdd = sqlPoint.rdd
    val sqlOk = sqlPointRdd.getNumPartitions == 1 &&
      sqlPointRdd.count() == 3L &&
      readdServed.map(_.getLong(0)).toSeq == Seq(readdId)

    // materialize + one-call retention compliance; segments reclaimed
    ShardCompact.compact(spark, out, schema, targetShards = 4)
    val (dropped, _) = ShardSnapshot.retain(spark, out, keepLast = 0)
    val ghostKeys = delKeys.filter(col("ld") =!= readdLd)
    val ghosts = ShardReader.readByKey(spark, out, schema, "ld", ghostKeys)
      .count()
    val tombsGone = !new java.io.File(out, "_TOMBSTONES").exists() &&
      !new java.io.File(out).listFiles().exists(_.getName.startsWith("tomb-"))
    val back = ShardReader.read(spark, out, schema)
    // bucket rollup computed ONCE — v11's rationale: n_docs sums to the
    // table count, so forgetOk skips the separate full-table count action
    val (roll, backCount) = bucketRollupWithCount(back)
    val forgetOk = ghosts == 0L && tombsGone &&
      dropped == Seq(v1, v2, v3) &&
      ShardReader.manifestRowCount(spark, out) == backCount
    roll
      .withColumn("store_ok", lit(storeOk))
      .withColumn("window_ok", lit(windowOk))
      .withColumn("stream_ok", lit(streamOk))
      .withColumn("sql_ok", lit(sqlOk))
      .withColumn("forget_ok", lit(forgetOk))
      .orderBy(col("bucket"))
  }

  /** Exact-substring REMOVAL (Lee et al. 2022's rewrite stage): delete
    * duplicated ≥4-token runs, keeping each gram's corpus-first
    * occurrence; rebuilt text + attrition telemetry per doc. */
  def dedupSpanRemoval(spark: SparkSession, dir: String): DataFrame =
    Ngrams.removeDuplicateSpans(Tables.documents(spark, dir), "doc_id", "text",
      n = 4)
      .orderBy(col("doc_id"))

  /** [[dedupSpanRemoval]] under the UNICODE lexical contract over the
    * mixed-script column: duplicated CJK/Cyrillic/Indic runs (the
    * per-id phrases recur across ~1/5 of the corpus each) are now
    * detected and rewritten out keep-first — under the ASCII contract
    * those spans are invisible and survive every rewrite (the silent
    * no-op the r15 verdict flagged). Full RE2 replay, hash-matched. */
  def dedupSpanRemovalUnicode(spark: SparkSession, dir: String): DataFrame =
    Ngrams.removeDuplicateSpans(
      ExtensionQueries.withMixedText(Tables.documents(spark, dir), full = false),
      "doc_id", "mtext", n = 4, unicode = true)
      .orderBy(col("doc_id"))

  /**
   * Composed flagship v7 — the r12 stage in front: exact-substring SPAN
   * REMOVAL → minimum-content gate on the SURVIVING tokens → exact
   * dedup of the cleaned text (deterministic min-id survivor via one
   * arg-min aggregate, no per-digest window) → per-source rollup with
   * an id-ordered digest chain. Every stage integer/string-exact, so
   * the whole pipeline replays under one oracle: a drift in any stage
   * (a span kept twice, a gate off-by-one, a survivor flip, a chain
   * reorder) hash-fails the rollup.
   */
  def pipelineCorpusV7(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val cleaned = Ngrams.removeDuplicateSpans(docs, "doc_id", "text", n = 4)
      .filter(col("n_tokens") - col("n_removed") >= 10)
      .withColumn("digest", md5(col("text_clean")))
    val survivors = cleaned
      .groupBy(col("digest"))
      .agg(min(struct(col("doc_id"), col("n_tokens"), col("n_removed"))).as("s"))
      .select(col("digest"), col("s.doc_id").as("doc_id"),
        col("s.n_tokens").as("n_tokens"), col("s.n_removed").as("n_removed"))
    survivors.join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens") - col("n_removed")).as("kept_tokens"),
        sum(col("n_removed")).as("removed_tokens"),
        md5(concat_ws("",
          transform(array_sort(collect_list(struct(col("doc_id"), col("digest")))),
            x => x.getField("digest")))).as("digest_chain"))
      .orderBy(col("source"))
  }

  /** Boilerplate bigrams: grams in ≥10% (and ≥3) of a language's docs. */
  def boilerplateNgrams(spark: SparkSession, dir: String): DataFrame =
    Ngrams.boilerplateNgrams(Tables.documents(spark, dir), "doc_id", "text",
      groupCol = "lang", n = 2, fracNum = 1, fracDen = 10, minDocs = 3)

  /** Top-3 distinguishing terms per doc by integer tf/df weight. */
  def textTfidfTop(spark: SparkSession, dir: String): DataFrame =
    Ngrams.topTermsByTfDf(Tables.documents(spark, dir), "doc_id", "text", k = 3)
      .select(col("doc_id"), col("rnk"), col("term"), col("score"))
      .orderBy(col("doc_id"), col("rnk"))

  /** Integer-exact token-rarity score (the oracled perplexity-filter
    * stand-in — see the operator doc for why not log-prob). */
  def qualityRarity(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.tokenRarity(Tables.documents(spark, dir), "doc_id", "text")
      .orderBy(col("doc_id"))

  /** DSIR-style target-affinity selection: rank the whole pool by
    * integer token overlap with the src0 in-domain slice, keep the top
    * 100 (ties broken on doc_id — total order). */
  def selectTargetAffinity(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    Sampling.targetAffinity(docs, docs.filter(col("source") === "src0"),
      "doc_id", "text", topN = 100)
  }

  /** Exact 5th–95th percentile length-band trim via the histogram
    * percentile (no global row sort — see the operator doc). */
  def qualityLengthBand(spark: SparkSession, dir: String): DataFrame =
    Sampling.percentileBandFilter(
      Tables.documents(spark, dir), "n_chars",
      pLoNum = 1, pHiNum = 19, den = 20)
      .select(col("doc_id"), col("n_chars"))
      .orderBy(col("doc_id"))

  /** Per-source corpus moments, integer-exact (sum and sum-of-squares of
    * char counts — downstream variance/z-scores derive from these without
    * any float aggregation inside the engine). */
  def sourceStats(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        sum(col("n_chars") * col("n_chars")).as("sum_chars_sq"),
        min(col("n_chars")).as("min_chars"),
        max(col("n_chars")).as("max_chars"))
      .orderBy(col("source"))

  /** Incremental stats refresh: yesterday's stats (docs with
    * doc_id % 5 ≠ 4) MERGED with the new batch's stats (≡ 4) — same
    * result as a full recompute (the oracle IS the full recompute),
    * without rescanning the standing corpus. */
  def sourceStatsIncrement(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val standing = graft.operators.Profile.momentStats(
      docs.filter(col("doc_id") % 5 =!= 4), "source", "n_chars")
    val batch = graft.operators.Profile.momentStats(
      docs.filter(col("doc_id") % 5 === 4), "source", "n_chars")
    graft.operators.Profile.mergeMomentStats("source", standing, batch)
      .orderBy(col("source"))
  }

  /** Exact equi-depth histogram of document lengths (8 buckets) — the
    * drift-monitoring / CBO-style distribution summary, integer-exact. */
  def histChars(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Profile.equiDepthHistogram(
      Tables.documents(spark, dir), "n_chars", buckets = 8)
      .orderBy(col("bucket"))

  /** Length-distribution drift gate: reference = today's n_chars; the
    * "new drop" shifts a third of the docs 120 chars longer — enough
    * TV mass movement to trip the 5% threshold, so the query shows the
    * drifted=true polarity (ProfileSpec covers the quiet one). */
  def corpusDrift(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    graft.operators.Profile.histogramDrift(
      docs.select(col("n_chars")),
      docs.select((col("n_chars") +
        when(col("doc_id") % 3 === 0, 120L).otherwise(0L)).as("n_chars")),
      "n_chars", buckets = 8, thresholdPpm = 50000L)
  }

  /**
   * The CONTINUOUS drift monitor as a driver row — the streaming twin of
   * [[corpusDrift]] actually RUNS: documents arrive as a file
   * micro-batch stream, each batch is scored against the standing
   * reference snapshot's equi-depth bins inside
   * [[graft.streaming.DriftStream.driftStream]], and the per-batch
   * summary lands exactly-once under `out/batch=<id>`; the query emits
   * the landed summaries read back from the artifact. Same planted
   * shift as the batch gate (+120 chars on every third doc), so DuckDB
   * replays the whole verdict — a monitor that mis-binned, mis-scored,
   * dropped the batch, or double-committed the artifact hash-fails.
   */
  def streamDriftMonitor(spark: SparkSession, dir: String): DataFrame = {
    import graft.streaming.{CorpusStream, DriftStream}
    val out = graft.TmpCleanup.perProcessDir("graft-drift-stream", dir)
    val ckpt = graft.TmpCleanup.perProcessDir("graft-drift-ckpt", dir)
    graft.TmpCleanup.register(out)
    graft.TmpCleanup.register(ckpt)
    val docs = Tables.documents(spark, dir)
    val streaming = CorpusStream.readDocuments(spark, dir)
      .select((col("n_chars") +
        when(col("doc_id") % 3 === 0, 120L).otherwise(0L)).as("n_chars"))
    val q = DriftStream.driftStream(streaming,
      docs.select(col("n_chars")), "n_chars", out, ckpt,
      buckets = 8, thresholdPpm = 50000L)
    try q.processAllAvailable() finally q.stop()
    spark.read.parquet(out)
      .select(col("batch_id"), col("n_rows"), col("tv_ppm"), col("drifted"))
      .orderBy(col("batch_id"))
  }

  /** Cross-source 5-gram contamination matrix — which feeds carry the
    * same phrasing (mirrors, syndication, multi-feed benchmark leaks). */
  def sourceOverlap(spark: SparkSession, dir: String): DataFrame =
    Ngrams.sourceNgramOverlap(
      Tables.documents(spark, dir), "source", "doc_id", "text", n = 5)
      .orderBy(col("source_a"), col("source_b"))

  /** Canonical normalization digest (the pre-dedup clean, verified via
    * md5 so the oracle needn't ship whole normalized texts around). */
  def textNormalize(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        md5(TextAnalysis.normalize(col("text"))).as("norm_digest"))
      .orderBy(col("doc_id"))

  /** WITHIN-doc exact line dedup ([[graft.operators.Corpus.dedupLines]])
    * over a token-per-line construction: the fixture has no newlines,
    * but its ~31-token vocabulary repeats heavily inside every doc, so
    * turning each token into a line (`translate ' '→'\n'`) exercises
    * keep-first removal on EVERY row with per-doc-varying removal
    * counts — a value oracle, not a constant gate. The cleaned text
    * ships as md5 (house style: digests through comparisons, not
    * documents). */
  def corpusDedupLines(spark: SparkSession, dir: String): DataFrame = {
    val multi = Tables.documents(spark, dir)
      .select(col("doc_id"), translate(col("text"), " ", "\n").as("multi"))
    graft.operators.Corpus.dedupLines(multi, "doc_id", "multi")
      .select(col("doc_id"), md5(col("text_clean")).as("clean_digest"),
        col("n_lines"), col("n_removed"))
      .orderBy(col("doc_id"))
  }

  /** Cross-corpus boilerplate-line removal
    * ([[graft.operators.Corpus.removeCommonLines]]) over the same
    * token-per-line construction as [[corpusDedupLines]]: at 780‰ the
    * fixture's token-document frequencies (most tokens sit in 75–80% of
    * docs) split MID-VOCABULARY — some lines are chrome, some survive,
    * and the split varies by SF in a way both engines recompute from
    * the same fraction rule. A value oracle over every document,
    * including any emptied ones. */
  def corpusRemoveCommonLines(spark: SparkSession, dir: String): DataFrame = {
    val multi = Tables.documents(spark, dir)
      .select(col("doc_id"), translate(col("text"), " ", "\n").as("multi"))
    graft.operators.Corpus.removeCommonLines(
      multi, "doc_id", "multi", permille = 780)
      .select(col("doc_id"), md5(col("text_clean")).as("clean_digest"),
        col("n_lines"), col("n_removed"))
      .orderBy(col("doc_id"))
  }

  /** Markup-stripping extraction ([[TextAnalysis.extractHtmlText]]) over
    * deterministically constructed HTML: each doc's text wrapped in a
    * page with script/style noise, a comment, nav chrome carrying every
    * entity form the decoder handles (named, numeric, and the
    * `&amp;lt;` double-escape that must decode to a literal "&lt;",
    * never twice). The construction is pure SQL, so DuckDB rebuilds the
    * same page and replays the SAME regex chain (Java∩RE2 subset) —
    * a true twin of the operator, not of a precomputed answer. */
  def textHtmlExtract(spark: SparkSession, dir: String): DataFrame = {
    val html = concat(
      lit("<html><head><title>d</title>"),
      lit("<script type=\"text/javascript\">var x = 1 && 2;</script>"),
      lit("<style>body { color: red }</style></head>"),
      lit("<BODY><!-- header --><p>"), col("text"),
      lit("</p><div class=\"nav\">Home &amp; &quot;About&quot; " +
        "&#39;Contact&#39; &lt;here&gt; &amp;lt;literal&amp;gt; &#160;end" +
        "</div><!-- footer --></BODY></html>"))
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        TextAnalysis.extractHtmlText(html).as("extracted"))
      .select(col("doc_id"), md5(col("extracted")).as("extract_digest"),
        length(col("extracted")).cast("long").as("n_chars"))
      .orderBy(col("doc_id"))
  }

  /** Token-count histogram in fixed 16-token buckets (the length-shape
    * telemetry of a corpus build; `div` keeps both engines integer-exact). */
  def corpusTokenHist(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("__nt", size(graft.operators.Dedup.tokens(col("text"))).cast("long"))
      .groupBy(expr("__nt div 16").as("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("__nt")).as("min_tokens"),
        max(col("__nt")).as("max_tokens"))
      .orderBy(col("bucket"))

  /** BPE merge training over the corpus (rows-only: an iterative argmax
    * has no SQL twin; BpeSpec pins a hand-computed merge sequence). */
  def bpeMerges(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Bpe.trainMerges(Tables.documents(spark, dir), "text",
      numMerges = 10)
      .orderBy(col("rank"))

  /** Train-then-apply BPE: per-doc token counts under the 10 trained
    * merges — the real-tokenizer budget pass. BPE encode has no SQL
    * twin, so the oracled projection is the bounded-check form: merges
    * never cross word boundaries and every word is at least one token,
    * so n_words ≤ n_bpe ≤ n_chars — DuckDB recomputes both bounds
    * exactly and the verdict is constant TRUE. The raw count stays
    * available via `Bpe.encodeTokenCounts`; BpeSpec pins hand-computed
    * encodings. */
  def bpeTokenCount(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val merges = graft.operators.Bpe.trainMerges(docs, "text", numMerges = 10)
      .orderBy(col("rank")).collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    val toks = graft.operators.Dedup.tokens(col("text"))
    val bounds = docs.select(col("doc_id"),
      size(toks).cast("long").as("n_words"),
      coalesce(aggregate(transform(toks, t => length(t).cast("long")),
        lit(0L), (acc, x) => acc + x), lit(0L)).as("n_chars"))
    graft.operators.Bpe.encodeTokenCounts(docs, "doc_id", "text", merges)
      .join(bounds, "doc_id")
      .select(col("doc_id"), col("n_words"), col("n_chars"),
        (col("n_bpe_tokens") >= col("n_words") &&
          col("n_bpe_tokens") <= col("n_chars")).as("bpe_in_bounds"))
      .orderBy(col("doc_id"))
  }

  /** Unigram-LM (SentencePiece-shape) vocabulary training as a
    * bounded-check driver row — the EM + prune loop has no SQL twin
    * (UnigramSpec pins hand-computed segmentations and an end-to-end
    * fit), so the oracled surface is the model's structural contract:
    * the single-char coverage floor is EXACTLY the corpus character
    * set (DuckDB recomputes it), the vocab respects its size budget,
    * and the model is well-formed (positive quantized costs, rank
    * order = (count desc, piece asc), every multi-char piece spelled
    * from covered chars). Any EM/prune defect that loses coverage,
    * overshoots the budget, or emits a malformed model flips a gate. */
  def unigramVocab(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val vocab = graft.operators.Unigram.trainVocab(
      Tables.documents(spark, dir), "text", vocabSize = 64)
    val singles = vocab.filter(_.piece.length == 1).map(_.piece).toSet
    val corpusChars = Tables.documents(spark, dir)
      .select(explode(graft.operators.Dedup.tokens(col("text"))).as("w"))
      .select(explode(split(col("w"), "")).as("c"))
      .filter(col("c") =!= "").distinct()
      .collect().map(_.getString(0)).toSet
    val wellformed = vocab.forall(p => p.costMicro > 0 && p.count > 0) &&
      vocab.sortBy(p => (-p.count, p.piece)) == vocab &&
      vocab.forall(_.piece.forall(c => singles.contains(c.toString)))
    Seq(
      ("char_pieces", singles.size.toLong,
        singles == corpusChars),
      ("max_vocab", 64L,
        vocab.size <= 64 && vocab.size >= singles.size),
      ("model_wellformed", 0L, wellformed))
      .toDF("metric", "value", "ok")
      .orderBy(col("metric"))
  }

  /** Train-then-apply the unigram tokenizer: per-doc Viterbi token
    * counts under the trained 64-piece vocabulary — [[bpeTokenCount]]'s
    * twin for the unigram family, same bounded-check oracle: pieces
    * never cross word boundaries and the coverage floor guarantees a
    * segmentation, so n_words ≤ n_unigram ≤ n_chars with both bounds
    * DuckDB-exact. The raw counts stay available via
    * `Unigram.encodeTokenCounts`; UnigramSpec pins hand-computed
    * encodings. */
  def unigramTokenCount(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val vocab = graft.operators.Unigram.trainVocab(docs, "text", vocabSize = 64)
    val toks = graft.operators.Dedup.tokens(col("text"))
    val bounds = docs.select(col("doc_id"),
      size(toks).cast("long").as("n_words"),
      coalesce(aggregate(transform(toks, t => length(t).cast("long")),
        lit(0L), (acc, x) => acc + x), lit(0L)).as("n_chars"))
    graft.operators.Unigram.encodeTokenCounts(docs, "doc_id", "text", vocab)
      .join(bounds, "doc_id")
      .select(col("doc_id"), col("n_words"), col("n_chars"),
        (col("n_unigram_tokens") >= col("n_words") &&
          col("n_unigram_tokens") <= col("n_chars")).as("unigram_in_bounds"))
      .orderBy(col("doc_id"))
  }

  /** The tokenizer COMPARISON the fertility monitor exists for: train
    * BOTH families on the same corpus (BPE 10 merges, unigram 64
    * pieces), encode every document with each, and roll up per source —
    * the instrument a pipeline uses to pick its tokenizer per corpus
    * slice. Exact columns (n_docs/n_words/n_chars) are DuckDB-recomputed;
    * the per-family token sums ride in the two bounds gates
    * (words ≤ tokens ≤ chars — each family's own invariant) and in
    * `unigram_leq_bpe`: a 64-piece unigram vocab with whole-word pieces
    * compresses at least as well as 10 BPE merges on every source —
    * checked with margin at all three SFs before registration; a
    * tokenizer regression (lost merges, broken Viterbi, dropped
    * coverage) flips a gate. */
  def tokenizerCompare(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val merges = graft.operators.Bpe.trainMerges(docs, "text", numMerges = 10)
      .orderBy(col("rank")).collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    val vocab = graft.operators.Unigram.trainVocab(docs, "text", vocabSize = 64)
    val toks = graft.operators.Dedup.tokens(col("text"))
    val perDoc = docs.select(col("doc_id"), col("source"),
      size(toks).cast("long").as("__nw"),
      coalesce(aggregate(transform(toks, t => length(t).cast("long")),
        lit(0L), (acc, x) => acc + x), lit(0L)).as("__nc"),
      graft.functions.bpe_token_count(col("text"), merges)
        .cast("long").as("__bpe"),
      graft.functions.unigram_token_count(col("text"),
        vocab.map(p => (p.piece, p.costMicro)), 6,
        graft.operators.Unigram.UnkCostMicro).cast("long").as("__uni"))
    perDoc.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("__nw")).as("n_words"),
        sum(col("__nc")).as("n_chars"),
        (sum(col("__bpe")) >= sum(col("__nw")) &&
          sum(col("__bpe")) <= sum(col("__nc"))).as("bpe_in_bounds"),
        (sum(col("__uni")) >= sum(col("__nw")) &&
          sum(col("__uni")) <= sum(col("__nc"))).as("unigram_in_bounds"),
        (sum(col("__uni")) <= sum(col("__bpe"))).as("unigram_leq_bpe"))
      .orderBy(col("source"))
  }

  /** Vocabulary Zipf histogram: log2-bucketed term frequencies. */
  def vocabZipf(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.vocabZipf(Tables.documents(spark, dir), "text")

  /** Per-source quality top-k: the "best N docs per domain" curation
    * sample. Plans with WindowGroupLimit (rank pushdown on both shuffle
    * sides), so each source ships only its top rows through the
    * exchange — the per-group-top-k scale shape. */
  def sampleTopkQuality(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("source"))
      .orderBy(col("n_chars").desc, col("doc_id").asc)
    Tables.documents(spark, dir)
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= 5)
      .select(col("source"), col("rnk"), col("doc_id"), col("n_chars"))
      .orderBy(col("source"), col("rnk"))
  }

  /** Deterministic 5-per-source uniform sample (md5-permutation order —
    * reproducible across runs and cluster sizes, fresh under a new seed). */
  def sampleGroup(spark: SparkSession, dir: String): DataFrame =
    Sampling.groupSample(Tables.documents(spark, dir), "source", "doc_id", k = 5)
      .select(col("source"), col("doc_id"))
      .orderBy(col("source"), col("doc_id"))

  /** Fill each source's 2000-char budget best-first (longest docs first)
    * — the per-domain token-budget step of mixture assembly. */
  def mixTokenBudget(spark: SparkSession, dir: String): DataFrame =
    Sampling.budgetSelect(Tables.documents(spark, dir),
      groupCol = "source", orderCol = "n_chars", costCol = "n_chars",
      idCol = "doc_id", budget = 2000L)
      .select(col("source"), col("doc_id"), col("n_chars"), col("cum_cost"))
      .orderBy(col("source"), col("doc_id"))

  /** Token-budget mixture plan: allocate a 2×-corpus token budget over
    * the 20 sources at weights 1..20 with a 2-epoch cap — the
    * high-weight sources hit the cap and the one-round redistribution
    * tops up the rest, so both `capped` polarities and a non-trivial
    * second round are exercised. Budget is a bounded driver-side stat
    * (one scalar), like the clustering model state. */
  def mixBudgetEpochs(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // scoped persist BEFORE the budget collect: the collect materializes
    // the per-source aggregate into the cache, so the planner's join
    // reuses it instead of re-running the corpus tokenize+aggregate
    val srcTokens = graft.CacheScope.scoped(
      Tables.documents(spark, dir)
        .select(col("source"),
          size(Dedup.tokens(col("text"))).cast("long").as("__len"))
        .groupBy(col("source")).agg(sum(col("__len")).as("tokens")))
    val weights = (0 until 20).map(i => (s"src$i", (i + 1).toLong))
      .toDF("source", "weight")
    val total = srcTokens.agg(sum(col("tokens"))).collect()(0).getLong(0)
    Sampling.budgetEpochs(srcTokens, weights, budget = 2L * total, maxEpochs = 2)
      .orderBy(col("source"))
  }

  /** Snapshot diff between two derived corpus versions: v1 = docs with
    * doc_id % 11 ≠ 3, v2 = docs with doc_id % 17 ≠ 5 and the text of
    * every doc_id % 13 = 0 doc amended — so added / removed / changed
    * are all non-empty and fully deterministic. */
  def corpusDiff(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val v1 = docs.filter(col("doc_id") % 11 =!= 3)
      .select(col("doc_id"), col("text"))
    val v2 = docs.filter(col("doc_id") % 17 =!= 5)
      .select(col("doc_id"),
        when(col("doc_id") % 13 === 0, concat(col("text"), lit(" v2")))
          .otherwise(col("text")).as("text"))
    graft.operators.Corpus.snapshotDiff(v1, v2, "doc_id", "text")
      .select(col("id").as("doc_id"), col("status"))
      .orderBy(col("doc_id"))
  }

  // --- duplicate clustering ---

  /** Connected-components duplicate clustering: pairwise "same (lang,
    * source)" chain edges in, whole clusters out. The edge list links
    * each doc only to its predecessor in the group (a chain — the
    * worst case for label propagation), so recovering the full group as
    * one component genuinely exercises the O(log diameter) iteration,
    * while the closure stays SQL-checkable: component = min doc_id of
    * the (lang, source) group. Docs without an edge (singleton groups)
    * come back as their own component. */
  /** Chain edges of each (lang, source) group — shared by the CC
    * clustering queries and the cluster diagnostics. */
  private def chainEdges(docs: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("lang"), col("source")).orderBy(col("doc_id"))
    docs
      .withColumn("__prev", lag(col("doc_id"), 1).over(w))
      .filter(col("__prev").isNotNull)
      .select(col("__prev").as("src"), col("doc_id").as("dst"))
  }

  def dedupGroupsCc(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("source"))
    val comps = Components.connectedComponents(chainEdges(docs))
    docs.join(comps, docs("doc_id") === comps("id"), "left")
      .select(col("doc_id"),
        coalesce(col("component"), col("doc_id")).as("component"))
      .orderBy(col("doc_id"))
  }

  /** Cluster triage over the CC clustering: size, edge count, and pair
    * density per duplicate cluster (chain fixture ⇒ density 2/n — sparse
    * by construction, exactly the "needs re-verification" signal the
    * operator doc describes). */
  def dedupClusterStats(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("source"))
    val edges = chainEdges(docs)
    val comps = Components.connectedComponents(edges)
    val labels = docs.join(comps, docs("doc_id") === comps("id"), "left")
      .select(col("doc_id").as("id"),
        coalesce(col("component"), col("doc_id")).as("component"))
    Components.componentStats(labels, edges).orderBy(col("component"))
  }

  /** Same duplicate-clustering contract as [[dedupGroupsCc]], computed by
    * the edge-rewriting large-star/small-star algorithm — the variant a
    * hub-heavy duplicate graph (boilerplate matching thousands of docs)
    * needs at 100 TB. Same chain edges in, same closure oracle. */
  def dedupGroupsCcStars(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("source"))
    val comps = Components.connectedComponentsStars(chainEdges(docs))
    docs.join(comps, docs("doc_id") === comps("id"), "left")
      .select(col("doc_id"),
        coalesce(col("component"), col("doc_id")).as("component"))
      .orderBy(col("doc_id"))
  }

  /** Incremental duplicate clustering: yesterday's corpus is the EVEN
    * docs, already CC-labeled; today's near-dup pass produces chain
    * edges over ALL docs. `incrementalCc` folds the new edges into the
    * star-collapsed old labeling instead of re-running CC over the
    * historical graph. Closure oracle: component = group min over the
    * union graph; only odd docs in size-1 groups (never labeled, never
    * in an edge) are absent. */
  def dedupCcIncrement(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("source"))
    // the standing labeling is FIXTURE SETUP, built directly from the
    // known closure (min even doc per group — dedup_groups_cc proves CC
    // yields exactly this), so the measured work is the increment path,
    // not a second from-scratch CC
    val wEven = Window.partitionBy(col("lang"), col("source"))
    val baseLabels = docs.filter(col("doc_id") % 2 === 0)
      .select(col("doc_id").as("id"),
        min(col("doc_id")).over(wEven).as("component"))
    Components.incrementalCc(baseLabels, chainEdges(docs))
      .select(col("id").as("doc_id"), col("component"))
      .orderBy(col("doc_id"))
  }

  /** Deequ-style constraint gate over the documents drop: three row
    * rules (text/metadata integrity, lang vocabulary, min length) plus
    * two uniqueness constraints — doc_id passes, source intentionally
    * fails (20 sources over the whole corpus), so the report shows both
    * verdict polarities. One scan, one aggregate. */
  def qualityConstraints(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Profile.checkConstraints(
      Tables.documents(spark, dir),
      rowRules = Seq(
        "chars_match_text" -> (col("n_chars") === length(col("text"))),
        "lang_known" -> col("lang").isin("en", "de", "fr", "es", "zh"),
        "min_chars_100" -> (col("n_chars") >= 100)),
      uniqueKeys = Seq("doc_id", "source"))

  /** PageRank canonical scoring over the same chain-edge duplicate
    * graph as the CC queries: 5 fixed rounds of integer (ppb-long)
    * power iteration, oracled by unrolling the identical arithmetic in
    * SQL round by round. Chain interiors outscore endpoints — the
    * "most central copy" a dedup keep-rule prefers over min-id. */
  def dedupPagerank(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("source"))
    Components.pageRank(chainEdges(docs), iterations = 5)
      .select(col("id").as("doc_id"), col("pr").as("pr_ppb"))
      .orderBy(col("doc_id"))
  }

  /** Leakage-safe split: the split decision hashes the duplicate-
    * cluster REPRESENTATIVE (CC over the chain edges), never the doc
    * itself, so a near-dup cluster always lands whole on one side —
    * the eval-leakage guard `corpus_split`'s per-doc hash lacks.
    * Oracle: the chain closure gives component = group min; the md5
    * split rule is ANSI. */
  def splitLeakageSafe(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("source"))
    graft.operators.Corpus.leakageSafeSplit(
      docs, chainEdges(docs), "doc_id", valSixteenths = 2)
      .select(col("doc_id"), col("component"), col("split"))
      .orderBy(col("doc_id"))
  }

  /** Attrition waterfall of a 4-stage quality pipeline: per stage, rows
    * entered / rejected / survived, charged to the FIRST failing stage
    * (so the waterfall telescopes). Predicates are integer-exact — the
    * mean-word-length rule is the 5·words ≤ chars cross-multiplication
    * — so the whole report hash-matches its oracle. */
  def pipelineAttrition(spark: SparkSession, dir: String): DataFrame = {
    val nw = size(graft.operators.Dedup.tokens(col("text"))).cast("long")
    graft.operators.Profile.attrition(Tables.documents(spark, dir), Seq(
      "min_chars" -> (col("n_chars") >= 100),
      "max_chars" -> (col("n_chars") <= 450),
      "min_words" -> (nw >= 30),
      "mean_word_len" -> (lit(5) * nw <= col("n_chars"))))
  }

  /** Re-inserts a `|` margin at the start of every continuation line of
    * an already-stripMargin'd fragment, so interpolating it into an
    * outer `s"""…""".stripMargin` string round-trips the fragment
    * verbatim — including lines that legitimately BEGIN with `|` (e.g.
    * a `|| ' ' ||` concat continuation), which a bare interpolation
    * would corrupt when the outer stripMargin eats their first pipe
    * (the r12 `dedup_span_removal` DuckDB BinderException). */
  private def inMargin(frag: String): String = frag.replace("\n", "\n|")

  /** Exact-substring-removal CTE chain (follows `toksCte`), shared by
    * the direct row (`dedup_span_removal`) and the composed v7
    * flagship: dup-gram stats with keep-first by (doc_id, pos),
    * gaps-and-islands interval merge, position coverage, token rebuild.
    * Ends in `spanout` = (doc_id, text_clean, n_tokens, n_removed) with
    * one row per document. */
  private val spanRemovalCtes =
    """ng AS (
      |  SELECT doc_id, pos,
      |    tok || ' ' || LEAD(tok, 1) OVER w || ' ' || LEAD(tok, 2) OVER w
      |        || ' ' || LEAD(tok, 3) OVER w AS ngram
      |  FROM toks WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
      |occ AS (SELECT doc_id, pos, ngram FROM ng WHERE ngram IS NOT NULL),
      |st AS (SELECT ngram, COUNT(*) AS cnt, MIN(doc_id) AS fid
      |       FROM occ GROUP BY ngram HAVING COUNT(*) >= 2),
      |fp AS (SELECT o.ngram, MIN(o.pos) AS fpos
      |       FROM occ o JOIN st ON st.ngram = o.ngram AND o.doc_id = st.fid
      |       GROUP BY o.ngram),
      |dup AS (SELECT o.doc_id, o.pos AS s, o.pos + 3 AS e
      |        FROM occ o JOIN st ON st.ngram = o.ngram
      |        JOIN fp ON fp.ngram = o.ngram
      |        WHERE NOT (o.doc_id = st.fid AND o.pos = fp.fpos)),
      |isl AS (SELECT doc_id, s, e,
      |          CASE WHEN s > COALESCE(MAX(e) OVER (PARTITION BY doc_id
      |              ORDER BY s ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
      |            -1) THEN 1 ELSE 0 END AS ni
      |        FROM dup),
      |isl2 AS (SELECT doc_id, s, e,
      |           SUM(ni) OVER (PARTITION BY doc_id ORDER BY s
      |             ROWS UNBOUNDED PRECEDING) AS island
      |         FROM isl),
      |mg AS (SELECT doc_id, MIN(s) AS s0, MAX(e) AS e0
      |       FROM isl2 GROUP BY doc_id, island),
      |rem AS (SELECT doc_id, unnest(range(s0, e0 + 1)) AS rpos FROM mg),
      |kept AS (SELECT t.doc_id, t.pos, t.tok,
      |           (r.rpos IS NOT NULL) AS rm
      |         FROM toks t LEFT JOIN rem r
      |           ON r.doc_id = t.doc_id AND r.rpos = t.pos),
      |spanagg AS (SELECT doc_id,
      |          COALESCE(STRING_AGG(tok, ' ' ORDER BY pos)
      |            FILTER (WHERE NOT rm), '') AS text_clean,
      |          CAST(COUNT(*) AS BIGINT) AS n_tokens,
      |          CAST(SUM(CASE WHEN rm THEN 1 ELSE 0 END) AS BIGINT)
      |            AS n_removed
      |        FROM kept GROUP BY doc_id),
      |spanout AS (SELECT d.doc_id, COALESCE(a.text_clean, '') AS text_clean,
      |  COALESCE(a.n_tokens, 0) AS n_tokens,
      |  COALESCE(a.n_removed, 0) AS n_removed
      |FROM documents d LEFT JOIN spanagg a ON a.doc_id = d.doc_id)""".stripMargin

  /** Equi-depth-bin TV-drift CTE chain shared by the batch gate
    * (`corpus_drift`, per-bin rows) and the streaming monitor
    * (`stream_drift_monitor`, one folded summary row): reference bins
    * from `n_chars`, new side = the planted +120-on-every-third-doc
    * shift, integer ppm shares, `sd` = Σ|Δppm| in `s2`. */
  private val driftCtes =
    """h AS (SELECT n_chars AS v, COUNT(1) AS cnt FROM documents GROUP BY n_chars),
      |c AS (SELECT v, cnt,
      |    SUM(cnt) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
      |    SUM(cnt) OVER () AS total
      |  FROM h),
      |i AS (SELECT CAST(unnest(generate_series(1, 7)) AS INTEGER) AS bucket),
      |bnd AS (SELECT v AS boundary FROM c, i
      |        WHERE 8 * cum >= bucket * total AND 8 * (cum - cnt) < bucket * total),
      |oldv AS (SELECT n_chars AS v FROM documents),
      |newv AS (SELECT n_chars + CASE WHEN doc_id % 3 = 0 THEN 120 ELSE 0 END AS v
      |         FROM documents),
      |oc AS (SELECT bin, CAST(COUNT(*) AS BIGINT) AS n_old FROM
      |        (SELECT 1 + (SELECT COUNT(*) FROM bnd WHERE boundary < o.v) AS bin FROM oldv o)
      |       GROUP BY bin),
      |nc AS (SELECT bin, CAST(COUNT(*) AS BIGINT) AS n_new FROM
      |        (SELECT 1 + (SELECT COUNT(*) FROM bnd WHERE boundary < o.v) AS bin FROM newv o)
      |       GROUP BY bin),
      |spine AS (SELECT CAST(unnest(generate_series(1, 8)) AS BIGINT) AS bin),
      |per AS (SELECT s.bin, COALESCE(oc.n_old, 0) AS n_old, COALESCE(nc.n_new, 0) AS n_new
      |        FROM spine s LEFT JOIN oc ON oc.bin = s.bin LEFT JOIN nc ON nc.bin = s.bin),
      |t AS (SELECT SUM(n_old) AS t1, SUM(n_new) AS t2 FROM per),
      |p AS (SELECT per.bin, per.n_old, per.n_new,
      |        CAST((1000000 * per.n_old) // t.t1 AS BIGINT) AS p_old_ppm,
      |        CAST((1000000 * per.n_new) // t.t2 AS BIGINT) AS p_new_ppm
      |      FROM per CROSS JOIN t),
      |d AS (SELECT p.*, ABS(p_old_ppm - p_new_ppm) AS delta_ppm FROM p),
      |s2 AS (SELECT SUM(delta_ppm) AS sd FROM d)""".stripMargin

  /** Tokens-with-position CTE shared by the n-gram oracles — the zipped
    * double-unnest mirrors Spark's posexplode positions 1-based. */
  /** DuckDB replay of [[graft.operators.Bpe.trainMerges]] (numMerges =
    * 10) as unrolled per-round CTEs — see the map-entry comment. */
  private val bpeMergesOracleSql: String = {
    // Words are encoded with each SYMBOL wrapped in its own separator
    // pair (sep‖sym‖sep, concatenated), so a round's rewrite pattern
    // sep‖l‖sep‖sep‖r‖sep is anchored to WHOLE symbols on both sides:
    // a bare sep‖l‖sep‖r pattern on singly-joined symbols can false-match
    // where l is a SUFFIX of the preceding symbol (".th.e" contains
    // "h.e") or r a PREFIX of the following one — rewriting pairs the
    // Spark fold (whole-symbol equality, Bpe.scala:74-80) never merges.
    // Double-wrapping also keeps adjacent matches disjoint (no shared
    // separator), so one left-to-right replace() call merges exactly the
    // disjoint leftmost (l, r) adjacencies — the fold's semantics — even
    // on runs like [a,a,a,a,a] → [aa,aa,a].
    val rounds = (1 to 10).map { i =>
      val prev = if (i == 1) "w0" else s"w${i - 1}"
      s"""p$i AS (
         |  SELECT pr[1] AS l, pr[2] AS r, CAST(SUM(cnt) AS BIGINT) AS n
         |  FROM (
         |    SELECT cnt, unnest(list_zip(li[1:len(li)-1], li[2:])) AS pr
         |    FROM (SELECT cnt, list_filter(string_split(s, chr(1)), x -> x <> '') AS li
         |          FROM $prev)
         |    WHERE len(li) >= 2)
         |  GROUP BY 1, 2),
         |t$i AS (SELECT l, r, n FROM p$i ORDER BY n DESC, l, r LIMIT 1),
         |w$i AS (SELECT replace(s,
         |    chr(1) || t$i.l || chr(1) || chr(1) || t$i.r || chr(1),
         |    chr(1) || t$i.l || t$i.r || chr(1)) AS s, cnt
         |  FROM $prev, t$i)""".stripMargin
    }
    val sel = (1 to 10).map { i =>
      s"""SELECT CAST($i AS BIGINT) AS rank, l AS "left", r AS "right", n AS pair_count FROM t$i"""
    }
    s"""WITH w0 AS (
       |  SELECT array_to_string(list_transform(string_split(tok, ''),
       |           c -> chr(1) || c || chr(1)), '') AS s,
       |         CAST(COUNT(*) AS BIGINT) AS cnt
       |  FROM (SELECT unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
       |        x -> len(x) > 0)) AS tok FROM documents)
       |  GROUP BY 1),
       |${rounds.mkString(",\n")}
       |SELECT * FROM (${sel.mkString(" UNION ALL ")}) ORDER BY rank""".stripMargin
  }

  private val toksCte =
    """toks AS (
      |  SELECT doc_id,
      |    unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> len(x) > 0)) AS tok,
      |    unnest(range(1, len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> len(x) > 0)) + 1)) AS pos
      |  FROM documents)""".stripMargin

  /** The unicode-contract twin of [[toksCte]]: positional token stream
    * of the mixed-script column, tokenized by the RE2 replay of
    * [[graft.operators.Dedup.tokensUnicode]] (via the shared
    * [[ExtensionQueries.tokensUniSql]], so the Han-padding + token-class
    * copies stay lockstep-pinned). */
  private def toksUniCte =
    s"""mx AS (SELECT doc_id, ${ExtensionQueries.mixedSqlExpr(full = false)} AS mtext
       |  FROM documents),
       |toks AS (
       |  SELECT doc_id,
       |    unnest(${ExtensionQueries.tokensUniSql("mtext")}) AS tok,
       |    unnest(range(1, len(${ExtensionQueries.tokensUniSql("mtext")}) + 1)) AS pos
       |  FROM mx)""".stripMargin

  private val bucketSql = graft.operators.Sampling.bucket1000Sql("doc_id")

  /** The house tokenizer as a DuckDB array expression (lockstep with
    * [[graft.operators.Dedup.tokens]]). */
  private val tokensSqlP =
    "list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> len(x) > 0)"

  val declarations: Seq[Q] = Seq(
    // no DuckDB oracle: checked by row count only
    Q("decontaminate_bloom", decontaminateBloom _),
    // integer affinity and floor division keep the ranking exact; the
    // CASTs stop DuckDB's SUM from widening to HUGEINT (dtype gate)
    Q("select_target_affinity", selectTargetAffinity _,
      s"""WITH tgt AS (
         |  SELECT unnest($tokensSqlP) AS tok FROM documents WHERE source = 'src0'),
         |tcnt AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS target_cnt FROM tgt GROUP BY tok),
         |tf AS (
         |  SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf
         |  FROM (SELECT doc_id, unnest($tokensSqlP) AS tok FROM documents)
         |  GROUP BY doc_id, tok),
         |sc AS (
         |  SELECT tf.doc_id,
         |    CAST(SUM(tf.tf) AS BIGINT) AS n_tokens,
         |    CAST(SUM(tf.tf * COALESCE(tc.target_cnt, 0)) AS BIGINT) AS affinity
         |  FROM tf LEFT JOIN tcnt tc USING (tok) GROUP BY tf.doc_id)
         |SELECT doc_id, n_tokens, affinity,
         |  CAST(affinity * 1000000 // n_tokens AS BIGINT) AS affinity_micro
         |FROM sc ORDER BY affinity_micro DESC, doc_id LIMIT 100""".stripMargin),
    Q("sample_stratified", sampleStratified _,
      s"""SELECT doc_id, lang FROM documents
         |WHERE $bucketSql <
         |  CASE WHEN lang = 'en' THEN 500 WHEN lang = 'de' THEN 250 ELSE 100 END
         |ORDER BY doc_id""".stripMargin),
    Q("mix_rebalance", mixRebalance _,
      s"""WITH c AS (SELECT lang, COUNT(*) AS cnt FROM documents GROUP BY lang),
         |m AS (SELECT MIN(cnt) AS mn FROM c)
         |SELECT d.doc_id, d.lang FROM documents d JOIN c USING (lang), m
         |WHERE $bucketSql < FLOOR(1000.0 * m.mn / c.cnt)
         |ORDER BY doc_id""".stripMargin),
    // 1e6·mn/cnt is one IEEE multiply + divide and SQRT is a correctly-
    // rounded required op — bit-identical cross-engine (unlike POW)
    Q("mix_temperature", mixTemperature _,
      s"""WITH c AS (SELECT lang, COUNT(*) AS cnt FROM documents GROUP BY lang),
         |m AS (SELECT MIN(cnt) AS mn FROM c)
         |SELECT d.doc_id, d.lang FROM documents d JOIN c USING (lang), m
         |WHERE $bucketSql < FLOOR(SQRT(1000000.0 * m.mn / c.cnt))
         |ORDER BY doc_id""".stripMargin),
    Q("profile_documents", profileDocuments _, {
      def one(c: String) =
        s"""SELECT '$c' AS column_name, COUNT(*) AS n_rows, COUNT($c) AS n_nonnull,
           |  COUNT(DISTINCT $c) AS n_distinct,
           |  CAST(MIN($c) AS VARCHAR) AS min_value,
           |  CAST(MAX($c) AS VARCHAR) AS max_value FROM documents""".stripMargin
      Seq("doc_id", "text", "lang", "source", "n_chars").map(one)
        .mkString("SELECT * FROM (\n", "\nUNION ALL\n", "\n) ORDER BY column_name")
    }),
    Q("text_collocations", textCollocations _,
      s"""WITH ta AS (SELECT $tokensSqlP AS a FROM documents),
         |pairs AS (
         |  SELECT a[i] AS t1, a[i + 1] AS t2
         |  FROM (SELECT a, unnest(generate_series(1, len(a) - 1)) AS i
         |        FROM ta WHERE len(a) > 1)),
         |big AS (SELECT t1, t2, COUNT(1) AS pair_count FROM pairs
         |        GROUP BY t1, t2 HAVING COUNT(1) >= 5),
         |uni AS (SELECT tok, COUNT(1) AS c
         |        FROM (SELECT unnest(a) AS tok FROM ta) GROUP BY tok),
         |n AS (SELECT CAST(SUM(c) AS BIGINT) AS total FROM uni)
         |SELECT big.t1, big.t2, pair_count,
         |  ua.c AS count_a, ub.c AS count_b,
         |  (CAST(pair_count AS DOUBLE) * CAST(total AS DOUBLE)) /
         |  (CAST(ua.c AS DOUBLE) * CAST(ub.c AS DOUBLE)) AS lift
         |FROM big JOIN uni ua ON ua.tok = big.t1
         |JOIN uni ub ON ub.tok = big.t2 CROSS JOIN n
         |ORDER BY lift DESC, t1, t2 LIMIT 50""".stripMargin),
    Q("decontaminate", decontaminate _,
      s"""WITH ${inMargin(toksCte)},
         |ng AS (
         |  SELECT doc_id,
         |    tok || ' ' || LEAD(tok, 1) OVER w || ' ' || LEAD(tok, 2) OVER w AS ngram
         |  FROM toks WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
         |bench AS (SELECT DISTINCT ngram FROM ng WHERE doc_id % 97 = 0 AND ngram IS NOT NULL)
         |SELECT c.doc_id, COUNT(DISTINCT c.ngram) AS n_hits
         |FROM ng c JOIN bench b ON c.ngram = b.ngram
         |WHERE c.doc_id % 97 <> 0
         |GROUP BY c.doc_id ORDER BY c.doc_id""".stripMargin),
    // the unicode-contract decontamination replay: same CTE chain as
    // `decontaminate`, token stream swapped for the RE2 unicode
    // tokenizer over the mixed-script column
    Q("decontaminate_unicode", decontaminateUnicode _,
      s"""WITH ${inMargin(toksUniCte)},
         |ng AS (
         |  SELECT doc_id,
         |    tok || ' ' || LEAD(tok, 1) OVER w || ' ' || LEAD(tok, 2) OVER w AS ngram
         |  FROM toks WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
         |bench AS (SELECT DISTINCT ngram FROM ng WHERE doc_id % 97 = 0 AND ngram IS NOT NULL)
         |SELECT c.doc_id, COUNT(DISTINCT c.ngram) AS n_hits
         |FROM ng c JOIN bench b ON c.ngram = b.ngram
         |WHERE c.doc_id % 97 <> 0
         |GROUP BY c.doc_id ORDER BY c.doc_id""".stripMargin),
    // full SQL replay of 10 BPE merge rounds (the PageRank unrolled-CTE
    // pattern): words live as chr(1)-joined symbol strings; the greedy
    // left-to-right pair merge is exactly replace(s, l||sep||r, l||r)
    // (non-overlapping, left-to-right — 'aaa' + (a,a) gives [aa, a] in
    // both engines); ties break (count DESC, l, r) identically because
    // symbols are lowercase ASCII. Verified bit-equal vs trainMerges at
    // all three SFs before registration.
    Q("bpe_merges", bpeMerges _, bpeMergesOracleSql),
    // the exact-contamination side replayed verbatim (the green
    // `decontaminate` oracle), with the bloom no-false-negative gate
    // as the constant the Spark side must reproduce
    Q("decontaminate_bloom_verdict", decontaminateBloomVerdict _,
      s"""WITH ${inMargin(toksCte)},
         |ng AS (
         |  SELECT doc_id,
         |    tok || ' ' || LEAD(tok, 1) OVER w || ' ' || LEAD(tok, 2) OVER w AS ngram
         |  FROM toks WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
         |bench AS (SELECT DISTINCT ngram FROM ng WHERE doc_id % 97 = 0 AND ngram IS NOT NULL)
         |SELECT DISTINCT c.doc_id, TRUE AS bloom_flagged
         |FROM ng c JOIN bench b ON c.ngram = b.ngram
         |WHERE c.doc_id % 97 <> 0
         |ORDER BY c.doc_id""".stripMargin),
    // DuckDB SUM(BIGINT) returns HUGEINT — cast back for the typed hash
    Q("quality_rarity", qualityRarity _,
      s"""WITH ${inMargin(toksCte)},
         |tf AS (SELECT doc_id, tok AS term, COUNT(*) AS tf FROM toks GROUP BY doc_id, tok),
         |freq AS (SELECT term, CAST(SUM(tf) AS BIGINT) AS freq FROM tf GROUP BY term)
         |SELECT t.doc_id,
         |  CAST(SUM(t.tf) AS BIGINT) AS n_tokens,
         |  CAST(SUM(t.tf * f.freq) AS BIGINT) AS sum_tok_freq,
         |  CAST(MIN(f.freq) AS BIGINT) AS min_tok_freq
         |FROM tf t JOIN freq f USING (term)
         |GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin),
    Q("quality_repetition", qualityRepetition _,
      s"""WITH ${inMargin(toksCte)},
         |ng AS (
         |  SELECT doc_id, tok || ' ' || LEAD(tok, 1) OVER w AS ngram
         |  FROM toks WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
         |cnt AS (SELECT doc_id, ngram, COUNT(*) AS c
         |        FROM ng WHERE ngram IS NOT NULL GROUP BY doc_id, ngram)
         |SELECT doc_id, MAX(c) AS top_cnt, CAST(SUM(c) AS BIGINT) AS n_bigrams
         |FROM cnt GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    Q("text_tfidf_top", textTfidfTop _,
      s"""WITH ${inMargin(toksCte)},
         |tf AS (SELECT doc_id, tok AS term, COUNT(*) AS tf FROM toks GROUP BY doc_id, tok),
         |df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
         |scored AS (
         |  SELECT t.doc_id, t.term, (t.tf * 1000000) // d.df AS score,
         |    ROW_NUMBER() OVER (PARTITION BY t.doc_id
         |      ORDER BY (t.tf * 1000000) // d.df DESC, t.term) AS rnk
         |  FROM tf t JOIN df d USING (term))
         |SELECT doc_id, rnk, term, CAST(score AS BIGINT) AS score
         |FROM scored WHERE rnk <= 3 ORDER BY doc_id, rnk""".stripMargin),
    Q("quality_length_band", qualityLengthBand _,
      """WITH h AS (
        |  SELECT n_chars, COUNT(*) AS cnt FROM documents GROUP BY n_chars),
        |c AS (
        |  SELECT n_chars, cnt,
        |    SUM(cnt) OVER (ORDER BY n_chars
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    SUM(cnt) OVER () AS total
        |  FROM h),
        |keep AS (
        |  SELECT n_chars FROM c
        |  WHERE 20 * cum >= total AND 20 * (cum - cnt) <= 19 * total)
        |SELECT d.doc_id, d.n_chars FROM documents d JOIN keep USING (n_chars)
        |ORDER BY d.doc_id""".stripMargin),
    // DuckDB SUM(BIGINT) → HUGEINT: cast back for the typed hash
    Q("source_stats", sourceStats _,
      """SELECT source, COUNT(*) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
        |  CAST(SUM(n_chars * n_chars) AS BIGINT) AS sum_chars_sq,
        |  MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars
        |FROM documents GROUP BY source ORDER BY source""".stripMargin),
    // the merged increment must equal a FULL recompute — that equality
    // is the whole point, so the oracle is the full-table aggregation
    Q("source_stats_increment", sourceStatsIncrement _,
      """SELECT source, COUNT(*) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
        |  CAST(SUM(n_chars * n_chars) AS BIGINT) AS sum_chars_sq,
        |  MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars
        |FROM documents GROUP BY source ORDER BY source""".stripMargin),
    Q("hist_chars", histChars _,
      """WITH h AS (SELECT n_chars AS v, COUNT(1) AS cnt FROM documents GROUP BY n_chars),
        |c AS (SELECT v, cnt,
        |    SUM(cnt) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    SUM(cnt) OVER () AS total
        |  FROM h),
        |i AS (SELECT CAST(unnest(generate_series(1, 7)) AS INTEGER) AS bucket)
        |SELECT bucket, v AS boundary FROM c, i
        |WHERE 8 * cum >= bucket * total AND 8 * (cum - cnt) < bucket * total
        |ORDER BY bucket""".stripMargin),
    // replays histogramDrift: reference-snapshot equi-depth boundaries,
    // bin = 1 + count(boundaries < v) (the operator's indicator sum),
    // fixed-point TV with floor division at every step
    Q("corpus_drift", corpusDrift _,
      s"""WITH ${inMargin(driftCtes)}
        |SELECT bin, n_old, n_new, p_old_ppm, p_new_ppm,
        |  CAST(delta_ppm AS BIGINT) AS delta_ppm,
        |  CAST(sd // 2 AS BIGINT) AS tv_ppm,
        |  (sd // 2) > 50000 AS drifted
        |FROM d CROSS JOIN s2 ORDER BY bin""".stripMargin),
    // the streaming monitor's landed per-batch summary: the bounded
    // fixture is ONE micro-batch (batch_id 0), so the summary folds the
    // identical bin derivation to (row count, tv, verdict)
    Q("stream_drift_monitor", streamDriftMonitor _,
      s"""WITH ${inMargin(driftCtes)}
        |SELECT CAST(0 AS BIGINT) AS batch_id,
        |  CAST((SELECT SUM(n_new) FROM d) AS BIGINT) AS n_rows,
        |  CAST(sd // 2 AS BIGINT) AS tv_ppm,
        |  (sd // 2) > 50000 AS drifted
        |FROM s2""".stripMargin),
    Q("source_overlap", sourceOverlap _,
      s"""WITH stoks AS (
         |  SELECT doc_id, source,
         |    unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> len(x) > 0)) AS tok,
         |    unnest(range(1, len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> len(x) > 0)) + 1)) AS pos
         |  FROM documents),
         |ngr AS (
         |  SELECT source,
         |    tok || ' ' || LEAD(tok, 1) OVER w || ' ' || LEAD(tok, 2) OVER w
         |        || ' ' || LEAD(tok, 3) OVER w || ' ' || LEAD(tok, 4) OVER w AS ngram
         |  FROM stoks WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
         |ng AS (SELECT DISTINCT source, ngram FROM ngr WHERE ngram IS NOT NULL)
         |SELECT a.source AS source_a, b.source AS source_b, COUNT(*) AS shared_ngrams
         |FROM ng a JOIN ng b ON a.ngram = b.ngram AND a.source < b.source
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    Q("text_normalize", textNormalize _,
      """SELECT doc_id,
        |  MD5(TRIM(REGEXP_REPLACE(LOWER(text), '[^a-z0-9]+', ' ', 'g'))) AS norm_digest
        |FROM documents ORDER BY doc_id""".stripMargin),
    // keep-first line dedup replayed relationally: first occurrence of
    // each line by position, re-joined in first-seen order
    Q("corpus_dedup_lines", corpusDedupLines _,
      """WITH d AS (
        |  SELECT doc_id,
        |    string_split(replace(text, ' ', chr(10)), chr(10)) AS ls
        |  FROM documents),
        |l AS (
        |  SELECT doc_id, UNNEST(ls) AS line,
        |    UNNEST(range(1, len(ls) + 1)) AS ord
        |  FROM d),
        |f AS (
        |  SELECT doc_id, line, MIN(ord) AS first_ord
        |  FROM l GROUP BY doc_id, line),
        |agg AS (
        |  SELECT doc_id,
        |    STRING_AGG(line, chr(10) ORDER BY first_ord) AS clean,
        |    COUNT(*) AS n_kept
        |  FROM f GROUP BY doc_id),
        |tot AS (SELECT doc_id, COUNT(*) AS n_lines FROM l GROUP BY doc_id)
        |SELECT t.doc_id, MD5(a.clean) AS clean_digest,
        |  CAST(t.n_lines AS BIGINT) AS n_lines,
        |  CAST(t.n_lines - a.n_kept AS BIGINT) AS n_removed
        |FROM tot t JOIN agg a ON t.doc_id = a.doc_id
        |ORDER BY t.doc_id""".stripMargin),
    // fraction-thresholded common-line removal, integer cross-multiplied
    // (1000·nd >= permille·n_docs) — no float ratio on either side;
    // fully-emptied docs must survive as rows with empty clean text
    Q("corpus_remove_common_lines", corpusRemoveCommonLines _,
      """WITH d AS (
        |  SELECT doc_id,
        |    string_split(replace(text, ' ', chr(10)), chr(10)) AS ls
        |  FROM documents),
        |l AS (
        |  SELECT doc_id, UNNEST(ls) AS line,
        |    UNNEST(range(1, len(ls) + 1)) AS ord
        |  FROM d),
        |nd AS (SELECT COUNT(DISTINCT doc_id) AS n FROM documents),
        |c AS (
        |  SELECT line FROM l, nd GROUP BY line, nd.n
        |  HAVING COUNT(DISTINCT doc_id) * 1000 >= 780 * nd.n),
        |k AS (
        |  SELECT doc_id, line, ord FROM l
        |  WHERE line NOT IN (SELECT line FROM c)),
        |agg AS (
        |  SELECT doc_id,
        |    STRING_AGG(line, chr(10) ORDER BY ord) AS clean,
        |    COUNT(*) AS n_kept
        |  FROM k GROUP BY doc_id),
        |tot AS (SELECT doc_id, LEN(ls) AS n_lines FROM d)
        |SELECT t.doc_id, MD5(COALESCE(a.clean, '')) AS clean_digest,
        |  CAST(t.n_lines AS BIGINT) AS n_lines,
        |  CAST(t.n_lines - COALESCE(a.n_kept, 0) AS BIGINT) AS n_removed
        |FROM tot t LEFT JOIN agg a ON t.doc_id = a.doc_id
        |ORDER BY t.doc_id""".stripMargin),
    // the SAME page construction and the SAME regex chain (Java∩RE2
    // subset; DuckDB's RE2 reads the identical patterns) — the oracle
    // twins the operator, not a precomputed answer
    Q("text_html_extract", textHtmlExtract _,
      """WITH page AS (
        |  SELECT doc_id,
        |    '<html><head><title>d</title>'
        |    || '<script type="text/javascript">var x = 1 && 2;</script>'
        |    || '<style>body { color: red }</style></head>'
        |    || '<BODY><!-- header --><p>' || text
        |    || '</p><div class="nav">Home &amp; &quot;About&quot; '
        |    || '&#39;Contact&#39; &lt;here&gt; &amp;lt;literal&amp;gt; &#160;end'
        |    || '</div><!-- footer --></BODY></html>' AS html
        |  FROM documents),
        |x AS (
        |  SELECT doc_id, TRIM(REGEXP_REPLACE(
        |    REPLACE(
        |    REPLACE(REPLACE(REPLACE(REPLACE(
        |    REGEXP_REPLACE(
        |    REPLACE(REPLACE(
        |    REGEXP_REPLACE(REGEXP_REPLACE(REGEXP_REPLACE(REGEXP_REPLACE(html,
        |      '(?is)<script\b[^>]*>.*?</script[ \t\n\x0B\f\r]*>', ' ', 'g'),
        |      '(?is)<style\b[^>]*>.*?</style[ \t\n\x0B\f\r]*>', ' ', 'g'),
        |      '(?s)<!--.*?-->', ' ', 'g'),
        |      '(?s)<[^>]+>', ' ', 'g'),
        |      '&#39;', ''''), '&#34;', '"'),
        |      '&#\d+;', ' ', 'g'),
        |      '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&apos;', ''''),
        |      '&amp;', '&'),
        |    '[ \t\n\x0B\f\r]+', ' ', 'g')) AS extracted
        |  FROM page)
        |SELECT doc_id, MD5(extracted) AS extract_digest,
        |  CAST(LENGTH(extracted) AS BIGINT) AS n_chars
        |FROM x ORDER BY doc_id""".stripMargin),
    // bounded-check: BPE merges never cross word boundaries and every
    // word is >= 1 token, so n_words <= n_bpe <= n_chars; DuckDB
    // recomputes both bounds, the verdict is constant TRUE
    // bounded-check oracle for the unigram trainer: the coverage floor
    // is exactly the corpus character set (DuckDB-exact); the budget and
    // well-formedness gates are Spark-computed constants
    Q("unigram_vocab", unigramVocab _,
      """WITH toks AS (
        |  SELECT unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |    x -> len(x) > 0)) AS tok FROM documents),
        |ch AS (SELECT DISTINCT unnest(string_split(tok, '')) AS c FROM toks)
        |SELECT 'char_pieces' AS metric,
        |  CAST((SELECT COUNT(*) FROM ch) AS BIGINT) AS value, TRUE AS ok
        |UNION ALL SELECT 'max_vocab', 64, TRUE
        |UNION ALL SELECT 'model_wellformed', 0, TRUE
        |ORDER BY metric""".stripMargin),
    // both tokenizers' per-source bounds + the 64-piece-unigram-beats-
    // 10-merge-BPE compression gate, all checked with margin at 3 SFs
    Q("tokenizer_compare", tokenizerCompare _,
      """SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(LEN(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |    x -> len(x) > 0))) AS BIGINT) AS n_words,
        |  CAST(SUM(COALESCE(LIST_SUM(LIST_TRANSFORM(
        |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |      x -> len(x) > 0), x -> LEN(x))), 0)) AS BIGINT) AS n_chars,
        |  TRUE AS bpe_in_bounds, TRUE AS unigram_in_bounds,
        |  TRUE AS unigram_leq_bpe
        |FROM documents GROUP BY source ORDER BY source""".stripMargin),
    Q("unigram_token_count", unigramTokenCount _,
      """SELECT doc_id,
        |  CAST(LEN(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |    x -> len(x) > 0)) AS BIGINT) AS n_words,
        |  CAST(COALESCE(LIST_SUM(LIST_TRANSFORM(
        |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |      x -> len(x) > 0), x -> LEN(x))), 0) AS BIGINT) AS n_chars,
        |  TRUE AS unigram_in_bounds
        |FROM documents ORDER BY doc_id""".stripMargin),
    Q("bpe_token_count", bpeTokenCount _,
      """SELECT doc_id,
        |  CAST(LEN(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |    x -> len(x) > 0)) AS BIGINT) AS n_words,
        |  CAST(COALESCE(LIST_SUM(LIST_TRANSFORM(
        |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |      x -> len(x) > 0), x -> LEN(x))), 0) AS BIGINT) AS n_chars,
        |  TRUE AS bpe_in_bounds
        |FROM documents ORDER BY doc_id""".stripMargin),
    Q("corpus_token_hist", corpusTokenHist _,
      """WITH t AS (
        |  SELECT CAST(LEN(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |    x -> len(x) > 0)) AS BIGINT) AS nt
        |  FROM documents)
        |SELECT nt // 16 AS bucket, COUNT(*) AS n_docs,
        |  MIN(nt) AS min_tokens, MAX(nt) AS max_tokens
        |FROM t GROUP BY 1 ORDER BY bucket""".stripMargin),
    Q("vocab_zipf", vocabZipf _,
      """WITH tf AS (
        |  SELECT unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> len(x) > 0)) AS tok
        |  FROM documents),
        |c AS (SELECT tok, COUNT(*) AS cnt FROM tf GROUP BY tok)
        |SELECT CAST(LENGTH(BIN(cnt)) AS BIGINT) AS bucket,
        |  COUNT(*) AS n_terms, CAST(SUM(cnt) AS BIGINT) AS occurrences
        |FROM c GROUP BY bucket ORDER BY bucket""".stripMargin),
    Q("dedup_substring_pairs", dedupSubstringPairs _,
      s"""WITH ${inMargin(toksCte)},
         |ng AS (
         |  SELECT doc_id,
         |    tok || ' ' || LEAD(tok, 1) OVER w || ' ' || LEAD(tok, 2) OVER w
         |        || ' ' || LEAD(tok, 3) OVER w AS ngram
         |  FROM toks WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
         |dg0 AS (SELECT DISTINCT doc_id, ngram FROM ng WHERE ngram IS NOT NULL),
         |-- mirror the operator's oversized-gram guard (maxDocsPerGram=1000):
         |-- without it the two sides diverge the day a gram goes ubiquitous
         |dg AS (SELECT doc_id, ngram FROM dg0
         |       QUALIFY COUNT(*) OVER (PARTITION BY ngram) <= 1000)
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |  COUNT(DISTINCT a.ngram) AS n_shared
         |FROM dg a JOIN dg b ON a.ngram = b.ngram AND a.doc_id < b.doc_id
         |GROUP BY a.doc_id, b.doc_id ORDER BY id_a, id_b""".stripMargin),
    Q("dedup_substring_verify", dedupSubstringVerify _,
      s"""WITH ${inMargin(toksCte)},
         |ng AS (
         |  SELECT doc_id, pos,
         |    tok || ' ' || LEAD(tok, 1) OVER w || ' ' || LEAD(tok, 2) OVER w
         |        || ' ' || LEAD(tok, 3) OVER w AS ngram
         |  FROM toks WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
         |oc0 AS (SELECT doc_id, pos, ngram FROM ng WHERE ngram IS NOT NULL),
         |-- DOCUMENT-count oversized-gram guard, mirroring the operator
         |big AS (SELECT ngram FROM (SELECT DISTINCT doc_id, ngram FROM oc0)
         |        GROUP BY ngram HAVING COUNT(*) > 1000),
         |oc AS (SELECT doc_id, pos, ngram FROM oc0
         |       WHERE ngram NOT IN (SELECT ngram FROM big)),
         |-- shared occurrences on the diagonal pa - pb; consecutive pa on
         |-- one diagonal = one certified run (gaps-and-islands)
         |j AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.pos AS pa,
         |        a.pos - b.pos AS diag
         |      FROM oc a JOIN oc b ON a.ngram = b.ngram AND a.doc_id < b.doc_id),
         |isl AS (SELECT id_a, id_b, diag, pa,
         |          pa - ROW_NUMBER() OVER (PARTITION BY id_a, id_b, diag
         |                                  ORDER BY pa) AS island
         |        FROM j),
         |runs AS (SELECT id_a, id_b, COUNT(*) AS run
         |         FROM isl GROUP BY id_a, id_b, diag, island)
         |SELECT id_a, id_b, CAST(MAX(run) + 3 AS BIGINT) AS max_run_tokens
         |FROM runs GROUP BY id_a, id_b
         |HAVING MAX(run) + 3 >= 5
         |ORDER BY id_a, id_b""".stripMargin),
    // the full rewrite replayed: dup-gram stats (keep-first by
    // (doc_id, pos)), interval merge, position coverage, token rebuild
    Q("dedup_span_removal", dedupSpanRemoval _,
      s"""WITH ${inMargin(toksCte)},
         |${inMargin(spanRemovalCtes)}
         |SELECT doc_id, text_clean, n_tokens, n_removed
         |FROM spanout ORDER BY doc_id""".stripMargin),
    // v11: unicode span removal -> content gate -> min-id dedup ->
    // (durable store lifecycle runs Spark-side; the gates are constants)
    // -> minus the % 13 takedown set -> bucket digest chain
    Q("pipeline_corpus_v11", pipelineCorpusV11 _,
      s"""WITH ${inMargin(toksUniCte)},
         |${inMargin(spanRemovalCtes)},
         |gated AS (SELECT doc_id, MD5(text_clean) AS ld FROM spanout
         |          WHERE n_tokens - n_removed >= 5),
         |sur AS (SELECT doc_id, ld FROM gated
         |        QUALIFY ROW_NUMBER() OVER (PARTITION BY ld ORDER BY doc_id) = 1),
         |fin AS (SELECT doc_id, ld FROM sur WHERE doc_id % 13 <> 1)
         |SELECT doc_id % 8 AS bucket, CAST(COUNT(1) AS BIGINT) AS n_docs,
         |  MD5(STRING_AGG(ld, '' ORDER BY doc_id)) AS digest,
         |  TRUE AS store_ok, TRUE AS forget_ok
         |FROM fin GROUP BY 1 ORDER BY 1""".stripMargin),
    // v12: the same front as v11 but the store is PARQUET and keyed by
    // the content DIGEST (bloom-pruned takedown, %17-of-the-even-half
    // set); CDC/retention/pushed-lookup gates are constants
    Q("pipeline_corpus_v12", pipelineCorpusV12 _,
      s"""WITH ${inMargin(toksUniCte)},
         |${inMargin(spanRemovalCtes)},
         |gated AS (SELECT doc_id, MD5(text_clean) AS ld FROM spanout
         |          WHERE n_tokens - n_removed >= 5),
         |sur AS (SELECT doc_id, ld FROM gated
         |        QUALIFY ROW_NUMBER() OVER (PARTITION BY ld ORDER BY doc_id) = 1),
         |fin AS (SELECT doc_id, ld FROM sur
         |        WHERE NOT (doc_id % 17 = 2 AND doc_id % 2 = 0))
         |SELECT doc_id % 8 AS bucket, CAST(COUNT(1) AS BIGINT) AS n_docs,
         |  MD5(STRING_AGG(ld, '' ORDER BY doc_id)) AS digest,
         |  TRUE AS store_ok, TRUE AS forget_ok,
         |  TRUE AS cdc_ok, TRUE AS pushed_ok
         |FROM fin GROUP BY 1 ORDER BY 1""".stripMargin),
    // v13: the same front as v12; the store carries multi-column
    // sidecars and the takedown is MERGE-ON-READ with one digest
    // re-added at +10⁷ — final table = survivors minus the %17 set
    // plus the lowest deleted digest's re-add; every lifecycle gate
    // (no-rewrite, windows, streamed replay, SQL screen, retention)
    // is a constant
    Q("pipeline_corpus_v13", pipelineCorpusV13 _,
      s"""WITH ${inMargin(toksUniCte)},
         |${inMargin(spanRemovalCtes)},
         |gated AS (SELECT doc_id, MD5(text_clean) AS ld FROM spanout
         |          WHERE n_tokens - n_removed >= 5),
         |sur AS (SELECT doc_id, ld FROM gated
         |        QUALIFY ROW_NUMBER() OVER (PARTITION BY ld ORDER BY doc_id) = 1),
         |readd AS (SELECT doc_id + 10000000 AS doc_id, ld FROM sur
         |          WHERE doc_id % 17 = 2 ORDER BY doc_id LIMIT 1),
         |fin AS (SELECT doc_id, ld FROM sur WHERE doc_id % 17 <> 2
         |        UNION ALL SELECT doc_id, ld FROM readd)
         |SELECT doc_id % 8 AS bucket, CAST(COUNT(1) AS BIGINT) AS n_docs,
         |  MD5(STRING_AGG(ld, '' ORDER BY doc_id)) AS digest,
         |  TRUE AS store_ok, TRUE AS window_ok, TRUE AS stream_ok,
         |  TRUE AS sql_ok, TRUE AS forget_ok
         |FROM fin GROUP BY 1 ORDER BY 1""".stripMargin),
    // the unicode-contract span-removal replay: the SAME rewrite CTE
    // chain over the unicode token stream of the mixed column
    Q("dedup_span_removal_unicode", dedupSpanRemovalUnicode _,
      s"""WITH ${inMargin(toksUniCte)},
         |${inMargin(spanRemovalCtes)}
         |SELECT doc_id, text_clean, n_tokens, n_removed
         |FROM spanout ORDER BY doc_id""".stripMargin),
    // v7: span removal -> kept-token gate -> min-id exact dedup of the
    // cleaned text -> per-source rollup with id-ordered digest chain
    Q("pipeline_corpus_v7", pipelineCorpusV7 _,
      s"""WITH ${inMargin(toksCte)},
         |${inMargin(spanRemovalCtes)},
         |gated AS (SELECT doc_id, MD5(text_clean) AS dg, n_tokens, n_removed
         |          FROM spanout WHERE n_tokens - n_removed >= 10),
         |sur AS (SELECT doc_id, dg, n_tokens, n_removed FROM gated
         |        QUALIFY ROW_NUMBER() OVER (PARTITION BY dg ORDER BY doc_id) = 1)
         |SELECT d.source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(s.n_tokens - s.n_removed) AS BIGINT) AS kept_tokens,
         |  CAST(SUM(s.n_removed) AS BIGINT) AS removed_tokens,
         |  MD5(STRING_AGG(s.dg, '' ORDER BY s.doc_id)) AS digest_chain
         |FROM sur s JOIN documents d ON d.doc_id = s.doc_id
         |GROUP BY d.source ORDER BY d.source""".stripMargin),
    Q("boilerplate_ngrams", boilerplateNgrams _,
      """WITH toks AS (
        |  SELECT doc_id, lang,
        |    unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> len(x) > 0)) AS tok,
        |    unnest(range(1, len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> len(x) > 0)) + 1)) AS pos
        |  FROM documents),
        |ng AS (
        |  SELECT doc_id, lang, tok || ' ' || LEAD(tok, 1) OVER w AS ngram
        |  FROM toks WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
        |dg AS (SELECT DISTINCT lang, doc_id, ngram FROM ng WHERE ngram IS NOT NULL),
        |gs AS (SELECT lang, ngram, COUNT(*) AS n_docs FROM dg GROUP BY lang, ngram),
        |tot AS (SELECT lang, COUNT(DISTINCT doc_id) AS total FROM documents GROUP BY lang)
        |SELECT g.lang, g.ngram, g.n_docs
        |FROM gs g JOIN tot t USING (lang)
        |WHERE g.n_docs * 10 >= t.total AND g.n_docs >= 3
        |ORDER BY g.lang, g.ngram""".stripMargin),
    // the salted draw replayed: LCG slice assignment, per-(group, slice)
    // md5 rank, exact integer quota split across 8 slices
    Q("sample_source_cap_salted", sampleSourceCapSalted _,
      ("""WITH g AS (
        |  SELECT doc_id,
        |    CASE WHEN source IN ('src1','src2','src3','src4',
        |                         'src5','src6','src7','src8')
        |         THEN 'big' ELSE source END AS src_grp,
        |    (""" + graft.operators.Sampling.bucket1000Sql("doc_id") + """) % 8 AS sl
        |  FROM documents),
        |t AS (SELECT COUNT(*) AS total FROM g),
        |c AS (SELECT (t.total * 200) // 1000 AS cap FROM t),
        |r AS (SELECT src_grp, doc_id, sl,
        |        ROW_NUMBER() OVER (PARTITION BY src_grp, sl
        |          ORDER BY MD5('42#' || CAST(doc_id AS VARCHAR)), doc_id) AS rk
        |      FROM g)
        |SELECT r.src_grp, r.doc_id FROM r, c
        |WHERE r.rk <= c.cap // 8 + CASE WHEN r.sl < c.cap % 8 THEN 1 ELSE 0 END
        |ORDER BY r.src_grp, r.doc_id""").stripMargin),
    // v8: dominance cap -> deterministic interleave -> schedule-order
    // digest per source; the stage CTE families composed end to end
    Q("pipeline_corpus_v8", pipelineCorpusV8 _,
      """WITH g AS (
        |  SELECT doc_id, n_chars,
        |    CASE WHEN source IN ('src1','src2','src3','src4',
        |                         'src5','src6','src7','src8')
        |         THEN 'big' ELSE source END AS src_grp
        |  FROM documents),
        |t AS (SELECT COUNT(*) AS total FROM g),
        |r AS (SELECT src_grp, doc_id, n_chars,
        |        ROW_NUMBER() OVER (PARTITION BY src_grp
        |          ORDER BY MD5('42#' || CAST(doc_id AS VARCHAR)), doc_id) AS rk
        |      FROM g),
        |capped AS (SELECT src_grp, doc_id, n_chars FROM r, t
        |           WHERE r.rk <= (t.total * 200) // 1000),
        |sched AS (SELECT src_grp, doc_id,
        |            ROW_NUMBER() OVER (PARTITION BY src_grp ORDER BY doc_id) AS k,
        |            SUM(n_chars) OVER (PARTITION BY src_grp) AS sw
        |          FROM capped),
        |keyed AS (SELECT src_grp, doc_id,
        |            ((2 * k - 1) * 1000000000000) // sw AS skey
        |          FROM sched)
        |SELECT src_grp, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  MD5(STRING_AGG(CAST(doc_id AS VARCHAR), ',' ORDER BY skey, doc_id))
        |    AS sched_digest
        |FROM keyed GROUP BY src_grp ORDER BY src_grp""".stripMargin),
    // the round-15 recipe replayed end-to-end: multilingual column →
    // unicode token-sequence fingerprint dedup (min-id survivor) →
    // never-ingested corpus (takedown ids excluded at derivation — the
    // oracle's corpus never contained them) → unicode BM25 chain +
    // exact cosine ranks → integer RRF fusion; every fragment shared
    // with its proven owner (mixedSqlExpr/tokensUniSql from the unicode
    // rows, bm25ScoredCtes/rank CTEs/fuse tail from the retrieval
    // family) so no copy can drift
    Q("pipeline_corpus_v10", pipelineCorpusV10 _,
      s"""WITH mx AS (
         |  SELECT doc_id, ${ExtensionQueries.mixedSqlExpr(full = false)} AS mtext FROM documents),
         |fpt AS (SELECT doc_id,
         |    MD5(ARRAY_TO_STRING(${ExtensionQueries.tokensUniSql("mtext")}, ' ')) AS fp
         |  FROM mx),
         |surv AS (SELECT MIN(doc_id) AS doc_id FROM fpt GROUP BY fp),
         |corpus AS (SELECT mx.doc_id, mx.mtext AS text FROM mx
         |  JOIN surv USING (doc_id) WHERE mx.doc_id % 13 <> 0),
         |${inMargin(RetrievalQueries.bm25ScoredCtes("corpus",
              c => ExtensionQueries.tokensUniSql(c), v10WorkloadValues))},
         |${inMargin(RetrievalQueries.sparseRankCte())},
         |${inMargin(RetrievalQueries.denseRankCte(
              " AND ec.vec_id IN (SELECT doc_id FROM corpus)"))},
         |${inMargin(RetrievalQueries.hybridFuseTail(", TRUE AS forget_equal"))}""".stripMargin),
    // the full pretrain recipe replayed: cap → fingerprint screen (md5
    // identity stands in for the band-key collision — exact by
    // construction) → gopher gates → 3-gram decontamination → component
    // split → schedule keys → waterfall + schedule-order digests
    Q("pipeline_corpus_v9", pipelineCorpusV9 _,
      s"""WITH ${inMargin(toksCte)},
         |g AS (
         |  SELECT doc_id, n_chars, lang, source, text,
         |    CASE WHEN source IN ('src1','src2','src3','src4',
         |                         'src5','src6','src7','src8')
         |         THEN 'big' ELSE source END AS src_grp
         |  FROM documents),
         |t AS (SELECT COUNT(*) AS total FROM g),
         |r AS (SELECT src_grp, doc_id, lang, source, n_chars, text,
         |        ROW_NUMBER() OVER (PARTITION BY src_grp
         |          ORDER BY MD5('42#' || CAST(doc_id AS VARCHAR)), doc_id) AS rk
         |      FROM g),
         |capped AS (SELECT src_grp, doc_id, lang, source, n_chars, text
         |           FROM r, t WHERE r.rk <= (t.total * 200) // 1000),
         |scr AS (SELECT * FROM capped WHERE doc_id % 3 = 2
         |        AND MD5(text) NOT IN
         |          (SELECT MD5(text) FROM capped WHERE doc_id % 3 < 2)),
         |m AS (
         |  SELECT doc_id,
         |    CAST(LENGTH(text) AS BIGINT) AS nc,
         |    CAST(LEN($tokensSqlP) AS BIGINT) AS nt,
         |    CAST(COALESCE(LIST_SUM(LIST_TRANSFORM($tokensSqlP, x -> LEN(x))), 0) AS BIGINT) AS stl,
         |    CAST(LENGTH(REGEXP_REPLACE(text, '[a-zA-Z0-9\\s]', '', 'g')) AS BIGINT) AS pc,
         |    CAST(LEN(LIST_FILTER($tokensSqlP,
         |      x -> x IN ('the','a','an','and','or','of','to','in','is','it'))) AS BIGINT) AS sh
         |  FROM documents),
         |bg AS (SELECT doc_id, tok || ' ' || LEAD(tok, 1) OVER w AS ngram
         |       FROM toks WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
         |bgc AS (SELECT doc_id, ngram, COUNT(*) AS c
         |        FROM bg WHERE ngram IS NOT NULL GROUP BY doc_id, ngram),
         |rep AS (SELECT doc_id, MAX(c) AS top_cnt, CAST(SUM(c) AS BIGINT) AS n_bigrams
         |        FROM bgc GROUP BY doc_id),
         |gt AS (SELECT m.doc_id FROM m LEFT JOIN rep ON rep.doc_id = m.doc_id
         |       WHERE (nt >= 10 AND nt <= 100000)
         |         AND (3 * nt <= stl AND stl <= 10 * nt)
         |         AND (4 * pc <= nc) AND (sh >= 2)
         |         AND (COALESCE(n_bigrams, 0) = 0 OR 5 * top_cnt <= n_bigrams)),
         |gated AS (SELECT scr.* FROM scr JOIN gt ON gt.doc_id = scr.doc_id),
         |ng3 AS (SELECT doc_id,
         |          tok || ' ' || LEAD(tok, 1) OVER w || ' ' || LEAD(tok, 2) OVER w AS ngram
         |        FROM toks WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
         |bench AS (SELECT DISTINCT ngram FROM ng3
         |          WHERE doc_id % 97 = 0 AND ngram IS NOT NULL),
         |cont AS (SELECT DISTINCT c.doc_id FROM ng3 c
         |         JOIN bench b ON c.ngram = b.ngram WHERE c.doc_id % 97 <> 0),
         |clean AS (SELECT * FROM gated WHERE doc_id % 97 <> 0
         |          AND doc_id NOT IN (SELECT doc_id FROM cont)),
         |sp AS (SELECT *, MIN(doc_id) OVER (PARTITION BY lang, source) AS component
         |       FROM clean),
         |train AS (SELECT * FROM sp
         |          WHERE SUBSTR(MD5(CAST(component AS VARCHAR)), 1, 1) NOT IN ('0', '1')),
         |sch AS (SELECT src_grp, doc_id,
         |          ROW_NUMBER() OVER (PARTITION BY src_grp ORDER BY doc_id) AS k,
         |          SUM(n_chars) OVER (PARTITION BY src_grp) AS sw
         |        FROM train),
         |keyed AS (SELECT src_grp, doc_id,
         |            ((2 * k - 1) * 1000000000000) // sw AS skey
         |          FROM sch),
         |c1 AS (SELECT src_grp, CAST(COUNT(*) AS BIGINT) AS n_capped FROM capped GROUP BY 1),
         |c2 AS (SELECT src_grp, CAST(COUNT(*) AS BIGINT) AS n_screened FROM scr GROUP BY 1),
         |c3 AS (SELECT src_grp, CAST(COUNT(*) AS BIGINT) AS n_gated FROM gated GROUP BY 1),
         |c4 AS (SELECT src_grp, CAST(COUNT(*) AS BIGINT) AS n_clean FROM clean GROUP BY 1),
         |c5 AS (SELECT src_grp, CAST(COUNT(*) AS BIGINT) AS n_train FROM train GROUP BY 1),
         |dg AS (SELECT src_grp,
         |         MD5(STRING_AGG(CAST(doc_id AS VARCHAR), ',' ORDER BY skey, doc_id))
         |           AS sched_digest
         |       FROM keyed GROUP BY 1)
         |SELECT c1.src_grp, n_capped,
         |  CAST(COALESCE(n_screened, 0) AS BIGINT) AS n_screened,
         |  CAST(COALESCE(n_gated, 0) AS BIGINT) AS n_gated,
         |  CAST(COALESCE(n_clean, 0) AS BIGINT) AS n_clean,
         |  CAST(COALESCE(n_train, 0) AS BIGINT) AS n_train,
         |  COALESCE(sched_digest, '') AS sched_digest
         |FROM c1 LEFT JOIN c2 USING (src_grp) LEFT JOIN c3 USING (src_grp)
         |LEFT JOIN c4 USING (src_grp) LEFT JOIN c5 USING (src_grp)
         |LEFT JOIN dg USING (src_grp)
         |ORDER BY src_grp""".stripMargin),
    // the Bresenham interleave replayed: per-source rank × exact
    // integer slot-midpoint key, one global order
    Q("mix_schedule", mixSchedule _,
      """WITH r AS (
        |  SELECT source, doc_id,
        |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) AS k,
        |    SUM(n_chars) OVER (PARTITION BY source) AS sw
        |  FROM documents)
        |SELECT source, doc_id, CAST(k AS INTEGER) AS src_seq,
        |  CAST(((2 * k - 1) * 1000000000000) // sw AS BIGINT) AS sched_key
        |FROM r ORDER BY sched_key, source, doc_id""".stripMargin),
    // the cap draw replayed: skewed regrouping, per-group md5-ordered
    // rank, integer floor cap off the grand total
    Q("sample_source_cap", sampleSourceCap _,
      """WITH g AS (
        |  SELECT doc_id,
        |    CASE WHEN source IN ('src1','src2','src3','src4',
        |                         'src5','src6','src7','src8')
        |         THEN 'big' ELSE source END AS src_grp
        |  FROM documents),
        |t AS (SELECT COUNT(*) AS total FROM g),
        |r AS (SELECT src_grp, doc_id,
        |        ROW_NUMBER() OVER (PARTITION BY src_grp
        |          ORDER BY MD5('42#' || CAST(doc_id AS VARCHAR)), doc_id) AS rk
        |      FROM g)
        |SELECT r.src_grp, r.doc_id FROM r, t
        |WHERE r.rk <= (t.total * 200) // 1000
        |ORDER BY r.src_grp, r.doc_id""".stripMargin),
    // systematic PPS replayed: global cumsum in doc order, midpoint
    // selection points, per-doc pick multiplicity (2k = 200)
    Q("sample_systematic", sampleSystematic _,
      """WITH c AS (
        |  SELECT doc_id, CAST(n_chars AS BIGINT) AS w,
        |    SUM(n_chars) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum,
        |    SUM(n_chars) OVER () AS tw
        |  FROM documents),
        |p AS (SELECT doc_id, w,
        |        CAST(((200 * cum + tw - 1) // (2 * tw))
        |          - ((200 * (cum - w) + tw - 1) // (2 * tw)) AS BIGINT) AS n_picks
        |      FROM c)
        |SELECT doc_id, w AS weight, n_picks FROM p
        |WHERE n_picks >= 1 ORDER BY doc_id""".stripMargin),
    Q("sample_topk_quality", sampleTopkQuality _,
      """SELECT source, rnk, doc_id, n_chars FROM (
        |  SELECT source, doc_id, n_chars,
        |    ROW_NUMBER() OVER (PARTITION BY source
        |      ORDER BY n_chars DESC, doc_id ASC) AS rnk
        |  FROM documents)
        |WHERE rnk <= 5 ORDER BY source, rnk""".stripMargin),
    // closure of the chain edges = the (lang, source) group, so the
    // oracle states the POST-closure truth the iteration must reach
    Q("sample_group", sampleGroup _,
      """SELECT source, doc_id FROM (
        |  SELECT source, doc_id,
        |    ROW_NUMBER() OVER (PARTITION BY source
        |      ORDER BY MD5('42#' || CAST(doc_id AS VARCHAR)), doc_id) AS rn
        |  FROM documents)
        |WHERE rn <= 5 ORDER BY source, doc_id""".stripMargin),
    Q("mix_token_budget", mixTokenBudget _,
      """SELECT source, doc_id, n_chars, cum_cost FROM (
        |  SELECT source, doc_id, n_chars,
        |    CAST(SUM(n_chars) OVER (PARTITION BY source
        |      ORDER BY n_chars DESC, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_cost
        |  FROM documents)
        |WHERE cum_cost <= 2000 ORDER BY source, doc_id""".stripMargin),
    // replays Sampling.budgetEpochs' two floor-division rounds exactly;
    // weights (i+1 for src_i) and the 2× budget / 2-epoch cap mirror the
    // Spark wiring above
    Q("mix_budget_epochs", mixBudgetEpochs _, {
      val weightValues = (0 until 20)
        .map(i => s"('src$i', ${i + 1})").mkString(", ")
      s"""WITH lens AS (SELECT source,
         |    CAST(SUM(LEN(LIST_FILTER(STRING_SPLIT_REGEX(LOWER(text), '[^a-z0-9]+'), x -> LEN(x) > 0))) AS BIGINT) AS tokens
         |  FROM documents GROUP BY source),
         |b AS (SELECT CAST(2 * SUM(tokens) AS BIGINT) AS budget FROM lens),
         |w(source, weight) AS (VALUES $weightValues),
         |base AS (SELECT l.source, l.tokens, CAST(w.weight AS BIGINT) AS weight
         |         FROM lens l JOIN w ON w.source = l.source
         |         WHERE l.tokens > 0 AND w.weight > 0),
         |t AS (SELECT CAST(SUM(weight) AS BIGINT) AS tw FROM base),
         |r1 AS (SELECT base.source, base.tokens, base.weight,
         |    CAST(2 * base.tokens AS BIGINT) AS cap,
         |    CAST(LEAST((b.budget * base.weight) // t.tw, 2 * base.tokens) AS BIGINT) AS alloc1
         |  FROM base CROSS JOIN t CROSS JOIN b),
         |r2 AS (SELECT CAST(SUM(alloc1) AS BIGINT) AS a1,
         |    CAST(SUM(CASE WHEN alloc1 < cap THEN weight ELSE 0 END) AS BIGINT) AS w2
         |  FROM r1),
         |fin AS (SELECT r1.source, r1.tokens, r1.weight, r1.cap,
         |    CAST(CASE WHEN r1.alloc1 < r1.cap AND r2.w2 > 0
         |      THEN LEAST(r1.alloc1 + ((b.budget - r2.a1) * r1.weight) // r2.w2, r1.cap)
         |      ELSE r1.alloc1 END AS BIGINT) AS alloc_tokens
         |  FROM r1 CROSS JOIN r2 CROSS JOIN b)
         |SELECT source, tokens, weight, alloc_tokens,
         |  CAST((1000000 * alloc_tokens) // tokens AS BIGINT) AS epochs_ppm,
         |  alloc_tokens = cap AS capped
         |FROM fin ORDER BY source""".stripMargin
    }),
    Q("corpus_diff", corpusDiff _,
      """WITH v1 AS (SELECT doc_id, text FROM documents WHERE doc_id % 11 != 3),
        |v2 AS (SELECT doc_id,
        |         CASE WHEN doc_id % 13 = 0 THEN text || ' v2' ELSE text END AS text
        |       FROM documents WHERE doc_id % 17 != 5),
        |d AS (SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
        |        CASE WHEN o.doc_id IS NULL THEN 'added'
        |             WHEN n.doc_id IS NULL THEN 'removed'
        |             WHEN o.text IS DISTINCT FROM n.text THEN 'changed' END AS status
        |      FROM v1 o FULL OUTER JOIN v2 n ON o.doc_id = n.doc_id)
        |SELECT doc_id, status FROM d WHERE status IS NOT NULL ORDER BY doc_id""".stripMargin),
    Q("dedup_groups_cc", dedupGroupsCc _,
      """SELECT doc_id, MIN(doc_id) OVER (PARTITION BY lang, source) AS component
        |FROM documents ORDER BY doc_id""".stripMargin),
    Q("dedup_groups_cc_stars", dedupGroupsCcStars _,
      """SELECT doc_id, MIN(doc_id) OVER (PARTITION BY lang, source) AS component
        |FROM documents ORDER BY doc_id""".stripMargin),
    // chain fixture closure: a (lang, source) group of n docs has n-1
    // chain edges, so the stats reduce to group counts
    Q("dedup_cluster_stats", dedupClusterStats _,
      """WITH g AS (
        |  SELECT MIN(doc_id) AS component, COUNT(*) AS n_nodes
        |  FROM documents GROUP BY lang, source)
        |SELECT component, n_nodes,
        |  CAST(n_nodes - 1 AS BIGINT) AS n_edges,
        |  CASE WHEN n_nodes >= 2 THEN
        |    (2.0 * CAST(n_nodes - 1 AS DOUBLE)) /
        |    (CAST(n_nodes AS DOUBLE) * CAST(n_nodes - 1 AS DOUBLE))
        |  ELSE NULL END AS density
        |FROM g ORDER BY component""".stripMargin),
    // the operator's integer power iteration, unrolled round by round
    // (`//` = DuckDB floor division = Spark's DIV on positive longs)
    Q("dedup_pagerank", dedupPagerank _, {
      val base =
        """WITH chain AS (
          |  SELECT prev AS src, doc_id AS dst FROM (
          |    SELECT doc_id, LAG(doc_id) OVER (PARTITION BY lang, source ORDER BY doc_id) AS prev
          |    FROM documents) WHERE prev IS NOT NULL),
          |sym AS (SELECT src AS id, dst AS nbr FROM chain
          |        UNION ALL SELECT dst AS id, src AS nbr FROM chain),
          |deg AS (SELECT id, COUNT(*) AS deg FROM sym GROUP BY id),
          |n AS (SELECT COUNT(*) AS c FROM deg),
          |pr0 AS (SELECT id, 1000000000 // (SELECT c FROM n) AS pr FROM deg)""".stripMargin
      val rounds = (1 to 5).map { i =>
        s"""pr$i AS (SELECT s.id, 150000000 // (SELECT c FROM n) + (17 * SUM(p.pr // d.deg)) // 20 AS pr
           |  FROM sym s JOIN pr${i - 1} p ON p.id = s.nbr JOIN deg d ON d.id = s.nbr
           |  GROUP BY s.id)""".stripMargin
      }
      (base +: rounds).mkString(",\n") +
        "\nSELECT id AS doc_id, CAST(pr AS BIGINT) AS pr_ppb FROM pr5 ORDER BY doc_id"
    }),
    Q("dedup_cc_increment", dedupCcIncrement _,
      """SELECT doc_id, MIN(doc_id) OVER (PARTITION BY lang, source) AS component
        |FROM (SELECT doc_id, lang, source,
        |        COUNT(*) OVER (PARTITION BY lang, source) AS n
        |      FROM documents)
        |WHERE NOT (n = 1 AND doc_id % 2 = 1)
        |ORDER BY doc_id""".stripMargin),
    Q("split_leakage_safe", splitLeakageSafe _,
      """SELECT doc_id, component,
        |  CASE WHEN SUBSTR(MD5(CAST(component AS VARCHAR)), 1, 1) IN ('0', '1')
        |    THEN 'val' ELSE 'train' END AS split
        |FROM (SELECT doc_id, MIN(doc_id) OVER (PARTITION BY lang, source) AS component
        |      FROM documents)
        |ORDER BY doc_id""".stripMargin),
    // COALESCE(pred, FALSE) mirrors the operator's NULL-means-violation
    // rule (no NULLs in the fixture, but the SQL stays in lockstep)
    Q("quality_constraints", qualityConstraints _,
      """WITH a AS (SELECT COUNT(*) AS total,
        |  SUM(CASE WHEN NOT COALESCE(n_chars = LENGTH(text), FALSE) THEN 1 ELSE 0 END) AS v0,
        |  SUM(CASE WHEN NOT COALESCE(lang IN ('en','de','fr','es','zh'), FALSE) THEN 1 ELSE 0 END) AS v1,
        |  SUM(CASE WHEN NOT COALESCE(n_chars >= 100, FALSE) THEN 1 ELSE 0 END) AS v2,
        |  COUNT(DISTINCT doc_id) AS u0,
        |  COUNT(DISTINCT source) AS u1
        |  FROM documents)
        |SELECT constraint_name, CAST(n_violations AS BIGINT) AS n_violations,
        |  n_violations = 0 AS passed
        |FROM (
        |  SELECT 'chars_match_text' AS constraint_name, v0 AS n_violations FROM a
        |  UNION ALL SELECT 'lang_known', v1 FROM a
        |  UNION ALL SELECT 'min_chars_100', v2 FROM a
        |  UNION ALL SELECT 'unique:doc_id', total - u0 FROM a
        |  UNION ALL SELECT 'unique:source', total - u1 FROM a)
        |ORDER BY constraint_name""".stripMargin),
    Q("pipeline_attrition", pipelineAttrition _,
      s"""WITH t AS (SELECT n_chars,
         |    CAST(LEN($tokensSqlP) AS BIGINT) AS nw
         |  FROM documents),
         |f AS (SELECT CASE
         |    WHEN NOT (n_chars >= 100) THEN 0
         |    WHEN NOT (n_chars <= 450) THEN 1
         |    WHEN NOT (nw >= 30) THEN 2
         |    WHEN NOT (5 * nw <= n_chars) THEN 3 END AS ff FROM t),
         |c AS (SELECT ff, COUNT(*) AS rej FROM f GROUP BY ff),
         |tot AS (SELECT COUNT(*) AS total FROM f),
         |s(stage_no, stage) AS (VALUES (0, 'min_chars'), (1, 'max_chars'),
         |  (2, 'min_words'), (3, 'mean_word_len')),
         |j AS (SELECT s.stage_no, s.stage, COALESCE(c.rej, 0) AS n_rejected
         |  FROM s LEFT JOIN c ON c.ff = s.stage_no)
         |SELECT CAST(stage_no AS BIGINT) AS stage_no, stage,
         |  CAST((SELECT total FROM tot)
         |    - COALESCE(SUM(n_rejected) OVER (ORDER BY stage_no
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS n_in,
         |  CAST(n_rejected AS BIGINT) AS n_rejected,
         |  CAST((SELECT total FROM tot)
         |    - SUM(n_rejected) OVER (ORDER BY stage_no
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS n_out
         |FROM j ORDER BY stage_no""".stripMargin))
}
