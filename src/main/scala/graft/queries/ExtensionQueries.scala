package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Lm, Sampling, Scale, Sessionize, Similarity, TextAnalysis}
import graft.sources.Tables

/**
 * LLM-data-pipeline extension operators (SURVEY §2.3): dedup, similarity
 * search, text analysis, sessionization — registered over the
 * documents/embeddings/events fixtures.
 *
 * Oracle policy: SQL-expressible semantics get a DuckDB twin (exact dedup,
 * quality metrics, token frequency, language ID, sessionization, and
 * exact brute-force top-k restricted to integer outputs). Operators whose
 * core is a custom hash kernel (minhash/simhash/fingerprint/LSH) are
 * registered rows-only and verified by planted-duplicate ScalaTests
 * instead (SURVEY §7.4: gzip-style non-SQL-expressible ops).
 */
object ExtensionQueries extends QueryFamily {

  // --- dedup ---

  def dedupExact(spark: SparkSession, dir: String): DataFrame =
    Dedup.exactByKey(
      Tables.documents(spark, dir).select("doc_id", "lang", "source"),
      Seq("lang", "source"), "doc_id")
      .orderBy(col("doc_id"))

  def dedupFingerprint(spark: SparkSession, dir: String): DataFrame =
    Dedup.exactByFingerprint(Tables.documents(spark, dir), "text", "doc_id")
      .select(col("doc_id"))
      .orderBy(col("doc_id"))

  /** Bag-of-words duplicate groups ([[Dedup.bagFingerprint]]): docs
    * whose sorted token multisets collide — the permuted-order dup
    * class exact dedup misses. Planted twins: every 100th doc unioned
    * back id-shifted with its TOKEN ORDER REVERSED (zero shared prefix
    * with the original, byte-wise a different document; both engines
    * rebuild the same reversal). Output: every member of each colliding
    * group with its min-id representative — a value oracle; the planted
    * reversals MUST group with their originals, and nothing else
    * collides unless the data genuinely says so. */
  def dedupBagGroups(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    val planted = docs.filter(col("doc_id") % 100 === 0)
      .select((col("doc_id") + 40000000L).as("doc_id"),
        array_join(reverse(split(col("text"), " ")), " ").as("text"))
    // window, not groupBy+self-join: ONE digest-keyed exchange and ONE
    // pass over the fingerprint chain (the join shape re-tokenizes and
    // re-sorts every document's text a second time on the probe side)
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("bag_fp"))
    docs.unionByName(planted)
      .withColumn("bag_fp", Dedup.bagFingerprint(col("text")))
      .withColumn("group_rep", min(col("doc_id")).over(w))
      .withColumn("group_size", count(lit(1)).over(w))
      .filter(col("group_size") >= 2)
      .select(col("group_rep"), col("doc_id"), col("group_size"))
      .orderBy(col("group_rep"), col("doc_id"))
  }

  /** Quality-aware survivor per fingerprint group — "keep the LONGEST
    * copy" (the least-truncated variant) instead of the arbitrary
    * min-id; fingerprint equality ⟺ normalized-text equality is the
    * same oracle bridge `dedup_fingerprint` rests on, with the window
    * ordered by raw length desc. */
  def dedupKeepBest(spark: SparkSession, dir: String): DataFrame =
    Dedup.keepBestByKey(
      TextAnalysis.fingerprint(Tables.documents(spark, dir), "text"),
      Seq("fp"), "doc_id", better = length(col("text")))
      .select(col("doc_id"))
      .orderBy(col("doc_id"))

  /**
   * Driver-checkable minhash RECALL verdict — the bounded-check oracle
   * for the LSH machinery DuckDB cannot replay directly. Claim: every
   * pair whose EXACT w=3 shingle-set Jaccard is ≥ 0.85 is found by
   * `minhashPairs(64 hashes, 16 bands, est ≥ 0.5)`. The exact side is
   * computed independently by BOTH engines (Spark: distinct shingle-hash
   * gram join; DuckDB: the string-gram CTE), so the rows — pair ids +
   * the bit-identical one-division Jaccard — hash-compare, and the
   * `lsh_found` column forces the LSH result through the gate (oracle
   * emits constant TRUE; one missed pair flips the hash).
   *
   * Soundness of the bound (why the verdict is deterministic TRUE, not
   * flaky): at J = 0.85 a 4-lane band matches with p = J⁴ ≈ 0.522, so
   * the probability all 16 bands miss is (1−p)¹⁶ ≈ 7·10⁻⁶ — and the
   * minhash seed is FIXED, so for a given fixture the verdict is a
   * constant, verified green at all three SFs before registration.
   */
  def dedupMinhashRecall(spark: SparkSession, dir: String): DataFrame = {
    // Exact side rides the generalized prefix-filtered jaccardJoin —
    // the same swap the unicode twin made in r16: the prior gram-keyed
    // self-join aggregated EVERY shared gram of EVERY pair (Θ(Σ shared
    // grams) hash-agg rows — the profiled top CPU shape of the family),
    // where the PPJoin form prunes to near the qualifying set before
    // any aggregation. Same pair set, same one-division jaccard double
    // (sorted_intersect_ge returns the exact |A∩B| for survivors), same
    // order — oracle-identical at all three SFs.
    val docs = Tables.documents(spark, dir)
    val exact = Dedup.jaccardJoin(docs, "text", "doc_id",
      threshold = 0.85, w = 3)
      .withColumnRenamed("jaccard", "jaccard_w3")
    val lsh = Dedup.minhashPairs(docs, "text", "doc_id",
      numHashes = 64, bands = 16, threshold = 0.5)
      .select(col("id_a"), col("id_b")).withColumn("__f", lit(true))
    exact.join(lsh, Seq("id_a", "id_b"), "left")
      .select(col("id_a"), col("id_b"), col("jaccard_w3"),
        coalesce(col("__f"), lit(false)).as("lsh_found"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /**
   * Driver-checkable simhash PLANTED-TWIN verdict: for every 100th doc,
   * three tokenizer-invariant twins are planted (verbatim copy,
   * upper-cased copy, punctuation-appended copy — all three tokenize to
   * the IDENTICAL token stream, so their simhash is bit-equal and the
   * pigeonhole banding MUST emit the pair at any radius). The planted
   * pair list is pure SQL (DuckDB replays it exactly); `twin_found`
   * routes the full simhash pipeline — normalize, hash, band, pair,
   * verify — through the oracle gate.
   */
  def dedupSimhashPlanted(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    val base = docs.filter(col("doc_id") % 100 === 0)
    val offsets = Seq(10000000L, 20000000L, 30000000L)
    val twins = base.select((col("doc_id") + offsets(0)).as("doc_id"), col("text"))
      .unionAll(base.select((col("doc_id") + offsets(1)).as("doc_id"),
        upper(col("text")).as("text")))
      .unionAll(base.select((col("doc_id") + offsets(2)).as("doc_id"),
        concat(col("text"), lit(" !!!")).as("text")))
    val found = Dedup.simhashPairs(docs.unionAll(twins), "text", "doc_id", maxHamming = 8)
      .select(col("id_a"), col("id_b")).withColumn("__f", lit(true))
    val expected = base.select(col("doc_id").as("id_a"),
        explode(array(offsets.map(lit): _*)).as("__off"))
      .select(col("id_a"), (col("id_a") + col("__off")).as("id_b"))
    expected.join(found, Seq("id_a", "id_b"), "left")
      .select(col("id_a"), col("id_b"), coalesce(col("__f"), lit(false)).as("twin_found"))
      .orderBy(col("id_a"), col("id_b"))
  }

  def dedupMinhashPairs(spark: SparkSession, dir: String): DataFrame =
    Dedup.minhashPairs(Tables.documents(spark, dir), "text", "doc_id",
      numHashes = 64, bands = 16, threshold = 0.5)

  def dedupSimhashPairs(spark: SparkSession, dir: String): DataFrame =
    Dedup.simhashPairs(Tables.documents(spark, dir), "text", "doc_id",
      maxHamming = 8)

  /** End-to-end near-dup removal: min-id representative per duplicate set
    * survives (the full dedup operator, not just candidate pairs). */
  def dedupMinhashKeep(spark: SparkSession, dir: String): DataFrame =
    Dedup.minhashDedup(Tables.documents(spark, dir), "text", "doc_id",
      numHashes = 64, bands = 16, threshold = 0.5)
      .select(col("doc_id"))
      .orderBy(col("doc_id"))

  /** Incremental ingest: even doc_ids play the existing corpus, odd ones
    * the incoming batch; admission is the digest anti-join. */
  def corpusIncrement(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val existing = docs.filter(col("doc_id") % 2 === 0)
      .select(md5(col("text")).as("digest"))
    Dedup.admitNew(docs.filter(col("doc_id") % 2 === 1), "text", existing)
      .select(col("doc_id"))
      .orderBy(col("doc_id"))
  }

  /** Incremental NEAR-dup ingest: the even-id corpus publishes its LSH
    * band index; odd-id incoming docs are admitted only if none of
    * their band buckets collide with it. Rows-only (LSH collision sets
    * aren't SQL-expressible) + DedupSpec planted-near-dup coverage. */
  def corpusIncrementNearDup(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val index = Dedup.buildBandIndex(docs.filter(col("doc_id") % 2 === 0), "text")
    Dedup.admitNewNearDup(
      docs.filter(col("doc_id") % 2 === 1), "text", "doc_id", index)
      .select(col("doc_id"))
      .orderBy(col("doc_id"))
  }

  /**
   * The DURABLE near-dup band index as a driver row — build on the
   * even-id corpus, APPEND the odd-id half as a second committed
   * segment, then screen a probe batch against the on-disk index
   * ([[graft.operators.NearDupIndex]]): verbatim copies of every 100th
   * even doc (prove the BUILD segment serves) and every (100k+1)-th odd
   * doc (prove the APPENDED segment serves) must be rejected — identical
   * text ⇒ identical band keys, all present in the index — while 20
   * synthetic docs of unique md5-hex tokens (sharing no shingle with any
   * natural text) must be admitted. The index is COMPACTED between
   * append and screen (two segments distinct-merged into one), so the
   * row covers the full lifecycle: build → append → compact → serve.
   * Every probe verdict is exactly derivable, so the row is
   * value-oracled despite LSH itself not being SQL-expressible.
   */
  def dedupIndexAdmit(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.NearDupIndex
    val idx = graft.TmpCleanup.perProcessDir("graft-neardup-idx", dir)
    graft.TmpCleanup.register(idx)
    val docs = Tables.documents(spark, dir)
    NearDupIndex.writeIndex(docs.filter(col("doc_id") % 2 === 0), "text", idx)
    NearDupIndex.appendSegment(
      docs.filter(col("doc_id") % 2 === 1), "text", idx, "batch=1")
    require(NearDupIndex.compactSegments(spark, idx) == 1,
      "near-dup index compaction did not converge to one segment")
    val copies = docs
      .filter(col("doc_id") % 100 === 0 || col("doc_id") % 100 === 1)
      .select((col("doc_id") + lit(10000000L)).as("doc_id"), col("text"))
    val synth = spark.range(1, 21)
      .select((col("id") + lit(20000000L)).as("doc_id"),
        expr("array_join(transform(sequence(1, 40), " +
          "k -> md5(concat(cast(id as string), ':', cast(k as string)))), ' ')")
          .as("text"))
    val probe = copies.unionByName(synth)
    val admitted = NearDupIndex.admitNewIndexed(probe, "text", "doc_id", idx)
      .select(col("doc_id")).withColumn("__a", lit(true))
    probe.select(col("doc_id"))
      .join(admitted, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("__a"), lit(false)).as("admitted"))
      .orderBy(col("doc_id"))
  }

  /**
   * Continuous screen-and-grow near-dup ingest as a driver row — the
   * [[graft.operators.NearDupIndex.admitDocsStream]] lifecycle actually
   * RUNS: build the index on even docs, STREAM the odd half through it
   * (each batch screened, admitted rows' keys appended as a new
   * segment), then screen a derivable probe set against the grown
   * index. Every probe verdict is exact: copies of every 100th even doc
   * reject via the BUILD segment; copies of every (100k+1)-th odd doc
   * reject REGARDLESS of the odd's own streaming outcome (an admitted
   * odd contributed its identical keys; a rejected odd collided with
   * build keys its copy shares) — but ONLY if the stream-appended
   * segments serve, so a broken append hash-fails here; synthetic
   * md5-hex docs admit. The stream's own admitted set is deliberately
   * NOT part of the surface (natural odd-vs-even collisions make it
   * non-SQL-derivable — the corpus_increment_neardup precedent).
   */
  def streamNeardupAdmit(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.NearDupIndex
    val base = graft.TmpCleanup.perProcessDir("graft-neardup-stream", dir)
    graft.TmpCleanup.register(base)
    // re-entries (bench passes) must re-stream, not no-op on the
    // checkpoint — the shardSinkRoundtrip discipline
    graft.TmpCleanup.wipe(base)
    val in = s"$base/in"; val idx = s"$base/idx"
    val out = s"$base/out"; val ckpt = s"$base/ckpt"
    val docs = Tables.documents(spark, dir)
    NearDupIndex.writeIndex(docs.filter(col("doc_id") % 2 === 0), "text", idx)
    docs.filter(col("doc_id") % 2 === 1).select(col("doc_id"), col("text"))
      .write.parquet(in)
    val q = NearDupIndex.admitDocsStream(
      spark.readStream.schema(
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("doc_id",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("text",
            org.apache.spark.sql.types.StringType))))
        .parquet(in),
      "text", "doc_id", idx, out, ckpt)
    try q.processAllAvailable() finally q.stop()
    val copies = docs
      .filter(col("doc_id") % 100 === 0 || col("doc_id") % 100 === 1)
      .select((col("doc_id") + lit(10000000L)).as("doc_id"), col("text"))
    val synth = spark.range(1, 21)
      .select((col("id") + lit(30000000L)).as("doc_id"),
        expr("array_join(transform(sequence(1, 40), " +
          "k -> md5(concat('s', cast(id as string), ':', cast(k as string)))), ' ')")
          .as("text"))
    val probe = copies.unionByName(synth)
    val admitted = NearDupIndex.admitNewIndexed(probe, "text", "doc_id", idx)
      .select(col("doc_id")).withColumn("__a", lit(true))
    probe.select(col("doc_id"))
      .join(admitted, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("__a"), lit(false)).as("admitted"))
      .orderBy(col("doc_id"))
  }

  /** Cluster-level near-dup removal (CC over the candidate-pair graph —
    * transitive chains collapse to one survivor). Rows-only + spec, like
    * the rest of the minhash family. */
  def dedupMinhashCc(spark: SparkSession, dir: String): DataFrame =
    Dedup.minhashDedupCc(Tables.documents(spark, dir), "text", "doc_id",
      numHashes = 64, bands = 16, threshold = 0.5)
      .select(col("doc_id"))
      .orderBy(col("doc_id"))

  /**
   * Planted-twin survivor verdict for minhash dedup (the fixture holds
   * NO exact duplicate texts, so the twins are planted — the
   * [[dedupSimhashPlanted]] pattern): a verbatim copy of every 100th
   * doc is appended at `doc_id + 10⁷`. Identical text → identical
   * shingle set → identical minhash signature → the pair shares every
   * band bucket at estimated J = 1, and the twin is the HIGHER id, so
   * pairwise loser-dropping ([[Dedup.minhashDedup]]: twin is `id_b` of
   * its pair) and CC contraction ([[Dedup.minhashDedupCc]]: component
   * min is ≤ the original) must BOTH remove it — `twin_removed` is
   * constant TRUE over a pure-SQL planted list.
   */
  private def plantedTwinRemovedVerdict(
      docs: DataFrame, dedup: DataFrame => DataFrame): DataFrame = {
    val twins = docs.filter(col("doc_id") % 100 === 0)
      .withColumn("doc_id", col("doc_id") + lit(10000000L))
    val kept = dedup(docs.unionByName(twins))
      .select(col("doc_id")).withColumn("__k", lit(true))
    twins.select(col("doc_id"))
      .join(kept, Seq("doc_id"), "left")
      .select((col("doc_id") - 10000000L).as("id_a"), col("doc_id").as("id_b"),
        coalesce(col("__k"), lit(false)).as("twin_kept"))
      .select(col("id_a"), col("id_b"), (!col("twin_kept")).as("twin_removed"))
      .orderBy(col("id_a"))
  }

  /** [[plantedTwinRemovedVerdict]] over [[Dedup.minhashDedup]]. */
  def dedupMinhashKeepVerdict(spark: SparkSession, dir: String): DataFrame =
    plantedTwinRemovedVerdict(
      Tables.documents(spark, dir).select(col("doc_id"), col("text")),
      Dedup.minhashDedup(_, "text", "doc_id",
        numHashes = 64, bands = 16, threshold = 0.5))

  /** [[plantedTwinRemovedVerdict]] over [[Dedup.minhashDedupCc]] —
    * routes the candidate graph AND the connected-components
    * contraction through a driver-checked gate. */
  def dedupMinhashCcVerdict(spark: SparkSession, dir: String): DataFrame =
    plantedTwinRemovedVerdict(
      Tables.documents(spark, dir).select(col("doc_id"), col("text")),
      Dedup.minhashDedupCc(_, "text", "doc_id",
        numHashes = 64, bands = 16, threshold = 0.5))

  /**
   * Planted-dup rejection verdict for incremental near-dup admission:
   * verbatim copies of every 100th standing-corpus doc are planted into
   * the incoming batch at `doc_id + 10⁷`. Identical text produces
   * identical band keys, so every one of the copy's buckets collides
   * with the published index and [[Dedup.admitNewNearDup]] MUST reject
   * it — `admitted` is constant FALSE over the pure-SQL planted list.
   */
  def corpusIncrementNearDupVerdict(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val base = docs.filter(col("doc_id") % 2 === 0)
    val planted = base.filter(col("doc_id") % 100 === 0)
      .withColumn("doc_id", col("doc_id") + lit(10000000L))
    val incoming = docs.filter(col("doc_id") % 2 === 1).unionByName(planted)
    val admitted = Dedup.admitNewNearDup(
      incoming, "text", "doc_id", Dedup.buildBandIndex(base, "text"))
      .select(col("doc_id")).withColumn("__a", lit(true))
    planted.select(col("doc_id"))
      .join(admitted, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("__a"), lit(false)).as("admitted"))
      .orderBy(col("doc_id"))
  }

  def dedupNgramJaccard(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val candidates = Dedup.minhashPairs(docs, "text", "doc_id",
      numHashes = 64, bands = 16, threshold = 0.3)
      .select("id_a", "id_b")
    Dedup.ngramJaccard(docs, "text", "doc_id", candidates)
  }

  /**
   * Direct oracle for the n-gram Jaccard verify kernel: the SAME
   * [[Dedup.ngramJaccard]] the LSH pipeline calls, fed a
   * SQL-expressible candidate set (consecutive-id pairs at every 20th
   * doc, both sides long enough to shingle) so DuckDB can recompute
   * each pair's EXACT w=3 Jaccard from the sanctioned shingle SQL — the
   * `dedup_minhash_recall` pattern, pointed at the verify kernel
   * itself. Hashed-shingle Jaccard ≡ string-shingle Jaccard absent
   * 64-bit collisions (the same equivalence the recall oracle rests
   * on). Zero-overlap pairs stay in the output at jaccard 0, so a
   * kernel that silently dropped non-intersecting pairs also fails.
   */
  def dedupNgramJaccardVerdict(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    // ≥ 3 tokens ⇔ non-empty w=3 shingle set ⇔ divisor > 0
    val elig = docs.filter(size(Dedup.tokens(col("text"))) >= 3)
      .select(col("doc_id"))
    val pairs = elig.filter(col("doc_id") % 20 === 0)
      .select(col("doc_id").as("id_a"))
      .join(elig.select((col("doc_id") - 1).as("id_a")), Seq("id_a"))
      .select(col("id_a"), (col("id_a") + 1).as("id_b"))
    Dedup.ngramJaccard(docs, "text", "doc_id", pairs)
  }

  /** EXACT Jaccard similarity self-join (prefix filtering) — unlike the
    * minhash family, this is brute-force-equivalent, so it oracles
    * against DuckDB's all-pairs join at test SF. */
  def dedupJaccardJoin(spark: SparkSession, dir: String): DataFrame =
    Dedup.jaccardJoin(Tables.documents(spark, dir), "text", "doc_id",
      threshold = 0.9)

  /** Z-order layout key over (user bucket, day-hour bucket) — the write
    * layout that lets parquet min/max stats prune BOTH dimensions of a
    * (user, time) box at 100 TB. The key arithmetic is oracled here
    * (generated from the same mask cascade); the file-pruning win itself
    * is measured in ScaleSpec. */
  def layoutZorder(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("event_id"),
        col("user_id").bitwiseAND(lit(4095L)).as("zx"),
        (dayofmonth(col("ts")) * 24 + hour(col("ts"))).cast("long")
          .bitwiseAND(lit(4095L)).as("zy"))
      .select(col("event_id"), Scale.zorderKey(col("zx"), col("zy")).as("zkey"))
      .orderBy(col("zkey"), col("event_id"))

  /**
   * The partitioned layout writer as a driver row — documents written
   * hive-partitioned by `lang` ([[Scale.writePartitioned]]), then read
   * back through a partition-column predicate. The gate column proves
   * LIST-level pruning actually happened (the pruned scan's
   * `selectedPartitions` touched exactly ONE directory — checked on the
   * physical plan, AQE off for a stable scan node); the data columns
   * prove the round trip is lossless (id-ordered digest chain DuckDB
   * recomputes from `documents` under the same predicate). A layout
   * that silently stopped pruning, dropped rows, or reordered text
   * fails the hash.
   */
  def layoutPartitioned(spark: SparkSession, dir: String): DataFrame = {
    val out = graft.TmpCleanup.perProcessDir("graft-layout-part", dir)
    graft.TmpCleanup.register(out)
    Scale.writePartitioned(
      Tables.documents(spark, dir).select(
        col("doc_id"), md5(col("text")).as("dg"), col("lang")),
      "lang", out)
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val back = spark.read.parquet(out).filter(col("lang") === "de")
      val scan = back.queryExecution.executedPlan.collectFirst {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s
      }
      val pruned = scan.exists(_.selectedPartitions.partitionCount == 1)
      back.groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          md5(concat_ws("",
            transform(array_sort(collect_list(struct(col("doc_id"), col("dg")))),
              x => x.getField("dg")))).as("digest_chain"))
        .withColumn("pruned_to_one_dir", lit(pruned))
        .orderBy(col("lang"))
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  /**
   * In-plan ingest accounting as a driver row — [[Corpus.gatedIngest]]'s
   * `Dataset.observe` metrics (rows/chars seen, rows admitted) read off
   * the SAME executed pass that filters: one scan, executed driver-less
   * (rows drained on the executors, nothing data-sized ever collected).
   * The oracle recounts all four numbers relationally in DuckDB, so
   * metrics that drift from the data plane (the exact failure observe()
   * exists to prevent: dashboards lying about what the gate admitted)
   * hash-fail.
   */
  def corpusGateMetrics(spark: SparkSession, dir: String): DataFrame = {
    val gated = graft.operators.Corpus.gatedIngest(
      Tables.documents(spark, dir), "text", minChars = 200)
    // ONE driver-less execution of the observed plan: metrics surface on
    // the acted-upon queryExecution, so run THAT queryExecution's own RDD
    // and drain it on the EXECUTORS (Dataset.foreachPartition would run a
    // separate rddQueryExecution and leave these accumulators empty) — at
    // 100 TB the admitted corpus must never land in driver heap (the
    // reference's collectList() flaw), and a separate count() would be a
    // second full scan for a number observe() already carries
    gated.queryExecution.toRdd.foreach(_ => ())
    val m = gated.queryExecution.observedMetrics
    val in = m("corpus_gate_in"); val out = m("corpus_gate_out")
    import spark.implicits._
    Seq((in.getAs[Long]("rows_in"), in.getAs[Long]("chars_in"),
      out.getAs[Long]("rows_out"), out.getAs[Long]("rows_out")))
      .toDF("rows_in", "chars_in", "rows_out", "admitted_count")
  }

  /**
   * Live-JDBC parity as a driver row — the reference's production scan
   * (Oracle `TD_FD_TRACE_PARAM` via hand-written SQL,
   * repository/ParameterDataRepository.java:58-78) executed against a
   * REAL embedded Derby database inside the registered query, on BOTH
   * [[graft.sources.JdbcTraceSource]] read paths, and value-oracled by
   * DuckDB replaying the same semantics from the parquet fixture twin.
   *
   * Seed: the first 200 `events` rows by event_id (a BOUNDED, SF-stable
   * prefix — the Derby inserts are driver-side JDBC by nature, so the
   * seed must be parameter-sized, never data-sized) land as
   * (PARAM_INDEX, START_TIME, END_TIME, TRACE_DATA) = (user_id, ts,
   * ts+60s, props). Path A runs the reference query text with DB-side
   * IN-list + closed time range + two-key sort
   * ([[graft.sources.JdbcTraceSource.read]]); path B is the parallel
   * striped scan ([[graft.sources.JdbcTraceSource.readPartitioned]])
   * with the same predicates applied by Catalyst (pushed through the
   * JDBC dialect). Both paths reduce to per-param digest chains over
   * (ts, props)-sorted payloads, so a dropped stripe, a filter that
   * drifted from the reference SQL, or a timestamp mangled in the
   * JDBC round-trip (µs survive Derby's TIMESTAMP) hash-fails against
   * the DuckDB recomputation.
   */
  def jdbcTraceParity(spark: SparkSession, dir: String): DataFrame = {
    import java.sql.Timestamp
    import graft.sources.JdbcTraceSource
    val t0 = Timestamp.valueOf("2024-01-01 00:00:00")
    val t1 = Timestamp.valueOf("2024-01-01 06:00:00")
    val ids = (1L to 40L).toSeq
    // one in-memory DB per (process, fixture dir); re-seeding is
    // idempotent (drop + recreate) so bench warm-up re-runs converge
    val url = s"jdbc:derby:memory:graftparity${dir.hashCode.abs};create=true"
    val seed = Tables.events(spark, dir)
      .orderBy(col("event_id")).limit(200)
      .select(col("user_id"), col("ts"), col("props"))
      .collect()
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      try st.executeUpdate("DROP TABLE TD_FD_TRACE_PARAM")
      catch { case _: java.sql.SQLException => () }
      st.executeUpdate(
        """CREATE TABLE TD_FD_TRACE_PARAM (
          |  PARAM_INDEX BIGINT NOT NULL,
          |  START_TIME TIMESTAMP NOT NULL,
          |  END_TIME TIMESTAMP NOT NULL,
          |  TRACE_DATA VARCHAR(512) NOT NULL)""".stripMargin)
      val ins = conn.prepareStatement(
        "INSERT INTO TD_FD_TRACE_PARAM VALUES (?, ?, ?, ?)")
      seed.foreach { r =>
        val ts = Timestamp.valueOf(r.getAs[java.time.LocalDateTime]("ts"))
        ins.setLong(1, r.getAs[Long]("user_id"))
        ins.setTimestamp(2, ts)
        ins.setTimestamp(3, Timestamp.from(ts.toInstant.plusSeconds(60)))
        ins.setString(4, r.getAs[String]("props"))
        ins.executeUpdate()
      }
      ins.close(); st.close()
    } finally conn.close()
    val props = new java.util.Properties()
    props.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
    def digestAgg(df: DataFrame, digestName: String): DataFrame =
      df.groupBy(col("param_index"))
        .agg(
          count(lit(1)).as("n_rows"),
          min(col("start_time")).as("first_ts"),
          max(col("start_time")).as("last_ts"),
          md5(concat_ws("",
            transform(
              array_sort(collect_list(struct(col("start_time"), col("trace_data")))),
              x => x.getField("trace_data")))).as(digestName))
    // path A: the reference query text, filter + sort executed BY the DB
    val single = JdbcTraceSource.read(spark, url, ids, t0, t1, props,
      JdbcTraceSource.derbyTsLiteral)
      .select(col("paramIndex").as("param_index"),
        col("startTime").cast("timestamp_ntz").as("start_time"),
        col("traceData").as("trace_data"))
    // path B: 3 parallel PARAM_INDEX stripes; predicates applied by
    // Catalyst and pushed through the JDBC dialect
    val parted = JdbcTraceSource.readPartitioned(spark, url,
      numPartitions = 3, lowerParamIndex = 1L, upperParamIndex = 41L,
      props = props)
      .filter(col("PARAM_INDEX").isin(ids: _*)
        && col("START_TIME") >= lit(t0) && col("START_TIME") <= lit(t1))
      .select(col("PARAM_INDEX").as("param_index"),
        col("START_TIME").cast("timestamp_ntz").as("start_time"),
        col("TRACE_DATA").as("trace_data"))
    digestAgg(single, "digest_single")
      .join(digestAgg(parted, "digest_partitioned")
          .select(col("param_index"), col("digest_partitioned")),
        Seq("param_index"))
      .orderBy(col("param_index"))
  }

  /**
   * Schema-drift ingestion as a driver row — the long-running-ingest
   * constant: even-id documents land as an OLD-schema drop (no `lang`
   * column), odd-id documents as the evolved drop, and one
   * `mergeSchema` read takes both without a rewrite — old rows
   * null-fill the new column, evolved rows keep theirs. The emitted
   * per-lang rollup (NULL group = the old drop) with id-ordered digest
   * chains replays exactly from `documents` by parity, so a reader that
   * misfiled a row across schema generations, dropped the null-fill, or
   * lost a column hash-fails.
   */
  def corpusSchemaDrift(spark: SparkSession, dir: String): DataFrame = {
    val out = graft.TmpCleanup.perProcessDir("graft-schema-drift", dir)
    graft.TmpCleanup.register(out)
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), md5(col("text")).as("dg"), col("lang"))
    docs.filter(col("doc_id") % 2 === 0).drop("lang")
      .write.mode("overwrite").parquet(s"$out/drop=1")
    docs.filter(col("doc_id") % 2 === 1)
      .write.mode("overwrite").parquet(s"$out/drop=2")
    spark.read.option("mergeSchema", "true").parquet(s"$out/drop=1", s"$out/drop=2")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        md5(concat_ws("",
          transform(array_sort(collect_list(struct(col("doc_id"), col("dg")))),
            x => x.getField("dg")))).as("digest_chain"))
      .orderBy(col("lang"))
  }

  /**
   * The range-shard writer as a driver row — [[graft.operators.Corpus
   * .writeShards]] lays the corpus into `nShards` files range-partitioned
   * on the recomputable `md5(seed#id)` key. Shard MEMBERSHIP depends on
   * range-sampling and is deliberately not oracled; what IS exactly
   * checkable: every id comes back exactly once (per-id-bucket digest
   * chains DuckDB recomputes from `documents`), and the shards' key
   * ranges are DISJOINT (recompute the key on read-back, collect ≤
   * nShards (file, min, max) rows, check pairwise) — the property that
   * makes a shard set mergeable-by-concatenation. A writer that
   * duplicated, dropped, or interleaved rows across range boundaries
   * fails.
   */
  def shardPrepareRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val out = graft.TmpCleanup.perProcessDir("graft-shards-prep", dir)
    graft.TmpCleanup.register(out)
    graft.operators.Corpus.writeShards(
      Tables.documents(spark, dir).select(col("doc_id")), "doc_id", 8, out)
    val back = spark.read.parquet(out)
      .withColumn("__file", input_file_name())
      .withColumn("__sk",
        md5(concat_ws("#", lit("42"), col("doc_id").cast("string"))))
    // ≤ nShards rows — bounded model state, not a data-path collect
    val ranges = back.groupBy(col("__file"))
      .agg(min(col("__sk")).as("lo"), max(col("__sk")).as("hi"))
      .select(col("lo"), col("hi"))
      .collect().map(r => (r.getString(0), r.getString(1))).sortBy(_._1)
    val disjoint = ranges.sliding(2).forall {
      case Array(a, b) => a._2 < b._1
      case _ => true
    }
    back.groupBy((col("doc_id") % 8).as("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        md5(concat_ws(",",
          transform(array_sort(collect_list(col("doc_id"))),
            x => x.cast("string")))).as("id_digest"))
      .withColumn("ranges_disjoint", lit(disjoint))
      .orderBy(col("bucket"))
  }

  /**
   * The salt-the-skew join as a driver row — [[Scale.saltedJoin]]
   * (large side salted by a row expression, small side exploded across
   * the salt domain) must be SEMANTICALLY identical to the plain
   * equi-join it replaces; the oracle replays the plain join in SQL, so
   * a salting bug that drops rows (the classic NULL-salt fumble),
   * double-joins, or mismatches keys hash-fails. Large = events, small
   * = the per-user event count (a genuinely bounded dim), salt = the
   * event id, rolled into per-type digests of the joined rows.
   */
  def joinSalted(spark: SparkSession, dir: String): DataFrame = {
    val events = Tables.events(spark, dir)
    val userDim = events.groupBy(col("user_id"))
      .agg(count(lit(1)).as("user_events"))
    Scale.saltedJoin(
      events.select(col("event_id"), col("event_type"), col("user_id")),
      userDim, "user_id", saltFactor = 8, saltExpr = col("event_id"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("user_events")).as("sum_user_events"),
        md5(concat_ws("",
          transform(
            array_sort(collect_list(struct(col("event_id"), col("user_events")))),
            x => concat(x.getField("event_id").cast("string"), lit(":"),
              x.getField("user_events").cast("string"))))).as("digest_chain"))
      .orderBy(col("event_type"))
  }

  // --- similarity search ---

  def simTopkBrute(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val queries = emb.filter(col("vec_id") < 5)
    Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", k = 10)
      .select(col("query_id"), col("rank"), col("neighbor_id"))
  }

  def simTopkLsh(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val queries = emb.filter(col("vec_id") < 5)
    Similarity.lshTopK(emb, queries, "vec_id", "embedding", k = 10, nBits = 4)
      .select(col("query_id"), col("rank"), col("neighbor_id"))
  }

  def simTopkIvf(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val queries = emb.filter(col("vec_id") < 5)
    Similarity.ivfTopK(emb, queries, "vec_id", "embedding", k = 10, nCells = 16, nProbe = 4)
      .select(col("query_id"), col("rank"), col("neighbor_id"))
  }

  /** IVF-PQ: coarse cells + residual PQ codes — cell probing prunes the
    * compressed scan itself. Rows-only + recall spec. */
  def simTopkIvfPq(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val queries = emb.filter(col("vec_id") < 5)
    Similarity.ivfPqTopK(emb, queries, "vec_id", "embedding",
      k = 10, nCells = 16, nProbe = 4, m = 8, codebookSize = 16)
      .select(col("query_id"), col("rank"), col("neighbor_id"))
  }

  /** PQ-compressed ANN serving: encode the corpus to 8 codes/vector,
    * search by asymmetric distance. Rows-only + recall spec. */
  def simTopkPq(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val queries = emb.filter(col("vec_id") < 5)
    val (codebooks, encoded) = graft.operators.Quantize.productQuantize(
      emb, "vec_id", "embedding", m = 8, codebookSize = 16, iters = 4,
      trainSampleN = 4096)
    Similarity.pqTopK(encoded, queries, codebooks, "vec_id", "embedding", k = 10)
      .select(col("query_id"), col("rank"), col("neighbor_id"))
  }

  /** Bounded-verdict projection of [[Similarity.recallAtK]] output, so
    * the recall queries carry a DuckDB oracle: `k_exact` is exactly k
    * (every query has ≥ k non-self corpus neighbors at these SFs —
    * DuckDB recomputes it as the constant), `family_recall_positive`
    * asserts the approx family intersects the true neighborhood AT ALL
    * (total hits across the query set ≥ 1 — family-level, because
    * brute-force truth excludes self-matches so a single query's hits
    * CAN legitimately be 0; observed totals are 13–27 of 50, wide
    * margin), and `hits_bounded` is the per-query ≤ k sanity. The raw
    * recall VALUE stays engine-specific → not in the oracled
    * projection; it remains available via the recallAtK API and is
    * floor-pinned in SimilaritySpec. The global window runs over ≤
    * |queries| pre-aggregated rows, never corpus rows. */
  private def recallVerdict(r: DataFrame): DataFrame = {
    val all = org.apache.spark.sql.expressions.Window.partitionBy()
    r.select(col("query_id"), col("k_exact"),
      (sum(col("hits")).over(all) >= 1).as("family_recall_positive"),
      (col("hits") <= col("k_exact")).as("hits_bounded"))
      .orderBy(col("query_id"))
  }

  /** ANN recall telemetry: LSH top-k joined to the exact brute-force
    * top-k per query — the recall@k a user tunes nBits/probeRadius
    * against. Oracled in the bounded-verdict form ([[recallVerdict]]). */
  def simRecallLsh(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val queries = emb.filter(col("vec_id") < 5)
    recallVerdict(Similarity.recallAtK(
      Similarity.lshTopK(emb, queries, "vec_id", "embedding", k = 10, nBits = 4),
      Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", k = 10)))
  }

  /** Same recall surface for the IVF index (tunes nCells/nProbe). */
  def simRecallIvf(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val queries = emb.filter(col("vec_id") < 5)
    recallVerdict(Similarity.recallAtK(
      Similarity.ivfTopK(emb, queries, "vec_id", "embedding",
        k = 10, nCells = 16, nProbe = 4),
      Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", k = 10)))
  }

  /** Recall of the PQ-compressed index (tunes m/codebookSize — the
    * compression-vs-recall dial). */
  def simRecallPq(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val queries = emb.filter(col("vec_id") < 5)
    val (codebooks, encoded) = graft.operators.Quantize.productQuantize(
      emb, "vec_id", "embedding", m = 8, codebookSize = 16, iters = 4,
      trainSampleN = 4096)
    recallVerdict(Similarity.recallAtK(
      Similarity.pqTopK(encoded, queries, codebooks, "vec_id", "embedding", k = 10),
      Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", k = 10)))
  }

  /** Recall of the composed IVF-PQ index (the production serving path —
    * probing loss and quantization loss measured together). */
  def simRecallIvfPq(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val queries = emb.filter(col("vec_id") < 5)
    recallVerdict(Similarity.recallAtK(
      Similarity.ivfPqTopK(emb, queries, "vec_id", "embedding",
        k = 10, nCells = 16, nProbe = 4, m = 8, codebookSize = 16),
      Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", k = 10)))
  }

  /** Incremental embedding-space admission: even vec_ids play the
    * standing corpus, odd ones the incoming batch — the semantic
    * counterpart of corpus_increment_neardup. Rows-only + spec. */
  def corpusIncrementEmbed(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    Similarity.admitNewEmbeddings(
      emb.filter(col("vec_id") % 2 === 1),
      emb.filter(col("vec_id") % 2 === 0),
      "vec_id", "embedding", threshold = 0.4, nBits = 4)
      .select(col("vec_id"))
      .orderBy(col("vec_id"))
  }

  /** Semantic (embedding-space) dedup — the SemDeDup recipe: sampled
    * k-means clusters confine cosine candidate pairs, connected groups
    * collapse to their min-id survivor. Rows-only (custom float kernel)
    * + SimilaritySpec planted paraphrase-pair coverage. */
  def simSemanticDedup(spark: SparkSession, dir: String): DataFrame =
    Similarity.semanticDedup(
      Tables.embeddings(spark, dir), "vec_id", "embedding",
      // the synthetic fixture has no true paraphrase pairs at production
      // thresholds (~0.95+); 0.4 matches sim_neardup's fixture-specific
      // threshold so the removal path actually runs here
      k = 16, threshold = 0.4)
      .select(col("vec_id"))
      .orderBy(col("vec_id"))

  /**
   * Serve-path verdict for the LSH index: the approximate top-10 must
   * return EXACTLY k rows per query and every returned neighbor must
   * sit inside the exact cosine top-50 ("approximate, never garbage" —
   * the containment bound a user provisions overfetch against). The
   * exact side is [[Similarity.bruteForceTopK]], itself DuckDB-oracled
   * as `sim_topk_brute`, so the chain of trust is two driver-checked
   * links. Oracle emits (query, rank 1..10, TRUE): a missing row, an
   * extra row, or one out-of-top-50 neighbor all flip the compare.
   */
  def simTopkLshVerdict(spark: SparkSession, dir: String): DataFrame =
    exactTop50ContainmentVerdict(spark, dir, (emb, queries) =>
      Similarity.lshTopK(emb, queries, "vec_id", "embedding", k = 10, nBits = 4))

  /** Same containment verdict for the IVF serve path (nCells=16,
    * nProbe=4 — the sim_topk_ivf configuration). */
  def simTopkIvfVerdict(spark: SparkSession, dir: String): DataFrame =
    exactTop50ContainmentVerdict(spark, dir, (emb, queries) =>
      Similarity.ivfTopK(emb, queries, "vec_id", "embedding",
        k = 10, nCells = 16, nProbe = 4))

  /** Shared scaffolding for the LSH/IVF containment verdicts: run the
    * given approximate serve path, join against the exact cosine top-50
    * ([[Similarity.bruteForceTopK]], itself oracled as
    * `sim_topk_brute`), and emit one (query, rank, containment) row per
    * approximate result — one shape, so the containment-gate contract
    * cannot drift between the two variants. */
  private def exactTop50ContainmentVerdict(
      spark: SparkSession, dir: String,
      approxOf: (DataFrame, DataFrame) => DataFrame): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val queries = emb.filter(col("vec_id") < 5)
    val approx = approxOf(emb, queries)
    val exact = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", k = 50)
      .select(col("query_id"), col("neighbor_id")).withColumn("__e", lit(true))
    approx.join(exact, Seq("query_id", "neighbor_id"), "left")
      .select(col("query_id"), col("rank"),
        coalesce(col("__e"), lit(false)).as("in_exact_top50"))
      .orderBy(col("query_id"), col("rank"))
  }

  /**
   * Planted-copy serve verdict for the PQ path (m=8, cb=16 — the
   * sim_topk_pq configuration). Top-N CONTAINMENT is not an honest gate
   * here: measured at all three SFs, PQ ADC ranks stray to exact rank
   * ~740 of 2000 (quantization loss on near-orthogonal synthetic
   * vectors), so any tight bound would be fixture luck. What IS
   * guaranteed: an exact COPY of the query planted in the corpus
   * encodes to the query's own per-subspace argmin codes, which
   * minimizes the summed ADC distance over the whole code space — no
   * corpus vector can score strictly better, so the serve path MUST
   * return the copy. One missed copy (codes, ADC tables, ranking — any
   * stage broken) flips `copy_found`.
   */
  def simTopkPqVerdict(spark: SparkSession, dir: String): DataFrame =
    plantedCopyFoundVerdict(spark, dir, (corpus, queries) => {
      val (codebooks, encoded) = graft.operators.Quantize.productQuantize(
        corpus, "vec_id", "embedding", m = 8, codebookSize = 16, iters = 4,
        trainSampleN = 4096)
      Similarity.pqTopK(encoded, queries, codebooks, "vec_id", "embedding", k = 10)
    })

  /** Planted-copy serve verdict for the composed IVF-PQ path: the copy
    * lands in the query's own coarse cell (identical vector → identical
    * nearest centroid), the query probes that cell first, and the copy's
    * residual encodes to the minimal-ADC codes — probing loss and
    * quantization loss both gated (the sim_topk_ivfpq configuration). */
  def simTopkIvfPqVerdict(spark: SparkSession, dir: String): DataFrame =
    plantedCopyFoundVerdict(spark, dir, (corpus, queries) =>
      Similarity.ivfPqTopK(corpus, queries, "vec_id", "embedding",
        k = 10, nCells = 16, nProbe = 4, m = 8, codebookSize = 16))

  /**
   * Durable-ANN serve parity verdict: build the IVF-PQ artifact, serve
   * the workload THROUGH the persisted index (the partition-pruned
   * `AnnIndex.searchIvfPq` path — model reload, probed-cell collect,
   * `isin` partition pruning, codes-only scan) and demand bit-equal
   * rank lists against the in-memory `ivfPqTopK` under identical
   * parameters (identical deterministic sampling + Lloyd ⇒ identical
   * model ⇒ identical serving). The spec pins this too; the registered
   * row makes the durable serve path DRIVER-checked at every SF, so a
   * pruning bug that loses a cell's codes flips `served_equal`.
   */
  def simTopkIvfPqIndexVerdict(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val queries = emb.filter(col("vec_id") < 5)
    val idx = graft.TmpCleanup.perProcessDir("graft-ann-serve", dir)
    graft.TmpCleanup.register(idx)
    graft.operators.AnnIndex.writeIvfPq(emb, "vec_id", "embedding", idx,
      nCells = 16, m = 8, codebookSize = 16)
    val served = graft.operators.AnnIndex.searchIvfPq(
      spark, idx, queries, "vec_id", "embedding", k = 10, nProbe = 4)
      .select(col("query_id"), col("rank"), col("neighbor_id"))
    val inMem = Similarity.ivfPqTopK(emb, queries, "vec_id", "embedding",
      k = 10, nCells = 16, nProbe = 4, m = 8, codebookSize = 16)
      .select(col("query_id"), col("rank"),
        col("neighbor_id").as("__expect"))
    served.join(inMem, Seq("query_id", "rank"), "full")
      .groupBy(col("query_id"))
      .agg((count(lit(1)) === sum(
        when(col("neighbor_id") === col("__expect"), 1L).otherwise(0L)))
        .as("served_equal"))
      .orderBy(col("query_id"))
  }

  /** IVF-FLAT sibling of [[simTopkIvfPqIndexVerdict]]: exact-cosine
    * serving from the persisted, partition-pruned vectors artifact must
    * equal the in-memory `ivfTopK` rank-for-rank (identical training ⇒
    * identical cells ⇒ identical probes and exact scores). */
  def simTopkIvfIndexVerdict(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val queries = emb.filter(col("vec_id") < 5)
    val idx = graft.TmpCleanup.perProcessDir("graft-ann-flat", dir)
    graft.TmpCleanup.register(idx)
    graft.operators.AnnIndex.writeIvf(emb, "vec_id", "embedding", idx,
      nCells = 16)
    val served = graft.operators.AnnIndex.searchIvf(
      spark, idx, queries, "vec_id", "embedding", k = 10, nProbe = 4)
      .select(col("query_id"), col("rank"), col("neighbor_id"))
    val inMem = Similarity.ivfTopK(emb, queries, "vec_id", "embedding",
      k = 10, nCells = 16, nProbe = 4)
      .select(col("query_id"), col("rank"),
        col("neighbor_id").as("__expect"))
    served.join(inMem, Seq("query_id", "rank"), "full")
      .groupBy(col("query_id"))
      .agg((count(lit(1)) === sum(
        when(col("neighbor_id") === col("__expect"), 1L).otherwise(0L)))
        .as("served_equal"))
      .orderBy(col("query_id"))
  }

  /**
   * Incremental-admission drift verdict for the durable ANN index — the
   * nightly-ingest contract end-to-end: build the IVF-PQ artifact over a
   * deterministic 2/3 of the corpus, measure [[AnnIndex.occupancyDrift]]
   * for (a) the held-out third (same distribution → TV near 0, no
   * retrain needed) and (b) a deliberately shifted batch (the fullest
   * cell's members only → mass concentrated, TV high → rebuild signal),
   * then [[AnnIndex.appendIvfPq]] the held-out third against the FROZEN
   * model and gate that every appended row landed (`append_ok`). The TV
   * values are deterministic per fixture (sampled k-means is seeded);
   * the 0.4 threshold sits ≳2× above the measured same-distribution TV
   * at all three SFs and well under the measured skew TV.
   */
  def annAppendDrift(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.operators.AnnIndex
    val emb = Tables.embeddings(spark, dir)
    val base = emb.filter(col("vec_id") % 3 =!= 0)
    val batch = emb.filter(col("vec_id") % 3 === 0)
    val idx = graft.TmpCleanup.perProcessDir("graft-ann-idx", dir)
    graft.TmpCleanup.register(idx)
    AnnIndex.writeIvfPq(base, "vec_id", "embedding", idx,
      nCells = 16, m = 8, codebookSize = 16)
    def tv(b: DataFrame): Double =
      AnnIndex.occupancyDrift(spark, idx, b, "vec_id", "embedding")
        .head().getDouble(0)
    val tvSame = tv(batch)
    // shifted source: only the fullest cell's members — deterministic
    // (ties broken by cell id) and maximally concentrated
    val codes = spark.read.parquet(s"$idx/codes")
    val topCell = codes.groupBy(col("cell")).agg(count(lit(1)).as("__n"))
      .orderBy(col("__n").desc, col("cell")).head().getInt(0)
    val skewIds = codes.filter(col("cell") === topCell).select(col("vec_id"))
    val tvSkew = tv(emb.join(skewIds, Seq("vec_id")).select(col("vec_id"), col("embedding")))
    // frozen-model admission: every batch row must land in the artifact
    AnnIndex.appendIvfPq(spark, idx, batch, "vec_id", "embedding")
    val appendOk =
      spark.read.parquet(s"$idx/codes").count() == emb.count()
    Seq(("same", tvSame >= 0.4, appendOk), ("skew", tvSkew >= 0.4, appendOk))
      .toDF("polarity", "drifted", "append_ok")
      .orderBy(col("polarity"))
  }

  /**
   * ANN train/add sample-recovery verdict — the faiss train/add split's
   * recovery guarantee as a driver row: the sampled quantizer fit is a
   * pure function of (corpus content, params) — hash-ordered sample,
   * driver-side Lloyd — so re-fitting from the corpus alone recovers the
   * PERSISTED model bit-for-bit. Build the IVF-PQ artifact, load its
   * model back from parquet, re-run [[AnnIndex.trainIvfPq]] with the
   * same params, and gate float-exact equality of all 16 coarse cells
   * and all 8×16 codebook centroids. A drifting sample (lost
   * determinism, a re-ordered TakeOrdered tie, a float round-trip
   * through the model parquet) flips `refit_equal`.
   */
  def annTrainRecovery(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.operators.AnnIndex
    val emb = Tables.embeddings(spark, dir)
    val idx = graft.TmpCleanup.perProcessDir("graft-ann-recover", dir)
    graft.TmpCleanup.register(idx)
    AnnIndex.writeIvfPq(emb, "vec_id", "embedding", idx,
      nCells = 16, m = 8, codebookSize = 16)
    val (cells, books) = AnnIndex.loadModel(spark, idx)
    val (cells2, books2, _) = AnnIndex.trainIvfPq(
      emb, "vec_id", "embedding", nCells = 16, m = 8, codebookSize = 16,
      trainSampleN = 4096)
    Seq(
      ("cell", cells.length.toLong, cells == cells2),
      ("codebook", books.map(_.length.toLong).sum, books == books2))
      .toDF("kind", "n_vecs", "refit_equal")
      .orderBy(col("kind"))
  }

  /**
   * Keyed delete on the durable ANN artifact
   * ([[graft.operators.AnnIndex.deleteVecs]] — faiss `remove_ids`
   * semantics), full-lifecycle verdict: build over the corpus and serve
   * (`expect`), append an exact copy of every query at `vec_id + 10⁷`
   * and serve (each copy must surface — append-path + copy-ranking
   * evidence), tombstone exactly the copies and serve again — the
   * result must equal `expect` RANK-FOR-RANK (the appended files still
   * exist on disk; only the anti-join removes them, so bit-equality
   * here is the tombstone filter working, not a rebuild), then a
   * rebuild clears the tombstone layout. Every gate is exactly
   * derivable, so DuckDB's twin is the constant-TRUE verdict over the
   * query ids.
   */
  def simTopkAnnDeleteVerdict(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.AnnIndex
    val emb = Tables.embeddings(spark, dir)
    val queries = emb.filter(col("vec_id") < 5)
    val idx = graft.TmpCleanup.perProcessDir("graft-ann-del", dir)
    graft.TmpCleanup.register(idx)
    AnnIndex.writeIvfPq(emb, "vec_id", "embedding", idx,
      nCells = 16, m = 8, codebookSize = 16)
    def serve() = AnnIndex.searchIvfPq(
      spark, idx, queries, "vec_id", "embedding", k = 10, nProbe = 4)
      .select(col("query_id"), col("rank"), col("neighbor_id"))
      .orderBy(col("query_id"), col("rank")).collect().toSeq
    val expect = serve()
    val copies = queries.withColumn("vec_id", col("vec_id") + lit(10000000L))
    AnnIndex.appendIvfPq(spark, idx, copies, "vec_id", "embedding")
    val withCopies = serve()
    val copyFound = withCopies.groupBy(_.getLong(0)).view.mapValues(
      _.exists(r => r.getLong(2) == r.getLong(0) + 10000000L)).toMap
    AnnIndex.deleteVecs(spark, idx,
      copies.select(col("vec_id")))
    val restored = serve() == expect
    // the rebuild (this artifact's compaction) clears the tombstones
    AnnIndex.writeIvfPq(emb, "vec_id", "embedding", idx,
      nCells = 16, m = 8, codebookSize = 16)
    val cleared = {
      val t = new java.io.File(s"$idx/tombstones")
      !t.exists() || t.listFiles().isEmpty
    }
    import spark.implicits._
    copyFound.toSeq.sortBy(_._1).map { case (q, found) =>
      (q, found, restored, cleared)
    }.toDF("query_id", "copy_found", "restored_equal", "tombstones_cleared")
      .orderBy(col("query_id"))
  }

  /** Shared scaffolding for the PQ/IVF-PQ planted-copy verdicts: plant
    * an exact copy of every query vector at `vec_id + 10⁷`, run the
    * given serve path over the planted corpus, and flag per query
    * whether its copy came back — one shape for the copy-found gate. */
  private def plantedCopyFoundVerdict(
      spark: SparkSession, dir: String,
      approxOf: (DataFrame, DataFrame) => DataFrame): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val queries = emb.filter(col("vec_id") < 5)
    val corpus = emb.unionByName(
      queries.withColumn("vec_id", col("vec_id") + lit(10000000L)))
    val approx = approxOf(corpus, queries)
    queries.select(col("vec_id").as("query_id"))
      .join(approx.filter(col("neighbor_id") === col("query_id") + 10000000L)
          .select(col("query_id")).withColumn("__f", lit(true)),
        Seq("query_id"), "left")
      .select(col("query_id"), coalesce(col("__f"), lit(false)).as("copy_found"))
      .orderBy(col("query_id"))
  }

  /**
   * Planted-twin verdict for embedding near-dup pairing: an exact copy
   * of every 100th vector is appended at `vec_id + 10⁷`. Identical
   * vectors produce identical hyperplane sign buckets and cosine
   * exactly 1 ≥ threshold, so [[Similarity.embeddingNearDupPairs]] MUST
   * emit each planted pair — the planted list is pure SQL, and one
   * missed pair flips the `pair_found` gate.
   */
  def simNearDupVerdict(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val base = emb.filter(col("vec_id") % 100 === 0)
    val twins = base.withColumn("vec_id", col("vec_id") + lit(10000000L))
    val found = Similarity.embeddingNearDupPairs(
      emb.unionByName(twins), "vec_id", "embedding", threshold = 0.4, nBits = 4)
      .select(col("id_a"), col("id_b")).withColumn("__f", lit(true))
    base.select(col("vec_id").as("id_a"),
        (col("vec_id") + 10000000L).as("id_b"))
      .join(found, Seq("id_a", "id_b"), "left")
      .select(col("id_a"), col("id_b"),
        coalesce(col("__f"), lit(false)).as("pair_found"))
      .orderBy(col("id_a"))
  }

  /** Planted-twin verdict for SemDeDup: the exact copy planted at
    * `vec_id + 10⁷` lands in its original's k-means cell (identical
    * vector → identical nearest centroid), pairs at cosine 1, and the
    * min-id survivor rule must REMOVE it — `kept` is constant FALSE. */
  def simSemanticDedupVerdict(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val base = emb.filter(col("vec_id") % 100 === 0)
    val twins = base.withColumn("vec_id", col("vec_id") + lit(10000000L))
    val kept = Similarity.semanticDedup(
      emb.unionByName(twins), "vec_id", "embedding", k = 16, threshold = 0.4)
      .select(col("vec_id")).withColumn("__k", lit(true))
    twins.select(col("vec_id"))
      .join(kept, Seq("vec_id"), "left")
      .select(col("vec_id"), coalesce(col("__k"), lit(false)).as("kept"))
      .orderBy(col("vec_id"))
  }

  /**
   * Exact-dup rejection verdict for embedding-space admission: exact
   * copies of the first incoming vectors are planted INTO the standing
   * corpus (at shifted ids), so those incoming rows have a corpus
   * neighbor at cosine exactly 1 in their own LSH bucket and
   * [[Similarity.admitNewEmbeddings]] MUST reject them — `admitted` is
   * constant FALSE over a pure-SQL row set.
   */
  def corpusIncrementEmbedVerdict(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val incoming = emb.filter(col("vec_id") % 2 === 1)
    val planted = incoming.filter(col("vec_id") < 10)
    val base = emb.filter(col("vec_id") % 2 === 0)
      .unionByName(planted.withColumn("vec_id", col("vec_id") + lit(10000000L)))
    val admitted = Similarity.admitNewEmbeddings(
      incoming, base, "vec_id", "embedding", threshold = 0.4, nBits = 4)
      .select(col("vec_id")).withColumn("__a", lit(true))
    planted.select(col("vec_id"))
      .join(admitted, Seq("vec_id"), "left")
      .select(col("vec_id"), coalesce(col("__a"), lit(false)).as("admitted"))
      .orderBy(col("vec_id"))
  }

  /**
   * Lloyd-invariant verdict for embedding k-means: the per-iteration
   * cost J(assign_t, cents_{t+1}) — read off the same aggregate the
   * centroid update uses — must be non-increasing (reassignment and
   * re-centering each only lower J; the 1e-6 relative tolerance covers
   * float summation order). n_points pins the assignment cardinality to
   * DuckDB's count; clusters_le_k the output range.
   */
  /** Shared body of the two k-means verdicts: Lloyd cost monotonicity
    * (init-independent invariant) + assignment cardinality + cluster
    * range, parameterized by the seeding strategy so EACH registered
    * clustering surface has its own driver-checked twin. */
  private def kmeansVerdictFrame(
      spark: SparkSession, dir: String, init: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val (costs, assigned) = graft.operators.Clustering.kmeansWithCosts(
      emb, "vec_id", "embedding", k = 8, iters = 3, init = init)
    val verdicts = costs.indices.map { i =>
      (i + 1L, i == 0 || costs(i) <= costs(i - 1) * (1 + 1e-6))
    }
    val vdf = spark.createDataFrame(verdicts).toDF("iter", "cost_non_increasing")
    val stats = assigned.agg(count(lit(1)).as("n_points"),
      (countDistinct(col("cluster")) <= 8).as("clusters_le_k"))
    vdf.crossJoin(broadcast(stats))
      .select(col("iter"), col("cost_non_increasing"),
        col("n_points"), col("clusters_le_k"))
      .orderBy(col("iter"))
  }

  def embedKmeansVerdict(spark: SparkSession, dir: String): DataFrame =
    kmeansVerdictFrame(spark, dir, init = "farthest")

  /** The k-means|| twin of [[embedKmeansVerdict]] — same invariant, the
    * `parallel` seeding path (the one `embed_kmeans_par` registers). */
  def embedKmeansParVerdict(spark: SparkSession, dir: String): DataFrame =
    kmeansVerdictFrame(spark, dir, init = "parallel")

  /** PCA-reduced embeddings (rows-only surface; `embed_pca_verdict` is
    * the driver-checked twin): one moments pass + one codegen'd
    * projection scan — the reduce-before-the-expensive-stage step of
    * embedding pipelines. Exploded to scalar (vec_id, component, value)
    * rows: the harness sorts results in pandas, and a raw array<double>
    * column is unsortable there (the r10 `err` finding) — while the
    * explode costs nothing the array didn't (same kernel scan, k rows
    * out per vector either way once written). */
  def embedPcaProject(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val m = graft.operators.Pca.fit(emb, "embedding", k = 8)
    graft.operators.Pca.project(emb, m, "embedding")
      .select(col("vec_id"), posexplode(col("pca")).as(Seq("component", "value")))
      .orderBy(col("vec_id"), col("component"))
  }

  /**
   * PCA eigensystem verdict — the invariants that pin a correct fit to
   * THIS fixture: per-component eigenvalue non-negativity, ordering,
   * orthonormality and the trace identity Σλ = total variance from the
   * fitted model (driver, d×d state), and the Parseval energy split
   * measured over the corpus (mean Σ proj² must equal the captured
   * eigenvalue mass, mean ‖x−μ‖² the total — one aggregate over the
   * same codegen'd projection scan users run). A wrong eigensolver, a
   * non-orthogonal basis, a mis-centered projection, or a fit on the
   * wrong data flips a boolean and hash-fails; n_points pins the input
   * cardinality to DuckDB's count.
   */
  def embedPcaVerdict(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Pca
    val emb = Tables.embeddings(spark, dir)
    val m = Pca.fit(emb, "embedding", k = 8)
    val orthonormal = (for { i <- 0 until m.k; j <- i until m.k } yield {
      val dot = m.components(i).zip(m.components(j)).map(p => p._1 * p._2).sum
      math.abs(dot - (if (i == j) 1.0 else 0.0))
    }).max < 1e-9
    val ordered = m.eigenvalues.sliding(2).forall(p => p(0) >= p(1) - 1e-12)
    val traceOk = math.abs(m.eigenvalues.sum - m.totalVariance) <=
      1e-6 * m.totalVariance
    val stats = Pca.centeredEnergy(Pca.project(emb, m, "embedding"), m, "embedding")
      .select(sum(expr("aggregate(pca, 0D, (acc, p) -> acc + p * p)")).as("cap"),
        sum(col("energy2")).as("tot"), count(lit(1)).as("n")).head()
    val (cap, tot) = (stats.getDouble(0), stats.getDouble(1))
    val n = stats.getLong(2)
    val parsevalOk = cap <= tot * (1 + 1e-9) &&
      math.abs(cap / n - m.capturedVariance) <= 1e-6 * m.totalVariance &&
      math.abs(tot / n - m.totalVariance) <= 1e-6 * m.totalVariance
    val rows = (0 until m.k).map { c =>
      (c.toLong, m.eigenvalues(c) >= -1e-9,
        ordered && orthonormal && traceOk, parsevalOk)
    }
    spark.createDataFrame(rows)
      .toDF("comp", "eig_nonneg", "basis_ok", "parseval_ok")
      .crossJoin(broadcast(
        Tables.embeddings(spark, dir).agg(count(lit(1)).as("n_points"))))
      .select(col("comp"), col("eig_nonneg"), col("basis_ok"),
        col("parseval_ok"), col("n_points"))
      .orderBy(col("comp"))
  }

  /** JL random-projection reduced embeddings, exploded to scalar
    * (vec_id, component, value) rows and — because the ±1/√k sign
    * matrix is a pure function of (seed, k, d), independent of the
    * data — DIRECTLY value-oracled: [[rpProjectOracleSql]] spells the
    * same left-to-right dot products as the codegen'd kernel, so the
    * doubles are bit-identical on both engines (float→double loads,
    * IEEE-754 products and left-associated sums — no reassociation on
    * either side). */
  def embedRpProject(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Rp.project(Tables.embeddings(spark, dir), "embedding", k = 32)
      .select(col("vec_id"), posexplode(col("rp")).as(Seq("component", "value")))
      .orderBy(col("vec_id"), col("component"))

  /** DuckDB replay of [[embedRpProject]]: one UNION ALL arm per output
    * component, each the explicit 64-term dot product against the
    * seed-42 sign matrix in kernel order (i ascending, left-assoc).
    * Scala's Double.toString round-trips, so the ±1/√32 literals parse
    * back to the exact plan constants. Fixture embeddings are d=64 at
    * every SF (TESTDATA.md). */
  private[queries] lazy val rpProjectOracleSql: String = {
    val m = graft.operators.Rp.signMatrix(k = 32, d = 64)
    val arms = m.zipWithIndex.map { case (row, j) =>
      // `e0` forces a DOUBLE literal (a bare decimal parses as
      // DECIMAL(18,17) and drags the whole expression to FLOAT); the
      // explicit element cast keeps the product double×double.
      val dot = row.zipWithIndex
        .map { case (s, i) =>
          val str = s.toString
          val lit = if (str.exists(c => c == 'e' || c == 'E')) str
            else s"${str}e0"
          s"CAST(embedding[${i + 1}] AS DOUBLE) * ($lit)" }
        .mkString(" + ")
      s"SELECT vec_id, $j AS component, $dot AS value FROM embeddings"
    }
    arms.mkString("", "\nUNION ALL\n", "\nORDER BY vec_id, component")
  }

  /**
   * JL distortion verdict for [[graft.operators.Rp]]: over the planted
   * consecutive-id pairs (vec_id % 10 == 0, neighbor id + 1 — count
   * exactly replayed by DuckDB), the projected-to-original squared-
   * distance ratio must average into [0.85, 1.15] and land within
   * [0.5, 2.0] for ≥ 90% of pairs; corpus-wide, the mean projected/
   * original norm ratio must sit in [0.85, 1.15]. Deterministic given
   * (seed, fixture) — measured 0.98–1.02 mean, 0.98–1.00 in-band at the
   * three SFs, so the bands carry real margin. A broken sign matrix, a
   * mis-scaled row, or a truncated projection flips a boolean.
   */
  def embedRpVerdict(spark: SparkSession, dir: String): DataFrame = {
    val proj = graft.operators.Rp.project(
      Tables.embeddings(spark, dir), "embedding", k = 32)
    val a = proj.select(col("vec_id").as("aid"),
      col("embedding").as("ea"), col("rp").as("pa"))
    val b = proj.select((col("vec_id") - 1).as("aid"),
      col("embedding").as("eb"), col("rp").as("pb"))
    val sq = "(acc, v) -> acc + v"
    val pairs = a.filter(col("aid") % 10 === 0).join(b, "aid")
      .withColumn("den", expr("aggregate(zip_with(ea, eb, (x, y) -> " +
        s"(CAST(x AS DOUBLE) - y) * (CAST(x AS DOUBLE) - y)), 0D, $sq)"))
      .withColumn("num", expr("aggregate(zip_with(pa, pb, (x, y) -> " +
        s"(x - y) * (x - y)), 0D, $sq)"))
      // identical vectors project identically: distortion trivially held
      .withColumn("ratio",
        when(col("den") > 0, col("num") / col("den")).otherwise(lit(1.0)))
    val p = pairs.agg(count(lit(1)).as("n_pairs"), avg(col("ratio")).as("mr"),
      avg(when(col("ratio").between(0.5, 2.0), 1.0).otherwise(0.0)).as("frac"))
      .head()
    val nr = proj
      .withColumn("e2", expr(s"aggregate(embedding, 0D, (acc, v) -> " +
        "acc + CAST(v AS DOUBLE) * v)"))
      .withColumn("p2", expr(s"aggregate(rp, 0D, (acc, v) -> acc + v * v)"))
      // a zero vector projects to zero: norm preservation trivially held
      .agg(avg(when(col("e2") > 0, col("p2") / col("e2")).otherwise(lit(1.0)))
        .as("nr"), count(lit(1)).as("n_points"))
      .head()
    val rows = Seq((p.getLong(0),
      p.getDouble(1) >= 0.85 && p.getDouble(1) <= 1.15,
      p.getDouble(2) >= 0.9,
      nr.getDouble(0) >= 0.85 && nr.getDouble(0) <= 1.15,
      nr.getLong(1)))
    spark.createDataFrame(rows)
      .toDF("n_pairs", "mean_ratio_ok", "frac_ok", "norm_ok", "n_points")
  }

  /** Embedding k-means (semantic grouping) with farthest-first seeding
    * (k corpus passes, best spread at small k) — custom float kernel,
    * rows-only + planted-cluster spec (ClusteringSpec) + the
    * `embed_kmeans_verdict` cost-monotonicity twin. */
  def embedKmeans(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Clustering.kmeans(
      Tables.embeddings(spark, dir), "vec_id", "embedding", k = 8, iters = 3,
      init = "farthest")
      .select(col("id"), col("cluster"))
      .orderBy(col("id"))

  /** Same clustering with k-means|| seeding (O(rounds) corpus passes
    * instead of k — the large-k scale path), rows-only + spec + the
    * `embed_kmeans_par_verdict` twin. */
  def embedKmeansPar(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Clustering.kmeans(
      Tables.embeddings(spark, dir), "vec_id", "embedding", k = 8, iters = 3,
      init = "parallel")
      .select(col("id"), col("cluster"))
      .orderBy(col("id"))

  /** Int8 scalar quantization of the embedding table (float pipeline
    * with a fixed IEEE expression tree — oracle replays it exactly). */
  def embedQuantize(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Quantize.scalarQuantize(
      Tables.embeddings(spark, dir), "vec_id", "embedding")
      .orderBy(col("vec_id"), col("dim"))

  /** Per-label per-dimension embedding moments — the centroid/dispersion
    * telemetry of a labeled embedding table. Elements are fixed-point
    * quantized (floor(x·1e6) — float sums are reduction-order-dependent,
    * 64-bit micro sums are exact and order-free), so a SQL oracle matches
    * bit-for-bit; downstream means divide sum_micro/n/1e6. Map-side
    * combine ships (label, dim) partials only. */
  def embedLabelStats(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select(col("label").cast("long").as("label"),
        posexplode(col("embedding")).as(Seq("dim", "x")))
      .groupBy(col("label"), col("dim").cast("long").as("dim"))
      .agg(count(lit(1)).as("n"),
        sum(floor(col("x").cast("double") * lit(1e6)).cast("long")).as("sum_micro"),
        min(floor(col("x").cast("double") * lit(1e6)).cast("long")).as("min_micro"),
        max(floor(col("x").cast("double") * lit(1e6)).cast("long")).as("max_micro"))
      .orderBy(col("label"), col("dim"))

  def simNearDup(spark: SparkSession, dir: String): DataFrame =
    Similarity.embeddingNearDupPairs(
      Tables.embeddings(spark, dir), "vec_id", "embedding", threshold = 0.4, nBits = 4)
      .select(col("id_a"), col("id_b"))

  // --- text analysis ---

  def textQuality(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.qualityMetrics(Tables.documents(spark, dir), "text")
      .select(col("doc_id"), col("n_chars_m"), col("n_tokens"),
        col("mean_word_len"), col("punct_ratio"), col("stopword_ratio"))
      .orderBy(col("doc_id"))

  /** Composite Gopher-rules verdict table: per-rule booleans + keep, all
    * integer-exact (see the operator doc). */
  def qualityGopher(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.gopherFilter(Tables.documents(spark, dir), "doc_id", "text")
      .orderBy(col("doc_id"))

  def textTokensTop(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.tokenFrequency(Tables.documents(spark, dir), "text", topN = 20)

  /** Corpus token-frequency telemetry under the unicode contract over
    * the mixed-script column — the LAST lexical consumer to join the
    * contract (r16 verdict #5): without it, token telemetry and the
    * Count-Min sketch's backing stream read zero for pure-CJK corpora
    * while every neighboring operator counts them. Top-40 so the board
    * provably carries BOTH scripts (the CJK chars tokenize one-per-char
    * and crowd the head; a 20-row board could be all-CJK and the ASCII
    * half untested). */
  def textTokensTopUnicode(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.tokenFrequency(
      withMixedText(Tables.documents(spark, dir), full = false),
      "mtext", topN = 40, unicode = true)

  /** CCNet-shaped LM quality gate ([[graft.operators.Lm]]): train a
    * Laplace-smoothed bigram model on the trusted slice (source='src0'),
    * score every document by mean smoothed bigram micro-likelihood,
    * keep ≥ 32000 micro (≈ the fixture median — the model must actually
    * separate documents for the flag to carry information). Integer
    * arithmetic end to end, so train AND score replay exactly in SQL. */
  def qualityLmScore(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    Lm.likelihoodFilter(docs, docs.filter(col("source") === "src0"),
      thresholdMicro = 32000L)
      .orderBy(col("doc_id"))
  }

  /** CCNet's head/middle/tail OUTPUT shape: the corpus cut into exact
    * micro-score terciles under the src0-trained reference LM — equal
    * scores share a band, the tercile cut runs on the distributed
    * range-partitioned prefix sum, and the whole split replays in SQL
    * with zero float tolerance. */
  def qualityLmBuckets(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    graft.operators.Lm.scoreTerciles(docs, docs.filter(col("source") === "src0"))
      .orderBy(col("doc_id"))
  }

  /** Compressibility signal (rows-only surface; `quality_compress_verdict`
    * is the driver-checked twin — DuckDB has no DEFLATE to replay the
    * compressed size). */
  def qualityCompress(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.compressionSignal(Tables.documents(spark, dir), "doc_id", "text")
      .orderBy(col("doc_id"))

  /**
   * Compressibility verdict: per document, `orig_bytes` pins the input
   * to DuckDB's exact OCTET_LENGTH; `roundtrip_ok` proves
   * gunzip(gzip(text)) is the identity on THIS text (the reference-T1
   * inverse pair actually round-trips); `double_better` proves the
   * compressor sees the doc's self-repetition (text‖text costs ≤ gz +
   * 64 bytes, not 2×gz — the property the repetition filter relies on);
   * `ratio_bounded` pins the micro-ratio into (0, 2e6). A broken gzip
   * kernel, a text-mangling codec, or a ratio overflow hash-fails.
   */
  def qualityCompressVerdict(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.{gunzip_string, gzip_string}
    TextAnalysis.compressionSignal(Tables.documents(spark, dir), "doc_id", "text")
      .join(Tables.documents(spark, dir).select(col("doc_id"), col("text")),
        Seq("doc_id"))
      .select(col("doc_id"), col("orig_bytes"),
        (gunzip_string(gzip_string(col("text"))) === col("text")).as("roundtrip_ok"),
        (octet_length(gzip_string(concat(col("text"), col("text")))).cast("long")
          < col("gz_bytes") + 64L).as("double_better"),
        (col("ratio_micro") > 0L && col("ratio_micro") < 2000000L).as("ratio_bounded"))
      .orderBy(col("doc_id"))
  }

  /** Per-source LM divergence — the corpus-monitoring view of the
    * [[graft.operators.Lm]] gate: token-weighted mean micro-likelihood
    * per source under the src0-trained model (sources whose text the
    * trusted model finds unlikely surface at the bottom — the
    * "which feed went weird" dashboard). score_micro = Σ sum_p DIV
    * Σ n_bigrams over the source, integer-exact. */
  def lmSourceDivergence(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val scored = Lm.scoreDocs(docs, Lm.trainBigram(
      docs.filter(col("source") === "src0")))
    docs.select(col("doc_id"), col("source"))
      .join(scored, Seq("doc_id"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_bigrams")).as("n_bigrams"),
        sum(col("sum_p_micro")).as("sum_p_micro"))
      .withColumn("score_micro", expr("sum_p_micro DIV n_bigrams"))
      .orderBy(col("source"))
  }

  /**
   * DSIR-shaped importance selection ([[graft.operators.Dsir]]): target
   * model trained on the trusted `src0` slice, raw model on the full
   * candidate pool, BOTH Laplace-smoothed over the shared union
   * vocabulary (the correctness-critical detail — separate vocabularies
   * would mark fully-OOV text as target-like; see the Dsir scaladoc).
   * Keep = importance ratio ≥ 1e6, i.e. "the target model likes this
   * document at least as much as the raw model does". Every column is
   * an integer floor-division — the whole two-model stage replays in
   * DuckDB with zero float tolerance.
   */
  def selectDsir(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    // ONE scope-cached bigram expansion of the pool serves BOTH the raw
    // model train and the scoring join (pairsOpt) — standalone they are
    // two full corpus expansions, the query's two dominant stages
    // (2 × ~3.5 s CPU of its 11.5 at sf0.1, profiled r13)
    val poolPairs = graft.CacheScope.scoped(Lm.docBigrams(docs))
    val target = Lm.trainBigram(docs.filter(col("source") === "src0"))
    val raw = Lm.trainBigramFromPairs(poolPairs)
    graft.operators.Dsir.select(docs, target, raw, thresholdMicro = 1000000L,
      pairsOpt = Some(poolPairs))
      .orderBy(col("doc_id"))
  }

  /** DSIR with the paper's hashed feature space: bigrams md5-hashed into
    * 4096 buckets, so each model is ≤ 4096 rows REGARDLESS of corpus
    * size — broadcast unconditionally (the vocabulary-bounded variant
    * must let AQE decide). Same integer floor-ratio weight convention;
    * exact DuckDB replay via the shared '0x'-prefix hex parse. */
  def selectDsirHashed(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    // shared-expansion path — see selectDsir
    val poolPairs = graft.CacheScope.scoped(Lm.docBigrams(docs))
    val target = graft.operators.Dsir.trainHashed(
      docs.filter(col("source") === "src0"), buckets = 4096)
    val raw = graft.operators.Dsir.trainHashed(docs, buckets = 4096,
      pairsOpt = Some(poolPairs))
    graft.operators.Dsir.selectHashed(docs, target, raw,
      thresholdMicro = 1000000L, pairsOpt = Some(poolPairs))
      .orderBy(col("doc_id"))
  }

  /** The selection step of DSIR as a deterministic top-k (rank-by-weight
    * analog of the paper's resampling): global top-100 by importance
    * ratio, TakeOrderedAndProject-planned (per-partition heaps, no
    * single-partition sort), doc_id tie-break pinning a total order. */
  def selectDsirTopk(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    // shared-expansion path — see selectDsir
    val poolPairs = graft.CacheScope.scoped(Lm.docBigrams(docs))
    val target = Lm.trainBigram(docs.filter(col("source") === "src0"))
    val raw = Lm.trainBigramFromPairs(poolPairs)
    graft.operators.Dsir.topK(docs, target, raw, k = 100,
      pairsOpt = Some(poolPairs))
  }

  /**
   * Quality-signal ensembling by reciprocal-rank fusion
   * ([[graft.operators.Fusion]]): per source, rank documents by three
   * incommensurable signals — the learned logit score (desc), corpus
   * token rarity (asc: rarer vocabulary reads as richer text), and raw
   * length (desc) — and fuse with `Σ 1e6 DIV (60 + rank)`. Top-5 per
   * source; zero-token documents are excluded (rarity is undefined on
   * them), every window carries the doc_id tie-break, and all columns
   * are integers — the whole ensemble replays exactly in DuckDB.
   */
  def qualityRrfTopk(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val logit = TextAnalysis.logitQuality(docs, "doc_id", "text")
      .select(col("doc_id"), col("score_p12"))
    val tf = docs
      .select(col("doc_id"), explode(Dedup.tokens(col("text"))).as("tok"))
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
    val freq = tf.groupBy(col("tok")).agg(sum(col("tf")).as("freq"))
    val rarity = tf.join(freq, "tok").groupBy(col("doc_id"))
      .agg(expr("sum(tf * freq) * 1000000L DIV sum(tf)").as("rarity_micro"))
    val sig = docs.select(col("doc_id"), col("source"), col("n_chars"))
      .join(logit, "doc_id").join(rarity, "doc_id")
    graft.operators.Fusion.rrfTopK(sig, Seq("source"), "doc_id",
      Seq(("logit", "score_p12", true), ("rarity", "rarity_micro", false),
        ("len", "n_chars", true)), n = 5)
      .select(col("source"), col("rank_final"), col("doc_id"),
        col("rank_logit"), col("rank_rarity"), col("rank_len"),
        col("rrf_micro"))
      .orderBy(col("source"), col("rank_final"))
  }

  /** Linear quality-model inference (integer fixed-point — exact oracle). */
  def qualityLogit(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.logitQuality(Tables.documents(spark, dir), "doc_id", "text")
      .orderBy(col("doc_id"))

  /**
   * Quality-classifier training verdict — the distillation run end to
   * end: label every document with the rule-based Gopher gate, fit the
   * linear quality model on the four `text_stats` features by full-batch
   * GD ([[TextAnalysis.trainLogit]]: one aggregate per iteration,
   * 5-double model state), and gate (a) per-iteration loss monotonicity
   * (guaranteed by the sub-2/L step on standardized features; ulp slack
   * for summation-order variance) and (b) final agreement with the
   * teacher labels ≥ 0.9 — measured 0.976–0.982 at the three SFs against
   * a 0.766–0.782 majority base rate, so the gate proves the model
   * LEARNED (beats the majority class by ≥ 0.12) with margin on both
   * sides. 30 iterations: one aggregate each over the 5-column cached
   * projection — the standard distributed-logreg budget.
   */
  def qualityLogitTrain(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
    // NOTE (r13, measured): keep the label derivation a PLAIN in-plan
    // view. Two alternatives measured WORSE: scope-caching the label
    // frame under trainLogit's own feature cache made every training
    // iteration re-featurize as if the feature cache was never reused
    // (58 → 73-91 CPU-s at the ×10 probe scale; minimal nested-cache
    // shapes DO hit, so the trigger is subtle — pinned in
    // CacheScopeSpec), and a parquet label artifact adds fixed
    // write/read cost that dominates at the ×1 scale. The real cost was
    // repetitionStats' token-window sort inside the gopher branch,
    // fixed at the OPERATOR (row-local fold) — the in-plan derivation
    // is now cheap everywhere.
    val labeled = docs.join(
      TextAnalysis.gopherFilter(docs, "doc_id", "text")
        .select(col("doc_id"), col("keep").cast("int").as("label")),
      Seq("doc_id"))
    val iters = 30
    val (w, losses) = TextAnalysis.trainLogit(
      labeled, "doc_id", "text", "label", iters = iters, lr = 1.0)
    val agree = TextAnalysis.logitAgreement(labeled, "doc_id", "text", "label", w)
    val agreementOk = agree >= 0.9
    (1 to iters).map { i =>
      val nonInc = losses(i) <= losses(i - 1) * (1 + 1e-9) + 1e-12
      (i.toLong, nonInc, agreementOk)
    }.toDF("iter", "loss_non_increasing", "agreement_ok")
      .orderBy(col("iter"))
  }

  /** Padding-waste profile of length-bucketed batch shaping (pow2
    * buckets, capped at 512, integer-exact). */
  def packPaddingWaste(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Corpus.paddingWaste(Tables.documents(spark, dir), "text")

  /** Per-source tokenizer fertility + compression (integer micro-units). */
  def tokenFertility(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.tokenFertility(Tables.documents(spark, dir), "source", "text")

  /** Hard-negative mining: nearest different-label neighbors per query
    * vector (the contrastive-training negative sampler). */
  def simHardNegatives(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    Similarity.hardNegatives(emb, emb.filter(col("vec_id") < 5),
      "vec_id", "embedding", "label", k = 10)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        col("neighbor_label").cast("long").as("neighbor_label"))
  }

  /** Recall telemetry for the IVF hard-negative miner vs the exact one —
    * the number a user tunes nProbe/overfetch against. */
  def simRecallHardneg(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val queries = emb.filter(col("vec_id") < 5)
    recallVerdict(Similarity.recallAtK(
      Similarity.hardNegativesIvf(emb, queries, "vec_id", "embedding", "label",
        k = 10, nCells = 16, nProbe = 4, overfetch = 4),
      Similarity.hardNegatives(emb, queries, "vec_id", "embedding", "label", k = 10)))
  }

  /** Per-query candidate-shortfall telemetry for the IVF hard-negative
    * miner (same config as [[simRecallHardneg]]) — an undersized
    * overfetch shows up here as rows-returned < k, directly, not as an
    * unexplained recall dip. Oracled as a constant-verdict row set: the
    * fixture's overfetch=4 is sufficient for every query, so n_returned
    * = k and shortfall = 0 are DuckDB-reproducible constants. */
  def hardnegShortfall(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    Similarity.hardNegativesShortfall(emb, emb.filter(col("vec_id") < 5),
      "vec_id", "embedding", "label", k = 10, nCells = 16, nProbe = 4, overfetch = 4)
  }

  def textLangId(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.langId(Tables.documents(spark, dir), "text")
      .select(col("doc_id"), col("lang"), col("pred_lang"))
      .orderBy(col("doc_id"))

  /** Language-ID confusion matrix against the table's labeled `lang` —
    * the accuracy telemetry a curation run reports per build. */
  def langConfusion(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.langId(Tables.documents(spark, dir), "text")
      .groupBy(col("lang"), col("pred_lang"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(col("lang"), col("pred_lang"))

  /** Mixed-language screen: langid per document half, disagreements
    * flagged (code-switched / concatenated-crawl detector). */
  def langMixed(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.langMixed(Tables.documents(spark, dir), "doc_id", "text")
      .select(col("doc_id"), col("lang_a"), col("lang_b"), col("mixed"))
      .orderBy(col("doc_id"))

  /** Token counting: whitespace tokens + BPE-ish subword estimate
    * (alphanumeric runs + punctuation marks each count once). */
  def textTokenCount(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).select(
      col("doc_id"),
      TextAnalysis.tokenCount(col("text")).as("ws_tokens"),
      TextAnalysis.subwordCount(col("text")).as("subword_tokens"))
      .orderBy(col("doc_id"))

  /** Fingerprint EQUALITY SEMANTICS, oracled: the 64-bit rolling-hash
    * value itself is not SQL-expressible, but fingerprint equality ⟺
    * case/whitespace-normalized-text equality (absent collisions), and
    * DuckDB can recompute THAT — so the query emits each doc's
    * fingerprint-group representative and group size instead of the raw
    * hash. A collision, a dropped normalization step, or
    * nondeterminism all flip the oracle red; the raw-hash behavior
    * (collapse on planted dups, avalanche) stays pinned in specs. */
  def textFingerprint(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("fp"))
    TextAnalysis.fingerprint(Tables.documents(spark, dir), "text")
      .select(col("doc_id"),
        min(col("doc_id")).over(w).as("rep_id"),
        count(lit(1)).over(w).as("group_n"))
      .orderBy(col("doc_id"))
  }

  // --- unicode lexical contract ---

  /** Mixed-script derivation shared by the unicode-contract rows: each
    * doc carries (a slice of) its fixture text plus a per-id non-Latin
    * phrase — Han (no separators → per-char fallback), Cyrillic with
    * an UPPERCASE word (Unicode lowercasing), Japanese kana, Devanagari
    * with combining vowel marks and Devanagari digits (`\p{M}`,
    * `\p{Nd}` beyond ASCII), Arabic. Deliberately clear of the three
    * context-sensitive case mappings (İ, ß, final sigma) where Java and
    * utf8proc may disagree. Derived IN-QUERY so DuckDB rebuilds the
    * same column from the same parquet. */
  private[queries] val mixedPhrases = Seq(
    "中文网页的质量很高值得收录",
    "Русский Текст Москва 123",
    "日本語のテキストです",
    "मराठी भाषा देवनागरी १२३",
    "مرحبا بالعالم الكبير")

  private[queries] def withMixedText(df: DataFrame, full: Boolean): DataFrame =
    df.withColumn("mtext", concat(
      if (full) col("text") else substring(col("text"), 1, 120),
      lit(" "),
      element_at(array(mixedPhrases.map(lit): _*),
        (col("doc_id") % 5 + 1).cast("int"))))

  /** The per-doc stats of the UNICODE lexical contract next to the
    * ASCII one, plus an md5 of the exact unicode token sequence — the
    * row that pins `tokensUnicode`/`statsRowUnicode` (and so every
    * `unicode = true` consumer mode) against DuckDB's independent RE2
    * replay, mixed scripts included. The ASCII column doubles as the
    * documented old-contract behavior: non-Latin text contributes zero
    * tokens there. */
  def textTokenCountUnicode(spark: SparkSession, dir: String): DataFrame = {
    val st = graft.functions.text_stats(col("mtext"),
      TextAnalysis.stopwords, unicode = true)
    withMixedText(Tables.documents(spark, dir), full = false)
      .select(col("doc_id"),
        size(Dedup.tokens(col("mtext"))).cast("long").as("n_tokens_ascii"),
        st.getField("n_tokens").as("n_tokens_unicode"),
        st.getField("sum_token_len").as("sum_token_len"),
        st.getField("punct_chars").as("punct_chars"),
        st.getField("ws_tokens").as("ws_tokens"),
        st.getField("stopword_hits").as("stopword_hits"),
        md5(array_join(Dedup.tokensUnicode(col("mtext")), " ")).as("tok_digest"))
      .orderBy(col("doc_id"))
  }

  /** The five Gopher gates evaluated under the unicode contract over
    * the mixed-script column — CJK/Cyrillic/Indic content now counts
    * toward every metric instead of reading as 100% punctuation with
    * zero tokens (the ASCII mode's documented auto-reject). */
  def qualityGopherUnicode(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.gopherFilter(
      withMixedText(Tables.documents(spark, dir), full = false),
      "doc_id", "mtext", unicode = true)
      .orderBy(col("doc_id"))

  /** Fertility/compression telemetry under the unicode contract — the
    * multilingual tokenizer-health metric computed the way it must be
    * on a multilingual corpus (ASCII mode counts a CJK char as
    * punctuation-subword but its word as zero ws-tokens… and a pure-CJK
    * doc as fertility 0). */
  def tokenFertilityUnicode(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.tokenFertility(
      withMixedText(Tables.documents(spark, dir), full = false),
      "source", "mtext", unicode = true)

  /** [[dedupMinhashRecall]] under the unicode contract over the
    * mixed-script column: exact unicode-shingle Jaccard ≥ 0.85 pairs
    * (both engines recompute them independently — Spark through the
    * fused unicode kernel, DuckDB through the RE2 replay) flagged with
    * whether unicode-mode LSH banding surfaced them. The exact side
    * runs through [[Dedup.jaccardJoin]]'s PPJoin prefix filter (w = 3
    * unicode shingles) instead of the full shared-gram pair join — the
    * r15-flagged most-expensive-row fix: the prefix/positional bounds
    * are lossless at the 0.85 threshold, so the pair set and Jaccard
    * values are IDENTICAL, at a fraction of the collision rows. */
  def dedupMinhashUnicodeRecall(spark: SparkSession, dir: String): DataFrame = {
    val docs = withMixedText(Tables.documents(spark, dir), full = true)
    val exact = Dedup.jaccardJoin(docs, "mtext", "doc_id",
      threshold = 0.85, w = 3, unicode = true)
      .withColumnRenamed("jaccard", "jaccard_w3")
    val lsh = Dedup.minhashPairs(docs, "mtext", "doc_id",
      numHashes = 64, bands = 16, threshold = 0.5, unicode = true)
      .select(col("id_a"), col("id_b")).withColumn("__f", lit(true))
    exact.join(lsh, Seq("id_a", "id_b"), "left")
      .select(col("id_a"), col("id_b"), col("jaccard_w3"),
        coalesce(col("__f"), lit(false)).as("lsh_found"))
      .orderBy(col("id_a"), col("id_b"))
  }

  // --- multimodal ---

  /** Binary-column metadata pass: byte length + content digest computed on
    * the binary column (the oracle recomputes both from the source text —
    * verifying the cast→binary plumbing end-to-end). */
  def multimodalMeta(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Multimodal.assetTable(spark, dir)
      .select(col("asset_id"), col("modality"),
        length(col("content")).cast("long").as("byte_len"),
        md5(col("content")).as("digest"))
      .orderBy(col("asset_id"))

  /** Binary-column exact dedup: min-id survivor per content digest —
    * digests shuffle, asset bytes never do. Oracled. */
  def multimodalDedupExact(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Multimodal.assetDedupExact(
      graft.operators.Multimodal.assetTable(spark, dir))
      .select(col("asset_id"), col("modality"))
      .orderBy(col("asset_id"))

  /** Perceptual near-dup asset pairs over REAL decoded pixels: the
    * textured-PNG corpus plus a re-encoded (PNG→BMP, 2× nearest-upscale)
    * twin of every 100th asset, paired by DCT pHash + pigeonhole
    * banding. The twins share zero container bytes with their originals
    * — a byte-level hash cannot pair them; the perceptual hash must.
    * Rows-only (hash-valued signatures); the verdict twin below is the
    * driver-checked contract. */
  def multimodalNearDup(spark: SparkSession, dir: String): DataFrame = {
    // scoped persist: the fixture DAG (per-row PNG encode) is consumed by
    // both union branches — uncached it would re-encode per reference
    val assets = graft.CacheScope.scoped(
      graft.operators.Multimodal.texturedImageAssetTable(spark, dir))
    val twins = graft.operators.Multimodal.reencodedTwins(
      assets.filter(col("asset_id") % 100 === 0), idShift = 10000000L, scale = 2)
    graft.operators.Multimodal.assetNearDupPairs(
      assets.unionByName(twins), maxHamming = 6)
      .select(col("id_a"), col("id_b"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /**
   * Planted-pair verdict for perceptual near-dup assets: every 100th
   * textured PNG gets a twin at `asset_id + 10⁷` that is RE-ENCODED
   * (uncompressed BMP container) and RESIZED (2× nearest-neighbor) — no
   * shared bytes, same picture. [[graft.operators.Multimodal.phash64]]
   * normalizes both to the same 32×32 luma plane, so the pair must land
   * at hamming 0 ≤ maxHamming and the banding must emit it. The planted
   * list is pure SQL; one missed pair flips `pair_found`.
   */
  def multimodalNearDupVerdict(spark: SparkSession, dir: String): DataFrame = {
    // three consumers of the PNG-encoding fixture DAG (union branch,
    // twin source, planted list) — persist once, scoped release
    val assets = graft.CacheScope.scoped(
      graft.operators.Multimodal.texturedImageAssetTable(spark, dir))
    val planted = assets.filter(col("asset_id") % 100 === 0)
    val twins = graft.operators.Multimodal.reencodedTwins(
      planted, idShift = 10000000L, scale = 2)
    val found = graft.operators.Multimodal.assetNearDupPairs(
      assets.unionByName(twins), maxHamming = 6)
      .select(col("id_a"), col("id_b")).withColumn("__f", lit(true))
    planted
      .select(col("asset_id").as("id_a"),
        (col("asset_id") + 10000000L).as("id_b"))
      .join(found, Seq("id_a", "id_b"), "left")
      .select(col("id_a"), col("id_b"),
        coalesce(col("__f"), lit(false)).as("pair_found"))
      .orderBy(col("id_a"))
  }

  /** Full perceptual dedup over the textured corpus + re-encoded
    * 2×-upscaled twins: pairs → CC clusters → min-id survivors. Rows =
    * surviving asset ids; the verdict twin below is the driver gate. */
  def multimodalDedupPerceptual(spark: SparkSession, dir: String): DataFrame = {
    val assets = graft.CacheScope.scoped(
      graft.operators.Multimodal.texturedImageAssetTable(spark, dir))
    val twins = graft.operators.Multimodal.reencodedTwins(
      assets.filter(col("asset_id") % 100 === 0), idShift = 10000000L, scale = 2)
    graft.operators.Multimodal.assetDedupPerceptual(
      assets.unionByName(twins), maxHamming = 6)
      .select(col("asset_id"))
      .orderBy(col("asset_id"))
  }

  /**
   * Removal verdict for perceptual dedup: every re-encoded+resized twin
   * (planted at `asset_id + 10⁷`, HIGHER id than its original) must be
   * REMOVED by the min-id survivor rule — `twin_removed` is constant
   * TRUE over the pure-SQL planted list, and a missed pairing, a broken
   * closure, or an inverted survivor rule each flip it.
   */
  def multimodalDedupPerceptualVerdict(spark: SparkSession, dir: String): DataFrame = {
    val kept = graft.CacheScope.scoped(multimodalDedupPerceptual(spark, dir)
      .select(col("asset_id")).withColumn("__k", lit(true)))
    Tables.documents(spark, dir).filter(col("doc_id") % 100 === 0)
      .select(col("doc_id").as("id_a"),
        (col("doc_id") + 10000000L).as("id_b"))
      .join(kept.select(col("asset_id").as("id_b"),
        col("__k").as("__kb")), Seq("id_b"), "left")
      .join(kept.select(col("asset_id").as("id_a"),
        col("__k").as("__ka")), Seq("id_a"), "left")
      .select(col("id_a"), col("id_b"),
        coalesce(!col("__kb"), lit(true)).as("twin_removed"),
        coalesce(col("__ka"), lit(false)).as("original_kept"))
      .orderBy(col("id_a"))
  }

  /** REAL image resize, round-tripped through the REAL decoder and
    * DuckDB-oracled: `resizeImage` scales every solid-gray fixture PNG
    * to 8×8 and re-encodes; `decodeImage` then reads genuine pixels out
    * of the new container. A constant-fill source survives any
    * interpolation exactly, so `mean_px` must still equal
    * `doc_id % 256` — closed form, like the decode oracles. */
  def multimodalResize(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Multimodal.decodeImage(
      graft.operators.Multimodal.resizeImage(
        graft.operators.Multimodal.imageAssetTable(spark, dir),
        targetW = 8, targetH = 8))
      .select(col("asset_id"), col("width"), col("height"),
        col("format"), col("mean_px"))
      .orderBy(col("asset_id"))

  /** Paired image+caption training-set construction — the multimodal
    * join every vision-language data pipeline runs: decode each image
    * asset (REAL `decodeImage`: dims + pixel proof), join its caption
    * by id, and gate both sides (image area ≥ 8 px, caption ≥ 15
    * whitespace tokens) before emitting the pair row. Scale shape: the
    * decode is the per-partition codec layer; the join shuffles 8-byte
    * ids with small typed metadata (never content bytes — the caption
    * ships as md5); both gates are single-side predicates Catalyst
    * pushes below the join. Oracle: closed form — the fixture's dims
    * and fill are functions of doc_id, the caption stats pure SQL. */
  /** The UNSORTED gated-pair core shared by [[multimodalCaptionPairs]]
    * (which only adds the presentation sort) and [[pipelineVlPairs]]
    * (whose union/window would discard a sort anyway — inheriting the
    * sorted query would pay a needless full-order exchange). */
  private def captionPairsCore(spark: SparkSession, dir: String): DataFrame = {
    val decoded = graft.operators.Multimodal.decodeImage(
      graft.operators.Multimodal.imageAssetTable(spark, dir))
    val captions = Tables.documents(spark, dir).select(
      col("doc_id"),
      TextAnalysis.tokenCount(col("text")).cast("long").as("caption_tokens"),
      md5(col("text")).as("caption_digest"))
    decoded
      .join(captions, decoded("asset_id") === captions("doc_id"))
      .filter(col("width") * col("height") >= 8 && col("caption_tokens") >= 15)
      .select(col("asset_id").as("pair_id"), col("width"), col("height"),
        col("mean_px"), col("caption_tokens"), col("caption_digest"))
  }

  def multimodalCaptionPairs(spark: SparkSession, dir: String): DataFrame =
    captionPairsCore(spark, dir).orderBy(col("pair_id"))

  /** Composed vision-language dataset build — the end-to-end multimodal
    * flagship: decode+gate caption pairs ([[multimodalCaptionPairs]]) →
    * plant re-crawled duplicate pairs (every 50th pair id-shifted, same
    * caption+image — the union both engines replay) → keep-min exact
    * dedup on the caption digest (`row_number`=1; Spark 4 rewrites the
    * rank-filter to WindowGroupLimit, so partial top-1 runs map-side) →
    * deterministic 12.5% hash split (first md5 hex in {0,1} — stable
    * under re-runs and repartitioning) → per-split rollup of pair
    * count, caption tokens, pixel area. Every stage exchanges ids +
    * digests + small ints; content bytes never shuffle. */
  def pipelineVlPairs(spark: SparkSession, dir: String): DataFrame = {
    // scope-cached: both union arms consume the pairs — unpersisted,
    // the REAL ImageIO decode of every asset would run once per arm
    val pairs = graft.CacheScope.scoped(captionPairsCore(spark, dir))
    val planted = pairs.filter(col("pair_id") % 50 === 0)
      .withColumn("pair_id", col("pair_id") + lit(10000000L))
    val all = pairs.unionByName(planted)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("caption_digest")).orderBy(col("pair_id"))
    all.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1)
      // THE shared val-sixteenths rule (Corpus.splitByDigest) on the
      // precomputed digest — same buckets as trainValSplit by definition
      .withColumn("split",
        graft.operators.Corpus.splitByDigest(col("caption_digest"), 2))
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("caption_tokens")).as("sum_caption_tokens"),
        sum((col("width") * col("height")).cast("long")).as("sum_area"))
      .orderBy(col("split"))
  }

  /** REAL audio downsample, round-tripped through the REAL decoder and
    * DuckDB-oracled: 2× decimation keeps every even-index sample
    * exactly, so the re-encoded clip's rate (4000), sample count
    * (⌈n/2⌉) and sum of absolute amplitudes are all closed forms of
    * `doc_id` — the audio twin of `multimodal_resize`. */
  def multimodalAudioResample(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Multimodal.decodeAudio(
      graft.operators.Multimodal.resampleAudio(
        graft.operators.Multimodal.audioAssetTable(spark, dir), factor = 2))
      .select(col("asset_id"), col("sample_rate"), col("n_samples"),
        col("sum_abs"))
      .orderBy(col("asset_id"))

  /** REAL mixed-modality decode: one per-partition kernel over the
    * union of the PNG + WAV + AVI fixtures, dispatching each row by
    * container magic (never the modality label) to the matching
    * JDK-native codec — the production multimodal-pipeline shape (one
    * pass over a heterogeneous table). Every output cell is closed-form
    * in `doc_id`, so the oracle verifies all three codecs in one row
    * set. See [[graft.operators.Multimodal.decodeAny]]. */
  def multimodalFeatures(spark: SparkSession, dir: String): DataFrame = {
    val m = graft.operators.Multimodal
    val assets = m.imageAssetTable(spark, dir)
      .unionByName(m.audioAssetTable(spark, dir))
      .unionByName(m.videoAssetTable(spark, dir))
    m.decodeAny(assets).orderBy(col("modality"), col("asset_id"))
  }

  /** REAL image decode (javax.imageio over genuine PNG fixture bytes):
    * width/height from the decoded header, format from container
    * sniffing, mean_px from the decoded pixels — all DuckDB-oracled
    * against the deterministic ground-truth formulas the fixture was
    * built from. The one query where a binary codec is verified by SQL. */
  def multimodalDecode(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Multimodal.decodeImage(
      graft.operators.Multimodal.imageAssetTable(spark, dir))
      .select(col("asset_id"), col("width"), col("height"),
        col("format"), col("mean_px"))
      .orderBy(col("asset_id"))

  /** REAL image features — grayscale histogram over decoded pixels; on
    * the solid-gray fixture the oracle recomputes the exact one-hot
    * histogram (bin = gray/16, count = w·h) from doc_id arithmetic.
    * The 16-bin array is emitted comma-joined: the driver's compare
    * sorts rows with pandas, which cannot order an array cell — a
    * string carries the identical 16 values byte-for-byte. */
  /** REAL WAV/PCM decode over the generated audio fixture: container
    * metadata + the exact integer sum of absolute sample amplitudes,
    * oracled against pure doc_id arithmetic (the r5 PNG pattern for the
    * audio modality — see [[graft.operators.Multimodal.decodeAudio]]). */
  def multimodalFeaturesAudio(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Multimodal.decodeAudio(
      graft.operators.Multimodal.audioAssetTable(spark, dir))
      .orderBy(col("asset_id"))

  /** REAL AVI/RIFF video decode over the generated raw-DIB fixture:
    * header metadata (dims, fps, frame count) + two decoded-pixel proofs
    * (`first_px` catches an upside-down bottom-up decode, `sum_px` reads
    * every pixel of every frame) — all closed-form in `doc_id`, so the
    * oracle verifies the full container parse incl. the exact AVI byte
    * length (see [[graft.operators.Multimodal.decodeVideo]]). */
  def multimodalFeaturesVideo(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Multimodal.decodeVideo(
      graft.operators.Multimodal.videoAssetTable(spark, dir))
      .orderBy(col("asset_id"))

  def multimodalFeaturesImage(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Multimodal.imageHistogramFeatures(
      graft.operators.Multimodal.imageAssetTable(spark, dir))
      .select(col("asset_id"),
        concat_ws(",", col("features").cast("array<string>")).as("features"))
      .orderBy(col("asset_id"))

  /** The composed pretraining-corpus pipeline — the end-to-end story the
    * individual operators serve: exact dedup (min-id keeper) → quality
    * gates (length, punctuation, stopword presence) → language filter →
    * clean corpus. Dedup keys on md5(text), not the text itself: the
    * dedup exchange then hashes/sorts 16-byte digests instead of
    * multi-KB documents (the round-1 scale-killer in this query), while
    * staying oracle-expressible (DuckDB MD5 agrees bit-for-bit; a
    * collision changing the result needs ~2⁶⁴ docs). */
  def pipelineCorpus(spark: SparkSession, dir: String): DataFrame = {
    val deduped = Dedup.exactByKey(
      Tables.documents(spark, dir).withColumn("__k", md5(col("text"))),
      Seq("__k"), "doc_id").drop("__k")
    // quality gates first, language scoring only on survivors — the
    // filters are conjunctive, so ordering is a pure cost decision (the
    // 5-language marker scan is the most expensive stage)
    val qualityPass = TextAnalysis.qualityMetrics(deduped, "text")
      .filter(col("n_tokens") >= 10 &&
        col("punct_ratio") < 0.25 &&
        col("stopword_ratio") > 0.0)
    TextAnalysis.langId(qualityPass, "text")
      .filter(col("pred_lang") === "en")
      .select(col("doc_id"), col("n_tokens"), col("pred_lang"))
      .orderBy(col("doc_id"))
  }

  /** Second composed flagship — the corpus ASSEMBLY chain downstream of
    * [[pipelineCorpus]]'s cleaning: normalize-digest dedup (whitespace/
    * case variants collapse), quality gates, 3-gram benchmark
    * decontamination (drop the benchmark docs AND everything sharing a
    * gram), then best-first per-source token budgeting. Every stage is
    * SQL-expressible, so the whole composition carries ONE end-to-end
    * oracle — the strongest correctness statement available for a
    * multi-operator pipeline. */
  /** Third composed flagship, built from THIS round's operators:
    * temperature-2 mixture control → per-half language-purity screen →
    * context-window chunking → per-language shaping stats — the
    * "balance, purify, shape" tail of a pretraining build, verified by
    * ONE end-to-end SQL oracle composed from the same generated CTEs as
    * the stage queries (mix thresholds, marker table, stride grid — the
    * pipeline and its oracle cannot drift stage-by-stage). */
  def pipelineCorpusV3(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val balanced = Sampling.temperatureMix(docs, "lang", "doc_id")
    val screened = TextAnalysis.langMixed(balanced, "doc_id", "text")
      .filter(!col("mixed") && col("lang_a") =!= "und")
    val chunks = graft.operators.Corpus.chunkWindows(
      screened, "doc_id", "text", window = 64, overlap = 16,
      carryCols = Seq("lang"))
    chunks.groupBy(col("lang"))
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_chunks"),
        sum(col("chunk_tokens")).as("sum_tokens"))
      .orderBy(col("lang"))
  }

  /** Composed flagship v4 — the round-7 operator chain end-to-end:
    * learned-filter inference gates the pool, DSIR target-affinity ranks
    * what passed (target = the quality-passing src0 slice), the top 300
    * dedup exactly (md5 digest, min-id survivor), and the report is a
    * per-source counter rollup. Every stage is integer-exact, so ONE SQL
    * oracle checks the whole chain. */
  def pipelineCorpusV4(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    // scope-cached: kept feeds THREE consumers (targetAffinity's pool
    // scan, its src0 target slice, and the selection re-join) — uncached,
    // each re-runs the logit feature extraction over the whole corpus
    val kept = graft.CacheScope.scoped(
      TextAnalysis.logitQuality(docs, "doc_id", "text")
        .filter(col("keep")).select("doc_id")
        .join(docs, "doc_id"))
    val selected = Sampling.targetAffinity(kept,
        kept.filter(col("source") === "src0"), "doc_id", "text", topN = 300)
      .join(kept.select(col("doc_id"), col("source"), col("text")), "doc_id")
    val deduped = Dedup.exactByKey(
      selected.withColumn("__k", md5(col("text"))), Seq("__k"), "doc_id")
    deduped.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("sum_tokens"),
        sum(col("affinity_micro")).as("sum_affinity_micro"))
      .orderBy(col("source"))
  }

  /**
   * Composed flagship v5 — the RAW-FEED front end the earlier flagships
   * assumed away, end-to-end: a damaged JSONL drop (every 97th line
   * truncated) ingests through the quarantine reader, the ok lane
   * dedups with the quality-aware KEEP-BEST rule (longest copy per
   * fingerprint group), survivors pass the Gopher composite gate, and
   * the report rolls up per source — ingested / after-dedup /
   * quality-passing — plus the quarantine lane's own row. Every stage
   * is integer/boolean-exact, so ONE SQL oracle replays the whole
   * chain (ok-lane filter → keep-best window → gopher CTEs → rollup).
   */
  def pipelineCorpusV5(spark: SparkSession, dir: String): DataFrame = {
    val in = graft.CacheScope.scoped(graft.sources.JsonlCorpus.readQuarantined(
      spark, jsonlFixture(spark, dir, "graft-jsonl-v5")))
    val ok = in.filter(col("line_ok"))
      .select("doc_id", "text", "lang", "source", "n_chars")
    // surv feeds three consumers (its own rollup, the gopher gate, the
    // quality rollup's source lookup) — scope-cache the window output
    val surv = graft.CacheScope.scoped(Dedup.keepBestByKey(
      TextAnalysis.fingerprint(ok, "text"),
      Seq("fp"), "doc_id", better = length(col("text"))))
    val quality = TextAnalysis.gopherFilter(surv, "doc_id", "text")
      .filter(col("keep")).select("doc_id")
    val report = ok.groupBy(col("source"))
      .agg(count(lit(1)).as("n_ingested"))
      .join(surv.groupBy(col("source"))
        .agg(count(lit(1)).as("n_after_dedup")), Seq("source"), "left")
      .join(surv.join(quality, "doc_id").groupBy(col("source"))
        .agg(count(lit(1)).as("n_quality")), Seq("source"), "left")
      .select(col("source"), col("n_ingested"),
        coalesce(col("n_after_dedup"), lit(0L)).as("n_after_dedup"),
        coalesce(col("n_quality"), lit(0L)).as("n_quality"))
    val quarantined = in.filter(!col("line_ok"))
      .agg(count(lit(1)).as("n_ingested"))
      .select(lit("__quarantined").as("source"), col("n_ingested"),
        lit(0L).as("n_after_dedup"), lit(0L).as("n_quality"))
    report.unionByName(quarantined).orderBy(col("source"))
  }

  /**
   * Composed flagship v6 — the late-r10 curation chain end to end,
   * every stage integer/string-exact so ONE oracle replays the whole
   * dataflow: CCNet-shaped LM gate ([[graft.operators.Lm]]: bigram model
   * trained on the trusted src0 slice, keep mean micro-likelihood ≥
   * 32000) → order-insensitive bag dedup (sorted-token-multiset
   * fingerprint, min-id survivor) → per-source rollup of surviving
   * docs, token mass, and micro-likelihood mass. Scale shape: the gate
   * is two count joins + one aggregate, dedup one exchange on a 32-hex
   * digest, rollup one source-keyed aggregate — nothing corpus-sized
   * crosses the driver.
   */
  def pipelineCorpusV6(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val gated = Lm.likelihoodFilter(docs,
      docs.filter(col("source") === "src0"), thresholdMicro = 32000L)
      .filter(col("keep"))
      .select(col("doc_id"), col("n_bigrams"), col("score_micro"))
    val kept = docs.select(col("doc_id"), col("source"), col("text"))
      .join(gated, Seq("doc_id"))
    val surv = Dedup.exactByKey(
      kept.withColumn("bag_fp", Dedup.bagFingerprint(col("text"))),
      Seq("bag_fp"), "doc_id")
    surv.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_bigrams")).as("sum_tokens"),
        sum(col("score_micro")).as("sum_score_micro"))
      .orderBy(col("source"))
  }

  def pipelineCorpusV2(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val deduped = Dedup.exactByKey(
      docs.withColumn("__k", md5(TextAnalysis.normalize(col("text")))),
      Seq("__k"), "doc_id").drop("__k")
    val quality = TextAnalysis.qualityMetrics(deduped, "text")
      .filter(col("n_tokens") >= 10 && col("punct_ratio") < 0.25)
    val hits = graft.operators.Ngrams.decontaminate(docs, "doc_id", "text",
      benchmarkPred = col("doc_id") % 97 === 0, n = 3)
      .select(col("doc_id"))
    val clean = quality
      .filter(col("doc_id") % 97 =!= 0)
      .join(hits, Seq("doc_id"), "left_anti")
    graft.operators.Sampling.budgetSelect(clean,
      groupCol = "source", orderCol = "n_tokens", costCol = "n_tokens",
      idCol = "doc_id", budget = 1200L)
      .select(col("source"), col("doc_id"), col("n_tokens"), col("cum_cost"))
      .orderBy(col("source"), col("doc_id"))
  }

  // --- corpus preparation (split / shuffle / pack / redact) ---

  def corpusSplit(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Corpus.trainValSplit(
      Tables.documents(spark, dir), "text", valSixteenths = 2)
      .select(col("doc_id"), col("split"))
      .orderBy(col("doc_id"))

  /** Reproducible shuffle — the ROW ORDER is the result, so the query
    * keeps the shuffled order and the oracle reproduces it exactly. */
  def corpusShuffle(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Corpus.deterministicShuffle(
      Tables.documents(spark, dir), "doc_id", seed = "42")
      .select(col("doc_id"))

  def corpusPack(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Corpus.packSequences(
      Tables.documents(spark, dir), "doc_id", "text",
      budgetTokens = 2000L, shardCol = pmod(col("doc_id"), lit(4)))
      .select(col("doc_id"), col("shard"), col("n_tokens"), col("chunk_id"))
      .orderBy(col("doc_id"))

  /** Context-window chunking for fixed-context training/embedding: 64
    * canonical tokens per chunk, 16 carried over between neighbors. */
  def corpusChunk(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Corpus.chunkWindows(
      Tables.documents(spark, dir), "doc_id", "text",
      window = 64, overlap = 16)
      .orderBy(col("doc_id"), col("chunk_id"))

  /** Cross-document repeated 16-token blocks (license/boilerplate/nav
    * chrome surfacing as ONE aggregate row each — no pair explosion). */
  def dedupBlocks(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Corpus.repeatedBlocks(
      Tables.documents(spark, dir), "doc_id", "text",
      blockTokens = 16, minDocs = 2)
      .orderBy(col("block_digest"))

  def corpusRedact(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Corpus.redactPii(Tables.documents(spark, dir), "text")
      .select(col("doc_id"), col("n_emails"), col("n_phones"),
        md5(col("clean_text")).as("clean_digest"))
      .orderBy(col("doc_id"))

  // --- temporal ---

  /** As-of join: each click event picks up the user's latest purchase
    * value at-or-before the click. Right side pre-aggregated per (user,
    * ts) so the at-equal-ts match is deterministic. */
  /** Daily gap-fill resample of each user's event values — the
    * densification pass that turns sporadic observations into a regular
    * series (slot max, forward-filled; integer-exact, oracled). */
  def tsResampleFfill(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Temporal.resampleForwardFill(
      Tables.events(spark, dir), "user_id", "ts", "value", stepSeconds = 86400L)
      .orderBy(col("user_id"), col("slot"))

  def asofJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val clicks = ev.filter(col("event_type") === "click")
      .select("user_id", "ts", "event_id")
    val purchases = ev.filter(col("event_type") === "purchase")
      .groupBy(col("user_id"), col("ts"))
      .agg(max(col("value")).as("purchase_value"))
    graft.operators.Temporal.asofJoin(clicks, purchases, "user_id", "ts",
      Seq("purchase_value"))
      .select(col("user_id"), col("event_id"), col("ts"), col("purchase_value"))
      .orderBy(col("user_id"), col("event_id"))
  }

  /** Hot-key-safe as-of join (same semantics, salted window partitions —
    * the 100×-scale path when one key dominates the event volume). Same
    * oracle as asof_join: the salting must be invisible in the result. */
  /** Forward direction: each click matched to the FIRST purchase at or
    * after it (next-touch attribution), DuckDB forward-ASOF oracle. */
  def asofJoinForward(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val clicks = ev.filter(col("event_type") === "click")
      .select("user_id", "ts", "event_id")
    val purchases = ev.filter(col("event_type") === "purchase")
      .groupBy(col("user_id"), col("ts"))
      .agg(max(col("value")).as("purchase_value"))
    graft.operators.Temporal.asofJoinForward(clicks, purchases, "user_id", "ts",
      Seq("purchase_value"))
      .select(col("user_id"), col("event_id"), col("ts"), col("purchase_value"))
      .orderBy(col("user_id"), col("event_id"))
  }

  def asofJoinSalted(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val clicks = ev.filter(col("event_type") === "click")
      .select("user_id", "ts", "event_id")
    val purchases = ev.filter(col("event_type") === "purchase")
      .groupBy(col("user_id"), col("ts"))
      .agg(max(col("value")).as("purchase_value"))
    graft.operators.Temporal.asofJoinSalted(clicks, purchases, "user_id", "ts",
      Seq("purchase_value"), salts = 4)
      .select(col("user_id"), col("event_id"), col("ts"), col("purchase_value"))
      .orderBy(col("user_id"), col("event_id"))
  }

  /** Interval-containment join (no equi-key): clicks falling inside the
    * 10-minute window after each purchase, grid-bucketed so the theta
    * join becomes an equi-join on the time cell. */
  def intervalJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val intervals = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("interval_id"),
        col("ts").as("win_start"),
        (col("ts") + expr("INTERVAL 10 MINUTES")).as("win_end"))
    val points = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("point_id"), col("ts").as("click_ts"))
    graft.operators.Temporal.intervalJoin(
      intervals, points, "win_start", "win_end", "click_ts", cellSeconds = 600L)
      .select(col("interval_id"), col("point_id"))
      .orderBy(col("interval_id"), col("point_id"))
  }

  // --- event analytics ---

  /** Conversion funnel: users whose first purchase strictly follows their
    * first signup (one conditional-aggregate pass, no self-join). */
  def funnelSignupPurchase(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("user_id"))
      .agg(
        min(when(col("event_type") === "signup", col("ts"))).as("first_signup"),
        min(when(col("event_type") === "purchase", col("ts"))).as("first_purchase"))
      .filter(col("first_signup").isNotNull && col("first_purchase").isNotNull &&
        col("first_purchase") > col("first_signup"))
      .orderBy(col("user_id"))

  /** Week-over-week cohort retention: distinct active users per week who
    * are also active the following week (the events fixture spans one
    * month, so weeks are the natural cohort grain). Formulated as
    * lead()-over-window rather than a self-join: referencing the distinct
    * user-week frame twice re-executes its whole DAG per reference; the
    * window reads it once, and "active next week" ⇔ the user's next
    * distinct active week is exactly m + 7 days. */
  def retentionWeekly(spark: SparkSession, dir: String): DataFrame = {
    val um = Tables.events(spark, dir)
      .select(col("user_id"),
        date_trunc("week", col("ts")).cast(org.apache.spark.sql.types.TimestampNTZType).as("m"))
      .distinct()
    val byUser = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("m").asc)
    um.withColumn("__next", lead(col("m"), 1).over(byUser))
      .filter(col("__next") === col("m") + expr("INTERVAL 7 DAYS"))
      .groupBy(col("m"))
      .agg(count(lit(1)).as("retained"))
      .select(col("m").as("cohort_month"), col("retained"))
      .orderBy(col("cohort_month"))
  }

  // --- sessionization ---

  /** REAL frame sampling with CONTENT verification: every 2nd frame the
    * strict AVI parser actually decoded, with per-frame decoded pixel
    * statistics. The fixture's frame `f` of asset `id` is solid gray
    * `(id·7 + f·13) mod 256` at `(id%11+1)×(id%6+1)` — every output
    * cell is closed-form in `doc_id`, so DuckDB verifies the sampled
    * frames' CONTENT (decoded means and sums), not just counts. */
  def multimodalFrames(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Multimodal.sampleVideoFrames(
      graft.operators.Multimodal.videoAssetTable(spark, dir), stride = 2)
      .orderBy(col("asset_id"), col("frame_no"))

  def sessionAssign(spark: SparkSession, dir: String): DataFrame =
    Sessionize.assign(Tables.events(spark, dir))
      .select(col("user_id"), col("event_id"), col("ts"), col("session_seq"))
      .orderBy(col("user_id"), col("event_id"))

  def sessionStats(spark: SparkSession, dir: String): DataFrame =
    Sessionize.sessionStats(Tables.events(spark, dir))
      .orderBy(col("user_id"), col("session_seq"))

  /** SCD2-style state history: per-user runs of equal event_type with
    * observed bounds and the next-run `valid_to` chain. */
  def stateRuns(spark: SparkSession, dir: String): DataFrame =
    Sessionize.stateRuns(Tables.events(spark, dir))
      .orderBy(col("user_id"), col("run_seq"))

  /** Watermarked tumbling-window stream as a driver-oracled row (the
    * [[sessionStreamStats]] pattern): hour windows are epoch-aligned in
    * both engines (`window('1 hour')` ≡ `date_trunc('hour', …)`), sums
    * ride the DECIMAL(12,2) convention, so the streamed rows hash-match
    * SQL ground truth exactly. */
  def streamTumblingCounts(spark: SparkSession, dir: String): DataFrame = {
    import graft.streaming.EventStreams
    val streamed = EventStreams.runToBatch(spark,
      EventStreams.tumblingCounts(EventStreams.readEvents(spark, dir)),
      "graft_tumbling_stream_q", outputMode = "complete")
    streamed.select(col("win_start").cast("timestamp_ntz").as("win_start"),
      col("event_type"), col("n"), col("sum_value"))
      .orderBy(col("win_start"), col("event_type"))
  }

  /**
   * STREAMING sessionization as a DRIVER-ORACLED row — the first
   * streaming surface DuckDB value-checks end to end: the registered
   * query actually RUNS the watermarked `session_window` stream
   * ([[graft.streaming.EventStreams.sessionStats]]) over the fixture to
   * completion (memory sink, complete mode — the bounded-fixture
   * verification harness; production uses update mode + a real sink)
   * and emits the streamed rows themselves. The oracle recomputes
   * session windows from `events` with session_window's EXACT
   * semantics — `session_end = last ts + gap`, and an event at exactly
   * `prev + gap` starts a NEW session (window end is exclusive), i.e.
   * `>=` in the gap test where the batch Sessionize family uses `>`.
   * A state-machine bug, a watermark mis-fire, or a merge-semantics
   * drift in the streaming path hash-fails against SQL ground truth.
   */
  def sessionStreamStats(spark: SparkSession, dir: String): DataFrame = {
    import graft.streaming.EventStreams
    val streamed = EventStreams.runToBatch(spark,
      EventStreams.sessionStats(EventStreams.readEvents(spark, dir)),
      "graft_session_stream_q", outputMode = "complete")
    // LTZ → NTZ for the oracle compare: value-preserving under the UTC
    // session pin readEvents enforces
    streamed.select(col("user_id"),
      col("session_start").cast("timestamp_ntz").as("session_start"),
      col("session_end").cast("timestamp_ntz").as("session_end"),
      col("n_events"), col("sum_value"))
      .orderBy(col("user_id"), col("session_start"))
  }

  /** Stream-stream join under the value oracle: each click joined to the
    * same user's purchases in the preceding 10-minute window
    * ([[graft.streaming.EventStreams.clickPurchaseJoin]] — watermarked on
    * BOTH sides so join state is eviction-bounded), run to completion and
    * emitted as-is; DuckDB replays the identical inequality join over
    * `events`. A dropped/duplicated match, a boundary error on either
    * inequality, or a watermark that evicts live rows hash-fails.
    * `purchase_value` passes through unchanged (no summation), so raw
    * doubles are hash-safe. */
  def streamClickAttribution(spark: SparkSession, dir: String): DataFrame = {
    import graft.streaming.EventStreams
    // 4h lookback (vs the 10-minute API default): the fixture's click→
    // purchase co-occurrence is sparse, and the oracle should exercise
    // hundreds of matches, not a handful
    // skipNoDataBatches: an inner stream-stream join's matches all emit
    // in the data batch; the trailing no-data batch only evicts state a
    // run-to-completion replay is about to discard — and re-opens every
    // state store to do it (the measured local-mode cost is in
    // runToBatch's doc). Output rows are identical; oracle-checked.
    val streamed = EventStreams.runToBatch(spark,
      EventStreams.clickPurchaseJoin(EventStreams.readEvents(spark, dir),
        lookback = "4 hours", watermark = "5 hours"),
      "graft_click_join_q", outputMode = "append", skipNoDataBatches = true)
    streamed.select(col("click_id"), col("user_id"),
      col("click_ts").cast("timestamp_ntz").as("click_ts"),
      col("purchase_ts").cast("timestamp_ntz").as("purchase_ts"),
      col("purchase_value"))
      // (click_id, purchase_ts) can tie only for equal-value duplicate
      // purchase rows, so the sort is total up to identical rows
      .orderBy(col("click_id"), col("purchase_ts"), col("purchase_value"))
  }

  /** [[graft.streaming.EventStreams.clickPurchaseJoin]] at its API
    * DEFAULTS (10-minute lookback, 1-hour watermark) under the value
    * oracle — the sibling row `stream_click_attribution` exercises the
    * same join at a 4-hour lookback, but the default-parameter surface
    * (the one a caller gets without thinking about windows) deserves its
    * own row: a boundary error that only bites at short lookbacks (e.g.
    * an off-by-one on `purchase_ts >= click_ts - lookback`) changes THIS
    * match set while leaving the 4-hour one statistically unmoved.
    * DuckDB replays the identical inequality join over `events`. */
  def streamClickPurchase(spark: SparkSession, dir: String): DataFrame = {
    import graft.streaming.EventStreams
    val streamed = EventStreams.runToBatch(spark,
      EventStreams.clickPurchaseJoin(EventStreams.readEvents(spark, dir)),
      "graft_click_purchase_q", outputMode = "append",
      skipNoDataBatches = true) // inner join: see streamClickAttribution
    streamed.select(col("click_id"), col("user_id"),
      col("click_ts").cast("timestamp_ntz").as("click_ts"),
      col("purchase_ts").cast("timestamp_ntz").as("purchase_ts"),
      col("purchase_value"))
      .orderBy(col("click_id"), col("purchase_ts"), col("purchase_value"))
  }

  /** `mapGroupsWithState` under the value oracle: per-user running
    * totals ([[graft.streaming.EventStreams.runningTotals]] — the custom
    * state-store API, exact-cents state so accumulation order cannot
    * perturb the double). Update mode re-emits a user's row every
    * micro-batch it appears in; `n_events` is strictly increasing per
    * user, so max-per-user selects the FINAL state row deterministically
    * regardless of how the file source sliced the batches. The oracle is
    * the plain per-user aggregate under the DECIMAL(12,2) convention. */
  def streamRunningTotals(spark: SparkSession, dir: String): DataFrame = {
    import graft.streaming.EventStreams
    val streamed = EventStreams.runToBatch(spark,
      EventStreams.runningTotals(spark, EventStreams.readEvents(spark, dir)),
      "graft_totals_stream_q", outputMode = "update")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("n_events").desc)
    streamed.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).drop("rn")
      .orderBy(col("user_id"))
  }

  /**
   * The STREAMING corpus-ingest pipeline as a driver row — the
   * [[graft.streaming.CorpusStream.cleanIngest]] stage (quality gate →
   * content digest → cross-batch stateful dedup) actually RUNS over the
   * documents file stream to completion. The emitted surface is the
   * admitted DIGEST SET (+ each text's token count): identical on the
   * stream and batch paths by the operator's contract — which doc_id
   * survives per digest is first-arrival on the stream and deliberately
   * unspecified in batch, so the id is NOT part of the checked surface.
   * DuckDB recomputes the set from `documents` with the gate's
   * cross-multiplied integer form (`punct*4 < n_chars` ⟺
   * `punct_ratio < 0.25` exactly — integer rationals can't round onto
   * the threshold at fixture magnitudes). A gate drift, a dropped or
   * double-admitted batch, or a dedup-state bug hash-fails.
   */
  def streamCleanIngest(spark: SparkSession, dir: String): DataFrame = {
    import graft.streaming.{CorpusStream, EventStreams}
    val streamed = EventStreams.runToBatch(spark,
      CorpusStream.cleanIngest(CorpusStream.readDocuments(spark, dir)),
      "graft_clean_ingest_q", outputMode = "append")
    streamed.select(col("digest"), col("n_tokens")).orderBy(col("digest"))
  }

  /**
   * The exactly-once streaming shard writer as a driver row — the
   * [[graft.streaming.CorpusStream.appendShards]] foreachBatch recipe
   * actually RUNS over the documents file stream into per-batch parquet
   * dirs, is RESTARTED against the same checkpoint with no new input
   * (must write nothing — the exactly-once half the spec pins, here
   * surfaced as a driver-checked gate column), and the union of all
   * batch dirs is read back into per-source id-ordered digest chains
   * DuckDB recomputes from `documents` alone. A dropped or duplicated
   * micro-batch, a non-idempotent replay, or a corrupted round-trip
   * hash-fails.
   */
  def streamShardAppend(spark: SparkSession, dir: String): DataFrame = {
    import graft.streaming.CorpusStream
    val base = graft.TmpCleanup.perProcessDir("graft-stream-shard", dir)
    graft.TmpCleanup.register(base)
    // re-entries within one process (bench warm-up + timed passes) must
    // re-stream, not no-op against the prior pass's checkpoint — same
    // discipline as shardSinkRoundtrip
    graft.TmpCleanup.wipe(base)
    val out = s"$base/out"; val ckpt = s"$base/ckpt"
    def projected = CorpusStream.readDocuments(spark, dir)
      .select(col("doc_id"), col("source"), md5(col("text")).as("dg"))
    val q = CorpusStream.appendShards(projected, out, ckpt)
    try q.processAllAvailable() finally q.stop()
    // restart on the same checkpoint, no new input: the exactly-once
    // contract says NOTHING lands — compare the full recursive listing
    def listing(): Set[(String, Long)] = {
      val root = new org.apache.hadoop.fs.Path(out)
      val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
      // a missing output root means the stream processed ZERO files —
      // a silently-empty source (the pathGlobFilter failure mode), not
      // a legitimately empty corpus; say so instead of FileNotFound
      require(fs.exists(root),
        s"streamShardAppend: stream wrote no batches under $out — " +
          "the documents source matched no files")
      val it = fs.listFiles(root, true)
      val b = Set.newBuilder[(String, Long)]
      while (it.hasNext) { val f = it.next(); b += ((f.getPath.toString, f.getLen)) }
      b.result()
    }
    val before = listing()
    val q2 = CorpusStream.appendShards(projected, out, ckpt)
    try q2.processAllAvailable() finally q2.stop()
    val restartWroteNothing = listing() == before
    spark.read.parquet(out)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        md5(concat_ws("",
          transform(array_sort(collect_list(struct(col("doc_id"), col("dg")))),
            x => x.getField("dg")))).as("digest_chain"))
      .withColumn("restart_wrote_nothing", lit(restartWroteNothing))
      .orderBy(col("source"))
  }

  /**
   * The streaming anomaly monitor as a driver row —
   * [[graft.streaming.AnomalyStream.zscoreFlags]] runs to completion
   * over the events file stream (one micro-batch on this fixture, so
   * the carried-state fold order equals the batch (ts, id) window
   * order) and the flags land under the SAME DuckDB replay as the batch
   * twin `ts_anomaly` — the exact-integer cents kernel, trailing-50
   * window, k=3, minObs=20. The cross-batch state carry has its own
   * spec (AnomalyStreamSpec); this row pins the streamed flag SET
   * value-for-value against relational SQL.
   */
  def streamAnomalyFlags(spark: SparkSession, dir: String): DataFrame = {
    import graft.streaming.{AnomalyStream, EventStreams}
    val flags = AnomalyStream.zscoreFlags(spark,
      EventStreams.readEvents(spark, dir))
    EventStreams.runToBatch(spark, flags.toDF(),
      "graft_anomaly_stream_q", outputMode = "append")
      .select(col("event_id"), col("series").as("event_type"),
        // LTZ → NTZ under the UTC session pin, or the parquet artifact
        // carries a tz annotation and hash-mismatches the oracle
        col("ts").cast("timestamp_ntz").as("ts"), col("value"))
      .orderBy(col("event_id"))
  }

  /**
   * The Kafka-shaped DSv2 source as a driver row: the offset-planned
   * STREAM (micro-batches of 120 rows per partition via admission
   * control) runs to completion and must deliver exactly the rows of
   * the full-range BATCH_READ replay — `stream_equals_batch` is the
   * two-sided exceptAll emptiness check, and the structural per-
   * partition facts (contiguous offsets 0..499, one record per second
   * from the 2024-01-01 epoch) replay in DuckDB from `generate_series`
   * alone. A skipped/re-read offset range, a partition mixup, or a
   * timestamp derivation drift hash-fails.
   */
  def streamEventlogReplay(spark: SparkSession, dir: String): DataFrame = {
    import graft.streaming.EventStreams
    val opts = Map("topic" -> "events", "partitions" -> "4",
      "totalPerPartition" -> "500", "batchRows" -> "120")
    val cols = Seq("partition", "offset", "key", "value", "timestamp")
    val streamed = EventStreams.runToBatch(spark,
      spark.readStream.format("graft.sources.v2.EventLogSource")
        .options(opts).load(),
      "graft_eventlog_stream_q", outputMode = "append")
      .select(cols.map(col): _*)
    val batch = spark.read.format("graft.sources.v2.EventLogSource")
      .options(opts).load()
      .select(cols.map(col): _*)
    val equal = streamed.exceptAll(batch).isEmpty &&
      batch.exceptAll(streamed).isEmpty
    streamed.groupBy(col("partition"))
      .agg(count(lit(1)).as("n_records"),
        min(col("offset")).as("min_offset"),
        max(col("offset")).as("max_offset"),
        countDistinct(col("offset")).as("n_distinct_offsets"),
        min(col("timestamp")).cast("timestamp_ntz").as("min_ts"),
        max(col("timestamp")).cast("timestamp_ntz").as("max_ts"))
      .withColumn("stream_equals_batch", lit(equal))
      .orderBy(col("partition"))
  }

  /**
   * JSONL corpus ingest with corrupt-line quarantine — the raw-feed
   * reality check: a deterministic JSONL fixture is written with every
   * 97th line TRUNCATED mid-record (the classic damaged-upload shape,
   * still embedding its doc_id), then read back through
   * [[graft.sources.JsonlCorpus.readQuarantined]]. Output proves BOTH
   * lanes end-to-end: ok rows carry md5 of the round-tripped text
   * (JSON escaping must be lossless), quarantined rows carry md5 of the
   * PRESERVED RAW LINE and their doc_id recovered from it — DuckDB
   * recomputes both digests from `documents` alone, so a reader that
   * dropped, truncated, or re-encoded a quarantined line hash-fails.
   */
  /** Writes the deterministic damaged-feed JSONL fixture (every 97th
    * line truncated mid-record, id still embedded) and returns its path
    * — shared by the ingest query and the v5 flagship. */
  private def jsonlFixture(spark: SparkSession, dir: String, tag: String): String = {
    val path = graft.TmpCleanup.perProcessDir(tag, dir)
    graft.TmpCleanup.register(path)
    Tables.documents(spark, dir).select(
      when(col("doc_id") % 97 === 0,
        concat(lit("{\"doc_id\": "), col("doc_id").cast("string"),
          lit(", \"text\": BROKEN")))
        .otherwise(to_json(struct(col("doc_id"), col("text"), col("lang"),
          col("source"), col("n_chars")))).as("value"))
      .write.mode("overwrite").text(path)
    path
  }

  /**
   * ShardSink → `_MANIFEST` → ShardReader round trip as a driver row —
   * the transactional WRITE surface end-to-end (the manifest protocol
   * itself, not just JSONL bytes): a digest projection of `documents` is
   * written through the V2 two-phase-commit sink in TWO sequential
   * append jobs (so the manifest MERGE is on the checked path), read
   * back VIA the manifest, and folded to per-bucket digests DuckDB
   * recomputes from `documents` alone. A sink that dropped, duplicated,
   * half-published, or re-encoded a shard hash-fails; `manifest_ok`
   * additionally gates the manifest's promised row count against the
   * actual read.
   */
  def shardSinkRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val out = graft.TmpCleanup.perProcessDir("graft-shard-rt", dir)
    graft.TmpCleanup.register(out)
    // the sink is append-only by contract; re-entries within one process
    // (bench warm-up + timed passes) must rebuild, not re-append
    graft.TmpCleanup.wipe(out)
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), md5(col("text")).as("ld"))
    def append(half: DataFrame): Unit =
      half.write.format("graft.sources.v2.ShardSink")
        .option("path", out).mode("append").save()
    append(docs.filter(col("doc_id") % 2 === 0))
    append(docs.filter(col("doc_id") % 2 === 1))
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("ld", StringType)))
    val back = graft.sources.v2.ShardReader.read(spark, out, schema)
    val manifestOk =
      graft.sources.v2.ShardReader.manifestRowCount(spark, out) == back.count()
    back.groupBy((col("doc_id") % 8).as("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        md5(concat_ws("",
          transform(array_sort(collect_list(struct(col("doc_id"), col("ld")))),
            x => x.getField("ld")))).as("digest"))
      .withColumn("manifest_ok", lit(manifestOk))
      .orderBy(col("bucket"))
  }

  /**
   * Parquet-payload round trip — [[shardSinkRoundtrip]] over a COLUMNAR
   * table ([[graft.sources.v2.ShardPayload]], r16 verdict missing #4):
   * the same two-append build with `format=parquet`, so the whole
   * sidecar contract (manifest atomicity, stats, schema pin) runs over
   * parquet shards. `manifest_ok` additionally gates that every
   * manifested shard IS a `.parquet` file and the `_SCHEMA` pin reads
   * back `parquet` — a silently-jsonl table would still digest-match,
   * so the format claim is gated explicitly.
   */
  def shardSinkParquet(spark: SparkSession, dir: String): DataFrame = {
    val out = graft.TmpCleanup.perProcessDir("graft-shard-pq", dir)
    graft.TmpCleanup.register(out)
    graft.TmpCleanup.wipe(out)
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), md5(col("text")).as("ld"))
    def append(half: DataFrame): Unit =
      half.write.format("graft.sources.v2.ShardSink")
        .option("path", out)
        .option(graft.sources.v2.ShardPayload.OptionKey, "parquet")
        .mode("append").save()
    append(docs.filter(col("doc_id") % 2 === 0))
    append(docs.filter(col("doc_id") % 2 === 1))
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("ld", StringType)))
    val back = graft.sources.v2.ShardReader.read(spark, out, schema)
    val hadoopDir = new org.apache.hadoop.fs.Path(out)
    val fs = hadoopDir.getFileSystem(spark.sessionState.newHadoopConf())
    val manifestNames = scala.util.Using.resource(
      fs.open(new org.apache.hadoop.fs.Path(hadoopDir, "_MANIFEST"))) { in =>
      scala.io.Source.fromInputStream(in, "UTF-8").getLines()
        .filter(_.nonEmpty).map(_.split("\t")(0)).toSeq
    }
    val manifestOk =
      graft.sources.v2.ShardReader.manifestRowCount(spark, out) == back.count() &&
        graft.sources.v2.ShardPayload.of(fs, hadoopDir) == "parquet" &&
        manifestNames.nonEmpty && manifestNames.forall(_.endsWith(".parquet"))
    back.groupBy((col("doc_id") % 8).as("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        md5(concat_ws("",
          transform(array_sort(collect_list(struct(col("doc_id"), col("ld")))),
            x => x.getField("ld")))).as("digest"))
      .withColumn("manifest_ok", lit(manifestOk))
      .orderBy(col("bucket"))
  }

  /**
   * Pruned keyed point lookup over a PARQUET, range-laid, stats-carrying
   * table — [[shardReadByKey]]'s columnar twin: the shard-level prune
   * (only low-half shards read) compounds with the in-shard columnar
   * read. Same planted key set and `read_pruned` gate as the jsonl row,
   * so the two rows' oracles differ only in the payload under test.
   */
  def shardReadByKeyParquet(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.v2.{ShardDelete, ShardReader}
    val out = graft.TmpCleanup.perProcessDir("graft-shard-rbkpq", dir)
    graft.TmpCleanup.register(out)
    graft.TmpCleanup.wipe(out)
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), md5(col("text")).as("ld"))
    val mid = Tables.documents(spark, dir)
      .agg(max(col("doc_id"))).collect().head.getLong(0) / 2L
    def append(half: DataFrame): Unit =
      half.write.format("graft.sources.v2.ShardSink")
        .option("path", out).option("statsColumn", "doc_id")
        .option(graft.sources.v2.ShardPayload.OptionKey, "parquet")
        .mode("append").save()
    append(docs.filter(col("doc_id") <= mid))
    append(docs.filter(col("doc_id") > mid))
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("ld", StringType)))
    val keys = Tables.documents(spark, dir)
      .filter(col("doc_id") % 7 === 0 && col("doc_id") <= mid)
      .select(col("doc_id"))
      .union(spark.range(1).select(lit(-77L).as("doc_id")))
    val cands = ShardDelete.candidateShards(spark, out, schema, "doc_id", keys)
    val hadoopDir = new org.apache.hadoop.fs.Path(out)
    val statsRanges = graft.sources.v2.ShardStats.readIfExists(
      hadoopDir.getFileSystem(spark.sessionState.newHadoopConf()),
      hadoopDir).get.ranges
    val total = ShardReader.manifestShardCount(spark, out)
    val pruned = cands.nonEmpty && cands.size < total &&
      cands.forall(n => statsRanges(n).exists(_._2.toLong <= mid)) &&
      cands.forall(_.endsWith(".parquet"))
    ShardReader.readByKey(spark, out, schema, "doc_id", keys)
      .withColumn("read_pruned", lit(pruned))
      .orderBy(col("doc_id"))
  }

  /**
   * Compaction round trip — [[shardSinkRoundtrip]]'s maintenance twin:
   * after the two appends, [[ShardCompact.compact]] rewrites the
   * manifested shards as ONE consolidated file through the sink's own
   * two-phase commit and switches the manifest atomically; the
   * per-bucket digest chains must be IDENTICAL to the pre-compaction
   * derivation (DuckDB recomputes them from `documents`), and
   * `compacted_ok` gates that consolidation actually happened (≥ 2
   * shards → 1). A compactor that dropped, duplicated, or re-encoded a
   * row hash-fails.
   */
  def shardCompactRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.v2.{ShardCompact, ShardReader}
    val out = graft.TmpCleanup.perProcessDir("graft-shard-cp", dir)
    graft.TmpCleanup.register(out)
    graft.TmpCleanup.wipe(out)
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), md5(col("text")).as("ld"))
    def append(half: DataFrame): Unit =
      half.write.format("graft.sources.v2.ShardSink")
        .option("path", out).option("statsColumn", "doc_id")
        .mode("append").save()
    append(docs.filter(col("doc_id") % 2 === 0))
    append(docs.filter(col("doc_id") % 2 === 1))
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("ld", StringType)))
    val before = ShardReader.manifestShardCount(spark, out)
    val after = ShardCompact.compact(spark, out, schema, targetShards = 1)
    // layout gate: re-split to 4 RANGE-laid-out shards — each output
    // shard must cover a disjoint key range, so a single-key lookup
    // prunes to ≤ 1 shard (a hash repartition here would leave every
    // shard spanning the whole domain and silently kill the stats
    // prune); planted +2·10⁷ rows are then takedown'd over that layout
    // and the digest chain must read back the pristine derivation
    val planted = Tables.documents(spark, dir)
      .filter(col("doc_id") % 3 === 0)
      .select((col("doc_id") + 20000000L).as("doc_id"),
        md5(col("text")).as("ld"))
    append(planted.repartition(6)) // > targetShards, so the re-layout runs
    val nPlanted = planted.count()
    val relaid =
      ShardCompact.compact(spark, out, schema, targetShards = 4,
        sortBy = Some("doc_id")) == 4 && {
        val oneKey = spark.range(1).select(lit(0L).as("k"))
        graft.sources.v2.ShardDelete
          .candidateShards(spark, out, schema, "doc_id", oneKey).size <= 1
      }
    val removed = graft.sources.v2.ShardDelete.deleteByKey(
      spark, out, schema, "doc_id", planted.select(col("doc_id")))
    val compactedOk = before >= 2 && after == 1 && relaid &&
      removed == nPlanted
    val back = ShardReader.read(spark, out, schema)
    back.groupBy((col("doc_id") % 8).as("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        md5(concat_ws("",
          transform(array_sort(collect_list(struct(col("doc_id"), col("ld")))),
            x => x.getField("ld")))).as("digest"))
      .withColumn("compacted_ok", lit(compactedOk))
      .orderBy(col("bucket"))
  }

  /**
   * Widen-only schema evolution on the durable shard store
   * ([[graft.sources.v2.ShardSchema]]): the first append publishes the
   * table's authoritative `_SCHEMA`, a second appends rows carrying an
   * EXTRA column (the table widens in place, generation +1, zero rows
   * rewritten), and a schema-less [[graft.sources.v2.ShardReader
   * .readEvolved]] returns every row with the pre-widening shards
   * null-filled in the added column — exactly what DuckDB derives from
   * the documents table directly. `evolve_ok` additionally gates the
   * refusal side: an append that changes a known column's TYPE (the
   * JSONL silent-NULL corruption class) fails loud with the manifest
   * AND schema byte-identical.
   */
  def shardSchemaEvolution(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.v2.ShardReader
    val out = graft.TmpCleanup.perProcessDir("graft-shard-ev", dir)
    graft.TmpCleanup.register(out)
    graft.TmpCleanup.wipe(out)
    val docs = Tables.documents(spark, dir)
    def append(df: DataFrame): Unit =
      df.write.format("graft.sources.v2.ShardSink")
        .option("path", out).mode("append").save()
    // generation 1: two columns
    append(docs.filter(col("doc_id") % 2 === 0)
      .select(col("doc_id"), md5(col("text")).as("ld")))
    // generation 2: the odd half arrives with a NEW column
    append(docs.filter(col("doc_id") % 2 === 1)
      .select(col("doc_id"), md5(col("text")).as("ld"),
        col("n_chars").cast("long").as("n_chars")))
    val ts = ShardReader.tableSchema(spark, out)
    val widened = ts.fieldNames.toSeq == Seq("doc_id", "ld", "n_chars")
    // refusal gate: a type-changing append fails loud, layout intact
    val mfBefore = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(out, "_MANIFEST")), "UTF-8")
    val scBefore = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(out, "_SCHEMA")), "UTF-8")
    val refused = scala.util.Try(
      append(docs.limit(1).select(col("doc_id").cast("string").as("doc_id"),
        md5(col("text")).as("ld")))).isFailure
    val intact = refused &&
      new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(out, "_MANIFEST")), "UTF-8") == mfBefore &&
      new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(out, "_SCHEMA")), "UTF-8") == scBefore
    ShardReader.readEvolved(spark, out)
      .withColumn("evolve_ok", lit(widened && intact))
      .orderBy(col("doc_id"))
  }

  /**
   * Manifest-pruned keyed point lookup on the durable shard store
   * ([[graft.sources.v2.ShardReader.readByKey]]) — the serving-side
   * payoff of the `_STATS` ranges: two RANGE-split appends build the
   * table, then a lookup of a key set confined to the LOW id half
   * (`doc_id % 7 == 0 AND doc_id <= max/2`, plus a key matching
   * nothing) must return exactly those rows while READING only
   * low-range shards — `read_pruned` gates that every candidate
   * shard's stats range sits inside the low half and that high-range
   * shards were never opened. DuckDB derives the same rows straight
   * from the documents table.
   */
  def shardReadByKey(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.v2.{ShardDelete, ShardReader}
    val out = graft.TmpCleanup.perProcessDir("graft-shard-rbk", dir)
    graft.TmpCleanup.register(out)
    graft.TmpCleanup.wipe(out)
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), md5(col("text")).as("ld"))
    val mid = Tables.documents(spark, dir)
      .agg(max(col("doc_id"))).collect().head.getLong(0) / 2L
    def append(half: DataFrame): Unit =
      half.write.format("graft.sources.v2.ShardSink")
        .option("path", out).option("statsColumn", "doc_id")
        .mode("append").save()
    append(docs.filter(col("doc_id") <= mid))
    append(docs.filter(col("doc_id") > mid))
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("ld", StringType)))
    val keys = Tables.documents(spark, dir)
      .filter(col("doc_id") % 7 === 0 && col("doc_id") <= mid)
      .select(col("doc_id"))
      .union(spark.range(1).select(lit(-77L).as("doc_id")))
    val cands = ShardDelete.candidateShards(spark, out, schema, "doc_id", keys)
    val hadoopDir = new org.apache.hadoop.fs.Path(out)
    val statsRanges = graft.sources.v2.ShardStats.readIfExists(
      hadoopDir.getFileSystem(spark.sessionState.newHadoopConf()),
      hadoopDir).get.ranges
    val total = ShardReader.manifestShardCount(spark, out)
    val pruned = cands.nonEmpty && cands.size < total &&
      cands.forall(n => statsRanges(n).exists(_._2.toLong <= mid))
    ShardReader.readByKey(spark, out, schema, "doc_id", keys)
      .withColumn("read_pruned", lit(pruned))
      .orderBy(col("doc_id"))
  }

  /**
   * Keyed-delete round trip — [[shardSinkRoundtrip]]'s takedown twin
   * ([[graft.sources.v2.ShardDelete]]): two RANGE-split appends (ids ≤
   * max/2 and above) build the table with `_STATS` key ranges, then
   * `deleteByKey` removes a planted id set confined to the LOW half
   * (`doc_id % 11 == 3 AND doc_id <= max/2`, plus a key matching
   * nothing) — so hit DISCOVERY must prune to the low-range shards at
   * metadata level. The read-back digest chains must equal DuckDB's
   * NEVER-INGESTED derivation — copy-on-write applied, no survivor
   * lost, no deleted row leaking back through the manifest.
   * `delete_ok` additionally gates the exact deleted-row count, the
   * manifest row-count truth, re-run convergence (same keys → 0), AND
   * the prune itself: every candidate shard's stats range sits inside
   * the low half, with the high-range shards never read.
   */
  def shardDeleteRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.v2.{ShardDelete, ShardReader}
    val out = graft.TmpCleanup.perProcessDir("graft-shard-del", dir)
    graft.TmpCleanup.register(out)
    graft.TmpCleanup.wipe(out)
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), md5(col("text")).as("ld"))
    val mid = Tables.documents(spark, dir)
      .agg(max(col("doc_id"))).collect().head.getLong(0) / 2L
    def append(half: DataFrame): Unit =
      half.write.format("graft.sources.v2.ShardSink")
        .option("path", out).option("statsColumn", "doc_id")
        .mode("append").save()
    append(docs.filter(col("doc_id") <= mid))
    append(docs.filter(col("doc_id") > mid))
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("ld", StringType)))
    val keys = Tables.documents(spark, dir)
      .filter(col("doc_id") % 11 === 3 && col("doc_id") <= mid)
      .select(col("doc_id"))
      .union(spark.range(1).select(lit(-999L).as("doc_id")))
    // the manifest-stats prune: discovery may only READ low-half shards
    val cands = ShardDelete.candidateShards(spark, out, schema, "doc_id", keys)
    val hadoopDir = new org.apache.hadoop.fs.Path(out)
    val statsRanges = graft.sources.v2.ShardStats.readIfExists(
      hadoopDir.getFileSystem(spark.sessionState.newHadoopConf()),
      hadoopDir).get.ranges
    val total = ShardReader.manifestShardCount(spark, out)
    val pruneOk = cands.nonEmpty && cands.size < total &&
      cands.forall(n => statsRanges(n).exists(_._2.toLong <= mid))
    val deleted = ShardDelete.deleteByKey(spark, out, schema, "doc_id", keys)
    val rerun = ShardDelete.deleteByKey(spark, out, schema, "doc_id", keys)
    val expected = Tables.documents(spark, dir)
      .filter(col("doc_id") % 11 === 3 && col("doc_id") <= mid).count()
    val back = ShardReader.read(spark, out, schema)
    val deleteOk = pruneOk && deleted == expected && rerun == 0L &&
      graft.sources.v2.ShardReader.manifestRowCount(spark, out) == back.count()
    back.groupBy((col("doc_id") % 8).as("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        md5(concat_ws("",
          transform(array_sort(collect_list(struct(col("doc_id"), col("ld")))),
            x => x.getField("ld")))).as("digest"))
      .withColumn("delete_ok", lit(deleteOk))
      .orderBy(col("bucket"))
  }

  /**
   * DIGEST-keyed takedown on the durable shard table — the `_BLOOM`
   * sidecar's driver row ([[graft.sources.v2.ShardBloom]]): the r16
   * verdict's top item. The table is keyed by `md5(text)` — a content
   * digest, uniformly distributed, so every shard's `_STATS` [min,max]
   * spans the whole domain and the RANGE prune passes everything; only
   * the per-shard bloom can shrink hit discovery. Four residue-split
   * appends build the table with `bloomColumn=ld`; the takedown list is
   * a BOUNDED five-digest set planted in the residue-2 shard (plus one
   * never-written ghost digest), the realistic GDPR shape. `delete_ok`
   * gates: the bloom prune held (candidates strictly fewer than the
   * manifest, and within +1 false-positive of the shards that truly
   * contain a key — computed relationally from the source, not from the
   * store), the deleted count equals the source-side digest-match
   * count (duplicate texts delete EVERYWHERE — keyed semantics), the
   * re-run converges to 0, and the manifest row count stays truthful.
   * Read-back digest chains must equal DuckDB's store-less derivation.
   */
  def shardDeleteDigest(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.v2.{ShardDelete, ShardReader}
    val out = graft.TmpCleanup.perProcessDir("graft-shard-bloom", dir)
    graft.TmpCleanup.register(out)
    graft.TmpCleanup.wipe(out)
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), md5(col("text")).as("ld"))
    // ONE append job writing four residue shards (range partitioner on
    // the residue — deterministic boundaries on 4 distinct values), not
    // four jobs re-scanning the corpus: same shard-membership-by-residue
    // construction for the prune gate at a quarter of the lifecycle cost
    docs.withColumn("__r", col("doc_id") % 4)
      .repartitionByRange(4, col("__r")).drop("__r")
      .write.format("graft.sources.v2.ShardSink")
      .option("path", out)
      .option("bloomColumn", "ld")
      // 2^20 bits: ~4.8e-6 per-key FP at the sf0.1 shard size, so a
      // five-key takedown stays sharp at every fixture SF
      .option("bloomBits", (1 << 20).toString)
      .mode("append").save()
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("ld", StringType)))
    // the bounded takedown list: five digests planted in residue 2, one
    // ghost — deterministic (lowest ids), SF-independent size
    val keyIds = Tables.documents(spark, dir)
      .filter(col("doc_id") % 17 === 5 && col("doc_id") % 4 === 2)
      .orderBy(col("doc_id")).limit(5).select(col("doc_id"))
    val keys = Tables.documents(spark, dir)
      .join(keyIds, "doc_id").select(md5(col("text")).as("ld"))
      .union(spark.range(1).select(md5(lit("never-written-ghost")).as("ld")))
    // how many shards TRULY contain a key (duplicate texts can plant a
    // digest outside residue 2) — derived from the source, not the store
    val expectedHit = docs.join(keys, "ld")
      .select((col("doc_id") % 4).as("r")).distinct().count()
    val cands = ShardDelete.candidateShards(spark, out, schema, "ld", keys)
    val total = ShardReader.manifestShardCount(spark, out)
    val pruneOk = cands.nonEmpty && cands.size < total &&
      cands.size <= expectedHit + 1
    val expectedDel = docs.join(keys, "ld").count()
    val deleted = ShardDelete.deleteByKey(spark, out, schema, "ld", keys)
    val rerun = ShardDelete.deleteByKey(spark, out, schema, "ld", keys)
    val back = ShardReader.read(spark, out, schema)
    val deleteOk = pruneOk && deleted == expectedDel && rerun == 0L &&
      ShardReader.manifestRowCount(spark, out) == back.count()
    back.groupBy((col("doc_id") % 8).as("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        md5(concat_ws("",
          transform(array_sort(collect_list(struct(col("doc_id"), col("ld")))),
            x => x.getField("ld")))).as("digest"))
      .withColumn("delete_ok", lit(deleteOk))
      .orderBy(col("bucket"))
  }

  /**
   * MERGE-ON-READ takedown on the durable shard table
   * ([[graft.sources.v2.ShardDelete.deleteByKeyDeferred]] /
   * [[graft.sources.v2.ShardTombstones]]) — the metadata-sized delete
   * (r17 verdict #1): every %13==1 doc is tombstoned WITHOUT touching a
   * single data shard, half of them are re-added by a fresh append (the
   * shard-scoped segments must keep the re-inserts visible), and a
   * compaction materializes the tombstones. `forget_ok` gates the
   * PHYSICAL NO-REWRITE claim — manifest bytes and the (name, size)
   * set of every data file identical across the deferred delete — plus
   * the recorded-key count, the post-delete served count, segment
   * retirement after compaction, and restored manifest-count truth.
   * Read-back digest chains must equal DuckDB's store-less derivation
   * of "documents minus the takedown plus the re-adds".
   */
  /** The merge-on-read no-rewrite fingerprint, shared by every row
    * gating the physical claim ([[shardDeleteDeferred]],
    * [[PipelineQueries.pipelineCorpusV13]]): manifest bytes + the
    * (name, size) set of every data shard — identical across a
    * deferred delete iff zero shard I/O happened. */
  private[queries] def storePhysicalState(
      out: String): (String, Set[(String, Long)]) = {
    val d = new java.io.File(out)
    (scala.io.Source.fromFile(new java.io.File(d, "_MANIFEST")).mkString,
      d.listFiles().toSeq
        .filter(f => f.isFile && f.getName.startsWith("part-"))
        .map(f => (f.getName, f.length())).toSet)
  }

  def shardDeleteDeferred(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.v2.{ShardCompact, ShardDelete, ShardReader}
    val out = graft.TmpCleanup.perProcessDir("graft-shard-mor", dir)
    graft.TmpCleanup.register(out)
    graft.TmpCleanup.wipe(out)
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), md5(col("text")).as("ld"))
    docs.withColumn("__r", col("doc_id") % 4)
      .repartitionByRange(4, col("__r")).drop("__r")
      .write.format("graft.sources.v2.ShardSink")
      .option("path", out).option("statsColumn", "doc_id")
      .mode("append").save()
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("ld", StringType)))
    def physicalState(): (String, Set[(String, Long)]) =
      storePhysicalState(out)
    val src = Tables.documents(spark, dir)
    val delKeys = src.filter(col("doc_id") % 13 === 1).select(col("doc_id"))
    val nKeys = delKeys.count()
    val total = docs.count()
    val before = physicalState()
    val recorded = ShardDelete.deleteByKeyDeferred(
      spark, out, schema, "doc_id", delKeys)
    // THE merge-on-read claim: the takedown rewrote nothing — identical
    // manifest bytes, identical (name, size) data-file set
    val noRewrite = physicalState() == before
    val servedOk =
      ShardReader.read(spark, out, schema).count() == total - nKeys
    // fresh append re-adds the ODD takedown keys with a new payload:
    // shard-scoped segments must serve them immediately
    src.filter(col("doc_id") % 13 === 1 && col("doc_id") % 2 === 1)
      .select(col("doc_id"), md5(concat(lit("RE"), col("text"))).as("ld"))
      .write.format("graft.sources.v2.ShardSink")
      .option("path", out).option("statsColumn", "doc_id")
      .mode("append").save()
    // compaction materializes: segments retire, count truth restored
    ShardCompact.compact(spark, out, schema, targetShards = 4)
    val tombGone = !new java.io.File(out, "_TOMBSTONES").exists()
    val back = ShardReader.read(spark, out, schema)
    val forgetOk = noRewrite && recorded == nKeys && servedOk && tombGone &&
      ShardReader.manifestRowCount(spark, out) == back.count()
    back.groupBy((col("doc_id") % 8).as("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        md5(concat_ws("",
          transform(array_sort(collect_list(struct(col("doc_id"), col("ld")))),
            x => x.getField("ld")))).as("digest"))
      .withColumn("forget_ok", lit(forgetOk))
      .orderBy(col("bucket"))
  }

  /**
   * Keyed UPSERT round trip on the durable shard table — the MERGE INTO
   * twin of [[shardDeleteRoundtrip]] ([[graft.sources.v2.ShardDelete
   * .upsertByKey]]): build the table as two appended halves, upsert a
   * planted UPDATE set (every doc_id % 11 == 3 gets a new payload) plus
   * a planted INSERT set (synthetic doc_id + 10⁷ keys for doc_id % 101
   * == 0), re-run the SAME upsert (convergence: every key now matches
   * its own prior value, nothing inserts), and digest-chain the final
   * table against DuckDB's direct derivation — which never saw the
   * durable store at all. `upsert_ok` gates the (replaced, inserted)
   * counts of BOTH runs and manifest-count truth.
   */
  def shardUpsertRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.v2.{ShardDelete, ShardReader}
    val out = graft.TmpCleanup.perProcessDir("graft-shard-up", dir)
    graft.TmpCleanup.register(out)
    graft.TmpCleanup.wipe(out)
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), md5(col("text")).as("ld"))
    def append(half: DataFrame): Unit =
      half.write.format("graft.sources.v2.ShardSink")
        .option("path", out).option("statsColumn", "doc_id")
        .mode("append").save()
    append(docs.filter(col("doc_id") % 2 === 0))
    append(docs.filter(col("doc_id") % 2 === 1))
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("ld", StringType)))
    val src = Tables.documents(spark, dir)
    val updates = src.filter(col("doc_id") % 11 === 3)
      .select(col("doc_id"),
        md5(concat(lit("UPD"), col("text"))).as("ld"))
      .union(src.filter(col("doc_id") % 101 === 0)
        .select((col("doc_id") + 10000000L).as("doc_id"),
          md5(concat(lit("NEW"), col("text"))).as("ld")))
    val nUpd = src.filter(col("doc_id") % 11 === 3).count()
    val nIns = src.filter(col("doc_id") % 101 === 0).count()
    val (r1, i1) = ShardDelete.upsertByKey(spark, out, schema, "doc_id", updates)
    val (r2, i2) = ShardDelete.upsertByKey(spark, out, schema, "doc_id", updates)
    val back = ShardReader.read(spark, out, schema)
    val upsertOk = r1 == nUpd && i1 == nIns &&
      r2 == nUpd + nIns && i2 == 0L &&
      ShardReader.manifestRowCount(spark, out) == back.count()
    back.groupBy((col("doc_id") % 8).as("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        md5(concat_ws("",
          transform(array_sort(collect_list(struct(col("doc_id"), col("ld")))),
            x => x.getField("ld")))).as("digest"))
      .withColumn("upsert_ok", lit(upsertOk))
      .orderBy(col("bucket"))
  }

  /**
   * Snapshot time travel + keyed version diff on the durable shard
   * table ([[graft.sources.v2.ShardSnapshot]]): v1 = the pristine
   * table, v2 = after the planted upsert ([[shardUpsertRoundtrip]]'s
   * update/insert sets), v3 = after a keyed delete — then, AFTER all
   * mutations and a pin-respecting vacuum, the v1 view is read back
   * and digest-chained against DuckDB's derivation of the ORIGINAL
   * table (the time-travel claim: copy-on-write maintenance must not
   * reclaim what a live snapshot pins), and the v1→v2 / v2→v3 diffs
   * are classified per key. `vacuum_ok` gates that the vacuum run
   * under live pins left the v1 view bit-identical.
   */
  /**
   * Change-feed read on the durable store
   * ([[graft.sources.v2.ShardSnapshot.readChangesSince]]) — the CDC
   * increment (r16 verdict #8): build the table, snapshot v1, apply one
   * upsert wave (UPD payloads for %11==3, NEW inserts at +10⁷ for
   * %101==0) and one takedown wave (%13==1 of the ORIGINAL ids), then
   * ask for everything a downstream consumer must reprocess to catch up
   * from v1 — full current rows for added/changed keys, null-filled
   * tombstones for removed ones. DuckDB replays the same change set
   * relationally, never touching the store: a key both updated and
   * deleted must surface as removed, not changed.
   */
  def shardChangesSince(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.v2.{ShardDelete, ShardSnapshot}
    val out = graft.TmpCleanup.perProcessDir("graft-shard-cdc", dir)
    graft.TmpCleanup.register(out)
    graft.TmpCleanup.wipe(out)
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), md5(col("text")).as("ld"))
    def append(half: DataFrame): Unit =
      half.write.format("graft.sources.v2.ShardSink")
        .option("path", out).option("statsColumn", "doc_id")
        .mode("append").save()
    append(docs.filter(col("doc_id") % 2 === 0))
    append(docs.filter(col("doc_id") % 2 === 1))
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("ld", StringType)))
    val v1 = ShardSnapshot.create(spark, out)
    val src = Tables.documents(spark, dir)
    ShardDelete.upsertByKey(spark, out, schema, "doc_id",
      src.filter(col("doc_id") % 11 === 3)
        .select(col("doc_id"), md5(concat(lit("UPD"), col("text"))).as("ld"))
        .union(src.filter(col("doc_id") % 101 === 0)
          .select((col("doc_id") + 10000000L).as("doc_id"),
            md5(concat(lit("NEW"), col("text"))).as("ld"))))
    ShardDelete.deleteByKey(spark, out, schema, "doc_id",
      src.filter(col("doc_id") % 13 === 1).select(col("doc_id")))
    ShardSnapshot.readChangesSince(spark, out, schema, "doc_id", v1)
      .orderBy(col("doc_id"))
  }

  /**
   * Metadata-plane aggregate pushdown on the V2 relation
   * ([[graft.sources.v2.ShardScanBuilder]], r18): an unfiltered
   * `COUNT(*) / MIN(id) / MAX(id)` over the store answers from ONE
   * `_MANIFEST`/`_STATS` read — at 100 TB the difference between a
   * metadata RPC and a cluster-hour. `agg_ok` gates that the executed
   * plan is the metadata scan (`ShardAggScan`), that a FILTERED count
   * refuses the shortcut (exactness first), and that both agree with
   * each other. Values oracle against DuckDB's direct aggregate.
   */
  def shardAggPushdown(spark: SparkSession, dir: String): DataFrame = {
    val out = graft.TmpCleanup.perProcessDir("graft-v2-agg", dir)
    graft.TmpCleanup.register(out)
    graft.TmpCleanup.wipe(out)
    Tables.documents(spark, dir)
      .select(col("doc_id"), md5(col("text")).as("ld"))
      .repartitionByRange(4, col("doc_id"))
      .write.format("graft.sources.v2.ShardSink")
      .option("path", out).option("statsColumn", "doc_id")
      .option("format", "parquet")
      .mode("append").save()
    spark.read.format("graft.sources.v2.ShardSink").load(out)
      .createOrReplaceTempView("graft_agg_tbl")
    val meta = spark.sql(
      "SELECT COUNT(*) AS n, MIN(doc_id) AS lo, MAX(doc_id) AS hi " +
        "FROM graft_agg_tbl")
    val metaPushed = meta.queryExecution.executedPlan.toString
      .contains("graft.ShardAggScan")
    val filtered = spark.sql(
      "SELECT COUNT(*) AS n FROM graft_agg_tbl WHERE doc_id >= 0")
    val filteredFellBack = !filtered.queryExecution.executedPlan.toString
      .contains("graft.ShardAggScan")
    val r = meta.collect().head
    val aggOk = metaPushed && filteredFellBack &&
      r.getLong(0) == filtered.collect().head.getLong(0)
    meta.select(col("n"), col("lo"), col("hi"))
      .withColumn("agg_ok", lit(aggOk))
  }

  /**
   * MULTI-COLUMN sidecars on one table (r17 verdict's missing #4): the
   * store carries `_STATS` on the sequential id AND `_BLOOM` sections
   * on BOTH the id and the content digest (per-column geometry), so
   * point lookups prune by range∩bloom on `doc_id` while takedowns
   * prune by bloom on `ld` — the two realistic key classes served by
   * ONE table. `multicol_ok` gates both prunes observed (id lookup → 1
   * candidate of 4; digest takedown → ≤2 with a planted key + a
   * ghost), section survival through a digest-keyed copy-on-write
   * delete, and the id prune still sharp afterwards. Read-back digest
   * chains must equal DuckDB's derivation of documents minus the one
   * deleted digest.
   */
  def shardMulticolPrune(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.v2.{ShardDelete, ShardReader}
    val out = graft.TmpCleanup.perProcessDir("graft-multicol", dir)
    graft.TmpCleanup.register(out)
    graft.TmpCleanup.wipe(out)
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), md5(col("text")).as("ld"))
    docs.repartitionByRange(4, col("doc_id"))
      .write.format("graft.sources.v2.ShardSink")
      .option("path", out)
      .option("statsColumn", "doc_id")
      .option("bloomColumn", "doc_id,ld")
      .option("bloomBits", ((1 << 17).toString) + "," + ((1 << 20).toString))
      .mode("append").save()
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("ld", StringType)))
    // the id class: range ∩ bloom → exactly the one low-range shard
    val byId = ShardDelete.candidateShards(spark, out, schema, "doc_id",
      spark.range(3).select((col("id") * 2L + 1L).as("k")))
    // the digest class: one planted key (lowest doc), one ghost
    val src = Tables.documents(spark, dir)
    val planted = src.orderBy(col("doc_id")).limit(1)
      .select(md5(col("text")).as("ld"))
    val keys = planted
      .union(spark.range(1).select(md5(lit("multicol-ghost")).as("ld")))
    val byDigest = ShardDelete.candidateShards(spark, out, schema, "ld", keys)
    val pruneOk = byId.size == 1 && byDigest.nonEmpty && byDigest.size <= 2
    // digest-keyed CoW delete: every section must survive the merge and
    // the id prune stay sharp
    val expectedDel = docs.join(planted, "ld").count()
    val deleted = ShardDelete.deleteByKey(spark, out, schema, "ld", keys)
    val afterOk = deleted == expectedDel &&
      ShardDelete.candidateShards(spark, out, schema, "doc_id",
        spark.range(3).select((col("id") * 2L + 1L).as("k"))).size == 1
    val multicolOk = pruneOk && afterOk
    ShardReader.read(spark, out, schema)
      .groupBy((col("doc_id") % 8).as("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        md5(concat_ws("",
          transform(array_sort(collect_list(struct(col("doc_id"), col("ld")))),
            x => x.getField("ld")))).as("digest"))
      .withColumn("multicol_ok", lit(multicolOk))
      .orderBy(col("bucket"))
  }

  /**
   * The V2 READ relation as a driver row ([[graft.sources.v2
   * .ShardScanBuilder]], r17 verdict's missing #2): the parquet-format
   * store is served through `spark.read.format(...).load` and SQL over
   * a temp view — the path every Catalyst plan takes — with three
   * driver-checked gates: `pruned_ok` (a 3-key SQL IN-query plans
   * exactly ONE scan partition on the range-laid-out 4-shard table,
   * while the full scan plans 4 — the sidecar prune reached the plan),
   * `parity_ok` (the relation's rows ≡ [[ShardReader.readEvolved]]'s,
   * the imperative path), and the digest chain itself against DuckDB's
   * derivation that never saw the store.
   */
  def shardV2Read(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.v2.ShardReader
    val out = graft.TmpCleanup.perProcessDir("graft-v2-read", dir)
    graft.TmpCleanup.register(out)
    graft.TmpCleanup.wipe(out)
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), md5(col("text")).as("ld"))
    docs.repartitionByRange(4, col("doc_id"))
      .write.format("graft.sources.v2.ShardSink")
      .option("path", out).option("statsColumn", "doc_id")
      .option("format", "parquet")
      .mode("append").save()
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("ld", StringType)))
    val rel = spark.read.format("graft.sources.v2.ShardSink").load(out)
    rel.createOrReplaceTempView("graft_v2_tbl")
    val point = spark.sql(
      "SELECT doc_id, ld FROM graft_v2_tbl WHERE doc_id IN (1, 3, 5)")
    val prunedOk = point.rdd.getNumPartitions == 1 &&
      rel.rdd.getNumPartitions == 4 && point.count() == 3L
    def digest(df: DataFrame): String =
      df.agg(md5(concat_ws("",
        transform(array_sort(collect_list(struct(col("doc_id"), col("ld")))),
          x => x.getField("ld"))))).collect().head.getString(0)
    val parityOk = digest(rel) == digest(ShardReader.readEvolved(spark, out))
    rel.groupBy((col("doc_id") % 8).as("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        md5(concat_ws("",
          transform(array_sort(collect_list(struct(col("doc_id"), col("ld")))),
            x => x.getField("ld")))).as("digest"))
      .withColumn("pruned_ok", lit(prunedOk))
      .withColumn("parity_ok", lit(parityOk))
      .orderBy(col("bucket"))
  }

  /**
   * VERSION-WINDOWED CDC on the durable store
   * ([[graft.sources.v2.ShardSnapshot.readChanges]]) — the
   * `table_changes(v1, v2)` shape (r17 verdict's missing #3): three
   * retained snapshots bracket two mutation waves (v1 → upsert wave →
   * v2 → takedown wave → v3), and the two windowed feeds are read
   * BETWEEN RETAINED SNAPSHOTS — fully isolated from the live table.
   * The windows must be DISJOINT (a key changed in (v1,v2] and
   * untouched after appears only in w1) and COMPOSE (w1 then w2 applied
   * to a copy at v1 reconstructs v3 — the composition bit is proven by
   * `shard_changes_apply`'s machinery over the live feed; here DuckDB
   * replays both windows relationally, never touching the store).
   */
  def shardChangesWindow(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.v2.{ShardDelete, ShardSnapshot}
    val out = graft.TmpCleanup.perProcessDir("graft-cdc-win", dir)
    graft.TmpCleanup.register(out)
    graft.TmpCleanup.wipe(out)
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), md5(col("text")).as("ld"))
    docs.write.format("graft.sources.v2.ShardSink")
      .option("path", out).option("statsColumn", "doc_id")
      .mode("append").save()
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("ld", StringType)))
    val v1 = ShardSnapshot.create(spark, out)
    val src = Tables.documents(spark, dir)
    ShardDelete.upsertByKey(spark, out, schema, "doc_id",
      src.filter(col("doc_id") % 11 === 3)
        .select(col("doc_id"), md5(concat(lit("UPD"), col("text"))).as("ld"))
        .union(src.filter(col("doc_id") % 101 === 0)
          .select((col("doc_id") + 10000000L).as("doc_id"),
            md5(concat(lit("NEW"), col("text"))).as("ld"))))
    val v2 = ShardSnapshot.create(spark, out)
    ShardDelete.deleteByKey(spark, out, schema, "doc_id",
      src.filter(col("doc_id") % 13 === 1).select(col("doc_id")))
    val v3 = ShardSnapshot.create(spark, out)
    val w1 = ShardSnapshot.readChanges(spark, out, schema, "doc_id", v1, v2)
      .withColumn("w", lit("w1"))
    val w2 = ShardSnapshot.readChanges(spark, out, schema, "doc_id", v2, v3)
      .withColumn("w", lit("w2"))
    w1.unionByName(w2).orderBy(col("w"), col("doc_id"))
  }

  /**
   * CDC APPLY — the consumer half of [[shardChangesSince]]: a downstream
   * table materialized at snapshot v1 catches up to the evolved
   * upstream by applying ONLY the change feed (delete every touched
   * key, append the live rows) — no upstream re-read. `apply_ok` gates
   * bit-equality of the two tables' keyed digests afterwards: the feed
   * is SUFFICIENT to reconstruct the table, which is the whole CDC
   * contract (a feed that dropped a multi-copy twin, mis-classified an
   * updated-then-deleted key, or leaked a tombstone row would fail the
   * gate, and the digest chain against DuckDB's derivation would
   * hash-fail on top).
   */
  def shardChangesApply(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.v2.{ShardDelete, ShardReader, ShardSnapshot}
    val src = graft.TmpCleanup.perProcessDir("graft-cdc-src", dir)
    val dst = graft.TmpCleanup.perProcessDir("graft-cdc-dst", dir)
    Seq(src, dst).foreach { out =>
      graft.TmpCleanup.register(out)
      graft.TmpCleanup.wipe(out)
    }
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), md5(col("text")).as("ld"))
    def append(out: String, df: DataFrame): Unit =
      df.write.format("graft.sources.v2.ShardSink")
        .option("path", out).option("statsColumn", "doc_id")
        .mode("append").save()
    append(src, docs.filter(col("doc_id") % 2 === 0))
    append(src, docs.filter(col("doc_id") % 2 === 1))
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("ld", StringType)))
    val v1 = ShardSnapshot.create(spark, src)
    // the downstream copy, materialized at v1 (its one full read)
    append(dst, ShardSnapshot.read(spark, src, schema, v1))
    // upstream evolves: one upsert wave, one takedown wave
    val s = Tables.documents(spark, dir)
    ShardDelete.upsertByKey(spark, src, schema, "doc_id",
      s.filter(col("doc_id") % 11 === 3)
        .select(col("doc_id"), md5(concat(lit("UPD"), col("text"))).as("ld"))
        .union(s.filter(col("doc_id") % 101 === 0)
          .select((col("doc_id") + 10000000L).as("doc_id"),
            md5(concat(lit("NEW"), col("text"))).as("ld"))))
    ShardDelete.deleteByKey(spark, src, schema, "doc_id",
      s.filter(col("doc_id") % 13 === 1).select(col("doc_id")))
    // catch-up: the feed is the ONLY upstream data the consumer touches
    val feed = graft.CacheScope.scoped(
      ShardSnapshot.readChangesSince(spark, src, schema, "doc_id", v1))
    ShardDelete.deleteByKey(spark, dst, schema, "doc_id",
      feed.select(col("doc_id")))
    append(dst, feed.filter(col("change") =!= "removed")
      .select(col("doc_id"), col("ld")))
    // feed sufficiency: the two tables' keyed digests must now agree.
    // BOTH digests come out of ONE action over a union of tagged reads
    // (r20 — they were two separate full plan+action rounds), and the
    // dst read is scope-cached: the digest pass materializes it once and
    // the returned rollup reads the cache instead of scanning dst again.
    // An empty side contributes no group row: None == None keeps two
    // empty tables equal, one-sided emptiness stays unequal — the same
    // outcomes as the old md5-of-empty-concat comparison.
    // The two scoped caches, measured at sf0.1, local[4], 5 interleaved
    // pairs: 53 jobs against 68 uncached, Bench wall 3.17 vs 3.75 s
    // (medians; every cached run below every uncached one).
    val dstRows = graft.CacheScope.scoped(ShardReader.read(spark, dst, schema))
    val digest = md5(concat_ws("",
      transform(array_sort(collect_list(struct(col("doc_id"), col("ld")))),
        x => x.getField("ld"))))
    val digests = dstRows.withColumn("__t", lit("dst"))
      .unionByName(ShardReader.read(spark, src, schema)
        .withColumn("__t", lit("src")))
      .groupBy(col("__t")).agg(digest.as("__d"))
      .collect().map(r => (r.getString(0), r.getString(1))).toMap
    val applyOk = digests.get("dst") == digests.get("src")
    dstRows
      .groupBy((col("doc_id") % 8).as("bucket"))
      .agg(count(lit(1)).as("n_docs"), digest.as("digest"))
      .withColumn("apply_ok", lit(applyOk))
      .orderBy(col("bucket"))
  }

  def shardSnapshotDiff(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.v2.{ShardDelete, ShardSnapshot}
    val out = graft.TmpCleanup.perProcessDir("graft-shard-snap", dir)
    graft.TmpCleanup.register(out)
    graft.TmpCleanup.wipe(out)
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), md5(col("text")).as("ld"))
    def append(half: DataFrame): Unit =
      half.write.format("graft.sources.v2.ShardSink")
        .option("path", out).option("statsColumn", "doc_id")
        .mode("append").save()
    append(docs.filter(col("doc_id") % 2 === 0))
    append(docs.filter(col("doc_id") % 2 === 1))
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("ld", StringType)))
    val v1 = ShardSnapshot.create(spark, out)
    val src = Tables.documents(spark, dir)
    ShardDelete.upsertByKey(spark, out, schema, "doc_id",
      src.filter(col("doc_id") % 11 === 3)
        .select(col("doc_id"), md5(concat(lit("UPD"), col("text"))).as("ld"))
        .union(src.filter(col("doc_id") % 101 === 0)
          .select((col("doc_id") + 10000000L).as("doc_id"),
            md5(concat(lit("NEW"), col("text"))).as("ld"))))
    val v2 = ShardSnapshot.create(spark, out)
    ShardDelete.deleteByKey(spark, out, schema, "doc_id",
      ShardSnapshot.read(spark, out, schema, v2)
        .filter(col("doc_id") % 7 === 1).select(col("doc_id")))
    val v3 = ShardSnapshot.create(spark, out) // v3 ≡ the current table

    def tableDigest(df: DataFrame): (Long, String) = {
      val r = df.agg(count(lit(1)),
        md5(concat_ws("",
          transform(array_sort(collect_list(struct(col("doc_id"), col("ld")))),
            x => x.getField("ld"))))).collect().head
      (r.getLong(0), r.getString(1))
    }
    // the v1 view BEFORE vacuum, then a vacuum under live pins, then
    // the v1 view again — bit-equality is the pin contract
    val before = tableDigest(ShardSnapshot.read(spark, out, schema, v1))
    ShardSnapshot.vacuum(spark, out)
    val after = tableDigest(ShardSnapshot.read(spark, out, schema, v1))
    val vacuumOk = before == after

    def grouped(d: DataFrame, tag: String): DataFrame =
      d.groupBy(col("change"))
        .agg(count(lit(1)).as("n"),
          md5(concat_ws(",",
            transform(array_sort(collect_list(col("doc_id"))),
              x => x.cast("string")))).as("digest"))
        .select(lit(tag).as("tag"), col("change"), col("n"), col("digest"))
    val asof = ShardSnapshot.read(spark, out, schema, v1)
      .agg(count(lit(1)).as("n"),
        md5(concat_ws("",
          transform(array_sort(collect_list(struct(col("doc_id"), col("ld")))),
            x => x.getField("ld")))).as("digest"))
      .select(lit("v1_asof").as("tag"), lit("table").as("change"),
        col("n"), col("digest"))
    // materialize BEFORE retention — the rows below read snapshot views
    // whose files the retention pass reclaims
    val resultRows = asof
      .union(grouped(
        ShardSnapshot.diffByKey(spark, out, schema, "doc_id", 1, 2), "v1_v2"))
      .union(grouped(
        ShardSnapshot.diffByKey(spark, out, schema, "doc_id", 2, 3), "v2_v3"))
      .collect().toSeq
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getString(3)))

    // retention compliance, ONE audited call: retain(keepLast = 1) must
    // drop exactly v1+v2, reclaim their pinned ex-shards, leave the
    // current table and the kept snapshot bit-identical, make the
    // dropped versions fail LOUD, and never reuse a dropped number
    val ts = Seq(v1, v2, v3).map(v => ShardSnapshot.createdAt(spark, out, v))
    val current0 = tableDigest(
      graft.sources.v2.ShardReader.read(spark, out, schema))
    val keptV3 = tableDigest(ShardSnapshot.read(spark, out, schema, v3))
    val (dropped, reclaimed) = ShardSnapshot.retain(spark, out, keepLast = 1)
    val retainOk = ts.forall(_ > 0L) && ts == ts.sorted &&
      dropped == Seq(v1, v2) && reclaimed.nonEmpty &&
      tableDigest(ShardSnapshot.read(spark, out, schema, v3)) == keptV3 &&
      tableDigest(
        graft.sources.v2.ShardReader.read(spark, out, schema)) == current0 &&
      scala.util.Try(
        ShardSnapshot.read(spark, out, schema, v1).count()).isFailure &&
      ShardSnapshot.create(spark, out) == v3 + 1

    import spark.implicits._
    resultRows.toDF("tag", "change", "n", "digest")
      .withColumn("vacuum_ok", lit(vacuumOk))
      .withColumn("retain_ok", lit(retainOk))
      .orderBy(col("tag"), col("change"))
  }

  def corpusIngestJsonl(spark: SparkSession, dir: String): DataFrame = {
    val in = graft.sources.JsonlCorpus.readQuarantined(spark,
      jsonlFixture(spark, dir, "graft-jsonl"))
    in.select(
      coalesce(col("doc_id"),
        nullif(regexp_extract(col("_raw"), "\"doc_id\": (\\d+)", 1), lit(""))
          .cast("long")).as("doc_id"),
      when(col("line_ok"), lit("ok")).otherwise(lit("quarantined")).as("status"),
      when(col("line_ok"), md5(col("text"))).otherwise(md5(col("_raw")))
        .as("digest"))
      .orderBy(col("doc_id"))
  }

  /** Exact 3-day rolling distinct active users (contribution-expansion
    * shape; the fixture span is only a few days, so a 7-day window would
    * degenerate to cumulative). */
  def rollingActive(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Temporal.rollingActive(Tables.events(spark, dir),
      "user_id", "ts", windowDays = 3)
      .orderBy(col("window_end"))

  /** HLL rolling distinct — the sketch-union scale path of
    * [[rollingActive]], bounded-check oracled like the `agg_hll_*`
    * family: the exact rolling count rides along and DuckDB recomputes
    * it, with a constant-TRUE 5%-tolerance verdict (2-count absolute
    * floor for the sparse-mode small windows) on the estimate. */
  def rollingActiveHll(spark: SparkSession, dir: String): DataFrame = {
    val events = Tables.events(spark, dir)
    val exact = graft.operators.Temporal.rollingActive(
      events, "user_id", "ts", windowDays = 3)
    val approx = graft.operators.Temporal.rollingActiveHll(
      events, "user_id", "ts", windowDays = 3)
    exact.join(approx, Seq("window_end"))
      .select(col("window_end"), col("n_active"),
        (abs(col("n_active_approx") - col("n_active")) <=
          greatest(col("n_active").cast("double") * 0.05, lit(2.0)))
          .as("within_5pct"))
      .orderBy(col("window_end"))
  }

  /** Time-weighted average value per event series (integer-exact
    * cents×seconds accumulation, one IEEE division at the end). */
  def tsTwap(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Temporal.timeWeightedAvg(Tables.events(spark, dir),
      "event_type", "ts", "event_id", "value")
      .orderBy(col("event_type"))

  /** Market-basket rules over (user, event_type) baskets: exact pair
    * supports with IEEE-exact confidence/lift. */
  def assocRules(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Assoc.pairRules(Tables.events(spark, dir),
      "user_id", "event_type")
      .orderBy(col("item_a"), col("item_b"))

  /** Trailing-window z-score anomalies on the value stream, one series
    * per event_type — integer-exact cross-multiplied form (see the
    * operator doc for why the textbook float formulation can't oracle). */
  def tsAnomaly(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Anomaly.zscoreFlags(Tables.events(spark, dir),
      "event_type", "ts", "event_id", "value",
      windowRows = 50, k = 3, minObs = 20)
      .select(col("event_id"), col("event_type"), col("ts"), col("value"))
      .orderBy(col("event_id"))

  /** The logit oracle replays the DEFAULT LogitWeights — one source of
    * truth, so retuning the model cannot silently desync the SQL twin. */
  private val lw = graft.operators.TextAnalysis.LogitWeights()

  private val tokensSql =
    "list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> len(x) > 0)"

  /** DuckDB replay of the UNICODE lexical contract over column `c`
    * (same recipe as the langid twins): space-pad Han/Hiragana/Katakana,
    * lower, split on `[^\p{L}\p{M}\p{Nd}]+`, drop empties — RE2 and
    * Java interpret every class here identically. */
  private[queries] def tokensUniSql(c: String): String =
    s"list_filter(regexp_split_to_array(lower(regexp_replace($c, " +
      "'([\\p{Han}\\p{Hiragana}\\p{Katakana}])', ' \\1 ', 'g')), " +
      "'[^\\p{L}\\p{M}\\p{Nd}]+'), x -> len(x) > 0)"

  /** The mixed-script column of the unicode-contract rows, rebuilt in
    * SQL (must mirror `withMixedText` exactly). */
  private[queries] def mixedSqlExpr(full: Boolean): String = {
    val base = if (full) "text" else "SUBSTRING(text, 1, 120)"
    s"$base || ' ' || (['${mixedPhrases.mkString("', '")}'])" +
      "[CAST(doc_id % 5 AS INT) + 1]"
  }

  /** Unicode-mode punct count of a LOWERCASED string expr: code points
    * that are neither token-class (`\p{L}\p{M}\p{Nd}`) nor the pinned
    * ASCII whitespace class — `statsRowUnicode`'s third counter. */
  private def punctUniSql(lt: String): String =
    s"CAST(LENGTH(REGEXP_REPLACE($lt, " +
      "'[\\p{L}\\p{M}\\p{Nd} \\t\\n\\x0B\\f\\r]', '', 'g')) AS BIGINT)"

  /** Unicode-mode ws_tokens of a LOWERCASED string expr (maximal
    * non-ASCII-whitespace runs). */
  private def wsToksUniSql(lt: String): String =
    s"CAST(LEN(LIST_FILTER(STRING_SPLIT_REGEX($lt, " +
      "'[ \\t\\n\\x0B\\f\\r]+'), x -> LEN(x) > 0)) AS BIGINT)"

  /** Shared CTE block for the DSIR pair (`select_dsir`, `select_dsir_topk`):
    * target bigram model on the trusted `src0` slice, raw model on the
    * full pool, both Laplace-smoothed over the UNION vocabulary (floor
    * equalization — [[graft.operators.Dsir]]), per-doc micro scores under
    * each. Ends with a `w` CTE of (doc_id, n_bigrams, score_target_micro,
    * score_raw_micro). */
  private val dsirWeightsSql =
    s"""WITH t AS (SELECT doc_id, source, $tokensSql AS tk FROM documents),
       |pairs AS (
       |  SELECT doc_id, source,
       |    CASE WHEN i = 1 THEN '<s>' ELSE tk[i-1] END AS prev, tk[i] AS tok
       |  FROM (SELECT doc_id, source, tk,
       |          unnest(generate_series(1, len(tk))) AS i FROM t)),
       |bt AS (SELECT prev, tok, CAST(COUNT(*) AS BIGINT) AS c_t
       |       FROM pairs WHERE source = 'src0' GROUP BY 1, 2),
       |xt AS (SELECT prev, CAST(SUM(c_t) AS BIGINT) AS ctx_t FROM bt GROUP BY 1),
       |br AS (SELECT prev, tok, CAST(COUNT(*) AS BIGINT) AS c_r
       |       FROM pairs GROUP BY 1, 2),
       |xr AS (SELECT prev, CAST(SUM(c_r) AS BIGINT) AS ctx_r FROM br GROUP BY 1),
       |v AS (SELECT CAST(COUNT(DISTINCT tok) AS BIGINT) AS vocab FROM
       |       (SELECT tok FROM bt UNION ALL SELECT tok FROM br)),
       |sc AS (
       |  SELECT p.doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       |    CAST(SUM((COALESCE(bt.c_t, 0) + 1) * 1000000
       |      // (COALESCE(xt.ctx_t, 0) + v.vocab + 1)) AS BIGINT) AS sum_t,
       |    CAST(SUM((COALESCE(br.c_r, 0) + 1) * 1000000
       |      // (COALESCE(xr.ctx_r, 0) + v.vocab + 1)) AS BIGINT) AS sum_r
       |  FROM pairs p CROSS JOIN v
       |  LEFT JOIN bt ON bt.prev = p.prev AND bt.tok = p.tok
       |  LEFT JOIN xt ON xt.prev = p.prev
       |  LEFT JOIN br ON br.prev = p.prev AND br.tok = p.tok
       |  LEFT JOIN xr ON xr.prev = p.prev
       |  GROUP BY 1),
       |w AS (
       |  SELECT d.doc_id,
       |    COALESCE(n_bigrams, 0) AS n_bigrams,
       |    COALESCE(sum_t // n_bigrams, 0) AS score_target_micro,
       |    COALESCE(sum_r // n_bigrams, 0) AS score_raw_micro
       |  FROM documents d LEFT JOIN sc USING (doc_id))""".stripMargin

  // shared by asof_join and asof_join_salted — salting must not change results
  private val asofOracleSql =
    """SELECT l.user_id, l.event_id, l.ts, r.purchase_value
      |FROM (SELECT user_id, ts, event_id FROM events WHERE event_type = 'click') l
      |ASOF LEFT JOIN (
      |  SELECT user_id, ts, MAX(value) AS purchase_value
      |  FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts
      |) r ON l.user_id = r.user_id AND l.ts >= r.ts
      |ORDER BY l.user_id, l.event_id""".stripMargin

  /** Shared langId projection SQL — generated from the SAME marker table
    * the Spark operator uses, so the two can't drift; ties pick the
    * alphabetically-first language, matching TextAnalysis.langId's
    * negrank tie-break. Shared by text_langid and lang_confusion. */
  private lazy val langPredSql: String = {
    val langs = graft.operators.TextAnalysis.langMarkers.toSeq.sortBy(_._1)
    val tokCol =
      """LIST_FILTER(STRING_SPLIT_REGEX(
        |  REGEXP_REPLACE(LOWER(text), '(\p{Han})', ' \1 ', 'g'),
        |  '[^\p{L}0-9]+'), x -> LEN(x) > 0)""".stripMargin
    val hitCols = langs.map { case (l, ms) =>
      s"LEN(LIST_FILTER($tokCol, x -> x IN (${ms.map(m => s"'$m'").mkString(", ")}))) AS h_$l"
    }.mkString(",\n  ")
    val maxExpr = s"GREATEST(${langs.map(l => s"h_${l._1}").mkString(", ")})"
    val pick = langs.map { case (l, _) => s"WHEN h_$l = $maxExpr THEN '$l'" }.mkString(" ")
    s"""SELECT doc_id, lang,
       |  CASE WHEN $maxExpr <= 0 THEN 'und' $pick END AS pred_lang
       |FROM (SELECT doc_id, lang, text,
       |  $hitCols
       |  FROM documents)""".stripMargin
  }

  /** Per-half langid SQL (lang_mixed's oracle and the v3 pipeline's
    * purity stage) — same marker table and pick rule as [[langPredSql]],
    * scored over the two character-midpoint halves of `rel`'s
    * (doc_id, text) rows. */
  private def langMixedSqlFrom(rel: String): String = {
    val langs = graft.operators.TextAnalysis.langMarkers.toSeq.sortBy(_._1)
    def tokCol(c: String) =
      s"""LIST_FILTER(STRING_SPLIT_REGEX(
         |  REGEXP_REPLACE(LOWER($c), '(\\p{Han})', ' \\1 ', 'g'),
         |  '[^\\p{L}0-9]+'), x -> LEN(x) > 0)""".stripMargin
    def hitCols(c: String, sfx: String) = langs.map { case (l, ms) =>
      s"LEN(LIST_FILTER(${tokCol(c)}, x -> x IN (${ms.map(m => s"'$m'").mkString(", ")}))) AS h${sfx}_$l"
    }.mkString(",\n  ")
    def maxExpr(sfx: String) =
      s"GREATEST(${langs.map(l => s"h${sfx}_${l._1}").mkString(", ")})"
    def pick(sfx: String) =
      s"CASE WHEN ${maxExpr(sfx)} <= 0 THEN 'und' " +
        langs.map { case (l, _) => s"WHEN h${sfx}_$l = ${maxExpr(sfx)} THEN '$l'" }
          .mkString(" ") + " END"
    s"""SELECT doc_id, lang_a, lang_b,
       |  (lang_a <> 'und' AND lang_b <> 'und' AND lang_a <> lang_b) AS mixed
       |FROM (
       |  SELECT doc_id, ${pick("1")} AS lang_a, ${pick("2")} AS lang_b
       |  FROM (SELECT doc_id,
       |    ${hitCols("t1", "1")},
       |    ${hitCols("t2", "2")}
       |    FROM (SELECT doc_id,
       |      SUBSTRING(text, 1, LEN(text) // 2) AS t1,
       |      SUBSTRING(text, LEN(text) // 2 + 1) AS t2
       |    FROM $rel)))""".stripMargin
  }

  /** DuckDB side of [[dedupMinhashRecall]]: exact w=3 word-gram Jaccard
    * pairs at ≥ 0.85, with the constant-TRUE recall verdict. The gram
    * CTE mirrors the house tokenizer + lead()-window construction used
    * by the decontaminate oracle; DISTINCT matches the Spark side's
    * distinct shingle-hash set. */
  private val minhashRecallOracleSql =
    """WITH toks AS (
      |  SELECT doc_id,
      |    unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> len(x) > 0)) AS tok,
      |    unnest(range(1, len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> len(x) > 0)) + 1)) AS pos
      |  FROM documents),
      |ng AS (
      |  SELECT DISTINCT doc_id,
      |    tok || ' ' || LEAD(tok, 1) OVER w || ' ' || LEAD(tok, 2) OVER w AS g
      |  FROM toks WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
      |ngf AS (SELECT doc_id, g FROM ng WHERE g IS NOT NULL),
      |sz AS (SELECT doc_id, COUNT(*) AS n FROM ngf GROUP BY doc_id),
      |inter AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS i
      |  FROM ngf a JOIN ngf b ON a.g = b.g AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2)
      |SELECT id_a, id_b,
      |  i / CAST(sa.n + sb.n - i AS DOUBLE) AS jaccard_w3,
      |  TRUE AS lsh_found
      |FROM inter
      |JOIN sz sa ON sa.doc_id = inter.id_a
      |JOIN sz sb ON sb.doc_id = inter.id_b
      |WHERE i / CAST(sa.n + sb.n - i AS DOUBLE) >= 0.85
      |ORDER BY id_a, id_b""".stripMargin

  /** DuckDB side of the serve-path containment verdicts: every query
    * must return exactly ranks 1..10, each inside the exact top-50. */
  private val topkContainmentOracleSql =
    """SELECT CAST(vec_id AS BIGINT) AS query_id,
      |  CAST(unnest(range(1, 11)) AS BIGINT) AS rank,
      |  TRUE AS in_exact_top50
      |FROM embeddings WHERE vec_id < 5 ORDER BY query_id, rank""".stripMargin

  /** DuckDB side of both k-means verdicts (Lloyd monotonicity is
    * init-independent, so the farthest and k-means|| surfaces share it):
    * constant gates + the assignment cardinality pin. */
  private val kmeansVerdictOracleSql =
    """SELECT CAST(r AS BIGINT) AS iter,
      |  TRUE AS cost_non_increasing,
      |  (SELECT COUNT(*) FROM embeddings) AS n_points,
      |  TRUE AS clusters_le_k
      |FROM (SELECT unnest(range(1, 4)) AS r)
      |ORDER BY iter""".stripMargin

  /** DuckDB side of the planted-twin removal verdicts: the planted list
    * with the constant removal gate. */
  private val plantedTwinRemovedOracleSql =
    """SELECT doc_id AS id_a, doc_id + 10000000 AS id_b, TRUE AS twin_removed
      |FROM documents WHERE doc_id % 100 = 0 ORDER BY id_a""".stripMargin

  /** DuckDB side of the planted-copy serve verdicts: the query list
    * with the constant served-copy gate. */
  private val plantedCopyServeOracleSql =
    """SELECT CAST(vec_id AS BIGINT) AS query_id, TRUE AS copy_found
      |FROM embeddings WHERE vec_id < 5 ORDER BY query_id""".stripMargin

  private val recallOracleSql =
    """SELECT CAST(vec_id AS BIGINT) AS query_id,
      |  CAST(10 AS BIGINT) AS k_exact,
      |  TRUE AS family_recall_positive,
      |  TRUE AS hits_bounded
      |FROM embeddings WHERE vec_id < 5 ORDER BY query_id""".stripMargin

  val declarations: Seq[Q] = Seq(
    // no DuckDB oracle: checked by row count only
    Q("dedup_minhash_pairs", dedupMinhashPairs _),
    Q("multimodal_dedup_perceptual", multimodalDedupPerceptual _),
    Q("embed_pca_project", embedPcaProject _),
    Q("dedup_simhash_pairs", dedupSimhashPairs _),
    Q("dedup_ngram_jaccard", dedupNgramJaccard _),
    Q("dedup_minhash_keep", dedupMinhashKeep _),
    Q("dedup_minhash_cc", dedupMinhashCc _),
    Q("corpus_increment_neardup", corpusIncrementNearDup _),
    Q("sim_topk_lsh", simTopkLsh _),
    Q("sim_topk_ivf", simTopkIvf _),
    Q("sim_topk_pq", simTopkPq _),
    Q("sim_topk_ivfpq", simTopkIvfPq _),
    Q("sim_neardup", simNearDup _),
    Q("sim_semantic_dedup", simSemanticDedup _),
    Q("corpus_increment_embed", corpusIncrementEmbed _),
    Q("embed_kmeans", embedKmeans _),
    Q("embed_kmeans_par", embedKmeansPar _),
    Q("quality_compress", qualityCompress _),
    Q("multimodal_neardup", multimodalNearDup _),
    Q("dedup_exact", dedupExact _,
      """SELECT doc_id, lang, source FROM (
        |  SELECT doc_id, lang, source,
        |    ROW_NUMBER() OVER (PARTITION BY lang, source ORDER BY doc_id) AS rn
        |  FROM documents
        |) WHERE rn = 1 ORDER BY doc_id""".stripMargin),
    // exact join ⇒ brute-force all-pairs oracle; the single double
    // division (int/int sets) is bit-identical across engines
    Q("dedup_jaccard_join", dedupJaccardJoin _,
      s"""WITH tok AS (
         |  SELECT DISTINCT doc_id, t
         |  FROM (SELECT doc_id, unnest($tokensSql) AS t FROM documents)
         |), sz AS (SELECT doc_id, COUNT(*) AS n FROM tok GROUP BY doc_id),
         |inter AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS i
         |  FROM tok a JOIN tok b ON a.t = b.t AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2)
         |SELECT id_a, id_b,
         |  i / CAST(sa.n + sb.n - i AS DOUBLE) AS jaccard
         |FROM inter
         |JOIN sz sa ON sa.doc_id = inter.id_a
         |JOIN sz sb ON sb.doc_id = inter.id_b
         |WHERE i / CAST(sa.n + sb.n - i AS DOUBLE) >= 0.9
         |ORDER BY id_a, id_b""".stripMargin),
    // fingerprint equality ⟺ normalized-text equality: the fixture is
    // pure ASCII with space-only whitespace (verified), so the
    // fingerprint's fold (collapse space runs, trim ends, ASCII
    // lowercase) is exactly this expression
    Q("dedup_fingerprint", dedupFingerprint _,
      """SELECT doc_id FROM (
        |  SELECT doc_id, ROW_NUMBER() OVER (
        |    PARTITION BY TRIM(REGEXP_REPLACE(LOWER(text), ' +', ' ', 'g'))
        |    ORDER BY doc_id) AS rn
        |  FROM documents) WHERE rn = 1 ORDER BY doc_id""".stripMargin),
    // same normalized-equality bridge, survivor = longest raw text
    // (then min id) instead of min id
    Q("dedup_keep_best", dedupKeepBest _,
      """SELECT doc_id FROM (
        |  SELECT doc_id, ROW_NUMBER() OVER (
        |    PARTITION BY TRIM(REGEXP_REPLACE(LOWER(text), ' +', ' ', 'g'))
        |    ORDER BY LENGTH(text) DESC, doc_id) AS rn
        |  FROM documents) WHERE rn = 1 ORDER BY doc_id""".stripMargin),
    // same planted reversal, same sorted-multiset fingerprint — the
    // reversed twins MUST group with their originals
    Q("dedup_bag_groups", dedupBagGroups _,
      """WITH all_docs AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 40000000,
        |    array_to_string(list_reverse(string_split(text, ' ')), ' ')
        |  FROM documents WHERE doc_id % 100 = 0),
        |fp AS (
        |  SELECT doc_id,
        |    MD5(array_to_string(list_sort(list_filter(
        |      string_split_regex(lower(text), '[^a-z0-9]+'),
        |      x -> len(x) > 0)), ' ')) AS bag_fp
        |  FROM all_docs),
        |g AS (
        |  SELECT bag_fp, MIN(doc_id) AS group_rep, COUNT(*) AS group_size
        |  FROM fp GROUP BY bag_fp HAVING COUNT(*) >= 2)
        |SELECT g.group_rep, f.doc_id, g.group_size
        |FROM fp f JOIN g USING (bag_fp)
        |ORDER BY g.group_rep, f.doc_id""".stripMargin),
    Q("text_fingerprint", textFingerprint _,
      """SELECT doc_id,
        |  MIN(doc_id) OVER (
        |    PARTITION BY TRIM(REGEXP_REPLACE(LOWER(text), ' +', ' ', 'g'))
        |  ) AS rep_id,
        |  CAST(COUNT(1) OVER (
        |    PARTITION BY TRIM(REGEXP_REPLACE(LOWER(text), ' +', ' ', 'g'))
        |  ) AS BIGINT) AS group_n
        |FROM documents ORDER BY doc_id""".stripMargin),
    // every 2nd decoded AVI frame with its decoded pixel stats — the
    // fixture's closed ground-truth forms (frame f of asset id is solid
    // gray (id·7+f·13) mod 256 at (id%11+1)×(id%6+1)), so the oracle
    // verifies the parser sampled REAL frame content
    Q("multimodal_frames", multimodalFrames _,
      """WITH f AS (
        |  SELECT doc_id, UNNEST(range(0, doc_id % 5 + 2)) AS fr FROM documents)
        |SELECT doc_id AS asset_id, CAST(fr AS INT) AS frame_no,
        |  CAST(doc_id % 11 + 1 AS INT) AS width,
        |  CAST(doc_id % 6 + 1 AS INT) AS height,
        |  CAST((doc_id * 7 + fr * 13) % 256 AS INT) AS mean_px,
        |  (doc_id % 11 + 1) * (doc_id % 6 + 1) * ((doc_id * 7 + fr * 13) % 256) AS sum_px
        |FROM f WHERE fr % 2 = 0 ORDER BY asset_id, frame_no""".stripMargin),
    // decimation → decode round trip: every even-index sample of the
    // deterministic PCM fixture survives exactly, all closed forms
    Q("multimodal_audio_resample", multimodalAudioResample _,
      """WITH s AS (
        |  SELECT doc_id, UNNEST(range(0, doc_id % 50 + 10)) AS i FROM documents)
        |SELECT doc_id AS asset_id, CAST(4000 AS INT) AS sample_rate,
        |  CAST(COUNT(*) AS BIGINT) AS n_samples,
        |  CAST(SUM(ABS((doc_id * 31 + i * 17) % 2001 - 1000)) AS BIGINT) AS sum_abs
        |FROM s WHERE i % 2 = 0
        |GROUP BY doc_id ORDER BY asset_id""".stripMargin),
    // resize → decode round trip: a constant-fill image survives any
    // interpolation exactly, so the decoded 8×8 mean is still doc_id%256
    Q("multimodal_resize", multimodalResize _,
      """SELECT doc_id AS asset_id, CAST(8 AS INT) AS width,
        |  CAST(8 AS INT) AS height, 'png' AS format,
        |  CAST(doc_id % 256 AS INT) AS mean_px
        |FROM documents ORDER BY asset_id""".stripMargin),
    // paired construction, closed form: fixture dims/fill are functions
    // of doc_id, caption stats pure SQL — the decode+join must agree
    Q("multimodal_caption_pairs", multimodalCaptionPairs _,
      """WITH cap AS (
        |  SELECT doc_id,
        |    CAST(LEN(LIST_FILTER(STRING_SPLIT_REGEX(text, '\s+'),
        |      x -> LEN(x) > 0)) AS BIGINT) AS caption_tokens,
        |    MD5(text) AS caption_digest
        |  FROM documents)
        |SELECT doc_id AS pair_id,
        |  CAST(doc_id % 13 + 1 AS INT) AS width,
        |  CAST(doc_id % 7 + 1 AS INT) AS height,
        |  CAST(doc_id % 256 AS INT) AS mean_px,
        |  caption_tokens, caption_digest
        |FROM cap
        |WHERE (doc_id % 13 + 1) * (doc_id % 7 + 1) >= 8
        |  AND caption_tokens >= 15
        |ORDER BY pair_id""".stripMargin),
    // the composed VL build replayed end-to-end: same gates, same
    // planted union, same keep-min window, same hash split and rollup
    Q("pipeline_vl_pairs", pipelineVlPairs _,
      """WITH cap AS (
        |  SELECT doc_id,
        |    CAST(LEN(LIST_FILTER(STRING_SPLIT_REGEX(text, '\s+'),
        |      x -> LEN(x) > 0)) AS BIGINT) AS caption_tokens,
        |    MD5(text) AS caption_digest
        |  FROM documents),
        |base AS (
        |  SELECT doc_id AS pair_id,
        |    CAST(doc_id % 13 + 1 AS INT) AS width,
        |    CAST(doc_id % 7 + 1 AS INT) AS height,
        |    caption_tokens, caption_digest
        |  FROM cap
        |  WHERE (doc_id % 13 + 1) * (doc_id % 7 + 1) >= 8
        |    AND caption_tokens >= 15),
        |all_p AS (
        |  SELECT * FROM base
        |  UNION ALL
        |  SELECT pair_id + 10000000, width, height,
        |    caption_tokens, caption_digest
        |  FROM base WHERE pair_id % 50 = 0),
        |kept AS (
        |  SELECT *, ROW_NUMBER() OVER (
        |    PARTITION BY caption_digest ORDER BY pair_id) AS rn
        |  FROM all_p)
        |SELECT
        |  CASE WHEN SUBSTR(caption_digest, 1, 1) IN ('0', '1')
        |    THEN 'val' ELSE 'train' END AS split,
        |  COUNT(*) AS n_pairs,
        |  CAST(SUM(caption_tokens) AS BIGINT) AS sum_caption_tokens,
        |  CAST(SUM(CAST(width AS BIGINT) * height) AS BIGINT) AS sum_area
        |FROM kept WHERE rn = 1
        |GROUP BY 1 ORDER BY split""".stripMargin),
    // bounded-verdict oracles for the ANN recall telemetry: DuckDB
    // recomputes the exact side (query set, k_exact = 10 — every query
    // has ≥ 10 non-self corpus neighbors) and the constant-TRUE verdicts
    Q("dedup_minhash_recall", dedupMinhashRecall _, minhashRecallOracleSql),
    // planted twins are pure SQL: every 100th doc × three tokenizer-
    // invariant copies; the verdict column carries the simhash result
    Q("dedup_simhash_planted", dedupSimhashPlanted _,
      """SELECT CAST(doc_id AS BIGINT) AS id_a,
        |  CAST(doc_id + off AS BIGINT) AS id_b,
        |  TRUE AS twin_found
        |FROM (SELECT doc_id FROM documents WHERE doc_id % 100 = 0),
        |  (SELECT unnest([10000000, 20000000, 30000000]) AS off)
        |ORDER BY id_a, id_b""".stripMargin),
    Q("sim_topk_lsh_verdict", simTopkLshVerdict _, topkContainmentOracleSql),
    Q("sim_topk_ivf_verdict", simTopkIvfVerdict _, topkContainmentOracleSql),
    // planted-copy serve verdicts: an exact copy of the query planted
    // in the corpus achieves the minimal ADC distance and MUST be served
    Q("sim_topk_pq_verdict", simTopkPqVerdict _, plantedCopyServeOracleSql),
    Q("sim_topk_ivfpq_verdict", simTopkIvfPqVerdict _, plantedCopyServeOracleSql),
    // training verdict: descent is mathematically guaranteed (sub-2/L
    // step) and agreement must beat the majority base rate with margin
    Q("quality_logit_train", qualityLogitTrain _,
      """SELECT CAST(UNNEST(RANGE(1, 31)) AS BIGINT) AS iter,
        |  TRUE AS loss_non_increasing, TRUE AS agreement_ok
        |ORDER BY iter""".stripMargin),
    // durable-serve parity: the partition-pruned index path must equal
    // the in-memory plan rank-for-rank — a constant-TRUE gate per query
    Q("sim_topk_ivfpq_index_verdict", simTopkIvfPqIndexVerdict _,
      """SELECT CAST(vec_id AS BIGINT) AS query_id, TRUE AS served_equal
        |FROM embeddings WHERE vec_id < 5 ORDER BY query_id""".stripMargin),
    Q("sim_topk_ivf_index_verdict", simTopkIvfIndexVerdict _,
      """SELECT CAST(vec_id AS BIGINT) AS query_id, TRUE AS served_equal
        |FROM embeddings WHERE vec_id < 5 ORDER BY query_id""".stripMargin),
    // bounded-check verdict: the TV gates are constants the frozen-model
    // append + occupancy machinery must reproduce at every SF
    Q("ann_append_drift", annAppendDrift _,
      """SELECT 'same' AS polarity, FALSE AS drifted, TRUE AS append_ok
        |UNION ALL SELECT 'skew', TRUE, TRUE ORDER BY polarity""".stripMargin),
    // bounded-check verdict: deterministic sampled training must recover
    // the persisted model bit-for-bit from the corpus alone
    Q("ann_train_recovery", annTrainRecovery _,
      """SELECT 'cell' AS kind, CAST(16 AS BIGINT) AS n_vecs, TRUE AS refit_equal
        |UNION ALL SELECT 'codebook', 128, TRUE ORDER BY kind""".stripMargin),
    // planted-twin verdicts: the pair/survivor lists are pure SQL, the
    // boolean gates are constants the LSH/CC machinery must reproduce
    Q("sim_neardup_verdict", simNearDupVerdict _,
      """SELECT CAST(vec_id AS BIGINT) AS id_a,
        |  CAST(vec_id + 10000000 AS BIGINT) AS id_b,
        |  TRUE AS pair_found
        |FROM embeddings WHERE vec_id % 100 = 0 ORDER BY id_a""".stripMargin),
    Q("sim_semantic_dedup_verdict", simSemanticDedupVerdict _,
      """SELECT CAST(vec_id + 10000000 AS BIGINT) AS vec_id, FALSE AS kept
        |FROM embeddings WHERE vec_id % 100 = 0 ORDER BY vec_id""".stripMargin),
    Q("corpus_increment_embed_verdict", corpusIncrementEmbedVerdict _,
      """SELECT CAST(vec_id AS BIGINT) AS vec_id, FALSE AS admitted
        |FROM embeddings WHERE vec_id % 2 = 1 AND vec_id < 10
        |ORDER BY vec_id""".stripMargin),
    Q("dedup_minhash_keep_verdict", dedupMinhashKeepVerdict _, plantedTwinRemovedOracleSql),
    Q("dedup_minhash_cc_verdict", dedupMinhashCcVerdict _, plantedTwinRemovedOracleSql),
    Q("corpus_increment_neardup_verdict", corpusIncrementNearDupVerdict _,
      """SELECT doc_id + 10000000 AS doc_id, FALSE AS admitted
        |FROM documents WHERE doc_id % 100 = 0 ORDER BY doc_id""".stripMargin),
    Q("multimodal_neardup_verdict", multimodalNearDupVerdict _,
      """SELECT doc_id AS id_a, doc_id + 10000000 AS id_b, TRUE AS pair_found
        |FROM documents WHERE doc_id % 100 = 0 ORDER BY id_a""".stripMargin),
    Q("multimodal_dedup_perceptual_verdict", multimodalDedupPerceptualVerdict _,
      """SELECT doc_id AS id_a, doc_id + 10000000 AS id_b,
        |  TRUE AS twin_removed, TRUE AS original_kept
        |FROM documents WHERE doc_id % 100 = 0 ORDER BY id_a""".stripMargin),
    // Lloyd cost monotonicity + cardinality: DuckDB pins n_points and
    // the constant verdicts; Spark computes them from the fit telemetry
    Q("embed_kmeans_verdict", embedKmeansVerdict _, kmeansVerdictOracleSql),
    // data-independent sign matrix → the projection itself replays
    // exactly (see rpProjectOracleSql for the bit-identity argument)
    Q("embed_rp_project", embedRpProject _, rpProjectOracleSql),
    Q("embed_rp_verdict", embedRpVerdict _,
      """SELECT (SELECT COUNT(*) FROM embeddings a JOIN embeddings b
        |          ON b.vec_id = a.vec_id + 1
        |        WHERE a.vec_id % 10 = 0) AS n_pairs,
        |  TRUE AS mean_ratio_ok, TRUE AS frac_ok, TRUE AS norm_ok,
        |  (SELECT COUNT(*) FROM embeddings) AS n_points""".stripMargin),
    Q("embed_pca_verdict", embedPcaVerdict _,
      """SELECT CAST(c AS BIGINT) AS comp, TRUE AS eig_nonneg,
        |  TRUE AS basis_ok, TRUE AS parseval_ok,
        |  (SELECT COUNT(*) FROM embeddings) AS n_points
        |FROM (SELECT unnest(range(0, 8)) AS c)
        |ORDER BY comp""".stripMargin),
    Q("embed_kmeans_par_verdict", embedKmeansParVerdict _, kmeansVerdictOracleSql),
    // the verify kernel replayed by DuckDB: exact w=3 shingle Jaccard
    // over the same SQL-expressible pair list (LEFT JOIN keeps
    // zero-overlap pairs at jaccard 0, matching the kernel contract)
    Q("dedup_ngram_jaccard_verdict", dedupNgramJaccardVerdict _,
      """WITH toks AS (
        |  SELECT doc_id,
        |    unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> len(x) > 0)) AS tok,
        |    unnest(range(1, len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> len(x) > 0)) + 1)) AS pos
        |  FROM documents),
        |ng AS (
        |  SELECT DISTINCT doc_id,
        |    tok || ' ' || LEAD(tok, 1) OVER w || ' ' || LEAD(tok, 2) OVER w AS g
        |  FROM toks WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
        |ngf AS (SELECT doc_id, g FROM ng WHERE g IS NOT NULL),
        |sz AS (SELECT doc_id, COUNT(*) AS n FROM ngf GROUP BY doc_id),
        |elig AS (
        |  SELECT doc_id FROM documents
        |  WHERE len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> len(x) > 0)) >= 3),
        |pairs AS (
        |  SELECT a.doc_id AS id_a, a.doc_id + 1 AS id_b
        |  FROM elig a JOIN elig b ON b.doc_id = a.doc_id + 1
        |  WHERE a.doc_id % 20 = 0),
        |inter AS (
        |  SELECT p.id_a, p.id_b, COUNT(*) AS i
        |  FROM pairs p
        |  JOIN ngf x ON x.doc_id = p.id_a
        |  JOIN ngf y ON y.doc_id = p.id_b AND y.g = x.g
        |  GROUP BY 1, 2)
        |SELECT p.id_a, p.id_b,
        |  COALESCE(i, 0) / CAST(sa.n + sb.n - COALESCE(i, 0) AS DOUBLE) AS jaccard
        |FROM pairs p
        |LEFT JOIN inter ON inter.id_a = p.id_a AND inter.id_b = p.id_b
        |JOIN sz sa ON sa.doc_id = p.id_a
        |JOIN sz sb ON sb.doc_id = p.id_b
        |ORDER BY p.id_a, p.id_b""".stripMargin),
    Q("sim_recall_lsh", simRecallLsh _, recallOracleSql),
    Q("sim_recall_ivf", simRecallIvf _, recallOracleSql),
    Q("sim_recall_pq", simRecallPq _, recallOracleSql),
    Q("sim_recall_ivfpq", simRecallIvfPq _, recallOracleSql),
    Q("sim_recall_hardneg", simRecallHardneg _, recallOracleSql),
    // fixture-sufficiency verdict for the IVF miner's overfetch: every
    // query returns a full k negatives (DuckDB pins the constants)
    Q("hardneg_shortfall", hardnegShortfall _,
      """SELECT CAST(vec_id AS BIGINT) AS query_id,
        |  CAST(10 AS BIGINT) AS n_returned,
        |  CAST(0 AS BIGINT) AS shortfall,
        |  TRUE AS overfetch_sufficient
        |FROM embeddings WHERE vec_id < 5 ORDER BY query_id""".stripMargin),
    // the SQL twin of the interleave is generated from Scale.spreadMasks —
    // same mask cascade, two's-complement 64-bit on both engines
    Q("layout_zorder", layoutZorder _,
      s"""WITH b AS (
         |  SELECT event_id,
         |    user_id & 4095 AS zx,
         |    (CAST(EXTRACT(day FROM ts) * 24 + EXTRACT(hour FROM ts) AS BIGINT)) & 4095 AS zy
         |  FROM events)
         |SELECT event_id,
         |  (${Scale.spreadBitsSql("zx")}) | ((${Scale.spreadBitsSql("zy")}) << 1) AS zkey
         |FROM b ORDER BY zkey, event_id""".stripMargin),
    // probe verdicts exact: copies of both parities reject (build seg /
    // stream-grown seg or shared build keys), synthetic-hex docs admit
    Q("stream_neardup_admit", streamNeardupAdmit _,
      """SELECT doc_id, admitted FROM (
        |  SELECT doc_id + 10000000 AS doc_id, FALSE AS admitted
        |  FROM documents WHERE doc_id % 100 IN (0, 1)
        |  UNION ALL
        |  SELECT CAST(30000000 + i AS BIGINT), TRUE
        |  FROM (SELECT unnest(generate_series(1, 20)) AS i))
        |ORDER BY doc_id""".stripMargin),
    // every probe verdict is exactly derivable: planted copies (both
    // segment parities) rejected, synthetic-hex docs admitted
    Q("dedup_index_admit", dedupIndexAdmit _,
      """SELECT doc_id, admitted FROM (
        |  SELECT doc_id + 10000000 AS doc_id, FALSE AS admitted
        |  FROM documents WHERE doc_id % 100 IN (0, 1)
        |  UNION ALL
        |  SELECT CAST(20000000 + i AS BIGINT), TRUE
        |  FROM (SELECT unnest(generate_series(1, 20)) AS i))
        |ORDER BY doc_id""".stripMargin),
    // the partitioned round trip recomputed under the same predicate;
    // the prune gate is constant-TRUE (checked on the physical plan)
    Q("layout_partitioned", layoutPartitioned _,
      """SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  MD5(STRING_AGG(MD5(text), '' ORDER BY doc_id)) AS digest_chain,
        |  TRUE AS pruned_to_one_dir
        |FROM documents WHERE lang = 'de'
        |GROUP BY lang ORDER BY lang""".stripMargin),
    // all four numbers recounted relationally — the observe() metrics
    // must equal the data-plane truth
    Q("corpus_gate_metrics", corpusGateMetrics _,
      """SELECT CAST(COUNT(*) AS BIGINT) AS rows_in,
        |  CAST(SUM(LENGTH(text)) AS BIGINT) AS chars_in,
        |  CAST(COUNT(*) FILTER (WHERE LENGTH(text) >= 200) AS BIGINT) AS rows_out,
        |  CAST(COUNT(*) FILTER (WHERE LENGTH(text) >= 200) AS BIGINT) AS admitted_count
        |FROM documents""".stripMargin),
    // the two-generation merge replayed by parity: even ids carry a
    // NULL lang (the old drop), odd ids their real one
    Q("corpus_schema_drift", corpusSchemaDrift _,
      """WITH m AS (
        |  SELECT doc_id, MD5(text) AS dg,
        |    CASE WHEN doc_id % 2 = 1 THEN lang END AS lang
        |  FROM documents)
        |SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  MD5(STRING_AGG(dg, '' ORDER BY doc_id)) AS digest_chain
        |FROM m GROUP BY lang ORDER BY lang NULLS FIRST""".stripMargin),
    // the reference TD_FD_TRACE_PARAM query replayed from the events
    // fixture twin: both LIVE Derby read paths must reduce to the same
    // per-param digest chains DuckDB computes from parquet
    Q("jdbc_trace_parity", jdbcTraceParity _,
      """WITH seed AS (
        |  SELECT user_id, ts, props FROM (
        |    SELECT * FROM events ORDER BY event_id LIMIT 200)
        |), flt AS (
        |  SELECT * FROM seed
        |  WHERE user_id BETWEEN 1 AND 40
        |    AND ts >= TIMESTAMP '2024-01-01 00:00:00'
        |    AND ts <= TIMESTAMP '2024-01-01 06:00:00')
        |SELECT user_id AS param_index,
        |  CAST(COUNT(*) AS BIGINT) AS n_rows,
        |  MIN(ts) AS first_ts, MAX(ts) AS last_ts,
        |  MD5(STRING_AGG(props, '' ORDER BY ts, props)) AS digest_single,
        |  MD5(STRING_AGG(props, '' ORDER BY ts, props)) AS digest_partitioned
        |FROM flt GROUP BY 1 ORDER BY param_index""".stripMargin),
    // exactly-once ids per bucket + the constant-TRUE disjointness gate
    Q("shard_prepare_roundtrip", shardPrepareRoundtrip _,
      """SELECT doc_id % 8 AS bucket, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  MD5(STRING_AGG(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id))
        |    AS id_digest,
        |  TRUE AS ranges_disjoint
        |FROM documents GROUP BY 1 ORDER BY bucket""".stripMargin),
    // the PLAIN equi-join replayed — salting must be invisible in the
    // result set
    Q("join_salted", joinSalted _,
      """WITH dim AS (
        |  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS user_events
        |  FROM events GROUP BY user_id),
        |j AS (SELECT e.event_id, e.event_type, d.user_events
        |      FROM events e JOIN dim d ON d.user_id = e.user_id)
        |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_rows,
        |  CAST(SUM(user_events) AS BIGINT) AS sum_user_events,
        |  MD5(STRING_AGG(CAST(event_id AS VARCHAR) || ':' ||
        |        CAST(user_events AS VARCHAR), '' ORDER BY event_id))
        |    AS digest_chain
        |FROM j GROUP BY event_type ORDER BY event_type""".stripMargin),
    // float arithmetic IS cross-engine-reproducible when the expression
    // tree is identical and the reductions (min/max) are order-free —
    // see Quantize's scaladoc; the CASE guard mirrors the Spark side
    Q("embed_quantize", embedQuantize _,
      """WITH e AS (
        |  SELECT vec_id, unnest(embedding) AS x,
        |    unnest(range(0, len(embedding))) AS dim
        |  FROM embeddings),
        |stats AS (
        |  SELECT dim, CAST(MIN(x) AS DOUBLE) AS mn, CAST(MAX(x) AS DOUBLE) AS mx
        |  FROM e GROUP BY dim)
        |SELECT e.vec_id, e.dim,
        |  CAST(CASE WHEN s.mx = s.mn THEN 0
        |       ELSE LEAST(FLOOR(((CAST(e.x AS DOUBLE) - s.mn) * 255.0) / (s.mx - s.mn)), 255.0)
        |       END AS BIGINT) AS q
        |FROM e JOIN stats s USING (dim)
        |ORDER BY e.vec_id, e.dim""".stripMargin),
    Q("embed_label_stats", embedLabelStats _,
      """WITH e AS (
        |  SELECT CAST(label AS BIGINT) AS label,
        |    unnest(range(0, len(embedding))) AS dim,
        |    CAST(FLOOR(CAST(unnest(embedding) AS DOUBLE) * 1000000.0) AS BIGINT) AS micro
        |  FROM embeddings)
        |SELECT label, CAST(dim AS BIGINT) AS dim, COUNT(*) AS n,
        |  CAST(SUM(micro) AS BIGINT) AS sum_micro,
        |  MIN(micro) AS min_micro, MAX(micro) AS max_micro
        |FROM e GROUP BY label, dim ORDER BY label, dim""".stripMargin),
    Q("sim_topk_brute", simTopkBrute _,
      """SELECT query_id, rank, neighbor_id FROM (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    ROW_NUMBER() OVER (PARTITION BY q.vec_id
        |      ORDER BY list_cosine_similarity(q.embedding, c.embedding) DESC, c.vec_id) AS rank
        |  FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
        |  WHERE q.vec_id < 5
        |) WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin),
    Q("text_quality", textQuality _,
      s"""SELECT doc_id,
         |  CAST(LENGTH(text) AS BIGINT) AS n_chars_m,
         |  CAST(LEN($tokensSql) AS BIGINT) AS n_tokens,
         |  CASE WHEN LEN($tokensSql) > 0
         |    THEN CAST(LIST_SUM(LIST_TRANSFORM($tokensSql, x -> LEN(x))) AS DOUBLE)
         |         / LEN($tokensSql)
         |    ELSE 0.0 END AS mean_word_len,
         |  CASE WHEN LENGTH(text) > 0
         |    THEN CAST(LENGTH(REGEXP_REPLACE(text, '[a-zA-Z0-9\\s]', '', 'g')) AS DOUBLE)
         |         / LENGTH(text)
         |    ELSE 0.0 END AS punct_ratio,
         |  CASE WHEN LEN($tokensSql) > 0
         |    THEN CAST(LEN(LIST_FILTER($tokensSql,
         |           x -> x IN ('the','a','an','and','or','of','to','in','is','it'))) AS DOUBLE)
         |         / LEN($tokensSql)
         |    ELSE 0.0 END AS stopword_ratio
         |FROM documents ORDER BY doc_id""".stripMargin),
    // every rule is an integer cross-multiplied comparison — booleans
    // fixed-point logit inference: features are micro-unit floor
    // divisions (all-positive, so DuckDB // and Spark div agree) and the
    // score is a pure integer dot product — exact on both engines
    Q("quality_logit", qualityLogit _,
      s"""WITH m AS (
         |  SELECT doc_id,
         |    CAST(LENGTH(text) AS BIGINT) AS nc,
         |    CAST(LEN($tokensSql) AS BIGINT) AS nt,
         |    CAST(COALESCE(LIST_SUM(LIST_TRANSFORM($tokensSql, x -> LEN(x))), 0) AS BIGINT) AS stl,
         |    CAST(LENGTH(REGEXP_REPLACE(text, '[a-zA-Z0-9\\s]', '', 'g')) AS BIGINT) AS pc,
         |    CAST(LEN(LIST_FILTER($tokensSql,
         |      x -> x IN ('the','a','an','and','or','of','to','in','is','it'))) AS BIGINT) AS sh
         |  FROM documents),
         |f AS (
         |  SELECT doc_id,
         |    CAST(LEAST(nc, ${lw.lenCap}) * 1000000 // ${lw.lenCap} AS BIGINT) AS len_frac_micro,
         |    CAST(CASE WHEN nt > 0 THEN stl * 1000000 // nt ELSE 0 END AS BIGINT) AS mwl_micro,
         |    CAST(CASE WHEN nc > 0 THEN pc * 1000000 // nc ELSE 0 END AS BIGINT) AS punct_micro,
         |    CAST(CASE WHEN nt > 0 THEN sh * 1000000 // nt ELSE 0 END AS BIGINT) AS stop_micro
         |  FROM m),
         |s AS (
         |  SELECT doc_id, len_frac_micro, mwl_micro, punct_micro, stop_micro,
         |    CAST(len_frac_micro * (${lw.wLenFrac}) + mwl_micro * (${lw.wMeanWordLen})
         |      + punct_micro * (${lw.wPunctRatio}) + stop_micro * (${lw.wStopwordRatio})
         |      + (${lw.biasP12}) AS BIGINT) AS score_p12
         |  FROM f)
         |SELECT doc_id, len_frac_micro, mwl_micro, punct_micro, stop_micro,
         |  score_p12, score_p12 >= ${lw.thresholdP12} AS keep
         |FROM s ORDER BY doc_id""".stripMargin),
    // composed flagship v4: logit gate → affinity rank → md5 dedup →
    // source rollup, every stage integer-exact, one end-to-end oracle
    Q("pipeline_corpus_v4", pipelineCorpusV4 _,
      s"""WITH m AS (
         |  SELECT doc_id, source, text,
         |    CAST(LENGTH(text) AS BIGINT) AS nc,
         |    CAST(LEN($tokensSql) AS BIGINT) AS nt,
         |    CAST(COALESCE(LIST_SUM(LIST_TRANSFORM($tokensSql, x -> LEN(x))), 0) AS BIGINT) AS stl,
         |    CAST(LENGTH(REGEXP_REPLACE(text, '[a-zA-Z0-9\\s]', '', 'g')) AS BIGINT) AS pc,
         |    CAST(LEN(LIST_FILTER($tokensSql,
         |      x -> x IN ('the','a','an','and','or','of','to','in','is','it'))) AS BIGINT) AS sh
         |  FROM documents),
         |k AS (
         |  SELECT doc_id, source, text FROM (
         |    SELECT doc_id, source, text,
         |      CAST(LEAST(nc, ${lw.lenCap}) * 1000000 // ${lw.lenCap} AS BIGINT) AS lf,
         |      CAST(CASE WHEN nt > 0 THEN stl * 1000000 // nt ELSE 0 END AS BIGINT) AS mwl,
         |      CAST(CASE WHEN nc > 0 THEN pc * 1000000 // nc ELSE 0 END AS BIGINT) AS pm,
         |      CAST(CASE WHEN nt > 0 THEN sh * 1000000 // nt ELSE 0 END AS BIGINT) AS sm
         |    FROM m)
         |  WHERE lf * (${lw.wLenFrac}) + mwl * (${lw.wMeanWordLen}) + pm * (${lw.wPunctRatio})
         |    + sm * (${lw.wStopwordRatio}) + (${lw.biasP12}) >= ${lw.thresholdP12}),
         |tgt AS (SELECT unnest($tokensSql) AS tok FROM k WHERE source = 'src0'),
         |tcnt AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS target_cnt FROM tgt GROUP BY tok),
         |tf AS (
         |  SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf
         |  FROM (SELECT doc_id, unnest($tokensSql) AS tok FROM k) GROUP BY doc_id, tok),
         |sc AS (
         |  SELECT tf.doc_id, CAST(SUM(tf.tf) AS BIGINT) AS n_tokens,
         |    CAST(SUM(tf.tf * COALESCE(tc.target_cnt, 0)) AS BIGINT) AS affinity
         |  FROM tf LEFT JOIN tcnt tc USING (tok) GROUP BY tf.doc_id),
         |sel AS (
         |  SELECT doc_id, n_tokens,
         |    CAST(affinity * 1000000 // n_tokens AS BIGINT) AS affinity_micro
         |  FROM sc ORDER BY affinity_micro DESC, doc_id LIMIT 300),
         |dd AS (
         |  SELECT s.doc_id, s.n_tokens, s.affinity_micro, k.source, MD5(k.text) AS dg
         |  FROM sel s JOIN k USING (doc_id)),
         |surv AS (
         |  SELECT * FROM (
         |    SELECT dd.*, ROW_NUMBER() OVER (PARTITION BY dg ORDER BY doc_id) AS rn
         |    FROM dd) WHERE rn = 1)
         |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
         |  CAST(SUM(affinity_micro) AS BIGINT) AS sum_affinity_micro
         |FROM surv GROUP BY source ORDER BY source""".stripMargin),
    // pow2 ceiling via binary digit count (no float log), waste share an
    // all-positive floor division — exact on both engines
    Q("pack_padding_waste", packPaddingWaste _,
      s"""WITH m AS (
         |  SELECT LEAST(CAST(LEN($tokensSql) AS BIGINT)
         |    + CAST(LENGTH(REGEXP_REPLACE(text, '[a-zA-Z0-9\\s]', '', 'g')) AS BIGINT),
         |    512) AS capped
         |  FROM documents),
         |b AS (
         |  SELECT capped,
         |    LEAST(512, GREATEST(16,
         |      CASE WHEN capped <= 1 THEN 1
         |           ELSE CAST(1 AS BIGINT) << LENGTH(BIN(capped - 1)) END)) AS bucket_len
         |  FROM m),
         |g AS (
         |  SELECT bucket_len, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |    CAST(SUM(capped) AS BIGINT) AS sum_tokens,
         |    CAST(SUM(bucket_len - capped) AS BIGINT) AS sum_waste
         |  FROM b GROUP BY bucket_len)
         |SELECT bucket_len, n_docs, sum_tokens, sum_waste,
         |  CAST(sum_waste * 1000 // (sum_tokens + sum_waste) AS BIGINT) AS waste_permille
         |FROM g ORDER BY bucket_len""".stripMargin),
    // summed integer counters per source; micro ratios are all-positive
    // floor divisions, so // replays Spark's div exactly
    Q("token_fertility", tokenFertility _,
      s"""WITH m AS (
         |  SELECT source,
         |    CAST(LEN($tokensSql) AS BIGINT)
         |      + CAST(LENGTH(REGEXP_REPLACE(text, '[a-zA-Z0-9\\s]', '', 'g')) AS BIGINT) AS sub,
         |    CAST(LEN(LIST_FILTER(STRING_SPLIT_REGEX(text, '\\s+'), x -> LEN(x) > 0)) AS BIGINT) AS ws,
         |    CAST(LENGTH(text) AS BIGINT) AS nc
         |  FROM documents),
         |g AS (
         |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |    CAST(SUM(sub) AS BIGINT) AS subword_tokens,
         |    CAST(SUM(ws) AS BIGINT) AS ws_tokens,
         |    CAST(SUM(nc) AS BIGINT) AS n_chars
         |  FROM m GROUP BY source)
         |SELECT source, n_docs, subword_tokens, ws_tokens, n_chars,
         |  CASE WHEN ws_tokens > 0
         |    THEN CAST(subword_tokens * 1000000 // ws_tokens AS BIGINT) ELSE 0 END AS fertility_micro,
         |  CASE WHEN subword_tokens > 0
         |    THEN CAST(n_chars * 1000000 // subword_tokens AS BIGINT) ELSE 0 END AS chars_per_subword_micro
         |FROM g ORDER BY source""".stripMargin),
    // same ranking pattern as sim_topk_brute (green since r2) plus the
    // label-inequality predicate — list_cosine_similarity only ORDERS,
    // every emitted column is integer
    Q("sim_hard_negatives", simHardNegatives _,
      """SELECT query_id, rank, neighbor_id, neighbor_label FROM (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    CAST(c.label AS BIGINT) AS neighbor_label,
        |    ROW_NUMBER() OVER (PARTITION BY q.vec_id
        |      ORDER BY list_cosine_similarity(q.embedding, c.embedding) DESC, c.vec_id) AS rank
        |  FROM embeddings q JOIN embeddings c
        |    ON q.vec_id <> c.vec_id AND q.label <> c.label
        |  WHERE q.vec_id < 5
        |) WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin),
    // hash identically; COALESCE guards DuckDB's NULL LIST_SUM on
    Q("quality_compress_verdict", qualityCompressVerdict _,
      """SELECT doc_id, CAST(STRLEN(text) AS BIGINT) AS orig_bytes,
        |  TRUE AS roundtrip_ok, TRUE AS double_better, TRUE AS ratio_bounded
        |FROM documents ORDER BY doc_id""".stripMargin),
    // the whole CCNet-shaped stage replayed: bigram counts on the
    // trusted slice, Laplace-smoothed micro-likelihood (integer floor
    // division), floor-mean per doc, planted keep threshold — zero
    // float tolerance anywhere
    Q("quality_lm_score", qualityLmScore _,
      s"""WITH t AS (SELECT doc_id, source, $tokensSql AS tk FROM documents),
         |pairs AS (
         |  SELECT doc_id, source,
         |    CASE WHEN i = 1 THEN '<s>' ELSE tk[i-1] END AS prev, tk[i] AS tok
         |  FROM (SELECT doc_id, source, tk,
         |          unnest(generate_series(1, len(tk))) AS i FROM t)),
         |big AS (SELECT prev, tok, CAST(COUNT(*) AS BIGINT) AS c
         |        FROM pairs WHERE source = 'src0' GROUP BY 1, 2),
         |ctx AS (SELECT prev, CAST(SUM(c) AS BIGINT) AS ctx_n FROM big GROUP BY 1),
         |v AS (SELECT CAST(COUNT(DISTINCT tok) AS BIGINT) AS vocab FROM big),
         |sc AS (
         |  SELECT p.doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
         |    CAST(SUM((COALESCE(b.c, 0) + 1) * 1000000
         |      // (COALESCE(x.ctx_n, 0) + v.vocab + 1)) AS BIGINT) AS sum_p_micro
         |  FROM pairs p CROSS JOIN v
         |  LEFT JOIN big b ON b.prev = p.prev AND b.tok = p.tok
         |  LEFT JOIN ctx x ON x.prev = p.prev
         |  GROUP BY 1)
         |SELECT d.doc_id,
         |  COALESCE(n_bigrams, 0) AS n_bigrams,
         |  COALESCE(sum_p_micro, 0) AS sum_p_micro,
         |  COALESCE(sum_p_micro // n_bigrams, 0) AS score_micro,
         |  COALESCE(sum_p_micro // n_bigrams, 0) >= 32000 AS keep
         |FROM documents d LEFT JOIN sc USING (doc_id)
         |ORDER BY doc_id""".stripMargin),
    // the tercile split: per-score cumulative count below, integer
    // band rule LEAST(3, 1 + 3·cumBelow DIV total), equal scores share
    // a band — same LM CTE family as quality_lm_score
    Q("quality_lm_buckets", qualityLmBuckets _,
      s"""WITH t AS (SELECT doc_id, source, $tokensSql AS tk FROM documents),
         |pairs AS (
         |  SELECT doc_id, source,
         |    CASE WHEN i = 1 THEN '<s>' ELSE tk[i-1] END AS prev, tk[i] AS tok
         |  FROM (SELECT doc_id, source, tk,
         |          unnest(generate_series(1, len(tk))) AS i FROM t)),
         |big AS (SELECT prev, tok, CAST(COUNT(*) AS BIGINT) AS c
         |        FROM pairs WHERE source = 'src0' GROUP BY 1, 2),
         |ctx AS (SELECT prev, CAST(SUM(c) AS BIGINT) AS ctx_n FROM big GROUP BY 1),
         |v AS (SELECT CAST(COUNT(DISTINCT tok) AS BIGINT) AS vocab FROM big),
         |sc AS (
         |  SELECT p.doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
         |    CAST(SUM((COALESCE(b.c, 0) + 1) * 1000000
         |      // (COALESCE(x.ctx_n, 0) + v.vocab + 1)) AS BIGINT) AS sum_p
         |  FROM pairs p CROSS JOIN v
         |  LEFT JOIN big b ON b.prev = p.prev AND b.tok = p.tok
         |  LEFT JOIN ctx x ON x.prev = p.prev
         |  GROUP BY 1),
         |perdoc AS (
         |  SELECT d.doc_id, COALESCE(sc.n_bigrams, 0) AS n_bigrams,
         |    COALESCE(sc.sum_p // sc.n_bigrams, 0) AS score_micro
         |  FROM documents d LEFT JOIN sc USING (doc_id)),
         |h AS (SELECT score_micro, COUNT(*) AS cnt FROM perdoc GROUP BY 1),
         |cb AS (SELECT score_micro,
         |         SUM(cnt) OVER (ORDER BY score_micro
         |           ROWS UNBOUNDED PRECEDING) - cnt AS cum_below,
         |         SUM(cnt) OVER () AS total
         |       FROM h),
         |b AS (SELECT score_micro,
         |        CAST(LEAST(3, 1 + (3 * cum_below) // total) AS BIGINT) AS tercile
         |      FROM cb)
         |SELECT p.doc_id, p.n_bigrams, p.score_micro, b.tercile,
         |  CASE WHEN b.tercile = 3 THEN 'head'
         |       WHEN b.tercile = 2 THEN 'middle' ELSE 'tail' END AS band
         |FROM perdoc p JOIN b USING (score_micro)
         |ORDER BY p.doc_id""".stripMargin),
    // token-weighted per-source mean of the LM micro-likelihood — the
    // same CTE family as quality_lm_score, rolled up by source
    Q("lm_source_divergence", lmSourceDivergence _,
      s"""WITH t AS (SELECT doc_id, source, $tokensSql AS tk FROM documents),
         |pairs AS (
         |  SELECT doc_id, source,
         |    CASE WHEN i = 1 THEN '<s>' ELSE tk[i-1] END AS prev, tk[i] AS tok
         |  FROM (SELECT doc_id, source, tk,
         |          unnest(generate_series(1, len(tk))) AS i FROM t)),
         |big AS (SELECT prev, tok, CAST(COUNT(*) AS BIGINT) AS c
         |        FROM pairs WHERE source = 'src0' GROUP BY 1, 2),
         |ctx AS (SELECT prev, CAST(SUM(c) AS BIGINT) AS ctx_n FROM big GROUP BY 1),
         |v AS (SELECT CAST(COUNT(DISTINCT tok) AS BIGINT) AS vocab FROM big),
         |sc AS (
         |  SELECT p.doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
         |    CAST(SUM((COALESCE(b.c, 0) + 1) * 1000000
         |      // (COALESCE(x.ctx_n, 0) + v.vocab + 1)) AS BIGINT) AS sum_p
         |  FROM pairs p CROSS JOIN v
         |  LEFT JOIN big b ON b.prev = p.prev AND b.tok = p.tok
         |  LEFT JOIN ctx x ON x.prev = p.prev
         |  GROUP BY 1),
         |perdoc AS (
         |  SELECT d.doc_id, d.source,
         |    COALESCE(sc.n_bigrams, 0) AS n_bigrams,
         |    COALESCE(sc.sum_p, 0) AS sum_p
         |  FROM documents d LEFT JOIN sc USING (doc_id))
         |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(n_bigrams) AS BIGINT) AS n_bigrams,
         |  CAST(SUM(sum_p) AS BIGINT) AS sum_p_micro,
         |  CAST(SUM(sum_p) // SUM(n_bigrams) AS BIGINT) AS score_micro
         |FROM perdoc GROUP BY source ORDER BY source""".stripMargin),
    // DSIR importance selection: the two-model CTE family (target on the
    // trusted slice, raw on the full pool, SHARED union-vocab smoothing —
    // the Dsir scaladoc's floor-equalization invariant), weight as one
    // integer floor-ratio — zero float tolerance
    Q("select_dsir", selectDsir _,
      s"""$dsirWeightsSql
         |SELECT doc_id, n_bigrams, score_target_micro, score_raw_micro,
         |  CAST(score_target_micro * 1000000 // GREATEST(score_raw_micro, 1)
         |    AS BIGINT) AS weight_micro,
         |  score_target_micro * 1000000 // GREATEST(score_raw_micro, 1)
         |    >= 1000000 AS keep
         |FROM w ORDER BY doc_id""".stripMargin),
    // same CTEs; the resampling analog — total order (weight DESC, doc_id)
    // makes the LIMIT deterministic on both engines
    Q("select_dsir_topk", selectDsirTopk _,
      s"""$dsirWeightsSql
         |SELECT doc_id, n_bigrams, score_target_micro, score_raw_micro,
         |  CAST(score_target_micro * 1000000 // GREATEST(score_raw_micro, 1)
         |    AS BIGINT) AS weight_micro
         |FROM w ORDER BY weight_micro DESC, doc_id LIMIT 100""".stripMargin),
    // hashed-feature DSIR: bigrams md5-bucketed mod 4096 (the '0x' hex
    // parse is DuckDB's spelling of Spark's conv(..,16,10)); Laplace over
    // the B-bucket multinomial — identical supports, no vocab correction
    Q("select_dsir_hashed", selectDsirHashed _,
      s"""WITH t AS (SELECT doc_id, source, $tokensSql AS tk FROM documents),
         |pairs AS (
         |  SELECT doc_id, source,
         |    CASE WHEN i = 1 THEN '<s>' ELSE tk[i-1] END AS prev, tk[i] AS tok
         |  FROM (SELECT doc_id, source, tk,
         |          unnest(generate_series(1, len(tk))) AS i FROM t)),
         |pb AS (
         |  SELECT doc_id, source,
         |    CAST(('0x' || substring(md5(prev || ' ' || tok), 1, 8)) AS BIGINT)
         |      % 4096 AS b
         |  FROM pairs),
         |ct AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS c_t FROM pb
         |       WHERE source = 'src0' GROUP BY 1),
         |cr AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS c_r FROM pb GROUP BY 1),
         |tt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM pb WHERE source = 'src0'),
         |tr AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM pb),
         |sc AS (
         |  SELECT p.doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
         |    CAST(SUM((COALESCE(ct.c_t, 0) + 1) * 1000000
         |      // (tt.n + 4096)) AS BIGINT) AS sum_t,
         |    CAST(SUM((COALESCE(cr.c_r, 0) + 1) * 1000000
         |      // (tr.n + 4096)) AS BIGINT) AS sum_r
         |  FROM pb p CROSS JOIN tt CROSS JOIN tr
         |  LEFT JOIN ct ON ct.b = p.b
         |  LEFT JOIN cr ON cr.b = p.b
         |  GROUP BY 1),
         |w AS (
         |  SELECT d.doc_id,
         |    COALESCE(n_bigrams, 0) AS n_bigrams,
         |    COALESCE(sum_t // n_bigrams, 0) AS score_target_micro,
         |    COALESCE(sum_r // n_bigrams, 0) AS score_raw_micro
         |  FROM documents d LEFT JOIN sc USING (doc_id))
         |SELECT doc_id, n_bigrams, score_target_micro, score_raw_micro,
         |  CAST(score_target_micro * 1000000 // GREATEST(score_raw_micro, 1)
         |    AS BIGINT) AS weight_micro,
         |  score_target_micro * 1000000 // GREATEST(score_raw_micro, 1)
         |    >= 1000000 AS keep
         |FROM w ORDER BY doc_id""".stripMargin),
    // RRF ensemble: logit CTEs shared with quality_logit, rarity CTEs
    // with quality_rarity; ranks and the 1e6//(60+rank) fusion are all
    // integers — zero float tolerance; every window ties on doc_id
    Q("quality_rrf_topk", qualityRrfTopk _,
      s"""WITH m AS (
         |  SELECT doc_id,
         |    CAST(LENGTH(text) AS BIGINT) AS nc,
         |    CAST(LEN($tokensSql) AS BIGINT) AS nt,
         |    CAST(COALESCE(LIST_SUM(LIST_TRANSFORM($tokensSql, x -> LEN(x))), 0) AS BIGINT) AS stl,
         |    CAST(LENGTH(REGEXP_REPLACE(text, '[a-zA-Z0-9\\s]', '', 'g')) AS BIGINT) AS pc,
         |    CAST(LEN(LIST_FILTER($tokensSql,
         |      x -> x IN ('the','a','an','and','or','of','to','in','is','it'))) AS BIGINT) AS sh
         |  FROM documents),
         |f AS (
         |  SELECT doc_id,
         |    CAST(LEAST(nc, ${lw.lenCap}) * 1000000 // ${lw.lenCap} AS BIGINT) AS len_frac_micro,
         |    CAST(CASE WHEN nt > 0 THEN stl * 1000000 // nt ELSE 0 END AS BIGINT) AS mwl_micro,
         |    CAST(CASE WHEN nc > 0 THEN pc * 1000000 // nc ELSE 0 END AS BIGINT) AS punct_micro,
         |    CAST(CASE WHEN nt > 0 THEN sh * 1000000 // nt ELSE 0 END AS BIGINT) AS stop_micro
         |  FROM m),
         |s AS (
         |  SELECT doc_id,
         |    CAST(len_frac_micro * (${lw.wLenFrac}) + mwl_micro * (${lw.wMeanWordLen})
         |      + punct_micro * (${lw.wPunctRatio}) + stop_micro * (${lw.wStopwordRatio})
         |      + (${lw.biasP12}) AS BIGINT) AS score_p12
         |  FROM f),
         |tf AS (SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf
         |       FROM (SELECT doc_id, unnest($tokensSql) AS tok FROM documents)
         |       GROUP BY 1, 2),
         |freq AS (SELECT tok, CAST(SUM(tf) AS BIGINT) AS freq FROM tf GROUP BY 1),
         |rar AS (SELECT t.doc_id,
         |          CAST(SUM(t.tf * q.freq) * 1000000 // SUM(t.tf) AS BIGINT) AS rarity_micro
         |        FROM tf t JOIN freq q USING (tok) GROUP BY 1),
         |sig AS (
         |  SELECT d.doc_id, d.source, d.n_chars, s.score_p12, r.rarity_micro
         |  FROM documents d JOIN s USING (doc_id) JOIN rar r USING (doc_id)),
         |rk AS (
         |  SELECT source, doc_id,
         |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY score_p12 DESC, doc_id) AS rank_logit,
         |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY rarity_micro ASC, doc_id) AS rank_rarity,
         |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY n_chars DESC, doc_id) AS rank_len
         |  FROM sig),
         |fz AS (
         |  SELECT source, doc_id, rank_logit, rank_rarity, rank_len,
         |    CAST(1000000 // (60 + rank_logit) + 1000000 // (60 + rank_rarity)
         |      + 1000000 // (60 + rank_len) AS BIGINT) AS rrf_micro
         |  FROM rk),
         |top AS (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY source
         |    ORDER BY rrf_micro DESC, doc_id) AS rank_final FROM fz)
         |SELECT source, rank_final, doc_id, rank_logit, rank_rarity, rank_len,
         |  rrf_micro
         |FROM top WHERE rank_final <= 5
         |ORDER BY source, rank_final""".stripMargin),
    // flagship v6: LM gate → bag dedup → source rollup, the whole chain
    // in one integer-exact replay (CTEs shared with quality_lm_score /
    // dedup_bag_groups — same lockstep conventions)
    Q("pipeline_corpus_v6", pipelineCorpusV6 _,
      s"""WITH t AS (SELECT doc_id, source, $tokensSql AS tk FROM documents),
         |pairs AS (
         |  SELECT doc_id, source,
         |    CASE WHEN i = 1 THEN '<s>' ELSE tk[i-1] END AS prev, tk[i] AS tok
         |  FROM (SELECT doc_id, source, tk,
         |          unnest(generate_series(1, len(tk))) AS i FROM t)),
         |big AS (SELECT prev, tok, CAST(COUNT(*) AS BIGINT) AS c
         |        FROM pairs WHERE source = 'src0' GROUP BY 1, 2),
         |ctx AS (SELECT prev, CAST(SUM(c) AS BIGINT) AS ctx_n FROM big GROUP BY 1),
         |v AS (SELECT CAST(COUNT(DISTINCT tok) AS BIGINT) AS vocab FROM big),
         |sc AS (
         |  SELECT p.doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
         |    CAST(SUM((COALESCE(b.c, 0) + 1) * 1000000
         |      // (COALESCE(x.ctx_n, 0) + v.vocab + 1)) AS BIGINT) AS sum_p
         |  FROM pairs p CROSS JOIN v
         |  LEFT JOIN big b ON b.prev = p.prev AND b.tok = p.tok
         |  LEFT JOIN ctx x ON x.prev = p.prev
         |  GROUP BY 1),
         |gated AS (
         |  SELECT t.doc_id, t.source, t.tk, sc.n_bigrams,
         |    sum_p // n_bigrams AS score_micro
         |  FROM t JOIN sc USING (doc_id)
         |  WHERE sum_p // n_bigrams >= 32000),
         |fp AS (
         |  SELECT doc_id, source, n_bigrams, score_micro,
         |    MD5(array_to_string(list_sort(tk), ' ')) AS bag_fp FROM gated),
         |surv AS (
         |  SELECT * FROM (
         |    SELECT fp.*, ROW_NUMBER() OVER
         |      (PARTITION BY bag_fp ORDER BY doc_id) AS rn FROM fp)
         |  WHERE rn = 1)
         |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(n_bigrams) AS BIGINT) AS sum_tokens,
         |  CAST(SUM(score_micro) AS BIGINT) AS sum_score_micro
         |FROM surv GROUP BY source ORDER BY source""".stripMargin),
    // zero-token docs (the kernel emits 0 there)
    Q("quality_gopher", qualityGopher _,
      s"""WITH m AS (
         |  SELECT doc_id,
         |    CAST(LENGTH(text) AS BIGINT) AS nc,
         |    CAST(LEN($tokensSql) AS BIGINT) AS nt,
         |    CAST(COALESCE(LIST_SUM(LIST_TRANSFORM($tokensSql, x -> LEN(x))), 0) AS BIGINT) AS stl,
         |    CAST(LENGTH(REGEXP_REPLACE(text, '[a-zA-Z0-9\\s]', '', 'g')) AS BIGINT) AS pc,
         |    CAST(LEN(LIST_FILTER($tokensSql,
         |      x -> x IN ('the','a','an','and','or','of','to','in','is','it'))) AS BIGINT) AS sh
         |  FROM documents),
         |tk AS (
         |  SELECT doc_id,
         |    unnest($tokensSql) AS tok,
         |    unnest(range(1, len($tokensSql) + 1)) AS pos
         |  FROM documents),
         |ng AS (
         |  SELECT doc_id, tok || ' ' || LEAD(tok, 1) OVER w AS ngram
         |  FROM tk WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
         |cnt AS (SELECT doc_id, ngram, COUNT(*) AS c
         |        FROM ng WHERE ngram IS NOT NULL GROUP BY doc_id, ngram),
         |rep AS (SELECT doc_id, MAX(c) AS top_cnt, CAST(SUM(c) AS BIGINT) AS n_bigrams
         |        FROM cnt GROUP BY doc_id)
         |SELECT m.doc_id,
         |  (nt >= 10 AND nt <= 100000) AS keep_tokens,
         |  (3 * nt <= stl AND stl <= 10 * nt) AS keep_word_len,
         |  (4 * pc <= nc) AS keep_punct,
         |  (sh >= 2) AS keep_stopwords,
         |  (COALESCE(n_bigrams, 0) = 0 OR 5 * top_cnt <= n_bigrams) AS keep_repetition,
         |  ((nt >= 10 AND nt <= 100000) AND (3 * nt <= stl AND stl <= 10 * nt)
         |    AND (4 * pc <= nc) AND (sh >= 2)
         |    AND (COALESCE(n_bigrams, 0) = 0 OR 5 * top_cnt <= n_bigrams)) AS keep
         |FROM m LEFT JOIN rep ON rep.doc_id = m.doc_id
         |ORDER BY m.doc_id""".stripMargin),
    // the v5 flagship chain replayed end-to-end: ok lane (the ingest
    // fixture's % 97 rule) → keep-best window (longest, then min id,
    // over the normalized-text groups) → the gopher CTEs restricted to
    // survivors → per-source rollup + the quarantine lane's row
    Q("pipeline_corpus_v5", pipelineCorpusV5 _,
      s"""WITH ok AS (
         |  SELECT doc_id, text, source FROM documents WHERE doc_id % 97 <> 0),
         |surv AS (
         |  SELECT doc_id, text, source FROM (
         |    SELECT doc_id, text, source, ROW_NUMBER() OVER (
         |      PARTITION BY TRIM(REGEXP_REPLACE(LOWER(text), ' +', ' ', 'g'))
         |      ORDER BY LENGTH(text) DESC, doc_id) AS rn
         |    FROM ok) WHERE rn = 1),
         |m AS (
         |  SELECT doc_id,
         |    CAST(LENGTH(text) AS BIGINT) AS nc,
         |    CAST(LEN($tokensSql) AS BIGINT) AS nt,
         |    CAST(COALESCE(LIST_SUM(LIST_TRANSFORM($tokensSql, x -> LEN(x))), 0) AS BIGINT) AS stl,
         |    CAST(LENGTH(REGEXP_REPLACE(text, '[a-zA-Z0-9\\s]', '', 'g')) AS BIGINT) AS pc,
         |    CAST(LEN(LIST_FILTER($tokensSql,
         |      x -> x IN ('the','a','an','and','or','of','to','in','is','it'))) AS BIGINT) AS sh
         |  FROM surv),
         |tk AS (
         |  SELECT doc_id,
         |    unnest($tokensSql) AS tok,
         |    unnest(range(1, len($tokensSql) + 1)) AS pos
         |  FROM surv),
         |ng AS (
         |  SELECT doc_id, tok || ' ' || LEAD(tok, 1) OVER w AS ngram
         |  FROM tk WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
         |cnt AS (SELECT doc_id, ngram, COUNT(*) AS c
         |        FROM ng WHERE ngram IS NOT NULL GROUP BY doc_id, ngram),
         |rep AS (SELECT doc_id, MAX(c) AS top_cnt, CAST(SUM(c) AS BIGINT) AS n_bigrams
         |        FROM cnt GROUP BY doc_id),
         |keepers AS (
         |  SELECT m.doc_id FROM m LEFT JOIN rep ON rep.doc_id = m.doc_id
         |  WHERE (nt >= 10 AND nt <= 100000) AND (3 * nt <= stl AND stl <= 10 * nt)
         |    AND (4 * pc <= nc) AND (sh >= 2)
         |    AND (COALESCE(n_bigrams, 0) = 0 OR 5 * top_cnt <= n_bigrams)),
         |ing AS (SELECT source, COUNT(*) AS n_ingested FROM ok GROUP BY source),
         |sv AS (SELECT source, COUNT(*) AS n_after_dedup FROM surv GROUP BY source),
         |qc AS (SELECT s.source, COUNT(*) AS n_quality
         |       FROM surv s JOIN keepers k ON k.doc_id = s.doc_id GROUP BY s.source)
         |SELECT i.source, i.n_ingested,
         |  COALESCE(sv.n_after_dedup, CAST(0 AS BIGINT)) AS n_after_dedup,
         |  COALESCE(qc.n_quality, CAST(0 AS BIGINT)) AS n_quality
         |FROM ing i
         |LEFT JOIN sv ON sv.source = i.source
         |LEFT JOIN qc ON qc.source = i.source
         |UNION ALL
         |SELECT '__quarantined' AS source,
         |  (SELECT COUNT(*) FROM documents WHERE doc_id % 97 = 0) AS n_ingested,
         |  CAST(0 AS BIGINT) AS n_after_dedup, CAST(0 AS BIGINT) AS n_quality
         |ORDER BY source""".stripMargin),
    Q("text_tokens_top", textTokensTop _,
      s"""SELECT token, COUNT(1) AS n FROM (
         |  SELECT UNNEST($tokensSql) AS token FROM documents
         |) GROUP BY token ORDER BY n DESC, token LIMIT 20""".stripMargin),
    // token frequency under the unicode contract: the RE2-replayed
    // unicode tokenizer over the mixed-script column
    Q("text_tokens_top_unicode", textTokensTopUnicode _,
      s"""SELECT token, COUNT(1) AS n FROM (
         |  SELECT UNNEST(${tokensUniSql("mtext")}) AS token
         |  FROM (SELECT doc_id, ${mixedSqlExpr(full = false)} AS mtext
         |        FROM documents)
         |) GROUP BY token ORDER BY n DESC, token LIMIT 40""".stripMargin),
    Q("text_langid", textLangId _, s"$langPredSql\nORDER BY doc_id"),
    Q("lang_mixed", langMixed _, s"${langMixedSqlFrom("documents")}\nORDER BY doc_id"),
    Q("lang_confusion", langConfusion _,
      s"""SELECT lang, pred_lang, COUNT(*) AS n_docs
         |FROM ($langPredSql)
         |GROUP BY lang, pred_lang ORDER BY lang, pred_lang""".stripMargin),
    Q("text_token_count", textTokenCount _,
      s"""SELECT doc_id,
         |  CAST(LEN(LIST_FILTER(STRING_SPLIT_REGEX(text, '\\s+'), x -> LEN(x) > 0)) AS BIGINT) AS ws_tokens,
         |  CAST(LEN($tokensSql) AS BIGINT)
         |    + CAST(LENGTH(REGEXP_REPLACE(text, '[a-zA-Z0-9\\s]', '', 'g')) AS BIGINT) AS subword_tokens
         |FROM documents ORDER BY doc_id""".stripMargin),
    // the unicode lexical contract replayed end-to-end in RE2: padded
    // CJK, \p{L}\p{M}\p{Nd} token class, lowercased counters, exact
    // token-sequence digest
    Q("text_token_count_unicode", textTokenCountUnicode _,
      s"""WITH mx AS (
         |  SELECT doc_id, ${mixedSqlExpr(full = false)} AS mtext FROM documents),
         |m AS (
         |  SELECT doc_id, mtext, lower(mtext) AS lt,
         |    ${tokensUniSql("mtext")} AS tk
         |  FROM mx)
         |SELECT doc_id,
         |  CAST(LEN(list_filter(string_split_regex(lower(mtext), '[^a-z0-9]+'),
         |    x -> len(x) > 0)) AS BIGINT) AS n_tokens_ascii,
         |  CAST(LEN(tk) AS BIGINT) AS n_tokens_unicode,
         |  CAST(COALESCE(LIST_SUM(LIST_TRANSFORM(tk, x -> LEN(x))), 0) AS BIGINT) AS sum_token_len,
         |  ${punctUniSql("lt")} AS punct_chars,
         |  ${wsToksUniSql("lt")} AS ws_tokens,
         |  CAST(LEN(LIST_FILTER(tk,
         |    x -> x IN ('the','a','an','and','or','of','to','in','is','it'))) AS BIGINT) AS stopword_hits,
         |  MD5(ARRAY_TO_STRING(tk, ' ')) AS tok_digest
         |FROM m ORDER BY doc_id""".stripMargin),
    // the five Gopher gates under the unicode contract (mixed column)
    Q("quality_gopher_unicode", qualityGopherUnicode _,
      s"""WITH mx AS (
         |  SELECT doc_id, ${mixedSqlExpr(full = false)} AS mtext FROM documents),
         |m AS (
         |  SELECT doc_id,
         |    CAST(LENGTH(lower(mtext)) AS BIGINT) AS nc,
         |    CAST(LEN(${tokensUniSql("mtext")}) AS BIGINT) AS nt,
         |    CAST(COALESCE(LIST_SUM(LIST_TRANSFORM(${tokensUniSql("mtext")},
         |      x -> LEN(x))), 0) AS BIGINT) AS stl,
         |    ${punctUniSql("lower(mtext)")} AS pc,
         |    CAST(LEN(LIST_FILTER(${tokensUniSql("mtext")},
         |      x -> x IN ('the','a','an','and','or','of','to','in','is','it'))) AS BIGINT) AS sh
         |  FROM mx),
         |tk AS (
         |  SELECT doc_id,
         |    unnest(${tokensUniSql("mtext")}) AS tok,
         |    unnest(range(1, len(${tokensUniSql("mtext")}) + 1)) AS pos
         |  FROM mx),
         |ng AS (
         |  SELECT doc_id, tok || ' ' || LEAD(tok, 1) OVER w AS ngram
         |  FROM tk WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
         |cnt AS (SELECT doc_id, ngram, COUNT(*) AS c
         |        FROM ng WHERE ngram IS NOT NULL GROUP BY doc_id, ngram),
         |rep AS (SELECT doc_id, MAX(c) AS top_cnt, CAST(SUM(c) AS BIGINT) AS n_bigrams
         |        FROM cnt GROUP BY doc_id)
         |SELECT m.doc_id,
         |  (nt >= 10 AND nt <= 100000) AS keep_tokens,
         |  (3 * nt <= stl AND stl <= 10 * nt) AS keep_word_len,
         |  (4 * pc <= nc) AS keep_punct,
         |  (sh >= 2) AS keep_stopwords,
         |  (COALESCE(n_bigrams, 0) = 0 OR 5 * top_cnt <= n_bigrams) AS keep_repetition,
         |  ((nt >= 10 AND nt <= 100000) AND (3 * nt <= stl AND stl <= 10 * nt)
         |    AND (4 * pc <= nc) AND (sh >= 2)
         |    AND (COALESCE(n_bigrams, 0) = 0 OR 5 * top_cnt <= n_bigrams)) AS keep
         |FROM m LEFT JOIN rep ON rep.doc_id = m.doc_id
         |ORDER BY m.doc_id""".stripMargin),
    // fertility under the unicode contract (sub = n_tokens + punct,
    // both unicode-mode; counters over the lowercased mixed column)
    Q("token_fertility_unicode", tokenFertilityUnicode _,
      s"""WITH mx AS (
         |  SELECT doc_id, source, ${mixedSqlExpr(full = false)} AS mtext FROM documents),
         |m AS (
         |  SELECT source,
         |    CAST(LEN(${tokensUniSql("mtext")}) AS BIGINT)
         |      + ${punctUniSql("lower(mtext)")} AS sub,
         |    ${wsToksUniSql("lower(mtext)")} AS ws,
         |    CAST(LENGTH(lower(mtext)) AS BIGINT) AS nc
         |  FROM mx),
         |g AS (
         |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |    CAST(SUM(sub) AS BIGINT) AS subword_tokens,
         |    CAST(SUM(ws) AS BIGINT) AS ws_tokens,
         |    CAST(SUM(nc) AS BIGINT) AS n_chars
         |  FROM m GROUP BY source)
         |SELECT source, n_docs, subword_tokens, ws_tokens, n_chars,
         |  CASE WHEN ws_tokens > 0
         |    THEN CAST(subword_tokens * 1000000 // ws_tokens AS BIGINT) ELSE 0 END AS fertility_micro,
         |  CASE WHEN subword_tokens > 0
         |    THEN CAST(n_chars * 1000000 // subword_tokens AS BIGINT) ELSE 0 END AS chars_per_subword_micro
         |FROM g ORDER BY source""".stripMargin),
    // exact unicode-shingle Jaccard recomputed in RE2, LSH verdict from
    // the unicode-mode banding (the dedup_minhash_recall pattern)
    Q("dedup_minhash_unicode_recall", dedupMinhashUnicodeRecall _,
      s"""WITH mx AS (
         |  SELECT doc_id, ${mixedSqlExpr(full = true)} AS mtext FROM documents),
         |toks AS (
         |  SELECT doc_id,
         |    unnest(${tokensUniSql("mtext")}) AS tok,
         |    unnest(range(1, len(${tokensUniSql("mtext")}) + 1)) AS pos
         |  FROM mx),
         |ng AS (
         |  SELECT DISTINCT doc_id,
         |    tok || ' ' || LEAD(tok, 1) OVER w || ' ' || LEAD(tok, 2) OVER w AS g
         |  FROM toks WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
         |ngf AS (SELECT doc_id, g FROM ng WHERE g IS NOT NULL),
         |sz AS (SELECT doc_id, COUNT(*) AS n FROM ngf GROUP BY doc_id),
         |inter AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS i
         |  FROM ngf a JOIN ngf b ON a.g = b.g AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2)
         |SELECT id_a, id_b,
         |  i / CAST(sa.n + sb.n - i AS DOUBLE) AS jaccard_w3,
         |  TRUE AS lsh_found
         |FROM inter
         |JOIN sz sa ON sa.doc_id = inter.id_a
         |JOIN sz sb ON sb.doc_id = inter.id_b
         |WHERE i / CAST(sa.n + sb.n - i AS DOUBLE) >= 0.85
         |ORDER BY id_a, id_b""".stripMargin),
    Q("multimodal_meta", multimodalMeta _,
      """SELECT doc_id AS asset_id,
        |  (['image', 'audio', 'video'])[CAST(doc_id % 3 AS INT) + 1] AS modality,
        |  CAST(STRLEN(text) AS BIGINT) AS byte_len,
        |  MD5(text) AS digest
        |FROM documents ORDER BY asset_id""".stripMargin),
    Q("multimodal_dedup_exact", multimodalDedupExact _,
      """SELECT asset_id, modality FROM (
        |  SELECT doc_id AS asset_id,
        |    (['image', 'audio', 'video'])[CAST(doc_id % 3 AS INT) + 1] AS modality,
        |    ROW_NUMBER() OVER (PARTITION BY MD5(text) ORDER BY doc_id) AS rn
        |  FROM documents) WHERE rn = 1 ORDER BY asset_id""".stripMargin),
    // ground truth for the REAL decode: the PNG fixture is built from
    // these exact formulas, so the oracle verifies the codec end-to-end
    Q("multimodal_decode", multimodalDecode _,
      """SELECT doc_id AS asset_id,
        |  CAST(doc_id % 13 + 1 AS INT) AS width,
        |  CAST(doc_id % 7 + 1 AS INT) AS height,
        |  'png' AS format,
        |  CAST(doc_id % 256 AS INT) AS mean_px
        |FROM documents ORDER BY asset_id""".stripMargin),
    // solid-gray w×h fixture ⇒ the decoded-pixel histogram is one-hot:
    // all w·h pixels in bin (gray DIV 16)
    // ground truth for the REAL WAV decode: sample i of asset d is
    // (d*31 + i*17) % 2001 - 1000 (all positive dividends, so % agrees
    // across engines); byte_len = 44-byte canonical RIFF header + 2n
    Q("multimodal_features_audio", multimodalFeaturesAudio _,
      """WITH n AS (SELECT doc_id, doc_id % 50 + 10 AS ns FROM documents),
        |s AS (SELECT doc_id, ns, unnest(range(0, ns)) AS i FROM n)
        |SELECT CAST(doc_id AS BIGINT) AS asset_id,
        |  CAST(44 + 2 * ns AS BIGINT) AS byte_len,
        |  CAST(8000 AS INTEGER) AS sample_rate,
        |  CAST(1 AS INTEGER) AS channels,
        |  CAST(16 AS INTEGER) AS bits,
        |  CAST(ns AS BIGINT) AS n_samples,
        |  CAST(SUM(ABS((doc_id * 31 + i * 17) % 2001 - 1000)) AS BIGINT) AS sum_abs
        |FROM s GROUP BY doc_id, ns ORDER BY asset_id""".stripMargin),
    // ground truth for the REAL AVI decode: nf frames of w×h raw DIB at
    // 10 fps, frame f solid gray (d*7 + f*13) % 256; container length is
    // the fixed RIFF/hdrl overhead (232) plus per-frame chunk + idx1
    // entry (24) plus the 4-byte-aligned DIB payload stride*h
    Q("multimodal_features_video", multimodalFeaturesVideo _,
      """WITH p AS (SELECT doc_id, doc_id % 5 + 2 AS nf,
        |    CAST(doc_id % 11 + 1 AS INT) AS w,
        |    CAST(doc_id % 6 + 1 AS INT) AS h FROM documents),
        |f AS (SELECT doc_id, nf, w, h, unnest(range(0, nf)) AS fr FROM p)
        |SELECT CAST(doc_id AS BIGINT) AS asset_id,
        |  CAST(232 + nf * (24 + ((3 * w + 3) // 4) * 4 * h) AS BIGINT) AS byte_len,
        |  w AS width, h AS height,
        |  CAST(nf AS BIGINT) AS n_frames,
        |  CAST(10 AS INT) AS fps,
        |  CAST(doc_id * 7 % 256 AS INT) AS first_px,
        |  CAST(SUM(w * h * ((doc_id * 7 + fr * 13) % 256)) AS BIGINT) AS sum_px
        |FROM f GROUP BY doc_id, nf, w, h ORDER BY asset_id""".stripMargin),
    // all three codecs in one row set: image sum = gray·w·h, audio sum
    // replays the PCM formula, video sum replays the per-frame gray fill
    Q("multimodal_features", multimodalFeatures _,
      """WITH img AS (
        |  SELECT CAST(doc_id AS BIGINT) AS asset_id, 'image' AS modality,
        |    CAST(doc_id % 13 + 1 AS INT) AS width,
        |    CAST(doc_id % 7 + 1 AS INT) AS height,
        |    CAST(1 AS BIGINT) AS n_units,
        |    CAST((doc_id % 256) * (doc_id % 13 + 1) * (doc_id % 7 + 1) AS BIGINT)
        |      AS content_sum
        |  FROM documents),
        |an AS (SELECT doc_id, doc_id % 50 + 10 AS ns FROM documents),
        |asamp AS (SELECT doc_id, ns, unnest(range(0, ns)) AS i FROM an),
        |aud AS (
        |  SELECT CAST(doc_id AS BIGINT) AS asset_id, 'audio' AS modality,
        |    CAST(0 AS INT) AS width, CAST(0 AS INT) AS height,
        |    CAST(ns AS BIGINT) AS n_units,
        |    CAST(SUM(ABS((doc_id * 31 + i * 17) % 2001 - 1000)) AS BIGINT)
        |      AS content_sum
        |  FROM asamp GROUP BY doc_id, ns),
        |vp AS (SELECT doc_id, doc_id % 5 + 2 AS nf,
        |    CAST(doc_id % 11 + 1 AS INT) AS w,
        |    CAST(doc_id % 6 + 1 AS INT) AS h FROM documents),
        |vf AS (SELECT doc_id, nf, w, h, unnest(range(0, nf)) AS fr FROM vp),
        |vid AS (
        |  SELECT CAST(doc_id AS BIGINT) AS asset_id, 'video' AS modality,
        |    w AS width, h AS height, CAST(nf AS BIGINT) AS n_units,
        |    CAST(SUM(w * h * ((doc_id * 7 + fr * 13) % 256)) AS BIGINT)
        |      AS content_sum
        |  FROM vf GROUP BY doc_id, nf, w, h)
        |SELECT * FROM (
        |  SELECT * FROM img UNION ALL SELECT * FROM aud UNION ALL SELECT * FROM vid)
        |ORDER BY modality, asset_id""".stripMargin),
    Q("multimodal_features_image", multimodalFeaturesImage _,
      """SELECT doc_id AS asset_id,
        |  array_to_string(list_transform(range(0, 16), x ->
        |    CAST(CASE WHEN x = (doc_id % 256) // 16
        |      THEN (doc_id % 13 + 1) * (doc_id % 7 + 1)
        |      ELSE 0 END AS BIGINT)), ',') AS features
        |FROM documents ORDER BY asset_id""".stripMargin),
    Q("pipeline_corpus", pipelineCorpus _, {
      val langs = graft.operators.TextAnalysis.langMarkers.toSeq.sortBy(_._1)
      val langTok =
        """LIST_FILTER(STRING_SPLIT_REGEX(
        |  REGEXP_REPLACE(LOWER(text), '(\p{Han})', ' \1 ', 'g'),
        |  '[^\p{L}0-9]+'), x -> LEN(x) > 0)""".stripMargin
      val hitCols = langs.map { case (l, ms) =>
        s"LEN(LIST_FILTER($langTok, x -> x IN (${ms.map(m => s"'$m'").mkString(", ")}))) AS h_$l"
      }.mkString(",\n  ")
      val maxExpr = s"GREATEST(${langs.map(l => s"h_${l._1}").mkString(", ")})"
      val pick = langs.map { case (l, _) => s"WHEN h_$l = $maxExpr THEN '$l'" }.mkString(" ")
      s"""WITH kept AS (
         |  SELECT doc_id, text FROM (
         |    SELECT doc_id, text,
         |      ROW_NUMBER() OVER (PARTITION BY MD5(text) ORDER BY doc_id) AS rn
         |    FROM documents) WHERE rn = 1
         |), scored AS (
         |  SELECT doc_id,
         |    CAST(LEN($tokensSql) AS BIGINT) AS n_tokens,
         |    CASE WHEN LENGTH(text) > 0
         |      THEN CAST(LENGTH(REGEXP_REPLACE(text, '[a-zA-Z0-9\\s]', '', 'g')) AS DOUBLE)
         |           / LENGTH(text) ELSE 0.0 END AS punct_ratio,
         |    CASE WHEN LEN($tokensSql) > 0
         |      THEN CAST(LEN(LIST_FILTER($tokensSql,
         |             x -> x IN ('the','a','an','and','or','of','to','in','is','it'))) AS DOUBLE)
         |           / LEN($tokensSql) ELSE 0.0 END AS stopword_ratio,
         |    $hitCols
         |  FROM kept
         |)
         |SELECT doc_id, n_tokens,
         |  CASE WHEN $maxExpr <= 0 THEN 'und' $pick END AS pred_lang
         |FROM scored
         |WHERE n_tokens >= 10 AND punct_ratio < 0.25 AND stopword_ratio > 0.0
         |  AND CASE WHEN $maxExpr <= 0 THEN 'und' $pick END = 'en'
         |ORDER BY doc_id""".stripMargin
    }),
    Q("pipeline_corpus_v3", pipelineCorpusV3 _,
      s"""WITH c AS (SELECT lang, COUNT(*) AS cnt FROM documents GROUP BY lang),
         |m AS (SELECT MIN(cnt) AS mn FROM c),
         |mixq AS (
         |  SELECT d.doc_id, d.lang, d.text
         |  FROM documents d JOIN c USING (lang), m
         |  WHERE ${graft.operators.Sampling.bucket1000Sql("d.doc_id")} <
         |    FLOOR(SQRT(1000000.0 * m.mn / c.cnt))),
         |lm AS (${langMixedSqlFrom("mixq")}),
         |kept AS (
         |  SELECT mixq.doc_id, mixq.lang, mixq.text
         |  FROM mixq JOIN lm USING (doc_id)
         |  WHERE NOT lm.mixed AND lm.lang_a <> 'und'),
         |b AS (
         |  SELECT doc_id, lang, toks, LEN(toks) AS n
         |  FROM (SELECT doc_id, lang, $tokensSql AS toks FROM kept)
         |  WHERE LEN(toks) > 0),
         |starts AS (
         |  SELECT doc_id, lang, n,
         |    UNNEST(GENERATE_SERIES(1,
         |      CASE WHEN n <= 64 THEN 1
         |           ELSE ((n - 64 + 47) // 48) * 48 + 1 END, 48)) AS start
         |  FROM b)
         |SELECT lang, COUNT(DISTINCT doc_id) AS n_docs, COUNT(1) AS n_chunks,
         |  CAST(SUM(LEAST(64, n - start + 1)) AS BIGINT) AS sum_tokens
         |FROM starts GROUP BY lang ORDER BY lang""".stripMargin),
    Q("pipeline_corpus_v2", pipelineCorpusV2 _,
      s"""WITH kept AS (
         |  SELECT doc_id, text, source FROM (
         |    SELECT doc_id, text, source,
         |      ROW_NUMBER() OVER (
         |        PARTITION BY MD5(TRIM(REGEXP_REPLACE(LOWER(text), '[^a-z0-9]+', ' ', 'g')))
         |        ORDER BY doc_id) AS rn
         |    FROM documents) WHERE rn = 1),
         |q AS (
         |  SELECT doc_id, source, CAST(LEN($tokensSql) AS BIGINT) AS n_tokens
         |  FROM kept
         |  WHERE CAST(LEN($tokensSql) AS BIGINT) >= 10
         |    AND (CASE WHEN LENGTH(text) > 0
         |         THEN CAST(LENGTH(REGEXP_REPLACE(text, '[a-zA-Z0-9\\s]', '', 'g')) AS DOUBLE)
         |              / LENGTH(text) ELSE 0.0 END) < 0.25
         |    AND doc_id % 97 <> 0),
         |toks AS (
         |  SELECT doc_id, unnest($tokensSql) AS tok,
         |    unnest(range(1, len($tokensSql) + 1)) AS pos
         |  FROM documents),
         |ng AS (
         |  SELECT doc_id,
         |    tok || ' ' || LEAD(tok, 1) OVER w || ' ' || LEAD(tok, 2) OVER w AS ngram
         |  FROM toks WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
         |bench AS (SELECT DISTINCT ngram FROM ng WHERE doc_id % 97 = 0 AND ngram IS NOT NULL),
         |contaminated AS (
         |  SELECT DISTINCT c.doc_id FROM ng c JOIN bench b ON c.ngram = b.ngram
         |  WHERE c.doc_id % 97 <> 0),
         |sel AS (
         |  SELECT source, doc_id, n_tokens,
         |    CAST(SUM(n_tokens) OVER (PARTITION BY source
         |      ORDER BY n_tokens DESC, doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_cost
         |  FROM q WHERE doc_id NOT IN (SELECT doc_id FROM contaminated))
         |SELECT source, doc_id, n_tokens, cum_cost FROM sel
         |WHERE cum_cost <= 1200 ORDER BY source, doc_id""".stripMargin),
    Q("funnel_signup_purchase", funnelSignupPurchase _,
      """SELECT user_id, first_signup, first_purchase FROM (
        |  SELECT user_id,
        |    MIN(CASE WHEN event_type = 'signup' THEN ts END) AS first_signup,
        |    MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS first_purchase
        |  FROM events GROUP BY user_id)
        |WHERE first_signup IS NOT NULL AND first_purchase IS NOT NULL
        |  AND first_purchase > first_signup
        |ORDER BY user_id""".stripMargin),
    Q("retention_weekly", retentionWeekly _,
      """WITH um AS (SELECT DISTINCT user_id, DATE_TRUNC('week', ts) AS m FROM events)
        |SELECT a.m AS cohort_month, COUNT(1) AS retained
        |FROM um a JOIN um b
        |  ON a.user_id = b.user_id AND b.m = a.m + INTERVAL 7 DAY
        |GROUP BY a.m ORDER BY a.m""".stripMargin),
    Q("corpus_increment", corpusIncrement _,
      """SELECT doc_id FROM documents
        |WHERE doc_id % 2 = 1
        |  AND MD5(text) NOT IN (SELECT MD5(text) FROM documents WHERE doc_id % 2 = 0)
        |ORDER BY doc_id""".stripMargin),
    Q("corpus_split", corpusSplit _,
      """SELECT doc_id,
        |  CASE WHEN SUBSTR(MD5(text), 1, 1) IN ('0', '1')
        |    THEN 'val' ELSE 'train' END AS split
        |FROM documents ORDER BY doc_id""".stripMargin),
    Q("corpus_shuffle", corpusShuffle _,
      """SELECT doc_id FROM documents
        |ORDER BY MD5('42' || '#' || CAST(doc_id AS VARCHAR)), doc_id""".stripMargin),
    Q("corpus_pack", corpusPack _,
      s"""SELECT doc_id, shard, n_tokens,
         |  CAST(FLOOR((cum - n_tokens) / 2000.0) AS BIGINT) AS chunk_id
         |FROM (
         |  SELECT doc_id, CAST(doc_id % 4 AS BIGINT) AS shard,
         |    CAST(LEN($tokensSql) AS BIGINT) AS n_tokens,
         |    SUM(CAST(LEN($tokensSql) AS BIGINT)) OVER (
         |      PARTITION BY doc_id % 4 ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |  FROM documents)
         |ORDER BY doc_id""".stripMargin),
    Q("corpus_chunk", corpusChunk _,
      s"""WITH b AS (
         |  SELECT doc_id, toks, LEN(toks) AS n
         |  FROM (SELECT doc_id, $tokensSql AS toks FROM documents)
         |  WHERE LEN(toks) > 0),
         |starts AS (
         |  SELECT doc_id, toks, n,
         |    UNNEST(GENERATE_SERIES(1,
         |      CASE WHEN n <= 64 THEN 1
         |           ELSE ((n - 64 + 47) // 48) * 48 + 1 END, 48)) AS start
         |  FROM b)
         |SELECT doc_id,
         |  CAST((start - 1) // 48 AS BIGINT) AS chunk_id,
         |  ARRAY_TO_STRING(LIST_SLICE(toks, start, start + 63), ' ') AS chunk_text,
         |  CAST(LEAST(64, n - start + 1) AS BIGINT) AS chunk_tokens
         |FROM starts ORDER BY doc_id, chunk_id""".stripMargin),
    // same stride-grid chunking as corpus_chunk, window = stride = 16,
    // reduced to block digests
    Q("dedup_blocks", dedupBlocks _,
      s"""WITH b AS (
         |  SELECT doc_id, toks, LEN(toks) AS n
         |  FROM (SELECT doc_id, $tokensSql AS toks FROM documents)
         |  WHERE LEN(toks) > 0),
         |starts AS (
         |  -- full blocks only (start + 16 - 1 <= n); docs shorter than one
         |  -- block yield no rows (empty series when the stop is < 1)
         |  SELECT doc_id, toks, n,
         |    UNNEST(GENERATE_SERIES(1, n - 15, 16)) AS start
         |  FROM b),
         |blocks AS (
         |  SELECT doc_id,
         |    MD5(ARRAY_TO_STRING(LIST_SLICE(toks, start, start + 15), ' ')) AS block_digest
         |  FROM starts)
         |SELECT block_digest, COUNT(DISTINCT doc_id) AS n_docs,
         |  COUNT(1) AS n_occurrences
         |FROM blocks GROUP BY block_digest
         |HAVING COUNT(DISTINCT doc_id) >= 2
         |ORDER BY block_digest""".stripMargin),
    Q("corpus_redact", corpusRedact _, {
      val em = graft.operators.Corpus.emailPattern
      val ph = graft.operators.Corpus.phonePattern
      s"""WITH er AS (
         |  SELECT doc_id, text,
         |    REGEXP_REPLACE(text, '$em', '<EMAIL>', 'g') AS etext
         |  FROM documents)
         |SELECT doc_id,
         |  CAST(LEN(REGEXP_EXTRACT_ALL(text, '$em')) AS INT) AS n_emails,
         |  CAST(LEN(REGEXP_EXTRACT_ALL(etext, '$ph')) AS INT) AS n_phones,
         |  MD5(REGEXP_REPLACE(etext, '$ph', '<PHONE>', 'g')) AS clean_digest
         |FROM er ORDER BY doc_id""".stripMargin
    }),
    Q("asof_join", asofJoin _, asofOracleSql),
    Q("ts_resample_ffill", tsResampleFfill _,
      """WITH ev AS (
        |  SELECT user_id,
        |    CAST(FLOOR(epoch(ts)) AS BIGINT) // 86400 AS slot,
        |    CAST(FLOOR(value * 1000) AS BIGINT) AS v
        |  FROM events),
        |by_slot AS (SELECT user_id, slot, MAX(v) AS slot_max
        |            FROM ev GROUP BY user_id, slot),
        |span AS (SELECT user_id, MIN(slot) AS s0, MAX(slot) AS s1
        |         FROM ev GROUP BY user_id),
        |grid AS (SELECT user_id, UNNEST(range(s0, s1 + 1)) AS slot FROM span)
        |SELECT g.user_id, g.slot,
        |  LAST_VALUE(b.slot_max IGNORE NULLS) OVER (
        |    PARTITION BY g.user_id ORDER BY g.slot
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_ffill,
        |  b.slot_max IS NOT NULL AS observed
        |FROM grid g LEFT JOIN by_slot b
        |  ON g.user_id = b.user_id AND g.slot = b.slot
        |ORDER BY g.user_id, g.slot""".stripMargin),
    Q("asof_join_forward", asofJoinForward _, asofOracleSql.replace("l.ts >= r.ts", "l.ts <= r.ts")),
    Q("asof_join_salted", asofJoinSalted _, asofOracleSql),
    Q("interval_join", intervalJoin _,
      """SELECT i.interval_id, p.point_id
        |FROM (SELECT event_id AS interval_id, ts AS s, ts + INTERVAL 10 MINUTE AS e
        |      FROM events WHERE event_type = 'purchase') i
        |JOIN (SELECT event_id AS point_id, ts FROM events WHERE event_type = 'click') p
        |  ON p.ts >= i.s AND p.ts <= i.e
        |ORDER BY i.interval_id, p.point_id""".stripMargin),
    // NOTE: DuckDB's windowed SUM over integers returns HUGEINT (int128);
    // the driver hash compares typed values, so without the BIGINT cast the
    // values match but the dtype (and therefore the hash) does not.
    Q("session_assign", sessionAssign _,
      """SELECT user_id, event_id, ts,
        |  CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
        |FROM (
        |  SELECT user_id, event_id, ts,
        |    CASE WHEN LAG(ts) OVER w IS NULL THEN 1
        |         WHEN EPOCH_US(ts) - EPOCH_US(LAG(ts) OVER w) > 30 * 60 * 1000000 THEN 1
        |         ELSE 0 END AS new_s
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |)
        |ORDER BY user_id, event_id""".stripMargin),
    Q("session_stats", sessionStats _,
      """WITH assigned AS (
        |  SELECT user_id, event_id, ts, value,
        |    CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
        |  FROM (
        |    SELECT user_id, event_id, ts, value,
        |      CASE WHEN LAG(ts) OVER w IS NULL THEN 1
        |           WHEN EPOCH_US(ts) - EPOCH_US(LAG(ts) OVER w) > 30 * 60 * 1000000 THEN 1
        |           ELSE 0 END AS new_s
        |    FROM events
        |    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |  )
        |)
        |SELECT user_id, session_seq,
        |  MIN(ts) AS session_start, MAX(ts) AS session_end,
        |  COUNT(1) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
        |FROM assigned GROUP BY user_id, session_seq
        |ORDER BY user_id, session_seq""".stripMargin),
    Q("stream_tumbling_counts", streamTumblingCounts _,
      """SELECT date_trunc('hour', ts) AS win_start, event_type,
        |  COUNT(1) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    // session_window semantics replayed in SQL: end = last ts + gap,
    // boundary events (diff == gap exactly) START a new session (>=)
    Q("session_stream_stats", sessionStreamStats _,
      """WITH assigned AS (
        |  SELECT user_id, ts, value,
        |    CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
        |  FROM (
        |    SELECT user_id, event_id, ts, value,
        |      CASE WHEN LAG(ts) OVER w IS NULL THEN 1
        |           WHEN EPOCH_US(ts) - EPOCH_US(LAG(ts) OVER w) >= 30 * 60 * 1000000 THEN 1
        |           ELSE 0 END AS new_s
        |    FROM events
        |    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |  )
        |)
        |SELECT user_id,
        |  MIN(ts) AS session_start,
        |  MAX(ts) + INTERVAL 30 MINUTE AS session_end,
        |  COUNT(1) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
        |FROM assigned GROUP BY user_id, session_seq
        |ORDER BY user_id, session_start""".stripMargin),
    // the streaming inequality join replayed directly over events
    Q("stream_click_attribution", streamClickAttribution _,
      """SELECT c.event_id AS click_id, c.user_id, c.ts AS click_ts,
        |  p.ts AS purchase_ts, p.value AS purchase_value
        |FROM events c JOIN events p
        |  ON c.event_type = 'click' AND p.event_type = 'purchase'
        |  AND p.user_id = c.user_id
        |  AND p.ts >= c.ts - INTERVAL 4 HOUR AND p.ts <= c.ts
        |ORDER BY click_id, purchase_ts, purchase_value""".stripMargin),
    // the same join at the API-default 10-minute lookback
    Q("stream_click_purchase", streamClickPurchase _,
      """SELECT c.event_id AS click_id, c.user_id, c.ts AS click_ts,
        |  p.ts AS purchase_ts, p.value AS purchase_value
        |FROM events c JOIN events p
        |  ON c.event_type = 'click' AND p.event_type = 'purchase'
        |  AND p.user_id = c.user_id
        |  AND p.ts >= c.ts - INTERVAL 10 MINUTE AND p.ts <= c.ts
        |ORDER BY click_id, purchase_ts, purchase_value""".stripMargin),
    // final mapGroupsWithState state per user = the plain aggregate
    Q("stream_running_totals", streamRunningTotals _,
      """SELECT user_id, COUNT(1) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin),
    // the streamed ADMITTED DIGEST SET recomputed from documents: the
    // gate in exact cross-multiplied integer form (punct*4 < n_chars ⟺
    // punct_ratio < 0.25; stopword_hits > 0 ⟺ ratio > 0)
    Q("stream_clean_ingest", streamCleanIngest _,
      s"""SELECT DISTINCT md5(text) AS digest,
         |  CAST(LEN($tokensSql) AS BIGINT) AS n_tokens
         |FROM documents
         |WHERE LEN($tokensSql) >= 10
         |  AND LENGTH(REGEXP_REPLACE(text, '[a-zA-Z0-9\\s]', '', 'g')) * 4
         |      < LENGTH(text)
         |  AND LEN(LIST_FILTER($tokensSql,
         |        x -> x IN ('the','a','an','and','or','of','to','in','is','it'))) > 0
         |ORDER BY digest""".stripMargin),
    // structural facts of the generated topic (4 partitions × offsets
    // 0..499, one record per second from the 2024 epoch) + the
    // constant-TRUE stream≡batch replay gate
    Q("stream_eventlog_replay", streamEventlogReplay _,
      """SELECT CAST(p AS INTEGER) AS partition,
        |  CAST(500 AS BIGINT) AS n_records,
        |  CAST(0 AS BIGINT) AS min_offset,
        |  CAST(499 AS BIGINT) AS max_offset,
        |  CAST(500 AS BIGINT) AS n_distinct_offsets,
        |  TIMESTAMP '2024-01-01 00:00:00' AS min_ts,
        |  TIMESTAMP '2024-01-01 00:00:00' + INTERVAL 499 SECOND AS max_ts,
        |  TRUE AS stream_equals_batch
        |FROM (SELECT unnest(generate_series(0, 3)) AS p)
        |ORDER BY partition""".stripMargin),
    // the streamed per-batch shard dirs unioned back: per-source
    // id-ordered digest chains over the WHOLE corpus (exactly-once ⇒
    // every doc exactly once) + the constant-TRUE restart gate
    Q("stream_shard_append", streamShardAppend _,
      """SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  MD5(STRING_AGG(MD5(text), '' ORDER BY doc_id)) AS digest_chain,
        |  TRUE AS restart_wrote_nothing
        |FROM documents GROUP BY source ORDER BY source""".stripMargin),
    // identical replay to ts_anomaly (the batch twin): exact-integer
    // cents kernel over the trailing-50 (ts, id) window, k=3, minObs=20
    Q("stream_anomaly_flags", streamAnomalyFlags _,
      """WITH fx AS (
        |  SELECT event_id, event_type, ts, value,
        |    CAST(ROUND(value * 100) AS BIGINT) AS x
        |  FROM events),
        |win AS (
        |  SELECT event_id, event_type, ts, value, x,
        |    COUNT(1) OVER w AS n, SUM(x) OVER w AS s, SUM(x * x) OVER w AS q
        |  FROM fx
        |  WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id
        |               ROWS BETWEEN 49 PRECEDING AND CURRENT ROW))
        |SELECT event_id, event_type, ts, value
        |FROM win
        |WHERE n >= 20 AND (n * x - s) * (n * x - s) > 9 * (n * q - s * s)
        |ORDER BY event_id""".stripMargin),
    Q("state_runs", stateRuns _,
      """WITH flagged AS (
        |  SELECT user_id, ts, event_id, event_type,
        |    CASE WHEN ROW_NUMBER() OVER w = 1
        |           OR LAG(event_type) OVER w IS DISTINCT FROM event_type THEN 1
        |         ELSE 0 END AS chg
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |runs AS (
        |  SELECT user_id, ts, event_type,
        |    CAST(SUM(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS run_seq
        |  FROM flagged),
        |agg AS (
        |  SELECT user_id, run_seq, MIN(event_type) AS state,
        |    MIN(ts) AS start_ts, MAX(ts) AS end_ts, COUNT(1) AS n_events
        |  FROM runs GROUP BY user_id, run_seq)
        |SELECT user_id, run_seq, state, start_ts, end_ts, n_events,
        |  LEAD(start_ts) OVER (PARTITION BY user_id ORDER BY run_seq) AS valid_to
        |FROM agg ORDER BY user_id, run_seq""".stripMargin),
    Q("assoc_rules", assocRules _,
      """WITH bi AS (SELECT DISTINCT user_id AS b, event_type AS i FROM events),
        |pairs AS (
        |  SELECT a.i AS item_a, b.i AS item_b, COUNT(1) AS n_ab
        |  FROM bi a JOIN bi b ON a.b = b.b AND a.i < b.i
        |  GROUP BY 1, 2),
        |ic AS (SELECT i, COUNT(1) AS n FROM bi GROUP BY i),
        |t AS (SELECT COUNT(DISTINCT b) AS n_baskets FROM bi)
        |SELECT item_a, item_b, n_ab, ia.n AS n_a, ib.n AS n_b, n_baskets,
        |  CAST(n_ab AS DOUBLE) / CAST(n_baskets AS DOUBLE) AS support,
        |  CAST(n_ab AS DOUBLE) / CAST(ia.n AS DOUBLE) AS conf_a_b,
        |  CAST(n_ab AS DOUBLE) / CAST(ib.n AS DOUBLE) AS conf_b_a,
        |  (CAST(n_ab AS DOUBLE) * CAST(n_baskets AS DOUBLE)) /
        |  (CAST(ia.n AS DOUBLE) * CAST(ib.n AS DOUBLE)) AS lift
        |FROM pairs JOIN ic ia ON ia.i = item_a JOIN ic ib ON ib.i = item_b
        |CROSS JOIN t
        |ORDER BY item_a, item_b""".stripMargin),
    // the z-test runs in its cross-multiplied integer-cents square form —
    // (n·x − S)² > k²(n·Q − S²) — so both engines compare exact integers
    Q("ts_anomaly", tsAnomaly _,
      """WITH fx AS (
        |  SELECT event_id, event_type, ts, value,
        |    CAST(ROUND(value * 100) AS BIGINT) AS x
        |  FROM events),
        |win AS (
        |  SELECT event_id, event_type, ts, value, x,
        |    COUNT(1) OVER w AS n, SUM(x) OVER w AS s, SUM(x * x) OVER w AS q
        |  FROM fx
        |  WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id
        |               ROWS BETWEEN 49 PRECEDING AND CURRENT ROW))
        |SELECT event_id, event_type, ts, value
        |FROM win
        |WHERE n >= 20 AND (n * x - s) * (n * x - s) > 9 * (n * q - s * s)
        |ORDER BY event_id""".stripMargin),
    Q("ts_twap", tsTwap _,
      """WITH o AS (
        |  SELECT event_type, ts, event_id,
        |    CAST(ROUND(value * 100) AS BIGINT) AS cents,
        |    (EPOCH_US(ts) // 1000000) AS es
        |  FROM events),
        |d AS (
        |  SELECT event_type, cents,
        |    LEAD(es) OVER (PARTITION BY event_type ORDER BY ts, event_id) - es AS dt
        |  FROM o)
        |SELECT event_type,
        |  CAST(SUM(cents * dt) AS BIGINT) AS sum_value_seconds,
        |  CAST(SUM(dt) AS BIGINT) AS sum_seconds,
        |  CASE WHEN CAST(SUM(dt) AS BIGINT) > 0 THEN
        |    CAST(CAST(SUM(cents * dt) AS BIGINT) AS DOUBLE) /
        |      (100.0 * CAST(CAST(SUM(dt) AS BIGINT) AS DOUBLE)) END AS twap
        |FROM d WHERE dt IS NOT NULL
        |GROUP BY event_type ORDER BY event_type""".stripMargin),
    Q("rolling_active", rollingActive _,
      """WITH ad AS (SELECT DISTINCT user_id AS actor, CAST(ts AS DATE) AS d FROM events),
        |m AS (SELECT MIN(d) AS dmin, MAX(d) AS dmax FROM ad),
        |contrib AS (
        |  SELECT DISTINCT actor, d + i AS window_end
        |  FROM ad, (SELECT CAST(unnest(generate_series(0, 2)) AS INTEGER) AS i) t),
        |counts AS (SELECT window_end, COUNT(1) AS n FROM contrib GROUP BY window_end),
        |spine AS (SELECT CAST(unnest(generate_series(CAST(dmin AS TIMESTAMP),
        |    CAST(dmax AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE) AS window_end FROM m)
        |SELECT s.window_end, COALESCE(c.n, CAST(0 AS BIGINT)) AS n_active
        |FROM spine s LEFT JOIN counts c ON s.window_end = c.window_end
        |ORDER BY s.window_end""".stripMargin),
    // both ingest lanes recomputed from documents alone: ok rows' text
    // digests (round-trip losslessness) and quarantined rows' RAW-LINE
    // digests (byte-for-byte preservation of the malformed input)
    Q("corpus_ingest_jsonl", corpusIngestJsonl _,
      """SELECT doc_id, 'ok' AS status, MD5(text) AS digest
        |FROM documents WHERE doc_id % 97 <> 0
        |UNION ALL
        |SELECT doc_id, 'quarantined' AS status,
        |  MD5('{"doc_id": ' || doc_id || ', "text": BROKEN') AS digest
        |FROM documents WHERE doc_id % 97 = 0
        |ORDER BY doc_id""".stripMargin),
    // the manifest-protocol round trip recomputed from documents alone:
    // same per-bucket doc_id-ordered digest chain, constant-TRUE
    // manifest gate
    Q("shard_sink_roundtrip", shardSinkRoundtrip _,
      """SELECT doc_id % 8 AS bucket, COUNT(1) AS n_docs,
        |  MD5(STRING_AGG(MD5(text), '' ORDER BY doc_id)) AS digest,
        |  TRUE AS manifest_ok
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin),
    // the parquet-payload twin: identical digest chains (the payload
    // format must be content-invisible), constant-TRUE format gate
    Q("shard_sink_parquet", shardSinkParquet _,
      """SELECT doc_id % 8 AS bucket, COUNT(1) AS n_docs,
        |  MD5(STRING_AGG(MD5(text), '' ORDER BY doc_id)) AS digest,
        |  TRUE AS manifest_ok
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin),
    // the pruned point lookup over a parquet table: same planted keys
    // and gate as the jsonl row
    Q("shard_read_by_key_parquet", shardReadByKeyParquet _,
      """SELECT doc_id, MD5(text) AS ld, TRUE AS read_pruned
        |FROM documents
        |WHERE doc_id % 7 = 0
        |  AND doc_id <= (SELECT MAX(doc_id) // 2 FROM documents)
        |ORDER BY doc_id""".stripMargin),
    // compaction preserves content exactly: same digest chains, plus the
    // consolidation gate
    Q("shard_compact_roundtrip", shardCompactRoundtrip _,
      """SELECT doc_id % 8 AS bucket, COUNT(1) AS n_docs,
        |  MD5(STRING_AGG(MD5(text), '' ORDER BY doc_id)) AS digest,
        |  TRUE AS compacted_ok
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin),
    // ANN takedown: every lifecycle gate exactly derivable -> constant-
    // TRUE verdict over the query ids (the sim_topk_*_verdict pattern)
    Q("sim_topk_ann_delete_verdict", simTopkAnnDeleteVerdict _,
      """SELECT vec_id AS query_id, TRUE AS copy_found,
        |  TRUE AS restored_equal, TRUE AS tombstones_cleared
        |FROM embeddings WHERE vec_id < 5 ORDER BY query_id""".stripMargin),
    // schema evolution: the evolved table derived straight from
    // documents — n_chars only where the widened append carried it
    Q("shard_schema_evolution", shardSchemaEvolution _,
      """SELECT doc_id, MD5(text) AS ld,
        |  CASE WHEN doc_id % 2 = 1 THEN CAST(n_chars AS BIGINT)
        |       ELSE NULL END AS n_chars,
        |  TRUE AS evolve_ok
        |FROM documents ORDER BY doc_id""".stripMargin),
    // the pruned point lookup: the planted low-half key rows derived
    // straight from documents, with the constant-TRUE prune gate
    Q("shard_read_by_key", shardReadByKey _,
      """SELECT doc_id, MD5(text) AS ld, TRUE AS read_pruned
        |FROM documents
        |WHERE doc_id % 7 = 0
        |  AND doc_id <= (SELECT MAX(doc_id) // 2 FROM documents)
        |ORDER BY doc_id""".stripMargin),
    // the takedown twin: digest chains over documents that NEVER had
    // the deleted ids (the planted set confined to the low id half so
    // the stats prune is observable), plus the constant-TRUE delete gates
    Q("shard_delete_roundtrip", shardDeleteRoundtrip _,
      """SELECT doc_id % 8 AS bucket, COUNT(1) AS n_docs,
        |  MD5(STRING_AGG(MD5(text), '' ORDER BY doc_id)) AS digest,
        |  TRUE AS delete_ok
        |FROM documents
        |WHERE NOT (doc_id % 11 = 3
        |  AND doc_id <= (SELECT MAX(doc_id) // 2 FROM documents))
        |GROUP BY 1 ORDER BY 1""".stripMargin),
    // the digest-keyed takedown: rows whose CONTENT DIGEST matches one
    // of the five planted keys are gone everywhere (duplicate texts
    // delete in every shard they landed in); the bloom prune gate is
    // constant-TRUE
    Q("shard_delete_digest", shardDeleteDigest _,
      """SELECT doc_id % 8 AS bucket, COUNT(1) AS n_docs,
        |  MD5(STRING_AGG(MD5(text), '' ORDER BY doc_id)) AS digest,
        |  TRUE AS delete_ok
        |FROM documents
        |WHERE MD5(text) NOT IN (
        |  SELECT MD5(text) FROM documents
        |  WHERE doc_id IN (
        |    SELECT doc_id FROM documents
        |    WHERE doc_id % 17 = 5 AND doc_id % 4 = 2
        |    ORDER BY doc_id LIMIT 5))
        |GROUP BY 1 ORDER BY 1""".stripMargin),
    // the metadata-aggregate twin: DuckDB computes the same aggregate
    // directly; the plan gates are constant-TRUE
    Q("shard_agg_pushdown", shardAggPushdown _,
      """SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |  MIN(doc_id) AS lo, MAX(doc_id) AS hi, TRUE AS agg_ok
        |FROM documents""".stripMargin),
    // the multi-column sidecar twin: documents minus the rows sharing
    // the LOWEST doc's digest (duplicate texts delete everywhere —
    // keyed semantics); the two-class prune gate is constant-TRUE
    Q("shard_multicol_prune", shardMulticolPrune _,
      """SELECT doc_id % 8 AS bucket, COUNT(1) AS n_docs,
        |  MD5(STRING_AGG(MD5(text), '' ORDER BY doc_id)) AS digest,
        |  TRUE AS multicol_ok
        |FROM documents
        |WHERE MD5(text) NOT IN (
        |  SELECT MD5(text) FROM documents
        |  ORDER BY doc_id LIMIT 1)
        |GROUP BY 1 ORDER BY 1""".stripMargin),
    // the V2 relation twin: the full table digest-chained per bucket
    // (the store is a lossless re-encoding of documents' digests); the
    // plan-prune and imperative-parity gates are constant-TRUE
    Q("shard_v2_read", shardV2Read _,
      """SELECT doc_id % 8 AS bucket, COUNT(1) AS n_docs,
        |  MD5(STRING_AGG(MD5(text), '' ORDER BY doc_id)) AS digest,
        |  TRUE AS pruned_ok, TRUE AS parity_ok
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin),
    // the merge-on-read takedown twin: documents minus the %13 keys plus
    // the odd-key re-adds with the RE payload; every physical gate
    // (no-rewrite, segment retirement, count truth) is constant-TRUE
    Q("shard_delete_deferred", shardDeleteDeferred _,
      """WITH base AS (
        |  SELECT doc_id, MD5(text) AS ld FROM documents
        |  WHERE doc_id % 13 <> 1
        |  UNION ALL
        |  SELECT doc_id, MD5('RE' || text) AS ld FROM documents
        |  WHERE doc_id % 13 = 1 AND doc_id % 2 = 1)
        |SELECT doc_id % 8 AS bucket, COUNT(1) AS n_docs,
        |  MD5(STRING_AGG(ld, '' ORDER BY doc_id)) AS digest,
        |  TRUE AS forget_ok
        |FROM base GROUP BY 1 ORDER BY 1""".stripMargin),
    // the change feed replayed relationally: added = the +10^7 inserts,
    // changed = updated-and-not-deleted, removed = null-filled
    // tombstones of the takedown ids (updated-then-deleted keys land
    // here, not in changed)
    Q("shard_changes_since", shardChangesSince _,
      """SELECT doc_id + 10000000 AS doc_id, MD5('NEW' || text) AS ld,
        |  'added' AS change
        |FROM documents WHERE doc_id % 101 = 0
        |UNION ALL
        |SELECT doc_id, MD5('UPD' || text) AS ld, 'changed' AS change
        |FROM documents WHERE doc_id % 11 = 3 AND doc_id % 13 <> 1
        |UNION ALL
        |SELECT doc_id, CAST(NULL AS VARCHAR) AS ld, 'removed' AS change
        |FROM documents WHERE doc_id % 13 = 1
        |ORDER BY doc_id""".stripMargin),
    // the two windowed feeds replayed relationally: w1 (v1→v2) carries
    // the upsert wave — changed keys show their v2 payloads, the delete
    // wave has NOT happened yet so %13 keys still classify by the
    // upsert alone; w2 (v2→v3) carries only the takedown tombstones.
    // Disjointness is structural (no key appears in both with one wave
    // each side)
    Q("shard_changes_window", shardChangesWindow _,
      """SELECT 'w1' AS w, doc_id + 10000000 AS doc_id,
        |  MD5('NEW' || text) AS ld, 'added' AS change
        |FROM documents WHERE doc_id % 101 = 0
        |UNION ALL
        |SELECT 'w1' AS w, doc_id, MD5('UPD' || text) AS ld,
        |  'changed' AS change
        |FROM documents WHERE doc_id % 11 = 3
        |UNION ALL
        |SELECT 'w2' AS w, doc_id, CAST(NULL AS VARCHAR) AS ld,
        |  'removed' AS change
        |FROM documents WHERE doc_id % 13 = 1
        |ORDER BY w, doc_id""".stripMargin),
    // CDC apply: the downstream table after replaying the feed = the
    // evolved upstream, derived store-lessly; apply_ok is constant-TRUE
    Q("shard_changes_apply", shardChangesApply _,
      """SELECT doc_id % 8 AS bucket, CAST(COUNT(1) AS BIGINT) AS n_docs,
        |  MD5(STRING_AGG(ld, '' ORDER BY doc_id)) AS digest,
        |  TRUE AS apply_ok
        |FROM (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 11 = 3 THEN MD5('UPD' || text)
        |         ELSE MD5(text) END AS ld
        |  FROM documents WHERE doc_id % 13 <> 1
        |  UNION ALL
        |  SELECT doc_id + 10000000 AS doc_id, MD5('NEW' || text) AS ld
        |  FROM documents WHERE doc_id % 101 = 0)
        |GROUP BY 1 ORDER BY 1""".stripMargin),
    // time travel + version diff: the three snapshot views derived
    // directly from documents (v1 pristine, v2 post-upsert, v2-minus-
    // %7-keys is v3); the v1 digest is what the POST-mutation,
    // POST-vacuum snapshot read must still produce
    Q("shard_snapshot_diff", shardSnapshotDiff _,
      """WITH v1 AS (SELECT doc_id, MD5(text) AS ld FROM documents),
        |v2 AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 11 = 3 THEN MD5('UPD' || text)
        |         ELSE MD5(text) END AS ld
        |  FROM documents
        |  UNION ALL
        |  SELECT doc_id + 10000000 AS doc_id, MD5('NEW' || text) AS ld
        |  FROM documents WHERE doc_id % 101 = 0),
        |tv AS (SELECT 'v1_asof' AS tag, 'table' AS change,
        |    CAST(COUNT(1) AS BIGINT) AS n,
        |    MD5(STRING_AGG(ld, '' ORDER BY doc_id)) AS digest FROM v1),
        |d12 AS (
        |  SELECT CASE WHEN a.doc_id IS NULL THEN 'added'
        |              WHEN b.doc_id IS NULL THEN 'removed'
        |              WHEN a.ld <> b.ld THEN 'changed' END AS change,
        |    COALESCE(a.doc_id, b.doc_id) AS k
        |  FROM v1 a FULL OUTER JOIN v2 b ON a.doc_id = b.doc_id),
        |g12 AS (SELECT 'v1_v2' AS tag, change, CAST(COUNT(1) AS BIGINT) AS n,
        |    MD5(STRING_AGG(CAST(k AS VARCHAR), ',' ORDER BY k)) AS digest
        |  FROM d12 WHERE change IS NOT NULL GROUP BY change),
        |g23 AS (SELECT 'v2_v3' AS tag, 'removed' AS change,
        |    CAST(COUNT(1) AS BIGINT) AS n,
        |    MD5(STRING_AGG(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id)) AS digest
        |  FROM v2 WHERE doc_id % 7 = 1)
        |SELECT tag, change, n, digest, TRUE AS vacuum_ok, TRUE AS retain_ok
        |FROM tv
        |UNION ALL SELECT tag, change, n, digest, TRUE, TRUE FROM g12
        |UNION ALL SELECT tag, change, n, digest, TRUE, TRUE FROM g23
        |ORDER BY tag, change""".stripMargin),
    // the MERGE twin: the post-upsert table derived directly — updated
    // payloads for the % 11 keys, the standing payloads elsewhere, the
    // synthetic + 10⁷ inserts appended; the durable store never seen
    Q("shard_upsert_roundtrip", shardUpsertRoundtrip _,
      """WITH base AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 11 = 3 THEN MD5('UPD' || text)
        |         ELSE MD5(text) END AS ld
        |  FROM documents
        |  UNION ALL
        |  SELECT doc_id + 10000000 AS doc_id, MD5('NEW' || text) AS ld
        |  FROM documents WHERE doc_id % 101 = 0)
        |SELECT doc_id % 8 AS bucket, COUNT(1) AS n_docs,
        |  MD5(STRING_AGG(ld, '' ORDER BY doc_id)) AS digest,
        |  TRUE AS upsert_ok
        |FROM base GROUP BY 1 ORDER BY 1""".stripMargin),
    // the HLL twin: exact side recomputed, estimate gated by the
    // constant-TRUE bounded verdict (the agg_hll_* oracle pattern)
    Q("rolling_active_hll", rollingActiveHll _,
      """WITH ad AS (SELECT DISTINCT user_id AS actor, CAST(ts AS DATE) AS d FROM events),
        |m AS (SELECT MIN(d) AS dmin, MAX(d) AS dmax FROM ad),
        |contrib AS (
        |  SELECT DISTINCT actor, d + i AS window_end
        |  FROM ad, (SELECT CAST(unnest(generate_series(0, 2)) AS INTEGER) AS i) t),
        |counts AS (SELECT window_end, COUNT(1) AS n FROM contrib GROUP BY window_end),
        |spine AS (SELECT CAST(unnest(generate_series(CAST(dmin AS TIMESTAMP),
        |    CAST(dmax AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE) AS window_end FROM m)
        |SELECT s.window_end, COALESCE(c.n, CAST(0 AS BIGINT)) AS n_active,
        |  TRUE AS within_5pct
        |FROM spine s LEFT JOIN counts c ON s.window_end = c.window_end
        |ORDER BY s.window_end""".stripMargin))
}
