package graft


import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Empirical scale probe (SURVEY §7.6 r9): measure how per-query
 * executor-CPU actually grows from a 1× to a 10× corpus, instead of
 * only plan-asserting the shapes. One measured slope catches a hidden
 * super-linear interaction (bucket caps, pair blowups, accidental
 * re-execution) that no single-SF bench can see.
 *
 * Fixture construction — the 10× corpus must be STRUCTURALLY identical
 * per copy, not ten byte-copies (byte-copies would plant 10 exact
 * duplicates of every doc and force Θ(copies²) output onto every dedup
 * query — a super-linear ANSWER, which says nothing about the
 * algorithm):
 *  - documents: copy k maps every alphanumeric character through the
 *    36-char [a-z0-9] ring rotated by k (uppercase joins the same ring,
 *    matching the tokenizers' lowercase fold). A per-char bijection is
 *    a per-token bijection that preserves token LENGTH and byte volume
 *    — the first probe run used token suffixes and measured byte-bound
 *    queries at ~13.6× CPU for 10× rows purely because the suffixes
 *    added ~36% bytes — while preserving every within-copy
 *    Jaccard/band/frequency relation exactly and keeping copies
 *    (effectively) token-disjoint: the 10× corpus is 10 independent
 *    corpora of the 1× structure at exactly 10× the bytes.
 *  - embeddings: copy k rotates each vector's dimensions by k. Rotation
 *    preserves all within-copy geometry (norms, dots) exactly; across
 *    copies the vectors decorrelate instead of colliding at cosine 1.
 *
 * Expectations, recorded per query in BENCH_SCALE.json:
 *  - `linear` class: CPU_10x ≤ 1.6 × 10 × CPU_1x (exponent ≲ 1.20;
 *    the slack absorbs fixed costs and cache-locality loss, and was
 *    recalibrated in r15 for the median-of-sweep-ratios estimator
 *    against the measured distribution of structurally-single-pass
 *    rows — median 9.7 / p90 12.8 / max 14.6, including hash-groupBy
 *    `dedup_exact` at 12.8 which has no superlinear term to express;
 *    the shapes the gate exists to catch measure far above it: a pair
 *    blowup ≥ 30×, the r14 ANN writer defect well above 20×).
 *  - `answer` class (exact joins, CC, LSH pairs): cost is Θ(output +
 *    collisions), so the honest gated quantity is CPU PER OUTPUT ROW,
 *    which is scale-invariant by the class's own cost contract:
 *    per-row ×10/×1 ≤ 1.6 (r19, verdict #3 — the old total-CPU vs
 *    max(output-ratio, 10) form had a hard cliff exactly where the x1
 *    fixed-cost floor inflates the ratio, and flagged UNTOUCHED,
 *    absolutely-faster code two rounds running; calibration: the six
 *    answer rows measure per-row ratios 0.22–1.25 on the committed r18
 *    artifact — amortizing fixed costs push it BELOW 1 — while a
 *    quadratic candidate blowup measures ≥ 3).
 *  - `composite` class: the linear expectation with 2.0 slack, for
 *    multi-materialization lifecycle rows (store build → mutate →
 *    re-read; decode → pair over re-encoded assets). Evidence from the
 *    r15 stepwise decomposition (x1/x5/x10, warm, per-stage task-CPU):
 *    every stage of these rows scales ~linearly to x5 (5.0–6.5× for 5×
 *    rows), then shows a shared ~2.5× knee from x5→x10 with GC measured
 *    ≤ 56 ms — the re-materialized working set (~2.5 MB at x1) leaves
 *    L3 for DRAM between those scales, a per-row stall cost unique to
 *    the micro regime (at deployment scale BOTH comparison points are
 *    DRAM-resident, so the distortion vanishes); consecutive identical
 *    warm runs additionally swing ±40–60% at these sub-second
 *    magnitudes. The wider slack keeps the gate honest about the
 *    ALGORITHM (a true quadratic still fails at 20×: the r14
 *    pre-`repartition(cell)` ANN writer measured well above it) without
 *    flagging the cache-regime transition the fixture cannot avoid.
 *    The exponent is recorded unchanged for every row — the artifact,
 *    not the gate, is the primary output.
 *
 * Ratio estimator: the gated quantity is the ×10/×1 RATIO, so it is
 * estimated per sweep (scales alternate inside a sweep — both
 * measurements share the box state) and the MEDIAN across sweeps is
 * gated. The previous per-scale min-of-sweeps composed two minima of
 * noisy quantities; the x1 floor is fixed-cost-dominated (higher
 * relative variance), so its min drops faster as sweeps grow and the
 * ratio INFLATES on unchanged code (measured r15: dedup_exact 8.9 →
 * 19.3 going from 3 to 6 sweeps purely from the x1 min falling
 * 0.05 → 0.03). Per-scale minima are still reported for cost tracking.
 */
object BenchScale {

  /** (name, class) — `linear` expects CPU ∝ rows; `answer` expects
    * CPU ∝ output rows. All read only documents/embeddings. */
  private[graft] val probes: Seq[(String, String)] = Seq(
    "profile_documents" -> "linear",
    "text_bm25_topk" -> "linear",
    "quality_gopher" -> "linear",
    "dedup_exact" -> "linear",
    "text_langid" -> "linear",
    "dedup_minhash_pairs" -> "answer",
    "dedup_jaccard_join" -> "answer",
    "dedup_minhash_cc" -> "answer",
    "dedup_groups_cc_stars" -> "answer",
    "sim_neardup" -> "answer",
    "embed_kmeans_par" -> "linear",
    // cross-corpus line removal: detection is a digest-keyed aggregate,
    // rebuild a doc-keyed one — both Θ(lines). The planted COPY-INVARIANT
    // footer line (writeCorpus appends it UNREMAPPED to every doc of both
    // corpora) keeps the common set non-empty at both scales, so the x10
    // measurement exercises the same detect→flag→rebuild path — without
    // it, remapped copies are token-disjoint, every natural line's doc
    // frequency drops ~10× at x10, and the probe silently times a
    // no-removal workload (r9 ADVICE)
    "corpus_remove_common_lines" -> "composite",
    // composed flagship: logit gate → target-affinity rank → exact
    // dedup → rollup; the pipelines must scale, not just the operators
    "pipeline_corpus_v4" -> "linear",
    // r9 surfaces (the newest code is the likeliest hidden super-linear
    // shape): decode→DCT pHash + banded pairing, the composed VL
    // flagship, sorted-multiset bag fingerprints, and the JSONL
    // write→quarantine-read round trip
    "multimodal_dedup_perceptual" -> "linear",
    "pipeline_vl_pairs" -> "composite",
    "dedup_bag_groups" -> "linear",
    "corpus_ingest_jsonl" -> "linear",
    // r10 surfaces, same rationale: durable-ANN build+append+drift,
    // pruned-serve parity, the manifest round trip, and 31 training
    // aggregates over the cached feature projection — all expected
    // linear in the corpus (model state is parameter-sized throughout)
    "ann_append_drift" -> "linear",
    "sim_topk_ivfpq_index_verdict" -> "linear",
    "sim_topk_ivf_index_verdict" -> "linear",
    "shard_sink_roundtrip" -> "linear",
    // r16: gained a range re-layout pass + a planted takedown over it —
    // a multi-materialization lifecycle row now (build -> compact ->
    // re-append -> range-compact -> delete -> read-back)
    "shard_compact_roundtrip" -> "composite",
    "quality_logit_train" -> "linear",
    // late-r10 surfaces: bigram-LM train+score (model counts grow with
    // the disjoint-ring union but the score joins stay Θ(tokens)), the
    // PCA moments+projection passes (model state parameter-sized), and
    // the per-row DEFLATE compressibility scan
    "quality_lm_score" -> "linear",
    "embed_pca_verdict" -> "linear",
    "quality_compress" -> "linear",
    "select_dsir" -> "linear",
    // r11/12 probe sweep over the remaining r10 cost leaders + new r12
    // surfaces: the hashed-DSIR variant (now scope-cached — the probe
    // guards the fix), the RRF ensemble's per-signal top-k fan-in, the
    // JL projection (pure per-row kernel), the LM divergence rollup,
    // the exact-substring REMOVAL rewrite (dup-gram stats + interval
    // merge, expected ~linear: pair explosion never materializes), and
    // the index segment-compaction round trip (index-sized, not
    // corpus-text-sized)
    "select_dsir_hashed" -> "linear",
    "quality_rrf_topk" -> "linear",
    "embed_rp_project" -> "linear",
    "lm_source_divergence" -> "linear",
    "dedup_span_removal" -> "linear",
    "text_bm25_segment_compact" -> "linear",
    // r13 probes: the CCNet tercile cut (train + score + DISTINCT-score
    // histogram + rangeCumsum — debuted as the #5 cost leader, and its
    // histogram band join deserves the ×10 exponent check the other
    // leaders get) and the streaming shard-append driver row
    // (write→restart→read-back over the scaled documents; the anomaly
    // stream row is NOT probed — the scaled fixture carries no events
    // table, same reason ts_anomaly has no probe)
    "quality_lm_buckets" -> "linear",
    // composite: write → stream-restart → read-back store lifecycle
    "stream_shard_append" -> "composite",
    // r14 probes: the newest composed/streaming/index surfaces — the
    // durable near-dup index lifecycle (build → append → compact →
    // serve; the build/serve asymmetry only shows at scale), the
    // streaming screen-and-grow ingest, both mixing flagships (cap +
    // schedule v8; the full recipe v9), and the unigram tokenizer's
    // train+encode pass (vocab-sized EM, corpus-sized Viterbi encode).
    // jdbc_trace_parity is NOT probed — its Derby seed is a bounded
    // 200-row prefix by contract, so a ×10 corpus changes nothing.
    "dedup_index_admit" -> "linear",
    "stream_neardup_admit" -> "linear",
    "pipeline_corpus_v8" -> "linear",
    // composite: builds, appends and serves the durable near-dup index
    // on disk inside the row — the store-lifecycle shape
    "pipeline_corpus_v9" -> "composite",
    "unigram_token_count" -> "linear",
    "ann_train_recovery" -> "linear",
    // r15 probes: the unigram TRAIN path (the corpus-sized substring
    // seed + Viterbi recounts; encode is probed via unigram_token_count),
    // the unicode-contract token row (the multilingual kernel's per-
    // codepoint walk must stay linear), and the two takedown surfaces
    // (hit-shard-only rewrite; tombstone-filtered serve + materializing
    // compaction — both must scale with the corpus, not the table)
    "unigram_vocab" -> "linear",
    "text_token_count_unicode" -> "linear",
    "shard_delete_roundtrip" -> "linear",
    "text_bm25_delete" -> "linear",
    "sim_topk_ann_delete_verdict" -> "linear",
    // hybrid retrieval: sparse side is the pushed-term posting build,
    // dense side a queries×N brute scan, fusion O(queries×depth) —
    // the whole row must track the corpus linearly
    "text_hybrid_topk" -> "linear",
    // flagship v10: unicode dedup + both durable artifacts + takedown +
    // hybrid serve + the never-ingested twin — every stage linear
    "pipeline_corpus_v10" -> "linear",
    // keyed upsert: hit-shard-only rewrite, same contract as delete
    "shard_upsert_roundtrip" -> "composite",
    // snapshot lifecycle: three metadata-only snapshots + keyed diffs
    // (two full-outer joins on the key) + a pin-respecting vacuum
    "shard_snapshot_diff" -> "composite",
    // r16: the hit-DISCOVERY read stage of keyed maintenance, isolated
    // from the rewrite (the composite lifecycle rows above carry the
    // write stage): with `_STATS` ranges on a range-laid-out table, a
    // fixed low-range key set must read the SAME few shards at x1 and
    // x10 — the manifest-pruning win shows as a cpu_ratio near 1, where
    // the pre-stats full-table scan measured ~10x. `stage` class: gated
    // at the answer slack (its budget is scale-invariant by design)
    "shard_keyed_discovery" -> "stage",
    // r16: the unicode spread rows — ASCII-blind decontamination and
    // span removal were the silent no-op the r15 verdict flagged; both
    // must stay corpus-linear under the wider token class
    "decontaminate_unicode" -> "linear",
    "dedup_span_removal_unicode" -> "linear",
    // r16: the bounded recall row (was the most expensive bench row at
    // 15.8 CPU-s with an unprobed shared-gram pair join; now planted-
    // pair-scoped — the probe guards the bound)
    "dedup_minhash_unicode_recall" -> "answer",
    // r16: the pruned point lookup (build dominates; the lookup itself
    // is the constant-cost stage shard_keyed_discovery isolates)
    "shard_read_by_key" -> "linear",
    // r16 flagship: span rewrite + dedup + the store's full compliance
    // lifecycle (build -> compact -> snapshot -> takedown -> retention
    // -> pruned serve) — the store-lifecycle composite shape
    "pipeline_corpus_v11" -> "composite",
    // r16: widen-only schema evolution round trip (two appends + a
    // refused type change + schema-less read-back)
    "shard_schema_evolution" -> "composite",
    // r17: the digest-keyed takedown lifecycle row (bloom-pruned hit
    // discovery + hit-shard-only rewrite — the r16 verdict's top item)
    "shard_delete_digest" -> "composite",
    // r17: the columnar payload rows — the parquet write path (custom
    // WriteSupport over InternalRow) and the pruned lookup over it must
    // both track the corpus linearly
    "shard_sink_parquet" -> "linear",
    "shard_read_by_key_parquet" -> "linear",
    // r18: the V2 read relation — build + full relational scan through
    // the row-at-a-time readers + a pruned SQL point query; the scan is
    // corpus-linear, the point query partition-constant
    "shard_v2_read" -> "linear",
    // r18: two-class pruning (id ranges + digest blooms) on one table,
    // with a digest-keyed CoW delete in the middle — lifecycle shape
    "shard_multicol_prune" -> "composite",
    // r18: build + the metadata-answered aggregate; the build is the
    // linear term, the aggregate itself is O(#shards) sidecar parse
    "shard_agg_pushdown" -> "linear",
    // r17: the change-feed read (build -> snapshot -> upsert -> delete
    // -> CDC catch-up) — store-lifecycle composite; the feed itself is
    // change-set-sized by construction
    "shard_changes_since" -> "composite",
    // r17: the consumer half — downstream copy catches up from the feed
    // alone (delete touched keys + append live rows), equality-gated
    "shard_changes_apply" -> "composite",
    // r18: the windowed form — two snapshot-bracketed waves read
    // BETWEEN retained versions (same lifecycle shape; the feeds are
    // change-set-sized by construction)
    "shard_changes_window" -> "composite",
    // r17 flagship: span rewrite + dedup + the PARQUET digest-keyed
    // store lifecycle (bloom takedown -> CDC -> retention -> pushed
    // lookup) — the store-lifecycle composite shape
    "pipeline_corpus_v12" -> "composite",
    // r18 flagship: merge-on-read takedown + windowed/streamed CDC +
    // V2 SQL read + multi-column prunes + materializing compaction —
    // the store-lifecycle composite shape
    "pipeline_corpus_v13" -> "composite",
    // r17: hit discovery on a DIGEST-keyed table — the key class where
    // min/max ranges prune nothing; with the `_BLOOM` sidecar a fixed
    // 5-digest set must read the same few shards at x1 and x10 (the
    // per-shard data stage is flat; the sidecar-parse stage grows with
    // the shard count, which shard_metadata_plane measures separately)
    "shard_bloom_discovery" -> "stage",
    // r18: the merge-on-read takedown lifecycle row (deferred delete →
    // re-add append → materializing compaction → read-back; the compact
    // stage is table-sized, hence composite)
    "shard_delete_deferred" -> "composite",
    // r18: the deferred takedown ITSELF, isolated — one segment write +
    // one sidecar publish + a merge-on-read pruned lookup, zero shard
    // rewrites. Cost is O(keys) data + O(#shards) sidecar scope lines
    // (the metadata plane's own class, measured by shard_metadata_plane)
    // — the probe shows a fixed takedown near-flat while the table and
    // its shard count grow 10×, where the copy-on-write path pays a
    // hit-shard rewrite that tracks shard SIZE
    "shard_tombstone_delete" -> "stage",
    // r17: the metadata plane itself at x10 SHARD COUNT with CONSTANT
    // data (the r16 verdict's missing #3): one self-restoring 1-row
    // append+takedown (manifest/stats read-merge-write at N entries,
    // twice) + candidateShards + a pruned 5-key readByKey. The commit
    // and discovery are O(#shards) single-file parses BY DESIGN — the
    // probe's budget is the stage slack (ratio ≤ 13 at 10x shards);
    // the artifact records where on that line the cost actually sits,
    // so manifest paging lands when measured, not when felt
    "shard_metadata_plane" -> "stage")

  /**
   * Probe-only stage surfaces (not in [[SparkEntry.queries]] — they
   * verify SCALING of one stage, with the value semantics owned by the
   * oracled lifecycle rows). `shard_keyed_discovery` reproduces exactly
   * the read stage of [[graft.sources.v2.ShardDelete.deleteByKey]]: a
   * range-laid-out stats-carrying table is built ONCE per scale dir
   * (first warm-up call; table size tracks the corpus), then each timed
   * run performs only candidate pruning + the candidate hit scan for a
   * FIXED low-range key set — the read cost a takedown pays.
   */
  private[graft] val stageProbes: Map[String, (SparkSession, String) => DataFrame] = Map(
    "shard_keyed_discovery" -> ((spark: SparkSession, dir: String) => {
      import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
      val table = s"$dir/keyed_stage_table"
      val schema = StructType(Seq(
        StructField("doc_id", LongType), StructField("ld", StringType)))
      val mf = new org.apache.hadoop.fs.Path(table, "_MANIFEST")
      val fs = mf.getFileSystem(spark.sessionState.newHadoopConf())
      if (!fs.exists(mf)) {
        val docs = spark.read.parquet(s"$dir/documents.parquet")
          .select(col("doc_id"), md5(col("text")).as("ld"))
        val maxId = docs.agg(max(col("doc_id"))).head().getLong(0)
        // ~1000-id-wide range shards at EVERY scale: the x10 table has
        // ~10x the shards, but the fixed key range below intersects the
        // same one or two of them
        val nShards = math.max(4, (maxId / 1000L).toInt + 1)
        docs.repartitionByRange(nShards, col("doc_id"))
          .write.format("graft.sources.v2.ShardSink")
          .option("path", table).option("statsColumn", "doc_id")
          .mode("append").save()
      }
      val keys = spark.range(0, 1000).select(col("id").as("doc_id"))
        .filter(col("doc_id") % 11 === 3)
      val cands = graft.sources.v2.ShardDelete.candidateShards(
        spark, table, schema, "doc_id", keys)
      if (cands.isEmpty) {
        import spark.implicits._
        Seq.empty[(String, Long)].toDF("shard", "n")
      } else {
        val files = cands.map(n => s"$table/$n")
        val tagged = spark.read.schema(schema).json(files: _*)
          .withColumn("__shard",
            element_at(split(input_file_name(), "/"), -1))
        tagged.join(keys.withColumnRenamed("doc_id", "__k"),
            tagged("doc_id") === col("__k"), "left_semi")
          .groupBy(col("__shard")).agg(count(lit(1)).as("n"))
      }
    }),
    // the digest-keyed twin of shard_keyed_discovery: the table is keyed
    // by md5(text) (uniform — ranges prune nothing) and carries the
    // `_BLOOM` sidecar; the timed stage is candidate pruning + the
    // candidate hit scan for a FIXED five-digest key set (the realistic
    // takedown shape). The x10 table has ~10x the shards; the bloom must
    // keep the shards READ constant.
    "shard_bloom_discovery" -> ((spark: SparkSession, dir: String) => {
      import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
      val table = s"$dir/bloom_stage_table"
      val schema = StructType(Seq(
        StructField("doc_id", LongType), StructField("ld", StringType)))
      val mf = new org.apache.hadoop.fs.Path(table, "_MANIFEST")
      val fs = mf.getFileSystem(spark.sessionState.newHadoopConf())
      if (!fs.exists(mf)) {
        val docs = spark.read.parquet(s"$dir/documents.parquet")
          .select(col("doc_id"), md5(col("text")).as("ld"))
        val maxId = docs.agg(max(col("doc_id"))).head().getLong(0)
        // ~1000-row shards at EVERY scale (ids are dense), sliced on the
        // id so shard membership is deterministic — the KEY column (the
        // digest) is uniform across all of them, the worst case for
        // range stats and the exact case the bloom exists for
        val nShards = math.max(4, (maxId / 1000L).toInt + 1)
        docs.repartitionByRange(nShards, col("doc_id"))
          .write.format("graft.sources.v2.ShardSink")
          .option("path", table)
          .option("bloomColumn", "ld")
          .option("bloomBits", "65536") // ~1e-5 FP at 1000 keys/shard
          .mode("append").save()
      }
      // five digests of the five lowest-id docs (present at both scales
      // — copy 0 is unremapped), derived from the corpus, never the table
      val keys = spark.read.parquet(s"$dir/documents.parquet")
        .orderBy(col("doc_id")).limit(5).select(md5(col("text")).as("ld"))
      val cands = graft.sources.v2.ShardDelete.candidateShards(
        spark, table, schema, "ld", keys)
      if (cands.isEmpty) {
        import spark.implicits._
        Seq.empty[(String, Long)].toDF("shard", "n")
      } else {
        val files = cands.map(n => s"$table/$n")
        val tagged = spark.read.schema(schema).json(files: _*)
          .withColumn("__shard",
            element_at(split(input_file_name(), "/"), -1))
        tagged.join(keys.withColumnRenamed("ld", "__k"),
            tagged("ld") === col("__k"), "left_semi")
          .groupBy(col("__shard")).agg(count(lit(1)).as("n"))
      }
    }),
    // the merge-on-read takedown stage: a FIXED 5-key deferred delete +
    // one pruned serve on a table whose size (and shard count) tracks
    // the corpus — then the probe's tombstone state retires (metadata
    // files only) so every sweep measures the same table. The timed
    // work is one takedown-sized segment write, one sidecar publish
    // under the lock, and a 2-key merge-on-read lookup; NO shard is
    // read beyond the lookup's own 1-2 candidates, so the cost stays
    // near-flat at 10× data (the sidecar's O(#shards) scope line is the
    // only growing term — the metadata-plane class)
    "shard_tombstone_delete" -> ((spark: SparkSession, dir: String) => {
      import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
      val table = s"$dir/tomb_stage_table"
      val schema = StructType(Seq(
        StructField("doc_id", LongType), StructField("ld", StringType)))
      val mf = new org.apache.hadoop.fs.Path(table, "_MANIFEST")
      val fs = mf.getFileSystem(spark.sessionState.newHadoopConf())
      if (!fs.exists(mf)) {
        val docs = spark.read.parquet(s"$dir/documents.parquet")
          .select(col("doc_id"), md5(col("text")).as("ld"))
        val maxId = docs.agg(max(col("doc_id"))).head().getLong(0)
        val nShards = math.max(4, (maxId / 1000L).toInt + 1)
        docs.repartitionByRange(nShards, col("doc_id"))
          .write.format("graft.sources.v2.ShardSink")
          .option("path", table).option("statsColumn", "doc_id")
          .mode("append").save()
      }
      import spark.implicits._
      // the timed stage: metadata-sized deferred takedown of 5 fixed
      // keys (low ids — present at every fixture SF and both scales)
      val keys = spark.range(5).select((col("id") * 100L + 1L).as("doc_id"))
      val n = graft.sources.v2.ShardDelete.deleteByKeyDeferred(
        spark, table, schema, "doc_id", keys)
      require(n == 5L, s"deferred takedown recorded $n of 5 keys")
      // merge-on-read serve: one deleted + one kept key, pruned lookup
      // (collected EAGERLY — the cleanup below unlinks the segment the
      // lazy plan would otherwise read at evaluation time)
      val served = graft.sources.v2.ShardReader.readByKey(
        spark, table, schema, "doc_id", Seq(101L, 102L).toDF("k"))
        .count()
      require(served == 1L, s"merge-on-read lookup served $served of 1")
      // self-restore: retire the probe's tombstone state so every sweep
      // measures the same table (metadata files only — no shard I/O)
      val tdir = new org.apache.hadoop.fs.Path(table)
      fs.delete(new org.apache.hadoop.fs.Path(tdir, "_TOMBSTONES"), false)
      fs.listStatus(tdir).foreach { st =>
        if (st.isFile && st.getPath.getName.startsWith("tomb-"))
          fs.delete(st.getPath, false)
      }
      Seq((n, served)).toDF("n_keys", "served")
    }),
    // x10 SHARD COUNT at CONSTANT data: the table always holds the same
    // synthetic 10k rows, but its shard count tracks the scale dir's
    // corpus size (x1 -> N, x10 -> 10N shards of a tenth the rows each).
    // The timed stage is pure metadata-plane work: a self-restoring
    // 1-row append + takedown (two manifest/stats read-merge-writes at N
    // entries each) and a pruned 5-key point lookup (manifest + stats
    // parse, candidate join, <= 5 shards of constant data read). This is
    // the probe for the single-driver-parsed-sidecar design: its cost is
    // O(#shards) BY DESIGN, and the artifact records the measured slope.
    "shard_metadata_plane" -> ((spark: SparkSession, dir: String) => {
      import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
      val table = s"$dir/meta_stage_table"
      val schema = StructType(Seq(
        StructField("doc_id", LongType), StructField("ld", StringType)))
      val mf = new org.apache.hadoop.fs.Path(table, "_MANIFEST")
      val fs = mf.getFileSystem(spark.sessionState.newHadoopConf())
      if (!fs.exists(mf)) {
        val docCount = spark.read.parquet(s"$dir/documents.parquet").count()
        val nShards = math.max(20, (docCount / 250L).toInt)
        spark.range(10000)
          .select(col("id").as("doc_id"), md5(col("id").cast("string")).as("ld"))
          .repartitionByRange(nShards, col("doc_id"))
          .write.format("graft.sources.v2.ShardSink")
          .option("path", table).option("statsColumn", "doc_id")
          .mode("append").save()
      }
      import spark.implicits._
      // (a) commit cost at N manifest entries: append one row...
      Seq((-1L, "takedown-me")).toDF("doc_id", "ld").coalesce(1)
        .write.format("graft.sources.v2.ShardSink")
        .option("path", table).option("statsColumn", "doc_id")
        .mode("append").save()
      // ...and take it down again (discovery prunes to the [-1,-1]
      // shard; the fully-deleted shard leaves the manifest) — the table
      // is byte-identical across runs, so sweeps measure the same state
      val took = graft.sources.v2.ShardDelete.deleteByKey(
        spark, table, schema, "doc_id", Seq(-1L).toDF("k"))
      require(took == 1L, s"self-restoring append/takedown broke: $took")
      // (b) pruned point lookup: manifest+stats parse and the candidate
      // join dominate; the data read is <= 5 constant-size shards
      val keys = spark.range(5).select((col("id") * 2000L).as("doc_id"))
      graft.sources.v2.ShardReader.readByKey(spark, table, schema,
        "doc_id", keys)
        .groupBy(lit(1).as("g")).agg(count(lit(1)).as("n"))
    }))

  private def writeCorpus(
      spark: SparkSession, srcSf: String, outDir: String, copies: Int): Unit = {
    val docs = graft.sources.Tables.documents(spark, srcSf)
    val emb = graft.sources.Tables.embeddings(spark, srcSf)
    // Copy shift derived from the OBSERVED id domain, not a fixed 10⁶:
    // a fixture with ids ≥ 10⁶ would make copies collide and plant the
    // exact duplicates this construction exists to avoid — the probe
    // would then report false super-linearity (r9 ADVICE). Kept well
    // under the 10⁷ range the planted-twin queries reserve.
    val shift = math.max(
      docs.agg(max(col("doc_id"))).head().getLong(0),
      emb.agg(max(col("vec_id"))).head().getLong(0)) + 1
    require(shift * copies < 10000000L,
      s"id domain too large for $copies structural copies: shift $shift " +
        "would collide with the 10^7 planted-twin range")
    val ring = "abcdefghijklmnopqrstuvwxyz0123456789"
    val docCopies = (0 until copies).map { k =>
      val base = docs.withColumn("doc_id", col("doc_id") + lit(k * shift))
      val remapped =
        if (k == 0) base
        else {
          val rot = ring.drop(k) + ring.take(k)
          // uppercase maps to the rotation of its lowercase twin — the
          // tokenizers fold case first, so 'T' and 't' must stay the
          // same token after remapping
          val from = ring + ring.take(26).toUpperCase
          val to = rot + rot.take(26)
          base.withColumn("text", translate(col("text"), from, to))
        }
      // copy-INVARIANT footer, appended after remapping in every copy of
      // both corpora: one line whose document frequency is 100% at every
      // scale, so the common-line removal probe exercises detect→rebuild
      // at x1 AND x10 (remapped natural lines fall below the threshold
      // at x10 — see the probe entry). Constant bytes per doc at both
      // scales: byte-volume relations stay exact.
      remapped
        .withColumn("text", concat(col("text"), lit("\ngraft common footer line")))
        .withColumn("n_chars", length(col("text")))
    }
    val embCopies = (0 until copies).map { k =>
      val base = emb.withColumn("vec_id", col("vec_id") + lit(k * shift))
      if (k == 0) base
      else base.withColumn("embedding", expr(
        s"concat(slice(embedding, ${k + 1}, size(embedding) - $k), " +
          s"slice(embedding, 1, $k))"))
    }
    docCopies.reduce(_ unionByName _).write.mode("overwrite")
      .parquet(s"$outDir/documents.parquet")
    embCopies.reduce(_ unionByName _).write.mode("overwrite")
      .parquet(s"$outDir/embeddings.parquet")
  }

  /** The scale gate of one probed row: (per-output-row CPU ratio, pass).
    * `cpuRatio` is the x10/x1 executor-CPU ratio, `r1`/`r10` the output
    * row counts at each scale.
    *
    * CPU per OUTPUT row at each scale is the r19 gate quantity for
    * `answer`-class rows (r18 verdict #3): an answer-class row's cost
    * contract is Θ(qualifying output), so per-output-row CPU is
    * scale-INVARIANT by design, and the x1 fixed-cost floor that made
    * the old total-CPU-ratio gate flap (13.31 vs a hard 13.0 cliff on
    * UNTOUCHED, absolutely-faster code, two rounds running) inflates
    * the x1 BASELINE here — i.e. pushes the gated ratio DOWN, never
    * up, while a genuine pair blowup (candidates superlinear in
    * output) still measures ≥ 3×.
    * SAME estimator as cpu_ratio (r20, r19 advice): per-row ratio =
    * (c10/r10)/(c1/r1) = (c10/c1) · (r1/r10), and rows are
    * deterministic per scale, so the median-of-sweep-ratios cpu
    * estimate composes directly. The earlier min/min composition
    * re-imported exactly the bias the r15 note documents (the x1
    * fixed-cost-dominated min drops faster as sweeps grow,
    * systematically inflating the ratio).
    *
    * An answer-class row whose x1 probe returned NO rows has no x1
    * per-row cost: the composed ratio would be 0 and the gate would pass
    * whatever x10 cost. Such a row FAILS, reported with ratio -1.
    *
    * Slack calibration (r15, median estimator): the measured ratio
    * distribution of the 39 structurally-single-pass linear rows is
    * median 9.7 / p90 12.8 / max 14.6 — INCLUDING hash-groupBy
    * dedup_exact at 12.8, which has no superlinear term to express —
    * so 1.3 (calibrated for the old best-case min estimator) flags
    * verified-linear shapes. 1.6 fits the measured baseline and still
    * fails exponent ≥ 1.20 (a pair blowup measures ≥ 30×).
    *
    * `answer` rows gate on per-output-row CPU at slack 1.6 (calibrated
    * r19 against the committed r18 artifact: the six answer rows
    * measured per-row ratios 0.22–1.25 — fixed costs amortize with
    * scale, so most sit BELOW 1 — while a quadratic candidate blowup
    * measures ≥ 3; 1.6 clears the family's observed max by 28% with no
    * cliff at the rows-budget floor). Every other class gates its total
    * CPU ratio against the linear budget of 10×. */
  def scaleGate(cls: String, cpuRatio: Double, r1: Long, r10: Long): (Double, Boolean) =
    if (cls == "answer" && r1 == 0L) (-1.0, false)
    else {
      val perRowRatio = cpuRatio * (r1.toDouble / math.max(r10, 1L))
      val slack =
        if (cls == "composite") 2.0 else if (cls == "linear") 1.6 else 1.3 // stage
      (perRowRatio,
        if (cls == "answer") perRowRatio <= 1.6 else cpuRatio <= slack * 10.0)
    }

  def main(args: Array[String]): Unit = {
    val srcSf = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val workDir = sys.env.getOrElse("SPARK_GRAFT_SCALE_DIR", "/tmp/graft_scale")
    val sweeps = sys.env.getOrElse("SPARK_GRAFT_SCALE_SWEEPS", "3").toInt
    val spark = LocalSession.builder().appName("graft-bench-scale").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    writeCorpus(spark, srcSf, s"$workDir/x1", copies = 1)
    writeCorpus(spark, srcSf, s"$workDir/x10", copies = 10)

    // shared meter: ONE drain/accounting contract with Bench, so the two
    // artifacts (BENCH_FULL vs BENCH_SCALE) cannot be measured under
    // silently-diverged harness semantics
    val meter = new TaskCpuMeter(spark.sparkContext)
    // `reps` back-to-back runs measured as ONE window, reported per-run:
    // a probe whose single-run x1 CPU sits at the session-noise floor
    // (~0.2 s on this harness) cannot produce a meaningful ×10 ratio —
    // r14's one red row (ann_train_recovery, ratio 18 on a 0.23 s base)
    // was the probe failing to measure its subject, not a plan defect.
    // Repetition amortizes the noise the same way at both scales, so the
    // ratio regains meaning without changing the probed code's params.
    def measure(
        fn: (SparkSession, String) => DataFrame, dir: String,
        reps: Int = 1): Double = {
      meter.drainTaskEvents()
      val c0 = meter.snapshotNs
      var i = 0
      while (i < reps) {
        fn(spark, dir).write.format("noop").mode("overwrite").save()
        meter.drainTaskEvents()
        // per-rep cache release: every repetition rebuilds its scoped
        // caches, so reps time the same work (not 1 cold + n-1 warm)
        if (i < reps - 1) CacheScope.releaseAll()
        i += 1
      }
      val c = (meter.snapshotNs - c0) / 1e9 / reps
      CacheScope.releaseAll()
      c
    }

    val qs = SparkEntry.queries
    def fnFor(name: String): (SparkSession, String) => DataFrame =
      qs.getOrElse(name, stageProbes(name))
    // stage probes build their per-scale tables lazily on first call;
    // a STALE table from a previous run's fixture must never survive a
    // corpus rewrite
    for (t <- Seq("x1", "x10");
         tbl <- Seq("keyed_stage_table", "bloom_stage_table",
           "meta_stage_table", "tomb_stage_table")) {
      val p = new org.apache.hadoop.fs.Path(s"$workDir/$t/$tbl")
      p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
    }
    // targeted re-probes (idle-box re-measurement of a flagged entry):
    // probe names as one comma-separated arg, artifact redirected via
    // SPARK_GRAFT_SCALE_OUT so a subset never clobbers the committed map
    val only = args.headOption.map(_.split(",").toSet)
    val selected = probes.filter { case (n, _) => only.forall(_.contains(n)) }
    val outPath = sys.env.getOrElse("SPARK_GRAFT_SCALE_OUT", "BENCH_SCALE.json")
    require(only.isEmpty || outPath != "BENCH_SCALE.json",
      "targeted BenchScale runs must set SPARK_GRAFT_SCALE_OUT — a probe " +
        "subset would clobber the committed full map")
    val dirs = Seq("x1" -> s"$workDir/x1", "x10" -> s"$workDir/x10")
    // output cardinality once per (query, scale) — not part of the timing
    val rows = selected.map { case (name, _) =>
      name -> dirs.map { case (tag, d) =>
        val n = fnFor(name)(spark, d).count()
        CacheScope.releaseAll()
        tag -> n
      }.toMap
    }.toMap
    // adaptive repetition counts from ONE estimate pass at x1 (the rows
    // pass above already served as warm-up): sub-floor probes repeat
    // until their measured window clears the floor, capped at 8
    val floorSec = 1.0
    val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    val loadStart = osBean.getSystemLoadAverage
    val repeats: Map[String, Int] = selected.map { case (name, _) =>
      val c1 = measure(fnFor(name), dirs.head._2)
      name -> (if (c1 >= floorSec) 1
               else math.min(8, math.ceil(floorSec / math.max(c1, floorSec / 8)).toInt))
    }.toMap

    // N sweeps, alternating scales inside each sweep so host load
    // bursts hit both scales alike. The gated quantity is the RATIO, so
    // it is estimated per sweep (both scales measured back-to-back under
    // the same box state) and the MEDIAN across sweeps is gated —
    // min-per-scale composed two minima of noisy quantities, and since
    // the x1 floor is fixed-cost-dominated (higher relative variance)
    // its min drops faster with more sweeps, systematically INFLATING
    // the ratio (measured r15: dedup_exact's x1 min fell 0.05 → 0.03
    // from 3 to 6 sweeps and the ratio rose 8.9 → 19.3 on unchanged
    // code). Per-scale minima are still reported for cost tracking.
    val cpu = scala.collection.mutable.Map.empty[(String, String), Double]
    val sweepCpu = scala.collection.mutable.Map
      .empty[(String, String), Vector[Double]].withDefaultValue(Vector.empty)
    for (_ <- 1 to sweeps; (name, _) <- selected; (tag, d) <- dirs) {
      val c = measure(fnFor(name), d, repeats(name))
      val key = (name, tag)
      cpu(key) = math.min(cpu.getOrElse(key, Double.MaxValue), c)
      sweepCpu(key) = sweepCpu(key) :+ c
    }
    val loadEnd = osBean.getSystemLoadAverage
    def medianRatio(name: String): Double = {
      val rs = sweepCpu((name, "x1")).zip(sweepCpu((name, "x10")))
        .map { case (c1, c10) => c10 / math.max(c1, 1e-9) }.sorted
      if (rs.isEmpty) 0.0
      else if (rs.size % 2 == 1) rs(rs.size / 2)
      else (rs(rs.size / 2 - 1) + rs(rs.size / 2)) / 2.0
    }

    val entries = selected.map { case (name, cls) =>
      val c1 = cpu((name, "x1")); val c10 = cpu((name, "x10"))
      val r1 = rows(name)("x1"); val r10 = rows(name)("x10")
      val cpuRatio = medianRatio(name)
      val exponent = math.log(math.max(cpuRatio, 1e-9)) / math.log(10.0)
      val (perRowRatio, pass) = scaleGate(cls, cpuRatio, r1, r10)
      (name, cls, c1, c10, r1, r10, cpuRatio, exponent, perRowRatio, pass)
    }
    // ROOT-locale rendering (the f interpolator honors the JVM default
    // locale, which could emit ',' decimals — same guard as Bench)
    val json = entries.map { case (name, cls, c1, c10, r1, r10, ratio, exp, prr, pass) =>
      String.format(java.util.Locale.ROOT,
        "    \"%s\": {\"class\": \"%s\", \"cpu_x1\": %.3f, \"cpu_x10\": %.3f, " +
          "\"rows_x1\": %d, \"rows_x10\": %d, \"cpu_ratio\": %.2f, " +
          "\"exponent\": %.3f, \"per_row_ratio\": %.3f, \"repeats\": %d, \"pass\": %b}",
        name, cls, c1, c10, r1, r10, ratio, exp, prr,
        Int.box(repeats(name)), pass)
    }.mkString("{\n  \"src\": \"" + srcSf + "\", \"sweeps\": " + sweeps +
      // measurement-protocol record (r14 verdict: the artifact must say
      // which box state it was measured in, so cross-round comparisons
      // stop re-litigating session-noise swings): min-of-sweeps per-rep
      // CPU in a dedicated JVM, sub-floor probes repeated to the floor,
      // system load average at sweep start/end as the concurrent-load flag
      ", \"protocol\": " + String.format(java.util.Locale.ROOT,
        "{\"isolation\": \"dedicated-jvm\", \"estimator\": " +
          "\"median-of-sweep-ratios; per-scale min-of-sweeps per-rep cpu\", \"floor_sec\": %.1f, " +
          "\"load_avg_start\": %.2f, \"load_avg_end\": %.2f}",
        Double.box(floorSec), Double.box(loadStart), Double.box(loadEnd)) +
      ", \"queries\": {\n", ",\n", "\n  }\n}")
    println(json)
    java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      json.getBytes("UTF-8"))
    val failed = entries.filterNot(_._10).map(_._1)
    if (failed.nonEmpty)
      System.err.println(s"[bench-scale] budget exceeded: ${failed.mkString(", ")}")
    spark.stop()
  }
}
