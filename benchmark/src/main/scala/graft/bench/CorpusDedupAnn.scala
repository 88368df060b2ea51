package graft.bench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import graft.operators.{AnnIndex, Clustering, Dedup}

/**
 * The seeded corpus: documents with planted exact-copy and near-duplicate
 * groups, and 64-d embeddings drawn around a few cluster centres.
 */
object CorpusData {
  final case class Docs(texts: IndexedSeq[(Long, String)], exactGroups: Seq[Seq[Long]])

  private def word(seed: Long, w: Long): String =
    "w" + java.lang.Long.toString(java.lang.Math.floorMod(Mix.h(seed, w, 9), 1L << 40), 36)

  /** `n` documents of 40 to 80 words over a 5000-word vocabulary. Every
    * tenth document starts an exact-copy group of 2 to 4 identical texts;
    * every tenth after an offset starts a near-duplicate pair (two words
    * changed). The rest are unrelated. Ids are shuffled so a group's
    * members are not neighbours. */
  def docs(seed: Long, n: Int): Docs = {
    val rnd = new java.util.Random(Mix.h(seed, 0, 31))
    def text(): Array[String] = Array.fill(40 + rnd.nextInt(41))(word(seed, rnd.nextInt(5000).toLong))
    val texts = scala.collection.mutable.ArrayBuffer[String]()
    val groups = scala.collection.mutable.ArrayBuffer[Seq[Int]]()
    while (texts.length < n) {
      val t = text()
      val slot = texts.length
      if (slot % 10 == 0) {
        val size = math.min(2 + rnd.nextInt(3), n - slot)
        groups += (slot until slot + size)
        (0 until size).foreach(_ => texts += t.mkString(" "))
      } else if (slot % 10 == 5 && slot + 1 < n) {
        val near = t.clone()
        near(rnd.nextInt(near.length)) = word(seed, 5000L + rnd.nextInt(100))
        near(rnd.nextInt(near.length)) = word(seed, 5000L + rnd.nextInt(100))
        texts += t.mkString(" ")
        texts += near.mkString(" ")
      } else texts += t.mkString(" ")
    }
    val perm = scala.util.Random.javaRandomToRandom(rnd).shuffle((0L until n.toLong).toIndexedSeq)
    Docs(texts.indices.map(i => (perm(i), texts(i))), groups.filter(_.length > 1).map(_.map(perm(_)).toSeq).toSeq)
  }

  /** `n` vectors of `dim` floats around `clusters` centres. */
  def vectors(seed: Long, salt: Long, n: Int, dim: Int, clusters: Int, idBase: Long): IndexedSeq[(Long, Array[Float])] = {
    val centres = (0 until clusters).map { c =>
      val r = new java.util.Random(Mix.h(seed, c, 41))
      Array.fill(dim)(r.nextGaussian().toFloat)
    }
    val rnd = new java.util.Random(Mix.h(seed, salt, 43))
    (0 until n).map { i =>
      val c = centres(rnd.nextInt(clusters))
      (idBase + i, c.map(x => (x + 0.35 * rnd.nextGaussian()).toFloat))
    }
  }
}

/**
 * `corpus_dedup_ann`: every round runs `Dedup.minhashDedup` over the
 * corpus, rebuilds the IVF-flat index with `AnnIndex.writeIvf`, and then
 * serves [[Batches]] query batches through `AnnIndex.searchIvf`.
 *
 * It runs through the same command but is not listed in BENCHMARK.json:
 * its figures spread too widely between runs to hold a bound (see the
 * README). A traced run prints its layer figures in the detail line.
 */
object CorpusDedupAnn extends Workload {
  val name = "corpus_dedup_ann"
  val Docs = 1200
  val Vectors = 2000
  val Dim = 64
  val Clusters = 16
  val Cells = 16
  val Queries = 40
  val Batches = 2
  val K = 10
  val NProbe = 4

  private val docSchema = StructType(Seq(StructField("id", LongType), StructField("text", StringType)))
  private val vecSchema = StructType(Seq(StructField("id", LongType), StructField("vec", ArrayType(FloatType, false))))

  private def vecFrame(spark: SparkSession, vs: Seq[(Long, Array[Float])]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(vs.map { case (i, v) => Row(i, v.toSeq) }), vecSchema)

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val seed = ctx.seed
    val docs = CorpusData.docs(seed, Docs)
    val docDf = spark.createDataFrame(
      spark.sparkContext.parallelize(docs.texts.map { case (i, t) => Row(i, t) }), docSchema).cache()
    docDf.count()
    val inputIds = docs.texts.map(_._1).toSet
    val vecs = CorpusData.vectors(seed, 1, Vectors, Dim, Clusters, 0L)
    val vecMap = vecs.toMap
    val vecDf = vecFrame(spark, vecs).cache()
    vecDf.count()
    val batches = (0 until 8).map { b =>
      CorpusData.vectors(seed, 100 + b, Queries, Dim, Clusters, 1000000000L + b * Queries)
    }
    val exact = batches.map(_.map { case (q, v) => q -> Checks.exactTopK(v, vecs, K) }.toMap)
    val index = ctx.path("ivf")
    var recallSum = 0.0
    var searched = 0

    def search(b: Int): Unit = {
      val qs = batches(b % batches.length)
      ctx.op("ann_search") {
        val got = AnnIndex.searchIvf(spark, index, vecFrame(spark, qs), "id", "vec", k = K, nProbe = NProbe).collect()
        graft.CacheScope.releaseAll()
        got
      }.foreach { got =>
        val rows = got.toSeq.map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
        ctx.verify(Checks.annScores(rows, qs.toMap, vecMap, K))
        val gotTop = rows.groupBy(_._1).map { case (q, rs) => q -> rs.sortBy(_._2).map(_._3) }
        val rc = Checks.recall(exact(b % batches.length), gotTop)
        ctx.check(rc >= 0.8, f"IVF recall@$K is $rc%.3f, below 0.8")
        recallSum += rc
        searched += 1
      }
    }

    def round(r: Int, nBatches: Int): Unit = {
      ctx.op("dedup") {
        val out = Dedup.minhashDedup(docDf, "text", "id").select(col("id")).collect().map(_.getLong(0))
        graft.CacheScope.releaseAll()
        out
      }.foreach(out => ctx.verify(Checks.dedup(inputIds, docs.exactGroups, out.toSeq)))
      ctx.op("ann_build") {
        AnnIndex.writeIvf(vecDf, "id", "vec", index, nCells = Cells)
        graft.CacheScope.releaseAll()
      }
      (0 until nBatches).foreach(j => search(r * Batches + j))
      ctx.tracer.foreach(t => traceProbes(ctx, t, docDf, vecDf, index, batches(0)))
    }

    Log.phase("warm-up rounds") { round(0, 1); round(1, 1) }
    recallSum = 0.0
    searched = 0
    ctx.startMeasuring()
    val rounds = ctx.rounds(round(_, Batches))
    val p50 = (k: String) => Stats.median(ctx.latencies(k))
    val indexBytes = Files.bytesUnder(s"$index/vectors")
    val detail = Seq(
      "dedup_docs_per_s" -> Metric(Docs / p50("dedup"), "docs/s"),
      "ann_build_s" -> Metric(p50("ann_build"), "s"),
      "ann_queries_per_s" -> Metric(Queries / p50("ann_search"), "queries/s"),
      "ann_recall_at_10" -> Metric(recallSum / math.max(1, searched), "ratio"),
      "rounds" -> Metric(rounds, "count")) ++ ctx.tracer.toSeq.flatMap(Layers.corpus)
    Outcome(Common.endToEnd(ctx, p50("ann_search"), indexBytes.toDouble / Vectors), detail)
  }

  /** Traced-only probes: candidate pairs per document, the k-means fit
    * alone with writeIvf's settings, and the vectors each query's probed
    * cells hold. */
  private def traceProbes(ctx: Ctx, t: Tracer, docDf: DataFrame, vecDf: DataFrame, index: String,
      queries: Seq[(Long, Array[Float])]): Unit = {
    val spark = ctx.spark
    val pairs = t.span("probe.minhash_pairs")(Dedup.minhashPairs(docDf, "text", "id").count())
    graft.CacheScope.releaseAll()
    t.add("candidate_pairs", pairs)
    t.add("dedup_docs", Docs)
    t.span("probe.kmeans_train") {
      Clustering.kmeansCentroidsSampled(vecDf, "id", "vec", Cells, iters = 5, sampleN = 4096)
    }
    val cells = spark.read.parquet(s"$index/model").filter(col("kind") === "cell")
      .select(col("i"), col("vec")).collect()
      .map(r => r.getInt(0) -> r.getSeq[Float](1).toArray).sortBy(_._1).map(_._2)
    val perCell = spark.read.parquet(s"$index/vectors").groupBy(col("cell")).count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    queries.foreach { case (_, q) =>
      val probed = cells.indices.sortBy { c =>
        cells(c).indices.map(d => { val x = cells(c)(d) - q(d); x.toDouble * x }).sum
      }.take(NProbe)
      t.add("ann_candidates", probed.map(perCell.getOrElse(_, 0L)).sum.toDouble)
      t.add("ann_queries", 1)
    }
  }
}
