package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.SparkEntry
import graft.dedup.{DedupOps, Hll, Kmv}
import graft.queries.{ClusterMemo, FeatureMemo, GramMemo, Tables}
import graft.sim.Similarity
import graft.streaming.EventStreams
import graft.text.{Cms, Retrieval, TrigramLm}

/** The batch curation pass over a copy-disjoint inflation of a corpus in
  * sf0.1's measured shape: text features, MinHash/LSH near-duplicate clusters,
  * SimHash pairs, exact dedup, Bloom decontamination, cosine top-k,
  * distinct-count and frequency sketches, a streaming admission of a fresh
  * batch against the corpus, and two lookups served from the pass's memos.
  * Memos are cleared before each pass.
  */
final class Curation(in: String) extends Workload {

  private val xn = s"$in/xn"
  private val streamDir = s"$in/stream"
  private val Threshold = 0.5
  private val KmvK = 1024
  private val TopK = 10

  private var nDocs = 0L
  private var nVecs = 0L
  private var nStream = 0L
  private var queryIds: Seq[Long] = Nil
  private var baseDocs = 0L
  private var lookupDoc = 0L
  private var bm25Terms: Seq[String] = Nil
  private var corpusFps: DataFrame = _
  private var corpusIndex: DataFrame = _
  private var thresholds: DataFrame = _
  private var lmModel: DataFrame = _
  private var probeRdds = Set.empty[Int]
  private var streamRun = 0
  private var work: String = _

  private def clearMemos(): Unit = {
    ClusterMemo.clear(); FeatureMemo.clear(); GramMemo.clear()
  }

  def setup(spark: SparkSession, tracer: Tracer): Unit = {
    clearMemos()
    work = spark.conf.get("spark.local.dir")
    val docs = Tables.documents(spark, xn)
    nDocs = docs.count()
    nVecs = Tables.embeddings(spark, xn).count()
    nStream = spark.read.parquet(streamDir).count()
    val params = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new java.io.File(s"$in/params.json"))
    def longs(k: String) = (0 until params.get(k).size).map(i => params.get(k).get(i).asLong)
    queryIds = longs("topk_queries")
    baseDocs = params.get("base_docs").asLong
    lookupDoc = params.get("lookup_doc").asLong
    bm25Terms = (0 until params.get("bm25_terms").size).map(params.get("bm25_terms").get(_).asText)
    thresholds = spark.range(20).select(concat(lit("src"), col("id").cast("string")).as("source"),
      lit(0.3).as("thr"))
  }

  // ----------------------------------------------------------- operations

  private def simhashSigs(spark: SparkSession, d: String): DataFrame =
    DedupOps.withSimhash16(Tables.documents(spark, d).select("doc_id", "text"), "text", "sh")
      .select("doc_id", "sh")

  private def simhashPairs(spark: SparkSession, d: String): DataFrame =
    DedupOps.simhashHammingPairs(simhashSigs(spark, d), "doc_id", "sh", maxDist = 2, width = 16)

  private def topk(spark: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(spark, d)
    val q = emb.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    Similarity.topK(q, emb, TopK)
  }

  private def sketches(spark: SparkSession, d: String): DataFrame =
    GramMemo.words(spark, d).select(explode(col("words")).as("w"))
      .agg(Hll.hllDistinct(Hll.md5Hex(col("w"))).as("hll"),
        Kmv.kmvDistinct(Kmv.hash52(col("w")), KmvK).as("kmv"),
        count(lit(1)).as("n_tokens"))

  /** One document's near-duplicate cluster, served from the pass's
    * cluster memo.
    */
  private def clusterLookup(spark: SparkSession): DataFrame = {
    val c = ClusterMemo.clusters(spark, xn, Threshold)
    val me = c.filter(col("doc_id") === lookupDoc).select(col("cluster_id").as("_cid"))
    c.join(me, col("cluster_id") === col("_cid")).select("doc_id", "cluster_id", "n_members")
  }

  /** BM25 top-k for one query over the pass's tokenized-corpus memo. */
  private def bm25(spark: SparkSession): DataFrame =
    Retrieval.rankedTopK(Retrieval.bm25ScoresW(GramMemo.words(spark, xn), bm25Terms), TopK)

  private def cms(spark: SparkSession, d: String): DataFrame =
    Cms.sketch(GramMemo.words(spark, d).select(explode(col("words")).as("w")), "w")

  /** The corpus-side probes admission reads: exact fingerprints, the LSH
    * band index and the trigram model. Built inside the pass (memos and
    * artifacts are rebuilt every pass), so admission writes beside corpus
    * reads.
    */
  private def buildCorpusProbes(spark: SparkSession): Unit = {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val docs = Tables.documents(spark, xn)
    corpusFps = docs.select(graft.text.TextOps.fingerprint(col("text")).as("fp"))
      .distinct().localCheckpoint()
    corpusIndex = DedupOps.bandIndex(docs, "doc_id", "text").localCheckpoint()
    // the trigram model is trained on copy 0, a sample of the corpus
    lmModel = TrigramLm.modelFrame(TrigramLm.counts(docs.filter(col("doc_id") < baseDocs),
      "doc_id", "text")).localCheckpoint()
    probeRdds = (spark.sparkContext.getPersistentRDDs.keySet -- before).toSet
  }

  private def admission(spark: SparkSession, docs: DataFrame): DataFrame =
    EventStreams.admissionPipeline(docs, corpusFps, corpusIndex, thresholds, lmModel,
      lmMinScore = -1e9, nearThreshold = Threshold)

  /** Streams the fresh batch through admission, one file per micro-batch;
    * returns the number of micro-batches.
    */
  private def streamAdmission(spark: SparkSession, sink: String): Long = {
    streamRun += 1
    val src = spark.readStream.schema(EventStreams.documentsSchema)
      .option("maxFilesPerTrigger", 1).parquet(streamDir)
    val w = admission(spark, src).writeStream
      .option("checkpointLocation", s"$work/stream-ckpt-$streamRun")
      .trigger(Trigger.AvailableNow())
    val q = (if (sink == "noop") w.format("noop") else w.format("memory").queryName(sink)).start()
    try q.awaitTermination() finally q.stop()
    q.recentProgress.count(_.numInputRows > 0).toLong
  }

  override def beforeRound(spark: SparkSession): Unit = clearMemos()

  def round(spark: SparkSession): Seq[Op] = Seq(
    Op("text_features", "text", nDocs)(() =>
      Main.noop(FeatureMemo.features(spark, xn))),
    Op("neardup_clusters", "dedup", nDocs)(() =>
      Main.noop(ClusterMemo.clusters(spark, xn, Threshold))),
    Op("simhash_pairs", "dedup", nDocs)(() => Main.noop(simhashPairs(spark, xn))),
    Op("exact_dedup", "dedup", nDocs)(() =>
      Main.noop(DedupOps.exactDedup(Tables.documents(spark, xn), "text", "doc_id"))),
    Op("bloom_decontaminate", "dedup", nDocs)(() =>
      Main.noop(SparkEntry.queries("q67_bloom_decontaminate")(spark, xn))),
    Op("cosine_topk", "sim", nVecs)(() => Main.collect(topk(spark, xn))),
    Op("sketches", "dedup", nDocs)(() => {
      Main.collect(sketches(spark, xn)); Main.noop(cms(spark, xn))
    }),
    Op("stream_admission", "streaming", nDocs + nStream)(() => {
      buildCorpusProbes(spark)
      Main.tracer.add("streaming.batches", streamAdmission(spark, "noop"))
    }),
    // an analyst's look at what the pass built: memo hits
    Op("cluster_lookup", "queries", nDocs)(() => Main.collect(clusterLookup(spark))),
    Op("bm25_topk", "text", nDocs)(() => Main.collect(bm25(spark)))
  )

  /** Memo accounting after each pass (the admission probes the benchmark
    * pins itself are not counted), then the memos' public `clear()` and the
    * release of the benchmark's own probes. What `clear()` leaves pinned is
    * released between passes; after the last pass it is left to Spark.
    */
  override def afterRound(spark: SparkSession, tracer: Tracer): Unit = {
    val sc = spark.sparkContext
    def pinned = sc.getPersistentRDDs.filter { case (id, _) => !probeRdds.contains(id) }
    val before = pinned
    val bytes = sc.getRDDStorageInfo.filter(i => before.contains(i.id))
      .map(i => i.memSize + i.diskSize).sum
    clearMemos()
    val after = pinned
    tracer.add("queries.pinned_rdds", before.size)
    tracer.add("queries.pinned_mb", bytes / 1e6)
    tracer.add("queries.pinned_rdds_after_clear", after.size)
    sc.getPersistentRDDs.filter { case (id, _) => probeRdds.contains(id) }
      .values.foreach(_.unpersist(blocking = true))
  }

  override def betweenRounds(spark: SparkSession): Unit =
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))

  private var counts = Map.empty[String, Double]

  def checkPass(spark: SparkSession, out: String, tracer: Tracer): Unit = {
    var lap = System.nanoTime()
    def save(df: DataFrame, name: String): Long = {
      df.write.mode("overwrite").parquet(s"$out/$name")
      Main.log(f"check $name ${(System.nanoTime() - lap) / 1e6}%.0f ms"); lap = System.nanoTime()
      spark.read.parquet(s"$out/$name").count()
    }
    // the registry's exact operations at xn: their copy-0 slice is checked
    // against DuckDB running the oracle SQL on the x1 files, and the whole
    // output against n shifted copies of that slice
    val oracle = Seq("q30_exact_dedup", "q37_lang_id", "q38_text_quality",
      "q67_bloom_decontaminate", "q94_prefix_jaccard_pairs")
    Json.write(new java.io.File(s"$out/oracle.json"), oracle.map(q => q -> SparkEntry.oracleSql(q)).toMap)
    clearMemos()
    // the round's own calls where an oracle query is the same call plus a sort
    save(FeatureMemo.features(spark, xn).drop("fp"), "xn_features")
    save(DedupOps.exactDedup(Tables.documents(spark, xn), "text", "doc_id"), "xn_q30_exact_dedup")
    save(SparkEntry.queries("q67_bloom_decontaminate")(spark, xn), "xn_q67_bloom_decontaminate")
    val exact = save(ClusterMemo.exactPairs(spark, xn), "xn_q94_prefix_jaccard_pairs")
    val cand = save(ClusterMemo.scoredPairs(spark, xn), "xn_scored_pairs")
    val verified = ClusterMemo.scoredPairs(spark, xn).filter(col("jaccard") >= Threshold).count()
    save(ClusterMemo.clusters(spark, xn, Threshold), "xn_clusters")
    save(simhashSigs(spark, xn), "xn_simhash_sigs")
    save(simhashPairs(spark, xn), "xn_simhash_pairs")
    save(topk(spark, xn), "xn_topk")
    save(sketches(spark, xn), "xn_sketches")
    save(cms(spark, xn), "xn_cms")
    save(clusterLookup(spark), "xn_cluster_lookup")
    save(bm25(spark), "xn_bm25")
    buildCorpusProbes(spark)
    streamAdmission(spark, "perfbench_admission")
    save(spark.table("perfbench_admission"), "stream_streamed")
    counts = Map(
      "dedup.candidate_pairs" -> cand.toDouble,
      "dedup.verified_pairs" -> verified.toDouble,
      "dedup.verify_yield" -> verified.toDouble / math.max(cand, 1),
      "dedup.exact_pairs" -> exact.toDouble,
      "dedup.pair_recall" -> verified.toDouble / math.max(exact, 1))
    clearMemos()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  override def counters: Map[String, Double] = counts
}
