package graftbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.{DedupOps, IncrementalDedup, KMeansOps, Pipeline, QuotaSample, SpanDedup}
import graft.streaming.StreamingDedup

/** Shared by the curation workloads: writing generated docs and vectors as
  * parquet (the inputs a user's pipeline reads) and the kept-id digest. */
trait CurateIo { self: Workload =>
  protected def writeDocs(docs: Seq[Gen.Doc], path: String): DataFrame = {
    Gen.docsFrame(spark, docs).repartition(o.cores).write.mode("overwrite").parquet(path)
    spark.read.parquet(path)
  }
  protected def writeVecs(vecs: Seq[(Long, Array[Float])], path: String): DataFrame = {
    Gen.vecsFrame(spark, vecs).repartition(o.cores).write.mode("overwrite").parquet(path)
    spark.read.parquet(path)
  }
  protected def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
  /** A per-source token budget that keeps about 80% of each source. */
  protected def tokenBudget(docs: Seq[Gen.Doc]): Long =
    (0.8 * docs.map(_.text.split("\\s+").length.toLong).sum / Gen.Sources).toLong

  protected def stage(name: String)(body: => Unit): (String, Double, String) =
    (s"pipeline.stage_s.$name", Layers.timeSpan(t, s"pipeline.stage.$name")(body), "s")

  /** The native kernels (docs per second of a select over the corpus) and
    * each batch stage's public operator timed alone on the corpus. */
  protected def batchLayers(docs: DataFrame, emb: DataFrame, budget: Long): Seq[(String, Double, String)] = {
    val n = docs.count().toDouble
    def rate(name: String, df: DataFrame): Double = {
      noop(df)
      n / Stats.median(Seq.fill(2)(Layers.timeSpan(t, name)(noop(df))))
    }
    val sets = docs.selectExpr("doc_id", "graft_shingle_set(text, 3) AS s").cache()
    sets.count()
    val kernels = Seq(
      "shingle_set" -> docs.selectExpr("graft_shingle_set(text, 3)"),
      "minhash_sig" -> sets.selectExpr("graft_minhash_sig(s, 64)"),
      "simhash64" -> docs.selectExpr("graft_simhash64(text)"),
      "token_stats" -> docs.selectExpr("graft_token_stats(text)"),
      "fingerprint" -> docs.selectExpr("graft_fingerprint(text)"))
      .map { case (k, df) => (s"operators.docs_per_s.$k", rate(s"operators.$k", df), "docs/s") }
    sets.unpersist()
    kernels ++ Seq(
      stage("exact_dup")(noop(DedupOps.exactDedup(docs, "doc_id", "text"))),
      stage("span")(noop(SpanDedup.removeDuplicatedSpans(docs, "doc_id", "text"))),
      stage("near_dup")(noop(DedupOps.jaccardPairs(docs, "doc_id", "text", 3, 0.9))),
      stage("semantic") {
        val cent = KMeansOps.fit(emb, "vec_id", "embedding", 8, 2)
        noop(KMeansOps.semDedup(emb, "vec_id", "embedding", cent, 0.35))
      },
      stage("quota")(noop(QuotaSample.tokenQuota(docs, "source", "doc_id", "text", budget))))
  }

  /** Order-independent digest of a set of ids. */
  protected def idDigest(ids: Iterable[Long]): String =
    java.lang.Long.toHexString(ids.toSeq.sorted.foldLeft(1125899906842597L)((h, x) => 31 * h + x))
}

/** Batch curation: `Pipeline.curateFull` over a generated corpus. */
final class CurateCorpus(spark: SparkSession, o: Opts, t: Tracer) extends Workload(spark, o, t) with CurateIo {
  val freshDocs = 4000
  private var corpus: Gen.Corpus = _
  private var docs: DataFrame = _
  private var emb: DataFrame = _
  private var budget = 0L
  private val outPath = s"${o.work}/curated"
  private var firstDigest: Option[String] = None
  private val decisionCounts = mutable.LinkedHashMap.empty[String, Long]

  def generate(): Unit = {
    corpus = Gen.corpus(o.seed, freshDocs, 0L)
    docs = writeDocs(corpus.docs, s"${o.work}/docs")
    emb = writeVecs(corpus.docs.map(_.id).zip(corpus.vecs), s"${o.work}/embeddings")
    budget = tokenBudget(corpus.docs)
  }

  private def curate(): Unit = {
    val out = t.span("pipeline.construct") {
      Pipeline.curateFull(docs, emb, "doc_id", "text", "source", tokenBudget = budget)
    }
    t.span("pipeline.assemble")(out.write.mode("overwrite").parquet(outPath))
  }

  def warmup(): Unit = curate()

  def op(i: Int): Double = { curate(); corpus.docs.size.toDouble }

  override def checkOp(i: Int): Unit = {
    val decided = spark.read.parquet(outPath).select("doc_id", "decision").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    checks.require("one_decision_per_doc", decided.size == corpus.docs.size,
      s"${decided.size} decisions for ${corpus.docs.size} docs")
    for (g <- corpus.exactGroups) {
      val survivors = g.count(id => decided.get(id).exists(_ != "exact_dup"))
      checks.require("one_survivor_per_exact_group", survivors == 1, s"group $g: $survivors survivors")
    }
    val kept = decided.collect { case (id, "kept") => id }
    val text = corpus.docs.map(d => d.id -> d.text).toMap
    val fps = kept.toSeq.map(id => Gen.normalized(text(id)))
    checks.require("kept_fingerprints_unique", fps.distinct.size == fps.size,
      s"${fps.size - fps.distinct.size} kept docs share a fingerprint")
    val digest = idDigest(kept)
    checks.require("kept_ids_deterministic", firstDigest.getOrElse(digest) == digest, s"op $i $digest")
    if (firstDigest.isEmpty) {
      firstDigest = Some(digest)
      decided.values.groupBy(identity).toSeq.sortBy(_._1).foreach { case (k, v) => decisionCounts(k) = v.size }
    }
  }

  override def report(lat: Seq[Double], items: Seq[Double]): Seq[(String, String)] = Seq(
    "docs" -> corpus.docs.size.toString,
    "docs_per_s" -> Json.num(items.sum / lat.sum),
    "pass_p50_s" -> Json.num(Stats.median(lat)),
    "kept_id_digest" -> Json.str(firstDigest.getOrElse("")),
    "decisions" -> Json.obj(decisionCounts.toSeq.map { case (k, v) => k -> v.toString }))

  override def layers(): Seq[(String, Double, String)] = {
    val ops = math.max(1, t.opCount)
    batchLayers(docs, emb, budget) ++ Seq(
      ("pipeline.construct_s", t.spanSeconds("pipeline.construct") / ops, "s"),
      ("pipeline.assemble_s", t.spanSeconds("pipeline.assemble") / ops, "s"),
      ("pipeline.checkpoint_jobs", t.checkpointJobsPer("pipeline.construct"), "count"))
  }
}

/** Streaming curation: micro-batches through `StreamingDedup.curateSink`
  * on a MemoryStream. One batch is added and fully processed before the
  * next is sent. The first batch (an empty store) is the warm-up. */
final class CurateStream(spark: SparkSession, o: Opts, t: Tracer) extends Workload(spark, o, t) with CurateIo {
  import spark.implicits._

  val historyDocs = 500
  val batchDocs = 100
  val nBatches = 24
  private var stream: Gen.Stream = _
  private var history: DataFrame = _
  private var emb: DataFrame = _
  private var cent: Array[Array[Double]] = _
  private var mem: MemoryStream[(Long, String)] = _
  private var query: StreamingQuery = _
  private val storePath = s"${o.work}/store"
  private val seenFps = mutable.HashSet.empty[String]
  private val keptIds = mutable.ArrayBuffer.empty[Long]
  private val progress = mutable.HashMap.empty[String, Double].withDefaultValue(0.0)
  private var triggers = 0
  private val seenBatches = mutable.HashSet.empty[Long]

  def generate(): Unit = {
    stream = Gen.stream(o.seed, historyDocs, nBatches, batchDocs)
    history = writeDocs(stream.history, s"${o.work}/history").select("doc_id", "text")
    emb = writeVecs(stream.vecs.toSeq, s"${o.work}/embeddings")
  }

  override def prepare(): Unit = {
    // the fixed snapshot artifact: centroids fit on the history's vectors
    cent = KMeansOps.fit(emb.join(history.select(col("doc_id").as("vec_id")), "vec_id"),
      "vec_id", "embedding", 8, 2)
  }

  private def send(b: Int): Unit = {
    mem.addData(stream.batches(b).map(d => (d.id, d.text)))
    query.processAllAvailable()
  }

  def warmup(): Unit = {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    mem = MemoryStream[(Long, String)]
    query = StreamingDedup.curateSink(mem.toDF().toDF("doc_id", "text"), history, emb,
      "doc_id", "text", cent, storePath)
    seenFps ++= stream.history.map(d => Gen.normalized(d.text))
    send(0)
    verify(0)
    triggers = 0
    progress.clear()
  }

  // batch 0 is the warm-up, the last one is kept for the stage probes
  override def maxOps: Int = nBatches - 2

  def op(i: Int): Double = {
    t.span("streaming.batch")(send(i + 1))
    stream.batches(i + 1).size.toDouble
  }

  override def checkOp(i: Int): Unit = verify(i + 1)

  private def verify(b: Int): Unit = {
    for (p <- query.recentProgress if p.numInputRows > 0 && seenBatches.add(p.batchId)) {
      triggers += 1
      val d = p.durationMs
      for ((k, m) <- Seq("triggerExecution" -> "trigger", "addBatch" -> "add_batch",
          "queryPlanning" -> "query_planning", "walCommit" -> "wal_commit"))
        progress(m) += Option(d.get(k)).map(_.doubleValue).getOrElse(0.0) / 1e3
    }
    val batch = stream.batches(b)
    val text = batch.map(d => d.id -> d.text).toMap
    val rows = spark.read.parquet(storePath).select("doc_id", "decision", "cleaned_text").collect()
      .filter(r => text.contains(r.getLong(0)))
    checks.require("one_decision_per_doc", rows.length == batch.size,
      s"batch $b: ${rows.length} decisions for ${batch.size} docs")
    // history = the seed docs plus every admitted doc's stored (cleaned) text
    val kept = rows.filter(_.getString(1) == "kept")
    val fps = kept.map(r => Gen.normalized(text(r.getLong(0))))
    checks.require("never_admits_history_text", fps.forall(f => !seenFps.contains(f)),
      s"batch $b admitted ${fps.count(seenFps.contains)} docs whose text is in history")
    seenFps ++= kept.map(r => Gen.normalized(r.getString(2)))
    keptIds ++= kept.map(_.getLong(0))
  }

  override def report(lat: Seq[Double], items: Seq[Double]): Seq[(String, String)] = {
    val tail = Stats.tail(lat)
    Seq(
      "docs_per_s" -> Json.num(items.sum / lat.sum),
      "batch_p50_s" -> Json.num(Stats.median(lat)),
      "batch_tail_s" -> tail.map(x => Json.num(x._2)).getOrElse("null"),
      "batch_tail_percentile" -> tail.map(_._1.toString).getOrElse("null"),
      "kept_id_digest" -> Json.str(idDigest(keptIds)))
  }

  override def layers(): Seq[(String, Double, String)] = {
    val batch = Gen.docsFrame(spark, stream.batches(nBatches - 1)).select("doc_id", "text").cache()
    batch.count()
    val embBatch = emb.join(batch.select(col("doc_id").as("vec_id")), "vec_id").cache()
    val embHist = emb.join(history.select(col("doc_id").as("vec_id")), "vec_id").cache()
    embBatch.count(); embHist.count()
    val stages = Seq(
      stage("exact_vs_history")(noop(IncrementalDedup.dedupAgainstHistory(batch, history, "doc_id", "text"))),
      stage("cross_span")(noop(SpanDedup.removeCrossSpans(history, batch, "doc_id", "text"))),
      stage("cross_near_dup")(noop(DedupOps.crossMinhashPairs(history, batch, "doc_id", "text", 3, 0.9))),
      stage("cross_semantic")(noop(KMeansOps.incrementalSemDedup(embHist, embBatch, "vec_id", "embedding",
        cent, 0.35))))
    // the call each trigger makes, timed from outside the sink
    val out = t.span("pipeline.construct") {
      Pipeline.curateIncremental(history, batch, emb, "doc_id", "text", centroids = Some(cent),
        keepCleanedText = true)
    }
    t.span("pipeline.assemble")(out.write.mode("overwrite").parquet(s"${o.work}/incremental"))
    Seq(batch, embBatch).foreach(_.unpersist())
    embHist.unpersist()
    // the batch-pipeline layers, on a corpus of curate_corpus's size
    val corpus = Gen.corpus(o.seed, 4000, 0L)
    val batchStages = batchLayers(writeDocs(corpus.docs, s"${o.work}/corpus"),
      writeVecs(corpus.docs.map(_.id).zip(corpus.vecs), s"${o.work}/corpus_embeddings"),
      tokenBudget(corpus.docs))
    val n = math.max(1, triggers).toDouble
    stages ++ batchStages ++ Seq(
      ("pipeline.construct_s", t.spanSeconds("pipeline.construct"), "s"),
      ("pipeline.assemble_s", t.spanSeconds("pipeline.assemble"), "s"),
      ("pipeline.checkpoint_jobs", t.checkpointJobsPer("pipeline.construct"), "count")) ++
      Seq("trigger", "add_batch", "query_planning", "wal_commit").map(k =>
        (s"streaming.${k}_s", progress(k) / n, "s"))
  }

  override def close(): Unit = if (query != null) query.stop()
}
