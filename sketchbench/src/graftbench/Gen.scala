package graftbench

import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input generators. The same seed gives the same inputs; the
  * library only ever sees the generated relations, and the planted truth
  * stays here for the output checks. */
object Gen {

  // ---- sketch rows ---------------------------------------------------------

  val Segments = 100
  val Days = 20
  val Users = 1000000
  val HotItems = 3

  /** Uniform [0, 1) per row, from the seed, the row id and a salt. */
  private def u(seed: Long, salt: Int): Column =
    xxhash64(lit(seed), col("id"), lit(salt)).bitwiseAND(lit((1L << 53) - 1)).cast("double") /
      lit(math.pow(2, 53))

  /** Sketch-ingest rows (row_id, segment, day, user_id, value, item):
    *  - segment: log-uniform over 100 segments, so segment 0 holds ~15% of
    *    the rows and the last ones ~0.2% (small-vs-large set pairs);
    *  - user_id: log-uniform (Zipf-like) over 1M ids;
    *  - value: exponential, uniform or log-normal-like by segment;
    *  - item: 15% of each segment's rows are one of its 3 planted heavy
    *    hitters (`hh<segment % 7>_<j>`), the rest a 1M-id long tail. */
  def sketchRows(spark: SparkSession, seed: Long, n: Long, parts: Int): DataFrame = {
    val seg = (floor(exp(u(seed, 1) * math.log(Segments + 1.0))) - 1).cast("int")
    spark.range(0, n, 1, parts).select(col("id").as("row_id"), seg.as("segment"),
        floor(u(seed, 2) * Days).cast("int").as("day"),
        floor(exp(u(seed, 3) * math.log(Users.toDouble))).cast("long").as("user_id"),
        u(seed, 4).as("__u4"), u(seed, 5).as("__u5"), u(seed, 6).as("__u6"))
      .select(col("row_id"), col("segment"), col("day"), col("user_id"),
        when(col("segment") % 3 === 0, -log(lit(1.0) - col("__u4")) * (col("segment") + 10))
          .when(col("segment") % 3 === 1, col("segment") + col("__u4") * 100)
          .otherwise(exp(col("__u4") * 4)).as("value"),
        when(col("__u5") < 0.15, concat(lit("hh"), (col("segment") % 7).cast("string"), lit("_"),
            floor(col("__u6") * HotItems).cast("string")))
          .otherwise(concat(lit("it"), floor(col("__u6") * 1e6).cast("string"))).as("item"))
  }

  def heavyHitters(segment: Int): Seq[String] = (0 until HotItems).map(j => s"hh${segment % 7}_$j")

  // ---- text corpus ---------------------------------------------------------

  private val syllables = Seq("ka", "lo", "mi", "ten", "ra", "shu", "vel", "no", "pi", "dor",
    "fa", "gri", "sta", "qua", "ben", "zo", "lu", "mar", "ti", "xen", "wo", "hal", "ce", "ryn")
  /** 20000 pseudo-words. A token is one of the first 200 (the function
    * words) with probability 0.4, else uniform over the rest, so common
    * 3-shingles stay far below the near-dup stage's document-frequency cap. */
  val vocab: Array[String] = {
    val r = new SplittableRandom(7L)
    val seen = mutable.LinkedHashSet.empty[String]
    while (seen.size < 20000)
      seen += (0 until 1 + r.nextInt(4)).map(_ => syllables(r.nextInt(syllables.size))).mkString
    seen.toArray
  }
  private def word(r: SplittableRandom): String =
    if (r.nextInt(10) < 4) vocab(r.nextInt(200)) else vocab(200 + r.nextInt(vocab.length - 200))

  val Langs = Seq("en", "es", "de", "fr", "zh")
  val Sources = 5
  val Dim = 128

  final case class Doc(id: Long, text: String, lang: String, source: String)

  /** A corpus with its planted truth: exact-dup groups (ids whose texts
    * normalize to one fingerprint). */
  final case class Corpus(docs: IndexedSeq[Doc], vecs: IndexedSeq[Array[Float]],
                          exactGroups: Seq[Seq[Long]])

  /** Whitespace- and case-preserving variant that normalizes to the same
    * fingerprint as `text` (lowercase, trimmed, whitespace collapsed). */
  private def reformat(text: String, r: SplittableRandom): String = {
    val toks = text.split(" ")
    val out = toks.map(t => if (r.nextInt(4) == 0) t.toUpperCase(java.util.Locale.ROOT) else t)
    "  " * r.nextInt(2) + out.mkString(if (r.nextBoolean()) "  " else " \t ") + " " * r.nextInt(3)
  }

  private def unitVec(r: SplittableRandom): Array[Float] = {
    val v = Array.fill(Dim)(r.nextGaussian().toFloat)
    val n = math.sqrt(v.map(x => x * x).sum.toDouble).toFloat
    v.map(_ / n)
  }
  private def nearVec(v: Array[Float], r: SplittableRandom): Array[Float] =
    v.map(x => x + (r.nextGaussian() * 0.02).toFloat)

  /** `n` fresh documents of 30 to 89 tokens plus planted duplicates, ids from `firstId`.
    * Shares: 4% of docs get one to three exact copies, 3% a one-token-edit
    * near copy, 6% carry one of three 24-token boilerplate spans. */
  def corpus(seed: Long, n: Int, firstId: Long): Corpus = {
    val r = new SplittableRandom(seed * 1000003L + firstId)
    val boilerplates = {
      val br = new SplittableRandom(seed)
      Seq.fill(3)(Seq.fill(24)(word(br)).mkString(" "))
    }
    val docs = mutable.ArrayBuffer.empty[Doc]
    val vecs = mutable.ArrayBuffer.empty[Array[Float]]
    val groups = mutable.ArrayBuffer.empty[Seq[Long]]
    var next = firstId
    def add(text: String, lang: String, src: String, v: Array[Float]): Long = {
      val id = next; next += 1
      docs += Doc(id, text, lang, src); vecs += v; id
    }
    for (_ <- 0 until n) {
      val len = 30 + r.nextInt(60)
      val toks = mutable.ArrayBuffer.fill(len)(word(r))
      if (r.nextInt(100) < 6)
        toks.insert(r.nextInt(len), boilerplates(r.nextInt(boilerplates.size)))
      val text = toks.mkString(" ")
      val lang = Langs(r.nextInt(Langs.size))
      val src = s"src${r.nextInt(Sources)}"
      val v = unitVec(r)
      val id = add(text, lang, src, v)
      val roll = r.nextInt(100)
      if (roll < 4) {
        val copies = (0 until 1 + r.nextInt(3)).map(_ => add(reformat(text, r), lang, src, v))
        groups += (id +: copies)
      } else if (roll < 7) {
        // a near copy: all but the last token verbatim, so span removal
        // cuts the shared run from it
        val edited = toks.clone()
        edited(edited.length - 1) = "zz" + edited.last
        add(edited.mkString(" "), lang, src, nearVec(v, r))
      }
    }
    Corpus(docs.toIndexedSeq, vecs.toIndexedSeq, groups.toSeq)
  }

  /** The stream's inputs: a seed history and `nBatches` micro-batches of
    * about `batchDocs` docs. Each batch carries fresh docs plus planted
    * re-ingests: exact (reformatted) copies of history docs and of docs of
    * earlier batches. */
  final case class Stream(history: IndexedSeq[Doc], batches: IndexedSeq[IndexedSeq[Doc]],
                          vecs: Map[Long, Array[Float]])

  def stream(seed: Long, historyDocs: Int, nBatches: Int, batchDocs: Int): Stream = {
    val hist = corpus(seed, historyDocs, 0L)
    val r = new SplittableRandom(seed ^ 0x5DEECE66DL)
    val vecs = mutable.HashMap.empty[Long, Array[Float]]
    hist.docs.zip(hist.vecs).foreach { case (d, v) => vecs(d.id) = v }
    var next = 10000000L
    val batches = mutable.ArrayBuffer.empty[IndexedSeq[Doc]]
    for (b <- 0 until nBatches) {
      // fresh docs carry no planted within-batch copies: curateIncremental
      // judges a batch against history only (intra-batch dedup is curateFull's)
      val fresh = corpus(seed + 17 * (b + 1), batchDocs - batchDocs / 10, next)
      val freshDocs = fresh.docs.filter(d => !fresh.exactGroups.exists(g => g.tail.contains(d.id)))
      freshDocs.foreach(d => vecs(d.id) = fresh.vecs((d.id - next).toInt))
      next += fresh.docs.size
      val pool = hist.docs ++ batches.flatten
      val copies = (0 until batchDocs / 10).map { _ =>
        val src = pool(r.nextInt(pool.size))
        val d = Doc(next, reformat(src.text, r), src.lang, src.source)
        vecs(next) = vecs(src.id); next += 1; d
      }
      batches += (freshDocs ++ copies)
    }
    Stream(hist.docs, batches.toIndexedSeq, vecs.toMap)
  }

  /** The fingerprint the exact-dup stage groups by, computed independently:
    * lowercase, trim, collapse whitespace. */
  def normalized(text: String): String =
    text.trim.toLowerCase(java.util.Locale.ROOT).split("\\s+").mkString(" ")

  def docsFrame(spark: SparkSession, docs: Seq[Doc]): DataFrame = {
    import spark.implicits._
    docs.map(d => (d.id, d.text, d.lang, d.source)).toDF("doc_id", "text", "lang", "source")
  }
  def vecsFrame(spark: SparkSession, rows: Seq[(Long, Array[Float])]): DataFrame = {
    import spark.implicits._
    rows.map { case (id, v) => (id, v.toSeq) }.toDF("vec_id", "embedding")
  }
}
