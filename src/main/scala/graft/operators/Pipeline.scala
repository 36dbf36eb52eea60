package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** End-to-end corpus curation — the canonical training-data flow composed
  * from the engine's operators, one annotated DataFrame out:
  *
  *   1. exact dedup (md5 fingerprint; keep the lowest id per group),
  *   2. near dedup (MinHash+LSH candidates, exact-Jaccard verified; drop
  *      the higher id of every qualifying pair),
  *   3. quality floor ([[TextOps.qualityScore]]),
  *   4. language annotation ([[TextOps.langId]]).
  *
  * Every row is kept with a `decision` ∈ {kept, exact_dup, near_dup,
  * low_quality} rather than filtered away, so the curation run is
  * auditable and each reason's volume is one `GROUP BY` away. Shapes are
  * the scale-safe ones throughout: fingerprint window, banded LSH
  * equi-join, no text in any shuffle after tokenization.
  */
object Pipeline {

  // Fixed knobs of the curate* pipelines: no caller tunes them, so they
  // are constants rather than parameters.
  private val ShingleK = 3
  private val SpanK = 8
  private val SemIters = 2
  private val NbBuckets = 4096
  private val ImageCodec: MediaOps.ImageCodec = MediaOps.ImageIoCodec
  private val AudioCodec: MediaOps.AudioCodec = MediaOps.JavaSoundCodec
  private val MediaGrid = 2
  private val MinMeanLum = 5.0
  private val MaxMeanLum = 250.0
  private val VideoEvery = 1
  /** Hamming radius of the image (aHash) and audio (envelope) dup arms. */
  private val HashDupMaxDist = 2
  private val VideoDupMinFrames = 6

  /** The decision table: every decision a curate pipeline assigns, in
    * precedence order — a doc in several drop leaves reads its earliest
    * entry. `empty` is a slot, not a drop leaf: span removal runs between
    * `contaminated` and `low_quality`, so a doc dropped at or before
    * `contaminated` has no cleaned row and must read its drop first,
    * while every later stage only sees docs with kept tokens. Each drop
    * entry's priority is its position with the slot left out — the
    * integer literal the assembly plans carry. */
  private val Decisions = Seq("exact_dup", "bad_media", "media_dup", "wrong_lang",
    "rule_filtered", "contaminated", "empty", "low_quality", "near_dup", "sem_dup",
    "over_quota")
  private val DropPriority: Map[String, Int] =
    Decisions.filterNot(_ == "empty").zipWithIndex.toMap
  private val LastBeforeEmpty = DropPriority(Decisions(Decisions.indexOf("empty") - 1))

  /** A drop-chain stage: its decision-table entry and, when enabled, the
    * body mapping the current survivors to the stage's drop-id leaf (one
    * id column, materialized through [[materialize]]). */
  private type Stage = (String, Option[DataFrame => DataFrame])

  /** Evaluate independent stage computations CONCURRENTLY (guide §2.6:
    * Spark's scheduler runs several jobs at once inside one application;
    * actions are only sequential because driver code calls them
    * sequentially). Every thunk here materializes an eager
    * localCheckpoint of a drop relation that depends only on an
    * already-materialized upstream leaf — the three media-integrity
    * arms, the three perceptual-dup arms, the history/batch embedding
    * slices — so running them from a small thread pool lets each job's
    * tail back-fill the executors the others free, instead of paying
    * three full job latencies end to end (measured on q132: the three
    * decode arms were 5.3 s of an 11.9 s run, sequential by construction
    * only). Results (the checkpointed DataFrames) are identical — only
    * the submission order changes. Exceptions propagate unwrapped. */
  private def parEval[T](thunks: Seq[() => T]): Seq[T] =
    if (thunks.lengthCompare(2) < 0) thunks.map(_())
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(thunks.size)
      try {
        val futs = thunks.map { t =>
          pool.submit(new java.util.concurrent.Callable[T] {
            override def call(): T = t()
          })
        }
        futs.map { f =>
          try f.get()
          catch { case e: java.util.concurrent.ExecutionException =>
            throw e.getCause
          }
        }
      } finally pool.shutdown()
    }

  /** The one materialization site of the curate pipelines: evaluates `df`
    * and eagerly localCheckpoints it, every job of both steps running
    * under the job description `curate/<stage>`. The caller's previous
    * description is restored afterwards — a streaming trigger sets its
    * own. Threads started inside (the [[parEval]] pools) inherit the
    * description. Each stage output is a checkpointed leaf because every
    * stage both feeds the next stage AND the final assembly, and several
    * stages iterate (k-means) or self-join (near-dup) over the previous
    * one: an unbroken lineage grows the final plan tree EXPONENTIALLY in
    * stage count (measured: ~18 s of Catalyst analysis/optimization at
    * sf0.1 — 4× the compute). As leaves, compute runs once and plans stay
    * O(stage). Blocks free with the session; a deployment persists stage
    * outputs as tables — same lifecycle, durable. */
  private def materialize(stage: String)(df: => DataFrame): DataFrame = {
    val sc = SparkSession.active.sparkContext
    val previous = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(s"curate/$stage")
    try df.localCheckpoint(eager = true)
    finally sc.setJobDescription(previous)
  }

  /** A one-column drop leaf re-labeled to the shared `__dropped` name so
    * drop sets from different stages can union (r21). */
  private def dropCol(df: DataFrame): DataFrame =
    df.select(col(df.columns.head).as("__dropped"))

  /** Survivors of `base` against a cumulative drop-id union (r21): ONE
    * left-anti join per stage input instead of a CHAIN of k anti-joins.
    * The chained shape paid O(k²) broadcast builds per curate run —
    * every stage's lazy input plan re-executed every upstream stage's
    * anti-join inside each of its own jobs (stage k's checkpoint job
    * rebuilt k−1 broadcasts; measured across q132's 15 stage jobs the
    * rebuild latency dominated the sub-second stages). The union of
    * drop leaves is the same O(duplicates) id mass the individual sets
    * were — AQE broadcasts it when small, shuffles when not (never
    * forced, the drop-set discipline) — and at scale one anti-join
    * against the union shuffles the corpus ONCE per stage instead of k
    * times. */
  private def minusDrops(base: DataFrame, id: Column, drops: DataFrame): DataFrame =
    base.join(drops, id === col("__dropped"), "left_anti")

  /** Runs `stages` in order over `base`: each enabled body sees `base`
    * minus the union of every earlier leaf ([[minusDrops]]); a disabled
    * stage is skipped. Returns each stage's leaf (None when skipped) and
    * the final survivors. */
  private def dropChain(base: DataFrame, id: Column, stages: Seq[Stage])
      : (Seq[(String, Option[DataFrame])], DataFrame) = {
    var drops: Option[DataFrame] = None
    def survivors = drops.fold(base)(minusDrops(base, id, _))
    val leaves = stages.map { case (name, body) =>
      name -> body.map { run =>
        val leaf = run(survivors)
        drops = Some(drops.fold(dropCol(leaf))(_.union(dropCol(leaf))))
        leaf
      }
    }
    (leaves, survivors)
  }

  /** A stage made of independent arms: the enabled arms run concurrently
    * ([[parEval]]), each materialized as its own leaf. One arm keeps its
    * exchange-free relation unless `distinctOne`; several union DISTINCT
    * (modalities may overlap on a doc). Disabled when no arm is. */
  private def armsStage(stage: String, distinctOne: Boolean,
                        arms: Seq[Option[DataFrame => DataFrame]]): Stage =
    stage -> Some(arms.flatten).filter(_.nonEmpty).map { enabled => (s: DataFrame) =>
      val leaves = parEval(enabled.map(arm => () => materialize(stage)(arm(s))))
      if (leaves.size == 1 && !distinctOne) leaves.head
      else leaves.reduce(_ union _).distinct()
    }

  /** The asset rows of docs still in play: (doc_id, content) semi-joined
    * to `survivors`, so only surviving docs get their assets decoded. */
  private def inPlay(assets: DataFrame, survivors: DataFrame, idCol: String): DataFrame =
    assets.select(col(idCol).as("doc_id"), col("content"))
      .join(survivors.select(col(idCol).as("doc_id")), Seq("doc_id"), "left_semi")

  /** The `bad_media` gate, shared by [[curateFull]] and
    * [[curateIncremental]] (there judging only batch docs) — three
    * modality arms:
    *  - image ([[MediaOps.decodeStatus]]): decode-fail / out-of-band
    *    mean luminance / uniform raster,
    *  - video ([[VideoOps.decodeStatus]]): demux-fail / zero decodable
    *    frames (dead payloads) / out-of-band luminance / every-frame-
    *    uniform (blank stream),
    *  - audio ([[MediaOps.audioStatus]]): decode-fail / zero samples /
    *    silent (every sample equal).
    * Each arm is one partition-parallel decode pass, failures kept as
    * status rows (no second scan of the binary column), checkpointed as
    * its own leaf; the gate is DISTINCT even over one arm (an asset
    * relation may carry several rows per doc). Docs without an asset row
    * pass untouched. */
  private def mediaGateStage(idCol: String, media: Option[DataFrame],
      video: Option[DataFrame], videoContainer: VideoOps.VideoContainer,
      audio: Option[DataFrame]): Stage =
    armsStage("bad_media", distinctOne = true, Seq(
      media.map { m => s =>
        val mean = col("checksum").cast("double") / (col("width") * col("height"))
        MediaOps.decodeStatus(inPlay(m, s, idCol), ImageCodec, MediaGrid).toDF()
          .filter(!col("ok") || mean < MinMeanLum || mean > MaxMeanLum ||
            col("uniform"))
          .select(col("doc_id").as("__media_drop"))
      },
      video.map { v => s =>
        val vMean = col("pix_sum").cast("double") / col("pix_cnt")
        VideoOps.decodeStatus(inPlay(v, s, idCol), videoContainer, ImageCodec,
            VideoEvery).toDF()
          .filter(!col("ok") || col("n_decoded") === 0 ||
            vMean < MinMeanLum || vMean > MaxMeanLum || col("uniform"))
          .select(col("doc_id").as("__media_drop"))
      },
      audio.map { a => s =>
        MediaOps.audioStatus(inPlay(a, s, idCol), AudioCodec).toDF()
          .filter(!col("ok") || col("n_samples") === 0 || col("silent"))
          .select(col("doc_id").as("__media_drop"))
      }))

  /** The trained LANGUAGE gate — the CCNet discipline: lang-id runs FIRST
    * among the text-reading stages, so a monolingual curation lane never
    * lets other languages feed its gram/span/near-dup statistics.
    * `langModel` is the per-snapshot multiclass char-trigram NB artifact
    * ([[TextOps.langNbFit]], stored/loaded through [[SnapshotStore]] as
    * (lang, k, v) rows); survivors whose argmax language falls outside
    * `langAllow` drop as `wrong_lang`. Scoring is one trigram pass + a
    * broadcast join on C·buckets integer rows — per-row scan work, no
    * text in any exchange. A doc with no trigram carries no evidence and
    * passes through (it dies as `empty` downstream). */
  private def langStage(idCol: String, textCol: String,
      langModel: Option[TextOps.LangNbModel], langAllow: Seq[String]): Stage =
    "wrong_lang" -> langModel.map { lm => s =>
      materialize("wrong_lang")(
        TextOps.langNbPredict(lm, s.select(col(idCol), col(textCol)), idCol, textCol)
          .filter(!col("pred_lang").isin(langAllow: _*))
          .select(col(idCol).as("__lang_drop")))
    }

  /** The Gopher/C4 heuristic RULE gate ([[QualityFilters.ruleReport]]):
    * the cheapest text stage — a per-row scan over raw text, no model, no
    * shuffle — so it runs right after the language gate to shrink every
    * pairwise stage's candidate set. Judged on RAW text (the published
    * rule sets are page-level filters over the crawl, not over
    * span-cleaned output); the thresholds are a fixed contract, so
    * admission never drifts with batch composition. Failures drop as
    * `rule_filtered`. */
  private def ruleStage(idCol: String, textCol: String,
      ruleParams: Option[QualityFilters.RuleParams]): Stage =
    "rule_filtered" -> ruleParams.map { rp => s =>
      // single-expression verdict (QualityFilters.rulePass): the pushed
      // filter evaluates the byte scan ONCE per row — filtering the
      // ruleReport's rule_pass would inline graft_rule_stats per rule
      // conjunct (FilterExec has no subexpression elimination)
      materialize("rule_filtered")(s.select(col(idCol), col(textCol))
        .filter(!QualityFilters.rulePass(col(textCol), rp))
        .select(col(idCol).as("__rule_drop")))
    }

  /** Eval-suite DECONTAMINATION: survivors sharing a k-gram shingle with
    * the benchmark ([[Decontaminate.contaminatedIds]] — membership
    * implies every span hit too, a ≥ minSpan verbatim run shares its
    * k-grams) OR whose embedding reaches `contamCosTau` cosine against
    * any benchmark vector (the paraphrase grain) drop as `contaminated`
    * BEFORE the text stages — eval-suite text must not feed gram
    * statistics or enter the corpus at any grain. The benchmark is an
    * eval suite: fixed and small, so the cosine scan is benchmark-bounded
    * map-side work (the [[Decontaminate.report]] contract). */
  private def contamStage(idCol: String, textCol: String, embeddings: DataFrame,
      vecIdCol: String, vecCol: String, benchmark: Option[DataFrame],
      benchmarkEmb: Option[DataFrame], contamNgramK: Int,
      contamCosTau: Double): Stage =
    "contaminated" -> benchmark.map { b => s => materialize("contaminated") {
      // ONE materialized leaf feeds the stage's two grains: the survivors
      // are a lazy anti-join over the docs scan, which each grain would
      // otherwise execute again. widenIfNarrow: the k-gram shingle pass
      // (hash per window) is a hashing-scale scan — the helper's case.
      val inPlay = materialize("contaminated")(s.select(col(idCol), col(textCol)))
      val ng = Decontaminate.contaminatedIds(
          widenIfNarrow(inPlay), b.select(col(idCol), col(textCol)),
          idCol, textCol, contamNgramK)
        .select(col("doc"))
      val bEmb = benchmarkEmb.getOrElse(sys.error(
        "benchmark decontamination needs benchmarkEmb for the semantic grain"))
      val sem = embeddings
        .join(inPlay.select(col(idCol).as("__cid")), col(vecIdCol) === col("__cid"),
          "left_semi")
        .select(col(vecIdCol).as("doc"), col(vecCol).as("__cvec"),
          SimilarityOps.norm(col(vecCol)).as("__cnrm"))
        .crossJoin(bEmb.select(col(vecCol).as("__bvec"),
          SimilarityOps.norm(col(vecCol)).as("__bnrm")))
        .withColumn("__cos", SimilarityOps.dot(col("__cvec"), col("__bvec")) /
          (col("__cnrm") * col("__bnrm")))
        .groupBy("doc").agg(max(col("__cos")).as("__mc"))
        .filter(col("__mc") >= contamCosTau)
        .select(col("doc"))
      ng.union(sem).distinct().select(col("doc").as("__contam_drop"))
    }}

  /** The drop-verdict assembly shared by [[curateFull]] and
    * [[curateIncremental]] — ONE verdict join (r21): each present leaf is
    * tagged with its decision's priority, the union aggregates to the min
    * priority per id (a doc in several sets reads its earliest stage),
    * and `rows` joins that single relation plus the `cleaned` leaf.
    * `leaves` lists the chain's stages in table order, skipped ones too:
    * they keep their branch of the name lookup. `notAdmitted` (the
    * incremental exact stage, read from a missing admitted row) decides
    * `exact_dup` ahead of every leaf. Output: `rows`' id, then `carry`,
    * decision, removed_tokens, n_tokens, final_md5, then `extra`. */
  private def assemble(rows: DataFrame, idCol: String,
      leaves: Seq[(String, Option[DataFrame])], cleaned: DataFrame,
      notAdmitted: Option[Column], piiRedactOutput: Boolean,
      carry: Seq[Column], extra: Seq[Column] = Nil): DataFrame = {
    val id = col(idCol)
    val p = col("__d_p")
    val dropVerdict = leaves.collect { case (name, Some(df)) =>
        df.select(col(df.columns.head).as("__d_id"), lit(DropPriority(name)).as("__d_p"))
      }.reduce(_ union _)
      .groupBy("__d_id").agg(min("__d_p").as("__d_p"))
    val names = leaves.map(_._1)
    val dropName = names.tail.foldLeft(when(p === DropPriority(names.head), names.head)) {
      (w, n) => w.when(p === DropPriority(n), n)
    }
    val upToEmpty = notAdmitted.fold(when(p <= LastBeforeEmpty, dropName)) { na =>
      when(na, "exact_dup").when(p <= LastBeforeEmpty, dropName)
    }
    val ann = rows
      .join(dropVerdict, id === col("__d_id"), "left")
      .join(cleaned.select(id, col("kept_tokens"), col("removed_tokens"),
        col("cleaned_text")), Seq(idCol), "left")
      .withColumn("decision", upToEmpty
        .when(col("cleaned_text").isNull || col("kept_tokens") === 0L, "empty")
        .when(p.isNotNull, dropName)
        .otherwise("kept"))
    ann.select((id +: carry) ++ Seq(col("decision"),
      coalesce(col("removed_tokens"), lit(0L)).as("removed_tokens"),
      when(col("decision") === "kept", col("kept_tokens")).as("n_tokens"),
      when(col("decision") === "kept",
        md5(outputText(col("cleaned_text"), piiRedactOutput).cast("binary")))
        .as("final_md5")) ++ extra: _*)
  }

  /** The relation re-spread to cluster parallelism when its materialized
    * source sits below it. AQE's size-based post-shuffle coalesce is
    * tuned for IO-bound work, so at small corpus sizes a checkpointed
    * stage like span removal lands on 1–2 partitions; a downstream scan
    * whose per-row cost is HASHING-scale (the NB feature pass: md5 per
    * uni/bigram) then runs on 1–2 of N cores (measured: 4.1 s over a
    * 2-partition checkpoint vs 0.9 s at 32 — the same starvation
    * `EntryInfra.widenedIfHeavy` fixes for narrow source files). Only
    * such consumers get this wrapper — for the cheap-per-row scans
    * (shingling, token counts) the extra exchange costs more than the
    * imbalance (measured: blanket-widening every stage checkpoint cost
    * q112 +1.2 s for zero downstream win).
    *
    * `df` must be a narrow chain over an already-materialized
    * (checkpointed) leaf, so the partition probe triggers no job. At
    * production scale stage outputs exceed parallelism and this is the
    * identity. */
  private[graft] def widenIfNarrow(df: DataFrame): DataFrame =
    widenIfNarrow(df, df)

  /** [[widenIfNarrow]] probing `leaf`'s partition count instead of
    * `df`'s own — for consumers that derive from the materialized `leaf`
    * through a join or other exchange-bearing step: `df.rdd` on an AQE
    * plan EXECUTES its shuffles (the documented trap), so probing the
    * join plan itself would run the join twice. The leaf's count is the
    * right signal anyway: AQE coalescing the checkpoint to 1–2
    * partitions is what starves the downstream hashing-scale scan. */
  private[graft] def widenIfNarrow(df: DataFrame, leaf: DataFrame): DataFrame = {
    val par = df.sparkSession.sparkContext.defaultParallelism
    if (leaf.rdd.getNumPartitions < par) df.repartition(par) else df
  }

  /** @param knownNearDupPairs pre-mined verified near-dup pair evidence
    *        with (doc_a, doc_b) columns — the same corpus-snapshot memo
    *        lifecycle as `knownHot`: a production pipeline materializes
    *        the pair set when a snapshot is admitted, and every consumer
    *        (clustering, removal, curation) reads the persisted evidence
    *        instead of re-mining the corpus. Must come from the same
    *        (corpus, shingleK, nearDupThreshold) parameters; when None,
    *        the pairs are mined inline. */
  def curate(docs: DataFrame, idCol: String, textCol: String,
             nearDupThreshold: Double = 0.9, minQuality: Double = 0.2,
             shingleK: Int = 3, maxShingleDF: Int = 1000,
             knownHot: Option[Array[Long]] = None,
             knownNearDupPairs: Option[DataFrame] = None): DataFrame = {
    val id = col(idCol)

    // 1. exact-dup drop set: the ranking window sees only (fp, id) pairs,
    //    so full document rows never enter an exchange (the drop sets
    //    join back against the scan; AQE broadcasts them when small)
    val dropExact = DedupOps.dupIds(docs, idCol, textCol)
      .select(col("__dup_id").as("__exact_drop"))

    // 2. near-dup drop set: higher id of every verified pair (hot-shingle
    //    cap threaded through — boilerplate must not go quadratic here)
    val dropNear = knownNearDupPairs
      .getOrElse(DedupOps.minhashLshPairs(docs, idCol, textCol, shingleK, nearDupThreshold,
        maxShingleDF = maxShingleDF, knownHot = knownHot))
      .select(col("doc_b").as("__near_drop")).distinct()

    // NO forced broadcast on the drop sets: their size is O(duplicates),
    // which on a web-scale corpus can be 30–50% of the input — far past
    // any driver/executor broadcast budget. AQE broadcasts them at
    // runtime when they really are small; when they are not, the plain
    // shuffle join is the only plan that completes.
    docs
      .join(dropExact, id === col("__exact_drop"), "left")
      .join(dropNear, id === col("__near_drop"), "left")
      .withColumn("quality", TextOps.qualityScore(col(textCol)))
      .withColumn("lang", TextOps.langId(col(textCol)))
      .withColumn("decision",
        when(col("__exact_drop").isNotNull, "exact_dup")
          .when(col("__near_drop").isNotNull, "near_dup")
          .when(col("quality") < minQuality, "low_quality")
          .otherwise("kept"))
      .drop("__exact_drop", "__near_drop")
  }

  /** [[curateFull]] with [[HtmlExtract]] as STAGE 0 — the pipeline a
    * web crawl actually runs: `pages` carries raw markup in `htmlCol`;
    * block segmentation + jusText-class content rules produce the
    * clean-text column every later stage consumes. One mapPartitions
    * prepended to the chain (no shuffle, no extra checkpoint — the
    * exact stage's scan absorbs it); a page whose markup yields no
    * content text flows through as an empty doc (its fingerprint groups
    * with other empties — the exact stage's documented behavior).
    * Passthrough knobs stay at [[curateFull]] defaults; deployments
    * needing the full surface call `extract` + `curateFull` directly.
    *
    * STAGE 0.5 (optional, r19) — per-DOMAIN curation, the web-pipeline
    * gate between extraction and exact dedup: when `urlCol` names the
    * pages' raw-URL column, each page's canonical domain
    * ([[UrlOps.canonicalize]] → [[UrlOps.domain]], codegen'd built-ins)
    * drives two drop-chain stages BEFORE any cross-document statistics:
    *  - `domainBlocklist` (a (domain) relation, AQE-broadcast semi-join)
    *    → decision `blocked_domain`,
    *  - `domainTokenBudget` > 0 → the deterministic per-domain token
    *    cap ([[QuotaSample.tokenQuota]] with domain as the group — the
    *    4096-bucket two-level scan, no per-domain straggler window) →
    *    decision `over_domain_quota`.
    * One crawl host can neither dominate the mix nor feed the dedup/
    * gram statistics past its cap. Dropped pages still get their one
    * output row (the audit contract); both knobs off → prior shape
    * byte-identical. */
  def curateFromHtml(pages: DataFrame, embeddings: DataFrame,
                     idCol: String, htmlCol: String, sourceCol: String,
                     minWords: Int = HtmlExtract.DefaultMinWords,
                     textCol: String = "text",
                     urlCol: Option[String] = None,
                     domainBlocklist: Option[DataFrame] = None,
                     domainTokenBudget: Long = 0L,
                     langModel: Option[TextOps.LangNbModel] = None,
                     langAllow: Seq[String] = Seq("en"),
                     ruleParams: Option[QualityFilters.RuleParams] = None,
                     piiRedactOutput: Boolean = false): DataFrame = {
    val id = col(idCol)
    // Extraction is eagerly checkpointed (r19): curateFull's stages each
    // keep their `docs` input in lineage (only DROP SETS checkpoint), so
    // an uncheckpointed extraction chain re-parses every page once PER
    // STAGE — measured 2× on the q149 floor once the page fixture moved
    // to the memo (the replayed local relation re-shuffles its bytes on
    // every lineage re-execution where a parquet scan only re-reads
    // cached footers). One parse pass, stages read a leaf.
    val extracted = materialize("extract")(
      HtmlExtract.extract(pages, idCol, htmlCol, minWords)
        .select(col(idCol), col("extracted_text").as(textCol))
        .join(pages.select(col(idCol), col(sourceCol)), Seq(idCol)))
    if (urlCol.isEmpty)
      return curateFull(extracted, embeddings, idCol, textCol, sourceCol,
        langModel = langModel, langAllow = langAllow,
        ruleParams = ruleParams, piiRedactOutput = piiRedactOutput)
    require(domainBlocklist.nonEmpty || domainTokenBudget > 0,
      "urlCol given but neither domainBlocklist nor domainTokenBudget is set")
    val domains = pages.select(col(idCol),
      UrlOps.domain(UrlOps.canonicalize(col(urlCol.get))).as("__domain"))
    val (domainLeaves, domainSurvivors) = dropChain(
      extracted.join(domains, Seq(idCol)), id, Seq(
        "blocked_domain" -> domainBlocklist.map { bl => s =>
          materialize("blocked_domain")(
            s.join(broadcast(bl.select(col("domain").as("__domain"))),
                Seq("__domain"), "left_semi")
              .select(id.as("__blocked_drop")))
        },
        "over_domain_quota" -> Some(domainTokenBudget).filter(_ > 0).map { budget => s =>
          materialize("over_domain_quota")(
            QuotaSample.tokenQuota(s, "__domain", idCol, textCol, budget)
              .filter(!col("kept")).select(id.as("__domq_drop")))
        }))
    // same rationale: the domain survivors feed every curateFull stage
    val survivors = materialize("domains")(domainSurvivors.drop("__domain"))
    val curated = curateFull(survivors, embeddings, idCol, textCol, sourceCol,
      langModel = langModel, langAllow = langAllow,
      ruleParams = ruleParams, piiRedactOutput = piiRedactOutput)
    // dropped pages keep their one audit row, ahead of every downstream
    // decision class (they never entered the corpus the stages judged)
    val dropped = domainLeaves.collect { case (name, Some(leaf)) =>
      (name, col(leaf.columns.head), leaf) }
    val decision = dropped.init.foldRight(lit(dropped.last._1)) {
      case ((name, c, _), rest) => when(c.isNotNull, name).otherwise(rest)
    }
    val droppedRows = dropped
      .foldLeft(pages.select(id, col(sourceCol))) { case (df, (_, c, leaf)) =>
        df.join(leaf, id === c, "left")
      }
      .filter(dropped.map(_._2.isNotNull).reduce(_ || _))
      .select(id, col(sourceCol), decision.as("decision"),
        lit(0L).as("removed_tokens"),
        lit(null).cast("long").as("n_tokens"),
        lit(null).cast("string").as("final_md5"))
    curated.unionByName(droppedRows)
  }

  /** The FULL curation pipeline at the r14 operator grain — one
    * [[dropChain]] run per side of span removal, each stage consuming the
    * previous stages' survivors:
    *
    *   1. exact dedup (normalized fingerprint; lowest id survives),
    *   1.5. (optional, `media`/`video`/`audio`) the media-integrity gate
    *      ([[mediaGateStage]]) → `bad_media`,
    *   1.6. (optional, `mediaDup`/`audioDup`/`videoDup`) perceptual
    *      media near-dup → `media_dup`,
    *   1.7. (optional, `langModel`) language gate ([[langStage]]) →
    *      `wrong_lang`,
    *   1.8. (optional, `ruleParams`) heuristic rule gate ([[ruleStage]])
    *      → `rule_filtered`,
    *   1.9. (optional, `benchmark`) eval-suite decontamination
    *      ([[contamStage]]) → `contaminated` (its text never feeds the
    *      gram statistics downstream),
    *   2. duplicated-SPAN removal — survivor text is REWRITTEN (cleaned),
    *      and a doc cleaned down to nothing is `empty`,
    *   2.5. (optional, `seedFilter`) trained-quality gate: NB
    *      seed-vs-crawl classifier scores the CLEANED text; integer
    *      log-odds below `minNbScoreU` → `low_quality`,
    *   3. near dedup over the CLEANED text (exact n-gram Jaccard ≥
    *      `nearDupThreshold`; higher id of each pair drops),
    *   4. semantic dedup over the survivors' embeddings (k-means
    *      bucketed, SemDeDup keep rule at cosine `semTau`),
    *   5. per-source token quota over cleaned token counts.
    *
    * One row out per input document: (id, source, decision,
    * removed_tokens, n_tokens, final_md5), decision ∈ [[Decisions]] or
    * kept; n_tokens/final_md5 are non-null for kept rows only, so the
    * result IS the survivor corpus fingerprint and the per-stage
    * decision counts in one relation.
    *
    * Scale shape: every stage emits a DROP SET (O(duplicates) id rows,
    * AQE-broadcastable when small, shuffle-joinable when not — never
    * forced), each stage input one left-anti join against the union of
    * the earlier sets; text crosses an exchange only inside span
    * removal's bounded reassembly join. Centroids are k×dim driver values
    * (the [[KMeansOps.fit]] contract). The final assembly is the docs
    * scan plus one drop-verdict join and the cleaned-text join
    * ([[assemble]]). */
  def curateFull(docs: DataFrame, embeddings: DataFrame,
                 idCol: String, textCol: String, sourceCol: String,
                 vecIdCol: String = "vec_id", vecCol: String = "embedding",
                 nearDupThreshold: Double = 0.9,
                 maxShingleDF: Int = 1000,
                 minSpan: Int = 20, maxGramOccurrences: Int = 1000,
                 semK: Int = 8, semTau: Double = 0.35,
                 tokenBudget: Long = 700L,
                 seedFilter: Option[Column] = None,
                 crawlFilter: Option[Column] = None,
                 minNbScoreU: Long = 0L,
                 lowQualityFraction: Double = 0.0,
                 media: Option[DataFrame] = None,
                 mediaDup: Option[DataFrame] = None,
                 audioDup: Option[DataFrame] = None,
                 videoDup: Option[DataFrame] = None,
                 video: Option[DataFrame] = None,
                 videoContainer: VideoOps.VideoContainer = VideoOps.GvidContainer,
                 audio: Option[DataFrame] = None,
                 benchmark: Option[DataFrame] = None,
                 benchmarkEmb: Option[DataFrame] = None,
                 contamNgramK: Int = 3, contamCosTau: Double = 0.3,
                 langModel: Option[TextOps.LangNbModel] = None,
                 langAllow: Seq[String] = Seq("en"),
                 ruleParams: Option[QualityFilters.RuleParams] = None,
                 piiRedactOutput: Boolean = false): DataFrame = {
    val id = col(idCol)

    // 1.6 perceptual MEDIA near-dup — the modality twin of the text
    //     near-dup stage, run BEFORE the text stages (a duplicate asset's
    //     caption must not feed gram statistics twice). Each arm judges
    //     the SAME integrity survivors independently (modalities are
    //     independent duplicate evidence):
    //      - image (`mediaDup`): aHash through the banded Hamming join
    //        ([[DedupOps.simhashPairsFromSigs]]); each perceptual cluster
    //        keeps its brightest member (luminance-checksum argmax via
    //        [[DedupOps.qualityKeepClusters]], ties → min id),
    //      - audio (`audioDup`): envelope hash through the same band
    //        core ([[MediaOps.audioDupPairs]]); the higher id of every
    //        pair drops (no luminance analog for clips),
    //      - video (`videoDup`): per-frame perceptual hashes through the
    //        exact-substring core ([[VideoOps.videoDupSegments]]); clips
    //        sharing ≥ VideoDupMinFrames aligned frames pair, higher id
    //        drops.
    val mediaDupStage = armsStage("media_dup", distinctOne = false, Seq(
      mediaDup.map { md => s =>
        val assets = inPlay(md, s, idCol)
        // ONE decode pass feeds both the band join (ahash) and the keep
        // rule (checksum) — see [[MediaOps.perceptualChecksums]]
        val hx = materialize("media_dup")(
          MediaOps.perceptualChecksums(assets, ImageCodec).toDF().filter(col("ok")))
        val pairs = materialize("media_dup")(DedupOps.simhashPairsFromSigs(
          hx.select(col("doc_id").as("doc"), col("ahash").as("sig")), HashDupMaxDist))
        DedupOps.qualityKeepClusters(assets.select(col("doc_id")), pairs,
            hx.select(col("doc_id"), col("checksum")), "doc_id", scoreCol = "checksum")
          .filter(!col("kept")).select(col("doc_id").as("__mdup_drop"))
      },
      audioDup.map { ad => s =>
        MediaOps.audioDupPairs(inPlay(ad, s, idCol), AudioCodec, HashDupMaxDist)
          .select(col("doc_b").as("__mdup_drop")).distinct()
      },
      videoDup.map { vd => s =>
        VideoOps.videoDupSegments(inPlay(vd, s, idCol), videoContainer, ImageCodec,
            VideoDupMinFrames)
          .select(col("doc_b").as("__mdup_drop")).distinct()
      }))

    val (gateLeaves, gateSurvivors) = dropChain(docs, id, Seq(
      "exact_dup" -> Some((s: DataFrame) => materialize("exact_dup")(
        DedupOps.dupIds(s, idCol, textCol).select(col("__dup_id").as("__exact_drop")))),
      mediaGateStage(idCol, media, video, videoContainer, audio),
      mediaDupStage,
      langStage(idCol, textCol, langModel, langAllow),
      ruleStage(idCol, textCol, ruleParams),
      contamStage(idCol, textCol, embeddings, vecIdCol, vecCol, benchmark,
        benchmarkEmb, contamNgramK, contamCosTau)))

    // 2. span removal over the gate survivors (blank docs fall out here
    //    and are decided `empty` in the assembly, matching
    //    removeDuplicatedSpans' non-blank output contract); a doc whose
    //    every token sat in a duplicated span is `empty` too
    val cleaned = materialize("span")(SpanDedup.removeDuplicatedSpans(gateSurvivors,
      idCol, textCol, SpanK, minSpan, maxGramOccurrences))

    val (textLeaves, _) = dropChain(cleaned.filter(col("kept_tokens") > 0), id, Seq(
      // 2.5 trained-quality gate: the NB seed-vs-crawl classifier
      //     ([[TextOps.seedCrawlNbScores]]) trained on raw doc slices,
      //     scoring the span survivors' CLEANED text — a per-row scan +
      //     broadcast-join cut, so it runs first among the text stages to
      //     shrink the near-dup/semantic candidate sets. Two drop
      //     semantics: `lowQualityFraction > 0` drops the WORST fraction
      //     by score (rank-based budgeting, the CCNet-style cut — robust
      //     to the score distribution shifting with corpus size; the
      //     rank is the two-level prefix scan, never a global window);
      //     otherwise `minNbScoreU` is an absolute class-log-odds floor.
      "low_quality" -> seedFilter.map { sf => s => materialize("low_quality") {
        val crawl = crawlFilter.getOrElse(!sf)
        // checkpointed so the rank path's count() and its rank plan read
        // one materialized leaf instead of re-running the scoring pass;
        // widenIfNarrow: the NB feature pass (md5 per uni/bigram) is the
        // one hashing-scale scan of this stage's text
        val scored = materialize("low_quality")(TextOps.seedCrawlNbScores(
            docs.filter(sf), docs.filter(crawl),
            widenIfNarrow(s.select(id, col("cleaned_text").as(textCol))),
            idCol, textCol, NbBuckets)
          .select(id, col("nb_score_u")))
        val drops =
          if (lowQualityFraction > 0.0) {
            val k = math.floor(lowQualityFraction * scored.count()).toLong
            if (k <= 0L) scored.limit(0).select(id)
            else TextOps.rankByScore(scored, col("nb_score_u"), id)
              .filter(col("__grk") <= k).select(id)
          } else scored.filter(col("nb_score_u") < minNbScoreU).select(id)
        drops.select(id.as("__quality_drop"))
      }},
      // 3. near dedup on the cleaned text — the text duplicates must be
      //    judged on what span removal kept, not the raw crawl
      "near_dup" -> Some((s: DataFrame) => materialize("near_dup")(
        DedupOps.jaccardPairs(s, idCol, "cleaned_text", ShingleK, nearDupThreshold,
            maxShingleDF)
          .select(col("doc_b").as("__near_drop")).distinct())),
      // 4. semantic dedup over the surviving docs' embeddings (centroids
      //    fit on the survivor slice — the corpus the stage actually sees)
      "sem_dup" -> Some((s: DataFrame) => materialize("sem_dup") {
        // checkpointed too: fit's init + per-iteration passes and
        // semDedup's self-join sides otherwise re-run the survivor
        // semi-join 5×
        val emb = materialize("sem_dup")(embeddings.join(s.select(id.as("__sid")),
          col(vecIdCol) === col("__sid"), "left_semi"))
        // graceful degradation when the gate cascade shrinks the embedded
        // survivor set below semK: fit on min(k, survivors) clusters, or
        // skip the stage when nothing embedded survives — a crash here
        // would take a 100 TB run down at its LAST stage. The count is a
        // metadata read on the checkpointed leaf.
        val n = emb.count()
        (if (n == 0L) emb.select(col(vecIdCol).as("id"))
          else {
            val cent = KMeansOps.fit(emb, vecIdCol, vecCol,
              math.min(semK.toLong, n).toInt, SemIters)
            KMeansOps.semDedup(emb, vecIdCol, vecCol, cent, semTau)
              .filter(!col("kept")).select(col("id"))
          }).select(col("id").as("__sem_drop"))
      }),
      // 5. per-source token quota over cleaned token counts
      "over_quota" -> Some((s: DataFrame) => materialize("over_quota")(
        QuotaSample.tokenQuota(s.join(docs.select(id, col(sourceCol)), Seq(idCol)),
            sourceCol, idCol, "cleaned_text", tokenBudget)
          .filter(!col("kept")).select(id.as("__quota_drop"))))))

    assemble(docs.select(id, col(sourceCol)), idCol, gateLeaves ++ textLeaves,
      cleaned, notAdmitted = None, piiRedactOutput, carry = Seq(col(sourceCol)))
  }

  /** The released text of a kept document: identity, or PII-redacted
    * ([[Privacy.redact]] — email → IPv4 → phone, the q62 pattern tier)
    * when the caller opts in. Redaction is an OUTPUT transform only:
    * every stage judges the original text (a masked token must not
    * change dedup/gram statistics), and counts stay pre-redaction. */
  private def outputText(cleaned: Column, piiRedact: Boolean): Column =
    if (piiRedact) Privacy.redact(cleaned) else cleaned

  /** One arm of the incremental perceptual-dup stage, enabled when the
    * caller passes both of its asset relations. */
  private def pairedArm(what: String, history: Option[DataFrame], batch: Option[DataFrame])(
      arm: (DataFrame, DataFrame) => DataFrame => DataFrame): Option[DataFrame => DataFrame] =
    (history, batch) match {
      case (Some(h), Some(b)) => Some(arm(h, b))
      case (None, None) => None
      case _ => sys.error(
        s"incremental $what dedup needs BOTH ${what}DupHistory and ${what}DupBatch")
    }

  /** INCREMENTAL curation — [[curateFull]]'s ingest-time twin: a new
    * crawl batch judged against the ADMITTED corpus, stage by stage with
    * the cross/incremental operator variants (history is immutable —
    * only batch rows are decided):
    *
    *   1. exact-vs-history ([[IncrementalDedup.dedupAgainstHistory]]:
    *      bloom-probe + exact verify — exactly the anti-join),
    *   1.5–1.9. (optional) [[curateFull]]'s gates at ingest grain, batch
    *      docs only: media integrity → `bad_media`, perceptual media dup
    *      against history and smaller-id batch mates → `media_dup`,
    *      language → `wrong_lang`, rules → `rule_filtered`, eval-suite
    *      decontamination → `contaminated`,
    *   2. cross-span CONTAMINATION removal ([[SpanDedup.removeCrossSpans]]:
    *      batch copies of ≥ minSpan verbatim history runs are cut; a
    *      batch doc cleaned to nothing is `empty`),
    *   2.5. (optional, `nbModel`) trained-quality gate against the
    *      snapshot's stored NB model — batch docs scoring below
    *      `minNbScoreU` on their CLEANED text → `low_quality`,
    *   3. cross near-dup on the CLEANED batch text vs history
    *      ([[DedupOps.crossMinhashPairs]]),
    *   4. cross semantic dedup ([[KMeansOps.incrementalSemDedup]] against
    *      centroids fit on — or passed in from — the history snapshot).
    *
    * One row per BATCH document: (id, decision ∈ {exact_dup, bad_media,
    * media_dup, wrong_lang, rule_filtered, contaminated, empty,
    * low_quality, near_dup, sem_dup, kept}, removed_tokens, n_tokens,
    * final_md5).
    * Intra-batch dedup and quotas are deliberately out of scope — run
    * [[curateFull]] over the admitted batch for those; this operator is
    * the contamination gate against history.
    *
    * Snapshot artifacts: `historyBloom` (the q64 lifecycle) and
    * `centroids` (the q101/q103 lifecycle) are per-snapshot builds a
    * deployment loads from [[SnapshotStore]]; None builds them inline.
    * Per-batch cost = batch passes + equi-joins into history relations —
    * never batch × history. Stages run through [[dropChain]] from the
    * checkpointed admitted leaf. */
  def curateIncremental(history: DataFrame, batch: DataFrame,
                        embeddings: DataFrame,
                        idCol: String, textCol: String,
                        vecIdCol: String = "vec_id", vecCol: String = "embedding",
                        nearDupThreshold: Double = 0.9,
                        maxShingleDF: Int = 1000,
                        minSpan: Int = 20,
                        maxGramOccurrences: Int = 1000,
                        semK: Int = 8, semTau: Double = 0.35,
                        historyBloom: Option[Array[Byte]] = None,
                        centroids: Option[Array[Array[Double]]] = None,
                        keepCleanedText: Boolean = false,
                        nbModel: Option[TextOps.NbModel] = None,
                        minNbScoreU: Long = 0L,
                        benchmark: Option[DataFrame] = None,
                        benchmarkEmb: Option[DataFrame] = None,
                        contamNgramK: Int = 13,
                        contamCosTau: Double = 0.4,
                        media: Option[DataFrame] = None,
                        mediaDupHistory: Option[DataFrame] = None,
                        mediaDupBatch: Option[DataFrame] = None,
                        audioDupHistory: Option[DataFrame] = None,
                        audioDupBatch: Option[DataFrame] = None,
                        videoDupHistory: Option[DataFrame] = None,
                        videoDupBatch: Option[DataFrame] = None,
                        video: Option[DataFrame] = None,
                        videoContainer: VideoOps.VideoContainer = VideoOps.GvidContainer,
                        audio: Option[DataFrame] = None,
                        langModel: Option[TextOps.LangNbModel] = None,
                        langAllow: Seq[String] = Seq("en"),
                        ruleParams: Option[QualityFilters.RuleParams] = None,
                        piiRedactOutput: Boolean = false,
                        historyFps: Option[DataFrame] = None): DataFrame = {
    val id = col(idCol)

    // 1. exact vs history (bloom candidates + exact verify = the anti-join).
    //    `historyFps` (one column `fp`) extends the drop set with
    //    PRE-redaction fingerprints of admitted docs whose persisted text
    //    is PII-masked (r19 advice): a re-ingested duplicate of an admitted
    //    PII-bearing doc must still read exact_dup even though the store's
    //    released text no longer equals it. The relation is bounded by the
    //    admitted-history row count (16 B digests, no text), so the join
    //    broadcasts at typical history sizes and shuffles digests, never
    //    documents, beyond that.
    val s1 = materialize("exact_dup") {
      val s1base = IncrementalDedup.dedupAgainstHistory(batch, history, idCol,
        textCol, historyBlob = historyBloom)
      historyFps.fold(s1base) { fps =>
        s1base.join(fps.select(col("fp").as("__hist_ufp")),
          TextOps.fingerprint(col(textCol)) === col("__hist_ufp"), "left_anti")
      }
    }

    // 1.6 incremental perceptual MEDIA dedup under the incremental keep
    //     rule: a batch doc drops as `media_dup` when its asset is a
    //     perceptual duplicate of ANY history asset (history is immutable
    //     — its copy survives) or of a SMALLER-id batch mate's. Per arm:
    //      - image / audio: aHash / envelope hash ([[MediaOps.audioHashes]])
    //        bands, candidates from the banded cross join
    //        ([[DedupOps.simhashCrossPairsFromSigs]] — the history band
    //        relation is snapshot-persistable, so per-batch cost is the
    //        batch's bands only) plus the batch-mate band join,
    //      - video: per-frame hashes through the exact-substring core's
    //        cross twin ([[SpanDedup.crossSpansFromGrams]], k = 1) for
    //        history segments and its self form for batch mates —
    //        ≥ VideoDupMinFrames aligned shared frames drop the batch copy.
    //     Each arm needs BOTH its history and batch sides (checked here,
    //     on the calling thread).
    def hashArm(hashes: DataFrame => DataFrame)(hist: DataFrame, ba: DataFrame)
        (s: DataFrame): DataFrame = {
      def sigs(assets: DataFrame) = hashes(assets).filter(col("ok"))
        .select(col("doc_id").as("doc"), col("ahash").as("sig"))
      val hb = materialize("media_dup")(sigs(inPlay(ba, s, idCol)))
      val hh = sigs(hist.select(col(idCol).as("doc_id"), col("content")))
      val cross = DedupOps.simhashCrossPairsFromSigs(hb, hh, HashDupMaxDist)
        .select(col("doc_a"))
      val mates = DedupOps.simhashPairsFromSigs(hb, HashDupMaxDist)
        .select(col("doc_b").as("doc_a"))
      cross.union(mates).distinct().select(col("doc_a").as("__mdup_drop"))
    }
    val mediaDupStage = armsStage("media_dup", distinctOne = false, Seq(
      pairedArm("media", mediaDupHistory, mediaDupBatch)(
        hashArm(MediaOps.perceptualHashes(_, ImageCodec).toDF())),
      pairedArm("audio", audioDupHistory, audioDupBatch)(
        hashArm(MediaOps.audioHashes(_, AudioCodec).toDF())),
      pairedArm("video", videoDupHistory, videoDupBatch) { (hist, ba) => s =>
        // frame-hash relations: batch hashed ONCE (feeds both the cross
        // and the mate join), history as its own relation — a snapshot-
        // persistable artifact, like the image band relation
        val bg = materialize("media_dup")(
          VideoOps.frameHashes(inPlay(ba, s, idCol), videoContainer, ImageCodec))
        val hg = VideoOps.frameHashes(
          hist.select(col(idCol).as("doc_id"), col("content")),
          videoContainer, ImageCodec)
        val cross = SpanDedup.crossSpansFromGrams(hg, bg, k = 1,
            minSpan = VideoDupMinFrames, maxGramOccurrences = 1000)
          .select(col("right_id").as("doc_a"))
        val mates = SpanDedup.duplicatedSpansFromGrams(bg, k = 1,
            minSpan = VideoDupMinFrames, maxGramOccurrences = 1000)
          .select(col("doc_b").as("doc_a"))
        cross.union(mates).distinct().select(col("doc_a").as("__mdup_drop"))
      }))

    val (gateLeaves, gateSurvivors) = dropChain(s1, id, Seq(
      mediaGateStage(idCol, media, video, videoContainer, audio),
      mediaDupStage,
      langStage(idCol, textCol, langModel, langAllow),
      ruleStage(idCol, textCol, ruleParams),
      contamStage(idCol, textCol, embeddings, vecIdCol, vecCol, benchmark,
        benchmarkEmb, contamNgramK, contamCosTau)))

    // 2. cross-span contamination removal vs history
    val cleaned = materialize("span")(SpanDedup.removeCrossSpans(history,
      gateSurvivors, idCol, textCol, SpanK, minSpan, maxGramOccurrences))

    val (textLeaves, _) = dropChain(cleaned.filter(col("kept_tokens") > 0), id, Seq(
      // 2.5 trained-quality gate against the SNAPSHOT model: `nbModel` is
      //     the per-snapshot artifact ([[TextOps.seedCrawlNbFit]], stored
      //     through [[SnapshotStore]]) — every batch is scored against the
      //     SAME fixed model with an absolute threshold (a per-batch
      //     quantile would admit a different quality floor per batch)
      "low_quality" -> nbModel.map { m => s =>
        materialize("low_quality")(TextOps.nbScore(m,
            widenIfNarrow(s.select(id, col("cleaned_text").as(textCol))),
            idCol, textCol)
          .filter(col("nb_score_u") < minNbScoreU)
          .select(id.as("__quality_drop")))
      },
      // 3. cross near-dup: history's raw text vs the batch's CLEANED text
      //    (both sides under crossMinhashPairs' shared union hot list)
      "near_dup" -> Some((s: DataFrame) => materialize("near_dup")(
        DedupOps.crossMinhashPairs(
            history.select(id, col(textCol)),
            s.select(id, col("cleaned_text").as(textCol)),
            idCol, textCol, ShingleK, nearDupThreshold, maxShingleDF = maxShingleDF)
          .select(col("doc_b").as("__near_drop")).distinct())),
      // 4. cross semantic dedup: batch survivors' embeddings vs the history
      //    snapshot's (centroids fit on history — the stored-artifact side)
      "sem_dup" -> Some((s: DataFrame) => materialize("sem_dup") {
        // two independent embedding slices — materialize concurrently
        val Seq(embHist, embBatch) = parEval(Seq(
          () => materialize("sem_dup")(embeddings.join(history.select(id.as("__hid")),
            col(vecIdCol) === col("__hid"), "left_semi")),
          () => materialize("sem_dup")(embeddings.join(s.select(id.as("__sid")),
            col(vecIdCol) === col("__sid"), "left_semi"))))
        // inline-fit clamp: same graceful degradation as curateFull's
        // semantic stage — a small admitted history must not crash the
        // ingest gate. A provided snapshot artifact skips the count.
        val cent = centroids.getOrElse {
          val nHist = embHist.count()
          if (nHist == 0L) Array.empty[Array[Double]]
          else KMeansOps.fit(embHist, vecIdCol, vecCol,
            math.min(semK.toLong, nHist).toInt, SemIters)
        }
        // empty history (no centroids, nothing admitted yet) => nothing to
        // dup against: the drop set is EMPTY, every batch vector survives
        (if (cent.isEmpty) embBatch.limit(0).select(col(vecIdCol).as("id"))
          else KMeansOps.incrementalSemDedup(embHist, embBatch,
              vecIdCol, vecCol, cent, semTau)
            .filter(!col("kept")).select(col("id")))
          .select(col("id").as("__sem_drop"))
      })))

    // assembly over the batch: a batch doc without an admitted (s1) row is
    // `exact_dup`. `keepCleanedText` adds the survivor text itself (kept
    // rows only) — what an ingest sink APPENDS to the corpus store
    // ([[graft.streaming.StreamingDedup.curateSink]]); the q115 oracle
    // shape carries only its md5. The text columns are a PROJECTION of
    // the assembly, not a self-join, which would execute the assembly
    // subtree once per side — per TRIGGER in the streaming sink.
    // Under redaction the released text is masked, so the kept slice also
    // carries `unredacted_fp` — the fingerprint of the PRE-redaction
    // cleaned text — which a store feeds back as `historyFps` so
    // cross-batch exact dedup stays mask-invariant.
    val kept = col("decision") === "kept"
    val extra =
      if (!keepCleanedText) Nil
      else if (piiRedactOutput)
        Seq(when(kept, outputText(col("cleaned_text"), piiRedactOutput)).as("cleaned_text"),
          when(kept, TextOps.fingerprint(col("cleaned_text"))).as("unredacted_fp"))
      else Seq(when(kept, col("cleaned_text")).as("cleaned_text"))
    assemble(batch.select(id).join(s1.select(id.as("__adm")), id === col("__adm"), "left"),
      idCol, gateLeaves ++ textLeaves, cleaned, notAdmitted = Some(col("__adm").isNull),
      piiRedactOutput, carry = Nil, extra = extra)
  }
}
