package graft.ext

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The end-to-end LLM training-corpus preparation pipeline, composed from
  * the individually oracle-verified operators: exact + near-dup
  * deduplication (Dedup), eval-set exclusion + n-gram decontamination
  * (TextAnalysis semantics), marker-based language ID, quality filtering,
  * and the deterministic md5-bucket train/val/test split — rolled up to
  * the per-(split, language) corpus composition a training run consumes.
  *
  * This is the artifact the extension surface exists for: one call from
  * raw documents to "what lands in each split after cleaning", with every
  * stage's semantics pinned bitwise by the composed DuckDB oracle.
  *
  * Scale shape: dedup is the star-contraction + hash-groupBy path
  * (Dedup's scale notes apply unchanged); language ID joins a 9-row
  * broadcast marker table; quality is a narrow map; decontamination joins
  * the distributed eval vocabulary (AQE broadcasts while genuinely
  * small); the split is a stateless hash of the doc id. Nothing here
  * shuffles document text except the dedup stages, which shuffle hashes
  * and two-long edges. Thresholds (quality ≥ 0.4, contamination ≤ 0.2)
  * are the tunable policy knobs a real pipeline exposes.
  */
object CorpusPrep {

  /** Marker-based language ID per document (argmax, deterministic
    * tie-break, 'und' when no marker matches). The marker table is
    * TextAnalysis.markers — shared, not copied.
    */
  private def predLang(spark: SparkSession, docs: DataFrame): DataFrame = {
    // widen (r19): the lower+split+explode map is the chain's CPU and
    // runs in the scan's stage — 1–2 tasks on a single-split corpus.
    // The slim doc_id spine below stays on the unwidened scan.
    val toks = Tables.widen(docs).select(col("doc_id"),
      explode(split(TextAnalysis.lowerS(col("text")), " ")).as("tok"))
    val markers = spark.createDataFrame(TextAnalysis.markers).toDF("tok", "cand_lang")
    val w = Window.partitionBy(col("doc_id")).orderBy(desc("n"), col("cand_lang"))
    docs.select("doc_id")
      .join(toks.join(broadcast(markers), Seq("tok"))
        .groupBy("doc_id", "cand_lang").agg(count(lit(1)).as("n"))
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("doc_id"), col("cand_lang")), Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("cand_lang"), lit("und")).as("pred_lang"))
  }

  /** Per-doc eval-overlap contamination (same shape as
    * xTextContamination); docs with fewer than 3 tokens are absent —
    * callers left-join and coalesce to 0 (clean).
    */
  private def contamination(docs: DataFrame): DataFrame = {
    // widen (r19): the gram explode is this chain's CPU (see predLang).
    val grams = Tables.widen(docs)
      .withColumn("ws", split(TextAnalysis.lowerS(col("text")), " "))
      .select(col("doc_id"), col("source"), explode(
        when(size(col("ws")) >= 3,
          expr("transform(sequence(0, size(ws) - 3), i -> concat_ws(' ', ws[i], ws[i+1], ws[i+2]))"))
          .otherwise(array().cast("array<string>"))).as("gram"))
      .distinct()
    val evalVocab = grams.filter(col("source") === "src0")
      .select("gram").distinct().withColumn("hit", lit(1))
    grams.filter(col("source") =!= "src0")
      .join(evalVocab, Seq("gram"), "left")
      .groupBy("doc_id")
      .agg(round(count(col("hit")) / count(lit(1)), 4).as("contamination"))
  }

  /** The per-document cleaned corpus with its split assignment — one row
    * per surviving document: exact + near-dup dedup, eval source (src0)
    * excluded, language/quality/contamination policy filters, md5-bucket
    * split (TextAnalysis.md5Bucket — shared, not copied). xLlmCorpusPrep
    * rolls this up; Pipeline materializes it partitioned by split.
    * `precomputedLabels` lets a caller that already ran the near-dup
    * clustering (Pipeline.run does, for clean_documents_neardup) reuse
    * those labels instead of re-running the shingle self-join and the
    * star-contraction loop — the pipeline's most expensive stage.
    */
  /** The three per-doc METRIC relations every prep-policy chain joins
    * (language ID, quality, eval-overlap contamination) — exposed as
    * one triple so a caller that composes SEVERAL policy chains over
    * the same corpus (the frozen-shelf build: diff-group v1 + v2 and
    * the span group each run trainingCorpus — the r17 attribution's
    * dominant cost) computes them ONCE (localCheckpoint) and passes
    * them through, the precomputedLabels discipline. The default arm
    * joins exactly these relations in exactly the same tree, so
    * passing the triple changes nothing but the pass count (parity
    * spec-pinned row-for-row).
    */
  private[graft] def prepDocMetrics(spark: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame) = {
    val docs = Tables.documents(spark, dir)
    (predLang(spark, docs), TextAnalysis.qualityScores(docs),
      contamination(docs))
  }

  def trainingCorpus(spark: SparkSession, dir: String,
      precomputedLabels: Option[DataFrame] = None,
      keepBest: Boolean = false,
      precomputedMetrics: Option[(DataFrame, DataFrame, DataFrame)] = None)
      : DataFrame = {
    val docs = Tables.documents(spark, dir)
    val labels = precomputedLabels.getOrElse(Dedup.nearDupLabels(spark, dir))
    val (lang, qual0, cont) = precomputedMetrics.getOrElse(
      prepDocMetrics(spark, dir))
    // r18: the keep-best retention reads the quality relation a second
    // time (the cluster argmax) next to the policy filter's copy below.
    // Persist once for that arm (callers passing precomputedMetrics
    // already persisted theirs) and feed BOTH consumers — identical
    // construction either way (guide §2.4); min-id arms are untouched.
    val qual =
      if (keepBest && precomputedMetrics.isEmpty) qual0.persist()
      else qual0
    val splitBucket = TextAnalysis.md5Bucket(100)
    val deduped =
      if (keepBest) Dedup.dedupCorpusKeepBest(docs, labels, Some(qual))
      else Dedup.dedupCorpusNearDup(docs, labels)
    deduped
      .filter(col("source") =!= "src0")
      .join(lang, Seq("doc_id"))
      .join(qual, Seq("doc_id"))
      .join(cont, Seq("doc_id"), "left")
      .withColumn("contamination", coalesce(col("contamination"), lit(0.0)))
      .filter(col("pred_lang") =!= "und"
        && col("quality_score") >= 0.4 && col("contamination") <= 0.2)
      .withColumn("split",
        when(splitBucket < 80, "train").when(splitBucket < 90, "val").otherwise("test"))
  }

  private def prepRollup(perDoc: DataFrame): DataFrame =
    perDoc
      .groupBy(col("split"), col("pred_lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).cast("long").as("total_chars"),
        min(col("quality_score")).as("min_quality"),
        max(col("quality_score")).as("max_quality"))
      .orderBy("split", "pred_lang")

  def xLlmCorpusPrep(spark: SparkSession, dir: String): DataFrame =
    prepRollup(trainingCorpus(spark, dir))

  /** The text prep pipeline with the Lee et al. 2022 ("Deduplicating
    * Training Data Makes Language Models Better") SUBSTRING-dedup stage
    * composed in: documents sharing a long contiguous region (≥ 8 winnow
    * fingerprints ≈ 70+ normalized chars — the gated x_text_winnow_pairs
    * operator, reused verbatim) drop the higher doc_id, on top of the
    * exact + bag-overlap near-dup stages trainingCorpus already runs.
    * That is the paper's position for substring dedup: a separate pass
    * next to document-level dedup, catching boilerplate/quote reuse that
    * bag-of-grams Jaccard misses. POLICY: a training doc loses only to a
    * NON-EVAL keeper — pairs whose lower-id side is the src0 eval set
    * don't produce drops, because otherwise whether a training doc
    * sharing eval boilerplate survives would depend on its id relative
    * to the eval doc's (an id-order accident, not policy); eval overlap
    * is the DECONTAMINATION stage's job, and it already filters these
    * docs by gram-overlap fraction. Verdicts are otherwise corpus-wide
    * (the standalone operator's semantics) and applied as one anti-join
    * on 8-byte ids; the winnow scan is the codegen'd expression, so the
    * added stage is one fingerprint pass + a df-bounded self-join, the
    * already-probed x_text_winnow_pairs shape.
    */
  def xLlmCorpusPrepWinnow(spark: SparkSession, dir: String): DataFrame =
    prepRollup(trainingCorpus(spark, dir)
      .join(winnowSubLosers(spark, dir), Seq("doc_id"), "left_anti"))

  /** The substring-dedup drop set the winnow-composed arms share: pairs
    * from the gated x_text_winnow_pairs chain whose keeper (lower id)
    * is a non-eval doc, per the eval-keeper no-drop policy above.
    */
  /** `pairs` (r18): a caller that consumes the winnow pair relation in
    * MORE than one stage (the screen arm and the audit feed it to both
    * the substring-dup verdicts and the boilerplate-hub centrality
    * chain) passes one checkpointed copy; the default derives exactly
    * the historical chain (the precomputedLabels discipline).
    */
  private def winnowSubLosers(spark: SparkSession, dir: String,
      pairs: Option[DataFrame] = None): DataFrame = {
    val nonEvalKeepers = Tables.documents(spark, dir)
      .filter(col("source") =!= "src0")
      .select(col("doc_id").as("doc_a"))
    pairs.getOrElse(TextAnalysis.xTextWinnowPairs(spark, dir))
      .join(nonEvalKeepers, Seq("doc_a"))
      .select(col("doc_b").as("doc_id")).distinct()
  }

  /** The text prep with the SPAN-DOMINATED cut composed in — the Lee
    * et al. span dedup consumed as a document-level retention policy:
    * a doc whose majority content is non-first-occurrence 32-token
    * spans (2 · n_removed > n_spans under the gated
    * x_dedup_span_remove verdicts) is dropped. This catches the one
    * failure mode EVERY pair-based stage in the family is
    * structurally blind to: a SELF-repetitive doc (the Gopher
    * repetition pathology) repeats its own spans, pairs with nobody —
    * no winnow pair, no bag-Jaccard edge, no centrality vote — and
    * sails through FULL; here its own within-doc repeats convict it
    * (planted spec pins the disagreement). POLICY: verdicts are
    * computed over NON-EVAL docs only (the winnow stage's eval-keeper
    * rule) — an eval doc can neither own a span (a training doc must
    * not die to eval boilerplate by id accident; eval overlap is
    * decontamination's job) nor be cut. The added cost is the
    * already-probed x_dedup_span_remove shape minus its
    * reconstruction join (the verdicts chain is the slim hash
    * relation), applied as one anti-join on 8-byte ids.
    */
  def xLlmCorpusPrepSpans(spark: SparkSession, dir: String): DataFrame =
    prepRollup(spansCorpus(spark, dir))

  /** `verdicts` (r16) lets a caller that ALREADY holds the shared
    * spanKeepVerdicts relation pass it in instead of re-deriving it —
    * the shelf's span group builds members AND the per-doc verdict
    * artifact from ONE checkpointed verdicts pass; the default derives
    * exactly what it always did (one construction, two entry points).
    */
  private[graft] def spansCorpus(spark: SparkSession, dir: String,
      verdicts: Option[DataFrame] = None,
      precomputedLabels: Option[DataFrame] = None,
      precomputedMetrics: Option[(DataFrame, DataFrame, DataFrame)] = None)
      : DataFrame =
    trainingCorpus(spark, dir, precomputedLabels,
        precomputedMetrics = precomputedMetrics)
      .join(spanDominatedLosers(spark, dir, verdicts),
        Seq("doc_id"), "left_anti")

  /** The span-dominated drop set: majority-duplicated docs under the
    * shared spanKeepVerdicts window over the non-eval corpus.
    */
  private def spanDominatedLosers(spark: SparkSession,
      dir: String, verdicts: Option[DataFrame] = None): DataFrame =
    verdicts.getOrElse(
        Dedup.spanKeepVerdicts(Tables.documents(spark, dir)
          .filter(col("source") =!= "src0")))
      .filter(col("n_removed") * lit(2L) > col("n_spans"))
      .select("doc_id")

  /** The text prep pipeline with the DSIR selection stage (Xie et al.
    * 2023) composed in at its pipeline position — after cleaning,
    * before the split rollup: only documents inside the corpus-wide
    * top-N importance cut survive. POLICY: the weights and the cut are
    * the GATED standalone x_dsir_select's, computed over the full
    * corpus (the paper scores the raw pool; a cut computed post-cleaning
    * would make each doc's selection depend on which OTHER docs the
    * dedup stages dropped — id-order accidents, the winnow-stage
    * anti-lesson), and the prep keeps the intersection: clean AND
    * selected. The added cost is the already-probed x_dsir_select shape
    * (two (token, count) aggregates + a broadcast threshold) plus one
    * semi-join on 8-byte ids.
    */
  def xLlmCorpusPrepDsir(spark: SparkSession, dir: String): DataFrame = {
    val sel = Selection.xDsirSelect(spark, dir)
      .filter(col("selected") === 1L).select("doc_id")
    prepRollup(trainingCorpus(spark, dir).join(sel, Seq("doc_id"), "left_semi"))
  }

  /** The text prep pipeline with the near-dup retention policy swapped
    * to quality-aware keep-best: each cluster retains its quality argmax
    * (the gated x_dedup_keep_best verdicts, reused verbatim via
    * Dedup.keepBestVerdicts — never a re-derivation) instead of its
    * lowest id. POLICY: verdicts are the standalone operator's
    * corpus-wide semantics, exactly as the lowest-id arm applies its
    * corpus-wide labels — a cluster whose argmax happens to be an eval
    * doc loses its training members to dedup either way (eval overlap
    * is the decontamination stage's axis, not retention's). Cost vs the
    * flagship: one per-doc quality join + a cluster-partitioned window
    * over CLUSTERED docs only — the gated operator's own probed shape.
    */
  def xLlmCorpusPrepKeepBest(spark: SparkSession, dir: String): DataFrame =
    prepRollup(trainingCorpus(spark, dir, keepBest = true))

  /** The PRODUCTION pipeline — all three gated policy swaps composed at
    * once: quality-aware keep-best retention for near-dup clusters,
    * the Lee-et-al. substring-dedup pass, and the DSIR selection cut.
    * POLICY: the three stages are INDEPENDENT corpus-wide verdicts by
    * construction — keep-best reads the near-dup clusters, the winnow
    * drop set reads the fingerprint pairs, the DSIR cut reads the raw
    * pool — so composing them is a pure intersection (anti-join the
    * substring losers, semi-join the selected ids, swap the retention
    * argmax), with NO stage's verdict depending on another stage's
    * drops. That ordering-independence is the argued design of each
    * single-stage arm (the winnow anti-lesson, the DSIR raw-pool
    * position), and it is what makes the full pipeline auditable: every
    * drop traces to exactly one gated operator's verdict. Cost is the
    * sum of the three probed stage shapes over the shared llm chain —
    * each adds only 8-byte id joins to the flagship plan.
    */
  def xLlmCorpusPrepFull(spark: SparkSession, dir: String): DataFrame =
    prepRollup(fullCorpus(spark, dir))

  /** The FULL arm's per-document survivor relation (the rollup above is
    * the gate; this is what the screen arm composes over and what the
    * planted disagreement specs inspect doc-by-doc).
    */
  private[graft] def fullCorpus(spark: SparkSession, dir: String,
      precomputedLabels: Option[DataFrame] = None,
      precomputedMetrics: Option[(DataFrame, DataFrame, DataFrame)] = None,
      winnowPairs: Option[DataFrame] = None): DataFrame = {
    val sel = Selection.xDsirSelect(spark, dir)
      .filter(col("selected") === 1L).select("doc_id")
    trainingCorpus(spark, dir, precomputedLabels, keepBest = true,
        precomputedMetrics = precomputedMetrics)
      .join(winnowSubLosers(spark, dir, winnowPairs), Seq("doc_id"), "left_anti")
      .join(sel, Seq("doc_id"), "left_semi")
  }

  /** The production pipeline with the BOILERPLATE SCREEN composed at
    * the winnow position — the FULL arm plus the one drop class its
    * three stages are structurally blind to: template floods. The
    * winnow stage's pair join carries the df ∈ [2, 50] cutoff (the
    * blowup guard), so a fingerprint shared by hundreds of template
    * copies falls OUT of the pair join and the flood survives FULL;
    * the screen's frozen hub index (the selectN most-central docs'
    * prints, deliberately df-uncut — TextAnalysis.xTextBoilerplateScreen's
    * design) catches exactly that class. POLICY: flagged hubs AND
    * their screened satellites are dropped — a hub IS the template
    * (the inverted centrality reading), and a satellite sharing ≥ the
    * winnow threshold of prints with it is the same boilerplate
    * reprinted. Verdicts stay corpus-wide and independent (the FULL
    * arm's auditability argument); the stage adds one fingerprint
    * pass + a broadcast-sized hub join + two 8-byte id anti-joins to
    * the flagship plan.
    */
  def xLlmCorpusPrepScreen(spark: SparkSession, dir: String): DataFrame =
    prepRollup(screenedCorpus(spark, dir))

  /** The screen arm's per-document survivor relation: FULL minus the
    * hub/satellite drop set.
    */
  private[graft] def screenedCorpus(spark: SparkSession,
      dir: String): DataFrame = {
    // r18: the winnow pair chain (fingerprint explode + df cutoff +
    // fp self-join) previously ran TWICE here — once as the FULL arm's
    // substring-dup stage and once under the screen's centrality chain
    // (xTextGraphPagerank edges are the same gated pair relation). One
    // persisted pass feeds both (guide §2.4; lazy — the pagerank loop's
    // own eager edge checkpoint is the first materializer); the slim
    // (doc_a, doc_b, n_shared) relation is the only thing cached.
    val winnowPairs =
      Some(TextAnalysis.xTextWinnowPairs(spark, dir).persist())
    fullCorpus(spark, dir, winnowPairs = winnowPairs)
      .join(screenLosers(spark, dir, winnowPairs), Seq("doc_id"), "left_anti")
  }

  /** The screen-stage drop set: flagged centrality hubs plus every
    * satellite the screen flags against them. Hubs are the gated
    * selectN cut RESTRICTED to real centrality (score above the
    * damped dangling base, Similarity.pagerankBaseE9): the cut always
    * returns N rows, padding with base-score ties when fewer than N
    * documents have any incoming vote, and a padding "hub" is an
    * arbitrary low-id doc — flaggable, but never a DROP. The index
    * and the screen body are the gated operators' own code
    * (hubFingerprints / boilerplateScreen — one implementation, the
    * bpeTrain single-loop rule).
    */
  private def screenLosers(spark: SparkSession, dir: String,
      winnowPairs: Option[DataFrame] = None): DataFrame = {
    val hubs = TextAnalysis.xTextGraphPagerankSelect(spark, dir,
        pairsOverride = winnowPairs)
      .filter(col("selected") === 1L &&
        col("score_e9") > Similarity.pagerankBaseE9)
      .select("doc_id")
    val docs = graft.Tables.documents(spark, dir)
    val hubFps = TextAnalysis.hubFingerprints(docs, hubs)
    hubs.unionByName(
        TextAnalysis.boilerplateScreen(docs, hubFps).select("doc_id"))
      .distinct()
  }

  /** Per-stage DROP-ATTRIBUTION AUDIT of the screened production
    * pipeline — the FULL/SCREEN arms' auditability argument ("every
    * drop traces to exactly one gated operator") promoted to a
    * first-class relation: every document in the RAW pool is attributed
    * to the FIRST stage that drops it, in the screen arm's composition
    * order (exact dedup → keep-best near-dup retention → eval-source
    * exclusion → language → quality → contamination → substring dedup →
    * DSIR selection → boilerplate screen), and the funnel rolls up to
    * per-stage drop counts. This is the production "why did my corpus
    * shrink 40%?" debugging surface — at 100 TB you cannot re-run the
    * pipeline per question, so the attribution ships WITH the corpus
    * (next to the data-card manifest). Because the stages are
    * independent corpus-wide verdicts (the FULL arm's design), the
    * attribution is pure CASE priority over the gated operators' OWN
    * shared verdict constructions (dedupCorpus / keepBestVerdicts /
    * winnowSubLosers / xDsirSelect / screenLosers — never
    * re-derivations), so the 'kept' row equals the screen arm's
    * survivor set BY CONSTRUCTION, and the spec pins it doc-for-doc.
    * Cost: the screen arm's audit shape plus id-keyed flag joins —
    * every join ships 8-byte ids, the text is read only by the stages
    * themselves.
    */
  def xLlmCorpusPrepAudit(spark: SparkSession, dir: String): DataFrame =
    auditRollup(auditCorpus(spark, dir))

  private[graft] def auditRollup(per: DataFrame): DataFrame =
    per.groupBy(col("stage_ord"), col("stage"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy("stage_ord")

  private[graft] val auditStages: Seq[String] = Seq(
    "exact_dup", "near_dup", "eval_source", "lang", "quality",
    "contamination", "substring_dup", "dsir", "boilerplate", "kept")

  /** The names of the slim per-stage verdict relations the DEPLOYED
    * attribution arm persists (Pipeline.materializePrepVerdicts) and
    * [[auditFromArtifacts]] reads back — id sets plus one per-doc score
    * row, never text.
    */
  private[graft] val prepVerdictNames: Seq[String] = Seq(
    "verd_doc_scores", "verd_exact_keep", "verd_near_lose",
    "verd_winnow_lose", "verd_dsir_sel", "verd_screen_lose")

  /** The slim per-stage verdict relations, built from the gated stages'
    * OWN shared constructions — ONE construction behind the live audit
    * (auditCorpus) and the persisted deployed arm (the
    * corpusMixBpeFrozen precedent): at 100 TB the Pipeline persists
    * these during the build, and every later "why did my corpus
    * shrink?" question is [[auditFromArtifacts]]'s id-join tail over
    * them — no chain re-runs. Every relation is 8-byte ids (plus the
    * one per-doc score row): the corpus text never rides along.
    */
  private[graft] def prepVerdictRelations(spark: SparkSession,
      dir: String): Seq[(String, DataFrame)] = {
    val docs = Tables.documents(spark, dir)
    val labels = Dedup.nearDupLabels(spark, dir)
    // r18 (guide §2.4): two chains previously executed twice across the
    // verdict relations — the winnow pair chain (substring-dup AND the
    // screen's centrality edges) and the quality relation (doc-score
    // row AND the keep-best argmax). One persisted pass each (lazy —
    // no serialized checkpoint jobs ahead of the consumers); the
    // default arms of the consumers derive byte-identical trees, so
    // every verdict row is unchanged (the parity specs pin this).
    val winnowPairs =
      Some(TextAnalysis.xTextWinnowPairs(spark, dir).persist())
    val qual = TextAnalysis.qualityScores(docs).persist()
    Seq(
      "verd_doc_scores" -> docs.select(col("doc_id"), col("source"))
        .join(predLang(spark, docs), Seq("doc_id"))
        .join(qual, Seq("doc_id"))
        .join(contamination(docs), Seq("doc_id"), "left")
        .withColumn("contamination", coalesce(col("contamination"), lit(0.0))),
      "verd_exact_keep" -> Dedup.dedupCorpus(docs).select("doc_id"),
      "verd_near_lose" -> Dedup.keepBestVerdicts(docs, labels, Some(qual))
        .filter(col("kept") === 0L).select("doc_id"),
      "verd_winnow_lose" -> winnowSubLosers(spark, dir, winnowPairs)
        .select("doc_id"),
      "verd_dsir_sel" -> Selection.xDsirSelect(spark, dir)
        .filter(col("selected") === 1L).select("doc_id"),
      "verd_screen_lose" -> screenLosers(spark, dir, winnowPairs)
        .select("doc_id"))
  }

  /** The attribution TAIL — the id-joins + first-drop CASE over the
    * verdict relations, shared verbatim by the live audit and the
    * artifact-backed deployed arm (the bpeTrain single-loop rule: one
    * tail, two relation sources).
    */
  private def auditAttributionTail(rel: Map[String, DataFrame]): DataFrame = {
    def flag(ids: DataFrame, name: String): DataFrame =
      ids.select("doc_id").distinct().withColumn(name, lit(1))
    rel("verd_doc_scores")
      .join(flag(rel("verd_exact_keep"), "f_exact_keep"), Seq("doc_id"), "left")
      .join(flag(rel("verd_near_lose"), "f_near_lose"), Seq("doc_id"), "left")
      .join(flag(rel("verd_winnow_lose"), "f_winnow"), Seq("doc_id"), "left")
      .join(flag(rel("verd_dsir_sel"), "f_dsir_sel"), Seq("doc_id"), "left")
      .join(flag(rel("verd_screen_lose"), "f_screen"), Seq("doc_id"), "left")
      .withColumn("stage_ord",
        when(col("f_exact_keep").isNull, lit(0L))
          .when(col("f_near_lose") === 1, lit(1L))
          .when(col("source") === "src0", lit(2L))
          .when(col("pred_lang") === "und", lit(3L))
          .when(col("quality_score") < 0.4, lit(4L))
          .when(col("contamination") > 0.2, lit(5L))
          .when(col("f_winnow") === 1, lit(6L))
          .when(col("f_dsir_sel").isNull, lit(7L))
          .when(col("f_screen") === 1, lit(8L))
          .otherwise(lit(9L)))
      .withColumn("stage",
        element_at(typedlit(auditStages), col("stage_ord").cast("int") + 1))
  }

  /** The per-document attribution relation behind the audit rollup
    * (the spec inspects it doc-by-doc against screenedCorpus). */
  private[graft] def auditCorpus(spark: SparkSession, dir: String): DataFrame =
    auditAttributionTail(prepVerdictRelations(spark, dir).toMap)

  /** The DEPLOYED attribution arm: the same tail over the PERSISTED
    * verdict relations (Pipeline.materializePrepVerdicts's layout) —
    * the production answer to "why did my corpus shrink?": the chains
    * ran once at build time; attribution later is id-joins over slim
    * parquet, sub-second at any corpus scale. Parity-spec'd doc-for-doc
    * against [[auditCorpus]]. Loads go through the STAMPED reader
    * (ArtifactShelf.table verifies count + fingerprint against the
    * build stamp materializePrepVerdicts wrote), so a verdict dir with
    * one relation refreshed against a newer corpus fails loudly here
    * instead of attributing against skewed verdicts.
    */
  def auditFromArtifacts(spark: SparkSession, verdDir: String): DataFrame =
    auditAttributionTail(prepVerdictNames.map(n =>
      n -> graft.ArtifactShelf.table(spark, verdDir, n)).toMap)

  /** Corpus VERSION DIFF — the data-versioning surface a production
    * corpus registry publishes when a pipeline policy changes: v1 = the
    * flagship policy's survivor set (min-id near-dup retention, no
    * substring/DSIR stages — trainingCorpus), v2 = the production FULL
    * policy's (keep-best retention + substring dedup + DSIR selection).
    * One full-outer join on 8-byte ids: docs only in v1 are 'removed'
    * by the upgrade, only in v2 'added' (keep-best retains a different
    * cluster member than min-id — a doc the old corpus never had),
    * both 'unchanged'. At 100 TB this runs over the two PERSISTED
    * survivor-id relations (the Pipeline artifacts), not by recomputing
    * the chains as the audit-shaped gate here does — the diff itself is
    * one id-keyed join either way.
    */
  def xCorpusDiff(spark: SparkSession, dir: String): DataFrame = {
    // r18: v1 and v2 previously each derived the near-dup label chain
    // (the shingle self-join + star contraction — the family's heaviest
    // stage) and the per-doc metric triple from scratch; both chains ran
    // TWICE per invocation. Compute each once and pass through the
    // default-identical precomputed params (the Pipeline diff-group /
    // r17 labels discipline; guide §2.4 — remove repeated subtrees
    // outright). The label chain's own checkpoint is per-invocation:
    // every run still computes from the parquet inputs, nothing
    // crosses runs.
    val labels = Some(Dedup.nearDupLabels(spark, dir))
    val (lang, qual, cont) = prepDocMetrics(spark, dir)
    // persist, not localCheckpoint: lazy, so the shared subtrees still
    // execute inside the one final job (no serialized materialization
    // stalls — measured +10% wall at sf0.1 with eager checkpoints) and
    // each computes once for both consumers (the embPrepCleanStage
    // persist precedent). All three are slim per-doc metric rows.
    val metrics = Some((lang.persist(), qual.persist(), cont.persist()))
    val v1 = trainingCorpus(spark, dir, labels, precomputedMetrics = metrics)
      .select(col("doc_id").as("v1_id"))
    val v2 = fullCorpus(spark, dir, labels, metrics)
      .select(col("doc_id").as("v2_id"))
    v1.join(v2, col("v1_id") === col("v2_id"), "full_outer")
      .select(coalesce(col("v1_id"), col("v2_id")).as("doc_id"),
        diffStatus(col("v1_id").isNotNull, col("v2_id").isNotNull)
          .as("status"))
      .orderBy("doc_id")
  }

  /** The version-diff status semantics — ONE builder (the driftBetween
    * idiom) behind the batch gate above and the streaming increment
    * surface (StreamOps.diffDocsIncrement): membership in v1/v2 → the
    * x_corpus_diff status vocabulary. Callers guarantee at least one
    * side holds (the batch full-outer join by construction; the
    * streaming surface filters neither-side rows).
    */
  private[graft] def diffStatus(inV1: Column, inV2: Column): Column =
    when(!inV2, "removed")
      .when(!inV1, "added")
      .otherwise("unchanged")

  /** The DEPLOYED batch diff arm: the diffStatus tail over the TWO
    * PERSISTED membership relations the shelf's diff group writes
    * (`art_corpus_v1_members` / `art_corpus_v2_members`) — the
    * auditFromArtifacts idiom applied to the version diff. The gated
    * x_corpus_diff recomputes both policy chains per invocation (the
    * heaviest sweep key — it is the AUDIT shape); a production registry
    * diffing two shipped corpus versions runs THIS: one full-outer join
    * on 8-byte ids over stamped slim parquet, flat at any corpus scale.
    * Parity-spec'd row-for-row against the gated arm.
    */
  def diffFromArtifacts(spark: SparkSession, shelfDir: String): DataFrame = {
    val v1 = graft.ArtifactShelf.table(spark, shelfDir, "art_corpus_v1_members")
      .select(col("doc_id").as("v1_id"))
    val v2 = graft.ArtifactShelf.table(spark, shelfDir, "art_corpus_v2_members")
      .select(col("doc_id").as("v2_id"))
    v1.join(v2, col("v1_id") === col("v2_id"), "full_outer")
      .select(coalesce(col("v1_id"), col("v2_id")).as("doc_id"),
        diffStatus(col("v1_id").isNotNull, col("v2_id").isNotNull)
          .as("status"))
      .orderBy("doc_id")
  }

  /** CONTENT diff — the diff family's second member (x_corpus_diff
    * reports the MEMBERSHIP delta of a policy upgrade; this reports
    * what the cleaning transform did to the published artifact): the
    * raw non-eval pool vs the span-cleaned corpus artifact
    * (clean_documents_spans' relation — the spans-arm keep set with
    * reconstructed text). Per doc: 'removed' (not in the artifact —
    * a prep filter or the span-majority cut dropped it), 'modified'
    * (kept, but the span stage removed at least one duplicated span —
    * its published text differs from its ingested text), 'unchanged'.
    * Verdicts come from the gated spanKeepVerdicts construction, so
    * 'modified' is the operator's own n_removed > 0, not a text
    * re-compare. One id-keyed left join per status source.
    */
  def xCorpusDiffContent(spark: SparkSession, dir: String): DataFrame = {
    val nonEval = Tables.documents(spark, dir)
      .filter(col("source") =!= "src0")
    // r18: the span verdict window (the content diff's heaviest stage)
    // previously ran twice — once inside spansCorpus's span-majority cut
    // and once as the tail's 'modified' source. ONE persisted pass
    // feeds both (the shelf span-group idiom, Pipeline.shelfGroup;
    // guide §2.4; persist not localCheckpoint — lazy, so nothing
    // serializes ahead of the final job); spansCorpus's verdicts param
    // defaults to exactly this construction, so rows are identical.
    val verdicts = Dedup.spanKeepVerdicts(nonEval).persist()
    contentDiffTail(nonEval,
      spansCorpus(spark, dir, Some(verdicts)),
      verdicts)
  }

  /** The content-diff 3-status tail — ONE builder (the diffStatus rule)
    * behind the gated audit shape above and the artifact-backed
    * deployed arm below: raw pool left-joined to the published
    * artifact's membership and the span stage's per-doc removal
    * verdicts. Callers pass relations carrying `doc_id` (+ `n_removed`
    * on the verdict side); only those columns are consumed.
    */
  private def contentDiffTail(pool: DataFrame, kept: DataFrame,
      verdicts: DataFrame): DataFrame =
    pool.select("doc_id")
      .join(kept.select(col("doc_id")).withColumn("f_kept", lit(1)),
        Seq("doc_id"), "left")
      .join(verdicts.select(col("doc_id"), col("n_removed")),
        Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("f_kept").isNull, "removed")
          .when(coalesce(col("n_removed"), lit(0L)) > 0L, "modified")
          .otherwise("unchanged").as("status"))
      .orderBy("doc_id")

  /** The DEPLOYED content-diff arm (r16 — the membership diff's r15
    * treatment applied to the transform diff): the contentDiffTail over
    * the raw pool plus the span group's two PERSISTED slim relations
    * (`art_span_members` — the span-clean corpus artifact's keep set;
    * `art_span_verdicts` — the per-doc n_removed the span stage already
    * computed at build time). The gated x_corpus_diff_content recomputes
    * the whole span-clean chain per invocation (the audit shape — r14
    * isolated band 8.7 s / 52 CPU-s); a production registry answering
    * "what did the cleaning transform do to the shipped artifact?" runs
    * THIS: two id-keyed joins over stamped 8/16-byte-row parquet, flat
    * at any corpus scale. Parity-spec'd row-for-row against the gated
    * arm.
    */
  def contentDiffFromArtifacts(spark: SparkSession, dir: String,
      shelfDir: String): DataFrame =
    contentDiffTail(
      Tables.documents(spark, dir).filter(col("source") =!= "src0"),
      graft.ArtifactShelf.table(spark, shelfDir, "art_span_members"),
      graft.ArtifactShelf.table(spark, shelfDir, "art_span_verdicts"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "x_llm_corpus_prep" -> (xLlmCorpusPrep _),
    "x_llm_corpus_prep_winnow" -> (xLlmCorpusPrepWinnow _),
    "x_llm_corpus_prep_spans" -> (xLlmCorpusPrepSpans _),
    "x_llm_corpus_prep_dsir" -> (xLlmCorpusPrepDsir _),
    "x_llm_corpus_prep_keepbest" -> (xLlmCorpusPrepKeepBest _),
    "x_llm_corpus_prep_full" -> (xLlmCorpusPrepFull _),
    "x_llm_corpus_prep_screen" -> (xLlmCorpusPrepScreen _),
    "x_llm_corpus_prep_audit" -> (xLlmCorpusPrepAudit _),
    "x_corpus_diff" -> (xCorpusDiff _),
    "x_corpus_diff_content" -> (xCorpusDiffContent _))

  /** The composed oracle: the near-dup/exact-dedup CTEs from the
    * x_dedup_corpus_neardup twin, the language/quality/contamination
    * expressions from their TextAnalysis twins, and the split bucket —
    * one recursive WITH chain pinning the whole pipeline bitwise.
    * `extraCtes`/`extraWhere` splice an additional dedup stage into the
    * chain (the winnow-composed twin below); `neardupCtes`/
    * `neardupLosers` swap the near-dup RETENTION policy (the keep-best
    * twin splices the shared rank chain and drops rn <> 1 instead of
    * doc_id <> cluster_id); empty defaults emit byte-identical SQL to
    * the historical x_llm_corpus_prep twin.
    */
  private def llmCorpusPrepOracleSql(extraCtes: String = "",
      extraWhere: String = "",
      neardupCtes: String = "",
      neardupLosers: String = "SELECT doc_id FROM lab WHERE doc_id <> cluster_id"): String =
    llmCorpusPrepPrelude(neardupCtes, neardupLosers) + extraCtes + "\n" +
      s"""SELECT CASE WHEN bucket < 80 THEN 'train'
         |    WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split,
         |  pred_lang, COUNT(*) AS n_docs,
         |  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
         |  MIN(quality_score) AS min_quality,
         |  MAX(quality_score) AS max_quality
         |FROM scored
         |WHERE pred_lang <> 'und' AND quality_score >= 0.4 AND contamination <= 0.2$extraWhere
         |GROUP BY 1, 2
         |ORDER BY split, pred_lang""".stripMargin

  /** The shared prelude of every llm-prep twin (everything through the
    * `scored` CTE) — split out of llmCorpusPrepOracleSql so the AUDIT
    * and DIFF twins (whose final SELECTs differ from the rollup) compose
    * the same chain; the rollup generator's output is byte-identical to
    * its pre-split text (the OracleDump refactor rule).
    */
  private def llmCorpusPrepPrelude(neardupCtes: String = "",
      neardupLosers: String = "SELECT doc_id FROM lab WHERE doc_id <> cluster_id"): String =
    s"""WITH RECURSIVE gsrc AS (
        |  SELECT DISTINCT doc_id, source, gram FROM (
        |    SELECT doc_id, source,
        |      unnest(list_transform(generate_series(1, greatest(len(ws) - 2, 0)),
        |        i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS gram
        |    FROM (SELECT doc_id, source, string_split(lower(text), ' ') AS ws
        |          FROM documents))),
        |rare AS (
        |  SELECT g.doc_id, g.gram FROM gsrc g
        |  JOIN (SELECT gram FROM gsrc GROUP BY 1 HAVING COUNT(*) <= 50) f USING (gram)),
        |sz AS (SELECT doc_id, COUNT(*) AS sz FROM rare GROUP BY 1),
        |inter AS (
        |  SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS inter_grams
        |  FROM rare a JOIN rare b ON a.gram = b.gram AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |cpairs AS (
        |  SELECT d1, d2 FROM inter
        |  JOIN sz sa ON d1 = sa.doc_id JOIN sz sb ON d2 = sb.doc_id
        |  WHERE inter_grams / (sa.sz + sb.sz - inter_grams) >= 0.5),
        |edges AS (
        |  SELECT d1 AS a, d2 AS b FROM cpairs
        |  UNION ALL SELECT d2, d1 FROM cpairs),
        |reach(a, b) AS (
        |  SELECT a, b FROM edges
        |  UNION
        |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
        |lab AS (
        |  SELECT a AS doc_id, least(a, MIN(b)) AS cluster_id
        |  FROM reach GROUP BY a),$neardupCtes
        |exact AS (
        |  SELECT MIN(doc_id) AS doc_id FROM documents
        |  GROUP BY md5(lower(trim(text)))),
        |keep AS (
        |  SELECT d.doc_id, d.n_chars FROM documents d
        |  JOIN exact e ON d.doc_id = e.doc_id
        |  WHERE d.doc_id NOT IN ($neardupLosers)
        |    AND d.source <> 'src0'),
        |toks AS (
        |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok FROM documents),
        |m(tok, cand_lang) AS (VALUES
        |  ('the','en'), ('and','en'), ('of','en'),
        |  ('der','de'), ('und','de'), ('das','de'),
        |  ('el','es'), ('los','es'), ('las','es')),
        |c AS (
        |  SELECT doc_id, cand_lang, COUNT(*) AS n
        |  FROM toks JOIN m USING (tok) GROUP BY 1, 2),
        |best AS (
        |  SELECT doc_id, cand_lang,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY n DESC, cand_lang) AS rn
        |  FROM c),
        |pred AS (
        |  SELECT d.doc_id, COALESCE(b.cand_lang, 'und') AS pred_lang
        |  FROM documents d LEFT JOIN best b ON d.doc_id = b.doc_id AND b.rn = 1),
        |qual AS (
        |  SELECT doc_id,
        |    round(least(CAST(1.0 AS DOUBLE), len(string_split(text, ' ')) / CAST(100.0 AS DOUBLE))
        |      * (1.0 - len(list_filter(string_split(text, ' '), x -> x IN ('the', 'a', 'of', 'and', 'to')))
        |        / len(string_split(text, ' '))), 4) AS quality_score
        |  FROM documents),
        |ev AS (SELECT DISTINCT gram FROM gsrc WHERE source = 'src0'),
        |cont AS (
        |  SELECT g.doc_id,
        |    round(COUNT(ev.gram) / COUNT(*), 4) AS contamination
        |  FROM gsrc g LEFT JOIN ev ON g.gram = ev.gram
        |  WHERE g.source <> 'src0'
        |  GROUP BY g.doc_id),
        |scored AS (
        |  SELECT k.doc_id, k.n_chars, p.pred_lang, q.quality_score,
        |    COALESCE(cont.contamination, 0.0) AS contamination,
        |    ('0x' || substr(md5(CAST(k.doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 AS bucket
        |  FROM keep k
        |  JOIN pred p ON k.doc_id = p.doc_id
        |  JOIN qual q ON k.doc_id = q.doc_id
        |  LEFT JOIN cont ON k.doc_id = cont.doc_id)""".stripMargin

  /** The winnow-stage splice: the shared fingerprint chain + the
    * prefixed ("w") pair-join CTEs from TextAnalysis — the SAME
    * generators (headerless body + prefix-parameterized pair chain, no
    * string surgery) the standalone x_text_winnow / x_text_winnow_pairs
    * twins build from, names disjoint from this chain's `keep`/`df`/`c`
    * — and the loser set excluded in the final WHERE. The share
    * threshold interpolates from the ONE TextAnalysis constant the
    * Spark filter and the standalone twin also use; the non-eval-keeper
    * join mirrors the Spark side's policy above.
    */
  private def winnowStageCtes: String =
    ",\n" + TextAnalysis.winnowFpCtesBody + ",\n" +
      TextAnalysis.winnowPairCtes("w") + ",\n" +
      s"""wlosers AS (
         |  SELECT DISTINCT doc_b AS doc_id FROM wprs
         |  JOIN documents ka ON wprs.doc_a = ka.doc_id
         |  WHERE ka.source <> 'src0'
         |    AND n_shared >= ${TextAnalysis.winnowShareThreshold})""".stripMargin

  /** The span-stage splice: the x_dedup_span_remove twin's slim hash
    * chain ("sp"-prefixed, names disjoint from this chain's CTEs) over
    * non-eval docs, reduced to per-doc counts (no reconstruction), and
    * the majority-duplicated drop set the final WHERE excludes.
    */
  private def spanStageCtes: String =
    ",\n" + """spt AS (
      |  SELECT doc_id, string_split(lower(text), ' ') AS lt
      |  FROM documents WHERE source <> 'src0'),
      |sps AS (
      |  SELECT doc_id, lt,
      |    unnest(generate_series(0, ((len(lt) - 1) // 32) * 32, 32)) AS start
      |  FROM spt),
      |sph AS (
      |  SELECT doc_id, start // 32 AS span_id,
      |    md5(array_to_string(lt[start + 1 : start + 32], ' ')) AS h
      |  FROM sps),
      |spr AS (
      |  SELECT doc_id,
      |    row_number() OVER (PARTITION BY h ORDER BY doc_id, span_id) AS rn
      |  FROM sph),
      |splosers AS (
      |  SELECT doc_id FROM spr
      |  GROUP BY doc_id
      |  HAVING 2 * SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) > COUNT(*))"""
      .stripMargin

  /** The DSIR-stage splice: the "q"-prefixed chain from the SAME
    * generator the standalone x_dsir_select twin emits (names disjoint
    * from this chain's `toks`/`pred`/`cont`), plus the selected-id set
    * the final WHERE keeps — the membership predicate mirrors
    * xDsirSelect's lexicographic (weight, id) cut verbatim.
    */
  private def dsirStageCtes: String =
    ",\n" + Selection.dsirCtes("q") + ",\n" +
      """qsel AS (
        |  SELECT doc_id FROM qpd
        |  WHERE dsir_weight > (SELECT cut_w FROM qcut)
        |     OR (dsir_weight = (SELECT cut_w FROM qcut)
        |         AND doc_id <= (SELECT cut_id FROM qcut)))""".stripMargin

  /** The screen-stage splice: the text-pagerank chain over the winnow
    * stage's OWN pair CTEs (wprs/wfps — the splice reuses them, so the
    * screen always rides next to the winnow stage), the shared
    * generated integer round chain (Similarity.pagerankRoundCtes — the
    * same generator the standalone x_text_graph_pagerank twin splices),
    * the boilerplate cut, the hub fingerprint index, the screen join,
    * and the hub ∪ satellites drop set the final WHERE excludes.
    */
  private def screenStageCtes: String =
    ",\n" + s"""tnodes AS (SELECT doc_id AS vec_id FROM documents),
       |tedges AS (
       |  SELECT doc_a AS src, doc_b AS dst FROM wprs
       |  WHERE n_shared >= ${TextAnalysis.winnowShareThreshold}
       |  UNION ALL
       |  SELECT doc_b AS src, doc_a AS dst FROM wprs
       |  WHERE n_shared >= ${TextAnalysis.winnowShareThreshold}),
       |edg AS MATERIALIZED (
       |  SELECT src, dst,
       |    CAST(COUNT(*) OVER (PARTITION BY src) AS BIGINT) AS deg
       |  FROM tedges),
       |${Similarity.pagerankRoundCtes(3, "tnodes", weighted = false)},
       |ptopn AS (
       |  SELECT score_e9, vec_id FROM pr3
       |  ORDER BY score_e9 DESC, vec_id LIMIT 25),
       |pcut AS (
       |  SELECT score_e9 AS cut_s, vec_id AS cut_id FROM ptopn
       |  ORDER BY score_e9, vec_id DESC LIMIT 1),
       |hubs AS (
       |  SELECT vec_id AS hub_id FROM pr3
       |  WHERE (score_e9 > (SELECT cut_s FROM pcut)
       |     OR (score_e9 = (SELECT cut_s FROM pcut)
       |         AND vec_id <= (SELECT cut_id FROM pcut)))
       |    AND score_e9 > ${Similarity.pagerankBaseE9}),
       |hf AS (
       |  SELECT h.hub_id, f.mn FROM hubs h
       |  JOIN wfps f ON f.doc_id = h.hub_id),
       |nonhub AS (
       |  SELECT * FROM wfps
       |  WHERE doc_id NOT IN (SELECT hub_id FROM hubs)),
       |scrn AS (
       |  SELECT nonhub.doc_id, hf.hub_id, count(*) AS n_shared
       |  FROM nonhub JOIN hf ON nonhub.mn = hf.mn
       |  GROUP BY 1, 2),
       |sdrop AS (
       |  SELECT hub_id AS doc_id FROM hubs
       |  UNION
       |  SELECT doc_id FROM scrn
       |  WHERE n_shared >= ${TextAnalysis.winnowShareThreshold})""".stripMargin

  /** The audit twin: the screen twin's full prelude + splices (keep-best
    * retention, winnow, DSIR, screen — the same generated pieces), with
    * the final SELECT swapped for the first-drop CASE over ALL documents
    * and the per-stage rollup. The CASE arms read each stage's own CTE
    * (exact / kranked / source / pred / qual / cont / wlosers / qsel /
    * sdrop) in the Spark side's priority order.
    */
  private def llmCorpusPrepAuditOracleSql: String = {
    val stageCase = auditStages.zipWithIndex
      .map { case (s, i) => s"WHEN $i THEN '$s'" }.mkString(" ")
    llmCorpusPrepPrelude(
      neardupCtes = "\n" + Dedup.keepBestRankCtes("k") + ",",
      neardupLosers = "SELECT doc_id FROM kranked WHERE rn <> 1") +
      winnowStageCtes + dsirStageCtes + screenStageCtes + ",\n" +
      s"""aud AS (
         |  SELECT d.doc_id,
         |    CASE
         |      WHEN d.doc_id NOT IN (SELECT doc_id FROM exact) THEN 0
         |      WHEN d.doc_id IN (SELECT doc_id FROM kranked WHERE rn <> 1) THEN 1
         |      WHEN d.source = 'src0' THEN 2
         |      WHEN p.pred_lang = 'und' THEN 3
         |      WHEN q.quality_score < 0.4 THEN 4
         |      WHEN COALESCE(ct.contamination, 0.0) > 0.2 THEN 5
         |      WHEN d.doc_id IN (SELECT doc_id FROM wlosers) THEN 6
         |      WHEN d.doc_id NOT IN (SELECT doc_id FROM qsel) THEN 7
         |      WHEN d.doc_id IN (SELECT doc_id FROM sdrop) THEN 8
         |      ELSE 9 END AS so
         |  FROM documents d
         |  JOIN pred p ON d.doc_id = p.doc_id
         |  JOIN qual q ON d.doc_id = q.doc_id
         |  LEFT JOIN cont ct ON d.doc_id = ct.doc_id)
         |SELECT CAST(so AS BIGINT) AS stage_ord,
         |  CASE so $stageCase END AS stage,
         |  COUNT(*) AS n_docs
         |FROM aud GROUP BY so ORDER BY stage_ord""".stripMargin
  }

  /** The diff twin: ONE chain holding both policies — the prelude built
    * with the keep-best retention (its `scored` = v2's candidates) plus
    * a v1 (min-id retention, no extra stages) candidate chain over the
    * SAME shared CTEs, full-outer joined.
    */
  private def corpusDiffOracleSql: String =
    llmCorpusPrepPrelude(
      neardupCtes = "\n" + Dedup.keepBestRankCtes("k") + ",",
      neardupLosers = "SELECT doc_id FROM kranked WHERE rn <> 1") +
      winnowStageCtes + dsirStageCtes + ",\n" +
      """keep1 AS (
        |  SELECT d.doc_id FROM documents d
        |  JOIN exact e ON d.doc_id = e.doc_id
        |  WHERE d.doc_id NOT IN (SELECT doc_id FROM lab WHERE doc_id <> cluster_id)
        |    AND d.source <> 'src0'),
        |v1 AS (
        |  SELECT k.doc_id FROM keep1 k
        |  JOIN pred p ON k.doc_id = p.doc_id
        |  JOIN qual q ON k.doc_id = q.doc_id
        |  LEFT JOIN cont ct ON k.doc_id = ct.doc_id
        |  WHERE p.pred_lang <> 'und' AND q.quality_score >= 0.4
        |    AND COALESCE(ct.contamination, 0.0) <= 0.2),
        |v2 AS (
        |  SELECT doc_id FROM scored
        |  WHERE pred_lang <> 'und' AND quality_score >= 0.4 AND contamination <= 0.2
        |    AND doc_id NOT IN (SELECT doc_id FROM wlosers)
        |    AND doc_id IN (SELECT doc_id FROM qsel))
        |SELECT COALESCE(v1.doc_id, v2.doc_id) AS doc_id,
        |  CASE WHEN v2.doc_id IS NULL THEN 'removed'
        |       WHEN v1.doc_id IS NULL THEN 'added'
        |       ELSE 'unchanged' END AS status
        |FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id
        |ORDER BY doc_id""".stripMargin

  /** The content-diff twin: the base prelude (min-id retention — the
    * spans arm's chain) + the span-stage splice, per-doc removed-span
    * counts from its `spr` CTE, and the artifact-membership CTE
    * (scored under the prep filters minus the span-dominated losers —
    * spansCorpus's own definition).
    */
  private def corpusDiffContentOracleSql: String =
    llmCorpusPrepPrelude() + spanStageCtes + ",\n" +
      """spn AS (
        |  SELECT doc_id,
        |    SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS n_rem
        |  FROM spr GROUP BY doc_id),
        |v2m AS (
        |  SELECT doc_id FROM scored
        |  WHERE pred_lang <> 'und' AND quality_score >= 0.4 AND contamination <= 0.2
        |    AND doc_id NOT IN (SELECT doc_id FROM splosers))
        |SELECT d.doc_id AS doc_id,
        |  CASE WHEN v2m.doc_id IS NULL THEN 'removed'
        |       WHEN COALESCE(spn.n_rem, 0) > 0 THEN 'modified'
        |       ELSE 'unchanged' END AS status
        |FROM documents d
        |LEFT JOIN v2m ON d.doc_id = v2m.doc_id
        |LEFT JOIN spn ON d.doc_id = spn.doc_id
        |WHERE d.source <> 'src0'
        |ORDER BY d.doc_id""".stripMargin

  val oracle: Map[String, String] = Map(
    "x_llm_corpus_prep_audit" -> llmCorpusPrepAuditOracleSql,
    "x_corpus_diff" -> corpusDiffOracleSql,
    "x_corpus_diff_content" -> corpusDiffContentOracleSql,
    "x_llm_corpus_prep" -> llmCorpusPrepOracleSql(),
    "x_llm_corpus_prep_winnow" -> llmCorpusPrepOracleSql(
      extraCtes = winnowStageCtes,
      extraWhere = "\n  AND doc_id NOT IN (SELECT doc_id FROM wlosers)"),
    "x_llm_corpus_prep_spans" -> llmCorpusPrepOracleSql(
      extraCtes = spanStageCtes,
      extraWhere = "\n  AND doc_id NOT IN (SELECT doc_id FROM splosers)"),
    "x_llm_corpus_prep_dsir" -> llmCorpusPrepOracleSql(
      extraCtes = dsirStageCtes,
      extraWhere = "\n  AND doc_id IN (SELECT doc_id FROM qsel)"),
    // Keep-best retention twin: the "k"-prefixed rank chain from the
    // SAME generator the standalone x_dedup_keep_best twin builds from
    // (names disjoint from this chain's `qual`/`best`), reading this
    // chain's own `lab`; the drop set becomes the non-argmax clustered
    // docs.
    "x_llm_corpus_prep_keepbest" -> llmCorpusPrepOracleSql(
      neardupCtes = "\n" + Dedup.keepBestRankCtes("k") + ",",
      neardupLosers = "SELECT doc_id FROM kranked WHERE rn <> 1"),
    // Full-pipeline twin: the keep-best retention splice AND both stage
    // splices composed in one chain — the same three generated pieces
    // the single-stage twins emit (prefixes w/q/k, names disjoint from
    // the base chain and from each other), intersected in the final
    // WHERE exactly as the Spark side anti/semi-joins.
    "x_llm_corpus_prep_full" -> llmCorpusPrepOracleSql(
      extraCtes = winnowStageCtes + dsirStageCtes,
      extraWhere = "\n  AND doc_id NOT IN (SELECT doc_id FROM wlosers)" +
        "\n  AND doc_id IN (SELECT doc_id FROM qsel)",
      neardupCtes = "\n" + Dedup.keepBestRankCtes("k") + ",",
      neardupLosers = "SELECT doc_id FROM kranked WHERE rn <> 1"),
    // Screen-composed twin: the FULL chain plus the screen splice
    // (which rides the winnow stage's wprs/wfps CTEs) and its drop set
    // in the final WHERE — mirroring the Spark side's one extra
    // anti-join exactly.
    "x_llm_corpus_prep_screen" -> llmCorpusPrepOracleSql(
      extraCtes = winnowStageCtes + dsirStageCtes + screenStageCtes,
      extraWhere = "\n  AND doc_id NOT IN (SELECT doc_id FROM wlosers)" +
        "\n  AND doc_id IN (SELECT doc_id FROM qsel)" +
        "\n  AND doc_id NOT IN (SELECT doc_id FROM sdrop)",
      neardupCtes = "\n" + Dedup.keepBestRankCtes("k") + ",",
      neardupLosers = "SELECT doc_id FROM kranked WHERE rn <> 1"))
}
