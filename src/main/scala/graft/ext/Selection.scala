package graft.ext

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Data-selection operators for LLM corpus curation — the "which docs do
  * we train on" stage that sits between dedup and packing in a
  * production pipeline:
  *
  *  - DSIR-style importance resampling (Xie et al. 2023, "Data Selection
  *    for Language Models via Importance Resampling"): score every doc
  *    by how much more likely its tokens are under a trusted TARGET
  *    distribution than under the raw SOURCE distribution, keep the
  *    top-N. Here the feature LM is the unigram model (the paper uses
  *    hashed n-grams; the unigram form keeps the twin exactly
  *    oracle-able while preserving the architecture: two count
  *    aggregates, a fact-side join, a broadcast threshold).
  *  - A multinomial Naive-Bayes document classifier (the CCNet /
  *    fastText quality-classifier position: train on a labeled split,
  *    score held-out docs) with add-1 smoothing — counts-based, so the
  *    whole train/score loop is bitwise-replayable in SQL, unlike an
  *    SGD-trained linear model whose float updates are order-sensitive.
  *
  * Float parity: every score is ln(rational) with integer numerator and
  * denominator computed per OUTPUT row (never carried through a float
  * aggregate), summed per doc and rounded to 4 decimals — the proven
  * round(sum/avg(ln), 4) idiom of the logprob twins. Selection and
  * argmax compare ROUNDED scores with deterministic id/class tiebreaks,
  * so a sub-1e-4 cross-engine drift cannot flip membership or predicted
  * class.
  *
  * Scale notes (100 TB): all relations that cross a shuffle are (token,
  * count) pairs or per-doc rows — raw text never shuffles. The DSIR
  * top-N is a broadcast Nth-threshold (TakeOrdered over per-doc rows,
  * the a11_bubble_scale idiom), NOT a corpus-wide row_number window.
  * The NB score fan-out is bounded at |classes| × tokens with the
  * class-token table joined on (class, token) — AQE broadcasts it when
  * it measures small, shuffles when the vocabulary is huge; priors and
  * vocab size ride 1-row / |classes|-row broadcasts.
  */
object Selection {

  private def lowerS(c: Column): Column =
    graft.functions.VectorFunctions.simpleLower(c)

  /** (doc_id, tok) for every non-empty whitespace token, lowercased via
    * the engine-portable simple mapping.
    */
  private def tokens(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
        explode(split(lowerS(col("text")), " ")).as("tok"))
      .filter(col("tok") =!= "")

  /** DSIR importance weights + top-N selection. The TARGET distribution
    * is estimated from the trusted reference split (md5 id bucket < 20
    * — growth-stable, the split/sampler convention), the SOURCE
    * distribution from the whole corpus; both add-1 smoothed over the
    * shared source vocabulary V so the log-ratio
    * ln((nt+1)/(Nt+V)) − ln((ns+1)/(Ns+V)) is defined for every token.
    * A doc's weight is the rounded sum over its tokens; the top
    * `selectN` docs by (weight, lower id) get selected = 1 — the
    * importance-resampling cut, made deterministic (the paper's Gumbel
    * noise is a sampling device, not load-bearing for the ranking
    * semantics).
    *
    * The threshold is the Nth (weight, id) pair: top-N via TakeOrdered
    * (never a global window), its minimum re-broadcast as one row, and
    * membership decided by lexicographic comparison against it — docs
    * tied with the cutoff at equal rounded weight resolve by id on both
    * engines.
    */
  def xDsirSelect(spark: SparkSession, dir: String,
      selectN: Int = 100): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val toks = tokens(docs)
    // ONE (tok → ns, nt) frequency relation: the target count rides the
    // source aggregate as a conditional count (nt = 0 where the left
    // join used to produce null — coalesce(null,0)+1 == 0+1, same
    // smoothed term), halving the frequency shuffles. The three global
    // scalars are collected ONCE (3 longs — the dsirFrozen artifact's
    // scalar half) and embedded as literals: the per-row arithmetic
    // feeds the SAME integer inputs through the SAME log/divide
    // expressions, and the plan drops from three broadcast-nested-loop
    // scalar joins to the single Nth-cutoff one the r10 audit asked
    // for (BNLJ:1).
    val freq = toks
      .withColumn("tgt", TextAnalysis.md5Bucket(100) < 20)
      .groupBy("tok").agg(count(lit(1)).as("ns"),
        count(when(col("tgt"), lit(1))).as("nt"))
    val c = freq.agg(sum(col("ns")).as("ns_tot"), count(lit(1)).as("v"),
      sum(col("nt")).as("nt_tot")).head()
    val (nsTot, v, ntTot) = (c.getLong(0), c.getLong(1), c.getLong(2))
    // Pre-aggregated to (doc_id, tok, cnt) BEFORE the frequency join:
    // the join shuffles one row per distinct (doc, token) instead of one
    // per occurrence, shrinking both the shuffle and the skew
    // multiplicity of head tokens ("the") — each term is cnt × the
    // log-ratio, one IEEE multiply on both engines, same rounded sum.
    val dtc = toks.groupBy("doc_id", "tok").agg(count(lit(1)).as("cnt"))
    val perDoc = dtc
      .join(freq, Seq("tok"))
      .groupBy("doc_id")
      .agg(sum(col("cnt")).as("n_tokens"),
        round(sum(col("cnt").cast("double") * (
          log((col("nt") + lit(1L)) / lit(ntTot + v).cast("double")) -
          log((col("ns") + lit(1L)) / lit(nsTot + v).cast("double")))), 4)
          .as("dsir_weight"))
    // Nth-(weight, id) cutoff: top-N by (weight DESC, id ASC), then the
    // LAST of those — both orders are TakeOrdered over per-doc rows.
    val cut = perDoc.orderBy(desc("dsir_weight"), col("doc_id"))
      .limit(selectN)
      .orderBy(col("dsir_weight"), desc("doc_id")).limit(1)
      .select(col("dsir_weight").as("cut_w"), col("doc_id").as("cut_id"))
    docs.select("doc_id").join(perDoc, Seq("doc_id"), "left")
      .crossJoin(broadcast(cut))
      .select(col("doc_id"), coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        col("dsir_weight"),
        when(col("dsir_weight") > col("cut_w") ||
          (col("dsir_weight") === col("cut_w") &&
            col("doc_id") <= col("cut_id")), lit(1L)).otherwise(lit(0L))
          .as("selected"))
      .orderBy("doc_id")
  }

  /** The FROZEN DSIR state a streaming gate ships to executors: every
    * source-vocabulary token's log-ratio term (the same IEEE doubles
    * the batch chain computes per joined row), the unseen-token default
    * (the smoothed ratio at nt = ns = 0 — what add-1 reserves for
    * tokens outside the frozen vocabulary), and the Nth-(weight, id)
    * cutoff pair from the gated top-N cut. The collect is bounded by
    * the source VOCABULARY (the artifact a production run would
    * broadcast to ingest workers), never by the corpus.
    */
  def dsirFrozen(spark: SparkSession, dir: String, selectN: Int = 100)
      : (Map[String, Double], Double, Double, Long) = {
    val docs = Tables.documents(spark, dir)
    val toks = tokens(docs)
    val tgtToks = toks.filter(TextAnalysis.md5Bucket(100) < 20)
    val sfreq = toks.groupBy("tok").agg(count(lit(1)).as("ns"))
    val tfreq = tgtToks.groupBy("tok").agg(count(lit(1)).as("nt"))
    val consts = sfreq.agg(sum(col("ns")).as("ns_tot"),
        count(lit(1)).as("v"))
      .crossJoin(tfreq.agg(coalesce(sum(col("nt")), lit(0L)).as("nt_tot")))
    val ratios = sfreq.join(tfreq, Seq("tok"), "left")
      .crossJoin(broadcast(consts))
      .select(col("tok"),
        (log((coalesce(col("nt"), lit(0L)) + lit(1L)) /
          (col("nt_tot") + col("v")).cast("double")) -
         log((col("ns") + lit(1L)) /
          (col("ns_tot") + col("v")).cast("double"))).as("r"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val unseen = consts.select(
        (log(lit(1L) / (col("nt_tot") + col("v")).cast("double")) -
         log(lit(1L) / (col("ns_tot") + col("v")).cast("double"))).as("d"))
      .head().getDouble(0)
    val cut = xDsirSelect(spark, dir, selectN)
      .filter(col("selected") === 1L)
      .orderBy(col("dsir_weight"), desc("doc_id")).limit(1)
      .select("dsir_weight", "doc_id").head()
    (ratios, unseen, cut.getDouble(0), cut.getLong(1))
  }

  /** Multinomial Naive-Bayes classifier over the `source` label: priors
    * and per-(class, token) counts from the train split (md5 bucket
    * < 80, the x_train_val_split convention), held-out docs scored as
    * ln(P(class)) + Σ_tok ln((c(class,tok)+1)/(T_class+V)), argmax per
    * doc on the ROUNDED score with class-name tiebreak. Tokens unseen
    * in a class score ln(1/(T_class+V)) via the left join; tokens
    * outside the train vocabulary shift every class equally and are
    * deliberately kept (they carry the doc's length into the score like
    * the real multinomial model does).
    */
  def xTextNbClass(spark: SparkSession, dir: String): DataFrame =
    nbClass(spark, dir, TextAnalysis.md5Bucket(100) < 80)

  /** Frozen-classifier admission arm — the admission matrix's pattern
    * (IVF/PQ/IVFADC/BPE/LSH/MinHash all have one): the class priors and
    * (class, token) counts are trained ONCE on the ADMITTED half (lower
    * doc ids, the BPE-admit split convention), frozen, and the new batch
    * (the upper half) is scored under them — nothing admitted is ever
    * re-counted, which would silently shift every score the moment a
    * batch arrived. Same parameterized twin, trainWhere swapped.
    */
  def xTextNbAdmit(spark: SparkSession, dir: String): DataFrame = {
    val split = Tables.admissionSplit(Tables.documents(spark, dir), "doc_id")
    nbClass(spark, dir, col("doc_id") < split)
  }

  /** The FROZEN NB state a streaming classifier gate ships to executors
    * — the dsirFrozen idiom for the admission classifier: per class, the
    * ln prior, the unseen-token default ln(1/(T_class+V)) (what add-1
    * reserves for tokens with no frozen count, including tokens outside
    * the train vocabulary entirely — both reach the same smoothed term
    * through the batch chain's left join), and the token → smoothed-ln
    * conditional map. Every double is computed by the SAME Spark `log`
    * expressions the batch chain evaluates per joined row, so the frozen
    * terms are the batch terms, not a re-derivation. The collect is
    * bounded by |classes| × train VOCABULARY (the artifact a production
    * run broadcasts to ingest workers), never by the corpus.
    */
  def nbFrozen(spark: SparkSession, dir: String)
      : Seq[(String, Double, Double, Map[String, Double])] = {
    val split = Tables.admissionSplit(Tables.documents(spark, dir), "doc_id")
    val docs = Tables.documents(spark, dir)
      .withColumn("tr", col("doc_id") < split)
    val trainToks = docs.filter(col("tr"))
      .select(col("source"), explode(split2(col("text"))).as("tok"))
      .filter(col("tok") =!= "")
    val classes = docs.filter(col("tr"))
      .groupBy(col("source").as("cls")).agg(count(lit(1)).as("ndc"))
      .join(trainToks.groupBy(col("source").as("cls"))
        .agg(count(lit(1)).as("tc")), Seq("cls"))
      .crossJoin(docs.filter(col("tr")).agg(count(lit(1)).as("nd_tot")))
      .crossJoin(trainToks.agg(countDistinct(col("tok")).as("v")))
    val meta = classes.select(col("cls"),
        log(col("ndc") / col("nd_tot").cast("double")).as("ln_prior"),
        log(lit(1L) / (col("tc") + col("v")).cast("double")).as("dflt"))
      .collect()
      .map(r => r.getString(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
    val terms = trainToks.groupBy(col("source").as("cls"), col("tok"))
      .agg(count(lit(1)).as("ctk"))
      .join(broadcast(classes.select("cls", "tc", "v")), Seq("cls"))
      .select(col("cls"), col("tok"),
        log((col("ctk") + lit(1L)) / (col("tc") + col("v")).cast("double"))
          .as("term"))
      .collect()
      .groupBy(_.getString(0))
      .map { case (cls, rows) =>
        cls -> rows.map(r => r.getString(1) -> r.getDouble(2)).toMap
      }
    meta.toSeq.sortBy(_._1).map { case (cls, (prior, dflt)) =>
      (cls, prior, dflt, terms.getOrElse(cls, Map.empty))
    }
  }

  /** Token-array split shared by nbFrozen and the streaming gate — the
    * exact split the batch tokenizer applies before its explode.
    */
  private def split2(text: Column): Column = split(lowerS(text), " ")

  private def nbClass(spark: SparkSession, dir: String,
      trainCond: Column): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .withColumn("tr", trainCond)
    val toks = docs.select(col("doc_id"), col("source"), col("tr"),
        explode(split(lowerS(col("text")), " ")).as("tok"))
      .filter(col("tok") =!= "")
    val trainToks = toks.filter(col("tr"))
    val ctc = trainToks.groupBy(col("source").as("cls"), col("tok"))
      .agg(count(lit(1)).as("ctk"))
    // FROZEN class metadata (cls, ndc, tc) + the two global scalars,
    // collected once — bounded by |classes| rows + 2 longs, the class
    // half of the nbFrozen artifact — and embedded as ONE
    // array-of-structs literal. The per-class fan-outs EXPLODE the
    // literal in place instead of crossJoin-broadcasting a
    // |classes|-row frame, and the scalars ride as literals: the r10
    // plan audit's BNLJ:6 cluster (five 1-row driver round-trips more
    // than needed) drops to zero nested-loop joins. nd_tot = Σ ndc is
    // exact (source is non-null on every row). The arithmetic feeds
    // the SAME integer inputs into the SAME Spark log/divide
    // expression trees as the joined form, so the gated rows are
    // byte-identical.
    val perCls = docs.filter(col("tr"))
      .groupBy(col("source").as("cls")).agg(count(lit(1)).as("ndc"))
      .join(trainToks.groupBy(col("source").as("cls"))
        .agg(count(lit(1)).as("tc")), Seq("cls"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1).toSeq
    val ndTot = perCls.map(_._2).sum
    val v = trainToks.agg(countDistinct(col("tok")).as("v"))
      .head().getLong(0)
    val clzLit = typedlit(perCls)
    def withClz(df: DataFrame): DataFrame =
      df.withColumn("c", explode(clzLit))
        .withColumn("cls", col("c").getField("_1"))
        .withColumn("ndc", col("c").getField("_2"))
        .withColumn("tc", col("c").getField("_3"))
        .drop("c")
    // Per held-out (doc, token) × class: the smoothed conditional ln
    // term, weighted by the token's in-doc count — pre-aggregated so the
    // ctc join fans out one row per DISTINCT held token per class, not
    // one per occurrence (the DSIR pre-agg shape). The integer inputs
    // (cnt, ctk, tc, v) reach every row intact; ln runs once per output
    // row, never inside a partial aggregate.
    val held = toks.filter(!col("tr"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("cnt"))
    val perDocCls = withClz(held)
      .join(ctc, Seq("cls", "tok"), "left")
      .groupBy("doc_id", "cls")
      .agg(sum(col("cnt").cast("double") *
        log((coalesce(col("ctk"), lit(0L)) + lit(1L)) /
          (col("tc") + lit(v)).cast("double"))).as("s"))
    val scored = withClz(docs.filter(!col("tr"))
        .select(col("doc_id"), col("source").as("true_source")))
      .join(perDocCls, Seq("doc_id", "cls"), "left")
      .select(col("doc_id"), col("true_source"), col("cls"),
        round(log(col("ndc") / lit(ndTot).cast("double")) +
          coalesce(col("s"), lit(0.0)), 4).as("nb_score"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(desc("nb_score"), col("cls"))
    scored.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("doc_id"), col("true_source"),
        col("cls").as("pred_source"), col("nb_score"),
        when(col("cls") === col("true_source"), lit(1L)).otherwise(lit(0L))
          .as("hit"))
      .orderBy("doc_id")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "x_dsir_select"   -> ((s: SparkSession, d: String) => xDsirSelect(s, d)),
    "x_text_nb_class" -> (xTextNbClass _),
    "x_text_nb_admit" -> (xTextNbAdmit _))

  private val md5BucketSql =
    "('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100"

  /** The DSIR CTE chain (counts → per-doc weight → Nth-(weight, id)
    * cutoff) with `p`-prefixed CTE names — the winnowPairCtes idiom:
    * ONE generator serves the standalone twin (p = "", emitting the
    * historical text) and composed splices (a disjoint prefix), so the
    * composed pipeline's selection stage can never drift from the gated
    * standalone semantics.
    */
  private[ext] def dsirCtes(p: String): String =
    s"""${p}toks AS (
        |  SELECT doc_id, tok, $md5BucketSql < 20 AS tgt
        |  FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok
        |        FROM documents) WHERE tok <> ''),
        |${p}sfreq AS (SELECT tok, COUNT(*) AS ns FROM ${p}toks GROUP BY 1),
        |${p}tfreq AS (SELECT tok, COUNT(*) AS nt FROM ${p}toks WHERE tgt GROUP BY 1),
        |${p}stot AS (SELECT CAST(SUM(ns) AS BIGINT) AS ns_tot,
        |                CAST(COUNT(*) AS BIGINT) AS v FROM ${p}sfreq),
        |${p}ttot AS (SELECT CAST(COALESCE(SUM(nt), 0) AS BIGINT) AS nt_tot FROM ${p}tfreq),
        |${p}dtc AS (SELECT doc_id, tok, COUNT(*) AS cnt FROM ${p}toks GROUP BY 1, 2),
        |${p}pd AS (
        |  SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_tokens,
        |    round(SUM(cnt * (
        |      ln((COALESCE(nt, 0) + 1) /
        |         CAST((SELECT nt_tot FROM ${p}ttot) + (SELECT v FROM ${p}stot) AS DOUBLE))
        |      - ln((ns + 1) /
        |         CAST((SELECT ns_tot FROM ${p}stot) + (SELECT v FROM ${p}stot) AS DOUBLE)))), 4)
        |      AS dsir_weight
        |  FROM ${p}dtc JOIN ${p}sfreq USING (tok) LEFT JOIN ${p}tfreq USING (tok)
        |  GROUP BY doc_id),
        |${p}topn AS (
        |  SELECT dsir_weight, doc_id FROM ${p}pd
        |  ORDER BY dsir_weight DESC, doc_id LIMIT 100),
        |${p}cut AS (
        |  SELECT dsir_weight AS cut_w, doc_id AS cut_id FROM ${p}topn
        |  ORDER BY dsir_weight, doc_id DESC LIMIT 1)""".stripMargin

  val oracle: Map[String, String] = Map(
    // DSIR twin: same counts, same per-token ln(rational) pair, same
    // Nth-(weight, id) cutoff via two ORDER BY ... LIMIT CTEs.
    "x_dsir_select" ->
      s"""WITH ${dsirCtes("")}
        |SELECT d.doc_id, COALESCE(pd.n_tokens, 0) AS n_tokens, pd.dsir_weight,
        |  CASE WHEN pd.dsir_weight > (SELECT cut_w FROM cut)
        |        OR (pd.dsir_weight = (SELECT cut_w FROM cut)
        |            AND d.doc_id <= (SELECT cut_id FROM cut))
        |       THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS selected
        |FROM documents d LEFT JOIN pd USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,
    // NB twin: identical counts and smoothing; the argmax window orders
    // by the rounded score with the class tiebreak, like the Spark side.
    "x_text_nb_class" -> nbOracleSql(s"$md5BucketSql < 80"),
    // Admission twin: the SAME generator with the train predicate
    // swapped to the lower-id-half split — the frozen (class, token)
    // table is exactly what the train-side CTEs compute, so the arm is
    // hash-gated bitwise like every other admission arm.
    "x_text_nb_admit" -> nbOracleSql(
      "doc_id < (SELECT (max(doc_id) + 1) // 2 FROM documents)"))

  /** The NB train/score chain parameterized by the train predicate —
    * one generator serves the md5-split classifier twin (byte-identical
    * to the historical text for the default split) and the frozen-count
    * admission twin, so the two arms cannot drift.
    */
  private def nbOracleSql(trainExpr: String): String =
    s"""WITH d AS (
        |  SELECT doc_id, source, text, $trainExpr AS tr FROM documents),
        |toks AS (
        |  SELECT doc_id, source, tr, tok
        |  FROM (SELECT doc_id, source, tr,
        |          unnest(string_split(lower(text), ' ')) AS tok FROM d)
        |  WHERE tok <> ''),
        |ctc AS (SELECT source AS cls, tok, COUNT(*) AS ctk
        |        FROM toks WHERE tr GROUP BY 1, 2),
        |clz AS (
        |  SELECT p.cls, p.ndc, t.tc
        |  FROM (SELECT source AS cls, COUNT(*) AS ndc FROM d WHERE tr GROUP BY 1) p
        |  JOIN (SELECT source AS cls, COUNT(*) AS tc FROM toks WHERE tr GROUP BY 1) t
        |    USING (cls)),
        |ndt AS (SELECT CAST(COUNT(*) AS BIGINT) AS nd_tot FROM d WHERE tr),
        |voc AS (SELECT CAST(COUNT(DISTINCT tok) AS BIGINT) AS v FROM toks WHERE tr),
        |hld AS (SELECT doc_id, tok, COUNT(*) AS cnt
        |        FROM toks WHERE NOT tr GROUP BY 1, 2),
        |pdc AS (
        |  SELECT h.doc_id, c.cls,
        |    SUM(h.cnt * ln((COALESCE(k.ctk, 0) + 1) /
        |        CAST(c.tc + (SELECT v FROM voc) AS DOUBLE))) AS s
        |  FROM hld h CROSS JOIN clz c
        |  LEFT JOIN ctc k ON k.cls = c.cls AND k.tok = h.tok
        |  GROUP BY 1, 2),
        |scored AS (
        |  SELECT d.doc_id, d.source AS true_source, c.cls,
        |    round(ln(c.ndc / CAST((SELECT nd_tot FROM ndt) AS DOUBLE))
        |      + COALESCE(p.s, 0.0), 4) AS nb_score
        |  FROM d CROSS JOIN clz c
        |  LEFT JOIN pdc p ON p.doc_id = d.doc_id AND p.cls = c.cls
        |  WHERE NOT d.tr),
        |best AS (
        |  SELECT *, row_number() OVER (PARTITION BY doc_id
        |    ORDER BY nb_score DESC, cls) AS rn FROM scored)
        |SELECT doc_id, true_source, cls AS pred_source, nb_score,
        |  CASE WHEN cls = true_source THEN CAST(1 AS BIGINT)
        |       ELSE CAST(0 AS BIGINT) END AS hit
        |FROM best WHERE rn = 1
        |ORDER BY doc_id""".stripMargin
}
