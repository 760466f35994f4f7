package graft.ext

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, StringType}

/** Large-scale training-data deduplication operators over `documents`:
  * exact (hash-groupBy), n-gram Jaccard, MinHash+LSH, SimHash, and
  * embedding-cosine near-dup (see Similarity for ANN search).
  *
  * Scale notes:
  *  - exact dedup: one shuffle on the 128-bit content hash (not the full
  *    text), high-cardinality key → even partitions at any scale.
  *  - n-gram Jaccard: document-frequency cutoff bounds the shingle
  *    self-join fan-out (a shingle occurring in k docs contributes k²
  *    pairs; dropping hot shingles caps k). This is the standard guard
  *    that keeps the candidate join sub-quadratic at 100 TB.
  *  - MinHash+LSH: fixed 64-permutation signature (shuffle carries 64
  *    longs/doc, not the text); banding (16 bands × 4 rows) turns
  *    all-pairs into an equi-join on (band, band-hash) buckets.
  *  - SimHash: 64-bit signature via per-bit majority vote — one groupBy;
  *    candidate pairs from 16-bit band equality (pigeonhole: hamming ≤ 3
  *    guarantees a matching band).
  */
object Dedup {

  /** Engine-portable lowercase (simple per-code-point mapping — what
    * DuckDB's lower() does); the built-in lower() applies the JVM FULL
    * mapping, which diverges on U+0130 / final sigma (see SimpleLower).
    */
  private def lowerS(c: Column): Column =
    graft.functions.VectorFunctions.simpleLower(c)

  /** One row per (doc, lowercase word-3-gram occurrence), gram as string. */
  private def wordGramStrings(docs: DataFrame): DataFrame =
    docs.withColumn("ws", split(lowerS(col("text")), " "))
      .select(col("doc_id"), explode(
        when(size(col("ws")) >= 3,
          expr("transform(sequence(0, size(ws) - 3), i -> concat_ws(' ', ws[i], ws[i+1], ws[i+2]))"))
          .otherwise(array().cast(ArrayType(StringType)))).as("gram_str"))

  /** The gram-array column for a single document row — the SAME
    * lowercase word-3-gram construction as wordGramStrings but kept
    * in-row (array_distinct of hashed grams, no explode/distinct
    * shuffle), for STREAMING consumers where a stateful distinct is
    * unavailable: array_distinct(transform) is a narrow map. The hash
    * sits outside a lambda on the batch path for codegen (see
    * wordGrams); here the per-doc array is bounded by doc length and
    * the in-lambda interpreted hash is the price of staying narrow.
    */
  private[graft] def wordGramArray: Column = {
    val ws = split(lowerS(col("text")), " ")
    array_distinct(
      when(size(ws) >= 3,
        transform(sequence(lit(0), size(ws) - 3), i =>
          xxhash64(concat_ws(" ", element_at(ws, i + 1),
            element_at(ws, i + 2), element_at(ws, i + 3)))))
        .otherwise(array().cast("array<bigint>")))
  }

  /** Distinct lowercase word 3-grams per document. The distinct (and every
    * downstream shuffle) runs over the 8-byte xxhash64 of the gram, never
    * the gram string (collision odds at this vocabulary ~1e-11).
    *
    * Shape note (measured, round 6): the hash deliberately sits OUTSIDE
    * the transform lambda, applied post-explode — expressions inside
    * higher-order-function lambdas evaluate INTERPRETED (no whole-stage
    * codegen), so hashing the token triple inside the lambda
    * (`transform(..., i -> xxhash64(ws[i], ...))`), which looks like it
    * saves the per-gram concat_ws allocation, actually measured ~45%
    * MORE CPU on x_dedup_ngram_jaccard. Keep lambdas to cheap
    * constructors; keep hashing in codegen'd positions.
    */
  private[ext] def wordGrams(docs: DataFrame): DataFrame =
    wordGramStrings(docs)
      .select(col("doc_id"), xxhash64(col("gram_str")).as("gram"))
      .distinct()

  /** User-facing composed API: the deduplicated corpus itself — keep the
    * lowest doc_id per normalized content hash.
    *
    * Shape (r18, guide §2.3 — shuffle keys, not payloads): the LOSER ids
    * are derived on a slim (hash, doc_id) projection (the text is read
    * to hash it but never rides an exchange), then removed by one
    * anti-join on 8-byte ids — the dedupCorpusNearDup staging applied to
    * the exact stage itself. The previous form joined the full document
    * rows against the corpus-sized keeper relation on (hash, doc_id),
    * which at cluster scale shuffles the text column; losers are
    * bounded by the duplicate count (typically a small fraction, so the
    * anti-join's build side broadcasts), and a dup-heavy corpus
    * degrades to an id-keyed shuffle — still never the text by hash.
    * Row-identical either way: keepers are exactly the rows whose id is
    * their hash group's minimum.
    */
  def dedupCorpus(docs: DataFrame): DataFrame = {
    val slim = docs.select(col("doc_id"),
      md5(lowerS(trim(col("text")))).as("__h"))
    val keep = slim.groupBy(col("__h")).agg(min(col("doc_id")).as("keep_id"))
    val losers = slim.join(keep, Seq("__h"))
      .filter(col("doc_id") =!= col("keep_id")).select("doc_id")
    docs.join(losers, Seq("doc_id"), "left_anti")
  }

  /** Exact dedup: group by content hash, keep lowest doc_id per group. */
  def xDedupExact(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupBy(md5(lowerS(trim(col("text")))).as("text_hash"))
      .agg(count(lit(1)).as("n_copies"), min(col("doc_id")).as("keep_doc_id"))
      .orderBy("text_hash")

  /** Scored near-dup candidate pairs (d1 < d2, inter_grams, unrounded
    * jaccard) with the document-frequency cutoff bounding the self-join —
    * the shared engine behind the top-k query and the clustering operator.
    */
  private[graft] def ngramJaccardPairs(spark: SparkSession, dir: String): DataFrame =
    ngramJaccardPairsOf(Tables.documents(spark, dir))

  /** The same scored-pair chain over an arbitrary document relation —
    * factored so the keep-best ADMISSION arm can run the identical
    * clustering chain over the admitted half only (frozen-state
    * training population), not a re-derivation.
    */
  private[graft] def ngramJaccardPairsOf(docs: DataFrame): DataFrame =
    ngramJaccardPairsAndRare(docs)._1

  /** The scored-pair chain PLUS its persisted rare-gram relation — the
    * (doc_id, gram) rows surviving the df ≤ 50 cutoff. Exposed (r18) so
    * the keep-best ADMISSION state, which needs exactly this relation as
    * its frozen index, consumes the already-persisted copy instead of
    * re-exploding the corpus and re-running the df aggregate (guide
    * §2.4 — the two derivations were identical constructions).
    */
  private[graft] def ngramJaccardPairsAndRare(docs0: DataFrame)
      : (DataFrame, DataFrame) = {
    // Widen the corpus before the shingle explode (r19): the explode +
    // simple_lower + gram-hash map is this chain's dominant CPU and runs
    // in the SCAN's stage — 1–2 tasks on a single-split corpus. Every
    // caller passes a narrow scan/filter chain (the widen contract).
    val docs = graft.Tables.widen(docs0)
    // The (doc_id, gram) relation feeds four consumers (df cutoff, both
    // self-join sides, per-doc sizes); persist it instead of re-exploding
    // the corpus each time. At cluster scale this is a parquet-materialized
    // shingle table partitioned by gram hash.
    val grams = wordGrams(docs).persist()
    // df cutoff via partial-aggregated groupBy + join — NOT a count window
    // over gram, which would funnel every row of a hot shingle into one
    // task before the filter could drop it (the exact straggler the cutoff
    // exists to prevent).
    val rare = grams.join(
      grams.groupBy("gram").agg(count(lit(1)).as("gram_df"))
        .filter(col("gram_df") <= 50).select("gram"),
      Seq("gram")).persist()
    val sizes = rare.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    val inter = rare.as("a").join(rare.as("b"),
        col("a.gram") === col("b.gram") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .agg(count(lit(1)).as("inter_grams"))
    // sizes is per-document cardinality — shuffle-join it (AQE may still
    // broadcast at small scale); never force-broadcast corpus-sized data.
    (inter
      .join(sizes.as("sa"), col("d1") === col("sa.doc_id"))
      .join(sizes.as("sb"), col("d2") === col("sb.doc_id"))
      .select(col("d1"), col("d2"), col("inter_grams"),
        (col("inter_grams") / (col("sa.sz") + col("sb.sz") - col("inter_grams")))
          .as("jaccard")),
      rare)
  }

  /** N-gram Jaccard near-dup: top-20 most similar pairs by word-3-gram
    * Jaccard, with a document-frequency cutoff (gram in ≤ 50 docs) bounding
    * the candidate join.
    */
  def xDedupNgramJaccard(spark: SparkSession, dir: String): DataFrame =
    ngramJaccardPairs(spark, dir)
      .orderBy(col("jaccard").desc, col("d1"), col("d2"))
      .limit(20)
      .select(col("d1"), col("d2"), col("inter_grams"),
        round(col("jaccard"), 6).as("jaccard"))

  private val ccMaxRounds = 64

  /** Connected components over undirected candidate edges via alternating
    * large-star / small-star contraction (Kiveris et al., "Connected
    * Components in MapReduce and Beyond", SoCC '14). Each large-star links
    * every above-minimum neighbor of a node to the minimum of its full
    * neighborhood; each small-star links a node and its smaller neighbors
    * to the minimum of that set. The edge set converges to one star per
    * component in O(log diameter) rounds — vs rounds = diameter for plain
    * min-label propagation, which is a scale-killer on chain-shaped
    * components (the r2 verdict's one perf-weak).
    *
    * Per-round hygiene for 100 TB: each generation is eagerly
    * checkpointed so lineage never grows past one round (no re-derivation
    * of N join layers on re-plan), and the previous generation's blocks
    * are dropped explicitly (GraftSqlBridge.dropCheckpointBlocks — a
    * plain Dataset.unpersist would leave localCheckpoint blocks to the
    * lazy ContextCleaner), keeping executor memory O(one edge set).
    * Edges carry two longs, never text.
    *
    * Returns (doc_id → min-member component label, rounds taken); the
    * round count is what the chain-convergence spec bounds.
    */
  private[graft] def connectedComponents(pairs: DataFrame): (DataFrame, Int) = {
    // eager=false (r19): a lazy checkpoint still truncates lineage at
    // mark time (the plan becomes a LogicalRDD immediately) but defers
    // the block materialization into the FIRST consuming job — each
    // round's fixpoint count then computes large-star + small-star +
    // persists both generations + counts in ONE job, where the eager
    // form paid two dedicated materialization jobs (each ending in a
    // pass over the edge set) plus the count. Relations that must
    // exist before their inputs' blocks are dropped (nodes, labels)
    // stay eager.
    def drop(df: DataFrame): Unit =
      org.apache.spark.sql.GraftSqlBridge.dropCheckpointBlocks(df)
    // canonical strictly larger→smaller orientation, one row per edge.
    // Lazy: the eager `nodes` job below materializes it (nodes must be
    // eager — its blocks are consumed only at the END, after the loop
    // has dropped the initial edge generation it derives from).
    var edges = pairs
      .select(greatest(col("d1"), col("d2")).as("u"), least(col("d1"), col("d2")).as("v"))
      .filter(col("u") =!= col("v")).distinct().localCheckpoint(eager = false)
    val nodes = edges.select(col("u")).union(edges.select(col("v")))
      .distinct().withColumnRenamed("u", "doc_id").localCheckpoint()
    var rounds = 0
    var prevCount = edges.count()
    var done = prevCount == 0L
    while (!done && rounds < ccMaxRounds) {
      rounds += 1
      // large-star over the full neighborhood: the two orientations are
      // disjoint (every stored edge is strictly larger→smaller), so the
      // union needs no distinct.
      val nbrs = edges.union(edges.select(col("v").as("u"), col("u").as("v")))
      val mL = nbrs.groupBy("u").agg(least(min(col("v")), col("u")).as("m"))
      // checkpointed: the small-star stage consumes it twice (mS and the
      // withM join) — without materialization the whole large-star
      // union+groupBy+join would execute twice per round. Lazy: both
      // consumers sit inside the SAME count job below; its first stage
      // over this relation persists the blocks, the second reads them.
      val afterLarge = nbrs.join(mL, "u").filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .filter(col("u") =!= col("v")).distinct().localCheckpoint(eager = false)
      // small-star: all edges now point larger→smaller, so Γ⁻(u) is just
      // u's out-neighbors; link them and u itself to their minimum.
      val mS = afterLarge.groupBy("u").agg(min(col("v")).as("m"))
      val withM = afterLarge.join(mS, "u")
      val afterSmall = withM.select(col("u"), col("m").as("v"))
        .union(withM.select(col("v").as("u"), col("m").as("v")))
        .filter(col("u") =!= col("v")).distinct().localCheckpoint(eager = false)
      // exact fixpoint test: equal cardinality + next ⊆ prev ⇒ equal sets
      // (both sides distinct); runs on two checkpointed slim relations.
      // prev's cardinality is carried from its own round — one job saved.
      val nextCount = afterSmall.count()
      done = nextCount == prevCount &&
        afterSmall.join(edges, Seq("u", "v"), "left_anti").isEmpty
      drop(afterLarge)
      drop(edges)
      edges = afterSmall
      prevCount = nextCount
    }
    // A mid-iteration edge set is NOT a forest of stars — nodes can carry
    // two out-edges — and labeling from it would silently emit multiple
    // rows per doc. Fail loudly instead; ccMaxRounds exists only as a
    // runaway backstop far above O(log diameter).
    require(done,
      s"connected components did not converge within $ccMaxRounds rounds")
    // at the fixpoint every component is a star u→root; roots (never a
    // left side) label themselves. Materialize before dropping the blocks
    // the join reads from.
    val labels = nodes
      .join(edges.withColumnRenamed("u", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("v"), col("doc_id")).as("label"))
      .localCheckpoint()
    drop(edges)
    drop(nodes)
    (labels, rounds)
  }

  /** The near-dup cluster rule, the one place it is written: candidate
    * pairs at Jaccard ≥ 0.5, joined into connected components, each doc
    * labeled by its component's minimum doc_id. `scoredPairs` is an
    * [[ngramJaccardPairs]]-shaped relation (d1, d2, jaccard).
    */
  private[graft] def nearDupLabelsOf(scoredPairs: DataFrame): DataFrame =
    connectedComponents(
      scoredPairs.filter(col("jaccard") >= 0.5).select("d1", "d2"))._1

  /** Near-dup cluster labels (doc_id, label) over the whole corpus. */
  private[graft] def nearDupLabels(spark: SparkSession, dir: String): DataFrame =
    nearDupLabelsOf(ngramJaccardPairs(spark, dir))

  /** Near-duplicate CLUSTERS: connected components over the candidate
    * pairs at Jaccard ≥ 0.5, labeled by the minimum doc_id in each
    * component — the operator that turns pairwise near-dup evidence into
    * keep/drop groups (keep cluster_id, drop the rest).
    */
  def xDedupCluster(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("cluster_id"))
    nearDupLabels(spark, dir).select(col("doc_id"), col("label").as("cluster_id"))
      .withColumn("cluster_size", count(lit(1)).over(w))
      .orderBy("doc_id")
  }

  /** Composed near-dup-aware corpus materialization — the cleaned-corpus
    * artifact an LLM-data pipeline actually ships: exact dedup first (one
    * winner per content hash), then drop every non-minimum member of each
    * near-dup cluster. Only cluster losers (label ≠ doc_id) enter the
    * anti-join, so unclustered documents stream through untouched and the
    * join's right side is a slim one-long relation — at 100 TB the text
    * column crosses no shuffle here (dedupCorpus shuffles hashes, the
    * anti-join probes ids).
    */
  def dedupCorpusNearDup(docs: DataFrame, clusterLabels: DataFrame): DataFrame = {
    val losers = clusterLabels
      .filter(col("label") =!= col("doc_id")).select("doc_id")
    dedupCorpus(docs).join(losers, Seq("doc_id"), "left_anti")
  }

  /** Quality-aware keep policy over near-dup clusters — what a
    * production pipeline actually retains: per connected-component
    * cluster (the same ngram-Jaccard ≥ 0.5 edges and large/small-star
    * labels as x_dedup_cluster), keep the member with the HIGHEST
    * composite quality score (x_text_quality's gated formula; ties to
    * the lower doc_id) instead of the lowest id. Clustered docs only —
    * singletons are untouched by dedup and stream through upstream.
    * Scale shape: the cluster chain is the probed operator; the quality
    * join is per-doc narrow; the argmax window partitions by cluster_id
    * over CLUSTERED docs only (a small fraction of the corpus, cluster
    * sizes bounded by near-dup semantics — not a corpus-wide window).
    */
  def xDedupKeepBest(spark: SparkSession, dir: String): DataFrame =
    keepBestVerdicts(Tables.documents(spark, dir), nearDupLabels(spark, dir))
      .orderBy("doc_id")

  /** The keep-best verdict chain itself — per clustered doc, kept = 1
    * iff it is its cluster's quality argmax. Factored so the composed
    * pipeline (CorpusPrep's keep-best arm) runs EXACTLY the gated
    * operator's ranking, not a re-derivation that could drift.
    */
  private[ext] def keepBestVerdicts(docs: DataFrame,
      clusterLabels: DataFrame,
      precomputedQuality: Option[DataFrame] = None): DataFrame = {
    // `precomputedQuality` (r18): a composed caller whose chain ALSO
    // joins the quality relation (every keep-best prep arm's metric
    // triple does) passes its copy so the two consumers share one
    // computation; the default builds the identical construction.
    val quality = precomputedQuality.getOrElse(TextAnalysis.qualityScores(docs))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("cluster_id")
      .orderBy(desc("quality_score"), col("doc_id"))
    clusterLabels.select(col("doc_id"), col("label").as("cluster_id"))
      .join(quality, Seq("doc_id"))
      .withColumn("rn", row_number().over(w))
      .select(col("doc_id"), col("cluster_id"), col("quality_score"),
        when(col("rn") === 1, lit(1L)).otherwise(lit(0L)).as("kept"))
  }

  /** dedupCorpusNearDup with the keep-best retention policy: clustered
    * docs that are NOT their cluster's quality argmax are dropped (the
    * x_dedup_keep_best verdicts, reused verbatim); exact dedup and the
    * untouched-singleton streaming are identical to the lowest-id arm.
    */
  private[ext] def dedupCorpusKeepBest(docs: DataFrame,
      clusterLabels: DataFrame,
      precomputedQuality: Option[DataFrame] = None): DataFrame = {
    val losers = keepBestVerdicts(docs, clusterLabels, precomputedQuality)
      .filter(col("kept") === 0L).select("doc_id")
    dedupCorpus(docs).join(losers, Seq("doc_id"), "left_anti")
  }

  /** The keep-best rank CTE pair (shared quality formula + per-cluster
    * argmax over a `lab` CTE) with `p`-prefixed names — the dsirCtes
    * idiom: ONE generator serves the standalone x_dedup_keep_best twin
    * (p = "", byte-identical to the historical text) and the composed
    * pipeline splice (a disjoint prefix), so the composed retention
    * policy cannot drift from the gated standalone semantics.
    */
  private[ext] def keepBestRankCtes(p: String): String =
    s"""${p}q AS (
       |  SELECT doc_id,
       |    ${TextAnalysis.qualityScoreSql} AS quality_score
       |  FROM documents),
       |${p}ranked AS (
       |  SELECT l.doc_id, l.cluster_id, ${p}q.quality_score,
       |    row_number() OVER (PARTITION BY l.cluster_id
       |      ORDER BY ${p}q.quality_score DESC, l.doc_id) AS rn
       |  FROM lab l JOIN ${p}q USING (doc_id))""".stripMargin

  /** Frozen keep-best ADMISSION — the quality-argmax retention policy's
    * entry in the train-once admission matrix (MinHash/IVF/PQ/BPE/NB/
    * winnow all have one): the admitted lower-id half is clustered and
    * ranked ONCE by the batch keep-best chain (ngram-Jaccard ≥ 0.5
    * pairs among admitted docs, star-contraction components widened to
    * singletons, quality argmax per cluster — all the gated operators'
    * own code), and that state FREEZES: the admitted rare-gram index
    * (df ≤ 50 among admitted — upper bound only; the batch [2, 50]
    * lower bound is inapplicable because the arriving doc is the pair's
    * second occurrence, the winnow-admit argument), per-admitted-doc
    * sizes, cluster labels, and each cluster's keeper. A NEW document
    * (upper half) attaches to the cluster of any admitted doc whose
    * frozen-index Jaccard clears the batch 0.5 threshold (several →
    * the minimum label, deterministic), and an attached doc is NEVER
    * kept — the frozen keeper cannot be displaced even by a higher
    * arriving quality score (re-ranking would silently un-admit a doc
    * the pipeline already shipped — the frozen-quantizer argument).
    * Unattached docs pass (kept = 1, their own id as cluster).
    * Scale shape: O(batch × bounded fan-out) per ingest — each new
    * gram joins ≤ 50 admitted docs; only (id, gram-hash) longs shuffle.
    */
  def xDedupKeepBestAdmit(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val (half, idx, keepers) = keepBestAdmitState(spark, dir)
    val newGrams = wordGrams(docs.filter(col("doc_id") >= half))
    val newSz = newGrams.groupBy("doc_id").agg(count(lit(1)).as("nsz"))
    val att = newGrams.join(idx, Seq("gram"))
      .groupBy(col("doc_id"), col("doc_adm"))
      .agg(count(lit(1)).as("ig"), first(col("asz")).as("asz"),
        first(col("label")).as("label"))
      .join(newSz, Seq("doc_id"))
      .filter(col("ig") / (col("nsz") + col("asz") - col("ig")) >= 0.5)
      .groupBy("doc_id").agg(min(col("label")).as("cluster_att"))
    docs.filter(col("doc_id") >= half).select("doc_id")
      .join(att, Seq("doc_id"), "left")
      .join(TextAnalysis.qualityScores(docs), Seq("doc_id"))
      .join(keepers, col("cluster_att") === col("cluster_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_att"), col("doc_id")).as("cluster_id"),
        col("quality_score"),
        col("keeper_id"), col("keeper_quality"),
        when(col("cluster_att").isNull, lit(1L)).otherwise(lit(0L)).as("kept"))
      .orderBy("doc_id")
  }

  /** The FROZEN keep-best admission state — what a production ingest
    * persists and versions per corpus build (the winnowAdmitState /
    * pqAdmitState idiom), shared by the batch gate above and the
    * streaming surface (StreamOps.admitDocsKeepBest) so the two read
    * the identical relations: (half,
    * index (gram, doc_adm, asz, label) — the admitted rare grams
    * (df ≤ 50 admitted-side) with each admitted doc's rare-gram size
    * and frozen cluster label pre-joined,
    * keepers (cluster_id, keeper_id, keeper_quality) — each frozen
    * cluster's quality argmax).
    */
  private[graft] def keepBestAdmitState(spark: SparkSession,
      dir: String): (Long, DataFrame, DataFrame) = {
    val docs = Tables.documents(spark, dir)
    val half = Tables.admissionSplit(docs, "doc_id")
    val adm = docs.filter(col("doc_id") < half)
    // Frozen cluster labels over the admitted half, widened to
    // singletons: every admitted doc owns a cluster (itself by default)
    // so an attachment to an unclustered admitted doc still meets a
    // frozen keeper.
    val (rawPairs, admRare) = ngramJaccardPairsAndRare(adm)
    val cc = nearDupLabelsOf(rawPairs)
    val labels = adm.select("doc_id")
      .join(cc, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("label"), col("doc_id")).as("label"))
    val keepers = keepBestVerdicts(docs, labels)
      .filter(col("kept") === 1L)
      .select(col("cluster_id"), col("doc_id").as("keeper_id"),
        col("quality_score").as("keeper_quality"))
    // r18: the frozen index IS the pair chain's persisted rare-gram
    // relation (admitted (doc_id, gram) rows under the df ≤ 50 cutoff —
    // the previous standalone derivation re-ran the gram explode, the
    // distinct shuffle, and the df aggregate over the same admitted
    // half; guide §2.4). Identical construction, one execution.
    val admIdx = admRare.select(col("gram"), col("doc_id").as("doc_adm"))
    val admSz = admIdx.groupBy("doc_adm").agg(count(lit(1)).as("asz"))
    val idx = admIdx.join(admSz, Seq("doc_adm"))
      .join(labels.withColumnRenamed("doc_id", "doc_adm"), Seq("doc_adm"))
      .select(col("gram"), col("doc_adm"), col("asz"), col("label"))
    (half, idx, keepers)
  }

  def xDedupCorpusNearDup(spark: SparkSession, dir: String): DataFrame =
    dedupCorpusNearDup(Tables.documents(spark, dir), nearDupLabels(spark, dir))
      .select(col("doc_id"), col("source"), col("lang"),
        md5(col("text")).as("text_hash"))
      .orderBy("doc_id")

  // Engine-portable sketch hashing (MinHash + SimHash): a Horner gram/token
  // hash mod P (codegen'd HornerHash expression) composed with 64 affine
  // "permutations" h_i(g) = (a_i·g + b_i) mod P. Every constant below is
  // embedded verbatim into the generated DuckDB oracle SQL, so the sketches
  // are hash-gated bitwise instead of rows-only — the reason NOT to use
  // xxhash64/murmur here. P ≈ 2^30 keeps a_i·g < 2^60 (no overflow on
  // either engine); affine maps mod a prime are 2-independent-ish, plenty
  // for 64-perm MinHash (collision noise among ~10^6 grams is ~10^-3 of
  // signature mass and identical on both engines by construction).
  private[graft] val SketchP = 1000000007L
  private[graft] val (permA, permB) = {
    val rng = new scala.util.Random(7)
    (Array.fill(64)(1L + math.floorMod(rng.nextLong(), SketchP - 1)),
     Array.fill(64)(math.floorMod(rng.nextLong(), SketchP)))
  }

  /** Plain-Scala twin of the MinHash band-signature path — same Horner
    * gram hash, same 64 affine permutations, same 16×4 banding fold as
    * xDedupMinhashLsh's Catalyst expressions, bit for bit. Used by the
    * streaming near-dup dedup (graft.streaming), whose per-doc state
    * function can't ride on Catalyst; ExtensionsSpec pins the streaming
    * path's bucket keys against the batch banding join through this.
    * Returns one (band << 32 | bandSig) key per band, or empty for docs
    * with no 3-gram (never bucketed — matching the batch groupBy over an
    * empty gram set producing no signature row).
    */
  private[graft] def minhashBandKeys(text: String): Seq[Long] = {
    // SIMPLE per-code-point lowercase (SimpleLower.lowerString): bitwise
    // with the batch twin's simple_lower expression AND DuckDB's
    // utf8proc lower() on any text — locale-independent by construction,
    // no full-mapping İ/final-sigma divergence.
    val ws = graft.functions.SimpleLower.lowerString(text).split(" ", -1)
    if (ws.length < 3) return Seq.empty
    val gs = (0 to ws.length - 3).map(i => s"${ws(i)} ${ws(i + 1)} ${ws(i + 2)}")
      .distinct
    val sig = Array.fill(64)(Long.MaxValue)
    gs.foreach { gram =>
      // Code-point fold (HornerHash.foldString) — bitwise with the batch
      // HornerHash expression and the DuckDB ord(substr(..)) oracles on
      // ANY text, not just ASCII.
      val g = graft.functions.HornerHash.foldString(gram, SketchP)
      var i = 0
      while (i < 64) {
        val h = (permA(i) * g + permB(i)) % SketchP
        if (h < sig(i)) sig(i) = h
        i += 1
      }
    }
    (0 until 16).map { b =>
      val fold = ((((sig(4 * b) * 31 + sig(4 * b + 1)) % SketchP) * 31
        + sig(4 * b + 2)) % SketchP * 31 + sig(4 * b + 3)) % SketchP
      (b.toLong << 32) | fold
    }
  }

  /** MinHash + LSH near-dup, hash-gated against a DuckDB oracle built
    * from the same permutation constants (see SketchP note above).
    *
    * 64 "permutations" h_i(g) = (a_i·horner(g) + b_i) mod P; signature =
    * min over the doc's grams per i. LSH: 16 bands of 4 rows; candidates
    * collide on (band, Horner fold of the band's 4 mins). Estimated
    * Jaccard = fraction of equal signature components.
    */
  private val nHashes = 64
  private val bandRows = 4

  /** The 64-column portable MinHash signature table (doc_id, h0..h63) —
    * the persistable dedup STATE: 64 longs per document, text read once.
    */
  private[graft] def minhashSigs(docs: DataFrame): DataFrame = {
    // widen (r19): the gram explode + Horner hash is the signature
    // build's CPU and otherwise runs in the scan's 1–2-task stage
    // (callers pass narrow scan/filter chains — the widen contract).
    val grams = wordGramStrings(Tables.widen(docs))
      .select(col("doc_id"),
        graft.functions.VectorFunctions.hornerHash(col("gram_str"), SketchP).as("g"))
      .distinct()
    val sigAggs = (0 until nHashes).map(i =>
      min((lit(permA(i)) * col("g") + lit(permB(i))) % lit(SketchP)).as(s"h$i"))
    grams.groupBy("doc_id").agg(sigAggs.head, sigAggs.tail: _*)
  }

  /** (doc_id, band, sig) banding of a signature table — derived from the
    * 64 columns only (16 Horner folds/row), never the text.
    */
  private def sigBands(sigs: DataFrame): DataFrame = {
    val bandStructs = (0 until nHashes / bandRows).map { b =>
      val Seq(h0, h1, h2, h3) =
        (b * bandRows until (b + 1) * bandRows).map(i => col(s"h$i"))
      val fold = ((((h0 * 31 + h1) % SketchP) * 31 + h2) % SketchP * 31 + h3) % SketchP
      struct(lit(b).as("band"), fold.as("sig"))
    }
    sigs.select(col("doc_id"), explode(array(bandStructs: _*)).as("bs"))
      .select(col("doc_id"), col("bs.band").as("band"), col("bs.sig").as("sig"))
  }

  /** Exact signature re-rank of candidate pairs: est_jaccard = matching
    * signature components / 64, the shared verification tail.
    */
  private def verifyPairs(cand: DataFrame, sigs: DataFrame): DataFrame = {
    val matches: Column = (0 until nHashes)
      .map(i => when(col(s"sa.h$i") === col(s"sb.h$i"), 1).otherwise(0))
      .reduce(_ + _)
    cand
      .join(sigs.as("sa"), col("d1") === col("sa.doc_id"))
      .join(sigs.as("sb"), col("d2") === col("sb.doc_id"))
      .select(col("d1"), col("d2"),
        round(matches / lit(nHashes.toDouble), 4).as("est_jaccard"))
      .orderBy(desc("est_jaccard"), col("d1"), col("d2"))
  }

  def xDedupMinhashLsh(spark: SparkSession, dir: String): DataFrame = {
    // Signature table feeds the banding AND both sides of the verification
    // join — persist so the 64-aggregate pass runs once (at cluster scale:
    // a materialized signature table, bucketed by doc_id).
    val sigs = minhashSigs(Tables.documents(spark, dir)).persist()
    val bands = sigBands(sigs)
    val cand = bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.sig") === col("b.sig")
          && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .distinct()
    verifyPairs(cand, sigs)
  }

  /** Incremental near-dup admission — the batch-ingest counterpart of the
    * streaming online index: given the PERSISTED signature table of the
    * already-admitted corpus (64 longs/doc — the dedup state; the old
    * text is never re-read) and a batch of new documents, compute the new
    * docs' signatures and emit exactly the candidate pairs that involve
    * at least one new document, scored like the batch operator. Returns
    * (newSigs, newPairs): union newSigs into the state table to admit the
    * batch. Bitwise-identical hashing (same constants) makes this exactly
    * the batch operator's pairs restricted to new-touching pairs, which
    * ExtensionsSpec pins. At 100 TB the join probes the banded state
    * with the new batch's bands — incremental cost is O(new × bucket
    * occupancy), not O(corpus).
    */
  def minhashIncrement(existingSigs: DataFrame,
      newDocs: DataFrame): (DataFrame, DataFrame) = {
    val newSigs = minhashSigs(newDocs).persist()
    val newBands = sigBands(newSigs)
    val allBands = sigBands(existingSigs).unionByName(newBands)
    val cand = newBands.as("a").join(allBands.as("b"),
        col("a.band") === col("b.band") && col("a.sig") === col("b.sig")
          && col("a.doc_id") =!= col("b.doc_id"))
      .select(least(col("a.doc_id"), col("b.doc_id")).as("d1"),
        greatest(col("a.doc_id"), col("b.doc_id")).as("d2"))
      .distinct()
    (newSigs, verifyPairs(cand, existingSigs.unionByName(newSigs)))
  }

  /** Gated frozen-state arm over minhashIncrement at the admission
    * matrix's half-split convention (xAnnIvfAdmit's (max_id+1)/2): the
    * lower-id half's signature table is the persisted dedup state, the
    * upper half arrives as the new batch, and the emitted pairs are
    * exactly the full operator's at-least-one-new restriction (d2 ≥
    * half — pairs are least/greatest-ordered, so the larger side decides
    * newness). Because the portable arm's hashing is exact integer
    * arithmetic (SketchP affine maps over the Horner fold), this arm is
    * oracle-gated BITWISE — the admission matrix's text-dedup column
    * upgraded from spec-only (the xxhash64 fast path's limitation, not
    * this one's).
    */
  def xDedupMinhashAdmit(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val split = Tables.admissionSplit(docs, "doc_id")
    val admitted = minhashSigs(docs.filter(col("doc_id") < split)).persist()
    minhashIncrement(admitted, docs.filter(col("doc_id") >= split))._2
  }

  /** Production-hash MinHash+LSH: the SAME 64-signature / 16×4-banding
    * scheme as xDedupMinhashLsh, but hashed with engine-native xxhash64
    * instead of the portable Horner-mod-prime fold — the fast path a real
    * deployment runs when it doesn't need cross-engine bitwise parity.
    * Gram hash = xxhash64(gram) (already computed once by wordGrams, the
    * shared shingle relation); "permutation" i = xxhash64(gram_hash, i)
    * (full-width 12-byte hash, ~1 mult+rot per byte, vs the O(bytes)
    * re-fold + 64 modular multiplies of the portable path); band key =
    * xxhash64 over the band's 4 mins. Engine-specific hash values by
    * design, so there is deliberately NO DuckDB twin (the rows-only
    * x_approx_stats precedent); correctness is spec-gated instead:
    * recall ≥ 0.9 on planted J ≥ 0.9 pairs and estimator agreement with
    * the exact Jaccard, same gates as the portable variant's spec.
    * Scale shape is identical — shuffle carries 64 longs/doc, never text.
    */
  def xDedupMinhashFast(spark: SparkSession, dir: String): DataFrame = {
    val nHashes = 64
    val bandRows = 4
    val grams = wordGrams(Tables.documents(spark, dir))
    val sigAggs = (0 until nHashes).map(i =>
      min(xxhash64(col("gram"), lit(i))).as(s"h$i"))
    val sigs = grams.groupBy("doc_id").agg(sigAggs.head, sigAggs.tail: _*).persist()
    val bandStructs = (0 until nHashes / bandRows).map { b =>
      val hs = (b * bandRows until (b + 1) * bandRows).map(i => col(s"h$i"))
      struct(lit(b).as("band"), xxhash64(hs: _*).as("sig"))
    }
    val bands = sigs.select(col("doc_id"), explode(array(bandStructs: _*)).as("bs"))
      .select(col("doc_id"), col("bs.band").as("band"), col("bs.sig").as("sig"))
    val cand = bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.sig") === col("b.sig")
          && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .distinct()
    val matches: Column = (0 until nHashes)
      .map(i => when(col(s"sa.h$i") === col(s"sb.h$i"), 1).otherwise(0))
      .reduce(_ + _)
    cand
      .join(sigs.as("sa"), col("d1") === col("sa.doc_id"))
      .join(sigs.as("sb"), col("d2") === col("sb.doc_id"))
      .select(col("d1"), col("d2"),
        round(matches / lit(nHashes.toDouble), 4).as("est_jaccard"))
      .orderBy(desc("est_jaccard"), col("d1"), col("d2"))
  }

  /** SimHash near-dup, hash-gated against a DuckDB oracle built from the
    * same constants (see SketchP note above). 64-bit signature: bit i set
    * iff the sum over tokens of ±1 is positive, where token t votes on
    * bit i by the LOW BIT of the i-th affine hash (a_i·horner(t)+b_i)
    * mod P — 64 independent coin flips per token, reproducible in any
    * engine with integer arithmetic (a single engine-specific 64-bit
    * token hash would have forced this back to rows-only). Candidates
    * from 16-bit band collisions; emit hamming ≤ 6.
    */
  def xDedupSimhash(spark: SparkSession, dir: String): DataFrame = {
    // widen (r19): the token explode + 64 affine votes are the CPU.
    val toks = Tables.widen(Tables.documents(spark, dir))
      .select(col("doc_id"), explode(split(lowerS(col("text")), " ")).as("tok"))
      .filter(col("tok") =!= "")
      .withColumn("h",
        graft.functions.VectorFunctions.hornerHash(col("tok"), SketchP))
    val bitAggs = (0 until 64).map(i =>
      sum(when(((lit(permA(i)) * col("h") + lit(permB(i))) % lit(SketchP))
        .bitwiseAND(lit(1L)) === 1, 1).otherwise(-1)).as(s"b$i"))
    val sums = toks.groupBy("doc_id").agg(bitAggs.head, bitAggs.tail: _*)
    val sh = (0 until 64)
      .map(i => when(col(s"b$i") > 0, expr(s"shiftleft(cast(1 as bigint), $i)")).otherwise(lit(0L)))
      .reduce(_ bitwiseOR _)
    // One row per doc; persisted because both self-join sides consume it.
    val sigs = sums.select(col("doc_id"), sh.as("simhash")).persist()
    val bandStructs = (0 until 4).map(k =>
      struct(lit(k).as("band"), expr(s"(simhash >> ${k * 16}) & 65535").as("bits")))
    val bands = sigs.select(col("doc_id"), col("simhash"),
        explode(array(bandStructs: _*)).as("bs"))
      .select(col("doc_id"), col("simhash"), col("bs.band").as("band"), col("bs.bits").as("bits"))
    bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.bits") === col("b.bits")
          && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"),
        expr("cast(bit_count(a.simhash ^ b.simhash) as bigint)").as("hamming"))
      .distinct()
      .filter(col("hamming") <= 6)
      .orderBy(col("hamming"), col("d1"), col("d2"))
  }

  /** The DuckDB twin of xDedupSimhash, generated from the same constants.
    * Bit 63 is set by adding the sign-bit value directly (DuckDB refuses
    * `1 << 63` as an overflow; adding long-min to the disjoint lower bits
    * is the same two's-complement word Spark's shiftleft builds). Band
    * extraction relies on `>>` being arithmetic in both engines — the
    * `& 65535` mask makes sign-extension irrelevant.
    */
  private def simhashOracleSql: String = {
    val p = SketchP
    val sums = (0 until 64).map(i =>
      s"sum(CASE WHEN ((${permA(i)}*t + ${permB(i)}) % $p) & 1 = 1 THEN 1 ELSE -1 END) AS b$i")
      .mkString(",\n    ")
    val lowBits = (0 until 63)
      .map(i => s"CASE WHEN b$i > 0 THEN (1::BIGINT << $i) ELSE 0 END")
      .mkString(" + ")
    val sig = s"(CASE WHEN b63 > 0 THEN (-9223372036854775807 - 1)::BIGINT ELSE 0 END) + $lowBits"
    val bandStructs = (0 until 4)
      .map(k => s"SELECT doc_id, simhash, $k AS band, (simhash >> ${k * 16}) & 65535 AS bits FROM sig")
      .mkString("\n  UNION ALL ")
    s"""WITH toks AS (
       |  SELECT doc_id, tok FROM (
       |    SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok
       |    FROM documents)
       |  WHERE tok <> ''),
       |th AS (
       |  SELECT doc_id, list_reduce(
       |    list_prepend(0::BIGINT, list_transform(generate_series(1, len(tok)),
       |      j -> ord(substr(tok, j, 1))::BIGINT)),
       |    (h, c) -> (h * 31 + c) % $p) AS t
       |  FROM toks),
       |sums AS (
       |  SELECT doc_id,
       |    $sums
       |  FROM th GROUP BY doc_id),
       |sig AS (
       |  SELECT doc_id, $sig AS simhash FROM sums),
       |bands AS (
       |  $bandStructs)
       |SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2,
       |  CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
       |FROM bands a JOIN bands b
       |  ON a.band = b.band AND a.bits = b.bits AND a.doc_id < b.doc_id
       |WHERE CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) <= 6
       |ORDER BY hamming, d1, d2""".stripMargin
  }

  /** Chunk-level (sub-document) exact dedup — pretraining corpora dedup
    * below document granularity because boilerplate repeats inside
    * otherwise-distinct documents. Reuses the 32-token/stride-24 chunk
    * relation (TextAnalysis.chunkRelation); one shuffle on the chunk md5
    * (never the tokens), keep the lexicographically first
    * (doc_id, chunk_id) per hash. The count window and the row_number
    * share one (hash) partitioning — a single Exchange feeds both.
    */
  def xDedupChunks(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("chunk_hash")).orderBy(col("doc_id"), col("chunk_id"))
    TextAnalysis.chunkRelation(Tables.documents(spark, dir))
      .withColumn("n_copies",
        count(lit(1)).over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("chunk_hash"))))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("chunk_hash"), col("n_copies"),
        col("doc_id").as("keep_doc_id"), col("chunk_id").as("keep_chunk_id"))
      .orderBy("chunk_hash")
  }

  /** Duplicated-SPAN removal with text reconstruction — the Lee et al.
    * 2021 ("Deduplicating Training Data Makes Language Models Better")
    * deliverable the chunk-flag operator stops short of: not just
    * flagging sub-document duplicates but emitting the CLEANED corpus
    * with every non-first occurrence excised. Documents partition into
    * NON-overlapping 32-token spans (disjointness makes removal
    * well-defined — the stride-24 chunk relation can't be cut without
    * double-dropping shared tokens); span identity is the md5 of the
    * simple-lowercased token window (the x_dedup_chunks convention,
    * position-independent so cross-offset repeats match); globally the
    * FIRST occurrence by (doc_id, span_id) survives — within-doc
    * repetition dedups too, all-but-first of an entire duplicated doc
    * empties. Output per doc: span/removal counts, cleaned token count,
    * and the md5 of the reconstructed text (kept spans' ORIGINAL-case
    * tokens in span order, single-space joined — simple case mapping is
    * 1:1 per codepoint and never touches spaces, so original and
    * lowered token positions always align).
    *
    * Scale shape: the dedup verdict rides a SLIM (doc_id, span_id,
    * hash) relation through the hash window and the per-doc rollup
    * (~48-byte rows, ≈ tokens/32 of them); the token payload itself
    * crosses ONE shuffle — the final doc_id equi-join — and the
    * reconstruction is a narrow per-row expression over the kept-id
    * array. Same plan at 100 TB: two slim exchanges + one text-weight
    * join, no token bytes through the window.
    */
  /** The slim (doc_id, span_id, h) span relation — THE span
    * construction every span-dedup surface shares (batch removal,
    * admission index/gate, streaming gate — the bpeTrain single-loop
    * rule): non-overlapping 32-token windows over the simple-lowered
    * whitespace tokens, identity = md5 of the space-joined window.
    */
  private[graft] def spanHashes(docs: DataFrame): DataFrame =
    docs.withColumn("lws", split(lowerS(col("text")), " "))
      .select(col("doc_id"), explode(expr(
        """transform(sequence(0, cast((size(lws) - 1) / 32 as int)),
          |  i -> struct(cast(i as bigint) as span_id,
          |    md5(concat_ws(' ', slice(lws, cast(i * 32 + 1 as int), 32))) as h))"""
          .stripMargin)).as("s"))
      .select(col("doc_id"), col("s.span_id").as("span_id"),
        col("s.h").as("h"))

  /** The shared reconstruction tail: join the per-doc kept-span-id
    * verdicts back to the docs and rebuild the cleaned TEXT from the
    * kept spans' ORIGINAL-case tokens (a narrow per-row expression —
    * the token payload crosses only this one doc_id join). Emits the
    * text itself; the gated surfaces hash it (reconstructClean), the
    * corpus artifact persists it — md5 over the same column ties the
    * written artifact to the oracle-gated hash byte-for-byte.
    */
  private[graft] def reconstructCleanText(docs: DataFrame,
      kept: DataFrame): DataFrame =
    docs.withColumn("ws", split(col("text"), " "))
      .join(kept, Seq("doc_id"))
      .withColumn("kept_toks", expr(
        """flatten(transform(
          |  filter(transform(sequence(0, cast((size(ws) - 1) / 32 as int)),
          |      i -> cast(i as bigint)),
          |    i -> array_contains(keep_ids, i)),
          |  i -> slice(ws, cast(i * 32 + 1 as int), 32)))""".stripMargin))
      .select(col("doc_id"), col("n_spans"), col("n_removed"),
        size(col("kept_toks")).cast("long").as("n_clean_tokens"),
        array_join(col("kept_toks"), " ").as("clean_text"))

  private def reconstructClean(docs: DataFrame, kept: DataFrame): DataFrame =
    reconstructCleanText(docs, kept)
      .select(col("doc_id"), col("n_spans"), col("n_removed"),
        col("n_clean_tokens"), md5(col("clean_text")).as("clean_hash"))
      .orderBy("doc_id")

  /** The span-cleaned corpus with its TEXT — what a training run
    * actually consumes (the Lee et al. deliverable as a relation):
    * every doc's reconstruction under the same global keep-first
    * verdicts the gated x_dedup_span_remove hashes.
    */
  private[graft] def spanRemoveText(docs: DataFrame): DataFrame =
    reconstructCleanText(docs, spanKeepVerdicts(docs))

  /** Per-doc verdicts of the global keep-first rule — THE window+rollup
    * every consumer of the span dedup shares (the removal operator and
    * the prep pipeline's span-dominated cut): span counts, removal
    * counts, and the kept span ids.
    */
  private[graft] def spanKeepVerdicts(docs: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("h")).orderBy(col("doc_id"), col("span_id"))
    // widen (r19): the span tokenize+hash explode is the verdict
    // build's CPU (callers pass narrow chains — the widen contract).
    spanHashes(Tables.widen(docs)).withColumn("rn", row_number().over(w))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_spans"),
        sum(when(col("rn") > 1, lit(1L)).otherwise(lit(0L)))
          .as("n_removed"),
        sort_array(collect_list(when(col("rn") === 1, col("span_id"))))
          .as("keep_ids"))
  }

  private[graft] def spanRemove(docs: DataFrame): DataFrame =
    reconstructClean(docs, spanKeepVerdicts(docs))

  def xDedupSpanRemove(spark: SparkSession, dir: String): DataFrame =
    spanRemove(Tables.documents(spark, dir))

  /** The frozen span-hash index for INCREMENTAL span dedup — the span
    * family's train-once state (the winnowAdmitState idiom): every
    * DISTINCT span hash of the admitted half. Production versions this
    * relation per corpus build (it rides the artifact shelf) and each
    * ingest pays one bounded stream-static join against it — the span
    * counterpart of the admitted fingerprint index, with no df guard
    * because exact-hash membership is already O(1) fan-out per span.
    */
  private[graft] def spanAdmitState(spark: SparkSession,
      dir: String): (Long, DataFrame) = {
    val docs = Tables.documents(spark, dir)
    val half = Tables.admissionSplit(docs, "doc_id")
    (half, spanHashes(docs.filter(col("doc_id") < half))
      .select("h").distinct())
  }

  /** Incremental duplicated-span removal — the admission arm of
    * x_dedup_span_remove: an ARRIVING doc (upper half, the admission
    * split convention) keeps a span iff its hash is NOT in the frozen
    * admitted index AND it is the doc's own first occurrence of that
    * hash (within-doc repeats still dedup in-flight). Cross-arrival
    * duplicates deliberately PASS — deduping arrivals against each
    * other needs evolving state no stateless ingest gate can hold
    * (the x_text_winnow_admit contract); the next corpus build's full
    * spanRemove sweep reclaims them. Admitted docs are never re-read
    * or re-cut: the frozen index cannot move (the frozen-quantizer
    * argument). Streaming surface: StreamOps.cleanDocsSpans — same
    * state, parity-gated.
    */
  def xDedupSpanAdmit(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val (half, idx) = spanAdmitState(spark, dir)
    val arrivals = docs.filter(col("doc_id") >= half)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id"), col("h")).orderBy(col("span_id"))
    val kept = spanHashes(arrivals)
      .join(idx.withColumn("in_idx", lit(1)), Seq("h"), "left")
      .withColumn("rn", row_number().over(w))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_spans"),
        sum(when(col("in_idx").isNotNull || col("rn") > 1, lit(1L))
          .otherwise(lit(0L))).as("n_removed"),
        sort_array(collect_list(when(
          col("in_idx").isNull && col("rn") === 1, col("span_id"))))
          .as("keep_ids"))
    reconstructClean(arrivals, kept)
  }

  /** Embedding-cosine near-dup, label-blocked exact variant: exact cosine
    * over pairs within the same label block (blocking keeps the pair join
    * linear in block size; the unblocked scale path is GATED as
    * Similarity.xDedupEmbCosineLsh — signature-blocked candidates, same
    * verdicts, cross-label reach).
    */
  /** Exact-duplicate verdicts over the EMBEDDING corpus — the vector
    * counterpart of x_dedup_exact, and the mandatory UPSTREAM stage for
    * every similarity-blocked dedup at scale: bit-identical vectors
    * share every LSH signature and every quantizer cell, so geometric
    * blocking concentrates them instead of separating them (the 100×
    * identical-replication cliff measured in SCALE.md — pair joins go
    * quadratic in the replica count). Collapsing exact duplicates is a
    * HASH problem: one window keyed by the embedding itself (Spark
    * hash-partitions the array; the float bytes came from the same
    * parquet, so equality is bitwise on both engines — the same reason
    * the int8/Lloyd arithmetic is portable). Each vector reports its
    * group's min-id keeper; at 100 TB this is one shuffle of the
    * vectors, the exact-text-dedup shape with a wider key.
    */
  def xDedupEmbExact(spark: SparkSession, dir: String): DataFrame =
    withEmbKeeper(spark, dir)
      .select(col("vec_id"), col("keeper_id"),
        when(col("vec_id") =!= col("keeper_id"), lit(1L)).otherwise(lit(0L))
          .as("is_dup"))
      .orderBy("vec_id")

  /** The keeper-only embedding relation (exact duplicates collapsed to
    * their min-id representative) — what similarity-blocked dedup and
    * index builds should consume. Shared by the gated
    * x_dedup_emb_cosine_lsh_clean arm; one definition so the composed
    * arm and the verdict operator can never disagree on who survives.
    */
  def embExactKeepers(spark: SparkSession, dir: String): DataFrame =
    withEmbKeeper(spark, dir)
      .filter(col("vec_id") === col("keeper_id")).drop("keeper_id")

  private def withEmbKeeper(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("embedding"))
    Tables.embeddings(spark, dir)
      .withColumn("keeper_id", min(col("vec_id")).over(w))
  }

  def xDedupEmbCosine(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label"), col("embedding").as("v"))
      .withColumn("nrm",
        sqrt(graft.functions.VectorFunctions.dotProduct(col("v"), col("v"))))
    val a = e.select(col("label"), col("vec_id").as("id1"), col("v").as("v1"), col("nrm").as("n1"))
    val b = e.select(col("label"), col("vec_id").as("id2"), col("v").as("v2"), col("nrm").as("n2"))
    a.join(b, Seq("label"))
      .filter(col("id1") < col("id2"))
      .withColumn("cosine",
        round(graft.functions.VectorFunctions.dotProduct(col("v1"), col("v2"))
          / (col("n1") * col("n2")), 4))
      .filter(col("cosine") >= 0.8)
      .select(col("label"), col("id1"), col("id2"), col("cosine"))
      .orderBy("label", "id1", "id2")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "x_dedup_exact"         -> (xDedupExact _),
    "x_dedup_ngram_jaccard" -> (xDedupNgramJaccard _),
    "x_dedup_cluster"       -> (xDedupCluster _),
    "x_dedup_keep_best"     -> (xDedupKeepBest _),
    "x_dedup_keep_best_admit" -> (xDedupKeepBestAdmit _),
    "x_dedup_corpus_neardup" -> (xDedupCorpusNearDup _),
    "x_dedup_minhash_lsh"   -> (xDedupMinhashLsh _),
    "x_dedup_minhash_admit" -> (xDedupMinhashAdmit _),
    "x_dedup_minhash_fast"  -> (xDedupMinhashFast _),
    "x_dedup_simhash"       -> (xDedupSimhash _),
    "x_dedup_chunks"        -> (xDedupChunks _),
    "x_dedup_span_remove"   -> (xDedupSpanRemove _),
    "x_dedup_span_admit"    -> (xDedupSpanAdmit _),
    "x_dedup_emb_cosine"    -> (xDedupEmbCosine _),
    "x_dedup_emb_exact"     -> (xDedupEmbExact _))

  /** The DuckDB twin of xDedupMinhashLsh, generated from the SAME
    * permutation constants the Spark side uses — the gram Horner fold is
    * list_reduce over ord(substr(..)) (== HornerHash's code-point fold
    * on any text),
    * the 64 per-permutation mins are 64 aggregate columns, and the band
    * signatures UNPIVOT into the same (band, sig) collision join.
    */
  /** `pairWhere` restricts the final verified-pair SELECT (the admission
    * twin's at-least-one-new cut); the empty default emits byte-identical
    * SQL to the historical twin (no WHERE clause at all — the generator
    * byte-stability rule).
    */
  private def minhashOracleSql(pairWhere: String = ""): String = {
    val p = SketchP
    val mins = (0 until 64)
      .map(i => s"min((${permA(i)}*g + ${permB(i)}) % $p) AS h$i").mkString(",\n    ")
    def bandSig(b: Int) = {
      val Seq(h0, h1, h2, h3) = (b * 4 until b * 4 + 4).map(i => s"h$i")
      s"((((($h0*31 + $h1) % $p)*31 + $h2) % $p)*31 + $h3) % $p AS s$b"
    }
    val bands = (0 until 16).map(bandSig).mkString(",\n    ")
    val bandCols = (0 until 16).map(b => s"s$b").mkString(", ")
    val matches = (0 until 64)
      .map(i => s"CASE WHEN sa.h$i = sb.h$i THEN 1 ELSE 0 END").mkString(" + ")
    val whereClause = if (pairWhere.isEmpty) "" else s"\nWHERE $pairWhere"
    s"""WITH g0 AS (
       |  SELECT DISTINCT doc_id, gram FROM (
       |    SELECT doc_id,
       |      unnest(list_transform(generate_series(1, greatest(len(ws) - 2, 0)),
       |        i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS gram
       |    FROM (SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents))),
       |gh AS (
       |  SELECT doc_id, list_reduce(
       |    list_prepend(0::BIGINT, list_transform(generate_series(1, len(gram)),
       |      j -> ord(substr(gram, j, 1))::BIGINT)),
       |    (h, c) -> (h * 31 + c) % $p) AS g
       |  FROM g0),
       |sigs AS (
       |  SELECT doc_id,
       |    $mins
       |  FROM gh GROUP BY doc_id),
       |bands AS (
       |  SELECT doc_id,
       |    $bands
       |  FROM sigs),
       |long_bands AS (
       |  SELECT doc_id, band, sig FROM bands
       |  UNPIVOT (sig FOR band IN ($bandCols))),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
       |  FROM long_bands a JOIN long_bands b
       |    ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id)
       |SELECT d1, d2, round(($matches) / 64.0, 4) AS est_jaccard
       |FROM cand
       |JOIN sigs sa ON d1 = sa.doc_id
       |JOIN sigs sb ON d2 = sb.doc_id$whereClause
       |ORDER BY est_jaccard DESC, d1, d2""".stripMargin
  }

  val oracle: Map[String, String] = Map(
    "x_dedup_minhash_lsh" -> minhashOracleSql(),
    // Admission twin: the full chain with the at-least-one-new pair cut
    // (d2 is the pair's max, so it alone decides newness; // floor-div
    // matches Spark's div on non-negative ids).
    "x_dedup_minhash_admit" -> minhashOracleSql(
      "d2 >= (SELECT (max(doc_id) + 1) // 2 FROM documents)"),
    "x_dedup_simhash" -> simhashOracleSql,
    "x_dedup_chunks" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents),
        |s AS (
        |  SELECT doc_id, ws,
        |    unnest(generate_series(0, greatest(len(ws) - 1, 0), 24)) AS start
        |  FROM t),
        |c AS (
        |  SELECT doc_id, start // 24 AS chunk_id,
        |    ws[start + 1 : least(start + 32, len(ws))] AS ctoks
        |  FROM s WHERE start < len(ws)),
        |ch AS (
        |  SELECT doc_id, chunk_id, md5(array_to_string(ctoks, ' ')) AS chunk_hash
        |  FROM c WHERE len(ctoks) > 0)
        |SELECT chunk_hash, n_copies, keep_doc_id, keep_chunk_id FROM (
        |  SELECT chunk_hash, doc_id AS keep_doc_id, chunk_id AS keep_chunk_id,
        |    COUNT(*) OVER (PARTITION BY chunk_hash) AS n_copies,
        |    row_number() OVER (PARTITION BY chunk_hash
        |      ORDER BY doc_id, chunk_id) AS rn
        |  FROM ch)
        |WHERE rn = 1
        |ORDER BY chunk_hash""".stripMargin,
    // Duplicated-span removal: DuckDB's array_to_string([], ' ') is
    // NULL (Spark's array_join gives '') — the coalesce keeps the
    // fully-emptied-doc hash at md5('') on both engines.
    "x_dedup_span_remove" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS ot,
        |    string_split(lower(text), ' ') AS lt
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, ot, lt,
        |    unnest(generate_series(0, ((len(ot) - 1) // 32) * 32, 32)) AS start
        |  FROM t),
        |sp AS (
        |  SELECT doc_id, start // 32 AS span_id,
        |    md5(array_to_string(lt[start + 1 : start + 32], ' ')) AS h
        |  FROM s),
        |r AS (
        |  SELECT doc_id, span_id,
        |    row_number() OVER (PARTITION BY h ORDER BY doc_id, span_id) AS rn
        |  FROM sp),
        |k AS (
        |  SELECT doc_id, COUNT(*) AS n_spans,
        |    CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
        |    list(span_id ORDER BY span_id) FILTER (WHERE rn = 1) AS keep_ids
        |  FROM r GROUP BY doc_id),
        |f AS (
        |  SELECT t.doc_id, k.n_spans, k.n_removed,
        |    flatten(list_transform(coalesce(k.keep_ids, []),
        |      i -> t.ot[i * 32 + 1 : i * 32 + 32])) AS kt
        |  FROM t JOIN k USING (doc_id))
        |SELECT doc_id, n_spans, n_removed,
        |  CAST(len(kt) AS BIGINT) AS n_clean_tokens,
        |  md5(coalesce(array_to_string(kt, ' '), '')) AS clean_hash
        |FROM f ORDER BY doc_id""".stripMargin,
    "x_dedup_span_admit" ->
      """WITH hl AS (SELECT (max(doc_id) + 1) // 2 AS half FROM documents),
        |lows AS (
        |  SELECT doc_id, string_split(lower(text), ' ') AS lt
        |  FROM documents, hl WHERE doc_id < hl.half),
        |aidx AS (
        |  SELECT DISTINCT md5(array_to_string(lt[start + 1 : start + 32], ' ')) AS h
        |  FROM (SELECT doc_id, lt,
        |      unnest(generate_series(0, ((len(lt) - 1) // 32) * 32, 32)) AS start
        |    FROM lows)),
        |t AS (
        |  SELECT doc_id, string_split(text, ' ') AS ot,
        |    string_split(lower(text), ' ') AS lt
        |  FROM documents, hl WHERE doc_id >= hl.half),
        |s AS (
        |  SELECT doc_id, ot, lt,
        |    unnest(generate_series(0, ((len(ot) - 1) // 32) * 32, 32)) AS start
        |  FROM t),
        |sp AS (
        |  SELECT doc_id, start // 32 AS span_id,
        |    md5(array_to_string(lt[start + 1 : start + 32], ' ')) AS h
        |  FROM s),
        |r AS (
        |  SELECT doc_id, span_id,
        |    row_number() OVER (PARTITION BY doc_id, h ORDER BY span_id) AS rn,
        |    (h IN (SELECT h FROM aidx)) AS in_idx
        |  FROM sp),
        |k AS (
        |  SELECT doc_id, COUNT(*) AS n_spans,
        |    CAST(SUM(CASE WHEN in_idx OR rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
        |    list(span_id ORDER BY span_id) FILTER (WHERE NOT in_idx AND rn = 1) AS keep_ids
        |  FROM r GROUP BY doc_id),
        |f AS (
        |  SELECT t.doc_id, k.n_spans, k.n_removed,
        |    flatten(list_transform(coalesce(k.keep_ids, []),
        |      i -> t.ot[i * 32 + 1 : i * 32 + 32])) AS kt
        |  FROM t JOIN k USING (doc_id))
        |SELECT doc_id, n_spans, n_removed,
        |  CAST(len(kt) AS BIGINT) AS n_clean_tokens,
        |  md5(coalesce(array_to_string(kt, ' '), '')) AS clean_hash
        |FROM f ORDER BY doc_id""".stripMargin,
    "x_dedup_exact" ->
      """SELECT md5(lower(trim(text))) AS text_hash, COUNT(*) AS n_copies,
        |  MIN(doc_id) AS keep_doc_id
        |FROM documents
        |GROUP BY 1
        |ORDER BY text_hash""".stripMargin,
    "x_dedup_ngram_jaccard" ->
      """WITH g AS (
        |  SELECT DISTINCT doc_id, gram FROM (
        |    SELECT doc_id,
        |      unnest(list_transform(generate_series(1, greatest(len(ws) - 2, 0)),
        |        i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS gram
        |    FROM (SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents))),
        |rare AS (
        |  SELECT g.doc_id, g.gram FROM g
        |  JOIN (SELECT gram FROM g GROUP BY 1 HAVING COUNT(*) <= 50) f USING (gram)),
        |sz AS (SELECT doc_id, COUNT(*) AS sz FROM rare GROUP BY 1),
        |inter AS (
        |  SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS inter_grams
        |  FROM rare a JOIN rare b ON a.gram = b.gram AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT d1, d2, inter_grams,
        |  round(inter_grams / (sa.sz + sb.sz - inter_grams), 6) AS jaccard
        |FROM inter
        |JOIN sz sa ON d1 = sa.doc_id
        |JOIN sz sb ON d2 = sb.doc_id
        |ORDER BY inter_grams / (sa.sz + sb.sz - inter_grams) DESC, d1, d2
        |LIMIT 20""".stripMargin,
    "x_dedup_cluster" ->
      """WITH RECURSIVE g AS (
        |  SELECT DISTINCT doc_id, gram FROM (
        |    SELECT doc_id,
        |      unnest(list_transform(generate_series(1, greatest(len(ws) - 2, 0)),
        |        i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS gram
        |    FROM (SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents))),
        |rare AS (
        |  SELECT g.doc_id, g.gram FROM g
        |  JOIN (SELECT gram FROM g GROUP BY 1 HAVING COUNT(*) <= 50) f USING (gram)),
        |sz AS (SELECT doc_id, COUNT(*) AS sz FROM rare GROUP BY 1),
        |inter AS (
        |  SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS inter_grams
        |  FROM rare a JOIN rare b ON a.gram = b.gram AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |pairs AS (
        |  SELECT d1, d2 FROM inter
        |  JOIN sz sa ON d1 = sa.doc_id JOIN sz sb ON d2 = sb.doc_id
        |  WHERE inter_grams / (sa.sz + sb.sz - inter_grams) >= 0.5),
        |edges AS (
        |  SELECT d1 AS a, d2 AS b FROM pairs
        |  UNION ALL SELECT d2, d1 FROM pairs),
        |reach(a, b) AS (
        |  SELECT a, b FROM edges
        |  UNION
        |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
        |lab AS (
        |  SELECT a AS doc_id, least(a, MIN(b)) AS cluster_id
        |  FROM reach GROUP BY a)
        |SELECT doc_id, cluster_id,
        |  COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size
        |FROM lab
        |ORDER BY doc_id""".stripMargin,
    // Keep-best twin: the x_dedup_cluster reach/lab chain (copied like
    // the corpus_neardup twin copies it — the frozen-chain precedent)
    // + the shared quality formula + per-cluster argmax.
    "x_dedup_keep_best" ->
      s"""WITH RECURSIVE g AS (
        |  SELECT DISTINCT doc_id, gram FROM (
        |    SELECT doc_id,
        |      unnest(list_transform(generate_series(1, greatest(len(ws) - 2, 0)),
        |        i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS gram
        |    FROM (SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents))),
        |rare AS (
        |  SELECT g.doc_id, g.gram FROM g
        |  JOIN (SELECT gram FROM g GROUP BY 1 HAVING COUNT(*) <= 50) f USING (gram)),
        |sz AS (SELECT doc_id, COUNT(*) AS sz FROM rare GROUP BY 1),
        |inter AS (
        |  SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS inter_grams
        |  FROM rare a JOIN rare b ON a.gram = b.gram AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |pairs AS (
        |  SELECT d1, d2 FROM inter
        |  JOIN sz sa ON d1 = sa.doc_id JOIN sz sb ON d2 = sb.doc_id
        |  WHERE inter_grams / (sa.sz + sb.sz - inter_grams) >= 0.5),
        |edges AS (
        |  SELECT d1 AS a, d2 AS b FROM pairs
        |  UNION ALL SELECT d2, d1 FROM pairs),
        |reach(a, b) AS (
        |  SELECT a, b FROM edges
        |  UNION
        |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
        |lab AS (
        |  SELECT a AS doc_id, least(a, MIN(b)) AS cluster_id
        |  FROM reach GROUP BY a),
        |${keepBestRankCtes("")}
        |SELECT doc_id, cluster_id, quality_score,
        |  CASE WHEN rn = 1 THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS kept
        |FROM ranked
        |ORDER BY doc_id""".stripMargin,
    // Keep-best ADMISSION twin: the cluster chain restricted to the
    // admitted half (lower-id split, the minhash-admit convention),
    // labels widened to singletons, the SHARED rank chain
    // (keepBestRankCtes — so the frozen keepers are the gated argmax),
    // then the frozen-index attach: new-doc grams vs admitted rare
    // grams at the batch 0.5 Jaccard threshold (admitted-side df ≤ 50
    // only — the winnow-admit lower-bound argument).
    "x_dedup_keep_best_admit" ->
      s"""WITH RECURSIVE g AS (
        |  SELECT DISTINCT doc_id, gram FROM (
        |    SELECT doc_id,
        |      unnest(list_transform(generate_series(1, greatest(len(ws) - 2, 0)),
        |        i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS gram
        |    FROM (SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents))),
        |ag AS (
        |  SELECT doc_id, gram FROM g
        |  WHERE doc_id < (SELECT (max(doc_id) + 1) // 2 FROM documents)),
        |rare AS (
        |  SELECT ag.doc_id, ag.gram FROM ag
        |  JOIN (SELECT gram FROM ag GROUP BY 1 HAVING COUNT(*) <= 50) f USING (gram)),
        |sz AS (SELECT doc_id, COUNT(*) AS sz FROM rare GROUP BY 1),
        |inter AS (
        |  SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS inter_grams
        |  FROM rare a JOIN rare b ON a.gram = b.gram AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |pairs AS (
        |  SELECT d1, d2 FROM inter
        |  JOIN sz sa ON d1 = sa.doc_id JOIN sz sb ON d2 = sb.doc_id
        |  WHERE inter_grams / (sa.sz + sb.sz - inter_grams) >= 0.5),
        |edges AS (
        |  SELECT d1 AS a, d2 AS b FROM pairs
        |  UNION ALL SELECT d2, d1 FROM pairs),
        |reach(a, b) AS (
        |  SELECT a, b FROM edges
        |  UNION
        |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
        |cc AS (
        |  SELECT a AS doc_id, least(a, MIN(b)) AS cluster_id
        |  FROM reach GROUP BY a),
        |lab AS (
        |  SELECT d.doc_id, COALESCE(cc.cluster_id, d.doc_id) AS cluster_id
        |  FROM documents d LEFT JOIN cc USING (doc_id)
        |  WHERE d.doc_id < (SELECT (max(doc_id) + 1) // 2 FROM documents)),
        |${keepBestRankCtes("")},
        |keepx AS (
        |  SELECT cluster_id, doc_id AS keeper_id,
        |    quality_score AS keeper_quality
        |  FROM ranked WHERE rn = 1),
        |ng AS (
        |  SELECT doc_id, gram FROM g
        |  WHERE doc_id >= (SELECT (max(doc_id) + 1) // 2 FROM documents)),
        |nsz AS (SELECT doc_id, COUNT(*) AS nsz FROM ng GROUP BY 1),
        |ainter AS (
        |  SELECT n.doc_id, r.doc_id AS doc_adm, COUNT(*) AS ig
        |  FROM ng n JOIN rare r ON n.gram = r.gram
        |  GROUP BY 1, 2),
        |att AS (
        |  SELECT ai.doc_id, MIN(l.cluster_id) AS cluster_att
        |  FROM ainter ai
        |  JOIN sz ON ai.doc_adm = sz.doc_id
        |  JOIN nsz ON ai.doc_id = nsz.doc_id
        |  JOIN lab l ON ai.doc_adm = l.doc_id
        |  WHERE ig / (nsz.nsz + sz.sz - ig) >= 0.5
        |  GROUP BY 1)
        |SELECT n.doc_id,
        |  COALESCE(att.cluster_att, n.doc_id) AS cluster_id,
        |  q.quality_score,
        |  keepx.keeper_id, keepx.keeper_quality,
        |  CAST(CASE WHEN att.doc_id IS NULL THEN 1 ELSE 0 END AS BIGINT) AS kept
        |FROM documents n
        |JOIN q ON n.doc_id = q.doc_id
        |LEFT JOIN att ON n.doc_id = att.doc_id
        |LEFT JOIN keepx ON att.cluster_att = keepx.cluster_id
        |WHERE n.doc_id >= (SELECT (max(doc_id) + 1) // 2 FROM documents)
        |ORDER BY n.doc_id""".stripMargin,
    "x_dedup_corpus_neardup" ->
      """WITH RECURSIVE g AS (
        |  SELECT DISTINCT doc_id, gram FROM (
        |    SELECT doc_id,
        |      unnest(list_transform(generate_series(1, greatest(len(ws) - 2, 0)),
        |        i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS gram
        |    FROM (SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents))),
        |rare AS (
        |  SELECT g.doc_id, g.gram FROM g
        |  JOIN (SELECT gram FROM g GROUP BY 1 HAVING COUNT(*) <= 50) f USING (gram)),
        |sz AS (SELECT doc_id, COUNT(*) AS sz FROM rare GROUP BY 1),
        |inter AS (
        |  SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS inter_grams
        |  FROM rare a JOIN rare b ON a.gram = b.gram AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |pairs AS (
        |  SELECT d1, d2 FROM inter
        |  JOIN sz sa ON d1 = sa.doc_id JOIN sz sb ON d2 = sb.doc_id
        |  WHERE inter_grams / (sa.sz + sb.sz - inter_grams) >= 0.5),
        |edges AS (
        |  SELECT d1 AS a, d2 AS b FROM pairs
        |  UNION ALL SELECT d2, d1 FROM pairs),
        |reach(a, b) AS (
        |  SELECT a, b FROM edges
        |  UNION
        |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
        |lab AS (
        |  SELECT a AS doc_id, least(a, MIN(b)) AS cluster_id
        |  FROM reach GROUP BY a),
        |exact AS (
        |  SELECT MIN(doc_id) AS doc_id FROM documents
        |  GROUP BY md5(lower(trim(text))))
        |SELECT d.doc_id, d.source, d.lang, md5(d.text) AS text_hash
        |FROM documents d
        |JOIN exact e ON d.doc_id = e.doc_id
        |WHERE d.doc_id NOT IN (SELECT doc_id FROM lab WHERE doc_id <> cluster_id)
        |ORDER BY d.doc_id""".stripMargin,
    "x_dedup_emb_cosine" ->
      """WITH e AS (
        |  SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
        |n AS (
        |  SELECT vec_id, label, v,
        |    sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM e)
        |SELECT a.label, a.vec_id AS id1, b.vec_id AS id2,
        |  round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 4) AS cosine
        |FROM n a JOIN n b ON a.label = b.label AND a.vec_id < b.vec_id
        |WHERE round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 4) >= 0.8
        |ORDER BY a.label, id1, id2""".stripMargin,
    // Exact-dup twin: the same min-id window keyed by the embedding list
    // itself — FLOAT[] equality is bitwise on both engines because both
    // read the identical parquet bytes (no arithmetic ever runs).
    "x_dedup_emb_exact" ->
      """SELECT vec_id, keeper_id,
        |  CAST(CASE WHEN vec_id <> keeper_id THEN 1 ELSE 0 END AS BIGINT)
        |    AS is_dup
        |FROM (
        |  SELECT vec_id,
        |    min(vec_id) OVER (PARTITION BY embedding) AS keeper_id
        |  FROM embeddings)
        |ORDER BY vec_id""".stripMargin)
}
