package graft.ext

import graft.Tables
import graft.functions.VectorFunctions
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over the `embeddings` table
  * (Array[Float] column): brute-force cosine top-k as the exact baseline,
  * and a random-hyperplane LSH bucketed variant as the scale path.
  *
  * Scale notes: brute-force is O(Q·N) — fine when the query set Q is small
  * and broadcastable (here: broadcast the queries, stream the corpus).
  * The LSH variant buckets the corpus by 10-bit hyperplane signatures in
  * 12 hash tables with 2-bit multi-probe on the query side — spec-gated
  * recall@5 ≥ 0.8 against the exact baseline, with the candidate
  * fraction governed by the corpus's neighbor/bulk cosine gap (see the
  * config comment); hyperplanes are deterministic (seed 42), so results
  * reproduce across runs and executors.
  */
object Similarity {

  private val dims = 64
  // OR-amplification + multi-probe: a corpus vector is a candidate if it
  // lands in the query's probe set of ANY table. 12 tables × 10-bit
  // signatures, each query probing its bucket plus every 1- and 2-bit
  // flip (56 probes/table). Tuned empirically on the testdata: its top-5
  // neighbors sit at cosine 0.27–0.39 (per-plane agreement q ≈ 0.61,
  // barely above the 0.5 bulk), so this config measures recall@5 ≈ 0.9
  // at ~50% candidate fraction — the LSH exponent ρ = ln q / ln ½ ≈ 0.71
  // makes that price irreducible for near-random neighbors. On a real
  // clustered embedding corpus (neighbors at cos ≥ 0.7, q ≥ 0.75) the
  // SAME operator needs far fewer probes: candidate fraction collapses
  // exponentially in the neighbor/bulk gap while recall holds; grow
  // planesPerTable with log2 N to keep per-bucket counts flat.
  private[ext] val nTables = 12
  private[ext] val planesPerTable = 10

  /** Deterministic random hyperplanes (seed 42), one plane matrix per hash
    * table, passed to the codegen'd HyperplaneSignature expression as a
    * referenced constant — the signature pass stays inside
    * WholeStageCodegen (no per-row UDF invoke / Seq boxing), one fused
    * double loop per row.
    */
  private[graft] lazy val tablePlanes: Array[Array[Array[Double]]] =
    planeGrid(nTables, planesPerTable, 42)

  // The banded-dedup DENSITY knob gated as a parameter (the
  // x_dedup_semantic_k64 precedent): at 100 TB per-table bucket
  // occupancy is ∝ N/2^P, so P grows ~log2 N and T restores the
  // high-cosine collision probability 1−(1−(1−acos(c)/π)^P)^T. The
  // wide arm (T=24, P=14) cuts per-table occupancy 16× for 2× the
  // signature passes and 2× the (8-byte) exploded rows: collision
  // stays ≥ 0.997 at the true-near-dup band (c ≥ 0.95) and ~1.0 at
  // the crawl-duplicate band (c ≥ 0.99), while boundary c = 0.8
  // candidates trade down to ~0.63 — candidate recall at the
  // threshold boundary is the documented banding tradeoff; the
  // verify threshold itself is unchanged. A distinct seed (4242)
  // keeps the historical 12×10 matrix's RNG stream untouched.
  private[ext] val nTablesWide = 24
  private[ext] val planesWide = 14
  private[graft] lazy val tablePlanesWide: Array[Array[Array[Double]]] =
    planeGrid(nTablesWide, planesWide, 4242)

  /** Deterministic hyperplane-grid constructor — ONE fill order (table-
    * major, then plane × dim off a single seeded RNG stream) behind the
    * historical 12×10 matrix, the wide 24×14 arm, and any derived next
    * grid step, so a grid is a pure function of (tables, planes, seed)
    * and byte-stable across builds/executors.
    */
  private[graft] def planeGrid(tables: Int, planes: Int,
      seed: Long): Array[Array[Array[Double]]] = {
    val rng = new scala.util.Random(seed)
    Array.fill(tables)(Array.fill(planes, dims)(rng.nextGaussian()))
  }

  /** The GRID SCHEDULE — SCALE.md's banding/cell-count parameter prose
    * as ONE derivation every build-scale consumer calls (the Pipeline
    * vector layers, the frozen-artifact shelf build, ScaleProbe's
    * scaled deployed mode), instead of hand-picked constants per call
    * site: given the corpus's vector count, the (plane matrices,
    * coarse-quantizer cell count) the banded/blocked operators run
    * in budget at. The measured steps (each pinned by a gated arm or a
    * SCALE.md probe row):
    *  - ≤ 4k vectors (the gated sf0.1 regime, 2k): the historical
    *    12×10 grid + k=16 — the byte-stable defaults every oracle pins
    *  - ≤ 40k (the 10×-grown regime, 20k): 24×14 + k=64 (the gated
    *    t24p14 / k64 arms — measured CHEAPER than the fixed grid at
    *    10× on both the banding and the within-cell stages)
    *  - beyond (the 100×-grown regime, 200k): 24×14 banding + k ≈ √N
    *    cells (the prepknob k=450 row; per-cell population ~√N keeps
    *    within-cell pair blocks ∝ N, and serving's nProbe/k scan
    *    shrinks with k) — √N rounded, floored at the 64 step.
    * Banding plane count grows ~log2 N (bucket occupancy ∝ N/2^P), so
    * past the measured range (200k, the 100×-grown regime) the
    * schedule applies [[probeGridFor]]'s occupancy-bounded derivation
    * UNPROBED (r17, closing this docstring's own promise): the
    * smallest P whose estimated candidate-pair volume T·N·(N/2^P)/2
    * fits [[singleHostPairBudget]] — P=16 at 400k, P=21 at 2M, P=27 at
    * 20M, growing ~2·log2 N as the volume formula says it must. The
    * derivation is CONTINUOUS with the measured steps: at n = 200k it
    * returns exactly P=14 (29.3M pairs, the measured 106.9 s row), and
    * every ≤200k return stays the byte-stable [[tablePlanesWide]] BY
    * REFERENCE (the knob rule — oracles and measured rows must not
    * move); within the measured range 24×14's 100×-grown occupancy
    * (~12/bucket, the 99.8 s composed-prep row) is the documented
    * in-budget level.
    */
  private[graft] def gridFor(nVectors: Long)
      : (Array[Array[Array[Double]]], Int) =
    if (nVectors <= 4000L) (tablePlanes, 16)
    else if (nVectors <= 40000L) (tablePlanesWide, 64)
    else {
      val k = math.max(64, math.round(math.sqrt(nVectors.toDouble)).toInt)
      val p = unprobedPlanesFor(nVectors)
      (if (p == planesWide) tablePlanesWide
       else planeGrid(nTablesWide, p, 4242), k)
    }

  /** The measured SINGLE-HOST candidate-pair budget the grid schedule
    * sizes banding against — ONE constant (r17; it was a literal inside
    * probeGridFor while gridFor's unprobed extension also needs it).
    * Provenance: the 100×-grown 24×14 unprobed clean-pair pass ran
    * 106.9 s at ~29M candidate pairs (SCALE.md's banding table — the
    * in-budget anchor), while the same corpus probed at P=14 (~15×
    * volume) spilled >70 GB and died on a 32-thread/128 GiB host (the
    * measured wall). 29M + ~25% headroom = 36M. A cluster deployment
    * re-measures this once per executor shape; every derived grid step
    * then moves together.
    */
  private[graft] val singleHostPairBudget: Double = 36e6

  /** Smallest plane count P ≥ the wide step whose UNPROBED estimated
    * candidate volume T·N·(N/2^P)/2 fits [[singleHostPairBudget]] —
    * shared by gridFor's past-measured-range extension (applied
    * unprobed) and capped at 40 like the probe derivation (2^40
    * buckets outruns any corpus this formula will meet).
    */
  private def unprobedPlanesFor(nVectors: Long): Int = {
    def vol(p: Int): Double =
      nTablesWide.toDouble * nVectors * (nVectors.toDouble / (1L << p)) / 2
    Iterator.from(planesWide)
      .find(p => vol(p) <= singleHostPairBudget || p >= 40).get
  }

  /** The PROBE arm's grid — the "take the next grid step before
    * probing" doctrine as a derivation: 1-bit multi-probe multiplies
    * candidate volume ~(P+1)× (15× at P=14 — the measured >70 GB
    * single-host spill at 100× grown), so the probe arm steps P up
    * until its estimated candidate-pair volume T·N·(N/2^P)/2·(P+1)
    * fits the measured single-host budget (~29M unprobed pairs at the
    * 100×-grown 106.9 s row, +25% headroom). Measured anchor points:
    * ≤10×-grown probes the unprobed grid as-is (the gated
    * _t24p14_probe arm, 4.4M pairs), 100×-grown (200k) steps to P=18
    * — exactly the SCALE.md step the prose named. Same 4242 stream as
    * the wide grid (the P=14 prefix of a wider grid differs — each
    * (T,P) is its own byte-stable matrix).
    */
  private[graft] def probeGridFor(nVectors: Long)
      : Array[Array[Array[Double]]] = {
    val base = gridFor(nVectors)._1
    val tables = base.length
    def pairVol(p: Int): Double =
      tables.toDouble * nVectors * (nVectors.toDouble / (1L << p)) / 2 * (p + 1)
    val p0 = base(0).length
    if (pairVol(p0) <= singleHostPairBudget) base
    else planeGrid(nTablesWide,
      Iterator.from(p0 + 1)
        .find(p => pairVol(p) <= singleHostPairBudget || p >= 40).get,
      4242)
  }

  private def bucketExpr(t: Int) =
    VectorFunctions.hyperplaneSignature(col("embedding"), tablePlanes(t))

  /** Norm via the codegen'd dot_product expression (graft.functions):
    * float→double widening is exact, and the sequential-add fold order is
    * identical to the SQL `aggregate(zip_with(...))` formulation, so
    * results stay bit-compatible with the DuckDB oracle.
    */
  private def withVecNorm(df: DataFrame): DataFrame =
    df.withColumn("v", col("embedding"))
      .withColumn("nrm", sqrt(VectorFunctions.dotProduct(col("embedding"), col("embedding"))))

  private val dot = VectorFunctions.dotProduct(col("v1"), col("v2"))

  /** Shared exact re-rank tail: candidate pairs (query_id, neighbor_id,
    * v1, n1, v2, n2) → top-k by cosine with deterministic tie-breaks.
    */
  private def rerankTopK(pairs: DataFrame, k: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(round(col("cosine_raw"), 6).desc, col("neighbor_id"))
    pairs
      .withColumn("cosine_raw", dot / (col("n1") * col("n2")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("neighbor_id"), round(col("cosine_raw"), 4).as("cosine"))
      .orderBy("query_id", "rank")
  }

  /** Neighbor exclusion for replicated probe corpora: ScaleProbe
    * synthesizes an N× corpus by shifting vec_ids in multiples of
    * `shift`, so every query vector has N−1 exact duplicates at cosine
    * 1.0 — recall against a baseline full of those would be vacuously
    * perfect (identical vectors share every LSH signature). Dropping
    * neighbors whose base id (mod shift) equals the query id makes the
    * 10× recall probe measure real neighbor recovery in 10×-fuller
    * buckets. shift = 0 (production path) excludes nothing.
    */
  private def keepNeighbor(replicaShift: Long) =
    if (replicaShift > 0) pmod(col("neighbor_id"), lit(replicaShift)) =!= col("query_id")
    else lit(true)

  private def knnBruteForce(spark: SparkSession, dir: String,
      replicaShift: Long): DataFrame = {
    val e = withVecNorm(Tables.embeddings(spark, dir))
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("v").as("v1"), col("nrm").as("n1"))
    val c = e.select(col("vec_id").as("neighbor_id"), col("v").as("v2"), col("nrm").as("n2"))
    rerankTopK(broadcast(q).join(c, col("query_id") =!= col("neighbor_id"))
      .filter(keepNeighbor(replicaShift)), 5)
  }

  /** Brute-force cosine top-5 for query vectors vec_id < 10. Queries are
    * broadcast; ranking ties broken on (rounded cosine, neighbor_id).
    */
  def xKnnBruteForce(spark: SparkSession, dir: String): DataFrame =
    knnBruteForce(spark, dir, 0L)

  // --- Johnson–Lindenstrauss random-projection dimensionality reduction -

  // 32 output dims halve scan bytes/flops; at 16 the per-pair JL noise
  // (~1/√16 = 0.25) swamps this corpus's 0.27–0.39 neighbor/bulk cosine
  // gap (direct top-5 recall measures 0.0 — the same irreducible-price
  // geometry the LSH config comment documents). 32 dims put the noise at
  // ~0.18, and the shortlist+exact-rerank shape below measures recall
  // 0.80/0.88 (sf0.01/sf0.1) at a 20% candidate fraction. On a real
  // clustered corpus (neighbors at cos ≥ 0.7) the same operator runs at
  // 16 dims and a far smaller fraction — these knobs trade scan cost for
  // recall exactly like nTables/planesPerTable do for LSH.
  private[ext] val rpOutDims = 32

  /** ±1 Rademacher sign matrix [rpOutDims][dims] (Achlioptas' database-
    * friendly JL construction — sign flips are EXACT float ops, so unlike
    * a Gaussian matrix the projection stays bitwise-portable). Signs are
    * drawn from a seeded generator (the tablePlanes seed-42 idiom; an
    * affine-parity map is NOT usable here — for idx ≤ 1024 it never
    * wraps its modulus, so the sign would depend on the parity of i
    * alone and every output row would be the same projection). The
    * matrix is embedded verbatim as literals in BOTH the Spark plan and
    * the generated DuckDB twin (the minhash-constants idiom), so the
    * derivation itself never needs a SQL replay.
    */
  private[ext] lazy val rpSigns: Array[Array[Double]] = {
    val rng = new scala.util.Random(1337)
    Array.fill(rpOutDims, dims)(if (rng.nextBoolean()) 1.0 else -1.0)
  }

  /** One projected coordinate: the fixed-order left fold of x_i·s_ji in
    * element order (the adcDistance portability idiom — each term is an
    * exact sign flip of a float widened to double, the sum order is
    * pinned, so Spark's aggregate(zip_with) == DuckDB's
    * list_reduce(list_prepend) bitwise).
    */
  private def rpCol(j: Int): org.apache.spark.sql.Column =
    aggregate(
      zip_with(expr("transform(embedding, x -> cast(x as double))"),
        typedlit(rpSigns(j).toSeq), (x, s) => x * s),
      lit(0d), (acc, t) => acc + t)

  /** The shared projection pass — ONE builder behind the gated query and
    * the streaming surface (the keepBestAdmitState rule): a narrow
    * per-row map, no shuffle, O(rows·rpOutDims·dims) inside
    * WholeStageCodegen. At 100 TB this is the cheap front-end that cuts
    * every downstream distance computation dims/rpOutDims-fold
    * (64→`rpOutDims` = 32 dims, 2×) — the standard prefilter before
    * brute-force/ANN re-rank.
    */
  private[graft] def rpProject(df: DataFrame): DataFrame =
    df.select(col("vec_id"),
      array((0 until rpOutDims).map(rpCol): _*).as("v"))

  /** The wide (one column per coordinate) projection shape — shared by
    * the gated relation and the streaming surface (one builder, the
    * keepBestAdmitState rule). */
  private[graft] def rpProjectWide(df: DataFrame): DataFrame =
    rpProject(df).select(col("vec_id") +: (0 until rpOutDims).map(j =>
      element_at(col("v"), j + 1).as(f"rp_$j%02d")): _*)

  /** JL random projection 64→32 as a gated relation: one row per vector,
    * zero-padded rp_00..rp_31 coordinate columns (raw doubles — bitwise
    * equal across engines by the fixed-fold argument, so no rounding,
    * which round-at-boundary would make LESS portable, not more).
    */
  def xEmbRpReduce(spark: SparkSession, dir: String): DataFrame =
    rpProjectWide(Tables.embeddings(spark, dir)).orderBy("vec_id")

  private[ext] val rpShortlistMin = 50
  private[ext] val rpShortlistDenom = 5

  /** RP-shortlisted ANN (queries vec_id < 10): reduced-space cosine
    * ranks a shortlist of greatest(50, N/5) candidates, exact full-dim
    * cosine re-ranks the shortlist — the PQ-ADC shape with the
    * projection as the cheap metric. This is how JL reduction is
    * actually deployed: NEVER rank by projected cosine directly (the
    * rpOutDims comment — direct top-5 recall measures 0.0 on this
    * corpus), but as a 2×-cheaper scan whose errors the exact tail
    * repairs (recall vs x_knn_bruteforce spec-pinned). The shortlist is
    * a candidate FRACTION, not a constant — a fixed N's recall decays
    * as the corpus grows (measured: 50-of-500 → 0.50, 50-of-2000 →
    * 0.28), so the cutoff composes the corpus count via the one
    * legitimate 1-row broadcast (the Nth-cutoff precedent). At 100 TB
    * the dominant O(Q·N·d) term halves and the projected corpus is half
    * the scan bytes of the raw one. Hash-gated bitwise: the twin
    * composes the rp CTE with the reduced-space rank (round-6 +
    * neighbor_id ties) and the standard exact re-rank tail.
    */
  def xAnnRp(spark: SparkSession, dir: String): DataFrame = {
    val red = rpProject(Tables.embeddings(spark, dir))
      .withColumn("rnrm", sqrt(VectorFunctions.dotProduct(col("v"), col("v"))))
    val q = red.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("v").as("qrv"), col("rnrm").as("qrn"))
    val c = red.select(col("vec_id").as("neighbor_id"), col("v").as("crv"), col("rnrm").as("crn"))
    val cnt = Tables.embeddings(spark, dir).agg(count(lit(1)).as("n_corpus"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(round(col("rp_cos"), 6).desc, col("neighbor_id"))
    val short = broadcast(q).join(c, col("query_id") =!= col("neighbor_id"))
      .withColumn("rp_cos",
        VectorFunctions.dotProduct(col("qrv"), col("crv")) / (col("qrn") * col("crn")))
      .withColumn("rp_rank", row_number().over(w))
      .crossJoin(broadcast(cnt))
      .filter(col("rp_rank") <= greatest(lit(rpShortlistMin.toLong),
        expr(s"n_corpus div $rpShortlistDenom")))
      .select("query_id", "neighbor_id")
    val raw = withVecNorm(Tables.embeddings(spark, dir))
    val qr = raw.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("v").as("v1"), col("nrm").as("n1"))
    val cr = raw.select(col("vec_id").as("neighbor_id"), col("v").as("v2"), col("nrm").as("n2"))
    rerankTopK(short.join(broadcast(qr), Seq("query_id")).join(cr, Seq("neighbor_id")), 5)
  }

  /** DuckDB list literal of one projection row's ±1 signs. */
  private def rpSignList(j: Int): String =
    rpSigns(j).map(s => if (s > 0) "1.0" else "-1.0").mkString("[", ", ", "]")

  /** The generated twin of one rpCol fold (embedded sign literals, same
    * fold order). `vecExpr` names the embedding column in scope. */
  private def rpTermSql(j: Int, vecExpr: String): String =
    s"""list_reduce(list_prepend(0.0,
       |    list_transform(generate_series(1, $dims),
       |      i -> CAST($vecExpr[i] AS DOUBLE) * (${rpSignList(j)})[i])),
       |    (a, x) -> a + x)""".stripMargin

  /** The rp CTE both generated twins share: vec_id + the `rpOutDims`
    * projected coordinates as a DOUBLE list. */
  private def rpCteSql: String =
    s"""rp AS (
       |  SELECT vec_id,
       |    [${(0 until rpOutDims).map(j => rpTermSql(j, "embedding")).mkString(",\n     ")}] AS v
       |  FROM embeddings)""".stripMargin

  /** Probe masks: the exact bucket plus every 1- and 2-bit flip — a near
    * neighbor that misses the exact bucket almost always disagrees on
    * one or two borderline planes.
    */
  private[ext] lazy val probeMasks: Seq[Long] = {
    val singles = (0 until planesPerTable).map(1L << _)
    0L +: (singles ++ singles.combinations(2).map(p => p(0) | p(1)))
  }

  /** LSH-bucketed ANN (hash-gated against the generated DuckDB twin
    * below; recall@5 vs the exact brute force is additionally spec-gated
    * ≥ 0.8): 12 hash tables of 10 random
    * hyperplanes (10-bit signature → 1024 buckets/table). Corpus vectors
    * index under their exact signature; queries MULTI-PROBE their bucket
    * plus every 1- and 2-bit flip (56 probes/table). Candidates from any
    * table are deduped and exactly re-ranked by cosine, top-5 per query
    * vec_id < 10. See the config comment above for the measured
    * recall/candidate-fraction tradeoff and how it improves on clustered
    * real-world corpora.
    */
  def xAnnLsh(spark: SparkSession, dir: String): DataFrame =
    annLsh(spark, dir, 0L)

  /** `bucketCap` (default unbounded — the oracle-gated configuration)
    * truncates each (table, bucket) inverted list to its lowest-id
    * `bucketCap` members before the probe join — the standard guard
    * against DEGENERATE buckets at corpus scale (a spam/boilerplate
    * cluster of near-identical embeddings fills one bucket with
    * thousands of entries, and an uncapped probe join pays the whole
    * list for every query that lands there). Capping is recall-safe
    * precisely in that degenerate case: an overfull bucket means
    * near-duplicate vectors, so any K of them represent the rest
    * (dedup upstream is the real fix; the cap bounds the worst case
    * when it hasn't run). ScaleProbe measures the capped arm at 10×
    * replication: recall@5 gated ≥ 0.8, candidate join cost bounded by
    * nTables·cap per query instead of bucket occupancy.
    */
  private def annLsh(spark: SparkSession, dir: String,
      replicaShift: Long, bucketCap: Int = Int.MaxValue): DataFrame = {
    val e0 = withVecNorm(Tables.embeddings(spark, dir))
    val withBuckets = (0 until nTables).foldLeft(e0) { (df, t) =>
      df.withColumn(s"bucket_$t", bucketExpr(t))
    }
    val sigBuckets = (0 until nTables).map(t =>
      struct(lit(t).as("tbl"), col(s"bucket_$t").as("bucket")))
    // Corpus indexed once under exact signatures; persist to push the
    // corpus through the hyperplanes a single time for both sides.
    val buckets = withBuckets.select(col("vec_id"), col("v"), col("nrm"),
        explode(array(sigBuckets: _*)).as("tb"))
      .select(col("vec_id"), col("v"), col("nrm"),
        col("tb.tbl").as("tbl"), col("tb.bucket").as("bucket"))
      .persist()
    val probes = probeMasks.map(m => col("bucket").bitwiseXOR(lit(m)))
    val q = buckets.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("tbl"),
        explode(array(probes: _*)).as("bucket"),
        col("v").as("v1"), col("nrm").as("n1"))
    val corpus0 = buckets.select(col("vec_id").as("neighbor_id"), col("tbl"),
      col("bucket"), col("v").as("v2"), col("nrm").as("n2"))
    val c = if (bucketCap == Int.MaxValue) corpus0 else {
      // One extra shuffle on (tbl, bucket) — the same key the probe join
      // shuffles on anyway — with a map-side WindowGroupLimit pre-filter.
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("tbl"), col("bucket")).orderBy(col("neighbor_id"))
      corpus0.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") <= bucketCap).drop("__rn")
    }
    rerankTopK(broadcast(q).join(c, Seq("tbl", "bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .filter(keepNeighbor(replicaShift))
      .select("query_id", "neighbor_id", "v1", "n1", "v2", "n2")
      .dropDuplicates("query_id", "neighbor_id"), 5)
  }

  /** ScaleProbe hooks: mean recall@5 of each ANN variant vs exact brute
    * force over the corpus at `dir`, excluding same-base replica
    * neighbors (see keepNeighbor) so a synthetically replicated corpus
    * measures genuine neighbor recovery rather than duplicate self-hits.
    */
  def probeRecall5(spark: SparkSession, dir: String, replicaShift: Long,
      bucketCap: Int = Int.MaxValue): Double =
    meanRecall5(knnBruteForce(spark, dir, replicaShift),
      annLsh(spark, dir, replicaShift, bucketCap))

  /** IVF recall under the same replica-exclusion probe: cells fill N×
    * (every replica lands in its base vector's cell), so this measures
    * whether the nProbe cell walk still recovers the true neighbors from
    * N×-fuller inverted lists. `k`/`rounds` expose the quantizer scale
    * knobs (ScaleProbe measures the k=64, 3-round arm alongside the
    * gated default).
    */
  def probeRecall5Ivf(spark: SparkSession, dir: String, replicaShift: Long,
      k: Int = 16, rounds: Int = 1, hashSpread: Boolean = false): Double =
    meanRecall5(knnBruteForce(spark, dir, replicaShift),
      annIvf(spark, dir, replicaShift, k, rounds, hashSpread))

  /** PQ/ADC recall under the same probe: replication multiplies every
    * code cell's population, so this measures whether the 8×16 codebook
    * still separates true neighbors from the bulk at N× corpus size.
    */
  def probeRecall5Pq(spark: SparkSession, dir: String, replicaShift: Long,
      shortlist: Int = pqShortlist, cbRounds: Int = 1,
      hashSpread: Boolean = false): Double =
    meanRecall5(knnBruteForce(spark, dir, replicaShift),
      annPq(spark, dir, replicaShift, shortlist, cbRounds, hashSpread))

  /** IVF+PQ recall under the same probe: inverted lists fill N× AND
    * every code cell fills N×, so this stresses both quantizers at once. */
  def probeRecall5IvfPq(spark: SparkSession, dir: String, replicaShift: Long,
      shortlist: Int = pqShortlist): Double =
    meanRecall5(knnBruteForce(spark, dir, replicaShift),
      annIvfPq(spark, dir, replicaShift, shortlist))

  /** Residual IVFADC under the same probe. */
  def probeRecall5IvfAdc(spark: SparkSession, dir: String, replicaShift: Long,
      shortlist: Int = pqShortlist): Double =
    meanRecall5(knnBruteForce(spark, dir, replicaShift),
      annIvfAdc(spark, dir, replicaShift, shortlist))

  /** Flat SQ8 under the same probe (shortlist scaled like PQ's — the
    * candidate-fraction rationale). */
  def probeRecall5Sq8(spark: SparkSession, dir: String, replicaShift: Long,
      shortlist: Int = sq8Shortlist): Double =
    meanRecall5(knnBruteForce(spark, dir, replicaShift),
      annSq8(spark, dir, replicaShift, shortlist))

  /** IVF+SQ8 under the same probe: inverted lists fill N× while the
    * int8 codes keep their fixed ~1/254 distortion — isolates the probe
    * walk's contribution from the compression's. */
  def probeRecall5IvfSq8(spark: SparkSession, dir: String, replicaShift: Long,
      shortlist: Int = sq8Shortlist): Double =
    meanRecall5(knnBruteForce(spark, dir, replicaShift),
      annIvfSq8(spark, dir, replicaShift, shortlist))

  private def meanRecall5(exactDf: DataFrame, approxDf: DataFrame): Double = {
    def tops(df: DataFrame): Map[Long, Set[Long]] = df.collect()
      .groupBy(_.getAs[Long]("query_id"))
      .view.mapValues(_.map(_.getAs[Long]("neighbor_id")).toSet).toMap
    val exact = tops(exactDf)
    val approx = tops(approxDf)
    val recalls = exact.map { case (q, ex) =>
      approx.get(q).map(a => (a intersect ex).size.toDouble / ex.size).getOrElse(0.0)
    }
    recalls.sum / recalls.size
  }

  /** IVF-style ANN, hash-gated against the generated DuckDB twin below:
    * deterministic coarse quantizer (centroids seeded from the first K
    * vectors, one Lloyd refinement), corpus partitioned by nearest
    * centroid, queries probe the nProbe nearest cells and re-rank
    * exactly within them. At scale the inverted lists are the partition
    * layout: each query reads nProbe/K of the corpus. Centroids are tiny
    * (K × dims) and ride into the codegen'd NearestCentroid/NearestCells
    * expressions as referenced constants (same pattern as
    * hyperplane_signature), so both assignment passes and the probe pass
    * stay inside WholeStageCodegen — no per-row UDF invoke on the corpus
    * scan. ExtensionsSpec pins the expressions bitwise against the UDF
    * formulation they replaced.
    *
    * The Lloyd step refines in EXACT integer arithmetic: each component
    * is quantized to the 2⁻²⁴ grid (trunc((x+16)·2²⁴) — exact in double
    * for |x| < 16, i.e. any normalized embedding), per-cell sums are
    * longs, and the mean is a floor-div dequantized to an exact dyadic
    * double. A float avg() would differ from any other engine in the
    * last ulp (partial-agg order), silently flipping boundary
    * assignments; the 2⁻²⁴ quantization costs nothing at float input
    * precision and makes the centroids — and so the whole operator —
    * bitwise reproducible anywhere (the avgMoney6 idiom, applied to
    * vectors).
    */
  /** The IVF coarse-quantizer assignment shared by the ANN query and the
    * diversity sampler: deterministic seeds (first k vectors), `rounds`
    * exact quantized Lloyd refinements, corpus assigned to its nearest
    * refined centroid. Returns (assigned corpus [persisted], refined
    * centroids). The gated queries keep (k=16, rounds=1) — bitwise
    * frozen against the generated oracle; at 100 TB the same code runs
    * with k ~ √N and a few rounds (each round is one corpus pass + one
    * k×dims aggregate — the exact-integer Lloyd step composes, and the
    * oracle generator loops one CTE block per round). ScaleProbe gates
    * the k=64, 3-round arm at 10× replication.
    */
  /** Seed + Lloyd-refine the coarse quantizer over `train` ONLY — shared
    * by the full-corpus quantizer (train == corpus) and the incremental
    * admission arm (train == the already-admitted half, centroids then
    * FROZEN for new batches). Each round is one train-corpus pass + one
    * k×dims exact-integer aggregate collected to the driver (bounded:
    * k ≲ 10⁴ coarse cells — see SCALE.md's Lloyd note).
    */
  private def lloydCentroids(train: DataFrame, k: Int, rounds: Int,
      hashSpread: Boolean = false): Array[Array[Double]] = {
    // Deterministic seed centroids. Default: the first k vectors by id —
    // oracle-friendly but degenerate if the first k happen to cluster.
    // hashSpread: the k lowest (md5-bucket, vec_id) ranks — the
    // growth-stable id bucket (diversity-sample idiom) scatters seeds
    // pseudo-randomly across the corpus independent of id locality,
    // the kmeans++-shaped guard, still a pure function of the ids so
    // the generated twin replays it (cell c = rank c in bucket order).
    val seeds: Array[Array[Double]] =
      (if (hashSpread)
        train.select(col("embedding"),
          TextAnalysis.md5Bucket(10000, col("vec_id")).as("b"), col("vec_id"))
          .orderBy("b", "vec_id").limit(k).select("embedding").collect()
      else
        train.filter(col("vec_id") < k)
          .orderBy("vec_id").select("embedding").collect())
      .map(_.getSeq[Float](0).map(_.toDouble).toArray)
    // Lloyd refinement rounds: exact quantized per-cell mean (see scaladoc)
    var cents = seeds
    for (_ <- 0 until rounds) {
      val assigned0 = train.withColumn("cell",
        VectorFunctions.nearestCentroid(col("embedding"), cents))
      // Keyed by cell id, NOT dense-packed: a cell that wins zero vectors
      // (possible when seed vectors duplicate) keeps its previous
      // centroid instead of silently shifting every higher cell's index —
      // the oracle's refc mirrors the same fallback with a left join
      // against the prior round's centroids.
      val byCell: Map[Int, Array[Double]] = assigned0
        .select(col("cell"), posexplode(col("embedding")).as(Seq("pos", "x")))
        .groupBy("cell", "pos")
        .agg(sum(((col("x").cast("double") + lit(16d)) * lit(16777216d)).cast("long")).as("sq"),
          count(lit(1)).as("n"))
        .select(col("cell"), col("pos"),
          (expr("sq div n").cast("double") / lit(16777216d) - lit(16d)).as("m"))
        .collect()
        .groupBy(_.getInt(0))
        .map { case (cell, rows) =>
          cell -> rows.sortBy(_.getInt(1)).map(_.getDouble(2)).toArray
        }
      val prev = cents
      cents = Array.tabulate(k)(c => byCell.getOrElse(c, prev(c)))
    }
    cents
  }

  /** Spec/stream access to the coarse-quantizer trainer: the streaming
    * admission op freezes exactly these centroids (see
    * StreamOps.assignVectors and its batch-parity spec). */
  private[graft] def trainCoarseCentroids(train: DataFrame, k: Int,
      rounds: Int): Array[Array[Double]] = lloydCentroids(train, k, rounds)

  private def ivfAssigned(spark: SparkSession, dir: String,
      k: Int = 16, rounds: Int = 1,
      hashSpread: Boolean = false,
      srcOverride: Option[DataFrame] = None): (DataFrame, Array[Array[Double]]) = {
    val e = withVecNorm(srcOverride.getOrElse(Tables.embeddings(spark, dir)))
    val cents = lloydCentroids(e, k, rounds, hashSpread)
    (e.withColumn("cell",
      VectorFunctions.nearestCentroid(col("embedding"), cents)).persist(),
      cents)
  }

  /** Incremental IVF admission — the embedding-side counterpart of the
    * MinHash signature-state admission: the coarse quantizer is trained
    * ONCE on the already-admitted corpus (here: the lower-id half, split
    * at (max_id+1)/2 so the boundary is a pure function of the corpus),
    * its centroids FROZEN, and a new batch is assigned to cells with the
    * codegen'd nearest_centroid pass alone — no re-clustering, no
    * re-reading admitted vectors. That is the production pattern for a
    * growing 100 TB vector corpus (train-once/assign-forever: one narrow
    * map per ingest batch, O(batch·k·dims)); re-running Lloyd per batch
    * would both cost a corpus pass AND silently move every existing
    * vector's cell, invalidating persisted inverted lists. Hash-gated
    * bitwise: the generated twin trains the same exact-integer quantizer
    * on the same half and assigns the complement.
    */
  def xAnnIvfAdmit(spark: SparkSession, dir: String): DataFrame = {
    val e = withVecNorm(Tables.embeddings(spark, dir))
    val split = Tables.admissionSplit(e, "vec_id")
    val cents = lloydCentroids(e.filter(col("vec_id") < split), 16, 1)
    e.filter(col("vec_id") >= split)
      .select(col("vec_id"),
        VectorFunctions.nearestCentroid(col("embedding"), cents)
          .cast("long").as("cell"))
      .orderBy("vec_id")
  }

  def xAnnIvf(spark: SparkSession, dir: String): DataFrame =
    annIvf(spark, dir, 0L)

  private[graft] def annIvf(spark: SparkSession, dir: String,
      replicaShift: Long, k: Int = 16, rounds: Int = 1,
      hashSpread: Boolean = false): DataFrame = {
    val nProbe = 4
    val (assigned, refined) = ivfAssigned(spark, dir, k, rounds, hashSpread)
    // queries probe the nProbe nearest refined centroids
    val q = assigned.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("v").as("v1"), col("nrm").as("n1"),
        explode(VectorFunctions.nearestCells(col("embedding"), refined, nProbe))
          .as("cell"))
    val c = assigned.select(col("vec_id").as("neighbor_id"), col("cell"),
      col("v").as("v2"), col("nrm").as("n2"))
    rerankTopK(broadcast(q).join(c, Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .filter(keepNeighbor(replicaShift))
      .select("query_id", "neighbor_id", "v1", "n1", "v2", "n2")
      .dropDuplicates("query_id", "neighbor_id"), 5)
  }

  /** The BANDED SWAP for embedding near-dup detection — SCALE.md's
    * documented 100 TB guard for x_dedup_emb_cosine's label-block pair
    * join, gated instead of prose: candidate pairs are LSH bucket
    * collisions (exact signature equality in ANY of the 12 tables — the
    * MinHash-banding idiom in embedding space, no label crutch), then
    * the same exact round(cosine, 4) ≥ 0.8 verdicts. Blocking by
    * signature bounds the pair join by bucket occupancy (signature
    * entropy, plus the ANN family's bucket-cap arm at need) instead of
    * label-block size, and finds CROSS-label near-dups the label
    * blocking structurally cannot. Identical-replica packing still
    * concentrates (replicas share every signature) — removing identical
    * vectors is exact dedup's job upstream; this arm guards DENSITY,
    * distinct-but-close vectors. Recall vs the label-blocked exact
    * operator is spec-gated; per-pair collision probability at cosine c
    * is 1−(1−(1−acos(c)/π)¹⁰)¹² ≈ 1.0 at planted near-dup cosines.
    */
  def xDedupEmbCosineLsh(spark: SparkSession, dir: String): DataFrame = {
    val e = withVecNorm(Tables.embeddings(spark, dir))
    val buckets = lshInvertedList(e)
    lshVerifiedPairs(buckets, buckets, e)
  }

  /** The banded dedup with exact-duplicate collapse composed UPSTREAM:
    * the signature chain runs over Dedup.embExactKeepers (min-id
    * representatives of bit-identical vectors) instead of the raw
    * corpus. Identical vectors share every hyperplane sign, so no
    * banding can separate them — an exact-replica cluster of size m
    * packs m rows into each of its 12 buckets and the collision join
    * pays m² per bucket (the measured 100×-replication cliff:
    * SCALE.md). Hash-collapsing them FIRST bounds every bucket by
    * DISTINCT-vector occupancy; near-dup semantics are unchanged
    * because a dropped duplicate's verdicts are its keeper's verdicts
    * with a different id. This ordering (exact before similarity) is
    * the same staging x_llm_corpus_prep uses on text.
    */
  def xDedupEmbCosineLshClean(spark: SparkSession, dir: String): DataFrame =
    lshCleanPairsWith(spark, dir, tablePlanes)

  /** ONE parameterized construction behind the historical 12×10 clean
    * arm and the wide density-knob arm (the lshInvertedListWith idiom
    * lifted to the whole pair chain): keeper collapse upstream, the
    * banded inverted list at `planes`, shared collision/verify tail.
    * The composed preps thread their banding through here, so the knob
    * and the standalone gates can never diverge.
    */
  private[graft] def lshCleanPairsWith(spark: SparkSession, dir: String,
      planes: Array[Array[Array[Double]]]): DataFrame = {
    val e = withVecNorm(Dedup.embExactKeepers(spark, dir))
    val buckets = lshInvertedListWith(e, planes)
    lshVerifiedPairs(buckets, buckets, e)
  }

  /** The clean banded dedup at the WIDE banding parameterization
    * (T=24 tables × P=14 planes — see the knob note at the constants):
    * the gated form of "scale the blocking grid with the corpus" for
    * the near-dup family, the x_dedup_semantic_k64 precedent applied
    * to banding. Same keeper source, same collision/verify tail, 16×
    * sparser buckets per table for 2× the signature work — the
    * configuration a 100 TB deployment runs where the fixed 12×10 grid
    * hits the measured density wall (SCALE.md's 100× grown note). The
    * planted spec pins that crawl-band near-dups (cos ≥ 0.99) are
    * found identically to the default arm.
    */
  def xDedupEmbCosineLshCleanWide(spark: SparkSession, dir: String): DataFrame =
    lshCleanPairsWith(spark, dir, tablePlanesWide)

  /** 1-bit multi-probe masks for the wide banding: the identity plus
    * every single-plane flip — 15 probes/table at P=14 (the x_ann_lsh
    * 2-bit probe idiom, one bit is enough here: per-table collision at
    * the c = 0.8 verify boundary is P(Hamming ≤ 1) = q¹⁴ + 14·q¹³(1−q)
    * ≈ 0.19 at q = 1−acos(0.8)/π ≈ 0.795, so 24 tables give ≈ 0.993
    * candidate recall — vs ≈ 0.63 unprobed, the documented t24p14
    * tradeoff). 2-bit probing would cost 106 masks/table for the last
    * ~0.007; the knee is at 1 bit.
    */
  private[ext] lazy val wideProbeMasks: Seq[Long] =
    0L +: (0 until planesWide).map(1L << _)

  /** The wide-banding clean dedup with 1-bit MULTI-PROBE — the arm
    * that removes the t24p14 knob's boundary-recall tradeoff: one side
    * of the collision join probes its bucket plus every 1-bit flip
    * (bucket XOR mask), so candidate pairs need only Hamming-distance-
    * ≤ 1 signatures in ANY table instead of exact equality; the exact
    * round(cosine, 4) ≥ 0.8 verify is unchanged. A pair at Hamming
    * distance 1 in table t collides through exactly the flipped-bit
    * mask from the lower id's side (masks are symmetric), so probing
    * ONE side suffices. Scale shape: the probe explosion is 15× rows
    * of 8-byte ids against buckets that are 16× sparser than the
    * 12×10 grid's — per-probe join cost stays below the default arm's
    * per-bucket cost, and the crawl-band (cos ≥ 0.99) behavior is
    * identical (exact-signature collisions are a subset of probed
    * ones). The 100 TB deployment gets the density win AND ≈ 0.99
    * boundary candidate recall.
    */
  def xDedupEmbCosineLshCleanWideProbe(spark: SparkSession,
      dir: String): DataFrame =
    lshCleanProbePairsWith(spark, dir, tablePlanesWide)

  /** The probed clean pair chain parameterized over the grid (r16 —
    * the gated wide probe arm is this at tablePlanesWide, byte-stable:
    * the 1-bit mask list is a pure function of the grid's plane count
    * and equals wideProbeMasks at P=14). Exists so the probe doctrine's
    * NEXT grid step (probeGridFor — P=18 at 200k) is runnable and
    * measurable, not prose.
    */
  private[graft] def lshCleanProbePairsWith(spark: SparkSession,
      dir: String, planes: Array[Array[Array[Double]]]): DataFrame = {
    val e = withVecNorm(Dedup.embExactKeepers(spark, dir))
    val buckets = lshInvertedListWith(e, planes)
    val masks: Seq[Long] = 0L +: (0 until planes(0).length).map(1L << _)
    val probes = buckets
      .select(col("vec_id"), col("tbl"), col("bucket"),
        explode(typedlit(masks)).as("m"))
      .select(col("vec_id"), col("tbl"),
        col("bucket").bitwiseXOR(col("m")).as("bucket"))
    lshVerifiedPairs(probes, buckets, e)
  }

  /** EMBEDDING-space eval decontamination — the vector counterpart of
    * x_text_contamination / x_split_leakage: after the deterministic
    * md5-bucket eval holdout (bucket < 10 of 100 on the keeper id —
    * the train/val/split convention), flag every TRAIN keeper that is
    * a near-duplicate (the clean banded chain's rounded cosine ≥ 0.8
    * verdict) of an EVAL keeper. N-gram decontamination catches
    * copied TEXT; this catches semantically-identical leakage that
    * survives paraphrase — the benchmark-leak class gram overlap
    * structurally misses. Output: (train_id, eval_id, cosine) per
    * leaking pair, either orientation normalized. Scale shape: the
    * already-probed clean banded chain + two narrow id-keyed split
    * joins — membership is a pure function of the id, so no new
    * shuffle wider than the verdict pairs themselves.
    */
  def xEmbContamination(spark: SparkSession, dir: String,
      planes: Array[Array[Array[Double]]] = tablePlanes): DataFrame = {
    val pairs = lshCleanPairsWith(spark, dir, planes)
    val ev = Dedup.embExactKeepers(spark, dir).select(col("vec_id"),
      (TextAnalysis.md5Bucket(100, col("vec_id")) < 10).as("is_eval"))
    pairs
      .join(ev.select(col("vec_id").as("id1"), col("is_eval").as("e1")), Seq("id1"))
      .join(ev.select(col("vec_id").as("id2"), col("is_eval").as("e2")), Seq("id2"))
      .filter(col("e1") =!= col("e2"))
      .select(
        when(col("e1"), col("id2")).otherwise(col("id1")).as("train_id"),
        when(col("e1"), col("id1")).otherwise(col("id2")).as("eval_id"),
        col("cosine"))
      .orderBy("train_id", "eval_id")
  }

  /** Near-dup vector CLUSTERS — the vector twin of x_dedup_cluster:
    * connected components (the same large/small-star O(log d)
    * contraction, eager per-round checkpoints) over the clean banded
    * verdicts, labeled by each component's minimum vec_id. Pairwise
    * keep-lowest drops a vector only when a DIRECT lower-id near-dup
    * exists; clustering closes the chain transitively (a→b→c collapses
    * to one keeper even when a↮c never paired) — the same reason the
    * text side clusters before materializing its corpus. Runs over
    * exact keepers by construction (the pair chain is the clean arm),
    * so the replication cliff never reaches the contraction. Output:
    * every CLUSTERED vector's (cluster_id, cluster_size); singletons
    * stream through upstream untouched, exactly the text convention.
    */
  def xDedupEmbCluster(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cluster_id"))
    embClusterLabels(spark, dir)
      .select(col("doc_id").as("vec_id"), col("label").as("cluster_id"))
      .withColumn("cluster_size", count(lit(1)).over(w))
      .orderBy("vec_id")
  }

  /** CC labels over the clean banded verdicts — shared by the cluster
    * gate and the corpus artifact so membership cannot drift. `planes`
    * scales the blocking grid (the r15 Pipeline-layer knob); the gated
    * arms keep the default. */
  private def embClusterLabels(spark: SparkSession, dir: String,
      planes: Array[Array[Array[Double]]] = tablePlanes): DataFrame = {
    val pairs = lshCleanPairsWith(spark, dir, planes)
      .select(col("id1").as("d1"), col("id2").as("d2"))
    Dedup.connectedComponents(pairs)._1
  }

  /** Centroid-proximity retention over near-dup vector clusters — the
    * SemDeDup paper's keep policy (retain the example closest to its
    * cluster centroid) as a gated operator, and the vector counterpart
    * of x_dedup_keep_best's quality argmax: per CC cluster (the same
    * clean banded edges and star labels), each member's distance to the
    * cluster's EXACT-INTEGER mean (the Lloyd-step 2⁻²⁴-grid
    * quantization, so the centroid is a dyadic double both engines
    * reproduce bitwise) ranks it; rank 1 (ties to the lower id) is
    * kept. Distances are the fixed-order IEEE fold (aggregate(zip_with)
    * == list_reduce(list_prepend)), the adcDistance portability idiom.
    * Scale shape: per-dim sums shuffle (cluster_id, pos) longs; the
    * argmax window partitions by cluster over CLUSTERED keepers only.
    */
  def xDedupEmbKeepCentral(spark: SparkSession, dir: String,
      planes: Array[Array[Array[Double]]] = tablePlanes): DataFrame = {
    val labels = embClusterLabels(spark, dir, planes)
      .select(col("doc_id").as("vec_id"), col("label").as("cluster_id"))
    val e = withVecNorm(Dedup.embExactKeepers(spark, dir))
    val members = labels.join(e.select(col("vec_id"), col("v")), Seq("vec_id"))
    val ctrs = members
      .select(col("cluster_id"), posexplode(col("v")).as(Seq("pos", "x")))
      .groupBy("cluster_id", "pos")
      .agg(sum(((col("x").cast("double") + lit(16d)) * lit(16777216d))
        .cast("long")).as("sq"), count(lit(1)).as("n"))
      .select(col("cluster_id"), col("pos"),
        (expr("sq div n").cast("double") / lit(16777216d) - lit(16d)).as("m"))
      .groupBy("cluster_id")
      .agg(expr("array_sort(collect_list(struct(pos, m)))").as("pm"))
      .select(col("cluster_id"), expr("transform(pm, p -> p.m)").as("c"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cluster_id")).orderBy(col("d"), col("vec_id"))
    members.join(ctrs, Seq("cluster_id"))
      .withColumn("d", expr(
        "aggregate(zip_with(v, c, (x, y) -> (CAST(x AS DOUBLE) - y) * (CAST(x AS DOUBLE) - y)), 0D, (a, x) -> a + x)"))
      .withColumn("rn", row_number().over(w))
      .select(col("vec_id"), col("cluster_id"),
        when(col("rn") === 1, lit(1L)).otherwise(lit(0L)).as("kept"))
      .orderBy("vec_id")
  }

  /** The cleaned vector corpus under the PRODUCTION retention policy —
    * keep-central instead of keep-lowest-id: exact keepers minus every
    * cluster member the centroid-proximity rule rejects. The vector
    * counterpart of x_llm_corpus_prep_keepbest's retention swap, and
    * the corpus SemDeDup actually ships (the paper keeps
    * centroid-closest examples, not minimum ids). Differs from
    * x_dedup_emb_corpus_neardup exactly when a cluster's central member
    * is not its minimum id — the planted spec pins that disagreement.
    */
  def xDedupEmbCorpusCentral(spark: SparkSession, dir: String,
      planes: Array[Array[Array[Double]]] = tablePlanes): DataFrame = {
    val losers = xDedupEmbKeepCentral(spark, dir, planes)
      .filter(col("kept") === 0L).select("vec_id")
    Dedup.embExactKeepers(spark, dir)
      .join(losers, Seq("vec_id"), "left_anti")
      .select(col("vec_id"), col("label"))
      .orderBy("vec_id")
  }

  /** The cleaned VECTOR corpus artifact — the embedding twin of
    * x_dedup_corpus_neardup, and the relation every index build should
    * consume: exact keepers (bit-identical replicas collapsed) minus
    * every non-minimum member of each near-dup cluster. Unclustered
    * keepers stream through untouched; the anti-join probes 8-byte ids
    * against the slim loser relation, so at 100 TB the vectors cross no
    * shuffle here (the collapse shuffles them once, upstream).
    */
  def xDedupEmbCorpusNearDup(spark: SparkSession, dir: String): DataFrame = {
    val losers = embClusterLabels(spark, dir)
      .filter(col("label") =!= col("doc_id"))
      .select(col("doc_id").as("vec_id"))
    Dedup.embExactKeepers(spark, dir)
      .join(losers, Seq("vec_id"), "left_anti")
      .select(col("vec_id"), col("label"))
      .orderBy("vec_id")
  }

  /** The (vec_id, tbl, bucket) inverted-list relation behind the LSH
    * dedup family — every vector exploded to its 12 exact-signature
    * memberships (the SQL `corpus` CTE of lshCorpusCtes, Spark-side).
    * Deliberately id-only: the 12×-exploded relation is what shuffles
    * into the collision join, so it carries 8-byte ids, never the
    * 64-double vectors (those join back AFTER candidates dedup — the
    * twin's cd/cpairs shape).
    */
  private def lshInvertedList(e: DataFrame): DataFrame =
    lshInvertedListWith(e, tablePlanes)

  /** The inverted-list builder parameterized over the plane matrices —
    * ONE construction behind the historical 12×10 chain and the wide
    * density-knob arm (the lloydCentroids k-parameter idiom). */
  private def lshInvertedListWith(e: DataFrame,
      planes: Array[Array[Array[Double]]]): DataFrame = {
    val n = planes.length
    val sig = (0 until n).foldLeft(e)((df, t) =>
      df.withColumn(s"s$t",
        VectorFunctions.hyperplaneSignature(col("embedding"), planes(t))))
    sig.select(col("vec_id"),
      explode(array((0 until n).map(t =>
        struct(lit(t).as("tbl"), col(s"s$t").as("bucket"))): _*)).as("tb"))
      .select(col("vec_id"),
        col("tb.tbl").as("tbl"), col("tb.bucket").as("bucket"))
  }

  /** Collision candidates (id1 < id2, any shared table signature) between
    * two inverted-list sides, verified by the exact round(cosine, 4) ≥ 0.8
    * verdict — the shared tail of the full dedup and the admission arm,
    * shaped like its twin's cd/cpairs CTEs: the bucket join and the
    * distinct shuffle only 8-byte id pairs; vectors join back once per
    * DISTINCT pair (a pair sharing all 12 signatures costs one cosine,
    * not twelve), two narrow hash joins at the end.
    */
  private def lshVerifiedPairs(left: DataFrame, right: DataFrame,
      e: DataFrame): DataFrame = {
    val cd = left.select(col("tbl"), col("bucket"), col("vec_id").as("id1"))
      .join(right.select(col("tbl"), col("bucket"), col("vec_id").as("id2")),
        Seq("tbl", "bucket"))
      .filter(col("id1") < col("id2"))
      .select(col("id1"), col("id2"))
      .distinct()
    cd.join(e.select(col("vec_id").as("id1"), col("v").as("v1"),
        col("nrm").as("n1")), "id1")
      .join(e.select(col("vec_id").as("id2"), col("v").as("v2"),
        col("nrm").as("n2")), "id2")
      .select(col("id1"), col("id2"),
        round(dot / (col("n1") * col("n2")), 4).as("cosine"))
      .filter(col("cosine") >= 0.8)
      .orderBy("id1", "id2")
  }

  /** Incremental LSH-dedup admission — the dedup family's member of the
    * frozen-state admission matrix (IVF cells, PQ codes, BPE merges, and
    * now the near-dup index): the inverted list over the already-admitted
    * half is FROZEN state a production ingest keeps persisted (the
    * minhashIncrement idiom — union each admitted batch's signatures into
    * it), and a new batch is (1) signed by the same codegen'd hyperplane
    * expressions, (2) probed against admitted + in-batch signatures, (3)
    * verdict-checked by the same exact cosine — O(batch × bucket
    * occupancy) per ingest, never O(corpus). Pairs are exactly the full
    * operator's output restricted to new-id larger sides (admitted-vs-
    * admitted pairs were already adjudicated when THEY were admitted).
    * Unlike the MinHash admission arm (engine-native hashing, spec-only),
    * the hyperplane signatures are exact arithmetic — so this arm is
    * oracle-gated bitwise via the shared signature CTE chain.
    */
  def xDedupEmbCosineLshAdmit(spark: SparkSession, dir: String): DataFrame = {
    val e = withVecNorm(Tables.embeddings(spark, dir))
    val split = Tables.admissionSplit(e, "vec_id")
    val buckets = lshInvertedList(e)
    lshVerifiedPairs(buckets, buckets.filter(col("vec_id") >= split), e)
  }

  /** Streaming-facing LSH band hits: each vector's 12 (table, signature)
    * memberships packed into one Long bucket key (tbl·2¹⁰ + sig — table
    * id in the high bits keeps tables' buckets disjoint), computed by the
    * SAME codegen'd hyperplane expressions as the batch inverted list so
    * stream and batch collide identically. A stateless narrow map — the
    * minhashBandKeys idiom in embedding space, feeding the shared
    * StreamOps bucket state machine.
    */
  private[graft] def streamBandHits(vecs: DataFrame): DataFrame = {
    val sig = (0 until nTables).foldLeft(vecs)((df, t) =>
      df.withColumn(s"s$t", bucketExpr(t)))
    sig.select(col("vec_id").as("doc_id"), col("ts"),
      explode(array((0 until nTables).map(t =>
        (lit(t.toLong * (1L << planesPerTable)) + col(s"s$t")).as("b")): _*))
        .as("bucket"))
  }

  /** Frozen EVAL-side screening index for the streaming contamination
    * gate — the banded inverted list RESTRICTED to the md5-holdout eval
    * keepers, in the stream flat-bucket convention (t·2¹⁰ + sig, the
    * streamBandHits key), carrying the (v, nrm) join-back columns. This
    * is the static side a production ingest keeps partitioned by
    * bucket: eval benchmarks change rarely, so the index is rebuilt on
    * benchmark updates and FROZEN between them (the admission-matrix
    * argument — re-signing in-stream would flip earlier verdicts).
    */
  private[graft] def contaminationEvalIndex(spark: SparkSession,
      dir: String,
      planes: Array[Array[Array[Double]]] = tablePlanes): DataFrame = {
    val ev = withVecNorm(Dedup.embExactKeepers(spark, dir))
      .filter(TextAnalysis.md5Bucket(100, col("vec_id")) < 10)
    val sig = (0 until planes.length).foldLeft(ev)((df, t) =>
      df.withColumn(s"s$t",
        VectorFunctions.hyperplaneSignature(col("embedding"), planes(t))))
    sig.select(col("vec_id").as("eval_id"), col("v").as("v2"),
      col("nrm").as("n2"),
      explode(array((0 until planes.length).map(t =>
        (lit(t.toLong * (1L << planes(0).length)) + col(s"s$t")).as("b")): _*))
        .as("bucket"))
  }

  /** Stream-side candidate computation for the contamination screen:
    * arriving TRAIN vectors (the eval holdout never ingests into a
    * training corpus — same md5 predicate as the batch gate) are signed
    * by the SAME 12 codegen'd hyperplane expressions, joined
    * stream-static against the frozen eval index on the flat bucket,
    * and verified by the exact rounded cosine ≥ 0.8 — the batch
    * operator's verdict, per arriving pair. Pairs colliding in several
    * tables dedup in-batch downstream (StreamOps.screenVectors).
    * `extra` names pass-through columns of `vecs` carried onto the
    * candidate rows unchanged — the composed vector ingest gate rides
    * this SAME construction keyed by its content-key columns, so the
    * standalone screen and the one-topology gate cannot desync.
    * `planes` must match the grid the eval index was BUILT at (the
    * gridFor schedule — stream and index sign with the same matrices
    * or nothing collides); defaults are the gated 12×10 grid.
    */
  private[graft] def streamScreenCands(vecs: DataFrame,
      evalIndex: DataFrame, extra: Seq[String] = Nil,
      planes: Array[Array[Array[Double]]] = tablePlanes): DataFrame = {
    val train = vecs
      .filter(TextAnalysis.md5Bucket(100, col("vec_id")) >= 10)
      .withColumn("n1", sqrt(VectorFunctions.dotProduct(
        col("embedding"), col("embedding"))))
    val sig = (0 until planes.length).foldLeft(train)((df, t) =>
      df.withColumn(s"s$t",
        VectorFunctions.hyperplaneSignature(col("embedding"), planes(t))))
    sig.select(col("vec_id") +: extra.map(col) ++: Seq(col("n1"),
      col("embedding"),
      explode(array((0 until planes.length).map(t =>
        (lit(t.toLong * (1L << planes(0).length)) + col(s"s$t")).as("b")): _*))
        .as("bucket")): _*)
      .join(evalIndex, Seq("bucket"))
      .select(col("vec_id") +: extra.map(col) ++: Seq(col("eval_id"),
        round(VectorFunctions.dotProduct(col("embedding"), col("v2"))
          / (col("n1") * col("n2")), 4).as("cosine")): _*)
      .filter(col("cosine") >= lit(0.8))
  }

  /** Cluster-balanced diversity sampling (the SemDeDup-ish corpus
    * subsampling step): keep up to `perCell` vectors per IVF cell,
    * chosen by the growth-stable md5 id bucket — a deterministic
    * stratified sample that caps every embedding-space region instead of
    * letting dense regions dominate. Hash-gated against the generated
    * DuckDB twin below (diversitySampleOracleSql), which reuses the ANN
    * twin's quantizer CTEs so both gates pin the same exact-arithmetic
    * cell assignment. At
    * scale this is one narrow rank per cell over the already-partitioned
    * inverted lists — no extra shuffle beyond the assignment itself.
    */
  def xDiversitySample(spark: SparkSession, dir: String): DataFrame = {
    val perCell = 8
    val (assigned, _) = ivfAssigned(spark, dir)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cell")).orderBy(col("bucket"), col("vec_id"))
    assigned
      .select(col("vec_id"), col("cell"),
        TextAnalysis.md5Bucket(10000, col("vec_id")).as("bucket"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= perCell)
      .select(col("cell").cast("long").as("cell"),
        col("rank").cast("long").as("rank"), col("vec_id"))
      .orderBy("cell", "rank")
  }

  /** SemDeDup-style semantic dedup (Abbas et al. 2023): block by the
    * coarse quantizer's CELLS — embedding-space blocking, no label
    * crutch — and inside each cell drop every vector whose cosine to a
    * LOWER-id cell-mate rounds to ≥ 0.8 (keep-lowest, the family
    * convention). This is the shape that runs at 100 TB: the cell
    * assignment is the already-partitioned inverted-list layout, so the
    * pair join is per-cell-linear (k cells bound the blocks the way the
    * df cutoff bounds gram joins) and nothing compares across cells —
    * the quadratic risk is bounded by max cell size, with the
    * diversity-cap/bucket guards as the degenerate-cell backstop.
    * Output: every vector's (cell, kept) verdict, hash-gated against
    * the composed twin (shared quantizer chain + within-cell pair
    * join). The cosine threshold is the deployment knob (SemDeDup used
    * ~0.96 on trained embeddings, where near-dups are near-identical);
    * the gated value is `semThreshold` = 0.4 because the synthetic
    * near-random testdata tops out at 0.51 within-cell — 0.4 exercises
    * BOTH verdict branches (14 of 500 dropped at sf0.01) instead of
    * vacuously keeping everything.
    */
  private val semThreshold = 0.4

  /** (k, rounds) parameterize the coarse quantizer exactly like the ANN
    * gates (x_ann_ivf_k8r2's arm idiom): k is the DENSITY knob — cells
    * shrink ~linearly in k, so the within-cell pair join's quadratic
    * term drops ~k× — which is the k ~ √N scaling guard SCALE.md
    * documents, here as a gated parameter rather than prose (the k=64
    * arm below). Defaults emit the historical (16, 1) shape bitwise.
    */
  def xDedupSemantic(spark: SparkSession, dir: String,
      k: Int = 16, rounds: Int = 1): DataFrame = {
    val (assigned, _) = ivfAssigned(spark, dir, k, rounds)
    val a = assigned.select(col("cell"), col("vec_id").as("id1"),
      col("v").as("v1"), col("nrm").as("n1"))
    val b = assigned.select(col("cell"), col("vec_id").as("id2"),
      col("v").as("v2"), col("nrm").as("n2"))
    val losers = a.join(b, Seq("cell"))
      .filter(col("id1") < col("id2"))
      .filter(round(VectorFunctions.dotProduct(col("v1"), col("v2"))
        / (col("n1") * col("n2")), 4) >= semThreshold)
      .select(col("id2").as("vec_id")).distinct()
      .withColumn("hit", lit(1L))
    assigned.select(col("vec_id"), col("cell").cast("long").as("cell"))
      .join(losers, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"),
        when(col("hit").isNull, lit(1L)).otherwise(lit(0L)).as("kept"))
      .orderBy("vec_id")
  }

  /** Frozen-cell SemDeDup admission — the semantic-dedup family's entry
    * in the train-once admission matrix (IVF/PQ/IVFADC/BPE/LSH-dedup/
    * MinHash/NB/kNN-graph all have one): the coarse quantizer is trained
    * ONCE on the already-admitted lower-id half (the (max_id+1)/2 split
    * every admission arm uses), its centroids FROZEN, and each NEW
    * vector gets its keep/drop verdict against its LOWER-id cell-mates —
    * admitted vectors (the persisted inverted list) plus earlier-id
    * batch members, exactly the batch operator's keep-lowest convention
    * restricted to new ids. O(batch × cell occupancy) per ingest, never
    * a corpus re-cluster: admitted verdicts are immutable because frozen
    * centroids never move a vector's cell. Output: every NEW vector's
    * (cell, kept), oracle-gated bitwise via the shared trainWhere
    * quantizer chain.
    */
  def xDedupSemanticAdmit(spark: SparkSession, dir: String): DataFrame = {
    val e = withVecNorm(Tables.embeddings(spark, dir))
    val split = Tables.admissionSplit(e, "vec_id")
    val cents = lloydCentroids(e.filter(col("vec_id") < split), 16, 1)
    val assigned = e.withColumn("cell",
      VectorFunctions.nearestCentroid(col("embedding"), cents))
    val a = assigned.select(col("cell"), col("vec_id").as("id1"),
      col("v").as("v1"), col("nrm").as("n1"))
    val b = assigned.filter(col("vec_id") >= split)
      .select(col("cell"), col("vec_id").as("id2"),
        col("v").as("v2"), col("nrm").as("n2"))
    val losers = a.join(b, Seq("cell"))
      .filter(col("id1") < col("id2"))
      .filter(round(VectorFunctions.dotProduct(col("v1"), col("v2"))
        / (col("n1") * col("n2")), 4) >= semThreshold)
      .select(col("id2").as("vec_id")).distinct()
      .withColumn("hit", lit(1L))
    assigned.filter(col("vec_id") >= split)
      .select(col("vec_id"), col("cell").cast("long").as("cell"))
      .join(losers, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"),
        when(col("hit").isNull, lit(1L)).otherwise(lit(0L)).as("kept"))
      .orderBy("vec_id")
  }

  /** Approximate kNN GRAPH over the whole corpus — every vector's top
    * `kNeighbors` neighbors WITHIN its coarse-quantizer cell, ranked by
    * the rounded exact cosine with the id tiebreak. This is the
    * all-vectors counterpart of the query-set ANN gates: the building
    * block graph-based curation consumes (SemDeDup clustering, density
    * pruning, graph dedup), and at 100 TB the only tractable shape —
    * cell blocking makes the pair join per-cell-linear (the inverted
    * list layout; Σ cell² work, never corpus²), the same quadratic-cell
    * bound the semantic-dedup family carries, with the SAME k density
    * knob (k ~ √N) as its guard. Vectors alone in their cell emit no
    * rows (a corpus-level kNN graph tolerates isolated nodes; raising
    * nProbe-style spill is the recall knob a deployment would add).
    * Ranking compares the ROUNDED cosine (the x_dedup_semantic verdict
    * idiom), so cross-engine ulp drift cannot flip a rank.
    */
  def xKnnGraph(spark: SparkSession, dir: String,
      kNeighbors: Int = 5, kCells: Int = 16, rounds: Int = 1,
      srcOverride: Option[DataFrame] = None): DataFrame = {
    val (assigned, _) = ivfAssigned(spark, dir, kCells, rounds,
      srcOverride = srcOverride)
    val a = assigned.select(col("cell"), col("vec_id").as("id1"),
      col("v").as("v1"), col("nrm").as("n1"))
    val b = assigned.select(col("cell"), col("vec_id").as("id2"),
      col("v").as("v2"), col("nrm").as("n2"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("id1")).orderBy(desc("cos_sim"), col("id2"))
    a.join(b, Seq("cell"))
      .filter(col("id1") =!= col("id2"))
      .withColumn("cos_sim",
        round(VectorFunctions.dotProduct(col("v1"), col("v2"))
          / (col("n1") * col("n2")), 4))
      .withColumn("nn_rank", row_number().over(w))
      .filter(col("nn_rank") <= kNeighbors)
      .select(col("id1").as("vec_id"),
        col("nn_rank").cast("long").as("nn_rank"),
        col("id2").as("nn_id"), col("cos_sim"))
      .orderBy("vec_id", "nn_rank")
  }

  /** Frozen-index kNN-graph admission — the graph family's entry in the
    * train-once admission matrix (IVF/PQ/IVFADC/BPE/LSH-dedup/MinHash/NB
    * all have one): the coarse quantizer is trained ONCE on the
    * already-admitted lower-id half (the (max_id+1)/2 split every
    * admission arm uses, a pure function of the corpus), its centroids
    * FROZEN, and each NEW vector finds its top-k neighbors among the
    * ADMITTED vectors sharing its frozen cell — one narrow assignment
    * map plus a join against the persisted inverted list, O(batch ×
    * cell occupancy) per ingest, never a corpus re-cluster or an
    * all-pairs pass. This is how a growing 100 TB corpus keeps its kNN
    * graph current: admitted edges are immutable (their cells never
    * move under frozen centroids), new nodes attach in one pass.
    * Ranking compares the ROUNDED cosine with the id tiebreak, exactly
    * the batch graph's idiom, so the twin pins every rank bitwise.
    */
  def xKnnGraphAdmit(spark: SparkSession, dir: String,
      kNeighbors: Int = 5): DataFrame = {
    val (split, cents, admitted) = knnAdmitState(spark, dir)
    val e = withVecNorm(Tables.embeddings(spark, dir))
    val assigned = e.withColumn("cell",
      VectorFunctions.nearestCentroid(col("embedding"), cents))
    val fresh = assigned.filter(col("vec_id") >= split)
      .select(col("cell"), col("vec_id").as("id1"),
        col("v").as("v1"), col("nrm").as("n1"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("id1")).orderBy(desc("cos_sim"), col("id2"))
    fresh.join(admitted, Seq("cell"))
      .withColumn("cos_sim",
        round(VectorFunctions.dotProduct(col("v1"), col("v2"))
          / (col("n1") * col("n2")), 4))
      .withColumn("nn_rank", row_number().over(w))
      .filter(col("nn_rank") <= kNeighbors)
      .select(col("id1").as("vec_id"),
        col("nn_rank").cast("long").as("nn_rank"),
        col("id2").as("nn_id"), col("cos_sim"))
      .orderBy("vec_id", "nn_rank")
  }

  /** The kNN-graph admission arm's FROZEN state, factored so the batch
    * gate and the streaming attach consume the identical pieces: the
    * (max_id+1)/2 split, the centroids trained once on the admitted
    * half, and the admitted inverted list (cell, id2, v2, n2) — the
    * persisted side a production ingest keeps, keyed by the cell layout
    * the frozen centroids make immutable.
    */
  private[graft] def knnAdmitState(spark: SparkSession,
      dir: String): (Long, Array[Array[Double]], DataFrame) = {
    val e = withVecNorm(Tables.embeddings(spark, dir))
    val split = Tables.admissionSplit(e, "vec_id")
    val cents = lloydCentroids(e.filter(col("vec_id") < split), 16, 1)
    val admitted = e.filter(col("vec_id") < split)
      .withColumn("cell",
        VectorFunctions.nearestCentroid(col("embedding"), cents))
      .select(col("cell"), col("vec_id").as("id2"),
        col("v").as("v2"), col("nrm").as("n2"))
    (split, cents, admitted)
  }

  /** The ANN SERVING state — the pieces an online retrieval deployment
    * freezes per index build and the streaming search gate
    * (StreamOps.searchVectors) consumes: the x_ann_ivf coarse
    * quantizer's centroids (trained on the full corpus, the gated
    * k=16/r=1 parameterization) and the corpus inverted list
    * (cell, id2, v2, n2) — the SAME persisted layout knnAdmitState
    * keeps for the attach gate, here over the whole corpus because
    * serving searches everything indexed. ONE construction (the
    * knnAdmitState idiom) so the batch search gate and the streaming
    * surface cannot desync.
    */
  /** `kCells` is the r16 BUILD-SCALE knob (the gridFor schedule's k —
    * serving cost is nProbe/k of the corpus per query batch BY DESIGN,
    * so k must grow ~√N with the indexed corpus or every batch scans
    * 1/16th of 100 TB); the default is the gated x_ann_ivf
    * parameterization the parity specs pin.
    */
  private[graft] def annServeState(spark: SparkSession,
      dir: String, kCells: Int = 16): (Array[Array[Double]], DataFrame) = {
    val (assigned, cents) = ivfAssigned(spark, dir, k = kCells)
    (cents, assigned.select(col("cell"), col("vec_id").as("id2"),
      col("v").as("v2"), col("nrm").as("n2")))
  }

  /** The COMPRESSED serving state — annServeState's inverted list with
    * each entry's int8 code list attached by THE ONE sq8Codes
    * expression (built FROM annServeState, never a second derivation):
    * the layout x_ann_ivfsq8 argues a 100 TB deployment actually
    * serves, where the per-cell scan reads 4×-smaller integer codes
    * and raw vectors are touched only for the O(shortlist) exact
    * re-rank tail (here one table carries both; at scale the raw
    * column is a separate id-keyed fetch).
    */
  private[graft] def annServeStateSq8(spark: SparkSession,
      dir: String, kCells: Int = 16): (Array[Array[Double]], DataFrame) = {
    val (cents, inv) = annServeState(spark, dir, kCells)
    (cents, inv.withColumn("cc", sq8Codes("v2")))
  }

  /** The DEPLOYED serving state: annServeStateSq8's (centroids,
    * inverted list) loaded back from the STAMPED relations the shelf's
    * `serve` group persists (Pipeline.shelfGroup) — the frozen index a
    * serving process ships with, version-skew-guarded like every other
    * artifact (ArtifactShelf.table verifies count + fingerprint on
    * load, the r12 guard). The centroid collect is bounded (k×dims
    * rows); the inverted list stays a cell-partitioned relation whose
    * rows carry BOTH the raw vectors (exact re-rank) and the int8
    * codes (integer shortlist), so ONE load serves searchVectors AND
    * searchVectorsSq8 — parity-spec'd row-for-row against the
    * live-state gates.
    */
  private[graft] def annServeStateFromArtifacts(spark: SparkSession,
      shelfDir: String): (Array[Array[Double]], DataFrame) = {
    val crows = graft.ArtifactShelf.table(spark, shelfDir,
      "art_serve_centroids").collect()
    val cents = crows.groupBy(_.getAs[Long]("cell")).toSeq.sortBy(_._1)
      .map(_._2.sortBy(_.getAs[Long]("pos"))
        .map(_.getAs[Double]("value")).toArray).toArray
    val base = graft.ArtifactShelf.table(spark, shelfDir,
      "art_serve_inverted")
    // The versioned DELTA relation (r16 — Pipeline.appendServeDelta):
    // admitted post-build arrivals' inverted-list rows, unioned under
    // the same frozen centroids. Absent on a fresh shelf; when present
    // it loads through the same stamp guard (appends restamp it).
    // Existence via the Hadoop FS API (the commitSigBatch idiom) —
    // this is a production load path, not a local-only probe.
    val deltaPath = new org.apache.hadoop.fs.Path(
      s"$shelfDir/art_serve_delta")
    val fs = deltaPath.getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val unioned = if (fs.exists(deltaPath))
      base.unionByName(graft.ArtifactShelf
        .table(spark, shelfDir, "art_serve_delta").drop("batch_id"))
    else base
    // The versioned TOMBSTONE relation (r17 — Pipeline.
    // appendServeTombstones): ids REMOVED from the corpus since the
    // index build (the version diff's `removed` verdicts), anti-joined
    // out of the served union so a deleted vector stops appearing in
    // top-k without a full serve rebuild — the delta's mirror. Slim by
    // construction (one id per removal), so the anti-join broadcasts;
    // loads through the same stamp guard (appends restamp it). A full
    // serve refresh retires it with the delta: the rebuilt base indexes
    // the refresh corpus SNAPSHOT, which no longer contains the
    // removed vectors.
    val tombPath = new org.apache.hadoop.fs.Path(
      s"$shelfDir/art_serve_tombstones")
    val inv = if (fs.exists(tombPath))
      unioned.join(
        org.apache.spark.sql.functions.broadcast(graft.ArtifactShelf
          .table(spark, shelfDir, "art_serve_tombstones")
          .select("id2")),
        Seq("id2"), "left_anti")
    else unioned
    (cents, inv)
  }

  /** The SERVE-INDEX manifest card — the observability column's
    * serving row (TextAnalysis.manifestCard / embManifestCard cover
    * the corpora; this covers the shipped index): long-format
    * (metric, value) integers over the STAMPED serve relations.
    * Populations first — base / delta / tombstone row counts and the
    * versioned BATCH counts, which are the compaction-cadence inputs
    * (the recorded fold trigger is partition count, and this card is
    * where an operator reads it) — then the served row count after
    * the (base ∪ delta) − tombstones fold the loader applies, and the
    * cell-occupancy distribution over the SERVED state (occupied
    * cells, exact nearest-rank p50 / p99, max): the gridFor schedule
    * fixes MEAN occupancy at ~√N by design but says nothing about
    * skew, and a hot cell is the per-probe latency tail at scale —
    * occ_max drifting away from occ_p50 is the re-cell signal a
    * latency dashboard can't give (slow probes also hide behind host
    * noise). All-integer → bitwise at any size. Cost: slim
    * column-pruned scans plus one k-row aggregate (k = cells, never
    * corpus-sized; the k-row occupancy relation is pinned for its
    * four consumers and released before return). Absent versioned
    * relations read as zero rows / zero batches — a fresh or freshly
    * compacted shelf — and every load rides the stamp guard, so the
    * card fails loudly on a skewed shelf rather than reporting it.
    * Deliberately NOT materialized with the corpus observability
    * relations (materializeObservability): those snapshot a corpus
    * build, while this card reads the index's CURRENT population — a
    * persisted copy goes stale at the first append, and every input
    * here is already a stamped relation.
    */
  def serveIndexCard(spark: SparkSession, shelfDir: String): DataFrame = {
    import spark.implicits._
    val (cents, inv) = annServeStateFromArtifacts(spark, shelfDir)
    val fs = new org.apache.hadoop.fs.Path(shelfDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def versioned(name: String): (Long, Long) =
      if (fs.exists(new org.apache.hadoop.fs.Path(s"$shelfDir/$name"))) {
        val r = graft.ArtifactShelf.table(spark, shelfDir, name)
          .agg(count(lit(1)), countDistinct(col("batch_id"))).head()
        (r.getLong(0), r.getLong(1))
      } else (0L, 0L)
    val baseRows = graft.ArtifactShelf
      .table(spark, shelfDir, "art_serve_inverted").count()
    val (deltaRows, deltaBatches) = versioned("art_serve_delta")
    val (tombRows, tombBatches) = versioned("art_serve_tombstones")
    val occ = inv.groupBy(col("cell")).agg(count(lit(1)).as("occ"))
      .persist()
    val nOcc = occ.count()
    val ranked = occ.withColumn("r", row_number().over(
      org.apache.spark.sql.expressions.Window
        .orderBy(col("occ").asc, col("cell").asc)))
    def atRank(q: Double): Long =
      if (nOcc == 0L) 0L
      else ranked
        .filter(col("r") === math.max(1L, math.ceil(q * nOcc).toLong))
        .select(col("occ")).head().getLong(0)
    val servedRows =
      if (nOcc == 0L) 0L else occ.agg(sum(col("occ"))).head().getLong(0)
    val card = Seq(
      "base_rows" -> baseRows,
      "delta_rows" -> deltaRows,
      "delta_batches" -> deltaBatches,
      "tombstone_rows" -> tombRows,
      "tombstone_batches" -> tombBatches,
      "served_rows" -> servedRows,
      "cells_total" -> cents.length.toLong,
      "cells_occupied" -> nOcc,
      "dims" -> cents.headOption.map(_.length.toLong).getOrElse(0L),
      "occ_p50" -> atRank(0.5),
      "occ_p99" -> atRank(0.99),
      "occ_max" ->
        (if (nOcc == 0L) 0L
         else occ.agg(max(col("occ"))).head().getLong(0)))
    // Fully consumed above — the returned card is literal rows, so the
    // pinned occupancy relation releases safely (nothing downstream
    // references it; contrast embPrepCleanStage, whose return VALUES
    // ride its persist).
    occ.unpersist()
    card.toDF("metric", "value")
  }

  /** Inverted-list INSERT rows from a batch of ADMITTED streaming
    * ingest verdicts (StreamOps.ingestVectors' annotations APPLIED —
    * the r15 verdict's gap #3: the gate annotated every admitted
    * arrival with its frozen-centroid cell + codes and nothing consumed
    * them) joined back to the arrivals' raw vectors: exactly the
    * art_serve_inverted row shape, with cell and SQ8 codes taken FROM
    * the verdicts (computed in-stream by the same nearestCentroid /
    * sq8Codes expressions the base index rides) and v2/n2 derived by
    * the same norm expression. Feeds Pipeline.appendServeDelta.
    */
  private[graft] def serveDeltaRows(verdicts: DataFrame,
      vecs: DataFrame): DataFrame =
    serveDeltaTail(verdicts.filter(col("admitted") === 1L)
      .select(col("vec_id"), col("cell"), col("sq8_codes").as("cc"))
      // One embedding row per vec_id: the gate emits exactly one
      // verdict per id (the stateful group dedupes), but an
      // at-least-once upstream can land a duplicated arrival row in
      // the SAME micro-batch as its original — joining it raw would
      // fan that one verdict into duplicate delta rows that
      // double-index the vector in every top-k (ADVICE r17). The
      // survivor is arbitrary but correct: two rows sharing a vec_id
      // carry the same content by the ingest contract.
      .join(vecs.select(col("vec_id"), col("embedding"))
        .dropDuplicates(Seq("vec_id")), Seq("vec_id")))

  /** The verdict-only arm (r18): ingestVectors now carries each
    * ADMITTED row's embedding on the verdict itself, so the streaming
    * consumer (Pipeline.serveDeltaStream's foreachBatch) builds the
    * insert rows from the micro-batch's verdicts alone — no join back
    * against the arrival log (the r17 topology re-scanned the ENTIRE
    * source directory per batch: O(batches × log size) cumulative).
    */
  private[graft] def serveDeltaRows(verdicts: DataFrame): DataFrame =
    serveDeltaTail(verdicts.filter(col("admitted") === 1L)
      .select(col("vec_id"), col("cell"), col("sq8_codes").as("cc"),
        col("embedding")))

  /** ONE projection from (vec_id, cell, cc, embedding) to the
    * art_serve_inverted row shape — shared by both serveDeltaRows arms
    * so the n2/cast expressions cannot desync.
    */
  private def serveDeltaTail(withEmb: DataFrame): DataFrame =
    withEmb.select(col("cell").cast("int").as("cell"),
      col("vec_id").as("id2"),
      col("embedding").as("v2"),
      sqrt(VectorFunctions.dotProduct(col("embedding"), col("embedding")))
        .as("n2"),
      col("cc"))

  /** Density-based diversity selection over the kNN graph — the
    * graph-CONSUMING curation op (the D4/SemDeDup "prune dense regions"
    * position): every vector's density is the basis-point mean of its
    * top-k neighbor cosines from the gated graph chain, and the
    * `selectN` LEAST dense vectors are kept — the diversity cut that
    * retains one representative of a crowded region and everything
    * sparse. Exact integers end-to-end: each neighbor cosine (already
    * rounded to 4 decimals) scales to an e4 long, sums as longs, and
    * floor-divides by the neighbor count (both engines divide an exact
    * multiple after the pmod subtraction, so trunc-div == floor-div ==
    * exact) — the avgMoney6 idiom, no float aggregate anywhere. The cut
    * is the DSIR broadcast Nth-(density, id) threshold, never a
    * corpus-wide window. POLICY: an isolated vector (alone in its cell
    * — no graph rows) has zero MEASURED redundancy, so it sorts before
    * any measured density via a sentinel below the -10000 cosine floor
    * and is selected first; its reported density stays NULL (the
    * honesty the DSIR null-weight rows keep).
    * Scale shape: the graph chain is the probed per-cell-linear pair
    * join; everything after it is per-vector aggregates of 8-byte rows
    * plus a 1-row broadcast.
    */
  /** `srcOverride` swaps the judged relation (the xKnnGraph idiom) —
    * the _clean arm passes the exact keepers, making the density cut's
    * graph stage collapse-first like every other production consumer.
    */
  def xKnnDensitySelect(spark: SparkSession, dir: String,
      selectN: Int = 100, kNeighbors: Int = 5, kCells: Int = 16,
      rounds: Int = 1, srcOverride: Option[DataFrame] = None): DataFrame = {
    val dens = knnDensity(xKnnGraph(spark, dir, kNeighbors, kCells, rounds,
      srcOverride = srcOverride))
    val allv = srcOverride.getOrElse(Tables.embeddings(spark, dir))
      .select("vec_id")
      .join(dens, Seq("vec_id"), "left")
      .withColumn("sk", coalesce(col("density_e4"), lit(-10001L)))
    val cut = allv.orderBy(col("sk"), col("vec_id")).limit(selectN)
      .orderBy(desc("sk"), desc("vec_id")).limit(1)
      .select(col("sk").as("cut_s"), col("vec_id").as("cut_id"))
    allv.crossJoin(broadcast(cut))
      .select(col("vec_id"),
        coalesce(col("n_neighbors"), lit(0L)).as("n_neighbors"),
        col("density_e4"),
        when(col("sk") < col("cut_s") ||
          (col("sk") === col("cut_s") && col("vec_id") <= col("cut_id")),
          lit(1L)).otherwise(lit(0L)).as("selected"))
      .orderBy("vec_id")
  }

  /** Basis-point neighborhood density from a (vec_id, cos_sim) top-k
    * edge relation — each neighbor cosine (already rounded to 4
    * decimals) scales to an e4 long, sums as longs, floor-divides by
    * the neighbor count (the avgMoney6 idiom; pmod makes trunc-div ==
    * floor-div on negative sums). ONE implementation shared by the
    * standalone density-select gate and the curated prep's cap stage —
    * the oracle side likewise shares one generated CTE pair — so the
    * density a composition retains by can never drift from the verdict
    * the standalone gate pins.
    */
  private def knnDensity(nn: DataFrame): DataFrame =
    nn.select(col("vec_id"),
        round(col("cos_sim") * lit(10000)).cast("long").as("c_e4"))
      .groupBy("vec_id")
      .agg(count(lit(1)).as("n_neighbors"), sum(col("c_e4")).as("s_e4"))
      .select(col("vec_id"), col("n_neighbors"),
        expr("(s_e4 - pmod(s_e4, n_neighbors)) div n_neighbors")
          .as("density_e4"))

  /** Graph-centrality scoring over the gated kNN graph — the PageRank
    * position in graph-based curation (a node other documents keep
    * selecting as their nearest neighbor is a prototype of its region;
    * centrality feeds the keep-representatives / sample-by-importance
    * cuts the same way density feeds the diversity cut). Fixed-round
    * power iteration in EXACT INTEGER arithmetic so both engines agree
    * bitwise (float partial-sum order is not portable — the avgMoney6
    * idiom for graphs): scores live as e9 longs, each round every node
    * sends `score div out_deg` (positive ⇒ trunc == floor == DuckDB //)
    * along its out-edges, and receives `base + (85 * Σ incoming) div
    * 100` — damping 0.85, base 0.15e9, the standard update with the
    * dangling mass dropped (documented variant; isolated nodes hold
    * exactly the base). Scale shape: out-degree ≤ kNeighbors bounds
    * every row's fan-out; each round is one shuffle-on-dst sum over the
    * edge list (the Pregel layout) — never materializes anything wider
    * than (node, score). Overflow headroom: Σ incoming ≤ in_deg × 1e9
    * and in-degree is bounded by cell occupancy (the same k ~ √N knob
    * as the graph itself), so 85 × Σ stays far inside a long at any
    * corpus the cell guard admits. The edge list is localCheckpoint'd
    * once (the BPE-loop idiom) so `prRounds` passes don't replay the
    * quantizer pair join.
    */
  def xGraphPagerank(spark: SparkSession, dir: String,
      prRounds: Int = 3, kNeighbors: Int = 5, kCells: Int = 16,
      rounds: Int = 1, srcOverride: Option[DataFrame] = None,
      weighted: Boolean = false): DataFrame = {
    val g = xKnnGraph(spark, dir, kNeighbors, kCells, rounds,
      srcOverride = srcOverride)
    // Weighted variant: a voter splits its mass PROPORTIONALLY to edge
    // similarity instead of equally — w = c_e4 + 10001 (the density
    // select's e4 scaling shifted above the -10000 cosine floor so
    // every weight is positive mass). floor(score·w / Σw) is computed
    // by the exact overflow-safe decomposition q·w + (r·w) div Σw
    // (score = q·Σw + r): every intermediate stays ≤ score/Σw·w ~
    // score-scale, never score×w-scale — hub chains can grow score
    // toward in_deg^rounds·1e9, and the naive product would overflow
    // a long exactly on the corpora centrality matters for.
    val edges =
      if (weighted) g.select(col("vec_id").as("src"), col("nn_id").as("dst"),
        (round(col("cos_sim") * lit(10000)).cast("long") + lit(10001L)).as("w"))
      else g.select(col("vec_id").as("src"), col("nn_id").as("dst"))
    // r18 note: persisting this node relation was tried (it is
    // referenced prRounds+1 times by pagerankLoop, and the srcOverride
    // arms' nodes are the embExactKeepers window chain) and REVERTED —
    // a three-session A/B against the pre-round base showed the select
    // arm's warm CPU roughly DOUBLING under the persist (12–17 → 28–37
    // CPU-s) while the apparent clean/density wins dissolved into the
    // documented session-multiplier noise. The lazy repeats are partly
    // exchange-reused; the cache build is not free (the xDsirSelect
    // lesson, OPTIMIZATION_r18.md change 4).
    val nodes = srcOverride.getOrElse(Tables.embeddings(spark, dir))
      .select("vec_id")
    pagerankLoop(edges, nodes, prRounds, weighted)
  }

  /** THE power-iteration loop — one implementation behind every vector
    * pagerank arm AND the text document-graph arm (the bpeTrain
    * single-loop rule: three oracle-pinned surfaces desync silently if
    * a copy drifts). `edges` is (src, dst[, w]) over `nodes`-keyed ids
    * (column `vec_id`); out-degrees/weight-sums are joined once and the
    * edge list localCheckpoint'd so `prRounds` passes don't replay the
    * upstream chain. All the scale/overflow arguments in
    * xGraphPagerank's scaladoc apply verbatim.
    */
  /** The damped dangling base (0.15·e9): a node with zero in-edges
    * holds exactly this score after any round, so REAL centrality —
    * at least one incoming vote — sits strictly above it. Consumers
    * that turn a selectN centrality cut into DROPS (the composed
    * boilerplate screen) gate on this floor so the cut's padding
    * (base-score ties filling out the N) never becomes a removal.
    */
  private[graft] val pagerankBaseE9 = 150000000L

  private[ext] def pagerankLoop(edges: DataFrame, nodes: DataFrame,
      prRounds: Int, weighted: Boolean): DataFrame = {
    val deg =
      if (weighted) edges.groupBy("src").agg(sum(col("w")).as("sw"))
      else edges.groupBy("src").agg(count(lit(1)).as("deg"))
    val edgesDeg = edges.join(deg, Seq("src")).localCheckpoint()
    val contribExpr =
      if (weighted) "(score_e9 div sw) * w + ((score_e9 % sw) * w) div sw"
      else "score_e9 div deg"
    var score = nodes.withColumn("score_e9", lit(1000000000L))
    for (_ <- 1 to prRounds) {
      val contrib = edgesDeg
        .join(score.withColumnRenamed("vec_id", "src"), Seq("src"))
        .select(col("dst").as("vec_id"), expr(contribExpr).as("c"))
        .groupBy("vec_id").agg(sum(col("c")).as("in_e9"))
      score = nodes.join(contrib, Seq("vec_id"), "left")
        .select(col("vec_id"),
          expr("cast(150000000 + (85 * coalesce(in_e9, cast(0 as bigint)))" +
            " div 100 as bigint)").as("score_e9"))
    }
    score.orderBy("vec_id")
  }

  /** Centrality-based prototype selection — the pagerank-CONSUMING cut
    * (the mirror of xKnnDensitySelect: density keeps the SPARSE for
    * diversity; centrality keeps the MOST-voted-for as prototypes —
    * the two retention policies a curation pipeline mixes). Keeps the
    * `selectN` highest (score_e9 DESC, vec_id ASC) via the DSIR-style
    * broadcast Nth-threshold — a 1-row broadcast, never a corpus-wide
    * window — over the clean (collapse-first) pagerank arm, since a
    * prototype vote must count distinct voters.
    */
  def xGraphPagerankSelect(spark: SparkSession, dir: String,
      selectN: Int = 100, kCells: Int = 16): DataFrame = {
    val pr = xGraphPagerank(spark, dir, kCells = kCells,
      srcOverride = Some(Dedup.embExactKeepers(spark, dir)))
    val cut = pr.orderBy(desc("score_e9"), col("vec_id")).limit(selectN)
      .orderBy(col("score_e9"), desc("vec_id")).limit(1)
      .select(col("score_e9").as("cut_s"), col("vec_id").as("cut_id"))
    pr.crossJoin(broadcast(cut))
      .select(col("vec_id"), col("score_e9"),
        when(col("score_e9") > col("cut_s") ||
          (col("score_e9") === col("cut_s") && col("vec_id") <= col("cut_id")),
          lit(1L)).otherwise(lit(0L)).as("selected"))
      .orderBy("vec_id")
  }

  /** End-to-end VECTOR-corpus prep — the embedding-side counterpart of
    * x_llm_corpus_prep, composed from the shared operators exactly as a
    * production vector-store build runs them: (1) embedding-cosine
    * near-dup removal (label-blocked exact pairs ≥ 0.8, higher id of
    * each pair dropped — the losers anti-join on 8-byte ids, vectors
    * never shuffled for it); (2) the coarse quantizer trained on the
    * SURVIVORS with hash-spread seeding (dedup changes which low ids
    * exist, so id-prefix seeding would be corpus-order-fragile — this is
    * the case the seeding arm exists for) and the deduped corpus
    * assigned to cells; (3) per-cell diversity cap (8 by the
    * growth-stable md5 bucket — dense regions can't dominate the
    * retained set); (4) int8 quantization of the kept vectors. One
    * result pins all four stages: (cell, rank, vec_id, code summary) —
    * bitwise vs a single composed DuckDB twin whose CTE chains are the
    * same generated pieces (the prelude/srcTable composition).
    * Scale shape: each stage is the already-probed operator — nothing
    * new shuffles; the only corpus-wide exchanges are the dedup pair
    * join (label-blocked) and the one cell assignment pass.
    */
  def xEmbCorpusPrep(spark: SparkSession, dir: String): DataFrame = {
    val losers = Dedup.xDedupEmbCosine(spark, dir)
      .select(col("id2").as("vec_id")).distinct()
    val surv = Tables.embeddings(spark, dir)
      .join(losers, Seq("vec_id"), "left_anti")
    val cents = lloydCentroids(surv, 16, 1, hashSpread = true)
    capAndQuantize(surv.select(col("vec_id"), col("embedding"),
      VectorFunctions.nearestCentroid(col("embedding"), cents).as("cell")))
  }

  /** Shared tail of the two composed prep pipelines: per-cell diversity
    * cap (8 by the growth-stable md5 bucket) + int8 quantization +
    * (sum, min, max) code summary over a (vec_id, embedding, cell)
    * relation. ONE implementation — the oracle side is likewise one
    * generator with a `semantic` flag — so the two gated rows can only
    * ever differ by the semantic stage, never by tail drift.
    */
  private def capAndQuantize(assigned: DataFrame): DataFrame =
    int8CapTail(cappedRanks(assigned))

  /** The md5-order per-cell cap ranks BEFORE the ≤ 8 cut — factored so
    * the audit can read the cap stage's losers (rank > 8) through the
    * same window the gated preps cut with. */
  private def cappedRanks(assigned: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cell")).orderBy(col("bucket"), col("vec_id"))
    assigned
      .select(col("vec_id"), col("embedding"), col("cell"),
        TextAnalysis.md5Bucket(10000, col("vec_id")).as("bucket"))
      .withColumn("rank", row_number().over(w))
  }

  /** The cap + int8 half of the prep tail over a pre-RANKED (vec_id,
    * embedding, cell, rank) relation — factored so the md5-ordered cap
    * (capAndQuantize) and the density-ordered cap (the curated prep)
    * share the quantization/summary text verbatim; only the window's
    * ORDER BY differs between the two retention policies.
    */
  private def int8CapTail(ranked: DataFrame): DataFrame =
    ranked
      .filter(col("rank") <= 8)
      .select(col("cell").cast("long").as("cell"),
        col("rank").cast("long").as("rank"), col("vec_id"),
        expr("transform(embedding, v -> CAST(greatest(least(floor(CAST(v AS DOUBLE) * 127d + 0.5d), 127d), -127d) AS BIGINT))")
          .as("codes"))
      .select(col("cell"), col("rank"), col("vec_id"),
        expr("aggregate(codes, 0L, (a, c) -> a + c)").as("sum_codes"),
        array_min(col("codes")).as("min_code"),
        array_max(col("codes")).as("max_code"))
      .orderBy("cell", "rank")

  /** xEmbCorpusPrep with the SemDeDup stage composed in at the paper's
    * position (Abbas et al. 2023 run semantic dedup on the k-means
    * cells BEFORE downstream corpus shaping): (1) exact-pair cosine
    * near-dup removal; (1.5) the coarse quantizer trained ONCE on the
    * survivors (hash-spread seeds) and its cells used for within-cell
    * keep-lowest semantic dedup at the gated threshold — one Lloyd pass
    * serves BOTH the dedup blocking and the downstream cell layout (the
    * paper's shape, and the 100 TB shape: no second training pass);
    * (2) per-cell diversity cap over the SEMANTIC survivors; (3) int8
    * quantization. Output schema matches x_emb_corpus_prep, so the two
    * gated rows differ exactly by the semantic stage's removals — the
    * composed twin reuses the same generated prelude/quantizer chain
    * with a semantic-loser CTE spliced in (names disjoint from the
    * prelude's `losers`). `k` is the same density knob the standalone
    * x_dedup_semantic_k64 arm gates — here it scales the within-cell
    * pair join INSIDE the composed pipeline (the k=64 arm below), so
    * the overfull-cell guard is parameter-gated at the composition
    * level too, not just standalone.
    */
  def xEmbCorpusPrepSem(spark: SparkSession, dir: String,
      k: Int = 16): DataFrame = {
    val losers = Dedup.xDedupEmbCosine(spark, dir)
      .select(col("id2").as("vec_id")).distinct()
    val surv = Tables.embeddings(spark, dir)
      .join(losers, Seq("vec_id"), "left_anti")
    val cents = lloydCentroids(surv, k, 1, hashSpread = true)
    // Persisted: referenced THREE times in the returned plan (both pair
    // sides + the anti-join base), so it cannot be unpersisted before
    // the caller's action — the ivfAssigned idiom; the Verify/Bench
    // runners clearCache() after every query, which bounds residency.
    val assigned = withVecNorm(surv).withColumn("cell",
      VectorFunctions.nearestCentroid(col("embedding"), cents)).persist()
    val a = assigned.select(col("cell"), col("vec_id").as("id1"),
      col("v").as("v1"), col("nrm").as("n1"))
    val b = assigned.select(col("cell"), col("vec_id").as("id2"),
      col("v").as("v2"), col("nrm").as("n2"))
    val semLosers = a.join(b, Seq("cell"))
      .filter(col("id1") < col("id2"))
      .filter(round(VectorFunctions.dotProduct(col("v1"), col("v2"))
        / (col("n1") * col("n2")), 4) >= semThreshold)
      .select(col("id2").as("vec_id")).distinct()
    val sem = assigned.join(semLosers, Seq("vec_id"), "left_anti")
    capAndQuantize(sem.select(col("vec_id"), col("embedding"), col("cell")))
  }

  /** The vector prep under the PRODUCTION retention policy — the
    * x_llm_corpus_prep_keepbest of the vector side: exact collapse,
    * transitive clustering of the banded verdicts, keep-central
    * retention (only centroid-closest members survive their cluster),
    * then the shared quantizer/cap/int8 tail over the survivors. The
    * planted spec pins the policy being LIVE inside the composition:
    * the clean prep keeps a cluster's minimum id, this arm keeps its
    * central member instead.
    */
  def xEmbCorpusPrepCentral(spark: SparkSession, dir: String,
      planes: Array[Array[Array[Double]]] = tablePlanes,
      kCells: Int = 16): DataFrame = {
    val losers = xDedupEmbKeepCentral(spark, dir, planes)
      .filter(col("kept") === 0L).select("vec_id")
    val surv = Dedup.embExactKeepers(spark, dir)
      .join(losers, Seq("vec_id"), "left_anti")
    val cents = lloydCentroids(surv, kCells, 1, hashSpread = true)
    capAndQuantize(surv.select(col("vec_id"), col("embedding"),
      VectorFunctions.nearestCentroid(col("embedding"), cents).as("cell")))
  }

  /** The clean-prep survivor set: exact collapse FIRST (bit-identical
    * vectors → min-id keepers, one flat hash shuffle — the 100×-measured
    * guard), then the banded LSH near-dup verdicts OVER KEEPERS (the
    * gated x_dedup_emb_cosine_lsh_clean chain — no label crutch, bucket
    * occupancy bounded by distinct vectors), losers anti-joined away.
    * Shared by both clean prep arms so the stage composition cannot
    * drift from the verdict operators.
    */
  private def embPrepSurvivorsClean(spark: SparkSession, dir: String,
      planes: Array[Array[Array[Double]]] = tablePlanes): DataFrame =
    embPrepCleanStage(spark, dir, planes)._1

  /** The clean stage's (survivors, band-loser ids) pair — the band
    * losers are derived ONCE here and returned so the audit consumes
    * the same derivation it anti-joins with (the shared-construction
    * rule), instead of re-running the banded chain for its flag join.
    *
    * CACHE LIFECYCLE CONTRACT: the loser-id relation below is persisted
    * and NEVER unpersisted here — both return values reference it and
    * the gated queries are lazy, so no point inside this method is
    * after-the-last-action. Callers that own their session (Verify /
    * Bench / ScaleProbe / the Pipeline main) bound residency with
    * clearCache() between queries; library consumers on a SHARED
    * session accumulate one slim id-set cache entry per invocation and
    * must budget for that (a scoped unpersist here would race sibling
    * queries that picked the subtree up mid-flight — the same hazard
    * as the forbidden test-session clearCache, CLAUDE.md r14).
    */
  private def embPrepCleanStage(spark: SparkSession, dir: String,
      planes: Array[Array[Array[Double]]] = tablePlanes)
      : (DataFrame, DataFrame) = {
    // Persisted: the banded chain is the clean stage's heaviest piece
    // and BOTH return values depend on it — the survivor anti-join and
    // the audit/verdict consumers of the loser ids. Without the persist
    // each separate action (the audit's flag join, the verdict writes)
    // re-executes the whole chain; the cached relation is a slim id set
    // (the `assigned` persist precedent).
    val losers = lshCleanPairsWith(spark, dir, planes)
      .select(col("id2").as("vec_id")).distinct().persist()
    val surv = Dedup.embExactKeepers(spark, dir)
      .join(losers, Seq("vec_id"), "left_anti")
    (surv, losers)
  }

  /** xEmbCorpusPrep with the dedup front-end swapped to the PRODUCTION
    * staging the 100× replication probe adjudicated (SCALE.md's guards
    * table): exact collapse, then banded near-dup removal over keepers
    * — the composition measured FLAT (1.0×) on the corpus where the
    * label-blocked front-end's pair join cliffs. Downstream (quantizer
    * trained on survivors with hash-spread seeds, per-cell diversity
    * cap, int8 quantization) is the shared capAndQuantize tail, so this
    * arm and the base prep can only differ by the dedup staging.
    */
  def xEmbCorpusPrepClean(spark: SparkSession, dir: String,
      planes: Array[Array[Array[Double]]] = tablePlanes,
      kCells: Int = 16): DataFrame = {
    val surv = embPrepSurvivorsClean(spark, dir, planes)
    val cents = lloydCentroids(surv, kCells, 1, hashSpread = true)
    capAndQuantize(surv.select(col("vec_id"), col("embedding"),
      VectorFunctions.nearestCentroid(col("embedding"), cents).as("cell")))
  }

  /** The clean prep COMPOSED at the wide banding — the r14 density knob
    * threaded through the production pipeline (the verdict's "scale the
    * blocking grid" composition): identical staging/quantizer/cap/int8
    * chain, only the plane matrices swap. This is the configuration a
    * 100 TB deployment runs where the fixed 12×10 grid hits the
    * measured density wall (SCALE.md's 100×-grown budget row); the
    * boundary-recall tradeoff is the knob's own documented one.
    */
  def xEmbCorpusPrepCleanWide(spark: SparkSession, dir: String): DataFrame =
    xEmbCorpusPrepClean(spark, dir, tablePlanesWide)

  /** The PRODUCTION vector pipeline — every gated stage composed at its
    * argued position, the vector-side twin of x_llm_corpus_prep_full:
    * exact collapse (hash, flat) → banded LSH near-dup over keepers
    * (the measured clean arm) → coarse quantizer trained once on the
    * survivors → within-cell SemDeDup at the paper's position → per-cell
    * diversity cap + int8 quantization. Each drop traces to exactly one
    * gated operator's verdict; every stage's 100×-replication cost is
    * individually measured (1.0×/1.0×/2.0×-shaped chains — SCALE.md).
    */
  def xEmbCorpusPrepFull(spark: SparkSession, dir: String,
      planes: Array[Array[Array[Double]]] = tablePlanes,
      kCells: Int = 16): DataFrame = {
    val (assigned, semLosers, _) = fullPrepSemStage(spark, dir, planes, kCells)
    val sem = assigned.join(semLosers, Seq("vec_id"), "left_anti")
    capAndQuantize(sem.select(col("vec_id"), col("embedding"), col("cell")))
  }

  /** The FULL arm's (assigned clean survivors, semantic-loser ids,
    * band-loser ids) triple — ONE construction (the bpeTrain rule)
    * behind the gated composition and the drop-attribution audit below;
    * the band losers ride along so the audit flags with the SAME
    * derivation the survivor anti-join consumed (never a second run of
    * the banded chain, the heaviest stage).
    */
  private def fullPrepSemStage(spark: SparkSession, dir: String,
      planes: Array[Array[Array[Double]]] = tablePlanes,
      kCells: Int = 16): (DataFrame, DataFrame, DataFrame) = {
    val (surv, bandLosers) = embPrepCleanStage(spark, dir, planes)
    val cents = lloydCentroids(surv, kCells, 1, hashSpread = true)
    val assigned = withVecNorm(surv).withColumn("cell",
      VectorFunctions.nearestCentroid(col("embedding"), cents)).persist()
    val a = assigned.select(col("cell"), col("vec_id").as("id1"),
      col("v").as("v1"), col("nrm").as("n1"))
    val b = assigned.select(col("cell"), col("vec_id").as("id2"),
      col("v").as("v2"), col("nrm").as("n2"))
    val semLosers = a.join(b, Seq("cell"))
      .filter(col("id1") < col("id2"))
      .filter(round(VectorFunctions.dotProduct(col("v1"), col("v2"))
        / (col("n1") * col("n2")), 4) >= semThreshold)
      .select(col("id2").as("vec_id")).distinct()
    (assigned, semLosers, bandLosers)
  }

  /** Per-stage DROP-ATTRIBUTION AUDIT of the production vector prep —
    * the embedding-side twin of x_llm_corpus_prep_audit: every vector
    * in the raw pool attributed to the FIRST x_emb_corpus_prep_full
    * stage that drops it (exact collapse → banded near-dup → within-
    * cell SemDeDup → per-cell cap), funnel-rolled to per-stage counts.
    * Pure CASE priority over the gated stages' OWN shared
    * constructions (embExactKeepers / the clean banded losers /
    * fullPrepSemStage / cappedRanks — never re-derivations), so the
    * 'kept' class equals the FULL arm's emitted vec_ids by
    * construction (spec-pinned). Ships next to the vector data card
    * at any scale: every attribution join is an 8-byte id join.
    */
  def xEmbCorpusPrepAudit(spark: SparkSession, dir: String): DataFrame =
    embAuditRollup(embAuditVectors(spark, dir))

  private[graft] def embAuditRollup(per: DataFrame): DataFrame =
    per.groupBy(col("stage_ord"), col("stage"))
      .agg(count(lit(1)).as("n_vecs"))
      .orderBy("stage_ord")

  /** The per-vector attribution relation behind the audit rollup (the
    * auditCorpus idiom — the spec inspects it vec-for-vec against the
    * FULL arm's survivor set, not just by count). Band losers come from
    * fullPrepSemStage's own returned derivation (never a second run of
    * the banded chain).
    */
  private[graft] def embAuditVectors(spark: SparkSession,
      dir: String): DataFrame =
    embAuditTail(Tables.embeddings(spark, dir).select("vec_id"),
      embPrepVerdictRelations(spark, dir).toMap)

  /** The names of the vector prep's slim verdict relations the deployed
    * arm persists and [[embAuditFromArtifacts]] reads back. */
  private[graft] val embVerdictNames: Seq[String] = Seq(
    "verd_emb_keep", "verd_emb_band_lose", "verd_emb_sem_lose",
    "verd_emb_cap_lose")

  /** The vector prep's slim per-stage verdict id sets — ONE
    * construction (fullPrepSemStage's own returned derivations) behind
    * the live audit and the persisted deployed arm, mirroring
    * CorpusPrep.prepVerdictRelations. Each is a vec_id column only:
    * embeddings never ride into the attribution artifacts.
    */
  private[graft] def embPrepVerdictRelations(spark: SparkSession,
      dir: String,
      planes: Array[Array[Array[Double]]] = tablePlanes,
      kCells: Int = 16): Seq[(String, DataFrame)] = {
    val (assigned, semLosers, bandLosers) =
      fullPrepSemStage(spark, dir, planes, kCells)
    val sem = assigned.join(semLosers, Seq("vec_id"), "left_anti")
    val capLosers = cappedRanks(
        sem.select(col("vec_id"), col("embedding"), col("cell")))
      .filter(col("rank") > 8).select("vec_id")
    Seq(
      "verd_emb_keep" -> Dedup.embExactKeepers(spark, dir).select("vec_id"),
      "verd_emb_band_lose" -> bandLosers,
      "verd_emb_sem_lose" -> semLosers,
      "verd_emb_cap_lose" -> capLosers)
  }

  /** The attribution tail over the raw pool + verdict id sets — shared
    * verbatim by the live audit and the artifact-backed arm. */
  private def embAuditTail(pool: DataFrame,
      rel: Map[String, DataFrame]): DataFrame = {
    def flag(ids: DataFrame, name: String): DataFrame =
      ids.select("vec_id").distinct().withColumn(name, lit(1))
    pool
      .join(flag(rel("verd_emb_keep"), "f_keep"), Seq("vec_id"), "left")
      .join(flag(rel("verd_emb_band_lose"), "f_band"), Seq("vec_id"), "left")
      .join(flag(rel("verd_emb_sem_lose"), "f_sem"), Seq("vec_id"), "left")
      .join(flag(rel("verd_emb_cap_lose"), "f_cap"), Seq("vec_id"), "left")
      .withColumn("stage_ord",
        when(col("f_keep").isNull, lit(0L))
          .when(col("f_band") === 1, lit(1L))
          .when(col("f_sem") === 1, lit(2L))
          .when(col("f_cap") === 1, lit(3L))
          .otherwise(lit(4L)))
      .withColumn("stage",
        element_at(typedlit(embAuditStages), col("stage_ord").cast("int") + 1))
  }

  /** The DEPLOYED vector attribution arm: the same tail over the
    * PERSISTED verdict id sets (Pipeline.materializePrepVerdicts) and
    * the corpus's raw pool — id-joins over slim parquet, no chain
    * re-runs; parity-spec'd vec-for-vec against [[embAuditVectors]].
    * Loads are STAMPED (ArtifactShelf.table vs the verdict dir's
    * build stamp — the r12 skew guard), so a partially rebuilt
    * verdict dir fails loudly instead of mis-attributing.
    */
  def embAuditFromArtifacts(spark: SparkSession, dir: String,
      verdDir: String): DataFrame =
    embAuditTail(Tables.embeddings(spark, dir).select("vec_id"),
      embVerdictNames.map(n =>
        n -> graft.ArtifactShelf.table(spark, verdDir, n)).toMap)

  private[graft] val embAuditStages: Seq[String] = Seq(
    "exact_dup", "near_dup", "semantic", "cap", "kept")

  /** The DECONTAMINATED production vector pipeline — the clean prep
    * with the text flagship's two holdout stages composed at their
    * argued positions: (1) exact collapse + banded near-dup removal
    * (the measured clean staging); (2) eval EXCLUSION — the md5-holdout
    * bucket (the split convention) never enters a training corpus;
    * (3) LEAK removal — train keepers the x_emb_contamination gate
    * flags against an eval keeper are dropped (the paraphrase-leak
    * class n-gram decontamination misses); (4) quantizer trained on
    * what remains, per-cell cap, int8 codes. Policy note: dedup
    * verdicts are computed on the FULL keeper set before exclusion
    * (dropping eval first would resurrect train near-dups whose only
    * lower-id partner was an eval vector — the same
    * selection-before-cleaning ordering argument the text pipeline
    * pins); the exclusion and leak anti-joins are id-only.
    */
  def xEmbCorpusPrepDecon(spark: SparkSession, dir: String,
      planes: Array[Array[Array[Double]]] = tablePlanes,
      kCells: Int = 16): DataFrame = {
    val leak = xEmbContamination(spark, dir, planes)
      .select(col("train_id").as("vec_id")).distinct()
    val surv = embPrepSurvivorsClean(spark, dir, planes)
      .filter(TextAnalysis.md5Bucket(100, col("vec_id")) >= 10)
      .join(leak, Seq("vec_id"), "left_anti")
    val cents = lloydCentroids(surv, kCells, 1, hashSpread = true)
    capAndQuantize(surv.select(col("vec_id"), col("embedding"),
      VectorFunctions.nearestCentroid(col("embedding"), cents).as("cell")))
  }

  /** The CURATION-AWARE production vector prep — the graph-consuming
    * cuts composed into the pipeline at the cap position: every other
    * prep arm retains per-cell survivors in md5-bucket order
    * (arbitrary-but-deterministic); this arm retains them by the
    * x_knn_density_select DIVERSITY policy — the cell's LEAST-dense
    * members survive the cap (the D4/SemDeDup "prune dense regions"
    * position), so a crowded sub-region contributes one representative
    * where the md5 cap could keep eight near-neighbors. Stages: clean
    * staging (exact collapse + banded near-dup over keepers, the
    * measured 100× guard) → ONE hash-spread quantizer trained on the
    * survivors whose cells serve BOTH the kNN graph and the cap layout
    * (the xEmbCorpusPrepSem one-Lloyd-pass shape — no second training
    * pass at 100 TB) → within-cell top-k graph → exact basis-point
    * densities (knnDensity, shared with the standalone gate) → per-cell
    * cap of 8 in (density ASC, vec_id) order, isolated members first
    * via the -10001 sentinel (zero measured redundancy — the
    * density-select policy verbatim) → int8 codes (shared tail).
    * The composed twin splices the SAME generated chains: clean
    * prelude, hash-spread quantizer, graph CTEs, density CTE pair —
    * so the cut cannot drift from its standalone gate. The planted
    * spec pins a cell where the density cap and the md5 cap disagree.
    * Scale shape: the graph stage is the probed per-cell-linear pair
    * join over KEEPERS (the clean staging bounds cell occupancy by
    * distinct vectors); density adds per-vector integer aggregates of
    * 8-byte rows; the cap is the same one window every prep arm pays.
    */
  def xEmbCorpusPrepCurated(spark: SparkSession, dir: String,
      kNeighbors: Int = 5,
      planes: Array[Array[Array[Double]]] = tablePlanes,
      kCells: Int = 16): DataFrame = {
    val (assigned, topk) = prepCellTopK(spark, dir, kNeighbors, planes, kCells)
    val nn = topk.select(col("id1").as("vec_id"), col("cos_sim"))
    val dens = knnDensity(nn).select("vec_id", "density_e4")
    val wc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cell")).orderBy(col("sk"), col("vec_id"))
    int8CapTail(assigned
      .join(dens, Seq("vec_id"), "left")
      .withColumn("sk", coalesce(col("density_e4"), lit(-10001L)))
      .withColumn("rank", row_number().over(wc)))
  }

  /** The PROTOTYPE-retention production vector prep — the centrality
    * cut composed at the cap position, the mirror arm of
    * xEmbCorpusPrepCurated (density keeps the SPARSE for diversity;
    * centrality keeps the MOST-VOTED-FOR as prototypes — the two
    * retention policies graph curation mixes, now both consumed by
    * compositions): clean staging → one hash-spread quantizer serving
    * both the within-cell kNN graph and the cap layout → integer
    * PageRank over the graph's edges (the ONE shared pagerankLoop —
    * e9 longs, 3 rounds, exact div semantics) → per-cell cap of 8 in
    * (score_e9 DESC, vec_id) order → int8 codes (shared tail). The
    * twin splices the same generated chains plus the shared round-CTE
    * generator, so neither the graph nor the scores can drift from
    * their standalone gates. Scale shape: the curated arm's plus one
    * shuffle-on-dst long-sum per round over the localCheckpoint'd
    * edge list (the Pregel tax, measured flat on the clean arms).
    */
  def xEmbCorpusPrepProto(spark: SparkSession, dir: String,
      kNeighbors: Int = 5,
      planes: Array[Array[Array[Double]]] = tablePlanes,
      kCells: Int = 16): DataFrame = {
    val (assigned, topk) = prepCellTopK(spark, dir, kNeighbors, planes, kCells)
    val edges = topk.select(col("id1").as("src"), col("id2").as("dst"))
    val scores = pagerankLoop(edges, assigned.select("vec_id"), 3,
      weighted = false)
    val wc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cell")).orderBy(desc("score_e9"), col("vec_id"))
    int8CapTail(assigned
      .join(scores, Seq("vec_id"))
      .withColumn("rank", row_number().over(wc)))
  }

  /** The shared survivors → (assigned, within-cell top-k edges) block
    * behind the curated and proto preps (previously a near-copy in
    * each, itself the xKnnGraph pair-join shape): clean survivors →
    * ONE hash-spread quantizer → persisted cell assignment → per-cell
    * pair join ranked to each vector's top `kNeighbors` by the gated
    * (cos_sim DESC, id) order. `assigned` is persisted because the
    * returned plans reference it three times (both pair sides + the
    * caller's cap base) and the gated query is LAZY — it cannot be
    * unpersisted before the caller's action (the xEmbCorpusPrepSem
    * persistence rationale); the Verify/Bench runners clearCache()
    * after every query, which bounds residency to one query's blocks.
    */
  private def prepCellTopK(spark: SparkSession, dir: String,
      kNeighbors: Int,
      planes: Array[Array[Array[Double]]] = tablePlanes,
      kCells: Int = 16)
      : (DataFrame, DataFrame) = {
    val surv = embPrepSurvivorsClean(spark, dir, planes)
    val cents = lloydCentroids(surv, kCells, 1, hashSpread = true)
    val assigned = withVecNorm(surv).withColumn("cell",
      VectorFunctions.nearestCentroid(col("embedding"), cents)).persist()
    val a = assigned.select(col("cell"), col("vec_id").as("id1"),
      col("v").as("v1"), col("nrm").as("n1"))
    val b = assigned.select(col("cell"), col("vec_id").as("id2"),
      col("v").as("v2"), col("nrm").as("n2"))
    val wg = org.apache.spark.sql.expressions.Window
      .partitionBy(col("id1")).orderBy(desc("cos_sim"), col("id2"))
    val topk = a.join(b, Seq("cell"))
      .filter(col("id1") =!= col("id2"))
      .withColumn("cos_sim",
        round(VectorFunctions.dotProduct(col("v1"), col("v2"))
          / (col("n1") * col("n2")), 4))
      .withColumn("nn_rank", row_number().over(wg))
      .filter(col("nn_rank") <= kNeighbors)
      .select(col("id1"), col("id2"), col("cos_sim"))
    (assigned, topk)
  }

  /** Int8 scalar quantization of the embedding column — the standard
    * storage/bandwidth scale move for a 100 TB vector corpus (4× smaller
    * than float32, SIMD-friendly dot products downstream): code_i =
    * clamp(floor(x_i·127 + 0.5), −127, 127). Every step is exact IEEE
    * double arithmetic on exactly-widened floats (no engine-divergent
    * rounding: floor, not cast — Spark's double→int cast truncates while
    * DuckDB's rounds, the CLAUDE.md gotcha), so the codes — summarized
    * here as per-vector (sum, min, max) over the code list — are bitwise
    * reproducible in any engine. A narrow per-row map, no shuffle.
    */
  def xEmbQuantize(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select(col("vec_id"), sq8Codes("embedding").as("codes"))
      .select(col("vec_id"),
        size(col("codes")).cast("long").as("n_dims"),
        expr("aggregate(codes, 0L, (a, c) -> a + c)").as("sum_codes"),
        array_min(col("codes")).as("min_code"),
        array_max(col("codes")).as("max_code"))
      .orderBy("vec_id")

  /** The VECTOR corpus composition manifest — the data card's
    * embedding-side twin (TextAnalysis.xCorpusManifest for float[]
    * columns): per label, vector counts, DISTINCT-vector counts (so
    * each slice's exact-duplicate level rides along — the embExactKeepers
    * convention consumed as a statistic), the dim range (a ragged-dim
    * ingest bug surfaces as min ≠ max), the exact-integer quantized
    * square-norm mass (per element trunc(x²·2²⁴) summed as longs — the
    * avgMoney6 idiom for vectors, portable where float sums are not;
    * on a unit-normalized corpus this reads ≈ n·2²⁴, so normalization
    * drift is visible in the card), and each label's share in exact
    * basis points. One partial-aggregated scan + a 1-row broadcast
    * total — the manifest costs one pass at any corpus size.
    */
  def xEmbManifest(spark: SparkSession, dir: String): DataFrame =
    embManifestCard(Tables.embeddings(spark, dir)).orderBy("label")

  /** The vector card over an arbitrary embedding relation — ONE builder
    * behind the gated card and the drift monitor's two half-cards (the
    * TextAnalysis.manifestCard idiom); shares are basis points of the
    * INPUT relation's own total.
    */
  private def embManifestCard(e: DataFrame): DataFrame = {
    val per = e
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_vecs"),
        countDistinct(col("embedding")).as("n_distinct_vecs"),
        min(size(col("embedding"))).cast("long").as("min_dims"),
        max(size(col("embedding"))).cast("long").as("max_dims"),
        sum(expr(
          """aggregate(embedding, 0L, (a, x) ->
            |  a + CAST(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)
            |        * 16777216.0D AS BIGINT))""".stripMargin))
          .as("sum_sq_q"))
    per.crossJoin(broadcast(per.agg(sum(col("n_vecs")).as("tot"))))
      .select(col("label"), col("n_vecs"), col("n_distinct_vecs"),
        col("min_dims"), col("max_dims"), col("sum_sq_q"),
        expr("n_vecs * 10000 div tot").as("vec_share_bp"))
  }

  /** Vector-card DRIFT monitor — the embedding-side twin of
    * x_corpus_drift: the admitted (lower-id) half's card is the
    * REFERENCE, the arriving half's the LIVE card (the admission split
    * convention), and each label slice reports both vector shares in
    * basis points (each over its OWN half total), the integer delta,
    * and the 100 bp alarm flag; labels present in one half zero-fill
    * the other. A label-distribution shift at ingest is the embedding
    * corpus's composition-drift signal (a new upstream encoder or
    * source mix shows up here before any model does). All-integer —
    * bitwise at any size; two card scans + a label-count-sized join.
    */
  def xEmbDrift(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val half = Tables.admissionSplit(e, "vec_id")
    def shares(df: DataFrame, as: String): DataFrame =
      embManifestCard(df).select(col("label"), col("vec_share_bp").as(as))
    shares(e.filter(col("vec_id") < half), "ref_share_bp")
      .join(shares(e.filter(col("vec_id") >= half), "new_share_bp"),
        Seq("label"), "full_outer")
      .select(col("label"),
        coalesce(col("ref_share_bp"), lit(0L)).as("ref_share_bp"),
        coalesce(col("new_share_bp"), lit(0L)).as("new_share_bp"))
      .withColumn("delta_bp", col("new_share_bp") - col("ref_share_bp"))
      .withColumn("drifted",
        when(abs(col("delta_bp")) >= 100, lit(1L)).otherwise(lit(0L)))
      .orderBy("label")
  }

  // Product quantization: 64 dims → 8 subspaces × 8 dims, 16 centroids
  // per subspace (one exact-integer Lloyd round each, same quantizer as
  // IVF), so a vector compresses to 8 nibble codes. Deliberately small
  // gated params; at 100 TB the standard config is m=16..64, k=256
  // (1 byte/code) — the same code path, and the codebook stays a few KB.
  private[graft] val pqM = 8
  private val pqSub = 8
  private val pqK = 16

  /** One codebook per subspace, all m trained in a SINGLE corpus pass:
    * per-subspace seed assignment (m codegen'd nearest_centroid columns)
    * + one (subspace, cell, pos) exact-integer aggregate, then the same
    * floor-div dequantized mean as lloydCentroids — identical arithmetic
    * to running the shared Lloyd step per subspace (the generated oracle
    * replays the per-subspace formulation), but 2 driver collects total
    * per round instead of 2m. Collected size is m·k·sub rows (1024
    * doubles here — the SCALE.md Lloyd-note regime). `rounds` loops this
    * same pass on the refined codebooks (round 1 assigns by the seeds,
    * round r by round r−1's codebooks) — the x_ann_ivf_k8r2 idiom, so
    * scaling codebook training is oracle-proven at two depths
    * (x_ann_pq at 1, x_ann_pq_r2 at 2).
    */
  private def pqCodebooks(e: DataFrame,
      rounds: Int = 1,
      hashSpread: Boolean = false): Array[Array[Array[Double]]] = {
    // Seed VECTORS: first pqK by id (default), or the pqK lowest
    // (md5-bucket, vec_id) ranks (hashSpread — the same clustered-low-id
    // guard as the IVF seeding arm); every subspace slices the SAME
    // seed vector set, so the twin ranks once and slices per chain.
    val seedRows: Array[Array[Double]] =
      (if (hashSpread)
        e.select(col("embedding"),
          TextAnalysis.md5Bucket(10000, col("vec_id")).as("b"), col("vec_id"))
          .orderBy("b", "vec_id").limit(pqK).select("embedding").collect()
      else
        e.filter(col("vec_id") < pqK)
          .orderBy("vec_id").select("embedding").collect())
      .map(_.getSeq[Any](0).map {
        case f: Float => f.toDouble
        case d: Double => d
      }.toArray)
    var cbs: Array[Array[Array[Double]]] =
      Array.tabulate(pqM)(s => seedRows.map(_.slice(s * pqSub, s * pqSub + pqSub)))
    for (_ <- 1 to rounds) {
      val codeCols = (0 until pqM).map(s => VectorFunctions.nearestCentroid(
        expr(s"slice(embedding, ${s * pqSub + 1}, $pqSub)"), cbs(s)).as(s"cell$s"))
      val byCell: Map[(Int, Int), Array[Double]] =
        e.select(col("embedding") +: codeCols: _*)
          .select(posexplode(col("embedding")).as(Seq("p", "x")),
            array((0 until pqM).map(s => col(s"cell$s")): _*).as("cells"))
          .select(expr(s"cast(p div $pqSub as int)").as("sub"),
            expr(s"cast(p % $pqSub as int)").as("pos"),
            expr(s"element_at(cells, cast(p div $pqSub + 1 as int))").as("cell"), col("x"))
          .groupBy("sub", "cell", "pos")
          .agg(sum(((col("x").cast("double") + lit(16d)) * lit(16777216d)).cast("long")).as("sq"),
            count(lit(1)).as("n"))
          .select(col("sub"), col("cell"), col("pos"),
            (expr("sq div n").cast("double") / lit(16777216d) - lit(16d)).as("m"))
          .collect()
          .groupBy(r => (r.getInt(0), r.getInt(1)))
          .map { case (k, rows) =>
            k -> rows.sortBy(_.getInt(2)).map(_.getDouble(3)).toArray
          }
      // empty cells (duplicate seed vectors) keep their PREVIOUS-round
      // centroid (round 1: the seed) — the same fallback as
      // lloydCentroids and the oracle's COALESCE.
      val prev = cbs
      cbs = Array.tabulate(pqM)(s =>
        Array.tabulate(pqK)(c => byCell.getOrElse((s, c), prev(s)(c))))
    }
    cbs
  }

  // ADC shortlist size: candidates surviving the compressed-domain scan
  // into the exact re-rank. What stays fixed as the corpus grows depends
  // on the data: on a clustered corpus (real embeddings, neighbors well
  // above the bulk) a constant few-hundred shortlist holds recall; on a
  // gap-poor corpus like this near-random testdata the shortlist
  // FRACTION is what matters (the LSH candidate-fraction story, see the
  // nTables comment), so the 10× ScaleProbe arm scales the shortlist
  // with the replication factor. The knob is exposed on annPq; the
  // gated query pins 32 for the oracle.
  private val pqShortlist = 32

  /** Product-quantization ANN (ADC + exact re-rank): encode every corpus
    * vector as pqM nearest-subspace-centroid codes (a codegen'd
    * nearest_centroid pass per subspace — the 64-float vector becomes 8
    * small ints, a 32× storage/bandwidth compression), scan the CODES
    * with asymmetric distance (the query keeps its raw subvectors; each
    * candidate costs m codebook lookups, not a 64-dim dot product) to a
    * top-`pqShortlist` shortlist, then re-rank the shortlist exactly on
    * the raw vectors — the standard PQ search pipeline (shortlist
    * quality is bounded by quantization distortion, so the exact tail
    * restores ranking precision at negligible cost). Embeddings are
    * unit-norm, so squared-L2 ADC ranking tracks cosine (L2² = 2 − 2cos);
    * recall@5 vs the exact top-5 is spec-gated.
    *
    * Every arithmetic step is engine-portable: codebooks come from the
    * exact-integer Lloyd step (bitwise-reproducible dyadic doubles), the
    * per-subspace distance is a fixed-order left fold, partials add in
    * fixed subspace order, and both ranking stages break ties on
    * (rounded metric, neighbor_id) — the generated DuckDB twin replays
    * all of it (m quantizer CTE chains + the same folds) bitwise.
    *
    * Scale shape: FLAT PQ — one narrow broadcast-nested-loop pass over
    * the coded corpus (O(N·m) lookups on 8-byte rows, the memory-
    * bandwidth-optimal exhaustive path), then an O(Q·shortlist) exact
    * tail. For sublinear scans, compose with the IVF coarse quantizer
    * (probe cells, ADC within inverted lists) — both halves are
    * oracle-pinned here.
    */
  def xAnnPq(spark: SparkSession, dir: String): DataFrame =
    annPq(spark, dir, 0L)

  private[ext] def annPq(spark: SparkSession, dir: String,
      replicaShift: Long, shortlist: Int = pqShortlist,
      cbRounds: Int = 1, hashSpread: Boolean = false): DataFrame = {
    val e = withVecNorm(Tables.embeddings(spark, dir))
    val cbs = pqCodebooks(e, cbRounds, hashSpread)
    val codeCols = (0 until pqM).map(s => VectorFunctions.nearestCentroid(
      expr(s"slice(embedding, ${s * pqSub + 1}, $pqSub)"), cbs(s)).as(s"c$s"))
    val coded = e.select(
      col("vec_id").as("neighbor_id") +: col("v").as("v2") +: col("nrm").as("n2") +:
        codeCols: _*)
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
        col("v").as("v1"), col("nrm").as("n1"))
    val wAdc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(round(col("adc_raw"), 6).asc, col("neighbor_id"))
    val shortRows = coded
      .join(broadcast(q), col("neighbor_id") =!= col("query_id"))
      .filter(keepNeighbor(replicaShift))
      .withColumn("adc_raw", adcDistance(cbs))
      .withColumn("adc_rank", row_number().over(wAdc))
      .filter(col("adc_rank") <= shortlist)
    rerankTopK(shortRows
      .select("query_id", "neighbor_id", "v1", "n1", "v2", "n2"), 5)
  }

  /** ADC distance column: per subspace, squared L2 between the query's
    * raw subvector (col `qv`) and the candidate's code centroid (cols
    * `c0`..`c{m-1}`; codebooks embedded as literals — exact dyadic
    * doubles), left-folded in element order, partials added in fixed
    * subspace order. Shared by flat PQ and IVF+PQ.
    */
  private def adcDistance(cbs: Array[Array[Array[Double]]]): org.apache.spark.sql.Column =
    (0 until pqM).map { s =>
      val cb = typedlit(cbs(s).map(_.toSeq).toSeq)
      aggregate(
        zip_with(
          expr(s"transform(slice(qv, ${s * pqSub + 1}, $pqSub), x -> cast(x as double))"),
          element_at(cb, col(s"c$s") + 1),
          (a, b) => (a - b) * (a - b)),
        lit(0d), (acc, x) => acc + x)
    }.reduce(_ + _)

  // SQ8 shortlist size: same regime as pqShortlist (the ADC comment
  // applies verbatim — on this gap-poor corpus the candidate FRACTION
  // is what holds recall, so probe arms scale it with replication).
  private[graft] val sq8Shortlist = 32

  /** THE int8 quantize expression — ONE builder (the bpeTrain rule)
    * behind the gated x_emb_quantize summary and both SQ8 search ops:
    * code_i = clamp(floor(x_i·127 + 0.5), −127, 127) as a BIGINT list.
    * Every step is exact IEEE on exactly-widened floats (floor, not
    * cast — the engine-divergent double→int rounding gotcha), so codes
    * are bitwise identical in any engine.
    */
  private[graft] def sq8Codes(vecCol: String): org.apache.spark.sql.Column =
    expr(s"transform($vecCol, v -> CAST(greatest(least(floor(CAST(v AS DOUBLE) * 127d + 0.5d), 127d), -127d) AS BIGINT))")

  /** The integer-dot compressed-domain shortlist shared by flat SQ8 and
    * IVF+SQ8: Σ qc_i·cc_i over the BIGINT code lists (|Σ| ≤ 64·127² ≈
    * 10⁶ — no overflow at any realistic dims), top-`shortlist` per query
    * by (idot DESC, neighbor_id). Exact longs: the ranking is portable
    * BY CONSTRUCTION, with no float fold order to pin — stronger than
    * the ADC path's pinned-order doubles.
    */
  private def sq8Shortlisted(cand: DataFrame, shortlist: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("idot").desc, col("neighbor_id"))
    cand
      .withColumn("idot",
        expr("aggregate(zip_with(qc, cc, (a, b) -> a * b), 0L, (acc, t) -> acc + t)"))
      .withColumn("sq_rank", row_number().over(w))
      .filter(col("sq_rank") <= shortlist)
  }

  /** Scalar-quantized (SQ8) ANN — the int8 compression column's SEARCH
    * member, completing the compression matrix next to PQ (the FAISS
    * IndexScalarQuantizer/SQ8 position: the memory-bound-but-recall-
    * sensitive middle ground between raw floats and PQ's 32×): corpus
    * and queries are quantized by the ONE x_emb_quantize expression
    * (4× smaller scans, and the scan arithmetic becomes pure
    * int8×int8→int accumulate — the SIMD-friendly form production
    * engines ship SQ8 for), the compressed-domain score is the exact
    * integer dot product (unit-norm embeddings make it track cosine),
    * and the shared exact re-rank tail restores ranking precision.
    *
    * Scale shape: FLAT SQ8 — one narrow broadcast pass over the coded
    * corpus (O(N·dims) byte MACs at ~4× the float path's effective
    * memory bandwidth), then an O(Q·shortlist) exact tail. For
    * sublinear scans compose with the IVF coarse quantizer — gated as
    * x_ann_ivfsq8.
    */
  def xAnnSq8(spark: SparkSession, dir: String): DataFrame =
    annSq8(spark, dir, 0L)

  private[ext] def annSq8(spark: SparkSession, dir: String,
      replicaShift: Long, shortlist: Int = sq8Shortlist): DataFrame = {
    val e = withVecNorm(Tables.embeddings(spark, dir))
    val c = e.select(col("vec_id").as("neighbor_id"), col("v").as("v2"),
      col("nrm").as("n2"), sq8Codes("embedding").as("cc"))
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("v").as("v1"),
        col("nrm").as("n1"), sq8Codes("embedding").as("qc"))
    rerankTopK(sq8Shortlisted(
        c.join(broadcast(q), col("neighbor_id") =!= col("query_id"))
          .filter(keepNeighbor(replicaShift)), shortlist)
      .select("query_id", "neighbor_id", "v1", "n1", "v2", "n2"), 5)
  }

  /** IVF+SQ8 composed ANN — the coarse quantizer routes each query to
    * its nProbe=4 nearest cells and the integer-dot scan runs over the
    * probed inverted lists only (an equi-join on cell, never a corpus
    * scan), then shortlist → exact re-rank: the sublinear production
    * shape for the SQ8 column, mirroring x_ann_ivfpq's plumbing with
    * the ADC scan swapped for the exact-integer dot. A candidate
    * reachable through several probed cells enters the ranking once
    * (the IVF+PQ dedup rule — its code list is cell-independent).
    */
  def xAnnIvfSq8(spark: SparkSession, dir: String): DataFrame =
    annIvfSq8(spark, dir, 0L)

  private[graft] def annIvfSq8(spark: SparkSession, dir: String,
      replicaShift: Long, shortlist: Int = sq8Shortlist,
      kCells: Int = 16): DataFrame = {
    val nProbe = 4
    val (assigned, refined) = ivfAssigned(spark, dir, k = kCells)
    val coded = assigned.select(col("vec_id").as("neighbor_id"), col("cell"),
      col("v").as("v2"), col("nrm").as("n2"), sq8Codes("embedding").as("cc"))
    val q = assigned.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("v").as("v1"),
        col("nrm").as("n1"), sq8Codes("embedding").as("qc"),
        explode(VectorFunctions.nearestCells(col("embedding"), refined, nProbe))
          .as("cell"))
    rerankTopK(sq8Shortlisted(
        broadcast(q).join(coded, Seq("cell"))
          .filter(col("query_id") =!= col("neighbor_id"))
          .filter(keepNeighbor(replicaShift))
          .dropDuplicates("query_id", "neighbor_id"), shortlist)
      .select("query_id", "neighbor_id", "v1", "n1", "v2", "n2"), 5)
  }

  /** IVF+PQ composed ANN — the production sublinear search shape for a
    * 100 TB vector corpus: the coarse quantizer routes each query to its
    * nProbe=4 nearest IVF cells, the candidate set is those cells'
    * inverted lists only (an EQUI-join on cell, not a corpus scan), ADC
    * over the candidates' 8 codes builds the shortlist, and the exact
    * re-rank restores ranking precision. Storage per list entry is the
    * 8 codes (32× compression) + the raw vector fetched only for the
    * O(Q·shortlist) re-rank tail — at scale the raw vectors live in a
    * separate store keyed by id and only shortlisted ids are fetched.
    * This codebook quantizes RAW vectors shared with flat PQ (so one
    * oracle chain pins both); the classical IVFADC refinement —
    * quantizing residuals (v − cell centroid) for a tighter codebook —
    * is the same plumbing with a residual column feeding training and
    * encoding.
    *
    * Hash-gated bitwise: the generated twin composes the IVF quantizer
    * CTE chain (probe walk included) with the PQ per-subspace chains,
    * candidates restricted to probed cells, same fixed-order ADC folds
    * and (rounded metric, neighbor_id) tie-breaks at both stages.
    */
  def xAnnIvfPq(spark: SparkSession, dir: String): DataFrame =
    annIvfPq(spark, dir, 0L)

  private[ext] def annIvfPq(spark: SparkSession, dir: String,
      replicaShift: Long, shortlist: Int = pqShortlist): DataFrame = {
    val nProbe = 4
    val (assigned, refined) = ivfAssigned(spark, dir)
    val cbs = pqCodebooks(assigned)
    val codeCols = (0 until pqM).map(s => VectorFunctions.nearestCentroid(
      expr(s"slice(embedding, ${s * pqSub + 1}, $pqSub)"), cbs(s)).as(s"c$s"))
    val coded = assigned.select(col("vec_id").as("neighbor_id") +: col("cell") +:
      col("v").as("v2") +: col("nrm").as("n2") +: codeCols: _*)
    val q = assigned.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
        col("v").as("v1"), col("nrm").as("n1"),
        explode(VectorFunctions.nearestCells(col("embedding"), refined, nProbe))
          .as("cell"))
    val wAdc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(round(col("adc_raw"), 6).asc, col("neighbor_id"))
    // a candidate reachable through several probed cells must enter the
    // ADC ranking once (its distance is cell-independent); dedup before
    // the window so rank ties stay deterministic.
    val shortRows = broadcast(q).join(coded, Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .filter(keepNeighbor(replicaShift))
      .dropDuplicates("query_id", "neighbor_id")
      .withColumn("adc_raw", adcDistance(cbs))
      .withColumn("adc_rank", row_number().over(wAdc))
      .filter(col("adc_rank") <= shortlist)
    rerankTopK(shortRows
      .select("query_id", "neighbor_id", "v1", "n1", "v2", "n2"), 5)
  }

  /** Classical residual IVFADC: the PQ codebooks quantize RESIDUALS
    * (v − assigned-cell centroid) instead of raw vectors — within one
    * cell the residual magnitudes are a fraction of the raw coordinate
    * spread, so the same 8×16 codebook budget buys a tighter quantizer
    * (Jégou et al.'s IVFADC form). Encoding subtracts each vector's own
    * cell centroid; at query time the query's residual is taken against
    * EACH probed cell's centroid and ADC runs against that cell's
    * inverted list only — both centroid subtractions are exact IEEE
    * (refined centroids are dyadic doubles from the integer Lloyd step,
    * float subvectors widen exactly), so the whole pipeline stays
    * bitwise against the generated twin (IVF chain → residual CTE →
    * PQ chains sliced from residuals → per-probed-cell query residual →
    * ADC → exact re-rank). A candidate lives in exactly one cell, so no
    * cross-cell dedup is needed before the shortlist window.
    */
  def xAnnIvfAdc(spark: SparkSession, dir: String): DataFrame =
    annIvfAdc(spark, dir, 0L)

  private[ext] def annIvfAdc(spark: SparkSession, dir: String,
      replicaShift: Long, shortlist: Int = pqShortlist): DataFrame = {
    val nProbe = 4
    val (assigned, refined) = ivfAssigned(spark, dir)
    val cents = typedlit(refined.map(_.toSeq).toSeq)
    val withRes = assigned.withColumn("rv",
      zip_with(col("embedding"),
        element_at(cents, (col("cell") + 1).cast("int")),
        (a, b) => a.cast("double") - b))
    val cbs = pqCodebooks(withRes.select(col("vec_id"), col("rv").as("embedding")))
    val codeCols = (0 until pqM).map(s => VectorFunctions.nearestCentroid(
      expr(s"slice(rv, ${s * pqSub + 1}, $pqSub)"), cbs(s)).as(s"c$s"))
    val coded = withRes.select(col("vec_id").as("neighbor_id") +: col("cell") +:
      col("v").as("v2") +: col("nrm").as("n2") +: codeCols: _*)
    // query residual is per PROBED cell (the cell whose list we scan),
    // not the query's own cell
    val q = assigned.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding"),
        col("v").as("v1"), col("nrm").as("n1"),
        explode(VectorFunctions.nearestCells(col("embedding"), refined, nProbe))
          .as("cell"))
      .withColumn("qv",
        zip_with(col("embedding"),
          element_at(cents, (col("cell") + 1).cast("int")),
          (a, b) => a.cast("double") - b))
    val wAdc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(round(col("adc_raw"), 6).asc, col("neighbor_id"))
    val shortRows = broadcast(q).join(coded, Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .filter(keepNeighbor(replicaShift))
      .withColumn("adc_raw", adcDistance(cbs))
      .withColumn("adc_rank", row_number().over(wAdc))
      .filter(col("adc_rank") <= shortlist)
    rerankTopK(shortRows
      .select("query_id", "neighbor_id", "v1", "n1", "v2", "n2"), 5)
  }

  /** Incremental residual-IVFADC admission — the composed frozen-state
    * arm that completes the admission matrix (IVF cells, flat-PQ codes,
    * and now the full residual pipeline): coarse centroids AND residual
    * codebooks are trained ONCE on the admitted half, both frozen, and a
    * new batch is (1) assigned to its frozen coarse cell, (2) residual'd
    * against that frozen centroid, (3) encoded with the frozen residual
    * codebooks — three codegen'd narrow passes, O(batch) per ingest,
    * nothing admitted ever re-trained, re-assigned, or re-coded (any of
    * which would silently invalidate the persisted inverted lists AND
    * every ADC structure built over them — the reason production IVFADC
    * deployments version quantizer state instead of refreshing it).
    * Output: (vec_id, cell, c0..c7) for the admitted batch, hash-gated
    * bitwise against the composed twin (coarse chain with trainWhere +
    * residual CTE + PQ chains with the same trainWhere).
    */
  def xAnnIvfAdcAdmit(spark: SparkSession, dir: String): DataFrame = {
    val e = withVecNorm(Tables.embeddings(spark, dir))
    val split = Tables.admissionSplit(e, "vec_id")
    val train = e.filter(col("vec_id") < split)
    val cents = lloydCentroids(train, 16, 1)
    val centsLit = typedlit(cents.map(_.toSeq).toSeq)
    def withRes(df: DataFrame): DataFrame = df
      .withColumn("cell", VectorFunctions.nearestCentroid(col("embedding"), cents))
      .withColumn("rv", zip_with(col("embedding"),
        element_at(centsLit, (col("cell") + 1).cast("int")),
        (a, b) => a.cast("double") - b))
    val cbs = pqCodebooks(
      withRes(train).select(col("vec_id"), col("rv").as("embedding")))
    val codeCols = (0 until pqM).map(s => VectorFunctions.nearestCentroid(
      expr(s"slice(rv, ${s * pqSub + 1}, $pqSub)"), cbs(s))
      .cast("long").as(s"c$s"))
    withRes(e.filter(col("vec_id") >= split))
      .select(col("vec_id") +: col("cell").cast("long").as("cell") +: codeCols: _*)
      .orderBy("vec_id")
  }

  /** Incremental PQ admission — the codes-side member of the admission
    * trilogy (MinHash signature state, IVF cell assignment, PQ codes):
    * the m codebooks are trained ONCE on the already-admitted corpus
    * (the lower-id half, split at (max_id+1)/2 like xAnnIvfAdmit),
    * frozen, and the new batch is encoded with the m codegen'd
    * nearest_centroid passes alone — O(batch·m·k·sub) per ingest, no
    * re-training, and no silent re-coding of admitted vectors (which
    * would invalidate every persisted ADC structure built on them).
    * Hash-gated bitwise: the generated twin trains the same
    * exact-integer codebooks on the same half (pqOracleChains'
    * trainWhere) and encodes the complement.
    */
  def xAnnPqAdmit(spark: SparkSession, dir: String): DataFrame = {
    val (split, cbs) = pqAdmitState(spark, dir)
    pqEncode(withVecNorm(Tables.embeddings(spark, dir))
      .filter(col("vec_id") >= split), cbs)
      .orderBy("vec_id")
  }

  /** The PQ admission arm's FROZEN state — the (max_id+1)/2 split and
    * the m codebooks trained once on the admitted half — factored (the
    * knnAdmitState idiom) so the batch gate and the streaming encoder
    * (StreamOps.encodeVectors, the runtime half) consume the identical
    * artifact; a split or training edit here cannot desync them.
    */
  private[graft] def pqAdmitState(spark: SparkSession,
      dir: String): (Long, Array[Array[Array[Double]]]) = {
    val e = withVecNorm(Tables.embeddings(spark, dir))
    val split = Tables.admissionSplit(e, "vec_id")
    (split, pqCodebooks(e.filter(col("vec_id") < split)))
  }

  /** The shared frozen-codebook encode pass: m codegen'd
    * nearest_centroid columns over embedding subspaces — one narrow
    * map, O(rows·m·k·sub), no shuffle. ONE implementation behind the
    * batch admission gate, the streaming encoder, and (via `extra`
    * pass-through columns — the streamScreenCands convention) the
    * composed vector ingest gate.
    */
  private[graft] def pqEncode(df: DataFrame,
      cbs: Array[Array[Array[Double]]], extra: Seq[String] = Nil): DataFrame =
    df.select(col("vec_id") +: extra.map(col) ++: (0 until pqM).map(s =>
      VectorFunctions.nearestCentroid(
        expr(s"slice(embedding, ${s * pqSub + 1}, $pqSub)"), cbs(s))
        .cast("long").as(s"c$s")): _*)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "x_knn_bruteforce" -> (xKnnBruteForce _),
    // JL dimensionality reduction: the projected relation itself, and
    // brute-force search in the reduced space (recall vs full-dim is
    // additionally spec-pinned — the measured JL distortion, not hidden).
    "x_emb_rp_reduce"  -> (xEmbRpReduce _),
    "x_ann_rp"         -> (xAnnRp _),
    "x_ann_lsh"        -> (xAnnLsh _),
    "x_ann_ivf"        -> (xAnnIvf _),
    // The multi-round quantizer arm, gated with its own generated twin:
    // pins the LOOPED Lloyd path (k=8, 2 rounds) bitwise, so the scale
    // parameterization is oracle-proven, not just probe-measured.
    "x_ann_ivf_k8r2"   -> ((s: SparkSession, d: String) => annIvf(s, d, 0L, 8, 2)),
    // Hash-spread seeding arm: Lloyd seeded by the k lowest md5-bucket
    // ranks instead of the first k ids — the guard against clustered
    // low-id seeds, pinned bitwise by its own generated twin.
    "x_ann_ivf_seedh"  -> ((s: SparkSession, d: String) =>
      annIvf(s, d, 0L, 16, 1, hashSpread = true)),
    "x_ann_ivf_admit"  -> (xAnnIvfAdmit _),
    "x_ann_pq"         -> (xAnnPq _),
    // The multi-round CODEBOOK arm — the pqCodebooks loop at depth 2
    // with its own generated twin, the x_ann_ivf_k8r2 idiom applied to
    // the product quantizer: scaling codebook training is oracle-proven.
    "x_ann_pq_r2"      -> ((s: SparkSession, d: String) =>
      annPq(s, d, 0L, pqShortlist, 2)),
    // PQ seeding guard — hash-spread seed vectors for the codebooks,
    // completing the clustered-low-id-seed defense across BOTH
    // quantizer families (IVF: x_ann_ivf_seedh).
    "x_ann_pq_seedh"   -> ((s: SparkSession, d: String) =>
      annPq(s, d, 0L, pqShortlist, 1, hashSpread = true)),
    "x_ann_ivfpq"      -> (xAnnIvfPq _),
    // SQ8 search: the int8 compression column's flat and IVF-composed
    // search members — integer-dot shortlist (exact longs, portable by
    // construction) + the shared exact re-rank tail.
    "x_ann_sq8"        -> (xAnnSq8 _),
    "x_ann_ivfsq8"     -> (xAnnIvfSq8 _),
    "x_ann_pq_admit"   -> (xAnnPqAdmit _),
    "x_ann_ivfadc"     -> (xAnnIvfAdc _),
    "x_ann_ivfadc_admit" -> (xAnnIvfAdcAdmit _),
    "x_diversity_sample" -> (xDiversitySample _),
    "x_emb_quantize"   -> (xEmbQuantize _),
    "x_emb_manifest"   -> (xEmbManifest _),
    // The vector data card's drift monitor (admitted-half vs
    // arriving-half label shares) and the production prep's
    // drop-attribution audit — the embedding-side twins of
    // x_corpus_drift / x_llm_corpus_prep_audit.
    "x_emb_drift"      -> (xEmbDrift _),
    "x_emb_corpus_prep_audit" -> (xEmbCorpusPrepAudit _),
    "x_emb_corpus_prep" -> (xEmbCorpusPrep _),
    "x_emb_corpus_prep_sem" -> ((s: SparkSession, d: String) =>
      xEmbCorpusPrepSem(s, d)),
    // The density knob INSIDE the composed pipeline: 4× the cells shrink
    // the semantic stage's within-cell pair join (probed 10× head-to-head
    // like the standalone k64 arm) while the cap/int8 tail is k-invariant.
    "x_emb_corpus_prep_sem_k64" -> ((s: SparkSession, d: String) =>
      xEmbCorpusPrepSem(s, d, 64)),
    // The dedup front-end swapped to the 100x-adjudicated production
    // staging: exact collapse, banded near-dup over keepers (SCALE.md's
    // guards table), shared quantizer/cap/int8 tail.
    "x_emb_corpus_prep_clean" -> ((s: SparkSession, d: String) =>
      xEmbCorpusPrepClean(s, d)),
    // The banding knob COMPOSED through the production prep (the r14
    // verdict's weak-grade fix): the same clean pipeline at the 24×14
    // grid — the configuration that holds the 10-minute budget at 100×
    // grown where the fixed 12×10 banding exceeds it (SCALE.md).
    "x_emb_corpus_prep_clean_t24p14" -> ((s: SparkSession, d: String) =>
      xEmbCorpusPrepCleanWide(s, d)),
    // The PRODUCTION vector pipeline: collapse -> banded clean dedup ->
    // frozen survivor quantizer -> within-cell SemDeDup -> cap/int8 --
    // the vector-side twin of x_llm_corpus_prep_full.
    "x_emb_corpus_prep_full" -> ((s: SparkSession, d: String) =>
      xEmbCorpusPrepFull(s, d)),
    // The decontaminated prep: clean staging + eval-holdout exclusion
    // + contamination-leak removal before the quantizer/cap/int8 tail.
    "x_emb_corpus_prep_decon" -> ((s: SparkSession, d: String) =>
      xEmbCorpusPrepDecon(s, d)),
    // The retention-policy swap inside the prep: cluster + keep-central
    // survivors feed the quantizer (the keepbest-composition idiom).
    "x_emb_corpus_prep_central" -> ((s: SparkSession, d: String) =>
      xEmbCorpusPrepCentral(s, d)),
    // The curation-aware prep: the density-select DIVERSITY policy at
    // the cap position — per-cell survivors retained least-dense-first
    // (one kNN-graph + density pass over the clean staging's quantizer
    // cells) instead of md5-bucket order.
    "x_emb_corpus_prep_curated" -> ((s: SparkSession, d: String) =>
      xEmbCorpusPrepCurated(s, d)),
    // The prototype-retention prep: the centrality cut at the cap
    // position (per-cell survivors retained most-voted-for-first via
    // the shared integer pagerank loop) — the curated arm's mirror.
    "x_emb_corpus_prep_proto" -> ((s: SparkSession, d: String) =>
      xEmbCorpusPrepProto(s, d)),
    // The graph-consuming preps at BOTH scale knobs (the k ~ √N + wider-
    // banding doctrine composed together): curated/proto add a within-
    // cell kNN pair join on top of the clean staging, so at 100× grown
    // they need the 24×14 grid (banded staging density) AND 4× the
    // cells (pair-join block size) — one parameterization, zero new
    // chains; the planted disagreement specs re-run on these arms.
    "x_emb_corpus_prep_curated_t24p14k64" -> ((s: SparkSession, d: String) =>
      xEmbCorpusPrepCurated(s, d, planes = tablePlanesWide, kCells = 64)),
    "x_emb_corpus_prep_proto_t24p14k64" -> ((s: SparkSession, d: String) =>
      xEmbCorpusPrepProto(s, d, planes = tablePlanesWide, kCells = 64)),
    // The decontaminated prep at the same two knobs: its leak stage is
    // the banded contamination chain, so the grid parameter must reach
    // BOTH the clean staging and the leak verdicts (one `planes`
    // through xEmbContamination — the twin's leak CTE reuses the
    // prelude's banded candidates, keeping the two sides aligned by
    // construction).
    "x_emb_corpus_prep_decon_t24p14k64" -> ((s: SparkSession, d: String) =>
      xEmbCorpusPrepDecon(s, d, planes = tablePlanesWide, kCells = 64)),
    "x_dedup_emb_cosine_lsh" -> (xDedupEmbCosineLsh _),
    "x_dedup_emb_cosine_lsh_admit" -> (xDedupEmbCosineLshAdmit _),
    "x_dedup_semantic" -> ((s: SparkSession, d: String) => xDedupSemantic(s, d)),
    // The k ~ √N density arm: 4× the cells, ~4× smaller within-cell
    // pair blocks — the overfull-cell guard as a green gated row
    // instead of a SCALE.md prose note.
    "x_dedup_semantic_k64" -> ((s: SparkSession, d: String) =>
      xDedupSemantic(s, d, 64, 1)),
    // The EXACT configuration SCALE.md's density-guard recall probe
    // cites (k=64, 3 Lloyd rounds, recall 1.00) as a gated row — also
    // the only gate composing the multi-round MATERIALIZED refine chain
    // with a non-default k.
    "x_dedup_semantic_k64r3" -> ((s: SparkSession, d: String) =>
      xDedupSemantic(s, d, 64, 3)),
    // The semantic family's train-once admission arm: frozen-centroid
    // cells, each NEW vector's keep/drop verdict against its lower-id
    // cell-mates only — one assignment map + an inverted-list join per
    // ingest batch, admitted verdicts immutable.
    "x_dedup_semantic_admit" -> (xDedupSemanticAdmit _),
    "x_knn_graph" -> ((s: SparkSession, d: String) => xKnnGraph(s, d)),
    // The graph's k ~ √N density arm (the x_dedup_semantic_k64 pattern):
    // 4× the cells shrink every within-cell pair block ~4× — the knob
    // the 100× probe measured as the first-line guard for cell crowding.
    "x_knn_graph_k64" -> ((s: SparkSession, d: String) =>
      xKnnGraph(s, d, 5, 64, 1)),
    // The graph over exact keepers — identical replicas are inseparable
    // by ANY cell layout (they quantize together by construction), so a
    // corpus with duplicates must collapse them BEFORE the graph build,
    // exactly as the banded dedup's clean arm does. Quantizer trained on
    // the keepers (the deduped corpus IS the production input). On a
    // duplicate-free corpus this is bitwise-identical to x_knn_graph.
    "x_knn_graph_clean" -> ((s: SparkSession, d: String) =>
      xKnnGraph(s, d, srcOverride = Some(Dedup.embExactKeepers(s, d)))),
    // The graph family's train-once admission arm: frozen-centroid cell
    // assignment of the new half, neighbors among ADMITTED vectors only
    // — one assignment map + an inverted-list join per ingest batch.
    "x_knn_graph_admit" -> ((s: SparkSession, d: String) =>
      xKnnGraphAdmit(s, d)),
    // The graph-CONSUMING curation cut: basis-point neighborhood density
    // from the gated graph chain, keep the selectN least dense (sparse
    // regions + one representative of crowded ones) via the DSIR
    // broadcast Nth-threshold — integer arithmetic end-to-end.
    "x_knn_density_select" -> ((s: SparkSession, d: String) =>
      xKnnDensitySelect(s, d)),
    // The collapse-first density cut: the same diversity policy over
    // the keeper graph (the pagerank_clean idiom) — replicas can
    // neither crowd the cells nor inflate their region's density.
    "x_knn_density_select_clean" -> ((s: SparkSession, d: String) =>
      xKnnDensitySelect(s, d,
        srcOverride = Some(Dedup.embExactKeepers(s, d)))),
    // Graph centrality over the same chain: fixed-round integer
    // PageRank (e9 longs, damping 0.85, dangling mass dropped) — the
    // prototypicality signal graph curation ranks regions by.
    "x_graph_pagerank" -> ((s: SparkSession, d: String) =>
      xGraphPagerank(s, d)),
    // The collapse-first arm (the CLAUDE.md guard): centrality over the
    // keeper graph — identical replicas would otherwise both crowd the
    // cells (the graph build's measured 100× cliff) AND distort the
    // scores themselves (each replica set re-votes its region N×).
    "x_graph_pagerank_clean" -> ((s: SparkSession, d: String) =>
      xGraphPagerank(s, d, srcOverride = Some(Dedup.embExactKeepers(s, d)))),
    // The centrality-CONSUMING cut: keep the selectN most-voted-for
    // prototypes via the broadcast Nth-threshold over clean scores —
    // the mirror of x_knn_density_select's diversity policy.
    "x_graph_pagerank_select" -> ((s: SparkSession, d: String) =>
      xGraphPagerankSelect(s, d)),
    // The depth arm (the bpe_r12 / ivf_k8r2 idiom): 6 power-iteration
    // rounds pin the generated round chain well past the default 3 —
    // the twin's linear pr-CTE inlining and the loop's integer update
    // proven at double depth, where a subtle drift would compound.
    "x_graph_pagerank_r6" -> ((s: SparkSession, d: String) =>
      xGraphPagerank(s, d, prRounds = 6)),
    // Similarity-weighted centrality: a voter splits its mass in
    // proportion to edge cosine (w = c_e4 + 10001) instead of equally
    // — near-identical neighbors out-vote marginal ones. Clean-based
    // (the collapse-first invariant), exact integers via the
    // overflow-safe q·w + (r·w) div Σw decomposition.
    "x_graph_pagerank_w" -> ((s: SparkSession, d: String) =>
      xGraphPagerank(s, d, srcOverride = Some(Dedup.embExactKeepers(s, d)),
        weighted = true)),
    // Exact-duplicate collapse composed UPSTREAM of the banded near-dup
    // join: identical vectors share every signature, so NO geometric
    // blocking can separate them — dedup of bit-identical embeddings is
    // a hash-shuffle problem, not a similarity problem, and running it
    // first bounds every LSH bucket by the number of DISTINCT vectors
    // (the 100×-replication cliff measured in SCALE.md). Pairs are the
    // banded operator's verdicts restricted to exact-dup keepers.
    "x_dedup_emb_cosine_lsh_clean" -> (xDedupEmbCosineLshClean _),
    "x_dedup_emb_cosine_lsh_clean_t24p14" -> (xDedupEmbCosineLshCleanWide _),
    // The wide banding's boundary-recall repair: 1-bit multi-probe on
    // one collision side (the x_ann_lsh probe idiom) lifts c = 0.8
    // candidate recall from ~0.63 back to ~0.99 while keeping the 16×
    // bucket-density win — the 100 TB arm that need not choose between
    // the density wall and boundary recall.
    "x_dedup_emb_cosine_lsh_clean_t24p14_probe" ->
      (xDedupEmbCosineLshCleanWideProbe _),
    // Embedding-space eval decontamination: train keepers too close
    // (clean banded verdict >= 0.8) to an md5-holdout eval keeper —
    // the semantic-leak class n-gram decontamination misses.
    "x_emb_contamination" -> ((s: SparkSession, d: String) =>
      xEmbContamination(s, d)),
    // The vector twin of x_dedup_cluster: transitive closure over the
    // clean banded verdicts, min-id cluster labels + sizes.
    "x_dedup_emb_cluster" -> (xDedupEmbCluster _),
    // The cleaned vector corpus artifact: exact keepers minus cluster
    // losers — the embedding twin of x_dedup_corpus_neardup.
    "x_dedup_emb_corpus_neardup" -> (xDedupEmbCorpusNearDup _),
    // SemDeDup's keep policy: per cluster, retain the member closest to
    // the exact-integer cluster centroid (ties to lower id).
    "x_dedup_emb_keep_central" -> ((s: SparkSession, d: String) =>
      xDedupEmbKeepCentral(s, d)),
    // The corpus artifact under the production retention: keepers minus
    // the keep-central rejects (vs _neardup's min-id retention).
    "x_dedup_emb_corpus_central" -> ((s: SparkSession, d: String) =>
      xDedupEmbCorpusCentral(s, d)))

  /** The DuckDB twin of xAnnLsh. The operator is fully deterministic —
    * seed-42 hyperplanes, sign-of-dot signatures, fixed probe masks — so
    * the whole bucket walk is re-expressible in SQL with the plane
    * matrix embedded as 120 literal DOUBLE[64] lists (Double.toString
    * round-trips exactly through DuckDB's parser). Float parity rests on
    * list_dot_product matching the codegen'd DotProduct's sequential
    * fold bitwise, which the hash-gated x_knn_bruteforce already proves
    * on this corpus; the signature is then integer arithmetic on exact
    * sign bits. Probe masks ride in a 672-row VALUES list keyed by the
    * UNPIVOT's table label.
    */
  /** The e/sig/corpus chain shared by the ANN-LSH twin and the
    * LSH-blocked dedup twin (headerless, today's composition
    * convention): every vector's 12 exact 10-bit signatures, unpivoted
    * to the (vec_id, tbl, bucket) inverted-list relation — the
    * hyperplanes embedded as literal DOUBLE[64] lists from the SAME
    * seed-42 matrices the codegen'd expression references.
    */
  /** The clean banded-dedup CTE chain through `cpairs` (keeper
    * collapse, signature chain over `uq`, candidate distinct, exact
    * rounded cosine) — factored headerless so the pair twin and the
    * vector-cluster twin compose the identical text (the generator-
    * refactor rule: the pair twin's emitted SQL is byte-stable).
    */
  private lazy val lshCleanPairCtes: String = lshCleanPairCtesP(tablePlanes)

  /** The clean pair chain parameterized over the plane matrices — the
    * default emits byte-identical SQL to the historical twin; the wide
    * density-knob twin passes tablePlanesWide (same chain, 24×14
    * signature columns embedded verbatim).
    */
  private def lshCleanPairCtesP(planes: Array[Array[Array[Double]]]): String =
    s"""$embKeeperCte,
       |${lshCorpusCtes("uq", planes = planes)},
       |cd AS (
       |  SELECT DISTINCT a.vec_id AS id1, b.vec_id AS id2
       |  FROM corpus a JOIN corpus b
       |    ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id < b.vec_id),
       |cpairs AS (
       |  SELECT cd.id1, cd.id2,
       |    round(list_dot_product(x.v, y.v) / (x.nrm * y.nrm), 4) AS cosine
       |  FROM cd
       |  JOIN e x ON x.vec_id = cd.id1
       |  JOIN e y ON y.vec_id = cd.id2)""".stripMargin

  /** `src` swaps the relation the signature chain reads — the default
    * emits byte-identical SQL to the historical twin; the clean arm
    * passes its keeper CTE (exact duplicates collapsed upstream).
    */
  /** `prefix` renames the chain's CTEs (e → ${prefix}e …) so the chain
    * can compose inside a WITH that already owns the default names (the
    * quantizer chain's `e`); "" emits the historical names byte-for-byte.
    */
  private def lshCorpusCtes(src: String = "embeddings",
      prefix: String = "",
      planes: Array[Array[Array[Double]]] = tablePlanes): String = {
    val pl = planes
    def planeList(p: Array[Double]) = p.mkString("[", ", ", "]")
    def sigT(t: Int): String =
      pl(t).foldLeft("0::BIGINT") { (acc, plane) =>
        s"($acc * 2 + CASE WHEN list_dot_product(v, ${planeList(plane)}) > 0 THEN 1 ELSE 0 END)"
      }
    val sigCols = pl.indices
      .map(t => s"    ${sigT(t)} AS s$t").mkString(",\n")
    val unpivotCols = pl.indices.map(t => s"s$t").mkString(", ")
    s"""${prefix}e AS (
       |  SELECT vec_id, embedding::DOUBLE[] AS v,
       |    sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
       |  FROM $src),
       |${prefix}sig AS (
       |  SELECT vec_id,
       |$sigCols
       |  FROM ${prefix}e),
       |${prefix}corpus AS (
       |  SELECT vec_id, tbl, bucket FROM ${prefix}sig
       |  UNPIVOT (bucket FOR tbl IN ($unpivotCols)))""".stripMargin
  }

  private def annLshOracleSql: String = {
    val maskRows = (0 until nTables).flatMap(t =>
      probeMasks.map(m => s"('s$t', $m)")).mkString(",\n    ")
    s"""WITH ${lshCorpusCtes()},
       |masks(tbl, m) AS (VALUES
       |    $maskRows),
       |probes AS (
       |  SELECT c.vec_id AS query_id, c.tbl, xor(c.bucket, masks.m) AS bucket
       |  FROM corpus c JOIN masks ON c.tbl = masks.tbl
       |  WHERE c.vec_id < 10),
       |cand AS (
       |  SELECT DISTINCT p.query_id, c.vec_id AS neighbor_id
       |  FROM probes p JOIN corpus c ON p.tbl = c.tbl AND p.bucket = c.bucket
       |  WHERE p.query_id <> c.vec_id),
       |pairs AS (
       |  SELECT cand.query_id, cand.neighbor_id,
       |    list_dot_product(q.v, n.v) / (q.nrm * n.nrm) AS cosine_raw
       |  FROM cand
       |  JOIN e q ON q.vec_id = cand.query_id
       |  JOIN e n ON n.vec_id = cand.neighbor_id),
       |ranked AS (
       |  SELECT query_id, neighbor_id, cosine_raw,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY round(cosine_raw, 6) DESC, neighbor_id) AS rank
       |  FROM pairs)
       |SELECT query_id, rank, neighbor_id, round(cosine_raw, 4) AS cosine
       |FROM ranked WHERE rank <= 5
       |ORDER BY query_id, rank""".stripMargin
  }

  /** The shared DuckDB CTE chain of the IVF coarse quantizer (through
    * `a<rounds>`, the final cell assignment of every corpus vector) —
    * the twin of `ivfAssigned`, reused verbatim by both the ANN oracle
    * and the diversity-sample oracle so the two gates pin the SAME
    * assignment. No embedded constants at all — the seeds are the first
    * k corpus vectors, each Lloyd round is the same exact integer
    * arithmetic (trunc-quantize → BIGINT sums → floor-div → dyadic
    * dequantize) emitted as one CTE block (qv_r/refc_r/d_r/a_r, the
    * empty-cell fallback COALESCEd against the PRIOR round's
    * centroids), and the squared-L2 folds replicate NearestCentroid's
    * sequential d += (v_i−c_i)² loop via an ordered list_reduce. Argmin
    * tie-breaks (strict <, lower cell first) become row_number()
    * ORDER BY (d, cell). The gated queries consume the (k=16, rounds=1)
    * default — identical semantics to round 4's frozen SQL.
    */
  /** `trainWhere` restricts which vectors the quantizer LEARNS from
    * (seed-distance pass d0/a0 and every non-final round's assignment) —
    * the final round's d/a still assigns EVERY vector, so callers slice
    * the population they care about from a{rounds}. "TRUE" (the gated
    * ANN/diversity default) keeps the historical train-on-everything
    * semantics byte-for-byte.
    */
  /** `srcTable`/`prelude` let a COMPOSED twin run the whole chain over a
    * derived relation (e.g. the dedup survivors in x_emb_corpus_prep):
    * prelude CTEs are emitted right after WITH, and the chain's `e`
    * header reads from srcTable. Defaults emit byte-identical SQL to
    * the historical chain.
    */
  private def ivfAssignOracleCtes(k: Int = 16, rounds: Int = 1,
      trainWhere: String = "TRUE", hashSpread: Boolean = false,
      srcTable: String = "embeddings", prelude: String = "",
      recursive: Boolean = false): String = {
    // The hashSpread seed CTE ranks over the FULL `e` relation while the
    // Spark trainer seeds from its train subset — composing it with a
    // train filter would silently desync the twin, so fail loudly.
    require(trainWhere == "TRUE" || !hashSpread,
      "hashSpread seeding is only supported with trainWhere=TRUE " +
        "(oracle seed CTE ranks the full relation, not the train subset)")
    val dist =
      """list_reduce(list_prepend(0.0,
        |      list_transform(generate_series(1, 64),
        |        i -> (e.v[i] - s.c[i]) * (e.v[i] - s.c[i]))),
        |      (a, x) -> a + x)""".stripMargin
    // Seed twin: default first-k-by-id; hashSpread ranks by the same
    // growth-stable md5 id bucket the Spark side uses (diversity-sample
    // idiom — non-negative, so `%` matches Spark's pmod), cell c = rank
    // c in (bucket, vec_id) order. Only composed with trainWhere=TRUE
    // (the gated seeding arm trains on the whole corpus).
    val seedsSql =
      if (hashSpread)
        s"""seeds AS (
           |  SELECT rn - 1 AS cell, v AS c FROM (
           |    SELECT v, row_number() OVER (ORDER BY
           |        ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8))::BIGINT % 10000,
           |        vec_id) AS rn
           |    FROM e)
           |  WHERE rn <= $k)""".stripMargin
      else s"seeds AS (SELECT vec_id AS cell, v AS c FROM e WHERE vec_id < $k)"
    // `recursive` prefixes WITH RECURSIVE for preludes that carry a
    // recursive CTE (the closure chains); default emission unchanged.
    val withKw = if (recursive) "WITH RECURSIVE" else "WITH"
    val header =
      s"""$withKw ${prelude}e AS (
         |  SELECT vec_id, embedding::DOUBLE[] AS v,
         |    sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
         |  FROM $srcTable),
         |$seedsSql,
         |d0 AS (
         |  SELECT e.vec_id, s.cell,
         |    $dist AS d
         |  FROM (SELECT * FROM e WHERE $trainWhere) e, seeds s),
         |a0 AS (
         |  SELECT vec_id, cell FROM (
         |    SELECT vec_id, cell,
         |      row_number() OVER (PARTITION BY vec_id ORDER BY d, cell) AS rn
         |    FROM d0) WHERE rn = 1)""".stripMargin
    val roundBlocks = (1 to rounds).map { r =>
      val prevA = s"a${r - 1}"
      val prevC = if (r == 1) "seeds" else s"refc${r - 1}"
      val qv = s"qv$r"
      val refc = s"refc$r"
      // training rounds assign only the training population; the final
      // round assigns everyone (callers filter a$rounds as needed).
      // Multi-round refc CTEs are referenced twice downstream (next d +
      // next refc's fallback) — MATERIALIZED caps the ~2^rounds plain-CTE
      // inlining (CLAUDE.md iterative-oracle rule); rounds=1 stays plain
      // so historical single-round twins are byte-identical.
      val src = if (r == rounds) "e"
        else s"(SELECT * FROM e WHERE $trainWhere) e"
      val mat = if (rounds > 1) " MATERIALIZED" else ""
      s"""$qv AS (
         |  SELECT $prevA.cell, g.i,
         |    CAST(sum(trunc((e.v[g.i] + 16) * 16777216)::BIGINT) AS BIGINT) AS sq,
         |    count(*) AS n
         |  FROM e JOIN $prevA USING (vec_id) CROSS JOIN generate_series(1, 64) g(i)
         |  GROUP BY $prevA.cell, g.i),
         |$refc AS$mat (
         |  SELECT s.cell, COALESCE(r.c, s.c) AS c
         |  FROM $prevC s LEFT JOIN (
         |    SELECT cell, list(CAST(sq // n AS BIGINT) / 16777216.0 - 16 ORDER BY i) AS c
         |    FROM $qv GROUP BY cell) r ON s.cell = r.cell),
         |d$r AS (
         |  SELECT e.vec_id, s.cell, e.v, e.nrm,
         |    $dist AS d
         |  FROM $src, $refc s),
         |a$r AS (
         |  SELECT vec_id, cell FROM (
         |    SELECT vec_id, cell,
         |      row_number() OVER (PARTITION BY vec_id ORDER BY d, cell) AS rn
         |    FROM d$r) WHERE rn = 1)""".stripMargin
    }
    (header +: roundBlocks).mkString(",\n")
  }

  /** The DuckDB twin of xAnnIvfAdmit: train the (k=16, rounds=1)
    * quantizer on the lower-id half only, then read the frozen-centroid
    * assignments of the upper half from the final (train-unrestricted)
    * assignment CTE.
    */
  private def ivfAdmitOracleSql: String = {
    val half = "(SELECT (max(vec_id) + 1) // 2 FROM e)"
    s"""${ivfAssignOracleCtes(16, 1, s"vec_id < $half")}
       |SELECT vec_id, CAST(cell AS BIGINT) AS cell
       |FROM a1 WHERE vec_id >= $half
       |ORDER BY vec_id""".stripMargin
  }

  /** The SemDeDup twin at (k, rounds): the shared quantizer chain, each
    * vector joined back to its (v, nrm), within-cell keep-lowest pair
    * verdicts. Defaults emit byte-identical SQL to the historical
    * x_dedup_semantic twin; the k=64 arm is the density-scaling gate.
    */
  private def semanticOracleSql(k: Int = 16, rounds: Int = 1): String =
    s"""${ivfAssignOracleCtes(k, rounds)},
       |sem AS (
       |  SELECT a$rounds.vec_id, a$rounds.cell, e.v, e.nrm
       |  FROM a$rounds JOIN e USING (vec_id)),
       |losers AS (
       |  SELECT DISTINCT b.vec_id
       |  FROM sem a JOIN sem b ON a.cell = b.cell AND a.vec_id < b.vec_id
       |  WHERE round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 4) >= $semThreshold)
       |SELECT s.vec_id, CAST(s.cell AS BIGINT) AS cell,
       |  CAST(CASE WHEN l.vec_id IS NULL THEN 1 ELSE 0 END AS BIGINT) AS kept
       |FROM sem s LEFT JOIN losers l USING (vec_id)
       |ORDER BY s.vec_id""".stripMargin

  /** The DuckDB twin of xDedupSemanticAdmit: the quantizer chain
    * trained on the lower-id half only (the ivfAdmitOracleSql
    * trainWhere), the final frozen-centroid assignment covering
    * everyone, the pair join RESTRICTED to new-id larger sides, and the
    * keep/drop verdict emitted for the new half alone. CTE names (sad,
    * slos) disjoint from the chain's per the composed-generator rule.
    */
  private def semanticAdmitOracleSql: String = {
    val half = "(SELECT (max(vec_id) + 1) // 2 FROM e)"
    s"""${ivfAssignOracleCtes(16, 1, s"vec_id < $half")},
       |sad AS (
       |  SELECT a1.vec_id, a1.cell, e.v, e.nrm
       |  FROM a1 JOIN e USING (vec_id)),
       |slos AS (
       |  SELECT DISTINCT b.vec_id
       |  FROM sad a JOIN sad b ON a.cell = b.cell AND a.vec_id < b.vec_id
       |  WHERE b.vec_id >= $half
       |    AND round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 4) >= $semThreshold)
       |SELECT s.vec_id, CAST(s.cell AS BIGINT) AS cell,
       |  CAST(CASE WHEN l.vec_id IS NULL THEN 1 ELSE 0 END AS BIGINT) AS kept
       |FROM sad s LEFT JOIN slos l USING (vec_id)
       |WHERE s.vec_id >= $half
       |ORDER BY s.vec_id""".stripMargin
  }

  /** The kNN-graph twin: the shared quantizer chain, vectors joined
    * back per cell, within-cell all-pairs cosine, per-vector rank ≤ k
    * on the rounded similarity with the id tiebreak — the
    * semanticOracleSql pair join with a rank head instead of a
    * threshold verdict. CTE names disjoint from the chain's (e, seeds,
    * d0, a0 …) per the composed-generator rule.
    */
  /** The min-id keeper CTE over bit-identical embeddings — the
    * x_dedup_emb_exact twin's window reshaped as a prelude relation;
    * shared by every clean-arm twin so the collapse can never drift
    * between the verdict operator and its compositions.
    */
  private val embKeeperCte: String =
    """uq AS (
      |  SELECT vec_id, embedding FROM (
      |    SELECT vec_id, embedding,
      |      min(vec_id) OVER (PARTITION BY embedding) AS keeper_id
      |    FROM embeddings)
      |  WHERE vec_id = keeper_id)""".stripMargin

  /** The quantizer + within-cell pair + rank CTE chain behind the kNN
    * graph family (ends at `rk`) — extracted so the graph twin and the
    * graph-CONSUMING density-selection twin compose the same chain; the
    * graph twin's emitted SQL stays byte-identical to the historical
    * text (the generator-refactor rule).
    */
  private def knnGraphCtes(k: Int = 16, rounds: Int = 1,
      srcTable: String = "embeddings", prelude: String = "",
      hashSpread: Boolean = false): String =
    s"""${ivfAssignOracleCtes(k, rounds, hashSpread = hashSpread,
         srcTable = srcTable, prelude = prelude)},
       |gph AS (
       |  SELECT a1.vec_id, a1.cell, e.v, e.nrm
       |  FROM a1 JOIN e USING (vec_id)),
       |prs AS (
       |  SELECT a.vec_id AS vec_id, b.vec_id AS nn_id,
       |    round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 4) AS cos_sim
       |  FROM gph a JOIN gph b ON a.cell = b.cell AND a.vec_id <> b.vec_id),
       |rk AS (
       |  SELECT vec_id, nn_id, cos_sim,
       |    row_number() OVER (PARTITION BY vec_id
       |      ORDER BY cos_sim DESC, nn_id) AS nn_rank
       |  FROM prs)""".stripMargin

  private def knnGraphOracleSql(kNeighbors: Int = 5, k: Int = 16,
      rounds: Int = 1, srcTable: String = "embeddings",
      prelude: String = ""): String =
    s"""${knnGraphCtes(k, rounds, srcTable, prelude)}
       |SELECT vec_id, CAST(nn_rank AS BIGINT) AS nn_rank, nn_id, cos_sim
       |FROM rk WHERE nn_rank <= $kNeighbors
       |ORDER BY vec_id, nn_rank""".stripMargin

  /** The DuckDB twin of xKnnGraphAdmit: the quantizer chain trained on
    * the lower-id half only (the ivfAdmitOracleSql trainWhere), the
    * final frozen-centroid assignment covering everyone, and the pair
    * join RESTRICTED to new × admitted sides before the same rounded
    * rank head.
    */
  private def knnGraphAdmitOracleSql(kNeighbors: Int = 5): String = {
    val half = "(SELECT (max(vec_id) + 1) // 2 FROM e)"
    s"""${ivfAssignOracleCtes(16, 1, s"vec_id < $half")},
       |gph AS (
       |  SELECT a1.vec_id, a1.cell, e.v, e.nrm
       |  FROM a1 JOIN e USING (vec_id)),
       |prs AS (
       |  SELECT a.vec_id AS vec_id, b.vec_id AS nn_id,
       |    round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 4) AS cos_sim
       |  FROM gph a JOIN gph b ON a.cell = b.cell
       |  WHERE a.vec_id >= $half AND b.vec_id < $half),
       |rk AS (
       |  SELECT vec_id, nn_id, cos_sim,
       |    row_number() OVER (PARTITION BY vec_id
       |      ORDER BY cos_sim DESC, nn_id) AS nn_rank
       |  FROM prs)
       |SELECT vec_id, CAST(nn_rank AS BIGINT) AS nn_rank, nn_id, cos_sim
       |FROM rk WHERE nn_rank <= $kNeighbors
       |ORDER BY vec_id, nn_rank""".stripMargin
  }

  /** The DuckDB twin of xKnnDensitySelect: the shared graph chain, the
    * per-vector basis-point density (exact integers end-to-end: each
    * neighbor cosine scaled to an e4 long, summed as longs, floor-div'd
    * by the neighbor count — both engines divide an exact multiple, so
    * trunc-div == floor-div == exact), and the DSIR-style Nth-(density,
    * id) cutoff via two ORDER BY ... LIMIT CTEs. The isolated-vector
    * sentinel (-10001, below the -10000 cosine floor) is embedded in
    * both engines' membership predicate.
    */
  /** The (nn, dens) CTE pair computing exact basis-point densities from
    * the graph chain's `rk` — the twin of knnDensity, factored so the
    * density-select twin and the curated prep twin share the text.
    */
  private def densityCtes(kNeighbors: Int = 5): String =
    s"""nn AS (
       |  SELECT vec_id, CAST(round(cos_sim * 10000) AS BIGINT) AS c_e4
       |  FROM rk WHERE nn_rank <= $kNeighbors),
       |dens AS (
       |  SELECT vec_id, CAST(COUNT(*) AS BIGINT) AS n_neighbors,
       |    (CAST(SUM(c_e4) AS BIGINT)
       |      - ((CAST(SUM(c_e4) AS BIGINT) % COUNT(*)) + COUNT(*)) % COUNT(*))
       |      // COUNT(*) AS density_e4
       |  FROM nn GROUP BY 1)""".stripMargin

  private def densitySelectOracleSql(selectN: Int = 100,
      kNeighbors: Int = 5, k: Int = 16, rounds: Int = 1,
      srcTable: String = "embeddings", prelude: String = ""): String =
    s"""${knnGraphCtes(k, rounds, srcTable, prelude)},
       |${densityCtes(kNeighbors)},
       |av AS (
       |  SELECT e.vec_id, d.n_neighbors, d.density_e4,
       |    COALESCE(d.density_e4, -10001) AS sk
       |  FROM $srcTable e LEFT JOIN dens d USING (vec_id)),
       |dtopn AS (
       |  SELECT sk, vec_id FROM av ORDER BY sk, vec_id LIMIT $selectN),
       |dcut AS (
       |  SELECT sk AS cut_s, vec_id AS cut_id FROM dtopn
       |  ORDER BY sk DESC, vec_id DESC LIMIT 1)
       |SELECT vec_id, COALESCE(n_neighbors, 0) AS n_neighbors, density_e4,
       |  CASE WHEN sk < (SELECT cut_s FROM dcut)
       |        OR (sk = (SELECT cut_s FROM dcut)
       |            AND vec_id <= (SELECT cut_id FROM dcut))
       |       THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS selected
       |FROM av
       |ORDER BY vec_id""".stripMargin

  /** The composed twin of xEmbCorpusPrepCurated: the clean survivor
    * prelude (shared with the clean/full/decon prep twins), the
    * hash-spread quantizer + graph chain over `surv` (shared with the
    * kNN-graph family), the density CTE pair (shared with the
    * density-select twin), then the per-cell cap re-ordered by
    * (sentinel-coalesced density, vec_id) and the same qz/int8 tail
    * text as every other prep twin — each spliced piece is the one its
    * standalone gate pins, so the curated cut cannot drift.
    */
  private def embCorpusPrepCuratedOracleSql(kNeighbors: Int = 5,
      planes: Array[Array[Array[Double]]] = tablePlanes,
      kCells: Int = 16): String =
    s"""${knnGraphCtes(kCells, 1, "surv", embCleanSurvPrelude(planes = planes),
         hashSpread = true)},
       |${densityCtes(kNeighbors)},
       |bkt AS (
       |  SELECT a1.vec_id, a1.cell, COALESCE(d.density_e4, -10001) AS sk
       |  FROM a1 LEFT JOIN dens d USING (vec_id)),
       |ranked AS (
       |  SELECT cell, vec_id,
       |    row_number() OVER (PARTITION BY cell ORDER BY sk, vec_id) AS rank
       |  FROM bkt),
       |kept AS (SELECT cell, rank, vec_id FROM ranked WHERE rank <= 8),
       |qz AS (
       |  SELECT vec_id,
       |    list_transform(embedding::DOUBLE[],
       |      v -> CAST(greatest(least(floor(v * 127 + 0.5), 127), -127) AS BIGINT)) AS codes
       |  FROM surv)
       |SELECT CAST(k.cell AS BIGINT) AS cell, k.rank, k.vec_id,
       |  CAST(list_sum(q.codes) AS BIGINT) AS sum_codes,
       |  list_min(q.codes) AS min_code, list_max(q.codes) AS max_code
       |FROM kept k JOIN qz q ON q.vec_id = k.vec_id
       |ORDER BY cell, k.rank""".stripMargin

  /** The composed twin of xEmbCorpusPrepProto: the curated twin's
    * clean-prelude + hash-spread quantizer + graph chain, the edge CTE
    * (MATERIALIZED per the iterative-oracle rule) + the SHARED
    * generated pagerank round chain over `surv`, then the per-cell cap
    * re-ordered by (score_e9 DESC, vec_id) and the common qz/int8
    * tail.
    */
  private def embCorpusPrepProtoOracleSql(kNeighbors: Int = 5,
      planes: Array[Array[Array[Double]]] = tablePlanes,
      kCells: Int = 16): String =
    s"""${knnGraphCtes(kCells, 1, "surv", embCleanSurvPrelude(planes = planes),
         hashSpread = true)},
       |edg AS MATERIALIZED (
       |  SELECT vec_id AS src, nn_id AS dst,
       |    CAST(COUNT(*) OVER (PARTITION BY vec_id) AS BIGINT) AS deg
       |  FROM rk WHERE nn_rank <= $kNeighbors),
       |${pagerankRoundCtes(3, "surv", weighted = false)},
       |bkt AS (
       |  SELECT a1.vec_id, a1.cell, p.score_e9
       |  FROM a1 JOIN pr3 p USING (vec_id)),
       |ranked AS (
       |  SELECT cell, vec_id,
       |    row_number() OVER (PARTITION BY cell
       |      ORDER BY score_e9 DESC, vec_id) AS rank
       |  FROM bkt),
       |kept AS (SELECT cell, rank, vec_id FROM ranked WHERE rank <= 8),
       |qz AS (
       |  SELECT vec_id,
       |    list_transform(embedding::DOUBLE[],
       |      v -> CAST(greatest(least(floor(v * 127 + 0.5), 127), -127) AS BIGINT)) AS codes
       |  FROM surv)
       |SELECT CAST(k.cell AS BIGINT) AS cell, k.rank, k.vec_id,
       |  CAST(list_sum(q.codes) AS BIGINT) AS sum_codes,
       |  list_min(q.codes) AS min_code, list_max(q.codes) AS max_code
       |FROM kept k JOIN qz q ON q.vec_id = k.vec_id
       |ORDER BY cell, k.rank""".stripMargin

  /** The DuckDB twin of xGraphPagerank: the shared graph chain, the
    * edge list + out-degrees MATERIALIZED (each round references them —
    * plain CTEs would re-inline the whole quantizer pair join per
    * round, the iterative-oracle blowup), then `prRounds` generated
    * update CTEs in the same e9-long arithmetic: `score // deg` along
    * edges (both engines floor positive longs), SUM cast from HUGEINT
    * back to BIGINT, `base + (85 * in) // 100`. Each pr CTE is
    * referenced exactly once by its successor, so the chain itself
    * stays plain (linear inlining, no blowup).
    */
  /** The pr0 + per-round update CTE chain over an `edg` relation
    * ((src, dst, deg) or (src, dst, w, sw)) and a `srcTable` node
    * relation keyed `vec_id` — factored (the srcTable-splice idiom) so
    * the vector pagerank twins and the TEXT document-graph twin
    * (TextAnalysis, winnow pair edges) replay the identical integer
    * update chain; vector-arm emission is byte-unchanged.
    */
  private[ext] def pagerankRoundCtes(prRounds: Int, srcTable: String,
      weighted: Boolean): String = {
    // Weighted twin: the same q·w + (r·w) // Σw overflow-safe
    // decomposition the Spark side computes, term for term.
    val contribSql =
      if (weighted)
        "(p.score_e9 // eg.sw) * eg.w + ((p.score_e9 % eg.sw) * eg.w) // eg.sw"
      else "p.score_e9 // eg.deg"
    val prCtes = (1 to prRounds).map { r =>
      val prev = if (r == 1) "pr0" else s"pr${r - 1}"
      s"""pr$r AS (
         |  SELECT n.vec_id,
         |    CAST(150000000 + (85 * COALESCE(c.in_e9, 0)) // 100 AS BIGINT)
         |      AS score_e9
         |  FROM $srcTable n LEFT JOIN (
         |    SELECT eg.dst AS vec_id,
         |      CAST(SUM($contribSql) AS BIGINT) AS in_e9
         |    FROM edg eg JOIN $prev p ON p.vec_id = eg.src
         |    GROUP BY 1) c USING (vec_id))""".stripMargin
    }.mkString(",\n")
    s"""pr0 AS (
       |  SELECT vec_id, CAST(1000000000 AS BIGINT) AS score_e9
       |  FROM $srcTable),
       |$prCtes""".stripMargin
  }

  private def pagerankCtes(prRounds: Int = 3, kNeighbors: Int = 5,
      k: Int = 16, rounds: Int = 1, srcTable: String = "embeddings",
      prelude: String = "", weighted: Boolean = false): String = {
    val edgCols =
      if (weighted)
        """CAST(round(cos_sim * 10000) AS BIGINT) + 10001 AS w,
          |    CAST(SUM(CAST(round(cos_sim * 10000) AS BIGINT) + 10001)
          |      OVER (PARTITION BY vec_id) AS BIGINT) AS sw""".stripMargin
      else "CAST(COUNT(*) OVER (PARTITION BY vec_id) AS BIGINT) AS deg"
    s"""${knnGraphCtes(k, rounds, srcTable, prelude)},
       |edg AS MATERIALIZED (
       |  SELECT vec_id AS src, nn_id AS dst,
       |    $edgCols
       |  FROM rk WHERE nn_rank <= $kNeighbors),
       |${pagerankRoundCtes(prRounds, srcTable, weighted)}""".stripMargin
  }

  private def pagerankOracleSql(prRounds: Int = 3, kNeighbors: Int = 5,
      k: Int = 16, rounds: Int = 1, srcTable: String = "embeddings",
      prelude: String = "", weighted: Boolean = false): String =
    s"""${pagerankCtes(prRounds, kNeighbors, k, rounds, srcTable, prelude,
         weighted)}
       |SELECT vec_id, score_e9 FROM pr$prRounds
       |ORDER BY vec_id""".stripMargin

  /** The DuckDB twin of xGraphPagerankSelect: the clean pagerank chain
    * + the density-select cut idiom flipped to keep the HIGHEST
    * (score DESC, id ASC) — two ORDER BY ... LIMIT CTEs stand in for
    * the broadcast Nth-threshold.
    */
  private def pagerankSelectOracleSql(selectN: Int = 100,
      prRounds: Int = 3): String =
    s"""${pagerankCtes(prRounds, srcTable = "uq",
         prelude = s"$embKeeperCte,\n")},
       |ptopn AS (
       |  SELECT score_e9, vec_id FROM pr$prRounds
       |  ORDER BY score_e9 DESC, vec_id LIMIT $selectN),
       |pcut AS (
       |  SELECT score_e9 AS cut_s, vec_id AS cut_id FROM ptopn
       |  ORDER BY score_e9, vec_id DESC LIMIT 1)
       |SELECT vec_id, score_e9,
       |  CASE WHEN score_e9 > (SELECT cut_s FROM pcut)
       |        OR (score_e9 = (SELECT cut_s FROM pcut)
       |            AND vec_id <= (SELECT cut_id FROM pcut))
       |       THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS selected
       |FROM pr$prRounds
       |ORDER BY vec_id""".stripMargin

  /** The DuckDB twin of xAnnIvf (and of the multi-round x_ann_ivf_k8r2
    * gate): the shared quantizer chain above at (k, rounds), then the
    * nProbe=4 probe walk, candidate union, exact cosine re-rank.
    */
  private def annIvfOracleSql(k: Int = 16, rounds: Int = 1,
      hashSpread: Boolean = false): String = {
    val d = s"d$rounds"
    val a = s"a$rounds"
    s"""${ivfAssignOracleCtes(k, rounds, "TRUE", hashSpread)},
       |probe AS (
       |  SELECT vec_id AS query_id, cell FROM (
       |    SELECT vec_id, cell,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY d, cell) AS rn
       |    FROM $d WHERE vec_id < 10) WHERE rn <= 4),
       |cand AS (
       |  SELECT DISTINCT p.query_id, $a.vec_id AS neighbor_id
       |  FROM probe p JOIN $a ON p.cell = $a.cell
       |  WHERE $a.vec_id <> p.query_id),
       |pairs AS (
       |  SELECT cand.query_id, cand.neighbor_id,
       |    list_dot_product(q.v, n.v) / (q.nrm * n.nrm) AS cosine_raw
       |  FROM cand
       |  JOIN e q ON q.vec_id = cand.query_id
       |  JOIN e n ON n.vec_id = cand.neighbor_id),
       |ranked AS (
       |  SELECT query_id, neighbor_id, cosine_raw,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY round(cosine_raw, 6) DESC, neighbor_id) AS rank
       |  FROM pairs)
       |SELECT query_id, rank, neighbor_id, round(cosine_raw, 4) AS cosine
       |FROM ranked WHERE rank <= 5
       |ORDER BY query_id, rank""".stripMargin
  }

  /** The composed twin of xEmbCorpusPrep: the emb-cosine dedup as
    * prelude CTEs (disjoint names ec/ecn/losers/surv), the shared
    * hash-seeded quantizer chain run over `surv`, then the diversity
    * cap and int8 quantization tails — every piece the same generated
    * arithmetic its standalone gate pins. `semantic = true` splices the
    * SemDeDup stage between the quantizer chain and the diversity cap
    * (within-cell keep-lowest over a1's cells — CTE names semv/semlosers,
    * disjoint from the prelude's `losers`); false emits byte-identical
    * SQL to the historical x_emb_corpus_prep twin. `k` parameterizes
    * the quantizer cell count exactly as the Spark side's density knob.
    */
  /** The clean-staging survivor prelude (keeper collapse, x-prefixed
    * signature chain over `uq`, banded losers, `surv`) — the twin of
    * embPrepSurvivorsClean, factored so the clean/full/decon prep
    * twins and the curated prep twin splice the identical text; the
    * decon hooks default empty (byte-identical emission).
    */
  private def embCleanSurvPrelude(deconCtes: String = "",
      deconSurvWhere: String = "",
      planes: Array[Array[Array[Double]]] = tablePlanes): String =
    s"""$embKeeperCte,
       |${lshCorpusCtes("uq", prefix = "x", planes = planes)},
       |xcd AS (
       |  SELECT DISTINCT a.vec_id AS id1, b.vec_id AS id2
       |  FROM xcorpus a JOIN xcorpus b
       |    ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id < b.vec_id),
       |losers AS (
       |  SELECT DISTINCT cd.id2 AS vec_id
       |  FROM xcd cd
       |  JOIN xe x ON x.vec_id = cd.id1
       |  JOIN xe y ON y.vec_id = cd.id2
       |  WHERE round(list_dot_product(x.v, y.v) / (x.nrm * y.nrm), 4) >= 0.8),
       |${deconCtes}surv AS (
       |  SELECT vec_id, embedding FROM uq
       |  WHERE vec_id NOT IN (SELECT vec_id FROM losers)$deconSurvWhere),
       |""".stripMargin

  private def embCorpusPrepOracleSql(semantic: Boolean = false,
      k: Int = 16, clean: Boolean = false,
      central: Boolean = false, decon: Boolean = false,
      planes: Array[Array[Array[Double]]] = tablePlanes): String = {
    require(!(clean && central), "central implies the keeper collapse")
    require(!decon || clean,
      "decontamination composes over the clean (keeper + banded) staging")
    // clean swaps the label-blocked dedup front-end for the production
    // staging (keeper collapse + the banded chain over `uq`, prefixed
    // `x` so its `e` cannot collide with the quantizer chain's);
    // defaults emit the historical prelude byte-for-byte.
    // central swaps the dedup front-end for the full production
    // retention: collapse -> banded closure -> keep-central; surv =
    // keepers minus the rank<>1 rejects. Chain text is the keep-central
    // twin's with the x-prefixed signature CTEs (the quantizer header
    // owns `e`) and `ke` member aliases (the fold lambda owns `x`).
    val centralPrelude =
      s"""$embKeeperCte,
         |${lshCorpusCtes("uq", prefix = "x", planes = planes)},
         |xcd AS (
         |  SELECT DISTINCT a.vec_id AS id1, b.vec_id AS id2
         |  FROM xcorpus a JOIN xcorpus b
         |    ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id < b.vec_id),
         |vpairs AS (
         |  SELECT cd.id1, cd.id2
         |  FROM xcd cd
         |  JOIN xe p ON p.vec_id = cd.id1
         |  JOIN xe q ON q.vec_id = cd.id2
         |  WHERE round(list_dot_product(p.v, q.v) / (p.nrm * q.nrm), 4) >= 0.8),
         |vedges AS (
         |  SELECT id1 AS a, id2 AS b FROM vpairs
         |  UNION ALL SELECT id2, id1 FROM vpairs),
         |vreach(a, b) AS (
         |  SELECT a, b FROM vedges
         |  UNION
         |  SELECT r.a, e2.b FROM vreach r JOIN vedges e2 ON r.b = e2.a),
         |vlab AS (
         |  SELECT a AS vec_id, least(a, MIN(b)) AS cluster_id
         |  FROM vreach GROUP BY a),
         |cmean AS (
         |  SELECT l.cluster_id, g.i,
         |    CAST(sum(trunc((ke.v[g.i] + 16) * 16777216)::BIGINT) AS BIGINT) AS sq,
         |    count(*) AS n
         |  FROM vlab l JOIN xe ke ON ke.vec_id = l.vec_id
         |  CROSS JOIN generate_series(1, 64) g(i)
         |  GROUP BY l.cluster_id, g.i),
         |cctr AS (
         |  SELECT cluster_id,
         |    list(CAST(sq // n AS BIGINT) / 16777216.0 - 16 ORDER BY i) AS c
         |  FROM cmean GROUP BY cluster_id),
         |cdist AS (
         |  SELECT l.vec_id, l.cluster_id,
         |    list_reduce(list_prepend(0.0,
         |      list_transform(generate_series(1, 64),
         |        i -> (ke.v[i] - s.c[i]) * (ke.v[i] - s.c[i]))),
         |      (a, x) -> a + x) AS d
         |  FROM vlab l JOIN xe ke ON ke.vec_id = l.vec_id
         |  JOIN cctr s ON s.cluster_id = l.cluster_id),
         |crk AS (
         |  SELECT vec_id,
         |    row_number() OVER (PARTITION BY cluster_id
         |      ORDER BY d, vec_id) AS rn
         |  FROM cdist),
         |surv AS (
         |  SELECT vec_id, embedding FROM uq
         |  WHERE vec_id NOT IN (SELECT vec_id FROM crk WHERE rn <> 1)),
         |""".stripMargin
    // decon extends the clean staging with the text flagship's two
    // holdout stages at their argued positions: eval EXCLUSION (the
    // md5-holdout bucket never enters a training corpus) then LEAK
    // removal (train keepers the contamination gate flags against an
    // eval keeper — the x_emb_contamination verdicts, recomputed from
    // the same xcd/xe chain so the splice cannot drift).
    val deconCtes = if (!decon) "" else
      s"""vsp AS (
         |  SELECT vec_id,
         |    (('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8))::BIGINT
         |      % 100) < 10 AS is_eval
         |  FROM uq),
         |leak AS (
         |  SELECT DISTINCT CASE WHEN sa.is_eval THEN cd.id2 ELSE cd.id1 END
         |    AS vec_id
         |  FROM xcd cd
         |  JOIN xe x ON x.vec_id = cd.id1
         |  JOIN xe y ON y.vec_id = cd.id2
         |  JOIN vsp sa ON sa.vec_id = cd.id1
         |  JOIN vsp sb ON sb.vec_id = cd.id2
         |  WHERE round(list_dot_product(x.v, y.v) / (x.nrm * y.nrm), 4) >= 0.8
         |    AND sa.is_eval <> sb.is_eval),
         |""".stripMargin
    val deconSurvWhere = if (!decon) "" else
      s"""
         |    AND NOT (('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8))::BIGINT
         |      % 100) < 10
         |    AND vec_id NOT IN (SELECT vec_id FROM leak)""".stripMargin
    val prelude = if (central) centralPrelude
    else if (clean) embCleanSurvPrelude(deconCtes, deconSurvWhere, planes)
    else
      """ec AS (
        |  SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
        |ecn AS (
        |  SELECT vec_id, label, v,
        |    sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM ec),
        |losers AS (
        |  SELECT DISTINCT b.vec_id
        |  FROM ecn a JOIN ecn b ON a.label = b.label AND a.vec_id < b.vec_id
        |  WHERE round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 4) >= 0.8),
        |surv AS (
        |  SELECT * FROM embeddings
        |  WHERE vec_id NOT IN (SELECT vec_id FROM losers)),
        |""".stripMargin
    val semCtes = if (!semantic) "" else
      s"""semv AS (
         |  SELECT a1.vec_id, a1.cell, e.v, e.nrm
         |  FROM a1 JOIN e USING (vec_id)),
         |semlosers AS (
         |  SELECT DISTINCT b.vec_id
         |  FROM semv a JOIN semv b ON a.cell = b.cell AND a.vec_id < b.vec_id
         |  WHERE round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 4) >= $semThreshold),
         |""".stripMargin
    val bktSrc = if (semantic)
      "a1 WHERE vec_id NOT IN (SELECT vec_id FROM semlosers)"
    else "a1"
    s"""${ivfAssignOracleCtes(k, 1, "TRUE", hashSpread = true,
        srcTable = "surv", prelude = prelude, recursive = central)},
       |${semCtes}bkt AS (
       |  SELECT vec_id, cell,
       |    ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8))::BIGINT % 10000 AS bucket
       |  FROM $bktSrc),
       |ranked AS (
       |  SELECT cell, vec_id,
       |    row_number() OVER (PARTITION BY cell ORDER BY bucket, vec_id) AS rank
       |  FROM bkt),
       |kept AS (SELECT cell, rank, vec_id FROM ranked WHERE rank <= 8),
       |qz AS (
       |  SELECT vec_id,
       |    list_transform(embedding::DOUBLE[],
       |      v -> CAST(greatest(least(floor(v * 127 + 0.5), 127), -127) AS BIGINT)) AS codes
       |  FROM surv)
       |SELECT CAST(k.cell AS BIGINT) AS cell, k.rank, k.vec_id,
       |  CAST(list_sum(q.codes) AS BIGINT) AS sum_codes,
       |  list_min(q.codes) AS min_code, list_max(q.codes) AS max_code
       |FROM kept k JOIN qz q ON q.vec_id = k.vec_id
       |ORDER BY cell, k.rank""".stripMargin
  }

  /** The vector-audit twin: the FULL arm's chain (clean staging +
    * hash-spread quantizer + semantic losers + cap ranks — the same
    * generated pieces embCorpusPrepOracleSql(semantic=true, clean=true)
    * composes, with the rollup tail swapped for the first-drop CASE
    * over ALL vectors). Each CASE arm reads the stage's own CTE (uq /
    * losers / semlosers / ranked) in the Spark side's priority order.
    */
  private def embCorpusPrepAuditOracleSql: String = {
    val stageCase = embAuditStages.zipWithIndex
      .map { case (s, i) => s"WHEN $i THEN '$s'" }.mkString(" ")
    s"""${ivfAssignOracleCtes(16, 1, "TRUE", hashSpread = true,
        srcTable = "surv", prelude = embCleanSurvPrelude())},
       |semv AS (
       |  SELECT a1.vec_id, a1.cell, e.v, e.nrm
       |  FROM a1 JOIN e USING (vec_id)),
       |semlosers AS (
       |  SELECT DISTINCT b.vec_id
       |  FROM semv a JOIN semv b ON a.cell = b.cell AND a.vec_id < b.vec_id
       |  WHERE round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 4) >= $semThreshold),
       |bkt AS (
       |  SELECT vec_id, cell,
       |    ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8))::BIGINT % 10000 AS bucket
       |  FROM a1 WHERE vec_id NOT IN (SELECT vec_id FROM semlosers)),
       |ranked AS (
       |  SELECT cell, vec_id,
       |    row_number() OVER (PARTITION BY cell ORDER BY bucket, vec_id) AS rank
       |  FROM bkt),
       |vaud AS (
       |  SELECT em.vec_id,
       |    CASE
       |      WHEN em.vec_id NOT IN (SELECT vec_id FROM uq) THEN 0
       |      WHEN em.vec_id IN (SELECT vec_id FROM losers) THEN 1
       |      WHEN em.vec_id IN (SELECT vec_id FROM semlosers) THEN 2
       |      WHEN em.vec_id IN (SELECT vec_id FROM ranked WHERE rank > 8) THEN 3
       |      ELSE 4 END AS so
       |  FROM embeddings em)
       |SELECT CAST(so AS BIGINT) AS stage_ord,
       |  CASE so $stageCase END AS stage,
       |  COUNT(*) AS n_vecs
       |FROM vaud GROUP BY so ORDER BY stage_ord""".stripMargin
  }

  /** The vector-drift twin: each half's per-label vector shares over
    * its OWN half total (integer floor-div), full-outer joined with
    * zero-fill, the 100 bp CASE flag — x_corpus_drift's shape keyed by
    * label. */
  private def embDriftOracleSql: String =
    """WITH half AS (SELECT (max(vec_id) + 1) // 2 AS h FROM embeddings),
      |rper AS (
      |  SELECT label, COUNT(*) AS n FROM embeddings
      |  WHERE vec_id < (SELECT h FROM half) GROUP BY 1),
      |rtot AS (SELECT CAST(SUM(n) AS BIGINT) AS tot FROM rper),
      |rs AS (
      |  SELECT label, CAST(n * 10000 // tot AS BIGINT) AS ref_share_bp
      |  FROM rper, rtot),
      |nper AS (
      |  SELECT label, COUNT(*) AS n FROM embeddings
      |  WHERE vec_id >= (SELECT h FROM half) GROUP BY 1),
      |ntot AS (SELECT CAST(SUM(n) AS BIGINT) AS tot FROM nper),
      |ns AS (
      |  SELECT label, CAST(n * 10000 // tot AS BIGINT) AS new_share_bp
      |  FROM nper, ntot)
      |SELECT COALESCE(r.label, n.label) AS label,
      |  CAST(COALESCE(r.ref_share_bp, 0) AS BIGINT) AS ref_share_bp,
      |  CAST(COALESCE(n.new_share_bp, 0) AS BIGINT) AS new_share_bp,
      |  CAST(COALESCE(n.new_share_bp, 0) - COALESCE(r.ref_share_bp, 0) AS BIGINT) AS delta_bp,
      |  CAST(CASE WHEN abs(COALESCE(n.new_share_bp, 0) - COALESCE(r.ref_share_bp, 0)) >= 100
      |    THEN 1 ELSE 0 END AS BIGINT) AS drifted
      |FROM rs r FULL OUTER JOIN ns n ON r.label = n.label
      |ORDER BY label""".stripMargin

  /** The DuckDB twin of xDiversitySample: the SAME quantizer chain as
    * the ANN twin (so both gates pin one assignment), then the
    * growth-stable md5 id bucket (the x_train_val_split idiom — first 8
    * hex digits of md5(id) as a bigint, mod 10000; non-negative, so `%`
    * matches Spark's pmod) and row_number ≤ 8 per cell ordered by
    * (bucket, vec_id).
    */
  private def diversitySampleOracleSql: String =
    s"""${ivfAssignOracleCtes()},
       |b AS (
       |  SELECT vec_id, cell,
       |    ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8))::BIGINT % 10000 AS bucket
       |  FROM a1),
       |ranked AS (
       |  SELECT cell, vec_id,
       |    row_number() OVER (PARTITION BY cell ORDER BY bucket, vec_id) AS rank
       |  FROM b)
       |SELECT CAST(cell AS BIGINT) AS cell, rank, vec_id
       |FROM ranked WHERE rank <= 8
       |ORDER BY cell, rank""".stripMargin

  /** The PQ quantizer/encoding CTE chains shared by the flat-PQ and
    * IVF+PQ twins: one chain per subspace (slice → seeds → assign →
    * exact-integer refine → code), plus the `codes` CTE collecting all
    * m codes per vector. Callers provide the `e` header (vec_id, v,
    * nrm). Generated from the same (pqM, pqSub, pqK) constants the
    * Spark side runs.
    */
  private def pqOracleChains: String = pqOracleChains("TRUE")

  private def pqOracleChains(trainWhere: String): String =
    pqOracleChains(trainWhere, "e", "v")

  /** `trainWhere` restricts which vectors each subspace codebook LEARNS
    * from (every training round's assignment source — the per-cell sums
    * inherit the restriction through the assignment CTEs); the final
    * encode assignment still encodes EVERY vector, so admission callers
    * read the complement from `codes`. "TRUE" keeps the
    * train-on-everything semantics byte-for-byte (the gated
    * flat-PQ/IVF+PQ default). `rounds` loops the (assign → exact-integer
    * refine) block per subspace — round r assigns by round r−1's refined
    * codebooks, COALESCE falling back to the previous round's centroid
    * for empty cells, mirroring pqCodebooks' loop; the final refined CTE
    * is always named pref$s so the ADC tail is round-agnostic.
    */
  private def pqOracleChains(trainWhere: String, srcTable: String,
      srcCol: String, rounds: Int = 1,
      hashSpread: Boolean = false): String = {
    // Same guard as ivfAssignOracleCtes: the seed CTE ignores trainWhere,
    // so the composition with a train filter would desync the twin.
    require(trainWhere == "TRUE" || !hashSpread,
      "hashSpread seeding is only supported with trainWhere=TRUE " +
        "(oracle seed CTE ranks the full relation, not the train subset)")
    val dist =
      """list_reduce(list_prepend(0.0,
        |      list_transform(generate_series(1, 8),
        |        i -> (e.sv[i] - s.c[i]) * (e.sv[i] - s.c[i]))),
        |      (a, x) -> a + x)""".stripMargin
    val subChains = (0 until pqM).map { s =>
      val off = s * pqSub
      val seedsSql =
        if (hashSpread)
          s"""seeds$s AS (
             |  SELECT rn - 1 AS cell, sv AS c FROM (
             |    SELECT sv, row_number() OVER (ORDER BY
             |        ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8))::BIGINT % 10000,
             |        vec_id) AS rn
             |    FROM es$s)
             |  WHERE rn <= $pqK)""".stripMargin
        else s"seeds$s AS (SELECT vec_id AS cell, sv AS c FROM es$s WHERE vec_id < $pqK)"
      val header =
        s"""es$s AS (
           |  SELECT vec_id, list_slice($srcCol, ${off + 1}, ${off + pqSub}) AS sv FROM $srcTable),
           |$seedsSql""".stripMargin
      val roundBlocks = (1 to rounds).map { r =>
        val prevC = if (r == 1) s"seeds$s" else s"pref${s}_r${r - 1}"
        val refName = if (r == rounds) s"pref$s" else s"pref${s}_r$r"
        val dName = s"d${r - 1}_$s"
        val aName = s"a${r - 1}_$s"
        val qvName = if (r == 1) s"qv_$s" else s"qv${r}_$s"
        // Each refined-codebook CTE is referenced twice downstream (the
        // next assignment AND the next refine's fallback / the ADC
        // joins), so plain CTEs inline ~2^rounds — the CLAUDE.md
        // iterative-oracle blowup. MATERIALIZED caps that; rounds=1
        // stays plain so the historical single-round twins are
        // byte-identical.
        val mat = if (rounds > 1) " MATERIALIZED" else ""
        s"""$dName AS (
           |  SELECT e.vec_id, s.cell, $dist AS d
           |  FROM (SELECT * FROM es$s WHERE $trainWhere) e, $prevC s),
           |$aName AS (
           |  SELECT vec_id, cell FROM (
           |    SELECT vec_id, cell,
           |      row_number() OVER (PARTITION BY vec_id ORDER BY d, cell) AS rn
           |    FROM $dName) WHERE rn = 1),
           |$qvName AS (
           |  SELECT a.cell, g.i,
           |    CAST(sum(trunc((e.sv[g.i] + 16) * 16777216)::BIGINT) AS BIGINT) AS sq,
           |    count(*) AS n
           |  FROM es$s e JOIN $aName a USING (vec_id)
           |  CROSS JOIN generate_series(1, $pqSub) g(i)
           |  GROUP BY a.cell, g.i),
           |$refName AS$mat (
           |  SELECT s.cell, COALESCE(r.c, s.c) AS c
           |  FROM $prevC s LEFT JOIN (
           |    SELECT cell, list(CAST(sq // n AS BIGINT) / 16777216.0 - 16 ORDER BY i) AS c
           |    FROM $qvName GROUP BY cell) r ON s.cell = r.cell)""".stripMargin
      }.mkString(",\n")
      s"""$header,
         |$roundBlocks,
         |d${rounds}_$s AS (
         |  SELECT e.vec_id, s.cell, $dist AS d
         |  FROM es$s e, pref$s s),
         |code$s AS (
         |  SELECT vec_id, cell FROM (
         |    SELECT vec_id, cell,
         |      row_number() OVER (PARTITION BY vec_id ORDER BY d, cell) AS rn
         |    FROM d${rounds}_$s) WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    val codeCols = (0 until pqM).map(s => s"k$s.cell AS c$s").mkString(", ")
    val codeJoins = (0 until pqM).map(s => s"JOIN code$s k$s USING (vec_id)")
      .mkString("\n  ")
    s"""$subChains,
       |codes AS (
       |  SELECT vec_id, $codeCols
       |  FROM e
       |  $codeJoins)""".stripMargin
  }

  /** Joins resolving each candidate code (`c.c{s}`) to its refined
    * subspace centroid, for the ADC terms below. */
  private def pqRefJoins: String =
    (0 until pqM).map(s => s"JOIN pref$s r$s ON r$s.cell = c.c$s")
      .mkString("\n  ")

  /** The ADC distance: per-subspace fixed-order fold over (query raw
    * component − code centroid component)², partials added in subspace
    * order — the same operation order as the Spark adcDistance column. */
  private def pqAdcTerms: String =
    (0 until pqM).map { s =>
      val off = s * pqSub
      s"""list_reduce(list_prepend(0.0,
         |    list_transform(generate_series(1, $pqSub),
         |      i -> (q.v[$off + i] - r$s.c[i]) * (q.v[$off + i] - r$s.c[i]))),
         |    (a, x) -> a + x)""".stripMargin
    }.mkString("\n  + ")

  /** The shared ADC-shortlist → exact-re-rank tail: callers provide the
    * `adc` CTE (query_id, neighbor_id, d). */
  private def pqRerankTail: String =
    s"""short AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT query_id, neighbor_id,
       |      row_number() OVER (PARTITION BY query_id
       |        ORDER BY round(d, 6), neighbor_id) AS adc_rank
       |    FROM adc) WHERE adc_rank <= $pqShortlist),
       |pairs AS (
       |  SELECT s.query_id, s.neighbor_id,
       |    list_dot_product(q.v, n.v) / (q.nrm * n.nrm) AS cosine_raw
       |  FROM short s
       |  JOIN e q ON q.vec_id = s.query_id
       |  JOIN e n ON n.vec_id = s.neighbor_id),
       |ranked AS (
       |  SELECT query_id, neighbor_id, cosine_raw,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY round(cosine_raw, 6) DESC, neighbor_id) AS rank
       |  FROM pairs)
       |SELECT query_id, rank, neighbor_id, round(cosine_raw, 4) AS cosine
       |FROM ranked WHERE rank <= 5
       |ORDER BY query_id, rank""".stripMargin

  /** The DuckDB twin of xAnnPq (and of the multi-round x_ann_pq_r2
    * gate): the PQ chains over every vector, ADC against ALL non-self
    * candidates, shortlist, exact re-rank. */
  private def annPqOracleSql: String = annPqOracleSql(1)

  private def annPqOracleSql(rounds: Int,
      hashSpread: Boolean = false): String =
    s"""WITH e AS (
       |  SELECT vec_id, embedding::DOUBLE[] AS v,
       |    sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
       |  FROM embeddings),
       |${pqOracleChains("TRUE", "e", "v", rounds, hashSpread)},
       |adc AS (
       |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |  $pqAdcTerms AS d
       |  FROM e q
       |  JOIN codes c ON q.vec_id < 10 AND c.vec_id <> q.vec_id
       |  $pqRefJoins),
       |$pqRerankTail""".stripMargin

  /** The DuckDB twin of xAnnPqAdmit: train the codebooks on the lower-id
    * half only, read the frozen-codebook codes of the upper half from the
    * final (train-unrestricted) `codes` CTE.
    */
  /** The composed twin of xAnnIvfAdcAdmit: the coarse chain trained on
    * the admitted half (a1 assigns everyone against the frozen refc1),
    * residuals for everyone against those frozen centroids, the PQ
    * chains trained on the half's residuals (codes encode everyone),
    * output filtered to the complement.
    */
  private def ivfAdcAdmitOracleSql: String = {
    val half = "(SELECT (max(vec_id) + 1) // 2 FROM e)"
    val codeCols = (0 until pqM).map(s => s"CAST(c.c$s AS BIGINT) AS c$s")
      .mkString(", ")
    s"""${ivfAssignOracleCtes(16, 1, s"vec_id < $half")},
       |res AS (
       |  SELECT e.vec_id, a1.cell,
       |    list_transform(generate_series(1, $dims), i -> e.v[i] - rc.c[i]) AS rv
       |  FROM e JOIN a1 USING (vec_id) JOIN refc1 rc ON rc.cell = a1.cell),
       |${pqOracleChains(s"vec_id < $half", "res", "rv")}
       |SELECT c.vec_id, CAST(r.cell AS BIGINT) AS cell, $codeCols
       |FROM codes c JOIN a1 r USING (vec_id)
       |WHERE c.vec_id >= $half
       |ORDER BY c.vec_id""".stripMargin
  }

  private def pqAdmitOracleSql: String = {
    val half = "(SELECT (max(vec_id) + 1) // 2 FROM e)"
    val codeCols = (0 until pqM).map(s => s"CAST(c$s AS BIGINT) AS c$s")
      .mkString(", ")
    s"""WITH e AS (
       |  SELECT vec_id, embedding::DOUBLE[] AS v,
       |    sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
       |  FROM embeddings),
       |${pqOracleChains(s"vec_id < $half")}
       |SELECT vec_id, $codeCols
       |FROM codes WHERE vec_id >= $half
       |ORDER BY vec_id""".stripMargin
  }

  /** The sq8 code-list CTE over `e` — the x_emb_quantize twin's
    * expression verbatim (already DOUBLE[] in `e.v`, so no cast). */
  private def sq8CodesCte: String =
    """sq8 AS (
      |  SELECT vec_id,
      |    list_transform(v,
      |      x -> CAST(greatest(least(floor(x * 127 + 0.5), 127), -127) AS BIGINT)) AS cc
      |  FROM e)""".stripMargin

  /** Exact integer dot between two BIGINT code lists — a fixed fold of
    * exact longs, portable with no rounding pin (see xAnnSq8). */
  private def sq8DotSql(a: String, b: String): String =
    s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
       |    list_transform(generate_series(1, $dims), i -> $a[i] * $b[i])),
       |    (acc, x) -> acc + x)""".stripMargin

  /** The SQ8 shortlist → exact-re-rank tail: callers provide the `idp`
    * CTE (query_id, neighbor_id, idot). */
  private def sq8RerankTail: String =
    s"""short AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT query_id, neighbor_id,
       |      row_number() OVER (PARTITION BY query_id
       |        ORDER BY idot DESC, neighbor_id) AS sq_rank
       |    FROM idp) WHERE sq_rank <= $sq8Shortlist),
       |pairs AS (
       |  SELECT s.query_id, s.neighbor_id,
       |    list_dot_product(q.v, n.v) / (q.nrm * n.nrm) AS cosine_raw
       |  FROM short s
       |  JOIN e q ON q.vec_id = s.query_id
       |  JOIN e n ON n.vec_id = s.neighbor_id),
       |ranked AS (
       |  SELECT query_id, neighbor_id, cosine_raw,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY round(cosine_raw, 6) DESC, neighbor_id) AS rank
       |  FROM pairs)
       |SELECT query_id, rank, neighbor_id, round(cosine_raw, 4) AS cosine
       |FROM ranked WHERE rank <= 5
       |ORDER BY query_id, rank""".stripMargin

  /** The DuckDB twin of xAnnSq8: quantize everyone with the shared
    * expression, integer-dot every non-self candidate, shortlist, exact
    * re-rank. */
  private def annSq8OracleSql: String =
    s"""WITH e AS (
       |  SELECT vec_id, embedding::DOUBLE[] AS v,
       |    sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
       |  FROM embeddings),
       |$sq8CodesCte,
       |idp AS (
       |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |  ${sq8DotSql("q.cc", "c.cc")} AS idot
       |  FROM sq8 q
       |  JOIN sq8 c ON q.vec_id < 10 AND c.vec_id <> q.vec_id),
       |$sq8RerankTail""".stripMargin

  /** The DuckDB twin of xAnnIvfSq8: the IVF quantizer chain (probe walk
    * from its final-round distances — the annIvfPq twin's CTE), sq8
    * codes, candidates restricted to probed cells' inverted lists,
    * integer-dot shortlist, exact re-rank. */
  private def annIvfSq8OracleSql: String =
    s"""${ivfAssignOracleCtes()},
       |$sq8CodesCte,
       |probe AS (
       |  SELECT vec_id AS query_id, cell FROM (
       |    SELECT vec_id, cell,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY d, cell) AS rn
       |    FROM d1 WHERE vec_id < 10) WHERE rn <= 4),
       |cand AS (
       |  SELECT DISTINCT p.query_id, a1.vec_id AS neighbor_id
       |  FROM probe p JOIN a1 ON p.cell = a1.cell
       |  WHERE a1.vec_id <> p.query_id),
       |idp AS (
       |  SELECT cd.query_id, cd.neighbor_id,
       |  ${sq8DotSql("qc.cc", "nc.cc")} AS idot
       |  FROM cand cd
       |  JOIN sq8 qc ON qc.vec_id = cd.query_id
       |  JOIN sq8 nc ON nc.vec_id = cd.neighbor_id),
       |$sq8RerankTail""".stripMargin

  /** The DuckDB twin of xAnnIvfPq: the IVF quantizer chain (probe walk
    * from its final-round distances), the PQ chains, candidates
    * restricted to probed cells' inverted lists, then the shared
    * ADC-shortlist + exact-re-rank tail.
    */
  private def annIvfPqOracleSql: String =
    s"""${ivfAssignOracleCtes()},
       |$pqOracleChains,
       |probe AS (
       |  SELECT vec_id AS query_id, cell FROM (
       |    SELECT vec_id, cell,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY d, cell) AS rn
       |    FROM d1 WHERE vec_id < 10) WHERE rn <= 4),
       |cand AS (
       |  SELECT DISTINCT p.query_id, a1.vec_id AS neighbor_id
       |  FROM probe p JOIN a1 ON p.cell = a1.cell
       |  WHERE a1.vec_id <> p.query_id),
       |adc AS (
       |  SELECT cd.query_id, cd.neighbor_id,
       |  $pqAdcTerms AS d
       |  FROM cand cd
       |  JOIN e q ON q.vec_id = cd.query_id
       |  JOIN codes c ON c.vec_id = cd.neighbor_id
       |  $pqRefJoins),
       |$pqRerankTail""".stripMargin

  /** The DuckDB twin of xAnnIvfAdc: the IVF chain, residuals against the
    * refined centroids, the PQ chains sliced from residuals, the probe
    * walk, per-probed-cell query residuals, ADC restricted to each
    * candidate's own cell, shared re-rank tail.
    */
  private def annIvfAdcOracleSql: String =
    s"""${ivfAssignOracleCtes()},
       |res AS (
       |  SELECT e.vec_id, a1.cell,
       |    list_transform(generate_series(1, $dims), i -> e.v[i] - rc.c[i]) AS rv
       |  FROM e JOIN a1 USING (vec_id) JOIN refc1 rc ON rc.cell = a1.cell),
       |${pqOracleChains("TRUE", "res", "rv")},
       |probe AS (
       |  SELECT vec_id AS query_id, cell FROM (
       |    SELECT vec_id, cell,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY d, cell) AS rn
       |    FROM d1 WHERE vec_id < 10) WHERE rn <= 4),
       |cand AS (
       |  SELECT p.query_id, a1.vec_id AS neighbor_id, a1.cell
       |  FROM probe p JOIN a1 ON p.cell = a1.cell
       |  WHERE a1.vec_id <> p.query_id),
       |qres AS (
       |  SELECT p.query_id, p.cell,
       |    list_transform(generate_series(1, $dims), i -> q.v[i] - rc.c[i]) AS v
       |  FROM probe p JOIN e q ON q.vec_id = p.query_id
       |  JOIN refc1 rc ON rc.cell = p.cell),
       |adc AS (
       |  SELECT cd.query_id, cd.neighbor_id,
       |  $pqAdcTerms AS d
       |  FROM cand cd
       |  JOIN qres q ON q.query_id = cd.query_id AND q.cell = cd.cell
       |  JOIN codes c ON c.vec_id = cd.neighbor_id
       |  $pqRefJoins),
       |$pqRerankTail""".stripMargin

  val oracle: Map[String, String] = Map(
    "x_ann_lsh" -> annLshOracleSql,
    "x_ann_ivf" -> annIvfOracleSql(),
    "x_ann_ivf_k8r2" -> annIvfOracleSql(8, 2),
    "x_ann_ivf_seedh" -> annIvfOracleSql(16, 1, hashSpread = true),
    "x_ann_ivf_admit" -> ivfAdmitOracleSql,
    "x_ann_pq" -> annPqOracleSql,
    "x_ann_pq_r2" -> annPqOracleSql(2),
    "x_ann_pq_seedh" -> annPqOracleSql(1, hashSpread = true),
    "x_ann_ivfpq" -> annIvfPqOracleSql,
    "x_ann_sq8" -> annSq8OracleSql,
    "x_ann_ivfsq8" -> annIvfSq8OracleSql,
    "x_ann_pq_admit" -> pqAdmitOracleSql,
    "x_ann_ivfadc" -> annIvfAdcOracleSql,
    "x_ann_ivfadc_admit" -> ivfAdcAdmitOracleSql,
    "x_diversity_sample" -> diversitySampleOracleSql,
    "x_emb_corpus_prep" -> embCorpusPrepOracleSql(),
    "x_emb_corpus_prep_sem" -> embCorpusPrepOracleSql(semantic = true),
    "x_emb_corpus_prep_sem_k64" ->
      embCorpusPrepOracleSql(semantic = true, k = 64),
    "x_emb_corpus_prep_clean" -> embCorpusPrepOracleSql(clean = true),
    // The wide-banding composed twin: the SAME generated chain with the
    // 24×14 plane matrices embedded in the clean prelude's signature
    // CTEs — only those columns differ from the default clean twin.
    "x_emb_corpus_prep_clean_t24p14" ->
      embCorpusPrepOracleSql(clean = true, planes = tablePlanesWide),
    "x_emb_corpus_prep_central" -> embCorpusPrepOracleSql(central = true),
    "x_emb_corpus_prep_full" ->
      embCorpusPrepOracleSql(semantic = true, clean = true),
    "x_emb_corpus_prep_decon" ->
      embCorpusPrepOracleSql(clean = true, decon = true),
    "x_emb_corpus_prep_curated" -> embCorpusPrepCuratedOracleSql(),
    "x_emb_corpus_prep_proto" -> embCorpusPrepProtoOracleSql(),
    "x_emb_corpus_prep_curated_t24p14k64" ->
      embCorpusPrepCuratedOracleSql(planes = tablePlanesWide, kCells = 64),
    "x_emb_corpus_prep_proto_t24p14k64" ->
      embCorpusPrepProtoOracleSql(planes = tablePlanesWide, kCells = 64),
    "x_emb_corpus_prep_decon_t24p14k64" ->
      embCorpusPrepOracleSql(clean = true, decon = true, k = 64,
        planes = tablePlanesWide),
    "x_emb_corpus_prep_audit" -> embCorpusPrepAuditOracleSql,
    "x_emb_drift" -> embDriftOracleSql,
    // SemDeDup twin: shared quantizer chain, vectors joined back to
    // their (v, nrm), within-cell keep-lowest pair verdicts.
    // LSH-blocked cosine dedup twin: the shared signature/inverted-list
    // chain, any-table collision candidates, exact verdicts.
    "x_dedup_emb_cosine_lsh" ->
      s"""WITH ${lshCorpusCtes()},
         |cd AS (
         |  SELECT DISTINCT a.vec_id AS id1, b.vec_id AS id2
         |  FROM corpus a JOIN corpus b
         |    ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id < b.vec_id),
         |cpairs AS (
         |  SELECT cd.id1, cd.id2,
         |    round(list_dot_product(x.v, y.v) / (x.nrm * y.nrm), 4) AS cosine
         |  FROM cd
         |  JOIN e x ON x.vec_id = cd.id1
         |  JOIN e y ON y.vec_id = cd.id2)
         |SELECT id1, id2, cosine FROM cpairs
         |WHERE cosine >= 0.8
         |ORDER BY id1, id2""".stripMargin,
    // Admission twin: same signature chain, candidate join restricted to
    // new-id (upper-half) larger sides — the frozen-index probe replayed
    // deterministically (// is DuckDB floor-div, matching Spark's div).
    "x_dedup_emb_cosine_lsh_admit" ->
      s"""WITH ${lshCorpusCtes()},
         |cd AS (
         |  SELECT DISTINCT a.vec_id AS id1, b.vec_id AS id2
         |  FROM corpus a JOIN corpus b
         |    ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id < b.vec_id
         |  WHERE b.vec_id >= (SELECT (max(vec_id) + 1) // 2 FROM e)),
         |cpairs AS (
         |  SELECT cd.id1, cd.id2,
         |    round(list_dot_product(x.v, y.v) / (x.nrm * y.nrm), 4) AS cosine
         |  FROM cd
         |  JOIN e x ON x.vec_id = cd.id1
         |  JOIN e y ON y.vec_id = cd.id2)
         |SELECT id1, id2, cosine FROM cpairs
         |WHERE cosine >= 0.8
         |ORDER BY id1, id2""".stripMargin,
    "x_dedup_semantic" -> semanticOracleSql(),
    "x_dedup_semantic_k64" -> semanticOracleSql(64, 1),
    "x_dedup_semantic_k64r3" -> semanticOracleSql(64, 3),
    "x_dedup_semantic_admit" -> semanticAdmitOracleSql,
    "x_knn_graph" -> knnGraphOracleSql(),
    "x_knn_graph_k64" -> knnGraphOracleSql(5, 64, 1),
    "x_knn_graph_admit" -> knnGraphAdmitOracleSql(),
    "x_knn_density_select" -> densitySelectOracleSql(),
    "x_knn_density_select_clean" -> densitySelectOracleSql(
      srcTable = "uq", prelude = s"$embKeeperCte,\n"),
    "x_graph_pagerank" -> pagerankOracleSql(),
    "x_graph_pagerank_clean" -> pagerankOracleSql(
      srcTable = "uq", prelude = s"$embKeeperCte,\n"),
    "x_graph_pagerank_select" -> pagerankSelectOracleSql(),
    "x_graph_pagerank_w" -> pagerankOracleSql(
      srcTable = "uq", prelude = s"$embKeeperCte,\n", weighted = true),
    "x_graph_pagerank_r6" -> pagerankOracleSql(prRounds = 6),
    // Clean-arm twin: keeper collapse as prelude, the SAME quantizer +
    // graph chain over `uq` — trained on keepers, like the Spark side.
    "x_knn_graph_clean" -> knnGraphOracleSql(
      srcTable = "uq", prelude = s"$embKeeperCte,\n"),
    // Clean-arm twin: the keeper window CTE (bit-identical FLOAT[]
    // equality, the x_dedup_emb_exact twin's shape) feeds the SAME
    // signature/collision/verdict chain via the parameterized source.
    "x_dedup_emb_cosine_lsh_clean" ->
      s"""WITH $lshCleanPairCtes
         |SELECT id1, id2, cosine FROM cpairs
         |WHERE cosine >= 0.8
         |ORDER BY id1, id2""".stripMargin,
    // Wide banding twin: the SAME generated chain with the 24×14 plane
    // matrices embedded (the density-knob arm) — only the signature
    // columns differ from the default twin.
    "x_dedup_emb_cosine_lsh_clean_t24p14" ->
      s"""WITH ${lshCleanPairCtesP(tablePlanesWide)}
         |SELECT id1, id2, cosine FROM cpairs
         |WHERE cosine >= 0.8
         |ORDER BY id1, id2""".stripMargin,
    // Multi-probed wide twin: the same keeper + signature chain, one
    // collision side exploded through the 15 literal 1-bit masks
    // (xor(), the DuckDB ^-is-power gotcha) before the bucket join —
    // masks embedded verbatim, the annLshOracleSql idiom.
    "x_dedup_emb_cosine_lsh_clean_t24p14_probe" ->
      s"""WITH $embKeeperCte,
         |${lshCorpusCtes("uq", planes = tablePlanesWide)},
         |masks(m) AS (VALUES
         |    ${wideProbeMasks.map(m => s"($m)").mkString(", ")}),
         |probes AS (
         |  SELECT c.vec_id, c.tbl, xor(c.bucket, masks.m) AS bucket
         |  FROM corpus c CROSS JOIN masks),
         |cd AS (
         |  SELECT DISTINCT p.vec_id AS id1, b.vec_id AS id2
         |  FROM probes p JOIN corpus b
         |    ON p.tbl = b.tbl AND p.bucket = b.bucket AND p.vec_id < b.vec_id),
         |cpairs AS (
         |  SELECT cd.id1, cd.id2,
         |    round(list_dot_product(x.v, y.v) / (x.nrm * y.nrm), 4) AS cosine
         |  FROM cd
         |  JOIN e x ON x.vec_id = cd.id1
         |  JOIN e y ON y.vec_id = cd.id2)
         |SELECT id1, id2, cosine FROM cpairs
         |WHERE cosine >= 0.8
         |ORDER BY id1, id2""".stripMargin,
    // Decontamination twin: the same clean pair chain + the md5-bucket
    // holdout predicate (the documented % idiom — the bucket value is
    // nonnegative, so DuckDB % == Spark pmod) on both pair sides.
    "x_emb_contamination" ->
      s"""WITH $lshCleanPairCtes,
         |vsp AS (
         |  SELECT vec_id,
         |    (('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8))::BIGINT
         |      % 100) < 10 AS is_eval
         |  FROM uq),
         |flt AS (
         |  SELECT p.id1, p.id2, p.cosine, a.is_eval AS e1
         |  FROM cpairs p
         |  JOIN vsp a ON a.vec_id = p.id1
         |  JOIN vsp b ON b.vec_id = p.id2
         |  WHERE p.cosine >= 0.8 AND a.is_eval <> b.is_eval)
         |SELECT CASE WHEN e1 THEN id2 ELSE id1 END AS train_id,
         |  CASE WHEN e1 THEN id1 ELSE id2 END AS eval_id, cosine
         |FROM flt
         |ORDER BY train_id, eval_id""".stripMargin,
    // Vector cluster twin: the SAME clean pair chain (headerless val —
    // the factored composition, emitted text unchanged), then the text
    // cluster twin's transitive-closure reach/lab idiom over the banded
    // verdict edges, names v-prefixed (the chain owns e/cd/cpairs).
    "x_dedup_emb_cluster" ->
      s"""WITH RECURSIVE $lshCleanPairCtes,
         |vpairs AS (SELECT id1, id2 FROM cpairs WHERE cosine >= 0.8),
         |vedges AS (
         |  SELECT id1 AS a, id2 AS b FROM vpairs
         |  UNION ALL SELECT id2, id1 FROM vpairs),
         |vreach(a, b) AS (
         |  SELECT a, b FROM vedges
         |  UNION
         |  SELECT r.a, e2.b FROM vreach r JOIN vedges e2 ON r.b = e2.a),
         |vlab AS (
         |  SELECT a AS vec_id, least(a, MIN(b)) AS cluster_id
         |  FROM vreach GROUP BY a)
         |SELECT vec_id, cluster_id,
         |  COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size
         |FROM vlab
         |ORDER BY vec_id""".stripMargin,
    // Corpus-artifact twin: the same closure chain, losers = non-min
    // members, output = keepers (label joined from the raw relation)
    // minus losers.
    "x_dedup_emb_corpus_neardup" ->
      s"""WITH RECURSIVE $lshCleanPairCtes,
         |vpairs AS (SELECT id1, id2 FROM cpairs WHERE cosine >= 0.8),
         |vedges AS (
         |  SELECT id1 AS a, id2 AS b FROM vpairs
         |  UNION ALL SELECT id2, id1 FROM vpairs),
         |vreach(a, b) AS (
         |  SELECT a, b FROM vedges
         |  UNION
         |  SELECT r.a, e2.b FROM vreach r JOIN vedges e2 ON r.b = e2.a),
         |vlab AS (
         |  SELECT a AS vec_id, least(a, MIN(b)) AS cluster_id
         |  FROM vreach GROUP BY a)
         |SELECT m.vec_id, m.label
         |FROM embeddings m
         |WHERE m.vec_id IN (SELECT vec_id FROM uq)
         |  AND m.vec_id NOT IN (
         |    SELECT vec_id FROM vlab WHERE cluster_id <> vec_id)
         |ORDER BY m.vec_id""".stripMargin,
    // Keep-central twin: the shared closure chain + the Lloyd-step
    // exact-integer cluster mean (trunc to the 2^-24 grid, sum longs,
    // floor-div, back to dyadic doubles) + the fixed-order distance
    // fold and the (d, vec_id) rank.
    "x_dedup_emb_keep_central" ->
      s"""WITH RECURSIVE $lshCleanPairCtes,
         |vpairs AS (SELECT id1, id2 FROM cpairs WHERE cosine >= 0.8),
         |vedges AS (
         |  SELECT id1 AS a, id2 AS b FROM vpairs
         |  UNION ALL SELECT id2, id1 FROM vpairs),
         |vreach(a, b) AS (
         |  SELECT a, b FROM vedges
         |  UNION
         |  SELECT r.a, e2.b FROM vreach r JOIN vedges e2 ON r.b = e2.a),
         |vlab AS (
         |  SELECT a AS vec_id, least(a, MIN(b)) AS cluster_id
         |  FROM vreach GROUP BY a),
         |cmean AS (
         |  SELECT l.cluster_id, g.i,
         |    CAST(sum(trunc((e.v[g.i] + 16) * 16777216)::BIGINT) AS BIGINT) AS sq,
         |    count(*) AS n
         |  FROM vlab l JOIN e ON e.vec_id = l.vec_id
         |  CROSS JOIN generate_series(1, 64) g(i)
         |  GROUP BY l.cluster_id, g.i),
         |cctr AS (
         |  SELECT cluster_id,
         |    list(CAST(sq // n AS BIGINT) / 16777216.0 - 16 ORDER BY i) AS c
         |  FROM cmean GROUP BY cluster_id),
         |cdist AS (
         |  SELECT l.vec_id, l.cluster_id,
         |    list_reduce(list_prepend(0.0,
         |      list_transform(generate_series(1, 64),
         |        i -> (e.v[i] - s.c[i]) * (e.v[i] - s.c[i]))),
         |      (a, x) -> a + x) AS d
         |  FROM vlab l JOIN e ON e.vec_id = l.vec_id
         |  JOIN cctr s ON s.cluster_id = l.cluster_id),
         |crk AS (
         |  SELECT vec_id, cluster_id,
         |    row_number() OVER (PARTITION BY cluster_id
         |      ORDER BY d, vec_id) AS rn
         |  FROM cdist)
         |SELECT vec_id, cluster_id,
         |  CAST(CASE WHEN rn = 1 THEN 1 ELSE 0 END AS BIGINT) AS kept
         |FROM crk ORDER BY vec_id""".stripMargin,
    // Corpus-under-keep-central twin: the same closure + centroid
    // chain, losers = rn <> 1 members, output = keepers minus losers.
    "x_dedup_emb_corpus_central" ->
      s"""WITH RECURSIVE $lshCleanPairCtes,
         |vpairs AS (SELECT id1, id2 FROM cpairs WHERE cosine >= 0.8),
         |vedges AS (
         |  SELECT id1 AS a, id2 AS b FROM vpairs
         |  UNION ALL SELECT id2, id1 FROM vpairs),
         |vreach(a, b) AS (
         |  SELECT a, b FROM vedges
         |  UNION
         |  SELECT r.a, e2.b FROM vreach r JOIN vedges e2 ON r.b = e2.a),
         |vlab AS (
         |  SELECT a AS vec_id, least(a, MIN(b)) AS cluster_id
         |  FROM vreach GROUP BY a),
         |cmean AS (
         |  SELECT l.cluster_id, g.i,
         |    CAST(sum(trunc((e.v[g.i] + 16) * 16777216)::BIGINT) AS BIGINT) AS sq,
         |    count(*) AS n
         |  FROM vlab l JOIN e ON e.vec_id = l.vec_id
         |  CROSS JOIN generate_series(1, 64) g(i)
         |  GROUP BY l.cluster_id, g.i),
         |cctr AS (
         |  SELECT cluster_id,
         |    list(CAST(sq // n AS BIGINT) / 16777216.0 - 16 ORDER BY i) AS c
         |  FROM cmean GROUP BY cluster_id),
         |cdist AS (
         |  SELECT l.vec_id, l.cluster_id,
         |    list_reduce(list_prepend(0.0,
         |      list_transform(generate_series(1, 64),
         |        i -> (e.v[i] - s.c[i]) * (e.v[i] - s.c[i]))),
         |      (a, x) -> a + x) AS d
         |  FROM vlab l JOIN e ON e.vec_id = l.vec_id
         |  JOIN cctr s ON s.cluster_id = l.cluster_id),
         |crk AS (
         |  SELECT vec_id, cluster_id,
         |    row_number() OVER (PARTITION BY cluster_id
         |      ORDER BY d, vec_id) AS rn
         |  FROM cdist)
         |SELECT m.vec_id, m.label
         |FROM embeddings m
         |WHERE m.vec_id IN (SELECT vec_id FROM uq)
         |  AND m.vec_id NOT IN (SELECT vec_id FROM crk WHERE rn <> 1)
         |ORDER BY m.vec_id""".stripMargin,
    "x_emb_quantize" ->
      """WITH q AS (
        |  SELECT vec_id,
        |    list_transform(embedding::DOUBLE[],
        |      v -> CAST(greatest(least(floor(v * 127 + 0.5), 127), -127) AS BIGINT))
        |      AS codes
        |  FROM embeddings)
        |SELECT vec_id,
        |  len(codes)::BIGINT AS n_dims,
        |  CAST(list_sum(codes) AS BIGINT) AS sum_codes,
        |  list_min(codes) AS min_code,
        |  list_max(codes) AS max_code
        |FROM q ORDER BY vec_id""".stripMargin,
    // Per-element trunc(x²·2²⁴) summed as BIGINTs: each x²·2²⁴ is a
    // correctly-rounded double times an exact power of two, truncated
    // identically on both engines (Spark's double→bigint cast truncates;
    // DuckDB needs the explicit trunc()).
    "x_emb_manifest" ->
      """WITH per AS (
        |  SELECT label, COUNT(*) AS n_vecs,
        |    CAST(COUNT(DISTINCT embedding) AS BIGINT) AS n_distinct_vecs,
        |    CAST(MIN(len(embedding)) AS BIGINT) AS min_dims,
        |    CAST(MAX(len(embedding)) AS BIGINT) AS max_dims,
        |    CAST(SUM(CAST(list_sum(list_transform(embedding, x ->
        |        CAST(trunc(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)
        |          * 16777216.0) AS BIGINT))) AS BIGINT)) AS BIGINT)
        |      AS sum_sq_q
        |  FROM embeddings GROUP BY 1),
        |tot AS (SELECT CAST(SUM(n_vecs) AS BIGINT) AS tot FROM per)
        |SELECT label, CAST(n_vecs AS BIGINT) AS n_vecs, n_distinct_vecs,
        |  min_dims, max_dims, sum_sq_q,
        |  CAST(n_vecs * 10000 // tot AS BIGINT) AS vec_share_bp
        |FROM per, tot ORDER BY label""".stripMargin,
    // JL projection twin: the 16 fixed-order sign-fold expressions with
    // the ±1 matrix embedded verbatim (the minhash-constants idiom).
    "x_emb_rp_reduce" ->
      s"""WITH $rpCteSql
         |SELECT vec_id,
         |  ${(0 until rpOutDims).map(j => f"v[${j + 1}] AS rp_$j%02d").mkString(",\n  ")}
         |FROM rp ORDER BY vec_id""".stripMargin,
    // RP-shortlist + exact re-rank: the rp CTE, the reduced-space rank
    // (explicit list_reduce folds, round-6 + neighbor_id ties), then
    // the standard full-dim bruteforce tail over shortlisted pairs.
    "x_ann_rp" ->
      s"""WITH $rpCteSql,
         |re AS (
         |  SELECT vec_id, v,
         |    sqrt(list_reduce(list_prepend(0.0,
         |      list_transform(v, x -> x * x)), (a, x) -> a + x)) AS rnrm
         |  FROM rp),
         |rpairs AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |    list_reduce(list_prepend(0.0,
         |      list_transform(generate_series(1, $rpOutDims),
         |        i -> q.v[i] * c.v[i])), (a, x) -> a + x)
         |      / (q.rnrm * c.rnrm) AS rp_cos
         |  FROM re q JOIN re c ON q.vec_id < 10 AND q.vec_id <> c.vec_id),
         |short AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT query_id, neighbor_id,
         |      row_number() OVER (PARTITION BY query_id
         |        ORDER BY round(rp_cos, 6) DESC, neighbor_id) AS rp_rank
         |    FROM rpairs) WHERE rp_rank <= greatest($rpShortlistMin,
         |      (SELECT COUNT(*) FROM embeddings) // $rpShortlistDenom)),
         |e AS (
         |  SELECT vec_id, embedding::DOUBLE[] AS v,
         |    sqrt(list_sum(list_transform(embedding::DOUBLE[], x -> x * x))) AS nrm
         |  FROM embeddings),
         |pairs AS (
         |  SELECT s.query_id, s.neighbor_id,
         |    list_dot_product(q.v, c.v) / (q.nrm * c.nrm) AS cosine_raw
         |  FROM short s
         |  JOIN e q ON q.vec_id = s.query_id
         |  JOIN e c ON c.vec_id = s.neighbor_id),
         |ranked AS (
         |  SELECT query_id, neighbor_id, cosine_raw,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY round(cosine_raw, 6) DESC, neighbor_id) AS rank
         |  FROM pairs)
         |SELECT query_id, rank, neighbor_id, round(cosine_raw, 4) AS cosine
         |FROM ranked WHERE rank <= 5
         |ORDER BY query_id, rank""".stripMargin,
    "x_knn_bruteforce" ->
      """WITH e AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS v,
        |    sqrt(list_sum(list_transform(embedding::DOUBLE[], x -> x * x))) AS nrm
        |  FROM embeddings),
        |pairs AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    list_dot_product(q.v, c.v) / (q.nrm * c.nrm) AS cosine_raw
        |  FROM e q JOIN e c ON q.vec_id < 10 AND q.vec_id <> c.vec_id),
        |ranked AS (
        |  SELECT query_id, neighbor_id, cosine_raw,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY round(cosine_raw, 6) DESC, neighbor_id) AS rank
        |  FROM pairs)
        |SELECT query_id, rank, neighbor_id, round(cosine_raw, 4) AS cosine
        |FROM ranked WHERE rank <= 5
        |ORDER BY query_id, rank""".stripMargin)
}
