package graft

import java.math.{BigDecimal, BigInteger}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Typed READERS for the frozen-artifact shelf
  * `Pipeline.materializeFrozenArtifacts` writes — the consuming half of
  * the "production ships the artifact" contract. A deployment builds
  * the shelf once per corpus version and its ingest gates load state
  * from parquet with these readers instead of re-running trainers; the
  * loaded values are the builders' values BITWISE (doubles round-trip
  * parquet exactly — IEEE 754 binary64 columns, no decimal re-encode),
  * so every gate parity spec that holds for trainer-built state holds
  * verbatim for shelf-loaded state. Spec-pinned in ExtensionsSpec
  * ("shelf loaders reconstruct every frozen state bitwise").
  *
  * DataFrame-shaped artifacts (admission indexes, keepers, hub index,
  * mix cuts, sample rates, eval index) need no reader beyond
  * [[table]] — the streaming gates take them as DataFrames directly.
  * The readers below rebuild the SCALA-VALUE states (ordered merge
  * vectors, centroid/codebook arrays, ratio maps, NB class tuples)
  * in exactly the shapes the gates' signatures require.
  */
object ArtifactShelf {

  /** (row count, fingerprint) in ONE scan — the stamp builders and the
    * load-time check both need the pair, and reading the relation twice
    * (count, then fingerprint) doubled stamp I/O for no reason (the r15
    * verdict's minor #8). Same values as before: the count is COUNT(*),
    * the fingerprint the wrapping sum of per-row xxhash64.
    */
  private[graft] def stampOf(df: DataFrame): (Long, Long) = {
    val (n, h) = stampAggs(df)
    val r = df.agg(n, h).head()
    (r.getLong(0), fold(r.getDecimal(1)))
  }

  /** Overwrites `path` with `df` and returns its (row count,
    * fingerprint) — the [[stampOf]] pair of what landed — observed on
    * the write job itself, so a publish runs no read-back job.
    *
    * With `partitionBy = Some(k)` the relation lands Hive-partitioned
    * on `k`, one file per partition directory (repartition on the key,
    * then `partitionBy`). `k` moves to the last column, the order a
    * partitioned read returns, so the fingerprint is that of the
    * read-back (given the key's type: plain reads infer it from the
    * directory names).
    */
  private[graft] def publish(df: DataFrame, path: String,
      partitionBy: Option[String] = None): (Long, Long) = {
    import org.apache.spark.sql.functions.col
    val laid = partitionBy.fold(df) { k =>
      df.select((df.columns.filter(_ != k) :+ k).map(col): _*)
        .repartition(col(k))
    }
    val obs = org.apache.spark.sql.Observation()
    val (n, h) = stampAggs(laid)
    val writer = laid.observe(obs, n, h).write.mode("overwrite")
    partitionBy.fold(writer)(writer.partitionBy(_)).parquet(path)
    val m = obs.get
    (m("n").asInstanceOf[Long], fold(m("h").asInstanceOf[BigDecimal]))
  }

  // Sum in DECIMAL(38,0) — a raw long sum of ±2⁶³-range hashes
  // overflows under ANSI arithmetic; 38 digits hold millions of them
  // exactly — then fold to a long on the driver (no rows folds to 0).
  private def stampAggs(df: DataFrame): (Column, Column) = {
    import org.apache.spark.sql.functions._
    (count(lit(1)).as("n"),
      sum(xxhash64(df.columns.map(col): _*).cast("decimal(38,0)")).as("h"))
  }

  private def fold(sum: BigDecimal): Long = if (sum == null) 0L
    else sum.toBigInteger.mod(BigInteger.valueOf(Long.MaxValue)).longValueExact()

  /** The stamp of two disjoint relations' union: counts add and
    * fingerprints add under the same wrapping sum, so an append derives
    * the relation's new stamp without rescanning what was there.
    */
  private[graft] def addStamps(a: (Long, Long), b: (Long, Long)): (Long, Long) =
    (a._1 + b._1, fold(new BigDecimal(
      BigInteger.valueOf(a._2).add(BigInteger.valueOf(b._2)))))

  /** A build stamp: artifact → (row count, fingerprint). */
  private[graft] type Stamp = Map[String, (Long, Long)]
  private[graft] val StampName = "art_build_stamp"

  /** Serializes stamp writes in this JVM: interleaved read-modify-writes
    * would write each other's rows stale (cross-process: out of contract).
    */
  private val stampLock = new Object

  /** The stamp `shelfDir`'s build recorded. */
  private[graft] def stamp(spark: SparkSession, shelfDir: String): Stamp =
    spark.read.parquet(s"$shelfDir/$StampName").collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap

  /** Writes `stamp` whole, sorted by artifact. */
  private[graft] def writeStamp(spark: SparkSession, shelfDir: String,
      stamp: Stamp): Unit = stampLock.synchronized {
    import spark.implicits._
    stamp.toSeq.sortBy(_._1).map { case (a, (n, fp)) => (a, n, fp) }
      .toDF("artifact", "n_rows", "fp")
      .write.mode("overwrite").parquet(s"$shelfDir/$StampName")
  }

  /** The one stamp read-modify-write: under the lock, reads the stamp,
    * runs `update` (which may write artifacts), writes what it returns.
    */
  private[graft] def restamp[T](spark: SparkSession, shelfDir: String)(
      update: Stamp => (Stamp, T)): T = stampLock.synchronized {
    val (next, result) = update(stamp(spark, shelfDir))
    writeStamp(spark, shelfDir, next)
    result
  }

  /** Deletes the serve delta and tombstones, which a rebuilt or folded
    * base already holds; returns the names it deleted.
    */
  private[graft] def retireServe(spark: SparkSession,
      shelfDir: String): Seq[String] =
    Seq("art_serve_delta", "art_serve_tombstones").filter { name =>
      val d = new org.apache.hadoop.fs.Path(s"$shelfDir/$name")
      val fs = d.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.exists(d) && fs.delete(d, true)
    }

  /** A DataFrame-shaped artifact, as written — VERIFIED against the
    * shelf's build stamp before it is handed to a gate: a shelf whose
    * artifact was regenerated against different sibling artifacts (a
    * partial rebuild, a mixed-version deploy — e.g. an `art_splits`
    * half-point that disagrees with the admission indexes trained on
    * it) fails loudly here instead of silently emitting wrong
    * admissions. The stamp scan is one codegen'd pass over an
    * artifact that is small by design (the shelf holds frozen states,
    * never corpus-scale relations).
    */
  def table(spark: SparkSession, shelfDir: String, name: String): DataFrame = {
    val df = spark.read.parquet(s"$shelfDir/$name")
    if (name != StampName) {
      val (wantN, wantFp) = stamp(spark, shelfDir).getOrElse(name, throw new
        IllegalStateException(s"shelf artifact unstamped: $name at " +
          s"$shelfDir is not in art_build_stamp — not written by the " +
          "shelf build that stamped this directory"))
      val (gotN, gotFp) = stampOf(df)
      require(gotN == wantN && gotFp == wantFp,
        s"shelf artifact version skew: $name at $shelfDir has " +
          s"($gotN rows, fp $gotFp) but the build stamp recorded " +
          s"($wantN rows, fp $wantFp) — the artifact was regenerated " +
          "after the shelf build; rebuild the whole shelf")
    }
    df
  }

  /** The per-gate admission split ids (`art_splits`). */
  def splits(spark: SparkSession, shelfDir: String): Map[String, Long] =
    table(spark, shelfDir, "art_splits").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap

  /** The BPE merge list in training order (`art_bpe_merges`) — the
    * shape `TextAnalysis.admitMergeList` returns and the frozen-merge
    * replay consumes.
    */
  def bpeMerges(spark: SparkSession, shelfDir: String)
      : Vector[(String, String)] =
    table(spark, shelfDir, "art_bpe_merges").orderBy("round").collect()
      .map(r => (r.getString(1), r.getString(2))).toVector

  /** The IVF coarse-quantizer centroids (`art_ivf_centroids`), cell ×
    * dim — the shape `StreamOps.assignVectors` and the codegen'd
    * nearest_centroid pass consume.
    */
  def ivfCentroids(spark: SparkSession, shelfDir: String)
      : Array[Array[Double]] = {
    val rows = table(spark, shelfDir, "art_ivf_centroids").collect()
      .map(r => (r.getLong(0).toInt, r.getLong(1).toInt, r.getDouble(2)))
    // Shape guard: the array dims are INFERRED from the max observed
    // (cell, pos), so a truncated or partially-written shelf table would
    // otherwise load silently as zero-filled plausible-but-wrong frozen
    // state. A dense artifact has exactly k·dims rows — anything else is
    // an incomplete shelf, and loading it must fail loudly.
    require(rows.nonEmpty,
      s"shelf artifact incomplete: art_ivf_centroids at $shelfDir is empty")
    val k = rows.map(_._1).max + 1
    val dims = rows.map(_._2).max + 1
    require(rows.length == k * dims,
      s"shelf artifact incomplete: art_ivf_centroids has ${rows.length} " +
        s"rows, expected k*dims = $k*$dims = ${k * dims}")
    val out = Array.fill(k)(new Array[Double](dims))
    rows.foreach { case (c, p, v) => out(c)(p) = v }
    out
  }

  /** The PQ codebooks (`art_pq_codebooks`), subspace × cell × dim —
    * the shape `Similarity.pqEncode` / `StreamOps.encodeVectors`
    * consume.
    */
  def pqCodebooks(spark: SparkSession, shelfDir: String)
      : Array[Array[Array[Double]]] = {
    val rows = table(spark, shelfDir, "art_pq_codebooks").collect()
      .map(r => (r.getLong(0).toInt, r.getLong(1).toInt,
        r.getLong(2).toInt, r.getDouble(3)))
    // Same shape guard as ivfCentroids: a dense codebook artifact has
    // exactly m·k·sub rows; inferred-shape zero-fill must never paper
    // over a partial write.
    require(rows.nonEmpty,
      s"shelf artifact incomplete: art_pq_codebooks at $shelfDir is empty")
    val m = rows.map(_._1).max + 1
    val k = rows.map(_._2).max + 1
    val sub = rows.map(_._3).max + 1
    require(rows.length == m * k * sub,
      s"shelf artifact incomplete: art_pq_codebooks has ${rows.length} " +
        s"rows, expected m*k*sub = $m*$k*$sub = ${m * k * sub}")
    val out = Array.fill(m, k)(new Array[Double](sub))
    rows.foreach { case (s, c, p, v) => out(s)(c)(p) = v }
    out
  }

  /** The DSIR token → ln-ratio map (`art_dsir_ratios`). */
  def dsirRatios(spark: SparkSession, shelfDir: String)
      : Map[String, Double] =
    table(spark, shelfDir, "art_dsir_ratios").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap

  /** The DSIR scalar constants (`art_dsir_consts`): (unseen-token
    * ratio, threshold weight, threshold doc id) — the
    * `StreamOps.selectDocs` tail of `Selection.dsirFrozen`'s tuple.
    */
  def dsirConsts(spark: SparkSession, shelfDir: String)
      : (Double, Double, Long) = {
    val r = table(spark, shelfDir, "art_dsir_consts").head()
    (r.getDouble(0), r.getDouble(1), r.getLong(2))
  }

  /** The frozen NB classifier state (`art_nb_classes` +
    * `art_nb_terms`), class-name sorted — the shape
    * `Selection.nbFrozen` returns and `StreamOps.classifyDocs`
    * consumes.
    */
  def nbState(spark: SparkSession, shelfDir: String)
      : Seq[(String, Double, Double, Map[String, Double])] = {
    val terms = table(spark, shelfDir, "art_nb_terms").collect()
      .map(r => (r.getString(0), r.getString(1), r.getDouble(2)))
      .groupBy(_._1)
      .map { case (c, rs) => c -> rs.map(t => t._2 -> t._3).toMap }
    table(spark, shelfDir, "art_nb_classes").collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2)))
      .sortBy(_._1)
      .map { case (c, p, d) => (c, p, d, terms.getOrElse(c, Map.empty)) }
      .toSeq
  }
}
