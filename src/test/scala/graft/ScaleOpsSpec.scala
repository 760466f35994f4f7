package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Specs for the scale toolkit: the similarity grid schedule, the
  * parquet-backed signature state, plan shapes and partition pruning,
  * the partitioned corpus materializations, and approximate-stat bounds.
  */
class ScaleOpsSpec extends AnyFunSuite {
  private val sf = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = GraftTest.spark

  test("grid schedule pins the measured steps and derives the probe step") {
    // The r16 derivation (SCALE.md's parameter prose as code): the
    // measured steps at the documented thresholds, byte-stable at the
    // gated sizes — the SAME matrices (reference equality: every oracle
    // embeds them verbatim), never regenerated ones.
    val S = ext.Similarity
    assert(S.gridFor(2000L) == ((S.tablePlanes, 16)),
      "sf0.1 regime (2k vectors) must stay the gated 12x10/k16 defaults")
    assert(S.gridFor(2000L)._1 eq S.tablePlanes,
      "base grid must be the one literal matrix, not a regenerated copy")
    assert(S.gridFor(20000L) == ((S.tablePlanesWide, 64)),
      "10x-grown regime (20k) is the gated t24p14/k64 step")
    assert(S.gridFor(20000L)._1 eq S.tablePlanesWide)
    // 100x-grown: wide banding, k = sqrt(N) (the prepknob k=450 row's
    // regime — round(sqrt(200000)) = 447).
    val (p100, k100) = S.gridFor(200000L)
    assert((p100 eq S.tablePlanesWide) && k100 == 447,
      s"100x-grown regime must derive (wide, 447), got k=$k100")
    assert(S.gridFor(1000000L)._2 == 1000, "k ~ sqrt(N) tail")
    // r17: past the measured range (200k) the banding step is the
    // occupancy-bounded derivation applied UNPROBED — smallest P with
    // T·N·(N/2^P)/2 ≤ singleHostPairBudget. The derivation is
    // continuous with the measured steps: at 200k it lands exactly on
    // P=14 (29.3M pairs, the measured 106.9 s row), so every ≤200k
    // return stays the one wide matrix BY REFERENCE; past it P grows
    // ~2·log2 N.
    assert(S.gridFor(200000L)._1 eq S.tablePlanesWide,
      "the 200k boundary must still return the byte-stable wide matrix")
    val g400k = S.gridFor(400000L)
    assert(g400k._1.length == 24 && g400k._1(0).length == 16 &&
      g400k._2 == 632,
      s"400k must derive 24x16/k=632, got ${g400k._1.length}x" +
        s"${g400k._1(0).length}/k=${g400k._2}")
    val g2m = S.gridFor(2000000L)
    assert(g2m._1.length == 24 && g2m._1(0).length == 21,
      s"2M must derive 24x21 (the P≈21 occupancy step), got " +
        s"${g2m._1.length}x${g2m._1(0).length}")
    assert(S.gridFor(20000000L)._1(0).length == 27,
      "20M must derive P=27 (~2·log2 N growth)")
    // Derived grids are pure functions of (T, P, seed): the 2M grid is
    // planeGrid(24, 21, 4242) value-for-value, and the budget check
    // holds at the derived P while failing one step below it.
    assert(g2m._1.map(_.map(_.toVector).toVector).toVector ==
      S.planeGrid(24, 21, 4242).map(_.map(_.toVector).toVector).toVector)
    def unprobedVol(n: Long, p: Int): Double =
      24.0 * n * (n.toDouble / (1L << p)) / 2
    assert(unprobedVol(2000000L, 21) <= S.singleHostPairBudget &&
      unprobedVol(2000000L, 20) > S.singleHostPairBudget,
      "2M's derived P must be the SMALLEST in-budget plane count")
    // The probe arm composes past the measured range too: at 400k the
    // derived unprobed step is 24×16, and its 1-bit-probed next step
    // derives 24×21 (the measured bandknob-200 arm).
    assert(S.probeGridFor(400000L)(0).length == 21,
      s"400k probe grid must derive P=21, got " +
        s"${S.probeGridFor(400000L)(0).length}")
    // The probe step: unprobed grids probe as-is while the estimated
    // probed candidate volume fits the measured single-host budget;
    // 200k steps to P=18 — exactly the SCALE.md step the prose named.
    assert(S.probeGridFor(2000L) eq S.tablePlanes)
    assert(S.probeGridFor(20000L) eq S.tablePlanesWide,
      "the gated 10x probe arm runs the unprobed wide grid as-is")
    val probe200k = S.probeGridFor(200000L)
    assert(probe200k.length == 24 && probe200k(0).length == 18,
      s"200k probe grid must step to 24x18, got " +
        s"${probe200k.length}x${probe200k(0).length}")
    // Deterministic: a derived grid is a pure function of its params.
    assert(probe200k.map(_.map(_.toVector).toVector).toVector ==
      S.probeGridFor(200000L).map(_.map(_.toVector).toVector).toVector)
  }

  test("parquet-backed signature state: admitBatch emits pairs and grows the state") {
    val docs = Tables.documents(spark, sf)
    val ids = docs.select("doc_id").collect().map(_.getLong(0)).sorted
    val split = ids(ids.length / 2)
    val statePath = java.nio.file.Files
      .createTempDirectory("graft_sig_state").toString + "/sigs"
    Pipeline.initSigState(spark, docs.filter(col("doc_id") < split), statePath)
    val before = spark.read.parquet(statePath).count()
    val pairs = Pipeline.admitBatch(spark, statePath,
      docs.filter(col("doc_id") >= split)).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // pairs equal the batch operator's restricted to new-touching pairs
    // (the in-memory parity is pinned in ExtensionsSpec; this pins the
    // parquet state round-trip + commit lifecycle)
    val batch = ext.Dedup.xDedupMinhashLsh(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .filter { case (d1, d2) => d1 >= split || d2 >= split }.toSet
    assert(pairs == batch, s"admitBatch pairs diverge: ${(pairs diff batch).take(3)}")
    // the state absorbed the batch: one signature row per document
    assert(Pipeline.readSigState(spark, statePath).count() == docs.count())
    assert(before < docs.count())

    // IDEMPOTENT REPLAY: re-admitting the same batch (same content-derived
    // batch id) must emit the identical pairs and leave the state
    // untouched — no duplicate signatures, no duplicate candidates, ever.
    val stateRows = spark.read.parquet(statePath).count()
    val replay = Pipeline.admitBatch(spark, statePath,
      docs.filter(col("doc_id") >= split)).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(replay == pairs, "replaying an admitted batch changed its pairs")
    assert(spark.read.parquet(statePath).count() == stateRows,
      "replaying an admitted batch grew the state")
    assert(Pipeline.readSigState(spark, statePath).count() == docs.count())

    // CRASH RECOVERY: simulate a failure between the staged write and the
    // atomic rename — staging dir present, batch dir absent. The re-run
    // must clear the stale staging, commit, and emit the same pairs.
    val fs = new org.apache.hadoop.fs.Path(statePath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val batchDir = fs.listStatus(new org.apache.hadoop.fs.Path(statePath))
      .map(_.getPath).find(p => p.getName.startsWith("batch_id=")
        && p.getName != "batch_id=init").get
    val staging = new org.apache.hadoop.fs.Path(statePath,
      "_staging_" + batchDir.getName.stripPrefix("batch_id="))
    fs.rename(batchDir, staging) // rewind the commit: staged, not renamed
    assert(Pipeline.readSigState(spark, statePath).count() == before,
      "partial (uncommitted) batch must be invisible to state reads")
    val recovered = Pipeline.admitBatch(spark, statePath,
      docs.filter(col("doc_id") >= split)).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(recovered == pairs, "recovery run changed the admitted pairs")
    assert(Pipeline.readSigState(spark, statePath).count() == docs.count())
    assert(!fs.exists(staging), "recovery must clear the stale staging dir")
  }

  test("signature state: interleaved-id batches are distinct, empty batches no-op, unsafe ids rejected") {
    val docs = Tables.documents(spark, sf)
    val ids = docs.select("doc_id").collect().map(_.getLong(0)).sorted.take(6)
    val statePath = java.nio.file.Files
      .createTempDirectory("graft_sig_state2").toString + "/sigs"
    Pipeline.initSigState(spark, docs.filter(col("doc_id") === ids(5)), statePath)
    // Two batches with the SAME (min, max, count) but different id sets:
    // {i0,i1,i4} vs {i0,i2,i4}. Before the content digest went into the
    // auto id these collided — the second was misclassified as a replay
    // of the first, its signatures silently never entered state.
    val b1 = docs.filter(col("doc_id").isin(ids(0), ids(1), ids(4)))
    val b2 = docs.filter(col("doc_id").isin(ids(0), ids(2), ids(4)))
    Pipeline.admitBatch(spark, statePath, b1)
    assert(Pipeline.readSigState(spark, statePath).count() == 4)
    Pipeline.admitBatch(spark, statePath, b2)
    assert(Pipeline.readSigState(spark, statePath).count() == 5,
      "interleaved-id batch was misclassified as a replay: its signatures never entered state")
    // Empty batch: zero pairs, no id derivation NPE, nothing committed.
    val stateRows = spark.read.parquet(statePath).count()
    assert(Pipeline.admitBatch(spark, statePath, docs.filter(lit(false))).count() == 0)
    assert(spark.read.parquet(statePath).count() == stateRows)
    // Ids outside [A-Za-z0-9_-]: '%' survives the write but partition
    // discovery URL-unescapes it on read — reject loudly instead.
    intercept[IllegalArgumentException] {
      Pipeline.admitBatch(spark, statePath, b1, batchId = "bad%25id")
    }
    // A leading digit: the one batch-id rule every append shares.
    intercept[IllegalArgumentException] {
      Pipeline.admitBatch(spark, statePath, b1, batchId = "1batch")
    }
  }

  test("plan shapes: fact build broadcasts dims and pushes filters to the scan") {
    val plan = ops.Marts.j2FactBuild(spark, sf).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), "dims must broadcast")
    assert(plan.contains("PushedFilters"), "scan-level pushdown expected")
    assert(!plan.contains("SortMergeJoin"), "fact side must not shuffle for dim joins")
  }

  test("plan sweep: no gated query plans a CartesianProduct or object serde") {
    // Global guard over EVERY SparkEntry query: a CartesianProduct node
    // means a join lost both its condition and its broadcastable side —
    // at 100 TB that's an N² catastrophe, and it can sneak in silently
    // when a join key is mistyped (condition becomes trivially true/
    // false) or a broadcast hint is dropped. BroadcastNestedLoopJoin is
    // allowed: the deliberate tiny-side pattern (10 broadcast queries,
    // 1-row scalars). Object serde (Deserialize/SerializeFromObject
    // around a Dataset.map) breaks WholeStageCodegen and row-encodes
    // every value crossing it — the r8 winnow port removed the last one
    // from a gated path, and this sweep locks that in. The multimodal
    // decoders are the one DOCUMENTED exception: a format decoder is
    // genuine per-partition imperative logic (no Expression fits), so
    // their mapPartitions serde is the correct tool, not a regression.
    // NOTE: the final plans are inspected without executing them, but
    // CONSTRUCTING the PQ/IVF/BPE DataFrames runs real Spark jobs
    // (Lloyd/codebook driver collects, per-round BPE pair counts), so
    // this sweep costs real work per gated query — budget accordingly
    // when adding expensive gated queries.
    val serdeExempt = ext.Multimodal.queries.keySet
    val serdeNodes = Seq("CartesianProduct", "DeserializeToObject",
      "SerializeFromObject", "MapPartitions", "MapElements")
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        val plan = fn(spark, sf).queryExecution.executedPlan.toString
        val bad = serdeNodes.filter(plan.contains)
          .filterNot(n => n != "CartesianProduct" && serdeExempt(name))
        if (bad.nonEmpty) Some(s"$name(${bad.mkString("+")})") else None
    }
    assert(offenders.isEmpty,
      s"forbidden plan nodes in: ${offenders.mkString(", ")}")
  }

  test("plan shapes: the kroger fact build broadcasts both dims") {
    val plan = ops.KrogerTpch.xKrogerMartDemo(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), "dims must broadcast")
    assert(!plan.contains("SortMergeJoin"),
      "the price fact must not shuffle for its dim joins")
  }

  test("date-partitioned fact: date-window scan prunes partitions") {
    val out = java.nio.file.Files.createTempDirectory("graft_part").toString
    Pipeline.materializeFactPartitioned(spark, sf, out)
    val path = s"$out/fact_prices_p"
    val win = Pipeline.factDateWindow(spark, path, "1995-03-01", "1995-04-30")
    val scan = win.queryExecution.executedPlan.collectLeaves().collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.getOrElse(fail("expected a FileSourceScanExec leaf"))
    val pf = scan.partitionFilters.map(_.sql).mkString(", ")
    assert(pf.contains("p_date"), s"expected p_date partition filters, got: $pf")
    // Only the two matching month directories are read, out of the ~80 written.
    val written = new java.io.File(path).listFiles()
      .count(f => f.isDirectory && f.getName.startsWith("p_date="))
    assert(written > 10, s"expected many month partitions on disk, got $written")
    val touched = scan.selectedPartitions.partitionCount
    assert(touched == 2,
      s"expected exactly 2 pruned partitions of $written, got $touched")
    // And pruning loses no rows vs the unpartitioned row-level filter.
    val expected = ops.Marts.factBuild(spark, sf)
      .filter(col("effective_date").between("1995-03-01", "1995-04-30")).count()
    assert(win.count() == expected)
  }

  test("training corpus materializes split-partitioned and agrees with the rollup") {
    val out = java.nio.file.Files.createTempDirectory("graft_corpus").toString
    val counts = Pipeline.materializeTrainingCorpus(spark, sf, out)
    val path = s"$out/training_corpus"
    val splits = new java.io.File(path).listFiles()
      .filter(_.isDirectory).map(_.getName).sorted
    assert(splits.sameElements(Array("split=test", "split=train", "split=val")),
      s"expected 3 split dirs, got ${splits.mkString(",")}")
    // reading one split must prune the other two directories
    val train = spark.read.parquet(path).filter(col("split") === "train")
    val scan = train.queryExecution.executedPlan.collectLeaves().collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.getOrElse(fail("expected a FileSourceScanExec leaf"))
    assert(scan.selectedPartitions.partitionCount == 1,
      "train-only read must touch exactly one partition")
    // and the materialized per-doc rows roll up to the gated query
    val fromRollup = ext.CorpusPrep.xLlmCorpusPrep(spark, sf)
      .agg(sum(col("n_docs"))).head.getLong(0)
    assert(spark.read.parquet(path).count() == fromRollup)
    assert(counts == Map("training_corpus" -> fromRollup),
      s"returned counts $counts, read back $fromRollup rows")
  }

  test("vector corpus materializes partitioned and agrees with the gated operators") {
    val out = java.nio.file.Files.createTempDirectory("graft_veccorpus").toString
    val counts = Pipeline.materializeVectorCorpus(spark, sf, out)
    val (cv, vs) = (s"$out/clean_vectors", s"$out/vector_scores")
    assert(counts == Map("clean_vectors" -> spark.read.parquet(cv).count(),
      "vector_scores" -> spark.read.parquet(vs).count()),
      s"returned counts $counts vs the read-back")
    // Rebuild parity: the partitioned artifact is exactly the gated
    // keep-central corpus (ids + labels), every row carrying its
    // embedding back from the source relation.
    val art = spark.read.parquet(cv)
    val gated = ext.Similarity.xDedupEmbCorpusCentral(spark, sf)
    assert(art.count() == gated.count())
    assert(art.select("vec_id").exceptAll(gated.select("vec_id")).count() == 0)
    assert(art.filter(col("embedding").isNull).count() == 0,
      "corpus artifact must carry the vectors")
    val labelDirs = new java.io.File(cv).listFiles()
      .count(f => f.isDirectory && f.getName.startsWith("label="))
    assert(labelDirs > 1, s"expected label partitions, got $labelDirs")
    // Scores artifact == the gated prototype cut, and the common read
    // (selected prototypes only) prunes to a single partition.
    // (partition columns read back as ints via directory-name inference)
    val scores = spark.read.parquet(vs)
      .select(col("vec_id"), col("score_e9"), col("selected").cast("long"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val gatedScores = ext.Similarity.xGraphPagerankSelect(spark, sf).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("score_e9"),
        r.getAs[Long]("selected"))).toSet
    assert(scores == gatedScores, "scores artifact diverged from the gated cut")
    val sel = spark.read.parquet(vs).filter(col("selected") === 1)
    val scan = sel.queryExecution.executedPlan.collectLeaves().collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.getOrElse(fail("expected a FileSourceScanExec leaf"))
    assert(scan.selectedPartitions.partitionCount == 1,
      "selected-only read must touch exactly one partition")
  }

  test("collapse-first sweep: every similarity-blocked gated query is clean-composed or a declared dirty baseline") {
    import spark.implicits._
    import org.apache.spark.sql.types.LongType
    // The CLAUDE.md composition invariant as a failing test: identical-
    // replica concentration defeats every similarity blocking (SCALE.md
    // measured the base kNN graph at 392.6x under 100x replication), so
    // every similarity-blocked gated query must either consume
    // Dedup.embExactKeepers upstream (replica ids can then never appear
    // in its output) or be EXPLICITLY declared a dirty baseline here.
    // A new embedding-family gated query lands in the strict set by
    // default: if it reads the raw relation, the planted replicas leak
    // into its output and this sweep fails until the author either
    // composes it over keepers or declares it below with a reason.
    val registry = ext.Similarity.queries.keySet ++
      ext.Dedup.queries.keySet.filter(_.startsWith("x_dedup_emb"))
    val collapseStage = Set("x_dedup_emb_exact")
    val dirtyBaselines: Map[String, String] = Map(
      // verdict operators over the raw relation — the measured cliff
      // rows their _clean / admission-guard twins exist to retire
      "x_dedup_emb_cosine" -> "label-blocked exact pair baseline",
      "x_dedup_emb_cosine_lsh" -> "banded baseline (199.8x at 100x replication)",
      "x_dedup_emb_cosine_lsh_admit" -> "admission over the raw banded index",
      "x_dedup_semantic" -> "within-cell baseline (replicas share a cell)",
      "x_dedup_semantic_k64" -> "density-knob arm of the same baseline",
      "x_dedup_semantic_k64r3" -> "multi-round arm of the same baseline",
      "x_dedup_semantic_admit" -> "admission over raw cells",
      "x_knn_graph" -> "graph-build baseline (392.6x at 100x replication)",
      "x_knn_graph_k64" -> "density-knob arm of the same baseline",
      "x_knn_graph_admit" -> "admission over the raw inverted list",
      "x_knn_density_select" -> "rides the base graph chain by definition",
      "x_graph_pagerank" -> "centrality over the base graph (10x-only probe arm)",
      "x_graph_pagerank_r6" -> "depth arm of the same base chain",
      // label-blocked front-end prep baselines (the pre-r9 composition,
      // kept gated as the head-to-head rows)
      "x_emb_corpus_prep" -> "label-blocked dedup front-end baseline",
      "x_emb_corpus_prep_sem" -> "same front-end + SemDeDup stage",
      "x_emb_corpus_prep_sem_k64" -> "density-knob arm of the same",
      // search/utility queries answer over the corpus AS GIVEN — dedup
      // is upstream staging, not part of a query's contract
      "x_knn_bruteforce" -> "exact search over the given corpus",
      "x_ann_lsh" -> "ANN search", "x_ann_ivf" -> "ANN search",
      "x_ann_ivf_k8r2" -> "ANN search", "x_ann_ivf_seedh" -> "ANN search",
      "x_ann_ivf_admit" -> "ANN index admission",
      "x_ann_pq" -> "ANN search", "x_ann_pq_r2" -> "ANN search",
      "x_ann_pq_seedh" -> "ANN search", "x_ann_pq_admit" -> "PQ admission",
      "x_ann_ivfpq" -> "ANN search", "x_ann_ivfadc" -> "ANN search",
      "x_ann_sq8" -> "ANN search", "x_ann_ivfsq8" -> "ANN search",
      "x_ann_ivfadc_admit" -> "IVFADC admission",
      "x_diversity_sample" -> "md5 cap utility, no pair join",
      "x_emb_quantize" -> "narrow per-row map, no pair join",
      "x_emb_rp_reduce" -> "narrow per-row map (JL projection), no pair join",
      "x_ann_rp" -> "ANN search (reduced space)",
      "x_emb_manifest" -> ("data card over the corpus AS GIVEN — the " +
        "duplication level (n_vecs vs n_distinct_vecs) is part of what " +
        "it reports, so it must see the raw relation; no pair join"))
    val cleanComposed = registry -- collapseStage -- dirtyBaselines.keySet
    assert(dirtyBaselines.keySet.subsetOf(registry),
      s"declared dirty baselines not in the registry: ${dirtyBaselines.keySet -- registry}")
    // Plant 5 bit-identical replicas of vector 0 at high ids.
    val base = spark.read.parquet(s"$sf/embeddings.parquet")
    val v = base.filter(col("vec_id") === 0)
      .select("embedding").head.getSeq[Float](0)
    val replicaIds = (1 to 5).map(i => 9500000L + i)
    val planted = replicaIds.map(id => (id, v.toArray, 7))
      .toDF("vec_id", "embedding", "label")
    val tmp = java.nio.file.Files.createTempDirectory("collapse_sweep").toString
    base.unionByName(planted).write.mode("overwrite")
      .parquet(s"$tmp/embeddings.parquet")
    // The GROWN arm (r14): the same replicas planted into a corpus that
    // ALSO carries distinct-content growth (hash-perturbed synthetic
    // vectors at high ids — the buildGrownDir construction at spec
    // scale, perturbation norm ≈ the base norm so nothing synthetic is
    // a near-dup). The concentration guard must hold under BOTH
    // regimes: growth fills cells/buckets with DISTINCT occupants, a
    // different path to the same pair joins.
    val grownTmp = java.nio.file.Files.createTempDirectory("collapse_grown").toString
    val synth = base.withColumn("vec_id", col("vec_id") + 8000000L)
      .withColumn("embedding", expr(
        """transform(embedding, (x, i) -> CAST(
          |  CAST(x AS DOUBLE)
          |  + (pmod(xxhash64(11L, vec_id, CAST(i AS BIGINT)), 301L) - 150.0) / 500.0
          |  AS FLOAT))""".stripMargin))
    base.unionByName(synth).unionByName(planted).write.mode("overwrite")
      .parquet(s"$grownTmp/embeddings.parquet")
    val rep = replicaIds.toSet
    // Strict half: no replica id may appear in ANY long column of a
    // clean-composed query's output — the exact collapse upstream is
    // the only way to guarantee that. Run against both regimes.
    def runStrict(dir: String, regime: String): Unit =
      cleanComposed.toSeq.sorted.foreach { name =>
        val df = SparkEntry.queries(name)(spark, dir)
        val longIdx = df.schema.fields.zipWithIndex
          .collect { case (f, i) if f.dataType == LongType => i }
        val leaked = df.collect().filter(r =>
          longIdx.exists(i => !r.isNullAt(i) && rep(r.getLong(i))))
        assert(leaked.isEmpty,
          s"$name is not collapse-first ($regime regime): replica ids " +
            s"reached its output (${leaked.take(2).mkString("; ")}) — " +
            "compose it over Dedup.embExactKeepers or declare it a dirty baseline")
        // NO global clearCache here (r14): the session is SHARED across
        // concurrently-running suites (GraftTest + testForkedParallel),
        // and a global cache clear races a sibling suite's in-flight
        // query over its own persisted subtrees (observed as a one-off
        // empty collect in the determinism spec). Per-query persisted
        // subtrees at sf0.001 are tiny; the 8g test heap absorbs them.
      }
    runStrict(tmp, "replication")
    runStrict(grownTmp, "grown")
    // The collapse stage itself: replicas present, but ONLY as is_dup=1
    // verdicts pointing at the stock keeper.
    val verdicts = ext.Dedup.xDedupEmbExact(spark, tmp).collect()
      .map(r => r.getAs[Long]("vec_id") ->
        ((r.getAs[Long]("keeper_id"), r.getAs[Long]("is_dup")))).toMap
    replicaIds.foreach(id => assert(verdicts(id) == ((0L, 1L)),
      s"collapse verdict wrong for replica $id: ${verdicts(id)}"))
    // And the dirty list is not decorative: a declared baseline really
    // does leak replicas on this corpus (why the classification exists).
    val g = SparkEntry.queries("x_knn_graph")(spark, tmp).collect()
    assert(g.exists(r => rep(r.getAs[Long]("vec_id")) ||
      rep(r.getAs[Long]("nn_id"))),
      "fixture broke: the base graph no longer sees planted replicas")
  }

  test("approx stats stay within documented error bounds") {
    val rows = ext.Approx.xApproxStats(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val exactD = r.getAs[Long]("exact_distinct").toDouble
      val approxD = r.getAs[Long]("approx_distinct").toDouble
      assert(math.abs(approxD - exactD) / exactD < 0.1,
        s"HLL error too large: $exactD vs $approxD")
      val exactM = r.getAs[Double]("exact_median")
      val approxM = r.getAs[Double]("approx_median")
      assert(math.abs(approxM - exactM) / exactM < 0.05,
        s"approx median error too large: $exactM vs $approxM")
    }
  }
}
