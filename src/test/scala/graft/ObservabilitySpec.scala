package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Specs for the dq gate, the stamped artifact shelf, plan-shape
  * guards, and the observability column (audits, diffs, drift, data
  * cards, the deployed attribution arm) (split from ExtensionsSpec in
  * r14; fixtures shared via GraftTest).
  */
class ObservabilitySpec extends AnyFunSuite {
  private val sf = GraftTest.sf
  lazy val spark: SparkSession = GraftTest.spark
  lazy val shelfDir: String = GraftTest.shelf._1
  lazy val shelfCounts: Map[String, Long] = GraftTest.shelf._2
  // ONE verdict-relation build shared by the parity and skew tests
  // (the chains behind materializePrepVerdicts are the suite's
  // heaviest fixture; suite-local, so no cross-suite mutable state).
  private lazy val verdDir: String = Pipeline.materializePrepVerdicts(
    spark, sf, java.nio.file.Files.createTempDirectory("verd").toString)

  test("dq gate: violations surface exactly once, clean rows pass, replay emits nothing") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[streaming.StreamOps.DqRow]
    val query = streaming.StreamOps.dqGate(input.toDS())
      .writeStream.format("memory").queryName("dq_out")
      .outputMode("append").start()
    // Batch 1: two clean keys, one null key, one same-batch duplicate.
    input.addData(
      streaming.StreamOps.DqRow(1L, Some(10L)),
      streaming.StreamOps.DqRow(2L, Some(20L)),
      streaming.StreamOps.DqRow(3L, None),
      streaming.StreamOps.DqRow(4L, Some(10L)))
    query.processAllAvailable()
    // Batch 2: a cross-batch duplicate + a replay of batch 1 (at-least-
    // once upstream) — the replay must emit NOTHING.
    input.addData(
      streaming.StreamOps.DqRow(5L, Some(20L)),
      streaming.StreamOps.DqRow(1L, Some(10L)),
      streaming.StreamOps.DqRow(3L, None),
      streaming.StreamOps.DqRow(4L, Some(10L)))
    query.processAllAvailable()
    val out = spark.sql("SELECT row_id, check, keeper_id FROM dq_out")
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2)))
    query.stop()
    assert(out.length == out.map(_._1).distinct.length,
      s"a verdict surfaced twice: ${out.mkString(";")}")
    val m = out.toMap
    assert(m(1L) == ("ok", 1L) && m(2L) == ("ok", 2L),
      s"clean rows must pass as keepers: $m")
    assert(m(3L)._1 == "not_null", s"null key must flag not_null: $m")
    assert(m(4L) == ("unique", 1L) && m(5L) == ("unique", 2L),
      s"duplicates must flag against their keepers: $m")
    // Batch parity: the distinct violated keys match the dbt-style
    // batch counts on the same data.
    val batchRows = Seq((1L, Option(10L)), (2L, Option(20L)), (3L, Option.empty[Long]),
      (4L, Option(10L)), (5L, Option(20L)))
      .toDF("row_id", "key")
    val uniqueViolatedKeys = batchRows.filter(col("key").isNotNull)
      .groupBy("key").count().filter(col("count") > 1).count()
    assert(out.count(_._2._1 == "unique").toLong >= uniqueViolatedKeys,
      "every batch-violated key must surface at least one unique verdict")
    assert(out.count(_._2._1 == "not_null").toLong ==
      batchRows.filter(col("key").isNull).count(),
      "not_null verdicts must match the batch violation count")
  }

  test("streaming keep-best admission matches the batch gate and is replay-idempotent") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // Frozen state from the batch builder (the one state, two
    // surfaces rule), new-half docs streamed in two micro-batches,
    // then the whole stream REPLAYED: rows must equal the batch
    // admission gate's, and the replay must add nothing.
    val (half, idx, keepers) = ext.Dedup.keepBestAdmitState(spark, sf)
    val frozenIdx = idx.localCheckpoint()
    val frozenKeepers = keepers.localCheckpoint()
    val newDocs = Tables.documents(spark, sf)
      .filter(col("doc_id") >= half)
      .select("doc_id", "text").collect()
      .map(r => streaming.StreamOps.DocIn(r.getLong(0),
        new java.sql.Timestamp(0L), r.getString(1)))
      .sortBy(_.doc_id)
    val (b1, b2) = newDocs.splitAt(newDocs.length / 2)
    val input = MemoryStream[streaming.StreamOps.DocIn]
    val query = streaming.StreamOps
      .admitDocsKeepBest(input.toDS(), frozenIdx, frozenKeepers)
      .writeStream.format("memory").queryName("kb_admit_out")
      .outputMode("append").start()
    input.addData(b1.toSeq)
    query.processAllAvailable()
    input.addData(b2.toSeq)
    query.processAllAvailable()
    val afterOnce = spark.sql("SELECT count(*) FROM kb_admit_out")
      .head.getLong(0)
    input.addData(newDocs.toSeq) // at-least-once replay
    query.processAllAvailable()
    val streamed = spark.sql(
      """SELECT doc_id, cluster_id, quality_score, keeper_id,
        |  keeper_quality, kept FROM kb_admit_out""".stripMargin)
      .collect().map(r => r.getLong(0) -> r.toSeq.toVector).toMap
    query.stop()
    assert(afterOnce == newDocs.length.toLong,
      s"expected one verdict per doc, got $afterOnce/${newDocs.length}")
    assert(streamed.size == newDocs.length,
      s"replay added rows: ${streamed.size} vs ${newDocs.length}")
    val batch = ext.Dedup.xDedupKeepBestAdmit(spark, sf)
      .collect().map(r => r.getLong(0) -> r.toSeq.toVector).toMap
    assert(streamed == batch,
      "streaming keep-best admission diverged from the batch gate: " +
        s"stream-only=${(streamed.toSet -- batch.toSet).take(3)} " +
        s"batch-only=${(batch.toSet -- streamed.toSet).take(3)}")
  }

  test("frozen-artifact shelf materializes every ingest-gate state non-empty") {
    // The production contract the admission scaladocs cite, made
    // concrete: one Pipeline stage writes ALL the train-once states
    // (merge lists, indexes, cut tables, centroids/codebooks, split
    // ids) as versioned parquet. The gate semantics are pinned by each
    // gate's own parity spec; this spec pins that the shelf is
    // complete, readable, and non-degenerate.
    val tmp = shelfDir
    val counts = shelfCounts
    val expected = Set("art_bpe_merges", "art_keepbest_index",
      "art_keepbest_keepers", "art_winnow_admit_index",
      "art_span_admit_index", "art_span_members", "art_span_verdicts",
      "art_boilerplate_hub_index",
      "art_mix_cuts", "art_sample_rates",
      "art_contamination_eval_index", "art_ivf_centroids",
      "art_pq_codebooks", "art_dsir_ratios", "art_dsir_consts",
      "art_nb_classes", "art_nb_terms", "art_corpus_v1_members",
      "art_corpus_v2_members", "art_serve_centroids",
      "art_serve_inverted", "art_splits", "art_build_stamp")
    assert(counts.keySet == expected,
      s"shelf incomplete: missing=${expected -- counts.keySet} " +
        s"extra=${counts.keySet -- expected}")
    counts.foreach { case (k, n) => assert(n > 0, s"$k is empty") }
    assert(counts("art_dsir_consts") == 1L)
    assert(counts("art_splits") == 6L)
    // One stamp row per (non-stamp) artifact — the skew guard's ledger.
    assert(counts("art_build_stamp") == 22L)
    // IVF: 16 cells × 64 dims; PQ: 8 subspaces × 16 cells × 8 dims.
    assert(counts("art_ivf_centroids") == 16L * 64L)
    assert(counts("art_pq_codebooks") == 8L * 16L * 8L)
    // Serving index (r15): full-corpus quantizer + one inverted-list
    // row per corpus vector.
    assert(counts("art_serve_centroids") == 16L * 64L)
    assert(counts("art_serve_inverted") ==
      spark.read.parquet(s"$sf/embeddings.parquet").count())
    // Spot roundtrip: the persisted keepers relation is the state
    // builder's, row for row.
    val persisted = spark.read.parquet(s"$tmp/art_keepbest_keepers")
      .collect().map(_.toSeq.toVector).toSet
    val live = ext.Dedup.keepBestAdmitState(spark, sf)._3
      .collect().map(_.toSeq.toVector).toSet
    assert(persisted == live, "persisted keepers diverge from the builder")

    // The CONSUMING half: ArtifactShelf's typed readers rebuild every
    // Scala-value state BITWISE in the exact shapes the gates take —
    // ship → load → gate, no trainer in the loop. Doubles compared by
    // raw bits (parquet binary64 round-trips exactly; this pins it).
    def bits(d: Double): Long = java.lang.Double.doubleToRawLongBits(d)
    val (bpeHalf, liveMerges) = ext.TextAnalysis.admitMergeList(
      Tables.documents(spark, sf))
    assert(ArtifactShelf.bpeMerges(spark, tmp) == liveMerges,
      "loaded merge list diverges from the trainer's")
    val (knnSplit, liveCents, _) = ext.Similarity.knnAdmitState(spark, sf)
    val loadedCents = ArtifactShelf.ivfCentroids(spark, tmp)
    assert(loadedCents.map(_.map(bits).toVector).toVector ==
      liveCents.map(_.map(bits).toVector).toVector,
      "loaded IVF centroids diverge bitwise")
    val (pqSplit, liveCbs) = ext.Similarity.pqAdmitState(spark, sf)
    val loadedCbs = ArtifactShelf.pqCodebooks(spark, tmp)
    assert(loadedCbs.map(_.map(_.map(bits).toVector).toVector).toVector ==
      liveCbs.map(_.map(_.map(bits).toVector).toVector).toVector,
      "loaded PQ codebooks diverge bitwise")
    val (liveRatios, liveUnseen, liveCutW, liveCutId) =
      ext.Selection.dsirFrozen(spark, sf)
    assert(ArtifactShelf.dsirRatios(spark, tmp).view
      .mapValues(bits).toMap == liveRatios.view.mapValues(bits).toMap,
      "loaded DSIR ratios diverge bitwise")
    assert(ArtifactShelf.dsirConsts(spark, tmp) match {
      case (u, w, i) => bits(u) == bits(liveUnseen) &&
        bits(w) == bits(liveCutW) && i == liveCutId
    }, "loaded DSIR consts diverge bitwise")
    val liveNb = ext.Selection.nbFrozen(spark, sf)
    val loadedNb = ArtifactShelf.nbState(spark, tmp)
    assert(loadedNb.map { case (c, p, d, t) =>
      (c, bits(p), bits(d), t.view.mapValues(bits).toMap) } ==
      liveNb.map { case (c, p, d, t) =>
        (c, bits(p), bits(d), t.view.mapValues(bits).toMap) },
      "loaded NB state diverges bitwise")
    assert(ArtifactShelf.splits(spark, tmp) == Map(
      "bpe_admit" -> bpeHalf, "keepbest_admit" ->
        ext.Dedup.keepBestAdmitState(spark, sf)._1,
      "winnow_admit" -> ext.TextAnalysis.winnowAdmitState(spark, sf)._1,
      "span_admit" -> ext.Dedup.spanAdmitState(spark, sf)._1,
      "knn_admit" -> knnSplit, "pq_admit" -> pqSplit),
      "loaded split ids diverge")
    // One end-to-end gate from loaded state: the frozen-codebook PQ
    // encode emits code-for-code what the trainer-built state emits.
    val e = Tables.embeddings(spark, sf)
    val fromShelf = ext.Similarity.pqEncode(e, loadedCbs)
      .collect().map(_.toSeq.toVector).toSet
    val fromTrainer = ext.Similarity.pqEncode(e, liveCbs)
      .collect().map(_.toSeq.toVector).toSet
    assert(fromShelf == fromTrainer,
      "shelf-loaded PQ gate diverges from the trainer-built gate")
  }

  test("a version-skewed shelf fails loudly at load, in two different gates' states") {
    // The skew guard's negative test: a shelf whose `art_splits`
    // half-point was regenerated against different index artifacts (a
    // partial rebuild) — and one whose `art_ivf_centroids` was — must
    // fail at LOAD with the version-skew message, not silently feed a
    // gate wrong admissions. Built as symlink copies of the shared
    // shelf with exactly one artifact regenerated, so the stamp is the
    // original build's and the tampered artifact no longer matches it.
    import java.nio.file.{Files, Paths}
    def skewCopy(tamper: String)(rewrite: String => Unit): String = {
      val dir = Files.createTempDirectory(s"shelf_skew_$tamper").toString
      new java.io.File(shelfDir).listFiles().foreach { f =>
        if (f.getName != tamper)
          Files.createSymbolicLink(Paths.get(dir, f.getName), f.toPath)
      }
      rewrite(dir)
      dir
    }
    // Gate 1: the doc-side admission splits (the composed ingest gate's
    // half-point) moved by one doc.
    val skewSplits = skewCopy("art_splits") { dir =>
      spark.read.parquet(s"$shelfDir/art_splits")
        .withColumn("split_id",
          when(col("gate") === "span_admit", col("split_id") + 1L)
            .otherwise(col("split_id")))
        .write.parquet(s"$dir/art_splits")
    }
    val e1 = intercept[IllegalArgumentException] {
      ArtifactShelf.splits(spark, skewSplits)
    }
    assert(e1.getMessage.contains("version skew"), e1.getMessage)
    // Gate 2: the vector-side frozen quantizer, one centroid coordinate
    // perturbed (same shape, different content — the fingerprint, not
    // the count, must catch it).
    val skewCents = skewCopy("art_ivf_centroids") { dir =>
      spark.read.parquet(s"$shelfDir/art_ivf_centroids")
        .withColumn("value",
          when(col("cell") === 0L && col("pos") === 0L, col("value") + 1.0)
            .otherwise(col("value")))
        .write.parquet(s"$dir/art_ivf_centroids")
    }
    val e2 = intercept[IllegalArgumentException] {
      ArtifactShelf.ivfCentroids(spark, skewCents)
    }
    assert(e2.getMessage.contains("version skew"), e2.getMessage)
    // Control: an untampered symlink copy loads clean through the
    // same guard (the stamp travels with the copy).
    val clean = skewCopy("__none__")(_ => ())
    assert(ArtifactShelf.splits(spark, clean) ==
      ArtifactShelf.splits(spark, shelfDir))
  }

  test("per-gate shelf refresh repairs a skewed artifact and restamps only what it touched") {
    // The skew guard's positive counterpart: refreshShelfGroup is the
    // sanctioned partial rebuild — group artifacts and their art_splits
    // rows move together and get restamped; everything else's stamp
    // rows survive untouched. Start from a REAL copy of the shared
    // shelf with art_mix_cuts corrupted (loads must fail), refresh the
    // mix group (loads must pass and equal the trainer), then refresh a
    // split-bearing group and require the whole shelf still loads.
    import java.nio.file.{Files, Path, Paths}
    val dir = GraftTest.copyShelf("shelf_refresh")
    spark.read.parquet(s"$shelfDir/art_mix_cuts")
      .withColumn("cut_bucket", col("cut_bucket") + 1L)
      .write.mode("overwrite").parquet(s"$dir/art_mix_cuts")
    val e = intercept[IllegalArgumentException] {
      ArtifactShelf.table(spark, dir, "art_mix_cuts")
    }
    assert(e.getMessage.contains("version skew"), e.getMessage)
    val refreshed = Pipeline.refreshShelfGroup(spark, sf, dir, "mix")
    assert(refreshed.keySet == Set("art_mix_cuts"))
    val repaired = ArtifactShelf.table(spark, dir, "art_mix_cuts")
      .collect().map(_.toSeq.toVector).toSet
    val trainer = ext.TextAnalysis
      .mixCuts(ext.TextAnalysis.wsMixToks(spark, sf))
      .collect().map(_.toSeq.toVector).toSet
    assert(repaired == trainer,
      "refreshed mix cuts diverge from the trainer's")
    // A split-bearing group: index AND art_splits move together, both
    // restamped; the untouched artifacts' stamps survive.
    Pipeline.refreshShelfGroup(spark, sf, dir, "span")
    assert(ArtifactShelf.splits(spark, dir) ==
      ArtifactShelf.splits(spark, shelfDir),
      "same-corpus refresh must reproduce the split ids")
    assert(ArtifactShelf.table(spark, dir, "art_span_admit_index").count()
      == ArtifactShelf.table(spark, shelfDir, "art_span_admit_index").count())
    assert(ArtifactShelf.table(spark, dir, "art_nb_terms").count() > 0,
      "untouched artifact must still load through the guard")
    // The serve group (r15): a refresh rebuilds BOTH index relations
    // together (centroids + inverted list — the skew the stamp guards
    // against is exactly a list regenerated against older centroids),
    // and the reloaded state reproduces the live trainer bitwise.
    val refreshedServe = Pipeline.refreshShelfGroup(spark, sf, dir, "serve")
    assert(refreshedServe.keySet ==
      Set("art_serve_centroids", "art_serve_inverted"))
    val (artCents, artInv) =
      ext.Similarity.annServeStateFromArtifacts(spark, dir)
    val (liveCents, liveInv) = ext.Similarity.annServeStateSq8(spark, sf)
    assert(artCents.map(_.toSeq).toSeq == liveCents.map(_.toSeq).toSeq,
      "refreshed serve centroids diverge from the trainer's")
    // Content, not count (the r15 ADVICE low): a refreshed list whose
    // cc/v2 columns desynced from the trainer's would pass a row-count
    // check — compare the refreshed relation row-for-row against the
    // live annServeStateSq8 construction, mirroring the centroid check.
    val artRows = artInv.collect().map(_.toSeq.toVector).toSet
    val liveRows = liveInv.collect().map(_.toSeq.toVector).toSet
    assert(artRows == liveRows,
      "refreshed inverted-list content diverges from the trainer's: " +
        s"art-only=${(artRows -- liveRows).take(2)} " +
        s"live-only=${(liveRows -- artRows).take(2)}")
  }

  test("NB and DSIR plans carry at most the single Nth-cutoff nested-loop join") {
    // The r10 audit's BNLJ:6 cluster: five scalar crossJoins more than
    // needed. The class metadata now rides one exploded literal and
    // the scalars ride as literals — NB has zero nested-loop joins,
    // DSIR keeps exactly the Nth-(weight, id) cutoff broadcast.
    def bnlj(name: String): Int = {
      val df = SparkEntry.queries(name)(spark, sf)
      df.count()
      "BroadcastNestedLoopJoin".r
        .findAllIn(df.queryExecution.executedPlan.toString).size
    }
    val nb = bnlj("x_text_nb_class")
    assert(nb == 0, s"x_text_nb_class plan has $nb nested-loop joins, want 0")
    val ds = bnlj("x_dsir_select")
    assert(ds <= 1, s"x_dsir_select plan has $ds nested-loop joins, want <= 1")
  }

  test("prep audit attributes every raw doc once and its kept row IS the screen survivors") {
    // The audit's contract: a PARTITION of the raw pool (each doc
    // lands in exactly one stage), whose terminal 'kept' class equals
    // the screen arm's survivor set doc-for-doc — the "every drop
    // traces to exactly one gated operator" claim, checked as set
    // algebra instead of prose.
    val per = ext.CorpusPrep.auditCorpus(spark, sf)
      .select("doc_id", "stage_ord").collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    val total = Tables.documents(spark, sf).count()
    assert(per.length.toLong == total,
      s"audit covers ${per.length} of $total docs")
    assert(per.map(_._1).distinct.length == per.length,
      "a doc carries more than one attribution row")
    val kept = per.filter(_._2 == 9L).map(_._1).toSet
    val survivors = ext.CorpusPrep.screenedCorpus(spark, sf)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == survivors,
      s"audit 'kept' diverges from the screen survivors: " +
        s"only-audit=${(kept -- survivors).take(5)} " +
        s"only-screen=${(survivors -- kept).take(5)}")
    val rollup = ext.CorpusPrep.xLlmCorpusPrepAudit(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    val recount = per.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    assert(rollup == recount, s"funnel rollup $rollup != per-doc $recount")
  }

  test("corpus diff pins the policy upgrade: argmax rescued as 'added', id-accident keeper 'removed'") {
    import spark.implicits._
    // A planted 4-doc corpus where v1 (flagship min-id retention) and
    // v2 (production keep-best + winnow + DSIR) disagree in BOTH
    // directions: C = X ++ Y is the bag-similarity BRIDGE between
    // A = X + 3-token overlap (near-dups C at Jaccard ~0.505) and
    // B = 3-token overlap + Y (~0.5075) — A and B share only the
    // 6-token seam (J ~0.02, and far below the winnow pair bar), so
    // the cluster {A, B, C} forms only through the closure. Qualities:
    // B (no stopwords) = 1.0 > C (one appended 'the') ~0.995 > A (one
    // appended 'the') ~0.990. v1 keeps min-id A; v2's keep-best keeps
    // argmax B, the winnow stage drops only C (both its pairs have a
    // lower-id partner), DSIR selects everything (4 docs < selectN) —
    // so the diff must read: A removed, B ADDED (the doc the id
    // accident sacrificed, rescued by the policy upgrade), C absent
    // (dropped in both), D (an untouched singleton) unchanged.
    val xs = (1 to 97).map(i => s"qdifx${i}w")
    val ys = (1 to 97).map(i => s"qdify${i}w")
    val X = (xs.take(47) ++ Seq("der", "und", "das") ++ xs.drop(47))
    val Y = (ys.take(47) ++ Seq("el", "los", "las") ++ ys.drop(47))
    val aTxt = (X ++ Y.take(3) ++ Seq("the")).mkString(" ")
    val bTxt = (X.takeRight(3) ++ Y).mkString(" ")
    val cTxt = (X ++ Y ++ Seq("the")).mkString(" ")
    val dTxt = ((1 to 47).map(i => s"qdifd${i}w") ++
      Seq("der", "und", "das")).mkString(" ")
    val tmp = java.nio.file.Files.createTempDirectory("corpusdiff").toString
    Seq((9000001L, aTxt, "de", "srcx", aTxt.length.toLong),
        (9000002L, bTxt, "es", "srcx", bTxt.length.toLong),
        (9000003L, cTxt, "de", "srcx", cTxt.length.toLong),
        (9000004L, dTxt, "de", "srcx", dTxt.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val diff = ext.CorpusPrep.xCorpusDiff(spark, tmp).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(diff == Map(9000001L -> "removed", 9000002L -> "added",
      9000004L -> "unchanged"),
      s"diff verdicts: $diff")
  }

  test("content diff pins all three arms: span-modified, majority-removed, untouched") {
    import spark.implicits._
    // The diff family's transform member on a planted 3-doc corpus:
    // M = S ++ T ++ S (96 tokens, 3 spans, the repeated S's second
    // occurrence removed — kept but MODIFIED, 2·1 ≤ 3), R = S' ×3
    // (2 of 3 spans removed — majority-duplicated, REMOVED), U unique
    // (UNCHANGED). Markers ride inside the spans so every doc passes
    // the prep's language gate; all tokens are corpus-unique so no
    // cross-doc stage fires.
    def toks(p: String, n: Int): Seq[String] =
      (1 to n).map(i => s"$p${i}w")
    val S = toks("qcdm", 29) ++ Seq("der", "und", "das")
    val T = toks("qcdt", 32)
    val Sp = toks("qcdr", 29) ++ Seq("der", "und", "das")
    val U = toks("qcdu", 47) ++ Seq("der", "und", "das")
    val tmp = java.nio.file.Files.createTempDirectory("contentdiff").toString
    Seq((9100001L, (S ++ T ++ S).mkString(" "), "de", "srcx", 1L),
        (9100002L, U.mkString(" "), "de", "srcx", 1L),
        (9100003L, (Sp ++ Sp ++ Sp).mkString(" "), "de", "srcx", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val out = ext.CorpusPrep.xCorpusDiffContent(spark, tmp).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out == Map(9100001L -> "modified", 9100002L -> "unchanged",
      9100003L -> "removed"), s"content-diff verdicts: $out")
  }

  test("live drift monitor: cards from streamed manifest increments reproduce the batch drift gate") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // The drift monitor composed the way production runs it: the
    // reference half and the live half each streamed through
    // manifestDocs (micro-batch split + at-least-once replay), rolled
    // up by the shared cardFromIncrements, compared by the shared
    // driftBetween — row-for-row equal to the batch x_corpus_drift
    // gate over the same corpus.
    val docs = Tables.documents(spark, sf)
    val half = docs.agg(expr("(max(doc_id) + 1) div 2")).head().getLong(0)
    def streamedCard(rows: Array[streaming.StreamOps.ManifestDoc],
        name: String): org.apache.spark.sql.DataFrame = {
      val input = MemoryStream[streaming.StreamOps.ManifestDoc]
      val query = streaming.StreamOps.manifestDocs(input.toDS())
        .writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      val (b1, b2) = rows.splitAt(rows.length / 2)
      input.addData(b1.toSeq); query.processAllAvailable()
      input.addData(b2.toSeq); query.processAllAvailable()
      input.addData(rows.toSeq); query.processAllAvailable() // replay
      query.stop()
      streaming.StreamOps.cardFromIncrements(spark.table(name))
    }
    val all = docs.select("doc_id", "source", "lang", "text").collect()
      .map(r => streaming.StreamOps.ManifestDoc(r.getLong(0),
        r.getString(1), r.getString(2), r.getString(3)))
      .sortBy(_.doc_id)
    val live = ext.TextAnalysis.driftBetween(
        streamedCard(all.filter(_.doc_id < half), "drift_ref_card"),
        streamedCard(all.filter(_.doc_id >= half), "drift_live_card"))
      .collect().map(_.toSeq).toSeq
    val batch = ext.TextAnalysis.xCorpusDrift(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(live == batch,
      s"streamed drift diverges from the batch gate:\n$live\nvs\n$batch")
  }

  test("streamed corpus diff equals the batch diff gate across splits and replays") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // The observability column's last batch-only member in streaming
    // form: arriving per-doc admission verdicts joined against the
    // shelf's FROZEN v1 membership (stamped load), statuses from the
    // ONE shared diffStatus builder — row-for-row the batch
    // x_corpus_diff on the replayed corpus. The surface is stateless,
    // so micro-batch splits change nothing and a replayed batch
    // re-emits identical rows (set-compared — the upsert-sink dedup
    // convention).
    val v1 = ArtifactShelf.table(spark, shelfDir, "art_corpus_v1_members")
    val v2 = ext.CorpusPrep.fullCorpus(spark, sf)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val verdicts = Tables.documents(spark, sf).select("doc_id").collect()
      .map(r => streaming.StreamOps.DiffDoc(r.getLong(0),
        if (v2(r.getLong(0))) 1L else 0L)).sortBy(_.doc_id)
    val input = MemoryStream[streaming.StreamOps.DiffDoc]
    val query = streaming.StreamOps.diffDocsIncrement(input.toDF(), v1)
      .writeStream.format("memory").queryName("diff_incs")
      .outputMode("append").start()
    val (b1, b2) = verdicts.splitAt(verdicts.length / 2)
    input.addData(b1.toSeq); query.processAllAvailable()
    input.addData(b2.toSeq); query.processAllAvailable()
    input.addData(verdicts.toSeq); query.processAllAvailable() // replay
    query.stop()
    val streamed = spark.table("diff_incs").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    val batch = ext.CorpusPrep.xCorpusDiff(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(ext.CorpusPrep.diffFromArtifacts(spark, shelfDir).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet == batch,
      "deployed diff arm diverges from the gated x_corpus_diff")
    assert(streamed == batch,
      s"streamed diff diverges from the batch gate: " +
        s"extra=${(streamed -- batch).take(5)} missing=${(batch -- streamed).take(5)}")
  }

  test("serve-delta append equals a frozen-centroid index over the grown corpus, replays idempotently, and retires on refresh") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // r16 (the r15 verdict's gap #3): ingestVectors annotates every
    // admitted arrival with its frozen-centroid cell + codes;
    // appendServeDelta APPLIES them to the shipped index as a
    // versioned, restamped delta. Pinned here end-to-end:
    //  (1) the loaded base ∪ delta state is ROW-FOR-ROW the
    //      frozen-centroid inverted list over (corpus ∪ admitted
    //      arrivals) — the correct rebuild comparison, because a
    //      re-TRAINED quantizer would re-cell every persisted entry
    //      (the xAnnIvfAdmit train-once contract);
    //  (2) replaying the same batch appends nothing (content-derived
    //      batch id + the atomic-rename commit);
    //  (3) a full serve-group refresh RETIRES the delta (the rebuilt
    //      base indexes the refresh corpus; keeping the delta would
    //      double-index the arrivals).
    import java.nio.file.{Files, Path, Paths}
    val dir = GraftTest.copyShelf("shelf_delta")
    val (cents, _) = ext.Similarity.annServeStateFromArtifacts(spark, dir)
    val stock = spark.read.parquet(s"$sf/embeddings.parquet")
      .select("vec_id", "embedding").collect()
      .map(r => streaming.StreamOps.VecIn(r.getLong(0),
        r.getSeq[Float](1).toArray)).sortBy(_.vec_id)
    val maxId = stock.last.vec_id
    // Distinct-content arrivals above the stock max (the gate's
    // nondecreasing-id contract) + one exact duplicate (must NOT enter
    // the delta: is_dup = 1 ⇒ admitted = 0).
    val fresh = stock.take(20).zipWithIndex.map { case (v, i) =>
      streaming.StreamOps.VecIn(maxId + 1L + i,
        v.embedding.map(x => x * 0.7f + 0.01f * ((i % 5) + 1)))
    }
    val arrivals = (fresh :+ streaming.StreamOps.VecIn(maxId + 21L,
      fresh.head.embedding)).sortBy(_.vec_id)
    val cbs = ArtifactShelf.pqCodebooks(spark, dir)
    val evalIndex = ArtifactShelf
      .table(spark, dir, "art_contamination_eval_index").localCheckpoint()
    val input = MemoryStream[streaming.StreamOps.VecIn]
    val q = streaming.StreamOps.ingestVectors(input.toDS(), cents, cbs,
        evalIndex)
      .writeStream.format("memory").queryName("serve_delta_ingest")
      .outputMode("append").start()
    input.addData(arrivals.toSeq); q.processAllAvailable(); q.stop()
    val verdicts = spark.table("serve_delta_ingest").localCheckpoint()
    assert(verdicts.filter(col("is_dup") === 1L).count() == 1L,
      "vacuous fixture: the planted duplicate must be convicted")
    val admittedIds = verdicts.filter(col("admitted") === 1L)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(admittedIds.nonEmpty, "vacuous fixture: nothing admitted")
    val arrivalsDf = arrivals.toSeq.toDF()
    val deltaRows = ext.Similarity.serveDeltaRows(verdicts, arrivalsDf)
    val n1 = Pipeline.appendServeDelta(spark, dir, deltaRows)
    assert(n1 == admittedIds.size.toLong,
      s"delta holds $n1 rows, admitted ${admittedIds.size}")
    // (1) structural parity with the frozen-centroid union index.
    val vf = graft.functions.VectorFunctions
    def key(df: org.apache.spark.sql.DataFrame) = df.collect().map { r =>
      (r.getInt(0), r.getLong(1), r.getSeq[Float](2).toVector,
        java.lang.Double.doubleToRawLongBits(r.getDouble(3)),
        r.getSeq[Long](4).toVector)
    }.toSet
    val (cents2, loadedInv) =
      ext.Similarity.annServeStateFromArtifacts(spark, dir)
    assert(cents2.map(_.toSeq).toSeq == cents.map(_.toSeq).toSeq)
    val union = spark.read.parquet(s"$sf/embeddings.parquet")
      .select("vec_id", "embedding")
      .unionByName(arrivalsDf.filter(col("vec_id").isin(
        admittedIds.toSeq: _*)))
    val live = union.select(
      vf.nearestCentroid(col("embedding"), cents).as("cell"),
      col("vec_id").as("id2"), col("embedding").as("v2"),
      sqrt(vf.dotProduct(col("embedding"), col("embedding"))).as("n2"),
      ext.Similarity.sq8Codes("embedding").as("cc"))
    val loaded = key(loadedInv.select("cell", "id2", "v2", "n2", "cc"))
    val expected = key(live)
    assert(loaded == expected,
      s"base ∪ delta diverges from the frozen-centroid union index: " +
        s"loaded-only=${(loaded -- expected).take(2).map(_._2)} " +
        s"live-only=${(expected -- loaded).take(2).map(_._2)}")
    // (2) replay: same batch, nothing appended, stamp still verifies.
    val n2 = Pipeline.appendServeDelta(spark, dir, deltaRows)
    assert(n2 == n1, s"replayed append grew the delta: $n1 -> $n2")
    assert(key(ext.Similarity.annServeStateFromArtifacts(spark, dir)._2
      .select("cell", "id2", "v2", "n2", "cc")) == expected)
    assert(ArtifactShelf.table(spark, dir, "art_serve_inverted").count()
      == stock.length.toLong, "untouched base must still stamp-verify")
    // (3) a full serve refresh retires the delta.
    Pipeline.refreshShelfGroup(spark, sf, dir, "serve")
    assert(!new java.io.File(s"$dir/art_serve_delta").exists(),
      "full serve rebuild must delete the delta")
    assert(!ArtifactShelf.table(spark, dir, "art_build_stamp")
      .filter(col("artifact") === "art_serve_delta").collect().nonEmpty,
      "retired delta must lose its stamp row")
    assert(ext.Similarity.annServeStateFromArtifacts(spark, dir)._2.count()
      == stock.length.toLong,
      "refreshed index must be base-only (sf corpus) again")
  }

  test("serve tombstones remove ids from the served union like a rebuild after the removals, replay idempotently, and retire on refresh") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // r17 (the r16 verdict's gap #2 — the delta's mirror): a vector
    // removed from the corpus must stop appearing in top-k WITHOUT a
    // full serve rebuild. appendServeTombstones commits removed ids as
    // versioned batches (the appendServeDelta machinery verbatim);
    // the load path anti-joins them AFTER the base ∪ delta union.
    // Pinned end-to-end:
    //  (1) the loaded state is ROW-FOR-ROW the frozen-centroid
    //      inverted list over (corpus ∪ admitted − removed) — i.e.
    //      exactly what a rebuild under the SAME centroids after the
    //      removals would serve (a re-TRAINED rebuild is never the
    //      comparison: re-celling, the xAnnIvfAdmit argument) — and
    //      the compressed search gate over it matches that state's
    //      live twin row-for-row;
    //  (2) tombstones compose with the delta: a tombstoned ARRIVAL
    //      (delta row) disappears too;
    //  (3) replaying the batch appends nothing; the guards fail
    //      loudly on unserved and already-tombstoned ids;
    //  (4) a full serve refresh retires tombstones with the delta.
    import java.nio.file.{Files, Path, Paths}
    val dir = GraftTest.copyShelf("shelf_tomb")
    val (cents, _) = ext.Similarity.annServeStateFromArtifacts(spark, dir)
    val stock = spark.read.parquet(s"$sf/embeddings.parquet")
      .select("vec_id", "embedding").collect()
      .map(r => streaming.StreamOps.VecIn(r.getLong(0),
        r.getSeq[Float](1).toArray)).sortBy(_.vec_id)
    val maxId = stock.last.vec_id
    // A delta batch first (distinct-content arrivals above stock max),
    // so the tombstone pass exercises the FULL union, not just base.
    val arrivals = stock.take(8).zipWithIndex.map { case (v, i) =>
      streaming.StreamOps.VecIn(maxId + 1L + i,
        v.embedding.map(x => x * 0.6f + 0.02f * ((i % 3) + 1)))
    }
    val cbs = ArtifactShelf.pqCodebooks(spark, dir)
    val evalIndex = ArtifactShelf
      .table(spark, dir, "art_contamination_eval_index").localCheckpoint()
    val input = MemoryStream[streaming.StreamOps.VecIn]
    val q = streaming.StreamOps.ingestVectors(input.toDS(), cents, cbs,
        evalIndex)
      .writeStream.format("memory").queryName("serve_tomb_ingest")
      .outputMode("append").start()
    input.addData(arrivals.toSeq); q.processAllAvailable(); q.stop()
    val verdicts = spark.table("serve_tomb_ingest").localCheckpoint()
    val admittedIds = verdicts.filter(col("admitted") === 1L)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(admittedIds.nonEmpty, "vacuous fixture: nothing admitted")
    Pipeline.appendServeDelta(spark, dir,
      ext.Similarity.serveDeltaRows(verdicts, arrivals.toSeq.toDF()))
    // Remove 3 base vectors and 1 admitted arrival.
    val removed = Set(stock(1).vec_id, stock(5).vec_id,
      stock(11).vec_id, admittedIds.min)
    val n1 = Pipeline.appendServeTombstones(spark, dir,
      removed.toSeq.sorted.toDF("id2"))
    assert(n1 == removed.size.toLong,
      s"tombstone relation holds $n1 rows, removed ${removed.size}")
    // (1) structural parity with the frozen-centroid index over
    // (corpus ∪ admitted − removed).
    val vf = graft.functions.VectorFunctions
    def key(df: org.apache.spark.sql.DataFrame) = df.collect().map { r =>
      (r.getInt(0), r.getLong(1), r.getSeq[Float](2).toVector,
        java.lang.Double.doubleToRawLongBits(r.getDouble(3)),
        r.getSeq[Long](4).toVector)
    }.toSet
    val union = spark.read.parquet(s"$sf/embeddings.parquet")
      .select("vec_id", "embedding")
      .unionByName(arrivals.toSeq.toDF()
        .filter(col("vec_id").isin(admittedIds.toSeq: _*)))
      .filter(!col("vec_id").isin(removed.toSeq: _*))
    val live = union.select(
      vf.nearestCentroid(col("embedding"), cents).as("cell"),
      col("vec_id").as("id2"), col("embedding").as("v2"),
      sqrt(vf.dotProduct(col("embedding"), col("embedding"))).as("n2"),
      ext.Similarity.sq8Codes("embedding").as("cc"))
    val (cents2, loadedInv) =
      ext.Similarity.annServeStateFromArtifacts(spark, dir)
    assert(cents2.map(_.toSeq).toSeq == cents.map(_.toSeq).toSeq)
    val loaded = key(loadedInv.select("cell", "id2", "v2", "n2", "cc"))
    val expected = key(live)
    assert(loaded == expected,
      s"base ∪ delta − tombstones diverges from the frozen-centroid " +
        s"index after the removals: " +
        s"loaded-only=${(loaded -- expected).take(2).map(_._2)} " +
        s"live-only=${(expected -- loaded).take(2).map(_._2)}")
    assert(!loaded.exists(r => removed(r._2)),
      "a tombstoned id survived in the served state")
    // ...and the compressed search gate agrees with its live twin.
    def searched(name: String, inv: org.apache.spark.sql.DataFrame)
        : Set[(Long, Long, Long, Double)] = {
      val qs = stock.take(6)
      val in = MemoryStream[streaming.StreamOps.VecIn]
      val query = streaming.StreamOps.searchVectorsSq8(in.toDS(), cents, inv)
        .writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      in.addData(qs.toSeq); query.processAllAvailable(); query.stop()
      spark.table(name).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getDouble(3))).toSet
    }
    val artSearch = searched("tomb_search_art", loadedInv)
    val liveSearch = searched("tomb_search_live", live)
    assert(artSearch.nonEmpty && artSearch == liveSearch,
      s"search over the tombstoned state diverges from the " +
        s"rebuild-after-removals twin (${artSearch.size}/${liveSearch.size})")
    assert(!artSearch.exists(r => removed(r._3)),
      "a tombstoned id reached a top-k result")
    // (3) replay: same batch, nothing appended, state unchanged.
    val n2 = Pipeline.appendServeTombstones(spark, dir,
      removed.toSeq.sorted.toDF("id2"))
    assert(n2 == n1, s"replayed tombstone batch grew the relation: $n1 -> $n2")
    assert(key(ext.Similarity.annServeStateFromArtifacts(spark, dir)._2
      .select("cell", "id2", "v2", "n2", "cc")) == expected)
    // Guards: an unserved id and a re-removal both fail loudly.
    intercept[IllegalArgumentException] {
      Pipeline.appendServeTombstones(spark, dir,
        Seq(maxId + 500L).toDF("id2"))
    }
    intercept[IllegalArgumentException] {
      Pipeline.appendServeTombstones(spark, dir,
        Seq(stock(1).vec_id, stock(7).vec_id).toDF("id2"))
    }
    // A named id with a leading digit is refused by the one batch-id
    // rule, before any guard (the id is served and not tombstoned).
    val badId = intercept[IllegalArgumentException] {
      Pipeline.appendServeTombstones(spark, dir,
        Seq(stock(2).vec_id).toDF("id2"), batchId = "1tomb")
    }
    assert(badId.getMessage.contains("bad batch id"), badId.getMessage)
    assert(ext.Similarity.annServeStateFromArtifacts(spark, dir)._2
      .count() == expected.size.toLong,
      "a refused batch must leave the served state untouched")
    // An empty batch short-circuits without committing a partition
    // (the admitBatch contract — ADVICE r16), even with a named id.
    val nEmpty = Pipeline.appendServeTombstones(spark, dir,
      Seq.empty[Long].toDF("id2"), batchId = "named_empty")
    assert(nEmpty == n1 && !new java.io.File(
      s"$dir/art_serve_tombstones/batch_id=named_empty").exists(),
      "empty tombstone batch must not commit a partition")
    // (4) a full serve refresh retires tombstones with the delta.
    Pipeline.refreshShelfGroup(spark, sf, dir, "serve")
    assert(!new java.io.File(s"$dir/art_serve_tombstones").exists(),
      "full serve rebuild must delete the tombstones")
    assert(ArtifactShelf.table(spark, dir, "art_build_stamp")
      .filter(col("artifact").isin("art_serve_tombstones",
        "art_serve_delta")).count() == 0L,
      "retired relations must lose their stamp rows")
    assert(ext.Similarity.annServeStateFromArtifacts(spark, dir)._2.count()
      == stock.length.toLong,
      "refreshed index must be base-only (sf corpus) again")
  }

  test("serve-delta streaming topology applies exactly one delta row per admitted arrival across a checkpoint restart") {
    import spark.implicits._
    // r17 (the r16 verdict's gap #3): the loop composed END-TO-END —
    // Pipeline.serveDeltaStream runs ingestVectors over a REAL file
    // source and applies each micro-batch's admitted verdicts to the
    // shipped index inside foreachBatch, under a checkpoint. The
    // query is STOPPED COLD between waves and restarted from the
    // checkpoint, with wave 2 also RE-DELIVERING half of wave 1 (the
    // at-least-once upstream): re-delivered ids are in the recovered
    // state and emit no verdicts, so they can't re-enter the delta —
    // and a replayed micro-batch re-derives the same content id and
    // no-ops against its committed partition. Done-criteria pinned:
    // exactly one delta row per admitted arrival, >= 2 versioned batch
    // partitions (one per wave), and the served state row-for-row the
    // frozen-centroid index over (corpus ∪ admitted) — the same parity
    // target as the hand-driven path.
    import java.nio.file.{Files, Path, Paths}
    val dir = GraftTest.copyShelf("shelf_stream")
    val stock = spark.read.parquet(s"$sf/embeddings.parquet")
      .select("vec_id", "embedding").collect()
      .map(r => streaming.StreamOps.VecIn(r.getLong(0),
        r.getSeq[Float](1).toArray)).sortBy(_.vec_id)
    val maxId = stock.last.vec_id
    def synth(i: Int): streaming.StreamOps.VecIn =
      streaming.StreamOps.VecIn(maxId + 1L + i,
        stock(i % 12).embedding.map(x => x * 0.65f + 0.015f * ((i % 7) + 1)))
    val wave1 = (0 until 10).map(synth)
    val wave2 = (10 until 18).map(synth)
    val dirs = Files.createTempDirectory("servedelta_stream")
    val (in, ckpt) = (s"$dirs/in", s"$dirs/ckpt")
    // Wave 1 lands TWICE before the first trigger (ADVICE r17: a
    // duplicated arrival in the SAME micro-batch as its original) —
    // the gate's stateful group emits one verdict per vec_id and the
    // verdict-only delta arm carries the embedding in-row, so the
    // duplicate can no longer fan one verdict into duplicate delta
    // rows; the one-row-per-admitted assertion below pins it.
    wave1.toDF().write.mode("append").parquet(in)
    wave1.toDF().write.mode("append").parquet(in)
    val q1 = Pipeline.serveDeltaStream(spark, dir, in, ckpt)
    q1.processAllAvailable(); q1.stop()
    // Wave 2 + an at-least-once re-delivery of half of wave 1.
    (wave2 ++ wave1.take(5)).toDF().write.mode("append").parquet(in)
    val q2 = Pipeline.serveDeltaStream(spark, dir, in, ckpt)
    q2.processAllAvailable(); q2.stop()
    // Which arrivals SHOULD be admitted: the batch gate's own verdict
    // over the same frozen state (the one-shot reference path).
    val (cents, _) = ext.Similarity.annServeStateFromArtifacts(spark, dir)
    val allArrivals = (wave1 ++ wave2).sortBy(_.vec_id)
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[streaming.StreamOps.VecIn]
    val qRef = streaming.StreamOps.ingestVectors(input.toDS(), cents,
        ArtifactShelf.pqCodebooks(spark, dir),
        ArtifactShelf.table(spark, dir, "art_contamination_eval_index")
          .localCheckpoint())
      .writeStream.format("memory").queryName("serve_stream_ref")
      .outputMode("append").start()
    input.addData(allArrivals); qRef.processAllAvailable(); qRef.stop()
    val admittedIds = spark.table("serve_stream_ref")
      .filter(col("admitted") === 1L)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(admittedIds.nonEmpty, "vacuous fixture: nothing admitted")
    val delta = spark.read.parquet(s"$dir/art_serve_delta")
    assert(delta.count() == admittedIds.size.toLong &&
      delta.select("id2").distinct().count() == admittedIds.size.toLong,
      s"exactly one delta row per admitted arrival: " +
        s"${delta.count()} rows / ${admittedIds.size} admitted")
    assert(delta.select("batch_id").distinct().count() >= 2L,
      "each wave must commit its own versioned batch partition")
    // Served-state parity with the frozen-centroid union index.
    val vf = graft.functions.VectorFunctions
    def key(df: org.apache.spark.sql.DataFrame) = df.collect().map { r =>
      (r.getInt(0), r.getLong(1), r.getSeq[Float](2).toVector,
        java.lang.Double.doubleToRawLongBits(r.getDouble(3)),
        r.getSeq[Long](4).toVector)
    }.toSet
    val live = spark.read.parquet(s"$sf/embeddings.parquet")
      .select("vec_id", "embedding")
      .unionByName(allArrivals.toDF()
        .filter(col("vec_id").isin(admittedIds.toSeq: _*)))
      .select(
        vf.nearestCentroid(col("embedding"), cents).as("cell"),
        col("vec_id").as("id2"), col("embedding").as("v2"),
        sqrt(vf.dotProduct(col("embedding"), col("embedding"))).as("n2"),
        ext.Similarity.sq8Codes("embedding").as("cc"))
    val loaded = key(ext.Similarity.annServeStateFromArtifacts(spark, dir)
      ._2.select("cell", "id2", "v2", "n2", "cc"))
    val expected = key(live)
    assert(loaded == expected,
      s"streamed delta state diverges from the frozen-centroid union " +
        s"index: loaded-only=${(loaded -- expected).take(2).map(_._2)} " +
        s"live-only=${(expected -- loaded).take(2).map(_._2)}")
  }

  test("compaction interleaves with the streaming delta topology: the resumed stream appends to a fresh delta over the folded base") {
    import spark.implicits._
    // r18 — the operational sequence a long-running deployment actually
    // performs: ingest stream runs, operator compacts BETWEEN
    // micro-batch waves (the stream stopped cold, the checkpoint
    // kept), stream resumes. Pinned: the resumed stream's appends land
    // in a FRESH art_serve_delta (the folded base absorbed the old
    // one), the nondecreasing-id guard holds against the folded base's
    // max (which includes the pre-compaction arrivals), and the final
    // served state is row-identical to the no-compaction twin topology
    // fed the same waves — compaction is invisible to the stream's
    // semantics, exactly the frozen-centroid fold contract.
    import java.nio.file.Files
    val dir = copyShelf("shelf_compactstream")
    val twin = copyShelf("shelf_compactstream_twin")
    val stock = spark.read.parquet(s"$sf/embeddings.parquet")
      .select("vec_id", "embedding").collect()
      .map(r => streaming.StreamOps.VecIn(r.getLong(0),
        r.getSeq[Float](1).toArray)).sortBy(_.vec_id)
    val maxId = stock.last.vec_id
    def synth(i: Int): streaming.StreamOps.VecIn =
      streaming.StreamOps.VecIn(maxId + 1L + i,
        stock(i % 9).embedding.map(x => x * 0.58f + 0.012f * ((i % 6) + 1)))
    val wave1 = (0 until 8).map(synth)
    val wave2 = (8 until 14).map(synth)
    def runWaves(shelf: String, tag: String,
        between: () => Unit): Unit = {
      val dirs = Files.createTempDirectory(s"compactstream_$tag")
      val (in, ckpt) = (s"$dirs/in", s"$dirs/ckpt")
      wave1.toDF().write.mode("append").parquet(in)
      val q1 = Pipeline.serveDeltaStream(spark, shelf, in, ckpt)
      q1.processAllAvailable(); q1.stop()
      between()
      wave2.toDF().write.mode("append").parquet(in)
      val q2 = Pipeline.serveDeltaStream(spark, shelf, in, ckpt)
      q2.processAllAvailable(); q2.stop()
    }
    runWaves(dir, "c", () => { Pipeline.compactServeIndex(spark, dir); () })
    runWaves(twin, "t", () => ())
    // The resumed stream's appends landed in a FRESH delta: only
    // wave-2 ids, one batch partition.
    val delta = spark.read.parquet(s"$dir/art_serve_delta")
    assert(delta.select("id2").collect().map(_.getLong(0)).toSet
      .subsetOf(wave2.map(_.vec_id).toSet),
      "post-compaction delta must hold only resumed-stream arrivals")
    assert(delta.select("batch_id").distinct().count() == 1L,
      "the folded base absorbed wave 1 — one fresh batch expected")
    def key(d: String) =
      ext.Similarity.annServeStateFromArtifacts(spark, d)._2
        .select("cell", "id2", "v2", "n2", "cc").collect().map { r =>
          (r.getInt(0), r.getLong(1), r.getSeq[Float](2).toVector,
            java.lang.Double.doubleToRawLongBits(r.getDouble(3)),
            r.getSeq[Long](4).toVector)
        }.toSet
    val compacted = key(dir)
    assert(compacted == key(twin) && compacted.nonEmpty,
      "mid-stream compaction changed the served state vs the " +
        "no-compaction twin topology")
  }

  test("concurrent delta and tombstone appends serialize on the stamp lock: both stamps land full-scan-exact, every load passes") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // r18 — the stampLock's pin: the delta and tombstone STREAMS run
    // concurrently against one shelf, and each append is a
    // read-modify-write of the whole stamp relation. Two simultaneous
    // appends of independent batches must both land with stamps equal
    // to the full-scan stamps (without the lock, the loser's stamp row
    // is written stale by the winner — a lost update that fails every
    // later stamped load on a healthy shelf; this spec fails
    // nondeterministically on that regression, which is still a
    // regression caught).
    val dir = GraftTest.copyShelf("shelf_race")
    val (cents, inv0) = ext.Similarity.annServeStateFromArtifacts(spark, dir)
    val nBase = inv0.count()
    val stock = spark.read.parquet(s"$sf/embeddings.parquet")
      .select("vec_id", "embedding").collect()
      .map(r => streaming.StreamOps.VecIn(r.getLong(0),
        r.getSeq[Float](1).toArray)).sortBy(_.vec_id)
    val maxId = stock.last.vec_id
    val arrivals = stock.take(5).zipWithIndex.map { case (v, i) =>
      streaming.StreamOps.VecIn(maxId + 1L + i,
        v.embedding.map(x => x * 0.59f + 0.013f * ((i % 5) + 1)))
    }
    val cbs = ArtifactShelf.pqCodebooks(spark, dir)
    val evalIndex = ArtifactShelf
      .table(spark, dir, "art_contamination_eval_index").localCheckpoint()
    val input = MemoryStream[streaming.StreamOps.VecIn]
    val q = streaming.StreamOps.ingestVectors(input.toDS(), cents, cbs,
        evalIndex)
      .writeStream.format("memory").queryName("serve_race_ingest")
      .outputMode("append").start()
    input.addData(arrivals.toSeq); q.processAllAvailable(); q.stop()
    val verdicts = spark.table("serve_race_ingest").localCheckpoint()
    val deltaRows = ext.Similarity.serveDeltaRows(verdicts)
      .localCheckpoint()
    val nDelta = deltaRows.count()
    assert(nDelta > 0L, "vacuous fixture: nothing admitted")
    val tombIds = Seq(stock(3).vec_id, stock(9).vec_id)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    def runner(f: => Unit) = new Thread(() =>
      try f catch { case t: Throwable => errs.add(t) })
    val t1 = runner { Pipeline.appendServeDelta(spark, dir, deltaRows); () }
    val t2 = runner {
      Pipeline.appendServeTombstones(spark, dir, tombIds.toDF("id2")); ()
    }
    t1.start(); t2.start(); t1.join(); t2.join()
    assert(errs.isEmpty, s"concurrent append threw: ${errs.peek()}")
    val stamps = spark.read.parquet(s"$dir/art_build_stamp").collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    for (a <- Seq("art_serve_delta", "art_serve_tombstones")) {
      assert(stamps.contains(a),
        s"$a stamp row missing after concurrent appends (lost update)")
      assert(stamps(a) ==
        ArtifactShelf.stampOf(spark.read.parquet(s"$dir/$a")),
        s"$a stamp diverges from its full scan after concurrent appends")
      ArtifactShelf.table(spark, dir, a).count()
    }
    val (_, served) = ext.Similarity.annServeStateFromArtifacts(spark, dir)
    assert(served.count() == nBase + nDelta - tombIds.size,
      "served state after concurrent appends must fold both batches")
  }

  test("the tombstone guard runs under the stamp lock: it waits for a held lock, then refuses an unserved id") {
    import spark.implicits._
    // compactServeIndex deletes art_serve_delta under the stamp lock, so
    // an append guard that scans it must run under that lock too. Hold
    // the lock here and start a tombstone append of an unserved id: the
    // append must block at the lock instead of running its guard, and
    // refuse the id once the lock is released.
    val dir = GraftTest.copyShelf("shelf_tomb_lock")
    val unserved = spark.read.parquet(s"$dir/art_serve_inverted")
      .agg(max(col("id2"))).head().getLong(0) + 500L
    val err = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val append = new Thread(() =>
      try {
        Pipeline.appendServeTombstones(spark, dir, Seq(unserved).toDF("id2"))
        ()
      } catch { case t: Throwable => err.set(t) })
    val waited = ArtifactShelf.restamp(spark, dir) { old =>
      append.start()
      def atLock = append.getState == Thread.State.BLOCKED &&
        append.getStackTrace.exists(_.getMethodName == "restamp")
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (append.isAlive && !atLock && System.nanoTime() < deadline)
        Thread.sleep(50)
      append.join(2000)
      (old, append.isAlive)
    }
    assert(waited, s"the tombstone append ended while the stamp lock was " +
      s"held — its guard ran outside the lock: ${err.get}")
    append.join(60000)
    assert(!append.isAlive, "the tombstone append never finished")
    assert(err.get.isInstanceOf[IllegalArgumentException] &&
      err.get.getMessage.contains("not in the served base ∪ delta"),
      s"the guard must refuse the unserved id once the lock is free: ${err.get}")
    assert(!new java.io.File(s"$dir/art_serve_tombstones").exists(),
      "a refused tombstone batch must commit nothing")
  }

  test("a group refresh beside a delta append keeps both stamp rows full-scan-exact, every load passes") {
    import spark.implicits._
    // refreshShelfGroup reads the stamp only inside its restamp, under the
    // stamp lock, after its artifact writes. An append that restamps
    // while the refresh is writing must keep its row: a refresh that read
    // the stamp before its writes would rewrite the delta's row stale,
    // and every later load of the delta would fail with version skew.
    // Like the append race above, this catches that regression
    // nondeterministically: only when the append lands inside the
    // refresh's window.
    val dir = GraftTest.copyShelf("shelf_refresh_race")
    val baseMax = spark.read.parquet(s"$dir/art_serve_inverted")
      .agg(max(col("id2"))).head().getLong(0)
    val deltaRows = (1L to 6L).map { i =>
      ((i % 7).toInt, baseMax + i, Seq(0.3f, 0.4f), 2.0, Seq(4L, 5L))
    }.toDF("cell", "id2", "v2", "n2", "cc").localCheckpoint()
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    def runner(f: => Unit) = new Thread(() =>
      try f catch { case t: Throwable => errs.add(t) })
    val refresh = runner { Pipeline.refreshShelfGroup(spark, sf, dir, "mix"); () }
    val append = runner { Pipeline.appendServeDelta(spark, dir, deltaRows); () }
    refresh.start(); append.start(); refresh.join(); append.join()
    assert(errs.isEmpty, s"refresh or append threw: ${errs.peek()}")
    val stamps = ArtifactShelf.stamp(spark, dir)
    for (a <- Seq("art_mix_cuts", "art_serve_delta")) {
      assert(stamps.get(a) ==
        Some(ArtifactShelf.stampOf(spark.read.parquet(s"$dir/$a"))),
        s"$a stamp row lost or stale after a refresh beside an append")
    }
    stamps.keys.foreach(a => ArtifactShelf.table(spark, dir, a).count())
  }

  test("serve-index card tracks populations and occupancy through the lifecycle; compaction zeroes the versioned relations") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // r18 — the observability column's serving row: the card reads the
    // compaction-cadence inputs (versioned batch counts) and the
    // cell-occupancy skew off the STAMPED relations. Pinned across the
    // full lifecycle: fresh shelf (zero versioned rows, served ==
    // base), populated (delta/tombstone populations exact, served ==
    // base + delta − tombstoned), compacted (versioned rows back to
    // zero, served unchanged — the fold is invisible to the card's
    // served metrics).
    val dir = GraftTest.copyShelf("shelf_card")
    def card(d: String): Map[String, Long] =
      ext.Similarity.serveIndexCard(spark, d).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
    val c0 = card(dir)
    assert(c0("delta_rows") == 0L && c0("delta_batches") == 0L &&
      c0("tombstone_rows") == 0L && c0("tombstone_batches") == 0L,
      s"fresh shelf must read zero versioned populations: $c0")
    assert(c0("served_rows") == c0("base_rows") && c0("base_rows") > 0L)
    assert(c0("cells_occupied") <= c0("cells_total") &&
      c0("occ_p50") <= c0("occ_p99") && c0("occ_p99") <= c0("occ_max"))
    assert(c0("dims") == 64L)
    // One admitted delta batch + two tombstones (the tombstone spec's
    // hand-driven construction) — the card must track them exactly.
    val (cents, _) = ext.Similarity.annServeStateFromArtifacts(spark, dir)
    val stock = spark.read.parquet(s"$sf/embeddings.parquet")
      .select("vec_id", "embedding").collect()
      .map(r => streaming.StreamOps.VecIn(r.getLong(0),
        r.getSeq[Float](1).toArray)).sortBy(_.vec_id)
    val maxId = stock.last.vec_id
    val arrivals = stock.take(6).zipWithIndex.map { case (v, i) =>
      streaming.StreamOps.VecIn(maxId + 1L + i,
        v.embedding.map(x => x * 0.57f + 0.017f * ((i % 4) + 1)))
    }
    val cbs = ArtifactShelf.pqCodebooks(spark, dir)
    val evalIndex = ArtifactShelf
      .table(spark, dir, "art_contamination_eval_index").localCheckpoint()
    val input = MemoryStream[streaming.StreamOps.VecIn]
    val q = streaming.StreamOps.ingestVectors(input.toDS(), cents, cbs,
        evalIndex)
      .writeStream.format("memory").queryName("serve_card_ingest")
      .outputMode("append").start()
    input.addData(arrivals.toSeq); q.processAllAvailable(); q.stop()
    val verdicts = spark.table("serve_card_ingest").localCheckpoint()
    val nAdmitted = verdicts.filter(col("admitted") === 1L).count()
    assert(nAdmitted > 0L, "vacuous fixture: nothing admitted")
    Pipeline.appendServeDelta(spark, dir,
      ext.Similarity.serveDeltaRows(verdicts))
    val removed = Seq(stock(2).vec_id, stock(7).vec_id)
    Pipeline.appendServeTombstones(spark, dir, removed.toDF("id2"))
    val c1 = card(dir)
    assert(c1("delta_rows") == nAdmitted && c1("delta_batches") == 1L,
      s"card delta population diverged: $c1 vs admitted $nAdmitted")
    assert(c1("tombstone_rows") == 2L && c1("tombstone_batches") == 1L)
    assert(c1("served_rows") ==
      c1("base_rows") + nAdmitted - removed.size,
      "served fold must read base + delta − tombstoned (the tombstone " +
        "guard pins every removed id as served)")
    Pipeline.compactServeIndex(spark, dir)
    val c2 = card(dir)
    assert(c2("base_rows") == c1("served_rows") &&
      c2("served_rows") == c1("served_rows"),
      s"compaction changed the card's served metrics: $c1 -> $c2")
    assert(c2("delta_rows") == 0L && c2("delta_batches") == 0L &&
      c2("tombstone_rows") == 0L && c2("tombstone_batches") == 0L,
      "compaction must retire both versioned relations from the card")
    assert(c2("occ_p50") <= c2("occ_p99") &&
      c2("occ_p99") <= c2("occ_max"))
  }

  test("precomputed metric relations leave every trainingCorpus-chain policy row-identical") {
    // r17 (the shelf attribution's answer spec-pinned): the full build
    // now computes predLang/quality/contamination ONCE and passes the
    // triple into the diff/span groups' chains. The default arm joins
    // the SAME constructions in the SAME tree, so the shared arm must
    // be row-for-row identical for every policy that takes it.
    val m = {
      val (l, q, c) = ext.CorpusPrep.prepDocMetrics(spark, sf)
      Some((l.localCheckpoint(), q.localCheckpoint(), c.localCheckpoint()))
    }
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq.toVector).toSet
    val v1 = rows(ext.CorpusPrep.trainingCorpus(spark, sf))
    assert(v1 == rows(ext.CorpusPrep.trainingCorpus(spark, sf,
      precomputedMetrics = m)) && v1.nonEmpty,
      "shared-metrics trainingCorpus diverges from the default arm")
    val v2 = rows(ext.CorpusPrep.fullCorpus(spark, sf))
    assert(v2 == rows(ext.CorpusPrep.fullCorpus(spark, sf, None, m)) &&
      v2.nonEmpty,
      "shared-metrics fullCorpus diverges from the default arm")
    val sp = rows(ext.CorpusPrep.spansCorpus(spark, sf))
    assert(sp == rows(ext.CorpusPrep.spansCorpus(spark, sf, None, None, m))
      && sp.nonEmpty,
      "shared-metrics spansCorpus diverges from the default arm")
  }

  test("a full shelf rebuild into a reused dir retires stale delta and tombstone relations") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // r17: the refreshShelfGroup("serve") retirement argument applies
    // to the FULL build too — a rebuild trains on the dir's corpus
    // snapshot, so a leftover delta would double-index its arrivals
    // and leftover tombstones would re-hide ids; and since the fresh
    // stamp carries no rows for them, they'd otherwise fail every
    // subsequent load loudly (the orphaned-relation trap ScaleProbe's
    // reused /tmp shelves would hit). Pin: populate both versioned
    // relations, rebuild in place, and require them gone + the served
    // state base-only.
    import java.nio.file.{Files, Path, Paths}
    val dir = GraftTest.copyShelf("shelf_rebuild")
    val (cents, _) = ext.Similarity.annServeStateFromArtifacts(spark, dir)
    val stock = spark.read.parquet(s"$sf/embeddings.parquet")
      .select("vec_id", "embedding").collect()
      .map(r => streaming.StreamOps.VecIn(r.getLong(0),
        r.getSeq[Float](1).toArray)).sortBy(_.vec_id)
    val arrivals = stock.take(5).zipWithIndex.map { case (v, i) =>
      streaming.StreamOps.VecIn(stock.last.vec_id + 1L + i,
        v.embedding.map(x => x * 0.45f + 0.03f * (i + 1)))
    }
    val input = MemoryStream[streaming.StreamOps.VecIn]
    val q = streaming.StreamOps.ingestVectors(input.toDS(), cents,
        ArtifactShelf.pqCodebooks(spark, dir),
        ArtifactShelf.table(spark, dir, "art_contamination_eval_index")
          .localCheckpoint())
      .writeStream.format("memory").queryName("rebuild_retire_ingest")
      .outputMode("append").start()
    input.addData(arrivals.toSeq); q.processAllAvailable(); q.stop()
    Pipeline.appendServeDelta(spark, dir, ext.Similarity.serveDeltaRows(
      spark.table("rebuild_retire_ingest"), arrivals.toSeq.toDF()))
    Pipeline.appendServeTombstones(spark, dir,
      Seq(stock(2).vec_id, stock(3).vec_id).toDF("id2"))
    assert(new java.io.File(s"$dir/art_serve_delta").exists() &&
      new java.io.File(s"$dir/art_serve_tombstones").exists(),
      "fixture: both versioned relations populated")
    Pipeline.materializeFrozenArtifacts(spark, sf, dir)
    assert(!new java.io.File(s"$dir/art_serve_delta").exists() &&
      !new java.io.File(s"$dir/art_serve_tombstones").exists(),
      "full rebuild must retire stale delta + tombstones")
    assert(ArtifactShelf.table(spark, dir, "art_build_stamp")
      .filter(col("artifact").isin("art_serve_delta",
        "art_serve_tombstones")).count() == 0L)
    assert(ext.Similarity.annServeStateFromArtifacts(spark, dir)._2
      .count() == stock.length.toLong,
      "rebuilt index must serve the corpus snapshot base-only")
  }

  /** Writable shelf copies come from the ONE fixture-level builder
    * (GraftTest.copyShelf — r18 hoist of six inline walk loops).
    */
  private def copyShelf(prefix: String): String =
    GraftTest.copyShelf(prefix)

  test("compaction folds base ∪ delta − tombstones under frozen centroids: search-identical, versioned relations retired, fresh appends resume") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // r18 (the r17 verdict's top task): compactServeIndex rewrites
    // art_serve_inverted as the exact served union — the
    // annServeStateFromArtifacts load, ONE construction — deletes the
    // versioned delta/tombstone relations, and restamps together.
    // Pinned: (1) the served state and the compressed search gate are
    // IDENTICAL before/after (fold, never a retrain); (2) both
    // versioned relations and their stamp rows are gone and the
    // compacted base loads through the stamp guard; (3) appends resume
    // on a fresh delta under the same nondecreasing-id contract
    // (overlap and within-batch duplicates still fail loudly).
    val dir = copyShelf("shelf_compact")
    val (cents, _) = ext.Similarity.annServeStateFromArtifacts(spark, dir)
    val stock = spark.read.parquet(s"$sf/embeddings.parquet")
      .select("vec_id", "embedding").collect()
      .map(r => streaming.StreamOps.VecIn(r.getLong(0),
        r.getSeq[Float](1).toArray)).sortBy(_.vec_id)
    val maxId = stock.last.vec_id
    val arrivals = stock.take(10).zipWithIndex.map { case (v, i) =>
      streaming.StreamOps.VecIn(maxId + 1L + i,
        v.embedding.map(x => x * 0.55f + 0.02f * ((i % 4) + 1)))
    }
    val input = MemoryStream[streaming.StreamOps.VecIn]
    val q = streaming.StreamOps.ingestVectors(input.toDS(), cents,
        ArtifactShelf.pqCodebooks(spark, dir),
        ArtifactShelf.table(spark, dir, "art_contamination_eval_index")
          .localCheckpoint())
      .writeStream.format("memory").queryName("compact_ingest")
      .outputMode("append").start()
    input.addData(arrivals.toSeq); q.processAllAvailable(); q.stop()
    val verdicts = spark.table("compact_ingest").localCheckpoint()
    val admitted = verdicts.filter(col("admitted") === 1L)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(admitted.nonEmpty, "vacuous fixture: nothing admitted")
    // The verdict-only delta arm (r18): rows built from the admitted
    // verdicts' own carried embeddings — parity with the join arm is
    // implied by the served-state checks below riding on it.
    Pipeline.appendServeDelta(spark, dir,
      ext.Similarity.serveDeltaRows(verdicts))
    Pipeline.appendServeTombstones(spark, dir,
      Seq(stock(2).vec_id, stock(9).vec_id, admitted.min).toDF("id2"))
    def key(df: org.apache.spark.sql.DataFrame) = df.collect().map { r =>
      (r.getInt(0), r.getLong(1), r.getSeq[Float](2).toVector,
        java.lang.Double.doubleToRawLongBits(r.getDouble(3)),
        r.getSeq[Long](4).toVector)
    }.toSet
    def searched(name: String): Set[(Long, Long, Long, Double)] = {
      val inv = ext.Similarity.annServeStateFromArtifacts(spark, dir)._2
      val in = MemoryStream[streaming.StreamOps.VecIn]
      val query = streaming.StreamOps.searchVectorsSq8(in.toDS(), cents, inv)
        .writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      in.addData(stock.take(6).toSeq); query.processAllAvailable()
      query.stop()
      spark.table(name).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getDouble(3))).toSet
    }
    val before = key(ext.Similarity.annServeStateFromArtifacts(spark, dir)
      ._2.select("cell", "id2", "v2", "n2", "cc"))
    val searchBefore = searched("compact_search_before")
    val n = Pipeline.compactServeIndex(spark, dir)
    assert(n == before.size.toLong,
      s"compacted base holds $n rows, served union had ${before.size}")
    // (2) retirement + the compacted base loads stamped.
    assert(!new java.io.File(s"$dir/art_serve_delta").exists() &&
      !new java.io.File(s"$dir/art_serve_tombstones").exists(),
      "compaction must delete the versioned batch relations")
    assert(ArtifactShelf.table(spark, dir, "art_build_stamp")
      .filter(col("artifact").isin("art_serve_delta",
        "art_serve_tombstones")).count() == 0L,
      "retired relations must lose their stamp rows")
    val after = key(ArtifactShelf.table(spark, dir, "art_serve_inverted")
      .select("cell", "id2", "v2", "n2", "cc"))
    assert(after == before,
      s"compaction changed the served state: " +
        s"lost=${(before -- after).take(2).map(_._2)} " +
        s"gained=${(after -- before).take(2).map(_._2)}")
    // (1) the search gate agrees row-for-row.
    assert(searched("compact_search_after") == searchBefore &&
      searchBefore.nonEmpty,
      "search over the compacted base diverges from pre-compaction")
    // (3) appends resume: fresh ids above the folded max commit to a
    // NEW delta; an overlapping id and a within-batch duplicate fail.
    val foldMax = after.map(_._2).max
    def handRows(ids: Seq[Long]) = ids.map { i =>
      (3, i, Seq(0.1f, 0.2f), 1.0, Seq(1L, 2L))
    }.toDF("cell", "id2", "v2", "n2", "cc")
      .select(col("cell").cast("int").as("cell"), col("id2"),
        col("v2"), col("n2"), col("cc"))
    assert(Pipeline.appendServeDelta(spark, dir,
      handRows(Seq(foldMax + 1L))) == 1L,
      "post-compaction append must start a fresh delta")
    intercept[IllegalArgumentException] {
      Pipeline.appendServeDelta(spark, dir, handRows(Seq(admitted.min)))
    }
    intercept[IllegalArgumentException] {
      Pipeline.appendServeDelta(spark, dir,
        handRows(Seq(foldMax + 5L, foldMax + 5L, foldMax + 6L)))
    }
    assert(ext.Similarity.annServeStateFromArtifacts(spark, dir)._2
      .count() == before.size.toLong + 1L,
      "refused batches must leave the served state untouched")
  }

  test("a crash between the compaction rewrite and its restamp fails loudly at the stamped load, and the serve refresh repairs it") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // The compactServeIndex crash contract: the rewrite lands, the
    // restamp doesn't — every stamped load of the base must refuse
    // (the r12 guard), and refreshShelfGroup("serve") is the
    // documented repair. Simulated with the method's own fold
    // construction (annServeStateFromArtifacts — one construction).
    val dir = copyShelf("shelf_crash")
    Pipeline.appendServeTombstones(spark, dir,
      Seq(3L, 5L).toDF("id2"))
    val folded = ext.Similarity.annServeStateFromArtifacts(spark, dir)
      ._2.localCheckpoint()
    folded.write.mode("overwrite").parquet(s"$dir/art_serve_inverted")
    intercept[IllegalArgumentException] {
      ArtifactShelf.table(spark, dir, "art_serve_inverted")
    }
    intercept[IllegalArgumentException] {
      ext.Similarity.annServeStateFromArtifacts(spark, dir)
    }
    Pipeline.refreshShelfGroup(spark, sf, dir, "serve")
    assert(ext.Similarity.annServeStateFromArtifacts(spark, dir)._2
      .count() == spark.read.parquet(s"$sf/embeddings.parquet").count(),
      "the serve refresh must repair the half-compacted shelf")
  }

  test("append restamps compose in O(batch) to the full-scan stamp, and a crash replay repairs via the full scan") {
    import spark.implicits._
    // r18 (the r17 verdict's task #4): the fingerprint is an additive
    // wrapping sum, so a fresh append derives the relation stamp from
    // (old stamp + the committed partition's stamp) without reading
    // earlier batches. Pinned: after each of three appends the stamp
    // row EQUALS ArtifactShelf.stampOf over the full relation (and the
    // stamped load passes); a partition committed WITHOUT its restamp
    // (crash between rename and restamp) fails loudly, and replaying
    // the append with the same batch id repairs via the full scan.
    val dir = copyShelf("shelf_stampinc")
    val baseMax = spark.read.parquet(s"$dir/art_serve_inverted")
      .agg(max(col("id2"))).head().getLong(0)
    def rows(ids: Seq[Long]) = ids.map { i =>
      ((i % 7).toInt, i, Seq(0.3f, 0.4f), 2.0, Seq(4L, 5L))
    }.toDF("cell", "id2", "v2", "n2", "cc")
      .select(col("cell").cast("int").as("cell"), col("id2"),
        col("v2"), col("n2"), col("cc"))
    (0 until 3).foreach { b =>
      val ids = (0 until 6).map(i => baseMax + 1L + b * 6 + i)
      Pipeline.appendServeDelta(spark, dir, rows(ids))
      val want = ArtifactShelf.stampOf(
        spark.read.parquet(s"$dir/art_serve_delta"))
      val got = spark.read.parquet(s"$dir/art_build_stamp")
        .filter(col("artifact") === "art_serve_delta")
        .collect().map(r => (r.getLong(1), r.getLong(2))).head
      assert(got == want,
        s"composed stamp $got diverges from the full-scan stamp $want " +
          s"after append ${b + 1}")
      ArtifactShelf.table(spark, dir, "art_serve_delta")
    }
    // Crash sim: a rename that committed without its restamp.
    val crashRows = rows((0 until 4).map(i => baseMax + 100L + i))
      .localCheckpoint()
    crashRows.write.mode("overwrite")
      .parquet(s"$dir/art_serve_delta/batch_id=crash_x")
    intercept[IllegalArgumentException] {
      ArtifactShelf.table(spark, dir, "art_serve_delta")
    }
    // Replay with the same id: commit no-ops, restamp takes the
    // full-scan repair path, the load passes again.
    Pipeline.appendServeDelta(spark, dir, crashRows, batchId = "crash_x")
    val repaired = spark.read.parquet(s"$dir/art_build_stamp")
      .filter(col("artifact") === "art_serve_delta")
      .collect().map(r => (r.getLong(1), r.getLong(2))).head
    assert(repaired == ArtifactShelf.stampOf(
      spark.read.parquet(s"$dir/art_serve_delta")),
      "the replay must repair the stamp from the full scan")
    ArtifactShelf.table(spark, dir, "art_serve_delta")
    // A purely-numeric batch id is refused (partition-type inference
    // would make the composed stamp diverge from the full scan).
    intercept[IllegalArgumentException] {
      Pipeline.appendServeDelta(spark, dir,
        rows(Seq(baseMax + 200L)), batchId = "123")
    }
  }

  test("streaming tombstone topology applies exactly one tombstone per removed doc across a checkpoint restart") {
    import spark.implicits._
    // r18 (the r17 verdict's task #3 — serveDeltaStream's removal
    // mirror): per-doc admission verdicts → the version diff against
    // the shelf's frozen v1 membership (diffDocsIncrement, one status
    // construction) → emit-once state → appendServeTombstones under a
    // checkpoint. The query is stopped COLD between waves and wave 2
    // RE-DELIVERS all of wave 1 (the at-least-once upstream): the
    // recovered emit-once state absorbs the re-delivery, so the
    // double-removal guard never fires on it. Pinned: exactly one
    // tombstone per removed v1 doc, one versioned batch per emitting
    // wave, the served state excludes exactly the mapped ids, and the
    // final state equals the batch-applied path on a twin shelf.
    val dir = copyShelf("shelf_tombstream")
    val twin = copyShelf("shelf_tombstream_twin")
    val v1Docs = ArtifactShelf.table(spark, dir, "art_corpus_v1_members")
      .orderBy("doc_id").limit(6).collect().map(_.getLong(0))
    assert(v1Docs.length == 6, "fixture needs 6 v1 member docs")
    val stockIds = spark.read.parquet(s"$sf/embeddings.parquet")
      .orderBy("vec_id").limit(8).collect().map(_.getLong(0))
    // Removed docs map to distinct served vector ids; one verdict
    // covers a doc OUTSIDE v1 (emits nothing) and one v1 doc arrives
    // admitted (unchanged — no tombstone).
    val docToVec = Seq(
      v1Docs(0) -> stockIds(1), v1Docs(1) -> stockIds(3),
      v1Docs(2) -> stockIds(5)).toDF("doc_id", "id2")
    val wave1 = Seq(
      streaming.StreamOps.DiffDoc(v1Docs(0), 0L),
      streaming.StreamOps.DiffDoc(v1Docs(1), 0L),
      streaming.StreamOps.DiffDoc(v1Docs(3), 1L),
      streaming.StreamOps.DiffDoc(99999999L, 0L))
    val wave2 = Seq(streaming.StreamOps.DiffDoc(v1Docs(2), 0L))
    val dirs = java.nio.file.Files.createTempDirectory("tombstream")
    val (in, ckpt) = (s"$dirs/in", s"$dirs/ckpt")
    wave1.toDS().write.mode("append").parquet(in)
    val q1 = Pipeline.serveTombstoneStream(spark, dir, in, ckpt, docToVec)
    q1.processAllAvailable(); q1.stop()
    (wave2 ++ wave1).toDS().write.mode("append").parquet(in)
    val q2 = Pipeline.serveTombstoneStream(spark, dir, in, ckpt, docToVec)
    q2.processAllAvailable(); q2.stop()
    val tombs = spark.read.parquet(s"$dir/art_serve_tombstones")
    val removedVecs = Set(stockIds(1), stockIds(3), stockIds(5))
    assert(tombs.select("id2").collect().map(_.getLong(0)).toSet
      == removedVecs && tombs.count() == 3L,
      s"exactly one tombstone per removed doc: ${tombs.collect().toSeq}")
    assert(tombs.select("batch_id").distinct().count() == 2L,
      "each emitting wave commits its own versioned batch")
    def key(d: String) =
      ext.Similarity.annServeStateFromArtifacts(spark, d)._2
        .select("id2").collect().map(_.getLong(0)).toSet
    val served = key(dir)
    assert(removedVecs.forall(!served.contains(_)),
      "a streamed tombstone id survived in the served state")
    // Batch-applied parity on the twin shelf.
    Pipeline.appendServeTombstones(spark, twin,
      removedVecs.toSeq.sorted.toDF("id2"))
    assert(served == key(twin),
      "streamed tombstones diverge from the batch-applied path")
  }

  test("deployed content diff over span artifacts equals the gated transform diff") {
    import spark.implicits._
    // r16 (the membership diff's r15 treatment applied to the transform
    // diff): the span group persists the published artifact's keep set
    // and the per-doc n_removed verdicts; contentDiffFromArtifacts'
    // 3-status tail over them — two id joins on stamped slim parquet —
    // must reproduce the gated x_corpus_diff_content row-for-row.
    val deployed = ext.CorpusPrep.contentDiffFromArtifacts(spark, sf, shelfDir)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val gated = ext.CorpusPrep.xCorpusDiffContent(spark, sf)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(deployed == gated,
      s"deployed content diff diverges from the gated arm: " +
        s"extra=${(deployed.toSet -- gated.toSet).take(5)} " +
        s"missing=${(gated.toSet -- deployed.toSet).take(5)}")
    assert(gated.map(_._2).toSet.contains("removed") &&
      gated.map(_._2).toSet.contains("unchanged"),
      s"stock corpus should exercise removed+unchanged, got " +
        s"${gated.map(_._2).toSet}")
    // The stock corpus carries no span-modified doc, so 'modified' is
    // exercised through the DEPLOYED arm on the planted 3-doc fixture
    // (the gated arm's own planted spec): refresh the span group's
    // artifacts against the planted corpus, then the artifact-backed
    // tail must emit the pinned verdict map — all three statuses.
    def toks(p: String, n: Int): Seq[String] = (1 to n).map(i => s"$p${i}w")
    val S = toks("qdpm", 29) ++ Seq("der", "und", "das")
    val T = toks("qdpt", 32)
    val Sp = toks("qdpr", 29) ++ Seq("der", "und", "das")
    val U = toks("qdpu", 47) ++ Seq("der", "und", "das")
    val corpus = java.nio.file.Files.createTempDirectory("cdiffdep").toString
    Seq((9200001L, (S ++ T ++ S).mkString(" "), "de", "srcx", 1L),
        (9200002L, U.mkString(" "), "de", "srcx", 1L),
        (9200003L, (Sp ++ Sp ++ Sp).mkString(" "), "de", "srcx", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$corpus/documents.parquet")
    import java.nio.file.{Files, Path, Paths}
    val copy = GraftTest.copyShelf("cdiff_shelf")
    Pipeline.refreshShelfGroup(spark, corpus, copy, "span")
    val dep2 = ext.CorpusPrep.contentDiffFromArtifacts(spark, corpus, copy)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(dep2 == Map(9200001L -> "modified", 9200002L -> "unchanged",
      9200003L -> "removed"),
      s"deployed content-diff verdicts on the planted corpus: $dep2")
  }

  test("vector ingest funnel attributes each verdict to its first failing dimension") {
    import spark.implicits._
    // The vector gate's funnel mirror of the doc-gate fixture: a dup
    // that is ALSO flagged must attribute to exact_dup (first in
    // policy order), a keeper with flags to contamination, clean
    // keepers to admitted.
    def v(id: Long, dup: Long, flags: Long): streaming.StreamOps.IngestVecVerdict =
      streaming.StreamOps.IngestVecVerdict(id, if (dup == 1L) 0L else id,
        dup, 3L, Seq(1L), Seq(5L), flags,
        if (dup == 0L && flags == 0L) 1L else 0L,
        if (dup == 0L && flags == 0L) Array(0.1f, 0.2f) else null)
    val rows = Seq(v(1, 1, 2), v(2, 1, 0), v(3, 0, 1), v(4, 0, 0), v(5, 0, 0))
    val out = streaming.StreamOps.ingestVecAuditRollup(rows.toDF()).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(out == Seq((0L, "exact_dup", 2L), (1L, "contamination", 1L),
      (2L, "admitted", 2L)), s"funnel: $out")
  }

  test("vector prep audit partitions the pool and its kept row IS the FULL arm's output") {
    // The embedding-side audit contract (the text audit's twin), pinned
    // vec-for-vec over the per-vector attribution relation: every raw
    // vector attributed EXACTLY once, and the terminal 'kept' class is
    // SET-equal to x_emb_corpus_prep_full's emitted vec_ids (count
    // equality alone would admit one wrong drop + one wrong keep).
    val per = ext.Similarity.embAuditVectors(spark, sf)
      .select("vec_id", "stage").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val total = Tables.embeddings(spark, sf).count()
    assert(per.length.toLong == total && per.map(_._1).distinct.length == per.length,
      s"audit attributes ${per.length} rows over $total vectors (must be exactly one each)")
    val kept = per.filter(_._2 == "kept").map(_._1).toSet
    val full = ext.Similarity.xEmbCorpusPrepFull(spark, sf)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(kept == full,
      s"audit kept-set diverges from the FULL arm: extra=${kept -- full}, missing=${full -- kept}")
    // And the gated rollup is exactly this relation's funnel.
    val rollup = ext.Similarity.xEmbCorpusPrepAudit(spark, sf).collect()
      .map(r => (r.getString(1), r.getLong(2))).toMap
    val want = per.groupBy(_._2).map { case (s, rs) => s -> rs.length.toLong }
    assert(rollup == want, s"rollup $rollup != per-vector funnel $want")
  }

  test("drift monitors return an empty report over an empty corpus") {
    import spark.implicits._
    // The half-split guard: max(id) over no rows is null — both gates
    // must return zero rows, not NPE on the driver-collected split.
    val tmp = java.nio.file.Files.createTempDirectory("emptydrift").toString
    Seq.empty[(Long, String, String, String, Long)]
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    Seq.empty[(Long, Int, Array[Float])]
      .toDF("vec_id", "label", "embedding")
      .write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
    assert(ext.TextAnalysis.xCorpusDrift(spark, tmp).count() == 0L)
    assert(ext.Similarity.xEmbDrift(spark, tmp).count() == 0L)
  }

  test("vector drift zero-fills a label present in only one half as pure drift") {
    import spark.implicits._
    // A planted corpus where label 7 exists ONLY in the arriving half:
    // the reference side must zero-fill (ref_share_bp = 0), the delta
    // equals the live share, and the alarm flag fires — an appearing
    // source reads as drift instead of vanishing from the report.
    val tmp = java.nio.file.Files.createTempDirectory("embdrift").toString
    val rows = (0L until 40L).map { i =>
      val label = if (i >= 30L) 7 else (i % 3L).toInt // 7 only at ids 30+
      (i, label, Array.fill(4)(0.1f * (i % 5L + 1L)))
    }
    rows.toDF("vec_id", "label", "embedding")
      .write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
    val out = ext.Similarity.xEmbDrift(spark, tmp).collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))).toMap
    // half = 20: ref half ids 0..19 (labels 0,1,2), live half 20..39
    // (ids 20..29 labels 0,1,2; 30..39 all label 7 = 5000 bp).
    assert(out(7) == ((0L, 5000L, 5000L, 1L)),
      s"appearing label must read as pure drift: ${out(7)}")
    assert(out.keySet == Set(0, 1, 2, 7), s"labels: ${out.keySet}")
    out.filter(_._1 != 7).values.foreach { case (ref, nw, d, _) =>
      assert(d == nw - ref)
    }
  }

  test("observability artifacts are the gated relations row-for-row") {
    // The materializeSpanCleanCorpus rule applied to the r13 column:
    // every published card/audit/drift table must BE its gated
    // operator's result — a drifted artifact would ship wrong answers
    // next to the corpus.
    val tmp = java.nio.file.Files.createTempDirectory("observ").toString
    val counts = Pipeline.materializeObservability(spark, sf, tmp)
    val gated = Map(
      "corpus_card" -> ext.TextAnalysis.xCorpusManifest(spark, sf),
      "corpus_audit" -> ext.CorpusPrep.xLlmCorpusPrepAudit(spark, sf),
      "corpus_drift" -> ext.TextAnalysis.xCorpusDrift(spark, sf),
      "emb_card" -> ext.Similarity.xEmbManifest(spark, sf),
      "emb_audit" -> ext.Similarity.xEmbCorpusPrepAudit(spark, sf),
      "emb_drift" -> ext.Similarity.xEmbDrift(spark, sf))
    assert(counts.keySet == gated.keySet)
    gated.foreach { case (name, df) =>
      val artifact = spark.read.parquet(s"$tmp/$name")
        .collect().map(_.toSeq).toSet
      val expect = df.collect().map(_.toSeq).toSet
      assert(artifact == expect, s"$name artifact diverges from the gate")
    }
  }

  test("deployed attribution arm equals the live audits row-for-row") {
    // The r14 deployed shape: the Pipeline persists the slim per-stage
    // verdict relations once; auditFromArtifacts/embAuditFromArtifacts
    // are the id-join + CASE tail over them. Their per-row attribution
    // must equal the live audit-shaped derivations exactly — the parity
    // that lets production answer attribution questions without chain
    // re-runs.
    val liveDoc = ext.CorpusPrep.auditCorpus(spark, sf)
      .select("doc_id", "stage_ord", "stage")
      .collect().map(_.toSeq).toSet
    val artDoc = ext.CorpusPrep.auditFromArtifacts(spark, verdDir)
      .select("doc_id", "stage_ord", "stage")
      .collect().map(_.toSeq).toSet
    assert(artDoc == liveDoc,
      s"text deployed attribution diverges: extra=${(artDoc -- liveDoc).take(3)} " +
        s"missing=${(liveDoc -- artDoc).take(3)}")
    val liveVec = ext.Similarity.embAuditVectors(spark, sf)
      .select("vec_id", "stage_ord", "stage")
      .collect().map(_.toSeq).toSet
    val artVec = ext.Similarity.embAuditFromArtifacts(spark, sf, verdDir)
      .select("vec_id", "stage_ord", "stage")
      .collect().map(_.toSeq).toSet
    assert(artVec == liveVec,
      s"vector deployed attribution diverges: extra=${(artVec -- liveVec).take(3)} " +
        s"missing=${(liveVec -- artVec).take(3)}")
  }

  test("a version-skewed verdict dir fails loudly at attribution, clean copy passes") {
    // The r12 shelf skew guard extended to prep_verdicts (the r14
    // verdict's gap #1): a verdict dir where ONE relation was
    // regenerated against a changed corpus (partial rebuild) must fail
    // at LOAD inside auditFromArtifacts/embAuditFromArtifacts — never
    // silently feed the attribution tail skewed verdicts. Symlink
    // copies of the shared build with exactly one relation rewritten,
    // so the stamp is the original build's.
    import java.nio.file.{Files, Paths}
    def skewCopy(tamper: String)(rewrite: String => Unit): String = {
      val dir = Files.createTempDirectory(s"verd_skew").toString
      new java.io.File(verdDir).listFiles().foreach { f =>
        if (f.getName != tamper)
          Files.createSymbolicLink(Paths.get(dir, f.getName), f.toPath)
      }
      rewrite(dir)
      dir
    }
    // Text side: the near-dup losers regenerated one doc short (a
    // corpus that grew after the stamp) — count AND fingerprint move.
    val skewNear = skewCopy("verd_near_lose") { dir =>
      val ids = spark.read.parquet(s"$verdDir/verd_near_lose")
      ids.limit(ids.count().toInt - 1)
        .write.parquet(s"$dir/verd_near_lose")
    }
    val e1 = intercept[IllegalArgumentException] {
      ext.CorpusPrep.auditFromArtifacts(spark, skewNear)
    }
    assert(e1.getMessage.contains("version skew"), e1.getMessage)
    // Vector side: same COUNT, different content (one id shifted) —
    // the fingerprint, not the count, must catch it.
    val skewKeep = skewCopy("verd_emb_keep") { dir =>
      spark.read.parquet(s"$verdDir/verd_emb_keep")
        .withColumn("vec_id", col("vec_id") + lit(1000000L))
        .write.parquet(s"$dir/verd_emb_keep")
    }
    val e2 = intercept[IllegalArgumentException] {
      ext.Similarity.embAuditFromArtifacts(spark, sf, skewKeep)
    }
    assert(e2.getMessage.contains("version skew"), e2.getMessage)
    // Control: an untampered symlink copy attributes identically to
    // the original through the same stamped loads.
    val clean = skewCopy("__none__")(_ => ())
    assert(ext.CorpusPrep.auditFromArtifacts(spark, clean)
      .select("doc_id", "stage_ord").collect().map(_.toSeq).toSet ==
      ext.CorpusPrep.auditFromArtifacts(spark, verdDir)
        .select("doc_id", "stage_ord").collect().map(_.toSeq).toSet)
  }

  test("ingest audit rollup attributes each verdict to its first failing gate dimension") {
    import spark.implicits._
    // One planted verdict per reject class, in every case also failing
    // a LATER dimension (so the rollup provably attributes to the
    // FIRST, not to any), plus two admitted rows. The verdict columns
    // themselves are parity-spec'd against the standalone gates by the
    // full-matrix spec; this pins the funnel consumer's semantics.
    def v(id: Long, hub: Long, win: Long, mix: Long, smp: Long,
        nRem: Long, c4: Long, dsir: Long): streaming.StreamOps.IngestFullVerdict =
      streaming.StreamOps.IngestFullVerdict(id, "en", 4L, nRem, 10L, "h",
        hub, win, mix, smp, c4, if (c4 == 0L) 1L else 0L, 10L, Some(1.0),
        dsir, "c0", 0.5,
        if (hub == 0L && win == 0L && mix == 1L && smp == 1L &&
          2L * nRem <= 4L && c4 == 0L && dsir == 1L) 1L else 0L)
    val rows = Seq(
      v(1, 2, 1, 0, 0, 3, 7, 0), // hub first, everything else failing too
      v(2, 0, 1, 0, 0, 3, 7, 0), // winnow
      v(3, 0, 0, 0, 0, 3, 7, 0), // mix
      v(4, 0, 0, 1, 0, 3, 7, 0), // sample
      v(5, 0, 0, 1, 1, 3, 7, 0), // span-majority (2*3 > 4)
      v(6, 0, 0, 1, 1, 0, 7, 0), // c4
      v(7, 0, 0, 1, 1, 0, 0, 0), // dsir
      v(8, 0, 0, 1, 1, 0, 0, 1), // admitted
      v(9, 0, 0, 1, 1, 2, 0, 1)) // admitted (2*2 <= 4 boundary)
    assert(rows.count(_.admitted == 1L) == 2, "fixture self-check")
    val out = streaming.StreamOps.ingestAuditRollup(rows.toDF()).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val want = streaming.StreamOps.ingestAuditStages.zipWithIndex.map {
      case (s, i) => (i.toLong, s, if (s == "admitted") 2L else 1L)
    }
    assert(out.toSeq == want,
      s"funnel ${out.toSeq} != expected $want")
  }
}
