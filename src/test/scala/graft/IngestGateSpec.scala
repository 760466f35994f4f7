package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Specs for the composed one-topology ingest gates, the span/manifest
  * streaming surfaces, the embedding dedup family, and the curated /
  * keep-best prep arms (split from ExtensionsSpec in r14; fixtures
  * shared via GraftTest).
  */
class IngestGateSpec extends AnyFunSuite {
  private val sf = GraftTest.sf
  lazy val spark: SparkSession = GraftTest.spark
  lazy val shelfDir: String = GraftTest.shelf._1
  lazy val shelfCounts: Map[String, Long] = GraftTest.shelf._2

  /** Rows held across the query's state stores after its last batch. */
  private def stateRows(q: org.apache.spark.sql.streaming.StreamingQuery): Long =
    q.lastProgress.stateOperators.map(_.numRowsTotal).sum

  test("one-topology ingest gate composes span-clean, screen, and mix from the shelf") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // The production ingest path end-to-end: build the artifact shelf
    // once, load every frozen state through ArtifactShelf (ship → load
    // → gate, no trainer in the topology), stream the span-admission
    // arrivals through the SINGLE composed stateful stage across two
    // micro-batches plus a replay, and require the per-doc verdicts to
    // equal the COMPOSITION of the standalone gated operators:
    // xDedupSpanAdmit's cleaning, the batch boilerplate screen's hub
    // flags, and the mix cut rule — with the prep span-majority cut as
    // the admission policy. At sf0.001 all three dimensions are active
    // among arrivals (7 span-cut docs, 10 hub flags, mix rejections),
    // pinned below so the parity cannot go vacuous.
    val tmp = shelfDir
    val spanIdx = ArtifactShelf.table(spark, tmp, "art_span_admit_index")
      .localCheckpoint()
    val hubFps = ArtifactShelf.table(spark, tmp, "art_boilerplate_hub_index")
      .localCheckpoint()
    val cuts = ArtifactShelf.table(spark, tmp, "art_mix_cuts").collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val half = ArtifactShelf.splits(spark, tmp)("span_admit")
    val arrivals = Tables.documents(spark, sf)
      .filter(col("doc_id") >= half)
      .select("doc_id", "text", "lang").collect()
      .map(r => streaming.StreamOps.IngestDoc(r.getLong(0),
        new java.sql.Timestamp(0L), r.getString(1), r.getString(2)))
      .sortBy(_.doc_id)
    val (b1, b2) = arrivals.splitAt(arrivals.length / 2)
    val input = MemoryStream[streaming.StreamOps.IngestDoc]
    val query = streaming.StreamOps
      .ingestDocs(input.toDS(), spanIdx, hubFps, cuts)
      .writeStream.format("memory").queryName("ingest_gate_out")
      .outputMode("append").start()
    input.addData(b1.toSeq)
    query.processAllAvailable()
    input.addData(b2.toSeq)
    query.processAllAvailable()
    input.addData(arrivals.toSeq) // at-least-once replay
    query.processAllAvailable()
    val streamed = spark.sql(
      """SELECT doc_id, lang, n_spans, n_removed, n_clean_tokens,
        |  clean_hash, n_hub_flags, mix_kept, admitted
        |FROM ingest_gate_out""".stripMargin)
      .collect().map(r => r.getLong(0) -> r.toSeq.toVector).toMap
    query.stop()
    assert(streamed.size == arrivals.length,
      s"one verdict per arrival incl. replay: ${streamed.size}/${arrivals.length}")
    // The batch composition of the three standalone gated operators.
    val spans = ext.Dedup.xDedupSpanAdmit(spark, sf).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))).toMap
    val hubFlags = ext.TextAnalysis.xTextBoilerplateScreen(spark, sf)
      .filter(col("doc_id") >= half)
      .groupBy("doc_id").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val mixKept = streaming.StreamOps.mixDocs(
      arrivals.map(d => streaming.StreamOps.LangDoc(d.doc_id, d.lang))
        .toSeq.toDS(), cuts)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(spans.count(_._2._2 > 0L) == 7 && hubFlags.nonEmpty
      && mixKept.values.sum < arrivals.length,
      "all three gate dimensions must be active among arrivals " +
        s"(${spans.count(_._2._2 > 0L)} span-cut, ${hubFlags.size} " +
        s"hub-flagged, ${mixKept.values.sum}/${arrivals.length} mix-kept)")
    val expected = arrivals.map { d =>
      val (nSpans, nRemoved, nClean, hash) = spans(d.doc_id)
      val nHubs = hubFlags.getOrElse(d.doc_id, 0L)
      val mk = mixKept(d.doc_id)
      val admitted = if (nHubs == 0L && mk == 1L &&
        2L * nRemoved <= nSpans) 1L else 0L
      d.doc_id -> Vector[Any](d.doc_id, d.lang, nSpans, nRemoved, nClean,
        hash, nHubs, mk, admitted)
    }.toMap
    assert(streamed == expected,
      "composed ingest verdicts diverged from the standalone gates: " +
        s"stream-only=${(streamed.toSet -- expected.toSet).take(3)} " +
        s"batch-only=${(expected.toSet -- streamed.toSet).take(3)}")
    assert(expected.values.count(_.last == 1L) > 0,
      "the composed policy must admit at least one doc")
  }

  test("full-matrix ingest gate equals the composed standalone gates on all eight dimensions") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // The r11 verdict's task #3: the production gate consults the WHOLE
    // frozen admission matrix — span index, hub screen, mix cut, C4
    // hard rules, DSIR weight (join arm over the shelf relation), NB
    // class (join arm) — folded by ONE stateful stage. Stream the
    // unadmitted half across two micro-batches plus a replay and
    // require every verdict column to equal the standalone gates'
    // composition, shelf-loaded end to end.
    val tmp = shelfDir
    val spanIdx = ArtifactShelf.table(spark, tmp, "art_span_admit_index")
      .localCheckpoint()
    val hubFps = ArtifactShelf.table(spark, tmp, "art_boilerplate_hub_index")
      .localCheckpoint()
    val cuts = ArtifactShelf.table(spark, tmp, "art_mix_cuts").collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val ratiosDf = ArtifactShelf.table(spark, tmp, "art_dsir_ratios")
      .localCheckpoint()
    val (unseen, cutW, cutId) = ArtifactShelf.dsirConsts(spark, tmp)
    val nb = ArtifactShelf.nbState(spark, tmp)
    val nbMeta = nb.map { case (c, p, d, _) => (c, p, d) }
    val termsDf = ArtifactShelf.table(spark, tmp, "art_nb_terms")
      .localCheckpoint()
    val winnowIdx = ArtifactShelf.table(spark, tmp, "art_winnow_admit_index")
      .localCheckpoint()
    val rates = ArtifactShelf.table(spark, tmp, "art_sample_rates")
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val half = ArtifactShelf.splits(spark, tmp)("span_admit")
    val arrivals = Tables.documents(spark, sf)
      .filter(col("doc_id") >= half)
      .select("doc_id", "text", "lang").collect()
      .map(r => streaming.StreamOps.IngestDoc(r.getLong(0),
        new java.sql.Timestamp(0L), r.getString(1), r.getString(2)))
      .sortBy(_.doc_id)
    val (b1, b2) = arrivals.splitAt(arrivals.length / 2)
    val input = MemoryStream[streaming.StreamOps.IngestDoc]
    val query = streaming.StreamOps
      .ingestDocsFull(input.toDS(), spanIdx, hubFps, winnowIdx, cuts,
        rates, ratiosDf, unseen, cutW, cutId, nbMeta, termsDf)
      .writeStream.format("memory").queryName("ingest_full_out")
      .outputMode("append").start()
    input.addData(b1.toSeq)
    query.processAllAvailable()
    input.addData(b2.toSeq)
    query.processAllAvailable()
    val rowsIngested = stateRows(query)
    input.addData(arrivals.toSeq) // at-least-once replay
    query.processAllAvailable()
    val rowsReplayed = stateRows(query)
    assert(rowsIngested == arrivals.length && rowsReplayed == rowsIngested,
      s"doc gate state must hold one row per ingested doc and a replay " +
        s"must add none: $rowsIngested/$rowsReplayed rows for " +
        s"${arrivals.length} docs")
    val streamed = spark.sql(
      """SELECT doc_id, lang, n_spans, n_removed, n_clean_tokens,
        |  clean_hash, n_hub_flags, n_winnow_flags, mix_kept, sampled,
        |  c4_fail_mask, c4_keep,
        |  n_tokens, dsir_weight, dsir_selected, nb_pred, nb_score,
        |  admitted
        |FROM ingest_full_out""".stripMargin)
      .collect().map(r => r.getLong(0) -> r.toSeq.toVector).toMap
    query.stop()
    assert(streamed.size == arrivals.length,
      s"one verdict per arrival incl. replay: ${streamed.size}/${arrivals.length}")
    // The batch composition of the eight standalone gated operators.
    val winFlags = ext.TextAnalysis.xTextWinnowAdmit(spark, sf)
      .groupBy(col("doc_new")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val sampled = streaming.StreamOps.sampleDocs(
      arrivals.map(d => streaming.StreamOps.LangDoc(d.doc_id, d.lang))
        .toSeq.toDS(), rates)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val spans = ext.Dedup.xDedupSpanAdmit(spark, sf).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))).toMap
    val hubFlags = ext.TextAnalysis.xTextBoilerplateScreen(spark, sf)
      .filter(col("doc_id") >= half)
      .groupBy("doc_id").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val mixKept = streaming.StreamOps.mixDocs(
      arrivals.map(d => streaming.StreamOps.LangDoc(d.doc_id, d.lang))
        .toSeq.toDS(), cuts)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val c4 = ext.TextAnalysis.xTextC4Rules(spark, sf)
      .filter(col("doc_id") >= half)
      .select("doc_id", "fail_mask", "keep").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val dsir = streaming.StreamOps.selectDocs(
        arrivals.map(d => streaming.StreamOps.DocIn(d.doc_id,
          new java.sql.Timestamp(0L), d.text)).toSeq.toDS(),
        ArtifactShelf.dsirRatios(spark, tmp), unseen, cutW, cutId)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1),
          Option(r.getAs[java.lang.Double]("dsir_weight")).map(_.toDouble),
          r.getLong(3)))).toMap
    val nbPred = streaming.StreamOps.classifyDocsJoin(
        arrivals.map(d => streaming.StreamOps.LabeledDoc(d.doc_id,
          new java.sql.Timestamp(0L), d.text, "")).toSeq.toDS(),
        nbMeta, termsDf)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(2), r.getDouble(3)))).toMap
    // All eight dimensions must be active among arrivals so the parity
    // cannot go vacuous.
    assert(spans.count(_._2._2 > 0L) > 0 && hubFlags.nonEmpty
      && winFlags.nonEmpty
      && mixKept.values.sum < arrivals.length
      && sampled.values.sum < arrivals.length
      && c4.values.exists(_._2 == 0L)
      && dsir.values.exists(_._3 == 1L) && dsir.values.exists(_._3 == 0L)
      && nbPred.values.map(_._1).toSet.size > 1,
      "all eight gate dimensions must be active among arrivals: " +
        s"${spans.count(_._2._2 > 0L)} span-cut, ${hubFlags.size} hub-" +
        s"flagged, ${winFlags.size} winnow-flagged, " +
        s"${mixKept.values.sum}/${arrivals.length} mix-kept, " +
        s"${sampled.values.sum}/${arrivals.length} sampled, " +
        s"${c4.values.count(_._2 == 0L)} c4-failed, " +
        s"${dsir.values.count(_._3 == 1L)} dsir-selected, " +
        s"${nbPred.values.map(_._1).toSet.size} predicted classes")
    val expected = arrivals.map { d =>
      val (nSpans, nRemoved, nClean, hash) = spans(d.doc_id)
      val nHubs = hubFlags.getOrElse(d.doc_id, 0L)
      val nWin = winFlags.getOrElse(d.doc_id, 0L)
      val mk = mixKept(d.doc_id)
      val smp = sampled(d.doc_id)
      val (c4Mask, c4Keep) = c4(d.doc_id)
      val (nToks, w, sel) = dsir(d.doc_id)
      val (pred, score) = nbPred(d.doc_id)
      val admitted = if (nHubs == 0L && nWin == 0L && mk == 1L &&
        smp == 1L && 2L * nRemoved <= nSpans && c4Mask == 0L &&
        sel == 1L) 1L else 0L
      d.doc_id -> Vector[Any](d.doc_id, d.lang, nSpans, nRemoved, nClean,
        hash, nHubs, nWin, mk, smp, c4Mask, c4Keep, nToks, w.orNull, sel,
        pred, score, admitted)
    }.toMap
    val diff = (streamed.keySet ++ expected.keySet)
      .filter(k => streamed.get(k) != expected.get(k))
    assert(diff.isEmpty,
      s"full-matrix verdicts diverged on ${diff.size} docs, e.g. " +
        diff.take(2).map(k =>
          s"$k:\n  stream=${streamed.get(k)}\n  batch =${expected.get(k)}")
          .mkString("\n"))
    assert(expected.values.count(_.last == 1L) > 0,
      "the composed policy must admit at least one doc")
  }

  test("full-matrix gate survives a checkpoint restart on a real file source, exactly-once") {
    import spark.implicits._
    // The production wiring, not MemoryStream: arrivals land as parquet
    // files, the gate reads them through a file SOURCE, writes verdicts
    // through a parquet SINK with a checkpoint, is STOPPED cold between
    // batches, and restarted from the checkpoint — with the second wave
    // re-delivering part of the first (an at-least-once upstream). The
    // persisted output must hold exactly ONE verdict per doc, equal to
    // the straight-through run's rows: state and source offsets both
    // recover from the checkpoint.
    val tmp = shelfDir
    val spanIdx = ArtifactShelf.table(spark, tmp, "art_span_admit_index")
      .localCheckpoint()
    val hubFps = ArtifactShelf.table(spark, tmp, "art_boilerplate_hub_index")
      .localCheckpoint()
    val cuts = ArtifactShelf.table(spark, tmp, "art_mix_cuts").collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val ratiosDf = ArtifactShelf.table(spark, tmp, "art_dsir_ratios")
      .localCheckpoint()
    val (unseen, cutW, cutId) = ArtifactShelf.dsirConsts(spark, tmp)
    val nbMeta = ArtifactShelf.nbState(spark, tmp)
      .map { case (c, p, d, _) => (c, p, d) }
    val termsDf = ArtifactShelf.table(spark, tmp, "art_nb_terms")
      .localCheckpoint()
    val winnowIdx = ArtifactShelf.table(spark, tmp, "art_winnow_admit_index")
      .localCheckpoint()
    val rates = ArtifactShelf.table(spark, tmp, "art_sample_rates")
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val half = ArtifactShelf.splits(spark, tmp)("span_admit")
    val arrivals = Tables.documents(spark, sf)
      .filter(col("doc_id") >= half)
      .select("doc_id", "text", "lang").collect()
      .map(r => streaming.StreamOps.IngestDoc(r.getLong(0),
        new java.sql.Timestamp(0L), r.getString(1), r.getString(2)))
      .sortBy(_.doc_id)
    val (b1, b2) = arrivals.splitAt(arrivals.length / 2)
    val dirs = java.nio.file.Files.createTempDirectory("ingestfile")
    val (in, out, ckpt) = (s"$dirs/in", s"$dirs/out", s"$dirs/ckpt")
    val sch = org.apache.spark.sql.Encoders
      .product[streaming.StreamOps.IngestDoc].schema
    def start() = streaming.StreamOps.ingestDocsFull(
        spark.readStream.schema(sch).parquet(in)
          .as[streaming.StreamOps.IngestDoc],
        spanIdx, hubFps, winnowIdx, cuts, rates, ratiosDf, unseen,
        cutW, cutId, nbMeta, termsDf)
      .writeStream.format("parquet").outputMode("append")
      .option("path", out).option("checkpointLocation", ckpt).start()
    b1.toSeq.toDS().write.mode("append").parquet(in)
    val q1 = start(); q1.processAllAvailable(); q1.stop()
    // Wave 2: the rest PLUS a re-delivery of the first wave's files.
    (b2 ++ b1.take(b1.length / 2)).toSeq.toDS()
      .write.mode("append").parquet(in)
    val q2 = start(); q2.processAllAvailable(); q2.stop()
    val persisted = spark.read.parquet(out)
    assert(persisted.count() == arrivals.length.toLong,
      s"exactly one verdict per doc across the restart: " +
        s"${persisted.count()}/${arrivals.length}")
    assert(persisted.select("doc_id").distinct().count()
      == arrivals.length.toLong, "duplicate doc_id verdicts after restart")
    // Spot-parity with the in-memory run's policy column: the restart
    // path must admit the same docs the one-shot topology admits.
    val restartAdmits = persisted.filter(col("admitted") === 1L)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[streaming.StreamOps.IngestDoc]
    val qm = streaming.StreamOps.ingestDocsFull(input.toDS(), spanIdx,
        hubFps, winnowIdx, cuts, rates, ratiosDf, unseen, cutW, cutId,
        nbMeta, termsDf)
      .writeStream.format("memory").queryName("ingest_restart_ref")
      .outputMode("append").start()
    input.addData(arrivals.toSeq); qm.processAllAvailable(); qm.stop()
    val refAdmits = spark.sql(
      "SELECT doc_id FROM ingest_restart_ref WHERE admitted = 1")
      .collect().map(_.getLong(0)).toSet
    assert(refAdmits.nonEmpty, "vacuous fixture: nothing admitted")
    assert(restartAdmits == refAdmits,
      s"restart path admitted ${restartAdmits.size} docs, " +
        s"one-shot ${refAdmits.size}")
  }

  test("composed vector ingest gate equals the four standalone surfaces shelf-loaded") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // The vector mirror of the full-matrix doc gate: exact-dedup
    // content verdict + frozen IVF assign + PQ encode + contamination
    // screen folded by ONE content-keyed stateful stage over
    // shelf-loaded state, parity vs the four standalone streaming/
    // stateless surfaces composed, across two micro-batches plus an
    // at-least-once replay (which must emit nothing new).
    val tmp = shelfDir
    val cents = ArtifactShelf.ivfCentroids(spark, tmp)
    val cbs = ArtifactShelf.pqCodebooks(spark, tmp)
    val evalIndex = ArtifactShelf
      .table(spark, tmp, "art_contamination_eval_index").localCheckpoint()
    val stock = spark.read.parquet(s"$sf/embeddings.parquet")
      .select("vec_id", "embedding").collect()
      .map(r => streaming.StreamOps.VecIn(r.getLong(0),
        r.getSeq[Float](1).toArray))
      .sortBy(_.vec_id)
    val maxId = stock.last.vec_id
    // Plant ids ABOVE the stock max (nondecreasing-arrival contract),
    // train-side by md5 bucket so the screen branch sees them.
    val buckets = (maxId + 1 to maxId + 300).toDF("vec_id")
      .withColumn("b", ext.TextAnalysis.md5Bucket(100, col("vec_id")))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val trainIds = buckets.toSeq.sortBy(_._1)
      .filter(_._2 >= 10).take(2).map(_._1)
    // An eval keeper the frozen index actually holds, for the
    // contamination plant (a scaled copy keeps cosine = 1.0).
    val evalId = evalIndex.select("eval_id").head.getLong(0)
    val evalVec = stock.find(_.vec_id == evalId).get.embedding
    val arrivals = (stock :+
      streaming.StreamOps.VecIn(trainIds(0), stock.head.embedding) :+
      streaming.StreamOps.VecIn(trainIds(1), evalVec.map(_ * 1.01f)))
      .sortBy(_.vec_id)
    val (b1, b2) = arrivals.splitAt(arrivals.length / 2)
    def runStream[T <: AnyRef : org.apache.spark.sql.Encoder](name: String,
        mk: org.apache.spark.sql.Dataset[streaming.StreamOps.VecIn]
          => org.apache.spark.sql.Dataset[T],
        replay: Boolean): (Long, Long) = {
      val input = MemoryStream[streaming.StreamOps.VecIn]
      val query = mk(input.toDS())
        .writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      input.addData(b1.toSeq); query.processAllAvailable()
      input.addData(b2.toSeq); query.processAllAvailable()
      val rowsIngested = stateRows(query)
      if (replay) { input.addData(b1.toSeq); query.processAllAvailable() }
      val rowsReplayed = stateRows(query)
      query.stop()
      (rowsIngested, rowsReplayed)
    }
    val (rowsIngested, rowsReplayed) = runStream("vec_ingest_out",
      ds => streaming.StreamOps.ingestVectors(ds, cents, cbs, evalIndex),
      replay = true)
    val distinctContents = arrivals.map(_.embedding.toSeq).distinct.length
    assert(rowsIngested == distinctContents && rowsReplayed == rowsIngested,
      s"vector gate state must hold one row per distinct content and a " +
        s"replay must add none: $rowsIngested/$rowsReplayed rows for " +
        s"$distinctContents distinct contents")
    val streamed = spark.sql(
      """SELECT vec_id, keeper_id, is_dup, cell, codes, sq8_codes, n_flags,
        |  admitted
        |FROM vec_ingest_out""".stripMargin)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getSeq[Long](4).toVector, r.getSeq[Long](5).toVector,
        r.getLong(6), r.getLong(7)))).toMap
    assert(streamed.size == arrivals.length,
      s"one verdict per arrival, replay emitting nothing new: " +
        s"${streamed.size}/${arrivals.length}")
    // The four standalone surfaces composed over the same arrivals.
    runStream("vec_dedup_ref",
      ds => streaming.StreamOps.dedupVectorsExactOnline(ds), replay = false)
    val dedup = spark.sql(
      "SELECT vec_id, keeper_id, is_dup FROM vec_dedup_ref")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    runStream("vec_screen_ref",
      ds => streaming.StreamOps.screenVectors(ds, evalIndex), replay = false)
    val flags = spark.sql(
      "SELECT vec_id, count(DISTINCT eval_id) FROM vec_screen_ref GROUP BY 1")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val arrivalsDs = arrivals.toSeq.toDS()
    val cells = streaming.StreamOps.assignVectors(arrivalsDs, cents)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val codes = streaming.StreamOps.encodeVectors(arrivalsDs, cbs)
      .collect().map(r => r.getLong(0) ->
        (1 until r.length).map(r.getLong).toVector).toMap
    val sq8 = streaming.StreamOps.encodeVectorsSq8(arrivalsDs)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toVector).toMap
    assert(dedup.values.exists(_._2 == 1L),
      "vacuous fixture: no exact duplicate among arrivals")
    assert(flags.nonEmpty, "vacuous fixture: no contamination flag")
    assert(cells.values.toSet.size > 1, "vacuous fixture: one cell")
    val expected = arrivals.map { v =>
      val (keeper, isDup) = dedup(v.vec_id)
      val nf = flags.getOrElse(v.vec_id, 0L)
      v.vec_id -> ((keeper, isDup, cells(v.vec_id), codes(v.vec_id),
        sq8(v.vec_id), nf,
        if (isDup == 0L && nf == 0L) 1L else 0L))
    }.toMap
    val diff = (streamed.keySet ++ expected.keySet)
      .filter(k => streamed.get(k) != expected.get(k))
    assert(diff.isEmpty,
      s"vector ingest verdicts diverged on ${diff.size} vecs, e.g. " +
        diff.take(3).map(k =>
          s"$k: gate=${streamed.get(k)} composed=${expected.get(k)}")
          .mkString("; "))
    assert(expected.values.count(_._7 == 1L) > 0,
      "the composed policy must admit at least one vector")
  }

  test("vector gate survives a checkpoint restart on a real file source, exactly-once") {
    import spark.implicits._
    // The ingestVectors mirror of the doc restart spec — its state is
    // the richer IngestVecState (keeper + maxSeen + emitted ids), so
    // this pins that the recovered state still dedups: wave 2
    // re-delivers part of wave 1 AND adds a fresh exact duplicate of a
    // wave-1 vector, which must come back is_dup = 1 against the
    // RECOVERED keeper.
    val tmp = shelfDir
    val cents = ArtifactShelf.ivfCentroids(spark, tmp)
    val cbs = ArtifactShelf.pqCodebooks(spark, tmp)
    val evalIndex = ArtifactShelf
      .table(spark, tmp, "art_contamination_eval_index").localCheckpoint()
    val stock = spark.read.parquet(s"$sf/embeddings.parquet")
      .select("vec_id", "embedding").collect()
      .map(r => streaming.StreamOps.VecIn(r.getLong(0),
        r.getSeq[Float](1).toArray))
      .sortBy(_.vec_id)
    val dupId = stock.last.vec_id + 7
    val (b1, b2pre) = stock.splitAt(stock.length / 2)
    // GROWN arm (r14): wave 2 also carries distinct-content synthetic
    // vectors (hash-perturbed wave-1 copies at high ids — the
    // buildGrownDir construction at spec scale), so the restart
    // contract is pinned under the growth regime too: recovered state
    // must admit each grown vector exactly once with is_dup = 0.
    val rng = new scala.util.Random(414)
    val grownIn = b1.take(20).zipWithIndex.map { case (src, i) =>
      streaming.StreamOps.VecIn(9600001L + i,
        src.embedding.map(x => x + (rng.nextFloat() - 0.5f) * 0.6f))
    }
    val b2 = (b2pre :+ streaming.StreamOps.VecIn(dupId, b1.head.embedding)) ++ grownIn
    val dirs = java.nio.file.Files.createTempDirectory("vecfile")
    val (in, out, ckpt) = (s"$dirs/in", s"$dirs/out", s"$dirs/ckpt")
    val sch = org.apache.spark.sql.Encoders
      .product[streaming.StreamOps.VecIn].schema
    def start() = streaming.StreamOps.ingestVectors(
        spark.readStream.schema(sch).parquet(in)
          .as[streaming.StreamOps.VecIn],
        cents, cbs, evalIndex)
      .writeStream.format("parquet").outputMode("append")
      .option("path", out).option("checkpointLocation", ckpt).start()
    b1.toSeq.toDS().write.mode("append").parquet(in)
    val q1 = start(); q1.processAllAvailable(); q1.stop()
    (b2 ++ b1.take(b1.length / 2)).toSeq.toDS()
      .write.mode("append").parquet(in)
    val q2 = start(); q2.processAllAvailable(); q2.stop()
    val persisted = spark.read.parquet(out)
    val want = stock.length + 1L + grownIn.length
    assert(persisted.count() == want,
      s"exactly one verdict per distinct arrival across the restart: " +
        s"${persisted.count()}/$want")
    assert(persisted.select("vec_id").distinct().count() == want,
      "duplicate vec_id verdicts after restart")
    val dup = persisted.filter(col("vec_id") === dupId)
      .select("keeper_id", "is_dup").head()
    assert(dup.getLong(1) == 1L && dup.getLong(0) == b1.head.vec_id,
      s"post-restart duplicate must dedup against the RECOVERED keeper " +
        s"(got keeper=${dup.getLong(0)}, is_dup=${dup.getLong(1)}, " +
        s"want keeper=${b1.head.vec_id})")
    // The grown vectors are DISTINCT content: admitted exactly once,
    // never deduped against a stock keeper.
    val grownOut = persisted.filter(col("vec_id") >= 9600001L)
      .select("vec_id", "is_dup").collect()
    assert(grownOut.length == grownIn.length &&
      grownOut.forall(_.getLong(1) == 0L),
      s"grown-content arrivals must admit exactly once with is_dup=0: " +
        s"${grownOut.take(3).mkString("; ")}")
  }

  test("streaming manifest increments roll up to the batch data card") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // The data card kept live at ingest: stream every doc across two
    // micro-batches plus a full replay; each doc must emit EXACTLY one
    // increment (replayed ids emit nothing), and the rolled-up
    // increments must equal the oracle-gated batch manifest
    // column-for-column, token shares recomputed by the same integer
    // floor-div. The stock corpus has no exact-duplicate texts, so
    // plant 3 copies at fresh ids — the duplication level the card
    // exists to report (distinct_inc = 0 on the copies).
    val baseDf = Tables.documents(spark, sf)
    val maxId = baseDf.agg(max("doc_id")).head.getLong(0)
    val aug = baseDf.unionByName(baseDf.orderBy("doc_id").limit(3)
      .withColumn("doc_id", col("doc_id") + lit(maxId + 1L)))
    val tmp = java.nio.file.Files.createTempDirectory("manifinc").toString
    aug.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val docs = Tables.documents(spark, tmp)
      .select("doc_id", "source", "lang", "text").collect()
      .map(r => streaming.StreamOps.ManifestDoc(r.getLong(0),
        r.getString(1), r.getString(2), r.getString(3)))
      .sortBy(_.doc_id)
    val (b1, b2) = docs.splitAt(docs.length / 2)
    val input = MemoryStream[streaming.StreamOps.ManifestDoc]
    val query = streaming.StreamOps.manifestDocs(input.toDS())
      .writeStream.format("memory").queryName("manifest_inc_out")
      .outputMode("append").start()
    input.addData(b1.toSeq)
    query.processAllAvailable()
    input.addData(b2.toSeq)
    query.processAllAvailable()
    input.addData(docs.toSeq) // at-least-once replay
    query.processAllAvailable()
    val incs = spark.sql(
      """SELECT source, lang, doc_id, distinct_inc, ws_tokens, n_chars
        |FROM manifest_inc_out""".stripMargin).collect()
    query.stop()
    assert(incs.length == docs.length,
      s"one increment per doc incl. replay: ${incs.length}/${docs.length}")
    val rolled = incs.groupBy(r => (r.getString(0), r.getString(1)))
      .map { case ((s, l), rs) =>
        (s, l) -> ((rs.length.toLong, rs.map(_.getLong(3)).sum,
          rs.map(_.getLong(4)).sum, rs.map(_.getLong(5)).sum))
      }
    val totalToks = rolled.values.map(_._3).sum
    val batch = ext.TextAnalysis.xCorpusManifest(spark, tmp).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
          r.getLong(6)))).toMap
    assert(rolled.keySet == batch.keySet,
      s"slice sets diverge: ${rolled.keySet} vs ${batch.keySet}")
    rolled.foreach { case (k, (n, nd, wt, nc)) =>
      assert(batch(k) == ((n, nd, wt, nc, wt * 10000L / totalToks)),
        s"slice $k: rolled-up increments ${(n, nd, wt, nc,
          wt * 10000L / totalToks)} != batch card ${batch(k)}")
    }
    assert(incs.map(_.getLong(3)).sum == docs.length.toLong - 3L,
      "exactly the 3 planted copies must carry distinct_inc = 0")
  }

  test("streaming vector-card increments roll up to the batch embedding card") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // Plant 2 exact replicas at fresh ids (the stock corpus has none)
    // so the distinct level the card reports is exercised.
    val baseV = Tables.embeddings(spark, sf)
    val maxV = baseV.agg(max("vec_id")).head.getLong(0)
    val augV = baseV.unionByName(baseV.orderBy("vec_id").limit(2)
      .withColumn("vec_id", col("vec_id") + lit(maxV + 1L)))
    val tmpV = java.nio.file.Files.createTempDirectory("veccardinc").toString
    augV.write.mode("overwrite").parquet(s"$tmpV/embeddings.parquet")
    val vecs = Tables.embeddings(spark, tmpV).collect()
      .map(r => streaming.StreamOps.VecCard(r.getLong(0), r.getInt(2),
        r.getSeq[Float](1).toArray))
      .sortBy(_.vec_id)
    val (b1, b2) = vecs.splitAt(vecs.length / 2)
    val input = MemoryStream[streaming.StreamOps.VecCard]
    val query = streaming.StreamOps.manifestVectors(input.toDS())
      .writeStream.format("memory").queryName("veccard_inc_out")
      .outputMode("append").start()
    input.addData(b1.toSeq)
    query.processAllAvailable()
    input.addData(b2.toSeq)
    query.processAllAvailable()
    input.addData(vecs.toSeq) // at-least-once replay
    query.processAllAvailable()
    val incs = spark.sql(
      """SELECT label, vec_id, distinct_inc, n_dims, sq_q
        |FROM veccard_inc_out""".stripMargin).collect()
    query.stop()
    assert(incs.length == vecs.length,
      s"one increment per vector incl. replay: ${incs.length}/${vecs.length}")
    val rolled = incs.groupBy(_.getInt(0)).map { case (l, rs) =>
      l -> ((rs.length.toLong, rs.map(_.getLong(2)).sum,
        rs.map(_.getLong(3)).min, rs.map(_.getLong(3)).max,
        rs.map(_.getLong(4)).sum))
    }
    val totalVecs = rolled.values.map(_._1).sum
    val batch = ext.Similarity.xEmbManifest(spark, tmpV).collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))).toMap
    assert(rolled.keySet == batch.keySet,
      s"label sets diverge: ${rolled.keySet} vs ${batch.keySet}")
    rolled.foreach { case (l, (n, nd, mnd, mxd, sq)) =>
      assert(batch(l) == ((n, nd, mnd, mxd, sq, n * 10000L / totalVecs)),
        s"label $l: rolled-up increments ${(n, nd, mnd, mxd, sq,
          n * 10000L / totalVecs)} != batch card ${batch(l)}")
    }
    assert(incs.map(_.getLong(2)).sum == vecs.length.toLong - 2L,
      "exactly the 2 planted replicas must carry distinct_inc = 0")
  }

  test("span-cleaned corpus artifact carries the gated hashes' exact text") {
    import spark.implicits._
    // The artifact IS the gated result with its text attached: every
    // written row's md5(clean_text) must equal the oracle-gated
    // operator's clean_hash over the same (non-eval) verdict base, and
    // the doc set must be exactly the span-composed prep's keep set.
    val tmp = java.nio.file.Files.createTempDirectory("spancorpus").toString
    Pipeline.materializeSpanCleanCorpus(spark, sf, tmp)
    val art = spark.read.parquet(s"$tmp/clean_documents_spans")
      .select(col("doc_id"), md5(col("clean_text")).as("h"),
        col("n_clean_tokens"))
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2))))
      .toMap
    val keepSet = ext.CorpusPrep.spansCorpus(spark, sf)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(art.keySet == keepSet,
      s"artifact docs != prep keep set: only-art=${(art.keySet -- keepSet).take(3)} " +
        s"only-prep=${(keepSet -- art.keySet).take(3)}")
    val gated = ext.Dedup.spanRemove(Tables.documents(spark, sf)
        .filter(col("source") =!= "src0"))
      .collect().map(r => r.getLong(0) -> ((r.getString(4), r.getLong(3))))
      .toMap
    art.foreach { case (id, (h, n)) =>
      assert(gated(id) == ((h, n)),
        s"doc $id: artifact text diverges from the gated hash: " +
          s"${gated(id)} vs ($h, $n)")
    }
  }

  test("span removal conserves tokens and is identity on repeat-free docs") {
    import spark.implicits._
    // Property-style pin in one job: (a) IDENTITY — a corpus with no
    // repeated 32-token window reconstructs every doc verbatim
    // (clean_hash == md5(text), zero removals); (b) CONSERVATION —
    // kept + removed span token counts account for every token. Seeded
    // RNG, tokens carry their (doc, position) so no window can repeat
    // across the random half; the planted half repeats its own spans.
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val rnd = new scala.util.Random(11L)
    val unique = (0L until 40L).map { i =>
      val n = 1 + rnd.nextInt(150)
      (i, (0 until n).map(j => s"d${i}p${j}t${rnd.nextInt(1000)}").mkString(" "))
    }
    val planted = (100L until 110L).map { i =>
      val span = (0 until 32).map(j => s"r${i}s$j").mkString(" ")
      val reps = 2 + rnd.nextInt(3)
      (i, Seq.fill(reps)(span).mkString(" "))
    }
    val docs = (unique ++ planted).toDF("doc_id", "text")
    val toks = docs.select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val out = ext.Dedup.spanRemove(docs).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))).toMap
    unique.foreach { case (id, text) =>
      val (_, removed, nClean, h) = out(id)
      assert(removed == 0L && nClean == toks(id) && h == md5hex(text),
        s"repeat-free doc $id must reconstruct verbatim: ${out(id)}")
    }
    planted.foreach { case (id, text) =>
      val (nSpans, removed, nClean, h) = out(id)
      val reps = toks(id) / 32L
      assert(nSpans == reps && removed == reps - 1L && nClean == 32L,
        s"self-repeating doc $id must keep exactly one span: ${out(id)}")
      assert(h == md5hex(text.split(" ").take(32).mkString(" ")),
        s"doc $id must keep its FIRST span verbatim")
      assert(nClean + removed * 32L == toks(id),
        s"doc $id token conservation: $nClean + $removed*32 != ${toks(id)}")
    }
  }

  test("online span dedup replays the batch keep-first verdicts across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // The evolving-state member of the span family: feed the corpus in
    // nondecreasing doc_id order split across micro-batches; every
    // span's kept/owner verdict must equal the batch window's rn=1
    // decision (spanKeepVerdicts' keep_ids), including cross-batch
    // ownership (a span arriving in batch 2 must lose to its batch-1
    // owner held in state).
    val docs = Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
      .map(r => streaming.StreamOps.DocIn(r.getLong(0),
        new java.sql.Timestamp(0L), r.getString(1)))
      .sortBy(_.doc_id)
    val (b1, b2) = docs.splitAt(docs.length / 2)
    val input = MemoryStream[streaming.StreamOps.DocIn]
    val query = streaming.StreamOps.dedupSpansOnline(input.toDS())
      .writeStream.format("memory").queryName("span_online_out")
      .outputMode("append").start()
    input.addData(b1.toSeq)
    query.processAllAvailable()
    input.addData(b2.toSeq)
    query.processAllAvailable()
    val streamedKept = spark.sql(
      "SELECT doc_id, span_id FROM span_online_out WHERE kept = 1")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val streamedAll = spark.sql(
      "SELECT count(*) FROM span_online_out").head.getLong(0)
    query.stop()
    val verdicts = ext.Dedup.spanKeepVerdicts(
      Tables.documents(spark, sf)).collect()
    val batchKept = verdicts.flatMap(r =>
      r.getSeq[Long](3).map(s => (r.getLong(0), s))).toSet
    val batchSpans = verdicts.map(_.getLong(1)).sum
    assert(streamedAll == batchSpans,
      s"one verdict per span: $streamedAll vs $batchSpans")
    assert(streamedKept == batchKept,
      "online span verdicts diverged from the batch window: " +
        s"stream-only=${(streamedKept -- batchKept).take(3)} " +
        s"batch-only=${(batchKept -- streamedKept).take(3)}")
  }

  test("wide-banding clean dedup (t24p14) matches the default arm on crawl-band plants") {
    import spark.implicits._
    // The density-knob arm's semantics pinned where it matters: at the
    // crawl-duplicate band (scaled copies — cosine exactly 1.0,
    // identical hyperplane signs under ANY banding) the 24×14 grid
    // collides with probability ~1, so the wide arm must report the
    // SAME verdicts (ids AND rounded cosines) as the default 12×10
    // clean arm on a planted corpus, while the stock corpus stays
    // empty under both (no cosine ≥ 0.8 pairs — the empties contract).
    val base = spark.read.parquet(s"$sf/embeddings.parquet")
    val v = base.filter(col("vec_id") === 0)
      .select("embedding").head.getSeq[Float](0)
    val planted = Seq(
      (9100001L, v.map(_ * 1.01f).toArray, 5),
      (9100002L, v.map(_ * 1.02f).toArray, 6))
      .toDF("vec_id", "embedding", "label")
    val tmp = java.nio.file.Files.createTempDirectory("lshwide").toString
    base.unionByName(planted).write.mode("overwrite")
      .parquet(s"$tmp/embeddings.parquet")
    def pairs(f: (SparkSession, String) => org.apache.spark.sql.DataFrame) =
      f(spark, tmp).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val wide = pairs(ext.Similarity.xDedupEmbCosineLshCleanWide)
    val dflt = pairs(ext.Similarity.xDedupEmbCosineLshClean)
    assert(wide.exists(p => p._1 == 9100001L && p._2 == 9100002L),
      s"wide arm missed the planted pair: $wide")
    assert(dflt == wide,
      s"banding widths disagree on the planted corpus: default=$dflt wide=$wide")
    assert(ext.Similarity.xDedupEmbCosineLshCleanWide(spark, sf).count() == 0L,
      "wide arm must stay empty on the stock corpus")
  }

  test("multi-probed wide banding recovers boundary-cosine pairs the plain t24p14 misses") {
    import spark.implicits._
    // The probe arm's reason to exist, planted: pairs at cosine ≈ 0.82
    // (just above the verify boundary) collide per-table with prob
    // ≈ 0.04 under 14-bit signatures — the plain 24×14 grid misses
    // ~37% of them, the 1-bit probe recovers ≈ 0.99. Six planted
    // boundary pairs (each a stock vector mixed with an orthogonalized
    // second stock vector at exactly cos ≈ 0.82): the probed arm must
    // (a) be a SUPERSET of the plain wide arm (identity mask — holds by
    // construction, asserted as the contract), (b) find at least one
    // planted pair the plain arm misses (the recall repair, pinned on
    // the fixed seed-4242 planes), and (c) agree with the plain arm's
    // verdict VALUES on every shared pair (probing adds candidates,
    // never changes cosines).
    val base = spark.read.parquet(s"$sf/embeddings.parquet")
    def emb(id: Long): Array[Double] = base.filter(col("vec_id") === id)
      .select("embedding").head.getSeq[Float](0).map(_.toDouble).toArray
    def mixAt(v: Array[Double], w: Array[Double], c: Double): Array[Float] = {
      val vv = v.map(x => x * x).sum
      val vw = v.zip(w).map { case (a, b) => a * b }.sum
      val u = w.zip(v).map { case (wi, vi) => wi - vw * vi / vv }
      val un = math.sqrt(u.map(x => x * x).sum)
      val vn = math.sqrt(vv)
      v.indices.map(j =>
        ((c * v(j) / vn + math.sqrt(1 - c * c) * u(j) / un) * vn).toFloat)
        .toArray
    }
    val plants = (0 until 6).map { i =>
      (9500001L + i, mixAt(emb(i.toLong), emb(i.toLong + 10), 0.82), 7)
    }
    val tmp = java.nio.file.Files.createTempDirectory("lshprobe").toString
    base.unionByName(plants.toDF("vec_id", "embedding", "label"))
      .write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
    def pairs(f: (SparkSession, String) => org.apache.spark.sql.DataFrame) =
      f(spark, tmp).collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val plain = pairs(ext.Similarity.xDedupEmbCosineLshCleanWide)
    val probed = pairs(ext.Similarity.xDedupEmbCosineLshCleanWideProbe)
    assert(plain.keySet.subsetOf(probed.keySet),
      s"probing lost exact-collision pairs: ${plain.keySet -- probed.keySet}")
    plain.keys.foreach { k =>
      assert(plain(k) == probed(k), s"verdict value moved under probing: $k")
    }
    val planted = (0 until 6).map(i => (i.toLong, 9500001L + i)).toSet
    val probedPlanted = planted.filter(probed.contains)
    val plainPlanted = planted.filter(plain.contains)
    assert((probedPlanted -- plainPlanted).nonEmpty,
      s"fixture regression: every boundary plant collided exactly under " +
        s"the plain wide grid (plain=$plainPlanted) — re-seed the plants")
    assert(probedPlanted.size >= 5,
      s"probed arm recovered only $probedPlanted of $planted")
  }

  test("LSH-blocked emb cosine dedup finds planted near-dups incl. cross-label") {
    import spark.implicits._
    // The stock synthetic vectors top out near cosine 0.47, so BOTH
    // cosine-dedup arms are vacuous on the raw corpus (their oracle
    // gates pin the empty result). Plant three near-identical vectors —
    // two sharing a label, one under a DIFFERENT label — on top of the
    // corpus: the label-blocked exact operator must find exactly the
    // within-label pair, and the LSH-blocked arm must find all three
    // pairs, the cross-label ones being the pairs label blocking
    // structurally cannot see (the arm's reason to exist). Scaled
    // copies keep cosine exactly 1.0 while the bytes differ.
    val base = spark.read.parquet(s"$sf/embeddings.parquet")
    val v = base.filter(col("vec_id") === 0)
      .select("embedding").head.getSeq[Float](0)
    val planted = Seq(
      (9000001L, v.map(_ * 1.01f).toArray, 5),
      (9000002L, v.map(_ * 1.02f).toArray, 5),
      (9000003L, v.map(_ * 1.03f).toArray, 6))
      .toDF("vec_id", "embedding", "label")
    val tmp = java.nio.file.Files.createTempDirectory("lshcos").toString
    base.unionByName(planted).write.mode("overwrite")
      .parquet(s"$tmp/embeddings.parquet")
    val exact = ext.Dedup.xDedupEmbCosine(spark, tmp).collect()
      .map(r => (r.getAs[Long]("id1"), r.getAs[Long]("id2"))).toSet
    val lsh = ext.Similarity.xDedupEmbCosineLsh(spark, tmp).collect()
      .map(r => (r.getAs[Long]("id1"), r.getAs[Long]("id2"))).toSet
    // (vec 0 shares the planted direction and label 5, so pairs with it
    // appear too — the claims below are membership, not set equality)
    assert(exact.contains((9000001L, 9000002L)),
      s"label-blocked exact missed the planted within-label pair: $exact")
    assert(!exact.exists { case (a, b) => a == 9000003L || b == 9000003L },
      s"label blocking paired the cross-label plant: $exact")
    val expectedLsh = Set((9000001L, 9000002L),
      (9000001L, 9000003L), (9000002L, 9000003L))
    assert(expectedLsh.subsetOf(lsh),
      s"LSH arm missed planted pairs: ${expectedLsh -- lsh}")
    // every exact (label-blocked) verdict is also found by the unblocked
    // arm on this corpus: identical directions share every signature
    assert(exact.subsetOf(lsh), s"LSH missed exact pairs: ${exact -- lsh}")
    // Admission arm == the full operator restricted to new-id (upper
    // half) larger sides: the planted ids sit in the new half, so every
    // planted pair survives the restriction; any admitted-vs-admitted
    // pair (e.g. vec 0 cliques) is correctly absent.
    val split = (spark.read.parquet(s"$tmp/embeddings.parquet")
      .agg(max(col("vec_id"))).head.getLong(0) + 1) / 2
    val admit = ext.Similarity.xDedupEmbCosineLshAdmit(spark, tmp).collect()
      .map(r => (r.getAs[Long]("id1"), r.getAs[Long]("id2"))).toSet
    assert(admit == lsh.filter(_._2 >= split),
      s"admission arm is not the new-id restriction of the full arm")
    assert(Set((9000001L, 9000002L), (9000001L, 9000003L),
      (9000002L, 9000003L)).subsetOf(admit),
      s"admission arm missed planted new-batch pairs: $admit")
  }

  test("semantic admission drops a planted admitted-copy, keeps a novel vector") {
    import spark.implicits._
    // Plant two NEW-half vectors on top of the corpus (max id 9000002
    // puts the split at 4500002, so every original vector is admitted):
    // a bit-identical copy of admitted vec 0 — same distances, same
    // frozen cell, cosine 1.0 ⇒ must be dropped against its admitted
    // original — and a constant direction no corpus vector approaches
    // (|cos| to near-random cell-mates stays far below the 0.4 cut) ⇒
    // must be kept. Verdicts cover exactly the new half.
    val base = spark.read.parquet(s"$sf/embeddings.parquet")
    val v = base.filter(col("vec_id") === 0)
      .select("embedding").head.getSeq[Float](0)
    val planted = Seq(
      (9000001L, v.toArray, 5),
      (9000002L, Array.fill(64)(0.1f), 6))
      .toDF("vec_id", "embedding", "label")
    val tmp = java.nio.file.Files.createTempDirectory("semadmit").toString
    base.unionByName(planted).write.mode("overwrite")
      .parquet(s"$tmp/embeddings.parquet")
    val rows = ext.Similarity.xDedupSemanticAdmit(spark, tmp).collect()
    assert(rows.map(_.getAs[Long]("vec_id")).toSet == Set(9000001L, 9000002L),
      "admission verdicts must cover exactly the new half")
    val byId = rows.map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("kept")).toMap
    assert(byId(9000001L) == 0L,
      "bit-identical copy of an admitted vector must be dropped")
    assert(byId(9000002L) == 1L,
      "novel direction with no near cell-mate must be kept")
  }

  test("exact vector dedup collapses planted replicas; clean LSH arm keeps near-dups") {
    import spark.implicits._
    // Plant two BIT-IDENTICAL replicas of vector 0 plus one scaled
    // near-dup (different bytes, cosine exactly 1.0). Exact dedup must
    // collapse only the identical pair to the min-id keeper (vec 0);
    // the clean LSH arm must (a) never emit a pair touching a collapsed
    // replica — identical vectors are the banded join's quadratic worst
    // case and its reason to run downstream of the hash collapse — and
    // (b) still find the genuine near-dup pair among keepers, proving
    // the collapse removes replicas, not semantics.
    val base = spark.read.parquet(s"$sf/embeddings.parquet")
    val v = base.filter(col("vec_id") === 0)
      .select("embedding").head.getSeq[Float](0)
    val planted = Seq(
      (9000011L, v.toArray, 7),
      (9000012L, v.toArray, 7),
      (9000013L, v.map(_ * 1.01f).toArray, 7))
      .toDF("vec_id", "embedding", "label")
    val tmp = java.nio.file.Files.createTempDirectory("embexact").toString
    base.unionByName(planted).write.mode("overwrite")
      .parquet(s"$tmp/embeddings.parquet")
    val verdicts = ext.Dedup.xDedupEmbExact(spark, tmp).collect()
      .map(r => r.getAs[Long]("vec_id") ->
        ((r.getAs[Long]("keeper_id"), r.getAs[Long]("is_dup")))).toMap
    assert(verdicts(9000011L) == ((0L, 1L)), s"replica 11: ${verdicts(9000011L)}")
    assert(verdicts(9000012L) == ((0L, 1L)), s"replica 12: ${verdicts(9000012L)}")
    assert(verdicts(0L) == ((0L, 0L)), "keeper 0 flagged as dup")
    assert(verdicts(9000013L) == ((9000013L, 0L)),
      "scaled near-dup (distinct bytes) wrongly collapsed by exact dedup")
    val keepers = ext.Dedup.embExactKeepers(spark, tmp)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(!keepers(9000011L) && !keepers(9000012L))
    assert(keepers(0L) && keepers(9000013L))
    // Clean arm == the full banded arm restricted to keeper pairs: the
    // collapse changes COST (bucket occupancy), never which distinct
    // vectors count as near-dups.
    val full = ext.Similarity.xDedupEmbCosineLsh(spark, tmp).collect()
      .map(r => (r.getAs[Long]("id1"), r.getAs[Long]("id2"))).toSet
    val clean = ext.Similarity.xDedupEmbCosineLshClean(spark, tmp).collect()
      .map(r => (r.getAs[Long]("id1"), r.getAs[Long]("id2"))).toSet
    assert(clean == full.filter { case (a, b) => keepers(a) && keepers(b) },
      "clean arm is not the keeper restriction of the full arm")
    assert(clean.contains((0L, 9000013L)), s"near-dup keeper pair lost: $clean")
    assert(!clean.exists { case (a, b) =>
      a == 9000011L || b == 9000011L || a == 9000012L || b == 9000012L },
      s"collapsed replica reached the banded join: $clean")
    // The clean kNN graph: collapsed replicas never appear as a node or
    // a neighbor; the surviving near-dup keeper still ranks next to its
    // direction-mate (the graph is over the deduped corpus, semantics
    // otherwise untouched).
    val gClean = ext.Similarity.xKnnGraph(spark, tmp,
      srcOverride = Some(ext.Dedup.embExactKeepers(spark, tmp))).collect()
    val gIds = gClean.flatMap(r => Seq(r.getAs[Long]("vec_id"),
      r.getAs[Long]("nn_id"))).toSet
    assert(!gIds(9000011L) && !gIds(9000012L),
      "collapsed replica survived into the clean knn graph")
    assert(gIds(9000013L), "keeper near-dup missing from the clean graph")
  }

  test("curated prep caps by density where the md5 cap would keep the crowded") {
    import spark.implicits._
    // A fully synthetic corpus engineered so the curated prep's density
    // cap and the clean prep's md5 cap DISAGREE inside one cell —
    // pinning that the diversity policy is LIVE inside the composition,
    // not an md5 cap wearing a new name. Construction: ids are assigned
    // by md5-bucket rank (computed first), so the 16 lowest-bucket ids
    // become the hash-spread seeds (each filler its own cell); one
    // filler F* carries the clique's base direction e1, so ten clique
    // members — two "dense" D's (pairwise-closest, cos .7074/.7212,
    // all BELOW the 0.8 dedup threshold so the clean staging keeps
    // everyone) and eight "sparse" S's (cos .5-.51) — all land strictly
    // in F*'s cell (positive dot with F* only; planted ABOVE the seed
    // ids per the planted-vector rule). Densities (e4, top-5): S 5454 <
    // D 5917 < F* 7127. The D ids own the LOWEST clique buckets, so the
    // md5 cap keeps F*, D1, D2 + 5 S's while the density cap keeps
    // exactly the 8 S's — opposite verdicts on three vectors.
    val buckets = (0L until 100L).toDF("id")
      .withColumn("b", ext.TextAnalysis.md5Bucket(10000, col("id")))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .sortBy { case (id, b) => (b, id) }.map(_._1)
    val fillers = buckets.take(16)
    val fStar = fillers.head
    val dIds = buckets.slice(16, 18)
    val sIds = buckets.takeRight(8)
    def vec(parts: (Int, Float)*): Array[Float] = {
      val a = Array.fill(64)(0f)
      parts.foreach { case (i, x) => a(i) = x }
      a
    }
    val rows =
      Seq((fStar, vec(0 -> 2f))) ++
      fillers.tail.zipWithIndex.map { case (id, k) => (id, vec((20 + k) -> 2f)) } ++
      dIds.zipWithIndex.map { case (id, j) =>
        (id, vec(0 -> 1f, 9 -> 0.6f, (10 + j) -> 0.75f)) } ++
      sIds.zipWithIndex.map { case (id, i) => (id, vec(0 -> 1f, (1 + i) -> 1f)) }
    val tmp = java.nio.file.Files.createTempDirectory("curated").toString
    rows.map { case (id, v) => (id, v, 0) }.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
    val curated = ext.Similarity.xEmbCorpusPrepCurated(spark, tmp).collect()
      .map(_.getAs[Long]("vec_id")).toSet
    val clean = SparkEntry.queries("x_emb_corpus_prep_clean")(spark, tmp)
      .collect().map(_.getAs[Long]("vec_id")).toSet
    // every singleton filler survives both caps
    assert(fillers.tail.forall(id => curated(id) && clean(id)))
    // the md5 cap keeps the dense trio (lowest buckets in the cell)...
    assert(clean(fStar) && dIds.forall(clean),
      s"fixture broke: md5 cap dropped a low-bucket dense member")
    assert(sIds.count(clean) == 5, "md5 cap must squeeze out 3 sparse members")
    // ...the density cap keeps exactly the 8 sparse members instead
    assert(sIds.forall(curated),
      s"density cap dropped a sparse member: ${sIds.filterNot(curated)}")
    assert(!curated(fStar) && dIds.forall(id => !curated(id)),
      "density cap kept a crowded member the diversity policy must prune")
    assert(curated != clean, "the two retention policies must disagree")
    // The parameterized arm (r15): the same planted verdicts must
    // replay on the wide-banding knob — no planted cosine reaches the
    // 0.8 banding threshold, so swapping the 12×10 grid for 24×14
    // changes bucket layout but NOT the clean survivors, the cells, or
    // the density cap. kCells stays 16 (the fixture engineers exactly
    // 16 hash-spread seeds); the kCells knob's semantics are pinned by
    // the gated k64 arms' oracle twins.
    val curatedWide = ext.Similarity.xEmbCorpusPrepCurated(spark, tmp,
        planes = ext.Similarity.tablePlanesWide).collect()
      .map(_.getAs[Long]("vec_id")).toSet
    assert(curatedWide == curated,
      "wide-banding curated arm drifted from the fixed grid on a corpus with no near-dups")
  }

  test("proto prep caps by centrality — the mirror of the curated density cap") {
    import spark.implicits._
    // One synthetic cell where the two graph-curation retention
    // policies give OPPOSITE verdicts: 6 mutually-close hubs (pairwise
    // cos 0.75 — everyone's top-5 votes land on hubs, so hubs carry
    // all the centrality), 5 sparse satellites (mutual cos 0.5, cos to
    // hubs ~0.6124 — they vote but receive nothing, scores stay at the
    // damped base), and a bridge vector F* carrying the cell's base
    // direction (cos to hubs 0.72 < banded 0.8 threshold, so the clean
    // staging keeps everyone). Ids assigned by md5-bucket rank so the
    // 16 lowest-bucket fillers are the hash-spread seeds and the
    // 12-member clique lands in F*'s cell. Expected caps of 8:
    // centrality keeps ALL 6 hubs (+2 base-score members); density
    // keeps ALL 5 satellites (densities: S 6124 < F* 7200 < H 7500)
    // and at most 2 hubs — prototypes vs diversity, live and opposed.
    val buckets = (0L until 100L).toDF("id")
      .withColumn("b", ext.TextAnalysis.md5Bucket(10000, col("id")))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .sortBy { case (id, b) => (b, id) }.map(_._1)
    val fillers = buckets.take(16)
    val fStar = fillers.head
    val hubIds = buckets.slice(16, 22)
    val satIds = buckets.takeRight(5)
    def vec(parts: (Int, Float)*): Array[Float] = {
      val a = Array.fill(64)(0f)
      parts.foreach { case (i, x) => a(i) = x }
      a
    }
    val rows =
      Seq((fStar, vec(0 -> 1.6627f, 38 -> 1.1115f))) ++
      fillers.tail.zipWithIndex.map { case (id, k) => (id, vec((20 + k) -> 2f)) } ++
      hubIds.zipWithIndex.map { case (id, j) =>
        (id, vec(0 -> 1.5f, (40 + j) -> 0.8660254f)) } ++
      satIds.zipWithIndex.map { case (id, i) => (id, vec(0 -> 1f, (50 + i) -> 1f)) }
    val tmp = java.nio.file.Files.createTempDirectory("protoprep").toString
    rows.map { case (id, v) => (id, v, 0) }.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
    val proto = ext.Similarity.xEmbCorpusPrepProto(spark, tmp).collect()
      .map(_.getAs[Long]("vec_id")).toSet
    val curated = ext.Similarity.xEmbCorpusPrepCurated(spark, tmp).collect()
      .map(_.getAs[Long]("vec_id")).toSet
    assert(hubIds.forall(proto),
      s"centrality cap dropped a hub: ${hubIds.filterNot(proto)}")
    assert(satIds.count(proto) <= 2,
      "centrality cap must prune the voteless satellites")
    assert(satIds.forall(curated),
      s"density cap dropped a sparse satellite: ${satIds.filterNot(curated)}")
    assert(hubIds.count(curated) <= 2,
      "density cap must prune the crowded hub region")
    assert(proto != curated, "the two retention policies must disagree")
    // both caps keep singleton fillers (isolated cells are rank 1)
    assert(fillers.tail.forall(id => proto(id) && curated(id)))
    // The parameterized arm (r15): the centrality verdicts replay on
    // the wide-banding knob (no planted cosine crosses 0.8 — the grid
    // swap is semantics-neutral here; see the curated spec's note).
    val protoWide = ext.Similarity.xEmbCorpusPrepProto(spark, tmp,
        planes = ext.Similarity.tablePlanesWide).collect()
      .map(_.getAs[Long]("vec_id")).toSet
    assert(protoWide == proto,
      "wide-banding proto arm drifted from the fixed grid on a corpus with no near-dups")
  }

  test("density select keeps the sparse and drops the crowded, integer-exact") {
    import spark.implicits._
    // Plant 6 bit-identical copies of vector 0: all land in vec 0's
    // cell (identical L2 distances), every mutual cosine rounds to
    // 1.0000, so each copy's top-5 neighbors are the other copies and
    // its basis-point density is exactly 10000 — the maximally crowded
    // region the diversity cut must refuse, while exactly selectN of
    // the sparser corpus is kept.
    val base = spark.read.parquet(s"$sf/embeddings.parquet")
    val v = base.filter(col("vec_id") === 0)
      .select("embedding").head.getSeq[Float](0)
    val planted = (0 until 6).map(i => (9000021L + i, v.toArray, 7))
      .toDF("vec_id", "embedding", "label")
    val tmp = java.nio.file.Files.createTempDirectory("dens").toString
    base.unionByName(planted).write.mode("overwrite")
      .parquet(s"$tmp/embeddings.parquet")
    val out = ext.Similarity.xKnnDensitySelect(spark, tmp).collect()
    assert(out.length == base.count() + 6, "every vector must be judged")
    assert(out.map(_.getAs[Long]("selected")).sum == 100L,
      "exactly selectN vectors must be selected")
    val byId = out.map(r => r.getAs[Long]("vec_id") -> r).toMap
    (0 until 6).map(i => 9000021L + i).foreach { id =>
      val r = byId(id)
      assert(r.getAs[Long]("n_neighbors") == 5L, s"copy $id neighbor count")
      assert(r.getAs[Long]("density_e4") == 10000L, s"copy $id density")
      assert(r.getAs[Long]("selected") == 0L, s"crowded copy $id selected")
    }
    assert(byId(0L).getAs[Long]("density_e4") == 10000L &&
      byId(0L).getAs[Long]("selected") == 0L,
      "the copied original must read as crowded too")
    // POLICY pin: zero measured redundancy sorts first — any isolated
    // vector (null density) must be selected (vacuous if none isolated).
    def sk(r: org.apache.spark.sql.Row): Long =
      if (r.isNullAt(r.fieldIndex("density_e4"))) -10001L
      else r.getAs[Long]("density_e4")
    out.filter(r => r.isNullAt(r.fieldIndex("density_e4"))).foreach(r =>
      assert(r.getAs[Long]("selected") == 1L,
        s"isolated vector ${r.getAs[Long]("vec_id")} not selected"))
    // Cut consistency: every selected (density, id) precedes every
    // unselected one lexicographically.
    val ord = implicitly[Ordering[(Long, Long)]]
    val worstSel = out.filter(_.getAs[Long]("selected") == 1L)
      .map(r => (sk(r), r.getAs[Long]("vec_id"))).max
    assert(out.filter(_.getAs[Long]("selected") == 0L)
      .map(r => (sk(r), r.getAs[Long]("vec_id")))
      .forall(u => ord.compare(u, worstSel) > 0),
      "an unselected vector precedes the worst selected one")
  }

  test("clean knn graph is bitwise-identical to the base graph on a dup-free corpus") {
    // The raw synthetic embeddings contain no bit-identical pair, so the
    // keeper relation IS the corpus: same Lloyd input, same centroids,
    // same cells, same ranks — byte-for-byte. This pins that the clean
    // arm changes COST on duplicated corpora, never semantics on clean
    // ones.
    val base = ext.Similarity.xKnnGraph(spark, sf).collect().map(_.toString)
    val clean = ext.Similarity.xKnnGraph(spark, sf,
      srcOverride = Some(ext.Dedup.embExactKeepers(spark, sf)))
      .collect().map(_.toString)
    assert(base.sameElements(clean), "clean graph diverged on a dup-free corpus")
  }

  test("knn graph k64 density arm keeps rank semantics with 4x the cells") {
    val g = ext.Similarity.xKnnGraph(spark, sf, 5, 64, 1).collect()
    assert(g.nonEmpty)
    val byVec = g.groupBy(_.getAs[Long]("vec_id"))
    byVec.foreach { case (id, rows) =>
      val ranks = rows.map(_.getAs[Long]("nn_rank")).sorted
      assert(ranks.length <= 5 && ranks.sameElements(1L to ranks.length),
        s"vec $id ranks not contiguous-from-1: ${ranks.mkString(",")}")
      assert(rows.map(_.getAs[Long]("nn_id")).distinct.length == rows.length,
        s"vec $id repeats a neighbor")
      rows.foreach(r => assert(math.abs(r.getAs[Double]("cos_sim")) <= 1.0))
    }
    // The density knob must take: strictly more, smaller cells mean the
    // total candidate volume shrinks vs the k=16 default graph.
    val g16 = ext.Similarity.xKnnGraph(spark, sf).collect()
    assert(byVec.size >= g16.groupBy(_.getAs[Long]("vec_id")).size / 2,
      "k64 arm silently dropped most vectors")
  }

  test("keep-best dedup retains the higher-quality member, not the lower id") {
    import spark.implicits._
    // Two planted near-dups sharing a ~100-token unique body (rare
    // grams, df=1, Jaccard ≈ 0.86 ≥ 0.5 — one cluster). The LOWER id
    // gets 8 appended stopwords (quality 1·(1−8/108) ≈ 0.9259), the
    // HIGHER id 8 appended non-stopwords (quality 1.0): keep-lowest
    // would retain 9000001; the quality policy must retain 9000002.
    val body = (0 until 100).map(i => s"w${i}word").mkString(" ")
    val tmp = java.nio.file.Files.createTempDirectory("keepbest").toString
    val base = spark.read.parquet(s"$sf/documents.parquet")
    base.unionByName(Seq(
        (9000001L, body + " the of and a to the of and", "en", "srcx", 1L),
        (9000002L, body + " zulu yankee xray whiskey victor uniform tango sierra",
          "en", "srcx", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars"))
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val out = ext.Dedup.xDedupKeepBest(spark, tmp).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("cluster_id"), r.getAs[Double]("quality_score"),
          r.getAs[Long]("kept")))).toMap
    assert(out.contains(9000001L) && out.contains(9000002L),
      s"planted pair not clustered: ${out.keys.filter(_ >= 9000000L)}")
    assert(out(9000001L)._1 == out(9000002L)._1, "pair not in one cluster")
    assert(out(9000002L)._2 > out(9000001L)._2,
      s"quality ordering broken: $out")
    assert(out(9000002L)._3 == 1L && out(9000001L)._3 == 0L,
      s"keep-best must retain the higher-quality higher-id doc: $out")
  }

  test("composed keep-best prep retains the quality argmax where lowest-id would not") {
    import spark.implicits._
    // Same planted-cluster construction as the standalone keep-best
    // spec, but run through BOTH trainingCorpus retention arms: the
    // lower id pads with en stopwords (quality ≈ 0.9259, pred_lang en),
    // the higher id with es markers + non-stopwords (quality 1.0,
    // pred_lang es) — both pass every prep filter, so the ONLY
    // difference between the arms is which cluster member survives.
    val body = (0 until 100).map(i => s"w${i}word").mkString(" ")
    val tmp = java.nio.file.Files.createTempDirectory("prepkeepbest").toString
    val base = spark.read.parquet(s"$sf/documents.parquet")
    base.unionByName(Seq(
        (9000001L, body + " the of and a to the of and", "en", "srcx", 1L),
        (9000002L, body + " victor uniform tango sierra " +
          "el los las el los las el los", "en", "srcx", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars"))
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val pairs = ext.Dedup.ngramJaccardPairs(spark, tmp)
      .filter(col("jaccard") >= 0.5).select("d1", "d2")
    val labels = ext.Dedup.connectedComponents(pairs)._1
    def survivors(keepBest: Boolean): Set[Long] =
      ext.CorpusPrep.trainingCorpus(spark, tmp, Some(labels),
          keepBest = keepBest)
        .filter(col("doc_id") >= 9000000L).collect()
        .map(_.getAs[Long]("doc_id")).toSet
    val lowestId = survivors(keepBest = false)
    val argmax = survivors(keepBest = true)
    assert(lowestId == Set(9000001L),
      s"lowest-id arm must retain the lower id only: $lowestId")
    assert(argmax == Set(9000002L),
      s"keep-best arm must retain the quality argmax only: $argmax")
  }

  test("knn-graph admission attaches new vectors to admitted neighbors only") {
    val split = Tables.embeddings(spark, sf)
      .agg(expr("(max(vec_id) + 1) div 2")).head().getLong(0)
    val g = ext.Similarity.xKnnGraphAdmit(spark, sf).collect()
    assert(g.nonEmpty, "admission graph emitted no edges")
    g.foreach { r =>
      assert(r.getAs[Long]("vec_id") >= split,
        s"admitted-side vector ${r.getAs[Long]("vec_id")} appeared as a query")
      assert(r.getAs[Long]("nn_id") < split,
        s"new vector ${r.getAs[Long]("nn_id")} appeared as a neighbor")
    }
    g.groupBy(_.getAs[Long]("vec_id")).foreach { case (id, rows) =>
      val ranks = rows.map(_.getAs[Long]("nn_rank")).sorted
      assert(ranks.length <= 5 && ranks.sameElements(1L to ranks.length),
        s"vec $id ranks not contiguous-from-1: ${ranks.mkString(",")}")
    }
  }

  test("full prep pipeline is a pure intersection on top of the keep-best arm") {
    // The full arm adds only an anti-join (substring losers) and a
    // semi-join (DSIR selected) to the keep-best per-doc corpus, so its
    // rollup can never exceed keep-best's anywhere, and every (split,
    // lang) group it reports must exist in the keep-best rollup.
    def rows(df: org.apache.spark.sql.DataFrame): Map[(String, String), Long] =
      df.collect().map(r => (r.getAs[String]("split"),
        r.getAs[String]("pred_lang")) -> r.getAs[Long]("n_docs")).toMap
    val kb = rows(ext.CorpusPrep.xLlmCorpusPrepKeepBest(spark, sf))
    val full = rows(ext.CorpusPrep.xLlmCorpusPrepFull(spark, sf))
    assert(full.nonEmpty, "full pipeline emitted no groups")
    full.foreach { case (k, n) =>
      assert(kb.contains(k), s"group $k absent from the keep-best rollup")
      assert(n <= kb(k), s"group $k grew under pure filters: $n > ${kb(k)}")
    }
  }

  test("streaming DSIR gate reproduces the frozen batch cut across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // Batch truth: the gated top-N cut. Frozen state: the per-token
    // log-ratio table + the Nth-(weight, id) threshold. Replaying the
    // SAME corpus through the stateless streaming gate must reproduce
    // every (n_tokens, weight, selected) row — split mid-stream, so a
    // result depending on micro-batch contents would diverge.
    val batch = ext.Selection.xDsirSelect(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_tokens"),
          Option(r.getAs[java.lang.Double]("dsir_weight")).map(_.toDouble),
          r.getAs[Long]("selected")))).toMap
    val (ratios, unseen, cutW, cutId) = ext.Selection.dsirFrozen(spark, sf)
    val t0 = new java.sql.Timestamp(1700000000000L)
    val docs = Tables.documents(spark, sf).select("doc_id", "text").collect()
      .map(r => streaming.StreamOps.DocIn(r.getLong(0), t0, r.getString(1)))
    val input = MemoryStream[streaming.StreamOps.DocIn]
    val query = streaming.StreamOps
      .selectDocs(input.toDS(), ratios, unseen, cutW, cutId)
      .writeStream.format("memory").queryName("dsir_gate_out")
      .outputMode("append").start()
    val (b1, b2) = docs.splitAt(docs.length / 2)
    input.addData(b1.toSeq)
    query.processAllAvailable()
    input.addData(b2.toSeq)
    query.processAllAvailable()
    val streamed = spark.sql(
      "SELECT doc_id, n_tokens, dsir_weight, selected FROM dsir_gate_out")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1),
          Option(r.getAs[java.lang.Double]("dsir_weight")).map(_.toDouble),
          r.getLong(3)))).toMap
    query.stop()
    assert(streamed == batch,
      s"streaming gate diverged from the frozen batch cut " +
        s"(stream=${streamed.size} rows, batch=${batch.size} rows)")
    assert(streamed.values.count(_._3 == 1L) == 100,
      "the frozen threshold must admit exactly the batch top-N on replay")
  }

  test("NB admission scores exactly the unadmitted half under frozen train counts") {
    import spark.implicits._
    // Fully planted corpus: train half (ids < 2) defines two classes
    // with disjoint vocabularies; the held half must be scored — and
    // ONLY it — with each held doc predicted as the class whose frozen
    // token counts it matches.
    val tmp = java.nio.file.Files.createTempDirectory("nbadmit").toString
    Seq(
        (0L, "apple banana apple apple", "en", "srca", 1L),
        (1L, "zebra yak zebra yak yak", "en", "srcb", 1L),
        (2L, "apple apple banana", "en", "srca", 1L),
        (3L, "zebra zebra yak", "en", "srcb", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val rows = ext.Selection.xTextNbAdmit(spark, tmp).collect()
    assert(rows.map(_.getAs[Long]("doc_id")).toSet == Set(2L, 3L),
      "admission arm must score exactly the upper-id half")
    val pred = rows.map(r =>
      r.getAs[Long]("doc_id") -> r.getAs[String]("pred_source")).toMap
    assert(pred == Map(2L -> "srca", 3L -> "srcb"),
      s"frozen-count scoring must recover the planted classes: $pred")
    assert(rows.forall(_.getAs[Long]("hit") == 1L))
  }

  test("streaming NB gate reproduces the frozen batch admission across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // Batch truth: the frozen-count admission rows. Frozen state: the
    // per-class priors/defaults/token-term maps. Replaying the held half
    // through the stateless streaming gate must reproduce every
    // (true_source, pred_source, nb_score, hit) row — split mid-stream,
    // so a result depending on micro-batch contents would diverge.
    val batch = ext.Selection.xTextNbAdmit(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[String]("true_source"), r.getAs[String]("pred_source"),
          r.getAs[Double]("nb_score"), r.getAs[Long]("hit")))).toMap
    val frozen = ext.Selection.nbFrozen(spark, sf)
    val splitId = Tables.documents(spark, sf)
      .agg(expr("(max(doc_id) + 1) div 2")).head().getLong(0)
    val t0 = new java.sql.Timestamp(1700000000000L)
    val held = Tables.documents(spark, sf)
      .filter(col("doc_id") >= splitId)
      .select("doc_id", "text", "source").collect()
      .map(r => streaming.StreamOps.LabeledDoc(r.getLong(0), t0,
        r.getString(1), r.getString(2)))
    val input = MemoryStream[streaming.StreamOps.LabeledDoc]
    val query = streaming.StreamOps.classifyDocs(input.toDS(), frozen)
      .writeStream.format("memory").queryName("nb_gate_out")
      .outputMode("append").start()
    val (b1, b2) = held.splitAt(held.length / 2)
    input.addData(b1.toSeq)
    query.processAllAvailable()
    input.addData(b2.toSeq)
    query.processAllAvailable()
    val streamed = spark.sql(
      "SELECT doc_id, true_source, pred_source, nb_score, hit FROM nb_gate_out")
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getString(2), r.getDouble(3), r.getLong(4)))).toMap
    query.stop()
    assert(streamed == batch,
      s"streaming gate diverged from frozen batch admission " +
        s"(stream=${streamed.size} rows, batch=${batch.size} rows)")
    assert(streamed.nonEmpty && streamed.keySet.forall(_ >= splitId),
      "the gate must score exactly the unadmitted half")
  }

  test("DSIR join arm equals the literal arm row-for-row across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // The r11 verdict's one weak component: the literal arm embeds the
    // vocab-sized ratio table as a typedlit plan literal — vocab-bounded
    // codegen. The join arm ships it as the shelf RELATION
    // (art_dsir_ratios' (tok, ln_ratio) shape) and must reproduce the
    // literal arm's rows EXACTLY: same left-fold order, same IEEE adds,
    // same HALF_UP round, same cutoff tiebreak — split mid-stream so a
    // batching dependence would diverge.
    val (ratios, unseen, cutW, cutId) = ext.Selection.dsirFrozen(spark, sf)
    val ratiosDf = ratios.toSeq.toDF("tok", "ln_ratio")
    val t0 = new java.sql.Timestamp(1700000000000L)
    val docs = Tables.documents(spark, sf).select("doc_id", "text").collect()
      .map(r => streaming.StreamOps.DocIn(r.getLong(0), t0, r.getString(1)))
    def runArm(name: String,
        mk: org.apache.spark.sql.Dataset[streaming.StreamOps.DocIn]
          => org.apache.spark.sql.DataFrame): Map[Long, (Long, Option[Double], Long)] = {
      val input = MemoryStream[streaming.StreamOps.DocIn]
      val query = mk(input.toDS())
        .writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      val (b1, b2) = docs.splitAt(docs.length / 2)
      input.addData(b1.toSeq)
      query.processAllAvailable()
      input.addData(b2.toSeq)
      query.processAllAvailable()
      val out = spark.sql(
        s"SELECT doc_id, n_tokens, dsir_weight, selected FROM $name")
        .collect().map(r => r.getLong(0) ->
          ((r.getLong(1),
            Option(r.getAs[java.lang.Double]("dsir_weight")).map(_.toDouble),
            r.getLong(3)))).toMap
      query.stop()
      out
    }
    val lit = runArm("dsir_lit_arm",
      ds => streaming.StreamOps.selectDocs(ds, ratios, unseen, cutW, cutId))
    val join = runArm("dsir_join_arm",
      ds => streaming.StreamOps.selectDocsJoin(ds, ratiosDf, unseen, cutW, cutId))
    assert(join.size == docs.length, s"join arm emitted ${join.size} rows")
    val diff = (lit.keySet ++ join.keySet).filter(k => lit.get(k) != join.get(k))
    assert(diff.isEmpty,
      s"join arm diverged from literal arm on ${diff.size} docs, e.g. " +
        diff.take(3).map(k => s"$k: lit=${lit.get(k)} join=${join.get(k)}")
          .mkString("; "))
    assert(join.values.count(_._3 == 1L) == 100,
      "the frozen threshold must admit exactly the batch top-N")
  }

  test("DSIR join arm is invariant to frozen-vocabulary size") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // The claim behind the literal arm's ceiling, tested directly: the
    // term table rides as a RELATION, so growing it 4 orders of
    // magnitude must change NOTHING but the join's static side — pad
    // the real ratio relation with 200k filler tokens no document
    // carries and require bitwise-identical gate output. (The literal
    // arm at this size would serialize a 200k-entry map into the plan
    // and the codegen constant pool — the shape the join arm retires.)
    val (ratios, unseen, cutW, cutId) = ext.Selection.dsirFrozen(spark, sf)
    val slim = ratios.toSeq.toDF("tok", "ln_ratio")
    val padded = slim.unionByName(spark.range(200000)
      .select(concat(lit("zz_filler_"), col("id")).as("tok"),
        (col("id") % 7).cast("double").as("ln_ratio")))
    val t0 = new java.sql.Timestamp(1700000000000L)
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
      .collect()
      .map(r => streaming.StreamOps.DocIn(r.getLong(0), t0, r.getString(1)))
    def run(name: String, rel: org.apache.spark.sql.DataFrame)
        : Map[Long, (Long, Option[Double], Long)] = {
      val input = MemoryStream[streaming.StreamOps.DocIn]
      val query = streaming.StreamOps
        .selectDocsJoin(input.toDS(), rel, unseen, cutW, cutId)
        .writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      input.addData(docs.toSeq); query.processAllAvailable()
      val out = spark.sql(
        s"SELECT doc_id, n_tokens, dsir_weight, selected FROM $name")
        .collect().map(r => r.getLong(0) ->
          ((r.getLong(1),
            Option(r.getAs[java.lang.Double]("dsir_weight")).map(_.toDouble),
            r.getLong(3)))).toMap
      query.stop()
      out
    }
    val a = run("dsir_vocab_slim", slim)
    val b = run("dsir_vocab_padded", padded)
    assert(a.nonEmpty && a == b,
      s"gate output moved with vocabulary size: ${a.size} vs ${b.size} " +
        "rows or differing values")
  }

  test("NB join arm equals the literal arm row-for-row across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // Same contract for the classifier gate: art_nb_terms as a relation,
    // |classes|-row metadata only on the driver; per-class folds replay
    // the literal arm's arithmetic and argmax tiebreak exactly.
    val frozen = ext.Selection.nbFrozen(spark, sf)
    val meta = frozen.map { case (c, p, d, _) => (c, p, d) }
    val termsDf = frozen.flatMap { case (c, _, _, t) =>
      t.toSeq.map { case (tok, v) => (c, tok, v) } }
      .toDF("cls", "tok", "term")
    val splitId = Tables.documents(spark, sf)
      .agg(expr("(max(doc_id) + 1) div 2")).head().getLong(0)
    val t0 = new java.sql.Timestamp(1700000000000L)
    val held = Tables.documents(spark, sf)
      .filter(col("doc_id") >= splitId)
      .select("doc_id", "text", "source").collect()
      .map(r => streaming.StreamOps.LabeledDoc(r.getLong(0), t0,
        r.getString(1), r.getString(2)))
    def runArm(name: String,
        mk: org.apache.spark.sql.Dataset[streaming.StreamOps.LabeledDoc]
          => org.apache.spark.sql.DataFrame): Map[Long, (String, String, Double, Long)] = {
      val input = MemoryStream[streaming.StreamOps.LabeledDoc]
      val query = mk(input.toDS())
        .writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      val (b1, b2) = held.splitAt(held.length / 2)
      input.addData(b1.toSeq)
      query.processAllAvailable()
      input.addData(b2.toSeq)
      query.processAllAvailable()
      val out = spark.sql(
        s"SELECT doc_id, true_source, pred_source, nb_score, hit FROM $name")
        .collect().map(r => r.getLong(0) ->
          ((r.getString(1), r.getString(2), r.getDouble(3), r.getLong(4)))).toMap
      query.stop()
      out
    }
    val lit = runArm("nb_lit_arm",
      ds => streaming.StreamOps.classifyDocs(ds, frozen))
    val join = runArm("nb_join_arm",
      ds => streaming.StreamOps.classifyDocsJoin(ds, meta, termsDf))
    assert(join.size == held.length, s"join arm emitted ${join.size} rows")
    val diff = (lit.keySet ++ join.keySet).filter(k => lit.get(k) != join.get(k))
    assert(diff.isEmpty,
      s"join arm diverged from literal arm on ${diff.size} docs, e.g. " +
        diff.take(3).map(k => s"$k: lit=${lit.get(k)} join=${join.get(k)}")
          .mkString("; "))
  }

  // md5 id bucket as the operators compute it (first 8 hex digits % 100)
  // — lets planted-doc specs pick ids that land in a chosen split.
}
