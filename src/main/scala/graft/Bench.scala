package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main: runs headline queries on SPARK_GRAFT_SF_DIR and prints
  * one JSON line {"metric":...,"value":...,"unit":"sec","queries":{...}}.
  *
  * MEASUREMENT TRUST (the r4/r5 lesson — sub-second queries showed >2×
  * wall swings across sessions on untouched code, and best-of-3 wall
  * within one session still swings ~3× on the heavies under host
  * contention): wall time alone cannot adjudicate "regression vs noisy
  * host", so every query also reports
  *   - "cpu": executor CPU seconds of the best run (SparkListener task
  *     metrics) — flat CPU + inflated wall = host contention, inflated
  *     CPU = a real plan/code regression;
  *   - "plans": the join strategies of the final (post-AQE) physical
  *     plan, so an AQE flip (broadcast → sort-merge) is visible in the
  *     recorded JSON instead of being guessed at post-hoc;
  *   - "calibration_short": a second fixed probe shaped like the
  *     sub-second queries (tiny input, one shuffle — dominated by job
  *     scheduling + codegen overhead), alongside the original 10M-row
  *     compute-shaped "calibration". Short-query anomalies normalize
  *     against the short probe, heavies against the compute one.
  */
object Bench {
  // Headline set: the flagship fact build + representative rollups,
  // windows, dedup / similarity / text / sessionization extensions.
  val headline: Vector[String] = Vector(
    "j2_fact_build",
    "a2_category_rollup",
    "a4_percentile_rollup",
    "j3_a3_supplier_rollup",
    "w1_share_of_group",
    "w3_upsert_dedup",
    "x_sessionize",
    "x_dedup_exact",
    "x_dedup_ngram_jaccard",
    "x_dedup_minhash_lsh",
    "x_dedup_minhash_fast",
    "x_dedup_simhash",
    "x_dedup_chunks",
    "x_dedup_cluster",
    "x_dedup_corpus_neardup",
    "x_llm_corpus_prep",
    "x_knn_bruteforce",
    "x_ann_lsh",
    "x_ann_ivf",
    "x_ann_ivf_admit",
    "x_ann_pq",
    "x_ann_ivfpq",
    "x_ann_pq_admit",
    "x_ann_ivfadc",
    "x_dedup_emb_cosine",
    "x_emb_corpus_prep",
    "x_text_quality",
    "x_text_tokens",
    "x_text_tfidf",
    "x_text_repetition",
    "x_seq_pack",
    "x_emb_quantize",
    "x_text_contamination",
    "x_text_ttr",
    "x_split_leakage",
    "x_text_winnow_pairs",
    "x_text_bigram_logprob",
    "x_text_bpe",
    "x_text_c4_rules",
    "x_corpus_mix",
    "x_multimodal_frames",
    "x_corpus_sample",
    "x_train_val_split",
    "x_asof_join",
    "x_funnel",
    "x_retention_cohort",
    "x_attribution",
    "x_kroger_mart_demo")

  /** Fixed-size compute probe: 10M rows generated in memory through a
    * hash aggregate + sort — no IO, no scale-factor dependence. Host
    * throughput drifts ~2× between runs (CLAUDE.md), which once cost a
    * judging round proving a recorded 32 s ≠ regression; emitting this
    * alongside the query times lets any BENCH_rN be normalized against
    * host speed instead of re-measured.
    */
  def calibration(spark: SparkSession): Double = {
    val times = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      // The noop sink executes the FULL plan including the sort — under
      // count(), EliminateSorts dropped the Sort and column pruning then
      // removed the sum itself, so the probe timed less than it claimed.
      // The hash is bounded (% 2^20) so 10M-row partial sums cannot
      // overflow a long under ANSI mode.
      spark.range(0L, 10000000L, 1L, 32)
        .selectExpr("id % 97 AS k", "xxhash64(id) % 1048576 AS h")
        .groupBy("k")
        .agg(org.apache.spark.sql.functions.sum("h").as("s"))
        .orderBy("s")
        .write.mode("overwrite").format("noop").save()
      (System.nanoTime() - t0) / 1e9
    }
    times.min
  }

  /** Fixed OVERHEAD probe, shaped like the sub-second headline queries:
    * a tiny input through one shuffle, where job scheduling, plan
    * compilation, and codegen dominate and compute is negligible. The
    * 10M-row probe above cannot normalize these (its cost is compute;
    * a short query's cost is fixed overhead, and the two drift
    * independently under host contention). Best-of-5 because single
    * sub-100ms samples are the noisiest thing the bench measures.
    */
  def calibrationShort(spark: SparkSession): Double = {
    val times = (1 to 5).map { _ =>
      val t0 = System.nanoTime()
      spark.range(0L, 100000L, 1L, 32)
        .selectExpr("id % 97 AS k", "id % 1048576 AS h")
        .groupBy("k")
        .agg(org.apache.spark.sql.functions.sum("h").as("s"))
        .orderBy("s")
        .write.mode("overwrite").format("noop").save()
      (System.nanoTime() - t0) / 1e9
    }
    times.min
  }

  /** Join strategies of the final (post-AQE, post-execution) physical
    * plan, as "Name:count" pairs — the recorded evidence that adjudicates
    * "did AQE flip the join" without re-running the query.
    */
  private[graft] def joinStrategies(df: org.apache.spark.sql.DataFrame): String = {
    val plan = df.queryExecution.executedPlan.toString
    // Plain occurrence count: a line-anchored prefix match misses nodes
    // inside WholeStageCodegen spans, which print as "*(4) SortMergeJoin"
    // — and a missed sort-merge join is exactly the flip this exists to
    // record. Node names only ever appear as plan lines, so counting
    // occurrences is exact (BroadcastNestedLoopJoin is counted before
    // its BroadcastHashJoin substring could double-count — it can't,
    // the names share no substring, but keep them distinct anyway).
    Seq("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin",
      "BroadcastNestedLoopJoin", "CartesianProduct")
      .map(j => j -> j.r.findAllIn(plan).size)
      .collect { case (j, n) if n > 0 => s"$j:$n" }
      .mkString(",")
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // Optional args: query names to bench in isolation (regression
    // adjudication — prints ALL per-run walls/CPUs, not just best-of-3,
    // and skips the sweep). "--sweep-n N" makes the no-arg sweep run each
    // tail query up to N times and record the median wall (single-run
    // sweep walls swing up to 4× run-to-run; a median is numerically
    // adjudicable where a single sample is plan-flips-only). Default 3,
    // applied only to queries whose FIRST wall is under 2 s — that is
    // the noise-dominated tail; the few multi-second sweep heavies are
    // compute-bound (proportionally less noisy) and already gated on
    // plan flips, so tripling them would cost ~2 driver minutes for no
    // added signal. "--sweep-n 1" restores the historical single run.
    // "--runs N" sets the per-query run count in ISOLATION mode (default
    // 3 — best-of-3): "--runs 1" is the probe-session mode, where a
    // single wall+CPU+plans sample on a multi-minute 100× query is the
    // whole point and two more runs would triple a deliberate cost.
    val sweepN: Int = args.sliding(2).collectFirst {
      case Array("--sweep-n", n) => n.toInt
    }.getOrElse(3)
    require(sweepN >= 1, s"--sweep-n must be >= 1, got $sweepN")
    val nRuns: Int = args.sliding(2).collectFirst {
      case Array("--runs", n) => n.toInt
    }.getOrElse(3)
    require(nRuns >= 1, s"--runs must be >= 1, got $nRuns")
    val only: Set[String] = {
      val dropFlag = (qs: Vector[String], flag: String) => {
        val i = qs.indexOf(flag)
        if (i >= 0) qs.patch(i, Nil, 2) else qs
      }
      dropFlag(dropFlag(args.toVector, "--sweep-n"), "--runs").toSet
    }
    // Validate names BEFORE building the session: a mistyped query used
    // to pay session startup + two calibration passes before erroring.
    val unknown = only -- SparkEntry.queries.keySet
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    val spark = Session.local(Session.cpus)
    // Executor CPU per timed run; a straggling task-end event bleeding
    // into the next query would be a fraction of a task, noise-level.
    val meter = new CpuMeter(spark)
    // JVM / codegen warm-up on a small query so the first timed query
    // doesn't pay one-time class-loading cost.
    try SparkEntry.queries("a6_twokey_count")(spark, sfDir).count()
    catch { case _: Throwable => () }
    val calib = calibration(spark)
    val calibShort = calibrationShort(spark)
    var failed = List.empty[String]
    val benchSet =
      if (only.nonEmpty) only.toVector.sorted else headline
    val results = benchSet.filter(SparkEntry.queries.contains).map { name =>
      val fn = SparkEntry.queries(name)
      var lastDf: org.apache.spark.sql.DataFrame = null
      // best-of-3: absorbs one-off JIT/GC noise per query. The cache is
      // cleared before each timed run so intra-query persist() still works
      // but nothing is served warm from a previous run or query.
      val runs = (1 to (if (only.nonEmpty) nRuns else 3)).map { _ =>
        val (_, wall, cpu) = meter.time {
          try { val df = fn(spark, sfDir); df.count(); lastDf = df }
          catch { case e: Throwable =>
            if (!failed.contains(name)) {
              failed ::= name
              System.err.println(s"[bench] $name failed: ${e.getMessage}")
            }
          }
        }
        (wall, cpu)
      }
      if (only.nonEmpty)
        println(s"""{"adjudicate":"$name","runs":[${runs.map { case (w, c) =>
          f"""{"wall":$w%.3f,"cpu":$c%.3f}"""
        }.mkString(",")}]}""")
      // A failed query reports -1 and is excluded from the total, so a
      // crash can't read as a fast success.
      val ok = !failed.contains(name)
      val best = runs.minBy(_._1)
      val plans = if (ok && lastDf != null) {
        try joinStrategies(lastDf) catch { case _: Throwable => "" }
      } else ""
      (name, if (ok) best._1 else -1.0, if (ok) best._2 else -1.0, plans)
    }
    def jmap(f: ((String, Double, Double, String)) => String): String =
      results.map(f).mkString("{", ",", "}")
    val qs = jmap { case (k, w, _, _) => "\"" + k + "\":" + w }
    val cpu = jmap { case (k, _, c, _) => "\"" + k + "\":" + f"$c%.3f" }
    val plans = results.collect { case (k, _, _, p) if p.nonEmpty =>
      "\"" + k + "\":\"" + p + "\"" }.mkString("{", ",", "}")
    val errs = failed.reverse.map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = results.collect { case (_, t, _, _) if t >= 0 => t }.sum
    // Long-tail sweep: every gated query NOT in the headline set, run
    // ONCE (no best-of-3) so a regression in the sub-100ms relational
    // tail is at least visible between rounds. Excluded from the
    // 2×-gate total — single runs are too noisy to gate on, but a 10×
    // jump still shows.
    val sweepNames =
      if (only.nonEmpty) Vector.empty[String]
      else SparkEntry.queries.keys.toVector.sorted.filterNot(headline.toSet)
    // Below this first-run wall, a sweep query gets sweepN runs and a
    // median; at or above it, one run (compute-bound, plan-flip-gated).
    val sweepMedianMaxWall = 2.0
    // A first sample in [2s, 8s) may itself be the documented up-to-4×
    // host-noise outlier on a sub-2s query (0.6s × 4 = 2.4s) — the exact
    // case the median exists for — so spend ONE confirmation run: if it
    // lands back under 2s the query is tail-class and gets the full
    // median; if both samples are ≥ 2s the query is confirmed heavy and
    // keeps the two (median = the lower). Past 8s no sub-2s query can
    // reach it even at 4×, so a single sample suffices — tripling the
    // 13.7s BPE-depth-12 run would cost driver minutes for no signal.
    val sweepConfirmMaxWall = 8.0
    val sweep = sweepNames.map { name =>
      def run(): (Double, Double, String) = {
        try {
          val (df, wall, cpu) = meter.time {
            val df = SparkEntry.queries(name)(spark, sfDir)
            df.count()
            df
          }
          // join strategies recorded for the sweep too: single-run walls
          // are too noisy to gate on, but a plan flip IS adjudicable.
          (wall, cpu, try joinStrategies(df) catch { case _: Throwable => "" })
        } catch { case e: Throwable =>
          System.err.println(s"[bench] sweep $name failed: ${e.getMessage}")
          (-1.0, -1.0, "")
        }
      }
      val first = run()
      val runs: Seq[(Double, Double, String)] =
        if (first._1 < 0) Seq(first)
        else if (first._1 < sweepMedianMaxWall)
          first +: (2 to sweepN).map(_ => run())
        else if (first._1 < sweepConfirmMaxWall && sweepN >= 2) {
          val second = run()
          if (second._1 >= 0 && second._1 < sweepMedianMaxWall)
            Seq(first, second) ++ (3 to sweepN).map(_ => run())
          else Seq(first, second)
        } else Seq(first)
      val ok = runs.filter(_._1 >= 0)
      // Lower median (deterministic for even N); sweepN=1 is exactly the
      // historical single run. The reported CPU is the MEDIAN run's CPU
      // (the run whose wall is reported), so wall and CPU adjudicate the
      // same execution — per the committed-CPU-band protocol.
      val (w, c, p) =
        if (ok.isEmpty) (-1.0, -1.0, "")
        else {
          val med = ok.sortBy(_._1).apply((ok.size - 1) / 2)
          (med._1, med._2, ok.last._3)
        }
      (name, w, c, p)
    }
    val sweepJson = sweep.map { case (k, w, _, _) => "\"" + k + "\":" + f"$w%.3f" }
      .mkString("{", ",", "}")
    val sweepCpu = sweep.map { case (k, _, c, _) => "\"" + k + "\":" + f"$c%.3f" }
      .mkString("{", ",", "}")
    val sweepPlans = sweep.collect { case (k, _, _, p) if p.nonEmpty =>
      "\"" + k + "\":\"" + p + "\"" }.mkString("{", ",", "}")
    val sweepTotal = sweep.collect { case (_, w, _, _) if w >= 0 => w }.sum
    println(s"""{"metric":"total","value":$total,"unit":"sec","calibration":$calib,"calibration_short":$calibShort,"queries":$qs,"cpu":$cpu,"plans":$plans,"sweep":$sweepJson,"sweep_cpu":$sweepCpu,"sweep_plans":$sweepPlans,"sweep_total":$sweepTotal,"sweep_n":$sweepN,"errors":$errs,"sf":"$sfDir"}""")
    // Compact trailing summary: the driver's artifact keeps only the LAST
    // 2,000 chars of output, which truncated BENCH_r06 down to the tail of
    // the cpu map — the wall times and total were lost. This second line is
    // small enough to always survive whole, so the headline numbers the
    // 2×-gate needs are in the artifact without external reconstruction.
    val top5rows = results.filter(_._2 >= 0).sortBy(-_._2).take(5)
    val top5 = top5rows
      .map { case (k, w, _, _) => "\"" + k + "\":" + f"$w%.3f" }
      .mkString("{", ",", "}")
    // Self-adjudication (the r10 lesson): the driver artifact keeps only
    // this tail, and a headline wall swing could not be cleared without a
    // live re-run because the summary carried walls only. Per the
    // committed-CPU-band protocol (SCALE.md) a swing adjudicates on CPU
    // (flat = host noise) + plans (flip = real), so the top-5's best-run
    // CPU and their post-AQE join digests ride along — abbreviated
    // (BHJ/SMJ/SHJ/BNLJ/CP) to keep the line comfortably under 2k chars.
    val abbrev = Seq("BroadcastHashJoin" -> "BHJ", "SortMergeJoin" -> "SMJ",
      "ShuffledHashJoin" -> "SHJ", "BroadcastNestedLoopJoin" -> "BNLJ",
      "CartesianProduct" -> "CP")
    def shortPlan(p: String): String =
      abbrev.foldLeft(p) { case (s, (l, a)) => s.replace(l, a) }
    val top5cpu = top5rows
      .map { case (k, _, c, _) => "\"" + k + "\":" + f"$c%.3f" }
      .mkString("{", ",", "}")
    val top5plans = top5rows
      .map { case (k, _, _, p) => "\"" + k + "\":\"" + shortPlan(p) + "\"" }
      .mkString("{", ",", "}")
    // Sweep digest (the r11 verdict's measurement blind spot): the sweep
    // total previously recorded plans only, so a sweep-total swing needed
    // SCALE.md spelunking. The 5 slowest sweep keys ride along with their
    // median-run CPU and abbreviated plans — a BENCH_rN tail alone can
    // now adjudicate a sweep swing (flat CPU = host, flip = real).
    val sweepTop5rows = sweep.filter(_._2 >= 0).sortBy(-_._2).take(5)
    val sweepTop5 = sweepTop5rows
      .map { case (k, w, _, _) => "\"" + k + "\":" + f"$w%.3f" }
      .mkString("{", ",", "}")
    val sweepTop5cpu = sweepTop5rows
      .map { case (k, _, c, _) => "\"" + k + "\":" + f"$c%.3f" }
      .mkString("{", ",", "}")
    val sweepTop5plans = sweepTop5rows
      .map { case (k, _, _, p) => "\"" + k + "\":\"" + shortPlan(p) + "\"" }
      .mkString("{", ",", "}")
    println(s"""{"metric":"summary","value":$total,"unit":"sec","calibration":$calib,"calibration_short":$calibShort,"n_headline":${results.size},"n_sweep":${sweep.size},"sweep_total":${f"$sweepTotal%.3f"},"sweep_n":$sweepN,"top5":$top5,"top5_cpu":$top5cpu,"top5_plans":$top5plans,"sweep_top5":$sweepTop5,"sweep_top5_cpu":$sweepTop5cpu,"sweep_top5_plans":$sweepTop5plans,"errors":$errs,"sf":"$sfDir"}""")
    spark.stop()
  }
}
