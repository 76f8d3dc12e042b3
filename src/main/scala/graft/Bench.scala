package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.core.Json.quote

/** Benchmark main (driver contract): times the headline query set at
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line.
  *
  * Headliners are the read-path operators (scan/agg/join/window/dedup/
  * similarity/text) — the throughput surface a 100 TB deployment cares
  * about. Materialization demos (which time warehouse *writes* of the
  * whole table) are excluded from the timing set but remain in the
  * correctness gate. One warm-up executes the q1 plan so JVM/codegen
  * startup isn't attributed to the first query.
  *
  * Failure policy ("no silent caps"): a query that throws is NEVER
  * timed — its elapsed would be analysis-failure latency, which reads
  * as a 10× speed-up in the trend. Dead queries are excluded from
  * `headline_total`, reported under `"errors"`, flagged with
  * `"partial":true`, and the process exits nonzero, so a bench over
  * broken queries can't masquerade as a clean run.
  */
object Bench {
  val headline: Seq[String] = Seq(
    "q1_pricing_summary",
    "q2_revenue_by_nation",
    "q3_top_orders_per_customer",
    "q4_events_daily",
    "q_fn_dates",
    "q_test_unique",
    "q_dedup_exact",
    "q_dedup_minhash_lsh",
    "q_dedup_ngram_jaccard",
    "q_dedup_simhash",
    "q_sim_topk_brute",
    "q_text_quality",
    "q_text_langid",
    "q_stream_windowed")

  /** Second tracked metric (r9): the LLM-curation suite that landed in
    * round 8 — filters, decontamination, LM scoring, incremental near-dup.
    * A SEPARATE total so the headline set stays byte-stable for
    * cross-round trend comparison while the curation ops get their own
    * trend line. Timed in the same warm-up + best-of-N interleave. */
  val curation: Seq[String] = Seq(
    "q_text_repetition",
    "q_text_boilerplate",
    "q_decontaminate",
    "q_text_unigram_logprob",
    "q_dedup_minhash_incremental")

  /** Third tracked metric (r10): the excision/canonicalization family —
    * corpus-internal substring dedup, line boilerplate removal, unicode
    * normalize, and the Zipf-head profile. Separate key, same rationale
    * as `curation`: the earlier metrics stay byte-stable for trends. */
  val excision: Seq[String] = Seq(
    "q_dedup_substring_excise",
    "q_dedup_substring_incremental",
    "q_dedup_edit_distance",
    "q_text_strip_boilerplate",
    "q_text_normalize",
    "q_corpus_topk_ngrams")

  /** Fourth tracked metric (r12): the scoring-and-selection family —
    * DSIR importance weighting, perplexity bucketing, token-balanced
    * sharding, quantized search, and their 4-stage composition. Separate
    * key, same rationale: earlier metrics stay byte-stable for trends. */
  val selection: Seq[String] = Seq(
    "q_dsir_select",
    "q_text_ppl_buckets",
    "q_shard_assign",
    "q_sim_topk_sq8",
    "q_curation_pipeline_v5")

  /** Fifth tracked metric (r13): the full-recipe composed pipeline —
    * every stage family end to end (rules, LM buckets, DSIR, fuzzy
    * dedup, decontamination). Separate key, same rationale: earlier
    * metrics stay byte-stable for trends. */
  val pipeline: Seq[String] = Seq("q_curation_pipeline_v6")

  /** Sixth tracked metric (r14): the multimodal decode family — one
    * representative real-bytes query per modality (PNG hash pairs, WAV
    * envelope pairs, Y4M frame sampling). Separate key, same rationale:
    * earlier metrics stay byte-stable for trends. */
  val multimodal: Seq[String] = Seq(
    "q_multimodal_phash_pairs",
    "q_audio_fingerprint_pairs",
    "q_video_frame_sample")

  /** Seventh tracked metric (r15 — VERDICT task 5): the ENGINE-DAG path.
    * q_curation_project builds examples/curation end to end through the
    * real CLI (parse → schedule → materialize every stage as a table →
    * run the generic tests), so this number tracks the Runner's
    * integration overhead against the hand-composed v6 query in
    * `pipeline_total` — scheduling, commit-log writes, test nodes and
    * all. Separate key, same rationale: earlier metrics stay
    * byte-stable for trends. Per-model timings ride the sidecar's
    * `project_models` block (one extra instrumented build after the
    * timed passes — run_results carries per-node execution seconds). */
  val project: Seq[String] = Seq("q_curation_project")

  /** Eighth tracked metric (r15): the O(batch) INGEST family — the
    * nightly-pipeline shape where a new corpus batch probes persisted
    * artifacts and stores instead of recomputing over the corpus. One
    * representative per store kind: band-index minhash ingest,
    * block-index hamming ingest, frame-key containment ingest,
    * cluster-assignment fold, and artifact-driven DSIR selection.
    * Separate key, same rationale: earlier metrics stay byte-stable
    * for trends. */
  val ingest: Seq[String] = Seq(
    "q_dedup_minhash_from_index",
    "q_dedup_hamming_from_index",
    "q_video_framedup_incremental",
    "q_dedup_clusters_incremental",
    "q_dsir_from_model")

  /** Ninth tracked metric (r15 s3): lexical retrieval — BM25 serving
    * from the posting-index artifact and the RRF hybrid with the cosine
    * top-k. Separate key, same byte-stability rationale. */
  val retrieval: Seq[String] = Seq(
    "q_retrieval_bm25_topk",
    "q_retrieval_hybrid_rrf",
    "q_retrieval_phrase")

  /** Tenth tracked metric (r17 — VERDICT task 7): the DEPLOYED serving
    * plan — BM25 with df from the persisted term-stats artifact
    * (q_retrieval_bm25_stats: one index scan, no candidate exchange,
    * constant-size serving shuffle). `retrieval_total` times the
    * self-contained form; this key gives the artifact form its own
    * trend line while keeping retrieval_total byte-stable per the
    * bench's convention. */
  val retrievalStats: Seq[String] = Seq("q_retrieval_bm25_stats")

  /** Eleventh tracked metric (r18 — VERDICT r17 #9): BM25 serving over a
    * DELETE-FILE-CARRYING merge-on-read store — the anti-merge read path
    * every GC'd store serves through (~10-17% serve-side CPU, SCALE.md
    * r17) finally gets its own trend line; a regression there was
    * invisible to every other key (they serve clean stores). The gate's
    * store build + GC DML are attributed to the `phases` build split, so
    * the comparable number is the serve side. Separate key, same
    * rationale: earlier metrics stay byte-stable for trends. */
  val morServe: Seq[String] = Seq("q_retrieval_compact_mor")

  /** Twelfth tracked metric (r19 — VERDICT r18 #8): Zipf-head retrieval.
    * The closed 31-token gate fixture makes every term match ~every doc,
    * so q_retrieval_bm25_topk measures fixture saturation and the
    * df-elision knobs never show up in a bench number.
    * q_retrieval_bm25_stopword (oracle-verified since r16) carries the
    * Zipf leg: planted ultra-common terms (df = N, N/2, N/20) ride every
    * query and serving elides them with maxDfFraction = 0.3 — the
    * deployed Zipf-corpus configuration, measured 6.6× fewer candidate
    * shuffle rows than its unfiltered twin at the 150k probe (SCALE.md
    * r19). Separate key, same rationale: earlier metrics stay
    * byte-stable for trends. */
  val retrievalZipf: Seq[String] = Seq("q_retrieval_bm25_stopword")

  private def brief(t: Throwable): String = {
    val m = Option(t.getMessage).getOrElse(t.getClass.getName)
    m.replaceAll("\\s+", " ").take(200)
  }

  /** Warm-up + best-of-`passCount` timing over `timed`; returns the
    * single-line JSON artifact and the per-query error map (empty on a
    * clean run). Separated from [[main]] so the failure contract is
    * spec-testable without forking a JVM (BenchContractSpec). */
  def run(spark: SparkSession, sfDir: String, timed: Seq[String],
          queries: Map[String, (SparkSession, String) => DataFrame],
          passCount: Int = 3,
          extraMetrics: Seq[(String, Seq[String])] = Nil): (String, String, Map[String, String]) = {
    // Execute via a noop-format write, not count(): a row count lets
    // Catalyst prune deterministic projections/sorts (ColumnPruning,
    // EliminateSorts), which would un-measure projection-only queries.
    // The noop sink consumes every column of every row with zero I/O.
    def exec(name: String): Unit =
      queries(name)(spark, sfDir).write.format("noop").mode("overwrite").save()

    val errs = scala.collection.mutable.LinkedHashMap.empty[String, String]
    // extra metrics ride the same warm-up and interleaved passes; their
    // totals are reported under their own keys, never in headline_total
    val allTimed = (timed ++ extraMetrics.flatMap(_._2)).distinct

    // per-query executor CPU time rides the same passes as a second,
    // host-noise-immune axis (an untouched query whose wall spikes while
    // its CPU holds flat adjudicates as box noise in one line); the bus
    // must drain before each read — task-end events deliver async
    val cpuListener = new org.apache.spark.graft.CpuTimeAccumulator
    spark.sparkContext.addSparkListener(cpuListener)
    def cpuNow(): Long = cpuListener.snapshot(spark.sparkContext)

    // Warm-up pass: executes every headline plan once so JIT + whole-stage
    // codegen class compilation + parquet footer caches are attributed to
    // startup, not to the measured pass. The timed pass rebuilds each plan
    // from scratch (no persisted state survives — each query invocation
    // constructs and executes its full DataFrame DAG), so it measures
    // steady-state engine throughput, the metric that matters for a
    // long-running cluster.
    allTimed.foreach { name =>
      try exec(name)
      catch { case t: Throwable => errs.getOrElseUpdate(name, brief(t)) }
    }
    spark.catalog.clearCache()
    graft.queries.GatePhases.reset() // warm-up build records don't count

    // Best-of-N, pass-interleaved: each pass times every query once, and a
    // query reports its MINIMUM across passes. A transient load spike on
    // the bench host (the r5 driver run: every query +5%..+195%, suite
    // wall-clock +46% — adjudicated as box load in SCALE.md) now has to
    // persist across three separated attempts to distort a number, instead
    // of one unlucky second. Min, not mean: noise on this box is strictly
    // additive (GC, CPU contention), so the floor is the best estimate of
    // the code's actual cost.
    val passes = (1 to passCount).map { _ =>
      allTimed.flatMap { name =>
        if (errs.contains(name)) None
        else {
          val c0 = cpuNow()
          val t0 = System.nanoTime()
          val ok =
            try { exec(name); true }
            catch { case t: Throwable => errs.getOrElseUpdate(name, brief(t)); false }
          val elapsed = (System.nanoTime() - t0) / 1e9
          val cpu = (cpuNow() - c0) / 1e9 // drained AFTER elapsed is fixed
          // eager store-build seconds the gate recorded this invocation
          // (0 for gates that never call in) — drained per query so one
          // gate's scaffolding can't leak into the next
          val build = graft.queries.GatePhases.drain(name)
          spark.catalog.clearCache() // no persisted-frame leakage between queries
          if (ok) Some(name -> (elapsed, cpu, build)) else None
        }
      }.toMap
    }
    spark.sparkContext.removeSparkListener(cpuListener)
    val best = allTimed.filterNot(errs.contains).map(name =>
      name -> passes.flatMap(_.get(name).map(_._1)).min).toMap
    // min for CPU too: same strictly-additive-noise floor argument (a
    // descheduled-but-runnable thread still accrues no CPU, but GC and
    // memory-pressure cycles do inflate it)
    val bestCpu = allTimed.filterNot(errs.contains).map(name =>
      name -> passes.flatMap(_.get(name).map(_._2)).min).toMap
    // build/fold split (r16 — the ingest group's number was 65% in-gate
    // store scaffolding, hiding fold regressions): min independently per
    // phase (same additive-noise floor argument); reported only for
    // gates that recorded a build, full-line/sidecar only. The group
    // totals above stay byte-compatible for trends.
    val phases = allTimed.filterNot(errs.contains).flatMap { name =>
      val obs = passes.flatMap(_.get(name))
      if (obs.exists(_._3 > 0.0005))
        Some(name -> (obs.map(_._3).min, obs.map(o => o._1 - o._3).min))
      else None
    }
    def qsJson(names: Seq[String]): String =
      names.flatMap(n => best.get(n).map(v => "\"" + n + f"\":$v%.3f"))
        .mkString("{", ",", "}")
    def totalOf(names: Seq[String]): Double =
      names.flatMap(best.get).sum
    val extraJson = extraMetrics.map { case (metric, names) =>
      f""","$metric":${totalOf(names)}%.3f,"${metric}_queries":${qsJson(names)}"""
    }.mkString
    // CPU axis: one flat per-query map over every timed query plus a
    // total per metric group — placed AFTER "sf" so the wall-time
    // "queries" block (sliced by trend tooling as queries..sf) is stable
    def cpuQsJson(names: Seq[String]): String =
      names.flatMap(n => bestCpu.get(n).map(v => "\"" + n + f"\":$v%.3f"))
        .mkString("{", ",", "}")
    def cpuTotalOf(names: Seq[String]): Double = names.flatMap(bestCpu.get).sum
    val cpuJson =
      f""","headline_cpu_total":${cpuTotalOf(timed)}%.3f""" +
        extraMetrics.map { case (metric, names) =>
          f""","${metric}_cpu":${cpuTotalOf(names)}%.3f"""
        }.mkString +
        s""","cpu_queries":${cpuQsJson(allTimed)}"""
    val phasesJson =
      if (phases.isEmpty) ""
      else phases.map { case (n, (b, f)) =>
        "\"" + n + f"""\":{"build_s":$b%.3f,"fold_s":$f%.3f}"""
      }.mkString(""","phases":{""", ",", "}")
    val errJson =
      if (errs.isEmpty) ""
      else errs.map { case (k, v) => s"${quote(k)}:${quote(v)}" }
        .mkString(""","partial":true,"errors":{""", ",", "}")
    val json =
      f"""{"metric":"headline_total","value":${totalOf(timed)}%.3f,"unit":"sec","queries":${qsJson(timed)},"sf":"$sfDir"$extraJson$cpuJson$phasesJson$errJson}"""
    // COMPACT twin (r14): the driver stores only the last ~2000 chars of
    // stdout, and the full artifact (per-query wall + cpu + extra-metric
    // breakdowns) outgrew that window in r12/r13 — the captured tail
    // started mid-object and parsed as null. The compact line keeps the
    // complete driver contract (metric/value/unit/queries/sf) plus the
    // extra-metric and cpu TOTALS, drops the secondary breakdowns (they
    // live in the full line and the target/bench.json sidecar), and is
    // printed as the process's FINAL stdout line so a bounded tail
    // window always contains one complete parseable artifact.
    val extraTotalsJson = extraMetrics.map { case (metric, names) =>
      f""","$metric":${totalOf(names)}%.3f"""
    }.mkString
    val cpuTotalsJson =
      f""","headline_cpu_total":${cpuTotalOf(timed)}%.3f""" +
        extraMetrics.map { case (metric, names) =>
          f""","${metric}_cpu":${cpuTotalOf(names)}%.3f"""
        }.mkString
    val errNamesJson =
      if (errs.isEmpty) ""
      else errs.keys.map(quote).mkString(""","partial":true,"failed":[""", ",", "]")
    val compact =
      f"""{"metric":"headline_total","value":${totalOf(timed)}%.3f,"unit":"sec","queries":${qsJson(timed)},"sf":"$sfDir"$extraTotalsJson$cpuTotalsJson$errNamesJson}"""
    (json, compact, errs.toMap)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // `runMain graft.Bench q_a,q_b` restricts the timed set — local A/B
    // iteration on one query without paying the full suite. A program
    // argument, not an env var: `sbt -client` executes in the long-lived
    // server JVM, which never sees the invoking shell's environment.
    // The driver runs with no args, so the contract output is unchanged.
    val only = args.headOption.map(_.split(",").map(_.trim).toSet)
    val timed = only.map(o => headline.filter(o)).getOrElse(headline)
    // the curation metric rides the default (driver) run; an explicit
    // query-list A/B run times exactly what was asked, nothing else
    val extras = only match {
      case None =>
        Seq("curation_total" -> curation, "excision_total" -> excision,
          "selection_total" -> selection, "pipeline_total" -> pipeline,
          "multimodal_total" -> multimodal, "project_total" -> project,
          "ingest_total" -> ingest, "retrieval_total" -> retrieval,
          "retrieval_stats_total" -> retrievalStats,
          "mor_serve_total" -> morServe,
          "retrieval_zipf_total" -> retrievalZipf)
      case Some(o) =>
        Seq("curation_total" -> curation.filter(o),
          "excision_total" -> excision.filter(o),
          "selection_total" -> selection.filter(o),
          "pipeline_total" -> pipeline.filter(o),
          "multimodal_total" -> multimodal.filter(o),
          "project_total" -> project.filter(o),
          "ingest_total" -> ingest.filter(o),
          "retrieval_total" -> retrieval.filter(o),
          "retrieval_stats_total" -> retrievalStats.filter(o),
          "mor_serve_total" -> morServe.filter(o),
          "retrieval_zipf_total" -> retrievalZipf.filter(o)).filter(_._2.nonEmpty)
    }
    val spark = GraftSession.create()

    val (json0, compact, errs) = run(spark, sfDir, timed, SparkEntry.queries, extraMetrics = extras)
    // per-model timings for the engine-DAG metric (r15): ONE extra
    // instrumented build after the timed passes — the Runner's own
    // run_results carries per-node execution seconds. Sidecar/full-line
    // only (the compact line must stay inside the driver's tail window).
    val projectModels: String =
      if (only.isDefined) "" // A/B runs time exactly what was asked
      else try {
        val proj = graft.queries.OpsQueries.stageCurationProject(sfDir)
        try {
          val sink = new java.io.PrintWriter(java.io.Writer.nullWriter(), true)
          val code = graft.Main.execute(spark, graft.Main.Args(
            command = "build", project = proj), sink)
          require(code == 0, s"instrumented project build exited $code")
          val doc = graft.core.Json.obj(graft.core.Json.parse(
            java.nio.file.Files.readString(
              java.nio.file.Paths.get(proj, "target", "run_results.json"))))
          val entries = graft.core.Json.arr(doc("results")).map(graft.core.Json.obj)
            .map { r =>
              val id = graft.core.Json.str(r("unique_id"))
              val t = r("execution_time") match {
                case d: Double => d; case l: Long => l.toDouble; case _ => 0.0
              }
              "\"" + id.split("\\.").last + f"\":$t%.3f"
            }
          s""","project_models":${entries.mkString("{", ",", "}")}"""
        } finally graft.queries.OpsQueries.deleteDir(proj)
      } catch { case t: Throwable =>
        System.err.println(s"[bench] project_models skipped: ${brief(t)}")
        ""
      }
    val json = if (projectModels.isEmpty) json0
      else json0.stripSuffix("}") + projectModels + "}"
    // Tail-capture self-defense, v2 (r14): the driver stores only the
    // last ~2000 chars of stdout, which the FULL artifact outgrew (the
    // r13 capture started mid-object → parsed null). The full artifact
    // goes to the target/bench.json sidecar and ONE full stdout line
    // (for whole-stream consumers); the process's FINAL line — after
    // spark.stop()'s shutdown logging — is the COMPACT artifact, sized
    // to fit a bounded tail window while keeping the complete driver
    // contract (metric/value/unit/queries/sf + metric totals). Exactly
    // one full and one compact line per run: a consumer that greps all
    // JSON lines no longer double-counts (r13 ADVICE).
    // r19: the stdout line reached the driver wrapped in sbt's "[info] "
    // decoration for 18 straight rounds (every BENCH_r*.json parsed:null),
    // so the artifact is now ALSO recoverable from two driver-reachable
    // sidecars: $SPARK_GRAFT_OUT if set, else bench_out.json in the CWD
    // (the repo root under the sbt run contract), in addition to the
    // original target/bench.json. The stdout lines are byte-identical to
    // r18's; build.sbt additionally stops sbt from decorating them.
    val sidecars =
      Seq(java.nio.file.Paths.get("target", "bench.json"),
        java.nio.file.Paths.get(sys.env.getOrElse("SPARK_GRAFT_OUT", "bench_out.json")))
    sidecars.foreach { side =>
      try {
        Option(side.getParent).foreach(java.nio.file.Files.createDirectories(_))
        java.nio.file.Files.write(side, (json + "\n").getBytes("UTF-8"))
        System.err.println(s"[bench] artifact sidecar: ${side.toAbsolutePath}")
      } catch { case t: Throwable =>
        System.err.println(s"[bench] sidecar write failed (stdout still carries the artifact): ${brief(t)}")
      }
    }
    println(json)
    spark.stop()
    if (errs.nonEmpty) {
      val nTimed = (timed ++ extras.flatMap(_._2)).distinct.size
      System.err.println(s"[bench] ${errs.size} of $nTimed queries FAILED: ${errs.keys.mkString(", ")}")
    }
    println(compact)
    // marked, so a consumer merging stdout and stderr sees one bare
    // compact artifact
    System.err.println(s"[bench] compact $compact")
    if (errs.nonEmpty) sys.exit(1)
  }
}
