package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.core._
import graft.compile.TemplateResolver

/** Parse+plan latency vs the reference's published baseline
  * (BASELINE.md: dbt parse of performance/projects/01_2000_simple_models —
  * 2000 one-line models in 10 chains of 200 — means 43-72 s on GHA).
  * Self-imposed target: < 5 s for the same shape (SURVEY §6). */
class ParseBenchSpec extends AnyFunSuite {

  private def generateProject(): Seq[(String, String)] = {
    (0 until 10).flatMap { chain =>
      (0 until 200).map { i =>
        val name = s"path_${chain}_node_$i"
        val sql =
          if (i == 0) s"{{ config(materialized='view', tags='chain_$chain') }}\nselect 1 as id"
          else s"select * from {{ ref('path_${chain}_node_${i - 1}') }} union all select ${i} as id"
        name -> sql
      }
    }
  }

  test("2000-model project: parse + manifest + link + schedule + compile < 5s") {
    val files = generateProject()
    val spark = SparkTestSession.spark
    // compile renders names only, so a warehouse that does not exist serves
    val absent = java.nio.file.Files.createTempDirectory("graft_perf").resolve("absent")
    val rm = new graft.relations.RelationManager(spark, absent.toString)
    val t0 = System.nanoTime()

    // parse (static ref/config extraction, checksums)
    val nodes = files.map { case (name, sql) => TemplateResolver.parseModel("perf", name, sql) }
    // manifest + ref resolution (process_refs)
    val manifest = Manifest(nodes).processRefs()
    // link + cycle check + scheduling scores
    val order = Dag.topoSort(manifest.parentMap)
    val scores = Dag.depthScores(manifest.parentMap)
    // selector algebra over the full graph
    val selected = Selector.select(manifest, Seq("tag:chain_3+"))
    // compile every node's SQL through the Runner: refs render as
    // relation names, touching neither Spark nor the warehouse
    val runner = new graft.runner.Runner(spark, rm, manifest)
    val compiled = nodes.map(n => runner.compileSql(manifest(n.uniqueId)))

    val seconds = (System.nanoTime() - t0) / 1e9
    info(f"2000-model parse+link+schedule+compile: $seconds%.2f s (reference baseline: 43-72 s)")
    assert(order.size == 2000)
    assert(scores.values.max == 199)
    assert(selected.size == 200) // node_0 tagged + its 199 descendants
    assert(compiled.count(_.contains("main__")) == 1990)
    assert(!java.nio.file.Files.exists(absent))
    assert(seconds < 5.0, f"parse+plan took $seconds%.2f s, target < 5 s")
  }
}

/** Plan-quality gates: the physical plans the engine relies on at scale
  * must actually materialize — filter/column pushdown into the parquet
  * scan, broadcast joins for dims, no cartesian products in blocked ops. */
class PlanQualitySpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  private def physicalPlan(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sf)
    df.collect() // finalize THIS plan's AQE so codegen spans are visible
    // keep only the final adaptive plan (toString appends the initial copy)
    df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
  }

  test("q1: shipdate filter and column pruning reach the parquet scan") {
    val plan = physicalPlan("q1_pricing_summary")
    assert(plan.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"),
      s"missing pushed filter:\n$plan")
    val readSchema = "ReadSchema: struct<" +
      plan.split("ReadSchema: struct<")(1).split(">")(0)
    assert(!readSchema.contains("l_comment") && !readSchema.contains("l_shipmode"))
    assert(plan.contains("*("), "no whole-stage-codegen spans") // codegen spans print as *(n)
  }

  test("q2: all four dimension joins broadcast; fact side never re-shuffles before agg") {
    val plan = physicalPlan("q2_revenue_by_nation")
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 3, s"expected broadcast joins:\n$plan")
    assert(!plan.contains("CartesianProduct"))
  }

  test("q3: both window functions share one shuffle on o_custkey") {
    val plan = physicalPlan("q3_top_orders_per_customer")
    val exchanges = "Exchange hashpartitioning\\(o_custkey".r.findAllIn(plan).size
    assert(exchanges == 1, s"expected a single window shuffle, got $exchanges:\n$plan")
    assert("Window ".r.findAllIn(plan).size == 2, "both window functions present")
  }

  test("merge planning scan reads ONLY the key columns (O(touched-files) precondition)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, input_file_name}
    val rm = new graft.relations.RelationManager(spark,
      java.nio.file.Files.createTempDirectory("graft_planscan").toString)
    val rel = graft.core.Relation("graft", "plan", "wide")
    rm.writeTable((0 until 1000).map(i => (i.toLong, s"a$i", s"b$i", s"c$i"))
      .toDF("id", "a", "b", "c").repartitionByRange(4, $"id"), rel)
    // the find-touched-files job from Materializations.mergeInto's shape
    val probe = rm.read(rel)
      .select(col("id"), input_file_name().as("__graft_file"))
      .join(Seq(1L, 2L).toDF("id"), Seq("id"), "left_semi")
    probe.collect()
    val plan = probe.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    val readSchema = "ReadSchema: struct<" +
      plan.split("ReadSchema: struct<")(1).split(">")(0)
    assert(readSchema == "ReadSchema: struct<id:bigint",
      s"planning scan must prune to the key columns: $readSchema")
  }

  test("packing: the only single-partition exchange carries bucket totals, not documents") {
    val plan = physicalPlan("q_pack_sequences")
    // level-1 cumsum shuffles documents by bucket; level-2 runs over the
    // per-bucket AGGREGATE, so exactly one SinglePartition exchange exists
    // and it must sit above a HashAggregate (bucket totals), never raw rows
    assert(plan.contains("Exchange hashpartitioning(__bucket"),
      s"level-1 must shuffle by bucket:\n$plan")
    val single = "Exchange SinglePartition".r.findAllIn(plan).size
    assert(single == 1, s"expected exactly one tiny global window, got $single:\n$plan")
    val afterSingle = plan.split("Exchange SinglePartition", 2)(1)
    assert(afterSingle.split("\n").take(4).mkString("\n").contains("HashAggregate"),
      s"the single-partition window must consume bucket totals:\n$plan")
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
      s"bucket offsets must broadcast back:\n$plan")
  }

  test("dedup ops contain no cartesian products (blocking join present)") {
    for (q <- Seq("q_dedup_minhash_lsh", "q_dedup_simhash", "q_dedup_ngram_jaccard",
                  "q_dedup_clusters")) {
      val plan = physicalPlan(q)
      assert(!plan.contains("CartesianProduct"), s"$q has a cross join:\n$plan")
    }
    // the fused signature/shingle expressions eliminated every per-doc
    // window sort AND aggregate from signature/shingle PRODUCTION.
    // q_dedup_minhash_lsh/_ngram_jaccard end in localCheckpoint, whose
    // executedPlan only shows the final sort over a materialized RDD —
    // asserting on them would be vacuous; assert the production stages
    // directly (plus simhash's un-checkpointed full plan).
    assert(!physicalPlan("q_dedup_simhash").contains("Window"))
    val docs = Tables.documents(spark, sf)
    val sigPlan = graft.ops.Dedup
      .minhashSignatures(docs, "doc_id", "text", shingleLen = 5, k = 32)
      .queryExecution.executedPlan.toString
    assert(!sigPlan.contains("Window") && !sigPlan.contains("HashAggregate"),
      s"fused minhash signatures must be a pure map:\n$sigPlan")
    val shinglePlan = docs.select(org.apache.spark.sql.functions.explode(
      org.apache.spark.sql.graft.VectorExpressions
        .wordShingles(org.apache.spark.sql.functions.col("text"), 3, distinct = true)))
      .queryExecution.executedPlan.toString
    assert(!shinglePlan.contains("Window") && !shinglePlan.contains("HashAggregate"),
      s"fused shingle production must be a pure map:\n$shinglePlan")
  }

  test("r12: bloom ingest streams the store — no sort-merge join at any store size") {
    // the regime the pre-filter exists for: fingerprint store past the
    // broadcast threshold, batch (and so the maybe-key set) below it.
    // The plain form's left join against the store must sort-merge (the
    // store side sorts per batch); the restructured bloom form probes
    // the store as a SEMI join with the SMALL key set on the build side
    // and the matched set rides back as a broadcast — the store is only
    // ever STREAMED, so the plan carries NO SortMergeJoin.
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, md5}
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
    // ~100k synthetic fingerprints (~5 MB) — past the 64 KB threshold —
    // plus every 5th doc's real fingerprint, so the maybe-key set is
    // NON-empty and the probe joins actually execute (with zero maybe
    // keys AQE empty-relation-propagates the store scan away wholesale)
    val store = spark.range(100000).select(md5(col("id").cast("string")).as("h"))
      .union(docs.filter(col("doc_id") % 5 === 0).select(md5(col("text")).as("h")))
    val bloom = graft.ops.Dedup.fingerprintBloom(store, "h", expectedItems = 100000L)
    val was = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", (64 * 1024).toString)
    try {
      val plain = graft.ops.Dedup.exactIncremental(docs, "doc_id", "text", store, "h")
      plain.collect()
      val plainPlan = plain.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
      assert(plainPlan.contains("SortMergeJoin"),
        s"precondition: the plain form must be in the sort-merge regime:\n$plainPlan")
      val pre = graft.ops.Dedup.exactIncrementalBloom(
        docs, "doc_id", "text", store, "h", bloom)
      pre.collect()
      val prePlan = pre.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
      assert(!prePlan.contains("SortMergeJoin"),
        s"bloom form must never sort the store:\n$prePlan")
      assert(prePlan.contains("BroadcastHashJoin"),
        s"maybe-key semi probe and matched set must broadcast:\n$prePlan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", was)
  }

  test("r12: selection-family plan shapes — broadcast models and cutoffs, no cartesian") {
    // DSIR: the bucket model is bounded by the declared nBuckets and
    // must BROADCAST (a data-sized model would shuffle the corpus);
    // the cutoff ride-back is a 1-row broadcast; no cartesian anywhere
    val dsir = physicalPlan("q_dsir_select")
    assert(!dsir.contains("CartesianProduct"), s"q_dsir_select cartesian:\n$dsir")
    assert(dsir.contains("BroadcastHashJoin") || dsir.contains("BroadcastExchange"),
      s"dsir model must broadcast:\n$dsir")
    // perplexity buckets: assignment joins the per-group cutoff tables
    // as broadcasts (rows = |groups| x 2), never a data-sized shuffle
    val ppl = physicalPlan("q_text_ppl_buckets")
    assert(!ppl.contains("CartesianProduct"), s"q_text_ppl_buckets cartesian:\n$ppl")
    assert(ppl.contains("BroadcastHashJoin"),
      s"cutoff tables must broadcast:\n$ppl")
    // sharding: the packing contract — documents shuffle ONCE by hash
    // bucket; single-partition exchanges carry bucket totals / the 1-row
    // grand total, never document-sized data
    val shard = physicalPlan("q_shard_assign")
    assert(shard.contains("Exchange hashpartitioning(__sub"),
      s"shard must shuffle by hash sub-bucket:\n$shard")
    val singles = "Exchange SinglePartition".r.findAllIn(shard).toSeq.size
    assert(singles <= 2, s"expected only the offsets+total tiny exchanges:\n$shard")
    "Exchange SinglePartition".r.findAllIn(shard).matchData.foreach { m =>
      val after = shard.substring(m.end).split("\n").take(4).mkString("\n")
      assert(after.contains("HashAggregate"),
        s"a single-partition exchange must consume aggregates, not documents:\n$shard")
    }
  }

  test("r14: composed v6 cutoff stages carry NO partition-less rank window") {
    // The r13 verdict's one open scale-killer: the composed pipelines
    // defaulted onto the exact global/per-language rank window. v5/v6
    // now ride percentile_approx (also the operator default); this pins
    // the PRE-checkpoint stage plans (the checkpoint boundary hides the
    // stages from the final v6 plan), built via the same factored stage
    // functions curationV6 materializes.
    import spark.implicits._
    val scored = Seq(
      (1L, "en", 5L, -1.2), (2L, "en", 3L, -2.4), (3L, "en", 4L, -0.8),
      (4L, "de", 6L, -1.9), (5L, "de", 2L, -0.4), (6L, "de", 7L, -3.1))
      .toDF("doc_id", "lang", "n_bigrams", "avg_logprob_lm")
    val ppl = graft.queries.OpsQueries.v6PplStage(scored)
    ppl.collect()
    val pplPlan = ppl.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(!pplPlan.contains("Window"),
      s"v6 perplexity stage still ranks via a window:\n$pplPlan")
    assert(pplPlan.contains("percentile_approx") ||
      pplPlan.contains("approx_percentile"),
      s"v6 perplexity stage must derive cutoffs via percentile_approx:\n$pplPlan")
    val docs = Seq(
      (1L, "alpha beta gamma delta"), (2L, "alpha beta epsilon zeta"),
      (3L, "eta theta iota kappa"), (4L, "alpha gamma eta theta"))
      .toDF("doc_id", "text")
    val dsir = graft.queries.OpsQueries.v6DsirStage(docs,
      docs.filter(org.apache.spark.sql.functions.col("doc_id") % 2 === 1))
    dsir.collect()
    val dsirPlan = dsir.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(!dsirPlan.contains("Window"),
      s"v6 DSIR stage still ranks via a window:\n$dsirPlan")
    assert(dsirPlan.contains("percentile_approx") ||
      dsirPlan.contains("approx_percentile"),
      s"v6 DSIR stage must derive its cutoff via percentile_approx:\n$dsirPlan")
    // and the default path of the standalone gates inherits the same
    // shape — a 100 TB caller passing no flag gets no rank window
    Seq("q_dsir_select", "q_text_ppl_buckets").foreach { q =>
      val plan = physicalPlan(q)
      assert(!plan.contains("Window"),
        s"$q default path still carries a rank window:\n$plan")
    }
  }

  test("r15: ingest-fold plan shapes — broadcast remaps over the store, windows component-partitioned") {
    import spark.implicits._
    val store = (0L until 400L).map(i => (i, i / 4 * 4)).toDF("node", "component")
    val edges = Seq((1L, 5L), (9L, 13L), (900L, 901L)).toDF("a", "b")
    // CC fold: the store is touched only by broadcast joins (remap +
    // endpoint projection build sides are batch-bounded) — a sort-merge
    // or cartesian anywhere means an O(store) shuffle crept in
    val full = graft.ops.Dedup.connectedComponentsIncremental(
      store, "node", "component", edges, "a", "b")
    full.collect()
    val plan = full.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"),
      s"CC fold must broadcast batch-derived sides over the store:\n$plan")
    // keep-best fold: same join discipline, and the re-rank window is
    // partitioned by component — never the partition-less global window
    val surv = graft.ops.Dedup.keepBest(
      (0L until 400L).map(i => (i, (i % 7).toDouble)).toDF("id", "score"),
      "id", "score", store)
    val kb = graft.ops.Dedup.keepBestIncremental(surv, "id", "score",
      Seq((900L, 9.0)).toDF("id", "score"), edges, "a", "b")
    kb.collect()
    val kplan = kb.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(!kplan.contains("SortMergeJoin") && !kplan.contains("CartesianProduct"),
      s"keep-best fold must broadcast batch-derived sides:\n$kplan")
    val windowSpecs = kplan.split("windowspecdefinition\\(").drop(1)
    assert(windowSpecs.nonEmpty &&
      windowSpecs.forall(_.take(60).contains("component")),
      s"the re-rank window must partition by component:\n$kplan")
    // decontamination registry fold: the corpus index is probed by a
    // BROADCAST of the fresh-shingle set, never shuffled for the join
    val ledger = Seq((1L, 0L), (2L, 1L)).toDF("doc_id", "n_overlap")
      .withColumn("contaminated",
        org.apache.spark.sql.functions.col("n_overlap") >= 1)
    val index = Seq((1L, "alpha beta gamma delta"), (2L, "x y z w"))
      .toDF("doc_id", "text")
    val (updated, _) = graft.ops.Decontaminate.flagOverlapIncremental(
      ledger, "doc_id",
      graft.ops.Decontaminate.corpusShingleIndex(index, "doc_id", "text", 4),
      Seq("alpha beta gamma delta").toDF("shingle"),
      Seq((9L, "alpha beta gamma delta extra")).toDF("doc_id", "text"),
      "text", 4, minOverlap = 1)
    updated.collect()
    val dplan = updated.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(!dplan.contains("SortMergeJoin") && !dplan.contains("CartesianProduct"),
      s"registry fold must broadcast the fresh-shingle probe:\n$dplan")
  }

  test("r15: incremental curation stage plans are window-free end to end") {
    // The ingest project's whole point: per-batch stages score against
    // HELD artifacts, so no stage derives a cutoff at all — every
    // per-batch plan must be rank-window-free (assignment joins +
    // per-doc aggregates only). Pinned on the same factored stage
    // functions the Runner materializes.
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val feed = graft.ops.CurationIngest.feed(
      Seq((1L, "alpha beta gamma delta text", "en"),
        (2L, "epsilon zeta eta theta text", "en"),
        (3L, "iota kappa lambda mu text", "de"))
        .toDF("doc_id", "text", "lang"))
    val (uni, bi) = graft.ops.TextAnalysis.lmTables(feed, "text")
    val cuts = Seq(("en", -1.0, -2.0)).toDF("lang", "cut_head", "cut_middle")
    val rules = graft.ops.CurationIngest.rules(feed)
    val scored = graft.ops.CurationIngest.scored(feed, rules, uni, bi, cuts)
    val model = graft.ops.Dsir.buildModel(feed, feed.filter(col("doc_id") % 2 === 1),
      "doc_id", "text")
    val cut = Seq(0.0).toDF("cut_value")
    val dsir = graft.ops.CurationIngest.dsir(feed, scored, model, cut)
    Seq("scored" -> scored, "dsir" -> dsir).foreach { case (name, df) =>
      df.collect()
      val plan = df.queryExecution.executedPlan.toString
        .split("== Initial Plan ==")(0)
      assert(!plan.contains("Window"),
        s"ingest stage $name carries a rank window:\n$plan")
    }
  }

  test("r14: LM-artifact join strategy is a declared knob, not folk knowledge") {
    import org.apache.spark.sql.functions.col
    val docs = Tables.documents(spark, sf)
    val (uni, bi) = graft.ops.TextAnalysis.lmTables(
      docs.filter(col("doc_id") % 3 === 0), "text")
    def logicalPlan(strategy: String): String =
      graft.ops.TextAnalysis.externalLmLogProb(docs, "doc_id", "text", uni, bi,
        strategy = strategy).queryExecution.optimizedPlan.toString
    // "broadcast" plants a hint on each of the two LM-table joins over
    // whatever the artifact plans already carry internally (lmTables'
    // 1-row total rides its own broadcast crossJoin) — so the contract
    // is the DELTA vs the shuffle plan, asserted at the LOGICAL level
    // (AQE may still runtime-convert a small shuffle join, which is
    // exactly the behavior "shuffle" defers to instead of forcing)
    def hints(plan: String): Int =
      "strategy=broadcast".r.findAllIn(plan).size
    val base = hints(logicalPlan("shuffle"))
    assert(hints(logicalPlan("broadcast")) == base + 2,
      s"broadcast strategy must hint exactly the two LM-table joins " +
        s"(baseline $base):\n${logicalPlan("broadcast")}")
    val e = intercept[IllegalArgumentException](logicalPlan("bcast"))
    assert(e.getMessage.contains("auto|broadcast|shuffle"), e.getMessage)
    // auto under a zero threshold must take the safe shuffle path
    val autoTiny = graft.ops.TextAnalysis.externalLmLogProb(docs, "doc_id",
      "text", uni, bi, broadcastThresholdBytes = 0L)
      .queryExecution.optimizedPlan.toString
    assert(hints(autoTiny) == base,
      s"auto under a zero threshold must not hint the LM joins:\n$autoTiny")
    val auto = graft.ops.TextAnalysis.externalLmLogProb(docs, "doc_id", "text",
      uni, bi).queryExecution.optimizedPlan.toString
    info(s"auto at the default threshold chose " +
      (if (hints(auto) > base) "broadcast" else "shuffle"))
  }

  test("brute-force topk broadcasts the query side, not the corpus") {
    val plan = physicalPlan("q_sim_topk_brute")
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"),
      s"query side should broadcast:\n$plan")
  }

  test("r11: every search top-k ranks via the bounded aggregate, never a rank window") {
    // the r10 verdict's last flagged scale-killer: row_number() over
    // partitionBy(query_id) sorts (and spills) a corpus-sized partition
    // per query. The bounded TopKAggregate streams candidates through
    // O(k) heap state with map-side partial aggregation instead — the
    // plan must carry NO Window on any similarity search path, and the
    // heap must plan as an ObjectHashAggregate (TypedImperativeAggregate
    // outside sort-based fallback).
    for (q <- Seq("q_sim_topk_brute", "q_sim_topk_lsh", "q_sim_topk_ivf",
                  "q_sim_topk_ivf_bigk", "q_sim_topk_pq", "q_sim_topk_ivf_pq",
                  "q_sim_topk_sq8", "q_sim_topk_ivf_sq8")) {
      val plan = physicalPlan(q)
      assert(!plan.contains("Window"), s"$q still ranks via a window:\n$plan")
      assert(plan.contains("ObjectHashAggregate"),
        s"$q should plan the bounded top-k heap as ObjectHashAggregate:\n$plan")
    }
  }

  test("curation ops: no cartesian anywhere; repetition is shuffle-free per-row work") {
    for (q <- Seq("q_text_repetition", "q_text_boilerplate", "q_decontaminate",
                  "q_split_cluster_safe", "q_mix_sources", "q_text_pii",
                  "q_text_unigram_logprob", "q_dedup_incremental",
                  "q_dedup_minhash_incremental", "q_corpus_stats",
                  "q_curation_pipeline", "q_dedup_semantic")) {
      val plan = physicalPlan(q)
      assert(!plan.contains("CartesianProduct"), s"$q has a cross join:\n$plan")
    }
    // r9: the per-doc stats ride ONE fused expression (RepetitionStats) —
    // the plan must carry NO exchange beyond the gate query's output sort
    // (the r8 form's partial-agg shuffle existed only to count row-local
    // grams; RepetitionParity pins result equality against it)
    val rep = physicalPlan("q_text_repetition").split("== Initial Plan ==")(0)
    val exchanges = "Exchange ".r.findAllIn(rep).size
    val rangeEx = "Exchange rangepartitioning".r.findAllIn(rep).size
    assert(exchanges == rangeEx,
      s"fused repetition must not shuffle beyond the output sort:\n$rep")
    assert(rep.contains("repetition_stats"), s"expected the fused expression:\n$rep")
  }

  test("r10 curation ops: excision joins never cartesian, normalize is pure per-row codegen") {
    for (q <- Seq("q_dedup_substring_excise", "q_text_strip_boilerplate",
                  "q_corpus_topk_ngrams", "q_dedup_substring_incremental",
                  "q_curation_pipeline_v3")) {
      val plan = physicalPlan(q)
      assert(!plan.contains("CartesianProduct"), s"$q has a cross join:\n$plan")
      assert(!plan.contains("Window"), s"$q should not need a window:\n$plan")
    }
    // edit-distance verify joins texts into banded candidates — never a
    // cartesian; tf-idf's only cross join is the broadcast 1-row N total
    // (the unigramLogProb pattern), and its window is doc-partitioned;
    // PQ's only cross joins are broadcast codebook/distance tables
    // (driver-tiny by construction) — the corpus side joins codes only
    for (q <- Seq("q_dedup_edit_distance", "q_corpus_tfidf_terms",
                  "q_sim_pq_encode", "q_sim_topk_pq", "q_sim_topk_ivf_pq")) {
      val plan = physicalPlan(q)
      assert(!plan.contains("CartesianProduct"), s"$q has a cross join:\n$plan")
    }
    // r12 fuzzy-dedup pipeline v4: the composed verify-then-cluster loop
    // must stay cartesian-free end-to-end (banded candidates + verified
    // pairs + CC + survivor); its only window is the component-keyed
    // survivor pick, whose partitions are cluster-sized, never corpus-
    // sized (editDistancePairs localCheckpoints, so assert the live
    // downstream plan too)
    locally {
      val plan = physicalPlan("q_curation_pipeline_v4")
      assert(!plan.contains("CartesianProduct"),
        s"q_curation_pipeline_v4 has a cross join:\n$plan")
    }

    // exact-k sampling plans as TakeOrdered — never a corpus-wide sort
    assert(physicalPlan("q_sample_exact_k").contains("TakeOrderedAndProject"))
    // normalize is strictly per-row: one fused expression, no exchange
    // beyond the gate query's output sort, and inside codegen
    val norm = physicalPlan("q_text_normalize")
    val exchanges = "Exchange ".r.findAllIn(norm).size
    val rangeEx = "Exchange rangepartitioning".r.findAllIn(norm).size
    assert(exchanges == rangeEx, s"normalize must not shuffle beyond the sort:\n$norm")
    assert(norm.contains("normalize_text"), s"expected the fused expression:\n$norm")
    // "*(n)" is toString's WholeStageCodegen marker — the expression must
    // sit inside a codegen stage, not fall back to interpreted projection
    assert(norm.linesIterator.exists(l => l.contains("*(") && l.contains("normalize_text")),
      s"normalize must stay codegen:\n$norm")
    // top-k runs as TakeOrdered, never a vocabulary-wide global sort
    val topk = physicalPlan("q_corpus_topk_ngrams")
    assert(topk.contains("TakeOrderedAndProject"),
      s"top-k must plan as TakeOrdered:\n$topk")
  }

  test("mix/split/pii stay shuffle-free: pure per-row filters and projections") {
    for (q <- Seq("q_mix_sources", "q_split_assign", "q_text_pii")) {
      val plan = physicalPlan(q).split("== Initial Plan ==")(0)
      // the gate queries append an orderBy for determinism, which plans a
      // range exchange — anything BEYOND that one sort means the op itself
      // shuffled, which these ops must never do
      val exchanges = "Exchange ".r.findAllIn(plan).size
      val rangeEx = "Exchange rangepartitioning".r.findAllIn(plan).size
      assert(exchanges == rangeEx, s"$q must not shuffle beyond the output sort:\n$plan")
    }
  }
}
