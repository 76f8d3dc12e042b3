package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.functions._

/** Optimization-round stage-attribution lab: times sub-stages of the
  * expensive bench queries with the wall + executor-CPU + shuffle-record
  * axes (same listener as Bench/ScaleProbe), so per-operator changes are
  * driven by where the time actually goes, not by plan aesthetics.
  * Throwaway-grade tool, kept for reproducibility of OPTIMIZATION_r18.md
  * numbers: `sbt "runMain graft.OptLab <sfDir> lsh"`.
  *
  * The `plans` mode dumps `.explain("formatted")` for declared queries
  * (default: every query) to `<outDir>/<name>_<suffix>.txt`, so plan
  * claims in OPTIMIZATION_r*.md are checkable against committed
  * artifacts without running Spark:
  *
  *   sbt "runMain graft.OptLab plans <sfDir> plans/r18 before q_a,q_b"
  *
  * Formatted explain shows the INITIAL plan (AQE isFinalPlan=false); join
  * strategy / exchange counts read from it are pre-AQE, which is the
  * comparable shape across changes. Both modes run on the
  * [[GraftSession]] the bench times. */
object OptLab {
  def main(args: Array[String]): Unit = {
    require(!args.headOption.contains("plans") || args.length >= 4,
      "usage: OptLab plans <sfDir> <outDir> <suffix> [q_a,q_b]")
    val spark = GraftSession.create()
    args.toList match {
      case "plans" :: sfDir :: outDir :: suffix :: names =>
        dumpPlans(spark, sfDir, outDir, suffix,
          names.flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty))
      case _ => lab(spark, args)
    }
    spark.stop()
  }

  private def dumpPlans(spark: SparkSession, sfDir: String, outDir: String,
                        suffix: String, only: Seq[String]): Unit = {
    val names = if (only.nonEmpty) only else SparkEntry.queries.keys.toSeq.sorted
    val dir = java.nio.file.Paths.get(outDir)
    java.nio.file.Files.createDirectories(dir)
    names.foreach { name =>
      SparkEntry.queries.get(name) match {
        case None => System.err.println(s"[plans] unknown query: $name")
        case Some(q) =>
          try {
            val txt = q(spark, sfDir).queryExecution.explainString(FormattedMode)
            java.nio.file.Files.write(dir.resolve(s"${name}_$suffix.txt"),
              txt.getBytes("UTF-8"))
            println(s"[plans] wrote ${name}_$suffix.txt")
          } catch { case t: Throwable =>
            System.err.println(s"[plans] $name failed: ${t.getMessage}")
          }
      }
    }
  }

  private def lab(spark: SparkSession, args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val which: String => Boolean =
      if (args.length > 1) args.drop(1).toSet.contains else _ => true
    val cpuAcc = new org.apache.spark.graft.CpuTimeAccumulator
    spark.sparkContext.addSparkListener(cpuAcc)
    def now(): (Long, Long) = cpuAcc.snapshot(spark.sparkContext)
    def timed(name: String)(body: => DataFrame): Unit = {
      // warm-up once, then best-of-2 (lab-grade, not bench-grade)
      body.write.format("noop").mode("overwrite").save()
      val obs = (1 to 2).map { _ =>
        val (c0, s0) = now(); val t0 = System.nanoTime()
        body.write.format("noop").mode("overwrite").save()
        val w = (System.nanoTime() - t0) / 1e9
        val (c1, s1) = now()
        (w, (c1 - c0) / 1e9, s1 - s0)
      }
      val w = obs.map(_._1).min; val c = obs.map(_._2).min; val s = obs.map(_._3).max
      println(f"[lab] $name%-42s wall $w%7.2f s  cpu $c%7.2f s  shuffle $s%10d rows")
      spark.catalog.clearCache()
    }

    val docs = Tables.documents(spark, sfDir)

    if (which("lsh")) {
      println("== q_dedup_minhash_lsh stages ==")
      timed("sigs")(ops.Dedup.minhashSignatures(docs, "doc_id", "text", 5, 32))
      val sigs = ops.Dedup.minhashSignatures(docs, "doc_id", "text", 5, 32)
      val banded = sigs.select(col("doc"),
        explode(ops.Dedup.bandKeys(col("sig"), 8, 4)).as("band"))
      timed("banded")(banded)
      timed("candidates")(
        banded.select(col("band"), col("doc").as("doc_a"))
          .join(banded.select(col("band"), col("doc").as("doc_b")), Seq("band"))
          .filter(col("doc_a") < col("doc_b"))
          .select("doc_a", "doc_b").distinct())
      timed("full_pairs")(ops.Dedup.minhashLshPairs(docs, "doc_id", "text",
        shingleLen = 5, k = 32, bands = 8, threshold = 0.5))
      // band bucket distribution
      val dist = banded.groupBy("band").count()
      val stats = dist.agg(count(lit(1)), max("count"),
        expr("percentile(count, 0.999)"),
        sum(col("count") * col("count"))).collect()(0)
      println(s"[lab] buckets=${stats.get(0)} max=${stats.get(1)} p999=${stats.get(2)} joinvol=${stats.get(3)}")
    }

    if (which("simhash")) {
      println("== q_dedup_simhash stages ==")
      timed("simhashes")(ops.Dedup.simhashes(docs, "doc_id", "text"))
      timed("simhash_pairs")(ops.Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 3))
    }

    if (which("ngram")) {
      println("== q_dedup_ngram_jaccard stages ==")
      timed("ngram_pairs")(ops.Dedup.ngramJaccardPairs(docs, "doc_id", "text"))
    }

    if (which("cc")) {
      println("== q_dedup_clusters_incremental stages ==")
      val gen = pmod(col("doc_a") + col("doc_b"), lit(2))
      val pairs = ops.Dedup.minhashLshPairs(docs, "doc_id", "text",
        shingleLen = 5, k = 32, bands = 8, threshold = 0.5)
        .localCheckpoint(true)
      println(s"[lab] pair rows = ${pairs.count()}")
      timed("cc_store_build")(ops.Dedup.connectedComponents(
        pairs.filter(gen === 0), "doc_a", "doc_b"))
      val store = ops.Dedup.connectedComponents(
        pairs.filter(gen === 0), "doc_a", "doc_b").localCheckpoint(true)
      timed("cc_fold")(ops.Dedup.connectedComponentsIncremental(store, "node", "component",
        pairs.filter(gen =!= 0), "doc_a", "doc_b"))
    }

    if (which("excise")) {
      println("== substring excision variants ==")
      timed("excise_current")(ops.Dedup.substringExcise(docs, "doc_id", "text", 8))
      val hist = docs.filter(col("doc_id") % 3 === 0)
      val store = ops.Dedup.windowHashes(hist, "doc_id", "text", n = 8)
        .localCheckpoint(true)
      timed("excise_incr_current")(ops.Dedup.substringExciseIncremental(
        docs.filter(col("doc_id") % 3 =!= 0), "doc_id", "text", 8, store, "h"))
    }

    if (which("q2")) {
      println("== q2_revenue_by_nation variants ==")
      import org.apache.spark.sql.types.{DecimalType, DoubleType}
      def dsum(c: org.apache.spark.sql.Column) =
        sum(c.cast(DecimalType(18, 4))).cast(DoubleType)
      val li = Tables.lineitem(spark, sfDir)
      val o = Tables.orders(spark, sfDir)
      val c = broadcast(Tables.customer(spark, sfDir))
      val n = broadcast(Tables.nation(spark, sfDir))
      val r = broadcast(Tables.region(spark, sfDir))
      timed("q2_current")(
        li.join(o, col("l_orderkey") === col("o_orderkey"))
          .join(c, col("o_custkey") === col("c_custkey"))
          .join(n, col("c_nationkey") === col("n_nationkey"))
          .join(r, col("n_regionkey") === col("r_regionkey"))
          .groupBy(col("r_name"), col("n_name"))
          .agg(dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"),
            countDistinct(col("o_orderkey")).as("n_orders"))
          .orderBy(col("r_name"), col("n_name")))
      timed("q2_preagg")(
        li.groupBy(col("l_orderkey"))
          .agg(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
            .cast(DecimalType(18, 4))).as("__rev"))
          .join(o, col("l_orderkey") === col("o_orderkey"))
          .join(c, col("o_custkey") === col("c_custkey"))
          .join(n, col("c_nationkey") === col("n_nationkey"))
          .join(r, col("n_regionkey") === col("r_regionkey"))
          .groupBy(col("r_name"), col("n_name"))
          .agg(sum(col("__rev")).cast(DoubleType).as("revenue"),
            count(lit(1)).as("n_orders"))
          .orderBy(col("r_name"), col("n_name")))
    }

    if (which("hash")) {
      // driver-side microbench of the fused signature kernels over a
      // ScaleProbe-shaped corpus (realistic text, not the 31-token gate
      // fixture) — sizes the md5 / affine-min split before touching them
      val texts = ScaleProbe.corpus(spark, 20000).select("text")
        .collect().map(r => org.apache.spark.unsafe.types.UTF8String.fromString(r.getString(0)))
      def bench(name: String)(body: => Long): Unit = {
        body // warm
        val best = (1 to 3).map { _ =>
          val t0 = System.nanoTime(); val s = body
          ((System.nanoTime() - t0) / 1e6, s)
        }.minBy(_._1)
        println(f"[lab] $name%-28s ${best._1}%8.1f ms  (sink ${best._2})")
      }
      bench("minhash_compute") {
        var s = 0L
        texts.foreach { t =>
          s += org.apache.spark.sql.graft.MinhashSignature.compute(t, 5, 32).getLong(0)
        }
        s
      }
      bench("simhash_compute") {
        var s = 0L
        texts.foreach(t => s += org.apache.spark.sql.graft.SimhashSignature.compute(t))
        s
      }
    }

    if (which("conf")) {
      Seq("spark.sql.optimizer.runtime.bloomFilter.enabled",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
        "spark.sql.optimizer.runtimeFilter.semiJoinReduction.enabled",
        "spark.sql.join.preferSortMergeJoin",
        "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
        "spark.io.compression.codec",
        "spark.sql.files.maxPartitionBytes",
        "spark.sql.parquet.compression.codec")
        .foreach(k => println(s"[lab] conf $k = ${spark.conf.getOption(k)}"))
    }

    if (which("v5")) {
      println("== q_curation_pipeline_v5 variants ==")
      import graft.ops.{TextAnalysis => TA, Packing}
      def v5(checkpointScored: Boolean, checkpointKept: Boolean): DataFrame = {
        val (uni, bi) = TA.lmTables(docs.filter(col("doc_id") % 3 === 0), "text")
        val scored0 = TA.externalLmLogProb(docs, "doc_id", "text", uni, bi)
          .filter(col("n_bigrams") > 0)
          .join(docs.select(col("doc_id"), col("lang"), col("text")), Seq("doc_id"))
        val scored = if (checkpointScored) scored0.localCheckpoint(true) else scored0
        val kept0 = TA.perplexityBuckets(scored, "doc_id", "lang", "avg_logprob_lm",
          approx = true)
          .filter(col("ppl_bucket") =!= "tail")
          .select(col("doc_id"), col("lang"), col("ppl_bucket"),
            TA.tokenCount(col("text")).cast(org.apache.spark.sql.types.LongType)
              .as("n_tokens"))
        val kept = if (checkpointKept) kept0.localCheckpoint(true) else kept0
        Packing.shardAssign(kept, "doc_id", "n_tokens", nShards = 8,
          hashBuckets = 64)
          .select("doc_id", "lang", "ppl_bucket", "n_tokens",
            "shard_id", "shard_offset")
          .orderBy("doc_id")
      }
      timed("v5_lazy")(v5(false, false))
      timed("v5_ckpt_scored")(v5(true, false))
      timed("v5_ckpt_both")(v5(true, true))
      timed("v5_ckpt_kept")(v5(false, true))
    }

    // r19 attribution op: where does a project build's wall go? Runs the
    // staged curation project once through Main.execute with a job
    // listener, then prints every Spark job (start offset, duration,
    // description) and the per-node spans from run_results — so per-node
    // fixed overheads (write job, stats, commit, register) are visible
    // individually instead of as one opaque per-model number.
    if (which("project")) {
      println("== curation project build: job-level attribution ==")
      val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, String)]
      val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          starts.put(js.jobId, (js.time,
            Option(js.properties.getProperty("spark.job.description"))
              .orElse(Option(js.properties.getProperty("callSite.short")))
              .getOrElse("?")))
        override def onJobEnd(je: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
          val s = starts.remove(je.jobId)
          if (s != null) jobs.add((s._1, je.time - s._1, s._2))
        }
      }
      spark.sparkContext.addSparkListener(listener)
      val proj = queries.OpsQueries.stageCurationProject(sfDir)
      val t0 = System.currentTimeMillis()
      try {
        val sink = new java.io.PrintWriter(java.io.Writer.nullWriter(), true)
        val code = graft.Main.execute(spark, graft.Main.Args(
          command = "build", project = proj), sink)
        org.apache.spark.graft.BusAccess.waitUntilListenerBusEmpty(spark.sparkContext)
        println(s"[lab] build exit=$code wall=${(System.currentTimeMillis() - t0) / 1000.0}s")
        val doc = graft.core.Json.obj(graft.core.Json.parse(
          java.nio.file.Files.readString(java.nio.file.Paths.get(
            proj, "target", "run_results.json"))))
        graft.core.Json.arr(doc("results")).map(graft.core.Json.obj).foreach { r =>
          val id = graft.core.Json.str(r("unique_id")).split("\\.").last
          val timing = graft.core.Json.arr(r("timing")).map(graft.core.Json.obj).head
          val st = java.time.Instant.parse(graft.core.Json.str(timing("started_at")))
          val en = java.time.Instant.parse(graft.core.Json.str(timing("completed_at")))
          println(f"[lab] node $id%-34s +${(st.toEpochMilli - t0) / 1000.0}%6.2fs  ${(en.toEpochMilli - st.toEpochMilli) / 1000.0}%5.2fs")
        }
        import scala.jdk.CollectionConverters._
        jobs.asScala.toSeq.sortBy(_._1).foreach { case (st, dur, desc) =>
          println(f"[lab] job +${(st - t0) / 1000.0}%6.2fs ${dur / 1000.0}%6.2fs  ${desc.take(90)}")
        }
      } finally {
        spark.sparkContext.removeSparkListener(listener)
        graft.Tables.names.foreach(n => spark.catalog.dropTempView(s"corpus_$n"))
        queries.OpsQueries.deleteDir(proj)
      }
    }

    // r19 attribution op: the full-suite CPU-axis inflation (r18 baseline
    // note; VERDICT r18 next-round #2). Runs the stats gate alone, then a
    // heavy neighbor, then the stats gate again — same session, same
    // clearCache discipline as the bench. If the gate's CPU reading
    // inflates while its shuffle rows stay identical, the inflation is a
    // JVM-context artifact (the structural axis proves the same plan ran),
    // not a plan change or task leak.
    if (which("ctx")) {
      println("== suite-context CPU inflation probe ==")
      def gate(name: String) = SparkEntry.queries(name)(spark, sfDir)
      timed("bm25_stats_alone_1")(gate("q_retrieval_bm25_stats"))
      timed("bm25_stats_alone_2")(gate("q_retrieval_bm25_stats"))
      timed("compact_mor_neighbor")(gate("q_retrieval_compact_mor"))
      timed("bm25_stats_after_mor_1")(gate("q_retrieval_bm25_stats"))
      timed("bm25_stats_after_mor_2")(gate("q_retrieval_bm25_stats"))
    }

    if (which("leak")) {
      println("== localCheckpoint leak probe ==")
      def rddCount(): Int = spark.sparkContext.getPersistentRDDs.size
      def storage(): String = {
        val s = spark.sparkContext.getExecutorMemoryStatus.values.map(v => v._1 - v._2).sum
        f"${s / 1024 / 1024} MB used"
      }
      timed("lsh_clean")(ops.Dedup.minhashLshPairs(docs, "doc_id", "text",
        shingleLen = 5, k = 32, bands = 8, threshold = 0.5))
      println(s"[lab] persistent RDDs after lsh: ${rddCount()}, ${storage()}")
      (1 to 8).foreach { i =>
        SparkEntry.queries("q_dedup_clusters_incremental")(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
        spark.catalog.clearCache()
        println(s"[lab] after clusters x$i: rdds=${rddCount()}, ${storage()}")
      }
      timed("lsh_after_leaks")(ops.Dedup.minhashLshPairs(docs, "doc_id", "text",
        shingleLen = 5, k = 32, bands = 8, threshold = 0.5))
      println(s"[lab] persistent RDDs at end: ${rddCount()}, ${storage()}")
    }

    if (which("bm25")) {
      println("== retrieval stages ==")
      val queries = ops.Retrieval.prefixQueries(docs, "doc_id", "text",
        modulo = 37, prefixTokens = 6)
      timed("posting_index")(ops.Retrieval.postingIndex(docs, "doc_id", "text"))
      timed("bm25_topk")(ops.Retrieval.bm25TopK(
        ops.Retrieval.postingIndex(docs, "doc_id", "text"),
        ops.Retrieval.docLengths(docs, "doc_id", "text"),
        queries, "query_id", "qtext", k = 10))
      timed("positional_index")(ops.Retrieval.positionalIndex(docs, "doc_id", "text"))
      timed("phrase")(ops.Retrieval.phraseMatch(
        ops.Retrieval.positionalIndex(docs, "doc_id", "text"),
        ops.Retrieval.prefixQueries(docs, "doc_id", "text", modulo = 53, prefixTokens = 3),
        "query_id", "qtext"))
    }
  }
}
