package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.ops.Dsir

/** r13 (VERDICT task 2): the DSIR bucket model as a production artifact.
  * Contracts pinned: (1) scoring against a precomputed [[Dsir.buildModel]]
  * table — including one that round-tripped through parquet — is
  * byte-identical to the inline path; (2) the artifact is self-describing
  * and a bucket-width mismatch fails LOUD (the hash is MOD model_buckets,
  * so a silent mismatch mis-bins every feature); (3) the model is the
  * COMPLETE nBuckets-row domain, so a batch whose features never appeared
  * in the model-build corpus still scores (smoothed), rather than
  * silently dropping from the inner scoring join. */
class DsirModelSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  private def sameRows(a: org.apache.spark.sql.DataFrame,
                       b: org.apache.spark.sql.DataFrame): Boolean =
    a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty

  test("DsirFeatureParity: fused feature buckets equal the two-scan relational form") {
    // r19 opt parity pin: the fused single-pass DsirFeatureBuckets
    // expression must produce the exact per-doc feature-bucket MULTISET
    // of the former tokens-explode ∪ shingles-explode +
    // conv(substring(md5)) pipeline (exceptAll is multiset-aware, so
    // duplicate buckets within a doc count).
    val docs = graft.Tables.documents(spark, sf)
    val fused = graft.ops.Dsir.featureBucketsFused(docs, "doc_id", "text", 4096)
    val rel = ParityReferences.featureBucketsRelational(docs, "doc_id", "text", 4096)
    assert(fused.count() > 0, "parity fixture produced no features")
    assert(sameRows(fused, rel),
      "fused DSIR feature buckets diverge from the relational form")
  }

  test("from-model scoring == inline, incl. through a parquet round-trip") {
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
    val target = docs.filter(col("doc_id") % 7 === 0)
    val inline = Dsir.select(docs, target, "doc_id", "text", fraction = 0.25)
    val model = Dsir.buildModel(docs, target, "doc_id", "text")
    val viaModel = Dsir.select(docs, target, "doc_id", "text", fraction = 0.25,
      precomputedModel = Some(model))
    assert(sameRows(inline, viaModel), "precomputed-model scoring must be " +
      "byte-identical to the inline path")
    // the artifact survives persistence: write → read → score
    val dir = Files.createTempDirectory("dsir_model").toString
    try {
      model.write.mode("overwrite").parquet(dir)
      val reread = spark.read.parquet(dir)
      val viaParquet = Dsir.select(docs, target, "doc_id", "text",
        fraction = 0.25, precomputedModel = Some(reread))
      assert(sameRows(inline, viaParquet),
        "a parquet-round-tripped model must score identically")
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("model is the complete bucket domain; logWeights == from-model logWeights") {
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
    val target = docs.filter(col("doc_id") % 7 === 0)
    val model = Dsir.buildModel(docs, target, "doc_id", "text", nBuckets = 512)
    assert(model.count() == 512L, "buildModel must emit every bucket row")
    assert(model.columns.toSet == Set("b", "lw", "model_buckets"))
    assert(sameRows(
      Dsir.logWeights(docs, target, "doc_id", "text", nBuckets = 512),
      Dsir.logWeights(docs, target, "doc_id", "text", nBuckets = 512,
        precomputedModel = Some(model))))
  }

  test("a batch disjoint from the model-build corpus still scores every feature") {
    import spark.implicits._
    val buildCorpus = Seq((1L, "alpha beta gamma"), (2L, "beta gamma delta"))
      .toDF("doc_id", "text")
    val target = Seq((10L, "alpha beta")).toDF("doc_id", "text")
    val model = Dsir.buildModel(buildCorpus, target, "doc_id", "text",
      nBuckets = 64)
    // tokens the build corpus never produced: with a raw-buckets-only
    // model these would vanish from the inner scoring join (n_feats
    // undercounted); the complete-domain model scores them smoothed
    val batch = Seq((100L, "zeta eta theta")).toDF("doc_id", "text")
    val out = Dsir.logWeights(batch, target, "doc_id", "text", nBuckets = 64,
      precomputedModel = Some(model)).collect()
    assert(out.length == 1)
    // 3 unigrams + 2 bigrams = 5 features, every one scored
    assert(out.head.getAs[Long]("n_feats") == 5L,
      s"unseen features must still score against the smoothed model: ${out.head}")
  }

  test("bucket-width mismatch and non-artifact frames fail loud — lazily, with the query") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
    val target = docs.filter(col("doc_id") % 7 === 0)
    val m512 = Dsir.buildModel(docs, target, "doc_id", "text", nBuckets = 512)
    // r14 (VERDICT task 5): validation executes WITH the query — plan
    // CONSTRUCTION fires zero Spark jobs (the r13 shape ran an eager
    // .collect() aggregate per composed query construction). Counted
    // under a dedicated JOB GROUP so a concurrent suite's jobs on the
    // shared session can never false-fail this (r14 review): any job
    // this thread's construction fired would carry the group id.
    val group = s"dsir-plan-construction-${System.nanoTime()}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        if (js.properties != null &&
            group == js.properties.getProperty("spark.jobGroup.id"))
          jobs.incrementAndGet()
        ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val badWidth =
      try {
        spark.sparkContext.setJobGroup(group, "dsir plan construction probe")
        val p = Dsir.logWeights(docs, target, "doc_id", "text", nBuckets = 4096,
          precomputedModel = Some(m512))
        Thread.sleep(500) // listener bus is async; a submitted job would land
        assert(jobs.get() == 0,
          s"plan construction must fire no Spark job, saw ${jobs.get()}")
        p
      } finally {
        spark.sparkContext.clearJobGroup()
        spark.sparkContext.removeSparkListener(listener)
      }
    // ... and the violation still raises loudly, at execution
    val eWidth = intercept[Exception] { badWidth.collect() }
    assert(eWidth.getMessage.contains("512") &&
      eWidth.getMessage.contains("nBuckets=4096"), eWidth.getMessage)
    // a frame that is not a buildModel artifact at all fails at
    // construction — a schema check needs no job
    val eShape = intercept[IllegalArgumentException] {
      Dsir.logWeights(docs, target, "doc_id", "text",
        precomputedModel = Some(Seq((1L, 0.5)).toDF("b", "lw")))
    }
    assert(eShape.getMessage.contains("model_buckets"), eShape.getMessage)
    // a model table accidentally appended twice passes a first-row width
    // check but doubles n_feats/log_weight through duplicate join
    // matches — the row-count invariant must refuse it loudly (r13 review)
    val eDup = intercept[Exception] {
      Dsir.logWeights(docs, target, "doc_id", "text", nBuckets = 512,
        precomputedModel = Some(m512.unionByName(m512))).collect()
    }
    assert(eDup.getMessage.contains("rows 1024"), eDup.getMessage)
    // empty-relation defense (r14 review): a model artifact the PLANNER
    // knows is empty would delete the model-side guard consumption via
    // empty propagation — the final-frame consumption must still raise,
    // with a real diagnostic (an empty model's NULL width bounds must
    // not null the concat'd message away)
    val eEmpty = intercept[Exception] {
      Dsir.logWeights(docs, target, "doc_id", "text", nBuckets = 512,
        precomputedModel = Some(m512.filter(lit(false)))).collect()
    }
    assert(eEmpty.getMessage != null &&
      eEmpty.getMessage.contains("rows 0") &&
      eEmpty.getMessage.contains("none"), eEmpty.getMessage)
    // ... and the one documented miss: a batch the planner knows is
    // empty yields an empty (uncorruptible) frame without validating
    val emptyBatch = Dsir.logWeights(docs.filter(lit(false)), target,
      "doc_id", "text", nBuckets = 4096, precomputedModel = Some(m512))
    assert(emptyBatch.collect().isEmpty)
  }

  test("selectIngest: held model + held cutoff flag a batch; artifacts survive parquet") {
    import java.nio.file.Files
    import org.apache.spark.sql.functions.col
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
    val ref = docs.filter(col("doc_id") % 3 === 0)
    val model = Dsir.buildModel(ref, ref.filter(col("doc_id") % 7 === 0),
      "doc_id", "text")
    val cutoff = graft.ops.Sampling.scoreCutoff(
      Dsir.logWeightsFromModel(ref, "doc_id", "text", model)
        .filter(col("n_feats") > 0), "avg_log_weight", fraction = 0.25)
    val dir = Files.createTempDirectory("dsir_ingest").toString
    try {
      model.write.parquet(s"$dir/model")
      cutoff.write.parquet(s"$dir/cutoff")
      val m = spark.read.parquet(s"$dir/model")
      val c = spark.read.parquet(s"$dir/cutoff")
      import spark.implicits._
      // batch: a ref-like doc (in-distribution), and an EMPTY doc.
      // orderBy before limit: an unordered limit may pick different rows
      // in the two collects below (r13 review)
      val batch = docs.filter(col("doc_id") % 3 =!= 0)
        .orderBy("doc_id").limit(5)
        .unionByName(Seq((100000L, "")).toDF("doc_id", "text"))
      val out = Dsir.selectIngest(batch, "doc_id", "text", m, c)
        .collect().map(r => r.getAs[Long]("doc_id") ->
          ((r.getAs[Long]("n_feats"), r.getAs[Boolean]("dsir_keep")))).toMap
      assert(out.size == 6, s"no batch row may vanish: $out")
      assert(out(100000L) == ((0L, false)), "zero-feature docs never select")
      // the verdict IS the held-cutoff comparison: recompute it directly
      val cutVal = c.collect()(0).getDouble(0)
      val direct = Dsir.logWeightsFromModel(batch, "doc_id", "text", m)
        .collect().map(r => r.getAs[Long]("doc_id") ->
          (r.getAs[Long]("n_feats") > 0 &&
            r.getAs[Double]("avg_log_weight") >= cutVal)).toMap
      assert(out.view.mapValues(_._2).toMap == direct,
        s"ingest verdicts must equal the held-cutoff comparison: $out vs $direct")
      // an appended (2-row) cutoff artifact must raise at execution, not
      // silently duplicate every batch row with conflicting verdicts
      val eMulti = intercept[Exception](
        Dsir.selectIngest(batch, "doc_id", "text", m, c.unionByName(c)).collect())
      assert(eMulti.getMessage.contains("cutoff artifact holds") ||
        Option(eMulti.getCause).exists(_.getMessage.contains("cutoff artifact holds")),
        eMulti.toString)
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }
}
