package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Data Selection via Importance Resampling — DSIR (Xie et al. 2023,
  * "Data Selection for Language Models via Importance Resampling",
  * public NeurIPS paper): score every raw document by how much more
  * likely its hashed n-gram features are under a TARGET distribution
  * (a trusted high-quality sample) than under the RAW distribution, then
  * keep the top of the ranking. The scalable alternative to training a
  * quality classifier: both "models" are just bucket-count tables.
  *
  * Features are unigrams + word bigrams hashed into `nBuckets` buckets
  * (the paper's hashed n-gram parameterization; 10⁴ buckets suffice).
  * Per bucket b: p̂(b) = (count(b) + α) / (total + α·B), add-α smoothed
  * so unseen buckets stay finite. Per document: the importance log-weight
  * Σ_features [ln p̂_target(b) − ln p̂_raw(b)], plus the per-feature mean
  * (length-normalized — a long doc's sum drifts negative with size, the
  * mean is the rankable signal).
  *
  * Bucket hash is the engine-portable md5-prefix (28 bits, the
  * [[Sampling.hashUnit]] / minhash-shingle family) so an external oracle
  * reproduces the bucketing bit-for-bit.
  *
  * Scale shape: two explode+bucket-count aggregates build the model
  * (output bounded by `nBuckets` — a declared constant, NOT data-sized),
  * the bucket model rides a broadcast (≤ nBuckets rows), and scoring is
  * one explode + broadcast probe + per-doc aggregate: no data-sized
  * shuffle except the doc-keyed partial agg. Docs with zero features
  * score 0 and are never selected. The model is a PERSISTABLE artifact:
  * [[buildModel]] emits the complete nBuckets-row table once per
  * curation run, and [[logWeights]]/[[select]] accept it via
  * `precomputedModel` (the `Pq.topK precomputedCodes` contract) so
  * repeat queries score with ONE corpus explode and no model rebuild. */
object Dsir {

  /** Fused single-pass form (r19): the former tokens-explode UNION
    * word-shingles-explode scanned and tokenized every document TWICE
    * and pushed each feature through an interpreted
    * md5 → hex → substring → conv chain; DsirFeatureBuckets emits the
    * identical bucket ids (28-bit md5-prefix mod nBuckets — the pinned
    * minhash-kernel identity) from one tokenize + one digest per
    * feature. Unigram buckets then bigram buckets per document —
    * per-doc multiset equality pinned by DsirFeatureParity; downstream
    * sums round to 6 decimals, which absorbs the (already
    * partition-order-dependent) double-summation order. */
  private[graft] def featureBucketsFused(df: DataFrame, idCol: String,
                                         textCol: String,
                                         nBuckets: Int): DataFrame =
    df.select(col(idCol).as("__id"),
      explode(org.apache.spark.sql.graft.VectorExpressions
        .dsirFeatureBuckets(col(textCol), nBuckets)).as("b"))

  /** The DSIR bucket model as a PERSISTED artifact: the COMPLETE
    * nBuckets-row table (b, lw, model_buckets) where
    * lw = ln p̂_target(b) − ln p̂_raw(b), add-α smoothed on both sides so
    * buckets unseen in either corpus stay finite — completeness is what
    * lets a later batch score features the model-build corpus never
    * produced. Self-describing `model_buckets` (the bandIndex /
    * kmvMinHashes pattern): scoring hashes features MOD nBuckets, so a
    * model built at a different width would silently mis-bin every
    * feature — [[logWeights]] validates instead of trusting the caller.
    *
    * Scale: output is exactly nBuckets rows (declared constant) from two
    * explode + bucket-count aggregates; build once per curation run,
    * write it as a table, and every subsequent selection query skips the
    * target pass and the model join build entirely. */
  def buildModel(raw: DataFrame, target: DataFrame, idCol: String,
                 textCol: String, nBuckets: Int = 4096,
                 smoothing: Double = 1.0): DataFrame = {
    val rawCounts = featureBucketsFused(raw, idCol, textCol, nBuckets)
      .groupBy("b").agg(count(lit(1)).as("cr"))
    val targetCounts = featureBucketsFused(target, idCol, textCol, nBuckets)
      .groupBy("b").agg(count(lit(1)).as("ct"))
    modelFromCounts(raw.sparkSession, rawCounts, targetCounts, nBuckets, smoothing)
  }

  private def modelFromCounts(spark: org.apache.spark.sql.SparkSession,
                              rawCounts: DataFrame, targetCounts: DataFrame,
                              nBuckets: Int, smoothing: Double): DataFrame = {
    val totalT = targetCounts.agg(
      coalesce(sum("ct"), lit(0L)).cast(DoubleType).as("__total_t"))
    val totalR = rawCounts.agg(
      coalesce(sum("cr"), lit(0L)).cast(DoubleType).as("__total_r"))
    // complete bucket domain: every feature any batch can ever hash to
    // has a row, so scoring is a total function of the artifact
    spark.range(nBuckets).select(col("id").as("b"))
      .join(rawCounts, Seq("b"), "left")
      .join(targetCounts, Seq("b"), "left")
      .crossJoin(broadcast(totalT)).crossJoin(broadcast(totalR))
      .select(col("b"),
        (log((coalesce(col("ct"), lit(0L)) + lit(smoothing)) /
            (col("__total_t") + lit(smoothing * nBuckets))) -
          log((coalesce(col("cr"), lit(0L)) + lit(smoothing)) /
            (col("__total_r") + lit(smoothing * nBuckets)))).as("lw"),
        lit(nBuckets).as("model_buckets"))
  }

  /** Per-raw-document DSIR importance weights against a target sample:
    * (id, n_feats, log_weight, avg_log_weight). Both corpora must share
    * the text column semantics; `target` is typically a small trusted
    * slice.
    *
    * With `precomputedModel` (a persisted [[buildModel]] table) the
    * target pass and model build are skipped and the corpus explodes
    * exactly once — the production shape for repeat queries over one
    * curation run. Inline (None), the model derives from `raw`+`target`
    * here, and the feature explode is localCheckpoint-materialized ONCE
    * and shared by the model's raw-count aggregate and the scoring join
    * (it previously re-ran the unigram+bigram explode — the most
    * expensive pass — twice). Byte-identical either way when the model
    * was built from the same (raw, target, nBuckets, smoothing)
    * (DsirModelSpec pins it). */
  def logWeights(raw: DataFrame, target: DataFrame, idCol: String,
                 textCol: String, nBuckets: Int = 4096,
                 smoothing: Double = 1.0,
                 precomputedModel: Option[DataFrame] = None): DataFrame = {
    val (rawFeats, model, guardOpt) = precomputedModel match {
      case Some(m) =>
        // mis-matched bucket width silently mis-bins every scored
        // feature (hash is MOD model_buckets) — refuse, don't trust.
        // ONE aggregate validates width uniformity AND the complete-
        // domain row count: a model table appended twice would otherwise
        // pass a first-row check and silently double n_feats/log_weight
        // through duplicate join matches. The cast keeps the check loud
        // (not a ClassCastException) for an artifact whose width column
        // was re-written as BIGINT.
        //
        // The check is LAZY (r14): this op composes inside larger plans,
        // and an eager .collect() guard re-executes the model lineage at
        // every query CONSTRUCTION — the selectByCutoff raise_error-in-
        // plan shape instead makes validation execute WITH the query
        // (one nBuckets-row aggregate, zero jobs at plan time, loud at
        // runtime on violation). The guard value is CONSUMED by the
        // model projection (when(__model_ok === 1, lw)) so column
        // pruning can never drop the validating aggregate; when valid,
        // __model_ok is always 1 and lw rides through unchanged.
        // Empty-relation defense (r14 review): the guard is consumed by
        // BOTH the model projection and the FINAL output projection. The
        // model-side consumption alone is deletable — a model artifact
        // Catalyst knows (or AQE learns) is empty propagates emptiness
        // over the crossJoin and scoring join, silently zeroing every
        // weight where r13's eager check threw. The final-frame
        // consumption survives that: the guard is a GLOBAL aggregate
        // (one row even over an empty model), so its crossJoin onto the
        // output can only vanish if the batch itself is empty — and an
        // empty batch yields an empty, uncorruptible result (the one
        // documented miss; DsirModelSpec pins both sides).
        require(m.columns.contains("model_buckets") && m.columns.contains("lw"),
          "precomputedModel is not a Dsir.buildModel artifact: missing " +
            "lw/model_buckets columns")
        val guard = m.agg(
          count(lit(1)).as("__rows"),
          min(col("model_buckets").cast(IntegerType)).as("__wmin"),
          max(col("model_buckets").cast(IntegerType)).as("__wmax"))
          .select(
            when(col("__wmin") === nBuckets && col("__wmax") === nBuckets &&
                 col("__rows") === nBuckets.toLong, lit(1))
              // coalesce every fragment: an EMPTY model artifact yields
              // NULL __wmin/__wmax, and concat-with-NULL would null the
              // whole diagnostic out of the raise (r14 review)
              .otherwise(raise_error(concat(
                lit("precomputed DSIR model is not a clean buildModel " +
                  s"artifact for nBuckets=$nBuckets: widths ["),
                coalesce(col("__wmin").cast(StringType), lit("none")), lit(".."),
                coalesce(col("__wmax").cast(StringType), lit("none")), lit("], rows "),
                col("__rows").cast(StringType),
                lit(" — a mis-matched width mis-bins every feature; a " +
                  "duplicated/truncated artifact corrupts n_feats and " +
                  "log_weight through the scoring join"))))
              .as("__model_ok"))
        val validated = m.select(col("b"), col("lw"))
          .crossJoin(broadcast(guard))
          .select(col("b"),
            when(col("__model_ok") === 1, col("lw")).as("lw"))
        (featureBucketsFused(raw, idCol, textCol, nBuckets), validated, Some(guard))
      case None =>
        val feats = featureBucketsFused(raw, idCol, textCol, nBuckets)
          .localCheckpoint(true)
        val rawCounts = feats.groupBy("b").agg(count(lit(1)).as("cr"))
        val targetCounts = featureBucketsFused(target, idCol, textCol, nBuckets)
          .groupBy("b").agg(count(lit(1)).as("ct"))
        (feats, modelFromCounts(raw.sparkSession, rawCounts, targetCounts,
          nBuckets, smoothing).select("b", "lw"), None)
    }
    val scored = rawFeats.join(broadcast(model), Seq("b"))
      .groupBy(col("__id")).agg(
        count(lit(1)).cast(LongType).as("n_feats"),
        sum("lw").as("__sum_lw"))
    val base = raw.select(col(idCol))
      .join(scored.withColumnRenamed("__id", idCol), Seq(idCol), "left")
    def out(df: DataFrame, ok: Column): DataFrame = df.select(col(idCol),
      when(ok, coalesce(col("n_feats"), lit(0L))).as("n_feats"),
      when(ok, round(coalesce(col("__sum_lw"), lit(0.0)), 6)).as("log_weight"),
      when(ok, round(when(col("n_feats") > 0, col("__sum_lw") / col("n_feats"))
        .otherwise(lit(0.0)), 6)).as("avg_log_weight"))
    guardOpt match {
      // the final-frame consumption (see the empty-relation defense
      // note above): ok is identically true on the happy path, so the
      // wrap changes no value — it exists to keep the validating
      // aggregate alive even when the model side plans away
      case Some(g) => out(base.crossJoin(broadcast(g)), col("__model_ok") === 1)
      case None    => out(base, lit(true))
    }
  }

  /** [[logWeights]] against a persisted [[buildModel]] artifact, with no
    * target parameter to ignore — the scoring half of [[selectIngest]]. */
  def logWeightsFromModel(batch: DataFrame, idCol: String, textCol: String,
                          model: DataFrame, nBuckets: Int = 4096): DataFrame =
    logWeights(batch, batch, idCol, textCol, nBuckets,
      precomputedModel = Some(model))

  /** INCREMENTAL DSIR selection ingest (r13): score a new batch against
    * a HELD model table and flag keepers against a HELD cutoff value
    * ([[Sampling.scoreCutoff]] output) — no target pass, no model
    * rebuild, no cutoff re-rank, ever; the batch is the only data-sized
    * input (one explode + broadcast model probe + doc-keyed agg + 1-row
    * broadcast compare). The DSIR analog of
    * [[TextAnalysis.lmSelectIngest]]: together they make the whole
    * selection family artifact-driven. Zero-feature docs are never
    * selected. */
  def selectIngest(batch: DataFrame, idCol: String, textCol: String,
                   model: DataFrame, cutoff: DataFrame,
                   nBuckets: Int = 4096): DataFrame =
    // ONE scoring branch: a filter/union split over the weighted frame
    // would execute the batch explode + model probe twice per action
    // (Spark dedupes no shared subplans) — the zero-feature guard folds
    // into the verdict instead (a 0-feature doc scores 0.0, which can
    // exceed a negative cutoff, so the n_feats conjunct is load-bearing)
    Sampling.selectByCutoff(
      logWeightsFromModel(batch, idCol, textCol, model, nBuckets),
      "avg_log_weight", cutoff)
      .withColumn("dsir_keep", col("top_selected") && col("n_feats") > 0)
      .drop("top_selected")

  /** [[logWeights]] + the selection cut: flags the top `fraction` of
    * scoreable documents by per-feature mean importance weight
    * (`dsir_keep`); zero-feature documents are never selected. The
    * deterministic analog of the paper's Gumbel-noise resampling — at
    * equal fractions the kept set is the highest-importance mass.
    *
    * `approx`/`accuracy` ride through to
    * [[Sampling.topFractionByScore]]: the exact cutoff (`approx =
    * false`, opt-in as of r14) is a global rank
    * window (single-partition sort — the 100 TB killer); the DEFAULT
    * derives
    * the same cutoff via one percentile_approx aggregate, bit-identical
    * while accuracy ≥ 2× corpus size (±n/accuracy ranks beyond). `precomputedModel` rides through to
    * [[logWeights]]. */
  def select(raw: DataFrame, target: DataFrame, idCol: String,
             textCol: String, fraction: Double, nBuckets: Int = 4096,
             smoothing: Double = 1.0,
             approx: Boolean = true, accuracy: Int = 1000000,
             precomputedModel: Option[DataFrame] = None): DataFrame = {
    // the weighted frame feeds BOTH the cutoff derivation and the verdict
    // assignment below; Spark dedupes no shared subplans, so the whole
    // scoring lineage (corpus feature explode + model probe + doc agg)
    // used to execute twice per action — with a precomputed model that
    // was two full corpus explodes (r18 opt, measured: the
    // q_dsir_from_model fold at sf0.1 dropped ~2× once severed).
    // Materialize it once: O(corpus) rows but 4 narrow columns, the same
    // class as the v6 stage persists. Streaming inputs pass through.
    val weighted0 = logWeights(raw, target, idCol, textCol, nBuckets,
      smoothing, precomputedModel)
    // Severing mode (incl. the cluster-safe persist fallback and the
    // eager-execution caveat): graft.ops.Sever.
    val weighted = Sever.sever(weighted0)
    // cutoff derives from the SCOREABLE docs only (zero-feature docs'
    // 0.0 sentinel scores would shift the rank denominator); the
    // verdict is then one assignment branch over the whole frame — the
    // selectIngest shape, not a filter/union split that would execute
    // the scoring lineage twice per action
    val cut = Sampling.scoreCutoff(weighted.filter(col("n_feats") > 0),
      "avg_log_weight", fraction, approx = approx, accuracy = accuracy)
    Sampling.selectByCutoff(weighted, "avg_log_weight", cut)
      .withColumn("dsir_keep", col("top_selected") && col("n_feats") > 0)
      .drop("top_selected")
  }
}
