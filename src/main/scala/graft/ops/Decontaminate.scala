package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Benchmark decontamination: flag training documents whose text overlaps
  * an evaluation/benchmark set, so eval questions never leak into the
  * training corpus. The standard published approach (GPT-3 appendix C,
  * Brown et al. 2020; refined in Lee et al. 2022 "Deduplicating Training
  * Data Makes Language Models Better" §6 — both public) is word-n-gram
  * overlap: a training doc sharing any (or ≥ k) n-grams with a benchmark
  * doc is contaminated.
  *
  * Scale design: benchmark sets are SMALL by construction (an eval suite
  * is 10³–10⁶ documents; the training corpus is 10⁹+), so the exploded
  * benchmark shingle set is broadcast and the training side — the 100 TB
  * side — never shuffles for the join: shingle-explode, hash-probe the
  * broadcast set, then one doc-keyed partial-agg count. The output joins
  * back to the full training id set so clean documents report
  * n_overlap = 0 explicitly (no silent absence).
  */
object Decontaminate {

  /** Per-training-doc distinct-shared-n-gram count + contamination flag.
    *
    * @param minOverlap flag threshold: contaminated ⇔ n_overlap ≥ minOverlap
    * @param broadcastBench force-broadcast the benchmark shingle set
    *   (default): right for real eval suites, whose shingle sets are
    *   driver-small. Pass false when the "benchmark" is itself
    *   corpus-sized (e.g. cross-corpus contamination sweeps) — the probe
    *   becomes a plain shuffle join and degrades gracefully instead of
    *   OOMing the driver, the same every-entry-point-needs-its-guard
    *   lesson as minhashIncremental's band cap. */
  def flagOverlap(train: DataFrame, bench: DataFrame, idCol: String,
                  textCol: String, n: Int, minOverlap: Int,
                  broadcastBench: Boolean = true): DataFrame = {
    // per-doc DISTINCT shingles via the fused WordShingles expression
    // (one pass per document, no interpreted lambdas — this path's first
    // version paid 19× for an inline re-tokenizing HOF, SCALE.md r8), so
    // a per-doc count of matched shingles is already a distinct-overlap
    // count — plain count, no countDistinct expand.
    def shingled(df: DataFrame, cols: Column*): DataFrame =
      df.select(cols :+ explode(
        org.apache.spark.sql.graft.VectorExpressions
          .wordShingles(col(textCol), n, distinct = true)).as("shingle"): _*)
    val benchShingles = shingled(bench).select("shingle").distinct()
    val trainShingles = shingled(train, col(idCol))
    val probeSide =
      if (broadcastBench) broadcast(benchShingles) else benchShingles
    val hits = trainShingles
      .join(probeSide, Seq("shingle"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("hits"))
    train.select(col(idCol))
      .join(hits, Seq(idCol), "left")
      .select(
        col(idCol),
        coalesce(col("hits"), lit(0L)).cast(LongType).as("n_overlap"))
      .withColumn("contaminated", col("n_overlap") >= minOverlap)
  }

  /** The corpus's distinct word-shingle inverted index — the persisted
    * artifact [[flagOverlapIncremental]] probes. One row per (doc,
    * distinct shingle); built once by corpus ingest and maintained
    * incrementally (new corpus docs append their rows; [[graft.ops.Dedup
    * .compactStore]] GCs dropped owners — it is the same owner-carrying
    * store family as the frame-key and band indexes). */
  def corpusShingleIndex(train: DataFrame, idCol: String, textCol: String,
                         n: Int): DataFrame =
    train.select(col(idCol), explode(
      org.apache.spark.sql.graft.VectorExpressions
        .wordShingles(col(textCol), n, distinct = true)).as("shingle"))

  /** INCREMENTAL decontamination under BENCHMARK-REGISTRY growth — the
    * inverse ingest of the usual corpus-batch shape: the corpus is the
    * persisted 100 TB side and the NEW arrival is a benchmark suite
    * (a fresh eval set published, a new held-out split registered).
    * Re-running [[flagOverlap]] would rescan the corpus text; this folds
    * the batch against two persisted artifacts instead:
    *
    * - `corpusIndex`: [[corpusShingleIndex]]'s (id, shingle) rows,
    * - `benchShingles`: the accumulated DISTINCT benchmark shingle set,
    * - `ledger`: [[flagOverlap]]'s (id, n_overlap, contaminated) output
    *   over the benchmark suites registered so far.
    *
    * Law (the gate's oracle): folding suites one at a time yields
    * exactly flagOverlap(corpus, union of all suites). Exactness comes
    * from the FRESH-shingle anti-join: only shingles never seen in any
    * earlier suite can add hits, so per-doc increments partition the
    * union's distinct-shingle overlap — no double counting, no
    * inclusion–exclusion.
    *
    * Scale shape: the batch's distinct shingles anti-join the bench
    * store (batch-sized build side), the fresh set broadcasts into one
    * probe of the corpus INDEX (a column-pruned scan, never the text),
    * and the ledger updates via a batch-bounded increment join —
    * `deltaOnly=true` returns only the changed rows (the commit-log
    * merge upsert shape). Returns (ledger', freshShingles): the caller
    * appends freshShingles to the bench store, exactly the batch-append
    * discipline every other ingest store here uses.
    *
    * `broadcastBench = false` degrades the index probe to a shuffle
    * join for corpus-sized "benchmarks" (cross-corpus sweeps), same
    * guard as [[flagOverlap]]. */
  def flagOverlapIncremental(ledger: DataFrame, idCol: String,
                             corpusIndex: DataFrame,
                             benchShingles: DataFrame,
                             newBench: DataFrame, textCol: String, n: Int,
                             minOverlap: Int,
                             broadcastBench: Boolean = true,
                             deltaOnly: Boolean = false): (DataFrame, DataFrame) = {
    val newSh = newBench.select(explode(
      org.apache.spark.sql.graft.VectorExpressions
        .wordShingles(col(textCol), n, distinct = true)).as("shingle"))
      .distinct()
    // batch-sized, feeds two consumers (the index probe and the caller's
    // bench-store append) — pin it once
    val fresh = newSh
      .join(benchShingles.select("shingle"), Seq("shingle"), "left_anti")
      .localCheckpoint(true)
    val probeSide = if (broadcastBench) broadcast(fresh) else fresh
    val inc = corpusIndex.join(probeSide, Seq("shingle"))
      .groupBy(col(idCol)).agg(count(lit(1)).as("__inc"))
    val joined = ledger
      .select(col(idCol), col("n_overlap"))
      .join(inc, Seq(idCol), if (deltaOnly) "inner" else "left")
      .select(col(idCol),
        (col("n_overlap") + coalesce(col("__inc"), lit(0L)))
          .cast(LongType).as("n_overlap"))
      .withColumn("contaminated", col("n_overlap") >= minOverlap)
    (joined, fresh)
  }

  /** Span-level decontamination (r9): EXCISE the overlapping token spans
    * instead of dropping the whole document — the surgical variant for
    * high-value documents where one leaked eval question shouldn't cost
    * the other 10k tokens (Lee et al. 2022 §6 discusses substring-level
    * removal; this is its word-n-gram form). Token position i is
    * contaminated iff any n-window covering it matches a benchmark
    * shingle; the output text is the KEPT tokens joined by single spaces
    * (whitespace-normalized by construction — the same token-stream
    * contract every text op here uses). Returns
    * (id, clean_text, n_tokens, n_removed).
    *
    * Scale shape: same broadcast hash-probe as [[flagOverlap]] on the
    * window side; matched window starts then collect per doc (matched
    * windows only — far fewer rows than the token stream) and the
    * excision itself is one fused codegen pass (ExciseWindows, r10).
    * The training side still never shuffles for the PROBE, only for the
    * doc-keyed start aggregation. The original token-level anti-join
    * rebuild is the parity/oracle form (ParityReferences, test tree). */
  def exciseOverlap(train: DataFrame, bench: DataFrame, idCol: String,
                    textCol: String, n: Int,
                    broadcastBench: Boolean = true): DataFrame =
    Dedup.exciseByStarts(train, idCol, textCol,
      overlapStarts(train, bench, idCol, textCol, n, broadcastBench), n)

  /** Training-doc window starts whose n-gram matches a benchmark shingle —
    * shared by the fused and relational forms. Window starts are 0-BASED
    * (posexplode); window s covers token positions [s, s+n-1]. */
  private[graft] def overlapStarts(train: DataFrame, bench: DataFrame, idCol: String,
                                   textCol: String, n: Int,
                                   broadcastBench: Boolean): DataFrame = {
    val benchShingles = bench.select(explode(
      org.apache.spark.sql.graft.VectorExpressions
        .wordShingles(col(textCol), n, distinct = true)).as("shingle"))
      .distinct()
    val probeSide = if (broadcastBench) broadcast(benchShingles) else benchShingles
    train.select(col(idCol), posexplode(
      org.apache.spark.sql.graft.VectorExpressions
        .wordShingles(col(textCol), n, distinct = false)).as(Seq("s", "shingle")))
      .join(probeSide, Seq("shingle"))
      .select(col(idCol), col("s"))
  }

  /** SEMANTIC decontamination (r12): flag training items whose EMBEDDING
    * sits within cosine `threshold` of any eval-set embedding — catches
    * the paraphrased/translated benchmark leakage n-gram overlap is
    * blind to (the public eval-contamination literature's motivating
    * case; the mechanism is [[Similarity]]'s cosine machinery pointed at
    * an eval set). Returns every training id with its max eval cosine —
    * NULL when the eval set is empty (distinguishable from a legitimate
    * −1.0 against an anti-parallel eval vector; no evidence → clean) —
    * and `semantic_clean`.
    *
    * Scale shape mirrors [[flagOverlap]]: eval sets are SMALL by
    * construction, so the eval side broadcasts and the training side —
    * the 100 TB side — never shuffles for the probe; one fused cosine
    * per (train, eval) pair, then a doc-keyed partial-agg max. Same
    * `broadcastBench = false` escape hatch for corpus-sized sweeps. */
  def flagSemanticOverlap(train: DataFrame, evalSet: DataFrame, idCol: String,
                          vecCol: String, threshold: Double,
                          broadcastBench: Boolean = true): DataFrame = {
    val t = train.select(col(idCol), Similarity.asDouble(col(vecCol)).as("__tv"))
    val e0 = evalSet.select(Similarity.asDouble(col(vecCol)).as("__ev"))
    val e = if (broadcastBench) broadcast(e0) else e0
    val scored = t.crossJoin(e)
      // Similarity.cosine already rounds to the 1e-6 grid
      .select(col(idCol), Similarity.cosine(col("__tv"), col("__ev")).as("__cos"))
      .groupBy(col(idCol)).agg(max(col("__cos")).as("max_eval_cosine"))
    train.select(col(idCol)).join(scored, Seq(idCol), "left")
      .withColumn("semantic_clean",
        coalesce(col("max_eval_cosine") < threshold, lit(true)))
  }
}
