package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Deduplication operators for training-data pipelines: exact, MinHash+LSH,
  * SimHash, and n-gram Jaccard.
  *
  * Scale design:
  * - every near-dup variant goes through a *blocking* stage (LSH band
  *   bucket / simhash block / shared shingle) so candidate generation is an
  *   equi-join on a bucket key — never an all-pairs cross join;
  * - signatures are computed RELATIONALLY (explode shingles → one
  *   whole-stage-codegen hash aggregate) instead of per-row higher-order
  *   array folds: HOF lambdas are interpreted in Spark, and inside a
  *   self-join they'd be re-evaluated per side — the relational form
  *   computes each signature exactly once and shuffles only (id, long)
  *   pairs.
  */
object Dedup {

  /** Exact dedup: group by content hash, survivor = min(id). Returns
    * (id, content_hash, n_copies, is_survivor) per row. One hash-shuffle. */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val hashed = df.withColumn("content_hash", md5(col(textCol)))
    val groups = hashed.groupBy("content_hash")
      .agg(min(col(idCol)).as("survivor_id"), count(lit(1)).as("n_copies"))
    hashed.join(groups, "content_hash")
      .withColumn("is_survivor", col(idCol) === col("survivor_id"))
      .select(col(idCol), col("content_hash"), col("n_copies"), col("is_survivor"))
  }

  /** Cross-batch incremental dedup: classify a NEW batch of documents
    * against the already-curated corpus — the shape every continuously-
    * ingesting pipeline runs (dedup the day's crawl against months of
    * history) where re-hashing the historical corpus per batch would be
    * O(corpus) instead of O(batch).
    *
    * `corpusHashes` is the persisted fingerprint table (one hash column;
    * pairs naturally with [[exact]]'s content_hash output materialized
    * incrementally). Statuses: `dup_of_corpus` (content already curated),
    * `dup_in_batch` (first occurrence wins within the batch),
    * `new` (admit). The join keys on the hash, so both sides partition
    * evenly regardless of content skew; Spark picks the join strategy
    * adaptively — a fingerprint table small enough to broadcast SHOULD
    * broadcast, and a corpus-sized one exceeds the threshold and
    * shuffles. NULL-text semantics live on [[classifyIngest]], the
    * scaffolding shared with [[exactIncrementalBloom]]. */
  def exactIncremental(newDocs: DataFrame, idCol: String, textCol: String,
                       corpusHashes: DataFrame, hashCol: String): DataFrame =
    classifyIngest(newDocs, idCol, textCol)(_ =>
      corpusHashes.select(col(hashCol).as("content_hash")).distinct())

  /** The ingest classification scaffolding shared by [[exactIncremental]]
    * and [[exactIncrementalBloom]] — ONE copy of the rank window, the
    * status when-chain, and the null-text contract, so the two forms
    * (pinned output-identical by StoreCompactionSpec) cannot drift.
    * `seenOf(hashed)` derives the distinct corpus-seen hash set, given
    * the batch's (id, content_hash) rows to pre-filter against.
    *
    * NULL-text rows carry no content to compare: they classify as `new`
    * (admit; nothing to dedup against) and are EXCLUDED from the
    * batch-rank window — otherwise every null-text doc would land in one
    * window partition and each would spuriously mark its predecessors'
    * content as its own duplicate. */
  private def classifyIngest(newDocs: DataFrame, idCol: String, textCol: String)
                            (seenOf: DataFrame => DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hashed = newDocs.filter(col(textCol).isNotNull)
      .select(col(idCol), md5(col(textCol)).as("content_hash"))
    val ranked = hashed.withColumn("rn",
      row_number().over(Window.partitionBy("content_hash").orderBy(col(idCol))))
    val seen = seenOf(hashed).withColumn("__seen", lit(1))
    val classified = ranked.join(seen, Seq("content_hash"), "left")
      .select(col(idCol), col("content_hash"),
        when(col("__seen").isNotNull, "dup_of_corpus")
          .when(col("rn") > 1, "dup_in_batch")
          .otherwise("new").as("status"))
    val nullText = newDocs.filter(col(textCol).isNull)
      .select(col(idCol), lit(null).cast("string").as("content_hash"),
        lit("new").as("status"))
    classified.unionAll(nullText)
      .withColumn("is_new_content", col("status") === "new")
  }

  /** Declarable Bloom membership ARTIFACT over the persisted fingerprint
    * store (r12): a compact, broadcastable "definitely not in the
    * corpus" oracle built once per corpus generation (driver-held, like
    * PQ codebooks — a ~1.2 GB filter covers 10⁹ fingerprints at 1% fpp).
    * Keys on `xxhash64(fingerprint)` — the store column the ingest
    * already computes, NOT a second full-text hash pass. Build it over
    * the SAME store [[exactIncrementalBloom]] classifies against or the
    * no-false-negatives pre-filter contract does not hold. */
  def fingerprintBloom(corpusHashes: DataFrame, hashCol: String,
                       expectedItems: Long, fpp: Double = 0.01): org.apache.spark.util.sketch.BloomFilter = {
    val keys = corpusHashes.filter(col(hashCol).isNotNull)
      .select(xxhash64(col(hashCol)).as("__k"))
    // an EMPTY store (first ingest bootstrap) must yield a valid
    // all-zero filter — stat.bloomFilter over zero rows returns a
    // degenerate one whose probe NPEs ("buf is null")
    if (keys.isEmpty)
      org.apache.spark.util.sketch.BloomFilter.create(math.max(expectedItems, 1L), fpp)
    else keys.stat.bloomFilter("__k", expectedItems, fpp)
  }

  /** [[exactIncremental]] with a Bloom PRE-FILTER, restructured so the
    * fingerprint store is only ever STREAMED: rows the broadcast filter
    * rules out ("definitely new content" — at a realistic ingest, most
    * of the batch) never touch the store at all, and the maybe-duplicate
    * minority probes it as a SEMI join with the small key set on the
    * build side. The plain form's per-batch O(store) distinct+shuffle is
    * gone — the only store-sized work left is one column scan, and the
    * matched set (⊆ maybe keys) rides back as a runtime-small join AQE
    * flips to broadcast. The bloom probe keys on xxhash64 of the md5
    * fingerprint the ingest computes anyway (no second full-text hash),
    * via a codegen expression carrying the filter as a plan reference
    * object, not a UDF. Bloom filters have no false negatives, so output
    * is IDENTICAL to the unfiltered form (StoreCompactionSpec pins it;
    * the gate reuses the same oracle): false positives just pay the
    * probe and come back unmatched. The intra-batch rank window stays on
    * the full batch — two copies of brand-new content must still resolve
    * dup_in_batch among themselves — and its hash partitioning is reused
    * by the matched-set join (no second batch shuffle). */
  def exactIncrementalBloom(newDocs: DataFrame, idCol: String, textCol: String,
                            corpusHashes: DataFrame, hashCol: String,
                            bloom: org.apache.spark.util.sketch.BloomFilter): DataFrame =
    classifyIngest(newDocs, idCol, textCol) { hashed =>
      val maybeKeys = hashed
        .filter(org.apache.spark.sql.graft.VectorExpressions
          .bloomMightContainLong(xxhash64(col("content_hash")), bloom))
        .select(col("content_hash")).distinct()
      // store-side: one streaming scan, semi-probed by the small key set
      // (AQE picks the broadcast build at runtime — an explicit broadcast
      // hint would OOM on an adversarial all-duplicate batch)
      corpusHashes.select(col(hashCol).as("content_hash"))
        .join(maybeKeys, Seq("content_hash"), "leftsemi")
        .distinct()
    }

  // ------------------------------------------------------------- MinHash

  /** Modulus keeping a*h+b inside 63 bits for h < 2^28, a < 2^21 —
    * overflow-free in both Spark and DuckDB. */
  val MinhashPrime = 2147483647L // 2^31 - 1

  def minhashCoefA(i: Int): Long = 2L * i + 1
  def minhashCoefB(i: Int): Long = 1000003L * (i + 1)

  /** MinHash signatures via the fused [[org.apache.spark.sql.graft.MinhashSignature]]
    * expression: the whole k-vector computed in one pass per document —
    * a pure map, no explode, no aggregate, no join. Replaced the
    * relational explode → k-min agg → join pipeline in round 8 after the
    * cost-attribution probe measured the signature build at ~50% of
    * minhash_lsh_pairs wall (5.0 s of 10.1 s at 50k docs): the
    * per-shingle rows existed only to be aggregated away.
    * MinhashParitySpec pins bit-equality against the retained relational
    * form (and therefore against the unchanged DuckDB oracle). */
  /** Spread a narrow input across the cluster ONLY when it arrives
    * under-partitioned (the small-local-files gate case): the fused
    * signature expressions are pure maps, so the relational form's
    * unconditional doc-keyed repartition — which existed to feed a
    * since-removed groupBy — would shuffle the whole text column for
    * nothing on a properly-split 100 TB scan.
    *
    * The split estimate comes from the OPTIMIZED LOGICAL plan's leaf
    * stats (scan bytes / maxPartitionBytes), not `df.rdd` — the r8 form
    * planned the whole query a second time per call just to count
    * partitions, pinned that plan past AQE's reach, and threw on
    * streaming inputs. Streaming frames pass through untouched (a
    * micro-batch's parallelism belongs to the source), so the fused
    * signature ops compose into `foreachBatch`/`transform` pipelines. */
  private[ops] def ensureParallelism(df: DataFrame, idCol: String): DataFrame = {
    if (df.isStreaming) return df
    val spark = df.sparkSession
    val par = spark.sparkContext.defaultParallelism
    val maxSplit = math.max(1L, spark.sessionState.conf.filesMaxPartitionBytes)
    val splits = df.queryExecution.optimizedPlan.collectLeaves().map { leaf =>
      // sizeInBytes is file bytes for scans, an estimate elsewhere; an
      // unknown (huge) size means "assume well-partitioned" — correct
      // here, since the repartition only exists for provably-tiny scans
      // BigInt math first: an unknown-stats leaf reports ~Long.MaxValue
      // and must clamp, not overflow, before the toLong
      (leaf.stats.sizeInBytes / maxSplit).max(BigInt(1)).min(BigInt(par)).toLong
    }.sum
    if (splits < par) df.repartition(par, col(idCol)) else df
  }

  def minhashSignatures(df: DataFrame, idCol: String, textCol: String,
                        shingleLen: Int, k: Int): DataFrame =
    ensureParallelism(df, idCol)
      .select(col(idCol).as("doc"),
        coalesce(
          org.apache.spark.sql.graft.VectorExpressions
            .minhashSignature(col(textCol), shingleLen, k),
          array((0 until k).map(_ => lit(MinhashPrime)): _*)).as("sig"))

  /** LSH band keys: signature split into `bands` rows of `rowsPerBand`,
    * each band hashed to one bucket key. The key is a 64-bit xxhash (8
    * bytes on the wire), not an md5 hex string (32 bytes + string
    * compares): band EQUALITY only depends on slice equality, so the
    * candidate set — and therefore the operator's output — is identical
    * under any injective-enough key function; the oracle's md5 banding
    * produces the same candidates. */
  def bandKeys(sig: Column, bands: Int, rowsPerBand: Int): Column =
    transform(sequence(lit(0), lit(bands - 1)), b =>
      xxhash64(b, slice(sig, b * rowsPerBand + 1, lit(rowsPerBand))))

  /** Signature presets: (k, bands), both at r = k/bands = 4 rows per band
    * so the S-curve threshold (1/bands)^(1/r) stays ≈ 0.5. K64 doubles
    * the signature for a sharper curve (fewer false positives at the same
    * threshold, finer est_jaccard resolution) at 2× signature cost —
    * the preset a 100 TB high-precision dedup pass should use. */
  val PresetK32: (Int, Int) = (32, 8)
  val PresetK64: (Int, Int) = (64, 16)

  /** minhashLshPairs with a named (k, bands) preset. */
  def minhashLshPairsPreset(df: DataFrame, idCol: String, textCol: String,
                            preset: (Int, Int) = PresetK32,
                            shingleLen: Int = 5,
                            threshold: Double = 0.5,
                            maxBandFrequency: Option[Int] = None): DataFrame =
    minhashLshPairs(df, idCol, textCol, shingleLen, preset._1, preset._2,
      threshold, maxBandFrequency)

  /** MinHash+LSH near-dup pairs: signature → band-bucket self-join →
    * estimated Jaccard = fraction of agreeing positions. The band join is
    * the only data-sized shuffle; signatures join back by doc id (small).
    *
    * `maxBandFrequency` caps HOT band buckets, the LSH twin of n-gram
    * Jaccard's `maxDocFrequency`: when one shingle is globally common,
    * it wins the per-doc minimum for a large doc fraction, those docs
    * collide into one band bucket, and the self-join goes quadratic —
    * measured on a 150k-doc synthetic corpus, the hottest bucket held
    * 20% of the corpus and implied 1.3e9 join rows (SCALE.md round-6
    * note). Buckets above the cap are dropped from candidate
    * generation BEFORE the join; genuine near-dups agree on several
    * bands and survive the loss of a saturated one. None (default) is
    * the exact mode the oracle verifies. */
  def minhashLshPairs(
      df: DataFrame, idCol: String, textCol: String,
      shingleLen: Int = 5, k: Int = 16, bands: Int = 4,
      threshold: Double = 0.5,
      maxBandFrequency: Option[Int] = None,
      // already-computed (doc, sig) signatures for this exact
      // (shingleLen, k) — the Pq precomputedCodes contract (r15): an
      // ingest that persists signatures anyway must not shingle+hash the
      // batch a second time here
      precomputedSigs: Option[DataFrame] = None): DataFrame = {
    require(k % bands == 0,
      s"k=$k must be a multiple of bands=$bands — banding would silently drop " +
        s"the trailing ${k % bands} signature positions")
    // sigs is read 3× (band explode + two joins back) — cache it, then
    // eagerly materialize the (small, threshold-filtered) pair output via
    // localCheckpoint so the signature cache can be RELEASED before
    // returning; without the checkpoint the lazy result would still
    // reference the cache and unpersist would force a full recompute
    // (r1/r2 leak: persist was never released in a long-lived session).
    val sigs = precomputedSigs
      .getOrElse(minhashSignatures(df, idCol, textCol, shingleLen, k)).persist()
    try {
      bandedCandidates(sigs, bands, k / bands, maxBandFrequency)
        .join(sigs.select(col("doc").as("doc_a"), col("sig").as("sig_a")), "doc_a")
        .join(sigs.select(col("doc").as("doc_b"), col("sig").as("sig_b")), "doc_b")
        // codegen'd agreement count, NOT size(filter(zip_with(...))):
        // higher-order lambdas are interpreted, and this predicate sits
        // inside the candidate join — at 150k docs the interpreted form
        // was every worker's hot frame (ScaleProbe jstack). Semantics
        // identical: equal positions over the k-length signatures.
        .withColumn("est_jaccard",
          org.apache.spark.sql.graft.VectorExpressions
            .signatureAgreement(col("sig_a"), col("sig_b"))
            .cast(DoubleType) / k)
        .filter(col("est_jaccard") >= threshold)
        .select("doc_a", "doc_b", "est_jaccard")
        .localCheckpoint(true)
    } finally sigs.unpersist()
  }

  /** Banded LSH candidate generation — the one shared implementation of
    * band-explode → hot-bucket cap → bucket self-join (r10 review
    * finding: minhashLshPairs and editDistancePairs carried verbatim
    * copies that would drift under a cap-rule change). Input is a
    * (doc, sig) signature frame; output the distinct (doc_a, doc_b)
    * candidate pairs with doc_a < doc_b. */
  private[graft] def bandedCandidates(sigs: DataFrame, bands: Int,
                                      rowsPerBand: Int,
                                      maxBandFrequency: Option[Int]): DataFrame = {
    val banded0 = sigs.select(col("doc"),
      explode(bandKeys(col("sig"), bands, rowsPerBand)).as("band"))
    val banded = maxBandFrequency match {
      case None => banded0
      case Some(cap) =>
        // the hot-bucket list is tiny (p99.9 bucket size is ~35 on the
        // measured corpus) — broadcast anti-join, no extra shuffle of
        // the banded rows
        val hot = banded0.groupBy("band")
          .agg(count(lit(1)).as("__n")).filter(col("__n") > cap)
          .select("band")
        banded0.join(broadcast(hot), Seq("band"), "left_anti")
    }
    banded.select(col("band"), col("doc").as("doc_a"))
      .join(banded.select(col("band"), col("doc").as("doc_b")), Seq("band"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
  }

  /** Edit-distance-verified fuzzy dedup (r10): MinHash band blocking for
    * candidates, then an EXACT Levenshtein verify — the high-precision
    * companion of [[minhashLshPairs]] for near-identical documents
    * (OCR variants, template instantiations, trailing-edit copies) where
    * an estimated Jaccard is too coarse a verdict. Returns
    * (doc_a, doc_b, edit_distance) for candidate pairs within
    * `maxDistance`.
    *
    * Scale shape: identical banded equi-join candidate generation as
    * minhashLshPairs (never all-pairs; `maxBandFrequency` cap available),
    * and the verify uses Spark's THRESHOLDED levenshtein — the banded
    * O(maxDistance·min(len)) algorithm that abandons a pair the moment
    * its distance provably exceeds the bound, instead of filling the
    * full O(len²) matrix for the overwhelmingly-non-duplicate majority.
    * Text payloads join into the candidate set once per side.
    *
    * Unit semantics: distances count Unicode CODEPOINTS (Spark's
    * levenshtein) — 'é' vs 'e' is one edit. DuckDB's levenshtein counts
    * BYTES (two edits for that pair), so the gate query projects both
    * sides to ASCII before the verify; the operator itself is
    * codepoint-exact. */
  def editDistancePairs(df: DataFrame, idCol: String, textCol: String,
                        maxDistance: Int,
                        shingleLen: Int = 5, k: Int = 32, bands: Int = 8,
                        maxBandFrequency: Option[Int] = None): DataFrame = {
    require(k % bands == 0, s"k=$k must be a multiple of bands=$bands")
    val sigs = minhashSignatures(df, idCol, textCol, shingleLen, k).persist()
    try {
      bandedCandidates(sigs, bands, k / bands, maxBandFrequency)
        .join(df.select(col(idCol).as("doc_a"), col(textCol).as("__ta")), "doc_a")
        .join(df.select(col(idCol).as("doc_b"), col(textCol).as("__tb")), "doc_b")
        // exact-safe pre-filter: |len(a) − len(b)| lower-bounds the edit
        // distance, so length-mismatched candidates drop before paying
        // the DP at all (no recall change — the verify would reject them)
        .filter(abs(length(col("__ta")) - length(col("__tb"))) <= maxDistance)
        // 3-arg levenshtein: returns -1 the moment the distance provably
        // exceeds maxDistance (banded DP), the exact value otherwise
        .withColumn("edit_distance",
          levenshtein(col("__ta"), col("__tb"), maxDistance))
        .filter(col("edit_distance") >= 0)
        .select("doc_a", "doc_b", "edit_distance")
        .localCheckpoint(true)
    } finally sigs.unpersist()
  }

  /** INCREMENTAL edit-distance-verified dedup — [[editDistancePairs]]'
    * O(batch) form: the batch's MinHash signatures band-join the
    * PERSISTED corpus signature store for candidates (the
    * [[minhashIncremental]] chain with threshold 0 — every banded
    * candidate reaches the verify; the estimator is not the filter
    * here), then the exact banded-DP levenshtein verifies CANDIDATES
    * ONLY against the corpus text table (an O(candidates) keyed probe
    * of a ready table — the only corpus-text touch, never a scan).
    * Returns (doc, store_doc, edit_distance ≤ maxDistance) — the
    * one-shot [[editDistancePairs]] restricted to batch×store.
    *
    * `corpusTexts` must carry (corpusIdCol, textCol) with the SAME text
    * normalization the signatures were built from (the gate's ASCII
    * fold — levenshtein is byte-level). Same length + banded-DP
    * pre-filters as the one-shot: sound, recall-free. */
  def editDistanceIncremental(newDocs: DataFrame, idCol: String, textCol: String,
                              corpusSigs: DataFrame, corpusIdCol: String, sigCol: String,
                              corpusTexts: DataFrame,
                              maxDistance: Int,
                              shingleLen: Int = 5, k: Int = 32, bands: Int = 8,
                              maxBandFrequency: Option[Int] = None): DataFrame =
    minhashIncremental(newDocs, idCol, textCol, corpusSigs, corpusIdCol, sigCol,
      shingleLen, k, bands, threshold = 0.0, maxBandFrequency)
      .join(newDocs.select(col(idCol).as("doc"), col(textCol).as("__ta")), "doc")
      .join(corpusTexts.select(col(corpusIdCol).as("corpus_doc"),
        col(textCol).as("__tb")), "corpus_doc")
      .filter(abs(length(col("__ta")) - length(col("__tb"))) <= maxDistance)
      .withColumn("edit_distance",
        levenshtein(col("__ta"), col("__tb"), maxDistance))
      .filter(col("edit_distance") >= 0)
      .select(col("doc"), col("corpus_doc").as("store_doc"), col("edit_distance"))

  /** Survivor selection by QUALITY: given near-dup components (any
    * [[connectedComponents]] output) and a per-document score, keep the
    * highest-scoring member of each cluster instead of the min-id one —
    * what production dedup actually wants (drop the OCR-garbled copy,
    * keep the clean one). Ties break on the rounded score then min id,
    * so survivor choice is deterministic and engine-portable. Singletons
    * (docs absent from the pair graph) survive trivially. One window
    * shuffle keyed by component; cluster sizes bound the sort. */
  def keepBest(df: DataFrame, idCol: String, scoreCol: String,
               comp: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val labeled = df.join(comp.withColumnRenamed("node", idCol), Seq(idCol), "left")
      .withColumn("component", coalesce(col("component"), col(idCol)))
    val w = Window.partitionBy("component")
      .orderBy(col(scoreCol).desc, col(idCol))
    labeled
      .withColumn("is_survivor", row_number().over(w) === 1)
      .select(col(idCol), col("component"), col(scoreCol), col("is_survivor"))
  }

  /** Incremental NEAR-dup: band-join the new batch's MinHash signatures
    * against a persisted corpus signature table — the continuous-ingest
    * companion of [[minhashLshPairs]] (its exact-hash sibling is
    * [[exactIncremental]]). Returns (doc, corpus_doc, est_jaccard) for
    * every new-batch document whose estimated Jaccard against some
    * already-curated document clears `threshold`.
    *
    * Scale shape: the batch side is small, so its banded rows broadcast
    * implicitly via AQE when they fit; the corpus side is banded as a
    * stateless projection + explode of the SIGNATURE table (k longs per
    * doc, ~1000× smaller than the corpus text) — at 100 TB the banded
    * form itself is the artifact to persist (band → doc), turning each
    * ingest into a semi-join against the band index rather than a
    * corpus-wide explode. Signatures must come from the same
    * (shingleLen, k) configuration; bands is the query-side knob.
    *
    * `maxBandFrequency` is the SAME hot-bucket guard as
    * [[minhashLshPairs]]'s, counted over batch+corpus band rows
    * together — without it a band bucket saturated by a globally-common
    * shingle joins batch-side × corpus-side members and the 150k-doc
    * ScaleProbe leg OOMed outright (SCALE.md round-8 second pass).
    * None (default) is the exact mode the oracle verifies. */
  def minhashIncremental(newDocs: DataFrame, idCol: String, textCol: String,
                         corpusSigs: DataFrame, corpusIdCol: String, sigCol: String,
                         shingleLen: Int = 5, k: Int = 32, bands: Int = 8,
                         threshold: Double = 0.5,
                         maxBandFrequency: Option[Int] = None,
                         // already-computed batch (doc, sig) signatures
                         // for this exact (shingleLen, k) — see
                         // minhashLshPairs.precomputedSigs (r15)
                         precomputedNewSigs: Option[DataFrame] = None): DataFrame =
    // the direct form IS the from-index form with the band relation
    // derived inline (one implementation — r12 review: the duplicated
    // cap/verify chains were a divergence risk); persisting the band
    // relation as a table is the only difference, and the only cost
    // difference: the inline derivation re-explodes the corpus per batch
    // validateIndex = false: the index literals are constructed HERE
    // from this call's own (bands, k) — correct by construction, and
    // the distinct-across-rows validation would force an extra full
    // corpus band explode per ingest batch just to re-read them (r14,
    // ADVICE)
    minhashIncrementalFromIndexImpl(newDocs, idCol, textCol,
      bandIndex(corpusSigs, corpusIdCol, sigCol, bands, k),
      corpusSigs, corpusIdCol, sigCol, shingleLen, k, bands, threshold,
      maxBandFrequency, validateIndex = false,
      precomputedNewSigs = precomputedNewSigs)

  /** Persisted BAND INDEX: (band, doc) rows exploded once from a
    * signature store — the ingest artifact [[minhashIncremental]]'s
    * scaladoc promises at 100 TB, now an actual API (r12). Build it when
    * the store lands (or append each batch's slice), persist it as a
    * table, and every subsequent ingest probes it with one equi-join
    * instead of re-exploding the entire corpus signature table per
    * batch. Owner-carrying (doc) → [[compactStore]] GC applies.
    *
    * The rows are SELF-DESCRIBING (`index_bands`, `index_k` — the
    * kmvMinHashes `sketch_k` pattern): band keys hash (bands, k)-sliced
    * signature segments, so probing an index built with different
    * parameters yields keys no batch can ever hit — every near-dup
    * silently admitted with zero candidates and no error.
    * [[minhashIncrementalFromIndex]] validates these columns instead of
    * trusting the caller. */
  def bandIndex(corpusSigs: DataFrame, idCol: String, sigCol: String,
                bands: Int = 8, k: Int = 32): DataFrame = {
    require(k % bands == 0, s"k=$k must be a multiple of bands=$bands")
    // same fail-fast as the incremental entry points: an index sliced
    // with a k that doesn't match the store's signature length would
    // produce band keys no batch can ever hit — every near-dup silently
    // admitted, zero candidates, no error. The check is IN-PLAN and
    // PER-ROW (r15, VERDICT task 2): the r14 form ran an eager one-row
    // head(1) job at query CONSTRUCTION — a plan-time Spark job per call,
    // the anti-pattern the DSIR lazy-validation fix removed — and only
    // ever saw the first row. Wrapping the signature consumed by the
    // band-key slice costs zero extra scans, fires on the first
    // offending row at execution, and validates EVERY row. NULL
    // signatures pass THROUGH the guard (bandKeys over NULL explodes to
    // zero rows — the pre-r15 skip semantics; a degraded doc owns no
    // bands, it is not a k mismatch).
    corpusSigs.select(col(idCol).as("doc"),
      explode(bandKeys(
        when(col(sigCol).isNull || size(col(sigCol)) === k, col(sigCol))
          .otherwise(raise_error(concat(
            lit("corpus signature length "), size(col(sigCol)).cast(StringType),
            lit(s" != k=$k — the signature store was built with a different " +
              "k than this index build")))),
        bands, k / bands)).as("band"))
      .select(col("band"), col("doc"),
        lit(bands).as("index_bands"), lit(k).as("index_k"))
  }

  /** [[minhashIncremental]] against a PERSISTED band index: candidate
    * (doc, corpus_doc) pairs come from the batch-bands ⋈ index equi-join
    * — O(batch) probe rows against a ready table — and the corpus
    * signature store is then joined for the CANDIDATES ONLY to verify
    * est_jaccard. Byte-identical output to [[minhashIncremental]] when
    * `index` was built from `corpusSigs` with the same (bands, k)
    * (StoreCompactionSpec pins it); the difference is purely the plan:
    * the per-batch corpus-wide band explode is gone, which is the whole
    * point of persisting the index. The hot-band cap counts batch + index
    * rows, matching the fused form's recall contract. */
  def minhashIncrementalFromIndex(newDocs: DataFrame, idCol: String, textCol: String,
                                  index: DataFrame,
                                  corpusSigs: DataFrame, corpusIdCol: String, sigCol: String,
                                  shingleLen: Int = 5, k: Int = 32, bands: Int = 8,
                                  threshold: Double = 0.5,
                                  maxBandFrequency: Option[Int] = None): DataFrame =
    minhashIncrementalFromIndexImpl(newDocs, idCol, textCol, index,
      corpusSigs, corpusIdCol, sigCol, shingleLen, k, bands, threshold,
      maxBandFrequency, validateIndex = true)

  /** Shared implementation: `validateIndex = false` is reserved for the
    * inline [[minhashIncremental]] wrapper, whose index literals are
    * correct by construction — every PERSISTED index (the public
    * from-index entry point) is validated. */
  private def minhashIncrementalFromIndexImpl(
                                  newDocs: DataFrame, idCol: String, textCol: String,
                                  index: DataFrame,
                                  corpusSigs: DataFrame, corpusIdCol: String, sigCol: String,
                                  shingleLen: Int, k: Int, bands: Int,
                                  threshold: Double,
                                  maxBandFrequency: Option[Int],
                                  validateIndex: Boolean,
                                  precomputedNewSigs: Option[DataFrame] = None): DataFrame = {
    require(k % bands == 0,
      s"k=$k must be a multiple of bands=$bands — banding would silently drop " +
        s"the trailing ${k % bands} signature positions")
    // an index built with different (bands, k) produces band keys no
    // batch hash can collide with: zero candidates, every near-dup
    // silently admitted. The index rows describe their own build
    // parameters ([[bandIndex]]) precisely so this call can refuse a
    // mismatched artifact instead of silently losing all recall. The
    // structural half (are the columns there at all?) is a schema check —
    // free at construction; the VALUE half is in-plan and per-row (r15,
    // VERDICT task 2): the r14 form ran distinct().collect() over the
    // entire index's metadata columns at query CONSTRUCTION — an eager
    // O(index) Spark job per ingest batch on a function sold as
    // O(batch). Wrapping the band key each index row contributes costs
    // zero extra scans, fires at execution on the FIRST row whose build
    // parameters differ from this probe's, and covers appended slices by
    // construction (every slice row is checked, not a sampled one).
    if (validateIndex) {
      require(index.columns.contains("index_bands") && index.columns.contains("index_k"),
        "index is missing its self-describing index_bands/index_k columns — " +
          "build it with Dedup.bandIndex (a bare (band, doc) relation cannot " +
          "be validated against this call's (bands, k))")
    }
    // fully LAZY plan (r15): the former persist()/localCheckpoint pair
    // materialized the whole ingest at CONSTRUCTION. The batch signature
    // rides THROUGH the band explode instead (the hammingIncremental
    // __sig pattern — k ints × bands per batch doc on a batch-only,
    // narrow stage), so the signature computation runs once per action
    // with no cached state to leak and no plan-time job. Severing for
    // iterative consumers (CC loops) is the caller's checkpoint.
    val newSigs = precomputedNewSigs
      .getOrElse(minhashSignatures(newDocs, idCol, textCol, shingleLen, k))
    locally {
      // caller-supplied batch signatures get the same per-row length
      // guard as the store side (mis-sized sigs would silently produce
      // band keys that match nothing); our own minhashSignatures output
      // is correct by construction
      val batchSig =
        if (precomputedNewSigs.isEmpty) col("sig")
        else when(col("sig").isNull || size(col("sig")) === k, col("sig"))
          .otherwise(raise_error(concat(
            lit("precomputed batch signature length "),
            size(col("sig")).cast(StringType),
            lit(s" != k=$k — built with a different k than this call"))))
      val nb0 = newSigs.select(col("doc"), col("sig"),
        explode(bandKeys(batchSig, bands, k / bands)).as("band"))
      val cb0 =
        if (!validateIndex) index.select(col("band"), col("doc").as("corpus_doc"))
        else index.select(
          when(col("index_bands") === bands && col("index_k") === k, col("band"))
            .otherwise(raise_error(concat(
              lit("band index slice built with (bands="),
              col("index_bands").cast(StringType),
              lit(", k="), col("index_k").cast(StringType),
              lit(s") but this ingest probes with (bands=$bands, k=$k) — " +
                "an appended slice with mismatched parameters would " +
                "otherwise silently produce zero candidates"))))
            .as("band"),
          col("doc").as("corpus_doc"))
      val (nb, cb) = maxBandFrequency match {
        case None => (nb0, cb0)
        case Some(cap) =>
          // the CAPPED path keeps its eager checkpoint: the hot-band
          // aggregate feeds two anti-joins, and exchange reuse does NOT
          // collapse the two broadcast builds in practice (r15 probe:
          // removing this doubled the leg's CPU). The zero-jobs-at-
          // construction contract covers the exact/capless path the
          // oracle gates exercise; the cap is the at-scale knob and has
          // always paid this one plan-time job.
          val hot = nb0.select("band").unionAll(cb0.select("band"))
            .groupBy("band").agg(count(lit(1)).as("__n"))
            .filter(col("__n") > cap).select("band")
            .localCheckpoint(true)
          (nb0.join(broadcast(hot), Seq("band"), "left_anti"),
            cb0.join(broadcast(hot), Seq("band"), "left_anti"))
      }
      // per-candidate-row store validation (the former eager head(1)
      // probe): a store built with a different k mis-sizes every
      // agreement denominator — any candidate row exposes it; store rows
      // that never become candidates are never consumed, so no wrong
      // output can escape unchecked. NULL signatures pass through (a
      // degraded row yields a NULL agreement the threshold filter drops
      // — the pre-r15 skip semantics, not a k mismatch).
      val cs = corpusSigs.select(col(corpusIdCol).as("corpus_doc"),
        when(col(sigCol).isNull || size(col(sigCol)) === k, col(sigCol))
          .otherwise(raise_error(concat(
            lit("corpus signature length "), size(col(sigCol)).cast(StringType),
            lit(s" != k=$k — the signature store was built with a different " +
              "k than this call")))).as("csig"))
      // candidate dedup keeps the batch signature (first() — sig is
      // functionally dependent on doc) so newSigs is consumed exactly once
      nb.join(cb, Seq("band"))
        .groupBy(col("doc"), col("corpus_doc"))
        .agg(first(col("sig")).as("sig"))
        .join(cs, Seq("corpus_doc"))
        .withColumn("est_jaccard",
          org.apache.spark.sql.graft.VectorExpressions
            .signatureAgreement(col("sig"), col("csig"))
            .cast(DoubleType) / k)
        .filter(col("est_jaccard") >= threshold)
        .select("doc", "corpus_doc", "est_jaccard")
    }
  }

  // ------------------------------------------------- dedup clustering

  /** Connected components over an undirected edge list — the clustering
    * step that turns pairwise near-dup output (any of the pair operators
    * above) into dedup groups: every doc gets the min doc id of its
    * transitive duplicate cluster, so "keep one per cluster" is a single
    * `component = doc` filter.
    *
    * Algorithm: alternating LARGE-STAR / SMALL-STAR contraction (Kiveris
    * et al., "Connected Components in MapReduce and Beyond", SoCC'14 —
    * public paper). Each round rewrites the edge set:
    *  - large-star: every node links its LARGER neighbors to the minimum
    *    of its neighborhood (incl. itself);
    *  - small-star: every node links its smaller neighbors and itself to
    *    the minimum of its smaller neighborhood.
    * At fixpoint the edges form stars centered at each component's
    * minimum id. Rounds are O(log n) (paper, Thm 2) — the round-8 probe
    * measured 11/14/17 rounds for chain diameters 10k/100k/1M, where the
    * previous min-label + single-path-halving loop had a LINEAR
    * convergence tail (changed≈7/round on a 512-chain, >64 rounds; its
    * per-round planning also degraded 0.5 s → 87 s — see SCALE.md r8).
    * Both star ops are equi-join + hash-agg shapes shuffled on node id —
    * no driver-side graph state; per-round results are severed to cached
    * RDDs so plan depth stays constant.
    *
    * Returns (node, component); nodes absent from `edges` are absent from
    * the output (callers left-join and coalesce to give singletons their
    * own id). Throws after `maxIter` non-converged rounds rather than
    * returning a partial clustering. */
  def connectedComponents(edges: DataFrame, aCol: String, bCol: String,
                          maxIter: Int = 50): DataFrame =
    connectedComponentsWithStats(edges, aCol, bCol, maxIter)._1

  /** Edge-count threshold below which [[connectedComponents]] solves the
    * labeling with a driver-local union-find instead of the distributed
    * star iteration (r18 optimization round; guide §1.2 "the distributed
    * algorithm" + §2.4 "remove shuffles outright"). The star iteration's
    * cost on a SMALL graph is pure orchestration: ~2 multi-stage shuffle
    * jobs per round × O(log diameter) rounds — measured 14.7 s wall /
    * 5.2 s CPU for a few-hundred-edge contracted fold at sf0.1, all of
    * it driver round-trips. Below the threshold the canonical edge set
    * (already distinct + cached for the iteration) collects once and a
    * min-root union-find labels it in milliseconds with ZERO extra
    * shuffles; output is bit-identical (min-id components are unique).
    *
    * The bound is the same driver-memory contract as the incremental
    * fold's `maxContractedNodes` broadcast guard. HONEST FOOTPRINT
    * (r19 — VERDICT r18 #10, replacing the optimistic "64 MB" note):
    * the RDD-side map collects specialized (Long, Long) tuples (never
    * boxed Rows — the map runs in tasks), ~40 B/edge on the driver
    * (~40 MB at the 1M default), but the union-find's transient peak is
    * larger: with n ≤ 2·edges distinct nodes, the intern LongMap + id
    * buffer (~50 B/node), parent/size ints (8 B/node), min-label longs
    * (8 B/node) and the (node, label) output tuples (~40 B/node) total
    * ~100 B/node — worst-case ≈ 240 MB transient at 1M edges / 2M
    * nodes, a few hundred MB under the default 8g driver and the reason
    * the default is 1M rather than the r18 2M. Above the bound — the
    * 100 TB corpus pair graph — the Kiveris iteration runs exactly as
    * before. Env-overridable (`GRAFT_CC_LOCAL_MAX_EDGES`, 0 disables)
    * so thin-driver cluster deployments can tune it without a rebuild. */
  private[graft] val LocalCcMaxEdgesDefault: Long =
    sys.env.get("GRAFT_CC_LOCAL_MAX_EDGES").map(_.toLong)
      .getOrElse(1L * 1000 * 1000)

  /** Driver-local min-root union-find over canonical (u, v) edges; returns
    * (node, component-min) labels for every collected node. Path-halving
    * find + union-by-size, min id tracked per root. */
  private def unionFindMinLabels(edges: Array[(Long, Long)]): Array[(Long, Long)] = {
    val idx = new scala.collection.mutable.LongMap[Int](edges.length * 2)
    val ids = new scala.collection.mutable.ArrayBuffer[Long](edges.length * 2)
    def internId(x: Long): Int = idx.getOrElse(x, {
      val i = ids.length; idx.update(x, i); ids += x; i
    })
    edges.foreach { case (u, v) => internId(u); internId(v) }
    val n = ids.length
    val parent = Array.tabulate(n)(identity)
    val size = Array.fill(n)(1)
    def find(x0: Int): Int = {
      var x = x0
      while (parent(x) != x) { parent(x) = parent(parent(x)); x = parent(x) }
      x
    }
    edges.foreach { case (u, v) =>
      val ru = find(idx(u)); val rv = find(idx(v))
      if (ru != rv) {
        if (size(ru) >= size(rv)) { parent(rv) = ru; size(ru) += size(rv) }
        else { parent(ru) = rv; size(rv) += size(ru) }
      }
    }
    val minOf = new Array[Long](n)
    java.util.Arrays.fill(minOf, Long.MaxValue)
    var i = 0
    while (i < n) { val r = find(i); if (ids(i) < minOf(r)) minOf(r) = ids(i); i += 1 }
    val out = new Array[(Long, Long)](n)
    i = 0
    while (i < n) { out(i) = (ids(i), minOf(find(i))); i += 1 }
    out
  }

  /** [[connectedComponents]] plus the number of rounds it took — the
    * scale-relevant observable (ChainComponentsSpec pins the log bound on
    * adversarial chain graphs; SCALE.md r8 records rounds vs diameter). */
  private[graft] def connectedComponentsWithStats(
      edges: DataFrame, aCol: String, bCol: String,
      maxIter: Int = 50,
      localMaxEdges: Long = LocalCcMaxEdgesDefault): (DataFrame, Int) = {
    val spark = edges.sparkSession
    // sever: pin a round's result as a cached RDD and rebuild the frame
    // from it. localCheckpoint(true) is NOT enough here — with it, driver
    // planning time grew superlinearly across rounds (0.5 s → 87 s by
    // round 22 on a 512-node chain); a plain cached-RDD rebuild keeps
    // every round's plan three operators deep.
    def sever(df: DataFrame): (DataFrame, org.apache.spark.rdd.RDD[org.apache.spark.sql.Row]) = {
      val r = df.rdd.cache()
      (spark.createDataFrame(r, df.schema), r)
    }
    // canonical undirected form: (u, v) with u > v, self-loops dropped.
    // Self-loop-only nodes are re-attached at the end via allNodes.
    val allNodes = edges.select(col(aCol).as("node"))
      .union(edges.select(col(bCol).as("node"))).distinct()
    var (e, eRdd) = sever(edges.filter(col(aCol) =!= col(bCol))
      .select(greatest(col(aCol), col(bCol)).as("u"),
        least(col(aCol), col(bCol)).as("v"))
      .distinct())
    // Scale-adaptive dispatch (r18 opt): the canonical edge count reads
    // off the cache the iteration materializes anyway (one cheap action,
    // no extra pass over the input pipeline). Small integral-keyed graphs
    // — the incremental folds' contracted batch graphs, small-corpus
    // one-shots — label locally in one collect of the ALREADY-CACHED
    // canonical set; everything else runs the distributed iteration.
    val nCanonical = e.count()
    val integralKeys = e.schema.fields.forall(_.dataType == LongType)
    if (nCanonical > 0 && nCanonical <= localMaxEdges && integralKeys) {
      val collected = eRdd.map(r => (r.getLong(0), r.getLong(1))).collect()
      eRdd.unpersist()
      val labels = unionFindMinLabels(collected).collect {
        case (node, comp) if node != comp => org.apache.spark.sql.Row(node, comp)
      }
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("node", LongType, nullable = false),
        org.apache.spark.sql.types.StructField("component", LongType, nullable = false)))
      val labelDf = spark.createDataFrame(
        spark.sparkContext.parallelize(labels.toSeq,
          math.max(1, math.min(spark.sparkContext.defaultParallelism,
            labels.length / 10000 + 1))), schema)
      val out = allNodes.join(labelDf, Seq("node"), "left")
        .select(col("node"), coalesce(col("component"), col("node")).as("component"))
      return (out, 0)
    }
    var iter = 0
    var nPrev = nCanonical
    var converged = nCanonical == 0
    while (!converged && iter < maxIter) {
      // large-star: m(u) = min(Γ(u) ∪ {u}); emit (v, m(u)) for v ∈ Γ(u), v > u
      val sym = e.union(e.select(col("v").as("u"), col("u").as("v")))
      val lmin = sym.groupBy("u").agg(min(col("v")).as("mv"))
        .select(col("u"), least(col("mv"), col("u")).as("m"))
      val large = sym.join(lmin, "u").filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v")).distinct()
      // small-star over larger→smaller edges: m(u) = min of u's smaller
      // neighborhood; emit (x, m(u)) for x ∈ Γ⁻(u) ∪ {u}, x ≠ m(u)
      val smin = large.groupBy("u").agg(min(col("v")).as("m"))
      val j = large.join(smin, "u")
      val small = j.select(col("v").as("u"), col("m").as("v"))
        .union(j.select(col("u"), col("m").as("v")))
        .filter(col("u") =!= col("v")).distinct()
      val (e2, e2Rdd) = sever(small)
      // set-equality convergence in one except job + one cached count
      // (r18 opt — guide §2.4): both rounds' edge sets are .distinct()
      // outputs, so |e2| = |e| ∧ e2 ∖ e = ∅ ⟺ e2 = e; the old
      // two-sided exceptAll paid a second full shuffle job per round.
      val n2 = e2.count()
      converged = n2 == nPrev && e2.except(e).isEmpty
      nPrev = n2
      eRdd.unpersist()
      e = e2; eRdd = e2Rdd
      iter += 1
    }
    require(converged,
      s"connectedComponents: not converged after $maxIter rounds — raise maxIter")
    // fixpoint edge set is a star forest: (member, root) plus the roots
    // themselves; every other input node is its own singleton component
    val labels = e.select(col("u").as("node"), col("v").as("component"))
    val out = allNodes.join(labels, Seq("node"), "left")
      .select(col("node"), coalesce(col("component"), col("node")).as("component"))
    (out, iter)
  }

  /** INCREMENTAL connected components — cluster maintenance under
    * continuous ingest: fold a batch of NEW near-dup edges into a
    * PERSISTED component assignment without revisiting the original
    * pair graph (whose edges a months-long ingest never stores; only
    * the star-forest assignment survives, which is equivalent for
    * connectivity). `assignment` is a (node, component) labeling with
    * min-id roots — exactly [[connectedComponents]]'s output contract
    * (roots may appear as their own rows or only as labels; both work).
    *
    * Law (the gate's oracle): if `assignment` labels CC(E₁), the result
    * labels CC(E₁ ∪ E₂) over nodes(assignment) ∪ nodes(E₂) — star edges
    * preserve connectivity, so no information the original pairs carried
    * is lost.
    *
    * Scale shape: each new edge endpoint is projected to its current
    * component via two hash joins on the store (absent nodes keep
    * themselves), same-component edges drop out, and the star iteration
    * runs ONLY over the contracted graph — O(|E₂|) rows, never the
    * store. The merge map (old root → new root, ≤ 2|E₂| entries) is
    * broadcast for a single map-side remap pass over the assignment:
    * no shuffle of the store, no O(E₁) term anywhere. The broadcasts
    * are EXPLICIT and batch-bounded by contract — a degenerate "batch"
    * approaching the store's size should run the one-shot
    * [[connectedComponents]] instead (same guidance for
    * [[keepBestIncremental]], whose remap/affected-root broadcasts
    * share this bound). With
    * `deltaOnly=true` the output is just the CHANGED labels plus the
    * new nodes — O(batch)-sized, the shape a commit-log `merge`
    * materialization wants (file-pruned upsert of touched rows only). */
  def connectedComponentsIncremental(assignment: DataFrame, nodeCol: String, compCol: String,
                                     newEdges: DataFrame, aCol: String, bCol: String,
                                     maxIter: Int = 50,
                                     deltaOnly: Boolean = false,
                                     maxContractedNodes: Long = 8L * 1000 * 1000): DataFrame = {
    val assign = assignment.select(col(nodeCol).as("node"), col(compCol).as("component"))
    val ea = newEdges.select(col(aCol).as("a"), col(bCol).as("b"))
    val (merged, remap) = foldContractedGraph(assign, ea, maxIter, maxContractedNodes)
    val oldRows = if (deltaOnly) {
      assign.join(broadcast(remap), Seq("component"), "inner")
        .select(col("node"), col("__new").as("component"))
    } else {
      assign.join(broadcast(remap), Seq("component"), "left")
        .select(col("node"), coalesce(col("__new"), col("component")).as("component"))
    }
    val newNodes = ea.select(col("a").as("node"))
      .union(ea.select(col("b").as("node"))).distinct()
      .join(assign.select("node"), Seq("node"), "left_anti")
      .join(broadcast(merged.withColumnRenamed("component", "__new")), Seq("node"), "left")
      .select(col("node"), coalesce(col("__new"), col("node")).as("component"))
    oldRows.unionByName(newNodes)
  }

  /** The shared contracted-graph fold core of
    * [[connectedComponentsIncremental]] and [[keepBestIncremental]]
    * (r15 review: two hand-maintained copies of the min-root fold are
    * the same divergence risk as the r12 minhash cap/verify chains):
    * project batch edge endpoints onto their current components
    * (unseen nodes are their own singleton component — ids stay
    * min-rooted because a genuinely new node id cannot be any store
    * cluster's root), drop already-connected edges, star-contract the
    * batch-sized residue, and return (merged labels over the
    * contracted nodes, the old-root → new-root remap). `merged` is
    * eager by nature (the star iteration is driver-controlled) and
    * batch-bounded, pinned once for its consumers.
    *
    * Degenerate-batch guard (r16 — VERDICT task 7): the fold's merge
    * maps are EXPLICIT broadcasts, so a "batch" approaching the store's
    * scale melts the driver, and the old contract was documentation
    * only. The guard bounds what is physically broadcast — the
    * contracted node count, read off the already-materialized frame
    * (one cached count, no extra scan of store OR batch) — and fails
    * loud past `maxContractedNodes` with the run-the-one-shot guidance.
    * An absolute broadcast bound, not a store ratio: the broadcast is
    * the quantity that pages, and a ratio would cost an O(store) count
    * per fold to guard the same hazard. */
  private def foldContractedGraph(assign: DataFrame, ea: DataFrame,
                                  maxIter: Int,
                                  maxContractedNodes: Long): (DataFrame, DataFrame) = {
    val projected = ea
      .join(assign.select(col("node").as("a"), col("component").as("ca")), Seq("a"), "left")
      .join(assign.select(col("node").as("b"), col("component").as("cb")), Seq("b"), "left")
      .select(coalesce(col("ca"), col("a")).as("ca"),
        coalesce(col("cb"), col("b")).as("cb"))
    val contracted = projected.filter(col("ca") =!= col("cb"))
    val merged = connectedComponents(contracted, "ca", "cb", maxIter)
      .localCheckpoint(true)
    val n = merged.count() // cached — the checkpoint already materialized it
    require(n <= maxContractedNodes,
      s"incremental fold: the contracted batch graph has $n nodes, past the " +
        s"declared broadcast bound maxContractedNodes=$maxContractedNodes — a " +
        "batch this size approaches the one-shot regime: run " +
        "connectedComponents/keepBest over the full edge set instead, or " +
        "raise the bound if the driver can hold the merge-map broadcast")
    val remap = merged
      .select(col("node").as("component"), col("component").as("__new"))
      .filter(col("component") =!= col("__new"))
    (merged, remap)
  }

  /** INCREMENTAL survivor selection — the ingest companion of
    * [[keepBest]]: fold a batch of new near-dup edges plus newly scored
    * documents into a PERSISTED survivor table (exactly [[keepBest]]'s
    * output: id, component, score, is_survivor) and re-rank ONLY the
    * components the batch touched. A merge can dethrone a survivor in
    * the absorbing cluster (the absorbed copy may score higher), so
    * membership-changed components re-rank wholesale; every other row
    * carries over verbatim.
    *
    * Law (the gate's oracle): if `survivors` is keepBest over
    * (oldScored, CC(E₁)), the result is keepBest over
    * (oldScored ∪ newScored, CC(E₁ ∪ E₂)) — survivor choice depends
    * only on final membership and scores, both of which the store and
    * the batch carry.
    *
    * Scale shape: same contracted-graph fold as
    * [[connectedComponentsIncremental]] (star iteration over O(|E₂|)
    * rows, broadcast root-remap over the store), then a broadcast
    * semi-join on the batch-bounded affected-root set selects the rows
    * to re-rank — the single rank window runs over
    * O(affected-cluster-sizes) rows, never the store. With
    * `deltaOnly=true` the output is just the re-ranked affected rows
    * plus the new documents — the commit-log merge-materialization
    * upsert shape (unique key = id). */
  def keepBestIncremental(survivors: DataFrame, idCol: String, scoreCol: String,
                          newScored: DataFrame,
                          newEdges: DataFrame, aCol: String, bCol: String,
                          maxIter: Int = 50,
                          deltaOnly: Boolean = false,
                          maxContractedNodes: Long = 8L * 1000 * 1000): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val store = survivors.select(
      col(idCol), col("component"), col(scoreCol), col("is_survivor"))
    val assign = store.select(col(idCol).as("node"), col("component"))
    val ea = newEdges.select(col(aCol).as("a"), col(bCol).as("b"))
    // already-connected edges drop out inside the fold — they cannot
    // change membership, hence survivors
    val (merged, remap) = foldContractedGraph(assign, ea, maxIter, maxContractedNodes)
    // every final root a genuine merge produced — batch-bounded, and the
    // absorbing min-rooted cluster is included (its survivor may change)
    val affectedRoots = merged.select("component").distinct()
    val relabeled = store.join(broadcast(remap), Seq("component"), "left")
      .select(col(idCol), coalesce(col("__new"), col("component")).as("component"),
        col(scoreCol), col("is_survivor"))
    val affectedOld = relabeled
      .join(broadcast(affectedRoots), Seq("component"), "left_semi")
    // new docs take their merged label when an edge touched them,
    // themselves otherwise (batch singletons rank alone → survivors)
    val newRows = newScored.select(col(idCol), col(scoreCol))
      .join(broadcast(merged.withColumnRenamed("node", idCol)
        .withColumnRenamed("component", "__new")), Seq(idCol), "left")
      .select(col(idCol), coalesce(col("__new"), col(idCol)).as("component"),
        col(scoreCol))
    val w = Window.partitionBy("component")
      .orderBy(col(scoreCol).desc, col(idCol))
    val reranked = affectedOld.drop("is_survivor").unionByName(newRows)
      .withColumn("is_survivor", row_number().over(w) === 1)
      .select(col(idCol), col("component"), col(scoreCol), col("is_survivor"))
    if (deltaOnly) reranked
    else relabeled
      .join(broadcast(affectedRoots), Seq("component"), "left_anti")
      // the USING anti-join reorders columns (key first) — restore
      // keepBest's output contract order
      .select(col(idCol), col("component"), col(scoreCol), col("is_survivor"))
      .unionByName(reranked)
  }

  // ------------------------------------------------------------- SimHash

  /** Number of SimHash signature bits. 60, not 64: the signature must be
    * reproducible in the DuckDB oracle, whose signed-BIGINT hex cast
    * (`'0x' || substr(md5(t),1,15)`) tops out below 2^63 — 15 hex chars
    * = 60 bits is the widest both engines compute identically (same
    * reasoning as the 60-bit n-gram shingle hashes below). */
  val SimhashBits = 60

  /** SimHash block count (pigeonhole: recall guaranteed for hamming
    * distance < SimhashBlocks) and per-block width. 4 blocks × 15 bits →
    * 32,768 keys per block, 131,072 distinct blocking keys overall. The
    * r6/r7 scale audit quantified the old 4×8-bit scheme (1,024 keys
    * total) as the repo's one quadratic: candidate pairs per bucket grow
    * ~(n/keys)², and 450k docs showed 4.9× pair growth for 3× data.
    * 128× more keys pushes the knee out by the same factor. */
  val SimhashBlocks = 4
  val SimhashBlockBits: Int = SimhashBits / SimhashBlocks // 15

  /** 60-bit SimHash via the fused
    * [[org.apache.spark.sql.graft.SimhashSignature]] expression — one
    * pass per document (tokenize, distinct, md5, per-bit majority), no
    * explode/aggregate/join. SimhashParitySpec pins bit-equality against
    * the relational form (ParityReferences, test tree; and therefore
    * the unchanged DuckDB oracle). */
  def simhashes(df: DataFrame, idCol: String, textCol: String): DataFrame =
    ensureParallelism(df, idCol)
      .select(col(idCol).as("doc"),
        coalesce(
          org.apache.spark.sql.graft.VectorExpressions.simhashSignature(col(textCol)),
          lit(0L)).as("sh"))

  /** SimHash near-dup pairs with ≤ maxHamming distance, blocked on
    * 4×15-bit blocks (pigeonhole guarantees recall for distance ≤ 3; the
    * hamming filter is exact on the candidates). 15-bit blocks give
    * 32,768 keys per block — at n docs the expected bucket population is
    * n/131072 per key, so candidate volume stays ~linear in n until the
    * corpus dwarfs the key space (the old 8-bit blocks saturated at
    * ~1k keys and went quadratic; SCALE.md r8 has the measured probe).
    *
    * `maxBlockFrequency` caps HOT block buckets (same family as the
    * minhash band cap and the n-gram df-cap): a corpus with many
    * near-identical or near-empty documents — every token-less doc folds
    * to signature 0 — drives one block bucket quadratic. Buckets above
    * the cap leave candidate generation before the join; a true pair
    * inside a saturated bucket survives through its three OTHER blocks
    * unless those saturate too. None (default) is the exact
    * oracle-verified mode. */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int = 6,
                   maxBlockFrequency: Option[Int] = None): DataFrame =
    hammingPairs(simhashes(df, idCol, textCol), "doc", "sh",
      maxHamming, nBlocks = SimhashBlocks, blockBits = SimhashBlockBits,
      maxBlockFrequency = maxBlockFrequency)
      .withColumnRenamed("id_a", "doc_a").withColumnRenamed("id_b", "doc_b")

  /** Hamming near-dup pairs over ANY packed-bits signature column — the
    * simhash block join generalized (r9) so perceptual image hashes
    * (dHash/aHash, 64-bit: nBlocks=4, blockBits=16) ride the same
    * machinery. Pigeonhole guarantee: two signatures within
    * `maxHamming < nBlocks` differing bits agree on ≥1 whole block, so
    * the block equi-join finds every true pair (candidate recall 1.0 at
    * maxHamming ≤ nBlocks−1; the brute-force parity leg in ImageHashSpec
    * checks exactly this). A larger maxHamming is the standard
    * APPROXIMATE regime — candidates still need a shared block (the
    * simhash gate config: hamming ≤ 6 over 4 blocks; its oracle banding
    * is identical, so cross-engine results still match exactly). Null
    * signatures (e.g. undecodable images) are excluded. The block
    * self-join is the only data-sized shuffle; `maxBlockFrequency` caps
    * degenerate blocks like every other bucketized family here.
    *
    * The signature is a single long — cheap enough to carry through the
    * block join, saving two join stages vs a dedup-then-rejoin plan.
    * Block key = blockIdx*2^blockBits + the block's bit slice, a LONG:
    * equality is what blocks, so the numeric key yields the exact
    * candidate set of the oracle's string key at 8-byte shuffle width. */
  def hammingPairs(sigs: DataFrame, idCol: String, hashCol: String,
                   maxHamming: Int, nBlocks: Int, blockBits: Int,
                   maxBlockFrequency: Option[Int] = None): DataFrame = {
    requireBlockGeometry(nBlocks, blockBits)
    val blockMask = (1L << blockBits) - 1
    val blocked0 = sigs.filter(col(hashCol).isNotNull)
      .select(col(idCol).as("__id"), col(hashCol).as("__sig"),
        explode(transform(sequence(lit(0), lit(nBlocks - 1)), b =>
          b.cast(LongType) * (1L << blockBits) +
            call_function("shiftright", col(hashCol), b * blockBits)
              .bitwiseAND(lit(blockMask))))
          .as("block"))
    val blocked = maxBlockFrequency match {
      case None => blocked0
      case Some(cap) =>
        val hot = blocked0.groupBy("block")
          .agg(count(lit(1)).as("__n")).filter(col("__n") > cap)
          .select("block")
        blocked0.join(broadcast(hot), Seq("block"), "left_anti")
    }
    blocked.select(col("block"), col("__id").as("id_a"), col("__sig").as("sig_a"))
      .join(blocked.select(col("block"), col("__id").as("id_b"), col("__sig").as("sig_b")), Seq("block"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("hamming", bit_count(col("sig_a").bitwiseXOR(col("sig_b"))))
      .filter(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming").distinct()
  }

  /** Persisted BLOCK INDEX over a fingerprint store — the
    * [[bandIndex]] discipline for the hamming family (r14): (block,
    * doc) rows exploded once from a store of packed-bits signatures
    * (image dHash, audio/video envelope fingerprints). Build it when
    * the store lands (or append each batch's slice), persist it as a
    * table, and every subsequent ingest probes it with one equi-join
    * instead of re-exploding the entire store per batch.
    * Owner-carrying (doc) → [[compactStore]] GC applies.
    *
    * SELF-DESCRIBING (`index_blocks`, `index_bits`): block keys encode
    * (blockIdx, bit-slice) under the build's geometry, so probing an
    * index built with different (nBlocks, blockBits) yields keys no
    * batch can ever hit — every near-dup silently admitted with zero
    * candidates and no error. [[hammingIncrementalFromIndex]] validates
    * these columns instead of trusting the caller. Null signatures are
    * excluded (an undecodable asset owns no blocks). */
  /** Shared guard for the packed-long block family: `blockBits` must stay
    * in [1, 63] — at 64, `(1L << 64) - 1` is 0 under JVM shift-count
    * masking, so every block key silently collapses to 0 and the
    * candidate join degenerates to a full cross product (r14 ADVICE). */
  private def requireBlockGeometry(nBlocks: Int, blockBits: Int): Unit = {
    require(blockBits >= 1 && blockBits < 64,
      s"blockBits=$blockBits must be in [1, 63] — at 64 the block mask " +
        "(1L << 64) - 1 is 0 under JVM shift semantics, collapsing every " +
        "block key to 0 (a full cross-product candidate join)")
    require(nBlocks >= 1 && nBlocks * blockBits <= 64,
      s"$nBlocks×$blockBits bits exceed a long")
  }

  def hammingBlockIndex(storeSigs: DataFrame, idCol: String, hashCol: String,
                        nBlocks: Int, blockBits: Int): DataFrame = {
    requireBlockGeometry(nBlocks, blockBits)
    val blockMask = (1L << blockBits) - 1
    storeSigs.filter(col(hashCol).isNotNull)
      .select(col(idCol).as("doc"),
        explode(transform(sequence(lit(0), lit(nBlocks - 1)), b =>
          b.cast(LongType) * (1L << blockBits) +
            call_function("shiftright", col(hashCol), b * blockBits)
              .bitwiseAND(lit(blockMask)))).as("block"))
      .select(col("block"), col("doc"),
        lit(nBlocks).as("index_blocks"), lit(blockBits).as("index_bits"))
  }

  /** INCREMENTAL hamming near-dup ingest: pair a NEW batch of packed-bit
    * fingerprints against a persisted fingerprint STORE — O(batch) probe
    * rows, never an all-corpus self-join. The modality analog of
    * [[minhashIncremental]]: a nightly media ingest fingerprints only
    * its new assets and probes the store's block index. Returns
    * (doc, store_doc, hamming) with hamming ≤ maxHamming; the same
    * pigeonhole recall contract as [[hammingPairs]]
    * (exact while maxHamming < nBlocks). */
  def hammingIncremental(newSigs: DataFrame, idCol: String, hashCol: String,
                         storeSigs: DataFrame, storeIdCol: String, storeHashCol: String,
                         maxHamming: Int, nBlocks: Int, blockBits: Int,
                         maxBlockFrequency: Option[Int] = None): DataFrame =
    // the direct form IS the from-index form with the block relation
    // derived inline (one implementation — the minhashIncremental
    // discipline); validateIndex = false: the literals are constructed
    // here from this call's own geometry, correct by construction
    hammingIncrementalFromIndexImpl(newSigs, idCol, hashCol,
      hammingBlockIndex(storeSigs, storeIdCol, storeHashCol, nBlocks, blockBits),
      storeSigs, storeIdCol, storeHashCol, maxHamming, nBlocks, blockBits,
      maxBlockFrequency, validateIndex = false)

  /** [[hammingIncremental]] against a PERSISTED block index: candidate
    * (doc, store_doc) pairs come from the batch-blocks ⋈ index equi-join
    * and the store signatures join back for the CANDIDATES ONLY to
    * verify the exact hamming distance. Byte-identical output to the
    * direct form when `index` was built from `storeSigs` with the same
    * geometry (StoreCompactionSpec pins it); the difference is purely
    * the plan — the per-batch store-wide block explode is gone. */
  def hammingIncrementalFromIndex(newSigs: DataFrame, idCol: String, hashCol: String,
                                  index: DataFrame,
                                  storeSigs: DataFrame, storeIdCol: String, storeHashCol: String,
                                  maxHamming: Int, nBlocks: Int, blockBits: Int,
                                  maxBlockFrequency: Option[Int] = None): DataFrame =
    hammingIncrementalFromIndexImpl(newSigs, idCol, hashCol, index,
      storeSigs, storeIdCol, storeHashCol, maxHamming, nBlocks, blockBits,
      maxBlockFrequency, validateIndex = true)

  private def hammingIncrementalFromIndexImpl(
      newSigs: DataFrame, idCol: String, hashCol: String,
      index: DataFrame,
      storeSigs: DataFrame, storeIdCol: String, storeHashCol: String,
      maxHamming: Int, nBlocks: Int, blockBits: Int,
      maxBlockFrequency: Option[Int],
      validateIndex: Boolean): DataFrame = {
    requireBlockGeometry(nBlocks, blockBits)
    // structural check at construction (schema-only, no job); the VALUE
    // check is in-plan and per-row — the bandIndex r15 discipline: the
    // r14 distinct().collect() ran an eager O(index) job at query
    // CONSTRUCTION per ingest batch. Every index row's declared geometry
    // is checked where its block key is consumed: zero extra scans,
    // appended slices covered by construction, loud at execution.
    if (validateIndex) {
      require(index.columns.contains("index_blocks") && index.columns.contains("index_bits"),
        "index is missing its self-describing index_blocks/index_bits columns — " +
          "build it with Dedup.hammingBlockIndex (a bare (block, doc) relation " +
          "cannot be validated against this call's geometry)")
    }
    val blockMask = (1L << blockBits) - 1
    val nb0 = newSigs.filter(col(hashCol).isNotNull)
      .select(col(idCol).as("doc"), col(hashCol).as("__sig"),
        explode(transform(sequence(lit(0), lit(nBlocks - 1)), b =>
          b.cast(LongType) * (1L << blockBits) +
            call_function("shiftright", col(hashCol), b * blockBits)
              .bitwiseAND(lit(blockMask)))).as("block"))
    val cb0 =
      if (!validateIndex) index.select(col("block"), col("doc").as("store_doc"))
      else index.select(
        when(col("index_blocks") === nBlocks && col("index_bits") === blockBits,
          col("block"))
          .otherwise(raise_error(concat(
            lit("hamming block index slice built with (nBlocks="),
            col("index_blocks").cast(StringType),
            lit(", blockBits="), col("index_bits").cast(StringType),
            lit(s") but this ingest probes with (nBlocks=$nBlocks, " +
              s"blockBits=$blockBits) — an appended slice with mismatched " +
              "geometry would otherwise silently produce zero candidates"))))
          .as("block"),
        col("doc").as("store_doc"))
    // the hot-block cap counts batch + index rows together — the
    // minhashIncrementalFromIndex recall contract
    val (nb, cb) = maxBlockFrequency match {
      case None => (nb0, cb0)
      case Some(cap) =>
        // the CAPPED path keeps its eager checkpoint — see the
        // minhash twin: the hot aggregate feeds two anti-joins and
        // exchange reuse does not collapse the two broadcast builds in
        // practice (r15 probe: CPU doubled without it). Zero-jobs-at-
        // construction covers the capless path the gates exercise.
        val hot = nb0.select("block").unionAll(cb0.select("block"))
          .groupBy("block").agg(count(lit(1)).as("__n"))
          .filter(col("__n") > cap).select("block")
          .localCheckpoint(true)
        (nb0.join(broadcast(hot), Seq("block"), "left_anti"),
          cb0.join(broadcast(hot), Seq("block"), "left_anti"))
    }
    val ss = storeSigs.filter(col(storeHashCol).isNotNull)
      .select(col(storeIdCol).as("store_doc"), col(storeHashCol).as("__ssig"))
    // candidate dedup keeps the batch signature (first() — __sig is
    // functionally dependent on doc), consuming newSigs exactly once
    nb.join(cb, Seq("block"))
      .groupBy(col("doc"), col("store_doc"))
      .agg(first(col("__sig")).as("__sig"))
      .join(ss, Seq("store_doc"))
      .withColumn("hamming", bit_count(col("__sig").bitwiseXOR(col("__ssig"))))
      .filter(col("hamming") <= maxHamming)
      .select("doc", "store_doc", "hamming")
  }

  // ------------------------------------------------------ n-gram Jaccard

  /** Exact n-gram Jaccard pairs via inverted-index join: distinct word
    * n-grams hashed to 60-bit longs (cheap to shuffle), equi-join on the
    * shingle hash (the blocking key), count co-occurrences,
    * Jaccard = |∩| / (|A| + |B| - |∩|).
    *
    * `maxDocFrequency` caps hot shingles: a stop-shingle shared by m docs
    * yields m² candidate pairs in the self-join, so at scale the inverted
    * index drops shingles whose document frequency exceeds the cap BEFORE
    * the join. Set sizes (the Jaccard denominator) stay exact — only the
    * intersection count can undercount, so capped Jaccard is a lower
    * bound; near-duplicate pairs share mostly RARE shingles and survive.
    * None (the default) is the exact mode the oracle verifies. */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                        n: Int = 3, threshold: Double = 0.4,
                        maxDocFrequency: Option[Int] = None): DataFrame = {
    // fused shingling (round 8): the WordShingles expression produces the
    // per-doc DISTINCT n-gram array in one pass, so the former
    // posexplode → window-lead → dropDuplicates pipeline (one sort + one
    // dedup shuffle, both keyed by doc) collapses to a map + explode.
    // WordShinglesParitySpec pins equality with the HOF/window forms.
    val par = df.sparkSession.sparkContext.defaultParallelism
    val shingleRows = df.repartition(par, col(idCol))
      .select(col(idCol).as("doc"),
        explode(org.apache.spark.sql.graft.VectorExpressions
          .wordShingles(col(textCol), n, distinct = true)).as("s"))
    // xxhash64 (codegen-native) — the hash never reaches the output, only
    // intersection COUNTS do, so any injective-enough hash matches the
    // string-joining oracle exactly
    val inv0 = shingleRows
      .select(col("doc"), xxhash64(col("s")).as("sh64"))
      .persist()
    try {
      // sizes from the UNCAPPED index — |A| and |B| must stay exact
      val sizes = inv0.groupBy("doc").agg(count(lit(1)).as("n_sh"))
      val inv = maxDocFrequency match {
        case Some(cap) =>
          val keep = inv0.groupBy("sh64").agg(count(lit(1)).as("__df"))
            .filter(col("__df") <= cap).select("sh64")
          inv0.join(keep, "sh64")
        case None => inv0
      }
      val common = inv.select(col("sh64"), col("doc").as("doc_a"))
        .join(inv.select(col("sh64"), col("doc").as("doc_b")), Seq("sh64"))
        .filter(col("doc_a") < col("doc_b"))
        .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("n_common"))
      common
        .join(sizes.select(col("doc").as("doc_a"), col("n_sh").as("n_a")), "doc_a")
        .join(sizes.select(col("doc").as("doc_b"), col("n_sh").as("n_b")), "doc_b")
        .withColumn("jaccard",
          round(col("n_common").cast(DoubleType) /
            (col("n_a") + col("n_b") - col("n_common")), 6))
        .filter(col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
        // eager materialization (output is pair-sized, not corpus-sized) so
        // the index cache releases in the finally — see minhashLshPairs
        .localCheckpoint(true)
    } finally inv0.unpersist()
  }

  /** SET-OVERLAP near-dup pairs over any (owner, key) relation.
    * DEPLOYMENT NOTE FIRST (r15 verdict, r16 promotion): candidates grow
    * with owners-per-key SQUARED and `maxKeyFrequency` defaults to None
    * (oracle-exact mode) — on real data a handful of degenerate keys (a
    * black frame, a silence window, an empty-string shingle) can each
    * own millions of assets and the candidate join explodes; ALWAYS set
    * `maxKeyFrequency` in production (capped overlap only undercounts —
    * a safe lower bound).
    *
    * (r15 — VERDICT task 3's frame-level clip matcher, factored
    * generic): the inverted-index candidate shape of
    * [[ngramJaccardPairs]] scored by
    * the OVERLAP COEFFICIENT |A∩B| / min(|A|,|B|) instead of Jaccard —
    * the containment metric, 1.0 when one set is a subset of the other,
    * which is exactly what a TRIMMED clip is to its source (Jaccard
    * punishes the trim by the length difference; containment doesn't).
    * Input rows are (id, key) with multiplicity ignored (set semantics:
    * the index is DISTINCT per owner); NULL keys are excluded (a corrupt
    * asset's sentinel row owns no keys). Returns
    * (id_a, id_b, n_shared, overlap) for pairs at overlap ≥ `minOverlap`.
    *
    * Scale shape: candidates come from the key equi-join — never an
    * all-pairs cross join (the gate's plan assert pins it);
    * `maxKeyFrequency` caps hot keys exactly like the n-gram df-cap
    * (set sizes stay exact, the intersection can only undercount, so
    * capped overlap is a lower bound). For video: feed it
    * (asset_id, frame hash) rows from [[Multimodal.frameSampleBatched]]
    * — on real footage the key is a per-frame perceptual hash (the
    * image dHash operator); on the synthetic fixture the frame's mean
    * luma IS its content law, and a checkerboard frame's gradient hash
    * is constant by construction, so the gate keys on mean_luma. */
  def setOverlapPairs(df: DataFrame, idCol: String, keyCol: String,
                      minOverlap: Double = 0.9,
                      maxKeyFrequency: Option[Int] = None): DataFrame = {
    val inv0 = df.filter(col(keyCol).isNotNull)
      .select(col(idCol).as("doc"), col(keyCol).as("k")).distinct()
      .persist()
    try {
      setOverlapPairsFrame(inv0, minOverlap, maxKeyFrequency)
        // eager materialization (pair-sized output) so the index cache
        // releases in the finally — the ngramJaccardPairs discipline
        .localCheckpoint(true)
    } finally inv0.unpersist()
  }

  /** INCREMENTAL set-measure ingest (the shared candidate chain behind
    * [[setOverlapIncremental]] and [[ngramJaccardIncremental]] — r15:
    * the two differ ONLY in the final measure, so one implementation
    * carries the cap/size/cache discipline): pair a NEW batch's
    * (id, key) rows against a PERSISTED key store — the
    * [[minhashIncremental]] shape for the set families (a nightly clip
    * ingest extracts frame keys for its new assets only and probes the
    * store's inverted index; the store is owner-carrying, so
    * [[compactStore]] GC applies). `finish` receives
    * (doc, store_doc, n_shared, n_a, n_b) candidate counts over
    * DISTINCT key sets and projects/thresholds the measure — identical
    * pair verdicts to the one-shot operator restricted to batch×store
    * (the replay law the gates check).
    *
    * Scale shape: candidates come from the batch-keys ⋈ store equi-join
    * (O(batch) probe rows against a ready table); the store-side set
    * sizes are an O(store) aggregate per call — persist them alongside
    * the store and pass `storeSizes` (a (doc, n_keys) frame, the
    * precomputed-artifact contract) to make the whole call O(batch).
    * `maxKeyFrequency` caps hot keys counted over batch + store rows
    * together, the cross-family cap contract. */
  private def setIncrementalImpl(batch: DataFrame, idCol: String, keyCol: String,
                                 store: DataFrame, storeIdCol: String, storeKeyCol: String,
                                 maxKeyFrequency: Option[Int],
                                 storeSizes: Option[DataFrame],
                                 // the store already holds DISTINCT (doc, key)
                                 // rows — true for any store maintained by this
                                 // ingest (each batch appends its distinct keys
                                 // under never-repeating doc ids), and it removes
                                 // the ONE remaining O(store) shuffle term: the
                                 // defensive dedup's exchange (SCALE.md r15 —
                                 // 2.16M of the 150k leg's 2.19M shuffled rows
                                 // were exactly this pass; the candidate join
                                 // itself broadcasts the batch side)
                                 storeKeysDistinct: Boolean)
                                (finish: DataFrame => DataFrame): DataFrame = {
    val nb0 = batch.filter(col(keyCol).isNotNull)
      .select(col(idCol).as("doc"), col(keyCol).as("k")).distinct()
      .persist()
    // materialize the batch keys BEFORE composing the joins: a
    // persisted-but-unmaterialized batch side makes the composed query
    // bypass the caches of persisted store-side frames and recompute
    // them wholesale — an O(store) shuffle hiding in a function sold as
    // O(batch) (SCALE.md r15: 2.16M of the 150k probe leg's shuffled
    // rows were exactly this; one batch-sized job restores cache hits
    // everywhere). Table-backed stores never hit this, cache-backed
    // callers do; the function is eager by contract either way.
    nb0.count()
    try {
      val cb1 = store.filter(col(storeKeyCol).isNotNull)
        .select(col(storeIdCol).as("store_doc"), col(storeKeyCol).as("k"))
      val cb0 = if (storeKeysDistinct) cb1 else cb1.distinct()
      // sizes from the UNCAPPED sides — min(|A|,|B|) must stay exact
      val nSizes = nb0.groupBy("doc").agg(count(lit(1)).as("n_a"))
      val sSizes = storeSizes
        .map(_.select(col(storeIdCol).as("store_doc"), col("n_keys").as("n_b")))
        .getOrElse(cb0.groupBy("store_doc").agg(count(lit(1)).as("n_b")))
      val (nb, cb) = maxKeyFrequency match {
        case None => (nb0, cb0)
        case Some(cap) =>
          // eager checkpoint on the capped path only — the hot list
          // feeds two anti-joins and exchange reuse does not collapse
          // the builds (the minhash/hamming cap lesson, SCALE.md r15)
          val hot = nb0.select("k").unionAll(cb0.select("k"))
            .groupBy("k").agg(count(lit(1)).as("__n"))
            .filter(col("__n") > cap).select("k")
            .localCheckpoint(true)
          (nb0.join(broadcast(hot), Seq("k"), "left_anti"),
            cb0.join(broadcast(hot), Seq("k"), "left_anti"))
      }
      val counts = nb.join(cb, Seq("k"))
        .groupBy("doc", "store_doc").agg(count(lit(1)).as("n_shared"))
        .join(nSizes, "doc")
        .join(sSizes, Seq("store_doc"))
      finish(counts).localCheckpoint(true)
    } finally nb0.unpersist()
  }

  /** CONTAINMENT measure over the shared ingest candidate chain —
    * overlap = |A∩B| / min(|A|,|B|); see the scaladoc above
    * [[setIncrementalImpl]] for the contract and scale shape. */
  def setOverlapIncremental(batch: DataFrame, idCol: String, keyCol: String,
                            store: DataFrame, storeIdCol: String, storeKeyCol: String,
                            minOverlap: Double = 0.9,
                            maxKeyFrequency: Option[Int] = None,
                            storeSizes: Option[DataFrame] = None,
                            storeKeysDistinct: Boolean = false): DataFrame =
    setIncrementalImpl(batch, idCol, keyCol, store, storeIdCol, storeKeyCol,
      maxKeyFrequency, storeSizes, storeKeysDistinct) { counts =>
      counts
        .withColumn("__ov",
          col("n_shared").cast(DoubleType) / least(col("n_a"), col("n_b")))
        .filter(col("__ov") >= minOverlap)
        .select(col("doc"), col("store_doc"), col("n_shared"),
          round(col("__ov"), 6).as("overlap"))
    }

  /** INCREMENTAL n-gram Jaccard ingest — [[ngramJaccardPairs]]' O(batch)
    * form, completing the family matrix: a batch of NEW documents is
    * shingled ONCE (fused WordShingles, hashed to 60-bit-injective
    * xxhash64 longs exactly like the one-shot) and probes the PERSISTED
    * corpus shingle-hash index (`store`: (doc, sh64) DISTINCT rows —
    * owner-carrying, so [[compactStore]] GC applies; maintained by
    * appending each batch's rows). Returns (doc, store_doc, jaccard) at
    * jaccard ≥ `threshold` over DISTINCT shingle sets — identical pair
    * verdicts to the batch [[ngramJaccardPairs]] restricted to
    * batch×store (the replay law the gate checks; note the ROUNDED
    * value is thresholded, matching the one-shot and its oracle).
    *
    * Scale shape: same candidate chain as [[setOverlapIncremental]]
    * (batch keys broadcast into the store probe; `storeSizes` = the
    * persisted (doc, n_keys) artifact removes the per-call store
    * aggregate; `maxKeyFrequency` is the cross-family hot-key cap);
    * only the measure differs — |A∩B| / (|A|+|B|−|A∩B|) instead of
    * containment. */
  def ngramJaccardIncremental(newDocs: DataFrame, idCol: String, textCol: String,
                              store: DataFrame, storeIdCol: String, storeKeyCol: String,
                              n: Int = 3, threshold: Double = 0.4,
                              maxKeyFrequency: Option[Int] = None,
                              storeSizes: Option[DataFrame] = None,
                              storeKeysDistinct: Boolean = false): DataFrame = {
    val batchKeys = newDocs.select(col(idCol),
        explode(org.apache.spark.sql.graft.VectorExpressions
          .wordShingles(col(textCol), n, distinct = true)).as("__s"))
      .select(col(idCol), xxhash64(col("__s")).as("__sh64"))
    setIncrementalImpl(batchKeys, idCol, "__sh64",
      store, storeIdCol, storeKeyCol,
      maxKeyFrequency, storeSizes, storeKeysDistinct) { counts =>
      counts
        .withColumn("jaccard",
          round(col("n_shared").cast(DoubleType) /
            (col("n_a") + col("n_b") - col("n_shared")), 6))
        .filter(col("jaccard") >= threshold)
        .select("doc", "store_doc", "jaccard")
    }
  }

  /** The corpus shingle-hash index behind [[ngramJaccardIncremental]]:
    * one (doc, sh64) row per distinct word n-gram per document — what
    * corpus ingest persists and appends to. */
  def ngramShingleIndex(df: DataFrame, idCol: String, textCol: String,
                        n: Int): DataFrame =
    df.select(col(idCol).as("doc"),
        explode(org.apache.spark.sql.graft.VectorExpressions
          .wordShingles(col(textCol), n, distinct = true)).as("__s"))
      .select(col("doc"), xxhash64(col("__s")).as("sh64"))

  /** The LAZY pair frame over a prepared (doc, k) DISTINCT inverted
    * index — split out so the plan-shape spec can assert the candidate
    * join on the real implementation (the public entry point's
    * localCheckpoint truncates its executedPlan to a scan, which would
    * make a plan assert on it vacuous — r15 review). */
  private[graft] def setOverlapPairsFrame(inv0: DataFrame, minOverlap: Double,
                                          maxKeyFrequency: Option[Int]): DataFrame = {
    // sizes from the UNCAPPED index — min(|A|,|B|) must stay exact
    val sizes = inv0.groupBy("doc").agg(count(lit(1)).as("n_keys"))
    val inv = maxKeyFrequency match {
      case Some(cap) =>
        val keep = inv0.groupBy("k").agg(count(lit(1)).as("__df"))
          .filter(col("__df") <= cap).select("k")
        inv0.join(keep, "k")
      case None => inv0
    }
    val common = inv.select(col("k"), col("doc").as("id_a"))
      .join(inv.select(col("k"), col("doc").as("id_b")), Seq("k"))
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("n_shared"))
    common
      .join(sizes.select(col("doc").as("id_a"), col("n_keys").as("n_a")), "id_a")
      .join(sizes.select(col("doc").as("id_b"), col("n_keys").as("n_b")), "id_b")
      // threshold on the UNROUNDED ratio (the oracle's predicate — a
      // rounded filter would admit pairs up to 5e-7 below minOverlap);
      // rounding is output formatting only
      .withColumn("__ov", col("n_shared").cast(DoubleType) / least(col("n_a"), col("n_b")))
      .filter(col("__ov") >= minOverlap)
      .select(col("id_a"), col("id_b"), col("n_shared"),
        round(col("__ov"), 6).as("overlap"))
  }

  /** Corpus-internal EXACT-substring dedup with excision (r10): any
    * n-token window that occurs more than once anywhere in the corpus is
    * kept at exactly ONE canonical occurrence and excised everywhere
    * else — the fixed-window form of suffix-array ExactSubstr dedup
    * (Lee et al. 2022, "Deduplicating Training Data Makes Language
    * Models Better" §4.1, public; reference analog: none — the engine's
    * training-data extension surface). Unlike document-level near-dup,
    * this removes the duplicated PASSAGE (license header, quoted reply,
    * syndicated paragraph) while keeping both documents.
    *
    * Canonical occurrence of a window = lexicographic min (id, start):
    * deterministic, and self-repetition inside one document keeps only
    * its first copy. A token position is excised iff some duplicated
    * window covering it lost its ownership contest; kept tokens are
    * rejoined by single spaces (the suite-wide token-stream contract).
    * Returns (id, clean_text, n_tokens, n_removed).
    *
    * Scale shape: windows shuffle ONCE keyed by a 128-bit window hash
    * (md5 — 64-bit would false-positive-merge distinct windows at
    * ~10⁹⁺ windows and excision must never eat unique text) for the
    * ownership aggregate; unique windows (the overwhelming majority) are
    * filtered out BEFORE the join back, so the owner join's build side
    * is duplicated-windows-only. No pair join anywhere: cost is
    * O(total windows) regardless of how hot a window is — a corpus of
    * one repeated sentence degrades to one big group, not n² pairs.
    * The rebuild collects LOSING window starts per doc (orders of
    * magnitude fewer rows than the token stream) and excises in one
    * fused codegen pass (ExciseWindows) — the original token-level
    * anti-join rebuild is the parity/oracle form (ParityReferences,
    * test tree). */
  def substringExcise(df: DataFrame, idCol: String, textCol: String,
                      n: Int): DataFrame =
    exciseByStarts(df, idCol, textCol,
      substringLoserStarts(df, idCol, textCol, n), n)

  /** The shared fused-rebuild plumbing of every excision op (r10 review
    * finding: three hand-maintained copies drift): collect the losing/
    * matched window starts per doc, run one ExciseWindows pass, unpack
    * the struct. NULL-text rows match the relational reference exactly —
    * clean_text coalesces to '' while the counts stay null (the null
    * struct's fields). */
  private[ops] def exciseByStarts(df: DataFrame, idCol: String, textCol: String,
                                  loserStarts: DataFrame, n: Int): DataFrame = {
    val starts = loserStarts
      .groupBy(col(idCol)).agg(collect_list(col("s")).as("starts"))
    df.select(col(idCol), col(textCol))
      .join(starts, Seq(idCol), "left")
      .select(col(idCol),
        org.apache.spark.sql.graft.VectorExpressions.exciseWindows(
          col(textCol),
          coalesce(col("starts"), array().cast(ArrayType(IntegerType))),
          n).as("__e"))
      .select(col(idCol),
        coalesce(col("__e.clean_text"), lit("")).as("clean_text"),
        col("__e.n_tokens").as("n_tokens"),
        col("__e.n_removed").as("n_removed"))
  }

  /** The (id, s) occurrences that LOSE their window's ownership contest —
    * shared by the fused and relational forms so both excise identical
    * position sets. */
  private[graft] def substringLoserStarts(df: DataFrame, idCol: String,
                                          textCol: String, n: Int): DataFrame = {
    val windows = df.select(col(idCol), posexplode(
      org.apache.spark.sql.graft.VectorExpressions
        .wordShingles(col(textCol), n, distinct = false)).as(Seq("s", "shingle")))
      .select(col(idCol), col("s"), md5(col("shingle")).as("h"))
    val owners = windows
      .groupBy("h")
      .agg(min(struct(col(idCol).as("oid"), col("s").as("os"))).as("own"),
        count(lit(1)).as("occ"))
      .filter(col("occ") > 1)
      .select(col("h"), col("own.oid").as("oid"), col("own.os").as("os"))
    windows.join(owners, Seq("h"))
      .filter(!(col(idCol) === col("oid") && col("s") === col("os")))
      .select(col(idCol), col("s"))
  }

  /** Incremental exact-substring excision (r10): excise a NEW batch
    * against a persisted window-hash store of the already-curated
    * corpus — the continuous-ingest companion of [[substringExcise]]
    * (same relationship as [[minhashIncremental]] to minhashLshPairs and
    * [[exactIncremental]] to exact). A batch window occurrence loses if
    * (a) its hash already exists in the corpus store — the corpus holds
    * the canonical copy — or (b) it is duplicated WITHIN the batch, is
    * not in the store, and is not the batch's own canonical occurrence
    * (lexicographic min (doc, start), exactly [[substringExcise]]'s
    * rule). Batch cost is O(batch windows), never O(corpus):
    * the store join probes corpus state without re-hashing it.
    *
    * `corpusWindows` is the persisted store with one md5 window-hash
    * column `hashCol` (produce new-batch store rows with
    * [[windowHashes]] after excision). Returns the same
    * (id, clean_text, n_tokens, n_removed) contract as substringExcise,
    * rebuilt through the fused ExciseWindows pass. */
  def substringExciseIncremental(batch: DataFrame, idCol: String,
                                 textCol: String, n: Int,
                                 corpusWindows: DataFrame,
                                 hashCol: String): DataFrame = {
    val windows = batch.select(col(idCol), posexplode(
      org.apache.spark.sql.graft.VectorExpressions
        .wordShingles(col(textCol), n, distinct = false)).as(Seq("s", "shingle")))
      .select(col(idCol), col("s"), md5(col("shingle")).as("h"))
    // NO distinct over the store (r10 review finding): left_semi and
    // left_anti are unaffected by duplicate hashes on the build side, and
    // a distinct here would shuffle-aggregate the ENTIRE persisted store
    // on every batch — the exact O(corpus) cost this op exists to avoid
    val store = corpusWindows.select(col(hashCol).as("h"))
    val inStore = windows.join(store, Seq("h"), "left_semi")
      .select(col(idCol), col("s"))
    val freshWindows = windows.join(store, Seq("h"), "left_anti")
    val owners = freshWindows
      .groupBy("h")
      .agg(min(struct(col(idCol).as("oid"), col("s").as("os"))).as("own"),
        count(lit(1)).as("occ"))
      .filter(col("occ") > 1)
      .select(col("h"), col("own.oid").as("oid"), col("own.os").as("os"))
    val batchLosers = freshWindows.join(owners, Seq("h"))
      .filter(!(col(idCol) === col("oid") && col("s") === col("os")))
      .select(col(idCol), col("s"))
    // inStore and batchLosers are disjoint by construction (losers come
    // from the anti-joined side) and coverage marking is idempotent, so
    // the union needs no dedup shuffle
    exciseByStarts(batch, idCol, textCol, inStore.union(batchLosers), n)
  }

  /** Distinct md5 window hashes of a corpus slice — the store-building
    * helper for [[substringExciseIncremental]] (append these rows to the
    * persisted window table after a batch lands). */
  def windowHashes(df: DataFrame, idCol: String, textCol: String,
                   n: Int): DataFrame =
    df.select(explode(
      org.apache.spark.sql.graft.VectorExpressions
        .wordShingles(col(textCol), n, distinct = true)).as("shingle"))
      .select(md5(col("shingle")).as("h"))
      .distinct()

  // ------------------------------------------------------ store GC (r12)

  /** OWNER-CARRYING window-hash store: (idCol, h) rows, hashes distinct
    * within each document — the garbage-collectable form of
    * [[windowHashes]]. [[substringExciseIncremental]] accepts it
    * unchanged (its membership joins are left_semi/left_anti on `h`, so
    * per-owner duplicate hashes change nothing), and [[compactStore]]
    * can drop a departed document's rows — impossible for the bare
    * distinct-hash set, where a hash shared between a deleted and a
    * surviving document must NOT be dropped (subtracting the deleted
    * docs' hashes over-deletes; the StoreCompaction spec pins the
    * difference). */
  def windowHashStore(df: DataFrame, idCol: String, textCol: String,
                      n: Int): DataFrame =
    df.select(col(idCol), explode(
      org.apache.spark.sql.graft.VectorExpressions
        .wordShingles(col(textCol), n, distinct = true)).as("shingle"))
      .select(col(idCol), md5(col("shingle")).as("h"))

  /** Owner-carrying content-fingerprint store — the GC-able feed for
    * [[exactIncremental]] (which projects + distincts the hash column,
    * so owners ride along for free). */
  def fingerprintStore(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.filter(col(textCol).isNotNull)
      .select(col(idCol), md5(col(textCol)).as("h"))

  /** Store maintenance: every persisted store the incremental ops
    * accumulate (signature store (doc, sig), band index, window-hash
    * store, fingerprint store) grows forever while documents are deleted
    * from the corpus. `compactStore` keeps only rows whose OWNING doc is
    * still live — one semi-join keyed on the owner id, O(store), no
    * store-wide aggregate, no text recompute. `live` is the current
    * corpus id set (or the change feed's surviving side); the spec pins
    * store-after-deletes+compact ≡ store-rebuilt-from-scratch. */
  def compactStore(store: DataFrame, ownerCol: String,
                   live: DataFrame, liveIdCol: String): DataFrame =
    store.join(live.select(col(liveIdCol).as(ownerCol)).distinct(),
      Seq(ownerCol), "left_semi")
      // USING joins surface the key column first; a maintenance op must
      // hand back the store's own column order (append-compatible)
      .select(store.columns.map(col).toSeq: _*)

  /** Change-feed form of [[compactStore]]: drop rows owned by the docs a
    * CDC delete batch names (one anti-join; same rebuild-equivalence
    * when `deleted` is exactly the departed id set). */
  def compactStoreByDeleted(store: DataFrame, ownerCol: String,
                            deleted: DataFrame, deletedIdCol: String): DataFrame =
    store.join(deleted.select(col(deletedIdCol).as(ownerCol)).distinct(),
      Seq(ownerCol), "left_anti")
      .select(store.columns.map(col).toSeq: _*)
}
