package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Lexical retrieval for corpus curation and RAG-style data pipelines:
  * an inverted POSTING INDEX as the persisted artifact, exact Okapi
  * BM25 top-k scored from it, and reciprocal-rank fusion of ranked
  * runs (the standard hybrid lexical+vector combiner).
  *
  * Public sources: BM25 per Robertson & Zaragoza 2009 ("The
  * Probabilistic Relevance Framework: BM25 and Beyond"), with the
  * non-negative idf variant ln(1 + (N − df + ½)/(df + ½)) that Lucene
  * popularized; reciprocal-rank fusion per Cormack, Clarke & Büttcher
  * 2009 (SIGIR), score = Σ_runs 1/(k₀ + rank). The reference engine has
  * no retrieval surface — this family belongs to the training-data-
  * pipeline side (retrieval-based curation, contamination review,
  * hybrid search over curated corpora).
  *
  * Scale shape: the index is one explode + (term, doc) partial-count —
  * embarrassingly parallel, and APPEND-ONLY additive under document
  * batches (new batches never repeat doc ids, so their posting rows are
  * disjoint from the store's: the ingest fold is a pure append, no
  * upsert, no rebuild). Scoring touches only the postings of the query
  * terms (one equi-join against a broadcast term set), never the whole
  * index; corpus-level constants (N, avgdl) ride a 1-row broadcast; the
  * per-query cut is the O(k)-state [[Similarity.rankTopK]] heap, not a
  * rank window. Hot query terms (stopwords) fan out by their document
  * frequency — the optional `maxDfFraction` elides terms seen in more
  * than that fraction of documents (classic df-based stopword pruning;
  * a semantic knob, off by default and off in every gate).
  */
object Retrieval {

  /** df/N above which a query term counts as a Zipf HEAD for the
    * regime-2 runtime guard in [[bm25TopK]] (r18): the SCALE.md r17
    * probe's planted stopword sat at ~100% df and straggled a
    * term-bucketed storage-partitioned join 1.8× on wall; real stopword
    * heads ("the", "of") sit well above a quarter of the corpus, while
    * legitimate content terms sit orders of magnitude below — 0.25
    * separates the two with a wide margin on either side. */
  val ZipfHeadFraction = 0.25

  /** Posting rows `(term, doc_id, tf, dl)` — one row per distinct
    * (term, document) pair with the term frequency and the document's
    * token length (denormalized onto the posting row, the Lucene-norms
    * layout, so scoring never joins back to a document table).
    * Tokenization is the engine-wide whitespace law
    * ([[TextAnalysis.tokens]]). Documents with no tokens produce no
    * postings (they can never match a query).
    *
    * ZERO-SHUFFLE build (r19): every (term, doc) group's rows come from
    * ONE document row, so the former explode → groupBy paid a
    * corpus-sized Exchange to aggregate data that never left its source
    * row (guide §2.4). [[org.apache.spark.sql.graft.TermCounts]] folds
    * the per-document term frequencies inside the scan task and the
    * explode emits finished posting rows — the index build is now a
    * narrow map over the documents. [[Dedup.ensureParallelism]] spreads
    * provably-tiny scans first (the local-gate case: without the old
    * groupBy Exchange the tokenize+count work would otherwise run on the
    * input's few parquet splits; a well-split big scan passes through
    * untouched). IndexBuildParity (RetrievalSpec) pins row-identity
    * against the groupBy form. */
  def postingIndex(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    Dedup.ensureParallelism(docs, idCol).select(col(idCol).as("doc_id"),
        TextAnalysis.tokens(col(textCol)).as("__toks"))
      .select(col("doc_id"), size(col("__toks")).cast(LongType).as("dl"),
        explode(org.apache.spark.sql.graft.VectorExpressions
          .termCounts(col("__toks"))).as("__tc"))
      .select(col("__tc.term").as("term"), col("doc_id"),
        col("__tc.tf").as("tf"), col("dl"))

  /** Document-length rows `(doc_id, dl)` — the corpus-statistics
    * artifact behind N and avgdl. Kept SEPARATE from the postings so
    * the 1-row stats aggregate scans two thin columns, not the index;
    * empty documents appear here (dl = 0) and count toward N/avgdl even
    * though they carry no postings. Append-only additive, like
    * [[postingIndex]]. */
  def docLengths(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).as("doc_id"),
      TextAnalysis.tokenCount(col(textCol)).cast(LongType).as("dl"))

  /** TERM-STATISTICS artifact `(term, df)` — per-term document
    * frequency for one document batch (r16): each document counts once
    * per distinct term it contains. ADDITIVE under the same
    * disjoint-doc-id law as the posting store: batches never repeat doc
    * ids, so per-batch df rows SUM to the corpus df — the store is
    * pure-append and serving aggregates only the query terms' rows.
    * Deletion is a negative append: `termStats(deletedDocs)` negated
    * folds the departed documents out exactly (the counting-CRDT form;
    * [[graft.ops.Dedup.compactStoreByDeleted]] does not apply — df
    * rows are term-owned, not doc-owned). Vocabulary-sized (Zipf-small
    * vs the corpus), so the serving-side probe is an artifact scan,
    * never an index pass. */
  def termStats(docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode(array_distinct(TextAnalysis.tokens(col(textCol))))
        .as("term"))
      .groupBy("term").agg(count(lit(1)).as("df"))

  /** Exact Okapi BM25 top-k per query, scored FROM the persisted
    * artifacts: score(q, d) = Σ_{t ∈ q} qtf(t) · idf(t) ·
    * tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl)), with
    * idf(t) = ln(1 + (N − df + ½)/(df + ½)) ≥ 0. Scores are rounded to
    * 6 decimals BEFORE ranking and ties break on the lower doc id, so
    * the rank-k cut is deterministic and oracle-portable. Returns
    * `(query_id, rank, doc_id, score)`, ≤ k rows per query — only
    * documents sharing at least one term with the query are candidates
    * (a document matching nothing scores 0 by definition and is never
    * materialized).
    *
    * Plan: query terms explode + per-(query, term) count → the DISTINCT
    * term set broadcasts against the postings (the only corpus-sized
    * scan, pruned to 4 columns); per-term document frequencies aggregate
    * from that already-filtered slice (exact — postings hold one row per
    * (term, doc)); N/avgdl ride a broadcast 1-row aggregate of the
    * doc-length artifact; the final cut is the O(k) heap aggregate.
    * `maxDfFraction` < 1 drops query terms with df > fraction·N before
    * candidate generation — the df-pruning knob for stopword-heavy
    * queries at corpus scale (changes semantics; default keeps all).
    * `precomputedTermStats` (r16) supplies df from the persisted
    * [[termStats]] artifact instead: the df aggregate disappears, the
    * index feeds exactly one consumer (one scan, no shared exchange),
    * and elision cuts hot terms before their postings are read at all
    * — the 100 TB serving plan when the ingest pipeline maintains the
    * additive stats store. */
  def bm25TopK(postings: DataFrame, docLens: DataFrame,
               queries: DataFrame, qIdCol: String, qTextCol: String,
               k: Int, k1: Double = 1.2, b: Double = 0.75,
               maxDfFraction: Double = 1.0,
               strategy: String = "broadcast",
               precomputedTermStats: Option[DataFrame] = None,
               acceptSkew: Boolean = false): DataFrame = {
    // Declared join regime for the query side (the lmSelectIngest
    // convention): "broadcast" pins the few-queries serving shape (the
    // term set and per-(query, term) rows ship to the postings);
    // "shuffle" keys the probe on the term for BATCH query workloads
    // whose term set exceeds the broadcast threshold — correct at any
    // query volume, one term-keyed exchange of the query side (the
    // postings shuffle too unless the store is bucketed on term, the
    // SCALE.md regime-2 answer).
    //
    // DEPLOYMENT CONTRACT, measured (SCALE.md r17): a TERM-bucketed
    // store puts a hot term's whole posting list in ONE bucket, and the
    // storage-partitioned join pins that bucket to one task — under a
    // planted Zipf head at 450k docs the knob-off bucketed regime ran
    // 43 s wall / 153 CPU (1.8× the wall of the unbucketed shuffle twin
    // on 3.7× LESS CPU — a pure straggler), Spark's partially-clustered
    // distribution did NOT absorb it (41 s, 2× shuffle from
    // replication), while maxDfFraction = 0.3 collapsed it to
    // 4 s / 49 CPU. Zipf-headed corpora served regime-2 from a
    // term-bucketed store MUST set maxDfFraction (or pre-strip
    // stopwords); the hazard is latency-shaped only — CPU stays below
    // the unbucketed twin either way. Since r18 the contract has
    // RUNTIME TEETH: with the stats artifact supplied and no elision
    // knob set, a shuffle-strategy serve fails loud (in-plan, O(query
    // terms)) on any query term with df > ZipfHeadFraction·N unless
    // acceptSkew = true.
    val side: DataFrame => DataFrame = strategy match {
      case "broadcast" => broadcast
      case "shuffle" => identity
      case other => throw new IllegalArgumentException(
        s"BM25 query-side join strategy must be broadcast|shuffle: $other")
    }
    val stats = docLens.agg(
      count(lit(1)).cast(DoubleType).as("__n"),
      avg(col("dl").cast(DoubleType)).as("__avgdl"))
    val qTerms = queries.select(col(qIdCol).as("query_id"),
        explode(TextAnalysis.tokens(col(qTextCol))).as("term"))
      .groupBy("query_id", "term").agg(count(lit(1)).as("qtf"))
    // df-elision prunes the TERM LIST, not the scored rows (r16): an
    // elided hot term's posting rows die at the first contrib join
    // below instead of riding three joins and the scoring arithmetic
    // just to be filtered at the end — on a Zipf corpus the stopword
    // fanout IS the candidate CPU, so the cut point matters.
    def elide(dfq: DataFrame): DataFrame =
      if (maxDfFraction >= 1.0) dfq
      else dfq.crossJoin(broadcast(stats))
        .filter(col("df").cast(DoubleType) <= lit(maxDfFraction) * col("__n"))
        .select("term", "df")
    val scoredInput = precomputedTermStats match {
      case Some(ts) =>
        // df from the PERSISTED additive artifact ([[termStats]] —
        // per-batch rows sum to the corpus df under the disjoint-doc-id
        // ingest law, so the store may hold one row per (batch, term)):
        // the query terms' rows aggregate from a vocabulary-sized scan,
        // elision happens BEFORE the index is touched at all (a
        // stopword's postings are never read, not even for a count),
        // and the index feeds exactly ONE consumer — no df aggregate,
        // no shared exchange, one scan, the deployed serving plan.
        // Caller contract: `ts` must describe exactly these postings
        // (a stale artifact silently shifts idf — fold them together).
        val dfq = ts.join(side(qTerms.select("term").distinct()), "term")
          .groupBy("term").agg(sum(col("df")).as("df"))
        // RUNTIME TEETH for the deployment contract above (r18 — VERDICT
        // r17 #2): under the shuffle regime the contract used to live in
        // scaladoc only — an uninformed deployment with a Zipf head paid
        // the measured straggler silently. With the stats artifact in
        // hand, a df head is detectable from the query terms' own rows —
        // O(query terms), and IN-PLAN (the engine's lazy-guard
        // discipline: per-row when/raise_error, zero extra jobs at
        // construction, fires at execution on the first offending term).
        // Elision (any maxDfFraction < the guard threshold) or an
        // explicit acceptSkew=true disarms it.
        val guarded =
          if (strategy != "shuffle" || acceptSkew ||
              maxDfFraction < 1.0) dfq // an explicit elision knob = contract read
          else dfq.crossJoin(broadcast(stats))
            .select(col("term"),
              when(col("df").cast(DoubleType) <=
                  lit(ZipfHeadFraction) * col("__n"), col("df"))
                .otherwise(raise_error(concat(
                  lit("BM25 regime-2 Zipf head: query term '"), col("term"),
                  lit("' has df="), col("df").cast(StringType),
                  lit(" of N="), col("__n").cast(org.apache.spark.sql.types.LongType)
                    .cast(StringType),
                  lit(s" docs (> ${(ZipfHeadFraction * 100).toInt}% of the " +
                    "corpus). Under strategy=\"shuffle\" a term-bucketed " +
                    "store pins this term's whole posting bucket to ONE " +
                    "task (a measured straggler — SCALE.md r17; AQE cannot " +
                    "split a KeyGrouped partition). Set maxDfFraction to " +
                    "elide saturated terms (the measured lever), or pass " +
                    "acceptSkew = true to serve it anyway."))))
                .as("df"))
        postings.join(side(elide(guarded)), "term")
      case None =>
        // Self-contained form: df computed from the touched slice. The
        // slice feeds TWO consumers (the df aggregate and the contrib
        // join); without a shared exchange each re-derives it — two
        // full scans of the corpus-sized posting index, which IS the
        // serving cost once the index dwarfs the candidates (r16: the
        // 150k probe spent ~2× index-scan CPU here). The explicit
        // repartition makes the subtrees share one physical exchange
        // (ReusedExchange): index scanned ONCE, only candidate rows
        // (Σ_t df(t) — batch-shaped) move. Keyed on (term, doc) rather
        // than term alone: a stopword's whole posting list on one key
        // would be the classic straggler. Under the bucketed-store
        // regime the join output is already candidates, so this never
        // exchanges store rows either.
        val touched = postings.join(side(qTerms.select("term").distinct()), "term")
          .repartition(col("term"), col("doc_id"))
        val dfPerTerm = touched.groupBy("term").agg(count(lit(1)).as("df"))
        touched.join(side(elide(dfPerTerm)), "term")
    }
    val contrib = scoredInput
      .join(side(qTerms), "term")
      .crossJoin(broadcast(stats))
      .withColumn("__idf",
        log(lit(1.0) + (col("__n") - col("df").cast(DoubleType) + lit(0.5)) /
          (col("df").cast(DoubleType) + lit(0.5))))
      .withColumn("__contrib",
        col("qtf").cast(DoubleType) * col("__idf") *
          (col("tf").cast(DoubleType) * lit(k1 + 1.0)) /
          (col("tf").cast(DoubleType) +
            lit(k1) * (lit(1.0) - lit(b) +
              lit(b) * col("dl").cast(DoubleType) / col("__avgdl"))))
    val scored = contrib.groupBy(col("query_id"), col("doc_id").as("neighbor_id"))
      .agg(round(sum(col("__contrib")), 6).as("score"))
    Similarity.rankTopK(scored, "score", k, ascending = false)
      .select(col("query_id"), col("rank"), col("neighbor_id").as("doc_id"),
        col("score"))
  }

  /** POSITIONAL posting rows `(term, doc_id, positions, dl)` — the
    * phrase-capable index layout: one row per distinct (term, document)
    * with the 1-based token positions in document order. Same
    * append-only additivity as [[postingIndex]] (new batches never
    * repeat doc ids); positions make exact-phrase verification a pure
    * array computation at serve time, no text re-scan. */
  def positionalIndex(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    Dedup.ensureParallelism(docs, idCol).select(col(idCol).as("doc_id"),
        TextAnalysis.tokens(col(textCol)).as("__toks"))
      .select(col("doc_id"), size(col("__toks")).cast(LongType).as("dl"),
        explode(org.apache.spark.sql.graft.VectorExpressions
          .termPositions(col("__toks"))).as("__tp"))
      .select(col("__tp.term").as("term"), col("doc_id"),
        col("__tp.positions").as("positions"), col("dl"))

  /** Exact-phrase matching from the positional index: a document
    * matches when some start position p has the phrase's i-th token at
    * p+i for every i. Returns `(query_id, doc_id, n_occurrences)` —
    * one row per matching document, counting distinct start positions.
    *
    * Plan: phrase tokens explode with their offsets; ONE equi-join
    * against the index on the term (broadcast phrase-term set — phrase
    * workloads are query-shaped); per (query, doc, offset) the position
    * list shifts by the offset, and the per-(query, doc) intersection
    * of the shifted lists IS the set of valid starts — a fold over at
    * most phrase-length arrays, never a positions self-join. A doc
    * missing ANY phrase term contributes fewer than m offsets and is
    * dropped by the completeness check.
    *
    * INDEX CONTRACT (ADVICE r18): each index row's `positions` array
    * must be ascending and duplicate-free — the [[positionalIndex]]
    * layout. The fused intersection fold is a sorted two-pointer merge;
    * an index with unsorted or duplicated positions silently undercounts
    * where the old order-insensitive array_intersect fold would not. */
  def phraseMatch(index: DataFrame, queries: DataFrame,
                  qIdCol: String, qTextCol: String): DataFrame = {
    val qTerms = queries.select(col(qIdCol).as("query_id"),
        posexplode(TextAnalysis.tokens(col(qTextCol))).as(Seq("off", "term")))
    val qLens = queries.select(col(qIdCol).as("query_id"),
      TextAnalysis.tokenCount(col(qTextCol)).as("m"))
    // the shift + intersection fold runs as ONE codegen'd expression over
    // the collected (off, positions) rows (r18 opt: the former per-row
    // `transform(positions, p − off)` and the `aggregate(collect_list,
    // array_intersect)` fold are interpreted higher-order lambdas on the
    // gate's hottest aggregate; PhraseStartCount computes the identical
    // intersection size via sorted two-pointer merges — parity-pinned)
    val matched = index.join(broadcast(qTerms), "term")
      .select(col("query_id"), col("doc_id"), col("off"), col("positions"))
    matched.groupBy("query_id", "doc_id")
      .agg(count(lit(1)).as("__n_offsets"),
        org.apache.spark.sql.graft.VectorExpressions.phraseStartCount(
          collect_list(struct(col("off"), col("positions"))))
          .as("__n_starts"))
      .join(broadcast(qLens), "query_id")
      // every phrase offset present AND at least one common start
      .filter(col("__n_offsets") === col("m") && col("__n_starts") > 0)
      .select(col("query_id"), col("doc_id"),
        col("__n_starts").cast(LongType).as("n_occurrences"))
  }

  /** Rank-quality evaluation of a retrieval run against relevance
    * judgments (the measurement half every retrieval deployment needs):
    * per query, the rank of the FIRST relevant hit within the top `k`,
    * its reciprocal rank (0 when no relevant document ranks ≤ k — the
    * standard MRR convention), the hit@k flag, AND the recall@k triple
    * (r16 — the r15-documented gap): `n_rel` distinct relevant
    * documents, `n_rel_retrieved` of them ranked ≤ k, and their
    * quotient `recall`. Aggregate MRR / success@k / recall@k are each
    * one `avg` over the result — avg(hit) is success@k, avg(recall) is
    * recall@k, and the two genuinely differ under multi-relevant qrels
    * (a query with 3 relevant docs and 1 retrieved scores hit=1,
    * recall=⅓). `run` carries (query_id, doc_id, rank); `qrels` carries
    * the relevant (query_id, doc_id) pairs — every distinct qrels query
    * gets a row, so unserved queries score 0 instead of silently
    * vanishing. Returns `(query_id, first_rel_rank, rr, hit, n_rel,
    * n_rel_retrieved, recall)`; rr/recall round to 6 decimals
    * (engine-portable). Pure k-bounded relational work: one equi-join
    * of the k·|queries| run against qrels, one aggregate per query side,
    * nothing corpus-sized. */
  def evalRun(run: DataFrame, qrels: DataFrame, k: Int): DataFrame = {
    val rel = qrels.select(col("query_id"), col("doc_id")).distinct()
    val hits = run.filter(col("rank") <= k)
      .join(rel, Seq("query_id", "doc_id"))
      .groupBy("query_id").agg(min(col("rank")).as("first_rel_rank"),
        count(lit(1)).as("__n_hit"))
    rel.groupBy("query_id").agg(count(lit(1)).as("n_rel"))
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"), col("first_rel_rank"),
        round(when(col("first_rel_rank").isNotNull,
          lit(1.0) / col("first_rel_rank").cast(DoubleType))
          .otherwise(lit(0.0)), 6).as("rr"),
        col("first_rel_rank").isNotNull.as("hit"),
        col("n_rel"),
        coalesce(col("__n_hit"), lit(0L)).as("n_rel_retrieved"),
        round(coalesce(col("__n_hit"), lit(0L)).cast(DoubleType) /
          col("n_rel").cast(DoubleType), 6).as("recall"))
  }

  /** Graded-relevance evaluation: nDCG@k (Järvelin & Kekäläinen 2002,
    * "Cumulated Gain-Based Evaluation of IR Techniques" — public; the
    * exponential-gain form Burges 2005 popularized). Per query:
    * DCG@k = Σ_{retrieved relevant, rank ≤ k} (2^grade − 1) / log₂(rank+1),
    * IDCG@k = the same sum over the ideal ordering (grades descending,
    * ties to the lower doc id, top k), nDCG = DCG/IDCG (0 when IDCG = 0 —
    * a query whose qrels carry no positive grade). This is the rung the
    * binary metrics can't express: recall@k treats a grade-3 and a
    * grade-1 document identically, so two runs with equal recall rank
    * DIFFERENTLY under nDCG when one surfaces the higher-graded document
    * earlier (RetrievalSpec pins exactly that discrimination).
    *
    * `run` carries (query_id, doc_id, rank); `qrels` carries (query_id,
    * doc_id, grade) with integer grades ≥ 0. Every distinct qrels query
    * gets a row (unserved queries score 0, the evalRun convention).
    * dcg/idcg/ndcg round to 6 decimals (engine-portable — the shared
    * ln-based discount is replayed expression-for-expression by the
    * DuckDB oracle, the BM25 arithmetic discipline). Scale shape: one
    * equi-join of the k-bounded run against qrels and one qrels-sized
    * window partitioned by query — nothing corpus-sized. */
  def ndcgAtK(run: DataFrame, qrels: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val rel = qrels.select(col("query_id"), col("doc_id"),
      col("grade").cast(LongType).as("grade")).distinct()
    def gain(g: Column): Column = pow(lit(2.0), g.cast(DoubleType)) - lit(1.0)
    def disc(rank: Column): Column =
      log(rank.cast(DoubleType) + lit(1.0)) / log(lit(2.0))
    val dcg = run.filter(col("rank") <= k)
      .join(rel, Seq("query_id", "doc_id"))
      .groupBy("query_id")
      .agg(sum(gain(col("grade")) / disc(col("rank"))).as("__dcg"))
    val ideal = rel
      .withColumn("__i", row_number().over(
        Window.partitionBy("query_id").orderBy(col("grade").desc, col("doc_id"))))
      .filter(col("__i") <= k)
      .groupBy("query_id")
      .agg(sum(gain(col("grade")) / disc(col("__i"))).as("__idcg"))
    ideal.join(dcg, Seq("query_id"), "left")
      .select(col("query_id"),
        round(coalesce(col("__dcg"), lit(0.0)), 6).as("dcg"),
        round(col("__idcg"), 6).as("idcg"),
        round(when(col("__idcg") > 0.0,
          coalesce(col("__dcg"), lit(0.0)) / col("__idcg"))
          .otherwise(lit(0.0)), 6).as("ndcg"))
  }

  /** Mean-average-precision inputs: per-query AP@k (the trec_eval
    * convention — Buckley & Voorhees's standard measure, public):
    * AP = Σ_{relevant hits at rank r ≤ k} P@r / n_rel, with
    * P@r = (relevant retrieved with rank ≤ r) / r and n_rel the query's
    * TOTAL relevant count (not capped at k — an unretrieved relevant
    * document costs recall here, unlike nDCG's ideal-top-k window).
    * MAP is one `avg(ap)` over the result. Returns `(query_id, n_rel,
    * n_rel_retrieved, ap)`, ap rounded to 6 decimals; every distinct
    * qrels query gets a row (unserved queries score 0). Same k-bounded
    * relational shape as [[evalRun]] — one join, one window over the
    * per-query hits, nothing corpus-sized. */
  def apAtK(run: DataFrame, qrels: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val rel = qrels.select(col("query_id"), col("doc_id")).distinct()
    val hits = run.filter(col("rank") <= k)
      .join(rel, Seq("query_id", "doc_id"))
      .withColumn("__i", row_number().over(
        Window.partitionBy("query_id").orderBy(col("rank"))))
      .groupBy("query_id")
      .agg(count(lit(1)).as("__n_hit"),
        sum(col("__i").cast(DoubleType) / col("rank").cast(DoubleType))
          .as("__p_sum"))
    rel.groupBy("query_id").agg(count(lit(1)).as("n_rel"))
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"), col("n_rel"),
        coalesce(col("__n_hit"), lit(0L)).as("n_rel_retrieved"),
        round(coalesce(col("__p_sum"), lit(0.0)) /
          col("n_rel").cast(DoubleType), 6).as("ap"))
  }

  /** Fail-loud staleness cross-check for the term-statistics artifact
    * (r17 — VERDICT r16 task 3, closing the one silent-wrong-answer path
    * of the deployed serving plan): Σ_term df(term) over the artifact
    * must equal the posting store's LIVE row count — each distinct
    * (term, doc) pair is exactly one posting row AND contributes exactly
    * 1 to its term's df, and the identity survives every maintenance
    * path (disjoint-doc-id appends add both sides equally; GC pairs a
    * row-level posting delete with a negative df append). A stats
    * artifact that missed a batch, double-folded one, or drifted from a
    * GC therefore CANNOT satisfy it.
    *
    * Cost: the artifact side is one scan of a vocabulary-sized table;
    * the posting side reads per-file row counts from the commit-log
    * manifest (minus merge-on-read dead rows) — O(manifest), no index
    * scan. A posting store whose manifest lacks per-file stats FAILS
    * LOUD (r18, VERDICT r17 #5): a silent fallback to a counting scan
    * would pay O(store) per serving build on a 100 TB store — the exact
    * shape the engine's lazy-guard discipline exists to prevent. Pass
    * `allowScan = true` to opt in to one exact counting scan instead.
    * The frame-input path of [[bm25TopK]] stays contract-only — a
    * caller handing raw DataFrames owns their consistency. */
  def requireFreshTermStats(rm: graft.relations.RelationManager,
                            statsRel: graft.core.Relation,
                            postingsRel: graft.core.Relation,
                            allowScan: Boolean = false): Unit = {
    val sumDf = rm.read(statsRel)
      .agg(coalesce(sum(col("df")), lit(0L)).as("s"))
      .collect()(0).getLong(0)
    val st = rm.currentState(postingsRel).getOrElse(
      throw new IllegalArgumentException(
        s"requireFreshTermStats: ${postingsRel.render} is not a commit-log table"))
    val postingRows = livePostingRows(rm, postingsRel, st, allowScan)
    require(sumDf == postingRows,
      s"term-stats artifact ${statsRel.render} is STALE vs posting store " +
        s"${postingsRel.render}: sum(df) = $sumDf but the store holds " +
        s"$postingRows live posting rows (the two must be equal — each " +
        "distinct (term, doc) pair is one posting row and one df unit). " +
        "Serving from this artifact would silently shift idf; re-fold the " +
        "stats store from the same batches as the postings.")
  }

  /** Live row count of a posting-store version from its manifest alone:
    * per-file row stats minus merge-on-read dead rows — O(manifest). */
  private def livePostingRows(rm: graft.relations.RelationManager,
                              postingsRel: graft.core.Relation,
                              st: graft.relations.TableVersion,
                              allowScan: Boolean): Long = {
    val perFile = st.files.map(f =>
      st.stats.get(f).flatMap(_.values.headOption).map(_.rows))
    if (perFile.nonEmpty && perFile.forall(_.isDefined))
      perFile.flatten.sum - st.deleteRows.values.sum
    else if (st.files.isEmpty) 0L
    else if (allowScan) rm.read(postingsRel).count() // opted-in exact scan
    else throw new IllegalStateException(
      s"requireFreshTermStats: ${postingsRel.render}'s manifest lacks " +
        "per-file row stats, so the O(manifest) live-row count is " +
        "unavailable — the fallback is one O(store) counting scan PER " +
        "SERVING BUILD. Pass allowScan = true to accept that cost, or " +
        "rewrite the store with stats collection enabled.")
  }

  /** Serving-side CROSS-STORE SNAPSHOT PIN (r18 — VERDICT r17 #5): one
    * consistent cut across the posting / doc-length / term-stats stores,
    * the Σdf == live-posting-rows invariant verified ON THE CUT, and
    * version-pinned readers back. Each store is individually
    * snapshot-isolated, but a serving query that resolves each at its
    * own time can interleave with a concurrent GC commit and compose
    * MIXED store generations — post-GC postings against pre-GC stats
    * silently shifts idf (the r17 stale-view bug class, one level down
    * at the storage layer). [[graft.relations.RelationManager
    * .snapshotVersions]]'s double-capture cut removes the interleaving;
    * a cut can still legitimately land INSIDE a mid-flight GC operation
    * (after the compensating append, before the paired deletes) —
    * point-in-time real but serving-inconsistent — so the invariant
    * check IS the isolation layer: an intra-operation cut fails it and
    * retries (GC statements commit in seconds; maxAttempts bounds the
    * wait). Cost per attempt: one vocabulary-sized stats scan + O(manifest)
    * metadata — no index scan. The returned frames keep their plan
    * properties through the pin (bucketed versions route through the V2
    * connector, so the regime-2 storage-partitioned join survives;
    * merge-on-read versions anti-merge their pinned delete attachments). */
  def pinnedBm25Stores(rm: graft.relations.RelationManager,
                       postingsRel: graft.core.Relation,
                       docLensRel: graft.core.Relation,
                       statsRel: graft.core.Relation,
                       maxAttempts: Int = 5)
      : (DataFrame, DataFrame, DataFrame) = {
    var attempt = 0
    while (attempt < maxAttempts) {
      val cut = rm.snapshotVersions(Seq(postingsRel, docLensRel, statsRel))
      val stats = rm.readPinned(statsRel, cut(statsRel))
      val sumDf = stats.agg(coalesce(sum(col("df")), lit(0L)).as("s"))
        .collect()(0).getLong(0)
      val st = rm.readVersion(postingsRel, cut(postingsRel))
      if (sumDf == livePostingRows(rm, postingsRel, st, allowScan = false))
        return (rm.readPinned(postingsRel, cut(postingsRel)),
          rm.readPinned(docLensRel, cut(docLensRel)),
          stats)
      attempt += 1
    }
    throw new IllegalStateException(
      s"pinnedBm25Stores: no serving-consistent cut across " +
        s"${postingsRel.render}/${docLensRel.render}/${statsRel.render} " +
        s"after $maxAttempts attempts — every captured cut fell inside a " +
        "mid-flight maintenance operation (Σdf != live posting rows). If " +
        "no GC is running, the stats artifact is genuinely stale: see " +
        "requireFreshTermStats.")
  }

  /** The gate family's shared query law — documents with id ≡ 0 (mod
    * `modulo`), query text = the first `prefixTokens` whitespace
    * tokens. ONE definition feeding the hand-composed gates, the
    * stream-ingest gate, and the example project's native (the oracle
    * mirrors it as a SQL constant), so a law change cannot silently
    * split the call sites (r15 s3 review catch). */
  def prefixQueries(docs: DataFrame, idCol: String, textCol: String,
                    modulo: Int, prefixTokens: Int): DataFrame =
    docs.filter(col(idCol) % modulo === 0)
      .select(col(idCol).as("query_id"),
        array_join(slice(TextAnalysis.tokens(col(textCol)), 1, prefixTokens),
          " ").as("qtext"))

  /** Library-shipped native-model functions for retrieval projects (the
    * CurationRecipe.installNatives pattern): a graft project declares
    * the posting-index/doc-length artifacts as TABLE models, a query
    * model, and BM25 serving as a ref-composed native — the
    * `examples/retrieval` project the q_retrieval_project gate builds
    * through the engine's own Runner. */
  def installNatives(): Unit = {
    import graft.core.NativeRegistry.register
    def one(deps: Map[String, DataFrame]): DataFrame = {
      require(deps.size == 1,
        "retrieval native needs exactly one source/ref dependency (the " +
          s"documents); got ${deps.keys.toSeq.sorted.mkString(", ")}")
      deps.values.head
    }
    register("retrieval_posting_index")((_, deps) =>
      postingIndex(one(deps), "doc_id", "text"))
    register("retrieval_doc_lengths")((_, deps) =>
      docLengths(one(deps), "doc_id", "text"))
    // the gate's query law: every 37th document's first 6 tokens
    register("retrieval_queries")((_, deps) =>
      prefixQueries(one(deps), "doc_id", "text", modulo = 37, prefixTokens = 6))
    // the term-stats artifact as a DAG node (r16) — serving reads df
    // from it instead of aggregating the touched postings (the
    // artifact-serving plan; bm25TopK's scaladoc has the trade)
    register("retrieval_term_stats")((_, deps) =>
      termStats(one(deps), "text"))
    register("retrieval_bm25_top10")((_, deps) =>
      bm25TopK(deps("postings"), deps("doc_lens"), deps("queries"),
        "query_id", "qtext", k = 10,
        precomputedTermStats =
          deps.get("term_stats").map(_.select("term", "df"))))

    // --- the INGEST project's stage fns (r16 — VERDICT task 1): the
    // nightly counterpart of the one-shot retrieval project, mirroring
    // examples/curation_incremental's discipline. `ri_feed` stamps the
    // two-generation event clock (2025-01-01 + doc_id%2 days); the
    // posting/doc-length stages are MICROBATCH models whose per-batch
    // output carries event_ts (the Runner's batch window filters both
    // the feed ref and the output frame), and their stores are
    // PURE-APPEND additive — each nightly batch commits one event-time
    // partition, never touching prior generations' files (the
    // q_retrieval_project_incremental gate proves it from the commit
    // log). The posting store declares an 8-bucket term layout
    // (meta.buckets in the project conf → the microbatch bootstrap
    // declaration), so the accumulated artifact is simultaneously
    // O(batch) to maintain and bucket-served at scale. Serving and the
    // query law are ordinary table models: df/N/avgdl legitimately
    // shift with every generation, so serving RECOMPUTES from the
    // accumulated stores by design.
    register("ri_feed") { (_, deps) =>
      one(deps).withColumn("event_ts",
        to_timestamp(date_add(
          to_date(lit(java.sql.Timestamp.from(
            java.time.Instant.parse("2025-01-01T00:00:00Z")))),
          (col("doc_id") % 2).cast("int"))))
    }
    register("ri_postings")((_, deps) =>
      postingIndex(deps("feed"), "doc_id", "text")
        .join(deps("feed").select("doc_id", "event_ts"), Seq("doc_id")))
    register("ri_doc_lens")((_, deps) =>
      docLengths(deps("feed"), "doc_id", "text")
        .join(deps("feed").select("doc_id", "event_ts"), Seq("doc_id")))
    register("ri_queries")((_, deps) =>
      prefixQueries(deps("feed"), "doc_id", "text",
        modulo = 37, prefixTokens = 6))
    // per-batch term stats keyed on the batch's event day — the
    // microbatch form of [[termStats]]: each generation's (term, df)
    // rows land in their own event-time partition (pure append), and
    // serving sums the query terms' rows across partitions (exact by
    // the disjoint-doc-id additivity law)
    register("ri_term_stats")((_, deps) =>
      deps("feed").select(col("event_ts"),
          explode(array_distinct(TextAnalysis.tokens(col("text")))).as("term"))
        .groupBy("event_ts", "term").agg(count(lit(1)).as("df")))
    register("ri_bm25_top10")((_, deps) =>
      bm25TopK(
        deps("postings").select("term", "doc_id", "tf", "dl"),
        deps("doc_lens").select("doc_id", "dl"),
        deps("queries"), "query_id", "qtext", k = 10,
        precomputedTermStats =
          deps.get("term_stats").map(_.select("term", "df"))))
    // regime-2 serving through the project (r17 — VERDICT task 2): the
    // posting store is bucket-declared at bootstrap precisely so batch
    // query workloads can join it WITHOUT broadcasting the query side —
    // the V2 read reports the store's KeyGroupedPartitioning, so the
    // storage-partitioned join streams store rows from their buckets
    // (one query-side exchange, no store-side exchange — the SCALE.md
    // regime-2 receipts). Same law, same oracle; only the join plan moves.
    register("ri_bm25_top10_shuffle")((_, deps) =>
      bm25TopK(
        deps("postings").select("term", "doc_id", "tf", "dl"),
        deps("doc_lens").select("doc_id", "dl"),
        deps("queries"), "query_id", "qtext", k = 10,
        strategy = "shuffle",
        precomputedTermStats =
          deps.get("term_stats").map(_.select("term", "df")),
        // the gate fixture's closed per-group vocabulary puts common
        // terms above the Zipf-head threshold by construction; eliding
        // them would change the scoring law the shared oracle replays,
        // and at gate scale the bucket pinning is not a straggler — the
        // documented opt-in, deliberately exercised here (the guard's
        // own spec covers the fail-loud path)
        acceptSkew = true))

    // --- the GC project's stage fns (r17 — VERDICT task 1): the
    // deletion-driven counterpart of examples/retrieval_incremental.
    // A curation pass drops documents (ids ≡ 1 mod 4 — the CDC feed
    // `rgc_deletions`, carrying text + event_ts so the compensating
    // term-stats append can re-derive each departed doc's distinct
    // terms); the SCHEDULED `gc_compact` operation then folds them out
    // of all three stores through the engine's own SQL DML (row-level
    // DELETE on postings/doc_lens, negative append on term_stats),
    // and serving recomputes over the survivors. The query law reads
    // survivors only, mirroring the survivor-rebuild oracle.
    register("rgc_deletions")((_, deps) =>
      deps("feed").filter(col("doc_id") % 4 === 1)
        .select("doc_id", "text", "event_ts"))
    register("rgc_queries")((_, deps) =>
      prefixQueries(deps("feed").filter(col("doc_id") % 4 =!= 1),
        "doc_id", "text", modulo = 37, prefixTokens = 6))
  }

  /** Reciprocal-rank fusion (Cormack et al. 2009): fuse any ranked runs
    * `(query_id, doc_id, rank)` into one top-k list by
    * rrf = Σ_runs 1/(k₀ + rank) — rank-based, so lexical BM25 scores and
    * vector cosines fuse without calibration. A document present in only
    * some runs contributes only those terms (the standard convention).
    * Scores round to 6 decimals before ranking, ties to the lower doc
    * id. Returns `(query_id, rank, doc_id, rrf)`.
    *
    * Scale shape: a union of k-bounded runs (each ≤ k·|queries| rows) →
    * one small groupBy sum → the O(k) heap cut. Nothing here touches a
    * corpus. */
  def rrfFuse(runs: Seq[DataFrame], k: Int, rrfK: Int = 60): DataFrame = {
    require(runs.nonEmpty, "rrfFuse needs at least one run")
    val normalized = runs.map(_.select(col("query_id"),
      col("doc_id").as("neighbor_id"),
      (lit(1.0) / (lit(rrfK.toDouble) + col("rank").cast(DoubleType)))
        .as("__r")))
    val scored = normalized.reduce(_ unionByName _)
      .groupBy("query_id", "neighbor_id")
      .agg(round(sum(col("__r")), 6).as("rrf"))
    Similarity.rankTopK(scored, "rrf", k, ascending = false)
      .select(col("query_id"), col("rank"), col("neighbor_id").as("doc_id"),
        col("rrf"))
  }
}
