package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Tables
import graft.ops.{Decontaminate, Dedup, Multimodal, Packing, Repetition, Sampling, Similarity, TextAnalysis => TA}

/** Training-data pipeline operators (builder prompt "beyond the reference"
  * set): dedup family, similarity search, text analysis, multimodal
  * plumbing. Each DuckDB oracle reproduces the exact same md5-derived
  * hashes and fold orders, so results are bit-comparable.
  */
object OpsQueries {

  def all: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---------------------------------------------------------- dedup
    "q_dedup_exact" -> ((s, d) => {
      Dedup.exact(Tables.documents(s, d), "doc_id", "text").orderBy("doc_id")
    }),

    "q_dedup_minhash_lsh" -> ((s, d) => {
      Dedup.minhashLshPairs(Tables.documents(s, d), "doc_id", "text",
        shingleLen = 5, k = 32, bands = 8, threshold = 0.5)
        .orderBy("doc_a", "doc_b")
    }),

    "q_dedup_simhash" -> ((s, d) => {
      Dedup.simhashPairs(Tables.documents(s, d), "doc_id", "text", maxHamming = 6)
        .orderBy("doc_a", "doc_b")
    }),

    // r15: SimHash under ingest — the TEXT modality riding the same
    // generic hamming machinery as the video/image fingerprints
    // (hammingIncremental is signature-agnostic): a batch of new doc
    // signatures probes the persisted signature store via the 4×15-bit
    // block equi-join, candidates-only verify. Signatures computed once
    // and pinned (the fingerprint-once ingest discipline).
    "q_dedup_simhash_incremental" -> ((s, d) => {
      val sigs = Dedup.simhashes(Tables.documents(s, d), "doc_id", "text")
        .localCheckpoint(true)
      Dedup.hammingIncremental(
        sigs.filter(col("doc") % 3 === 0), "doc", "sh",
        sigs.filter(col("doc") % 3 =!= 0), "doc", "sh",
        maxHamming = 6, nBlocks = Dedup.SimhashBlocks,
        blockBits = Dedup.SimhashBlockBits)
        .orderBy("doc", "store_doc")
    }),

    "q_dedup_ngram_jaccard" -> ((s, d) => {
      Dedup.ngramJaccardPairs(Tables.documents(s, d), "doc_id", "text",
        n = 3, threshold = 0.4)
        .orderBy("doc_a", "doc_b")
    }),

    "q_dedup_clusters" -> ((s, d) => {
      // pairwise near-dups → transitive dedup groups: connected components
      // over the MinHash pair graph; every doc labeled with its cluster's
      // min id, singletons with their own id, plus the cluster size —
      // "keep one per cluster" is then `component = doc`
      val docs = Tables.documents(s, d)
      val pairs = Dedup.minhashLshPairs(docs, "doc_id", "text",
        shingleLen = 5, k = 32, bands = 8, threshold = 0.5)
      val comp = Dedup.connectedComponents(pairs, "doc_a", "doc_b")
      val labeled = docs.select(col("doc_id").as("doc"))
        .join(comp.withColumnRenamed("node", "doc"), Seq("doc"), "left")
        .select(col("doc"), coalesce(col("component"), col("doc")).as("component"))
      val sizes = labeled.groupBy("component").agg(count(lit(1)).as("cluster_size"))
      labeled.join(sizes, "component")
        .select("doc", "component", "cluster_size").orderBy("doc")
    }),

    // r15: cluster maintenance under INGEST — the pair graph arrives in
    // two generations ((doc_a+doc_b) even first); generation 1 is
    // clustered once and only its star-forest ASSIGNMENT survives (a
    // months-long ingest never stores the raw pairs), then generation
    // 2's edges fold in through connectedComponentsIncremental: a
    // batch-sized contracted-graph star iteration plus one broadcast
    // remap over the store, no O(original pairs) term. The result must
    // be the one-shot clustering over ALL pairs — connectivity is the
    // only thing the assignment keeps, and it is enough.
    "q_dedup_clusters_incremental" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      // pair generation + the one-shot CC store are GATE SCAFFOLDING —
      // a nightly deployment reads both from persisted tables. Recorded
      // as build phase (r16) so the bench sidecar separates them from
      // the fold this gate exists to watch.
      val gen = pmod(col("doc_a") + col("doc_b"), lit(2))
      val (pairs, store) = GatePhases.build("q_dedup_clusters_incremental") {
        // pair generation is the expensive stage and both generations
        // read it — pin it once (pair-sized output)
        val p = Dedup.minhashLshPairs(docs, "doc_id", "text",
          shingleLen = 5, k = 32, bands = 8, threshold = 0.5)
          .localCheckpoint(true)
        (p, Dedup.connectedComponents(p.filter(gen === 0), "doc_a", "doc_b"))
      }
      val comp = Dedup.connectedComponentsIncremental(store, "node", "component",
        pairs.filter(gen =!= 0), "doc_a", "doc_b")
      val labeled = docs.select(col("doc_id").as("doc"))
        .join(comp.withColumnRenamed("node", "doc"), Seq("doc"), "left")
        .select(col("doc"), coalesce(col("component"), col("doc")).as("component"))
      val sizes = labeled.groupBy("component").agg(count(lit(1)).as("cluster_size"))
      labeled.join(sizes, "component")
        .select("doc", "component", "cluster_size").orderBy("doc")
    }),

    // quality-aware survivor selection: keep the highest-quality member
    // of each near-dup cluster, not the min id
    // r15: n-gram Jaccard under ingest — the last set family to get the
    // O(batch) form: new docs (doc ≡ 0 mod 3) are shingled once and
    // probe the persisted corpus shingle-hash index with the size
    // artifact, only the measure differing from the containment ingest
    // (shared candidate chain, setIncrementalImpl).
    "q_dedup_ngram_jaccard_incremental" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val store = Dedup.ngramShingleIndex(
        docs.filter(col("doc_id") % 3 =!= 0), "doc_id", "text", n = 3)
        .localCheckpoint(true)
      val sizes = store.groupBy("doc").agg(count(lit(1)).as("n_keys"))
      Dedup.ngramJaccardIncremental(
        docs.filter(col("doc_id") % 3 === 0), "doc_id", "text",
        store, "doc", "sh64", n = 3, threshold = 0.4,
        storeSizes = Some(sizes), storeKeysDistinct = true)
        .orderBy("doc", "store_doc")
    }),

    "q_dedup_keep_best" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val pairs = Dedup.minhashLshPairs(docs, "doc_id", "text",
        shingleLen = 5, k = 32, bands = 8, threshold = 0.5)
      val comp = Dedup.connectedComponents(pairs, "doc_a", "doc_b")
      val scored = docs.select(col("doc_id"),
        TA.qualityScore(col("text")).as("quality"))
      Dedup.keepBest(scored, "doc_id", "quality", comp)
        .orderBy("doc_id")
    }),

    // r15: SURVIVOR maintenance under ingest — documents with
    // doc_id ≡ 7 (mod 10) arrive later, along with every pair that
    // touches them plus the odd-sum pairs among the old docs; the store
    // is the one-shot keep-best over the first generation, then
    // keepBestIncremental folds the batch: contracted-graph CC fold,
    // broadcast root remap, and a rank window over ONLY the components
    // the batch touched. The result must equal the one-shot keep-best
    // over everything — a merge can dethrone the absorbing cluster's
    // survivor, which is exactly what the re-rank scope must catch.
    "q_dedup_keep_best_incremental" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val pairs = Dedup.minhashLshPairs(docs, "doc_id", "text",
        shingleLen = 5, k = 32, bands = 8, threshold = 0.5)
        .localCheckpoint(true)
      def isNew(c: org.apache.spark.sql.Column) = pmod(c, lit(10)) === 7
      val scored = docs.select(col("doc_id"),
        TA.qualityScore(col("text")).as("quality"))
      val gen1 = pairs.filter(!isNew(col("doc_a")) && !isNew(col("doc_b")) &&
        pmod(col("doc_a") + col("doc_b"), lit(2)) === 0)
      val gen2 = pairs.filter(isNew(col("doc_a")) || isNew(col("doc_b")) ||
        pmod(col("doc_a") + col("doc_b"), lit(2)) =!= 0)
      val store = Dedup.keepBest(
        scored.filter(!isNew(col("doc_id"))), "doc_id", "quality",
        Dedup.connectedComponents(gen1, "doc_a", "doc_b"))
      Dedup.keepBestIncremental(store, "doc_id", "quality",
        scored.filter(isNew(col("doc_id"))), gen2, "doc_a", "doc_b")
        .orderBy("doc_id")
    }),

    // cross-batch incremental dedup: docs ≡ 0 (mod 3) play the historical
    // corpus (fingerprint table); the rest arrive as the new batch
    "q_dedup_incremental" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val hist = docs.filter(col("doc_id") % 3 === 0).select(md5(col("text")).as("h"))
      Dedup.exactIncremental(docs.filter(col("doc_id") % 3 =!= 0), "doc_id", "text",
        hist, "h")
        .orderBy("doc_id")
    }),

    // r12: the same exact-dedup ingest behind a broadcast Bloom
    // pre-filter — definite-new rows bypass the store join; no false
    // negatives ⇒ identical output, same oracle
    "q_dedup_incremental_bloom" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val corpus = docs.filter(col("doc_id") % 3 === 0)
      val hist = corpus.select(md5(col("text")).as("h"))
      val bloom = Dedup.fingerprintBloom(hist, "h", expectedItems = 100000L)
      Dedup.exactIncrementalBloom(docs.filter(col("doc_id") % 3 =!= 0),
        "doc_id", "text", hist, "h", bloom)
        .orderBy("doc_id")
    }),

    // incremental NEAR-dup: the new batch (doc_id % 3 <> 0) against the
    // persisted signature table of the historical corpus (doc_id % 3 = 0)
    "q_dedup_minhash_incremental" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val corpusSigs = Dedup.minhashSignatures(
        docs.filter(col("doc_id") % 3 === 0), "doc_id", "text", shingleLen = 5, k = 32)
      Dedup.minhashIncremental(docs.filter(col("doc_id") % 3 =!= 0), "doc_id", "text",
        corpusSigs, "doc", "sig", shingleLen = 5, k = 32, bands = 8, threshold = 0.5)
        .orderBy("doc", "corpus_doc")
    }),

    // r12: the same incremental ingest through the PERSISTED band index
    // (band → doc artifact, one corpus explode amortized across every
    // future batch) — output must be identical to q_dedup_minhash_incremental,
    // and the oracle is literally the same SQL
    "q_dedup_minhash_from_index" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val corpusSigs = Dedup.minhashSignatures(
        docs.filter(col("doc_id") % 3 === 0), "doc_id", "text", shingleLen = 5, k = 32)
      val idx = Dedup.bandIndex(corpusSigs, "doc", "sig", bands = 8, k = 32)
      Dedup.minhashIncrementalFromIndex(docs.filter(col("doc_id") % 3 =!= 0),
        "doc_id", "text", idx, corpusSigs, "doc", "sig",
        shingleLen = 5, k = 32, bands = 8, threshold = 0.5)
        .orderBy("doc", "corpus_doc")
    }),

    // per-source token statistics with exact order statistics
    "q_corpus_stats" -> ((s, d) => {
      graft.ops.CorpusStats.tokenStatsBy(Tables.documents(s, d), "source", "text")
        .orderBy("source")
    }),

    // r13: approx order statistics — one percentile_approx aggregate,
    // no per-group rank sort; bit-identical to the exact ranks while
    // accuracy >= the largest group
    "q_corpus_stats_approx" -> ((s, d) => {
      graft.ops.CorpusStats.tokenStatsBy(Tables.documents(s, d), "source", "text",
        approx = true).orderBy("source")
    }),

    // r12: KMV distinct-count sketch — engine-portable md5-unit min-k
    // (k=16 < the fixture's closed 31-token vocabulary, so the (k−1)/u_k
    // estimator path is exercised, not just the exact-count fallback)
    "q_corpus_ndv_kmv" -> ((s, d) => {
      graft.ops.CorpusStats.kmvNdvBy(Tables.documents(s, d), "lang", "text",
        k = 16).orderBy("lang")
    }),

    "q_dedup_embedding" -> ((s, d) => {
      Similarity.embeddingDupPairs(Tables.embeddings(s, d), "vec_id", "embedding",
        threshold = 0.45, planes = 4, dims = 64)
        .orderBy("id_a", "id_b")
    }),

    // r12: SEMANTIC decontamination — train embeddings vs a broadcast
    // eval slice (vec_id % 50), max-cosine flag at 0.45
    "q_decontaminate_semantic" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      graft.ops.Decontaminate.flagSemanticOverlap(
        e.filter(col("vec_id") % 50 =!= 0), e.filter(col("vec_id") % 50 === 0),
        "vec_id", "embedding", threshold = 0.45)
        .orderBy("vec_id")
    }),

    // SemDeDup: IVF-cell-blocked pairwise cosine (seeded quantizer so
    // the oracle can reproduce the argmax assignment)
    "q_dedup_semantic" -> ((s, d) => {
      graft.ops.Ivf.semanticDedupPairs(Tables.embeddings(s, d), "vec_id", "embedding",
        threshold = 0.45, nCells = 8)
        .orderBy("id_a", "id_b")
    }),

    // r9: SemDeDup at 64 cells (k ≈ √n-scale blocking on this corpus),
    // through the fused big-k cell assignment the old literal-composed
    // quantizer couldn't reach
    "q_dedup_semantic_bigk" -> ((s, d) => {
      graft.ops.Ivf.semanticDedupPairs(Tables.embeddings(s, d), "vec_id", "embedding",
        threshold = 0.4, nCells = 64)
        .orderBy("id_a", "id_b")
    }),

    // ----------------------------------------------------- similarity
    "q_sim_topk_brute" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      Similarity.bruteForceTopK(e.filter(col("vec_id") < 10), e, "vec_id", "embedding", k = 5)
        .orderBy("query_id", "rank")
    }),

    "q_sim_topk_lsh" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      Similarity.lshTopK(e.filter(col("vec_id") < 10), e, "vec_id", "embedding",
        k = 5, planes = 6, dims = 64)
        .orderBy("query_id", "rank")
    }),

    // ------------------------------------------------ lexical retrieval
    // r15: exact Okapi BM25 top-10 from the posting-index artifact —
    // queries are the first 6 tokens of every 37th document, scored
    // against the whole corpus (the query's own document ranking high is
    // the expected near-dup-retrieval sanity signal, not excluded)
    "q_retrieval_bm25_topk" -> ((s, d) => {
      import graft.ops.Retrieval
      val docs = Tables.documents(s, d)
      val queries = Retrieval.prefixQueries(docs, "doc_id", "text",
        modulo = 37, prefixTokens = 6)
      Retrieval.bm25TopK(
        Retrieval.postingIndex(docs, "doc_id", "text"),
        Retrieval.docLengths(docs, "doc_id", "text"),
        queries, "query_id", "qtext", k = 10)
        .orderBy("query_id", "rank")
    }),

    // r15: the posting index under INGEST — documents arrive in two
    // generations (even ids first); because batches never repeat doc
    // ids, posting and doc-length rows are disjoint across batches and
    // the fold is a PURE APPEND (no upsert, no df/avgdl refresh — both
    // derive at query time from the folded artifacts). Scoring from the
    // appended store must equal the one-shot law (shared oracle).
    "q_retrieval_bm25_incremental" -> ((s, d) => {
      import graft.ops.Retrieval
      val docs = Tables.documents(s, d)
      val gen1 = docs.filter(col("doc_id") % 2 === 0)
      val gen2 = docs.filter(col("doc_id") % 2 =!= 0)
      val postStore = Retrieval.postingIndex(gen1, "doc_id", "text")
        .localCheckpoint(true)
      val dlStore = Retrieval.docLengths(gen1, "doc_id", "text")
        .localCheckpoint(true)
      val postings = postStore.unionByName(
        Retrieval.postingIndex(gen2, "doc_id", "text"))
      val docLens = dlStore.unionByName(
        Retrieval.docLengths(gen2, "doc_id", "text"))
      val queries = Retrieval.prefixQueries(docs, "doc_id", "text",
        modulo = 37, prefixTokens = 6)
      Retrieval.bm25TopK(postings, docLens, queries, "query_id", "qtext", k = 10)
        .orderBy("query_id", "rank")
    }),

    // r15 s3: serving from the PERSISTED bucketed store — the posting
    // index written as a term-bucketed graft table and scored through
    // the V2 read path with the shuffle strategy (the 100 TB batch-
    // serving composition the regime-2 probe measures). Same law as
    // every other BM25 gate; only the storage and join plan move.
    "q_retrieval_bm25_store" -> ((s, d) => {
      import graft.ops.Retrieval
      import graft.relations.RelationManager
      val docs = Tables.documents(s, d)
      val whDir = java.nio.file.Files.createTempDirectory("graft_bm25s_wh").toString
      val rm = new RelationManager(s, whDir)
      try {
        val postRel = graft.core.Relation("graft", "main", "postings_b")
        val dlRel = graft.core.Relation("graft", "main", "doc_lens")
        rm.writeBucketedTable(Retrieval.postingIndex(docs, "doc_id", "text"),
          postRel, 8, Seq("term"))
        rm.writeTable(Retrieval.docLengths(docs, "doc_id", "text"), dlRel)
        // MATERIALIZE before the finally deletes the temp warehouse
        Retrieval.bm25TopK(rm.read(postRel), rm.read(dlRel),
          Retrieval.prefixQueries(docs, "doc_id", "text",
            modulo = 37, prefixTokens = 6),
          "query_id", "qtext", k = 10, strategy = "shuffle")
          .orderBy("query_id", "rank")
          .localCheckpoint(true)
      } finally deleteDir(whDir)
    }),

    // r18: serving through the CROSS-STORE SNAPSHOT PIN — the three
    // stores read at one provably-coexistent cut with the Σdf serving
    // invariant verified ON the cut (pinnedBm25Stores), then the exact
    // BM25 law over the pinned frames. With no concurrent writer the
    // pinned serve must equal the unpinned one — the shared oracle IS
    // that statement; the concurrency semantics (a mid-query GC can no
    // longer shift idf/N; an intra-operation cut fails loud) are
    // RetrievalSpec's job.
    "q_retrieval_bm25_pinned" -> ((s, d) => {
      import graft.ops.Retrieval
      import graft.relations.RelationManager
      val docs = Tables.documents(s, d)
      val whDir = java.nio.file.Files.createTempDirectory("graft_bm25p_wh").toString
      val rm = new RelationManager(s, whDir)
      try {
        val postRel = graft.core.Relation("graft", "main", "postings_pin")
        val dlRel = graft.core.Relation("graft", "main", "doc_lens_pin")
        val tsRel = graft.core.Relation("graft", "main", "term_stats_pin")
        rm.writeBucketedTable(Retrieval.postingIndex(docs, "doc_id", "text"),
          postRel, 8, Seq("term"))
        rm.writeTable(Retrieval.docLengths(docs, "doc_id", "text"), dlRel)
        rm.writeTable(Retrieval.termStats(docs, "text"), tsRel)
        val (pp, pdl, pts) = Retrieval.pinnedBm25Stores(rm, postRel, dlRel, tsRel)
        Retrieval.bm25TopK(pp.select("term", "doc_id", "tf", "dl"),
          pdl.select("doc_id", "dl"),
          Retrieval.prefixQueries(docs, "doc_id", "text",
            modulo = 37, prefixTokens = 6),
          "query_id", "qtext", k = 10,
          precomputedTermStats = Some(pts.select("term", "df")))
          .orderBy("query_id", "rank")
          .localCheckpoint(true)
      } finally deleteDir(whDir)
    }),

    // r15 s3: the DECLARED shuffle regime for batch query workloads —
    // same scores as the broadcast path by construction (shared
    // oracle); the strategy only moves the join plan
    "q_retrieval_bm25_shuffle" -> ((s, d) => {
      import graft.ops.Retrieval
      val docs = Tables.documents(s, d)
      val queries = Retrieval.prefixQueries(docs, "doc_id", "text",
        modulo = 37, prefixTokens = 6)
      Retrieval.bm25TopK(
        Retrieval.postingIndex(docs, "doc_id", "text"),
        Retrieval.docLengths(docs, "doc_id", "text"),
        queries, "query_id", "qtext", k = 10, strategy = "shuffle")
        .orderBy("query_id", "rank")
    }),

    // r16: BM25 served with df from the PERSISTED term-statistics
    // artifact — per-batch (term, df) rows are ADDITIVE under the
    // disjoint-doc-id ingest law (each doc counts once per distinct
    // term), so the two generations' artifacts fold by pure append and
    // serving aggregates only the query terms' rows. The df aggregate
    // over the index disappears (one index scan, single consumer);
    // scores must equal the self-contained law (shared oracle).
    "q_retrieval_bm25_stats" -> ((s, d) => {
      import graft.ops.Retrieval
      val docs = Tables.documents(s, d)
      val statsStore = Retrieval.termStats(
          docs.filter(col("doc_id") % 2 === 0), "text")
        .unionByName(Retrieval.termStats(
          docs.filter(col("doc_id") % 2 =!= 0), "text"))
      val queries = Retrieval.prefixQueries(docs, "doc_id", "text",
        modulo = 37, prefixTokens = 6)
      Retrieval.bm25TopK(
        Retrieval.postingIndex(docs, "doc_id", "text"),
        Retrieval.docLengths(docs, "doc_id", "text"),
        queries, "query_id", "qtext", k = 10,
        precomputedTermStats = Some(statsStore))
        .orderBy("query_id", "rank")
    }),

    // r16 (VERDICT task 3): df-based stopword elision UNDER A ZIPF
    // HEAD — planted ultra-common tokens (zipfa on every doc → df ≈
    // 1.0·N, zipfb on half, zipfc on 5%) ride every query;
    // maxDfFraction = 0.3 drops the first two (and any base-vocabulary
    // term above the cut) BEFORE candidate generation, so hot terms
    // never fan out across their posting lists. The knob changes
    // semantics — this gate is what pins them (it was off in every
    // r15 gate); the oracle replays the identical df filter.
    "q_retrieval_bm25_stopword" -> ((s, d) => {
      import graft.ops.Retrieval
      val aug = Tables.documents(s, d).select(col("doc_id"), concat(
        col("text"), lit(" zipfa"),
        when(col("doc_id") % 2 === 0, lit(" zipfb")).otherwise(lit("")),
        when(col("doc_id") % 20 === 0, lit(" zipfc")).otherwise(lit("")))
        .as("ztext"))
      // every query carries all three hot terms plus 4 ordinary tokens
      // (plants append AFTER the text and every doc has ≥ 6 tokens, so
      // the first-4 slice of the planted text is the base prefix)
      val queries = aug.filter(col("doc_id") % 37 === 0)
        .select(col("doc_id").as("query_id"),
          concat(array_join(slice(TA.tokens(col("ztext")), 1, 4), " "),
            lit(" zipfa zipfb zipfc")).as("qtext"))
      Retrieval.bm25TopK(
        Retrieval.postingIndex(aug, "doc_id", "ztext"),
        Retrieval.docLengths(aug, "doc_id", "ztext"),
        queries, "query_id", "qtext", k = 10, maxDfFraction = 0.3)
        .orderBy("query_id", "rank")
    }),

    // r16 (VERDICT task 1): posting-store GC under document deletion —
    // the pure-append posting/doc-length artifacts NEVER FORGET on
    // their own: a curation pass that drops documents would leave their
    // postings serving forever. A CDC delete batch (docs ≡ 1 mod 4
    // leave) drives one anti-join per store (compactStoreByDeleted —
    // O(store), no text rescan). Because df AND N/avgdl shift when
    // docs leave, the oracle is SERVING EQUIVALENCE: BM25 from the
    // compacted stores must equal a rebuild over the survivors.
    "q_retrieval_compact" -> ((s, d) => {
      import graft.ops.{Dedup, Retrieval}
      val docs = Tables.documents(s, d)
      val deleted = docs.filter(col("doc_id") % 4 === 1).select("doc_id")
      val postings = Dedup.compactStoreByDeleted(
        Retrieval.postingIndex(docs, "doc_id", "text"), "doc_id",
        deleted, "doc_id")
      val docLens = Dedup.compactStoreByDeleted(
        Retrieval.docLengths(docs, "doc_id", "text"), "doc_id",
        deleted, "doc_id")
      val queries = Retrieval.prefixQueries(
        docs.filter(col("doc_id") % 4 =!= 1), "doc_id", "text",
        modulo = 37, prefixTokens = 6)
      Retrieval.bm25TopK(postings, docLens, queries, "query_id", "qtext",
        k = 10)
        .orderBy("query_id", "rank")
    }),

    // r16: posting-store GC through the ENGINE'S OWN SQL DML — the
    // production form of q_retrieval_compact: the stores live as graft
    // tables (postings term-bucketed), the CDC deletion runs as
    // `DELETE FROM` through the V2 row-level path (copy-on-write with
    // file pruning, time travel retained, bucket layout restaged), and
    // serving from the post-DML tables must equal the survivor-rebuild
    // law (same oracle — df/N/avgdl shift with the departed docs).
    "q_retrieval_compact_dml" -> ((s, d) => {
      import graft.ops.Retrieval
      import graft.relations.RelationManager
      val docs = Tables.documents(s, d)
      val whDir = java.nio.file.Files.createTempDirectory("graft_rgc_wh").toString
      val rm = new RelationManager(s, whDir)
      try {
        val postRel = graft.core.Relation("graft", "main", "postings_gc")
        val dlRel = graft.core.Relation("graft", "main", "doc_lens_gc")
        rm.writeBucketedTable(Retrieval.postingIndex(docs, "doc_id", "text"),
          postRel, 8, Seq("term"))
        rm.writeTable(Retrieval.docLengths(docs, "doc_id", "text"), dlRel)
        val cat = rm.catalogName
        s.sql(s"DELETE FROM $cat.main.postings_gc WHERE doc_id % 4 = 1")
        s.sql(s"DELETE FROM $cat.main.doc_lens_gc WHERE doc_id % 4 = 1")
        // the DML rewrite must keep the declared bucket routing — the
        // store still serves the regime-2 plan after GC
        val ps = rm.currentState(postRel).get
        require(ps.buckets == 8 &&
          ps.files.nonEmpty && ps.files.forall(_.contains("_bucket=")),
          s"bucket layout must survive the GC rewrite: ${ps.files.take(3)}")
        val queries = Retrieval.prefixQueries(
          docs.filter(col("doc_id") % 4 =!= 1), "doc_id", "text",
          modulo = 37, prefixTokens = 6)
        Retrieval.bm25TopK(rm.read(postRel), rm.read(dlRel), queries,
          "query_id", "qtext", k = 10)
          .orderBy("query_id", "rank")
          .localCheckpoint(true)
      } finally deleteDir(whDir)
    }),

    // r17: posting-store GC through MERGE-ON-READ — doc-keyed deletes
    // are the WORST case for a term-bucketed copy-on-write rewrite
    // (every bucket file holds some departed docs' postings → O(store)
    // rewrite; the 450k probe measured 4.4M shuffled rows and a full
    // 1024-file rewrite), while MoR writes positional delete files and
    // rewrites NOTHING (zero shuffle) at the price of the read-side
    // anti-merge. Same survivor-rebuild serving oracle; the gate also
    // asserts no data file was rewritten — the O(deleted-rows) claim.
    "q_retrieval_compact_mor" -> ((s, d) => {
      import graft.ops.Retrieval
      import graft.relations.RelationManager
      val docs = Tables.documents(s, d)
      val whDir = java.nio.file.Files.createTempDirectory("graft_rgm_wh").toString
      val rm = new RelationManager(s, whDir)
      try {
        val postRel = graft.core.Relation("graft", "main", "postings_mor")
        val dlRel = graft.core.Relation("graft", "main", "doc_lens_mor")
        // store build + GC DML are the BUILD phase (r18 — VERDICT r17
        // #9): the bench's mor_serve_total key watches the anti-merge
        // SERVING path over a delete-file-carrying store; the phases
        // sidecar splits the store setup out so a regression in the
        // serve-side anti-merge (~10-17% CPU, SCALE.md r17) is visible
        // on its own axis
        GatePhases.build("q_retrieval_compact_mor") {
          rm.writeBucketedTable(Retrieval.postingIndex(docs, "doc_id", "text"),
            postRel, 8, Seq("term"))
          rm.writeTable(Retrieval.docLengths(docs, "doc_id", "text"), dlRel)
          Seq(postRel, dlRel).foreach(r => rm.setTableProperties(r,
            Map("row_level_mode" -> "merge-on-read",
              "delete_compaction" -> "false")))
          val before = rm.currentState(postRel).get.files.toSet
          val cat = rm.catalogName
          s.sql(s"DELETE FROM $cat.main.postings_mor WHERE doc_id % 4 = 1")
          s.sql(s"DELETE FROM $cat.main.doc_lens_mor WHERE doc_id % 4 = 1")
          val ps = rm.currentState(postRel).get
          require(ps.files.toSet == before,
            "MoR GC must rewrite no posting data file")
          require(ps.deletes.nonEmpty,
            "MoR GC must attach positional delete files")
        }
        val queries = Retrieval.prefixQueries(
          docs.filter(col("doc_id") % 4 =!= 1), "doc_id", "text",
          modulo = 37, prefixTokens = 6)
        Retrieval.bm25TopK(rm.read(postRel), rm.read(dlRel), queries,
          "query_id", "qtext", k = 10)
          .orderBy("query_id", "rank")
          .localCheckpoint(true)
      } finally deleteDir(whDir)
    }),

    // r15 s3: exact-phrase matching from the POSITIONAL index — the
    // phrase's i-th token must sit at start+i; occurrences counted as
    // distinct start positions, verified by pure array intersection
    // (no text re-scan, no positions self-join on the engine side; the
    // oracle uses the 3-way positional join formulation)
    "q_retrieval_phrase" -> ((s, d) => {
      import graft.ops.Retrieval
      val docs = Tables.documents(s, d)
      val queries = docs.filter(col("doc_id") % 53 === 0)
        .filter(size(TA.tokens(col("text"))) >= 3)
        .select(col("doc_id").as("query_id"),
          array_join(slice(TA.tokens(col("text")), 1, 3), " ").as("qtext"))
      Retrieval.phraseMatch(
        Retrieval.positionalIndex(docs, "doc_id", "text"),
        queries, "query_id", "qtext")
        .orderBy("query_id", "doc_id")
    }),

    // r17: POSITIONAL-store GC under document deletion — the last store
    // family without a forgetting path: position rows are doc-owned, so
    // the same CDC anti-join (compactStoreByDeleted) applies; serving
    // equivalence against a survivor rebuild is the oracle (phrase
    // matching has no corpus statistics, so unlike BM25 the only thing
    // deletion can change is which documents match).
    "q_retrieval_phrase_compact" -> ((s, d) => {
      import graft.ops.{Dedup, Retrieval}
      val docs = Tables.documents(s, d)
      val deleted = docs.filter(col("doc_id") % 4 === 1).select("doc_id")
      val index = Dedup.compactStoreByDeleted(
        Retrieval.positionalIndex(docs, "doc_id", "text"), "doc_id",
        deleted, "doc_id")
      val surv = docs.filter(col("doc_id") % 4 =!= 1)
      val queries = surv.filter(col("doc_id") % 53 === 0)
        .filter(size(TA.tokens(col("text"))) >= 3)
        .select(col("doc_id").as("query_id"),
          array_join(slice(TA.tokens(col("text")), 1, 3), " ").as("qtext"))
      Retrieval.phraseMatch(index, queries, "query_id", "qtext")
        .orderBy("query_id", "doc_id")
    }),

    // r16: exact-phrase serving from the PERSISTED term-bucketed
    // positional store through the V2 read path — the regime-2
    // composition for the phrase family (the flat index got it in r15
    // s3 as q_retrieval_bm25_store). Same law as q_retrieval_phrase;
    // only the storage moves.
    "q_retrieval_phrase_store" -> ((s, d) => {
      import graft.ops.Retrieval
      import graft.relations.RelationManager
      val docs = Tables.documents(s, d)
      val whDir = java.nio.file.Files.createTempDirectory("graft_phs_wh").toString
      val rm = new RelationManager(s, whDir)
      try {
        val idxRel = graft.core.Relation("graft", "main", "positional_b")
        rm.writeBucketedTable(Retrieval.positionalIndex(docs, "doc_id", "text"),
          idxRel, 8, Seq("term"))
        val queries = docs.filter(col("doc_id") % 53 === 0)
          .filter(size(TA.tokens(col("text"))) >= 3)
          .select(col("doc_id").as("query_id"),
            array_join(slice(TA.tokens(col("text")), 1, 3), " ").as("qtext"))
        Retrieval.phraseMatch(rm.read(idxRel), queries, "query_id", "qtext")
          .orderBy("query_id", "doc_id")
          .localCheckpoint(true)
      } finally deleteDir(whDir)
    }),

    // r15 s3: retrieval evaluation — known-item search (each query's
    // relevant document is the one its text was cut from): per-query
    // first relevant rank, reciprocal rank, hit@10 from the BM25 run.
    // r16: plus the recall@k triple (n_rel = 1 here, so recall ≡ hit —
    // the multi-relevant discrimination lives in the _recall twin)
    "q_retrieval_eval" -> ((s, d) => {
      import graft.ops.Retrieval
      val docs = Tables.documents(s, d)
      val queries = Retrieval.prefixQueries(docs, "doc_id", "text",
        modulo = 37, prefixTokens = 6)
      val run = Retrieval.bm25TopK(
        Retrieval.postingIndex(docs, "doc_id", "text"),
        Retrieval.docLengths(docs, "doc_id", "text"),
        queries, "query_id", "qtext", k = 10)
      val qrels = queries.select(col("query_id"), col("query_id").as("doc_id"))
      Retrieval.evalRun(run, qrels, k = 10)
        .orderBy("query_id")
    }),

    // r16 (VERDICT task 4): recall@k under MULTI-RELEVANT qrels — each
    // query's relevant set is its source document plus the existing
    // neighbors at +1/+3 (the closed per-group vocabulary makes
    // neighbors genuine lexical near-matches, so partial retrieval
    // actually occurs). success@k (hit) and recall diverge here: a
    // query retrieving only its own doc scores hit=1, recall=⅓ — the
    // discrimination the known-item fixture can't express.
    "q_retrieval_eval_recall" -> ((s, d) => {
      import graft.ops.Retrieval
      val docs = Tables.documents(s, d)
      val queries = Retrieval.prefixQueries(docs, "doc_id", "text",
        modulo = 37, prefixTokens = 6)
      val run = Retrieval.bm25TopK(
        Retrieval.postingIndex(docs, "doc_id", "text"),
        Retrieval.docLengths(docs, "doc_id", "text"),
        queries, "query_id", "qtext", k = 10)
      val qrels = queries.select(col("query_id"))
        .withColumn("__off", explode(array(lit(0L), lit(1L), lit(3L))))
        .select(col("query_id"), (col("query_id") + col("__off")).as("doc_id"))
        .join(docs.select("doc_id"), Seq("doc_id")) // only docs that exist
        .select("query_id", "doc_id")
      Retrieval.evalRun(run, qrels, k = 10)
        .orderBy("query_id")
    }),

    // r17 (VERDICT task 6): GRADED relevance — nDCG@10 over the same
    // multi-relevant fixture with grades attached (source doc = 3,
    // +1 neighbor = 2, +3 neighbor = 1): DCG sums (2^g − 1)/log₂(r+1)
    // over retrieved relevant docs, IDCG over the ideal ordering, and
    // the quotient is the rank-position-sensitive number recall@k
    // cannot express (two runs with equal recall order differently
    // under nDCG when one surfaces the higher-graded doc earlier —
    // RetrievalSpec pins the discrimination on a closed fixture).
    "q_retrieval_eval_ndcg" -> ((s, d) => {
      import graft.ops.Retrieval
      val docs = Tables.documents(s, d)
      val queries = Retrieval.prefixQueries(docs, "doc_id", "text",
        modulo = 37, prefixTokens = 6)
      val run = Retrieval.bm25TopK(
        Retrieval.postingIndex(docs, "doc_id", "text"),
        Retrieval.docLengths(docs, "doc_id", "text"),
        queries, "query_id", "qtext", k = 10)
      val qrels = queries.select(col("query_id"))
        .withColumn("__off", explode(array(lit(0L), lit(1L), lit(3L))))
        .select(col("query_id"),
          (col("query_id") + col("__off")).as("doc_id"),
          // grade law: 0 → 3, 1 → 2, 3 → 1
          when(col("__off") === 0L, lit(3L))
            .when(col("__off") === 1L, lit(2L))
            .otherwise(lit(1L)).as("grade"))
        .join(docs.select("doc_id"), Seq("doc_id")) // only docs that exist
        .select("query_id", "doc_id", "grade")
      Retrieval.ndcgAtK(run, qrels, k = 10)
        .orderBy("query_id")
    }),

    // r17: MAP — per-query average precision at 10 over the same
    // multi-relevant fixture (trec_eval convention: Σ P@r over relevant
    // hits / TOTAL n_rel). The position-sensitivity complement to
    // recall@k within the binary-relevance regime, completing the eval
    // suite (MRR / success@k / recall@k / nDCG@k / AP@k).
    "q_retrieval_eval_map" -> ((s, d) => {
      import graft.ops.Retrieval
      val docs = Tables.documents(s, d)
      val queries = Retrieval.prefixQueries(docs, "doc_id", "text",
        modulo = 37, prefixTokens = 6)
      val run = Retrieval.bm25TopK(
        Retrieval.postingIndex(docs, "doc_id", "text"),
        Retrieval.docLengths(docs, "doc_id", "text"),
        queries, "query_id", "qtext", k = 10)
      val qrels = queries.select(col("query_id"))
        .withColumn("__off", explode(array(lit(0L), lit(1L), lit(3L))))
        .select(col("query_id"), (col("query_id") + col("__off")).as("doc_id"))
        .join(docs.select("doc_id"), Seq("doc_id"))
        .select("query_id", "doc_id")
      Retrieval.apAtK(run, qrels, k = 10)
        .orderBy("query_id")
    }),

    // r15: hybrid retrieval — reciprocal-rank fusion of the BM25 top-10
    // (first 8 tokens of docs 0–9 as queries) with the brute-force
    // cosine top-10 over the aligned embeddings (vec_id ≡ doc_id in the
    // fixture). Rank-based fusion needs no score calibration; the
    // vector run excludes self (bruteForceTopK's contract), the lexical
    // run does not — fusion is defined over whatever the runs return.
    "q_retrieval_hybrid_rrf" -> ((s, d) => {
      import graft.ops.Retrieval
      val docs = Tables.documents(s, d)
      val emb = Tables.embeddings(s, d)
      val queries = docs.filter(col("doc_id") < 10)
        .select(col("doc_id").as("query_id"),
          array_join(slice(TA.tokens(col("text")), 1, 8), " ").as("qtext"))
      val lexRun = Retrieval.bm25TopK(
        Retrieval.postingIndex(docs, "doc_id", "text"),
        Retrieval.docLengths(docs, "doc_id", "text"),
        queries, "query_id", "qtext", k = 10)
        .select("query_id", "doc_id", "rank")
      val vecRun = Similarity.bruteForceTopK(
        emb.filter(col("vec_id") < 10), emb, "vec_id", "embedding", k = 10)
        .select(col("query_id"), col("neighbor_id").as("doc_id"), col("rank"))
      Retrieval.rrfFuse(Seq(lexRun, vecRun), k = 10, rrfK = 60)
        .orderBy("query_id", "rank")
    }),

    // -------------------------------------------------- text analysis
    // ws = whitespace tokens; pre = word pre-tokens (the old regex
    // proxy); bpe = the REAL rank-ordered-merge BPE count (r9), which
    // the oracle replays merge-for-merge via a recursive CTE
    "q_text_tokens" -> ((s, d) => {
      // adversarial suffix planted on every 9th doc: words with runs of
      // the same merge pair (llll, banana, ...) — the case where a
      // replace-ALL oracle formulation diverges from the engine's
      // left-to-right sweep (r9 review finding; the raw fixture's 31
      // distinct words never exercise it)
      val aug = Tables.documents(s, d).withColumn("ptext",
        when(col("doc_id") % 9 === 0,
          concat(col("text"), lit(" llll banana needed papa cocoa success")))
          .otherwise(col("text")))
      aug.select(
        col("doc_id"),
        TA.tokenCount(col("ptext")).as("ws_tokens"),
        TA.bpeishTokenCount(col("ptext")).as("pre_tokens"),
        TA.bpeTokenCount(col("ptext")).as("bpe_tokens"))
        .orderBy("doc_id")
    }),

    "q_text_langid" -> ((s, d) => {
      Tables.documents(s, d).select(
        col("doc_id"), col("lang").as("declared_lang"),
        TA.stopwordScore(col("text"), "en").as("score_en"),
        TA.languageId(col("text")).as("predicted_lang"))
        .orderBy("doc_id")
    }),

    "q_text_quality" -> ((s, d) => {
      val feats = TA.qualityFeatures(col("text"))
      Tables.documents(s, d).select(
        (col("doc_id") +: feats.map { case (n, c) => round(c, 6).as(n) } :+
          TA.qualityScore(col("text")).as("quality")): _*)
        .orderBy("doc_id")
    }),

    "q_text_fingerprint" -> ((s, d) => {
      Tables.documents(s, d).select(
        col("doc_id"),
        TA.fingerprint(col("text")).as("fingerprint"))
        .orderBy("doc_id")
    }),

    // r9: declarable linear quality classifier (fastText/LR filter
    // shape) — the model is a (token, weight) RELATION + bias; the
    // weights here derive from the stopword tables (en positive, other
    // languages negative), merged per token like a trained model export
    "q_text_classifier" -> ((s, d) => {
      val s2 = s
      import s2.implicits._
      val weights = classifierWeights.toSeq.toDF("token", "weight")
      graft.ops.Classifier.linearScore(Tables.documents(s, d), "doc_id", "text",
        weights, bias = 0.0, threshold = 0.03)
        .orderBy("doc_id")
    }),

    // CCNet-style unigram LM surprise: corpus unigram distribution →
    // per-doc mean log-probability
    "q_text_unigram_logprob" -> ((s, d) => {
      TA.unigramLogProb(Tables.documents(s, d), "doc_id", "text")
        .orderBy("doc_id")
    }),

    // r10: interpolated bigram LM — Jelinek-Mercer over the corpus's
    // own bigram/unigram tables, lambda = 0.7
    "q_text_bigram_logprob" -> ((s, d) => {
      TA.bigramLogProb(Tables.documents(s, d), "doc_id", "text")
        .orderBy("doc_id")
    }),

    // r12: EXTERNAL LM scoring — logprob tables trained on a held slice
    // (doc_id % 3 == 0) declared as data, every doc scored against them
    // with OOV flooring; the model-as-artifact path CCNet actually runs
    // (a KenLM trained elsewhere), vs the self-scoring of bigram_logprob
    "q_text_lm_external" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val (uni, bi) = TA.lmTables(docs.filter(col("doc_id") % 3 === 0), "text")
      TA.externalLmLogProb(docs, "doc_id", "text", uni, bi)
        .orderBy("doc_id")
    }),

    // r14 (VERDICT task 6): the LM-join regime is now a DECLARED knob
    // (strategy = auto | broadcast | shuffle) instead of a caller-side
    // broadcast() hint — these two rows pin both regimes to the same
    // oracle (the join strategy is a plan choice, never a result choice;
    // SCALE.md probes both: O(batch) shuffle for broadcast vs the
    // vocab-dominated shuffle join, and the ~16M-row broadcast cliff)
    "q_text_lm_external_bcast" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val (uni, bi) = TA.lmTables(docs.filter(col("doc_id") % 3 === 0), "text")
      TA.externalLmLogProb(docs, "doc_id", "text", uni, bi,
        strategy = "broadcast")
        .orderBy("doc_id")
    }),
    "q_text_lm_external_shuffle" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val (uni, bi) = TA.lmTables(docs.filter(col("doc_id") % 3 === 0), "text")
      TA.externalLmLogProb(docs, "doc_id", "text", uni, bi,
        strategy = "shuffle")
        .orderBy("doc_id")
    }),

    // r12: CCNet head/middle/tail perplexity terciles PER LANGUAGE over
    // the external-LM scores — value-based rank cutoffs (ties take the
    // better bucket), unscoreable docs (0 bigrams) excluded
    "q_text_ppl_buckets" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val (uni, bi) = TA.lmTables(docs.filter(col("doc_id") % 3 === 0), "text")
      val scored = TA.externalLmLogProb(docs, "doc_id", "text", uni, bi)
        .filter(col("n_bigrams") > 0)
        .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
      TA.perplexityBuckets(scored, "doc_id", "lang", "avg_logprob_lm")
        .select("doc_id", "lang", "n_bigrams", "avg_logprob_lm",
          "perplexity", "ppl_bucket")
        .orderBy("doc_id")
    }),

    // r14: the exact-rank path, now OPT-IN (approx=false) — pins the
    // per-language rank-window twin that the approx default must stay
    // bit-identical to at gate scale (oracle: the same rank SQL)
    "q_text_ppl_buckets_exact" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val (uni, bi) = TA.lmTables(docs.filter(col("doc_id") % 3 === 0), "text")
      val scored = TA.externalLmLogProb(docs, "doc_id", "text", uni, bi)
        .filter(col("n_bigrams") > 0)
        .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
      TA.perplexityBuckets(scored, "doc_id", "lang", "avg_logprob_lm",
        approx = false)
        .select("doc_id", "lang", "n_bigrams", "avg_logprob_lm",
          "perplexity", "ppl_bucket")
        .orderBy("doc_id")
    }),

    // r13: the approx-cutoff path — per-language percentile_approx
    // aggregate instead of the per-language rank window (the 100 TB
    // shape: at web scale one language IS most of the corpus, so the
    // per-group sort has a single hot partition); bit-identical to the
    // exact rank while accuracy >= the largest language. As of r14
    // this is also the DEFAULT (q_text_ppl_buckets rides it with no
    // flag); kept as the explicit-knob pin.
    "q_text_ppl_buckets_approx" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val (uni, bi) = TA.lmTables(docs.filter(col("doc_id") % 3 === 0), "text")
      val scored = TA.externalLmLogProb(docs, "doc_id", "text", uni, bi)
        .filter(col("n_bigrams") > 0)
        .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
      TA.perplexityBuckets(scored, "doc_id", "lang", "avg_logprob_lm",
        approx = true)
        .select("doc_id", "lang", "n_bigrams", "avg_logprob_lm",
          "perplexity", "ppl_bucket")
        .orderBy("doc_id")
    }),

    // r12: Gopher document-quality rule battery over planted structure
    // (bullet lines on doc_id % 11, an ellipsis line on % 13, symbol/
    // non-alpha junk on % 17); paper thresholds except minStopTypes = 1
    // (the synthetic fixture's closed vocabulary carries one stop type)
    // and maxBulletFrac = 0.5 (the planted fractions sit at 0.6-0.75 —
    // below the paper's 0.9 — so the declared-threshold knob is what
    // makes the bullet rule fire at all on this fixture)
    "q_text_gopher_quality" -> ((s, d) => {
      val aug = Tables.documents(s, d).select(col("doc_id"),
        concat(col("text"),
          when(col("doc_id") % 11 === 0,
            lit("\n- bullet one\n- bullet two\n* bullet three")).otherwise(lit("")),
          when(col("doc_id") % 13 === 0,
            lit("\ntrailing thought...")).otherwise(lit("")),
          when(col("doc_id") % 17 === 0,
            lit(" ### #hash zz11 42")).otherwise(lit(""))).as("ptext"))
      TA.gopherQualityFlags(aug, "doc_id", "ptext",
        maxBulletFrac = 0.5, minStopTypes = 1)
        .orderBy("doc_id")
    }),

    // Gopher-style repetition profile (Rae et al. 2021 Table A1, token-
    // fraction analogs): explode + two-level groupBy, never a per-row
    // O(tokens × distinct) array scan
    "q_text_repetition" -> ((s, d) => {
      Repetition.ngramRepetition(Tables.documents(s, d), "doc_id", "text")
        .orderBy("doc_id")
    }),

    // corpus-level boilerplate: fraction of each doc's 3-gram windows
    // whose document frequency ≥ 5 across the corpus
    "q_text_boilerplate" -> ((s, d) => {
      Repetition.boilerplateProfile(Tables.documents(s, d), "doc_id", "text",
        n = 3, minDocFrequency = 5L)
        .orderBy("doc_id")
    }),

    // r10: corpus-internal exact-substring dedup — every duplicated
    // 8-token window keeps one canonical occurrence (min doc, then min
    // start) and is excised everywhere else (Lee et al. 2022 §4.1's
    // ExactSubstr, fixed-window form)
    "q_dedup_substring_excise" -> ((s, d) => {
      Dedup.substringExcise(Tables.documents(s, d), "doc_id", "text", n = 8)
        .select(col("doc_id"), md5(col("clean_text")).as("clean_md5"),
          col("n_tokens"), col("n_removed"))
        .orderBy("doc_id")
    }),

    // r10: edit-distance-verified fuzzy dedup — MinHash band candidates,
    // exact Levenshtein verdict within 16 edits. Both engines verify over
    // an ASCII projection of the text: Spark counts CODEPOINTS while
    // DuckDB counts BYTES ('é' vs 'e' is 1 vs 2 edits), so the gate pins
    // the candidate + verify machinery on a unit-agreed projection; the
    // operator itself is codepoint-exact (see its scaladoc)
    "q_dedup_edit_distance" -> ((s, d) => {
      val ascii = Tables.documents(s, d).select(col("doc_id"),
        regexp_replace(col("text"), "[^\\x00-\\x7F]", "?").as("text"))
      Dedup.editDistancePairs(ascii, "doc_id", "text",
        maxDistance = 16, shingleLen = 5, k = 32, bands = 8)
        .orderBy("doc_a", "doc_b")
    }),

    // r15: edit-distance-verified dedup under ingest — batch signatures
    // band-join the persisted corpus signature store (threshold 0: every
    // banded candidate reaches the verify), then the banded-DP
    // levenshtein runs on CANDIDATES ONLY against the corpus text table.
    "q_dedup_edit_distance_incremental" -> ((s, d) => {
      val ascii = Tables.documents(s, d).select(col("doc_id"),
        regexp_replace(col("text"), "[^\\x00-\\x7F]", "?").as("text"))
      val corpus = ascii.filter(col("doc_id") % 3 === 0)
      val corpusSigs = Dedup.minhashSignatures(corpus, "doc_id", "text",
        shingleLen = 5, k = 32)
      Dedup.editDistanceIncremental(
        ascii.filter(col("doc_id") % 3 =!= 0), "doc_id", "text",
        corpusSigs, "doc", "sig",
        corpus.select(col("doc_id").as("doc"), col("text")),
        maxDistance = 16, shingleLen = 5, k = 32, bands = 8)
        .orderBy("doc", "store_doc")
    }),

    // r12: store maintenance — the owner-carrying window-hash store of
    // the full corpus, compacted after docs ≡ 1 (mod 4) leave; the
    // contract (compaction ≡ rebuild from survivors) is what the oracle
    // recomputes. StoreCompactionSpec covers the shared-hash case and
    // the CDC-driven form.
    "q_dedup_compact_store" -> ((s, d) => {
      val docs = Tables.documents(s, d).select("doc_id", "text")
      val full = Dedup.windowHashStore(docs, "doc_id", "text", n = 8)
      val live = docs.filter(col("doc_id") % 4 =!= 1).select("doc_id")
      Dedup.compactStore(full, "doc_id", live, "doc_id")
        .orderBy("doc_id", "h")
    }),

    // r10: incremental substring excision — docs ≡ 0 (mod 3) play the
    // curated corpus (window-hash store); the rest arrive as the batch
    "q_dedup_substring_incremental" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val store = Dedup.windowHashes(
        docs.filter(col("doc_id") % 3 === 0), "doc_id", "text", n = 8)
      Dedup.substringExciseIncremental(
        docs.filter(col("doc_id") % 3 =!= 0), "doc_id", "text", n = 8,
        store, "h")
        .select(col("doc_id"), md5(col("clean_text")).as("clean_md5"),
          col("n_tokens"), col("n_removed"))
        .orderBy("doc_id")
    }),

    // r10: per-doc tf-idf keywords — top 3 terms per document, rounded
    // scores ranked with term-ascending ties
    "q_corpus_tfidf_terms" -> ((s, d) => {
      graft.ops.CorpusStats.tfidfTopTerms(Tables.documents(s, d), "doc_id", "text",
        k = 3)
        .orderBy(col("doc_id"), col("tfidf").desc, col("term"))
    }),

    // r10: line-level boilerplate excision (C4's "seen elsewhere" lines) —
    // the fixture is single-line, so multi-line docs are planted: a shared
    // subscribe/rights footer on doc_id%3 (df ≈ 167 ≥ 5 → stripped) and a
    // unique footnote on doc_id%5 (df = 1 → kept)
    "q_text_strip_boilerplate" -> ((s, d) => {
      val aug = Tables.documents(s, d).withColumn("ltext", concat(
        col("text"),
        when(col("doc_id") % 3 === 0,
          lit("\nsubscribe to our newsletter today\nall rights reserved acme corp"))
          .otherwise(lit("")),
        when(col("doc_id") % 5 === 0,
          concat(lit("\ndocument footnote "), col("doc_id").cast(StringType)))
          .otherwise(lit(""))))
      Repetition.stripBoilerplateLines(aug, "doc_id", "ltext", minDocFrequency = 5L)
        .select(col("doc_id"), md5(col("clean_text")).as("clean_md5"),
          col("n_lines"), col("n_removed"))
        .orderBy("doc_id")
    }),

    // r10: intra-doc line dedup — a refrain line planted twice inside
    // doc_id%6 (second copy dropped), a blank-line block on %9 (kept)
    "q_text_dedup_lines" -> ((s, d) => {
      val aug = Tables.documents(s, d).withColumn("ltext", concat(
        col("text"),
        when(col("doc_id") % 6 === 0,
          concat(lit("\nrepeated refrain line\nmiddle text "),
            col("doc_id").cast(StringType), lit("\nrepeated refrain line")))
          .otherwise(lit("")),
        when(col("doc_id") % 9 === 0, lit("\n\nafter blank")).otherwise(lit(""))))
      Repetition.dedupLinesWithinDoc(aug, "doc_id", "ltext")
        .select(col("doc_id"), md5(col("clean_text")).as("clean_md5"),
          col("n_lines"), col("n_removed"))
        .orderBy("doc_id")
    }),

    // r10: unicode canonicalization — planted decomposed accents (NFC
    // must compose), control characters, and no-break spaces; the md5
    // proves the normalized bytes, DuckDB's nfc_normalize (utf8proc)
    // replays the same UAX #15 transform
    "q_text_normalize" -> ((s, d) => {
      val aug = Tables.documents(s, d).withColumn("ptext", concat(
        col("text"),
        when(col("doc_id") % 4 === 0,
          lit(" cafe\u0301 re\u0301sume\u0301"))  // e + combining acute, NFD-shaped
          .otherwise(lit("")),
        when(col("doc_id") % 6 === 0,
          lit("\tctrl\u0007chars\u001Fhere")).otherwise(lit("")),
        when(col("doc_id") % 7 === 0,
          lit("\u00A0nbsp\u00A0\u00A0run  end ")).otherwise(lit(""))))
      aug.select(col("doc_id"),
        md5(TA.normalizeText(col("ptext"))).as("norm_md5"),
        length(TA.normalizeText(col("ptext"))).cast(LongType).as("n_chars"),
        (TA.normalizeText(col("ptext")) =!= col("ptext")).as("changed"))
        .orderBy("doc_id")
    }),

    // r15 s3: TRAIN a BPE merge table from the corpus (Sennrich 2016) —
    // 8 iterations of most-frequent-adjacent-pair over the word-
    // frequency table, ties to the lexicographically smaller pair. The
    // oracle replays each learned iteration with a marker-string
    // fixpoint replace over the same word-frequency table.
    "q_text_bpe_train" -> ((s, d) => {
      // adversarial plant on every 3rd doc: a 27-symbol run (odd, ≥ 5 —
      // the case where a replace-ALL oracle formulation diverges from
      // the engine's left-to-right sweep) + an alternating chain, so a
      // repeated-symbol merge is LEARNED and its apply law exercised
      val aug = Tables.documents(s, d).withColumn("ptext",
        when(col("doc_id") % 3 === 0,
          concat(col("text"), lit(" lllllllllllllllllllllllllll ababababa")))
          .otherwise(col("text")))
      TA.bpeTrainMerges(aug, "ptext", nMerges = 8)
        .orderBy("merge_rank")
    }),

    // r10: Zipf-head corpus profile — top-25 trigram phrases by
    // occurrence count with their document frequencies, tie-broken on
    // the phrase so the rank-25 cut is deterministic
    "q_corpus_topk_ngrams" -> ((s, d) => {
      graft.ops.CorpusStats.topNgrams(Tables.documents(s, d), "doc_id", "text",
        n = 3, k = 25)
    }),

    // r15: the Zipf-head profile under INGEST — documents arrive in two
    // generations (even ids first); the persisted n-gram count store
    // (occurrence + doc frequency, both additive across doc batches)
    // folds the second batch via the O(batch) upsert delta, and the
    // top-k cut over the store must equal the one-shot profile. No
    // sketch: the counts are exact by additivity.
    "q_corpus_topk_ngrams_incremental" -> ((s, d) => {
      import graft.ops.CorpusStats
      val docs = Tables.documents(s, d)
      val store = CorpusStats.ngramCountStore(
        docs.filter(col("doc_id") % 2 === 0), "doc_id", "text", n = 3)
        .localCheckpoint(true)
      val delta = CorpusStats.ngramCountsDelta(store,
        CorpusStats.ngramCountStore(
          docs.filter(col("doc_id") % 2 =!= 0), "doc_id", "text", n = 3))
      val merged = store.join(delta.select("ngram"), Seq("ngram"), "left_anti")
        .select("ngram", "freq", "doc_freq")
        .unionByName(delta)
      CorpusStats.topNgramsFromStore(merged, k = 25)
    }),

    // r17: the count store FORGETS — deletion is the negated fold (the
    // counting-CRDT law, now a library helper: `negated` + the same
    // upsert delta that ingests a batch). Fully departed n-grams fold
    // to zero and are dropped by the compaction cut; the top-k over the
    // folded store must equal a survivor rebuild.
    "q_corpus_topk_ngrams_forget" -> ((s, d) => {
      import graft.ops.CorpusStats
      val docs = Tables.documents(s, d)
      val store = CorpusStats.ngramCountStore(docs, "doc_id", "text", n = 3)
        .localCheckpoint(true)
      val departing = CorpusStats.negated(
        CorpusStats.ngramCountStore(docs.filter(col("doc_id") % 4 === 1),
          "doc_id", "text", n = 3), "freq", "doc_freq")
      val delta = CorpusStats.ngramCountsDelta(store, departing)
      val merged = store.join(delta.select("ngram"), Seq("ngram"), "left_anti")
        .select("ngram", "freq", "doc_freq")
        .unionByName(delta)
        .filter(col("freq") > 0) // compaction cut: fully departed keys
      CorpusStats.topNgramsFromStore(merged, k = 25)
    }),

    // r17: the CMS FORGETS — counters are linear, so merging the
    // departing docs' negated sketch yields exactly the survivor
    // sketch; estimates must replay the survivor-corpus law.
    "q_corpus_cms_forget" -> ((s, d) => {
      import graft.ops.CorpusStats
      val docs = Tables.documents(s, d)
      val surv = docs.filter(col("doc_id") % 4 =!= 1)
      val sk = CorpusStats.cmsMerge(4, 2048,
        CorpusStats.cmsSketch(docs, "text", depth = 4, width = 2048)
          .localCheckpoint(true),
        CorpusStats.negated(
          CorpusStats.cmsSketch(docs.filter(col("doc_id") % 4 === 1), "text",
            depth = 4, width = 2048), "cnt"))
      val probes = surv.filter(col("doc_id") % 101 === 0)
        .select(explode(TA.tokens(col("text"))).as("tok"))
      val exact = surv.select(explode(TA.tokens(col("text"))).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("exact_freq"))
      CorpusStats.cmsEstimate(sk, probes, "tok")
        .join(exact, Seq("tok"), "left")
        .select(col("tok"), col("est_freq"),
          coalesce(col("exact_freq"), lit(0L)).as("exact_freq"))
        .orderBy("tok")
    }),

    // r17: the HISTOGRAM FORGETS — bin counts are additive integers, so
    // the negated-fold quantiles must equal a survivor rebuild (zeroed
    // bins shift no rank).
    "q_corpus_hist_forget" -> ((s, d) => {
      import graft.ops.CorpusStats
      val docs = Tables.documents(s, d)
      def sk(f: org.apache.spark.sql.DataFrame) =
        CorpusStats.histogramSketch(
          f.select((TA.tokenCount(col("text")).cast(LongType) * col("doc_id"))
            .as("v")), "v")
      CorpusStats.histogramQuantiles(
        CorpusStats.histogramMerge(2,
          sk(docs).localCheckpoint(true),
          CorpusStats.negated(sk(docs.filter(col("doc_id") % 4 === 1)), "cnt")),
        Seq(0.5, 0.9, 0.99))
        .orderBy("q")
    }),

    // r15 s3: count-min sketch — the BOUNDED-MEMORY tier of the
    // frequency family (depth × width counters forever vs the
    // vocabulary-sized exact store). Estimates replay exactly in DuckDB
    // (row-salted md5-prefix buckets, integer min) and never
    // undercount: the gate emits est vs exact side by side.
    "q_corpus_cms_estimate" -> ((s, d) => {
      import graft.ops.CorpusStats
      val docs = Tables.documents(s, d)
      val sk = CorpusStats.cmsSketch(docs, "text", depth = 4, width = 2048)
      val probes = docs.filter(col("doc_id") % 101 === 0)
        .select(explode(TA.tokens(col("text"))).as("tok"))
      val exact = docs.select(explode(TA.tokens(col("text"))).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("exact_freq"))
      CorpusStats.cmsEstimate(sk, probes, "tok")
        .join(exact, Seq("tok"), "left")
        .select(col("tok"), col("est_freq"),
          coalesce(col("exact_freq"), lit(0L)).as("exact_freq"))
        .orderBy("tok")
    }),

    // r15 s3: the CMS under INGEST — counters are additive, so the
    // two-generation fold through cmsMerge must estimate identically to
    // the one-shot sketch (shared oracle law; exact by integer
    // additivity, no refresh pass)
    "q_corpus_cms_incremental" -> ((s, d) => {
      import graft.ops.CorpusStats
      val docs = Tables.documents(s, d)
      val sk = CorpusStats.cmsMerge(4, 2048,
        CorpusStats.cmsSketch(docs.filter(col("doc_id") % 2 === 0), "text",
          depth = 4, width = 2048).localCheckpoint(true),
        CorpusStats.cmsSketch(docs.filter(col("doc_id") % 2 =!= 0), "text",
          depth = 4, width = 2048))
      val probes = docs.filter(col("doc_id") % 101 === 0)
        .select(explode(TA.tokens(col("text"))).as("tok"))
      val exact = docs.select(explode(TA.tokens(col("text"))).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("exact_freq"))
      CorpusStats.cmsEstimate(sk, probes, "tok")
        .join(exact, Seq("tok"), "left")
        .select(col("tok"), col("est_freq"),
          coalesce(col("exact_freq"), lit(0L)).as("exact_freq"))
        .orderBy("tok")
    }),

    // r16: the QUANTILE tier of the sketch family — decimal log-binned
    // histogram of the corpus's ws-token counts (string-shape binning:
    // (digit count, first 2 digits) — bit-exact in every engine, unlike
    // floor(log2) which flips at exact powers in IEEE), quantile = the
    // lower bound of the bin holding rank ⌈q·N⌉. Bounded at ≤ 90 bins
    // per decade forever; values under 100 are EXACT.
    "q_corpus_hist_quantiles" -> ((s, d) => {
      import graft.ops.CorpusStats
      // value law: token count × doc_id — the fixture's raw counts are
      // all < 100 where 2-lead-digit bins are EXACT, so the product
      // spreads the distribution across ~6 decades and the gate
      // actually exercises the approximate binning (r12 lesson:
      // estimator gates must reach the estimator); doc_id = 0 lands in
      // the zero bin
      val vals = Tables.documents(s, d)
        .select((TA.tokenCount(col("text")).cast(LongType) * col("doc_id"))
          .as("v"))
      CorpusStats.histogramQuantiles(
        CorpusStats.histogramSketch(vals, "v"), Seq(0.5, 0.9, 0.99))
        .orderBy("q")
    }),

    // r16: the histogram under INGEST — bin counts are additive over
    // disjoint batches (decimal shapes partition the value space), so
    // the two-generation fold must answer identically to the one-shot
    // sketch (shared oracle; exact by integer additivity)
    "q_corpus_hist_incremental" -> ((s, d) => {
      import graft.ops.CorpusStats
      val docs = Tables.documents(s, d)
      def sk(f: org.apache.spark.sql.DataFrame) =
        CorpusStats.histogramSketch(
          f.select((TA.tokenCount(col("text")).cast(LongType) * col("doc_id"))
            .as("v")), "v")
      CorpusStats.histogramQuantiles(
        CorpusStats.histogramMerge(2,
          sk(docs.filter(col("doc_id") % 2 === 0)).localCheckpoint(true),
          sk(docs.filter(col("doc_id") % 2 =!= 0))),
        Seq(0.5, 0.9, 0.99))
        .orderBy("q")
    }),

    // r16: the per-STRATUM histogram — quantiles by language, the
    // actual dataset-card shape (tokenStatsBy's sketch tier); the cum
    // window partitions by the stratum so no global sort exists
    "q_corpus_hist_by_lang" -> ((s, d) => {
      import graft.ops.CorpusStats
      val vals = Tables.documents(s, d).select(col("lang"),
        (TA.tokenCount(col("text")).cast(LongType) * col("doc_id")).as("v"))
      CorpusStats.histogramQuantilesBy(
        CorpusStats.histogramSketchBy(vals, "lang", "v"), Seq(0.5, 0.99))
        .select(col("grp").as("lang"), col("q"), col("est_value"))
        .orderBy("lang", "q")
    }),

    // benchmark decontamination: docs ≡ 0 (mod 97) act as the eval set;
    // every remaining training doc reports its distinct shared-4-gram
    // count (0 for clean — no silent absence) + the contamination flag
    // r9: span-level decontamination — excise the leaked windows, keep
    // the document (Lee et al. 2022 §6's surgical variant)
    "q_decontaminate_excise" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val bench = docs.filter(col("doc_id") % 97 === 0)
      val train = docs.filter(col("doc_id") % 97 =!= 0)
      graft.ops.Decontaminate.exciseOverlap(train, bench, "doc_id", "text", n = 4)
        .select(col("doc_id"), md5(col("clean_text")).as("clean_md5"),
          col("n_tokens"), col("n_removed"))
        .orderBy("doc_id")
    }),

    "q_decontaminate" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Decontaminate.flagOverlap(
        docs.filter(col("doc_id") % 97 =!= 0),
        docs.filter(col("doc_id") % 97 === 0),
        "doc_id", "text", n = 4, minOverlap = 1)
        .orderBy("doc_id")
    }),

    // r15: decontamination under BENCHMARK-REGISTRY growth — the bench
    // docs arrive as two suites (even multiples of 97 first); the ledger
    // is flagOverlap over suite 1, then suite 2 folds in against the
    // persisted corpus shingle INDEX and the accumulated bench shingle
    // set: fresh shingles only (the anti-join makes per-doc increments
    // partition the union's distinct-shingle overlap), one index probe,
    // no corpus-text rescan. Result ≡ the one-shot flag over the union.
    "q_decontaminate_incremental" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val corpus = docs.filter(col("doc_id") % 97 =!= 0)
      val gen1 = docs.filter(col("doc_id") % 194 === 0)
      val gen2 = docs.filter(col("doc_id") % 97 === 0 && col("doc_id") % 194 =!= 0)
      val index = Decontaminate.corpusShingleIndex(corpus, "doc_id", "text", n = 4)
        .localCheckpoint(true)
      val benchStore = Decontaminate
        .corpusShingleIndex(gen1, "doc_id", "text", n = 4)
        .select("shingle").distinct()
      val ledger = Decontaminate.flagOverlap(corpus, gen1,
        "doc_id", "text", n = 4, minOverlap = 1)
      val (updated, _) = Decontaminate.flagOverlapIncremental(
        ledger, "doc_id", index, benchStore, gen2, "text", n = 4,
        minOverlap = 1)
      updated.orderBy("doc_id")
    }),

    // PII scrub: the fixture corpus is PII-free, so deterministic emails/
    // phones/IPs are planted first (same arithmetic in the oracle) — the
    // md5 of the redacted text proves the scrub byte-for-byte
    "q_text_pii" -> ((s, d) => {
      import graft.ops.PiiRedact
      val aug = Tables.documents(s, d).withColumn("ptext", concat(
        col("text"),
        when(col("doc_id") % 5 === 0,
          concat(lit(" contact user"), col("doc_id").cast(StringType),
            lit("@example.com"))).otherwise(lit("")),
        when(col("doc_id") % 7 === 0,
          concat(lit(" call 555-"), (col("doc_id") % 900 + 100).cast(StringType),
            lit("-4567"))).otherwise(lit("")),
        when(col("doc_id") % 11 === 0,
          concat(lit(" from 192.168."), (col("doc_id") % 256).cast(StringType),
            lit("."), (col("doc_id") % 100).cast(StringType))).otherwise(lit(""))))
      val cnts = PiiRedact.counts(col("ptext"))
      aug.select((col("doc_id") +: cnts.map { case (n, c) => c.as(n) } :+
        md5(PiiRedact.redact(col("ptext"))).as("redacted_md5")): _*)
        .orderBy("doc_id")
    }),

    // r10: C4-style word-blocklist filter — blocked tokens planted on
    // doc_id%13/%17, list joined as data, clean docs report 0
    "q_text_blocklist" -> ((s, d) => {
      val s2 = s
      import s2.implicits._
      val aug = Tables.documents(s, d).withColumn("ptext", concat(
        col("text"),
        when(col("doc_id") % 13 === 0, lit(" badword1 normal badword2"))
          .otherwise(lit("")),
        when(col("doc_id") % 17 === 0, lit(" badword1")).otherwise(lit(""))))
      val blocklist = Seq("badword1", "badword2", "badword3").toDF("word")
      TA.wordBlocklist(aug, "doc_id", "ptext", blocklist, "word")
        .orderBy("doc_id")
    }),

    // C4-style domain blocklist: URLs planted deterministically (the
    // fixture is URL-free), hosts extracted by capture group, blocked
    // domains counted and the keep verdict derived
    "q_text_urls" -> ((s, d) => {
      import graft.ops.PiiRedact
      val blocked = (0 until 10).map(i => s"spam$i.example.com")
      val aug = Tables.documents(s, d).withColumn("utext", concat(
        col("text"),
        when(col("doc_id") % 6 === 0,
          concat(lit(" see https://spam"), (col("doc_id") % 10).cast(StringType),
            lit(".example.com/page"))).otherwise(lit("")),
        when(col("doc_id") % 15 === 0,
          lit(" ref http://ok.test.org/a?x=1")).otherwise(lit(""))))
      aug.select((col("doc_id") +:
        PiiRedact.urlProfile(col("utext"), blocked).map { case (n, c) => c.as(n) }): _*)
        .orderBy("doc_id")
    }),

    // weighted domain mixture: per-source deterministic keep fractions
    // (keep all of src0, 75% of src1, … 10% of everything else)
    "q_mix_sources" -> ((s, d) => {
      Sampling.weightedMix(Tables.documents(s, d), "source", "doc_id",
        Map("src0" -> 1.0, "src1" -> 0.75, "src2" -> 0.5, "src3" -> 0.25),
        defaultWeight = 0.1)
        .select("doc_id", "source").orderBy("doc_id")
    }),

    // r9: temperature-scaled mixing (p_i ∝ n_i^α) — the fixture's
    // natural sources are uniform (25 docs each), which would make any
    // α a no-op, so the query derives a SKEWED source column from the
    // id and rebalances it at α = 0.5; small sources survive ~whole,
    // the dominant one downsamples hardest
    "q_mix_temperature" -> ((s, d) => {
      val docs = Tables.documents(s, d).withColumn("src",
        when(col("doc_id") % 16 < 8, "web")
          .when(col("doc_id") % 16 < 12, "books")
          .when(col("doc_id") % 16 < 14, "wiki")
          .when(col("doc_id") % 16 < 15, "code")
          .otherwise("papers"))
      Sampling.temperatureMix(docs, "src", "doc_id",
        alpha = 0.5, totalFraction = 0.5)
        .select("doc_id", "src").orderBy("doc_id")
    }),

    // r12: token-denominated temperature mixing — same source split,
    // fractions derived from TOKEN mass instead of doc counts
    "q_mix_temperature_tokens" -> ((s, d) => {
      val docs = Tables.documents(s, d).withColumn("src",
        when(col("doc_id") % 16 < 8, "web")
          .when(col("doc_id") % 16 < 12, "books")
          .when(col("doc_id") % 16 < 14, "wiki")
          .when(col("doc_id") % 16 < 15, "code")
          .otherwise("papers"))
        .withColumn("n_tokens", TA.tokenCount(col("text"))
          .cast(org.apache.spark.sql.types.LongType))
      Sampling.temperatureMixByTokens(docs, "src", "doc_id", "n_tokens",
        alpha = 0.5, totalFraction = 0.5)
        .select("doc_id", "src", "n_tokens").orderBy("doc_id")
    }),

    // r9 composed pipeline v2: the round's new operators chained in one
    // lazy plan — markup strip → linear-classifier keep → context-length
    // chunking — the same compose-bit-exactly proof q_curation_pipeline
    // gives the r8 suite
    "q_curation_pipeline_v2" -> ((s, d) => {
      val s2 = s
      import s2.implicits._
      val aug = Tables.documents(s, d).withColumn("mtext", concat(
        when(col("doc_id") % 4 === 0, lit("<div class=\"post\"><p>")).otherwise(lit("")),
        col("text"),
        when(col("doc_id") % 4 === 0, lit("</p></div>")).otherwise(lit("")),
        when(col("doc_id") % 6 === 0, lit(" &amp; more &lt;raw&gt;  text")).otherwise(lit(""))))
      val clean = aug.select(col("doc_id"), TA.stripMarkup(col("mtext")).as("ctext"))
      val weights = classifierWeights.toSeq.toDF("token", "weight")
      val kept = clean.join(
        graft.ops.Classifier.linearScore(clean, "doc_id", "ctext", weights,
          bias = 0.0, threshold = 0.03)
          .filter(col("keep")).select("doc_id"),
        "doc_id")
      Packing.chunkByTokens(kept, "doc_id", "ctext", chunkTokens = 32, overlapTokens = 8)
        .orderBy("doc_id", "chunk_id")
    }),

    // r10: third composed pipeline — the order a real web-corpus pass
    // runs the new operators: line-level boilerplate excision first
    // (needs the line structure), unicode canonicalization second
    // (collapses the newlines it no longer needs), corpus-internal
    // exact-substring excision last (over canonical bytes). One lazy
    // plan; the oracle replays all three stages.
    "q_curation_pipeline_v3" -> ((s, d) => {
      val aug = Tables.documents(s, d).withColumn("ltext", concat(
        col("text"),
        when(col("doc_id") % 4 === 0,
          lit(" cafe\u0301 finale"))  // decomposed, NFC must compose it
          .otherwise(lit("")),
        when(col("doc_id") % 3 === 0,
          lit("\nsubscribe to our newsletter today\nall rights reserved acme corp"))
          .otherwise(lit("")),
        when(col("doc_id") % 5 === 0,
          concat(lit("\ndocument footnote "), col("doc_id").cast(StringType)))
          .otherwise(lit(""))))
      val lineClean = Repetition.stripBoilerplateLines(aug, "doc_id", "ltext",
          minDocFrequency = 5L)
        .select(col("doc_id"), col("clean_text"))
      val norm = lineClean.select(col("doc_id"),
        TA.normalizeText(col("clean_text")).as("ntext"))
      Dedup.substringExcise(norm, "doc_id", "ntext", n = 8)
        .select(col("doc_id"), md5(col("clean_text")).as("final_md5"),
          col("n_tokens"), col("n_removed"))
        .orderBy("doc_id")
    }),

    // r12: fuzzy-dedup pipeline v4 — the verify-then-cluster loop
    // COMPOSED as one lazy plan: minhash-banded candidates → banded-DP
    // edit-distance verify (on the unit-agreed ASCII projection; DuckDB
    // levenshtein counts bytes) → connected components over VERIFIED
    // pairs only → quality-aware survivor per cluster. Composition is
    // where edge rows historically drifted (r10 review caught 3), hence
    // the full DuckDB reproduction rather than per-stage gates alone.
    "q_curation_pipeline_v4" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val ascii = docs.select(col("doc_id"),
        regexp_replace(col("text"), "[^\\x00-\\x7F]", "?").as("text"))
      val verified = Dedup.editDistancePairs(ascii, "doc_id", "text",
        maxDistance = 16, shingleLen = 5, k = 32, bands = 8)
      val comp = Dedup.connectedComponents(verified, "doc_a", "doc_b")
      val scored = docs.select(col("doc_id"),
        TA.qualityScore(col("text")).as("quality"))
      val kept = Dedup.keepBest(scored, "doc_id", "quality", comp)
      val sizes = kept.groupBy("component").agg(count(lit(1)).as("cluster_size"))
      kept.join(sizes, "component")
        .select(col("doc_id"), col("component"), col("quality"),
          col("cluster_size"), col("is_survivor"))
        .orderBy("doc_id")
    }),

    // r9: markup stripping — the fixture is tag-free, so tags/entities
    // are PLANTED deterministically (the PII/URL trick), then counted,
    // stripped, decoded, and whitespace-squeezed
    "q_text_strip_markup" -> ((s, d) => {
      val aug = Tables.documents(s, d).withColumn("mtext", concat(
        when(col("doc_id") % 4 === 0, lit("<div class=\"post\"><p>")).otherwise(lit("")),
        col("text"),
        when(col("doc_id") % 4 === 0, lit("</p></div>")).otherwise(lit("")),
        when(col("doc_id") % 6 === 0, lit(" &amp; more &lt;raw&gt;  text")).otherwise(lit(""))))
      aug.select(col("doc_id"),
        TA.markupTagCount(col("mtext")).as("n_tags"),
        md5(TA.stripMarkup(col("mtext"))).as("clean_md5"),
        length(TA.stripMarkup(col("mtext"))).as("clean_len"))
        .orderBy("doc_id")
    }),

    // r9: context-length chunking — sliding 32-token windows, 8 overlap
    "q_chunk_tokens" -> ((s, d) => {
      Packing.chunkByTokens(Tables.documents(s, d), "doc_id", "text",
        chunkTokens = 32, overlapTokens = 8)
        .orderBy("doc_id", "chunk_id")
    }),

    // r9: epoch mixing — weights above 1 oversample a source into full
    // epochs + a deterministic fractional tail (GPT-3-style mixture)
    "q_mix_epochs" -> ((s, d) => {
      Sampling.epochMix(Tables.documents(s, d), "source", "doc_id",
        Map("src0" -> 2.5, "src1" -> 1.0, "src2" -> 0.4),
        defaultWeight = 0.0)
        .select("doc_id", "source", "epoch")
        .orderBy("doc_id", "epoch")
    }),

    // -------------------------------------------------------- sampling
    // r10: exact-k deterministic sample — the 50 smallest id-hashes,
    // nested across k and inside any covering fraction sample
    "q_sample_exact_k" -> ((s, d) => {
      Sampling.exactKSample(Tables.documents(s, d), "doc_id", k = 50)
        .select("doc_id", "lang")
    }),

    "q_sample_fraction" -> ((s, d) => {
      Sampling.deterministicSample(Tables.documents(s, d), "doc_id", 0.25)
        .select("doc_id", "lang").orderBy("doc_id")
    }),

    "q_sample_quota" -> ((s, d) => {
      Sampling.stratifiedQuota(Tables.documents(s, d), "lang", "doc_id", quota = 40)
        .select("doc_id", "lang", "sample_rank")
        .orderBy("lang", "sample_rank")
    }),

    // r12 composed pipeline v5: LM score → per-language perplexity
    // buckets → drop the tail tercile → token-balanced 8-shard
    // assignment of the survivors, one lazy plan over four
    // independently-gated operators
    "q_curation_pipeline_v5" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val (uni, bi) = TA.lmTables(docs.filter(col("doc_id") % 3 === 0), "text")
      val scored = TA.externalLmLogProb(docs, "doc_id", "text", uni, bi)
        .filter(col("n_bigrams") > 0)
        .join(docs.select(col("doc_id"), col("lang"), col("text")), Seq("doc_id"))
      // r14: the cutoff rides percentile_approx (explicit here though it
      // is now also the default) — no per-language rank window in the
      // composed plan; bit-identical to the rank at accuracy >= 2n
      val kept = TA.perplexityBuckets(scored, "doc_id", "lang", "avg_logprob_lm",
        approx = true)
        .filter(col("ppl_bucket") =!= "tail")
        .select(col("doc_id"), col("lang"), col("ppl_bucket"),
          TA.tokenCount(col("text")).cast(org.apache.spark.sql.types.LongType)
            .as("n_tokens"))
      Packing.shardAssign(kept, "doc_id", "n_tokens", nShards = 8,
        hashBuckets = 64)
        .select("doc_id", "lang", "ppl_bucket", "n_tokens",
          "shard_id", "shard_offset")
        .orderBy("doc_id")
    }),

    // r13 composed pipeline v6 — the FULL public curation recipe
    // (C4/RefinedWeb shape) as one gated end-to-end keep/drop audit:
    //   1 langid (predicted == declared)     5 external-LM ppl tail drop
    //   2 Gopher structural battery          6 DSIR importance cut
    //   3 repetition battery                 7 fuzzy dedup (v4 shape)
    //   4 word blocklist (planted %13)       8 decontamination vs bench
    // Stages 1-4 are per-doc rules (cascade ≡ intersection); stages 5-8
    // are population-dependent and derive their cutoffs/models/pairs
    // from the SURVIVORS of the previous stage — the real pipeline
    // shape, where a cutoff moves when an earlier rule moves. Docs
    // ≡ 0 (mod 97) are the held-out eval bench (never candidates, their
    // shingles drive stage 8). Output: one audit row per candidate doc
    // with every stage verdict, the first failing stage, and final_keep
    // — the per-doc ledger the _stats gate aggregates into attrition.
    "q_curation_pipeline_v6" -> ((s, d) => {
      curationV6(s, d).orderBy("doc_id")
    }),

    // r14 (VERDICT task 2): the SAME v6 recipe run BY the engine's own
    // DAG. The checked-in examples/curation project — native-code stage
    // models (CurationRecipe fns via NativeRegistry), SQL survivor
    // models, generic tests on the audit table, the rule battery as an
    // incremental merge model — is staged with its source pointed at
    // this gate's sf dir and built through the real CLI path
    // (Main.execute "build": scheduling, test-blocking edges,
    // artifacts). The gate row is the RUNNER-materialized audit table,
    // checked against the identical v6 DuckDB oracle — the integration
    // proof that the dbt-parity engine and the ops layer compose.
    // r15 s3: the retrieval family through the engine's own DAG — the
    // checked-in examples/retrieval project (posting-index/doc-length
    // artifacts as table models, BM25 serving as a ref-composed native,
    // generic tests on both) built by Main.execute; the served table
    // must equal the hand-composed q_retrieval_bm25_topk's oracle.
    "q_retrieval_project" -> ((s, d) => {
      withProjectBuild(s, "retrieval", d) { (rm, build) =>
        build(Map.empty)
        rm.read(graft.core.Relation("graft", "main", "bm25_top10"))
          .orderBy("query_id", "rank")
          .localCheckpoint(true)
      }
    }),

    "q_curation_project" -> ((s, d) => {
      withProjectBuild(s, "curation", d) { (rm, build) =>
        build(Map.empty)
        rm.read(graft.core.Relation("graft", "main", "audit"))
          .orderBy("doc_id")
          .localCheckpoint(true)
      }
    }),

    // r15 (VERDICT task 1): INGEST through the engine's own DAG. The
    // checked-in examples/curation_incremental project — HELD artifacts
    // as materialized_view models, every stage a MICROBATCH model on
    // event_ts (generation = doc_id % 2 → day), the near-dup ledger
    // self-referencing via the Runner's `this` dep — is staged against
    // this gate's sf dir and built TWICE through the real CLI path with
    // the run window advanced one day per build (--vars run_end=…, the
    // reference's --event-time-end). The gate row is the ACCUMULATED
    // audit table, checked against a two-generation DuckDB replay
    // oracle; the O(batch) claim is proved inline from the commit log
    // (build 2 advances each stage exactly one version whose added
    // files live only in the day-2 partition; every artifact MV stays
    // at its build-1 version — "fresh").
    "q_curation_project_incremental" -> ((s, d) => {
      withProjectBuild(s, "curation_incremental", d) { (rm, build) =>
        val stages = Seq("rules", "scored", "dsir", "ledger", "audit")
        val artifacts = Seq("lm_uni", "lm_bi", "ppl_cuts", "dsir_model", "dsir_cut")
        def rel(n: String) = graft.core.Relation("graft", "main", n)
        build(Map("run_end" -> "2025-01-02T00:00:00Z"))
        val after1 = (stages ++ artifacts).map(n => n -> rm.currentState(rel(n)).get).toMap
        build(Map("run_end" -> "2025-01-03T00:00:00Z"))
        stages.foreach { n =>
          val (v1, v2) = (after1(n), rm.currentState(rel(n)).get)
          require(v2.version == v1.version + 1,
            s"$n: expected exactly one new commit for the new generation, " +
              s"got v${v1.version} -> v${v2.version}")
          val added = v2.files.filterNot(v1.files.toSet)
          require(added.nonEmpty && added.forall(_.contains("__graft_batch=2025-01-02")),
            s"$n: build 2 must add ONLY day-2 partition files, added: $added")
          require(v1.files.forall(v2.files.toSet),
            s"$n: build 2 must not rewrite day-1 files")
        }
        artifacts.foreach { n =>
          require(rm.currentState(rel(n)).get.version == after1(n).version,
            s"artifact $n must stay frozen (mv 'fresh') across nightly builds")
        }
        rm.read(rel("audit")).drop("__graft_batch")
          .orderBy("doc_id").localCheckpoint(true)
      }
    }),

    // r16 (VERDICT task 1): retrieval INGEST through the engine's own
    // DAG. The checked-in examples/retrieval_incremental project —
    // posting/doc-length stores as MICROBATCH models on event_ts
    // (generation = doc_id % 2 → day; pure-append additive, the
    // posting store bucket-declared at bootstrap), query law + BM25
    // serving as rebuilt table models — is staged against this gate's
    // sf dir and built TWICE through the real CLI path with the run
    // window advanced one day per build. The gate row is the SERVED
    // bm25_top10 table (a folded pure-append index IS the one-shot
    // index, so the shared oracle applies); the O(batch) claim is
    // proved inline from the commit log (build 2 advances each store
    // exactly one version whose added files live only in the day-2
    // partition, rewriting nothing), and the bucket layout is asserted
    // structurally (every store file under a _bucket= dir).
    "q_retrieval_project_incremental" -> ((s, d) => {
      withProjectBuild(s, "retrieval_incremental", d) { (rm, build) =>
        def rel(n: String) = graft.core.Relation("graft", "main", n)
        val stores = Seq("postings", "doc_lens", "term_stats")
        build(Map("run_end" -> "2025-01-02T00:00:00Z"))
        val after1 = stores.map(n => n -> rm.currentState(rel(n)).get).toMap
        build(Map("run_end" -> "2025-01-03T00:00:00Z"))
        stores.foreach { n =>
          val (v1, v2) = (after1(n), rm.currentState(rel(n)).get)
          require(v2.version == v1.version + 1,
            s"$n: expected exactly one new commit for the new generation, " +
              s"got v${v1.version} -> v${v2.version}")
          val added = v2.files.filterNot(v1.files.toSet)
          require(added.nonEmpty && added.forall(_.contains("__graft_batch=2025-01-02")),
            s"$n: build 2 must add ONLY day-2 partition files, added: $added")
          require(v1.files.forall(v2.files.toSet),
            s"$n: build 2 must not rewrite day-1 files")
        }
        val ps = rm.currentState(rel("postings")).get
        require(ps.buckets == 8 && ps.bucketBy == Seq("term"),
          s"posting store must carry its declared term bucketing, got " +
            s"${ps.bucketBy}/${ps.buckets}")
        require(ps.files.nonEmpty && ps.files.forall(_.contains("/_bucket=")),
          "every posting-store file must route through the bucket layout")
        // a CATCH-UP build at the unchanged window is a store no-op:
        // the checkpoint leaves zero batches, so no store commits —
        // the idempotency half of the O(batch) story (r16, third build)
        val before3 = stores.map(n => rm.currentState(rel(n)).get.version)
        build(Map("run_end" -> "2025-01-03T00:00:00Z"))
        val after3 = stores.map(n => rm.currentState(rel(n)).get.version)
        require(after3 == before3,
          s"a same-window catch-up build must not commit to the stores: " +
            s"$before3 -> $after3")
        // the deployed serving plan's self-check (r17): Σdf over the
        // term-stats artifact == the posting store's live row count —
        // O(manifest) on the posting side, vocab-sized on the stats side
        graft.ops.Retrieval.requireFreshTermStats(rm,
          rel("term_stats"), rel("postings"))
        rm.read(rel("bm25_top10"))
          .orderBy("query_id", "rank").localCheckpoint(true)
      }
    }),

    // r17 (VERDICT task 2): REGIME-2 serving through the project — the
    // posting store is bucket-declared at bootstrap precisely so batch
    // query workloads can serve beyond the broadcast threshold, and this
    // gate exercises that composition END TO END through the engine's
    // own DAG: the checked-in examples/retrieval_incremental project is
    // built ONCE for both generations (one run, two microbatches) with
    // autoBroadcastJoinThreshold = -1, so the bm25_top10_shuffle model
    // (strategy='shuffle') commits rows that actually traveled the
    // storage-partitioned join. The plan receipt is asserted on the
    // same frame composition the Runner hands the native: the probe
    // side shuffles INTO the store's bucket layout (Exchange
    // keygroupedpartitioning) while the store streams from its
    // BatchScan. Same law, same oracle as every BM25 gate.
    "q_retrieval_project_regime2" -> ((s, d) => {
      val prevBc = s.conf.get("spark.sql.autoBroadcastJoinThreshold")
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try withProjectBuild(s, "retrieval_incremental", d) { (rm, build) =>
        // one run covers both generations: two day batches
        build(Map("run_end" -> "2025-01-03T00:00:00Z"))
        def rel(n: String) = graft.core.Relation("graft", "main", n)
        // plan receipt on the Runner's own dep frames (rm.read is what
        // the registered session views wrap): probe side keygrouped into
        // the store layout, store side scan-streamed
        import graft.ops.Retrieval
        val servePlanDf = Retrieval.bm25TopK(
          rm.read(rel("postings")).select("term", "doc_id", "tf", "dl"),
          rm.read(rel("doc_lens")).select("doc_id", "dl"),
          rm.read(rel("queries")), "query_id", "qtext", k = 10,
          strategy = "shuffle",
          precomputedTermStats =
            Some(rm.read(rel("term_stats")).select("term", "df")),
          acceptSkew = true) // gate-scale fixture: see ri_bm25_top10_shuffle
        servePlanDf.collect()
        val plan = servePlanDf.queryExecution.executedPlan.toString
          .split("== Initial Plan ==")(0)
        require(plan.contains("Exchange keygroupedpartitioning"),
          s"regime-2 serving must shuffle the probe side into the store's " +
            s"bucket layout:\n$plan")
        rm.read(rel("bm25_top10_shuffle"))
          .orderBy("query_id", "rank").localCheckpoint(true)
      } finally s.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
    }),

    // r17 (VERDICT task 1): deletion-driven store GC as a SCHEDULED DAG
    // OPERATION. The checked-in examples/retrieval_gc project — the
    // incremental-ingest retrieval stores plus a CDC `deletions` model
    // and the `gc_compact` operation (config schedule='build'), whose
    // three `;;`-statements fold departed documents out through the
    // engine's own SQL DML (negative term-stats append witnessed by
    // doc_lens, then row-level DELETEs on postings/doc_lens; serving
    // ordered behind it via `after:`) — is staged against this gate's
    // sf dir and built THREE times through the real CLI (two
    // generations + a same-window catch-up). The gate row is the served
    // bm25_top10 table against the survivor-rebuild oracle; the commit
    // log proves the stores advanced via row-level deletes / pure
    // appends (day-1 posting files survive build 2's GC untouched —
    // file-pruned copy-on-write, never a rebuild; term_stats never
    // removes a file; the microbatch checkpoints survive the DML), and
    // the Σdf-vs-posting-rows invariant holds through GC because the
    // operation pairs every posting delete with its compensating
    // negative df append.
    "q_retrieval_project_gc" -> ((s, d) => {
      withProjectBuild(s, "retrieval_gc", d) { (rm, build) =>
        def rel(n: String) = graft.core.Relation("graft", "main", n)
        def storeMass(): (Long, Long, Long) = {
          val postRows = rm.read(rel("postings")).count()
          val sd = rm.read(rel("term_stats"))
            .agg(coalesce(sum(col("df")), lit(0L))).collect()(0).getLong(0)
          val dlRows = rm.read(rel("doc_lens")).count()
          (postRows, sd, dlRows)
        }
        build(Map("run_end" -> "2025-01-02T00:00:00Z"))
        val p1 = rm.currentState(rel("postings")).get
        val t1 = rm.currentState(rel("term_stats")).get
        // the declared bucket layout survives the GC rewrite — the store
        // still serves the regime-2 plan after forgetting
        require(p1.buckets == 8 && p1.bucketBy == Seq("term"),
          s"bucket layout must survive GC: ${p1.bucketBy}/${p1.buckets}")
        require(p1.files.nonEmpty && p1.files.forall(_.contains("/_bucket=")),
          s"every post-GC posting file must route through the bucket layout")
        build(Map("run_end" -> "2025-01-03T00:00:00Z"))
        val p2 = rm.currentState(rel("postings")).get
        val t2 = rm.currentState(rel("term_stats")).get
        val d2 = rm.currentState(rel("doc_lens")).get
        // O(deleted-rows) forgetting — NOT a rebuild: the stores are
        // merge-on-read (tblprops), so the GC DELETEs rewrite NO data
        // file, ever — every build-1 file survives build 2 verbatim and
        // the departures live as positional delete attachments
        require(p1.files.forall(p2.files.toSet),
          s"build 2 must not rewrite posting data files: missing " +
            s"${p1.files.filterNot(p2.files.toSet)}")
        require(p2.deletes.nonEmpty,
          "MoR GC must leave positional delete attachments on the store")
        require(p2.props.get("row_level_mode").contains("merge-on-read"),
          "the declared tblprops must be live on the committed store")
        // the term-stats store only ever APPENDS (ingest partitions plus
        // negative compensation rows) — no file is ever rewritten
        require(t1.files.forall(t2.files.toSet),
          "term_stats must advance by pure appends")
        // the microbatch checkpoints survived the DML — deltas, not
        // drop+rebuild (a rebuild would have reset them)
        require(rm.readCheckpoint(rel("postings"))
          .contains(java.time.Instant.parse("2025-01-03T00:00:00Z")),
          "posting-store checkpoint must survive GC")
        // catch-up build at the unchanged window: ingest commits nothing
        // and the GC operation compensates nothing twice (the doc_lens
        // EXISTS witness) — serving-visible store mass is unchanged
        val massBefore = storeMass()
        build(Map("run_end" -> "2025-01-03T00:00:00Z"))
        require(storeMass() == massBefore,
          s"catch-up build must not change store mass: $massBefore -> ${storeMass()}")
        // r18 (VERDICT r17 #6): the operation consumes the deletion feed
        // as a CDC WINDOW (ref_changes) — a no-new-deletions build
        // renders every statement against an empty feed and touches ZERO
        // store files: no new data files, no new delete attachments, no
        // compensation rows, on any of the three stores
        val p3 = rm.currentState(rel("postings")).get
        val d3 = rm.currentState(rel("doc_lens")).get
        val t3 = rm.currentState(rel("term_stats")).get
        require(p3.files == p2.files && p3.deletes == p2.deletes &&
            p3.deleteRows == p2.deleteRows,
          "a no-new-deletions GC must not touch any posting-store file")
        require(t3.files == t2.files,
          "a no-new-deletions GC must append no compensation file")
        require(d3.files == d2.files && d3.deletes == d2.deletes &&
            d3.deleteRows == d2.deleteRows,
          "a no-new-deletions GC must not touch any doc_lens file")
        // the Σdf == live-posting-rows invariant holds THROUGH GC —
        // every posting delete was paired with its negative df append
        graft.ops.Retrieval.requireFreshTermStats(rm,
          rel("term_stats"), rel("postings"))
        // storage reclaim composed in-DAG (r17): the operation's CALL
        // system.vacuum(keep_versions => 2) truncated older manifests —
        // departed documents' bytes leave storage inside the same
        // scheduled operation, not in a separate lifecycle pass
        require(rm.history(rel("postings"), limit = 10).size <= 2,
          "gc_compact's vacuum must have truncated old posting versions")
        rm.read(rel("bm25_top10"))
          .orderBy("query_id", "rank").localCheckpoint(true)
      }
    }),

    // r18 (VERDICT r17 task 1): deletion-driven DEDUP-STORE GC through
    // the engine DAG — the symmetric completion of q_retrieval_project_gc
    // for the largest stores in a real 100 TB curation pipeline. The
    // checked-in examples/curation_gc project maintains four dedup
    // artifacts under microbatch ingest (fingerprints, sigs, the
    // band-bucketed LSH index, additive gram counts) plus a KMV sketch;
    // the gc_compact operation folds a CDC deletion feed out via one
    // discipline per artifact kind: negative append for the additive
    // counts (witnessed by the fingerprint store, deleted last),
    // row-level merge-on-read DELETEs for the doc-owned store rows,
    // in-DAG vacuum for reclaim — while the non-invertible KMV rebuilds
    // over survivors (`after: gc_compact`). Three real CLI builds (two
    // generations + a catch-up); the gate row is the dup_report serving
    // table (probes re-submitting every 37th document's text against the
    // compacted stores) vs a DuckDB survivor-rebuild oracle; commit-log
    // receipts prove appends + positional deletes only, the Σcnt ==
    // survivor-token-mass counting-CRDT invariant, store-driven KMV ==
    // direct survivor rebuild, and that the catch-up build's GC (an
    // empty ref_changes window) touches zero store files.
    "q_curation_project_gc" -> ((s, d) => {
      withProjectBuild(s, "curation_gc", d) { (rm, build) =>
        def rel(n: String) = graft.core.Relation("graft", "main", n)
        build(Map("run_end" -> "2025-01-02T00:00:00Z"))
        val b1 = rm.currentState(rel("band_index")).get
        require(b1.buckets == 8 && b1.bucketBy == Seq("band"),
          s"band layout must be declared at bootstrap: ${b1.bucketBy}/${b1.buckets}")
        require(b1.files.nonEmpty && b1.files.forall(_.contains("/_bucket=")),
          "every band-index file must route through the bucket layout")
        build(Map("run_end" -> "2025-01-03T00:00:00Z"))
        val b2 = rm.currentState(rel("band_index")).get
        val f2 = rm.currentState(rel("fingerprints")).get
        val g2 = rm.currentState(rel("gram_counts")).get
        val s2 = rm.currentState(rel("sigs")).get
        // O(deleted-rows) forgetting, never a rebuild: merge-on-read
        // DELETEs rewrite NO data file — every build-1 file survives
        // build 2 verbatim, departures live as positional attachments
        val sh2 = rm.currentState(rel("simhash_store")).get
        val sb2 = rm.currentState(rel("simhash_blocks")).get
        require(b1.files.forall(b2.files.toSet),
          "build 2 must not rewrite band-index data files")
        require(b2.deletes.nonEmpty && f2.deletes.nonEmpty &&
            s2.deletes.nonEmpty && sh2.deletes.nonEmpty && sb2.deletes.nonEmpty,
          "MoR GC must leave positional delete attachments on the stores")
        require(b2.props.get("row_level_mode").contains("merge-on-read"),
          "declared tblprops must be live on the committed band index")
        // the additive artifact only ever APPENDS (ingest partitions +
        // negative compensation rows)
        require(g2.deletes.isEmpty && g2.files.nonEmpty,
          "gram_counts must advance by pure appends")
        // microbatch checkpoints survived the DML — deltas, not rebuilds
        require(rm.readCheckpoint(rel("band_index"))
          .contains(java.time.Instant.parse("2025-01-03T00:00:00Z")),
          "band-index checkpoint must survive GC")
        // catch-up build: the ref_changes window is empty — zero store
        // files touched on every GC'd store, and the O(survivors) KMV
        // rebuild provably no-ops (materialized_view fingerprint stamps
        // the fingerprint store's version — unchanged, so "fresh")
        val k2 = rm.currentState(rel("kmv_ndv")).map(_.version)
        build(Map("run_end" -> "2025-01-03T00:00:00Z"))
        require(rm.currentState(rel("kmv_ndv")).map(_.version) == k2,
          "a no-new-deletions build must no-op the KMV survivor rebuild")
        val b3 = rm.currentState(rel("band_index")).get
        val f3 = rm.currentState(rel("fingerprints")).get
        val g3 = rm.currentState(rel("gram_counts")).get
        val s3 = rm.currentState(rel("sigs")).get
        require(b3.files == b2.files && b3.deletes == b2.deletes &&
            b3.deleteRows == b2.deleteRows,
          "a no-new-deletions GC must not touch any band-index file")
        require(f3.files == f2.files && f3.deletes == f2.deletes &&
            f3.deleteRows == f2.deleteRows,
          "a no-new-deletions GC must not touch any fingerprint file")
        require(s3.files == s2.files && s3.deletes == s2.deletes &&
            s3.deleteRows == s2.deleteRows,
          "a no-new-deletions GC must not touch any signature file")
        val sh3 = rm.currentState(rel("simhash_store")).get
        val sb3 = rm.currentState(rel("simhash_blocks")).get
        require(sh3.files == sh2.files && sh3.deletes == sh2.deletes &&
            sb3.files == sb2.files && sb3.deletes == sb2.deletes,
          "a no-new-deletions GC must not touch any simhash-store file")
        require(g3.files == g2.files,
          "a no-new-deletions GC must append no compensation file")
        // counting-CRDT invariant THROUGH GC: Σcnt over the additive
        // artifact == the survivors' total token occurrences
        val gramSum = rm.read(rel("gram_counts"))
          .agg(coalesce(sum(col("cnt")), lit(0L))).collect()(0).getLong(0)
        val survivors = graft.Tables.documents(s, d)
          .filter(col("doc_id") % 4 =!= 1)
        val survTokens = survivors.select(
          explode(when(trim(col("text")) === "",
              array().cast("array<string>"))
            .otherwise(split(trim(col("text")), "\\s+"))).as("g")).count()
        require(gramSum == survTokens,
          s"gram_counts is stale vs survivors: sum(cnt)=$gramSum, live=$survTokens")
        // non-invertibility boundary: the store-driven KMV rebuild must
        // equal a direct rebuild over the survivor documents
        val kmvStore = rm.read(rel("kmv_ndv")).collect()
          .map(r => r.getString(0) -> r.getDouble(1)).toMap
        val kmvDirect = graft.ops.CorpusStats.kmvNdvBy(
            survivors.withColumn("corpus", lit("all")), "corpus", "text", 64)
          .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
        require(kmvStore == kmvDirect,
          s"KMV must rebuild over survivors: $kmvStore vs $kmvDirect")
        // storage reclaim composed in-DAG: vacuum truncated old versions
        require(rm.history(rel("band_index"), limit = 10).size <= 2 &&
            rm.history(rel("fingerprints"), limit = 10).size <= 2,
          "gc_compact's vacuum must have truncated old store versions")
        rm.read(rel("dup_report")).orderBy("probe_id").localCheckpoint(true)
      }
    }),

    // the attrition ledger of v6: docs entering / surviving each stage
    // in recipe order — the table every public curation paper prints
    "q_curation_pipeline_v6_stats" -> ((s, d) => {
      val audit = curationV6(s, d)
      val stages = Seq("langid", "gopher", "repetition", "blocklist",
        "perplexity", "dsir", "dedup", "decontamination")
      val frames = stages.zipWithIndex.map { case (stage, i) =>
        // docs entering a stage = docs that failed no EARLIER stage;
        // kept = entering and not dropped here
        val earlier = stages.take(i)
        val entering =
          if (earlier.isEmpty) audit
          else audit.filter(col("drop_stage").isNull ||
            !col("drop_stage").isin(earlier: _*))
        entering.agg(
          lit(i + 1).cast(org.apache.spark.sql.types.LongType).as("stage_order"),
          lit(stage).as("stage"),
          count(lit(1)).as("n_in"),
          sum(when(col("drop_stage").isNull ||
            col("drop_stage") =!= stage, 1L).otherwise(0L)).as("n_kept"))
      }
      frames.reduce(_ unionByName _).orderBy("stage_order")
    }),

    // r12: DSIR importance-resampling selection — hashed unigram+bigram
    // bucket distributions (target = doc_id % 7 slice vs the full raw
    // corpus), per-doc importance log-weights, top-25% of scoreable docs
    // kept by per-feature mean (value-at-rank cutoff, ties kept)
    "q_dsir_select" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      graft.ops.Dsir.select(docs, docs.filter(col("doc_id") % 7 === 0),
        "doc_id", "text", fraction = 0.25)
        .orderBy("doc_id")
    }),

    // r13: the same selection through a PERSISTED bucket model (built
    // once via Dsir.buildModel, self-describing model_buckets) — the
    // production shape where the target pass and model build amortize
    // across a curation run; output must be identical to q_dsir_select
    "q_dsir_from_model" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      // the bucket model is the amortized artifact (build phase, r16)
      val model = GatePhases.build("q_dsir_from_model")(
        graft.ops.Dsir.buildModel(docs,
          docs.filter(col("doc_id") % 7 === 0), "doc_id", "text"))
      graft.ops.Dsir.select(docs, docs.filter(col("doc_id") % 7 === 0),
        "doc_id", "text", fraction = 0.25, precomputedModel = Some(model))
        .orderBy("doc_id")
    }),

    // r14: the exact-rank path, now OPT-IN (approx=false) — pins the
    // global rank-window twin the approx default must stay bit-identical
    // to at gate scale
    "q_dsir_select_exact" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      graft.ops.Dsir.select(docs, docs.filter(col("doc_id") % 7 === 0),
        "doc_id", "text", fraction = 0.25, approx = false)
        .orderBy("doc_id")
    }),

    // r13: the approx-cutoff path — percentile_approx aggregate instead
    // of the global rank window (the 100 TB shape); bit-identical to the
    // exact rank while accuracy >= corpus size, so the oracle is the
    // exact-path SQL. As of r14 this is also the DEFAULT (q_dsir_select
    // rides it with no flag); kept as the explicit-knob pin.
    "q_dsir_select_approx" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      graft.ops.Dsir.select(docs, docs.filter(col("doc_id") % 7 === 0),
        "doc_id", "text", fraction = 0.25, approx = true)
        .orderBy("doc_id")
    }),

    // deterministic train/val/test assignment: per-row hash cut
    "q_split_assign" -> ((s, d) => {
      graft.ops.Splits.assign(Tables.documents(s, d), "doc_id",
        Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05))
        .select("doc_id", "split").orderBy("doc_id")
    }),

    // leakage-safe variant: near-dup clusters (minhash pair graph → CC)
    // move between splits as one unit, keyed by the component id
    "q_split_cluster_safe" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val pairs = Dedup.minhashLshPairs(docs, "doc_id", "text",
        shingleLen = 5, k = 32, bands = 8, threshold = 0.5)
      graft.ops.Splits.clusterAwareAssign(docs, "doc_id", pairs, "doc_a", "doc_b",
        Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05))
        .select("doc_id", "split_key", "split").orderBy("doc_id")
    }),

    // ------------------------------------------------ sequence packing
    // budget-aligned block packing: docs in id order fill 1024-token
    // training sequences via a two-level prefix sum (no document-sized
    // single-partition window); the oracle reproduces the same global
    // running-offset arithmetic in one window. r9: budgets come from the
    // REAL BPE token count — the number a trainer's tokenizer would see —
    // so the packing gate now also re-proves the tokenizer end-to-end.
    "q_pack_sequences" -> ((s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"),
        TA.bpeTokenCount(col("text")).cast(org.apache.spark.sql.types.LongType)
          .as("n_tokens"))
      Packing.packSequences(docs, "doc_id", "n_tokens",
        budget = 1024L, bucketWidth = 128L)
        .select("doc_id", "n_tokens", "seq_id", "seq_offset")
        .orderBy("doc_id")
    }),

    // r12: token-balanced output sharding — deterministic hash-order
    // global shuffle + equal-token-mass contiguous split into 16 shards
    "q_shard_assign" -> ((s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"),
        TA.tokenCount(col("text")).cast(org.apache.spark.sql.types.LongType)
          .as("n_tokens"))
      Packing.shardAssign(docs, "doc_id", "n_tokens", nShards = 16,
        hashBuckets = 64)
        .select("doc_id", "n_tokens", "shard_id", "shard_offset")
        .orderBy("doc_id")
    }),

    // r12: length-bucketed batching — similar-length docs into 8-doc
    // batches (padding spread bounded by the 16-token bucket width),
    // hash-shuffled within each bucket
    "q_batch_by_length" -> ((s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"),
        TA.tokenCount(col("text")).cast(org.apache.spark.sql.types.LongType)
          .as("n_tokens"))
      Packing.bucketedBatches(docs, "doc_id", "n_tokens",
        bucketWidth = 16L, batchSize = 8, hashBuckets = 64)
        .select("doc_id", "n_tokens", "length_bucket", "batch_id", "batch_pos")
        .orderBy("doc_id")
    }),

    // -------------------------------------- composed training pipeline
    // The flagship composition: quality-filter → exact-dedup survivors →
    // token counts → budget-aligned sequence packing, all as one lazy
    // plan. Each stage is an already-oracle-verified operator; this row
    // proves they COMPOSE bit-exactly (the switch-to-graft story: a
    // training-data pipeline is a few operator calls, not a new engine).
    "q_train_pipeline" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val kept = docs.filter(TA.qualityScore(col("text")) >= 0.7)
      val survivors = Dedup.exact(kept, "doc_id", "text")
        .filter(col("is_survivor")).select("doc_id")
      val toks = kept.join(survivors, "doc_id")
        .select(col("doc_id"),
          TA.tokenCount(col("text")).cast(org.apache.spark.sql.types.LongType)
            .as("n_tokens"))
      Packing.packSequences(toks, "doc_id", "n_tokens",
        budget = 512L, bucketWidth = 128L)
        .select("doc_id", "n_tokens", "seq_id", "seq_offset")
        .orderBy("doc_id")
    }),

    // -------------------------------------- composed curation pipeline
    // The round-8 composition: repetition gate → quality gate →
    // benchmark decontamination → PII scrub → split assignment + token
    // counts, one lazy plan over the session's new operators — the same
    // compose-bit-exactly proof q_train_pipeline gives the round-1 ops.
    "q_curation_pipeline" -> ((s, d) => {
      import graft.ops.{PiiRedact, Splits}
      val docs = Tables.documents(s, d)
      val rep = Repetition.ngramRepetition(docs, "doc_id", "text")
        .select(col("doc_id"), col("repetition_keep"))
      val kept = docs.join(rep, "doc_id")
        .filter(col("repetition_keep") && TA.qualityScore(col("text")) >= 0.7)
      val bench = docs.filter(col("doc_id") % 97 === 0)
      val train = kept.filter(col("doc_id") % 97 =!= 0)
      val decon = Decontaminate.flagOverlap(train, bench, "doc_id", "text",
        n = 4, minOverlap = 1)
      val clean = train.join(
        decon.filter(!col("contaminated")).select("doc_id"), "doc_id")
      Splits.assign(clean, "doc_id",
        Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05))
        .select(col("doc_id"),
          TA.tokenCount(PiiRedact.redact(col("text"))).cast(LongType).as("n_tokens"),
          col("split"))
        .orderBy("doc_id")
    }),

    // ----------------------------------------------------- multimodal
    "q_multimodal_assets" -> ((s, d) => {
      val assets = Multimodal.toAssets(Tables.documents(s, d), "doc_id", "text", "source")
      val withFeats = assets.withColumn("features", Multimodal.byteFeatures(col("payload")))
      withFeats
        .select(
          col("asset_id"), col("media_type"),
          col("meta.n_bytes").as("n_bytes"),
          col("meta.source").as("source"),
          col("meta.header_md5").as("header_md5"),
          round(element_at(col("features"), 1), 6).as("f1"),
          round(element_at(col("features"), 2), 6).as("f2"),
          round(element_at(col("features"), 3), 6).as("f3"),
          round(element_at(col("features"), 4), 6).as("f4"))
        .orderBy("asset_id")
    }),

    // REAL image decode (javax.imageio) behind the batched seam: doc ids
    // become actual PNGs whose dimensions derive from the id, the decoder
    // parses the real bytes, and the oracle re-derives the arithmetic —
    // a wrong decode (or a decoder that never ran) hash-mismatches.
    // A deliberately corrupt payload row proves per-row null degradation.
    "q_multimodal_decode" -> ((s, d) => {
      val assets = Multimodal.toImageAssets(Tables.documents(s, d), "doc_id")
      // corrupt some payloads: media_type says PNG, bytes are garbage
      val corrupted = assets.withColumn("payload",
        when(col("asset_id") % 100 === 7, lit("not a png".getBytes)).otherwise(col("payload")))
      Multimodal.decodeImagesBatched(corrupted)
        .select(col("asset_id"),
          col("width").cast(LongType).as("width"),
          col("height").cast(LongType).as("height"),
          col("format"))
        .orderBy("asset_id")
    }),

    // r9: perceptual hashes (dHash + aHash) over the REAL decode — doc
    // ids become PNGs with an id-derivable 9×8 luma pattern, the hasher
    // decodes the actual bytes and packs the bits, and the oracle
    // re-derives both hashes from the pattern arithmetic. Corrupt
    // payloads must degrade to null hashes per row.
    "q_multimodal_phash" -> ((s, d) => {
      val assets = Multimodal.toPatternedImageAssets(Tables.documents(s, d), "doc_id")
      val corrupted = assets.withColumn("payload",
        when(col("asset_id") % 100 === 7, lit("not a png".getBytes)).otherwise(col("payload")))
      Multimodal.imageHashesBatched(corrupted).orderBy("asset_id")
    }),

    // r12: REAL feature vectors over the real decode — pooled-luma grid
    // (3×2 integer box-averages) + per-channel color histogram (4 bins),
    // all integer binning, so the oracle recomputes the exact vector from
    // the patterned-PNG arithmetic. posexplode_outer keeps corrupt assets
    // as one (id, null, null) row — null degradation must stay visible.
    "q_multimodal_features" -> ((s, d) => {
      val assets = Multimodal.toPatternedImageAssets(Tables.documents(s, d), "doc_id")
      val corrupted = assets.withColumn("payload",
        when(col("asset_id") % 100 === 7, lit("not a png".getBytes)).otherwise(col("payload")))
      Multimodal.imageFeaturesBatched(corrupted)
        .select(col("asset_id"), posexplode_outer(col("features")))
        .toDF("asset_id", "pos", "value")
        .orderBy("asset_id", "pos")
    }),

    // r13: REAL audio decode — every asset is an actual RIFF/WAVE file
    // whose header fields derive from id arithmetic (the toImageAssets
    // convention: DuckDB can't parse a WAV, but it can recompute
    // 8000 + id%4*4000), parsed back from the real bytes; planted
    // corrupt payloads (id % 101, truncated header) must degrade to
    // null rows, never vanish or kill the batch
    "q_multimodal_audio_decode" -> ((s, d) => {
      Multimodal.decodeWavBatched(
        Multimodal.toWavAssets(Tables.documents(s, d), "doc_id"))
        .orderBy("asset_id")
    }),

    // r13: audio near-dup pairs — energy-envelope fingerprints (mean
    // |sample| per 160-sample window, 47-bit delta code) over the real
    // PCM decode, paired through the same block-LSH as the image
    // hashes. THREE 16-bit blocks cover the fingerprint's occupied bits
    // 1..47 (r14 review: a fourth block over the always-zero bits 48-63
    // keyed every asset identically — a degenerate full self-join);
    // maxHamming 2 < 3 blocks keeps recall pigeonhole-exact, so the
    // oracle is the brute-force xor/bit_count scan over fingerprints it
    // recomputes from the generator's amplitude law. Planted structure:
    // ids ≡ (mod 16) share an envelope (hamming 0), ids ≡ 0 (mod 80)
    // perturb one window (hamming 1-2), corrupt ids drop out as nulls,
    // and ids ≡ 3 (mod 10) are STEREO (r15) — their downmixed envelope
    // is the moving average ⌊(A(w)+A(w+1))/2⌋, recomputed by the oracle,
    // so the per-frame channel downmix is exercised by generator BYTES,
    // not only by the spec's hand-built stereo fixtures.
    "q_audio_fingerprint_pairs" -> ((s, d) => {
      val sigs = Multimodal.audioFingerprintsBatched(
        Multimodal.toWavAssets(Tables.documents(s, d), "doc_id"))
        .localCheckpoint(true) // feeds the block self-join twice; decode once
      Dedup.hammingPairs(sigs, "asset_id", "afp",
        maxHamming = 2, nBlocks = 3, blockBits = 16)
        .orderBy("id_a", "id_b")
    }),

    // r14: the THIRD real modality — VIDEO as actual YUV4MPEG2 bytes
    // (public uncompressed interchange format: ASCII header + FRAME
    // markers + planar 4:2:0), parsed back by the bounded Y4M reader;
    // header fields are id arithmetic, corrupt plants (id % 101,
    // truncated) degrade to null rows
    "q_multimodal_video_decode" -> ((s, d) => {
      Multimodal.decodeY4mBatched(
        Multimodal.toY4mAssets(Tables.documents(s, d), "doc_id"))
        .orderBy("asset_id")
    }),

    // r14: frame sampling — every 3rd frame of every asset as a row
    // with its integer mean luma (the generator's ±4 checkerboard
    // cancels exactly, so the mean IS the luma law and the decoder must
    // actually sum the real plane bytes); corrupt assets surface as one
    // (id, null, null) row
    "q_video_frame_sample" -> ((s, d) => {
      Multimodal.frameSampleBatched(
        Multimodal.toY4mAssets(Tables.documents(s, d), "doc_id"),
        everyNth = 3)
        .orderBy("asset_id", "frame_idx")
    }),

    // r14: video near-dup pairs — 47-bit luma-envelope delta
    // fingerprints over the real frame decode, paired through the same
    // block-LSH as images and audio (three 16-bit blocks covering the
    // occupied bits 1..47 — maxHamming 2 < 3 blocks → pigeonhole-exact,
    // so the oracle is the brute-force xor scan over fingerprints
    // recomputed from the luma law). Planted structure
    // mirrors audio: ids ≡ (mod 16) share an envelope, ids ≡ 0 (mod 80)
    // perturb one frame, corrupt ids drop out as nulls.
    "q_video_fingerprint_pairs" -> ((s, d) => {
      val sigs = Multimodal.videoFingerprintsBatched(
        Multimodal.toY4mAssets(Tables.documents(s, d), "doc_id"))
        .localCheckpoint(true) // feeds the block self-join twice; decode once
      Dedup.hammingPairs(sigs, "asset_id", "vfp",
        maxHamming = 2, nBlocks = 3, blockBits = 16)
        .orderBy("id_a", "id_b")
    }),

    // r14: INCREMENTAL hamming ingest — a new batch of video
    // fingerprints probed against a persisted fingerprint STORE (ids
    // ≡ 0 mod 3): O(batch) probe rows via the block equi-join, never an
    // all-corpus self-join. Pigeonhole-exact at maxHamming 2 < 3
    // covering blocks, so the oracle is the brute-force batch × store
    // xor scan over law-recomputed fingerprints.
    "q_dedup_hamming_incremental" -> ((s, d) => {
      val sigs = Multimodal.videoFingerprintsBatched(
        Multimodal.toY4mAssets(Tables.documents(s, d), "doc_id"))
        .localCheckpoint(true)
      Dedup.hammingIncremental(
        sigs.filter(col("asset_id") % 3 =!= 0), "asset_id", "vfp",
        sigs.filter(col("asset_id") % 3 === 0), "asset_id", "vfp",
        maxHamming = 2, nBlocks = 3, blockBits = 16)
        .orderBy("doc", "store_doc")
    }),

    // r14: the same ingest through a PERSISTED self-describing block
    // index (Dedup.hammingBlockIndex — the bandIndex artifact for the
    // modality fingerprint family): plan-only variant, identical output,
    // identical oracle; the per-batch store-wide block explode is gone
    "q_dedup_hamming_from_index" -> ((s, d) => {
      // fingerprint decode + the block index are gate scaffolding — a
      // nightly ingest reads both from persisted tables (build phase,
      // r16: the sidecar separates them from the candidate-join fold)
      val (sigs, idx) = GatePhases.build("q_dedup_hamming_from_index") {
        val sg = Multimodal.videoFingerprintsBatched(
          Multimodal.toY4mAssets(Tables.documents(s, d), "doc_id"))
          .localCheckpoint(true)
        (sg, Dedup.hammingBlockIndex(sg.filter(col("asset_id") % 3 === 0),
          "asset_id", "vfp", nBlocks = 3, blockBits = 16).localCheckpoint(true))
      }
      val store = sigs.filter(col("asset_id") % 3 === 0)
      Dedup.hammingIncrementalFromIndex(
        sigs.filter(col("asset_id") % 3 =!= 0), "asset_id", "vfp",
        idx, store, "asset_id", "vfp",
        maxHamming = 2, nBlocks = 3, blockBits = 16)
        .orderBy("doc", "store_doc")
    }),

    // r15 (VERDICT task 3): FRAME-LEVEL video near-dup — the
    // whole-asset luma envelope is blind to trimmed clips (its 47-bit
    // delta code shifts with the cut; VideoSpec proves the planted
    // family lands at hamming > 2), so this gate matches clips by FRAME
    // CONTENT: real decode → every-3rd-frame sample → per-frame content
    // key (mean luma — the fixture's per-frame law; on real footage the
    // key is the per-frame perceptual dHash, which a checkerboard frame
    // collapses by construction) → inverted-index set overlap scored by
    // the CONTAINMENT coefficient |A∩B|/min(|A|,|B|), 1.0 for a trim.
    // Corpus = the base assets PLUS planted trimmed clips (ids ≡ 5 mod
    // 100, first 9 frames cut, id + 1000000). Oracle: brute-force pair
    // scan over law-derived frame sets. Candidates come from the frame-
    // key equi-join — the no-cartesian plan assert lives in VideoSpec.
    "q_video_framedup_pairs" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val assets = Multimodal.toY4mAssets(docs, "doc_id").unionByName(
        Multimodal.toY4mTrimmedAssets(docs.filter(col("doc_id") % 100 === 5),
          "doc_id", dropFrames = 9, idOffset = 1000000L))
      val frames = Multimodal.frameSampleBatched(assets, everyNth = 3)
        .filter(col("frame_idx").isNotNull)
      Dedup.setOverlapPairs(frames.select(col("asset_id"), col("mean_luma")),
        "asset_id", "mean_luma", minOverlap = 0.9)
        .orderBy("id_a", "id_b")
    }),

    // r15: the INGEST form of the frame-level clip matcher — a batch of
    // NEW (trimmed) clips probes the persisted frame-key store of the
    // base corpus: O(batch) probe rows via the key equi-join, verdicts
    // identical to the one-shot matcher restricted to batch×store.
    // Every planted trim must land on its base at containment 1.0.
    "q_video_framedup_incremental" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      def keysOf(assets: org.apache.spark.sql.DataFrame) =
        Multimodal.frameSampleBatched(assets, everyNth = 3)
          .filter(col("frame_idx").isNotNull)
          .select(col("asset_id"), col("mean_luma"))
      Dedup.setOverlapIncremental(
        keysOf(Multimodal.toY4mTrimmedAssets(
          docs.filter(col("doc_id") % 100 === 5), "doc_id",
          dropFrames = 9, idOffset = 1000000L)), "asset_id", "mean_luma",
        keysOf(Multimodal.toY4mAssets(docs, "doc_id")), "asset_id", "mean_luma",
        minOverlap = 0.9)
        .orderBy("doc", "store_doc")
    }),

    // r15 (VERDICT task 4): GC of the persisted hamming block index —
    // after survivor selection drops ids ≡ 1 (mod 4), compactStore's
    // owner semi-join must leave EXACTLY the index a from-scratch
    // rebuild over the survivors would produce (the q_dedup_compact_store
    // law for the modality fingerprint family). The oracle IS that
    // rebuild: fingerprints recomputed from the luma law for the
    // surviving ids, exploded into the same 3×16-bit self-describing
    // block rows.
    "q_dedup_hamming_compact" -> ((s, d) => {
      val sigs = Multimodal.videoFingerprintsBatched(
        Multimodal.toY4mAssets(Tables.documents(s, d), "doc_id"))
        .localCheckpoint(true)
      val idx = Dedup.hammingBlockIndex(sigs, "asset_id", "vfp",
        nBlocks = 3, blockBits = 16)
      Dedup.compactStore(idx, "doc",
        sigs.filter(col("asset_id") % 4 =!= 1).select("asset_id"), "asset_id")
        .orderBy("doc", "block")
    }),

    // r9: hamming near-dup pairs over the dHash through the generalized
    // block-LSH (4 blocks × 16 bits). maxHamming 3 < 4 blocks →
    // pigeonhole-exact recall, so the oracle can be the brute-force
    // xor/bit_count pair scan over the reconstructed hashes.
    "q_multimodal_phash_pairs" -> ((s, d) => {
      val assets = Multimodal.toPatternedImageAssets(Tables.documents(s, d), "doc_id")
        .withColumn("payload",
          when(col("asset_id") % 100 === 7, lit("not a png".getBytes)).otherwise(col("payload")))
      // localCheckpoint: the signature frame feeds the block self-join
      // (two reads) — without it every PNG decodes once per subtree
      // (r9 review; decode dominates this op's cost)
      val sigs = Multimodal.imageHashesBatched(assets).localCheckpoint(true)
      graft.ops.Dedup.hammingPairs(sigs, "asset_id", "dhash",
        maxHamming = 3, nBlocks = 4, blockBits = 16)
        .orderBy("id_a", "id_b")
    }),

    // r9: the multimodal dedup loop COMPOSED end-to-end — real PNG decode
    // → dHash → hamming block-LSH pairs → connected components → keep
    // the min-id survivor per cluster. Corrupt payloads (null hash) drop
    // out of pairing but stay as singleton clusters of themselves — a
    // corrupt object must never be "deduplicated away" by a hash default.
    "q_multimodal_dedup_pipeline" -> ((s, d) => {
      val assets = Multimodal.toPatternedImageAssets(Tables.documents(s, d), "doc_id")
        .withColumn("payload",
          when(col("asset_id") % 100 === 7, lit("not a png".getBytes)).otherwise(col("payload")))
      // localCheckpoint: sigs feeds pairing, component node derivation,
      // and the labeling join — 3+ subtrees, each a full re-decode without it
      val sigs = Multimodal.imageHashesBatched(assets).localCheckpoint(true)
      val pairs = graft.ops.Dedup.hammingPairs(sigs, "asset_id", "dhash",
        maxHamming = 3, nBlocks = 4, blockBits = 16)
      val comp = graft.ops.Dedup.connectedComponents(pairs, "id_a", "id_b")
      val labeled = sigs.select(col("asset_id"))
        .join(comp.withColumnRenamed("node", "asset_id"), Seq("asset_id"), "left")
        .select(col("asset_id"),
          coalesce(col("component"), col("asset_id")).as("component"))
      val sizes = labeled.groupBy("component").agg(count(lit(1)).as("cluster_size"))
      labeled.join(sizes, "component")
        .select(col("asset_id"), col("component"), col("cluster_size"),
          (col("asset_id") === col("component")).as("is_survivor"))
        .orderBy("asset_id")
    })
  )

  // shared DuckDB fragments -------------------------------------------------

  // Matches TextAnalysis.tokens EXACTLY, including the empty-text case:
  // DuckDB string_split_regex('', ...) returns [''] (len 1) while Spark's
  // tokens('') is [] — without the CASE, a regenerated fixture containing
  // one empty/whitespace-only document diverges every token-count oracle
  private[queries] val toksSql =
    """CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
      |     ELSE string_split_regex(trim(text), '\s+') END""".stripMargin

  /** Okapi BM25 CTE block replaying Retrieval.bm25TopK's arithmetic
    * EXPRESSION-FOR-EXPRESSION (left-assoc products, (1.2 + 1.0) instead
    * of a 2.2 literal, ln of the non-negative idf) so round(·, 6) agrees
    * bit-for-bit. `querySel` filters the query documents; queries are
    * the first `prefixTokens` whitespace tokens plus any `qExtraTerms`
    * (the Zipf-stopword gate appends its planted hot tokens — r16).
    * `docsFrom` lets a caller prepend a text-planting CTE aliased back
    * to (doc_id, text); `maxDfFraction` replays the engine's df-based
    * stopword elision filter. Emits `lexranked`
    * (query_id, doc_id, score, rank). */
  private def bm25Ctes(querySel: String, prefixTokens: Int,
                       docsFrom: String = "documents",
                       qExtraTerms: Seq[String] = Nil,
                       maxDfFraction: Option[Double] = None): String = {
    val qTermList =
      if (qExtraTerms.isEmpty) s"tk[1:$prefixTokens]"
      else s"list_concat(tk[1:$prefixTokens], [${
        qExtraTerms.map(t => s"'$t'").mkString(", ")}])"
    val dfFilter = maxDfFraction
      .map(f => s"\n  WHERE CAST(d.df AS DOUBLE) <= $f * s.n").getOrElse("")
    s"""t AS (SELECT doc_id, $toksSql AS tk FROM $docsFrom),
       |stats AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n,
       |                 AVG(CAST(len(tk) AS DOUBLE)) AS avgdl FROM t),
       |post AS (SELECT doc_id, dl, term, CAST(COUNT(*) AS BIGINT) AS tf
       |  FROM (SELECT doc_id, CAST(len(tk) AS BIGINT) AS dl,
       |               unnest(tk) AS term FROM t)
       |  GROUP BY 1, 2, 3),
       |qt AS (SELECT query_id, term, CAST(COUNT(*) AS BIGINT) AS qtf
       |  FROM (SELECT doc_id AS query_id, unnest($qTermList) AS term
       |        FROM t WHERE $querySel)
       |  GROUP BY 1, 2),
       |dfq AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM post
       |  WHERE term IN (SELECT DISTINCT term FROM qt) GROUP BY 1),
       |contrib AS (
       |  SELECT qt.query_id, p.doc_id,
       |    CAST(qt.qtf AS DOUBLE) *
       |      ln(1.0 + (s.n - CAST(d.df AS DOUBLE) + 0.5) /
       |                (CAST(d.df AS DOUBLE) + 0.5)) *
       |      (CAST(p.tf AS DOUBLE) * (1.2 + 1.0)) /
       |      (CAST(p.tf AS DOUBLE) +
       |       1.2 * (1.0 - 0.75 + 0.75 * CAST(p.dl AS DOUBLE) / s.avgdl)) AS c
       |  FROM qt JOIN post p USING (term) JOIN dfq d USING (term), stats s$dfFilter),
       |lexscored AS (SELECT query_id, doc_id, round(SUM(c), 6) AS score
       |  FROM contrib GROUP BY 1, 2),
       |lexranked AS (SELECT *, row_number() OVER
       |  (PARTITION BY query_id ORDER BY score DESC, doc_id) AS rank
       |  FROM lexscored)""".stripMargin
  }

  /** Exact-phrase oracle — shared by the one-shot gate, the
    * positional-store stream-ingest gate (append additivity makes the
    * split invisible), and — over a survivor CTE (r17) — the
    * positional-store GC gate. */
  private[queries] def phraseOracle(docsFrom: String): String =
      s"""WITH t AS MATERIALIZED (SELECT doc_id, $toksSql AS tk FROM $docsFrom),
         |q AS (SELECT doc_id AS query_id, tk[1] AS t1, tk[2] AS t2, tk[3] AS t3
         |      FROM t WHERE doc_id % 53 = 0 AND len(tk) >= 3),
         |pos AS MATERIALIZED (
         |  SELECT doc_id, unnest(tk) AS term, generate_subscripts(tk, 1) AS p
         |  FROM t),
         |occ AS (SELECT q.query_id, a.doc_id, a.p
         |  FROM q JOIN pos a ON a.term = q.t1
         |  JOIN pos b ON b.doc_id = a.doc_id AND b.p = a.p + 1 AND b.term = q.t2
         |  JOIN pos c ON c.doc_id = a.doc_id AND c.p = a.p + 2 AND c.term = q.t3)
         |SELECT query_id, doc_id, CAST(COUNT(*) AS BIGINT) AS n_occurrences
         |FROM occ GROUP BY 1, 2 ORDER BY query_id, doc_id""".stripMargin

  private[queries] val phraseOracleSql: String = phraseOracle("documents")

  private[queries] val bm25TopkOracleSql: String =
    s"""WITH ${bm25Ctes("doc_id % 37 = 0", 6)}
       |SELECT query_id, rank, doc_id, score FROM lexranked
       |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin

  /** Survivor-rebuild serving oracle shared by the frame-level GC gate
    * and its engine-DML twin (r16). */
  private[queries] val retrievalCompactOracleSql: String =
    s"""WITH surv AS (SELECT doc_id, text FROM documents WHERE doc_id % 4 <> 1),
       |${bm25Ctes("doc_id % 37 = 0", 6, docsFrom = "surv")}
       |SELECT query_id, rank, doc_id, score FROM lexranked
       |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin

  /** Retrieval-evaluation oracle tail over a pluggable qrels CTE —
    * shared by the known-item gate (n_rel = 1, recall ≡ hit) and the
    * multi-relevant recall twin (r16), replaying Retrieval.evalRun's
    * first-rank / reciprocal-rank / hit / recall law over the BM25
    * top-10 run. */
  private def retrievalEvalOracleSql(qrelsSql: String): String =
    s"""WITH ${bm25Ctes("doc_id % 37 = 0", 6)},
       |qrels AS ($qrelsSql),
       |rel AS (SELECT DISTINCT query_id, doc_id FROM qrels),
       |nrel AS (SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_rel
       |  FROM rel GROUP BY 1),
       |hits AS (SELECT r.query_id, MIN(r.rank) AS first_rel_rank,
       |    CAST(COUNT(*) AS BIGINT) AS n_rel_retrieved
       |  FROM lexranked r JOIN rel q
       |    ON r.query_id = q.query_id AND r.doc_id = q.doc_id
       |  WHERE r.rank <= 10 GROUP BY 1)
       |SELECT n.query_id, h.first_rel_rank,
       |  round(CASE WHEN h.first_rel_rank IS NOT NULL
       |    THEN 1.0::DOUBLE / h.first_rel_rank ELSE 0.0::DOUBLE END, 6) AS rr,
       |  h.first_rel_rank IS NOT NULL AS hit,
       |  n.n_rel,
       |  COALESCE(h.n_rel_retrieved, CAST(0 AS BIGINT)) AS n_rel_retrieved,
       |  round(COALESCE(h.n_rel_retrieved, CAST(0 AS BIGINT))::DOUBLE /
       |    n.n_rel::DOUBLE, 6) AS recall
       |FROM nrel n LEFT JOIN hits h USING (query_id)
       |ORDER BY query_id""".stripMargin

  private val charShinglesSql =
    """list_distinct(list_transform(
      |    generate_series(1, greatest(length(text) - 4, 0)),
      |    i -> CAST(('0x' || substr(md5(substr(text, i, 5)), 1, 7)) AS BIGINT)))""".stripMargin

  private def cosineSql(a: String, b: String): String =
    s"""round(
       |  list_sum(list_transform(generate_series(1, 64), i -> $a[i]::DOUBLE * $b[i]::DOUBLE)) /
       |  (sqrt(list_sum(list_transform($a, x -> x::DOUBLE * x::DOUBLE))) *
       |   sqrt(list_sum(list_transform($b, x -> x::DOUBLE * x::DOUBLE)))), 6)""".stripMargin

  /** Planted-markup + strip CTEs shared by q_text_strip_markup and
    * q_curation_pipeline_v2 — yields `stripped(doc_id, mtext?, ctext)`.
    * One definition, or the two oracles drift apart under edits. */
  private val markupStrippedCtes: String =
    """aug AS (
      |  SELECT doc_id,
      |    (CASE WHEN doc_id % 4 = 0 THEN '<div class="post"><p>' ELSE '' END) || text ||
      |    (CASE WHEN doc_id % 4 = 0 THEN '</p></div>' ELSE '' END) ||
      |    (CASE WHEN doc_id % 6 = 0 THEN ' &amp; more &lt;raw&gt;  text' ELSE '' END) AS mtext
      |  FROM documents),
      |stripped AS (
      |  SELECT doc_id, mtext, trim(regexp_replace(
      |    replace(replace(replace(replace(replace(
      |      regexp_replace(mtext, '<[^>]*>', ' ', 'g'),
      |      '&amp;', '&'), '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&nbsp;', ' '),
      |    '\s+', ' ', 'g')) AS ctext
      |  FROM aug)""".stripMargin

  /** Token expression over the pipeline-v2 CLEAN text column. */
  private val cleanToksSql =
    """CASE WHEN trim(ctext) = '' THEN CAST([] AS VARCHAR[])
      |     ELSE string_split_regex(trim(ctext), '\s+') END""".stripMargin

  /** Demo classifier model shared by q_text_classifier and its oracle:
    * English stopwords +1.0, every other language's stopwords −0.5,
    * summed per token (the merged-model semantics Classifier applies). */
  private def classifierWeights: Map[String, Double] = {
    val raw = TA.stopwords.flatMap { case (lang, words) =>
      val w = if (lang == "en") 1.0 else -0.5
      words.map(_ -> w)
    }
    raw.groupBy(_._1).map { case (t, ws) => t -> ws.map(_._2).sum }
  }

  private def classifierWeightsValues: String =
    classifierWeights.toSeq.sortBy(_._1)
      .map { case (t, w) => s"('$t', $w)" }.mkString(",")

  /** BPE token-count CTE block shared by q_text_tokens and
    * q_pack_sequences — must sit inside a WITH RECURSIVE clause and
    * yields `cnt(doc_id, bpe)`. The recursion applies ONE occurrence per
    * step (regexp_replace WITHOUT 'g'), re-running a rule while it still
    * changes the string before advancing to the next rank: repeated
    * leftmost single merges are provably the engine's left-to-right
    * sweep (merging at j cannot create an earlier match — the merged
    * token is a new string), whereas a replace-ALL pass shares the
    * boundary marker between adjacent occurrences and skips every second
    * one (a run of 8 identical tokens paired (1,2)(4,5)(7,8) — caught by
    * the r9 review; the fixture's 31 distinct words never hit it). */
  private def bpeCountCtes(textExpr: String = "text"): String =
    s"""mr(r, l, rt) AS (SELECT * FROM (VALUES $bpeMergesValues)),
       |wds AS (
       |  SELECT doc_id, unnest(regexp_extract_all($textExpr, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]')) AS word
       |  FROM documents),
       |-- marker-wrapped char string: \\x01 between tokens AND at both
       |-- ends, so a rule matches WHOLE tokens only
       |rec(doc_id, s, r) AS (
       |  SELECT doc_id, regexp_replace(word, '(.)', chr(1) || '\\1', 'g') || chr(1), 1 FROM wds
       |  UNION ALL
       |  SELECT rec.doc_id,
       |    CASE WHEN x.rp <> rec.s THEN x.rp ELSE rec.s END,
       |    CASE WHEN x.rp <> rec.s THEN rec.r ELSE rec.r + 1 END
       |  FROM rec JOIN mr m ON m.r = rec.r,
       |    LATERAL (SELECT regexp_replace(rec.s,
       |      chr(1)||m.l||chr(1)||m.rt||chr(1), chr(1)||m.l||m.rt||chr(1)) AS rp) x),
       |cnt AS (
       |  SELECT doc_id, CAST(SUM(len(string_split(s, chr(1))) - 2) AS BIGINT) AS bpe
       |  FROM rec WHERE r = ${TA.DefaultBpeMerges.length} + 1 GROUP BY doc_id)"""
      .stripMargin

  /** BPE TRAINING oracle (r15 s3): replay `nMerges` iterations of
    * count-argmax-apply over the word-frequency table. Each iteration
    * re-derives adjacent-pair counts (every position, overlapping runs
    * included — the trainer convention), picks the argmax with
    * (cnt DESC, lhs, rhs) ties, and applies that ONE merge to fixpoint
    * via the marker-string replace (a small recursive CTE per
    * iteration: plain `replace` is one left-to-right pass that consumes
    * the shared marker of a run, so repeated application to fixpoint is
    * what equals the engine's single accumulator sweep — the `llll`
    * lesson from the bpeCountCtes recursion). `replace`, not
    * regexp_replace: learned symbols include punctuation pre-tokens
    * that are regex metacharacters. */
  private def bpeTrainOracleSql(nMerges: Int,
                                textExpr: String = "text"): String = {
    val iters = (1 to nMerges).map { i =>
      val prev = if (i == 1) "w0" else s"w${i - 1}"
      // the learned pattern for this iteration, as SQL fragments over b$i
      val pat = s"chr(1) || b.l || chr(1) || b.rt || chr(1)"
      val rep = s"chr(1) || b.l || b.rt || chr(1)"
      // AS MATERIALIZED on every reused stage: without it DuckDB
      // inlines w{i-1} into pr/wr/w and re-evaluation compounds
      // across the 8 iterations (the r14 closure-oracle lesson —
      // 8 min → seconds at sf0.1).
      // The apply step merges ONE LEFTMOST occurrence per recursion
      // step (strpos + substring surgery, no regex — learned symbols
      // include regex metacharacters). Leftmost-single iteration is
      // PROVABLY the engine's single left-to-right sweep: a merged
      // token l+r is strictly longer than l and r, so it can never be
      // a side of a later match — every match involves only original
      // symbols, and repeatedly taking the leftmost one IS greedy
      // left-to-right matching. A replace-ALL fixpoint is NOT: on an
      // odd run of 5+ repeated symbols ('lllll' under (l,l)) the scan
      // resumes after the consumed shared marker and yields
      // [ll, l, ll] where the sweep gives [ll, ll, l] — same multiset,
      // different adjacency, different next-iteration pair counts
      // (r15 s3 review catch; the planted 21-l run guards it).
      s"""pr$i AS MATERIALIZED (
         |  SELECT tk, freq, unnest(generate_series(2, len(tk) - 2)) AS j
         |  FROM (SELECT string_split(s, chr(1)) AS tk, freq FROM $prev)),
         |p$i AS (SELECT tk[j] AS l, tk[j + 1] AS rt, SUM(freq) AS cnt
         |  FROM pr$i GROUP BY 1, 2),
         |b$i AS MATERIALIZED (
         |  SELECT l, rt, cnt FROM p$i ORDER BY cnt DESC, l, rt LIMIT 1),
         |wr$i(s, freq) AS (
         |  SELECT s, freq FROM $prev
         |  UNION ALL
         |  SELECT substr(wr.s, 1, strpos(wr.s, $pat) - 1) || $rep ||
         |           substr(wr.s, strpos(wr.s, $pat) + len($pat)),
         |         wr.freq
         |  FROM wr$i wr JOIN b$i b ON TRUE
         |  WHERE strpos(wr.s, $pat) > 0),
         |w$i AS MATERIALIZED (
         |  SELECT s, freq FROM wr$i wr LEFT JOIN b$i b ON TRUE
         |  WHERE b.l IS NULL OR strpos(wr.s, $pat) = 0)"""
        .stripMargin
    }.mkString(",\n")
    val ranks = (1 to nMerges).map { i =>
      s"SELECT $i AS merge_rank, l AS lhs, rt AS rhs, CAST(cnt AS BIGINT) AS pair_freq FROM b$i"
    }.mkString("\n  UNION ALL ")
    s"""WITH RECURSIVE
       |wf AS (
       |  SELECT word, CAST(COUNT(*) AS BIGINT) AS freq FROM (
       |    SELECT unnest(regexp_extract_all($textExpr, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]')) AS word
       |    FROM documents)
       |  GROUP BY 1),
       |w0 AS (SELECT regexp_replace(word, '(.)', chr(1) || '\\1', 'g') || chr(1) AS s,
       |              freq FROM wf),
       |$iters
       |SELECT merge_rank, lhs, rhs, pair_freq FROM (
       |  $ranks)
       |ORDER BY merge_rank""".stripMargin
  }

  /** Count-min sketch oracle (r15 s3): rebuild the depth×width counter
    * grid with the row-salted md5-prefix bucket law, probe with min over
    * the rows — integer arithmetic end to end, so est_freq is replayed
    * exactly. Shared by the one-shot and the merged-fold gates (counter
    * additivity makes the generation split invisible to the law). */
  /** Decimal log-binned histogram quantile oracle (r16) — shared by the
    * one-shot, incremental, and stream gates (bin counts are additive,
    * so every fold answers the one-shot law). */
  private[queries] def histQuantilesOracle(docsFrom: String): String =
    s"""WITH t AS (SELECT len($toksSql) * doc_id AS x FROM $docsFrom),
       |b AS (SELECT length(CAST(x AS VARCHAR)) AS bin_d,
       |         CAST(substr(CAST(x AS VARCHAR), 1, 2) AS BIGINT) AS bin_lead,
       |         CAST(COUNT(*) AS BIGINT) AS cnt
       |  FROM t GROUP BY 1, 2),
       |c AS (SELECT *, SUM(cnt) OVER (ORDER BY bin_d, bin_lead) AS cum,
       |         SUM(cnt) OVER () AS n FROM b),
       |qv(q) AS (VALUES (CAST(0.5 AS DOUBLE)), (CAST(0.9 AS DOUBLE)),
       |                 (CAST(0.99 AS DOUBLE))),
       |hit AS (SELECT qv.q, MIN(c.bin_d * 100 + c.bin_lead) AS k
       |  FROM c, qv
       |  WHERE c.cum >= GREATEST(CAST(CEIL(qv.q * CAST(c.n AS DOUBLE)) AS BIGINT), 1)
       |  GROUP BY 1)
       |SELECT q, CAST((k % 100) *
       |    POW(10, (k // 100) - length(CAST(k % 100 AS VARCHAR))) AS BIGINT)
       |  AS est_value
       |FROM hit ORDER BY q""".stripMargin

  private[queries] val histQuantilesOracleSql: String =
    histQuantilesOracle("documents")

  private[queries] def cmsOracle(docsFrom: String): String = {
    val bucket = (tok: String) =>
      s"CAST(('0x' || substr(md5('cms_' || CAST(row_idx AS VARCHAR) || '_' || $tok), 1, 7)) AS BIGINT) % 2048"
    s"""WITH toks AS MATERIALIZED (SELECT unnest($toksSql) AS tok FROM $docsFrom),
       |rws AS (SELECT unnest(generate_series(0, 3)) AS row_idx),
       |cms AS MATERIALIZED (
       |  SELECT row_idx, ${bucket("tok")} AS bucket,
       |         CAST(COUNT(*) AS BIGINT) AS cnt
       |  FROM toks, rws GROUP BY 1, 2),
       |probe AS (SELECT DISTINCT tok
       |  FROM (SELECT unnest($toksSql) AS tok FROM $docsFrom WHERE doc_id % 101 = 0)),
       |pb AS (SELECT tok, row_idx, ${bucket("tok")} AS bucket FROM probe, rws),
       |est AS (SELECT tok, MIN(COALESCE(cnt, 0)) AS est_freq
       |  FROM pb LEFT JOIN cms USING (row_idx, bucket) GROUP BY 1),
       |exact AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS exact_freq
       |  FROM toks GROUP BY 1)
       |SELECT tok, est_freq, COALESCE(exact_freq, 0) AS exact_freq
       |FROM est LEFT JOIN exact USING (tok) ORDER BY tok""".stripMargin
  }

  private[queries] val cmsOracleSql: String = cmsOracle("documents")

  /** The default BPE merge table as a SQL VALUES list — one Scala source
    * of truth (TA.DefaultBpeMerges) feeding engine and oracle. */
  private def bpeMergesValues: String =
    TA.DefaultBpeMerges.zipWithIndex
      .map { case ((a, b), i) => s"(${i + 1},'$a','$b')" }.mkString(",")

  /** SemDeDup oracle, parameterized on the quantizer config — the same
    * cross-join + rounded-rank assignment shape at any cell count. */
  private def semanticDedupSql(nCells: Int, threshold: String): String = {
    val rawCos =
      """list_sum(list_transform(generate_series(1, 64), i -> e.embedding[i]::DOUBLE * c.cv[i]::DOUBLE)) /
        |    (sqrt(list_sum(list_transform(e.embedding, x -> x::DOUBLE * x::DOUBLE))) *
        |     sqrt(list_sum(list_transform(c.cv, x -> x::DOUBLE * x::DOUBLE))))""".stripMargin
    s"""WITH c AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings WHERE vec_id < $nCells),
       |s AS (
       |  SELECT e.vec_id AS id, e.embedding AS v, c.cid,
       |    $rawCos AS score
       |  FROM embeddings e CROSS JOIN c),
       |best AS (
       |  SELECT id, v, cid FROM (
       |    -- rank by the ROUNDED score: Spark's Similarity.cosine rounds to
       |    -- 6 decimals before cellRanks sorts, so the oracle must tie-break
       |    -- identically or near-tie vectors land in different cells
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY id ORDER BY round(score, 6) DESC, cid) AS rn
       |    FROM s) t
       |  WHERE rn = 1)
       |SELECT a.id AS id_a, b.id AS id_b, ${cosineSql("a.v", "b.v")} AS cosine
       |FROM best a JOIN best b ON a.cid = b.cid AND a.id < b.id
       |WHERE ${cosineSql("a.v", "b.v")} >= $threshold
       |ORDER BY id_a, id_b""".stripMargin
  }

  /** Hyperplane LSH bucket — mirrors Similarity.lshBucket bit for bit. */
  private def bucketSql(v: String, planes: Int): String =
    (0 until planes).map { p =>
      s"""(CASE WHEN list_sum(list_transform(generate_series(1, 64),
         |  d -> $v[d]::DOUBLE *
         |    ((CAST(('0x' || substr(md5('plane_${p}_' || (d-1)::VARCHAR), 1, 7)) AS BIGINT) % 2001 - 1000) / 1000.0)
         |  )) > 0 THEN ${1L << p} ELSE 0 END)""".stripMargin
    }.mkString(" + ")

  /** Transitive-closure clustering oracle over the full MinHash pair
    * graph — shared by the one-shot gate and the incremental
    * (fold-new-edges-into-a-persisted-assignment) gate, which are
    * DEFINED as the same labeling. */
  private[queries] def dedupClustersOracleSql: String =
    s"""WITH RECURSIVE $minhashPairCtes,
       |edges AS (
       |  SELECT doc_a AS a, doc_b AS b FROM pairs
       |  UNION SELECT doc_b, doc_a FROM pairs),
       |reach(a, b) AS (
       |  SELECT a, b FROM edges
       |  UNION
       |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
       |comp AS (SELECT a AS doc, least(a, min(b)) AS component FROM reach GROUP BY a),
       |labeled AS (
       |  SELECT d.doc_id AS doc, COALESCE(c.component, d.doc_id) AS component
       |  FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc),
       |sizes AS (SELECT component, COUNT(*) AS cluster_size FROM labeled GROUP BY component)
       |SELECT doc, component, cluster_size
       |FROM labeled JOIN sizes USING (component) ORDER BY doc""".stripMargin

  /** Quality-ranked survivor-selection oracle over the full MinHash pair
    * graph — shared by the one-shot keep-best gate and the incremental
    * (fold-new-edges-and-docs-into-a-persisted-survivor-table) gate,
    * which are DEFINED as the same labeling. */
  private[queries] def keepBestOracleSql: String =
    s"""WITH RECURSIVE $minhashPairCtes,
       |edges AS (
       |  SELECT doc_a AS a, doc_b AS b FROM pairs
       |  UNION SELECT doc_b, doc_a FROM pairs),
       |reach(a, b) AS (
       |  SELECT a, b FROM edges
       |  UNION
       |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
       |comp AS (SELECT a AS doc, least(a, min(b)) AS component FROM reach GROUP BY a),
       |qual AS (
       |  SELECT doc_id, round(
       |    least(length(text) / 500.0, 1.0) * 0.4 +
       |    greatest(0.0, 1.0 - (CASE WHEN length(text) > 0
       |      THEN (length(text) - length(regexp_replace(text, '[^A-Za-z0-9\\s]', '', 'g')))::DOUBLE / length(text)
       |      ELSE 0 END) * 5.0) * 0.3 +
       |    least((CASE WHEN len($toksSql) > 0
       |      THEN len(list_filter($toksSql,
       |        t -> t IN ('the','a','of','and','to','in','is','that','it','for')))::DOUBLE / len($toksSql)
       |      ELSE 0 END) * 4.0, 1.0) * 0.3, 6) AS quality
       |  FROM documents),
       |labeled AS (
       |  SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS component
       |  FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc)
       |SELECT doc_id, component, quality,
       |  (ROW_NUMBER() OVER (PARTITION BY component ORDER BY quality DESC, doc_id)) = 1
       |    AS is_survivor
       |FROM labeled JOIN qual USING (doc_id)
       |ORDER BY doc_id""".stripMargin

  /** Corpus Zipf-head oracle (top-25 word trigrams by occurrence, ties
    * on the n-gram string) — shared by the one-shot profile gate and
    * the incremental (fold-batch-counts-into-a-persisted-store) gate,
    * which are DEFINED as the same cut (counts are additive). */
  private[queries] def topkNgramsOracle(docsFrom: String): String =
    s"""WITH t AS (SELECT doc_id, $toksSql AS tk FROM $docsFrom),
       |g AS (SELECT doc_id, unnest(list_transform(
       |  generate_series(1, greatest(len(tk)-2, 0)),
       |  i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS ngram FROM t),
       |top AS (SELECT ngram, CAST(count(*) AS BIGINT) AS freq
       |        FROM g GROUP BY 1 ORDER BY freq DESC, ngram LIMIT 25),
       |dfq AS (SELECT ngram, CAST(count(*) AS BIGINT) AS doc_freq
       |        FROM (SELECT DISTINCT doc_id, ngram FROM g) JOIN top USING (ngram)
       |        GROUP BY 1)
       |SELECT top.ngram, top.freq, dfq.doc_freq
       |FROM top JOIN dfq USING (ngram)
       |ORDER BY top.freq DESC, top.ngram""".stripMargin

  private[queries] def topkNgramsOracleSql: String = topkNgramsOracle("documents")

  /** Word-4-gram contamination oracle (docs ≡ 0 (mod 97) are the
    * benchmark side) — shared by the one-shot flag gate and the
    * incremental (fold-new-suites-into-a-persisted-ledger) gate, which
    * are DEFINED as the same labeling over the suite union. */
  private[queries] def decontaminateOracleSql: String =
    s"""WITH toks AS (SELECT doc_id, $toksSql AS t FROM documents),
       |sh AS (SELECT doc_id, list_distinct(list_transform(
       |  generate_series(1, greatest(len(t)-3, 0)),
       |  i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3])) AS shingles FROM toks),
       |bench AS (SELECT DISTINCT unnest(shingles) AS shingle FROM sh WHERE doc_id % 97 = 0),
       |train AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh WHERE doc_id % 97 <> 0),
       |hits AS (SELECT t.doc_id, COUNT(*) AS n FROM train t JOIN bench USING (shingle) GROUP BY 1)
       |SELECT d.doc_id, COALESCE(n, 0) AS n_overlap, COALESCE(n, 0) >= 1 AS contaminated
       |FROM (SELECT doc_id FROM documents WHERE doc_id % 97 <> 0) d
       |LEFT JOIN hits USING (doc_id)
       |ORDER BY doc_id""".stripMargin

  private[queries] def hammingIncrementalOracleSql: String =
    """WITH ids AS (SELECT doc_id, 48 + doc_id % 3 AS nf FROM documents WHERE doc_id % 101 <> 0),
      |luma AS (SELECT i.doc_id, g.f,
      |    16 + (((i.doc_id % 16) * 31 + g.f * 17) % 89) * 2 +
      |    CASE WHEN i.doc_id % 80 = 0 AND g.f = i.doc_id % 47 + 1 THEN 40 ELSE 0 END AS l
      |  FROM ids i JOIN (SELECT unnest(generate_series(0, 47)) AS f) g ON g.f < i.nf),
      |bits AS (SELECT a1.doc_id, a1.f, CASE WHEN a1.l > a0.l THEN 1 ELSE 0 END AS bit
      |  FROM luma a1 JOIN luma a0 ON a1.doc_id = a0.doc_id AND a0.f = a1.f - 1
      |  WHERE a1.f BETWEEN 1 AND 47),
      |fp AS (SELECT doc_id, CAST(sum(CAST(bit AS BIGINT) << f) AS BIGINT) AS vfp FROM bits GROUP BY 1)
      |SELECT b.doc_id AS doc, s.doc_id AS store_doc,
      |  CAST(bit_count(xor(b.vfp, s.vfp)) AS INTEGER) AS hamming
      |FROM (SELECT * FROM fp WHERE doc_id % 3 <> 0) b
      |CROSS JOIN (SELECT * FROM fp WHERE doc_id % 3 = 0) s
      |WHERE bit_count(xor(b.vfp, s.vfp)) <= 2
      |ORDER BY doc, store_doc""".stripMargin

  /** Frame-level clip-ingest oracle (trims × bases under the containment
    * law, frame-key sets derived from the luma/trim plant arithmetic) —
    * shared by the batch ingest gate and its continuous (stream) form,
    * which are DEFINED as the same result: the stream's first generation
    * probes an empty store (no pairs), its second probes exactly the
    * base corpus. */
  private[queries] def framedupIncrementalOracleSql: String =
    """WITH bids AS (
      |  SELECT doc_id + 1000000 AS id, doc_id AS base, 48 + doc_id % 3 - 9 AS nf, 9 AS off
      |  FROM documents WHERE doc_id % 100 = 5 AND doc_id % 101 <> 0),
      |sids AS (
      |  SELECT doc_id AS id, doc_id AS base, 48 + doc_id % 3 AS nf, 0 AS off
      |  FROM documents WHERE doc_id % 101 <> 0),
      |bfs AS (
      |  SELECT i.id, list_distinct(list_transform(
      |    list_filter(generate_series(0, 49), f -> f % 3 = 0 AND f < i.nf),
      |    f -> 16 + (((i.base % 16) * 31 + (f + i.off) * 17) % 89) * 2 +
      |         CASE WHEN i.base % 80 = 0 AND (f + i.off) = i.base % 47 + 1 THEN 40 ELSE 0 END)) AS ks
      |  FROM bids i),
      |sfs AS (
      |  SELECT i.id, list_distinct(list_transform(
      |    list_filter(generate_series(0, 49), f -> f % 3 = 0 AND f < i.nf),
      |    f -> 16 + (((i.base % 16) * 31 + (f + i.off) * 17) % 89) * 2 +
      |         CASE WHEN i.base % 80 = 0 AND (f + i.off) = i.base % 47 + 1 THEN 40 ELSE 0 END)) AS ks
      |  FROM sids i)
      |SELECT b.id AS doc, s.id AS store_doc,
      |  CAST(len(list_intersect(b.ks, s.ks)) AS BIGINT) AS n_shared,
      |  round(len(list_intersect(b.ks, s.ks)) / least(len(b.ks), len(s.ks)), 6) AS overlap
      |FROM bfs b CROSS JOIN sfs s
      |WHERE len(list_intersect(b.ks, s.ks)) / least(len(b.ks), len(s.ks)) >= 0.9
      |ORDER BY doc, store_doc""".stripMargin

  /** Shared edit-distance candidate prefix (through `prefilt`) for the
    * two levenshtein-verified oracles. r14 sweep fix: levenshtein over
    * the raw 1.4M banded candidates at sf0.1 ran past any budget; two
    * SOUND prefilters cut it to the near-identical pairs (12.7 s for
    * the full closure, 256 verified pairs — identical output):
    *   - |len(a) − len(b)| ≤ 16 (levenshtein ≥ length difference);
    *   - |shingles(a) ∩ shingles(b)| ≥ max(|A|,|B|) − 80: one edit
    *     changes the CONTENT of at most 5 overlapping 5-char windows
    *     (an indel shifts positions, but shifted windows keep their
    *     substring content), so ≤ 16 edits disturb ≤ 80 distinct
    *     shingles; hash collisions only inflate the intersection, so
    *     the bound stays sound.
    * Stage CTEs are AS MATERIALIZED (each is consumed repeatedly).
    * Emitted WITHOUT the WITH keyword for RECURSIVE consumers.
    * `pairPredicate` picks the pair space: `a.doc < b.doc` (one-shot)
    * or a batch×store split (the r15 ingest gate). */
  private def editDistancePairCtes(
      pairPredicate: String = "a.doc < b.doc"): String =
    s"""docs_ascii AS MATERIALIZED (
       |  SELECT doc_id, regexp_replace(text, '[^\\x00-\\x7f]', '?', 'g') AS text
       |  FROM documents),
       |sh AS MATERIALIZED (SELECT doc_id AS doc, $charShinglesSql AS shs FROM docs_ascii),
       |sig AS MATERIALIZED (
       |  SELECT doc, list_transform(generate_series(0, 31), i ->
       |    CASE WHEN len(shs) = 0 THEN 2147483647
       |         ELSE list_min(list_transform(shs, h -> ((2*i+1)*h + 1000003*(i+1)) % 2147483647))
       |    END) AS sig
       |  FROM sh),
       |banded AS MATERIALIZED (
       |  SELECT doc, unnest(list_transform(generate_series(0, 7), b ->
       |    md5(b::VARCHAR || '_' || array_to_string(list_slice(sig, b*4+1, b*4+4), '_')))) AS band
       |  FROM sig),
       |cand AS MATERIALIZED (
       |  SELECT DISTINCT a.doc AS doc_a, b.doc AS doc_b
       |  FROM banded a JOIN banded b USING (band) WHERE $pairPredicate),
       |prefilt AS MATERIALIZED (
       |  SELECT doc_a, doc_b FROM cand
       |  JOIN docs_ascii la ON la.doc_id = doc_a JOIN docs_ascii lb ON lb.doc_id = doc_b
       |  JOIN sh sa ON sa.doc = doc_a JOIN sh sb ON sb.doc = doc_b
       |  WHERE abs(length(la.text) - length(lb.text)) <= 16
       |    AND len(list_intersect(sa.shs, sb.shs)) >= greatest(len(sa.shs), len(sb.shs)) - 80)""".stripMargin

  /** Shared minhash-LSH candidate/verify CTE prefix (through `pairs`)
    * for the four banded-dedup oracles. r14 shape fix for the sf0.1
    * sweep: the old form dragged both 32-element sig ARRAYS through the
    * candidate DISTINCT (1.4M rows at sf0.1 — DuckDB spent >10 min on
    * array-keyed dedup) and, being plain CTEs, re-derived the whole
    * chain at every reference. Now: cand dedups bare (doc_a, doc_b)
    * ints, the sigs join back only for the agreement verify, and the
    * stage CTEs are AS MATERIALIZED (the Spark side's localCheckpoint
    * discipline, NOTES r13) — 10.4 s for the full closure at sf0.1.
    * Emitted WITHOUT the WITH keyword so closure consumers can prefix
    * WITH RECURSIVE. */
  private def minhashPairCtes: String =
    s"""sh AS MATERIALIZED (
       |  SELECT doc_id AS doc, $charShinglesSql AS shs FROM documents),
       |sig AS MATERIALIZED (
       |  SELECT doc, list_transform(generate_series(0, 31), i ->
       |    CASE WHEN len(shs) = 0 THEN 2147483647
       |         ELSE list_min(list_transform(shs, h -> ((2*i+1)*h + 1000003*(i+1)) % 2147483647))
       |    END) AS sig
       |  FROM sh),
       |banded AS MATERIALIZED (
       |  SELECT doc, unnest(list_transform(generate_series(0, 7), b ->
       |    md5(b::VARCHAR || '_' || array_to_string(list_slice(sig, b*4+1, b*4+4), '_')))) AS band
       |  FROM sig),
       |cand AS MATERIALIZED (
       |  SELECT DISTINCT a.doc AS doc_a, b.doc AS doc_b
       |  FROM banded a JOIN banded b USING (band) WHERE a.doc < b.doc),
       |pairs AS MATERIALIZED (
       |  SELECT doc_a, doc_b, est_jaccard FROM (
       |    SELECT doc_a, doc_b,
       |      len(list_filter(generate_series(1, 32), i -> sa.sig[i] = sb.sig[i])) / 32.0 AS est_jaccard
       |    FROM cand JOIN sig sa ON cand.doc_a = sa.doc JOIN sig sb ON cand.doc_b = sb.doc) t
       |  WHERE est_jaccard >= 0.5)""".stripMargin

  def oracles: Map[String, String] = Map(
    "q_dedup_exact" ->
      """WITH h AS (SELECT doc_id, md5(text) AS content_hash FROM documents),
        |g AS (SELECT content_hash, min(doc_id) AS survivor_id, COUNT(*) AS n_copies
        |      FROM h GROUP BY content_hash)
        |SELECT doc_id, h.content_hash, n_copies, doc_id = survivor_id AS is_survivor
        |FROM h JOIN g USING (content_hash) ORDER BY doc_id""".stripMargin,

    "q_dedup_minhash_lsh" ->
      s"""WITH $minhashPairCtes
         |SELECT doc_a, doc_b, est_jaccard FROM pairs
         |ORDER BY doc_a, doc_b""".stripMargin,

    "q_dedup_clusters" -> dedupClustersOracleSql,

    // cluster maintenance under ingest is DEFINED as the one-shot
    // clustering over all pairs — the generation split is invisible to
    // the oracle (connectivity is all the star-forest store keeps)
    "q_dedup_clusters_incremental" -> dedupClustersOracleSql,

    "q_dedup_simhash" ->
      s"""WITH hashes AS (
         |  SELECT doc_id AS doc,
         |    list_transform(list_distinct($toksSql),
         |      t -> CAST(('0x' || substr(md5(t), 1, 15)) AS BIGINT)) AS hs
         |  FROM documents),
         |sh AS (
         |  SELECT doc, CAST(COALESCE(list_sum(list_transform(generate_series(0, 59), k ->
         |    CASE WHEN 2 * len(list_filter(hs, h -> ((h >> k) & 1) = 1)) > len(hs)
         |         THEN (1::BIGINT << k) ELSE 0::BIGINT END)), 0) AS BIGINT) AS sh
         |  FROM hashes),
         |blocked AS (
         |  SELECT doc, sh, unnest(list_transform(generate_series(0, 3), b ->
         |    b::VARCHAR || ':' || ((sh >> (b*15)) & 32767)::VARCHAR)) AS block
         |  FROM sh),
         |cand AS (
         |  SELECT DISTINCT a.doc AS doc_a, b.doc AS doc_b, a.sh AS sh_a, b.sh AS sh_b
         |  FROM blocked a JOIN blocked b USING (block) WHERE a.doc < b.doc)
         |SELECT doc_a, doc_b, bit_count(xor(sh_a, sh_b)) AS hamming
         |FROM cand WHERE bit_count(xor(sh_a, sh_b)) <= 6
         |ORDER BY doc_a, doc_b""".stripMargin,

    // the ingest form: batch (doc ≡ 0 mod 3) × store candidates through
    // the SAME block banding — at maxHamming 6 > nBlocks−1 the banding
    // is part of the operator's definition, so the oracle reproduces it
    "q_dedup_simhash_incremental" ->
      s"""WITH hashes AS (
         |  SELECT doc_id AS doc,
         |    list_transform(list_distinct($toksSql),
         |      t -> CAST(('0x' || substr(md5(t), 1, 15)) AS BIGINT)) AS hs
         |  FROM documents),
         |sh AS (
         |  SELECT doc, CAST(COALESCE(list_sum(list_transform(generate_series(0, 59), k ->
         |    CASE WHEN 2 * len(list_filter(hs, h -> ((h >> k) & 1) = 1)) > len(hs)
         |         THEN (1::BIGINT << k) ELSE 0::BIGINT END)), 0) AS BIGINT) AS sh
         |  FROM hashes),
         |blocked AS (
         |  SELECT doc, sh, unnest(list_transform(generate_series(0, 3), b ->
         |    b::VARCHAR || ':' || ((sh >> (b*15)) & 32767)::VARCHAR)) AS block
         |  FROM sh),
         |cand AS (
         |  SELECT DISTINCT a.doc AS doc, b.doc AS store_doc, a.sh AS sh_a, b.sh AS sh_b
         |  FROM blocked a JOIN blocked b USING (block)
         |  WHERE a.doc % 3 = 0 AND b.doc % 3 <> 0)
         |SELECT doc, store_doc, bit_count(xor(sh_a, sh_b)) AS hamming
         |FROM cand WHERE bit_count(xor(sh_a, sh_b)) <= 6
         |ORDER BY doc, store_doc""".stripMargin,

    "q_dedup_ngram_jaccard" ->
      s"""WITH sh AS (
         |  SELECT doc_id AS doc, list_distinct(list_transform(
         |    generate_series(1, greatest(len($toksSql) - 2, 0)),
         |    i -> ($toksSql)[i] || ' ' || ($toksSql)[i+1] || ' ' || ($toksSql)[i+2])) AS shingles
         |  FROM documents),
         |sizes AS (SELECT doc, len(shingles) AS n_sh FROM sh),
         |inv AS (SELECT doc, unnest(shingles) AS shingle FROM sh),
         |common AS (
         |  SELECT a.doc AS doc_a, b.doc AS doc_b, COUNT(*) AS n_common
         |  FROM inv a JOIN inv b USING (shingle) WHERE a.doc < b.doc
         |  GROUP BY 1, 2)
         |SELECT doc_a, doc_b,
         |  round(n_common * 1.0 / (sa.n_sh + sb.n_sh - n_common), 6) AS jaccard
         |FROM common
         |JOIN sizes sa ON doc_a = sa.doc
         |JOIN sizes sb ON doc_b = sb.doc
         |WHERE round(n_common * 1.0 / (sa.n_sh + sb.n_sh - n_common), 6) >= 0.4
         |ORDER BY doc_a, doc_b""".stripMargin,

    // ingest form: batch (doc ≡ 0 mod 3) × store through the same
    // distinct-shingle sets and rounded-threshold law
    "q_dedup_ngram_jaccard_incremental" ->
      s"""WITH sh AS (
         |  SELECT doc_id AS doc, list_distinct(list_transform(
         |    generate_series(1, greatest(len($toksSql) - 2, 0)),
         |    i -> ($toksSql)[i] || ' ' || ($toksSql)[i+1] || ' ' || ($toksSql)[i+2])) AS shingles
         |  FROM documents),
         |sizes AS (SELECT doc, len(shingles) AS n_sh FROM sh),
         |inv AS (SELECT doc, unnest(shingles) AS shingle FROM sh),
         |common AS (
         |  SELECT a.doc AS doc, b.doc AS store_doc, COUNT(*) AS n_common
         |  FROM inv a JOIN inv b USING (shingle)
         |  WHERE a.doc % 3 = 0 AND b.doc % 3 <> 0
         |  GROUP BY 1, 2)
         |SELECT c.doc, c.store_doc,
         |  round(n_common * 1.0 / (sa.n_sh + sb.n_sh - n_common), 6) AS jaccard
         |FROM common c
         |JOIN sizes sa ON c.doc = sa.doc
         |JOIN sizes sb ON c.store_doc = sb.doc
         |WHERE round(n_common * 1.0 / (sa.n_sh + sb.n_sh - n_common), 6) >= 0.4
         |ORDER BY c.doc, c.store_doc""".stripMargin,

    "q_dedup_keep_best" -> keepBestOracleSql,

    // survivor maintenance under ingest is DEFINED as the one-shot
    // keep-best over all docs and pairs — the store/batch split is
    // invisible to the oracle (membership + scores decide survivors)
    "q_dedup_keep_best_incremental" -> keepBestOracleSql,

    "q_dedup_incremental" -> exactIncrementalOracleSql,

    // the Bloom pre-filter is plan-only (no false negatives): identical
    // semantics, identical oracle
    "q_dedup_incremental_bloom" -> exactIncrementalOracleSql,

    "q_dedup_minhash_incremental" -> minhashIncrementalOracleSql,

    // the from-index path is DEFINED as plan-only: identical output,
    // identical oracle (the index is the same band relation, persisted)
    "q_dedup_minhash_from_index" -> minhashIncrementalOracleSql,

    "q_corpus_stats" -> corpusStatsOracleSql,
    // approx order statistics: bit-identical to the exact ranks while
    // accuracy >= the largest group — same oracle
    "q_corpus_stats_approx" -> corpusStatsOracleSql,

    // KMV: k-th smallest md5-unit hash of the distinct tokens per group;
    // (k−1)/u_k, exact count when the group has fewer than k hashes
    "q_corpus_ndv_kmv" -> kmvNdvOracleSql,

    "q_dedup_embedding" ->
      s"""WITH v AS (
         |  SELECT vec_id AS id, embedding, ${bucketSql("embedding", 4)} AS bucket
         |  FROM embeddings)
         |SELECT DISTINCT a.id AS id_a, b.id AS id_b,
         |  ${cosineSql("a.embedding", "b.embedding")} AS cosine
         |FROM v a JOIN v b USING (bucket)
         |WHERE a.id < b.id AND ${cosineSql("a.embedding", "b.embedding")} >= 0.45
         |ORDER BY id_a, id_b""".stripMargin,

    "q_decontaminate_semantic" ->
      s"""WITH ev AS (SELECT embedding FROM embeddings WHERE vec_id % 50 = 0),
         |tr AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 50 <> 0),
         |sc AS (SELECT tr.vec_id,
         |    max(${cosineSql("tr.embedding", "ev.embedding")}) AS max_eval_cosine
         |  FROM tr CROSS JOIN ev GROUP BY 1)
         |SELECT tr.vec_id, sc.max_eval_cosine,
         |  COALESCE(sc.max_eval_cosine < 0.45, TRUE) AS semantic_clean
         |FROM tr LEFT JOIN sc USING (vec_id) ORDER BY vec_id""".stripMargin,

    "q_dedup_semantic" -> semanticDedupSql(nCells = 8, threshold = "0.45"),
    "q_dedup_semantic_bigk" -> semanticDedupSql(nCells = 64, threshold = "0.4"),

    "q_sim_topk_brute" ->
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 10),
         |scored AS (
         |  SELECT query_id, e.vec_id AS neighbor_id,
         |    ${cosineSql("qv", "e.embedding")} AS cosine
         |  FROM q, embeddings e WHERE query_id <> e.vec_id)
         |SELECT query_id, rank, neighbor_id, cosine FROM (
         |  SELECT *, ROW_NUMBER() OVER (
         |    PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
         |  FROM scored) t
         |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,

    "q_sim_topk_lsh" ->
      s"""WITH v AS (
         |  SELECT vec_id, embedding, ${bucketSql("embedding", 6)} AS bucket FROM embeddings),
         |q AS (SELECT vec_id AS query_id, embedding AS qv, bucket FROM v WHERE vec_id < 10),
         |scored AS (
         |  SELECT query_id, v.vec_id AS neighbor_id,
         |    ${cosineSql("qv", "v.embedding")} AS cosine
         |  FROM q JOIN v USING (bucket) WHERE query_id <> v.vec_id)
         |SELECT query_id, rank, neighbor_id, cosine FROM (
         |  SELECT *, ROW_NUMBER() OVER (
         |    PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
         |  FROM scored) t
         |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,

    // r15 s3: learned BPE merges — unrolled count-argmax-apply replay
    // over the planted corpus (odd-run + alternating-chain adversaries)
    "q_text_bpe_train" -> bpeTrainOracleSql(8,
      "(CASE WHEN doc_id % 3 = 0 THEN text || ' lllllllllllllllllllllllllll ababababa' ELSE text END)"),

    // r15 s3: count-min sketch estimates — integer replay of the
    // row-salted md5 bucket law; the incremental gate shares it (fold
    // additivity makes the split invisible)
    "q_corpus_cms_estimate" -> cmsOracleSql,
    "q_corpus_cms_incremental" -> cmsOracleSql,
    // r17: negated-fold deletion ≡ survivor rebuild (counter linearity)
    "q_corpus_cms_forget" -> cmsOracle("(SELECT doc_id, text FROM documents WHERE doc_id % 4 <> 1)"),

    // r16: decimal log-binned histogram quantiles — the oracle replays
    // the string-shape bin law, the cumulative rank cut (DOUBLE
    // arithmetic for q·N: a DECIMAL product would round differently at
    // ties like 0.9·500), and the lower-bound decode from the encoded
    // min bin (bin_d·100 + bin_lead is monotone for 2 lead digits)
    "q_corpus_hist_quantiles" -> histQuantilesOracleSql,
    "q_corpus_hist_incremental" -> histQuantilesOracleSql,
    // r17: negated-fold deletion ≡ survivor rebuild (bin additivity)
    "q_corpus_hist_forget" -> histQuantilesOracle("(SELECT doc_id, text FROM documents WHERE doc_id % 4 <> 1)"),

    // r16: the per-language form — same law with the cum/total windows
    // partitioned by the stratum
    "q_corpus_hist_by_lang" ->
      s"""WITH t AS (SELECT lang, len($toksSql) * doc_id AS x FROM documents),
         |b AS (SELECT lang, length(CAST(x AS VARCHAR)) AS bin_d,
         |         CAST(substr(CAST(x AS VARCHAR), 1, 2) AS BIGINT) AS bin_lead,
         |         CAST(COUNT(*) AS BIGINT) AS cnt
         |  FROM t GROUP BY 1, 2, 3),
         |c AS (SELECT *,
         |         SUM(cnt) OVER (PARTITION BY lang ORDER BY bin_d, bin_lead) AS cum,
         |         SUM(cnt) OVER (PARTITION BY lang) AS n FROM b),
         |qv(q) AS (VALUES (CAST(0.5 AS DOUBLE)), (CAST(0.99 AS DOUBLE))),
         |hit AS (SELECT c.lang, qv.q, MIN(c.bin_d * 100 + c.bin_lead) AS k
         |  FROM c, qv
         |  WHERE c.cum >= GREATEST(CAST(CEIL(qv.q * CAST(c.n AS DOUBLE)) AS BIGINT), 1)
         |  GROUP BY 1, 2)
         |SELECT lang, q, CAST((k % 100) *
         |    POW(10, (k // 100) - length(CAST(k % 100 AS VARCHAR))) AS BIGINT)
         |  AS est_value
         |FROM hit ORDER BY lang, q""".stripMargin,

    // r15: exact BM25 over the posting-index artifact; the incremental
    // gate shares the law — a pure-append fold of disjoint-doc-id
    // batches is definitionally the one-shot index
    "q_retrieval_bm25_topk" -> bm25TopkOracleSql,
    "q_retrieval_bm25_incremental" -> bm25TopkOracleSql,
    "q_retrieval_bm25_shuffle" -> bm25TopkOracleSql,
    "q_retrieval_bm25_store" -> bm25TopkOracleSql,
    // pinned serving: with no concurrent writer the cut IS the current
    // state — same law, same oracle
    "q_retrieval_bm25_pinned" -> bm25TopkOracleSql,
    // the Runner-built serving table obeys the same law
    "q_retrieval_project" -> bm25TopkOracleSql,
    // r16: the two-generation microbatch ingest folds to the one-shot
    // index by the pure-append law — same serving oracle
    "q_retrieval_project_incremental" -> bm25TopkOracleSql,
    // r16: df from the additive term-stats artifact ≡ df computed
    "q_retrieval_bm25_stats" -> bm25TopkOracleSql,

    // r16: posting-store GC — serving from the compacted stores must
    // equal a rebuild over the survivors (df and N/avgdl shift when
    // docs leave, so score-level equality is the strong form); the
    // _dml twin runs the same deletion through the engine's V2
    // row-level DELETE on the bucketed graft tables
    "q_retrieval_compact" -> retrievalCompactOracleSql,
    "q_retrieval_compact_dml" -> retrievalCompactOracleSql,
    // r17: the merge-on-read twin — positional deletes, no data-file
    // rewrite (the O(deleted-rows) GC for bucketed stores)
    "q_retrieval_compact_mor" -> retrievalCompactOracleSql,
    // r17: the same survivor-rebuild serving law, with the deletion
    // running as a SCHEDULED DAG operation inside examples/retrieval_gc
    "q_retrieval_project_gc" -> retrievalCompactOracleSql,

    // survivor-rebuild oracle for the dedup-store GC project: rebuild
    // the fingerprint/signature/band stores from the surviving docs
    // (¬ ≡1 mod 4) and replay the probe report — the engine's GC'd
    // stores must serve identically
    "q_curation_project_gc" ->
      s"""WITH surv AS MATERIALIZED (
         |  SELECT doc_id, text FROM documents WHERE doc_id % 4 <> 1),
         |probes AS MATERIALIZED (
         |  SELECT doc_id AS probe_id, text FROM documents WHERE doc_id % 37 = 0),
         |hs AS MATERIALIZED (
         |  SELECT DISTINCT md5(text) AS h FROM surv WHERE text IS NOT NULL),
         |sh_s AS MATERIALIZED (
         |  SELECT doc_id AS doc, $charShinglesSql AS shs FROM surv),
         |sig_s AS MATERIALIZED (
         |  SELECT doc, list_transform(generate_series(0, 31), i ->
         |    CASE WHEN len(shs) = 0 THEN 2147483647
         |         ELSE list_min(list_transform(shs, h -> ((2*i+1)*h + 1000003*(i+1)) % 2147483647))
         |    END) AS sig
         |  FROM sh_s),
         |sh_p AS MATERIALIZED (
         |  SELECT probe_id AS doc, $charShinglesSql AS shs FROM probes),
         |sig_p AS MATERIALIZED (
         |  SELECT doc, list_transform(generate_series(0, 31), i ->
         |    CASE WHEN len(shs) = 0 THEN 2147483647
         |         ELSE list_min(list_transform(shs, h -> ((2*i+1)*h + 1000003*(i+1)) % 2147483647))
         |    END) AS sig
         |  FROM sh_p),
         |band_s AS MATERIALIZED (
         |  SELECT doc, unnest(list_transform(generate_series(0, 7), b ->
         |    md5(b::VARCHAR || '_' || array_to_string(list_slice(sig, b*4+1, b*4+4), '_')))) AS band
         |  FROM sig_s),
         |band_p AS MATERIALIZED (
         |  SELECT doc, unnest(list_transform(generate_series(0, 7), b ->
         |    md5(b::VARCHAR || '_' || array_to_string(list_slice(sig, b*4+1, b*4+4), '_')))) AS band
         |  FROM sig_p),
         |cand AS MATERIALIZED (
         |  SELECT DISTINCT p.doc AS probe_id, s.doc AS corpus_doc
         |  FROM band_p p JOIN band_s s USING (band) WHERE s.doc <> p.doc),
         |near AS MATERIALIZED (
         |  SELECT probe_id, COUNT(*) AS n_near, MAX(est) AS best
         |  FROM (
         |    SELECT c.probe_id, c.corpus_doc,
         |      len(list_filter(generate_series(1, 32), i -> sp.sig[i] = ss.sig[i])) / 32.0 AS est
         |    FROM cand c
         |    JOIN sig_p sp ON c.probe_id = sp.doc
         |    JOIN sig_s ss ON c.corpus_doc = ss.doc) t
         |  WHERE est >= 0.5
         |  GROUP BY probe_id),
         |shh_s AS MATERIALIZED (
         |  SELECT doc_id AS doc, list_transform(list_distinct($toksSql),
         |    t -> CAST(('0x' || substr(md5(t), 1, 15)) AS BIGINT)) AS hshs
         |  FROM surv),
         |shv_s AS MATERIALIZED (
         |  SELECT doc, CAST(COALESCE(list_sum(list_transform(generate_series(0, 59), k ->
         |    CASE WHEN 2 * len(list_filter(hshs, h -> ((h >> k) & 1) = 1)) > len(hshs)
         |         THEN (1::BIGINT << k) ELSE 0::BIGINT END)), 0) AS BIGINT) AS sh
         |  FROM shh_s),
         |shh_p AS MATERIALIZED (
         |  SELECT probe_id AS doc, list_transform(list_distinct($toksSql),
         |    t -> CAST(('0x' || substr(md5(t), 1, 15)) AS BIGINT)) AS hshs
         |  FROM probes),
         |shv_p AS MATERIALIZED (
         |  SELECT doc, CAST(COALESCE(list_sum(list_transform(generate_series(0, 59), k ->
         |    CASE WHEN 2 * len(list_filter(hshs, h -> ((h >> k) & 1) = 1)) > len(hshs)
         |         THEN (1::BIGINT << k) ELSE 0::BIGINT END)), 0) AS BIGINT) AS sh
         |  FROM shh_p),
         |blk_s AS MATERIALIZED (
         |  SELECT doc, sh, unnest(list_transform(generate_series(0, 3), b ->
         |    b::VARCHAR || ':' || ((sh >> (b*15)) & 32767)::VARCHAR)) AS block
         |  FROM shv_s),
         |blk_p AS MATERIALIZED (
         |  SELECT doc, sh, unnest(list_transform(generate_series(0, 3), b ->
         |    b::VARCHAR || ':' || ((sh >> (b*15)) & 32767)::VARCHAR)) AS block
         |  FROM shv_p),
         |ham AS MATERIALIZED (
         |  SELECT probe_id, COUNT(*) AS n_hamming FROM (
         |    SELECT DISTINCT p.doc AS probe_id, s.doc AS store_doc,
         |      p.sh AS sh_p, s.sh AS sh_s
         |    FROM blk_p p JOIN blk_s s USING (block) WHERE s.doc <> p.doc) t
         |  WHERE bit_count(xor(sh_p, sh_s)) <= 6
         |  GROUP BY probe_id)
         |SELECT p.probe_id,
         |  COALESCE(md5(p.text) IN (SELECT h FROM hs), false) AS known_exact,
         |  COALESCE(n.n_near, 0::BIGINT) AS n_near,
         |  COALESCE(n.best, 0.0) AS best_jaccard,
         |  COALESCE(hm.n_hamming, 0::BIGINT) AS n_hamming
         |FROM probes p
         |LEFT JOIN near n USING (probe_id)
         |LEFT JOIN ham hm USING (probe_id)
         |ORDER BY p.probe_id""".stripMargin,
    // r17: regime-2 (storage-partitioned) serving through the project —
    // only the join plan moves, the law is the shared BM25 one
    "q_retrieval_project_regime2" -> bm25TopkOracleSql,

    // r16: BM25 with the df-elision knob ON over the planted Zipf head —
    // same CTE block with the plant and the engine's df filter replayed
    "q_retrieval_bm25_stopword" ->
      s"""WITH zaug AS (SELECT doc_id,
         |    text || ' zipfa' ||
         |    (CASE WHEN doc_id % 2 = 0 THEN ' zipfb' ELSE '' END) ||
         |    (CASE WHEN doc_id % 20 = 0 THEN ' zipfc' ELSE '' END) AS text
         |  FROM documents),
         |${bm25Ctes("doc_id % 37 = 0", 4, docsFrom = "zaug",
             qExtraTerms = Seq("zipfa", "zipfb", "zipfc"),
             maxDfFraction = Some(0.3))}
         |SELECT query_id, rank, doc_id, score FROM lexranked
         |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,

    // r15 s3: known-item evaluation of the BM25 run — reciprocal rank
    // of the source document within the top 10; r16 adds the recall@k
    // triple (n_rel = 1 here) and the multi-relevant _recall twin
    "q_retrieval_eval" -> retrievalEvalOracleSql(
      "SELECT doc_id AS query_id, doc_id FROM documents WHERE doc_id % 37 = 0"),
    "q_retrieval_eval_recall" -> retrievalEvalOracleSql(
      """SELECT q.doc_id AS query_id, d.doc_id
        |  FROM documents q JOIN documents d
        |    ON d.doc_id IN (q.doc_id, q.doc_id + 1, q.doc_id + 3)
        |  WHERE q.doc_id % 37 = 0""".stripMargin),

    // r17: AP@10 over the multi-relevant fixture — Σ P@r over relevant
    // hits divided by the query's TOTAL relevant count (trec_eval)
    "q_retrieval_eval_map" ->
      s"""WITH ${bm25Ctes("doc_id % 37 = 0", 6)},
         |qrels AS (
         |  SELECT q.doc_id AS query_id, d.doc_id
         |  FROM documents q JOIN documents d
         |    ON d.doc_id IN (q.doc_id, q.doc_id + 1, q.doc_id + 3)
         |  WHERE q.doc_id % 37 = 0),
         |rel AS (SELECT DISTINCT query_id, doc_id FROM qrels),
         |hits AS (
         |  SELECT r.query_id, r.rank, row_number() OVER
         |    (PARTITION BY r.query_id ORDER BY r.rank) AS i
         |  FROM lexranked r JOIN rel q
         |    ON r.query_id = q.query_id AND r.doc_id = q.doc_id
         |  WHERE r.rank <= 10),
         |agg AS (
         |  SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_hit,
         |    SUM(CAST(i AS DOUBLE) / CAST(rank AS DOUBLE)) AS p_sum
         |  FROM hits GROUP BY 1),
         |nrel AS (SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_rel
         |  FROM rel GROUP BY 1)
         |SELECT n.query_id, n.n_rel,
         |  COALESCE(a.n_hit, CAST(0 AS BIGINT)) AS n_rel_retrieved,
         |  round(COALESCE(a.p_sum, 0.0) / CAST(n.n_rel AS DOUBLE), 6) AS ap
         |FROM nrel n LEFT JOIN agg a USING (query_id)
         |ORDER BY query_id""".stripMargin,

    // r17: nDCG@10 over the graded fixture — the oracle replays the
    // gain (2^g − 1) and the shared ln-based log₂ discount expression-
    // for-expression (the BM25 arithmetic discipline), ideal ordering
    // ties to the lower doc id like the engine's window
    "q_retrieval_eval_ndcg" ->
      s"""WITH ${bm25Ctes("doc_id % 37 = 0", 6)},
         |qrels AS (
         |  SELECT q.doc_id AS query_id, d.doc_id,
         |    CAST(CASE WHEN d.doc_id = q.doc_id THEN 3
         |              WHEN d.doc_id = q.doc_id + 1 THEN 2
         |              ELSE 1 END AS BIGINT) AS grade
         |  FROM documents q JOIN documents d
         |    ON d.doc_id IN (q.doc_id, q.doc_id + 1, q.doc_id + 3)
         |  WHERE q.doc_id % 37 = 0),
         |hits AS (
         |  SELECT r.query_id,
         |    SUM((power(2.0, CAST(g.grade AS DOUBLE)) - 1.0) /
         |        (ln(CAST(r.rank AS DOUBLE) + 1.0) / ln(2.0))) AS dcg
         |  FROM lexranked r JOIN qrels g
         |    ON r.query_id = g.query_id AND r.doc_id = g.doc_id
         |  WHERE r.rank <= 10 GROUP BY 1),
         |ideal AS (
         |  SELECT query_id,
         |    SUM((power(2.0, CAST(grade AS DOUBLE)) - 1.0) /
         |        (ln(CAST(i AS DOUBLE) + 1.0) / ln(2.0))) AS idcg
         |  FROM (SELECT query_id, grade, row_number() OVER
         |          (PARTITION BY query_id ORDER BY grade DESC, doc_id) AS i
         |        FROM qrels)
         |  WHERE i <= 10 GROUP BY 1)
         |SELECT n.query_id,
         |  round(COALESCE(h.dcg, 0.0), 6) AS dcg,
         |  round(n.idcg, 6) AS idcg,
         |  round(CASE WHEN n.idcg > 0.0
         |    THEN COALESCE(h.dcg, 0.0) / n.idcg ELSE 0.0 END, 6) AS ndcg
         |FROM ideal n LEFT JOIN hits h USING (query_id)
         |ORDER BY query_id""".stripMargin,

    // r15 s3: exact-phrase occurrences via the 3-way positional join;
    // the r16 _store twin serves from the bucketed graft table
    "q_retrieval_phrase" -> phraseOracleSql,
    "q_retrieval_phrase_store" -> phraseOracleSql,
    // r17: positional-store GC — same law over the survivors
    "q_retrieval_phrase_compact" -> phraseOracle(
      "(SELECT doc_id, text FROM documents WHERE doc_id % 4 <> 1)"),

    // r15: reciprocal-rank fusion of the BM25 top-10 and the brute
    // cosine top-10 (vec_id ≡ doc_id); 1/(60 + rank) summed over the
    // runs a document appears in, re-ranked on the rounded fused score
    "q_retrieval_hybrid_rrf" ->
      s"""WITH ${bm25Ctes("doc_id < 10", 8)},
         |q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 10),
         |vecscored AS (
         |  SELECT query_id, e.vec_id AS neighbor_id,
         |    ${cosineSql("qv", "e.embedding")} AS cosine
         |  FROM q, embeddings e WHERE query_id <> e.vec_id),
         |vecranked AS (SELECT *, ROW_NUMBER() OVER (
         |    PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
         |  FROM vecscored),
         |fused AS (
         |  SELECT query_id, doc_id,
         |    round(SUM(1.0 / (60.0 + CAST(rank AS DOUBLE))), 6) AS rrf
         |  FROM (SELECT query_id, doc_id, rank FROM lexranked WHERE rank <= 10
         |        UNION ALL
         |        SELECT query_id, neighbor_id AS doc_id, rank FROM vecranked
         |        WHERE rank <= 10)
         |  GROUP BY 1, 2)
         |SELECT query_id, rank, doc_id, rrf FROM (
         |  SELECT *, row_number() OVER (
         |    PARTITION BY query_id ORDER BY rrf DESC, doc_id) AS rank
         |  FROM fused) f
         |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,

    "q_text_tokens" -> {
      val plant = "CASE WHEN doc_id % 9 = 0 THEN text || ' llll banana needed papa cocoa success' ELSE text END"
      val ptoks = toksSql.replace("text", "(" + plant + ")")
      s"""WITH RECURSIVE
         |${bpeCountCtes("(" + plant + ")")}
         |SELECT d.doc_id,
         |  len($ptoks) AS ws_tokens,
         |  len(regexp_extract_all(($plant), '[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]')) AS pre_tokens,
         |  CASE WHEN d.text IS NULL THEN NULL
         |       ELSE CAST(COALESCE(c.bpe, 0) AS INTEGER) END AS bpe_tokens
         |FROM documents d LEFT JOIN cnt c USING (doc_id) ORDER BY d.doc_id""".stripMargin
    },

    "q_text_langid" -> {
      val scores = TA.stopwords.map { case (lang, words) =>
        val inList = words.map(w => s"'$w'").mkString(", ")
        s"len(list_filter($toksSql, t -> t IN ($inList))) AS score_$lang"
      }.mkString(",\n  ")
      val best = s"greatest(${TA.stopwords.map(l => s"score_${l._1}").mkString(", ")})"
      val pick = TA.stopwords.map { case (lang, _) =>
        s"WHEN score_$lang = $best AND $best > 0 THEN '$lang'"
      }.mkString("\n    ")
      s"""WITH scored AS (
         |  SELECT doc_id, lang AS declared_lang,
         |  $scores
         |  FROM documents)
         |SELECT doc_id, declared_lang, score_en,
         |  CASE $pick ELSE 'und' END AS predicted_lang
         |FROM scored ORDER BY doc_id""".stripMargin
    },

    "q_text_quality" ->
      s"""WITH f AS (
         |  SELECT doc_id,
         |    length(text)::DOUBLE AS n,
         |    len($toksSql)::DOUBLE AS n_tok,
         |    (length(text) - length(regexp_replace(text, '[^A-Za-z0-9\\s]', '', 'g')))::DOUBLE AS punct,
         |    len(list_filter($toksSql,
         |      t -> t IN ('the','a','of','and','to','in','is','that','it','for')))::DOUBLE AS stop_hits
         |  FROM documents)
         |SELECT doc_id,
         |  round(n, 6) AS n_chars,
         |  round(n_tok, 6) AS n_tokens,
         |  round(CASE WHEN n > 0 THEN punct / n ELSE 0 END, 6) AS punct_ratio,
         |  round(CASE WHEN n_tok > 0 THEN stop_hits / n_tok ELSE 0 END, 6) AS stopword_ratio,
         |  round(CASE WHEN n_tok > 0 THEN (n - (n_tok - 1)) / n_tok ELSE 0 END, 6) AS mean_token_len,
         |  round(
         |    least(n / 500.0, 1.0) * 0.4 +
         |    greatest(0.0, 1.0 - (CASE WHEN n > 0 THEN punct / n ELSE 0 END) * 5.0) * 0.3 +
         |    least((CASE WHEN n_tok > 0 THEN stop_hits / n_tok ELSE 0 END) * 4.0, 1.0) * 0.3, 6) AS quality
         |FROM f ORDER BY doc_id""".stripMargin,

    "q_text_fingerprint" ->
      s"""SELECT doc_id,
         |  md5(array_to_string(list_sort(list_distinct(
         |    string_split_regex(trim(lower(text)), '\\s+'))), ' ')) AS fingerprint
         |FROM documents ORDER BY doc_id""".stripMargin,

    // the same (token, weight) relation as VALUES; decimal sums keep the
    // fold bit-exact, z compares as pure arithmetic (no exp in the gate)
    "q_text_classifier" ->
      s"""WITH w(tok, wt) AS (SELECT * FROM (VALUES $classifierWeightsValues)),
         |t AS (SELECT doc_id, unnest($toksSql) AS tok FROM documents),
         |s AS (SELECT t.doc_id, count(*) AS n,
         |  CAST(SUM(CAST(COALESCE(w.wt, 0) AS DECIMAL(18,6))) AS DOUBLE) AS ws
         |  FROM t LEFT JOIN w ON t.tok = w.tok GROUP BY t.doc_id)
         |SELECT d.doc_id,
         |  CAST(COALESCE(s.n, 0) AS BIGINT) AS n_tokens,
         |  round(0.0 + CASE WHEN s.n > 0 THEN ws / s.n ELSE 0.0 END, 6) AS quality_z,
         |  round(0.0 + CASE WHEN s.n > 0 THEN ws / s.n ELSE 0.0 END, 6) >= 0.03 AS keep
         |FROM documents d LEFT JOIN s USING (doc_id) ORDER BY d.doc_id""".stripMargin,

    "q_text_unigram_logprob" ->
      s"""WITH tr AS (SELECT doc_id, unnest($toksSql) AS tok FROM documents),
         |tot AS (SELECT COUNT(*)::DOUBLE AS total FROM tr),
         |vocab AS (SELECT tok, COUNT(*) AS tf FROM tr GROUP BY 1),
         |scored AS (
         |  SELECT doc_id, COUNT(*) AS n_tokens, sum(ln(tf / total)) AS sum_lp
         |  FROM tr JOIN vocab USING (tok) CROSS JOIN tot GROUP BY 1)
         |SELECT d.doc_id, CAST(COALESCE(n_tokens, 0) AS BIGINT) AS n_tokens,
         |  round(CASE WHEN COALESCE(n_tokens, 0) > 0
         |    THEN sum_lp / n_tokens ELSE 0.0 END, 6) AS avg_logprob
         |FROM documents d LEFT JOIN scored USING (doc_id) ORDER BY doc_id""".stripMargin,

    "q_text_gopher_quality" -> {
      val ptoks = """(CASE WHEN trim(ptext) = '' THEN CAST([] AS VARCHAR[])
                    | ELSE string_split_regex(trim(ptext), '\s+') END)""".stripMargin
      s"""WITH aug AS (SELECT doc_id, text ||
         |  (CASE WHEN doc_id % 11 = 0 THEN chr(10) || '- bullet one' || chr(10) || '- bullet two' || chr(10) || '* bullet three' ELSE '' END) ||
         |  (CASE WHEN doc_id % 13 = 0 THEN chr(10) || 'trailing thought...' ELSE '' END) ||
         |  (CASE WHEN doc_id % 17 = 0 THEN ' ### #hash zz11 42' ELSE '' END) AS ptext
         |  FROM documents),
         |t AS (SELECT doc_id, ptext, $ptoks AS tk,
         |  string_split(ptext, chr(10)) AS lines FROM aug),
         |f AS (SELECT doc_id,
         |  CAST(len(tk) AS BIGINT) AS n_words,
         |  round(CASE WHEN len(tk) > 0 THEN list_sum(list_transform(tk, x -> length(x)))::DOUBLE / len(tk) ELSE 0.0 END, 6) AS mean_word_len,
         |  round(CASE WHEN len(tk) > 0 THEN
         |    ((length(ptext) - length(replace(ptext, '#', ''))) / 1)::DOUBLE / len(tk) ELSE 0.0 END, 6) AS hash_ratio,
         |  round(CASE WHEN len(tk) > 0 THEN
         |    ((length(ptext) - length(replace(ptext, '...', ''))) / 3 +
         |     (length(ptext) - length(replace(ptext, '…', ''))) / 1)::DOUBLE / len(tk) ELSE 0.0 END, 6) AS ellipsis_ratio,
         |  round(CASE WHEN len(lines) > 0 THEN
         |    len(list_filter(lines, l -> regexp_matches(trim(l), '^[-*•]')))::DOUBLE / len(lines) ELSE 0.0 END, 6) AS bullet_frac,
         |  round(CASE WHEN len(lines) > 0 THEN
         |    len(list_filter(lines, l -> regexp_matches(trim(l), '(\\.\\.\\.|…)$$')))::DOUBLE / len(lines) ELSE 0.0 END, 6) AS ellipsis_frac,
         |  round(CASE WHEN len(tk) > 0 THEN
         |    len(list_filter(tk, x -> regexp_matches(x, '[A-Za-z]')))::DOUBLE / len(tk) ELSE 0.0 END, 6) AS alpha_frac,
         |  CAST(len(list_intersect(list_distinct(list_transform(tk, x -> lower(x))),
         |    ['the','be','to','of','and','that','have','with'])) AS BIGINT) AS n_stop_types
         |  FROM t)
         |SELECT doc_id, n_words, mean_word_len, hash_ratio, ellipsis_ratio, bullet_frac, ellipsis_frac, alpha_frac, n_stop_types,
         |  (n_words >= 50 AND n_words <= 100000 AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
         |   AND hash_ratio <= 0.1 AND ellipsis_ratio <= 0.1 AND bullet_frac <= 0.5 AND ellipsis_frac <= 0.3
         |   AND alpha_frac >= 0.8 AND n_stop_types >= 1) AS gopher_keep
         |FROM f ORDER BY doc_id""".stripMargin
    },

    "q_text_repetition" ->
      s"""WITH toks AS (SELECT doc_id, $toksSql AS t FROM documents),
         |base AS (SELECT doc_id, len(t) AS n_tokens FROM toks),
         |bg AS (SELECT doc_id, unnest(list_transform(generate_series(1, greatest(len(t)-1, 0)),
         |  i -> t[i] || ' ' || t[i+1])) AS g FROM toks),
         |bgs AS (SELECT doc_id, max(c) AS top2, sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS dup2
         |  FROM (SELECT doc_id, g, COUNT(*) AS c FROM bg GROUP BY 1, 2) GROUP BY 1),
         |tg AS (SELECT doc_id, unnest(list_transform(generate_series(1, greatest(len(t)-2, 0)),
         |  i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS g FROM toks),
         |tgs AS (SELECT doc_id, max(c) AS top3
         |  FROM (SELECT doc_id, g, COUNT(*) AS c FROM tg GROUP BY 1, 2) GROUP BY 1),
         |f AS (
         |  SELECT b.doc_id, b.n_tokens,
         |    round(CASE WHEN b.n_tokens > 0
         |      THEN least(COALESCE(top2, 0) * 2.0 / b.n_tokens, 1.0) ELSE 0.0 END, 6) AS top_bigram_frac,
         |    round(CASE WHEN b.n_tokens > 0
         |      THEN least(COALESCE(top3, 0) * 3.0 / b.n_tokens, 1.0) ELSE 0.0 END, 6) AS top_trigram_frac,
         |    round(CASE WHEN b.n_tokens > 1
         |      THEN COALESCE(dup2, 0) * 1.0 / (b.n_tokens - 1) ELSE 0.0 END, 6) AS dup_bigram_frac
         |  FROM base b LEFT JOIN bgs USING (doc_id) LEFT JOIN tgs USING (doc_id))
         |SELECT doc_id, n_tokens, top_bigram_frac, top_trigram_frac, dup_bigram_frac,
         |  (top_bigram_frac <= 0.20 AND top_trigram_frac <= 0.18 AND dup_bigram_frac <= 0.50)
         |    AS repetition_keep
         |FROM f ORDER BY doc_id""".stripMargin,

    "q_text_boilerplate" ->
      s"""WITH toks AS (SELECT doc_id, $toksSql AS t FROM documents),
         |sh AS (SELECT doc_id, unnest(list_distinct(list_transform(
         |  generate_series(1, greatest(len(t)-2, 0)),
         |  i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS shingle FROM toks),
         |dfq AS (SELECT shingle, COUNT(*) AS df FROM sh GROUP BY 1),
         |hot AS (SELECT shingle FROM dfq WHERE df >= 5),
         |per AS (SELECT s.doc_id, COUNT(*) AS n_windows,
         |  CAST(sum(CASE WHEN h.shingle IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_boiler
         |  FROM sh s LEFT JOIN hot h USING (shingle) GROUP BY 1)
         |SELECT d.doc_id,
         |  COALESCE(n_windows, 0) AS n_windows,
         |  COALESCE(n_boiler, 0) AS n_boiler,
         |  round(CASE WHEN COALESCE(n_windows, 0) > 0
         |    THEN COALESCE(n_boiler, 0) * 1.0 / n_windows ELSE 0.0 END, 6) AS boilerplate_frac
         |FROM documents d LEFT JOIN per USING (doc_id)
         |ORDER BY doc_id""".stripMargin,

    // r10: corpus-internal exact-substring dedup — owner of each
    // duplicated 8-token window = lexicographic min (doc, start), found
    // here as min-doc-then-min-start (equivalent two-step form of the
    // engine's min(struct)); positions are 1-based here vs the engine's
    // 0-based posexplode, compared on rebuilt text + counts only
    "q_dedup_substring_excise" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS tk FROM documents),
         |w AS (SELECT doc_id, unnest(generate_series(1, greatest(len(tk)-7, 0))) AS s, tk
         |      FROM t),
         |g AS (SELECT doc_id, s,
         |        list_aggregate(tk[s:s+7], 'string_agg', ' ') AS sh FROM w),
         |own AS (SELECT sh, min(doc_id) AS odoc FROM g GROUP BY 1 HAVING COUNT(*) > 1),
         |own2 AS (SELECT g.sh, o.odoc, min(g.s) AS os
         |         FROM g JOIN own o ON g.sh = o.sh AND g.doc_id = o.odoc GROUP BY 1, 2),
         |loser AS (SELECT g.doc_id, g.s FROM g JOIN own2 o ON g.sh = o.sh
         |          WHERE NOT (g.doc_id = o.odoc AND g.s = o.os)),
         |covered AS (SELECT DISTINCT doc_id, unnest(generate_series(s, s+7)) AS pos FROM loser),
         |toks_pos AS (
         |  SELECT t.doc_id, p.pos, t.tk[p.pos] AS tok
         |  FROM t, LATERAL (SELECT unnest(generate_series(1, len(t.tk))) AS pos) p),
         |kept AS (
         |  SELECT tp.doc_id, tp.pos, tp.tok FROM toks_pos tp
         |  LEFT JOIN covered c ON tp.doc_id = c.doc_id AND tp.pos = c.pos
         |  WHERE c.pos IS NULL),
         |rebuilt AS (
         |  SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS clean_text,
         |    COUNT(*) AS n_kept
         |  FROM kept GROUP BY doc_id)
         |SELECT d.doc_id, md5(COALESCE(r.clean_text, '')) AS clean_md5,
         |  CAST(len(t.tk) AS BIGINT) AS n_tokens,
         |  CAST(len(t.tk) - COALESCE(r.n_kept, 0) AS BIGINT) AS n_removed
         |FROM documents d JOIN t USING (doc_id) LEFT JOIN rebuilt r USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin,

    // r10: fuzzy dedup — same banded candidate CTEs as
    // q_dedup_minhash_lsh over the ASCII projection (byte == codepoint
    // there, so DuckDB's byte-based levenshtein agrees with Spark's
    // codepoint-based one), Levenshtein verify instead of the estimate
    "q_dedup_edit_distance" ->
      s"""WITH ${editDistancePairCtes()}
         |SELECT doc_a, doc_b,
         |  CAST(levenshtein(ta.text, tb.text) AS INT) AS edit_distance
         |FROM prefilt
         |JOIN docs_ascii ta ON ta.doc_id = doc_a
         |JOIN docs_ascii tb ON tb.doc_id = doc_b
         |WHERE levenshtein(ta.text, tb.text) <= 16
         |ORDER BY doc_a, doc_b""".stripMargin,

    // ingest form: batch (doc ≢ 0 mod 3) × store candidates through the
    // same banding and sound prefilters
    "q_dedup_edit_distance_incremental" ->
      s"""WITH ${editDistancePairCtes("a.doc % 3 <> 0 AND b.doc % 3 = 0")}
         |SELECT doc_a AS doc, doc_b AS store_doc,
         |  CAST(levenshtein(ta.text, tb.text) AS INT) AS edit_distance
         |FROM prefilt
         |JOIN docs_ascii ta ON ta.doc_id = doc_a
         |JOIN docs_ascii tb ON tb.doc_id = doc_b
         |WHERE levenshtein(ta.text, tb.text) <= 16
         |ORDER BY doc, store_doc""".stripMargin,

    // r12 store compaction ≡ rebuild-from-survivors: per-doc distinct
    // window hashes of the live slice
    "q_dedup_compact_store" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS tk FROM documents WHERE doc_id % 4 <> 1),
         |w AS (SELECT doc_id, unnest(generate_series(1, greatest(len(tk)-7, 0))) AS s, tk
         |      FROM t),
         |g AS (SELECT DISTINCT doc_id, md5(list_aggregate(tk[s:s+7], 'string_agg', ' ')) AS h
         |      FROM w)
         |SELECT doc_id, h FROM g ORDER BY doc_id, h""".stripMargin,

    // r10: incremental substring excision — store = distinct window
    // hashes of the corpus slice; batch windows lose on store membership
    // or batch-internal ownership (min doc, then min start)
    "q_dedup_substring_incremental" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS tk FROM documents),
         |w AS (SELECT doc_id, unnest(generate_series(1, greatest(len(tk)-7, 0))) AS s, tk
         |      FROM t),
         |g AS (SELECT doc_id, s, md5(list_aggregate(tk[s:s+7], 'string_agg', ' ')) AS h FROM w),
         |store AS (SELECT DISTINCT h FROM g WHERE doc_id % 3 = 0),
         |batch AS (SELECT * FROM g WHERE doc_id % 3 <> 0),
         |fresh AS (SELECT b.* FROM batch b LEFT JOIN store st USING (h) WHERE st.h IS NULL),
         |bown AS (SELECT h, min(doc_id) AS odoc FROM fresh GROUP BY 1 HAVING COUNT(*) > 1),
         |bown2 AS (SELECT f.h, o.odoc, min(f.s) AS os
         |          FROM fresh f JOIN bown o ON f.h = o.h AND f.doc_id = o.odoc GROUP BY 1, 2),
         |loser AS (
         |  SELECT b.doc_id, b.s FROM batch b JOIN store st USING (h)
         |  UNION
         |  SELECT f.doc_id, f.s FROM fresh f JOIN bown2 o ON f.h = o.h
         |  WHERE NOT (f.doc_id = o.odoc AND f.s = o.os)),
         |covered AS (SELECT DISTINCT doc_id, unnest(generate_series(s, s+7)) AS pos FROM loser),
         |bt AS (SELECT * FROM t WHERE doc_id % 3 <> 0),
         |toks_pos AS (
         |  SELECT bt.doc_id, p.pos, bt.tk[p.pos] AS tok
         |  FROM bt, LATERAL (SELECT unnest(generate_series(1, len(bt.tk))) AS pos) p),
         |kept AS (
         |  SELECT tp.doc_id, tp.pos, tp.tok FROM toks_pos tp
         |  LEFT JOIN covered c ON tp.doc_id = c.doc_id AND tp.pos = c.pos
         |  WHERE c.pos IS NULL),
         |rebuilt AS (
         |  SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS clean, COUNT(*) AS n_kept
         |  FROM kept GROUP BY doc_id)
         |SELECT d.doc_id, md5(COALESCE(r.clean, '')) AS clean_md5,
         |  CAST(len(t2.tk) AS BIGINT) AS n_tokens,
         |  CAST(len(t2.tk) - COALESCE(r.n_kept, 0) AS BIGINT) AS n_removed
         |FROM documents d JOIN t t2 USING (doc_id) LEFT JOIN rebuilt r USING (doc_id)
         |WHERE d.doc_id % 3 <> 0
         |ORDER BY d.doc_id""".stripMargin,

    // r10: tf-idf keywords — rank on the ROUNDED score with
    // term-ascending ties so the cut is deterministic on both engines
    "q_corpus_tfidf_terms" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS tk FROM documents),
         |n AS (SELECT COUNT(*) AS n_docs FROM documents),
         |terms AS (SELECT doc_id, unnest(tk) AS term FROM t),
         |tfc AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf FROM terms GROUP BY 1, 2),
         |dfc AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df
         |        FROM (SELECT DISTINCT doc_id, term FROM terms) GROUP BY 1),
         |scored AS (SELECT doc_id, term, tf, df,
         |  round(tf * ln(n.n_docs * 1.0 / df), 6) AS tfidf
         |  FROM tfc JOIN dfc USING (term), n),
         |ranked AS (SELECT *, row_number() OVER
         |  (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rn FROM scored)
         |SELECT doc_id, term, tf, df, tfidf FROM ranked WHERE rn <= 3
         |ORDER BY doc_id, tfidf DESC, term""".stripMargin,

    // r10: line-level boilerplate excision — df counts each DOCUMENT
    // once (DISTINCT doc_id, line before the count), the engine's
    // per-doc-distinct contract
    "q_text_strip_boilerplate" ->
      s"""WITH aug AS (
         |  SELECT doc_id, text ||
         |    (CASE WHEN doc_id % 3 = 0
         |      THEN chr(10) || 'subscribe to our newsletter today' ||
         |           chr(10) || 'all rights reserved acme corp' ELSE '' END) ||
         |    (CASE WHEN doc_id % 5 = 0
         |      THEN chr(10) || 'document footnote ' || doc_id::VARCHAR ELSE '' END)
         |    AS ltext
         |  FROM documents),
         |rawlines AS (
         |  SELECT doc_id, ln, line AS raw, trim(line) AS tline
         |  FROM (SELECT doc_id, unnest(string_split(ltext, chr(10))) AS line,
         |               generate_subscripts(string_split(ltext, chr(10)), 1) AS ln
         |        FROM aug)),
         |nb AS (SELECT * FROM rawlines WHERE tline <> ''),
         |dfq AS (SELECT tline, COUNT(*) AS df
         |        FROM (SELECT DISTINCT doc_id, tline FROM nb) GROUP BY 1),
         |hot AS (SELECT tline FROM dfq WHERE df >= 5),
         |keptl AS (
         |  SELECT r.doc_id, r.ln, r.raw FROM rawlines r
         |  LEFT JOIN hot h ON r.tline = h.tline WHERE h.tline IS NULL),
         |rebuilt AS (
         |  SELECT doc_id, string_agg(raw, chr(10) ORDER BY ln) AS clean_text,
         |    CAST(sum(CASE WHEN trim(raw) <> '' THEN 1 ELSE 0 END) AS BIGINT) AS n_kept_nb
         |  FROM keptl GROUP BY doc_id),
         |nl AS (SELECT doc_id, COUNT(*) AS n_lines FROM nb GROUP BY 1)
         |SELECT a.doc_id, md5(COALESCE(r.clean_text, '')) AS clean_md5,
         |  CAST(COALESCE(nl.n_lines, 0) AS BIGINT) AS n_lines,
         |  CAST(COALESCE(nl.n_lines, 0) - COALESCE(r.n_kept_nb, 0) AS BIGINT) AS n_removed
         |FROM aug a LEFT JOIN rebuilt r USING (doc_id) LEFT JOIN nl USING (doc_id)
         |ORDER BY a.doc_id""".stripMargin,

    // r10: the three stages of q_curation_pipeline_v3 replayed in order —
    // line df excision, NFC canonicalization, window-ownership excision
    "q_curation_pipeline_v3" ->
      s"""WITH aug AS (
         |  SELECT doc_id, text ||
         |    (CASE WHEN doc_id % 4 = 0
         |      THEN ' caf' || chr(101) || chr(769) || ' finale' ELSE '' END) ||
         |    (CASE WHEN doc_id % 3 = 0
         |      THEN chr(10) || 'subscribe to our newsletter today' ||
         |           chr(10) || 'all rights reserved acme corp' ELSE '' END) ||
         |    (CASE WHEN doc_id % 5 = 0
         |      THEN chr(10) || 'document footnote ' || doc_id::VARCHAR ELSE '' END)
         |    AS ltext
         |  FROM documents),
         |rawlines AS (
         |  SELECT doc_id, ln, line AS raw, trim(line) AS tline
         |  FROM (SELECT doc_id, unnest(string_split(ltext, chr(10))) AS line,
         |               generate_subscripts(string_split(ltext, chr(10)), 1) AS ln
         |        FROM aug)),
         |nb AS (SELECT * FROM rawlines WHERE tline <> ''),
         |dfq AS (SELECT tline, COUNT(*) AS df
         |        FROM (SELECT DISTINCT doc_id, tline FROM nb) GROUP BY 1),
         |hot AS (SELECT tline FROM dfq WHERE df >= 5),
         |keptl AS (SELECT r.doc_id, r.ln, r.raw FROM rawlines r
         |          LEFT JOIN hot h ON r.tline = h.tline WHERE h.tline IS NULL),
         |rebuiltl AS (SELECT doc_id, string_agg(raw, chr(10) ORDER BY ln) AS clean_text
         |             FROM keptl GROUP BY doc_id),
         |lineclean AS (SELECT a.doc_id, COALESCE(r.clean_text, '') AS ctext
         |              FROM aug a LEFT JOIN rebuiltl r USING (doc_id)),
         |norm AS (
         |  SELECT doc_id, trim(regexp_replace(regexp_replace(nfc_normalize(ctext),
         |    '[\\x00-\\x1f\\x7f' || chr(160) || chr(8199) || chr(8239) || ']', ' ', 'g'),
         |    ' +', ' ', 'g')) AS ntext
         |  FROM lineclean),
         |t AS (SELECT doc_id, CASE WHEN trim(ntext) = '' THEN CAST([] AS VARCHAR[])
         |           ELSE string_split_regex(trim(ntext), '\\s+') END AS tk FROM norm),
         |w AS (SELECT doc_id, unnest(generate_series(1, greatest(len(tk)-7, 0))) AS s, tk
         |      FROM t),
         |g AS (SELECT doc_id, s, list_aggregate(tk[s:s+7], 'string_agg', ' ') AS sh FROM w),
         |own AS (SELECT sh, min(doc_id) AS odoc FROM g GROUP BY 1 HAVING COUNT(*) > 1),
         |own2 AS (SELECT g.sh, o.odoc, min(g.s) AS os
         |         FROM g JOIN own o ON g.sh = o.sh AND g.doc_id = o.odoc GROUP BY 1, 2),
         |loser AS (SELECT g.doc_id, g.s FROM g JOIN own2 o ON g.sh = o.sh
         |          WHERE NOT (g.doc_id = o.odoc AND g.s = o.os)),
         |covered AS (SELECT DISTINCT doc_id, unnest(generate_series(s, s+7)) AS pos FROM loser),
         |toks_pos AS (
         |  SELECT t.doc_id, p.pos, t.tk[p.pos] AS tok
         |  FROM t, LATERAL (SELECT unnest(generate_series(1, len(t.tk))) AS pos) p),
         |kept2 AS (
         |  SELECT tp.doc_id, tp.pos, tp.tok FROM toks_pos tp
         |  LEFT JOIN covered c ON tp.doc_id = c.doc_id AND tp.pos = c.pos
         |  WHERE c.pos IS NULL),
         |rebuilt2 AS (
         |  SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS clean, COUNT(*) AS n_kept
         |  FROM kept2 GROUP BY doc_id)
         |SELECT d.doc_id, md5(COALESCE(r.clean, '')) AS final_md5,
         |  CAST(len(t.tk) AS BIGINT) AS n_tokens,
         |  CAST(len(t.tk) - COALESCE(r.n_kept, 0) AS BIGINT) AS n_removed
         |FROM documents d JOIN t USING (doc_id) LEFT JOIN rebuilt2 r USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin,

    // r12 fuzzy-dedup pipeline v4: banded candidates on the ASCII
    // projection, levenshtein-verified pairs (<= 16), transitive closure,
    // quality survivors — each CTE mirrors the per-stage oracles
    "q_curation_pipeline_v4" ->
      s"""WITH RECURSIVE ${editDistancePairCtes()},
         |pairs AS MATERIALIZED (
         |  SELECT doc_a, doc_b FROM prefilt
         |  JOIN docs_ascii ta ON ta.doc_id = doc_a
         |  JOIN docs_ascii tb ON tb.doc_id = doc_b
         |  WHERE levenshtein(ta.text, tb.text) <= 16),
         |edges AS (
         |  SELECT doc_a AS a, doc_b AS b FROM pairs
         |  UNION SELECT doc_b, doc_a FROM pairs),
         |reach(a, b) AS (
         |  SELECT a, b FROM edges
         |  UNION
         |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
         |comp AS (SELECT a AS doc, least(a, min(b)) AS component FROM reach GROUP BY a),
         |qual AS (
         |  SELECT doc_id, round(
         |    least(length(text) / 500.0, 1.0) * 0.4 +
         |    greatest(0.0, 1.0 - (CASE WHEN length(text) > 0
         |      THEN (length(text) - length(regexp_replace(text, '[^A-Za-z0-9\\s]', '', 'g')))::DOUBLE / length(text)
         |      ELSE 0 END) * 5.0) * 0.3 +
         |    least((CASE WHEN len($toksSql) > 0
         |      THEN len(list_filter($toksSql,
         |        t -> t IN ('the','a','of','and','to','in','is','that','it','for')))::DOUBLE / len($toksSql)
         |      ELSE 0 END) * 4.0, 1.0) * 0.3, 6) AS quality
         |  FROM documents),
         |labeled AS (
         |  SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS component
         |  FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc),
         |sizes AS (SELECT component, CAST(COUNT(*) AS BIGINT) AS cluster_size
         |          FROM labeled GROUP BY component)
         |SELECT l.doc_id, l.component, q.quality, s.cluster_size,
         |  (ROW_NUMBER() OVER (PARTITION BY l.component ORDER BY q.quality DESC, l.doc_id)) = 1
         |    AS is_survivor
         |FROM labeled l JOIN qual q USING (doc_id) JOIN sizes s USING (component)
         |ORDER BY doc_id""".stripMargin,

    // r10: intra-doc line dedup — first occurrence per trimmed line
    // within each doc; blanks never deduped; raw lines preserved
    "q_text_dedup_lines" ->
      s"""WITH aug AS (SELECT doc_id, text ||
         |  (CASE WHEN doc_id % 6 = 0
         |    THEN chr(10) || 'repeated refrain line' || chr(10) || 'middle text ' ||
         |         doc_id::VARCHAR || chr(10) || 'repeated refrain line' ELSE '' END) ||
         |  (CASE WHEN doc_id % 9 = 0 THEN chr(10) || chr(10) || 'after blank' ELSE '' END)
         |  AS ltext FROM documents),
         |rawlines AS (
         |  SELECT doc_id, ln, line AS raw, trim(line) AS tline
         |  FROM (SELECT doc_id, unnest(string_split(ltext, chr(10))) AS line,
         |               generate_subscripts(string_split(ltext, chr(10)), 1) AS ln
         |        FROM aug)),
         |ranked AS (SELECT *, ROW_NUMBER() OVER
         |  (PARTITION BY doc_id, tline ORDER BY ln) AS rn FROM rawlines),
         |keptl AS (SELECT doc_id, ln, raw, tline FROM ranked WHERE tline = '' OR rn = 1),
         |rebuilt AS (SELECT doc_id, string_agg(raw, chr(10) ORDER BY ln) AS clean_text,
         |  CAST(sum(CASE WHEN tline <> '' THEN 1 ELSE 0 END) AS BIGINT) AS n_kept_nb
         |  FROM keptl GROUP BY doc_id),
         |nb AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_lines
         |       FROM rawlines WHERE tline <> '' GROUP BY 1)
         |SELECT a.doc_id, md5(COALESCE(r.clean_text, '')) AS clean_md5,
         |  CAST(COALESCE(nb.n_lines, 0) AS BIGINT) AS n_lines,
         |  CAST(COALESCE(nb.n_lines, 0) - COALESCE(r.n_kept_nb, 0) AS BIGINT) AS n_removed
         |FROM aug a LEFT JOIN rebuilt r USING (doc_id) LEFT JOIN nb USING (doc_id)
         |ORDER BY a.doc_id""".stripMargin,

    // r10: unicode canonicalization — nfc_normalize is utf8proc's UAX #15
    // NFC, the same transform as java.text.Normalizer; control/no-break
    // chars to spaces, space runs collapsed, ends trimmed
    "q_text_normalize" ->
      s"""WITH aug AS (
         |  SELECT doc_id, text ||
         |    (CASE WHEN doc_id % 4 = 0
         |      THEN ' caf' || chr(101) || chr(769) || ' r' || chr(101) || chr(769) ||
         |           'sum' || chr(101) || chr(769) ELSE '' END) ||
         |    (CASE WHEN doc_id % 6 = 0
         |      THEN chr(9) || 'ctrl' || chr(7) || 'chars' || chr(31) || 'here' ELSE '' END) ||
         |    (CASE WHEN doc_id % 7 = 0
         |      THEN chr(160) || 'nbsp' || chr(160) || chr(160) || 'run  end ' ELSE '' END)
         |    AS ptext
         |  FROM documents),
         |norm AS (
         |  SELECT doc_id, ptext, trim(regexp_replace(regexp_replace(
         |    nfc_normalize(ptext),
         |    '[\\x00-\\x1f\\x7f' || chr(160) || chr(8199) || chr(8239) || ']', ' ', 'g'),
         |    ' +', ' ', 'g')) AS ntext
         |  FROM aug)
         |SELECT doc_id, md5(ntext) AS norm_md5,
         |  CAST(length(ntext) AS BIGINT) AS n_chars,
         |  ntext <> ptext AS changed
         |FROM norm ORDER BY doc_id""".stripMargin,

    // r10: Zipf-head profile — top-25 trigrams by occurrence, ties on
    // the phrase ascending so the rank-25 cut is deterministic
    "q_corpus_topk_ngrams" -> topkNgramsOracleSql,

    // the count store's additivity makes the fold exact — the generation
    // split is invisible to the oracle
    "q_corpus_topk_ngrams_incremental" -> topkNgramsOracleSql,
    // r17: negated-fold deletion ≡ survivor rebuild (count additivity)
    "q_corpus_topk_ngrams_forget" -> topkNgramsOracle("(SELECT doc_id, text FROM documents WHERE doc_id % 4 <> 1)"),

    // 0-based engine positions vs this oracle's 1-based list indexing:
    // both cover the same token set, and the compare is on the rebuilt
    // text + counts, not on positions
    "q_decontaminate_excise" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS tk FROM documents),
         |bsh AS (
         |  SELECT DISTINCT unnest(list_transform(generate_series(1, greatest(len(tk)-3, 0)),
         |    i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3])) AS g
         |  FROM t WHERE doc_id % 97 = 0),
         |tw AS (
         |  SELECT doc_id, unnest(generate_series(1, greatest(len(tk)-3, 0))) AS s0, tk
         |  FROM t WHERE doc_id % 97 <> 0),
         |hits AS (
         |  SELECT tw.doc_id, tw.s0 FROM tw
         |  JOIN bsh ON (tk[s0] || ' ' || tk[s0+1] || ' ' || tk[s0+2] || ' ' || tk[s0+3]) = bsh.g),
         |covered AS (
         |  SELECT DISTINCT doc_id, unnest(generate_series(s0, s0+3)) AS pos FROM hits),
         |toks_pos AS (
         |  SELECT t.doc_id, p.pos, t.tk[p.pos] AS tok
         |  FROM t, LATERAL (SELECT unnest(generate_series(1, len(t.tk))) AS pos) p
         |  WHERE t.doc_id % 97 <> 0),
         |kept AS (
         |  SELECT tp.doc_id, tp.pos, tp.tok FROM toks_pos tp
         |  LEFT JOIN covered c ON tp.doc_id = c.doc_id AND tp.pos = c.pos
         |  WHERE c.pos IS NULL),
         |rebuilt AS (
         |  SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS clean_text,
         |    COUNT(*) AS n_kept
         |  FROM kept GROUP BY doc_id)
         |SELECT d.doc_id,
         |  md5(COALESCE(r.clean_text, '')) AS clean_md5,
         |  CAST(len(t.tk) AS BIGINT) AS n_tokens,
         |  CAST(len(t.tk) - COALESCE(r.n_kept, 0) AS BIGINT) AS n_removed
         |FROM documents d JOIN t USING (doc_id) LEFT JOIN rebuilt r USING (doc_id)
         |WHERE d.doc_id % 97 <> 0
         |ORDER BY d.doc_id""".stripMargin,

    // folding benchmark suites one at a time is DEFINED as the one-shot
    // flag over their union — the suite split is invisible to the oracle
    "q_decontaminate_incremental" -> decontaminateOracleSql,

    "q_decontaminate" -> decontaminateOracleSql,

    "q_text_bigram_logprob" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS tk FROM documents),
         |uni AS (SELECT tok, CAST(count(*) AS BIGINT) AS tf
         |        FROM (SELECT unnest(tk) AS tok FROM t) u GROUP BY 1),
         |n AS (SELECT CAST(sum(tf) AS DOUBLE) AS total FROM uni),
         |big AS (SELECT doc_id, tk[i] AS w1, tk[i+1] AS w2
         |        FROM t, LATERAL (SELECT unnest(generate_series(1, greatest(len(tk)-1, 0))) AS i) g),
         |cb AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c2 FROM big GROUP BY 1, 2),
         |cp AS (SELECT w1, CAST(count(*) AS BIGINT) AS c1 FROM big GROUP BY 1),
         |scored AS (
         |  SELECT b.doc_id,
         |    ln(0.7 * cb.c2 / cp.c1 + (1.0 - 0.7) * uni.tf / n.total) AS lp
         |  FROM big b JOIN cb ON b.w1 = cb.w1 AND b.w2 = cb.w2
         |  JOIN cp ON b.w1 = cp.w1
         |  JOIN uni ON b.w2 = uni.tok, n),
         |agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
         |        round(avg(lp), 6) AS avg_logprob2 FROM scored GROUP BY 1)
         |SELECT d.doc_id, COALESCE(a.n_bigrams, 0) AS n_bigrams,
         |  COALESCE(a.avg_logprob2, 0.0) AS avg_logprob2
         |FROM documents d LEFT JOIN agg a USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin,

    // external-LM scoring: the held slice's MLE logprob tables, then
    // every doc scored with left joins + the exp(-20) OOV floor —
    // exp/ln roundtrips must agree bitwise with the JVM (empirically
    // pinned by this gate, like ln in the unigram/bigram oracles)
    "q_text_lm_external" ->
      s"""$externalLmCtes
         |SELECT d.doc_id, COALESCE(a.n_bigrams, 0) AS n_bigrams,
         |  COALESCE(a.avg_logprob_lm, 0.0) AS avg_logprob_lm
         |FROM documents d LEFT JOIN agg a USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin,
    // both declared LM-join regimes produce the same rows — same oracle
    "q_text_lm_external_bcast" ->
      s"""$externalLmCtes
         |SELECT d.doc_id, COALESCE(a.n_bigrams, 0) AS n_bigrams,
         |  COALESCE(a.avg_logprob_lm, 0.0) AS avg_logprob_lm
         |FROM documents d LEFT JOIN agg a USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin,
    "q_text_lm_external_shuffle" ->
      s"""$externalLmCtes
         |SELECT d.doc_id, COALESCE(a.n_bigrams, 0) AS n_bigrams,
         |  COALESCE(a.avg_logprob_lm, 0.0) AS avg_logprob_lm
         |FROM documents d LEFT JOIN agg a USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin,

    // per-language perplexity terciles over the external-LM scores:
    // value-based rank cutoffs (value at rank ceil(n*f) of lp DESC),
    // ties take the better bucket, 0-bigram docs excluded
    "q_text_ppl_buckets" -> pplBucketsOracleSql,
    // approx cutoff path (the default as of r14) and the opt-in exact
    // rank twin: bit-identical to the exact per-language rank
    // while accuracy >= the largest language — same oracle
    "q_text_ppl_buckets_exact" -> pplBucketsOracleSql,
    "q_text_ppl_buckets_approx" -> pplBucketsOracleSql,

    // composed v5: LM score → per-language perplexity buckets → drop the
    // tail tercile → token-balanced 8-shard assignment of the survivors;
    // every stage an independently-gated operator, one full reproduction
    // v6: the full-recipe audit — the CTE chain replays all eight stages
    // with each population-dependent stage re-scoped to its predecessor's
    // survivors, then the per-doc ledger and its attrition aggregation
    "q_curation_pipeline_v6" ->
      s"""$curationV6AuditCtes
         |SELECT doc_id, lang, lang_ok, gopher_ok, rep_ok, block_ok,
         |  ppl_bucket, CAST(dsir_keep AS VARCHAR) AS dsir_keep,
         |  CAST(dup_survivor AS VARCHAR) AS dup_survivor,
         |  CAST(contaminated AS VARCHAR) AS contaminated, drop_stage,
         |  drop_stage IS NULL AS final_keep
         |FROM audit ORDER BY doc_id""".stripMargin,

    // r14: the DAG-project form materializes the SAME recipe stage by
    // stage through the Runner — identical audit, identical oracle
    "q_curation_project" ->
      s"""$curationV6AuditCtes
         |SELECT doc_id, lang, lang_ok, gopher_ok, rep_ok, block_ok,
         |  ppl_bucket, CAST(dsir_keep AS VARCHAR) AS dsir_keep,
         |  CAST(dup_survivor AS VARCHAR) AS dup_survivor,
         |  CAST(contaminated AS VARCHAR) AS contaminated, drop_stage,
         |  drop_stage IS NULL AS final_keep
         |FROM audit ORDER BY doc_id""".stripMargin,

    // r15: the incremental-ingest DAG project — the accumulated audit
    // table vs the two-generation replay (see curationIncrementalAuditCtes)
    "q_curation_project_incremental" ->
      s"""$curationIncrementalAuditCtes
         |SELECT doc_id, event_ts, lang, lang_ok, gopher_ok, rep_ok, block_ok,
         |  ppl_bucket, CAST(dsir_keep AS VARCHAR) AS dsir_keep,
         |  CAST(dup_prior AS VARCHAR) AS dup_prior, drop_stage,
         |  drop_stage IS NULL AS final_keep
         |FROM audit ORDER BY doc_id""".stripMargin,

    "q_curation_pipeline_v6_stats" ->
      s"""$curationV6AuditCtes,
         |ao AS (SELECT *, CASE drop_stage WHEN 'langid' THEN 1 WHEN 'gopher' THEN 2
         |  WHEN 'repetition' THEN 3 WHEN 'blocklist' THEN 4 WHEN 'perplexity' THEN 5
         |  WHEN 'dsir' THEN 6 WHEN 'dedup' THEN 7 WHEN 'decontamination' THEN 8
         |  ELSE 9 END AS dord FROM audit)
         |SELECT CAST(s.ord AS BIGINT) AS stage_order, s.name AS stage,
         |  CAST(count(*) FILTER (WHERE ao.dord >= s.ord) AS BIGINT) AS n_in,
         |  CAST(count(*) FILTER (WHERE ao.dord > s.ord) AS BIGINT) AS n_kept
         |FROM (VALUES (1,'langid'),(2,'gopher'),(3,'repetition'),(4,'blocklist'),
         |  (5,'perplexity'),(6,'dsir'),(7,'dedup'),(8,'decontamination')) AS s(ord, name), ao
         |GROUP BY s.ord, s.name ORDER BY stage_order""".stripMargin,

    "q_curation_pipeline_v5" ->
      s"""$pplBucketCtes,
         |kept AS (
         |  SELECT b.doc_id, b.lang, b.ppl_bucket,
         |    CAST(len(t.tk) AS BIGINT) AS n_tokens
         |  FROM bucketed b JOIN t USING (doc_id) WHERE b.ppl_bucket <> 'tail'),
         |hsh AS (SELECT kept.*,
         |  CAST(('0x' || substr(md5(doc_id::VARCHAR), 1, 7)) AS BIGINT)
         |    / CAST(268435456 AS DOUBLE) AS hk FROM kept),
         |cum AS (SELECT doc_id, lang, ppl_bucket, n_tokens,
         |  CAST(sum(n_tokens) OVER (ORDER BY hk, doc_id ROWS UNBOUNDED PRECEDING)
         |    - n_tokens AS BIGINT) AS strt FROM hsh),
         |tot AS (SELECT GREATEST(CAST((COALESCE(sum(n_tokens), 0) + 7) // 8 AS BIGINT), 1) AS ssz FROM hsh)
         |SELECT doc_id, lang, ppl_bucket, n_tokens,
         |  CAST(LEAST(strt // ssz, 7) AS BIGINT) AS shard_id,
         |  CAST(strt - LEAST(strt // ssz, 7) * ssz AS BIGINT) AS shard_offset
         |FROM cum, tot ORDER BY doc_id""".stripMargin,

    "q_text_blocklist" ->
      s"""WITH aug AS (SELECT doc_id, text ||
         |  (CASE WHEN doc_id % 13 = 0 THEN ' badword1 normal badword2' ELSE '' END) ||
         |  (CASE WHEN doc_id % 17 = 0 THEN ' badword1' ELSE '' END) AS ptext
         |  FROM documents),
         |t AS (SELECT doc_id, CASE WHEN trim(ptext) = '' THEN CAST([] AS VARCHAR[])
         |       ELSE string_split_regex(trim(ptext), '\\s+') END AS tk FROM aug),
         |x AS (SELECT doc_id, unnest(tk) AS tok FROM t),
         |b AS (SELECT unnest(['badword1', 'badword2', 'badword3']) AS w),
         |hits AS (SELECT x.doc_id, CAST(count(*) AS BIGINT) AS n_blocked
         |  FROM x JOIN b ON lower(x.tok) = b.w GROUP BY 1)
         |SELECT a.doc_id, COALESCE(h.n_blocked, 0) AS n_blocked,
         |  COALESCE(h.n_blocked, 0) = 0 AS blocklist_keep
         |FROM aug a LEFT JOIN hits h USING (doc_id) ORDER BY a.doc_id""".stripMargin,

    "q_text_pii" -> {
      val email = """[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"""
      val ip = """\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"""
      val phone = """\b\d{3}[-.]\d{3}[-.]\d{4}\b"""
      s"""WITH aug AS (
         |  SELECT doc_id, text ||
         |    CASE WHEN doc_id % 5 = 0
         |      THEN ' contact user' || doc_id::VARCHAR || '@example.com' ELSE '' END ||
         |    CASE WHEN doc_id % 7 = 0
         |      THEN ' call 555-' || (doc_id % 900 + 100)::VARCHAR || '-4567' ELSE '' END ||
         |    CASE WHEN doc_id % 11 = 0
         |      THEN ' from 192.168.' || (doc_id % 256)::VARCHAR || '.' || (doc_id % 100)::VARCHAR
         |      ELSE '' END AS ptext
         |  FROM documents),
         |r1 AS (SELECT doc_id, ptext,
         |  regexp_replace(ptext, '$email', '[EMAIL]', 'g') AS t1 FROM aug),
         |r2 AS (SELECT doc_id, ptext, t1,
         |  regexp_replace(t1, '$ip', '[IP]', 'g') AS t2 FROM r1)
         |SELECT doc_id,
         |  len(regexp_extract_all(ptext, '$email')) AS n_emails,
         |  len(regexp_extract_all(t1, '$ip')) AS n_ips,
         |  len(regexp_extract_all(t2, '$phone')) AS n_phones,
         |  md5(regexp_replace(t2, '$phone', '[PHONE]', 'g')) AS redacted_md5
         |FROM r2 ORDER BY doc_id""".stripMargin
    },

    "q_text_urls" -> {
      val url = """https?://([A-Za-z0-9.-]+)[^\s]*"""
      val blocked = (0 until 10).map(i => s"'spam$i.example.com'").mkString(", ")
      s"""WITH aug AS (
         |  SELECT doc_id, text ||
         |    CASE WHEN doc_id % 6 = 0
         |      THEN ' see https://spam' || (doc_id % 10)::VARCHAR || '.example.com/page'
         |      ELSE '' END ||
         |    CASE WHEN doc_id % 15 = 0 THEN ' ref http://ok.test.org/a?x=1' ELSE '' END AS utext
         |  FROM documents)
         |SELECT doc_id,
         |  len(regexp_extract_all(utext, '$url', 1)) AS n_urls,
         |  len(list_filter(regexp_extract_all(utext, '$url', 1),
         |    d -> d IN ($blocked))) AS n_blocked,
         |  len(list_filter(regexp_extract_all(utext, '$url', 1),
         |    d -> d IN ($blocked))) = 0 AS url_keep
         |FROM aug ORDER BY doc_id""".stripMargin
    },

    "q_mix_sources" ->
      """SELECT doc_id, source FROM documents
        |WHERE CAST(('0x' || substr(md5(doc_id::VARCHAR), 1, 7)) AS BIGINT)
        |      / CAST(268435456 AS DOUBLE)
        |  < CASE source WHEN 'src0' THEN 1.0 WHEN 'src1' THEN 0.75
        |                WHEN 'src2' THEN 0.5 WHEN 'src3' THEN 0.25 ELSE 0.1 END
        |ORDER BY doc_id""".stripMargin,

    "q_curation_pipeline_v2" ->
      s"""WITH $markupStrippedCtes,
         |w(tok, wt) AS (SELECT * FROM (VALUES $classifierWeightsValues)),
         |t AS (SELECT doc_id, unnest($cleanToksSql) AS tok FROM stripped),
         |sagg AS (SELECT t.doc_id, count(*) AS n,
         |  CAST(SUM(CAST(COALESCE(w.wt, 0) AS DECIMAL(18,6))) AS DOUBLE) AS ws
         |  FROM t LEFT JOIN w ON t.tok = w.tok GROUP BY t.doc_id),
         |keep AS (SELECT s.doc_id FROM stripped s LEFT JOIN sagg USING (doc_id)
         |  WHERE round(0.0 + CASE WHEN sagg.n > 0 THEN ws / sagg.n ELSE 0.0 END, 6) >= 0.03),
         |tk AS (SELECT s.doc_id, ${cleanToksSql.replace("ctext", "s.ctext")} AS toks
         |       FROM stripped s JOIN keep USING (doc_id)),
         |c AS (SELECT doc_id, toks, len(toks) AS n,
         |  unnest(generate_series(0, CAST(ceil(len(toks) / 24.0) AS INT) - 1)) AS chunk_id
         |  FROM tk WHERE len(toks) > 0)
         |SELECT doc_id, CAST(chunk_id AS INTEGER) AS chunk_id,
         |  array_to_string(list_slice(toks, chunk_id*24 + 1, chunk_id*24 + 32), ' ') AS chunk_text,
         |  CAST(least(32, n - chunk_id*24) AS INTEGER) AS n_chunk_tokens
         |FROM c ORDER BY doc_id, chunk_id""".stripMargin,

    "q_text_strip_markup" ->
      s"""WITH $markupStrippedCtes
        |SELECT doc_id,
        |  len(regexp_extract_all(mtext, '<[^>]*>')) AS n_tags,
        |  md5(ctext) AS clean_md5,
        |  length(ctext) AS clean_len
        |FROM stripped ORDER BY doc_id""".stripMargin,

    "q_chunk_tokens" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |c AS (
         |  SELECT doc_id, toks, len(toks) AS n,
         |    unnest(generate_series(0, CAST(ceil(len(toks) / 24.0) AS INT) - 1)) AS chunk_id
         |  FROM t WHERE len(toks) > 0)
         |SELECT doc_id, CAST(chunk_id AS INTEGER) AS chunk_id,
         |  array_to_string(list_slice(toks, chunk_id*24 + 1, chunk_id*24 + 32), ' ') AS chunk_text,
         |  CAST(least(32, n - chunk_id*24) AS INTEGER) AS n_chunk_tokens
         |FROM c ORDER BY doc_id, chunk_id""".stripMargin,

    "q_mix_epochs" ->
      """WITH w AS (
        |  SELECT doc_id, source,
        |    CASE source WHEN 'src0' THEN 2.5 WHEN 'src1' THEN 1.0
        |                WHEN 'src2' THEN 0.4 ELSE 0.0 END AS wt
        |  FROM documents),
        |e AS (
        |  SELECT doc_id, source, wt,
        |    unnest(generate_series(1, CAST(ceil(wt) AS INT))) AS epoch
        |  FROM w WHERE wt > 0)
        |SELECT doc_id, source, CAST(epoch AS INTEGER) AS epoch FROM e
        |WHERE epoch <= floor(wt)
        |   OR CAST(('0x' || substr(md5(doc_id::VARCHAR), 1, 7)) AS BIGINT)
        |      / CAST(268435456 AS DOUBLE) < wt - floor(wt)
        |ORDER BY doc_id, epoch""".stripMargin,

    "q_mix_temperature" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 16 < 8 THEN 'web' WHEN doc_id % 16 < 12 THEN 'books'
        |         WHEN doc_id % 16 < 14 THEN 'wiki' WHEN doc_id % 16 < 15 THEN 'code'
        |         ELSE 'papers' END AS src
        |  FROM documents),
        |c AS (SELECT src, count(*) AS n FROM d GROUP BY src),
        |m AS (SELECT SUM(pow(n, 0.5)) AS mass, SUM(n) AS total FROM c),
        |f AS (SELECT src, round(least(1.0, 0.5 * total * pow(n, 0.5) / mass / n), 6) AS keepf
        |      FROM c CROSS JOIN m)
        |SELECT d.doc_id, d.src FROM d JOIN f USING (src)
        |WHERE CAST(('0x' || substr(md5(d.doc_id::VARCHAR), 1, 7)) AS BIGINT)
        |      / CAST(268435456 AS DOUBLE) < f.keepf
        |ORDER BY d.doc_id""".stripMargin,

    "q_mix_temperature_tokens" ->
      s"""WITH d AS (
         |  SELECT doc_id,
         |    CASE WHEN doc_id % 16 < 8 THEN 'web' WHEN doc_id % 16 < 12 THEN 'books'
         |         WHEN doc_id % 16 < 14 THEN 'wiki' WHEN doc_id % 16 < 15 THEN 'code'
         |         ELSE 'papers' END AS src,
         |    CAST(len($toksSql) AS BIGINT) AS n_tokens
         |  FROM documents),
         |c AS (SELECT src, CAST(SUM(n_tokens) AS BIGINT) AS n FROM d GROUP BY src),
         |m AS (SELECT SUM(pow(n, 0.5)) AS mass, SUM(n) AS total FROM c),
         |f AS (SELECT src, round(least(1.0, 0.5 * total * pow(n, 0.5) / mass / n), 6) AS keepf
         |      FROM c CROSS JOIN m)
         |SELECT d.doc_id, d.src, d.n_tokens FROM d JOIN f USING (src)
         |WHERE CAST(('0x' || substr(md5(d.doc_id::VARCHAR), 1, 7)) AS BIGINT)
         |      / CAST(268435456 AS DOUBLE) < f.keepf
         |ORDER BY d.doc_id""".stripMargin,

    "q_sample_exact_k" ->
      """SELECT doc_id, lang FROM documents
        |ORDER BY CAST(('0x' || substr(md5(doc_id::VARCHAR), 1, 7)) AS BIGINT)
        |      / CAST(268435456 AS DOUBLE), doc_id
        |LIMIT 50""".stripMargin,

    "q_sample_fraction" ->
      """SELECT doc_id, lang FROM documents
        |WHERE CAST(('0x' || substr(md5(doc_id::VARCHAR), 1, 7)) AS BIGINT)
        |      / CAST(268435456 AS DOUBLE) < 0.25
        |ORDER BY doc_id""".stripMargin,

    "q_sample_quota" ->
      """SELECT doc_id, lang, sample_rank FROM (
        |  SELECT doc_id, lang, ROW_NUMBER() OVER (
        |    PARTITION BY lang
        |    ORDER BY CAST(('0x' || substr(md5(doc_id::VARCHAR), 1, 7)) AS BIGINT)
        |             / CAST(268435456 AS DOUBLE), doc_id) AS sample_rank
        |  FROM documents) t
        |WHERE sample_rank <= 40
        |ORDER BY lang, sample_rank""".stripMargin,

    "q_dsir_select" -> dsirSelectOracleSql,
    // the from-model / approx-cutoff paths are DEFINED as plan-only
    // variants: identical output (the model is the same bucket table,
    // persisted; the approx cutoff is bit-identical to the rank while
    // accuracy >= corpus size), so the oracle is literally the same SQL
    "q_dsir_from_model" -> dsirSelectOracleSql,
    "q_dsir_select_approx" -> dsirSelectOracleSql,
    "q_dsir_select_exact" -> dsirSelectOracleSql,


    "q_split_assign" ->
      """SELECT doc_id,
        |  CASE WHEN h < 0.9 THEN 'train' WHEN h < 0.95 THEN 'val' ELSE 'test' END AS split
        |FROM (SELECT doc_id,
        |  CAST(('0x' || substr(md5(doc_id::VARCHAR), 1, 7)) AS BIGINT)
        |    / CAST(268435456 AS DOUBLE) AS h FROM documents)
        |ORDER BY doc_id""".stripMargin,

    "q_split_cluster_safe" ->
      s"""WITH RECURSIVE $minhashPairCtes,
         |edges AS (
         |  SELECT doc_a AS a, doc_b AS b FROM pairs
         |  UNION SELECT doc_b, doc_a FROM pairs),
         |reach(a, b) AS (
         |  SELECT a, b FROM edges
         |  UNION
         |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
         |comp AS (SELECT a AS doc, least(a, min(b)) AS component FROM reach GROUP BY a),
         |keyed AS (
         |  SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS split_key
         |  FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc)
         |SELECT doc_id, split_key,
         |  CASE WHEN h < 0.9 THEN 'train' WHEN h < 0.95 THEN 'val' ELSE 'test' END AS split
         |FROM (SELECT doc_id, split_key,
         |  CAST(('0x' || substr(md5(split_key::VARCHAR), 1, 7)) AS BIGINT)
         |    / CAST(268435456 AS DOUBLE) AS h FROM keyed)
         |ORDER BY doc_id""".stripMargin,

    "q_pack_sequences" ->
      s"""WITH RECURSIVE
         |${bpeCountCtes()},
         |d AS (
         |  SELECT doc_id,
         |    CASE WHEN text IS NULL THEN NULL
         |         ELSE CAST(COALESCE(c.bpe, 0) AS BIGINT) END AS n_tokens
         |  FROM documents LEFT JOIN cnt c USING (doc_id)),
         |c AS (
         |  SELECT doc_id, n_tokens,
         |    sum(n_tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
         |      - n_tokens AS strt
         |  FROM d)
         |SELECT doc_id, n_tokens,
         |  CAST(strt // 1024 AS BIGINT) AS seq_id,
         |  CAST(strt - (strt // 1024) * 1024 AS BIGINT) AS seq_offset
         |FROM c ORDER BY doc_id""".stripMargin,

    "q_batch_by_length" ->
      s"""WITH t AS (SELECT doc_id, CAST(len($toksSql) AS BIGINT) AS n_tokens FROM documents),
         |h AS (SELECT doc_id, n_tokens, n_tokens // 16 AS length_bucket,
         |  CAST(('0x' || substr(md5(doc_id::VARCHAR), 1, 7)) AS BIGINT)
         |    / CAST(268435456 AS DOUBLE) AS hk FROM t),
         |p AS (SELECT doc_id, n_tokens, length_bucket,
         |  ROW_NUMBER() OVER (PARTITION BY length_bucket ORDER BY hk, doc_id) - 1 AS pos FROM h)
         |SELECT doc_id, n_tokens, CAST(length_bucket AS BIGINT) AS length_bucket,
         |  CAST(pos // 8 AS BIGINT) AS batch_id, CAST(pos % 8 AS BIGINT) AS batch_pos
         |FROM p ORDER BY doc_id""".stripMargin,

    "q_shard_assign" ->
      s"""WITH t AS (SELECT doc_id, CAST(len($toksSql) AS BIGINT) AS n_tokens FROM documents),
         |h AS (SELECT doc_id, n_tokens,
         |  CAST(('0x' || substr(md5(doc_id::VARCHAR), 1, 7)) AS BIGINT)
         |    / CAST(268435456 AS DOUBLE) AS hk FROM t),
         |c AS (SELECT doc_id, n_tokens,
         |  CAST(sum(n_tokens) OVER (ORDER BY hk, doc_id ROWS UNBOUNDED PRECEDING)
         |    - n_tokens AS BIGINT) AS strt FROM h),
         |tot AS (SELECT GREATEST(CAST((COALESCE(sum(n_tokens), 0) + 15) // 16 AS BIGINT), 1) AS ssz FROM h)
         |SELECT doc_id, n_tokens,
         |  CAST(LEAST(strt // ssz, 15) AS BIGINT) AS shard_id,
         |  CAST(strt - LEAST(strt // ssz, 15) * ssz AS BIGINT) AS shard_offset
         |FROM c, tot ORDER BY doc_id""".stripMargin,

    "q_train_pipeline" ->
      s"""WITH f AS (
         |  SELECT doc_id, text,
         |    length(text)::DOUBLE AS n,
         |    len($toksSql)::DOUBLE AS n_tok,
         |    (length(text) - length(regexp_replace(text, '[^A-Za-z0-9\\s]', '', 'g')))::DOUBLE AS punct,
         |    len(list_filter($toksSql,
         |      t -> t IN ('the','a','of','and','to','in','is','that','it','for')))::DOUBLE AS stop_hits
         |  FROM documents),
         |kept AS (
         |  SELECT doc_id, text FROM f
         |  WHERE round(
         |    least(n / 500.0, 1.0) * 0.4 +
         |    greatest(0.0, 1.0 - (CASE WHEN n > 0 THEN punct / n ELSE 0 END) * 5.0) * 0.3 +
         |    least((CASE WHEN n_tok > 0 THEN stop_hits / n_tok ELSE 0 END) * 4.0, 1.0) * 0.3, 6) >= 0.7),
         |surv AS (
         |  SELECT doc_id FROM (
         |    SELECT doc_id, ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
         |    FROM kept) t WHERE rn = 1),
         |tok AS (
         |  SELECT k.doc_id, CAST(len(string_split_regex(trim(k.text), '\\s+')) AS BIGINT) AS n_tokens
         |  FROM kept k JOIN surv USING (doc_id)),
         |c AS (
         |  SELECT doc_id, n_tokens,
         |    sum(n_tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) - n_tokens AS strt
         |  FROM tok)
         |SELECT doc_id, n_tokens,
         |  CAST(strt // 512 AS BIGINT) AS seq_id,
         |  CAST(strt - (strt // 512) * 512 AS BIGINT) AS seq_offset
         |FROM c ORDER BY doc_id""".stripMargin,

    "q_curation_pipeline" -> {
      val email = """[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"""
      val ip = """\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"""
      val phone = """\b\d{3}[-.]\d{3}[-.]\d{4}\b"""
      s"""WITH toks AS (SELECT doc_id, $toksSql AS t FROM documents),
         |bg AS (SELECT doc_id, unnest(list_transform(generate_series(1, greatest(len(t)-1, 0)),
         |  i -> t[i] || ' ' || t[i+1])) AS g FROM toks),
         |bgs AS (SELECT doc_id, max(c) AS top2, sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS dup2
         |  FROM (SELECT doc_id, g, COUNT(*) AS c FROM bg GROUP BY 1, 2) GROUP BY 1),
         |tg AS (SELECT doc_id, unnest(list_transform(generate_series(1, greatest(len(t)-2, 0)),
         |  i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS g FROM toks),
         |tgs AS (SELECT doc_id, max(c) AS top3
         |  FROM (SELECT doc_id, g, COUNT(*) AS c FROM tg GROUP BY 1, 2) GROUP BY 1),
         |repf AS (
         |  SELECT b.doc_id FROM (SELECT doc_id, len(t) AS n_tokens FROM toks) b
         |  LEFT JOIN bgs USING (doc_id) LEFT JOIN tgs USING (doc_id)
         |  WHERE round(CASE WHEN b.n_tokens > 0
         |      THEN least(COALESCE(top2, 0) * 2.0 / b.n_tokens, 1.0) ELSE 0.0 END, 6) <= 0.20
         |    AND round(CASE WHEN b.n_tokens > 0
         |      THEN least(COALESCE(top3, 0) * 3.0 / b.n_tokens, 1.0) ELSE 0.0 END, 6) <= 0.18
         |    AND round(CASE WHEN b.n_tokens > 1
         |      THEN COALESCE(dup2, 0) * 1.0 / (b.n_tokens - 1) ELSE 0.0 END, 6) <= 0.50),
         |qual AS (
         |  SELECT doc_id FROM (
         |    SELECT doc_id,
         |      length(text)::DOUBLE AS n,
         |      len($toksSql)::DOUBLE AS n_tok,
         |      (length(text) - length(regexp_replace(text, '[^A-Za-z0-9\\s]', '', 'g')))::DOUBLE AS punct,
         |      len(list_filter($toksSql,
         |        t -> t IN ('the','a','of','and','to','in','is','that','it','for')))::DOUBLE AS stop_hits
         |    FROM documents) f
         |  WHERE round(
         |    least(n / 500.0, 1.0) * 0.4 +
         |    greatest(0.0, 1.0 - (CASE WHEN n > 0 THEN punct / n ELSE 0 END) * 5.0) * 0.3 +
         |    least((CASE WHEN n_tok > 0 THEN stop_hits / n_tok ELSE 0 END) * 4.0, 1.0) * 0.3, 6) >= 0.7),
         |kept AS (
         |  SELECT d.doc_id, d.text FROM documents d
         |  JOIN repf USING (doc_id) JOIN qual USING (doc_id)),
         |sh AS (SELECT doc_id, list_distinct(list_transform(
         |  generate_series(1, greatest(len(t)-3, 0)),
         |  i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3])) AS shingles FROM toks),
         |benchs AS (SELECT DISTINCT unnest(shingles) AS shingle FROM sh WHERE doc_id % 97 = 0),
         |trains AS (SELECT s.doc_id, unnest(s.shingles) AS shingle
         |  FROM sh s JOIN kept k USING (doc_id) WHERE s.doc_id % 97 <> 0),
         |contaminated AS (SELECT DISTINCT t.doc_id FROM trains t JOIN benchs USING (shingle)),
         |clean AS (
         |  SELECT k.doc_id, k.text FROM kept k
         |  WHERE k.doc_id % 97 <> 0
         |    AND k.doc_id NOT IN (SELECT doc_id FROM contaminated)),
         |red AS (SELECT doc_id,
         |  regexp_replace(regexp_replace(regexp_replace(text,
         |    '$email', '[EMAIL]', 'g'), '$ip', '[IP]', 'g'), '$phone', '[PHONE]', 'g') AS rtext
         |  FROM clean)
         |SELECT doc_id,
         |  CAST(len(string_split_regex(trim(rtext), '\\s+')) AS BIGINT) AS n_tokens,
         |  CASE WHEN h < 0.9 THEN 'train' WHEN h < 0.95 THEN 'val' ELSE 'test' END AS split
         |FROM (SELECT doc_id, rtext,
         |  CAST(('0x' || substr(md5(doc_id::VARCHAR), 1, 7)) AS BIGINT)
         |    / CAST(268435456 AS DOUBLE) AS h FROM red)
         |ORDER BY doc_id""".stripMargin
    },

    "q_multimodal_assets" ->
      """SELECT doc_id AS asset_id, 'text/plain' AS media_type,
        |  strlen(text) AS n_bytes, source,
        |  md5(substr(text, 1, 16)) AS header_md5,
        |  round(ascii(substr(text, 1, 1)) / 255.0, 6) AS f1,
        |  round(CASE WHEN strlen(text) >= 2 THEN ascii(substr(text, 2, 1)) ELSE 0 END / 255.0, 6) AS f2,
        |  round(CASE WHEN strlen(text) >= 3 THEN ascii(substr(text, 3, 1)) ELSE 0 END / 255.0, 6) AS f3,
        |  round(CASE WHEN strlen(text) >= 4 THEN ascii(substr(text, 4, 1)) ELSE 0 END / 255.0, 6) AS f4
        |FROM documents ORDER BY asset_id""".stripMargin,

    // DuckDB can't parse a PNG, but the image dimensions DERIVE from the
    // id (toImageAssets), so the oracle recomputes what a correct decode
    // of the real bytes must report; corrupted payloads must read NULL
    "q_multimodal_decode" ->
      """SELECT doc_id AS asset_id,
        |  CASE WHEN doc_id % 100 = 7 THEN NULL ELSE CAST(16 + doc_id % 8 AS BIGINT) END AS width,
        |  CASE WHEN doc_id % 100 = 7 THEN NULL ELSE CAST(8 + doc_id % 4 AS BIGINT) END AS height,
        |  CASE WHEN doc_id % 100 = 7 THEN NULL ELSE 'png' END AS format
        |FROM documents ORDER BY asset_id""".stripMargin,

    // dHash bit y*8+x = g(x+1,y) > g(x,y); aHash bit = g(x,y) > mean of
    // the 8×8 left block (floor). Bit 63 packs as the SIGNED long's top
    // bit (-2^63); aggregates CAST back to BIGINT (HUGEINT trap).
    "q_multimodal_phash" ->
      s"""$phashPackedCtes
        |SELECT doc_id AS asset_id,
        |  CASE WHEN doc_id % 100 = 7 THEN NULL ELSE dhash END AS dhash,
        |  CASE WHEN doc_id % 100 = 7 THEN NULL ELSE ahash END AS ahash
        |FROM packed ORDER BY asset_id""".stripMargin,

    // audio decode: every header field is id arithmetic — a decoder that
    // misparses the real RIFF bytes can't reproduce it; corrupt plants
    // (truncated header) must surface as null rows
    "q_multimodal_audio_decode" ->
      """SELECT doc_id AS asset_id,
        |  CASE WHEN doc_id % 101 = 0 THEN NULL ELSE CAST(8000 + (doc_id % 4) * 4000 AS BIGINT) END AS sample_rate,
        |  CASE WHEN doc_id % 101 = 0 THEN NULL
        |       WHEN doc_id % 10 = 3 THEN CAST(2 AS BIGINT)
        |       ELSE CAST(1 AS BIGINT) END AS n_channels,
        |  CASE WHEN doc_id % 101 = 0 THEN NULL ELSE CAST(16 AS BIGINT) END AS bits_per_sample,
        |  CASE WHEN doc_id % 101 = 0 THEN NULL ELSE CAST((48 + doc_id % 3) * 160 AS BIGINT) END AS n_samples,
        |  CASE WHEN doc_id % 101 = 0 THEN NULL
        |       ELSE CAST(((48 + doc_id % 3) * 160 * 1000) // (8000 + (doc_id % 4) * 4000) AS BIGINT) END AS duration_ms
        |FROM documents ORDER BY asset_id""".stripMargin,

    // audio envelope near-dups: the oracle recomputes each asset's
    // 47-bit delta fingerprint from the generator's amplitude law (a
    // window's mean |sample| IS its amplitude — integer-exact), then
    // brute-force pairs on bit_count(xor); the Spark side must arrive at
    // the same fingerprints from the REAL decoded PCM bytes, and the
    // block LSH (three 16-bit blocks covering bits 1..47) at
    // maxHamming 2 is pigeonhole-exact
    "q_audio_fingerprint_pairs" ->
      """WITH ids AS (SELECT doc_id FROM documents WHERE doc_id % 101 <> 0),
        |ampl AS (SELECT i.doc_id, g.w,
        |    4000 + (((i.doc_id % 16) * 31 + g.w * 17) % 89) * 64 +
        |    CASE WHEN i.doc_id % 80 = 0 AND g.w = i.doc_id % 47 + 1 THEN 5000 ELSE 0 END AS a
        |  FROM ids i, (SELECT unnest(generate_series(0, 48)) AS w) g),
        |amp AS (SELECT a0.doc_id, a0.w,
        |    CASE WHEN a0.doc_id % 10 = 3 THEN (a0.a + a1.a) // 2 ELSE a0.a END AS a
        |  FROM ampl a0 JOIN ampl a1 ON a0.doc_id = a1.doc_id AND a1.w = a0.w + 1
        |  WHERE a0.w <= 47),
        |bits AS (SELECT a1.doc_id, a1.w, CASE WHEN a1.a > a0.a THEN 1 ELSE 0 END AS bit
        |  FROM amp a1 JOIN amp a0 ON a1.doc_id = a0.doc_id AND a0.w = a1.w - 1
        |  WHERE a1.w BETWEEN 1 AND 47),
        |fp AS (SELECT doc_id, CAST(sum(CAST(bit AS BIGINT) << w) AS BIGINT) AS afp FROM bits GROUP BY 1)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(bit_count(xor(a.afp, b.afp)) AS INTEGER) AS hamming
        |FROM fp a JOIN fp b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.afp, b.afp)) <= 2
        |ORDER BY id_a, id_b""".stripMargin,

    // video decode: every header field is id arithmetic — a decoder that
    // misparses the real Y4M bytes can't reproduce it; truncated plants
    // surface as null rows. duration = frames·1000·den/num (integer)
    "q_multimodal_video_decode" ->
      """SELECT doc_id AS asset_id,
        |  CASE WHEN doc_id % 101 = 0 THEN NULL ELSE CAST(16 AS BIGINT) END AS width,
        |  CASE WHEN doc_id % 101 = 0 THEN NULL ELSE CAST(16 AS BIGINT) END AS height,
        |  CASE WHEN doc_id % 101 = 0 THEN NULL ELSE CAST(24 + (doc_id % 4) * 6 AS BIGINT) END AS fps_num,
        |  CASE WHEN doc_id % 101 = 0 THEN NULL ELSE CAST(1 AS BIGINT) END AS fps_den,
        |  CASE WHEN doc_id % 101 = 0 THEN NULL ELSE CAST(48 + doc_id % 3 AS BIGINT) END AS n_frames,
        |  CASE WHEN doc_id % 101 = 0 THEN NULL
        |       ELSE CAST((48 + doc_id % 3) * 1000 // (24 + (doc_id % 4) * 6) AS BIGINT) END AS duration_ms
        |FROM documents ORDER BY asset_id""".stripMargin,

    // frame sampling: every 3rd frame's integer mean luma — the ±4
    // checkerboard cancels over the 256-pixel plane, so the mean is
    // exactly the generator's luma law (+ the mod-80 perturbation)
    "q_video_frame_sample" ->
      """WITH ids AS (SELECT doc_id, 48 + doc_id % 3 AS nf FROM documents WHERE doc_id % 101 <> 0),
        |luma AS (SELECT i.doc_id, g.f,
        |    16 + (((i.doc_id % 16) * 31 + g.f * 17) % 89) * 2 +
        |    CASE WHEN i.doc_id % 80 = 0 AND g.f = i.doc_id % 47 + 1 THEN 40 ELSE 0 END AS l
        |  FROM ids i JOIN (SELECT unnest(generate_series(0, 49)) AS f) g ON g.f < i.nf
        |  WHERE g.f % 3 = 0),
        |fin AS (
        |  SELECT doc_id, CAST(f AS BIGINT) AS frame_idx, CAST(l AS BIGINT) AS mean_luma FROM luma
        |  UNION ALL
        |  SELECT doc_id, CAST(NULL AS BIGINT), CAST(NULL AS BIGINT)
        |  FROM documents WHERE doc_id % 101 = 0)
        |SELECT doc_id AS asset_id, frame_idx, mean_luma FROM fin
        |ORDER BY asset_id, frame_idx""".stripMargin,

    // video envelope near-dups: the oracle recomputes each asset's
    // 47-bit delta fingerprint from the luma law (a frame's mean luma IS
    // the law — integer-exact), then brute-force pairs on
    // bit_count(xor); the Spark side must arrive at the same
    // fingerprints from the REAL decoded planes, and the block LSH
    // (three 16-bit blocks covering bits 1..47) at maxHamming 2 is
    // pigeonhole-exact
    "q_video_fingerprint_pairs" ->
      """WITH ids AS (SELECT doc_id, 48 + doc_id % 3 AS nf FROM documents WHERE doc_id % 101 <> 0),
        |luma AS (SELECT i.doc_id, g.f,
        |    16 + (((i.doc_id % 16) * 31 + g.f * 17) % 89) * 2 +
        |    CASE WHEN i.doc_id % 80 = 0 AND g.f = i.doc_id % 47 + 1 THEN 40 ELSE 0 END AS l
        |  FROM ids i JOIN (SELECT unnest(generate_series(0, 47)) AS f) g ON g.f < i.nf),
        |bits AS (SELECT a1.doc_id, a1.f, CASE WHEN a1.l > a0.l THEN 1 ELSE 0 END AS bit
        |  FROM luma a1 JOIN luma a0 ON a1.doc_id = a0.doc_id AND a0.f = a1.f - 1
        |  WHERE a1.f BETWEEN 1 AND 47),
        |fp AS (SELECT doc_id, CAST(sum(CAST(bit AS BIGINT) << f) AS BIGINT) AS vfp FROM bits GROUP BY 1)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(bit_count(xor(a.vfp, b.vfp)) AS INTEGER) AS hamming
        |FROM fp a JOIN fp b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.vfp, b.vfp)) <= 2
        |ORDER BY id_a, id_b""".stripMargin,

    // incremental hamming ingest: batch (ids % 3 != 0) vs store fingerprints
    // recomputed from the luma law; both the direct and the persisted-
    // block-index forms are DEFINED as the same result — one oracle
    "q_dedup_hamming_incremental" -> hammingIncrementalOracleSql,
    "q_dedup_hamming_from_index" -> hammingIncrementalOracleSql,

    // frame-level clip near-dup: brute-force pair scan over frame-key
    // SETS derived from the luma law — base assets plus the planted
    // trimmed clips (base%100=5, 9 frames cut, id+1000000; corruption
    // follows the base id). Containment |A∩B|/min(|A|,|B|) ≥ 0.9.
    "q_video_framedup_pairs" ->
      """WITH ids AS (
        |  SELECT doc_id AS id, doc_id AS base, 48 + doc_id % 3 AS nf, 0 AS off
        |  FROM documents WHERE doc_id % 101 <> 0
        |  UNION ALL
        |  SELECT doc_id + 1000000 AS id, doc_id AS base, 48 + doc_id % 3 - 9 AS nf, 9 AS off
        |  FROM documents WHERE doc_id % 100 = 5 AND doc_id % 101 <> 0),
        |fs AS (
        |  SELECT i.id, list_distinct(list_transform(
        |    list_filter(generate_series(0, 49), f -> f % 3 = 0 AND f < i.nf),
        |    f -> 16 + (((i.base % 16) * 31 + (f + i.off) * 17) % 89) * 2 +
        |         CASE WHEN i.base % 80 = 0 AND (f + i.off) = i.base % 47 + 1 THEN 40 ELSE 0 END)) AS ks
        |  FROM ids i)
        |SELECT a.id AS id_a, b.id AS id_b,
        |  CAST(len(list_intersect(a.ks, b.ks)) AS BIGINT) AS n_shared,
        |  round(len(list_intersect(a.ks, b.ks)) / least(len(a.ks), len(b.ks)), 6) AS overlap
        |FROM fs a JOIN fs b ON a.id < b.id
        |WHERE len(list_intersect(a.ks, b.ks)) / least(len(a.ks), len(b.ks)) >= 0.9
        |ORDER BY id_a, id_b""".stripMargin,

    // ingest form: trims (batch) × bases (store), same containment law
    "q_video_framedup_incremental" -> framedupIncrementalOracleSql,

    // compacted block index == index rebuilt from the survivors: the
    // oracle recomputes survivor fingerprints from the luma law and
    // explodes the same 3×16-bit self-describing block rows
    "q_dedup_hamming_compact" ->
      """WITH ids AS (SELECT doc_id, 48 + doc_id % 3 AS nf FROM documents
        |  WHERE doc_id % 101 <> 0 AND doc_id % 4 <> 1),
        |luma AS (SELECT i.doc_id, g.f,
        |    16 + (((i.doc_id % 16) * 31 + g.f * 17) % 89) * 2 +
        |    CASE WHEN i.doc_id % 80 = 0 AND g.f = i.doc_id % 47 + 1 THEN 40 ELSE 0 END AS l
        |  FROM ids i JOIN (SELECT unnest(generate_series(0, 47)) AS f) g ON g.f < i.nf),
        |bits AS (SELECT a1.doc_id, a1.f, CASE WHEN a1.l > a0.l THEN 1 ELSE 0 END AS bit
        |  FROM luma a1 JOIN luma a0 ON a1.doc_id = a0.doc_id AND a0.f = a1.f - 1
        |  WHERE a1.f BETWEEN 1 AND 47),
        |fp AS (SELECT doc_id, CAST(sum(CAST(bit AS BIGINT) << f) AS BIGINT) AS vfp FROM bits GROUP BY 1)
        |SELECT CAST(b.b AS BIGINT) * 65536 + ((fp.vfp >> (b.b * 16)) & 65535) AS block,
        |  fp.doc_id AS doc,
        |  CAST(3 AS INTEGER) AS index_blocks, CAST(16 AS INTEGER) AS index_bits
        |FROM fp CROSS JOIN (SELECT unnest(generate_series(0, 2)) AS b) b
        |ORDER BY doc, block""".stripMargin,

    // pooled-luma cells: (SUM(g)//12)/255.0 over each 3×4 block of the
    // pattern grid (grayscale → luma == g exactly); histograms: g//64
    // bins as fractions of 72 pixels, identical across R/G/B. Corrupt
    // assets surface as ONE (id, null, null) row, not 18 null rows.
    "q_multimodal_features" ->
      """WITH xs AS (SELECT unnest(generate_series(0, 8)) AS x),
        |ys AS (SELECT unnest(generate_series(0, 7)) AS y),
        |grid AS (
        |  SELECT d.doc_id, x.x, y.y, (d.doc_id*(1 + x.x + 9*y.y) + x.x*7 + y.y*13) % 256 AS g
        |  FROM documents d CROSS JOIN xs x CROSS JOIN ys y),
        |cells AS (
        |  SELECT doc_id, CAST((y//4)*3 + (x//3) AS INTEGER) AS pos,
        |    (SUM(g) // 12) / 255.0 AS value
        |  FROM grid GROUP BY doc_id, (y//4)*3 + (x//3)),
        |bins AS (SELECT unnest(generate_series(0, 3)) AS bin),
        |chs AS (SELECT unnest(generate_series(0, 2)) AS ch),
        |counts AS (
        |  SELECT doc_id, g // 64 AS bin, COUNT(*) AS c FROM grid GROUP BY doc_id, g // 64),
        |hist AS (
        |  SELECT d.doc_id, CAST(6 + ch.ch*4 + b.bin AS INTEGER) AS pos,
        |    COALESCE(c.c, 0) / 72.0 AS value
        |  FROM documents d CROSS JOIN chs ch CROSS JOIN bins b
        |  LEFT JOIN counts c ON c.doc_id = d.doc_id AND c.bin = b.bin),
        |feats AS (SELECT * FROM cells UNION ALL SELECT * FROM hist),
        |fin AS (
        |  SELECT doc_id, pos, value FROM feats WHERE doc_id % 100 <> 7
        |  UNION ALL
        |  SELECT doc_id, CAST(NULL AS INTEGER), CAST(NULL AS DOUBLE)
        |  FROM documents WHERE doc_id % 100 = 7)
        |SELECT doc_id AS asset_id, pos, value FROM fin ORDER BY asset_id, pos""".stripMargin,

    // exact pairs by brute force: at maxHamming 3 < 4 blocks the engine's
    // block-LSH has recall 1.0 (pigeonhole), so blocked == brute force
    "q_multimodal_phash_pairs" ->
      s"""$phashPackedCtes,
        |h AS (SELECT doc_id, dhash FROM packed WHERE doc_id % 100 <> 7)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(bit_count(xor(a.dhash, b.dhash)) AS INTEGER) AS hamming
        |FROM h a JOIN h b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.dhash, b.dhash)) <= 3
        |ORDER BY id_a, id_b""".stripMargin,

    // the composed loop: brute-force pairs → transitive closure →
    // min-id component labels; corrupt assets label themselves
    "q_multimodal_dedup_pipeline" ->
      s"""$phashPackedCtes,
        |h AS (SELECT doc_id, dhash FROM packed WHERE doc_id % 100 <> 7),
        |prs AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM h a JOIN h b ON a.doc_id < b.doc_id
        |  WHERE bit_count(xor(a.dhash, b.dhash)) <= 3),
        |edges AS (
        |  SELECT doc_a AS a, doc_b AS b FROM prs
        |  UNION SELECT doc_b, doc_a FROM prs),
        |reach(a, b) AS (
        |  SELECT a, b FROM edges
        |  UNION
        |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
        |comp AS (SELECT a AS doc_id, least(a, min(b)) AS component FROM reach GROUP BY a),
        |labeled AS (
        |  SELECT d.doc_id AS asset_id, COALESCE(c.component, d.doc_id) AS component
        |  FROM documents d LEFT JOIN comp c USING (doc_id)),
        |sizes AS (SELECT component, COUNT(*) AS cluster_size FROM labeled GROUP BY component)
        |SELECT asset_id, component, cluster_size,
        |  asset_id = component AS is_survivor
        |FROM labeled JOIN sizes USING (component) ORDER BY asset_id""".stripMargin
  )

  /** External-LM scoring CTE chain (held slice's MLE logprob tables,
    * every doc scored with left joins + the exp(-20) OOV floor — exp/ln
    * roundtrips agree bitwise with the JVM, pinned by the lm_external
    * gate), ending at `agg(doc_id, n_bigrams, avg_logprob_lm)`. Shared
    * by q_text_lm_external and the perplexity-bucket oracle built on
    * top of the same scores. */
  // private[queries]: the r13 incremental-selection stream gate
  // (StreamQueries) scores against the same held LM, so its oracle
  // builds on the same CTE chain — one definition or they drift
  private[queries] def externalLmCtes: String =
    s"""WITH t AS (SELECT doc_id, $toksSql AS tk FROM documents),
       |held AS (SELECT * FROM t WHERE doc_id % 3 = 0),
       |uni AS (SELECT tok, CAST(count(*) AS BIGINT) AS tf
       |        FROM (SELECT unnest(tk) AS tok FROM held) u GROUP BY 1),
       |n AS (SELECT CAST(sum(tf) AS DOUBLE) AS total FROM uni),
       |unilp AS (SELECT tok, ln(tf / total) AS lp FROM uni, n),
       |hbig AS (SELECT tk[i] AS w1, tk[i+1] AS w2
       |         FROM held, LATERAL (SELECT unnest(generate_series(1, greatest(len(tk)-1, 0))) AS i) g),
       |cb AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c2 FROM hbig GROUP BY 1, 2),
       |cp AS (SELECT w1, CAST(count(*) AS BIGINT) AS c1 FROM hbig GROUP BY 1),
       |bilp AS (SELECT cb.w1, cb.w2, ln(cb.c2 / cp.c1) AS lp2 FROM cb JOIN cp USING (w1)),
       |big AS (SELECT doc_id, tk[i] AS w1, tk[i+1] AS w2
       |        FROM t, LATERAL (SELECT unnest(generate_series(1, greatest(len(tk)-1, 0))) AS i) g),
       |scored AS (
       |  SELECT b.doc_id,
       |    ln(0.7 * COALESCE(exp(bl.lp2), 0.0) + (1.0 - 0.7) * COALESCE(exp(ul.lp), exp(-20.0))) AS lp
       |  FROM big b LEFT JOIN bilp bl ON b.w1 = bl.w1 AND b.w2 = bl.w2
       |  LEFT JOIN unilp ul ON b.w2 = ul.tok),
       |agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
       |        round(avg(lp), 6) AS avg_logprob_lm FROM scored GROUP BY 1)""".stripMargin

  /** Perplexity-bucket CTE chain on top of [[externalLmCtes]]: scoreable
    * docs with language, per-language tercile cutoffs (value at rank
    * ⌈n·f⌉, lp DESC), ending at `bucketed(doc_id, lang, n_bigrams,
    * avg_logprob_lm, ppl_bucket)`. Shared by q_text_ppl_buckets and the
    * v5 pipeline. */
  private def pplBucketCtes: String =
    s"""$externalLmCtes,
       |sc AS (SELECT d.doc_id, d.lang, a.n_bigrams, a.avg_logprob_lm
       |       FROM documents d JOIN agg a USING (doc_id) WHERE a.n_bigrams > 0),
       |sizes AS (SELECT lang, COUNT(*) AS n_docs FROM sc GROUP BY 1),
       |r AS (SELECT sc.*, ROW_NUMBER() OVER (PARTITION BY lang ORDER BY avg_logprob_lm DESC) AS rn FROM sc),
       |c1 AS (SELECT r.lang, r.avg_logprob_lm AS cut1 FROM r JOIN sizes s USING (lang)
       |       WHERE rn = CAST(ceil(s.n_docs * (1.0/3.0)) AS BIGINT)),
       |c2 AS (SELECT r.lang, r.avg_logprob_lm AS cut2 FROM r JOIN sizes s USING (lang)
       |       WHERE rn = CAST(ceil(s.n_docs * (2.0/3.0)) AS BIGINT)),
       |bucketed AS (
       |  SELECT sc.doc_id, sc.lang, sc.n_bigrams, sc.avg_logprob_lm,
       |    CASE WHEN sc.avg_logprob_lm >= c1.cut1 THEN 'head'
       |         WHEN sc.avg_logprob_lm >= c2.cut2 THEN 'middle' ELSE 'tail' END AS ppl_bucket
       |  FROM sc JOIN c1 USING (lang) JOIN c2 USING (lang))""".stripMargin

  /** Exact-dedup ingest oracle, shared verbatim by the direct and
    * Bloom-pre-filtered forms (same semantics, different plan). */
  private def exactIncrementalOracleSql: String =
    """WITH hist AS (
      |  SELECT DISTINCT md5(text) AS content_hash FROM documents WHERE doc_id % 3 = 0),
      |nw AS (SELECT doc_id, md5(text) AS content_hash FROM documents WHERE doc_id % 3 <> 0),
      |r AS (SELECT doc_id, content_hash,
      |  ROW_NUMBER() OVER (PARTITION BY content_hash ORDER BY doc_id) AS rn FROM nw)
      |SELECT doc_id, content_hash,
      |  CASE WHEN content_hash IN (SELECT content_hash FROM hist) THEN 'dup_of_corpus'
      |       WHEN rn > 1 THEN 'dup_in_batch' ELSE 'new' END AS status,
      |  (content_hash NOT IN (SELECT content_hash FROM hist) AND rn = 1) AS is_new_content
      |FROM r ORDER BY doc_id""".stripMargin

  /** Perplexity-bucket oracle, shared verbatim by the exact and
    * approx-cutoff forms (same semantics, different plan). */
  // one definition of the v6 planted texts, shared by the Spark query
  // and its oracle — a one-character drift fails every stage downstream
  // the plant constants live with the recipe (one definition backs the
  // composed gate, the examples/curation DAG project, and this oracle)
  private def v6CloneTemplate: String = graft.fixtures.CurationPlants.cloneTemplate
  private def v6LoopText: String = graft.fixtures.CurationPlants.loopText

  /** v6 stage 5 / stage 6 cutoff frames (pre-checkpoint) — thin
    * delegates to [[graft.ops.CurationRecipe]] kept so the plan spec can
    * assert the composed cutoff plan shape (no partition-less rank
    * window; percentile_approx aggregate) on the exact frames the
    * pipeline materializes, which the localCheckpoint boundary would
    * otherwise hide from the final plan. */
  private[graft] def v6PplStage(scored: DataFrame): DataFrame =
    graft.ops.CurationRecipe.pplBuckets(scored)
  private[graft] def v6DsirStage(pplSurvivors: DataFrame,
                                 target: DataFrame): DataFrame =
    graft.ops.CurationRecipe.dsirCut(pplSurvivors, target)

  /** Stage the checked-in examples/curation project into a temp dir
    * with its corpus source rewritten to `sfDir` (the committed conf
    * hardcodes sf0.001 for direct CLI use); everything else is copied
    * byte-for-byte so the gate exercises exactly the committed project.
    * Returns the staged project dir. */
  private[graft] def stageCurationProject(sfDir: String): String =
    stageProject("examples/curation", sfDir)

  /** Recursive temp-dir cleanup for staged projects — ONE definition
    * shared by the project gates, the bench's instrumented build, and
    * the integration spec (r15 review: four private copies). */
  private[graft] def deleteDir(path: String): Unit = {
    def go(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(go))
      f.delete(); ()
    }
    go(new java.io.File(path))
  }

  /** Stage `examples/<name>` against `sfDir` and hand `body` the staged
    * project's warehouse plus a `build(vars)` that runs `graft build`
    * through Main.execute and fails on a nonzero exit. Main.execute
    * mutates the shared session (registerSources sets the legacy parquet
    * nanos conf and registers every parquet under the source dir as a
    * corpus_* view), so the finally restores both, letting later queries
    * in a sweep see the session they would see standalone, and deletes
    * the staged dir: `body` must materialize the frame it returns. */
  private def withProjectBuild(s: SparkSession, name: String, sfDir: String)(
      body: (graft.relations.RelationManager, Map[String, String] => Unit) => DataFrame)
      : DataFrame = {
    val proj = stageProject(s"examples/$name", sfDir)
    val nanosKey = "spark.sql.legacy.parquet.nanosAsLong"
    val nanosWas = s.conf.getOption(nanosKey)
    try {
      val sink = new java.io.PrintWriter(java.io.Writer.nullWriter(), true)
      def build(vars: Map[String, String]): Unit = {
        val code = graft.Main.execute(s, graft.Main.Args(
          command = "build", project = proj, vars = vars), sink)
        require(code == 0, s"graft build of examples/$name (vars $vars) exited $code")
      }
      body(new graft.relations.RelationManager(s, s"$proj/target/warehouse"), build)
    } finally {
      graft.Tables.names.foreach(n => s.catalog.dropTempView(s"corpus_$n"))
      nanosWas match {
        case Some(v) => s.conf.set(nanosKey, v)
        case None    => s.conf.unset(nanosKey)
      }
      deleteDir(proj)
    }
  }

  /** Stage a checked-in example project into a temp dir with its
    * `sources.corpus` line rewritten to the gate's sf dir (target/
    * excluded — a previously-run example's warehouse must not leak into
    * the gate). */
  private[graft] def stageProject(srcDir: String, sfDir: String): String = {
    import java.nio.file.{Files => JF, Paths => JP, StandardCopyOption}
    import scala.jdk.CollectionConverters._
    val src = JP.get(srcDir)
    require(JF.isDirectory(src),
      s"$srcDir is missing — the gate stages the checked-in project")
    val dst = JF.createTempDirectory("graft_curation_project")
    JF.walk(src).iterator().asScala
      .filter(p => JF.isRegularFile(p) &&
        !src.relativize(p).toString.startsWith("target"))
      .foreach { p =>
        val rel = src.relativize(p)
        val to = dst.resolve(rel.toString)
        JF.createDirectories(to.getParent)
        if (rel.toString == "graft_project.conf") {
          val rewritten = JF.readString(p).linesIterator.map {
            case l if l.trim.startsWith("sources.corpus") =>
              s"sources.corpus = $sfDir"
            case l => l
          }.mkString("", "\n", "\n")
          JF.writeString(to, rewritten)
        } else JF.copy(p, to, StandardCopyOption.REPLACE_EXISTING)
      }
    dst.toString
  }

  /** The v6 audit frame shared by q_curation_pipeline_v6 (per-doc rows)
    * and its _stats aggregation — one definition or the ledger drifts
    * from the audit. The stage functions themselves live in
    * [[graft.ops.CurationRecipe]] (r14): the SAME functions back the
    * `examples/curation` DAG project, where the Runner materializes each
    * stage as a table — this composed form chains them lazily with
    * localCheckpoint stage boundaries instead (each population-dependent
    * stage consumes its predecessor several times, and the dedup stage's
    * connected-components iterations re-execute their whole input
    * lineage per round; a real run persists stages as tables, which is
    * exactly what the project form does). Stage and plant semantics:
    * CurationRecipe scaladoc + the gate entry. */
  private def curationV6(s: SparkSession, d: String): DataFrame = {
    import graft.ops.{CurationRecipe => CR}
    val aug = graft.fixtures.CurationPlants.augment(Tables.documents(s, d))
    val bench = CR.bench(aug)
    val pop = CR.pop(aug)
    // stages 1-4: the per-doc rule battery
    val rules = CR.rules(pop).localCheckpoint(true)
    val ruleSurvivors = CR.ruleSurvivors(pop, rules).localCheckpoint(true)
    // stage 5: external-LM perplexity tail drop — LM held from the
    // population's %3 slice; terciles derive from the RULE SURVIVORS
    // via the approx cutoff (no rank window — PerfSpec pins v6PplStage)
    val (uni, bi) = CR.lmTables(pop)
    val scored = CR.scoredLm(ruleSurvivors, uni, bi)
    val bucketed = v6PplStage(scored).localCheckpoint(true)
    val pplSurvivors = CR.pplSurvivors(ruleSurvivors, bucketed)
      .localCheckpoint(true)
    // stage 6: DSIR importance cut (target = the population's %7 slice)
    val dsir = v6DsirStage(pplSurvivors, CR.dsirTarget(pop))
      .localCheckpoint(true)
    val dsirSurvivors = CR.dsirSurvivors(pplSurvivors, dsir)
      .localCheckpoint(true)
    // stage 7: fuzzy dedup (v4 shape), keep-best by quality
    val kept = CR.dedupKept(dsirSurvivors).localCheckpoint(true)
    val dupSurvivors = CR.dupSurvivors(dsirSurvivors, kept)
    // stage 8: decontamination vs the held bench
    val decon = CR.decontaminate(dupSurvivors, bench)
    // the audit itself is the reusable artifact: the per-doc gate reads
    // it once, the _stats gate aggregates it eight times
    CR.audit(rules, bucketed, dsir, kept, decon).localCheckpoint(true)
  }

  /** The v6 audit CTE chain (DuckDB), ending at the MATERIALIZED `audit`
    * relation — shared by the per-doc and attrition oracles. The
    * MATERIALIZED hints mirror the Spark side's stage checkpoints:
    * DuckDB inlines plain CTEs per reference, which would re-derive the
    * whole upstream chain at every stage exactly like the unsevered
    * Spark plan did. Stage SQL bodies are the per-stage gate oracles
    * (langid / gopher / repetition / blocklist / external-LM buckets /
    * DSIR / v4 dedup / decontamination) re-scoped to each stage's
    * survivor population. */
  private def curationV6AuditCtes: String = {
    val scores = TA.stopwords.map { case (l, ws) =>
      val inList = ws.map(w => s"'$w'").mkString(", ")
      s"len(list_filter(tk, t -> t IN ($inList))) AS score_$l"
    }.mkString(",\n  ")
    val best = s"greatest(${TA.stopwords.map(l => s"score_${l._1}").mkString(", ")})"
    val pick = TA.stopwords.map { case (l, _) =>
      s"WHEN score_$l = $best AND $best > 0 THEN '$l'"
    }.mkString("\n    ")
    s"""WITH RECURSIVE aug AS MATERIALIZED (
       |  SELECT doc_id,
       |    CASE WHEN doc_id % 105 = 21 OR doc_id % 111 = 36 THEN 'en' ELSE lang END AS lang,
       |    CASE WHEN doc_id % 105 = 21 THEN '$v6CloneTemplate' || doc_id::VARCHAR
       |         WHEN doc_id % 111 = 36 THEN '$v6LoopText'
       |         ELSE text || (CASE WHEN doc_id % 13 = 0 THEN ' badword1 normal badword2' ELSE '' END)
       |    END AS text
       |  FROM documents),
       |bench AS MATERIALIZED (SELECT * FROM aug WHERE doc_id % 97 = 0),
       |pop AS MATERIALIZED (SELECT * FROM aug WHERE doc_id % 97 <> 0),
       |pt AS MATERIALIZED (SELECT doc_id, lang, text,
       |  CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
       |       ELSE string_split_regex(trim(text), '\\s+') END AS tk,
       |  string_split(text, chr(10)) AS lines FROM pop),
       |lsc AS (SELECT doc_id, lang,
       |  $scores
       |  FROM pt),
       |l1 AS (SELECT doc_id,
       |  (CASE $pick ELSE 'und' END) = lang AS lang_ok FROM lsc),
       |gf AS (SELECT doc_id,
       |  CAST(len(tk) AS BIGINT) AS n_words,
       |  round(CASE WHEN len(tk) > 0 THEN list_sum(list_transform(tk, x -> length(x)))::DOUBLE / len(tk) ELSE 0.0 END, 6) AS mean_word_len,
       |  round(CASE WHEN len(tk) > 0 THEN
       |    ((length(text) - length(replace(text, '#', ''))) / 1)::DOUBLE / len(tk) ELSE 0.0 END, 6) AS hash_ratio,
       |  round(CASE WHEN len(tk) > 0 THEN
       |    ((length(text) - length(replace(text, '...', ''))) / 3 +
       |     (length(text) - length(replace(text, '…', ''))) / 1)::DOUBLE / len(tk) ELSE 0.0 END, 6) AS ellipsis_ratio,
       |  round(CASE WHEN len(lines) > 0 THEN
       |    len(list_filter(lines, l -> regexp_matches(trim(l), '^[-*•]')))::DOUBLE / len(lines) ELSE 0.0 END, 6) AS bullet_frac,
       |  round(CASE WHEN len(lines) > 0 THEN
       |    len(list_filter(lines, l -> regexp_matches(trim(l), '(\\.\\.\\.|…)$$')))::DOUBLE / len(lines) ELSE 0.0 END, 6) AS ellipsis_frac,
       |  round(CASE WHEN len(tk) > 0 THEN
       |    len(list_filter(tk, x -> regexp_matches(x, '[A-Za-z]')))::DOUBLE / len(tk) ELSE 0.0 END, 6) AS alpha_frac,
       |  CAST(len(list_intersect(list_distinct(list_transform(tk, x -> lower(x))),
       |    ['the','be','to','of','and','that','have','with'])) AS BIGINT) AS n_stop_types
       |  FROM pt),
       |g1 AS (SELECT doc_id,
       |  (n_words >= 60 AND n_words <= 100000 AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
       |   AND hash_ratio <= 0.1 AND ellipsis_ratio <= 0.1 AND bullet_frac <= 0.9 AND ellipsis_frac <= 0.3
       |   AND alpha_frac >= 0.8 AND n_stop_types >= 1) AS gopher_ok FROM gf),
       |rbase AS (SELECT doc_id, len(tk) AS n_tokens FROM pt),
       |rbg AS (SELECT doc_id, unnest(list_transform(generate_series(1, greatest(len(tk)-1, 0)),
       |  i -> tk[i] || ' ' || tk[i+1])) AS g FROM pt),
       |rbgs AS (SELECT doc_id, max(c) AS top2, sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS dup2
       |  FROM (SELECT doc_id, g, COUNT(*) AS c FROM rbg GROUP BY 1, 2) GROUP BY 1),
       |rtg AS (SELECT doc_id, unnest(list_transform(generate_series(1, greatest(len(tk)-2, 0)),
       |  i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS g FROM pt),
       |rtgs AS (SELECT doc_id, max(c) AS top3
       |  FROM (SELECT doc_id, g, COUNT(*) AS c FROM rtg GROUP BY 1, 2) GROUP BY 1),
       |r1 AS (SELECT b.doc_id,
       |  (round(CASE WHEN b.n_tokens > 0 THEN least(COALESCE(top2, 0) * 2.0 / b.n_tokens, 1.0) ELSE 0.0 END, 6) <= 0.20
       |   AND round(CASE WHEN b.n_tokens > 0 THEN least(COALESCE(top3, 0) * 3.0 / b.n_tokens, 1.0) ELSE 0.0 END, 6) <= 0.18
       |   AND round(CASE WHEN b.n_tokens > 1 THEN COALESCE(dup2, 0) * 1.0 / (b.n_tokens - 1) ELSE 0.0 END, 6) <= 0.50)
       |  AS rep_ok
       |  FROM rbase b LEFT JOIN rbgs USING (doc_id) LEFT JOIN rtgs USING (doc_id)),
       |bx AS (SELECT doc_id, unnest(tk) AS tok FROM pt),
       |bw AS (SELECT unnest(['badword1', 'badword2', 'badword3']) AS w),
       |bhits AS (SELECT bx.doc_id, COUNT(*) AS n_blocked FROM bx JOIN bw ON lower(bx.tok) = bw.w GROUP BY 1),
       |b1 AS (SELECT p.doc_id, COALESCE(h.n_blocked, 0) = 0 AS block_ok
       |  FROM pt p LEFT JOIN bhits h USING (doc_id)),
       |rules AS MATERIALIZED (SELECT p.doc_id, p.lang, l1.lang_ok, g1.gopher_ok, r1.rep_ok, b1.block_ok,
       |  (l1.lang_ok AND g1.gopher_ok AND r1.rep_ok AND b1.block_ok) AS rules_pass
       |  FROM pt p JOIN l1 USING (doc_id) JOIN g1 USING (doc_id) JOIN r1 USING (doc_id) JOIN b1 USING (doc_id)),
       |rsurv AS MATERIALIZED (SELECT p.* FROM pt p JOIN rules USING (doc_id) WHERE rules.rules_pass),
       |held AS (SELECT * FROM pt WHERE doc_id % 3 = 0),
       |uni AS MATERIALIZED (SELECT tok, CAST(count(*) AS BIGINT) AS tf
       |        FROM (SELECT unnest(tk) AS tok FROM held) u GROUP BY 1),
       |n AS (SELECT CAST(sum(tf) AS DOUBLE) AS total FROM uni),
       |unilp AS MATERIALIZED (SELECT tok, ln(tf / total) AS lp FROM uni, n),
       |hbig AS (SELECT tk[i] AS w1, tk[i+1] AS w2
       |         FROM held, LATERAL (SELECT unnest(generate_series(1, greatest(len(tk)-1, 0))) AS i) g),
       |hcb AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c2 FROM hbig GROUP BY 1, 2),
       |hcp AS (SELECT w1, CAST(count(*) AS BIGINT) AS c1 FROM hbig GROUP BY 1),
       |bilp AS MATERIALIZED (SELECT hcb.w1, hcb.w2, ln(hcb.c2 / hcp.c1) AS lp2 FROM hcb JOIN hcp USING (w1)),
       |sbig AS (SELECT doc_id, tk[i] AS w1, tk[i+1] AS w2
       |        FROM rsurv, LATERAL (SELECT unnest(generate_series(1, greatest(len(tk)-1, 0))) AS i) g),
       |sscored AS (
       |  SELECT b.doc_id,
       |    ln(0.7 * COALESCE(exp(bl.lp2), 0.0) + (1.0 - 0.7) * COALESCE(exp(ul.lp), exp(-20.0))) AS lp
       |  FROM sbig b LEFT JOIN bilp bl ON b.w1 = bl.w1 AND b.w2 = bl.w2
       |  LEFT JOIN unilp ul ON b.w2 = ul.tok),
       |sagg AS MATERIALIZED (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
       |        round(avg(lp), 6) AS avg_logprob_lm FROM sscored GROUP BY 1),
       |psc AS (SELECT r.doc_id, r.lang, a.avg_logprob_lm
       |       FROM rsurv r JOIN sagg a USING (doc_id) WHERE a.n_bigrams > 0),
       |psizes AS (SELECT lang, COUNT(*) AS n_docs FROM psc GROUP BY 1),
       |pr AS (SELECT psc.*, ROW_NUMBER() OVER (PARTITION BY lang ORDER BY avg_logprob_lm DESC) AS rn FROM psc),
       |pc1 AS (SELECT pr.lang, pr.avg_logprob_lm AS cut1 FROM pr JOIN psizes s USING (lang)
       |       WHERE rn = CAST(ceil(s.n_docs * (1.0/3.0)) AS BIGINT)),
       |pc2 AS (SELECT pr.lang, pr.avg_logprob_lm AS cut2 FROM pr JOIN psizes s USING (lang)
       |       WHERE rn = CAST(ceil(s.n_docs * (2.0/3.0)) AS BIGINT)),
       |bucketed AS MATERIALIZED (
       |  SELECT psc.doc_id,
       |    CASE WHEN psc.avg_logprob_lm >= pc1.cut1 THEN 'head'
       |         WHEN psc.avg_logprob_lm >= pc2.cut2 THEN 'middle' ELSE 'tail' END AS ppl_bucket
       |  FROM psc JOIN pc1 USING (lang) JOIN pc2 USING (lang)),
       |psurv AS MATERIALIZED (SELECT r.* FROM rsurv r JOIN bucketed b USING (doc_id) WHERE b.ppl_bucket <> 'tail'),
       |dtgt AS (SELECT doc_id, tk FROM pt WHERE doc_id % 7 = 0),
       |dfeat_r AS (
       |  SELECT doc_id, f FROM (SELECT doc_id, unnest(tk) AS f FROM psurv)
       |  UNION ALL
       |  SELECT doc_id, tk[i] || ' ' || tk[i+1] AS f
       |  FROM psurv, LATERAL (SELECT unnest(generate_series(1, greatest(len(tk)-1, 0))) AS i) g),
       |dfeat_t AS (
       |  SELECT doc_id, f FROM (SELECT doc_id, unnest(tk) AS f FROM dtgt)
       |  UNION ALL
       |  SELECT doc_id, tk[i] || ' ' || tk[i+1] AS f
       |  FROM dtgt, LATERAL (SELECT unnest(generate_series(1, greatest(len(tk)-1, 0))) AS i) g),
       |dfb_r AS (SELECT doc_id, CAST(('0x' || substr(md5(f), 1, 7)) AS BIGINT) % 4096 AS b FROM dfeat_r),
       |dfb_t AS (SELECT doc_id, CAST(('0x' || substr(md5(f), 1, 7)) AS BIGINT) % 4096 AS b FROM dfeat_t),
       |dtc AS (SELECT b, CAST(count(*) AS BIGINT) AS ct FROM dfb_t GROUP BY 1),
       |drc AS (SELECT b, CAST(count(*) AS BIGINT) AS cr FROM dfb_r GROUP BY 1),
       |dtt AS (SELECT CAST(COALESCE(sum(ct), 0) AS DOUBLE) AS total_t FROM dtc),
       |dtr AS (SELECT CAST(COALESCE(sum(cr), 0) AS DOUBLE) AS total_r FROM drc),
       |dmodel AS MATERIALIZED (
       |  SELECT drc.b,
       |    ln((COALESCE(dtc.ct, 0) + 1.0) / (total_t + 4096.0)) -
       |    ln((drc.cr + 1.0) / (total_r + 4096.0)) AS lw
       |  FROM drc LEFT JOIN dtc USING (b), dtt, dtr),
       |dscored AS (
       |  SELECT dfb_r.doc_id, CAST(count(*) AS BIGINT) AS n_feats, sum(m.lw) AS sum_lw
       |  FROM dfb_r JOIN dmodel m USING (b) GROUP BY 1),
       |dw AS MATERIALIZED (SELECT p.doc_id, COALESCE(s.n_feats, 0) AS n_feats,
       |        round(CASE WHEN COALESCE(s.n_feats, 0) > 0
       |          THEN s.sum_lw / s.n_feats ELSE 0.0 END, 6) AS avg_log_weight
       |      FROM psurv p LEFT JOIN dscored s USING (doc_id)),
       |dsc AS (SELECT * FROM dw WHERE n_feats > 0),
       |dnn AS (SELECT COUNT(*) AS n FROM dsc),
       |dcut AS (SELECT avg_log_weight AS c FROM (
       |    SELECT avg_log_weight, ROW_NUMBER() OVER (ORDER BY avg_log_weight DESC) AS rn FROM dsc) r, dnn
       |  WHERE rn = CAST(ceil(n * 0.5) AS BIGINT)),
       |dsir AS MATERIALIZED (SELECT dw.doc_id,
       |  CASE WHEN dw.n_feats > 0 THEN dw.avg_log_weight >= dcut.c ELSE FALSE END AS dsir_keep
       |  FROM dw, dcut),
       |dsurv AS MATERIALIZED (SELECT p.* FROM psurv p JOIN dsir USING (doc_id) WHERE dsir.dsir_keep),
       |dascii AS (SELECT doc_id, regexp_replace(text, '[^\\x00-\\x7f]', '?', 'g') AS text FROM dsurv),
       |ksh AS (SELECT doc_id AS doc, $charShinglesSql AS shs FROM dascii),
       |ksig AS (
       |  SELECT doc, list_transform(generate_series(0, 31), i ->
       |    CASE WHEN len(shs) = 0 THEN 2147483647
       |         ELSE list_min(list_transform(shs, h -> ((2*i+1)*h + 1000003*(i+1)) % 2147483647))
       |    END) AS sig
       |  FROM ksh),
       |kbanded AS (
       |  SELECT doc, unnest(list_transform(generate_series(0, 7), b ->
       |    md5(b::VARCHAR || '_' || array_to_string(list_slice(sig, b*4+1, b*4+4), '_')))) AS band
       |  FROM ksig),
       |kcand AS (
       |  SELECT DISTINCT a.doc AS doc_a, b.doc AS doc_b
       |  FROM kbanded a JOIN kbanded b USING (band) WHERE a.doc < b.doc),
       |kpairs AS (
       |  SELECT doc_a, doc_b FROM kcand
       |  JOIN dascii ta ON ta.doc_id = doc_a
       |  JOIN dascii tb ON tb.doc_id = doc_b
       |  WHERE levenshtein(ta.text, tb.text) <= 16),
       |kedges AS (
       |  SELECT doc_a AS a, doc_b AS b FROM kpairs
       |  UNION SELECT doc_b, doc_a FROM kpairs),
       |kreach(a, b) AS (
       |  SELECT a, b FROM kedges
       |  UNION
       |  SELECT r.a, e.b FROM kreach r JOIN kedges e ON r.b = e.a),
       |kcomp AS (SELECT a AS doc, least(a, min(b)) AS component FROM kreach GROUP BY a),
       |kqual AS (
       |  SELECT doc_id, round(
       |    least(length(text) / 500.0, 1.0) * 0.4 +
       |    greatest(0.0, 1.0 - (CASE WHEN length(text) > 0
       |      THEN (length(text) - length(regexp_replace(text, '[^A-Za-z0-9\\s]', '', 'g')))::DOUBLE / length(text)
       |      ELSE 0 END) * 5.0) * 0.3 +
       |    least((CASE WHEN len(tk) > 0
       |      THEN len(list_filter(tk,
       |        t -> t IN ('the','a','of','and','to','in','is','that','it','for')))::DOUBLE / len(tk)
       |      ELSE 0 END) * 4.0, 1.0) * 0.3, 6) AS quality
       |  FROM dsurv),
       |klabeled AS (
       |  SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS component
       |  FROM dsurv d LEFT JOIN kcomp c ON d.doc_id = c.doc),
       |kept AS MATERIALIZED (
       |  SELECT l.doc_id,
       |    (ROW_NUMBER() OVER (PARTITION BY l.component ORDER BY q.quality DESC, l.doc_id)) = 1 AS dup_survivor
       |  FROM klabeled l JOIN kqual q USING (doc_id)),
       |ksurv AS MATERIALIZED (SELECT d.* FROM dsurv d JOIN kept USING (doc_id) WHERE kept.dup_survivor),
       |dsh AS (SELECT doc_id, list_distinct(list_transform(
       |  generate_series(1, greatest(len(tk)-3, 0)),
       |  i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3])) AS shingles FROM ksurv),
       |bsh AS (SELECT DISTINCT unnest(list_distinct(list_transform(
       |  generate_series(1, greatest(len($toksSql)-3, 0)),
       |  i -> ($toksSql)[i] || ' ' || ($toksSql)[i+1] || ' ' || ($toksSql)[i+2] || ' ' || ($toksSql)[i+3]))) AS shingle FROM bench),
       |dhits AS (SELECT t.doc_id, COUNT(*) AS n FROM
       |  (SELECT doc_id, unnest(shingles) AS shingle FROM dsh) t JOIN bsh USING (shingle) GROUP BY 1),
       |decon AS (SELECT k.doc_id, COALESCE(h.n, 0) >= 1 AS contaminated
       |  FROM ksurv k LEFT JOIN dhits h USING (doc_id)),
       |audit AS MATERIALIZED (
       |  SELECT r.doc_id, r.lang, r.lang_ok, r.gopher_ok, r.rep_ok, r.block_ok,
       |    bk.ppl_bucket, ds.dsir_keep, kp.dup_survivor, dc.contaminated,
       |    CASE WHEN NOT r.lang_ok THEN 'langid'
       |         WHEN NOT r.gopher_ok THEN 'gopher'
       |         WHEN NOT r.rep_ok THEN 'repetition'
       |         WHEN NOT r.block_ok THEN 'blocklist'
       |         WHEN bk.ppl_bucket IS NULL OR bk.ppl_bucket = 'tail' THEN 'perplexity'
       |         WHEN NOT ds.dsir_keep THEN 'dsir'
       |         WHEN NOT kp.dup_survivor THEN 'dedup'
       |         WHEN dc.contaminated THEN 'decontamination'
       |         ELSE NULL END AS drop_stage
       |  FROM rules r
       |  LEFT JOIN bucketed bk USING (doc_id)
       |  LEFT JOIN dsir ds USING (doc_id)
       |  LEFT JOIN kept kp USING (doc_id)
       |  LEFT JOIN decon dc USING (doc_id))""".stripMargin
  }

  /** The two-generation INGEST replay oracle (r15 — the
    * q_curation_project_incremental gate). Generation = doc_id % 2 →
    * event day; artifacts (LM tables, perplexity cutoffs, DSIR model +
    * cutoff) derive from the BOOTSTRAP generation's held slices only,
    * and every stage verdict is a pure function of those frozen
    * artifacts and the doc's generation prefix — so the per-generation
    * ingest the Runner executes equals this one-shot replay. The dedup
    * ordering rule is explicit data ordering: a survivor is dup_prior
    * iff some banded candidate with a lexicographically earlier
    * (event_ts, doc_id) matches at est_jaccard ≥ 0.5 — within-batch and
    * store-probe pairs are the same predicate restricted to equal /
    * smaller event days. Stage SQL bodies reuse the v6 audit CTE forms
    * re-scoped to the ingest populations. */
  private def curationIncrementalAuditCtes: String = {
    val scores = TA.stopwords.map { case (l, ws) =>
      val inList = ws.map(w => s"'$w'").mkString(", ")
      s"len(list_filter(tk, t -> t IN ($inList))) AS score_$l"
    }.mkString(",\n  ")
    val best = s"greatest(${TA.stopwords.map(l => s"score_${l._1}").mkString(", ")})"
    val pick = TA.stopwords.map { case (l, _) =>
      s"WHEN score_$l = $best AND $best > 0 THEN '$l'"
    }.mkString("\n    ")
    s"""WITH aug AS MATERIALIZED (
       |  SELECT doc_id,
       |    TIMESTAMP '2025-01-01 00:00:00' + INTERVAL 1 DAY * (doc_id % 2) AS event_ts,
       |    CASE WHEN doc_id % 105 = 21 OR doc_id % 111 = 36 THEN 'en' ELSE lang END AS lang,
       |    CASE WHEN doc_id % 105 = 21 THEN '$v6CloneTemplate' || doc_id::VARCHAR
       |         WHEN doc_id % 111 = 36 THEN '$v6LoopText'
       |         ELSE text || (CASE WHEN doc_id % 13 = 0 THEN ' badword1 normal badword2' ELSE '' END)
       |    END AS text
       |  FROM documents),
       |pt AS MATERIALIZED (SELECT doc_id, event_ts, lang, text,
       |  CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
       |       ELSE string_split_regex(trim(text), '\\s+') END AS tk,
       |  string_split(text, chr(10)) AS lines FROM aug),
       |lsc AS (SELECT doc_id, lang,
       |  $scores
       |  FROM pt),
       |l1 AS (SELECT doc_id,
       |  (CASE $pick ELSE 'und' END) = lang AS lang_ok FROM lsc),
       |gf AS (SELECT doc_id,
       |  CAST(len(tk) AS BIGINT) AS n_words,
       |  round(CASE WHEN len(tk) > 0 THEN list_sum(list_transform(tk, x -> length(x)))::DOUBLE / len(tk) ELSE 0.0 END, 6) AS mean_word_len,
       |  round(CASE WHEN len(tk) > 0 THEN
       |    ((length(text) - length(replace(text, '#', ''))) / 1)::DOUBLE / len(tk) ELSE 0.0 END, 6) AS hash_ratio,
       |  round(CASE WHEN len(tk) > 0 THEN
       |    ((length(text) - length(replace(text, '...', ''))) / 3 +
       |     (length(text) - length(replace(text, '…', ''))) / 1)::DOUBLE / len(tk) ELSE 0.0 END, 6) AS ellipsis_ratio,
       |  round(CASE WHEN len(lines) > 0 THEN
       |    len(list_filter(lines, l -> regexp_matches(trim(l), '^[-*•]')))::DOUBLE / len(lines) ELSE 0.0 END, 6) AS bullet_frac,
       |  round(CASE WHEN len(lines) > 0 THEN
       |    len(list_filter(lines, l -> regexp_matches(trim(l), '(\\.\\.\\.|…)$$')))::DOUBLE / len(lines) ELSE 0.0 END, 6) AS ellipsis_frac,
       |  round(CASE WHEN len(tk) > 0 THEN
       |    len(list_filter(tk, x -> regexp_matches(x, '[A-Za-z]')))::DOUBLE / len(tk) ELSE 0.0 END, 6) AS alpha_frac,
       |  CAST(len(list_intersect(list_distinct(list_transform(tk, x -> lower(x))),
       |    ['the','be','to','of','and','that','have','with'])) AS BIGINT) AS n_stop_types
       |  FROM pt),
       |g1 AS (SELECT doc_id,
       |  (n_words >= 60 AND n_words <= 100000 AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
       |   AND hash_ratio <= 0.1 AND ellipsis_ratio <= 0.1 AND bullet_frac <= 0.9 AND ellipsis_frac <= 0.3
       |   AND alpha_frac >= 0.8 AND n_stop_types >= 1) AS gopher_ok FROM gf),
       |rbase AS (SELECT doc_id, len(tk) AS n_tokens FROM pt),
       |rbg AS (SELECT doc_id, unnest(list_transform(generate_series(1, greatest(len(tk)-1, 0)),
       |  i -> tk[i] || ' ' || tk[i+1])) AS g FROM pt),
       |rbgs AS (SELECT doc_id, max(c) AS top2, sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS dup2
       |  FROM (SELECT doc_id, g, COUNT(*) AS c FROM rbg GROUP BY 1, 2) GROUP BY 1),
       |rtg AS (SELECT doc_id, unnest(list_transform(generate_series(1, greatest(len(tk)-2, 0)),
       |  i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS g FROM pt),
       |rtgs AS (SELECT doc_id, max(c) AS top3
       |  FROM (SELECT doc_id, g, COUNT(*) AS c FROM rtg GROUP BY 1, 2) GROUP BY 1),
       |r1 AS (SELECT b.doc_id,
       |  (round(CASE WHEN b.n_tokens > 0 THEN least(COALESCE(top2, 0) * 2.0 / b.n_tokens, 1.0) ELSE 0.0 END, 6) <= 0.20
       |   AND round(CASE WHEN b.n_tokens > 0 THEN least(COALESCE(top3, 0) * 3.0 / b.n_tokens, 1.0) ELSE 0.0 END, 6) <= 0.18
       |   AND round(CASE WHEN b.n_tokens > 1 THEN COALESCE(dup2, 0) * 1.0 / (b.n_tokens - 1) ELSE 0.0 END, 6) <= 0.50)
       |  AS rep_ok
       |  FROM rbase b LEFT JOIN rbgs USING (doc_id) LEFT JOIN rtgs USING (doc_id)),
       |bx AS (SELECT doc_id, unnest(tk) AS tok FROM pt),
       |bwl AS (SELECT unnest(['badword1', 'badword2', 'badword3']) AS w),
       |bhits AS (SELECT bx.doc_id, COUNT(*) AS n_blocked FROM bx JOIN bwl ON lower(bx.tok) = bwl.w GROUP BY 1),
       |b1 AS (SELECT p.doc_id, COALESCE(h.n_blocked, 0) = 0 AS block_ok
       |  FROM pt p LEFT JOIN bhits h USING (doc_id)),
       |rules AS MATERIALIZED (SELECT p.doc_id, p.event_ts, p.lang, l1.lang_ok, g1.gopher_ok, r1.rep_ok, b1.block_ok,
       |  (l1.lang_ok AND g1.gopher_ok AND r1.rep_ok AND b1.block_ok) AS rules_pass
       |  FROM pt p JOIN l1 USING (doc_id) JOIN g1 USING (doc_id) JOIN r1 USING (doc_id) JOIN b1 USING (doc_id)),
       |rsurv AS MATERIALIZED (SELECT p.* FROM pt p JOIN rules USING (doc_id) WHERE rules.rules_pass),
       |held AS (SELECT * FROM pt WHERE doc_id % 2 = 0 AND doc_id % 3 = 0),
       |uni AS MATERIALIZED (SELECT tok, CAST(count(*) AS BIGINT) AS tf
       |        FROM (SELECT unnest(tk) AS tok FROM held) u GROUP BY 1),
       |n AS (SELECT CAST(sum(tf) AS DOUBLE) AS total FROM uni),
       |unilp AS MATERIALIZED (SELECT tok, ln(tf / total) AS lp FROM uni, n),
       |hbig AS (SELECT tk[i] AS w1, tk[i+1] AS w2
       |         FROM held, LATERAL (SELECT unnest(generate_series(1, greatest(len(tk)-1, 0))) AS i) g),
       |hcb AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c2 FROM hbig GROUP BY 1, 2),
       |hcp AS (SELECT w1, CAST(count(*) AS BIGINT) AS c1 FROM hbig GROUP BY 1),
       |bilp AS MATERIALIZED (SELECT hcb.w1, hcb.w2, ln(hcb.c2 / hcp.c1) AS lp2 FROM hcb JOIN hcp USING (w1)),
       |sbig AS (SELECT doc_id, tk[i] AS w1, tk[i+1] AS w2
       |        FROM rsurv, LATERAL (SELECT unnest(generate_series(1, greatest(len(tk)-1, 0))) AS i) g),
       |sscored AS (
       |  SELECT b.doc_id,
       |    ln(0.7 * COALESCE(exp(bl.lp2), 0.0) + (1.0 - 0.7) * COALESCE(exp(ul.lp), exp(-20.0))) AS lp
       |  FROM sbig b LEFT JOIN bilp bl ON b.w1 = bl.w1 AND b.w2 = bl.w2
       |  LEFT JOIN unilp ul ON b.w2 = ul.tok),
       |sagg AS MATERIALIZED (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
       |        round(avg(lp), 6) AS avg_logprob_lm FROM sscored GROUP BY 1),
       |bpsc AS (SELECT r.doc_id, r.lang, a.avg_logprob_lm
       |       FROM rsurv r JOIN sagg a USING (doc_id)
       |       WHERE a.n_bigrams > 0 AND r.doc_id % 2 = 0),
       |psizes AS (SELECT lang, COUNT(*) AS n_docs FROM bpsc GROUP BY 1),
       |pr AS (SELECT bpsc.*, ROW_NUMBER() OVER (PARTITION BY lang ORDER BY avg_logprob_lm DESC) AS rn FROM bpsc),
       |pc1 AS (SELECT pr.lang, pr.avg_logprob_lm AS cut1 FROM pr JOIN psizes s USING (lang)
       |       WHERE rn = CAST(ceil(s.n_docs * (1.0/3.0)) AS BIGINT)),
       |pc2 AS (SELECT pr.lang, pr.avg_logprob_lm AS cut2 FROM pr JOIN psizes s USING (lang)
       |       WHERE rn = CAST(ceil(s.n_docs * (2.0/3.0)) AS BIGINT)),
       |lmsel AS MATERIALIZED (
       |  SELECT r.doc_id,
       |    CASE WHEN a.n_bigrams = 0 OR pc1.cut1 IS NULL THEN NULL
       |         WHEN a.avg_logprob_lm >= pc1.cut1 THEN 'head'
       |         WHEN a.avg_logprob_lm >= pc2.cut2 THEN 'middle' ELSE 'tail' END AS ppl_bucket
       |  FROM rsurv r JOIN sagg a USING (doc_id)
       |  LEFT JOIN pc1 ON r.lang = pc1.lang LEFT JOIN pc2 ON r.lang = pc2.lang),
       |psurv AS MATERIALIZED (SELECT r.* FROM rsurv r JOIN lmsel USING (doc_id)
       |  WHERE lmsel.ppl_bucket IS NOT NULL AND lmsel.ppl_bucket <> 'tail'),
       |bpop AS (SELECT doc_id, tk FROM pt WHERE doc_id % 2 = 0),
       |dtgt AS (SELECT doc_id, tk FROM bpop WHERE doc_id % 7 = 0),
       |dfeat_b AS (
       |  SELECT doc_id, f FROM (SELECT doc_id, unnest(tk) AS f FROM bpop)
       |  UNION ALL
       |  SELECT doc_id, tk[i] || ' ' || tk[i+1] AS f
       |  FROM bpop, LATERAL (SELECT unnest(generate_series(1, greatest(len(tk)-1, 0))) AS i) g),
       |dfeat_t AS (
       |  SELECT doc_id, f FROM (SELECT doc_id, unnest(tk) AS f FROM dtgt)
       |  UNION ALL
       |  SELECT doc_id, tk[i] || ' ' || tk[i+1] AS f
       |  FROM dtgt, LATERAL (SELECT unnest(generate_series(1, greatest(len(tk)-1, 0))) AS i) g),
       |dfb_b AS (SELECT doc_id, CAST(('0x' || substr(md5(f), 1, 7)) AS BIGINT) % 4096 AS b FROM dfeat_b),
       |dfb_t AS (SELECT doc_id, CAST(('0x' || substr(md5(f), 1, 7)) AS BIGINT) % 4096 AS b FROM dfeat_t),
       |dtc AS (SELECT b, CAST(count(*) AS BIGINT) AS ct FROM dfb_t GROUP BY 1),
       |drc AS (SELECT b, CAST(count(*) AS BIGINT) AS cr FROM dfb_b GROUP BY 1),
       |dtt AS (SELECT CAST(COALESCE(sum(ct), 0) AS DOUBLE) AS total_t FROM dtc),
       |dtr AS (SELECT CAST(COALESCE(sum(cr), 0) AS DOUBLE) AS total_r FROM drc),
       |dmodel AS MATERIALIZED (
       |  SELECT dom.b,
       |    ln((COALESCE(dtc.ct, 0) + 1.0) / (total_t + 4096.0)) -
       |    ln((COALESCE(drc.cr, 0) + 1.0) / (total_r + 4096.0)) AS lw
       |  FROM (SELECT unnest(generate_series(0, 4095)) AS b) dom
       |  LEFT JOIN dtc USING (b) LEFT JOIN drc USING (b), dtt, dtr),
       |bws AS (SELECT dfb_b.doc_id, CAST(count(*) AS BIGINT) AS n_feats,
       |        round(sum(m.lw) / count(*), 6) AS avg_log_weight
       |        FROM dfb_b JOIN dmodel m USING (b) GROUP BY 1),
       |dnn AS (SELECT COUNT(*) AS n FROM bws),
       |dcut AS (SELECT avg_log_weight AS c FROM (
       |    SELECT avg_log_weight, ROW_NUMBER() OVER (ORDER BY avg_log_weight DESC) AS rn FROM bws) r, dnn
       |  WHERE rn = CAST(ceil(n * 0.5) AS BIGINT)),
       |pfeat AS (
       |  SELECT doc_id, f FROM (SELECT doc_id, unnest(tk) AS f FROM psurv)
       |  UNION ALL
       |  SELECT doc_id, tk[i] || ' ' || tk[i+1] AS f
       |  FROM psurv, LATERAL (SELECT unnest(generate_series(1, greatest(len(tk)-1, 0))) AS i) g),
       |pfb AS (SELECT doc_id, CAST(('0x' || substr(md5(f), 1, 7)) AS BIGINT) % 4096 AS b FROM pfeat),
       |pws AS (SELECT pfb.doc_id, CAST(count(*) AS BIGINT) AS n_feats,
       |        round(sum(m.lw) / count(*), 6) AS avg_log_weight
       |        FROM pfb JOIN dmodel m USING (b) GROUP BY 1),
       |dsir AS MATERIALIZED (SELECT p.doc_id,
       |  COALESCE(w.n_feats, 0) > 0 AND w.avg_log_weight >= dcut.c AS dsir_keep
       |  FROM psurv p LEFT JOIN pws w USING (doc_id), dcut),
       |dsurv AS MATERIALIZED (SELECT p.* FROM psurv p JOIN dsir USING (doc_id) WHERE dsir.dsir_keep),
       |ksh AS (SELECT doc_id AS doc, event_ts, $charShinglesSql AS shs FROM dsurv),
       |ksig AS MATERIALIZED (
       |  SELECT doc, event_ts, list_transform(generate_series(0, 31), i ->
       |    CASE WHEN len(shs) = 0 THEN 2147483647
       |         ELSE list_min(list_transform(shs, h -> ((2*i+1)*h + 1000003*(i+1)) % 2147483647))
       |    END) AS sig
       |  FROM ksh),
       |kband AS (
       |  SELECT doc, event_ts, sig, unnest(list_transform(generate_series(0, 7), b ->
       |    md5(b::VARCHAR || '_' || array_to_string(list_slice(sig, b*4+1, b*4+4), '_')))) AS band
       |  FROM ksig),
       |kdup AS (
       |  SELECT DISTINCT a.doc
       |  FROM kband a JOIN kband b USING (band)
       |  WHERE (b.event_ts < a.event_ts OR (b.event_ts = a.event_ts AND b.doc < a.doc))
       |    AND len(list_filter(generate_series(1, 32), i -> a.sig[i] = b.sig[i])) / 32.0 >= 0.5),
       |ledger AS MATERIALIZED (
       |  SELECT d.doc_id, d.doc_id IN (SELECT doc FROM kdup) AS dup_prior FROM dsurv d),
       |audit AS MATERIALIZED (
       |  SELECT r.doc_id, r.event_ts, r.lang, r.lang_ok, r.gopher_ok, r.rep_ok, r.block_ok,
       |    l.ppl_bucket, d.dsir_keep, g.dup_prior,
       |    CASE WHEN NOT r.lang_ok THEN 'langid'
       |         WHEN NOT r.gopher_ok THEN 'gopher'
       |         WHEN NOT r.rep_ok THEN 'repetition'
       |         WHEN NOT r.block_ok THEN 'blocklist'
       |         WHEN l.ppl_bucket IS NULL OR l.ppl_bucket = 'tail' THEN 'perplexity'
       |         WHEN NOT d.dsir_keep THEN 'dsir'
       |         WHEN g.dup_prior THEN 'dedup'
       |         ELSE NULL END AS drop_stage
       |  FROM rules r
       |  LEFT JOIN lmsel l USING (doc_id)
       |  LEFT JOIN dsir d USING (doc_id)
       |  LEFT JOIN ledger g USING (doc_id))""".stripMargin
  }

  /** KMV ndv oracle — shared verbatim by the direct estimate and the r13
    * streaming sketch-ingest gate: KMV sets compose under min-k-of-union
    * (the merge law CurationOpsSpec pins), so the accumulated sketch
    * table's estimate IS the one-shot corpus estimate. */
  private[queries] def kmvNdvOracleSql: String =
    s"""WITH tr AS (SELECT lang AS grp, unnest($toksSql) AS tok FROM documents),
       |dh AS (SELECT DISTINCT grp, CAST(('0x' || substr(md5(tok), 1, 7)) AS BIGINT) AS h FROM tr),
       |u AS (SELECT grp, h, h / CAST(268435456 AS DOUBLE) AS u,
       |  ROW_NUMBER() OVER (PARTITION BY grp ORDER BY u, h) AS rn,
       |  COUNT(*) OVER (PARTITION BY grp) AS cnt FROM dh)
       |SELECT grp AS lang,
       |  round(CASE WHEN cnt < 16 THEN CAST(cnt AS DOUBLE)
       |    ELSE 15.0 / u END, 6) AS ndv_est
       |FROM u WHERE rn = CASE WHEN cnt < 16 THEN cnt ELSE 16 END
       |ORDER BY lang""".stripMargin

  private def pplBucketsOracleSql: String =
    s"""$pplBucketCtes
       |SELECT doc_id, lang, n_bigrams, avg_logprob_lm,
       |  round(exp(-avg_logprob_lm), 6) AS perplexity, ppl_bucket
       |FROM bucketed ORDER BY doc_id""".stripMargin

  private def corpusStatsOracleSql: String =
    s"""WITH toks AS (
       |  SELECT source AS grp, CAST(len($toksSql) AS BIGINT) AS n_tokens FROM documents),
       |sizes AS (SELECT grp, COUNT(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS total_tokens
       |  FROM toks GROUP BY 1),
       |r AS (SELECT grp, n_tokens,
       |  ROW_NUMBER() OVER (PARTITION BY grp ORDER BY n_tokens) AS rn FROM toks),
       |j AS (SELECT r.grp, r.n_tokens, r.rn, s.n_docs FROM r JOIN sizes s ON r.grp = s.grp)
       |SELECT s.grp AS source, s.n_docs, s.total_tokens,
       |  m.n_tokens AS median_tokens, p.n_tokens AS p95_tokens
       |FROM sizes s
       |JOIN (SELECT grp, n_tokens FROM j WHERE rn = (n_docs + 1) // 2) m ON s.grp = m.grp
       |JOIN (SELECT grp, n_tokens FROM j WHERE rn = CAST(ceil(n_docs * 0.95) AS BIGINT)) p
       |  ON s.grp = p.grp
       |ORDER BY source""".stripMargin

  private def dsirSelectOracleSql: String =
    s"""WITH t AS (SELECT doc_id, $toksSql AS tk FROM documents),
         |feats AS (
         |  SELECT doc_id, f FROM (SELECT doc_id, unnest(tk) AS f FROM t)
         |  UNION ALL
         |  SELECT doc_id, tk[i] || ' ' || tk[i+1] AS f
         |  FROM t, LATERAL (SELECT unnest(generate_series(1, greatest(len(tk)-1, 0))) AS i) g),
         |fb AS (SELECT doc_id, CAST(('0x' || substr(md5(f), 1, 7)) AS BIGINT) % 4096 AS b FROM feats),
         |tc AS (SELECT b, CAST(count(*) AS BIGINT) AS ct FROM fb WHERE doc_id % 7 = 0 GROUP BY 1),
         |rc AS (SELECT b, CAST(count(*) AS BIGINT) AS cr FROM fb GROUP BY 1),
         |tt AS (SELECT CAST(COALESCE(sum(ct), 0) AS DOUBLE) AS total_t FROM tc),
         |trr AS (SELECT CAST(COALESCE(sum(cr), 0) AS DOUBLE) AS total_r FROM rc),
         |model AS (
         |  SELECT rc.b,
         |    ln((COALESCE(tc.ct, 0) + 1.0) / (total_t + 4096.0)) -
         |    ln((rc.cr + 1.0) / (total_r + 4096.0)) AS lw
         |  FROM rc LEFT JOIN tc USING (b), tt, trr),
         |dscored AS (
         |  SELECT fb.doc_id, CAST(count(*) AS BIGINT) AS n_feats, sum(m.lw) AS sum_lw
         |  FROM fb JOIN model m USING (b) GROUP BY 1),
         |w AS (SELECT d.doc_id, COALESCE(s.n_feats, 0) AS n_feats,
         |        round(COALESCE(s.sum_lw, 0.0), 6) AS log_weight,
         |        round(CASE WHEN COALESCE(s.n_feats, 0) > 0
         |          THEN s.sum_lw / s.n_feats ELSE 0.0 END, 6) AS avg_log_weight
         |      FROM documents d LEFT JOIN dscored s USING (doc_id)),
         |sc AS (SELECT * FROM w WHERE n_feats > 0),
         |nn AS (SELECT COUNT(*) AS n FROM sc),
         |cut AS (SELECT avg_log_weight AS c FROM (
         |    SELECT avg_log_weight, ROW_NUMBER() OVER (ORDER BY avg_log_weight DESC) AS rn FROM sc) r, nn
         |  WHERE rn = CAST(ceil(n * 0.25) AS BIGINT))
         |SELECT w.doc_id, w.n_feats, w.log_weight, w.avg_log_weight,
         |  CASE WHEN w.n_feats > 0 THEN w.avg_log_weight >= cut.c ELSE FALSE END AS dsir_keep
         |FROM w, cut ORDER BY w.doc_id""".stripMargin

  /** Incremental minhash ingest oracle, shared verbatim by the direct
    * and persisted-band-index forms (same semantics, different plan). */
  private def minhashIncrementalOracleSql: String =
    s"""WITH sh AS (
       |  SELECT doc_id AS doc, $charShinglesSql AS shs FROM documents),
       |sig AS (
       |  SELECT doc, list_transform(generate_series(0, 31), i ->
       |    CASE WHEN len(shs) = 0 THEN 2147483647
       |         ELSE list_min(list_transform(shs, h -> ((2*i+1)*h + 1000003*(i+1)) % 2147483647))
       |    END) AS sig
       |  FROM sh),
       |nb AS (
       |  SELECT doc, sig, unnest(list_transform(generate_series(0, 7), b ->
       |    md5(b::VARCHAR || '_' || array_to_string(list_slice(sig, b*4+1, b*4+4), '_')))) AS band
       |  FROM sig WHERE doc % 3 <> 0),
       |cb AS (
       |  SELECT doc AS corpus_doc, sig AS csig, unnest(list_transform(generate_series(0, 7), b ->
       |    md5(b::VARCHAR || '_' || array_to_string(list_slice(sig, b*4+1, b*4+4), '_')))) AS band
       |  FROM sig WHERE doc % 3 = 0),
       |cand AS (
       |  SELECT DISTINCT nb.doc, cb.corpus_doc, nb.sig AS sig_a, cb.csig AS sig_b
       |  FROM nb JOIN cb USING (band))
       |SELECT doc, corpus_doc,
       |  len(list_filter(generate_series(1, 32), i -> sig_a[i] = sig_b[i])) / 32.0 AS est_jaccard
       |FROM cand
       |WHERE len(list_filter(generate_series(1, 32), i -> sig_a[i] = sig_b[i])) / 32.0 >= 0.5
       |ORDER BY doc, corpus_doc""".stripMargin

  /** The perceptual-hash reconstruction CTEs shared by the phash oracles:
    * recompute the 9×8 pattern grid from the id arithmetic and pack both
    * hashes exactly as Multimodal.perceptualHashes does. */
  private def phashPackedCtes: String =
    """WITH RECURSIVE xs AS (SELECT unnest(generate_series(0, 8)) AS x),
      |ys AS (SELECT unnest(generate_series(0, 7)) AS y),
      |grid AS (
      |  SELECT d.doc_id, x.x, y.y, (d.doc_id*(1 + x.x + 9*y.y) + x.x*7 + y.y*13) % 256 AS g
      |  FROM documents d CROSS JOIN xs x CROSS JOIN ys y),
      |nxt AS (
      |  SELECT a.doc_id, a.x, a.y, a.g, b.g AS gn,
      |    CASE WHEN a.y*8+a.x = 63 THEN -9223372036854775808
      |         ELSE (1::BIGINT << (a.y*8+a.x)) END AS pw
      |  FROM grid a JOIN grid b ON a.doc_id = b.doc_id AND a.y = b.y AND b.x = a.x + 1
      |  WHERE a.x < 8),
      |means AS (
      |  SELECT doc_id, CAST(SUM(g) // 64 AS BIGINT) AS mean
      |  FROM grid WHERE x < 8 GROUP BY doc_id),
      |packed AS (
      |  SELECT n.doc_id,
      |    CAST(SUM(CASE WHEN n.gn > n.g THEN n.pw ELSE 0 END) AS BIGINT) AS dhash,
      |    CAST(SUM(CASE WHEN n.g > m.mean THEN n.pw ELSE 0 END) AS BIGINT) AS ahash
      |  FROM nxt n JOIN means m USING (doc_id) GROUP BY n.doc_id)""".stripMargin
}
