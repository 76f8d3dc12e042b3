package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import graft.ops.Retrieval

/** Lexical-retrieval operators: posting-index artifact shape, exact
  * Okapi BM25 against the hand formula, the pure-append ingest law,
  * deterministic tie-breaking, df-based stopword elision, RRF fusion
  * math, and the no-cartesian plan shape. */
class RetrievalSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  private lazy val spark = SparkTestSession.spark

  private def corpus: DataFrame = {
    import spark.implicits._
    Seq(
      (0L, "apple banana apple"),
      (1L, "banana cherry"),
      (2L, "cherry date elderberry fig"),
      (3L, "")).toDF("id", "text")
  }

  private def oneQuery(text: String): DataFrame = {
    import spark.implicits._
    Seq((100L, text)).toDF("qid", "qtext")
  }

  test("posting index: one row per (term, doc) with tf and dl; empty docs absent") {
    val rows = Retrieval.postingIndex(corpus, "id", "text")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(rows == Set(
      ("apple", 0L, 2L, 3L), ("banana", 0L, 1L, 3L),
      ("banana", 1L, 1L, 2L), ("cherry", 1L, 1L, 2L),
      ("cherry", 2L, 1L, 4L), ("date", 2L, 1L, 4L),
      ("elderberry", 2L, 1L, 4L), ("fig", 2L, 1L, 4L)))
  }

  test("doc lengths include empty documents (they count toward N and avgdl)") {
    val dl = Retrieval.docLengths(corpus, "id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(dl == Set((0L, 3L), (1L, 2L), (2L, 4L), (3L, 0L)))
  }

  test("bm25TopK matches the hand-computed Okapi formula") {
    val out = Retrieval.bm25TopK(
      Retrieval.postingIndex(corpus, "id", "text"),
      Retrieval.docLengths(corpus, "id", "text"),
      oneQuery("apple cherry"), "qid", "qtext", k = 10)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    // N = 4 docs, avgdl = (3 + 2 + 4 + 0) / 4 = 2.25
    val n = 4.0; val avgdl = 2.25; val k1 = 1.2; val b = 0.75
    def idf(df: Double) = math.log(1.0 + (n - df + 0.5) / (df + 0.5))
    def score(qtf: Double, df: Double, tf: Double, dl: Double) =
      BigDecimal(qtf * idf(df) * (tf * (k1 + 1.0)) /
        (tf + k1 * (1.0 - b + b * dl / avgdl)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val d0 = score(1, 1, 2, 3) // apple: df 1, tf 2 in doc 0 (dl 3)
    val d1 = score(1, 2, 1, 2) // cherry: df 2, tf 1 in doc 1 (dl 2)
    val d2 = score(1, 2, 1, 4) // cherry: df 2, tf 1 in doc 2 (dl 4)
    assert(d0 > d1 && d1 > d2, s"fixture must rank 0 > 1 > 2: $d0 $d1 $d2")
    assert(out.toSeq == Seq((100L, 1, 0L, d0), (100L, 2, 1L, d1), (100L, 3, 2L, d2)))
  }

  test("query term frequency multiplies the contribution") {
    val once = Retrieval.bm25TopK(
      Retrieval.postingIndex(corpus, "id", "text"),
      Retrieval.docLengths(corpus, "id", "text"),
      oneQuery("date"), "qid", "qtext", k = 1).head().getDouble(3)
    val twice = Retrieval.bm25TopK(
      Retrieval.postingIndex(corpus, "id", "text"),
      Retrieval.docLengths(corpus, "id", "text"),
      oneQuery("date date"), "qid", "qtext", k = 1).head().getDouble(3)
    assert(math.abs(twice - 2.0 * once) < 2e-6, s"$twice vs 2×$once")
  }

  test("posting/doc-length fold over disjoint doc batches is a pure append ≡ one-shot") {
    val gen1 = corpus.filter(col("id") % 2 === 0)
    val gen2 = corpus.filter(col("id") % 2 =!= 0)
    val folded = Retrieval.bm25TopK(
      Retrieval.postingIndex(gen1, "id", "text")
        .unionByName(Retrieval.postingIndex(gen2, "id", "text")),
      Retrieval.docLengths(gen1, "id", "text")
        .unionByName(Retrieval.docLengths(gen2, "id", "text")),
      oneQuery("apple cherry banana"), "qid", "qtext", k = 10)
      .collect().toSeq.map(_.toSeq)
    val oneShot = Retrieval.bm25TopK(
      Retrieval.postingIndex(corpus, "id", "text"),
      Retrieval.docLengths(corpus, "id", "text"),
      oneQuery("apple cherry banana"), "qid", "qtext", k = 10)
      .collect().toSeq.map(_.toSeq)
    assert(folded == oneShot)
  }

  test("equal rounded scores break ties on the lower doc id") {
    import spark.implicits._
    // identical (tf, dl) for the query term → identical scores
    val docs = Seq((7L, "xray yankee"), (5L, "xray zulu")).toDF("id", "text")
    val out = Retrieval.bm25TopK(
      Retrieval.postingIndex(docs, "id", "text"),
      Retrieval.docLengths(docs, "id", "text"),
      oneQuery("xray"), "qid", "qtext", k = 10)
      .collect().map(r => (r.getInt(1), r.getLong(2)))
    assert(out.toSeq == Seq((1, 5L), (2, 7L)))
  }

  test("termStats artifact: per-batch rows sum to corpus df; artifact serving ≡ computed, elision included") {
    import spark.implicits._
    // additivity under the disjoint-doc-id law: per-batch df rows fold
    // by pure append, summing to the corpus df
    val direct = Retrieval.termStats(corpus, "text")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val folded = Retrieval.termStats(corpus.filter(col("id") % 2 === 0), "text")
      .unionByName(Retrieval.termStats(corpus.filter(col("id") % 2 =!= 0), "text"))
    val refolded = folded.groupBy("term").agg(sum("df").as("df"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(refolded == direct && direct.nonEmpty)
    // serving from the (unaggregated!) appended store equals the
    // self-contained path bit for bit
    def serve(ts: Option[org.apache.spark.sql.DataFrame], frac: Double) =
      Retrieval.bm25TopK(
        Retrieval.postingIndex(corpus, "id", "text"),
        Retrieval.docLengths(corpus, "id", "text"),
        oneQuery("apple cherry banana"), "qid", "qtext", k = 10,
        maxDfFraction = frac, precomputedTermStats = ts)
        .collect().toSeq.map(_.toSeq)
    assert(serve(Some(folded), 1.0) == serve(None, 1.0))
    assert(serve(None, 1.0).nonEmpty)
    // elision from the artifact agrees with elision computed — and the
    // artifact path never touches an elided term's postings at all
    assert(serve(Some(folded), 0.4) == serve(None, 0.4))
    // deletion as a NEGATIVE append (the counting-CRDT form): folding
    // -termStats(departed) leaves exactly the survivors' stats
    val deleted = corpus.filter(col("id") === 0L)
    val afterGc = folded.unionByName(
      Retrieval.termStats(deleted, "text")
        .select(col("term"), (-col("df")).as("df")))
      .groupBy("term").agg(sum("df").as("df")).filter(col("df") > 0)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val rebuilt = Retrieval.termStats(corpus.filter(col("id") =!= 0L), "text")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(afterGc == rebuilt)
  }

  test("ndcgAtK: hand-computed DCG/IDCG; orders runs recall@k cannot distinguish (r17)") {
    import spark.implicits._
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // one query, two relevant docs with different grades
    val qrels = Seq((1L, 10L, 3L), (1L, 20L, 1L)).toDF("query_id", "doc_id", "grade")
    // run X surfaces the LOW-grade doc first; run Y the high-grade one
    val runX = Seq((1L, 20L, 1), (1L, 10L, 2)).toDF("query_id", "doc_id", "rank")
    val runY = Seq((1L, 10L, 1), (1L, 20L, 2)).toDF("query_id", "doc_id", "rank")
    // recall@10 cannot tell them apart: both retrieve both relevant docs
    val recX = Retrieval.evalRun(runX, qrels.select("query_id", "doc_id"), 10)
      .collect()(0).getDouble(6)
    val recY = Retrieval.evalRun(runY, qrels.select("query_id", "doc_id"), 10)
      .collect()(0).getDouble(6)
    assert(recX == 1.0 && recY == 1.0)
    // nDCG does: hand-computed from the formula
    val ln2 = math.log(2.0)
    val dcgX = 1.0 / (math.log(2.0) / ln2) + 7.0 / (math.log(3.0) / ln2)
    val dcgY = 7.0 / (math.log(2.0) / ln2) + 1.0 / (math.log(3.0) / ln2)
    val idcg = 7.0 / (math.log(2.0) / ln2) + 1.0 / (math.log(3.0) / ln2)
    val x = Retrieval.ndcgAtK(runX, qrels, 10).collect()(0)
    val y = Retrieval.ndcgAtK(runY, qrels, 10).collect()(0)
    assert(x.getDouble(1) == r6(dcgX) && x.getDouble(2) == r6(idcg) &&
      x.getDouble(3) == r6(dcgX / idcg), s"run X: $x")
    assert(y.getDouble(3) == 1.0, s"run Y is the ideal ordering: $y")
    assert(y.getDouble(3) > x.getDouble(3),
      "nDCG must prefer the run that surfaces the higher grade earlier")
    // a query with no positive-grade qrels scores 0, not NaN; an
    // unserved query still gets its row (evalRun convention)
    val qrels0 = Seq((1L, 10L, 0L), (2L, 30L, 2L)).toDF("query_id", "doc_id", "grade")
    val z = Retrieval.ndcgAtK(runX, qrels0, 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(z == Map(1L -> 0.0, 2L -> 0.0), s"got $z")
    // rank beyond k contributes nothing
    val far = Seq((1L, 10L, 11)).toDF("query_id", "doc_id", "rank")
    assert(Retrieval.ndcgAtK(far, qrels, 10).collect()(0).getDouble(3) == 0.0)
  }

  test("apAtK: hand-computed average precision, trec_eval n_rel denominator (r17)") {
    import spark.implicits._
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // q1: relevant {10, 20, 99}; run hits 10 at rank 1 and 20 at rank 3
    // → AP = (1/1 + 2/3) / 3 (the unretrieved 99 costs the denominator)
    val run = Seq((1L, 10L, 1), (1L, 55L, 2), (1L, 20L, 3),
      (2L, 70L, 1)).toDF("query_id", "doc_id", "rank")
    val qrels = Seq((1L, 10L), (1L, 20L), (1L, 99L), (2L, 42L))
      .toDF("query_id", "doc_id")
    val out = Retrieval.apAtK(run, qrels, k = 10)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(out == Map(
      1L -> ((3L, 2L, r6((1.0 + 2.0 / 3.0) / 3.0))),
      2L -> ((1L, 0L, 0.0))), s"got $out")
    // rank beyond k contributes nothing
    val far = Seq((1L, 10L, 11)).toDF("query_id", "doc_id", "rank")
    assert(Retrieval.apAtK(far, qrels, 10)
      .filter(col("query_id") === 1L).collect()(0).getDouble(3) == 0.0)
  }

  test("requireFreshTermStats: stale artifact fails loud, fresh passes, GC-paired maintenance stays consistent (r17)") {
    import java.nio.file.Files
    val whDir = Files.createTempDirectory("graft_rfts").toString
    val rm = new graft.relations.RelationManager(spark, whDir)
    val postRel = graft.core.Relation("graft", "main", "rfts_postings")
    val statsRel = graft.core.Relation("graft", "main", "rfts_stats")
    val gen1 = corpus.filter(col("id") % 2 === 0)
    val gen2 = corpus.filter(col("id") % 2 =!= 0)
    // full postings, but a stats artifact that MISSED generation 2 —
    // the silent-idf-shift scenario the guard exists for
    rm.writeBucketedTable(Retrieval.postingIndex(corpus, "id", "text"),
      postRel, 4, Seq("term"))
    rm.writeTable(Retrieval.termStats(gen1, "text"), statsRel)
    val eStale = intercept[IllegalArgumentException](
      Retrieval.requireFreshTermStats(rm, statsRel, postRel))
    assert(eStale.getMessage.contains("STALE") &&
      eStale.getMessage.contains("sum(df)"), eStale.getMessage)
    // folding the missing batch in (pure append) restores the invariant
    rm.appendTable(Retrieval.termStats(gen2, "text"), statsRel)
    Retrieval.requireFreshTermStats(rm, statsRel, postRel)
    // GC pairing: a row-level posting delete plus the matching negative
    // df append keeps the identity; the delete ALONE breaks it
    spark.sql(s"DELETE FROM ${rm.catalogName}.main.rfts_postings WHERE doc_id = 0")
    val eHalf = intercept[IllegalArgumentException](
      Retrieval.requireFreshTermStats(rm, statsRel, postRel))
    assert(eHalf.getMessage.contains("STALE"), eHalf.getMessage)
    rm.appendTable(
      Retrieval.termStats(corpus.filter(col("id") === 0), "text")
        .select(col("term"), (-col("df")).as("df")), statsRel)
    Retrieval.requireFreshTermStats(rm, statsRel, postRel)
    // a non-table postings relation is a loud error, not a silent pass
    val eNone = intercept[IllegalArgumentException](
      Retrieval.requireFreshTermStats(rm, statsRel,
        graft.core.Relation("graft", "main", "rfts_missing")))
    assert(eNone.getMessage.contains("not a commit-log table"), eNone.getMessage)
  }

  test("cross-store snapshot pin: a concurrent GC no longer changes pinned serving; an intra-operation cut fails loud (r18)") {
    import spark.implicits._
    import java.nio.file.Files
    val whDir = Files.createTempDirectory("graft_pin").toString
    val rm = new graft.relations.RelationManager(spark, whDir)
    def rel(n: String) = graft.core.Relation("graft", "main", n)
    val (postRel, dlRel, tsRel) = (rel("pin_postings"), rel("pin_doc_lens"), rel("pin_stats"))
    val docs = (0L until 24L).map(i => (i, s"w${i % 6} w${i % 4} u$i"))
      .toDF("id", "text")
    rm.writeBucketedTable(Retrieval.postingIndex(docs, "id", "text"),
      postRel, 4, Seq("term"))
    rm.setTableProperties(postRel, Map("row_level_mode" -> "merge-on-read"))
    rm.writeTable(Retrieval.docLengths(docs, "id", "text"), dlRel,
      statsCols = Seq("doc_id"))
    rm.setTableProperties(dlRel, Map("row_level_mode" -> "merge-on-read"))
    rm.writeTable(Retrieval.termStats(docs, "text"), tsRel)
    val queries = Seq((1L, "w1 w2"), (2L, "w3 u7")).toDF("query_id", "qtext")
    def serve(p: DataFrame, dl: DataFrame, ts: DataFrame): Seq[String] =
      Retrieval.bm25TopK(p.select("term", "doc_id", "tf", "dl"),
        dl.select("doc_id", "dl"), queries, "query_id", "qtext", k = 8,
        precomputedTermStats = Some(ts.select("term", "df")))
        .orderBy("query_id", "rank").collect().toSeq.map(_.toString)
    val before = serve(rm.read(postRel), rm.read(dlRel), rm.read(tsRel))
    // PIN first, then a GC commits between the pin and the query run
    val (pp, pdl, pts) = Retrieval.pinnedBm25Stores(rm, postRel, dlRel, tsRel)
    def gcWave(pred: Long => Boolean): Unit = {
      val doomed = (0L until 24L).filter(pred)
      rm.appendTable(
        Retrieval.termStats(docs.filter(col("id").isin(doomed: _*)), "text")
          .select(col("term"), (-col("df")).as("df")), tsRel)
      spark.sql(s"DELETE FROM ${rm.catalogName}.main.pin_postings " +
        s"WHERE doc_id IN (${doomed.mkString(",")})")
      spark.sql(s"DELETE FROM ${rm.catalogName}.main.pin_doc_lens " +
        s"WHERE doc_id IN (${doomed.mkString(",")})")
    }
    gcWave(_ % 4 == 1)
    // the pinned composition still serves the PRE-GC generation — the
    // concurrent GC cannot shift idf/N mid-query
    assert(serve(pp, pdl, pts) == before,
      "pinned serving must be immune to the concurrent GC")
    // an un-pinned serve legitimately sees the post-GC generation
    val after = serve(rm.read(postRel), rm.read(dlRel), rm.read(tsRel))
    assert(after != before, "precondition: the GC changed serving output")
    // a FRESH pin serves the new consistent cut
    val (p2, d2, t2) = Retrieval.pinnedBm25Stores(rm, postRel, dlRel, tsRel)
    assert(serve(p2, d2, t2) == after)
    // an INTRA-OPERATION state — compensating append committed, paired
    // posting delete not yet — is point-in-time real but serving-
    // inconsistent: the pin must fail loud, never compose mixed stats
    rm.appendTable(
      Retrieval.termStats(docs.filter(col("id") === 0L), "text")
        .select(col("term"), (-col("df")).as("df")), tsRel)
    val e = intercept[IllegalStateException](
      Retrieval.pinnedBm25Stores(rm, postRel, dlRel, tsRel, maxAttempts = 2))
    assert(e.getMessage.contains("mid-flight"), e.getMessage)
    // completing the pair restores pinnability
    spark.sql(s"DELETE FROM ${rm.catalogName}.main.pin_postings WHERE doc_id = 0")
    Retrieval.pinnedBm25Stores(rm, postRel, dlRel, tsRel)
  }

  test("regime-2 Zipf guard: a df head fails loud under shuffle strategy; elision/acceptSkew disarm; zero construction jobs (r18)") {
    import spark.implicits._
    // planted Zipf head: "the" in EVERY doc (df = N), content terms rare
    val docs = (0L until 40L).map(i => (i, s"the w$i x$i")).toDF("id", "text")
    val postings = Retrieval.postingIndex(docs, "id", "text")
    val docLens = Retrieval.docLengths(docs, "id", "text")
    val stats = Retrieval.termStats(docs, "text")
    val queries = Seq((1L, "the w3")).toDF("query_id", "qtext")
    def serve(maxDf: Double = 1.0, strat: String = "shuffle",
              skew: Boolean = false) =
      Retrieval.bm25TopK(postings, docLens, queries, "query_id", "qtext",
        k = 5, maxDfFraction = maxDf, strategy = strat,
        precomputedTermStats = Some(stats), acceptSkew = skew)
    // knob-off shuffle serve: the guard is IN-PLAN — construction fires
    // zero jobs, execution fails loud on the head term
    val guarded = ConstructionJobProbe.assertNoConstructionJobs(
      spark, "zipf-guard")(serve())
    val e = intercept[Exception](guarded.collect())
    assert(e.getMessage.contains("Zipf head") &&
      e.getMessage.contains("maxDfFraction"), e.getMessage)
    // each documented disarm path serves: elision (the measured lever),
    // the explicit opt-in, and the broadcast regime (no bucket pinning)
    assert(serve(maxDf = 0.3).count() > 0)
    assert(serve(skew = true).count() > 0)
    assert(serve(strat = "broadcast").count() > 0)
    // elision and the opt-in agree on non-head terms: same rows for w3
    val a = serve(maxDf = 0.3).filter(col("doc_id") === 3L).collect()
    val b = serve(skew = true).filter(col("doc_id") === 3L)
      .collect()
    assert(a.nonEmpty && a.map(_.getLong(2)).toSet == b.map(_.getLong(2)).toSet)
  }

  test("requireFreshTermStats: a stats-less manifest fails loud; allowScan opts in to the O(store) count (r18)") {
    import java.nio.file.Files
    val whDir = Files.createTempDirectory("graft_rfts_scan").toString
    val rm = new graft.relations.RelationManager(spark, whDir)
    val postRel = graft.core.Relation("graft", "main", "rftsx_postings")
    val statsRel = graft.core.Relation("graft", "main", "rftsx_stats")
    // statsCols = Nil → the manifest carries NO per-file row counts, so
    // the O(manifest) live-row arithmetic is unavailable
    rm.writeTable(Retrieval.postingIndex(corpus, "id", "text"), postRel)
    rm.writeTable(Retrieval.termStats(corpus, "text"), statsRel)
    val e = intercept[IllegalStateException](
      Retrieval.requireFreshTermStats(rm, statsRel, postRel))
    assert(e.getMessage.contains("per-file row stats") &&
      e.getMessage.contains("allowScan"), e.getMessage)
    // the opt-in pays one exact counting scan and the invariant holds
    Retrieval.requireFreshTermStats(rm, statsRel, postRel, allowScan = true)
  }

  test("maxDfFraction elides saturated terms before candidate generation") {
    import spark.implicits._
    val docs = Seq((0L, "the apple"), (1L, "the banana"),
      (2L, "the cherry"), (3L, "the date")).toDF("id", "text")
    val full = Retrieval.bm25TopK(
      Retrieval.postingIndex(docs, "id", "text"),
      Retrieval.docLengths(docs, "id", "text"),
      oneQuery("the apple"), "qid", "qtext", k = 10)
    assert(full.count() == 4, "df = N term matches every document at the default")
    val pruned = Retrieval.bm25TopK(
      Retrieval.postingIndex(docs, "id", "text"),
      Retrieval.docLengths(docs, "id", "text"),
      oneQuery("the apple"), "qid", "qtext", k = 10, maxDfFraction = 0.5)
    val rows = pruned.collect().map(r => (r.getLong(2), r.getInt(1)))
    assert(rows.toSeq == Seq((0L, 1)),
      s"'the' (df 4 > 0.5·4) must drop; only 'apple' matches: ${rows.toSeq}")
  }

  test("shuffle strategy returns the broadcast path's rows; bad strategy is a hard error") {
    val args = (Retrieval.postingIndex(corpus, "id", "text"),
      Retrieval.docLengths(corpus, "id", "text"),
      oneQuery("apple cherry banana"))
    val bcast = Retrieval.bm25TopK(args._1, args._2, args._3, "qid", "qtext",
      k = 10).collect().toSeq.map(_.toSeq)
    val shuf = Retrieval.bm25TopK(args._1, args._2, args._3, "qid", "qtext",
      k = 10, strategy = "shuffle").collect().toSeq.map(_.toSeq)
    assert(bcast == shuf && bcast.nonEmpty)
    intercept[IllegalArgumentException](
      Retrieval.bm25TopK(args._1, args._2, args._3, "qid", "qtext",
        k = 10, strategy = "sortmerge"))
  }

  test("phraseMatch counts distinct start positions, overlapping runs included") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a a a b"),       // "a a" starts at 1 and 2
      (2L, "a b a a"),       // "a a" starts at 3
      (3L, "b b b"),         // no match
      (4L, "a x a")          // terms present, never adjacent
    ).toDF("id", "text")
    val out = Retrieval.phraseMatch(
      Retrieval.positionalIndex(docs, "id", "text"),
      oneQuery("a a"), "qid", "qtext")
      .collect().map(r => (r.getLong(1), r.getLong(2))).toMap
    assert(out == Map(1L -> 2L, 2L -> 1L), s"got $out")
  }

  test("phraseMatch requires every phrase term at its offset (repeated terms too)") {
    import spark.implicits._
    val docs = Seq(
      (1L, "x y x z"),   // "x y x" at 1
      (2L, "x y q x"),   // y at 2 but x not at 3
      (3L, "y x y")      // phrase terms present, wrong offsets
    ).toDF("id", "text")
    val out = Retrieval.phraseMatch(
      Retrieval.positionalIndex(docs, "id", "text"),
      oneQuery("x y x"), "qid", "qtext")
      .collect().map(r => (r.getLong(1), r.getLong(2))).toMap
    assert(out == Map(1L -> 1L), s"got $out")
  }

  test("phraseMatch plan: one broadcast term join, no cartesian, no window") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val q = docs.filter(col("doc_id") % 53 === 0)
      .select(col("doc_id").as("query_id"),
        array_join(slice(graft.ops.TextAnalysis.tokens(col("text")), 1, 3), " ")
          .as("qtext"))
    val plan = Retrieval.phraseMatch(
      Retrieval.positionalIndex(docs, "doc_id", "text"), q, "query_id", "qtext")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"cartesian in phrase plan:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      "phrase terms must broadcast against the positional index")
    assert(!plan.contains("Window"), s"window in phrase plan:\n$plan")
  }

  test("positional index is append-additive like the flat index") {
    val gen1 = corpus.filter(col("id") % 2 === 0)
    val gen2 = corpus.filter(col("id") % 2 =!= 0)
    val folded = Retrieval.phraseMatch(
      Retrieval.positionalIndex(gen1, "id", "text")
        .unionByName(Retrieval.positionalIndex(gen2, "id", "text")),
      oneQuery("cherry date"), "qid", "qtext")
      .collect().toSeq.map(_.toSeq)
    val oneShot = Retrieval.phraseMatch(
      Retrieval.positionalIndex(corpus, "id", "text"),
      oneQuery("cherry date"), "qid", "qtext")
      .collect().toSeq.map(_.toSeq)
    assert(folded == oneShot && oneShot.nonEmpty)
  }

  test("rrfFuse sums 1/(k0 + rank) across runs; single-run docs count once") {
    import spark.implicits._
    val runA = Seq((1L, 10L, 1), (1L, 11L, 2)).toDF("query_id", "doc_id", "rank")
    val runB = Seq((1L, 11L, 1), (1L, 12L, 2)).toDF("query_id", "doc_id", "rank")
    val out = Retrieval.rrfFuse(Seq(runA, runB), k = 10, rrfK = 60)
      .collect().map(r => (r.getInt(1), r.getLong(2), r.getDouble(3)))
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val s11 = r6(1.0 / 62 + 1.0 / 61) // rank 2 in A, rank 1 in B
    val s10 = r6(1.0 / 61)
    val s12 = r6(1.0 / 62)
    assert(out.toSeq == Seq((1, 11L, s11), (2, 10L, s10), (3, 12L, s12)))
  }

  test("evalRun: reciprocal rank of the first relevant hit, zero on miss, every qrels query present") {
    import spark.implicits._
    val run = Seq(
      (1L, 10L, 1), (1L, 11L, 2), (1L, 12L, 3),   // q1: relevant at 3
      (2L, 20L, 1), (2L, 21L, 2),                 // q2: relevant at 1 AND 2 → min
      (3L, 30L, 1),                               // q3: relevant never retrieved
      (4L, 40L, 11)                               // q4: relevant beyond k
    ).toDF("query_id", "doc_id", "rank")
    val qrels = Seq((1L, 12L), (2L, 20L), (2L, 21L), (3L, 99L), (4L, 40L), (5L, 50L))
      .toDF("query_id", "doc_id")
    val out = Retrieval.evalRun(run, qrels, k = 10)
      .collect().map(r => r.getLong(0) ->
        ((if (r.isNullAt(1)) -1 else r.getInt(1)), r.getDouble(2), r.getBoolean(3)))
      .toMap
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out == Map(
      1L -> ((3, r6(1.0 / 3), true)),
      2L -> ((1, 1.0, true)),
      3L -> ((-1, 0.0, false)),   // retrieved docs never relevant
      4L -> ((-1, 0.0, false)),   // relevant doc ranked past k
      5L -> ((-1, 0.0, false))),  // query never served at all
      s"got $out")
    // recall@k triple (r16): n_rel counts DISTINCT relevant docs, recall
    // = retrieved-relevant / n_rel — q2 retrieves BOTH its relevant docs
    // (recall 1 with n_rel 2), and a multi-relevant partial case below
    val rec = Retrieval.evalRun(run, qrels, k = 10)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(4), r.getLong(5), r.getDouble(6)))).toMap
    assert(rec == Map(
      1L -> ((1L, 1L, 1.0)),
      2L -> ((2L, 2L, 1.0)),
      3L -> ((1L, 0L, 0.0)),
      4L -> ((1L, 0L, 0.0)),
      5L -> ((1L, 0L, 0.0))), s"got $rec")
    // hit vs recall genuinely diverge under partial multi-relevant
    // retrieval: q1 has 3 relevant docs, retrieves 2 of them ≤ k
    val qrels2 = Seq((1L, 10L), (1L, 12L), (1L, 99L)).toDF("query_id", "doc_id")
    val part = Retrieval.evalRun(run, qrels2, k = 10).collect().head
    assert(part.getBoolean(3) && part.getLong(4) == 3L &&
      part.getLong(5) == 2L && part.getDouble(6) == r6(2.0 / 3),
      s"partial recall row: $part")
  }

  test("plan shape: artifact serving never exchanges on the term — the index feeds one consumer") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val q = docs.filter(col("doc_id") % 37 === 0)
      .select(col("doc_id").as("query_id"),
        array_join(slice(graft.ops.TextAnalysis.tokens(col("text")), 1, 6), " ")
          .as("qtext"))
    // pin the artifacts (a deployment reads them from TABLES — an
    // inline index build would contribute its own construction
    // exchange and mask the serving plan under test)
    val post = Retrieval.postingIndex(docs, "doc_id", "text").localCheckpoint(true)
    val lens = Retrieval.docLengths(docs, "doc_id", "text").localCheckpoint(true)
    val ts = Retrieval.termStats(docs, "text").localCheckpoint(true)
    val plan = Retrieval.bm25TopK(post, lens, q, "query_id", "qtext", k = 10,
      precomputedTermStats = Some(ts))
      .queryExecution.executedPlan.toString
    // the self-contained path carries the shared (term, doc) candidate
    // exchange (two consumers of the touched slice); the artifact path
    // must NOT — candidates never move (the remaining term-keyed
    // exchanges are the query-distinct and the vocab-bounded artifact
    // aggregate, both tiny by construction)
    assert(!"hashpartitioning\\(term#\\d+L?, doc_id".r.findFirstIn(plan).isDefined,
      s"artifact serving must not repartition candidates:\n$plan")
    // ...and the posting index is scanned exactly ONCE (the
    // self-contained path scans it twice without the shared exchange —
    // identify its scan by the tf column, unique to the posting schema)
    val postScans = plan.linesIterator
      .count(l => l.contains("Scan ExistingRDD") && l.contains("tf#"))
    assert(postScans == 1, s"posting index must feed one consumer, saw $postScans:\n$plan")
    assert(plan.contains("BroadcastHashJoin") && !plan.contains("CartesianProduct"))
    assert(!plan.contains("Window"))
  }

  test("PhraseFoldParity: fused phrase_start_count equals the HOF intersect fold") {
    // r18 opt parity pin: phraseMatch's fused two-pointer intersection
    // (PhraseStartCount) must be row-identical to the former interpreted
    // transform + aggregate(array_intersect) fold it replaced, on the
    // real fixture phrase workload (every 37th doc's 3-token prefix)
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val index = Retrieval.positionalIndex(docs, "doc_id", "text")
    val queries = Retrieval.prefixQueries(docs, "doc_id", "text",
      modulo = 37, prefixTokens = 3)
    val fused = Retrieval.phraseMatch(index, queries, "query_id", "qtext")
    // the pre-r18 formulation, verbatim
    val qTerms = queries.select(col("query_id"),
      posexplode(graft.ops.TextAnalysis.tokens(col("qtext"))).as(Seq("off", "term")))
    val qLens = queries.select(col("query_id"),
      graft.ops.TextAnalysis.tokenCount(col("qtext")).as("m"))
    val shifted = index.join(broadcast(qTerms), "term")
      .select(col("query_id"), col("doc_id"), col("off"),
        transform(col("positions"), p => p - col("off")).as("starts"))
    val hof = shifted.groupBy("query_id", "doc_id")
      .agg(count(lit(1)).as("__n_offsets"),
        aggregate(collect_list(col("starts")), lit(null).cast("array<int>"),
          (acc, x) => when(acc.isNull, x).otherwise(array_intersect(acc, x)))
          .as("__starts"))
      .join(broadcast(qLens), "query_id")
      .filter(col("__n_offsets") === col("m") && size(col("__starts")) > 0)
      .select(col("query_id"), col("doc_id"),
        size(col("__starts")).cast("long").as("n_occurrences"))
    assert(fused.count() > 0, "parity fixture produced no phrase matches")
    assert(fused.exceptAll(hof).isEmpty && hof.exceptAll(fused).isEmpty,
      "fused phrase fold diverges from the HOF intersect fold")
  }

  test("IndexBuildParity: zero-shuffle index builds equal the groupBy forms") {
    // r19 opt parity pin: postingIndex/positionalIndex now aggregate each
    // document's terms inside the scan task (TermCounts/TermPositions)
    // instead of paying a corpus-sized explode → groupBy Exchange; the
    // rows must be identical (positions ascending + duplicate-free, the
    // phraseMatch contract) to the retained groupBy reference forms.
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val post = Retrieval.postingIndex(docs, "doc_id", "text")
    val postRef = ParityReferences.postingIndexRelational(docs, "doc_id", "text")
    assert(post.count() > 0, "parity fixture produced no postings")
    assert(post.exceptAll(postRef).isEmpty && postRef.exceptAll(post).isEmpty,
      "zero-shuffle posting build diverges from the groupBy form")
    val pos = Retrieval.positionalIndex(docs, "doc_id", "text")
    val posRef = ParityReferences.positionalIndexRelational(docs, "doc_id", "text")
    assert(pos.exceptAll(posRef).isEmpty && posRef.exceptAll(pos).isEmpty,
      "zero-shuffle positional build diverges from the groupBy form")
    // the build itself must be aggregation-free (the per-doc fold runs
    // inside the scan task); the only Exchange allowed is the
    // ensureParallelism spread of a provably-tiny local scan — at most
    // one, and round-robin/hash over the RAW documents, never a
    // corpus-sized posting-row aggregate
    // executed first, then walked through the AQE wrapper: an unexecuted
    // AdaptiveSparkPlanExec is a leaf, so a plain `plan.collect` finds
    // nothing and both checks would pass whatever the plan holds
    Seq(post, pos).foreach { df =>
      df.collect()
      val plan = df.queryExecution.executedPlan
      assert(collect(plan) {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s
      }.nonEmpty, s"plan walk did not reach the documents scan: $plan")
      val aggs = collect(plan) {
        case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec => a
      }
      assert(aggs.isEmpty, s"index build still aggregates: $plan")
      val exchanges = collect(plan) {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
      assert(exchanges.size <= 1,
        s"index build has unexpected exchanges: $plan")
    }
  }

  test("TermAggParity: term counts and positions over a parquet scan survive buffering consumers") {
    // TermAgg's keys reference the token array it was handed. Tokens read
    // back from parquet as array<string> come out of the vectorized
    // reader's column vectors, which are refilled for every batch; an
    // 8-row batch makes every consumer below outlive several refills. The
    // collect_list and sort consumers buffer rows across batches, so a key
    // left pointing into a refilled vector would surface as a wrong term.
    import org.apache.spark.sql.graft.VectorExpressions
    val dir = java.nio.file.Files.createTempDirectory("graft_termagg").toString
    val batchKey = "spark.sql.parquet.columnarReaderBatchSize"
    val batchWas = spark.conf.get(batchKey)
    try {
      // 1 to 17 tokens per doc over an 11-term vocabulary, so terms repeat
      spark.range(0, 500).select(col("id").as("doc_id"),
          transform(sequence(lit(0L), col("id") % 17),
            i => concat(lit("t"), ((col("id") + i * i) % 11).cast("string"))).as("toks"))
        .write.mode("overwrite").parquet(dir)
      spark.conf.set(batchKey, "8")
      val scan = spark.read.parquet(dir)
      def perDoc(rows: DataFrame, value: String): Array[(Long, Seq[String])] =
        rows.groupBy("doc_id")
          .agg(sort_array(collect_list(concat_ws("=", col("term"), col(value)))).as("v"))
          .orderBy("doc_id").collect()
          .map(r => (r.getLong(0), r.getSeq[String](1)))
      val counts = scan.select(col("doc_id"),
          explode(VectorExpressions.termCounts(col("toks"))).as("tc"))
        .select(col("doc_id"), col("tc.term").as("term"), col("tc.tf").cast("string").as("tf"))
      val countsRef = scan.select(col("doc_id"), explode(col("toks")).as("term"))
        .groupBy("doc_id", "term").agg(count(lit(1)).cast("string").as("tf"))
      val expected = perDoc(countsRef, "tf")
      assert(expected.nonEmpty, "parity fixture produced no terms")
      assert(perDoc(counts, "tf").sameElements(expected),
        "termCounts under collect_list diverges from the groupBy form")
      // a sort buffers the whole partition before it emits a row
      val sorted = counts.orderBy("doc_id", "term").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      val sortedRef = countsRef.orderBy("doc_id", "term").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      assert(sorted.sameElements(sortedRef),
        "termCounts under a sort diverges from the groupBy form")
      val positions = scan.select(col("doc_id"),
          explode(VectorExpressions.termPositions(col("toks"))).as("tp"))
        .select(col("doc_id"), col("tp.term").as("term"),
          array_join(col("tp.positions"), ",").as("pos"))
      val positionsRef = scan.select(col("doc_id"), posexplode(col("toks")).as(Seq("p", "term")))
        .groupBy("doc_id", "term")
        .agg(array_join(sort_array(collect_list(col("p") + 1)), ",").as("pos"))
      assert(perDoc(positions, "pos").sameElements(perDoc(positionsRef, "pos")),
        "termPositions under collect_list diverges from the groupBy form")
    } finally {
      spark.conf.set(batchKey, batchWas)
      queries.OpsQueries.deleteDir(dir)
    }
  }

  test("plan shape: postings probe is a broadcast hash join, no cartesian corpus join") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val q = docs.filter(col("doc_id") % 37 === 0)
      .select(col("doc_id").as("query_id"),
        array_join(slice(graft.ops.TextAnalysis.tokens(col("text")), 1, 6), " ")
          .as("qtext"))
    val plan = Retrieval.bm25TopK(
      Retrieval.postingIndex(docs, "doc_id", "text"),
      Retrieval.docLengths(docs, "doc_id", "text"),
      q, "query_id", "qtext", k = 10)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"cartesian in bm25 plan:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      "the query-term set must broadcast against the postings")
    // the per-query cut must be the O(k)-state heap aggregate, never a
    // rank window over a corpus-sized partition
    assert(!plan.contains("Window"), s"rank window in bm25 plan:\n$plan")
  }
}
