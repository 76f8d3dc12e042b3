package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.ops.{Decontaminate, Dedup, PiiRedact, Repetition, Sampling, Splits, TextAnalysis}

/** Curation-layer operators: Gopher-style repetition filters, benchmark
  * decontamination, weighted source mixing. */
class CurationOpsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("repetition features: degenerate doc flagged, diverse doc kept, short docs zero") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b a b a b a b"), // one bigram dominates → drop
      // diverse AND long enough that a unique trigram (3/n) clears the
      // 0.18 threshold — 20 tokens → top_trigram_frac 0.15
      (2L, "the quick brown fox jumps over a lazy dog while birds sing songs under bright skies near calm blue water"),
      (3L, "one"), // single token: no bigrams at all
      (4L, "")).toDF("doc_id", "text")
    val out = Repetition.ngramRepetition(docs, "doc_id", "text")
      .orderBy("doc_id").collect()

    val r1 = out(0)
    // "a b" occurs 4 of 7 bigram slots → top frac = min(4*2/8, 1) = 1.0
    assert(r1.getAs[Double]("top_bigram_frac") == 1.0)
    assert(r1.getAs[Double]("dup_bigram_frac") == 1.0) // every slot's bigram repeats
    assert(!r1.getAs[Boolean]("repetition_keep"))

    val r2 = out(1)
    assert(r2.getAs[Double]("top_bigram_frac") == 0.1) // every bigram unique → 2/20
    assert(r2.getAs[Double]("dup_bigram_frac") == 0.0)
    assert(r2.getAs[Boolean]("repetition_keep"))

    val r3 = out(2)
    assert(r3.getAs[Long]("n_tokens") == 1L)
    assert(r3.getAs[Double]("top_bigram_frac") == 0.0)
    assert(r3.getAs[Boolean]("repetition_keep"))

    val r4 = out(3)
    assert(r4.getAs[Long]("n_tokens") == 0L)
    assert(r4.getAs[Double]("top_bigram_frac") == 0.0)
    assert(r4.getAs[Boolean]("repetition_keep"))
  }

  test("repetition trigram fraction counts the modal trigram") {
    import spark.implicits._
    // "x y z" appears twice among 4 trigram slots of 6 tokens → 2*3/6 = 1.0
    val docs = Seq((1L, "x y z x y z")).toDF("doc_id", "text")
    val r = Repetition.ngramRepetition(docs, "doc_id", "text").collect()(0)
    assert(r.getAs[Double]("top_trigram_frac") == 1.0)
    // bigram "x y" also twice: 2*2/6 = 0.666667 after rounding
    assert(r.getAs[Double]("top_bigram_frac") == 0.666667)
  }

  test("decontamination flags exactly the docs sharing an n-gram with the benchmark") {
    import spark.implicits._
    val bench = Seq((100L, "alpha beta gamma delta epsilon")).toDF("doc_id", "text")
    val train = Seq(
      (1L, "prefix words alpha beta gamma delta tail"), // shares 4-grams
      (2L, "completely unrelated text with no overlap here"),
      (3L, "beta gamma delta epsilon and more")) // shares one 4-gram
      .toDF("doc_id", "text")
    val out = Decontaminate.flagOverlap(train, bench, "doc_id", "text",
      n = 4, minOverlap = 1).orderBy("doc_id").collect()
    assert(out.length == 3, "every training doc must report, clean ones included")
    assert(out(0).getAs[Long]("n_overlap") == 1L && out(0).getAs[Boolean]("contaminated"))
    assert(out(1).getAs[Long]("n_overlap") == 0L && !out(1).getAs[Boolean]("contaminated"))
    assert(out(2).getAs[Long]("n_overlap") == 1L && out(2).getAs[Boolean]("contaminated"))
  }

  test("decontamination joins the benchmark side as a broadcast") {
    import spark.implicits._
    val bench = Seq((100L, "alpha beta gamma delta")).toDF("doc_id", "text")
    val train = Seq((1L, "alpha beta gamma delta x")).toDF("doc_id", "text")
    val plan = Decontaminate.flagOverlap(train, bench, "doc_id", "text", 4, 1)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"benchmark shingles must broadcast — the training side never shuffles for the probe:\n$plan")
    // corpus-sized "benchmark": the guard switches to a shuffle join with
    // identical results (driver never holds the probe side)
    val noBc = Decontaminate.flagOverlap(train, bench, "doc_id", "text", 4, 1,
      broadcastBench = false)
    assert(noBc.orderBy("doc_id").collect().toSeq ==
      Decontaminate.flagOverlap(train, bench, "doc_id", "text", 4, 1)
        .orderBy("doc_id").collect().toSeq)
  }

  test("incremental decontamination: suite folds == one-shot over the union; fresh shingles only") {
    import spark.implicits._
    val train = Seq(
      (1L, "prefix words alpha beta gamma delta tail"),
      (2L, "completely unrelated text with no overlap here"),
      (3L, "beta gamma delta epsilon and more"),
      (4L, "omega psi chi phi upsilon extras")).toDF("doc_id", "text")
    val suite1 = Seq((100L, "alpha beta gamma delta epsilon")).toDF("doc_id", "text")
    // suite 2 repeats a suite-1 shingle (beta gamma delta epsilon) AND
    // adds a fresh one — the repeat must NOT recount
    val suite2 = Seq((200L, "beta gamma delta epsilon omega psi chi phi"))
      .toDF("doc_id", "text")
    val index = Decontaminate.corpusShingleIndex(train, "doc_id", "text", 4)
    val store1 = Decontaminate.corpusShingleIndex(suite1, "doc_id", "text", 4)
      .select("shingle").distinct()
    val ledger1 = Decontaminate.flagOverlap(train, suite1, "doc_id", "text", 4, 1)
    val (ledger2, fresh) = Decontaminate.flagOverlapIncremental(
      ledger1, "doc_id", index, store1, suite2, "text", 4, minOverlap = 1)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    val oneShot = rows(Decontaminate.flagOverlap(
      train, suite1.unionByName(suite2), "doc_id", "text", 4, 1))
    assert(rows(ledger2) == oneShot)
    // doc 3's suite-2 shingle was already counted from suite 1 —
    // unchanged; doc 4 gains its one fresh hit (omega psi chi phi)
    assert(rows(ledger2)(3L) == ((1L, true)) && rows(ledger2)(4L) == ((1L, true)))
    // fresh excludes every suite-1 shingle
    val freshSet = fresh.collect().map(_.getString(0)).toSet
    val store1Set = store1.collect().map(_.getString(0)).toSet
    assert(freshSet.nonEmpty && freshSet.intersect(store1Set).isEmpty)
    // delta form: only incremented docs, merge over the ledger == full
    val (delta, _) = Decontaminate.flagOverlapIncremental(
      ledger1, "doc_id", index, store1, suite2, "text", 4, minOverlap = 1,
      deltaOnly = true)
    assert(rows(ledger1) ++ rows(delta) == oneShot)
    assert(!rows(delta).contains(2L) && !rows(delta).contains(3L),
      "clean and unchanged docs stay out of the delta")
    // an all-repeat suite is a no-op: empty fresh set, empty delta
    val (delta2, fresh2) = Decontaminate.flagOverlapIncremental(
      ledger1, "doc_id", index, store1,
      Seq((300L, "alpha beta gamma delta")).toDF("doc_id", "text"),
      "text", 4, minOverlap = 1, deltaOnly = true)
    assert(fresh2.isEmpty && delta2.isEmpty)
  }

  test("weighted mix: nested across weights, exact at the extremes") {
    import spark.implicits._
    val df = (0L until 400L).map(i => (i, s"src${i % 4}")).toDF("doc_id", "source")
    def kept(w: Map[String, Double]): Set[Long] =
      Sampling.weightedMix(df, "source", "doc_id", w, defaultWeight = 0.0)
        .select("doc_id").as[Long].collect().toSet
    val low = kept(Map("src0" -> 0.2, "src1" -> 0.1))
    val high = kept(Map("src0" -> 0.6, "src1" -> 0.4))
    assert(low.subsetOf(high), "raising weights must only grow the kept set")
    val all = kept(Map("src0" -> 1.0, "src1" -> 1.0, "src2" -> 1.0, "src3" -> 1.0))
    assert(all.size == 400, "weight 1.0 keeps every row")
    val none = kept(Map.empty)
    assert(none.isEmpty, "default weight 0.0 keeps nothing")
    // default weight applies to sources absent from the map
    val dflt = Sampling.weightedMix(df, "source", "doc_id",
      Map("src0" -> 0.0), defaultWeight = 1.0)
      .select("source").distinct().as[String].collect().toSet
    assert(dflt == Set("src1", "src2", "src3"))
  }

  test("PII redaction replaces emails, phones, and IPs with typed tokens") {
    import spark.implicits._
    val df = Seq(
      (1L, "reach me at alice.smith+spam@mail-host.co.uk or 555-123-4567"),
      (2L, "servers 10.0.0.1 and 192.168.254.3 online"),
      (3L, "no pii here at all")).toDF("id", "text")
    val out = df.select(
      (col("id") +: PiiRedact.counts(col("text")).map { case (n, c) => c.as(n) } :+
        PiiRedact.redact(col("text")).as("r")): _*)
      .orderBy("id").collect()
    assert(out(0).getAs[String]("r") == "reach me at [EMAIL] or [PHONE]")
    assert(out(0).getAs[Int]("n_emails") == 1 && out(0).getAs[Int]("n_phones") == 1)
    assert(out(1).getAs[String]("r") == "servers [IP] and [IP] online")
    assert(out(1).getAs[Int]("n_ips") == 2)
    assert(out(2).getAs[String]("r") == "no pii here at all")
    assert(out(2).getAs[Int]("n_emails") == 0 && out(2).getAs[Int]("n_ips") == 0
      && out(2).getAs[Int]("n_phones") == 0)
  }

  test("plain split: every row labeled, roughly proportional, stable under re-run") {
    import spark.implicits._
    val df = (0L until 2000L).toDF("doc_id")
    val fr = Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05)
    val out = Splits.assign(df, "doc_id", fr)
    val byLabel = out.groupBy("split").count().as[(String, Long)].collect().toMap
    assert(byLabel.keySet == Set("train", "val", "test"), s"unlabeled rows: $byLabel")
    assert(byLabel.values.sum == 2000L)
    assert(byLabel("train") > 1700 && byLabel("train") < 1950, s"$byLabel")
    // deterministic: a second run is identical
    val again = Splits.assign(df, "doc_id", fr)
    assert(out.except(again).isEmpty && again.except(out).isEmpty)
  }

  test("cluster-aware split never lets a near-dup component straddle splits") {
    import spark.implicits._
    // 3 planted clusters + singletons; edges form chains
    val docs = (0L until 100L).toDF("doc_id")
    val pairs = Seq(
      (1L, 11L), (11L, 21L), // cluster {1,11,21}
      (2L, 12L), // cluster {2,12}
      (3L, 13L), (13L, 23L), (23L, 33L)) // cluster {3,13,23,33}
      .toDF("doc_a", "doc_b")
    val fr = Seq("train" -> 0.6, "val" -> 0.2, "test" -> 0.2)
    val out = Splits.clusterAwareAssign(docs, "doc_id", pairs, "doc_a", "doc_b", fr)
    val splitsPerKey = out.groupBy("split_key")
      .agg(countDistinct("split").as("n"))
      .filter(col("n") > 1).count()
    assert(splitsPerKey == 0, "a component must map to exactly one split")
    // members of cluster {3,13,23,33} share the min-label key 3 and one split
    val c3 = out.filter(col("doc_id").isin(3L, 13L, 23L, 33L))
      .select("split_key", "split").distinct().collect()
    assert(c3.length == 1 && c3(0).getLong(0) == 3L)
    // singletons key on their own id → identical to the plain assignment
    val plain = Splits.assign(docs, "doc_id", fr)
      .withColumnRenamed("split", "plain_split")
    val clustered = out.filter(!col("doc_id")
      .isin(1L, 11L, 21L, 2L, 12L, 3L, 13L, 23L, 33L))
    assert(clustered.join(plain, "doc_id")
      .filter(col("split") =!= col("plain_split")).count() == 0)
  }

  test("incremental dedup classifies corpus dups, batch dups, and new content") {
    import spark.implicits._
    import graft.ops.Dedup
    val hist = Seq("seen before").toDF("t").select(md5(col("t")).as("h"))
    val batch = Seq(
      (10L, "seen before"), // in corpus
      (11L, "fresh one"), // new
      (12L, "fresh two"), // new
      (13L, "fresh one"), // dup within batch
      (14L, "seen before")) // corpus dup wins over batch-dup status
      .toDF("doc_id", "text")
    val out = Dedup.exactIncremental(batch, "doc_id", "text", hist, "h")
      .orderBy("doc_id").collect()
    val statuses = out.map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("status")).toMap
    assert(statuses == Map(10L -> "dup_of_corpus", 11L -> "new", 12L -> "new",
      13L -> "dup_in_batch", 14L -> "dup_of_corpus"))
    assert(out.filter(_.getAs[Boolean]("is_new_content"))
      .map(_.getAs[Long]("doc_id")).toSet == Set(11L, 12L))
  }

  test("RepetitionParity: fused per-doc stats == relational explode form on fixture + edges") {
    import spark.implicits._
    import graft.ops.Repetition
    def rows(df: org.apache.spark.sql.DataFrame): Map[Long, (Long, Double, Double, Double, Boolean)] =
      df.collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getBoolean(5))).toMap
    val fixture = Tables.documents(spark, "/root/testdata/sf0.001")
    assert(rows(Repetition.ngramRepetition(fixture, "doc_id", "text")) ==
      rows(ParityReferences.ngramRepetitionRelational(fixture, "doc_id", "text")))
    val edge = Seq(
      (1L, ""), (2L, "one"), (3L, "two words"), (4L, "a b a b a b a b"),
      (5L, "x y z x y z x y z x y z"), (6L, "  spaced   out\ttokens "),
      (7L, "héllo wörld héllo wörld héllo wörld"))
      .toDF("doc_id", "text")
    val f = rows(Repetition.ngramRepetition(edge, "doc_id", "text"))
    assert(f == rows(ParityReferences.ngramRepetitionRelational(edge, "doc_id", "text")))
    assert(!f(4L)._5, "a fully-repetitive doc must be dropped")
    assert(f(1L) == ((0L, 0.0, 0.0, 0.0, true)))
  }

  test("plan shapes: classifier joins by key, temperature mix broadcasts fractions, hamming pairs stay equi-joins") {
    import spark.implicits._
    import graft.ops.{Classifier, Dedup, Sampling}
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    def planOf(df: org.apache.spark.sql.DataFrame): String = {
      df.collect()
      df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    }
    val weights = Seq(("the", 1.0), ("der", -0.5)).toDF("token", "weight")
    val cls = planOf(Classifier.linearScore(docs, "doc_id", "text", weights, 0.0, 0.0))
    assert(!cls.contains("CartesianProduct") && !cls.contains("BroadcastNestedLoopJoin"),
      s"classifier vocabulary lookup must be an equi-join:\n$cls")
    val mixed = planOf(Sampling.temperatureMix(
      docs.withColumn("src", concat(lit("s"), col("doc_id") % 3)), "src", "doc_id", 0.5, 0.5))
    assert(mixed.contains("BroadcastHashJoin") && !mixed.contains("SortMergeJoin"),
      s"per-source fractions must broadcast, never shuffle the data side:\n$mixed")
    val sigs = Seq((1L, 5L), (2L, 5L), (3L, 1024L)).toDF("id", "h")
    val hp = planOf(Dedup.hammingPairs(sigs, "id", "h", 3, 4, 16))
    assert(!hp.contains("CartesianProduct") && !hp.contains("BroadcastNestedLoopJoin"),
      s"hamming pairing must stay a block equi-join:\n$hp")
  }

  test("temperature mixing: alpha=1 is proportional, alpha->0 flattens, nested in totalFraction") {
    import spark.implicits._
    import graft.ops.Sampling
    // skewed corpus: 800 'big' + 100 'small'
    val docs = ((0L until 800L).map(i => (i, "big")) ++ (1000L until 1100L).map(i => (i, "small")))
      .toDF("doc_id", "src")
    def kept(alpha: Double, frac: Double): Map[String, Long] =
      Sampling.temperatureMix(docs, "src", "doc_id", alpha, frac)
        .groupBy("src").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // alpha=1: natural proportions — both sources keep ~frac of themselves
    val a1 = kept(1.0, 0.5)
    assert(math.abs(a1("big") / 800.0 - a1("small") / 100.0) < 0.12,
      s"alpha=1 must sample sources at ~equal rates: $a1")
    // alpha=0.25: small source keeps a much larger share of itself
    val a0 = kept(0.25, 0.5)
    assert(a0("small") / 100.0 > 2 * (a0("big") / 800.0),
      s"low alpha must flatten toward uniform: $a0")
    // nested: the 30% mix is a subset of the 60% mix at the same alpha
    val lo = Sampling.temperatureMix(docs, "src", "doc_id", 0.5, 0.3)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val hi = Sampling.temperatureMix(docs, "src", "doc_id", 0.5, 0.6)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(lo.subsetOf(hi), "temperature mixes must nest in totalFraction")
    assert(lo.nonEmpty && hi.size > lo.size)
  }

  test("span excision: leaked windows removed, clean docs round-trip, full contamination empties") {
    import spark.implicits._
    import graft.ops.Decontaminate
    val bench = Seq((100L, "secret eval question here")).toDF("doc_id", "text")
    val train = Seq(
      (1L, "prefix words secret eval question here suffix words"), // one leaked span
      (2L, "totally clean document text"),
      (3L, "secret eval question here"), // fully contaminated
      (4L, "secret eval question here and secret eval question here")) // two spans
      .toDF("doc_id", "text")
    val out = Decontaminate.exciseOverlap(train, bench, "doc_id", "text", n = 4)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2), r.getLong(3))).toMap
    assert(out(1L) == (("prefix words suffix words", 8L, 4L)))
    assert(out(2L) == (("totally clean document text", 4L, 0L)))
    assert(out(3L) == (("", 4L, 4L)))
    // doc 4: both 4-windows hit; 'and' sits inside covering windows of
    // the phrase "here and secret eval"? no — only exact benchmark
    // 4-grams match, so 'and' survives between the two excised spans
    assert(out(4L) == (("and", 9L, 8L)))
  }

  test("token chunking: windows cover the stream, overlap reconstructs, edges behave") {
    import spark.implicits._
    import graft.ops.Packing
    val docs = Seq(
      (1L, (1 to 100).map(i => s"t$i").mkString(" ")), // 100 tokens
      (2L, "short doc"), // 2 tokens -> one chunk
      (3L, ""), // no tokens -> no chunks
      (4L, (1 to 32).map(i => s"u$i").mkString(" "))) // exactly one window
      .toDF("doc_id", "text")
    val out = Packing.chunkByTokens(docs, "doc_id", "text",
      chunkTokens = 32, overlapTokens = 8)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getInt(3)))
    val byDoc = out.groupBy(_._1)
    assert(!byDoc.contains(3L))
    assert(byDoc(2L).toSeq == Seq((2L, 0, "short doc", 2)))
    assert(byDoc(4L).map(_._2).toSeq == Seq(0, 1)) // starts 0 and 24 (< 32)
    // doc 1: starts 0,24,48,72,96 -> 5 chunks; dropping each chunk's
    // 8-token overlap prefix (after the first) reconstructs the stream
    val c1 = byDoc(1L).sortBy(_._2)
    assert(c1.length == 5 && c1.map(_._4).toSeq == Seq(32, 32, 32, 28, 4))
    val rebuilt = c1.head._3 +: c1.tail.map(_._3.split(" ").drop(8).mkString(" "))
    assert(rebuilt.filter(_.nonEmpty).mkString(" ") ==
      (1 to 100).map(i => s"t$i").mkString(" "))
  }

  test("epoch mixing: full copies + deterministic fractional tail, w<=1 degrades to weightedMix") {
    import spark.implicits._
    import graft.ops.Sampling
    val docs = (0L until 200L).map(i => (i, if (i < 100) "hq" else "crawl")).toDF("doc_id", "src")
    val out = Sampling.epochMix(docs, "src", "doc_id",
      Map("hq" -> 2.5, "crawl" -> 0.3), defaultWeight = 0.0)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2)))
    val hq = out.filter(_._2 == "hq")
    // every hq doc appears at epochs 1 and 2; ~half also at epoch 3
    assert(hq.count(_._3 == 1) == 100 && hq.count(_._3 == 2) == 100)
    val tail3 = hq.filter(_._3 == 3).map(_._1).toSet
    assert(tail3.size > 25 && tail3.size < 75, s"~50% fractional tail: ${tail3.size}")
    assert(hq.forall(_._3 <= 3))
    // w <= 1: exactly weightedMix's kept set, all at epoch 1
    val crawl = out.filter(_._2 == "crawl")
    assert(crawl.forall(_._3 == 1))
    val wm = Sampling.weightedMix(docs.filter($"src" === "crawl"), "src", "doc_id",
      Map("crawl" -> 0.3), 0.0).collect().map(_.getLong(0)).toSet
    assert(crawl.map(_._1).toSet == wm)
    // the epoch-3 tail is the SAME deterministic subset a 0.5 sample keeps
    val half = Sampling.deterministicSample(docs.filter($"src" === "hq"), "doc_id", 0.5)
      .collect().map(_.getLong(0)).toSet
    assert(tail3 == half)
  }

  test("linear classifier: mean token weight, merged duplicates, OOV=0, empty doc = bias") {
    import spark.implicits._
    import graft.ops.Classifier
    // 'good' declared twice (two model parts): weights must SUM to 1.5
    val weights = Seq(("good", 1.0), ("good", 0.5), ("bad", -2.0)).toDF("token", "weight")
    val docs = Seq(
      (1L, "good good bad unknown"), // (1.5 + 1.5 - 2.0 + 0) / 4 = 0.25
      (2L, "bad"), // -2.0
      (3L, "unknown words only here"), // 0
      (4L, "")) // no tokens -> bias
      .toDF("doc_id", "text")
    val out = Classifier.linearScore(docs, "doc_id", "text", weights,
      bias = 0.1, threshold = 0.2)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getDouble(2), r.getBoolean(3))).toMap
    assert(out(1L) == ((4L, 0.35, true))) // 0.1 + 0.25
    assert(out(2L) == ((1L, -1.9, false)))
    assert(out(3L) == ((4L, 0.1, false)))
    assert(out(4L) == ((0L, 0.1, false)))
  }

  test("incremental dedup: null-text rows admit as new, never classify each other as dups") {
    import spark.implicits._
    import graft.ops.Dedup
    val hist = Seq("seen before").toDF("t").select(md5(col("t")).as("h"))
    val batch = Seq((20L, Option("seen before")), (21L, None), (22L, None), (23L, None))
      .toDF("doc_id", "text")
    val out = Dedup.exactIncremental(batch, "doc_id", "text", hist, "h")
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[String]("status"), r.getAs[Boolean]("is_new_content"))).toMap
    assert(out(20L) == ("dup_of_corpus", false))
    // distinct null-text docs share no content: none is a dup of another
    Seq(21L, 22L, 23L).foreach(id => assert(out(id) == ("new", true), s"doc $id"))
    assert(out.size == 4)
  }

  test("incremental minhash fails loud on a mismatched signature store — lazily as of r15") {
    import graft.ops.Dedup
    val docs = Tables.documents(spark, "/root/testdata/sf0.001").limit(20)
    val sigsK16 = Dedup.minhashSignatures(docs, "doc_id", "text", shingleLen = 5, k = 16)
    // the store-length check is in-plan and per-row (r15 — construction
    // fires zero jobs; the r14 form ran an eager head(1) probe job):
    // the violation raises at execution from the store rows the index
    // build consumes
    val e = intercept[Exception] {
      Dedup.minhashIncremental(docs, "doc_id", "text", sigsK16, "doc", "sig",
        k = 32).collect()
    }
    assert(e.getMessage.contains("signature store"))
    // structural parameter violations stay loud at construction
    val e2 = intercept[IllegalArgumentException] {
      Dedup.minhashIncremental(docs, "doc_id", "text", sigsK16, "doc", "sig",
        k = 30, bands = 8)
    }
    assert(e2.getMessage.contains("multiple of bands"))
  }

  test("fused signature ops accept a streaming input (no df.rdd probe)") {
    import graft.ops.Dedup
    // r8 gated parallelism on df.rdd.getNumPartitions, which throws for
    // streaming frames — the signature ops could not be composed into a
    // streaming curation path at all. Plan construction must succeed and
    // the query must run through the in-memory sink.
    val stream = spark.readStream.format("rate").option("rowsPerSecond", "5").load()
      .select(col("value").as("doc_id"),
        concat(lit("stream doc body "), col("value")).as("text"))
    val sigs = Dedup.minhashSignatures(stream, "doc_id", "text", shingleLen = 5, k = 16)
    assert(sigs.isStreaming)
    val q = sigs.writeStream.format("memory").queryName("sig_stream")
      .trigger(org.apache.spark.sql.streaming.Trigger.Once()).start()
    q.awaitTermination(30000)
    assert(spark.table("sig_stream").schema.fieldNames.toSeq == Seq("doc", "sig"))
  }

  test("incremental minhash equals the batch pair set restricted to cross pairs") {
    import graft.ops.Dedup
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val hist = docs.filter(col("doc_id") % 3 === 0)
    val batch = docs.filter(col("doc_id") % 3 =!= 0)
    val sigs = Dedup.minhashSignatures(hist, "doc_id", "text", shingleLen = 5, k = 32)
    val inc = Dedup.minhashIncremental(batch, "doc_id", "text", sigs, "doc", "sig")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val full = Dedup.minhashLshPairs(docs, "doc_id", "text",
      shingleLen = 5, k = 32, bands = 8, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val cross = full.flatMap { case (a, b) =>
      if (a % 3 == 0 && b % 3 != 0) Some((b, a))
      else if (b % 3 == 0 && a % 3 != 0) Some((a, b)) else None
    }
    assert(inc.nonEmpty, "fixture must contain cross-split near-dups")
    assert(inc == cross, s"missing: ${cross -- inc}, extra: ${inc -- cross}")
  }

  test("incremental minhash band cap prunes saturated buckets, keeps the near-dup") {
    import spark.implicits._
    import graft.ops.Dedup
    val prefix = (0 until 100).map(i => s"common$i").mkString(" ")
    val corpus = ((0 until 80).map(i => (i.toLong, s"$prefix tailc$i" + ("x" * 30))) :+
      (900L, "zebra quartz jolt vexing mamba kudzu plinth oryx glyph njord" * 4))
      .toDF("doc_id", "text")
    val batch = ((100 until 180).map(i => (i.toLong, s"$prefix tailb$i" + ("y" * 30))) :+
      (901L, "zebra quartz jolt vexing mamba kudzu plinth oryx glyph njorD" * 4))
      .toDF("doc_id", "text")
    val sigs = Dedup.minhashSignatures(corpus, "doc_id", "text", shingleLen = 5, k = 32)
    def pairs(cap: Option[Int]): Set[(Long, Long)] =
      Dedup.minhashIncremental(batch, "doc_id", "text", sigs, "doc", "sig",
        maxBandFrequency = cap)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val un = pairs(None)
    val cp = pairs(Some(20))
    assert(cp.subsetOf(un), "capping can only remove candidates")
    assert(cp.contains((901L, 900L)), s"planted near-dup must survive the cap: $cp")
    val crowd = (s: Set[(Long, Long)]) => s.count { case (a, b) => a < 200 && b < 200 }
    assert(crowd(un) > 100 && crowd(cp) < crowd(un),
      s"cap must prune the saturated crowd: ${crowd(un)} -> ${crowd(cp)}")
  }

  test("corpus stats: exact lower-median and p95 order statistics per group") {
    import spark.implicits._
    import graft.ops.CorpusStats
    // group a: token counts 1..20 → n=20, median rank (21) DIV 2 = 10 → 10,
    // p95 rank ceil(19) = 19 → 19; group b: counts {2,2,7} → median 2, p95 7
    val docs = ((1 to 20).map(i => ("a", ("w " * i).trim)) ++
      Seq(("b", "x y"), ("b", "p q"), ("b", "a b c d e f g"))).toDF("source", "text")
    val out = CorpusStats.tokenStatsBy(docs, "source", "text")
      .orderBy("source").collect()
    val a = out(0)
    assert(a.getAs[Long]("n_docs") == 20L && a.getAs[Long]("total_tokens") == 210L)
    assert(a.getAs[Long]("median_tokens") == 10L && a.getAs[Long]("p95_tokens") == 19L)
    val b = out(1)
    assert(b.getAs[Long]("median_tokens") == 2L && b.getAs[Long]("p95_tokens") == 7L)
  }

  test("ngramJaccardIncremental == one-shot restricted to batch×store; size artifact changes nothing") {
    import spark.implicits._
    val docs = (0L until 30L).map { i =>
      val base = (i / 3) * 3
      val words = (0 until 12).map(w => s"w${base}_${w}")
      // members of a group share most words; one mutated tail word each
      (i, (words.dropRight(1) :+ s"tail_$i").mkString(" "))
    }.toDF("doc_id", "text")
    val oneShot = Dedup.ngramJaccardPairs(docs, "doc_id", "text", n = 3, threshold = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val cross = oneShot.flatMap { case (a, b, j) =>
      if (a % 3 == 0 && b % 3 != 0) Some((a, b, j))
      else if (b % 3 == 0 && a % 3 != 0) Some((b, a, j))
      else None
    }
    val store = Dedup.ngramShingleIndex(
      docs.filter(col("doc_id") % 3 =!= 0), "doc_id", "text", 3)
    val inc = Dedup.ngramJaccardIncremental(
      docs.filter(col("doc_id") % 3 === 0), "doc_id", "text",
      store, "doc", "sh64", n = 3, threshold = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(inc == cross && inc.nonEmpty,
      s"ingest must equal the one-shot restriction (${inc.size} vs ${cross.size})")
    val sizes = store.groupBy("doc").agg(count(lit(1)).as("n_keys"))
    val viaSizes = Dedup.ngramJaccardIncremental(
      docs.filter(col("doc_id") % 3 === 0), "doc_id", "text",
      store, "doc", "sh64", n = 3, threshold = 0.3,
      storeSizes = Some(sizes), storeKeysDistinct = true)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(viaSizes == inc, "persisted size artifact must change nothing")
  }

  test("editDistanceIncremental == one-shot restricted to batch×store") {
    import spark.implicits._
    val docs = (0L until 24L).map { i =>
      val base = (i / 3) * 3
      // group members are one-character edits of each other
      (i, s"the shared sentence body for group $base with marker ${i % 3}")
    }.toDF("doc_id", "text")
    val oneShot = Dedup.editDistancePairs(docs, "doc_id", "text", maxDistance = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val cross = oneShot.flatMap { case (a, b, e) =>
      if (a % 3 != 0 && b % 3 == 0) Some((a, b, e))
      else if (b % 3 != 0 && a % 3 == 0) Some((b, a, e))
      else None
    }
    val corpus = docs.filter(col("doc_id") % 3 === 0)
    val inc = Dedup.editDistanceIncremental(
      docs.filter(col("doc_id") % 3 =!= 0), "doc_id", "text",
      Dedup.minhashSignatures(corpus, "doc_id", "text", 5, 32), "doc", "sig",
      corpus.select(col("doc_id").as("doc"), col("text")), maxDistance = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(inc == cross && inc.nonEmpty,
      s"ingest must equal the one-shot restriction (${inc.size} vs ${cross.size})")
  }

  test("ngram count store: fold == one-shot top-k; delta touches only batch ngrams; counts additive") {
    import spark.implicits._
    import graft.ops.CorpusStats
    val docs = Seq(
      (0L, "the quick brown fox jumps over the lazy dog"),
      (1L, "the quick brown fox sleeps"),
      (2L, "a quick brown fox jumps again and the quick brown fox rests"),
      (3L, "nothing in common here at all")).toDF("doc_id", "text")
    val oneShot = CorpusStats.topNgrams(docs, "doc_id", "text", n = 3, k = 5)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    val store = CorpusStats.ngramCountStore(
      docs.filter(col("doc_id") % 2 === 0), "doc_id", "text", 3)
    val batch = CorpusStats.ngramCountStore(
      docs.filter(col("doc_id") % 2 =!= 0), "doc_id", "text", 3)
    val delta = CorpusStats.ngramCountsDelta(store, batch)
    // the delta is exactly the batch's ngram set — untouched store rows
    // never appear (the O(batch) upsert contract)
    assert(delta.select("ngram").exceptAll(batch.select("ngram")).isEmpty &&
      batch.select("ngram").exceptAll(delta.select("ngram")).isEmpty)
    // "quick brown fox" occurs in both generations: delta row = sum
    val qbf = delta.filter(col("ngram") === "quick brown fox").collect()(0)
    assert(qbf.getLong(1) == 4L && qbf.getLong(2) == 3L)
    val merged = store.join(delta.select("ngram"), Seq("ngram"), "left_anti")
      .select("ngram", "freq", "doc_freq").unionByName(delta)
    val folded = CorpusStats.topNgramsFromStore(merged, 5)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(folded == oneShot)
    // empty batch: delta empty, store unchanged through the merge shape
    val emptyDelta = CorpusStats.ngramCountsDelta(store,
      CorpusStats.ngramCountStore(docs.limit(0), "doc_id", "text", 3))
    assert(emptyDelta.isEmpty)
  }

  test("boilerplate profile counts corpus-wide hot windows per document") {
    import spark.implicits._
    // "copyright acme corp" appears in 5 docs → hot at minDocFrequency=5;
    // every other window is unique
    val docs = ((0L until 5L).map(i => (i, s"copyright acme corp unique$i tail$i")) :+
      (9L, "totally unique text nothing shared here")).toDF("doc_id", "text")
    val out = Repetition.boilerplateProfile(docs, "doc_id", "text",
      n = 3, minDocFrequency = 5L).orderBy("doc_id").collect()
    (0 until 5).foreach { i =>
      assert(out(i).getAs[Long]("n_windows") == 3L)
      assert(out(i).getAs[Long]("n_boiler") == 1L, s"doc $i must flag the shared window")
      assert(out(i).getAs[Double]("boilerplate_frac") == 0.333333)
    }
    assert(out(5).getAs[Long]("n_boiler") == 0L)
    assert(out(5).getAs[Double]("boilerplate_frac") == 0.0)
  }

  test("streaming curation: quality gate + PII scrub + watermark-bounded dedup") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.StreamingOps
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2026-01-01 ${m / 60}%02d:${m % 60}%02d:00")
    val good = ("the quick brown fox jumps over the lazy dog and then " +
      "the story continues for a while with many plain words in it ") * 6
    val pii = good + "contact alice@example.com now"
    val junk = "!!! ??? !!!"
    val src = MemoryStream[(Long, String, java.sql.Timestamp)]
    val out = StreamingOps.curateDocStream(
      src.toDF().toDF("doc_id", "text", "ts"), "ts", "10 minutes", minQuality = 0.5)
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName("curated_stream").start()
    try {
      src.addData((1L, good, ts(0)), (2L, pii, ts(1)), (3L, junk, ts(2)), (4L, good, ts(3)))
      q.processAllAvailable()
      val first = spark.table("curated_stream").collect()
      val ids = first.map(_.getAs[Long]("doc_id")).toSet
      assert(ids == Set(1L, 2L), s"junk filtered, dup dropped: got $ids")
      val redacted = first.find(_.getAs[Long]("doc_id") == 2L).get.getAs[String]("text")
      assert(redacted.contains("[EMAIL]") && !redacted.contains("alice@example.com"))

      // within the horizon a replayed content hash stays deduped...
      src.addData((5L, good, ts(60)))
      q.processAllAvailable()
      assert(!spark.table("curated_stream").collect()
        .map(_.getAs[Long]("doc_id")).contains(5L))
      // ...but once the watermark passes the stored key it is EVICTED, so
      // the same content is admitted again — state is horizon-bounded
      src.addData((6L, good, ts(75)))
      q.processAllAvailable()
      assert(spark.table("curated_stream").collect()
        .map(_.getAs[Long]("doc_id")).contains(6L),
        "evicted key must readmit content beyond the dedup horizon")
    } finally q.stop()
  }

  test("curation op algebra: uniform mix ≡ fraction sample; splits always total") {
    import spark.implicits._
    val df = (0L until 500L).map(i => (i, s"src${i % 7}")).toDF("doc_id", "source")
    // a uniform weight map degenerates to the plain deterministic sample —
    // the two operators share one hash, so mixes nest inside samples
    for (w <- Seq(0.1, 0.5, 0.9)) {
      val mix = Sampling.weightedMix(df, "source", "doc_id", Map.empty, w).select("doc_id")
      val frac = Sampling.deterministicSample(df, "doc_id", w).select("doc_id")
      assert(mix.except(frac).isEmpty && frac.except(mix).isEmpty, s"w=$w")
    }
    // any fraction vector partitions the input completely into its labels
    for (fr <- Seq(Seq("only" -> 1.0), Seq("a" -> 0.3, "b" -> 0.3, "c" -> 0.4),
                   Seq("x" -> 0.01, "y" -> 0.99))) {
      val out = Splits.assign(df, "doc_id", fr)
      assert(out.count() == 500, s"fr=$fr")
      assert(out.select("split").distinct().as[String].collect().toSet
        .subsetOf(fr.map(_._1).toSet), s"fr=$fr")
    }
  }

  test("incremental dedup against an empty corpus degenerates to exact dedup") {
    import spark.implicits._
    import graft.ops.Dedup
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val empty = Seq.empty[String].toDF("h")
    val incNew = Dedup.exactIncremental(docs, "doc_id", "text", empty, "h")
      .filter(col("is_new_content")).select("doc_id")
    val exSurv = Dedup.exact(docs, "doc_id", "text")
      .filter(col("is_survivor")).select("doc_id")
    assert(incNew.except(exSurv).isEmpty && exSurv.except(incNew).isEmpty,
      "batch-only incremental admits exactly the exact-dedup survivors")
  }

  test("URL profile: hosts extracted, blocklist counted, keep verdict") {
    import spark.implicits._
    val df = Seq(
      (1L, "go to https://spam1.example.com/x and http://fine.org/y now"),
      (2L, "no links at all"),
      (3L, "https://ok.net/a https://ok.net/b")).toDF("id", "text")
    val out = df.select((col("id") +:
      PiiRedact.urlProfile(col("text"), Seq("spam1.example.com"))
        .map { case (n, c) => c.as(n) }): _*)
      .orderBy("id").collect()
    assert(out(0).getAs[Int]("n_urls") == 2 && out(0).getAs[Int]("n_blocked") == 1
      && !out(0).getAs[Boolean]("url_keep"))
    assert(out(1).getAs[Int]("n_urls") == 0 && out(1).getAs[Boolean]("url_keep"))
    assert(out(2).getAs[Int]("n_urls") == 2 && out(2).getAs[Int]("n_blocked") == 0
      && out(2).getAs[Boolean]("url_keep"))
  }

  test("keepBest survivor selection: highest score wins, singletons survive") {
    import spark.implicits._
    import graft.ops.Dedup
    val docs = Seq(
      (1L, 0.3), (2L, 0.9), (3L, 0.9), // cluster {1,2,3}: 2 wins (tie → min id)
      (7L, 0.1), // singleton
      (8L, 0.5), (9L, 0.7)) // cluster {8,9}: 9 wins despite larger id
      .toDF("doc_id", "quality")
    val comp = Seq((1L, 1L), (2L, 1L), (3L, 1L), (8L, 8L), (9L, 8L))
      .toDF("node", "component")
    val out = Dedup.keepBest(docs, "doc_id", "quality", comp)
      .orderBy("doc_id").collect()
      .map(r => r.getLong(0) -> r.getBoolean(3)).toMap
    assert(out == Map(1L -> false, 2L -> true, 3L -> false,
      7L -> true, 8L -> false, 9L -> true))
  }

  test("semantic dedup: cluster blocking finds in-cell near-dups, never crosses cells") {
    import graft.ops.Ivf
    // reuse the spiked-cluster corpus: near-dups share a cluster by
    // construction, so every reported pair must be same-cluster
    val docs = spark.range(100).toDF("vec_id")
      .withColumn("cluster", col("vec_id") % 4)
      .withColumn("embedding", transform(sequence(lit(0), lit(63)), i =>
        when(i === col("cluster").cast("int") * 16, lit(10.0))
          .otherwise(pmod(xxhash64(col("vec_id"), i), lit(100)).cast("double") / 100.0)))
    val trained = Ivf.train(docs, "vec_id", "embedding", nCells = 4, iters = 2)
    val pairs = Ivf.semanticDedupPairs(docs, "vec_id", "embedding",
      threshold = 0.9, nCells = 4, trainedCentroids = Some(trained))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty, "spiked clusters are internally near-identical in cosine")
    assert(pairs.forall { case (a, b) => a % 4 == b % 4 },
      "cluster blocking must only pair within a cell")
    // gate-configured seeded variant runs and is non-degenerate at sf0.001
    val gate = SparkEntry.queries("q_dedup_semantic")(spark, "/root/testdata/sf0.001")
    assert(gate.count() > 0)
  }

  test("unigram logprob: rare tokens score lower, uniform corpus scores ln(1/V)") {
    import spark.implicits._
    import graft.ops.TextAnalysis
    // 9 docs of "common", 1 doc of "rare": p(common)=0.9, p(rare)=0.1
    val docs = ((1L to 9L).map(i => (i, "common")) :+ (10L, "rare")).toDF("doc_id", "text")
    val out = TextAnalysis.unigramLogProb(docs, "doc_id", "text")
      .orderBy("doc_id").collect()
    val commonLp = out(0).getAs[Double]("avg_logprob")
    val rareLp = out(9).getAs[Double]("avg_logprob")
    assert(math.abs(commonLp - math.log(0.9)) < 1e-6)
    assert(math.abs(rareLp - math.log(0.1)) < 1e-6)
    assert(rareLp < commonLp, "surprising text must score lower")
  }

  test("IVF k-means training: objective non-decreasing, clusters recovered") {
    import graft.ops.Ivf
    // 4 well-separated directions in 64-dim: a dominant spike at dim
    // cluster*16 plus deterministic sub-unit noise
    val docs = spark.range(200).toDF("vec_id")
      .withColumn("cluster", col("vec_id") % 4)
      .withColumn("embedding", transform(sequence(lit(0), lit(63)), i =>
        when(i === col("cluster").cast("int") * 16, lit(10.0))
          .otherwise(pmod(xxhash64(col("vec_id"), i), lit(100)).cast("double") / 100.0)))
    val vs = docs.select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      dot / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    def objective(cents: Seq[(Int, Array[Double])]): Double =
      vs.map { case (_, v) => cents.map(c => cos(v, c._2)).max }.sum / vs.length

    val seeds = Ivf.seedCentroids(docs, "vec_id", "embedding", nCells = 4)
    val objs = (0 to 3).map(i =>
      objective(if (i == 0) seeds else Ivf.train(docs, "vec_id", "embedding", 4, i)))
    objs.sliding(2).foreach { case Seq(a, b) =>
      assert(b >= a - 1e-9, s"objective must be non-decreasing: $objs") }
    assert(objs.last > objs.head, s"training must actually improve the quantizer: $objs")

    // trained centroids recover the cluster structure: each centroid's
    // argmax dimension is one of the four spike dims, all four covered
    val trained = Ivf.train(docs, "vec_id", "embedding", 4, 3)
    val spikes = trained.map { case (_, c) => c.indexOf(c.max) }.toSet
    assert(spikes == Set(0, 16, 32, 48), s"centroid spikes: $spikes")

    // and trained quantizer slots straight into topK
    val out = Ivf.topK(docs.filter(col("vec_id") < 5), docs, "vec_id", "embedding", k = 3,
      nCells = 4, nProbe = 2, trainedCentroids = Some(trained))
    assert(out.count() == 15)
  }

  test("substring excise: duplicated window keeps one canonical occurrence, unique text intact") {
    import spark.implicits._
    import graft.ops.Dedup
    // 4-token windows; the passage "p1 p2 p3 p4" appears in docs 1, 2, 3
    // → owner is (doc 1, its position); both later copies excised
    val docs = Seq(
      (1L, "a b c p1 p2 p3 p4 d e"),
      (2L, "x y p1 p2 p3 p4 z w q"),
      (3L, "p1 p2 p3 p4 only here"),
      (4L, "entirely unique document body text"),
      (5L, "tiny doc")) // shorter than n → no windows, untouched
      .toDF("doc_id", "text")
    val out = Dedup.substringExcise(docs, "doc_id", "text", n = 4)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out(1L) == (("a b c p1 p2 p3 p4 d e", 9L, 0L))) // canonical copy survives
    assert(out(2L) == (("x y z w q", 9L, 4L)))
    assert(out(3L) == (("only here", 6L, 4L)))
    assert(out(4L) == (("entirely unique document body text", 5L, 0L)))
    assert(out(5L) == (("tiny doc", 2L, 0L)))
  }

  test("substring excise: self-repetition inside one document keeps only the first copy") {
    import spark.implicits._
    import graft.ops.Dedup
    // "r1 r2 r3 r4" at starts 0, 4, 8 — owner is start 0; the window at 4
    // loses AND the windows straddling copies ("r3 r4 r1 r2" etc.) are
    // themselves duplicated across the repeats, so everything past the
    // first copy is covered by SOME losing window
    val docs = Seq((1L, "r1 r2 r3 r4 r1 r2 r3 r4 r1 r2 r3 r4")).toDF("doc_id", "text")
    val out = Dedup.substringExcise(docs, "doc_id", "text", n = 4).collect()(0)
    assert(out.getString(1) == "r1 r2 r3 r4")
    assert(out.getLong(2) == 12L && out.getLong(3) == 8L)
  }

  test("line boilerplate excision: hot lines stripped, per-doc-distinct df, order preserved") {
    import spark.implicits._
    import graft.ops.Repetition
    // footer line in 3 docs (df=3 ≥ 3 → stripped); a line repeated TWICE
    // in one doc counts df=1 (per-doc distinct) and survives; blanks are
    // never boilerplate and never counted, but the rebuild PRESERVES
    // them (and indentation) — a clean document round-trips verbatim
    val docs = Seq(
      (1L, "unique body one\nshared footer line"),
      (2L, "unique body two\n\nshared footer line"),
      (3L, "unique body three\n  shared footer line\nunique tail"), // indented match
      (4L, "echo line\necho line\nmiddle text"), // echo df=1 → kept twice
      (5L, "  indented code\n\n  done")) // no boilerplate → verbatim
      .toDF("doc_id", "text")
    val out = Repetition.stripBoilerplateLines(docs, "doc_id", "text", minDocFrequency = 3L)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out(1L) == (("unique body one", 2L, 1L)))
    assert(out(2L) == (("unique body two\n", 2L, 1L))) // blank kept, footer gone
    assert(out(3L) == (("unique body three\nunique tail", 3L, 1L))) // trimmed match
    assert(out(4L) == (("echo line\necho line\nmiddle text", 3L, 0L)))
    assert(out(5L) == (("  indented code\n\n  done", 2L, 0L))) // untouched verbatim
  }

  test("normalize: NFC composes, controls/nbsp collapse, idempotent, matches java reference") {
    import spark.implicits._
    import graft.ops.{TextAnalysis => TA}
    val cases = Seq(
      (1L, "café and café"),          // decomposed + precomposed é
      (2L, "Ångström"),              // Å + ö decomposed
      (3L, "tab\therebellunit"),     // controls → single spaces
      (4L, "  lead nbsp  run trail "),
      (5L, "  already   plain  text  "),
      (6L, ""))
      .toDF("doc_id", "text")
    val out = cases.select(col("doc_id"), TA.normalizeText(col("text")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) == "café and café") // both spellings now identical bytes
    assert(out(2L) == "Ångström")
    assert(out(3L) == "tab here bell unit")
    assert(out(4L) == "lead nbsp run trail")
    assert(out(5L) == "already plain text")
    assert(out(6L) == "")
    // idempotence + java.text.Normalizer agreement on the planted cases
    val again = cases.select(col("doc_id"),
      TA.normalizeText(TA.normalizeText(col("text"))).as("n"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(again == out)
    out.foreach { case (_, v) =>
      assert(java.text.Normalizer.isNormalized(v, java.text.Normalizer.Form.NFC)) }
  }

  test("top-k ngrams: counts exact, tie cut deterministic, doc_freq distinct per doc") {
    import spark.implicits._
    import graft.ops.CorpusStats
    val docs = Seq(
      (1L, "p q r p q r"),   // "p q r" twice in one doc (freq 2, df 1)
      (2L, "p q r extra"),   // +1 occurrence, df 2
      (3L, "a b c tail"),
      (4L, "a b c tail")).toDF("doc_id", "text")
    val out = CorpusStats.topNgrams(docs, "doc_id", "text", n = 3, k = 3)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    // freq: "p q r"=3; "a b c"=2; "b c tail"=2; "q r p"=1; "r p q"=1; "q r extra"=1
    assert(out(0) == (("p q r", 3L, 2L)))
    assert(out(1) == (("a b c", 2L, 2L)))  // tie with "b c tail" breaks on string
    assert(out(2) == (("b c tail", 2L, 2L)))
  }

  test("edit-distance pairs: near-identical docs verified exactly, distant candidates dropped") {
    import spark.implicits._
    import graft.ops.Dedup
    val base = (1 to 30).map(i => s"tok$i").mkString(" ")
    val docs = Seq(
      (1L, base),
      (2L, base.replace("tok7", "tok7x")),        // 1 insertion
      (3L, base.replace("tok7", "zzz9")),          // few substitutions
      (4L, (1 to 30).map(i => s"other$i").mkString(" "))) // unrelated
      .toDF("doc_id", "text")
    val out = Dedup.editDistancePairs(docs, "doc_id", "text", maxDistance = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    assert(out((1L, 2L)) == 1)
    assert(out.contains((1L, 3L)) && out((1L, 3L)) == 4)
    assert(!out.keySet.exists { case (a, b) => a == 4L || b == 4L })
    // tightening the bound drops the 4-edit pair but keeps the 1-edit one
    val tight = Dedup.editDistancePairs(docs, "doc_id", "text", maxDistance = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(tight.contains((1L, 2L)) && !tight.contains((1L, 3L)))
  }

  test("incremental substring excision: store wins, batch canonical kept, empty store = batch-only") {
    import spark.implicits._
    import graft.ops.Dedup
    val corpus = Seq((100L, "c1 c2 c3 c4 stored passage here now")).toDF("doc_id", "text")
    val store = Dedup.windowHashes(corpus, "doc_id", "text", n = 4)
    val batch = Seq(
      // repeats a corpus window ("c1 c2 c3 c4" etc.) → excised even though
      // it is the batch's first occurrence
      (1L, "c1 c2 c3 c4 fresh tail tokens"),
      // batch-internal dup not in store: doc 2 owns it, doc 3 loses
      (2L, "b1 b2 b3 b4 unique left part"),
      (3L, "pre b1 b2 b3 b4 post words"),
      (4L, "wholly new content nothing shared"))
      .toDF("doc_id", "text")
    val out = Dedup.substringExciseIncremental(batch, "doc_id", "text", n = 4, store, "h")
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out(1L) == (("fresh tail tokens", 7L, 4L)))
    assert(out(2L) == (("b1 b2 b3 b4 unique left part", 7L, 0L)))
    assert(out(3L) == (("pre post words", 7L, 4L)))
    assert(out(4L) == (("wholly new content nothing shared", 5L, 0L)))
    // empty store degrades exactly to batch-only substringExcise
    val empty = store.filter(col("h").isNull)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSeq
    assert(rows(Dedup.substringExciseIncremental(batch, "doc_id", "text", n = 4, empty, "h")) ==
      rows(Dedup.substringExcise(batch, "doc_id", "text", n = 4)))
  }

  test("tf-idf keywords: distinctive terms outrank common ones, deterministic k-cut") {
    import spark.implicits._
    import graft.ops.CorpusStats
    val docs = Seq(
      (1L, "shared shared shared rare1"),
      (2L, "shared shared unique2 unique2"),
      (3L, "shared filler words")).toDF("doc_id", "text")
    val out = CorpusStats.tfidfTopTerms(docs, "doc_id", "text", k = 2)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getDouble(4)))
    val byDoc = out.groupBy(_._1)
    // 'shared' is in every doc → ln(3/3)=0 score; rare terms win
    assert(byDoc(1L).maxBy(_._5)._2 == "rare1")
    val top2 = byDoc(2L).maxBy(_._5)
    assert(top2._2 == "unique2" && top2._3 == 2L)
    // df of 'shared' is 3, tf in doc 1 is 3, score 0
    val shared1 = out.find(r => r._1 == 1L && r._2 == "shared").get
    assert(shared1._3 == 3L && shared1._4 == 3L && shared1._5 == 0.0)
    // every doc yields at most k rows
    assert(byDoc.values.forall(_.length <= 2))
  }

  test("intra-doc line dedup: first occurrence kept, blanks preserved, cross-doc repeats untouched") {
    import spark.implicits._
    import graft.ops.Repetition
    val docs = Seq(
      (1L, "refrain\nbody one\nrefrain\ntail"),        // 2nd refrain dropped
      (2L, "refrain\nbody two"),                        // cross-doc repeat is fine
      (3L, "a\n\n\na"),                                 // blanks kept, dup 'a' dropped
      (4L, "  pad\npad\nunique")) // trimmed match: '  pad' and 'pad' dedup, first raw kept
      .toDF("doc_id", "text")
    val out = Repetition.dedupLinesWithinDoc(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out(1L) == (("refrain\nbody one\ntail", 4L, 1L)))
    assert(out(2L) == (("refrain\nbody two", 2L, 0L)))
    assert(out(3L) == (("a\n\n", 2L, 1L)))
    assert(out(4L) == (("  pad\nunique", 3L, 1L)))
  }

  test("bigram LM: frequent bigrams score higher, short docs report zero, hand-checked value") {
    import spark.implicits._
    import graft.ops.{TextAnalysis => TA}
    val docs = Seq(
      (1L, "a b a b"),   // 'a b' twice, 'b a' once
      (2L, "a b c"),
      (3L, "one"),       // no bigrams
      (4L, "")).toDF("doc_id", "text")
    val out = TA.bigramLogProb(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(out(3L) == ((0L, 0.0)) && out(4L) == ((0L, 0.0)))
    assert(out(1L)._1 == 3L && out(2L)._1 == 2L)
    // hand-derived: corpus bigrams: (a,b)=3, (b,a)=1, (b,c)=1; prefixes:
    // a·=3, b·=2; unigrams: a=3, b=3, c=1, one=1 of N=8
    def lp(c2: Double, c1: Double, tf: Double): Double =
      math.log(0.7 * c2 / c1 + (1.0 - 0.7) * tf / 8.0)
    val exp1 = BigDecimal((lp(3, 3, 3) * 2 + lp(1, 2, 3)) / 3)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(math.abs(out(1L)._2 - exp1) < 2e-6, s"${out(1L)._2} vs $exp1")
    // the repeated-bigram doc is less surprising than the novel one
    assert(out(1L)._2 > out(2L)._2)
  }

  test("word blocklist: case-insensitive token hits counted, clean docs keep with explicit 0") {
    import spark.implicits._
    import graft.ops.{TextAnalysis => TA}
    val docs = Seq(
      (1L, "totally clean document"),
      (2L, "contains BadWord1 mixed case"),
      (3L, "badword1 badword2 badword1 repeat hits"),
      (4L, "badword1suffix is not a token match"),
      (5L, "")).toDF("doc_id", "text")
    val blocklist = Seq("BADWORD1", "badword2").toDF("word")
    val out = TA.wordBlocklist(docs, "doc_id", "text", blocklist, "word")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    assert(out(1L) == ((0L, true)))
    assert(out(2L) == ((1L, false)))  // case-insensitive both sides
    assert(out(3L) == ((3L, false)))  // occurrences, not distinct words
    assert(out(4L) == ((0L, true)))   // whole-token match only
    assert(out(5L) == ((0L, true)))
  }

  test("PQ: seeds encode to themselves, training reduces error, ADC prefers true neighbors") {
    import spark.implicits._
    import graft.ops.Pq
    // 4 clusters spiked on separate dim blocks (the Ivf recovery corpus
    // shape), 64-dim, 40 vectors; cluster structure lives in subspaces
    val docs = (0L until 40L).map { i =>
      val c = (i % 4).toInt
      val v = Array.tabulate(64)(d =>
        (if (d / 16 == c) 1.0 else 0.05) + 0.001 * ((i * 7 + d) % 13))
      (i, v.map(_.toFloat).toSeq)
    }.toDF("vec_id", "embedding")
    val books = Pq.seedCodebooks(docs, "vec_id", "embedding", nSub = 8, nCodes = 8)
    assert(books.size == 64) // 8 subspaces x 8 codes
    // a seed row's distance to its own codeword is 0 -> encodes to itself
    val enc = Pq.encode(docs, "vec_id", "embedding", books)
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    (0L until 8L).foreach(i => assert(enc(i).forall(_ == i.toInt), s"seed $i: ${enc(i)}"))
    assert(enc.size == 40 && enc.values.forall(_.length == 8))

    // quantization error (mean ADC self-distance proxy): train must not increase it
    def qerr(bks: Seq[(Int, Int, Array[Double])]): Double = {
      val codes = Pq.encode(docs, "vec_id", "embedding", bks)
      val bmap = bks.map { case (m, c, cent) => (m, c) -> cent }.toMap
      val vecs = docs.collect().map(r =>
        r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
      codes.collect().map { r =>
        val v = vecs(r.getLong(0)); val cs = r.getSeq[Int](1)
        cs.zipWithIndex.map { case (c, m) =>
          val cent = bmap((m, c))
          cent.indices.map(j => math.pow(v(m * 8 + j) - cent(j), 2)).sum
        }.sum
      }.sum / vecs.size
    }
    val e0 = qerr(books)
    val e2 = qerr(Pq.train(docs, "vec_id", "embedding", nSub = 8, nCodes = 8, iters = 2))
    // Lloyd guarantees non-increase of the TRUE objective, but train
    // rounds means to the engine-wide 1e-6 grid (oracle replayability),
    // perturbing each centroid coordinate by <= 5e-7; across 64 dims the
    // per-vector squared-distance drift is bounded by ~2*64*|v-c|*5e-7
    // ~ 6e-5. Slack sits above that bound and far below any real
    // regression signal (r11 ADVICE: 1e-9 was latently flaky).
    assert(e2 <= e0 + 1e-4, s"training must not increase quantization error: $e0 -> $e2")

    // ADC ranking puts same-cluster vectors first for every query —
    // and the production precomputed-codes path returns the identical
    // result to the inline-encode path
    val out = Pq.topK(docs.filter(col("vec_id") < 4), docs, "vec_id", "embedding",
      k = 3, books).collect()
    val pre = Pq.topK(docs.filter(col("vec_id") < 4), docs, "vec_id", "embedding",
      k = 3, books,
      precomputedCodes = Some(Pq.encode(docs, "vec_id", "embedding", books)))
      .collect()
    assert(out.map(_.toSeq).toSeq == pre.map(_.toSeq).toSeq)
    assert(out.length == 12)
    out.foreach { r =>
      assert(r.getLong(2) % 4 == r.getLong(0) % 4,
        s"query ${r.getLong(0)} got cross-cluster neighbor ${r.getLong(2)}")
    }
  }

  test("IVFADC: candidates cell-restricted, ADC distances identical to the flat PQ search") {
    import spark.implicits._
    import graft.ops.{Ivf, Pq}
    val docs = (0L until 40L).map { i =>
      val c = (i % 4).toInt
      val v = Array.tabulate(64)(d =>
        (if (d / 16 == c) 1.0 else 0.05) + 0.001 * ((i * 7 + d) % 13))
      (i, v.map(_.toFloat).toSeq)
    }.toDF("vec_id", "embedding")
    val coarse = Ivf.seedCentroids(docs, "vec_id", "embedding", 4)
    val books = Pq.seedCodebooks(docs, "vec_id", "embedding", nSub = 8, nCodes = 8)
    val queries = docs.filter(col("vec_id") < 4)
    val composed = Pq.topKWithIvf(queries, docs, "vec_id", "embedding",
      k = 3, coarse, books, nProbe = 1)
      .collect().map(r => (r.getLong(0), r.getLong(2)) -> r.getDouble(3)).toMap
    // every neighbor shares the query's (single probed) cell
    val cells = Ivf.assignCells(docs, "vec_id", "embedding", coarse)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    composed.keys.foreach { case (q, nb) =>
      assert(cells(q) == cells(nb), s"query $q (cell ${cells(q)}) matched $nb (cell ${cells(nb)})") }
    // ADC distances agree with the flat search wherever both report a pair
    val flat = Pq.topK(queries, docs, "vec_id", "embedding", k = 40, books)
      .collect().map(r => (r.getLong(0), r.getLong(2)) -> r.getDouble(3)).toMap
    composed.foreach { case (pair, d) => assert(flat(pair) == d, s"$pair: $d vs ${flat(pair)}") }
  }

  test("exact-k sample: nested across k and inside the covering fraction sample") {
    import graft.ops.Sampling
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val k10 = Sampling.exactKSample(docs, "doc_id", 10).collect().map(_.getLong(0)).toSet
    val k50 = Sampling.exactKSample(docs, "doc_id", 50).collect().map(_.getLong(0)).toSet
    assert(k10.size == 10 && k50.size == 50 && k10.subsetOf(k50))
    val frac = Sampling.deterministicSample(docs, "doc_id", 0.5)
      .collect().map(_.getLong(0)).toSet
    // half the corpus by hash must contain the 10 smallest hashes
    assert(k10.subsetOf(frac))
  }

  test("ExciseParity: fused window excision == token-level anti-join rebuild on fixture + edges") {
    import spark.implicits._
    import graft.ops.{Decontaminate, Dedup}
    val fixture = Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), col("text"))
    val edges = Seq(
      (100001L, ""), // no tokens
      (100002L, "tiny"), // shorter than any window
      (100003L, "e1 e2 e3 e4 e5 e6 e7 e8 e1 e2 e3 e4 e5 e6 e7 e8"), // self-repeat
      (100004L, "  spaced   out   tokens   here  survive  normalization  of  whitespace  ok  "),
      (100005L, null.asInstanceOf[String])) // NULL text: clean_text '', null counts
      .toDF("doc_id", "text")
    val docs = fixture.union(edges)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getString(1),
          if (r.isNullAt(2)) -1L else r.getLong(2),
          if (r.isNullAt(3)) -1L else r.getLong(3))).toSeq
    val fused = rows(Dedup.substringExcise(docs, "doc_id", "text", n = 8))
    assert(fused == rows(ParityReferences.substringExciseRelational(docs, "doc_id", "text", n = 8)))
    // the null-text row agrees between forms: '' text, null counts
    assert(fused.find(_._1 == 100005L).get == ((100005L, "", -1L, -1L)))
    val bench = docs.filter(col("doc_id") % 97 === 0)
    val train = docs.filter(col("doc_id") % 97 =!= 0)
    assert(rows(Decontaminate.exciseOverlap(train, bench, "doc_id", "text", n = 4)) ==
      rows(ParityReferences.exciseOverlapRelational(train, bench, "doc_id", "text", n = 4)))
  }

  test("ExciseWindows: negative start fails loudly, past-end start is a no-op") {
    import spark.implicits._
    val df = Seq((1L, "a b c d e")).toDF("doc_id", "text")
    def excise(starts: Seq[Int]) =
      df.select(org.apache.spark.sql.graft.VectorExpressions
          .exciseWindows(col("text"), typedLit(starts), 2).as("o"))
        .select(col("o.clean_text"), col("o.n_removed")).collect()(0)
    // a start at/past the token count has nothing to cover — defined no-op
    val past = excise(Seq(7))
    assert(past.getString(0) == "a b c d e" && past.getLong(1) == 0L)
    // a negative start would have silently excised [0, s+n-1] (a
    // DIFFERENT window) before the r12 fix — now a loud caller error
    val ex = intercept[Exception](excise(Seq(-1)))
    def rootMessages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => e.getMessage +: rootMessages(e.getCause))
    assert(rootMessages(ex).exists(m => m != null && m.contains("negative window start")),
      s"expected the loud negative-start error, got: $ex")
  }

  test("repetition/decontamination gate queries are non-degenerate at sf0.001") {
    val rep = SparkEntry.queries("q_text_repetition")(spark, "/root/testdata/sf0.001")
    val repRows = rep.collect()
    assert(repRows.nonEmpty)
    val fracs = repRows.map(_.getAs[Double]("top_bigram_frac")).distinct
    assert(fracs.length > 1, "feature must vary across the corpus")
    val dec = SparkEntry.queries("q_decontaminate")(spark, "/root/testdata/sf0.001")
    val decRows = dec.collect()
    assert(decRows.nonEmpty)
    val mix = SparkEntry.queries("q_mix_sources")(spark, "/root/testdata/sf0.001")
    val total = Tables.documents(spark, "/root/testdata/sf0.001").count()
    val n = mix.count()
    assert(n > 0 && n < total, s"mixture must be a strict non-empty subset, got $n of $total")
  }

  test("external LM scoring == self-scoring when the tables ARE the corpus counts") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val (uni, bi) = TextAnalysis.lmTables(docs, "text")
    val ext = TextAnalysis.externalLmLogProb(docs, "doc_id", "text", uni, bi)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val self = TextAnalysis.bigramLogProb(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(ext.keySet == self.keySet && ext.nonEmpty)
    ext.foreach { case (id, (nb, lp)) =>
      val (nbS, lpS) = self(id)
      assert(nb == nbS, s"doc $id bigram count drifted: $nb vs $nbS")
      // exp(ln(x)) round-trips at ~1 ulp; equality is pinned at the
      // 1e-6 output rounding grain, not bitwise
      assert(math.abs(lp - lpS) <= 1e-6 + 1e-12,
        s"doc $id: external $lp vs self $lpS")
    }
  }

  test("external LM scoring: unseen bigrams fall back, OOV floors to oovLogProb") {
    import spark.implicits._
    val train = Seq((1L, "the cat sat on the mat")).toDF("doc_id", "text")
    val (uni, bi) = TextAnalysis.lmTables(train, "text")
    val eval = Seq(
      (10L, "the cat sat"),      // all bigrams in-model
      (11L, "cat the"),          // tokens known, bigram unseen → unigram term only
      (12L, "zzz qqq"),          // fully OOV → floor exactly: ln(0.3*exp(-20))
      (13L, "")).toDF("doc_id", "text")
    val out = TextAnalysis.externalLmLogProb(eval, "doc_id", "text", uni, bi)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(out(10L)._1 == 2 && out(10L)._2 > out(11L)._2,
      s"in-model text must outscore unseen-bigram text: $out")
    val floor = math.log((1.0 - 0.7) * math.exp(-20.0))
    assert(out(12L)._1 == 1 &&
      math.abs(out(12L)._2 - (math.rint(floor * 1e6) / 1e6)) < 1e-9,
      s"fully-OOV doc must score the floor $floor, got ${out(12L)}")
    assert(out(13L) == ((0L, 0.0)), "empty doc: zero bigrams, zero score")
  }

  test("perplexityBuckets == perplexityCutoffs + assignPplBuckets (one cutoff definition)") {
    import spark.implicits._
    val scored = Seq(
      (1L, "a", -1.0), (2L, "a", -2.0), (3L, "a", -3.0),
      (4L, "a", -4.0), (5L, "b", -1.5), (6L, "b", -2.5), (7L, "b", -3.5)
    ).toDF("doc_id", "grp", "lp")
    for (ap <- Seq(false, true)) {
      val composed = TextAnalysis.assignPplBuckets(scored, "grp", "lp",
        TextAnalysis.perplexityCutoffs(scored, "grp", "lp", approx = ap))
      val direct = TextAnalysis.perplexityBuckets(scored, "doc_id", "grp", "lp",
        approx = ap)
      assert(composed.exceptAll(direct).isEmpty && direct.exceptAll(composed).isEmpty,
        s"approx=$ap: the composed artifact path must equal perplexityBuckets")
    }
  }

  test("lmSelectIngest: held artifacts select; unscoreable/uncovered docs surface NULL, never vanish") {
    import spark.implicits._
    // reference corpus (one language): 6 scoreable docs → 2/2/2 terciles
    val ref = (1L to 6L).map(i =>
      (i, ("alpha beta gamma " * i.toInt).trim, "en")).toDF("doc_id", "text", "lang")
    val (uni, bi) = TextAnalysis.lmTables(ref, "text")
    val refScored = TextAnalysis.externalLmLogProb(ref, "doc_id", "text", uni, bi)
      .filter(col("n_bigrams") > 0)
      .join(ref.select("doc_id", "lang"), Seq("doc_id"))
    val cutoffs = TextAnalysis.perplexityCutoffs(refScored, "lang", "avg_logprob_lm")
    // batch: in-model doc (head-quality), OOV-heavy doc (tail-quality),
    // empty doc (unscoreable), uncovered language, NULL language
    val batch = Seq(
      (10L, "alpha beta gamma alpha beta", Some("en")),
      (11L, "zzz qqq www rrr ttt yyy uuu", Some("en")),
      (12L, "", Some("en")),
      (13L, "alpha beta gamma", Some("xx")),
      (14L, "alpha beta gamma", Option.empty[String])
    ).toDF("doc_id", "text", "lang")
    val out = TextAnalysis.lmSelectIngest(batch, "doc_id", "text", "lang",
      uni, bi, cutoffs)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((Option(r.getAs[String]("ppl_bucket")), r.getAs[Boolean]("selected")))).toMap
    assert(out.size == 5, s"no batch row may vanish: $out")
    assert(out(10L)._1.contains("head") && out(10L)._2,
      s"in-model doc must select: $out")
    assert(out(11L)._1.contains("tail") && !out(11L)._2,
      s"OOV-heavy doc must be tail, dropped: $out")
    assert(out(12L) == ((None, false)), s"unscoreable doc: NULL bucket, never selected: $out")
    assert(out(13L) == ((None, false)), s"uncovered language: NULL bucket, never selected: $out")
    assert(out(14L) == ((None, false)), s"NULL language: NULL bucket, never selected: $out")
  }

  test("perplexity buckets: per-group terciles, cutoff ties take the better bucket") {
    import spark.implicits._
    // group A: 6 docs with distinct scores → clean 2/2/2 split
    // group B: scores tied ACROSS the middle cutoff — every tied doc
    //   must take the better bucket (value-based, not rank-based)
    val scored = Seq(
      (1L, "a", -1.0), (2L, "a", -2.0), (3L, "a", -3.0),
      (4L, "a", -4.0), (5L, "a", -5.0), (6L, "a", -6.0),
      (10L, "b", -1.0), (11L, "b", -2.0), (12L, "b", -2.0),
      (13L, "b", -2.0), (14L, "b", -2.0), (15L, "b", -9.0)
    ).toDF("doc_id", "grp", "lp")
    val out = TextAnalysis.perplexityBuckets(scored, "doc_id", "grp", "lp")
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("ppl_bucket")).toMap
    assert(out(1L) == "head" && out(2L) == "head", out.toString)
    assert(out(3L) == "middle" && out(4L) == "middle")
    assert(out(5L) == "tail" && out(6L) == "tail")
    // B: rank-2 value (cut1) = -2.0 — docs 11-14 all tie it → all head
    assert(out(10L) == "head")
    assert(Seq(11L, 12L, 13L, 14L).forall(out(_) == "head"),
      s"docs tied at the head cutoff value must all be head: $out")
    assert(out(15L) == "tail")
  }

  test("perplexity buckets: singleton and all-tied groups degrade to head; perplexity = exp(-lp)") {
    import spark.implicits._
    val scored = Seq(
      (1L, "solo", -2.5),
      (2L, "flat", -3.0), (3L, "flat", -3.0), (4L, "flat", -3.0)
    ).toDF("doc_id", "grp", "lp")
    val rows = TextAnalysis.perplexityBuckets(scored, "doc_id", "grp", "lp")
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[String]("ppl_bucket"), r.getAs[Double]("perplexity"))).toMap
    assert(rows(1L)._1 == "head", "a single-doc group is its own head")
    assert(Seq(2L, 3L, 4L).forall(rows(_)._1 == "head"),
      "an all-tied group has one cutoff value shared by every doc")
    assert(math.abs(rows(1L)._2 - math.rint(math.exp(2.5) * 1e6) / 1e6) < 1e-12)
    // a NULL group (lang ID failed) passes through with a NULL bucket
    // instead of vanishing into the cutoff joins
    val withNull = Seq((1L, Option("g"), -1.0), (2L, Option("g"), -2.0),
      (3L, Option.empty[String], -1.5)).toDF("doc_id", "grp", "lp")
    val nOut = TextAnalysis.perplexityBuckets(withNull, "doc_id", "grp", "lp")
      .collect().map(r => r.getAs[Long]("doc_id") ->
        Option(r.getAs[String]("ppl_bucket"))).toMap
    assert(nOut.size == 3 && nOut(3L).isEmpty && nOut(1L).contains("head"),
      nOut.toString)
  }

  test("token-mass temperature mix: long-doc sources downweight; uniform lengths reduce to doc mix") {
    import spark.implicits._
    // two sources, equal DOC counts, 'long' has 10x the tokens: at
    // alpha=0 the target token mass is equal per source, so the
    // long-doc source must keep ~1/10 the documents
    val docs = ((0L until 200L).map(i => (i, "short", 10L)) ++
      (200L until 400L).map(i => (i, "long", 100L)))
      .toDF("doc_id", "src", "n_tokens")
    val kept = Sampling.temperatureMixByTokens(docs, "src", "doc_id", "n_tokens",
      alpha = 0.0, totalFraction = 0.5)
      .groupBy("src").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val ratio = kept("long").toDouble / kept("short")
    assert(ratio < 0.35, s"long-doc source must keep far fewer docs: $kept")
    // uniform doc length: token mixing IS doc mixing (same kept set)
    val uniform = docs.withColumn("n_tokens", lit(25L))
    val byTok = Sampling.temperatureMixByTokens(uniform, "src", "doc_id",
      "n_tokens", alpha = 0.5, totalFraction = 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val byDoc = Sampling.temperatureMix(uniform, "src", "doc_id",
      alpha = 0.5, totalFraction = 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(byTok == byDoc, "equal lengths must reduce to the doc-count mix")
  }

  test("semantic decontamination: planted leak flagged, orthogonal clean, eval side broadcasts") {
    import spark.implicits._
    import graft.ops.Decontaminate
    val evalSet = Seq((100L, Seq(1.0, 0.0, 0.0, 0.0))).toDF("vec_id", "embedding")
    val train = Seq(
      (1L, Seq(0.9, 0.1, 0.0, 0.0)),  // near-copy of the eval vector
      (2L, Seq(0.0, 0.0, 1.0, 0.0)),  // orthogonal
      (3L, Seq(-1.0, 0.0, 0.0, 0.0))  // opposite
    ).toDF("vec_id", "embedding")
    val out = Decontaminate.flagSemanticOverlap(train, evalSet,
      "vec_id", "embedding", threshold = 0.8)
    out.collect() // finalize AQE before reading the plan
    val rows = out.collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getBoolean(2))).toMap
    assert(!rows(1L)._2 && rows(1L)._1 > 0.99, s"near-copy must flag: $rows")
    assert(rows(2L)._2 && rows(2L)._1 == 0.0)
    assert(rows(3L)._2 && rows(3L)._1 == -1.0,
      "anti-parallel vector: a REAL cosine of -1, clean — distinguishable from the empty-eval NULL")
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"),
      s"the eval side must broadcast:\n$plan")
    // empty eval set: no evidence → NULL score, everything clean
    val none = Decontaminate.flagSemanticOverlap(train,
      evalSet.filter(col("vec_id") < 0), "vec_id", "embedding", 0.8)
      .collect().map(r => r.getLong(0) -> (r.isNullAt(1), r.getBoolean(2))).toMap
    assert(none.values.forall(v => v._1 && v._2),
      s"empty eval set: NULL score + clean, got $none")
  }

  test("Gopher quality flags: each rule family fires on its planted violation") {
    import spark.implicits._
    val good = (("the quick brown " * 20) + "fox of and that").trim // 63 words, stopful
    val docs = Seq(
      (1L, good),
      (2L, good + "\n- a\n- b\n- c\n- d"),               // bullet lines > 10%
      (3L, good + ("\nmore thoughts..." * 3)),            // ellipsis lines > 30%
      (4L, good + (" ##########" * 3)),                   // symbol ratio > 0.1
      (5L, good + (" 1111 2222 3333 4444 5555" * 4)),     // alpha frac < 0.8
      (6L, "short doc"),                                  // word count < 50
      (7L, "")                                            // empty: everything 0
    ).toDF("doc_id", "text")
    // bullet threshold tightened below the planted 0.8 so the rule
    // fires; every other rule at the paper defaults
    val out = TextAnalysis.gopherQualityFlags(docs, "doc_id", "text",
      maxBulletFrac = 0.5, minStopTypes = 2)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        r.getAs[Boolean]("gopher_keep")).toMap
    assert(out(1L), s"clean doc must keep: $out")
    assert(Seq(2L, 3L, 4L, 5L, 6L, 7L).forall(!out(_)),
      s"every planted violation must drop its doc: $out")
    // the features behind the verdicts, hand-checked (paper defaults)
    val f = TextAnalysis.gopherQualityFlags(docs, "doc_id", "text")
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(f(2L).getAs[Double]("bullet_frac") == 0.8) // 4 of 5 lines
    assert(f(2L).getAs[Boolean]("gopher_keep"),
      "paper default is 0.9: an 80%-bullet doc KEEPS under pure defaults")
    assert(f(1L).getAs[Long]("n_stop_types") == 4L)   // the/of/and/that
    assert(f(7L).getAs[Long]("n_words") == 0L)
    // hash and ellipsis ratios test SEPARATELY (the paper's "either"):
    // doc 4's violation is hash-only, its ellipsis_ratio stays 0
    assert(f(4L).getAs[Double]("hash_ratio") > 0.1 &&
      f(4L).getAs[Double]("ellipsis_ratio") == 0.0)
    // unicode ellipsis counts toward the symbol ratio too
    val uni = TextAnalysis.gopherQualityFlags(
      Seq((1L, "a b …" )).toDF("doc_id", "text"), "doc_id", "text")
      .collect()(0)
    assert(uni.getAs[Double]("ellipsis_ratio") > 0.3)
  }

  test("KMV ndv sketch: estimate within theory bounds, merge == direct, small groups exact") {
    import spark.implicits._
    import graft.ops.CorpusStats
    // synthetic: group A has 5000 distinct tokens, group B has 7 — the
    // estimator path and the exact-count fallback in one frame
    val docs = ((0 until 5000).map(i => ("a", s"tok$i")) ++
      (0 until 200).map(i => ("b", s"w${i % 7}")))
      .zipWithIndex.map { case ((g, t), i) => (i.toLong, g, t) }
      .grouped(50).map(ch => (ch.head._2, ch.map(_._3).mkString(" ")))
      .toSeq.toDF("grp", "text")
    val est = CorpusStats.kmvNdvBy(docs, "grp", "text", k = 256)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(est("b") == 7.0, s"below-k group must report the exact count: $est")
    // k=256 → relative error ~1/sqrt(254) ≈ 6.3%; allow 4 sigma
    assert(math.abs(est("a") - 5000.0) / 5000.0 < 0.25,
      s"estimate ${est("a")} too far from 5000")

    // merge law: union of two halves' sketch rows re-ranked == direct.
    // Split on the md5 of the text (NOT length parity — a generator can
    // make every length share one parity, leaving a silently-empty half)
    val even = substring(md5(col("text")), 1, 1).isin("0", "2", "4", "6", "8", "a", "c", "e")
    val h1 = CorpusStats.kmvMinHashes(docs.filter(even), "grp", "text", k = 256)
    val h2 = CorpusStats.kmvMinHashes(docs.filter(!even), "grp", "text", k = 256)
    assert(h1.count() > 0 && h2.count() > 0, "both halves must contribute")
    val merged = CorpusStats.kmvEstimate(h1.unionByName(h2), "grp", k = 256)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(merged == est, s"merged $merged must equal direct $est")
    // mixing sketch sizes would silently truncate into the exact-count
    // branch — the self-described k must reject the union loud. r16:
    // the check is a per-row in-plan raise_error (the cmsGuarded
    // pattern), so constructing the estimate fires ZERO jobs (the old
    // form ran distinct().collect() over the sketch lineage) and the
    // mismatch surfaces at execution
    val hSmall = CorpusStats.kmvMinHashes(docs, "grp", "text", k = 64)
    val mixed = ConstructionJobProbe.assertNoConstructionJobs(spark, "kmv-estimate") {
      CorpusStats.kmvEstimate(h1.unionByName(hSmall), "grp", k = 256)
    }
    val eMixed = intercept[Exception](mixed.collect())
    assert(eMixed.getMessage.contains("k=256") &&
      eMixed.getMessage.contains("k=64"), eMixed.getMessage)
    // an EMPTY sketch frame is zero groups, not a mixed-k failure:
    // estimates nothing, schema intact (r12 ADVICE — the uniform-k
    // require used to fire with a misleading 'different k: List()')
    val emptyEst = CorpusStats.kmvEstimate(h1.limit(0), "grp", k = 256)
    assert(emptyEst.count() == 0)
    assert(emptyEst.columns.toSeq == Seq("grp", "ndv_est"))
  }

  test("SQ8: hand-computed codes, clamp at range max, degenerate dim encodes 0") {
    import spark.implicits._
    import graft.ops.Sq8
    val vecs = Seq(
      (0L, Seq(0.0, 10.0, 7.0)),
      (1L, Seq(1.0, 20.0, 7.0)),
      (2L, Seq(2.0, 30.0, 7.0))).toDF("vec_id", "embedding")
    val (lo, span) = Sq8.trainBounds(vecs, "embedding")
    assert(lo.toSeq == Seq(0.0, 10.0, 7.0) && span.toSeq == Seq(2.0, 20.0, 0.0))
    val codes = Sq8.encode(vecs, "vec_id", "embedding", lo, span)
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    // dim1: (0,1,2)/2*256 → 0, 128, clamp(256)=255; dim2: 0, 128, 255;
    // dim3 degenerate (span 0) → 0 everywhere
    assert(codes(0L) == Seq(0, 0, 0), codes.toString)
    assert(codes(1L) == Seq(128, 128, 0))
    assert(codes(2L) == Seq(255, 255, 0))
  }

  test("SQ8 topk: midpoint reconstruction ranks well-separated clusters like exact L2") {
    import spark.implicits._
    import graft.ops.Sq8
    // two tight clusters far apart: SQ8's per-dim cells are ~span/256 —
    // far smaller than the cluster gap, so the quantized ranking must
    // agree with exact L2 on which cluster each query's top-3 come from
    val mk = (id: Long, base: Double) =>
      (id, Seq(base + id * 0.001, base - id * 0.001, base, base))
    val corpus = ((0L to 4L).map(mk(_, 0.0)) ++ (10L to 14L).map(mk(_, 100.0)))
      .toDF("vec_id", "embedding")
    val (lo, span) = Sq8.trainBounds(corpus, "embedding")
    val out = Sq8.topK(corpus.filter(col("vec_id") === 0L || col("vec_id") === 10L),
      corpus, "vec_id", "embedding", k = 3, lo, span)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("rank"),
        r.getAs[Long]("neighbor_id"), r.getAs[Double]("sq8_dist")))
    assert(out.length == 6)
    assert(out.filter(_._1 == 0L).forall(t => t._3 >= 1L && t._3 <= 4L),
      s"query 0's neighbors must stay in its cluster: ${out.toSeq}")
    assert(out.filter(_._1 == 10L).forall(t => t._3 >= 11L && t._3 <= 14L),
      s"query 10's neighbors must stay in its cluster: ${out.toSeq}")
    assert(out.forall(_._4 >= 0.0), "squared distance is non-negative")
    assert(!out.exists(t => t._1 == t._3), "self-matches excluded")
  }

  test("topFractionByScore: value-at-rank cutoff, ties all selected, bad fractions rejected") {
    import spark.implicits._
    val df = Seq((1L, 9.0), (2L, 7.0), (3L, 7.0), (4L, 7.0), (5L, 1.0),
      (6L, 0.0)).toDF("id", "s")
    // n=6, fraction .25 → rank ceil(1.5)=2 → cutoff = 7.0; every doc
    // tied at 7.0 selects (value-based), so 4 of 6 despite fraction .25
    val out = Sampling.topFractionByScore(df, "s", 0.25)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(out == Map(1L -> true, 2L -> true, 3L -> true, 4L -> true,
      5L -> false, 6L -> false), out.toString)
    // ascending: best = lowest; ceil(6*0.1)=1 → cutoff 0.0 → only id 6
    val asc = Sampling.topFractionByScore(df, "s", 0.1, ascending = true)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(asc(6L) && asc.values.count(identity) == 1)
    intercept[IllegalArgumentException](Sampling.topFractionByScore(df, "s", 0.0))
    intercept[IllegalArgumentException](Sampling.topFractionByScore(df, "s", 1.5))
    // NULL scores neither rank nor count: cutoff derives from the 2
    // scoreable rows (ceil(2*0.5)=1 → cutoff 9.0), nulls never selected
    val withNulls = Seq((1L, Some(9.0)), (2L, Some(1.0)), (3L, None),
      (4L, None), (5L, None)).toDF("id", "s")
    val nv = Sampling.topFractionByScore(withNulls, "s", 0.5)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(nv == Map(1L -> true, 2L -> false, 3L -> false, 4L -> false,
      5L -> false), nv.toString)
    // all-null scores: empty cutoff degrades to nothing selected, no rows lost
    val allNull = Sampling.topFractionByScore(
      Seq((1L, Option.empty[Double]), (2L, None)).toDF("id", "s"), "s", 0.5)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(allNull == Map(1L -> false, 2L -> false), allNull.toString)
  }

  test("DSIR: target-like docs outrank off-target docs; empty docs never selected") {
    import spark.implicits._
    // target vocabulary: cooking; off-target: finance. Raw mixes both
    // plus an empty doc.
    val target = Seq((100L, "flour sugar butter eggs oven bake whisk"),
      (101L, "simmer garlic onion olive oil salt pepper stir")).toDF("doc_id", "text")
    val raw = Seq(
      (1L, "bake the flour and sugar with butter in the oven"),
      (2L, "whisk eggs with sugar then simmer with garlic"),
      (3L, "quarterly earnings beat analyst estimates on revenue"),
      (4L, "bond yields rose as markets priced rate hikes"),
      (5L, "")).toDF("doc_id", "text")
    val out = graft.ops.Dsir.select(raw, target, "doc_id", "text", fraction = 0.5)
      .collect().map(r => r.getLong(0) ->
        (r.getAs[Double]("avg_log_weight"), r.getAs[Boolean]("dsir_keep"))).toMap
    assert(out(1L)._1 > out(3L)._1 && out(2L)._1 > out(4L)._1,
      s"cooking docs must outscore finance docs: $out")
    assert(out(1L)._2 && out(2L)._2 && !out(3L)._2 && !out(4L)._2, out.toString)
    assert(!out(5L)._2 && out(5L)._1 == 0.0, "empty doc: weight 0, never selected")
  }
}
