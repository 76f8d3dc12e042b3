package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.ops.{CorpusStats, Sampling, TextAnalysis}

/** r13 (VERDICT task 1): the approx-cutoff knob. The selection family's
  * exact cutoffs are rank windows — a GLOBAL one in topFractionByScore,
  * a per-language one in perplexityBuckets — i.e. single-hot-partition
  * sorts at 100 TB. The `approx = true` paths derive the SAME cutoff via
  * percentile_approx (one map-side-combining aggregate); the contract
  * pinned here is bit-identical output to the exact rank while
  * `accuracy` >= the sorted population, INCLUDING at integer n·fraction
  * boundaries (the off-by-one trap the −percentile_approx(−s, f)
  * negation mapping exists to avoid: percentile_approx returns the value
  * at ASCENDING rank ⌈p·n⌉, and 1−f maps to the wrong rank exactly when
  * f·n is an integer). */
class ApproxCutoffSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  private def sameRows(a: org.apache.spark.sql.DataFrame,
                       b: org.apache.spark.sql.DataFrame): Boolean =
    a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty

  test("topFractionByScore: approx == exact, including integer n*fraction boundaries") {
    import spark.implicits._
    // n = 100 distinct scores; 0.25 → f·n = 25 EXACTLY (the boundary
    // case), 1/3 → fractional rank, 1.0 → everything
    val df = (1L to 100L).map(i => (i, i.toDouble)).toDF("id", "s")
    for (f <- Seq(0.25, 1.0 / 3.0, 0.9, 1.0); asc <- Seq(false, true)) {
      val exact = Sampling.topFractionByScore(df, "s", f, ascending = asc,
        approx = false)
      val approx = Sampling.topFractionByScore(df, "s", f, ascending = asc,
        approx = true)
      assert(sameRows(exact, approx),
        s"approx cutoff diverged from exact at fraction=$f ascending=$asc")
    }
    // ties at the cutoff: both paths must select the whole tie group
    val tied = Seq((1L, 9.0), (2L, 7.0), (3L, 7.0), (4L, 7.0), (5L, 1.0),
      (6L, 0.0)).toDF("id", "s")
    val ta = Sampling.topFractionByScore(tied, "s", 0.25, approx = true)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(ta == Map(1L -> true, 2L -> true, 3L -> true, 4L -> true,
      5L -> false, 6L -> false), ta.toString)
    // NULL scores: excluded from the cutoff, never selected (same as exact)
    val withNulls = Seq((1L, Some(9.0)), (2L, Some(1.0)), (3L, None))
      .toDF("id", "s")
    assert(sameRows(
      Sampling.topFractionByScore(withNulls, "s", 0.5, approx = false),
      Sampling.topFractionByScore(withNulls, "s", 0.5, approx = true)))
    // all-null: approx's 1-row NULL cutoff degrades like exact's empty one
    val allNull = Seq((1L, Option.empty[Double]), (2L, None)).toDF("id", "s")
    assert(sameRows(
      Sampling.topFractionByScore(allNull, "s", 0.5, approx = false),
      Sampling.topFractionByScore(allNull, "s", 0.5, approx = true)))
    // the guarantee BOUNDARY: exactness holds while accuracy >= 2n (the
    // GK sketch keeps zero rank slack below n <= accuracy/2); pin it at
    // accuracy == 2n exactly, where a drifting implementation detail
    // (delta assignment at compression) would first surface (r13 review)
    val big = (1L to 5000L).map(i => (i, ((i * 2654435761L) % 100003L).toDouble))
      .toDF("id", "s")
    assert(sameRows(
      Sampling.topFractionByScore(big, "s", 0.25, approx = false),
      Sampling.topFractionByScore(big, "s", 0.25, approx = true, accuracy = 10000)),
      "approx must be exact at the accuracy == 2n boundary")
  }

  test("topFractionByScore approx: no global single-partition rank window in the plan") {
    import spark.implicits._
    val df = (1L to 1000L).map(i => (i, (i * 37 % 1000).toDouble)).toDF("id", "s")
    val exactPlan = Sampling.topFractionByScore(df, "s", 0.25, approx = false)
      .queryExecution.executedPlan.toString
    val approxPlan = Sampling.topFractionByScore(df, "s", 0.25, approx = true)
      .queryExecution.executedPlan.toString
    // the exact path's signature is the empty-key global Window sort;
    // the approx path must carry NO window at all
    assert(exactPlan.contains("Window"), s"exact plan lost its rank window:\n$exactPlan")
    assert(!approxPlan.contains("Window"),
      s"approx plan still windows (single-partition sort not gone):\n$approxPlan")
    assert(approxPlan.contains("percentile_approx") ||
      approxPlan.contains("approx_percentile"),
      s"approx plan must derive the cutoff via percentile_approx:\n$approxPlan")
  }

  test("perplexityBuckets: approx == exact per group, incl. ties and integer group sizes") {
    import spark.implicits._
    // group a: 6 docs (n·1/3 = 2 exactly — boundary); group b: cutoff
    // ties; group c: 7 docs (fractional ranks)
    val scored = (Seq(
      (1L, "a", -1.0), (2L, "a", -2.0), (3L, "a", -3.0),
      (4L, "a", -4.0), (5L, "a", -5.0), (6L, "a", -6.0),
      (10L, "b", -1.0), (11L, "b", -2.0), (12L, "b", -2.0),
      (13L, "b", -2.0), (14L, "b", -2.0), (15L, "b", -9.0)) ++
      (20L to 26L).map(i => (i, "c", -(i.toDouble / 3.0))))
      .toDF("doc_id", "grp", "lp")
    val exact = TextAnalysis.perplexityBuckets(scored, "doc_id", "grp", "lp",
      approx = false)
    val approx = TextAnalysis.perplexityBuckets(scored, "doc_id", "grp", "lp",
      approx = true)
    assert(sameRows(exact, approx),
      "approx per-group cutoffs diverged from the exact rank")
  }

  test("perplexityBuckets: NULL lp passes through with NULL bucket and never shifts a cutoff") {
    import spark.implicits._
    // 6 scoreable docs + 3 NULL-lp docs. Counting the NULLs would make
    // n_docs = 9 → head cutoff rank ceil(3) = 3 (value −3.0) — and the
    // middle cutoff rank 6 would land ON a null, nulling every verdict
    // into 'tail' (the r12 ADVICE failure). The contract: cutoffs derive
    // from the 6 scoreable docs only (2/2/2 split), NULL-lp docs emerge
    // with NULL bucket and NULL perplexity.
    val scored = Seq(
      (1L, "a", Some(-1.0)), (2L, "a", Some(-2.0)), (3L, "a", Some(-3.0)),
      (4L, "a", Some(-4.0)), (5L, "a", Some(-5.0)), (6L, "a", Some(-6.0)),
      (7L, "a", Option.empty[Double]), (8L, "a", None), (9L, "a", None)
    ).toDF("doc_id", "grp", "lp")
    for (ap <- Seq(false, true)) {
      val out = TextAnalysis.perplexityBuckets(scored, "doc_id", "grp", "lp",
        approx = ap)
        .collect().map(r => r.getAs[Long]("doc_id") ->
          Option(r.getAs[String]("ppl_bucket"))).toMap
      assert(out.size == 9, s"approx=$ap lost rows: $out")
      assert(out(1L).contains("head") && out(2L).contains("head"), s"approx=$ap: $out")
      assert(out(3L).contains("middle") && out(4L).contains("middle"), s"approx=$ap: $out")
      assert(out(5L).contains("tail") && out(6L).contains("tail"), s"approx=$ap: $out")
      assert(Seq(7L, 8L, 9L).forall(out(_).isEmpty),
        s"approx=$ap: NULL-lp docs must take a NULL bucket: $out")
    }
  }

  test("tokenStatsBy: approx == exact on the fixture's per-source stats; plan is one aggregate") {
    val docs = Tables.documents(spark, sf)
    val exact = CorpusStats.tokenStatsBy(docs, "source", "text")
    val approx = CorpusStats.tokenStatsBy(docs, "source", "text", approx = true)
    assert(sameRows(exact, approx),
      "approx order statistics diverged from the exact ranks")
    val plan = approx.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"),
      s"approx stats must not rank-sort per group:\n$plan")
  }
}
