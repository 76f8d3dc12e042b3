package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Regression pin for the r16 probe-validity find: the raw scale-probe
  * corpus pre-tokenizes into SINGLE characters ("w1234" → "w", "1",
  * "2", "3", "4" — the BPE pre-token pattern's [0-9] alternative
  * matches one digit), so a trainer run over it exhausts on the first
  * empty argmax and learns NOTHING — which the bpe_train4 probe leg
  * silently timed as "training" from r15 until r16 (shuffle 416 was
  * one empty pair-count pass). The letterized projection the fixed leg
  * uses must actually learn its merges. */
class BpeProbeRepro extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  /** The scale-probe corpus: `n` docs of 120 `w<0..4999>` tokens; ~15%
    * exact duplicates, ~25% near duplicates (every 20th token salted per
    * doc), the rest unique. */
  private def corpus(n: Int): DataFrame = {
    val words = 120 // tokens per doc
    spark.range(n.toLong).toDF("doc_id")
      .withColumn("kind", pmod(xxhash64(col("doc_id"), lit("kind")), lit(100)))
      // exact dup: copy of doc_id/7*7's body; near dup: base body + a
      // per-doc mutation suffix on ~5% of tokens; unique: own body
      .withColumn("base_id",
        when(col("kind") < 15, (col("doc_id") / 7).cast("long") * 7)
          .when(col("kind") < 40, (col("doc_id") / 5).cast("long") * 5)
          .otherwise(col("doc_id")))
      .withColumn("toks", transform(sequence(lit(0), lit(words - 1)), i =>
        concat(lit("w"),
          pmod(xxhash64(col("base_id"), i), lit(5000)),
          // near-dups mutate every 20th token with doc-specific salt
          when(col("kind").between(15, 39) && i % 20 === 0,
            concat(lit("_m"), pmod(xxhash64(col("doc_id"), i), lit(97))))
            .otherwise(lit("")))))
      .withColumn("text", concat_ws(" ", col("toks")))
      .select(col("doc_id"), col("text"),
        lit("en").as("lang"), lit("synthetic").as("source"),
        length(col("text")).cast("long").as("n_chars"))
  }

  test("probe corpus: raw form trains zero merges (single-char pre-tokens); letterized form trains") {
    val docs = corpus(2000).cache()
    docs.count()
    try {
      val raw = graft.ops.TextAnalysis.bpeTrainMerges(docs, "text", nMerges = 4)
        .collect()
      assert(raw.isEmpty,
        s"raw probe corpus should have no adjacent pairs, learned ${raw.length}")
      val lettered = docs.select(
        translate(col("text"), "0123456789", "abcdefghij").as("text"))
      val learned = graft.ops.TextAnalysis.bpeTrainMerges(lettered, "text",
        nMerges = 4).collect()
      assert(learned.length == 4,
        s"letterized corpus must train all 4 merges, got ${learned.length}")
      // sanity: every learned merge carries a positive pair frequency
      assert(learned.forall(_.getLong(3) > 0))
    } finally docs.unpersist()
  }
}
