package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.ops.Dedup

/** The fused MinhashSignature expression must be BIT-IDENTICAL to the
  * relational explode→agg→join formulation it replaced (which the DuckDB
  * oracle mirrors) — on the fixture corpus and on every edge the two
  * code paths could diverge on: empty text, sub-shingle text, multibyte
  * characters (codepoint vs UTF-16 counting), and repeated shingles. */
class MinhashParitySpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def assertParity(df: org.apache.spark.sql.DataFrame,
                           shingleLen: Int, k: Int): Unit = {
    val fused = Dedup.minhashSignatures(df, "doc_id", "text", shingleLen, k)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val rel = ParityReferences.minhashSignaturesRelational(df, "doc_id", "text", shingleLen, k)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(fused.keySet == rel.keySet)
    fused.foreach { case (id, sig) =>
      assert(sig == rel(id), s"signature mismatch for doc $id")
    }
  }

  test("fused == relational on the fixture corpus (both gate configs)") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    assertParity(docs, shingleLen = 5, k = 32)
    assertParity(docs, shingleLen = 5, k = 64)
  }

  test("fused == relational on edge texts: empty, short, multibyte, repeated") {
    import spark.implicits._
    val edge = Seq(
      (1L, ""),
      (2L, "abc"), // shorter than the shingle
      (3L, "abcde"), // exactly one shingle
      (4L, "aaaaaaaaaa"), // one repeated shingle
      (5L, "héllo wörld çafé ünïcode"), // multibyte codepoints
      (6L, "日本語のテキストです and mixed ascii"),
      (7L, "  leading and trailing  "))
      .toDF("doc_id", "text")
    assertParity(edge, shingleLen = 5, k = 32)
    assertParity(edge, shingleLen = 3, k = 16)
  }

  test("simhash fused == relational on the fixture corpus") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val fused = Dedup.simhashes(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val rel = ParityReferences.simhashesRelational(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fused == rel)
    assert(fused.values.toSet.size > 1, "signatures must vary")
  }

  test("simhash fused == relational on edge texts incl. tab-led and multibyte") {
    import spark.implicits._
    val edge = Seq(
      (1L, ""),
      (2L, "   "), // all spaces → signature 0
      (3L, "\ttab led text"), // space-only trim keeps the tab → leading "" token
      (4L, "one"),
      (5L, "repeated repeated repeated distinct"),
      (6L, "héllo wörld çafé ünïcode 日本語"),
      (7L, "  trailing tab\t"))
      .toDF("doc_id", "text")
    val fused = Dedup.simhashes(edge, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val rel = ParityReferences.simhashesRelational(edge, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fused == rel, s"fused=$fused rel=$rel")
    assert(fused(2L) == 0L)
  }

  test("fused word shingles == HOF form, distinct and with-multiplicity") {
    import spark.implicits._
    import graft.ops.TextAnalysis
    import org.apache.spark.sql.graft.VectorExpressions
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), col("text"))
      .unionByName(Seq(
        (9001L, ""), (9002L, "one two"), (9003L, "\ttab led run"),
        (9004L, "a b a b a b"), (9005L, "  x  y  z  "))
        .toDF("doc_id", "text"))
    for (n <- Seq(2, 3, 4)) {
      val fusedD = docs.select(col("doc_id"),
        VectorExpressions.wordShingles(col("text"), n, distinct = true).as("s"))
        .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
      val hofD = docs
        .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("t"))
        .select(col("doc_id"), TextAnalysis.wordShinglesFromTokens(col("t"), n).as("s"))
        .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
      assert(fusedD == hofD, s"distinct n=$n")
      val fusedM = docs.select(col("doc_id"),
        VectorExpressions.wordShingles(col("text"), n, distinct = false).as("s"))
        .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
      val hofM = docs
        .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("t"))
        .select(col("doc_id"), TextAnalysis.wordNgramsFromTokens(col("t"), n).as("s"))
        .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
      assert(fusedM == hofM, s"multiplicity n=$n")
    }
  }

  test("fused language-ID and stopword scores == composed HOF forms") {
    import spark.implicits._
    import graft.ops.TextAnalysis
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), col("text"))
      .unionByName(Seq(
        (9001L, ""), (9002L, "the of and to in is"), (9003L, "der die das und"),
        (9004L, "el la de que y en"), (9005L, "xyzzy plugh"),
        // ambiguous: 'de'/'la' score for both es and fr → declared order
        (9006L, "de la de la"))
        .toDF("doc_id", "text"))
    val fused = docs.select(col("doc_id"),
      TextAnalysis.languageId(col("text")).as("l"),
      TextAnalysis.stopwordScore(col("text"), "en").as("s"))
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getInt(2)))).toMap
    val composed = docs.select(col("doc_id"),
      TextAnalysis.languageIdComposed(col("text")).as("l"),
      TextAnalysis.langScore(TextAnalysis.tokens(col("text")), "en").as("s"))
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getInt(2)))).toMap
    assert(fused == composed)
    assert(fused(9001L)._1 == "und" && fused(9005L)._1 == "und")
    assert(fused(9006L)._1 == "es", "declared order must break ties")
    // null text → 'und', like the composed when-chain's fall-through
    val nullRow = Seq((1L, Option.empty[String])).toDF("doc_id", "text")
      .select(TextAnalysis.languageId(col("text"))).head()
    assert(nullRow.getString(0) == "und")
  }

  test("fused quality features == composed regexp/HOF form") {
    import spark.implicits._
    import graft.ops.TextAnalysis
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), col("text"))
      .unionByName(Seq(
        (9001L, ""), (9002L, "the quick brown fox!"), (9003L, "!!! ??? ..."),
        (9004L, "héllo, wörld — ünïcode…"), (9005L, "numbers 123 456 and words"))
        .toDF("doc_id", "text"))
    def collect(feats: org.apache.spark.sql.Column => Seq[(String, org.apache.spark.sql.Column)]) =
      docs.select((col("doc_id") +: feats(col("text")).map { case (n, c) =>
        round(c, 6).as(n) } :+ TextAnalysis.qualityScore(col("text")).as("q")): _*)
        .collect().map(r => r.getLong(0) -> r.toSeq.tail).toMap
    val fused = collect(TextAnalysis.qualityFeatures)
    val composed = collect(TextAnalysis.qualityFeaturesComposed)
    assert(fused == composed)
  }

  test("null text degrades to the sentinel signature") {
    import spark.implicits._
    val df = Seq((1L, Option.empty[String]), (2L, Some("hello world")))
      .toDF("doc_id", "text")
    val out = Dedup.minhashSignatures(df, "doc_id", "text", 5, 8)
      .orderBy("doc_id").collect()
    assert(out(0).getSeq[Long](1) == Seq.fill(8)(Dedup.MinhashPrime))
    assert(out(1).getSeq[Long](1).exists(_ != Dedup.MinhashPrime))
  }

  test("TokenizerParity: manual \\s+ scan == Pattern.split on whitespace corners") {
    // r18 opt pin: TokenizerUtil.tokens replaced the regex automaton
    // with a manual scan; semantics must stay Pattern.split("\\s+", -1)
    // after the space-only trim, including leading/trailing EMPTY tokens
    // from non-space whitespace runs at the (trimmed) boundaries
    val ws = java.util.regex.Pattern.compile("\\s+")
    def reference(raw: String): Seq[String] = {
      var st = 0; var en = raw.length
      while (st < en && raw.charAt(st) == ' ') st += 1
      while (en > st && raw.charAt(en - 1) == ' ') en -= 1
      if (en == st) Seq.empty
      else ws.split(raw.substring(st, en), -1).toSeq
    }
    val cases = Seq(
      "", " ", "   ", "a", " a ", "a b", "a  b", "a\tb", "\ta", "a\t",
      " \ta b\t ", "a\t\t\nb", "\t", "\n\n", "ab\fc\rd",
      "héllo wörld", "多字 节 词", "a \t b \n c", "  \t  ", "one",
      "tab\tand space mix\r\n", "\rstart", "end")
    cases.foreach { s =>
      val got = org.apache.spark.sql.graft.TokenizerUtil
        .tokens(org.apache.spark.unsafe.types.UTF8String.fromString(s)).toSeq
      assert(got == reference(s),
        s"tokenizer diverges on ${s.map(c => f"\\u${c.toInt}%04x").mkString}: " +
          s"got $got, want ${reference(s)}")
    }
  }
}
