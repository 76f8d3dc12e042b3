package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import graft.ops.{Similarity, TextAnalysis}
import graft.ops.Dedup.{MinhashPrime, SimhashBits, minhashCoefA, minhashCoefB, substringLoserStarts}
import graft.ops.Decontaminate.overlapStarts
import graft.ops.Repetition.fractions

/** The original relational formulations of the fused operators: the
  * independent references the parity specs pin the production kernels
  * against, bit for bit. Each mirrors the shape of its DuckDB oracle.
  * None runs on a production path: most shuffle the whole corpus. */
object ParityReferences {
  /** The original relational formulation (explode → k-min aggregate →
    * join): kept as the independent reference implementation the fused
    * expression is parity-tested against. */
  def minhashSignaturesRelational(
      df: DataFrame, idCol: String, textCol: String,
      shingleLen: Int, k: Int): DataFrame = {
    // Fully codegen shingling: explode the position range, then
    // md5(substr) as a plain projection — no higher-order lambdas on the
    // hot path. Duplicate shingle hashes are harmless here because min()
    // over a multiset equals min() over its set, so no distinct needed.
    // Explicit partition count: small-file inputs arrive as one partition
    // and AQE would coalesce a size-based repartition right back.
    val par = df.sparkSession.sparkContext.defaultParallelism
    val docs = df.repartition(par, col(idCol))
      .select(col(idCol).as("doc"), col(textCol).as("__text"))
    val shingleRows = docs
      // texts shorter than a shingle contribute nothing (and Spark's
      // sequence(1, 0) is [1, 0], not empty — must pre-filter)
      .filter(length(col("__text")) >= shingleLen)
      .select(col("doc"), col("__text"),
        explode(sequence(lit(1), length(col("__text")) - (shingleLen - 1))).as("i"))
      .select(col("doc"),
        conv(substring(md5(col("__text").substr(col("i"), lit(shingleLen))), 1, 7), 16, 10)
          .cast(LongType).as("h"))
    val aggs = (0 until k).map(i =>
      min((lit(minhashCoefA(i)) * col("h") + lit(minhashCoefB(i))) % MinhashPrime).as(s"__m_$i"))
    val agg = shingleRows.groupBy("doc").agg(aggs.head, aggs.tail: _*)
    // shingle-less docs keep the sentinel signature (oracle's len=0 CASE)
    docs.select(col("doc")).join(agg, Seq("doc"), "left")
      .select(col("doc"), array((0 until k).map(i =>
        coalesce(col(s"__m_$i"), lit(MinhashPrime))): _*).as("sig"))
  }

  /** The original relational SimHash (explode distinct tokens → one
    * hash-aggregate of the 60 per-bit majorities → fold): kept as the
    * independent reference implementation for the parity spec.
    *
    * The 60 per-bit counts are packed into 21-bit lanes, 3 per long, so
    * the aggregate carries 20 sum buffers instead of 60: each token
    * contributes `((h>>b)&1) << 21*lane` per group, and the per-bit count
    * unpacks as `(sum >> 21*lane) & 0x1FFFFF` — exact as long as a doc
    * has fewer than 2^21 distinct tokens (documented bound; the per-doc
    * distinct-token count of any real corpus is orders of magnitude
    * lower). Output is bit-identical to the unpacked form. */
  def simhashesRelational(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val par = df.sparkSession.sparkContext.defaultParallelism
    val docs = df.repartition(par, col(idCol))
      .select(col(idCol).as("doc"), col(textCol).as("__text"))
    val tokRows = docs.select(col("doc"),
      explode(array_distinct(TextAnalysis.tokens(col("__text")))).as("t"))
      .withColumn("h",
        conv(substring(md5(col("t")), 1, SimhashBits / 4), 16, 10).cast(LongType))
    val LaneBits = 21
    val groups: Seq[Seq[Int]] = (0 until SimhashBits).grouped(3).toSeq
    def bitOf(b: Int): Column =
      call_function("shiftright", col("h"), lit(b)).bitwiseAND(lit(1L))
    val packed = groups.zipWithIndex.map { case (bs, g) =>
      sum(bs.zipWithIndex.map { case (b, lane) =>
        bitOf(b) * lit(1L << (LaneBits * lane))
      }.reduce(_ + _)).as(s"__p_$g")
    }
    val agg = tokRows.groupBy("doc").agg(count(lit(1)).as("__n"), packed: _*)
    def cnt(b: Int): Column = {
      val g = b / 3; val lane = b % 3
      call_function("shiftright", col(s"__p_$g"), lit(LaneBits * lane))
        .bitwiseAND(lit((1L << LaneBits) - 1))
    }
    val sig = agg.select(col("doc"),
      (0 until SimhashBits).map(b =>
        when(cnt(b) * 2 > col("__n"), lit(1L << b)).otherwise(lit(0L)))
        .reduce(_ + _).as("sh"))
    // token-less docs fold to signature 0 (explode dropped them; the
    // oracle's list_sum over an empty list is 0)
    docs.select(col("doc")).join(sig, Seq("doc"), "left")
      .select(col("doc"), coalesce(col("sh"), lit(0L)).as("sh"))
  }

  /** Token-level anti-join rebuild — the independent reference the fused
    * ExciseWindows pass is parity-tested against (ExciseParity in
    * CurationOpsSpec); the DuckDB oracle mirrors this shape. Not a hot
    * path: it shuffles token-level rows twice for per-document work. */
  def substringExciseRelational(df: DataFrame, idCol: String,
                                textCol: String, n: Int): DataFrame = {
    val covered = substringLoserStarts(df, idCol, textCol, n)
      .select(col(idCol), explode(sequence(col("s"), col("s") + (n - 1))).as("pos"))
      .distinct()
    val toks = df.select(col(idCol),
      posexplode(TextAnalysis.tokens(col(textCol))).as(Seq("pos", "tok")))
    val rebuilt = toks.join(covered, Seq(idCol, "pos"), "left_anti")
      .groupBy(col(idCol))
      .agg(
        array_join(transform(sort_array(collect_list(struct(col("pos"), col("tok")))),
          s => s.getField("tok")), " ").as("clean_text"),
        count(lit(1)).as("n_kept"))
    df.select(col(idCol), size(TextAnalysis.tokens(col(textCol)))
        .cast(LongType).as("n_tokens"))
      .join(rebuilt, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        col("n_tokens"),
        (col("n_tokens") - coalesce(col("n_kept"), lit(0L))).as("n_removed"))
  }

  /** Token-level anti-join rebuild — the independent reference the fused
    * ExciseWindows pass is parity-tested against (ExciseParity in
    * CurationOpsSpec); the DuckDB oracle mirrors this shape. */
  def exciseOverlapRelational(train: DataFrame, bench: DataFrame,
                              idCol: String, textCol: String, n: Int,
                              broadcastBench: Boolean = true): DataFrame = {
    val covered = overlapStarts(train, bench, idCol, textCol, n, broadcastBench)
      .select(col(idCol), explode(sequence(col("s"), col("s") + (n - 1))).as("pos"))
      .distinct()
    val toks = train.select(col(idCol),
      posexplode(TextAnalysis.tokens(col(textCol))).as(Seq("pos", "tok")))
    val rebuilt = toks.join(covered, Seq(idCol, "pos"), "left_anti")
      .groupBy(col(idCol))
      .agg(
        array_join(transform(sort_array(collect_list(struct(col("pos"), col("tok")))),
          s => s.getField("tok")), " ").as("clean_text"),
        count(lit(1)).as("n_kept"))
    train.select(col(idCol), size(TextAnalysis.tokens(col(textCol)))
        .cast(LongType).as("n_tokens"))
      .join(rebuilt, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        col("n_tokens"),
        (col("n_tokens") - coalesce(col("n_kept"), lit(0L))).as("n_removed"))
  }

  /** The original explode + two-level groupBy formulation — retained as
    * the independent reference the fused expression is parity-tested
    * against (RepetitionParity in CurationOpsSpec); the DuckDB oracle
    * mirrors this shape. Do not use on a hot path: both gram families
    * shuffle the whole corpus. */
  def ngramRepetitionRelational(df: DataFrame, idCol: String,
                                textCol: String): DataFrame = {
    val base = df.select(col(idCol),
      size(TextAnalysis.tokens(col(textCol))).cast(LongType).as("n_tokens"))

    def gramStats(n: Int, topName: String, dupName: String): DataFrame =
      df.select(col(idCol), explode(
        org.apache.spark.sql.graft.VectorExpressions
          .wordShingles(col(textCol), n, distinct = false)).as("g"))
        .groupBy(col(idCol), col("g")).agg(count(lit(1)).as("c"))
        .groupBy(col(idCol)).agg(
          max("c").as(topName),
          sum(when(col("c") > 1, col("c")).otherwise(lit(0L))).as(dupName))

    val joined = base
      .join(gramStats(2, "top2", "dup2"), Seq(idCol), "left")
      .join(gramStats(3, "top3", "dup3"), Seq(idCol), "left")
      .select(col(idCol), col("n_tokens"),
        coalesce(col("top2"), lit(0L)).as("top2"),
        coalesce(col("dup2"), lit(0L)).as("dup2"),
        coalesce(col("top3"), lit(0L)).as("top3"))
    fractions(joined, idCol)
  }

  /** The original groupBy posting build — the independent reference
    * implementation IndexBuildParity pins [[graft.ops.Retrieval.postingIndex]] against. */
  def postingIndexRelational(docs: DataFrame, idCol: String,
                             textCol: String): DataFrame =
    docs.select(col(idCol).as("doc_id"),
        TextAnalysis.tokens(col(textCol)).as("__toks"))
      .select(col("doc_id"), size(col("__toks")).cast(LongType).as("dl"),
        explode(col("__toks")).as("term"))
      .groupBy("term", "doc_id", "dl") // dl is functionally determined by doc_id
      .agg(count(lit(1)).as("tf"))
      .select("term", "doc_id", "tf", "dl")

  /** The original groupBy positional build — the independent reference
    * implementation IndexBuildParity pins [[graft.ops.Retrieval.positionalIndex]] against.
    * (ZERO-SHUFFLE r19 rationale: same as [[graft.ops.Retrieval.postingIndex]] — the former
    * posexplode → groupBy → sort_array(collect_list) paid a corpus-sized
    * Exchange plus per-row array churn to reassemble position lists that
    * were already contiguous in their source row; TermPositions emits
    * each term's 1-based positions in token order, ascending and
    * duplicate-free by construction — the exact sort_array layout
    * [[graft.ops.Retrieval.phraseMatch]]'s two-pointer intersection requires.) */
  def positionalIndexRelational(docs: DataFrame, idCol: String,
                                textCol: String): DataFrame =
    docs.select(col(idCol).as("doc_id"),
        TextAnalysis.tokens(col(textCol)).as("__toks"))
      .select(col("doc_id"), size(col("__toks")).cast(LongType).as("dl"),
        posexplode(col("__toks")).as(Seq("__p0", "term")))
      .groupBy("term", "doc_id", "dl")
      .agg(sort_array(collect_list(col("__p0") + 1)).as("positions"))
      .select("term", "doc_id", "positions", "dl")

  /** The original two-scan relational form — the independent reference
    * implementation DsirFeatureParity pins [[graft.ops.Dsir.featureBucketsFused]] against. */
  def featureBucketsRelational(df: DataFrame, idCol: String,
                               textCol: String,
                               nBuckets: Int): DataFrame = {
    val toks = df.select(col(idCol).as("__id"),
      explode(TextAnalysis.tokens(col(textCol))).as("f"))
    val bigs = df.select(col(idCol).as("__id"),
      explode(org.apache.spark.sql.graft.VectorExpressions
        .wordShingles(col(textCol), 2, distinct = false)).as("f"))
    toks.unionAll(bigs).select(col("__id"),
      (conv(substring(md5(col("f")), 1, 7), 16, 10).cast(LongType)
        % nBuckets).as("b"))
  }

  /** The original relational assignment — an `array_sort` over per-cell
    * cosine structs, each centroid spelled as `dims` literals. Kept as
    * the executable specification: IvfParitySpec pins the fused form to
    * it bit-for-bit, and the DuckDB oracles reproduce exactly this
    * cross-join + rank shape in SQL. Do NOT use on a data path with
    * large k — its expression tree grows as k × dims (the limit the
    * fused form removes). */
  def cellRanksRelational(v: Column, centroids: Seq[(Int, Array[Double])],
                          nProbe: Int): Column = {
    val scored = centroids.map { case (cid, cvec) =>
      struct(
        Similarity.cosine(v, array(cvec.map(lit): _*)).as("score"),
        lit(-cid).as("neg_id")) // descending sort: highest score, then lowest id
    }
    // sort descending by (score, -id), take nProbe cell ids
    transform(
      slice(reverse(array_sort(array(scored: _*))), 1, nProbe),
      s => -s.getField("neg_id"))
  }
}
