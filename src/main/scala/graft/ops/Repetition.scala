package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Gopher-style repetition filters (Rae et al. 2021, "Scaling Language
  * Models: Methods, Analysis & Insights from Training Gopher", Table A1 —
  * public paper): documents dominated by a few repeated n-grams are
  * low-quality training data, and the standard curation move is to score
  * each document's repetition profile and drop the tail.
  *
  * Scale design: the per-document stats are ONE fused codegen pass per
  * row (RepetitionStats — a HashMap gram count, O(tokens), no shuffle);
  * interpreted higher-order functions were rejected at design time
  * (O(tokens × distinct-grams) per row, no codegen CSE) and the original
  * explode + two-level groupBy formulation is retained only as the
  * parity/oracle reference — it paid two full-corpus shuffles for
  * row-local statistics. boilerplateProfile keeps its explode + shuffle
  * because DOCUMENT frequency is genuinely cross-document state.
  */
object Repetition {

  /** Corpus-level boilerplate profile: the fraction of each document's
    * word-n-gram windows that are CORPUS-WIDE boilerplate (windows whose
    * document frequency ≥ `minDocFrequency` — navigation chrome, license
    * headers, template text). This is the document-frequency complement
    * of the per-document stats above, and the profile step behind
    * C4-style repeated-passage removal (Raffel et al. 2020 §2.2, public).
    *
    * Scale shape: one explode over per-doc DISTINCT shingles, a
    * partial-agg document-frequency count keyed by shingle, and a
    * shuffle join of shingles against the hot set — never an all-pairs
    * comparison. The hot set is small by definition (high-df shingles),
    * but it is NOT broadcast blindly: at 100 TB the df distribution is
    * unknown upfront, and a shuffle join degrades gracefully where an
    * assumed-broadcastable set would OOM the driver.
    */
  def boilerplateProfile(df: DataFrame, idCol: String, textCol: String,
                         n: Int, minDocFrequency: Long): DataFrame = {
    // fused per-doc DISTINCT shingles → the groupBy below counts
    // DOCUMENT frequency, not occurrence frequency
    val sh = df.select(col(idCol),
      explode(org.apache.spark.sql.graft.VectorExpressions
        .wordShingles(col(textCol), n, distinct = true)).as("shingle"))
    val hot = sh.groupBy("shingle").agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDocFrequency)
      .select(col("shingle"), lit(1).as("__hot"))
    val per = sh.join(hot, Seq("shingle"), "left")
      .groupBy(col(idCol)).agg(
        count(lit(1)).as("n_windows"),
        sum(when(col("__hot").isNotNull, 1L).otherwise(0L)).as("n_boiler"))
    df.select(col(idCol))
      .join(per, Seq(idCol), "left")
      .select(
        col(idCol),
        coalesce(col("n_windows"), lit(0L)).as("n_windows"),
        coalesce(col("n_boiler"), lit(0L)).as("n_boiler"))
      .withColumn("boilerplate_frac",
        round(when(col("n_windows") > 0,
          col("n_boiler").cast(DoubleType) / col("n_windows").cast(DoubleType))
          .otherwise(lit(0.0)), 6))
  }

  /** Line-level boilerplate EXCISION (r10): remove every line whose
    * corpus-wide DOCUMENT frequency reaches `minDocFrequency`, keep the
    * rest of the document — the removal step behind C4's "lines seen in
    * more than one other page" rule (Raffel et al. 2020 §2.2) and the
    * line-dedup pass modern web-corpus pipelines run before document
    * near-dup (navigation chrome, cookie banners, subscribe footers).
    * [[boilerplateProfile]] scores windows; this operator edits lines —
    * detection vs surgery, same df machinery.
    *
    * Matching runs on the TRIMMED line (navigation chrome arrives with
    * varying indentation); the rebuild keeps the RAW lines — including
    * indentation and blank lines — so a document with zero boilerplate
    * round-trips verbatim (r10 review finding: the first version
    * rebuilt from trimmed lines and silently dropped blanks, mutating
    * clean documents corpus-wide while reporting n_removed = 0).
    * Blank lines are never boilerplate and never counted. df counts
    * each document once however often it repeats the line (per-doc
    * distinct before the count, the boilerplateProfile contract).
    * Output: (id, clean_text, n_lines, n_removed) with n_lines the
    * non-blank line count.
    *
    * Scale shape: one explode keyed by doc, a distinct + partial-agg df
    * count keyed by line, and an anti-join against the hot-line set —
    * which is NOT broadcast blindly (df distribution unknown at 100 TB;
    * a shuffle join degrades gracefully, the boilerplateProfile
    * rationale). Never all-pairs; the doc-keyed rebuild is the same
    * sort_array(collect_list) shape as the span-excision ops. */
  def stripBoilerplateLines(df: DataFrame, idCol: String, textCol: String,
                            minDocFrequency: Long): DataFrame = {
    val lines = df.select(col(idCol),
        posexplode(split(col(textCol), "\n")).as(Seq("ln", "raw")))
      .withColumn("line", trim(col("raw")))
    val nonblank = lines.filter(col("line") =!= "")
    val hot = nonblank.select(col(idCol), col("line")).distinct()
      .groupBy("line").agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDocFrequency)
      .select(col("line"))
    val rebuilt = lines.join(hot, Seq("line"), "left_anti")
      .groupBy(col(idCol))
      .agg(
        array_join(transform(sort_array(collect_list(struct(col("ln"), col("raw")))),
          s => s.getField("raw")), "\n").as("clean_text"),
        sum(when(trim(col("raw")) =!= "", 1L).otherwise(0L)).as("n_kept_nb"))
    val counts = nonblank.groupBy(col(idCol)).agg(count(lit(1)).as("n_lines"))
    df.select(col(idCol))
      .join(counts, Seq(idCol), "left")
      .join(rebuilt, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        coalesce(col("n_lines"), lit(0L)).as("n_lines"),
        (coalesce(col("n_lines"), lit(0L)) -
          coalesce(col("n_kept_nb"), lit(0L))).as("n_removed"))
  }

  /** Intra-document line dedup (r10): keep only the FIRST occurrence of
    * each (trimmed) line within a document — the repeated-paragraph
    * cleanup modern web-corpus pipelines run before any cross-document
    * work (scraped pages repeat their own nav/refrain blocks; distinct
    * from [[stripBoilerplateLines]], whose df is CORPUS-wide). Raw
    * lines are preserved on the kept occurrences; blank lines are
    * structure, never deduped. Output matches the line-op contract:
    * (id, clean_text, n_lines, n_removed), n_lines counting non-blank
    * lines.
    *
    * Scale shape: strictly per-document — one window partitioned by
    * (doc, line) and a doc-keyed rebuild; no corpus-wide state, no
    * cross-doc join, embarrassingly parallel. */
  def dedupLinesWithinDoc(df: DataFrame, idCol: String,
                          textCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val lines = df.select(col(idCol),
        posexplode(split(col(textCol), "\n")).as(Seq("ln", "raw")))
      .withColumn("line", trim(col("raw")))
    val w = Window.partitionBy(col(idCol), col("line")).orderBy(col("ln"))
    val kept = lines.withColumn("__rn", row_number().over(w))
      .filter(col("line") === "" || col("__rn") === 1)
    val rebuilt = kept.groupBy(col(idCol))
      .agg(
        array_join(transform(sort_array(collect_list(struct(col("ln"), col("raw")))),
          s => s.getField("raw")), "\n").as("clean_text"),
        sum(when(col("line") =!= "", 1L).otherwise(0L)).as("n_kept_nb"))
    val counts = lines.filter(col("line") =!= "")
      .groupBy(col(idCol)).agg(count(lit(1)).as("n_lines"))
    df.select(col(idCol))
      .join(counts, Seq(idCol), "left")
      .join(rebuilt, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        coalesce(col("n_lines"), lit(0L)).as("n_lines"),
        (coalesce(col("n_lines"), lit(0L)) -
          coalesce(col("n_kept_nb"), lit(0L))).as("n_removed"))
  }

  /** Gopher thresholds for the computed features (Table A1 uses character
    * fractions; these are the token-fraction analogs). */
  val TopBigramMax: Double = 0.20
  val TopTrigramMax: Double = 0.18
  val DupBigramMax: Double = 0.50

  /** Per-document repetition features + a keep/drop verdict:
    *
    *  - `top_bigram_frac`  — tokens covered by the single most frequent
    *    bigram (count×2 / n_tokens, capped at 1.0)
    *  - `top_trigram_frac` — same for trigrams (count×3 / n_tokens)
    *  - `dup_bigram_frac`  — fraction of bigram slots whose bigram occurs
    *    more than once in the document
    *  - `repetition_keep`  — all three under the Gopher-style thresholds
    *
    * The verdict compares the 6-decimal-rounded features, so the flag is
    * reproducible bit-for-bit across engines (the DuckDB oracle re-derives
    * the identical arithmetic).
    */
  def ngramRepetition(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    // r9: the raw counts come from ONE fused pass per document
    // (RepetitionStats) — they are strictly per-document statistics, and
    // the previous explode → (doc, gram) → per-doc aggregate paid two
    // full-corpus shuffles for them (measured 3.4× slower at 50k docs).
    // The fraction/verdict arithmetic below is unchanged and identical
    // to the relational form and the DuckDB oracle.
    val stats = df.select(col(idCol),
      org.apache.spark.sql.graft.VectorExpressions
        .repetitionStats(col(textCol)).as("__r"))
      .select(col(idCol),
        col("__r.n_tokens").as("n_tokens"),
        col("__r.top2").as("top2"),
        col("__r.dup2").as("dup2"),
        col("__r.top3").as("top3"))
    fractions(stats, idCol)
  }

  /** Shared fraction + verdict arithmetic over the raw counts
    * (n_tokens, top2, dup2, top3) — the single site both formulations
    * and the oracle's rounding contract flow through. */
  private[graft] def fractions(counts: DataFrame, idCol: String): DataFrame = {
    val nTok = col("n_tokens").cast(DoubleType)
    def frac(c: Column): Column = when(col("n_tokens") > 0, c).otherwise(lit(0.0))
    val topBi = round(frac(least(col("top2") * 2.0 / nTok, lit(1.0))), 6)
    val topTri = round(frac(least(col("top3") * 3.0 / nTok, lit(1.0))), 6)
    val dupBi = round(
      when(col("n_tokens") > 1, col("dup2") / (nTok - 1.0))
        .otherwise(lit(0.0)), 6)
    counts.select(
      col(idCol),
      col("n_tokens"),
      topBi.as("top_bigram_frac"),
      topTri.as("top_trigram_frac"),
      dupBi.as("dup_bigram_frac"))
      .withColumn("repetition_keep",
        col("top_bigram_frac") <= TopBigramMax &&
          col("top_trigram_frac") <= TopTrigramMax &&
          col("dup_bigram_frac") <= DupBigramMax)
  }
}
