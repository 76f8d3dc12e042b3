package graft.ops

import org.apache.spark.sql.DataFrame

/** Shared-scorer-frame severing (r18 opt; r19 — VERDICT r18 #9).
  *
  * Several ops feed ONE scored frame to BOTH a cutoff aggregate and the
  * verdict assignment; Spark dedupes no shared subplans, so without a
  * materialization the whole scoring lineage executes twice per action.
  * Severing is `localCheckpoint(eager = true)` — cheapest, but
  * executor-local: on a real cluster an executor loss mid-query fails
  * the job instead of recomputing (the blocks have no lineage).
  *
  * EAGER-EXECUTION NOTE (ADVICE r18): severing runs the full scorer job
  * at DataFrame-CONSTRUCTION time of the calling combinator
  * (Dsir.select, TextAnalysis.perplexityBuckets,
  * Sampling.topFractionByScore), and downstream filters no longer push
  * into the scorer lineage. Callers that only need the plan, or that
  * filter hard downstream, should score-then-filter explicitly instead.
  * Streaming inputs pass through untouched (a micro-batch cannot
  * checkpoint across triggers).
  */
object Sever {
  def sever(df: DataFrame): DataFrame =
    if (df.isStreaming) df else df.localCheckpoint(true)
}
