// Lives inside org.apache.spark.sql because Dataset.ofRows and the
// Dataset's logical plan are private[sql].
package org.apache.spark.sql.graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.{HintInfo, NO_BROADCAST_HASH, ResolvedHint}
import org.apache.spark.sql.classic

object JoinHints {
  /** `df` marked so a join never broadcasts it as the build side, whatever
    * its size estimate — for inputs whose estimate is known to be far too
    * low. Spark's NO_BROADCAST_HASH strategy has no user-facing hint name. */
  def noBroadcast(df: DataFrame): DataFrame = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    classic.Dataset.ofRows(ds.sparkSession,
      ResolvedHint(ds.logicalPlan, HintInfo(strategy = Some(NO_BROADCAST_HASH))))
  }
}
