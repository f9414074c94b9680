package graft.ops

import org.apache.spark.sql.{DataFrame, GraftBridge}
import org.apache.spark.sql.catalyst.plans.logical.{Repartition, Sort}
import org.apache.spark.sql.internal.SQLConf

/** Data-sized final sort for a registry row's presentation `orderBy`.
  *
  * A global sort plans a range exchange, and a range exchange first runs a
  * sampling job that computes the sort's whole input only to pick partition
  * bounds, then computes it again; for a small result AQE then coalesces
  * the sorted output to one partition anyway. When Catalyst's size estimate
  * of the sort's input (the one Spark trusts for broadcast joins) is at
  * most `spark.sql.adaptive.advisoryPartitionSizeInBytes`, the size AQE
  * coalesces to, the root sort runs over a one-partition exchange instead:
  * no bounds, no sampling job, the same rows in the same order. Larger or
  * unestimated inputs (checkpoints carry no size) keep the range exchange,
  * and a plan whose root is not a global sort is returned unchanged.
  */
private[graft] object FinalSort {
  def apply(df: DataFrame): DataFrame = df.queryExecution.analyzed match {
    case sort @ Sort(_, true, child, _) if fitsOnePartition(df) =>
      GraftBridge.ofRows(df.sparkSession,
        sort.copy(child = Repartition(1, shuffle = true, child)))
    case _ => df
  }

  private def fitsOnePartition(df: DataFrame): Boolean = {
    val qe = df.queryExecution
    qe.optimizedPlan.stats.sizeInBytes <=
      BigInt(qe.sparkSession.sessionState.conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES))
  }
}
