package graft.util

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{SparkPlan, UnionExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

/** Partition-count hygiene for CPU-heavy map stages. */
object Partitioning {

  /** Repartition ONLY when the input is narrower than the cluster's
    * parallelism. Small local corpora arrive as one parquet file = one
    * partition, which serializes CPU-heavy transforms (shingling,
    * minhash, vector math) — an explicit repartition (which AQE will not
    * coalesce) spreads them. A 100 TB input already has thousands of
    * partitions: repartitioning it would be a pointless full round-robin
    * shuffle of the corpus, so wide inputs pass through untouched.
    *
    * The decision runs no job (see [[plannedPartitions]]). For an
    * adaptive plan it reads the PLANNED exchange counts, before AQE
    * coalescing: a grouped aggregate planned at
    * `spark.sql.shuffle.partitions` ≥ the parallelism passes through
    * even when AQE later coalesces it to fewer partitions. */
  def spreadIfNarrow(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (plannedPartitions(df) >= target) df else df.repartition(target)
  }

  /** The input's partition count, decided from its plan without running
    * a job. A plan with a shuffle is adaptive, and asking its RDD for
    * partitions would execute every shuffle stage, so its count comes
    * from the planned operators instead ([[plannedCount]]). A plan
    * without one is a scan whose partitions are listed, not computed. */
  private def plannedPartitions(df: DataFrame): Int =
    df.queryExecution.executedPlan match {
      case aqe: AdaptiveSparkPlanExec => plannedCount(aqe.executedPlan)
      case _ => df.rdd.getNumPartitions
    }

  /** An operator that keeps a partitioning reports its count (an
    * exchange: its planned count). One that keeps none reads through
    * its children: a union has as many partitions as its children
    * together, any other operator as many as its widest child (a
    * broadcast join: its streamed side). A leaf that keeps none (a scan
    * with no exchange above it) counts 0. */
  private def plannedCount(plan: SparkPlan): Int = plan match {
    case p if p.outputPartitioning.numPartitions > 0 => p.outputPartitioning.numPartitions
    case u: UnionExec => u.children.map(plannedCount).sum
    case p => p.children.map(plannedCount).maxOption.getOrElse(0)
  }
}
