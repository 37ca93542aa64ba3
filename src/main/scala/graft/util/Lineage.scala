package graft.util

import org.apache.spark.sql.DataFrame

/** Lineage truncation for iterative DataFrame loops and for small,
  * expensively derived frames that feed many downstream stages.
  *
  * A loop that builds round r's frame on top of round r-1's grows the
  * Catalyst plan every round, and analysis/cache-lookup cost over the
  * carried tree compounds — `Dataset.persist` alone does NOT cut the
  * logical plan, it only short-circuits execution (measured in a
  * per-round DataFrame BPE learner: per-round wall time doubled every
  * round past ~14 and OOM'd an 8 GB driver at round 19). A re-rooted
  * plan is not enough either: an RDD chain that still grows one level
  * per round makes the task binaries deeper every round, and a
  * min-label loop re-rooted that way died with a StackOverflowError in
  * task deserialization past ~55 rounds. [[sever]] drops both.
  *
  * [[sever]] is the one decision site, and its one choice is local vs
  * reliable ([[ReliableKey]]); no operator gates it on size. The dedup
  * shingle index used to sever only above a 4 MB input estimate, but a
  * same-JVM A/B at sf0.1 found severing faster below it too
  * (d_ngram_jaccard 1.81 → 1.62 s, d_winnow_recall 2.68 → 2.28 s).
  */
object Lineage {
  /** Lineage sever via `localCheckpoint`: re-roots `df` as a LogicalRDD
    * over a checkpointed internal-row RDD, dropping BOTH the Catalyst
    * plan AND the RDD recompute chain — a downstream task binary
    * carries only a checkpoint block reference, not the upstream
    * expression tree (measured on mm_dup_union as ~30 GB of
    * ObjectInputStream/TreeNode allocation for one gate before its
    * evidence edges were severed).
    *
    * `eager = true` materializes the frame now (one job). `eager =
    * false` marks it: the first job that reads every row of the
    * returned frame fills the blocks and truncates the RDD chain, so a
    * loop whose per-round convergence aggregate is that job pays no
    * extra job per round.
    *
    * RELEASE IS DESTRUCTIVE: a locally-checkpointed RDD has no lineage
    * to recompute from, so the returned frame must not be used after
    * its release hook (argument = blocking) runs. Release after the
    * final materialization — loops release round r-1 once round r is
    * materialized, and [[graft.util.IntermediateCaches.releaseAll]]'s
    * between-queries contract covers tracked frames. On a real cluster
    * localCheckpoint data is lost with an executor — for multi-hour
    * 100 TB jobs set [[ReliableKey]] (reliable `checkpoint` to durable
    * storage — blocks survive executor loss); locally the
    * non-replicated block is the right cost. */
  def sever(df: DataFrame, eager: Boolean = true): (DataFrame, Boolean => Unit) = {
    val cp =
      if (reliableMode(df.sparkSession)) {
        require(df.sparkSession.sparkContext.getCheckpointDir.isDefined,
          s"$ReliableKey=true requires SparkContext.setCheckpointDir " +
            "(durable storage reachable by every executor)")
        df.checkpoint(eager)
      } else df.localCheckpoint(eager)
    (cp, unpersistHookOf(cp))
  }

  /** Config key selecting the fault-tolerant sever path: when true,
    * [[sever]] uses reliable `Dataset.checkpoint` (blocks written to
    * `spark.checkpoint.dir` on durable storage, recoverable after
    * executor loss) instead of `localCheckpoint` (executor-local
    * blocks — faster, but a lost executor kills the job). Flip it for
    * multi-hour cluster runs; the local default stays fast. Requires
    * `spark.checkpoint.dir` (set via `SparkContext.setCheckpointDir`)
    * to point at storage all executors reach — on a real cluster that
    * means the same cloud store the committers write through. Under
    * it, release only drops block-cache copies: the checkpoint files
    * outlive the hook and go with the checkpoint dir. */
  val ReliableKey = "spark.graft.sever.reliable"

  /** Case-insensitive, whitespace-tolerant parse with a sever-time
    * diagnostic: a malformed value ('1', 'yes', …) must name the key
    * and the bad value, not surface as a bare IllegalArgumentException
    * from String.toBoolean deep inside a query plan. */
  private def reliableMode(s: org.apache.spark.sql.SparkSession): Boolean =
    s.conf.getOption(ReliableKey).exists { raw =>
      raw.trim.toLowerCase(java.util.Locale.ROOT) match {
        case "true" => true
        case "false" => false
        case _ => throw new IllegalArgumentException(
          s"$ReliableKey must be 'true' or 'false', got '$raw'")
      }
    }

  /** Release hook for a checkpointed frame: unpersists the backing
    * RDD. Fails FAST if the analyzed plan is not the expected single
    * LogicalRDD — a plan-shape regression (e.g. across Spark
    * upgrades) must surface at sever time, not as a silent cache leak
    * that Bench's leak guard mops up later. */
  private def unpersistHookOf(cp: DataFrame): Boolean => Unit = {
    val rdd = cp.queryExecution.analyzed.collectFirst {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd
    }.getOrElse(throw new IllegalStateException(
      "sever: checkpointed plan is not a LogicalRDD — plan shape " +
        s"changed, release would leak: ${cp.queryExecution.analyzed.nodeName}"))
    // through SparkContext, not RDD.unpersist: the latter warns on
    // every release of a local checkpoint that its lineage is gone,
    // which is this hook's contract, not news
    blocking => org.apache.spark.sql.graft.ContextBridge
      .unpersistRDD(cp.sparkSession.sparkContext, rdd.id, blocking)
  }

  /** [[sever]] registered with [[IntermediateCaches]] — the one-liner
    * for operator-internal trunks whose lifetime ends with the query. */
  def severTracked(df: DataFrame): DataFrame = {
    val (cp, release) = sever(df)
    IntermediateCaches.trackRelease(release)
    cp
  }
}
