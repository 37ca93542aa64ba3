package graft.util

import org.apache.spark.sql.DataFrame

/** Logical-plan lineage truncation for ITERATIVE DataFrame algorithms
  * (connected components, k-means chains): a loop that builds round
  * r's frame on top of round r-1's grows the Catalyst plan every round,
  * and analysis/cache-lookup cost over the carried tree compounds —
  * `Dataset.persist` alone does NOT cut the logical plan, it only
  * short-circuits execution. Measured in a per-round DataFrame BPE
  * learner: per-round wall time doubled every round past ~14 and OOM'd
  * an 8 GB driver at round 19, with the DATA (a ~10k-word vocabulary)
  * unchanged throughout.
  *
  * [[cut]] re-roots the frame as a LogicalRDD over the persisted
  * row RDD: execution stays incremental (reads the cache), the plan
  * stays O(1) deep, and the returned release hook unpersists the RDD
  * (row-level recompute after release walks the RDD lineage chain —
  * linear, RDD-side — so released results remain usable, just slower).
  */
object Lineage {
  private val CacheLvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK

  /** Returns the lineage-cut frame and its release hook (argument =
    * blocking). Callers iterate: cut round r, release round r-1 once
    * r is materialized. */
  def cut(df: DataFrame): (DataFrame, Boolean => Unit) = {
    val rdd = df.rdd
    rdd.persist(CacheLvl)
    val c = df.sparkSession.createDataFrame(rdd, df.schema)
    (c, blocking => { rdd.unpersist(blocking); () })
  }

  /** HARD lineage sever via eager `localCheckpoint`: materializes `df`
    * and re-roots it over the checkpointed internal-row RDD, dropping
    * BOTH the Catalyst plan AND the RDD recompute chain. Use where a
    * small-but-expensively-derived frame (a fingerprint trunk, an
    * evidence edge set) feeds MANY downstream stages: after [[cut]] the
    * persisted RDD still carries its full upstream closure chain, so
    * every downstream task binary serializes/deserializes the whole
    * expression tree — measured on mm_dup_union as ~30 GB of
    * ObjectInputStream/TreeNode allocation for one gate, the G1
    * humongous/expansion churn no JVM flag the repo does not own can be
    * trusted to absorb. After sever the task binary carries only a
    * checkpoint block reference.
    *
    * Tradeoffs vs [[cut]]: the frame is computed once eagerly (no lazy
    * composition), and RELEASE IS DESTRUCTIVE — a locally-checkpointed
    * RDD has no lineage to recompute from, so the returned frame must
    * not be used after its release hook runs (release after the final
    * materialization; [[graft.util.IntermediateCaches.releaseAll]]'s
    * between-queries contract already guarantees this). On a real
    * cluster localCheckpoint data is lost with an executor — for
    * multi-hour 100 TB jobs set [[reliableMode]] (reliable
    * `checkpoint` to durable storage — blocks survive executor loss);
    * locally (and for dimension-sized trunks recomputable by
    * re-running the query) the non-replicated block is the right cost. */
  def sever(df: DataFrame): (DataFrame, Boolean => Unit) = {
    if (reliableMode(df.sparkSession)) severReliable(df)
    else {
      val cp = df.localCheckpoint(true)
      (cp, unpersistHookOf(cp))
    }
  }

  /** Config key selecting the fault-tolerant sever path: when true,
    * [[sever]] uses reliable `Dataset.checkpoint` (blocks written to
    * `spark.checkpoint.dir` on durable storage, recoverable after
    * executor loss) instead of `localCheckpoint` (executor-local
    * blocks — faster, but a lost executor kills the job). Flip it for
    * multi-hour cluster runs; the local default stays fast. Requires
    * `spark.checkpoint.dir` (set via `SparkContext.setCheckpointDir`)
    * to point at storage all executors reach — on a real cluster that
    * means the same cloud store the committers write through. */
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

  /** The reliable-`checkpoint` sever: same frame/release contract as
    * the local path (release is still destructive — checkpoint FILES
    * are cleaned when the reference is released, per
    * `spark.cleaner.referenceTracking.cleanCheckpoints` — but the
    * unpersist hook here only drops any block-cache copies; the files
    * themselves outlive the hook and are removed with the checkpoint
    * dir). Exposed for callers that want durability for one specific
    * trunk without flipping the session-wide key. */
  def severReliable(df: DataFrame): (DataFrame, Boolean => Unit) = {
    require(df.sparkSession.sparkContext.getCheckpointDir.isDefined,
      s"$ReliableKey=true requires SparkContext.setCheckpointDir " +
        "(durable storage reachable by every executor)")
    val cp = df.checkpoint(true)
    (cp, unpersistHookOf(cp))
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
    blocking => { rdd.unpersist(blocking); () }
  }

  /** [[sever]] registered with [[IntermediateCaches]] — the one-liner
    * for operator-internal trunks whose lifetime ends with the query. */
  def severTracked(df: DataFrame): DataFrame = {
    val (cp, release) = sever(df)
    IntermediateCaches.trackRelease(release)
    cp
  }
}
