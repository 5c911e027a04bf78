package graft

import org.apache.spark.sql.{DataFrame, Dataset}

/** Cluster-safe lineage truncation behind a runtime config.
  *
  * Every iterative loop (through [[Fixpoint]]), memoized build
  * artifact (winnow indexes, df tables, codebooks) and multi-consumer
  * stage pin in the engine truncates lineage through THIS helper instead
  * of calling `localCheckpoint` directly, so one conf flips the whole
  * engine between the two modes:
  *
  *  - `spark.graft.checkpoint.mode=local` (default): `localCheckpoint` —
  *    blocks live on executors, zero external storage, ideal for
  *    single-JVM / static-allocation runs. NOT recomputable: losing an
  *    executor (dynamic allocation, preemption) fails downstream stages.
  *  - `spark.graft.checkpoint.mode=reliable`: `Dataset.checkpoint` to the
  *    reliable checkpoint directory (`spark.graft.checkpoint.dir`, or a
  *    pre-set `SparkContext.setCheckpointDir`). Survives executor loss —
  *    the correct mode for a 1000-executor cluster with dynamic
  *    allocation, at the cost of one distributed-FS write per pin.
  *
  * RETENTION (reliable mode): Spark never deletes reliable checkpoint
  * files by default (`spark.cleaner.referenceTracking.cleanCheckpoints`
  * is `false`, and it is a context-start conf a library cannot flip at
  * runtime). The iterative loops pin their state through [[Fixpoint]]:
  * every round where a convergence measure is read off the pin
  * (connected components, k-core, BFS), every 4th and the last round
  * otherwise (PageRank, LPA). A long-lived driver therefore accumulates
  * checkpoint data in the configured directory without bound. Cluster
  * operators running reliable mode should either (a) set
  * `spark.cleaner.referenceTracking.cleanCheckpoints=true` at context
  * start so GC'd pins are reaped, or (b) point `spark.graft.checkpoint
  * .dir` at a per-run directory and delete it between corpus
  * generations. Local mode has no such cost (blocks die with the
  * executors).
  *
  * Both modes cut the logical plan to a leaf, which is the property every
  * call site actually needs (bounded plan growth in loops, no re-running
  * an expensive kernel per consumer, no CacheManager entry held for the
  * session lifetime). Eagerness stays per-site: loops want eager pins
  * (bound the pending DAG), plan-build-time stage pins want lazy ones (no
  * jobs before the result is consumed).
  */
object Checkpoints {

  /** `local` (default) or `reliable`. Runtime-settable (custom key). */
  val ModeKey = "spark.graft.checkpoint.mode"

  /** Reliable-mode checkpoint directory; consulted only when the
    * SparkContext has no checkpoint dir set yet. */
  val DirKey = "spark.graft.checkpoint.dir"

  /** Reliable-mode dir resolution: a pre-set context dir wins (returns
    * None — nothing to set); otherwise [[DirKey]] must be configured or
    * this throws. A seam separate from [[pin]] so the missing-dir error
    * path stays spec-covered regardless of the (sticky, suite-order-
    * dependent) `SparkContext.setCheckpointDir` state. */
  private[graft] def reliableDirToSet(
      spark: org.apache.spark.sql.SparkSession,
      contextDir: Option[String]): Option[String] =
    contextDir match {
      case Some(_) => None
      case None => Some(spark.conf.getOption(DirKey).getOrElse(
        throw new IllegalArgumentException(
          s"$ModeKey=reliable needs $DirKey (or a pre-set " +
            "SparkContext.setCheckpointDir)")))
    }

  /** Truncate `ds`'s lineage per the session's configured mode. */
  def pin[T](ds: Dataset[T], eager: Boolean): Dataset[T] = {
    val spark = ds.sparkSession
    spark.conf.get(ModeKey, "local") match {
      case "local" => ds.localCheckpoint(eager)
      case "reliable" =>
        val sc = spark.sparkContext
        reliableDirToSet(spark, sc.getCheckpointDir)
          .foreach(sc.setCheckpointDir)
        ds.checkpoint(eager)
      case other =>
        throw new IllegalArgumentException(
          s"$ModeKey must be 'local' or 'reliable', got '$other'")
    }
  }

  /** Eagerly pin `ds` HASH-PARTITIONED on `keys`, preserving the
    * partitioning in the pinned plan so later equi-joins/aggregations on
    * `keys` read it WITHOUT re-exchanging — the co-partitioned loop-table
    * pattern (guide §2.4): an iterative operator that joins the same
    * materialized table on the same key every round should pay that
    * table's shuffle once, at pin time, not once per round.
    *
    * Why the pin runs with AQE off: `Dataset.checkpoint` captures the
    * physical plan's `outputPartitioning` into the pinned `LogicalRDD`,
    * but an adaptively-executed plan reports it through
    * `AdaptiveSparkPlanExec` where it is not statically resolvable, so
    * the capture degrades to Unknown and every consumer re-exchanges
    * (measured, Spark 4.1). With AQE off for just this one shuffle the
    * partitioning captures exactly, and AQE-on consumers then match the
    * other join side to it (the pinned side joins with zero Exchange).
    * The shuffle runs in a clone of the session ([[org.apache.spark.sql
    * .graft.PinnedStats.withAdaptiveOff]]), so the caller's session, and
    * queries running beside it, never see AQE off.
    *
    * The partition count is the session's shuffle partitions
    * (scale-configured, never a local constant); consumers' other sides
    * exchange to the same count. */
  def pinPartitioned(ds: DataFrame, keys: Seq[String]): DataFrame = {
    require(keys.nonEmpty, "at least one partitioning key")
    val n = ds.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    org.apache.spark.sql.graft.PinnedStats.withAdaptiveOff(ds) { d =>
      pin(d.repartition(n, keys.map(org.apache.spark.sql.functions.col): _*),
        eager = true)
    }
  }

  implicit final class PinOps[T](private val ds: Dataset[T])
      extends AnyVal {
    /** Eager lineage pin (materializes now). */
    def pin(): Dataset[T] = Checkpoints.pin(ds, eager = true)

    /** Lazy lineage pin — materializes on first consumption; use for
      * plan-build-time stage pins that must not fire jobs eagerly. */
    def pinLazy(): Dataset[T] = Checkpoints.pin(ds, eager = false)
  }
}
