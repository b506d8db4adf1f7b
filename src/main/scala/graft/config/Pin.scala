package graft.config

import org.apache.spark.sql.{DataFrame, Dataset}

/** Scale-aware lineage pin (round 18).
  *
  * The engine pins intermediate relations (`.pin()` /
  * `.pinLazy()`) to (a) truncate lineage so iterative loops and
  * multi-consumer plans don't re-run corpus-scale extraction, and
  * (b) stop a global output sort's range-sample pass from executing a
  * kernel pipeline twice. On `local[n]` and for audit-sized results the
  * right mechanism is `localCheckpoint`: executor-local storage, no
  * stable-storage round trip.
  *
  * FAULT TOLERANCE AT CLUSTER SCALE: `localCheckpoint` materializes to
  * executor-local block storage and CUTS the lineage — if an executor
  * is lost, its pinned partitions are unrecoverable and the job fails
  * (Spark recomputes from lineage, which no longer exists). That is an
  * acceptable trade for audit-sized intermediates on a benchmark box,
  * and the wrong one for corpus-scale pins (e.g. a full edge relation)
  * on a preemptible cluster. Deployments therefore flip ONE switch:
  *
  *   spark.graft.pin.reliable = true   (default false)
  *
  * and every pin routes through `Dataset.checkpoint` to the cluster's
  * checkpoint directory (`SparkContext.setCheckpointDir` must point at
  * HDFS/object storage — Spark itself fails loudly if unset), which
  * survives executor loss. The flag is read per call, so a session can
  * scope it around a fragile stage. Semantics are unchanged either
  * way: both forms materialize the same rows and truncate lineage;
  * `unpersist()` on the result remains valid, but it does not delete a
  * reliable checkpoint's files. Spark deletes those only when
  * `spark.cleaner.referenceTracking.cleanCheckpoints=true` (once the
  * checkpointed RDD is garbage-collected), so a deployment that sets
  * `spark.graft.pin.reliable=true` must set that too, or every pin's
  * files stay in the checkpoint directory.
  */
object Pin {
  private def reliable(df: Dataset[_]): Boolean =
    df.sparkSession.conf.get("spark.graft.pin.reliable", "false").toBoolean

  implicit final class PinOps(private val df: DataFrame) extends AnyVal {
    /** Eager pin: materialize now, truncate lineage. */
    def pin(): DataFrame =
      if (reliable(df)) df.checkpoint() else df.localCheckpoint()

    /** Lazy pin: truncate lineage, materialize on first use — for
      * sites where the pin (not eagerness) is the goal, e.g. when a
      * following driver collect is the natural materialization job. */
    def pinLazy(): DataFrame =
      if (reliable(df)) df.checkpoint(eager = false)
      else df.localCheckpoint(eager = false)
  }
}
