package graft.core

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.storage.StorageLevel

/** The materialization boundary used by every driver-coordinated
  * operator (the ordered kernel's sorted copy, shared sub-plans, feedback
  * rounds).
  *
  * Default is local checkpointing: executor-local, no configuration —
  * the right trade on `local[*]` and for short jobs. Its weakness at
  * cluster scale is real: localCheckpoint blocks die with their executor
  * AND lineage is truncated, so an executor loss mid-job is
  * unrecoverable. For 100-TB runs set
  *
  *  - `spark.sparkContext.setCheckpointDir(<hdfs path>)`, and
  *  - `spark.conf.set("spark.graft.reliableCheckpoint", "true")`
  *
  * and every materialization in the library switches to the reliable
  * checkpoint (stored on the checkpoint FS, survives executor loss).
  * [[checkpoint]] is eager: the Dataset is computed before it returns.
  * [[checkpointRdd]] only marks an RDD; the first job over it fills the
  * checkpoint, so a caller can make its own first pass do that work.
  * Both modes give identical operator semantics and plan shapes —
  * MaterializeSpec runs the same operators under both.
  */
object Materialize {

  val ReliableKey = "spark.graft.reliableCheckpoint"

  def checkpoint[T](ds: Dataset[T]): Dataset[T] =
    if (reliable(ds.sparkSession)) ds.checkpoint() else ds.localCheckpoint()

  /** Marks `rdd` for checkpointing (local or reliable, as `spark`'s flag
    * says) before its first job, which then computes and stores it once.
    * Under the reliable flag the RDD is also persisted, so writing the
    * checkpoint files reads the stored blocks instead of computing them
    * again.
    */
  def checkpointRdd[T](spark: SparkSession, rdd: RDD[T]): RDD[T] = {
    if (reliable(spark)) {
      rdd.persist(StorageLevel.MEMORY_AND_DISK)
      rdd.checkpoint()
    } else rdd.localCheckpoint()
    rdd
  }

  private def reliable(spark: SparkSession): Boolean =
    spark.conf.getOption(ReliableKey).contains("true") && {
      // misconfiguration must not silently downgrade to the non-reliable
      // path — that is the exact failure mode the flag exists to prevent
      require(spark.sparkContext.getCheckpointDir.isDefined,
        s"$ReliableKey=true but no checkpoint dir: call sc.setCheckpointDir first")
      true
    }
}
