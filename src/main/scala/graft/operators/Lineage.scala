package graft.operators

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Dataset, GraftPlanBridge}
import org.apache.spark.sql.execution.LogicalRDD

/** Storage hygiene for eager local checkpoints (ADVICE r11):
  * `Dataset.unpersist()` on a localCheckpoint-ed frame is a no-op — the
  * cache manager does not track the checkpoint's LogicalRDD blocks — so
  * per-round frames accumulated for the whole loop despite the unpersist
  * calls. The blocks are freed by unpersisting the BACKING RDD itself,
  * through GraftPlanBridge.unpersist, which skips RDD.unpersist's
  * per-checkpoint WARN.
  *
  * Only safe once nothing reads the frame any more: a local
  * checkpoint's cached blocks ARE its data, unrecomputable once dropped.
  * [[Fixpoint]] is the one caller, and frees only frames it cut.
  */
object Lineage {

  /** The checkpoint RDDs a frame's plan reads. */
  def rdds(df: Dataset[_]): Seq[RDD[_]] =
    df.queryExecution.analyzed.collectLeaves().collect {
      case lr: LogicalRDD => lr.rdd
    }

  def free(df: Dataset[_]): Unit =
    rdds(df).foreach(GraftPlanBridge.unpersist(_, blocking = false))
}
