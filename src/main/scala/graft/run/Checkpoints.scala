package graft.run

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** The `localCheckpoint` helpers shared by every owner of one: the
  * eager union that keeps a chain of appends flat, the rolling fold
  * that also frees the checkpoint it replaces, and the free itself.
  */
object Checkpoints {

  /** Drop the block-manager blocks behind a `localCheckpoint`ed frame,
    * or behind every checkpoint a frame reads. Only call once nothing
    * can recompute from it: a local checkpoint truncates lineage, so
    * freed blocks are gone for good. */
  def free(df: DataFrame): Unit =
    // Traverse, don't pattern-match the root: callers also hand in
    // projections over the checkpointed LogicalRDD.
    df.queryExecution.logical.foreach {
      case l: LogicalRDD => l.rdd.unpersist(blocking = false)
      case _ => ()
    }

  /** `a ∪ b` by name, checkpointed eagerly so a chain of appends keeps
    * a flat plan. Frees neither input: both may still be shared. */
  def union(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b).localCheckpoint()

  /** One step of a rolling union: `acc ∪ piece` via [[union]], then
    * `acc`'s checkpoint is freed, so a fold over any number of pieces
    * holds one accumulator. A null `acc` starts the fold with `piece`
    * itself. `piece` is never freed (its caller may still read it);
    * `acc` must have no reader left but the fold. */
  def fold(acc: DataFrame, piece: DataFrame): DataFrame =
    if (acc == null) piece
    else {
      val next = union(acc, piece)
      free(acc)
      next
    }
}
