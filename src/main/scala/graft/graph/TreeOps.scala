package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.Checkpoints

/** Recursive flatten of a parent-pointer forest (comment trees).
  *
  * The reference never walks the tree itself — praw pre-flattens Reddit
  * comments before landing (`reddit/lambda_function.py:56-59`) and keeps
  * only `parent_id` — but any consumer of the comment graph eventually
  * asks for depth and root attribution. A naive per-level loop is
  * O(maxDepth) self-joins; this is pointer doubling: each pass, every
  * node's known ancestor pointer jumps to THAT ancestor's pointer and the
  * walked distance accumulates, so a depth-D forest settles in ⌈log₂ D⌉
  * passes (a 1M-deep chain = 20 shuffles, not 1M).
  */
object TreeOps {

  /** Flatten `nodes` (one row per node: `idCol`, nullable `parentCol`;
    * roots have NULL parent) to (id, root_id, depth).
    *
    * Each pass is one hash self-join on the jump pointer, run through
    * [[Checkpoints.fixpoint]]. Fixpoint detection: a node's depth strictly
    * grows while its pointer is off-root, so the state is settled exactly
    * when sum(depth) stops moving — one aggregate per pass, which is also
    * the job that fills the pass's lazy checkpoint. A cycle (or depth
    * > 2^maxIters) never settles and throws after `maxIters` passes.
    * Takes no `checkpointDir`: materializations are executor-local.
    */
  def treeFlatten(nodes: DataFrame, idCol: String, parentCol: String,
                  maxIters: Int = 40): DataFrame = {
    val init = Checkpoints.materialize(nodes.select(
      col(idCol).as("id"),
      coalesce(col(parentCol), col(idCol)).as("jump"),
      when(col(parentCol).isNull, lit(0L)).otherwise(lit(1L)).as("depth")), None)
    var depthSum = sumDepth(init)
    val settled = Checkpoints.fixpoint("treeFlatten", init, maxIters, None) { state =>
      val t = state.select(col("id").as("t_id"), col("jump").as("t_jump"),
        col("depth").as("t_depth"))
      // LEFT join: a jump normally resolves to some node's row (roots
      // self-point with depth 0, so settled rows no-op), but scraped data
      // has DANGLING parents — comments whose parent never landed. Those
      // settle where they are (root_id = the missing ancestor's id) instead
      // of silently vanishing from the output, as an inner join would make
      // them.
      state.join(t, col("jump") === col("t_id"), "left")
        .select(col("id"),
          coalesce(col("t_jump"), col("jump")).as("jump"),
          (col("depth") + coalesce(col("t_depth"), lit(0L))).as("depth"))
    } { (_, next) =>
      val s = sumDepth(next)
      val same = s == depthSum
      depthSum = s
      same
    }
    settled.select(col("id"), col("jump").as("root_id"), col("depth"))
  }

  private def sumDepth(state: DataFrame): Long =
    state.agg(coalesce(sum(col("depth")), lit(0L))).collect()(0).getLong(0)
}
