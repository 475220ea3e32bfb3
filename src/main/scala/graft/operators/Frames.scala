package graft.operators

import org.apache.spark.sql.DataFrame

/** Shared frame-materialization helper for iterative/multi-branch
  * plans: eager localCheckpoint behind a fresh-leaf frame (row RDD +
  * schema), so
  *  - a frame consumed by several branches or loop iterations is
  *    computed ONCE per invocation (never re-derived per consumer —
  *    at 100 TB each re-derivation is a full corpus pass), and
  *  - carried size estimates reset to leaf defaults. A bare
  *    `localCheckpoint` truncates lineage but PRESERVES the origin
  *    plan's estimated `sizeInBytes` (`LogicalRDD.fromDataset` carries
  *    the origin stats), and the size estimator multiplies child sizes
  *    at every join — so in a self-join loop ([[Components]]) the
  *    carried estimate SQUARES each round: by round ~15 it is a
  *    megabit-long BigInteger and ONE stats visit costs minutes of
  *    driver CPU (observed at the 100× scale probe: `dedup_keep` spent
  *    >10 min inside `SizeInBytesOnlyStatsPlanVisitor` while the
  *    cluster sat idle). The fresh leaf keeps per-round planning O(1).
  * Blocks are MEMORY_AND_DISK and freed by the ContextCleaner once
  * the invocation's result is unreachable; nothing persists across
  * invocations, so every bench/oracle sample still computes from the
  * parquet inputs.
  *
  * Why no explicit unpersist: the caller RETURNS a lazy plan that
  * still references the checkpointed RDD — the blocks are live until
  * the caller's caller finishes executing the result, a point no code
  * here can see. The volumes are GC-bounded by construction: each
  * invocation checkpoints O(signature/edge) frames (not the corpus —
  * every call site projects to key/signature columns first),
  * MEMORY_AND_DISK evicts to disk under heap pressure rather than
  * OOM, and heap pressure itself triggers the GC that lets the
  * ContextCleaner reap the previous invocation's now-unreachable
  * blocks. (The [[graft.operators.Components]] OOM recorded at
  * [[drop]] came from EAGERLY-consumed loop state that could and now
  * does unpersist deterministically mid-loop — a different lifetime:
  * those blocks were provably dead before the function returned.)
  */
object Frames {
  def materialize(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    spark.createDataFrame(df.rdd, df.schema).localCheckpoint(true)
  }

  /** Free a [[materialize]]d frame's checkpoint blocks NOW instead of
    * waiting for the ContextCleaner — for call sites that can prove
    * the frame is superseded, such as [[Components]]' retired rounds
    * (without the drop they linger for the SESSION: at the 100× probe
    * an 8 g driver carried every round of dedup_clusters + dedup_keep
    * and OOM'd two queries later). A checkpointed frame cannot be
    * recomputed once its blocks are gone, so callers must only drop
    * frames no consumer will touch again.
    */
  def drop(df: DataFrame): Unit =
    df.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking = false)
      case _ => ()
    }
}
