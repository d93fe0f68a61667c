package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** Fault-tolerant materialization of reused candidate-generation
  * intermediates (shingle tables, MinHash/SimHash signature tables,
  * LSH-signed embeddings, IVF inverted lists).
  *
  * These DataFrames are consumed 2-3 times inside one query plan;
  * without materialization each consumer re-runs the upstream pipeline
  * (and `localCheckpoint` on a SIBLING does not help — it cuts only that
  * DataFrame's lineage). Round 2 used `localCheckpoint(true)`, which is
  * eager and cuts lineage but PINS blocks to executors with no fault
  * tolerance: at the 100-TB design point the shingle table is
  * corpus-sized, a single lost executor kills the whole query, and the
  * eager materialization doubles the memory/disk high-water mark.
  *
  * The default is lazy `persist(DISK_ONLY)`: blocks spill to executor
  * local disk, lineage is RETAINED so a lost block recomputes from its
  * parents (fault-tolerant), the blocks replicate nothing and never
  * compete with execution memory, and Spark's ContextCleaner unpersists
  * them when the plan is garbage-collected (long-lived sessions can also
  * `spark.catalog.clearCache()` between jobs, as Verify/Bench do).
  *
  * Modes via the session conf `spark.graft.materialize`:
  *  - `persist` (default): DISK_ONLY persist, recompute-on-loss.
  *  - `checkpoint`: reliable `checkpoint()` to the SparkContext
  *    checkpoint dir (must be set to HDFS/object storage on a real
  *    cluster) — survives executor loss WITHOUT recompute; the setting
  *    for multi-TB intermediates whose lineage is itself expensive.
  *
  * The one `localCheckpoint` on a candidate path is the K-row
  * IVF centroid table ([[graft.operators.SimilarityOps.ivfIndex]]):
  * eagerly cutting the lineage of a 16-row table is the right call
  * there (losing it is free to recompute, and the cut stops every
  * consumer from re-running the full Lloyd corpus pass).
  */
object Materialize {
  def apply(df: DataFrame): DataFrame =
    df.sparkSession.conf.get("spark.graft.materialize", "persist") match {
      case "checkpoint" => df.checkpoint(eager = true)
      case _            => df.persist(StorageLevel.DISK_ONLY)
    }

  /** Materialization for ITERATIVE loop state (connected-components
    * labels and the like), where `persist` is NOT enough: persist cuts
    * physical recomputation but keeps the logical plan, and a loop whose
    * round references the previous round's frame k times grows the plan
    * k^rounds — the analyzer itself becomes the bottleneck (observed: a
    * 2 GB plan string by round ~15). Lineage must be CUT every round:
    *
    *  - with `spark.graft.materialize=checkpoint` (the real-cluster
    *    setting; requires `sparkContext.setCheckpointDir` to reliable
    *    storage) rounds checkpoint durably — executor loss mid-loop
    *    replays nothing.
    *  - otherwise `localCheckpoint(eager)`: the right default because
    *    loop state is O(distinct nodes in the PAIR list) — orders of
    *    magnitude smaller than the corpus (this is not the fenced
    *    corpus-sized-intermediate case), and the loop re-runs from its
    *    input on executor loss.
    */
  def loopState(df: DataFrame): DataFrame =
    df.sparkSession.conf.get("spark.graft.materialize", "persist") match {
      case "checkpoint" => df.checkpoint(eager = true)
      case _            => df.localCheckpoint(eager = true)
    }
}
