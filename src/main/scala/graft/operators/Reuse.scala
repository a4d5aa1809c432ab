package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** Multi-consumer reuse pins.
  *
  * Many operators materialize an intermediate frame once because several
  * plan branches consume it (a shingle frame feeding a signature pass and
  * two verify joins; a per-key aggregate feeding both a max and the
  * equality join back). Every such pin is a [[lineageCut]]: eager
  * `localCheckpoint` on a local master, upgraded automatically to a
  * RELIABLE `checkpoint()` when the session has a checkpoint dir
  * (`sc.setCheckpointDir`) — the cluster deployment shape, where the cut
  * blocks are replicated files and an executor loss costs nothing.
  *
  * There is deliberately no recomputable `persist` arm. It was built and
  * MEASURED in round 11, and it loses, for a mechanism worth recording:
  *
  *  - AQE's exchange/stage reuse does not cross cached-table scans. The
  *    LSH families hang a band self-join over one exchange; over a
  *    checkpointed scan the two sides canonicalize equal and the final
  *    plan carries `ReusedExchange` (band shuffle executes ONCE), while
  *    over `TableCacheQueryStage` scans nothing reuses and the same
  *    exchange executes once PER CONSUMER — measured on
  *    `dedup_minhash_estimate` as 3 ReusedExchanges → 0, shuffle-write
  *    784 KB → 2.3 MB (3.0×), and 1.3–1.7× shuffle growth across the
  *    winnow/DSIR/overlap families (`bench_results/ab_reuse_*.json`).
  *    At 100 TB that is an extra full corpus shuffle per consumer —
  *    strictly worse than the one materialization pass the persist
  *    saves.
  *  - Lazy persist is worse still: an unmaterialized InMemoryRelation
  *    reports its child's size ESTIMATE, so downstream joins planned
  *    against the pin flip broadcast → sort-merge.
  *
  * Some sites need severed lineage SEMANTICALLY, not just for speed:
  * iterative algorithms (connected components, BPE merge rounds) must
  * truncate a growing lineage or round N re-evaluates rounds 0..N-1.
  * Operators composed one after another must likewise cut between them,
  * or each one's diamond references multiply plan subtrees
  * combinatorially (measured in round 11: 37 min of driver CPU in
  * `TreeNode.generateTreeString` on an uncut six-operator chain).
  */
object Reuse {

  /** Severed-lineage pin: reliable `checkpoint` when the session has a
    * checkpoint dir (cluster deployment — replicated, block-loss
    * tolerant), executor-local `localCheckpoint` otherwise (local/bench —
    * nothing to write to, and block loss means the process died anyway).
    * Reliable-checkpoint files accumulate under the dir by Spark default;
    * [[graft.Service]] sets
    * `spark.cleaner.referenceTracking.cleanCheckpoints=true` so
    * out-of-scope pins are reclaimed (other long-running deployments
    * should do the same).
    *
    * The reliable path ignores `eager = false` and always materializes
    * through a transient persist: Spark writes reliable checkpoint files
    * in a SECOND job that re-runs the RDD lineage after the first action
    * unless the RDD's blocks are cached, so a bare lazy `checkpoint()`
    * would pay ~2x compute per cut — fatal for the iterative callers
    * (every ConnectedComponents/BPE round). persist → eager checkpoint
    * → unpersist makes the write job read blocks, then frees them; the
    * checkpoint files are the durable copy. `doCheckpoint` runs
    * synchronously at the end of the materializing count job, so the
    * files exist before the unpersist.
    */
  def lineageCut(df: DataFrame, eager: Boolean = true): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) {
      val pinned = df.persist(StorageLevel.MEMORY_AND_DISK)
      try pinned.checkpoint(eager = true)
      finally pinned.unpersist(blocking = false)
    } else df.localCheckpoint(eager)
}
