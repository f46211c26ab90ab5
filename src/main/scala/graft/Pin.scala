package graft

import org.apache.spark.sql.{Column, DataFrame, Observation, Row}
import org.apache.spark.sql.functions.{count, lit}
import org.apache.spark.sql.graft.Bridge

/** The one materialization policy of the engine, and the only place that
  * checkpoints a frame.
  *
  * When to pin:
  *  - pin a frame that more than one action reads, or that every round of
  *    a loop reads;
  *  - do not pin a frame that only the branches of one action read through
  *    the same exchange: Spark runs the identical exchange once and reuses
  *    it (`ReusedExchange`). The exchange is identical only when every
  *    branch reads the same columns under the same filters; column pruning
  *    or a pushed filter gives a branch its own exchange and its own pass
  *    over the source, so build such a frame as one branch
  *    (`ops.Dedup.minhashLshCandidatesArrays`);
  *  - do not pin a frame that is read once.
  *
  * How: a pin is an eager `localCheckpoint`, never `cache()` or `persist`.
  * A checkpoint stores plain row blocks (no columnar decode per read) and
  * keeps the AQE-coalesced partitioning, where a cached plan keeps the
  * static `spark.sql.shuffle.partitions` on every stage that reads it
  * (`spark.sql.optimizer.canChangeCachedPlanOutputPartitioning` is false).
  * A cold cache also materializes once inside every concurrent AQE
  * broadcast-subtree job of the action that first reads it. The pin's row
  * count, and any metric Columns, are observed in the checkpoint's own job,
  * so they cost no job of their own.
  *
  * Release: a checkpoint is never registered in the CacheManager, so no
  * caller holds a handle or calls `unpersist`. The ContextCleaner frees its
  * blocks once its frame is unreachable. The early release is
  * [[Bridge.releaseCheckpoints]], which `algo.Fixpoint.converge` calls for
  * each superseded round and `algo.ConnectedComponents` for its input pin.
  *
  * Under AQE (on in every project session) a lazy checkpoint truncates the
  * plan but defers no work: it runs each shuffle and broadcast stage of the
  * frame as a job of its own at once, and defers only the final stage.
  * Lazy versus eager therefore saves no jobs; [[cut]] is only for cutting
  * lineage inside a round.
  */
private[graft] object Pin {

  /** The default row budget of a pinned frame's partitions. */
  val RowsPerPartition = 4000000L

  /** Eagerly checkpoints `df`. Returns the pinned frame and the row observed
    * by the checkpoint's job: `n`, the row count, then `metrics`. With
    * `budget`, the frame is [[coalesced]] to that many rows per partition;
    * `None` keeps its partitioning (callers that read partition ids, or
    * that hand the frame to work that wants its parallelism).
    */
  def pin(df: DataFrame, metrics: Seq[Column] = Nil,
          budget: Option[Long] = Some(RowsPerPartition)): (DataFrame, Row) = {
    val obs = Observation()
    val ck = df.observe(obs, count(lit(1)).as("n"), metrics: _*).localCheckpoint(true)
    val m = Bridge.observedRow(obs)
    (budget.fold(ck)(coalesced(ck, m.getLong(0), _)), m)
  }

  /** A lazy checkpoint: cuts `df`'s lineage inside a round, computed by the
    * job that next reads it.
    */
  def cut(df: DataFrame): DataFrame = df.localCheckpoint(false)

  /** Narrow `coalesce` of a materialized frame of `n` rows to
    * `max(1, min(current, n / rowsPerPartition + 1))` partitions: one task
    * per stage for a small frame, about `rowsPerPartition` rows each for a
    * large one, never more partitions than it has. No shuffle, no copy.
    * A one-partition frame is coalesced too: only `coalesce(1)` reports a
    * single partition, so a later aggregate or join on other keys adds no
    * exchange and no job.
    */
  def coalesced(df: DataFrame, n: Long, rowsPerPartition: Long): DataFrame = {
    val cur = df.rdd.getNumPartitions
    val p = math.max(1L, math.min(cur.toLong, n / rowsPerPartition + 1L)).toInt
    if (p < cur || p == 1) df.coalesce(p) else df
  }
}
