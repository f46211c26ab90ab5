package graft.algo

import org.apache.spark.sql.DataFrame

/** Shared discipline for frames an iterative kernel re-reads every round.
  *
  * `localCheckpoint(true)` instead of a columnar `persist`: the checkpoint
  * stores plain row blocks (no per-round columnar decode) and materializes
  * through AQE, so its partitioning is the coalesced one rather than the
  * static `spark.sql.shuffle.partitions` the cached-plan path pins
  * (`spark.sql.optimizer.canChangeCachedPlanOutputPartitioning` defaults
  * to false — a `persist` of a shuffle at 128 partitions makes EVERY
  * per-round stage that reads it schedule 128 tasks regardless of size).
  *
  * [[pinCounted]] additionally coalesces the cached blocks to a partition
  * count derived from the MEASURED row count — scale-adaptive by
  * construction: a 70-vertex rank vector iterates as one task per stage,
  * a 10^9-vertex one keeps hundreds of partitions (~`rowsPerPartition`
  * rows each, on the order of 100 MB+ per partition for typical row
  * widths — guide §2.2's "fewer, larger partitions" applied to the loop
  * state). `coalesce` is a narrow wrapper over the checkpointed blocks —
  * no extra shuffle, no second copy.
  *
  * Under AQE (on in every project session) a LAZY `localCheckpoint(false)`
  * truncates lineage but defers no work: it runs each shuffle and broadcast
  * stage of the frame as a job of its own at once, so a loop of lazy
  * checkpoints is never one job per round or per loop.
  */
private[graft] object IterUtil {

  /** Eagerly checkpoint `df`, count it, and coalesce the cached blocks to
    * `ceil(n / rowsPerPartition)` partitions (never more than it already
    * has). Returns the pinned frame and its row count.
    */
  def pinCounted(df: DataFrame,
                 rowsPerPartition: Long = 4000000L): (DataFrame, Long) = {
    val ck = df.localCheckpoint(true)
    val n = ck.count()
    val cur = ck.rdd.getNumPartitions
    val p = math.max(1L, math.min(cur.toLong, n / rowsPerPartition + 1L)).toInt
    (if (p < cur) ck.coalesce(p) else ck, n)
  }

  /** [[pinCounted]] when the caller does not need the count. */
  def pin(df: DataFrame, rowsPerPartition: Long = 4000000L): DataFrame =
    pinCounted(df, rowsPerPartition)._1

  /** The columnar-cache twin of [[pinCounted]], for frames that WANT
    * `cache()` semantics (plan-canonical lookup lets a later identical
    * query instance reuse the materialized blocks) but must not pin the
    * static shuffle partition count on every consumer: cache, materialize
    * EAGERLY (a cold cache materializes independently inside every
    * concurrent AQE broadcast-subtree job otherwise), and coalesce the
    * cached blocks to a size-derived count so downstream stages stop
    * scheduling `spark.sql.shuffle.partitions` near-empty tasks per scan.
    */
  def cachePinned(df: DataFrame,
                  rowsPerPartition: Long = 4000000L): (DataFrame, Long) = {
    val c = df.cache()
    val n = c.count()
    val cur = c.rdd.getNumPartitions
    val p = math.max(1L, math.min(cur.toLong, n / rowsPerPartition + 1L)).toInt
    (if (p < cur) c.coalesce(p) else c, n)
  }
}
