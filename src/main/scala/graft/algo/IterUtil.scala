package graft.algo

import org.apache.spark.sql.DataFrame

/** Pins for frames that are read again and again: set-up tables of the
  * iterative kernels, and the shared inputs of `graph`, `canon` and
  * `queries`. Why these are eager row-format checkpoints rather than
  * columnar caches, and what a lazy checkpoint runs under AQE, is written
  * once in [[Fixpoint]]; the loops themselves go through it.
  */
private[graft] object IterUtil {

  /** Narrow `coalesce` of a materialized frame of `n` rows to
    * `max(1, min(current, n / rowsPerPartition + 1))` partitions: one task
    * per stage for a small frame, about `rowsPerPartition` rows each for a
    * large one, never more partitions than it has. No shuffle, no copy.
    */
  def coalesced(df: DataFrame, n: Long, rowsPerPartition: Long): DataFrame = {
    val cur = df.rdd.getNumPartitions
    val p = math.max(1L, math.min(cur.toLong, n / rowsPerPartition + 1L)).toInt
    if (p < cur) df.coalesce(p) else df
  }

  /** Eagerly checkpoint `df`, count it, and [[coalesced]] the blocks.
    * Returns the pinned frame and its row count.
    */
  def pinCounted(df: DataFrame,
                 rowsPerPartition: Long = 4000000L): (DataFrame, Long) = {
    val ck = df.localCheckpoint(true)
    val n = ck.count()
    (coalesced(ck, n, rowsPerPartition), n)
  }

  /** [[pinCounted]] when the caller does not need the count. */
  def pin(df: DataFrame, rowsPerPartition: Long = 4000000L): DataFrame =
    pinCounted(df, rowsPerPartition)._1

  /** The columnar-cache twin of [[pinCounted]], for frames that WANT
    * `cache()` semantics (plan-canonical lookup lets a later identical
    * query instance reuse the materialized blocks) but must not pin the
    * static shuffle partition count on every consumer: cache, materialize
    * EAGERLY (a cold cache materializes independently inside every
    * concurrent AQE broadcast-subtree job otherwise), and coalesce.
    */
  def cachePinned(df: DataFrame,
                  rowsPerPartition: Long = 4000000L): (DataFrame, Long) = {
    val c = df.cache()
    val n = c.count()
    (coalesced(c, n, rowsPerPartition), n)
  }
}
