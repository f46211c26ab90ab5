package graft.algo

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** All-pairs reachability with min-hop distances via path doubling —
  * the RDFS-style closure materializer (subClassOf / subPropertyOf
  * hierarchies, category trees) for KG construction.
  *
  * After round k every pair whose shortest path is <= 2^k is present at its
  * exact distance, so a depth-D hierarchy closes in O(log D) self-joins
  * where a frontier fixpoint pays O(D) rounds — the difference between 8
  * and 200 shuffles on a 200-deep chain. Per-round shuffle volume is
  * bounded by |closure| x avg out-fanout; the min() re-aggregation keeps
  * the frame at one row per reachable pair. Convergence = (row count,
  * dist sum) stable; both are read by the one aggregate per round that
  * materializes the round's checkpoint.
  */
object TransitiveClosure {

  /** (src, dst, dist) for every reachable ordered pair with src != dst;
    * dist = min #hops. Throws if `maxRounds` (supports depth 2^maxRounds)
    * is exhausted before convergence rather than returning a partial
    * closure.
    */
  def minDist(edges: DataFrame, maxRounds: Int = 20): DataFrame = {
    // per-round state rides the IterUtil partition budget: the lazy
    // checkpoint inherits the static shuffle partition count, so on a
    // small hierarchy every round's join + re-aggregation scheduled 128
    // near-empty tasks per side; coalescing to a size-derived count
    // (capped at the current count — closures that outgrow one partition
    // keep their parallelism) cuts the per-round overhead to one task
    def pinned(df: DataFrame, n: Long): DataFrame = {
      val cur = df.rdd.getNumPartitions
      val p = math.max(1L, math.min(cur.toLong, n / 4000000L + 1L)).toInt
      if (p < cur) df.coalesce(p) else df
    }
    var r = edges.select(col("src"), col("dst"), lit(1L).as("dist"))
      .where(col("src") =!= col("dst"))
      .groupBy("src", "dst").agg(min("dist").as("dist"))
      .localCheckpoint(false)
    def state(df: DataFrame): (Long, Long) = {
      val row = df.agg(count(lit(1)), coalesce(sum("dist"), lit(0L))).head()
      (row.getLong(0), row.getLong(1))
    }
    var cur = state(r) // materializes the checkpoint
    r = pinned(r, cur._1)
    var prev = (-1L, -1L)
    var rounds = 0
    while (cur != prev) {
      if (rounds >= maxRounds)
        throw new IllegalStateException(
          s"transitive closure did not converge in $maxRounds doubling rounds")
      rounds += 1
      val a = r.select(col("src"), col("dst").as("mid"), col("dist").as("d1"))
      val b = r.select(col("src").as("mid"), col("dst"), col("dist").as("d2"))
      val hop = a.join(b, "mid")
        .select(col("src"), col("dst"), (col("d1") + col("d2")).as("dist"))
        .where(col("src") =!= col("dst"))
      val next = r.union(hop)
        .groupBy("src", "dst").agg(min("dist").as("dist"))
        .localCheckpoint(false)
      prev = cur
      cur = state(next)
      r = pinned(next, cur._1)
    }
    r
  }
}
