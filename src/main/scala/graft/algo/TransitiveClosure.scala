package graft.algo

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Pin

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
  * dist sum) stable, observed in the [[Fixpoint.converge]] round's job.
  */
object TransitiveClosure {

  /** (src, dst, dist) for every reachable ordered pair with src != dst;
    * dist = min #hops. Throws if `maxRounds` (supports depth 2^maxRounds)
    * is exhausted before convergence rather than returning a partial
    * closure.
    */
  def minDist(edges: DataFrame, maxRounds: Int = 20): DataFrame = {
    // the state is coalesced at Pin's 4M-row budget: on a small
    // hierarchy every round's join + re-aggregation otherwise scheduled
    // 128 near-empty tasks per side
    val init = edges.select(col("src"), col("dst"), lit(1L).as("dist"))
      .where(col("src") =!= col("dst"))
      .groupBy("src", "dst").agg(min("dist").as("dist"))
    Fixpoint.converge("TC", init, maxRounds, Seq(coalesce(sum("dist"), lit(0L)).as("s")),
        Some(Pin.RowsPerPartition)) { (r, _) =>
      val a = r.select(col("src"), col("dst").as("mid"), col("dist").as("d1"))
      val b = r.select(col("src").as("mid"), col("dst"), col("dist").as("d2"))
      val hop = a.join(b, "mid")
        .select(col("src"), col("dst"), (col("d1") + col("d2")).as("dist"))
        .where(col("src") =!= col("dst"))
      r.union(hop).groupBy("src", "dst").agg(min("dist").as("dist"))
    }.orFail
  }
}
