package graft.algo

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.graph.GraphTables

/** k-core decomposition by distributed iterative peeling — an engine
  * addition beyond lodcc's measure set (the natural next step after its
  * degree/h-index family: the k-core is the maximal subgraph where every
  * vertex keeps degree >= k, the standard "dense backbone" extract).
  *
  * Same loop discipline as [[ConnectedComponents]]: per round one degree
  * aggregation + two left-semi joins (all equi-keyed on the vertex — the
  * peel never shuffles anything wider than the surviving edge list),
  * `localCheckpoint` lineage truncation, and a convergence test that
  * needs only the edge COUNT: peeling strictly removes edges, so an
  * unchanged count is exactly the fixpoint.
  */
object KCore {

  /** Vertices of the k-core of the simple undirected view of `edges`
    * (parallel edges + self loops dropped), as (vertex, core_deg) with
    * core_deg = degree inside the converged core (>= k by construction).
    * Empty when the graph has no k-core.
    *
    * `maxIter` bounds the peel rounds. Rounds beyond convergence are
    * no-ops, so a replayed fixed-round oracle matches whenever its round
    * count >= the actual convergence round (the peel count is small for
    * dense graphs; pathological chain graphs can need O(n) rounds — at
    * that point raise maxIter or accept the partially-peeled superset,
    * which the early-exit makes explicit in the logs).
    */
  def kCore(edges: DataFrame, k: Int, maxIter: Int = 30): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val log = org.slf4j.LoggerFactory.getLogger("graft.algo.KCore")
    // eager localCheckpoint, not persist: the loop re-reads this frame every
    // round, and a row-format checkpoint read is a plain cached-block scan
    // (the columnar `persist` cache paid an encode + per-round decode and
    // pinned the round stages at the static shuffle partition count; the
    // checkpoint keeps the AQE-coalesced partitioning of the dedup)
    var cur = GraphTables.simpleUndirected(edges).localCheckpoint(true)
    var m = cur.count()
    var iter = 0
    var converged = m == 0L
    while (!converged && iter < maxIter) {
      val deg = GraphTables.simpleDegree(cur)
      // peel by the DROP set, not the keep set: dropping v ⟺ deg(v) < k is
      // the same predicate, but the drop side is the SMALL one after the
      // first rounds, so (a) the eager checkpoint that stops the two join
      // branches from recomputing the degree aggregation twice is cheap,
      // (b) AQE turns both anti-joins into broadcasts — the surviving edge
      // set is never reshuffled inside a round — and (c) `drop` empty IS
      // the fixpoint test (every degree-deficient vertex removes at least
      // one edge; no such vertex ⟺ the edge count stopped moving), so the
      // extra convergence count over `next` disappears.
      val drop = deg.where(col("d") < k).select("v").localCheckpoint(true)
      if (drop.isEmpty) converged = true
      else {
        val next = cur
          .join(drop.withColumnRenamed("v", "a"), Seq("a"), "left_anti")
          .join(drop.withColumnRenamed("v", "b"), Seq("b"), "left_anti")
          .select("a", "b")
          .localCheckpoint(false) // lazy; IterUtil says what it runs under AQE
        cur = next
        m = next.count()
        converged = m == 0L
      }
      iter += 1
    }
    if (!converged) log.warn(s"kCore(k=$k): not converged after $maxIter rounds")
    GraphTables.simpleDegree(cur).select(col("v").as("vertex"), col("d").as("core_deg"))
  }

  /** One-row summary of [[kCore]] (vertex/edge counts + degree stats) —
    * the driver-checked shape.
    */
  def summary(edges: DataFrame, k: Int, maxIter: Int = 30): DataFrame =
    kCore(edges, k, maxIter).agg(
      count(lit(1)).cast("bigint").as("core_vertices"),
      coalesce((sum("core_deg") / 2).cast("bigint"), lit(0L)).as("core_edges"),
      coalesce(min("core_deg").cast("bigint"), lit(0L)).as("min_core_deg"),
      coalesce(max("core_deg").cast("bigint"), lit(0L)).as("max_core_deg"),
      coalesce(sum("core_deg").cast("bigint"), lit(0L)).as("deg_checksum"))
}
