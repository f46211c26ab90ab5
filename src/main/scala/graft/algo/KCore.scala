package graft.algo

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.graph.GraphTables

/** k-core decomposition by distributed iterative peeling — an engine
  * addition beyond lodcc's measure set (the natural next step after its
  * degree/h-index family: the k-core is the maximal subgraph where every
  * vertex keeps degree >= k, the standard "dense backbone" extract).
  *
  * Each peel round is one degree aggregation + two anti-joins, all
  * equi-keyed on the vertex (the peel never shuffles anything wider than
  * the surviving edge list), in a [[Fixpoint.converge]] loop whose stop
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
    * dense graphs; pathological chain graphs can need O(n) rounds). A peel
    * that has not converged after `maxIter` rounds is a superset of the
    * core, not the core, so it throws.
    */
  def kCore(edges: DataFrame, k: Int, maxIter: Int = 30): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val core = Fixpoint.converge("KCore", GraphTables.simpleUndirected(edges), maxIter) {
      (cur, _) =>
        // peel by the DROP set, not the keep set: dropping v ⟺ deg(v) < k
        // is the same predicate, but the drop side is the SMALL one after
        // the first rounds, so AQE turns both anti-joins into broadcasts —
        // the surviving edge set is never reshuffled inside a round
        val drop = GraphTables.simpleDegree(cur).where(col("d") < k).select("v")
        cur
          .join(drop.withColumnRenamed("v", "a"), Seq("a"), "left_anti")
          .join(drop.withColumnRenamed("v", "b"), Seq("b"), "left_anti")
          .select("a", "b")
    }.orFail
    GraphTables.simpleDegree(core).select(col("v").as("vertex"), col("d").as("core_deg"))
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
