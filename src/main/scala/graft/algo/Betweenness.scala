package graft.algo

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Pin

/** Source-sampled betweenness centrality (Brandes 2001) as level-synchronous
  * DataFrame passes — the sampled-centrality companion to
  * [[Bfs.multiSourceDistances]] (lodcc exposes centrality-family measures
  * per dataset, `graph/measures/` — betweenness is the standard one its
  * graph-tool backend offers that the engine lacked).
  *
  * Forward pass: one multi-source BFS ([[Fixpoint.levels]]) keyed (seed,
  * vertex) where each frontier row carries sigma = #shortest paths from its
  * seed — the level join aggregates predecessor sigmas map-side before the
  * exchange, so k seeds cost max-eccentricity rounds total, shuffle volume
  * bounded by the per-level DAG fan-out (never |V|^2).
  *
  * Backward pass: Brandes' dependency accumulation by DESCENDING level, a
  * [[Fixpoint.fixed]] loop. Every shortest-path predecessor of a dist-d
  * vertex sits at dist d-1, so delta(v) is complete after processing level
  * dist(v)+1 — maxDist joins total (2-4 on the dense bench graphs), each a
  * (seed, vertex) equi-join.
  *
  * bc(v) = sum over seeds s != v of delta_s(v); exact for the sampled seed
  * set (no approximation beyond the sampling itself).
  */
object Betweenness {

  /** Forward sigma pass: (seed, vertex, dist, sigma) over distinct directed
    * edges; sigma = #shortest seed->vertex paths (double: parity with the
    * oracle's division, and counts exceed Long on dense DAGs long before
    * they lose integer precision in a double). Its last level reached
    * nothing, so the greatest dist is `rounds - 1`.
    */
  private def sigmaForward(dedupedEdges: DataFrame, seeds: Seq[String]): Fixpoint.Result = {
    val spark = dedupedEdges.sparkSession
    import spark.implicits._
    val start = seeds.map(s => (s, s, 0L, 1.0)).toDF("seed", "vertex", "dist", "sigma")
    Fixpoint.levels("Betweenness forward", start) { (frontier, visited, level) =>
      dedupedEdges
        .join(frontier, dedupedEdges("src") === frontier("vertex"))
        .groupBy(col("seed"), col("dst").as("vertex"))
        .agg(sum("sigma").as("sigma"))
        .join(visited.select("seed", "vertex"), Seq("seed", "vertex"), "left_anti")
        .select(col("seed"), col("vertex"), lit(level.toLong).as("dist"), col("sigma"))
    }
  }

  /** Sampled betweenness from `seeds`: (vertex, betweenness, n_seeds)
    * where betweenness = sum over seeds of Brandes' delta and n_seeds =
    * #seeds whose BFS tree assigns the vertex a positive dependency.
    */
  def run(edges: DataFrame, seeds: Seq[String],
          assumeDistinct: Boolean = false): DataFrame = {
    // the sigma loop and the DAG build re-read these frames every level;
    // `assumeDistinct` skips re-deduplicating an edge set the
    // caller already deduplicated (dedup here is a perf guard, not a
    // semantic step — sigma counts are over the distinct edge set either
    // way, which is why mis-declaring would matter: only callers that KNOW
    // the set is distinct pass true)
    val de = Bfs.prepareAdj(edges, assumeDistinct)
    val forward = sigmaForward(de, seeds)
    val vis = forward.state
    val maxD = math.max(0, forward.rounds - 1)

    // shortest-path DAG edges per seed: (seed, v, w) with dist(w)=dist(v)+1;
    // explicit plan aliases — both sides derive from `vis`, so bare column
    // refs would be a self-join ambiguity
    val dv = vis.select(col("seed"), col("vertex").as("v"),
      col("dist").as("dv"), col("sigma").as("sigma_v")).as("l")
    val dw = vis.select(col("seed"), col("vertex").as("w"),
      col("dist").as("dw"), col("sigma").as("sigma_w")).as("r")
    // pinned once; the level loop reuses it maxD times
    val dag = Pin.pin(de.join(dv, de("src") === col("l.v"))
      .join(dw, col("r.seed") === col("l.seed") && de("dst") === col("r.w") &&
        col("r.dw") === col("l.dv") + 1)
      .select(col("l.seed"), col("v"), col("w"), col("sigma_v"), col("sigma_w"),
        col("dw")))._1

    val spark = edges.sparkSession
    import spark.implicits._
    // levels maxD .. 1; every 8th level is checkpointed eagerly, so a
    // high-diameter graph (chains, road networks) never accumulates an
    // unboundedly deep join chain inside one job (on the bench graphs maxD
    // is 3-4 and no eager level fires)
    val delta = Fixpoint.fixed("Betweenness backward",
        Seq.empty[(String, String, Double)].toDF("seed", "vertex", "delta"), maxD,
        eagerEvery = 8) { (delta, r) =>
      val d = maxD - r + 1
      // successors w at dist d with their (already final) deltas
      val wd = vis.where(col("dist") === d)
        .join(delta.withColumnRenamed("delta", "delta_w"),
          Seq("seed", "vertex"), "left")
        .select(col("seed"), col("vertex").as("w"),
          coalesce(col("delta_w"), lit(0.0)).as("delta_w"))
      val contrib = dag.where(col("dw") === d)
        .join(wd, Seq("seed", "w"))
        .groupBy(col("seed"), col("v").as("vertex"))
        .agg(sum(col("sigma_v") / col("sigma_w") * (lit(1.0) + col("delta_w")))
          .as("delta"))
      delta.union(contrib.select("seed", "vertex", "delta"))
    }
    delta.where(col("vertex") =!= col("seed"))
      .groupBy("vertex")
      .agg(round(sum("delta"), 6).as("betweenness"),
        count(lit(1)).cast("bigint").as("n_seeds"))
  }
}
