package graft.algo

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** PageRank with graph-tool's conventions (`centrality.py:81-98` calls
  * `graph_tool.centrality.pagerank`): the *unnormalized* fixpoint
  * PR(v) = (1 - d) + d * sum_{(u,v) in E} PR(u) / outdeg(u),
  * damping d = 0.85, L1 convergence epsilon = 1e-6, parallel edges counted
  * with multiplicity, dangling vertices contribute nothing.
  *
  * Every variant is a [[PowerIteration]] over a pinned (src, dst, w, wsum)
  * link table: one shuffle join per iteration.
  */
object PageRank {

  def run(edges: DataFrame, damping: Double = 0.85, eps: Double = 1e-6,
          maxIter: Int = 100): DataFrame =
    iterate(edges, lit(1.0), lit(1.0 - damping), damping, maxIter, Some(eps))

  /** Fixed-iteration variant (deterministic, no convergence action) — used
    * by the driver-checked oracle queries where DuckDB runs the identical
    * unrolled recurrence.
    */
  def runFixed(edges: DataFrame, iters: Int, damping: Double = 0.85): DataFrame =
    iterate(edges, lit(1.0), lit(1.0 - damping), damping, iters, None)

  /** Edge-weighted PageRank, fixed iterations: contributions distribute
    * proportionally to edge weight,
    *   PR(v) = (1 - d) + d * Σ_{(u,v,w)} PR(u) · w / wsum(u),
    * the confidence-weighted centrality for a FUSED KG (compose with
    * [[graft.graph.Fusion.tripleFusion]]'s noisy-or confidences so
    * well-attested facts carry more rank mass than single-source ones).
    * Non-positive weights are excluded (they would invert or zero the
    * distribution). With integer multiplicities as weights this is
    * EXACTLY [[runFixed]] on the expanded multigraph — the cross-check
    * GraphAlgoSpec pins.
    */
  def runWeightedFixed(edges: DataFrame, wCol: String, iters: Int,
                       damping: Double = 0.85): DataFrame =
    iterate(edges, col(wCol), lit(1.0 - damping), damping, iters, None)

  /** Personalized PageRank, fixed iterations: the teleport mass lands only
    * on `seeds` (uniformly), so ranks measure importance RELATIVE to the
    * seed set — the standard seeded-entity relevance kernel for KG
    * construction (rank neighborhoods of known-good entities). Same
    * unnormalized convention as [[runFixed]]:
    *   PPR(v) = (1 - d) * p(v) + d * Σ_{(u,v)} PPR(u) / outdeg(u),
    * p(v) = 1/|seeds| on seeds, 0 elsewhere. The base vector is a column
    * expression, never a driver-side map.
    */
  def runPersonalizedFixed(edges: DataFrame, seeds: Seq[String], iters: Int,
                           damping: Double = 0.85): DataFrame = {
    require(seeds.nonEmpty, "seeds must be non-empty")
    val base = when(col("vertex").isInCollection(seeds),
      lit((1.0 - damping) / seeds.size)).otherwise(lit(0.0))
    iterate(edges, lit(1.0), base, damping, iters, None)
  }

  /** PR(v) = base(v) + d * Σ PR(u) · w / wsum(u) from PR = base: the
    * unweighted variants are w = 1.0, bit-identical to PR(u) / outdeg(u).
    */
  private def iterate(edges: DataFrame, w: Column, base: Column, damping: Double,
                      maxIter: Int, eps: Option[Double]): DataFrame = {
    val g = PowerIteration.setup(edges, w, wsum = true)
    val init = g.vertices.select(col("vertex"), base.as("x"))
    PowerIteration.iterate("PageRank", g, init, maxIter, eps) { (b, x) =>
      PowerIteration.step(g.links, b, x, col("x") * col("w") / col("wsum"))
        .withColumn("x", base + lit(damping) * col("s")).drop("s")
    }.withColumnRenamed("x", "rank")
  }

  /** (max_pagerank, max_pagerank_vertex) — argmax, ties resolved like lodcc's
    * `>=` scan (`centrality.py:88-98`: later vertex wins) pinned here as
    * greatest vertex id among ties.
    */
  def maxRank(ranks: DataFrame): DataFrame =
    ranks.agg(
      max(col("rank")).as("max_pagerank"),
      max_by(col("vertex"), struct(col("rank"), col("vertex"))).as("max_pagerank_vertex"))

  /** Rank-value distribution table — the Spark analog of lodcc's pagerank
    * plot (`centrality.py:57-79` buckets the rank vector for the plot file).
    * Values are rounded to `precision` decimals first so the bucketing is
    * deterministic and engine-portable; output is (rank, cnt), at most
    * |distinct rounded ranks| rows after one distributed groupBy.
    */
  def distribution(ranks: DataFrame, precision: Int = 6): DataFrame =
    ranks.groupBy(round(col("rank"), precision).as("rank"))
      .agg(count(lit(1)).as("cnt"))
}
