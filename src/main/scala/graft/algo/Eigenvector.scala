package graft.algo

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Eigenvector centrality by power iteration on A^T (in-edges accumulate),
  * graph-tool semantics (`centrality.py:42-55` calls `eigenvector(D)`):
  * x'(v) = sum_{(u,v) in E} x(u), L2-normalized each step, convergence when
  * the L1 delta < eps. Parallel edges count with multiplicity. When no cycle
  * feeds the iteration the norm reaches 0 and the vector degenerates to 0,
  * the reference's fixed point. Both variants are a [[PowerIteration]].
  */
object Eigenvector {

  def run(edges: DataFrame, eps: Double = 1e-6, maxIter: Int = 100): DataFrame =
    iterate(edges, maxIter, Some(eps))

  /** Fixed-iteration variant for the driver-checked oracle queries (the
    * DuckDB twin unrolls the identical normalize-each-step recurrence).
    */
  def runFixed(edges: DataFrame, iters: Int): DataFrame = iterate(edges, iters, None)

  private def iterate(edges: DataFrame, maxIter: Int, eps: Option[Double]): DataFrame = {
    val g = PowerIteration.setup(edges, lit(1.0), wsum = false)
    val init = g.vertices.withColumn("x", lit(1.0 / math.sqrt(g.n.toDouble)))
    PowerIteration.iterate("Eigenvector", g, init, maxIter, eps) { (b, x) =>
      PowerIteration.normalize(PowerIteration.step(g.links, b, x, col("x")))
    }.withColumnRenamed("x", "ev")
  }

  /** argmax vertex, lodcc tie-break "later wins" pinned as greatest vertex. */
  def maxVertex(ev: DataFrame): DataFrame =
    ev.agg(max_by(col("vertex"), struct(col("ev"), col("vertex"))).as("max_eigenvector_vertex"))

  /** Centrality-value distribution table — the Spark analog of lodcc's
    * eigenvector plot (`centrality.py:100-122`). Rounded to `precision`
    * decimals for deterministic, engine-portable bucketing; (ev, cnt).
    */
  def distribution(ev: DataFrame, precision: Int = 6): DataFrame =
    ev.groupBy(round(col("ev"), precision).as("ev"))
      .agg(count(lit(1)).as("cnt"))
}
