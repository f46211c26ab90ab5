package graft.algo

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.graph.GraphTables

/** Triangle counting + clustering coefficients (lodcc `clustering.py:8-26`,
  * graph-tool `global_clustering` / `local_clustering` on the undirected
  * view, `core_measures.py:74-76`).
  *
  * Convention (documented; pinned by fixture goldens): the graph is first
  * reduced to its *simple undirected* form (parallel edges + self loops
  * dropped). Triangles are counted with the degree-ordered "compact forward"
  * scheme: orient each edge from the lower-(degree, id) endpoint to the
  * higher one, join wedges at the low vertex, probe the oriented edge set —
  * every triangle is found exactly once and the wedge join is bounded by
  * sum(d_oriented^2) = O(m^1.5), the standard scalable plan.
  */
object Triangles {

  /** (a, b, lo, hi, dhi): each simple edge (a < b) oriented from its
    * lower-(degree, id) endpoint lo to hi, with dhi = deg(hi). */
  private[algo] def orient(simple: DataFrame): DataFrame = {
    val deg = GraphTables.simpleDegree(simple)
    val loFirst = struct(col("da"), col("a")) < struct(col("db"), col("b"))
    simple
      .join(deg.withColumnRenamed("v", "a").withColumnRenamed("d", "da"), "a")
      .join(deg.withColumnRenamed("v", "b").withColumnRenamed("d", "db"), "b")
      .select(col("a"), col("b"),
        when(loFirst, col("a")).otherwise(col("b")).as("lo"),
        when(loFirst, col("b")).otherwise(col("a")).as("hi"),
        when(loFirst, col("db")).otherwise(col("da")).as("dhi"))
  }

  /** (u, v, w): each triangle of an [[orient]]ed frame once — wedges
    * joined at lo under the (dhi, hi) order, closing edge semi-joined. */
  private[algo] def enumerate(oriented: DataFrame): DataFrame = {
    val e1 = oriented.select(col("lo").as("u"), col("hi").as("v"), col("dhi").as("dv"))
    val e2 = oriented.select(col("lo").as("u"), col("hi").as("w"), col("dhi").as("dw"))
    val wedges = e1.join(e2, Seq("u"))
      .where(struct(col("dv"), col("v")) < struct(col("dw"), col("w")))
    val probe = oriented.select(col("lo").as("v"), col("hi").as("w"))
    wedges.join(probe, Seq("v", "w"), "left_semi").select(col("u"), col("v"), col("w"))
  }

  /** (u, v, w) triangle triples over the simple undirected graph. */
  def triangles(edges: DataFrame): DataFrame =
    enumerate(orient(GraphTables.simpleUndirected(edges)))

  /** single row: (triangle_count, global_clustering, local_clustering)
    * over [[perVertex]]: T = Σt/3, global = 3T / Σ d(d-1)/2, local = the
    * mean of the per-vertex coefficients (vertex_average semantics). */
  def clustering(edges: DataFrame): DataFrame =
    perVertex(edges)
      .agg(
        coalesce((sum(col("triangles")) / 3).cast("bigint"), lit(0L)).as("triangle_count"),
        sum(col("degree") * (col("degree") - 1) / 2).as("triplets"),
        avg(col("local_clustering")).as("local_clustering"))
      .select(
        col("triangle_count"),
        (lit(3.0) * col("triangle_count") / col("triplets")).as("global_clustering"),
        col("local_clustering"))

  /** Per-vertex triangle table: (vertex, degree, triangles,
    * local_clustering) over the simple undirected graph — the full local
    * coefficient vector behind [[clustering]]'s vertex_average (lodcc
    * reports the mean; this exposes the distribution the plots bucket).
    * Same compact-forward core, one extra explode + groupBy on the
    * triangle list.
    */
  def perVertex(edges: DataFrame): DataFrame = {
    val pv = triangles(edges)
      .select(explode(array(col("u"), col("v"), col("w"))).as("v"))
      .groupBy("v").agg(count(lit(1)).as("t"))
    GraphTables.simpleDegree(GraphTables.simpleUndirected(edges)).join(pv, Seq("v"), "left_outer")
      .select(col("v").as("vertex"),
        col("d").cast("bigint").as("degree"),
        coalesce(col("t"), lit(0L)).cast("bigint").as("triangles"),
        when(col("d") >= 2,
          lit(2.0) * coalesce(col("t"), lit(0L)) / (col("d") * (col("d") - 1)))
          .otherwise(lit(0.0)).as("local_clustering"))
  }
}
