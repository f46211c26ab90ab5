package graft.algo

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.graph.GraphTables

/** k-truss decomposition (Cohen, "Trusses: cohesive subgraphs for social
  * network analysis", 2008 — public algorithm, original implementation):
  * the maximal subgraph in which every edge is supported by >= k-2
  * triangles WITHIN the subgraph — the edge-cohesion companion to the
  * vertex-peeling [[KCore]]. Computed by iterative support peeling:
  * per round, enumerate triangles of the surviving edge set with the
  * degree-ordered compact-forward scheme ([[Triangles.enumerate]] over a
  * [[Triangles.orient]]ed edge set, wedge volume O(m^1.5) regardless of
  * hub skew), count per-edge support, drop edges below k-2, repeat to
  * fixpoint in a [[Fixpoint.converge]] loop. Removal-only peeling makes
  * the edge COUNT a faithful convergence signature (equal count ⇔ equal
  * set). Per-round cost is one triangle enumeration + one (a, b)-keyed
  * aggregation + one equi-join.
  */
object KTruss {

  /** (a, b, support) over the k-truss of the simple undirected graph;
    * `support` is the edge's within-truss triangle count.
    */
  def run(edges: DataFrame, k: Int, maxRounds: Int = 30): DataFrame = {
    require(k >= 3, "k must be >= 3 (the 2-truss is the whole simple graph)")
    // Orient by (degree, id) and carry the oriented endpoints through the
    // peel: any FIXED total vertex order finds each triangle of the
    // surviving subgraph exactly once, so rounds can reuse an earlier
    // orientation — the per-round re-simplification, degree aggregation
    // and two orientation joins the generic [[Triangles.triangles]] entry
    // pays are hoisted out of the loop. The orientation is REFRESHED from
    // the CURRENT degrees, inside the round, whenever the edge set has at
    // least halved since it was last computed: correctness never needs the
    // refresh (the triangle set is orientation-invariant), but the
    // wedge-volume bound Σ d_lo(oriented)² = O(m^1.5) only holds for the
    // degrees of the graph being joined — a heavy peel leaves round-0 hubs
    // mis-oriented and the sf1 probe measured the wedge join 3-4x over
    // budget on the stale order. The halving rule is deterministic (a pure
    // function of the observed counts) and amortizes the re-orientation
    // joins to O(log m) total.
    var orientCnt = -1L // edge count when the orientation was computed
    val init = Triangles.orient(GraphTables.simpleUndirected(edges)).withColumn("support", lit(0L))
    Fixpoint.converge("KTruss", init, maxRounds) { (prev, m) =>
      val cnt = m.getLong(0)
      if (orientCnt < 0) orientCnt = cnt
      val cur =
        if (cnt * 2 > orientCnt) prev.drop("support")
        else { orientCnt = cnt; Triangles.orient(prev.select("a", "b")) }
      // triangle members are (deg, id)-oriented — normalize each of the 3
      // edges back to the id-ordered (a, b) key of the edge set
      val sup = Triangles.enumerate(cur).select(explode(array(
          struct(col("u").as("x"), col("v").as("y")),
          struct(col("u").as("x"), col("w").as("y")),
          struct(col("v").as("x"), col("w").as("y")))).as("e"))
        .select(least(col("e.x"), col("e.y")).as("a"),
          greatest(col("e.x"), col("e.y")).as("b"))
        .groupBy("a", "b").agg(count(lit(1)).as("support"))
      // when the set stops changing, these supports were computed over
      // exactly the final set — no extra pass needed
      cur.join(sup, Seq("a", "b")).where(col("support") >= k - 2)
    }.orFail.select(col("a"), col("b"), col("support"))
  }

  /** One-row truss summary, [[KCore.summary]]-shaped. */
  def summary(edges: DataFrame, k: Int, maxRounds: Int = 30): DataFrame = {
    val t = run(edges, k, maxRounds) // the loop's last checkpoint
    val es = t.agg(
      count(lit(1)).cast("bigint").as("truss_edges"),
      coalesce(min("support").cast("bigint"), lit(0L)).as("min_support"),
      coalesce(max("support").cast("bigint"), lit(0L)).as("max_support"),
      coalesce(sum("support").cast("bigint"), lit(0L)).as("support_checksum"))
    val vs = t.select(explode(array(col("a"), col("b"))).as("v"))
      .agg(count_distinct(col("v")).cast("bigint").as("truss_vertices"))
    es.crossJoin(vs)
  }
}
