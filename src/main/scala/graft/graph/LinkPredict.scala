package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Neighborhood-overlap link prediction — common-neighbors, Jaccard, and
  * Adamic–Adar scores for vertex pairs at distance 2 (the standard KG
  * completion baselines; engine addition beyond lodcc's measure set, which
  * stops at per-vertex topology).
  *
  * Scale shape: candidate pairs are generated ONLY through shared
  * neighbors (the [[GraphTables.cappedPairs]] fold keyed on the center
  * vertex), never vertex x vertex. Centers with deg(w) > maxHubDeg are
  * dropped by the fold's cap (as are co-occurrence hub contexts), so a
  * center contributes at most maxHubDeg^2/2 pairs and the shuffle is
  * bounded at |E| * maxHubDeg. Dropping hub centers is the
  * standard semantic here too — a million-degree hub asserts almost
  * nothing about any one pair (its Adamic-Adar term 1/ln(deg) -> 0).
  * Degrees are undirected-distinct and small: the degree frames broadcast.
  */
object LinkPredict {

  /** (a, b, common_neighbors, adamic_adar, jaccard) for every unordered
    * pair sharing at least one non-hub neighbor; a < b lexicographically.
    */
  def scores(edges: DataFrame, maxHubDeg: Int): DataFrame = {
    require(maxHubDeg >= 2, "maxHubDeg must be >= 2")
    val simple = GraphTables.simpleUndirected(edges)
    val deg = GraphTables.simpleDegree(simple)
    // a center's folded neighbor array has size n = its degree
    val pairs = GraphTables.cappedPairs(simple.select(col("a").as("key"), col("b").as("item"))
        .union(simple.select(col("b").as("key"), col("a").as("item"))), maxHubDeg)
      .select(col("a"), col("b"), (lit(1.0) / log(col("n").cast("double"))).as("invlog"))
    pairs.groupBy("a", "b").agg(
        count(lit(1)).as("common_neighbors"),
        sum(col("invlog")).as("adamic_adar"))
      .join(broadcast(deg.select(col("v").as("a"), col("d").as("da"))), "a")
      .join(broadcast(deg.select(col("v").as("b"), col("d").as("db"))), "b")
      .withColumn("jaccard", col("common_neighbors").cast("double") /
        (col("da") + col("db") - col("common_neighbors")).cast("double"))
      .select("a", "b", "common_neighbors", "adamic_adar", "jaccard")
  }
}
