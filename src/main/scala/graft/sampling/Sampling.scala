package graft.sampling

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Sampling operators (SURVEY.md §2.8).
  *
  * SA1 edge sampling: lodcc samples n*k edges uniformly without replacement,
  * k in linspace(0.05, 0.5, 10) (`sample_edgelist_weighted.py:9-79`) —
  * `edges.sample(fraction, seed)` is the distributed equivalent; the rate
  * sweep draws once per edge from a salted hash, so its samples nest.
  *
  * SA2 vertex sampling: uniform vertex subset -> induced subgraph via two
  * semi-joins (`sample_vertices_data.graph.gt.gz.py:9-36`).
  */
object Sampling {

  /** SA1: uniform edge sample without replacement. */
  def edgeSample(edges: DataFrame, fraction: Double, seed: Long): DataFrame =
    edges.sample(withReplacement = false, fraction, seed)

  /** SA2: sample vertices at `fraction`, return the induced subgraph
    * (both endpoints sampled) via two left-semi joins.
    */
  def vertexInducedSample(edges: DataFrame, fraction: Double, seed: Long): DataFrame = {
    val vs = edges.select(col("src").as("v"))
      .union(edges.select(col("dst").as("v")))
      .distinct()
      .sample(withReplacement = false, fraction, seed)
    edges
      .join(vs.withColumnRenamed("v", "src"), Seq("src"), "left_semi")
      .join(vs.withColumnRenamed("v", "dst"), Seq("dst"), "left_semi")
      .select("src", "dst", "label")
  }

  /** The reference's sampling task sweeps k over linspace(0.05, 0.5, 10)
    * and writes one sampled edgelist per rate
    * (`sample_edgelist_weighted.py:66-79`, one thread per rate under a
    * Semaphore(10)). Distributed analog: ONE deterministic per-edge draw
    * (xxhash64 of the row, salted by `seed`) shared by every rate, so the
    * sweep is k1 < k2 => sample(k1) ⊆ sample(k2) (nested samples — the
    * statistically right way to compare rates) and each materialized rate
    * is a shuffle-free filtered scan.
    */
  def edgeSampleSweep(edges: DataFrame, rates: Seq[Double], seed: Long): Seq[(Double, DataFrame)] = {
    val cols = edges.columns.map(col).toIndexedSeq
    val draw = pmod(xxhash64(cols :+ lit(seed): _*), lit(1000000L)).cast("double") / 1000000.0
    val withDraw = edges.withColumn("__draw", draw)
    rates.map(k => k -> withDraw.where(col("__draw") < k).drop("__draw"))
  }
}
