package graft.algo

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Pin

/** Frontier-join BFS and the pseudo-diameter double sweep
  * (lodcc `edge_based.py:15-32` via graph-tool `pseudo_diameter`).
  *
  * Each BFS level is one hash join frontier-vs-edges plus an anti-join
  * against the visited set, a [[Fixpoint.levels]] round. Directed traversal
  * (graph-tool respects edge direction on directed graphs).
  *
  * The adjacency prep (dedup + [[Pin.pin]]) is hoisted into
  * [[prepareAdj]] so that (a) callers whose edge set is ALREADY distinct
  * and pinned pass `assumeDistinct = true` and skip both the re-dedup
  * exchange and the copy, and (b) [[pseudoDiameter]] pays the prep once
  * for all its sweeps instead of once per sweep.
  */
object Bfs {

  /** Deduped, pinned (src, dst) adjacency for the level loops, and for
    * every caller that reads a distinct edge set more than once.
    * `assumeDistinct = true` promises that `edges` is distinct on
    * (src, dst) and already pinned (a frame this method returned, or a
    * projection of a pinned table): its projection is returned with no
    * dedup and no second pin. BFS distances are identical on the
    * multigraph and its simple projection, so a mis-declared duplicate
    * costs only duplicate join rows.
    */
  def prepareAdj(edges: DataFrame, assumeDistinct: Boolean = false): DataFrame = {
    val sel = edges.select("src", "dst")
    if (assumeDistinct) sel else Pin.pin(sel.distinct())._1
  }

  /** distances (vertex, dist) from `source` following src->dst edges. */
  def distances(edges: DataFrame, source: String,
                assumeDistinct: Boolean = false): DataFrame =
    distancesOnAdj(prepareAdj(edges, assumeDistinct), source)

  /** [[distances]] over an adjacency already prepared by [[prepareAdj]]. */
  def distancesOnAdj(adj: DataFrame, source: String): DataFrame = {
    val spark = adj.sparkSession
    import spark.implicits._
    levels(adj, Seq((source, 0L)).toDF("vertex", "dist"))
  }

  /** Directed BFS distances from a SET of sources in ONE fixpoint: the
    * frontier is keyed (seed, vertex), so k seeds cost max-eccentricity
    * rounds total instead of k independent BFS loops — the scale shape for
    * sampled centralities (harmonic/closeness), where k is a constant and
    * the per-round join fans each frontier row by its out-degree.
    * Returns (seed, vertex, dist) with dist = min #hops seed -> vertex.
    */
  def multiSourceDistances(edges: DataFrame, seeds: Seq[String],
                           assumeDistinct: Boolean = false): DataFrame = {
    val adj = prepareAdj(edges, assumeDistinct)
    val spark = adj.sparkSession
    import spark.implicits._
    levels(adj, seeds.map(s => (s, s, 0L)).toDF("seed", "vertex", "dist"))
  }

  /** The BFS level loop from `start` ([seed,] vertex, dist = 0): each level
    * joins the frontier with `adj` and anti-joins the visited set on the
    * key columns.
    */
  private def levels(adj: DataFrame, start: DataFrame): DataFrame = {
    val keys = start.columns.toSeq.filter(_ != "dist")
    Fixpoint.levels("BFS", start) { (frontier, visited, level) =>
      adj.join(frontier, adj("src") === frontier("vertex"))
        .select(keys.init.map(col) :+ col("dst").as("vertex"): _*).distinct()
        .join(visited, keys, "left_anti")
        .withColumn("dist", lit(level.toLong))
    }.state
  }

  /** Farthest vertex from source: (vertex, dist); ties -> greatest vertex. */
  def farthest(dists: DataFrame): (String, Long) = {
    val r = dists.agg(
      max_by(struct(col("vertex"), col("dist")), struct(col("dist"), col("vertex"))).as("m"))
      .select(col("m.vertex"), col("m.dist")).head()
    (r.getString(0), r.getLong(1))
  }

  /** Pseudo-diameter: alternating directed BFS sweeps from `source0` until
    * the eccentricity estimate stops improving (graph-tool's algorithm).
    * Returns (dist, srcVertex, trgVertex). The adjacency is prepared ONCE
    * for every sweep.
    */
  def pseudoDiameter(edges: DataFrame, source0: String, maxSweeps: Int = 10,
                     assumeDistinct: Boolean = false): (Long, String, String) = {
    val adj = prepareAdj(edges, assumeDistinct)
    var cur = source0
    var best = -1L
    var bestSrc = source0
    var bestTrg = source0
    var improved = true
    var sweeps = 0
    while (improved && sweeps < maxSweeps) {
      val (far, d) = farthest(distancesOnAdj(adj, cur))
      if (d > best) { best = d; bestSrc = cur; bestTrg = far; cur = far }
      else improved = false
      sweeps += 1
    }
    (best, bestSrc, bestTrg)
  }
}
