package graft.algo

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Pin

/** HITS (Kleinberg hubs & authorities), fixed-iteration power method — the
  * natural directed companion to [[Eigenvector]] in lodcc's centrality
  * family: authority(v) accumulates hub mass over in-edges, hub(u)
  * accumulates the FRESH authority mass over out-edges, each vector
  * L2-normalized per half-step (the standard mutual-reinforcement
  * recurrence). Parallel edges count with multiplicity; vertices without
  * in-(out-)edges get authority (hub) 0; an all-zero half-step keeps the
  * raw zeros (degenerate graph) instead of dividing by zero.
  *
  * Each half-step is one [[PowerIteration]] step plus its L2 normalisation;
  * the hub half-step follows the links backwards. The authority frame is
  * checkpointed because the hub half-step and the iteration output both
  * read it.
  */
object Hits {

  def runFixed(edges: DataFrame, iters: Int): DataFrame = {
    require(iters >= 0, "iters must be >= 0")
    val g = PowerIteration.setup(edges, lit(1.0), wsum = false)
    val x0 = lit(1.0 / math.sqrt(g.n.toDouble))
    val init = g.vertices.select(col("vertex"), x0.as("auth"), x0.as("hub"))
    PowerIteration.iterate("HITS", g, init, iters, None) { (b, cur) =>
      val auth = Pin.cut(PowerIteration.normalize(PowerIteration.step(g.links, b,
        cur.select(col("vertex"), col("hub").as("x")), col("x"))))
      val hub = PowerIteration.normalize(PowerIteration.step(g.links, b, auth, col("x"),
        reverse = true))
      auth.withColumnRenamed("x", "auth").join(hub.withColumnRenamed("x", "hub"), "vertex")
    }.select("vertex", "auth", "hub")
  }
}
