package graft.algo

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Pin

/** Strongly connected components over a directed edge table — the directed
  * complement of [[ConnectedComponents]] for KG cycle analysis (equivalence
  * cliques in `sameAs`/`subClassOf` hierarchies, circular provenance).
  *
  * Multistep-style peel (trim + forward-color + backward-mark), all
  * DataFrame ops:
  *
  *  1. '''Trim''' (capped rounds, optimization only): a vertex with no
  *     in-edge or no out-edge in the remaining subgraph cannot sit on a
  *     cycle — peel it as a singleton SCC. On typical KGs this alone
  *     removes most of the graph before any fixpoint runs.
  *  2. '''Color''': forward min-label fixpoint `c(v) = min({v} ∪ {c(u) :
  *     (u,v) ∈ E})`, i.e. c(v) = the least vertex that reaches v. Roots
  *     are vertices with `c(v) = v`; colors partition the subgraph.
  *  3. '''Mark''': backward reachability from each root over INTRA-color
  *     edges. Marked(v) ⟺ c(v) = r and v reaches r, which is exactly
  *     SCC(r): any v→r path combined with r→v (implied by c(v)=r) puts
  *     every intermediate vertex in SCC(r), so the path never leaves the
  *     color.
  *  4. Peel every root's SCC (one per color, all in the same round),
  *     restrict edges to unpeeled endpoints, repeat.
  *
  * Rounds scale with the depth of the condensation DAG (real KGs:
  * shallow). Trim and color are [[Fixpoint.converge]] loops, the mark a
  * [[Fixpoint.levels]] loop; every round is one equi-join + min
  * re-aggregation with map-side partial agg. The trim returns at its cap
  * (it only saves work); an exhausted color, mark or peel cap throws rather
  * than returning a partial answer.
  *
  * Output: (vertex, scc) where scc = min member id of the component, for
  * every vertex appearing in the input (self-loop-only vertices are
  * singletons).
  */
object Scc {

  def run(edges: DataFrame,
          maxOuter: Int = 40,
          maxInner: Int = 500,
          trimRounds: Int = 8): DataFrame = {
    var e = Pin.pin(edges.select(col("src"), col("dst"))
      .where(col("src") =!= col("dst")).distinct())._1
    var verts = Pin.pin(edges.select(col("src").as("vertex"))
      .union(edges.select(col("dst").as("vertex"))).distinct())._1
    // each peeled (vertex, scc) set is pinned once; the output is their union
    val peeled = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def peel(d: DataFrame): DataFrame = { val p = Pin.pin(d)._1; peeled += p; p }
    def singletons(d: DataFrame) = d.select(col("vertex"), col("vertex").as("scc"))

    // the outer peel: each pass trims, then peels one SCC per color
    var outer = 0
    var nLeft = 1L
    while (nLeft > 0) {
      // ---- trim: no-in or no-out vertices are singleton SCCs ------------
      val trim = Fixpoint.converge("SCC trim", verts, trimRounds) { (v, _) =>
        val ev = e.join(v.select(col("vertex").as("src")), Seq("src"), "left_semi")
          .join(v.select(col("vertex").as("dst")), Seq("dst"), "left_semi")
        ev.select(col("src").as("vertex")).distinct()
          .join(ev.select(col("dst").as("vertex")).distinct(), Seq("vertex"))
      }
      val trimmed = trim.n < trim.n0
      if (trimmed) peel(singletons(verts.join(trim.state, Seq("vertex"), "left_anti")))
      verts = trim.state
      nLeft = trim.n
      if (nLeft > 0) {
        outer += 1
        if (outer > maxOuter)
          throw Fixpoint.notConverged("SCC peel", maxOuter, s"$nLeft vertices left")
        if (trimmed)
          e = Pin.pin(e.join(verts.select(col("vertex").as("src")), Seq("src"), "left_semi")
            .join(verts.select(col("vertex").as("dst")), Seq("dst"), "left_semi"))._1

        // ---- forward min-label coloring fixpoint -------------------------
        // TWO propagation steps per round: min-label coloring is monotone,
        // so applying the update twice before re-checking reaches the
        // identical fixpoint in half the rounds
        def colorStep(cc: DataFrame): DataFrame = {
          val prop = e.join(cc.withColumnRenamed("vertex", "src"), Seq("src"))
            .select(col("dst").as("vertex"), col("c"))
          cc.union(prop).groupBy("vertex").agg(min("c").as("c"))
        }
        // the inner step is cut: the outer step reads it twice (join side
        // + union side), and without the cut the inner join+agg subtree
        // would execute twice per round
        val c = Fixpoint.converge("SCC color", verts.select(col("vertex"), col("vertex").as("c")),
            maxInner, Seq(coalesce(bit_xor(xxhash64(col("vertex"), col("c"))), lit(0L)).as("h"))) {
          (c, _) => colorStep(Pin.cut(colorStep(c)))
        }.orFail

        // ---- backward mark from each color's root over intra-color edges -
        val intra = Pin.pin(e
          .join(c.select(col("vertex").as("src"), col("c").as("cs")), Seq("src"))
          .join(c.select(col("vertex").as("dst"), col("c").as("cd")), Seq("dst"))
          .where(col("cs") === col("cd"))
          .select(col("src"), col("dst"), col("cs").as("scc")))._1
        // each level propagates only from the NEWLY marked vertices; edge
        // scc == c(dst) == mark scc of dst by construction, so the
        // dst-keyed equi-join alone is the full propagation condition
        val roots = c.where(col("vertex") === col("c")).select(col("vertex"), col("c").as("scc"))
        val m = peel(Fixpoint.levels("SCC mark", roots, maxInner) { (frontier, marked, _) =>
          intra
            .join(frontier.select(col("vertex").as("dst")), Seq("dst"), "left_semi")
            .select(col("src").as("vertex"), col("scc"))
            .distinct()
            .join(marked, Seq("vertex"), "left_anti")
        }.orFail)
        verts = verts.join(m.select("vertex"), Seq("vertex"), "left_anti")
        e = Pin.pin(e.join(m.select(col("vertex").as("src")), Seq("src"), "left_anti")
          .join(m.select(col("vertex").as("dst")), Seq("dst"), "left_anti"))._1
      }
    }

    if (peeled.isEmpty)
      edges.sparkSession.emptyDataFrame
        .select(lit("").as("vertex"), lit("").as("scc")).limit(0)
    else peeled.reduce(_ union _)
  }
}
