package graft.algo

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

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
  * Rounds scale with the depth of the condensation DAG (real KGs: shallow);
  * every round is one equi-join + min re-aggregation with map-side partial
  * agg, eagerly localCheckpoint'ed like the CC kernel so no round ever
  * re-executes an earlier round's shuffle tree. Convergence piggybacks a
  * count+bit_xor signature on the checkpoint-materializing action. Throws
  * rather than returning a partial answer when a cap is exhausted
  * (same contract as [[TransitiveClosure]] / KTruss).
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
    var e = edges.select(col("src"), col("dst"))
      .where(col("src") =!= col("dst")).distinct()
      .localCheckpoint(true)
    var verts = edges.select(col("src").as("vertex"))
      .union(edges.select(col("dst").as("vertex"))).distinct()
      .localCheckpoint(true)
    var nLeft = verts.count()

    var done: DataFrame = null // (vertex, scc)
    def peel(d: DataFrame): Unit =
      done = if (done == null) d.localCheckpoint(true)
             else done.union(d).localCheckpoint(true)

    var outer = 0
    while (nLeft > 0) {
      outer += 1
      if (outer > maxOuter)
        throw new IllegalStateException(
          s"SCC did not converge in $maxOuter peel rounds ($nLeft vertices left)")

      // ---- trim: no-in or no-out vertices are singleton SCCs ------------
      var t = 0
      var trimming = true
      while (trimming && t < trimRounds && nLeft > 0) {
        t += 1
        val keep = e.select(col("src").as("vertex")).distinct()
          .join(e.select(col("dst").as("vertex")).distinct(), Seq("vertex"))
          .localCheckpoint(false) // lazy; IterUtil says what it runs under AQE
        val nKeep = keep.count()
        if (nKeep == nLeft) trimming = false
        else {
          peel(verts.join(keep, Seq("vertex"), "left_anti")
            .select(col("vertex"), col("vertex").as("scc")))
          verts = keep
          e = e.join(keep.select(col("vertex").as("src")), Seq("src"), "left_semi")
            .join(keep.select(col("vertex").as("dst")), Seq("dst"), "left_semi")
            .localCheckpoint(true)
          nLeft = nKeep
        }
      }

      if (nLeft > 0) {
        // ---- forward min-label coloring fixpoint -------------------------
        // TWO propagation steps per materialized round: min-label coloring
        // is monotone, so applying the update twice before re-checking
        // reaches the identical fixpoint in half the driver round-trips;
        // the checkpoint is LAZY and the signature agg is the one action
        // that materializes it (the eager-checkpoint + separate-signature
        // shape paid 2 actions per single step).
        def colorStep(cc: DataFrame): DataFrame = {
          val prop = e.join(cc.withColumnRenamed("vertex", "src"), Seq("src"))
            .select(col("dst").as("vertex"), col("c"))
          cc.union(prop).groupBy("vertex").agg(min("c").as("c"))
        }
        var c = verts.select(col("vertex"), col("vertex").as("c"))
          .localCheckpoint(true)
        var prevSig = (-1L, -1L)
        var converged = false
        var inner = 0
        while (!converged) {
          inner += 1
          if (inner > maxInner)
            throw new IllegalStateException(
              s"SCC coloring did not converge in $maxInner rounds")
          // the inner step is lazily checkpointed too: the outer step reads
          // it twice (join side + union side), and without the checkpoint
          // the inner join+agg subtree would execute twice per round
          c = colorStep(colorStep(c).localCheckpoint(false)).localCheckpoint(false)
          val r = c.agg(count(lit(1)).as("n"),
            coalesce(bit_xor(xxhash64(col("vertex"), col("c"))), lit(0L)).as("h"))
            .head()
          val sig = (r.getLong(0), r.getLong(1))
          converged = sig == prevSig
          prevSig = sig
        }

        // ---- backward mark from each color's root over intra-color edges -
        val intra = e
          .join(c.select(col("vertex").as("src"), col("c").as("cs")), Seq("src"))
          .join(c.select(col("vertex").as("dst"), col("c").as("cd")), Seq("dst"))
          .where(col("cs") === col("cd"))
          .select(col("src"), col("dst"), col("cs").as("scc"))
          .localCheckpoint(true)
        // frontier-based backward mark (the BFS discipline): each round
        // propagates only from the NEWLY marked vertices instead of
        // re-joining and re-deduplicating the whole marked set
        var m = c.where(col("vertex") === col("c"))
          .select(col("vertex"), col("c").as("scc"))
          .localCheckpoint(true)
        var frontier = m
        var fCount = frontier.count()
        inner = 0
        while (fCount > 0) {
          inner += 1
          if (inner > maxInner)
            throw new IllegalStateException(
              s"SCC backward mark did not converge in $maxInner rounds")
          // edge scc == c(dst) == mark scc of dst by construction, so the
          // dst-keyed equi-join alone is the full propagation condition
          val back = intra
            .join(frontier.select(col("vertex").as("dst")), Seq("dst"), "left_semi")
            .select(col("src").as("vertex"), col("scc"))
            .distinct()
            .join(m, Seq("vertex"), "left_anti")
            .localCheckpoint(false) // lazy; IterUtil says what it runs under AQE
          fCount = back.count()
          if (fCount > 0) {
            m = m.union(back).localCheckpoint(false)
            frontier = back
          }
        }

        peel(m)
        verts = verts.join(m.select("vertex"), Seq("vertex"), "left_anti")
          .localCheckpoint(true)
        e = e.join(m.select(col("vertex").as("src")), Seq("src"), "left_anti")
          .join(m.select(col("vertex").as("dst")), Seq("dst"), "left_anti")
          .localCheckpoint(true)
        nLeft = verts.count()
      }
    }

    if (done == null)
      edges.sparkSession.emptyDataFrame
        .select(lit("").as("vertex"), lit("").as("scc")).limit(0)
    else done
  }
}
