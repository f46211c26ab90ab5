package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.algo.{Bfs, ConnectedComponents, Eigenvector, KCore, LabelPropagation, PageRank, Scc, Triangles}

class GraphAlgoSpec extends AnyFunSuite {
  import SparkTestSession.spark
  import spark.implicits._

  // John/Rome fixture as raw-name edges (hashing orthogonal to the kernels)
  val fixtureEdges = Seq(
    ("/John", "john@example.org", "foaf:mbox"),
    ("/John", "john@doe.org", "foaf:mbox"),
    ("/John", "/Researcher", "rdf:type"),
    ("/John", "/Rome", "ex:birthPlace"),
    ("/Giacomo", "/Rome", "ex:areaOfWork"),
    ("/Piero", "/Rome", "ex:areaOfWork"),
    ("/Rome", "\"Roma\"@it", "foaf:name")).toDF("src", "dst", "label")

  test("G3 weak connected components: fixture is one component of 8") {
    val cc = ConnectedComponents.run(fixtureEdges)
    val sizes = ConnectedComponents.componentSizes(cc).collect()
    assert(sizes.length == 1 && sizes.head.getLong(1) == 8)
    assert(ConnectedComponents.largestComponent(cc).count() == 8)
  }

  test("G3 CC on two disjoint chains + isolated pair") {
    val e = Seq(("a", "b"), ("b", "c"), ("c", "d"), ("x", "y")).toDF("src", "dst")
    val cc = ConnectedComponents.run(e)
    val m = cc.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(m("a") == "a" && m("b") == "a" && m("c") == "a" && m("d") == "a")
    assert(m("x") == "x" && m("y") == "x")
  }

  test("G3 CC hash-encode path: self-loop-only vertex, and long ids bypass encoding") {
    // encodeMinVertices = 0 forces string ids through the xxhash64 encode
    // path; a self-loop-only vertex never reaches the fixpoint and must
    // still fill as its own component after decode
    val e = Seq(("b", "c"), ("loop", "loop")).toDF("src", "dst")
    val m = ConnectedComponents.run(e, encodeMinVertices = 0L).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(m == Map("b" -> "b", "c" -> "b", "loop" -> "loop"))

    // numeric ids iterate directly (no encode/decode joins) — same contract
    val el = Seq((5L, 2L), (2L, 9L), (7L, 7L)).toDF("src", "dst")
    val ml = ConnectedComponents.run(el).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ml == Map(5L -> 2L, 2L -> 2L, 9L -> 2L, 7L -> 7L))
  }

  test("SCC: cycles, pendant DAG tails (trim), self-loops, chained condensation") {
    // two 3-cycles bridged one-way (condensation depth 2 — exercises the
    // outer peel loop), a pendant tail trimmed as singletons, a self-loop
    val e = Seq(
      ("a", "b"), ("b", "c"), ("c", "a"),       // SCC {a,b,c}
      ("c", "p"), ("p", "q"), ("q", "r"),       // bridge into SCC {p,q,r}
      ("r", "p"),
      ("r", "t1"), ("t1", "t2"),                // pendant tail: singletons
      ("z", "z")                                 // self-loop-only: singleton
    ).toDF("src", "dst")
    val m = Scc.run(e).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(m == Map(
      "a" -> "a", "b" -> "a", "c" -> "a",
      "p" -> "p", "q" -> "p", "r" -> "p",
      "t1" -> "t1", "t2" -> "t2", "z" -> "z"))
  }

  test("SCC: pure DAG is all singletons; directionality separates what CC merges") {
    val e = Seq(("a", "b"), ("b", "c"), ("a", "c")).toDF("src", "dst")
    val m = Scc.run(e).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(m == Map("a" -> "a", "b" -> "b", "c" -> "c"))
    // same edges undirected collapse to one weak component
    assert(ConnectedComponents.componentSizes(ConnectedComponents.run(e))
      .collect().map(_.getLong(1)).toSeq == Seq(3))
  }

  test("k-core: cascading peel reaches the dense backbone, empty past max core") {
    // K4 on a..d (degree 3 inside), plus a pendant chain d-e-f whose removal
    // must CASCADE (f falls first, then e) — exercises multi-round peeling
    val e = Seq(
      ("a", "b"), ("a", "c"), ("a", "d"), ("b", "c"), ("b", "d"), ("c", "d"),
      ("d", "e"), ("e", "f"),
      ("a", "a") // self loop: dropped by the simple-undirected reduction
    ).toDF("src", "dst")
    val core2 = KCore.kCore(e, 2).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(core2 == Map("a" -> 3L, "b" -> 3L, "c" -> 3L, "d" -> 3L))
    val core3 = KCore.kCore(e, 3).collect().map(_.getString(0)).toSet
    assert(core3 == Set("a", "b", "c", "d"))
    assert(KCore.kCore(e, 4).count() == 0) // K4 has no 4-core
    val s = KCore.summary(e, 2).head()
    assert(s.getLong(0) == 4 && s.getLong(1) == 6 && s.getLong(2) == 3
      && s.getLong(3) == 3 && s.getLong(4) == 12)
    val empty = KCore.summary(e, 10).head()
    assert(empty.getLong(0) == 0 && empty.getLong(1) == 0 && empty.getLong(4) == 0)
  }

  test("G4 pseudo-diameter on the fixture (directed, double sweep)") {
    val (d, s, t) = Bfs.pseudoDiameter(fixtureEdges, "/John")
    assert(d == 2 && s == "/John" && t == "\"Roma\"@it")
  }

  test("G1 pagerank fixture fixpoint (graph-tool unnormalized convention)") {
    val pr = PageRank.run(fixtureEdges)
    val m = pr.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(math.abs(m("/John") - 0.15) < 1e-6)
    assert(math.abs(m("/Rome") - 0.436875) < 1e-6)
    assert(math.abs(m("\"Roma\"@it") - 0.52134375) < 1e-6)
    val top = PageRank.maxRank(pr).head()
    assert(top.getString(1) == "\"Roma\"@it")
  }

  test("G1 pagerank: convergence check shuffles no per-vertex data (delta folded)") {
    // the round-1 shape paid a full shuffle JOIN of two |V|-row frames per
    // iteration just for the L1 delta; the fold carries prev in the update
    // frame, so the delta agg reads cached partitions and shuffles only
    // per-partition 1-row partials. Assert via shuffle-record accounting:
    // run() vs runFixed() (no convergence check at all) may differ by at
    // most a few records per iteration — never by O(|V|) per iteration.
    val nv = 500
    val edges = (0 until 2 * nv).map(i => (s"v${i % nv}", s"v${(i * 13 + 7) % nv}"))
      .toDF("src", "dst")
    def shuffleRecords(body: => Unit): Long = {
      val n = new java.util.concurrent.atomic.AtomicLong
      val l = new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
          if (t.taskMetrics != null)
            n.addAndGet(t.taskMetrics.shuffleWriteMetrics.recordsWritten)
      }
      spark.sparkContext.addSparkListener(l)
      // drain the async listener bus deterministically (same contract as
      // PlanSpec's zero-job gates; a fixed sleep can miss late task-end
      // events under load and under-count one side of the comparison)
      try { body; org.apache.spark.sql.graft.Bridge.drainListenerBus(spark.sparkContext) }
      finally spark.sparkContext.removeSparkListener(l)
      n.get
    }
    val iters = 5
    val fixed = shuffleRecords(PageRank.runFixed(edges, iters).collect())
    val conv = shuffleRecords(PageRank.run(edges, eps = 0.0, maxIter = iters).collect())
    val extraPerIter = (conv - fixed).toDouble / iters
    // old shape: ~2|V| = 1000 extra shuffled records/iteration; folded
    // shape: <= ~2x shuffle partitions of 1-row agg partials
    assert(extraPerIter < nv / 2.0,
      s"convergence check shuffles $extraPerIter records/iteration (|V|=$nv)")
  }

  test("job counts: fixed loops are one job, run one per round, BFS one per level") {
    // stated where one action is one job; with AQE every round's shuffle
    // stages also run as jobs of their own when the round is checkpointed
    val one = SparkTestSession.oneJobPerAction
    val es = (0 until 60).map(i => (s"v${i % 20}", s"v${(i * 7 + 3) % 20}"))
    val e = one.createDataFrame(es).toDF("src", "dst")
    val w = one.createDataFrame(es.map { case (a, b) => (a, b, 2.0) }).toDF("src", "dst", "w")
    def jobs(body: => Any): Int = SparkTestSession.jobsDuring { body; () }
    Seq[(String, Int => Any)](
      "PageRank.runFixed" -> (k => PageRank.runFixed(e, k)),
      "PageRank.runWeightedFixed" -> (k => PageRank.runWeightedFixed(w, "w", k)),
      "PageRank.runPersonalizedFixed" -> (k => PageRank.runPersonalizedFixed(e, Seq("v1"), k)),
      "Eigenvector.runFixed" -> (k => Eigenvector.runFixed(e, k)),
      "Hits.runFixed" -> (k => graft.algo.Hits.runFixed(e, k))).foreach { case (name, run) =>
      assert(jobs(run(2)) == jobs(run(8)), name)
    }
    val setup = jobs(PageRank.run(e, eps = 0.0, maxIter = 0))
    Seq(3, 7).foreach(k => assert(jobs(PageRank.run(e, eps = 0.0, maxIter = k)) == setup + k))
    // a0 -> ... -> aL: L levels reach a vertex and one finds none; the other
    // two jobs checkpoint the adjacency and the seed row
    Seq(1, 4).foreach { l =>
      val path = one.createDataFrame((0 until l).map(i => (s"a$i", s"a${i + 1}"))).toDF("src", "dst")
      assert(jobs(Bfs.distances(path, "a0")) == 2 + l + 1, s"distances, L=$l")
      assert(jobs(Bfs.multiSourceDistances(path, Seq("a0"))) == 2 + l + 1, s"multi, L=$l")
    }
  }

  test("G2 eigenvector on a 3-cycle: uniform 1/sqrt(3)") {
    val cyc = Seq(("a", "b"), ("b", "c"), ("c", "a")).toDF("src", "dst")
    val ev = Eigenvector.run(cyc)
    ev.collect().foreach(r => assert(math.abs(r.getDouble(1) - 1.0 / math.sqrt(3)) < 1e-5))
    assert(Eigenvector.maxVertex(ev).head().getString(0) == "c") // tie -> greatest
  }

  test("A14-adjacent: reciprocity on a partial 2-cycle") {
    val e = Seq(("a", "b", "x"), ("b", "a", "x"), ("b", "c", "x")).toDF("src", "dst", "label")
    val r = graft.measures.CoreMeasures.reciprocity(e).head().getDouble(0)
    assert(math.abs(r - 2.0 / 3) < 1e-12)
  }

  test("G5 triangles + clustering on K3 plus a pendant edge") {
    // triangle a-b-c plus edge c-d (undirected view)
    val e = Seq(("a", "b"), ("b", "c"), ("c", "a"), ("c", "d")).toDF("src", "dst")
    val m = Triangles.clustering(e).head()
    assert(m.getAs[Long]("triangle_count") == 1L)
    // degrees: a2 b2 c3 d1 -> triplets = 1+1+3+0 = 5; global = 3/5
    assert(math.abs(m.getAs[Double]("global_clustering") - 0.6) < 1e-12)
    // local: a=1, b=1, c=2*1/(3*2)=1/3, d=0 -> mean = (1+1+1/3+0)/4
    assert(math.abs(m.getAs[Double]("local_clustering") - (1 + 1 + 1.0 / 3) / 4) < 1e-12)
  }

  test("per-vertex triangles: K3 + pendant, exact local coefficients") {
    val e = Seq(("a", "b"), ("b", "c"), ("c", "a"), ("c", "d")).toDF("src", "dst")
    val got = Triangles.perVertex(e).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(got("a") == ((2L, 1L, 1.0)))
    assert(got("b") == ((2L, 1L, 1.0)))
    assert(got("c")._1 == 3L && got("c")._2 == 1L &&
      math.abs(got("c")._3 - 1.0 / 3) < 1e-12)
    assert(got("d") == ((1L, 0L, 0.0)))
  }

  test("fixture has no triangles") {
    val m = Triangles.clustering(fixtureEdges).head()
    assert(m.getAs[Long]("triangle_count") == 0L)
  }

  test("LPA: two bridged triangles settle into two communities") {
    // hand-replayed synchronous recurrence (min-label tie-break):
    // round 3 reaches {a,b,c}->a, {x,y,z}->c and rounds 4+ are fixpoints
    val e = Seq(("a", "b"), ("b", "c"), ("c", "a"),
      ("x", "y"), ("y", "z"), ("z", "x"), ("c", "x")).toDF("src", "dst")
    val got = LabelPropagation.runFixed(e, iters = 5).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got == Map("a" -> "a", "b" -> "a", "c" -> "a",
      "x" -> "c", "y" -> "c", "z" -> "c"))
    val sizes = LabelPropagation.communitySizes(
      LabelPropagation.runFixed(e, iters = 5)).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(sizes == Map("a" -> 3L, "c" -> 3L))
  }

  test("coOccurrence: weighted projection, per-context dedup, hub-context guard") {
    val t = Seq(
      ("c1", "A"), ("c1", "A"), ("c1", "B"), ("c1", "C"), // A twice: counts once
      ("c2", "A"), ("c2", "B"),
      ("c3", "X") // singleton context: no pairs
    ).toDF("ctx", "item")
    // cap 3 = the largest context: nothing is dropped
    val got = graft.graph.GraphTables.coOccurrence(t, "ctx", "item", maxContextDf = 3)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(got == Map(("A", "B") -> 2L, ("A", "C") -> 1L, ("B", "C") -> 1L))
    // cap 2: c1 (3 distinct items) is a hub context, dropped from pair gen
    val capped = graft.graph.GraphTables.coOccurrence(t, "ctx", "item", maxContextDf = 2)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(capped == Map(("A", "B") -> 1L))
  }

  test("assortativity: path graph is perfectly disassortative; constant degrees -> null") {
    // a->b->c: endpoint-degree samples (1,2),(2,1) -> Pearson r = -1
    val path = Seq(("a", "b"), ("b", "c")).toDF("src", "dst")
    val r = graft.measures.CoreMeasures.assortativity(path).head()
    assert(math.abs(r.getDouble(0) - (-1.0)) < 1e-12)
    // star: source degrees all 1 (zero variance) -> undefined -> null
    val star = Seq(("u1", "v"), ("u2", "v"), ("u3", "v")).toDF("src", "dst")
    assert(graft.measures.CoreMeasures.assortativity(star).head().isNullAt(0))
  }

  test("HITS: star graph fixpoint — sink is the authority, sources the hubs") {
    // u1 -> v, u2 -> v: auth concentrates on v (1.0), hubs split 1/sqrt(2)
    val e = Seq(("u1", "v"), ("u2", "v")).toDF("src", "dst")
    val got = graft.algo.Hits.runFixed(e, iters = 3).collect()
      .map(r => r.getString(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
    assert(math.abs(got("v")._1 - 1.0) < 1e-12 && got("v")._2 == 0.0)
    assert(got("u1")._1 == 0.0 && math.abs(got("u1")._2 - 1.0 / math.sqrt(2)) < 1e-12)
    assert(got("u2")._1 == 0.0 && math.abs(got("u2")._2 - 1.0 / math.sqrt(2)) < 1e-12)
  }

  test("HITS: parallel edges weight the hub with multiplicity") {
    // u1 -> v twice, u2 -> v once: hubs 2/sqrt(5) and 1/sqrt(5)
    val e = Seq(("u1", "v"), ("u1", "v"), ("u2", "v")).toDF("src", "dst")
    val got = graft.algo.Hits.runFixed(e, iters = 3).collect()
      .map(r => r.getString(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
    assert(math.abs(got("v")._1 - 1.0) < 1e-12)
    assert(math.abs(got("u1")._2 - 2.0 / math.sqrt(5)) < 1e-12)
    assert(math.abs(got("u2")._2 - 1.0 / math.sqrt(5)) < 1e-12)
  }

  test("personalized PageRank: mass flows only from the seed, off-path stays 0") {
    // chain a->b->c with an upstream d->a; seed {a}, d=0.85, 3 iters:
    // a=0.15 (teleport only), b=0.85*0.15, c=0.85^2*0.15, d=0 (no teleport,
    // nothing upstream) — hand-replayed fixpoint values
    val e = Seq(("a", "b"), ("b", "c"), ("d", "a")).toDF("src", "dst")
    val got = graft.algo.PageRank.runPersonalizedFixed(e, Seq("a"), iters = 3)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(math.abs(got("a") - 0.15) < 1e-12)
    assert(math.abs(got("b") - 0.1275) < 1e-12)
    assert(math.abs(got("c") - 0.108375) < 1e-12)
    assert(got("d") == 0.0)
  }

  test("LPA: parallel edges count with multiplicity; self loops dropped") {
    // a sees {b, b, "0"}: multiplicity makes b win 2-1 over the
    // lexicographically smaller "0"; without it the tie would pick "0"
    val e = Seq(("a", "b"), ("a", "b"), ("a", "0"), ("a", "a")).toDF("src", "dst")
    val got = LabelPropagation.runFixed(e, iters = 1).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got("a") == "b" && got("b") == "a" && got("0") == "a")
  }

  test("kHop: min-hop semantics — a shortcut edge wins over the longer path") {
    // chain a->b->c->d plus shortcut a->c: c is hop 1, d is hop 2; the
    // 3-walk a->b->c->d must NOT re-derive d at hop 3. Off-label and
    // off-origin edges are invisible.
    val e = Seq(
      ("a", "b", "p"), ("b", "c", "p"), ("c", "d", "p"), ("a", "c", "p"),
      ("a", "z", "q"),          // wrong label
      ("w", "a", "p")           // origin w filtered out
    ).toDF("src", "dst", "label")
    val got = graft.graph.GraphTables
      .kHop(e, "p", col("src") === "a", maxHops = 3)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getInt(2)).toMap
    assert(got == Map(("a", "b") -> 1, ("a", "c") -> 1, ("a", "d") -> 2))
  }

  test("kHop: duplicate edges dedup; frontier exhausts before maxHops") {
    val e = Seq(("a", "b", "p"), ("a", "b", "p"), ("b", "c", "p"))
      .toDF("src", "dst", "label")
    val got = graft.graph.GraphTables
      .kHop(e, "p", col("src") === "a", maxHops = 5)
      .collect().map(r => (r.getString(1), r.getInt(2))).toSet
    assert(got == Set(("b", 1), ("c", 2)))
  }

  test("negativeSamples: in-range, never a real edge, shift rule, deterministic") {
    // 4-vertex id space; triples include a parallel edge (two candidates)
    val it = Seq((0L, 1L, 1L), (0L, 1L, 1L), (1L, 1L, 2L), (2L, 2L, 3L))
      .toDF("src_id", "label_id", "dst_id")
    val n = it.sparkSession.range(1).select(lit(4L).as("n_vertices"))
    val neg = graft.graph.GraphTables.negativeSamples(it, n)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // replay the LCG contract row by row
    def draw(s: Long, l: Long, d: Long): Long = {
      val raw = (s * 1103515245L + d * 2654435769L + l * 97L + 12345L) % 4L
      val x = if (raw < 0) raw + 4 else raw
      if (x == d) (x + 1) % 4 else x
    }
    val real = Set((0L, 1L, 1L), (1L, 1L, 2L), (2L, 2L, 3L))
    val want = Seq((0L, 1L, 1L), (0L, 1L, 1L), (1L, 1L, 2L), (2L, 2L, 3L))
      .map { case (s, l, d) => (s, l, d, draw(s, l, d)) }
      .filterNot { case (s, l, _, nd) => real((s, l, nd)) }
    assert(neg.sorted.toSeq == want.sorted)
    assert(neg.forall { case (_, _, d, nd) => nd >= 0 && nd < 4 && nd != d })
  }

  test("randomWalks: single-out-neighbor chain is forced; sink stops early") {
    // a->b->c->d: every vertex has exactly one out-neighbor, so the hash
    // draw is always mod 1 = 0 and both walks trace the chain; d is a
    // sink, so steps=5 still ends at step 3
    val e = Seq(("a", "b"), ("b", "c"), ("c", "d")).toDF("src", "dst")
    val got = graft.graph.GraphTables
      .randomWalks(e, col("src") === "a", nWalks = 2, steps = 5)
      .collect().map(r => (r.getInt(1), r.getInt(2), r.getString(3))).toSet
    assert(got == Set(
      (0, 0, "a"), (0, 1, "b"), (0, 2, "c"), (0, 3, "d"),
      (1, 0, "a"), (1, 1, "b"), (1, 2, "c"), (1, 3, "d")))
  }

  test("node2vecWalks: maxOutDegree=1 forces the min-dst chain; sink stops early") {
    // capped to 1 neighbor, every adjacency list keeps only its lowest
    // dst, so any weights give a forced walk: a->b (not a->z), b->c, c is
    // a sink on the capped graph once c->d is its only (kept) edge
    val e = Seq(("a", "z"), ("a", "b"), ("b", "c"), ("b", "x"), ("c", "d"))
      .toDF("src", "dst")
    val got = graft.graph.GraphTables
      .node2vecWalks(e, col("src") === "a", nWalks = 2, steps = 5,
        wReturn = 1, wCommon = 4, wOut = 2, maxOutDegree = 1)
      .collect().map(r => (r.getInt(1), r.getInt(2), r.getString(3))).toSet
    assert(got == Set(
      (0, 0, "a"), (0, 1, "b"), (0, 2, "c"), (0, 3, "d"),
      (1, 0, "a"), (1, 1, "b"), (1, 2, "c"), (1, 3, "d")))
  }

  test("node2vecWalks: transitions are real edges, replay is exact, bias binds") {
    val edges = Seq(
      ("a", "b"), ("a", "c"), ("a", "d"), ("b", "a"), ("b", "c"),
      ("c", "a"), ("c", "d"), ("d", "b"), ("d", "a"), ("e", "a"))
    val e = edges.toDF("src", "dst")
    val edgeSet = edges.toSet
    def run(wr: Int, wc: Int, wo: Int) = graft.graph.GraphTables
      .node2vecWalks(e, col("src").isin("a", "e"), nWalks = 4, steps = 4,
        wReturn = wr, wCommon = wc, wOut = wo)
      .collect().map(r => (r.getString(0), r.getInt(1), r.getInt(2), r.getString(3)))
    val w1 = run(1, 4, 2)
    assert(w1.toSet == run(1, 4, 2).toSet) // bit-identical replay
    // no sinks: all 8 (origin, walk) pairs survive all 4 steps
    val byWalk = w1.groupBy(t => (t._1, t._2))
    assert(byWalk.size == 8 && byWalk.values.forall(_.length == 5))
    byWalk.values.foreach { steps =>
      val path = steps.sortBy(_._3).map(_._4)
      assert(path.head == steps.head._1) // step 0 is the origin
      path.sliding(2).foreach(p => assert(edgeSet((p(0), p(1)))))
    }
    // the weights participate in the draw: skewing return-vs-out flips
    // at least one transition on this graph
    assert(w1.toSet != run(9, 1, 1).toSet)
  }


  test("kTruss: K4 survives k=4, a pendant triangle does not; k=3 keeps both") {
    val k4 = for (i <- 1 to 4; j <- (i + 1) to 4) yield (s"v$i", s"v$j")
    val pendant = Seq(("v5", "v6"), ("v5", "v7"), ("v6", "v7"))
    val edges = (k4 ++ pendant).toDF("src", "dst")
    val t4 = graft.algo.KTruss.run(edges, k = 4).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(t4.keySet == k4.toSet) // only the K4 edges
    assert(t4.values.forall(_ == 2L)) // each K4 edge sits in 2 triangles
    val t3 = graft.algo.KTruss.run(edges, k = 3).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(t3 == (k4 ++ pendant).toSet) // every edge is in >= 1 triangle
  }

  test("kTruss: peeling cascades (a surviving edge re-fails after its triangles die)") {
    // two triangles sharing edge (v1, v2): the shared edge has support 2,
    // the rest 1 — at k=4, round 1 keeps only the shared edge, whose
    // support then drops to 0, so the fixpoint is EMPTY (a single pass
    // would wrongly keep it)
    val edges = Seq(("v1", "v2"), ("v1", "v3"), ("v2", "v3"),
      ("v1", "v4"), ("v2", "v4")).toDF("src", "dst")
    assert(graft.algo.KTruss.run(edges, k = 4).count() == 0)
    val summary = graft.algo.KTruss.summary(edges, k = 4).head()
    assert(summary.getAs[Long]("truss_edges") == 0)
    assert(summary.getAs[Long]("truss_vertices") == 0)
  }



  test("runSeededFixed: clamped seeds, round-by-round reach, min-label tie-break, unreachable stays null") {
    import org.apache.spark.sql.functions.col
    // sA("A") - m - sB("B")  (m ties -> "A");  sA - x - y (y is 2 hops);
    // z - w is a disconnected unlabeled component
    val edges = Seq(("sA", "m"), ("m", "sB"), ("sA", "x"), ("x", "y"),
      ("z", "w")).toDF("src", "dst")
    val seeds = Seq(("sA", "A"), ("sB", "B")).toDF("vertex", "label")
    def labelsAt(iters: Int) = graft.algo.LabelPropagation
      .runSeededFixed(edges, seeds, iters).collect()
      .map(r => r.getString(0) -> Option(r.getString(1))).toMap
    val l1 = labelsAt(1)
    assert(l1("sA").contains("A") && l1("sB").contains("B")) // clamped
    assert(l1("m").contains("A")) // tie A vs B -> min label
    assert(l1("x").contains("A"))
    assert(l1("y").isEmpty) // 2 hops: not yet reached
    assert(l1("z").isEmpty && l1("w").isEmpty)
    val l2 = labelsAt(2)
    assert(l2("y").contains("A")) // reached on round 2
    assert(l2("m").contains("A") && l2("sB").contains("B"))
    assert(l2("z").isEmpty && l2("w").isEmpty) // no seed in the component
  }

  test("runWeightedFixed: multiplicity weights reproduce the multigraph; weights bind") {
    import org.apache.spark.sql.functions.{col, count, lit, when}
    val multi = Seq(("a", "b"), ("a", "b"), ("a", "c"), ("b", "c"),
      ("c", "a"), ("c", "a"), ("c", "a")).toDF("src", "dst")
    val collapsed = multi.groupBy("src", "dst").agg(count(lit(1)).as("w"))
    val plain = graft.algo.PageRank.runFixed(multi, iters = 10).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    val weighted = graft.algo.PageRank
      .runWeightedFixed(collapsed, "w", iters = 10).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(plain.keySet == weighted.keySet)
    plain.foreach { case (v, r) =>
      assert(math.abs(weighted(v) - r) < 1e-9, s"$v: $r vs ${weighted(v)}")
    }
    // the weight column genuinely binds: skewing one edge moves rank mass
    val skewed = graft.algo.PageRank.runWeightedFixed(
      collapsed.withColumn("w",
        when(col("src") === "a" && col("dst") === "b", col("w") * 5)
          .otherwise(col("w"))), "w", iters = 10).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(skewed("b") > weighted("b"))
  }

  test("randomWalks: every transition is a real edge; deterministic replay") {
    // denser graph: draws actually vary; check walk validity invariants
    // rather than hand-tracing md5
    val e = Seq(
      ("a", "b"), ("a", "c"), ("a", "d"), ("b", "a"), ("b", "c"),
      ("c", "a"), ("c", "d"), ("d", "b"), ("e", "a")).toDF("src", "dst")
    val edgeSet = Set(("a", "b"), ("a", "c"), ("a", "d"), ("b", "a"),
      ("b", "c"), ("c", "a"), ("c", "d"), ("d", "b"), ("e", "a"))
    def run() = graft.graph.GraphTables
      .randomWalks(e, col("src").isin("a", "e"), nWalks = 3, steps = 4)
      .collect().map(r => (r.getString(0), r.getInt(1), r.getInt(2), r.getString(3)))
    val w1 = run()
    assert(w1.toSet == run().toSet) // bit-identical replay
    // step 0: one row per (origin, walk); no walk dies (no sinks here)
    val byWalk = w1.groupBy(t => (t._1, t._2))
    assert(byWalk.size == 6 && byWalk.values.forall(_.length == 5))
    byWalk.values.foreach { steps =>
      val path = steps.sortBy(_._3).map(_._4)
      assert(path.head == steps.head._1) // step 0 is the origin
      path.sliding(2).foreach(p => assert(edgeSet((p(0), p(1)))))
    }
  }

  test("multiSourceDistances: one fixpoint == per-seed Bfs.distances; unreached absent") {
    // directed chain a->b->c->d plus a disconnected e->f
    val edges = Seq(("a", "b"), ("b", "c"), ("c", "d"), ("e", "f"))
      .toDF("src", "dst")
    val seeds = Seq("a", "e", "c")
    val multi = Bfs.multiSourceDistances(edges, seeds)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    seeds.foreach { s =>
      val single = Bfs.distances(edges, s)
        .collect().map(r => (s, r.getString(0)) -> r.getLong(1)).toMap
      assert(multi.filter(_._1._1 == s) == single, s"seed $s")
    }
    assert(multi(("a", "d")) == 3L && multi(("e", "f")) == 1L && multi(("c", "c")) == 0L)
    assert(!multi.contains(("e", "a"))) // unreached pairs are absent, not infinite
  }
}
