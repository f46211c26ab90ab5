package graft

import graft.algo.{KCore, KTruss, Triangles}
import graft.graph.{GraphTables, LinkPredict}
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** The wedge family — triangles, clustering, k-truss, k-core, link
  * prediction and co-occurrence — against brute-force references computed
  * here with plain sets and maps from the raw edge list.
  */
class WedgeSpec extends AnyFunSuite {
  import SparkTestSession.spark
  import spark.implicits._

  /** Hub guard used by the capped kernels; `hub` below sits above it. */
  val cap = 8

  /** Random multigraph plus planted self-loops, parallel edges, both
    * directions of an edge, a K4, a pendant triangle hanging off it and a
    * hub of degree 12 > [[cap]]. */
  def randomGraph(seed: Long): Seq[(String, String)] = {
    val r = new scala.util.Random(seed)
    val nv = 15 + r.nextInt(15)
    def v() = s"v${r.nextInt(nv)}"
    val k4 = for (i <- 1 to 4; j <- (i + 1) to 4) yield (s"k$i", s"k$j")
    Seq.fill(40 + r.nextInt(40))((v(), v())) ++ k4 ++ Seq(
      ("t1", "t2"), ("t2", "t3"), ("t3", "t1"), ("t1", "k1"),
      ("loop", "loop"), ("v0", "v0"), ("p", "q"), ("p", "q"), ("q", "p"), ("k2", "k1")) ++
      (0 until 12).map(i => ("hub", s"v$i"))
  }

  val graphs: Seq[Seq[(String, String)]] = (1L to 5L).map(randomGraph)

  def edgesOf(es: Seq[(String, String)]): DataFrame = es.toDF("src", "dst")

  /** Simple undirected adjacency: self-loops dropped, parallel and
    * reciprocal edges merged. */
  def adjacency(es: Seq[(String, String)]): Map[String, Set[String]] =
    es.filter { case (a, b) => a != b }
      .flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).map { case (v, g) => v -> g.map(_._2).toSet }

  def simpleEdges(adj: Map[String, Set[String]]): Set[(String, String)] =
    adj.toSeq.flatMap { case (a, ns) => ns.filter(a < _).map(a -> _) }.toSet

  def trianglesOf(adj: Map[String, Set[String]]): Set[Seq[String]] =
    simpleEdges(adj).flatMap { case (a, b) =>
      (adj(a) intersect adj(b)).filter(b < _).map(c => Seq(a, b, c)) }

  /** Naive k-truss peel: drop every edge with fewer than k-2 triangles in
    * the surviving set until none is dropped; (a, b) -> support. */
  def trussOf(adj: Map[String, Set[String]], k: Int): Map[(String, String), Long] = {
    def support(es: Set[(String, String)]) = {
      val nb = adjacency(es.toSeq)
      es.map { case (a, b) => (a, b) -> (nb(a) intersect nb(b)).size.toLong }.toMap
    }
    var es = simpleEdges(adj)
    var sup = support(es)
    while (sup.exists(_._2 < k - 2)) {
      es = sup.filter(_._2 >= k - 2).keySet
      sup = support(es)
    }
    sup
  }

  /** Naive k-core peel over the simple graph; vertex -> core degree. */
  def coreOf(adj: Map[String, Set[String]], k: Int): Map[String, Long] = {
    var cur = adj
    while (cur.exists(_._2.size < k)) {
      val keep = cur.filter(_._2.size >= k).keySet
      cur = cur.filter(kv => keep(kv._1)).map { case (v, ns) => v -> (ns intersect keep) }
    }
    cur.map { case (v, ns) => v -> ns.size.toLong }
  }

  /** Every unordered item pair of each key's item set, for keys holding at
    * most `cap` distinct items: (a, b) -> (key sizes) of the keys shared. */
  def pairsOf(groups: Map[String, Set[String]], cap: Int): Map[(String, String), Seq[Int]] =
    groups.values.toSeq.filter(_.size <= cap).flatMap { items =>
      val xs = items.toSeq.sorted
      for (i <- xs.indices; j <- (i + 1) until xs.size) yield (xs(i), xs(j)) -> xs.size
    }.groupBy(_._1).map { case (p, g) => p -> g.map(_._2) }

  def close(a: Double, b: Double): Boolean =
    math.abs(a - b) <= 1e-12 * math.max(1.0, math.abs(b))

  test("triangles and perVertex are exact, clustering within 1e-12") {
    graphs.foreach { es =>
      val adj = adjacency(es)
      val tris = trianglesOf(adj)
      val got = Triangles.triangles(edgesOf(es)).collect()
        .map(r => Seq(r.getString(0), r.getString(1), r.getString(2)).sorted).toSeq
      assert(got.size == tris.size && got.toSet == tris) // each triangle once
      val t = adj.keys.map(v => v -> tris.count(_.contains(v)).toLong).toMap
      val local = adj.map { case (v, ns) =>
        val d = ns.size.toLong
        v -> (if (d >= 2) 2.0 * t(v) / (d * (d - 1)) else 0.0) }
      val pv = Triangles.perVertex(edgesOf(es)).collect()
        .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
      assert(pv == adj.map { case (v, ns) => v -> ((ns.size.toLong, t(v), local(v))) })
      val c = Triangles.clustering(edgesOf(es)).head()
      val triplets = adj.values.map { ns => val d = ns.size.toLong; d * (d - 1) / 2.0 }.sum
      assert(c.getAs[Long]("triangle_count") == tris.size.toLong)
      assert(close(c.getAs[Double]("global_clustering"), 3.0 * tris.size / triplets))
      assert(close(c.getAs[Double]("local_clustering"), local.values.sum / local.size))
    }
  }

  test("KTruss.run at k = 3 and 4 matches a naive peel, supports exact") {
    graphs.foreach { es =>
      val adj = adjacency(es)
      Seq(3, 4).foreach { k =>
        val got = KTruss.run(edgesOf(es), k).collect()
          .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
        assert(got == trussOf(adj, k), s"k=$k")
      }
    }
  }

  test("KCore.kCore at k = 2 and 3 matches a naive peel") {
    graphs.foreach { es =>
      val adj = adjacency(es)
      Seq(2, 3).foreach { k =>
        val got = KCore.kCore(edgesOf(es), k).collect()
          .map(r => r.getString(0) -> r.getLong(1)).toMap
        assert(got == coreOf(adj, k), s"k=$k")
      }
    }
  }

  test("LinkPredict.scores excludes hub centers; coOccurrence drops hub contexts") {
    graphs.foreach { es =>
      val adj = adjacency(es)
      assert(adj("hub").size > cap)
      val want = pairsOf(adj, cap)
      val got = LinkPredict.scores(edgesOf(es), maxHubDeg = cap).collect()
        .map(r => (r.getString(0), r.getString(1)) ->
          ((r.getLong(2), r.getDouble(3), r.getDouble(4)))).toMap
      assert(got.keySet == want.keySet)
      want.foreach { case ((a, b), centers) =>
        val (cn, aa, jac) = got((a, b))
        assert(cn == centers.size)
        assert(close(aa, centers.map(d => 1.0 / math.log(d)).sum))
        assert(close(jac, cn.toDouble / (adj(a).size + adj(b).size - cn)))
      }
      // contexts = sources, items = their distinct targets (self-loops kept)
      val ctx = es.groupBy(_._1).map { case (c, g) => c -> g.map(_._2).toSet }
      assert(ctx("hub").size > cap)
      Seq(cap, ctx.values.map(_.size).max).foreach { c =>
        val co = GraphTables.coOccurrence(edgesOf(es), "src", "dst", maxContextDf = c)
          .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
        assert(co == pairsOf(ctx, c).map { case (p, g) => p -> g.size.toLong }, s"cap=$c")
      }
    }
  }

  test("hot keys: a 5 000-item context and a 5 000-degree center emit no pair through the hub") {
    import org.apache.spark.sql.functions.{max, size}
    val hot = (0 until 5000).map(i => s"i$i")
    val ctx = Map("hot" -> hot.toSet, "c1" -> Set("i0", "i1", "i2"), "c2" -> Set("i1", "i2"))
    val rows = ctx.toSeq.flatMap { case (c, items) => items.map(c -> _) }.toDF("key", "item")
    val fold = GraphTables.cappedFold(rows, 120)
    assert(fold.agg(max(size($"xs"))).head().getInt(0) <= 120)
    assert(fold.where($"key" === "hot").isEmpty)
    val co = GraphTables.coOccurrence(rows, "key", "item", maxContextDf = 120).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(co == Map(("i0", "i1") -> 1L, ("i0", "i2") -> 1L, ("i1", "i2") -> 2L))

    val es = hot.map("hub" -> _) ++ Seq(("i0", "i1"), ("i1", "i2"), ("x", "i0"), ("x", "i2"))
    val adj = adjacency(es)
    assert(adj("hub").size == 5000)
    val nbr = adj.toSeq.flatMap { case (v, ns) => ns.map(v -> _) }.toDF("key", "item")
    assert(GraphTables.cappedFold(nbr, 64).agg(max(size($"xs"))).head().getInt(0) <= 64)
    val got = LinkPredict.scores(edgesOf(es), maxHubDeg = 64).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(got == pairsOf(adj, 64).map { case (p, g) => p -> g.size.toLong })
    assert(got.size < 20) // through the hub it would be 5000 * 4999 / 2
  }
}
