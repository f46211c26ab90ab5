package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.matcher.BgpMatcher
import graft.matcher.BgpMatcher.PatternEdge
import graft.measures.{CoreMeasures, Degrees, DistributionMeasures}

class MatcherSpec extends AnyFunSuite {
  import SparkTestSession.spark
  import spark.implicits._

  val edges = Seq(
    ("a", "b", "knows"), ("b", "c", "knows"), ("a", "c", "likes"),
    ("c", "d", "knows"), ("d", "a", "likes")).toDF("src", "dst", "label")

  test("BGP: single labeled edge") {
    val m = BgpMatcher.find(edges, Seq(PatternEdge("x", "y", Some("likes"))))
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(m == Set(("a", "c"), ("d", "a")))
  }

  test("BGP: 2-hop chain with vertex disjointness") {
    val m = BgpMatcher.find(edges, Seq(
      PatternEdge("x", "y", Some("knows")), PatternEdge("y", "z", Some("knows"))))
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    assert(m == Set(("a", "b", "c"), ("b", "c", "d")))
  }

  test("BGP: closed triangle pattern") {
    // x -knows-> y -knows-> z and x -likes-> z
    val m = BgpMatcher.find(edges, Seq(
      PatternEdge("x", "y", Some("knows")),
      PatternEdge("y", "z", Some("knows")),
      PatternEdge("x", "z", Some("likes"))))
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    assert(m == Set(("a", "b", "c")))
  }

  test("BGP maxN limits embeddings (lodcc max_n=3 analog)") {
    assert(BgpMatcher.find(edges, Seq(PatternEdge("x", "y", None)), maxN = 2).count() == 2)
  }

  test("template render (SF5)") {
    assert(BgpMatcher.render("SELECT {{x}} WHERE {{ y }}", Map("x" -> "?s", "y" -> "?s ?p ?o"))
      == "SELECT ?s WHERE ?s ?p ?o")
  }

  test("uri prefix/localname slicing (SF4)") {
    val r = Seq("<http://ex.org/a/b#name>", "<http://ex.org/path/leaf>")
      .toDF("uri")
      .select(BgpMatcher.uriPrefixLocal(org.apache.spark.sql.functions.col("uri")).as("p"))
      .select("p.prefix", "p.localname").collect()
    assert(r(0).getString(0) == "http://ex.org/a/b#" && r(0).getString(1) == "name")
    assert(r(1).getString(0) == "http://ex.org/path/" && r(1).getString(1) == "leaf")
  }

  test("query templates: embeddings instantiate SPARQL strings (lodcc 4th entry point)") {
    import graft.matcher.QueryTemplates
    val qs = QueryTemplates.instantiate(edges, QueryTemplates.l1, maxN = 2)
    assert(qs.nonEmpty && qs.size <= 2)
    qs.foreach { q =>
      // l1 projects the non-constant vertices (v1 is the e0_obj constant)
      assert(q.contains("SELECT ?v0 ?v2 ?v3 WHERE"))
      assert(!q.contains("{{"), s"unbound template var in: $q") // all slots bound
    }
    // 9-edge star s1 needs a hub with >= 8 distinct out-neighbors; the
    // 5-edge fixture has none
    assert(QueryTemplates.instantiate(edges, QueryTemplates.s1).isEmpty)
  }

  test(".sparql file sink: one file per instantiated query (generator.py:118-121)") {
    import graft.matcher.QueryTemplates
    val dir = java.nio.file.Files.createTempDirectory("sparql_out").toString
    val written = QueryTemplates.writeSparql(edges,
      Seq(QueryTemplates.l1, QueryTemplates.s1), dir, maxN = 2)
    val rendered = QueryTemplates.instantiate(edges, QueryTemplates.l1, maxN = 2)
    // s1 has no embedding on the fixture -> contributes no files
    assert(written.size == rendered.size && written.nonEmpty)
    written.zipWithIndex.foreach { case (p, i) =>
      assert(p.getFileName.toString == s"l1_$i.sparql")
      val back = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
      assert(back == rendered(i)) // file round-trips the rendered query
    }
  }

  test("full WatDiv inventory: 20 templates, 4 families, all instantiable") {
    import graft.matcher.QueryTemplates
    assert(QueryTemplates.all.size == 20)
    assert(QueryTemplates.all.map(_.family).distinct.sorted == Seq("C", "F", "L", "S"))
    assert(QueryTemplates.all.map(_.name).distinct.size == 20)
    QueryTemplates.all.foreach { t =>
      // sparql text renders with one line per edge and every const slot used
      assert(t.sparql.linesIterator.size == t.edges.size + 2, t.name)
      t.constSlots.foreach(s => assert(t.sparql.contains(s"{{$s}}"), s"${t.name}:$s"))
      // every template instantiates against the fixture without error
      // (most find no embedding on 5 edges — that's the reference's
      // "No isomorphisms found" path)
      QueryTemplates.instantiate(edges, t, maxN = 1).foreach { q =>
        assert(!q.contains("{{"), s"unbound slot in ${t.name}: $q")
      }
    }
    // per-edge WatDiv predicate intents recorded (query_graphs.py comments)
    assert(QueryTemplates.l2.edges.flatMap(_.label) ==
      Seq("wsdbm:likes", "sorg:nationality", "gn:parentCountry"))
  }

  test("labeled snowflake f1 finds exactly the planted embedding") {
    import graft.matcher.QueryTemplates
    // plant one f1 embedding: hub h -genre-> m, m -tag-> t, m -type-> c1,
    // h -trailer-> tr, h -type-> c2, h -keywords-> kw ... plus decoys
    val g = Seq(
      ("m", "t", "og:tag"), ("m", "c1", "rdf:type"),
      ("h", "m", "wsdbm:hasGenre"), ("h", "tr", "sorg:trailer"),
      ("h", "c2", "rdf:type"), ("h", "kw", "sorg:keywords"),
      // decoys: right structure, wrong labels
      ("h2", "m", "wsdbm:likes"), ("m", "x", "sorg:caption"))
      .toDF("src", "dst", "label")
    val rows = BgpMatcher.find(g, QueryTemplates.f1.labeled(identity)).collect()
    assert(rows.length == 1)
    val m = BgpMatcher.find(g, QueryTemplates.f1.labeled(identity), keepEdgeLabels = true)
    val r = m.head()
    val byName = m.columns.zipWithIndex.map { case (c, i) => c -> r.getString(i) }.toMap
    assert(byName("v0") == "m" && byName("v3") == "h" && byName("e0") == "og:tag")
    // structural instantiation (the reference's mode): on the decoy-free
    // planted graph the star legs are symmetric, so exactly
    // 2 (e0/e1 swap at v0) x 3! (v4,v5,v6 legs at v3) = 12 isomorphisms —
    // graph-tool's subgraph_isomorphism returns the same multiplicity
    val clean = g.where(org.apache.spark.sql.functions.col("label").isin(
      "og:tag", "rdf:type", "wsdbm:hasGenre", "sorg:trailer", "sorg:keywords"))
    val qs = QueryTemplates.instantiate(clean, QueryTemplates.f1, maxN = 0)
    assert(qs.size == 12)
    qs.foreach(q => assert(!q.contains("{{"), s"unbound slot: $q"))
    // the label-faithful rendering appears among them, constants filled from
    // the matched vertices (e0_obj -> t, e4_obj -> the matched v5)
    assert(qs.exists(q => q.contains("?v0 og:tag t .") && q.contains("?v3 sorg:trailer tr .")))
  }

  test("disconnected pattern is rejected; connectable out-of-order pattern is reordered") {
    // two islands -> must throw, not silently go cartesian
    val bad = Seq(PatternEdge("a", "b"), PatternEdge("c", "d"))
    val ex = intercept[IllegalArgumentException](BgpMatcher.find(edges, bad))
    assert(ex.getMessage.contains("disconnected"))
    // edge 2 connects to edge 1 only through edge 3: greedy reorder handles it
    val outOfOrder = Seq(
      PatternEdge("x", "y", Some("knows")),
      PatternEdge("z", "w", Some("likes")), // shares nothing with edge 1 yet
      PatternEdge("y", "z", Some("knows")))
    val m = BgpMatcher.find(edges, outOfOrder)
      .select("x", "y", "z", "w").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3))).toSet
    // x-knows->y-knows->z-likes->w with all-distinct vertices:
    // a->b->c->d? c-likes->d? no: likes edges are (a,c),(d,a)
    // chains: a-b-c + c likes? none from c; b-c-d + d-likes->a: (b,c,d,a) ok
    assert(m == Set(("b", "c", "d", "a")))
  }

  test("pseudo-diameter with largest-component semantics on fixture") {
    val fixtureEdges = Seq(
      ("/John", "john@example.org", "m"), ("/John", "john@doe.org", "m"),
      ("/John", "/Researcher", "t"), ("/John", "/Rome", "b"),
      ("/Giacomo", "/Rome", "a"), ("/Piero", "/Rome", "a"),
      ("/Rome", "\"Roma\"@it", "n"),
      // second tiny component, must be ignored (LC wins)
      ("x1", "x2", "z")).toDF("src", "dst", "label")
    val row = CoreMeasures.pseudoDiameter(fixtureEdges).head()
    // LC = the 8-vertex John/Rome component; source = max out-degree = /John
    // BFS from /John: Rome=1, Roma=2 -> far=Roma d=2; Roma is a sink
    assert(row.getLong(0) == 2)
    assert(row.getString(1) == "/John")
    assert(row.getString(2) == "\"Roma\"@it")
  }

  test("powerlaw fit: DataFrame algorithm == in-memory reference implementation") {
    val histData: Seq[(Double, Long)] =
      (1 to 40).map(x => (x.toDouble, math.max(1L, math.round(2e5 * math.pow(x, -2.4)))))
    val (refAlpha, refXmin) = MatcherSpec.refFit(histData).get
    val r = DistributionMeasures.powerlawFit(histData.toDF("x", "cnt")).head()
    assert(r.getDouble(1) == refXmin, s"xmin ${r.getDouble(1)} != $refXmin")
    assert(math.abs(r.getDouble(0) - refAlpha) < 1e-9)
    assert(refAlpha > 1.0)
  }

  test("powerlaw fit: candidate cap thins the xmin sweep deterministically") {
    val histData: Seq[(Double, Long)] =
      (1 to 100).map(x => (x.toDouble, math.max(1L, math.round(1e6 * math.pow(x, -2.2)))))
    val hist = histData.toDF("x", "cnt")
    // capped sweep: only every 10th distinct value (ranks 0,10,...) is a
    // candidate; the fit still lands on one of them with a sane alpha
    val capped = DistributionMeasures.powerlawFit(hist, maxCandidates = 10).head()
    val sampled = (1 to 100).map(_.toDouble).zipWithIndex
      .collect { case (x, i) if i % 10 == 0 => x }.toSet
    assert(sampled.contains(capped.getDouble(1)))
    assert(capped.getDouble(0) > 1.0)
    // below the cap the sweep is exhaustive: identical to the default
    val full = DistributionMeasures.powerlawFit(hist).head()
    val explicit = DistributionMeasures.powerlawFit(hist, maxCandidates = 100).head()
    assert(full == explicit)
  }

  test("powerlaw fit: alpha formula exact on a two-point tail") {
    // xmin candidates {1,2}; verify MLE alpha = 1 + n/sum(cnt*ln(x/xmin))
    val hist = Seq((1.0, 80L), (2.0, 20L)).toDF("x", "cnt")
    val r = DistributionMeasures.powerlawFit(hist).head()
    val bestAlpha = 1.0 + 100.0 / (20.0 * math.log(2.0)) // xmin=1 candidate
    assert(r.getDouble(1) == 1.0)
    assert(math.abs(r.getDouble(0) - bestAlpha) < 1e-9)
  }
}

object MatcherSpec {

  /** Independent in-memory implementation of the CSN power-law fit spec
    * over a histogram (x, cnt): (alpha, xmin), or None when no xmin
    * candidate has a tail of two distinct values. */
  def refFit(h: Seq[(Double, Long)]): Option[(Double, Double)] = {
    val pos = h.filter(_._1 > 0).sortBy(_._1)
    val cands = pos.map(_._1)
    val scored = cands.flatMap { xmin =>
      val tail = pos.filter(_._1 >= xmin)
      val nt = tail.map(_._2).sum
      val sumlog = tail.map { case (x, c) => c * math.log(x / xmin) }.sum
      if (sumlog <= 0 || tail.size < 2) None
      else {
        val alpha = 1.0 + nt / sumlog
        var cum = 0L
        val ks = tail.map { case (x, c) =>
          cum += c
          math.abs(cum.toDouble / nt - (1.0 - math.pow(x / xmin, 1.0 - alpha)))
        }.max
        Some((xmin, alpha, ks))
      }
    }
    scored.minByOption { case (xmin, _, ks) =>
      (math.round(ks * 1e9), xmin)
    }.map(best => (best._2, best._1))
  }
}
