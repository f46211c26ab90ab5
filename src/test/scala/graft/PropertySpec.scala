package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.measures.{CoreMeasures, Degrees, DistributionMeasures, RdfMeasures}

/** ScalaCheck invariants (SURVEY.md §5): conservation laws and bounds that
  * must hold for ANY edge table, checked on randomly generated graphs.
  */
class PropertySpec extends AnyFunSuite {
  import SparkTestSession.spark
  import spark.implicits._

  val edgeGen: Gen[List[(String, String, String)]] = for {
    n <- Gen.choose(1, 40)
    m <- Gen.choose(1, 120)
    edges <- Gen.listOfN(m, for {
      s <- Gen.choose(0, n - 1)
      o <- Gen.choose(0, n - 1)
      p <- Gen.choose(0, 4)
    } yield (s"v$s", s"v$o", s"p$p"))
  } yield edges

  /** Deterministic forAll over seeded ScalaCheck generators (the
    * scalatestplus bridge is not in the offline cache). */
  def forAllSeeded[A](gen: Gen[A], n: Int = 8)(body: A => Unit): Unit =
    (0 until n).foreach { i =>
      body(gen.pureApply(Gen.Parameters.default, Seed(42L + i)))
    }

  test("degree conservation: sum(out) = m = sum(in) = sum(predicate_degree)") {
    forAllSeeded(edgeGen) { es =>
      if (es.nonEmpty) {
        val edges = es.toDF("src", "dst", "label").cache()
        val m = edges.count()
        val d = Degrees.degrees(edges).agg(sum("out_deg"), sum("in_deg")).head()
        assert(d.getLong(0) == m && d.getLong(1) == m)
        val pd = edges.groupBy("label").count().agg(sum("count")).head()
        assert(pd.getLong(0) == m)
        edges.unpersist(false)
      }
    }
  }

  test("parallel_edges + m_unique = m; 0 <= fill <= fill_overall") {
    forAllSeeded(edgeGen) { es =>
      if (es.nonEmpty) {
        val edges = es.toDF("src", "dst", "label")
        val b = CoreMeasures.basic(edges).head()
        val m = b.getAs[Long]("m")
        assert(b.getAs[Long]("parallel_edges") + b.getAs[Long]("m_unique") == m)
        assert(b.getAs[Double]("fill") <= b.getAs[Double]("fill_overall") + 1e-15)
        assert(b.getAs[Double]("fill") >= 0.0)
      }
    }
  }

  test("0 <= gini <= 1 and h <= sqrt(2m) on total degree") {
    forAllSeeded(edgeGen) { es =>
      if (es.nonEmpty) {
        val edges = es.toDF("src", "dst", "label")
        val deg = Degrees.degrees(edges)
        val hist = Degrees.histograms(deg)("deg")
        val g = DistributionMeasures.gini(hist).get
        assert(g >= -1e-12 && g <= 1.0)
        val h = DistributionMeasures.hIndex(hist)
        assert(h <= math.sqrt(2.0 * es.size) + 1)
      }
    }
  }

  test("mean bounds: mean_out <= max_out; subject_object_ratio in [0,1]") {
    forAllSeeded(edgeGen) { es =>
      if (es.nonEmpty) {
        val edges = es.toDF("src", "dst", "label")
        val od = RdfMeasures.outDegree(edges).head()
        assert(od.getAs[Double]("mean_out_degree") <= od.getAs[Long]("max_out_degree") + 1e-12)
        val r = RdfMeasures.subjectObjectRatio(edges).head().getDouble(0)
        assert(r >= 0.0 && r <= 1.0)
      }
    }
  }

  test("hash stability: xxh64_hex deterministic and 16 lowercase hex chars") {
    forAllSeeded(Gen.listOfN(20, Gen.asciiPrintableStr), 4) { ss =>
      val out = ss.toDF("s")
        .select(graft.functions.gfunctions.xxh64_hex(col("s")).as("h"))
        .collect().map(_.getString(0))
      out.foreach(h => assert(h.matches("[0-9a-f]{16}")))
      assert(out.toSeq == ss.map(graft.functions.XxHash64Hex.hexOf))
    }
  }

  test("rate sweep yields nested samples with monotone sizes") {
    import SparkTestSession.spark.implicits._
    val edges = Seq.tabulate(400)(i => (s"v${i % 50}", s"v${(i * 3) % 50}", s"p${i % 7}"))
      .toDF("src", "dst", "label")
    val sweep = graft.sampling.Sampling
      .edgeSampleSweep(edges, Seq(0.1, 0.3, 0.5), seed = 11L)
      .map { case (k, df) => k -> df.collect().map(_.toSeq).toSet }
    val Seq((_, s1), (_, s2), (_, s3)) = sweep
    assert(s1.subsetOf(s2) && s2.subsetOf(s3)) // shared draw -> nested
    assert(s1.size <= s2.size && s2.size <= s3.size)
    assert(s1.size < s3.size && s3.size < 350) // strict growth, strict subset (w.h.p.)
  }

  test("sampling preserves schema and subsets rows") {
    forAllSeeded(edgeGen) { es =>
      if (es.nonEmpty) {
        val edges = es.toDF("src", "dst", "label")
        val s = graft.sampling.Sampling.vertexInducedSample(edges, 0.5, seed = 7)
        assert(s.schema == edges.schema)
        assert(s.count() <= edges.count())
      }
    }
  }

  // random doc corpora with planted duplicate clusters: a few word pools
  // produce identical and near-identical docs across ids
  val corpusGen: Gen[List[(Long, String)]] = for {
    n <- Gen.choose(4, 30)
    docs <- Gen.listOfN(n, for {
      pool <- Gen.choose(0, 3)
      len <- Gen.choose(3, 7)
      words <- Gen.listOfN(len, Gen.choose(0, 5).map(w => s"w${pool}_$w"))
    } yield words.mkString(" "))
  } yield docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }

  private def closure(pairs: Set[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(k => k -> find(k)).toMap
  }

  test("LSH collapse invariant: collapsed candidates ⊆ uncollapsed, same closure (minhash + simhash)") {
    import graft.ops.{Dedup, TextOps}
    forAllSeeded(corpusGen, n = 6) { ds =>
      val docs = ds.toDF("doc_id", "text").cache()

      val sigs = Dedup.minhashSignatureArrays(docs, "doc_id", "text", 3)
      def pairsOf(df: org.apache.spark.sql.DataFrame) =
        df.select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val mhC = pairsOf(Dedup.minhashLshCandidatesArrays(sigs, 2))
      val mhU = pairsOf(Dedup.minhashLshCandidatesArrays(sigs, 2, collapse = false))
      assert(mhC.subsetOf(mhU))
      assert(closure(mhC) == closure(mhU))

      val shC = pairsOf(Dedup.simhashPairs(docs, "doc_id", "text", 3))
      val shU = pairsOf(Dedup.simhashPairs(docs, "doc_id", "text", 3, collapse = false))
      assert(shC.subsetOf(shU))
      assert(closure(shC) == closure(shU))
      docs.unpersist(false)
    }
  }

  val eventGen: Gen[List[(Long, Long, String)]] = for {
    nUsers <- Gen.choose(1, 8)
    m <- Gen.choose(1, 60)
    evs <- Gen.listOfN(m, for {
      u <- Gen.choose(0, nUsers - 1)
      t <- Gen.choose(0L, 30L)
      ty <- Gen.oneOf("A", "B", "C")
    } yield (u.toLong, t, ty))
  } yield evs

  test("funnel == per-user greedy reference on random event logs") {
    forAllSeeded(eventGen) { es =>
      val df = es.map { case (u, t, ty) => (u, new java.sql.Timestamp(t * 1000L), ty) }
        .toDF("user_id", "ts", "event_type")
      val got = graft.ops.EventOps
        .funnel(df, "user_id", "ts", "event_type", Seq("A", "B", "C"))
        .collect().map(r => r.getAs[Long]("user") ->
          Seq(Option(r.getAs[Any]("t_1")), Option(r.getAs[Any]("t_2")),
            Option(r.getAs[Any]("t_3"))).flatten.map(_.asInstanceOf[Long] / 1000000L))
        .toMap
      // reference: greedy earliest chain per user, strict increase
      val expected = es.groupBy(_._1).flatMap { case (u, rows) =>
        var last = Long.MinValue
        val times = Seq("A", "B", "C").iterator.map { step =>
          val cands = rows.collect {
            case (_, t, ty) if ty == step && (last == Long.MinValue || t > last) => t
          }
          if (cands.isEmpty) None else { last = cands.min; Some(last) }
        }.takeWhile(_.isDefined).flatten.toSeq
        if (times.isEmpty) None else Some(u -> times)
      }
      assert(got == expected)
    }
  }

  test("chunking covers the token stream exactly; overlap offsets are pinned") {
    val textGen = Gen.listOfN(5, Gen.choose(0, 23).map(n =>
      (0 until n).map(i => s"w$i").mkString(" ")))
    forAllSeeded(textGen) { texts =>
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      // no overlap: concatenating a doc's chunks reproduces its tokens
      val whole = graft.ops.TextOps.chunkByTokens(df, "doc_id", "text", 4)
        .orderBy("doc_id", "chunk_idx")
        .collect().groupBy(_.getLong(0))
        .view.mapValues(_.map(_.getString(3)).filter(_.nonEmpty).mkString(" ")).toMap
      texts.zipWithIndex.foreach { case (t, i) =>
        val toks = t.split(" +").filter(_.nonEmpty).mkString(" ")
        if (toks.nonEmpty) assert(whole(i.toLong) == toks) else assert(!whole.contains(i.toLong))
      }
      // overlap 1: chunk c starts at token c*3 (stride) for every chunk
      graft.ops.TextOps.chunkByTokens(df, "doc_id", "text", 4, 1).collect()
        .foreach { r =>
          val toks = texts(r.getLong(0).toInt).split(" +").filter(_.nonEmpty)
          val start = r.getInt(1) * 3
          assert(r.getString(3) == toks.slice(start, start + 4).mkString(" "))
        }
    }
  }

  test("coOccurrence uncapped weights conserve sum d*(d-1)/2 over contexts") {
    forAllSeeded(edgeGen) { es =>
      val t = es.toDF("ctx", "item", "ignore").select("ctx", "item")
      // edgeGen draws items from at most 40 vertices: no context is capped
      val co = graft.graph.GraphTables.coOccurrence(t, "ctx", "item", maxContextDf = 40)
      val total = co.agg(coalesce(sum("weight"), lit(0L))).head().getLong(0)
      val expected = es.map(e => (e._1, e._2)).distinct.groupBy(_._1)
        .values.map { g => val d = g.size.toLong; d * (d - 1) / 2 }.sum
      assert(total == expected)
    }
  }
}
