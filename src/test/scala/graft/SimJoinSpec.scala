package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{Dedup, SimJoin}

/** Exactness of the similarity self-joins: both ops claim COMPLETE
  * candidate generation, so each is held to multiset equality with the
  * brute-force cross-filter ground truth on adversarial corpora
  * (duplicates, empties, short strings, hot tokens).
  */
class SimJoinSpec extends AnyFunSuite {
  import SparkTestSession.spark
  import spark.implicits._

  // deterministic pseudo-random corpus: base words mutated by hand-rolled
  // LCG edits so true near-pairs exist at several distances
  private def mutCorpus(n: Int): Seq[(Long, String)] = {
    val alpha = "abcd"
    var st = 12345L
    def nxt(m: Int): Int = {
      st = (st * 6364136223846793005L + 1442695040888963407L)
      (((st >>> 33) % m) + m).toInt % m
    }
    (0 until n).map { i =>
      val base = "abcabcabdd".substring(0, 4 + nxt(7)).toCharArray
      val edits = nxt(4)
      var s = new String(base)
      (0 until edits).foreach { _ =>
        val op = nxt(3)
        val p = if (s.isEmpty) 0 else nxt(s.length)
        s = op match {
          case 0 if s.nonEmpty => s.updated(p, alpha(nxt(4))) // substitute
          case 1 => s.substring(0, p) + alpha(nxt(4)) + s.substring(p) // insert
          case _ if s.nonEmpty => s.substring(0, p) + s.substring(p + 1) // delete
          case _ => s
        }
      }
      (i.toLong, s)
    } ++ Seq((n.toLong, ""), (n + 1L, "a"), (n + 2L, "ab"), (n + 3L, ""))
  }

  private def bruteEd(corpus: Seq[(Long, String)], d: Int): Set[(Long, Long, Int)] =
    (for {
      (ia, sa) <- corpus; (ib, sb) <- corpus if ia < ib
      dist = {
        val m = Array.tabulate(sa.length + 1, sb.length + 1) { (i, j) =>
          if (i == 0) j else if (j == 0) i else 0
        }
        for (i <- 1 to sa.length; j <- 1 to sb.length)
          m(i)(j) = math.min(math.min(m(i - 1)(j) + 1, m(i)(j - 1) + 1),
            m(i - 1)(j - 1) + (if (sa(i - 1) == sb(j - 1)) 0 else 1))
        m(sa.length)(sb.length)
      } if dist <= d
    } yield (ia, ib, dist)).toSet

  test("editDistancePairs == brute force at d=1 and d=2 (mutation corpus w/ empties + shorts)") {
    val corpus = mutCorpus(80)
    val df = corpus.toDF("id", "str")
    Seq(1, 2).foreach { d =>
      val got = SimJoin.editDistancePairs(df, "id", "str", maxDist = d)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      assert(got == bruteEd(corpus, d), s"mismatch at d=$d")
    }
  }

  test("editDistancePairs: hand case — pigeonhole catches sub/ins/del, excludes d+1 edits") {
    val df = Seq((1L, "kitten"), (2L, "sitten"), (3L, "sittin"),
      (4L, "sitting"), (5L, "kettle")).toDF("id", "str")
    val got = SimJoin.editDistancePairs(df, "id", "str", maxDist = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    assert(got((1L, 2L)) == 1) // substitution
    assert(got((1L, 3L)) == 2) // two substitutions
    assert(got((2L, 4L)) == 2) // sub + insert
    assert(!got.contains((1L, 4L))) // kitten->sitting = 3
    assert(!got.contains((1L, 5L))) // kitten->kettle = 3
  }

  test("editDistancePairs: short-string guard raises past maxShortBlock") {
    val df = (0 until 30).map(i => (i.toLong, "ab")).toDF("id", "str")
    val ex = intercept[Exception] {
      SimJoin.editDistancePairs(df, "id", "str", maxDist = 2, maxShortBlock = 10)
        .count()
    }
    assert(ex.getMessage != null)
  }

  test("sortedNeighborhoodPairs: exactly the rank pairs within the window (dup keys, ties)") {
    val recs = Seq(("r1", "bb"), ("r2", "aa"), ("r3", "aa"),
      ("r4", "cc"), ("r5", "bb"), ("r6", "ab")).toDF("id", "key")
    // sort by (key, id): r2 r3 r6 r1 r5 r4 — all pairs with rank gap < 3
    val got = SimJoin.sortedNeighborhoodPairs(recs, "id", "key", window = 3)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    val order = Seq("r2", "r3", "r6", "r1", "r5", "r4")
    val want = (for {
      i <- order.indices; j <- order.indices if j > i && j - i < 3
    } yield (order(i), order(j), (j - i).toLong)).toSet
    assert(got == want)
  }

  test("sortedNeighborhoodPairs: random corpus matches the O(n*w) ground truth") {
    var st = 777L
    def nxt(m: Int): Int = {
      st = (st * 6364136223846793005L + 1442695040888963407L)
      (((st >>> 33) % m) + m).toInt % m
    }
    val recs = (0 until 120).map(i => (f"id$i%03d", s"k${nxt(30)}%02d-${nxt(10)}"))
    val w = 5
    val got = SimJoin.sortedNeighborhoodPairs(recs.toDF("id", "key"), "id", "key", w)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    val order = recs.sortBy(p => (p._2, p._1)).map(_._1)
    val want = (for {
      i <- order.indices; j <- order.indices if j > i && j - i < w
    } yield (order(i), order(j))).toSet
    assert(got == want)
    assert(got.size == (0 until 120).map(i => math.min(w - 1, 119 - i)).sum)
  }

  private def bruteJac(corpus: Seq[(Long, String)], t: Double): Set[(Long, Long)] =
    (for {
      (ia, sa) <- corpus; (ib, sb) <- corpus if ia < ib
      xa = sa.split(" +").filter(_.nonEmpty).toSet
      xb = sb.split(" +").filter(_.nonEmpty).toSet
      if xa.nonEmpty && xb.nonEmpty
      j = xa.intersect(xb).size.toDouble / xa.union(xb).size
      if j >= t
    } yield (ia, ib)).toSet

  test("prefixJaccardPairs == brute force at t=0.5 and t=0.75 (hot-token corpus)") {
    // every doc shares the hot tokens; only rare-token co-occurrence
    // should clear the threshold — exercises the anti-hot prefix claim
    var st = 999L
    def nxt(m: Int): Int = {
      st = (st * 6364136223846793005L + 1442695040888963407L)
      (((st >>> 33) % m) + m).toInt % m
    }
    val vocab = (0 until 40).map(i => s"w$i")
    val corpus = (0 until 60).map { i =>
      val n = 2 + nxt(6)
      val toks = Seq("the", "of") ++ (0 until n).map(_ => vocab(nxt(40)))
      (i.toLong, toks.distinct.mkString(" "))
    } ++ Seq((60L, "the of"), (61L, "the of"), (62L, ""))
    val df = corpus.toDF("id", "text")
    Seq(0.5, 0.75).foreach { t =>
      val got = SimJoin.prefixJaccardPairs(df, "id", "text", t)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == bruteJac(corpus, t), s"mismatch at t=$t")
    }
  }

  private def bruteCont(corpus: Seq[(Long, String)], t: Double): Set[(Long, Long)] =
    (for {
      (ia, sa) <- corpus; (ib, sb) <- corpus if ia != ib
      xa = sa.split(" +").filter(_.nonEmpty).toSet
      xb = sb.split(" +").filter(_.nonEmpty).toSet
      if xa.nonEmpty
      c = xa.intersect(xb).size.toDouble / xa.size
      if c >= t
    } yield (ia, ib)).toSet

  test("containmentPairs == brute force at t=0.8 and t=1.0; asymmetric directions distinct") {
    var st = 4242L
    def nxt(m: Int): Int = {
      st = (st * 6364136223846793005L + 1442695040888963407L)
      (((st >>> 33) % m) + m).toInt % m
    }
    val vocab = (0 until 30).map(i => s"w$i")
    val corpus = (0 until 50).map { i =>
      val n = 1 + nxt(8)
      (i.toLong, (0 until n).map(_ => vocab(nxt(30))).distinct.mkString(" "))
    } ++ Seq(
      (50L, "w0 w1 w2 w3 w4 w5 w6 w7 w8 w9"), // superset...
      (51L, "w0 w1 w2 w3 w4"),                // ...of this (containment 1.0 one way)
      (52L, ""))
    val df = corpus.toDF("id", "text")
    Seq(0.8, 1.0).foreach { t =>
      val got = SimJoin.containmentPairs(df, "id", "text", t)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == bruteCont(corpus, t), s"mismatch at t=$t")
    }
    val at1 = SimJoin.containmentPairs(df, "id", "text", 1.0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(at1.contains((51L, 50L))) // 51 fully inside 50
    assert(!at1.contains((50L, 51L))) // not the other way
  }

  test("prefixJaccardPairs: non-dyadic threshold keeps an exactly-on-boundary pair") {
    // |x| = 20, y ⊂ x with |y| = 14 -> J = 14/20 = 0.7 exactly; the naive
    // size filter computes 0.7*20 = 14.000000000000002 > 14 and would
    // prune it — the epsilon-relaxed pre-filters must let the exact
    // verify keep it
    val xs = (0 until 20).map(i => s"tok$i")
    val df = Seq((1L, xs.mkString(" ")), (2L, xs.take(14).mkString(" ")))
      .toDF("id", "text")
    val got = SimJoin.prefixJaccardPairs(df, "id", "text", 0.7)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(got.contains((1L, 2L)), "boundary pair pruned by float over-prune")
    assert(got((1L, 2L)) == 0.7)
  }

  test("prefixJaccardPairs: exact jaccard values and size-filter pruning") {
    val df = Seq(
      (1L, "a b c d"), (2L, "a b c e"), // J = 3/5
      (3L, "a b"), // vs 1: J = 2/4 = 0.5, size filter at t=0.75 prunes
      (4L, "x y z")).toDF("id", "text")
    val got = SimJoin.prefixJaccardPairs(df, "id", "text", 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(got((1L, 2L)) == 0.6)
    assert(got((1L, 3L)) == 0.5)
    assert(!got.contains((1L, 4L)))
    val strict = SimJoin.prefixJaccardPairs(df, "id", "text", 0.75)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(strict.isEmpty) // 0.6 < 0.75; (1,3) killed by the size filter
  }

  test("repeated ids are one document: one row per pair, scored on the union set") {
    // id 1 carries two rows; its set is the union of both rows' sets
    val rows = Seq((1L, "a b c d"), (1L, "a b c e"), (2L, "a b c d"))
    val df = rows.toDF("id", "text")
    def sets(k: Int): Map[Long, Set[String]] = rows.groupBy(_._1).map { case (id, rs) =>
      id -> rs.flatMap(_._2.split(" ").toSeq.sliding(k).map(_.mkString(" "))).toSet
    }
    def jac(a: Set[String], b: Set[String]) = (a & b).size.toDouble / (a | b).size
    def pairs(out: DataFrame): Seq[((Long, Long), Double)] =
      out.collect().toSeq.map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))

    val sh = sets(2)
    val ngram = pairs(Dedup.ngramJaccardPairs(df, "id", "text", k = 2, minJ = 0.0, maxDf = 2))
    assert(ngram == Seq((1L, 2L) -> jac(sh(1L), sh(2L)))) // 3/4

    val tok = sets(1)
    val prefix = pairs(SimJoin.prefixJaccardPairs(df, "id", "text", 0.5))
    assert(prefix == Seq((1L, 2L) -> jac(tok(1L), tok(2L)))) // 4/5

    val cont = pairs(SimJoin.containmentPairs(df, "id", "text", 0.5))
    assert(cont.size == 2 && cont.toMap == Map(
      (1L, 2L) -> (tok(1L) & tok(2L)).size.toDouble / tok(1L).size, // 4/5
      (2L, 1L) -> (tok(1L) & tok(2L)).size.toDouble / tok(2L).size)) // 1
  }

  test("src/main holds one overlap verify, one MinHash signature column, no exploded MinHash fork") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val root = Paths.get("src/main/scala")
    val files = Files.walk(root).iterator.asScala.filter(_.toString.endsWith(".scala"))
      .map(p => root.relativize(p).toString -> new String(Files.readAllBytes(p), "UTF-8")).toMap
    assert(files.contains("graft/ops/SimJoin.scala"), root.toAbsolutePath)
    def count(re: String): Map[String, Int] = files.map { case (f, src) =>
      f -> re.r.findAllIn(src).size
    }.filter(_._2 > 0)

    // the verify helper and EntityLinker's context scoring
    assert(count("""array_intersect""") ==
      Map("graft/ops/SimJoin.scala" -> 1, "graft/extract/EntityLinker.scala" -> 1))
    // one construction of the signature kernel (its definition aside)
    assert(count("""(?<!case class )MinhashSigs\(""") == Map("graft/ops/Dedup.scala" -> 1))
    for (gone <- Seq("""minhashSignatures\(""", """minhashLshCandidates\(""",
        "auditDrops", "auditBlocks", "simhash16"))
      assert(count(gone).isEmpty, s"$gone in ${count(gone).keys.mkString(", ")}")
  }
}
