package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{Dedup, Similarity, Skew, TextOps}

class OpsSpec extends AnyFunSuite {
  import SparkTestSession.spark
  import spark.implicits._

  val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy cat"), // near-dup of 1
    (3L, "completely different text about spark engines"),
    (4L, "the quick brown fox jumps over the lazy dog"), // exact dup of 1
    (5L, "tiny")).toDF("doc_id", "text")

  test("shingles: size-k+1 per doc, empty for short docs") {
    val sh = TextOps.shingles(docs, "doc_id", "text", 3)
    val counts = sh.groupBy("doc_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(counts(1L) == 7) // 9 tokens -> 7 shingles
    assert(!counts.contains(5L)) // 1 token -> none
    assert(sh.where($"doc_id" === 1).orderBy("pos").limit(1).head().getString(2)
      == "the quick brown")
  }

  test("bigramLogProb: hand-computed interpolated probabilities, short docs drop") {
    // corpus: "a b", "a b", "a c", "x" — c1: a=3, b=2, c=1, x=1, T=7
    // p(b|a) = 0.75*(2/3) + 0.25*(2/7); p(c|a) = 0.75*(1/3) + 0.25*(1/7)
    val corpus = Seq((1L, "a b"), (2L, "a b"), (3L, "a c"), (4L, "x"))
      .toDF("doc_id", "text")
    val got = graft.ops.TextOps.bigramLogProb(corpus, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val pba = 0.75 * (2.0 / 3.0) + 0.25 * (2.0 / 7.0)
    val pca = 0.75 * (1.0 / 3.0) + 0.25 * (1.0 / 7.0)
    assert(got(1L)._1 == 1L && math.abs(got(1L)._2 - math.log(pba)) < 1e-12)
    assert(math.abs(got(2L)._2 - math.log(pba)) < 1e-12)
    assert(math.abs(got(3L)._2 - math.log(pca)) < 1e-12)
    assert(!got.contains(4L)) // single-token doc has no bigram
  }

  test("jlProject: unbiased distance preservation on average; deterministic") {
    var st = 7L
    def nxt(): Double = {
      st = (st * 6364136223846793005L + 1442695040888963407L)
      (((st >>> 33) % 2000).toDouble - 1000.0) / 100.0
    }
    val embs = (0 until 40).map(i => (i.toLong, Array.fill(32)(nxt().toFloat)))
      .toDF("vec_id", "embedding")
    def collectProj() = graft.ops.Similarity
      .jlProject(embs, "vec_id", "embedding", outDim = 16)
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    val p = collectProj()
    assert(p.values.forall(_.length == 16))
    assert(collectProj().map { case (k, v) => k -> v.toSeq } ==
      p.map { case (k, v) => k -> v.toSeq }) // deterministic replay
    val orig = embs.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    def d2(a: Array[Double], b: Array[Double]) =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val ratios = for {
      i <- 0L until 40L; j <- (i + 1) until 40L
    } yield d2(p(i), p(j)) / d2(orig(i), orig(j))
    val mean = ratios.sum / ratios.size
    // E[ratio] = 1 for the +-1/sqrt(k) JL family; 780 pairs at k=16
    // concentrate the mean well inside this band
    assert(mean > 0.8 && mean < 1.2, s"mean distance ratio $mean")
  }

  test("pqTopK: m=1 with a full codebook degenerates to exact L2 ranking") {
    // every vector is its own codeword (own-sub-d2 = 0), so the ADC
    // distance IS the exact query->candidate d2 in micros
    var st = 31L
    def nxt(): Double = {
      st = (st * 6364136223846793005L + 1442695040888963407L)
      ((st >>> 33) % 1000).toDouble / 100.0
    }
    val embs = (0 until 20).map(i => (i.toLong, Array.fill(8)(nxt().toFloat)))
      .toDF("vec_id", "embedding")
    val got = graft.ops.Similarity.pqTopK(embs, "vec_id", "embedding",
        $"vec_id" < 5, m = 1, nCodes = 20, k = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    val vecs = embs.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    (0L until 5L).foreach { q =>
      val exact = vecs.keys.filter(_ != q).toSeq
        .map(c => (vecs(q).zip(vecs(c)).map { case (a, b) => (a - b) * (a - b) }.sum, c))
        .sortBy { case (d, c) => (d, c) }.take(3).map(_._2)
      val pq = (1 to 3).map(r => got((q, r)))
      assert(pq == exact, s"query $q: pq=$pq exact=$exact")
    }
  }

  test("pqTopK: m=4 compressed codes keep recall on clustered data") {
    // 4 tight clusters of 8 vectors; with 16 codewords the top-3 of each
    // query should stay inside its own cluster (recall 1.0 here)
    val embs = (0 until 32).map { i =>
      val c = i % 4
      (i.toLong, Array.tabulate(8)(d => (c * 10.0 + (i / 4) * 0.01 * (d + 1)).toFloat))
    }.toDF("vec_id", "embedding")
    val got = graft.ops.Similarity.pqTopK(embs, "vec_id", "embedding",
        $"vec_id" < 4, m = 4, nCodes = 16, k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(2)))
    got.foreach { case (q, n) =>
      assert(n % 4 == q % 4, s"query $q left its cluster: neighbor $n")
    }
  }

  test("exact dedup groups") {
    val g = Dedup.exactGroups(docs, "doc_id", "text").collect()
    val dupGroup = g.filter(_.getLong(2) > 1)
    assert(dupGroup.length == 1 && dupGroup.head.getLong(1) == 1L
      && dupGroup.head.getLong(2) == 2L) // keeps min id 1, size 2
  }

  test("topNgrams: exact per-group top-k, deterministic tie-break, salted == unsalted") {
    val d = Seq(
      (1L, "a b a b a c", "en"), // bigrams: "a b"x2, "b a"x2, "a c"
      (2L, "a b x y", "en"), // "a b" -> 3 total in en
      (3L, "q r q r", "fr") // "q r"x2, "r q"
    ).toDF("doc_id", "text", "lang")
    val top = TextOps.topNgrams(d, "text", "lang", n = 2, k = 2)
      .collect().map(r => (r.getAs[String]("lang"), r.getAs[String]("gram"),
        r.getAs[Long]("cnt"), r.getAs[Long]("rank"))).toSet
    assert(top == Set(
      ("en", "a b", 3L, 1L),
      ("en", "b a", 2L, 2L), // beats "a c"x1; ties broken gram-asc
      ("fr", "q r", 2L, 1L),
      ("fr", "r q", 1L, 2L)))
    // the salted two-phase finish is exact: many buckets == single bucket
    val rnd = new scala.util.Random(3)
    val big = (0 until 200).map(i =>
      (i.toLong, Seq.fill(12)("w" + rnd.nextInt(30)).mkString(" "), "g" + (i % 2)))
      .toDF("doc_id", "text", "lang")
    def rows(sb: Int) = TextOps.topNgrams(big, "text", "lang", 2, 7, saltBuckets = sb)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
    assert(rows(64) == rows(1))
  }

  test("duplicateSpans: cross-doc spans flagged, self-repeats don't count, short docs skipped") {
    val boiler = "SHARED-BOILERPLATE-PARAGRAPH-0123456789-ABCDEFGHIJ" // 50 chars
    val d = Seq(
      (1L, "unique prefix one " + boiler + " tail one"), // len 77
      (2L, "a different lead-in text " + boiler + " other tail"),
      (3L, "completely unrelated content with nothing shared at all here ok"),
      (4L, "xy" * 30), // 60 chars of self-repetition, no cross-doc sharing
      (5L, "short")
    ).toDF("doc_id", "text")
    // stride=1 guarantees any shared substring of length >= width is caught
    val res = Dedup.duplicateSpans(d, "doc_id", "text", width = 40, stride = 1)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_spans"), r.getAs[Long]("dup_spans"))).toMap
    assert(!res.contains(5L)) // shorter than width -> no spans, no row
    assert(res(1L)._1 == 38L) // 77 - 40 + 1 stride-1 windows
    // the shared region is " " + boiler + " " = 52 chars (both docs flank the
    // paragraph with spaces) -> 52 - 40 + 1 = 13 shared 40-wide windows each
    assert(res(1L)._2 == 13L && res(2L)._2 == 13L)
    assert(res(3L)._2 == 0L)
    assert(res(4L)._2 == 0L) // within-doc repetition is not cross-doc duplication
  }

  test("ngram jaccard finds the near-dup pair and the exact pair") {
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 4L))) // exact dup -> jaccard 1.0
    assert(pairs.contains((1L, 2L)) && pairs.contains((2L, 4L))) // near-dups
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("map-only minhash signatures == composed distinct/crossJoin/groupBy twin") {
    val native = Dedup.minhashSignatures(docs, "doc_id", "text", 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val composed = Twins.minhashSignaturesComposed(docs, "doc_id", "text", 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(native == composed) // incl. doc 5 ("tiny"): no shingles, no rows
    assert(!native.exists(_._1 == 5L))
  }

  test("minhash LSH candidates include exact dup, exclude unrelated") {
    val sigs = Dedup.minhashSignatures(docs, "doc_id", "text", 3)
    val cands = Dedup.minhashLshCandidates(sigs, 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cands.contains((1L, 4L)))
    assert(!cands.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("array-signature LSH path == exploded-signature path (both collapse modes)") {
    // the hot path feeds map-only array signatures straight into the LSH;
    // the legacy exploded shape reassembles them with a groupBy — the
    // candidate sets must be identical
    val sigs = Dedup.minhashSignatures(docs, "doc_id", "text", 3)
    val arrs = Dedup.minhashSignatureArrays(docs, "doc_id", "text", 3)
    // posexplode round-trip: arrays carry the same (i -> mh) map
    val reExploded = arrs.select(col("id"), posexplode(col("mhs")).as(Seq("i", "mh")))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(reExploded == sigs.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet)
    for (collapse <- Seq(true, false)) {
      val a = Dedup.minhashLshCandidatesArrays(arrs, 2, collapse)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val b = Dedup.minhashLshCandidates(sigs, 2, collapse)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(a == b, s"collapse=$collapse")
    }
  }

  test("simhash: identical docs identical hash; near-dups close") {
    val sh = TextOps.simhash16(docs, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sh(1L) == sh(4L))
    assert(java.lang.Long.bitCount(sh(1L) ^ sh(2L)) <= 6)
    val pairs = Dedup.simhashPairs(docs, "doc_id", "text", 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 4L))) // hamming 0
  }

  test("ngram jaccard df-cap: stop-shingle corpus stays bounded, scores stay exact") {
    // pathological blocking key: one shingle shared by every doc. Uncapped,
    // candidates = n*(n-1)/2 ~ 1.25M; with the cap, only the planted
    // rare-shingle pair survives candidate generation.
    val n = 200
    val hot = (0 until n).map(i => (i.toLong, s"common stop shingle unique$i tail$i"))
    val planted = Seq(
      (9000L, "rare marker phrase alpha beta"),
      (9001L, "rare marker phrase gamma delta"))
    val corpus = (hot ++ planted).toDF("doc_id", "text")
    val pairs = Dedup.ngramJaccardPairs(corpus, "doc_id", "text", k = 3,
      minJ = 0.0, maxDf = 10).collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((9000L, 9001L)))
    // jaccard EXACT over full shingle sets: docs have 3 shingles each,
    // share 1 ("rare marker phrase") -> 1/5
    assert(math.abs(pairs.head.getDouble(2) - 0.2) < 1e-12)
    // maxDf <= 0 disables the cap: the hot key explodes candidates again
    val uncapped = Dedup.ngramJaccardPairs(
      corpus.where($"doc_id" < 20), "doc_id", "text", 3, 0.0, maxDf = 0)
    assert(uncapped.count() == 20L * 19 / 2)
  }

  test("native simhash == composed explode/agg twin at 16 and 60 bits") {
    val corpus = docs.union(Seq((9L, "")).toDF("doc_id", "text"))
    for (bits <- Seq(16, 60)) {
      val native = TextOps.simhash(corpus, "doc_id", "text", bits)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val composed = Twins.simhashComposed(corpus, "doc_id", "text", bits)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(native == composed, s"bits=$bits")
    }
  }

  test("simhash 60-bit banding: lossless for hamming<=maxHamming, parity with brute force") {
    val sh = TextOps.simhash(docs, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sh(1L) == sh(4L))
    assert(sh.values.forall(v => v >= 0 && v < (1L << 60)))
    // uncollapsed banded pairs == brute-force pairs at the same threshold;
    // collapsed pairs are a subset with the same transitive closure
    for (maxH <- Seq(3, 5)) {
      val brute = (for {
        (a, ha) <- sh.toSeq; (b, hb) <- sh.toSeq
        if a < b && java.lang.Long.bitCount(ha ^ hb) <= maxH
      } yield (a, b)).toSet
      val banded = Dedup.simhashPairs(docs, "doc_id", "text", maxH, collapse = false)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(banded == brute, s"maxHamming=$maxH")
      val collapsed = Dedup.simhashPairs(docs, "doc_id", "text", maxH)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(collapsed.subsetOf(brute), s"maxHamming=$maxH")
      assert(components(collapsed) == components(brute), s"maxHamming=$maxH")
    }
  }

  /** Union-find closure of an undirected pair set -> canonical component map. */
  private def components(pairs: Set[(Long, Long)]): Map[Long, Long] = {
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

  test("LSH banding: identical-doc cluster of g yields O(g) candidates, not g^2/2") {
    // the web-scale pathology (VERDICT r2 #1): g byte-identical documents
    // share every band signature; uncollapsed banding puts g^2/2 pairs on
    // one (band, sig) key. Collapsed: g-1 star rows per cluster.
    val g = 10000
    val cluster = (0 until g).map(i => (i.toLong, "the same boilerplate text repeated everywhere"))
    val extra = Seq((20000L, "one unrelated document about spark physical plans"))
    val corpus = spark.createDataFrame(cluster ++ extra).toDF("doc_id", "text")
      .repartition(8)

    val sigs = Dedup.minhashSignatures(corpus, "doc_id", "text", 3)
    val mh = Dedup.minhashLshCandidates(sigs, 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(mh.length == g - 1) // stars only; rep collides with nothing else
    assert(mh.forall(_._1 == 0L)) // hub = min id
    assert(mh.map(_._2).toSet == (1 until g).map(_.toLong).toSet)

    val sp = Dedup.simhashPairs(corpus, "doc_id", "text", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(sp.length == g - 1)
    assert(sp.forall(_._1 == 0L))
  }

  test("simhash degenerate-band guard: bands past `bits` never collapse to key 0") {
    // bits=5, maxHamming=3 -> 4 bands; old uniform ceil width (2 bits) put
    // band 3 at bit offset 6 >= 5: key 0 for every doc = all-pairs. The
    // variable-width bands (2,1,1,1) keep every band on real bits.
    val far = Seq((1L, "alpha beta gamma delta"), (2L, "omicron pi rho sigma tau"))
      .toDF("doc_id", "text")
    val sh = TextOps.simhash(far, "doc_id", "text", bits = 5).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ham = java.lang.Long.bitCount(sh(1L) ^ sh(2L))
    val pairs = Dedup.simhashPairs(far, "doc_id", "text", maxHamming = 3, bits = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // parity with brute force at this tiny width: pair present iff ham <= 3
    assert(pairs.contains((1L, 2L)) == (ham <= 3))
  }

  test("embedding cosine pairs: sub-blocking caps oversized blocks, small blocks exact") {
    val embs = (0 until 60).map { i =>
      val v = Array.tabulate(8)(d => math.sin(i * 37 + d).toFloat)
      (i.toLong, v, if (i < 50) "big" else "small")
    }.toDF("vec_id", "embedding", "label")
    val exact = Dedup.embeddingCosinePairs(embs, "vec_id", "embedding", "label", 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val guarded = Dedup.embeddingCosinePairs(embs, "vec_id", "embedding", "label", 0.3,
      maxBlock = 20, subBlockPlanes = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // guard only DROPS pairs split by a hyperplane inside the big block
    assert(guarded.subsetOf(exact))
    // the small block (size 10 <= maxBlock) is untouched: its pairs all survive
    val smallExact = exact.filter(_._1 >= 50)
    assert(smallExact.subsetOf(guarded))
    // a large maxBlock leaves everything exact
    val loose = Dedup.embeddingCosinePairs(embs, "vec_id", "embedding", "label", 0.3,
      maxBlock = 1000).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(loose == exact)
  }

  test("winnowing fingerprints: exact dups share all fingerprints") {
    val fp = TextOps.fingerprints(docs, "doc_id", "text", 3, 4)
    val byDoc = fp.collect().groupBy(_.getLong(0))
      .map { case (k, v) => k -> v.map(_.getLong(1)).toSet }
    assert(byDoc(1L) == byDoc(4L))
    assert((byDoc(1L) intersect byDoc(3L)).isEmpty)
  }

  test("brute-force knn: exact dup embedding ranks first with sim 1") {
    val embs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(1.0f, 0.0f, 0.0f)),
      (2L, Array(0.0f, 1.0f, 0.0f)),
      (3L, Array(0.9f, 0.1f, 0.0f))).toDF("vec_id", "embedding")
    val knn = Similarity.bruteForceTopK(embs, "vec_id", "embedding", $"vec_id" === 0, 3)
      .orderBy("rank").collect()
    assert(knn(0).getLong(2) == 1L && knn(0).getDouble(3) == 1.0)
    assert(knn(1).getLong(2) == 3L)
    assert(knn(2).getLong(2) == 2L && knn(2).getDouble(3) == 0.0)
  }

  test("lsh bucket ANN returns same top neighbor as brute force for dup") {
    val embs = Seq(
      (0L, Array.fill(8)(1.0f)),
      (1L, Array.fill(8)(1.0f)),
      (2L, Array.fill(8)(-1.0f))).toDF("vec_id", "embedding")
    val r = Similarity.lshTopK(embs, "vec_id", "embedding", $"vec_id" === 0, 4, 1).collect()
    assert(r.length == 1 && r.head.getLong(2) == 1L)
  }

  test("multi-probe lsh: recovers neighbors one bit away, superset of single-probe") {
    // 40 vectors in 2 antipodal families with per-vector jitter — jitter
    // flips individual sign bits, so single-probe misses some same-family
    // neighbors that 1-bit probing recovers
    val embs = (0 until 40).map { i =>
      val base = if (i % 2 == 0) 1.0f else -1.0f
      (i.toLong, Array.tabulate(8)(d => base + 0.4f * math.sin(i * 7 + d * 3).toFloat))
    }.toDF("vec_id", "embedding")
    val single = Similarity.lshTopK(embs, "vec_id", "embedding", $"vec_id" < 6, 6, 5)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val multi = Similarity.lshTopKMultiProbe(embs, "vec_id", "embedding", $"vec_id" < 6, 6, 5)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    // multi-probe candidate pool ⊇ single-probe pool, so per-query result
    // count can only grow
    val singleCnt = single.groupBy(_._1).view.mapValues(_.size).toMap
    val multiCnt = multi.groupBy(_._1).view.mapValues(_.size).toMap
    singleCnt.foreach { case (q, c) => assert(multiCnt.getOrElse(q, 0) >= c) }
    // exact-dup sanity: identical vectors always bucket together
    val dup = Seq((0L, Array.fill(8)(1.0f)), (1L, Array.fill(8)(1.0f)),
      (2L, Array.fill(8)(-1.0f))).toDF("vec_id", "embedding")
    val r = Similarity.lshTopKMultiProbe(dup, "vec_id", "embedding", $"vec_id" === 0, 4, 1)
      .collect()
    assert(r.length == 1 && r.head.getLong(2) == 1L)
  }

  test("salted count == plain count; salted distinct == plain distinct") {
    val df = Seq.tabulate(1000)(i => ("k" + (i % 3), i % 50)).toDF("k", "v")
    val plain = df.groupBy("k").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val salted = Skew.saltedCount(df, col("k"), 8).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(plain == salted)
    val plainD = df.groupBy("k").agg(count_distinct(col("v"))).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val saltedD = Skew.saltedCountDistinct(df, col("k"), col("v"), 8).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(plainD == saltedD)
  }

  test("saltedJoin == plain inner join as a multiset (hot key included)") {
    // one hot key (900 of 1000 rows) — the case the salt exists for
    val left = Seq.tabulate(1000)(i =>
      (if (i < 900) "hot" else "k" + (i % 7), i.toLong)).toDF("k", "lv")
    val right = Seq(("hot", 1L), ("hot", 2L), ("k1", 3L), ("k2", 4L), ("zz", 5L))
      .toDF("k", "rv")
    def bag(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .groupBy(identity).view.mapValues(_.length).toMap
    val plain = bag(left.join(right, "k").select("k", "lv", "rv"))
    val salted = bag(Skew.saltedJoin(left, right, "k", 8).select("k", "lv", "rv"))
    assert(plain == salted && plain.nonEmpty)
  }

  test("frame sampling: every stride-th complete frame, incomplete tail dropped") {
    import graft.ops.Multimodal
    val media = Seq((1L, "abcdefghij"), (2L, "ab"), (3L, ""))
      .toDF("media_id", "t")
      .select(col("media_id"), col("t").cast("binary").as("payload"))
    // 10 bytes / frameSize 3 -> complete frames abc def ghi ("j" dropped);
    // stride 2 keeps frames 0 and 2; 2-byte and empty payloads emit nothing
    val rows = Multimodal.frameSample(media, frameSize = 3, stride = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), new String(r.getAs[Array[Byte]](2), "UTF-8")))
    assert(rows.toSet == Set((1L, 0L, "abc"), (1L, 2L, "ghi")))
  }

  test("feature stub: deterministic formula, feeds similarity ops") {
    import graft.ops.Multimodal
    val media = Seq((1L, "abc"), (2L, "abc"), (3L, "zzzz"))
      .toDF("media_id", "t")
      .select(col("media_id"), col("t").cast("binary").as("payload"))
    val f = Multimodal.featureStub(media, dim = 8).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    def expected(s: String): Seq[Float] = {
      val b = s.getBytes("UTF-8")
      (0 until 8).map(d => (((b((d * 7) % b.length) & 0xff) * 31 + d) % 13 - 6).toFloat)
    }
    assert(f(1L) == expected("abc") && f(2L) == expected("abc") && f(3L) == expected("zzzz"))
    // identical payloads -> identical vectors -> top neighbor with sim 1.0
    val knn = Similarity.bruteForceTopK(
      Multimodal.featureStub(media, dim = 8), "media_id", "features",
      col("media_id") === 1, k = 1).head()
    assert(knn.getLong(2) == 2L && knn.getDouble(3) == 1.0)
  }

  test("multimodal ops are byte-based: non-ASCII payloads use UTF-8 bytes, not chars") {
    // VERDICT r3 next #7: the oracle twins now index hex(encode(text)), so
    // the operators must be pinned to the identical UTF-8 byte view —
    // "héllo✓" is 6 chars but 9 bytes (h é=0xC3A9 l l o ✓=0xE29C93)
    import graft.ops.Multimodal
    val s = "héllo✓"
    val bytes = s.getBytes("UTF-8")
    assert(s.length == 6 && bytes.length == 9)
    val media = Seq((1L, s)).toDF("media_id", "t")
      .select(col("media_id"), col("t").cast("binary").as("payload"))
    val meta = Multimodal.decodeMeta(media).collect().head
    assert(meta.byte_len == 9L && meta.width == 9 && meta.height == 9)
    assert(meta.checksum ==
      bytes.zipWithIndex.map { case (b, i) => (b & 0xff).toLong * (i + 1) }.sum)
    // frame sampling cuts BYTE windows, even mid-codepoint: frameSize 4 on
    // 9 bytes -> complete frames [0,4) and [4,8), stride 1 keeps both
    val frames = Multimodal.frameSample(media, frameSize = 4, stride = 1)
      .collect().map(r => r.getLong(1) -> r.getAs[Array[Byte]](2).toSeq).toMap
    assert(frames == Map(0L -> bytes.slice(0, 4).toSeq, 1L -> bytes.slice(4, 8).toSeq))
    // feature stub indexes bytes: d=1 -> byte (1*7)%9=7 = 0x9C
    val f = Multimodal.featureStub(media, dim = 8).collect().head.getSeq[Float](1)
    val exp = (0 until 8).map(d => (((bytes((d * 7) % 9) & 0xff) * 31 + d) % 13 - 6).toFloat)
    assert(f == exp)
  }

  test("native dot product == HOF twin bit-for-bit; zip_with null semantics") {
    val df = (0 until 50).map { i =>
      (i.toLong,
        Array.tabulate(16)(d => math.sin(i * d + 1.0)),
        Array.tabulate(16)(d => math.cos(i - d * 1.0)))
    }.toDF("id", "a", "b")
    df.select(Similarity.dot($"a", $"b").as("n"), Twins.dotHof($"a", $"b").as("h"))
      .collect().foreach(r => assert(r.getDouble(0) == r.getDouble(1))) // bit-exact
    // empty arrays -> 0.0 (the HOF's aggregate zero)
    val z = Seq((Array.empty[Double], Array.empty[Double])).toDF("a", "b")
      .select(Similarity.dot($"a", $"b")).head()
    assert(z.getDouble(0) == 0.0)
    // length mismatch (zip_with pads null) and null elements -> null
    assert(Seq((Array(1.0, 2.0), Array(1.0))).toDF("a", "b")
      .select(Similarity.dot($"a", $"b")).head().isNullAt(0))
    assert(Seq((Seq(Option(1.0), None), Seq(Option(1.0), Option(2.0)))).toDF("a", "b")
      .select(Similarity.dot($"a", $"b")).head().isNullAt(0))
  }

  test("native sign-LSH bucket == composed explode/HOF/groupBy twin") {
    val embs = (0 until 80).map { i =>
      (i.toLong, Array.tabulate(12)(d => math.sin(i * 31 + d * 7).toFloat))
    }.toDF("vec_id", "embedding")
    for (planes <- Seq(1, 4, 8)) {
      val native = Similarity.lshBucket(embs, "vec_id", "embedding", planes)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val composed = Twins.lshBucketComposed(embs, "vec_id", "embedding", planes)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(native == composed, s"planes=$planes")
      assert(native.values.forall(b => b >= 0 && b < (1L << planes)))
    }
  }

  test("ivf ann: probing all lists == brute force; exact dup found at nProbe 1") {
    val embs = (0 until 60).map { i =>
      val c = i % 3 // 3 well-separated clusters
      (i.toLong, Array.tabulate(8)(d => (c * 10).toFloat + 0.1f * ((i + d) % 5)))
    }.toDF("vec_id", "embedding")
    val brute = Similarity.bruteForceTopK(embs, "vec_id", "embedding", $"vec_id" < 4, 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val full = Similarity.ivfTopK(embs, "vec_id", "embedding", $"vec_id" < 4,
      nCentroids = 4, nProbe = 4, k = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(full == brute) // probing every list degrades to exact search
    val dup = Seq((0L, Array.fill(8)(1.0f)), (1L, Array.fill(8)(1.0f)),
      (2L, Array.fill(8)(-5.0f)), (3L, Array.fill(8)(-5.1f)))
      .toDF("vec_id", "embedding")
    val r = Similarity.ivfTopK(dup, "vec_id", "embedding", $"vec_id" === 0,
      nCentroids = 2, nProbe = 1, k = 1).head()
    assert(r.getLong(2) == 1L && r.getDouble(3) == 1.0) // same vector, same list
  }

  test("ivf sampled fit: full-probe == brute force, recall at nProbe 2 >= 0.6") {
    val embs = (0 until 80).map { i =>
      val c = i % 4
      (i.toLong, Array.tabulate(8)(d => (c * 10).toFloat + 0.1f * ((i + d) % 5)))
    }.toDF("vec_id", "embedding")
    val brute = Similarity.bruteForceTopK(embs, "vec_id", "embedding", $"vec_id" < 8, 3)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    // probing every list is exact regardless of quantizer quality — holds
    // for the sampled fit too
    val full = Similarity.ivfTopK(embs, "vec_id", "embedding", $"vec_id" < 8,
      nCentroids = 4, nProbe = 4, k = 3, fitFraction = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(full == brute)
    // sampled-fit recall vs brute force at nProbe 2 of 4
    val approx = Similarity.ivfTopK(embs, "vec_id", "embedding", $"vec_id" < 8,
      nCentroids = 4, nProbe = 2, k = 3, fitFraction = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (approx & brute).size.toDouble / brute.size
    assert(recall >= 0.6, s"recall=$recall")
  }

  test("ivf seeded quantizer: full-probe == brute force; map-only assignment finds dup") {
    val embs = (0 until 60).map { i =>
      val c = i % 3
      (i.toLong, Array.tabulate(8)(d => (c * 10).toFloat + 0.1f * ((i + d) % 5)))
    }.toDF("vec_id", "embedding")
    val brute = Similarity.bruteForceTopK(embs, "vec_id", "embedding", $"vec_id" < 4, 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val full = Similarity.ivfSeededTopK(embs, "vec_id", "embedding", $"vec_id" < 4,
      nCentroids = 4, nProbe = 4, k = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(full == brute)
    // identical vectors share a list under ANY quantizer: dup found at nProbe 1
    val dup = Seq((0L, Array.fill(8)(1.0f)), (1L, Array.fill(8)(1.0f)),
      (2L, Array.fill(8)(-5.0f)), (3L, Array.fill(8)(-5.1f)))
      .toDF("vec_id", "embedding")
    val r = Similarity.ivfSeededTopK(dup, "vec_id", "embedding", $"vec_id" === 0,
      nCentroids = 2, nProbe = 1, k = 1).head()
    assert(r.getLong(2) == 1L && r.getDouble(3) == 1.0)
  }

  test("bpe pre-tokenizer: contractions, space-prefixed runs, punctuation") {
    val r = Seq("the fox's 42 jumps, over!").toDF("text")
      .select(TextOps.bpeTokens(col("text")).as("t"))
      .head().getSeq[String](0)
    assert(r == Seq("the", " fox", "'s", " 42", " jumps", ",", " over", "!"))
  }

  test("ngram language id: trigram profile scoring with und fallback") {
    val d = Seq((1L, "the cat"), (2L, "der hund"), (3L, "xy"), (4L, "qqq"))
      .toDF("doc_id", "text")
    val out = TextOps.languageIdNgram(d, "doc_id", "text",
      Map("en" -> Seq("the", "he "), "de" -> Seq("der", "er "))).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    // "the cat": trigrams the/he / e c/... -> en score 2; de score 0
    assert(out == Map(1L -> "en", 2L -> "de", 3L -> "und", 4L -> "und"))
  }

  test("language id: marker scoring with deterministic tie-break") {
    val d = Seq((1L, "the cat sat"), (2L, "der hund"), (3L, "xyz qqq"))
      .toDF("doc_id", "text")
    val out = TextOps.languageId(d, "doc_id", "text",
      Map("en" -> Seq("the"), "de" -> Seq("der"))).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out == Map(1L -> "en", 2L -> "de", 3L -> "und"))
  }

  test("profile summarize: schema-driven metrics, nulls counted not aggregated") {
    val d = Seq((1L, Some("ab")), (2L, Some("xyz")), (3L, None))
      .toDF("id", "s")
    // exact path (the oracle form); the sketch is the production default
    val got = graft.ops.Profile.summarize(d, approxDistinct = false).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    assert(got(("id", "n_nulls")) == 0.0 && got(("id", "n_distinct")) == 3.0)
    assert(got(("id", "min")) == 1.0 && got(("id", "max")) == 3.0 && got(("id", "sum")) == 6.0)
    assert(got(("s", "n_nulls")) == 1.0 && got(("s", "n_distinct")) == 2.0)
    assert(got(("s", "min_len")) == 2.0 && got(("s", "max_len")) == 3.0)
    assert(got(("s", "sum_len")) == 5.0) // nulls contribute nothing
    assert(got.size == 10)
  }

  test("profile summarize: all-null / empty inputs keep NULL aggregates, counts stay 0") {
    // ADVICE r3: a coalesce-to-0.0 here fabricated min/max/sum statistics
    // for columns that have no data; SQL semantics (NULL) must survive
    val d = Seq((1L, Option.empty[String]), (2L, Option.empty[String]))
      .toDF("id", "s")
    val rows = graft.ops.Profile.summarize(d, approxDistinct = false).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap
    assert(rows(("s", "n_nulls")) == Some(2.0) && rows(("s", "n_distinct")) == Some(0.0))
    assert(rows(("s", "min_len")).isEmpty && rows(("s", "max_len")).isEmpty &&
      rows(("s", "sum_len")).isEmpty)
    val empty = graft.ops.Profile.summarize(d.where(col("id") < 0),
      approxDistinct = false).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap
    assert(empty(("id", "n_nulls")) == Some(0.0) && empty(("id", "n_distinct")) == Some(0.0))
    assert(empty(("id", "min")).isEmpty && empty(("id", "sum")).isEmpty)
  }

  test("profile summarize: sketch is the default distinct path") {
    val d = (0L until 1000L).map(i => Tuple1(s"k$i")).toDF("k")
    val defPlan = graft.ops.Profile.summarize(d).queryExecution.executedPlan.toString
    assert(defPlan.contains("approx_count_distinct"), defPlan.take(500))
  }

  test("profile summarize: approx distinct within 5% on 1000 distinct keys") {
    val d = (0L until 1000L).map(i => Tuple1(s"k$i")).toDF("k")
    val got = graft.ops.Profile.summarize(d, approxDistinct = true).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    val est = got(("k", "n_distinct"))
    assert(math.abs(est - 1000.0) / 1000.0 < 0.05, s"estimate $est")
  }

  test("incrementalNew: novel-vs-snapshot plus first-in-batch, hash appended") {
    val seen = Seq(Tuple1("a")).toDF("text")
      .select(md5(col("text")).as("text_hash"))
    val batch = Seq((10L, "a"), (11L, "b"), (12L, "b"), (13L, "c"))
      .toDF("doc_id", "text")
    val got = Dedup.incrementalNew(batch, seen, "doc_id", "text").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
    assert(got == Map(11L -> "b", 13L -> "c"))
  }

  test("tfidf cosine pairs: hand-computed cosine, exact over full vectors") {
    val d = Seq((1L, "apple banana apple"), (2L, "apple banana"), (3L, "cherry date"))
      .toDF("doc_id", "text")
    // N=3; df(apple)=df(banana)=2, idf=ln(1.5); d1=(2,1)*idf, d2=(1,1)*idf
    // cos(d1,d2) = 3/sqrt(10); d3 shares no term with d1/d2 -> no pair
    val got = Dedup.tfidfCosinePairs(d, "doc_id", "text", minCos = 0.0, maxDf = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(got.keySet == Set((1L, 2L)))
    assert(math.abs(got((1L, 2L)) - 3.0 / math.sqrt(10)) < 1e-12)
  }

  test("tfidf cosine pairs: df cap drops hot terms from candidate generation") {
    val d = Seq((1L, "apple banana apple"), (2L, "apple banana"), (3L, "cherry date"))
      .toDF("doc_id", "text")
    // maxDf=1: apple/banana (df 2) are blocked keys; cherry/date live in one
    // doc only -> zero candidate pairs even though (1,2) has cosine ~0.95
    assert(Dedup.tfidfCosinePairs(d, "doc_id", "text",
      minCos = 0.0, maxDf = 1).count() == 0L)
  }

  test("groupCentroids: elementwise mean per group, long form") {
    val e = Seq(
      (1L, Array(1.0f, 2.0f), "g"), (2L, Array(3.0f, 6.0f), "g"),
      (3L, Array(10.0f, 0.0f), "h")
    ).toDF("vec_id", "embedding", "label")
    val got = Similarity.groupCentroids(e, "embedding", "label").collect()
      .map(r => (r.getString(0), r.getInt(1)) -> ((r.getDouble(2), r.getLong(3)))).toMap
    assert(got == Map(
      ("g", 0) -> ((2.0, 2L)), ("g", 1) -> ((4.0, 2L)),
      ("h", 0) -> ((10.0, 1L)), ("h", 1) -> ((0.0, 1L))))
  }

  test("tfidf keywords: idf beats raw frequency, deterministic ranking") {
    val d = Seq((1L, "apple apple banana"), (2L, "banana cherry"), (3L, "date"))
      .toDF("doc_id", "text")
    val got = TextOps.tfidfKeywords(d, "doc_id", "text", k = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getString(2)).toMap
    // d2: cherry (df 1, idf ln3) outweighs the doc's own banana (df 2)
    assert(got((1L, 1L)) == "apple" && got((1L, 2L)) == "banana")
    assert(got((2L, 1L)) == "cherry" && got((2L, 2L)) == "banana")
    assert(got((3L, 1L)) == "date" && !got.contains((3L, 2L)))
  }

  test("chunkByTokens: overlap stride, short-doc single chunk, empty emits none") {
    val d = Seq(
      (1L, "t0 t1 t2 t3 t4 t5 t6 t7 t8 t9"), // 10 toks, chunk 4 overlap 1
      (2L, "a b"), // shorter than one chunk
      (3L, "") // no tokens
    ).toDF("doc_id", "text")
    val got = TextOps.chunkByTokens(d, "doc_id", "text", 4, 1).collect()
      .map(r => (r.getLong(0), r.getInt(1)) ->
        ((r.getInt(2), r.getString(3)))).toMap
    assert(got == Map(
      (1L, 0) -> ((4, "t0 t1 t2 t3")),
      (1L, 1) -> ((4, "t3 t4 t5 t6")),
      (1L, 2) -> ((4, "t6 t7 t8 t9")),
      (2L, 0) -> ((2, "a b"))))
    // no overlap: exact partition, short tail kept
    val nv = TextOps.chunkByTokens(
      Seq((9L, "a b c d e")).toDF("doc_id", "text"), "doc_id", "text", 2)
      .collect().map(r => r.getInt(1) -> r.getString(3)).toMap
    assert(nv == Map(0 -> "a b", 1 -> "c d", 2 -> "e"))
  }

  test("inverted index: postings sorted by doc, stop-term guard binds pre-collect") {
    val d = Seq((1L, "a b a"), (2L, "b c"), (3L, "a")).toDF("doc_id", "text")
    val idx = TextOps.invertedIndex(d, "doc_id", "text", maxDf = 0).collect()
      .map { r =>
        val posts = r.getSeq[org.apache.spark.sql.Row](3)
          .map(p => (p.getLong(0), p.getLong(1)))
        r.getString(0) -> ((r.getLong(1), r.getLong(2), posts))
      }.toMap
    assert(idx("a") == ((2L, 3L, Seq((1L, 2L), (3L, 1L)))))
    assert(idx("b") == ((2L, 2L, Seq((1L, 1L), (2L, 1L)))))
    assert(idx("c") == ((1L, 1L, Seq((2L, 1L)))))
    // guard: df > 1 terms never reach the posting builder
    val kept = TextOps.invertedIndex(d, "doc_id", "text", maxDf = 1).collect()
      .map(_.getString(0)).toSet
    assert(kept == Set("c"))
  }

  test("kmeansLloyd: hand-traced 1-D Lloyd rounds converge to the two gaps") {
    import graft.ops.Similarity
    // seeds = ids 0,1 -> [0.0],[1.0]; round 1 pulls {1,10,11} to seed 1,
    // its centroid moves to 7.333333, round 2 re-splits at the true gap;
    // final assignment: {0,1} -> cluster 0 at c=0.5, {10,11} -> cluster 1
    // at c=10.5, every d2 = 0.25
    val d = Seq((0L, Seq(0.0f)), (1L, Seq(1.0f)), (2L, Seq(10.0f)), (3L, Seq(11.0f)))
      .toDF("vec_id", "embedding")
    val got = Similarity.kmeansLloyd(d, "vec_id", "embedding", k = 2, iters = 2)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(got == Map(0L -> ((0L, 0.25)), 1L -> ((0L, 0.25)),
      2L -> ((1L, 0.25)), 3L -> ((1L, 0.25))))
  }

  test("kmeansLloyd: iters=0 assigns against the raw seeds; empty cluster drops") {
    import graft.ops.Similarity
    // seeds 0,1 = [0],[100]; everything is nearer seed 0 except id 1 itself
    val d = Seq((0L, Seq(0.0f)), (1L, Seq(100.0f)), (2L, Seq(1.0f)))
      .toDF("vec_id", "embedding")
    val a0 = Similarity.kmeansLloyd(d, "vec_id", "embedding", k = 2, iters = 0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a0 == Map(0L -> 0L, 1L -> 1L, 2L -> 0L))
    // one round: centroids [0.5] and [100]; same split, now with moved c0
    val a1 = Similarity.kmeansLloyd(d, "vec_id", "embedding", k = 2, iters = 1)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(a1 == Map(0L -> ((0L, 0.25)), 1L -> ((1L, 0.0)), 2L -> ((0L, 0.25))))
  }

  test("semDedup: within-cluster dups drop the centroid-closer point") {
    import graft.ops.Similarity
    // k=2, iters=1, hand-traced: seeds (1,0),(2,0); after one update the
    // final clusters are {0,1} (cid 1, centroid (2,0)) and {2,3} (cid 0,
    // centroid (1/3, 4/3)). Both pairs are colinear (cosine 1), so the
    // SemDeDup rule keeps the point FARTHER from its centroid: id 0
    // (d2=1.0 vs 0.0) and id 3 (d2~2.89 vs ~0.22)
    val d = Seq((0L, Seq(1.0f, 0.0f)), (1L, Seq(2.0f, 0.0f)),
      (2L, Seq(0.0f, 1.0f)), (3L, Seq(0.0f, 3.0f))).toDF("vec_id", "embedding")
    val got = Similarity.semDedup(d, "vec_id", "embedding", k = 2, iters = 1,
      minCos = 0.9)
      .collect().map(r => r.getLong(0) -> r.getBoolean(r.fieldIndex("dropped")))
      .toMap
    assert(got == Map(0L -> false, 1L -> true, 2L -> true, 3L -> false))
  }

  test("semDedup: equal centroid distance drops the larger id") {
    import graft.ops.Similarity
    // k=1: identical points 0 and 1 tie on d2 -> 1 drops; 2 is dissimilar
    // (cosine 0.707 < 0.9) and survives untouched
    val d = Seq((0L, Seq(1.0f, 0.0f)), (1L, Seq(1.0f, 0.0f)),
      (2L, Seq(5.0f, 5.0f))).toDF("vec_id", "embedding")
    val got = Similarity.semDedup(d, "vec_id", "embedding", k = 1, iters = 1,
      minCos = 0.9)
      .collect().map(r => r.getLong(0) -> r.getBoolean(r.fieldIndex("dropped")))
      .toMap
    assert(got == Map(0L -> false, 1L -> true, 2L -> false))
  }

  test("unigramLogProb: hand-computed corpus unigram means; empty doc drops") {
    // corpus tokens: a x2, b x2, c x1 -> total 5
    val d = Seq((1L, "a a b"), (2L, "b c"), (3L, " "))
      .toDF("doc_id", "text")
    val got = TextOps.unigramLogProb(d, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(got.keySet == Set(1L, 2L)) // whitespace-only doc emits nothing
    assert(got(1L)._1 == 3L && got(2L)._1 == 2L)
    val lp04 = math.log(2.0 / 5.0)
    val lp02 = math.log(1.0 / 5.0)
    assert(math.abs(got(1L)._2 - lp04) < 1e-12) // a,a,b all p=0.4
    assert(math.abs(got(2L)._2 - (lp04 + lp02) / 2.0) < 1e-12)
    // rare-token documents score strictly lower than boilerplate
    assert(got(2L)._2 < got(1L)._2)
  }
}
