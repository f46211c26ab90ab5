package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.QueryUtil

/** Physical-plan quality gates: these assert the *plan*, not the result —
  * a correct-but-mis-planned operator fails here (scan pruning, pushdown,
  * broadcast selection, no cartesian products in blocked ops).
  */
class PlanSpec extends AnyFunSuite {
  import SparkTestSession.spark
  import spark.implicits._

  val sf = "/root/testdata/sf0.001"

  def planOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("liEdges projects only the 3 needed lineitem columns (column pruning)") {
    val plan = planOf(QueryUtil.liEdges(spark, sf))
    assert(plan.contains("l_orderkey"))
    // pruned: price/discount/dates must not reach the scan
    assert(!plan.contains("l_extendedprice") && !plan.contains("l_shipdate"))
  }

  test("filter on derived edges pushes down to the parquet scan") {
    val df = spark.read.parquet(s"$sf/lineitem.parquet")
      .where($"l_suppkey" === 3)
      .select($"l_orderkey", $"l_partkey")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("l_suppkey"))
  }

  test("canonical map application: a SMALL mapping auto-broadcasts (no forced hint)") {
    // applyTo carries no broadcast hint (a corpus-scale dictionary must be
    // allowed to shuffle); Spark's size estimation still broadcasts the
    // gazetteer-sized case on its own — this pins that the small case
    // didn't lose its broadcast by dropping the hint
    val triples = Seq(("c", 0, "A", "p", "B")).toDF("conv_id", "turn_idx", "subj", "pred", "obj")
    val mapping = Seq(("A", "a")).toDF("surface", "canonical")
    val plan = planOf(graft.canon.Canonicalizer.applyTo(triples, mapping))
    assert(plan.contains("BroadcastHashJoin"), plan.take(500))
  }

  test("brute-force knn broadcasts the query side (no shuffle of the corpus)") {
    val embs = Seq.tabulate(50)(i => (i.toLong, Array.fill(4)(i.toFloat)))
      .toDF("vec_id", "embedding")
    val plan = planOf(graft.ops.Similarity.bruteForceTopK(
      embs, "vec_id", "embedding", $"vec_id" < 2, 3))
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"))
  }

  test("extraction plan is map-only after the conv_id repartition (single exchange)") {
    val turns = graft.io.Transcripts.generate(spark, 10, 2).toDF()
    val plan = planOf(graft.extract.Extractor.triples(turns, Some(4)))
    val exchanges = "Exchange".r.findAllIn(plan).length
    assert(exchanges == 1, s"expected exactly one shuffle, plan had $exchanges:\n${plan.take(800)}")
  }

  test("whole-stage codegen covers the extraction projection") {
    val turns = graft.io.Transcripts.generate(spark, 10, 2).toDF()
    val df = graft.extract.Extractor.triples(turns, Some(4))
    df.collect() // finalize THIS plan under AQE — codegen stages appear after execution
    val formatted = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    val tail = formatted.substring(formatted.indexOf("Final Plan") match {
      case -1 => 0; case i => i
    })
    assert(tail.contains("codegen id"), formatted.take(1200))
  }

  test("vertexIds: no single-partition global window, ids == lexicographic row_number") {
    val edges = Seq.tabulate(40)(i => (s"v${i % 13}", s"v${(i * 7) % 17}", "p"))
      .toDF("src", "dst", "label")
    val ids = graft.graph.GraphTables.vertexIds(edges, partitions = 4)
    // the old scale-killer was Window.orderBy with no partitionBy — the plan
    // must not contain a Window at all (range-partitioned sort + zipWithIndex)
    assert(!planOf(ids).contains("Window"), planOf(ids).take(600))
    val got = ids.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val expected = got.keys.toSeq.sorted.zipWithIndex
      .map { case (v, i) => v -> i.toLong }.toMap
    assert(got == expected)
    // dense 0..n-1
    assert(got.values.toSeq.sorted == (0L until got.size).toSeq)
  }

  test("vertexIdsFirstSeen: ids in literal scan order (subject before object), no Window") {
    // edgelist.py:124-136 semantics: scanning edges in ord order, each new
    // vertex gets the next id, subject slot before object slot
    val edges = Seq(
      ("b", "a", 0L), ("c", "a", 1L), ("a", "d", 2L), ("d", "b", 3L))
      .toDF("src", "dst", "ord")
    val ids = graft.graph.GraphTables.vertexIdsFirstSeen(edges, "ord", partitions = 3)
    assert(!planOf(ids).contains("Window"), planOf(ids).take(600))
    val got = ids.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map("b" -> 0L, "a" -> 1L, "c" -> 2L, "d" -> 3L))
  }

  test("dedup candidate joins are hash joins, never cartesian") {
    val docs = Seq.tabulate(30)(i => (i.toLong, s"w$i x y z common tail tokens here"))
      .toDF("doc_id", "text")
    val plan = planOf(graft.ops.Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.1))
    assert(!plan.contains("CartesianProduct"), plan.take(500))
    val sim = planOf(graft.ops.Dedup.simhashPairs(docs, "doc_id", "text", 3))
    assert(!sim.contains("CartesianProduct"), sim.take(500))
  }

  test("rangeJoin plans a hash equi-join on the bin, never a nested-loop range join") {
    import java.sql.Timestamp
    val pts = Seq.tabulate(50)(i => (i.toLong, new Timestamp(i * 1000L))).toDF("pid", "ts")
    val ivs = Seq.tabulate(5)(i =>
      (100L + i, new Timestamp(i * 10000L), new Timestamp(i * 10000L + 5000L)))
      .toDF("ivl", "start_ts", "end_ts")
    val plan = planOf(graft.ops.EventOps.rangeJoin(pts, "ts", ivs, "start_ts", "end_ts", 60L))
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      plan.take(800))
    assert(plan.contains("BroadcastHashJoin") || plan.contains("SortMergeJoin"),
      plan.take(800))
  }

  test("frame sampling is pure column expressions (no object serialization)") {
    val media = Seq((1L, "abcdefghijklmnop")).toDF("media_id", "t")
      .select($"media_id", $"t".cast("binary").as("payload"))
    val plan = planOf(graft.ops.Multimodal.frameSample(media, 4, 2))
    assert(plan.contains("Generate")) // posexplode
    // a UDF/closure formulation would show object (de)serialization
    assert(!plan.contains("SerializeFromObject") && !plan.contains("MapPartitions"),
      plan.take(600))
  }

  test("seeded IVF: corpus joins probed lists as a hash equi-join, assignment is map-only") {
    val embs = Seq.tabulate(40)(i => (i.toLong, Array.fill(8)((i % 5).toFloat + 1f)))
      .toDF("vec_id", "embedding")
    val df = graft.ops.Similarity.ivfSeededTopK(
      embs, "vec_id", "embedding", $"vec_id" < 3, nCentroids = 4, nProbe = 2, k = 3)
    val plan = planOf(df)
    // probes x corpus must be the list_id hash join; the only nested-loop
    // join allowed is the ONE-ROW broadcast of the centroid array
    assert(plan.contains("BroadcastHashJoin") || plan.contains("SortMergeJoin"),
      plan.take(800))
    assert(!plan.contains("CartesianProduct"), plan.take(800))
  }

  test("multi-probe ANN joins probe==bucket as a hash join, never cartesian") {
    val embs = Seq.tabulate(40)(i => (i.toLong, Array.fill(8)((i % 5).toFloat + 1f)))
      .toDF("vec_id", "embedding")
    val plan = planOf(graft.ops.Similarity.lshTopKMultiProbe(
      embs, "vec_id", "embedding", $"vec_id" < 3, planes = 6, k = 3))
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      plan.take(600))
  }

  test("guarded embedding-cosine pairs stay equi-joined on the refined block key") {
    val embs = Seq.tabulate(50)(i =>
      (i.toLong, Array.fill(8)(i.toFloat + 1f), "one_big_block"))
      .toDF("vec_id", "embedding", "label")
    val plan = planOf(graft.ops.Dedup.embeddingCosinePairs(
      embs, "vec_id", "embedding", "label", 0.5, maxBlock = 10, subBlockPlanes = 3))
    assert(!plan.contains("CartesianProduct"), plan.take(600))
  }

  test("dedup operators are plan-construction only: building them runs zero Spark jobs") {
    // VERDICT r2 #3 / ADVICE r2: the df-cap and block-size audits used to
    // run an eager .head() at plan-construction time — one wasted full scan
    // per call at production scale, and broken laziness for callers that
    // build but never execute
    val docs = Seq.tabulate(20)(i => (i.toLong, s"w$i x y z common tail"))
      .toDF("doc_id", "text")
    val embs = Seq.tabulate(20)(i => (i.toLong, Array.fill(4)(i.toFloat + 1f), "blk"))
      .toDF("vec_id", "embedding", "label")
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      graft.ops.Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.1, maxDf = 5)
      graft.ops.Dedup.embeddingCosinePairs(embs, "vec_id", "embedding", "label", 0.5,
        maxBlock = 10, subBlockPlanes = 3)
      graft.ops.Dedup.minhashLshCandidates(
        graft.ops.Dedup.minhashSignatures(docs, "doc_id", "text", 3), 2)
      graft.ops.Dedup.simhashPairs(docs, "doc_id", "text", 3)
      // drain the async listener bus deterministically (ADVICE r3: a fixed
      // sleep could miss late-posted events under load)
      org.apache.spark.sql.graft.Bridge.drainListenerBus(spark.sparkContext)
      assert(jobs.get() == 0, s"plan construction ran ${jobs.get()} Spark job(s)")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("contamination probes the benchmark gram set via a broadcast semi-join") {
    // the corpus side must never reshuffle on gram: the benchmark (an eval
    // suite) is broadcast-small next to a 100-TB corpus by construction
    val corpus = Seq.tabulate(30)(i => (i.toLong, s"a b c d e f g tail$i"))
      .toDF("doc_id", "text")
    val bench = Seq((99L, "a b c d e f")).toDF("doc_id", "text")
    val plan = planOf(graft.ops.Curation.ngramContamination(
      corpus, bench, "doc_id", "text", n = 5))
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftSemi"),
      plan.take(800))
  }

  test("pii scrub and stratified sampling are map-only (no shuffle)") {
    val docs = Seq.tabulate(30)(i => (i.toLong, s"text $i u@v.com", s"s${i % 3}"))
      .toDF("doc_id", "text", "source")
    val pii = planOf(graft.ops.Curation.piiSignals(docs, "doc_id", "text"))
    assert(!pii.contains("Exchange"), pii.take(500))
    val strat = planOf(graft.ops.Curation.stratifiedSample(
      docs, "doc_id", "source", Map("s0" -> 0.9), 0.5))
    assert(!strat.contains("Exchange"), strat.take(500))
  }

  test("tfidf pairs: equi-joins only, job-free construction, N is broadcast") {
    val docs = Seq.tabulate(30)(i => (i.toLong, s"w$i x y z common tail"))
      .toDF("doc_id", "text")
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    val plan = try {
      val p = planOf(graft.ops.Dedup.tfidfCosinePairs(docs, "doc_id", "text", 0.5))
      org.apache.spark.sql.graft.Bridge.drainListenerBus(spark.sparkContext)
      assert(jobs.get() == 0, s"plan construction ran ${jobs.get()} Spark job(s)")
      p
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(!plan.contains("CartesianProduct"), plan.take(800))
    // the 1-row corpus count must ride the plan as a broadcast, not a collect
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"),
      plan.take(800))
  }

  test("rollingWindow: one exchange on the key, a single window pass") {
    import java.sql.Timestamp
    val ev = Seq.tabulate(40)(i => (i.toLong % 5, new Timestamp(i * 1000L), i.toDouble))
      .toDF("user_id", "ts", "v")
    val plan = planOf(graft.ops.EventOps.rollingWindow(ev, "user_id", "ts", 60L, "v"))
    val exchanges = "Exchange".r.findAllIn(plan).length
    assert(exchanges == 1, s"expected one shuffle, got $exchanges:\n${plan.take(800)}")
    val windows = "\\bWindow\\b".r.findAllIn(plan).length
    assert(windows == 1, s"expected one window operator, got $windows:\n${plan.take(800)}")
  }

  test("temperature sample and winsorize broadcast their per-stratum tables") {
    val docs = Seq.tabulate(40)(i => (i.toLong, s"s${i % 3}", (i % 7).toLong))
      .toDF("doc_id", "stratum", "v")
    // the |strata|-row rate/quantile tables must come back as broadcasts —
    // the data side never reshuffles on the stratum
    val temp = planOf(graft.ops.Curation.temperatureSample(
      docs, "doc_id", "stratum", 0.5, 10L))
    assert(temp.contains("BroadcastHashJoin"), temp.take(800))
    val win = planOf(graft.ops.Curation.winsorize(
      docs, "v", "stratum", 0.1, 0.9, exact = true))
    assert(win.contains("BroadcastHashJoin"), win.take(800))
  }

  test("chunkByTokens is map-only (no shuffle, no window)") {
    val docs = Seq.tabulate(20)(i => (i.toLong, "a b c d e f g h"))
      .toDF("doc_id", "text")
    val plan = planOf(graft.ops.TextOps.chunkByTokens(docs, "doc_id", "text", 4, 1))
    assert(!plan.contains("Exchange") && !plan.contains("Window"), plan.take(600))
  }

  test("inverted index: stop-term guard filters before the posting collect") {
    val docs = Seq.tabulate(30)(i => (i.toLong, s"w$i x common"))
      .toDF("doc_id", "text")
    val plan = planOf(graft.ops.TextOps.invertedIndex(docs, "doc_id", "text", maxDf = 5))
    assert(!plan.contains("CartesianProduct"), plan.take(800))
    // collect_list must sit ABOVE the df-guard join in the plan tree: the
    // join's equi-key is the term, and no ObjectHashAggregate (the
    // collect_list operator) may appear below it
    val joinIdx = plan.indexOf("Join")
    val collectIdx = plan.indexOf("collect_list")
    assert(joinIdx >= 0 && collectIdx >= 0 && collectIdx < joinIdx,
      s"posting collect (at $collectIdx) must be above the guard join (at $joinIdx):\n" +
        plan.take(1200))
  }

  test("kHop frontier joins are equi-joins, never cartesian/nested-loop") {
    val e = Seq(("a", "b", "p"), ("b", "c", "p"), ("c", "d", "p"))
      .toDF("src", "dst", "label")
    val plan = planOf(graft.graph.GraphTables.kHop(e, "p", col("src") === "a", 3))
    assert(!plan.contains("CartesianProduct"), plan.take(800))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(800))
  }

  test("editDistancePairs: main candidate join is an equi-join on the segment key") {
    // the ONLY sanctioned non-equi join is the guarded short×short residual
    // block; the pigeonhole path must stay a hash/sort-merge equi-join, so
    // cutting the short strings out of the input must leave a plan with no
    // nested-loop/cartesian operator at all
    val df = Seq((1L, "kitten"), (2L, "sitten"), (3L, "sitting"))
      .toDF("id", "str") // every string longer than 2d=4 -> short route empty
    val plan = planOf(graft.ops.SimJoin.editDistancePairs(df, "id", "str", 2))
    assert(!plan.contains("CartesianProduct"), plan.take(800))
    // the residual block appears as ONE BroadcastNestedLoopJoin over the
    // guarded (empty here) short frame; the segment join itself must not
    assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin")
      || plan.contains("BroadcastHashJoin"), plan.take(800))
  }

  test("prefixJaccardPairs: size+rank share one id-keyed exchange; joins are equi") {
    val df = Seq((1L, "a b c"), (2L, "a b d"), (3L, "x y"))
      .toDF("id", "text")
    val p = graft.ops.SimJoin.prefixJaccardPairs(df, "id", "text", 0.5)
    val plan = planOf(p)
    assert(!plan.contains("CartesianProduct"), plan.take(800))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(800))
    // both window functions (set size, prefix rank) evaluate back-to-back
    // over ONE id-keyed exchange: no Exchange between the two Window nodes
    val w1 = plan.indexOf("Window ")
    val w2 = plan.indexOf("Window ", w1 + 1)
    assert(w1 >= 0 && w2 > w1, plan.take(1200))
    assert(!plan.substring(w1, w2).contains("Exchange"),
      "exchange between the size and rank windows:\n" + plan.substring(w1, w2))
  }

  test("bloomContamination: probe side is join-free (bitset rides as a literal)") {
    val corpus = Seq((1L, "one two three four five six")).toDF("doc_id", "text")
    val bench = Seq((9L, "one two three four five six")).toDF("doc_id", "text")
    val out = graft.ops.Curation.bloomContamination(corpus, bench, "doc_id", "text", n = 5)
    val plan = planOf(out)
    // the bitset collect already ran at construction; the remaining plan's
    // ONLY join is the final left join back to the doc-id spine — gram
    // flagging itself must be a pure projection (no semi-join against a
    // gram table, which is the exact shape this op exists to avoid)
    val joins = "Join ".r.findAllIn(plan).size
    assert(joins <= 1, s"probe plan has joins beyond the id spine ($joins):\n" +
      plan.take(1200))
    assert(!plan.contains("CartesianProduct"))
  }

  test("sortedNeighborhoodPairs: bucket join is equi, no cartesian/nested-loop") {
    val recs = Seq(("a", "k1"), ("b", "k2"), ("c", "k3")).toDF("id", "key")
    val plan = planOf(
      graft.ops.SimJoin.sortedNeighborhoodPairs(recs, "id", "key", 3))
    assert(!plan.contains("CartesianProduct"), plan.take(800))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(800))
  }

  test("negativeSamples: 1-row vertex count broadcasts; anti-join is equi; zero jobs") {
    val it = Seq((0L, 1L, 1L), (1L, 1L, 2L)).toDF("src_id", "label_id", "dst_id")
    val n = it.sparkSession.range(1).select(lit(4L).as("n_vertices"))
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    val plan = try {
      val p = planOf(graft.graph.GraphTables.negativeSamples(it, n))
      org.apache.spark.sql.graft.Bridge.drainListenerBus(spark.sparkContext)
      assert(jobs.get() == 0, s"plan construction ran ${jobs.get()} Spark job(s)")
      p
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(!plan.contains("CartesianProduct"), plan.take(800))
    // the count rides as a broadcast; the real-edge filter is a hash anti-join
    assert(plan.contains("BroadcastExchange") || plan.contains("BroadcastNestedLoopJoin"),
      plan.take(800))
    assert(plan.contains("LeftAnti"), plan.take(800))
  }

  test("kmeansLloyd: centroid arrays ride broadcasts, assignment never reshuffles points") {
    val embs = Seq.tabulate(30)(i => (i.toLong, Array.fill(4)(i.toFloat)))
      .toDF("vec_id", "embedding")
    val plan = planOf(graft.ops.Similarity.kmeansLloyd(embs, "vec_id", "embedding", 2, 1))
    assert(!plan.contains("CartesianProduct"), plan.take(800))
    assert(plan.contains("BroadcastExchange") || plan.contains("BroadcastNestedLoopJoin"),
      plan.take(800))
    // shuffles may come only from the seed/update aggregations, never from
    // repartitioning the point set by a join key: every exchange is a
    // single-partition or (cid, pos) aggregate exchange, so no
    // hashpartitioning on the point id may appear
    assert(!plan.contains("hashpartitioning(id"), plan.take(1200))
  }

  test("unigramLogProb: job-free construction; corpus total is broadcast") {
    val docs = Seq((1L, "a b"), (2L, "b c")).toDF("doc_id", "text")
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    val plan = try {
      val p = planOf(graft.ops.TextOps.unigramLogProb(docs, "doc_id", "text"))
      org.apache.spark.sql.graft.Bridge.drainListenerBus(spark.sparkContext)
      assert(jobs.get() == 0, s"plan construction ran ${jobs.get()} Spark job(s)")
      p
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(plan.contains("BroadcastExchange") || plan.contains("BroadcastNestedLoopJoin"),
      plan.take(800))
  }

  test("coref: single window pass, no join anywhere in the plan") {
    val turns = Seq((1, 1, "Tell me about Ada Lovelace."), (1, 2, "and they"))
      .toDF("conv", "idx", "text")
    val plan = planOf(graft.extract.Coref.resolve(turns, "conv", "idx", "text"))
    assert(!plan.contains("Join"), plan.take(800))
    assert(plan.contains("Window"), plan.take(800))
  }

  test("link prediction: wedge join is an equi-join, degree joins broadcast") {
    val e = Seq(("a", "b"), ("b", "c")).toDF("src", "dst")
    val plan = planOf(graft.graph.LinkPredict.scores(e, maxHubDeg = 8))
    assert(!plan.contains("CartesianProduct") && !plan.contains("NestedLoop"),
      plan.take(1200))
    assert(plan.contains("BroadcastExchange"), plan.take(1200)) // deg(a)/deg(b)
  }

  test("dsir: bucket log-ratio table joins back as a broadcast, job-free construction") {
    val d = Seq((1L, "x y", "en")).toDF("doc_id", "text", "lang")
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    val plan = try {
      val p = planOf(graft.ops.Dsir.importanceWeights(
        d, "doc_id", "text", col("lang") === "en", buckets = 16))
      org.apache.spark.sql.graft.Bridge.drainListenerBus(spark.sparkContext)
      assert(jobs.get() == 0, s"plan construction ran ${jobs.get()} Spark job(s)")
      p
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(plan.contains("BroadcastExchange"), plan.take(1200))
    assert(!plan.contains("CartesianProduct"), plan.take(1200))
  }

  test("triple fusion: one exchange on the triple key, partial aggregation first") {
    val t = Seq(("v1", "p", "v2", "s1", 0.5)).toDF("src", "label", "dst", "source", "w")
    val plan = planOf(graft.graph.Fusion.tripleFusion(t, "source", "w"))
    // partial_ aggregates before the exchange = map-side combine is on
    assert(plan.contains("partial_"), plan.take(1200))
    assert(!plan.contains("Join"), plan.take(1200))
  }

  test("Probe: one JSON line per query with both passes, position, jobs and exchanges") {
    val lines = scala.collection.mutable.ArrayBuffer.empty[String]
    graft.tools.Probe.run(spark, sf, Seq("kg_basic", "doc_minhash_lsh"),
      stages = true, plan = true, out = lines += _)
    def field(line: String, k: String): Double =
      ("\"" + k + "\":(-?[0-9.]+)").r.findFirstMatchIn(line).get.group(1).toDouble
    val json = lines.filter(_.startsWith("{\"query\":"))
    assert(json.size == 2)
    assert(json(0).startsWith("{\"query\":\"kg_basic\"") &&
      json(1).startsWith("{\"query\":\"doc_minhash_lsh\""))
    json.foreach { l =>
      assert(field(l, "pass1") > 0 && field(l, "pass2") > 0, l)
      assert(field(l, "min2") == math.min(field(l, "pass1"), field(l, "pass2")), l)
      assert(field(l, "jobs") >= 1 && field(l, "exchanges") >= 0, l)
    }
    // kg_basic's result is collected while its plan is built (a local
    // relation, no exchange); the LSH join shuffles
    assert(field(json(1), "exchanges") >= 1, json(1))
    assert(field(json(1), "pos") == field(json(0), "pos") + 1)
    assert(lines.contains("==== doc_minhash_lsh: stages of pass1 ===="))
    assert(lines.exists(_.startsWith("[sum stage wall:")))
    assert(lines.contains("==== kg_basic: plan ====") &&
      lines.exists(_.contains("== Physical Plan ==")))
  }
}
