package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ops.{Dedup, Multimodal, Similarity, TextOps}
import graft.streaming.EventWindows
import QueryUtil.roundDoubles

/** Driver-checked queries for the training-data pipeline operators
  * (dedup family, similarity search, text analysis, multimodal plumbing,
  * streaming windows) over the documents/embeddings/events tables.
  */
object DocQueries {

  /** Marker-token sets shared verbatim by the Spark op and the SQL twin. */
  val Markers: Map[String, Seq[String]] = Map(
    "de" -> Seq("der", "die", "das"),
    "en" -> Seq("the", "a"),
    "es" -> Seq("el", "la"),
    "fr" -> Seq("le", "la"),
    "zh" -> Seq("zh_marker_token"))

  val Stopwords: Seq[String] = Seq("the", "a")

  /** Character-trigram profiles for the n-gram language-ID heuristic —
    * shared verbatim with the SQL twin (es/fr intentionally overlap on
    * "la " so the lexicographic tie-break is exercised).
    */
  val NgramProfiles: Map[String, Seq[String]] = Map(
    "de" -> Seq("der", "die", "das", "er "),
    "en" -> Seq("the", "he "),
    "es" -> Seq("el ", "la "),
    "fr" -> Seq("le ", "la "),
    "zh" -> Seq("zh_", "h_m"))

  private def docs(s: SparkSession, dir: String) = s.read.parquet(s"$dir/documents.parquet")
  private def embs(s: SparkSession, dir: String) = s.read.parquet(s"$dir/embeddings.parquet")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "doc_dedup_exact" -> ((s, dir) => {
      val g = Dedup.exactGroups(docs(s, dir), "doc_id", "text")
      val total = docs(s, dir).agg(count(lit(1)).as("n_docs"))
      total.crossJoin(g.agg(
        count(lit(1)).as("n_unique"),
        count(when(col("group_size") > 1, 1)).as("dup_groups"),
        coalesce(sum(col("group_size") - 1), lit(0L)).as("dup_rows"),
        sum("keep_id").as("keeper_checksum")))
    }),

    "doc_shingle_jaccard" -> ((s, dir) => {
      // maxDf = 5 exercises the blocking-key frequency cap (stop-shingle
      // guard): candidates only through shingles with df <= 5, Jaccard
      // still exact over the full shingle sets. The oracle mirrors the cap.
      val pairs = Dedup.ngramJaccardPairs(docs(s, dir), "doc_id", "text",
        k = 3, minJ = 0.0, maxDf = 5)
      roundDoubles(pairs.agg(
        count(lit(1)).as("cand_pairs"),
        count(when(col("jaccard") >= 0.2, 1)).as("pairs_ge_02"),
        coalesce(round(max("jaccard"), 6), lit(0.0)).as("max_jaccard")))
    }),

    "doc_minhash_lsh" -> ((s, dir) => {
      // the signature pass is map-only and inherits input partitioning; the
      // local test file is ONE ~3MB parquet partition, so spread it first
      // (at production scale the input is already many-partitioned).
      // Array-form signatures feed the LSH directly: the signature table
      // itself never shuffles (no groupBy-reassembly of exploded rows)
      val sigs = Dedup.minhashSignatureArrays(docs(s, dir).repartition(32),
        "doc_id", "text", shingleK = 3)
      val cands = Dedup.minhashLshCandidatesArrays(sigs, rowsPerBand = 2)
      cands.agg(
        count(lit(1)).as("cand_pairs"),
        coalesce(sum(col("a") * 31 + col("b")), lit(0L)).as("pair_checksum"))
    }),

    "doc_dedup_clusters" -> ((s, dir) => {
      // the end-to-end near-dup dedup op a training pipeline runs: MinHash
      // LSH candidates (collapsed) -> weak connected components -> one
      // keeper (= component id = min doc id) per cluster. The oracle
      // replays the whole chain, CC via the same recursive-CTE pattern as
      // kg_cc.
      val d = docs(s, dir).repartition(32)
      val sigs = Dedup.minhashSignatureArrays(d, "doc_id", "text", shingleK = 3)
      val cands = Dedup.minhashLshCandidatesArrays(sigs, rowsPerBand = 2)
      val cc = graft.algo.ConnectedComponents.run(
        cands.select(col("a").as("src"), col("b").as("dst")))
      val sizes = cc.groupBy("component").agg(count(lit(1)).as("sz"))
      docs(s, dir).agg(count(lit(1)).as("n_docs"))
        .crossJoin(sizes.agg(
          count(lit(1)).as("dup_clusters"),
          coalesce(max("sz"), lit(0L)).as("max_cluster"),
          coalesce(sum(col("sz") - 1), lit(0L)).as("removed_docs"),
          coalesce(sum("component"), lit(0L)).as("keeper_checksum")))
    }),

    "doc_top_ngrams" -> ((s, dir) => {
      // exact per-language bigram heavy hitters (salted two-phase top-k)
      TextOps.topNgrams(docs(s, dir), "text", "lang", n = 2, k = 10)
    }),

    "doc_dup_spans" -> ((s, dir) => {
      // substring-level dedup: per-doc duplicated-span profile (full rows —
      // the driver hashes every doc's n_spans/dup_spans/dup_frac)
      Dedup.duplicateSpans(docs(s, dir), "doc_id", "text", width = 40, stride = 20)
    }),

    "doc_simhash" -> ((s, dir) => {
      // 60-bit SimHash (the web-scale width), 4 bands x 15 bits — the
      // pigeonhole blocking stays lossless for Hamming <= 3 while band keys
      // have 2^15 values instead of the 16 of the old nibble bands
      val sh = TextOps.simhash(docs(s, dir), "doc_id", "text")
      val pairs = Dedup.simhashPairs(docs(s, dir), "doc_id", "text", maxHamming = 3)
      sh.agg(
        count_distinct(col("simhash")).as("distinct_simhash"),
        sum(col("simhash") % 1000003L).as("simhash_checksum"))
        .crossJoin(pairs.agg(
          count(lit(1)).as("pairs_hamming_le3"),
          coalesce(sum("hamming"), lit(0L)).as("sum_hamming")))
    }),

    "doc_langid" -> ((s, dir) => {
      val pred = TextOps.languageId(docs(s, dir), "doc_id", "text", Markers)
      docs(s, dir).join(pred, "doc_id")
        .groupBy("lang", "predicted").agg(count(lit(1)).as("cnt"))
        .orderBy("lang", "predicted")
    }),

    "doc_langid_ngram" -> ((s, dir) => {
      // map-only scorer over a single-partition local file: spread it (see
      // doc_minhash_lsh note)
      val pred = TextOps.languageIdNgram(docs(s, dir).repartition(32),
        "doc_id", "text", NgramProfiles)
      docs(s, dir).join(pred, "doc_id")
        .groupBy("lang", "predicted").agg(count(lit(1)).as("cnt"))
        .orderBy("lang", "predicted")
    }),

    "doc_tokens_bpe" -> ((s, dir) => {
      // BPE-ish pre-tokenization (regex identical under Java regex and RE2)
      val toks = docs(s, dir).select(explode(TextOps.bpeTokens(col("text"))).as("tok"))
      val counts = toks.groupBy("tok").agg(count(lit(1)).as("c"))
      val topDet = counts.orderBy(col("c").desc, col("tok").asc).limit(1)
        .select(col("tok").as("top_token"), col("c").as("top_token_cnt"))
      counts.agg(
        sum("c").as("total_tokens"),
        count(lit(1)).as("distinct_tokens"))
        .crossJoin(topDet)
    }),

    "doc_quality" -> ((s, dir) => {
      val q = TextOps.quality(docs(s, dir), "doc_id", "text", Stopwords)
      roundDoubles(docs(s, dir).join(q, "doc_id")
        .groupBy("source").agg(
          count(lit(1)).as("docs"),
          round(avg("chars"), 6).as("avg_chars"),
          round(avg("n_tokens"), 6).as("avg_tokens"),
          round(avg("ttr"), 6).as("avg_ttr"),
          round(avg("stop_ratio"), 6).as("avg_stop_ratio"),
          round(avg("punct_ratio"), 6).as("avg_punct_ratio"))
        .orderBy("source"))
    }),

    "doc_tokens" -> ((s, dir) => {
      val toks = docs(s, dir).select(explode(TextOps.tokens(col("text"))).as("tok"))
      val counts = toks.groupBy("tok").agg(count(lit(1)).as("c"))
      // deterministic top token: max count, ties -> lexicographically SMALLEST
      val topDet = counts
        .orderBy(col("c").desc, col("tok").asc).limit(1)
        .select(col("tok").as("top_token"), col("c").as("top_token_cnt"))
      val totals = counts.agg(
        sum("c").as("total_tokens"),
        count(lit(1)).as("distinct_tokens"))
      val avgT = docs(s, dir)
        .select(size(TextOps.tokens(col("text"))).as("n"))
        .agg(round(avg("n"), 6).as("avg_tokens"))
      totals.crossJoin(avgT).crossJoin(topDet)
    }),

    "doc_fingerprint" -> ((s, dir) => {
      val fp = TextOps.fingerprints(docs(s, dir), "doc_id", "text", k = 3, w = 4)
      val perDoc = fp.groupBy("doc_id").agg(count(lit(1)).as("c"))
      val sharing = fp.groupBy("fingerprint").agg(count_distinct(col("doc_id")).as("d"))
      roundDoubles(fp.agg(
        count(lit(1)).as("total_fps"),
        count_distinct(col("fingerprint")).as("distinct_fps"))
        .crossJoin(perDoc.agg(round(avg("c"), 6).as("avg_fp_per_doc")))
        .crossJoin(sharing.agg(max("d").as("max_docs_sharing"))))
    }),

    "doc_unigram_logprob" -> ((s, dir) => {
      // self-trained unigram LM scoring (proxy perplexity), summarized per
      // source; the per-doc mean is rounded to 6 decimals BEFORE the
      // summary aggregates (mirrored in the oracle), so a sub-1e-6 engine
      // difference between two documents can never flip the hash
      val scored = TextOps.unigramLogProb(docs(s, dir), "doc_id", "text")
        .withColumn("mean_logprob", round(col("mean_logprob"), 6))
      roundDoubles(docs(s, dir)
        .select(col("doc_id").as("id"), col("source"))
        .join(scored, "id")
        .groupBy("source").agg(
          count(lit(1)).as("docs"),
          sum("n_tokens").as("total_tokens"),
          avg("mean_logprob").as("avg_logprob"),
          min("mean_logprob").as("min_logprob"),
          max("mean_logprob").as("max_logprob"))
        .orderBy("source"))
    }),

    "doc_bigram_logprob" -> ((s, dir) => {
      // interpolated bigram LM scoring (λ=0.75 backoff to the corpus
      // unigram), same per-source summary + pre-rounding convention as
      // the unigram query
      val scored = TextOps.bigramLogProb(docs(s, dir), "doc_id", "text")
        .withColumn("mean_logprob", round(col("mean_logprob"), 6))
      roundDoubles(docs(s, dir)
        .select(col("doc_id").as("id"), col("source"))
        .join(scored, "id")
        .groupBy("source").agg(
          count(lit(1)).as("docs"),
          sum("n_bigrams").as("total_bigrams"),
          avg("mean_logprob").as("avg_logprob"),
          min("mean_logprob").as("min_logprob"),
          max("mean_logprob").as("max_logprob"))
        .orderBy("source"))
    }),

    "emb_jl" -> ((s, dir) =>
      // Johnson–Lindenstrauss ±1 projection to 16 dims (map-only,
      // hash-derived sign matrix, bit-identical across engines)
      Similarity.jlProject(embs(s, dir).where(col("vec_id") < 20),
          "vec_id", "embedding", outDim = 16)
        .select(col("id"), posexplode(col("projected")).as(Seq("pos", "value")))
        .select(col("id"), col("pos"), round(col("value"), 6).as("value"))
        .orderBy("id", "pos")),

    "emb_pq" -> ((s, dir) =>
      // product quantization with ADC: 4 subspaces of the 64-dim
      // embedding, 16 seeded codewords each; integer micro-unit distances
      // make the m-term sums order-free across engines
      Similarity.pqTopK(embs(s, dir), "vec_id", "embedding",
        col("vec_id") < 10, m = 4, nCodes = 16, k = 3)
        .orderBy("query_id", "rank")),

    "emb_knn" -> ((s, dir) =>
      Similarity.bruteForceTopK(embs(s, dir), "vec_id", "embedding",
        col("vec_id") < 20, k = 3)
        .orderBy("query_id", "rank")),

    "emb_kmeans" -> ((s, dir) => {
      // two deterministic Lloyd rounds from the 8 lowest-id seeds; the
      // oracle unrolls the same two rounds in SQL
      val a = Similarity.kmeansLloyd(embs(s, dir), "vec_id", "embedding",
        k = 8, iters = 2)
      roundDoubles(a.groupBy("cluster").agg(
        count(lit(1)).as("n_points"),
        sum("d2").as("inertia"),
        sum("id").as("id_checksum"))
        .orderBy("cluster"))
    }),

    "emb_semdedup" -> ((s, dir) => {
      // SemDeDup over one unrolled Lloyd round (the emb_kmeans contract):
      // within-cluster cosine >= 0.5 pairs drop the centroid-closer point
      val d = Similarity.semDedup(embs(s, dir), "vec_id", "embedding",
        k = 8, iters = 1, minCos = 0.5)
      roundDoubles(d.groupBy("cluster").agg(
        count(lit(1)).as("n_points"),
        count(when(col("dropped"), 1)).as("n_dropped"),
        coalesce(sum(when(!col("dropped"), col("id"))), lit(0L)).as("kept_checksum"),
        round(sum("d2"), 6).as("inertia"))
        .orderBy("cluster"))
    }),

    "emb_centroids" -> ((s, dir) =>
      // per-label centroid vectors in long form (embedding-QC primitive)
      Similarity.groupCentroids(embs(s, dir), "embedding", "label")
        .select(col("label"), col("pos"),
          round(col("mean_val"), 6).as("mean_val"), col("n"))
        .orderBy("label", "pos")),

    "emb_dedup_cosine" -> ((s, dir) => {
      val pairs = Dedup.embeddingCosinePairs(embs(s, dir), "vec_id", "embedding",
        "label", minCos = 0.2)
      pairs.agg(
        count(lit(1)).as("pairs_cos_ge_02"),
        coalesce(sum(col("a") + col("b")), lit(0L)).as("pair_checksum"))
    }),

    "emb_dedup_cosine_blocked" -> ((s, dir) => {
      // block-size guard path: every label block at sf0.01 exceeds
      // maxBlock=40, so all of them route through sign-LSH sub-blocking
      // (4 planes) before the quadratic pair scan; oracle mirrors exactly
      val pairs = Dedup.embeddingCosinePairs(embs(s, dir), "vec_id", "embedding",
        "label", minCos = 0.2, maxBlock = 40, subBlockPlanes = 4)
      pairs.agg(
        count(lit(1)).as("pairs_cos_ge_02"),
        coalesce(sum(col("a") + col("b")), lit(0L)).as("pair_checksum"))
    }),

    "emb_lsh_buckets" -> ((s, dir) => {
      val b = Similarity.lshBucket(embs(s, dir), "vec_id", "embedding", planes = 8)
      val sizes = b.groupBy("bucket").agg(count(lit(1)).as("c"))
      sizes.agg(
        count(lit(1)).as("n_buckets"),
        max("c").as("max_bucket"),
        sum(col("c") * col("c")).as("sum_bucket_sq"))
    }),

    // IVF ANN over the deterministic seeded quantizer (the 8 smallest-id
    // vectors are the centroids): it has an exact DuckDB twin, so the
    // oracle replays it row for row
    "emb_ivf" -> ((s, dir) =>
      Similarity.ivfSeededTopK(embs(s, dir), "vec_id", "embedding",
        col("vec_id") < 10, nCentroids = 8, nProbe = 3, k = 3)
        .orderBy("query_id", "rank")),

    "emb_lsh_multiprobe" -> ((s, dir) =>
      // multi-probe ANN: own bucket + all 1-bit-flip buckets per query
      Similarity.lshTopKMultiProbe(embs(s, dir), "vec_id", "embedding",
        col("vec_id") < 10, planes = 8, k = 3, probeHamming = 1)
        .orderBy("query_id", "rank")),

    "mm_decode_meta" -> ((s, dir) => {
      val media = docs(s, dir).select(
        col("doc_id").as("media_id"), col("text").cast("binary").as("payload"))
      val meta = Multimodal.decodeMeta(media).toDF()
      roundDoubles(meta
        .join(docs(s, dir).select(col("doc_id").as("media_id"), col("source")), "media_id")
        .groupBy("source").agg(
          count(lit(1)).as("n"),
          sum("byte_len").as("total_bytes"),
          round(avg("width"), 6).as("avg_width"),
          round(avg("height"), 6).as("avg_height"),
          sum("checksum").as("checksum"))
        .orderBy("source"))
    }),

    "mm_frame_sample" -> ((s, dir) => {
      // video/audio shape: payload -> every 2nd complete 16-byte frame,
      // pure codegen column ops (no UDF). The oracle counts frames over the
      // UTF-8 BYTE length (strlen), so parity holds for non-ASCII payloads
      // too (ADVICE r2 / VERDICT r3 next #7 — the old chars==bytes filter
      // pinned parity by excluding them instead). Non-empty guard only.
      val media = docs(s, dir)
        .where(octet_length(col("text")) > 0)
        .select(col("doc_id").as("media_id"), col("text").cast("binary").as("payload"))
      val frames = Multimodal.frameSample(media, frameSize = 16, stride = 2)
      frames.agg(
        count(lit(1)).as("n_frames"),
        count_distinct(col("media_id")).as("media_with_frames"),
        coalesce(sum(col("frame_idx")), lit(0L)).as("idx_checksum"),
        coalesce(sum(octet_length(col("frame"))), lit(0L)).as("frame_bytes"))
    }),

    "mm_feature_knn" -> ((s, dir) => {
      // multimodal -> embedding -> similarity, end to end: deterministic
      // feature stub (the encoder stand-in) feeding brute-force cosine top-k.
      // The oracle now indexes UTF-8 BYTES via hex(encode(text)), so only
      // the non-empty guard remains (empty payloads give % 0 -> NULL in the
      // SQL twin; the stub emits all-zero vectors for them)
      val media = docs(s, dir)
        .where(octet_length(col("text")) > 0)
        .select(col("doc_id").as("media_id"), col("text").cast("binary").as("payload"))
      val feats = Multimodal.featureStub(media, dim = 16)
      Similarity.bruteForceTopK(feats, "media_id", "features", col("media_id") < 5, k = 3)
        .orderBy("query_id", "rank")
    }),

    "ev_window" -> ((s, dir) =>
      EventWindows.tumblingCounts(s, dir)
        .orderBy("win_start", "event_type")),
  )

  // ---------------------------------------------------------------- oracles

  private val shCte =
    """sh AS (
      |  SELECT DISTINCT doc_id, shingle FROM (
      |    SELECT doc_id, array_to_string(l[i:i+2], ' ') AS shingle
      |    FROM (SELECT doc_id, string_split(text, ' ') AS l FROM documents) t,
      |         LATERAL unnest(generate_series(1, greatest(len(l) - 2, 0))) g(i)
      |  ) q
      |)""".stripMargin

  /** Shared CTE chain: doc shingles -> portable minhash signatures ->
    * 2-row bands -> identical-fullsig collapse -> banded rep self-join +
    * star re-expansion -> `cands(a, b)`. Exact twin of
    * `Dedup.minhashSignatureArrays` + `Dedup.minhashLshCandidatesArrays`
    * (collapse on).
    * The Spark side keys its shuffles on xxhash64 digests of the signature
    * structs while this twin uses the literal signature strings — the
    * resulting PAIR SETS are identical absent a 64-bit digest collision
    * (~n²/2⁶⁵; the same acceptance class as the md5 keys of
    * doc_dedup_exact), so the aggregate outputs compare exactly.
    */
  private val minhashCandsCtes: String = {
    val coeffRows = Dedup.MinhashCoeffs.zipWithIndex
      .map { case ((a, b), i) => s"($i, $a, $b)" }.mkString(", ")
    s"""hs AS (SELECT DISTINCT doc_id,
       |              ('0x' || substr(md5(shingle), 1, 15))::BIGINT & 2147483647 AS h
       |       FROM sh),
       |coeffs(i, a, b) AS (VALUES $coeffRows),
       |sigs AS (
       |  SELECT doc_id AS id, i, min((a * h + b) % ${Dedup.MinhashPrime}) AS mh
       |  FROM hs, coeffs GROUP BY 1, 2),
       |banded AS (
       |  SELECT id, i // 2 AS band,
       |         string_agg(i || ':' || mh, ',' ORDER BY i || ':' || mh) AS sig
       |  FROM sigs GROUP BY 1, 2),
       |fullsig AS (
       |  SELECT id, string_agg(sig, '|' ORDER BY sig) AS fs FROM banded GROUP BY 1),
       |reps AS (SELECT fs, min(id) AS rep FROM fullsig GROUP BY 1),
       |withrep AS (SELECT f.id, r.rep FROM fullsig f JOIN reps r USING (fs)),
       |stars AS (SELECT rep AS a, id AS b FROM withrep WHERE id <> rep),
       |repbanded AS (
       |  SELECT b.* FROM banded b JOIN withrep w ON w.id = b.id AND w.id = w.rep),
       |reppairs AS (
       |  SELECT DISTINCT x.id AS a, y.id AS b
       |  FROM repbanded x JOIN repbanded y
       |    ON x.band = y.band AND x.sig = y.sig AND x.id < y.id),
       |cands AS (SELECT a, b FROM reppairs UNION ALL SELECT a, b FROM stars)""".stripMargin
  }

  private val shPosCte =
    """shp AS (
      |  SELECT doc_id, i AS pos,
      |         ('0x' || substr(md5(array_to_string(l[i:i+2], ' ')), 1, 15))::BIGINT AS h
      |  FROM (SELECT doc_id, string_split(text, ' ') AS l FROM documents) t,
      |       LATERAL unnest(generate_series(1, greatest(len(l) - 2, 0))) g(i)
      |)""".stripMargin

  private def markerScore(lang: String): String = {
    val set = Markers(lang).map(m => s"'$m'").mkString(", ")
    s"len(list_filter(string_split(text, ' '), x -> x IN ($set)))"
  }

  private val langCase: String = {
    val langs = Markers.keys.toSeq.sorted
    val gm = langs.map(l => s"s_$l").mkString("greatest(", ", ", ")")
    val whens = langs.map(l => s"WHEN s_$l = gm THEN '$l'").mkString(" ")
    s"CASE WHEN gm = 0 THEN 'und' $whens END"
  }

  val oracleSql: Map[String, String] = Map(
    "doc_dedup_exact" ->
      """WITH g AS (SELECT md5(text) AS th, min(doc_id) AS keep_id, count(*) AS c
        |           FROM documents GROUP BY 1)
        |SELECT (SELECT CAST(count(*) AS BIGINT) FROM documents) AS n_docs,
        |       CAST(count(*) AS BIGINT) AS n_unique,
        |       CAST(count(*) FILTER (WHERE c > 1) AS BIGINT) AS dup_groups,
        |       CAST(coalesce(sum(c - 1), 0) AS BIGINT) AS dup_rows,
        |       CAST(sum(keep_id) AS BIGINT) AS keeper_checksum
        |FROM g""".stripMargin,

    "doc_shingle_jaccard" ->
      s"""WITH $shCte,
         |sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
         |dfreq AS (SELECT shingle, count(*) AS df FROM sh GROUP BY shingle),
         |blocked AS (
         |  SELECT sh.doc_id, sh.shingle FROM sh JOIN dfreq USING (shingle)
         |  WHERE dfreq.df <= 5),
         |cands AS (
         |  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
         |  FROM blocked x JOIN blocked y
         |    ON x.shingle = y.shingle AND x.doc_id < y.doc_id),
         |pairs AS (
         |  SELECT c.a, c.b, count(*) AS inter
         |  FROM cands c
         |  JOIN sh sa ON sa.doc_id = c.a
         |  JOIN sh sb ON sb.doc_id = c.b AND sb.shingle = sa.shingle
         |  GROUP BY 1, 2),
         |j AS (
         |  SELECT p.a, p.b,
         |         CAST(p.inter AS DOUBLE) / (sa.sz + sb.sz - p.inter) AS jaccard
         |  FROM pairs p JOIN sizes sa ON sa.doc_id = p.a JOIN sizes sb ON sb.doc_id = p.b)
         |SELECT CAST(count(*) AS BIGINT) AS cand_pairs,
         |       CAST(count(*) FILTER (WHERE jaccard >= 0.2) AS BIGINT) AS pairs_ge_02,
         |       CAST(coalesce(round(max(jaccard), 6), 0.0) AS DOUBLE) AS max_jaccard
         |FROM j""".stripMargin,

    "doc_minhash_lsh" ->
      s"""WITH $shCte,
         |$minhashCandsCtes
         |SELECT CAST(count(*) AS BIGINT) AS cand_pairs,
         |       CAST(coalesce(sum(a * 31 + b), 0) AS BIGINT) AS pair_checksum
         |FROM cands""".stripMargin,

    "doc_dedup_clusters" ->
      s"""WITH $shCte,
         |$minhashCandsCtes,
         |ue AS (SELECT a AS x, b AS y FROM cands UNION SELECT b, a FROM cands),
         |verts AS (SELECT DISTINCT x AS v FROM ue),
         |comp AS (
         |  WITH RECURSIVE reach(v, r) AS (
         |    SELECT v, v FROM verts
         |    UNION
         |    SELECT reach.v, ue.y FROM reach JOIN ue ON ue.x = reach.r
         |  )
         |  SELECT v, min(r) AS component FROM reach GROUP BY v),
         |sizes AS (SELECT component, count(*) AS sz FROM comp GROUP BY 1)
         |SELECT (SELECT CAST(count(*) AS BIGINT) FROM documents) AS n_docs,
         |       CAST(count(*) AS BIGINT) AS dup_clusters,
         |       CAST(coalesce(max(sz), 0) AS BIGINT) AS max_cluster,
         |       CAST(coalesce(sum(sz - 1), 0) AS BIGINT) AS removed_docs,
         |       CAST(coalesce(sum(component), 0) AS BIGINT) AS keeper_checksum
         |FROM sizes""".stripMargin,

    "doc_top_ngrams" ->
      """WITH t AS (
        |  SELECT lang, string_split(text, ' ') AS toks FROM documents),
        |g AS (
        |  SELECT lang, array_to_string(toks[p:p+1], ' ') AS gram
        |  FROM (SELECT lang, toks, unnest(range(1, len(toks))) AS p
        |        FROM t WHERE len(toks) >= 2)),
        |c AS (SELECT lang, gram, count(*) AS cnt FROM g GROUP BY 1, 2),
        |r AS (
        |  SELECT lang, gram, cnt,
        |         row_number() OVER (PARTITION BY lang
        |                            ORDER BY cnt DESC, gram ASC) AS rank
        |  FROM c)
        |SELECT lang, gram, CAST(cnt AS BIGINT) AS cnt, CAST(rank AS BIGINT) AS rank
        |FROM r WHERE rank <= 10""".stripMargin,

    "doc_dup_spans" ->
      """WITH d AS (
        |  SELECT doc_id, text, length(text) AS len FROM documents),
        |sp AS (
        |  SELECT doc_id, md5(substr(text, p + 1, 40)) AS h
        |  FROM (SELECT doc_id, text, unnest(range(0, len - 40 + 1, 20)) AS p
        |        FROM d WHERE len >= 40)),
        |hot AS (
        |  SELECT h FROM sp GROUP BY h HAVING count(DISTINCT doc_id) >= 2)
        |SELECT sp.doc_id,
        |       CAST(count(*) AS BIGINT) AS n_spans,
        |       CAST(count(hot.h) AS BIGINT) AS dup_spans,
        |       CAST(count(hot.h) AS DOUBLE) / count(*) AS dup_frac
        |FROM sp LEFT JOIN hot ON sp.h = hot.h
        |GROUP BY sp.doc_id""".stripMargin,

    "doc_simhash" ->
      """WITH toks AS (
        |  SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents) t),
        |bits AS (
        |  SELECT doc_id, j, sum(((h >> j) & 1) * 2 - 1) AS s
        |  FROM toks, LATERAL unnest(generate_series(0, 59)) g(j)
        |  GROUP BY 1, 2),
        |simhashes AS (
        |  SELECT doc_id,
        |         CAST(sum(CASE WHEN s > 0 THEN CAST(1 AS BIGINT) << j ELSE 0 END) AS BIGINT) AS simhash
        |  FROM bits GROUP BY doc_id),
        |reps AS (SELECT min(doc_id) AS doc_id, simhash FROM simhashes GROUP BY simhash),
        |banded AS (
        |  SELECT doc_id, band, (simhash >> (band * 15)) & 32767 AS key, simhash
        |  FROM reps, LATERAL unnest(generate_series(0, 3)) g(band)),
        |cands AS (
        |  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b, x.simhash AS sa, y.simhash AS sb
        |  FROM banded x JOIN banded y
        |    ON x.band = y.band AND x.key = y.key AND x.doc_id < y.doc_id),
        |reppairs AS (SELECT a, b, bit_count(xor(sa, sb)) AS hamming
        |             FROM cands WHERE bit_count(xor(sa, sb)) <= 3),
        |stars AS (SELECT r.doc_id AS a, s.doc_id AS b, 0 AS hamming
        |          FROM simhashes s JOIN reps r USING (simhash) WHERE s.doc_id <> r.doc_id),
        |pairs AS (SELECT * FROM reppairs UNION ALL SELECT * FROM stars)
        |SELECT (SELECT CAST(count(DISTINCT simhash) AS BIGINT) FROM simhashes) AS distinct_simhash,
        |       (SELECT CAST(sum(simhash % 1000003) AS BIGINT) FROM simhashes) AS simhash_checksum,
        |       (SELECT CAST(count(*) AS BIGINT) FROM pairs) AS pairs_hamming_le3,
        |       (SELECT CAST(coalesce(sum(hamming), 0) AS BIGINT) FROM pairs) AS sum_hamming""".stripMargin,

    "doc_langid" -> {
      val langs = Markers.keys.toSeq.sorted
      val scoreCols = langs.map(l => s"${markerScore(l)} AS s_$l").mkString(",\n         ")
      s"""WITH scored AS (
         |  SELECT lang,
         |         $scoreCols
         |  FROM documents),
         |g AS (SELECT *, greatest(${langs.map(l => s"s_$l").mkString(", ")}) AS gm FROM scored)
         |SELECT lang, $langCase AS predicted, CAST(count(*) AS BIGINT) AS cnt
         |FROM g GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
    },

    "doc_langid_ngram" -> {
      val langs = NgramProfiles.keys.toSeq.sorted
      val scoreCols = langs.map { l =>
        val set = NgramProfiles(l).map(g => s"'$g'").mkString(", ")
        s"len(list_filter(grams, t -> t IN ($set))) AS s_$l"
      }.mkString(",\n         ")
      val gm = langs.map(l => s"s_$l").mkString("greatest(", ", ", ")")
      val whens = langs.map(l => s"WHEN s_$l = gm THEN '$l'").mkString(" ")
      s"""WITH g AS (
         |  SELECT lang,
         |         list_transform(generate_series(1, greatest(strlen(text) - 2, 0)),
         |                        i -> substr(text, i, 3)) AS grams
         |  FROM documents),
         |scored AS (
         |  SELECT lang,
         |         $scoreCols
         |  FROM g),
         |g2 AS (SELECT *, $gm AS gm FROM scored)
         |SELECT lang, CASE WHEN gm = 0 THEN 'und' $whens END AS predicted,
         |       CAST(count(*) AS BIGINT) AS cnt
         |FROM g2 GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
    },

    "doc_tokens_bpe" -> {
      val pat = graft.ops.TextOps.BpePattern.replace("'", "''")
      s"""WITH toks AS (
         |  SELECT unnest(regexp_extract_all(text, '$pat')) AS tok FROM documents),
         |counts AS (SELECT tok, count(*) AS c FROM toks GROUP BY tok)
         |SELECT
         |  (SELECT CAST(sum(c) AS BIGINT) FROM counts) AS total_tokens,
         |  (SELECT CAST(count(*) AS BIGINT) FROM counts) AS distinct_tokens,
         |  (SELECT tok FROM counts ORDER BY c DESC, tok ASC LIMIT 1) AS top_token,
         |  (SELECT CAST(c AS BIGINT) FROM counts ORDER BY c DESC, tok ASC LIMIT 1) AS top_token_cnt""".stripMargin
    },

    "doc_quality" -> {
      val sw = Stopwords.map(s => s"'$s'").mkString(", ")
      s"""WITH q AS (
         |  SELECT source,
         |         length(text) AS chars,
         |         length(text) - length(regexp_replace(text, '[^\\p{L}\\p{N} ]', '', 'g')) AS n_punct,
         |         len(string_split(text, ' ')) AS n_tokens,
         |         len(list_distinct(string_split(text, ' '))) AS n_distinct,
         |         len(list_filter(string_split(text, ' '), x -> x IN ($sw))) AS n_stop
         |  FROM documents)
         |SELECT source, CAST(count(*) AS BIGINT) AS docs,
         |       CAST(round(avg(chars), 6) AS DOUBLE) AS avg_chars,
         |       CAST(round(avg(n_tokens), 6) AS DOUBLE) AS avg_tokens,
         |       CAST(round(avg(CAST(n_distinct AS DOUBLE) / n_tokens), 6) AS DOUBLE) AS avg_ttr,
         |       CAST(round(avg(CAST(n_stop AS DOUBLE) / n_tokens), 6) AS DOUBLE) AS avg_stop_ratio,
         |       CAST(round(avg(CAST(n_punct AS DOUBLE) / chars), 6) AS DOUBLE) AS avg_punct_ratio
         |FROM q GROUP BY source ORDER BY source""".stripMargin
    },

    "doc_tokens" ->
      """WITH toks AS (SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
        |counts AS (SELECT tok, count(*) AS c FROM toks GROUP BY tok)
        |SELECT
        |  (SELECT CAST(sum(c) AS BIGINT) FROM counts) AS total_tokens,
        |  (SELECT CAST(count(*) AS BIGINT) FROM counts) AS distinct_tokens,
        |  (SELECT CAST(round(avg(len(string_split(text, ' '))), 6) AS DOUBLE) FROM documents) AS avg_tokens,
        |  (SELECT tok FROM counts ORDER BY c DESC, tok ASC LIMIT 1) AS top_token,
        |  (SELECT CAST(c AS BIGINT) FROM counts ORDER BY c DESC, tok ASC LIMIT 1) AS top_token_cnt""".stripMargin,

    "doc_fingerprint" ->
      s"""WITH $shPosCte,
         |wm AS (
         |  SELECT doc_id,
         |         min(h) OVER (PARTITION BY doc_id ORDER BY pos
         |                      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
         |  FROM shp),
         |fps AS (SELECT DISTINCT doc_id, fp FROM wm),
         |perdoc AS (SELECT doc_id, count(*) AS c FROM fps GROUP BY doc_id),
         |sharing AS (SELECT fp, count(DISTINCT doc_id) AS d FROM fps GROUP BY fp)
         |SELECT
         |  (SELECT CAST(count(*) AS BIGINT) FROM fps) AS total_fps,
         |  (SELECT CAST(count(DISTINCT fp) AS BIGINT) FROM fps) AS distinct_fps,
         |  (SELECT CAST(round(avg(c), 6) AS DOUBLE) FROM perdoc) AS avg_fp_per_doc,
         |  (SELECT CAST(max(d) AS BIGINT) FROM sharing) AS max_docs_sharing""".stripMargin,

    "emb_centroids" ->
      """SELECT label, i.i - 1 AS pos,
        |       CAST(round(avg(CAST(embedding[i.i] AS DOUBLE)), 6) AS DOUBLE) AS mean_val,
        |       CAST(count(*) AS BIGINT) AS n
        |FROM embeddings,
        |     LATERAL unnest(generate_series(1, len(embedding))) AS i(i)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "doc_unigram_logprob" ->
      """WITH toks AS (
        |  SELECT doc_id, term
        |  FROM documents, unnest(string_split_regex(text, ' +')) AS t(term)
        |  WHERE term <> ''),
        |counts AS (SELECT term, CAST(count(*) AS DOUBLE) AS c FROM toks GROUP BY term),
        |tot AS (SELECT sum(c) AS total FROM counts),
        |scored AS (
        |  SELECT doc_id, count(*) AS n_tokens,
        |         round(avg(ln(c / total)), 6) AS mean_lp
        |  FROM toks JOIN counts USING (term), tot
        |  GROUP BY doc_id),
        |j AS (SELECT d.source, s.n_tokens, s.mean_lp
        |      FROM documents d JOIN scored s USING (doc_id))
        |SELECT source,
        |       CAST(count(*) AS BIGINT) AS docs,
        |       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
        |       CAST(round(avg(mean_lp), 6) AS DOUBLE) AS avg_logprob,
        |       CAST(round(min(mean_lp), 6) AS DOUBLE) AS min_logprob,
        |       CAST(round(max(mean_lp), 6) AS DOUBLE) AS max_logprob
        |FROM j GROUP BY source ORDER BY source""".stripMargin,

    "doc_bigram_logprob" ->
      """WITH toks AS (
        |  SELECT doc_id, l[i] AS term, i AS pos
        |  FROM (SELECT doc_id, string_split_regex(text, ' +') AS l FROM documents),
        |       LATERAL unnest(generate_series(1, len(l))) g(i)
        |  WHERE l[i] <> ''),
        |bi AS (
        |  SELECT doc_id, term,
        |         lead(term) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt
        |  FROM toks),
        |bi2 AS (SELECT doc_id, term, nxt FROM bi WHERE nxt IS NOT NULL),
        |c1 AS (SELECT term, CAST(count(*) AS DOUBLE) AS c1 FROM toks GROUP BY 1),
        |tot AS (SELECT sum(c1) AS total FROM c1),
        |c2 AS (SELECT term, nxt, CAST(count(*) AS DOUBLE) AS c2 FROM bi2 GROUP BY 1, 2),
        |scored AS (
        |  SELECT c2.term, c2.nxt,
        |         ln(0.75 * (c2.c2 / a.c1) + 0.25 * (b.c1 / tot.total)) AS lp
        |  FROM c2 JOIN c1 a ON a.term = c2.term
        |       JOIN c1 b ON b.term = c2.nxt, tot),
        |perdoc AS (
        |  SELECT doc_id, count(*) AS n_bigrams, round(avg(lp), 6) AS mean_lp
        |  FROM bi2 JOIN scored USING (term, nxt) GROUP BY 1),
        |j AS (SELECT d.source, p.n_bigrams, p.mean_lp
        |      FROM documents d JOIN perdoc p USING (doc_id))
        |SELECT source,
        |       CAST(count(*) AS BIGINT) AS docs,
        |       CAST(sum(n_bigrams) AS BIGINT) AS total_bigrams,
        |       CAST(round(avg(mean_lp), 6) AS DOUBLE) AS avg_logprob,
        |       CAST(round(min(mean_lp), 6) AS DOUBLE) AS min_logprob,
        |       CAST(round(max(mean_lp), 6) AS DOUBLE) AS max_logprob
        |FROM j GROUP BY source ORDER BY source""".stripMargin,

    "emb_jl" ->
      """WITH e AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
        |           FROM embeddings WHERE vec_id < 20),
        |p AS (
        |  SELECT id, gi.i AS pos,
        |         round(list_dot_product(v,
        |           [CAST(('0x' || substr(md5('42#' || CAST(gi.i AS VARCHAR) || '#'
        |              || CAST(j AS VARCHAR)), 1, 15))::BIGINT % 2 AS DOUBLE) * 2.0 - 1.0
        |            FOR j IN generate_series(0, len(v) - 1)])
        |           * (1.0 / sqrt(16.0)), 6) AS value
        |  FROM e, LATERAL unnest(generate_series(0, 15)) gi(i))
        |SELECT id, CAST(pos AS INT) AS pos, CAST(value AS DOUBLE) AS value
        |FROM p ORDER BY id, pos""".stripMargin,

    // full PQ replay: seeded per-subspace codebooks (row_number position
    // over the 16 smallest ids), argmin encoding and query ADC tables in
    // integer micros, candidate distance = order-free integer sum
    "emb_pq" ->
      """WITH e AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |cb AS (SELECT v AS cv, row_number() OVER (ORDER BY id) AS p
        |       FROM (SELECT * FROM e ORDER BY id LIMIT 16)),
        |sd AS (
        |  SELECT e.id, g.j, cb.p,
        |         CAST(round((list_dot_product(s.xs, s.xs)
        |               - 2 * list_dot_product(s.xs, s.cs)
        |               + list_dot_product(s.cs, s.cs)) * 1000000, 0) AS BIGINT) AS dm
        |  FROM e, LATERAL unnest(generate_series(0, 3)) g(j), cb,
        |       LATERAL (SELECT e.v[(g.j * len(e.v)) // 4 + 1 : ((g.j + 1) * len(e.v)) // 4] AS xs,
        |                       cb.cv[(g.j * len(cb.cv)) // 4 + 1 : ((g.j + 1) * len(cb.cv)) // 4] AS cs) s),
        |codes AS (
        |  SELECT id, j, p FROM (
        |    SELECT *, row_number() OVER (PARTITION BY id, j ORDER BY dm ASC, p ASC) AS rn
        |    FROM sd) z WHERE rn = 1),
        |scored AS (
        |  SELECT qd.id AS query_id, c.id AS id, sum(qd.dm) AS adist_micros
        |  FROM codes c JOIN sd qd ON qd.j = c.j AND qd.p = c.p AND qd.id <> c.id
        |  WHERE qd.id < 10
        |  GROUP BY 1, 2),
        |ranked AS (
        |  SELECT query_id, id, adist_micros,
        |         row_number() OVER (PARTITION BY query_id
        |           ORDER BY adist_micros ASC, id ASC) AS rank
        |  FROM scored)
        |SELECT query_id, CAST(rank AS INT) AS rank, id AS neighbor_id,
        |       CAST(adist_micros AS BIGINT) AS adist_micros
        |FROM ranked WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin,

    "emb_knn" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 20),
        |scored AS (
        |  SELECT query_id, vec_id,
        |         CAST(round(list_dot_product(qv, v) /
        |               (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(v, v))), 6) AS DOUBLE) AS sim
        |  FROM q JOIN e ON vec_id <> query_id),
        |ranked AS (
        |  SELECT query_id, vec_id, sim,
        |         row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id ASC) AS rank
        |  FROM scored)
        |SELECT query_id, CAST(rank AS INT) AS rank, vec_id AS neighbor_id, sim
        |FROM ranked WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin,

    "emb_ivf" ->
      """WITH e AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |cents AS (SELECT id AS cid, v AS cv FROM e ORDER BY id LIMIT 8),
        |ad AS (
        |  SELECT e.id, e.v, c.cid,
        |         round(list_dot_product(e.v, e.v) - 2 * list_dot_product(e.v, c.cv)
        |               + list_dot_product(c.cv, c.cv), 6) AS d2
        |  FROM e, cents c),
        |assign AS (
        |  SELECT id, v, cid AS list_id
        |  FROM (SELECT *, row_number() OVER (PARTITION BY id ORDER BY d2 ASC, cid ASC) AS rn FROM ad)
        |  WHERE rn = 1),
        |probes AS (
        |  SELECT id AS query_id, v AS qv, cid AS list_id
        |  FROM (SELECT *, row_number() OVER (PARTITION BY id ORDER BY d2 ASC, cid ASC) AS rn
        |        FROM ad WHERE id < 10)
        |  WHERE rn <= 3),
        |scored AS (
        |  SELECT p.query_id, a.id,
        |         CAST(round(list_dot_product(p.qv, a.v) /
        |               (sqrt(list_dot_product(p.qv, p.qv)) * sqrt(list_dot_product(a.v, a.v))), 6) AS DOUBLE) AS sim
        |  FROM probes p JOIN assign a USING (list_id) WHERE a.id <> p.query_id),
        |ranked AS (
        |  SELECT query_id, id, sim,
        |         row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, id ASC) AS rank
        |  FROM scored)
        |SELECT query_id, CAST(rank AS INT) AS rank, id AS neighbor_id, sim
        |FROM ranked WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin,

    "emb_kmeans" -> {
      // two Lloyd rounds unrolled; round(avg, 6) after every centroid
      // update is the cross-engine determinism contract shared with the
      // Spark op (assignments computed from bit-identical centroids)
      def assignCte(cents: String, name: String) =
        s"""$name AS (
           |  SELECT id, v, cid, d2 FROM (
           |    SELECT e.id, e.v, c.cid,
           |           round(list_dot_product(e.v, e.v) - 2 * list_dot_product(e.v, c.cv)
           |                 + list_dot_product(c.cv, c.cv), 6) AS d2,
           |           row_number() OVER (PARTITION BY e.id ORDER BY
           |             round(list_dot_product(e.v, e.v) - 2 * list_dot_product(e.v, c.cv)
           |                   + list_dot_product(c.cv, c.cv), 6) ASC, c.cid ASC) AS rn
           |    FROM e, $cents c) z
           |  WHERE rn = 1)""".stripMargin
      def updateCte(assigned: String, u: String, cents: String) =
        s"""$u AS (
           |  SELECT cid, i, round(avg(v[i]), 6) AS m
           |  FROM $assigned, LATERAL unnest(generate_series(1, len(v))) AS t(i)
           |  GROUP BY cid, i),
           |$cents AS (SELECT cid, list(m ORDER BY i) AS cv FROM $u GROUP BY cid)""".stripMargin
      s"""WITH e AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |c0 AS (SELECT id AS cid, v AS cv FROM e ORDER BY id LIMIT 8),
         |${assignCte("c0", "a0")},
         |${updateCte("a0", "u1", "c1")},
         |${assignCte("c1", "a1")},
         |${updateCte("a1", "u2", "c2")},
         |${assignCte("c2", "a2")}
         |SELECT cid AS cluster,
         |       CAST(count(*) AS BIGINT) AS n_points,
         |       CAST(round(sum(d2), 6) AS DOUBLE) AS inertia,
         |       CAST(sum(id) AS BIGINT) AS id_checksum
         |FROM a2 GROUP BY cid ORDER BY cluster""".stripMargin
    },

    "emb_semdedup" -> {
      // one Lloyd round unrolled exactly as emb_kmeans, then the SemDeDup
      // keep rule: within-cluster pairs at cosine >= 0.5 drop the point
      // with the smaller (rounded) centroid distance, ties drop the
      // larger id
      s"""WITH e AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |c0 AS (SELECT id AS cid, v AS cv FROM e ORDER BY id LIMIT 8),
         |a0 AS (
         |  SELECT id, v, cid, d2 FROM (
         |    SELECT e.id, e.v, c.cid,
         |           round(list_dot_product(e.v, e.v) - 2 * list_dot_product(e.v, c.cv)
         |                 + list_dot_product(c.cv, c.cv), 6) AS d2,
         |           row_number() OVER (PARTITION BY e.id ORDER BY
         |             round(list_dot_product(e.v, e.v) - 2 * list_dot_product(e.v, c.cv)
         |                   + list_dot_product(c.cv, c.cv), 6) ASC, c.cid ASC) AS rn
         |    FROM e, c0 c) z
         |  WHERE rn = 1),
         |u1 AS (
         |  SELECT cid, i, round(avg(v[i]), 6) AS m
         |  FROM a0, LATERAL unnest(generate_series(1, len(v))) AS t(i)
         |  GROUP BY cid, i),
         |c1 AS (SELECT cid, list(m ORDER BY i) AS cv FROM u1 GROUP BY cid),
         |a1 AS (
         |  SELECT id, v, cid, d2 FROM (
         |    SELECT e.id, e.v, c.cid,
         |           round(list_dot_product(e.v, e.v) - 2 * list_dot_product(e.v, c.cv)
         |                 + list_dot_product(c.cv, c.cv), 6) AS d2,
         |           row_number() OVER (PARTITION BY e.id ORDER BY
         |             round(list_dot_product(e.v, e.v) - 2 * list_dot_product(e.v, c.cv)
         |                   + list_dot_product(c.cv, c.cv), 6) ASC, c.cid ASC) AS rn
         |    FROM e, c1 c) z
         |  WHERE rn = 1),
         |pairs AS (
         |  SELECT x.id AS a, y.id AS b, x.d2 AS d2a, y.d2 AS d2b
         |  FROM a1 x JOIN a1 y ON x.cid = y.cid AND x.id < y.id
         |  WHERE list_dot_product(x.v, y.v) /
         |        (sqrt(list_dot_product(x.v, x.v)) * sqrt(list_dot_product(y.v, y.v))) >= 0.5),
         |losers AS (
         |  SELECT DISTINCT CASE WHEN d2a < d2b THEN a
         |                       WHEN d2a > d2b THEN b
         |                       ELSE greatest(a, b) END AS id FROM pairs)
         |SELECT cid AS cluster,
         |       CAST(count(*) AS BIGINT) AS n_points,
         |       CAST(count(l.id) AS BIGINT) AS n_dropped,
         |       CAST(coalesce(sum(CASE WHEN l.id IS NULL THEN a1.id END), 0) AS BIGINT)
         |         AS kept_checksum,
         |       CAST(round(sum(d2), 6) AS DOUBLE) AS inertia
         |FROM a1 LEFT JOIN losers l USING (id)
         |GROUP BY cid ORDER BY cluster""".stripMargin
    },

    "emb_dedup_cosine" ->
      """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |pairs AS (
        |  SELECT x.vec_id AS a, y.vec_id AS b
        |  FROM e x JOIN e y ON x.label = y.label AND x.vec_id < y.vec_id
        |  WHERE list_dot_product(x.v, y.v) /
        |        (sqrt(list_dot_product(x.v, x.v)) * sqrt(list_dot_product(y.v, y.v))) >= 0.2)
        |SELECT CAST(count(*) AS BIGINT) AS pairs_cos_ge_02,
        |       CAST(coalesce(sum(a + b), 0) AS BIGINT) AS pair_checksum
        |FROM pairs""".stripMargin,

    "emb_dedup_cosine_blocked" ->
      """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |bsz AS (SELECT label, count(*) AS c FROM e GROUP BY label),
        |dots AS (
        |  SELECT vec_id, p,
        |         list_dot_product(v, list_transform(generate_series(0, 63),
        |           d -> CAST((p * 37 + d * 11) % 13 - 6 AS DOUBLE))) AS dp
        |  FROM e, LATERAL unnest(generate_series(0, 3)) g(p)),
        |buckets AS (
        |  SELECT vec_id, CAST(sum(CASE WHEN dp > 0 THEN 1 << p ELSE 0 END) AS BIGINT) AS bucket
        |  FROM dots GROUP BY vec_id),
        |e2 AS (
        |  SELECT e.vec_id,
        |         CASE WHEN b.c > 40 THEN e.label::VARCHAR || '#' || bk.bucket::VARCHAR
        |              ELSE e.label::VARCHAR END AS blk,
        |         e.v
        |  FROM e JOIN bsz b USING (label) JOIN buckets bk ON bk.vec_id = e.vec_id),
        |pairs AS (
        |  SELECT x.vec_id AS a, y.vec_id AS b
        |  FROM e2 x JOIN e2 y ON x.blk = y.blk AND x.vec_id < y.vec_id
        |  WHERE list_dot_product(x.v, y.v) /
        |        (sqrt(list_dot_product(x.v, x.v)) * sqrt(list_dot_product(y.v, y.v))) >= 0.2)
        |SELECT CAST(count(*) AS BIGINT) AS pairs_cos_ge_02,
        |       CAST(coalesce(sum(a + b), 0) AS BIGINT) AS pair_checksum
        |FROM pairs""".stripMargin,

    "emb_lsh_buckets" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |dots AS (
        |  SELECT vec_id, p,
        |         list_dot_product(v, list_transform(generate_series(0, 63),
        |           d -> CAST((p * 37 + d * 11) % 13 - 6 AS DOUBLE))) AS dp
        |  FROM e, LATERAL unnest(generate_series(0, 7)) g(p)),
        |buckets AS (
        |  SELECT vec_id, CAST(sum(CASE WHEN dp > 0 THEN 1 << p ELSE 0 END) AS BIGINT) AS bucket
        |  FROM dots GROUP BY vec_id),
        |sizes AS (SELECT bucket, count(*) AS c FROM buckets GROUP BY bucket)
        |SELECT CAST(count(*) AS BIGINT) AS n_buckets,
        |       CAST(max(c) AS BIGINT) AS max_bucket,
        |       CAST(sum(c * c) AS BIGINT) AS sum_bucket_sq
        |FROM sizes""".stripMargin,

    "emb_lsh_multiprobe" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |dots AS (
        |  SELECT vec_id, p,
        |         list_dot_product(v, list_transform(generate_series(0, 63),
        |           d -> CAST((p * 37 + d * 11) % 13 - 6 AS DOUBLE))) AS dp
        |  FROM e, LATERAL unnest(generate_series(0, 7)) g(p)),
        |buckets AS (
        |  SELECT vec_id, CAST(sum(CASE WHEN dp > 0 THEN 1 << p ELSE 0 END) AS BIGINT) AS bucket
        |  FROM dots GROUP BY vec_id),
        |corpus AS (SELECT e.vec_id AS id, e.v, b.bucket FROM e JOIN buckets b USING (vec_id)),
        |q AS (
        |  SELECT e.vec_id AS query_id, e.v AS qv, b.bucket AS qbucket
        |  FROM e JOIN buckets b USING (vec_id) WHERE e.vec_id < 10),
        |probes AS (
        |  SELECT query_id, qv,
        |         unnest(list_prepend(qbucket,
        |           list_transform(generate_series(0, 7), p -> xor(qbucket, CAST(1 AS BIGINT) << p)))) AS probe
        |  FROM q),
        |scored AS (
        |  SELECT p.query_id, c.id,
        |         CAST(round(list_dot_product(p.qv, c.v) /
        |               (sqrt(list_dot_product(p.qv, p.qv)) * sqrt(list_dot_product(c.v, c.v))), 6) AS DOUBLE) AS sim
        |  FROM probes p JOIN corpus c ON c.bucket = p.probe AND c.id <> p.query_id),
        |ranked AS (
        |  SELECT query_id, id, sim,
        |         row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, id ASC) AS rank
        |  FROM scored)
        |SELECT query_id, CAST(rank AS INT) AS rank, id AS neighbor_id, sim
        |FROM ranked WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin,

    "mm_decode_meta" ->
      // byte-based twin (VERDICT r3 next #7): byte i of the UTF-8 payload is
      // read from hex(encode(text)) at hex offset 2i-1 — exact for any
      // codepoint, where the old ascii(substr(..)) read CHARACTERS and was
      // only correct on ASCII fixtures
      """WITH meta AS (
        |  SELECT doc_id, source,
        |         strlen(text) AS byte_len,
        |         strlen(text) % 640 AS width,
        |         strlen(text) % 480 AS height,
        |         (SELECT coalesce(sum(('0x' || substr(hex(encode(text)), 2 * i - 1, 2))::INT * i), 0)
        |          FROM unnest(generate_series(1, strlen(text))) g(i)) AS checksum
        |  FROM documents)
        |SELECT source, CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(byte_len) AS BIGINT) AS total_bytes,
        |       CAST(round(avg(width), 6) AS DOUBLE) AS avg_width,
        |       CAST(round(avg(height), 6) AS DOUBLE) AS avg_height,
        |       CAST(sum(checksum) AS BIGINT) AS checksum
        |FROM meta GROUP BY source ORDER BY source""".stripMargin,

    "mm_frame_sample" ->
      """WITH f AS (
        |  SELECT t.doc_id, g.i AS frame_idx
        |  FROM (SELECT doc_id, strlen(text) // 16 AS nf FROM documents
        |        WHERE strlen(text) > 0) t,
        |       LATERAL unnest(generate_series(0, t.nf - 1)) g(i)
        |  WHERE g.i % 2 = 0)
        |SELECT CAST(count(*) AS BIGINT) AS n_frames,
        |       CAST(count(DISTINCT doc_id) AS BIGINT) AS media_with_frames,
        |       CAST(coalesce(sum(frame_idx), 0) AS BIGINT) AS idx_checksum,
        |       CAST(coalesce(count(*) * 16, 0) AS BIGINT) AS frame_bytes
        |FROM f""".stripMargin,

    "mm_feature_knn" ->
      """WITH feats AS (
        |  SELECT doc_id AS media_id,
        |         list_transform(generate_series(0, 15),
        |           d -> CAST(((('0x' || substr(hex(encode(text)), 2 * ((d * 7) % strlen(text)) + 1, 2))::INT * 31 + d) % 13 - 6) AS DOUBLE)) AS v
        |  FROM documents
        |  WHERE strlen(text) > 0),
        |q AS (SELECT media_id AS query_id, v AS qv FROM feats WHERE media_id < 5),
        |scored AS (
        |  SELECT query_id, media_id,
        |         CAST(round(list_dot_product(qv, v) /
        |               (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(v, v))), 6) AS DOUBLE) AS sim
        |  FROM q JOIN feats ON media_id <> query_id),
        |ranked AS (
        |  SELECT query_id, media_id, sim,
        |         row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, media_id ASC) AS rank
        |  FROM scored)
        |SELECT query_id, CAST(rank AS INT) AS rank, media_id AS neighbor_id, sim
        |FROM ranked WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin,

    "ev_window" ->
      """SELECT CAST(floor(epoch(ts) / 300) * 300 AS BIGINT) AS win_start,
        |       event_type,
        |       CAST(count(*) AS BIGINT) AS n,
        |       CAST(round(sum(value), 6) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
  )
}
