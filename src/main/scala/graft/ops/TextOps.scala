package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines:
  * tokenization, shingling, portable 60/31-bit hashes, SimHash, winnowing
  * fingerprints, quality features, marker-based language ID.
  *
  * The "portable hash" convention (md5-prefix as int) is engine-agnostic on
  * purpose: the DuckDB oracle twin computes the identical value, so every
  * dedup/fingerprint operator is cross-checkable end to end. At production
  * scale you would swap `portableHash64` for xxhash64 — a one-line change —
  * since only hash *stability within a run* matters to these algorithms.
  */
object TextOps {

  /** Tokens on runs of spaces (document corpus is space-normalized). */
  def tokens(text: Column): Column = split(text, " +")

  /** BPE-ish pre-tokenizer pattern (GPT-2 style, lookahead-free so it runs
    * identically on Java regex and RE2/DuckDB): contractions,
    * space-prefixed letter runs, digit runs, punctuation runs, whitespace
    * runs. This is the PRE-tokenization step of byte-pair encoding — the
    * unit real tokenizers count before merges.
    */
  val BpePattern: String =
    "'(?:s|d|m|t|ll|ve|re)| ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}]+|\\s+"

  /** BPE-ish pre-tokens of `text` (array column, codegen'd regex). */
  def bpeTokens(text: Column): Column =
    regexp_extract_all(text, lit(BpePattern), lit(0))

  /** 60-bit non-negative hash: first 15 hex chars of md5, base-16 decoded. */
  def portableHash64(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** 31-bit variant for modular arithmetic without overflow. */
  def portableHash31(c: Column): Column =
    portableHash64(c).bitwiseAND(lit(0x7fffffffL))

  /** (doc_id, pos, shingle): the size-k+1 sliding `k`-token shingles per
    * document (empty when the document has fewer than k tokens).
    */
  def shingles(docs: DataFrame, idCol: String, textCol: String, k: Int): DataFrame = {
    // NATIVE codegen shingle texts (graft.functions.TokenShingles): the
    // transform/array_join/slice lambda chain is CodegenFallback and
    // evaluates interpreted per element; the compiled loop emits the
    // identical strings (n < k => empty, as the old CASE form)
    import org.apache.spark.sql.graft.Bridge
    val t = docs.select(col(idCol), tokens(col(textCol)).as("toks"))
    t.select(col(idCol), posexplode(
      Bridge.column(graft.functions.TokenShingles(
        Bridge.expression(col("toks")), k, " ")))
      .as(Seq("pos", "shingle")))
  }

  /** Per-document SimHash over the token multiset: bit j is set iff the sum
    * over tokens of (2*bit_j(hash(token)) - 1) is > 0.
    *
    * `bits` defaults to 60 — the full width of [[portableHash64]]. The
    * original 16-bit variant ([[simhash16]]) has only 65,536 distinct values,
    * so at web scale every banded bucket holds millions of documents and the
    * candidate join explodes; 60 bits keeps band keys selective (2^15 values
    * per 15-bit band) and the false-candidate rate negligible.
    */
  def simhash(docs: DataFrame, idCol: String, textCol: String,
              bits: Int = 60): DataFrame = {
    require(bits >= 1 && bits <= 60, "portableHash64 provides 60 hash bits")
    // native codegen'd one-pass kernel: the composed twin (in the tests)
    // explodes tokens x bits rows (a 60x blow-up) through two shuffled
    // aggregations; this is map-only and bit-exact with it (the md5-prefix
    // hash convention is shared, so the DuckDB oracle twin still matches)
    import org.apache.spark.sql.graft.Bridge
    docs.select(col(idCol),
      Bridge.column(graft.functions.PortableSimHash(
        Bridge.expression(tokens(col(textCol))), bits)).as("simhash"))
  }

  /** Legacy 16-bit SimHash (kept for API compatibility; prefer [[simhash]]
    * — 16 bits is a scale anti-pattern, see the simhash scaladoc).
    */
  def simhash16(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    simhash(docs, idCol, textCol, bits = 16)

  /** Winnowing-style fingerprints: k-shingle hashes, min over a window of
    * `w` consecutive shingles, distinct mins per document.
    */
  def fingerprints(docs: DataFrame, idCol: String, textCol: String, k: Int, w: Int): DataFrame = {
    val sh = shingles(docs, idCol, textCol, k)
      .withColumn("h", portableHash64(col("shingle")))
    val win = Window.partitionBy(idCol).orderBy("pos")
      .rowsBetween(Window.currentRow, w - 1)
    sh.withColumn("wmin", min("h").over(win))
      .select(col(idCol), col("wmin").as("fingerprint"))
      .distinct()
  }

  /** Per-document quality features: chars, tokens, type-token ratio,
    * stopword ratio (over `stopwords`), punctuation ratio (fraction of
    * characters that are neither letter, digit, nor space).
    */
  def quality(docs: DataFrame, idCol: String, textCol: String,
              stopwords: Seq[String]): DataFrame = {
    val sw = typedlit(stopwords)
    docs.select(
      col(idCol),
      length(col(textCol)).as("chars"),
      (length(col(textCol)) -
        length(regexp_replace(col(textCol), "[^\\p{L}\\p{N} ]", ""))).as("n_punct"),
      size(tokens(col(textCol))).as("n_tokens"),
      size(array_distinct(tokens(col(textCol)))).as("n_distinct"),
      size(filter(tokens(col(textCol)), t => array_contains(sw, t))).as("n_stop"))
      .withColumn("ttr", try_divide(col("n_distinct").cast("double"), col("n_tokens")))
      .withColumn("stop_ratio", try_divide(col("n_stop").cast("double"), col("n_tokens")))
      .withColumn("punct_ratio", try_divide(col("n_punct").cast("double"), col("chars")))
  }

  /** Character n-gram language ID: score(lang) = number of character
    * n-gram OCCURRENCES of the text found in the language's profile set
    * (the classic Cavnar-Trenkle-style heuristic, profile = that
    * language's most characteristic n-grams); predicted = argmax score,
    * ties -> lexicographically first language, all-zero -> "und".
    * Map-only column expressions, no shuffle.
    */
  def languageIdNgram(docs: DataFrame, idCol: String, textCol: String,
                      profiles: Map[String, Seq[String]], n: Int = 3): DataFrame = {
    val t = col(textCol)
    // materialize the trigram array ONCE per row (its own projection) —
    // each per-language filter below reads the stored array instead of
    // re-extracting every substring per language
    val withGrams = docs.select(col(idCol),
      when(length(t) >= n,
        transform(sequence(lit(1), length(t) - (n - 1)), i => t.substr(i, lit(n))))
        .otherwise(typedlit(Seq.empty[String])).as("__grams"))
    val langs = profiles.keys.toSeq.sorted
    val scored = langs.map { lang =>
      val p = typedlit(profiles(lang))
      size(filter(col("__grams"), g => array_contains(p, g))).as(s"score_$lang")
    }
    val df = withGrams.select((col(idCol) +: scored.toIndexedSeq): _*)
    val best = langs.map(l => struct(col(s"score_$l").as("s"), lit(l).as("l")))
      .reduce((a, b) => when(b.getField("s") > a.getField("s"), b).otherwise(a))
    df.withColumn("predicted",
      when(best.getField("s") > 0, best.getField("l")).otherwise(lit("und")))
      .select(col(idCol), col("predicted"))
  }

  /** Marker-token language scoring: predicted language = the one whose
    * marker set has the highest token hit count (ties/zero -> "und").
    */
  def languageId(docs: DataFrame, idCol: String, textCol: String,
                 markers: Map[String, Seq[String]]): DataFrame = {
    val scored = markers.toSeq.sortBy(_._1).map { case (lang, ms) =>
      val m = typedlit(ms)
      size(filter(tokens(col(textCol)), t => array_contains(m, t))).as(s"score_$lang")
    }
    val df = docs.select((col(idCol) +: scored.toIndexedSeq): _*)
    val langs = markers.keys.toSeq.sorted
    // argmax with deterministic tie-break = lexicographically first language;
    // all-zero -> "und"
    val best = langs.map(l => struct(col(s"score_$l").as("s"), lit(l).as("l")))
      .reduce((a, b) => when(b.getField("s") > a.getField("s"), b).otherwise(a))
    df.withColumn("predicted",
      when(best.getField("s") > 0, best.getField("l")).otherwise(lit("und")))
      .select(col(idCol), col("predicted"))
  }

  /** Corpus heavy hitters: the EXACT top-`k` token `n`-grams per `byCol`
    * group (count desc, gram asc tie-break — fully deterministic), with
    * `cnt` and 1-based `rank`.
    *
    * Scale shape: the count is a two-phase groupBy (map-side combine). The
    * naive finish — `row_number() over (partition by group)` — funnels
    * EVERY distinct gram of a group through one task, a single-partition
    * sort when group cardinality is low (a handful of languages over a
    * web corpus). Instead the top-k is taken in two exact stages: each
    * gram is salted into one of `saltBuckets` sub-partitions by gram hash
    * (a gram's counts are already fully aggregated, so it lands WHOLLY in
    * one bucket), per-(group, bucket) top-k keeps every possible global
    * winner (if a gram is in the group's true top-k, fewer than k grams in
    * its own bucket beat it), and the final window ranks only the
    * <= k * saltBuckets survivors per group.
    */
  def topNgrams(docs: DataFrame, textCol: String, byCol: String,
                n: Int, k: Int, saltBuckets: Int = 64): DataFrame = {
    require(n > 0 && k > 0 && saltBuckets > 0)
    val t = docs.select(col(byCol).as("grp"), tokens(col(textCol)).as("toks"))
    val idx = when(size(col("toks")) >= n, sequence(lit(0), size(col("toks")) - n))
      .otherwise(typedlit(Seq.empty[Int]))
    val grams = t.select(col("grp"), explode(
      transform(idx, i => array_join(slice(col("toks"), i + 1, lit(n)), " "))).as("gram"))
    val counts = grams.groupBy("grp", "gram").agg(count(lit(1)).as("cnt"))
    val salted = counts.withColumn("__salt", pmod(hash(col("gram")), lit(saltBuckets)))
    val perBucket = Window.partitionBy("grp", "__salt")
      .orderBy(col("cnt").desc, col("gram").asc)
    val survivors = salted
      .withColumn("__r", row_number().over(perBucket)).where(col("__r") <= k)
    val finalW = Window.partitionBy("grp").orderBy(col("cnt").desc, col("gram").asc)
    survivors
      .withColumn("rank", row_number().over(finalW).cast("long"))
      .where(col("rank") <= k)
      .select(col("grp").as(byCol), col("gram"), col("cnt"), col("rank"))
  }

  /** Sparse TF-IDF weights: (id, term, df, w) with tf = raw count,
    * idf = ln(N / df), N = documents with at least one non-empty token —
    * the convention shared by [[Dedup.tfidfCosinePairs]] and
    * [[tfidfKeywords]] (and replayed verbatim by their DuckDB twins). N
    * rides the plan as a broadcast 1-row aggregate; construction is
    * job-free.
    */
  def tfidfWeights(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tf = docs
      .select(col(idCol).as("id"), explode(tokens(col(textCol))).as("term"))
      .where(col("term") =!= "")
      .groupBy("id", "term").agg(count(lit(1)).cast("double").as("tf"))
    val nDocs = tf.agg(count_distinct(col("id")).cast("double").as("n_docs"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).cast("double").as("df"))
    tf.join(dfreq, "term")
      .crossJoin(broadcast(nDocs))
      .select(col("id"), col("term"), col("df"),
        (col("tf") * org.apache.spark.sql.functions.log(col("n_docs") / col("df")))
          .as("w"))
  }

  /** TF-IDF keyword extraction: the top-`k` terms per document by weight
    * (ties broken by term, so ranking is deterministic). A plain per-doc
    * window — document ids are high-cardinality by construction, so there
    * is no hot-key to salt (unlike the per-LANGUAGE top-k in
    * [[topNgrams]]).
    */
  def tfidfKeywords(docs: DataFrame, idCol: String, textCol: String,
                    k: Int): DataFrame = {
    require(k > 0, "k must be positive")
    val w = tfidfWeights(docs, idCol, textCol)
    val win = Window.partitionBy("id").orderBy(col("w").desc, col("term").asc)
    w.withColumn("rank", row_number().over(win).cast("long"))
      .where(col("rank") <= k)
      .select(col("id"), col("rank"), col("term"), col("w"))
  }

  /** Token-window chunking (long-document splitting for pretraining/RAG):
    * one row per (doc, chunk) where chunk i covers tokens [i*stride,
    * i*stride + chunkTokens) with stride = chunkTokens - overlapTokens.
    * Chunks start while tokens remain, so the last chunk may be short;
    * documents shorter than one chunk emit exactly one chunk; empty/
    * whitespace-only documents emit none. Returns (id, chunk_idx,
    * n_chunk_tokens, chunk_text).
    *
    * Map-only: the token array, chunk index range, and per-chunk slices
    * are all array expressions inside one projection — no shuffle, no
    * per-chunk pass over the document. Output volume is
    * n_tokens/stride rows per doc, linear and explicit.
    */
  def chunkByTokens(docs: DataFrame, idCol: String, textCol: String,
                    chunkTokens: Int, overlapTokens: Int = 0): DataFrame = {
    require(chunkTokens > 0, "chunkTokens must be positive")
    require(overlapTokens >= 0 && overlapTokens < chunkTokens,
      "overlapTokens must be in [0, chunkTokens)")
    val stride = chunkTokens - overlapTokens
    val t = docs.select(col(idCol),
      filter(tokens(col(textCol)), x => x =!= "").as("toks"))
    val n = size(col("toks"))
    // number of chunks: ceil(max(n - overlap, 0) / stride), min 1 when n > 0
    val idx = when(n > 0,
      sequence(lit(0),
        greatest(((n - 1 - lit(overlapTokens)) / stride).cast("int"), lit(0))))
      .otherwise(typedlit(Seq.empty[Int]))
    t.select(col(idCol), posexplode(transform(idx, i =>
      slice(col("toks"), i * stride + 1, lit(chunkTokens))))
      .as(Seq("chunk_idx", "chunk_toks")))
      .select(col(idCol), col("chunk_idx"),
        size(col("chunk_toks")).as("n_chunk_tokens"),
        array_join(col("chunk_toks"), " ").as("chunk_text"))
  }

  /** Inverted index over whitespace tokens: one row per surviving term with
    * document frequency `df`, total term frequency `ttf`, and `postings` —
    * the (doc, tf) list sorted by doc id (struct sort orders by the first
    * field). Empty tokens are dropped.
    *
    * `maxDf` is the stop-term guard, and it binds BEFORE any posting array
    * exists: df is computed as a plain count aggregation, hot terms are
    * filtered out of the (term, doc, tf) rows, and only then does
    * collect_list build arrays — so a stopword shared by 10⁹ documents
    * costs one counter, never a 10⁹-element aggregation buffer. That
    * ordering is what makes index construction survive a web corpus; a
    * production variant additionally shards the survivors' postings by
    * (term, doc_bucket), which composes with this plan unchanged.
    * `maxDf <= 0` disables the guard (test scale only).
    */
  def invertedIndex(docs: DataFrame, idCol: String, textCol: String,
                    maxDf: Int = 10000): DataFrame = {
    val tf = docs
      .select(col(idCol).as("doc"), explode(tokens(col(textCol))).as("term"))
      .where(col("term") =!= "")
      .groupBy("term", "doc").agg(count(lit(1)).as("tf"))
    val stats = tf.groupBy("term")
      .agg(count(lit(1)).cast("bigint").as("df"), sum("tf").cast("bigint").as("ttf"))
    val kept = if (maxDf > 0) stats.where(col("df") <= maxDf) else stats
    tf.join(kept, "term")
      .groupBy("term", "df", "ttf")
      .agg(sort_array(collect_list(struct(col("doc"), col("tf")))).as("postings"))
      .select("term", "df", "ttf", "postings")
  }

  /** Corpus-trained unigram language-model scoring — the proxy-perplexity
    * quality signal of pretraining pipelines (CCNet/Gopher-style LM
    * filtering, self-trained here so no external model is needed): per
    * document, the mean natural-log probability of its tokens under the
    * corpus's own unigram distribution p(t) = count(t) / total_tokens.
    * Returns (id, n_tokens, mean_logprob); rare-token-heavy (low-quality
    * or off-domain) documents score low, boilerplate scores high.
    *
    * Scale shape: one groupBy(term) over the token stream builds the
    * count table, one token-keyed equi-join scores it — the vocabulary is
    * high-cardinality at corpus scale, so the count table is NOT
    * broadcast; only the 1-row grand total rides the plan as a broadcast
    * cross join (job-free construction). Per-doc reduction is a map-side
    * partial aggregate on the document key.
    */
  /** Interpolated bigram LM scoring (the CCNet/KenLM-shaped upgrade of
    * [[unigramLogProb]]): per-doc mean of
    * ln( λ·c2(w1,w2)/c1(w1) + (1−λ)·c1(w2)/T ) over consecutive token
    * pairs — corpus-self-trained, always defined (every token is seen, so
    * the unigram backoff mass is never 0). Docs with < 2 tokens drop, like
    * the unigram op's empty-doc rule.
    *
    * Shape: the model tables are TYPE-level (observed bigrams + vocab) —
    * the log-probability is computed once per bigram TYPE and the token
    * instances join that scored table on (w1, w2) exactly once, so
    * instance rows pay one shuffle, not one per model term; the corpus
    * total rides as a broadcast 1-row agg. λ defaults to a dyadic 0.75 so
    * the arithmetic replays bit-identically in the DuckDB twin.
    */
  def bigramLogProb(docs: DataFrame, idCol: String, textCol: String,
                    lambda: Double = 0.75): DataFrame = {
    require(lambda > 0.0 && lambda < 1.0, "lambda must be in (0, 1)")
    import org.apache.spark.sql.expressions.Window
    val toks = docs
      .select(col(idCol).as("id"),
        posexplode(tokens(col(textCol))).as(Seq("pos", "term")))
      .where(col("term") =!= "")
    val w = Window.partitionBy("id").orderBy("pos")
    val bi = toks.withColumn("nxt", lead(col("term"), 1).over(w))
      .where(col("nxt").isNotNull)
    val c1 = toks.groupBy("term").agg(count(lit(1)).cast("double").as("c1"))
    val total = c1.agg(sum("c1").as("total"))
    val c2 = bi.groupBy(col("term"), col("nxt"))
      .agg(count(lit(1)).cast("double").as("c2"))
    val scored = c2.join(c1, "term")
      .join(c1.select(col("term").as("nxt"), col("c1").as("c1n")), "nxt")
      .crossJoin(broadcast(total))
      .select(col("term"), col("nxt"),
        org.apache.spark.sql.functions.log(
          lit(lambda) * (col("c2") / col("c1")) +
            lit(1.0 - lambda) * (col("c1n") / col("total"))).as("lp"))
    bi.join(scored, Seq("term", "nxt"))
      .groupBy("id").agg(
        count(lit(1)).as("n_bigrams"),
        avg("lp").as("mean_logprob"))
  }

  def unigramLogProb(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = docs
      .select(col(idCol).as("id"), explode(tokens(col(textCol))).as("term"))
      .where(col("term") =!= "")
    val counts = toks.groupBy("term").agg(count(lit(1)).cast("double").as("c"))
    val total = counts.agg(sum("c").as("total"))
    toks.join(counts, "term")
      .crossJoin(broadcast(total))
      .groupBy("id")
      .agg(count(lit(1)).as("n_tokens"),
        avg(org.apache.spark.sql.functions.log(col("c") / col("total")))
          .as("mean_logprob"))
  }

  /** BM25 relevance of every document against a fixed bag of query terms
    * (Robertson/Sparck-Jones with the Lucene non-negative idf:
    * ln(1 + (N - df + 0.5)/(df + 0.5))).
    *
    * Returns (id, n_hit_terms, score). Scale shape: the token stream is
    * filtered to the query terms BEFORE the tf aggregation, so the only
    * full-corpus pass is the map-side doc-length count; df and N are
    * O(|Q|) and O(1) broadcast folds. Nothing driver-side, no windows.
    */
  def bm25(docs: DataFrame, idCol: String, textCol: String,
           queryTerms: Seq[String], k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty, "queryTerms must be non-empty")
    val toks = docs
      .select(col(idCol).as("id"), explode(tokens(col(textCol))).as("term"))
      .where(col("term") =!= "")
    // doc length over ALL tokens (not just query terms)
    val dl = toks.groupBy("id").agg(count(lit(1)).cast("double").as("dl"))
    val nAvg = docs.agg(count(lit(1)).cast("double").as("n_docs"))
      .crossJoin(dl.agg(sum("dl").as("tok_total")))
      .select(col("n_docs"), (col("tok_total") / col("n_docs")).as("avgdl"))
    val qtf = toks.where(col("term").isin(queryTerms: _*))
      .groupBy("id", "term").agg(count(lit(1)).cast("double").as("tf"))
    val dfreq = qtf.groupBy("term").agg(count(lit(1)).cast("double").as("df"))
    qtf.join(broadcast(dfreq), "term")
      .join(dl, "id")
      .crossJoin(broadcast(nAvg))
      .select(col("id"),
        (org.apache.spark.sql.functions.log(
          lit(1.0) + (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
          * col("tf") * lit(k1 + 1.0)
          / (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl"))))
          .as("contrib"))
      .groupBy("id")
      .agg(count(lit(1)).cast("bigint").as("n_hit_terms"),
        sum("contrib").as("score"))
  }

  /** Content-defined chunking (rolling-boundary CDC, the storage-dedup /
    * shifted-content-dedup chunker): a chunk boundary falls AFTER every
    * token whose [[portableHash31]] % `modulus` == 0, so chunk boundaries
    * are a function of CONTENT — an insertion near the head of a document
    * re-chunks only the chunk it lands in, unlike fixed-stride
    * [[chunkByTokens]] where everything downstream shifts. Expected chunk
    * length is `modulus` tokens.
    *
    * Returns (id, chunk_id, n_tokens, chunk_text). One doc-keyed window
    * (high-cardinality key, no salt needed) + one groupBy; the chunk text
    * is reassembled order-exact via a sorted struct collect.
    */
  def cdcChunks(docs: DataFrame, idCol: String, textCol: String,
                modulus: Int = 16): DataFrame = {
    require(modulus > 1, "modulus must be > 1")
    val t = docs
      .select(col(idCol).as("id"),
        posexplode(tokens(col(textCol))).as(Seq("pos", "tok")))
      .where(col("tok") =!= "")
    val w = Window.partitionBy("id").orderBy("pos")
      .rowsBetween(Window.unboundedPreceding, -1)
    val boundary = when(portableHash31(col("tok")) % modulus === 0, 1L)
      .otherwise(0L)
    t.withColumn("chunk_id", coalesce(sum(boundary).over(w), lit(0L)))
      .groupBy("id", "chunk_id")
      .agg(count(lit(1)).cast("bigint").as("n_tokens"),
        array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("tok")))),
          x => x.getField("tok")), " ").as("chunk_text"))
  }

  /** Canonical form of a URL column for URL-level dedup: lowercase scheme
    * and host, default :80/:443 port stripped, fragment dropped, trailing
    * path slashes dropped, utm_* tracking params dropped and the surviving
    * query params sorted. Pure composed builtins (regexp + array ops), one
    * map-side projection — mirrors byte-for-byte in the DuckDB twin.
    */
  def canonicalizeUrl(url: Column): Column = {
    val noFrag = regexp_replace(url, "#.*$", "")
    val base = regexp_extract(noFrag, "^([^?]*)", 1)
    val query = regexp_extract(noFrag, "\\?(.*)$", 1)
    val scheme = lower(regexp_extract(base, "^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    val host = regexp_replace(
      lower(regexp_extract(base, "^[A-Za-z][A-Za-z0-9+.-]*://([^/]*)", 1)),
      ":(443|80)$", "")
    val path = regexp_replace(
      regexp_extract(base, "^[A-Za-z][A-Za-z0-9+.-]*://[^/]*(/.*)?$", 1),
      "/+$", "")
    val params = array_join(
      array_sort(filter(split(query, "&"),
        p => p =!= "" && !p.startsWith("utm_"))), "&")
    concat(scheme, lit("://"), host, path,
      when(params =!= "", concat(lit("?"), params)).otherwise(lit("")))
  }

  /** Per-document Shannon entropy (bits/char) over a restricted alphabet —
    * the standard gibberish/binary-noise quality signal: natural text runs
    * ~3–4.2 bits on [a-z0-9], uniform noise saturates near log2(36), and
    * single-char spam collapses toward 0. Returns (id, n_chars,
    * distinct_chars, entropy); documents with zero alphabet characters are
    * dropped (entropy is undefined on an empty distribution).
    *
    * `entropy = log2(n) − Σ c·log2(c) / n` over per-char-class counts, so
    * the only float work is one log per distinct class. Plan shape: one
    * generate + two hash aggregations, all map-side-combinable; the
    * alphabet bound caps the per-doc group fanout at |alphabet| regardless
    * of document length. `explode_outer` (not `explode`) keeps Catalyst's
    * InferFiltersFromGenerate from re-inlining the extraction below the
    * exchange.
    */
  def charEntropy(docs: DataFrame, idCol: String, textCol: String,
                  alphabet: String = "[a-z0-9]"): DataFrame = {
    val ch = docs.select(col(idCol).as("id"),
        explode_outer(regexp_extract_all(lower(col(textCol)),
          lit(alphabet), lit(0))).as("ch"))
      .where(col("ch").isNotNull)
    ch.groupBy("id", "ch").agg(count(lit(1)).as("c"))
      .groupBy("id").agg(
        sum("c").cast("bigint").as("n_chars"),
        count(lit(1)).cast("bigint").as("distinct_chars"),
        (log2(sum("c")) - sum(col("c") * log2(col("c"))) / sum("c"))
          .as("entropy"))
  }
}
