package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Corpus-curation operators for training-data pipelines: PII detection +
  * redaction, Gopher-style repetition/quality signals, benchmark
  * contamination (n-gram overlap), and deterministic stratified sampling.
  *
  * Scale shapes: PII and stratified sampling are map-only (pure column
  * expressions, no shuffle); repetition signals shuffle only on
  * (doc, n-gram) with map-side partial aggregation; contamination joins the
  * corpus n-gram table against a BROADCAST benchmark n-gram set — the
  * benchmark (an eval suite) is tiny next to a 100-TB corpus by
  * construction, and the one-sided broadcast keeps the corpus un-shuffled.
  */
object Curation {

  /** PII patterns, portable between Java regex and RE2 (DuckDB): no
    * lookaround, no backreferences — only character classes, bounded
    * repetition, and ASCII `\b`, which the two engines treat identically.
    */
  val EmailPattern: String = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Pattern: String = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"
  val PhonePattern: String = "\\b[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}\\b"

  /** Per-document PII signals: match counts per category plus the redacted
    * text (emails -> `<EMAIL>`, then IPv4 -> `<IP>`, then phones ->
    * `<PHONE>` — the order is part of the contract since redaction rewrites
    * the string the next pattern scans). Each category is COUNTED on the
    * same string its redaction pass scans (the output of the previous
    * pass), so counts always reconcile with the placeholders in
    * `redacted` — a span consumed by an earlier category (an email whose
    * local part looks like a phone) is counted once, in the category that
    * redacted it. Map-only.
    */
  def piiSignals(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    def n(c: Column, pat: String) = size(regexp_extract_all(c, lit(pat), lit(0)))
    val afterEmail = regexp_replace(col(textCol), EmailPattern, "<EMAIL>")
    val afterIp = regexp_replace(afterEmail, Ipv4Pattern, "<IP>")
    docs.select(
      col(idCol),
      n(col(textCol), EmailPattern).as("n_emails"),
      n(afterEmail, Ipv4Pattern).as("n_ips"),
      n(afterIp, PhonePattern).as("n_phones"),
      regexp_replace(afterIp, PhonePattern, "<PHONE>").as("redacted"))
  }

  /** Gopher-style per-document repetition/quality signals over token
    * `n`-grams (default 2):
    *
    *   - `n_tokens`, `mean_word_len`, `frac_alpha_words` (fraction of
    *     tokens containing an ASCII letter) — map-only array expressions;
    *   - `total_ngrams`, `distinct_ngrams`, `top_ngram_count`,
    *     `frac_dup_ngrams` (= 1 - distinct/total) and `top_ngram_frac` —
    *     via an (doc, gram) count, i.e. one shuffle keyed by (doc, gram)
    *     with map-side combine; no per-doc quadratic array scan, so a
    *     10^6-token document costs O(len) rows, not O(len^2) comparisons;
    *   - `gopher_pass` — the conjunctive quality gate over the thresholds.
    *
    * Documents with fewer than `n` tokens have zero n-grams; their
    * repetition fractions are 0 and they fail the gate via `minTokens`.
    */
  def repetitionSignals(docs: DataFrame, idCol: String, textCol: String,
                        n: Int = 2,
                        minTokens: Long = 50, maxTokens: Long = 100000,
                        minWordLen: Double = 3.0, maxWordLen: Double = 10.0,
                        minAlphaFrac: Double = 0.8,
                        maxDupFrac: Double = 0.2): DataFrame = {
    val toks = TextOps.tokens(col(textCol))
    val base = docs.select(col(idCol), toks.as("toks"))
      .select(col(idCol),
        size(col("toks")).cast("long").as("n_tokens"),
        aggregate(col("toks"), lit(0L), (acc, t) => acc + length(t)).as("char_sum"),
        size(filter(col("toks"), t => t.rlike("[A-Za-z]"))).cast("long").as("n_alpha"))
      .select(col(idCol), col("n_tokens"),
        try_divide(col("char_sum").cast("double"), col("n_tokens")).as("mean_word_len"),
        try_divide(col("n_alpha").cast("double"), col("n_tokens")).as("frac_alpha_words"))
    val gramStats = TextOps.shingles(docs, idCol, textCol, n)
      .groupBy(col(idCol), col("shingle")).agg(count(lit(1)).as("c"))
      .groupBy(col(idCol)).agg(
        sum("c").as("total_ngrams"),
        count(lit(1)).as("distinct_ngrams"),
        max("c").as("top_ngram_count"))
    base.join(gramStats, Seq(idCol), "left")
      .withColumn("total_ngrams", coalesce(col("total_ngrams"), lit(0L)))
      .withColumn("distinct_ngrams", coalesce(col("distinct_ngrams"), lit(0L)))
      .withColumn("top_ngram_count", coalesce(col("top_ngram_count"), lit(0L)))
      .withColumn("frac_dup_ngrams", coalesce(
        lit(1.0) - try_divide(col("distinct_ngrams").cast("double"), col("total_ngrams")),
        lit(0.0)))
      .withColumn("top_ngram_frac", coalesce(
        try_divide(col("top_ngram_count").cast("double"), col("total_ngrams")),
        lit(0.0)))
      .withColumn("gopher_pass",
        col("n_tokens") >= minTokens && col("n_tokens") <= maxTokens &&
          col("mean_word_len") >= minWordLen && col("mean_word_len") <= maxWordLen &&
          col("frac_alpha_words") >= minAlphaFrac &&
          col("frac_dup_ngrams") <= maxDupFrac)
  }

  /** Benchmark-contamination check: for each corpus document, the number
    * and fraction of its DISTINCT token `n`-grams that also occur anywhere
    * in `benchmark` (the classic eval-leakage test, run at ingestion time).
    *
    * Returns one row per corpus document: (id, total_ngrams,
    * contaminated_ngrams, contamination_frac); documents shorter than `n`
    * tokens report (0, 0, 0.0).
    *
    * Shape: the corpus side is reduced to distinct (doc, gram-hash) rows —
    * one shuffle — and probed against the benchmark's distinct gram-hash
    * set with a BROADCAST left-semi join (`broadcastBench = true`, the
    * default: benchmarks are ~10^6 grams vs a 10^12-gram corpus, so the
    * corpus never reshuffles on gram). Set `broadcastBench = false` to fall
    * back to a shuffled semi-join when the "benchmark" is itself huge.
    */
  def ngramContamination(corpus: DataFrame, benchmark: DataFrame,
                         idCol: String, textCol: String, n: Int = 5,
                         broadcastBench: Boolean = true): DataFrame = {
    val cg = TextOps.shingles(corpus, idCol, textCol, n)
      .select(col(idCol), TextOps.portableHash64(col("shingle")).as("h"))
      .distinct()
    val bg0 = TextOps.shingles(benchmark, idCol, textCol, n)
      .select(TextOps.portableHash64(col("shingle")).as("h")).distinct()
    val bg = if (broadcastBench) broadcast(bg0) else bg0
    val tot = cg.groupBy(col(idCol)).agg(count(lit(1)).as("total_ngrams"))
    val cont = cg.join(bg, Seq("h"), "left_semi")
      .groupBy(col(idCol)).agg(count(lit(1)).as("contaminated_ngrams"))
    corpus.select(col(idCol))
      .join(tot, Seq(idCol), "left")
      .join(cont, Seq(idCol), "left")
      .withColumn("total_ngrams", coalesce(col("total_ngrams"), lit(0L)))
      .withColumn("contaminated_ngrams", coalesce(col("contaminated_ngrams"), lit(0L)))
      .withColumn("contamination_frac", coalesce(
        try_divide(col("contaminated_ngrams").cast("double"), col("total_ngrams")),
        lit(0.0)))
  }

  /** Bloom-filter variant of [[ngramContamination]] — the 100-TB probe
    * shape: the benchmark gram set compresses to a FIXED-SIZE bitset that
    * rides the plan as a literal, so the corpus side is probed MAP-ONLY —
    * no join, no corpus shuffle at all until the per-doc count. The price
    * is a documented false-positive rate (flags are a superset of the
    * exact answer; FPR ~ (1 - e^(-k*g/m))^k for g benchmark grams, m bits,
    * k probes — ~0.1% at the defaults for 10^5 grams), acceptable for the
    * flag-then-audit ingestion gate where the exact semi-join re-checks
    * only the flagged residue.
    *
    * Construction is distributed end-to-end: gram positions aggregate into
    * 64-bit words with `bit_or` (one small shuffle on the m/64-row word
    * space) and only the finished words are fetched — O(m/64) driver rows,
    * INDEPENDENT of benchmark size. Probe positions use the same portable
    * md5-derived hash family as the rest of the engine, so the bitset
    * semantics ("all k positions set") replay exactly in the DuckDB twin
    * as a position-subset test — the approximation itself is
    * deterministic and oracle-checkable.
    */
  def bloomContamination(corpus: DataFrame, benchmark: DataFrame,
                         idCol: String, textCol: String, n: Int = 5,
                         bits: Int = 1 << 20, hashes: Int = 3): DataFrame = {
    require(bits > 0 && bits % 64 == 0, "bits must be a positive multiple of 64")
    require(hashes >= 1, "hashes must be >= 1")
    val m = bits.toLong
    def pos(j: Int): Column =
      pmod(TextOps.portableHash64(concat(col("shingle"), lit(s"#$j"))), lit(m))

    // distributed bitset build: positions -> (word, bit_or of set bits)
    val words = TextOps.shingles(benchmark, idCol, textCol, n)
      .select(explode(array((0 until hashes).map(pos): _*)).as("p"))
      .select((col("p") / 64).cast("int").as("w"),
        call_function("shiftleft", lit(1L),
          pmod(col("p"), lit(64L)).cast("int")).as("b"))
      .groupBy("w").agg(bit_or(col("b")).as("bs"))
      .collect() // O(bits/64) rows regardless of benchmark size
    val bitset = new Array[Long](bits / 64)
    words.foreach(r => bitset(r.getInt(0)) = r.getLong(1))
    val bl = typedlit(bitset.toSeq)

    // map-only probe: a gram is flagged iff ALL k probe bits are set
    val flagged = (0 until hashes).map { j =>
      val p = pos(j)
      (element_at(bl, (p / 64).cast("int") + 1)
        .bitwiseAND(call_function("shiftleft", lit(1L),
          pmod(p, lit(64L)).cast("int"))) =!= 0L)
    }.reduce(_ && _)
    val cg = TextOps.shingles(corpus, idCol, textCol, n)
      .select(col(idCol), col("shingle")).distinct()
      .withColumn("__f", flagged)
    val agg = cg.groupBy(col(idCol)).agg(
      count(lit(1)).as("total_ngrams"),
      count(when(col("__f"), 1)).as("flagged_ngrams"))
    corpus.select(col(idCol))
      .join(agg, Seq(idCol), "left")
      .withColumn("total_ngrams", coalesce(col("total_ngrams"), lit(0L)))
      .withColumn("flagged_ngrams", coalesce(col("flagged_ngrams"), lit(0L)))
      .withColumn("flagged_frac", coalesce(
        try_divide(col("flagged_ngrams").cast("double"), col("total_ngrams")),
        lit(0.0)))
  }

  /** Per-group distribution profile: quantiles of `valCol` for every
    * `byCol` group, long format (group, prob, value) — the corpus-health
    * dashboard shape (length/quality-score percentiles per language or
    * source).
    *
    * `exact = false` (the default) uses `percentile_approx` — a bounded
    * sketch per group, the only shape that survives a 100-TB corpus where
    * one group can hold billions of distinct values. `exact = true` is the
    * sort-based exact percentile (per-group memory grows with distinct
    * values) — oracle and test scale only; both ends of the trade are the
    * same one-shuffle groupBy.
    */
  def groupQuantiles(df: DataFrame, valCol: String, byCol: String,
                     probs: Seq[Double], exact: Boolean = false,
                     accuracy: Int = 10000): DataFrame = {
    require(probs.nonEmpty && probs.forall(p => p >= 0.0 && p <= 1.0),
      "probs must be in [0, 1]")
    val ps = typedlit(probs)
    val agg = if (exact) percentile(col(valCol), ps)
              else percentile_approx(col(valCol), ps, lit(accuracy))
    df.groupBy(col(byCol)).agg(agg.as("__qs"))
      .select(col(byCol), posexplode(col("__qs")).as(Seq("__pos", "value")))
      .select(col(byCol),
        element_at(ps, col("__pos") + 1).as("prob"),
        col("value").cast("double").as("value"))
  }

  /** Per-group winsorization (outlier clipping): clip `valCol` to the
    * [`lo`, `hi`] quantiles of its own `byCol` group — the standard tail
    * trim before length/score features feed a model. Appends `clipped`
    * (the clipped value) and `was_clipped`. Quantiles come from
    * [[groupQuantiles]] (same exact/sketch trade: `exact = true` for the
    * oracle path, the percentile_approx sketch at corpus scale), pivoted
    * to one (lo, hi) row per group and joined back BROADCAST — groups are
    * few by construction, so the data side never reshuffles.
    *
    * NULL semantics (ADVICE r3): every input row survives (LEFT join
    * against the quantile table), and a row with a NULL value, a NULL
    * group, or a group with no computable quantiles gets `clipped` /
    * `was_clipped` = NULL — never a fabricated clip to the group's lo bound
    * (Spark's least/greatest skip NULLs, which silently produced exactly
    * that before).
    */
  def winsorize(df: DataFrame, valCol: String, byCol: String,
                lo: Double, hi: Double, exact: Boolean = false): DataFrame = {
    require(lo >= 0.0 && hi <= 1.0 && lo <= hi, "need 0 <= lo <= hi <= 1")
    val q = groupQuantiles(df, valCol, byCol, Seq(lo, hi), exact)
      .groupBy(byCol)
      .agg(min(when(col("prob") === lo, col("value"))).as("__lo"),
        min(when(col("prob") === hi, col("value"))).as("__hi"))
    val undefined = col(valCol).isNull || col("__lo").isNull || col("__hi").isNull
    df.join(broadcast(q), Seq(byCol), "left")
      .withColumn("clipped",
        when(undefined, lit(null).cast("double"))
          .otherwise(least(greatest(col(valCol).cast("double"), col("__lo")), col("__hi"))))
      .withColumn("was_clipped",
        when(undefined, lit(null).cast("boolean"))
          .otherwise(col("clipped") =!= col(valCol).cast("double")))
      .drop("__lo", "__hi")
  }

  /** Concat-and-chunk sequence packing (the GPT-style pretraining layout):
    * documents are concatenated in `orderCol` order (ties broken by
    * `idCol`) within each `strataCol` group and the resulting token stream
    * is cut into fixed `windowTokens` chunks. Returns the input plus
    * per-document placement: `start_token`/`end_token` (exclusive) offsets
    * into the stream, `first_chunk`/`last_chunk` indices, and
    * `spans_boundary` (the document crosses a chunk cut — the rows a
    * masking-aware loader treats specially). Zero-token documents place at
    * their offset with `last_chunk = first_chunk`.
    *
    * Shape: one running-sum window per stratum — parallel across strata,
    * sequential within one. Fine when strata are many (sources, shards);
    * for ONE giant stream use [[packChunksGlobal]], which replaces the
    * single-partition window with a range-partitioned two-pass prefix sum.
    */
  def packChunks(docs: DataFrame, idCol: String, tokensCol: String,
                 orderCol: String, windowTokens: Long,
                 strataCol: String): DataFrame = {
    require(windowTokens > 0, "windowTokens must be positive")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(strataCol)).orderBy(col(orderCol), col(idCol))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    // `div` = integral division: token offsets at corpus scale exceed the
    // exact-double range, so floor(x / w) would misplace chunks
    docs.withColumn("end_token", sum(col(tokensCol).cast("long")).over(w))
      .withColumn("start_token", col("end_token") - col(tokensCol))
      .withColumn("first_chunk", expr(s"start_token div ${windowTokens}L"))
      .withColumn("last_chunk",
        when(col(tokensCol) > 0, expr(s"(end_token - 1L) div ${windowTokens}L"))
          .otherwise(col("first_chunk")))
      .withColumn("spans_boundary", col("last_chunk") > col("first_chunk"))
  }

  private[ops] case class PackOffset(id: Long, ord: Long, toks: Long, start_token: Long)

  /** Global-stream variant of [[packChunks]]: ONE concatenation order over
    * the whole corpus, no single-partition window. The classic distributed
    * prefix sum:
    *
    *   1. range-repartition by (order, id) and sort within partitions —
    *      the only full-data shuffle;
    *   2. per-partition token totals, map-side combined to ONE ROW PER
    *      PARTITION, prefix-summed on the driver (O(partitions) rows —
    *      bounded and tiny, like the matcher's template bindings);
    *   3. a map-only pass adds each partition's base offset to its local
    *      running sum (`mapPartitions` — the sanctioned per-partition
    *      imperative case: an iterator-order-dependent accumulator).
    *
    * The projected (id, ord, toks) table is pinned ([[graft.Pin]]) because
    * step 2 is a separate ACTION from the result scan; the pin keeps its
    * partitioning, which the offsets are keyed on. `idCol`/`orderCol`/
    * `tokensCol` must be numeric (cast to long).
    */
  def packChunksGlobal(docs: DataFrame, idCol: String, tokensCol: String,
                       orderCol: String, windowTokens: Long,
                       numPartitions: Int = 32): DataFrame = {
    require(windowTokens > 0, "windowTokens must be positive")
    require(numPartitions > 0, "numPartitions must be positive")
    val spark = docs.sparkSession
    import spark.implicits._
    val d = graft.Pin.pin(docs.select(col(idCol).cast("long").as("id"),
        col(orderCol).cast("long").as("ord"),
        col(tokensCol).cast("long").as("toks"))
      .repartitionByRange(numPartitions, col("ord"), col("id"))
      .sortWithinPartitions("ord", "id"), budget = None)._1
    val totals = d.groupBy(org.apache.spark.sql.functions.spark_partition_id().as("pid"))
      .agg(sum("toks").as("t"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val offsets = (0 until numPartitions)
      .scanLeft(0L)((acc, pid) => acc + totals.getOrElse(pid, 0L)).toArray
    val bcOff = spark.sparkContext.broadcast(offsets)
    val placed = d.as[(Long, Long, Long)].mapPartitions { it =>
      val pid = org.apache.spark.TaskContext.getPartitionId()
      var acc = bcOff.value(pid)
      it.map { case (id, ord, toks) =>
        val start = acc; acc += toks
        PackOffset(id, ord, toks, start)
      }
    }.toDF()
    placed
      .withColumn("end_token", col("start_token") + col("toks"))
      .withColumn("first_chunk", expr(s"start_token div ${windowTokens}L"))
      .withColumn("last_chunk",
        when(col("toks") > 0, expr(s"(end_token - 1L) div ${windowTokens}L"))
          .otherwise(col("first_chunk")))
      .withColumn("spans_boundary", col("last_chunk") > col("first_chunk"))
      .select(col("id"), col("ord"), col("toks"), col("start_token"),
        col("end_token"), col("first_chunk"), col("last_chunk"), col("spans_boundary"))
  }

  /** The samplers' md5 draw in [0, 10^6): portableHash31(salt:stratum:id) mod 10^6. */
  private def draw(salt: String, strataCol: String, idCol: String): Column =
    TextOps.portableHash31(
      concat(lit(salt), lit(":"), col(strataCol), lit(":"), col(idCol).cast("string"))) % 1000000L

  /** Deterministic per-stratum sampling (domain mixing): keep a row iff
    * portableHash31(salt:stratum:id) mod 10^6 < rate(stratum) * 10^6, with
    * `rates` overriding `defaultRate` per stratum value. Map-only — the
    * draw is a pure column expression, so the sample is reproducible
    * across runs, engines (the DuckDB twin replays the md5 draw), and
    * cluster sizes, and composable (raising a rate strictly grows the
    * kept set — nested samples, same property the edge-sample sweep uses).
    */
  def stratifiedSample(docs: DataFrame, idCol: String, strataCol: String,
                       rates: Map[String, Double], defaultRate: Double,
                       salt: String = "strat"): DataFrame = {
    require(defaultRate >= 0.0 && defaultRate <= 1.0, "defaultRate in [0,1]")
    require(rates.values.forall(r => r >= 0.0 && r <= 1.0), "rates in [0,1]")
    // try_element_at: ANSI-mode element_at THROWS on a missing map key
    val rate: Column =
      if (rates.isEmpty) lit(defaultRate)
      else coalesce(try_element_at(typedlit(rates), col(strataCol)), lit(defaultRate))
    docs.where(draw(salt, strataCol, idCol) < (rate * 1000000L).cast("long"))
  }

  /** Deterministic weighted sampling WITHOUT replacement (the
    * Efraimidis–Spirakis exponential race): each row draws
    * u in (0, 1) from the md5 hash and competes with key ln(u) / w —
    * the top-k keys per stratum are a bona-fide weight-proportional
    * sample (P(i in sample) increases with w_i), reproducible across
    * runs, engines, and cluster sizes. Requires strictly positive
    * weights. Appends `samp_key`.
    *
    * Top-k per stratum is [[Skew.saltedTopK]] over `saltBuckets` id-hash
    * buckets, so a hot stratum never funnels all its rows through one
    * window task.
    */
  def weightedSample(docs: DataFrame, idCol: String, strataCol: String,
                     weightCol: String, k: Int, saltBuckets: Int = 64,
                     salt: String = "wsamp"): DataFrame = {
    require(k > 0 && saltBuckets > 0, "k and saltBuckets must be positive")
    val u = (draw(salt, strataCol, idCol) + lit(0.5)) / 1000000.0
    val keyed = docs
      .where(col(weightCol) > 0)
      .withColumn("samp_key", org.apache.spark.sql.functions.log(u) / col(weightCol))
    val bucket = pmod(TextOps.portableHash31(col(idCol).cast("string")), lit(saltBuckets))
    Skew.saltedTopK(keyed, Seq(col(strataCol)), bucket,
        Seq(col("samp_key").desc, col(idCol).asc), k)
      .drop("__rank")
  }

  /** Temperature-scaled source mixing (the multilingual/source-balancing
    * sampler): stratum s with n_s rows gets share q_s = n_s^alpha / Σ n^alpha
    * of `targetCount`, i.e. per-row keep rate r_s = min(1, targetCount *
    * q_s / n_s). alpha < 1 flattens the mix — small sources are upsampled
    * relative to their natural share, the standard temperature trick.
    * Appends `keep_rate` to the kept rows.
    *
    * Fully in-plan: counts are one aggregation, the normalizer rides as a
    * broadcast 1-row agg, the per-stratum rate table (|strata| rows) is
    * broadcast back onto the corpus, and the draw is the same deterministic
    * md5 draw as [[stratifiedSample]] — no driver-side collect, engine- and
    * cluster-size-portable, monotone in targetCount. alpha = 0.5 keeps the
    * rate arithmetic on IEEE-exact sqrt, which the DuckDB oracle twin
    * replays to the same floored 10^6-scale threshold.
    */
  def temperatureSample(docs: DataFrame, idCol: String, strataCol: String,
                        alpha: Double, targetCount: Long,
                        salt: String = "temp"): DataFrame = {
    require(alpha > 0.0 && alpha <= 1.0, "alpha in (0, 1]")
    require(targetCount >= 0L, "targetCount must be >= 0")
    val counts = docs.groupBy(strataCol).agg(count(lit(1)).cast("double").as("n_s"))
    // alpha = 0.5 goes through sqrt, which IEEE 754 requires to be exactly
    // rounded (pow(x, 0.5) is not) — that makes the rate arithmetic
    // bit-identical to the oracle engine's sqrt
    def weight(c: Column): Column =
      if (alpha == 0.5) sqrt(c) else pow(c, lit(alpha))
    val z = counts.agg(sum(weight(col("n_s"))).as("z"))
    val rates = counts.crossJoin(broadcast(z))
      .select(col(strataCol),
        least(lit(1.0),
          lit(targetCount.toDouble) * weight(col("n_s")) / col("z") / col("n_s"))
          .as("keep_rate"))
    docs.join(broadcast(rates), strataCol)
      .where(draw(salt, strataCol, idCol) < floor(col("keep_rate") * 1000000L).cast("long"))
  }

  /** CCNet/Dolma-style PARAGRAPH-level dedup: across the whole corpus,
    * each distinct non-empty paragraph is kept only at its FIRST occurrence
    * (global order = (doc id, position)); later occurrences are dropped
    * from their documents. Differs from [[removeBoilerplate]] (which drops
    * every copy of high-document-frequency lines) and from document-level
    * dedup (which keeps/drops whole docs): here the unit is the paragraph
    * and exactly one copy survives. Empty paragraphs are structural and
    * always kept.
    *
    * Scale shape: paragraphs shuffle once on their 64-bit content hash for
    * the first-occurrence argmin (map-side partial min), once more for the
    * keeper equi-join (NOT broadcast — the keeper table is the distinct
    * paragraph set, corpus-sized), then one groupBy(doc) rebuild. No
    * windows over the corpus, no driver-side state; volume is linear in
    * total paragraphs.
    *
    * Returns (idCol, n_paras_kept, n_paras_removed, text_clean).
    */
  def paragraphDedup(docs: DataFrame, idCol: String, textCol: String,
                     lineSep: String = "\n",
                     joinSep: String = "\n"): DataFrame = {
    val paras = docs.select(col(idCol).as("__id"),
      posexplode(split(col(textCol), lineSep)).as(Seq("pos", "para")))
    val nonEmpty = paras.where(length(trim(col("para"))) > 0)
      .withColumn("h", TextOps.portableHash64(col("para")))
    val keepers = nonEmpty.groupBy("h")
      .agg(min(struct(col("__id"), col("pos"))).as("k"))
      .select(col("h"), col("k.__id").as("__kid"), col("k.pos").as("__kpos"))
    val tagged = nonEmpty.join(keepers, "h")
      .select(col("__id"), col("pos"), col("para"),
        (col("__id") === col("__kid") && col("pos") === col("__kpos")).as("__kept"))
      .unionByName(paras.where(length(trim(col("para"))) === 0)
        .select(col("__id"), col("pos"), col("para"), lit(true).as("__kept")))
    tagged.groupBy(col("__id").as(idCol)).agg(
      sum(when(col("__kept"), 1L).otherwise(0L)).as("n_paras_kept"),
      sum(when(col("__kept"), 0L).otherwise(1L)).as("n_paras_removed"),
      array_join(
        transform(
          array_sort(collect_list(
            when(col("__kept"), struct(col("pos"), col("para"))))),
          x => x.getField("para")),
        joinSep).as("text_clean"))
  }

  /** C4/RefinedWeb-style boilerplate line removal: a line that occurs in at
    * least `minDocs` distinct documents (nav bars, cookie banners,
    * subscribe/footer text) is dropped from EVERY document; survivors are
    * reassembled in original line order. Returns one row per input document:
    * (idCol, n_lines_kept, n_lines_removed, text_clean).
    *
    * Scale shape: the document-frequency aggregation shuffles 8-byte line
    * hashes (never line text), with map-side partial aggregation; the
    * boilerplate set — high-DF lines, small by definition — joins back as a
    * BROADCAST flag, so classification is map-side; the reassembly groupBy
    * is keyed on the document id (bounded lines per doc, no hot keys).
    * Hash collision class: portable 60-bit line digest, same acceptance as
    * the md5-keyed dedup family.
    *
    * `lineSep` is a regex (Spark split semantics); reassembly joins with
    * `joinSep`.
    */
  def removeBoilerplate(docs: DataFrame, idCol: String, textCol: String,
                        minDocs: Long, lineSep: String = "\n",
                        joinSep: String = "\n"): DataFrame = {
    require(minDocs >= 2, "minDocs must be >= 2")
    val lines = docs.select(col(idCol),
        posexplode(split(col(textCol), lineSep)).as(Seq("pos", "line")))
      .withColumn("h", TextOps.portableHash64(col("line")))
    val boiler = lines.groupBy("h")
      .agg(count_distinct(col(idCol)).as("df"))
      .where(col("df") >= minDocs)
      .select(col("h"), lit(true).as("__boiler"))
    lines.join(broadcast(boiler), Seq("h"), "left")
      .groupBy(idCol).agg(
        sum(when(col("__boiler"), 0L).otherwise(1L)).as("n_lines_kept"),
        sum(when(col("__boiler"), 1L).otherwise(0L)).as("n_lines_removed"),
        array_join(
          transform(
            array_sort(collect_list(
              when(col("__boiler").isNull, struct(col("pos"), col("line"))))),
            x => x.getField("line")),
          joinSep).as("text_clean"))
  }
}
