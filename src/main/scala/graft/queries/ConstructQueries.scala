package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.algo.LabelPropagation
import graft.canon.Canonicalizer
import graft.extract.{Coref, Extractor, Gazetteer, TextNorm}
import graft.graph.{Fusion, LinkPredict}
import graft.ops.{BpeTrain, Dsir, SimJoin, TextOps}
import QueryUtil._

/** Round-4 KG-construction additions: coreference, link prediction, triple
  * fusion, schema induction, DSIR importance resampling. Each query has an
  * exact DuckDB twin over the same parquet tables (transcript text is
  * synthesized from orders by SQL-expressible transforms, like
  * [[ExtractQueries]]).
  */
object ConstructQueries {

  private val pAliases: IndexedSeq[String] = Gazetteer.people.flatMap(_.aliases)

  /** Person alias (normalized) -> id VALUES CTE for the coref oracle. */
  private val pmapCte: String =
    (for { e <- Gazetteer.people; a <- e.aliases }
      yield s"('${TextNorm.normalize(a)}', '${e.id}')").distinct
      .mkString("pmap(alias, entity) AS (VALUES ", ", ", ")")

  private val palCte: String =
    pAliases.zipWithIndex.map { case (a, i) => s"($i, '$a')" }
      .mkString("pal(i, alias) AS (VALUES ", ", ", ")")

  /** The sparser 20011-vertex graph used by link prediction (the shared
    * 4096-vertex graph is near-complete at sf0.1, which makes neighborhood
    * overlap degenerate — every pair shares everything).
    */
  private def sparseEdges(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/lineitem.parquet").select(
      concat(lit("v"), (col("l_orderkey") % 20011).cast("string")).as("src"),
      concat(lit("v"), ((col("l_partkey") * 31 + 7) % 20011).cast("string")).as("dst"),
      concat(lit("p"), (col("l_suppkey") % 7).cast("string")).as("label"))

  private val sparseEdgesCte: String =
    """WITH edges AS (
      |  SELECT 'v' || (l_orderkey % 20011) AS src,
      |         'v' || ((l_partkey * 31 + 7) % 20011) AS dst,
      |         'p' || (l_suppkey % 7) AS label
      |  FROM lineitem
      |)""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    "kg_coref" -> ((s, dir) => {
      // transcripts from orders: conversations of ~(rows/257) turns; turn
      // templates cycle mention -> pronoun -> neither within a conversation
      val turns = s.read.parquet(s"$dir/orders.parquet").select(
        (col("o_orderkey") % 257).as("conv"), col("o_orderkey").as("k"),
        when(col("o_orderkey") % 3 === 0,
          concat(lit("Tell me about "),
            get(typedlit(pAliases), ((col("o_orderkey") * 7 + 1) % pAliases.size).cast("int")),
            lit(".")))
          .when(col("o_orderkey") % 3 === 1, lit("And what did they build next?"))
          .otherwise(lit("Thanks, noted.")).as("text"))
        .withColumn("turn_idx",
          row_number().over(Window.partitionBy("conv").orderBy("k")))
      Coref.resolve(turns, "conv", "turn_idx", "text")
        .where(col("is_pronoun"))
        .groupBy(coalesce(col("antecedent"), lit("(unresolved)")).as("antecedent"))
        .agg(count(lit(1)).as("n_pronouns"))
        .orderBy("antecedent")
    }),

    "kg_link_pred" -> ((s, dir) => {
      val sc = LinkPredict.scores(sparseEdges(s, dir), maxHubDeg = 64)
      roundDoubles(sc
        .orderBy(desc("common_neighbors"), col("a"), col("b")).limit(30)
        .select(col("a"), col("b"), col("common_neighbors"),
          col("adamic_adar"), col("jaccard")))
    }),

    "kg_triple_fusion" -> ((s, dir) => {
      val t = s.read.parquet(s"$dir/lineitem.parquet").select(
        concat(lit("v"), (col("l_orderkey") % 4096).cast("string")).as("src"),
        concat(lit("v"), (col("l_partkey") % 4096).cast("string")).as("dst"),
        concat(lit("p"), (col("l_suppkey") % 7).cast("string")).as("label"),
        concat(lit("s"), (col("l_linenumber") % 5).cast("string")).as("source"),
        (lit(0.3) + (col("l_linenumber") % 5).cast("double") * 0.05).as("w"))
      val fused = Fusion.tripleFusion(t, "source", "w")
      roundDoubles(fused.groupBy("n_sources").agg(
          count(lit(1)).as("n_triples"),
          sum("n_assertions").as("n_assertions"),
          sum(round(col("confidence") * 1e6).cast("long")).as("conf_sum_micros"),
          min(round(col("confidence"), 6)).as("min_conf"),
          max(round(col("confidence"), 6)).as("max_conf"))
        .orderBy("n_sources"))
    }),

    "kg_schema_stats" -> ((s, dir) => {
      val cls = (v: org.apache.spark.sql.Column) =>
        concat(lit("c"), pmod(substring(v, 2, 10).cast("long"), lit(8L)).cast("string"))
      Fusion.schemaStats(liEdges(s, dir), cls)
        .orderBy(desc("n_assertions"), col("src_class"), col("label"), col("dst_class"))
        .limit(40)
    }),

    "doc_dsir" -> ((s, dir) => {
      val d = s.read.parquet(s"$dir/documents.parquet")
      val w = Dsir.importanceWeights(d, "doc_id", "text",
        col("lang") === "en", buckets = 64)
      roundDoubles(w.select(col("doc_id"), col("n_tokens"), col("weight"))
        .orderBy(desc("weight"), col("doc_id")).limit(20))
    }),

    "doc_boilerplate" -> ((s, dir) => {
      // multi-line corpus: 6-token body lines framed by a shared header and
      // footer (every doc), so the DF >= 40 guard provably binds on both
      val d = s.read.parquet(s"$dir/documents.parquet")
      val toks = split(col("text"), " +")
      val nl = floor((size(toks) + lit(5)) / lit(6.0)).cast("int")
      val body = array_join(
        transform(sequence(lit(0), nl - 1),
          i => array_join(slice(toks, i * 6 + 1, lit(6)), " ")), "\n")
      val d2 = d.withColumn("text2",
        concat(lit("subscribe to our newsletter\n"), body,
          lit("\nall rights reserved")))
      val rb = graft.ops.Curation.removeBoilerplate(d2, "doc_id", "text2",
        minDocs = 40L)
      rb.agg(
        count(lit(1)).as("n_docs"),
        sum("n_lines_kept").as("lines_kept"),
        sum("n_lines_removed").as("lines_removed"),
        sum(length(col("text_clean"))).as("clean_chars"),
        sum(pmod(graft.ops.TextOps.portableHash64(col("text_clean")),
          lit(1000003L))).as("clean_checksum"))
    }),

    "doc_paragraph_dedup" -> ((s, dir) => {
      // CCNet/Dolma-style paragraph dedup: impose deterministic paragraph
      // structure (8-token sentences, one per line) on the single-line
      // corpus, then keep only the corpus-wide FIRST occurrence of each
      // paragraph — per-doc counts + a reconstruction checksum pin the
      // rebuilt text without shipping it
      val d = s.read.parquet(s"$dir/documents.parquet")
      val toks = split(col("text"), " +")
      val np = floor((size(toks) + lit(7)) / lit(8.0)).cast("int")
      val body = array_join(
        transform(sequence(lit(0), np - 1),
          i => array_join(slice(toks, i * 8 + 1, lit(8)), " ")), "\n")
      val pd = graft.ops.Curation.paragraphDedup(
        d.select(col("doc_id"), body.as("text2")), "doc_id", "text2")
      pd.select(col("doc_id"), col("n_paras_kept"), col("n_paras_removed"),
        pmod(graft.ops.TextOps.portableHash64(col("text_clean")),
          lit(1000003L)).as("clean_checksum"))
    }),

    "kg_snapshot_diff" -> ((s, dir) => {
      // not pinned (see graft.Pin): churn and degree delta read it inside
      // one action
      val li = s.read.parquet(s"$dir/lineitem.parquet").select(
        concat(lit("v"), (col("l_orderkey") % 4096).cast("string")).as("src"),
        concat(lit("v"), (col("l_partkey") % 4096).cast("string")).as("dst"),
        concat(lit("p"), (col("l_suppkey") % 7).cast("string")).as("label"),
        col("l_linenumber").as("ln"))
      val before = li.where(col("ln") <= 4).drop("ln")
      val after = li.where(col("ln") >= 2).drop("ln")
      val dd = Fusion.degreeDelta(before, after).agg(
        sum(when(col("deg_before") === 0, 1L).otherwise(0L)).as("n_vertices_gained"),
        sum(when(col("deg_after") === 0, 1L).otherwise(0L)).as("n_vertices_lost"),
        max("delta").as("max_delta"),
        sum(abs(col("delta"))).as("sum_abs_delta"))
      Fusion.edgeChurn(before, after).crossJoin(dd)
    }),

    "doc_ccnet_buckets" -> ((s, dir) => {
      // CCNet-style head/middle/tail perplexity partition per language;
      // per-doc mean logprob rounded to 6dp BEFORE ranking so the ntile
      // boundary can never flip on a sub-1e-6 engine difference
      val d = s.read.parquet(s"$dir/documents.parquet")
      val scored = graft.ops.TextOps.unigramLogProb(d, "doc_id", "text")
        .withColumn("lp", round(col("mean_logprob"), 6))
      val wl = scored.join(d.select(col("doc_id").as("id"), col("lang")), "id")
      val nt = wl.withColumn("b", ntile(3).over(
        Window.partitionBy("lang").orderBy(col("lp").desc, col("id"))))
      roundDoubles(nt
        .withColumn("bucket",
          when(col("b") === 1, "head").when(col("b") === 2, "middle")
            .otherwise("tail"))
        .groupBy("lang", "bucket").agg(
          count(lit(1)).as("n_docs"),
          sum("n_tokens").as("total_tokens"),
          min("lp").as("min_logprob"),
          max("lp").as("max_logprob"))
        .orderBy("lang", "bucket"))
    }),

    "kg_canon_incremental" -> ((s, dir) => {
      // stable-id incremental canonicalization: surfaces = distinct
      // 4-token document prefixes, deterministically split into a prior
      // build (2/3, exact-norm clusters) and a new batch (1/3). The op
      // resolves the new batch against the prior WITHOUT renaming any
      // prior assignment; the oracle replays the whole chain — norm stars,
      // minhash bands, Jaccard verify, anchor replacement, recursive-CTE
      // CC, and the min-anchor bridge rule. 4 tokens + minJ 0.6 keep the
      // similarity graph non-degenerate on the small-vocabulary fixtures
      // (3 tokens at 0.5 transitively merges ~all of sf0.1 into one
      // mega-component — a fixture artifact, not an op property).
      val d = s.read.parquet(s"$dir/documents.parquet")
      val surf = d.select(
        array_join(slice(split(col("text"), " "), 1, 4), " ").as("surface"))
        .distinct()
      val m = pmod(TextOps.portableHash64(col("surface")), lit(3L))
      val prior = surf.where(m < 2)
        .withColumn("norm", Extractor.normalizeCol(col("surface")))
        .withColumn("canonical",
          min("surface").over(Window.partitionBy("norm")))
        .select("surface", "canonical")
      val assign = Canonicalizer.incrementalCanonicalize(
        prior, surf.where(m === 2), minJ = 0.6)
      val anchors = prior.select(col("canonical").as("__a")).distinct()
      val agg = assign
        .join(anchors, assign("canonical") === anchors("__a"), "left_outer")
        .agg(
          count(lit(1)).as("n_new"),
          count(col("__a")).as("n_merged_into_prior"),
          count_distinct(when(col("__a").isNull, col("canonical")))
            .as("n_fresh_clusters"),
          sum(pmod(TextOps.portableHash64(
            concat(col("surface"), lit("|"), col("canonical"))),
            lit(1000003L))).as("assign_checksum"))
      prior.agg(count(lit(1)).as("n_prior")).crossJoin(agg)
    }),

    "doc_bpe_merges" -> ((s, dir) => {
      // tokenizer training: first 3 BPE merge rules learned over the
      // corpus word-frequency vocabulary; the oracle unrolls the same 3
      // rounds (pair scoring, lex tie-break, greedy odd-in-run merges)
      val d = s.read.parquet(s"$dir/documents.parquet")
      BpeTrain.learnMerges(d, "text", rounds = 3)
        .select(col("round"), col("left"), col("right"),
          col("score").cast("long").as("score"), col("merged"))
        .orderBy("round")
    }),

    "doc_fuzzy_join" -> ((s, dir) => {
      // exact edit-distance self-join (PassJoin pigeonhole) over the
      // normalized 3-token document prefixes; the oracle is the TRUE
      // brute-force levenshtein cross-filter, so parity here proves the
      // candidate generation is complete, not just self-consistent
      val d = s.read.parquet(s"$dir/documents.parquet")
      val surf = d.select(Extractor.normalizeCol(
          array_join(slice(split(col("text"), " "), 1, 3), " ")).as("str"))
        .distinct()
        .withColumn("id", col("str"))
      SimJoin.editDistancePairs(surf, "id", "str", maxDist = 2)
        .select(col("a"), col("b"), col("dist"))
        .orderBy("a", "b")
    }),

    "doc_sorted_neighborhood" -> ((s, dir) => {
      // sorted-neighborhood blocking over the normalized 3-token prefixes
      // (key == id: surfaces are distinct), window 4, then a levenshtein
      // verification tally — the blocking-recall companion to
      // doc_fuzzy_join's exact PassJoin
      val d = s.read.parquet(s"$dir/documents.parquet")
      val surf = d.select(Extractor.normalizeCol(
          array_join(slice(split(col("text"), " "), 1, 3), " ")).as("id"))
        .distinct()
        .withColumn("key", col("id"))
      val pairs = SimJoin.sortedNeighborhoodPairs(surf, "id", "key", window = 4)
      pairs.agg(
        count(lit(1)).as("n_pairs"),
        count(when(levenshtein(col("a"), col("b")) <= 2, 1)).as("n_ed2"),
        sum(pmod(TextOps.portableHash64(concat(col("a"), lit("|"), col("b"))),
          lit(1000003L))).as("pair_checksum"))
    }),

    "doc_label_prop" -> ((s, dir) => {
      // weak supervision: trusted language tags on every 10th doc
      // propagate 3 seeded-LPA rounds through the rare-shingle
      // co-occurrence graph (3-shingles with global df == 2 link exactly
      // one doc pair each — bounded by construction)
      val d = s.read.parquet(s"$dir/documents.parquet")
      val ts = split(col("text"), " ")
      // native codegen shingle texts (graft.functions.TokenShingles) —
      // identical strings to the composed transform/array_join form
      val shArr = org.apache.spark.sql.graft.Bridge.column(
        graft.functions.TokenShingles(
          org.apache.spark.sql.graft.Bridge.expression(ts), 3, "_"))
      val sh = d.select(col("doc_id"), explode(shArr).as("token")).distinct()
      val rare = sh.groupBy("token").agg(count(lit(1)).as("df"))
        .where(col("df") === 2)
      val inRare = sh.join(rare.select("token"), Seq("token"), "left_semi")
      val edges = inRare.as("x").join(inRare.as("y"),
          col("x.token") === col("y.token") &&
            col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").cast("string").as("src"),
          col("y.doc_id").cast("string").as("dst"))
        .distinct()
      val seeds = d.where(col("doc_id") % 10 === 0)
        .select(col("doc_id").cast("string").as("vertex"),
          col("lang").as("label"))
      val labels = LabelPropagation.runSeededFixed(edges, seeds, iters = 3)
      labels.agg(
        count(lit(1)).as("n_vertices"),
        count(col("label")).as("n_labeled"),
        count_distinct(col("label")).as("n_labels"),
        sum(pmod(TextOps.portableHash64(concat_ws("|", col("vertex"),
          coalesce(col("label"), lit("_none_")))), lit(1000003L)))
          .as("assign_checksum"))
    }),

    "doc_containment" -> ((s, dir) => {
      // asymmetric quote/subset detection at containment >= 0.9 over word
      // 3-shingle sets; oracle is the independent shared-shingle join
      val d = s.read.parquet(s"$dir/documents.parquet")
      val ts = split(col("text"), " ")
      // native codegen shingle texts — see doc_label_prop
      val sh = org.apache.spark.sql.graft.Bridge.column(
        graft.functions.TokenShingles(
          org.apache.spark.sql.graft.Bridge.expression(ts), 3, "_"))
      val shingled = d.select(col("doc_id"), array_join(sh, " ").as("shtext"))
      SimJoin.containmentPairs(shingled, "doc_id", "shtext", 0.9)
        .select(col("a"), col("b"),
          round(col("containment"), 6).as("containment"))
        .orderBy("a", "b")
    }),

    "doc_setsim_prefix" -> ((s, dir) => {
      // exact Jaccard >= 0.75 self-join (prefix filter) over word
      // 3-shingle sets (the fixture vocabulary is too small for word-level
      // sets to be selective — a fixture artifact); the oracle computes
      // the true answer through an independent shared-shingle equi-join,
      // so parity again proves completeness
      val d = s.read.parquet(s"$dir/documents.parquet")
      val ts = split(col("text"), " ")
      // native codegen shingle texts — see doc_label_prop
      val sh = org.apache.spark.sql.graft.Bridge.column(
        graft.functions.TokenShingles(
          org.apache.spark.sql.graft.Bridge.expression(ts), 3, "_"))
      val shingled = d.select(col("doc_id"), array_join(sh, " ").as("shtext"))
      SimJoin.prefixJaccardPairs(shingled, "doc_id", "shtext", 0.75)
        .select(col("a"), col("b"), round(col("jaccard"), 6).as("jaccard"))
        .orderBy("a", "b")
    }),
  )

  val oracleSql: Map[String, String] = Map(

    "kg_coref" ->
      s"""WITH $palCte,
         |$pmapCte,
         |turns AS (
         |  SELECT o.o_orderkey % 257 AS conv, o.o_orderkey AS k,
         |    CASE WHEN o.o_orderkey % 3 = 0 THEN 'Tell me about ' || p.alias || '.'
         |         WHEN o.o_orderkey % 3 = 1 THEN 'And what did they build next?'
         |         ELSE 'Thanks, noted.' END AS text
         |  FROM orders o JOIN pal p ON p.i = (o.o_orderkey * 7 + 1) % ${pAliases.size}
         |),
         |idx AS (
         |  SELECT conv,
         |    row_number() OVER (PARTITION BY conv ORDER BY k) AS turn_idx,
         |    trim(regexp_replace(translate(lower(text), 'üã', 'ua'),
         |         '[^a-z0-9]+', ' ', 'g')) AS n
         |  FROM turns),
         |res AS (
         |  SELECT conv, turn_idx,
         |    nullif(regexp_extract(n, '${Coref.personPattern}', 1), '') AS mention,
         |    regexp_matches(n, '${Coref.pronounPattern}') AS is_pronoun
         |  FROM idx),
         |ent AS (
         |  SELECT r.conv, r.turn_idx, r.is_pronoun, m.entity
         |  FROM res r LEFT JOIN pmap m ON m.alias = r.mention),
         |win AS (
         |  SELECT is_pronoun,
         |    last_value(entity IGNORE NULLS) OVER (
         |      PARTITION BY conv ORDER BY turn_idx
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS ante
         |  FROM ent)
         |SELECT coalesce(ante, '(unresolved)') AS antecedent,
         |       CAST(count(*) AS BIGINT) AS n_pronouns
         |FROM win WHERE is_pronoun GROUP BY 1 ORDER BY 1""".stripMargin,

    "kg_link_pred" ->
      s"""$sparseEdgesCte,
         |und AS (SELECT src AS u, dst AS v FROM edges WHERE src <> dst),
         |nbr AS (SELECT DISTINCT u, v FROM
         |        (SELECT u, v FROM und UNION ALL SELECT v AS u, u AS v FROM und) x),
         |deg AS (SELECT u, CAST(count(*) AS BIGINT) AS d FROM nbr GROUP BY u),
         |ctr AS (SELECT n.u AS w, n.v AS x, g.d AS dw
         |        FROM nbr n JOIN deg g ON g.u = n.u WHERE g.d <= 64),
         |pairs AS (SELECT l.x AS a, r.x AS b, l.dw AS dw
         |          FROM ctr l JOIN ctr r ON l.w = r.w AND l.x < r.x),
         |agg AS (SELECT a, b, CAST(count(*) AS BIGINT) AS common_neighbors,
         |               sum(1.0 / ln(CAST(dw AS DOUBLE))) AS adamic_adar
         |        FROM pairs GROUP BY a, b)
         |SELECT g.a, g.b, g.common_neighbors,
         |       CAST(round(g.adamic_adar, 6) AS DOUBLE) AS adamic_adar,
         |       CAST(round(CAST(g.common_neighbors AS DOUBLE)
         |             / CAST(da.d + db.d - g.common_neighbors AS DOUBLE), 6) AS DOUBLE) AS jaccard
         |FROM agg g JOIN deg da ON da.u = g.a JOIN deg db ON db.u = g.b
         |ORDER BY g.common_neighbors DESC, g.a, g.b LIMIT 30""".stripMargin,

    "kg_triple_fusion" ->
      """WITH t AS (
        |  SELECT 'v' || (l_orderkey % 4096) AS src,
        |         'v' || (l_partkey % 4096) AS dst,
        |         'p' || (l_suppkey % 7) AS label,
        |         's' || (l_linenumber % 5) AS source,
        |         0.3 + CAST(l_linenumber % 5 AS DOUBLE) * 0.05 AS w
        |  FROM lineitem),
        |fused AS (
        |  SELECT src, label, dst,
        |         CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
        |         CAST(count(*) AS BIGINT) AS n_assertions,
        |         1.0 - exp(sum(ln(1.0 - least(greatest(w, 0.0), 1.0 - 1e-12)))) AS confidence
        |  FROM t GROUP BY src, label, dst)
        |SELECT n_sources,
        |       CAST(count(*) AS BIGINT) AS n_triples,
        |       CAST(sum(n_assertions) AS BIGINT) AS n_assertions,
        |       CAST(sum(CAST(round(confidence * 1e6, 0) AS BIGINT)) AS BIGINT) AS conf_sum_micros,
        |       CAST(min(round(confidence, 6)) AS DOUBLE) AS min_conf,
        |       CAST(max(round(confidence, 6)) AS DOUBLE) AS max_conf
        |FROM fused GROUP BY n_sources ORDER BY n_sources""".stripMargin,

    "kg_schema_stats" ->
      """WITH edges AS (
        |  SELECT 'v' || (l_orderkey % 4096) AS src,
        |         'v' || (l_partkey % 4096) AS dst,
        |         'p' || (l_suppkey % 7) AS label
        |  FROM lineitem)
        |SELECT 'c' || (CAST(substr(src, 2) AS BIGINT) % 8) AS src_class, label,
        |       'c' || (CAST(substr(dst, 2) AS BIGINT) % 8) AS dst_class,
        |       CAST(count(*) AS BIGINT) AS n_assertions,
        |       CAST(count(DISTINCT (src, dst)) AS BIGINT) AS n_distinct_pairs
        |FROM edges GROUP BY 1, 2, 3
        |ORDER BY n_assertions DESC, src_class, label, dst_class LIMIT 40""".stripMargin,

    "doc_dsir" ->
      """WITH toks AS (
        |  SELECT doc_id, (lang = 'en') AS is_t,
        |         ('0x' || substr(md5(tok), 1, 15))::BIGINT % 64 AS b
        |  FROM (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok
        |        FROM documents) u),
        |stats AS (
        |  SELECT b, CAST(count(*) AS BIGINT) AS r,
        |         CAST(count(*) FILTER (WHERE is_t) AS BIGINT) AS t
        |  FROM toks GROUP BY b),
        |tot AS (SELECT sum(r) AS rtot, sum(t) AS ttot FROM stats),
        |lr AS (
        |  SELECT b, ln(CAST(t + 1 AS DOUBLE) / (ttot + 64))
        |           - ln(CAST(r + 1 AS DOUBLE) / (rtot + 64)) AS lr
        |  FROM stats, tot)
        |SELECT k.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |       CAST(round(sum(l.lr), 6) AS DOUBLE) AS weight
        |FROM toks k JOIN lr l ON l.b = k.b
        |GROUP BY k.doc_id
        |ORDER BY weight DESC, k.doc_id LIMIT 20""".stripMargin,

    "doc_boilerplate" ->
      """WITH t AS (SELECT doc_id, string_split_regex(text, ' +') AS l FROM documents),
        |body AS (
        |  SELECT doc_id, CAST(i + 1 AS INT) AS pos,
        |         array_to_string(l[i*6+1:i*6+6], ' ') AS line
        |  FROM t, LATERAL unnest(generate_series(0, (len(l)+5)//6 - 1)) g(i)),
        |alll AS (
        |  SELECT doc_id, 0 AS pos, 'subscribe to our newsletter' AS line FROM t
        |  UNION ALL SELECT doc_id, pos, line FROM body
        |  UNION ALL SELECT doc_id, CAST((len(l)+5)//6 + 1 AS INT) AS pos,
        |            'all rights reserved' AS line FROM t),
        |h AS (SELECT doc_id, pos, line,
        |             ('0x' || substr(md5(line), 1, 15))::BIGINT AS hh FROM alll),
        |boiler AS (SELECT hh FROM h GROUP BY hh HAVING count(DISTINCT doc_id) >= 40),
        |flag AS (SELECT doc_id, pos, line,
        |                hh IN (SELECT hh FROM boiler) AS b FROM h),
        |perdoc AS (
        |  SELECT doc_id,
        |    CAST(count(*) FILTER (WHERE NOT b) AS BIGINT) AS kept,
        |    CAST(count(*) FILTER (WHERE b) AS BIGINT) AS removed,
        |    coalesce(string_agg(CASE WHEN NOT b THEN line END, chr(10) ORDER BY pos), '') AS text_clean
        |  FROM flag GROUP BY doc_id)
        |SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(kept) AS BIGINT) AS lines_kept,
        |       CAST(sum(removed) AS BIGINT) AS lines_removed,
        |       CAST(sum(length(text_clean)) AS BIGINT) AS clean_chars,
        |       CAST(sum(('0x' || substr(md5(text_clean), 1, 15))::BIGINT % 1000003) AS BIGINT) AS clean_checksum
        |FROM perdoc""".stripMargin,

    // first-occurrence via row_number over the para STRING — equivalent to
    // the op's 64-bit-hash grouping modulo md5 collisions
    "doc_paragraph_dedup" ->
      """WITH t AS (SELECT doc_id, string_split_regex(text, ' +') AS l FROM documents),
        |sents AS (
        |  SELECT doc_id, CAST(i AS INT) AS pos,
        |         array_to_string(l[i*8+1:i*8+8], ' ') AS para
        |  FROM t, LATERAL unnest(generate_series(0, (len(l)+7)//8 - 1)) g(i)),
        |ne AS (SELECT doc_id, pos, para,
        |         row_number() OVER (PARTITION BY para ORDER BY doc_id, pos) = 1 AS kept
        |       FROM sents WHERE trim(para) <> ''),
        |alls AS (SELECT doc_id, pos, para, kept FROM ne
        |  UNION ALL
        |  SELECT doc_id, pos, para, true AS kept FROM sents WHERE trim(para) = '')
        |SELECT doc_id,
        |  CAST(count(*) FILTER (WHERE kept) AS BIGINT) AS n_paras_kept,
        |  CAST(count(*) FILTER (WHERE NOT kept) AS BIGINT) AS n_paras_removed,
        |  CAST(('0x' || substr(md5(coalesce(
        |         string_agg(CASE WHEN kept THEN para END, chr(10) ORDER BY pos),
        |         '')), 1, 15))::BIGINT % 1000003 AS BIGINT) AS clean_checksum
        |FROM alls GROUP BY doc_id""".stripMargin,

    "kg_snapshot_diff" ->
      """WITH li AS (
        |  SELECT 'v' || (l_orderkey % 4096) AS src,
        |         'v' || (l_partkey % 4096) AS dst,
        |         'p' || (l_suppkey % 7) AS label,
        |         l_linenumber AS ln
        |  FROM lineitem),
        |b AS (SELECT src, dst, label FROM li WHERE ln <= 4),
        |a AS (SELECT src, dst, label FROM li WHERE ln >= 2),
        |bd AS (SELECT DISTINCT src, label, dst FROM b),
        |ad AS (SELECT DISTINCT src, label, dst FROM a),
        |degb AS (SELECT v, CAST(count(*) AS BIGINT) AS d FROM
        |         (SELECT src AS v FROM b UNION ALL SELECT dst FROM b) u GROUP BY v),
        |dega AS (SELECT v, CAST(count(*) AS BIGINT) AS d FROM
        |         (SELECT src AS v FROM a UNION ALL SELECT dst FROM a) u GROUP BY v),
        |dd AS (
        |  SELECT coalesce(degb.d, 0) AS db, coalesce(dega.d, 0) AS da
        |  FROM degb FULL OUTER JOIN dega ON degb.v = dega.v)
        |SELECT
        |  (SELECT CAST(count(*) AS BIGINT) FROM bd) AS n_edges_before,
        |  (SELECT CAST(count(*) AS BIGINT) FROM ad) AS n_edges_after,
        |  (SELECT CAST(count(*) AS BIGINT) FROM ad WHERE NOT EXISTS
        |    (SELECT 1 FROM bd WHERE bd.src = ad.src AND bd.label = ad.label
        |       AND bd.dst = ad.dst)) AS n_added,
        |  (SELECT CAST(count(*) AS BIGINT) FROM bd WHERE NOT EXISTS
        |    (SELECT 1 FROM ad WHERE ad.src = bd.src AND ad.label = bd.label
        |       AND ad.dst = bd.dst)) AS n_removed,
        |  (SELECT CAST(count(*) FILTER (WHERE db = 0) AS BIGINT) FROM dd) AS n_vertices_gained,
        |  (SELECT CAST(count(*) FILTER (WHERE da = 0) AS BIGINT) FROM dd) AS n_vertices_lost,
        |  (SELECT CAST(max(da - db) AS BIGINT) FROM dd) AS max_delta,
        |  (SELECT CAST(sum(abs(da - db)) AS BIGINT) FROM dd) AS sum_abs_delta""".stripMargin,

    "doc_ccnet_buckets" ->
      """WITH toks AS (
        |  SELECT doc_id, term
        |  FROM documents, unnest(string_split_regex(text, ' +')) AS t(term)
        |  WHERE term <> ''),
        |counts AS (SELECT term, CAST(count(*) AS DOUBLE) AS c FROM toks GROUP BY term),
        |tot AS (SELECT sum(c) AS total FROM counts),
        |scored AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |         round(avg(ln(c / total)), 6) AS lp
        |  FROM toks JOIN counts USING (term), tot
        |  GROUP BY doc_id),
        |wl AS (SELECT d.lang, s.doc_id, s.n_tokens, s.lp
        |       FROM documents d JOIN scored s USING (doc_id)),
        |nt AS (SELECT lang, n_tokens, lp,
        |              ntile(3) OVER (PARTITION BY lang ORDER BY lp DESC, doc_id) AS b
        |       FROM wl)
        |SELECT lang,
        |       CASE b WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS bucket,
        |       CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
        |       CAST(min(lp) AS DOUBLE) AS min_logprob,
        |       CAST(max(lp) AS DOUBLE) AS max_logprob
        |FROM nt GROUP BY lang, b ORDER BY lang, bucket""".stripMargin,

    // Full-chain replay of Canonicalizer.incrementalCanonicalize. The
    // Spark side keys its band buckets on xxhash64 digests of the minhash
    // slices while this twin compares the literal signature strings — the
    // identical pair-set acceptance class as the doc_minhash_lsh twin
    // (a 64-bit digest collision is the only divergence, ~n²/2⁶⁵).
    "kg_canon_incremental" -> {
      val coeffRows = graft.ops.Dedup.MinhashCoeffs.zipWithIndex
        .map { case ((a, b), i) => s"($i, $a, $b)" }.mkString(", ")
      s"""WITH surf0 AS (
         |  SELECT DISTINCT array_to_string(string_split(text, ' ')[1:4], ' ') AS surface
         |  FROM documents),
         |split AS (
         |  SELECT surface, ('0x' || substr(md5(surface), 1, 15))::BIGINT % 3 AS m FROM surf0),
         |priorsurf AS (
         |  SELECT surface,
         |         trim(regexp_replace(translate(lower(surface), 'üã', 'ua'), '[^a-z0-9]+', ' ', 'g')) AS norm
         |  FROM split WHERE m < 2),
         |priormap AS (
         |  SELECT surface, min(surface) OVER (PARTITION BY norm) AS canonical FROM priorsurf),
         |newsurf AS (
         |  SELECT s.surface,
         |         trim(regexp_replace(translate(lower(s.surface), 'üã', 'ua'), '[^a-z0-9]+', ' ', 'g')) AS norm
         |  FROM split s LEFT JOIN priorsurf p ON p.surface = s.surface
         |  WHERE s.m = 2 AND p.surface IS NULL),
         |tnorm AS (SELECT DISTINCT norm FROM newsurf),
         |grp AS (
         |  SELECT surface, norm FROM newsurf
         |  UNION ALL
         |  SELECT p.surface, p.norm FROM priorsurf p JOIN tnorm t ON t.norm = p.norm),
         |hub AS (SELECT norm, min(surface) AS h FROM grp GROUP BY norm),
         |normedges AS (
         |  SELECT hub.h AS s, grp.surface AS d FROM grp JOIN hub USING (norm)
         |  WHERE grp.surface <> hub.h),
         |allsurf AS (
         |  SELECT surface, norm, 1 AS is_new FROM newsurf
         |  UNION ALL SELECT surface, norm, 0 FROM priorsurf),
         |shn AS (
         |  SELECT DISTINCT surface, is_new,
         |         ('0x' || substr(md5(substr(norm, i, 3)), 1, 15))::BIGINT & 2147483647 AS h
         |  FROM allsurf, LATERAL unnest(generate_series(1, greatest(len(norm) - 2, 1))) g(i)),
         |coeffs(i, a, b) AS (VALUES $coeffRows),
         |sigs AS (
         |  SELECT surface, is_new, i, min((a * h + b) % ${graft.ops.Dedup.MinhashPrime}) AS mh
         |  FROM shn, coeffs GROUP BY 1, 2, 3),
         |bands AS (
         |  SELECT surface, is_new, i // 2 AS band,
         |         string_agg(i || ':' || mh, ',' ORDER BY i || ':' || mh) AS sig
         |  FROM sigs GROUP BY 1, 2, 3),
         |cands AS (
         |  SELECT DISTINCT least(x.surface, y.surface) AS a, greatest(x.surface, y.surface) AS b
         |  FROM bands x JOIN bands y ON x.band = y.band AND x.sig = y.sig
         |       AND x.surface <> y.surface
         |  WHERE x.is_new = 1),
         |sizes AS (SELECT surface, count(*) AS sz FROM shn GROUP BY surface),
         |inter AS (
         |  SELECT c.a, c.b, count(*) AS n
         |  FROM cands c JOIN shn sa ON sa.surface = c.a
         |       JOIN shn sb ON sb.surface = c.b AND sb.h = sa.h
         |  GROUP BY 1, 2),
         |verified AS (
         |  SELECT i.a AS s, i.b AS d
         |  FROM inter i JOIN sizes za ON za.surface = i.a JOIN sizes zb ON zb.surface = i.b
         |  WHERE CAST(i.n AS DOUBLE) / (za.sz + zb.sz - i.n) >= 0.6),
         |edges0 AS (SELECT s, d FROM normedges UNION SELECT s, d FROM verified),
         |edges1 AS (
         |  SELECT coalesce(ps.canonical, e.s) AS s, coalesce(pd.canonical, e.d) AS d
         |  FROM edges0 e
         |  LEFT JOIN (SELECT DISTINCT surface, canonical FROM priormap) ps ON ps.surface = e.s
         |  LEFT JOIN (SELECT DISTINCT surface, canonical FROM priormap) pd ON pd.surface = e.d),
         |ue AS (SELECT s AS x, d AS y FROM edges1 WHERE s <> d
         |       UNION SELECT d, s FROM edges1 WHERE s <> d),
         |verts AS (SELECT DISTINCT x AS v FROM ue),
         |comp AS (
         |  WITH RECURSIVE reach(v, r) AS (
         |    SELECT v, v FROM verts
         |    UNION
         |    SELECT reach.v, ue.y FROM reach JOIN ue ON ue.x = reach.r
         |  )
         |  SELECT v, min(r) AS component FROM reach GROUP BY v),
         |anchors AS (SELECT DISTINCT canonical AS v FROM priormap),
         |companchor AS (
         |  SELECT c.component, min(c.v) AS anchor
         |  FROM comp c JOIN anchors a ON a.v = c.v GROUP BY 1),
         |newassign AS (
         |  SELECT n.surface,
         |         coalesce(ca.anchor, c.component, n.surface) AS canonical
         |  FROM newsurf n
         |  LEFT JOIN comp c ON c.v = n.surface
         |  LEFT JOIN companchor ca ON ca.component = c.component)
         |SELECT CAST((SELECT count(*) FROM priormap) AS BIGINT) AS n_prior,
         |       CAST(count(*) AS BIGINT) AS n_new,
         |       CAST(count(*) FILTER (WHERE canonical IN (SELECT v FROM anchors)) AS BIGINT) AS n_merged_into_prior,
         |       CAST(count(DISTINCT canonical) FILTER (WHERE canonical NOT IN (SELECT v FROM anchors)) AS BIGINT) AS n_fresh_clusters,
         |       CAST(sum(('0x' || substr(md5(surface || '|' || canonical), 1, 15))::BIGINT % 1000003) AS BIGINT) AS assign_checksum
         |FROM newassign""".stripMargin
    },

    // 3 unrolled BPE training rounds: pair scoring with lex tie-break,
    // then the greedy left-to-right merge as the odd-match-within-run
    // closed form — the same window algebra as the Spark trainer.
    "doc_bpe_merges" -> {
      def rnd(i: Int, src: String): String =
        s"""p$i AS (SELECT word, freq, pos, sym,
           |         lead(sym) OVER (PARTITION BY word ORDER BY pos) AS nxt
           |       FROM $src),
           |b$i AS (SELECT l, r, score FROM (
           |          SELECT sym AS l, nxt AS r, sum(freq) AS score
           |          FROM p$i WHERE nxt IS NOT NULL GROUP BY 1, 2)
           |        ORDER BY score DESC, l, r LIMIT 1),
           |m$i AS (SELECT *, coalesce(nxt IS NOT NULL
           |          AND sym = (SELECT l FROM b$i)
           |          AND nxt = (SELECT r FROM b$i), false) AS hit FROM p$i),
           |ra$i AS (SELECT *, coalesce(lag(hit) OVER (PARTITION BY word ORDER BY pos), false) AS prevhit FROM m$i),
           |rb$i AS (SELECT *, sum(CASE WHEN hit AND NOT prevhit THEN 1 ELSE 0 END)
           |           OVER (PARTITION BY word ORDER BY pos ROWS UNBOUNDED PRECEDING) AS runid FROM ra$i),
           |rc$i AS (SELECT *, CASE WHEN hit THEN row_number()
           |           OVER (PARTITION BY word, runid ORDER BY pos) END AS runpos FROM rb$i),
           |rd$i AS (SELECT *, coalesce(hit AND runpos % 2 = 1, false) AS domerge FROM rc$i),
           |re$i AS (SELECT *, coalesce(lag(domerge) OVER (PARTITION BY word ORDER BY pos), false) AS consumed FROM rd$i),
           |s$i AS (SELECT word, freq,
           |          row_number() OVER (PARTITION BY word ORDER BY pos) AS pos,
           |          CASE WHEN domerge THEN sym || nxt ELSE sym END AS sym
           |        FROM re$i WHERE NOT consumed)""".stripMargin
      s"""WITH vocab AS (
         |  SELECT word, count(*) AS freq
         |  FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
         |  WHERE len(word) > 0 GROUP BY 1),
         |s0 AS (
         |  SELECT word, freq, i AS pos, substr(word, i, 1) AS sym
         |  FROM vocab, LATERAL unnest(generate_series(1, len(word))) g(i)),
         |${rnd(1, "s0")},
         |${rnd(2, "s1")},
         |${rnd(3, "s2")}
         |SELECT * FROM (
         |  SELECT 1 AS round, l AS "left", r AS "right",
         |         CAST(score AS BIGINT) AS score, l || r AS merged FROM b1
         |  UNION ALL
         |  SELECT 2, l, r, CAST(score AS BIGINT), l || r FROM b2
         |  UNION ALL
         |  SELECT 3, l, r, CAST(score AS BIGINT), l || r FROM b3)
         |ORDER BY round""".stripMargin
    },

    // TRUE ground truth (brute-force levenshtein with the |Δlen| <= d
    // necessary-condition prefilter), fully independent of the PassJoin
    // candidate scheme — parity proves completeness of the pigeonhole.
    "doc_fuzzy_join" ->
      """WITH surf AS (
        |  SELECT DISTINCT trim(regexp_replace(translate(lower(
        |    array_to_string(string_split(text, ' ')[1:3], ' ')),
        |    'üã', 'ua'), '[^a-z0-9]+', ' ', 'g')) AS str
        |  FROM documents)
        |SELECT x.str AS a, y.str AS b,
        |       CAST(levenshtein(x.str, y.str) AS INTEGER) AS dist
        |FROM surf x JOIN surf y
        |  ON x.str < y.str AND abs(len(x.str) - len(y.str)) <= 2
        |WHERE levenshtein(x.str, y.str) <= 2
        |ORDER BY a, b""".stripMargin,

    // global row_number replays the distributed range-sort rank exactly
    // (keys are distinct, so the (key, id) tie order never binds)
    "doc_sorted_neighborhood" ->
      """WITH surf AS (
        |  SELECT DISTINCT trim(regexp_replace(translate(lower(
        |    array_to_string(string_split(text, ' ')[1:3], ' ')),
        |    'üã', 'ua'), '[^a-z0-9]+', ' ', 'g')) AS k
        |  FROM documents),
        |r AS (SELECT k, row_number() OVER (ORDER BY k) - 1 AS rank FROM surf),
        |p AS (SELECT x.k AS a, y.k AS b
        |      FROM r x JOIN r y ON y.rank > x.rank AND y.rank - x.rank < 4)
        |SELECT CAST(count(*) AS BIGINT) AS n_pairs,
        |       CAST(count(*) FILTER (WHERE levenshtein(a, b) <= 2) AS BIGINT) AS n_ed2,
        |       CAST(sum(('0x' || substr(md5(a || '|' || b), 1, 15))::BIGINT % 1000003) AS BIGINT) AS pair_checksum
        |FROM p""".stripMargin,

    // seeded-LPA unroll: per round one labeled-neighbor count argmax
    // (cnt desc, label asc) with seeds clamped by the coalesce
    "doc_label_prop" -> {
      def rnd(i: Int): String =
        s"""p$i AS (
           |  SELECT v, l FROM (
           |    SELECT n.v, lb.label AS l, count(*) AS cnt,
           |           row_number() OVER (PARTITION BY n.v
           |             ORDER BY count(*) DESC, lb.label) AS rn
           |    FROM nbrs n JOIN l${i - 1} lb ON lb.vertex = n.u
           |    WHERE lb.label IS NOT NULL GROUP BY n.v, lb.label) z
           |  WHERE rn = 1),
           |l$i AS (
           |  SELECT v0.vertex, coalesce(s.label, p.l) AS label
           |  FROM verts v0
           |  LEFT JOIN seeds s ON s.vertex = v0.vertex
           |  LEFT JOIN p$i p ON p.v = v0.vertex)""".stripMargin
      s"""WITH tok0 AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
         |sh AS (SELECT DISTINCT doc_id, array_to_string(ts[i:i+2], '_') AS token
         |       FROM tok0, LATERAL unnest(generate_series(1, greatest(len(ts) - 2, 0))) g(i)),
         |rare AS (SELECT token FROM (SELECT token, count(*) AS c FROM sh GROUP BY 1) WHERE c = 2),
         |ed AS (SELECT DISTINCT CAST(x.doc_id AS VARCHAR) AS src,
         |                       CAST(y.doc_id AS VARCHAR) AS dst
         |       FROM sh x JOIN sh y USING (token) JOIN rare USING (token)
         |       WHERE x.doc_id < y.doc_id),
         |nbrs AS (SELECT src AS v, dst AS u FROM ed UNION ALL SELECT dst, src FROM ed),
         |verts AS (SELECT DISTINCT v AS vertex FROM nbrs),
         |seeds AS (SELECT CAST(doc_id AS VARCHAR) AS vertex, lang AS label
         |          FROM documents WHERE doc_id % 10 = 0),
         |l0 AS (SELECT v0.vertex, s.label FROM verts v0
         |       LEFT JOIN seeds s ON s.vertex = v0.vertex),
         |${rnd(1)},
         |${rnd(2)},
         |${rnd(3)}
         |SELECT CAST(count(*) AS BIGINT) AS n_vertices,
         |       CAST(count(label) AS BIGINT) AS n_labeled,
         |       CAST(count(DISTINCT label) AS BIGINT) AS n_labels,
         |       CAST(sum(('0x' || substr(md5(vertex || '|' || coalesce(label, '_none_')), 1, 15))::BIGINT % 1000003) AS BIGINT) AS assign_checksum
         |FROM l3""".stripMargin
    },

    // independent shared-shingle join again (complete for t > 0);
    // containment divides by the PROBE side's set size only
    "doc_containment" ->
      """WITH tok0 AS (
        |  SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id, array_to_string(ts[i:i+2], '_') AS token
        |  FROM tok0, LATERAL unnest(generate_series(1, greatest(len(ts) - 2, 0))) g(i)),
        |sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
        |pairs AS (
        |  SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS i,
        |         any_value(za.sz) AS sa
        |  FROM sh a JOIN sh b ON a.token = b.token AND a.doc_id <> b.doc_id
        |  JOIN sz za ON za.doc_id = a.doc_id
        |  GROUP BY 1, 2)
        |SELECT a, b,
        |       CAST(round(CAST(i AS DOUBLE) / sa, 6) AS DOUBLE) AS containment
        |FROM pairs WHERE CAST(i AS DOUBLE) / sa >= 0.9
        |ORDER BY a, b""".stripMargin,

    // True answer via an independent shared-shingle equi-join (complete
    // for t > 0: J >= t needs >= 1 shared element) — no prefix filter on
    // this side, so parity proves the filter prunes no true pair.
    "doc_setsim_prefix" ->
      """WITH tok0 AS (
        |  SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id, array_to_string(ts[i:i+2], '_') AS token
        |  FROM tok0, LATERAL unnest(generate_series(1, greatest(len(ts) - 2, 0))) g(i)),
        |sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
        |pairs AS (
        |  SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS i,
        |         any_value(za.sz) AS sa, any_value(zb.sz) AS sb
        |  FROM sh a JOIN sh b ON a.token = b.token AND a.doc_id < b.doc_id
        |  JOIN sz za ON za.doc_id = a.doc_id
        |  JOIN sz zb ON zb.doc_id = b.doc_id
        |  GROUP BY 1, 2)
        |SELECT a, b,
        |       CAST(round(CAST(i AS DOUBLE) / (sa + sb - i), 6) AS DOUBLE) AS jaccard
        |FROM pairs WHERE CAST(i AS DOUBLE) / (sa + sb - i) >= 0.75
        |ORDER BY a, b""".stripMargin,
  )
}
