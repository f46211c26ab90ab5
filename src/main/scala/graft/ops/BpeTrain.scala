package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed BPE merge-rule learning (Sennrich et al., "Neural Machine
  * Translation of Rare Words with Subword Units", ACL 2016 — public
  * algorithm, original implementation): the tokenizer-training side of a
  * data pipeline, next to [[TextOps.bpeTokens]]' inference-side
  * pre-tokenizer.
  *
  * Shape: the corpus is touched EXACTLY ONCE (word count aggregation);
  * every training round then runs over the (word, freq, pos, symbol) table
  * whose size is bounded by the VOCABULARY's character volume, not the
  * corpus — the classic trainer state. Per round: adjacent-pair scores by
  * one (l, r)-keyed aggregation of freq, the argmax folded back as a
  * broadcast 1-row frame (never a driver collect), and the merge applied
  * with the greedy left-to-right rule via per-word windows (high-
  * cardinality partition key — no skew).
  *
  * Greedy-overlap semantics match the reference trainer: adjacent pairs
  * count overlapping occurrences; when the winning pair is a same-symbol
  * run ("a a a a"), merges apply at the 1st, 3rd, ... match of each run
  * (non-overlapping left-to-right), which is exactly the odd-index-within-
  * run closed form computed below — no sequential scan needed.
  */
object BpeTrain {

  /** Learn `rounds` merge rules over the whitespace-word vocabulary of
    * `docs`. Returns (round, left, right, score, merged) — one row per
    * learned rule, round starting at 1; ties on score break
    * deterministically toward the lexicographically smallest (left, right).
    */
  def learnMerges(docs: DataFrame, textCol: String,
                  rounds: Int): DataFrame = {
    require(rounds >= 1, "rounds must be >= 1")

    // ---- one corpus pass: word frequencies -------------------------------
    val vocab = docs.select(explode(split(col(textCol), " +")).as("word"))
      .where(length(col("word")) > 0)
      .groupBy("word").agg(count(lit(1)).as("freq"))

    // initial symbol table: one row per character of each vocab word
    // (substr-indexed, not regex-split — engine-portable to the letter)
    // the symbol table is loop state: pinned every round (see graft.Pin)
    var syms = graft.Pin.pin(vocab
      .select(col("word"), col("freq"),
        explode(sequence(lit(1), length(col("word")))).as("pos"))
      .select(col("word"), col("freq"), col("pos"),
        col("word").substr(col("pos"), lit(1)).as("sym")))._1

    val byWord = Window.partitionBy("word").orderBy("pos")
    var merges: DataFrame = null
    (1 to rounds).foreach { round =>
      // adjacent-pair scores (overlapping occurrences, freq-weighted)
      val paired = syms.withColumn("nxt", lead(col("sym"), 1).over(byWord))
      val best = paired.where(col("nxt").isNotNull)
        .groupBy(col("sym").as("l"), col("nxt").as("r"))
        .agg(sum("freq").as("score"))
        .agg(min(struct(negate(col("score")).as("ns"), col("l"), col("r")))
          .as("b"))
        .select(col("b.l").as("__l"), col("b.r").as("__r"),
          negate(col("b.ns")).as("__score"))

      val rule = best.select(lit(round).as("round"), col("__l").as("left"),
        col("__r").as("right"), col("__score").as("score"),
        concat(col("__l"), col("__r")).as("merged"))
        .where(col("left").isNotNull)
      merges = if (merges == null) rule else merges.unionByName(rule)

      // apply the rule: greedy left-to-right = merge the odd-indexed
      // matches of every maximal run of consecutive matches
      val m = syms.crossJoin(broadcast(best))
        .withColumn("nxt", lead(col("sym"), 1).over(byWord))
        .withColumn("hit", coalesce(col("nxt").isNotNull &&
          col("sym") === col("__l") && col("nxt") === col("__r"), lit(false)))
      val runs = m
        .withColumn("prevHit",
          coalesce(lag(col("hit"), 1).over(byWord), lit(false)))
        .withColumn("runStart", col("hit") && !col("prevHit"))
        .withColumn("runId",
          sum(when(col("runStart"), 1L).otherwise(0L)).over(byWord))
        .withColumn("runPos",
          when(col("hit"),
            row_number().over(Window.partitionBy("word", "runId")
              .orderBy("pos"))).otherwise(lit(null)))
      // a row merges iff it is an odd match within its run; the row AFTER
      // a merging row is consumed
      val decided = runs
        .withColumn("doMerge", col("hit") && pmod(col("runPos"), lit(2)) === 1)
        .withColumn("consumed",
          coalesce(lag(col("doMerge"), 1).over(byWord), lit(false)))
      syms = graft.Pin.pin(decided.where(!col("consumed"))
        .select(col("word"), col("freq"),
          row_number().over(byWord).as("pos"),
          when(col("doMerge"), concat(col("sym"), col("nxt")))
            .otherwise(col("sym")).as("sym")))._1
    }
    merges
  }
}
