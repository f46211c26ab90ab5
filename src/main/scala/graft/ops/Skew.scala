package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Explicit skew handling for hot keys (north rule: hot conv_ids at
  * 10^12-turn scale). AQE's skew-join splitting covers joins; these
  * utilities cover aggregations, and salted joins inside iterative kernels,
  * where AQE cannot help.
  */
object Skew {

  /** Two-phase (salted) count: groupBy(key, salt) partial counts, then
    * groupBy(key) final sum — bounds any single reducer's input to
    * |key rows| / saltBuckets. Spark's partial aggregation already does this
    * for algebraic aggregates when key cardinality is high; the explicit
    * variant matters when ONE key dominates a partition-sized share.
    */
  def saltedCount(df: DataFrame, key: Column, saltBuckets: Int): DataFrame = {
    val salt = pmod(xxhash64(monotonically_increasing_id()), lit(saltBuckets))
    df.withColumn("__salt", salt)
      .groupBy(key.as("key"), col("__salt"))
      .agg(count(lit(1)).as("partial"))
      .groupBy("key")
      .agg(sum("partial").as("cnt"))
  }

  /** Salted distinct-count: phase 1 dedups (key, value) within salt buckets,
    * phase 2 dedups across buckets and counts.
    */
  def saltedCountDistinct(df: DataFrame, key: Column, value: Column,
                          saltBuckets: Int): DataFrame = {
    val salt = pmod(xxhash64(value), lit(saltBuckets))
    df.select(key.as("key"), value.as("value"), salt.as("__salt"))
      .groupBy("key", "__salt")
      .agg(collect_set("value").as("vs"))
      .select(col("key"), explode(col("vs")).as("value"))
      .groupBy("key")
      .agg(count_distinct(col("value")).as("cnt"))
  }

  /** Salted (replicate-and-split) inner equi-join for a skewed LEFT side:
    * each left row gets a random salt in [0, saltBuckets); the right side
    * is replicated once per salt value; the join key becomes (key, salt),
    * so one hot key's rows land on `saltBuckets` reducers instead of one.
    * Result is row-identical to `left.join(right, keyCol)` — the salt never
    * changes which pairs match, only where they execute.
    *
    * This is the manual fallback for the cases AQE's skew-join splitting
    * cannot reach (AQE only splits post-shuffle partitions of sort-merge
    * joins it planned; a skewed key feeding an iterative kernel's cached
    * join sidesteps it). Cost: right side shuffled saltBuckets times —
    * use only when `right` is small-ish but above the broadcast threshold,
    * the textbook window where neither broadcast nor plain SMJ works.
    */
  def saltedJoin(left: DataFrame, right: DataFrame, keyCol: String,
                 saltBuckets: Int): DataFrame = {
    require(saltBuckets > 0, "saltBuckets must be positive")
    val l = left.withColumn("__salt",
      pmod(xxhash64(monotonically_increasing_id()), lit(saltBuckets)))
    val r = right.withColumn("__salt",
      explode(sequence(lit(0L), lit(saltBuckets - 1L))))
    l.join(r, Seq(keyCol, "__salt")).drop("__salt")
  }
}
