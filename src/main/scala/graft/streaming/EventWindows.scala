package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Structured Streaming surface: tumbling-window aggregation over the events
  * stream with a watermark (SURVEY.md §2.10 — not in the reference, which is
  * strictly batch; added as the engine's streaming path).
  *
  * For driver-checked correctness the same parquet input is replayed as a
  * bounded stream into a memory sink (`processAllAvailable`), which must
  * produce exactly the batch GROUP BY — that equivalence is the oracle.
  */
object EventWindows {

  val eventsSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** Tumbling 5-minute window counts/sums by event_type, streamed from the
    * parquet file(s) at `path` and drained synchronously. Returns the final
    * table (win_start epoch-seconds, event_type, n, sum_value).
    */
  def tumblingCounts(spark: SparkSession, dir: String, glob: String = "events.parquet",
                     windowSec: Int = 300): DataFrame = {
    val name = "evwin_" + java.util.UUID.randomUUID().toString.replace("-", "")
    // state-store partitioning tracks the session's core budget, not the
    // batch shuffle-partition setting: the streaming agg creates one state
    // store (RocksDB/HDFS dir, maintenance thread, per-batch task) per
    // shuffle partition for the LIFETIME of the query, and AQE never
    // coalesces streaming stages — at 128 static partitions every
    // microbatch of this bounded replay scheduled 128 mostly-empty
    // stateful tasks. Scale-adaptive (defaultParallelism = the session's
    // cores), not a local-mode constant. The stream runs in a child session
    // (same SparkContext, SQL conf from the context's, temp views of its
    // own), so the caller's session keeps its setting; the memory sink's
    // table lives in the child.
    val child = spark.newSession()
    child.conf.set("spark.sql.shuffle.partitions", spark.sparkContext.defaultParallelism.toString)
    // the file stream source monitors a DIRECTORY; select the events file(s)
    // within it via pathGlobFilter
    val agg = child.readStream.schema(eventsSchema)
      .option("pathGlobFilter", glob).parquet(dir)
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), s"$windowSec seconds"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum("value").as("sum_value"))
      .select(
        unix_timestamp(col("window.start")).as("win_start"),
        col("event_type"), col("n"), round(col("sum_value"), 6).as("sum_value"))
    val q = agg.writeStream
      .outputMode("complete")
      .format("memory")
      .queryName(name)
      .start()
    try q.processAllAvailable() finally q.stop()
    child.table(name)
  }

  /** Production streaming shape — APPEND mode with watermark-driven state
    * eviction: a window's row is emitted exactly once, when the watermark
    * passes window_end + allowed lateness, and its state is then dropped,
    * so state size is bounded by (watermark horizon / window length) per
    * event_type regardless of stream length. [[tumblingCounts]] in complete
    * mode re-emits everything and never evicts — fine as an oracle harness,
    * unbounded as a service.
    *
    * The caller supplies the streaming DataFrame (file source, Kafka, or a
    * test MemoryStream) with (ts, event_type, value) columns and owns the
    * returned query's lifecycle; results accumulate in the `sinkName`
    * memory table. Events later than the watermark are DROPPED (checked by
    * StreamingSpec's late-data case).
    */
  def tumblingCountsAppend(events: DataFrame, sinkName: String,
                           windowSec: Int = 300,
                           lateness: String = "10 minutes")
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val agg = events
      .withWatermark("ts", lateness)
      .groupBy(window(col("ts"), s"$windowSec seconds"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum("value").as("sum_value"))
      .select(
        unix_timestamp(col("window.start")).as("win_start"),
        col("event_type"), col("n"), round(col("sum_value"), 6).as("sum_value"))
    agg.writeStream
      .outputMode("append")
      .format("memory")
      .queryName(sinkName)
      .start()
  }
}
