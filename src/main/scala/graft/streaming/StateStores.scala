package graft.streaming

import org.apache.spark.sql.SparkSession

/** State-store provider selection for the streaming surface.
  *
  * Every custom-state operator in this package (Sessionize,
  * StreamingFunnel, StreamingSftPairs, StreamingDedup) bounds its state
  * with an event-time TTL, but TTL alone caps state *per key age*, not
  * the live-keyspace footprint: a 10^12-turn feed with hundreds of
  * millions of concurrently-live conversations overflows the default
  * in-JVM HDFSBackedStateStore (all versions held on-heap). The
  * production binding for that scale is Spark's RocksDB provider —
  * state lives off-heap in a local RocksDB instance per partition and
  * spills to disk, with changelog checkpointing to the checkpoint
  * location. The provider is a per-query config read at stream start,
  * so it composes with every operator here unchanged; StreamingSpec
  * re-runs the cross-batch state + TTL tests under it.
  */
object StateStores {

  /** Spark's bundled off-heap provider (rocksdbjni ships with Spark). */
  val RocksDbProvider =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  private val Key = "spark.sql.streaming.stateStore.providerClass"

  /** Route all subsequently-started streaming queries' state to RocksDB.
    * Call once before `writeStream.start()`; running queries keep the
    * provider they started with.
    */
  def useRocksDb(spark: SparkSession): Unit = spark.conf.set(Key, RocksDbProvider)

  /** Run `body` with RocksDB state for queries started inside it, restoring
    * the prior provider setting afterwards.
    */
  def withRocksDb[A](spark: SparkSession)(body: => A): A = {
    val prior = spark.conf.getOption(Key)
    useRocksDb(spark)
    try body
    finally prior match {
      case Some(v) => spark.conf.set(Key, v)
      case None    => spark.conf.unset(Key)
    }
  }
}
