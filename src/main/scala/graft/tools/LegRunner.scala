package graft.tools

/** One scaling-evidence leg, run in ITS OWN JVM (spawned by [[graft.Bench]]
  * via taskset-pinned `java`) — the local-mode analog of "a cluster with
  * `cores` total cores":
  *
  *  - the process is CPU-pinned to exactly `cores` hw threads, so GC
  *    threads, netty/shuffle pools, and JIT compiler threads all compete
  *    within the leg's core budget (a real N-executor cluster's per-JVM
  *    pools scale with N; a shared 32-hw-thread JVM leaks host-wide
  *    capacity into the small leg — measured on the 71M-edge CC leg the
  *    pin collapses per-run GC wall to 2–4 s at BOTH legs, at the price
  *    of also charging the driver's serial work to the leg budget, which
  *    a real cluster hosts on a separate machine; pinned efficiencies
  *    are therefore lower bounds — see BASELINE.md round-5 protocol);
  *  - heap = 4 GB/core (capped 64 GB), matching per-executor memory that
  *    scales with executor count on a real cluster;
  *  - a fresh JVM per leg: no cross-leg heap aging or GC state.
  *
  * Prints one JSON line per timed run: {"secs":…,"gc_secs":…,"rows":…}.
  *
  * Usage: LegRunner <ext|cc> <cores> <warm> <runs> <inputPath>
  */
object LegRunner {
  def main(args: Array[String]): Unit = {
    val job = args(0)
    val cores = args(1).toInt
    val warm = args(2).toInt
    val runs = args(3).toInt
    val inputPath = args(4)

    val spark = graft.Sessions.start(s"graft-leg-$job-$cores", graft.Sessions.bench(cores))

    def once(): Long = job match {
      case "ext" =>
        val turns = spark.read.parquet(inputPath)
        val (_, edges) = graft.Pipeline.build(turns, partitions = 4 * cores)
        edges.count()
      case "cc" =>
        val edges = spark.read.parquet(inputPath)
        graft.algo.ConnectedComponents.run(edges).count()
      case "mat" =>
        // graph materialization: the one wide all-data shuffle between
        // extraction and the edge tables — dedup + fuse parallel triple
        // assertions (kg_triple_fusion / S5 hashed-edgelist semantics):
        // groupBy the triple key with map-side partial counts
        import org.apache.spark.sql.functions.{count, lit}
        val triples = spark.read.parquet(inputPath)
        triples.groupBy("src", "label", "dst")
          .agg(count(lit(1)).as("n_assertions")).count()
      case other => sys.error(s"unknown leg job: $other")
    }

    import java.lang.management.ManagementFactory
    import scala.jdk.CollectionConverters._
    def gcMillis(): Long =
      ManagementFactory.getGarbageCollectorMXBeans.asScala
        .map(_.getCollectionTime).sum

    (1 to warm).foreach(_ => once())
    (1 to runs).foreach { _ =>
      val g0 = gcMillis()
      val t0 = System.nanoTime()
      val n = once()
      val wall = (System.nanoTime() - t0) / 1e9
      println(f"""{"secs":$wall%.3f,"gc_secs":${(gcMillis() - g0) / 1e3}%.2f,"rows":$n}""")
    }
    spark.stop()
  }
}
