package graft

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._

import org.apache.spark.sql.SparkSession

/** The one place a SparkSession is built. Session policy comes in two
  * shapes, each a plain conf map so a spec can compare them without
  * starting a SparkContext:
  *
  *  - [[base]]: what every session shares — master, shuffle partitions,
  *    UTC, no UI. Pipeline, Cli, Verify, MakeSf and the test session build
  *    on it with their own master and partition count.
  *  - [[bench]]: the benchmark shape at `cores` — base at 4x cores
  *    partitions, AQE with skew-join splitting at the sizes these inputs
  *    produce, 16 MB file splits, shuffle spill on `/dev/shm`. Bench, its
  *    pinned legs (tools.LegRunner), tools.ScaleProbe and tools.Probe use
  *    it, so a per-query number from a tool is a number from the Bench
  *    session.
  */
object Sessions {

  /** Cores for a session sized to the host: `SPARK_GRAFT_CPUS`, else
    * `fallback`.
    */
  def cpus(fallback: Int = Runtime.getRuntime.availableProcessors): Int =
    sys.env.get("SPARK_GRAFT_CPUS").fold(fallback)(_.trim.toInt)

  def base(master: String, partitions: Int): Map[String, String] = Map(
    "spark.master" -> master,
    "spark.sql.shuffle.partitions" -> partitions.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false")

  val Adaptive: (String, String) = "spark.sql.adaptive.enabled" -> "true"

  def bench(cores: Int): Map[String, String] =
    base(s"local[$cores]", 4 * cores) ++ Map(
      Adaptive,
      "spark.sql.files.maxPartitionBytes" -> "16m",
      "spark.local.dir" -> "/dev/shm/graft-spark",
      // hub-vertex skew (hot conversations, ubiquitous entities): the bench
      // graph's hottest key group is far below the 256 MB default threshold
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "16m",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2.0",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "16m")

  def start(app: String, conf: Map[String, String], logLevel: String = "ERROR"): SparkSession = {
    val s = conf.foldLeft(SparkSession.builder().appName(app)) {
      case (b, (k, v)) => b.config(k, v)
    }.getOrCreate()
    s.sparkContext.setLogLevel(logLevel)
    s
  }

  /** A new [[bench]]-shape session; clears the active and default session
    * first, so a caller that stopped one gets a fresh one.
    */
  def startBench(app: String, cores: Int): SparkSession = {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    start(app, bench(cores))
  }

  /** Runs `body` under job group `name`. If it has not finished after
    * `timeoutSec`, cancels the group and returns None, so one pathological
    * query cannot hang a sweep. Other failures propagate.
    */
  def withDeadline[A](spark: SparkSession, name: String, timeoutSec: Long)(body: => A): Option[A] = {
    val sc = spark.sparkContext
    val work = Future {
      sc.setJobGroup(name, name, interruptOnCancel = true)
      try body finally sc.clearJobGroup()
    }
    try Some(Await.result(work, timeoutSec.seconds))
    catch {
      case _: java.util.concurrent.TimeoutException =>
        sc.cancelJobGroup(name)
        System.err.println(s"[graft] $name timed out after ${timeoutSec}s")
        None
    }
  }
}
