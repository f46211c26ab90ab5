package graft

import org.scalatest.funsuite.AnyFunSuite

class SessionsSpec extends AnyFunSuite {

  test("base shape: master, shuffle partitions, UTC, no UI") {
    assert(Sessions.base("local[8]", 32) == Map(
      "spark.master" -> "local[8]",
      "spark.sql.shuffle.partitions" -> "32",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false"))
  }

  test("bench shape: base at 4x cores partitions, AQE with skew join, 16m splits, spill dir") {
    assert(Sessions.bench(32) == Map(
      "spark.master" -> "local[32]",
      "spark.sql.shuffle.partitions" -> "128",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false",
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.files.maxPartitionBytes" -> "16m",
      "spark.local.dir" -> "/dev/shm/graft-spark",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "16m",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2.0",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "16m"))
    assert(Sessions.bench(2)("spark.sql.shuffle.partitions") == "8")
  }

  test("the test session is started from the base shape") {
    val conf = SparkTestSession.spark.sparkContext.getConf
    Sessions.base("local[4]", 4).foreach { case (k, v) => assert(conf.get(k) == v, k) }
    assert(conf.get("spark.app.name") == "graft-test")
  }

  test("withDeadline: returns the result in time, cancels the job group after it") {
    val spark = SparkTestSession.spark
    assert(Sessions.withDeadline(spark, "quick", 30)(spark.range(10).count()) == Some(10L))
    val t0 = System.nanoTime()
    val slow = Sessions.withDeadline(spark, "slow", 1) {
      spark.range(0, 1, 1, 1).rdd.foreach(_ => Thread.sleep(60000))
    }
    assert(slow.isEmpty)
    // the cancelled job stops long before its task would have finished
    while (spark.sparkContext.statusTracker.getJobIdsForGroup("slow")
        .exists(id => spark.sparkContext.statusTracker.getJobInfo(id)
          .exists(_.status == org.apache.spark.JobExecutionStatus.RUNNING)) &&
      System.nanoTime() - t0 < 30e9) Thread.sleep(100)
    assert(System.nanoTime() - t0 < 30e9, "the timed-out job was not cancelled")
  }
}
