package graft

import org.apache.spark.sql.SparkSession

/** One shared local SparkSession for the whole test run. */
object SparkTestSession {
  lazy val spark: SparkSession = Sessions.start("graft-test", Sessions.base("local[4]", 4))

  /** A child session (same SparkContext, own SQL conf) without AQE or
    * broadcast joins, where one Spark action is one job: AQE runs every
    * shuffle stage as a job of its own, and a broadcast runs one when its
    * plan is prepared. Job-count contracts are stated in this session.
    */
  lazy val oneJobPerAction: SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "false")
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s
  }

  /** Spark jobs started while `body` runs. */
  def jobsDuring(body: => Unit): Int = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(l)
    try { body; org.apache.spark.sql.graft.Bridge.drainListenerBus(spark.sparkContext) }
    finally spark.sparkContext.removeSparkListener(l)
    jobs.get()
  }
}
