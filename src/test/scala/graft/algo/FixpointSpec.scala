package graft.algo

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

class FixpointSpec extends AnyFunSuite {
  import SparkTestSession.spark
  import spark.implicits._

  def path(n: Int): DataFrame = (0 until n).map(i => (s"a$i", s"a${i + 1}")).toDF("src", "dst")

  /** A triangulated n x n grid: k = 4 peels it from the border inward, one
    * ring per round, so its k-truss takes n + 1 rounds to reach the empty
    * fixpoint. */
  def grid(n: Int): DataFrame = (for {
    i <- 0 until n; j <- 0 until n
    (di, dj) <- Seq((1, 0), (0, 1), (1, 1)) if i + di < n && j + dj < n
  } yield (s"g$i.$j", s"g${i + di}.${j + dj}")).toDF("src", "dst")

  def failure(kernel: String)(body: => Any): Unit = {
    val e = intercept[IllegalStateException](body)
    assert(e.getMessage.startsWith(s"$kernel did not converge in 1 rounds"), e.getMessage)
  }

  test("kernels that must converge throw Fixpoint's exception at their bound; PageRank returns") {
    failure("CC")(ConnectedComponents.run(path(8), maxIter = 1))
    // a K4 with a pendant chain: k = 2 peels the chain one vertex per round
    val pendant = Seq(("a", "b"), ("a", "c"), ("a", "d"), ("b", "c"), ("b", "d"), ("c", "d"),
      ("d", "t1"), ("t1", "t2"), ("t2", "t3")).toDF("src", "dst")
    failure("KCore")(KCore.kCore(pendant, 2, maxIter = 1))
    failure("KTruss")(KTruss.run(grid(3), 4, maxRounds = 1))
    failure("TC")(TransitiveClosure.minDist(path(8), maxRounds = 1))
    // two 3-cycles bridged one way: the color needs 2 rounds, the mark 2
    // levels, the peel 2 passes
    val bridged = Seq(("a", "b"), ("b", "c"), ("c", "a"), ("c", "p"), ("p", "q"), ("q", "r"),
      ("r", "p")).toDF("src", "dst")
    failure("SCC color")(Scc.run(bridged, maxInner = 1))
    failure("SCC peel")(Scc.run(bridged, maxOuter = 1))
    // with room to converge, the same calls return
    assert(KCore.kCore(pendant, 2).count() == 4)
    assert(Scc.run(bridged).select("scc").distinct().count() == 2)
    // a PageRank at maxIter is the defined approximation: it returns
    val cycle = path(6).union(Seq(("a6", "a0")).toDF("src", "dst"))
    assert(PageRank.run(cycle, eps = 0.0, maxIter = 1).count() == 7)
  }

  test("converge frees each superseded round: CC and KTruss leave O(1) checkpoints") {
    val sc = spark.sparkContext
    def left(kernel: String, run: => Any): (Int, Int) = {
      val before = sc.getPersistentRDDs.size
      val sites = SparkTestSession.jobSitesDuring(run)
      val rounds = sites.filter(_.startsWith(s"$kernel round ")).distinct.size
      (rounds, sc.getPersistentRDDs.size - before)
    }
    Seq[(String, Int => Any)](
      "CC" -> (n => ConnectedComponents.run(path(n * n)).collect()),
      "KTruss" -> (n => KTruss.run(grid(n), 4).collect())).foreach { case (kernel, run) =>
      val (fewRounds, fewLeft) = left(kernel, run(2))
      val (manyRounds, manyLeft) = left(kernel, run(16))
      assert(manyRounds >= fewRounds + 3, s"$kernel: $fewRounds -> $manyRounds rounds")
      // the pinned vertex set (CC) and the final state; GC cleanup can only
      // lower these
      assert(fewLeft <= 2 && manyLeft <= 2, s"$kernel left $fewLeft and $manyLeft")
    }
    // GC also frees checkpoints nothing references, so hold every round's
    // state: only the last one may still be persisted
    val held = scala.collection.mutable.Buffer.empty[DataFrame]
    val before = sc.getPersistentRDDs.keySet
    val res = Fixpoint.converge("halve", spark.range(0, 64).toDF("x"), 20) { (st, _) =>
      held += st
      st.select((col("x") / 2).cast("long").as("x")).distinct()
    }
    assert(res.converged && res.rounds == 7, res)
    assert((sc.getPersistentRDDs.keySet -- before).size == 1)
  }
}
