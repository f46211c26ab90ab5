package graft.measures

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Gini / h-index / power-law fit over a degree *histogram* (x, cnt).
  *
  * lodcc sorts the raw per-vertex vector (`core/gini.py:18`,
  * `degree_based.py:104`); sorting |V| values globally does not scale, so all
  * three measures here are reformulated over the value histogram. The
  * formulas are algebraically identical to the reference's vector versions.
  *
  * Each measure has one implementation: a plain function over the histogram
  * collected to the driver (`Seq[(x, cnt)]`, see [[Degrees.histograms]]).
  * Collecting is safe at any scale: a histogram has one row per distinct
  * degree value, and k distinct degrees sum to at least k(k-1)/2 <= 2m, so
  * there are at most ~2*sqrt(m) of them (thousands even for billion-edge
  * graphs), produced by one distributed groupBy over the vertices. A
  * distributed plan over the histogram would funnel the same rows through
  * one task (a global window) and pay a Spark job per step for no
  * parallelism. [[powerlawFit]]'s DataFrame overload is a query entry
  * point: it collects the histogram and returns a one-row table.
  */
object DistributionMeasures {

  /** Power-law candidate cap of [[powerlawFit]]; see there. */
  val MaxCandidates = 4096

  /** (x, cnt) rows of a histogram DataFrame, ascending by x. */
  private def collect(hist: DataFrame): Seq[(Double, Long)] =
    hist.select(col("x").cast("double"), col("cnt").cast("long")).collect()
      .map(r => (r.getDouble(0), r.getLong(1))).sortBy(_._1).toSeq

  /** Gini coefficient, parity with lodcc `core/gini.py:3-23`:
    * sort ascending, G = sum((2i-n-1)*x_i) / (n*sum(x)); shift by -min if
    * min<0; add 1e-7 to every element if min==0. For a run of `cnt` equal
    * values starting after `cumb` smaller ones, sum_{i}(2i-n-1) over the run
    * is cnt*(2*cumb + cnt - n); the constant shift s contributes
    * sum((2i-n-1)*s) = 0 to the numerator and n*s to sum(x).
    * `hist` is ascending by x; None (SQL NULL) when it is empty.
    */
  def gini(hist: Seq[(Double, Long)]): Option[Double] =
    if (hist.isEmpty) None
    else {
      val n = hist.map(_._2).sum
      val minx = hist.head._1
      val shift = if (minx < 0) -minx else 0.0
      val eps = if (minx + shift == 0) 0.0000001 else 0.0
      var cumb = 0L
      var num = 0.0
      var sum = 0.0
      hist.foreach { case (x, cnt) =>
        num += x * cnt * (2 * cumb + cnt - n)
        sum += x * cnt
        cumb += cnt
      }
      Some(num / (n * (sum + n * (shift + eps))))
    }

  /** h-index: largest h such that at least h values are >= h
    * (`degree_based.py:103-113`). Per distinct value x with N_ge values >= x,
    * the candidate is min(x, N_ge); h = max over candidates, 0 when empty.
    * `hist` is ascending by x.
    */
  def hIndex(hist: Seq[(Double, Long)]): Long = {
    var nGe = 0L
    hist.reverseIterator.map { case (x, cnt) =>
      nGe += cnt
      math.floor(math.min(x, nGe.toDouble)).toLong
    }.maxOption.getOrElse(0L)
  }

  /** Continuous CSN power-law fit, semantics of `powerlaw.Fit(data)` as used
    * at `degree_based.py:117-122`: drop values <= 0 (the library discards
    * them), candidate xmin = each distinct remaining value, continuous MLE
    * alpha = 1 + n_tail / sum(ln(x/xmin)), pick the xmin minimizing the KS
    * distance between empirical and fitted CDF on the tail. A candidate
    * needs a tail of at least two distinct values. Returns (alpha, xmin), or
    * None when no candidate qualifies. `hist` is ascending by x.
    *
    * Cost: |candidates| x |distinct| steps. With every distinct value as a
    * candidate that is |distinct|^2 — fine for the usual thousands of
    * distinct degrees, 10^12 steps if a 100-TB graph yields ~10^6 of them.
    * `maxCandidates` caps the sweep: when the histogram has more distinct
    * positive values, candidates thin to every k-th value in rank order
    * (deterministic, preserves the full range). Below the cap the sweep is
    * exhaustive; the default cap never triggers at oracle scales.
    *
    * ln and pow are StrictMath's, which Spark SQL's `log` and `pow` also
    * use, so the ks values match a Spark SQL formulation up to summation
    * order.
    */
  def powerlawFit(hist: Seq[(Double, Long)], maxCandidates: Int): Option[(Double, Double)] = {
    val pos = hist.filter(_._1 > 0).toIndexedSeq
    val step = math.ceil(pos.size.toDouble / maxCandidates).toLong
    val fits = pos.indices.filter(_ % step == 0).flatMap { i =>
      val xmin = pos(i)._1
      val tail = pos.drop(i)
      val nt = tail.map(_._2).sum
      val sumlog = tail.map { case (x, cnt) => cnt * StrictMath.log(x / xmin) }.sum
      if (sumlog <= 0 || tail.size < 2) None
      else {
        val alpha = 1.0 + nt / sumlog
        var cumLe = 0L
        val ks = tail.map { case (x, cnt) =>
          cumLe += cnt
          math.abs(cumLe.toDouble / nt - (1.0 - StrictMath.pow(x / xmin, 1.0 - alpha)))
        }.max
        Some((ks, alpha, xmin))
      }
    }
    // order by ROUNDED ks (Spark's round: HALF_UP on the decimal form) so
    // candidate selection is engine-portable when two candidates differ
    // only in the last ulps of ln/pow
    fits.minByOption { case (ks, _, xmin) =>
      (BigDecimal(ks).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble, xmin)
    }.map { case (_, alpha, xmin) => (alpha, xmin) }
  }

  /** [[powerlawFit]] of a histogram DataFrame: one (alpha, xmin) row, or
    * none when no candidate qualifies. */
  def powerlawFit(hist: DataFrame, maxCandidates: Int = MaxCandidates): DataFrame = {
    import hist.sparkSession.implicits._
    powerlawFit(collect(hist), maxCandidates).toSeq.toDF("alpha", "xmin")
  }
}
