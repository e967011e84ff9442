package graft

import graft.timeseries.Metrics

class SkewAurocSpec extends SparkSuite {

  test("approximate auroc is within the 1/bins histogram error of exact q17") {
    val bins = 1000
    val exact = Metrics.auroc(spark, Sf01).head()
    val approx = Metrics.aurocApprox(spark, Sf01, bins).head()
    val e = exact.getDouble(exact.fieldIndex("auroc"))
    val a = approx.getDouble(approx.fieldIndex("auroc_approx"))
    assert(math.abs(e - a) <= 1.0 / bins, s"exact $e vs approx $a (bound ${1.0 / bins})")
    assert(exact.getLong(exact.fieldIndex("npos")) === approx.getLong(approx.fieldIndex("npos")))
  }

  /** VERDICT r16 "next #7": q17's global-rank window is the one
    * remaining DELIBERATE global sort — its contract is that q40 IS
    * its corpus-scale twin (q17 = eval-scale exact, q40 = 100 TB
    * histogram approx, error ≤ 1/bins). This gate runs through the
    * REGISTERED driver surface, so the pair's cross-reference is
    * machine-checked on the keys themselves: renaming, re-defaulting
    * or decoupling either registration breaks the tie here, not only
    * in scaladoc.
    */
  test("q17/q40 registered pair: the approx twin tracks the exact global sort on sf0.01") {
    val exact = SparkEntry.queries("q17_auroc")(spark, Sf01).head()
    val approx = SparkEntry.queries("q40_auroc_approx")(spark, Sf01).head()
    val e = exact.getDouble(exact.fieldIndex("auroc"))
    val a = approx.getDouble(approx.fieldIndex("auroc_approx"))
    // the registered q40 default is 1000 bins — the pair's published bound
    assert(math.abs(e - a) <= 1.0 / 1000, s"registered pair drifted: exact $e vs approx $a")
    // both score the SAME population (npos/nneg identical) — the twin
    // is a re-expression, not a different metric
    assert(exact.getLong(exact.fieldIndex("npos")) === approx.getLong(approx.fieldIndex("npos")))
    assert(exact.getLong(exact.fieldIndex("nneg")) === approx.getLong(approx.fieldIndex("nneg")))
  }
}
