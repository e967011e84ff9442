package graft

import scala.util.Random
import org.apache.spark.sql.functions.{array, col, expr, lit}
import graft.timeseries.Coreset
import graft.util.Num

/** Property-style checks (seeded random instances) for the driver-side
  * numeric kernels.
  */
class PropertySpec extends SparkSuite {

  test("greedy coreset: distinct indices, correct size, valid range (100 random instances)") {
    val rnd = new Random(42)
    for (_ <- 1 to 100) {
      val n = 2 + rnd.nextInt(39)
      val pts = Array.fill(n)(Array.fill(3)(rnd.nextDouble() * 20 - 10))
      val k = math.max(1, n / 3)
      val sel = Coreset.greedy(pts, k)
      assert(sel.length === math.min(k, n))
      assert(sel.distinct.length === sel.length, "no duplicate selections")
      assert(sel.forall(i => i >= 0 && i < n))
    }
  }

  test("greedy coreset: cover radius shrinks as k grows") {
    val pts = Array.tabulate(30)(i => Array(i.toDouble, (i * 7 % 13).toDouble))
    def coverRadius(sel: Array[Int]): Double =
      pts.map(p => sel.map { s =>
        val dx = p(0) - pts(s)(0); val dy = p(1) - pts(s)(1)
        dx * dx + dy * dy
      }.min).max
    val r3 = coverRadius(Coreset.greedy(pts, 3))
    val r10 = coverRadius(Coreset.greedy(pts, 10))
    assert(r10 <= r3, s"radius must not grow with more centers: $r10 > $r3")
  }

  test("greedy coreset handles degenerate inputs") {
    assert(Coreset.greedy(Array.empty[Array[Double]], 5).isEmpty)
    assert(Coreset.greedy(Array(Array(1.0, 2.0)), 0).isEmpty)
    val dup = Array.fill(5)(Array(1.0, 1.0))
    val sel = Coreset.greedy(dup, 3)
    assert(sel.length === 3 && sel.distinct.length === 3)
  }

  test("scaled-int accumulation is permutation-invariant where float sums are not (200 instances)") {
    // the determinism contract behind Num.sumQ4 / every aeInt-seInt
    // rollup: quantize-to-int THEN sum is exactly order-free, while the
    // raw double sum is not — this is WHY the engine quantizes before
    // accumulating, and the property that makes Verify runs and the
    // DuckDB oracle bit-identical regardless of partition order
    val rnd = new Random(7)
    var floatOrderSensitive = 0
    for (_ <- 1 to 200) {
      val xs = Array.fill(200 + rnd.nextInt(800))(
        math.floor(rnd.nextDouble() * 2e7 + 0.5) / 1e4) // r4-quantized inputs
      val perm = rnd.shuffle(xs.toList).toArray
      def q4(a: Array[Double]): Long =
        a.map(v => math.floor(v * 1e4 + 0.5).toLong).sum
      assert(q4(xs) === q4(perm), "int accumulation must be order-free")
      if (xs.sum != perm.sum) floatOrderSensitive += 1
    }
    // the float sum genuinely flips bits under permutation on this data —
    // the property is not vacuous
    assert(floatOrderSensitive > 0, "expected raw double sums to be order-sensitive")
  }

  test("Num's Double, Column and SQL forms return the same bits (408 values)") {
    // random doubles across magnitudes, negatives, and decimals sitting
    // exactly on a .00005 or .0000005 boundary, where a round() would
    // disagree. The DuckDB text runs through Spark's parser over a double
    // column, as it runs through DuckDB's over the oracle's; the
    // Spark-SQL text runs as `expr`/`spark.sql` callers run it
    val rnd = new Random(14)
    val xs = Seq.fill(100)((rnd.nextDouble() - 0.5) * math.pow(10, rnd.nextInt(9))) ++
      Seq.fill(100)(-rnd.nextDouble() * 1000) ++
      Seq.fill(100)((rnd.nextInt(2000001) - 1000000) * 10 + 5).map(_ / 1e5) ++
      Seq.fill(100)((rnd.nextInt(2000001) - 1000000) * 10 + 5).map(_ / 1e7) ++
      Seq(0.0, -0.0, 0.00005, -0.00005, 2.49995, 0.0000005, -0.0000005, 2.4999995)
    import spark.implicits._
    val byCol = xs.toDF("x").select(col("x"),
      Num.r4(col("x")), expr(Num.r4sql("x")), expr(Num.r4expr("x")),
      Num.q4(col("x")), expr(Num.q4sql("x")),
      Num.r6(col("x")), expr(Num.r6sql("x")), expr(Num.r6expr("x")),
      Num.q6(col("x")), expr(Num.q6sql("x")), expr(Num.q6expr("x"))).collect()
    val byLit = spark.range(1).select(array(xs.map(x => Num.r4(lit(x))): _*),
      array(xs.map(x => Num.q4(lit(x))): _*)).head()
    val litR4 = byLit.getSeq[Double](0)
    val litQ4 = byLit.getSeq[Long](1)
    def bits(d: Double) = java.lang.Double.doubleToRawLongBits(d)
    assert(byCol.length === xs.size)
    byCol.zipWithIndex.foreach { case (r, i) =>
      val x = r.getDouble(0)
      assert(bits(x) === bits(xs(i)))
      val r4 = Num.r4(x)
      assert(Seq(r.getDouble(1), r.getDouble(2), r.getDouble(3), litR4(i)).map(bits) ===
        Seq.fill(4)(bits(r4)), s"r4($x)")
      assert(Seq(r.getLong(4), r.getLong(5), litQ4(i)) === Seq.fill(3)(Num.q4(x)), s"q4($x)")
      val step6 = math.floor(x * 1e6 + 0.5)
      assert(Seq(r.getDouble(6), r.getDouble(7), r.getDouble(8)).map(bits) ===
        Seq.fill(3)(bits(step6 / 1e6)), s"r6($x)")
      assert(Seq(r.getLong(9), r.getLong(10), r.getLong(11)) === Seq.fill(3)(step6.toLong), s"q6($x)")
    }
    // qa17's Spark-SQL sum against the Column sum and the driver's
    val sums = xs.toDF("x").agg(Num.r4(Num.sumQ4(col("x"))),
      expr(Num.r4expr(Num.sumQ4expr("x")))).head()
    val sumRef = Num.r4(xs.map(x => Num.q4(x)).sum / 10000d)
    assert(Seq(sums.getDouble(0), sums.getDouble(1)).map(bits) === Seq.fill(2)(bits(sumRef)))
  }

  test("LCG draws are deterministic, in [0,1), and salt-separated") {
    // binds to the PRODUCTION formula (TsCore.lcgScalar shares the
    // constants with the Column form) — a constant change fails here
    import graft.timeseries.TsCore.lcgScalar
    val rnd = new Random(11)
    for (_ <- 1 to 500) {
      val k = rnd.nextInt(1 << 20).toLong
      val u = lcgScalar(k, 1)
      assert(u >= 0.0 && u < 1.0)
      assert(lcgScalar(k, 1) === u, "same key+salt must reproduce")
      assert(lcgScalar(k, 2) !== u, s"salts must separate draws for key $k")
    }
  }

  test("simhash pigeonhole: hamming <= nChunks-1 always shares a chunk (500 instances)") {
    import graft.text.Dedup.{SimhashBits, SimhashChunkBits, SimhashChunks}
    val rnd = new Random(7)
    val mask = (1L << SimhashChunkBits) - 1
    def chunks(v: Long): Seq[Long] =
      (0 until SimhashChunks).map(c => (v >>> (SimhashChunkBits * c)) & mask)
    for (_ <- 1 to 500) {
      val a = rnd.nextLong() & ((1L << SimhashBits) - 1)
      // flip up to nChunks-1 random bits — the blocking GUARANTEE zone
      val nFlips = 1 + rnd.nextInt(SimhashChunks - 1)
      val b = (1 to nFlips).foldLeft(a)((v, _) => v ^ (1L << rnd.nextInt(SimhashBits)))
      val shared = chunks(a).zip(chunks(b)).exists { case (x, y) => x == y }
      assert(shared,
        s"fingerprints ${a.toBinaryString}/${b.toBinaryString} with <= ${SimhashChunks - 1} " +
          "flipped bits must collide in >= 1 pigeonhole chunk")
    }
  }

  test("q60 recursive offsets: exactly the lags the unrolled decode loop reads") {
    import graft.timeseries.{Forecast, TsCore}
    for (h <- 1 to TsCore.DaySize) {
      val offs = Forecast.recursiveOffsets(h).toSet
      // the recursion's own feed plus each step's daily/weekly actuals
      val expect = (Set(h)
        ++ (1 to h).map(j => h - j + TsCore.DaySize)
        ++ (1 to h).map(j => h - j + TsCore.WeekLag))
      assert(offs === expect, s"h=$h")
      // every consumed lag references the PAST relative to the target
      assert(offs.forall(_ >= 1), s"h=$h: a non-positive lag would leak the future")
      // ... and only actuals at or before the forecast origin: the
      // daily/weekly terms must not read values newer than t-h except
      // through the recursion itself (offset >= DaySize > h for h <= 24)
      assert((offs - h).forall(_ >= TsCore.DaySize), s"h=$h")
    }
  }
}
