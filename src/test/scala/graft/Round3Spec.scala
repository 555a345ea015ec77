package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.signal.{Signal, Spectrum}

/** Tests for the round-3 changes: scipy bounds_error accessor parity,
  * two-level resample grids, outer-alignment rss, lazy/empty-safe ANN
  * entry points, struct-keyed frequency-parallel SRS.
  */
class Round3Spec extends AnyFunSuite with GraftSpark {

  test("Signal.interp1d accessor raises on out-of-range grid by default (scipy parity)") {
    import spark.implicits._
    val src = (0 to 10).map(i => ("a", i.toDouble, i * 2.0)).toDF("channel", "t", "v")
    val okGrid = Seq(("a", 2.5), ("a", 7.5)).toDF("channel", "t")
    val badGrid = Seq(("a", 2.5), ("a", 20.0)).toDF("channel", "t")
    // in-range grid works through the default (raise) path
    assert(Signal(src).interp1d(okGrid).df.count() == 2)
    // scipy default: bounds_error=True -> out-of-range raises
    intercept[Exception] { Signal(src).interp1d(badGrid).df.collect() }
    intercept[Exception] { Signal(src).interp1d(badGrid, "cubic").df.collect() }
    // engine-level opt-out: NULL fill
    val nulls = Signal(src).interp1d(badGrid, "linear", boundsError = false).df
      .orderBy("t").collect()
    assert(!nulls(0).isNullAt(2) && nulls(1).isNullAt(2))
    // Spectrum accessor takes the same default
    val psd = (1 to 10).map(k => ("c", k.toDouble, k * 1.0)).toDF("channel", "freq", "p")
    val badFreq = Seq(("c", 99.0)).toDF("channel", "freq")
    intercept[Exception] { Spectrum(psd).interp1d(badFreq).df.collect() }
    intercept[Exception] { Spectrum(psd).interp1dLog(badFreq).df.collect() }
  }

  test("two-level resampleGrid matches np.arange semantics bit for bit") {
    import spark.implicits._
    val src = Seq(("a", 0.25, 0.0), ("a", 10.0, 1.0), ("b", 1.0, 0.0), ("b", 1.5, 1.0))
      .toDF("channel", "t", "v")
    val step = 0.75
    val got = graft.ops.Interp.resampleGrid(src, step, blockSize = 4)
      .collect().map(r => (r.getString(0), r.getDouble(1))).sorted
    def arange(t0: Double, t1: Double): Seq[Double] = {
      val n = math.ceil((t1 - t0) / step).toLong
      (0L until n).map(k => t0 + k * step)
    }
    val expect = (arange(0.25, 10.0).map(("a", _)) ++ arange(1.0, 1.5).map(("b", _))).sorted
    assert(got.toSeq == expect)
  }

  test("resampleGrid generates a 10M-point grid without a single-task explode") {
    import spark.implicits._
    // one channel over [0, 10000) at step 1e-3 = 10,000,000 grid points;
    // the single-level form would build one 10M-element array in one task
    val src = Seq(("big", 0.0, 0.0), ("big", 10000.0, 1.0)).toDF("channel", "t", "v")
    val grid = graft.ops.Interp.resampleGrid(src, 0.001)
    val agg = grid.agg(count(lit(1)), min("t"), max("t")).collect()(0)
    assert(agg.getLong(0) == 10000000L)
    assert(agg.getDouble(1) == 0.0)
    assert(agg.getDouble(2) == 0.0 + 9999999L * 0.001) // same fp expression as the grid
  }

  test("rssOuter keeps unmatched timestamps with NULL v; rss drops them") {
    import spark.implicits._
    val s1 = Signal(Seq(("c", 1.0, 3.0), ("c", 2.0, 4.0)).toDF("channel", "t", "v"))
    val s2 = Signal(Seq(("c", 2.0, 3.0), ("c", 3.0, 1.0)).toDF("channel", "t", "v"))
    val inner = s1.rss(s2).df.collect()
    assert(inner.length == 1 && inner(0).getDouble(1) == 2.0 && inner(0).getDouble(2) == 5.0)
    val outer = s1.rssOuter(s2).df.orderBy("t").collect()
    assert(outer.length == 3)
    assert(outer(0).getDouble(1) == 1.0 && outer(0).isNullAt(2))
    assert(outer(1).getDouble(1) == 2.0 && outer(1).getDouble(2) == 5.0)
    assert(outer(2).getDouble(1) == 3.0 && outer(2).isNullAt(2))
  }

  test("annTopK with an empty corpus returns an empty result with the output schema") {
    import spark.implicits._
    val corpus = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    val queries = Seq((1L, Array(1f, 0f, 0f)), (2L, Array(0f, 1f, 0f)))
      .toDF("vec_id", "embedding")
    val out = graft.datapipe.Similarity.annTopK(corpus, queries)
    assert(out.columns.toSeq == Seq("query_id", "neighbor_id", "rank", "cos"))
    assert(out.count() == 0)
    // explicit dims: same result, no probe
    val out2 = graft.datapipe.Similarity.annTopK(corpus, queries, dims = 3)
    assert(out2.columns.toSeq == Seq("query_id", "neighbor_id", "rank", "cos"))
    assert(out2.count() == 0)
  }

  test("chunk-parallel spline matches the whole-channel solve to 1e-12") {
    import spark.implicits._
    val rng = new scala.util.Random(7)
    val n = 2000
    // non-uniform knots (jittered spacing) with a smooth + noisy value
    val xs = new Array[Double](n)
    var acc = 0.0
    for (i <- 0 until n) { xs(i) = acc; acc += 0.5 + rng.nextDouble() }
    val src = xs.toSeq.map(x => ("c", x, math.sin(x * 0.05) + 0.2 * rng.nextDouble()))
      .toDF("channel", "t", "v")
    val qts = (0 until 5000).map(_ => xs(0) + rng.nextDouble() * (xs(n - 1) - xs(0)))
    val query = (qts ++ Seq(xs(0), xs(n - 1), xs(777))).map(("c", _)).toDF("channel", "t")
    // cubic: chunkKnots > n (single chunk == the round-2 whole-channel
    // solve) vs a many-chunk run of the same plan
    val whole = graft.ops.Interp.interp1dSpline(src, query, "cubic", chunkKnots = 1 << 20)
      .collect().map(r => r.getDouble(1) -> r.getDouble(2)).toMap
    val chunked = graft.ops.Interp
      .interp1dSpline(src, query, "cubic", chunkKnots = 300, margin = 60)
      .collect().map(r => r.getDouble(1) -> r.getDouble(2)).toMap
    assert(chunked.keySet == whole.keySet)
    chunked.foreach { case (t, v) =>
      assert(math.abs(v - whole(t)) <= 1e-12 * math.max(1.0, math.abs(whole(t))),
        s"cubic diverges at t=$t: $v vs ${whole(t)}")
    }
    // quadratic: the windowed prefix-sum plan vs the sequential kernel
    val srcRows = src.orderBy("t").collect()
    val kxs = srcRows.map(_.getDouble(1))
    val kys = srcRows.map(_.getDouble(2))
    val kq = query.orderBy("t").collect().map(_.getDouble(1))
    val kernel = graft.dsp.CubicSpline.interpolateQuadratic(kxs, kys, kq)
    val kExpect = kq.zip(kernel).toMap
    val winq = graft.ops.Interp.interp1d(src, query, "quadratic")
      .collect().map(r => r.getDouble(1) -> r.getDouble(2)).toMap
    assert(winq.keySet == kExpect.keySet)
    winq.foreach { case (t, v) =>
      assert(math.abs(v - kExpect(t)) <= 1e-12 * math.max(1.0, math.abs(kExpect(t))),
        s"quadratic diverges at t=$t: $v vs ${kExpect(t)}")
    }
    // out-of-range (below AND above), NaN, and no-source contracts
    // survive chunking: all NULL-filled, never silently dropped
    val oor = Seq(("c", -5.0), ("c", 1e9), ("c", Double.NaN), ("nosrc", 1.0))
      .toDF("channel", "t")
    val nulls = graft.ops.Interp.interp1dSpline(src, oor, "cubic", chunkKnots = 300, margin = 60)
      .collect()
    assert(nulls.length == 4 && nulls.forall(_.isNullAt(2)))
    intercept[Exception] {
      graft.ops.Interp.interp1dSpline(src, oor, "cubic", boundsError = true).collect()
    }
    // a channel longer than chunkKnots (8192): the resample solves it
    // whole, interp1d at the same grid in chunks with 128-knot
    // margins; they agree within the margin bound
    val longN = 9000
    val longSrc = (0 until longN).map(k => ("long", k * 0.25,
      math.sin(k * 0.01) + 0.2 * rng.nextDouble())).toDF("channel", "t", "v")
    val wholeLong = graft.ops.Interp.resample(longSrc, 3.0, "cubic")
      .collect().map(r => r.getDouble(1) -> r.getDouble(2)).toMap
    val chunkedLong = graft.ops.Interp.interp1d(longSrc,
        graft.ops.Interp.resampleGrid(longSrc, 1.0 / 3.0), "cubic")
      .collect().map(r => r.getDouble(1) -> r.getDouble(2)).toMap
    assert(wholeLong.size == math.ceil((longN - 1) * 0.25 * 3.0).toInt)
    assert(chunkedLong.keySet == wholeLong.keySet)
    chunkedLong.foreach { case (t, v) =>
      assert(math.abs(v - wholeLong(t)) <= 1e-12 * math.max(1.0, math.abs(wholeLong(t))),
        s"resample diverges at t=$t: $v vs ${wholeLong(t)}")
    }
  }

  test("srsParallel struct keys: channel names with spaces and chunked grid match srs") {
    import spark.implicits._
    val rng = new scala.util.Random(11)
    val rows = for (ch <- Seq("ch one", "ch\ttwo"); i <- 0 until 256)
      yield (ch, i / 100.0, math.sin(i * 0.3) + rng.nextDouble() * 0.1)
    val df = rows.toDF("channel", "t", "v")
    val freqs = Array(1.0, 2.0, 5.0, 10.0, 20.0)
    val whole = graft.ops.Kernels.srs(df, freqs, 30.0)
      .collect().map(r => (r.getString(0), r.getDouble(1)) -> r.getDouble(2)).toMap
    val par = graft.ops.Kernels.srsParallel(df, freqs, 30.0, freqChunk = 2)
      .collect().map(r => (r.getString(0), r.getDouble(1)) -> r.getDouble(2)).toMap
    assert(par.keySet == whole.keySet)
    par.foreach { case (k, v) => assert(v == whole(k), s"mismatch at $k") }
  }
}
