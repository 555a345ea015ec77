package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.dsp.{FilterDesign, IIR}
import graft.ops.ParallelIIR

class ParallelIIRSpec extends AnyFunSuite with GraftSpark {

  test("step matrix propagates DF2T state exactly") {
    val (b, a) = FilterDesign.butter(3, 0.25, "lowpass")
    // filter a signal sequentially, snapshot the state midway
    val rng = new scala.util.Random(5)
    val x = Array.fill(64)(rng.nextDouble() * 2 - 1)
    val (_, midState) = IIR.lfilterWithState(b, a, x.take(40), null)
    // homogeneous propagation of that state for 24 zero-input steps
    val (_, seqFinal) = IIR.lfilterWithState(b, a, Array.fill(24)(0.0), midState)
    val aL = ParallelIIR.matPow(ParallelIIR.stepMatrix(a.map(_ / a(0))), 24L)
    val matFinal = Array.tabulate(midState.length) { i =>
      (0 until midState.length).map(k => aL(i)(k) * midState(k)).sum
    }
    seqFinal.zip(matFinal).foreach { case (s, m) =>
      assert(math.abs(s - m) < 1e-10 * (1 + math.abs(s)), s"$s vs $m")
    }
  }

  test("chunk-parallel lfilter matches sequential lfilter") {
    import spark.implicits._
    val (b, a) = FilterDesign.butter(4, 0.1, "lowpass")
    val rng = new scala.util.Random(17)
    val n = 3000
    val xs = Array.fill(n)(rng.nextDouble() * 10 - 5)
    val df = (0 until n).map(i => ("ch", i.toDouble, xs(i))).toDF("channel", "t", "v")
    val got = ParallelIIR.lfilterDistributed(df, b, a, chunk = 137)
      .collect().map(r => (r.getDouble(1), r.getDouble(2))).sortBy(_._1).map(_._2)
    val expect = IIR.lfilter(b, a, xs)
    assert(got.length == n)
    var maxErr = 0.0
    got.zip(expect).foreach { case (g, e) =>
      maxErr = math.max(maxErr, math.abs(g - e) / (1 + math.abs(e)))
    }
    assert(maxErr < 1e-10, s"maxRelErr=$maxErr")
  }

  test("multi-channel chunk-parallel filtering keeps channels independent") {
    import spark.implicits._
    val (b, a) = FilterDesign.butter(2, 0.3, "highpass")
    val rows = for (ch <- Seq("a", "b"); i <- 0 until 500)
      yield (ch, i.toDouble, if (ch == "a") math.sin(i * 0.1) else math.cos(i * 0.2))
    val df = rows.toDF("channel", "t", "v")
    val got = ParallelIIR.lfilterDistributed(df, b, a, chunk = 64).collect()
      .groupBy(_.getString(0)).view.mapValues(_.sortBy(_.getDouble(1)).map(_.getDouble(2))).toMap
    for (ch <- Seq("a", "b")) {
      val xs = (0 until 500).map(i => if (ch == "a") math.sin(i * 0.1) else math.cos(i * 0.2)).toArray
      val expect = IIR.lfilter(b, a, xs)
      got(ch).zip(expect).foreach { case (g, e) =>
        assert(math.abs(g - e) < 1e-10 * (1 + math.abs(e)))
      }
    }
  }

  test("chunk-parallel filtfilt matches the padless sequential reference") {
    import spark.implicits._
    val (b, a) = FilterDesign.butter(2, 0.2, "lowpass")
    val rng = new scala.util.Random(23)
    val n = 1000
    val xs = Array.fill(n)(rng.nextDouble() * 6 - 3)
    val df = (0 until n).map(i => ("z", i.toDouble, xs(i))).toDF("channel", "t", "v")
    val got = ParallelIIR.filtfiltDistributed(df, b, a, chunk = 173)
      .collect().map(r => (r.getDouble(1), r.getDouble(2))).sortBy(_._1).map(_._2)
    // sequential scipy filtfilt(padtype=None): fwd with zi*x0,
    // reverse, again with zi*y0, reverse
    val zi = IIR.lfilterZi(b, a)
    val (fwd, _) = IIR.lfilterWithState(b, a, xs, zi.map(_ * xs(0)))
    val revIn = fwd.reverse
    val (bwd, _) = IIR.lfilterWithState(b, a, revIn, zi.map(_ * revIn(0)))
    val expect = bwd.reverse
    got.zip(expect).foreach { case (g, e) =>
      assert(math.abs(g - e) < 1e-9 * (1 + math.abs(e)), s"$g vs $e")
    }
  }

  test("frequency-parallel SRS matches the per-channel SRS") {
    import spark.implicits._
    val fs = 1000.0
    val n = 2000
    val rows = (0 until n).map { i =>
      ("sig", i / fs, math.sin(2 * math.Pi * 35 * i / fs) * math.exp(-i / 500.0))
    }
    val df = rows.toDF("channel", "t", "v")
    val grid = graft.dsp.Srs.buildFreqArray(10.0, 400.0)
    val serial = graft.ops.Kernels.srs(df, grid)
      .collect().map(r => (r.getDouble(1), r.getDouble(2))).toMap
    val parallel = graft.ops.Kernels.srsParallel(df, grid, freqChunk = 7)
      .collect().map(r => (r.getDouble(1), r.getDouble(2))).toMap
    assert(parallel.keySet == serial.keySet)
    serial.foreach { case (f, p) =>
      assert(math.abs(parallel(f) - p) < 1e-12 * (1 + p), s"freq $f")
    }
  }

  test("float_dot is callable from SQL after extension registration") {
    GraftExtensions.register(spark)
    val r = spark.sql(
      "SELECT float_dot(array(cast(1.0 as float), cast(2.0 as float)), " +
        "array(cast(3.0 as float), cast(4.0 as float))) AS d").collect()(0).getDouble(0)
    assert(r == 11.0)
  }
}
