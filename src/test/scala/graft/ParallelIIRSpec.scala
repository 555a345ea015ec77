package graft

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite
import graft.dsp.{FilterDesign, IIR}
import graft.ops.ParallelIIR

class ParallelIIRSpec extends AnyFunSuite with GraftSpark {

  /** Sequential scipy filtfilt(padtype=None): forward with zi*x0,
    * reverse, again with zi*y0, reverse.
    */
  private def filtfiltNoPad(b: Array[Double], a: Array[Double], xs: Array[Double]): Array[Double] = {
    val zi = IIR.lfilterZi(b, a)
    val (fwd, _) = IIR.lfilterWithState(b, a, xs, zi.map(_ * xs(0)))
    val revIn = fwd.reverse
    IIR.lfilterWithState(b, a, revIn, zi.map(_ * revIn(0)))._1.reverse
  }

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
    // a and b: several chunks; c: one sample; d: chunk + 1 samples,
    // so its last chunk holds one sample
    val lengths = Seq("a" -> 500, "b" -> 500, "c" -> 1, "d" -> 65)
    def x(ch: String, i: Int): Double = ch match {
      case "a" => math.sin(i * 0.1)
      case "b" => math.cos(i * 0.2)
      case _ => math.sin(i * 0.7) + 0.5
    }
    val inputs = lengths.map { case (ch, n) => ch -> Array.tabulate(n)(x(ch, _)) }.toMap
    val df = lengths.flatMap { case (ch, n) => (0 until n).map(i => (ch, i.toDouble, x(ch, i))) }
      .toDF("channel", "t", "v")
    def byChannel(out: DataFrame): Map[String, Array[Double]] = out.collect()
      .groupBy(_.getString(0)).view.mapValues(_.sortBy(_.getDouble(1)).map(_.getDouble(2))).toMap
    val got = byChannel(ParallelIIR.lfilterDistributed(df, b, a, chunk = 64))
    val gotFf = byChannel(ParallelIIR.filtfiltDistributed(df, b, a, chunk = 64))
    for ((ch, n) <- lengths) {
      assert(got(ch).length == n && gotFf(ch).length == n, ch)
      got(ch).zip(IIR.lfilter(b, a, inputs(ch))).foreach { case (g, e) =>
        assert(math.abs(g - e) < 1e-10 * (1 + math.abs(e)))
      }
      gotFf(ch).zip(filtfiltNoPad(b, a, inputs(ch))).foreach { case (g, e) =>
        assert(math.abs(g - e) < 1e-9 * (1 + math.abs(e)), s"$ch: $g vs $e")
      }
    }
  }

  test("duplicate timestamps across a chunk boundary filter in (t, v) order") {
    import spark.implicits._
    val (b, a) = FilterDesign.butter(3, 0.2, "lowpass")
    val rng = new scala.util.Random(31)
    // t repeats three times, so rows 6, 7 and 8 share t = 2 across the
    // boundary of the 8-row chunks; rows arrive shuffled
    val rows = (0 until 40).map(i => ((i / 3).toDouble, rng.nextDouble() * 4 - 2))
    val df = rng.shuffle(rows).map { case (t, v) => ("dup", t, v) }.toDF("channel", "t", "v")
    val sorted = rows.sorted
    val expect = sorted.map(_._1).zip(IIR.lfilter(b, a, sorted.map(_._2).toArray)).sorted
    val got = ParallelIIR.lfilterDistributed(df, b, a, chunk = 8)
      .collect().map(r => (r.getDouble(1), r.getDouble(2))).sorted
    assert(got.length == expect.length)
    got.zip(expect).foreach { case ((tg, g), (te, e)) =>
      assert(tg == te && math.abs(g - e) < 1e-10 * (1 + math.abs(e)), s"t=$te: $g vs $e")
    }
  }

  test("one chunking per call: job counts, and nothing left persisted") {
    import spark.implicits._
    val (b, a) = FilterDesign.butter(2, 0.2, "lowpass")
    val df = (for (ch <- Seq("p", "q"); i <- 0 until 300) yield (ch, i.toDouble, math.sin(i * 0.3)))
      .toDF("channel", "t", "v")
    val persisted = spark.sparkContext.getPersistentRDDs.keySet
    // the chunking shuffle (1) and one job per pass: lfilter's summary
    // collect and result, filtfilt's two summary collects and result
    assert(jobsOf(ParallelIIR.lfilterDistributed(df, b, a, chunk = 64).collect()) == 3)
    assert(jobsOf(ParallelIIR.filtfiltDistributed(df, b, a, chunk = 64).collect()) == 4)
    assert(spark.sparkContext.getPersistentRDDs.keySet == persisted)
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
    val expect = filtfiltNoPad(b, a, xs)
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
