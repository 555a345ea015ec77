package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.signal.{Channels, Signal}
import graft.ops.{Interp, Kernels, Psd}
import graft.datapipe.{Dedup, Similarity}

/** Spark-level operator tests against closed-form truths on synthetic
  * channels (FIXTURES.md family B) plus smoke checks on the driver
  * fixtures.
  */
class SparkOpsSpec extends AnyFunSuite with GraftSpark {

  private def sine(name: String, a: Double, f0: Double, fs: Double, n: Int): DataFrame = {
    import spark.implicits._
    (0 until n).map(i => (name, i / fs, a * math.sin(2 * math.Pi * f0 * i / fs)))
      .toDF("channel", "t", "v")
  }

  private def ramp(name: String, slope: Double, n: Int): DataFrame = {
    import spark.implicits._
    (0 until n).map(i => (name, i.toDouble, slope * i)).toDF("channel", "t", "v")
  }

  test("entry flagship returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("rms of a sine is A/sqrt(2)") {
    val a = 3.0
    val got = Signal(sine("s", a, 50.0, 4800.0, 4800)).rms().collect()(0).getDouble(1)
    assert(math.abs(got - a / math.sqrt(2)) < 1e-9)
  }

  test("spl of 1 Pa sine vs 20 uPa is ~90.97 dB") {
    val got = Signal(sine("s", 1.0, 50.0, 4800.0, 4800)).spl().collect()(0).getDouble(1)
    assert(math.abs(got - 20 * math.log10((1 / math.sqrt(2)) / 20e-6)) < 1e-9)
  }

  test("integral of a constant is a ramp; derivative of a ramp is constant") {
    import spark.implicits._
    val const = (0 until 100).map(i => ("c", i.toDouble, 2.5)).toDF("channel", "t", "v")
    val integ = Signal(const).integral().df.orderBy("t").collect()
    integ.foreach(r => assert(math.abs(r.getDouble(2) - 2.5 * r.getDouble(1)) < 1e-9))
    val deriv = Signal(ramp("r", 0.75, 100)).derivative().df.collect()
    assert(deriv.length == 99)
    deriv.foreach(r => assert(math.abs(r.getDouble(2) - 0.75) < 1e-12))
  }

  test("detrend linear annihilates a ramp; detrend constant removes the mean") {
    val det = Signal(ramp("r", 2.0, 200)).detrendLinear().df.collect()
    det.foreach(r => assert(math.abs(r.getDouble(2)) < 1e-8))
    val dc = Signal(ramp("r", 1.0, 101)).detrendConstant().df.orderBy("t").collect()
    assert(math.abs(dc(50).getDouble(2)) < 1e-9) // middle of the ramp = mean
  }

  test("movRmsN of a constant signal is |c| with the reference trim") {
    import spark.implicits._
    val const = (0 until 50).map(i => ("c", i.toDouble, -4.0)).toDF("channel", "t", "v")
    val got = Signal(const).movRmsN(8).df.collect()
    assert(got.length == 50 - 8) // drops first n-1 and the last row
    got.foreach(r => assert(math.abs(r.getDouble(2) - 4.0) < 1e-12))
  }

  test("resample(linear) on a linear signal is exact; samplerate snaps") {
    import spark.implicits._
    val lin = (0 until 100).map(i => ("l", i * 0.7, 3.0 * (i * 0.7) + 1.0))
      .toDF("channel", "t", "v")
    val rs = Interp.resample(lin, 2.0, "linear").collect()
    rs.foreach(r => assert(math.abs(r.getDouble(2) - (3.0 * r.getDouble(1) + 1.0)) < 1e-9))
    val sr = Signal(Interp.resample(lin, 2.0, "linear")).samplerate().collect()(0)
    assert(sr.getDouble(4) == 2.0)
  }

  test("rss joins two channels on the time axis") {
    import spark.implicits._
    val a = Signal((0 until 10).map(i => ("x", i.toDouble, 3.0)).toDF("channel", "t", "v"))
    val b = Signal((0 until 10).map(i => ("x", i.toDouble, 4.0)).toDF("channel", "t", "v"))
    val got = a.rss(b).df.collect()
    assert(got.length == 10)
    got.foreach(r => assert(math.abs(r.getDouble(2) - 5.0) < 1e-12))
  }

  test("distributed periodogram: Parseval + peak bin on a pure sine") {
    val fs = 4800.0
    val f0 = 100.0
    val psd = Psd.periodogram(sine("s", 1.0, f0, fs, 4800)).collect()
    val df = fs / 4800
    val ms = psd.map(_.getDouble(2)).sum * df
    assert(math.abs(ms - 0.5) < 1e-6)
    val peak = psd.maxBy(_.getDouble(2))
    assert(math.abs(peak.getDouble(1) - f0) < df)
  }

  test("distributed Welch matches single-node Welch (mean, hann)") {
    val fs = 1024.0
    val n = 4096
    val sig = sine("w", 1.0, 64.0, fs, n)
    val dist = Psd.welch(sig, windowLength = 1.0, overlap = 0.5)
      .collect().map(r => (r.getDouble(1), r.getDouble(2))).sortBy(_._1)
    // single-node reference with the same kernels
    val x = Array.tabulate(n)(i => math.sin(2 * math.Pi * 64.0 * i / fs))
    val nw = 1024
    val starts = graft.dsp.Spectral.welchStarts(n, nw, 512)
    val subs = starts.map(s => graft.dsp.Spectral.periodogram(
      x.slice(s, s + nw), fs, "hann", "constant")._2)
    val mean = Array.tabulate(nw / 2 + 1)(k => subs.map(_(k)).sum / subs.length)
    val freqs = graft.dsp.FFT.rfftfreq(nw, fs)
    assert(dist.length == freqs.length)
    dist.zip(freqs.zip(mean)).foreach { case ((fg, pg), (fe, pe)) =>
      assert(math.abs(fg - fe) < 1e-9)
      assert(math.abs(pg - pe) < 1e-9, s"freq $fe: $pg vs $pe")
    }
  }

  test("butterworth lowpass keeps the low tone, kills the high tone") {
    import spark.implicits._
    val fs = 4800.0
    val n = 4800
    val two = (0 until n).map { i =>
      val t = i / fs
      ("tt", t, math.sin(2 * math.Pi * 50 * t) + math.sin(2 * math.Pi * 1000 * t))
    }.toDF("channel", "t", "v")
    val filtered = Kernels.filtButter(two, Seq(200.0), order = 4, btype = "lowpass")
    val rms = Signal(filtered).rms().collect()(0).getDouble(1)
    // only the 50 Hz tone survives: rms ~ 1/sqrt(2)
    assert(math.abs(rms - 1 / math.sqrt(2)) < 0.02, s"rms=$rms")
  }

  test("rainflow kernel emits per-channel ASTM counts") {
    import spark.implicits._
    val series = Array(-2.0, 1.0, -3.0, 5.0, -1.0, 3.0, -4.0, 4.0, -2.0)
    val df = series.zipWithIndex.map { case (v, i) => ("rf", i.toDouble, v) }
      .toSeq.toDF("channel", "t", "v")
    val got = Kernels.rainflow(df).collect()
      .map(r => (r.getDouble(1), r.getDouble(2))).toMap
    assert(got == Map(3.0 -> 0.5, 4.0 -> 1.5, 6.0 -> 0.5, 8.0 -> 1.0, 9.0 -> 0.5))
  }

  test("exact dedup keeps the first doc of each duplicate group") {
    import spark.implicits._
    val docs = Seq((1L, "Hello World"), (2L, "hello, world!"), (3L, "unrelated text"))
      .toDF("doc_id", "text")
    val got = Dedup.exact(docs).collect().map(r => (r.getLong(0), r.getBoolean(3))).toMap
    assert(got == Map(1L -> true, 2L -> false, 3L -> true))
  }

  test("minhash jaccard estimates align with exact jaccard on near-dups") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog and runs far away into the woods"
    val docs = Seq((1L, base), (2L, base + " tonight"), (3L, "completely different content here"))
      .toDF("doc_id", "text")
    val pairs = Dedup.minhashNearDups(docs, k = 16, rowsPerBand = 4, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("brute-force topk ranks an identical vector first") {
    import spark.implicits._
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(1.0f, 0.001f, 0.0f)),
      (2L, Array(0.0f, 1.0f, 0.0f)),
      (3L, Array(0.0f, 0.0f, 1.0f))).toDF("vec_id", "embedding")
    val got = Similarity.bruteForceTopK(vecs, vecs.filter(col("vec_id") === 0), k = 2)
      .orderBy("rank").collect()
    assert(got(0).getLong(1) == 1L) // nearly identical vector ranks first
    assert(got(0).getInt(2) == 1)
  }

  test("accessor chain parity: resample -> filt -> psd -> rmsLin") {
    // the reference's typical flow (examples/test_endaq.py): load ->
    // filter -> analyze, all through the Signal surface
    val fs = 2048.0
    val sig = Signal(sine("chain", 2.0, 32.0, fs, 4096), name = "accel", unit = "g")
    val filtered = sig.filtButter(Seq(256.0), order = 4, btype = "lowpass")
    assert(filtered.name == "filt(accel)")
    assert(filtered.unit == "g")
    val psd = filtered.getPsd()
    assert(psd.unit == "g^2/Hz")
    val rms = psd.rmsLin().collect()(0).getDouble(1)
    // 32 Hz tone passes the 256 Hz lowpass untouched: rms = 2/sqrt(2)
    assert(math.abs(rms - 2.0 / math.sqrt(2)) < 1e-3, s"rms=$rms")
    val srs = sig.getSrs(Array(100.0))
    assert(srs.name.startsWith("srs(accel,Q="))
    assert(srs.df.count() == 1)
  }

  test("absolute-time ingestion matches relative between() and pushes the filter") {
    val dir = "/root/testdata/sf0.001"
    val full = Channels.events(spark, dir)
    // absolute window = [origin+1e5s, origin+2e6s] of the globally
    // earliest channel; compare against per-channel relative filtering
    val bounds = Channels.rawEvents(spark, dir)
      .agg(min("us")).collect()(0).getLong(0)
    val abs = Channels.eventsAbsolute(spark, dir, bounds, bounds + 2000000000000L)
    val expect = full.filter(col("t") <= (bounds + 2000000000000L - bounds) / 1e6)
    // every absolute row must appear in the relative view with same values
    assert(abs.count() > 0)
    assert(abs.except(full).count() == 0)
    // the raw-ts range predicate reaches the parquet scan
    val plan = abs.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(ts), GreaterThanOrEqual(ts,") ||
      plan.contains("GreaterThanOrEqual(ts,"), s"predicate not pushed:\n$plan")
  }

  test("partitioned write produces channel directories and reads back pruned") {
    val tmp = java.nio.file.Files.createTempDirectory("graftpart").toString
    val ev = Channels.events(spark, "/root/testdata/sf0.001")
    Channels.writePartitioned(ev, tmp)
    val dirs = new java.io.File(tmp).listFiles().filter(_.isDirectory).map(_.getName)
    assert(dirs.count(_.startsWith("channel=")) == 5)
    val back = spark.read.parquet(tmp).filter(col("channel") === "click")
    assert(back.count() == ev.filter(col("channel") === "click").count())
  }

  test("channel catalog: list, lookup, and missing-channel error") {
    val ev = Channels.events(spark, "/root/testdata/sf0.001")
    val names = Channels.channelList(ev)
    assert(names == Seq("click", "error", "purchase", "signup", "view"))
    val one = Channels.getChannel(ev, "click")
    assert(one.name == "click")
    assert(one.df.count() > 0)
    intercept[NoSuchElementException](Channels.getChannel(ev, "does-not-exist"))
  }

  test("events loader: channels present, t starts at 0 per channel") {
    val ev = Channels.events(spark, "/root/testdata/sf0.001")
    val mins = ev.groupBy("channel").agg(min("t")).collect()
    assert(mins.length == 5)
    mins.foreach(r => assert(r.getDouble(1) == 0.0))
  }
}
