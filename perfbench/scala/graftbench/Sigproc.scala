package graftbench

import java.io.File

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.dsp._
import graft.ops.{Interp, Kernels, ParallelIIR, Psd}
import graft.signal.{Ide, Signal}

/** `sigproc_channels`: read a seeded multi-channel `.ide` recording and
  * run one per-channel analysis per operation, cycling through seven.
  * Each operation's result is reduced to per-channel (rows, sum, sum
  * of |x|, max |x|) and compared with the same graft.dsp kernel run
  * single-threaded on the generated arrays.
  */
final class Sigproc(spark: SparkSession, seed: Long) extends Workload {
  import Sigproc._

  private var rec: Gen.Recording = _
  private var path: String = _
  private var ref: Map[String, Map[String, Agg]] = Map.empty
  private val kernelS = scala.collection.mutable.Map.empty[String, Seq[Double]]

  val cycle: IndexedSeq[String] = Analyses

  /** Two warm-up cycles: after one, the first timed cycle still ran
    * about 25% slower than the next (JIT), which moved the median.
    */
  override def warm(r: Recorder): Unit = (1 to 2).foreach(_ => super.warm(r))


  def prepare(dir: File): Map[String, Any] = {
    dir.mkdirs()
    rec = Gen.recording(seed, Channels, BaseLen, LongFactor)
    val f = new File(dir, "recording.ide")
    Gen.writeIde(rec, f)
    path = f.getAbsolutePath
    // the reference doubles as the dsp.*_kernel_s baseline: timed
    // KernelReps times, the metric takes the median
    ref = Analyses.map { a =>
      val runs = (0 until KernelReps).map { _ =>
        val t0 = System.nanoTime()
        val r = rec.names.indices.map(i => rec.names(i) -> reference(a, rec.t(i), rec.v(i)))
        (r, (System.nanoTime() - t0) / 1e9)
      }
      kernelS(a) = runs.map(_._2)
      a -> runs.head._1.map { case (ch, xs) => ch -> Agg.of(xs) }.toMap
    }.toMap
    Map("channels" -> rec.names.size, "samples" -> rec.samples,
      "longest_channel" -> rec.v.map(_.length).max, "shortest_channel" -> rec.v.map(_.length).min,
      "bytes" -> f.length())
  }

  private def read(): DataFrame =
    Ide.read(spark, path, partitionBytes = PartitionBytes)
      .select(format_string("ch%02d", col("ch")).as("channel"), col("t"), col("v"))

  def runOp(a: String, r: Recorder): (Boolean, Long) = {
    val src =
      if (!r.tracing) read()
      else r.span("sources.read") { val d = read().cache(); d.count(); d }
    val out = r.span(s"ops.$a") {
      val (df, x) = analysis(a, src)
      df.groupBy("channel").agg(count(lit(1)), sum(x), sum(abs(x)), max(abs(x))).collect()
    }
    if (r.tracing) src.unpersist(blocking = true)
    val got = out.map(row => row.getString(0) ->
      Agg(row.getLong(1), row.getDouble(2), row.getDouble(3), row.getDouble(4))).toMap
    val want = ref(a)
    val ok = got.keySet == want.keySet && want.forall { case (ch, w) => w.matches(got(ch)) }
    (ok, rec.samples)
  }

  override def extra(): Map[String, Any] = Map(
    "dsp_kernel_s" -> kernelS.toMap, "dsp_samples" -> rec.samples,
    "scan_bytes" -> new File(path).length())
}

object Sigproc {
  val Channels = 16
  val BaseLen = 2000
  val LongFactor = 6
  val PartitionBytes: Long = 256L << 10
  val KernelReps = 3

  val Analyses: IndexedSeq[String] = IndexedSeq(
    "filt_butter", "filtfilt", "psd_welch", "srs", "rainflow", "resample_cubic", "movrms")

  val ButterCutoffHz = 50.0
  val WelchWindowS = 0.256
  val SrsFreqs: Array[Double] = Srs.buildFreqArray(10.0, 400.0)
  val SrsQ = 50.0
  val ResampleHz = 800.0
  val MovRmsWindowS = 0.05
  val FiltfiltChunk = 4096
  /** Relative agreement the registry uses for these kernels: its %.4e
    * rendering, i.e. half a unit in the fifth significant digit.
    */
  val RelTol = 5e-5

  private lazy val filtfiltBA = FilterDesign.butter(2, ButterCutoffHz / 500.0, "lowpass")

  /** Per-channel summary of an output column. */
  final case class Agg(rows: Long, sum: Double, sumAbs: Double, maxAbs: Double) {
    def matches(o: Agg): Boolean = {
      def close(a: Double, b: Double, scale: Double) = math.abs(a - b) <= RelTol * scale
      rows == o.rows && close(sum, o.sum, sumAbs) && close(sumAbs, o.sumAbs, sumAbs) &&
        close(maxAbs, o.maxAbs, maxAbs)
    }
  }
  object Agg {
    def of(xs: Array[Double]): Agg = {
      var (s, sa, m) = (0.0, 0.0, 0.0)
      xs.foreach { x => s += x; sa += math.abs(x); m = math.max(m, math.abs(x)) }
      Agg(xs.length.toLong, s, sa, m)
    }
  }

  /** The analysis `a` through graft's DataFrame API, and the column the
    * check summarises.
    */
  def analysis(a: String, df: DataFrame): (DataFrame, Column) = a match {
    case "filt_butter" =>
      (Kernels.filtButter(df, Seq(ButterCutoffHz), order = 4, btype = "lowpass"), col("v"))
    case "filtfilt" =>
      val (b, aa) = filtfiltBA
      (ParallelIIR.filtfiltDistributed(df, b, aa, chunk = FiltfiltChunk), col("v"))
    case "psd_welch" =>
      (Psd.getPsd(df, windowLength = Some(WelchWindowS)), col("p"))
    case "srs" => (Kernels.srs(df, SrsFreqs, SrsQ), col("p"))
    case "rainflow" =>
      (Kernels.rainflow(df, ndigits = Some(2)), col("rng") * col("cycles"))
    case "resample_cubic" => (Interp.resample(df, ResampleHz, "cubic"), col("v"))
    case "movrms" => (Signal(df).movRms(MovRmsWindowS).df, col("v"))
  }

  /** The same analysis on one channel's arrays, single-threaded, with
    * the graft.dsp kernels (movrms, which graft computes in SQL, is a
    * direct sliding window here). Returns the summarised column.
    */
  def reference(a: String, t: Array[Double], v: Array[Double]): Array[Double] = {
    lazy val sr = SigMath.samplerate(t).get
    a match {
      case "filt_butter" =>
        val (b, aa) = FilterDesign.butter(2, Array(ButterCutoffHz / (0.5 * sr)), "lowpass")
        IIR.filtfilt(b, aa, v)
      case "filtfilt" =>
        // forward and backward passes seeded with the steady-state
        // initial conditions, no padding (filtfiltDistributed semantics)
        val (b, aa) = filtfiltBA
        val zi = IIR.lfilterZi(b, aa)
        val fwd = IIR.lfilterWithState(b, aa, v, zi.map(_ * v(0)))._1.reverse
        IIR.lfilterWithState(b, aa, fwd, zi.map(_ * fwd(0)))._1.reverse
      case "psd_welch" =>
        val nWindow = (sr * WelchWindowS).toInt
        val nOverlap = math.rint(nWindow * 0.5).toInt
        val step = nWindow - nOverlap
        val nSegs = math.floor((v.length - nOverlap).toDouble / step).toInt
        var freq: Array[Double] = null
        var acc: Array[Double] = null
        for (w <- 0 until nSegs) {
          val (f, p) = Spectral.periodogram(v.slice(w * step, w * step + nWindow), sr, "hann",
            "constant")
          if (acc == null) { freq = f; acc = new Array[Double](p.length) }
          var i = 0
          while (i < p.length) { acc(i) += p(i); i += 1 }
        }
        freq.indices.filter(freq(_) > 0).map(acc(_) / nSegs).toArray
      case "srs" =>
        val (pos, neg) = Srs.srs(t, v, SrsFreqs, SrsQ)
        pos.indices.map(i => math.max(pos(i), neg(i))).toArray
      case "rainflow" =>
        Rainflow.countCycles(v, ndigits = Some(2)).map { case (r, c) => r * c }.toArray
      case "resample_cubic" =>
        val step = 1.0 / ResampleHz
        val n = math.ceil((t.last - t.head) / step).toLong
        CubicSpline.interpolate(t, v, Array.tabulate(n.toInt)(k => t.head + k * step))
      case "movrms" =>
        val n = math.round(sr * MovRmsWindowS).toInt
        // rows n .. len-1 (1-based): trailing n-sample window, last row dropped
        val out = new Array[Double](math.max(v.length - n, 0))
        var acc = 0.0
        for (i <- 0 until v.length - 1) {
          acc += v(i) * v(i)
          if (i >= n) acc -= v(i - n) * v(i - n)
          if (i >= n - 1) out(i - n + 1) = math.sqrt(math.max(acc, 0.0) / n)
        }
        out
    }
  }
}
