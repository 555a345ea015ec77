package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.dsp.{SigMath, Spectral}

/** Distributed spectral estimation (reference `extension.py:569-625`,
  * `tools.py:13-100`).
  *
  * Welch's method is "mean of modified periodograms" — a partial/final
  * aggregation. Every Welch entry point (`welchAll`, `welch`, `getPsd`
  * with a window) builds its sub-PSD table in `welchAllWithSegRms`:
  * one `PerChannel` gather per channel, whose task slices the
  * channel's arrays with `Spectral.welchStarts` and runs
  * `Spectral.periodogram` on every segment. The summarize stage is
  * groupBy(channel, freq) aggregates (mean/median/max/min) or a
  * two-level aggregate for the 'max rms'/'damage' rescale modes.
  */
object Psd {

  // NOT private: Catalyst's generated encoder projections need public
  // access to this row class
  case class PsdRmsRow(channel: String, w: Long, freq: Double, p: Double, segRms: Double)

  /** Whole-series periodogram per channel — the window_length=None path
    * of `get_psd` (`extension.py:610-611`): one FFT task per channel.
    * Returns (channel, freq, p) including the DC bin.
    */
  def periodogram(df: DataFrame, detrend: String = "constant"): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    PerChannel.transform[(String, Double, Double)](df) { (ch, ts, vs) =>
      val sr = graft.dsp.SigMath.samplerate(ts).getOrElse(
        throw new IllegalStateException(s"channel '$ch' has a variable sample rate"))
      val (f, p) = Spectral.periodogram(vs, sr, "boxcar", detrend)
      Iterator.tabulate(f.length)(i => (ch, f(i), p(i)))
    }.toDF("channel", "freq", "p")
  }

  /** Welch sub-PSDs. Returns (channel, w, freq, p) — the
    * summarize='all' shape (`tools.py:83-84`).
    */
  def welchAll(df: DataFrame, windowLength: Double, overlap: Double = 0.5,
               windowType: String = "hann", detrend: String = "constant"): DataFrame =
    // one FFT kernel, one source of truth: the plain view is the
    // seg_rms table minus a column (the per-segment trapezoid is
    // O(freqs) next to the FFT)
    welchAllWithSegRms(df, windowLength, overlap, windowType, detrend).drop("seg_rms")

  /** Like welchAll but each row also carries its segment's whole-PSD
    * trapezoid RMS (`tools.py:85-90`'s per-window rms list), computed
    * inside the FFT task — so the rescale summarize modes need ONE
    * pass over the data instead of re-running the segment pipeline
    * for the sub-RMS branch.
    *
    * The parameters are the reference's: the sample rate is
    * `SigMath.samplerate` (a variable-rate channel fails), nWindow
    * truncates sr * windowLength, and nOverlap rounds half to even.
    * A one-sample channel has no sample rate and yields no rows.
    */
  def welchAllWithSegRms(df: DataFrame, windowLength: Double, overlap: Double = 0.5,
                         windowType: String = "hann", detrend: String = "constant"): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    PerChannel.transform[PsdRmsRow](df) { (ch, ts, vs) =>
      if (ts.length < 2) Iterator.empty
      else {
        val sr = SigMath.samplerate(ts).getOrElse(throw new IllegalStateException(
          s"channel '$ch' has a variable sample rate; resample() it before PSD"))
        val nWindow = (sr * windowLength).toInt
        val nOverlap = math.rint(nWindow * overlap).toInt
        Spectral.welchStarts(vs.length, nWindow, nOverlap).iterator.zipWithIndex.flatMap {
          case (start, w) =>
            val seg = java.util.Arrays.copyOfRange(vs, start, start + nWindow)
            val (f, p) = Spectral.periodogram(seg, sr, windowType, detrend)
            val segRms = segRmsOf(f, p)
            Iterator.tabulate(f.length)(i => PsdRmsRow(ch, w.toLong, f(i), p(i), segRms))
        }
      }
    }.toDF("channel", "w", "freq", "p", "seg_rms")
  }

  /** sqrt of the segment PSD's trapezoid integral, the seg_rms column. */
  private def segRmsOf(f: Array[Double], p: Array[Double]): Double = {
    var trapz = 0.0
    var j = 1
    while (j < f.length) { trapz += (p(j) + p(j - 1)) / 2.0 * (f(j) - f(j - 1)); j += 1 }
    math.sqrt(trapz)
  }

  /** Full Welch estimate with all seven summarize modes
    * (`tools.py:75-98`). Returns (channel, freq, p), or
    * (channel, w, freq, p) for 'all'.
    */
  def welch(df: DataFrame, windowLength: Double, overlap: Double = 0.5,
            windowType: String = "hann", summarize: String = "mean",
            fatigueExponent: Double = 4.0, detrend: String = "constant"): DataFrame =
    summarize match {
      case "max rms" | "damage" =>
        rescale(welchAllWithSegRms(df, windowLength, overlap, windowType, detrend),
          summarize, fatigueExponent)
      case other =>
        summarizeAll(welchAll(df, windowLength, overlap, windowType, detrend), other)
    }

  /** The plain summarize stage over a (precomputed) sub-PSD table
    * (channel, w, freq, p) — callers that run several summarize modes
    * over the same Welch parameters can cache the sub-PSD table and
    * fan these aggregates out from it.
    */
  def summarizeAll(all: DataFrame, summarize: String): DataFrame = summarize match {
    case "all" => all
    case "mean" => all.groupBy("channel", "freq").agg(avg("p").as("p"))
    case "median" =>
      all.groupBy("channel", "freq").agg(percentile(col("p"), lit(0.5)).as("p"))
    case "max" => all.groupBy("channel", "freq").agg(max("p").as("p"))
    case "min" => all.groupBy("channel", "freq").agg(min("p").as("p"))
    case other =>
      throw new IllegalArgumentException(s"$other is not a valid summary type")
  }

  /** The 'max rms' / 'damage' rescale stage over a (precomputed)
    * sub-PSD-with-segment-RMS table (`welchAllWithSegRms` output).
    *
    * ONE pass over the segment pipeline: each FFT task emits its own
    * whole-PSD trapezoid RMS alongside the PSD rows, so the
    * per-window rms list reduces inside the same (channel, freq)
    * aggregate that builds the mean PSD — no second welchAll, no
    * (channel, w) window shuffle. Every w appears once per freq, so
    * max/avg over rows equal max/avg over windows.
    */
  def rescale(all2: DataFrame, summarize: String, fatigueExponent: Double): DataFrame = {
    val perFreq = all2.groupBy("channel", "freq").agg(
      avg("p").as("p"),
      max("seg_rms").as("max_sub_rms"),
      avg(pow(col("seg_rms"), lit(fatigueExponent))).as("mean_rms_pow"))
    val wch = Window.partitionBy("channel").orderBy("freq")
    val wall = Window.partitionBy("channel")
    val seg = (col("p") + lag("p", 1).over(wch)) / 2.0 *
      (col("freq") - lag("freq", 1).over(wch))
    val factor =
      if (summarize == "max rms")
        max("max_sub_rms").over(wall) / col("mean_rms")
      else
        pow(max("mean_rms_pow").over(wall), lit(1.0 / fatigueExponent)) / col("mean_rms")
    perFreq
      .withColumn("seg", seg)
      .withColumn("mean_rms", sqrt(sum("seg").over(wall)))
      .withColumn("factor", factor)
      .select(col("channel"), col("freq"),
        (col("p") * col("factor") * col("factor")).as("p"))
  }

  /** get_psd dispatch (`extension.py:569-625`): periodogram when no
    * window length, else Welch; positive frequencies only.
    */
  def getPsd(df: DataFrame, windowLength: Option[Double] = None, overlap: Double = 0.5,
             windowType: String = "hann", summarize: String = "mean",
             fatigueExponent: Double = 4.0, detrend: String = "constant"): DataFrame = {
    val full = windowLength match {
      case None => periodogram(df, detrend)
      case Some(wl) => welch(df, wl, overlap, windowType, summarize, fatigueExponent, detrend)
    }
    full.filter(col("freq") > 0)
  }
}
