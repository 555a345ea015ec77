package graft.dsp

/** Array-level signal helpers shared by the per-channel executor
  * kernels: sample-rate inference and 1-D interpolation (parity with
  * reference `extension.py:273-300` and `extension.py:986-996` /
  * scipy.interpolate.interp1d for the non-spline kinds).
  */
object SigMath {

  /** Sample rate inferred from time steps, with the reference's
    * variability tolerance and snap-to-integer behavior — a literal
    * port of `extension.py:273-300` including its quirk: because
    * max_sr = 1/max(diff) <= min_sr = 1/min(diff), sr_error is never
    * positive, so the variable-rate None branch only fires on a NaN
    * interval (a NaN timestamp, whose NaN maximum makes
    * `Signal.samplerate`'s sr_error NaN too) or on < 2 samples;
    * jittered signals still yield the mean rate. (The reference's own
    * None path would crash at `extension.py:297`; we return None
    * instead of raising.)
    */
  def samplerate(t: Array[Double]): Option[Double] = {
    if (t.length < 2) return None
    var mn = Double.PositiveInfinity
    var mx = Double.NegativeInfinity
    var sum = 0.0
    var i = 1
    while (i < t.length) {
      val d = t(i) - t(i - 1)
      if (d.isNaN) return None
      if (d < mn) mn = d
      if (d > mx) mx = d
      sum += d
      i += 1
    }
    val maxSr = 1.0 / mx
    val meanSr = 1.0 / (sum / (t.length - 1))
    val minSr = 1.0 / mn
    val srError = (maxSr - minSr) / minSr
    val variabilityTol = 0.0001
    if (srError > minSr * variabilityTol || srError.isNaN) None
    else {
      val sr = meanSr
      val integerTol = 0.01
      if (math.abs(sr - math.rint(sr)) < integerTol && sr >= 1) Some(math.rint(sr))
      else Some(sr)
    }
  }

  /** Interpolate y(x) at points x2. Kinds: linear, nearest, nearest-up,
    * previous, next, zero (zero-order hold = previous sample, scipy's
    * spline order 0). x must be strictly increasing. Out-of-range
    * queries raise (scipy bounds_error=True default).
    */
  def interp1d(x: Array[Double], y: Array[Double], x2: Array[Double],
               kind: String = "linear"): Array[Double] = {
    require(x.length == y.length && x.length >= 2, "need >= 2 source points")
    val out = new Array[Double](x2.length)
    var i = 0
    while (i < x2.length) {
      val q = x2(i)
      if (q.isNaN) { out(i) = Double.NaN; i += 1 }
      else {
      if (q < x(0) || q > x(x.length - 1))
        throw new IllegalArgumentException(
          s"A value ($q) in x_new is outside the interpolation range (${x(0)}..${x(x.length - 1)}).")
      // binary search for the bracketing interval [lo, lo+1]
      var lo = java.util.Arrays.binarySearch(x, q)
      out(i) = if (lo >= 0) y(lo)
      else {
        lo = -lo - 2 // insertion point - 1
        val hi = lo + 1
        kind match {
          case "linear" | "slinear" =>
            y(lo) + (y(hi) - y(lo)) * (q - x(lo)) / (x(hi) - x(lo))
          case "nearest" =>
            // ties (exact half) round down, scipy 'nearest'
            if (q - x(lo) <= x(hi) - q) y(lo) else y(hi)
          case "nearest-up" =>
            if (q - x(lo) < x(hi) - q) y(lo) else y(hi)
          case "previous" | "zero" => y(lo)
          case "next" => y(hi)
          case other => throw new IllegalArgumentException(s"unsupported interp kind: $other")
        }
      }
      i += 1
      }
    }
    out
  }

  /** np.arange(start, stop, step) — half-open grid excluding stop,
    * length = ceil((stop-start)/step) (reference `extension.py:887`).
    */
  def arange(start: Double, stop: Double, step: Double): Array[Double] = {
    val n = math.max(0, math.ceil((stop - start) / step).toLong).toInt
    Array.tabulate(n)(k => start + k * step)
  }
}
