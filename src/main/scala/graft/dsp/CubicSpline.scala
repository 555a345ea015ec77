package graft.dsp

/** Not-a-knot cubic spline interpolation (the `kind='cubic'` branch of
  * the reference's `interp1d`, `extension.py:819-851` via scipy).
  * Standard textbook construction: solve the tridiagonal system for
  * the first derivatives with not-a-knot boundary rows (third
  * derivative continuous across the first/last interior knots), then
  * evaluate the piecewise cubic Hermite form. O(n) Thomas solve.
  */
object CubicSpline {

  /** Spline derivative values at the knots. x strictly increasing,
    * n >= 4 (callers special-case smaller n).
    */
  private def derivatives(x: Array[Double], y: Array[Double]): Array[Double] = {
    val n = x.length
    val dx = Array.tabulate(n - 1)(i => x(i + 1) - x(i))
    val slope = Array.tabulate(n - 1)(i => (y(i + 1) - y(i)) / dx(i))
    // tridiagonal rows: lower(i), diag(i), upper(i), rhs(i)
    val lower = new Array[Double](n)
    val diag = new Array[Double](n)
    val upper = new Array[Double](n)
    val rhs = new Array[Double](n)
    var i = 1
    while (i < n - 1) {
      lower(i) = dx(i)
      diag(i) = 2.0 * (dx(i - 1) + dx(i))
      upper(i) = dx(i - 1)
      rhs(i) = 3.0 * (dx(i) * slope(i - 1) + dx(i - 1) * slope(i))
      i += 1
    }
    // not-a-knot boundaries
    val d0 = x(2) - x(0)
    diag(0) = dx(1)
    upper(0) = d0
    rhs(0) = ((dx(0) + 2.0 * d0) * dx(1) * slope(0) + dx(0) * dx(0) * slope(1)) / d0
    val dn = x(n - 1) - x(n - 3)
    diag(n - 1) = dx(n - 3)
    lower(n - 1) = dn
    rhs(n - 1) = (dx(n - 2) * dx(n - 2) * slope(n - 3) +
      (2.0 * dn + dx(n - 2)) * dx(n - 3) * slope(n - 2)) / dn
    // Thomas algorithm
    val cp = new Array[Double](n)
    val dp = new Array[Double](n)
    cp(0) = upper(0) / diag(0)
    dp(0) = rhs(0) / diag(0)
    i = 1
    while (i < n) {
      val m = diag(i) - lower(i) * cp(i - 1)
      cp(i) = if (i < n - 1) upper(i) / m else 0.0
      dp(i) = (rhs(i) - lower(i) * dp(i - 1)) / m
      i += 1
    }
    val s = new Array[Double](n)
    s(n - 1) = dp(n - 1)
    i = n - 2
    while (i >= 0) {
      s(i) = dp(i) - cp(i) * s(i + 1)
      i -= 1
    }
    s
  }

  /** C1 quadratic spline interpolation (`kind='quadratic'`,
    * `extension.py:819-851`): piecewise parabolas with value + first-
    * derivative continuity at the data points, seeded with the exact
    * parabola slope through the first three points so any global
    * quadratic is reproduced. (scipy builds an order-2 B-spline with
    * averaged interior knots; boundary behavior can differ slightly —
    * documented divergence, interior agreement is O(h^3).)
    */
  def interpolateQuadratic(x: Array[Double], y: Array[Double], q: Array[Double]): Array[Double] = {
    val n = x.length
    require(n >= 2, "need >= 2 points")
    if (n == 2) return SigMath.interp1d(x, y, q, "linear")
    // slopes m_i at the data points: m_0 from the first-three-points
    // parabola, then C1 continuity gives m_{i+1} = 2*secant_i - m_i
    val m = new Array[Double](n)
    val h0 = x(1) - x(0)
    val h1 = x(2) - x(1)
    val s0 = (y(1) - y(0)) / h0
    val s1 = (y(2) - y(1)) / h1
    m(0) = s0 - (s1 - s0) / (h0 + h1) * h0
    var i = 0
    while (i < n - 1) {
      m(i + 1) = 2.0 * (y(i + 1) - y(i)) / (x(i + 1) - x(i)) - m(i)
      i += 1
    }
    q.map { xx =>
      if (xx.isNaN) Double.NaN
      else if (xx < x(0) || xx > x(n - 1))
        throw new IllegalArgumentException(
          s"A value ($xx) in x_new is outside the interpolation range.")
      else {
        var lo = java.util.Arrays.binarySearch(x, xx)
        if (lo >= 0) y(lo)
        else {
          lo = -lo - 2
          val h = x(lo + 1) - x(lo)
          val d = xx - x(lo)
          val c2 = ((y(lo + 1) - y(lo)) / h - m(lo)) / h
          y(lo) + m(lo) * d + c2 * d * d
        }
      }
    }
  }

  /** Interpolate y(x) at query points q (all within [x.head, x.last]).
    * n=2 falls back to linear, n=3 to the exact parabola (what
    * not-a-knot degenerates to).
    */
  def interpolate(x: Array[Double], y: Array[Double], q: Array[Double]): Array[Double] =
    q.map(interpolator(x, y))

  /** The spline through (x, y) as a function of one query point: the
    * tridiagonal solve runs once, then each query costs a binary search
    * and one cubic — so a caller can stream a long query grid without
    * holding it. Same values and the same range and NaN contract as
    * `interpolate`.
    */
  def interpolator(x: Array[Double], y: Array[Double]): Double => Double = {
    val n = x.length
    require(n >= 2, "need >= 2 points")
    if (n == 2) return xx => SigMath.interp1d(x, y, Array(xx), "linear")(0)
    if (n == 3) {
      // exact parabola through three points (Lagrange); same bounds
      // and NaN contract as the other branches
      return { xx =>
        if (xx.isNaN) Double.NaN
        else if (xx < x(0) || xx > x(2))
          throw new IllegalArgumentException(
            s"A value ($xx) in x_new is outside the interpolation range.")
        else
          y(0) * (xx - x(1)) * (xx - x(2)) / ((x(0) - x(1)) * (x(0) - x(2))) +
            y(1) * (xx - x(0)) * (xx - x(2)) / ((x(1) - x(0)) * (x(1) - x(2))) +
            y(2) * (xx - x(0)) * (xx - x(1)) / ((x(2) - x(0)) * (x(2) - x(1)))
      }
    }
    val s = derivatives(x, y)
    xx =>
      if (xx.isNaN) Double.NaN
      else if (xx < x(0) || xx > x(n - 1))
        throw new IllegalArgumentException(
          s"A value ($xx) in x_new is outside the interpolation range.")
      else {
        var lo = java.util.Arrays.binarySearch(x, xx)
        if (lo >= 0) y(lo)
        else {
          lo = -lo - 2
          val h = x(lo + 1) - x(lo)
          val sl = (y(lo + 1) - y(lo)) / h
          val t0 = (s(lo) + s(lo + 1) - 2.0 * sl) / h
          val c0 = t0 / h
          val c1 = (sl - s(lo)) / h - t0
          val d = xx - x(lo)
          ((c0 * d + c1) * d + s(lo)) * d + y(lo)
        }
      }
  }
}
