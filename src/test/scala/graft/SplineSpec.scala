package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.dsp.CubicSpline

/** Not-a-knot cubic spline: the defining property is exact
  * reproduction of any cubic polynomial (which natural splines fail).
  */
class SplineSpec extends AnyFunSuite with GraftSpark {

  test("reproduces a cubic polynomial exactly (the not-a-knot property)") {
    def p(x: Double) = 2.0 * x * x * x - 3.0 * x * x + 0.5 * x - 7.0
    val xs = Array(0.0, 0.7, 1.1, 2.0, 3.2, 4.0, 5.5)
    val ys = xs.map(p)
    val q = Array(0.1, 0.65, 1.5, 2.71, 3.9, 5.49)
    val got = CubicSpline.interpolate(xs, ys, q)
    q.zip(got).foreach { case (x, y) =>
      assert(math.abs(y - p(x)) < 1e-9 * (1 + math.abs(p(x))), s"at $x: $y vs ${p(x)}")
    }
  }

  test("exact at the knots; parabola for n=3; linear for n=2") {
    val xs = Array(0.0, 1.0, 2.5, 4.0, 6.0)
    val ys = Array(1.0, -2.0, 0.5, 3.0, -1.0)
    assert(CubicSpline.interpolate(xs, ys, xs).sameElements(ys))
    val got3 = CubicSpline.interpolate(Array(0.0, 1.0, 2.0), Array(0.0, 1.0, 4.0), Array(1.5))
    assert(math.abs(got3(0) - 2.25) < 1e-12) // parabola x^2
    val got2 = CubicSpline.interpolate(Array(0.0, 2.0), Array(0.0, 4.0), Array(0.5))
    assert(math.abs(got2(0) - 1.0) < 1e-12)
  }

  test("interpolant is C1-smooth across knots") {
    val rng = new scala.util.Random(3)
    val xs = Array.tabulate(20)(i => i * 1.0)
    val ys = Array.fill(20)(rng.nextDouble() * 10 - 5)
    val eps = 1e-7
    for (k <- 1 until 19) {
      val Array(l, r) = CubicSpline.interpolate(xs, ys, Array(xs(k) - eps, xs(k) + eps))
      val dl = (ys(k) - l) / eps
      val dr = (r - ys(k)) / eps
      assert(math.abs(dl - dr) < 1e-4, s"knot $k: left slope $dl vs right $dr")
    }
  }

  test("quadratic spline reproduces quadratics and hits the knots") {
    def p(x: Double) = 1.5 * x * x - 2.0 * x + 3.0
    val xs = Array(0.0, 0.8, 1.7, 3.0, 4.2, 5.0)
    val ys = xs.map(p)
    val q = Array(0.3, 1.0, 2.5, 4.9)
    CubicSpline.interpolateQuadratic(xs, ys, q).zip(q).foreach { case (y, x) =>
      assert(math.abs(y - p(x)) < 1e-10 * (1 + math.abs(p(x))), s"at $x")
    }
    assert(CubicSpline.interpolateQuadratic(xs, ys, xs).sameElements(ys))
    // C1 across a knot
    val eps = 1e-7
    val Array(l, r) = CubicSpline.interpolateQuadratic(xs, ys, Array(1.7 - eps, 1.7 + eps))
    assert(math.abs((ys(2) - l) / eps - (r - ys(2)) / eps) < 1e-4)
  }

  test("distributed cubic resample matches the array-level spline") {
    import spark.implicits._
    val xs = Array.tabulate(50)(i => i * 0.9)
    val rng = new scala.util.Random(11)
    val ys = Array.fill(50)(rng.nextDouble() * 4 - 2)
    val df = xs.zip(ys).toSeq.map { case (t, v) => ("c", t, v) }.toDF("channel", "t", "v")
    val got = graft.ops.Interp.resample(df, 2.0, "cubic")
      .collect().map(r => (r.getDouble(1), r.getDouble(2))).sortBy(_._1)
    val grid = graft.dsp.SigMath.arange(0.0, xs.last, 0.5)
    val expect = CubicSpline.interpolate(xs, ys, grid)
    assert(got.length == grid.length)
    got.zip(grid.zip(expect)).foreach { case ((tg, vg), (te, ve)) =>
      assert(math.abs(tg - te) < 1e-12)
      assert(math.abs(vg - ve) < 1e-10, s"at $te: $vg vs $ve")
    }
    // the chunk-parallel interp1d at the same grid: one chunk on 50
    // knots, so the same solve, bit for bit
    val chunked = graft.ops.Interp.interp1d(df, graft.ops.Interp.resampleGrid(df, 0.5), "cubic")
      .collect().map(r => (r.getDouble(1), r.getDouble(2))).sortBy(_._1)
    assert(chunked.toSeq == got.toSeq)
  }
}
