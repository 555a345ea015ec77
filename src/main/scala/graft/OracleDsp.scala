package graft

import graft.dsp.IIR

/** DuckDB oracle SQL generators for the sequential DSP kernels: the
  * direct-form-II-transposed recurrence (`IIR.lfilterWithState`),
  * scipy-default `filtfilt`, and the Smallwood SRS sweep are all
  * expressible as recursive CTEs that REPLAY THE EXACT fp operation
  * sequence of the Scala kernels (same literals, same association),
  * so the cross-engine compare is bit-exact — a far stronger check
  * than a rounded one.
  *
  * Coefficients/initial conditions are computed by the SAME Scala
  * code the kernels call (FilterDesign/IIR/Srs) and inlined as
  * 17-significant-digit scientific literals (DuckDB parses plain
  * decimal literals as DECIMAL — scientific notation forces DOUBLE).
  */
object OracleDsp {

  def dlit(v: Double): String = f"$v%.17e"

  // the kernel's own normalization — the bit-exact replay depends on
  // using the identical doubles
  private def normalize(b: Array[Double],
                        a: Array[Double]): (Array[Double], Array[Double]) =
    IIR.normalized(b, a)

  /** One recursive-CTE DFIIt lfilter named `name` over
    * `series(channel, rn, x)` (rn 0-based contiguous per channel),
    * seeded per channel from `seedFrom` with state expressions
    * `seedZ` (SQL over seedFrom's columns). Emits
    * `name(channel, rn, y, z*)`; y rows are rn >= 0.
    *
    * The recurrence text mirrors `IIR.lfilterWithState` exactly:
    *   y    = b0*x + z0
    *   z_j  = b_{j+1}*x + z_{j+1} - a_{j+1}*y   (j < m-1, old z)
    *   z_m-1= b_m*x - a_m*y
    */
  def lfilterRecCte(name: String, series: String, seedFrom: String,
                    seedZ: Seq[String], b0: Array[Double],
                    a0: Array[Double]): String = {
    val (b, a) = normalize(b0, a0)
    val m = b.length - 1
    require(m >= 1, "order-0 filters need no recursion")
    val y = s"(${dlit(b(0))} * s.x + f.z0)"
    val seeds = (0 until m).map(j => s"CAST(${seedZ(j)} AS DOUBLE) AS z$j")
      .mkString(",\n         ")
    val zupd = (0 until m).map { j =>
      if (j < m - 1)
        s"${dlit(b(j + 1))} * s.x + f.z${j + 1} - ${dlit(a(j + 1))} * $y AS z$j"
      else
        s"${dlit(b(m))} * s.x - ${dlit(a(m))} * $y AS z$j"
    }.mkString(",\n         ")
    s"""$name AS (
       |  SELECT channel, CAST(-1 AS BIGINT) AS rn, CAST(NULL AS DOUBLE) AS y,
       |         $seeds
       |  FROM $seedFrom
       |  UNION ALL
       |  SELECT s.channel, s.rn, $y AS y,
       |         $zupd
       |  FROM $name f JOIN $series s ON s.channel = f.channel AND s.rn = f.rn + 1
       |)""".stripMargin
  }

  /** The indexed-series prelude shared by the filter oracles:
    * `uidx(channel, rn, t, v)` over the `u` CTE produced by
    * `uniformCtes` (MATERIALIZED — recursive parts re-evaluate
    * non-materialized CTE references every iteration).
    */
  private def uidxSql(uniformCtes: String): String =
    s"""$uniformCtes,
       |uidx AS MATERIALIZED (
       |  SELECT channel, row_number() OVER (PARTITION BY channel ORDER BY t) - 1 AS rn, t, v
       |  FROM u
       |)""".stripMargin

  /** scipy-default filtfilt (odd extension, padlen = 3*ntaps,
    * lfilter_zi initial conditions) over the uniform grid —
    * `IIR.filtfilt` replayed bit for bit. Output (channel, t, v).
    */
  def filtfiltUniformSql(uniformCtes: String, b: Array[Double],
                         a: Array[Double]): String = {
    val p = 3 * math.max(a.length, b.length)
    val zi = IIR.lfilterZi(b, a)
    val fwdSeed = zi.toSeq.map(z => s"${dlit(z)} * (2 * x0 - xp)")
    val bwdSeed = zi.toSeq.map(z => s"${dlit(z)} * x0")
    s"""WITH RECURSIVE ${uidxSql(uniformCtes)},
       |st AS MATERIALIZED (
       |  SELECT channel, count(*) AS n, arg_min(v, rn) AS x0, arg_max(v, rn) AS xn1,
       |         max(CASE WHEN rn = $p THEN v END) AS xp
       |  FROM uidx GROUP BY channel
       |),
       |ext AS MATERIALIZED (
       |  SELECT u.channel, $p - u.rn AS rn, 2 * st.x0 - u.v AS x
       |  FROM uidx u JOIN st USING (channel) WHERE u.rn BETWEEN 1 AND $p
       |  UNION ALL
       |  SELECT channel, rn + $p AS rn, v AS x FROM uidx
       |  UNION ALL
       |  SELECT u.channel, $p + 2 * st.n - 2 - u.rn AS rn, 2 * st.xn1 - u.v AS x
       |  FROM uidx u JOIN st USING (channel) WHERE u.rn BETWEEN st.n - 1 - $p AND st.n - 2
       |),
       |${lfilterRecCte("fwd", "ext", "st", fwdSeed, b, a)},
       |rev AS MATERIALIZED (
       |  SELECT f.channel, st.n + 2 * $p - 1 - f.rn AS rn, f.y AS x
       |  FROM fwd f JOIN st USING (channel) WHERE f.rn >= 0
       |),
       |rst AS MATERIALIZED (SELECT channel, arg_min(x, rn) AS x0 FROM rev GROUP BY channel),
       |${lfilterRecCte("bwd", "rev", "rst", bwdSeed, b, a)}
       |SELECT u.channel, u.t, b.y AS v
       |FROM bwd b
       |JOIN st ON b.channel = st.channel
       |JOIN uidx u ON u.channel = b.channel AND u.rn = st.n + $p - 1 - b.rn
       |WHERE b.rn >= $p AND b.rn <= st.n + $p - 1""".stripMargin
  }

  /** One-directional lfilter over the uniform grid from zero initial
    * state (the `ParallelIIR.lfilterDistributed` contract). Output
    * (channel, t, v); `vExpr` projects the filtered value (e.g. a
    * printf for the parallel variants whose state handoff is not
    * bit-identical to the sequential recurrence).
    */
  def lfilterUniformSql(uniformCtes: String, b: Array[Double], a: Array[Double],
                        vExpr: String = "f.y"): String = {
    val seed = Seq.fill(math.max(a.length, b.length) - 1)("0")
    s"""WITH RECURSIVE ${uidxSql(uniformCtes)},
       |st AS MATERIALIZED (SELECT channel, arg_min(v, rn) AS x0 FROM uidx GROUP BY channel),
       |ser AS MATERIALIZED (SELECT channel, rn, v AS x FROM uidx),
       |${lfilterRecCte("flt", "ser", "st", seed, b, a)}
       |SELECT u.channel, u.t, $vExpr AS v
       |FROM flt f JOIN uidx u ON u.channel = f.channel AND u.rn = f.rn
       |WHERE f.rn >= 0""".stripMargin
  }

  /** Zero-phase filtfilt WITHOUT padding (padtype=None), both passes
    * seeded with lfilter_zi scaled by their first input — the
    * `ParallelIIR.filtfiltDistributed` contract. Output
    * (channel, t, v) via `vExpr`.
    */
  def filtfiltNoPadUniformSql(uniformCtes: String, b: Array[Double], a: Array[Double],
                              vExpr: String = "b.y"): String = {
    val zi = IIR.lfilterZi(b, a)
    val fwdSeed = zi.toSeq.map(z => s"${dlit(z)} * x0")
    val bwdSeed = zi.toSeq.map(z => s"${dlit(z)} * x0")
    s"""WITH RECURSIVE ${uidxSql(uniformCtes)},
       |st AS MATERIALIZED (
       |  SELECT channel, count(*) AS n, arg_min(v, rn) AS x0 FROM uidx GROUP BY channel
       |),
       |ser AS MATERIALIZED (SELECT channel, rn, v AS x FROM uidx),
       |${lfilterRecCte("fwd", "ser", "st", fwdSeed, b, a)},
       |rev AS MATERIALIZED (
       |  SELECT f.channel, st.n - 1 - f.rn AS rn, f.y AS x
       |  FROM fwd f JOIN st USING (channel) WHERE f.rn >= 0
       |),
       |rst AS MATERIALIZED (SELECT channel, arg_min(x, rn) AS x0 FROM rev GROUP BY channel),
       |${lfilterRecCte("bwd", "rev", "rst", bwdSeed, b, a)}
       |SELECT u.channel, u.t, $vExpr AS v
       |FROM bwd b
       |JOIN st ON b.channel = st.channel
       |JOIN uidx u ON u.channel = b.channel AND u.rn = st.n - 1 - b.rn
       |WHERE b.rn >= 0""".stripMargin
  }

  /** Continuous lfilter over the RAW events stream ordered by
    * (us, v) — the `StreamingOps.statefulIir` result equals one
    * unbroken recurrence per channel regardless of micro-batching.
    * Output (channel, us, v).
    */
  def streamIirSql(b: Array[Double], a: Array[Double]): String = {
    val m = math.max(a.length, b.length) - 1
    val seed = Seq.fill(m)("0")
    s"""WITH RECURSIVE s0 AS (
       |  SELECT event_type AS channel, epoch_us(ts) AS us, value AS v FROM events
       |),
       |ser AS MATERIALIZED (
       |  SELECT channel, row_number() OVER (PARTITION BY channel ORDER BY us, v) - 1 AS rn,
       |         us, v AS x
       |  FROM s0
       |),
       |${lfilterRecCte("flt", "ser", "(SELECT DISTINCT channel FROM ser)", seed, b, a)}
       |SELECT s.channel, s.us, f.y AS v
       |FROM flt f JOIN ser s ON s.channel = f.channel AND s.rn = f.rn
       |WHERE f.rn >= 0""".stripMargin
  }

  /** Not-a-knot cubic spline resample oracle: the tridiagonal system
    * of `CubicSpline.derivatives` built row-wise with window
    * functions, the Thomas solve as TWO recursions (forward
    * elimination, back substitution), then the Hermite evaluation at
    * the np.arange grid — every expression mirrors the Scala kernel's
    * association (`Interp.resample` solves each channel's whole spline
    * in one `PerChannel` gather); compared at %.4e.
    * `srcCte` must produce `src(channel, t, v)`; assumes >= 4 knots
    * per channel (the n=2/3 kernel special cases are not replayed).
    */
  def cubicResampleSql(srcCte: String, step: Double): String =
    s"""WITH RECURSIVE $srcCte,
       |bounds AS (SELECT channel, min(t) AS t0, max(t) AS t1 FROM src GROUP BY channel),
       |grid AS (
       |  SELECT channel, t0 + k * $step AS t
       |  FROM (SELECT channel, t0,
       |               unnest(generate_series(0, CAST(ceil((t1 - t0) / $step) AS BIGINT) - 1)) AS k
       |        FROM bounds)
       |),
       |kn AS MATERIALIZED (
       |  SELECT channel, row_number() OVER (PARTITION BY channel ORDER BY t) - 1 AS i, t AS x, v AS y,
       |         count(*) OVER (PARTITION BY channel) AS n
       |  FROM src
       |),
       |kd0 AS (
       |  SELECT channel, i, x, y, n,
       |         lead(x) OVER w - x AS dx,
       |         (lead(y) OVER w - y) / (lead(x) OVER w - x) AS slope
       |  FROM kn WINDOW w AS (PARTITION BY channel ORDER BY i)
       |),
       |kd AS MATERIALIZED (
       |  SELECT channel, i, x, y, n, dx, slope,
       |         lag(dx) OVER w2 AS dxm1, lag(slope) OVER w2 AS slopem1
       |  FROM kd0 WINDOW w2 AS (PARTITION BY channel ORDER BY i)
       |),
       |bst AS MATERIALIZED (
       |  SELECT channel,
       |         max(CASE WHEN i = 0 THEN x END) AS x0,
       |         max(CASE WHEN i = 2 THEN x END) AS x2,
       |         max(CASE WHEN i = 0 THEN dx END) AS dx0,
       |         max(CASE WHEN i = 1 THEN dx END) AS dx1,
       |         max(CASE WHEN i = 0 THEN slope END) AS s0,
       |         max(CASE WHEN i = 1 THEN slope END) AS s1,
       |         max(CASE WHEN i = n - 3 THEN x END) AS xn3,
       |         max(CASE WHEN i = n - 1 THEN x END) AS xn1,
       |         max(CASE WHEN i = n - 3 THEN dx END) AS dxn3,
       |         max(CASE WHEN i = n - 2 THEN dx END) AS dxn2,
       |         max(CASE WHEN i = n - 3 THEN slope END) AS sn3,
       |         max(CASE WHEN i = n - 2 THEN slope END) AS sn2
       |  FROM kd GROUP BY channel
       |),
       |tri AS MATERIALIZED (
       |  SELECT k.channel, k.i, k.n,
       |         CASE WHEN k.i = 0 THEN CAST(0 AS DOUBLE)
       |              WHEN k.i = k.n - 1 THEN b.xn1 - b.xn3
       |              ELSE k.dx END AS lower,
       |         CASE WHEN k.i = 0 THEN b.dx1
       |              WHEN k.i = k.n - 1 THEN b.dxn3
       |              ELSE 2.0 * (k.dxm1 + k.dx) END AS diag,
       |         CASE WHEN k.i = 0 THEN b.x2 - b.x0
       |              WHEN k.i = k.n - 1 THEN CAST(0 AS DOUBLE)
       |              ELSE k.dxm1 END AS upper,
       |         CASE WHEN k.i = 0 THEN ((b.dx0 + 2.0 * (b.x2 - b.x0)) * b.dx1 * b.s0 + b.dx0 * b.dx0 * b.s1) / (b.x2 - b.x0)
       |              WHEN k.i = k.n - 1 THEN (b.dxn2 * b.dxn2 * b.sn3 + (2.0 * (b.xn1 - b.xn3) + b.dxn2) * b.dxn3 * b.sn2) / (b.xn1 - b.xn3)
       |              ELSE 3.0 * (k.dx * k.slopem1 + k.dxm1 * k.slope) END AS rhs
       |  FROM kd k JOIN bst b USING (channel)
       |),
       |fwd AS (
       |  SELECT channel, i, n, upper / diag AS cp, rhs / diag AS dp
       |  FROM tri WHERE i = 0
       |  UNION ALL
       |  SELECT s.channel, s.i, s.n,
       |         CASE WHEN s.i < s.n - 1 THEN s.upper / (s.diag - s.lower * f.cp)
       |              ELSE CAST(0 AS DOUBLE) END AS cp,
       |         (s.rhs - s.lower * f.dp) / (s.diag - s.lower * f.cp) AS dp
       |  FROM fwd f JOIN tri s ON s.channel = f.channel AND s.i = f.i + 1
       |),
       |fwdm AS MATERIALIZED (SELECT channel, n - 1 - i AS j, i, cp, dp FROM fwd),
       |bwd AS (
       |  SELECT channel, j, i, dp AS s FROM fwdm WHERE j = 0
       |  UNION ALL
       |  SELECT s.channel, s.j, s.i, s.dp - s.cp * f.s AS s
       |  FROM bwd f JOIN fwdm s ON s.channel = f.channel AND s.j = f.j + 1
       |),
       |sder AS MATERIALIZED (
       |  SELECT k.channel, k.i, k.x, k.y, b.s
       |  FROM kn k JOIN bwd b ON b.channel = k.channel AND b.i = k.i
       |),
       |prevj AS (
       |  SELECT g.channel, g.t, s.x AS pt, s.y AS pv, s.s AS ps
       |  FROM grid g ASOF LEFT JOIN sder s ON g.channel = s.channel AND g.t >= s.x
       |),
       |nextj AS (
       |  SELECT g.channel, g.t, s.x AS nt, s.y AS nv, s.s AS ns
       |  FROM grid g ASOF LEFT JOIN sder s ON g.channel = s.channel AND g.t <= s.x
       |)
       |SELECT p.channel, p.t,
       |       printf('%.4e',
       |         CASE WHEN p.pt = p.t THEN p.pv
       |              ELSE ((((n.ns + p.ps - 2.0 * ((n.nv - p.pv) / (n.nt - p.pt))) / (n.nt - p.pt)) / (n.nt - p.pt) * (p.t - p.pt)
       |                    + (((n.nv - p.pv) / (n.nt - p.pt)) - p.ps) / (n.nt - p.pt) - ((n.ns + p.ps - 2.0 * ((n.nv - p.pv) / (n.nt - p.pt))) / (n.nt - p.pt)))
       |                    * (p.t - p.pt) + p.ps) * (p.t - p.pt) + p.pv
       |         END) AS v
       |FROM prevj p JOIN nextj n ON p.channel = n.channel AND p.t = n.t""".stripMargin

  /** C1 quadratic spline resample oracle: the closed-form slope
    * prefix sum of `Interp.interp1dQuadraticWindowed` replayed with
    * DuckDB window functions (cross-engine running-sum association
    * differs at ~1e-14 — compared at %.4e).
    */
  def quadraticResampleSql(srcCte: String, step: Double): String =
    s"""WITH $srcCte,
       |bounds AS (SELECT channel, min(t) AS t0, max(t) AS t1 FROM src GROUP BY channel),
       |grid AS (
       |  SELECT channel, t0 + k * $step AS t
       |  FROM (SELECT channel, t0,
       |               unnest(generate_series(0, CAST(ceil((t1 - t0) / $step) AS BIGINT) - 1)) AS k
       |        FROM bounds)
       |),
       |ws AS (
       |  SELECT channel, t, v, row_number() OVER w - 1 AS rn,
       |         (lead(v) OVER w - v) / (lead(t) OVER w - t) AS s,
       |         count(*) OVER (PARTITION BY channel) AS cnt
       |  FROM src WINDOW w AS (PARTITION BY channel ORDER BY t)
       |),
       |bst AS (
       |  SELECT channel,
       |         max(CASE WHEN rn = 0 THEN t END) AS x0, max(CASE WHEN rn = 1 THEN t END) AS x1,
       |         max(CASE WHEN rn = 2 THEN t END) AS x2,
       |         max(CASE WHEN rn = 0 THEN v END) AS y0, max(CASE WHEN rn = 1 THEN v END) AS y1,
       |         max(CASE WHEN rn = 2 THEN v END) AS y2
       |  FROM ws GROUP BY channel
       |),
       |bm AS (
       |  SELECT channel,
       |         ((y1 - y0) / (x1 - x0)) - (((y2 - y1) / (x2 - x1)) - ((y1 - y0) / (x1 - x0))) / ((x1 - x0) + (x2 - x1)) * (x1 - x0) AS m0
       |  FROM bst
       |),
       |wa AS (
       |  SELECT channel, t, v, rn, cnt,
       |         CAST(1 - 2 * (rn % 2) AS DOUBLE) AS sgn,
       |         2.0 * CAST(1 - 2 * (rn % 2) AS DOUBLE) * s AS a
       |  FROM ws
       |),
       |wm AS (
       |  SELECT w.channel, w.t, w.v, w.cnt,
       |         w.sgn * (b.m0 - coalesce(sum(w.a) OVER (PARTITION BY w.channel ORDER BY w.rn
       |                                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0.0)) AS m
       |  FROM wa w JOIN bm b USING (channel)
       |),
       |prevj AS (
       |  SELECT g.channel, g.t, s.t AS pt, s.v AS pv, s.m AS pm, s.cnt
       |  FROM grid g ASOF LEFT JOIN wm s ON g.channel = s.channel AND g.t >= s.t
       |),
       |nextj AS (
       |  SELECT g.channel, g.t, s.t AS nt, s.v AS nv
       |  FROM grid g ASOF LEFT JOIN wm s ON g.channel = s.channel AND g.t <= s.t
       |)
       |SELECT p.channel, p.t,
       |       printf('%.4e',
       |         CASE WHEN p.pt = n.nt THEN p.pv
       |              WHEN p.cnt = 2 THEN p.pv + (n.nv - p.pv) * (p.t - p.pt) / (n.nt - p.pt)
       |              ELSE p.pv + p.pm * (p.t - p.pt) +
       |                   ((n.nv - p.pv) / (n.nt - p.pt) - p.pm) / (n.nt - p.pt) *
       |                   (p.t - p.pt) * (p.t - p.pt)
       |         END) AS v
       |FROM prevj p JOIN nextj n ON p.channel = n.channel AND p.t = n.t""".stripMargin

  /** Smallwood SRS sweep over the uniform grid: one recursion whose
    * state rows carry the per-frequency filter coefficients (all
    * natural frequencies advance together each iteration), then the
    * max(pos, |neg|) reduction. Coefficients from `Srs.coefficients`
    * at the grid's exact dt. Output (channel, freq, p).
    */
  def srsUniformSql(uniformCtes: String, freqs: Array[Double], dt: Double,
                    qualityFactor: Double): String = {
    val damp = 1.0 / (2.0 * qualityFactor)
    val rows = freqs.map { fn =>
      val (b, a) = graft.dsp.Srs.coefficients(fn, dt, damp)
      s"(${dlit(fn)}, ${dlit(b(0))}, ${dlit(b(1))}, ${dlit(b(2))}, ${dlit(a(1))}, ${dlit(a(2))})"
    }.mkString(",\n       ")
    s"""WITH RECURSIVE ${uidxSql(uniformCtes)},
       |ser AS MATERIALIZED (SELECT channel, rn, v AS x FROM uidx),
       |coef(freq, b0, b1, b2, a1, a2) AS (VALUES
       |       $rows),
       |flt AS (
       |  SELECT channel, freq, b0, b1, b2, a1, a2,
       |         CAST(-1 AS BIGINT) AS rn, CAST(NULL AS DOUBLE) AS y,
       |         CAST(0 AS DOUBLE) AS z0, CAST(0 AS DOUBLE) AS z1
       |  FROM (SELECT DISTINCT channel FROM ser), coef
       |  UNION ALL
       |  SELECT f.channel, f.freq, f.b0, f.b1, f.b2, f.a1, f.a2, s.rn,
       |         (f.b0 * s.x + f.z0) AS y,
       |         f.b1 * s.x + f.z1 - f.a1 * (f.b0 * s.x + f.z0) AS z0,
       |         f.b2 * s.x - f.a2 * (f.b0 * s.x + f.z0) AS z1
       |  FROM flt f JOIN ser s ON s.channel = f.channel AND s.rn = f.rn + 1
       |)
       |SELECT channel, freq, greatest(max(y), abs(min(y))) AS p
       |FROM flt WHERE rn >= 0 GROUP BY channel, freq""".stripMargin
  }
}
