package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed 1-D interpolation as an as-of join (SURVEY §2.4/§2.11):
  * union the source samples and the query points, sort per channel,
  * and carry the bracketing source samples to each query row with
  * IGNORE NULLS window functions. One shuffle per channel axis; no
  * per-row lookups, no driver loops — this is the classic Spark
  * formulation of the reference's `scipy.interpolate.interp1d`
  * (`extension.py:986-996`).
  */
object Interp {

  /** Interpolate per-channel series `src(channel, t, v)` at query
    * points `query(channel, t)`.
    *
    * Kinds: linear | slinear | nearest | nearest-up | previous | zero
    * | next (scipy interp1d's non-spline kinds) plus quadratic |
    * cubic (spline kernels). Out-of-range queries yield NULL v by
    * default; `boundsError = true` raises instead — scipy's
    * bounds_error contract (the reference path, `extension.py:992`).
    */
  def interp1d(src: DataFrame, query: DataFrame, kind: String = "linear",
               boundsError: Boolean = false): DataFrame = {
    if (kind == "cubic") return interp1dSpline(src, query, kind, boundsError)
    if (kind == "quadratic") return interp1dQuadraticWindowed(src, query, boundsError)
    val s = src.select(col("channel"), col("t").cast("double").as("t"),
      col("v").cast("double").as("v"), lit(0).as("isq"))
    val q = query.select(col("channel"), col("t").cast("double").as("t"),
      lit(null).cast("double").as("v"), lit(1).as("isq"))
    val u = s.unionByName(q)

    // Both brackets are RUNNING (unbounded-preceding) frames, which
    // Spark evaluates incrementally in O(n); an unbounded-FOLLOWING
    // frame would be recomputed per row = O(n^2) per channel.
    // prev: ascending time, source rows sort BEFORE a query row at the
    // same t, so an exact hit is its own "previous" sample.
    val wPrev = Window.partitionBy("channel").orderBy(col("t").asc, col("isq").asc)
      .rowsBetween(Window.unboundedPreceding, 0)
    // next: DESCENDING time with the same tie order, so the running
    // "last source seen" is the nearest following sample (equal t
    // included).
    val wNext = Window.partitionBy("channel").orderBy(col("t").desc, col("isq").asc)
      .rowsBetween(Window.unboundedPreceding, 0)

    val srcT = when(col("isq") === 0, col("t"))
    val srcV = when(col("isq") === 0, col("v"))

    val withBrackets = u
      .withColumn("pt", last(srcT, ignoreNulls = true).over(wPrev))
      .withColumn("pv", last(srcV, ignoreNulls = true).over(wPrev))
      .withColumn("nt", last(srcT, ignoreNulls = true).over(wNext))
      .withColumn("nv", last(srcV, ignoreNulls = true).over(wNext))
      .filter(col("isq") === 1)

    val interp = kind match {
      case "linear" | "slinear" =>
        when(col("pt") === col("nt"), col("pv"))
          .otherwise(col("pv") +
            (col("nv") - col("pv")) * (col("t") - col("pt")) / (col("nt") - col("pt")))
      case "nearest" =>
        when(col("t") - col("pt") <= col("nt") - col("t"), col("pv")).otherwise(col("nv"))
      case "nearest-up" =>
        when(col("t") - col("pt") < col("nt") - col("t"), col("pv")).otherwise(col("nv"))
      case "previous" | "zero" => col("pv")
      case "next" => col("nv")
      case other => throw new IllegalArgumentException(s"unsupported interp kind: $other")
    }

    val outOfRange =
      if (boundsError)
        raise_error(concat(lit("A value in x_new is out of the interpolation range: t="),
          col("t"), lit(" channel="), col("channel"))).cast("double")
      else lit(null).cast("double")
    withBrackets
      .withColumn("v", when(col("pt").isNull || col("nt").isNull, outOfRange)
        .otherwise(interp))
      .select("channel", "t", "v")
  }

  // cogroup row shapes (NOT private: Dataset encoders need access)
  case class SrcChunk(channel: String, chunk: Long, t: Double, v: Double)
  case class QryChunk(channel: String, chunk: Long, t: Double)

  /** Cubic (not-a-knot) / quadratic spline interpolation, CHUNK
    * PARALLEL within a channel (SURVEY §2.11; the round-2 design had
    * one whole-channel task per channel — the last sequential kernel).
    *
    * The spline's tridiagonal system is strictly diagonally dominant
    * (row dominance factor 2), so the influence of a knot on the
    * solved coefficients decays geometrically with knot distance — at
    * worst ~(1/2)^(k/2) per k knots, empirically (2-sqrt(3))^k ≈
    * 0.27^k for near-uniform spacing. Each chunk therefore solves an
    * independent spline over its knots EXTENDED by `margin` knots on
    * each side and evaluates only its own core queries: with the
    * default margin 128 the boundary-condition error at any core
    * point is below 2^-64 x the local value scale — far under the
    * 1e-12 parity contract with the whole-channel solve (and the
    * single-chunk case, any channel with <= chunkKnots samples, is
    * bit-identical by construction).
    *
    * Query-to-chunk routing reuses the linear path's union trick: a
    * running count of source rows gives every query row the rank of
    * its preceding source sample in O(n), no per-row lookups.
    */
  private[graft] def interp1dSpline(src: DataFrame, query: DataFrame,
                                    kind: String = "cubic",
                                    boundsError: Boolean = false,
                                    chunkKnots: Int = 8192,
                                    margin: Int = 128): DataFrame = {
    require(kind == "cubic",
      "overlap-margin chunking is only valid for the cubic spline (dominance-decay " +
        "argument); quadratic routes through interp1dQuadraticWindowed")
    require(margin >= 1 && margin <= chunkKnots, "margin must be in [1, chunkKnots]")
    val spark = src.sparkSession
    import spark.implicits._

    val s = src.select(col("channel"), col("t").cast("double").as("t"),
      col("v").cast("double").as("v"), lit(0).as("isq"))
    val q = query.select(col("channel"), col("t").cast("double").as("t"),
      lit(null).cast("double").as("v"), lit(1).as("isq"))
    val u = s.unionByName(q)

    // running frames, same tie order as the linear path: a source row
    // at the same t as a query row sorts before it, so an exact hit
    // is its own "previous" sample
    val wPrev = Window.partitionBy("channel").orderBy(col("t").asc, col("isq").asc)
      .rowsBetween(Window.unboundedPreceding, 0)
    val wNext = Window.partitionBy("channel").orderBy(col("t").desc, col("isq").asc)
      .rowsBetween(Window.unboundedPreceding, 0)

    val ranked = u
      // for a source row: its own 1-based rank among sources; for a
      // query row: the count of sources at-or-before it (0 = before
      // the first source). NaN query t sorts after everything: nsrc is
      // the full count but hasNext below is null -> out of range,
      // matching the whole-channel path's NaN contract.
      .withColumn("nsrc", sum(when(col("isq") === 0, 1L).otherwise(0L)).over(wPrev))
      .withColumn("hasNext", last(when(col("isq") === 0, lit(1)), ignoreNulls = true).over(wNext))

    val srcRanked = ranked.filter(col("isq") === 0)
      .select(col("channel"), col("t"), col("v"), (col("nsrc") - 1).as("rn"))
    val queries = ranked.filter(col("isq") === 1)
    // hasNext is 1 or NULL (never 0): use isNotNull so inRange is a
    // real boolean. `hasNext === 1` is SQL NULL for above-range/NaN
    // queries, which fails BOTH filter(inRange) and filter(!inRange)
    // below — silently dropping those rows instead of NULL-filling.
    val inRange = col("nsrc") >= 1 && col("hasNext").isNotNull

    // each source row lands in its core chunk plus (within margin of a
    // boundary) the neighbor chunk; chunk indices stay in range
    val c0 = floor(col("rn") / lit(chunkKnots)).cast("long")
    val posInChunk = pmod(col("rn"), lit(chunkKnots.toLong))
    val srcChunks = srcRanked
      .withColumn("maxChunk",
        floor((count(lit(1)).over(Window.partitionBy("channel")) - 1) / lit(chunkKnots))
          .cast("long"))
      .select(col("channel"), col("t"), col("v"), col("maxChunk"),
        explode(array(c0,
          when(posInChunk < margin, c0 - 1),
          when(posInChunk >= chunkKnots - margin, c0 + 1))).as("chunk"))
      .filter(col("chunk").isNotNull && col("chunk") >= 0 && col("chunk") <= col("maxChunk"))
      .select(col("channel"), col("chunk"), col("t"), col("v")).as[SrcChunk]

    val qryChunks = queries.filter(inRange)
      .select(col("channel"), floor((col("nsrc") - 1) / lit(chunkKnots)).cast("long").as("chunk"),
        col("t")).as[QryChunk]

    val interpolated = srcChunks.groupByKey(r => (r.channel, r.chunk))
      .cogroup(qryChunks.groupByKey(r => (r.channel, r.chunk))) { case ((ch, _), srcIt, qIt) =>
        val qArr = qIt.map(_.t).toArray
        if (qArr.isEmpty) Iterator.empty
        else {
          java.util.Arrays.sort(qArr)
          val srcArr = srcIt.toArray.sortBy(_.t)
          val xs = srcArr.map(_.t)
          val ys = srcArr.map(_.v)
          val vals = graft.dsp.CubicSpline.interpolate(xs, ys, qArr)
          Iterator.tabulate(qArr.length)(i => (ch, qArr(i), Option(vals(i))))
        }
      }.toDF("channel", "t", "v")

    // out-of-range query rows keep the window-path contract: NULL v,
    // or raise under boundsError (scipy bounds_error=True)
    val oorV =
      if (boundsError)
        raise_error(concat(lit("A value in x_new is out of the interpolation range: t="),
          col("t"), lit(" channel="), col("channel"))).cast("double")
      else lit(null).cast("double")
    val oor = queries.filter(!inRange)
      .select(col("channel"), col("t"), oorV.as("v"))
    interpolated.unionByName(oor)
  }

  /** C1 quadratic spline interpolation as a PURE WINDOWED PLAN — no
    * per-channel kernel at all. The slope recurrence
    * `m_{k+1} = 2*s_k - m_k` (`CubicSpline.interpolateQuadratic`) has
    * |lambda| = 1: no geometric decay, so the cubic overlap-margin
    * chunking can NEVER converge for it. But the recurrence has the
    * closed form
    *
    *   m_k = (-1)^k * (m_0 - sum_{j<k} 2*(-1)^j * s_j)
    *
    * — a running prefix sum, i.e. one O(n) incremental window pass per
    * channel, the same scale shape as the linear kinds. m_0 is the
    * first-three-points parabola seed, mirrored term for term from the
    * kernel; results agree with the sequential recurrence to the fp
    * reassociation error (~k ulps), not bit-for-bit.
    */
  private[graft] def interp1dQuadraticWindowed(src: DataFrame, query: DataFrame,
                                               boundsError: Boolean): DataFrame = {
    val wOrd = Window.partitionBy("channel").orderBy("t")
    val wAll = Window.partitionBy("channel")
    val wCum = wOrd.rowsBetween(Window.unboundedPreceding, -1)

    def nthT(k: Int) = max(when(col("rn") === k, col("t"))).over(wAll)
    def nthV(k: Int) = max(when(col("rn") === k, col("v"))).over(wAll)
    val withM = src
      .select(col("channel"), col("t").cast("double").as("t"), col("v").cast("double").as("v"))
      .withColumn("rn", row_number().over(wOrd).cast("long") - 1)
      .withColumn("s", (lead("v", 1).over(wOrd) - col("v")) /
        (lead("t", 1).over(wOrd) - col("t")))
      .withColumn("x0", nthT(0)).withColumn("x1", nthT(1)).withColumn("x2", nthT(2))
      .withColumn("y0", nthV(0)).withColumn("y1", nthV(1)).withColumn("y2", nthV(2))
      .withColumn("h0", col("x1") - col("x0"))
      .withColumn("h1", col("x2") - col("x1"))
      .withColumn("sA", (col("y1") - col("y0")) / col("h0"))
      .withColumn("sB", (col("y2") - col("y1")) / col("h1"))
      // the kernel's parabola seed, same association:
      // m0 = s0 - (s1 - s0) / (h0 + h1) * h0
      .withColumn("m0", col("sA") - (col("sB") - col("sA")) / (col("h0") + col("h1")) * col("h0"))
      .withColumn("sign", (lit(1L) - lit(2L) * pmod(col("rn"), lit(2L))).cast("double"))
      .withColumn("a", lit(2.0) * col("sign") * col("s"))
      .withColumn("m", col("sign") * (col("m0") - coalesce(sum("a").over(wCum), lit(0.0))))

    val s = withM.select(col("channel"), col("t"), col("v"), col("m"), lit(0).as("isq"))
    val q = query.select(col("channel"), col("t").cast("double").as("t"),
      lit(null).cast("double").as("v"), lit(null).cast("double").as("m"), lit(1).as("isq"))
    val u = s.unionByName(q)

    val wPrev = Window.partitionBy("channel").orderBy(col("t").asc, col("isq").asc)
      .rowsBetween(Window.unboundedPreceding, 0)
    val wNext = Window.partitionBy("channel").orderBy(col("t").desc, col("isq").asc)
      .rowsBetween(Window.unboundedPreceding, 0)
    val srcT = when(col("isq") === 0, col("t"))
    val srcV = when(col("isq") === 0, col("v"))
    val srcM = when(col("isq") === 0, col("m"))

    val withBrackets = u
      .withColumn("cnt", sum(when(col("isq") === 0, 1L).otherwise(0L)).over(wAll))
      .withColumn("pt", last(srcT, ignoreNulls = true).over(wPrev))
      .withColumn("pv", last(srcV, ignoreNulls = true).over(wPrev))
      .withColumn("pm", last(srcM, ignoreNulls = true).over(wPrev))
      .withColumn("nt", last(srcT, ignoreNulls = true).over(wNext))
      .withColumn("nv", last(srcV, ignoreNulls = true).over(wNext))
      .filter(col("isq") === 1)

    val h = col("nt") - col("pt")
    val d = col("t") - col("pt")
    // mirrors the kernel's evaluation, same association:
    // y(lo) + m(lo)*d + (((y(hi)-y(lo))/h - m(lo))/h) * d * d
    val quad = col("pv") + col("pm") * d + ((col("nv") - col("pv")) / h - col("pm")) / h * d * d
    val lin = col("pv") + (col("nv") - col("pv")) * d / h
    val outOfRange =
      if (boundsError)
        raise_error(concat(lit("A value in x_new is out of the interpolation range: t="),
          col("t"), lit(" channel="), col("channel"))).cast("double")
      else lit(null).cast("double")
    withBrackets
      .withColumn("v",
        when(col("pt").isNull || col("nt").isNull, outOfRange)
          .when(col("pt") === col("nt"), col("pv"))
          // n == 2: the kernel falls back to linear (no third point to
          // seed the parabola). CaseWhen is lazy per row, so the h/d
          // divisions in unused branches never execute.
          .when(col("cnt") === 2, lin)
          .otherwise(quad))
      .select("channel", "t", "v")
  }

  /** Uniform-rate resample (`extension.py:853-894`): per channel,
    * np.arange(t0, tEnd, 1/sampleRate) — half-open, excluding tEnd —
    * then interpolation at the grid. The grid is in-range by
    * construction, matching the reference's bounds_error-free path;
    * a grid point that rounds past the last sample reads NULL.
    *
    * The cubic kind gathers each channel once and solves one
    * whole-channel spline, streaming the grid (`resampleCubic`); the
    * other kinds interpolate at the distributed `resampleGrid`.
    */
  def resample(src: DataFrame, sampleRate: Double, kind: String = "linear"): DataFrame = {
    val step = 1.0 / sampleRate
    if (kind == "cubic") resampleCubic(src, step)
    else interp1d(src, resampleGrid(src, step), kind)
  }

  /** The cubic resample on each channel's gathered arrays: the grid is
    * `resampleGrid`'s (t0 + k*step for k < ceil((t1 - t0)/step)), and
    * every grid point outside [t0, t1] reads NULL, as in
    * `interp1dSpline`. Same values as `interp1dSpline` on that grid,
    * bit for bit on channels of at most its `chunkKnots` samples and
    * within its chunk-margin bound beyond.
    */
  private def resampleCubic(src: DataFrame, step: Double): DataFrame = {
    val spark = src.sparkSession
    import spark.implicits._
    PerChannel.transform[(String, Double, Option[Double])](src) { (ch, ts, vs) =>
      val t0 = ts(0)
      val t1 = ts(ts.length - 1)
      val n = math.ceil((t1 - t0) / step).toLong
      if (n <= 0) Iterator.empty
      else {
        val spline = graft.dsp.CubicSpline.interpolator(ts, vs)
        (0L until n).iterator.map { k =>
          val t = t0 + k * step
          (ch, t, if (t < t0 || t > t1) None else Some(spline(t)))
        }
      }
    }.toDF("channel", "t", "v")
  }

  /** The np.arange grid as a DataFrame (channel, t), generated in TWO
    * levels: an outer block sequence, a repartition spreading blocks
    * across tasks, then an inner per-block sequence. A single-level
    * explode materializes one n-element array per channel in one task
    * — multi-GB for a long channel at scale, and `sequence` caps near
    * 2^31 elements. Two levels bound any one array at `blockSize` and
    * parallelize grid creation across (channel, block). t is computed
    * from the GLOBAL index k, so values are bit-identical to the
    * single-level form (np.arange semantics, `extension.py:880-887`).
    */
  def resampleGrid(src: DataFrame, step: Double, blockSize: Long = 1L << 16): DataFrame =
    src.groupBy("channel")
      .agg(min("t").as("t0"), max("t").as("t1"))
      .withColumn("n", ceil((col("t1") - col("t0")) / lit(step)).cast("long"))
      .filter(col("n") > 0)
      .select(col("channel"), col("t0"), col("n"),
        explode(sequence(lit(0L), floor((col("n") - 1) / lit(blockSize)))).as("blk"))
      .repartition(col("channel"), col("blk"))
      .select(col("channel"), col("t0"),
        explode(sequence(col("blk") * lit(blockSize),
          least(col("blk") * lit(blockSize) + lit(blockSize - 1), col("n") - 1))).as("k"))
      .select(col("channel"), (col("t0") + col("k") * lit(step)).as("t"))
}
