package graft.signal

import org.apache.spark.sql.{DataFrame, Column}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** A distributed multi-channel time-domain signal.
  *
  * Long ("tidy") layout: one row per sample, schema
  * `(channel: String, t: Double, v: Double)` with `t` in seconds
  * relative to the channel start. This is the Spark-native analog of
  * the reference's pandas Series with a float/datetime index
  * (`extension.py:241-266`); a channel = one Series, and all ordered
  * analytics become window functions over
  * `Window.partitionBy("channel").orderBy("t")` so every operator
  * scales horizontally across channels and stays in whole-stage
  * codegen.
  *
  * `name`/`unit`/`origin` mirror the reference's Series metadata and
  * lineage-name rewriting (`extension.py:28-29,250-251,963-971`).
  */
final case class Signal(df: DataFrame, name: String = "signal", unit: String = "none",
                        origin: Option[java.time.Instant] = None) {

  private def w = Window.partitionBy("channel").orderBy("t")
  private def wAll = Window.partitionBy("channel")

  private def rebuild(newDf: DataFrame, newName: String = name, newUnit: String = unit): Signal =
    Signal(newDf.select(col("channel"), col("t").cast("double"), col("v").cast("double")),
      newName, newUnit, origin)

  /** Inclusive-inclusive time filter (`extension.py:410-434`,
    * `_between` at `extension.py:974-983`). Pure predicate: Catalyst
    * pushes it into the parquet scan.
    */
  def between(start: Double, end: Double): Signal =
    rebuild(df.filter(col("t").between(start, end)))

  /** Constant offset on the time axis (`extension.py:371-392`). */
  def timeshift(offset: Double): Signal =
    rebuild(df.select(col("channel"), (col("t") + lit(offset)).as("t"), col("v")))

  /** Single-pass IIR filter with explicit (b, a) coefficients,
    * declared as a LOGICAL PLAN NODE ([[graft.plans.IirFilter]])
    * rather than eagerly lowered: chained calls fuse into one kernel
    * pass via `GraftRules.FuseIirFilters` (coefficient-polynomial
    * convolution — SURVEY §4's candidate rule), then lower through
    * the PerChannel secondary-sort harness. The rules self-install on
    * the session (idempotent).
    */
  def lfilter(b: Array[Double], a: Array[Double]): Signal = {
    import org.apache.spark.sql.GraftSqlBridge
    graft.plans.GraftRules.ensure(df.sparkSession)
    // chain directly on a prior lfilter's node (no interposed Project,
    // so adjacent nodes stay adjacent for the fusion rule); normalize
    // the frame only when entering from an arbitrary DataFrame
    val child =
      if (GraftSqlBridge.logicalPlan(df).isInstanceOf[graft.plans.IirFilter])
        GraftSqlBridge.logicalPlan(df)
      else GraftSqlBridge.logicalPlan(
        df.select(col("channel"), col("t").cast("double").as("t"),
          col("v").cast("double").as("v")))
    Signal(GraftSqlBridge.dataFrame(df.sparkSession,
      graft.plans.IirFilter(b.toSeq, a.toSeq, child)), name, unit, origin)
  }

  /** Mean over duplicate time values (`extension.py:394-408`). The
    * reference then drops the index entirely (its line 408 quirk); we
    * keep `(channel, t)` — documented divergence (SURVEY §2.5).
    */
  def deduplicate(): Signal =
    rebuild(df.groupBy("channel", "t").agg(avg("v").as("v")))

  /** Per-channel root-mean-square (`extension.py:896-911`,
    * `tools.py:103-120`) — map-side-combinable hash aggregate.
    */
  def rms(): DataFrame =
    df.groupBy("channel").agg(sqrt(avg(col("v") * col("v"))).as("rms"))

  /** Sound pressure level 20*log10(rms/pRef) (`extension.py:913-934`,
    * `tools.py:204-224`).
    */
  def spl(pRef: Double = 20e-6): DataFrame =
    df.groupBy("channel").agg(
      (lit(20.0) * log10(sqrt(avg(col("v") * col("v"))) / lit(pRef))).as("spl"))

  /** Per-channel sample rate with the reference's variability tolerance
    * and integer snap (`extension.py:273-300`); NULL for variable-rate
    * channels (the reference's documented intent — its None path is
    * broken upstream, see SURVEY §2.5).
    */
  def samplerate(): DataFrame = {
    val d = df.withColumn("dt", col("t") - lag("t", 1).over(w)).filter(col("dt").isNotNull)
    d.groupBy("channel")
      .agg(max("dt").as("mx"), min("dt").as("mn"), avg("dt").as("av"))
      .select(col("channel"),
        (lit(1.0) / col("mx")).as("max_sr"),
        (lit(1.0) / col("av")).as("mean_sr"),
        (lit(1.0) / col("mn")).as("min_sr"))
      .withColumn("sr_error", (col("max_sr") - col("min_sr")) / col("min_sr"))
      .withColumn("samplerate",
        when(col("sr_error") > col("min_sr") * lit(0.0001) || isnan(col("sr_error")), lit(null))
          .otherwise(
            when(abs(col("mean_sr") - round(col("mean_sr"))) < lit(0.01) && col("mean_sr") >= 1,
              round(col("mean_sr"))).otherwise(col("mean_sr"))))
      .select("channel", "max_sr", "mean_sr", "min_sr", "samplerate")
  }

  /** Trailing moving RMS over a fixed count of `n` samples, keeping the
    * reference's warm-up trim quirk: drop the first n-1 rows AND the
    * final row (`extension.py:695-697` slices `[window_n-1:-1]`).
    * Row-count flavor of `mov_rms` (`extension.py:664-700`); the
    * time-length flavor (window in seconds at a uniform rate, with the
    * t - window/2 shift) is `movRms`.
    */
  def movRmsN(n: Int): Signal = {
    val frame = w.rowsBetween(-(n - 1), 0)
    val out = df
      .withColumn("rn", row_number().over(w))
      .withColumn("cnt", count(lit(1)).over(wAll))
      .withColumn("mr", sqrt(avg(col("v") * col("v")).over(frame)))
      .filter(col("rn") >= n && col("rn") < col("cnt"))
      .select(col("channel"), col("t"), col("mr").as("v"))
    rebuild(out, s"mov_rms($name,$n)")
  }

  /** Reference-faithful mov_rms: window length in seconds, converted to
    * a sample count via the channel's inferred sample rate
    * (`extension.py:684`), result time axis shifted back by window/2
    * (`extension.py:697`). Requires constant-rate channels: a
    * variable-rate channel fails.
    *
    * One `PerChannel` gather per channel and a sequential pass. The
    * window sum is a difference of running sums of v², with the
    * squares quantized to a per-channel grain and accumulated as
    * LONGs: differencing two ~1e9-magnitude float cumsums is
    * catastrophic cancellation, and the running sum's addition-order
    * drift (segment tree vs sequential) survives in the small
    * difference and flips round-6 ties at scale (r14 sf1 campaign:
    * 1/36k rows vs the oracle's direct 2-row frame). Integer
    * accumulation is associative, so the prefix difference equals the
    * direct window sum EXACTLY in every engine. The grain is
    * [[Signal.grainOf]]`(max(|v|)², cnt)`: relative to the channel's
    * amplitude AND row count, so the long prefix sum stays below 2^63
    * for any channel length (see [[Signal.GrainBits]]). n and the
    * quanta round as SQL `round(x, 0)` does ([[Signal.roundHalfUp]]),
    * so a SQL replay of the same arithmetic matches bit for bit.
    *
    * A NULL v counts as a row (in n's warm-up trim and in cnt), adds
    * a zero quantum and is left out of the max; an output row whose
    * prefix holds no value at all reads NULL.
    */
  def movRms(window: Double): Signal = {
    val spark = df.sparkSession
    import spark.implicits._
    val out = graft.ops.PerChannel.transformNullable[(String, Double, Option[Double])](df) {
      (ch, ts, vs, isNull) =>
        // one sample has no interval and so no sample rate
        if (ts.length < 2) Iterator.empty
        else {
          val sr = graft.dsp.SigMath.samplerate(ts).getOrElse(throw new IllegalStateException(
            s"channel '$ch' has a variable sample rate; resample() it before mov_rms"))
          val n = Math.toIntExact(Signal.roundHalfUp(sr * window))
          require(n >= 1, s"mov_rms window $window s is under half a sample at $sr Hz")
          val cnt = vs.length
          // 0-based index of the first non-NULL v (cnt when there is none)
          val first = isNull.indexOf(false) match { case -1 => cnt; case i => i }
          var mx = 0.0
          var i = first
          while (i < cnt) { if (!isNull(i)) mx = math.max(mx, math.abs(vs(i))); i += 1 }
          val grain = if (first < cnt) Signal.grainOf(mx * mx, cnt.toLong) else Double.NaN
          // cum(k) = quantized sum over rows 1..k (1-based)
          val cum = new Array[Long](cnt + 1)
          i = 0
          while (i < cnt) {
            cum(i + 1) = cum(i) + (if (isNull(i)) 0L else Signal.roundHalfUp(vs(i) * vs(i) / grain))
            i += 1
          }
          // rows n <= rn < cnt: the warm-up and the final row are trimmed
          Iterator.range(n, cnt).map { rn =>
            (ch, ts(rn - 1) - window / 2,
              if (rn <= first) None
              else Some(math.sqrt((cum(rn) - cum(rn - n)).toDouble * grain / n)))
          }
        }
    }.toDF("channel", "t", "v")
    rebuild(out, s"mov_rms($name,$window)")
  }

  /** Cumulative trapezoidal integral with initial 0
    * (`extension.py:702-723`; scipy cumulative_trapezoid parity).
    */
  def integral(): Signal = {
    val seg = (col("v") + lag("v", 1).over(w)) / 2.0 * (col("t") - lag("t", 1).over(w))
    val out = df
      .withColumn("seg", coalesce(seg, lit(0.0)))
      .withColumn("vi", sum("seg").over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .select(col("channel"), col("t"), col("vi").as("v"))
    rebuild(out, s"int($name)", "none")
  }

  /** [[integral]] with the trapezoid segments quantized and
    * accumulated in INTEGER space — the order-free form a
    * distributed engine needs for reproducible long running sums: a
    * float running sum is addition-order-dependent (an engine that
    * sums a window via a segment tree drifts sub-ulp against one
    * summing the frame sequentially, and on 200k-sample channels the
    * drift crosses rounding ties — the r14 sf1 campaign measured
    * 27/1M rows flipping a 0.1-grain round between Spark and DuckDB).
    * Quantized segments make the cumulative sum bit-identical under
    * ANY accumulation order. The grain is RELATIVE to each channel's
    * segment scale AND row count, max(|seg|)·cnt/2^62 (r15 verdict:
    * the count-free max/2^34 grain left an UNGUARDED int64 envelope
    * past 2^28 rows/channel — silent overflow, the same wrong-answer
    * class the amplitude-relative fix killed): per-term quanta are ≤
    * 2^62/cnt, so |prefix sum| ≤ 2^62 + cnt/2 < 2^63 for ANY channel
    * up to 2^53 rows (the double-exactness bound on cnt itself — see
    * [[Signal.GrainBits]]). max/count/multiply/divide-by-2^62 are
    * IEEE-deterministic order-free ops, so any SQL engine derives the
    * identical grain from the same rows. The quantization walk vs the
    * float integral is ≤ max(|seg|)·cnt·2^-63·√n — finer than the
    * old 2^-34 grain for every cnt ≤ 2^28 (sf1: max seg ~1e4, n=1M →
    * four orders inside the old ~3e-4 bound).
    */
  def integralExact(): Signal = {
    val seg = (col("v") + lag("v", 1).over(w)) / 2.0 * (col("t") - lag("t", 1).over(w))
    val mx = max(abs(col("sg"))).over(wAll)
    val cntAll = count(lit(1)).over(wAll)
    val out = df
      .withColumn("sg", coalesce(seg, lit(0.0)))
      .withColumn("grain", Signal.grain(mx, cntAll))
      .withColumn("qseg", round(col("sg") / col("grain"), 0).cast("long"))
      .withColumn("qi", sum("qseg").over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .select(col("channel"), col("t"), (col("qi").cast("double") * col("grain")).as("v"))
    rebuild(out, s"int($name)", "none")
  }

  /** Finite-difference derivative on the midpoint time base; n-1 rows
    * per channel (`extension.py:725-749`).
    */
  def derivative(): Signal = {
    val out = df
      .withColumn("vn", lead("v", 1).over(w))
      .withColumn("tn", lead("t", 1).over(w))
      .filter(col("tn").isNotNull)
      .select(col("channel"),
        ((col("t") + col("tn")) / 2.0).as("t"),
        ((col("vn") - col("v")) / (col("tn") - col("t"))).as("v"))
    rebuild(out, s"diff($name)", "none")
  }

  /** Subtract the mean (`detrend type='constant'`,
    * `extension.py:751-781`).
    */
  def detrendConstant(): Signal =
    rebuild(df.withColumn("v", col("v") - avg("v").over(wAll))
      .select("channel", "t", "v"), s"detrend($name)")

  /** Subtract the least-squares line, closed-form OLS per channel:
    * slope = covar_pop(t,v)/var_pop(t) (`detrend type='linear'`,
    * `extension.py:751-781`). No sequential pass needed — two
    * whole-partition window aggregates.
    */
  def detrendLinear(): Signal = {
    val slope = covar_pop(col("t"), col("v")).over(wAll) / var_pop(col("t")).over(wAll)
    val out = df
      .withColumn("slope", slope)
      .withColumn("icept", avg("v").over(wAll) - col("slope") * avg("t").over(wAll))
      .select(col("channel"), col("t"),
        (col("v") - (col("icept") + col("slope") * col("t"))).as("v"))
    rebuild(out, s"detrend($name)")
  }

  // ---- accessor-parity wrappers over the kernel operators ----------------
  // (same surface a reference user has on series.timedomain.*, with the
  // exact lineage-name rewrites of extension.py)

  /** filt_butter (`extension.py:452-497`); name -> filt(name). */
  def filtButter(cutoff: Seq[Double], order: Int, btype: String): Signal =
    rebuild(graft.ops.Kernels.filtButter(df, cutoff, order, btype), s"filt($name)")

  /** filt_cfc (`extension.py:499-539`); name -> CFC%d(name). */
  def filtCfc(cfc: Double): Signal =
    rebuild(graft.ops.Kernels.filtCfc(df, cfc), s"CFC${cfc.toInt}($name)")

  /** filt_a (`extension.py:541-567`); name -> a_filt(name). */
  def filtA(): Signal =
    rebuild(graft.ops.Kernels.filtA(df), s"a_filt($name)")

  /** get_psd (`extension.py:569-625`); unit -> unit^2/Hz. */
  def getPsd(windowLength: Option[Double] = None, overlap: Double = 0.5,
             windowType: String = "hann", summarize: String = "mean",
             fatigueExponent: Double = 4.0, detrend: String = "constant"): Spectrum =
    Spectrum(graft.ops.Psd.getPsd(df, windowLength, overlap, windowType, summarize,
      fatigueExponent, detrend), name, s"$unit^2/Hz")

  /** get_srs (`extension.py:627-662`); name -> srs(name,Q=...). */
  def getSrs(freq: Array[Double] = null, qualityFactor: Double = 50.0): Spectrum =
    Spectrum(graft.ops.Kernels.srs(df, freq, qualityFactor),
      s"srs($name,Q=$qualityFactor)", unit)

  /** rainflow (`extension.py:936-961`): (channel, rng, cycles) rows. */
  def rainflow(ndigits: Option[Int] = None, nbins: Option[Int] = None,
               binsize: Option[Double] = None): DataFrame =
    graft.ops.Kernels.rainflow(df, ndigits, nbins, binsize)

  /** resample (`extension.py:853-894`); keeps the original name. */
  def resample(sampleRate: Double, interpKind: String = "linear"): Signal =
    rebuild(graft.ops.Interp.resample(df, sampleRate, interpKind))

  /** interp1d (`extension.py:819-851`); name -> interp(name).
    * Default `boundsError = true` is scipy parity (the reference path,
    * `extension.py:992`, leaves scipy's bounds_error=True default):
    * out-of-range grid points raise. Pass `boundsError = false` for
    * the engine-level NULL-fill contract.
    */
  def interp1d(grid: DataFrame, kind: String = "linear",
               boundsError: Boolean = true): Signal =
    rebuild(graft.ops.Interp.interp1d(df, grid, kind, boundsError), s"interp($name)")

  /** Piecewise linear detrend with break points given as sample
    * indices into each channel (scipy.signal.detrend `bp` semantics,
    * `extension.py:751-781`): an independent least-squares line is
    * removed per segment. Segment id is a pure expression (count of
    * breakpoints at or below the row index), so this stays one
    * window-aggregate pass partitioned by (channel, segment).
    */
  def detrendLinear(breakpoints: Seq[Long]): Signal = {
    if (breakpoints.isEmpty) return detrendLinear()
    val rn = row_number().over(w) - 1
    val seg = breakpoints.sorted.foldLeft(lit(0)) { (acc, b) =>
      acc + when(rn >= b, 1).otherwise(0)
    }
    val wSeg = Window.partitionBy("channel", "seg")
    val slope = covar_pop(col("t"), col("v")).over(wSeg) / var_pop(col("t")).over(wSeg)
    val out = df
      .withColumn("seg", seg)
      .withColumn("slope", slope)
      .withColumn("icept", avg("v").over(wSeg) - col("slope") * avg("t").over(wSeg))
      .select(col("channel"), col("t"),
        (col("v") - (col("icept") + col("slope") * col("t"))).as("v"))
    rebuild(out, s"detrend($name)")
  }

  /** Root-sum-square with other signals: equi-join on (channel, t) then
    * sqrt of the sum of squares (`extension.py:783-817`; pandas index
    * alignment = join on the time axis, SURVEY §2.4). The default is
    * the inner join (only timestamps present in every series);
    * `rssOuter` reproduces pandas' outer alignment.
    */
  def rss(others: Signal*): Signal = rssJoin("inner", others)

  /** Pandas outer-alignment rss (`extension.py:801-810`): pandas `+`
    * aligns indexes with an OUTER join, and any timestamp missing from
    * a series contributes NaN to the sum — so unmatched rows appear
    * with a missing value. The engine's missing-value convention is
    * NULL (not NaN), applied via a full outer join on (channel, t)
    * with null-propagating arithmetic.
    */
  def rssOuter(others: Signal*): Signal = rssJoin("full_outer", others)

  private def rssJoin(joinType: String, others: Seq[Signal]): Signal = {
    val base = df.select(col("channel"), col("t"), (col("v") * col("v")).as("ss"))
    val joined = others.zipWithIndex.foldLeft(base) { case (acc, (o, i)) =>
      val od = o.df.select(col("channel"), col("t"), (col("v") * col("v")).as(s"ss_$i"))
      // using-columns join: Spark coalesces the (channel, t) key pair
      // under full_outer, so unmatched rows keep their key
      acc.join(od, Seq("channel", "t"), joinType)
    }
    val total = others.indices.foldLeft(col("ss")) { (c, i) => c + col(s"ss_$i") }
    val nm = (Seq(name) ++ others.map(_.name)).mkString("rss(", ",", ")")
    rebuild(joined.select(col("channel"), col("t"), sqrt(total).as("v")), nm)
  }
}

object Signal {
  /** Quantization denominator for the order-free integer accumulators
    * ([[Signal.movRms]], [[Signal.integralExact]]): per-channel grain
    * = scale · cnt / 2^62, where `scale` is the channel's amplitude
    * bound (max(|v|)² for mov_rms, max(|seg|) for the integral) and
    * `cnt` its row count. Folding the COUNT into the grain is what
    * enforces the int64 bound (r15 verdict: a count-free grain had a
    * documented-but-unguarded 2^28-rows/channel envelope — silent
    * overflow past it): per-term quanta are ≤ scale/grain = 2^62/cnt,
    * so any prefix sum satisfies |Σ| ≤ cnt·(2^62/cnt + ½) =
    * 2^62 + cnt/2 < 2^63 for EVERY channel length — no run-time guard
    * needed because no reachable length overflows. The derivation
    * stays engine-replayable: count is exact in a double up to 2^53
    * rows/channel (9e15 rows ≈ 300 years at 1 MHz — unreachable; at
    * 2^53 the accumulator bound still holds, only grain EXACTNESS
    * would degrade), max and the two multiplies round identically
    * under IEEE-754 in any engine, and the 2^62 divide is exact. A
    * power of two so no precision is lost in the final scaling.
    * Fidelity: grain/scale = cnt/2^62 ≤ the old 2^-34 for every
    * cnt ≤ 2^28, and coarsens gracefully (√cnt-relative walk stays
    * ≤ 2^-63·cnt^1.5 of scale·n) instead of overflowing beyond.
    */
  val GrainBits: Int = 62
  val GrainDenom: Double = 4611686018427387904.0 // = 2^62, exactly representable

  /** The single grain derivation both integer accumulators use —
    * Column form for `integralExact`'s plan, scalar form
    * ([[grainOf]]) for the `movRms` kernel and in-JVM replays
    * (Round16Spec pins the two bit-identical, and pins the int64
    * bound across channel lengths far past the old 2^28 envelope).
    * Operand order matters: (scale · cnt) / 2^62, left-associative,
    * so every engine performs the identical two IEEE roundings.
    */
  def grain(scale: Column, cnt: Column): Column = {
    // test the COMPUTED grain for zero, not the scale: a subnormal
    // scale can underflow the product to 0.0 while scale ≠ 0, and the
    // two tests would then diverge between engines
    val g = scale * cnt / lit(GrainDenom)
    // a non-finite grain (scale·cnt overflowing past ~1.8e308, or a
    // NaN in the signal's max) must fail LOUDLY: round(x / Inf) = 0
    // would silently zero the whole channel instead
    when(g === lit(0.0), lit(1.0))
      .when(g.isNaN || abs(g) === lit(Double.PositiveInfinity),
        raise_error(concat(lit("graft: non-finite quantization grain (scale="),
          scale.cast("string"), lit(", cnt="), cnt.cast("string"), lit(")"))))
      .otherwise(g)
  }
  /** Spark's `round(x, 0).cast("long")` on a double: HALF_UP on the
    * shortest decimal of x (`BigDecimal.valueOf`), back to a double,
    * then truncated — the double step matters above 1e16, where the
    * shortest decimal is not the double's exact value.
    */
  private[graft] def roundHalfUp(x: Double): Long =
    java.math.BigDecimal.valueOf(x).setScale(0, java.math.RoundingMode.HALF_UP)
      .doubleValue().toLong

  def grainOf(scale: Double, cnt: Long): Double = {
    val g = scale * cnt / GrainDenom
    require(!g.isNaN && !g.isInfinite,
      s"graft: non-finite quantization grain (scale=$scale, cnt=$cnt)")
    if (g == 0.0) 1.0 else g
  }
}
