package graft
package queries

import org.apache.spark.sql.{SparkSession, DataFrame}
import org.apache.spark.sql.functions._

import graft.signal.Signal
import graft.ops.{Interp, Kernels, Psd}
import graft.Substrates.{ev, evUniform, ideFixture, ideWriteFixture, welchRmsBase}
import graft.SparkEntry.{SRC, uniformSql}

/** Kernel operators (FFT, IIR, SRS, rainflow, splines, WAV and .ide
  * round trips), checked against DuckDB replays of the same arithmetic
  * (direct DFT, recursive-CTE recurrences, see [[graft.OracleDsp]]).
  */
object KernelQueries {

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("k_iir_fused", (s, dir) => {
      // two cascaded Butterworth lowpasses declared as PLAN NODES
      // (Signal.lfilter → graft.plans.IirFilter): FuseIirFilters
      // convolves the transfer polynomials so ONE PerChannel kernel
      // pass runs the order-4 cascade (plan-asserted in Round9Spec);
      // the oracle replays the FUSED recurrence
      val (b1, a1) = graft.dsp.FilterDesign.butter(2, 0.25, "lowpass")
      val (b2, a2) = graft.dsp.FilterDesign.butter(2, 0.5, "lowpass")
      Signal(evUniform(s, dir)).lfilter(b1, a1).lfilter(b2, a2).df
    }, {
      val (b1, a1) = graft.dsp.FilterDesign.butter(2, 0.25, "lowpass")
      val (b2, a2) = graft.dsp.FilterDesign.butter(2, 0.5, "lowpass")
      OracleDsp.lfilterUniformSql(uniformSql(3600.0),
        graft.plans.GraftRules.convolve(b1.toSeq, b2.toSeq).toArray,
        graft.plans.GraftRules.convolve(a1.toSeq, a2.toSeq).toArray)
    }),

    // -- kernel operators, FFT family: oracle-backed via an O(n*nf)
    // DuckDB DFT over the same uniform grid. The FFT (radix-2 /
    // Bluestein) and the direct DFT agree to ~1e-13 relative, so p is
    // compared as a 5-significant-digit scientific string (Java
    // format_string and C printf produce identical %.4e output —
    // verified over magnitude range 1e-300..1e30); freq is bit-exact
    // (k * sr / n replicated literally) --
    QuerySpec("k_resample_psd_periodogram", (s, dir) =>
      Psd.getPsd(evUniform(s, dir))
        .select(col("channel"), col("freq"), format_string("%.4e", col("p")).as("p")),
      // -- the real FFT pipeline, oracled via direct DFT --
      periodogramSql),
    QuerySpec("k_psd_welch_mean", (s, dir) =>
      Psd.summarizeAll(welchBase(s, dir), "mean").filter(col("freq") > 0)
        .select(col("channel"), col("freq"), format_string("%.4e", col("p")).as("p")),
      welchSummarizeSql("avg(p)")),
    QuerySpec("k_psd_welch_max", (s, dir) =>
      Psd.summarizeAll(welchBase(s, dir), "max").filter(col("freq") > 0)
        .select(col("channel"), col("freq"), format_string("%.4e", col("p")).as("p")),
      welchSummarizeSql("max(p)")),
    QuerySpec("k_psd_welch_min", (s, dir) =>
      Psd.summarizeAll(welchBase(s, dir), "min").filter(col("freq") > 0)
        .select(col("channel"), col("freq"), format_string("%.4e", col("p")).as("p")),
      welchSummarizeSql("min(p)")),
    QuerySpec("k_psd_welch_boxcar", (s, dir) =>
      Psd.getPsd(evUniform(s, dir), windowLength = Some(432000.0), windowType = "boxcar")
        .select(col("channel"), col("freq"), format_string("%.4e", col("p")).as("p")),
      welchSummarizeSql("avg(p)", window = "boxcar")),
    QuerySpec("k_psd_welch_median", (s, dir) =>
      Psd.summarizeAll(welchBase(s, dir), "median").filter(col("freq") > 0)
        .select(col("channel"), col("freq"), format_string("%.4e", col("p")).as("p")),
      welchSummarizeSql("median(p)")),
    QuerySpec("k_psd_welch_all", (s, dir) =>
      Psd.summarizeAll(welchBase(s, dir), "all").filter(col("freq") > 0)
        .select(col("channel"), col("w"), col("freq"),
          format_string("%.4e", col("p")).as("p")),
      s"""WITH ${welchSubSql("hann", "constant")}
         |SELECT channel, w, freq, printf('%.4e', p) AS p FROM sub WHERE freq > 0""".stripMargin),
    QuerySpec("k_psd_welch_maxrms", (s, dir) =>
      Psd.rescale(welchRmsBase(s, dir), "max rms", 4.0).filter(col("freq") > 0)
        .select(col("channel"), col("freq"), format_string("%.4e", col("p")).as("p")),
      welchRescaleSql("max(max_sub_rms) OVER (PARTITION BY channel)")),
    QuerySpec("k_psd_welch_damage", (s, dir) =>
      Psd.rescale(welchRmsBase(s, dir), "damage", 4.0).filter(col("freq") > 0)
        .select(col("channel"), col("freq"), format_string("%.4e", col("p")).as("p")),
      welchRescaleSql("pow(max(mean_rms_pow) OVER (PARTITION BY channel), 0.25)")),
    QuerySpec("k_filt_butter", (s, dir) =>
      Kernels.filtButter(evUniform(s, dir), Seq(3.0e-5), order = 4, btype = "lowpass"), {
      // -- sequential IIR/SRS kernels, oracled via recursive CTEs that
      // replay the exact DFIIt recurrence (bit-exact; see OracleDsp) --
      val (b, a) = kernelButter(Seq(3.0e-5), "lowpass")
      OracleDsp.filtfiltUniformSql(uniformSql(3600.0), b, a)
    }),
    QuerySpec("k_filt_cfc", (s, dir) =>
      Kernels.filtCfc(evUniform(s, dir), cfc = 2.0e-5), {
      val (b, a) = graft.dsp.FilterDesign.cfcCoefficients(2.0e-5, 1.0 / UNI_SR)
      OracleDsp.filtfiltUniformSql(uniformSql(3600.0), b, a)
    }),
    QuerySpec("k_filt_a", (s, dir) => Kernels.filtA(evUniform(s, dir)), {
      val (b, a) = graft.dsp.FilterDesign.aWeighting(UNI_SR)
      OracleDsp.lfilterUniformSql(uniformSql(3600.0), b, a)
    }),
    QuerySpec("k_filt_butter_hp", (s, dir) =>
      Kernels.filtButter(evUniform(s, dir), Seq(5.0e-5), order = 4, btype = "highpass"), {
      val (b, a) = kernelButter(Seq(5.0e-5), "highpass")
      OracleDsp.filtfiltUniformSql(uniformSql(3600.0), b, a)
    }),
    QuerySpec("k_filt_butter_bp", (s, dir) =>
      Kernels.filtButter(evUniform(s, dir), Seq(2.0e-5, 8.0e-5), order = 4, btype = "bandpass"), {
      val (b, a) = kernelButter(Seq(2.0e-5, 8.0e-5), "bandpass")
      OracleDsp.filtfiltUniformSql(uniformSql(3600.0), b, a)
    }),
    QuerySpec("k_srs", (s, dir) =>
      Kernels.srs(evUniform(s, dir), Array(1e-5, 2e-5, 5e-5, 1e-4), qualityFactor = 50.0),
      OracleDsp.srsUniformSql(uniformSql(3600.0),
        Array(1e-5, 2e-5, 5e-5, 1e-4), 3600.0, 50.0)),
    QuerySpec("k_rainflow", (s, dir) => Kernels.rainflow(ev(s, dir), ndigits = Some(1)),
      // -- rainflow: the full cycle extraction replayed as a DuckDB
      // stack machine (bit-exact), then the ndigits/nbins/binsize
      // keying (extension.py:944-959) --
      s"""WITH RECURSIVE $rainflowCyclesSql
         |SELECT channel, roundbankers(rng * 10.0, 0) / 10.0 AS rng, sum(cnt) AS cycles
         |FROM cycles GROUP BY channel, roundbankers(rng * 10.0, 0) / 10.0""".stripMargin),
    QuerySpec("k_rainflow_binned", (s, dir) => Kernels.rainflow(ev(s, dir), nbins = Some(10)),
      s"""WITH RECURSIVE $rainflowCyclesSql,
         |sized AS (
         |  SELECT channel, rng, cnt, max(rng) OVER (PARTITION BY channel) / 10 AS size
         |  FROM cycles
         |)
         |SELECT channel, greatest(ceil(rng / size), 1) * size AS rng, sum(cnt) AS cycles
         |FROM sized GROUP BY channel, greatest(ceil(rng / size), 1) * size""".stripMargin),
    QuerySpec("k_rainflow_binsize", (s, dir) => Kernels.rainflow(ev(s, dir), binsize = Some(25.0)),
      s"""WITH RECURSIVE $rainflowCyclesSql
         |SELECT channel, greatest(ceil(rng / 25.0), 1) * 25.0 AS rng, sum(cnt) AS cycles
         |FROM cycles GROUP BY channel, greatest(ceil(rng / 25.0), 1) * 25.0""".stripMargin),
    QuerySpec("k_psd_welch_detrend_linear", (s, dir) =>
      Psd.getPsd(evUniform(s, dir), windowLength = Some(432000.0), detrend = "linear")
        .select(col("channel"), col("freq"), format_string("%.4e", col("p")).as("p")),
      welchSummarizeSql("avg(p)", detrend = "linear")),
    QuerySpec("k_wav_roundtrip", (s, dir) => {
      // sink one channel to a WAV, read it back through the DSv2
      // source with frame-range partition splits
      val one = evUniform(s, dir).filter(col("channel") === "click")
      val tmp = new java.io.File(System.getProperty("java.io.tmpdir"), "graft_bench.wav")
      graft.sources.WavSink.writeWav(tmp.getAbsolutePath, 1000, one)
      s.read.format(graft.sources.WavSource.NAME).option("partitionFrames", 4096L)
        .load(tmp.getAbsolutePath).filter(col("ch") === 0)
    },
      // -- WAV roundtrip: float64 WAV is lossless, so the read-back
      // equals the uniform 'click' channel re-indexed to frame time --
      s"""WITH ${uniformSql(3600.0)}
         |SELECT CAST(0 AS INT) AS ch,
         |       CAST(row_number() OVER (ORDER BY t) - 1 AS DOUBLE) / 1000 AS t, v
         |FROM u WHERE channel = 'click'""".stripMargin),
    QuerySpec("k_ide_write_roundtrip", (s, dir) => {
      // the DISTRIBUTED write path: the uniform channels leave as a
      // plain (ch, sub, t, v) DataFrame through the DSv2 writer (one
      // rollover file per partition; Spark inserts the cluster/sort
      // the writer declares) and come back through the directory
      // reader — bit-exact, same oracle family as k_ide_roundtrip
      val path = ideWriteFixture(s, dir)
      graft.signal.Ide.read(s, path, partitionBytes = 8192)
        .join(broadcast(graft.signal.Ide.channels(s, path)), Seq("ch", "sub"))
        .select(col("name"), col("t"), col("v"))
    },
      // the writer infers names as ch<k> with k assigned in sorted
      // channel-name order — dense_rank reproduces the numbering
      s"""WITH ${uniformSql(3600.0)}
         |SELECT 'ch' || CAST(dense_rank() OVER (ORDER BY channel) - 1 AS VARCHAR) AS name,
         |       CAST(row_number() OVER (PARTITION BY channel ORDER BY t) - 1 AS DOUBLE)
         |         / 1000 AS t, v
         |FROM u""".stripMargin),
    QuerySpec("k_ide_roundtrip", (s, dir) => {
      // sink every uniform channel to a native .ide recording, read
      // it back through the DSv2 source with block-group partition
      // splits; float64 payloads make the round-trip bit-exact
      val path = ideFixture(s, dir)
      graft.signal.Ide.read(s, path, partitionBytes = 8192)
        .join(broadcast(graft.signal.Ide.channels(s, path)), Seq("ch", "sub"))
        .select(col("name"), col("t"), col("v"))
    },
      // -- native .ide roundtrip: float64 blocks on a constant-rate
      // writer land samples on the exact integer-microsecond 1 kHz
      // grid, so read-back t is (rn-1)/1000 bit-exactly --
      s"""WITH ${uniformSql(3600.0)}
         |SELECT channel AS name,
         |       CAST(row_number() OVER (PARTITION BY channel ORDER BY t) - 1 AS DOUBLE)
         |         / 1000 AS t, v
         |FROM u""".stripMargin),
    // %.4e: the whole-channel spline solve (one PerChannel gather) and
    // the quadratic's windowed prefix sum are compared with the
    // oracle's sequential replay at 5 significant digits
    QuerySpec("k_resample_cubic", (s, dir) =>
      Interp.resample(ev(s, dir), 1.0 / 1000.0, "cubic")
        .select(col("channel"), col("t"), format_string("%.4e", col("v")).as("v")),
      // -- spline resamples: Thomas solve / slope prefix sum replayed
      // in SQL (see OracleDsp) --
      OracleDsp.cubicResampleSql(SRC, 1000.0)),
    QuerySpec("k_resample_quadratic", (s, dir) =>
      Interp.resample(ev(s, dir), 1.0 / 1000.0, "quadratic")
        .select(col("channel"), col("t"), format_string("%.4e", col("v")).as("v")),
      OracleDsp.quadraticResampleSql(SRC, 1000.0)),
    QuerySpec("k_filtfilt_parallel", (s, dir) => {
      val sr = 1.0 / 3600.0
      val (b, a) = graft.dsp.FilterDesign.butter(2, (sr / 8) / (sr / 2), "lowpass")
      // %.4e: the chunk state handoff reassociates fp vs the
      // sequential recurrence the oracle replays (~1e-13 relative)
      graft.ops.ParallelIIR.filtfiltDistributed(evUniform(s, dir), b, a, chunk = 500)
        .select(col("channel"), col("t"), format_string("%.4e", col("v")).as("v"))
    }, {
      val (b, a) = graft.dsp.FilterDesign.butter(2, (UNI_SR / 8) / (UNI_SR / 2), "lowpass")
      OracleDsp.filtfiltNoPadUniformSql(uniformSql(3600.0), b, a,
        vExpr = "printf('%.4e', b.y)")
    }),
    QuerySpec("k_srs_freq_parallel", (s, dir) =>
      Kernels.srsParallel(evUniform(s, dir),
        Array(1e-5, 2e-5, 3e-5, 5e-5, 7e-5, 1e-4, 1.3e-4), freqChunk = 2),
      OracleDsp.srsUniformSql(uniformSql(3600.0),
        Array(1e-5, 2e-5, 3e-5, 5e-5, 7e-5, 1e-4, 1.3e-4), 3600.0, 50.0)),
    QuerySpec("k_iir_parallel", (s, dir) => {
      // chunk-parallel lowpass over the uniform grid: exercises the
      // linear-recurrence scan (parallelism WITHIN a channel); %.4e
      // as in k_filtfilt_parallel
      val sr = 1.0 / 3600.0
      val (b, a) = graft.dsp.FilterDesign.butter(2, (sr / 8) / (sr / 2), "lowpass")
      graft.ops.ParallelIIR.lfilterDistributed(evUniform(s, dir), b, a, chunk = 500)
        .select(col("channel"), col("t"), format_string("%.4e", col("v")).as("v"))
    }, {
      val (b, a) = graft.dsp.FilterDesign.butter(2, (UNI_SR / 8) / (UNI_SR / 2), "lowpass")
      OracleDsp.lfilterUniformSql(uniformSql(3600.0), b, a,
        vExpr = "printf('%.4e', f.y)")
    })
  )

  /** The plain sub-PSD view is the seg_rms table minus one column —
    * derive it instead of materializing the FFT pipeline twice.
    */
  private def welchBase(s: SparkSession, dir: String): DataFrame =
    welchRmsBase(s, dir).drop("seg_rms")

  /** The uniform grid's exact sample rate (dt is exactly 3600.0 —
    * t = k*3600 from t0 = 0 — so every kernel's inferred sr is this
    * same double) and its DOUBLE SQL literal. Scientific notation is
    * required: DuckDB parses plain decimal literals as DECIMAL, which
    * silently changes downstream arithmetic by 1 ulp.
    */
  private val UNI_SR = 1.0 / 3600.0
  private val SR_LIT = f"$UNI_SR%.17e"

  /** The exact (b, a) `Kernels.filtButter` computes on the uniform
    * grid: order halved (ceil), cutoffs normalized by the kernel's
    * own nyq expression.
    */
  private def kernelButter(cutoff: Seq[Double],
                           btype: String): (Array[Double], Array[Double]) = {
    val nyq = 0.5 * UNI_SR
    graft.dsp.FilterDesign.butter(2, cutoff.map(_ / nyq).toArray, btype)
  }

  /** DuckDB sub-PSD mirror of `Psd.welchAll` over the uniform grid
    * (hann/boxcar window, constant/linear per-segment detrend,
    * nWindow=120 / step=60 — integer-exact from sr*432000): produces
    * CTEs `sub(channel, w, freq, p)` via a direct DFT. The FFT<->DFT
    * difference is ~1e-13 relative, far under the %.4e compare.
    */
  private def welchSubSql(window: String, detrend: String): String = {
    val win = window match {
      case "boxcar" => "1.0"
      case _ => "0.5 - 0.5 * cos(2 * pi() * idx / 120)"
    }
    val slope = "(sum((idx - 59.5) * v) OVER sw / sum((idx - 59.5) * (idx - 59.5)) OVER sw)"
    val detrendExpr = detrend match {
      case "constant" => "v - avg(v) OVER sw"
      case "linear" => s"v - ((avg(v) OVER sw - $slope * 59.5) + $slope * idx)"
    }
    s"""${uniformSql(3600.0)},
       |idx0 AS (
       |  SELECT channel, row_number() OVER (PARTITION BY channel ORDER BY t) - 1 AS rn, v,
       |         count(*) OVER (PARTITION BY channel) AS cnt
       |  FROM u
       |),
       |segs AS (
       |  SELECT channel, unnest(generate_series(0, (cnt - 60) // 60 - 1)) AS w
       |  FROM (SELECT channel, max(cnt) AS cnt FROM idx0 GROUP BY channel)
       |),
       |segr AS (
       |  SELECT i.channel, s.w, i.rn - s.w * 60 AS idx, i.v
       |  FROM idx0 i JOIN segs s ON i.channel = s.channel
       |    AND i.rn >= s.w * 60 AND i.rn < s.w * 60 + 120
       |),
       |segd AS (
       |  SELECT channel, w, idx, ($detrendExpr) AS y
       |  FROM segr WINDOW sw AS (PARTITION BY channel, w)
       |),
       |segw AS (
       |  SELECT channel, w, idx, y * ($win) AS yw,
       |         sum(($win) * ($win)) OVER (PARTITION BY channel, w) AS wss
       |  FROM segd
       |),
       |dft AS (
       |  SELECT channel, w, k,
       |         sum(yw * cos(2 * pi() * k * idx / 120)) AS re,
       |         sum(yw * sin(2 * pi() * k * idx / 120)) AS im,
       |         any_value(wss) AS wss
       |  FROM segw, (SELECT unnest(generate_series(0, 60)) AS k)
       |  GROUP BY channel, w, k
       |),
       |sub AS (
       |  SELECT channel, w, k * $SR_LIT / 120 AS freq,
       |         (re * re + im * im) * (1.0 / ($SR_LIT * wss)) *
       |           (CASE WHEN k > 0 AND k < 60 THEN 2.0 ELSE 1.0 END) AS p
       |  FROM dft
       |)""".stripMargin
  }

  /** A welch summarize-mode oracle: `agg` over the DFT sub-PSDs. */
  private def welchSummarizeSql(agg: String, window: String = "hann",
                                detrend: String = "constant"): String =
    s"""WITH ${welchSubSql(window, detrend)}
       |SELECT channel, freq, printf('%.4e', $agg) AS p
       |FROM sub WHERE freq > 0 GROUP BY channel, freq""".stripMargin

  /** The 'max rms' / 'damage' rescale oracle over DFT sub-PSDs with
    * per-segment trapezoid RMS (mirrors `Psd.rescale`,
    * `welchAllWithSegRms`).
    */
  private def welchRescaleSql(factorSql: String): String =
    s"""WITH ${welchSubSql("hann", "constant")},
       |subt AS (
       |  SELECT channel, w, freq, p,
       |         (p + lag(p) OVER sw) / 2.0 * (freq - lag(freq) OVER sw) AS tz
       |  FROM sub WINDOW sw AS (PARTITION BY channel, w ORDER BY freq)
       |),
       |subr AS (
       |  SELECT channel, w, freq, p, sqrt(sum(tz) OVER (PARTITION BY channel, w)) AS seg_rms
       |  FROM subt
       |),
       |perfreq AS (
       |  SELECT channel, freq, avg(p) AS p, max(seg_rms) AS max_sub_rms,
       |         avg(pow(seg_rms, 4.0)) AS mean_rms_pow
       |  FROM subr GROUP BY channel, freq
       |),
       |wseg AS (
       |  SELECT channel, freq, p, max_sub_rms, mean_rms_pow,
       |         (p + lag(p) OVER wf) / 2.0 * (freq - lag(freq) OVER wf) AS seg
       |  FROM perfreq WINDOW wf AS (PARTITION BY channel ORDER BY freq)
       |),
       |agg AS (
       |  SELECT channel, freq, p,
       |         ($factorSql) / sqrt(sum(seg) OVER (PARTITION BY channel)) AS factor
       |  FROM wseg
       |)
       |SELECT channel, freq, printf('%.4e', p * factor * factor) AS p
       |FROM agg WHERE freq > 0""".stripMargin

  /** Whole-channel periodogram oracle (boxcar, constant detrend):
    * direct DFT over the uniform grid, scipy scaling.
    */
  private def periodogramSql: String =
    s"""WITH ${uniformSql(3600.0)},
       |idx AS (
       |  SELECT channel, row_number() OVER (PARTITION BY channel ORDER BY t) - 1 AS j, v,
       |         count(*) OVER (PARTITION BY channel) AS n,
       |         avg(v) OVER (PARTITION BY channel) AS mv
       |  FROM u
       |),
       |dft AS (
       |  SELECT channel, k,
       |         sum((v - mv) * cos(2 * pi() * k * j / n)) AS re,
       |         sum((v - mv) * sin(2 * pi() * k * j / n)) AS im,
       |         any_value(n) AS n
       |  FROM idx, (SELECT unnest(generate_series(0,
       |         (SELECT max(n) FROM (SELECT count(*) AS n FROM u GROUP BY channel)) // 2)) AS k)
       |  WHERE k <= n // 2
       |  GROUP BY channel, k
       |)
       |SELECT channel, k * $SR_LIT / n AS freq,
       |       printf('%.4e', (re * re + im * im) * (1.0 / ($SR_LIT * n)) *
       |              (CASE WHEN k > 0 AND NOT (n % 2 = 0 AND k = n // 2) THEN 2.0 ELSE 1.0 END)) AS p
       |FROM dft WHERE k >= 1""".stripMargin

  /** Rainflow cycle extraction as a DuckDB stack machine: reversal
    * extraction with window functions (plateau compression + sign
    * change, keeping first/last — `Rainflow.reversals`), then the
    * ASTM three-point stack algorithm as a recursive CTE whose state
    * is (input position, stack LIST) per channel. Each iteration does
    * ONE stack transition: a pop (emitting a 1.0 cycle, or 0.5 when
    * only three points), a push, or — input exhausted — one residual
    * half-cycle drain step. Bit-exact vs `Rainflow.extractCycles`.
    * Produces CTE `cycles(channel, rng, cnt)`; must run under
    * WITH RECURSIVE.
    */
  private def rainflowCyclesSql: String = {
    val pop = "len(f.st) >= 3 AND abs(f.st[-1] - f.st[-2]) >= abs(f.st[-2] - f.st[-3])"
    s"""$SRC,
       |ordv AS MATERIALIZED (
       |  SELECT channel, row_number() OVER (PARTITION BY channel ORDER BY t) AS rn, v,
       |         count(*) OVER (PARTITION BY channel) AS orig_n
       |  FROM src
       |),
       |comp AS (
       |  SELECT channel, row_number() OVER (PARTITION BY channel ORDER BY rn) AS crn, v,
       |         count(*) OVER (PARTITION BY channel) AS m, orig_n
       |  FROM (SELECT channel, rn, v, orig_n,
       |               lag(v) OVER (PARTITION BY channel ORDER BY rn) AS pv
       |        FROM ordv)
       |  WHERE pv IS NULL OR v != pv
       |),
       |revs AS MATERIALIZED (
       |  SELECT channel, row_number() OVER (PARTITION BY channel ORDER BY crn) - 1 AS rn, v
       |  FROM (SELECT channel, crn, v, m,
       |               lag(v) OVER wc AS pv, lead(v) OVER wc AS nv
       |        FROM comp WINDOW wc AS (PARTITION BY channel ORDER BY crn))
       |  WHERE crn = 1 OR crn = m OR (v - pv) * (nv - v) < 0
       |  UNION ALL
       |  -- a constant channel compresses to ONE point, but the kernel
       |  -- (Rainflow.reversals) always appends the final sample for
       |  -- >= 2 input samples: [v, v] -> one 0-range half cycle
       |  SELECT channel, 1 AS rn, v FROM comp WHERE m = 1 AND orig_n >= 2
       |),
       |rf AS (
       |  SELECT channel, CAST(0 AS BIGINT) AS pos, CAST([] AS DOUBLE[]) AS st,
       |         CAST(NULL AS DOUBLE) AS rng, CAST(NULL AS DOUBLE) AS cnt
       |  FROM (SELECT DISTINCT channel FROM revs)
       |  UNION ALL
       |  SELECT f.channel,
       |         CASE WHEN $pop THEN f.pos
       |              WHEN r.rn IS NOT NULL THEN f.pos + 1
       |              ELSE f.pos END AS pos,
       |         CASE WHEN $pop
       |              THEN CASE WHEN len(f.st) = 3 THEN f.st[2:3]
       |                        ELSE list_concat(f.st[1:len(f.st) - 3], [f.st[-1]]) END
       |              WHEN r.rn IS NOT NULL THEN list_append(f.st, r.v)
       |              ELSE f.st[2:] END AS st,
       |         CASE WHEN $pop THEN abs(f.st[-2] - f.st[-3])
       |              WHEN r.rn IS NOT NULL THEN CAST(NULL AS DOUBLE)
       |              ELSE abs(f.st[2] - f.st[1]) END AS rng,
       |         CASE WHEN $pop THEN CASE WHEN len(f.st) = 3 THEN 0.5 ELSE 1.0 END
       |              WHEN r.rn IS NOT NULL THEN CAST(NULL AS DOUBLE)
       |              ELSE 0.5 END AS cnt
       |  FROM rf f LEFT JOIN revs r ON r.channel = f.channel AND r.rn = f.pos
       |  WHERE ($pop) OR r.rn IS NOT NULL OR len(f.st) >= 2
       |),
       |cycles AS (SELECT channel, rng, cnt FROM rf WHERE rng IS NOT NULL)""".stripMargin
  }
}
