package graft
package queries

import org.apache.spark.sql.{SparkSession, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.signal.{Channels, Signal, Spectrum}
import graft.ops.{Interp, Kernels, Psd}
import graft.Substrates.{ev, evUniform, ideFixture}
import graft.SparkEntry.{li, rawEvents, SRC, uniformSql}

/** pandas-sigproc signal queries over the events channels: stateless
  * ops, window analytics, interpolation, the .ide channel readers, and
  * the PSD/SRS/rainflow aggregation stages over engine-exact pseudo
  * tables.
  */
object SignalQueries {

  val specs: Seq[QuerySpec] = Seq(
    // -- sigproc: stateless ops (exact, unrounded) --
    QuerySpec("q_channel_list", (s, dir) =>
      ev(s, dir).select("channel").distinct(),
      "SELECT DISTINCT event_type AS channel FROM events"),
    QuerySpec("q_start_times", (s, dir) =>
      Channels.rawEvents(s, dir).groupBy(col("event_type").as("channel"))
        .agg(min("us").as("start_us")),
      "SELECT event_type AS channel, min(epoch_us(ts)) AS start_us FROM events GROUP BY event_type"),
    QuerySpec("q_between", (s, dir) => Signal(ev(s, dir)).between(1.0e5, 2.0e6).df,
      s"WITH $SRC SELECT channel, t, v FROM src WHERE t >= 100000.0 AND t <= 2000000.0"),
    QuerySpec("q_timeshift_between", (s, dir) => {
      // between AFTER timeshift: the PushShiftedTimeBounds optimizer
      // rule (graft.plans.GraftRules) derives conservative raw-t
      // bounds that reach the scan's PushedFilters — plan-asserted in
      // Round9Spec — while the exact shifted predicate stays in place,
      // so values are bit-identical with or without the rule
      graft.plans.GraftRules.ensure(s)
      Signal(ev(s, dir)).timeshift(3600.0).between(1.0e5, 2.0e6).df
    },
      s"""WITH $SRC
         |SELECT channel, t, v FROM (SELECT channel, t + 3600.0 AS t, v FROM src)
         |WHERE t >= 100000.0 AND t <= 2000000.0""".stripMargin),
    QuerySpec("q_get_channel", (s, dir) => Channels.getChannel(ev(s, dir), "click").df,
      s"WITH $SRC SELECT channel, t, v FROM src WHERE channel = 'click'"),
    QuerySpec("q_abs_window", (s, dir) => {
      // absolute-time ingestion: the predicate reaches the parquet scan
      // (PushedFilters on raw ts), t stays relative to the TRUE origin
      Channels.eventsAbsolute(s, dir, 1704500000000000L, 1705000000000000L)
    },
      """WITH origins AS (
        |  SELECT event_type AS ch, min(epoch_us(ts)) AS us0 FROM events GROUP BY event_type
        |)
        |SELECT event_type AS channel, (epoch_us(ts) - us0) / 1000000.0 AS t, value AS v
        |FROM events JOIN origins ON event_type = ch
        |WHERE epoch_us(ts) >= 1704500000000000 AND epoch_us(ts) <= 1705000000000000""".stripMargin),
    QuerySpec("q_fbetween", (s, dir) =>
      Spectrum(pseudoPsd(s, dir)).between(100.0, 500.0).df,
      s"WITH $PSEUDO_PSD SELECT channel, freq, p FROM psd WHERE freq >= 100.0 AND freq <= 500.0"),
    QuerySpec("q_timeshift", (s, dir) => Signal(ev(s, dir)).timeshift(3600.0).df,
      s"WITH $SRC SELECT channel, t + 3600.0 AS t, v FROM src"),
    QuerySpec("q_json_props", (s, dir) =>
      // JSON scalar extraction over the events props column (§2.12):
      // integer aggregates, exact in both engines
      s.read.parquet(s"$dir/events.parquet")
        .select(col("event_type").as("channel"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy("channel")
        .agg(sum("k").as("sum_k"), max("k").as("max_k"), count(lit(1)).as("n")),
      """SELECT event_type AS channel,
        |       CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        |       max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k,
        |       count(*) AS n
        |FROM events GROUP BY event_type""".stripMargin),
    QuerySpec("q_dedup_mean", (s, dir) => {
      // hour-bucketed time axis creates real duplicates to average
      val hourly = ev(s, dir).select(col("channel"), floor(col("t") / 3600.0).as("t"), col("v"))
      // round(4): group means accumulate in different orders across
      // engines; at sf0.1 a 1e-6 quantum starts catching boundary hits
      Signal(hourly).deduplicate().df
        .select(col("channel"), col("t"), round(col("v") + 1e-7, 4).as("v"))
    },
      s"""WITH $SRC
         |SELECT channel, floor(t / 3600.0) AS t, round(avg(v) + 1e-7, 4) AS v
         |FROM src GROUP BY channel, floor(t / 3600.0)""".stripMargin),
    QuerySpec("q_rms", (s, dir) =>
      Signal(ev(s, dir)).rms().select(col("channel"), round(col("rms"), 6).as("rms")),
      s"WITH $SRC SELECT channel, round(sqrt(avg(v * v)), 6) AS rms FROM src GROUP BY channel"),
    QuerySpec("q_spl", (s, dir) =>
      Signal(ev(s, dir)).spl().select(col("channel"), round(col("spl"), 6).as("spl")),
      s"""WITH $SRC
         |SELECT channel, round(20.0 * log10(sqrt(avg(v * v)) / 0.00002), 6) AS spl
         |FROM src GROUP BY channel""".stripMargin),
    QuerySpec("q_samplerate", (s, dir) =>
      Signal(ev(s, dir)).samplerate().select(
        col("channel"), round(col("max_sr"), 10).as("max_sr"),
        round(col("mean_sr"), 10).as("mean_sr"), round(col("min_sr"), 10).as("min_sr"),
        round(col("samplerate"), 10).as("samplerate")),
      s"""WITH $SRC,
         |d AS (
         |  SELECT channel, t - lag(t) OVER (PARTITION BY channel ORDER BY t) AS dt FROM src
         |),
         |agg AS (
         |  SELECT channel, 1.0 / max(dt) AS max_sr, 1.0 / avg(dt) AS mean_sr, 1.0 / min(dt) AS min_sr
         |  FROM d WHERE dt IS NOT NULL GROUP BY channel
         |)
         |SELECT channel, round(max_sr, 10) AS max_sr, round(mean_sr, 10) AS mean_sr,
         |       round(min_sr, 10) AS min_sr,
         |       round(CASE
         |         WHEN (max_sr - min_sr) / min_sr > min_sr * 0.0001
         |              OR isnan((max_sr - min_sr) / min_sr) THEN NULL
         |         WHEN abs(mean_sr - round(mean_sr)) < 0.01 AND mean_sr >= 1 THEN round(mean_sr)
         |         ELSE mean_sr END, 10) AS samplerate
         |FROM agg""".stripMargin),

    // -- sigproc: window analytics --
    QuerySpec("q_movrms16", (s, dir) =>
      Signal(ev(s, dir)).movRmsN(16).df
        .select(col("channel"), col("t"), round(col("v"), 6).as("v")),
      s"""WITH $SRC,
         |win AS (
         |  SELECT channel, t,
         |         sqrt(avg(v * v) OVER (PARTITION BY channel ORDER BY t
         |                               ROWS BETWEEN 15 PRECEDING AND CURRENT ROW)) AS mr,
         |         row_number() OVER (PARTITION BY channel ORDER BY t) AS rn,
         |         count(*) OVER (PARTITION BY channel) AS cnt
         |  FROM src
         |)
         |SELECT channel, t, round(mr, 6) AS v FROM win WHERE rn >= 16 AND rn < cnt""".stripMargin),
    QuerySpec("q_integral", (s, dir) =>
      // integralExact: integer-quantized trapezoid accumulation —
      // order-free, so the 200k-term running sums stay bit-identical
      // across engines/plans (the float form flipped 27/1M rounding
      // ties vs DuckDB's segment-tree windowed sum at sf1; PLANS r14).
      // NO output rounding: the quantized sum and the single
      // de-quantization multiply are IEEE-identical in both engines,
      // so the raw double already hash-matches — while a final
      // round(…, 1) REINTRODUCED cross-engine tie divergence at the
      // sf10 rung (6/10M rows: Spark rounds the shortest-decimal
      // BigDecimal, DuckDB the binary double; at |v| ~ 8e9 the ulp is
      // ~1e-6 and a 0.1 grid takes ~1e-5 tie hits per row)
      Signal(ev(s, dir)).integralExact().df
        .select(col("channel"), col("t"), col("v")),
      // grain = max(|seg|)·cnt/2^62 per channel (amplitude- AND
      // count-relative, r15 verdict: folding the row count into the
      // grain bounds per-term quanta at 2^62/cnt so the int64 prefix
      // sum can NEVER overflow — the count-free /2^34 grain had a
      // silent 2^28-rows envelope): max / count / multiply /
      // divide-by-2^62 round identically under IEEE-754, so this
      // derives bit-identically to Signal.integralExact
      s"""WITH $SRC,
         |seg AS (
         |  SELECT channel, t,
         |         coalesce((v + lag(v) OVER w) / 2.0 * (t - lag(t) OVER w), 0.0) AS sg
         |  FROM src WINDOW w AS (PARTITION BY channel ORDER BY t)
         |),
         |g AS (
         |  SELECT channel, t, sg,
         |         CASE WHEN max(abs(sg)) OVER (PARTITION BY channel)
         |                   * count(*) OVER (PARTITION BY channel)
         |                   / 4611686018427387904.0 = 0 THEN 1.0
         |              ELSE max(abs(sg)) OVER (PARTITION BY channel)
         |                   * count(*) OVER (PARTITION BY channel)
         |                   / 4611686018427387904.0
         |         END AS grain
         |  FROM seg
         |)
         |SELECT channel, t,
         |       CAST(sum(CAST(round(sg / grain, 0) AS BIGINT))
         |            OVER (PARTITION BY channel ORDER BY t
         |                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |       AS DOUBLE) * grain AS v
         |FROM g""".stripMargin),
    QuerySpec("q_derivative", (s, dir) => Signal(ev(s, dir)).derivative().df,
      s"""WITH $SRC,
         |d AS (
         |  SELECT channel, t, v, lead(t) OVER w AS tn, lead(v) OVER w AS vn
         |  FROM src WINDOW w AS (PARTITION BY channel ORDER BY t)
         |)
         |SELECT channel, (t + tn) / 2.0 AS t, (vn - v) / (tn - t) AS v
         |FROM d WHERE tn IS NOT NULL""".stripMargin),
    QuerySpec("q_detrend_const", (s, dir) =>
      Signal(ev(s, dir)).detrendConstant().df
        .select(col("channel"), col("t"), round(col("v"), 6).as("v")),
      s"""WITH $SRC
         |SELECT channel, t, round(v - avg(v) OVER (PARTITION BY channel), 6) AS v
         |FROM src""".stripMargin),
    QuerySpec("q_detrend_linear", (s, dir) =>
      Signal(ev(s, dir)).detrendLinear().df
        .select(col("channel"), col("t"), round(col("v"), 4).as("v")),
      s"""WITH $SRC,
         |fit AS (
         |  SELECT channel, t, v,
         |         covar_pop(t, v) OVER (PARTITION BY channel) /
         |           var_pop(t) OVER (PARTITION BY channel) AS slope,
         |         avg(v) OVER (PARTITION BY channel) AS mv,
         |         avg(t) OVER (PARTITION BY channel) AS mt
         |  FROM src
         |)
         |SELECT channel, t, round(v - ((mv - slope * mt) + slope * t), 4) AS v
         |FROM fit""".stripMargin),
    QuerySpec("q_detrend_bp", (s, dir) =>
      Signal(ev(s, dir)).detrendLinear(Seq(400L)).df
        .select(col("channel"), col("t"), round(col("v"), 4).as("v")),
      s"""WITH $SRC,
         |idx AS (
         |  SELECT channel, t, v,
         |         CASE WHEN row_number() OVER (PARTITION BY channel ORDER BY t) - 1 >= 400
         |              THEN 1 ELSE 0 END AS seg
         |  FROM src
         |),
         |fit AS (
         |  SELECT channel, t, v,
         |         covar_pop(t, v) OVER ws / var_pop(t) OVER ws AS slope,
         |         avg(v) OVER ws AS mv, avg(t) OVER ws AS mt
         |  FROM idx WINDOW ws AS (PARTITION BY channel, seg)
         |)
         |SELECT channel, t, round(v - ((mv - slope * mt) + slope * t), 4) AS v
         |FROM fit""".stripMargin),
    QuerySpec("q_rss", (s, dir) => {
      // two genuine series sharing a key: line 1 vs line 2 price per order
      val l = li(s, dir)
      val s1 = Signal(l.filter(col("l_linenumber") === 1)
        .select(lit("p").as("channel"), col("l_orderkey").cast("double").as("t"),
          col("l_extendedprice").as("v")))
      val s2 = Signal(l.filter(col("l_linenumber") === 2)
        .select(lit("p").as("channel"), col("l_orderkey").cast("double").as("t"),
          col("l_extendedprice").as("v")))
      s1.rss(s2).df
    },
      """WITH s1 AS (
        |  SELECT 'p' AS channel, CAST(l_orderkey AS DOUBLE) AS t, l_extendedprice AS v
        |  FROM lineitem WHERE l_linenumber = 1
        |), s2 AS (
        |  SELECT 'p' AS channel, CAST(l_orderkey AS DOUBLE) AS t, l_extendedprice AS v
        |  FROM lineitem WHERE l_linenumber = 2
        |)
        |SELECT s1.channel, s1.t, sqrt(s1.v * s1.v + s2.v * s2.v) AS v
        |FROM s1 JOIN s2 ON s1.channel = s2.channel AND s1.t = s2.t""".stripMargin),
    QuerySpec("q_rss3", (s, dir) => {
      // the reference's *args form: three series at once
      val l = li(s, dir)
      def series(ln: Int) = Signal(l.filter(col("l_linenumber") === ln)
        .select(lit("p").as("channel"), col("l_orderkey").cast("double").as("t"),
          col("l_extendedprice").as("v")))
      series(1).rss(series(2), series(3)).df
    },
      """WITH s AS (
        |  SELECT l_linenumber AS ln, CAST(l_orderkey AS DOUBLE) AS t, l_extendedprice AS v
        |  FROM lineitem WHERE l_linenumber <= 3
        |)
        |SELECT 'p' AS channel, s1.t, sqrt(s1.v * s1.v + s2.v * s2.v + s3.v * s3.v) AS v
        |FROM s s1 JOIN s s2 ON s1.t = s2.t JOIN s s3 ON s1.t = s3.t
        |WHERE s1.ln = 1 AND s2.ln = 2 AND s3.ln = 3""".stripMargin),
    QuerySpec("q_rss_outer", (s, dir) => {
      // pandas outer-alignment rss (extension.py:801-810): timestamps
      // present in only one series survive with NULL v
      val l = li(s, dir)
      def series(ln: Int) = Signal(l.filter(col("l_linenumber") === ln)
        .select(lit("p").as("channel"), col("l_orderkey").cast("double").as("t"),
          col("l_extendedprice").as("v")))
      series(1).rssOuter(series(2)).df
    },
      """WITH s1 AS (
        |  SELECT 'p' AS channel, CAST(l_orderkey AS DOUBLE) AS t, l_extendedprice AS v
        |  FROM lineitem WHERE l_linenumber = 1
        |), s2 AS (
        |  SELECT 'p' AS channel, CAST(l_orderkey AS DOUBLE) AS t, l_extendedprice AS v
        |  FROM lineitem WHERE l_linenumber = 2
        |)
        |SELECT coalesce(s1.channel, s2.channel) AS channel,
        |       coalesce(s1.t, s2.t) AS t,
        |       sqrt(s1.v * s1.v + s2.v * s2.v) AS v
        |FROM s1 FULL JOIN s2 ON s1.channel = s2.channel AND s1.t = s2.t""".stripMargin),

    // -- sigproc: interpolation / resampling (exact, unrounded) --
    QuerySpec("q_resample_linear", (s, dir) => Interp.resample(ev(s, dir), 1.0 / 1000.0, "linear"),
      resampleSql(1000.0, "linear")),
    QuerySpec("q_interp_nearest", (s, dir) => {
      val grid = Interp.resampleGrid(ev(s, dir), 777.0)
      Interp.interp1d(ev(s, dir), grid, "nearest")
    }, resampleSql(777.0, "nearest")),
    QuerySpec("q_interp_previous", (s, dir) => {
      val grid = Interp.resampleGrid(ev(s, dir), 777.0)
      Interp.interp1d(ev(s, dir), grid, "previous")
    }, resampleSql(777.0, "previous")),
    QuerySpec("q_interp_next", (s, dir) => {
      val grid = Interp.resampleGrid(ev(s, dir), 777.0)
      Interp.interp1d(ev(s, dir), grid, "next")
    }, resampleSql(777.0, "next")),
    QuerySpec("q_interp_nearest_up", (s, dir) => {
      val grid = Interp.resampleGrid(ev(s, dir), 777.0)
      Interp.interp1d(ev(s, dir), grid, "nearest-up")
    }, resampleSql(777.0, "nearest-up")),
    QuerySpec("q_interp_zero", (s, dir) => {
      // scipy kind='zero': zero-order spline = previous-sample hold
      val grid = Interp.resampleGrid(ev(s, dir), 777.0)
      Interp.interp1d(ev(s, dir), grid, "zero")
    }, resampleSql(777.0, "zero")),
    QuerySpec("q_interp_slinear", (s, dir) => {
      // scipy kind='slinear': first-order spline = linear
      val grid = Interp.resampleGrid(ev(s, dir), 777.0)
      Interp.interp1d(ev(s, dir), grid, "slinear")
    }, resampleSql(777.0, "slinear")),
    QuerySpec("q_finterp", (s, dir) => {
      // freq-axis interp1d (the FreqDomain accessor's own kind family)
      val psd = pseudoPsd(s, dir)
      val mx = max("freq").over(Window.partitionBy("channel"))
      val grid = psd.withColumn("mx", mx).filter(col("freq") < col("mx"))
        .select(col("channel"), (col("freq") + 0.25).as("freq"))
      Spectrum(psd).interp1d(grid, "linear").df
    },
      s"""WITH $PSEUDO_PSD,
         |grid AS (
         |  SELECT channel, freq + 0.25 AS freq
         |  FROM psd WHERE freq < (SELECT max(p2.freq) FROM psd p2 WHERE p2.channel = psd.channel)
         |),
         |prevj AS (
         |  SELECT g.channel, g.freq, s.freq AS pt, s.p AS pv
         |  FROM grid g ASOF LEFT JOIN psd s ON g.channel = s.channel AND g.freq >= s.freq
         |),
         |nextj AS (
         |  SELECT g.channel, g.freq, s.freq AS nt, s.p AS nv
         |  FROM grid g ASOF LEFT JOIN psd s ON g.channel = s.channel AND g.freq <= s.freq
         |)
         |SELECT p.channel, p.freq,
         |       CASE WHEN p.pt = n.nt THEN p.pv
         |            ELSE p.pv + (n.nv - p.pv) * (p.freq - p.pt) / (n.nt - p.pt) END AS p
         |FROM prevj p JOIN nextj n ON p.channel = n.channel AND p.freq = n.freq""".stripMargin),
    QuerySpec("q_interp_log", (s, dir) => {
      val psd = pseudoPsd(s, dir)
      val mx = max("freq").over(Window.partitionBy("channel"))
      val grid = psd.withColumn("mx", mx).filter(col("freq") < col("mx"))
        .select(col("channel"), (col("freq") + 0.5).as("freq"))
      // round(2): Java vs C libm pow/log10 differ by ~1 ulp, which at
      // p ~ 2.4e5 is ~7e-6 absolute — a 1e-6 quantum is too fine
      Spectrum(psd).interp1dLog(grid).df
        .select(col("channel"), col("freq"), round(col("p"), 2).as("p"))
    },
      s"""WITH $PSEUDO_PSD,
         |lsrc AS (SELECT channel, log10(freq) AS lt, log10(p) AS lv FROM psd),
         |grid AS (
         |  SELECT channel, freq + 0.5 AS freq, log10(freq + 0.5) AS lt
         |  FROM psd WHERE freq < (SELECT max(p2.freq) FROM psd p2 WHERE p2.channel = psd.channel)
         |),
         |prevj AS (
         |  SELECT g.channel, g.freq, g.lt, s.lt AS pt, s.lv AS pv
         |  FROM grid g ASOF LEFT JOIN lsrc s ON g.channel = s.channel AND g.lt >= s.lt
         |),
         |nextj AS (
         |  SELECT g.channel, g.freq, s.lt AS nt, s.lv AS nv
         |  FROM grid g ASOF LEFT JOIN lsrc s ON g.channel = s.channel AND g.lt <= s.lt
         |)
         |SELECT p.channel, p.freq,
         |       round(pow(10.0, CASE WHEN p.pt = n.nt THEN p.pv
         |                  ELSE p.pv + (n.nv - p.pv) * (p.lt - p.pt) / (n.nt - p.pt) END), 2) AS p
         |FROM prevj p JOIN nextj n ON p.channel = n.channel AND p.freq = n.freq""".stripMargin),

    // -- freq domain reductions over a deterministic pseudo-PSD --
    QuerySpec("q_rms_lin", (s, dir) =>
      Spectrum(pseudoPsd(s, dir)).rmsLin()
        .select(col("channel"), round(col("rms"), 4).as("rms")),
      s"""WITH $PSEUDO_PSD,
         |segs AS (
         |  SELECT channel, (p + lag(p) OVER w) / 2.0 * (freq - lag(freq) OVER w) AS seg
         |  FROM psd WINDOW w AS (PARTITION BY channel ORDER BY freq)
         |)
         |SELECT channel, round(sqrt(sum(seg)), 4) AS rms FROM segs GROUP BY channel""".stripMargin),
    QuerySpec("q_rms_log", (s, dir) =>
      Spectrum(pseudoPsd(s, dir)).rmsLog()
        .select(col("channel"), round(col("rms"), 4).as("rms")),
      s"""WITH $PSEUDO_PSD,
         |pairs AS (
         |  SELECT channel, freq, p, lag(freq) OVER w AS f1, lag(p) OVER w AS p1
         |  FROM psd WINDOW w AS (PARTITION BY channel ORDER BY freq)
         |),
         |segs AS (
         |  SELECT channel,
         |         CASE WHEN isnan(area_log) OR area_log = 0 OR isinf(area_log)
         |              THEN (p1 + p) / 2.0 * (freq - f1) ELSE area_log END AS area
         |  FROM (
         |    SELECT *,
         |           CASE WHEN abs(n + 1.0) < 1e-10 THEN p1 * f1 * ln(freq / f1)
         |                ELSE (p1 * pow(f1, -n)) * (1.0 / (n + 1.0)) *
         |                     (pow(freq, n + 1.0) - pow(f1, n + 1.0)) END AS area_log
         |    FROM (
         |      SELECT *, log10(p / p1) / log10(freq / f1) AS n FROM pairs WHERE f1 IS NOT NULL
         |    )
         |  )
         |)
         |SELECT channel, round(sqrt(sum(area)), 4) AS rms FROM segs GROUP BY channel""".stripMargin),

    // -- kernel AGGREGATION stages over the deterministic pseudo
    // sub-PSD: same code paths as the k_psd_welch_* queries
    // (Psd.summarizeAll / Psd.rescale), but with the FFT swapped for
    // an engine-exact table, so DuckDB can replay them value-exactly --
    QuerySpec("q_psd_summarize_mean", (s, dir) =>
      Psd.summarizeAll(pseudoSubPsd(s, dir), "mean")
        .select(col("channel"), col("freq"), round(col("p") + 1e-7, 4).as("p")),
      s"""WITH $PSEUDO_SUBPSD
         |SELECT channel, freq, round(avg(p) + 1e-7, 4) AS p
         |FROM sub GROUP BY channel, freq""".stripMargin),
    QuerySpec("q_psd_summarize_median", (s, dir) =>
      Psd.summarizeAll(pseudoSubPsd(s, dir), "median")
        .select(col("channel"), col("freq"), round(col("p") + 1e-7, 4).as("p")),
      s"""WITH $PSEUDO_SUBPSD
         |SELECT channel, freq, round(median(p) + 1e-7, 4) AS p
         |FROM sub GROUP BY channel, freq""".stripMargin),
    // max/min select one exact per-row value — no rounding needed
    QuerySpec("q_psd_summarize_max", (s, dir) =>
      Psd.summarizeAll(pseudoSubPsd(s, dir), "max"),
      s"WITH $PSEUDO_SUBPSD SELECT channel, freq, max(p) AS p FROM sub GROUP BY channel, freq"),
    QuerySpec("q_psd_summarize_min", (s, dir) =>
      Psd.summarizeAll(pseudoSubPsd(s, dir), "min"),
      s"WITH $PSEUDO_SUBPSD SELECT channel, freq, min(p) AS p FROM sub GROUP BY channel, freq"),
    QuerySpec("q_psd_maxrms", (s, dir) =>
      Psd.rescale(pseudoSubPsdRms(s, dir), "max rms", 4.0)
        .select(col("channel"), col("freq"), round(col("p") + 1e-7, 4).as("p")),
      psdRescaleSql("max(max_sub_rms) OVER (PARTITION BY channel)")),
    QuerySpec("q_psd_damage", (s, dir) =>
      Psd.rescale(pseudoSubPsdRms(s, dir), "damage", 4.0)
        .select(col("channel"), col("freq"), round(col("p") + 1e-7, 4).as("p")),
      psdRescaleSql("pow(max(mean_rms_pow) OVER (PARTITION BY channel), 0.25)")),
    QuerySpec("q_srs_reduce", (s, dir) => {
      // pseudo per-sample SDOF responses: 20 natural frequencies,
      // resp = the signed sample value — exercises the max(pos, |neg|)
      // summarize stage (tools.py:373-374) with exact aggregates
      val win = Window.partitionBy("channel").orderBy("t")
      val resp = ev(s, dir).select(col("channel"),
          (row_number().over(win) - 1).cast("long").as("rn"), col("v"))
        .select(col("channel"), pmod(col("rn"), lit(20L)).cast("double").as("freq"),
          col("v").as("resp"))
      Kernels.srsReduce(resp)
    },
      s"""WITH $SRC,
         |resp AS (
         |  SELECT channel, CAST((rn - 1) % 20 AS DOUBLE) AS freq, v AS resp
         |  FROM (SELECT channel, row_number() OVER (PARTITION BY channel ORDER BY t) AS rn, v
         |        FROM src)
         |)
         |SELECT channel, freq, greatest(max(resp), max(-resp)) AS p
         |FROM resp GROUP BY channel, freq""".stripMargin),
    QuerySpec("q_rainflow_bin", (s, dir) => {
      // pseudo cycles table: rng = |v|, cycles alternating 0.5 / 1.0 —
      // exercises the nbins binning stage (extension.py:944-959);
      // bin edges and half-count sums are engine-exact
      val win = Window.partitionBy("channel").orderBy("t")
      val cyc = ev(s, dir).select(col("channel"),
          (row_number().over(win) - 1).cast("long").as("rn"), col("v"))
        .select(col("channel"), abs(col("v")).as("rng"),
          ((pmod(col("rn"), lit(2L)) + 1).cast("double") * 0.5).as("cycles"))
      Kernels.rainflowBin(cyc, nbins = Some(10))
    },
      s"""WITH $SRC,
         |cyc AS (
         |  SELECT channel, abs(v) AS rng, ((rn - 1) % 2 + 1) * 0.5 AS cycles
         |  FROM (SELECT channel, row_number() OVER (PARTITION BY channel ORDER BY t) AS rn, v
         |        FROM src)
         |),
         |sized AS (
         |  SELECT channel, rng, cycles,
         |         max(rng) OVER (PARTITION BY channel) / 10 AS size
         |  FROM cyc
         |)
         |SELECT channel, greatest(ceil(rng / size), 1) * size AS rng, CAST(sum(cycles) AS DOUBLE) AS cycles
         |FROM sized GROUP BY channel, greatest(ceil(rng / size), 1) * size""".stripMargin),
    QuerySpec("q_ide_channel_list", (s, dir) =>
      // Endaq.channel_list over the native format (io.py:175-184)
      graft.signal.Ide.channelList(s, ideFixture(s, dir)),
      "SELECT DISTINCT event_type AS name, event_type || '_u' AS unit FROM events"),
    QuerySpec("q_ide_get_channel", (s, dir) =>
      // Endaq.get_channel by display name (io.py:208-239); the pushed
      // ch filter prunes every other channel's blocks at planning
      graft.signal.Ide.getChannel(s, ideFixture(s, dir), "click"),
      s"""WITH ${uniformSql(3600.0)}
         |SELECT 'click' AS name, 'click_u' AS unit,
         |       CAST(row_number() OVER (ORDER BY t) - 1 AS DOUBLE) / 1000 AS t, v
         |FROM u WHERE channel = 'click'""".stripMargin),
    QuerySpec("q_ide_window", (s, dir) =>
      // seek-to-window: the t-range predicate prunes whole blocks by
      // their [startUs, endUs] header interval at planning (the
      // row-group-statistics pattern) — on a 100 GB recording a
      // 1-minute window reads only that minute's blocks
      graft.signal.Ide.getChannel(s, ideFixture(s, dir), "click")
        .filter(col("t") >= 0.001 && col("t") < 0.35),
      s"""WITH ${uniformSql(3600.0)},
         |g AS (
         |  SELECT 'click' AS name, 'click_u' AS unit,
         |         CAST(row_number() OVER (ORDER BY t) - 1 AS DOUBLE) / 1000 AS t, v
         |  FROM u WHERE channel = 'click'
         |)
         |SELECT * FROM g WHERE t >= 0.001 AND t < 0.35""".stripMargin),
    QuerySpec("q_movrms_time", (s, dir) =>
      // raw doubles, no output rounding: the quantized accumulation
      // makes v bit-identical across engines (see the oracle note)
      Signal(evUniform(s, dir)).movRms(7200.0).df
        .select(col("channel"), col("t"), col("v")),
      // time-window mov_rms on the uniform 1/3600 Hz grid: n = round(
      // 7200 * sr) = 2 samples, t shifted back by window/2, warm-up row
      // and final row trimmed (extension.py:684,695-697)
      // v² quantized to the amplitude- and count-relative per-channel
      // grain max(|v|)²·cnt/2^62 and summed as integers — replays
      // movRms's order-free accumulation (integer window sum ≡ the
      // Spark side's cum-difference exactly; see Signal.movRms). NO
      // output rounding (the q_integral r15 lesson): the quantized
      // sum, cast, multiply, divide and sqrt are all IEEE-identical
      // in both engines, so the raw double already hash-matches,
      // while a final round(…, 6) only adds cross-engine tie risk
      s"""WITH ${uniformSql(3600.0)},
         |g AS (
         |  SELECT channel, t, v,
         |         CASE WHEN max(abs(v)) OVER (PARTITION BY channel)
         |                   * max(abs(v)) OVER (PARTITION BY channel)
         |                   * count(*) OVER (PARTITION BY channel)
         |                   / 4611686018427387904.0 = 0 THEN 1.0
         |              ELSE max(abs(v)) OVER (PARTITION BY channel)
         |                   * max(abs(v)) OVER (PARTITION BY channel)
         |                   * count(*) OVER (PARTITION BY channel)
         |                   / 4611686018427387904.0
         |         END AS grain
         |  FROM u
         |)
         |SELECT channel, t - 3600.0 AS t,
         |       sqrt(CAST(sum(CAST(round(v * v / grain, 0) AS BIGINT))
         |                 OVER (PARTITION BY channel ORDER BY t
         |                       ROWS BETWEEN 1 PRECEDING AND CURRENT ROW) AS DOUBLE)
         |            * grain / 2) AS v
         |FROM g
         |QUALIFY row_number() OVER (PARTITION BY channel ORDER BY t) >= 2
         |    AND row_number() OVER (PARTITION BY channel ORDER BY t) <
         |        count(*) OVER (PARTITION BY channel)""".stripMargin)
  )

  /** Deterministic pseudo-spectrum per channel: freq = sample rank,
    * p = v^2 + 1 (strictly positive for the log-log integral).
    */
  private def pseudoPsd(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("channel").orderBy("t")
    ev(s, dir).select(col("channel"),
      row_number().over(w).cast("double").as("freq"),
      (col("v") * col("v") + 1.0).as("p"))
  }

  /** Deterministic pseudo SUB-PSD table (channel, w, freq, p): the
    * `welchAllWithSegRms` shape minus the FFT, so the summarize and
    * rescale AGGREGATION stages (`Psd.summarizeAll`, `Psd.rescale` —
    * `tools.py:75-98`) get exact DuckDB oracles. Sample rank rn maps
    * bijectively to (w = rn/32, freq = rn%32): every (w, freq) pair
    * appears exactly once per channel, many windows per frequency.
    * 32 frequencies keeps the trapezoid sum short, so the channel-
    * global rescale factor's fp error stays orders of magnitude below
    * the rounding quantum on every output row.
    */
  private def pseudoSubPsd(s: SparkSession, dir: String): DataFrame = {
    val win = Window.partitionBy("channel").orderBy("t")
    ev(s, dir).select(col("channel"),
        (row_number().over(win) - 1).cast("long").as("rn"), col("v"))
      .select(col("channel"),
        floor(col("rn") / lit(32)).cast("long").as("w"),
        pmod(col("rn"), lit(32L)).cast("double").as("freq"),
        (col("v") * col("v") + 1.0).as("p"))
  }

  /** The pseudo sub-PSD with a per-(channel, w) segment RMS column —
    * the input contract of `Psd.rescale` (seg_rms constant within a
    * window; sqrt(w+1) is deterministic and engine-exact).
    */
  private def pseudoSubPsdRms(s: SparkSession, dir: String): DataFrame =
    pseudoSubPsd(s, dir).withColumn("seg_rms", sqrt(col("w") + 1.0))

  // ---- oracle SQL --------------------------------------------------------

  private val PSEUDO_PSD =
    s"""$SRC,
       |psd AS (
       |  SELECT channel,
       |         CAST(row_number() OVER (PARTITION BY channel ORDER BY t) AS DOUBLE) AS freq,
       |         v * v + 1.0 AS p
       |  FROM src
       |)""".stripMargin

  /** DuckDB mirror of `pseudoSubPsd`: (channel, w, freq, p) with the
    * same rank-to-(window, frequency) bijection.
    */
  private val PSEUDO_SUBPSD =
    s"""$SRC,
       |sub AS (
       |  SELECT channel, (rn - 1) // 32 AS w,
       |         CAST((rn - 1) % 32 AS DOUBLE) AS freq,
       |         v * v + 1.0 AS p
       |  FROM (SELECT channel, row_number() OVER (PARTITION BY channel ORDER BY t) AS rn, v
       |        FROM src)
       |)""".stripMargin

  /** The `Psd.rescale` formula over the pseudo sub-PSD, shared by the
    * max-rms and damage oracles: `factorSql` is the channel-global
    * rescale factor (`tools.py:85-98`), everything else is identical.
    */
  private def psdRescaleSql(factorSql: String): String =
    s"""WITH $PSEUDO_SUBPSD,
       |rmsd AS (SELECT channel, w, freq, p, sqrt(w + 1.0) AS seg_rms FROM sub),
       |perfreq AS (
       |  SELECT channel, freq, avg(p) AS p, max(seg_rms) AS max_sub_rms,
       |         avg(pow(seg_rms, 4.0)) AS mean_rms_pow
       |  FROM rmsd GROUP BY channel, freq
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
       |SELECT channel, freq, round(p * factor * factor + 1e-7, 4) AS p FROM agg""".stripMargin

  /** Shared as-of interpolation oracle: np.arange grid at `step`
    * seconds, bracketed by DuckDB ASOF joins in both directions.
    */
  private def resampleSql(step: Double, kind: String): String = {
    val value = kind match {
      case "linear" | "slinear" =>
        "CASE WHEN p.pt = n.nt THEN p.pv ELSE p.pv + (n.nv - p.pv) * (p.t - p.pt) / (n.nt - p.pt) END"
      case "nearest" => "CASE WHEN p.t - p.pt <= n.nt - p.t THEN p.pv ELSE n.nv END"
      case "nearest-up" => "CASE WHEN p.t - p.pt < n.nt - p.t THEN p.pv ELSE n.nv END"
      case "previous" | "zero" => "p.pv"
      case "next" => "n.nv"
    }
    s"""WITH $SRC,
       |bounds AS (SELECT channel, min(t) AS t0, max(t) AS t1 FROM src GROUP BY channel),
       |grid AS (
       |  SELECT channel, t0 + k * $step AS t
       |  FROM (SELECT channel, t0,
       |               unnest(generate_series(0, CAST(ceil((t1 - t0) / $step) AS BIGINT) - 1)) AS k
       |        FROM bounds)
       |),
       |prevj AS (
       |  SELECT g.channel, g.t, s.t AS pt, s.v AS pv
       |  FROM grid g ASOF LEFT JOIN src s ON g.channel = s.channel AND g.t >= s.t
       |),
       |nextj AS (
       |  SELECT g.channel, g.t, s.t AS nt, s.v AS nv
       |  FROM grid g ASOF LEFT JOIN src s ON g.channel = s.channel AND g.t <= s.t
       |)
       |SELECT p.channel, p.t, $value AS v
       |FROM prevj p JOIN nextj n ON p.channel = n.channel AND p.t = n.t""".stripMargin
  }
}
