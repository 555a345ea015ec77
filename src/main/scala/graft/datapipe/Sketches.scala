package graft.datapipe

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Mergeable sketches for corpus profiling — the constant-state
  * alternative to per-key shuffles when the question is "how many
  * distinct / who is heavy", not "give me every key". At 100 TB a
  * `count(DISTINCT fp)` is a full-width exchange of every distinct
  * key; an HLL register table is 256 longs per group and a count-min
  * sketch is a fixed 4×1024 grid — both fold map-side into partial
  * aggregates (the partial-agg state IS the sketch, merged by
  * max/sum), so the exchange is sketch-sized no matter how many keys
  * the corpus holds. The reference has no profiling tier
  * (pandas holds the whole frame; `nunique()` is free there) — this
  * is the distributed replacement.
  *
  * Both sketches are built from the repo's md5-derived [[Sampling
  * .saltedHash]] (52 bits, exact in a double, identical bytes in
  * Spark and DuckDB), so unlike library HLL/CMS implementations the
  * whole estimate — register indexes, rho ranks, cell sums, the
  * final corrected estimator — replays value-exactly in the SQL
  * oracle. Determinism note: the register harmonic sum is kept in
  * INTEGER space (Σ 2^(R−M) ≤ m·2^(R−1) = 2^52 fits a long exactly,
  * where R = 53 − log2(m) is the max rank), so the estimate is
  * bit-identical under any partitioning / merge order; the only
  * float ops are one division and one ln, after all aggregation.
  */
object Sketches {

  /** Max rho rank for a given register count: the 52-bit hash splits
    * into log2(m) register-index bits and 52−log2(m) rank bits, so
    * rho ∈ [1, R] with R = (52 − log2 m) + 1 = 53 − log2 m. Shared by
    * the register builder, the estimator's integer harmonic sum, and
    * the SQL oracle (TextQueries.hllSql) — the three MUST agree or the
    * raw-regime estimate deflates by 2^(off-by) (r13 advice: the
    * hardcoded 45 was only correct for m=256).
    */
  def hllMaxRank(m: Int): Int = {
    require(m > 0 && (m & (m - 1)) == 0 && m <= 65536, s"m must be a power of 2: $m")
    53 - java.lang.Integer.numberOfTrailingZeros(m)
  }

  /** Registers per group for a Flajolet-et-al HyperLogLog sketch over
    * `key`: j = h mod m picks the register, rho = R − bitlen(h div m)
    * (R = [[hllMaxRank]]) is the leading-zero rank of the remaining
    * 52−log2(m) hash bits (+1), and the register value M_j is the max
    * rank seen. Output: one row per NON-EMPTY (group, j) — absent
    * registers are zero by convention and are accounted for in
    * [[hllEstimate]].
    *
    * This is the mergeable form: `max` is the HLL merge operator, so
    * the same groupBy works as a streaming update-mode aggregate
    * (state = ≤ m rows per group, bounded forever) and register
    * tables from disjoint corpus slices union+re-max into the global
    * sketch. Output-mode note for streams: complete mode re-emits
    * every (group, j) row per trigger — fine while |groups|·m is
    * sink-sized; when |groups| itself is large, run update mode (only
    * registers whose max advanced emit) and max-merge the partial
    * emissions downstream — mergeability makes the two modes
    * equivalent (Round14Spec pins state ≤ m·|groups| under mid-stream
    * group arrival).
    */
  def hllRegisters(df: DataFrame, key: Column, groups: Seq[String],
                   m: Int = 256): DataFrame = {
    val r = hllMaxRank(m)
    val h = Sampling.saltedHash(key, "hll")
    val w = floor(h / m).cast("long")
    val rho = when(w === 0, lit(r)).otherwise(lit(r) - length(bin(w)))
    df.select(groups.map(col) :+ pmod(h, lit(m.toLong)).as("j") :+ rho.as("rho"): _*)
      .groupBy(groups.map(col) :+ col("j"): _*)
      .agg(max("rho").as("M"))
  }

  /** Fold a register table into the per-group cardinality estimate:
    * raw E = α_m·m² / Σ 2^−M_j with the small-range linear-counting
    * correction (E ≤ 2.5m and empty registers V > 0 → m·ln(m/V)).
    * The harmonic sum is the exact integer Σ 2^(R−M_j) scaled once
    * by 2^−R (R = [[hllMaxRank]]); rounding to 4 decimals absorbs the
    * sub-ulp ln/division differences between JVM and libm.
    */
  def hllEstimate(registers: DataFrame, groups: Seq[String],
                  m: Int = 256): DataFrame = {
    val r = hllMaxRank(m)
    val alphaM2 = alpha(m) * m * m
    val powR = 1L << r
    registers
      .groupBy(groups.map(col): _*)
      .agg(count(lit(1)).as("n_reg"),
        sum(expr(s"shiftleft(CAST(1 AS BIGINT), $r - M)")).as("s_int"))
      .select(groups.map(col) :+ {
        val v = lit(m) - col("n_reg")
        val s = (col("s_int") + v * lit(powR)).cast("double") / lit(powR.toDouble)
        val raw = lit(alphaM2) / s
        val est = when(raw <= lit(2.5 * m) && v > 0,
          lit(m.toDouble) * log(lit(m.toDouble) / v.cast("double")))
          .otherwise(raw)
        round(est, 4).as("hll_est")
      }: _*)
  }

  /** End-to-end per-group distinct-count estimate. */
  def hllDistinct(df: DataFrame, key: Column, groups: Seq[String],
                  m: Int = 256): DataFrame =
    hllEstimate(hllRegisters(df, key, groups, m), groups, m)

  /** α_m for the standard bias-corrected raw estimator. The published
    * small-m constants (Flajolet et al. 2007 §4) are special-cased;
    * m ≥ 128 uses the closed form. Folded to a plain double so the
    * oracle SQL can carry the identical literal (fixture ms: 64 for
    * q_hll_users — raw regime — and 256 for the document sketches).
    */
  def alpha(m: Int): Double = m match {
    case 16 => 0.673
    case 32 => 0.697
    case 64 => 0.709
    case _  => 0.7213 / (1.0 + 1.079 / m)
  }

  /** Count-min sketch cells from a weighted key table: d independent
    * salted hash rows × w buckets, cell = Σ weight. The groupBy is
    * over a FIXED d·w grid, so partial aggregation caps every
    * exchange at d·w rows per map task regardless of key cardinality
    * — the sketch never sees a per-key shuffle. Output (i, b, c).
    */
  def cmsCells(df: DataFrame, key: Column, weight: Column,
               d: Int = 4, w: Int = 1024): DataFrame =
    df.select(key.as("k"), weight.as("wt"),
        explode(sequence(lit(0), lit(d - 1))).as("i"))
      .withColumn("b", cmsBucket(col("k"), col("i"), w))
      .groupBy("i", "b").agg(sum("wt").cast("long").as("c"))

  /** Bucket of `key` in hash row `i` — pmod(hash52("cms<i>:" ++ key), w).
    * The row index is folded into the salt string so the d rows are
    * independent md5 families, replayable in the oracle.
    */
  def cmsBucket(key: Column, i: Column, w: Int): Column =
    pmod(TextAnalysis.hash52(concat(lit("cms"), i.cast("string"), lit(":"),
      key.cast("string"))), lit(w.toLong))

  /** Point estimates for `candidates` (a one-column `k` table)
    * against a cell table: est(k) = min_i cell[i][b_i(k)] — the
    * classic one-sided overestimate (est ≥ true, error ≤ εN with
    * prob 1−δ for w = ⌈e/ε⌉, d = ⌈ln 1/δ⌉). Candidate lookups are a
    * d-row explode joined to the d·w-row cell table — broadcast-sized
    * by construction.
    */
  def cmsEstimate(cells: DataFrame, candidates: DataFrame,
                  d: Int = 4, w: Int = 1024): DataFrame =
    candidates
      .select(col("k"), explode(sequence(lit(0), lit(d - 1))).as("i"))
      .withColumn("b", cmsBucket(col("k"), col("i"), w))
      .join(cells, Seq("i", "b"))
      .groupBy("k").agg(min("c").as("cms_est"))

  /** Equi-width histogram sketch with exact-rank quantiles read off
    * the cumulative counts — the distribution leg of the profiling
    * trio (HLL = how many distinct, CMS = who is heavy, histogram =
    * how are values spread). Bin = min(⌊value/width⌋, nbins−1); the
    * per-group grid is ≤ nbins rows, so like the other sketches the
    * exchange is constant-width and bins from disjoint corpus slices
    * merge by plain count-sum. Quantile convention: p_q is the LOWER
    * BOUND (bin·width) of the first bin whose cumulative count
    * reaches ceil(q·N) — all-integer logic after one IEEE ceil, so
    * the read-off replays exactly in SQL. An exact per-group
    * percentile would sort every value; the histogram trades
    * width-resolution for a corpus-size-independent plan.
    *
    * Shuffle shape: one constant-width exchange to the bin grid; the
    * cumulative walk is a running-frame window over ≤ nbins rows per
    * group; the totals join is group-count-sized (broadcast).
    */
  def histQuantiles(df: DataFrame, value: Column, groups: Seq[String],
                    width: Int, nbins: Int,
                    qs: Seq[Double] = Seq(0.5, 0.9, 0.99)): DataFrame =
    quantilesFromBins(histBins(df, value, groups, width, nbins),
      groups, width, qs)

  /** The histogram's bin-count aggregate alone — ≤ nbins rows per
    * group, count-sum mergeable, so it doubles as a bounded-state
    * streaming aggregate (the histogram twin of [[hllRegisters]]).
    * NULL values are dropped here (a NULL `value` has no bin), which
    * also pins the cumulative-window semantics downstream: Spark
    * windows sort NULLS FIRST while DuckDB sorts NULLS LAST, so a
    * surviving NULL bin would shift every cumulative count on the
    * Spark side only (r13 advice). The SQL oracles carry the matching
    * `WHERE value IS NOT NULL`. The filter must be on `value` ITSELF,
    * before binning: `least()` SKIPS null arguments in both Spark and
    * DuckDB, so `least(floor(NULL/width), nbins-1)` is `nbins-1`, not
    * NULL — a bin-level null check silently counts NULL values in the
    * top bin (r14 advice).
    */
  def histBins(df: DataFrame, value: Column, groups: Seq[String],
               width: Int, nbins: Int): DataFrame =
    df.where(value.isNotNull)
      .select(groups.map(col) :+
        least(floor(value / lit(width)), lit(nbins - 1)).cast("int").as("bin"): _*)
      .groupBy(groups.map(col) :+ col("bin"): _*)
      .agg(count(lit(1)).as("c"))

  /** Quantile read-off over a materialized (groups..., bin, c) table —
    * the batch finish shared by the one-pass and the streamed forms.
    */
  def quantilesFromBins(bins: DataFrame, groups: Seq[String], width: Int,
                        qs: Seq[Double] = Seq(0.5, 0.9, 0.99)): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val totals = bins.groupBy(groups.map(col): _*).agg(sum("c").as("n"))
    val cum = bins
      .withColumn("cum", sum("c").over(
        Window.partitionBy(groups.map(col): _*).orderBy(col("bin"))))
      .join(broadcast(totals), groups)
    val aggCols = max("n").as("n_rows") +: qs.map(q => qLo(q, width))
    cum.groupBy(groups.map(col): _*).agg(aggCols.head, aggCols.tail: _*)
  }

  /** p_q lower-bound aggregate over the cumulative bin table. */
  private def qLo(q: Double, width: Int): Column =
    min(when(col("cum") >= ceil(lit(q) * col("n")), col("bin") * width))
      .as(s"p${(q * 100).round}_lo")
}
