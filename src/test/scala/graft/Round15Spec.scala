package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.datapipe.{Sketches, Skew}
import graft.signal.Signal

/** Round-15 pins, closing the r14 verdict/advice items:
  *  - amplitude-RELATIVE quantization grains: mov_rms/integral on a
  *    µ-amplitude channel (|v| ~ 1e-4) return the right values — the
  *    r14 absolute grains (1e-6 / 1e-4) silently zeroed such channels
  *    (every fixture had O(1) amplitudes, so the oracle matrix was
  *    blind to it).
  *  - partition-invariance battery: every order-sensitive operator
  *    (integer-accumulation signals, CC, suffix-array dedup, sketches,
  *    chunked IIR) produces BIT-IDENTICAL results at
  *    shuffle.partitions ∈ {3, 7, 32} — the r14 thesis ("integer
  *    accumulation is order-free") pinned as a sweep, not an argument.
  *  - histBins drops NULL values (r14 advice: least() SKIPS nulls in
  *    both engines, so the old bin-level null check silently counted
  *    NULL values in the top bin).
  *  - saltedJoin's default salt is deterministic w.r.t. input
  *    partitioning (r14 advice: the mid()-based round-robin could
  *    assign different salts on partial-stage replay — the
  *    SPARK-23207 duplicated/lost-rows hazard).
  */
class Round15Spec extends AnyFunSuite with GraftSpark {

  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  /** A µ-amplitude constant-rate channel: v_k = A·sin(k/50) at 2 Hz.
    * With the old absolute grains every v² (≤ 1e-8) quantized to 0.
    */
  private def microChannel(amp: Double = 1e-4, n: Int = 400): DataFrame =
    (0 until n).map(k => ("micro", k * 0.5, amp * math.sin(k / 50.0)))
      .toDF("channel", "t", "v")

  test("mov_rms stays correct on a µ-amplitude channel (amplitude-relative grain)") {
    val window = 2.0 // 2 s at 2 Hz -> n = 4 samples
    val rows = Signal(microChannel()).movRms(window).df
      .orderBy("t").collect()
    assert(rows.nonEmpty)
    // independent float replay of the reference semantics: trailing
    // 4-sample RMS, first n-1 rows and the final row trimmed, t
    // shifted back by window/2
    val vs = (0 until 400).map(k => 1e-4 * math.sin(k / 50.0))
    val expected = (3 until 399).map { k =>
      (k * 0.5 - 1.0, math.sqrt((k - 3 to k).map(i => vs(i) * vs(i)).sum / 4.0))
    }
    assert(rows.length === expected.length,
      s"row count ${rows.length} vs ${expected.length}")
    rows.zip(expected).foreach { case (r, (et, ev)) =>
      assert(math.abs(r.getDouble(1) - et) < 1e-9, s"t ${r.getDouble(1)} vs $et")
      // the quantization walk scales with max(v²)·2^-35 ≈ 3e-19 per
      // term — allow 1e-9·amp absolute; an absolute-grain regression
      // would return ~0 here (ev peaks at ~1e-4, so the assertion
      // would fail by 9 orders of magnitude)
      assert(math.abs(r.getDouble(2) - ev) <= 1e-13,
        s"at t=$et: ${r.getDouble(2)} vs $ev")
    }
    assert(expected.map(_._2).max > 5e-5, "fixture sanity: signal is nonzero")
  }

  test("integral stays correct on a µ-amplitude channel (amplitude-relative grain)") {
    val rows = Signal(microChannel()).integralExact().df
      .orderBy("t").collect()
    val vs = (0 until 400).map(k => 1e-4 * math.sin(k / 50.0))
    var acc = 0.0
    val expected = (0 until 400).map { k =>
      if (k > 0) acc += (vs(k) + vs(k - 1)) / 2.0 * 0.5
      acc
    }
    assert(rows.length === 400)
    rows.zip(expected).foreach { case (r, ev) =>
      // walk ≤ max(|seg|)·2^-35·√n ~ 1e-13 at this fixture's scale
      assert(math.abs(r.getDouble(2) - ev) <= 1e-12,
        s"at t=${r.getDouble(1)}: ${r.getDouble(2)} vs $ev")
    }
    assert(math.abs(expected.last) > 1e-6, "fixture sanity: integral is nonzero")
  }

  test("all-zero channel: relative grain degrades to 1.0, results are exact zeros") {
    val z = (0 until 50).map(k => ("zero", k * 0.5, 0.0)).toDF("channel", "t", "v")
    assert(Signal(z).integralExact().df.agg(sum(abs(col("v")))).collect()(0).getDouble(0) === 0.0)
    assert(Signal(z).movRms(2.0).df.agg(sum(abs(col("v")))).collect()(0).getDouble(0) === 0.0)
  }

  test("order-sensitive operators are bit-identical under any shuffle partitioning") {
    // r14 proved integer accumulation fixes order-divergence ACROSS
    // ENGINES; this pins the same claim WITHIN the engine across
    // partition layouts — the form a 1000-executor cluster exercises.
    val names = Seq("q_integral", "q_movrms_time", "q_dedup_components",
      "q_sa_substr", "q_hll_distinct", "q_cms_heavy", "k_iir_parallel",
      "k_stream_iir")
    def resultKey(df: DataFrame): String =
      df.collect().map(_.toString).sorted.mkString("\n")
    val spWas = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      val sweeps = Seq("3", "7", "32").map { p =>
        spark.conf.set("spark.sql.shuffle.partitions", p)
        p -> names.map(n => n -> resultKey(SparkEntry.queries(n)(spark, sf))).toMap
      }
      val (p0, base) = sweeps.head
      for ((p, m) <- sweeps.tail; n <- names)
        assert(m(n) == base(n),
          s"$n differs between shuffle.partitions=$p0 and $p")
    } finally spark.conf.set("spark.sql.shuffle.partitions", spWas)
  }

  test("histBins drops NULL values instead of counting them in the top bin") {
    val df = Seq(("a", Some(5)), ("a", Some(125)), ("a", None), ("b", Some(1)))
      .toDF("g", "n_toks")
    val bins = Sketches.histBins(df, col("n_toks"), Seq("g"), width = 4, nbins = 32)
      .collect().map(r => (r.getString(0), r.getInt(1)) -> r.getLong(2)).toMap
    // 125/4 = 31.25 -> capped top bin 31 holds exactly ONE row; the
    // NULL row must not inflate it (least(NULL, 31) = 31 in both
    // Spark and DuckDB — the r14 advice trap)
    assert(bins(("a", 31)) === 1L, s"top bin inflated by NULL: $bins")
    assert(bins(("a", 1)) === 1L && bins(("b", 0)) === 1L)
    assert(bins.values.sum === 3L, s"NULL value row must be dropped: $bins")
  }

  test("saltedJoin default salt assignment is invariant to input partitioning") {
    // duplicate-heavy fact: 1000 copies of one row + distinct tail.
    // The (key, _salt) multiset must be IDENTICAL however the input
    // is partitioned — determinism on replay is the same property
    // (re-executed map tasks see a different row order/membership).
    val base = (Seq.fill(1000)(("hot", 1.0)) ++
      (1 to 500).map(i => (s"k${i % 5}", i.toDouble))).toDF("key", "v")
    val dim = base.groupBy("key").agg(avg("v").as("key_avg"))
    // the (row, salt) assignment MULTISET must be identical however
    // the input is partitioned — replay determinism is the same
    // property (a re-executed map task sees different row order)
    def saltHistogram(fact: DataFrame): Map[(String, Double, Long), Long] =
      fact.withColumn("_salt", Skew.defaultSalt(fact, salts = 8))
        .groupBy("key", "v", "_salt").count()
        .collect()
        .map(r => (r.getString(0), r.getDouble(1), r.getLong(2)) -> r.getLong(3))
        .toMap
    val h3 = saltHistogram(base.repartition(3))
    val h7 = saltHistogram(base.repartition(7))
    assert(h3 == h7, "default salt assignment must not depend on input partitioning")
    // and the duplicates really spread: no single salt holds all 1000
    val spWas = spark.conf.get("spark.sql.shuffle.partitions")
    val aqeWas = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    spark.conf.set("spark.sql.adaptive.enabled", "false") // AQE would re-coalesce
    try {
      val spread = Skew.saltedJoin(base, dim, "key", salts = 8)
      val maxPart = spread.where(col("key") === "hot")
        .withColumn("pid", spark_partition_id())
        .groupBy("pid").count().agg(max("count")).collect()(0).getLong(0)
      assert(maxPart <= 400, s"duplicates not spread: max partition $maxPart")
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", spWas)
      spark.conf.set("spark.sql.adaptive.enabled", aqeWas)
    }
  }

  test("LSH bucket cap 64 is output-identical to 256 at gate scale, and bounds pair emission") {
    import graft.datapipe.Dedup
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val sig = Dedup.minhashSignatures(docs, k = 16).cache()
    // at every gate-scale fixture no band bucket exceeds 64 members,
    // so the round-15 default (64, sized by the sf10 decade rung's
    // 71M-pair candidate explosion) must not change a single pair
    val now = Dedup.lshCandidates(sig, rowsPerBand = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val old = Dedup.lshCandidates(sig, rowsPerBand = 4, maxBucket = 256)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(now == old, "cap 64 changed gate-scale candidates — a bucket exceeds 64 members")
    // and the emission bound holds bucket-by-bucket: a synthetic
    // 300-member bucket must emit C(64,2) + (300-64) pairs, not
    // C(300,2) — pairs stay LINEAR in bucket size past the cap
    val boiler = (0 until 300)
      .map(i => (i.toLong, "all the same boilerplate text body for every clone of this row"))
      .toDF("doc_id", "text")
    val n = Dedup.lshCandidates(Dedup.minhashSignatures(boiler, k = 16),
      rowsPerBand = 4).count()
    assert(n == 64L * 63 / 2 + (300 - 64),
      s"capped bucket emitted $n pairs, want C(64,2) + 236")
    sig.unpersist()
  }
}
