package graft

import java.math.{BigDecimal => JBigDecimal, RoundingMode}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.signal.Signal

/** Round-16 pins, closing the r15 verdict items:
  *  - COUNT-FOLDED quantization grain: the r15 grain (scale/2^34) had
  *    a documented-but-unguarded int64 envelope — a max-amplitude
  *    channel past 2^28 rows silently overflowed the long cumsum.
  *    The grain is now scale·cnt/2^62, which bounds per-term quanta
  *    at 2^62/cnt so NO channel length can overflow. Pinned two ways:
  *    (a) an in-JVM sequential replay of the exact quantized
  *        algorithm (same grain derivation, same HALF_UP rounding)
  *        must be BIT-IDENTICAL to the Spark plans — proving the
  *        engine really derives grain = scale·cnt/2^62; and
  *    (b) the accumulator bound |Σ quanta| ≤ 2^62 + cnt/2 < 2^63 is
  *        asserted over channel lengths spanning 1 → 2^52 (far past
  *        the old 2^28 envelope), in exact BigDecimal arithmetic, on
  *        the production grainOf derivation — the "lowered-QuantBits
  *        proxy" the r15 verdict asked for, without generating 2^28
  *        rows.
  */
class Round16Spec extends AnyFunSuite with GraftSpark {

  import spark.implicits._

  /** Spark's round(col, 0): BigDecimal.valueOf(double) (shortest
    * decimal) + HALF_UP — the replay must round the same way, not via
    * math.rint (half-even) or math.round (floor(x+.5)).
    */
  private def roundHalfUp(x: Double): Long =
    JBigDecimal.valueOf(x).setScale(0, RoundingMode.HALF_UP).longValueExact()

  /** Deterministic 2 Hz test channel with amplitude structure (no
    * Math.random: the replay and the plan must see identical rows).
    */
  private def channel(n: Int, amp: Double): Seq[(String, Double, Double)] =
    (0 until n).map { k =>
      ("ch", k * 0.5, amp * math.sin(k / 9.0) + 0.3 * amp * math.cos(k / 2.0))
    }

  test("movRms bit-matches an in-JVM sequential replay of the count-folded grain") {
    val rows = channel(501, 2.75e3)
    val window = 4.0 // at sr = 2 Hz -> n = 8 samples
    val got = Signal(rows.toDF("channel", "t", "v")).movRms(window).df
      .orderBy("t").select("t", "v").as[(Double, Double)].collect()

    // sequential replay: identical grain derivation + quantized cumsum
    val vs = rows.map(_._3).toArray
    val cnt = vs.length.toLong
    val mx = vs.map(math.abs).max
    val grain = Signal.grainOf(mx * mx, cnt)
    val cum = vs.scanLeft(0L)((acc, v) => acc + roundHalfUp(v * v / grain)).drop(1)
    val nWin = 8
    val expect = (nWin to (cnt.toInt - 1)).map { rn => // 1-based, last row trimmed
      val diff = cum(rn - 1) - (if (rn - nWin >= 1) cum(rn - nWin - 1) else 0L)
      (rows(rn - 1)._2 - window / 2, math.sqrt(diff.toDouble * grain / nWin))
    }
    assert(got.length == expect.length)
    got.zip(expect).foreach { case ((tg, vg), (te, ve)) =>
      assert(tg == te && java.lang.Double.doubleToLongBits(vg) ==
        java.lang.Double.doubleToLongBits(ve),
        s"movRms bit-divergence at t=$tg: plan=$vg replay=$ve")
    }
  }

  test("movRms gives a NULL sample a zero quantum and a row, and reads NULL before any value") {
    // NULL v is what resample() emits past a channel's last sample;
    // "ch" opens with 10 NULLs and has two more inside, "none" is all
    // NULL (no max, no grain)
    val rows = channel(60, 3.5).zipWithIndex.map { case ((c, t, v), k) =>
      (c, t, if (k < 10 || k == 25 || k == 40) None else Some(v))
    } ++ (0 until 20).map(k => ("none", k * 0.5, Option.empty[Double]))
    val window = 4.0 // at sr = 2 Hz -> n = 8 samples
    val nWin = 8
    val got = Signal(rows.toDF("channel", "t", "v")).movRms(window).df
      .orderBy("channel", "t").select("channel", "t", "v").as[(String, Double, Option[Double])]
      .collect()

    // sequential replay: a NULL counts in rn and cnt, adds a zero
    // quantum and is left out of the max; a row whose prefix holds no
    // value reads NULL
    val expect = rows.groupBy(_._1).toSeq.sortBy(_._1).flatMap { case (c, rs) =>
      val vs = rs.map(_._3).toArray
      val cnt = vs.length
      val present = vs.flatten
      val grain =
        if (present.isEmpty) Double.NaN
        else { val m = present.map(math.abs).max; Signal.grainOf(m * m, cnt.toLong) }
      val cum = vs.scanLeft(0L)((acc, v) => acc + v.fold(0L)(x => roundHalfUp(x * x / grain)))
      val first = vs.indexWhere(_.isDefined) match { case -1 => cnt; case i => i }
      (nWin until cnt).map { rn =>
        (c, rs(rn - 1)._2 - window / 2,
          if (rn <= first) None else Some(math.sqrt((cum(rn) - cum(rn - nWin)).toDouble * grain / nWin)))
      }
    }
    assert(got.length == expect.length)
    assert(got.count(_._1 == "none") == 12 && got.filter(_._1 == "none").forall(_._3.isEmpty))
    assert(got.count(r => r._1 == "ch" && r._3.isEmpty) == 3) // rn 8 to 10
    got.zip(expect).foreach { case ((cg, tg, vg), (ce, te, ve)) =>
      assert(cg == ce && tg == te &&
        vg.map(java.lang.Double.doubleToLongBits) == ve.map(java.lang.Double.doubleToLongBits),
        s"movRms divergence at $cg t=$tg: plan=$vg replay=$ve")
    }
  }

  test("integralExact bit-matches an in-JVM sequential replay of the count-folded grain") {
    val rows = channel(737, 8.5e-3)
    val got = Signal(rows.toDF("channel", "t", "v")).integralExact().df
      .orderBy("t").select("t", "v").as[(Double, Double)].collect()

    val segs = 0.0 +: rows.sliding(2).map { case Seq((_, t0, v0), (_, t1, v1)) =>
      (v1 + v0) / 2.0 * (t1 - t0)
    }.toVector
    val cnt = rows.length.toLong
    val mx = segs.map(math.abs).max
    val grain = Signal.grainOf(mx, cnt)
    val cum = segs.scanLeft(0L)((acc, s) => acc + roundHalfUp(s / grain)).drop(1)
    val expect = rows.indices.map(i => (rows(i)._2, cum(i).toDouble * grain))
    assert(got.length == expect.length)
    got.zip(expect).foreach { case ((tg, vg), (te, ve)) =>
      assert(tg == te && java.lang.Double.doubleToLongBits(vg) ==
        java.lang.Double.doubleToLongBits(ve),
        s"integralExact bit-divergence at t=$tg: plan=$vg replay=$ve")
    }
  }

  test("count-folded grain bounds the int64 accumulator at EVERY channel length") {
    // the production derivation (Signal.grainOf), checked in exact
    // BigDecimal arithmetic across lengths 1 -> 2^52 — including the
    // 2^28/2^29 rungs where the old count-free 2^34-quanta grain
    // provably overflowed
    val two62 = new JBigDecimal(java.math.BigInteger.ONE.shiftLeft(62))
    val two63 = new JBigDecimal(java.math.BigInteger.ONE.shiftLeft(63))
    val scales = Seq(1e-170, 1e-9, 1.0, 3.7e9, 1e120)
    val counts = Seq(1L, 3L, 1000L, 1L << 20, 1L << 28, (1L << 28) + 1,
      1L << 29, 1L << 40, 1L << 52)
    for (scale <- scales; cnt <- counts) {
      val g = Signal.grainOf(scale, cnt)
      assert(g > 0.0 && !g.isInfinite, s"degenerate grain for scale=$scale cnt=$cnt")
      // per-term quantum ≤ round(scale/grain) ≤ scale/grain + 1/2;
      // worst-case |prefix sum| ≤ cnt · (scale/grain + 1/2)
      val perTerm = new JBigDecimal(scale)
        .divide(new JBigDecimal(g), java.math.MathContext.DECIMAL128)
        .add(new JBigDecimal("0.5"))
      val bound = perTerm.multiply(new JBigDecimal(cnt))
      assert(bound.compareTo(two63) < 0,
        s"int64 bound violated: scale=$scale cnt=$cnt worst |sum| = $bound ≥ 2^63")
      // and the bound is TIGHT to the design: quanta ≈ 2^62/cnt, so
      // the worst sum sits just above 2^62 — never runaway-small
      // (which would mean the grain is needlessly coarse)
      if (scale >= 1e-9) // below that the grain computation can hit
        // the subnormal floor and legitimately coarsen
        assert(bound.compareTo(two62.multiply(new JBigDecimal("0.9"))) > 0,
          s"grain needlessly coarse: scale=$scale cnt=$cnt worst |sum| = $bound")
    }
    // the CLOSED envelope, documented: under the old scheme quanta
    // were ≤ 2^34 regardless of cnt, so a 2^29-row max-amplitude
    // channel overflowed: 2^34 · 2^29 = 2^63 > Long.MaxValue
    assert(JBigDecimal.valueOf(2).pow(34).multiply(JBigDecimal.valueOf(2).pow(29))
      .compareTo(two63) >= 0)
  }

  test("cappedBandProbe bounds partners per probe band key and keeps the representative") {
    import graft.datapipe.Dedup
    // one bucket with 300 corpus members (ids 1..300), one probe (id 0)
    val corpus = (1 to 300).map(i => (i.toLong, 0, "sigX")).toDF("doc_id", "band", "sig")
    val probe = Seq((0L, 0, "sigX")).toDF("doc_id", "band", "sig")
    val got = Dedup.cappedBandProbe(probe, corpus, maxBucket = 64)
      .select("partner").as[Long].collect().sorted
    // exactly the 64 lowest-ranked members — including the rank-1
    // representative the admission decision needs
    assert(got.toSeq == (1L to 64L), s"got ${got.length} partners")

    // and when the probe is itself within the cap, it is excluded
    // from its own partners but the rest of the cap remains
    val probeIn = Seq((7L, 0, "sigX")).toDF("doc_id", "band", "sig")
    val got2 = Dedup.cappedBandProbe(probeIn, corpus, maxBucket = 64)
      .select("partner").as[Long].collect().sorted
    assert(got2.toSeq == ((1L to 64L).filterNot(_ == 7L)))
  }

  test("capped stream LSH match ≡ uncapped at gate scale (no bucket above the cap)") {
    val sf = "/root/testdata/sf0.001"
    def key(df: DataFrame): String =
      df.collect().map(_.toString).sorted.mkString("\n")
    val capped = key(SparkEntry.queries("q_stream_lsh_match_capped")(spark, sf))
    val uncapped = key(SparkEntry.queries("q_stream_lsh_match")(spark, sf))
    assert(capped == uncapped)
  }

  test("admission state buckets follow config and re-bucket as state grows") {
    import java.nio.file.Files
    import graft.datapipe.Dedup
    import graft.streaming.StreamingOps

    // 10 batches × 3 unique docs; every arrival appends 4 band rows
    val texts = (0 until 30).map { i =>
      (100L + i, s"unique document number $i with entirely disjoint words " +
        s"w${i}a w${i}b w${i}c w${i}d w${i}e w${i}f w${i}g")
    }
    val batches = texts.grouped(3).toSeq
    val dir = Files.createTempDirectory("r16_rebucket_")
    val t0 = 1700000000000L
    batches.zipWithIndex.foreach { case (docs, i) =>
      val stage = dir.resolve(s"stage_$i")
      docs.toDF("doc_id", "text").coalesce(1)
        .write.mode("overwrite").parquet(stage.toString)
      val part = {
        val st = Files.list(stage)
        try st.filter(_.getFileName.toString.endsWith(".parquet")).findFirst().get()
        finally st.close()
      }
      val dest = dir.resolve(f"f_$i%02d.parquet")
      Files.move(part, dest)
      dest.toFile.setLastModified(t0 + i * 10000L)
      org.apache.commons.io.FileUtils.deleteDirectory(stage.toFile)
    }
    def stream() = {
      import org.apache.spark.sql.types._
      spark.readStream.schema(StructType(Seq(
          StructField("doc_id", LongType), StructField("text", StringType))))
        .option("maxFilesPerTrigger", 1).option("latestFirst", "false")
        .option("pathGlobFilter", "f_*.parquet").parquet(dir.toString)
    }
    val corpus = Seq((1L, "corpus resident text that matches nothing arriving"))
      .toDF("doc_id", "text")
    val bands = Dedup.lshBands(Dedup.minhashSignaturesFromHashes(
      Dedup.shingleHashes(Dedup.shingles(corpus, distinct = false)), k = 16))
    StreamingOps.dropTableAndDir(spark, "r16_init_bands")
    StreamingOps.dropTableAndDir(spark, "r16_init_comps")
    bands.write.mode("overwrite").saveAsTable("r16_init_bands")
    corpus.select(col("doc_id"), col("doc_id").as("cluster"))
      .write.mode("overwrite").saveAsTable("r16_init_comps")

    def numBuckets(table: String): Int =
      spark.sql(s"DESCRIBE TABLE EXTENDED $table")
        .filter(col("col_name") === "Num Buckets")
        .select("data_type").head().getString(0).toInt

    // reference run at the fixed default (8 buckets, no growth)
    val ref = StreamingOps.runIncrementalAdmitPersisted(
        stream(), "r16_init_bands", "r16_init_comps", tag = "r16_ref",
        compactEvery = 2)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(numBuckets("graft_admit_bands_r16_ref") == 8)

    // grown run: 4 initial buckets, 10 rows/bucket target → 120 band
    // rows must cross 40 (→8) and 80 (→16) at the 2-batch cadence
    spark.conf.set("spark.graft.admit.stateBuckets", "4")
    spark.conf.set("spark.graft.admit.rowsPerBucket", "10")
    val got = try {
      StreamingOps.runIncrementalAdmitPersisted(
          stream(), "r16_init_bands", "r16_init_comps", tag = "r16_grow",
          compactEvery = 2)
        .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    } finally {
      spark.conf.unset("spark.graft.admit.stateBuckets")
      spark.conf.unset("spark.graft.admit.rowsPerBucket")
    }
    assert(numBuckets("graft_admit_bands_r16_grow") == 16,
      s"expected growth to 16 buckets, got ${numBuckets("graft_admit_bands_r16_grow")}")
    // decisions are bucket-layout-invariant
    assert(got == ref)
    // all 120 band rows survived both rebuckets, still batch-attributed
    val bandRows = spark.table("graft_admit_bands_r16_grow")
      .groupBy("batch_id").count().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(bandRows.values.sum == 120L && bandRows.size == 10)
    // and the state probe join parallelism follows the grown layout:
    // a (band, sig)-keyed aggregate over the bucketed table needs no
    // exchange and runs at one task per bucket
    val probeShaped = spark.table("graft_admit_bands_r16_grow")
      .groupBy("band", "sig").count()
    assert(probeShaped.rdd.getNumPartitions == 16,
      s"probe parallelism ${probeShaped.rdd.getNumPartitions} != 16 buckets")
  }

  test("heavy tier is bit-identical at cluster-shape partitioning (200, AQE on)") {
    // Round15 swept shuffle.partitions ∈ {3,7,32}; a real cluster runs
    // 200+. Same claim at the cluster shape, WITH AQE enabled (the
    // production config): partition count and AQE's runtime coalescing
    // must change nothing the user can observe.
    val sf = "/root/testdata/sf0.001"
    val names = Seq("q_dedup_components", "q_sa_substr", "q_integral",
      "q_movrms_time", "q_stream_admit_incr", "q_hll_distinct", "q_cms_heavy")
    def resultKey(df: DataFrame): String =
      df.collect().map(_.toString).sorted.mkString("\n")
    val spWas = spark.conf.get("spark.sql.shuffle.partitions")
    val aqeWas = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      val sweeps = Seq("32", "200").map { p =>
        spark.conf.set("spark.sql.shuffle.partitions", p)
        p -> names.map(n => n -> resultKey(SparkEntry.queries(n)(spark, sf))).toMap
      }
      val (p0, base) = sweeps.head
      for ((p, m) <- sweeps.tail; n <- names)
        assert(m(n) == base(n), s"$n differs between shuffle.partitions=$p0 and $p")
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", spWas)
      spark.conf.set("spark.sql.adaptive.enabled", aqeWas)
    }
  }

  test("plans hold their shape at 200 partitions: bucket join exchange-free, dim join broadcast") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, ShuffleQueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    import graft.datapipe.Bucketing
    def finalPlan(df: DataFrame): SparkPlan =
      df.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.finalPhysicalPlan
        case p => p
      }
    def shuffles(p: SparkPlan): Seq[ShuffleExchangeLike] =
      p.collect { case s: ShuffleQueryStageExec => s.shuffle } ++
        p.collect { case e: ShuffleExchangeLike => e }
    val docs = (1 to 2000).map(i => (i.toLong, s"text body $i", i % 7))
      .toDF("doc_id", "text", "grp")
    Bucketing.writeBucketed(docs, "r16_docs_bucketed", "doc_id", 8,
      sortCols = Seq("doc_id"))
    Bucketing.writeBucketed(
      docs.select(col("doc_id"), (col("grp") > 3).as("keep")),
      "r16_verdicts_bucketed", "doc_id", 8, sortCols = Seq("doc_id"))
    val spWas = spark.conf.get("spark.sql.shuffle.partitions")
    val aqeWas = spark.conf.get("spark.sql.adaptive.enabled")
    val bcastWas = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.shuffle.partitions", "200")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    try {
      // the zero-shuffle bucket-join claim survives the cluster shape
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = Bucketing.coLocatedJoin(spark,
        "r16_docs_bucketed", "r16_verdicts_bucketed", "doc_id")
      assert(joined.count() === 2000)
      assert(shuffles(finalPlan(joined)).isEmpty,
        "bucketed join shuffled at 200 partitions under AQE")
      // and the signal tier's channel-origin dim join still broadcasts
      // (partition count must not demote it to a 200-task SMJ)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", bcastWas)
      val evDir = java.nio.file.Files.createTempDirectory("r16_events_")
      try {
        (0 until 3).flatMap(c => (0 until 2000).map(k =>
          (s"c$c", new java.sql.Timestamp(1700000000000L + c * 1000L + k * 500L),
            math.sin(k / 7.0 + c)))).toDF("event_type", "ts", "value")
          .write.parquet(s"$evDir/events.parquet")
        val ev = graft.signal.Channels.events(spark, evDir.toString)
        ev.count()
        val bhj = finalPlan(ev).collect { case b: BroadcastHashJoinExec => b }
        assert(bhj.nonEmpty, "channel-origin join lost its broadcast at 200 partitions")
      } finally org.apache.commons.io.FileUtils.deleteDirectory(evDir.toFile)
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", spWas)
      spark.conf.set("spark.sql.adaptive.enabled", aqeWas)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", bcastWas)
      graft.streaming.StreamingOps.dropTableAndDir(spark, "r16_docs_bucketed")
      graft.streaming.StreamingOps.dropTableAndDir(spark, "r16_verdicts_bucketed")
    }
  }

  test("persisted admission: crash after bands-append, resume is exactly-once") {
    import java.nio.file.Files
    import graft.datapipe.Dedup
    import graft.streaming.StreamingOps

    // 6 batches with a near-dup pair SPANNING the crash point (doc 203
    // in batch 1 ≡ doc 217 in batch 5): the resumed run must resolve
    // the pair against state written before the crash
    val base = "shared near duplicate text about streaming restart recovery semantics"
    val texts = (0 until 18).map { i =>
      val body = if (i == 3) base
      else if (i == 17) base
      else s"unique restart doc $i with words r${i}a r${i}b r${i}c r${i}d r${i}e"
      (200L + i, body)
    }
    val batches = texts.grouped(3).toSeq
    val dir = Files.createTempDirectory("r16_restart_")
    val t0 = 1700000000000L
    batches.zipWithIndex.foreach { case (docs, i) =>
      val stage = dir.resolve(s"stage_$i")
      docs.toDF("doc_id", "text").coalesce(1)
        .write.mode("overwrite").parquet(stage.toString)
      val part = {
        val st = Files.list(stage)
        try st.filter(_.getFileName.toString.endsWith(".parquet")).findFirst().get()
        finally st.close()
      }
      val dest = dir.resolve(f"f_$i%02d.parquet")
      Files.move(part, dest)
      dest.toFile.setLastModified(t0 + i * 10000L)
      org.apache.commons.io.FileUtils.deleteDirectory(stage.toFile)
    }
    def stream() = {
      import org.apache.spark.sql.types._
      spark.readStream.schema(StructType(Seq(
          StructField("doc_id", LongType), StructField("text", StringType))))
        .option("maxFilesPerTrigger", 1).option("latestFirst", "false")
        .option("pathGlobFilter", "f_*.parquet").parquet(dir.toString)
    }
    val corpus = Seq((1L, "corpus resident restart text matching nothing arriving"))
      .toDF("doc_id", "text")
    val bands = Dedup.lshBands(Dedup.minhashSignaturesFromHashes(
      Dedup.shingleHashes(Dedup.shingles(corpus, distinct = false)), k = 16))
    StreamingOps.dropTableAndDir(spark, "r16r_init_bands")
    StreamingOps.dropTableAndDir(spark, "r16r_init_comps")
    bands.write.mode("overwrite").saveAsTable("r16r_init_bands")
    corpus.select(col("doc_id"), col("doc_id").as("cluster"))
      .write.mode("overwrite").saveAsTable("r16r_init_comps")

    def decisions(df: DataFrame): Map[Long, (Long, Boolean)] =
      df.collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap

    // uninterrupted baseline
    val ref = decisions(StreamingOps.runIncrementalAdmitPersisted(
      stream(), "r16r_init_bands", "r16r_init_comps", tag = "r16_rst_base",
      compactEvery = 2))
    assert(!ref(217L)._2 && ref(203L)._2, "near-dup pair must resolve in baseline")

    // crashed run: die right after bands-append of batch 3
    val ckpt = Files.createTempDirectory("r16_restart_ckpt_").toString
    val crashed = intercept[Exception] {
      StreamingOps.runIncrementalAdmitPersisted(
        stream(), "r16r_init_bands", "r16r_init_comps", tag = "r16_rst",
        compactEvery = 2, checkpointDir = Some(ckpt), failAfterBands = 3L)
    }
    assert(Iterator.iterate(crashed: Throwable)(_.getCause).takeWhile(_ != null)
      .exists(e => e.getMessage != null && e.getMessage.contains("graft-injected-crash")),
      s"expected the injected crash, got: $crashed")
    // batch 3 is genuinely HALF-written: bands has its rows, results not
    val bandsB3 = spark.table("graft_admit_bands_r16_rst")
      .filter(col("batch_id") === 3).count()
    val resultsB3 = spark.table("graft_admit_results_r16_rst")
      .filter(col("batch_id") === 3).count()
    assert(bandsB3 > 0 && resultsB3 == 0,
      s"expected a partial batch 3 (bands=$bandsB3, results=$resultsB3)")

    // resume from the checkpoint: same decisions as the uninterrupted
    // run, and the append-only accounting is exactly-once too
    val got = decisions(StreamingOps.runIncrementalAdmitPersisted(
      stream(), "r16r_init_bands", "r16r_init_comps", tag = "r16_rst",
      compactEvery = 2, checkpointDir = Some(ckpt), resume = true))
    assert(got == ref, "resumed decisions diverge from the uninterrupted run")
    val bandCounts = spark.table("graft_admit_bands_r16_rst")
      .groupBy("batch_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(bandCounts.values.sum == 4L * 18 && bandCounts.size == 6,
      s"band accounting inflated after restart: $bandCounts")
  }

  test("grain Column form and scalar form agree bit-for-bit") {
    val cases = Seq((0.0, 100L), (1e-170, 7L), (2.5e-5, 1L << 28),
      (3.1415, 999983L), (8.7e12, (1L << 40) + 17))
    val df = cases.toDF("scale", "cnt")
      .select(Signal.grain(col("scale"), col("cnt")).as("g"))
    val got = df.as[Double].collect()
    cases.zip(got).foreach { case ((s, c), g) =>
      assert(java.lang.Double.doubleToLongBits(g) ==
        java.lang.Double.doubleToLongBits(Signal.grainOf(s, c)),
        s"grain divergence for scale=$s cnt=$c")
    }
  }
}
