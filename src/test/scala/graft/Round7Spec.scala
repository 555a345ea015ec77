package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.datapipe.{Bpe, Dedup}
import graft.queries.DedupQueries
import graft.signal.Channels

/** Tests for the round-7 fixes: the TIMESTAMP_NTZ events loader (the
  * fixture regeneration that silently killed 64 queries in round 6),
  * connected-components convergence under the raised iteration cap,
  * the memoized Jaccard-verify gate hint, and the full-matrix smoke
  * sweep that makes a loader break impossible to miss again.
  */
class Round7Spec extends AnyFunSuite with GraftSpark {

  private val sf = "/root/testdata/sf0.001"

  test("rawEvents accepts the TIMESTAMP_NTZ fixture encoding") {
    val raw = Channels.rawEvents(spark, sf)
    // the regenerated fixtures carry parquet timestamp[us] with
    // isAdjustedToUTC=false -> Spark TIMESTAMP_NTZ; the loader must
    // not crash at analysis time (round 6's failure) and must produce
    // exact integer microseconds
    val r = raw.select(min("us"), max("us")).collect()(0)
    assert(r.getLong(0) > 1500000000000000L, "epoch micros expected")
    assert(r.getLong(1) > r.getLong(0))
    assert(raw.count() > 0)
  }

  test("eventsAbsolute: NTZ range predicate is pushed to the parquet scan") {
    val Array(lo, hi) = Channels.rawEvents(spark, sf)
      .select(min("us"), max("us")).collect()(0).toSeq.map(_.asInstanceOf[Long]).toArray
    val mid = lo + (hi - lo) / 2
    val win = Channels.eventsAbsolute(spark, sf, lo, mid)
    assert(win.count() > 0)
    // the bound literal is cast to NTZ so the comparison stays on the
    // raw column — PushedFilters must show the ts range reaching the
    // scan (the 100 TB "give me last week" path); a filter on a
    // derived/cast column would read every row group
    val plan = win.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters:") &&
      plan.contains("GreaterThanOrEqual(ts") && plan.contains("LessThanOrEqual(ts"),
      s"ts range predicate must be scan-pushed:\n$plan")
  }

  test("eventsAbsolute window equals the equivalent filter on full ingestion") {
    val Array(lo, hi) = Channels.rawEvents(spark, sf)
      .select(min("us"), max("us")).collect()(0).toSeq.map(_.asInstanceOf[Long]).toArray
    val mid = lo + (hi - lo) / 2
    val win = Channels.eventsAbsolute(spark, sf, lo, mid)
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getDouble(2))).toSet
    val full = Channels.rawEvents(spark, sf)
    val origins = full.groupBy(col("event_type")).agg(min("us").as("us0"))
    val expect = full.filter(col("us") >= lo && col("us") <= mid)
      .join(origins, "event_type")
      .select(col("event_type"),
        ((col("us") - col("us0")) / lit(1000000.0)).as("t"), col("value"))
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getDouble(2))).toSet
    assert(win == expect)
  }

  test("connectedComponents: converges strictly under the cap on the real candidate graph") {
    // a run that exits at maxIters ships under-merged labels — the
    // exact green-but-wrong state round 6 benched at sf0.1; strict
    // convergence (a changed==0 round before the bound) is the gate.
    // The counted hook ties the round count to THIS run, not to
    // whichever CC run a sibling suite executed last.
    val (labels, rounds) = DedupQueries.ccConvergence(spark, sf)
    assert(labels.count() > 0)
    assert(rounds < SparkEntry.CC_ORACLE_ROUNDS,
      s"CC hit the iteration cap un-converged: $rounds rounds")
  }

  test("connectedComponents: 500-node path converges under default maxIters") {
    import spark.implicits._
    // the r6 failure shape: a long chain whose diameter outruns an
    // optimistic per-round coverage model. 500 >> anything a fixture
    // candidate graph produces; must converge with rounds to spare.
    val pairs = (0L until 499L).map(i => (i, i + 1)).toDF("a", "b")
    // the counted variant ties the round assertion to THIS run, not
    // whatever CC run a sibling test happened to execute last
    val (out, rounds) = Dedup.connectedComponentsCounted(pairs)
    assert(out.collect().forall(_.getLong(1) == 0L))
    assert(rounds < 16,
      s"expected convergence under the 16-round cap, took $rounds")
  }

  test("jaccard verify: neededDocsHint changes neither values nor the gated strategy") {
    import spark.implicits._
    val docs = Seq(
      (0L, "the quick brown fox jumps over the lazy dog again and again"),
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "a completely different document about spark catalyst planning")
    ).toDF("doc_id", "text")
    val hashes = Dedup.shingleHashes(Dedup.shingles(docs, distinct = false))
    val pairs = Seq((0L, 1L), (0L, 2L)).toDF("a", "b")
    val counted = Dedup.jaccardByHashes(hashes, pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val hinted = Dedup.jaccardByHashes(hashes, pairs, neededDocsHint = Some(3L))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(hinted == counted)
    // an oversized hint must flip the gate to the shuffle join, same
    // as an oversized real count (hint and count share the gate)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val gated = Dedup.jaccardByHashes(hashes, pairs,
        broadcastMaxDocs = 2L, neededDocsHint = Some(3L))
      val vals = gated.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
      assert(vals == counted)
      val plan = gated.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastHashJoin"), s"oversized hint must drop the hint:\n$plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("bpe merges: correct across the re-materialization boundary (>32 rounds)") {
    import spark.implicits._
    // 36 distinct symbols -> 36 merge rounds, crossing the REMAT=32
    // plan-truncation point: digits fuse first (tie-break x asc, '0'
    // sorts before letters), then their word-final block, then the
    // letters, then the final fusion — the last merges run on a
    // re-materialized segmentation and must still be exact
    val word = ('a' to 'z').mkString + ('0' to '9').mkString
    val tc = Seq((1L, word, 1L)).toDF("doc_id", "term", "tf")
    val out = Bpe.merges(tc, rounds = 40)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(out.length == 36, s"expected 36 merges, got ${out.length}")
    assert(out.last == ((36, ('a' to 'z').mkString, ('0' to '9').mkString + "$", 1L)))
    // prefix stability: a shorter run is byte-identical on the shared rounds
    val short10 = Bpe.merges(tc, rounds = 10)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(out.take(10).toSeq == short10.toSeq)
  }

  test("duplicateSpanStats: shared 10-token span is counted, unique text is not") {
    import spark.implicits._
    val boiler = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val docs = Seq(
      (1L, s"unique $boiler"),
      (2L, s"$boiler totally different trailing words here now ok fine yes"),
      (3L, "nothing shared in this particular document at all ten tokens"),
      (4L, "short text"), // < 10 tokens -> no windows
      (5L, null: String)
    ).toDF("doc_id", "text")
    val stats = graft.datapipe.Dedup.duplicateSpanStats(docs, w = 10)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // doc 1: 11 tokens -> 2 windows, the last is the boilerplate span
    // (shared with doc 2's first window); doc 3: 1 window, unshared
    assert(stats(1L) == ((2L, 1L)))
    assert(stats(2L)._2 == 1L)
    assert(stats(3L) == ((1L, 0L)))
    assert(!stats.contains(4L) && !stats.contains(5L))
    val top = graft.datapipe.Dedup.topDuplicateSpans(docs, w = 10)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(top.toSeq == Seq((boiler, 2L)))
  }

  test("redactPii: stage order, counts, and null pass-through") {
    import spark.implicits._
    val docs = Seq(
      (1L, "mail a.b+c@test.org or x@y.io ip 10.2.3.4 acct 123456789 ok"),
      (2L, "no pii here just words"),
      (3L, null: String)
    ).toDF("doc_id", "text")
    val out = graft.datapipe.TextAnalysis.redactPii(docs)
      .collect().map(r => r.getLong(0) -> r).toMap
    val r1 = out(1L)
    assert(r1.getInt(1) == 2 && r1.getInt(2) == 1 && r1.getInt(3) == 1)
    assert(r1.getString(4) ==
      "mail <EMAIL> or <EMAIL> ip <IP> acct <NUM> ok")
    assert(out(2L).getString(4) == "no pii here just words")
    assert(out(2L).getInt(1) == 0)
    assert(out(3L).isNullAt(4))
  }

  test("quantizeInt8: endpoints clamp to ±127, constant dims quantize to -127") {
    import spark.implicits._
    val vecs = Seq(
      (1L, Array(0.0f, 10.0f, 5.0f)),
      (2L, Array(1.0f, 20.0f, 5.0f)),
      (3L, Array(0.5f, 15.0f, 5.0f))
    ).toDF("vec_id", "embedding")
    val ranges = graft.datapipe.Similarity.dimRanges(vecs, dims = 3)
    assert(ranges(0) == ((0.0, 1.0)) && ranges(2) == ((5.0, 5.0)))
    val codes = graft.datapipe.Similarity.quantizeInt8(vecs, ranges)
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    // x == lo -> floor(0) - 127 = -127; x == hi -> floor(254) capped -> 127;
    // midpoint -> floor(127) - 127 = 0; constant dim -> -127
    assert(codes(1L) == Seq(-127, -127, -127))
    assert(codes(2L) == Seq(127, 127, -127))
    assert(codes(3L) == Seq(0, 0, -127))
  }

  test("smoke: every declared query runs end-to-end at sf0.001") {
    val failed = Smoke.run(spark, sf)
    assert(failed.isEmpty, "queries crashed:\n" + failed.map { case (n, e) =>
      s"  $n: ${e.getClass.getName}: ${e.getMessage}" }.mkString("\n"))
    // every declared query (and the flagship) was actually exercised
    assert(SparkEntry.queries.nonEmpty)
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("streaming admission equals batch keep/drop at sf0.1 (converged components)") {
    // round 6 verified this loop only at small SF while the persisted
    // components table at bench scale was silently under-merged (CC
    // capped at 8 rounds). With convergence asserted above, re-verify
    // the loop invariant at the scale where it broke.
    val dir = "/root/testdata/sf0.1"
    val admit = SparkEntry.queries("q_stream_admit")(spark, dir)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    val keep = SparkEntry.queries("q_dedup_keep")(spark, dir)
      .filter(col("doc_id") % 7 === 0)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    // the components behind both sides must have CONVERGED, not hit
    // the iteration cap (round 6 shipped a green-but-under-merged
    // sf0.1 table exactly this way); assert on a counted fresh run
    // over the same sf0.1 candidate graph, not the shared global
    val (_, rounds) = DedupQueries.ccConvergence(spark, dir)
    assert(rounds < SparkEntry.CC_ORACLE_ROUNDS,
      s"sf0.1 CC hit the cap un-converged: $rounds rounds")
    assert(admit == keep)
    assert(admit.nonEmpty)
    assert(admit.values.exists(_._2) && admit.values.exists(!_._2))
  }
}
