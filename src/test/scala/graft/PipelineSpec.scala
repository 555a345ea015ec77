package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.datapipe.{Packing, Ranking, Sampling, Sessions, TextAnalysis}

/** Tests for the pipeline operators added in round 4: gap-based
  * sessionization, repetition signals, TF-IDF/BM25 ranking, and
  * deterministic sampling/splitting.
  */
class PipelineSpec extends AnyFunSuite with GraftSpark {

  private def docsDf = {
    import spark.implicits._
    Seq(
      (0L, "the cat sat on the mat the cat", "en", "s0"),
      (1L, "dog dog dog dog", "en", "s0"),
      (2L, "one two three four five six", "en", "s1"),
      (3L, "alpha", "de", "s1"))
      .toDF("doc_id", "text", "lang", "source")
  }

  test("sessionize: boundaries exactly at gap threshold, per-user restart") {
    import spark.implicits._
    // user 1: gaps of 10s, exactly 3600s (NOT a new session: > means
    // strictly greater), 3601s (new session); user 2: single event
    val us = Seq(0L, 10L, 3610L, 7211L).map(_ * 1000000L)
    val events = (us.zipWithIndex.map { case (u, i) => (i.toLong, 1L, u, 1.0) } :+
      (99L, 2L, 5L * 1000000L, 2.0))
      .toDF("event_id", "user_id", "us", "value")
    val out = Sessions.sessionize(events, gapSec = 3600)
      .select("event_id", "user_id", "session_seq").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(out == Set((0L, 1L, 1L), (1L, 1L, 1L), (2L, 1L, 1L), (3L, 1L, 2L),
      (99L, 2L, 1L)))
    val stats = Sessions.sessionStats(events, gapSec = 3600)
      .orderBy("user_id", "session_seq").collect()
    assert(stats.map(_.getLong(2)).toSeq == Seq(3L, 1L, 1L)) // n_events
    assert(stats(0).getDouble(3) == 3610.0) // dur_sec of first session
  }

  test("repetition: exact fractions, single-token doc yields null bigram stats") {
    val out = TextAnalysis.repetition(docsDf).collect()
      .map(r => r.getLong(0) -> r).toMap
    // doc 0: 8 tokens, top word "the" x3; bigram "the cat" x2 of 7
    assert(out(0L).getLong(1) == 8 && out(0L).getDouble(4) == 3.0 / 8)
    assert(out(0L).getDouble(5) == 2.0 / 7)
    // doc 1: fully repeated
    assert(out(1L).getDouble(4) == 1.0 && out(1L).getDouble(5) == 1.0)
    // doc 2: all distinct
    assert(out(2L).getDouble(3) == 1.0)
    // doc 3: one token -> no bigrams -> null fraction
    assert(out(3L).isNullAt(5))
  }

  test("dupNgramCoverage: overlap-aware union, short docs zero, all-repeat full") {
    import spark.implicits._
    val df = Seq(
      // 3-grams: abc bca cab abc bca cab — every class twice, every
      // position covered
      (0L, "a b c a b c a b"),
      // all 3-grams distinct
      (1L, "one two three four five six"),
      // shorter than n
      (2L, "x y"),
      // dup class "p q r" at pos 1 and 5 -> covered {1,2,3,5,6,7}:
      // overlapping occurrences must not double-count
      (3L, "p q r s p q r t u v"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.dupNgramCoverage(df, n = 3).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out(0L).getLong(1) == 8 && out(0L).getLong(2) == 8 &&
      out(0L).getDouble(3) == 1.0)
    assert(out(1L).getLong(2) == 0 && out(1L).getDouble(3) == 0.0)
    assert(out(2L).getLong(2) == 0 && out(2L).getDouble(3) == 0.0)
    assert(out(3L).getLong(2) == 6 && out(3L).getDouble(3) == 0.6)
  }

  test("tfidf: integer-keyed ranks, rare terms outrank common ones at equal tf") {
    val rows = Ranking.tfidfTopK(docsDf, k = 2).collect()
    val byDoc = rows.groupBy(_.getLong(0))
    assert(byDoc.values.forall(rs => rs.map(_.getInt(1)).sorted.sameElements(1 to rs.length)))
    // doc 0: "the" (tf 3) then "cat" (tf 2)
    val d0 = byDoc(0L).sortBy(_.getInt(1)).map(_.getString(2)).toSeq
    assert(d0 == Seq("the", "cat"))
    // scores are positive and finite
    assert(rows.forall(r => r.getDouble(5) > 0 && !r.getDouble(5).isNaN))
  }

  test("bm25: only matching docs scored, repeated-term doc saturates below linear") {
    val out = Ranking.bm25(docsDf, Seq("dog", "cat"))
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getLong(2))).toMap
    assert(out.keySet == Set(0L, 1L))
    assert(out(0L)._2 == 1 && out(1L)._2 == 1)
    // tf saturation: doc 1 has tf=4 of "dog" but score must be well
    // under 4x the idf (k1=1.2 caps the tf term at k1+1)
    val idfDog = math.log(1.0 + (4 - 1 + 0.5) / (1 + 0.5))
    assert(out(1L)._1 < 4 * idfDog)
  }

  test("hashSplit: deterministic, partition-independent, full cover") {
    val a = Sampling.hashSplit(docsDf, col("doc_id"), "s",
      Seq("train" -> 80, "val" -> 10, "test" -> 10))
    val b = Sampling.hashSplit(docsDf.repartition(7), col("doc_id"), "s",
      Seq("train" -> 80, "val" -> 10, "test" -> 10))
    val am = a.collect().map(r => r.getLong(0) -> r.getAs[String]("split")).toMap
    val bm = b.collect().map(r => r.getLong(0) -> r.getAs[String]("split")).toMap
    assert(am == bm && am.size == 4)
    assert(am.values.forall(Set("train", "val", "test")))
    intercept[IllegalArgumentException] {
      Sampling.hashSplit(docsDf, col("doc_id"), "s", Seq("a" -> 50, "b" -> 40))
    }
  }

  test("stratifiedSample: subset, deterministic, respects 0 and 1 fractions") {
    val full = Sampling.stratifiedSample(docsDf, col("lang"), col("doc_id"), "x",
      Map("en" -> 1.0, "de" -> 1.0))
    assert(full.count() == 4)
    val none = Sampling.stratifiedSample(docsDf, col("lang"), col("doc_id"), "x",
      Map("en" -> 0.0))
    assert(none.count() == 0)
    val s1 = Sampling.stratifiedSample(docsDf, col("lang"), col("doc_id"), "y",
      Map("en" -> 0.5, "de" -> 0.5)).collect().map(_.getLong(0)).toSet
    val s2 = Sampling.stratifiedSample(docsDf.repartition(5), col("lang"), col("doc_id"), "y",
      Map("en" -> 0.5, "de" -> 0.5)).collect().map(_.getLong(0)).toSet
    assert(s1 == s2)
  }

  test("sessionWindows: bounded stream equals batch gap-sessionization (>= boundary)") {
    import graft.streaming.StreamingOps._
    val sfDir = "/root/testdata/sf0.001"
    val streamed = runToMemorySink(
      sessionWindows(userEventsStream(spark, sfDir)), "t_sessions", "complete")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // batch replay with session_window's strict-merge convention
    // (new session iff gap >= 8h, i.e. > 8h - 1us) — exact for every
    // possible gap, no precondition needed
    val batch = Sessions.sessionizeMicros(
      graft.signal.Channels.rawEvents(spark, sfDir), gapUs = 28800L * 1000000L - 1)
    val batchAgg = batch.groupBy("user_id", "session_seq")
      .agg(min("us").as("start_us"), count(lit(1)).as("n_events"))
      .select("user_id", "start_us", "n_events")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(streamed == batchAgg)
  }

  test("ranking with a shared term-count table matches the self-computed path") {
    val tc = Ranking.termCounts(docsDf)
    val a = Ranking.tfidfTopK(docsDf, k = 2).collect().map(_.toString).sorted.toSeq
    val b = Ranking.tfidfTopK(docsDf, k = 2, tc = Some(tc)).collect().map(_.toString).sorted.toSeq
    assert(a == b)
    val c = Ranking.bm25(docsDf, Seq("dog", "cat")).collect().map(_.toString).sorted.toSeq
    val d = Ranking.bm25(docsDf, Seq("dog", "cat"), tc = Some(tc)).collect().map(_.toString).sorted.toSeq
    assert(c == d)
  }

  test("packChunks: contiguous spans, straddling docs, budget-boundary exactness") {
    import spark.implicits._
    // tokens per doc: 3, 4, 5 in shard A (budget 4); 4 in shard B
    val d = Seq((0L, "a b c", "A"), (1L, "d e f g", "A"), (2L, "h i j k l", "A"),
      (3L, "m n o p", "B")).toDF("doc_id", "text", "source")
    val out = Packing.packChunks(d, TextAnalysis.wsTokenCount(col("text")),
        budget = 4, col("source"), col("doc_id"))
      .select("doc_id", "start_off", "bin_first", "bin_last")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val m = out
    // doc0 [0,3) -> bin 0; doc1 [3,7) straddles bins 0..1; doc2 [7,12) bins 1..2
    assert(m(0L) == (0L, 0L, 0L))
    assert(m(1L) == (3L, 0L, 1L))
    assert(m(2L) == (7L, 1L, 2L))
    // shard B restarts offsets; doc3 [0,4) ends exactly at the budget
    // boundary and must stay in bin 0
    assert(m(3L) == (0L, 0L, 0L))
    // zero-token doc at a NON-boundary offset still occupies no chunk
    // (bin_last < bin_first regardless of start_off % budget)
    val z = Seq((0L, 5L, "A"), (1L, 0L, "A")).toDF("doc_id", "ntok", "source")
    val zr = Packing.packChunks(z, col("ntok"), budget = 4, col("source"), col("doc_id"))
      .filter(col("doc_id") === 1).select("bin_first", "bin_last").collect().head
    assert(zr.getLong(1) < zr.getLong(0))
  }

  test("passages: full coverage, overlap, short-doc single window") {
    import spark.implicits._
    // 10 tokens, chunk 4, stride 3 -> passages at 0,3,6 (extra=6,
    // ceil(6/3)=2 -> pids 0..2); last covers tokens 7..10
    val d = Seq((0L, (1 to 10).map(i => s"t$i").mkString(" ")),
      (1L, "a b")).toDF("doc_id", "text")
    val out = Packing.passages(d, chunk = 4, stride = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getString(3))).toMap
    assert(out((0L, 0L)) == (4L, "t1 t2 t3 t4"))
    assert(out((0L, 1L)) == (4L, "t4 t5 t6 t7"))
    assert(out((0L, 2L)) == (4L, "t7 t8 t9 t10"))
    // short doc: one window, shorter than chunk
    assert(out((1L, 0L)) == (2L, "a b"))
    assert(out.size == 4)
    // every token of doc 0 appears in at least one passage
    val covered = out.collect { case ((0L, _), (_, p)) => p.split(" ") }.flatten.toSet
    assert(covered == (1 to 10).map(i => s"t$i").toSet)
  }

  test("repetition with a shared term-count table matches the self-computed path") {
    val tc = Ranking.termCounts(docsDf)
    val a = TextAnalysis.repetition(docsDf).collect().map(_.toString).sorted.toSeq
    val b = TextAnalysis.repetition(docsDf, tc = Some(tc))
      .collect().map(_.toString).sorted.toSeq
    assert(a == b)
  }

  test("sampling/packing invariants on a 1000-key population") {
    import spark.implicits._
    val pop = (0L until 1000L).map(i => (i, s"k$i", if (i % 3 == 0) "en" else "de"))
      .toDF("doc_id", "text", "lang")
    // hash split proportions track the percentages (md5 is uniform;
    // ±4% absolute at n=1000 is ~5 sigma)
    val counts = Sampling.hashSplit(pop, col("doc_id"), "propcheck",
        Seq("train" -> 80, "val" -> 10, "test" -> 10))
      .groupBy("split").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(math.abs(counts("train") - 800L) < 40)
    assert(math.abs(counts("val") - 100L) < 40)
    assert(math.abs(counts("test") - 100L) < 40)
    // stratified rates track the per-stratum fractions
    val strat = Sampling.stratifiedSample(pop, col("lang"), col("doc_id"), "ratecheck",
        Map("en" -> 0.3, "de" -> 0.6))
      .groupBy("lang").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(math.abs(strat("en") - 0.3 * 334) < 35)
    assert(math.abs(strat("de") - 0.6 * 666) < 45)
    // packChunks bookkeeping: per shard, offsets partition the token
    // stream (last start_off + tokens == total tokens) and bins are
    // contiguous from 0
    val packed = pop.select(col("doc_id"), col("lang"),
      (col("doc_id") % 7 + 1).as("ntok"))
    val p = Packing.packChunks(packed, col("ntok"), budget = 10, col("lang"), col("doc_id"))
    val chk = p.groupBy("lang").agg(
        max(col("start_off") + col("tokens")).as("end"),
        sum("tokens").as("total"),
        min("bin_first").as("b0"),
        countDistinct("bin_first").as("nbins"),
        max("bin_first").as("bmax")).collect()
    chk.foreach { r =>
      assert(r.getLong(1) == r.getLong(2)) // end == total
      assert(r.getLong(3) == 0L) // first bin is 0
      // every bin id in [0, bmax] is some doc's bin_first (contiguous
      // starts, since no doc exceeds the budget here)
      assert(r.getLong(4) == r.getLong(5) + 1)
    }
  }

  test("connectedComponents: component id is the min member and a real member") {
    import spark.implicits._
    // pseudo-random sparse graph over 60 nodes, deterministic
    val rng = new scala.util.Random(7)
    val pairs = (1 to 80).map { _ =>
      val a = rng.nextInt(60).toLong; val b = rng.nextInt(60).toLong
      (math.min(a, b), math.max(a, b))
    }.filter(p => p._1 != p._2).distinct.toDF("a", "b")
    val out = graft.datapipe.Dedup.connectedComponents(pairs, maxIters = 8).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val nodes = out.keySet
    out.foreach { case (doc, comp) =>
      assert(comp <= doc) // labels only decrease toward the min id
      assert(nodes.contains(comp)) // component id is a real member
      assert(out(comp) == comp) // the min member carries its own id
    }
  }

  test("connectedComponents: chain, clique and pair all converge to true components") {
    import spark.implicits._
    import graft.datapipe.Dedup
    // chain 1-2-3-4 (diameter 3), clique {10,11,12}, isolated pair
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (11L, 12L),
      (10L, 12L), (20L, 21L)).toDF("a", "b")
    val out = Dedup.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(Seq(1L, 2L, 3L, 4L).forall(out(_) == (1L, 4L)))
    assert(Seq(10L, 11L, 12L).forall(out(_) == (10L, 3L)))
    assert(Seq(20L, 21L).forall(out(_) == (20L, 2L)))
  }

  test("connectedComponents: fixpoint merges a deep chain that 3 fixed rounds under-merge") {
    import spark.implicits._
    import graft.datapipe.Dedup
    // path graph 0-1-2-...-9: diameter 9 > the old fixed 3 rounds —
    // the fixpoint loop must still converge to ONE component
    val pairs = (0L until 9L).map(i => (i, i + 1)).toDF("a", "b")
    val out = Dedup.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out.size == 10)
    assert((0L to 9L).forall(out(_) == (0L, 10L)))
    // and the maxIters runaway guard still bounds the loop: on an
    // adversarially-ordered (monotone-id) chain longer than 2 rounds'
    // capped compression can cover (t^64 advances at most 64 nodes
    // per round on such a chain), the far end must come out
    // deterministically under-merged — the guard property, pinned
    // without re-pinning the per-round recurrence's exact labels
    val longPairs = (0L until 299L).map(i => (i, i + 1)).toDF("a", "b")
    val bounded = Dedup.connectedComponents(longPairs, maxIters = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(bounded(299L) != 0L, s"expected node 299 under-merged, got ${bounded(299L)}")
  }

  test("connectedComponents: two-sided chained jumps converge a 100-node path in <= 6 rounds") {
    import spark.implicits._
    import graft.datapipe.Dedup
    // diameter 99 >> 12: plain one-hop propagation could NOT converge
    // within the default maxIters — covered distance must grow ~4x
    // per round (the chained label^4 jump + the neighbor-side jump)
    val pairs = (0L until 99L).map(i => (i, i + 1)).toDF("a", "b")
    // the counted variant ties the round assertion to THIS run, not
    // whichever CC run a sibling suite happened to execute last
    val (labels, rounds) = Dedup.connectedComponentsCounted(pairs)
    val out = labels
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out.size == 100)
    assert((0L to 99L).forall(out(_) == (0L, 100L)))
    // round count includes the final no-change round that detects the
    // fixpoint; the simulation of the recurrence gives exactly 6
    assert(rounds <= 6, s"expected <= 6 rounds, took $rounds")
  }

  test("lshCandidates/bandedPairs: oversized buckets emit star edges, not m^2 pairs") {
    import spark.implicits._
    import graft.datapipe.Dedup
    // 12 identical docs -> identical minhash signatures -> one bucket
    // of 12 members per band; cap 4 must bound pairs at
    // C(4,2) + (12-4) = 14, with every member still connected
    val docs = (0L until 12L).map(i => (i, "the same boilerplate text body every time"))
      .toDF("doc_id", "text")
    val sig = Dedup.minhashSignatures(docs, k = 16)
    val pairs = Dedup.lshCandidates(sig, rowsPerBand = 4, maxBucket = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.length == 6 + 8) // C(4,2) full + 8 star edges
    // connectivity: union-find over the emitted pairs reaches all 12
    val parent = scala.collection.mutable.Map((0L until 12L).map(i => i -> i): _*)
    def find(x: Long): Long = if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
    pairs.foreach { case (a, b) => parent(find(a)) = find(b) }
    assert((0L until 12L).map(find).toSet.size == 1)
    // and the diagnostic names the bucket: 4 bands x same oversized set
    val stats = Dedup.lshBucketStats(sig, rowsPerBand = 4, maxBucket = 4).collect()
    assert(stats.length == 4)
    assert(stats.forall(r => r.getLong(1) == 0L && r.getLong(2) == 12L && r.getLong(3) == 8L))
  }

  test("lshCandidates cap boundaries: bucket == cap keeps all pairs; cap 1 is a pure star") {
    import spark.implicits._
    import graft.datapipe.Dedup
    val docs = (0L until 12L).map(i => (i, "the same boilerplate text body every time"))
      .toDF("doc_id", "text")
    val sig = Dedup.minhashSignatures(docs, k = 16)
    // cap exactly the bucket size: full C(12,2) pairing, no stars
    val full = Dedup.lshCandidates(sig, rowsPerBand = 4, maxBucket = 12).count()
    assert(full == 66)
    // cap 1: every member pairs once with the representative
    val star = Dedup.lshCandidates(sig, rowsPerBand = 4, maxBucket = 1).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(star.length == 11)
    assert(star.forall(_._1 == 0L))
    assert(star.map(_._2).sorted.toSeq == (1L to 11L))
  }

  test("CountOccurrencesSum matches the replace-count trick, incl. overlap semantics") {
    import spark.implicits._
    import graft.functions.CountOccurrencesSum.countOccurrencesSum
    // " the the " is the adversarial case: replace consumes the shared
    // space, so the padded form counts ONE " the " — the scan must too
    val rows = Seq(
      "the cat the dog the", "the the the", "und der das ist", "",
      "no stopwords here at all", "the", "thethe the  the",
      ("x " * 500) + "the end").toDF("text")
    val needles = Seq("the", "und", "der").map(w => s" $w ")
    val padded = concat(lit(" "), lower(col("text")), lit(" "))
    val fast = countOccurrencesSum(padded, needles)
    val slow = needles.map { n =>
      ((length(padded) - length(call_function("replace", padded, lit(n), lit(""))))
        / n.length).cast("long")
    }.reduce(_ + _)
    val diff = rows.select(fast.as("f"), slow.as("s")).filter(col("f") =!= col("s"))
    assert(diff.count() == 0)
    // null text -> null count
    val withNull = Seq(Some("the x"), None).toDF("text")
    val out = withNull.select(countOccurrencesSum(
      concat(lit(" "), col("text"), lit(" ")), Seq(" the "))).collect()
    assert(out(0).getLong(0) == 1 && out(1).isNullAt(0))
    // SQL registration path
    graft.GraftExtensions.register(spark)
    val viaSql = rows.selectExpr(
      "count_occurrences_sum(concat(' ', lower(text), ' '), ' the ', ' und ', ' der ') AS c")
      .agg(sum("c")).collect().head.getLong(0)
    val viaCol = rows.select(fast.as("c")).agg(sum("c")).collect().head.getLong(0)
    assert(viaSql == viaCol)
  }

  test("perGroupSample: exactly min(k, group size) per group, stable under repartition") {
    val a = Sampling.perGroupSample(docsDf, col("source"), col("doc_id"), "z", k = 1)
      .collect().map(r => (r.getAs[String]("source"), r.getLong(0))).toSet
    val b = Sampling.perGroupSample(docsDf.repartition(3), col("source"), col("doc_id"), "z", k = 1)
      .collect().map(r => (r.getAs[String]("source"), r.getLong(0))).toSet
    assert(a == b && a.size == 2)
    val all = Sampling.perGroupSample(docsDf, col("source"), col("doc_id"), "z", k = 10)
    assert(all.count() == 4)
  }
}
