package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.queries.SimilarityQueries.{PQ_ITERS, PQ_K, PQ_M}
import graft.signal.Channels

/** Tests for the round-8 fixes: pure loaders whose NTZ decoding is
  * independent of spark.sql.session.timeZone, the skew-guarded
  * duplicate-span join-back, chunked quantization-range training, and
  * the int8-scored IVF recall loop.
  */
class Round8Spec extends AnyFunSuite with GraftSpark {

  private val sf = "/root/testdata/sf0.001"

  test("rawEvents NTZ micros are independent of the session timezone") {
    // a cloned session in a non-UTC zone must read the identical epoch
    // micros: the NTZ wall-clock is decoded by field arithmetic, not a
    // session-zone cast (round-7 behavior silently shifted +11h here)
    val utc = Channels.rawEvents(spark, sf)
      .agg(sum("us"), min("us"), max("us"), count(lit(1))).collect()(0)
    val shifted = spark.newSession()
    shifted.conf.set("spark.sql.session.timeZone", "Australia/Sydney")
    val syd = Channels.rawEvents(shifted, sf)
      .agg(sum("us"), min("us"), max("us"), count(lit(1))).collect()(0)
    assert(utc === syd)
  }

  test("eventsAbsolute window matches between UTC and non-UTC sessions") {
    val Array(lo, hi) = Channels.rawEvents(spark, sf)
      .agg(min("us"), max("us")).collect()(0).toSeq.map(_.asInstanceOf[Long]).toArray
    val mid = lo + (hi - lo) / 2
    val utcRows = Channels.eventsAbsolute(spark, sf, lo, mid)
      .agg(count(lit(1)), round(sum("v"), 6)).collect()(0)
    val shifted = spark.newSession()
    shifted.conf.set("spark.sql.session.timeZone", "America/New_York")
    val nycRows = Channels.eventsAbsolute(shifted, sf, lo, mid)
      .agg(count(lit(1)), round(sum("v"), 6)).collect()(0)
    assert(utcRows === nycRows)
    assert(utcRows.getLong(0) > 0)
  }

  test("duplicateSpanStats survives a universal boilerplate span and matches the literal form") {
    import graft.datapipe.Dedup
    // 10 real docs + 50 clones of doc 0: every clone shares every
    // window with 50 siblings — the degenerate hot-h fixture (one
    // span hash carried by 51 documents)
    val d = spark.read.parquet(s"$sf/documents.parquet")
    val fixture = d.filter(col("doc_id") < 10).select(col("doc_id"), col("text"))
      .unionAll(d.filter(col("doc_id") === 0)
        .select(explode(sequence(lit(1000L), lit(1049L))).as("doc_id"), col("text")))
    val stats = Dedup.duplicateSpanStats(fixture, w = 10)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // clones duplicate every window (their text is identical to doc 0)
    assert(stats(1000L)._1 === stats(1000L)._2)
    assert(stats(0L)._1 === stats(0L)._2)
    assert(stats.keys.count(_ >= 1000L) === 50)
    // grain-reduced join-back must agree with the literal
    // window-per-row formulation it replaced
    val spans = Dedup.spanTable(fixture, 10)
    val dup = spans.select(col("doc_id"), col("h")).distinct()
      .groupBy("h").agg(count(lit(1)).as("nd")).filter(col("nd") >= 2)
      .select(col("h"), lit(1).as("dup"))
    val literal = spans.join(dup, Seq("h"), "left").groupBy("doc_id")
      .agg(count(lit(1)).as("nw"), count(col("dup")).as("ndup"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(stats === literal)
  }

  test("duplicateSpanStats join-back ships no span strings") {
    import graft.datapipe.Dedup
    val d = spark.read.parquet(s"$sf/documents.parquet").select("doc_id", "text")
    val plan = Dedup.duplicateSpanStats(d, w = 10)
      .queryExecution.executedPlan.toString
    // the join operator's output must be hash-grain integers only —
    // the span string column never reaches a join
    val joinLines = plan.linesIterator.filter(l =>
      l.contains("SortMergeJoin") || l.contains("ShuffledHashJoin") ||
        l.contains("BroadcastHashJoin")).toSeq
    assert(joinLines.nonEmpty)
    assert(!joinLines.exists(_.contains("span")), joinLines.mkString("\n"))
  }

  test("dimRanges chunks wide embeddings and returns identical ranges") {
    import graft.datapipe.Similarity
    // 1024 dims = 4 aggregation passes; ranges are analytic:
    // emb[d] = (r + 1) * (d + 1) over rows r = 0..4 -> lo = d+1,
    // hi = 5*(d+1), float-rounded
    val df = spark.range(5).selectExpr("id AS vec_id",
      "transform(sequence(0, 1023), d -> CAST((id + 1) * (d + 1) AS FLOAT)) AS embedding")
    val r = Similarity.dimRanges(df, dims = 1024)
    assert(r.length === 1024)
    (0 until 1024).foreach { d =>
      assert(r(d)._1 === (d + 1).toFloat.toDouble, s"lo at dim $d")
      assert(r(d)._2 === (5L * (d + 1)).toFloat.toDouble, s"hi at dim $d")
    }
    // non-finite data must fail loudly, not fold a NaN literal
    val bad = spark.range(2).selectExpr("id AS vec_id",
      "transform(sequence(0, 3), d -> CAST(CASE WHEN d = 2 THEN 'NaN' ELSE '1.0' END AS FLOAT)) AS embedding")
    assertThrows[IllegalArgumentException](Similarity.dimRanges(bad, dims = 4))
  }

  test("int8-scored IVF recall is within tolerance of the float path") {
    import graft.datapipe.Similarity
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val q = e.filter(col("vec_id") % 25 === 0)
    val truth = Similarity.bruteForceTopK(e, q, k = 10)
      .select(col("query_id"), col("neighbor_id"))
    val ranges = Similarity.dimRanges(e, dims = 64)
    val codes = Similarity.quantizeInt8(e, ranges)
    val cents = Array.tabulate(16)(Similarity.centroid(_, 64))
    def meanRecall(approx: org.apache.spark.sql.DataFrame): Double = {
      val hits = truth.join(approx.select("query_id", "neighbor_id")
          .withColumn("hit", lit(1)), Seq("query_id", "neighbor_id"), "left")
        .agg(sum(coalesce(col("hit"), lit(0))).cast("double"), count(lit(1)).cast("double"))
        .collect()(0)
      hits.getDouble(0) / hits.getDouble(1)
    }
    val rFloat = meanRecall(Similarity.ivfTopK(e, q, k = 10, nlist = 16, nprobe = 4, dims = 64))
    val rInt8 = meanRecall(Similarity.ivfTopKInt8(codes, q, cents, ranges, k = 10, nprobe = 4))
    // 254-level scalar quantization barely perturbs cosine ranks: the
    // int8 path must stay within 5 points of the float IVF
    assert(rInt8 >= rFloat - 0.05, s"int8 recall $rInt8 vs float $rFloat")
    assert(rInt8 > 0.3, s"int8 recall $rInt8 suspiciously low")
  }

  test("quantizeInt8 clamps below-range inputs to code -127") {
    import graft.datapipe.Similarity
    // encode a fresh vector against ranges trained elsewhere: values
    // below lo must clamp at -127, not underflow
    val ranges = Array((0.0, 1.0), (0.0, 1.0))
    val df = spark.range(1).selectExpr("id AS vec_id",
      "array(CAST(-5.0 AS FLOAT), CAST(2.0 AS FLOAT)) AS embedding")
    val codes = Similarity.quantizeInt8(df, ranges).selectExpr("codes[0]", "codes[1]")
      .collect()(0)
    assert(codes.getInt(0) === -127)
    assert(codes.getInt(1) === 127)
  }

  test("curation pipeline: gates bind, PII is scrubbed, decisions compose") {
    val df = SparkEntry.queries("q_curate_pipeline")(spark, sf).cache()
    val rows = df.count()
    // exactly the corpus (benchmark holdout excluded)
    val corpus = spark.read.parquet(s"$sf/documents.parquet")
      .filter(col("doc_id") % 97 =!= 0).count()
    assert(rows === corpus)
    def n(c: String): Long = df.filter(col(c) === true).count()
    // every gate must BIND on the real fixture (an always-true or
    // always-false gate is a configuration bug, not a pipeline)
    val admitted = n("admitted")
    assert(admitted > 0 && admitted < rows, s"admitted=$admitted of $rows")
    assert(df.filter(col("contaminated") === 1).count() > 0)
    Seq("keep", "quality_ok", "rep_ok", "mix_admitted").foreach { g =>
      val k = n(g)
      assert(k > 0 && k < rows, s"gate $g never binds: $k of $rows")
    }
    // the final decision is exactly the conjunction of its stages
    assert(df.filter(col("admitted") =!= (col("contaminated") === 0 &&
      col("keep") && col("quality_ok") && col("rep_ok") &&
      col("mix_admitted"))).count() === 0)
    // injected PII must be counted on every surviving injected doc
    assert(df.filter(col("doc_id") % 10 === 0 && col("n_pii") < 3).count() === 0)
    df.unpersist()
  }

  test("curation pipeline plan reads the corpus through shared caches") {
    val q = SparkEntry.queries("q_curate_pipeline")(spark, sf)
    q.count() // materialize the shared memos (shingles, components, scrub)
    val leaves = SparkEntry.queries("q_curate_pipeline")(spark, sf)
      .queryExecution.optimizedPlan.collectLeaves()
    // after the shared intermediates exist, every corpus-derived leaf
    // must be a cached relation — a per-stage re-scan of the text
    // (the composition bug this query guards) would put the parquet
    // relation back among the leaves. (String-matching the whole plan
    // would false-positive: InMemoryRelation PRINTS its cached child,
    // file scan included.)
    val names = leaves.map(_.getClass.getSimpleName)
    val fileLeaves = leaves.filter(l =>
      l.getClass.getSimpleName != "InMemoryRelation" &&
        l.toString.contains("documents.parquet"))
    assert(fileLeaves.isEmpty,
      s"pipeline re-scans the corpus parquet:\n${fileLeaves.mkString("\n")}")
    assert(names.count(_ == "InMemoryRelation") >= 2, names.mkString(","))
  }

  test("product quantization: codes are bounded, ADC recall is usable, ragged input fails") {
    import graft.datapipe.Similarity
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val books = Similarity.pqCodebooks(e, m = PQ_M, k = PQ_K,
      iters = PQ_ITERS, dims = 64)
    assert(books.length === PQ_M)
    assert(books.forall(_.length === PQ_K))
    assert(books.forall(_.forall(_.length === 64 / PQ_M)))
    val codes = Similarity.pqEncode(e, books).cache()
    // every code addresses a real centroid
    (0 until PQ_M).foreach { u =>
      val mm = codes.agg(min(s"c$u"), max(s"c$u")).collect()(0)
      assert(mm.getInt(0) >= 0 && mm.getInt(1) < PQ_K, s"subspace $u: $mm")
    }
    // ADC search never touches the float corpus; recall vs the exact
    // truth must clear a usable floor (deterministic fit, so this is
    // a stable number — ~0.3 on the synthetic fixture at 64x
    // compression)
    val q = e.filter(col("vec_id") % 25 === 0)
    val truth = Similarity.bruteForceTopK(e, q, k = 10)
      .select(col("query_id"), col("neighbor_id"))
    val hits = truth.join(Similarity.pqTopK(codes, q, books, k = 10)
        .select(col("query_id"), col("neighbor_id")).withColumn("hit", lit(1)),
        Seq("query_id", "neighbor_id"), "left")
      .agg(sum(coalesce(col("hit"), lit(0))).cast("double"), count(lit(1)).cast("double"))
      .collect()(0)
    val recall = hits.getDouble(0) / hits.getDouble(1)
    assert(recall >= 0.15, s"PQ ADC recall $recall suspiciously low")
    codes.unpersist()
    // ragged embedding must fail loudly, not silently null-pad
    val bad = spark.range(1).selectExpr("id AS vec_id",
      "transform(sequence(0, 9), d -> CAST(d AS FLOAT)) AS embedding")
    // raise_error surfaces wrapped per Spark's runtime exception
    // hierarchy; any throwable is the contract (vs silent nulls)
    intercept[Exception](Similarity.pqEncode(bad, books).collect())
  }

  test("BPE encode applies merges in training order and matches training segmentation") {
    import spark.implicits._
    import graft.datapipe.Bpe
    // merge 2 consumes the symbol merge 1 creates: wrong order would
    // leave "<ab><c>" unfused
    val words = Seq("abc", "ab", "zq").toDF("word")
    val got = Bpe.encode(words, Seq(("a", "b"), ("ab", "c")))
      .collect().map(r => r.getString(0) -> ((r.getString(1), r.getInt(2)))).toMap
    assert(got("abc") === (("<abc><$>", 2)))
    assert(got("ab") === (("<ab><$>", 2)))
    assert(got("zq") === (("<z><q><$>", 3)))
    // encode over the TRAINING vocabulary reproduces training's final
    // segmentation: same merges, same order, same replace
    val tc = Seq((0L, "lower", 2L), (0L, "lowest", 1L), (1L, "low", 3L))
      .toDF("doc_id", "term", "tf")
    val merges = Bpe.merges(tc, rounds = 4).orderBy("round")
      .collect().map(r => (r.getString(1), r.getString(2))).toSeq
    val e2 = Bpe.encode(tc.select(col("term").as("word")).distinct(), merges)
    assert(e2.count() === 3)
    // token counts: eligible terms at their encoded length, weighted
    // by tf (all three words share the trained "low" prefix merges)
    val counts = Bpe.tokenCounts(tc, merges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val lens = e2.collect().map(r => r.getString(0) -> r.getInt(2)).toMap
    assert(counts(0L) === 2L * lens("lower") + 1L * lens("lowest"))
    assert(counts(1L) === 3L * lens("low"))
  }

  test("loaders no longer mutate session config") {
    val clean = spark.newSession()
    // unset in the clone: reading through the loaders must not set it
    assert(clean.conf.getOption("spark.sql.legacy.parquet.nanosAsLong")
      .forall(_ != "true") || true) // clone inherits the root conf; assert no NEW mutation below
    val before = clean.conf.getAll.filter(_._1.startsWith("spark.sql.legacy"))
    Channels.rawEvents(clean, sf).count()
    Channels.eventsAbsolute(clean, sf, 0L, Long.MaxValue / 2000).count()
    val after = clean.conf.getAll.filter(_._1.startsWith("spark.sql.legacy"))
    assert(before === after)
  }

  test("substrDedup: h-keyed exchanges are string-free; 5000-clone hot span completes") {
    import graft.datapipe.Dedup
    val d = spark.read.parquet(s"$sf/documents.parquet")
    val plan = Dedup.substrDedup(d, w = 10).queryExecution.executedPlan
    val offenders = plan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
          if e.outputPartitioning.toString.contains("h#") &&
            e.child.output.exists(_.dataType ==
              org.apache.spark.sql.types.StringType) => e
    }
    assert(offenders.isEmpty,
      s"span strings shuffled on the h key:\n${offenders.mkString("\n")}")
    // hot-span stress: every window of 5000 clones collides
    val fixture = d.filter(col("doc_id") === 0).select(col("doc_id"), col("text"))
      .unionAll(d.filter(col("doc_id") === 0)
        .select(explode(sequence(lit(10000L), lit(14999L))).as("doc_id"), col("text")))
    val out = Dedup.substrDedup(fixture, w = 10)
      .agg(count(lit(1)), sum(when(col("n_kept") > 0, 1L).otherwise(0L)),
        sum("n_kept"), max("n_tokens")).collect()(0)
    assert(out.getLong(0) === 5001L)
    assert(out.getLong(1) === 1L, "only the first occurrence keeps tokens")
    assert(out.getLong(2) === out.getLong(3), "doc 0 keeps every token")
  }

  test("substrDedup excises copied passages token-exactly, keeps unique borders") {
    import spark.implicits._
    import graft.datapipe.Dedup
    // doc 1 copies a 12-token passage from doc 0 between unique
    // intro/outro; with w=10 every window inside the passage is
    // duplicated, nothing straddling the unique borders is
    val passage = (1 to 12).map(i => s"p$i").mkString(" ")
    val a = s"alpha beta $passage gamma delta"
    val b = s"uno dos tres $passage quatro"
    val docs = Seq((0L, a), (1L, b), (2L, "tiny doc")).toDF("doc_id", "text")
    val out = Dedup.substrDedup(docs, w = 10)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), Option(r.getString(3))))).toMap
    // doc 0 owns the passage (first occurrence) — fully intact
    assert(out(0L) === ((16L, 16L, Some(a))))
    // doc 1 loses exactly the 12 copied tokens, keeps its borders
    assert(out(1L) === ((16L, 4L, Some("uno dos tres quatro"))))
    // docs shorter than w have no windows and are untouched
    assert(out(2L) === ((2L, 2L, Some("tiny doc"))))
  }

  test("chunkDedup: no string column rides an h-keyed exchange (plan-asserted)") {
    import graft.datapipe.Dedup
    val d = spark.read.parquet(s"$sf/documents.parquet")
    val plan = Dedup.chunkDedup(d, w = 20).queryExecution.executedPlan
    // every Exchange hash-partitioned on the span hash must carry
    // only integer columns — the chunk STRINGS may only shuffle on
    // doc-keyed or final-aggregate exchanges
    val offenders = plan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
          if e.outputPartitioning.toString.contains("h#") &&
            e.child.output.exists(_.dataType ==
              org.apache.spark.sql.types.StringType) => e
    }
    assert(offenders.isEmpty,
      s"chunk strings shuffled on the h key:\n${offenders.mkString("\n")}")
  }

  test("chunkDedup: 5000-clone hot hash completes with exact counts") {
    import graft.datapipe.Dedup
    // two orders of magnitude past the 50-clone fixture: 15-ish hot
    // hashes carried by 5001 documents each — the degenerate
    // boilerplate shape the narrow join-back exists for
    val d = spark.read.parquet(s"$sf/documents.parquet")
    val fixture = d.filter(col("doc_id") === 0).select(col("doc_id"), col("text"))
      .unionAll(d.filter(col("doc_id") === 0)
        .select(explode(sequence(lit(10000L), lit(14999L))).as("doc_id"), col("text")))
    val out = Dedup.chunkDedup(fixture, w = 20)
      .agg(count(lit(1)), sum(when(col("n_kept") > 0, 1L).otherwise(0L)),
        sum("n_kept"), sum("n_chunks")).collect()(0)
    val perDoc = out.getLong(3) / 5001L
    assert(out.getLong(0) === 5001L)      // every doc present
    assert(out.getLong(1) === 1L)         // only doc 0 keeps anything
    assert(out.getLong(2) === perDoc)     // it keeps exactly one copy
  }

  test("chunkDedup keeps first occurrences only and rewrites documents in order") {
    import spark.implicits._
    import graft.datapipe.Dedup
    val a = "one two three four five"   // w=2 chunks: "one two","three four","five"
    val b = "three four six seven"      // shares chunk "three four" with a
    val docs = Seq((0L, a), (1L, b), (2L, a)).toDF("doc_id", "text") // 2 = exact clone of 0
    val out = Dedup.chunkDedup(docs, w = 2)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), Option(r.getString(3))))).toMap
    // doc 0 owns every one of its chunks (first occurrence)
    assert(out(0L) === ((3L, 3L, Some(a))))
    // doc 1 loses "three four" to doc 0, keeps the rest in order
    assert(out(1L) === ((2L, 1L, Some("six seven"))))
    // the clone loses everything: NULL rewrite, zero kept
    assert(out(2L) === ((3L, 0L, None)))
    // global invariant: kept chunks == distinct chunks
    val kept = out.values.map(_._2).sum
    assert(kept === 4L) // one two / three four / five / six seven
  }

  test("chunkDedup survives a universal boilerplate chunk (50-clone fixture)") {
    import graft.datapipe.Dedup
    // 10 real docs + 50 clones of doc 0: every clone's every chunk is
    // owned by doc 0 — the degenerate hot-h fixture for the h-keyed
    // ownership join (narrow 24-byte rows by construction)
    val d = spark.read.parquet(s"$sf/documents.parquet")
    val fixture = d.filter(col("doc_id") < 10).select(col("doc_id"), col("text"))
      .unionAll(d.filter(col("doc_id") === 0)
        .select(explode(sequence(lit(1000L), lit(1049L))).as("doc_id"), col("text")))
    val out = Dedup.chunkDedup(fixture, w = 20)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(out.size === 60)
    // doc 0 keeps everything; every clone keeps nothing
    assert(out(0L)._1 === out(0L)._2)
    (1000L to 1049L).foreach { id =>
      assert(out(id)._1 === out(0L)._1)
      assert(out(id)._2 === 0L, s"clone $id kept chunks")
    }
    // the 10 real docs keep at least one chunk each (word-soup texts
    // are not mutual exact-chunk duplicates at w=20)
    (1L until 10L).foreach(id => assert(out(id)._2 >= 1L))
  }

  test("perceptual_hash64 expression equals the exploded-aggregate formulation") {
    import graft.datapipe.Multimodal
    // the fused per-row expression (production path) and the
    // explode/aggregate reference must emit identical bits on the
    // whole fixture corpus
    val media = Multimodal.syntheticMedia(
      spark.read.parquet(s"$sf/documents.parquet"))
    val viaExpr = Multimodal.perceptualHash(media)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaAgg = Multimodal.perceptualHashExploded(media)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaExpr === viaAgg)
    assert(viaExpr.nonEmpty)
  }

  test("perceptualHash: clones collide, perturbations stay near, distinct texts differ") {
    import spark.implicits._
    import graft.datapipe.{Dedup, Multimodal}
    val base = "the quick brown fox jumps over the lazy dog " * 8
    val media = Seq(
      (0L, base), (1L, base),                      // exact clone pair
      (2L, base.replace("quick", "quack")),        // small perturbation
      (3L, base.reverse + "zzzzqqqq0123"))         // different profile
      .toDF("media_id", "text")
      .select(col("media_id"), lit("image").as("kind"),
        to_binary(col("text"), lit("utf-8")).as("bytes"))
    val ph = Multimodal.perceptualHash(media)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ph(0L) === ph(1L), "identical payloads must collide")
    assert(java.lang.Long.bitCount(ph(0L) ^ ph(2L)) <= 10,
      s"perturbed payload drifted ${java.lang.Long.bitCount(ph(0L) ^ ph(2L))} bits")
    // near-dup counts ride the shared banded-hamming tail
    val nd = Dedup.hammingNearDups(
        Multimodal.perceptualHash(media)
          .select(col("media_id").as("doc_id"), col("phash").as("simhash")),
        media.select(col("media_id").as("doc_id")), maxHamming = 6)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toMap
    assert(nd(0L) >= 1L && nd(1L) >= 1L, "clone pair must count as near-dups")
  }

  test("leak-free split co-assigns near-dup clusters; the doc_id split does not") {
    import graft.datapipe.{Dedup, Sampling}
    // a clone cluster spread over doc_ids that a doc_id-keyed split
    // scatters: the component-keyed split must keep it together
    val fixture = spark.read.parquet(s"$sf/documents.parquet")
      .filter(col("doc_id") < 10).select(col("doc_id"), col("text"))
      .unionAll(spark.read.parquet(s"$sf/documents.parquet")
        .filter(col("doc_id") === 0)
        .select(explode(sequence(lit(1000L), lit(1049L))).as("doc_id"), col("text")))
    val comps = Dedup.connectedComponents(
      Dedup.lshCandidates(Dedup.minhashSignatures(fixture), rowsPerBand = 4))
      .select(col("doc_id"), col("component"))
    val d = fixture.join(comps, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("component"), col("doc_id")).as("rep"))
    val leakfree = Sampling.hashSplit(d, col("rep"), "split1",
        Seq("train" -> 80, "val" -> 10, "test" -> 10))
      .select(col("doc_id"), col("rep"), col("split")).collect()
    val byRep = leakfree.groupBy(_.getLong(1)).values
    // every cluster lands whole in exactly one split
    assert(byRep.forall(_.map(_.getString(2)).toSet.size == 1))
    // the clone cluster is non-trivial (doc 0 + its 50 clones)
    val cluster0 = leakfree.filter(_.getLong(1) == 0L)
    assert(cluster0.length >= 51)
    // the doc_id-keyed split DOES scatter that same cluster — the
    // leak this operator exists to close
    val naive = Sampling.hashSplit(d, col("doc_id"), "split1",
        Seq("train" -> 80, "val" -> 10, "test" -> 10))
      .filter(col("rep") === 0L).select("split").collect().map(_.getString(0)).toSet
    assert(naive.size > 1, "expected the naive split to scatter the clone cluster")
  }

  test("rewrite pipeline: every gate binds in both directions on the fixture") {
    // an always-true or always-false gate would make the composition
    // vacuous (the q_curate_pipeline discipline, applied to the
    // rewrite chain)
    val out = SparkEntry.queries("q_curate_rewrite")(spark, sf)
      .select(col("dedup_ok"), col("quality_ok"), col("lm_ok"), col("admitted"))
      .collect()
    for ((name, i) <- Seq("dedup_ok" -> 0, "quality_ok" -> 1, "lm_ok" -> 2,
        "admitted" -> 3)) {
      assert(out.exists(_.getBoolean(i)), s"$name never true")
      assert(out.exists(!_.getBoolean(i)), s"$name never false")
    }
  }

  test("Bloom build is partitioning-invariant and has no false negatives") {
    import spark.implicits._
    import graft.functions.Bloom
    val keys = (0L until 5000L).map(i => i * 0x9e3779b97f4a7c15L + i)
    val m = Bloom.sizeFor(keys.size)
    def build(parts: Int): Array[Byte] =
      keys.toDF("h1").repartition(parts)
        .agg(Bloom.buildAgg(m, 7)(col("h1"))).head().getAs[Array[Byte]](0)
    val b1 = build(1)
    val b8 = build(8)
    // OR-merge is associative/commutative: bytes identical however the
    // rows were partitioned (the property that makes the sketch safe
    // to build distributed)
    assert(java.util.Arrays.equals(b1, b8))
    assert(keys.forall(Bloom.mightContain(b1, _)), "bloom false negative")
    // FPR sanity at m ~ 10n bits, k=7: ~1%; allow generous slack
    val probes = (1L to 20000L).map(i => -i * 0x632be59bd9b4e019L - i)
      .filterNot(keys.contains)
    val fp = probes.count(Bloom.mightContain(b1, _))
    assert(fp.toDouble / probes.size < 0.05, s"FPR ${fp.toDouble / probes.size}")
  }

  test("bloom_might_contain codegen path agrees with the Scala probe") {
    import spark.implicits._
    import graft.functions.Bloom
    val keys = (0L until 2000L).map(Bloom.mix)
    val bloom = keys.toDF("h1").agg(Bloom.buildAgg(Bloom.sizeFor(2000), 7)(col("h1")))
      .head().getAs[Array[Byte]](0)
    val univ = (0L until 4000L).map(Bloom.mix)
    // df.filter runs the expression inside whole-stage codegen; the
    // reference set runs the same probe through the interpreter
    val viaSql = univ.toDF("h1")
      .filter(Bloom.bloomMightContain(lit(bloom), col("h1")))
      .as[Long].collect().toSet
    val viaScala = univ.filter(Bloom.mightContain(bloom, _)).toSet
    assert(viaSql === viaScala)
    assert(keys.toSet.subsetOf(viaSql))
  }

  test("bloom_might_contain is callable from SQL after registration") {
    import spark.implicits._
    import graft.functions.Bloom
    GraftExtensions.register(spark)
    val keys = (0L until 500L).map(Bloom.mix)
    val bloom = keys.toDF("h1").agg(Bloom.buildAgg(Bloom.sizeFor(500), 7)(col("h1")))
      .head().getAs[Array[Byte]](0)
    val univ = (0L until 1000L).map(Bloom.mix)
    univ.toDF("h1").createOrReplaceTempView("bloom_univ")
    val hx = bloom.map("%02X".format(_)).mkString
    val viaSql = spark.sql(
      s"SELECT h1 FROM bloom_univ WHERE bloom_might_contain(X'$hx', h1)")
      .as[Long].collect().toSet
    val viaScala = univ.filter(Bloom.mightContain(bloom, _)).toSet
    assert(viaSql === viaScala)
  }

  test("broadcast-backed bloom probe agrees with the literal fold") {
    import spark.implicits._
    import graft.functions.Bloom
    val keys = (0L until 2000L).map(Bloom.mix)
    val bloom = keys.toDF("h1").agg(Bloom.buildAgg(Bloom.sizeFor(2000), 7)(col("h1")))
      .head().getAs[Array[Byte]](0)
    val bc = spark.sparkContext.broadcast(bloom)
    val univ = (0L until 4000L).map(Bloom.mix).toDF("h1")
    // the Bc expression ships only the handle; the generated code
    // probes the torrent-fetched bytes — same bits, same verdicts
    val viaBc = univ.filter(Bloom.bloomMightContainBc(bc, col("h1")))
      .as[Long].collect().toSet
    val viaLit = univ.filter(Bloom.bloomMightContain(lit(bloom), col("h1")))
      .as[Long].collect().toSet
    assert(viaBc === viaLit)
    assert(keys.toSet.subsetOf(viaBc))
  }

  test("benchmarkOverlapBloom hash-matches the exact broadcast path") {
    import graft.datapipe.Dedup
    val sh = Dedup.shingleHashes(Dedup.shingles(
      spark.read.parquet(s"$sf/documents.parquet"), distinct = false))
    val corpus = sh.filter(col("doc_id") % 97 =!= 0)
    val bench = sh.filter(col("doc_id") % 97 === 0)
    val exact = Dedup.benchmarkOverlap(corpus, bench)
      .collect().map(r => r.getLong(0) -> r.toSeq.tail).toMap
    val bloomed = Dedup.benchmarkOverlapBloom(corpus, bench)
      .collect().map(r => r.getLong(0) -> r.toSeq.tail).toMap
    assert(bloomed === exact)
    assert(exact.nonEmpty)
    // the probe must sit BELOW the exact semi-join: survivors-only
    // rows reach the shuffle/broadcast verify
    val plan = Dedup.benchmarkOverlapBloom(corpus, bench)
      .queryExecution.executedPlan.toString
    assert(plan.contains("bloom_might_contain"))
    assert(plan.toLowerCase.contains("leftsemi"))
  }
}
