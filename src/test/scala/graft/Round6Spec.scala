package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.datapipe.{Bpe, Dedup, Sampling}

/** Tests for the round-6 additions: the size-gated Jaccard-verify
  * join strategy, the persisted bucketed band table, the closed
  * streaming admission loop, mixture re-weighting, BPE merge
  * training, and the unified null-text semantics.
  */
class Round6Spec extends AnyFunSuite with GraftSpark {

  private def docsFixture = {
    import spark.implicits._
    Seq(
      (0L, "the quick brown fox jumps over the lazy dog again and again"),
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "a completely different document about spark catalyst planning"),
      (3L, "a completely different document about spark catalyst planning!"),
      (4L, "short text")
    ).toDF("doc_id", "text")
  }

  test("jaccard verify: both join strategies return identical values") {
    import spark.implicits._
    val hashes = Dedup.shingleHashes(Dedup.shingles(docsFixture, distinct = false))
    val pairs = Seq((0L, 1L), (2L, 3L), (0L, 4L)).toDF("a", "b")
    val broad = Dedup.jaccardByHashes(hashes, pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val merge = Dedup.jaccardByHashes(hashes, pairs, broadcastMaxDocs = 0L)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(broad == merge)
    assert(broad((0L, 1L)) == 1.0)
    assert(broad((0L, 4L)) < 0.2)
  }

  test("jaccard verify: the gate actually switches the join strategy") {
    import spark.implicits._
    val hashes = Dedup.shingleHashes(Dedup.shingles(docsFixture, distinct = false))
    val pairs = Seq((0L, 1L), (2L, 3L)).toDF("a", "b")
    // below the threshold: the hint forces broadcast joins
    val hinted = Dedup.jaccardByHashes(hashes, pairs)
    hinted.count()
    assert(hinted.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"))
    // past the threshold (0): no hint — with broadcast estimation off,
    // the planner must fall back to shuffle joins on a/b
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val gated = Dedup.jaccardByHashes(hashes, pairs, broadcastMaxDocs = 0L)
      gated.count()
      val plan = gated.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastHashJoin"), s"gate must drop the hint:\n$plan")
      assert(plan.contains("SortMergeJoin"))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("persisted band table: bucketed by (band, sig), probe join shuffles ONLY the probe side") {
    val dir = "/root/testdata/sf0.001"
    val name = SparkEntry.persistedBandTable(spark, dir)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val probes = Dedup.explodedBandKeys(
        spark.read.parquet(s"$dir/documents.parquet").filter(col("doc_id") % 7 === 0))
      val j = probes.join(
        spark.table(name).select(col("doc_id").as("partner"), col("band"), col("sig")),
        Seq("band", "sig"))
      assert(j.count() > 0)
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"))
      // exactly ONE shuffle: the probe side repartitioning to the
      // bucket layout — the corpus-sized static side scans its
      // buckets in place (the 100 TB admission shape)
      val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
      assert(exchanges == 1, s"expected 1 exchange (probe side), got $exchanges:\n$plan")
      assert(plan.contains("Bucketed: true"), s"static side must scan buckets:\n$plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("streaming admission equals the batch keep/drop decision on the probe subset") {
    val dir = "/root/testdata/sf0.001"
    val admit = SparkEntry.queries("q_stream_admit")(spark, dir)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    val keep = SparkEntry.queries("q_dedup_keep")(spark, dir)
      .filter(col("doc_id") % 7 === 0)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(admit == keep)
    assert(admit.nonEmpty)
    // both decisions exist: some probes are representatives, and (the
    // fixture has near-dup clusters) at least one is not
    assert(admit.values.exists(_._2))
  }

  test("null-text docs are dropped identically by batch and per-row band paths") {
    import spark.implicits._
    val withNull = docsFixture.unionAll(
      Seq((99L, null: String)).toDF("doc_id", "text"))
    val aggDocs = Dedup.lshBands(
      Dedup.minhashSignaturesFromHashes(
        Dedup.shingleHashes(Dedup.shingles(withNull, distinct = false))))
      .select("doc_id").distinct().as[Long].collect().toSet
    val rowDocs = Dedup.explodedBandKeys(withNull)
      .select("doc_id").distinct().as[Long].collect().toSet
    assert(aggDocs == rowDocs)
    assert(!aggDocs.contains(99L))
    assert(aggDocs == Set(0L, 1L, 2L, 3L, 4L))
  }

  test("mixResample: exact thresholds, scarcest-per-weight group kept whole, deterministic") {
    import spark.implicits._
    val df = ((0L until 200L).map(i => (i, "a")) ++
      (200L until 300L).map(i => (i, "b")) ++
      (300L until 320L).map(i => (i, "c"))).toDF("doc_id", "grp")
    val weights = Map("a" -> 2L, "b" -> 2L, "c" -> 1L)
    val out = Sampling.mixResample(df, col("grp"), col("doc_id"), "t1", weights)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getBoolean(2))).toMap
    assert(out.size == 320)
    // m = argmin n/w = c (20/1 < 100/2? 20 < 50 yes, < 200/2) — c kept whole
    assert((300L until 320L).forall(out(_)._2))
    // thresholds replayed independently: th_g = floor(2^52 * n_m * w_g / (w_m * n_g))
    val n = Map("a" -> 200L, "b" -> 100L, "c" -> 20L)
    val hash = df.select(col("doc_id"),
        Sampling.saltedHash(col("doc_id"), "t1").as("h"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    for (g <- Seq("a", "b", "c"); (lo, hi) = (Map("a" -> 0L, "b" -> 200L, "c" -> 300L)(g),
         Map("a" -> 200L, "b" -> 300L, "c" -> 320L)(g))) {
      val th = (BigInt(1) << 52) * n("c") * weights(g) / (BigInt(weights("c")) * n(g))
      (lo until hi).foreach { i =>
        assert(out(i)._2 == (BigInt(hash(i)) < th), s"doc $i group $g")
      }
    }
    // expectation check: admitted counts are near n * rate
    val admittedA = (0L until 200L).count(out(_)._2)
    assert(admittedA > 0 && admittedA < 200)
    // rerun is identical (retry-invariance)
    val again = Sampling.mixResample(df, col("grp"), col("doc_id"), "t1", weights)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getBoolean(2))).toMap
    assert(again == out)
  }

  test("bpe merges: hand-computed evolution incl. consecutive-pair fusion and early stop") {
    import spark.implicits._
    // vocabulary {abab x10, ab x5}: round 1 merges (a,b) 25; round 2
    // (ab,$) 15; round 3 (ab,ab$) 10; round 4 finds no pairs -> stops
    val tc = Seq((1L, "abab", 10L), (2L, "ab", 5L)).toDF("doc_id", "term", "tf")
    val out = Bpe.merges(tc, rounds = 6)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(out.toSeq == Seq((1, "a", "b", 25L), (2, "ab", "$", 15L), (3, "ab", "ab$", 10L)))
    // consecutive occurrences both fuse in ONE round: aaaa -> (a,a) x3
    // counted, then <aa><aa><$> (greedy leftmost non-overlapping)
    val tc2 = Seq((1L, "aaaa", 1L)).toDF("doc_id", "term", "tf")
    val out2 = Bpe.merges(tc2, rounds = 2)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(out2.toSeq == Seq((1, "a", "a", 3L), (2, "aa", "$", 1L)))
  }

  test("bpe merges: non-[a-z0-9] terms are excluded from the vocabulary") {
    import spark.implicits._
    val tc = Seq((1L, "ok", 5L), (2L, "bad!", 100L), (3L, "<hack>", 100L))
      .toDF("doc_id", "term", "tf")
    val out = Bpe.merges(tc, rounds = 1)
      .collect().map(r => (r.getString(1), r.getString(2), r.getLong(3)))
    // only "ok" survives the filter: best pair is (o,k) or (k,$) — tie
    // at 5 broken by x asc: "k" < "o"
    assert(out.toSeq == Seq(("k", "$", 5L)))
  }

  test("connectedComponents: reliable checkpoint mode converges identically") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_ckpt").toFile
    try {
      val pairs = (0L until 20L).map(i => (i, i + 1)).toDF("a", "b")
      val local = Dedup.connectedComponents(pairs)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val reliable = Dedup.connectedComponents(pairs, checkpointDir = Some(tmp.toString))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(local == reliable)
      assert(local.values.forall(_ == 0L))
    } finally org.apache.commons.io.FileUtils.deleteQuietly(tmp)
  }
}
