package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.datapipe.{Clustering, Dedup, Packing, Similarity}

/** Tests for the round-5 additions: two-level sequence packing,
  * k-means-trained IVF centroids, and recall composition.
  */
class Round5Spec extends AnyFunSuite with GraftSpark {

  private def packFixture = {
    import spark.implicits._
    // 3 shards x 40 docs, token counts 0..12 (including zero-token
    // docs — the bin_last = bin_first - 1 edge case)
    (0L until 120L).map { i =>
      (i, s"s${i % 3}", (i * 7 % 13).toInt)
    }.toDF("doc_id", "shard", "n_tok")
  }

  test("packChunksBlocked: bit-identical to the single-window form, incl. zero-token docs") {
    val plain = Packing.packChunks(packFixture, col("n_tok"), budget = 16,
      col("shard"), col("doc_id"))
      .select("doc_id", "tokens", "start_off", "bin_first", "bin_last")
    val blocked = Packing.packChunksBlocked(packFixture, col("n_tok"), budget = 16,
      col("shard"), col("doc_id"), floor(col("doc_id") / 8))
      .select("doc_id", "tokens", "start_off", "bin_first", "bin_last")
    val p = plain.collect().map(r => r.getLong(0) -> r.toSeq).toMap
    val b = blocked.collect().map(r => r.getLong(0) -> r.toSeq).toMap
    assert(p == b)
    assert(p.size == 120)
  }

  test("packChunksBlocked: stage-1 window partitions on (shard, block) — one shard spans tasks") {
    val blocked = Packing.packChunksBlocked(packFixture, col("n_tok"), budget = 16,
      col("shard"), col("doc_id"), floor(col("doc_id") / 8))
    // the data-sized window must be keyed by (shard, block), not shard
    // alone — that's what removes the one-task-per-shard ceiling
    val plan = blocked.queryExecution.executedPlan.toString
    assert(plan.contains("__block"))
    assert(plan.contains("__shard"))
    // and hash-distributing one shard's rows by (shard, block) really
    // spreads them across partitions (what the window's exchange does)
    val spread = packFixture.filter(col("shard") === "s0")
      .withColumn("__block", floor(col("doc_id") / 8))
      .repartition(4, col("shard"), col("__block"))
      .select(spark_partition_id().as("pid"))
      .distinct().count()
    assert(spread > 1)
  }

  test("ivfTopKWith: trained centroids, nprobe = nlist recovers brute force exactly") {
    import spark.implicits._
    val rng = new scala.util.Random(29)
    val dims = 16
    val corpus = (0L until 150L).map(i => (i, Array.fill(dims)(rng.nextFloat() * 2 - 1)))
      .toDF("vec_id", "embedding")
    val queries = corpus.filter(col("vec_id") % 30 === 0)
    val cents = Clustering.kmeansCentroids(corpus, k = 6, iters = 2, dims = dims)
    assert(cents.length == 6 && cents.forall(_.length == dims))
    // trained centroids differ from the md5 seeds (training moved them)
    val seeds = Array.tabulate(6)(j => Array.tabulate(dims)(Clustering.initComponent(j, _)))
    assert(cents.zip(seeds).exists { case (c, s) => !c.sameElements(s) })
    val out = Similarity.ivfTopKWith(corpus, queries, cents, k = 5, nprobe = 6, dims = dims)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val bf = Similarity.bruteForceTopK(corpus, queries, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(out == bf)
  }

  test("bucketed tables join with zero exchanges (co-located join pattern)") {
    import spark.implicits._
    // the 100 TB pattern for repeatedly-joined tables: bucket both
    // sides on the join key at write time and the sort-merge join
    // needs NO shuffle at read time — verify Spark actually plans it
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val a = (1L to 1000L).map(i => (i, i * 2)).toDF("k", "va")
      val b = (1L to 1000L).map(i => (i, i * 3)).toDF("k", "vb")
      a.write.mode("overwrite").bucketBy(8, "k").sortBy("k").saveAsTable("bk_a")
      b.write.mode("overwrite").bucketBy(8, "k").sortBy("k").saveAsTable("bk_b")
      val j = spark.table("bk_a").join(spark.table("bk_b"), "k")
      assert(j.count() == 1000)
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"))
      assert(!plan.contains("Exchange"), s"bucketed join must not shuffle:\n$plan")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS bk_a")
      spark.sql("DROP TABLE IF EXISTS bk_b")
    }
  }

  test("bandKeysOf: per-row band keys equal the aggregate pipeline's, byte for byte") {
    import spark.implicits._
    // varied texts incl. short (< shingle length), empty-ish, and dups
    val docs = Seq(
      (0L, "the quick brown fox jumps over the lazy dog"),
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "Completely different content with MORE tokens and punctuation!!"),
      (3L, "ab"), (4L, "x"), (5L, "  "),
      (6L, "spark catalyst tungsten codegen exchange partition")
    ).toDF("doc_id", "text")
    val aggBands = Dedup.minhashSignatures(docs, k = 16)
      .withColumn("band", (col("i") / 4).cast("int"))
      .groupBy("doc_id", "band")
      .agg(md5(to_binary(concat_ws(",", sort_array(collect_list(
        concat(col("i"), lit(":"), col("minhash"))))), lit("utf-8"))).as("sig"))
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getString(2)).toMap
    val perRow = Dedup.explodedBandKeys(docs)
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getString(2)).toMap
    assert(perRow == aggBands)
    assert(perRow.size == 7 * 4)
    // identical docs agree on every band; distinct docs do not
    assert((0 until 4).forall(b => perRow((0L, b)) == perRow((1L, b))))
    assert((0 until 4).exists(b => perRow((0L, b)) != perRow((2L, b))))
  }

  test("ivfListSizes: occupancy partitions the corpus exactly") {
    import spark.implicits._
    val rng = new scala.util.Random(41)
    val dims = 8
    val corpus = (0L until 300L).map(i => (i, Array.fill(dims)(rng.nextFloat() * 2 - 1)))
      .toDF("vec_id", "embedding")
    val cents = Clustering.kmeansCentroids(corpus, k = 6, iters = 1, dims = dims)
    val sizes = Similarity.ivfListSizes(corpus, cents, dims = dims).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(sizes.values.sum == 300L) // every vector in exactly one list
    assert(sizes.keys.forall(j => j >= 0 && j < 6))
  }

  test("streaming fingerprint dedup equals batch distinct counts over the bounded source") {
    import graft.streaming.StreamingOps._
    val dir = "/root/testdata/sf0.001"
    val streamed = SparkEntry.queries("q_stream_fingerprint")(spark, dir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val batch = spark.read.parquet(s"$dir/documents.parquet")
      .groupBy("source")
      .agg(countDistinct(graft.datapipe.TextAnalysis.fingerprint(col("text"))).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("ivfTopKWith: nprobe < nlist recall is measurable against brute force") {
    import spark.implicits._
    val rng = new scala.util.Random(31)
    val dims = 8
    val corpus = (0L until 200L).map(i => (i, Array.fill(dims)(rng.nextFloat() * 2 - 1)))
      .toDF("vec_id", "embedding")
    val queries = corpus.filter(col("vec_id") % 40 === 0)
    val cents = Clustering.kmeansCentroids(corpus, k = 8, iters = 2, dims = dims)
    val approx = Similarity.ivfTopKWith(corpus, queries, cents, k = 5, nprobe = 2, dims = dims)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val bf = Similarity.bruteForceTopK(corpus, queries, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = approx.intersect(bf).size.toDouble / bf.size
    assert(recall > 0.0 && recall <= 1.0)
  }
}
