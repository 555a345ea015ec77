package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.datapipe.{Dedup, Similarity}

/** Tests for the corpus-curation additions: benchmark-overlap
  * decontamination, the IVF probe sweep, and the stream-static LSH
  * admission join's building blocks.
  */
class CurationSpec extends AnyFunSuite with GraftSpark {

  private def docsDF = {
    import spark.implicits._
    Seq(
      // doc 1 is literally a benchmark doc (full contamination);
      // doc 2 shares a long substring with it (partial); doc 3 is
      // unrelated clean text
      (0L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (1L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (2L, "completely fresh opening words then the quick brown fox jumps over the lazy dog"),
      (3L, "an entirely different document about distributed query engines and shuffles")
    ).toDF("doc_id", "text")
  }

  private def hashesOf(d: org.apache.spark.sql.DataFrame) =
    Dedup.shingleHashes(Dedup.shingles(d, distinct = false))

  test("benchmarkOverlap: exact copy flagged, partial overlap measured, clean doc zero") {
    val all = hashesOf(docsDF)
    val out = Dedup.benchmarkOverlap(
      all.filter(col("doc_id") =!= 0L), all.filter(col("doc_id") === 0L))
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getInt(4))).toMap
    // doc 1: identical text — every shingle hits
    val (n1, h1, o1, c1) = out(1L)
    assert(n1 == h1 && o1 == 1.0 && c1 == 1)
    // doc 2: shares the long tail — partial but contaminated
    val (n2, h2, o2, c2) = out(2L)
    assert(h2 > 0 && h2 < n2 && o2 > 0.1 && c2 == 1)
    // doc 3: disjoint vocabulary — 5-gram collisions possible but rare
    val (n3, h3, _, c3) = out(3L)
    assert(h3 * 10 < n3 && c3 == 0)
  }

  test("benchmarkOverlap: flag threshold is exact at the 10% boundary") {
    import spark.implicits._
    // synthetic hash table: doc 10 has 10 shingles, exactly 1 shared
    // with the benchmark => hits*10 == n_shingles => contaminated
    val corpus = (0 until 10).map(i => (10L, 100L + i, 0L)).toDF("doc_id", "h1", "h2")
    val bench = Seq((99L, 100L, 0L)).toDF("doc_id", "h1", "h2")
    val r = Dedup.benchmarkOverlap(corpus, bench).collect()
    assert(r.length == 1 && r(0).getLong(2) == 1L && r(0).getInt(4) == 1)
  }

  test("ivfProbeSweep: recall is monotone in nprobe and hits 1.0 at nprobe = nlist") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val vecs = (0L until 60L).map(i =>
      (i, Array.fill(8)(rnd.nextGaussian().toFloat))).toDF("vec_id", "embedding")
    val cents = graft.datapipe.Clustering.kmeansCentroids(vecs, k = 4, iters = 2, dims = 8)
    val sweep = Similarity.ivfProbeSweep(vecs, vecs.filter(col("vec_id") % 10 === 0),
        cents, k = 5, nprobes = Seq(1, 2, 4), dims = 8)
      .collect().map(r => r.getInt(0) -> r.getDouble(4)).toMap
    assert(sweep.keySet == Set(1, 2, 4))
    assert(sweep(1) <= sweep(2) + 1e-9 && sweep(2) <= sweep(4) + 1e-9)
    // probing every list IS brute force
    assert(math.abs(sweep(4) - 1.0) < 1e-9)
  }

  test("ivfProbeSweep: nprobe=n leg equals the standalone ivfTopKWith search") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val vecs = (0L until 40L).map(i =>
      (i, Array.fill(6)(rnd.nextGaussian().toFloat))).toDF("vec_id", "embedding")
    val cents = graft.datapipe.Clustering.kmeansCentroids(vecs, k = 4, iters = 1, dims = 6)
    val q = vecs.filter(col("vec_id") % 8 === 0)
    // recall legs recomputed against the same truth must agree with
    // counting hits of the standalone search
    val sweep = Similarity.ivfProbeSweep(vecs, q, cents, k = 5, nprobes = Seq(2), dims = 6)
      .collect()(0)
    val truth = Similarity.bruteForceTopK(vecs, q, k = 5)
      .select("query_id", "neighbor_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val standalone = Similarity.ivfTopKWith(vecs, q, cents, k = 5, nprobe = 2, dims = 6)
      .select("query_id", "neighbor_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val hits = truth.intersect(standalone).size
    assert(sweep.getLong(3) == hits.toLong)
    assert(sweep.getLong(2) == truth.size.toLong)
  }

  test("lshBands factors the candidate join: pairs unchanged vs direct computation") {
    val sig = Dedup.minhashSignaturesFromHashes(hashesOf(docsDF), k = 16)
    val bands = Dedup.lshBands(sig)
    // every (band, sig) bucket with >1 member must yield its pairs in
    // lshCandidates, and docs 0/1 (identical text) share ALL bands
    val shared = bands.groupBy("band", "sig").count().filter(col("count") > 1).count()
    assert(shared >= 4)
    val cands = Dedup.lshCandidates(sig).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cands.contains((0L, 1L)))
  }

  test("annPlaneSweep: recall non-increasing in bits; full-bit leg equals annTopK") {
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    val vecs = (0L until 80L).map(i =>
      (i, Array.fill(8)(rnd.nextGaussian().toFloat))).toDF("vec_id", "embedding")
    val q = vecs.filter(col("vec_id") % 16 === 0)
    val sweep = Similarity.annPlaneSweep(vecs, q, k = 5, nPlanes = 4,
        bitsList = Seq(2, 4), dims = 8)
      .collect().map(r => r.getInt(0) -> (r.getLong(3), r.getDouble(4))).toMap
    assert(sweep.keySet == Set(2, 4))
    // prefix refinement nests the candidate sets: coarser >= finer
    assert(sweep(2)._2 >= sweep(4)._2 - 1e-9)
    // at nbits = nPlanes the prefix IS the full bucket, so the hits
    // must equal the standalone annTopK search counted against truth
    val truth = Similarity.bruteForceTopK(vecs, q, k = 5)
      .select("query_id", "neighbor_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ann = Similarity.annTopK(vecs, q, k = 5, nPlanes = 4, dims = 8)
      .select("query_id", "neighbor_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(sweep(4)._1 == truth.intersect(ann).size.toLong)
  }

  test("overlapScores: subset duplication scores near-1.0 containment but low jaccard") {
    import spark.implicits._
    val short = "the quick brown fox jumps over the lazy dog"
    val long = ("unrelated prefix sentence with many extra words " * 6) + short
    val d = Seq((1L, short), (2L, long)).toDF("doc_id", "text")
    val hashes = hashesOf(d)
    val pairs = Seq((1L, 2L)).toDF("a", "b")
    val r = Dedup.overlapScores(hashes, pairs).collect()(0)
    val (inter, sza, cA, jac) = (r.getLong(2), r.getLong(3), r.getDouble(5), r.getDouble(7))
    // every shingle of the short doc appears in the long one
    assert(inter == sza && cA == 1.0)
    // ... but the union is dominated by the long side
    assert(jac < 0.5)
    // jaccard column must agree with jaccardByHashes exactly
    val j2 = Dedup.jaccardByHashes(hashes, pairs).collect()(0).getDouble(2)
    assert(math.abs(jac - BigDecimal(j2).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-9)
  }

  test("cosineNearDupsLsh: bucketed pairs are a nonempty subset of the exact all-pairs result") {
    import spark.implicits._
    val rnd = new scala.util.Random(31)
    // 10 cluster directions x 5 noisy members: dense high-cosine pairs
    val bases = Array.fill(10)(Array.fill(8)(rnd.nextGaussian()))
    val vecs = (0 until 50).map { i =>
      val b = bases(i / 5)
      (i.toLong, b.map(x => (x + rnd.nextGaussian() * 0.05).toFloat))
    }.toDF("vec_id", "embedding")
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(Similarity.cosineNearDups(vecs, 0.9))
    val lsh = pairs(Similarity.cosineNearDupsLsh(vecs, 0.9, nPlanes = 4, dims = 8))
    assert(lsh.nonEmpty && lsh.subsetOf(exact))
  }

  test("cosineNearDupsLsh: oversized bucket stars instead of exploding") {
    import spark.implicits._
    // 12 identical vectors = one bucket; cap 3 => C(3,2) + 9 star
    // edges = 12 pairs, every member connected, never C(12,2) = 66
    val v = Array.fill(6)(1.0f)
    val vecs = (0L until 12L).map(i => (i, v)).toDF("vec_id", "embedding")
    val got = Similarity.cosineNearDupsLsh(vecs, 0.5, nPlanes = 4, maxBucket = 3, dims = 6)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.length == 3 * 2 / 2 + 9)
    val touched = got.flatMap(p => Seq(p._1, p._2)).toSet
    assert(touched == (0L until 12L).toSet)
  }

  test("shingleH1sOf: per-row distinct hash set equals the DataFrame shingle pipeline's") {
    val d = docsDF
    val expected = Dedup.shingleHashes(Dedup.shingles(d, distinct = false))
      .select("doc_id", "h1").distinct()
      .collect().groupBy(_.getLong(0)).map { case (k, rs) => k -> rs.map(_.getLong(1)).toSet }
    val texts = d.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    texts.foreach { case (id, t) =>
      assert(Dedup.shingleH1sOf(t) == expected(id), s"doc $id")
    }
  }

  test("source-mix quantized average equals the plain average at 1e-4 precision") {
    import spark.implicits._
    val d = Seq((1L, "a", 0.12345), (2L, "a", 0.54321), (3L, "a", 0.99999))
      .toDF("id", "g", "q")
    val qi = round((col("q") + 1e-7) * 10000).cast("long")
    val got = d.groupBy("g").agg(count(lit(1)).as("n"), sum(qi).as("s"))
      .select(round(col("s") / (col("n") * 10000.0), 6).as("avg")).collect()(0).getDouble(0)
    val plain = (0.1235 + 0.5432 + 1.0000) / 3
    assert(math.abs(got - plain) < 5e-5)
  }
}
