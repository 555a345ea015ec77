package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.datapipe.{Dedup, Similarity}

/** Tests for the round-4 additions: IVF-flat ANN and banded SimHash
  * near-duplicate detection.
  */
class Round4Spec extends AnyFunSuite with GraftSpark {

  test("ivfTopK: structural contract and agreement with brute force inside probed lists") {
    import spark.implicits._
    val rng = new scala.util.Random(13)
    val dims = 16
    val corpus = (0L until 200L).map(i => (i, Array.fill(dims)(rng.nextFloat() * 2 - 1)))
      .toDF("vec_id", "embedding")
    val queries = corpus.filter(col("vec_id") % 40 === 0)
    val out = Similarity.ivfTopK(corpus, queries, k = 5, nlist = 8, nprobe = 8, dims = dims)
      .collect()
    assert(out.nonEmpty)
    // ranks contiguous from 1 per query, cos non-increasing, no self-pairs
    out.groupBy(_.getLong(0)).foreach { case (qid, rows) =>
      val sorted = rows.sortBy(_.getInt(2))
      assert(sorted.map(_.getInt(2)).toSeq == (1 to sorted.length))
      assert(sorted.sliding(2).forall {
        case Array(a, b) => a.getDouble(3) >= b.getDouble(3); case _ => true })
      assert(sorted.forall(_.getLong(1) != qid))
    }
    // nprobe = nlist probes every list => identical to brute force
    val bf = Similarity.bruteForceTopK(corpus, queries, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val ivfSet = out.map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(ivfSet == bf)
  }

  test("ivfTopK: empty corpus returns empty result with the output schema") {
    import spark.implicits._
    val corpus = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    val queries = Seq((1L, Array(1f, 0f))).toDF("vec_id", "embedding")
    val out = Similarity.ivfTopK(corpus, queries)
    assert(out.columns.toSeq == Seq("query_id", "neighbor_id", "rank", "cos"))
    assert(out.count() == 0)
  }

  test("simhashNearDups: identical docs verify at hamming 0; unrelated docs do not pair") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "the quick brown fox jumps over the lazy dog again and again"),
      (3L, "entirely different content about distributed query engines at scale"),
      (4L, "zzz qqq xxx unrelated gibberish tokens vvv www yyy kkk")
    ).toDF("doc_id", "text")
    val out = Dedup.simhashNearDups(docs, maxHamming = 6)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out.size == 4)
    // identical docs share every band -> candidates and verified dups
    assert(out(1L)._1 >= 1 && out(1L)._2 >= 1)
    assert(out(2L)._1 >= 1 && out(2L)._2 >= 1)
    // every doc has a row even with zero candidates
    assert(out.contains(3L) && out.contains(4L))
  }

  test("kmeans separates well-separated blobs and is deterministic") {
    import spark.implicits._
    val rng = new scala.util.Random(5)
    // two tight blobs far apart in 8 dims
    def blob(center: Float, ids: Range) =
      ids.map(i => (i.toLong, Array.fill(8)(center + rng.nextFloat() * 0.1f)))
    val vecs = (blob(5f, 0 until 30) ++ blob(-5f, 30 until 60)).toDF("vec_id", "embedding")
    val out = graft.datapipe.Clustering.kmeans(vecs, k = 4, iters = 4, dims = 8)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(out.size == 60)
    // each blob lands in exactly one cluster, and the two differ
    val c1 = (0 until 30).map(i => out(i.toLong)).distinct
    val c2 = (30 until 60).map(i => out(i.toLong)).distinct
    assert(c1.size == 1 && c2.size == 1 && c1 != c2)
    // deterministic: re-run produces identical assignments
    val out2 = graft.datapipe.Clustering.kmeans(vecs, k = 4, iters = 4, dims = 8)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(out2 == out)
  }

  test("kmeans: empty input returns empty with schema") {
    import spark.implicits._
    val vecs = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    val out = graft.datapipe.Clustering.kmeans(vecs)
    assert(out.columns.toSeq == Seq("vec_id", "cluster", "dist"))
    assert(out.count() == 0)
  }

  test("centroidComponent is deterministic and within [-0.5, 0.5)") {
    val v1 = Similarity.centroidComponent(3, 7)
    val v2 = Similarity.centroidComponent(3, 7)
    assert(v1 == v2 && v1 >= -0.5 && v1 < 0.5)
    assert(Similarity.centroidComponent(0, 0) != Similarity.centroidComponent(1, 0))
  }
}
