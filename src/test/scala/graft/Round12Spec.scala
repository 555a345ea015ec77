package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.GraftRules
import graft.signal.Signal

/** Round-12 pins: `LowerIirFilters` lowers an `IirFilter` to one
  * PerChannel kernel pass, a fused cascade included, with the values
  * of the direct sequential filter.
  */
class Round12Spec extends AnyFunSuite with GraftSpark {

  private def mkDf(n: Int) = {
    import spark.implicits._
    (0 until n).map(i =>
        ("c1", i.toDouble, math.sin(i * 0.17) + 0.3 * math.cos(i * 0.05)))
      .toDF("channel", "t", "v")
  }

  test("IirFilter lowers to one PerChannel kernel with the direct lfilter's values") {
    val (b, a) = graft.dsp.FilterDesign.butter(4, 0.2, "lowpass")
    val df = mkDf(5000)
    // exactly one MapPartitions kernel, no CoGroup, no IirFilter left
    val filtered = Signal(df).lfilter(b, a).df
    val opt = filtered.queryExecution.optimizedPlan
    assert(opt.collect { case f: graft.plans.IirFilter => f }.isEmpty)
    assert(opt.collect {
      case c: org.apache.spark.sql.catalyst.plans.logical.CoGroup => c }.isEmpty)
    assert(opt.collect {
      case m: org.apache.spark.sql.catalyst.plans.logical.MapPartitions => m }.size === 1)
    val got = filtered.orderBy("t").collect().map(_.getDouble(2))
    val direct = graft.dsp.IIR.lfilter(b, a, df.orderBy("t").collect().map(_.getDouble(2)))
    assert(got.toSeq === direct.toSeq)
  }

  test("AVI raw-DIB roundtrip: decoded frames equal the pattern exactly; shifted pair hashes equal") {
    import graft.datapipe.Multimodal
    val id = 18L
    val bytes = Multimodal.encodeAvi(id)
    val (w, h, frames) = Multimodal.decodeAvi(bytes).get
    assert(w === Multimodal.VidW && h === Multimodal.VidH)
    assert(frames.length === Multimodal.videoFrames(id))
    for (f <- frames.indices; y <- 0 until h; x <- 0 until w)
      assert(frames(f)(y * w + x) === Multimodal.videoLumaAt(id, f, x, y),
        s"frame $f ($x,$y)")
    // id 19 is the brightness-shifted re-encode of id 18's content:
    // a different AVI byte stream, but every per-frame pixel aHash is
    // IDENTICAL (a uniform shift moves cell means and the global mean
    // together — the PNG pair's property, per frame)
    val b19 = Multimodal.encodeAvi(19L)
    assert(!java.util.Arrays.equals(bytes, b19))
    val (_, _, f19) = Multimodal.decodeAvi(b19).get
    assert(f19.length === frames.length)
    frames.zip(f19).foreach { case (a, b) =>
      assert(Multimodal.pixelAHash52(w, h, a) === Multimodal.pixelAHash52(w, h, b)) }
    // non-AVI payloads are rejected, not mis-parsed
    assert(Multimodal.decodeAvi("RIFFxxxxWAVE".getBytes("ASCII")).isEmpty)
    assert(Multimodal.decodeAvi(Array.emptyByteArray).isEmpty)
  }

  test("AVI MJPEG: real JPEG frames decode through the container walk") {
    import graft.datapipe.Multimodal
    val id = 18L
    val m18 = Multimodal.encodeAvi(id, mjpeg = true)
    val (w, h, frames) = Multimodal.decodeAvi(m18).get
    assert(w === Multimodal.VidW && h === Multimodal.VidH)
    assert(frames.length === Multimodal.videoFrames(id))
    // JPEG is lossy on this deliberately high-frequency pattern, but
    // dimensions and frame count are exact and the pixel error bounded
    val errs = for (f <- frames.indices; y <- 0 until h; x <- 0 until w)
      yield math.abs(frames(f)(y * w + x) - Multimodal.videoLumaAt(id, f, x, y))
    assert(errs.sum.toDouble / errs.size < 64.0, s"mean err ${errs.sum.toDouble / errs.size}")
    // byte-vs-pixel divergence: the shifted pair's compressed streams
    // are unrelated bytes, yet the decoded-pixel frame hashes stay
    // within a few bits (JPEG noise) of each other
    val m19 = Multimodal.encodeAvi(19L, mjpeg = true)
    assert(!java.util.Arrays.equals(m18, m19))
    val (_, _, f19) = Multimodal.decodeAvi(m19).get
    frames.zip(f19).foreach { case (a, b) =>
      val d = java.lang.Long.bitCount(
        Multimodal.pixelAHash52(w, h, a) ^ Multimodal.pixelAHash52(w, h, b))
      assert(d <= 8, s"frame hash hamming $d") }
  }

  // ---- OPQ -----------------------------------------------------------

  private def mm(a: Array[Array[Double]], b: Array[Array[Double]]): Array[Array[Double]] =
    Array.tabulate(a.length, b(0).length) { (i, j) =>
      (0 until b.length).map(k => a(i)(k) * b(k)(j)).sum }
  private def tr(a: Array[Array[Double]]): Array[Array[Double]] =
    Array.tabulate(a(0).length, a.length)((i, j) => a(j)(i))

  test("procrustes rotation: orthogonal, recovers a planted rotation, maximizes the trace") {
    import graft.datapipe.Similarity
    val d = 8
    val rnd = new scala.util.Random(42)
    val m0 = Array.fill(d, d)(rnd.nextGaussian())
    val q = Similarity.procrustesRotation(m0)
    // orthogonality: Qᵀ Q = I
    val qtq = mm(tr(q), q)
    for (i <- 0 until d; j <- 0 until d)
      assert(math.abs(qtq(i)(j) - (if (i == j) 1.0 else 0.0)) < 1e-9, s"QtQ($i,$j)")
    // planted recovery: M = Q·D (positive diagonal D) has Procrustes
    // factor exactly Q
    val diag = Array.tabulate(d)(i => 0.5 + i)
    val m2 = Array.tabulate(d, d)((i, j) => q(i)(j) * diag(j))
    val q2 = Similarity.procrustesRotation(m2)
    for (i <- 0 until d; j <- 0 until d)
      assert(math.abs(q2(i)(j) - q(i)(j)) < 1e-8, s"recovered($i,$j)")
    // optimality: tr(Rᵀ M) beats the identity and a random orthogonal
    def trace(r: Array[Array[Double]]) = mm(tr(r), m0).zipWithIndex.map { case (row, i) => row(i) }.sum
    assert(trace(q) >= trace(Array.tabulate(d, d)((i, j) => if (i == j) 1.0 else 0.0)) - 1e-9)
    assert(trace(q) >= trace(q2) - 1e-9)
  }

  test("OPQ learned rotation beats identity at equal bytes on cross-subspace-correlated data") {
    import graft.datapipe.Similarity
    import spark.implicits._
    // 8-dim data on a 2-D manifold whose directions span BOTH
    // subspaces (v1 = all-ones, v2 = alternating): under the identity
    // split each 4-dim subspace sees a 2-D cloud; the optimal
    // rotation aligns each direction into one subspace (1-D per
    // subspace), which k=4 centroids quantize far tighter
    val d = 8
    val rnd = new scala.util.Random(7)
    val data = (0 until 512).map { i =>
      val z1 = rnd.nextGaussian() * 3.0
      val z2 = rnd.nextGaussian()
      (i.toLong, Array.tabulate(d)(j =>
        z1 / math.sqrt(d) + (if (j % 2 == 0) z2 else -z2) / math.sqrt(d)))
    }
    val df = data.toDF("vec_id", "embedding")
    def mse(r: Array[Array[Double]], books: Array[Array[Array[Double]]]): Double = {
      val rot = df.select(col("vec_id"),
        Similarity.rotateEmbedding(r, col("embedding")).as("embedding"))
      val codes = Similarity.pqEncode(rot, books)
      rot.join(codes, "vec_id")
        .select(col("embedding").as("x"), Similarity.pqDecode(books).as("y"))
        .select(aggregate(zip_with(col("x"), col("y"), (a, b) => (a - b) * (a - b)),
          lit(0.0), (acc, x) => acc + x).as("e"))
        .agg(avg("e")).head().getDouble(0)
    }
    val idR = Array.tabulate(d, d)((i, j) => if (i == j) 1.0 else 0.0)
    val idBooks = Similarity.pqCodebooks(df, m = 2, k = 4, iters = 3, dims = d)
    val (r, books) = Similarity.opqTrain(df, m = 2, k = 4, iters = 3, dims = d,
      alternations = 4)
    // learned R stays orthogonal through the alternations
    val rtr = mm(tr(r), r)
    for (i <- 0 until d; j <- 0 until d)
      assert(math.abs(rtr(i)(j) - (if (i == j) 1.0 else 0.0)) < 1e-9)
    val (e0, e1) = (mse(idR, idBooks), mse(r, books))
    assert(e1 < e0 * 0.9, s"OPQ mse $e1 not clearly below identity mse $e0")
  }

  test("residual-OPQ encode/search roundtrip agrees with exact top-1 on an easy corpus") {
    import graft.datapipe.Similarity
    import spark.implicits._
    val d = 8
    val rnd = new scala.util.Random(11)
    val vecs = (0 until 200).map { i =>
      (i.toLong, Array.tabulate(d)(j => (rnd.nextGaussian() + (i % 4) * 2.0).toFloat))
    }
    val df = vecs.toDF("vec_id", "embedding")
    val cents = graft.datapipe.Clustering.kmeansCentroids(df, k = 4, iters = 2, dims = d)
    val (r, books) = Similarity.opqResidualTrain(df, cents, m = 2, k = 8,
      iters = 2, dims = d, alternations = 2)
    val codes = Similarity.opqResidualEncode(df, cents, r, books)
    assert(codes.columns.toSeq === Seq("vec_id", "list", "c0", "c1"))
    val q = df.filter(col("vec_id") < 8)
    val got = Similarity.ivfTopKResidualOpq(codes, q, cents, r, books, k = 5, nprobe = 4)
    assert(got.groupBy("query_id").count().collect().forall(_.getLong(1) === 5))
    // the production two-stage shape: ADC candidates at 50, exact
    // rerank to 1 — the refine stage must recover the true best
    // neighbor for (nearly) every query
    val cand = Similarity.ivfTopKResidualOpq(codes, q, cents, r, books, k = 50, nprobe = 4)
    val reranked = Similarity.rerankExact(df, cand, q, k = 1)
      .select(col("query_id"), col("neighbor_id").as("got_n"))
    val truth = Similarity.bruteForceTopK(df, q, k = 1)
      .select(col("query_id"), col("neighbor_id").as("true_n"))
    val agree = reranked.join(truth, "query_id")
      .select((col("got_n") === col("true_n")).cast("int").as("ok"))
      .agg(sum("ok")).head().getLong(0)
    assert(agree >= 6, s"rerank recovered only $agree/8 exact top-1s")
  }

  test("IirFilter cascade fuses before lowering (one MapPartitions for two filters)") {
    val (b1, a1) = graft.dsp.FilterDesign.butter(2, 0.25, "lowpass")
    val (b2, a2) = graft.dsp.FilterDesign.butter(2, 0.5, "lowpass")
    val df = mkDf(2048)
    val chained = Signal(df).lfilter(b1, a1).lfilter(b2, a2).df
    val opt = chained.queryExecution.optimizedPlan
    // FuseIirFilters collapses the cascade before lowering: exactly
    // one kernel pass, not two
    assert(opt.collect {
      case m: org.apache.spark.sql.catalyst.plans.logical.MapPartitions => m }.size === 1)
    val bf = GraftRules.convolve(b1.toSeq, b2.toSeq).toArray
    val af = GraftRules.convolve(a1.toSeq, a2.toSeq).toArray
    val direct = graft.dsp.IIR.lfilter(bf, af,
      df.orderBy("t").collect().map(_.getDouble(2)))
    val got = chained.orderBy("t").collect().map(_.getDouble(2))
    assert(got.toSeq === direct.toSeq)
  }
}
