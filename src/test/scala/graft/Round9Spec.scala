package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.datapipe.Dedup

/** Round-9 coverage: the incremental stream-stream dedup admission
  * (foreachBatch components maintenance — the closure of round 8's
  * "two arriving near-dups of each other are both admitted" gap),
  * the Long-typed Bloom sizing, the 128-bit-safe perceptual-hash
  * compare, and the file-set micro-batch offset.
  */
class Round9Spec extends AnyFunSuite with GraftSpark {

  private val sf = "/root/testdata/sf0.001"

  // deterministic word salads: Y and Z never band-collide; B = Y+" "+Z
  // band-collides with BOTH (verified against the same md5/52-bit
  // minhash arithmetic the engine uses)
  private val textY = "november delta mike lima charlie oscar foxtrot romeo " +
    "november echo hotel hotel lima papa golf lima hotel oscar foxtrot bravo " +
    "papa echo oscar november golf alpha romeo oscar golf romeo"
  private val textZ = "hotel lima mike oscar delta quebec mike bravo quebec " +
    "kilo mike quebec india sierra charlie charlie papa mike sierra alpha " +
    "tango golf juliet lima november golf quebec charlie bravo hotel"
  private val textB = textY + " " + textZ
  private val textX = "zulu yankee xray whiskey victor uniform zulu yankee " +
    "xray whiskey victor uniform zulu yankee xray whiskey victor uniform"

  private def docsDf(rows: (Long, String)*): DataFrame = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  private def stateFor(pers: DataFrame): (DataFrame, DataFrame) = {
    val sigs = Dedup.minhashSignaturesFromHashes(
      Dedup.shingleHashes(Dedup.shingles(pers, distinct = false)), k = 16)
    val bands = Dedup.lshBands(sigs)
    val comp = Dedup.connectedComponents(Dedup.lshCandidates(sigs))
    val clusters = pers.select(col("doc_id"))
      .join(comp.select(col("doc_id"), col("component")), Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("component"), col("doc_id")).as("cluster"))
    (bands, clusters)
  }

  private def resMap(df: DataFrame): Map[Long, (Long, Boolean)] =
    df.collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap

  test("admitIncrementalBatch: same-batch clones admit exactly once; persisted matches are rejected") {
    val pers = docsDf(2L -> textX)
    val (bands0, comp0) = stateFor(pers)
    // wave 1: 11 and 13 are clones of each other (nothing persisted is
    // similar), 15 clones the persisted doc 2, 17 is unique
    val wave1 = docsDf(11L -> textY, 13L -> textY, 15L -> textX, 17L -> textZ)
    val (r1, bands1, comp1) = Dedup.admitIncrementalBatch(wave1, bands0, comp0)
    val m1 = resMap(r1)
    assert(m1(11L) === (11L, true))   // min of the same-batch clone pair
    assert(m1(13L) === (11L, false))  // its clone: same cluster, NOT admitted
    assert(m1(15L) === (2L, false))   // matches persisted doc 2
    assert(m1(17L) === (17L, true))   // unique
    // wave 2 against the UPDATED state: a clone of wave-1's Y cluster
    // must be rejected now (the stream-static design would admit it
    // only if Y were persisted — this is the incremental closure)
    val wave2 = docsDf(21L -> textY, 23L -> (textX + " kilo lima " + textX))
    val (r2, bands2, comp2) = Dedup.admitIncrementalBatch(wave2, bands1, comp1)
    val m2 = resMap(r2)
    assert(m2(21L) === (11L, false))
    assert(m2.contains(23L))
    // state now carries every seen doc exactly once
    assert(comp2.select("doc_id").distinct().count() === comp2.count())
    assert(comp2.count() === 1 + 4 + 2)
    assert(bands2.select("doc_id").distinct().count() === 7) // all 7 docs banded
  }

  test("admitIncrementalBatch: an arrival bridging two prior clusters merges them in state") {
    val pers = docsDf(2L -> textX)
    val (bands0, comp0) = stateFor(pers)
    val (r1, bands1, comp1) =
      Dedup.admitIncrementalBatch(docsDf(11L -> textY, 25L -> textZ), bands0, comp0)
    val m1 = resMap(r1)
    assert(m1(11L) === (11L, true) && m1(25L) === (25L, true))
    // doc 31 = Y+Z: collides with BOTH prior clusters → rejected, and
    // the state must relabel cluster 25 down to the merged min 11
    val (r2, _, comp2) =
      Dedup.admitIncrementalBatch(docsDf(31L -> textB), bands1, comp1)
    val m2 = resMap(r2)
    assert(m2(31L) === (11L, false))
    val labels = comp2.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels(11L) === 11L && labels(25L) === 11L && labels(31L) === 11L)
    assert(labels(2L) === 2L)
  }

  test("admitIncrementalBatch: null-text arrivals stay singletons and admit") {
    val pers = docsDf(2L -> textX)
    val (bands0, comp0) = stateFor(pers)
    val arrivals = docsDf(41L -> textY).unionAll(
      spark.sql("SELECT CAST(43 AS BIGINT) AS doc_id, CAST(NULL AS STRING) AS text"))
    val (r, _, comp1) = Dedup.admitIncrementalBatch(arrivals, bands0, comp0)
    val m = resMap(r)
    assert(m(41L) === (41L, true))
    assert(m(43L) === (43L, true))
    assert(comp1.filter(col("doc_id") === 43L).count() === 1)
  }

  test("q_stream_admit_incr matches the batch full-corpus replay at sf0.001") {
    // end-to-end: the streaming query (bounded stream = one batch)
    // must equal the oracle's full-component decision — including at
    // least one all-streamed multi-member cluster admitting exactly one
    val out = SparkEntry.queries("q_stream_admit_incr")(spark, sf)
      .select("doc_id", "cluster", "admitted").cache()
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val sigs = Dedup.minhashSignaturesFromHashes(
      Dedup.shingleHashes(Dedup.shingles(docs, distinct = false)), k = 16)
    val comp = Dedup.connectedComponents(Dedup.lshCandidates(sigs))
    val full = docs.select(col("doc_id"))
      .join(comp.select(col("doc_id"), col("component")), Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("component"), col("doc_id")).as("cluster"))
    val agg = full.groupBy("cluster").agg(
      min(when(col("doc_id") % 10 =!= 0, col("doc_id"))).as("min_s"),
      max(when(col("doc_id") % 10 === 0, 1).otherwise(0)).as("has_p"))
    val expect = full.join(agg, Seq("cluster"))
      .filter(col("doc_id") % 10 =!= 0)
      .select(col("doc_id"), col("cluster"),
        (col("has_p") === 0 && col("doc_id") === col("min_s")).as("admitted"))
    assert(out.count() === expect.count())
    assert(out.exceptAll(expect).count() === 0)
    assert(expect.exceptAll(out).count() === 0)
    // the property the round-8 design could not deliver: some cluster
    // with >= 2 streamed members and no persisted member admits
    // exactly one
    val multi = out.groupBy("cluster")
      .agg(count(lit(1)).as("n"), sum(when(col("admitted"), 1).otherwise(0)).as("n_adm"))
      .filter(col("n") >= 2 && col("n_adm") === 1)
    assert(multi.count() > 0)
    out.unpersist()
  }

  test("chained lfilters fuse into ONE kernel pass with convolved coefficients") {
    import graft.signal.Signal
    import graft.plans.GraftRules
    val (b1, a1) = graft.dsp.FilterDesign.butter(2, 0.25, "lowpass")
    val (b2, a2) = graft.dsp.FilterDesign.butter(2, 0.5, "lowpass")
    import spark.implicits._
    val df = (0 until 256).map(i => ("c1", i.toDouble, math.sin(i * 0.3)))
      .toDF("channel", "t", "v")
    val chained = Signal(df).lfilter(b1, a1).lfilter(b2, a2).df
    val opt = chained.queryExecution.optimizedPlan
    // the fusion rule must leave no IirFilter node and lower to
    // exactly ONE typed kernel (MapPartitions) for the whole cascade
    assert(opt.collect { case f: graft.plans.IirFilter => f }.isEmpty)
    assert(opt.collect {
      case m: org.apache.spark.sql.catalyst.plans.logical.MapPartitions => m
    }.size === 1)
    // and the values must equal a single filter with the convolved
    // transfer polynomials (the fused plan IS that filter)
    val bf = GraftRules.convolve(b1.toSeq, b2.toSeq).toArray
    val af = GraftRules.convolve(a1.toSeq, a2.toSeq).toArray
    val direct = Signal(df).lfilter(bf, af).df
    val cv = chained.orderBy("t").collect().map(_.getDouble(2))
    val dv = direct.orderBy("t").collect().map(_.getDouble(2))
    assert(cv.sameElements(dv))
    // fused == cascade in exact arithmetic; float divergence stays at
    // recurrence-roundoff level
    val cascade = Signal(Signal(df).lfilter(b1, a1).df).lfilter(b2, a2).df
      .orderBy("t").collect().map(_.getDouble(2))
    cv.zip(cascade).foreach { case (x, y) =>
      assert(math.abs(x - y) <= 1e-9 * math.max(1.0, math.abs(y))) }
  }

  test("lfilter lowers correctly over a CACHED child (ColumnPruning regression)") {
    // without IirFilter.references = child.outputSet, ColumnPruning
    // inserted an empty Project below the node when the child was an
    // InMemoryRelation, and the lowering's re-analysis failed on the
    // missing channel column (caught by the r9 bench, not the
    // LocalRelation-backed test above)
    import graft.signal.Signal
    val (b1, a1) = graft.dsp.FilterDesign.butter(2, 0.25, "lowpass")
    import spark.implicits._
    val df = (0 until 64).map(i => ("c1", i.toDouble, math.cos(i * 0.2)))
      .toDF("channel", "t", "v").cache()
    try {
      val out = Signal(df).lfilter(b1, a1).df.orderBy("t").collect()
      assert(out.length === 64)
      assert(out.map(_.getDouble(2)).sum !== 0.0)
    } finally df.unpersist()
  }

  test("between after timeshift derives scan-pushable raw-t bounds, values unchanged") {
    import graft.signal.Signal
    graft.plans.GraftRules.ensure(spark)
    val dir = java.nio.file.Files.createTempDirectory("r9push").toFile
    import spark.implicits._
    (0 until 1000).map(i => ("c1", i.toDouble, i * 0.5))
      .toDF("channel", "t", "v").write.mode("overwrite")
      .parquet(dir.getAbsolutePath)
    val read = spark.read.parquet(dir.getAbsolutePath)
    val out = Signal(read).timeshift(0.5).between(100.0, 200.0).df
    val scans = out.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(scans.nonEmpty)
    val pushed = scans.head.metadata("PushedFilters")
    assert(pushed.contains("GreaterThanOrEqual(t,"), s"no lower bound pushed: $pushed")
    assert(pushed.contains("LessThanOrEqual(t,"), s"no upper bound pushed: $pushed")
    // values: exactly the rows the unpushed shifted predicate admits
    val got = out.collect().map(r => (r.getDouble(1), r.getDouble(2))).sortBy(_._1)
    val expect = (0 until 1000).map(i => (i.toDouble + 0.5, i * 0.5))
      .filter { case (t, _) => t >= 100.0 && t <= 200.0 }.toArray
    assert(got.sameElements(expect))
  }

  test("saSubstrDedup == windowed substrDedup on planted duplicate passages") {
    import spark.implicits._
    // a 12-token passage shared by docs 1/2/3 (one >= w=10 duplicate
    // region with unique borders), plus odd-length tails and a doc
    // shorter than w — the boundary cases of the class refinement
    val passage = "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima"
    val fixture = Seq(
      (1L, s"one two $passage three four"),
      (2L, s"$passage five six seven"),
      (3L, s"eight nine ten eleven $passage"),
      (4L, "totally unrelated words that repeat nothing else anywhere here today"),
      (5L, "short doc only"),
      (6L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val win = Dedup.substrDedup(fixture, w = 10).orderBy("doc_id").collect()
    val sa = Dedup.saSubstrDedup(fixture, w = 10).orderBy("doc_id").collect()
    assert(win.length === sa.length)
    win.zip(sa).foreach { case (a, b) => assert(a === b) }
    // and the semantics: doc 1 keeps the passage (first occurrence),
    // docs 2/3 lose exactly it
    val m = sa.map(r => r.getLong(0) -> (r.getLong(2), Option(r.getString(3)))).toMap
    assert(m(1L)._1 === 16L) // first occurrence: all 16 tokens kept
    assert(m(2L)._1 === 3L && m(2L)._2.get === "five six seven")
    assert(m(3L)._1 === 4L && m(3L)._2.get === "eight nine ten eleven")
    assert(m(4L)._1 === 10L)
    assert(m(5L)._1 === 3L)
  }

  test("PNG encode -> javax.imageio decode roundtrips the exact luma pattern") {
    import graft.datapipe.Multimodal
    val id = 42L
    val bytes = Multimodal.encodePng(id)
    // real PNG container
    assert((bytes(0) & 0xff) === 0x89 && bytes(1) === 'P'.toByte &&
      bytes(2) === 'N'.toByte && bytes(3) === 'G'.toByte)
    val Some((w, h, luma)) = Multimodal.decodeImage(bytes)
    assert(w === Multimodal.ImgW && h === Multimodal.ImgH)
    for (y <- 0 until h; x <- 0 until w)
      assert(luma(y * w + x) === Multimodal.lumaAt(id, x, y))
  }

  test("brightness-shifted re-encode: byte aHash misses the pair, pixel aHash catches it") {
    import graft.datapipe.Multimodal
    import graft.functions.PerceptualHash
    val a = Multimodal.encodePng(8L)  // original
    val b = Multimodal.encodePng(9L)  // 9 = 8's content, +8 luma, re-encoded
    assert(!java.util.Arrays.equals(a, b)) // different PNG byte streams
    // byte-level aHash over the compressed streams: unrelated values
    assert(PerceptualHash.compute(a) !== PerceptualHash.compute(b))
    // pixel-level aHash over the DECODED images: identical (a uniform
    // brightness shift moves every cell mean and the global mean
    // together)
    def pix(bytes: Array[Byte]): Long = {
      val Some((w, h, l)) = Multimodal.decodeImage(bytes)
      Multimodal.pixelAHash52(w, h, l)
    }
    assert(pix(a) === pix(b))
    // and a genuinely different image hashes differently
    assert(pix(a) !== pix(Multimodal.encodePng(12L)))
  }

  test("decodeImage handles color rasters and rejects non-images") {
    import graft.datapipe.Multimodal
    val img = new java.awt.image.BufferedImage(10, 6,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 6; x <- 0 until 10) img.setRGB(x, y, (x * 20) << 16 | (y * 30) << 8 | 40)
    val baos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", baos)
    val Some((w, h, luma)) = Multimodal.decodeImage(baos.toByteArray)
    assert(w === 10 && h === 6)
    // BT.601 integer luma of pixel (2, 1): r=40 g=30 b=40
    assert(luma(1 * 10 + 2) === (299 * 40 + 587 * 30 + 114 * 40) / 1000)
    assert(Multimodal.decodeImage("not an image".getBytes).isEmpty)
  }

  test("Bloom sizeFor is Long-safe for blocklist-scale n") {
    import graft.functions.Bloom
    // pre-r9 this truncated to a negative/zero Int at n >= ~215M
    assert(Bloom.sizeFor(300L * 1000 * 1000) === (1L << 32))
    assert(Bloom.sizeFor(900L * 1000 * 1000) === Bloom.maxBits)
    assert(Bloom.sizeFor(10L * 1000 * 1000 * 1000) === Bloom.maxBits)
    assert(Bloom.words(Bloom.maxBits) === (1 << 27))
    val oob = intercept[IllegalArgumentException](Bloom.words(Bloom.maxBits * 2))
    assert(oob.getMessage.contains("mBits"))
  }

  test("perceptual hash: 128-bit compare agrees with the exact rational on adversarial sums") {
    import graft.functions.PerceptualHash
    // byte arrays whose seg_sum * n would overflow a signed long are
    // not constructible in-test (GBs); instead verify the compare
    // logic agrees with BigInt on real payloads incl. boundary shapes
    val cases = Seq(
      Array.fill[Byte](104)(127),
      Array.tabulate[Byte](1037)(i => (i % 251).toByte),
      Array.tabulate[Byte](52 * 3)(i => if (i < 52) 0.toByte else 255.toByte))
    for (bytes <- cases) {
      val h = PerceptualHash.compute(bytes)
      val n = bytes.length
      var total = BigInt(0)
      bytes.foreach(b => total += (b & 0xff))
      val segSum = new Array[BigInt](52).map(_ => BigInt(0))
      val segCnt = new Array[Long](52)
      for (i <- bytes.indices) {
        val seg = (i.toLong * 52 / n).toInt
        segSum(seg) += (bytes(i) & 0xff)
        segCnt(seg) += 1
      }
      var expect = 0L
      for (j <- 0 until 52)
        if (segCnt(j) > 0 && segSum(j) * n > total * segCnt(j)) expect |= (1L << j)
      assert(h === expect)
    }
  }
}
