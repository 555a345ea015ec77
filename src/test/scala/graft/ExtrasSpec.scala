package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.signal.{Signal, Spectrum}
import graft.functions.FloatDot.floatDot

/** Tests for the round-2 additions: FloatDot codegen expression,
  * piecewise detrend, log-log interpolation, WAV sink, streaming ops.
  */
class ExtrasSpec extends AnyFunSuite with GraftSpark {

  test("FloatDot matches the cast-to-double formulation bit for bit") {
    import spark.implicits._
    val rng = new scala.util.Random(42)
    val rows = (0 until 50).map { i =>
      (i.toLong, Array.fill(64)(rng.nextFloat() * 2 - 1), Array.fill(64)(rng.nextFloat() * 2 - 1))
    }
    val df = rows.toDF("id", "a", "b")
    val got = df.select(col("id"), floatDot(col("a"), col("b")).as("d")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val expect = df.select(col("id"),
      aggregate(zip_with(col("a").cast("array<double>"), col("b").cast("array<double>"),
        (x, y) => x * y), lit(0.0), (acc, x) => acc + x).as("d")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got == expect)
  }

  test("piecewise detrend removes two different ramps exactly") {
    import spark.implicits._
    val data = (0 until 100).map { i =>
      val v = if (i < 50) 1.0 * i else 80.0 - 2.0 * i
      ("pw", i.toDouble, v)
    }.toDF("channel", "t", "v")
    val out = Signal(data).detrendLinear(Seq(50L)).df.collect()
    out.foreach(r => assert(math.abs(r.getDouble(2)) < 1e-8))
  }

  test("interp1dLog is exact on a log-log-linear (power-law) spectrum") {
    import spark.implicits._
    val psd = (1 to 20).map(k => ("c", k.toDouble, math.pow(k.toDouble, 2.0)))
      .toDF("channel", "freq", "p")
    val grid = (1 to 19).map(k => ("c", k + 0.5)).toDF("channel", "freq")
    val got = Spectrum(psd).interp1dLog(grid).df.collect()
    assert(got.length == 19)
    got.foreach { r =>
      val f = r.getDouble(1)
      assert(math.abs(r.getDouble(2) - f * f) / (f * f) < 1e-9)
    }
  }

  test("WAV sink writes a parseable IEEE-float stereo file") {
    val tmp = java.io.File.createTempFile("graft", ".wav")
    val l = Array.tabulate(100)(i => math.sin(i * 0.1))
    graft.sources.WavSink.writeArrays(tmp.getAbsolutePath, 48000, l, l)
    val bytes = java.nio.file.Files.readAllBytes(tmp.toPath)
    assert(bytes.length == 44 + 100 * 16)
    assert(new String(bytes.slice(0, 4), "ASCII") == "RIFF")
    assert(new String(bytes.slice(8, 12), "ASCII") == "WAVE")
    val bb = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    assert(bb.getShort(20) == 3) // IEEE float
    assert(bb.getShort(22) == 2) // stereo
    assert(bb.getInt(24) == 48000)
    assert(math.abs(bb.getDouble(44) - l(0)) < 1e-15)
    assert(math.abs(bb.getDouble(44 + 16) - l(1)) < 1e-15)
    tmp.delete()
  }

  test("Welch rescale modes match the single-node formulas") {
    import spark.implicits._
    // non-stationary two-level signal so sub-PSD RMS values differ
    val fs = 256.0
    val n = 2048
    val rows = (0 until n).map { i =>
      val amp = if (i < n / 2) 1.0 else 3.0
      ("ns", i / fs, amp * math.sin(2 * math.Pi * 16 * i / fs))
    }
    val df = rows.toDF("channel", "t", "v")
    val all = graft.ops.Psd.welch(df, windowLength = 1.0, overlap = 0.5, summarize = "all")
      .collect().map(r => (r.getLong(1), r.getDouble(2), r.getDouble(3)))
    val byW = all.groupBy(_._1).toSeq.sortBy(_._1).map { case (_, rs) =>
      val sorted = rs.sortBy(_._2)
      (sorted.map(_._2), sorted.map(_._3))
    }
    val freqs = byW.head._1
    val meanPsd = freqs.indices.map(i => byW.map(_._2(i)).sum / byW.length)
    val meanRms = graft.dsp.Spectral.rmsPsdLinear(meanPsd.toArray, freqs.toArray)
    val subRms = byW.map { case (f, p) =>
      graft.dsp.Spectral.rmsPsdLinear(p.toArray, f.toArray)
    }
    // 'max rms' (tools.py:85-90)
    val expectMaxRms = meanPsd.map(_ * math.pow(subRms.max / meanRms, 2))
    val gotMaxRms = graft.ops.Psd.welch(df, 1.0, summarize = "max rms")
      .collect().map(r => (r.getDouble(1), r.getDouble(2))).sortBy(_._1).map(_._2)
    gotMaxRms.zip(expectMaxRms).foreach { case (g, e) =>
      assert(math.abs(g - e) < 1e-9 * (1 + e), s"$g vs $e")
    }
    // 'damage' (tools.py:91-96), fatigue exponent 4
    val accel = math.pow(subRms.map(r => math.pow(r / meanRms, 4.0)).sum / subRms.length, 0.25)
    val expectDamage = meanPsd.map(_ * accel * accel)
    val gotDamage = graft.ops.Psd.welch(df, 1.0, summarize = "damage")
      .collect().map(r => (r.getDouble(1), r.getDouble(2))).sortBy(_._1).map(_._2)
    gotDamage.zip(expectDamage).foreach { case (g, e) =>
      assert(math.abs(g - e) < 1e-9 * (1 + e), s"$g vs $e")
    }
  }

  test("video frame sampling plan explodes every k-th frame") {
    import spark.implicits._
    val feats = Seq((1L, "video", 10, 64, 64, 12, Array(0f)), (2L, "image", 5, 64, 64, 1, Array(0f)))
      .toDF("media_id", "kind", "n_bytes", "width", "height", "n_frames", "features")
    val got = graft.datapipe.Multimodal.sampleFrames(feats, everyK = 5)
      .collect().map(r => (r.getLong(0), r.getInt(1)))
    assert(got.toSet == Set((1L, 0), (1L, 5), (1L, 10)))
  }

  test("SortedIntersectCount matches array_intersect on random sets") {
    import spark.implicits._
    import graft.functions.SortedIntersectCount.sortedIntersectCount
    val rng = new scala.util.Random(7)
    val rows = (0 until 100).map { i =>
      (i.toLong,
        Array.fill(rng.nextInt(50) + 1)(rng.nextInt(80).toLong).distinct.sorted,
        Array.fill(rng.nextInt(50) + 1)(rng.nextInt(80).toLong).distinct.sorted)
    }
    val df = rows.toDF("id", "a", "b")
    val got = df.select(col("id"),
      sortedIntersectCount(col("a"), col("b")).as("c"),
      size(array_intersect(col("a"), col("b"))).cast("long").as("ref")).collect()
    got.foreach(r => assert(r.getLong(1) == r.getLong(2), s"row ${r.getLong(0)}"))
  }

  test("WavSource DSv2 roundtrips WavSink output, split-invariant") {
    val rng = new scala.util.Random(11)
    val l = Array.fill(5000)(rng.nextDouble() * 2 - 1)
    val r = Array.fill(5000)(rng.nextDouble() * 2 - 1)
    val tmp = java.io.File.createTempFile("graft_src", ".wav")
    graft.sources.WavSink.writeArrays(tmp.getAbsolutePath, 1000, l, r)
    def read(partitionFrames: Long) =
      spark.read.format(graft.sources.WavSource.NAME)
        .option("partitionFrames", partitionFrames)
        .load(tmp.getAbsolutePath)
    val one = read(1 << 20).orderBy("t", "ch").collect()
    assert(one.length == 10000)
    // exact payload roundtrip (format-3 float64)
    val left = one.filter(_.getInt(0) == 0).map(_.getDouble(2))
    assert(left.sameElements(l))
    assert(one.filter(_.getInt(0) == 1).map(_.getDouble(2)).sameElements(r))
    // time axis = frame / sampleRate
    assert(math.abs(one.filter(_.getInt(0) == 0).map(_.getDouble(1)).last - 4.999) < 1e-12)
    // splitting into many partitions must not change the result
    val many = read(137).orderBy("t", "ch").collect()
    assert(many.length == one.length)
    assert(many.zip(one).forall { case (a, b) => a == b })
    tmp.delete()
  }

  test("interp1d boundsError raises on out-of-range queries, silent otherwise") {
    import spark.implicits._
    val src = Seq(("c", 1.0, 10.0), ("c", 2.0, 20.0), ("c", 3.0, 30.0)).toDF("channel", "t", "v")
    val inRange = Seq(("c", 1.5), ("c", 2.5)).toDF("channel", "t")
    val outRange = Seq(("c", 0.5)).toDF("channel", "t")
    // in range: fine with boundsError
    val ok = graft.ops.Interp.interp1d(src, inRange, "linear", boundsError = true)
      .orderBy("t").collect().map(_.getDouble(2))
    assert(ok.sameElements(Array(15.0, 25.0)))
    // out of range: default yields NULL, strict raises
    val nulls = graft.ops.Interp.interp1d(src, outRange, "linear").collect()
    assert(nulls.length == 1 && nulls(0).isNullAt(2))
    // spline kinds honor the same NULL contract (kernel path)
    val cnulls = graft.ops.Interp.interp1d(src, outRange, "cubic").collect()
    assert(cnulls.length == 1 && cnulls(0).isNullAt(2))
    intercept[Exception] {
      graft.ops.Interp.interp1d(src, outRange, "linear", boundsError = true).collect()
    }
    intercept[Exception] {
      graft.ops.Interp.interp1d(src, outRange, "cubic", boundsError = true).collect()
    }
  }

  test("bucketed channel layout: per-channel window runs with NO shuffle") {
    val ev = graft.signal.Channels.events(spark, "/root/testdata/sf0.001")
    graft.signal.Channels.writeBucketed(ev, "ev_bucketed", buckets = 4)
    val sig = graft.signal.Signal(spark.table("ev_bucketed"))
    val plan = sig.movRmsN(16).df.queryExecution.executedPlan
    val shuffles = plan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(shuffles.isEmpty, s"expected no shuffle over the bucketed layout, got:\n$plan")
    // and the result matches the shuffled path exactly
    val a = sig.movRmsN(16).df.orderBy("channel", "t").collect()
    val b = graft.signal.Signal(ev).movRmsN(16).df.orderBy("channel", "t").collect()
    assert(a.length == b.length && a.zip(b).forall { case (x, y) => x == y })
    spark.sql("DROP TABLE ev_bucketed")
  }

  test("WavSource reads PCM16 (format 1) payloads") {
    // hand-built 44-byte PCM16 mono header + 4 samples
    val samples = Array[Short](0, 16384, -16384, 32767)
    val buf = java.nio.ByteBuffer.allocate(44 + samples.length * 2)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.put("RIFF".getBytes("ASCII")).putInt(36 + samples.length * 2)
      .put("WAVE".getBytes("ASCII"))
      .put("fmt ".getBytes("ASCII")).putInt(16)
      .putShort(1).putShort(1).putInt(4000).putInt(8000).putShort(2).putShort(16)
      .put("data".getBytes("ASCII")).putInt(samples.length * 2)
    samples.foreach(buf.putShort)
    val tmp = java.io.File.createTempFile("graft_pcm", ".wav")
    java.nio.file.Files.write(tmp.toPath, buf.array())
    val rows = spark.read.format(graft.sources.WavSource.NAME)
      .load(tmp.getAbsolutePath).orderBy("t").collect()
    assert(rows.length == 4)
    val vs = rows.map(_.getDouble(2))
    assert(vs.sameElements(Array(0.0, 0.5, -0.5, 32767.0 / 32768.0)))
    tmp.delete()
  }

  test("resizePlan: output dims capped at maxDim, aspect ratio preserved") {
    import spark.implicits._
    val rows = Seq((1L, "image", 640, 480), (2L, "video", 50, 80), (3L, "image", 200, 200),
      (4L, "audio", 999, 999))
    val df = rows.toDF("media_id", "kind", "width", "height")
    val out = graft.datapipe.Multimodal.resizePlan(df, maxDim = 100)
      .collect().map(r => r.getLong(0) -> ((r.getInt(4), r.getInt(5)))).toMap
    assert(out == Map(1L -> ((100, 75)), 2L -> ((50, 80)), 3L -> ((100, 100))))
    assert(!out.contains(4L)) // audio excluded
  }

  test("jaccardByHashes is symmetric and bounded") {
    import spark.implicits._
    val docs = Seq((1L, "the quick brown fox"), (2L, "the quick brown cat"),
      (3L, "completely different words here")).toDF("doc_id", "text")
    val hashes = graft.datapipe.Dedup.shingleHashes(graft.datapipe.Dedup.shingles(docs, distinct = false))
    val pairs = Seq((1L, 2L), (2L, 1L), (1L, 3L)).toDF("a", "b")
    val j = graft.datapipe.Dedup.jaccardByHashes(hashes, pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(j((1L, 2L)) == j((2L, 1L)))            // symmetric
    assert(j.values.forall(v => v >= 0 && v <= 1)) // bounded
    assert(j((1L, 2L)) > j((1L, 3L)))             // similar > dissimilar
  }

  test("malformed RIFF payloads fall back to the stub decode") {
    // >= 44 bytes so the length guard passes, with an odd-length JUNK
    // chunk whose word-aligned skip lands one byte past the buffer
    // limit — the chunk walk itself must throw and be swallowed
    val jb = java.nio.ByteBuffer.allocate(45).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    jb.put("RIFF".getBytes("ASCII")).putInt(37).put("WAVE".getBytes("ASCII"))
      .put("JUNK".getBytes("ASCII")).putInt(25).put(new Array[Byte](25))
    val junk = jb.array()
    // kind = audio so the RIFF parse is actually attempted (non-audio
    // kinds skip it entirely); the malformed walk must throw inside
    // wavInfo and be swallowed into the stub path
    val f = graft.datapipe.Multimodal.decodeStub(
      graft.datapipe.Multimodal.MediaRecord(1L, "audio", junk))
    assert(f.n_frames == 1 + junk.length % 1000) // audio stub path, no throw
    assert(f.width >= 64 && f.width < 128)
    // and a RIFF-shaped payload declared non-audio never parses
    val img = graft.datapipe.Multimodal.decodeStub(
      graft.datapipe.Multimodal.MediaRecord(2L, "image", junk))
    assert(img.n_frames == 1 && img.width >= 64 && img.width < 128)
  }

  test("lshBuckets raises on ragged embedding dimensionality") {
    import spark.implicits._
    val ok = Seq((1L, Array(1f, 2f, 3f)), (2L, Array(3f, 2f, 1f))).toDF("vec_id", "embedding")
    assert(graft.datapipe.Similarity.lshBuckets(ok).count() == 2)
    val ragged = Seq((1L, Array(1f, 2f, 3f)), (2L, Array(1f, 2f))).toDF("vec_id", "embedding")
    intercept[Exception] {
      graft.datapipe.Similarity.lshBuckets(ragged).collect()
    }
  }

  test("WavSource clamps to the bytes actually present in a truncated file") {
    val rng = new scala.util.Random(13)
    val l = Array.fill(100)(rng.nextDouble())
    val tmp = java.io.File.createTempFile("graft_trunc", ".wav")
    graft.sources.WavSink.writeArrays(tmp.getAbsolutePath, 1000, l, l)
    // chop the last 40 bytes: 2.5 stereo float64 frames lost
    val bytes = java.nio.file.Files.readAllBytes(tmp.toPath)
    java.nio.file.Files.write(tmp.toPath, bytes.dropRight(40))
    val n = spark.read.format(graft.sources.WavSource.NAME)
      .load(tmp.getAbsolutePath).count()
    assert(n == 97L * 2) // 97 whole frames x 2 channels, no EOF failure
    tmp.delete()
  }

  test("multimodal audio decode: real RIFF header parse from bytes") {
    val rng = new scala.util.Random(3)
    val samples = Array.fill(1234)(rng.nextDouble() * 2 - 1)
    val tmp = java.io.File.createTempFile("graft_mm", ".wav")
    graft.sources.WavSink.writeArrays(tmp.getAbsolutePath, 8000, samples, samples)
    val bytes = java.nio.file.Files.readAllBytes(tmp.toPath)
    val feats = graft.datapipe.Multimodal.decodeStub(
      graft.datapipe.Multimodal.MediaRecord(7L, "audio", bytes))
    assert(feats.width == 8000)   // sample rate from the real fmt chunk
    assert(feats.height == 2)     // channel count
    assert(feats.n_frames == 1234)
    tmp.delete()
    // non-RIFF payloads still take the deterministic stub path
    val stub = graft.datapipe.Multimodal.decodeStub(
      graft.datapipe.Multimodal.MediaRecord(8L, "image", "hello world".getBytes))
    assert(stub.n_frames == 1 && stub.width >= 64 && stub.width < 128)
  }

  test("PerChannel kernels scale across hundreds of channels") {
    import spark.implicits._
    val rng = new scala.util.Random(5)
    val rows = for (c <- 0 until 300; i <- 0 until 40)
      yield (s"ch$c", i / 100.0, rng.nextDouble() * 2 - 1)
    val df = rows.toDF("channel", "t", "v")
    val out = graft.ops.Kernels.filtButter(df, Seq(10.0), order = 4, btype = "lowpass")
    assert(out.count() == 300L * 40)
    // one channel's distributed result equals the driver-side kernel
    val ch7 = rows.filter(_._1 == "ch7").sortBy(_._2).map(_._3).toArray
    val (b, a) = graft.dsp.FilterDesign.butter(2, 10.0 / 50.0, "lowpass")
    val expected = graft.dsp.IIR.filtfilt(b, a, ch7)
    val got = out.filter(col("channel") === "ch7").orderBy("t")
      .collect().map(_.getDouble(2))
    assert(got.length == expected.length)
    got.zip(expected).foreach { case (g, e) => assert(math.abs(g - e) < 1e-9) }
  }

  test("streaming windowed rms over the bounded events stream") {
    import graft.streaming.StreamingOps._
    val out = runToMemorySink(
      windowedRms(eventsStream(spark, "/root/testdata/sf0.001")), "t_wrms", "complete")
    assert(out.count() > 0)
    assert(out.columns.toSeq == Seq("w_start", "channel", "rms", "n"))
  }

  test("watermark drops late data across micro-batches (append mode)") {
    import spark.implicits._
    import graft.streaming.StreamingOps._
    val dir = java.nio.file.Files.createTempDirectory("graft_wm").toFile
    def write(name: String, rows: Seq[(String, java.sql.Timestamp, Double)]): Unit =
      rows.toDF("channel", "ts", "v").coalesce(1).write.parquet(s"$dir/$name")
    def ts(min: Int) = new java.sql.Timestamp(3600L * 1000 * 24 * 365 + min * 60000L)
    // batch 1: 10 on-time samples, event time up to minute 60
    write("b1", (0 until 10).map(i => ("a", ts(6 * i + 6), 1.0)))
    val schema = spark.read.parquet(s"$dir/b1").schema
    val stream = spark.readStream.schema(schema).parquet(s"$dir/*")
      .withWatermark("ts", "30 minutes")
      .groupBy(window(col("ts"), "10 minutes"), col("channel"))
      .agg(sum("v").as("s"), count(lit(1)).as("n"))
      .select(col("window.start").as("w"), col("channel"), col("s"), col("n"))
    val q = stream.writeStream.outputMode("append").format("memory")
      .queryName("t_wm").start()
    try {
      q.processAllAvailable() // batch 1 commits; watermark -> minute 30
      // batch 2: one sample far behind the committed watermark
      write("b2", Seq(("a", ts(0), 99.0)))
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.table("t_wm").collect()
    // the late 99.0 row must NOT appear in any emitted window
    assert(out.nonEmpty)
    assert(!out.exists(_.getDouble(2) > 10.0), out.mkString("; "))
    org.apache.commons.io.FileUtils.deleteDirectory(dir)
  }

  test("stateful streaming mov-rms: first sample per channel equals |v|") {
    import graft.streaming.StreamingOps._
    val out = runToMemorySink(
      statefulMovRms(eventsStream(spark, "/root/testdata/sf0.001")), "t_smovrms", "append")
    val ev = graft.signal.Channels.events(spark, "/root/testdata/sf0.001")
    assert(out.count() == ev.count())
    val firstOut = out.orderBy("us").groupBy("channel").agg(first("rms").as("rms0"),
      min("us").as("us0"))
    val firstIn = graft.signal.Channels.rawEvents(spark, "/root/testdata/sf0.001")
      .groupBy(col("event_type").as("channel"))
      .agg(min_by(abs(col("value")), col("us")).as("absv0"))
    val joined = firstOut.join(firstIn, "channel").collect()
    assert(joined.length == 5)
    joined.foreach(r =>
      assert(math.abs(r.getDouble(1) - r.getDouble(3)) < 1e-9))
  }
}
