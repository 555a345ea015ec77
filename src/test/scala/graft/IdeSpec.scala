package graft

import java.io.File
import java.nio.file.Files

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.signal.Ide
import graft.sources.{Ebml, IdeSink, IdeSource, MideSchema}

/** Native `.ide` (MIDE-style EBML) connector: the writer/reader
  * round-trip, multi-subchannel interleaving, int16 calibration,
  * channel-filter block pruning, header metadata, and the EBML
  * layer's VINT edge cases. Reference surface: `Endaq` /
  * `EndaqChannel` (`io.py:160-301`).
  */
class IdeSpec extends AnyFunSuite with GraftSpark {

  private val tempDirs = scala.collection.mutable.ArrayBuffer.empty[File]

  /** A temp directory that is deleted, with everything in it, when the
    * current test ends (`deleteOnExit` never deletes a non-empty one).
    */
  private def tempDir(prefix: String): File = {
    val d = Files.createTempDirectory(prefix).toFile
    tempDirs.synchronized(tempDirs += d)
    d
  }

  override def withFixture(test: NoArgTest) =
    try super.withFixture(test)
    finally tempDirs.synchronized {
      tempDirs.foreach(FileUtils.deleteQuietly)
      tempDirs.clear()
    }

  private def tmpIde(prefix: String): String = {
    val f = File.createTempFile(s"graft_$prefix", ".ide")
    f.deleteOnExit()
    f.getAbsolutePath
  }

  private def sine(n: Int, f: Double): Array[Array[Double]] =
    Array.tabulate(n)(i => Array(math.sin(2 * math.Pi * f * i / n)))

  test("EBML VINT sizes round-trip across length boundaries") {
    for (v <- Seq(0L, 1L, 126L, 127L, 128L, 16382L, 16383L, 16384L, (1L << 21) - 2, 1L << 21,
                  (1L << 28) - 2, 1L << 28, 1L << 35)) {
      val b = java.nio.ByteBuffer.wrap(Ebml.sizeBytes(v))
      assert(Ebml.readSize(b) === v, s"size $v")
      assert(!b.hasRemaining, s"size $v left bytes")
    }
    // IDs keep their marker bits verbatim
    for (id <- Seq(0xA1L, 0xB3L, 0x4282L, 0x6334L, 0x1A45DFA3L)) {
      val b = java.nio.ByteBuffer.wrap(Ebml.idBytes(id))
      assert(Ebml.readId(b) === id, s"id 0x${id.toHexString}")
    }
  }

  test("float64 round-trip: multi-channel, multi-block, bit-exact") {
    val path = tmpIde("rt")
    val a = sine(700, 3.0)
    val b = sine(500, 5.0)
    IdeSink.write(path, 1700000000000000L, Seq(
      IdeSink.Ch(0, "accel", 1000.0, MideSchema.FmtFloat64,
        Seq(IdeSink.Sub("ax", "g")), a, blockFrames = 256),
      IdeSink.Ch(1, "mic", 1000.0, MideSchema.FmtFloat64,
        Seq(IdeSink.Sub("pressure", "Pa")), b, blockFrames = 200)))

    val back = Ide.read(spark, path).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getDouble(2), r.getDouble(3)))
    assert(back.length === 1200)
    val byCh = back.groupBy(_._1)
    val gotA = byCh(0).sortBy(_._3)
    assert(gotA.map(_._4).sameElements(a.map(_(0))), "channel 0 values bit-exact")
    // constant-rate writer: integer-microsecond grid, t = k/1000 s
    assert(gotA.zipWithIndex.forall { case ((_, _, t, _), k) => t == k / 1000.0 * 1.0 },
      "channel 0 times on the exact 1 kHz grid")
    val gotB = byCh(1).sortBy(_._3)
    assert(gotB.map(_._4).sameElements(b.map(_(0))), "channel 1 values bit-exact")
  }

  test("interleaved subchannels decode frame-major with per-sub calibration") {
    val path = tmpIde("xyz")
    // 3-axis block: frame i carries (x, y, z) back to back
    val frames = Array.tabulate(10)(i => Array(i * 1.0, i * 10.0, i * 100.0))
    IdeSink.write(path, 0L, Seq(
      IdeSink.Ch(8, "xyz", 100.0, MideSchema.FmtFloat64,
        Seq(IdeSink.Sub("x", "g"), IdeSink.Sub("y", "g"), IdeSink.Sub("z", "g")),
        frames, blockFrames = 4)))
    val got = Ide.read(spark, path).collect()
      .map(r => (r.getInt(1), r.getDouble(2), r.getDouble(3)))
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3).toSeq).toMap
    assert(got(0) === (0 until 10).map(_ * 1.0))
    assert(got(1) === (0 until 10).map(_ * 10.0))
    assert(got(2) === (0 until 10).map(_ * 100.0))
  }

  test("int16 payload applies the linear calibration on read") {
    val path = tmpIde("i16")
    // raw counts quantize: stored raw = round((v-b)/a); read v' = a*raw + b
    val vals = Array(-4.0, -0.25, 0.0, 0.5, 1.0, 3.75)
    val (calA, calB) = (0.25, 0.5)
    IdeSink.write(path, 0L, Seq(
      IdeSink.Ch(2, "temp", 10.0, MideSchema.FmtInt16,
        Seq(IdeSink.Sub("t", "degC", calA, calB)), vals.map(Array(_)), blockFrames = 4)))
    val got = Ide.read(spark, path).orderBy("t").collect().map(_.getDouble(3))
    val expected = vals.map(v => calA * math.round((v - calB) / calA) + calB)
    assert(got.sameElements(expected))
  }

  test("channel equality filter prunes whole blocks at planning time") {
    val path = tmpIde("prune")
    IdeSink.write(path, 0L, Seq(
      IdeSink.Ch(0, "a", 1000.0, MideSchema.FmtFloat64,
        Seq(IdeSink.Sub("a0", "u")), sine(600, 2.0), blockFrames = 100), // 6 blocks
      IdeSink.Ch(1, "b", 1000.0, MideSchema.FmtFloat64,
        Seq(IdeSink.Sub("b0", "u")), sine(300, 2.0), blockFrames = 100))) // 3 blocks
    val df = Ide.read(spark, path).filter(col("ch") === 1)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("blocks=3/9"), s"expected pruned block count in plan:\n$plan")
    assert(df.count() === 300)
    // pruning is exact — same rows as a post-scan filter
    val full = Ide.read(spark, path).collect().count(_.getInt(0) == 1)
    assert(full === 300)
  }

  test("DSv2 distributed write round-trips bit-exactly through the directory reader") {
    import spark.implicits._
    // two channels, one of them 3-subchannel interleaved; deliberately
    // shuffled input — the writer's RequiresDistributionAndOrdering
    // must make Spark restore (ch, t, sub) order before any row
    // reaches a task
    val rows =
      (0 until 300).flatMap(i => Seq((0, 0, i / 1000.0, math.sin(i * 0.1)))) ++
      (0 until 100).flatMap(i => (0 until 3).map(s =>
        (1, s, i / 500.0, math.cos(i * 0.2 + s))))
    val df = rows.toDF("ch", "sub", "t", "v").repartition(7)
    val dir = tempDir("graft_ide_w")
    graft.signal.Ide.write(df, dir.getAbsolutePath, timeBaseUs = 1700000000000000L)
    val parts = dir.listFiles().filter(_.getName.endsWith(".ide"))
    assert(parts.nonEmpty)
    assert(parts.forall(!_.getName.contains("tmp")))
    val back = Ide.read(spark, dir.getAbsolutePath)
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getDouble(2), r.getDouble(3)))
      .toSet
    assert(back === rows.toSet, "write -> read must be bit-exact")
    // metadata inference: channel 1 carries 3 subchannels at 500 Hz
    val meta = Ide.channels(spark, dir.getAbsolutePath)
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getDouble(5)))
    assert(meta.count(_._1 == 1) === 3)
    assert(meta.filter(_._1 == 1).forall(_._3 == 500.0))
  }

  test("time-range predicates prune blocks by header interval, rows unchanged") {
    val path = tmpIde("tprune")
    // 1000 samples at 1 kHz = 1 s of data in 10 blocks of 0.1 s
    IdeSink.write(path, 0L, Seq(
      IdeSink.Ch(0, "a", 1000.0, MideSchema.FmtFloat64,
        Seq(IdeSink.Sub("a0", "u")), sine(1000, 2.0), blockFrames = 100)))
    val df = Ide.read(spark, path).filter(col("t") >= 0.35 && col("t") < 0.62)
    val plan = df.queryExecution.executedPlan.toString
    // blocks [0.3,0.4) [0.4,0.5) [0.5,0.6) [0.6,0.7) intersect the
    // range (header intervals are inclusive, so 4 of 10 survive —
    // coarse pruning; the residual Filter drops the block-edge rows)
    assert(plan.contains("blocks=4/10"), s"expected t-pruned block count in plan:\n$plan")
    assert(plan.contains("t=["), s"expected t-range in scan description:\n$plan")
    // pruning is exact: same rows as the unpruned scan post-filtered
    val got = df.select("t").collect().map(_.getDouble(0)).sorted
    val want = Ide.read(spark, path).collect().map(_.getDouble(2))
      .filter(t => t >= 0.35 && t < 0.62).sorted
    assert(got.length === want.length)
    assert(got.zip(want).forall { case (a, b) => a == b })
  }

  test("partitionBytes splits a scan into block groups") {
    val path = tmpIde("split")
    IdeSink.write(path, 0L, Seq(
      IdeSink.Ch(0, "a", 1000.0, MideSchema.FmtFloat64,
        Seq(IdeSink.Sub("a0", "u")), sine(1000, 2.0), blockFrames = 100))) // 10×800-byte blocks
    val df = Ide.read(spark, path, partitionBytes = 1600)
    assert(df.rdd.getNumPartitions === 5, "two 800-byte blocks per 1600-byte partition")
    assert(df.count() === 1000)
  }

  test("channelList and getChannel mirror the reference surface") {
    val path = tmpIde("api")
    IdeSink.write(path, 1700000000000000L, Seq(
      IdeSink.Ch(0, "accel", 1000.0, MideSchema.FmtFloat64,
        Seq(IdeSink.Sub("ax", "g"), IdeSink.Sub("ay", "g")), sine(50, 1.0).map(r => Array(r(0), -r(0))), blockFrames = 50),
      IdeSink.Ch(1, "mic", 2000.0, MideSchema.FmtFloat64,
        Seq(IdeSink.Sub("pressure", "Pa")), sine(40, 1.0), blockFrames = 50)))
    assert(Ide.channelList(spark, path).collect().map(r => (r.getString(0), r.getString(1)))
      === Array(("ax", "g"), ("ay", "g"), ("pressure", "Pa")))
    val ay = Ide.getChannel(spark, path, "ay").orderBy("t").collect()
    assert(ay.length === 50)
    assert(ay.forall(r => r.getString(0) == "ay" && r.getString(1) == "g"))
    assert(ay.map(_.getDouble(3)).sameElements(sine(50, 1.0).map(r => -r(0))))
    val err = intercept[IllegalArgumentException](Ide.getChannel(spark, path, "nope"))
    assert(err.getMessage.contains("Channel does not exist"))
    // start_time: TimeBaseUTC + first sample offset (io.py:249-254)
    val starts = Ide.startTimes(spark, path).collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    assert(starts("pressure") === 1700000000000000L)
  }

  test("unknown elements are skipped (EBML forward compatibility)") {
    val path = tmpIde("fwd")
    IdeSink.write(path, 0L, Seq(
      IdeSink.Ch(0, "a", 1000.0, MideSchema.FmtFloat64,
        Seq(IdeSink.Sub("a0", "u")), sine(20, 1.0), blockFrames = 20)))
    // splice an unrecognized top-level element between header and data
    val bytes = Files.readAllBytes(new File(path).toPath)
    val stray = Ebml.element(0xEC, Array.fill[Byte](37)(0x55)) // Void-style padding
    val hdrEnd = {
      val b = java.nio.ByteBuffer.wrap(bytes)
      Ebml.readId(b); val sz = Ebml.readSize(b); b.position() + sz.toInt
    }
    val spliced = bytes.take(hdrEnd) ++ stray ++ bytes.drop(hdrEnd)
    val p2 = tmpIde("fwd2")
    Files.write(new File(p2).toPath, spliced)
    assert(Ide.read(spark, p2).count() === 20)
  }

  test("a directory of rollover files reads as one continuous recording") {
    val dir = tempDir("graft_ide_fleet")
    // two files from the same device config; file 2's clock starts
    // 0.5 s after file 1's — t must be continuous on file 1's origin
    val mk = (vals: Array[Array[Double]]) =>
      IdeSink.Ch(0, "accel", 1000.0, MideSchema.FmtFloat64,
        Seq(IdeSink.Sub("ax", "g")), vals, blockFrames = 100)
    IdeSink.write(s"$dir/rec_001.ide", 1700000000000000L,
      Seq(mk(Array.tabulate(500)(i => Array(i * 1.0)))))
    IdeSink.write(s"$dir/rec_002.ide", 1700000000500000L,
      Seq(mk(Array.tabulate(300)(i => Array(1000.0 + i)))))
    val got = Ide.read(spark, dir.getAbsolutePath).orderBy("t").collect()
      .map(r => (r.getDouble(2), r.getDouble(3)))
    assert(got.length === 800)
    // the global 1 kHz grid: sample k at exactly (k·1000 µs)/1e6 —
    // one correctly-rounded division, no intermediate float adds
    assert(got.map(_._1).sameElements((0 until 800).map(k => k * 1000L / 1e6)),
      "continuous clock across rollover")
    assert(got(500) === ((0.5, 1000.0)))
    // pruning and getChannel work through the directory path too
    assert(Ide.getChannel(spark, dir.getAbsolutePath, "ax").count() === 800)
    // conflicting channel defs under one id are an error, not a merge
    IdeSink.write(s"$dir/rec_003.ide", 1700000001000000L,
      Seq(IdeSink.Ch(0, "mic", 1000.0, MideSchema.FmtFloat64,
        Seq(IdeSink.Sub("p", "Pa")), Array(Array(0.0)), blockFrames = 1)))
    val err = intercept[IllegalArgumentException](Ide.read(spark, dir.getAbsolutePath).count())
    assert(err.getMessage.contains("conflicts"))
    new File(s"$dir/rec_003.ide").delete()
  }

  test("column pruning reaches the scan: projected reads carry only requested columns") {
    val path = tmpIde("prune_cols")
    IdeSink.write(path, 0L, Seq(
      IdeSink.Ch(0, "a", 1000.0, MideSchema.FmtFloat64,
        Seq(IdeSink.Sub("a0", "u")), sine(100, 2.0), blockFrames = 50)))
    val df = Ide.read(spark, path).select("v", "t") // reversed order on purpose
    assert(df.schema.fieldNames.toSeq === Seq("v", "t"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("ReadSchema") || df.collect().length == 100)
    val got = df.orderBy("t").collect()
    assert(got.map(_.getDouble(0)).sameElements(sine(100, 2.0).map(_(0))))
    assert(got.head.schema.fieldNames.toSeq === Seq("v", "t"))
  }

  test("streaming: new rollover files arrive as micro-batches on one clock") {
    val dir = tempDir("graft_ide_stream")
    val mk = (vals: Array[Array[Double]]) =>
      IdeSink.Ch(0, "accel", 1000.0, MideSchema.FmtFloat64,
        Seq(IdeSink.Sub("ax", "g")), vals, blockFrames = 64)
    IdeSink.write(s"$dir/r_001.ide", 1700000000000000L,
      Seq(mk(Array.tabulate(200)(i => Array(i * 1.0)))))

    val q = Ide.readStream(spark, dir.getAbsolutePath)
      .writeStream.format("memory").queryName("ide_stream")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table("ide_stream").count() === 200)
      // device uploads its next rollover file mid-stream
      IdeSink.write(s"$dir/r_002.ide", 1700000000200000L,
        Seq(mk(Array.tabulate(100)(i => Array(1000.0 + i)))))
      q.processAllAvailable()
      val rows = spark.table("ide_stream").orderBy("t").collect()
        .map(r => (r.getDouble(2), r.getDouble(3)))
      assert(rows.length === 300)
      // second batch continues the FIRST file's clock
      assert(rows.map(_._1).sameElements((0 until 300).map(k => k * 1000L / 1e6)))
      assert(rows(200) === ((0.2, 1000.0)))
    } finally q.stop()
  }

  test("int16 quantized write derives calibration; error bounded by calA/2") {
    import spark.implicits._
    val vals = Array.tabulate(512)(i => -3.7 + 0.013 * i + math.sin(i * 0.3))
    val df = vals.zipWithIndex
      .map { case (v, i) => (5, 0, i / 1000.0, v) }.toSeq
      .toDF("ch", "sub", "t", "v")
    val dir = tempDir("graft_ide_i16")
    df.write.format(graft.sources.IdeSource.NAME)
      .option("fmt", "int16").mode("append").save(dir.getAbsolutePath)
    val back = Ide.read(spark, dir.getAbsolutePath)
      .orderBy("t").collect().map(_.getDouble(3))
    assert(back.length === vals.length)
    val calA = (vals.max - vals.min) / 65534.0
    vals.zip(back).foreach { case (orig, got) =>
      assert(math.abs(orig - got) <= calA / 2 + 1e-12,
        s"quantization error ${math.abs(orig - got)} exceeds ${calA / 2}")
    }
    // the payload really is 2 bytes/sample: the int16 file is ~4x
    // smaller than the float64 form of the same data
    val f64 = tempDir("graft_ide_f64")
    df.write.format(graft.sources.IdeSource.NAME).mode("append").save(f64.getAbsolutePath)
    def bytes(d: java.io.File) = d.listFiles().filter(_.getName.endsWith(".ide")).map(_.length()).sum
    assert(bytes(dir) * 3 < bytes(f64),
      s"int16 ${bytes(dir)} B not ~4x under float64 ${bytes(f64)} B")
  }

  test("streaming: checkpoint restart resumes at the committed offset on one clock") {
    val dir = tempDir("graft_ide_restart")
    val ckpt = tempDir("graft_ide_ckpt")
    val mk = (base: Double, n: Int) =>
      IdeSink.Ch(0, "accel", 1000.0, MideSchema.FmtFloat64,
        Seq(IdeSink.Sub("ax", "g")),
        Array.tabulate(n)(i => Array(base + i)), blockFrames = 64)
    IdeSink.write(s"$dir/r_001.ide", 1700000000000000L, Seq(mk(0.0, 150)))

    // memory sinks cannot recover; a parquet sink + checkpoint is the
    // durable shape a real ingestion job runs
    val out = tempDir("graft_ide_out")
    def start() = Ide.readStream(spark, dir.getAbsolutePath)
      .writeStream.format("parquet")
      .option("path", out.getAbsolutePath)
      .option("checkpointLocation", ckpt.getAbsolutePath)
      .outputMode("append").start()

    val q1 = start()
    try { q1.processAllAvailable() } finally q1.stop()
    assert(spark.read.parquet(out.getAbsolutePath).count() === 150)

    // files arrive while the stream is DOWN; the restarted query must
    // deserialize the committed file-count offset and ingest ONLY the
    // new file — with t still anchored on the FIRST file's clock
    IdeSink.write(s"$dir/r_002.ide", 1700000000150000L, Seq(mk(500.0, 50)))
    val q2 = start()
    try {
      q2.processAllAvailable()
      val rows = spark.read.parquet(out.getAbsolutePath).orderBy("t").collect()
        .map(r => (r.getDouble(2), r.getDouble(3)))
      // no re-ingestion of the first file, no gap
      assert(rows.length === 200)
      assert(rows(150) === ((0.15, 500.0)), s"got ${rows(150)}")
      assert(rows.map(_._1).sameElements((0 until 200).map(k => k * 1000L / 1e6)))
    } finally q2.stop()
  }

  test("streaming: offset log entries stay constant-size as files accumulate") {
    val dir = tempDir("graft_ide_compact")
    val ckpt = tempDir("graft_ide_compact_ckpt")
    val mk = (base: Double, n: Int) =>
      IdeSink.Ch(0, "accel", 1000.0, MideSchema.FmtFloat64,
        Seq(IdeSink.Sub("ax", "g")),
        Array.tabulate(n)(i => Array(base + i)), blockFrames = 64)
    for (i <- 1 to 6)
      IdeSink.write(f"$dir/c_$i%03d.ide", 1700000000000000L + i * 100000L, Seq(mk(i * 10.0, 20)))
    val out = tempDir("graft_ide_compact_out")
    val q = Ide.readStream(spark, dir.getAbsolutePath)
      .writeStream.format("parquet")
      .option("path", out.getAbsolutePath)
      .option("checkpointLocation", ckpt.getAbsolutePath)
      .option("maxFilesPerTrigger", "1") // ignored by this source, but harmless
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    assert(spark.read.parquet(out.getAbsolutePath).count() === 120)
    // every persisted offset entry is the compact (anchor, w, n)
    // triple — no cumulative file list, so entry size is O(1) in the
    // number of processed files (the r9 format grew O(n) per entry)
    val offDir = new File(ckpt, "offsets")
    val entries = offDir.listFiles().filter(_.isFile).map { f =>
      new String(Files.readAllBytes(f.toPath))
    }
    val withSet = entries.filter(_.contains("\"n\":"))
    assert(withSet.nonEmpty)
    withSet.foreach { e =>
      assert(!e.contains("\"files\""), s"offset entry still embeds the file list: $e")
    }
  }

  private def lateArrivalFixture(tag: String): (File, File, File, () => org.apache.spark.sql.streaming.StreamingQuery) = {
    val dir = tempDir(s"graft_ide_$tag")
    val ckpt = tempDir(s"graft_ide_${tag}_ckpt")
    val out = tempDir(s"graft_ide_${tag}_out")
    val mk = (base: Double, n: Int) =>
      IdeSink.Ch(0, "accel", 1000.0, MideSchema.FmtFloat64,
        Seq(IdeSink.Sub("ax", "g")),
        Array.tabulate(n)(i => Array(base + i)), blockFrames = 64)
    IdeSink.write(s"$dir/m_002.ide", 1700000000000000L, Seq(mk(0.0, 30)))
    IdeSink.write(s"$dir/m_004.ide", 1700000000030000L, Seq(mk(100.0, 30)))
    def start() = Ide.readStream(spark, dir.getAbsolutePath)
      .writeStream.format("parquet")
      .option("path", out.getAbsolutePath)
      .option("checkpointLocation", ckpt.getAbsolutePath)
      .outputMode("append").start()
    val q1 = start()
    try q1.processAllAvailable() finally q1.stop()
    assert(spark.read.parquet(out.getAbsolutePath).count() === 60)
    // while DOWN: one late file sorting BEFORE the watermark (m_003 <
    // m_004) and one new file after it
    IdeSink.write(s"$dir/m_003.ide", 1700000000060000L, Seq(mk(200.0, 30)))
    IdeSink.write(s"$dir/m_005.ide", 1700000000090000L, Seq(mk(300.0, 30)))
    (dir, ckpt, out, () => start())
  }

  test("streaming: restart ingests a while-down pre-watermark file exactly once (sidecar log)") {
    val (_, ckpt, out, start) = lateArrivalFixture("late")
    // the sidecar log under the checkpoint restores the EXACT
    // processed set {m_002, m_004}; both while-down arrivals — the
    // pre-watermark m_003 and the post-watermark m_005 — are new
    assert(new File(ckpt, "sources/0/graft_file_log").isDirectory,
      "sidecar file log was not written under the checkpoint")
    val q2 = start()
    try {
      q2.processAllAvailable()
      val vals = spark.read.parquet(out.getAbsolutePath).collect()
        .map(_.getDouble(3)).sorted
      assert(vals.length === 120, s"expected all 4 files' rows once, got ${vals.length}")
      assert(vals.count(v => v >= 200.0 && v < 230.0) === 30, "late pre-watermark file not ingested exactly once")
      assert(vals.count(v => v >= 300.0) === 30)
      assert(vals.count(v => v < 30.0) === 30, "head file re-ingested")
    } finally q2.stop()
  }

  test("streaming: pre-sidecar checkpoint falls back to loud at-most-once skip") {
    val (_, ckpt, out, start) = lateArrivalFixture("presidecar")
    // simulate a checkpoint written before the sidecar existed: the
    // offset pointer has no log entry to resolve against, so recovery
    // reconstructs {files <= watermark} — the documented fallback:
    // the pre-watermark late file is treated as processed (skipped,
    // warned), the post-watermark file is ingested exactly once
    val logDir = new File(ckpt, "sources/0/graft_file_log")
    logDir.listFiles().foreach(f => Files.delete(f.toPath))
    Files.delete(logDir.toPath)
    val q2 = start()
    try {
      q2.processAllAvailable()
      val vals = spark.read.parquet(out.getAbsolutePath).collect()
        .map(_.getDouble(3)).sorted
      assert(vals.length === 90, s"expected 60 + only m_005's 30 rows, got ${vals.length}")
      assert(!vals.exists(v => v >= 200.0 && v < 230.0), "late pre-watermark file was re-sliced in")
      assert(vals.count(v => v >= 300.0) === 30)
    } finally q2.stop()
  }

  test("a non-mide EBML file is rejected up front") {
    val p = tmpIde("bad")
    Files.write(new File(p).toPath,
      Ebml.master(MideSchema.EbmlHeader, Ebml.utf8Element(MideSchema.DocType, "matroska")))
    val err = intercept[IllegalArgumentException](IdeSource.readMeta(p))
    assert(err.getMessage.contains("not an ide recording"))
  }
}
