package graftbench

import graft.sources.{IdeSink, MideSchema}

/** Seeded input generators. The same seed always yields the same
  * recording and the same corpus; nothing here touches Spark.
  */
object Gen {

  /** A multi-channel recording at one sample rate: `t(i)` and `v(i)`
    * are channel i's time axis (seconds) and samples.
    */
  final case class Recording(names: IndexedSeq[String], sampleRate: Double,
                             t: IndexedSeq[Array[Double]], v: IndexedSeq[Array[Double]]) {
    def samples: Long = v.map(_.length.toLong).sum
  }

  val PeriodUs = 1000L // 1 kHz

  /** `channels` channels of unequal length: channel 0 is `longFactor`
    * times the base length, the others spread evenly over
    * [base/2, 3*base/2) in a seeded order, so every seed has the same
    * total. Each channel is two tones plus Gaussian noise plus sparse
    * decaying shock bursts.
    */
  def recording(seed: Long, channels: Int, baseLen: Int, longFactor: Int): Recording = {
    val rnd = new java.util.Random(seed)
    val sr = 1e6 / PeriodUs
    val others = scala.util.Random.javaRandomToRandom(rnd)
      .shuffle((1 until channels).map(i => baseLen / 2 + (i - 1) * baseLen / (channels - 1)))
    val lens = (baseLen * longFactor) +: others
    val vs = lens.map { n =>
      val (f1, f2) = (2.0 + rnd.nextDouble() * 40.0, 60.0 + rnd.nextDouble() * 150.0)
      val (a1, a2) = (0.5 + rnd.nextDouble() * 1.5, 0.1 + rnd.nextDouble() * 0.5)
      val (p1, p2) = (rnd.nextDouble() * 2 * math.Pi, rnd.nextDouble() * 2 * math.Pi)
      val x = Array.tabulate(n) { k =>
        val tk = k / sr
        a1 * math.sin(2 * math.Pi * f1 * tk + p1) + a2 * math.sin(2 * math.Pi * f2 * tk + p2) +
          0.2 * rnd.nextGaussian()
      }
      // shocks: one burst per ~2000 samples on average
      var k = rnd.nextInt(2000)
      while (k < n) {
        val (amp, fs, decay) = (5.0 + rnd.nextDouble() * 15.0, 80.0 + rnd.nextDouble() * 200.0,
          20.0 + rnd.nextDouble() * 60.0)
        var j = 0
        while (j < 400 && k + j < n) {
          x(k + j) += amp * math.exp(-j / decay) * math.sin(2 * math.Pi * fs * j / sr)
          j += 1
        }
        k += 500 + rnd.nextInt(3000)
      }
      x
    }
    // the .ide reader's time axis: (block start + frame * period) µs / 1e6
    val ts = lens.map(n => Array.tabulate(n)(k => (k * PeriodUs).toDouble / 1e6))
    Recording((0 until channels).map(i => f"ch$i%02d"), sr, ts, vs)
  }

  /** Write the recording as one float64 `.ide` file (channel id i =
    * name ch<i>, one subchannel each).
    */
  def writeIde(rec: Recording, file: java.io.File): Unit = {
    val chans = rec.names.indices.map { i =>
      IdeSink.Ch(i, rec.names(i), rec.sampleRate, MideSchema.FmtFloat64,
        Seq(IdeSink.Sub(rec.names(i), "g")), rec.v(i).map(Array(_)), blockFrames = 1024)
    }
    IdeSink.write(file.getAbsolutePath, 1700000000000000L, chans)
  }

  /** A corpus with planted near-duplicates. `docIds(i)` / `texts(i)`;
    * `planted` counts documents generated as an edit of another one
    * (cluster members beyond each cluster's first), so the stated
    * duplicate density is planted / docs.
    */
  final case class Corpus(docIds: Array[Long], texts: Array[String], planted: Int,
                          clusters: Int, boilerplateClusters: Int) {
    def docs: Int = texts.length
    def bytes: Long = texts.map(_.length.toLong).sum
    def density: Double = planted.toDouble / docs
  }

  /** `base` random documents of 30-50 words; every fourth gets 1-3
    * near-copies (cycling, so every seed plants the same number) with
    * 2-25% of words substituted (so some candidate pairs fall below a
    * 0.5 Jaccard threshold); plus `boilerplate` clusters of
    * `boilerplateSize` documents that share a 40-word template and
    * differ in a 3-word suffix. Document ids are a seeded permutation,
    * so clusters are not contiguous in id order.
    */
  def corpus(seed: Long, base: Int, boilerplate: Int, boilerplateSize: Int): Corpus = {
    val rnd = new java.util.Random(seed ^ 0x5DEECE66DL)
    val vocab = Array.fill(3000) {
      val n = 3 + rnd.nextInt(7)
      new String(Array.fill(n)(('a' + rnd.nextInt(26)).toChar))
    }
    def words(n: Int): Array[String] = Array.fill(n)(vocab(rnd.nextInt(vocab.length)))
    val texts = scala.collection.mutable.ArrayBuffer.empty[String]
    var planted = 0
    var clusters = 0
    for (b <- 0 until base) {
      val w = words(30 + rnd.nextInt(21))
      texts += w.mkString(" ")
      if (b % 4 == 0) {
        clusters += 1
        for (_ <- 0 until 1 + clusters % 3) {
          val rate = 0.02 + rnd.nextDouble() * 0.23
          texts += w.map(x => if (rnd.nextDouble() < rate) vocab(rnd.nextInt(vocab.length)) else x)
            .mkString(" ")
          planted += 1
        }
      }
    }
    for (_ <- 0 until boilerplate) {
      val tmpl = words(40).mkString(" ")
      clusters += 1
      for (i <- 0 until boilerplateSize) {
        texts += tmpl + " " + words(3).mkString(" ")
        if (i > 0) planted += 1
      }
    }
    val ids = (0L until texts.size.toLong).toArray
    for (i <- ids.indices.reverse) { // Fisher-Yates
      val j = rnd.nextInt(i + 1)
      val tmp = ids(i); ids(i) = ids(j); ids(j) = tmp
    }
    Corpus(ids, texts.toArray, planted, clusters, boilerplate)
  }
}
