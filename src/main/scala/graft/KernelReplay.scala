package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

/** At-scale hash gate for the five SEQUENTIAL kernels whose DuckDB
  * oracles are recursive CTEs of depth = series length and therefore
  * infeasible past ~sf0.3 (the replay technique, not the engine, is
  * the super-linear side — r14 triage, r15 closure).
  *
  * The oracle here is an independent in-JVM replay: each channel's
  * samples are collected to the driver, sorted, and driven through
  * the SCALAR kernels (`IIR.lfilterWithState`, `CubicSpline
  * .interpolate`, `Rainflow.countCycles`) in ONE sequential pass —
  * no Spark, no chunking, no state handoff. The engine side runs the
  * full distributed path (streaming state composition for the IIR,
  * one whole-channel gather for the spline, flatMapGroups for
  * rainflow), so what this gate proves is exactly what the r14
  * campaign showed sf0.01 cannot: that the DISTRIBUTED composition
  * (micro-batch state handoff, chunk boundaries, partition order)
  * reproduces the
  * sequential ground truth at full series length. Comparison is the
  * same strictness the DuckDB gate uses per query: bit-exact for the
  * IIR and rainflow rows, the query's own %.4e projection for the
  * spline.
  *
  * A sixth replay, `q_pq_recall_replay` (opt-in via the names arg),
  * serves the OTHER oracle-infeasibility shape (r17 verdict #3): the
  * sf10 DuckDB replay of q_pq_recall materializes >75 GB of spill for
  * a 60-row result (triaged ENOSPC skip). Here the whole search chain
  * — exact brute-force truth, PQ encode, ADC scoring, IVF routing,
  * exact-float rerank — is recomputed with SCALAR loops over the
  * collected embeddings (no SQL, no Spark ops past the reads). The
  * trained codebooks/centroids are shared with the engine run (the
  * OPQ-oracle precedent: by scoring time they are plan literals), so
  * what the replay proves is that the DISTRIBUTED search pipeline
  * reproduces the sequential ground truth.
  *
  * Usage: runMain graft.KernelReplay <sfDir> <outJson> [names,csv]
  * Writes {"query": {"rows": n, "match": bool, "mismatches": k}} per
  * kernel; exits nonzero on any mismatch (the driver-gate contract).
  */
object KernelReplay {

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outJson) = args.take(2)
    val spark = GraftSession.local(GraftSession.cpus)
    val names =
      if (args.length > 2) args(2).split(",").toSeq.filter(_.nonEmpty)
      else DefaultKernels
    val results = run(spark, sfDir, names)
    val json = results.map { case (q, (rows, mism)) =>
      s""""$q": {"rows": $rows, "match": ${mism == 0}, "mismatches": $mism}"""
    }.mkString("{", ", ", "}")
    Files.writeString(Paths.get(outJson), json)
    println(json)
    spark.stop()
    if (results.values.exists(_._2 != 0)) sys.exit(1)
  }

  val DefaultKernels: Seq[String] = Seq("k_stream_iir", "k_resample_cubic",
    "k_rainflow", "k_rainflow_binned", "k_rainflow_binsize")

  /** Runs the requested kernels; returns query -> (engineRows, mismatches). */
  def run(spark: SparkSession, sfDir: String,
          names: Seq[String] = DefaultKernels): Map[String, (Long, Long)] = {
    names.map { q =>
      val t0 = System.nanoTime()
      // the replay keys `<engine query>_replay` grade the engine query
      // they are named after (kept distinct in the merged gate so the
      // DuckDB skip row and the replay row are both visible)
      val engineQ = q.stripSuffix("_replay")
      val engine = SparkEntry.queries(engineQ)(spark, sfDir).collect()
        .map(_.toString).groupBy(identity).view.mapValues(_.length.toLong).toMap
      val oracle = replay(spark, sfDir, q)
        .groupBy(identity).view.mapValues(_.length.toLong).toMap
      val missing = oracle.map { case (k, c) => math.max(0L, c - engine.getOrElse(k, 0L)) }.sum
      val extra = engine.map { case (k, c) => math.max(0L, c - oracle.getOrElse(k, 0L)) }.sum
      val rows = engine.values.sum
      println(f"[replay] $q: $rows rows, ${missing + extra} mismatches, " +
        f"${(System.nanoTime() - t0) / 1e9}%.1f s")
      if (missing + extra > 0) {
        val bad = oracle.keys.filterNot(k => engine.getOrElse(k, 0L) == oracle(k)).take(3)
        val badE = engine.keys.filterNot(k => oracle.getOrElse(k, 0L) == engine(k)).take(3)
        println(s"  oracle-side sample: ${bad.mkString(" | ")}")
        println(s"  engine-side sample: ${badE.mkString(" | ")}")
      }
      q -> ((rows, missing + extra))
    }.toMap
  }

  /** One sequential in-JVM pass per kernel, emitted in the engine
    * query's row format (Row.toString shape for multiset compare).
    */
  private def replay(spark: SparkSession, sfDir: String, q: String): Seq[String] = q match {
    case "k_stream_iir" =>
      // (channel, us, v) through one unbroken DFIIt recurrence per
      // channel in (us, v) order — the statefulIir contract
      val (b, a) = graft.dsp.FilterDesign.butter(2, 0.2, "lowpass")
      val rows = graft.signal.Channels.rawEvents(spark, sfDir)
        .select(col("event_type").as("channel"), col("us"), col("value").as("v"))
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      rows.groupBy(_._1).toSeq.flatMap { case (ch, rs) =>
        val sorted = rs.sortBy(r => (r._2, r._3))
        val (y, _) = graft.dsp.IIR.lfilterWithState(b, a, sorted.map(_._3).toArray, null)
        sorted.indices.map(i => s"[$ch,${sorted(i)._2},${y(i)}]")
      }
    case "k_resample_cubic" =>
      // knots -> np.arange grid -> not-a-knot spline, one interpolate
      // call per channel (no chunking); %.4e like the engine query
      val knots = graft.signal.Channels.events(spark, sfDir)
        .select(col("channel"), col("t"), col("v")).collect()
        .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2)))
      val step = 1000.0
      knots.groupBy(_._1).toSeq.flatMap { case (ch, rs) =>
        val sorted = rs.sortBy(_._2)
        val x = sorted.map(_._2).toArray
        val v = sorted.map(_._3).toArray
        val n = math.ceil((x.last - x.head) / step).toLong
        val grid = Array.tabulate(n.toInt)(k => x.head + k * step)
        val y = graft.dsp.CubicSpline.interpolate(x, v, grid)
        grid.indices.map(i => s"[$ch,${grid(i)},${"%.4e".format(y(i))}]")
      }
    case "k_rainflow" => rainflowReplay(spark, sfDir, ndigits = Some(1))
    case "k_rainflow_binned" => rainflowReplay(spark, sfDir, nbins = Some(10))
    case "k_rainflow_binsize" => rainflowReplay(spark, sfDir, binsize = Some(25.0))
    case "q_pq_recall_replay" => pqRecallReplay(spark, sfDir)
  }

  // ---- q_pq_recall scalar replay -----------------------------------

  /** Left-to-right float dot accumulated in double — the FloatDot
    * expression's exact arithmetic.
    */
  private def fdot(a: Array[Float], b: Array[Float]): Double = {
    val n = math.min(a.length, b.length)
    var s = 0.0; var i = 0
    while (i < n) { s += a(i).toDouble * b(i).toDouble; i += 1 }
    s
  }

  /** Left-to-right double dot — Similarity.dot's aggregate/zip_with. */
  private def ddot(a: Array[Double], b: Array[Double]): Double = {
    val n = math.min(a.length, b.length)
    var s = 0.0; var i = 0
    while (i < n) { s += a(i) * b(i); i += 1 }
    s
  }

  /** Spark round(x, 6) for doubles: Scala BigDecimal (valueOf
    * semantics) + HALF_UP — the exact Catalyst Round evaluation.
    */
  private def round6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Rank by (round6(cos) desc, id asc), keep k ids — the window
    * every recall leg uses.
    */
  private def topK(scored: Iterable[(Long, Double)], k: Int): Seq[Long] =
    scored.toSeq.map { case (id, c) => (id, round6(c)) }
      .sortBy { case (id, c) => (-c, id) }.take(k).map(_._1)

  /** The full q_pq_recall search chain in scalar loops: brute-force
    * truth, PQ encode + ADC (the `pq` leg), IVF-routed ADC on the
    * blockwise reconstruction (`ivf_pq`), and the exact-float rerank
    * of 50 ADC candidates (`pq_rerank`). Emits recallPerQuery's row
    * shape: [method,query_id,n_true,n_hits,recall].
    */
  private def pqRecallReplay(spark: SparkSession, sfDir: String): Seq[String] = {
    val all = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      .sortBy(_._1)
    val probes = all.filter { case (id, _) =>
      id % 25 == 0 && id < SparkEntry.PROBE_CAP }
    // trained artifacts SHARED with the engine run (plan literals by
    // scoring time); everything below them is independent scalar code
    val books = Substrates.pqBooks(spark, sfDir)
    val cents = Substrates.trainedCents(spark, sfDir)
    val m = books.length
    val sub = books(0)(0).length

    val fnorm = all.map { case (_, v) => math.sqrt(fdot(v, v)) }
    val dbl = all.map(_._2.map(_.toDouble))
    // PQ encode: per-subspace argmin squared distance, ties to the
    // smaller centroid id (array_min over (dist, cluster) structs)
    val codes: Array[Array[Int]] = dbl.map { v =>
      Array.tabulate(m) { u =>
        var best = 0; var bestD = Double.MaxValue
        var j = 0
        while (j < books(u).length) {
          var d = 0.0; var t = 0
          while (t < sub) {
            val diff = v(u * sub + t) - books(u)(j)(t); d += diff * diff; t += 1
          }
          if (d < bestD) { bestD = d; best = j }
          j += 1
        }
        best
      }
    }
    // precomputed per-centroid squared norms (pqTopK's n2 literal)
    val cb2 = books.map(_.map(c => c.map(x => x * x).sum))
    def adcCos(qe: Array[Double], qn: Double, ci: Int): Double = {
      var dots = 0.0; var n2 = 0.0
      var u = 0
      while (u < m) {
        val c = books(u)(codes(ci)(u))
        var t = 0
        while (t < sub) { dots += qe(u * sub + t) * c(t); t += 1 }
        n2 += cb2(u)(codes(ci)(u))
        u += 1
      }
      dots / (qn * math.sqrt(n2))
    }
    // blockwise reconstruction + its norm + IVF list (argmax of
    // dot(de, cent)/|cent|; reverse(array_sort) ties to the LARGER id)
    val de = codes.map(cs => Array.tabulate(m * sub)(d => books(d / sub)(cs(d / sub))(d % sub)))
    val dnorm = de.map(v => math.sqrt(ddot(v, v)))
    val centNorm = cents.map(c => math.sqrt(c.map(x => x * x).sum))
    def bestLists(v: Array[Double], n: Int): Seq[Int] =
      cents.indices.map(j => (ddot(v, cents(j)) / centNorm(j), j))
        .sortBy { case (s, j) => (-s, -j) }.take(n).map(_._2)
    val corpusList = de.map(bestLists(_, 1).head)

    val ids = all.map(_._1)
    def idxOf(id: Long): Int = java.util.Arrays.binarySearch(ids, id)
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    for ((qid, qv) <- probes) {
      val qe = dbl(idxOf(qid))
      val qnF = math.sqrt(fdot(qv, qv))
      val qnD = math.sqrt(ddot(qe, qe))
      def others = all.indices.iterator.filter(ids(_) != qid)
      val truth = topK(others.map(i =>
        (ids(i), fdot(qv, all(i)._2) / (qnF * fnorm(i)))).toSeq, 10).toSet
      val adc50 = topK(others.map(i => (ids(i), adcCos(qe, qnD, i))).toSeq, 50)
      // pqTopK(k=10) ranks by the identical (round6 desc, id asc)
      // total order, so its row set is the 50-candidate list's prefix
      val pqIds = adc50.take(10)
      val probed = bestLists(qe, 4).toSet
      val ivfIds = topK(others.filter(i => probed(corpusList(i)))
        .map(i => (ids(i), ddot(qe, de(i)) / (qnD * dnorm(i)))).toSeq, 10)
      val rerankIds = topK(adc50.map { id =>
        val i = idxOf(id)
        (id, fdot(qv, all(i)._2) / (qnF * fnorm(i)))
      }, 10)
      for ((method, ids) <- Seq("pq" -> pqIds, "ivf_pq" -> ivfIds,
                                "pq_rerank" -> rerankIds)) {
        val hits = ids.count(truth)
        out += s"[$method,$qid,${truth.size},$hits,${round6(hits.toDouble / truth.size)}]"
      }
    }
    out.toSeq
  }

  private def rainflowReplay(spark: SparkSession, sfDir: String,
                             ndigits: Option[Int] = None, nbins: Option[Int] = None,
                             binsize: Option[Double] = None): Seq[String] = {
    val rows = graft.signal.Channels.events(spark, sfDir)
      .select(col("channel"), col("t"), col("v")).collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2)))
    rows.groupBy(_._1).toSeq.flatMap { case (ch, rs) =>
      val vs = rs.sortBy(_._2).map(_._3).toArray
      graft.dsp.Rainflow.countCycles(vs, ndigits, nbins, binsize)
        .map { case (rng, c) => s"[$ch,$rng,$c]" }
    }
  }
}
