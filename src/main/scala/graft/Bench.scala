package graft

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = GraftSession.cpus
    val spark = GraftSession.local(cpus)
    // warm the JVM/codegen/parquet-footer paths once, untimed, so the
    // first measured query doesn't absorb session startup
    try {
      // isolate mode drops every releaseHeavy-managed cache before
      // each query's own warmup anyway — only warm what is retained
      if (sys.env.get("SPARK_GRAFT_ISOLATE").contains("1"))
        Substrates.warmRetained(spark, sfDir)
      else Substrates.warm(spark, sfDir)
      spark.read.parquet(s"$sfDir/lineitem.parquet").count()
      // first streaming query pays micro-batch engine + state store
      // init (~2s) — absorb it here with a minimal stateful stream
      import org.apache.spark.sql.streaming.Trigger
      val q = spark.readStream.format("rate").option("rowsPerSecond", "1").load()
        .dropDuplicates("timestamp")
        .writeStream.format("memory").queryName("bench_warm_stream")
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(15000)
      q.stop()
    } catch { case NonFatal(_) => () }
    // a crashing query must not kill the sweep, but it must be
    // LOUD in the metric JSON, not a silent timing: round 6's fixture
    // break made 64 crashed queries read as uniform "0.1 s successes"
    // and the bench total looked 3x better than reality. Any query
    // that throws in a TIMED sweep lands here and its emitted timing
    // is forced to -1 (a value no real query can produce). Warmup
    // failures are logged but not recorded: a transient warmup flake
    // whose timed runs both succeed is a success, not a crash.
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    // SPARK_GRAFT_ONLY: comma-separated query subset (the scale-ladder
    // harness benches the top-N expensive queries at two SFs)
    val only: Option[Set[String]] =
      sys.env.get("SPARK_GRAFT_ONLY")
        .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
        .filter(_.nonEmpty) // empty/blank = no filter (all queries)
    val benchQueries = SparkEntry.queries.filter { case (n, _) => only.forall(_(n)) }
    // SPARK_GRAFT_ISOLATE=1 (the scale-ladder mode): run each query's
    // warmup + 2 timed runs CONSECUTIVELY, dropping the corpus-sized
    // memoized intermediates between queries, so no query is measured
    // under the accumulated cache pressure of every other query's
    // working set (r14 verdict #2: three rounds of ladder rows needed
    // "isolated re-measure" prose because the committed artifact
    // carried the crowded number). Same warm-min semantics per query;
    // only CROSS-query sharing is disabled.
    val isolate = sys.env.get("SPARK_GRAFT_ISOLATE").contains("1")
    // One untimed full sweep absorbs cold-path noise (GC pressure, JIT
    // compilation, shuffle-file page cache) that would otherwise be
    // charged to whichever query runs first; then two timed sweeps,
    // reporting the per-query MIN, so the emitted numbers measure the
    // query plans, not heap churn. (Round-2 single-shot timings showed
    // 7-40x noise on individual queries under re-profiling.)
    def run1(label: String, name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame,
             record: Boolean): Double = {
      val t0 = System.nanoTime()
      try { fn(spark, sfDir).count() } catch {
        case NonFatal(e) =>
          if (record) errors.getOrElseUpdate(name, e.getClass.getSimpleName)
          System.err.println(
            s"[bench:$label] $name FAILED ${e.getClass.getName}: ${e.getMessage}")
          -1L
      }
      val dt = (System.nanoTime() - t0) / 1e9
      System.err.println(f"[bench:$label] $name%-30s $dt%8.2f s")
      dt
    }
    def sweep(label: String, record: Boolean): Map[String, Double] =
      benchQueries.map { case (name, fn) =>
        name -> run1(label, name, fn, record)
      }
    val (r1, r2) =
      if (isolate) {
        val pairs = benchQueries.map { case (name, fn) =>
          Substrates.releaseHeavy(spark)
          run1("warmup", name, fn, record = false)
          val a = run1("run1", name, fn, record = true)
          val b = run1("run2", name, fn, record = true)
          (name -> a, name -> b)
        }
        (pairs.map(_._1).toMap, pairs.map(_._2).toMap)
      } else {
        sweep("warmup", record = false)
        (sweep("run1", record = true), sweep("run2", record = true))
      }
    val results = benchQueries.keys.map { k =>
      k -> (if (errors.contains(k)) -1.0 else math.min(r1(k), r2(k)))
    }.toMap
    // The driver parses this line out of the LAST 2000 chars of stdout:
    // one-decimal timings keep the ~95-query line under that budget
    // (warm-min values are short: "0.3", "1.2"). Locale.ROOT: a
    // comma-decimal default locale would corrupt the JSON.
    def num(v: Double, decimals: Int): String = {
      val s = String.format(java.util.Locale.ROOT, s"%.${decimals}f", Double.box(v))
        .replaceAll("0+$", "")
      if (s.endsWith(".")) s.dropRight(1) else s
    }
    // totals cover only the queries that ran clean — crashed ones are
    // reported via n_err/err, not blended into the wall-clock sum
    val clean = results.filterNot { case (k, _) => errors.contains(k) }
    val total = if (clean.nonEmpty) clean.values.sum else 0.0
    // timing=warm_min flags that per-query values are min-of-2 after a
    // warm-up sweep (not comparable to the r1/r2 cold single-shots);
    // run1_total preserves a cold-ish whole-sweep number for
    // cross-round comparison.
    val run1Total =
      if (r1.nonEmpty) r1.filterNot { case (k, _) => errors.contains(k) }.values.sum
      else 0.0
    // The driver parses the metric line out of the LAST 2000 chars of
    // stdout. 95 per-query entries no longer fit (round 3's 2242-char
    // line parsed as null and lost the round's bench score), so the
    // parsed line carries the 40 slowest queries — the ones that
    // matter for the 2x gate — plus totals; the full map goes to
    // stderr for human review.
    val fullQs = results.toSeq.sortBy(-_._2)
      .map { case (k, v) => s""""$k":${num(v, 1)}""" }
    System.err.println("[bench:all] " + fullQs.mkString("{", ",", "}"))
    val qs = fullQs.take(40).mkString("{", ",", "}")
    // err accounting rides the parsed line: n_err is always present
    // (0 on a healthy run, so ~10 extra chars), and up to 8 crashed
    // query names are spelled out — enough to localize a family-wide
    // break without blowing the driver's 2000-char parse window.
    val errJson = errors.take(8)
      .map { case (k, cls) => s""""$k":"$cls"""" }.mkString("{", ",", "}")
    // both lines are composed from the SAME prefix/suffix with only
    // the queries map swapped — not by string-replacing inside the
    // already-serialized line, which silently emitted a truncated
    // sidecar whenever the serialization shape drifted (the r15
    // silent-29-row ladder failure mode)
    // cpus rides the line so every committed artifact names its
    // INSTRUMENT: the r17 "unreconciled 25%" was a local[4] builder
    // number compared against the driver's local[32] run (r17
    // verdict #1) — numbers from different core counts are different
    // instruments and must never be compared as one series
    def metricLine(queriesJson: String): String =
      s"""{"metric":"total","value":${num(total, 2)},"unit":"sec","timing":"warm_min","cpus":$cpus,"run1_total":${num(run1Total, 2)},"n_queries":${results.size},"n_err":${errors.size},"err":$errJson,"queries":$queriesJson,"sf":"$sfDir"}"""
    val line = metricLine(qs)
    if (line.length > 1900)
      System.err.println(s"[bench] WARNING metric line ${line.length} chars (driver window 2000)")
    // sidecar copy for humans / tooling; stdout (now unprefixed via
    // run/outputStrategy) remains the driver's channel.
    // SPARK_GRAFT_SIDE_CAR redirects it so CONCURRENT Bench JVMs
    // (the two decade-ladder legs) don't race on one file.
    // The SIDECAR carries the FULL per-query map — only the parsed
    // stdout line truncates to 40 (driver window); round 15's first
    // full-189 ladder silently dropped to 29 rows because
    // scale_ladder read a top-40 sidecar.
    val sidecarLine = metricLine(fullQs.mkString("{", ",", "}"))
    try {
      val w = new java.io.PrintWriter(
        sys.env.getOrElse("SPARK_GRAFT_SIDE_CAR", "BENCH_LAST.json"))
      try w.println(sidecarLine) finally w.close()
    } catch { case NonFatal(_) => () }
    println(line)
    spark.stop()
  }
}
