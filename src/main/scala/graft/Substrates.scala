package graft

import scala.util.control.NonFatal

import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.datapipe.{Bpe, Clustering, Dedup, Multimodal, Ranking, Similarity, TextAnalysis}
import graft.ops.{Interp, Psd}
import graft.queries.DedupQueries.ccVerbose
import graft.queries.SimilarityQueries.{PQ_ITERS, PQ_K, PQ_M}
import graft.queries.TextQueries.{BPE_ROUNDS, piiInjected}
import graft.signal.Channels

/** The shared per-(session, dir) inputs of the query registry: the
  * events projection, the uniform resample, shingles, LSH candidates,
  * trained models and on-disk fixtures. Each is a named [[Entry]]
  * whose value is built once per (session, dir) and memoized in ONE
  * map; the entry knows how to free what its value pins (unpersist a
  * DataFrame, delete a temp path, nothing for scalars and driver
  * arrays). `release` and `releaseHeavy` derive from the entry list,
  * so a new substrate can never be missing from either.
  */
object Substrates {

  /** A memoized substrate. `free(value, blocking)` drops what the
    * value pins; `heavy` marks the corpus-sized tables `releaseHeavy`
    * drops between isolated bench queries.
    */
  final class Entry[T] private[Substrates] (val name: String, val heavy: Boolean,
      build: (SparkSession, String) => T, free: (T, Boolean) => Unit) {
    def apply(s: SparkSession, dir: String): T = {
      listenForAppEnd(s)
      memo.getOrElseUpdate((name, s, dir), build(s, dir)).asInstanceOf[T]
    }
    private[Substrates] def freeValue(v: Any, blocking: Boolean): Unit =
      try free(v.asInstanceOf[T], blocking) catch { case NonFatal(_) => () }
  }

  private val memo = scala.collection.concurrent.TrieMap.empty[(String, SparkSession, String), Any]
  private val entries = scala.collection.mutable.ArrayBuffer.empty[Entry[_]]

  private def entry[T](name: String, heavy: Boolean, free: (T, Boolean) => Unit)(
      build: (SparkSession, String) => T): Entry[T] = {
    val e = new Entry(name, heavy, build, free)
    entries += e
    e
  }
  private def cached(name: String, heavy: Boolean = false)(
      build: (SparkSession, String) => DataFrame): Entry[DataFrame] =
    entry[DataFrame](name, heavy, (df, blocking) => df.unpersist(blocking))(build)
  private def tempPath(name: String)(build: (SparkSession, String) => String): Entry[String] =
    entry[String](name, heavy = false,
      (p, _) => org.apache.commons.io.FileUtils.forceDelete(new java.io.File(p)))(build)
  private def driverSide[T](name: String)(build: (SparkSession, String) => T): Entry[T] =
    entry[T](name, heavy = false, (_, _) => ())(build)

  /** The names `SPARK_GRAFT_KEEP` may list. */
  def names: Seq[String] = entries.map(_.name).toSeq

  /** Application-end eviction (the same listener StreamingOps installs
    * for its session clones), installed once per session: a
    * long-lived process that cycles many sessions must not retain
    * DataFrames pinning stopped sessions' state. Its marker sits in
    * the memo under a name no entry uses. Spark has no session-closed
    * event, so eviction BETWEEN sessions is `release(s)`.
    */
  private val AppEnd = "<app-end listener>"
  private def listenForAppEnd(s: SparkSession): Unit =
    memo.getOrElseUpdate((AppEnd, s, ""), {
      val l = new SparkListener {
        override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit =
          drop(s, _ => true, blocking = false)
      }
      s.sparkContext.addSparkListener(l)
      l
    })

  private def drop(s: SparkSession, which: String => Boolean, blocking: Boolean): Unit = {
    val byName = entries.map(e => e.name -> e).toMap
    for ((k @ (name, owner, _)) <- memo.keys if (owner eq s) && which(name); v <- memo.remove(k))
      byName.get(name).foreach(_.freeValue(v, blocking))
  }

  /** Free every substrate of session `s` and its app-end listener —
    * the per-session release hook for long-lived applications that
    * cycle many sessions. Safe to call repeatedly; entries rebuild on
    * next use.
    */
  def release(s: SparkSession): Unit = {
    memo.get((AppEnd, s, "")).foreach(l =>
      try s.sparkContext.removeSparkListener(l.asInstanceOf[SparkListener])
      catch { case NonFatal(_) => () })
    drop(s, _ => true, blocking = false)
  }

  /** Drop the CORPUS-sized substrates (the `heavy` entries) but keep
    * the small events substrate and the scalar trained models. The
    * scale-ladder bench calls this BETWEEN queries
    * (`SPARK_GRAFT_ISOLATE=1`): at sf1 the union of every query's
    * by-design session caches crowds Tungsten execution memory and the
    * sweep measures cache pressure instead of plans — three rounds of
    * ladder artifacts needed isolated re-measure prose (q_ivf_topk r13,
    * q_kmeans r13→14, q_neardup_pairs r14). Each query's own warmup run
    * rebuilds what it needs; its timed runs then measure the query
    * against ONLY its own working set.
    *
    * SPARK_GRAFT_KEEP: comma-separated entry names EXEMPT from the
    * drop. Rebuilding a shared INPUT table (e.g. the 250M-row sf10
    * shingle-hash table, ~20 min at 4 cpus) inside every query's
    * untimed warmup measures nothing — the timed runs hit the cache
    * either way — so the decade-rung legs keep `shingles` the way
    * every leg keeps the events projection. The r14 isolation lesson
    * (don't measure under ACCUMULATED cache pressure) still holds:
    * keep only bounded shared inputs, never per-query intermediates.
    */
  def releaseHeavy(s: SparkSession): Unit =
    releaseHeavy(s, sys.env.get("SPARK_GRAFT_KEEP")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .getOrElse(Set.empty[String]))

  private[graft] def releaseHeavy(s: SparkSession, keep: Set[String]): Unit = {
    // a typo'd KEEP name would be silently ignored and the table
    // dropped anyway — reintroducing the ~20-min shingle rebuild the
    // option exists to avoid, with no diagnostic
    (keep -- names).foreach(k => System.err.println(
      s"[graft] WARNING: SPARK_GRAFT_KEEP entry '$k' matches no substrate " +
        s"(known: ${names.sorted.mkString(", ")}) — it is ignored"))
    val heavy = entries.filter(_.heavy).map(_.name).toSet -- keep
    drop(s, heavy, blocking = true)
  }

  /** Untimed warm-up for Bench: materialize the shared cached inputs
    * (events projection, uniform resample, Welch sub-PSD tables,
    * document shingles, term counts) so no measured query absorbs a
    * cache fill that several others reuse.
    */
  def warm(s: SparkSession, dir: String): Unit = {
    warmRetained(s, dir)
    welchRmsBase(s, dir).count()
    docShingles(s, dir).count()
    docTermCounts(s, dir).count()
    pngs(s, dir).count()
    lshCands(s, dir).count()
  }

  /** Isolate-mode warm-up: ONLY the caches `releaseHeavy` retains
    * (the events projection and its uniform resample). Everything
    * else `warm` builds is dropped again before the first measured
    * query even starts, so building it is pure waste — and at the
    * sf10 decade rung that waste was ~10 min of synthetic-PNG
    * encoding for a subset with no media query in it.
    */
  def warmRetained(s: SparkSession, dir: String): Unit = {
    ev(s, dir).count()
    evUniform(s, dir).count()
  }

  // ---- entries -----------------------------------------------------------

  /** True when the table's scan already parallelizes adequately — a
    * production-shaped table (many files; the v5 fixtures) needs no
    * substrate repartition, and paying one anyway re-shuffles the
    * corpus for nothing. A single-FILE fixture (the driver's
    * testdata) lands in 1-2 byte-range partitions no matter its
    * row-group count — only there do the substrates below reshape.
    */
  private def scanIsParallel(s: SparkSession, df: DataFrame): Boolean =
    df.rdd.getNumPartitions * 2 >= s.sparkContext.defaultParallelism
  /** Partition count for reshaping a SINGLE-FILE table: enough to
    * spread the heavy per-row kernels, but never more than the data
    * supports. Blindly reshaping a 2,000-row model table to 32
    * partitions puts ~60 rows in each task, and the per-stage
    * scheduling overhead (x24 Lloyd stages in one PQ training) costs
    * more than the parallelism returns at the driver's fixture
    * scales. Sized from BOTH the measured row count (>=256 rows per
    * partition — the table is about to be cached anyway, so the
    * extra count scan is paid once per session) and the file's
    * compressed bytes (>=512 KB per partition — the long-document
    * fixture is few rows but hundreds of kB per row, and row count
    * alone would single-thread its shingle kernels), floored at 2 so
    * the reshaped path is always exercised, capped at the session's
    * parallelism.
    */
  private def reshapeParts(s: SparkSession, rows: Long, bytes: Long): Int =
    math.max(2, math.min(s.sparkContext.defaultParallelism.toLong,
      math.max((rows + 255) / 256, bytes / (512L << 10)))).toInt
  /** Documents substrate. Production-shaped tables pass through as
    * the raw scan (pruning/pushdown reach parquet per consumer, no
    * shuffle). On a single-file fixture the heavy per-doc kernels
    * (shingling, tokenize regexes) would run at scan parallelism 1:
    * one round-robin shuffle restores parallelism, and the result is
    * session-CACHED so the corpus-text shuffle is paid once, not per
    * substrate build (the r16 bench regression: an uncached
    * repartition here re-shuffled the full corpus text on every
    * consumer query — 131.5 s → 155.5 s over the sweep).
    */
  val docs = cached("docs") { (s, dir) =>
    val raw = s.read.parquet(s"$dir/documents.parquet")
    if (scanIsParallel(s, raw)) raw
    else raw.repartition(reshapeParts(s, raw.count(),
      new java.io.File(s"$dir/documents.parquet").length())).cache()
  }
  /** Embeddings substrate, session-cached (and repartitioned first if
    * the scan is single-file-shaped). Two hazards meet here (both
    * measured on the r16 sf10 gate): (1) the single-file fixture
    * compresses to ~5 MB, so BYTE-based scan splitting gives 1-2
    * partitions no matter the row-group count; (2) a bare repartition
    * is not enough, because Catalyst pushes inferred predicates
    * (IsNotNull over the interpreted zip_with/aggregate distance
    * expressions) BELOW the repartition, single-threading the heavy
    * evaluation on the scan side — the same
    * substituted-into-inferred-filters failure Dedup.explodedBandKeys
    * documents for band keys. The memoized cache (the docShingles
    * precedent) materializes the layout as an InMemoryRelation:
    * pushdown stops at the cache and every consumer evaluates its
    * interpreted distance expressions at full parallelism — which is
    * why the CACHE stays on even for production-shaped tables whose
    * repartition is skipped (the table is model-sized; its consumers
    * are the interpreted-expression-heaviest plans in the engine).
    * Training outputs remain oracle-safe: trained literals are dumped
    * from the same run, so sub-ulp float-accumulation drift from a
    * different partition layout cannot split engine and oracle.
    */
  val emb = cached("emb") { (s, dir) =>
    val raw = s.read.parquet(s"$dir/embeddings.parquet")
    val shaped = if (scanIsParallel(s, raw)) raw
      else raw.repartition(reshapeParts(s, raw.count(),
        new java.io.File(s"$dir/embeddings.parquet").length()))
    shaped.cache()
  }

  /** The events channel projection. Verify/Bench read it from the
    * cache (PLANS.md "known accepted deviations": 50 queries
    * re-scanning the loader would measure scan amortization, not
    * plans).
    */
  val ev = cached("events")((s, dir) => Channels.events(s, dir).cache())

  /** events channels resampled to a uniform 1/3600 Hz grid — the
    * constant-rate substrate for the samplerate-dependent kernels.
    * Ten kernel queries share it, so the resample shuffle runs once
    * per bench/verify session.
    */
  val evUniform = cached("uniform")((s, dir) =>
    Interp.resample(ev(s, dir), 1.0 / 3600.0, "linear").cache())

  /** The DSv2-WRITTEN fixture: the uniform channels, renumbered to
    * integer ids in sorted-name order, written through
    * `Ide.write` (cluster-by-ch + (ch, t, sub) sort inserted by the
    * engine, one rollover file per partition) — what
    * k_ide_write_roundtrip reads back. Channel names become the
    * writer's inferred `ch<k>`, which the oracle reproduces with a
    * dense_rank over the sorted channel names. The directory is
    * deleted on release (`deleteOnExit` cannot delete a non-empty
    * directory).
    */
  val ideWriteFixture = tempPath("idewrite") { (s, dir) =>
    val names = evUniform(s, dir).select("channel").distinct()
      .collect().map(_.getString(0)).sorted
    import s.implicits._
    val ids = names.zipWithIndex.map { case (n, i) => (n, i) }
      .toSeq.toDF("channel", "ch")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("channel").orderBy("t")
    val df = evUniform(s, dir)
      .withColumn("rn", row_number().over(w))
      .join(broadcast(ids), Seq("channel"))
      .select(col("ch"), lit(0).as("sub"),
        ((col("rn") - 1) / lit(1000.0)).as("t"), col("v").cast("double").as("v"))
    val d = java.nio.file.Files.createTempDirectory("graft_ide_w").toFile
    graft.signal.Ide.write(df, d.getAbsolutePath, timeBaseUs = 1700000000000000L)
    d.getAbsolutePath
  }

  /** The native `.ide` fixture: every uniform channel sunk once per
    * (session, dir) through [[graft.sources.IdeSink]] at a 1 kHz
    * frame re-index (the WAV-roundtrip convention), multi-block so
    * the read path exercises block-group splits and pruning. Channel
    * ids are assigned in sorted-name order; units derive from the
    * name so the DuckDB oracle can reproduce them.
    */
  val ideFixture = tempPath("ide") { (s, dir) =>
    val byCh = evUniform(s, dir)
      .orderBy("channel", "t")
      .select(col("channel"), col("v").cast("double"))
      .collect()
      .groupBy(_.getString(0)).view.mapValues(_.map(_.getDouble(1))).toMap
    val chans = byCh.keys.toSeq.sorted.zipWithIndex.map { case (name, id) =>
      graft.sources.IdeSink.Ch(id, name, 1000.0, graft.sources.MideSchema.FmtFloat64,
        Seq(graft.sources.IdeSink.Sub(name, s"${name}_u")),
        byCh(name).map(Array(_)), blockFrames = 256)
    }
    val f = java.io.File.createTempFile("graft_bench_", ".ide")
    f.deleteOnExit()
    graft.sources.IdeSink.write(f.getAbsolutePath, 1700000000000000L, chans)
    f.getAbsolutePath
  }

  /** The default Welch sub-PSD table (432000 s hann windows over the
    * uniform grid): five summarize modes are pure aggregations over
    * it, so the segment-explode + FFT pipeline runs once —
    * materialized-intermediate reuse, the batch analog of a
    * materialized view.
    */
  val welchRmsBase = cached("welch", heavy = true)((s, dir) =>
    Psd.welchAllWithSegRms(evUniform(s, dir), 432000.0).cache())

  /** Document shingle hashes (doc_id, h1, h2): minhash, LSH and
    * Jaccard all start from this table, so the normalize/explode/md5
    * work happens once.
    */
  val docShingles = cached("shingles", heavy = true)((s, dir) =>
    Dedup.shingleHashes(Dedup.shingles(docs(s, dir), distinct = false)).cache())

  /** The real-PNG media corpus: the pixel aHash and the
    * executed-resize queries decode the identical payloads — encoding
    * the corpus once is the same materialized-intermediate reasoning
    * as docShingles (and at production scale the bytes column is a
    * table, not an encode).
    */
  val pngs = cached("pngs", heavy = true)((s, dir) =>
    Multimodal.syntheticPngs(docs(s, dir)).cache())

  /** LSH candidate pairs over the shared shingle table: the near-dup
    * count query and the connected-components query both consume the
    * identical candidate list — same materialized-intermediate
    * reasoning as docShingles. The cache stores the COUNTED form (a,
    * b, n_bands) — same shuffle as the distinct form, and the
    * collision count is the free similarity evidence the bounded
    * top-k surface ranks by; the 2-column view every other consumer
    * reads is a projection.
    */
  val lshCandsCounted = cached("lshcands", heavy = true)((s, dir) =>
    Dedup.lshCandidatesCounted(
      Dedup.minhashSignaturesFromHashes(docShingles(s, dir), k = 16),
      rowsPerBand = 4).cache())
  def lshCands(s: SparkSession, dir: String): DataFrame =
    lshCandsCounted(s, dir).select("a", "b")

  /** Candidate-touched doc count of the shared LSH candidate table:
    * the Jaccard-verify join-strategy gate needs this ONE number, and
    * round 6 re-aggregated it at every verify query's plan-build (3x
    * per bench sweep, ~2x wall time on q_containment/q_neardup_pairs).
    * Count once per shared table, hand the hint to every verifier of
    * that table.
    */
  val lshCandDocs = driverSide("lshcanddocs") { (s, dir) =>
    val c = lshCands(s, dir)
    c.select(col("a")).union(c.select(col("b"))).distinct().count()
  }

  /** Corpus row count — a conservative UPPER bound on
    * candidate-touched docs for verify stages whose pair list is
    * query-specific (q_ngram_jaccard): an upper bound can only flip
    * the gate toward the shuffle join, never force an oversized
    * broadcast, so it is always safe to pass.
    */
  val docCount = driverSide("doccount")((s, dir) => docs(s, dir).count())

  /** Trained int8-quantization ranges (per-dimension min/max over the
    * embedding table) — train once, encode many, the same pattern as
    * the IVF centroids; 2·64 doubles on the driver.
    */
  val quantRanges = driverSide("quantranges")((s, dir) =>
    Similarity.dimRanges(emb(s, dir), dims = 64))

  /** Trained PQ codebooks (m sub-spaces x k centroids over the 64-dim
    * embeddings, SimilarityQueries.PQ_ITERS Lloyd iterations per
    * sub-quantizer) — train once, encode/search many; k*dims doubles
    * on the driver, same payload as one flat k-means.
    */
  val pqBooks = driverSide("pq")((s, dir) =>
    Similarity.pqCodebooks(emb(s, dir), m = PQ_M, k = PQ_K, iters = PQ_ITERS, dims = 64))

  /** RESIDUAL PQ codebooks (FAISS IndexIVFPQ): same m/k/iters budget,
    * but trained on x − c(list) against the TRAINED coarse quantizer.
    */
  val rpqBooks = driverSide("rpq")((s, dir) =>
    Similarity.residualPqCodebooks(emb(s, dir), trainedCents(s, dir),
      m = PQ_M, k = PQ_K, iters = PQ_ITERS, dims = 64))

  /** OPQ rotation + codebooks over the residual table (FAISS
    * OPQMatrix-before-IndexIVFPQ): same m/k/iters budget as the
    * residual fit plus the learned orthogonal rotation; the extra
    * driver payload is one dims×dims matrix.
    */
  val opqFit = driverSide("opq")((s, dir) =>
    Similarity.opqResidualTrain(emb(s, dir), trainedCents(s, dir),
      m = PQ_M, k = PQ_K, iters = PQ_ITERS, dims = 64,
      alternations = 3))

  /** The trained BPE merge list: the encode and token-count queries
    * both replay it, and training is the expensive sequential part
    * (one driver top-1 per round).
    */
  val bpeMergeList = driverSide("bpemerges")((s, dir) =>
    Bpe.merges(docTermCounts(s, dir), rounds = BPE_ROUNDS)
      .orderBy("round").collect().map(r => (r.getString(1), r.getString(2))).toSeq)

  /** The PII-scrubbed corpus (benchmark holdout removed, synthetic
    * PII injected then redacted): the curation pipeline's quality
    * gate, repetition gate and mixture decision all read this ONE
    * text projection — the scrub regexes run once, not once per
    * consumer (the composition hazard the shared-shingle memo already
    * guards against for dedup).
    */
  val redactedCorpus = cached("redacted", heavy = true)((s, dir) =>
    TextAnalysis.redactPii(
        piiInjected(docs(s, dir).filter(col("doc_id") % 97 =!= 0)),
        keep = Seq("lang"))
      .select(col("doc_id"), col("lang"),
        (col("n_email") + col("n_ip") + col("n_num")).cast("long").as("n_pii"),
        col("redacted")).cache())

  /** Near-dup components over the shared candidate list — the
    * compute-once/read-many split a production pipeline uses:
    * q_dedup_keep (and any other consumer) reads this memoized table,
    * while q_dedup_components deliberately bypasses it so the bench
    * always times the real fixpoint iteration.
    */
  val dedupComponents = cached("components", heavy = true)((s, dir) =>
    Dedup.connectedComponents(lshCands(s, dir), maxIters = SparkEntry.CC_ORACLE_ROUNDS,
      verbose = ccVerbose).cache())

  /** Trained IVF quantizer (k=16, 2 Lloyd iterations over the
    * embedding table): the trained search, the occupancy diagnostic,
    * and the probe sweep all consume the SAME fit —
    * train-once/search-many, the production pattern (and 2 corpus
    * passes instead of 6 per verify/bench session). Driver-side
    * k·dims doubles, so the entry is tiny.
    */
  val trainedCents = driverSide("cents")((s, dir) =>
    Clustering.kmeansCentroids(emb(s, dir), k = 16, iters = 2, dims = 64))

  /** Per-(doc, term) frequency table: the TF-IDF and BM25 queries both
    * branch from it several times (tf side, docFreq side, doc-length
    * side), and Spark won't share the tokenize/explode lineage across
    * branches — materializing it runs the corpus tokenization exactly
    * once.
    */
  val docTermCounts = cached("terms", heavy = true)((s, dir) =>
    Ranking.termCounts(docs(s, dir)).cache())
}
