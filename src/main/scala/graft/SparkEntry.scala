package graft

import org.apache.spark.sql.{SparkSession, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.signal.{Channels, Signal, Spectrum}
import graft.datapipe.{Bpe, Clustering, Dedup, Multimodal, Packing, Ranking, Sampling, Sessions, Similarity, Sketches, Skew, TextAnalysis}
import graft.ops.{Interp, Kernels, Psd}
import graft.Substrates.{bpeMergeList, dedupComponents, docCount, docShingles, docTermCounts, docs, emb,
  ev, evUniform, ideFixture, ideWriteFixture, lshCandDocs, lshCands, lshCandsCounted, opqFit, pngs,
  pqBooks, quantRanges, redactedCorpus, rpqBooks, trainedCents, welchRmsBase}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every SQL-expressible operator has BOTH a `queries` entry and an
  * `oracleSql` entry (DuckDB, same parquet tables); kernel operators
  * (FFT, IIR, rainflow, LSH joins, media decode) are rows-only.
  *
  * Numeric parity strategy: time axes are derived from integer
  * microseconds (exact in both engines); per-row arithmetic is left
  * unrounded (IEEE-identical); ordered/grouped float aggregations are
  * rounded to a precision far coarser than cross-engine summation
  * error (see the per-query notes).
  */
object SparkEntry {

  // ---- shared loaders ----------------------------------------------------

  private def li(s: SparkSession, dir: String) = s.read.parquet(s"$dir/lineitem.parquet")
  private def ord(s: SparkSession, dir: String) = s.read.parquet(s"$dir/orders.parquet")
  private def cust(s: SparkSession, dir: String) = s.read.parquet(s"$dir/customer.parquet")
  private def nat(s: SparkSession, dir: String) = s.read.parquet(s"$dir/nation.parquet")
  private def reg(s: SparkSession, dir: String) = s.read.parquet(s"$dir/region.parquet")

  /** FIXED evaluation panel for the recall/similarity harnesses:
    * every 25th vector, capped to the base-universe id range. At the
    * driver's fixture scales every id is below the cap, so the
    * predicate is identical to the historical `% 25 == 0` and every
    * oracle stays byte-for-byte; at the GenScale ladder fixtures
    * (ids strided by 10^7 per clone) the panel stays CONSTANT while
    * the corpus grows — the statistically right eval design, and the
    * fix for the r9 ladder's ~1.8 exponents (probe count growing
    * with the corpus made harness work scale as corpus × probes).
    */
  private[graft] val PROBE_CAP = 10000000L
  private def probePanel = col("vec_id") % 25 === 0 && col("vec_id") < PROBE_CAP
  private def rawEvents(s: SparkSession, dir: String) = Channels.rawEvents(s, dir)

  /** The plain sub-PSD view is the seg_rms table minus one column —
    * derive it instead of materializing the FFT pipeline twice.
    */
  private def welchBase(s: SparkSession, dir: String): DataFrame =
    welchRmsBase(s, dir).drop("seg_rms")

  /** Decoded pixel-aHash table over the PNG corpus, built FRESH per
    * call (the r18 cross-run memo made the consumer's bench number a
    * cache read — r18 verdict #1): the decode is part of what
    * q_pair_dedup computes. Locally checkpointed so the ONE plan's two
    * consumers of the signature table (the per-media row and the
    * phash-grouped representative side of the self-join) share a
    * single decode pass instead of decoding the corpus twice per call.
    */
  private def pixelPhashesFresh(s: SparkSession, dir: String): DataFrame =
    Multimodal.pixelPhash(pngs(s, dir))
      .select(col("media_id"), col("phash")).localCheckpoint(false)

  /** Per-doc sorted distinct-shingle arrays for the candidate-touched
    * docs of the SHARED LSH candidate table (Dedup.candidateSets),
    * built FRESH per call (the r18 cross-run memo made the pair-verify
    * bench numbers cache reads — r18 verdict #1). Locally checkpointed
    * so the ONE plan's two join sides (a-side and b-side broadcast
    * builds) share a single set build instead of planning the
    * sort_array(collect_set) subtree twice per call (plan-audited r18:
    * two ObjectHashAggregate towers per query without sharing).
    */
  private def freshCandSets(s: SparkSession, dir: String): DataFrame =
    Dedup.candidateSets(docShingles(s, dir), lshCands(s, dir),
      neededDocsHint = Some(lshCandDocs(s, dir))).localCheckpoint(false)

  /** Per-round CC convergence/timing trace on stderr, opt-in via
    * GRAFT_CC_VERBOSE=1 — the tuning dial for maxIters and the
    * flat-per-round-wall-time check, without a code edit.
    */
  private[graft] def ccVerbose: Boolean = sys.env.contains("GRAFT_CC_VERBOSE")

  /** BROADCAST benchmark shingle-hash set (distinct h1 of the doc_id
    * % 97 == 0 eval slice), built FRESH per call — collecting the
    * blocklist is part of what the streaming decontamination/curation
    * queries compute (the r18 cross-run memo hid it from the timed
    * runs — r18 verdict #1; it was also keyed on the streaming clone
    * session, bypassing release()'s staleness sweep — r18 advice).
    * Built over the SHARED docShingles substrate instead of a private
    * corpus re-scan: shingling is per-row, so filtering the shingle
    * table by doc_id yields the identical distinct-h1 set as shingling
    * the filtered corpus — exactly the table the batch q_decontaminate
    * benchmark side reads.
    */
  private def benchShingleSetOf(s: SparkSession, dir: String):
      org.apache.spark.broadcast.Broadcast[Set[Long]] = {
    import s.implicits._
    s.sparkContext.broadcast(
      docShingles(s, dir).filter(col("doc_id") % 97 === 0)
        .select(col("h1")).distinct().as[Long].collect().toSet)
  }

  /** Exact brute-force top-10 ground truth over the fixed probe
    * panel, built FRESH per call: the truth pass is part of what each
    * recall query computes (the r18 cross-run memo made the five
    * recall queries' bench numbers cache reads — r18 verdict #1).
    * Locally checkpointed so the 2-3 recall legs WITHIN one query's
    * plan share a single brute-force pass instead of recomputing it
    * per leg. q_cosine_topk, whose OUTPUT is the brute-force scan,
    * keeps computing fresh with no checkpoint.
    */
  private def freshAnnTruth(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    Similarity.bruteForceTopK(e, e.filter(probePanel), k = 10)
      .select(col("query_id"), col("neighbor_id")).localCheckpoint(false)
  }

  /** PQ training budget shared by the trained codebook substrates
    * (Substrates.pqBooks/rpqBooks/opqFit) and the queries that
    * encode and search with them.
    */
  private[graft] val PQ_M = 8
  private[graft] val PQ_SUB = 8 // 64 / PQ_M
  private[graft] val PQ_K = 32
  private[graft] val PQ_ITERS = 3

  /** Target training-mix weights (parts per group) — shared by the
    * standalone q_mix_resample and the composed curation pipeline so
    * the two stages can never drift apart.
    */
  private val MIX_WEIGHTS =
    Map("en" -> 40L, "fr" -> 20L, "de" -> 20L, "es" -> 15L, "zh" -> 5L)

  /** Per-query recall@k of `approx` against the exact `truth` pair
    * set — exact long counts, ONE division at the end (shared by
    * q_ann_recall and q_ann_int8_recall).
    */
  private def recallPerQuery(truth: DataFrame, approx: DataFrame,
                             name: String): DataFrame =
    truth.join(
        approx.select(col("query_id"), col("neighbor_id"), lit(1).as("hit")),
        Seq("query_id", "neighbor_id"), "left")
      .groupBy("query_id")
      .agg(count(lit(1)).as("n_true"),
        sum(coalesce(col("hit"), lit(0))).cast("long").as("n_hits"))
      .select(lit(name).as("method"), col("query_id"), col("n_true"),
        col("n_hits"), round(col("n_hits") / col("n_true"), 6).as("recall"))

  /** Deterministic synthetic-PII injection shared by the batch and
    * streaming redaction queries (the fixtures carry no real PII):
    * every 10th doc gains an email, an IPv4 and a long digit run.
    * Pure projection, so the same expression composes under
    * readStream unchanged.
    */
  private def piiInjectExpr: org.apache.spark.sql.Column =
    when(col("doc_id") % 10 === 0,
      concat(col("text"), lit(" reach user"), col("doc_id").cast("string"),
        lit("@example.com or 10.20."),
        (col("doc_id") % 200 + 1).cast("string"),
        lit(".7 acct 90210"), col("doc_id").cast("string"), lit("1 done")))
      .otherwise(col("text"))
  private[graft] def piiInjected(d: DataFrame): DataFrame =
    d.select(col("doc_id"), col("lang"), piiInjectExpr.as("text"))

  /** Degenerate dedup fixture: the first 10 documents plus 50 clones
    * of doc 0's text (doc_ids 1000-1049) — a boilerplate cluster that
    * overflows a maxBucket = 8 band bucket, exercising the
    * oversized-bucket guard in `Dedup.lshCandidates`.
    */
  private def cloneFixture(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    d.filter(col("doc_id") < 10).select(col("doc_id"), col("text"))
      .unionAll(d.filter(col("doc_id") === 0)
        .select(explode(sequence(lit(1000L), lit(1049L))).as("doc_id"), col("text")))
  }

  /** Test hook: run connected components FRESH on this dir's real
    * candidate graph and return (labels, rounds-to-converge). Unlike
    * reading `Dedup.lastCcRounds` after a memoized query, the round
    * count is tied to THIS run — immune to whichever CC run a
    * sibling suite happened to execute last.
    */
  private[graft] def ccConvergence(s: SparkSession, dir: String): (DataFrame, Int) =
    Dedup.connectedComponentsCounted(lshCands(s, dir), maxIters = CC_ORACLE_ROUNDS)

  /** The corpus LSH band table persisted through the session catalog
    * (spark-warehouse) as a table BUCKETED BY (band, sig) — the
    * production admission pattern: the corpus band table is written
    * ONCE and newly arriving documents probe it. A bucketed scan
    * means the (corpus-sized) static side of the (band, sig)
    * equi-join needs NO Exchange — only the small probe side shuffles
    * to the bucket count (plan-asserted in Round6Spec). Written once
    * per (context, dir) per process; catalog tables live in the
    * context-shared external catalog, so the streaming session clone
    * reads what the root session wrote.
    */
  private val bandTables = scala.collection.concurrent.TrieMap
    .empty[(org.apache.spark.SparkContext, String), String]
  private def tableSuffix(dir: String): String =
    dir.replaceAll("[^a-zA-Z0-9]+", "_").replaceAll("^_+|_+$", "")

  /** Drop a possibly-stale catalog table AND its warehouse location:
    * a previous process may have left the data directory behind while
    * this process's in-memory catalog has no entry for it, in which
    * case saveAsTable would refuse the "new" table's location.
    */
  private def dropStaleTable(s: SparkSession, name: String): Unit = {
    s.sql(s"DROP TABLE IF EXISTS $name")
    val wh = s.conf.get("spark.sql.warehouse.dir")
    val path = new org.apache.hadoop.fs.Path(s"$wh/$name")
    val fs = path.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(path)) fs.delete(path, true)
  }

  private[graft] def persistedBandTable(s: SparkSession, dir: String): String =
    bandTables.getOrElseUpdate((s.sparkContext, dir), {
      val name = s"graft_bands_${tableSuffix(dir)}"
      dropStaleTable(s, name)
      Dedup.lshBands(Dedup.minhashSignaturesFromHashes(docShingles(s, dir), k = 16))
        // pre-shuffle to the bucket layout so the write emits one
        // file per bucket instead of (tasks x buckets) fragments
        .repartition(8, col("band"), col("sig"))
        .write.mode("overwrite").bucketBy(8, "band", "sig").sortBy("band", "sig")
        .saveAsTable(name)
      name
    })

  /** The near-dup components table persisted alongside the band
    * table — the second static half of the streaming admission loop
    * (q_stream_admit): partner docs found through the band probe are
    * mapped to their cluster representative without recomputing the
    * fixpoint on the stream's session.
    */
  private val componentTables = scala.collection.concurrent.TrieMap
    .empty[(org.apache.spark.SparkContext, String), String]
  private[graft] def persistedComponentsTable(s: SparkSession, dir: String): String =
    componentTables.getOrElseUpdate((s.sparkContext, dir), {
      val name = s"graft_components_${tableSuffix(dir)}"
      dropStaleTable(s, name)
      dedupComponents(s, dir).select(col("doc_id"), col("component"))
        .write.mode("overwrite").saveAsTable(name)
      name
    })

  /** Persisted state for the INCREMENTAL admission loop
    * (q_stream_admit_incr): band table + cluster assignment of the
    * "already ingested" corpus slice (doc_id % 10 == 0 — chosen so
    * the streamed remainder contains whole near-dup clusters with NO
    * persisted member, the exact case the stream-static admit misses).
    * Both live in the session catalog so the streaming clone session
    * reads them by name inside foreachBatch.
    */
  private val incrStateTables = scala.collection.concurrent.TrieMap
    .empty[(org.apache.spark.SparkContext, String), (String, String)]
  private[graft] def persistedIncrTables(s: SparkSession, dir: String): (String, String) =
    incrStateTables.getOrElseUpdate((s.sparkContext, dir), {
      val bName = s"graft_incr_bands_${tableSuffix(dir)}"
      val cName = s"graft_incr_comps_${tableSuffix(dir)}"
      dropStaleTable(s, bName); dropStaleTable(s, cName)
      val pers = docs(s, dir).filter(col("doc_id") % 10 === 0)
      val sigs = Dedup.minhashSignaturesFromHashes(
        Dedup.shingleHashes(Dedup.shingles(pers, distinct = false)), k = 16).cache()
      Dedup.lshBands(sigs)
        .repartition(8, col("band"), col("sig"))
        .write.mode("overwrite").bucketBy(8, "band", "sig").sortBy("band", "sig")
        .saveAsTable(bName)
      val comp = Dedup.connectedComponents(
        Dedup.lshCandidates(sigs), maxIters = CC_ORACLE_ROUNDS)
      pers.select(col("doc_id"))
        .join(comp.select(col("doc_id"), col("component")), Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("component"), col("doc_id")).as("cluster"))
        .write.mode("overwrite").saveAsTable(cName)
      sigs.unpersist(blocking = false)
      (bName, cName)
    })

  /** The DuckDB view of the same channel model (µs-exact). */
  private val SRC =
    """src AS (
      |  SELECT event_type AS channel,
      |         (epoch_us(ts) - min(epoch_us(ts)) OVER (PARTITION BY event_type)) / 1000000.0 AS t,
      |         value AS v
      |  FROM events
      |)""".stripMargin

  /** Sessionized event log (8 h gap), shared by the session oracles.
    * Mirrors Sessions.sessionize: lag + running sum over the per-user
    * (ts, event_id)-ordered window, exact integer microseconds.
    */
  private val SESS =
    """e AS (
      |  SELECT event_id, user_id, value, epoch_us(ts) AS us,
      |         lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS prev
      |  FROM events
      |),
      |sess AS (
      |  SELECT event_id, user_id, us, value,
      |         CAST(sum(CASE WHEN prev IS NULL OR us - prev > 28800000000 THEN 1 ELSE 0 END)
      |           OVER (PARTITION BY user_id ORDER BY us, event_id
      |                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
      |  FROM e
      |)""".stripMargin

  /** Per-(doc, term) frequencies — the shared base of the TF-IDF and
    * BM25 oracles (mirrors Ranking.termCounts).
    */
  private val TERM_COUNTS =
    """tc AS (
      |  SELECT doc_id, g AS term, count(*) AS tf
      |  FROM (SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS g
      |        FROM documents)
      |  GROUP BY doc_id, g
      |)""".stripMargin

  /** HLL estimator CTE chain replaying Sketches.hllRegisters +
    * hllEstimate bit-for-bit: `src` must expose columns ($grp, k);
    * yields a relation ($grp, hll_est). The α·m² literal is folded in
    * Scala (Double.toString round-trips, so DuckDB parses the
    * identical double); the harmonic sum stays integer (1 << (R−M))
    * with R = 53 − log2(m) threaded from Sketches.hllMaxRank exactly
    * as the Spark side does (r13 advice: a hardcoded 45 is only right
    * for m=256 and deflated the m=64 raw-regime estimate ~4×).
    */
  private def hllSql(src: String, grp: String, m: Int): String = {
    val aM2 = Sketches.alpha(m) * m * m
    val r = Sketches.hllMaxRank(m)
    val pR = 1L << r
    s"""hreg AS (
       |  SELECT $grp, h % $m AS j,
       |         max(CASE WHEN h // $m = 0 THEN $r
       |                  ELSE $r - length(bin(h // $m)) END) AS M
       |  FROM (SELECT $grp,
       |               ('0x' || substr(md5('hll:' || k), 1, 13))::BIGINT AS h
       |        FROM $src)
       |  GROUP BY $grp, h % $m
       |),
       |hagg AS (
       |  SELECT $grp, count(*) AS n_reg,
       |         sum(1::BIGINT << ($r - M)) AS s_int
       |  FROM hreg GROUP BY $grp
       |),
       |hll AS (
       |  SELECT $grp,
       |         round(CASE WHEN raw <= ${2.5 * m} AND v > 0
       |                    THEN ${m.toDouble} * ln(${m.toDouble} / v)
       |                    ELSE raw END, 4) AS hll_est
       |  FROM (SELECT $grp, ($m - n_reg) AS v,
       |               $aM2 / ((s_int + ($m - n_reg) * $pR)::DOUBLE
       |                       / ${pR.toDouble}) AS raw
       |        FROM hagg)
       |)""".stripMargin
  }

  private lazy val hllDistinctSql =
    s"""WITH f AS (SELECT source, md5($normSql) AS k FROM documents),
       |${hllSql("f", "source", 256)},
       |exact AS (SELECT source, count(DISTINCT k) AS n_exact FROM f GROUP BY source)
       |SELECT source, n_exact, hll_est FROM exact JOIN hll USING (source)""".stripMargin

  private lazy val hllStreamSql =
    s"""WITH f AS (SELECT source, md5($normSql) AS k FROM documents),
       |${hllSql("f", "source", 256)}
       |SELECT source, hll_est FROM hll""".stripMargin

  private lazy val hllUsersSql =
    s"""WITH f AS (SELECT event_type, CAST(user_id AS VARCHAR) AS k FROM events),
       |${hllSql("f", "event_type", 64)},
       |exact AS (SELECT event_type, count(DISTINCT k) AS n_exact FROM f GROUP BY event_type)
       |SELECT event_type, n_exact, hll_est FROM exact JOIN hll USING (event_type)""".stripMargin

  private lazy val cmsHeavySql =
    s"""WITH $TERM_COUNTS,
       |agg AS (SELECT term, CAST(sum(tf) AS BIGINT) AS exact_cnt FROM tc GROUP BY term),
       |cand AS (SELECT term, exact_cnt FROM agg
       |         ORDER BY exact_cnt DESC, term ASC LIMIT 20),
       |cells AS (
       |  SELECT i,
       |         ('0x' || substr(md5('cms' || CAST(i AS VARCHAR) || ':' || term), 1, 13))::BIGINT
       |           % 1024 AS b,
       |         CAST(sum(tf) AS BIGINT) AS c
       |  FROM tc CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS i)
       |  GROUP BY 1, 2
       |),
       |probe AS (
       |  SELECT term, i,
       |         ('0x' || substr(md5('cms' || CAST(i AS VARCHAR) || ':' || term), 1, 13))::BIGINT
       |           % 1024 AS b
       |  FROM (SELECT term FROM cand) CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS i)
       |),
       |est AS (SELECT term, min(c) AS cms_est FROM probe JOIN cells USING (i, b) GROUP BY term)
       |SELECT cand.term, exact_cnt, cms_est, cms_est >= exact_cnt AS overest_ok
       |FROM cand JOIN est USING (term)""".stripMargin

  private lazy val gopherRulesSql =
    """WITH t AS (
      |  SELECT doc_id, text,
      |         regexp_split_to_array(trim(lower(text)), '\s+') AS toks
      |  FROM documents WHERE text IS NOT NULL),
      |m AS (
      |  SELECT doc_id,
      |         CAST(len(toks) AS BIGINT) AS n,
      |         CAST(list_aggregate(list_transform(toks, w -> len(w)), 'sum') AS BIGINT) AS totlen,
      |         CAST(len(list_filter(toks, w -> regexp_matches(w, '[a-z]'))) AS BIGINT) AS alpha,
      |         CAST(len(regexp_extract_all(text, '#|\.\.\.|…')) AS BIGINT) AS symbols,
      |         (CASE WHEN list_contains(stripped, 'the') THEN 1 ELSE 0 END
      |        + CASE WHEN list_contains(stripped, 'be') THEN 1 ELSE 0 END
      |        + CASE WHEN list_contains(stripped, 'to') THEN 1 ELSE 0 END
      |        + CASE WHEN list_contains(stripped, 'of') THEN 1 ELSE 0 END
      |        + CASE WHEN list_contains(stripped, 'and') THEN 1 ELSE 0 END
      |        + CASE WHEN list_contains(stripped, 'that') THEN 1 ELSE 0 END
      |        + CASE WHEN list_contains(stripped, 'have') THEN 1 ELSE 0 END
      |        + CASE WHEN list_contains(stripped, 'with') THEN 1 ELSE 0 END) AS stops
      |  FROM (SELECT *, list_transform(toks, w -> regexp_replace(w, '[^a-z]', '', 'g')) AS stripped
      |        FROM t))
      |SELECT doc_id, n AS n_words,
      |       round(totlen * 1.0 / n + 1e-7, 4) AS mean_word_len,
      |       (n >= 50 AND n <= 100000) AS ok_word_count,
      |       (totlen >= n * 3 AND totlen <= n * 10) AS ok_mean_word_len,
      |       (symbols * 10 <= n) AS ok_symbol_ratio,
      |       (alpha * 5 >= n * 4) AS ok_alpha_words,
      |       (stops >= 2) AS ok_stopwords,
      |       ((n >= 50 AND n <= 100000) AND (totlen >= n * 3 AND totlen <= n * 10)
      |        AND (symbols * 10 <= n) AND (alpha * 5 >= n * 4) AND (stops >= 2)) AS pass
      |FROM m""".stripMargin

  private lazy val lenQuantilesSql =
    """WITH v AS (SELECT lang, len(regexp_split_to_array(trim(text), '\s+')) AS n_toks
      |           FROM documents),
      |b AS (SELECT lang, CAST(least(floor(n_toks / 4), 31) AS INTEGER) AS bin,
      |             count(*) AS c
      |      FROM v WHERE n_toks IS NOT NULL GROUP BY 1, 2),
      |t AS (SELECT lang, CAST(sum(c) AS BIGINT) AS n FROM b GROUP BY lang),
      |cum AS (SELECT b.lang, bin,
      |               CAST(sum(c) OVER (PARTITION BY b.lang ORDER BY bin) AS BIGINT) AS cum,
      |               n
      |        FROM b JOIN t USING (lang))
      |SELECT lang, max(n) AS n_rows,
      |       min(CASE WHEN cum >= ceil(0.5 * n) THEN bin * 4 END) AS p50_lo,
      |       min(CASE WHEN cum >= ceil(0.9 * n) THEN bin * 4 END) AS p90_lo,
      |       min(CASE WHEN cum >= ceil(0.99 * n) THEN bin * 4 END) AS p99_lo
      |FROM cum GROUP BY lang""".stripMargin

  private lazy val profileCardSql =
    s"""WITH f AS (SELECT source, md5($normSql) AS k,
       |                  len(regexp_split_to_array(trim(text), '\\s+')) AS n_toks
       |           FROM documents),
       |${hllSql("f", "source", 256)},
       |b AS (SELECT source, CAST(least(floor(n_toks / 4), 31) AS INTEGER) AS bin,
       |             count(*) AS c
       |      FROM f WHERE n_toks IS NOT NULL GROUP BY 1, 2),
       |t AS (SELECT source, CAST(sum(c) AS BIGINT) AS n FROM b GROUP BY source),
       |cum AS (SELECT b.source, bin,
       |               CAST(sum(c) OVER (PARTITION BY b.source ORDER BY bin) AS BIGINT) AS cum,
       |               n
       |        FROM b JOIN t USING (source)),
       |qtl AS (SELECT source, max(n) AS n_rows,
       |               min(CASE WHEN cum >= ceil(0.5 * n) THEN bin * 4 END) AS p50_lo,
       |               min(CASE WHEN cum >= ceil(0.9 * n) THEN bin * 4 END) AS p90_lo,
       |               min(CASE WHEN cum >= ceil(0.99 * n) THEN bin * 4 END) AS p99_lo
       |        FROM cum GROUP BY source)
       |SELECT source, n_rows, p50_lo, p90_lo, p99_lo, hll_est
       |FROM qtl JOIN hll USING (source)""".stripMargin

  private lazy val saltedJoinSql =
    """WITH dim AS (SELECT event_type, avg(value) AS type_avg FROM events GROUP BY 1)
      |SELECT e.event_type, count(*) AS n,
      |       round(sum(abs(e.value - d.type_avg)) + 1e-7, 2) AS sum_absdev
      |FROM events e JOIN dim d USING (event_type)
      |GROUP BY e.event_type""".stripMargin

  // ---- flagship ----------------------------------------------------------

  /** Flagship query on sf=0.001 (SURVEY §7 minimum slice): channels →
    * time window → 16-sample moving RMS → per-channel RMS.
    */
  def entry(spark: SparkSession): DataFrame = {
    val sig = Signal(ev(spark, "/root/testdata/sf0.001"))
    sig.between(0, 2.5e6).movRmsN(16).rms()
  }

  // ---- queries -----------------------------------------------------------

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // -- relational substrate (TPC-H-flavored; exercises scan/agg/join) --
    "q01_pricing" -> ((s, dir) => {
      li(s, dir).groupBy("l_returnflag", "l_linestatus").agg(
        round(sum("l_quantity"), 0).as("sum_qty"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 0).as("revenue"),
        round(avg("l_quantity") + 1e-7, 4).as("avg_qty"),
        count(lit(1)).as("n_rows"))
    }),
    "q02_priority_revenue" -> ((s, dir) => {
      ord(s, dir).join(li(s, dir), col("o_orderkey") === col("l_orderkey"))
        .groupBy("o_orderpriority").agg(
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 0).as("revenue"),
          countDistinct("o_orderkey").as("n_orders"))
    }),
    // predicate-pushdown showcase: every filter reaches the parquet
    // scan (PushedFilters), only 4 columns read
    "q06_banded_revenue" -> ((s, dir) => {
      li(s, dir)
        .filter(col("l_shipdate") >= lit("1994-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1996-01-01").cast("timestamp") &&
          col("l_discount").between(0.02, 0.08) && col("l_quantity") < 24)
        .agg(round(sum(col("l_extendedprice") * col("l_discount")), 2).as("revenue"),
          count(lit(1)).as("n_rows"))
    }),
    "q07_orders_no_items" -> ((s, dir) => {
      // anti join: orders with no lineitem rows, counted by priority
      ord(s, dir).join(li(s, dir), col("o_orderkey") === col("l_orderkey"), "left_anti")
        .groupBy("o_orderpriority").agg(count(lit(1)).as("n_orders"))
    }),
    "q04_orders_with_items" -> ((s, dir) => {
      // the semi-join complement of q07
      ord(s, dir).join(li(s, dir), col("o_orderkey") === col("l_orderkey"), "left_semi")
        .groupBy("o_orderpriority").agg(count(lit(1)).as("n_orders"))
    }),
    "q05_top_customers" -> ((s, dir) => {
      // ranking window over a multi-join aggregate: top-3 customers by
      // revenue within each region (ties broken by name for
      // cross-engine determinism)
      val rev = li(s, dir)
        .join(ord(s, dir), col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(cust(s, dir)), col("o_custkey") === col("c_custkey"))
        .join(broadcast(nat(s, dir)), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(reg(s, dir)), col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name", "c_name")
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 0).as("revenue"))
      val w = Window.partitionBy("r_name").orderBy(col("revenue").desc, col("c_name").asc)
      rev.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= 3)
    }),
    "q03_region_revenue" -> ((s, dir) => {
      li(s, dir)
        .join(ord(s, dir), col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(cust(s, dir)), col("o_custkey") === col("c_custkey"))
        .join(broadcast(nat(s, dir)), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(reg(s, dir)), col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name").agg(
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 0).as("revenue"),
          count(lit(1)).as("n_items"))
    }),

    // -- sigproc: stateless ops (exact, unrounded) --
    "q_channel_list" -> ((s, dir) =>
      ev(s, dir).select("channel").distinct()),
    "q_start_times" -> ((s, dir) =>
      Channels.rawEvents(s, dir).groupBy(col("event_type").as("channel"))
        .agg(min("us").as("start_us"))),
    "q_between" -> ((s, dir) => Signal(ev(s, dir)).between(1.0e5, 2.0e6).df),
    "q_timeshift_between" -> ((s, dir) => {
      // between AFTER timeshift: the PushShiftedTimeBounds optimizer
      // rule (graft.plans.GraftRules) derives conservative raw-t
      // bounds that reach the scan's PushedFilters — plan-asserted in
      // Round9Spec — while the exact shifted predicate stays in place,
      // so values are bit-identical with or without the rule
      graft.plans.GraftRules.ensure(s)
      Signal(ev(s, dir)).timeshift(3600.0).between(1.0e5, 2.0e6).df
    }),
    "k_iir_fused" -> ((s, dir) => {
      // two cascaded Butterworth lowpasses declared as PLAN NODES
      // (Signal.lfilter → graft.plans.IirFilter): FuseIirFilters
      // convolves the transfer polynomials so ONE PerChannel kernel
      // pass runs the order-4 cascade (plan-asserted in Round9Spec);
      // the oracle replays the FUSED recurrence
      val (b1, a1) = graft.dsp.FilterDesign.butter(2, 0.25, "lowpass")
      val (b2, a2) = graft.dsp.FilterDesign.butter(2, 0.5, "lowpass")
      Signal(evUniform(s, dir)).lfilter(b1, a1).lfilter(b2, a2).df
    }),
    "q_get_channel" -> ((s, dir) => Channels.getChannel(ev(s, dir), "click").df),
    "q_abs_window" -> ((s, dir) => {
      // absolute-time ingestion: the predicate reaches the parquet scan
      // (PushedFilters on raw ts), t stays relative to the TRUE origin
      Channels.eventsAbsolute(s, dir, 1704500000000000L, 1705000000000000L)
    }),
    "q_fbetween" -> ((s, dir) =>
      Spectrum(pseudoPsd(s, dir)).between(100.0, 500.0).df),
    "q_timeshift" -> ((s, dir) => Signal(ev(s, dir)).timeshift(3600.0).df),
    "q_json_props" -> ((s, dir) =>
      // JSON scalar extraction over the events props column (§2.12):
      // integer aggregates, exact in both engines
      s.read.parquet(s"$dir/events.parquet")
        .select(col("event_type").as("channel"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy("channel")
        .agg(sum("k").as("sum_k"), max("k").as("max_k"), count(lit(1)).as("n"))),
    "q_dedup_mean" -> ((s, dir) => {
      // hour-bucketed time axis creates real duplicates to average
      val hourly = ev(s, dir).select(col("channel"), floor(col("t") / 3600.0).as("t"), col("v"))
      // round(4): group means accumulate in different orders across
      // engines; at sf0.1 a 1e-6 quantum starts catching boundary hits
      Signal(hourly).deduplicate().df
        .select(col("channel"), col("t"), round(col("v") + 1e-7, 4).as("v"))
    }),
    "q_rms" -> ((s, dir) =>
      Signal(ev(s, dir)).rms().select(col("channel"), round(col("rms"), 6).as("rms"))),
    "q_spl" -> ((s, dir) =>
      Signal(ev(s, dir)).spl().select(col("channel"), round(col("spl"), 6).as("spl"))),
    "q_samplerate" -> ((s, dir) =>
      Signal(ev(s, dir)).samplerate().select(
        col("channel"), round(col("max_sr"), 10).as("max_sr"),
        round(col("mean_sr"), 10).as("mean_sr"), round(col("min_sr"), 10).as("min_sr"),
        round(col("samplerate"), 10).as("samplerate"))),

    // -- sigproc: window analytics --
    "q_movrms16" -> ((s, dir) =>
      Signal(ev(s, dir)).movRmsN(16).df
        .select(col("channel"), col("t"), round(col("v"), 6).as("v"))),
    "q_integral" -> ((s, dir) =>
      // integralExact: integer-quantized trapezoid accumulation —
      // order-free, so the 200k-term running sums stay bit-identical
      // across engines/plans (the float form flipped 27/1M rounding
      // ties vs DuckDB's segment-tree windowed sum at sf1; PLANS r14).
      // NO output rounding: the quantized sum and the single
      // de-quantization multiply are IEEE-identical in both engines,
      // so the raw double already hash-matches — while a final
      // round(…, 1) REINTRODUCED cross-engine tie divergence at the
      // sf10 rung (6/10M rows: Spark rounds the shortest-decimal
      // BigDecimal, DuckDB the binary double; at |v| ~ 8e9 the ulp is
      // ~1e-6 and a 0.1 grid takes ~1e-5 tie hits per row)
      Signal(ev(s, dir)).integralExact().df
        .select(col("channel"), col("t"), col("v"))),
    "q_derivative" -> ((s, dir) => Signal(ev(s, dir)).derivative().df),
    "q_detrend_const" -> ((s, dir) =>
      Signal(ev(s, dir)).detrendConstant().df
        .select(col("channel"), col("t"), round(col("v"), 6).as("v"))),
    "q_detrend_linear" -> ((s, dir) =>
      Signal(ev(s, dir)).detrendLinear().df
        .select(col("channel"), col("t"), round(col("v"), 4).as("v"))),
    "q_detrend_bp" -> ((s, dir) =>
      Signal(ev(s, dir)).detrendLinear(Seq(400L)).df
        .select(col("channel"), col("t"), round(col("v"), 4).as("v"))),
    "q_rss" -> ((s, dir) => {
      // two genuine series sharing a key: line 1 vs line 2 price per order
      val l = li(s, dir)
      val s1 = Signal(l.filter(col("l_linenumber") === 1)
        .select(lit("p").as("channel"), col("l_orderkey").cast("double").as("t"),
          col("l_extendedprice").as("v")))
      val s2 = Signal(l.filter(col("l_linenumber") === 2)
        .select(lit("p").as("channel"), col("l_orderkey").cast("double").as("t"),
          col("l_extendedprice").as("v")))
      s1.rss(s2).df
    }),
    "q_rss3" -> ((s, dir) => {
      // the reference's *args form: three series at once
      val l = li(s, dir)
      def series(ln: Int) = Signal(l.filter(col("l_linenumber") === ln)
        .select(lit("p").as("channel"), col("l_orderkey").cast("double").as("t"),
          col("l_extendedprice").as("v")))
      series(1).rss(series(2), series(3)).df
    }),
    "q_rss_outer" -> ((s, dir) => {
      // pandas outer-alignment rss (extension.py:801-810): timestamps
      // present in only one series survive with NULL v
      val l = li(s, dir)
      def series(ln: Int) = Signal(l.filter(col("l_linenumber") === ln)
        .select(lit("p").as("channel"), col("l_orderkey").cast("double").as("t"),
          col("l_extendedprice").as("v")))
      series(1).rssOuter(series(2)).df
    }),

    // -- sigproc: interpolation / resampling (exact, unrounded) --
    "q_resample_linear" -> ((s, dir) => Interp.resample(ev(s, dir), 1.0 / 1000.0, "linear")),
    "q_interp_nearest" -> ((s, dir) => {
      val grid = Interp.resampleGrid(ev(s, dir), 777.0)
      Interp.interp1d(ev(s, dir), grid, "nearest")
    }),
    "q_interp_previous" -> ((s, dir) => {
      val grid = Interp.resampleGrid(ev(s, dir), 777.0)
      Interp.interp1d(ev(s, dir), grid, "previous")
    }),
    "q_interp_next" -> ((s, dir) => {
      val grid = Interp.resampleGrid(ev(s, dir), 777.0)
      Interp.interp1d(ev(s, dir), grid, "next")
    }),
    "q_interp_nearest_up" -> ((s, dir) => {
      val grid = Interp.resampleGrid(ev(s, dir), 777.0)
      Interp.interp1d(ev(s, dir), grid, "nearest-up")
    }),
    "q_interp_zero" -> ((s, dir) => {
      // scipy kind='zero': zero-order spline = previous-sample hold
      val grid = Interp.resampleGrid(ev(s, dir), 777.0)
      Interp.interp1d(ev(s, dir), grid, "zero")
    }),
    "q_interp_slinear" -> ((s, dir) => {
      // scipy kind='slinear': first-order spline = linear
      val grid = Interp.resampleGrid(ev(s, dir), 777.0)
      Interp.interp1d(ev(s, dir), grid, "slinear")
    }),
    "q_finterp" -> ((s, dir) => {
      // freq-axis interp1d (the FreqDomain accessor's own kind family)
      val psd = pseudoPsd(s, dir)
      val mx = max("freq").over(Window.partitionBy("channel"))
      val grid = psd.withColumn("mx", mx).filter(col("freq") < col("mx"))
        .select(col("channel"), (col("freq") + 0.25).as("freq"))
      Spectrum(psd).interp1d(grid, "linear").df
    }),
    "q_interp_log" -> ((s, dir) => {
      val psd = pseudoPsd(s, dir)
      val mx = max("freq").over(Window.partitionBy("channel"))
      val grid = psd.withColumn("mx", mx).filter(col("freq") < col("mx"))
        .select(col("channel"), (col("freq") + 0.5).as("freq"))
      // round(2): Java vs C libm pow/log10 differ by ~1 ulp, which at
      // p ~ 2.4e5 is ~7e-6 absolute — a 1e-6 quantum is too fine
      Spectrum(psd).interp1dLog(grid).df
        .select(col("channel"), col("freq"), round(col("p"), 2).as("p"))
    }),

    // -- freq domain reductions over a deterministic pseudo-PSD --
    "q_rms_lin" -> ((s, dir) =>
      Spectrum(pseudoPsd(s, dir)).rmsLin()
        .select(col("channel"), round(col("rms"), 4).as("rms"))),
    "q_rms_log" -> ((s, dir) =>
      Spectrum(pseudoPsd(s, dir)).rmsLog()
        .select(col("channel"), round(col("rms"), 4).as("rms"))),

    // -- text analysis --
    "q_text_stats" -> ((s, dir) =>
      docs(s, dir).groupBy("lang").agg(
        count(lit(1)).as("n_docs"),
        round(avg("n_chars") + 1e-7, 4).as("avg_chars"),
        sum(TextAnalysis.wsTokenCount(col("text"))).as("ws_tokens"),
        sum(TextAnalysis.bpeTokenCount(col("text"))).as("bpe_tokens"))),
    "q_gopher_rules" -> ((s, dir) =>
      // the published Gopher §A1.1 doc-level filter battery, per-rule
      // booleans + conjunction, integer cross-multiplied thresholds
      TextAnalysis.gopherRules(docs(s, dir))),
    "q_langid" -> ((s, dir) =>
      docs(s, dir).select(col("lang"), TextAnalysis.langId(col("text")).as("lang_pred"))
        .groupBy("lang", "lang_pred").agg(count(lit(1)).as("n"))),
    "q_quality" -> ((s, dir) =>
      docs(s, dir).select(col("doc_id"),
        round(TextAnalysis.qualityScore(col("text")) + 1e-7, 4).as("quality"))),
    "q_fingerprint" -> ((s, dir) =>
      docs(s, dir).select(col("doc_id"), TextAnalysis.fingerprint(col("text")).as("fp"))),
    "q_data_card" -> ((s, dir) => {
      // the one-table corpus report a pipeline run publishes (the
      // "data card" numbers): volume, diversity, duplication at
      // every grain, contamination, token budget, mean quality —
      // every leg an aggregate over a table another query already
      // materializes (shared-cache reuse), unioned to (metric, value)
      val d = docs(s, dir)
      def row(name: String, df: DataFrame, v: org.apache.spark.sql.Column) =
        df.agg(v.cast("double").as("value"))
          .select(lit(name).as("metric"), col("value"))
      val sh = docShingles(s, dir)
      val decon = Dedup.benchmarkOverlap(
        sh.filter(col("doc_id") % 97 =!= 0), sh.filter(col("doc_id") % 97 === 0))
      val qi = round((TextAnalysis.qualityScore(col("text")) + 1e-7) * 10000).cast("long")
      row("n_docs", d, count(lit(1)))
        .unionAll(row("n_langs", d, countDistinct(col("lang"))))
        .unionAll(row("n_sources", d, countDistinct(col("source"))))
        .unionAll(row("ws_tokens", d, sum(TextAnalysis.wsTokenCount(col("text")))))
        .unionAll(row("exact_dup_docs",
          Dedup.exact(d).filter(col("group_size") > 1), count(lit(1))))
        .unionAll(row("neardup_member_docs",
          dedupComponents(s, dir), countDistinct(col("doc_id"))))
        .unionAll(row("contaminated_docs", decon, sum(col("contaminated"))))
        .unionAll(d.agg(round(sum(qi) / (count(lit(1)) * 10000.0), 6)
            .cast("double").as("value"))
          .select(lit("avg_quality").as("metric"), col("value")))
    }),
    "q_source_mix" -> ((s, dir) => {
      // training-mix report: per-(source, lang) document/token counts
      // and mean quality — the table a data-mixture weighting step
      // consumes. Quality is summed as 1e-4-quantized LONGS and
      // divided once, so the group average is exact-integer
      // arithmetic: float-summation order never enters the hash
      // (avg of raw doubles would differ across engines in the last
      // bits and round() could land either side of a boundary)
      val qi = round((TextAnalysis.qualityScore(col("text")) + 1e-7) * 10000).cast("long")
      docs(s, dir)
        .groupBy("source", "lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(TextAnalysis.wsTokenCount(col("text"))).as("ws_tokens"),
          sum(qi).as("qsum"))
        .select(col("source"), col("lang"), col("n_docs"), col("ws_tokens"),
          round(col("qsum") / (col("n_docs") * 10000.0), 6).as("avg_quality"))
    }),
    "q_length_hist" -> ((s, dir) =>
      // token-length histogram (64-token bins) — the length
      // distribution a packing/truncation policy is tuned against.
      // Integer bin arithmetic end to end; one partial-aggregated
      // exchange on the bin key
      docs(s, dir)
        .select(TextAnalysis.wsTokenCount(col("text")).as("tokens"))
        .select((floor(col("tokens") / 64) * 64).cast("long").as("bin_lo"), col("tokens"))
        .groupBy("bin_lo")
        .agg(count(lit(1)).as("n_docs"), sum("tokens").as("n_tokens"))),

    // -- dedup --
    "q_dedup_exact" -> ((s, dir) => Dedup.exact(docs(s, dir))),
    "q_minhash_sig" -> ((s, dir) =>
      Dedup.minhashSignaturesFromHashes(docShingles(s, dir), k = 16)),
    "q_simhash" -> ((s, dir) => Dedup.simhash(docs(s, dir))),
    "q_decontaminate" -> ((s, dir) => {
      // test-set decontamination: every 97th document stands in for a
      // held-out benchmark; corpus docs overlapping its shingle set by
      // >= 10% are flagged. Benchmark set broadcasts; the corpus-side
      // shingle table (shared cache) is filtered map-side
      val sh = docShingles(s, dir)
      Dedup.benchmarkOverlap(
        sh.filter(col("doc_id") % 97 =!= 0),
        sh.filter(col("doc_id") % 97 === 0))
    }),
    "q_decontaminate_bloom" -> ((s, dir) => {
      // the SAME decontamination table via the Bloom-prefilter path —
      // the scale shape for blocklists too big to broadcast-join: a
      // distributed OR-merge build, a codegen'd bit-probe filter, and
      // an exact semi-join over the survivors (no false negatives, so
      // the output hash-matches the exact broadcast path / its oracle)
      val sh = docShingles(s, dir)
      Dedup.benchmarkOverlapBloom(
        sh.filter(col("doc_id") % 97 =!= 0),
        sh.filter(col("doc_id") % 97 === 0))
    }),
    "q_containment" -> ((s, dir) =>
      // asymmetric dup detection over the shared LSH candidates:
      // containment |A∩B|/|A| flags subset duplication (short doc
      // quoted whole inside a long one) that Jaccard structurally
      // misses — same broadcast-bounded verify plan, extra columns
      Dedup.overlapScores(docShingles(s, dir), lshCands(s, dir),
        neededDocsHint = Some(lshCandDocs(s, dir)),
        prebuiltSets = Some(freshCandSets(s, dir)))),
    "q_ngram_jaccard" -> ((s, dir) => {
      // query-vs-corpus jaccard: every 20th doc against its source
      // bucket — pair count scales linearly with the corpus, not
      // quadratically (the all-pairs form explodes at sf0.1+)
      val d = docs(s, dir)
      val pairs = d.filter(col("doc_id") % 20 === 0 && col("doc_id") < PROBE_CAP)
        .select(col("doc_id").as("a"), col("source"))
        .join(d.select(col("doc_id").as("b"), col("source")), "source")
        .filter(col("a") =!= col("b")).select("a", "b")
      Dedup.jaccardByHashes(docShingles(s, dir), pairs,
        neededDocsHint = Some(docCount(s, dir)))
        .select(col("a"), col("b"), round(col("jaccard"), 6).as("jaccard"))
        .filter(col("jaccard") >= 0.05)
    }),
    "q_dup_spans" -> ((s, dir) =>
      // substring-granular dedup signal: per-doc fraction of rolling
      // 10-token windows that appear verbatim in another document
      // (catches a hot paragraph pasted into otherwise-unique pages,
      // which document-level MinHash structurally misses)
      Dedup.duplicateSpanStats(docs(s, dir), w = 10)),
    "q_substr_rewrite" -> ((s, dir) =>
      // ExactSubstr dedup (Lee et al 2022), window-approximated with
      // REWRITE: any duplicated passage of >= 10 tokens has its every
      // window duplicated, so its non-first occurrences are excised
      // token-exactly while unique bordering text survives — the
      // span-granular big sibling of q_chunk_dedup
      Dedup.substrDedup(docs(s, dir), w = 10)),
    "q_sa_substr" -> ((s, dir) =>
      // the SUFFIX-ARRAY-STYLE ExactSubstr path (r8 verdict stretch):
      // prefix-equivalence classes doubled over ceil(log2 w) rounds +
      // one overlapped final step — exact length-w equality, zero
      // hash collisions, integer-only exchanges. Provably the same
      // covered-position set and tie-break as the windowed
      // q_substr_rewrite, so the two INDEPENDENT implementations
      // share one oracle (cross-implementation check)
      Dedup.saSubstrDedup(docs(s, dir), w = 10)),
    "q_substr_w50" -> ((s, dir) =>
      // Lee et al.'s PUBLISHED window length (w=50), windowed-hash
      // form: 50x hash input per token, one span exchange — the
      // w-scaling half of the measured SA-vs-windowed crossover
      // (PLANS.md r12)
      Dedup.substrDedup(docs(s, dir), w = 50)),
    "q_sa_substr_w50" -> ((s, dir) =>
      // the SA-class form at w=50: ceil(log2 50)+1 = 7 integer-only
      // refinement rounds, hash-free — shares the w=50 oracle with
      // q_substr_w50 (same covered set by construction)
      Dedup.saSubstrDedup(docs(s, dir), w = 50)),
    "q_chunk_dedup" -> ((s, dir) =>
      // the REWRITE stage the span statistics motivate: line-level
      // dedup at 20-token chunk grain — drop every repeated chunk's
      // non-first occurrence corpus-wide, return each doc's surviving
      // text re-joined in order (CCNet/RefinedWeb line dedup)
      Dedup.chunkDedup(docs(s, dir), w = 20)),
    "q_span_sweep" -> ((s, dir) =>
      // the Lee-et-al window-length sweep (10/20/50 tokens) in ONE
      // corpus pass: one tokenize, one generator, one explode — the
      // scan count stays 1 as lengths are added
      Dedup.spanSweepStats(docs(s, dir), ws = Seq(10, 20, 50))),
    "q_dup_span_top" -> ((s, dir) =>
      // the boilerplate report: globally hottest duplicated spans
      // with their text — winners picked hash-keyed (8-byte shuffle,
      // TakeOrderedAndProject), strings recovered for the k winners
      // only via a broadcast semi-join
      Dedup.topDuplicateSpans(docs(s, dir), w = 10, k = 20)),
    "q_pii_redact" -> ((s, dir) =>
      // admission-time PII scrub: deterministic synthetic PII is
      // injected into every 10th doc (the fixtures carry none), then
      // masked stage-by-stage; counts are per stage on the text that
      // stage sees. NULL text passes through as NULL (concat and ||
      // both propagate it)
      TextAnalysis.redactPii(piiInjected(docs(s, dir)))),

    // -- similarity search --
    "q_embedding_norms" -> ((s, dir) =>
      emb(s, dir).select(col("vec_id"),
        round(Similarity.l2norm(col("embedding").cast("array<double>")), 6).as("nrm"))),
    "q_int8_quant" -> ((s, dir) =>
      // scalar int8 quantization (float32 -> int8, the 4x index-
      // storage shrink): per-dim (lo, scale) trained once (memoized
      // aggregate) and folded into the plan as literals; the encode
      // is a map-side floor expression. Exact-integer aggregates of
      // the codes make the check engine-exact
      Similarity.quantizeInt8(emb(s, dir), quantRanges(s, dir))
        .select(col("vec_id"),
          expr("aggregate(codes, 0L, (acc, c) -> acc + c)").as("code_sum"),
          array_min(col("codes")).cast("long").as("code_min"),
          array_max(col("codes")).cast("long").as("code_max"),
          size(col("codes")).cast("long").as("dims"))),
    "q_cosine_topk" -> ((s, dir) => {
      val e = emb(s, dir)
      Similarity.bruteForceTopK(e, e.filter(probePanel), k = 10)
    }),
    "q_cosine_neardups" -> ((s, dir) => {
      val e = emb(s, dir)
      Similarity.cosineNearDups(e.filter(col("vec_id") % 10 === 0), e, 0.35)
    }),
    "q_cosine_neardups_lsh" -> ((s, dir) =>
      // corpus×corpus near-dups via sign-LSH buckets — the scale path
      // (same-bucket equi-join + star cap, never corpus² rows)
      Similarity.cosineNearDupsLsh(emb(s, dir), 0.35, dims = 64)),

    // -- kernel operators, FFT family: oracle-backed via an O(n*nf)
    // DuckDB DFT over the same uniform grid. The FFT (radix-2 /
    // Bluestein) and the direct DFT agree to ~1e-13 relative, so p is
    // compared as a 5-significant-digit scientific string (Java
    // format_string and C printf produce identical %.4e output —
    // verified over magnitude range 1e-300..1e30); freq is bit-exact
    // (k * sr / n replicated literally) --
    "k_resample_psd_periodogram" -> ((s, dir) =>
      Psd.getPsd(evUniform(s, dir))
        .select(col("channel"), col("freq"), format_string("%.4e", col("p")).as("p"))),
    "k_psd_welch_mean" -> ((s, dir) =>
      Psd.summarizeAll(welchBase(s, dir), "mean").filter(col("freq") > 0)
        .select(col("channel"), col("freq"), format_string("%.4e", col("p")).as("p"))),
    "k_psd_welch_max" -> ((s, dir) =>
      Psd.summarizeAll(welchBase(s, dir), "max").filter(col("freq") > 0)
        .select(col("channel"), col("freq"), format_string("%.4e", col("p")).as("p"))),
    "k_psd_welch_min" -> ((s, dir) =>
      Psd.summarizeAll(welchBase(s, dir), "min").filter(col("freq") > 0)
        .select(col("channel"), col("freq"), format_string("%.4e", col("p")).as("p"))),
    "k_psd_welch_boxcar" -> ((s, dir) =>
      Psd.getPsd(evUniform(s, dir), windowLength = Some(432000.0), windowType = "boxcar")
        .select(col("channel"), col("freq"), format_string("%.4e", col("p")).as("p"))),
    "k_psd_welch_median" -> ((s, dir) =>
      Psd.summarizeAll(welchBase(s, dir), "median").filter(col("freq") > 0)
        .select(col("channel"), col("freq"), format_string("%.4e", col("p")).as("p"))),
    "k_psd_welch_all" -> ((s, dir) =>
      Psd.summarizeAll(welchBase(s, dir), "all").filter(col("freq") > 0)
        .select(col("channel"), col("w"), col("freq"),
          format_string("%.4e", col("p")).as("p"))),
    "k_psd_welch_maxrms" -> ((s, dir) =>
      Psd.rescale(welchRmsBase(s, dir), "max rms", 4.0).filter(col("freq") > 0)
        .select(col("channel"), col("freq"), format_string("%.4e", col("p")).as("p"))),
    "k_psd_welch_damage" -> ((s, dir) =>
      Psd.rescale(welchRmsBase(s, dir), "damage", 4.0).filter(col("freq") > 0)
        .select(col("channel"), col("freq"), format_string("%.4e", col("p")).as("p"))),

    // -- kernel AGGREGATION stages over the deterministic pseudo
    // sub-PSD: same code paths as the k_psd_welch_* queries
    // (Psd.summarizeAll / Psd.rescale), but with the FFT swapped for
    // an engine-exact table, so DuckDB can replay them value-exactly --
    "q_psd_summarize_mean" -> ((s, dir) =>
      Psd.summarizeAll(pseudoSubPsd(s, dir), "mean")
        .select(col("channel"), col("freq"), round(col("p") + 1e-7, 4).as("p"))),
    "q_psd_summarize_median" -> ((s, dir) =>
      Psd.summarizeAll(pseudoSubPsd(s, dir), "median")
        .select(col("channel"), col("freq"), round(col("p") + 1e-7, 4).as("p"))),
    // max/min select one exact per-row value — no rounding needed
    "q_psd_summarize_max" -> ((s, dir) =>
      Psd.summarizeAll(pseudoSubPsd(s, dir), "max")),
    "q_psd_summarize_min" -> ((s, dir) =>
      Psd.summarizeAll(pseudoSubPsd(s, dir), "min")),
    "q_psd_maxrms" -> ((s, dir) =>
      Psd.rescale(pseudoSubPsdRms(s, dir), "max rms", 4.0)
        .select(col("channel"), col("freq"), round(col("p") + 1e-7, 4).as("p"))),
    "q_psd_damage" -> ((s, dir) =>
      Psd.rescale(pseudoSubPsdRms(s, dir), "damage", 4.0)
        .select(col("channel"), col("freq"), round(col("p") + 1e-7, 4).as("p"))),
    "q_srs_reduce" -> ((s, dir) => {
      // pseudo per-sample SDOF responses: 20 natural frequencies,
      // resp = the signed sample value — exercises the max(pos, |neg|)
      // summarize stage (tools.py:373-374) with exact aggregates
      val win = Window.partitionBy("channel").orderBy("t")
      val resp = ev(s, dir).select(col("channel"),
          (row_number().over(win) - 1).cast("long").as("rn"), col("v"))
        .select(col("channel"), pmod(col("rn"), lit(20L)).cast("double").as("freq"),
          col("v").as("resp"))
      Kernels.srsReduce(resp)
    }),
    "q_rainflow_bin" -> ((s, dir) => {
      // pseudo cycles table: rng = |v|, cycles alternating 0.5 / 1.0 —
      // exercises the nbins binning stage (extension.py:944-959);
      // bin edges and half-count sums are engine-exact
      val win = Window.partitionBy("channel").orderBy("t")
      val cyc = ev(s, dir).select(col("channel"),
          (row_number().over(win) - 1).cast("long").as("rn"), col("v"))
        .select(col("channel"), abs(col("v")).as("rng"),
          ((pmod(col("rn"), lit(2L)) + 1).cast("double") * 0.5).as("cycles"))
      Kernels.rainflowBin(cyc, nbins = Some(10))
    }),
    "k_filt_butter" -> ((s, dir) =>
      Kernels.filtButter(evUniform(s, dir), Seq(3.0e-5), order = 4, btype = "lowpass")),
    "k_filt_cfc" -> ((s, dir) =>
      Kernels.filtCfc(evUniform(s, dir), cfc = 2.0e-5)),
    "k_filt_a" -> ((s, dir) => Kernels.filtA(evUniform(s, dir))),
    "k_filt_butter_hp" -> ((s, dir) =>
      Kernels.filtButter(evUniform(s, dir), Seq(5.0e-5), order = 4, btype = "highpass")),
    "k_filt_butter_bp" -> ((s, dir) =>
      Kernels.filtButter(evUniform(s, dir), Seq(2.0e-5, 8.0e-5), order = 4, btype = "bandpass")),
    "k_srs" -> ((s, dir) =>
      Kernels.srs(evUniform(s, dir), Array(1e-5, 2e-5, 5e-5, 1e-4), qualityFactor = 50.0)),
    "k_rainflow" -> ((s, dir) => Kernels.rainflow(ev(s, dir), ndigits = Some(1))),
    "k_rainflow_binned" -> ((s, dir) => Kernels.rainflow(ev(s, dir), nbins = Some(10))),
    "k_rainflow_binsize" -> ((s, dir) => Kernels.rainflow(ev(s, dir), binsize = Some(25.0))),
    "k_psd_welch_detrend_linear" -> ((s, dir) =>
      Psd.getPsd(evUniform(s, dir), windowLength = Some(432000.0), detrend = "linear")
        .select(col("channel"), col("freq"), format_string("%.4e", col("p")).as("p"))),
    "q_ann_topk" -> ((s, dir) => {
      val e = emb(s, dir)
      // dims passed explicitly (the fixture embeddings are 64-dim):
      // keeps the plan fully lazy — no corpus-probe job at plan build
      Similarity.annTopK(e, e.filter(probePanel), k = 10, dims = 64)
    }),
    "q_ivf_topk" -> ((s, dir) => {
      // IVF-flat ANN: the coarse-quantizer complement of the sign-LSH
      // path (deterministic md5 centroids; map-side assignment)
      val e = emb(s, dir)
      Similarity.ivfTopK(e, e.filter(probePanel),
        k = 10, nlist = 16, nprobe = 4, dims = 64)
    }),
    "q_stream_ann" -> ((s, dir) => {
      // ANN admission ON THE STREAM: arriving query vectors probe the
      // statically bucketed corpus under the SAME trained centroids
      // as q_ivf_trained (models are batch artifacts; streams consume
      // them); grouped struct-max ≡ the batch rank-1 tie-break, so
      // the bounded stream equals the batch top-1 and the oracle is
      // q_ivf_trained's chain filtered to rank = 1
      import graft.streaming.StreamingOps._
      val st = embeddingsStream(s, dir).filter(probePanel)
      runToMemorySink(
        Similarity.streamIvfBest(emb(s, dir), st, trainedCents(s, dir),
          nprobe = 4, dims = 64),
        "stream_ann", "complete")
    }),
    "q_ivf_trained" -> ((s, dir) => {
      // IVF with k-means-TRAINED coarse quantizer: the centroids come
      // from Clustering.kmeansCentroids (k=16, 2 Lloyd rounds) instead
      // of md5 noise — the composition both operators were built for
      val e = emb(s, dir)
      val cents = trainedCents(s, dir)
      Similarity.ivfTopKWith(e, e.filter(probePanel), cents,
        k = 10, nprobe = 4, dims = 64)
    }),
    "q_ivf_list_sizes" -> ((s, dir) => {
      // inverted-file occupancy under the trained quantizer — the
      // skew dial for nlist (the IVF analog of q_lsh_bucket_overflow)
      val e = emb(s, dir)
      val cents = trainedCents(s, dir)
      Similarity.ivfListSizes(e, cents, dims = 64)
    }),
    "q_ivf_probe_sweep" -> ((s, dir) => {
      // the recall-vs-nprobe curve over the TRAINED quantizer: one
      // corpus join at nprobe=8, smaller settings derived by probe-
      // rank filter — the measured dial that closes the "recall
      // observability" gap for real (q_ann_recall gives one point;
      // this gives the curve a tuner walks)
      val e = emb(s, dir)
      val cents = trainedCents(s, dir)
      Similarity.ivfProbeSweep(e, e.filter(probePanel), cents,
        k = 10, nprobes = Seq(1, 2, 4, 8), dims = 64)
    }),
    "q_ann_plane_sweep" -> ((s, dir) => {
      // recall-vs-plane-count curve for sign-LSH: one 8-plane bucket
      // assignment, every coarser setting is a bit-prefix of it —
      // the nPlanes analog of q_ivf_probe_sweep
      val e = emb(s, dir)
      Similarity.annPlaneSweep(e, e.filter(probePanel),
        k = 10, nPlanes = 8, bitsList = Seq(4, 6, 8), dims = 64)
    }),
    "q_ann_recall" -> ((s, dir) => {
      // recall@10 per query for both ANN paths vs the exact
      // brute-force ground truth — the observability dial for
      // nPlanes/nlist/nprobe tuning; fully deterministic on both
      // sides, hence oracle-checkable
      val e = emb(s, dir)
      val q = e.filter(probePanel)
      val truth = freshAnnTruth(s, dir)
      recallPerQuery(truth, Similarity.annTopK(e, q, k = 10, dims = 64), "ann")
        .unionAll(recallPerQuery(truth,
          Similarity.ivfTopK(e, q, k = 10, nlist = 16, nprobe = 4, dims = 64), "ivf"))
    }),
    "q_ann_int8_recall" -> ((s, dir) => {
      // the int8 loop CLOSED: IVF search runs against the quantized
      // codes table (asymmetric float-query × decoded-int8 scoring,
      // the float corpus untouched at search time), and its recall@10
      // is measured against the same exact truth, side by side with
      // the float IVF — the number that prices the 4x storage shrink
      val e = emb(s, dir)
      val q = e.filter(probePanel)
      val truth = freshAnnTruth(s, dir)
      val ranges = quantRanges(s, dir)
      val codes = Similarity.quantizeInt8(e, ranges)
      // TRAINED routing (r8 verdict #5): both legs now route on the
      // k-means centroids, so the headline recall numbers measure the
      // quantizer the production path would actually deploy
      val cents = trainedCents(s, dir)
      recallPerQuery(truth,
          Similarity.ivfTopKWith(e, q, cents, k = 10, nprobe = 4, dims = 64), "ivf_float")
        .unionAll(recallPerQuery(truth,
          Similarity.ivfTopKInt8(codes, q, cents, ranges, k = 10, nprobe = 4), "ivf_int8"))
    }),
    "q_pq_codes" -> ((s, dir) =>
      // product quantization encode: PQ_M=8 sub-space codebooks
      // (k=16, trained once via the memoized fit), each vector stored
      // as 8 4-bit codes — 4 B/vector vs 256 B float32, a 64x index
      // shrink. Pure map-side argmin over plan-literal codebooks
      Similarity.pqEncode(emb(s, dir), pqBooks(s, dir))),
    "q_pq_recall" -> ((s, dir) => {
      // the numbers that price the 64x shrink: brute-force ADC
      // (asymmetric float-query x blockwise reconstruction — the
      // recall ceiling) and IVF-routed ADC (the bucketed scale path,
      // nprobe=4/16 lists) vs the exact brute-force truth — the same
      // recall harness as the int8 and IVF paths
      val e = emb(s, dir)
      val q = e.filter(probePanel)
      val truth = freshAnnTruth(s, dir)
      val books = pqBooks(s, dir)
      val codes = Similarity.pqEncode(e, books)
      // trained routing, as in q_ann_int8_recall (r8 verdict #5)
      val cents = trainedCents(s, dir)
      recallPerQuery(truth, Similarity.pqTopK(codes, q, books, k = 10), "pq")
        .unionAll(recallPerQuery(truth,
          Similarity.ivfTopKPq(codes, q, cents, books, k = 10, nprobe = 4), "ivf_pq"))
        // two-stage refine: ADC candidates at 50, exact-float rerank
        // to 10 — the FAISS refine shape; rerank recall must close
        // most of the ADC gap (the measured claim of this leg)
        .unionAll(recallPerQuery(truth,
          Similarity.pqRerank(e, codes, q, books, kCand = 50, k = 10), "pq_rerank"))
    }),
    "q_pq_residual_recall" -> ((s, dir) => {
      // RESIDUAL IVF-PQ (FAISS IndexIVFPQ): codes encode x − c(list)
      // against the trained coarse quantizer — same m×k budget as
      // q_pq_recall's raw codes, routed on the STORED list, plus the
      // exact-float refine stage on top. The ivf_rpq leg's recall vs
      // q_pq_recall's ivf_pq leg is the measured value of residual
      // encoding at identical bytes/vector
      val e = emb(s, dir)
      val q = e.filter(probePanel)
      val truth = freshAnnTruth(s, dir)
      val cents = trainedCents(s, dir)
      val books = rpqBooks(s, dir)
      val codes = Similarity.residualPqEncode(e, cents, books)
      val ivf = Similarity.ivfTopKResidualPq(codes, q, cents, books, k = 10, nprobe = 4)
      val cand = Similarity.ivfTopKResidualPq(codes, q, cents, books, k = 50, nprobe = 4)
      recallPerQuery(truth, ivf, "ivf_rpq")
        .unionAll(recallPerQuery(truth,
          Similarity.rerankExact(e, cand, q, k = 10), "rpq_rerank"))
    }),
    "q_opq_recall" -> ((s, dir) => {
      // OPQ (alternating-SVD learned rotation, Ge et al. 2013) on the
      // residual chain at IDENTICAL bytes/vector to
      // q_pq_residual_recall: the ivf_opq leg vs that query's ivf_rpq
      // leg is the measured value of the rotation (PLANS.md r12
      // table). The TRAINING chain ends in an SVD, which no SQL
      // engine replays — so the oracle replays the SEARCH chain
      // instead, with the trained rotation + codebooks inlined as
      // 17-digit literals captured here at run time (r13 verdict #2:
      // by scoring time they are plan literals anyway; training
      // determinism is separately pinned by Round12Spec —
      // orthogonality, objective descent, recall >= identity)
      val e = emb(s, dir)
      val q = e.filter(probePanel)
      val truth = freshAnnTruth(s, dir)
      val cents = trainedCents(s, dir)
      val (rot, books) = opqFit(s, dir)
      opqCapture = opqCapture + (dir -> ((cents, rot, books)))
      val codes = Similarity.opqResidualEncode(e, cents, rot, books)
      val ivf = Similarity.ivfTopKResidualOpq(codes, q, cents, rot, books, k = 10, nprobe = 4)
      val cand = Similarity.ivfTopKResidualOpq(codes, q, cents, rot, books, k = 50, nprobe = 4)
      recallPerQuery(truth, ivf, "ivf_opq")
        .unionAll(recallPerQuery(truth,
          Similarity.rerankExact(e, cand, q, k = 10), "opq_rerank"))
    }),
    "q_simhash_neardups" -> ((s, dir) =>
      Dedup.simhashNearDups(docs(s, dir))),
    "q_kmeans" -> ((s, dir) =>
      // deterministic Lloyd's over the embedding table (md5 seeds,
      // per-iteration centroid rounding = exact cross-engine replay)
      Clustering.kmeans(emb(s, dir), k = 8, iters = 3, dims = 64)),
    "q_semdedup" -> ((s, dir) =>
      // SemDedup (arXiv:2303.09540): cluster-then-prune semantic
      // dedup — map-side kmeans assignment, one cluster-key pair
      // join, keep the far-from-centroid representative
      Clustering.semDedup(emb(s, dir), k = 8, iters = 2, tau = 0.3, dims = 64)),
    "q_minhash_lsh_neardups" -> ((s, dir) => {
      val d = docs(s, dir)
      val cands = lshCands(s, dir)
      // always-nonempty diagnostic: per-doc candidate count
      d.select(col("doc_id")).join(
        cands.select(col("a").as("doc_id")).unionAll(cands.select(col("b").as("doc_id")))
          .groupBy("doc_id").agg(count(lit(1)).as("n_candidates")),
        Seq("doc_id"), "left")
        .na.fill(0, Seq("n_candidates"))
    }),
    "q_dedup_components" -> ((s, dir) =>
      // near-dup clusters: shared LSH candidate pairs -> star
      // contraction to fixpoint (rounds counted; node maps on the
      // driver under the counted node gate). maxIters MUST equal
      // CC_ORACLE_ROUNDS (see dedupComponentsSql). Computed FRESH each
      // call — NOT via the components memo — so the benched number is
      // the real fixpoint iteration, not a cache read; q_dedup_keep
      // measures the compute-once/read-many consumption side instead
      Dedup.connectedComponents(lshCands(s, dir), maxIters = CC_ORACLE_ROUNDS,
        verbose = ccVerbose)),
    "q_dedup_keep" -> ((s, dir) =>
      // the dedup DECISION: keep a doc iff it is its near-dup
      // cluster's representative (the min doc_id); docs in no
      // candidate pair represent themselves
      docs(s, dir).select(col("doc_id"))
        .join(dedupComponents(s, dir).select(col("doc_id"), col("component")),
          Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("component"), col("doc_id")).as("cluster"))
        .withColumn("keep", col("doc_id") === col("cluster"))),
    "q_pair_dedup" -> ((s, dir) => {
      // cross-modality pair curation (the LAION-style gate): a
      // (text, image) training pair is kept only if BOTH sides are
      // their duplicate-cluster representatives — a duplicate in
      // EITHER modality drops the pair. Text clusters are the minhash
      // near-dup components (shared memo with q_dedup_keep); image
      // clusters group on the decoded pixel aHash, which the fixture
      // makes bind cross-modally: id ≡ 9 (mod 10) is a byte-distinct
      // brightness-shifted PNG re-encode of id−1 with an IDENTICAL
      // pixel hash (constant shift moves cell and global means
      // equally), while the two docs' TEXTS are unrelated — so the
      // media leg drops pairs the text leg keeps. Scale shape: the
      // phash groupBy is a 52-bit-key hash agg (no strings shuffle),
      // the rep join is phash-keyed, text reps ride the existing
      // component table.
      val textRep = docs(s, dir).select(col("doc_id"))
        .join(dedupComponents(s, dir).select(col("doc_id"), col("component")),
          Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("component"), col("doc_id")).as("text_rep"))
      val ph = pixelPhashesFresh(s, dir)
      val mediaRep = ph
        .join(ph.groupBy("phash").agg(min("media_id").as("media_rep")), Seq("phash"))
        .select(col("media_id"), col("media_rep"))
      textRep.join(mediaRep, col("doc_id") === col("media_id"))
        .select(col("doc_id"), col("text_rep"), col("media_rep"),
          (col("doc_id") === col("text_rep")).as("keep_text"),
          (col("doc_id") === col("media_rep")).as("keep_media"))
        .withColumn("keep", col("keep_text") && col("keep_media"))
    }),
    "q_neardup_pairs" -> ((s, dir) =>
      // the full minhash pipeline end-to-end: shared shingle hashes
      // -> shared capped candidates -> broadcast-bounded exact
      // Jaccard -> threshold cut (Dedup.minhashNearDups over the
      // memoized intermediates)
      Dedup.jaccardByHashes(docShingles(s, dir), lshCands(s, dir),
        neededDocsHint = Some(lshCandDocs(s, dir)),
        prebuiltSets = Some(freshCandSets(s, dir)))
        .select(col("a"), col("b"), round(col("jaccard"), 6).as("jaccard"))
        .filter(col("jaccard") >= 0.5)),
    "q_neardup_pairs_topk" -> ((s, dir) =>
      // the BOUNDED sibling of q_neardup_pairs (r17 verdict #6): the
      // exact-recall pair surface grows with semantic duplicate
      // density (pair volume inside the 64-member stars), so a
      // 100 TB user also wants a variant whose WORK is bounded, not
      // just its output: rank each anchor's candidates by the free
      // LSH collision count (n_bands from the shared counted
      // candidate table), exact-verify only the top-8 shortlist via
      // a bounded partial aggregate (no window over the full pair
      // list, no straggler task on a boilerplate star), emit the
      // top-3 by (exact jaccard desc, partner asc). See
      // Dedup.neardupTopKByBands for the scale contract.
      Dedup.neardupTopKByBands(docShingles(s, dir), lshCandsCounted(s, dir),
        shortK = 8, finalK = 3, threshold = 0.5,
        neededDocsHint = Some(lshCandDocs(s, dir)),
        prebuiltSets = Some(freshCandSets(s, dir)))),
    "q_lsh_bucket_cap" -> ((s, dir) => {
      // degenerate boilerplate fixture: 50 clones of doc 0 overflow a
      // maxBucket = 8 cap — candidate counts must stay bounded
      // (C(8,2) full pairs + 43 star edges, never C(51,2))
      val corpus = cloneFixture(s, dir)
      val cands = Dedup.lshCandidates(
        Dedup.minhashSignatures(corpus, k = 16), rowsPerBand = 4, maxBucket = 8)
      corpus.select(col("doc_id")).join(
        cands.select(col("a").as("doc_id")).unionAll(cands.select(col("b").as("doc_id")))
          .groupBy("doc_id").agg(count(lit(1)).as("n_candidates")),
        Seq("doc_id"), "left")
        .na.fill(0, Seq("n_candidates"))
    }),
    "q_lsh_bucket_overflow" -> ((s, dir) =>
      // the observability half of the cap: which buckets overflowed,
      // by how much, and who represents them
      Dedup.lshBucketStats(
        Dedup.minhashSignatures(cloneFixture(s, dir), k = 16), rowsPerBand = 4, maxBucket = 8)
        .select(col("band").cast("long").as("band"), col("representative"),
          col("n_members"), col("n_starred"))),
    "q_media_phash" -> ((s, dir) =>
      // average-hash (aHash) perceptual fingerprint over the decoded
      // byte stream — the image near-dup signature, with the stub
      // decode being the identity on bytes
      Multimodal.perceptualHash(Multimodal.syntheticMedia(docs(s, dir)))),
    "q_media_pixel_phash" -> ((s, dir) =>
      // REAL image pipeline (r9): a corpus of actual PNG bytes encoded
      // from a deterministic luma pattern, decoded back through
      // javax.imageio in a partition-batched kernel, aHash computed
      // over the DECODED pixels (13x4 cell grid, exact integer
      // compares). PNG is lossless, so the oracle replays the pattern
      // math while Spark runs the real codec roundtrip. Ids = 9 mod 10
      // are brightness-shifted re-encodes of id-1: different PNG byte
      // stream, IDENTICAL pixel aHash (asserted in Round9Spec, where
      // the byte-level hash provably misses the pair)
      Multimodal.pixelPhash(pngs(s, dir))),
    "q_media_resize_pixels" -> ((s, dir) =>
      // the EXECUTED downsample (complement of q_media_resize's
      // planning step): real PNG decode → integer-area resize to 13×8
      // → digest; all-integer floor-mean cells so the lossless
      // fixture replays in SQL
      Multimodal.resizeImages(pngs(s, dir))),
    "q_media_video" -> ((s, dir) =>
      // REAL video pipeline (r12): a corpus of actual AVI (RIFF)
      // containers with raw-DIB frames encoded from a deterministic
      // per-frame luma pattern, decoded back through the container
      // walk in a partition-batched kernel, per-frame pixel aHash
      // over the DECODED pixels. Raw DIB is lossless, so the oracle
      // replays the pattern math while Spark runs the real container
      // roundtrip (the MJPEG form of the same container is exercised
      // in Round12Spec — JPEG loss makes it non-oracle-replayable).
      // Ids = 9 mod 10 are brightness-shifted re-encodes of id-1:
      // different AVI byte stream, identical per-frame pixel aHash
      Multimodal.videoFrameHashes(Multimodal.syntheticAvis(docs(s, dir)))),
    "q_media_neardups" -> ((s, dir) => {
      // media near-dup detection: perceptual hashes through the SAME
      // banded-hamming machinery as SimHash (the near-dup tail is
      // signature-agnostic) — exact duplicate payloads land identical
      // phashes, so the fixture's duplicate docs make the counts bind
      val ph = Multimodal.perceptualHash(Multimodal.syntheticMedia(docs(s, dir)))
        .select(col("media_id").as("doc_id"), col("phash").as("simhash"))
      Dedup.hammingNearDups(ph, docs(s, dir).select(col("doc_id")),
          maxHamming = 6)
        .select(col("doc_id").as("media_id"), col("n_cand"), col("n_dup"))
    }),
    "q_multimodal_features" -> ((s, dir) => {
      // flatten the feature vector (the comparator can't sort ndarray
      // cells); every value — header metadata and byte-histogram — is
      // integer-derived, so the decode output is oracle-exact
      val f = Multimodal.extractFeatures(Multimodal.syntheticMedia(docs(s, dir)))
      val scalars = Seq("media_id", "kind", "n_bytes", "width", "height", "n_frames").map(col)
      val feats = (0 until 8).map(i => element_at(col("features"), i + 1).as(s"f$i"))
      f.select(scalars ++ feats: _*)
    }),
    "q_frame_sample" -> ((s, dir) =>
      // deterministic frame-sampling plan over the decoded video rows
      Multimodal.sampleFrames(
        Multimodal.extractFeatures(Multimodal.syntheticMedia(docs(s, dir))), everyK = 5)),
    "q_media_resize" -> ((s, dir) =>
      // aspect-preserving resize planning (cap at 100px so the
      // 64..127 stub dimensions actually exercise the scale branch)
      Multimodal.resizePlan(
        Multimodal.extractFeatures(Multimodal.syntheticMedia(docs(s, dir))), maxDim = 100)),
    // -- streaming (oracle-backed: bounded-stream results equal batch SQL) --
    "q_stream_wrms" -> ((s, dir) => {
      import graft.streaming.StreamingOps._
      runToMemorySink(windowedRms(eventsStream(s, dir)), "stream_wrms", "complete")
        .select(unix_seconds(col("w_start")).as("w_start_s"), col("channel"),
          round(col("rms"), 6).as("rms"), col("n"))
    }),
    "q_stream_movrms" -> ((s, dir) => {
      import graft.streaming.StreamingOps._
      runToMemorySink(statefulMovRms(eventsStream(s, dir)), "stream_smovrms", "append")
        .select(col("channel"), col("us"), round(col("rms"), 6).as("rms"))
    }),
    "k_stream_iir" -> ((s, dir) => {
      // continuous lowpass across micro-batches: the filter delay line
      // is the keyed state
      import graft.streaming.StreamingOps._
      val (b, a) = graft.dsp.FilterDesign.butter(2, 0.2, "lowpass")
      runToMemorySink(statefulIir(eventsStream(s, dir), b, a), "stream_iir", "append")
    }),
    "k_wav_roundtrip" -> ((s, dir) => {
      // sink one channel to a WAV, read it back through the DSv2
      // source with frame-range partition splits
      val one = evUniform(s, dir).filter(col("channel") === "click")
      val tmp = new java.io.File(System.getProperty("java.io.tmpdir"), "graft_bench.wav")
      graft.sources.WavSink.writeWav(tmp.getAbsolutePath, 1000, one)
      s.read.format(graft.sources.WavSource.NAME).option("partitionFrames", 4096L)
        .load(tmp.getAbsolutePath).filter(col("ch") === 0)
    }),
    "q_stream_ide" -> ((s, dir) => {
      // native-format ingestion ON THE STREAM through the oracle
      // gate: micro-batches of rollover files (the DSv2-written
      // fixture directory) aggregate per (ch, sub) in complete mode —
      // the bounded stream must equal the batch directory read
      import graft.streaming.StreamingOps._
      val st = graft.signal.Ide.readStream(s, ideWriteFixture(s, dir))
        .groupBy(col("ch"), col("sub"))
        .agg(count(lit(1)).as("n"), sum("v").as("sum_raw"),
          min("t").as("t_min"), max("t").as("t_max"))
        .select(col("ch"), col("sub"), col("n"),
          round(col("sum_raw"), 6).as("sum_v"), col("t_min"), col("t_max"))
      runToMemorySink(st, "stream_ide", "complete")
    }),
    "k_ide_write_roundtrip" -> ((s, dir) => {
      // the DISTRIBUTED write path: the uniform channels leave as a
      // plain (ch, sub, t, v) DataFrame through the DSv2 writer (one
      // rollover file per partition; Spark inserts the cluster/sort
      // the writer declares) and come back through the directory
      // reader — bit-exact, same oracle family as k_ide_roundtrip
      val path = ideWriteFixture(s, dir)
      graft.signal.Ide.read(s, path, partitionBytes = 8192)
        .join(broadcast(graft.signal.Ide.channels(s, path)), Seq("ch", "sub"))
        .select(col("name"), col("t"), col("v"))
    }),
    "k_ide_roundtrip" -> ((s, dir) => {
      // sink every uniform channel to a native .ide recording, read
      // it back through the DSv2 source with block-group partition
      // splits; float64 payloads make the round-trip bit-exact
      val path = ideFixture(s, dir)
      graft.signal.Ide.read(s, path, partitionBytes = 8192)
        .join(broadcast(graft.signal.Ide.channels(s, path)), Seq("ch", "sub"))
        .select(col("name"), col("t"), col("v"))
    }),
    "q_ide_channel_list" -> ((s, dir) =>
      // Endaq.channel_list over the native format (io.py:175-184)
      graft.signal.Ide.channelList(s, ideFixture(s, dir))),
    "q_ide_get_channel" -> ((s, dir) =>
      // Endaq.get_channel by display name (io.py:208-239); the pushed
      // ch filter prunes every other channel's blocks at planning
      graft.signal.Ide.getChannel(s, ideFixture(s, dir), "click")),
    "q_ide_window" -> ((s, dir) =>
      // seek-to-window: the t-range predicate prunes whole blocks by
      // their [startUs, endUs] header interval at planning (the
      // row-group-statistics pattern) — on a 100 GB recording a
      // 1-minute window reads only that minute's blocks
      graft.signal.Ide.getChannel(s, ideFixture(s, dir), "click")
        .filter(col("t") >= 0.001 && col("t") < 0.35)),
    "q_stream_sessions" -> ((s, dir) => {
      // streaming sessionization: native session_window state merged
      // across micro-batches; complete mode emits every closed-and-open
      // session over the bounded source
      import graft.streaming.StreamingOps._
      runToMemorySink(sessionWindows(userEventsStream(s, dir)), "stream_sessions", "complete")
        .select(col("user_id"), col("start_us"), col("n_events"),
          round(col("sum_value") + 1e-7, 4).as("sum_value"))
    }),
    "q_stream_dedup" -> ((s, dir) => {
      // streaming exact-dedup: watermarked dropDuplicates on the
      // (channel, ts) key — the streaming analog of deduplicate()
      import graft.streaming.StreamingOps._
      val st = eventsStream(s, dir)
        .withWatermark("ts", "1 hour").dropDuplicates("channel", "ts")
        .groupBy("channel").agg(count(lit(1)).as("n_distinct"))
      runToMemorySink(st, "stream_dedup", "complete")
    }),
    "q_stream_fingerprint" -> ((s, dir) => {
      // streaming corpus dedup: fingerprint dropDuplicates state
      // merged across micro-batches; bounded stream ≡ batch distinct
      import graft.streaming.StreamingOps._
      runToMemorySink(streamFingerprintDedup(documentsStream(s, dir)),
        "stream_fingerprint", "complete")
    }),
    "q_stream_phash" -> ((s, dir) => {
      // multimodal admission ON THE STREAM: each arriving payload is
      // perceptual-hashed by the fused expression (stateless, no
      // explode), its 4 band keys probe the static ranked band table
      // with the EXACT bandedPairs cap semantics (full pairing to
      // rank 256, star edges beyond — r_self comes from the same
      // static table, since the bounded stream's universe IS the
      // corpus), hamming verify, per-doc counts ≡ batch
      // q_media_neardups on the non-empty-text universe
      import graft.streaming.StreamingOps._
      val sigStatic = Multimodal.perceptualHash(
          Multimodal.syntheticMedia(docs(s, dir)))
        .select(col("media_id").as("doc_id"), col("phash").as("simhash"))
      val bandStatic = Dedup.hammingBandTable(sigStatic)
      val selfR = bandStatic.select(col("band"), col("key"),
        col("doc_id").as("media_id"), col("r").as("r_self"))
      val partners = bandStatic.select(col("band").as("pband"),
        col("key").as("pkey"), col("doc_id").as("partner"),
        col("simhash").as("psig"), col("r").as("r_p"))
      val stMedia = documentsStream(s, dir)
        .filter(col("text").isNotNull && length(col("text")) > 0)
        .select(col("doc_id").as("media_id"), lit("image").as("kind"),
          to_binary(col("text"), lit("utf-8")).as("bytes"))
      val bandBits = 13
      val probe = Multimodal.perceptualHash(stMedia)
        .select(col("media_id"), col("phash"),
          explode(array((0 until 4).map(b =>
            struct(lit(b).as("band"),
              pmod(floor(col("phash") / pow(lit(2.0), lit(b * bandBits))).cast("long"),
                lit(1L << bandBits)).as("key"))): _*)).as("bk"))
        .select(col("media_id"), col("phash"),
          col("bk.band").as("band"), col("bk.key").as("key"))
        .join(selfR, Seq("band", "key", "media_id"))
      val capOk = (col("r_self") <= 256 && col("r_p") <= 256) ||
        (col("r_self") === 1 && col("r_p") > 256) ||
        (col("r_self") > 256 && col("r_p") === 1)
      val out = probe.join(partners,
          col("band") === col("pband") && col("key") === col("pkey") &&
            col("partner") =!= col("media_id") && capOk, "left")
        .dropDuplicates("media_id", "partner")
        .groupBy("media_id")
        .agg(count(col("partner")).as("n_cand"),
          sum(when(col("partner").isNotNull &&
            Dedup.hamming(col("phash"), col("psig")) <= 6, 1L)
            .otherwise(0L)).as("n_dup"))
      runToMemorySink(out, "stream_phash", "complete")
    }),
    "q_stream_split" -> ((s, dir) => {
      // leakage-free split ROUTING per arriving document: stream-
      // static join to the memoized components table, split decided
      // on the cluster representative — admission-time routing ≡ the
      // batch q_split_leakfree assignment, same oracle. Stateless
      // append: no watermark, no store
      import graft.streaming.StreamingOps._
      val comp = dedupComponents(s, dir).select(col("doc_id"), col("component"))
      val st = documentsStream(s, dir)
        .select(col("doc_id"))
        .join(comp, Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("component"), col("doc_id")).as("rep"))
      runToMemorySink(
        Sampling.hashSplit(st, col("rep"), "split1",
            Seq("train" -> 80, "val" -> 10, "test" -> 10))
          .select(col("doc_id"), col("rep"), col("split")),
        "stream_split", "append")
    }),
    "q_stream_tokens" -> ((s, dir) => {
      // token-count metering ON THE STREAM: arriving documents are
      // tokenized and stream-static joined against the word→length
      // table encoded ONCE from the merges trained on the static
      // corpus (models are batch artifacts; streams consume them).
      // Byte-fallback for unseen words is the same left-join +
      // coalesce(1) as the batch path, so the bounded stream equals
      // q_bpe_tokens and shares its oracle
      import graft.streaming.StreamingOps._
      val enc = Bpe.encode(
          docTermCounts(s, dir).select(col("term").as("word")).distinct(),
          bpeMergeList(s, dir))
        .select(col("word").as("term"), col("n_tokens"))
      val st = documentsStream(s, dir)
        .filter(col("text").isNotNull)
        .select(col("doc_id"),
          explode(TextAnalysis.tokensOf(col("text"))).as("term"))
        .join(enc, Seq("term"), "left")
        .groupBy("doc_id")
        .agg(sum(coalesce(col("n_tokens"), lit(1))).cast("long").as("n_bpe_tokens"))
      runToMemorySink(st, "stream_tokens", "complete")
    }),
    "q_stream_redact" -> ((s, dir) => {
      // admission-time PII scrub ON THE STREAM: the same injection +
      // stage-ordered masking as q_pii_redact, applied per arriving
      // document — a stateless per-row projection (append mode, no
      // watermark, no state store), the shape that runs at ingest
      // throughput at any scale. Bounded stream ≡ the batch query,
      // so the two share one oracle
      import graft.streaming.StreamingOps._
      runToMemorySink(
        TextAnalysis.redactPii(piiInjected(documentsStream(s, dir))),
        "stream_redact", "append")
    }),
    "q_stream_lsh_buckets" -> ((s, dir) => {
      // ingestion-time near-dup bucketing: the per-row (map-side)
      // minhash band keys assigned AS DOCUMENTS ARRIVE on the stream,
      // with stateful occupancy counts — colliding buckets (the dup
      // candidates) must equal the batch band table exactly
      import graft.streaming.StreamingOps._
      val st = Dedup.explodedBandKeys(documentsStream(s, dir))
        .groupBy(col("band"), col("sig"))
        .agg(count(lit(1)).as("n_members"))
        .filter(col("n_members") > 1)
      runToMemorySink(st, "stream_lsh_buckets", "complete")
        .select(col("band").cast("long").as("band"), col("sig"), col("n_members"))
    }),
    "q_stream_lsh_match" -> ((s, dir) => {
      // incremental dedup admission: probe documents ARRIVING on the
      // stream compute their band keys map-side and equi-join the
      // PERSISTED corpus band table (bucketed by (band, sig) in the
      // warehouse — see persistedBandTable) — a stream-static join
      // holds no join state; the only streaming state is the final
      // pair aggregate. Output: candidate partners per arriving doc
      // with shared-band multiplicity. The catalog table is visible
      // from the stream's session clone, so the corpus bands are
      // derived once per process instead of once per query.
      //
      // DIAGNOSTIC (exact-recall baseline, the q_cosine_neardups
      // precedent): matches per probe grow with band-bucket occupancy
      // ∝ N, so total pair output is Θ(N²) BY SEMANTICS — its sf1
      // ladder row measured 1.45 (r15). The production-shaped form is
      // q_stream_lsh_match_capped below (corpus side rank-capped at
      // the same 64-member bound as Dedup.lshCandidates, output
      // linear in probes); this uncapped form is kept for exact
      // candidate recall at audit scales.
      import graft.streaming.StreamingOps._
      val bandTable = persistedBandTable(s, dir)
      val probes = documentsStream(s, dir).filter(col("doc_id") % 7 === 0)
      val corpus = probes.sparkSession.table(bandTable)
        .select(col("doc_id").as("partner"), col("band"), col("sig"))
      val st = Dedup.explodedBandKeys(probes)
        .join(corpus, Seq("band", "sig"))
        .filter(col("partner") =!= col("doc_id"))
        .groupBy("doc_id", "partner").agg(count(lit(1)).as("n_shared_bands"))
      runToMemorySink(st, "stream_lsh_match", "complete")
    }),
    "q_stream_lsh_match_capped" -> ((s, dir) => {
      // the PRODUCTION form of the stream-static admission probe: the
      // corpus side of each (band, sig) bucket is rank-capped at 64
      // members (ordered by doc_id — the same star-cap bound
      // Dedup.lshCandidates uses for the batch pipeline), so each
      // probe band key meets ≤ 64 partners and match output is LINEAR
      // in probes regardless of bucket occupancy. Within-cap members
      // are the bucket's admission representatives; a probe that
      // matches ANY member of an over-full bucket still matches its
      // rank-1 representative, so the admission decision (min over
      // partner clusters) is unchanged — only the exhaustive partner
      // enumeration is shed, exactly like the batch star cap. The
      // rank is computed once per micro-batch on the bucketed table
      // (bucket layout already clusters (band, sig), so the window
      // sorts within buckets without a full shuffle).
      import graft.streaming.StreamingOps._
      val bandTable = persistedBandTable(s, dir)
      val probes = documentsStream(s, dir).filter(col("doc_id") % 7 === 0)
      val st = Dedup.cappedBandProbe(
        Dedup.explodedBandKeys(probes), probes.sparkSession.table(bandTable))
      runToMemorySink(st, "stream_lsh_match_capped", "complete")
    }),
    "q_stream_admit" -> ((s, dir) => {
      // the CLOSED admission loop: an arriving document computes its
      // band keys map-side, probes the persisted corpus band table,
      // maps every candidate partner (itself included — a doc always
      // matches its own persisted bands) to its near-dup cluster
      // representative via the persisted components table, and is
      // ADMITTED iff it IS the representative of everything it
      // touched: min over partner clusters == own doc_id. Two
      // stream-static joins + one aggregate — no fixpoint, no
      // stream-stream state. Band-mates are always same-component
      // (the star cap keeps capped buckets connected), so the
      // decision is provably identical to the batch keep/drop
      // (q_dedup_keep) restricted to the probe subset — which is
      // exactly what the oracle checks.
      import graft.streaming.StreamingOps._
      val bandTable = persistedBandTable(s, dir)
      val compTable = persistedComponentsTable(s, dir)
      val probes = documentsStream(s, dir).filter(col("doc_id") % 7 === 0)
      val sc = probes.sparkSession
      val bands = sc.table(bandTable)
        .select(col("doc_id").as("partner"), col("band"), col("sig"))
      val comps = sc.table(compTable)
        .select(col("doc_id").as("partner"), col("component"))
      val st = Dedup.explodedBandKeys(probes)
        .join(bands, Seq("band", "sig"))
        .join(comps, Seq("partner"), "left")
        .select(col("doc_id"), coalesce(col("component"), col("partner")).as("pcluster"))
        .groupBy("doc_id").agg(min("pcluster").as("cluster"))
        .withColumn("admitted", col("doc_id") === col("cluster"))
      runToMemorySink(st, "stream_admit", "complete")
    }),
    "q_stream_admit_incr" -> ((s, dir) => {
      // STREAM-STREAM dedup closure: unlike q_stream_admit (whose
      // stream-static joins see only the PERSISTED corpus), every
      // micro-batch here also bands its arrivals against each other
      // and against all prior arrivals, merging clusters incrementally
      // via foreachBatch (Dedup.admitIncrementalBatch) — so N arriving
      // clones of each other, persisted nowhere, admit exactly one.
      // The streamed slice (doc_id % 10 != 0) is DISJOINT from the
      // persisted slice (% 10 == 0) by construction; the oracle
      // replays the decision from the full-corpus component fixpoint:
      // admitted = no persisted member in the cluster AND min streamed
      // member (connectivity is star-cap-invariant, so the capped
      // batch components equal the incremental uncapped merge).
      import graft.streaming.StreamingOps._
      val (bandsT, compsT) = persistedIncrTables(s, dir)
      val st = documentsStream(s, dir).filter(col("doc_id") % 10 =!= 0)
      runIncrementalAdmit(st, sc => (sc.table(bandsT), sc.table(compsT)))
    }),
    "q_stream_admit_persist" -> ((s, dir) => {
      // the PRODUCTION form of q_stream_admit_incr: identical
      // admission decisions (same admitIncrementalCore per batch;
      // single-file fixture → single batch → first-arrival-wins ≡
      // the oracle's global-min rule), but state lives in APPEND-only
      // warehouse tables — bucketed band log + relabel delta log
      // compacted via compressRelabel — so per-batch writes are
      // O(|batch| + |touched clusters|), not O(|state|). Multi-batch
      // semantics and batch-sized-write accounting are pinned in
      // Round11Spec, where file delivery order is controlled.
      import graft.streaming.StreamingOps._
      val (bandsT, compsT) = persistedIncrTables(s, dir)
      val st = documentsStream(s, dir).filter(col("doc_id") % 10 =!= 0)
      runIncrementalAdmitPersisted(st, bandsT, compsT,
        tag = tableSuffix(dir), compactEvery = 8)
    }),
    "q_stream_decontaminate" -> ((s, dir) => {
      // admission-time decontamination: every arriving non-benchmark
      // document is checked against the BROADCAST benchmark
      // shingle-hash set map-side (typed kernel; zero shuffle, no
      // streaming state beyond the sink) — bounded stream ≡ the
      // batch q_decontaminate table, same oracle
      import graft.streaming.StreamingOps._
      // null-text docs are dropped on BOTH paths (batch: shingles()
      // filters them; stream: this filter) — one semantics, asserted
      // with a null-text fixture in Round6Spec
      val probes = documentsStream(s, dir)
        .filter(col("doc_id") % 97 =!= 0 && col("text").isNotNull)
      val sc = probes.sparkSession
      import sc.implicits._
      // blocklist trained per call on the ROOT session's shared
      // shingle substrate (broadcasts cross the session-clone
      // boundary; memoizing on the clone bypassed release() — r18)
      val benchSet = benchShingleSetOf(s, dir)
      val flagged = probes.select(col("doc_id").cast("long"), col("text")).as[(Long, String)]
        .map { case (id, t) =>
          val set = Dedup.shingleH1sOf(t)
          val hits = set.count(benchSet.value.contains)
          (id, set.size.toLong, hits.toLong,
            BigDecimal(hits.toDouble / set.size)
              .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble,
            if (hits * 10 >= set.size) 1 else 0)
        }
        .toDF("doc_id", "n_shingles", "hits", "overlap", "contaminated")
      // the sink drains the stream before returning, so the blocklist
      // is dead once it does — destroy it instead of leaking one
      // broadcast per call
      try runToMemorySink(flagged, "stream_decontaminate", "append")
      finally benchSet.destroy()
    }),
    "q_stream_curate" -> ((s, dir) => {
      // the FULL admission pipeline ON THE STREAM: every arriving
      // corpus document gets the identical decision q_curate_pipeline
      // computes in batch (same oracle), from one linear streaming
      // plan — no stream-stream join, no fixpoint. Per-row work:
      // inject/redact/quality/mix as pure projections (the batch
      // expressions verbatim); contamination + repetition gates +
      // band keys in ONE typed kernel (broadcast benchmark set, the
      // q_stream_decontaminate pattern, at the strict 70% bar); then
      // two stream-static joins against the persisted band/components
      // tables and one grouped min — the q_stream_admit shape, whose
      // band-mates-share-components argument makes the keep decision
      // provably equal to the batch coalesce(component, doc_id) test.
      // Mix thresholds are TRAINED on the static scrubbed corpus
      // (identical counts to the batch stage) and applied as literal
      // compares per arriving row.
      import graft.streaming.StreamingOps._
      val bandTable = persistedBandTable(s, dir)
      val compTable = persistedComponentsTable(s, dir)
      val thresholds = Sampling.mixThresholds(redactedCorpus(s, dir), col("lang"), MIX_WEIGHTS)
      val probes = documentsStream(s, dir).filter(col("doc_id") % 97 =!= 0)
      val sc = probes.sparkSession
      import sc.implicits._
      // per-call blocklist train, root-session substrate (see
      // q_stream_decontaminate)
      val benchSet = benchShingleSetOf(s, dir)
      val sigs = TextAnalysis.redactPii(probes.withColumn("itext", piiInjectExpr),
          textCol = "itext", keep = Seq("lang", "text"))
        .select(col("doc_id").cast("long"), col("lang"), col("text"),
          (col("n_email") + col("n_ip") + col("n_num")).cast("long").as("n_pii"),
          round(TextAnalysis.qualityScore(col("redacted")) + 1e-7, 4).as("quality"),
          Sampling.mixAdmitExpr(col("lang"), col("doc_id"), "mix1", thresholds)
            .as("mix_admitted"),
          col("redacted"))
      val banded = sigs
        .as[(Long, String, String, Long, Double, Boolean, String)]
        .flatMap { case (id, lang, text, npii, q, mix, redacted) =>
          if (text == null) Seq.empty
          else {
            // fused single shingle-md5 pass for the contamination set
            // AND the band keys (r19 — the kernel ran it twice)
            val (sh, bandKeys) = Dedup.h1SetAndBandKeysOf(text)
            val hits = sh.count(benchSet.value.contains)
            val contaminated = if (hits * 10 >= 7 * sh.size) 1 else 0
            // repetition gates on the REDACTED text, replaying the
            // batch tokenization per row (trim/lower/\s+ split;
            // exact integer counts, one IEEE division per ratio)
            val toks = redacted.trim.toLowerCase(java.util.Locale.ROOT).split("\\s+")
            val uni = new scala.collection.mutable.HashMap[String, Long]
            toks.foreach(t => uni.update(t, uni.getOrElse(t, 0L) + 1L))
            val nTokens = toks.length.toLong
            val dr = uni.size.toDouble / nTokens
            val ttf = uni.values.max.toDouble / nTokens
            val repOk = dr >= 0.35 && ttf <= 0.15 && (toks.length < 2 || {
              val bi = new scala.collection.mutable.HashMap[String, Long]
              var i = 0
              while (i < toks.length - 1) {
                val g = toks(i) + " " + toks(i + 1)
                bi.update(g, bi.getOrElse(g, 0L) + 1L)
                i += 1
              }
              bi.values.max.toDouble / (toks.length - 1) <= 0.25
            })
            bandKeys.map { case (b, sg) =>
              (id, lang, contaminated, npii, q, repOk, mix, b, sg)
            }
          }
        }
        .toDF("doc_id", "lang", "contaminated", "n_pii", "quality",
          "rep_ok", "mix_admitted", "band", "sig")
      val bands = sc.table(bandTable)
        .select(col("doc_id").as("partner"), col("band"), col("sig"))
      val comps = sc.table(compTable)
        .select(col("doc_id").as("partner"), col("component"))
      val grouped = banded
        .join(bands, Seq("band", "sig"))
        .join(comps, Seq("partner"), "left")
        .select(col("doc_id"), col("lang"), col("contaminated"), col("n_pii"),
          col("quality"), col("rep_ok"), col("mix_admitted"),
          coalesce(col("component"), col("partner")).as("pcluster"))
        .groupBy("doc_id", "lang", "contaminated", "n_pii", "quality",
          "rep_ok", "mix_admitted")
        .agg(min("pcluster").as("cluster"))
      val keepC = col("doc_id") === col("cluster")
      val qOk = col("quality") >= 0.5
      val out = grouped.select(col("doc_id"), col("lang"), col("contaminated"),
        keepC.as("keep"), col("n_pii"), col("quality"),
        qOk.as("quality_ok"), col("rep_ok"), col("mix_admitted"),
        (col("contaminated") === 0 && keepC && qOk && col("rep_ok") &&
          col("mix_admitted")).as("admitted"))
      try runToMemorySink(out, "stream_curate", "complete")
      finally benchSet.destroy()
    }),
    "q_movrms_time" -> ((s, dir) =>
      // raw doubles, no output rounding: the quantized accumulation
      // makes v bit-identical across engines (see the oracle note)
      Signal(evUniform(s, dir)).movRms(7200.0).df
        .select(col("channel"), col("t"), col("v"))),
    // %.4e: the chunked cogroup solve and the windowed prefix-sum
    // diverge from the oracle's sequential replay at fp-roundoff
    "k_resample_cubic" -> ((s, dir) =>
      Interp.resample(ev(s, dir), 1.0 / 1000.0, "cubic")
        .select(col("channel"), col("t"), format_string("%.4e", col("v")).as("v"))),
    "k_resample_quadratic" -> ((s, dir) =>
      Interp.resample(ev(s, dir), 1.0 / 1000.0, "quadratic")
        .select(col("channel"), col("t"), format_string("%.4e", col("v")).as("v"))),
    "k_filtfilt_parallel" -> ((s, dir) => {
      val sr = 1.0 / 3600.0
      val (b, a) = graft.dsp.FilterDesign.butter(2, (sr / 8) / (sr / 2), "lowpass")
      // %.4e: the chunk state handoff reassociates fp vs the
      // sequential recurrence the oracle replays (~1e-13 relative)
      graft.ops.ParallelIIR.filtfiltDistributed(evUniform(s, dir), b, a, chunk = 500)
        .select(col("channel"), col("t"), format_string("%.4e", col("v")).as("v"))
    }),
    "k_srs_freq_parallel" -> ((s, dir) =>
      Kernels.srsParallel(evUniform(s, dir),
        Array(1e-5, 2e-5, 3e-5, 5e-5, 7e-5, 1e-4, 1.3e-4), freqChunk = 2)),
    "k_iir_parallel" -> ((s, dir) => {
      // chunk-parallel lowpass over the uniform grid: exercises the
      // linear-recurrence scan (parallelism WITHIN a channel); %.4e
      // as in k_filtfilt_parallel
      val sr = 1.0 / 3600.0
      val (b, a) = graft.dsp.FilterDesign.butter(2, (sr / 8) / (sr / 2), "lowpass")
      graft.ops.ParallelIIR.lfilterDistributed(evUniform(s, dir), b, a, chunk = 500)
        .select(col("channel"), col("t"), format_string("%.4e", col("v")).as("v"))
    }),

    // -- sessionization (behavioral grouping over the raw event log) --
    "q_sessionize" -> ((s, dir) =>
      Sessions.sessionize(rawEvents(s, dir), gapSec = 28800)
        .select(col("event_id"), col("user_id"), col("session_seq"))),
    "q_session_stats" -> ((s, dir) =>
      Sessions.sessionStats(rawEvents(s, dir), gapSec = 28800)
        .select(col("user_id"), col("session_seq"), col("n_events"),
          col("dur_sec"), round(col("sum_value") + 1e-7, 4).as("sum_value"))),

    // -- repetition / n-gram quality signals (Gopher-style) --
    "q_repetition" -> ((s, dir) =>
      TextAnalysis.repetition(docs(s, dir), tc = Some(docTermCounts(s, dir)))),

    "q_dup_ngram_cov" -> ((s, dir) =>
      // Gopher's duplicate-n-gram coverage (Rae et al. 2021 §A1.1):
      // fraction of token positions covered by a WITHIN-doc repeated
      // 6-gram — overlap-aware via the covered-position union, the
      // same coverage algebra as the exact-substring rewrite.
      // Computed entirely map-side (sort-walk expression, zero
      // exchanges)
      TextAnalysis.dupNgramCoverage(docs(s, dir), n = 6)),

    "q_stream_dup_ngram" -> ((s, dir) => {
      // the same coverage signal ON THE STREAM: duplication is a
      // within-document property and the sort-walk form is a pure
      // projection, so this runs append-mode with no state store —
      // ingest-throughput shape at any scale; bounded stream ≡ the
      // batch query, one shared oracle
      import graft.streaming.StreamingOps._
      runToMemorySink(
        TextAnalysis.dupNgramCoverage(documentsStream(s, dir), n = 6),
        "stream_dup_ngram")
    }),

    "q_lm_score" -> ((s, dir) =>
      // CCNet-style LM quality filter: corpus-trained add-one bigram
      // model, per-doc mean conditional log-probability — the model is
      // an aggregate of the same job, no external artifacts
      TextAnalysis.lmScore(docs(s, dir), tc = Some(docTermCounts(s, dir)))),

    "q_dsir_score" -> ((s, dir) =>
      // DSIR hashed-n-gram importance weights (Xie et al. 2023):
      // "how much more does this doc look like the target (here:
      // lang='en') than like the raw pool" — the selection score
      // behind importance resampling; both multinomials are
      // aggregates of one corpus scan, scoring is a broadcast join
      // on the 4096-slot bucket key
      TextAnalysis.dsirScore(docs(s, dir), isTarget = col("lang") === "en")),

    // -- corpus vocabulary (top-K terms — tokenizer/BPE seeding) --
    "q_vocab" -> ((s, dir) =>
      // distributed top-K: orderBy+limit plans as TakeOrderedAndProject
      // (per-partition heaps, no global sort); ordering fully
      // deterministic on (count desc, df desc, term asc)
      docTermCounts(s, dir)
        .groupBy("term")
        .agg(sum("tf").as("n_tokens"), count(lit(1)).as("n_docs"))
        .orderBy(col("n_tokens").desc, col("n_docs").desc, col("term").asc)
        .limit(100)),

    // -- mergeable sketches: profiling at constant exchange width --
    "q_hll_distinct" -> ((s, dir) => {
      // per-source distinct-content estimate (the dedup-rate profile
      // a crawl pipeline reads before committing to a full dedup):
      // HLL register table = 256 longs/source regardless of corpus
      // size, vs count(DISTINCT fp)'s every-distinct-key exchange.
      // Both emitted side by side; the md5-derived sketch replays
      // value-exactly in DuckDB (Sketches.scala scaladoc)
      val f = docs(s, dir).select(col("source"),
        TextAnalysis.fingerprint(col("text")).as("fp"))
      val exact = f.groupBy("source").agg(countDistinct("fp").as("n_exact"))
      exact.join(Sketches.hllDistinct(f, col("fp"), Seq("source")), Seq("source"))
    }),
    "q_hll_users" -> ((s, dir) => {
      // distinct-user estimate per event type — the raw-regime leg
      // (n per key outgrows 2.5m at sf0.1, exercising the harmonic
      // estimator; q_hll_distinct stays in the linear-counting leg)
      val e = rawEvents(s, dir).select(col("event_type"),
        col("user_id").cast("string").as("uid"))
      val exact = e.groupBy("event_type").agg(countDistinct("uid").as("n_exact"))
      exact.join(Sketches.hllDistinct(e, col("uid"), Seq("event_type"), m = 64),
        Seq("event_type"))
    }),
    "q_stream_hll" -> ((s, dir) => {
      // the same register aggregate ON THE STREAM: max-merge registers
      // are the canonical bounded-state streaming distinct — state is
      // ≤ 256 rows per source FOREVER, vs dropDuplicates' state that
      // grows with every distinct key seen. Bounded stream ≡ batch,
      // shared estimator SQL
      import graft.streaming.StreamingOps._
      val regs = runToMemorySink(
        Sketches.hllRegisters(
          documentsStream(s, dir).select(col("source"),
            TextAnalysis.fingerprint(col("text")).as("fp")),
          col("fp"), Seq("source")),
        "stream_hll", mode = "complete")
      Sketches.hllEstimate(regs, Seq("source"))
    }),
    "q_cms_heavy" -> ((s, dir) => {
      // count-min heavy hitters: the 4×1024 cell grid caps every
      // map-side partial at 4096 rows no matter the vocabulary; the
      // exact top-20 (computed here only to grade the sketch) is what
      // the sketch replaces at scale. overest_ok pins the one-sided
      // guarantee row by row
      val tc = docTermCounts(s, dir)
      val cells = Sketches.cmsCells(tc, col("term"), col("tf"))
      val top = tc.groupBy("term").agg(sum("tf").cast("long").as("exact_cnt"))
        .orderBy(col("exact_cnt").desc, col("term").asc).limit(20)
      top.join(Sketches.cmsEstimate(cells, top.select(col("term").as("k"))),
          top("term") === col("k"))
        .select(col("term"), col("exact_cnt"), col("cms_est"),
          (col("cms_est") >= col("exact_cnt")).as("overest_ok"))
    }),

    "q_len_quantiles" -> ((s, dir) =>
      // distribution leg of the profiling trio: per-lang token-length
      // p50/p90/p99 off a 32-bin equi-width histogram — constant-width
      // exchange vs the full sort an exact percentile costs
      Sketches.histQuantiles(
        docs(s, dir).select(col("lang"),
          TextAnalysis.wsTokenCount(col("text")).as("n_toks")),
        col("n_toks"), Seq("lang"), width = 4, nbins = 32)),

    "q_profile_card" -> ((s, dir) => {
      // the sketch trio COMPOSED: per-source volume + HLL
      // distinct-content estimate + token-length quantiles — the
      // per-ingest-source review table; every leg a constant-width
      // aggregate off ONE projection, joined at |sources| grain
      val f = docs(s, dir).select(col("source"),
        TextAnalysis.fingerprint(col("text")).as("fp"),
        TextAnalysis.wsTokenCount(col("text")).as("n_toks"))
      Sketches.histQuantiles(f, col("n_toks"), Seq("source"),
          width = 4, nbins = 32)
        .join(Sketches.hllDistinct(f, col("fp"), Seq("source")), Seq("source"))
    }),

    "q_stream_profile" -> ((s, dir) => {
      // the profile card ON THE STREAM: both legs are constant-state
      // complete-mode aggregates (≤256 registers + ≤32 bins per
      // source, max/count-sum merged across micro-batches — state
      // bounded FOREVER on an unbounded stream), finished batch-side
      // by the shared estimator/read-off. Bounded stream ≡ batch →
      // same oracle as q_profile_card
      import graft.streaming.StreamingOps._
      // ONE streaming pass for both sketches (runProfileSketches):
      // the two complete-mode aggregates cannot share a streaming
      // query, but their merges are associative, so foreachBatch
      // computes both per batch and re-merges constant-size state —
      // one corpus scan + one engine start instead of two (r18). The
      // returned frames are RDD-rebased (fresh attribute ids), so the
      // quantile read-off's self-join needs no extra shed.
      val f = documentsStream(s, dir).select(col("source"),
        TextAnalysis.fingerprint(col("text")).as("fp"),
        TextAnalysis.wsTokenCount(col("text")).as("n_toks"))
      val (regs, bins) = runProfileSketches(f)
      Sketches.quantilesFromBins(bins, Seq("source"), width = 4)
        .join(Sketches.hllEstimate(regs, Seq("source")), Seq("source"))
    }),

    // -- skew-salted join --
    "q_salted_join" -> ((s, dir) => {
      // 5 event types into 32 shuffle partitions = 27 idle tasks and 5
      // hot ones; salting ×8 spreads each key over 8 sub-keys (result
      // provably identical to the plain join — the oracle IS the
      // plain join; Round13Spec pins the partition-balance claim)
      val e = rawEvents(s, dir).select(col("event_id"), col("event_type"),
        col("value"))
      val dim = e.groupBy("event_type").agg(avg("value").as("type_avg"))
      Skew.saltedJoin(e, dim, "event_type", salts = 8)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          round(sum(abs(col("value") - col("type_avg"))) + 1e-7, 2).as("sum_absdev"))
    }),

    // -- lexical ranking: TF-IDF salient terms, BM25 retrieval --
    "q_tfidf_topk" -> ((s, dir) =>
      Ranking.tfidfTopK(docs(s, dir), k = 3, tc = Some(docTermCounts(s, dir)))
        .select(col("doc_id"), col("rank"), col("term"), col("tf"), col("df"),
          round(col("tfidf") + 1e-7, 6).as("tfidf"))),
    "q_bm25" -> ((s, dir) =>
      Ranking.bm25(docs(s, dir), Seq("spark", "data", "query", "window", "stream"),
          tc = Some(docTermCounts(s, dir)))
        .select(col("doc_id"), round(col("bm25") + 1e-7, 4).as("bm25"),
          col("n_matched"))),

    // -- deterministic sampling / splitting --
    "q_hash_split" -> ((s, dir) =>
      Sampling.hashSplit(docs(s, dir), col("doc_id"), "split1",
          Seq("train" -> 80, "val" -> 10, "test" -> 10))
        .select(col("doc_id"), col("lang"), col("split"))),
    "q_split_leakfree" -> ((s, dir) => {
      // leakage-free split: the split key is the doc's near-dup
      // COMPONENT representative, so a train/test boundary can never
      // separate two near-duplicates — the eval-leak a doc_id-keyed
      // split structurally allows (Round8Spec demonstrates the leak
      // in q_hash_split that this closes). Components come from the
      // memoized table (compute once, consume many)
      val comp = dedupComponents(s, dir).select(col("doc_id"), col("component"))
      val d = docs(s, dir).select(col("doc_id"), col("lang"))
        .join(comp, Seq("doc_id"), "left")
        .select(col("doc_id"), col("lang"),
          coalesce(col("component"), col("doc_id")).as("rep"))
      Sampling.hashSplit(d, col("rep"), "split1",
          Seq("train" -> 80, "val" -> 10, "test" -> 10))
        .select(col("doc_id"), col("rep"), col("split"))
    }),
    "q_stratified_sample" -> ((s, dir) =>
      Sampling.stratifiedSample(docs(s, dir), col("lang"), col("doc_id"), "strat1",
          Map("en" -> 0.25, "de" -> 0.5, "fr" -> 0.5, "es" -> 0.5, "zh" -> 0.1))
        .select(col("doc_id"), col("lang"))),
    "q_group_sample" -> ((s, dir) =>
      Sampling.perGroupSample(docs(s, dir), col("source"), col("doc_id"), "grp1", k = 5)
        .select(col("source"), col("sample_rank"), col("doc_id"))),
    "q_mix_resample" -> ((s, dir) =>
      // the mix ACTION consuming the q_source_mix report: target
      // language weights -> exact integer admission thresholds (the
      // scarcest-per-weight language is kept whole), decided by a
      // map-side salted-hash compare per row — deterministic,
      // retry-invariant, zero shuffle after the one tiny count
      Sampling.mixResample(docs(s, dir), col("lang"), col("doc_id"), "mix1",
          MIX_WEIGHTS)
        .select(col("doc_id"), col("lang"), col("admitted"))),

    // -- the curation pipeline COMPOSED end-to-end: decontaminate ->
    // dedup keep -> PII redact -> quality/repetition gates -> mixture
    // re-weighting, in one job. Every per-doc signal rides a shared
    // cached intermediate (shingle hashes feed both decontamination
    // and the dedup components; the scrubbed text feeds quality,
    // repetition AND the mix decision), so the corpus text is scanned
    // once per distinct representation, never once per stage --
    "q_curate_pipeline" -> ((s, dir) => {
      val sh = docShingles(s, dir)
      // stage 1: benchmark decontamination (docs % 97 == 0 stand in
      // for the held-out eval set and are excluded from the corpus).
      // The gate is 70% shingle overlap, stricter than the report's
      // 10% advisory flag: the stand-in benchmark docs are drawn from
      // the same synthetic distribution as the corpus, so common
      // character 5-grams alone put every doc past 50% — the
      // admission decision needs the bar that indicates actual
      // test-set leakage, not shared surface vocabulary. Exact
      // integer arithmetic, same as the 10% flag
      val decon = Dedup.benchmarkOverlap(
          sh.filter(col("doc_id") % 97 =!= 0),
          sh.filter(col("doc_id") % 97 === 0))
        .select(col("doc_id"),
          when(col("hits") * 10 >= col("n_shingles") * 7, 1).otherwise(0)
            .as("contaminated"))
      // stage 2: near-dup keep decision off the memoized components
      val comp = dedupComponents(s, dir).select(col("doc_id"), col("component"))
      // stage 3: the memoized scrubbed corpus (inject + 3-stage mask)
      val red = redactedCorpus(s, dir)
      // stage 4: quality + repetition gates ON THE REDACTED TEXT (the
      // text that would enter training — gating pre-scrub text is the
      // composition bug this query exists to catch)
      val rep = TextAnalysis.repetition(
          red.select(col("doc_id"), col("redacted").as("text")))
        .select(col("doc_id"), col("distinct_ratio"), col("top_tok_frac"),
          col("top_bigram_frac"))
      // stage 5: mixture re-weighting over the surviving-language
      // counts (one tiny collected agg over the cached scrub table)
      val spine = Sampling.mixResample(red, col("lang"), col("doc_id"),
          "mix1", MIX_WEIGHTS)
        .select(col("doc_id"), col("lang"), col("n_pii"),
          round(TextAnalysis.qualityScore(col("redacted")) + 1e-7, 4).as("quality"),
          col("admitted").as("mix_admitted"))
      val keepC = col("doc_id") === coalesce(col("component"), col("doc_id"))
      val cleanC = coalesce(col("contaminated"), lit(0)) === 0
      val qOk = col("quality") >= 0.5
      // a doc too short to have bigrams passes the bigram gate
      val rOk = col("distinct_ratio") >= 0.35 && col("top_tok_frac") <= 0.15 &&
        coalesce(col("top_bigram_frac") <= 0.25, lit(true))
      spine
        .join(decon, Seq("doc_id"), "left")
        .join(comp, Seq("doc_id"), "left")
        .join(rep, Seq("doc_id"), "left")
        .select(col("doc_id"), col("lang"),
          coalesce(col("contaminated"), lit(0)).as("contaminated"),
          keepC.as("keep"), col("n_pii"), col("quality"),
          qOk.as("quality_ok"), rOk.as("rep_ok"), col("mix_admitted"),
          (cleanC && keepC && qOk && rOk && col("mix_admitted")).as("admitted"))
    }),

    "q_curate_rewrite" -> ((s, dir) => {
      // the REWRITE composition — the stage chain that ALTERS text
      // rather than only gating it: chunk-dedup rewrites the corpus,
      // the PII scrub runs on the rewritten text, and the quality +
      // LM gates score the text that would actually enter training.
      // The LM model trains on the RAW corpus (a batch artifact the
      // pipeline consumes — the centroids/merges pattern); masks and
      // chunk-boundary bigrams unseen by the model take the smoothed
      // floor via lmScoreAgainst's left joins
      val rewritten = Dedup.chunkDedup(docs(s, dir), w = 20)
        .filter(col("n_kept") > 0)
        .select(col("doc_id"), col("n_chunks"), col("n_kept"),
          col("clean_text").as("text"))
      val injected = rewritten.select(col("doc_id"), col("n_chunks"),
        col("n_kept"), piiInjectExpr.as("text"))
      // materialize the scrubbed rewrite ONCE: three consumers (the
      // final projection, the quality gate, the LM scorer's bigram
      // table) would otherwise each replay the whole chunk-dedup
      // chain — 6 corpus scans instead of 3 (plan-audited). At
      // production scale this intermediate persists to storage; here
      // a lazy local checkpoint bounds the plan the same way
      val red = TextAnalysis.redactPii(injected, keep = Seq("n_chunks", "n_kept"))
        .localCheckpoint(false)
      // the bigram model trains FRESH per call (the r18 cross-run
      // memo made this query's bench number a cache read — r18
      // verdict #1); V comes from the shared term-count substrate
      val lm = TextAnalysis.lmScoreAgainst(
          red.select(col("doc_id"), col("redacted").as("text")), docs(s, dir),
          modelTc = Some(docTermCounts(s, dir)))
        .select(col("doc_id"), col("lm_score"))
      val qual = round(TextAnalysis.qualityScore(col("redacted")) + 1e-7, 4)
      val dedupOk = col("n_kept") * 2 >= col("n_chunks")
      val qualOk = qual >= 0.5
      val lmOk = coalesce(col("lm_score") >= CURATE_LM_BAR, lit(false))
      red.join(lm, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_chunks"), col("n_kept"),
          (col("n_email") + col("n_ip") + col("n_num")).as("n_pii"),
          qual.as("quality"), col("lm_score"),
          dedupOk.as("dedup_ok"), qualOk.as("quality_ok"), lmOk.as("lm_ok"),
          (dedupOk && qualOk && lmOk).as("admitted"))
    }),

    // -- BPE merge training (tokenizer seeding over the corpus vocab) --
    "q_bpe_merges" -> ((s, dir) =>
      // each round: adjacent-pair counts over the vocabulary-sized
      // (word, freq, seg) table, one driver-side top-1, one literal
      // map-side merge — the corpus is touched exactly once (the
      // shared docTermCounts aggregate)
      Bpe.merges(docTermCounts(s, dir), rounds = BPE_ROUNDS)),

    // -- BPE encode: the trained merges applied to the vocabulary —
    // the other half of the tokenizer loop. Vocabulary-sized work;
    // the corpus reaches its encodings through a join, never
    // re-segmenting per occurrence --
    "q_bpe_encode" -> ((s, dir) =>
      Bpe.encode(docTermCounts(s, dir).select(col("term").as("word")).distinct(),
        bpeMergeList(s, dir))),
    "q_bpe_tokens" -> ((s, dir) =>
      // per-doc true-tokenizer counts (what packing budgets against):
      // Σ tf·n_tokens over eligible terms + byte-fallback 1/token
      Bpe.tokenCounts(docTermCounts(s, dir), bpeMergeList(s, dir))),

    // -- sequence packing (concat-and-chunk training batch assembly) --
    "q_pack" -> ((s, dir) =>
      // two-level form: blocks of 64 docs prefix-sum in parallel and
      // stitch through per-block offsets — bit-identical output
      // (exact longs), no one-task-per-shard ceiling
      Packing.packChunksBlocked(docs(s, dir), TextAnalysis.wsTokenCount(col("text")),
          budget = 512, col("source"), col("doc_id"), floor(col("doc_id") / 64))
        .select(col("doc_id"), col("source"), col("tokens"), col("start_off"),
          col("bin_first"), col("bin_last"))),

    // -- overlapping passage windows (retrieval/pretraining chunking) --
    "q_passages" -> ((s, dir) =>
      Packing.passages(docs(s, dir), chunk = 32, stride = 24)),

    // -- exact interpolated percentiles (corpus length distribution) --
    "q_percentiles" -> ((s, dir) =>
      docs(s, dir).groupBy("lang").agg(
        count(lit(1)).as("n_docs"),
        round(percentile(col("n_chars"), lit(0.5)) + 1e-7, 4).as("p50_chars"),
        round(percentile(col("n_chars"), lit(0.9)) + 1e-7, 4).as("p90_chars"),
        max("n_chars").as("max_chars")))
  )

  /** Deterministic pseudo-spectrum per channel: freq = sample rank,
    * p = v^2 + 1 (strictly positive for the log-log integral).
    */
  private def pseudoPsd(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("channel").orderBy("t")
    ev(s, dir).select(col("channel"),
      row_number().over(w).cast("double").as("freq"),
      (col("v") * col("v") + 1.0).as("p"))
  }

  /** Deterministic pseudo SUB-PSD table (channel, w, freq, p): the
    * `welchAllWithSegRms` shape minus the FFT, so the summarize and
    * rescale AGGREGATION stages (`Psd.summarizeAll`, `Psd.rescale` —
    * `tools.py:75-98`) get exact DuckDB oracles. Sample rank rn maps
    * bijectively to (w = rn/32, freq = rn%32): every (w, freq) pair
    * appears exactly once per channel, many windows per frequency.
    * 32 frequencies keeps the trapezoid sum short, so the channel-
    * global rescale factor's fp error stays orders of magnitude below
    * the rounding quantum on every output row.
    */
  private def pseudoSubPsd(s: SparkSession, dir: String): DataFrame = {
    val win = Window.partitionBy("channel").orderBy("t")
    ev(s, dir).select(col("channel"),
        (row_number().over(win) - 1).cast("long").as("rn"), col("v"))
      .select(col("channel"),
        floor(col("rn") / lit(32)).cast("long").as("w"),
        pmod(col("rn"), lit(32L)).cast("double").as("freq"),
        (col("v") * col("v") + 1.0).as("p"))
  }

  /** The pseudo sub-PSD with a per-(channel, w) segment RMS column —
    * the input contract of `Psd.rescale` (seg_rms constant within a
    * window; sqrt(w+1) is deterministic and engine-exact).
    */
  private def pseudoSubPsdRms(s: SparkSession, dir: String): DataFrame =
    pseudoSubPsd(s, dir).withColumn("seg_rms", sqrt(col("w") + 1.0))

  // ---- oracle SQL --------------------------------------------------------

  private val PSEUDO_PSD =
    s"""$SRC,
       |psd AS (
       |  SELECT channel,
       |         CAST(row_number() OVER (PARTITION BY channel ORDER BY t) AS DOUBLE) AS freq,
       |         v * v + 1.0 AS p
       |  FROM src
       |)""".stripMargin

  /** DuckDB mirror of `pseudoSubPsd`: (channel, w, freq, p) with the
    * same rank-to-(window, frequency) bijection.
    */
  private val PSEUDO_SUBPSD =
    s"""$SRC,
       |sub AS (
       |  SELECT channel, (rn - 1) // 32 AS w,
       |         CAST((rn - 1) % 32 AS DOUBLE) AS freq,
       |         v * v + 1.0 AS p
       |  FROM (SELECT channel, row_number() OVER (PARTITION BY channel ORDER BY t) AS rn, v
       |        FROM src)
       |)""".stripMargin

  /** The `Psd.rescale` formula over the pseudo sub-PSD, shared by the
    * max-rms and damage oracles: `factorSql` is the channel-global
    * rescale factor (`tools.py:85-98`), everything else is identical.
    */
  private def psdRescaleSql(factorSql: String): String =
    s"""WITH $PSEUDO_SUBPSD,
       |rmsd AS (SELECT channel, w, freq, p, sqrt(w + 1.0) AS seg_rms FROM sub),
       |perfreq AS (
       |  SELECT channel, freq, avg(p) AS p, max(seg_rms) AS max_sub_rms,
       |         avg(pow(seg_rms, 4.0)) AS mean_rms_pow
       |  FROM rmsd GROUP BY channel, freq
       |),
       |wseg AS (
       |  SELECT channel, freq, p, max_sub_rms, mean_rms_pow,
       |         (p + lag(p) OVER wf) / 2.0 * (freq - lag(freq) OVER wf) AS seg
       |  FROM perfreq WINDOW wf AS (PARTITION BY channel ORDER BY freq)
       |),
       |agg AS (
       |  SELECT channel, freq, p,
       |         ($factorSql) / sqrt(sum(seg) OVER (PARTITION BY channel)) AS factor
       |  FROM wseg
       |)
       |SELECT channel, freq, round(p * factor * factor + 1e-7, 4) AS p FROM agg""".stripMargin

  /** Driver-contract dump. q_opq_recall's oracle embeds TRAINED
    * literals captured per sf dir at query run time; this no-arg form
    * is only safe while a single sf dir has run in this JVM, and
    * fails loudly otherwise (r14 advice: a multi-scale run must not
    * dump scale A's oracle with scale B's literals). Multi-scale
    * runners use [[oracleSqlFor]].
    */
  def oracleSql: Map[String, String] = {
    require(opqCapture.size <= 1,
      s"q_opq_recall ran against multiple sf dirs in this JVM " +
        s"(${opqCapture.keys.mkString(", ")}); dump with oracleSqlFor(sfDir)")
    oracleSqlBase ++ opqCapture.headOption.map { case (_, (cents, rot, books)) =>
      "q_opq_recall" -> opqRecallSql(cents, rot, books)
    }
  }

  /** [[oracleSql]] with the trained-literal captures keyed to ONE sf
    * dir — the form a multi-scale JVM must use.
    */
  def oracleSqlFor(sfDir: String): Map[String, String] =
    oracleSqlBase ++ opqCapture.get(sfDir).map { case (cents, rot, books) =>
      "q_opq_recall" -> opqRecallSql(cents, rot, books)
    }

  private def oracleSqlBase: Map[String, String] = Map(
    "q01_pricing" ->
      """SELECT l_returnflag, l_linestatus,
        |       round(sum(l_quantity), 0) AS sum_qty,
        |       round(sum(l_extendedprice * (1 - l_discount)), 0) AS revenue,
        |       round(avg(l_quantity) + 1e-7, 4) AS avg_qty,
        |       count(*) AS n_rows
        |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin,
    "q02_priority_revenue" ->
      """SELECT o_orderpriority,
        |       round(sum(l_extendedprice * (1 - l_discount)), 0) AS revenue,
        |       count(DISTINCT o_orderkey) AS n_orders
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY o_orderpriority""".stripMargin,
    "q06_banded_revenue" ->
      """SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue, count(*) AS n_rows
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1994-01-01' AND l_shipdate < TIMESTAMP '1996-01-01'
        |  AND l_discount BETWEEN 0.02 AND 0.08 AND l_quantity < 24""".stripMargin,
    "q07_orders_no_items" ->
      """SELECT o_orderpriority, count(*) AS n_orders
        |FROM orders WHERE NOT EXISTS (
        |  SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey)
        |GROUP BY o_orderpriority""".stripMargin,
    "q04_orders_with_items" ->
      """SELECT o_orderpriority, count(*) AS n_orders
        |FROM orders WHERE EXISTS (
        |  SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey)
        |GROUP BY o_orderpriority""".stripMargin,
    "q03_region_revenue" ->
      """SELECT r_name,
        |       round(sum(l_extendedprice * (1 - l_discount)), 0) AS revenue,
        |       count(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name""".stripMargin,

    "q05_top_customers" ->
      """SELECT r_name, c_name, revenue, rnk FROM (
        |  SELECT r_name, c_name,
        |         round(sum(l_extendedprice * (1 - l_discount)), 0) AS revenue,
        |         row_number() OVER (
        |           PARTITION BY r_name
        |           ORDER BY round(sum(l_extendedprice * (1 - l_discount)), 0) DESC,
        |                    c_name ASC) AS rnk
        |  FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |  GROUP BY r_name, c_name
        |) WHERE rnk <= 3""".stripMargin,
    "q_channel_list" ->
      "SELECT DISTINCT event_type AS channel FROM events",
    "q_start_times" ->
      "SELECT event_type AS channel, min(epoch_us(ts)) AS start_us FROM events GROUP BY event_type",
    "q_between" ->
      s"WITH $SRC SELECT channel, t, v FROM src WHERE t >= 100000.0 AND t <= 2000000.0",
    "q_timeshift_between" ->
      s"""WITH $SRC
         |SELECT channel, t, v FROM (SELECT channel, t + 3600.0 AS t, v FROM src)
         |WHERE t >= 100000.0 AND t <= 2000000.0""".stripMargin,
    "k_iir_fused" -> {
      val (b1, a1) = graft.dsp.FilterDesign.butter(2, 0.25, "lowpass")
      val (b2, a2) = graft.dsp.FilterDesign.butter(2, 0.5, "lowpass")
      OracleDsp.lfilterUniformSql(uniformSql(3600.0),
        graft.plans.GraftRules.convolve(b1.toSeq, b2.toSeq).toArray,
        graft.plans.GraftRules.convolve(a1.toSeq, a2.toSeq).toArray)
    },
    "q_get_channel" ->
      s"WITH $SRC SELECT channel, t, v FROM src WHERE channel = 'click'",
    "q_abs_window" ->
      """WITH origins AS (
        |  SELECT event_type AS ch, min(epoch_us(ts)) AS us0 FROM events GROUP BY event_type
        |)
        |SELECT event_type AS channel, (epoch_us(ts) - us0) / 1000000.0 AS t, value AS v
        |FROM events JOIN origins ON event_type = ch
        |WHERE epoch_us(ts) >= 1704500000000000 AND epoch_us(ts) <= 1705000000000000""".stripMargin,
    "q_fbetween" ->
      s"WITH $PSEUDO_PSD SELECT channel, freq, p FROM psd WHERE freq >= 100.0 AND freq <= 500.0",
    "q_timeshift" ->
      s"WITH $SRC SELECT channel, t + 3600.0 AS t, v FROM src",
    "q_json_props" ->
      """SELECT event_type AS channel,
        |       CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        |       max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k,
        |       count(*) AS n
        |FROM events GROUP BY event_type""".stripMargin,
    "q_dedup_mean" ->
      s"""WITH $SRC
         |SELECT channel, floor(t / 3600.0) AS t, round(avg(v) + 1e-7, 4) AS v
         |FROM src GROUP BY channel, floor(t / 3600.0)""".stripMargin,
    "q_rms" ->
      s"WITH $SRC SELECT channel, round(sqrt(avg(v * v)), 6) AS rms FROM src GROUP BY channel",
    "q_spl" ->
      s"""WITH $SRC
         |SELECT channel, round(20.0 * log10(sqrt(avg(v * v)) / 0.00002), 6) AS spl
         |FROM src GROUP BY channel""".stripMargin,
    "q_samplerate" ->
      s"""WITH $SRC,
         |d AS (
         |  SELECT channel, t - lag(t) OVER (PARTITION BY channel ORDER BY t) AS dt FROM src
         |),
         |agg AS (
         |  SELECT channel, 1.0 / max(dt) AS max_sr, 1.0 / avg(dt) AS mean_sr, 1.0 / min(dt) AS min_sr
         |  FROM d WHERE dt IS NOT NULL GROUP BY channel
         |)
         |SELECT channel, round(max_sr, 10) AS max_sr, round(mean_sr, 10) AS mean_sr,
         |       round(min_sr, 10) AS min_sr,
         |       round(CASE
         |         WHEN (max_sr - min_sr) / min_sr > min_sr * 0.0001
         |              OR isnan((max_sr - min_sr) / min_sr) THEN NULL
         |         WHEN abs(mean_sr - round(mean_sr)) < 0.01 AND mean_sr >= 1 THEN round(mean_sr)
         |         ELSE mean_sr END, 10) AS samplerate
         |FROM agg""".stripMargin,

    "q_movrms16" ->
      s"""WITH $SRC,
         |win AS (
         |  SELECT channel, t,
         |         sqrt(avg(v * v) OVER (PARTITION BY channel ORDER BY t
         |                               ROWS BETWEEN 15 PRECEDING AND CURRENT ROW)) AS mr,
         |         row_number() OVER (PARTITION BY channel ORDER BY t) AS rn,
         |         count(*) OVER (PARTITION BY channel) AS cnt
         |  FROM src
         |)
         |SELECT channel, t, round(mr, 6) AS v FROM win WHERE rn >= 16 AND rn < cnt""".stripMargin,
    "q_integral" ->
      // grain = max(|seg|)·cnt/2^62 per channel (amplitude- AND
      // count-relative, r15 verdict: folding the row count into the
      // grain bounds per-term quanta at 2^62/cnt so the int64 prefix
      // sum can NEVER overflow — the count-free /2^34 grain had a
      // silent 2^28-rows envelope): max / count / multiply /
      // divide-by-2^62 round identically under IEEE-754, so this
      // derives bit-identically to Signal.integralExact
      s"""WITH $SRC,
         |seg AS (
         |  SELECT channel, t,
         |         coalesce((v + lag(v) OVER w) / 2.0 * (t - lag(t) OVER w), 0.0) AS sg
         |  FROM src WINDOW w AS (PARTITION BY channel ORDER BY t)
         |),
         |g AS (
         |  SELECT channel, t, sg,
         |         CASE WHEN max(abs(sg)) OVER (PARTITION BY channel)
         |                   * count(*) OVER (PARTITION BY channel)
         |                   / 4611686018427387904.0 = 0 THEN 1.0
         |              ELSE max(abs(sg)) OVER (PARTITION BY channel)
         |                   * count(*) OVER (PARTITION BY channel)
         |                   / 4611686018427387904.0
         |         END AS grain
         |  FROM seg
         |)
         |SELECT channel, t,
         |       CAST(sum(CAST(round(sg / grain, 0) AS BIGINT))
         |            OVER (PARTITION BY channel ORDER BY t
         |                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |       AS DOUBLE) * grain AS v
         |FROM g""".stripMargin,
    "q_derivative" ->
      s"""WITH $SRC,
         |d AS (
         |  SELECT channel, t, v, lead(t) OVER w AS tn, lead(v) OVER w AS vn
         |  FROM src WINDOW w AS (PARTITION BY channel ORDER BY t)
         |)
         |SELECT channel, (t + tn) / 2.0 AS t, (vn - v) / (tn - t) AS v
         |FROM d WHERE tn IS NOT NULL""".stripMargin,
    "q_detrend_const" ->
      s"""WITH $SRC
         |SELECT channel, t, round(v - avg(v) OVER (PARTITION BY channel), 6) AS v
         |FROM src""".stripMargin,
    "q_detrend_linear" ->
      s"""WITH $SRC,
         |fit AS (
         |  SELECT channel, t, v,
         |         covar_pop(t, v) OVER (PARTITION BY channel) /
         |           var_pop(t) OVER (PARTITION BY channel) AS slope,
         |         avg(v) OVER (PARTITION BY channel) AS mv,
         |         avg(t) OVER (PARTITION BY channel) AS mt
         |  FROM src
         |)
         |SELECT channel, t, round(v - ((mv - slope * mt) + slope * t), 4) AS v
         |FROM fit""".stripMargin,
    "q_rss" ->
      """WITH s1 AS (
        |  SELECT 'p' AS channel, CAST(l_orderkey AS DOUBLE) AS t, l_extendedprice AS v
        |  FROM lineitem WHERE l_linenumber = 1
        |), s2 AS (
        |  SELECT 'p' AS channel, CAST(l_orderkey AS DOUBLE) AS t, l_extendedprice AS v
        |  FROM lineitem WHERE l_linenumber = 2
        |)
        |SELECT s1.channel, s1.t, sqrt(s1.v * s1.v + s2.v * s2.v) AS v
        |FROM s1 JOIN s2 ON s1.channel = s2.channel AND s1.t = s2.t""".stripMargin,

    "q_rss_outer" ->
      """WITH s1 AS (
        |  SELECT 'p' AS channel, CAST(l_orderkey AS DOUBLE) AS t, l_extendedprice AS v
        |  FROM lineitem WHERE l_linenumber = 1
        |), s2 AS (
        |  SELECT 'p' AS channel, CAST(l_orderkey AS DOUBLE) AS t, l_extendedprice AS v
        |  FROM lineitem WHERE l_linenumber = 2
        |)
        |SELECT coalesce(s1.channel, s2.channel) AS channel,
        |       coalesce(s1.t, s2.t) AS t,
        |       sqrt(s1.v * s1.v + s2.v * s2.v) AS v
        |FROM s1 FULL JOIN s2 ON s1.channel = s2.channel AND s1.t = s2.t""".stripMargin,
    "q_rss3" ->
      """WITH s AS (
        |  SELECT l_linenumber AS ln, CAST(l_orderkey AS DOUBLE) AS t, l_extendedprice AS v
        |  FROM lineitem WHERE l_linenumber <= 3
        |)
        |SELECT 'p' AS channel, s1.t, sqrt(s1.v * s1.v + s2.v * s2.v + s3.v * s3.v) AS v
        |FROM s s1 JOIN s s2 ON s1.t = s2.t JOIN s s3 ON s1.t = s3.t
        |WHERE s1.ln = 1 AND s2.ln = 2 AND s3.ln = 3""".stripMargin,
    "q_resample_linear" -> resampleSql(1000.0, "linear"),
    "q_interp_nearest" -> resampleSql(777.0, "nearest"),
    "q_interp_previous" -> resampleSql(777.0, "previous"),
    "q_interp_next" -> resampleSql(777.0, "next"),
    "q_interp_nearest_up" -> resampleSql(777.0, "nearest-up"),
    "q_interp_zero" -> resampleSql(777.0, "zero"),
    "q_interp_slinear" -> resampleSql(777.0, "slinear"),
    "q_finterp" ->
      s"""WITH $PSEUDO_PSD,
         |grid AS (
         |  SELECT channel, freq + 0.25 AS freq
         |  FROM psd WHERE freq < (SELECT max(p2.freq) FROM psd p2 WHERE p2.channel = psd.channel)
         |),
         |prevj AS (
         |  SELECT g.channel, g.freq, s.freq AS pt, s.p AS pv
         |  FROM grid g ASOF LEFT JOIN psd s ON g.channel = s.channel AND g.freq >= s.freq
         |),
         |nextj AS (
         |  SELECT g.channel, g.freq, s.freq AS nt, s.p AS nv
         |  FROM grid g ASOF LEFT JOIN psd s ON g.channel = s.channel AND g.freq <= s.freq
         |)
         |SELECT p.channel, p.freq,
         |       CASE WHEN p.pt = n.nt THEN p.pv
         |            ELSE p.pv + (n.nv - p.pv) * (p.freq - p.pt) / (n.nt - p.pt) END AS p
         |FROM prevj p JOIN nextj n ON p.channel = n.channel AND p.freq = n.freq""".stripMargin,
    "q_interp_log" ->
      s"""WITH $PSEUDO_PSD,
         |lsrc AS (SELECT channel, log10(freq) AS lt, log10(p) AS lv FROM psd),
         |grid AS (
         |  SELECT channel, freq + 0.5 AS freq, log10(freq + 0.5) AS lt
         |  FROM psd WHERE freq < (SELECT max(p2.freq) FROM psd p2 WHERE p2.channel = psd.channel)
         |),
         |prevj AS (
         |  SELECT g.channel, g.freq, g.lt, s.lt AS pt, s.lv AS pv
         |  FROM grid g ASOF LEFT JOIN lsrc s ON g.channel = s.channel AND g.lt >= s.lt
         |),
         |nextj AS (
         |  SELECT g.channel, g.freq, s.lt AS nt, s.lv AS nv
         |  FROM grid g ASOF LEFT JOIN lsrc s ON g.channel = s.channel AND g.lt <= s.lt
         |)
         |SELECT p.channel, p.freq,
         |       round(pow(10.0, CASE WHEN p.pt = n.nt THEN p.pv
         |                  ELSE p.pv + (n.nv - p.pv) * (p.lt - p.pt) / (n.nt - p.pt) END), 2) AS p
         |FROM prevj p JOIN nextj n ON p.channel = n.channel AND p.freq = n.freq""".stripMargin,
    "q_detrend_bp" ->
      s"""WITH $SRC,
         |idx AS (
         |  SELECT channel, t, v,
         |         CASE WHEN row_number() OVER (PARTITION BY channel ORDER BY t) - 1 >= 400
         |              THEN 1 ELSE 0 END AS seg
         |  FROM src
         |),
         |fit AS (
         |  SELECT channel, t, v,
         |         covar_pop(t, v) OVER ws / var_pop(t) OVER ws AS slope,
         |         avg(v) OVER ws AS mv, avg(t) OVER ws AS mt
         |  FROM idx WINDOW ws AS (PARTITION BY channel, seg)
         |)
         |SELECT channel, t, round(v - ((mv - slope * mt) + slope * t), 4) AS v
         |FROM fit""".stripMargin,

    "q_rms_lin" ->
      s"""WITH $PSEUDO_PSD,
         |segs AS (
         |  SELECT channel, (p + lag(p) OVER w) / 2.0 * (freq - lag(freq) OVER w) AS seg
         |  FROM psd WINDOW w AS (PARTITION BY channel ORDER BY freq)
         |)
         |SELECT channel, round(sqrt(sum(seg)), 4) AS rms FROM segs GROUP BY channel""".stripMargin,
    "q_rms_log" ->
      s"""WITH $PSEUDO_PSD,
         |pairs AS (
         |  SELECT channel, freq, p, lag(freq) OVER w AS f1, lag(p) OVER w AS p1
         |  FROM psd WINDOW w AS (PARTITION BY channel ORDER BY freq)
         |),
         |segs AS (
         |  SELECT channel,
         |         CASE WHEN isnan(area_log) OR area_log = 0 OR isinf(area_log)
         |              THEN (p1 + p) / 2.0 * (freq - f1) ELSE area_log END AS area
         |  FROM (
         |    SELECT *,
         |           CASE WHEN abs(n + 1.0) < 1e-10 THEN p1 * f1 * ln(freq / f1)
         |                ELSE (p1 * pow(f1, -n)) * (1.0 / (n + 1.0)) *
         |                     (pow(freq, n + 1.0) - pow(f1, n + 1.0)) END AS area_log
         |    FROM (
         |      SELECT *, log10(p / p1) / log10(freq / f1) AS n FROM pairs WHERE f1 IS NOT NULL
         |    )
         |  )
         |)
         |SELECT channel, round(sqrt(sum(area)), 4) AS rms FROM segs GROUP BY channel""".stripMargin,

    "q_psd_summarize_mean" ->
      s"""WITH $PSEUDO_SUBPSD
         |SELECT channel, freq, round(avg(p) + 1e-7, 4) AS p
         |FROM sub GROUP BY channel, freq""".stripMargin,
    "q_psd_summarize_median" ->
      s"""WITH $PSEUDO_SUBPSD
         |SELECT channel, freq, round(median(p) + 1e-7, 4) AS p
         |FROM sub GROUP BY channel, freq""".stripMargin,
    "q_psd_summarize_max" ->
      s"WITH $PSEUDO_SUBPSD SELECT channel, freq, max(p) AS p FROM sub GROUP BY channel, freq",
    "q_psd_summarize_min" ->
      s"WITH $PSEUDO_SUBPSD SELECT channel, freq, min(p) AS p FROM sub GROUP BY channel, freq",
    "q_psd_maxrms" ->
      psdRescaleSql("max(max_sub_rms) OVER (PARTITION BY channel)"),
    "q_psd_damage" ->
      psdRescaleSql("pow(max(mean_rms_pow) OVER (PARTITION BY channel), 0.25)"),

    // -- sequential IIR/SRS kernels, oracled via recursive CTEs that
    // replay the exact DFIIt recurrence (bit-exact; see OracleDsp) --
    "k_filt_butter" -> {
      val (b, a) = kernelButter(Seq(3.0e-5), "lowpass")
      OracleDsp.filtfiltUniformSql(uniformSql(3600.0), b, a)
    },
    "k_filt_butter_hp" -> {
      val (b, a) = kernelButter(Seq(5.0e-5), "highpass")
      OracleDsp.filtfiltUniformSql(uniformSql(3600.0), b, a)
    },
    "k_filt_butter_bp" -> {
      val (b, a) = kernelButter(Seq(2.0e-5, 8.0e-5), "bandpass")
      OracleDsp.filtfiltUniformSql(uniformSql(3600.0), b, a)
    },
    "k_filt_cfc" -> {
      val (b, a) = graft.dsp.FilterDesign.cfcCoefficients(2.0e-5, 1.0 / UNI_SR)
      OracleDsp.filtfiltUniformSql(uniformSql(3600.0), b, a)
    },
    "k_filt_a" -> {
      val (b, a) = graft.dsp.FilterDesign.aWeighting(UNI_SR)
      OracleDsp.lfilterUniformSql(uniformSql(3600.0), b, a)
    },
    "k_stream_iir" -> {
      val (b, a) = graft.dsp.FilterDesign.butter(2, 0.2, "lowpass")
      OracleDsp.streamIirSql(b, a)
    },
    "k_iir_parallel" -> {
      val (b, a) = graft.dsp.FilterDesign.butter(2, (UNI_SR / 8) / (UNI_SR / 2), "lowpass")
      OracleDsp.lfilterUniformSql(uniformSql(3600.0), b, a,
        vExpr = "printf('%.4e', f.y)")
    },
    "k_filtfilt_parallel" -> {
      val (b, a) = graft.dsp.FilterDesign.butter(2, (UNI_SR / 8) / (UNI_SR / 2), "lowpass")
      OracleDsp.filtfiltNoPadUniformSql(uniformSql(3600.0), b, a,
        vExpr = "printf('%.4e', b.y)")
    },
    "k_srs" ->
      OracleDsp.srsUniformSql(uniformSql(3600.0),
        Array(1e-5, 2e-5, 5e-5, 1e-4), 3600.0, 50.0),
    "k_srs_freq_parallel" ->
      OracleDsp.srsUniformSql(uniformSql(3600.0),
        Array(1e-5, 2e-5, 3e-5, 5e-5, 7e-5, 1e-4, 1.3e-4), 3600.0, 50.0),

    // -- spline resamples: Thomas solve / slope prefix sum replayed
    // in SQL (see OracleDsp) --
    "k_resample_cubic" -> OracleDsp.cubicResampleSql(SRC, 1000.0),
    "k_resample_quadratic" -> OracleDsp.quadraticResampleSql(SRC, 1000.0),

    // -- WAV roundtrip: float64 WAV is lossless, so the read-back
    // equals the uniform 'click' channel re-indexed to frame time --
    "k_wav_roundtrip" ->
      s"""WITH ${uniformSql(3600.0)}
         |SELECT CAST(0 AS INT) AS ch,
         |       CAST(row_number() OVER (ORDER BY t) - 1 AS DOUBLE) / 1000 AS t, v
         |FROM u WHERE channel = 'click'""".stripMargin,

    // -- native .ide roundtrip: float64 blocks on a constant-rate
    // writer land samples on the exact integer-microsecond 1 kHz
    // grid, so read-back t is (rn-1)/1000 bit-exactly --
    "k_ide_roundtrip" ->
      s"""WITH ${uniformSql(3600.0)}
         |SELECT channel AS name,
         |       CAST(row_number() OVER (PARTITION BY channel ORDER BY t) - 1 AS DOUBLE)
         |         / 1000 AS t, v
         |FROM u""".stripMargin,
    // bounded-stream ≡ batch over the written rollover directory;
    // ch ids are the writer fixture's sorted-name numbering
    "q_stream_ide" ->
      s"""WITH ${uniformSql(3600.0)},
         |names AS (SELECT DISTINCT channel FROM u),
         |ranked AS (SELECT channel,
         |                  CAST(row_number() OVER (ORDER BY channel) - 1 AS INT) AS ch
         |           FROM names),
         |agg AS (SELECT channel, count(*) AS n, round(sum(v), 6) AS sum_v
         |        FROM u GROUP BY channel)
         |SELECT r.ch, 0 AS sub, a.n, a.sum_v,
         |       0.0 AS t_min, CAST(a.n - 1 AS DOUBLE) / 1000 AS t_max
         |FROM agg a JOIN ranked r USING (channel)""".stripMargin,
    // the writer infers names as ch<k> with k assigned in sorted
    // channel-name order — dense_rank reproduces the numbering
    "k_ide_write_roundtrip" ->
      s"""WITH ${uniformSql(3600.0)}
         |SELECT 'ch' || CAST(dense_rank() OVER (ORDER BY channel) - 1 AS VARCHAR) AS name,
         |       CAST(row_number() OVER (PARTITION BY channel ORDER BY t) - 1 AS DOUBLE)
         |         / 1000 AS t, v
         |FROM u""".stripMargin,
    "q_ide_channel_list" ->
      "SELECT DISTINCT event_type AS name, event_type || '_u' AS unit FROM events",
    "q_ide_get_channel" ->
      s"""WITH ${uniformSql(3600.0)}
         |SELECT 'click' AS name, 'click_u' AS unit,
         |       CAST(row_number() OVER (ORDER BY t) - 1 AS DOUBLE) / 1000 AS t, v
         |FROM u WHERE channel = 'click'""".stripMargin,
    "q_ide_window" ->
      s"""WITH ${uniformSql(3600.0)},
         |g AS (
         |  SELECT 'click' AS name, 'click_u' AS unit,
         |         CAST(row_number() OVER (ORDER BY t) - 1 AS DOUBLE) / 1000 AS t, v
         |  FROM u WHERE channel = 'click'
         |)
         |SELECT * FROM g WHERE t >= 0.001 AND t < 0.35""".stripMargin,

    // -- rainflow: the full cycle extraction replayed as a DuckDB
    // stack machine (bit-exact), then the ndigits/nbins/binsize
    // keying (extension.py:944-959) --
    "k_rainflow" ->
      s"""WITH RECURSIVE $rainflowCyclesSql
         |SELECT channel, roundbankers(rng * 10.0, 0) / 10.0 AS rng, sum(cnt) AS cycles
         |FROM cycles GROUP BY channel, roundbankers(rng * 10.0, 0) / 10.0""".stripMargin,
    "k_rainflow_binned" ->
      s"""WITH RECURSIVE $rainflowCyclesSql,
         |sized AS (
         |  SELECT channel, rng, cnt, max(rng) OVER (PARTITION BY channel) / 10 AS size
         |  FROM cycles
         |)
         |SELECT channel, greatest(ceil(rng / size), 1) * size AS rng, sum(cnt) AS cycles
         |FROM sized GROUP BY channel, greatest(ceil(rng / size), 1) * size""".stripMargin,
    "k_rainflow_binsize" ->
      s"""WITH RECURSIVE $rainflowCyclesSql
         |SELECT channel, greatest(ceil(rng / 25.0), 1) * 25.0 AS rng, sum(cnt) AS cycles
         |FROM cycles GROUP BY channel, greatest(ceil(rng / 25.0), 1) * 25.0""".stripMargin,

    // -- the real FFT pipeline, oracled via direct DFT --
    "k_resample_psd_periodogram" -> periodogramSql,
    "k_psd_welch_mean" -> welchSummarizeSql("avg(p)"),
    "k_psd_welch_max" -> welchSummarizeSql("max(p)"),
    "k_psd_welch_min" -> welchSummarizeSql("min(p)"),
    "k_psd_welch_median" -> welchSummarizeSql("median(p)"),
    "k_psd_welch_boxcar" -> welchSummarizeSql("avg(p)", window = "boxcar"),
    "k_psd_welch_detrend_linear" -> welchSummarizeSql("avg(p)", detrend = "linear"),
    "k_psd_welch_all" ->
      s"""WITH ${welchSubSql("hann", "constant")}
         |SELECT channel, w, freq, printf('%.4e', p) AS p FROM sub WHERE freq > 0""".stripMargin,
    "k_psd_welch_maxrms" ->
      welchRescaleSql("max(max_sub_rms) OVER (PARTITION BY channel)"),
    "k_psd_welch_damage" ->
      welchRescaleSql("pow(max(mean_rms_pow) OVER (PARTITION BY channel), 0.25)"),
    "q_srs_reduce" ->
      s"""WITH $SRC,
         |resp AS (
         |  SELECT channel, CAST((rn - 1) % 20 AS DOUBLE) AS freq, v AS resp
         |  FROM (SELECT channel, row_number() OVER (PARTITION BY channel ORDER BY t) AS rn, v
         |        FROM src)
         |)
         |SELECT channel, freq, greatest(max(resp), max(-resp)) AS p
         |FROM resp GROUP BY channel, freq""".stripMargin,
    "q_rainflow_bin" ->
      s"""WITH $SRC,
         |cyc AS (
         |  SELECT channel, abs(v) AS rng, ((rn - 1) % 2 + 1) * 0.5 AS cycles
         |  FROM (SELECT channel, row_number() OVER (PARTITION BY channel ORDER BY t) AS rn, v
         |        FROM src)
         |),
         |sized AS (
         |  SELECT channel, rng, cycles,
         |         max(rng) OVER (PARTITION BY channel) / 10 AS size
         |  FROM cyc
         |)
         |SELECT channel, greatest(ceil(rng / size), 1) * size AS rng, CAST(sum(cycles) AS DOUBLE) AS cycles
         |FROM sized GROUP BY channel, greatest(ceil(rng / size), 1) * size""".stripMargin,

    "q_text_stats" ->
      s"""SELECT lang, count(*) AS n_docs, round(avg(n_chars) + 1e-7, 4) AS avg_chars,
         |       CAST(sum(len(regexp_split_to_array(trim(text), '\\s+'))) AS BIGINT) AS ws_tokens,
         |       CAST(sum(len(regexp_extract_all(lower(text), '${TextAnalysis.bpePattern}'))) AS BIGINT) AS bpe_tokens
         |FROM documents GROUP BY lang""".stripMargin,
    "q_gopher_rules" -> gopherRulesSql,
    "q_langid" -> langIdSql,
    "q_quality" -> qualitySql,
    "q_fingerprint" ->
      """SELECT doc_id,
        |       md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fp
        |FROM documents""".stripMargin,
    "q_source_mix" -> sourceMixSql,
    "q_data_card" -> dataCardSql,
    "q_length_hist" ->
      """WITH t AS (
        |  SELECT len(regexp_split_to_array(trim(text), '\s+')) AS tokens FROM documents
        |)
        |SELECT (tokens // 64) * 64 AS bin_lo, count(*) AS n_docs,
        |       CAST(sum(tokens) AS BIGINT) AS n_tokens
        |FROM t GROUP BY (tokens // 64) * 64""".stripMargin,
    "q_decontaminate" -> decontaminateSql,
    // Bloom-prefilter path: exact by construction (no-false-negative
    // probe + exact semi-join on survivors) — same oracle table
    "q_decontaminate_bloom" -> decontaminateSql,
    // admission-time twin: bounded stream ≡ the same batch table
    "q_stream_decontaminate" -> decontaminateSql,
    "q_dedup_exact" ->
      """WITH f AS (
        |  SELECT doc_id,
        |         md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fp
        |  FROM documents
        |)
        |SELECT doc_id, fp, count(*) OVER (PARTITION BY fp) AS group_size,
        |       doc_id = min(doc_id) OVER (PARTITION BY fp) AS keep
        |FROM f""".stripMargin,
    "q_minhash_sig" -> minhashSql,
    "q_minhash_lsh_neardups" -> lshNearDupsSql,
    "q_dedup_components" -> dedupComponentsSql,
    "q_dedup_keep" -> dedupKeepSql,
    "q_pair_dedup" -> pairDedupSql,
    "q_neardup_pairs" -> neardupPairsSql,
    "q_neardup_pairs_topk" -> neardupPairsTopkSql,
    "q_lsh_bucket_cap" -> lshBucketCapSql,
    "q_lsh_bucket_overflow" -> lshBucketOverflowSql,
    "q_multimodal_features" -> multimodalSql,
    "q_media_resize" ->
      """WITH m AS (
        |  SELECT doc_id AS media_id,
        |         CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
        |         64 + CASE WHEN octet_length(encode(text)) >= 1
        |                   THEN ('0x' || substr(hex(encode(text)), 1, 2))::INT % 64 ELSE 0 END AS width,
        |         64 + CASE WHEN octet_length(encode(text)) >= 2
        |                   THEN ('0x' || substr(hex(encode(text)), 3, 2))::INT % 64 ELSE 0 END AS height
        |  FROM documents
        |)
        |SELECT media_id, kind, width, height,
        |       CAST(CASE WHEN greatest(width, height) <= 100 THEN width
        |                 ELSE floor(width * 100 / greatest(width, height)) END AS INT) AS out_w,
        |       CAST(CASE WHEN greatest(width, height) <= 100 THEN height
        |                 ELSE floor(height * 100 / greatest(width, height)) END AS INT) AS out_h
        |FROM m WHERE kind != 'audio'""".stripMargin,
    "q_frame_sample" ->
      """SELECT doc_id AS media_id,
        |       unnest(generate_series(0, nf - 1, 5)) AS frame_idx
        |FROM (
        |  SELECT doc_id, 1 + CAST(octet_length(encode(text)) AS INT) % 30 AS nf
        |  FROM documents WHERE doc_id % 3 = 2
        |)""".stripMargin,
    "q_simhash" -> simhashSql,
    "q_simhash_neardups" -> simhashNearDupsSql,
    "q_media_phash" -> mediaPhashSql,
    "q_media_pixel_phash" -> mediaPixelPhashSql,
    "q_media_resize_pixels" -> mediaResizePixelsSql,
    "q_media_video" -> mediaVideoSql,
    "q_media_neardups" -> mediaNearDupsSql,
    // admission twin: bounded stream ≡ batch on the hashable universe
    "q_stream_phash" -> mediaNearDupsStreamSql,
    "q_ivf_topk" -> ivfTopkSql,
    "q_ivf_trained" -> ivfTrainedSql,
    // streaming twin: the trained-IVF chain filtered to its rank-1
    // row per query (the struct-max the stream aggregates)
    "q_stream_ann" ->
      s"""SELECT query_id, neighbor_id, cos FROM (
         |$ivfTrainedSql
         |) t WHERE rank = 1""".stripMargin,
    "q_ivf_list_sizes" -> ivfListSizesSql,
    "q_ann_recall" -> annRecallSql,
    "q_ann_int8_recall" -> annInt8RecallSql,
    "q_pq_codes" -> pqCodesSql,
    "q_pq_recall" -> pqRecallSql,
    "q_pq_residual_recall" -> residualPqRecallSql,
    "q_ivf_probe_sweep" -> ivfProbeSweepSql,
    "q_ann_plane_sweep" -> annPlaneSweepSql,
    "q_kmeans" -> kmeansSql,
    "q_semdedup" -> semDedupSql,
    "q_ngram_jaccard" -> ngramJaccardSql,
    "q_containment" -> containmentSql,
    "q_dup_spans" -> dupSpansSql,
    "q_substr_rewrite" -> substrRewriteSql,
    "q_sa_substr" -> substrRewriteSql,
    "q_substr_w50" -> substrRewriteSqlW(50),
    "q_sa_substr_w50" -> substrRewriteSqlW(50),
    "q_chunk_dedup" -> chunkDedupSql,
    "q_span_sweep" -> spanSweepSql,
    "q_dup_span_top" -> dupSpanTopSql,
    "q_pii_redact" -> piiRedactSql,
    // bounded stream ≡ batch: the streaming scrub replays the exact
    // batch redaction SQL
    "q_stream_redact" -> piiRedactSql,

    // -- streaming sessionization: session_window merges events
    // strictly closer than the gap, so the batch replay uses >= for
    // the boundary (vs > in the lag-based batch form below). Both
    // window sorts carry the event_id tie-break: with duplicate
    // (user, us) rows at a boundary, the flag-1 row must sort before
    // its flag-0 duplicates in the running sum or the sum assigns the
    // old session id nondeterministically --
    "q_stream_sessions" ->
      """WITH e AS (
        |  SELECT event_id, user_id, epoch_us(ts) AS us, value,
        |         lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS prev
        |  FROM events
        |),
        |sess AS (
        |  SELECT user_id, us, value,
        |         CAST(sum(CASE WHEN prev IS NULL OR us - prev >= 28800000000 THEN 1 ELSE 0 END)
        |           OVER (PARTITION BY user_id ORDER BY us, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sid
        |  FROM e
        |)
        |SELECT user_id, min(us) AS start_us, count(*) AS n_events,
        |       round(sum(value) + 1e-7, 4) AS sum_value
        |FROM sess GROUP BY user_id, sid""".stripMargin,

    // -- sessionization: lag/running-sum boundary detection replayed
    // verbatim; all arithmetic on exact integer microseconds --
    "q_sessionize" ->
      s"""WITH $SESS
         |SELECT event_id, user_id, session_seq FROM sess""".stripMargin,
    "q_session_stats" ->
      s"""WITH $SESS
         |SELECT user_id, session_seq, count(*) AS n_events,
         |       (max(us) - min(us)) / 1000000.0 AS dur_sec,
         |       round(sum(value) + 1e-7, 4) AS sum_value
         |FROM sess GROUP BY user_id, session_seq""".stripMargin,

    // -- repetition signals: ratios are exact integer divisions, so no
    // rounding anywhere --
    "q_repetition" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS a FROM documents
        |),
        |uni AS (
        |  SELECT doc_id, g, count(*) AS c
        |  FROM (SELECT doc_id, unnest(a) AS g FROM toks) GROUP BY doc_id, g
        |),
        |us AS (
        |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens, count(*) AS n_distinct,
        |         max(c) AS top_tok_n
        |  FROM uni GROUP BY doc_id
        |),
        |bi AS (
        |  SELECT doc_id, g, count(*) AS c
        |  FROM (SELECT doc_id,
        |               unnest(list_transform(range(1, len(a)), i -> a[i] || ' ' || a[i + 1])) AS g
        |        FROM toks) GROUP BY doc_id, g
        |),
        |bs AS (
        |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams, max(c) AS top_bigram_n
        |  FROM bi GROUP BY doc_id
        |)
        |SELECT us.doc_id, n_tokens, n_distinct,
        |       CAST(n_distinct AS DOUBLE) / n_tokens AS distinct_ratio,
        |       CAST(top_tok_n AS DOUBLE) / n_tokens AS top_tok_frac,
        |       CAST(top_bigram_n AS DOUBLE) / n_bigrams AS top_bigram_frac
        |FROM us LEFT JOIN bs ON us.doc_id = bs.doc_id""".stripMargin,

    // duplicate-6-gram coverage replay: same tokenize as
    // q_repetition; within-doc duplicated classes via a window count,
    // covered positions union'd before counting (overlap-aware) —
    // the ratio is one exact IEEE division of integers
    "q_dup_ngram_cov" -> dupNgramCovSql,

    // the streaming twin is the same pure projection over the bounded
    // stream — one shared oracle
    "q_stream_dup_ngram" -> dupNgramCovSql,

    // bigram-LM replay: same tokenize as q_repetition, model counts
    // rebuilt in CTEs, ln of integer-valued arguments on both engines
    // (sum-order float drift is ~1e-14 against a 1e-6 rounding grain)
    "q_lm_score" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS a
        |  FROM documents WHERE text IS NOT NULL
        |),
        |db AS (
        |  SELECT doc_id, g, count(*) AS n
        |  FROM (SELECT doc_id,
        |               unnest(list_transform(range(1, len(a)), i -> a[i] || ' ' || a[i + 1])) AS g
        |        FROM toks WHERE len(a) >= 2) GROUP BY doc_id, g
        |),
        |cb AS (SELECT g, CAST(sum(n) AS BIGINT) AS cb FROM db GROUP BY g),
        |cw AS (SELECT split_part(g, ' ', 1) AS w1, CAST(sum(cb) AS BIGINT) AS cw
        |       FROM cb GROUP BY 1),
        |v AS (SELECT count(DISTINCT w) AS v FROM (SELECT unnest(a) AS w FROM toks))
        |SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_bigrams,
        |       round(sum(n * (ln(cb + 1) - ln(cw + v))) / sum(n), 6) AS lm_score
        |FROM db JOIN cb USING (g)
        |JOIN cw ON split_part(g, ' ', 1) = cw.w1 CROSS JOIN v
        |GROUP BY doc_id""".stripMargin,

    // DSIR replay: same tokenize + the 52-bit md5 bucket trick as
    // minhash/IVF; every ln takes an integer argument on both
    // engines (counts + literal totals), the per-doc sum's 1e-14
    // order drift is absorbed by round(·, 6) — the q_lm_score
    // discipline exactly
    "q_dsir_score" ->
      """WITH toks AS (
        |  SELECT doc_id, lang, regexp_split_to_array(trim(lower(text)), '\s+') AS a
        |  FROM documents WHERE text IS NOT NULL
        |),
        |feats AS (
        |  SELECT doc_id, (lang = 'en') AS is_tgt,
        |         ('0x' || substr(md5(g), 1, 13))::BIGINT % 4096 AS b
        |  FROM (SELECT doc_id, lang,
        |               unnest(a || list_transform(range(1, len(a)), i -> a[i] || ' ' || a[i + 1])) AS g
        |        FROM toks)
        |),
        |docb AS (
        |  SELECT doc_id, b, count(*) AS c, any_value(is_tgt) AS is_tgt
        |  FROM feats GROUP BY doc_id, b
        |),
        |model AS (
        |  SELECT b, CAST(sum(c) AS BIGINT) AS rc,
        |         CAST(sum(CASE WHEN is_tgt THEN c ELSE 0 END) AS BIGINT) AS tc
        |  FROM docb GROUP BY b
        |),
        |tot AS (SELECT CAST(sum(rc) + 4096 AS BIGINT) AS rt,
        |               CAST(sum(tc) + 4096 AS BIGINT) AS tt FROM model)
        |SELECT d.doc_id, CAST(sum(d.c) AS BIGINT) AS n_feats,
        |       round(sum(d.c * ((ln(m.tc + 1) - ln(t.tt)) - (ln(m.rc + 1) - ln(t.rt)))) / sum(d.c), 6) AS dsir_score
        |FROM docb d JOIN model m ON d.b = m.b CROSS JOIN tot t
        |GROUP BY d.doc_id""".stripMargin,

    // -- lexical ranking: rank keys are integers/strings (tf desc, df
    // asc, term asc) so the selected rows are engine-exact; only the
    // displayed ln()-scores are rounded --
    "q_vocab" ->
      s"""WITH $TERM_COUNTS
         |SELECT term, CAST(sum(tf) AS BIGINT) AS n_tokens,
         |       count(*) AS n_docs
         |FROM tc GROUP BY term
         |ORDER BY n_tokens DESC, n_docs DESC, term ASC
         |LIMIT 100""".stripMargin,
    // -- sketches: md5-derived registers/cells replay value-exactly --
    "q_hll_distinct" -> hllDistinctSql,
    "q_hll_users" -> hllUsersSql,
    // bounded stream ≡ batch: max-merged registers are order-blind
    "q_stream_hll" -> hllStreamSql,
    "q_cms_heavy" -> cmsHeavySql,
    "q_len_quantiles" -> lenQuantilesSql,
    "q_profile_card" -> profileCardSql,
    // bounded stream ≡ batch: max-merged registers + count-sum bins
    "q_stream_profile" -> profileCardSql,
    // salting is result-invariant: the oracle IS the plain join
    "q_salted_join" -> saltedJoinSql,
    "q_bpe_merges" -> bpeMergesSql,
    "q_bpe_encode" -> bpeEncodeSql,
    "q_bpe_tokens" -> bpeTokensSql,
    // metering twin: bounded stream ≡ the batch token counts
    "q_stream_tokens" -> bpeTokensSql,
    "q_mix_resample" -> mixResampleSql,
    "q_curate_pipeline" -> curatePipelineSql,
    "q_curate_rewrite" -> curateRewriteSql,
    // bounded stream ≡ batch: the streaming admission pipeline shares
    // the batch composition's oracle
    "q_stream_curate" -> curatePipelineSql,
    "q_tfidf_topk" ->
      s"""WITH $TERM_COUNTS,
         |dfreq AS (SELECT term, count(*) AS df FROM tc GROUP BY term),
         |n AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents),
         |r AS (
         |  SELECT tc.doc_id, tc.term, tc.tf, dfreq.df,
         |         row_number() OVER (PARTITION BY tc.doc_id
         |                            ORDER BY tc.tf DESC, dfreq.df ASC, tc.term ASC) AS rank
         |  FROM tc JOIN dfreq USING (term)
         |)
         |SELECT doc_id, rank, term, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
         |       round(tf * ln(1.0 + (SELECT n_docs FROM n) / df) + 1e-7, 6) AS tfidf
         |FROM r WHERE rank <= 3""".stripMargin,
    "q_bm25" ->
      s"""WITH $TERM_COUNTS,
         |dfreq AS (SELECT term, count(*) AS df FROM tc GROUP BY term),
         |dl AS (SELECT doc_id,
         |              CAST(len(regexp_split_to_array(trim(lower(text)), '\\s+')) AS DOUBLE) AS dl
         |       FROM documents),
         |stats AS (SELECT (SELECT CAST(count(*) AS DOUBLE) FROM documents) AS n_docs,
         |                 (SELECT avg(dl) FROM dl) AS avgdl),
         |q AS (SELECT unnest(['spark', 'data', 'query', 'window', 'stream']) AS term),
         |scored AS (
         |  SELECT tc.doc_id,
         |         ln(1.0 + (stats.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
         |           * tc.tf * (1.2 + 1.0)
         |           / (tc.tf + 1.2 * (0.25 + dl.dl / stats.avgdl * 0.75)) AS contrib
         |  FROM tc JOIN q USING (term) JOIN dfreq USING (term) JOIN dl USING (doc_id), stats
         |)
         |SELECT doc_id, round(sum(contrib) + 1e-7, 4) AS bm25, count(*) AS n_matched
         |FROM scored GROUP BY doc_id""".stripMargin,

    // -- deterministic sampling: the salted md5 bucket replayed with
    // the same '0x'||substr(md5) 52-bit trick as minhash/IVF; the
    // stratified thresholds repeat Spark's f * 10000.0 double product
    // so boundary buckets agree bit-exactly --
    "q_hash_split" ->
      """SELECT doc_id, lang,
        |       CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split
        |FROM (SELECT doc_id, lang,
        |             ('0x' || substr(md5('split1:' || CAST(doc_id AS VARCHAR)), 1, 13))::BIGINT % 100 AS b
        |      FROM documents)""".stripMargin,
    // the component chain replayed, split decided on the rep key
    "q_split_leakfree" ->
      s"""WITH comp AS MATERIALIZED ($dedupComponentsSql),
         |d AS (
         |  SELECT doc_id, coalesce(c.component, doc_id) AS rep
         |  FROM documents LEFT JOIN comp c USING (doc_id)
         |)
         |SELECT doc_id, rep,
         |       CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split
         |FROM (SELECT doc_id, rep,
         |             ('0x' || substr(md5('split1:' || CAST(rep AS VARCHAR)), 1, 13))::BIGINT % 100 AS b
         |      FROM d)""".stripMargin,
    // routing twin: bounded stream ≡ the batch leak-free assignment
    "q_stream_split" ->
      s"""WITH comp AS MATERIALIZED ($dedupComponentsSql),
         |d AS (
         |  SELECT doc_id, coalesce(c.component, doc_id) AS rep
         |  FROM documents LEFT JOIN comp c USING (doc_id)
         |)
         |SELECT doc_id, rep,
         |       CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split
         |FROM (SELECT doc_id, rep,
         |             ('0x' || substr(md5('split1:' || CAST(rep AS VARCHAR)), 1, 13))::BIGINT % 100 AS b
         |      FROM d)""".stripMargin,
    "q_stratified_sample" ->
      """SELECT doc_id, lang
        |FROM (SELECT doc_id, lang,
        |             ('0x' || substr(md5('strat1:' || CAST(doc_id AS VARCHAR)), 1, 13))::BIGINT % 10000 AS b
        |      FROM documents)
        |WHERE b < CASE lang WHEN 'en' THEN 0.25 * 10000.0 WHEN 'de' THEN 0.5 * 10000.0
        |               WHEN 'fr' THEN 0.5 * 10000.0 WHEN 'es' THEN 0.5 * 10000.0
        |               WHEN 'zh' THEN 0.1 * 10000.0 ELSE -1.0 END""".stripMargin,
    "q_group_sample" ->
      """SELECT source, sample_rank, doc_id
        |FROM (SELECT source, doc_id,
        |             row_number() OVER (PARTITION BY source
        |               ORDER BY ('0x' || substr(md5('grp1:' || CAST(doc_id AS VARCHAR)), 1, 13))::BIGINT,
        |                        CAST(doc_id AS VARCHAR)) AS sample_rank
        |      FROM documents)
        |WHERE sample_rank <= 5""".stripMargin,

    // -- passage windows: slice bounds are exact integer arithmetic;
    // DuckDB's inclusive 1-based a[i:j] mirrors Spark's slice(a,i,len),
    // both truncating past the end --
    "q_passages" ->
      """WITH t AS (
        |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS a FROM documents
        |),
        |c AS (
        |  SELECT doc_id, a,
        |         unnest(generate_series(0,
        |           CAST(floor((greatest(len(a) - 32, 0) + 23) / 24) AS BIGINT))) AS pid
        |  FROM t
        |)
        |SELECT doc_id, pid,
        |       CAST(len(a[pid * 24 + 1 : pid * 24 + 32]) AS BIGINT) AS n_tokens,
        |       array_to_string(a[pid * 24 + 1 : pid * 24 + 32], ' ') AS passage
        |FROM c""".stripMargin,

    // -- percentiles: both engines use the (n-1)*p linear-interpolated
    // quantile; rounded because the interpolation arithmetic
    // associates differently --
    "q_percentiles" ->
      """SELECT lang, count(*) AS n_docs,
        |       round(quantile_cont(n_chars, 0.5) + 1e-7, 4) AS p50_chars,
        |       round(quantile_cont(n_chars, 0.9) + 1e-7, 4) AS p90_chars,
        |       max(n_chars) AS max_chars
        |FROM documents GROUP BY lang""".stripMargin,

    // -- sequence packing: running token offsets are exact integer
    // window sums; chunk ids are exact floor divisions --
    "q_pack" ->
      """WITH t AS (
        |  SELECT doc_id, source,
        |         CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS tokens
        |  FROM documents
        |),
        |o AS (
        |  SELECT doc_id, source, tokens,
        |         CAST(coalesce(sum(tokens) OVER (PARTITION BY source ORDER BY doc_id
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_off
        |  FROM t
        |)
        |SELECT doc_id, source, tokens, start_off,
        |       CAST(floor(start_off / 512) AS BIGINT) AS bin_first,
        |       CASE WHEN tokens > 0
        |            THEN CAST(floor((start_off + tokens - 1) / 512) AS BIGINT)
        |            ELSE CAST(floor(start_off / 512) AS BIGINT) - 1
        |       END AS bin_last
        |FROM o""".stripMargin,

    "q_embedding_norms" ->
      """SELECT vec_id,
        |       round(sqrt(list_sum(list_transform(embedding::DOUBLE[], x -> x * x))), 6) AS nrm
        |FROM embeddings""".stripMargin,
    "q_cosine_topk" -> cosineTopkSql,
    "q_ann_topk" -> annTopkSql,
    // int8 quantization replay: DuckDB trains the same per-dim
    // min/max and applies the identical (x - lo) * (254/(hi - lo))
    // floor — the division happens engine-side but IEEE doubles make
    // it the exact scale Spark folded as a literal
    "q_int8_quant" ->
      """WITH dimstats AS (
        |  SELECT d, min(v) AS lo, max(v) AS hi
        |  FROM (SELECT unnest(embedding::DOUBLE[]) AS v,
        |               unnest(range(0, len(embedding))) AS d
        |        FROM embeddings)
        |  GROUP BY d
        |),
        |codes AS (
        |  SELECT e.vec_id,
        |         CASE WHEN s.hi > s.lo THEN
        |           least(254, greatest(0, floor((e.embedding[s.d + 1]::DOUBLE - s.lo)
        |                            * (254.0 / (s.hi - s.lo))))) - 127
        |         ELSE -127 END AS code
        |  FROM embeddings e, dimstats s
        |)
        |SELECT vec_id, CAST(sum(code) AS BIGINT) AS code_sum,
        |       CAST(min(code) AS BIGINT) AS code_min,
        |       CAST(max(code) AS BIGINT) AS code_max,
        |       count(*) AS dims
        |FROM codes GROUP BY vec_id""".stripMargin,

    // streaming analogs: the bounded-stream results must equal plain
    // batch SQL over the same table
    "q_stream_dedup" ->
      """SELECT event_type AS channel, count(DISTINCT epoch_us(ts)) AS n_distinct
        |FROM events GROUP BY event_type""".stripMargin,
    "q_stream_fingerprint" ->
      """SELECT source,
        |       count(DISTINCT md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')))) AS n_unique
        |FROM documents GROUP BY source""".stripMargin,
    "q_stream_lsh_buckets" ->
      s"""WITH ${lshCandPrefix()}
         |SELECT band, bsig AS sig, count(*) AS n_members
         |FROM bands GROUP BY band, bsig HAVING count(*) > 1""".stripMargin,
    // stream-static admission join: arriving probe docs (doc_id % 7)
    // vs the full corpus band table — bounded stream ≡ this batch join
    "q_stream_lsh_match" ->
      s"""WITH $shinglesSql,
         |$lshBandsChain
         |SELECT p.doc_id, c.doc_id AS partner, count(*) AS n_shared_bands
         |FROM bands p
         |JOIN bands c ON p.band = c.band AND p.bsig = c.bsig AND c.doc_id != p.doc_id
         |WHERE p.doc_id % 7 = 0
         |GROUP BY p.doc_id, c.doc_id""".stripMargin,
    // production form: corpus side of each bucket rank-capped at 64
    // (ordered by doc_id), matching Dedup.DefaultMaxBucket — output
    // linear in probes
    "q_stream_lsh_match_capped" ->
      s"""WITH $shinglesSql,
         |$lshBandsChain,
         |bandsr AS MATERIALIZED (
         |  SELECT doc_id, band, bsig,
         |         row_number() OVER (PARTITION BY band, bsig ORDER BY doc_id) AS r
         |  FROM bands
         |)
         |SELECT p.doc_id, c.doc_id AS partner, count(*) AS n_shared_bands
         |FROM bands p
         |JOIN bandsr c ON p.band = c.band AND p.bsig = c.bsig
         |             AND c.r <= 64 AND c.doc_id != p.doc_id
         |WHERE p.doc_id % 7 = 0
         |GROUP BY p.doc_id, c.doc_id""".stripMargin,
    // streaming admission ≡ batch keep/drop restricted to the probe
    // subset: band-mates are always same-component (star cap), so
    // min-over-partner-clusters is the probe's own cluster
    "q_stream_admit" -> streamAdmitSql,
    "q_stream_admit_incr" -> streamAdmitIncrSql,
    // same decision replay — the persisted harness admits identically
    // under the fixture's single-batch delivery
    "q_stream_admit_persist" -> streamAdmitIncrSql,
    // time-window mov_rms on the uniform 1/3600 Hz grid: n = round(
    // 7200 * sr) = 2 samples, t shifted back by window/2, warm-up row
    // and final row trimmed (extension.py:684,695-697)
    "q_movrms_time" ->
      // v² quantized to the amplitude- and count-relative per-channel
      // grain max(|v|)²·cnt/2^62 and summed as integers — replays
      // movRms's order-free accumulation (integer window sum ≡ the
      // Spark side's cum-difference exactly; see Signal.movRms). NO
      // output rounding (the q_integral r15 lesson): the quantized
      // sum, cast, multiply, divide and sqrt are all IEEE-identical
      // in both engines, so the raw double already hash-matches,
      // while a final round(…, 6) only adds cross-engine tie risk
      s"""WITH ${uniformSql(3600.0)},
         |g AS (
         |  SELECT channel, t, v,
         |         CASE WHEN max(abs(v)) OVER (PARTITION BY channel)
         |                   * max(abs(v)) OVER (PARTITION BY channel)
         |                   * count(*) OVER (PARTITION BY channel)
         |                   / 4611686018427387904.0 = 0 THEN 1.0
         |              ELSE max(abs(v)) OVER (PARTITION BY channel)
         |                   * max(abs(v)) OVER (PARTITION BY channel)
         |                   * count(*) OVER (PARTITION BY channel)
         |                   / 4611686018427387904.0
         |         END AS grain
         |  FROM u
         |)
         |SELECT channel, t - 3600.0 AS t,
         |       sqrt(CAST(sum(CAST(round(v * v / grain, 0) AS BIGINT))
         |                 OVER (PARTITION BY channel ORDER BY t
         |                       ROWS BETWEEN 1 PRECEDING AND CURRENT ROW) AS DOUBLE)
         |            * grain / 2) AS v
         |FROM g
         |QUALIFY row_number() OVER (PARTITION BY channel ORDER BY t) >= 2
         |    AND row_number() OVER (PARTITION BY channel ORDER BY t) <
         |        count(*) OVER (PARTITION BY channel)""".stripMargin,
    "q_stream_movrms" ->
      """WITH s AS (
        |  SELECT event_type AS channel, epoch_us(ts) AS us, value AS v FROM events
        |)
        |SELECT channel, us,
        |       round(sqrt(avg(v * v) OVER (PARTITION BY channel ORDER BY us, v
        |                                   ROWS BETWEEN 15 PRECEDING AND CURRENT ROW)), 6) AS rms
        |FROM s""".stripMargin,
    "q_stream_wrms" ->
      // sliding windows (1 day size, 12 h slide): every event lands in
      // exactly size/slide = 2 epoch-aligned windows
      """WITH s AS (
        |  SELECT event_type AS channel, epoch_us(ts) AS us, value AS v FROM events
        |),
        |w AS (
        |  SELECT channel,
        |         (us // 43200000000) * 43200000000 - k * 43200000000 AS wstart, v
        |  FROM s, (SELECT unnest([0, 1]) AS k)
        |  WHERE (us // 43200000000) * 43200000000 - k * 43200000000 + 86400000000 > us
        |)
        |SELECT wstart // 1000000 AS w_start_s, channel,
        |       round(sqrt(avg(v * v)), 6) AS rms, count(*) AS n
        |FROM w GROUP BY channel, wstart""".stripMargin,
    "q_cosine_neardups" ->
      """WITH q AS (
        |  SELECT vec_id AS a, embedding::DOUBLE[] AS ea FROM embeddings WHERE vec_id % 10 = 0
        |),
        |scored AS (
        |  SELECT q.a, c.vec_id AS b,
        |         round(list_dot_product(q.ea, c.embedding::DOUBLE[]) /
        |           (sqrt(list_dot_product(q.ea, q.ea)) *
        |            sqrt(list_dot_product(c.embedding::DOUBLE[], c.embedding::DOUBLE[]))), 6) AS cos
        |  FROM q, embeddings c WHERE q.a < c.vec_id
        |)
        |SELECT a, b, cos FROM scored WHERE cos >= 0.35""".stripMargin,

    // bucketed corpus×corpus near-dups: same md5 hyperplane buckets
    // as the ANN oracles, with the oversized-bucket star-cap replay
    "q_cosine_neardups_lsh" ->
      """WITH dp AS (
        |  SELECT vec_id, j,
        |         list_dot_product(
        |           embedding::DOUBLE[],
        |           list_transform(generate_series(0, len(embedding) - 1), d ->
        |             ('0x' || substr(md5('plane:' || j || ':' || d), 1, 13))::BIGINT
        |               / 4503599627370496.0 - 0.5)) AS dp
        |  FROM embeddings, (SELECT unnest(generate_series(0, 7)) AS j)
        |),
        |buckets AS (
        |  SELECT vec_id,
        |         CAST(sum(CASE WHEN dp > 0 THEN pow(2.0, j) ELSE 0.0 END) AS BIGINT) AS bucket
        |  FROM dp GROUP BY vec_id
        |),
        |br AS (
        |  SELECT b.vec_id, b.bucket, e.embedding::DOUBLE[] AS emb,
        |         row_number() OVER (PARTITION BY b.bucket ORDER BY b.vec_id) AS r
        |  FROM buckets b JOIN embeddings e ON e.vec_id = b.vec_id
        |),
        |pairs AS (
        |  SELECT x.vec_id AS a, x.emb AS ea, y.vec_id AS b, y.emb AS eb
        |  FROM br x JOIN br y ON x.bucket = y.bucket
        |   AND x.r <= 256 AND y.r <= 256 AND x.vec_id < y.vec_id
        |  UNION ALL
        |  SELECT x.vec_id, x.emb, y.vec_id, y.emb
        |  FROM br x JOIN br y ON x.bucket = y.bucket AND x.r = 1 AND y.r > 256
        |),
        |scored AS (
        |  SELECT a, b,
        |         round(list_dot_product(ea, eb) /
        |           (sqrt(list_dot_product(ea, ea)) * sqrt(list_dot_product(eb, eb))), 6) AS cos
        |  FROM pairs
        |)
        |SELECT a, b, cos FROM scored WHERE cos >= 0.35""".stripMargin
  )

  /** The trained (coarse centroids, rotation, codebooks) captured per
    * sf dir when q_opq_recall runs in this JVM — Verify dumps oracle
    * SQL AFTER running every query, so the capture is always populated
    * in the driver's gate; in a dev subset run without q_opq_recall
    * the key is simply absent (rows-only, the pre-r14 behavior).
    * Keyed by dir (r14 advice): a JVM that runs two scales must not
    * dump scale A's oracle with scale B's trained literals. Training
    * is deterministic (md5 seeds, per-iteration rounding, fixed-order
    * Jacobi SVD), so the inlined literals are a pure function of the
    * fixture.
    */
  @volatile private var opqCapture: Map[String, (Array[Array[Double]],
    Array[Array[Double]], Array[Array[Array[Double]]])] = Map.empty

  /** CTE chain producing `u(channel, t, v)` = the events channels
    * linearly resampled onto the np.arange grid at `step` seconds —
    * the DuckDB mirror of `evUniform` for oracles over the uniform
    * substrate.
    */
  private def uniformSql(step: Double): String =
    s"""$SRC,
       |bounds AS (SELECT channel, min(t) AS t0, max(t) AS t1 FROM src GROUP BY channel),
       |grid AS (
       |  SELECT channel, t0 + k * $step AS t
       |  FROM (SELECT channel, t0,
       |               unnest(generate_series(0, CAST(ceil((t1 - t0) / $step) AS BIGINT) - 1)) AS k
       |        FROM bounds)
       |),
       |prevj AS (
       |  SELECT g.channel, g.t, s.t AS pt, s.v AS pv
       |  FROM grid g ASOF LEFT JOIN src s ON g.channel = s.channel AND g.t >= s.t
       |),
       |nextj AS (
       |  SELECT g.channel, g.t, s.t AS nt, s.v AS nv
       |  FROM grid g ASOF LEFT JOIN src s ON g.channel = s.channel AND g.t <= s.t
       |),
       |u AS (
       |  SELECT p.channel, p.t,
       |         CASE WHEN p.pt = n.nt THEN p.pv
       |              ELSE p.pv + (n.nv - p.pv) * (p.t - p.pt) / (n.nt - p.pt) END AS v
       |  FROM prevj p JOIN nextj n ON p.channel = n.channel AND p.t = n.t
       |)""".stripMargin

  /** The uniform grid's exact sample rate (dt is exactly 3600.0 —
    * t = k*3600 from t0 = 0 — so every kernel's inferred sr is this
    * same double) and its DOUBLE SQL literal. Scientific notation is
    * required: DuckDB parses plain decimal literals as DECIMAL, which
    * silently changes downstream arithmetic by 1 ulp.
    */
  private val UNI_SR = 1.0 / 3600.0
  private val SR_LIT = f"$UNI_SR%.17e"

  /** The exact (b, a) `Kernels.filtButter` computes on the uniform
    * grid: order halved (ceil), cutoffs normalized by the kernel's
    * own nyq expression.
    */
  private def kernelButter(cutoff: Seq[Double],
                           btype: String): (Array[Double], Array[Double]) = {
    val nyq = 0.5 * UNI_SR
    graft.dsp.FilterDesign.butter(2, cutoff.map(_ / nyq).toArray, btype)
  }

  /** DuckDB sub-PSD mirror of `Psd.welchAll` over the uniform grid
    * (hann/boxcar window, constant/linear per-segment detrend,
    * nWindow=120 / step=60 — integer-exact from sr*432000): produces
    * CTEs `sub(channel, w, freq, p)` via a direct DFT. The FFT<->DFT
    * difference is ~1e-13 relative, far under the %.4e compare.
    */
  private def welchSubSql(window: String, detrend: String): String = {
    val win = window match {
      case "boxcar" => "1.0"
      case _ => "0.5 - 0.5 * cos(2 * pi() * idx / 120)"
    }
    val slope = "(sum((idx - 59.5) * v) OVER sw / sum((idx - 59.5) * (idx - 59.5)) OVER sw)"
    val detrendExpr = detrend match {
      case "constant" => "v - avg(v) OVER sw"
      case "linear" => s"v - ((avg(v) OVER sw - $slope * 59.5) + $slope * idx)"
    }
    s"""${uniformSql(3600.0)},
       |idx0 AS (
       |  SELECT channel, row_number() OVER (PARTITION BY channel ORDER BY t) - 1 AS rn, v,
       |         count(*) OVER (PARTITION BY channel) AS cnt
       |  FROM u
       |),
       |segs AS (
       |  SELECT channel, unnest(generate_series(0, (cnt - 60) // 60 - 1)) AS w
       |  FROM (SELECT channel, max(cnt) AS cnt FROM idx0 GROUP BY channel)
       |),
       |segr AS (
       |  SELECT i.channel, s.w, i.rn - s.w * 60 AS idx, i.v
       |  FROM idx0 i JOIN segs s ON i.channel = s.channel
       |    AND i.rn >= s.w * 60 AND i.rn < s.w * 60 + 120
       |),
       |segd AS (
       |  SELECT channel, w, idx, ($detrendExpr) AS y
       |  FROM segr WINDOW sw AS (PARTITION BY channel, w)
       |),
       |segw AS (
       |  SELECT channel, w, idx, y * ($win) AS yw,
       |         sum(($win) * ($win)) OVER (PARTITION BY channel, w) AS wss
       |  FROM segd
       |),
       |dft AS (
       |  SELECT channel, w, k,
       |         sum(yw * cos(2 * pi() * k * idx / 120)) AS re,
       |         sum(yw * sin(2 * pi() * k * idx / 120)) AS im,
       |         any_value(wss) AS wss
       |  FROM segw, (SELECT unnest(generate_series(0, 60)) AS k)
       |  GROUP BY channel, w, k
       |),
       |sub AS (
       |  SELECT channel, w, k * $SR_LIT / 120 AS freq,
       |         (re * re + im * im) * (1.0 / ($SR_LIT * wss)) *
       |           (CASE WHEN k > 0 AND k < 60 THEN 2.0 ELSE 1.0 END) AS p
       |  FROM dft
       |)""".stripMargin
  }

  /** A welch summarize-mode oracle: `agg` over the DFT sub-PSDs. */
  private def welchSummarizeSql(agg: String, window: String = "hann",
                                detrend: String = "constant"): String =
    s"""WITH ${welchSubSql(window, detrend)}
       |SELECT channel, freq, printf('%.4e', $agg) AS p
       |FROM sub WHERE freq > 0 GROUP BY channel, freq""".stripMargin

  /** The 'max rms' / 'damage' rescale oracle over DFT sub-PSDs with
    * per-segment trapezoid RMS (mirrors `Psd.rescale`,
    * `welchAllWithSegRms`).
    */
  private def welchRescaleSql(factorSql: String): String =
    s"""WITH ${welchSubSql("hann", "constant")},
       |subt AS (
       |  SELECT channel, w, freq, p,
       |         (p + lag(p) OVER sw) / 2.0 * (freq - lag(freq) OVER sw) AS tz
       |  FROM sub WINDOW sw AS (PARTITION BY channel, w ORDER BY freq)
       |),
       |subr AS (
       |  SELECT channel, w, freq, p, sqrt(sum(tz) OVER (PARTITION BY channel, w)) AS seg_rms
       |  FROM subt
       |),
       |perfreq AS (
       |  SELECT channel, freq, avg(p) AS p, max(seg_rms) AS max_sub_rms,
       |         avg(pow(seg_rms, 4.0)) AS mean_rms_pow
       |  FROM subr GROUP BY channel, freq
       |),
       |wseg AS (
       |  SELECT channel, freq, p, max_sub_rms, mean_rms_pow,
       |         (p + lag(p) OVER wf) / 2.0 * (freq - lag(freq) OVER wf) AS seg
       |  FROM perfreq WINDOW wf AS (PARTITION BY channel ORDER BY freq)
       |),
       |agg AS (
       |  SELECT channel, freq, p,
       |         ($factorSql) / sqrt(sum(seg) OVER (PARTITION BY channel)) AS factor
       |  FROM wseg
       |)
       |SELECT channel, freq, printf('%.4e', p * factor * factor) AS p
       |FROM agg WHERE freq > 0""".stripMargin

  /** Whole-channel periodogram oracle (boxcar, constant detrend):
    * direct DFT over the uniform grid, scipy scaling.
    */
  private def periodogramSql: String =
    s"""WITH ${uniformSql(3600.0)},
       |idx AS (
       |  SELECT channel, row_number() OVER (PARTITION BY channel ORDER BY t) - 1 AS j, v,
       |         count(*) OVER (PARTITION BY channel) AS n,
       |         avg(v) OVER (PARTITION BY channel) AS mv
       |  FROM u
       |),
       |dft AS (
       |  SELECT channel, k,
       |         sum((v - mv) * cos(2 * pi() * k * j / n)) AS re,
       |         sum((v - mv) * sin(2 * pi() * k * j / n)) AS im,
       |         any_value(n) AS n
       |  FROM idx, (SELECT unnest(generate_series(0,
       |         (SELECT max(n) FROM (SELECT count(*) AS n FROM u GROUP BY channel)) // 2)) AS k)
       |  WHERE k <= n // 2
       |  GROUP BY channel, k
       |)
       |SELECT channel, k * $SR_LIT / n AS freq,
       |       printf('%.4e', (re * re + im * im) * (1.0 / ($SR_LIT * n)) *
       |              (CASE WHEN k > 0 AND NOT (n % 2 = 0 AND k = n // 2) THEN 2.0 ELSE 1.0 END)) AS p
       |FROM dft WHERE k >= 1""".stripMargin

  /** Rainflow cycle extraction as a DuckDB stack machine: reversal
    * extraction with window functions (plateau compression + sign
    * change, keeping first/last — `Rainflow.reversals`), then the
    * ASTM three-point stack algorithm as a recursive CTE whose state
    * is (input position, stack LIST) per channel. Each iteration does
    * ONE stack transition: a pop (emitting a 1.0 cycle, or 0.5 when
    * only three points), a push, or — input exhausted — one residual
    * half-cycle drain step. Bit-exact vs `Rainflow.extractCycles`.
    * Produces CTE `cycles(channel, rng, cnt)`; must run under
    * WITH RECURSIVE.
    */
  private def rainflowCyclesSql: String = {
    val pop = "len(f.st) >= 3 AND abs(f.st[-1] - f.st[-2]) >= abs(f.st[-2] - f.st[-3])"
    s"""$SRC,
       |ordv AS MATERIALIZED (
       |  SELECT channel, row_number() OVER (PARTITION BY channel ORDER BY t) AS rn, v,
       |         count(*) OVER (PARTITION BY channel) AS orig_n
       |  FROM src
       |),
       |comp AS (
       |  SELECT channel, row_number() OVER (PARTITION BY channel ORDER BY rn) AS crn, v,
       |         count(*) OVER (PARTITION BY channel) AS m, orig_n
       |  FROM (SELECT channel, rn, v, orig_n,
       |               lag(v) OVER (PARTITION BY channel ORDER BY rn) AS pv
       |        FROM ordv)
       |  WHERE pv IS NULL OR v != pv
       |),
       |revs AS MATERIALIZED (
       |  SELECT channel, row_number() OVER (PARTITION BY channel ORDER BY crn) - 1 AS rn, v
       |  FROM (SELECT channel, crn, v, m,
       |               lag(v) OVER wc AS pv, lead(v) OVER wc AS nv
       |        FROM comp WINDOW wc AS (PARTITION BY channel ORDER BY crn))
       |  WHERE crn = 1 OR crn = m OR (v - pv) * (nv - v) < 0
       |  UNION ALL
       |  -- a constant channel compresses to ONE point, but the kernel
       |  -- (Rainflow.reversals) always appends the final sample for
       |  -- >= 2 input samples: [v, v] -> one 0-range half cycle
       |  SELECT channel, 1 AS rn, v FROM comp WHERE m = 1 AND orig_n >= 2
       |),
       |rf AS (
       |  SELECT channel, CAST(0 AS BIGINT) AS pos, CAST([] AS DOUBLE[]) AS st,
       |         CAST(NULL AS DOUBLE) AS rng, CAST(NULL AS DOUBLE) AS cnt
       |  FROM (SELECT DISTINCT channel FROM revs)
       |  UNION ALL
       |  SELECT f.channel,
       |         CASE WHEN $pop THEN f.pos
       |              WHEN r.rn IS NOT NULL THEN f.pos + 1
       |              ELSE f.pos END AS pos,
       |         CASE WHEN $pop
       |              THEN CASE WHEN len(f.st) = 3 THEN f.st[2:3]
       |                        ELSE list_concat(f.st[1:len(f.st) - 3], [f.st[-1]]) END
       |              WHEN r.rn IS NOT NULL THEN list_append(f.st, r.v)
       |              ELSE f.st[2:] END AS st,
       |         CASE WHEN $pop THEN abs(f.st[-2] - f.st[-3])
       |              WHEN r.rn IS NOT NULL THEN CAST(NULL AS DOUBLE)
       |              ELSE abs(f.st[2] - f.st[1]) END AS rng,
       |         CASE WHEN $pop THEN CASE WHEN len(f.st) = 3 THEN 0.5 ELSE 1.0 END
       |              WHEN r.rn IS NOT NULL THEN CAST(NULL AS DOUBLE)
       |              ELSE 0.5 END AS cnt
       |  FROM rf f LEFT JOIN revs r ON r.channel = f.channel AND r.rn = f.pos
       |  WHERE ($pop) OR r.rn IS NOT NULL OR len(f.st) >= 2
       |),
       |cycles AS (SELECT channel, rng, cnt FROM rf WHERE rng IS NOT NULL)""".stripMargin
  }

  /** Shared as-of interpolation oracle: np.arange grid at `step`
    * seconds, bracketed by DuckDB ASOF joins in both directions.
    */
  private def resampleSql(step: Double, kind: String): String = {
    val value = kind match {
      case "linear" | "slinear" =>
        "CASE WHEN p.pt = n.nt THEN p.pv ELSE p.pv + (n.nv - p.pv) * (p.t - p.pt) / (n.nt - p.pt) END"
      case "nearest" => "CASE WHEN p.t - p.pt <= n.nt - p.t THEN p.pv ELSE n.nv END"
      case "nearest-up" => "CASE WHEN p.t - p.pt < n.nt - p.t THEN p.pv ELSE n.nv END"
      case "previous" | "zero" => "p.pv"
      case "next" => "n.nv"
    }
    s"""WITH $SRC,
       |bounds AS (SELECT channel, min(t) AS t0, max(t) AS t1 FROM src GROUP BY channel),
       |grid AS (
       |  SELECT channel, t0 + k * $step AS t
       |  FROM (SELECT channel, t0,
       |               unnest(generate_series(0, CAST(ceil((t1 - t0) / $step) AS BIGINT) - 1)) AS k
       |        FROM bounds)
       |),
       |prevj AS (
       |  SELECT g.channel, g.t, s.t AS pt, s.v AS pv
       |  FROM grid g ASOF LEFT JOIN src s ON g.channel = s.channel AND g.t >= s.t
       |),
       |nextj AS (
       |  SELECT g.channel, g.t, s.t AS nt, s.v AS nv
       |  FROM grid g ASOF LEFT JOIN src s ON g.channel = s.channel AND g.t <= s.t
       |)
       |SELECT p.channel, p.t, $value AS v
       |FROM prevj p JOIN nextj n ON p.channel = n.channel AND p.t = n.t""".stripMargin
  }

  private def occurrencesSql(needle: String): String = {
    val esc = needle.replace("'", "''")
    s"(len(padded) - len(replace(padded, ' $esc ', ''))) / ${needle.length + 2}"
  }

  private def langIdSql: String = {
    def score(words: Seq[String]) = words.map(occurrencesSql).mkString(" + ")
    val en = score(Seq("the", "and", "is", "of", "to"))
    val de = score(Seq("der", "und", "die", "ist", "das", "nicht"))
    val fr = score(Seq("le", "et", "les", "est", "une", "pas"))
    val es = score(Seq("el", "que", "los", "es", "una", "por"))
    s"""WITH padded_docs AS (
       |  SELECT lang, ' ' || lower(text) || ' ' AS padded,
       |         (strlen(text) - length(text)) * 1.0 / length(text) AS nonascii
       |  FROM documents
       |),
       |scored AS (
       |  SELECT lang, nonascii, $en AS s_en, $de AS s_de, $fr AS s_fr, $es AS s_es
       |  FROM padded_docs
       |)
       |SELECT lang,
       |       CASE WHEN nonascii > 0.3 THEN 'zh'
       |            WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es THEN 'en'
       |            WHEN s_de >= s_fr AND s_de >= s_es THEN 'de'
       |            WHEN s_fr >= s_es THEN 'fr'
       |            ELSE 'es' END AS lang_pred,
       |       count(*) AS n
       |FROM scored GROUP BY lang, lang_pred""".stripMargin
  }

  /** Per-document UNROUNDED quality as a CTE chain ending in
    * `qual(doc_id, source, lang, text, qual)` — the shared substrate
    * for q_quality (per-doc rounding) and q_source_mix (exact
    * quantized group average).
    */
  private def qualDocsSql: String =
    """qm AS (
      |  SELECT doc_id, source, lang, text,
      |         CAST(length(text) AS DOUBLE) AS n,
      |         CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS DOUBLE) AS digits,
      |         CAST(length(text) - length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')) AS DOUBLE) AS punct,
      |         CAST(length(text) - length(regexp_replace(text, '[A-Z]', '', 'g')) AS DOUBLE) AS uppr
      |  FROM documents
      |),
      |qual AS (
      |  SELECT doc_id, source, lang, text,
      |         greatest(0.0, least(n / 200.0, 1.0) *
      |           (1.0 - least(digits / n * 4.0, 1.0) * 0.4
      |                - least(punct / n * 3.0, 1.0) * 0.3
      |                - least(uppr / n * 2.0, 1.0) * 0.3)) AS qual
      |  FROM qm
      |)""".stripMargin

  /** Data-card replay: each leg re-derives its number from the same
    * CTE chains the per-operator oracles use; quality averaged in the
    * quantized-long discipline of sourceMixSql.
    */
  private def dataCardSql: String =
    s"""WITH comp AS MATERIALIZED ($dedupComponentsSql),
       |decon AS MATERIALIZED ($decontaminateSql),
       |$qualDocsSql,
       |fp AS (
       |  SELECT md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS f,
       |         count(*) AS c
       |  FROM documents GROUP BY 1
       |)
       |SELECT 'n_docs' AS metric, CAST(count(*) AS DOUBLE) AS value FROM documents
       |UNION ALL SELECT 'n_langs', CAST(count(DISTINCT lang) AS DOUBLE) FROM documents
       |UNION ALL SELECT 'n_sources', CAST(count(DISTINCT source) AS DOUBLE) FROM documents
       |UNION ALL SELECT 'ws_tokens',
       |  CAST(sum(len(regexp_split_to_array(trim(text), '\\s+'))) AS DOUBLE) FROM documents
       |UNION ALL SELECT 'exact_dup_docs', CAST(coalesce(sum(c), 0) AS DOUBLE) FROM fp WHERE c > 1
       |UNION ALL SELECT 'neardup_member_docs', CAST(count(DISTINCT doc_id) AS DOUBLE) FROM comp
       |UNION ALL SELECT 'contaminated_docs', CAST(sum(contaminated) AS DOUBLE) FROM decon
       |UNION ALL SELECT 'avg_quality',
       |  round(CAST(sum(CAST(round((qual + 1e-7) * 10000) AS BIGINT)) AS BIGINT)
       |        / (count(*) * 10000.0), 6) FROM qual""".stripMargin

  private def qualitySql: String =
    s"""WITH $qualDocsSql
       |SELECT doc_id, round(qual + 1e-7, 4) AS quality FROM qual""".stripMargin

  /** Training-mix oracle: quality quantized to exact 1e-4 longs
    * BEFORE the group sum (mirroring the Spark side), so the group
    * average is one float division of exact integers — summation
    * order never enters the result.
    */
  private def sourceMixSql: String =
    s"""WITH $qualDocsSql
       |SELECT source, lang, count(*) AS n_docs,
       |       CAST(sum(len(regexp_split_to_array(trim(text), '\\s+'))) AS BIGINT) AS ws_tokens,
       |       round(CAST(sum(CAST(round((qual + 1e-7) * 10000) AS BIGINT)) AS BIGINT)
       |             / (count(*) * 10000.0), 6) AS avg_quality
       |FROM qual GROUP BY source, lang""".stripMargin

  /** Decontamination oracle: distinct shingle-STRING overlap replays
    * Spark's distinct-h1 overlap (the same md5-collision argument as
    * the Jaccard oracle); the >= 10% flag is exact integer
    * arithmetic on both engines.
    */
  private def decontaminateSql: String =
    s"""WITH $shinglesSql,
       |bench AS (SELECT DISTINCT shingle FROM shingles WHERE doc_id % 97 = 0),
       |corp AS (SELECT doc_id, shingle FROM shingles WHERE doc_id % 97 != 0),
       |sizes AS (SELECT doc_id, count(*) AS n_shingles FROM corp GROUP BY doc_id),
       |hits AS (
       |  SELECT c.doc_id, count(*) AS hits
       |  FROM corp c JOIN bench b ON c.shingle = b.shingle GROUP BY c.doc_id
       |)
       |SELECT s.doc_id, s.n_shingles, coalesce(h.hits, 0) AS hits,
       |       round(coalesce(h.hits, 0) / s.n_shingles, 6) AS overlap,
       |       CASE WHEN coalesce(h.hits, 0) * 10 >= s.n_shingles THEN 1 ELSE 0 END AS contaminated
       |FROM sizes s LEFT JOIN hits h ON s.doc_id = h.doc_id""".stripMargin

  private val normSql = "trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))"
  private def shinglesSqlFrom(table: String): String =
    s"""shingles AS (
       |  SELECT DISTINCT doc_id, substr(norm, pos, 5) AS shingle
       |  FROM (
       |    SELECT doc_id, norm,
       |           unnest(generate_series(1, greatest(length(norm) - 4, 1))) AS pos
       |    FROM (SELECT doc_id, $normSql AS norm FROM $table)
       |  )
       |)""".stripMargin
  private val shinglesSql = shinglesSqlFrom("documents")

  private def minhashSql: String =
    // Kirsch-Mitzenmacher double hashing, mirroring Dedup
    // .minhashSignatures: g_i = (h1 + i*h2) mod 2^52, h1/h2 = the
    // md5's two 13-hex-char halves (exact BIGINT arithmetic)
    s"""WITH $shinglesSql
       |SELECT doc_id, i,
       |       min((('0x' || substr(md5(shingle), 1, 13))::BIGINT
       |            + i * (('0x' || substr(md5(shingle), 14, 13))::BIGINT))
       |           % 4503599627370496) AS minhash
       |FROM shingles, (SELECT unnest(generate_series(0, 15)) AS i)
       |GROUP BY doc_id, i""".stripMargin

  /** Shared LSH candidate-pair pipeline (through the `cand` CTE):
    * band signature = md5 of the band's sorted "i:minhash" strings —
    * Spark's sort_array/concat_ws reproduced with DuckDB's ordered
    * string_agg (both binary collation). Mirrors the oversized-bucket
    * guard of `Dedup.lshCandidates`: members ranked by doc_id within
    * each (band, bsig) bucket; full pairing up to rank `maxBucket`,
    * representative-vs-rest star edges beyond it.
    */
  // default mirrors Dedup.lshCandidates (64 since round 15 — see the
  // oversized-bucket-guard scaladoc there; identical output at every
  // gate scale, 4.5x less verify work at the sf10 rung)
  private def lshCandPrefix(maxBucket: Int = 64): String =
    s"$shinglesSql,\n${lshCandChain(maxBucket)}"

  /** The sig → bands → ranked → capped-cand CTE chain, assuming a
    * `shingles(doc_id, shingle)` CTE is already in scope.
    */
  /** The sig → bands prefix alone (the corpus band table), assuming a
    * `shingles(doc_id, shingle)` CTE is already in scope — shared by
    * the candidate chain below and the stream-static match oracle.
    */
  private def lshBandsChain: String =
    s"""sig AS MATERIALIZED (
       |  SELECT doc_id, i,
       |         min((('0x' || substr(md5(shingle), 1, 13))::BIGINT
       |              + i * (('0x' || substr(md5(shingle), 14, 13))::BIGINT))
       |             % 4503599627370496) AS minhash
       |  FROM shingles, (SELECT unnest(generate_series(0, 15)) AS i)
       |  GROUP BY doc_id, i
       |),
       |bands AS MATERIALIZED (
       |  SELECT doc_id, i // 4 AS band,
       |         md5(string_agg(i || ':' || minhash, ',' ORDER BY i || ':' || minhash)) AS bsig
       |  FROM sig GROUP BY doc_id, i // 4
       |)""".stripMargin

  private def lshCandChain(maxBucket: Int): String =
    s"""$lshBandsChain,
       |bandsr AS MATERIALIZED (
       |  SELECT doc_id, band, bsig,
       |         row_number() OVER (PARTITION BY band, bsig ORDER BY doc_id) AS r
       |  FROM bands
       |),
       |candc AS MATERIALIZED (
       |  SELECT a, b, count(*) AS n_bands FROM (
       |    SELECT x.doc_id AS a, y.doc_id AS b
       |    FROM bandsr x JOIN bandsr y
       |      ON x.band = y.band AND x.bsig = y.bsig
       |     AND x.r <= $maxBucket AND y.r <= $maxBucket AND x.doc_id < y.doc_id
       |    UNION ALL
       |    SELECT x.doc_id AS a, y.doc_id AS b
       |    FROM bandsr x JOIN bandsr y
       |      ON x.band = y.band AND x.bsig = y.bsig AND x.r = 1 AND y.r > $maxBucket
       |  ) GROUP BY a, b
       |),
       |cand AS MATERIALIZED (SELECT a, b FROM candc)""".stripMargin

  private def lshNearDupsSql: String =
    s"""WITH ${lshCandPrefix()},
       |cnt AS (
       |  SELECT doc_id, count(*) AS n_candidates
       |  FROM (SELECT a AS doc_id FROM cand UNION ALL SELECT b AS doc_id FROM cand)
       |  GROUP BY doc_id
       |)
       |SELECT d.doc_id, coalesce(c.n_candidates, 0) AS n_candidates
       |FROM documents d LEFT JOIN cnt c USING (doc_id)""".stripMargin

  /** End-to-end near-dup oracle: capped candidates verified by exact
    * Jaccard over the distinct 52-bit shingle-hash sets (the same h1
    * sets Spark intersects — exact-integer division, so the 0.5
    * threshold selects identical rows).
    */
  /** Containment oracle: the capped candidate list with distinct-set
    * sizes and intersections; zero-intersection candidates survive
    * via the LEFT JOIN (the Spark merge-scan emits inter = 0, not no
    * row). All counts exact integers; each score is one division.
    */
  private def containmentSql: String =
    s"""WITH ${lshCandPrefix()},
       |h AS MATERIALIZED (
       |  SELECT DISTINCT doc_id,
       |         ('0x' || substr(md5(shingle), 1, 13))::BIGINT AS h1
       |  FROM shingles
       |),
       |sizes AS (SELECT doc_id, count(*) AS sz FROM h GROUP BY doc_id),
       |inter AS (
       |  SELECT c.a, c.b, count(*) AS i
       |  FROM cand c
       |  JOIN h ha ON ha.doc_id = c.a
       |  JOIN h hb ON hb.doc_id = c.b AND hb.h1 = ha.h1
       |  GROUP BY c.a, c.b
       |)
       |SELECT c.a, c.b, coalesce(i.i, 0) AS inter, sa.sz AS sza, sb.sz AS szb,
       |       round(coalesce(i.i, 0) / sa.sz, 6) AS containment_a,
       |       round(coalesce(i.i, 0) / sb.sz, 6) AS containment_b,
       |       round(coalesce(i.i, 0) / (sa.sz + sb.sz - coalesce(i.i, 0)), 6) AS jaccard
       |FROM cand c
       |JOIN sizes sa ON sa.doc_id = c.a
       |JOIN sizes sb ON sb.doc_id = c.b
       |LEFT JOIN inter i ON i.a = c.a AND i.b = c.b""".stripMargin

  private def neardupPairsSql: String =
    s"""WITH ${lshCandPrefix()},
       |h AS MATERIALIZED (
       |  SELECT DISTINCT doc_id,
       |         ('0x' || substr(md5(shingle), 1, 13))::BIGINT AS h1
       |  FROM shingles
       |),
       |sizes AS (SELECT doc_id, count(*) AS sz FROM h GROUP BY doc_id),
       |inter AS (
       |  SELECT c.a, c.b, count(*) AS i
       |  FROM cand c
       |  JOIN h ha ON ha.doc_id = c.a
       |  JOIN h hb ON hb.doc_id = c.b AND hb.h1 = ha.h1
       |  GROUP BY c.a, c.b
       |)
       |SELECT i.a, i.b, round(i.i * 1.0 / (sa.sz + sb.sz - i.i), 6) AS jaccard
       |FROM inter i
       |JOIN sizes sa ON sa.doc_id = i.a
       |JOIN sizes sb ON sb.doc_id = i.b
       |WHERE round(i.i * 1.0 / (sa.sz + sb.sz - i.i), 6) >= 0.5""".stripMargin

  /** The bounded top-k-per-anchor near-dup oracle, mirroring
    * `Dedup.neardupTopKByBands`: shortlist = top-8 candidates per
    * anchor by (n_bands DESC, b ASC) — the engine computes the same
    * cut with a bounded partial aggregate; row_number here is the
    * window form the aggregate is pinned bit-identical to — then
    * exact Jaccard over the shortlist only, top-3 by (jaccard DESC,
    * b ASC) at the 0.5 threshold.
    */
  private def neardupPairsTopkSql: String =
    s"""WITH ${lshCandPrefix()},
       |short AS (
       |  SELECT a, b FROM (
       |    SELECT a, b, row_number() OVER (PARTITION BY a
       |                                    ORDER BY n_bands DESC, b ASC) AS sr
       |    FROM candc
       |  ) WHERE sr <= 8
       |),
       |h AS MATERIALIZED (
       |  SELECT DISTINCT doc_id,
       |         ('0x' || substr(md5(shingle), 1, 13))::BIGINT AS h1
       |  FROM shingles
       |),
       |sizes AS (SELECT doc_id, count(*) AS sz FROM h GROUP BY doc_id),
       |inter AS (
       |  SELECT s.a, s.b, count(*) AS i
       |  FROM short s
       |  JOIN h ha ON ha.doc_id = s.a
       |  JOIN h hb ON hb.doc_id = s.b AND hb.h1 = ha.h1
       |  GROUP BY s.a, s.b
       |),
       |scored AS (
       |  SELECT i.a, i.b, round(i.i * 1.0 / (sa.sz + sb.sz - i.i), 6) AS jaccard
       |  FROM inter i
       |  JOIN sizes sa ON sa.doc_id = i.a
       |  JOIN sizes sb ON sb.doc_id = i.b
       |  WHERE round(i.i * 1.0 / (sa.sz + sb.sz - i.i), 6) >= 0.5
       |)
       |SELECT a, b, jaccard, rk FROM (
       |  SELECT a, b, jaccard,
       |         row_number() OVER (PARTITION BY a
       |                            ORDER BY jaccard DESC, b ASC)::INT AS rk
       |  FROM scored
       |) WHERE rk <= 3""".stripMargin

  /** Degenerate boilerplate fixture shared by the bucket-cap oracles:
    * the first 10 documents plus 50 clones of doc 0's text (doc_ids
    * 1000-1049) — one identical-signature bucket of 51 members in
    * every band, overflowing a maxBucket = 8 cap (the production
    * failure mode the cap guards against).
    */
  private val cloneCorpusSql =
    """corpus AS (
      |  SELECT doc_id, text FROM documents WHERE doc_id < 10
      |  UNION ALL
      |  SELECT 1000 + i AS doc_id, (SELECT text FROM documents WHERE doc_id = 0) AS text
      |  FROM (SELECT unnest(generate_series(0, 49)) AS i)
      |)""".stripMargin

  /** Capped candidate counts over the degenerate fixture: the 51-doc
    * boilerplate bucket must emit C(8,2) full pairs + 43 star edges,
    * not C(51,2) — bounded output is the assertion.
    */
  private def lshBucketCapSql: String =
    s"""WITH $cloneCorpusSql,
       |${shinglesSqlFrom("corpus")},
       |${lshCandChain(8)},
       |cnt AS (
       |  SELECT doc_id, count(*) AS n_candidates
       |  FROM (SELECT a AS doc_id FROM cand UNION ALL SELECT b AS doc_id FROM cand)
       |  GROUP BY doc_id
       |)
       |SELECT c.doc_id, coalesce(n.n_candidates, 0) AS n_candidates
       |FROM corpus c LEFT JOIN cnt n USING (doc_id)""".stripMargin

  /** Overflow diagnostic replay: the oversized buckets themselves. */
  private def lshBucketOverflowSql: String =
    s"""WITH $cloneCorpusSql,
       |${shinglesSqlFrom("corpus")},
       |${lshCandChain(8)}
       |SELECT band, min(doc_id) AS representative,
       |       count(*) AS n_members, count(*) - 8 AS n_starred
       |FROM bands GROUP BY band, bsig HAVING count(*) > 8""".stripMargin

  /** Min-label + two-sided chained pointer-jump replay. The oracle
    * unrolls `min(label, nmin = min neighbor labels, label(nmin),
    * label^4)` for CC_ORACLE_ROUNDS synchronous rounds; post-
    * convergence rounds are no-ops. Dedup.connectedComponents runs a
    * different recurrence (star contraction with t^64 compression,
    * bounded by maxIters), and the two agree only at the fixpoint: once
    * both have converged every doc carries its component minimum.
    * This constant MUST stay equal to the maxIters the
    * q_dedup_components query uses — AND the bound must never
    * actually bind on either side: a capped run ships under-merged
    * labels (a wrong answer, and one the other recurrence would not
    * reproduce).
    * Round 6 learned this the hard way: 8 rounds, chosen from the
    * idealized ">= 4x+1 coverage per round" model, left sf0.1's
    * candidate graph un-converged (round 8 still relabeled 15 nodes).
    * 16 rounds is >= 3^15 coverage even under the pessimistic model —
    * far beyond any candidate-graph diameter at any SF — and
    * Round7Spec asserts `lastCcRounds < CC_ORACLE_ROUNDS` (strict
    * convergence) on the real sf graph. Each oracle round is one
    * join+aggregate over the edge list plus label-table self-joins —
    * cheap because the chain is AS MATERIALIZED, and converged rounds
    * are no-op scans.
    */
  private[graft] val CC_ORACLE_ROUNDS = 16
  private def dedupComponentsSql: String = {
    // AS MATERIALIZED is load-bearing: each round references the
    // previous CTE seven times, and DuckDB's default inlining would
    // expand the whole LSH prefix exponentially (measured: >100x
    // slower at 8 plain-propagation rounds)
    def round(prev: String, cur: String): String =
      s"""$cur AS MATERIALIZED (
         |  SELECT l.doc_id,
         |         least(l.label,
         |               coalesce(nm.nmin, l.label),
         |               coalesce(nm.snmin, l.label),
         |               coalesce(s.slabel, l.label)) AS label
         |  FROM $prev l
         |  LEFT JOIN (SELECT nm0.doc_id, nm0.nmin, sl.label AS snmin
         |             FROM (SELECT e.x AS doc_id, min(nl.label) AS nmin
         |                   FROM e JOIN $prev nl ON nl.doc_id = e.y GROUP BY e.x) nm0
         |             LEFT JOIN $prev sl ON sl.doc_id = nm0.nmin) nm
         |    USING (doc_id)
         |  LEFT JOIN (SELECT p1.doc_id, p4.label AS slabel
         |             FROM $prev p1 JOIN $prev p2 ON p2.doc_id = p1.label
         |                           JOIN $prev p3 ON p3.doc_id = p2.label
         |                           JOIN $prev p4 ON p4.doc_id = p3.label) s
         |    USING (doc_id)
         |)""".stripMargin
    val rounds = (1 to CC_ORACLE_ROUNDS).map(t => round(s"l${t - 1}", s"l$t")).mkString(",\n")
    s"""WITH ${lshCandPrefix()},
       |e AS MATERIALIZED (SELECT a AS x, b AS y FROM cand UNION ALL SELECT b AS x, a AS y FROM cand),
       |l0 AS MATERIALIZED (SELECT DISTINCT x AS doc_id, x AS label FROM e),
       |$rounds
       |SELECT doc_id, label AS component,
       |       count(*) OVER (PARTITION BY label) AS n_members
       |FROM l$CC_ORACLE_ROUNDS""".stripMargin
  }

  /** Keep/drop replay: the same fixpoint labels left-joined back to
    * the corpus — a doc survives iff it is its cluster's minimum.
    */
  /** Cross-modality pair-dedup replay: text reps from the component
    * chain, image reps by min media_id per pixel aHash (the phash
    * relation is the `mediaPixelPhashSql` replay nested as a CTE).
    */
  private def pairDedupSql: String =
    s"""WITH comp AS MATERIALIZED ($dedupComponentsSql),
       |tr AS (
       |  SELECT d.doc_id, coalesce(c.component, d.doc_id) AS text_rep
       |  FROM documents d LEFT JOIN comp c USING (doc_id)),
       |ph AS MATERIALIZED (SELECT media_id, phash FROM ($mediaPixelPhashSql)),
       |mr AS (SELECT phash, min(media_id) AS media_rep FROM ph GROUP BY phash),
       |mred AS (SELECT ph.media_id, mr.media_rep FROM ph JOIN mr USING (phash))
       |SELECT t.doc_id, t.text_rep, m.media_rep,
       |       t.doc_id = t.text_rep AS keep_text,
       |       t.doc_id = m.media_rep AS keep_media,
       |       (t.doc_id = t.text_rep AND t.doc_id = m.media_rep) AS keep
       |FROM tr t JOIN mred m ON t.doc_id = m.media_id""".stripMargin

  private def dedupKeepSql: String = {
    val components = dedupComponentsSql
    s"""WITH comp AS MATERIALIZED ($components)
       |SELECT d.doc_id,
       |       coalesce(c.component, d.doc_id) AS cluster,
       |       d.doc_id = coalesce(c.component, d.doc_id) AS keep
       |FROM documents d LEFT JOIN comp c USING (doc_id)""".stripMargin
  }

  /** Streaming-admission replay: the keep/drop fixpoint labels
    * restricted to the probe subset (doc_id % 7). Band-mates are
    * always same-component (the star cap keeps capped buckets
    * connected), so the stream's min-over-partner-clusters equals the
    * probe's own coalesce(component, doc_id) — the identical
    * expression the batch keep/drop oracle uses.
    */
  private def streamAdmitSql: String =
    s"""WITH comp AS MATERIALIZED ($dedupComponentsSql)
       |SELECT d.doc_id,
       |       coalesce(c.component, d.doc_id) AS cluster,
       |       d.doc_id = coalesce(c.component, d.doc_id) AS admitted
       |FROM documents d LEFT JOIN comp c USING (doc_id)
       |WHERE d.doc_id % 7 = 0""".stripMargin

  /** Incremental-admission replay: the full-corpus component fixpoint
    * (labels = component minima, star-cap-invariant connectivity)
    * restricted to the streamed slice. A streamed doc is admitted iff
    * its cluster holds no persisted (% 10 == 0) member and the doc is
    * the cluster's min STREAMED member — which is exactly what the
    * foreachBatch incremental merge decides when the bounded stream
    * delivers the slice: same-batch clone pairs keep only their min,
    * anything touching a persisted cluster is rejected.
    */
  private def streamAdmitIncrSql: String =
    s"""WITH comp AS MATERIALIZED ($dedupComponentsSql),
       |fulltab AS (
       |  SELECT d.doc_id, coalesce(c.component, d.doc_id) AS cluster
       |  FROM documents d LEFT JOIN comp c USING (doc_id)),
       |agg AS (
       |  SELECT cluster,
       |         min(CASE WHEN doc_id % 10 <> 0 THEN doc_id END) AS min_s,
       |         max(CASE WHEN doc_id % 10 = 0 THEN 1 ELSE 0 END) AS has_p
       |  FROM fulltab GROUP BY cluster)
       |SELECT f.doc_id, f.cluster,
       |       (a.has_p = 0 AND f.doc_id = a.min_s) AS admitted
       |FROM fulltab f JOIN agg a USING (cluster)
       |WHERE f.doc_id % 10 <> 0""".stripMargin

  /** Mixture re-weighting replay (Sampling.mixResample): the argmin
    * group is selected by exact cross-multiplication (HUGEINT — never
    * a float ratio), thresholds are the same floor division Spark
    * computes in BigInt, and the admit decision is a pure integer
    * compare of the salted 52-bit hash — bit-identical by
    * construction.
    */
  private def mixResampleSql: String =
    """WITH counts AS (SELECT lang AS g, count(*) AS n FROM documents GROUP BY lang),
      |w(g, wt) AS (VALUES ('en', 40), ('fr', 20), ('de', 20), ('es', 15), ('zh', 5)),
      |j AS (SELECT counts.g, counts.n, w.wt FROM counts JOIN w USING (g) WHERE counts.n > 0),
      |m AS (SELECT g, n, wt FROM j j1
      |      WHERE NOT EXISTS (SELECT 1 FROM j j2
      |                        WHERE j2.n::HUGEINT * j1.wt < j1.n::HUGEINT * j2.wt
      |                           OR (j2.n::HUGEINT * j1.wt = j1.n::HUGEINT * j2.wt
      |                               AND j2.g < j1.g))),
      |th AS (SELECT j.g,
      |              (4503599627370496::HUGEINT * m.n * j.wt) // (m.wt::HUGEINT * j.n) AS th
      |       FROM j, m)
      |SELECT d.doc_id, d.lang,
      |       ('0x' || substr(md5('mix1:' || CAST(d.doc_id AS VARCHAR)), 1, 13))::BIGINT
      |         < t.th AS admitted
      |FROM documents d JOIN th t ON t.g = d.lang""".stripMargin

  /** Composed curation-pipeline replay: each stage's oracle chained
    * over the SAME corpus (doc_id % 97 != 0). Decontamination and the
    * dedup fixpoint ride their existing statement builders as
    * materialized subqueries; the scrub, the gates and the mixture
    * thresholds are re-derived over the redacted text exactly as the
    * Spark plan computes them (quality and repetition on POST-scrub
    * text — the stage order is part of the contract). Every gate
    * compares engine-exact values: rounded quality, exact-integer-
    * division ratios, and the integer salted-hash mix decision.
    */
  private def curatePipelineSql: String = {
    val em = TextAnalysis.emailPattern
    val ip = TextAnalysis.ipv4Pattern
    val num = TextAnalysis.digitRunPattern
    s"""WITH decon0 AS MATERIALIZED ($decontaminateSql),
       |decon AS (
       |  SELECT doc_id,
       |         CASE WHEN hits * 10 >= n_shingles * 7 THEN 1 ELSE 0 END AS contaminated
       |  FROM decon0
       |),
       |comp AS MATERIALIZED ($dedupComponentsSql),
       |injected AS (
       |  SELECT doc_id, lang,
       |         CASE WHEN doc_id % 10 = 0 THEN
       |           text || ' reach user' || CAST(doc_id AS VARCHAR)
       |                || '@example.com or 10.20.'
       |                || CAST(doc_id % 200 + 1 AS VARCHAR)
       |                || '.7 acct 90210' || CAST(doc_id AS VARCHAR) || '1 done'
       |         ELSE text END AS text
       |  FROM documents WHERE doc_id % 97 != 0
       |),
       |s1 AS (SELECT doc_id, lang, text AS t0,
       |              regexp_replace(text, '$em', '<EMAIL>', 'g') AS t1
       |       FROM injected),
       |s2 AS (SELECT doc_id, lang, t0, t1,
       |              regexp_replace(t1, '$ip', '<IP>', 'g') AS t2
       |       FROM s1),
       |red AS MATERIALIZED (
       |  SELECT doc_id, lang,
       |         len(regexp_extract_all(t0, '$em'))
       |           + len(regexp_extract_all(t1, '$ip'))
       |           + len(regexp_extract_all(t2, '$num')) AS n_pii,
       |         regexp_replace(t2, '$num', '<NUM>', 'g') AS redacted
       |  FROM s2
       |),
       |qm AS (
       |  SELECT doc_id, CAST(length(redacted) AS DOUBLE) AS n,
       |         CAST(length(redacted) - length(regexp_replace(redacted, '[0-9]', '', 'g')) AS DOUBLE) AS digits,
       |         CAST(length(redacted) - length(regexp_replace(redacted, '[^a-zA-Z0-9 ]', '', 'g')) AS DOUBLE) AS punct,
       |         CAST(length(redacted) - length(regexp_replace(redacted, '[A-Z]', '', 'g')) AS DOUBLE) AS uppr
       |  FROM red
       |),
       |qual AS (
       |  SELECT doc_id, round(greatest(0.0, least(n / 200.0, 1.0) *
       |           (1.0 - least(digits / n * 4.0, 1.0) * 0.4
       |                - least(punct / n * 3.0, 1.0) * 0.3
       |                - least(uppr / n * 2.0, 1.0) * 0.3)) + 1e-7, 4) AS quality
       |  FROM qm
       |),
       |toks AS (SELECT doc_id, regexp_split_to_array(trim(lower(redacted)), '\\s+') AS a FROM red),
       |us AS (
       |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens, count(*) AS n_distinct,
       |         max(c) AS top_tok_n
       |  FROM (SELECT doc_id, g, count(*) AS c
       |        FROM (SELECT doc_id, unnest(a) AS g FROM toks) GROUP BY doc_id, g)
       |  GROUP BY doc_id
       |),
       |bs AS (
       |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams, max(c) AS top_bigram_n
       |  FROM (SELECT doc_id, g, count(*) AS c
       |        FROM (SELECT doc_id,
       |                     unnest(list_transform(range(1, len(a)), i -> a[i] || ' ' || a[i + 1])) AS g
       |              FROM toks)
       |        GROUP BY doc_id, g)
       |  GROUP BY doc_id
       |),
       |rep AS (
       |  SELECT us.doc_id,
       |         CAST(n_distinct AS DOUBLE) / n_tokens AS distinct_ratio,
       |         CAST(top_tok_n AS DOUBLE) / n_tokens AS top_tok_frac,
       |         CAST(top_bigram_n AS DOUBLE) / n_bigrams AS top_bigram_frac
       |  FROM us LEFT JOIN bs ON us.doc_id = bs.doc_id
       |),
       |counts AS (SELECT lang AS g, count(*) AS n FROM red GROUP BY lang),
       |w(g, wt) AS (VALUES ('en', 40), ('fr', 20), ('de', 20), ('es', 15), ('zh', 5)),
       |j AS (SELECT counts.g, counts.n, w.wt FROM counts JOIN w USING (g) WHERE counts.n > 0),
       |m AS (SELECT g, n, wt FROM j j1
       |      WHERE NOT EXISTS (SELECT 1 FROM j j2
       |                        WHERE j2.n::HUGEINT * j1.wt < j1.n::HUGEINT * j2.wt
       |                           OR (j2.n::HUGEINT * j1.wt = j1.n::HUGEINT * j2.wt
       |                               AND j2.g < j1.g))),
       |th AS (SELECT j.g,
       |              (4503599627370496::HUGEINT * m.n * j.wt) // (m.wt::HUGEINT * j.n) AS th
       |       FROM j, m),
       |mix AS (SELECT r.doc_id,
       |               ('0x' || substr(md5('mix1:' || CAST(r.doc_id AS VARCHAR)), 1, 13))::BIGINT
       |                 < t.th AS mix_admitted
       |        FROM red r JOIN th t ON t.g = r.lang)
       |SELECT r.doc_id, r.lang,
       |       coalesce(dc.contaminated, 0) AS contaminated,
       |       (r.doc_id = coalesce(cp.component, r.doc_id)) AS keep,
       |       r.n_pii, q.quality,
       |       (q.quality >= 0.5) AS quality_ok,
       |       (rp.distinct_ratio >= 0.35 AND rp.top_tok_frac <= 0.15
       |        AND coalesce(rp.top_bigram_frac <= 0.25, TRUE)) AS rep_ok,
       |       mx.mix_admitted,
       |       (coalesce(dc.contaminated, 0) = 0
       |        AND r.doc_id = coalesce(cp.component, r.doc_id)
       |        AND q.quality >= 0.5
       |        AND rp.distinct_ratio >= 0.35 AND rp.top_tok_frac <= 0.15
       |        AND coalesce(rp.top_bigram_frac <= 0.25, TRUE)
       |        AND mx.mix_admitted) AS admitted
       |FROM red r
       |LEFT JOIN decon dc USING (doc_id)
       |LEFT JOIN comp cp USING (doc_id)
       |JOIN qual q USING (doc_id)
       |LEFT JOIN rep rp USING (doc_id)
       |JOIN mix mx USING (doc_id)""".stripMargin
  }

  /** BPE merge-training replay: the same (word, freq, seg) evolution
    * as `Bpe.merges`, unrolled to `BPE_ROUNDS` materialized CTE
    * levels. Pair extraction replays Spark's split-on-"><" over the
    * trimmed segmentation; the per-round winner is the same exact
    * (cnt DESC, x ASC, y ASC) top-1; merge application is the same
    * literal left-to-right replace. AS MATERIALIZED is load-bearing
    * exactly as in the CC oracle: each level references its
    * predecessor twice and the winner once.
    */
  private[graft] val BPE_ROUNDS = 8

  /** The shared CTE chain `v0..v{BPE_ROUNDS}` replaying merge
    * training; `b1..bN` are the per-round winners. Reused by the
    * merges, encode and token-count oracles — encode's final
    * segmentation IS `v{BPE_ROUNDS}.seg` for the training vocabulary,
    * because encode applies the same merges in the same order with
    * the same literal replace.
    */
  private def bpeCtePrefix: String = {
    def round(r: Int): String = {
      val prev = s"v${r - 1}"
      s"""p$r AS MATERIALIZED (
         |  SELECT split_part(pr, '|', 1) AS x, split_part(pr, '|', 2) AS y,
         |         CAST(sum(freq) AS BIGINT) AS cnt
         |  FROM (SELECT freq,
         |               unnest(list_transform(range(1, len(syms)),
         |                      i -> syms[i] || '|' || syms[i + 1])) AS pr
         |        FROM (SELECT freq, string_split(trim(seg, '<>'), '><') AS syms FROM $prev))
         |  GROUP BY 1, 2
         |),
         |b$r AS MATERIALIZED (SELECT x, y, cnt FROM p$r ORDER BY cnt DESC, x ASC, y ASC LIMIT 1),
         |v$r AS MATERIALIZED (
         |  SELECT word, freq,
         |         replace(seg, '<' || b.x || '><' || b.y || '>', '<' || b.x || b.y || '>') AS seg
         |  FROM $prev, b$r b
         |)""".stripMargin
    }
    val rounds = (1 to BPE_ROUNDS).map(round).mkString(",\n")
    s"""WITH $TERM_COUNTS,
       |v0 AS MATERIALIZED (
       |  SELECT term AS word, CAST(sum(tf) AS BIGINT) AS freq,
       |         regexp_replace(term, '(.)', '<\\1>', 'g') || '<$$>' AS seg
       |  FROM tc WHERE regexp_matches(term, '^[a-z0-9]+$$') GROUP BY term
       |),
       |$rounds""".stripMargin
  }

  private def bpeMergesSql: String = {
    val sel = (1 to BPE_ROUNDS)
      .map(r => s"SELECT $r AS round, x, y, cnt FROM b$r").mkString("\nUNION ALL\n")
    s"""$bpeCtePrefix
       |$sel""".stripMargin
  }

  private def bpeEncodeSql: String =
    s"""$bpeCtePrefix
       |SELECT word, seg,
       |       CAST(len(string_split(trim(seg, '<>'), '><')) AS INT) AS n_tokens
       |FROM v$BPE_ROUNDS""".stripMargin

  /** Duplicate-6-gram coverage replay (q_dup_ngram_cov and its
    * streaming twin): same tokenize as q_repetition; within-doc
    * duplicated classes via a window count, covered positions
    * union'd before counting (overlap-aware — matches the sort-walk
    * expression's covered-position union exactly); the ratio is one
    * exact IEEE division of integers.
    */
  private def dupNgramCovSql: String =
    """WITH toks AS (
      |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS a FROM documents
      |),
      |base AS (SELECT doc_id, len(a) AS n_tokens, a FROM toks),
      |grams AS (
      |  SELECT doc_id, pos, array_to_string(a[pos:pos+5], ' ') AS g
      |  FROM (SELECT doc_id, a,
      |               unnest(generate_series(1, n_tokens - 5)) AS pos
      |        FROM base WHERE n_tokens >= 6)
      |),
      |dup AS (
      |  SELECT doc_id, pos FROM (
      |    SELECT doc_id, pos,
      |           count(*) OVER (PARTITION BY doc_id, g) AS c FROM grams)
      |  WHERE c >= 2
      |),
      |cov AS (
      |  SELECT DISTINCT doc_id, p FROM (
      |    SELECT doc_id, unnest(generate_series(pos, pos + 5)) AS p FROM dup)
      |),
      |cc AS (SELECT doc_id, count(*) AS dup_cov FROM cov GROUP BY doc_id)
      |SELECT b.doc_id, b.n_tokens,
      |       COALESCE(cc.dup_cov, 0) AS dup_cov,
      |       CAST(COALESCE(cc.dup_cov, 0) AS DOUBLE) / b.n_tokens AS dup_frac
      |FROM base b LEFT JOIN cc ON b.doc_id = cc.doc_id""".stripMargin

  private def bpeTokensSql: String =
    s"""$bpeCtePrefix,
       |enc AS (
       |  SELECT word AS term,
       |         len(string_split(trim(seg, '<>'), '><')) AS n_tokens
       |  FROM v$BPE_ROUNDS
       |)
       |SELECT doc_id,
       |       CAST(sum(tf * coalesce(n_tokens, 1)) AS BIGINT) AS n_bpe_tokens
       |FROM tc LEFT JOIN enc USING (term)
       |GROUP BY doc_id""".stripMargin

  /** The multimodal decode-stub is byte-deterministic, so DuckDB can
    * replay it from hex(encode(text)): header fields from the first
    * two bytes, frame counts from the payload length, and the 8-bin
    * byte histogram from a per-byte explode.
    */
  private def multimodalSql: String =
    """WITH m AS (
      |  SELECT doc_id AS media_id,
      |         CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
      |         hex(encode(text)) AS h,
      |         CAST(octet_length(encode(text)) AS INT) AS n
      |  FROM documents
      |),
      |hist AS (
      |  SELECT media_id, ('0x' || substr(h, 2 * i - 1, 2))::INT // 32 AS bucket
      |  FROM (SELECT media_id, h, unnest(generate_series(1, n)) AS i FROM m)
      |),
      |hc AS (
      |  SELECT media_id,
      |         count(*) FILTER (bucket = 0) AS c0, count(*) FILTER (bucket = 1) AS c1,
      |         count(*) FILTER (bucket = 2) AS c2, count(*) FILTER (bucket = 3) AS c3,
      |         count(*) FILTER (bucket = 4) AS c4, count(*) FILTER (bucket = 5) AS c5,
      |         count(*) FILTER (bucket = 6) AS c6, count(*) FILTER (bucket = 7) AS c7
      |  FROM hist GROUP BY media_id
      |)
      |SELECT m.media_id, m.kind, m.n AS n_bytes,
      |       64 + CASE WHEN m.n >= 1
      |                 THEN ('0x' || substr(m.h, 1, 2))::INT % 64 ELSE 0 END AS width,
      |       64 + CASE WHEN m.n >= 2
      |                 THEN ('0x' || substr(m.h, 3, 2))::INT % 64 ELSE 0 END AS height,
      |       CASE m.kind WHEN 'video' THEN 1 + m.n % 30
      |                   WHEN 'audio' THEN 1 + m.n % 1000 ELSE 1 END AS n_frames,
      |       CASE WHEN m.n = 0 THEN 0.0 ELSE CAST(coalesce(c0, 0) AS DOUBLE) / m.n END AS f0,
      |       CASE WHEN m.n = 0 THEN 0.0 ELSE CAST(coalesce(c1, 0) AS DOUBLE) / m.n END AS f1,
      |       CASE WHEN m.n = 0 THEN 0.0 ELSE CAST(coalesce(c2, 0) AS DOUBLE) / m.n END AS f2,
      |       CASE WHEN m.n = 0 THEN 0.0 ELSE CAST(coalesce(c3, 0) AS DOUBLE) / m.n END AS f3,
      |       CASE WHEN m.n = 0 THEN 0.0 ELSE CAST(coalesce(c4, 0) AS DOUBLE) / m.n END AS f4,
      |       CASE WHEN m.n = 0 THEN 0.0 ELSE CAST(coalesce(c5, 0) AS DOUBLE) / m.n END AS f5,
      |       CASE WHEN m.n = 0 THEN 0.0 ELSE CAST(coalesce(c6, 0) AS DOUBLE) / m.n END AS f6,
      |       CASE WHEN m.n = 0 THEN 0.0 ELSE CAST(coalesce(c7, 0) AS DOUBLE) / m.n END AS f7
      |FROM m LEFT JOIN hc ON m.media_id = hc.media_id""".stripMargin

  /** CTE chain ending in `sim(doc_id, simhash)` — shared by the
    * signature and near-dup oracles.
    */
  private val SIMHASH_CTE =
    """toks AS (
      |  SELECT doc_id,
      |         ('0x' || substr(md5(tok), 1, 13))::BIGINT AS h
      |  FROM (
      |    SELECT doc_id,
      |           unnest(regexp_split_to_array(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ')) AS tok
      |    FROM documents
      |  ) WHERE length(tok) > 0
      |),
      |bits AS (
      |  SELECT doc_id, j,
      |         sum(CAST(floor(h / pow(2.0, j)) AS BIGINT) % 2 * 2 - 1) AS s
      |  FROM toks, (SELECT unnest(generate_series(0, 51)) AS j)
      |  GROUP BY doc_id, j
      |),
      |sim AS (
      |  SELECT doc_id,
      |         CAST(sum(CASE WHEN s > 0 THEN pow(2.0, j) ELSE 0.0 END) AS BIGINT) AS simhash
      |  FROM bits GROUP BY doc_id
      |)""".stripMargin

  private def simhashSql: String =
    s"WITH $SIMHASH_CTE SELECT doc_id, simhash FROM sim"

  /** aHash replay: per-byte values from the hex dump, segment ↦
    * floor((pos−1)·52/n), bit decided by exact cross-multiplied
    * integer comparison, bits folded as exact power-of-two sums
    * (each term a distinct power < 2^52 — exact in doubles on both
    * engines, the SIMHASH_CTE precedent).
    */
  private val PHASH_CTE =
    """m AS (
      |  SELECT doc_id AS media_id, encode(text) AS b FROM documents
      |  WHERE text IS NOT NULL AND octet_length(encode(text)) > 0
      |),
      |pb AS (
      |  SELECT media_id, ((pos - 1) * 52) // octet_length(b) AS seg,
      |         ('0x' || substr(hex(b), pos * 2 - 1, 2))::BIGINT AS v
      |  FROM (SELECT media_id, b,
      |               unnest(generate_series(1, octet_length(b))) AS pos
      |        FROM m)
      |),
      |sg AS (
      |  SELECT media_id, seg, CAST(sum(v) AS BIGINT) AS s, count(*) AS c
      |  FROM pb GROUP BY media_id, seg
      |),
      |tt AS (
      |  SELECT media_id, CAST(sum(s) AS BIGINT) AS ts, CAST(sum(c) AS BIGINT) AS tc
      |  FROM sg GROUP BY media_id
      |),
      |ph AS (
      |  SELECT sg.media_id,
      |         CAST(sum(CASE WHEN s * tc > ts * c THEN pow(2.0, seg) ELSE 0.0 END) AS BIGINT) AS phash
      |  FROM sg JOIN tt USING (media_id) GROUP BY sg.media_id
      |)""".stripMargin

  private def mediaPhashSql: String =
    s"WITH $PHASH_CTE SELECT media_id, phash FROM ph"

  /** Pixel-aHash replay: the PNG fixture's deterministic luma pattern
    * recomputed directly (PNG is lossless, so decoded pixels ==
    * pattern — the roundtrip identity is unit-asserted on the Spark
    * side), cells on the 13×4 integer-area grid, bit = exact
    * cross-multiplied mean compare, hash assembled with integer
    * shifts. Every intermediate is BIGINT.
    */
  private def mediaPixelPhashSql: String =
    s"""WITH ids AS (
       |  SELECT doc_id AS media_id,
       |         CASE WHEN doc_id % 10 = 9 THEN doc_id - 1 ELSE doc_id END AS seed,
       |         CASE WHEN doc_id % 10 = 9 THEN 8 ELSE 0 END AS delta
       |  FROM documents),
       |px AS (
       |  SELECT media_id, (y // 8) * 13 + (x // 4) AS cell,
       |         ((seed * 7919 + (y * 52 + x) * 104729) % 200) + delta AS l
       |  FROM ids,
       |       (SELECT unnest(generate_series(0, 51)) AS x),
       |       (SELECT unnest(generate_series(0, 31)) AS y)),
       |cells AS (
       |  SELECT media_id, cell, sum(l) AS cs, count(*) AS cn
       |  FROM px GROUP BY media_id, cell),
       |tot AS (SELECT media_id, sum(cs) AS ts, sum(cn) AS tn FROM cells GROUP BY media_id)
       |SELECT c.media_id, CAST(52 AS INT) AS width, CAST(32 AS INT) AS height,
       |       CAST(sum(CASE WHEN c.cs * t.tn > t.ts * c.cn
       |                     THEN (CAST(1 AS BIGINT) << c.cell) ELSE 0 END) AS BIGINT) AS phash
       |FROM cells c JOIN tot t USING (media_id)
       |GROUP BY c.media_id""".stripMargin

  /** Integer-area resize replay: the deterministic pattern's pixels
    * grouped into 13×8 area cells (cy = y·8/32, cx = x·13/52 — exact
    * integer mapping), floor-mean per cell, then the sum/positional-
    * checksum digests resizeImages emits. PNG is lossless so decoded
    * pixels == pattern.
    */
  private def mediaResizePixelsSql: String =
    s"""WITH ids AS (
       |  SELECT doc_id AS media_id,
       |         CASE WHEN doc_id % 10 = 9 THEN doc_id - 1 ELSE doc_id END AS seed,
       |         CASE WHEN doc_id % 10 = 9 THEN 8 ELSE 0 END AS delta
       |  FROM documents),
       |px AS (
       |  SELECT media_id, (y * 8 // 32) * 13 + (x * 13 // 52) AS cell,
       |         ((seed * 7919 + (y * 52 + x) * 104729) % 200) + delta AS l
       |  FROM ids,
       |       (SELECT unnest(generate_series(0, 51)) AS x),
       |       (SELECT unnest(generate_series(0, 31)) AS y)),
       |cells AS (
       |  SELECT media_id, cell, CAST(sum(l) // count(*) AS BIGINT) AS p
       |  FROM px GROUP BY media_id, cell)
       |SELECT media_id, CAST(13 AS INT) AS width, CAST(8 AS INT) AS height,
       |       CAST(sum(p) AS BIGINT) AS pix_sum,
       |       CAST(sum(p * (cell + 1)) AS BIGINT) AS pix_crc
       |FROM cells GROUP BY media_id""".stripMargin

  /** Per-frame pixel-aHash replay for the raw-DIB AVI fixture: the
    * deterministic frame pattern recomputed directly (raw DIB is
    * lossless, so decoded pixels == pattern — the roundtrip identity
    * is unit-asserted in Round12Spec), 13×4 cell grid per frame,
    * exact cross-multiplied compares. Frame count = 1 + seed % 5,
    * same for both halves of a re-encode pair.
    */
  private def mediaVideoSql: String =
    s"""WITH ids AS (
       |  SELECT doc_id AS media_id,
       |         CASE WHEN doc_id % 10 = 9 THEN doc_id - 1 ELSE doc_id END AS seed,
       |         CASE WHEN doc_id % 10 = 9 THEN 8 ELSE 0 END AS delta
       |  FROM documents),
       |fr AS (
       |  SELECT media_id, seed, delta,
       |         unnest(generate_series(0, CAST(seed % 5 AS INT))) AS f
       |  FROM ids),
       |px AS (
       |  SELECT media_id, f, (y // 8) * 13 + (x * 13 // 48) AS cell,
       |         ((seed * 7919 + f * 131071 + (y * 48 + x) * 104729) % 200) + delta AS l
       |  FROM fr,
       |       (SELECT unnest(generate_series(0, 47)) AS x),
       |       (SELECT unnest(generate_series(0, 31)) AS y)),
       |cells AS (
       |  SELECT media_id, f, cell, sum(l) AS cs, count(*) AS cn
       |  FROM px GROUP BY media_id, f, cell),
       |tot AS (SELECT media_id, f, sum(cs) AS ts, sum(cn) AS tn
       |        FROM cells GROUP BY media_id, f)
       |SELECT c.media_id, CAST(c.f AS INT) AS frame_idx,
       |       CAST(48 AS INT) AS width, CAST(32 AS INT) AS height,
       |       CAST(sum(CASE WHEN c.cs * t.tn > t.ts * c.cn
       |                     THEN (CAST(1 AS BIGINT) << c.cell) ELSE 0 END) AS BIGINT) AS phash
       |FROM cells c JOIN tot t ON c.media_id = t.media_id AND c.f = t.f
       |GROUP BY c.media_id, c.f""".stripMargin

  /** Banded-hamming near-dups over the perceptual hashes — the
    * simhashNearDupsSql machinery verbatim, keyed on phash.
    */
  private def mediaNearDupsSql: String =
    s"""WITH $PHASH_CTE,
       |bands AS (
       |  SELECT media_id, phash, bnd AS band,
       |         CAST(floor(phash / pow(2.0, bnd * 13)) AS BIGINT) % 8192 AS key,
       |         row_number() OVER (PARTITION BY bnd,
       |           CAST(floor(phash / pow(2.0, bnd * 13)) AS BIGINT) % 8192
       |           ORDER BY media_id) AS r
       |  FROM ph, (SELECT unnest(generate_series(0, 3)) AS bnd)
       |),
       |cand AS (
       |  SELECT DISTINCT a, b, sa, sb FROM (
       |    SELECT x.media_id AS a, y.media_id AS b, x.phash AS sa, y.phash AS sb
       |    FROM bands x JOIN bands y
       |      ON x.band = y.band AND x.key = y.key
       |     AND x.r <= 256 AND y.r <= 256 AND x.media_id < y.media_id
       |    UNION ALL
       |    SELECT x.media_id AS a, y.media_id AS b, x.phash AS sa, y.phash AS sb
       |    FROM bands x JOIN bands y
       |      ON x.band = y.band AND x.key = y.key AND x.r = 1 AND y.r > 256
       |  )
       |),
       |ver AS (SELECT a, b, bit_count(xor(sa, sb)) AS hd FROM cand),
       |perdoc AS (
       |  SELECT media_id, count(*) AS n_cand,
       |         CAST(sum(CASE WHEN hd <= 6 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup
       |  FROM (SELECT a AS media_id, hd FROM ver UNION ALL SELECT b AS media_id, hd FROM ver)
       |  GROUP BY media_id
       |)
       |SELECT d.doc_id AS media_id, coalesce(p.n_cand, 0) AS n_cand,
       |       coalesce(p.n_dup, 0) AS n_dup
       |FROM documents d LEFT JOIN perdoc p ON d.doc_id = p.media_id""".stripMargin

  /** Streaming-twin variant: the stream can only hash payloads that
    * exist, so its universe is the non-empty-text documents — the
    * oracle restricts the driving table the same way (fixtures today
    * carry no null/empty text, but regenerations may).
    */
  private def mediaNearDupsStreamSql: String =
    mediaNearDupsSql.replace(
      "FROM documents d LEFT JOIN perdoc p ON d.doc_id = p.media_id",
      "FROM (SELECT doc_id FROM documents WHERE text IS NOT NULL AND length(text) > 0) d\n" +
        "LEFT JOIN perdoc p ON d.doc_id = p.media_id")

  /** Banded SimHash near-dup oracle: 4x13-bit band keys, candidate
    * pairs by band equi-join, hamming verification, per-doc counts.
    * Mirrors the oversized-bucket guard of `Dedup.simhashNearDups`
    * (full pairing to rank 256, star edges beyond).
    */
  private def simhashNearDupsSql: String =
    s"""WITH $SIMHASH_CTE,
       |bands AS (
       |  SELECT doc_id, simhash, b AS band,
       |         CAST(floor(simhash / pow(2.0, b * 13)) AS BIGINT) % 8192 AS key,
       |         row_number() OVER (PARTITION BY b,
       |           CAST(floor(simhash / pow(2.0, b * 13)) AS BIGINT) % 8192
       |           ORDER BY doc_id) AS r
       |  FROM sim, (SELECT unnest(generate_series(0, 3)) AS b)
       |),
       |cand AS (
       |  SELECT DISTINCT a, b, sa, sb FROM (
       |    SELECT x.doc_id AS a, y.doc_id AS b, x.simhash AS sa, y.simhash AS sb
       |    FROM bands x JOIN bands y
       |      ON x.band = y.band AND x.key = y.key
       |     AND x.r <= 256 AND y.r <= 256 AND x.doc_id < y.doc_id
       |    UNION ALL
       |    SELECT x.doc_id AS a, y.doc_id AS b, x.simhash AS sa, y.simhash AS sb
       |    FROM bands x JOIN bands y
       |      ON x.band = y.band AND x.key = y.key AND x.r = 1 AND y.r > 256
       |  )
       |),
       |ver AS (SELECT a, b, bit_count(xor(sa, sb)) AS hd FROM cand),
       |perdoc AS (
       |  SELECT doc_id, count(*) AS n_cand,
       |         CAST(sum(CASE WHEN hd <= 6 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup
       |  FROM (SELECT a AS doc_id, hd FROM ver UNION ALL SELECT b AS doc_id, hd FROM ver)
       |  GROUP BY doc_id
       |)
       |SELECT d.doc_id, coalesce(p.n_cand, 0) AS n_cand, coalesce(p.n_dup, 0) AS n_dup
       |FROM documents d LEFT JOIN perdoc p USING (doc_id)""".stripMargin

  /** IVF-flat ANN oracle: per-vector centroid scores (md5 centroids,
    * the exact Scala literals re-derived in SQL; norms inlined from
    * the same Scala computation), argmax assignment and top-nprobe
    * probes with the (s DESC, list DESC) tie order the Spark plan's
    * reverse(array_sort) produces, then exact cosine within probed
    * lists.
    */
  private def ivfTopkSql: String = {
    val norms = (0 until 16).map { j =>
      val c = graft.datapipe.Similarity.centroid(j, 64)
      s"($j, ${OracleDsp.dlit(math.sqrt(c.map(x => x * x).sum))})"
    }.mkString(", ")
    s"""WITH nrm(j, n) AS (VALUES $norms),
       |sc AS (
       |  SELECT e.vec_id, nrm.j,
       |         list_dot_product(
       |           e.embedding::DOUBLE[],
       |           list_transform(generate_series(0, len(e.embedding) - 1), d ->
       |             ('0x' || substr(md5('ivf:' || nrm.j || ':' || d), 1, 13))::BIGINT
       |               / 4503599627370496.0 - 0.5)) / nrm.n AS s
       |  FROM embeddings e, nrm
       |),
       |ranked AS (
       |  SELECT vec_id, j AS list,
       |         row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, j DESC) AS pr
       |  FROM sc
       |),
       |assign AS (SELECT vec_id, list FROM ranked WHERE pr = 1),
       |probes AS (SELECT vec_id, list FROM ranked WHERE pr <= 4 AND vec_id % 25 = 0 AND vec_id < 10000000),
       |q AS (
       |  SELECT e.vec_id AS query_id, e.embedding::DOUBLE[] AS qe, p.list
       |  FROM embeddings e JOIN probes p ON e.vec_id = p.vec_id
       |),
       |scored AS (
       |  SELECT q.query_id, c.vec_id AS neighbor_id,
       |         list_dot_product(q.qe, c.embedding::DOUBLE[]) /
       |           (sqrt(list_dot_product(q.qe, q.qe)) *
       |            sqrt(list_dot_product(c.embedding::DOUBLE[], c.embedding::DOUBLE[]))) AS cos
       |  FROM embeddings c
       |  JOIN assign a ON c.vec_id = a.vec_id
       |  JOIN q ON q.list = a.list AND q.query_id != c.vec_id
       |),
       |rk AS (
       |  SELECT query_id, neighbor_id,
       |         row_number() OVER (PARTITION BY query_id
       |                            ORDER BY round(cos, 6) DESC, neighbor_id ASC) AS rank,
       |         round(cos, 6) AS cos
       |  FROM scored
       |)
       |SELECT query_id, neighbor_id, rank, cos FROM rk WHERE rank <= 10""".stripMargin
  }

  /** List-occupancy oracle: the same trained fit and argmax
    * assignment as `ivfTrainedSql`, reduced to per-list counts.
    */
  private def ivfListSizesSql: String =
    s"""WITH ${kmeansChainSql(k = 16, dims = 64, iters = 2)},
       |cent AS (
       |  SELECT cluster AS j, cl, sqrt(list_dot_product(cl, cl)) AS n FROM c2
       |),
       |sc AS (
       |  SELECT e.vec_id, cent.j,
       |         list_dot_product(e.embedding::DOUBLE[], cent.cl) / cent.n AS s
       |  FROM embeddings e, cent
       |),
       |ranked AS (
       |  SELECT vec_id, j AS list,
       |         row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, j DESC) AS pr
       |  FROM sc
       |)
       |SELECT list, count(*) AS n_vectors
       |FROM ranked WHERE pr = 1 GROUP BY list""".stripMargin

  private def ngramJaccardSql: String =
    s"""WITH $shinglesSql,
       |sizes AS (SELECT doc_id, count(*) AS sz FROM shingles GROUP BY doc_id),
       |pairs AS (
       |  SELECT d1.doc_id AS a, d2.doc_id AS b
       |  FROM documents d1 JOIN documents d2
       |    ON d1.source = d2.source AND d1.doc_id % 20 = 0 AND d1.doc_id < 10000000 AND d1.doc_id != d2.doc_id
       |),
       |inter AS (
       |  SELECT p.a, p.b, count(*) AS i
       |  FROM pairs p
       |  JOIN shingles sa ON sa.doc_id = p.a
       |  JOIN shingles sb ON sb.doc_id = p.b AND sb.shingle = sa.shingle
       |  GROUP BY p.a, p.b
       |)
       |SELECT i.a, i.b, round(i.i * 1.0 / (za.sz + zb.sz - i.i), 6) AS jaccard
       |FROM inter i
       |JOIN sizes za ON za.doc_id = i.a
       |JOIN sizes zb ON zb.doc_id = i.b
       |WHERE round(i.i * 1.0 / (za.sz + zb.sz - i.i), 6) >= 0.05""".stripMargin

  /** Rolling 10-token window table shared by the duplicate-span
    * oracles, mirroring Dedup.spanTable: normalized text split on
    * single spaces, windows joined back with single spaces, hashed
    * to the md5 52-bit key exactly as Spark does.
    */
  private def spansSqlFrom(table: String, w: Int = 10): String =
    s"""toks AS (
       |  SELECT doc_id, string_split($normSql, ' ') AS t
       |  FROM $table WHERE text IS NOT NULL
       |),
       |spans AS (
       |  SELECT doc_id, pos,
       |         array_to_string(t[pos:pos+${w - 1}], ' ') AS span
       |  FROM (SELECT doc_id, t,
       |               unnest(generate_series(1, len(t) - ${w - 1})) AS pos
       |        FROM toks WHERE len(t) >= $w)
       |)""".stripMargin

  /** Window-length-sweep replay: same normalize/tokenize as the spans
    * oracle, the lengths cross-joined in, the position series
    * correlated on (len(t), w). Dup decision at (w, h) exactly as the
    * Spark (doc_id, w, h)-grain aggregate; counts are raw-window
    * counts (sum of per-(doc,w,h) multiplicities on the Spark side —
    * identical totals).
    */
  private def spanSweepSql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, string_split($normSql, ' ') AS t
       |  FROM documents WHERE text IS NOT NULL
       |),
       |hs AS (
       |  SELECT doc_id, w,
       |         ('0x' || substr(md5(span), 1, 13))::BIGINT AS h
       |  FROM (
       |    SELECT doc_id, w, array_to_string(t[pos:pos+w-1], ' ') AS span
       |    FROM (SELECT doc_id, t, w,
       |                 unnest(generate_series(1, len(t) - w + 1)) AS pos
       |          FROM toks, (SELECT unnest([10, 20, 50]) AS w) ws
       |          WHERE len(t) >= w)
       |  )
       |),
       |dup AS (
       |  SELECT w, h FROM (SELECT DISTINCT doc_id, w, h FROM hs)
       |  GROUP BY w, h HAVING count(*) >= 2
       |)
       |SELECT s.doc_id, s.w, count(*) AS n_windows, count(d.h) AS n_dup,
       |       round(count(d.h) * 1.0 / count(*), 6) AS dup_ratio
       |FROM hs s LEFT JOIN dup d ON d.w = s.w AND d.h = s.h
       |GROUP BY s.doc_id, s.w""".stripMargin

  private def dupSpansSql: String =
    s"""WITH ${spansSqlFrom("documents")},
       |hs AS (SELECT doc_id,
       |              ('0x' || substr(md5(span), 1, 13))::BIGINT AS h
       |       FROM spans),
       |dup AS (
       |  SELECT h FROM (SELECT DISTINCT doc_id, h FROM hs)
       |  GROUP BY h HAVING count(*) >= 2
       |)
       |SELECT s.doc_id, count(*) AS n_windows, count(d.h) AS n_dup,
       |       round(count(d.h) * 1.0 / count(*), 6) AS dup_ratio
       |FROM hs s LEFT JOIN dup d ON d.h = s.h
       |GROUP BY s.doc_id""".stripMargin

  /** LM-admission bar for the rewrite pipeline: deliberately inside
    * the fixture's score range so the gate binds in both directions
    * (an always-true/false gate would make the composition vacuous —
    * Round8Spec asserts it binds). Compared against the ROUNDED
    * lm_score on both engines, so the decision is boundary-exact.
    */
  private[graft] val CURATE_LM_BAR = -3.42

  /** ExactSubstr-rewrite replay: the spans CTE (w = 10, 1-based
    * positions), non-first occurrences per span hash via row_number,
    * covered token slots from the ×w series fan-out, and an ordered
    * FILTERed string_agg for the rewrite — keep decisions ride the
    * same 52-bit hash stand-in (the span STRING partition) as every
    * span oracle.
    */
  private def substrRewriteSql: String = substrRewriteSqlW(10)

  /** The exact-substring rewrite replay at window length `w` — shared
    * verbatim by the windowed-hash AND suffix-array-class queries at
    * each w (the two independent implementations compute the same
    * covered set by construction).
    */
  private def substrRewriteSqlW(w: Int): String =
    s"""WITH ${spansSqlFrom("documents", w)},
       |hs AS (SELECT doc_id, pos,
       |              ('0x' || substr(md5(span), 1, 13))::BIGINT AS h
       |       FROM spans),
       |dr AS (
       |  SELECT doc_id, pos FROM (
       |    SELECT doc_id, pos,
       |           row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn
       |    FROM hs)
       |  WHERE rn > 1
       |),
       |cov AS (
       |  SELECT DISTINCT doc_id, pos FROM (
       |    SELECT doc_id, unnest(generate_series(pos, pos + ${w - 1})) AS pos FROM dr)
       |),
       |tq AS (
       |  SELECT doc_id, pos, t[pos] AS tok
       |  FROM (SELECT doc_id, t, unnest(generate_series(1, len(t))) AS pos FROM toks)
       |)
       |SELECT q.doc_id, count(*) AS n_tokens,
       |       CAST(sum(CASE WHEN c.doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       |       string_agg(tok, ' ' ORDER BY q.pos)
       |         FILTER (WHERE c.doc_id IS NULL) AS clean_text
       |FROM tq q LEFT JOIN cov c ON q.doc_id = c.doc_id AND q.pos = c.pos
       |GROUP BY q.doc_id""".stripMargin

  /** Chunk-dedup replay: same normalize/tokenize, non-overlapping
    * 20-token chunks (inclusive DuckDB slices), keep-first decided on
    * the chunk STRING (the engine-portable stand-in for the 52-bit
    * hash; a collision would surface as a hash mismatch here), ordered
    * string_agg for the rewrite. FILTER leaves NULL when every chunk
    * dropped — mirrored by the Spark side's when(n_kept > 0, ...).
    */
  private def chunkDedupSql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, string_split($normSql, ' ') AS t
       |  FROM documents WHERE text IS NOT NULL
       |),
       |chunks AS (
       |  SELECT doc_id, idx,
       |         array_to_string(t[(idx-1)*20+1:idx*20], ' ') AS chunk
       |  FROM (SELECT doc_id, t,
       |               unnest(generate_series(1, 1 + (len(t)-1)//20)) AS idx
       |        FROM toks)
       |),
       |marked AS (
       |  SELECT doc_id, idx, chunk,
       |         count(*) OVER (PARTITION BY chunk) AS n_occ,
       |         row_number() OVER (PARTITION BY chunk ORDER BY doc_id, idx) AS rn
       |  FROM chunks
       |)
       |SELECT doc_id, count(*) AS n_chunks,
       |       CAST(sum(CASE WHEN n_occ = 1 OR rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       |       string_agg(chunk, ' ' ORDER BY idx)
       |         FILTER (WHERE n_occ = 1 OR rn = 1) AS clean_text
       |FROM marked GROUP BY doc_id""".stripMargin

  /** Rewrite-pipeline replay: the chunk-dedup CTEs feed the same
    * inject/redact stages as piiRedactSql, quality on the redacted
    * text, and the raw-corpus bigram model scores it with LEFT joins
    * (unseen bigrams at the smoothed floor — the lmScoreAgainst
    * contract). Gates compare rounded values, so every boundary is
    * engine-exact.
    */
  private def curateRewriteSql: String = {
    val em = TextAnalysis.emailPattern
    val ip = TextAnalysis.ipv4Pattern
    val num = TextAnalysis.digitRunPattern
    s"""WITH rw0 AS MATERIALIZED ($chunkDedupSql),
       |rw AS (SELECT doc_id, n_chunks, n_kept, clean_text AS text
       |       FROM rw0 WHERE n_kept > 0),
       |injected AS (
       |  SELECT doc_id, n_chunks, n_kept,
       |         CASE WHEN doc_id % 10 = 0 THEN
       |           text || ' reach user' || CAST(doc_id AS VARCHAR)
       |                || '@example.com or 10.20.'
       |                || CAST(doc_id % 200 + 1 AS VARCHAR)
       |                || '.7 acct 90210' || CAST(doc_id AS VARCHAR) || '1 done'
       |         ELSE text END AS text
       |  FROM rw
       |),
       |s1 AS (SELECT doc_id, n_chunks, n_kept, text AS t0,
       |              regexp_replace(text, '$em', '<EMAIL>', 'g') AS t1 FROM injected),
       |s2 AS (SELECT doc_id, n_chunks, n_kept, t0, t1,
       |              regexp_replace(t1, '$ip', '<IP>', 'g') AS t2 FROM s1),
       |red AS MATERIALIZED (
       |  SELECT doc_id, n_chunks, n_kept,
       |         len(regexp_extract_all(t0, '$em'))
       |           + len(regexp_extract_all(t1, '$ip'))
       |           + len(regexp_extract_all(t2, '$num')) AS n_pii,
       |         regexp_replace(t2, '$num', '<NUM>', 'g') AS redacted
       |  FROM s2
       |),
       |qm AS (
       |  SELECT doc_id, CAST(length(redacted) AS DOUBLE) AS n,
       |         CAST(length(redacted) - length(regexp_replace(redacted, '[0-9]', '', 'g')) AS DOUBLE) AS digits,
       |         CAST(length(redacted) - length(regexp_replace(redacted, '[^a-zA-Z0-9 ]', '', 'g')) AS DOUBLE) AS punct,
       |         CAST(length(redacted) - length(regexp_replace(redacted, '[A-Z]', '', 'g')) AS DOUBLE) AS uppr
       |  FROM red
       |),
       |qual AS (
       |  SELECT doc_id, round(greatest(0.0, least(n / 200.0, 1.0) *
       |           (1.0 - least(digits / n * 4.0, 1.0) * 0.4
       |                - least(punct / n * 3.0, 1.0) * 0.3
       |                - least(uppr / n * 2.0, 1.0) * 0.3)) + 1e-7, 4) AS quality
       |  FROM qm
       |),
       |mtoks AS (SELECT regexp_split_to_array(trim(lower(text)), '\\s+') AS a
       |          FROM documents WHERE text IS NOT NULL),
       |cb AS (SELECT g, CAST(count(*) AS BIGINT) AS cb
       |       FROM (SELECT unnest(list_transform(range(1, len(a)), i -> a[i] || ' ' || a[i + 1])) AS g
       |             FROM mtoks WHERE len(a) >= 2) GROUP BY g),
       |cw AS (SELECT split_part(g, ' ', 1) AS w1, CAST(sum(cb) AS BIGINT) AS cw
       |       FROM cb GROUP BY 1),
       |v AS (SELECT count(DISTINCT w) AS v FROM (SELECT unnest(a) AS w FROM mtoks)),
       |db AS (
       |  SELECT doc_id, g, count(*) AS n
       |  FROM (SELECT doc_id, unnest(list_transform(range(1, len(a)), i -> a[i] || ' ' || a[i + 1])) AS g
       |        FROM (SELECT doc_id, regexp_split_to_array(trim(lower(redacted)), '\\s+') AS a FROM red)
       |        WHERE len(a) >= 2)
       |  GROUP BY doc_id, g
       |),
       |lm AS (
       |  SELECT db.doc_id,
       |         round(sum(n * (ln(coalesce(cb.cb, 0) + 1) - ln(coalesce(cw.cw, 0) + v.v)))
       |               / sum(n), 6) AS lm_score
       |  FROM db LEFT JOIN cb USING (g)
       |  LEFT JOIN cw ON split_part(db.g, ' ', 1) = cw.w1 CROSS JOIN v
       |  GROUP BY db.doc_id
       |)
       |SELECT r.doc_id, r.n_chunks, r.n_kept, r.n_pii, q.quality, lm.lm_score,
       |       r.n_kept * 2 >= r.n_chunks AS dedup_ok,
       |       q.quality >= 0.5 AS quality_ok,
       |       coalesce(lm.lm_score >= $CURATE_LM_BAR, FALSE) AS lm_ok,
       |       (r.n_kept * 2 >= r.n_chunks) AND q.quality >= 0.5
       |         AND coalesce(lm.lm_score >= $CURATE_LM_BAR, FALSE) AS admitted
       |FROM red r JOIN qual q USING (doc_id) LEFT JOIN lm USING (doc_id)""".stripMargin
  }

  /** Mirrors the two-phase Spark plan: winners chosen on the 52-bit
    * hash (count desc, hash asc — the engine-portable tie-break),
    * strings recovered by joining the k hashes back.
    */
  private def dupSpanTopSql: String =
    s"""WITH ${spansSqlFrom("documents")},
       |hs AS (SELECT doc_id, span,
       |              ('0x' || substr(md5(span), 1, 13))::BIGINT AS h
       |       FROM spans),
       |top AS (
       |  SELECT h, count(*) AS n_docs
       |  FROM (SELECT DISTINCT doc_id, h FROM hs)
       |  GROUP BY h HAVING count(*) >= 2
       |  ORDER BY n_docs DESC, h ASC LIMIT 20
       |)
       |SELECT DISTINCT span, n_docs FROM hs JOIN top USING (h)""".stripMargin

  /** PII-redaction replay: identical injection (|| propagates NULL
    * text exactly like Spark's concat), identical pattern order,
    * per-stage counts on the text each stage sees. Patterns are the
    * Java-regex/RE2 common subset, so 'g'-flagged regexp_replace is
    * byte-identical to Spark's replace-all.
    */
  private def piiRedactSql: String = {
    // the Scala pattern literals already hold single-backslash RE2
    // syntax; DuckDB's default (non-escaping) string literals take
    // them verbatim
    val em = TextAnalysis.emailPattern
    val ip = TextAnalysis.ipv4Pattern
    val num = TextAnalysis.digitRunPattern
    s"""WITH injected AS (
       |  SELECT doc_id,
       |         CASE WHEN doc_id % 10 = 0 THEN
       |           text || ' reach user' || CAST(doc_id AS VARCHAR)
       |                || '@example.com or 10.20.'
       |                || CAST(doc_id % 200 + 1 AS VARCHAR)
       |                || '.7 acct 90210' || CAST(doc_id AS VARCHAR) || '1 done'
       |         ELSE text END AS text
       |  FROM documents
       |),
       |s1 AS (SELECT doc_id, text AS t0,
       |              regexp_replace(text, '$em', '<EMAIL>', 'g') AS t1
       |       FROM injected),
       |s2 AS (SELECT doc_id, t0, t1,
       |              regexp_replace(t1, '$ip', '<IP>', 'g') AS t2
       |       FROM s1)
       |SELECT doc_id,
       |       len(regexp_extract_all(t0, '$em')) AS n_email,
       |       len(regexp_extract_all(t1, '$ip')) AS n_ip,
       |       len(regexp_extract_all(t2, '$num')) AS n_num,
       |       regexp_replace(t2, '$num', '<NUM>', 'g') AS redacted
       |FROM s2""".stripMargin
  }

  /** Sign-LSH ANN oracle: the hyperplanes are md5-derived, so the
    * bucket assignment — and therefore the whole candidate set — is
    * reproducible in DuckDB.
    */
  private def annTopkSql: String =
    """WITH dp AS (
      |  SELECT vec_id, j,
      |         list_dot_product(
      |           embedding::DOUBLE[],
      |           list_transform(generate_series(0, len(embedding) - 1), d ->
      |             ('0x' || substr(md5('plane:' || j || ':' || d), 1, 13))::BIGINT
      |               / 4503599627370496.0 - 0.5)) AS dp
      |  FROM embeddings, (SELECT unnest(generate_series(0, 7)) AS j)
      |),
      |buckets AS (
      |  SELECT vec_id,
      |         CAST(sum(CASE WHEN dp > 0 THEN pow(2.0, j) ELSE 0.0 END) AS BIGINT) AS bucket
      |  FROM dp GROUP BY vec_id
      |),
      |q AS (
      |  SELECT e.vec_id AS query_id, e.embedding::DOUBLE[] AS qe, b.bucket
      |  FROM embeddings e JOIN buckets b ON e.vec_id = b.vec_id
      |  WHERE e.vec_id % 25 = 0 AND e.vec_id < 10000000
      |),
      |scored AS (
      |  SELECT q.query_id, c.vec_id AS neighbor_id,
      |         list_dot_product(q.qe, c.embedding::DOUBLE[]) /
      |           (sqrt(list_dot_product(q.qe, q.qe)) *
      |            sqrt(list_dot_product(c.embedding::DOUBLE[], c.embedding::DOUBLE[]))) AS cos
      |  FROM embeddings c
      |  JOIN buckets cb ON c.vec_id = cb.vec_id
      |  JOIN q ON q.bucket = cb.bucket AND q.query_id != c.vec_id
      |),
      |ranked AS (
      |  SELECT query_id, neighbor_id,
      |         row_number() OVER (PARTITION BY query_id
      |                            ORDER BY round(cos, 6) DESC, neighbor_id ASC) AS rank,
      |         round(cos, 6) AS cos
      |  FROM scored
      |)
      |SELECT query_id, neighbor_id, rank, cos FROM ranked WHERE rank <= 10""".stripMargin

  /** Deterministic k-means oracle: the 3 Lloyd iterations UNROLLED as
    * CTE levels. Per-iteration centroid rounding (round 6, part of
    * the operator's determinism contract) makes every distance
    * bit-identical across engines, so assignments — ties toward the
    * smaller cluster id — replay exactly. Empty clusters keep the
    * previous centroid (the coalesce).
    */
  private def kmeansDistSql(dims: Int)(e: String, c: String): String = {
    val diff =
      s"list_transform(generate_series(1, $dims), i -> $e.embedding[i]::DOUBLE - $c.cl[i])"
    s"list_dot_product($diff, $diff)"
  }

  /** The Lloyd-training CTE chain (seed centroids → `iters` unrolled
    * assign/mean/update rounds), ending in `c$iters(cluster, cl)` —
    * shared by the kmeans oracle and the trained-IVF oracle so both
    * replay the exact `Clustering.kmeansCentroids` fit.
    */
  private def kmeansChainSql(k: Int, dims: Int, iters: Int,
                             src: String = "embeddings", prefix: String = ""): String = {
    val dist = kmeansDistSql(dims) _
    val p = prefix
    val cent0 = (for (j <- 0 until k; d <- 0 until dims)
      yield s"($j, $d, ${OracleDsp.dlit(Clustering.initComponent(j, d))})")
      .mkString(", ")
    val iterCtes = (1 to iters).map { t =>
      s"""${p}a$t AS (
         |  SELECT vec_id, cluster FROM (
         |    SELECT e.vec_id, c.cluster,
         |           row_number() OVER (PARTITION BY e.vec_id
         |                              ORDER BY ${dist("e", "c")} ASC, c.cluster ASC) AS pr
         |    FROM $src e, ${p}c${t - 1} c
         |  ) WHERE pr = 1
         |),
         |${p}m$t AS (
         |  SELECT a.cluster, ed.dim, round(avg(ed.x) + 1e-7, 6) AS m
         |  FROM ${p}a$t a JOIN ${p}ed ed ON ed.vec_id = a.vec_id GROUP BY a.cluster, ed.dim
         |),
         |${p}c${t}d AS (
         |  SELECT c.cluster, c.dim, coalesce(m.m, c.m) AS m
         |  FROM ${p}c${t - 1}d c LEFT JOIN ${p}m$t m USING (cluster, dim)
         |),
         |${p}c$t AS (SELECT cluster, list(m ORDER BY dim) AS cl FROM ${p}c${t}d GROUP BY cluster)"""
        .stripMargin
    }.mkString(",\n")
    s"""${p}c0d(cluster, dim, m) AS (VALUES $cent0),
       |${p}c0 AS (SELECT cluster, list(m ORDER BY dim) AS cl FROM ${p}c0d GROUP BY cluster),
       |${p}ed AS (
       |  SELECT vec_id, d AS dim, embedding[d + 1]::DOUBLE AS x
       |  FROM $src, (SELECT unnest(generate_series(0, ${dims - 1})) AS d)
       |),
       |$iterCtes""".stripMargin
  }

  private def kmeansSql: String = {
    val iters = 3
    val dist = kmeansDistSql(64) _
    s"""WITH ${kmeansChainSql(k = 8, dims = 64, iters = iters)},
       |fin AS (
       |  SELECT e.vec_id, c.cluster, ${dist("e", "c")} AS dist,
       |         row_number() OVER (PARTITION BY e.vec_id
       |                            ORDER BY ${dist("e", "c")} ASC, c.cluster ASC) AS pr
       |  FROM embeddings e, c$iters c
       |)
       |SELECT vec_id, cluster, round(sqrt(dist), 6) AS dist FROM fin WHERE pr = 1""".stripMargin
  }

  /** SemDedup oracle: replay the k=8 x 2-iteration Lloyd fit via the
    * shared CTE chain, assign + centroid distance, then the paper's
    * within-cluster prune — b is a duplicate iff some cluster-mate a
    * earlier in (dist DESC, vec_id ASC) order has round(cos,6) >= tau.
    */
  private def semDedupSql: String = {
    val dist = kmeansDistSql(64) _
    val tau = "0.3"
    s"""WITH ${kmeansChainSql(k = 8, dims = 64, iters = 2, prefix = "sd_")},
       |sd_fin AS (
       |  SELECT e.vec_id, c.cluster, ${dist("e", "c")} AS d2,
       |         row_number() OVER (PARTITION BY e.vec_id
       |                            ORDER BY ${dist("e", "c")} ASC, c.cluster ASC) AS pr
       |  FROM embeddings e, sd_c2 c
       |),
       |sd_asg AS (SELECT vec_id, cluster, round(sqrt(d2), 6) AS dist FROM sd_fin WHERE pr = 1),
       |sd_vec AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
       |sd_dups AS (
       |  SELECT DISTINCT b.vec_id
       |  FROM sd_asg a JOIN sd_asg b ON a.cluster = b.cluster
       |   AND (a.dist > b.dist OR (a.dist = b.dist AND a.vec_id < b.vec_id))
       |  JOIN sd_vec va ON va.vec_id = a.vec_id
       |  JOIN sd_vec vb ON vb.vec_id = b.vec_id
       |  WHERE round(list_dot_product(va.e, vb.e) /
       |        (sqrt(list_dot_product(va.e, va.e)) *
       |         sqrt(list_dot_product(vb.e, vb.e))), 6) >= $tau
       |)
       |SELECT s.vec_id, s.cluster, s.dist, (d.vec_id IS NULL) AS keep
       |FROM sd_asg s LEFT JOIN sd_dups d ON d.vec_id = s.vec_id""".stripMargin
  }

  /** Trained-IVF oracle: re-trains the k=16 x 2-iteration Lloyd fit
    * in SQL (identical by the round-6 determinism contract), then
    * replays the IVF search against those centroids — same
    * (s DESC, list DESC) probe order and in-list exact cosine as
    * `ivfTopkSql`.
    */
  private def ivfTrainedSql: String =
    s"""WITH ${kmeansChainSql(k = 16, dims = 64, iters = 2)},
       |cent AS (
       |  SELECT cluster AS j, cl, sqrt(list_dot_product(cl, cl)) AS n FROM c2
       |),
       |sc AS (
       |  SELECT e.vec_id, cent.j,
       |         list_dot_product(e.embedding::DOUBLE[], cent.cl) / cent.n AS s
       |  FROM embeddings e, cent
       |),
       |ranked AS (
       |  SELECT vec_id, j AS list,
       |         row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, j DESC) AS pr
       |  FROM sc
       |),
       |assign AS (SELECT vec_id, list FROM ranked WHERE pr = 1),
       |probes AS (SELECT vec_id, list FROM ranked WHERE pr <= 4 AND vec_id % 25 = 0 AND vec_id < 10000000),
       |q AS (
       |  SELECT e.vec_id AS query_id, e.embedding::DOUBLE[] AS qe, p.list
       |  FROM embeddings e JOIN probes p ON e.vec_id = p.vec_id
       |),
       |scored AS (
       |  SELECT q.query_id, c.vec_id AS neighbor_id,
       |         list_dot_product(q.qe, c.embedding::DOUBLE[]) /
       |           (sqrt(list_dot_product(q.qe, q.qe)) *
       |            sqrt(list_dot_product(c.embedding::DOUBLE[], c.embedding::DOUBLE[]))) AS cos
       |  FROM embeddings c
       |  JOIN assign a ON c.vec_id = a.vec_id
       |  JOIN q ON q.list = a.list AND q.query_id != c.vec_id
       |),
       |rk AS (
       |  SELECT query_id, neighbor_id,
       |         row_number() OVER (PARTITION BY query_id
       |                            ORDER BY round(cos, 6) DESC, neighbor_id ASC) AS rank,
       |         round(cos, 6) AS cos
       |  FROM scored
       |)
       |SELECT query_id, neighbor_id, rank, cos FROM rk WHERE rank <= 10""".stripMargin

  /** Recall@10 oracle: the three top-k oracles composed as nested
    * subqueries (each is already hash-verified standalone), joined
    * truth-vs-approx per query. Counts are exact integers; recall is
    * a small-integer ratio rounded to 6.
    */
  /** Probe-sweep oracle: the trained-IVF assignment chain with the
    * probe RANK kept, fanned across the nprobe values exactly as the
    * Spark side derives every smaller setting from one ranked
    * candidate table; recall aggregated as exact BIGINT counts and
    * divided once.
    */
  private def ivfProbeSweepSql: String =
    s"""WITH ${kmeansChainSql(k = 16, dims = 64, iters = 2)},
       |cent AS (
       |  SELECT cluster AS j, cl, sqrt(list_dot_product(cl, cl)) AS n FROM c2
       |),
       |sc AS (
       |  SELECT e.vec_id, cent.j,
       |         list_dot_product(e.embedding::DOUBLE[], cent.cl) / cent.n AS s
       |  FROM embeddings e, cent
       |),
       |ranked AS (
       |  SELECT vec_id, j AS list,
       |         row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, j DESC) AS pr
       |  FROM sc
       |),
       |assign AS (SELECT vec_id, list FROM ranked WHERE pr = 1),
       |np(nprobe) AS (VALUES (1), (2), (4), (8)),
       |probes AS (SELECT vec_id, list, pr FROM ranked WHERE pr <= 8 AND vec_id % 25 = 0 AND vec_id < 10000000),
       |q AS (
       |  SELECT e.vec_id AS query_id, e.embedding::DOUBLE[] AS qe, p.list, p.pr
       |  FROM embeddings e JOIN probes p ON e.vec_id = p.vec_id
       |),
       |scored AS (
       |  SELECT np.nprobe, q.query_id, c.vec_id AS neighbor_id,
       |         list_dot_product(q.qe, c.embedding::DOUBLE[]) /
       |           (sqrt(list_dot_product(q.qe, q.qe)) *
       |            sqrt(list_dot_product(c.embedding::DOUBLE[], c.embedding::DOUBLE[]))) AS cos
       |  FROM embeddings c
       |  JOIN assign a ON c.vec_id = a.vec_id
       |  JOIN q ON q.list = a.list AND q.query_id != c.vec_id
       |  JOIN np ON q.pr <= np.nprobe
       |),
       |rk AS (
       |  SELECT nprobe, query_id, neighbor_id,
       |         row_number() OVER (PARTITION BY nprobe, query_id
       |                            ORDER BY round(cos, 6) DESC, neighbor_id ASC) AS rank
       |  FROM scored
       |),
       |topk AS (SELECT nprobe, query_id, neighbor_id FROM rk WHERE rank <= 10),
       |truth AS (SELECT query_id, neighbor_id FROM ($cosineTopkSql)),
       |tf AS (SELECT np.nprobe, t.query_id, t.neighbor_id FROM truth t, np)
       |SELECT tf.nprobe, count(DISTINCT tf.query_id) AS n_queries, count(*) AS n_true,
       |       CAST(sum(CASE WHEN x.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
       |       round(CAST(sum(CASE WHEN x.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
       |             / count(*), 6) AS recall
       |FROM tf LEFT JOIN topk x
       |  ON tf.nprobe = x.nprobe AND tf.query_id = x.query_id AND tf.neighbor_id = x.neighbor_id
       |GROUP BY tf.nprobe""".stripMargin

  /** Plane-sweep oracle: the full-resolution sign-LSH buckets with
    * bit-prefix coarsening fanned across the swept plane counts —
    * the same one-assignment derivation as the Spark side.
    */
  private def annPlaneSweepSql: String =
    s"""WITH dp AS (
       |  SELECT vec_id, j,
       |         list_dot_product(
       |           embedding::DOUBLE[],
       |           list_transform(generate_series(0, len(embedding) - 1), d ->
       |             ('0x' || substr(md5('plane:' || j || ':' || d), 1, 13))::BIGINT
       |               / 4503599627370496.0 - 0.5)) AS dp
       |  FROM embeddings, (SELECT unnest(generate_series(0, 7)) AS j)
       |),
       |buckets AS (
       |  SELECT vec_id,
       |         CAST(sum(CASE WHEN dp > 0 THEN pow(2.0, j) ELSE 0.0 END) AS BIGINT) AS bucket
       |  FROM dp GROUP BY vec_id
       |),
       |nb(nbits) AS (VALUES (4), (6), (8)),
       |pref AS (
       |  SELECT b.vec_id, nb.nbits, b.bucket >> (8 - nb.nbits) AS pref
       |  FROM buckets b, nb
       |),
       |q AS (
       |  SELECT e.vec_id AS query_id, e.embedding::DOUBLE[] AS qe, p.nbits, p.pref
       |  FROM embeddings e JOIN pref p ON e.vec_id = p.vec_id
       |  WHERE e.vec_id % 25 = 0 AND e.vec_id < 10000000
       |),
       |scored AS (
       |  SELECT q.nbits, q.query_id, c.vec_id AS neighbor_id,
       |         list_dot_product(q.qe, c.embedding::DOUBLE[]) /
       |           (sqrt(list_dot_product(q.qe, q.qe)) *
       |            sqrt(list_dot_product(c.embedding::DOUBLE[], c.embedding::DOUBLE[]))) AS cos
       |  FROM embeddings c
       |  JOIN pref cp ON c.vec_id = cp.vec_id
       |  JOIN q ON q.nbits = cp.nbits AND q.pref = cp.pref AND q.query_id != c.vec_id
       |),
       |rk AS (
       |  SELECT nbits, query_id, neighbor_id,
       |         row_number() OVER (PARTITION BY nbits, query_id
       |                            ORDER BY round(cos, 6) DESC, neighbor_id ASC) AS rank
       |  FROM scored
       |),
       |topk AS (SELECT nbits, query_id, neighbor_id FROM rk WHERE rank <= 10),
       |truth AS (SELECT query_id, neighbor_id FROM ($cosineTopkSql)),
       |tf AS (SELECT nb.nbits, t.query_id, t.neighbor_id FROM truth t, nb)
       |SELECT tf.nbits, count(DISTINCT tf.query_id) AS n_queries, count(*) AS n_true,
       |       CAST(sum(CASE WHEN x.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
       |       round(CAST(sum(CASE WHEN x.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
       |             / count(*), 6) AS recall
       |FROM tf LEFT JOIN topk x
       |  ON tf.nbits = x.nbits AND tf.query_id = x.query_id AND tf.neighbor_id = x.neighbor_id
       |GROUP BY tf.nbits""".stripMargin

  private def recallLegSql(table: String, method: String): String =
    s"""SELECT '$method' AS method, t.query_id,
       |       count(*) AS n_true,
       |       CAST(sum(CASE WHEN x.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
       |       round(CAST(sum(CASE WHEN x.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
       |             / count(*), 6) AS recall
       |FROM truth t LEFT JOIN $table x USING (query_id, neighbor_id)
       |GROUP BY t.query_id""".stripMargin

  private def annRecallSql: String =
    s"""WITH truth AS (SELECT query_id, neighbor_id FROM ($cosineTopkSql)),
       |ann AS (SELECT query_id, neighbor_id FROM ($annTopkSql)),
       |ivf AS (SELECT query_id, neighbor_id FROM ($ivfTopkSql))
       |${recallLegSql("ann", "ann")}
       |UNION ALL
       |${recallLegSql("ivf", "ivf")}""".stripMargin

  /** Int8-IVF replay: DuckDB re-trains the identical per-dim ranges,
    * fuses encode∘decode per element (bit-equal to Spark's
    * codes-table decode: code+127.5 = clampedFloor+0.5 exactly), and
    * re-runs assignment/probing/scoring with the same deterministic
    * orderings — routed on the TRAINED k-means centroids (the r9
    * switch; the Lloyd chain is replayed in SQL as in
    * `ivfTrainedSql`). Corpus routing uses the DECODED vectors (the
    * int8 index is self-contained); query probes use the
    * full-precision embedding, as in the Spark plan.
    */
  private def ivfInt8TopkSql: String = {
    s"""WITH ${kmeansChainSql(k = 16, dims = 64, iters = 2)},
       |nrm AS (
       |  SELECT cluster AS j, cl, sqrt(list_dot_product(cl, cl)) AS n FROM c2
       |),
       |dimstats AS (
       |  SELECT d, min(v) AS lo, max(v) AS hi
       |  FROM (SELECT unnest(embedding::DOUBLE[]) AS v,
       |               unnest(range(0, len(embedding))) AS d
       |        FROM embeddings)
       |  GROUP BY d
       |),
       |arrs AS (
       |  SELECT list(lo ORDER BY d) AS los,
       |         list(CASE WHEN hi > lo THEN 254.0 / (hi - lo) ELSE 0.0 END ORDER BY d) AS scales
       |  FROM dimstats
       |),
       |dec AS (
       |  SELECT e.vec_id, list_transform(generate_series(1, 64), i ->
       |    CASE WHEN a.scales[i] = 0.0 THEN a.los[i]
       |         ELSE a.los[i] + (least(254.0, greatest(0.0,
       |                floor((e.embedding[i]::DOUBLE - a.los[i]) * a.scales[i]))) + 0.5)
       |              / a.scales[i] END) AS de
       |  FROM embeddings e, arrs a
       |),
       |sc AS (
       |  SELECT dec.vec_id, nrm.j,
       |         list_dot_product(dec.de, nrm.cl) / nrm.n AS s
       |  FROM dec, nrm
       |),
       |ranked AS (
       |  SELECT vec_id, j AS list,
       |         row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, j DESC) AS pr
       |  FROM sc
       |),
       |assign AS (SELECT vec_id, list FROM ranked WHERE pr = 1),
       |scq AS (
       |  SELECT e.vec_id, nrm.j,
       |         list_dot_product(e.embedding::DOUBLE[], nrm.cl) / nrm.n AS s
       |  FROM embeddings e, nrm WHERE e.vec_id % 25 = 0 AND e.vec_id < 10000000
       |),
       |rankedq AS (
       |  SELECT vec_id, j AS list,
       |         row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, j DESC) AS pr
       |  FROM scq
       |),
       |probes AS (SELECT vec_id, list FROM rankedq WHERE pr <= 4),
       |q AS (
       |  SELECT e.vec_id AS query_id, e.embedding::DOUBLE[] AS qe, p.list
       |  FROM embeddings e JOIN probes p ON e.vec_id = p.vec_id
       |),
       |scored AS (
       |  SELECT q.query_id, c.vec_id AS neighbor_id,
       |         list_dot_product(q.qe, c.de) /
       |           (sqrt(list_dot_product(q.qe, q.qe)) *
       |            sqrt(list_dot_product(c.de, c.de))) AS cos
       |  FROM dec c
       |  JOIN assign a ON c.vec_id = a.vec_id
       |  JOIN q ON q.list = a.list AND q.query_id != c.vec_id
       |),
       |rk AS (
       |  SELECT query_id, neighbor_id,
       |         row_number() OVER (PARTITION BY query_id
       |                            ORDER BY round(cos, 6) DESC, neighbor_id ASC) AS rank,
       |         round(cos, 6) AS cos
       |  FROM scored
       |)
       |SELECT query_id, neighbor_id, rank, cos FROM rk WHERE rank <= 10""".stripMargin
  }

  private def annInt8RecallSql: String =
    s"""WITH truth AS (SELECT query_id, neighbor_id FROM ($cosineTopkSql)),
       |ivf_float AS (SELECT query_id, neighbor_id FROM ($ivfTrainedSql)),
       |ivf_int8 AS (SELECT query_id, neighbor_id FROM ($ivfInt8TopkSql))
       |${recallLegSql("ivf_float", "ivf_float")}
       |UNION ALL
       |${recallLegSql("ivf_int8", "ivf_int8")}""".stripMargin

  /** One PQ sub-space: slice CTE + the full Lloyd chain (prefix
    * `pq{u}_`) + the final-centroid assignment `pq{u}_fin(vec_id,
    * cluster)` — identical training to `Similarity.pqCodebooks`
    * (which delegates to `Clustering.kmeansCentroids` per slice).
    */
  private def pqSubspaceChains(m: Int, sub: Int, k: Int, iters: Int,
                               src: String = "embeddings",
                               pfx: String = "pq"): String =
    (0 until m).map { u =>
      val lo = u * sub + 1
      val hi = (u + 1) * sub
      s"""$pfx${u}_src AS MATERIALIZED (
         |  SELECT vec_id, embedding[$lo:$hi] AS embedding FROM $src
         |),
         |${kmeansChainSql(k, sub, iters, src = s"$pfx${u}_src", prefix = s"$pfx${u}_")},
         |$pfx${u}_fin AS MATERIALIZED (
         |  SELECT vec_id, cluster FROM (
         |    SELECT e.vec_id, c.cluster,
         |           row_number() OVER (PARTITION BY e.vec_id
         |                              ORDER BY ${kmeansDistSql(sub)("e", "c")} ASC, c.cluster ASC) AS pr
         |    FROM $pfx${u}_src e, $pfx${u}_c$iters c
         |  ) WHERE pr = 1
         |)""".stripMargin
    }.mkString(",\n")

  /** PQ-codes replay: PQ_M sliced Lloyd fits + final assignments,
    * joined to one row per vector.
    */
  private def pqJoinChain(pfx: String = "pq"): String =
    s"${pfx}0_fin a0 " + (1 until PQ_M)
      .map(u => s"JOIN $pfx${u}_fin a$u USING (vec_id)").mkString(" ")

  private def pqCodesSql: String =
    s"""WITH ${pqSubspaceChains(PQ_M, PQ_SUB, PQ_K, PQ_ITERS)}
       |SELECT a0.vec_id,
       |       ${(0 until PQ_M).map(u => s"a$u.cluster AS c$u").mkString(", ")}
       |FROM ${pqJoinChain()}""".stripMargin

  /** PQ ADC-recall replay: corpus rows reconstructed blockwise from
    * their assigned sub-centroids, scored against the full-precision
    * queries exactly as `Similarity.pqTopK` (numerator = sum of
    * per-slice dot products, denominator from the reconstruction's
    * exact blockwise self-dot), ranked with the same
    * (round 6, neighbor asc) tie-break, recall vs the brute-force
    * truth via the shared leg.
    */
  private def pqRecallSql: String = {
    val centJoins = (0 until PQ_M)
      .map(u => s"JOIN pq${u}_c$PQ_ITERS x$u ON x$u.cluster = a$u.cluster").mkString("\n  ")
    val selfDots = (0 until PQ_M)
      .map(u => s"list_dot_product(x$u.cl, x$u.cl)").mkString(" + ")
    val qDots = (0 until PQ_M)
      .map(u => s"list_dot_product(q.qe[${u * PQ_SUB + 1}:${(u + 1) * PQ_SUB}], c.cl$u)")
      .mkString("\n        + ")
    s"""WITH ${kmeansChainSql(k = 16, dims = 64, iters = 2)},
       |${pqSubspaceChains(PQ_M, PQ_SUB, PQ_K, PQ_ITERS)},
       |corp AS (
       |  SELECT a0.vec_id,
       |         ${(0 until PQ_M).map(u => s"x$u.cl AS cl$u").mkString(", ")},
       |         sqrt($selfDots) AS cn
       |  FROM ${pqJoinChain()}
       |  $centJoins
       |),
       |qq AS (
       |  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qe,
       |         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS qn
       |  FROM embeddings WHERE vec_id % 25 = 0 AND vec_id < 10000000
       |),
       |scored AS (
       |  SELECT q.query_id, c.vec_id AS neighbor_id,
       |         ($qDots)
       |           / (q.qn * c.cn) AS cos
       |  FROM corp c, qq q WHERE q.query_id != c.vec_id
       |),
       |rk AS (
       |  SELECT query_id, neighbor_id,
       |         row_number() OVER (PARTITION BY query_id
       |                            ORDER BY round(cos, 6) DESC, neighbor_id ASC) AS rank
       |  FROM scored
       |),
       |pq AS (SELECT query_id, neighbor_id FROM rk WHERE rank <= 10),
       |cand50 AS (SELECT query_id, neighbor_id FROM rk WHERE rank <= 50),
       |fl AS (
       |  SELECT vec_id, embedding::DOUBLE[] AS fe,
       |         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS fn
       |  FROM embeddings
       |),
       |rr AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT cd.query_id, cd.neighbor_id,
       |           row_number() OVER (PARTITION BY cd.query_id
       |             ORDER BY round(list_dot_product(q.qe, f.fe) / (q.qn * f.fn), 6) DESC,
       |                      cd.neighbor_id ASC) AS rank
       |    FROM cand50 cd
       |    JOIN fl f ON f.vec_id = cd.neighbor_id
       |    JOIN qq q ON q.query_id = cd.query_id)
       |  WHERE rank <= 10
       |),
       |$ivfPqLegSql,
       |truth AS (SELECT query_id, neighbor_id FROM ($cosineTopkSql))
       |${recallLegSql("pq", "pq")}
       |UNION ALL
       |${recallLegSql("ivf_pq", "ivf_pq")}
       |UNION ALL
       |${recallLegSql("rr", "pq_rerank")}""".stripMargin
  }

  /** The IVF-routed leg of the PQ recall oracle (appended to the
    * shared WITH of `pqRecallSql`, which provides `corp` with the
    * per-row sub-centroid lists): the corpus reconstruction is the
    * FLAT flatten of the block centroids (matching Spark's single
    * left-to-right dot in `ivfSearchDecoded`, not the blockwise sums
    * of the ADC leg), routed/probed/scored exactly as the int8-IVF
    * oracle with the same md5 routing centroids.
    */
  private def ivfPqLegSql: String = {
    s"""corpde AS MATERIALIZED (
       |  SELECT vec_id, flatten([${(0 until PQ_M).map(u => s"cl$u").mkString(", ")}]) AS de
       |  FROM corp
       |),
       |pnrm AS (
       |  SELECT cluster AS j, cl, sqrt(list_dot_product(cl, cl)) AS n FROM c2
       |),
       |psc AS (
       |  SELECT c.vec_id, pnrm.j, list_dot_product(c.de, pnrm.cl) / pnrm.n AS s
       |  FROM corpde c, pnrm
       |),
       |passign AS (
       |  SELECT vec_id, list FROM (
       |    SELECT vec_id, j AS list,
       |           row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, j DESC) AS pr
       |    FROM psc
       |  ) WHERE pr = 1
       |),
       |pscq AS (
       |  SELECT e.vec_id, pnrm.j,
       |         list_dot_product(e.embedding::DOUBLE[], pnrm.cl) / pnrm.n AS s
       |  FROM embeddings e, pnrm WHERE e.vec_id % 25 = 0 AND e.vec_id < 10000000
       |),
       |pprobes AS (
       |  SELECT vec_id, list FROM (
       |    SELECT vec_id, j AS list,
       |           row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, j DESC) AS pr
       |    FROM pscq
       |  ) WHERE pr <= 4
       |),
       |pq_q AS (
       |  SELECT e.vec_id AS query_id, e.embedding::DOUBLE[] AS qe, p.list
       |  FROM embeddings e JOIN pprobes p ON e.vec_id = p.vec_id
       |),
       |pscored AS (
       |  SELECT q.query_id, c.vec_id AS neighbor_id,
       |         list_dot_product(q.qe, c.de) /
       |           (sqrt(list_dot_product(q.qe, q.qe)) *
       |            sqrt(list_dot_product(c.de, c.de))) AS cos
       |  FROM corpde c
       |  JOIN passign a ON c.vec_id = a.vec_id
       |  JOIN pq_q q ON q.list = a.list AND q.query_id != c.vec_id
       |),
       |prk AS (
       |  SELECT query_id, neighbor_id,
       |         row_number() OVER (PARTITION BY query_id
       |                            ORDER BY round(cos, 6) DESC, neighbor_id ASC) AS rank
       |  FROM pscored
       |),
       |ivf_pq AS (SELECT query_id, neighbor_id FROM prk WHERE rank <= 10)""".stripMargin
  }

  /** Residual-IVF-PQ replay: the trained coarse chain assigns every
    * vector to its NEAREST centroid (d2 ASC, j ASC — the same L2
    * rule the Lloyd assignment uses; residual encoding is vs the
    * nearest centroid, FAISS IndexIVFPQ semantics), the residual
    * table is one exact elementwise subtraction, the PQ sub-chains
    * retrain on the residual slices (src = res, prefix rpq),
    * reconstruction adds the coarse centroid back, routing joins on
    * the STORED assignment with L2 query probes, and the rerank leg
    * refines the top-50 candidates against the float corpus — each
    * step the same deterministic arithmetic the Spark plan computes.
    */
  private def residualPqRecallSql: String = {
    val centJoins = (0 until PQ_M)
      .map(u => s"JOIN rpq${u}_c$PQ_ITERS x$u ON x$u.cluster = a$u.cluster")
      .mkString("\n  ")
    s"""WITH ${kmeansChainSql(k = 16, dims = 64, iters = 2)},
       |cent AS (SELECT cluster AS j, cl FROM c2),
       |csc AS (
       |  SELECT e.vec_id, c.cluster AS j, ${kmeansDistSql(64)("e", "c")} AS d2
       |  FROM embeddings e, c2 c
       |),
       |cranked AS (
       |  SELECT vec_id, j AS list,
       |         row_number() OVER (PARTITION BY vec_id ORDER BY d2 ASC, j ASC) AS pr
       |  FROM csc
       |),
       |rassign AS (SELECT vec_id, list FROM cranked WHERE pr = 1),
       |res AS MATERIALIZED (
       |  SELECT e.vec_id, a.list,
       |         list_transform(generate_series(1, 64),
       |                        i -> e.embedding[i]::DOUBLE - c.cl[i]) AS embedding
       |  FROM embeddings e JOIN rassign a USING (vec_id) JOIN cent c ON c.j = a.list
       |),
       |${pqSubspaceChains(PQ_M, PQ_SUB, PQ_K, PQ_ITERS, src = "res", pfx = "rpq")},
       |corp AS MATERIALIZED (
       |  SELECT a0.vec_id, r.list,
       |         list_transform(generate_series(1, 64), i ->
       |           c.cl[i] + flatten([${(0 until PQ_M).map(u => s"x$u.cl").mkString(", ")}])[i]) AS de
       |  FROM ${pqJoinChain("rpq")}
       |  $centJoins
       |  JOIN rassign r ON r.vec_id = a0.vec_id
       |  JOIN cent c ON c.j = r.list
       |),
       |probes AS (SELECT vec_id, list FROM cranked WHERE pr <= 4 AND vec_id % 25 = 0 AND vec_id < 10000000),
       |q AS (
       |  SELECT e.vec_id AS query_id, e.embedding::DOUBLE[] AS qe, p.list
       |  FROM embeddings e JOIN probes p ON e.vec_id = p.vec_id
       |),
       |scored AS (
       |  SELECT q.query_id, c.vec_id AS neighbor_id,
       |         list_dot_product(q.qe, c.de) /
       |           (sqrt(list_dot_product(q.qe, q.qe)) *
       |            sqrt(list_dot_product(c.de, c.de))) AS cos
       |  FROM corp c JOIN q ON q.list = c.list AND q.query_id != c.vec_id
       |),
       |rk AS (
       |  SELECT query_id, neighbor_id,
       |         row_number() OVER (PARTITION BY query_id
       |                            ORDER BY round(cos, 6) DESC, neighbor_id ASC) AS rank
       |  FROM scored
       |),
       |ivf_rpq AS (SELECT query_id, neighbor_id FROM rk WHERE rank <= 10),
       |cand50 AS (SELECT query_id, neighbor_id FROM rk WHERE rank <= 50),
       |fl AS (
       |  SELECT vec_id, embedding::DOUBLE[] AS fe,
       |         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS fn
       |  FROM embeddings
       |),
       |qq AS (
       |  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qe,
       |         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS qn
       |  FROM embeddings WHERE vec_id % 25 = 0 AND vec_id < 10000000
       |),
       |rr AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT cd.query_id, cd.neighbor_id,
       |           row_number() OVER (PARTITION BY cd.query_id
       |             ORDER BY round(list_dot_product(q.qe, f.fe) / (q.qn * f.fn), 6) DESC,
       |                      cd.neighbor_id ASC) AS rank
       |    FROM cand50 cd
       |    JOIN fl f ON f.vec_id = cd.neighbor_id
       |    JOIN qq q ON q.query_id = cd.query_id)
       |  WHERE rank <= 10
       |),
       |truth AS (SELECT query_id, neighbor_id FROM ($cosineTopkSql))
       |${recallLegSql("ivf_rpq", "ivf_rpq")}
       |UNION ALL
       |${recallLegSql("rr", "rpq_rerank")}""".stripMargin
  }

  /** One DOUBLE[] literal, every element dlit-printed (17 sig digits
    * round-trips bit-exactly through DuckDB's parser).
    */
  private def listLit(v: Array[Double]): String =
    v.map(OracleDsp.dlit).mkString("[", ", ", "]")

  /** An indexed literal table `name(idx, cl)` from rows of doubles. */
  private def matTableSql(name: String, rows: Array[Array[Double]]): String =
    s"""$name AS (SELECT * FROM (VALUES
       |${rows.zipWithIndex.map { case (r, j) => s"  ($j, ${listLit(r)}::DOUBLE[])" }.mkString(",\n")}
       |) AS t(idx, cl))""".stripMargin

  /** OPQ recall replay with the TRAINED artifacts inlined as literals
    * (r13 verdict #2): the SVD training chain is not SQL-replayable,
    * but by scoring time the rotation and codebooks are plan literals
    * — so the oracle replays coarse assignment → residual → rotate
    * (x·R) → per-subspace argmin encode → rotate-back reconstruction
    * (ĉ·Rᵀ) → IVF routing/scoring → exact-float rerank, the identical
    * chain shape as `residualPqRecallSql`, against the SAME literals
    * the Spark plan carried. Forward rotation y_j = dot(res, R[:,j])
    * and rotate-back de_i = c_i + dot(rec, R[i,:]) both replay
    * Similarity.rotateEmbedding's left-to-right accumulation via
    * list_dot_product.
    */
  private def opqRecallSql(cents: Array[Array[Double]],
                           rot: Array[Array[Double]],
                           books: Array[Array[Array[Double]]]): String = {
    val dims = rot.length
    val rotCols = Array.tabulate(dims, dims)((j, i) => rot(i)(j)) // column j of R
    val bkTables = books.zipWithIndex
      .map { case (cb, u) => matTableSql(s"bk$u", cb) }.mkString(",\n")
    def subDist(u: Int): String = {
      val lo = u * PQ_SUB
      val diff =
        s"list_transform(generate_series(1, $PQ_SUB), i -> y.y[$lo + i] - b.cl[i])"
      s"list_dot_product($diff, $diff)"
    }
    val assigns = (0 until PQ_M).map { u =>
      s"""a$u AS (
         |  SELECT vec_id, cluster FROM (
         |    SELECT y.vec_id, b.idx AS cluster,
         |           row_number() OVER (PARTITION BY y.vec_id
         |                              ORDER BY ${subDist(u)} ASC, b.idx ASC) AS pr
         |    FROM rotated y, bk$u b
         |  ) WHERE pr = 1
         |)""".stripMargin
    }.mkString(",\n")
    val bookJoins = (0 until PQ_M)
      .map(u => s"JOIN bk$u x$u ON x$u.idx = a$u.cluster").mkString("\n  ")
    val codeJoin = "a0 " + (1 until PQ_M)
      .map(u => s"JOIN a$u USING (vec_id)").mkString(" ")
    val rec = s"flatten([${(0 until PQ_M).map(u => s"x$u.cl").mkString(", ")}])"
    s"""WITH ${matTableSql("cent", cents)},
       |rc AS (SELECT [${rotCols.map(listLit).mkString(",\n  ")}]::DOUBLE[][] AS m),
       |rw AS (SELECT [${rot.map(listLit).mkString(",\n  ")}]::DOUBLE[][] AS m),
       |csc AS (
       |  SELECT e.vec_id, c.idx AS j,
       |         list_dot_product(
       |           list_transform(generate_series(1, $dims), i -> e.embedding[i]::DOUBLE - c.cl[i]),
       |           list_transform(generate_series(1, $dims), i -> e.embedding[i]::DOUBLE - c.cl[i])) AS d2
       |  FROM embeddings e, cent c
       |),
       |cranked AS (
       |  SELECT vec_id, j AS list,
       |         row_number() OVER (PARTITION BY vec_id ORDER BY d2 ASC, j ASC) AS pr
       |  FROM csc
       |),
       |rassign AS (SELECT vec_id, list FROM cranked WHERE pr = 1),
       |res AS MATERIALIZED (
       |  SELECT e.vec_id, a.list,
       |         list_transform(generate_series(1, $dims),
       |                        i -> e.embedding[i]::DOUBLE - c.cl[i]) AS embedding
       |  FROM embeddings e JOIN rassign a USING (vec_id) JOIN cent c ON c.idx = a.list
       |),
       |rotated AS MATERIALIZED (
       |  SELECT vec_id, list,
       |         list_transform(generate_series(1, $dims),
       |                        j -> list_dot_product(embedding, rc.m[j])) AS y
       |  FROM res, rc
       |),
       |$bkTables,
       |$assigns,
       |corp AS MATERIALIZED (
       |  SELECT a0.vec_id, r.list,
       |         list_transform(generate_series(1, $dims), i ->
       |           c.cl[i] + list_dot_product($rec, rw.m[i])) AS de
       |  FROM $codeJoin
       |  $bookJoins
       |  JOIN rassign r ON r.vec_id = a0.vec_id
       |  JOIN cent c ON c.idx = r.list, rw
       |),
       |probes AS (SELECT vec_id, list FROM cranked WHERE pr <= 4 AND vec_id % 25 = 0 AND vec_id < $PROBE_CAP),
       |q AS (
       |  SELECT e.vec_id AS query_id, e.embedding::DOUBLE[] AS qe, p.list
       |  FROM embeddings e JOIN probes p ON e.vec_id = p.vec_id
       |),
       |scored AS (
       |  SELECT q.query_id, c.vec_id AS neighbor_id,
       |         list_dot_product(q.qe, c.de) /
       |           (sqrt(list_dot_product(q.qe, q.qe)) *
       |            sqrt(list_dot_product(c.de, c.de))) AS cos
       |  FROM corp c JOIN q ON q.list = c.list AND q.query_id != c.vec_id
       |),
       |rk AS (
       |  SELECT query_id, neighbor_id,
       |         row_number() OVER (PARTITION BY query_id
       |                            ORDER BY round(cos, 6) DESC, neighbor_id ASC) AS rank
       |  FROM scored
       |),
       |ivf_opq AS (SELECT query_id, neighbor_id FROM rk WHERE rank <= 10),
       |cand50 AS (SELECT query_id, neighbor_id FROM rk WHERE rank <= 50),
       |fl AS (
       |  SELECT vec_id, embedding::DOUBLE[] AS fe,
       |         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS fn
       |  FROM embeddings
       |),
       |qq AS (
       |  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qe,
       |         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS qn
       |  FROM embeddings WHERE vec_id % 25 = 0 AND vec_id < $PROBE_CAP
       |),
       |rr AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT cd.query_id, cd.neighbor_id,
       |           row_number() OVER (PARTITION BY cd.query_id
       |             ORDER BY round(list_dot_product(q.qe, f.fe) / (q.qn * f.fn), 6) DESC,
       |                      cd.neighbor_id ASC) AS rank
       |    FROM cand50 cd
       |    JOIN fl f ON f.vec_id = cd.neighbor_id
       |    JOIN qq q ON q.query_id = cd.query_id)
       |  WHERE rank <= 10
       |),
       |truth AS (SELECT query_id, neighbor_id FROM ($cosineTopkSql))
       |${recallLegSql("ivf_opq", "ivf_opq")}
       |UNION ALL
       |${recallLegSql("rr", "opq_rerank")}""".stripMargin
  }

  private def cosineTopkSql: String =
    """WITH q AS (
      |  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id % 25 = 0 AND vec_id < 10000000
      |),
      |scored AS (
      |  SELECT q.query_id, c.vec_id AS neighbor_id,
      |         list_dot_product(q.qe, c.embedding::DOUBLE[]) /
      |           (sqrt(list_dot_product(q.qe, q.qe)) *
      |            sqrt(list_dot_product(c.embedding::DOUBLE[], c.embedding::DOUBLE[]))) AS cos
      |  FROM embeddings c, q WHERE q.query_id != c.vec_id
      |),
      |ranked AS (
      |  SELECT query_id, neighbor_id,
      |         row_number() OVER (PARTITION BY query_id
      |                            ORDER BY round(cos, 6) DESC, neighbor_id ASC) AS rank,
      |         round(cos, 6) AS cos
      |  FROM scored
      |)
      |SELECT query_id, neighbor_id, rank, cos FROM ranked WHERE rank <= 10""".stripMargin
}
