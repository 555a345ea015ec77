package graft
package queries

import org.apache.spark.sql.{SparkSession, DataFrame}
import org.apache.spark.sql.functions._

import graft.datapipe.Dedup
import graft.Substrates.{dedupComponents, docCount, docShingles, docs, lshCandDocs, lshCands,
  lshCandsCounted}
import graft.SparkEntry.{benchShingleSetOf, CC_ORACLE_ROUNDS, chunkDedupSql, decontaminateSql,
  dedupComponentsSql, lshCandChain, lshCandPrefix, normSql, PROBE_CAP, shinglesSql, shinglesSqlFrom}

/** Text dedup: exact, MinHash/LSH near-dup pairs and components,
  * SimHash, span and substring dedup, and test-set decontamination
  * with its streaming twin.
  */
object DedupQueries {

  val specs: Seq[QuerySpec] = Seq(
    // -- dedup --
    QuerySpec("q_dedup_exact", (s, dir) => Dedup.exact(docs(s, dir)),
      """WITH f AS (
        |  SELECT doc_id,
        |         md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fp
        |  FROM documents
        |)
        |SELECT doc_id, fp, count(*) OVER (PARTITION BY fp) AS group_size,
        |       doc_id = min(doc_id) OVER (PARTITION BY fp) AS keep
        |FROM f""".stripMargin),
    QuerySpec("q_minhash_sig", (s, dir) =>
      Dedup.minhashSignaturesFromHashes(docShingles(s, dir), k = 16), minhashSql),
    QuerySpec("q_simhash", (s, dir) => Dedup.simhash(docs(s, dir)), simhashSql),
    QuerySpec("q_decontaminate", (s, dir) => {
      // test-set decontamination: every 97th document stands in for a
      // held-out benchmark; corpus docs overlapping its shingle set by
      // >= 10% are flagged. Benchmark set broadcasts; the corpus-side
      // shingle table (shared cache) is filtered map-side
      val sh = docShingles(s, dir)
      Dedup.benchmarkOverlap(
        sh.filter(col("doc_id") % 97 =!= 0),
        sh.filter(col("doc_id") % 97 === 0))
    }, decontaminateSql),
    QuerySpec("q_decontaminate_bloom", (s, dir) => {
      // the SAME decontamination table via the Bloom-prefilter path —
      // the scale shape for blocklists too big to broadcast-join: a
      // distributed OR-merge build, a codegen'd bit-probe filter, and
      // an exact semi-join over the survivors (no false negatives, so
      // the output hash-matches the exact broadcast path / its oracle)
      val sh = docShingles(s, dir)
      Dedup.benchmarkOverlapBloom(
        sh.filter(col("doc_id") % 97 =!= 0),
        sh.filter(col("doc_id") % 97 === 0))
    },
      // Bloom-prefilter path: exact by construction (no-false-negative
      // probe + exact semi-join on survivors) — same oracle table
      decontaminateSql),
    QuerySpec("q_containment", (s, dir) =>
      // asymmetric dup detection over the shared LSH candidates:
      // containment |A∩B|/|A| flags subset duplication (short doc
      // quoted whole inside a long one) that Jaccard structurally
      // misses — same broadcast-bounded verify plan, extra columns
      Dedup.overlapScores(docShingles(s, dir), lshCands(s, dir),
        neededDocsHint = Some(lshCandDocs(s, dir)),
        prebuiltSets = Some(freshCandSets(s, dir))), containmentSql),
    QuerySpec("q_ngram_jaccard", (s, dir) => {
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
    }, ngramJaccardSql),
    QuerySpec("q_dup_spans", (s, dir) =>
      // substring-granular dedup signal: per-doc fraction of rolling
      // 10-token windows that appear verbatim in another document
      // (catches a hot paragraph pasted into otherwise-unique pages,
      // which document-level MinHash structurally misses)
      Dedup.duplicateSpanStats(docs(s, dir), w = 10), dupSpansSql),
    QuerySpec("q_substr_rewrite", (s, dir) =>
      // ExactSubstr dedup (Lee et al 2022), window-approximated with
      // REWRITE: any duplicated passage of >= 10 tokens has its every
      // window duplicated, so its non-first occurrences are excised
      // token-exactly while unique bordering text survives — the
      // span-granular big sibling of q_chunk_dedup
      Dedup.substrDedup(docs(s, dir), w = 10), substrRewriteSql),
    QuerySpec("q_sa_substr", (s, dir) =>
      // the SUFFIX-ARRAY-STYLE ExactSubstr path (r8 verdict stretch):
      // prefix-equivalence classes doubled over ceil(log2 w) rounds +
      // one overlapped final step — exact length-w equality, zero
      // hash collisions, integer-only exchanges. Provably the same
      // covered-position set and tie-break as the windowed
      // q_substr_rewrite, so the two INDEPENDENT implementations
      // share one oracle (cross-implementation check)
      Dedup.saSubstrDedup(docs(s, dir), w = 10), substrRewriteSql),
    QuerySpec("q_substr_w50", (s, dir) =>
      // Lee et al.'s PUBLISHED window length (w=50), windowed-hash
      // form: 50x hash input per token, one span exchange — the
      // w-scaling half of the measured SA-vs-windowed crossover
      // (PLANS.md r12)
      Dedup.substrDedup(docs(s, dir), w = 50), substrRewriteSqlW(50)),
    QuerySpec("q_sa_substr_w50", (s, dir) =>
      // the SA-class form at w=50: ceil(log2 50)+1 = 7 integer-only
      // refinement rounds, hash-free — shares the w=50 oracle with
      // q_substr_w50 (same covered set by construction)
      Dedup.saSubstrDedup(docs(s, dir), w = 50), substrRewriteSqlW(50)),
    QuerySpec("q_chunk_dedup", (s, dir) =>
      // the REWRITE stage the span statistics motivate: line-level
      // dedup at 20-token chunk grain — drop every repeated chunk's
      // non-first occurrence corpus-wide, return each doc's surviving
      // text re-joined in order (CCNet/RefinedWeb line dedup)
      Dedup.chunkDedup(docs(s, dir), w = 20), chunkDedupSql),
    QuerySpec("q_span_sweep", (s, dir) =>
      // the Lee-et-al window-length sweep (10/20/50 tokens) in ONE
      // corpus pass: one tokenize, one generator, one explode — the
      // scan count stays 1 as lengths are added
      Dedup.spanSweepStats(docs(s, dir), ws = Seq(10, 20, 50)), spanSweepSql),
    QuerySpec("q_dup_span_top", (s, dir) =>
      // the boilerplate report: globally hottest duplicated spans
      // with their text — winners picked hash-keyed (8-byte shuffle,
      // TakeOrderedAndProject), strings recovered for the k winners
      // only via a broadcast semi-join
      Dedup.topDuplicateSpans(docs(s, dir), w = 10, k = 20), dupSpanTopSql),
    QuerySpec("q_simhash_neardups", (s, dir) =>
      Dedup.simhashNearDups(docs(s, dir)), simhashNearDupsSql),
    QuerySpec("q_minhash_lsh_neardups", (s, dir) => {
      val d = docs(s, dir)
      val cands = lshCands(s, dir)
      // always-nonempty diagnostic: per-doc candidate count
      d.select(col("doc_id")).join(
        cands.select(col("a").as("doc_id")).unionAll(cands.select(col("b").as("doc_id")))
          .groupBy("doc_id").agg(count(lit(1)).as("n_candidates")),
        Seq("doc_id"), "left")
        .na.fill(0, Seq("n_candidates"))
    }, lshNearDupsSql),
    QuerySpec("q_dedup_components", (s, dir) =>
      // near-dup clusters: shared LSH candidate pairs -> star
      // contraction to fixpoint (rounds counted; node maps on the
      // driver under the counted node gate). maxIters MUST equal
      // CC_ORACLE_ROUNDS (see dedupComponentsSql). Computed FRESH each
      // call — NOT via the components memo — so the benched number is
      // the real fixpoint iteration, not a cache read; q_dedup_keep
      // measures the compute-once/read-many consumption side instead
      Dedup.connectedComponents(lshCands(s, dir), maxIters = CC_ORACLE_ROUNDS,
        verbose = ccVerbose), dedupComponentsSql),
    QuerySpec("q_dedup_keep", (s, dir) =>
      // the dedup DECISION: keep a doc iff it is its near-dup
      // cluster's representative (the min doc_id); docs in no
      // candidate pair represent themselves
      docs(s, dir).select(col("doc_id"))
        .join(dedupComponents(s, dir).select(col("doc_id"), col("component")),
          Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("component"), col("doc_id")).as("cluster"))
        .withColumn("keep", col("doc_id") === col("cluster")), dedupKeepSql),
    QuerySpec("q_neardup_pairs", (s, dir) =>
      // the full minhash pipeline end-to-end: shared shingle hashes
      // -> shared capped candidates -> broadcast-bounded exact
      // Jaccard -> threshold cut (Dedup.minhashNearDups over the
      // memoized intermediates)
      Dedup.jaccardByHashes(docShingles(s, dir), lshCands(s, dir),
        neededDocsHint = Some(lshCandDocs(s, dir)),
        prebuiltSets = Some(freshCandSets(s, dir)))
        .select(col("a"), col("b"), round(col("jaccard"), 6).as("jaccard"))
        .filter(col("jaccard") >= 0.5), neardupPairsSql),
    QuerySpec("q_neardup_pairs_topk", (s, dir) =>
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
        prebuiltSets = Some(freshCandSets(s, dir))), neardupPairsTopkSql),
    QuerySpec("q_lsh_bucket_cap", (s, dir) => {
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
    }, lshBucketCapSql),
    QuerySpec("q_lsh_bucket_overflow", (s, dir) =>
      // the observability half of the cap: which buckets overflowed,
      // by how much, and who represents them
      Dedup.lshBucketStats(
        Dedup.minhashSignatures(cloneFixture(s, dir), k = 16), rowsPerBand = 4, maxBucket = 8)
        .select(col("band").cast("long").as("band"), col("representative"),
          col("n_members"), col("n_starred")), lshBucketOverflowSql),
    QuerySpec("q_stream_decontaminate", (s, dir) => {
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
    },
      // admission-time twin: bounded stream ≡ the same batch table
      decontaminateSql)
  )

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

  private def dedupKeepSql: String = {
    val components = dedupComponentsSql
    s"""WITH comp AS MATERIALIZED ($components)
       |SELECT d.doc_id,
       |       coalesce(c.component, d.doc_id) AS cluster,
       |       d.doc_id = coalesce(c.component, d.doc_id) AS keep
       |FROM documents d LEFT JOIN comp c USING (doc_id)""".stripMargin
  }

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
}
