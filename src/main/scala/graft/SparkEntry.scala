package graft

import scala.collection.immutable.HashMap

import org.apache.spark.sql.{SparkSession, DataFrame}
import org.apache.spark.sql.functions._

import graft.signal.{Channels, Signal}
import graft.datapipe.Dedup
import graft.Substrates.{dedupComponents, docShingles, docs, ev}

import graft.queries.{QuerySpec, TpchQueries, SignalQueries, KernelQueries, DedupQueries,
  SimilarityQueries, TextQueries, MediaQueries, StreamingQueries}

/** The query registry and the driver contract.
  *
  * Every query is one [[graft.queries.QuerySpec]]: its Spark plan and
  * the DuckDB SQL that checks it over the same parquet tables, declared
  * together in its family's file under `graft.queries` (tpch, signal,
  * kernels, dedup, similarity, text, media, streaming). This object
  * keeps what two or more families share (loaders, the probe cap, and
  * the channel-model, shingle/LSH, components and decontamination SQL
  * their oracles build on), the three catalog tables, the flagship
  * [[entry]], and [[queries]] and [[oracleSqlFor]], both derived from
  * the spec lists.
  *
  * Numeric parity strategy: time axes are derived from integer
  * microseconds (exact in both engines); per-row arithmetic is left
  * unrounded (IEEE-identical); ordered/grouped float aggregations are
  * rounded to a precision far coarser than cross-engine summation
  * error (see the per-query notes).
  */
object SparkEntry {

  // ---- shared loaders ----------------------------------------------------

  private[graft] def li(s: SparkSession, dir: String) = s.read.parquet(s"$dir/lineitem.parquet")

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
  private[graft] def rawEvents(s: SparkSession, dir: String) = Channels.rawEvents(s, dir)

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
  private[graft] def benchShingleSetOf(s: SparkSession, dir: String):
      org.apache.spark.broadcast.Broadcast[Set[Long]] = {
    import s.implicits._
    s.sparkContext.broadcast(
      docShingles(s, dir).filter(col("doc_id") % 97 === 0)
        .select(col("h1")).distinct().as[Long].collect().toSet)
  }

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
  private[graft] def tableSuffix(dir: String): String =
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
  private[graft] val SRC =
    """src AS (
      |  SELECT event_type AS channel,
      |         (epoch_us(ts) - min(epoch_us(ts)) OVER (PARTITION BY event_type)) / 1000000.0 AS t,
      |         value AS v
      |  FROM events
      |)""".stripMargin

  /** CTE chain producing `u(channel, t, v)` = the events channels
    * linearly resampled onto the np.arange grid at `step` seconds —
    * the DuckDB mirror of `evUniform` for oracles over the uniform
    * substrate.
    */
  private[graft] def uniformSql(step: Double): String =
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

  /** Decontamination oracle: distinct shingle-STRING overlap replays
    * Spark's distinct-h1 overlap (the same md5-collision argument as
    * the Jaccard oracle); the >= 10% flag is exact integer
    * arithmetic on both engines.
    */
  private[graft] def decontaminateSql: String =
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

  private[graft] val normSql = "trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))"
  private[graft] def shinglesSqlFrom(table: String): String =
    s"""shingles AS (
       |  SELECT DISTINCT doc_id, substr(norm, pos, 5) AS shingle
       |  FROM (
       |    SELECT doc_id, norm,
       |           unnest(generate_series(1, greatest(length(norm) - 4, 1))) AS pos
       |    FROM (SELECT doc_id, $normSql AS norm FROM $table)
       |  )
       |)""".stripMargin
  private[graft] val shinglesSql = shinglesSqlFrom("documents")

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
  private[graft] def lshCandPrefix(maxBucket: Int = 64): String =
    s"$shinglesSql,\n${lshCandChain(maxBucket)}"

  /** The sig → bands → ranked → capped-cand CTE chain, assuming a
    * `shingles(doc_id, shingle)` CTE is already in scope.
    */
  /** The sig → bands prefix alone (the corpus band table), assuming a
    * `shingles(doc_id, shingle)` CTE is already in scope — shared by
    * the candidate chain below and the stream-static match oracle.
    */
  private[graft] def lshBandsChain: String =
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

  private[graft] def lshCandChain(maxBucket: Int): String =
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
  private[graft] def dedupComponentsSql: String = {
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

  /** Chunk-dedup replay: same normalize/tokenize, non-overlapping
    * 20-token chunks (inclusive DuckDB slices), keep-first decided on
    * the chunk STRING (the engine-portable stand-in for the 52-bit
    * hash; a collision would surface as a hash mismatch here), ordered
    * string_agg for the rewrite. FILTER leaves NULL when every chunk
    * dropped — mirrored by the Spark side's when(n_kept > 0, ...).
    */
  private[graft] def chunkDedupSql: String =
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

  // ---- flagship ----------------------------------------------------------

  /** Flagship query on sf=0.001 (SURVEY §7 minimum slice): channels →
    * time window → 16-sample moving RMS → per-channel RMS.
    */
  def entry(spark: SparkSession): DataFrame = {
    val sig = Signal(ev(spark, "/root/testdata/sf0.001"))
    sig.between(0, 2.5e6).movRmsN(16).rms()
  }

  // ---- registry ----------------------------------------------------------

  /** The families' specs as one list; a name declared twice fails
    * here instead of one spec silently replacing the other.
    */
  private[graft] def registry(families: Seq[Seq[QuerySpec]]): Seq[QuerySpec] = {
    val all = families.flatten
    val twice = all.groupBy(_.name).collect { case (n, qs) if qs.size > 1 => n }
    require(twice.isEmpty,
      s"queries declared more than once: ${twice.toSeq.sorted.mkString(", ")}")
    all
  }

  private lazy val specs: Seq[QuerySpec] = registry(Seq(
    TpchQueries.specs, SignalQueries.specs, KernelQueries.specs, DedupQueries.specs,
    SimilarityQueries.specs, TextQueries.specs, MediaQueries.specs, StreamingQueries.specs))

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    HashMap.from(specs.map(q => q.name -> q.run))

  /** Oracle SQL by query name for the tables of `sfDir`. q_opq_recall's
    * oracle embeds the trained literals captured when it ran against
    * `sfDir` in this JVM (Verify dumps oracle SQL after running every
    * query); before that run it is absent, and that query is rows-only.
    * Keyed by dir: a JVM that runs two scales must not dump scale A's
    * oracle with scale B's literals.
    */
  def oracleSqlFor(sfDir: String): Map[String, String] =
    HashMap.from(specs.flatMap(q => q.oracleSql(sfDir).map(q.name -> _)))
}
