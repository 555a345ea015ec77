package graft
package queries

import org.apache.spark.sql.functions._

import graft.datapipe.{Dedup, Sampling}
import graft.Substrates.{dedupComponents, ideWriteFixture}
import graft.SparkEntry.{dedupComponentsSql, lshBandsChain, lshCandPrefix, persistedBandTable,
  persistedComponentsTable, persistedIncrTables, shinglesSql, tableSuffix, uniformSql}

/** Structured-streaming queries, each checked as a bounded stream
  * against batch SQL: windowed and stateful signal ops, the .ide
  * stream, sessions, stream dedup, LSH admission against the
  * persisted catalog tables, and the leak-free split router.
  * Streaming twins whose oracle is a batch query's live in that
  * query's family file.
  */
object StreamingQueries {

  val specs: Seq[QuerySpec] = Seq(
    // -- streaming (oracle-backed: bounded-stream results equal batch SQL) --
    QuerySpec("q_stream_wrms", (s, dir) => {
      import graft.streaming.StreamingOps._
      runToMemorySink(windowedRms(eventsStream(s, dir)), "stream_wrms", "complete")
        .select(unix_seconds(col("w_start")).as("w_start_s"), col("channel"),
          round(col("rms"), 6).as("rms"), col("n"))
    },
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
        |FROM w GROUP BY channel, wstart""".stripMargin),
    QuerySpec("q_stream_movrms", (s, dir) => {
      import graft.streaming.StreamingOps._
      runToMemorySink(statefulMovRms(eventsStream(s, dir)), "stream_smovrms", "append")
        .select(col("channel"), col("us"), round(col("rms"), 6).as("rms"))
    },
      """WITH s AS (
        |  SELECT event_type AS channel, epoch_us(ts) AS us, value AS v FROM events
        |)
        |SELECT channel, us,
        |       round(sqrt(avg(v * v) OVER (PARTITION BY channel ORDER BY us, v
        |                                   ROWS BETWEEN 15 PRECEDING AND CURRENT ROW)), 6) AS rms
        |FROM s""".stripMargin),
    QuerySpec("k_stream_iir", (s, dir) => {
      // continuous lowpass across micro-batches: the filter delay line
      // is the keyed state
      import graft.streaming.StreamingOps._
      val (b, a) = graft.dsp.FilterDesign.butter(2, 0.2, "lowpass")
      runToMemorySink(statefulIir(eventsStream(s, dir), b, a), "stream_iir", "append")
    }, {
      val (b, a) = graft.dsp.FilterDesign.butter(2, 0.2, "lowpass")
      OracleDsp.streamIirSql(b, a)
    }),
    QuerySpec("q_stream_ide", (s, dir) => {
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
    },
      // bounded-stream ≡ batch over the written rollover directory;
      // ch ids are the writer fixture's sorted-name numbering
      s"""WITH ${uniformSql(3600.0)},
         |names AS (SELECT DISTINCT channel FROM u),
         |ranked AS (SELECT channel,
         |                  CAST(row_number() OVER (ORDER BY channel) - 1 AS INT) AS ch
         |           FROM names),
         |agg AS (SELECT channel, count(*) AS n, round(sum(v), 6) AS sum_v
         |        FROM u GROUP BY channel)
         |SELECT r.ch, 0 AS sub, a.n, a.sum_v,
         |       0.0 AS t_min, CAST(a.n - 1 AS DOUBLE) / 1000 AS t_max
         |FROM agg a JOIN ranked r USING (channel)""".stripMargin),
    QuerySpec("q_stream_sessions", (s, dir) => {
      // streaming sessionization: native session_window state merged
      // across micro-batches; complete mode emits every closed-and-open
      // session over the bounded source
      import graft.streaming.StreamingOps._
      runToMemorySink(sessionWindows(userEventsStream(s, dir)), "stream_sessions", "complete")
        .select(col("user_id"), col("start_us"), col("n_events"),
          round(col("sum_value") + 1e-7, 4).as("sum_value"))
    },
      // -- streaming sessionization: session_window merges events
      // strictly closer than the gap, so the batch replay uses >= for
      // the boundary (vs > in q_sessionize's lag-based batch form). Both
      // window sorts carry the event_id tie-break: with duplicate
      // (user, us) rows at a boundary, the flag-1 row must sort before
      // its flag-0 duplicates in the running sum or the sum assigns the
      // old session id nondeterministically --
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
        |FROM sess GROUP BY user_id, sid""".stripMargin),
    QuerySpec("q_stream_dedup", (s, dir) => {
      // streaming exact-dedup: watermarked dropDuplicates on the
      // (channel, ts) key — the streaming analog of deduplicate()
      import graft.streaming.StreamingOps._
      val st = eventsStream(s, dir)
        .withWatermark("ts", "1 hour").dropDuplicates("channel", "ts")
        .groupBy("channel").agg(count(lit(1)).as("n_distinct"))
      runToMemorySink(st, "stream_dedup", "complete")
    },
      // streaming analogs: the bounded-stream results must equal plain
      // batch SQL over the same table
      """SELECT event_type AS channel, count(DISTINCT epoch_us(ts)) AS n_distinct
        |FROM events GROUP BY event_type""".stripMargin),
    QuerySpec("q_stream_fingerprint", (s, dir) => {
      // streaming corpus dedup: fingerprint dropDuplicates state
      // merged across micro-batches; bounded stream ≡ batch distinct
      import graft.streaming.StreamingOps._
      runToMemorySink(streamFingerprintDedup(documentsStream(s, dir)),
        "stream_fingerprint", "complete")
    },
      """SELECT source,
        |       count(DISTINCT md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')))) AS n_unique
        |FROM documents GROUP BY source""".stripMargin),
    QuerySpec("q_stream_split", (s, dir) => {
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
    },
      // routing twin: bounded stream ≡ the batch leak-free assignment
      s"""WITH comp AS MATERIALIZED ($dedupComponentsSql),
         |d AS (
         |  SELECT doc_id, coalesce(c.component, doc_id) AS rep
         |  FROM documents LEFT JOIN comp c USING (doc_id)
         |)
         |SELECT doc_id, rep,
         |       CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split
         |FROM (SELECT doc_id, rep,
         |             ('0x' || substr(md5('split1:' || CAST(rep AS VARCHAR)), 1, 13))::BIGINT % 100 AS b
         |      FROM d)""".stripMargin),
    QuerySpec("q_stream_lsh_buckets", (s, dir) => {
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
    },
      s"""WITH ${lshCandPrefix()}
         |SELECT band, bsig AS sig, count(*) AS n_members
         |FROM bands GROUP BY band, bsig HAVING count(*) > 1""".stripMargin),
    QuerySpec("q_stream_lsh_match", (s, dir) => {
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
    },
      // stream-static admission join: arriving probe docs (doc_id % 7)
      // vs the full corpus band table — bounded stream ≡ this batch join
      s"""WITH $shinglesSql,
         |$lshBandsChain
         |SELECT p.doc_id, c.doc_id AS partner, count(*) AS n_shared_bands
         |FROM bands p
         |JOIN bands c ON p.band = c.band AND p.bsig = c.bsig AND c.doc_id != p.doc_id
         |WHERE p.doc_id % 7 = 0
         |GROUP BY p.doc_id, c.doc_id""".stripMargin),
    QuerySpec("q_stream_lsh_match_capped", (s, dir) => {
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
    },
      // production form: corpus side of each bucket rank-capped at 64
      // (ordered by doc_id), matching Dedup.DefaultMaxBucket — output
      // linear in probes
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
         |GROUP BY p.doc_id, c.doc_id""".stripMargin),
    QuerySpec("q_stream_admit", (s, dir) => {
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
    },
      // streaming admission ≡ batch keep/drop restricted to the probe
      // subset: band-mates are always same-component (star cap), so
      // min-over-partner-clusters is the probe's own cluster
      streamAdmitSql),
    QuerySpec("q_stream_admit_incr", (s, dir) => {
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
    }, streamAdmitIncrSql),
    QuerySpec("q_stream_admit_persist", (s, dir) => {
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
    },
      // same decision replay — the persisted harness admits identically
      // under the fixture's single-batch delivery
      streamAdmitIncrSql)
  )

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
}
