package graft
package queries

import org.apache.spark.sql.{SparkSession, DataFrame}
import org.apache.spark.sql.functions._

import graft.datapipe.{Dedup, Multimodal}
import graft.Substrates.{dedupComponents, docs, pngs}
import graft.SparkEntry.dedupComponentsSql

/** Media queries: perceptual hashes over synthetic payloads, decoded
  * PNG and AVI corpora, resize plans, media near-dups with their
  * streaming twin, and the cross-modal pair dedup.
  */
object MediaQueries {

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q_pair_dedup", (s, dir) => {
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
    }, pairDedupSql),
    QuerySpec("q_media_phash", (s, dir) =>
      // average-hash (aHash) perceptual fingerprint over the decoded
      // byte stream — the image near-dup signature, with the stub
      // decode being the identity on bytes
      Multimodal.perceptualHash(Multimodal.syntheticMedia(docs(s, dir))), mediaPhashSql),
    QuerySpec("q_media_pixel_phash", (s, dir) =>
      // REAL image pipeline (r9): a corpus of actual PNG bytes encoded
      // from a deterministic luma pattern, decoded back through
      // javax.imageio in a partition-batched kernel, aHash computed
      // over the DECODED pixels (13x4 cell grid, exact integer
      // compares). PNG is lossless, so the oracle replays the pattern
      // math while Spark runs the real codec roundtrip. Ids = 9 mod 10
      // are brightness-shifted re-encodes of id-1: different PNG byte
      // stream, IDENTICAL pixel aHash (asserted in Round9Spec, where
      // the byte-level hash provably misses the pair)
      Multimodal.pixelPhash(pngs(s, dir)), mediaPixelPhashSql),
    QuerySpec("q_media_resize_pixels", (s, dir) =>
      // the EXECUTED downsample (complement of q_media_resize's
      // planning step): real PNG decode → integer-area resize to 13×8
      // → digest; all-integer floor-mean cells so the lossless
      // fixture replays in SQL
      Multimodal.resizeImages(pngs(s, dir)), mediaResizePixelsSql),
    QuerySpec("q_media_video", (s, dir) =>
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
      Multimodal.videoFrameHashes(Multimodal.syntheticAvis(docs(s, dir))), mediaVideoSql),
    QuerySpec("q_media_neardups", (s, dir) => {
      // media near-dup detection: perceptual hashes through the SAME
      // banded-hamming machinery as SimHash (the near-dup tail is
      // signature-agnostic) — exact duplicate payloads land identical
      // phashes, so the fixture's duplicate docs make the counts bind
      val ph = Multimodal.perceptualHash(Multimodal.syntheticMedia(docs(s, dir)))
        .select(col("media_id").as("doc_id"), col("phash").as("simhash"))
      Dedup.hammingNearDups(ph, docs(s, dir).select(col("doc_id")),
          maxHamming = 6)
        .select(col("doc_id").as("media_id"), col("n_cand"), col("n_dup"))
    }, mediaNearDupsSql),
    QuerySpec("q_multimodal_features", (s, dir) => {
      // flatten the feature vector (the comparator can't sort ndarray
      // cells); every value — header metadata and byte-histogram — is
      // integer-derived, so the decode output is oracle-exact
      val f = Multimodal.extractFeatures(Multimodal.syntheticMedia(docs(s, dir)))
      val scalars = Seq("media_id", "kind", "n_bytes", "width", "height", "n_frames").map(col)
      val feats = (0 until 8).map(i => element_at(col("features"), i + 1).as(s"f$i"))
      f.select(scalars ++ feats: _*)
    }, multimodalSql),
    QuerySpec("q_frame_sample", (s, dir) =>
      // deterministic frame-sampling plan over the decoded video rows
      Multimodal.sampleFrames(
        Multimodal.extractFeatures(Multimodal.syntheticMedia(docs(s, dir))), everyK = 5),
      """SELECT doc_id AS media_id,
        |       unnest(generate_series(0, nf - 1, 5)) AS frame_idx
        |FROM (
        |  SELECT doc_id, 1 + CAST(octet_length(encode(text)) AS INT) % 30 AS nf
        |  FROM documents WHERE doc_id % 3 = 2
        |)""".stripMargin),
    QuerySpec("q_media_resize", (s, dir) =>
      // aspect-preserving resize planning (cap at 100px so the
      // 64..127 stub dimensions actually exercise the scale branch)
      Multimodal.resizePlan(
        Multimodal.extractFeatures(Multimodal.syntheticMedia(docs(s, dir))), maxDim = 100),
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
        |FROM m WHERE kind != 'audio'""".stripMargin),
    QuerySpec("q_stream_phash", (s, dir) => {
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
    },
      // admission twin: bounded stream ≡ batch on the hashable universe
      mediaNearDupsStreamSql)
  )

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
}
