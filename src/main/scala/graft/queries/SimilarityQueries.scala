package graft
package queries

import org.apache.spark.sql.{SparkSession, DataFrame}
import org.apache.spark.sql.functions._

import graft.datapipe.{Clustering, Similarity}
import graft.Substrates.{emb, opqFit, pqBooks, quantRanges, rpqBooks, trainedCents}
import graft.SparkEntry.PROBE_CAP

/** Similarity search over the embeddings table: brute-force, sign-LSH
  * and IVF top-k, int8/PQ/residual-PQ/OPQ recall harnesses, k-means
  * and SemDedup, and the streaming IVF probe that shares
  * q_ivf_trained's oracle.
  */
object SimilarityQueries {

  val specs: Seq[QuerySpec] = Seq(
    // -- similarity search --
    QuerySpec("q_embedding_norms", (s, dir) =>
      emb(s, dir).select(col("vec_id"),
        round(Similarity.l2norm(col("embedding").cast("array<double>")), 6).as("nrm")),
      """SELECT vec_id,
        |       round(sqrt(list_sum(list_transform(embedding::DOUBLE[], x -> x * x))), 6) AS nrm
        |FROM embeddings""".stripMargin),
    QuerySpec("q_int8_quant", (s, dir) =>
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
          size(col("codes")).cast("long").as("dims")),
      // int8 quantization replay: DuckDB trains the same per-dim
      // min/max and applies the identical (x - lo) * (254/(hi - lo))
      // floor — the division happens engine-side but IEEE doubles make
      // it the exact scale Spark folded as a literal
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
        |FROM codes GROUP BY vec_id""".stripMargin),
    QuerySpec("q_cosine_topk", (s, dir) => {
      val e = emb(s, dir)
      Similarity.bruteForceTopK(e, e.filter(probePanel), k = 10)
    }, cosineTopkSql),
    QuerySpec("q_cosine_neardups", (s, dir) => {
      val e = emb(s, dir)
      Similarity.cosineNearDups(e.filter(col("vec_id") % 10 === 0), e, 0.35)
    },
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
        |SELECT a, b, cos FROM scored WHERE cos >= 0.35""".stripMargin),
    QuerySpec("q_cosine_neardups_lsh", (s, dir) =>
      // corpus×corpus near-dups via sign-LSH buckets — the scale path
      // (same-bucket equi-join + star cap, never corpus² rows)
      Similarity.cosineNearDupsLsh(emb(s, dir), 0.35, dims = 64),
      // bucketed corpus×corpus near-dups: same md5 hyperplane buckets
      // as the ANN oracles, with the oversized-bucket star-cap replay
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
        |SELECT a, b, cos FROM scored WHERE cos >= 0.35""".stripMargin),
    QuerySpec("q_ann_topk", (s, dir) => {
      val e = emb(s, dir)
      // dims passed explicitly (the fixture embeddings are 64-dim):
      // keeps the plan fully lazy — no corpus-probe job at plan build
      Similarity.annTopK(e, e.filter(probePanel), k = 10, dims = 64)
    }, annTopkSql),
    QuerySpec("q_ivf_topk", (s, dir) => {
      // IVF-flat ANN: the coarse-quantizer complement of the sign-LSH
      // path (deterministic md5 centroids; map-side assignment)
      val e = emb(s, dir)
      Similarity.ivfTopK(e, e.filter(probePanel),
        k = 10, nlist = 16, nprobe = 4, dims = 64)
    }, ivfTopkSql),
    QuerySpec("q_stream_ann", (s, dir) => {
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
    },
      // streaming twin: the trained-IVF chain filtered to its rank-1
      // row per query (the struct-max the stream aggregates)
      s"""SELECT query_id, neighbor_id, cos FROM (
         |$ivfTrainedSql
         |) t WHERE rank = 1""".stripMargin),
    QuerySpec("q_ivf_trained", (s, dir) => {
      // IVF with k-means-TRAINED coarse quantizer: the centroids come
      // from Clustering.kmeansCentroids (k=16, 2 Lloyd rounds) instead
      // of md5 noise — the composition both operators were built for
      val e = emb(s, dir)
      val cents = trainedCents(s, dir)
      Similarity.ivfTopKWith(e, e.filter(probePanel), cents,
        k = 10, nprobe = 4, dims = 64)
    }, ivfTrainedSql),
    QuerySpec("q_ivf_list_sizes", (s, dir) => {
      // inverted-file occupancy under the trained quantizer — the
      // skew dial for nlist (the IVF analog of q_lsh_bucket_overflow)
      val e = emb(s, dir)
      val cents = trainedCents(s, dir)
      Similarity.ivfListSizes(e, cents, dims = 64)
    }, ivfListSizesSql),
    QuerySpec("q_ivf_probe_sweep", (s, dir) => {
      // the recall-vs-nprobe curve over the TRAINED quantizer: one
      // corpus join at nprobe=8, smaller settings derived by probe-
      // rank filter — the measured dial that closes the "recall
      // observability" gap for real (q_ann_recall gives one point;
      // this gives the curve a tuner walks)
      val e = emb(s, dir)
      val cents = trainedCents(s, dir)
      Similarity.ivfProbeSweep(e, e.filter(probePanel), cents,
        k = 10, nprobes = Seq(1, 2, 4, 8), dims = 64)
    }, ivfProbeSweepSql),
    QuerySpec("q_ann_plane_sweep", (s, dir) => {
      // recall-vs-plane-count curve for sign-LSH: one 8-plane bucket
      // assignment, every coarser setting is a bit-prefix of it —
      // the nPlanes analog of q_ivf_probe_sweep
      val e = emb(s, dir)
      Similarity.annPlaneSweep(e, e.filter(probePanel),
        k = 10, nPlanes = 8, bitsList = Seq(4, 6, 8), dims = 64)
    }, annPlaneSweepSql),
    QuerySpec("q_ann_recall", (s, dir) => {
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
    }, annRecallSql),
    QuerySpec("q_ann_int8_recall", (s, dir) => {
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
    }, annInt8RecallSql),
    QuerySpec("q_pq_codes", (s, dir) =>
      // product quantization encode: PQ_M=8 sub-space codebooks
      // (k=16, trained once via the memoized fit), each vector stored
      // as 8 4-bit codes — 4 B/vector vs 256 B float32, a 64x index
      // shrink. Pure map-side argmin over plan-literal codebooks
      Similarity.pqEncode(emb(s, dir), pqBooks(s, dir)), pqCodesSql),
    QuerySpec("q_pq_recall", (s, dir) => {
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
    }, pqRecallSql),
    QuerySpec("q_pq_residual_recall", (s, dir) => {
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
    }, residualPqRecallSql),
    QuerySpec.captured("q_opq_recall", (s, dir) => {
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
    })(dir => opqCapture.get(dir).map { case (cents, rot, books) =>
      opqRecallSql(cents, rot, books)
    }),
    QuerySpec("q_kmeans", (s, dir) =>
      // deterministic Lloyd's over the embedding table (md5 seeds,
      // per-iteration centroid rounding = exact cross-engine replay)
      Clustering.kmeans(emb(s, dir), k = 8, iters = 3, dims = 64), kmeansSql),
    QuerySpec("q_semdedup", (s, dir) =>
      // SemDedup (arXiv:2303.09540): cluster-then-prune semantic
      // dedup — map-side kmeans assignment, one cluster-key pair
      // join, keep the far-from-centroid representative
      Clustering.semDedup(emb(s, dir), k = 8, iters = 2, tau = 0.3, dims = 64), semDedupSql)
  )

  private def probePanel = col("vec_id") % 25 === 0 && col("vec_id") < PROBE_CAP

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
