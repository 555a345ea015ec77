package graft.datapipe

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (Array[Float]).
  *
  * Brute-force cosine is the exact baseline: broadcast the (small)
  * query set, crossJoin, and reduce each pair with
  * zip_with + aggregate — a single codegen'd stage, no UDFs, no
  * shuffle beyond the broadcast. The scale path is sign-LSH
  * bucketing: deterministic md5-derived hyperplanes hash each vector
  * to a bucket key, and search becomes an equi-join on buckets —
  * at 100 TB the candidate set per query is bucket-sized, not
  * corpus-sized.
  */
object Similarity {

  /** Dot product of two array<double> columns, left-to-right
    * accumulation (deterministic, oracle-matching).
    */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  def l2norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine over raw array<float> columns via the codegen'd FloatDot
    * expression (bit-identical to the cast-to-double formulation, one
    * fused loop instead of three materialized arrays per pair).
    */
  def cosine(a: Column, b: Column): Column = {
    import graft.functions.FloatDot.floatDot
    floatDot(a, b) / (sqrt(floatDot(a, a)) * sqrt(floatDot(b, b)))
  }

  /** A vector's L2 norm over the raw float array — projected ONCE per
    * side before any pair join, so the per-pair work inside every
    * candidate loop is a single FloatDot + one divide instead of
    * three FloatDots (CSE cannot lift the self-dots across rows: each
    * pair row re-evaluated floatDot(a,a) and floatDot(b,b) on the
    * joined copies). Bit-identical to the inline form: sqrt(dot(a,a))
    * * sqrt(dot(b,b)) is the same operation sequence either way.
    */
  private def normFloat(e: Column): Column = {
    import graft.functions.FloatDot.floatDot
    sqrt(floatDot(e, e))
  }

  /** Cosine from precomputed per-side norms (see `normFloat`). */
  private def cosineN(a: Column, b: Column, na: Column, nb: Column): Column = {
    import graft.functions.FloatDot.floatDot
    floatDot(a, b) / (na * nb)
  }

  private def emb(c: Column): Column = c

  /** Exact top-k neighbors for each query vector by brute force.
    * Ranking uses (round(cos, 6) desc, vec_id asc) so the selected row
    * set is stable under last-bit float divergence.
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int = 10): DataFrame = {
    val q = queries.select(col("vec_id").as("query_id"), emb(col("embedding")).as("qe"),
      normFloat(emb(col("embedding"))).as("qn"))
    val c = corpus.select(col("vec_id").as("neighbor_id"), emb(col("embedding")).as("ce"),
      normFloat(emb(col("embedding"))).as("cn"))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosineN(col("qe"), col("ce"), col("qn"), col("cn")).as("cos"))
    val w = Window.partitionBy("query_id").orderBy(round(col("cos"), 6).desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"), round(col("cos"), 6).as("cos"))
  }

  /** Deterministic pseudo-random component for key "prefix:j:d":
    * md5-derived value in [-0.5, 0.5), the single source of truth for
    * every driver-side plane/centroid/seed derivation. Same bit
    * pattern as the SQL `hash52('prefix:j:d') / 2^52 - 0.5` the
    * oracles re-derive.
    */
  def hashComponent(prefix: String, j: Int, d: Int): Double = {
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$prefix:$j:$d".getBytes("UTF-8"))
    val hex = digest.map(b => f"$b%02x").mkString.substring(0, 13)
    java.lang.Long.parseLong(hex, 16) / 4503599627370496.0 - 0.5
  }

  /** Hyperplane component for (plane j, dim d). */
  def planeComponent(j: Int, d: Int): Double = hashComponent("plane", j, d)

  /** Sign-LSH bucket key from `nPlanes` deterministic hyperplanes:
    * bucket = sum_j 2^j * (v . plane_j > 0). The planes are
    * md5-derived, so they are computed ONCE on the driver and folded
    * into the plan as array literals — bucket assignment is a pure
    * map-side expression over each vector (no explode, no shuffle;
    * the previous formulation shuffled a (vec, dim, plane) grid of
    * dims*planes rows per vector). Dot products reduce left-to-right
    * (deterministic, oracle-matching).
    */
  def lshBuckets(vectors: DataFrame, nPlanes: Int = 8, dims: Int = -1): DataFrame = {
    // dims < 0: probe the first row (convenient for batch; pass dims
    // explicitly to keep the call lazy / usable on streams)
    val d0 =
      if (dims >= 0) dims
      else {
        val firstRow = vectors.select(size(emb(col("embedding")))).head(1)
        if (firstRow.isEmpty) return vectors.select(col("vec_id"), lit(0L).as("bucket"))
        firstRow(0).getInt(0)
      }
    vectors.select(col("vec_id"), bucketExpr(nPlanes, d0).as("bucket"))
  }

  /** The sign-LSH bucket as a COLUMN over the row's own embedding —
    * the projection form `annTopK`/`annPlaneSweep` use so the corpus
    * is never self-joined back to its bucket table (a vec_id join of
    * two derivations of the same scan shuffles the corpus at scale;
    * the bucket is a pure per-row function, so it rides the scan's
    * projection with zero shuffle).
    */
  private def bucketExpr(nPlanes: Int, d0: Int): Column = {
    import org.apache.spark.sql.functions.typedLit
    val bucket = (0 until nPlanes).map { j =>
      val plane = typedLit((0 until d0).map(d => planeComponent(j, d)).toArray)
      val dp = aggregate(zip_with(emb(col("embedding")), plane, (x, p) => x * p),
        lit(0.0), (acc, x) => acc + x)
      when(dp > 0, lit(math.pow(2.0, j))).otherwise(lit(0.0))
    }.reduce(_ + _).cast("long")
    // ragged inputs would null-pad the zip and silently zero every
    // plane bit — fail loudly instead
    when(size(emb(col("embedding"))) === d0, bucket)
      .otherwise(raise_error(concat(lit(s"lshBuckets: embedding dims != $d0 for vec_id="),
        col("vec_id"))).cast("long"))
  }

  /** Approximate top-k: candidates restricted to the query's LSH
    * bucket, then exact cosine rank within the bucket.
    *
    * Pass `dims` explicitly to keep the call fully lazy (no job until
    * the query's own action) — the right form at scale and on
    * streams. With the default `dims = -1`, the corpus is probed for
    * one row at plan-build time (convenience for interactive use);
    * when that probe finds an empty corpus, the result is an empty
    * DataFrame with the output schema (every query has zero
    * bucket-mates), not an error.
    */
  def annTopK(corpus: DataFrame, queries: DataFrame, k: Int = 10, nPlanes: Int = 8,
              dims: Int = -1): DataFrame = {
    // bucket each side by its OWN embedding (the hash is a pure
    // function of the vector) — joining queries against corpus
    // buckets would silently drop query ids absent from the corpus;
    // a single dims value keeps both sides on the same hyperplanes.
    val d0 =
      if (dims >= 0) dims
      else {
        val firstRow = corpus.select(size(emb(col("embedding")))).head(1)
        if (firstRow.isEmpty)
          return queries.limit(0).select(col("vec_id").as("query_id"),
            col("vec_id").as("neighbor_id"), lit(1).as("rank"), lit(0.0).as("cos"))
        firstRow(0).getInt(0)
      }
    val c = corpus.select(col("vec_id").as("neighbor_id"), emb(col("embedding")).as("ce"),
      normFloat(emb(col("embedding"))).as("cn"), bucketExpr(nPlanes, d0).as("bucket"))
    val q = queries.select(col("vec_id").as("query_id"), emb(col("embedding")).as("qe"),
      normFloat(emb(col("embedding"))).as("qn"), bucketExpr(nPlanes, d0).as("bucket"))
    val scored = c.join(broadcast(q), "bucket")
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosineN(col("qe"), col("ce"), col("qn"), col("cn")).as("cos"))
    val w = Window.partitionBy("query_id").orderBy(round(col("cos"), 6).desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"), round(col("cos"), 6).as("cos"))
  }

  /** Deterministic pseudo-random centroid component for (list j,
    * dim d) — the IVF analog of `planeComponent`.
    */
  def centroidComponent(j: Int, d: Int): Double = hashComponent("ivf", j, d)

  def centroid(j: Int, dims: Int): Array[Double] =
    Array.tabulate(dims)(d => centroidComponent(j, d))

  /** Per-vector centroid scores as an array of (s, list) structs —
    * all centroids folded into the plan as literals, dot products and
    * the 1/|c_j| normalization computed map-side. Scores
    * order-compare as (cos-to-centroid, list id). The norm is a
    * driver-side left-to-right sum over the literal components, so an
    * oracle re-deriving it from the same values is bit-identical.
    */
  private def ivfScoresFor(cents: Array[Array[Double]],
                           v: Column = emb(col("embedding"))): Column =
    array(cents.zipWithIndex.map { case (c, j) =>
      val lit_c = typedLit(c)
      val normC = math.sqrt(c.map(x => x * x).sum)
      val dp = aggregate(zip_with(v, lit_c, (x, p) => x * p),
        lit(0.0), (acc, x) => acc + x)
      struct((dp / lit(normC)).as("s"), lit(j).as("list"))
    }: _*)

  /** IVF (inverted-file) ANN: every corpus vector is assigned to its
    * best-cosine centroid out of `nlist` deterministic md5-derived
    * centroids — a pure map-side argmax over plan literals (the
    * inverted file IS the list id column; no shuffle to build it).
    * Each query probes its `nprobe` best lists, and exact cosine runs
    * only inside probed lists: at scale the search is one equi-join
    * on list id with per-query work bounded by the probed lists'
    * sizes, the classic IVF-flat trade (nprobe/nlist recall dial).
    *
    * Ties on centroid score break toward the LARGER list id (both
    * sides use descending (s, list) order) — deterministic and
    * engine-reproducible.
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int = 10, nlist: Int = 16,
              nprobe: Int = 4, dims: Int = -1): DataFrame = {
    require(nprobe >= 1 && nprobe <= nlist, "nprobe must be in [1, nlist]")
    val d0 =
      if (dims >= 0) dims
      else {
        val firstRow = corpus.select(size(emb(col("embedding")))).head(1)
        if (firstRow.isEmpty)
          return queries.limit(0).select(col("vec_id").as("query_id"),
            col("vec_id").as("neighbor_id"), lit(1).as("rank"), lit(0.0).as("cos"))
        firstRow(0).getInt(0)
      }
    ivfSearch(corpus, queries, Array.tabulate(nlist)(centroid(_, d0)), k, nprobe, d0)
  }

  /** IVF-flat search against EXTERNALLY TRAINED centroids — typically
    * `Clustering.kmeansCentroids` output, closing the loop the
    * md5-random default leaves open (random centroids give the
    * nprobe/nlist dial no recall guarantees; trained ones quantize
    * the actual data distribution). Centroids ride into the plan as
    * literals exactly like the default path, so the composition
    * stays fully deterministic and oracle-replayable.
    */
  def ivfTopKWith(corpus: DataFrame, queries: DataFrame,
                  centroids: Array[Array[Double]], k: Int = 10,
                  nprobe: Int = 4, dims: Int = -1): DataFrame = {
    require(centroids.nonEmpty, "centroids must be non-empty")
    require(nprobe >= 1 && nprobe <= centroids.length, "nprobe must be in [1, nlist]")
    val d0 = if (dims >= 0) dims else centroids.head.length
    require(centroids.forall(_.length == d0), s"centroid dims must all be $d0")
    ivfSearch(corpus, queries, centroids, k, nprobe, d0)
  }

  /** Inverted-file occupancy under the given centroids: how many
    * corpus vectors land in each list. The skew dial for nlist/
    * training quality — a degenerate quantizer shows up here as a few
    * overfull lists (the IVF analog of `Dedup.lshBucketStats`). Pure
    * map-side argmax + one count aggregate.
    */
  def ivfListSizes(corpus: DataFrame, centroids: Array[Array[Double]],
                   dims: Int = -1): DataFrame = {
    val d0 = if (dims >= 0) dims else centroids.head.length
    require(centroids.forall(_.length == d0), s"centroid dims must all be $d0")
    val scores = ivfScoresFor(centroids)
    val best = when(size(emb(col("embedding"))) === d0,
        element_at(reverse(array_sort(scores)), 1).getField("list"))
      .otherwise(raise_error(concat(
        lit(s"ivfListSizes: embedding dims != $d0 for vec_id="), col("vec_id"))).cast("int"))
    corpus.select(best.as("list"))
      .groupBy("list").agg(count(lit(1)).as("n_vectors"))
  }

  private def ivfSearch(corpus: DataFrame, queries: DataFrame,
                        centroids: Array[Array[Double]], k: Int,
                        nprobe: Int, d0: Int): DataFrame = {
    val scored = ivfCandidates(corpus, queries, centroids, nprobe, d0)
    val w = Window.partitionBy("query_id").orderBy(round(col("cos"), 6).desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"), round(col("cos"), 6).as("cos"))
  }

  /** Scored IVF candidates with their PROBE RANK: (query_id,
    * neighbor_id, cos, pr) where pr = the 1-based rank of the probed
    * list the neighbor was found in. Each corpus vector lives in
    * exactly one list (argmax assignment), so a (query, neighbor)
    * pair appears at most once and pr is well-defined — which is what
    * lets `ivfProbeSweep` derive every smaller-nprobe result set from
    * ONE join at the largest setting.
    */
  private def ivfCandidates(corpus: DataFrame, queries: DataFrame,
                            centroids: Array[Array[Double]],
                            maxNprobe: Int, d0: Int): DataFrame = {
    val scores = ivfScoresFor(centroids)
    // ragged inputs null-pad the zip_with and silently zero scores —
    // fail loudly instead (same contract as lshBuckets)
    def guard(c: Column): Column =
      when(size(emb(col("embedding"))) === d0, c)
        .otherwise(raise_error(concat(
          lit(s"ivfTopK: embedding dims != $d0 for vec_id="), col("vec_id"))).cast("int"))
    val best = guard(element_at(reverse(array_sort(scores)), 1).getField("list"))
    val c = corpus.select(col("vec_id").as("neighbor_id"),
      emb(col("embedding")).as("ce"), normFloat(emb(col("embedding"))).as("cn"),
      best.as("list"))
    val q = queries.select(col("vec_id").as("query_id"), emb(col("embedding")).as("qe"),
        normFloat(emb(col("embedding"))).as("qn"),
        posexplode(slice(reverse(array_sort(scores)), 1, maxNprobe)))
      // same ragged-dims contract on the query side (scores are NULL
      // for a wrong-length embedding, which would silently pick probe
      // lists by list id alone)
      .select(col("query_id"), col("qe"), col("qn"), (col("pos") + 1).cast("int").as("pr"),
        when(size(col("qe")) === d0, col("col.list"))
          .otherwise(raise_error(concat(
            lit(s"ivfTopK: embedding dims != $d0 for vec_id="),
            col("query_id"))).cast("int")).as("list"))
    c.join(broadcast(q), "list")
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosineN(col("qe"), col("ce"), col("qn"), col("cn")).as("cos"),
        col("pr"))
  }

  /** Streaming ANN admission probe: each ARRIVING query vector is
    * assigned its nprobe IVF lists map-side (centroids are plan
    * literals — the trained model is a batch artifact the stream
    * consumes, like the BPE merges in the token-metering stream) and
    * stream-static joined against the statically bucketed corpus;
    * the grouped max picks the rank-1 match. Ordering matches the
    * batch `ivfSearch` tie-break exactly — struct-max on
    * (round(cos, 6) desc, neighbor_id asc) — so the bounded stream
    * equals the batch top-1 row for row.
    *
    * Scale shape: no stream-stream join, no watermark state beyond
    * the final per-query aggregate; the static side is the bucketed
    * corpus (persist it for a long-lived admission service) and only
    * the arriving micro-batch fans out ×nprobe.
    */
  def streamIvfBest(corpus: DataFrame, queryStream: DataFrame,
                    centroids: Array[Array[Double]], nprobe: Int = 4,
                    dims: Int = -1): DataFrame = {
    require(centroids.nonEmpty, "centroids must be non-empty")
    require(nprobe >= 1 && nprobe <= centroids.length, "nprobe must be in [1, nlist]")
    val d0 = if (dims >= 0) dims else centroids.head.length
    require(centroids.forall(_.length == d0), s"centroid dims must all be $d0")
    val scores = ivfScoresFor(centroids)
    val best = when(size(emb(col("embedding"))) === d0,
        element_at(reverse(array_sort(scores)), 1).getField("list"))
      .otherwise(raise_error(concat(
        lit(s"streamIvfBest: embedding dims != $d0 for vec_id="), col("vec_id"))).cast("int"))
    val c = corpus.select(col("vec_id").as("neighbor_id"),
      emb(col("embedding")).as("ce"), normFloat(emb(col("embedding"))).as("cn"),
      best.as("list"))
    val q = queryStream.select(col("vec_id").as("query_id"),
        emb(col("embedding")).as("qe"), normFloat(emb(col("embedding"))).as("qn"),
        explode(slice(reverse(array_sort(scores)), 1, nprobe)).as("probe"))
      .select(col("query_id"), col("qe"), col("qn"),
        when(size(col("qe")) === d0, col("probe.list"))
          .otherwise(raise_error(concat(
            lit(s"streamIvfBest: embedding dims != $d0 for vec_id="),
            col("query_id"))).cast("int")).as("list"))
    q.join(c, Seq("list"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(cosineN(col("qe"), col("ce"), col("qn"), col("cn")), 6).as("cos"))
      .groupBy("query_id")
      .agg(max(struct(col("cos"), (-col("neighbor_id")).as("neg_id"))).as("m"))
      .select(col("query_id"), (-col("m.neg_id")).as("neighbor_id"), col("m.cos").as("cos"))
  }

  /** Recall@k per nprobe setting vs the exact brute-force truth — the
    * tuning dial that turns the nlist/nprobe knobs into measured
    * numbers. ONE corpus join at the LARGEST nprobe: every smaller
    * setting's candidate set is `pr <= nprobe`, a filter over the
    * same rows, so the whole sweep costs one IVF search plus the
    * brute-force ground truth (which a tuning run needs anyway) — not
    * |nprobes| separate scans. Recall is aggregated as exact long
    * counts and divided once, so no float-summation order enters the
    * result.
    */
  def ivfProbeSweep(corpus: DataFrame, queries: DataFrame,
                    centroids: Array[Array[Double]], k: Int = 10,
                    nprobes: Seq[Int] = Seq(1, 2, 4, 8), dims: Int = -1): DataFrame = {
    require(nprobes.nonEmpty && nprobes.forall(p => p >= 1 && p <= centroids.length),
      "every nprobe must be in [1, nlist]")
    val d0 = if (dims >= 0) dims else centroids.head.length
    require(centroids.forall(_.length == d0), s"centroid dims must all be $d0")
    val spark = corpus.sparkSession
    import spark.implicits._
    val np = nprobes.toDF("nprobe")
    val cand = ivfCandidates(corpus, queries, centroids, nprobes.max, d0)
    val fanned = cand.join(broadcast(np), col("pr") <= col("nprobe"))
    val w = Window.partitionBy("nprobe", "query_id")
      .orderBy(round(col("cos"), 6).desc, col("neighbor_id").asc)
    val topk = fanned.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select(col("nprobe"), col("query_id"), col("neighbor_id"), lit(1).as("hit"))
    val truth = bruteForceTopK(corpus, queries, k).select(col("query_id"), col("neighbor_id"))
    recallByKey(topk, truth, np, "nprobe")
  }

  /** Shared recall tail for the sweep operators: fan the truth set
    * across the swept settings, left-join the approximate top-k hits,
    * and aggregate exact long counts with ONE division at the end.
    */
  private def recallByKey(topk: DataFrame, truth: DataFrame,
                          keys: DataFrame, keyName: String): DataFrame =
    truth.crossJoin(broadcast(keys))
      .join(topk, Seq(keyName, "query_id", "neighbor_id"), "left")
      .groupBy(keyName)
      .agg(countDistinct("query_id").as("n_queries"),
        count(lit(1)).as("n_true"),
        sum(coalesce(col("hit"), lit(0))).cast("long").as("n_hits"))
      .select(col(keyName), col("n_queries"), col("n_true"), col("n_hits"),
        round(col("n_hits") / col("n_true"), 6).as("recall"))

  /** Recall@k per PLANE COUNT for sign-LSH ANN — the nPlanes tuning
    * dial, and the mirror of `ivfProbeSweep`. The bucket table is
    * computed ONCE at the full `nPlanes` resolution; a b-plane
    * bucketing is its leading-bit prefix `bucket >> (nPlanes - b)`
    * (any subset of hyperplanes is a valid sign-LSH, and the top b
    * bits ARE the bucketing by planes b..nPlanes-1), so every sweep
    * point reuses one assignment. Prefix refinement makes candidate
    * sets nested — fewer bits = coarser buckets = more candidates =
    * recall monotonically non-increasing in b, the curve a tuner
    * walks against the bucket-size cost. The per-setting keys ride a
    * map-side explode (|bitsList| rows per vector, no extra shuffle);
    * queries broadcast as in `annTopK`.
    */
  def annPlaneSweep(corpus: DataFrame, queries: DataFrame, k: Int = 10,
                    nPlanes: Int = 8, bitsList: Seq[Int] = Seq(4, 6, 8),
                    dims: Int = -1): DataFrame = {
    require(bitsList.nonEmpty && bitsList.forall(b => b >= 1 && b <= nPlanes),
      "every bits value must be in [1, nPlanes]")
    val d0 =
      if (dims >= 0) dims
      else {
        val firstRow = corpus.select(size(emb(col("embedding")))).head(1)
        require(firstRow.nonEmpty, "annPlaneSweep: empty corpus — pass dims explicitly")
        firstRow(0).getInt(0)
      }
    val spark = corpus.sparkSession
    import spark.implicits._
    // bucket rides the scan's projection (no self-join back to a
    // bucket table); the per-setting prefixes explode map-side from
    // the MATERIALIZED bucket column, so the plane dot products run
    // once per row, not once per sweep setting
    def withPrefs(side: DataFrame, idAs: String, embAs: String, nrmAs: String) = side
      .select(col("vec_id").as(idAs), emb(col("embedding")).as(embAs),
        normFloat(emb(col("embedding"))).as(nrmAs),
        bucketExpr(nPlanes, d0).as("bucket"))
      .select(col(idAs), col(embAs), col(nrmAs), explode(array(bitsList.map(b =>
        struct(lit(b).as("nbits"),
          shiftright(col("bucket"), nPlanes - b).as("pref"))): _*)).as("e"))
      .select(col(idAs), col(embAs), col(nrmAs),
        col("e.nbits").as("nbits"), col("e.pref").as("pref"))
    val c = withPrefs(corpus, "neighbor_id", "ce", "cn")
    val q = withPrefs(queries, "query_id", "qe", "qn")
    val scored = c.join(broadcast(q), Seq("nbits", "pref"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("nbits"), col("query_id"), col("neighbor_id"),
        cosineN(col("qe"), col("ce"), col("qn"), col("cn")).as("cos"))
    val w = Window.partitionBy("nbits", "query_id")
      .orderBy(round(col("cos"), 6).desc, col("neighbor_id").asc)
    val topk = scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select(col("nbits"), col("query_id"), col("neighbor_id"), lit(1).as("hit"))
    val truth = bruteForceTopK(corpus, queries, k).select(col("query_id"), col("neighbor_id"))
    recallByKey(topk, truth, bitsList.toDF("nbits"), "nbits")
  }

  /** Embedding-cosine near-duplicate pairs above a threshold (brute
    * force all-pairs; the LSH bucket join is the scale path). No
    * broadcast hint — the planner picks the join strategy for a
    * corpus-sized self-join.
    */
  def cosineNearDups(vectors: DataFrame, threshold: Double): DataFrame = {
    val a = vectors.select(col("vec_id").as("a"), emb(col("embedding")).as("ea"),
      normFloat(emb(col("embedding"))).as("na"))
    val b = vectors.select(col("vec_id").as("b"), emb(col("embedding")).as("eb"),
      normFloat(emb(col("embedding"))).as("nb"))
    a.crossJoin(b).filter(col("a") < col("b"))
      .select(col("a"), col("b"),
        round(cosineN(col("ea"), col("eb"), col("na"), col("nb")), 6).as("cos"))
      .filter(col("cos") >= threshold)
  }

  /** Corpus×corpus embedding near-dups via sign-LSH buckets — the
    * SCALE path the all-pairs overload above can't be (corpus² rows
    * by construction). Candidates are restricted to same-bucket
    * pairs: the bucket rides the scan projection (zero extra
    * shuffle), the pair join is a plain (bucket) equi-join, and
    * oversized buckets — an embedding-dense cluster is the vector
    * analog of a boilerplate LSH bucket — switch to
    * representative-vs-rest star pairing via the shared
    * `Dedup.bandedPairs` cap, so no single join key can emit m²
    * rows. Recall vs the exact form trades with nPlanes exactly as
    * `annPlaneSweep` measures.
    */
  def cosineNearDupsLsh(vectors: DataFrame, threshold: Double, nPlanes: Int = 8,
                        maxBucket: Int = 256, dims: Int = -1): DataFrame = {
    val d0 =
      if (dims >= 0) dims
      else {
        val firstRow = vectors.select(size(emb(col("embedding")))).head(1)
        require(firstRow.nonEmpty, "cosineNearDupsLsh: empty corpus — pass dims explicitly")
        firstRow(0).getInt(0)
      }
    val banded = vectors.select(col("vec_id").as("doc_id"),
      bucketExpr(nPlanes, d0).as("bucket"), col("embedding"),
      normFloat(emb(col("embedding"))).as("nrm"))
    Dedup.bandedPairs(banded, Seq("bucket"), maxBucket, Seq("embedding", "nrm"))
      .select(col("a"), col("b"),
        round(cosineN(emb(col("embedding_a")), emb(col("embedding_b")),
          col("nrm_a"), col("nrm_b")), 6).as("cos"))
      .filter(col("cos") >= threshold)
  }

  /** Two-sided form: a (small, broadcast) probe set against the
    * corpus — the corpus streams, the probes ride along. Pairs are
    * deduped with a < b; cos is rounded to 6 decimals so the
    * threshold cut selects the same rows in any engine.
    */
  def cosineNearDups(probes: DataFrame, corpus: DataFrame, threshold: Double): DataFrame = {
    val a = probes.select(col("vec_id").as("a"), emb(col("embedding")).as("ea"),
      normFloat(emb(col("embedding"))).as("na"))
    val b = corpus.select(col("vec_id").as("b"), emb(col("embedding")).as("eb"),
      normFloat(emb(col("embedding"))).as("nb"))
    b.crossJoin(broadcast(a)).filter(col("a") < col("b"))
      .select(col("a"), col("b"),
        round(cosineN(col("ea"), col("eb"), col("na"), col("nb")), 6).as("cos"))
      .filter(col("cos") >= threshold)
  }

  /** Per-dimension (min, max) over the embedding table — the trained
    * parameters of scalar int8 quantization, 2·dims doubles back to
    * the driver (the k-means-centroid pattern), folded into
    * downstream plans as literals.
    *
    * Aggregation is CHUNKED at 256 dims per pass: production
    * embedding widths (768–4096) would otherwise put 1.5k–8k
    * aggregate expressions in one plan — codegen-fallback and
    * planner-blowup territory. Each pass is one partial-aggregated
    * scan; a 4096-dim table costs 16 scans ONCE at train time.
    * Non-finite trained ranges fail loudly here: folding a NaN into a
    * plan literal would render as an unparseable "NaND", and an
    * infinite range quantizes everything to one code.
    */
  def dimRanges(vectors: DataFrame, dims: Int): Array[(Double, Double)] = {
    (0 until dims).grouped(256).flatMap { ds =>
      val aggs = ds.flatMap(d => Seq(
        min(col("embedding").getItem(d).cast("double")).as(s"lo$d"),
        max(col("embedding").getItem(d).cast("double")).as(s"hi$d")))
      val r = vectors.agg(aggs.head, aggs.tail: _*).collect()(0)
      ds.zipWithIndex.map { case (d, i) =>
        val (lo, hi) = (r.getDouble(2 * i), r.getDouble(2 * i + 1))
        require(java.lang.Double.isFinite(lo) && java.lang.Double.isFinite(hi),
          s"dimRanges: non-finite range [$lo, $hi] at dim $d — clean the embedding table first")
        (lo, hi)
      }
    }.toArray
  }

  /** Scalar int8 quantization of the embedding column: per dimension
    * d, code = least(254, floor((x - lo_d) * 254/(hi_d - lo_d))) - 127
    * ∈ [-127, 127] — the 4x storage shrink (float32 → int8) every
    * large ANN deployment applies before sharding an index, as a
    * map-side expression. The trained (lo, scale) pairs ride the plan
    * as ARRAY LITERALS (nothing recomputed per row, nothing joined
    * in); `floor` — not `round` — is the quantizer so the bucket edge
    * behavior is engine-exact (half-up vs half-even can never
    * disagree). A constant dimension (hi == lo) quantizes to -127.
    */
  def quantizeInt8(vectors: DataFrame, ranges: Array[(Double, Double)]): DataFrame = {
    // Double.toString round-trips bit-exactly, so the folded literals
    // are the aggregation's exact values. dimRanges guarantees finite
    // ranges; re-assert here for externally supplied ones (a NaN
    // renders as the unparseable literal "NaND").
    require(ranges.forall { case (lo, hi) =>
      java.lang.Double.isFinite(lo) && java.lang.Double.isFinite(hi) },
      "quantizeInt8: ranges must be finite")
    val lows = lowsLit(ranges)
    val scales = scalesLit(ranges)
    // greatest(0, ...) clamps inputs BELOW the trained lo — a no-op
    // when ranges were trained on this table, load-bearing when a
    // fresh corpus is encoded against a previously trained quantizer
    vectors.select(col("vec_id"), expr(
      s"""transform(sequence(0, ${ranges.length - 1}), d ->
         |  CAST(least(254, greatest(0, floor((CAST(embedding[d] AS DOUBLE) - $lows[d])
         |       * $scales[d]))) - 127 AS INT))""".stripMargin).as("codes"))
  }

  private def lowsLit(ranges: Array[(Double, Double)]): String =
    ranges.map(_._1).mkString("array(", "D, ", "D)")

  /** scale_d = 254/(hi_d - lo_d); 0 marks a constant dimension. */
  private def scalesLit(ranges: Array[(Double, Double)]): String =
    ranges.map { case (lo, hi) => if (hi > lo) 254.0 / (hi - lo) else 0.0 }
      .mkString("array(", "D, ", "D)")

  private def scalesOf(ranges: Array[(Double, Double)]): Array[Double] =
    ranges.map { case (lo, hi) => if (hi > lo) 254.0 / (hi - lo) else 0.0 }

  /** Midpoint decode of an int8 `codes` array back to the quantizer's
    * reconstruction points: x̂_d = lo_d + (code_d + 127.5)/scale_d
    * (code + 127 recovers the clamped floor cell F ∈ [0, 254]; +0.5
    * is the cell midpoint — both terms exact in doubles). Constant
    * dimensions (scale 0) decode to lo. Pure map-side expression over
    * plan-literal (lo, scale) arrays — the asymmetric-distance
    * "decode" half of scalar-quantized search, never a join.
    */
  def dequantInt8(codes: Column, ranges: Array[(Double, Double)]): Column = {
    val lows = typedLit(ranges.map(_._1))
    val scales = typedLit(scalesOf(ranges))
    transform(codes, (c, d) =>
      when(element_at(scales, d + 1) === 0.0, element_at(lows, d + 1))
        .otherwise(element_at(lows, d + 1) +
          (c.cast("double") + lit(127.5)) / element_at(scales, d + 1)))
  }

  /** IVF-flat search over an INT8-QUANTIZED index: the corpus side is
    * the (vec_id, codes) table `quantizeInt8` produced — the float
    * embeddings are never touched at search time, which is the point
    * of the 4x storage shrink — and scoring is asymmetric (a full-
    * precision float query against midpoint-decoded corpus codes, the
    * standard SQ/ADC arrangement). List assignment is the argmax
    * centroid score of the DECODED vector, a pure map-side expression
    * over the codes scan (the int8 index is self-contained: no join
    * back to the float table to route candidates). Recall loss vs the
    * float path is measured by `q_ann_int8_recall` against the exact
    * brute-force truth.
    */
  def ivfTopKInt8(codes: DataFrame, queries: DataFrame,
                  centroids: Array[Array[Double]], ranges: Array[(Double, Double)],
                  k: Int = 10, nprobe: Int = 4): DataFrame = {
    require(nprobe >= 1 && nprobe <= centroids.length, "nprobe must be in [1, nlist]")
    val d0 = ranges.length
    require(centroids.forall(_.length == d0), s"centroid dims must all be $d0")
    ivfSearchDecoded(codes, dequantInt8(col("codes"), ranges),
      queries, centroids, k, nprobe)
  }

  /** The shared IVF-over-a-decoded-index search: `de` reconstructs
    * each corpus row's vector from its compressed form (int8 midpoint
    * decode, PQ blockwise centroids, ...) as a pure map-side
    * expression; routing, probing and asymmetric scoring are then
    * identical across code formats. One projection computes decode +
    * norm + assignment — whole-stage codegen's subexpression
    * elimination evaluates the decode once.
    */
  private def ivfSearchDecoded(codes: DataFrame, de: Column, queries: DataFrame,
                               centroids: Array[Array[Double]],
                               k: Int, nprobe: Int): DataFrame = {
    val cScores = ivfScoresFor(centroids, col("de"))
    val c = codes.select(col("vec_id").as("neighbor_id"), de.as("de"))
      .select(col("neighbor_id"), col("de"),
        sqrt(dot(col("de"), col("de"))).as("cn"),
        element_at(reverse(array_sort(cScores)), 1).getField("list").as("list"))
    val qScores = ivfScoresFor(centroids, col("qe"))
    val q = queries.select(col("vec_id").as("query_id"),
        col("embedding").cast("array<double>").as("qe"))
      .select(col("query_id"), col("qe"), sqrt(dot(col("qe"), col("qe"))).as("qn"),
        posexplode(slice(reverse(array_sort(qScores)), 1, nprobe)))
      .select(col("query_id"), col("qe"), col("qn"), col("col.list").as("list"))
    val scored = c.join(broadcast(q), "list")
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        (dot(col("qe"), col("de")) / (col("qn") * col("cn"))).as("cos"))
    val w = Window.partitionBy("query_id")
      .orderBy(round(col("cos"), 6).desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"), round(col("cos"), 6).as("cos"))
  }

  /** Blockwise-centroid reconstruction from the m PQ code columns —
    * the PQ analog of `dequantInt8`, a flatten of per-sub-space
    * lookups into plan-literal codebooks.
    */
  def pqDecode(codebooks: Array[Array[Array[Double]]]): Column =
    flatten(array(codebooks.zipWithIndex.map { case (cb, u) =>
      element_at(typedLit(cb), col(s"c$u") + 1)
    }: _*))

  /** IVF search over the PQ codes table — the bucketed scale path for
    * the 64x-compressed index (brute-force ADC in `pqTopK` is the
    * recall ceiling; this adds the nprobe/nlist dial on top). List
    * assignment routes on the blockwise reconstruction, so the index
    * is self-contained: neither routing nor scoring ever reads the
    * float corpus.
    */
  def ivfTopKPq(codes: DataFrame, queries: DataFrame,
                centroids: Array[Array[Double]],
                codebooks: Array[Array[Array[Double]]],
                k: Int = 10, nprobe: Int = 4): DataFrame = {
    require(nprobe >= 1 && nprobe <= centroids.length, "nprobe must be in [1, nlist]")
    val d0 = codebooks.map(_(0).length).sum
    require(centroids.forall(_.length == d0), s"centroid dims must all be $d0")
    ivfSearchDecoded(codes, pqDecode(codebooks), queries, centroids, k, nprobe)
  }

  // ------------------------------------------------------------------
  // Product quantization (Jégou et al. 2011): the step past scalar
  // int8 on the index-compression axis. The vector is split into m
  // contiguous sub-vectors; each sub-space gets its own k-centroid
  // codebook (trained with the deterministic Lloyd's of `Clustering`),
  // and a vector is stored as m small codes — here m=4 × k=16 over 64
  // dims = 4 bytes/vector vs 256 for float32 (64x), vs 64 for int8.
  // Scoring is asymmetric (ADC): the full-precision query against the
  // blockwise-centroid reconstruction, whose dot product decomposes
  // into per-subspace codebook lookups.
  // ------------------------------------------------------------------

  /** Per-subspace PQ codebooks: codebooks(u)(j) is centroid j of
    * sub-space u (dims/m components). Each sub-quantizer is the SAME
    * deterministic Lloyd fit as `Clustering.kmeansCentroids` run on
    * the sliced embedding — md5 seeds + per-iteration round-6
    * centroids, so the whole training replays exactly in the DuckDB
    * oracle. Driver payload: m*k*(dims/m) = k*dims doubles, the same
    * as one flat k-means.
    */
  def pqCodebooks(vectors: DataFrame, m: Int = 4, k: Int = 16,
                  iters: Int = 2, dims: Int = 64): Array[Array[Array[Double]]] = {
    require(m >= 1 && dims % m == 0, s"dims=$dims must split evenly into m=$m sub-spaces")
    val sub = dims / m
    Array.tabulate(m) { u =>
      val sliced = vectors.select(col("vec_id"),
        expr(s"slice(embedding, ${u * sub + 1}, $sub)").as("embedding"))
      Clustering.kmeansCentroids(sliced, k, iters, sub)
    }
  }

  /** Squared distance of a sub-vector slice to a centroid literal,
    * left-to-right accumulation (engine-portable).
    */
  private def subSqDist(sliceCol: Column, c: Array[Double]): Column =
    aggregate(zip_with(sliceCol, typedLit(c), (x, p) => (x - p) * (x - p)),
      lit(0.0), (acc, x) => acc + x)

  /** PQ encode: one int code per sub-space, argmin squared distance to
    * that sub-space's codebook (ties to the smaller centroid id —
    * identical to the k-means assignment rule). Pure map-side
    * expression; the codebooks ride the plan as literals. Output
    * (vec_id, c0..c{m-1}) — m INTS per vector, the entire index
    * payload.
    */
  private def pqCodeCols(codebooks: Array[Array[Array[Double]]]): Seq[Column] = {
    val m = codebooks.length
    val sub = codebooks(0)(0).length
    val dims = m * sub
    codebooks.zipWithIndex.map { case (cb, u) =>
      val sl = expr(s"slice(embedding, ${u * sub + 1}, $sub)")
      val best = array_min(array(cb.zipWithIndex.map { case (c, j) =>
        struct(subSqDist(sl, c).as("dist"), lit(j).as("cluster"))
      }: _*)).getField("cluster")
      // ragged input would null-pad the zip_with and corrupt every
      // distance — fail loudly (same contract as kmeans/lshBuckets)
      when(size(col("embedding")) === dims, best)
        .otherwise(raise_error(concat(
          lit(s"pqEncode: embedding dims != $dims for vec_id="),
          col("vec_id"))).cast("int"))
        .as(s"c$u")
    }.toSeq
  }

  def pqEncode(vectors: DataFrame, codebooks: Array[Array[Array[Double]]]): DataFrame =
    vectors.select(col("vec_id") +: pqCodeCols(codebooks): _*)

  // ------------------------------------------------------------------
  // Residual IVF-PQ (FAISS IndexIVFPQ semantics): PQ codes are trained
  // on and encode the RESIDUAL x − c(list) of each vector against its
  // coarse (IVF) centroid, not the raw vector. Residuals concentrate
  // near zero, so the same m×k code budget spends its resolution on a
  // much tighter distribution — measurably higher recall at identical
  // bytes/vector (the q_pq_residual_recall claim). The stored list id
  // doubles as the routing key, so the index stays self-contained.
  // ------------------------------------------------------------------

  /** Per-vector squared L2 distance to each centroid as (d2, list)
    * structs — the assignment geometry residual encoding requires:
    * the encoded residual is vs the NEAREST centroid (FAISS IndexIVFPQ
    * semantics; a best-COSINE centroid can be L2-far, which measurably
    * inflates residual variance — r9 A/B at sf0.1: reconstruction MSE
    * 0.69 under cosine assignment vs 0.53 under L2, and recall@10
    * 0.117 vs 0.174). Identical distance rule to `Clustering`'s Lloyd
    * assignment, ties to the SMALLER list id.
    */
  private def ivfL2For(cents: Array[Array[Double]], v: Column): Column =
    array(cents.zipWithIndex.map { case (c, j) =>
      struct(aggregate(zip_with(v, typedLit(c), (x, p) => (x - p) * (x - p)),
        lit(0.0), (acc, x) => acc + x).as("d2"), lit(j).as("list"))
    }: _*)

  /** (vec_id, list, embedding=residual): coarse-assign each vector to
    * its NEAREST (L2) centroid and subtract it elementwise. Pure
    * map-side — centroids ride as one 2-D plan literal.
    */
  def residualTable(vectors: DataFrame, centroids: Array[Array[Double]],
                    dims: Int): DataFrame = {
    require(centroids.forall(_.length == dims), s"centroid dims must all be $dims")
    val dists = ivfL2For(centroids, emb(col("embedding")))
    val centsLit = typedLit(centroids.map(_.toSeq).toSeq)
    vectors
      .select(col("vec_id"), col("embedding").cast("array<double>").as("xe"),
        element_at(array_sort(dists), 1).getField("list").as("list"))
      .select(col("vec_id"), col("list"),
        zip_with(col("xe"), element_at(centsLit, col("list") + 1),
          (x, c) => x - c).as("embedding"))
  }

  /** Sub-space codebooks trained on the residuals — one shared set of
    * m codebooks across all lists (the FAISS default), each the same
    * deterministic Lloyd fit as `pqCodebooks`.
    */
  def residualPqCodebooks(vectors: DataFrame, centroids: Array[Array[Double]],
                          m: Int = 4, k: Int = 16, iters: Int = 2,
                          dims: Int = 64): Array[Array[Array[Double]]] =
    pqCodebooks(residualTable(vectors, centroids, dims), m, k, iters, dims)

  /** Residual-PQ encode: (vec_id, list, c0..c{m-1}) — the coarse list
    * id plus m sub-space codes of the residual. The list id is the
    * IVF bucket (routing metadata every IVF index stores), so the
    * code payload per vector is identical to plain `pqEncode`.
    */
  def residualPqEncode(vectors: DataFrame, centroids: Array[Array[Double]],
                       codebooks: Array[Array[Array[Double]]]): DataFrame = {
    val dims = codebooks.map(_(0).length).sum
    residualTable(vectors, centroids, dims)
      .select(col("vec_id") +: col("list") +: pqCodeCols(codebooks): _*)
  }

  /** IVF search over a residual-PQ codes table: reconstruction is
    * x̂ = c(list) + concat(codebook lookups) — both terms plan
    * literals indexed by stored columns, one map-side projection.
    * Routing uses the STORED list (the true coarse assignment — no
    * re-derivation from the lossy reconstruction, unlike the
    * raw-codes path), queries probe their nprobe NEAREST (L2)
    * centroids (the same geometry the index was assigned with),
    * scoring is asymmetric exact-query × reconstruction cosine.
    */
  def ivfTopKResidualPq(codes: DataFrame, queries: DataFrame,
                        centroids: Array[Array[Double]],
                        codebooks: Array[Array[Array[Double]]],
                        k: Int = 10, nprobe: Int = 4): DataFrame = {
    require(nprobe >= 1 && nprobe <= centroids.length, "nprobe must be in [1, nlist]")
    val dims = codebooks.map(_(0).length).sum
    require(centroids.forall(_.length == dims), s"centroid dims must all be $dims")
    val centsLit = typedLit(centroids.map(_.toSeq).toSeq)
    val de = zip_with(element_at(centsLit, col("list") + 1), pqDecode(codebooks),
      (c, r) => c + r)
    val c = codes.select(col("vec_id").as("neighbor_id"), col("list"), de.as("de"))
      .select(col("neighbor_id"), col("list"), col("de"),
        sqrt(dot(col("de"), col("de"))).as("cn"))
    val qDists = ivfL2For(centroids, col("qe"))
    val q = queries.select(col("vec_id").as("query_id"),
        col("embedding").cast("array<double>").as("qe"))
      .select(col("query_id"), col("qe"), sqrt(dot(col("qe"), col("qe"))).as("qn"),
        posexplode(slice(array_sort(qDists), 1, nprobe)))
      .select(col("query_id"), col("qe"), col("qn"), col("col.list").as("list"))
    val scored = c.join(broadcast(q), "list")
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        (dot(col("qe"), col("de")) / (col("qn") * col("cn"))).as("cos"))
    val w = Window.partitionBy("query_id")
      .orderBy(round(col("cos"), 6).desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"),
        round(col("cos"), 6).as("cos"))
  }

  // ------------------------------------------------------------------
  // OPQ (Ge et al., "Optimized Product Quantization", CVPR 2013,
  // non-parametric solution): learn an orthogonal rotation R that
  // minimizes ‖XR − X̂‖² by alternating (a) PQ codebook training on
  // the rotated data with (b) the orthogonal-Procrustes update
  // R = U Vᵀ from the SVD of M = Xᵀ X̂. The rotation redistributes
  // correlated variance across the m sub-spaces, so the same m×k code
  // budget quantizes tighter — measurably higher recall at identical
  // bytes/vector (the PLANS.md r12 recall table). Applied to the
  // RESIDUALS (FAISS OPQ-before-IVFPQ shape): coarse assignment stays
  // unrotated L2; the residual is rotated before the sub-space split
  // and rotated back (Rᵀ) at reconstruction.
  // ------------------------------------------------------------------

  /** y = x·R over an embedding column: y_j = Σ_i x_i R_ij, each
    * output component one zip_with/aggregate against a column-literal
    * of R — pure map-side, deterministic left-to-right accumulation.
    */
  def rotateEmbedding(r: Array[Array[Double]], e: Column): Column = {
    val d = r.length
    array((0 until d).map { j =>
      val colJ = r.map(_(j))
      aggregate(zip_with(e.cast("array<double>"), typedLit(colJ), (x, p) => x * p),
        lit(0.0), (acc, x) => acc + x)
    }: _*)
  }

  private def matT(a: Array[Array[Double]]): Array[Array[Double]] =
    Array.tabulate(a(0).length, a.length)((i, j) => a(j)(i))

  private def matMulSmall(a: Array[Array[Double]], b: Array[Array[Double]]): Array[Array[Double]] =
    Array.tabulate(a.length, b(0).length) { (i, j) =>
      var s = 0.0; var k = 0
      while (k < b.length) { s += a(i)(k) * b(k)(j); k += 1 }
      s
    }

  private def eye(d: Int): Array[Array[Double]] =
    Array.tabulate(d, d)((i, j) => if (i == j) 1.0 else 0.0)

  /** One-sided Jacobi (Hestenes) sweeps: returns (A, V) with
    * A = M·V having orthogonal columns — i.e. A = U·Σ of M's SVD.
    * Deterministic fixed sweep order.
    */
  private def oneSidedJacobi(m0: Array[Array[Double]])
      : (Array[Array[Double]], Array[Array[Double]]) = {
    val d = m0.length
    val a = m0.map(_.clone())
    val v = eye(d)
    def colDot(x: Int, y: Int): Double = {
      var s = 0.0; var i = 0
      while (i < d) { s += a(i)(x) * a(i)(y); i += 1 }
      s
    }
    var sweep = 0
    var off = Double.MaxValue
    while (sweep < 30 && off > 1e-14) {
      off = 0.0
      var p = 0
      while (p < d - 1) {
        var q = p + 1
        while (q < d) {
          val app = colDot(p, p); val aqq = colDot(q, q); val apq = colDot(p, q)
          if (math.abs(apq) > 1e-15 * math.sqrt(app * aqq) && apq != 0.0) {
            off = math.max(off, math.abs(apq) / math.max(math.sqrt(app * aqq), 1e-300))
            val tau = (aqq - app) / (2.0 * apq)
            val t = math.signum(tau) / (math.abs(tau) + math.sqrt(1.0 + tau * tau))
            val c = 1.0 / math.sqrt(1.0 + t * t)
            val s = c * t
            var i = 0
            while (i < d) {
              val ap = a(i)(p); val aq = a(i)(q)
              a(i)(p) = c * ap - s * aq; a(i)(q) = s * ap + c * aq
              val vp = v(i)(p); val vq = v(i)(q)
              v(i)(p) = c * vp - s * vq; v(i)(q) = s * vp + c * vq
              i += 1
            }
          }
          q += 1
        }
        p += 1
      }
      sweep += 1
    }
    (a, v)
  }

  /** Orthogonal-Procrustes factor of a small square matrix M: the
    * R = U Vᵀ of M's SVD (one-sided Jacobi), with rank-deficient M's
    * null-space columns completed by Gram–Schmidt so R is always a
    * true rotation.
    */
  def procrustesRotation(m0: Array[Array[Double]]): Array[Array[Double]] = {
    val d = m0.length
    val (a, v) = oneSidedJacobi(m0)
    def colDot(x: Int, y: Int): Double = {
      var s = 0.0; var i = 0
      while (i < d) { s += a(i)(x) * a(i)(y); i += 1 }
      s
    }
    // U columns = normalized columns of A (σ_j = ‖a_j‖). M from a
    // low-rank reconstruction is rank-deficient, so zero columns are
    // completed to an orthonormal basis by Gram–Schmidt over the
    // canonical vectors — any orthogonal completion is a valid
    // Procrustes solution on the null space, but it MUST be orthogonal
    // to the data columns or R stops being a rotation.
    val norms = Array.tabulate(d)(j => math.sqrt(colDot(j, j)))
    val tol = 1e-10 * math.max(norms.max, 1e-300)
    val uCols = Array.ofDim[Double](d, d) // uCols(j) = column j
    val defined = Array.fill(d)(false)
    var j = 0
    while (j < d) {
      if (norms(j) > tol) {
        var i = 0
        while (i < d) { uCols(j)(i) = a(i)(j) / norms(j); i += 1 }
        defined(j) = true
      }
      j += 1
    }
    var basis = 0
    j = 0
    while (j < d) {
      if (!defined(j)) {
        var done = false
        while (!done && basis < d) {
          val cand = new Array[Double](d)
          cand(basis) = 1.0
          var jj = 0
          while (jj < d) {
            if (defined(jj)) {
              var dp = 0.0; var i = 0
              while (i < d) { dp += cand(i) * uCols(jj)(i); i += 1 }
              i = 0
              while (i < d) { cand(i) -= dp * uCols(jj)(i); i += 1 }
            }
            jj += 1
          }
          val n2 = math.sqrt(cand.map(x => x * x).sum)
          basis += 1
          if (n2 > 0.5) { // e_basis was not (nearly) in the span
            var i = 0
            while (i < d) { uCols(j)(i) = cand(i) / n2; i += 1 }
            defined(j) = true
            done = true
          }
        }
        require(defined(j), "orthogonal completion failed") // cannot happen: rank < d ⇒ some e_m survives
      }
      j += 1
    }
    val u = Array.tabulate(d, d)((i, jj) => uCols(jj)(i))
    matMulSmall(u, matT(v))
  }

  /** Accumulate M(i,j) = Σ_n a_n(i)·b_n(j) over a two-array-column
    * frame — distributed outer-product sum; only the d×d matrix ever
    * reaches the driver.
    */
  private def outerSum(df: DataFrame, dims: Int): Array[Array[Double]] = {
    val flat = df.rdd.treeAggregate(new Array[Double](dims * dims))(
      (acc, row) => {
        val x = row.getSeq[Double](0); val y = row.getSeq[Double](1)
        var i = 0
        while (i < dims) {
          val xi = x(i); var j = 0
          while (j < dims) { acc(i * dims + j) += xi * y(j); j += 1 }
          i += 1
        }
        acc
      },
      (a, b) => { var i = 0; while (i < a.length) { a(i) += b(i); i += 1 }; a })
    Array.tabulate(dims, dims)((i, j) => flat(i * dims + j))
  }

  /** Parametric OPQ initialization (Ge et al. §4, "eigenvalue
    * allocation"): PCA-rotate, then deal the principal directions to
    * the m sub-spaces in snake order of variance so every sub-space
    * gets a balanced share of (few, dominant) directions. This is the
    * init that lets the non-parametric alternation escape the
    * identity fixed point (codebooks trained on the unrotated split
    * are self-consistent, so the Procrustes update alone barely moves
    * R).
    */
  def pcaSnakeInit(vectors: DataFrame, m: Int, dims: Int): Array[Array[Double]] = {
    val x = vectors.select(col("embedding").cast("array<double>").as("x"))
      .select(col("x"), col("x").as("y"))
    val cov = outerSum(x, dims) // second moment — PCA about the origin
    val (a, v) = oneSidedJacobi(cov)
    val sigma = Array.tabulate(dims) { j =>
      var s = 0.0; var i = 0
      while (i < dims) { s += a(i)(j) * a(i)(j); i += 1 }
      math.sqrt(s)
    }
    val order = (0 until dims).sortBy(j => (-sigma(j), j))
    val sub = dims / m
    val buckets = Array.fill(m)(scala.collection.mutable.ArrayBuffer.empty[Int])
    order.zipWithIndex.foreach { case (j, pos) =>
      val cycle = pos / m; val rr = pos % m
      val b = if (cycle % 2 == 0) rr else m - 1 - rr
      if (buckets(b).length < sub) buckets(b) += j
      else buckets.minBy(_.length) += j // snake overflow guard (uneven tails)
    }
    val colOrder = buckets.flatMap(_.toSeq)
    Array.tabulate(dims, dims)((i, jj) => v(i)(colOrder(jj)))
  }

  /** Non-parametric OPQ training over a (vec_id, embedding) table:
    * PCA/eigenvalue-allocation init, then `alternations` rounds of
    * [distributed Lloyd codebooks on X·R] and [Procrustes update from
    * M = Xᵀ X̂]. M is a d×d accumulation — computed distributed
    * (treeAggregate of per-row outer products), only the 4 KB matrix
    * ever reaches the driver. Returns (R, codebooks trained on the
    * FINAL rotation) — both plan literals downstream, same artifact
    * contract as `pqCodebooks`.
    */
  def opqTrain(vectors: DataFrame, m: Int = 4, k: Int = 16, iters: Int = 2,
               dims: Int = 64, alternations: Int = 3)
      : (Array[Array[Double]], Array[Array[Array[Double]]]) = {
    var r = pcaSnakeInit(vectors, m, dims)
    var books: Array[Array[Array[Double]]] = null
    for (_ <- 0 until alternations) {
      val rotated = vectors.select(col("vec_id"),
        rotateEmbedding(r, col("embedding")).as("embedding"))
      books = pqCodebooks(rotated, m, k, iters, dims)
      // M = Σ_n x_n ŷ_nᵀ (original-frame x, rotated-frame reconstruction)
      val xy = vectors
        .select(col("vec_id"), col("embedding").cast("array<double>").as("x"),
          rotateEmbedding(r, col("embedding")).as("embedding"))
        .select(Seq(col("vec_id"), col("x")) ++ pqCodeCols(books): _*)
        .select(col("x"), pqDecode(books).as("y"))
      r = procrustesRotation(outerSum(xy, dims))
    }
    val rotated = vectors.select(col("vec_id"),
      rotateEmbedding(r, col("embedding")).as("embedding"))
    (r, pqCodebooks(rotated, m, k, iters, dims))
  }

  /** OPQ training on the RESIDUAL table — the FAISS
    * OPQMatrix-before-IndexIVFPQ chain at identical bytes/vector to
    * `residualPqCodebooks`.
    */
  def opqResidualTrain(vectors: DataFrame, centroids: Array[Array[Double]],
                       m: Int = 4, k: Int = 16, iters: Int = 2, dims: Int = 64,
                       alternations: Int = 3)
      : (Array[Array[Double]], Array[Array[Array[Double]]]) =
    opqTrain(residualTable(vectors, centroids, dims), m, k, iters, dims, alternations)

  /** Residual-OPQ encode: (vec_id, list, c0..c{m-1}) — the residual
    * is rotated by R before the sub-space split; payload identical to
    * `residualPqEncode`.
    */
  def opqResidualEncode(vectors: DataFrame, centroids: Array[Array[Double]],
                        r: Array[Array[Double]],
                        codebooks: Array[Array[Array[Double]]]): DataFrame = {
    val dims = codebooks.map(_(0).length).sum
    residualTable(vectors, centroids, dims)
      .select(col("vec_id"), col("list"),
        rotateEmbedding(r, col("embedding")).as("embedding"))
      .select(col("vec_id") +: col("list") +: pqCodeCols(codebooks): _*)
  }

  /** IVF search over a residual-OPQ codes table: reconstruction is
    * x̂ = c(list) + (codebook lookups)·Rᵀ — the rotate-back is one
    * more matrix-literal map — then the identical routing/scoring
    * shape as `ivfTopKResidualPq`.
    */
  def ivfTopKResidualOpq(codes: DataFrame, queries: DataFrame,
                         centroids: Array[Array[Double]],
                         r: Array[Array[Double]],
                         codebooks: Array[Array[Array[Double]]],
                         k: Int = 10, nprobe: Int = 4): DataFrame = {
    require(nprobe >= 1 && nprobe <= centroids.length, "nprobe must be in [1, nlist]")
    val dims = codebooks.map(_(0).length).sum
    require(centroids.forall(_.length == dims), s"centroid dims must all be $dims")
    val centsLit = typedLit(centroids.map(_.toSeq).toSeq)
    val de = zip_with(element_at(centsLit, col("list") + 1),
      rotateEmbedding(matT(r), pqDecode(codebooks)), (c, rr) => c + rr)
    val c = codes.select(col("vec_id").as("neighbor_id"), col("list"), de.as("de"))
      .select(col("neighbor_id"), col("list"), col("de"),
        sqrt(dot(col("de"), col("de"))).as("cn"))
    val qDists = ivfL2For(centroids, col("qe"))
    val q = queries.select(col("vec_id").as("query_id"),
        col("embedding").cast("array<double>").as("qe"))
      .select(col("query_id"), col("qe"), sqrt(dot(col("qe"), col("qe"))).as("qn"),
        posexplode(slice(array_sort(qDists), 1, nprobe)))
      .select(col("query_id"), col("qe"), col("qn"), col("col.list").as("list"))
    val scored = c.join(broadcast(q), "list")
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        (dot(col("qe"), col("de")) / (col("qn") * col("cn"))).as("cos"))
    val w = Window.partitionBy("query_id")
      .orderBy(round(col("cos"), 6).desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"),
        round(col("cos"), 6).as("cos"))
  }

  /** Exact-float rerank of an arbitrary candidate list — the refine
    * stage of any two-stage ANN (shared by the PQ and residual-PQ
    * paths): candidates equi-join the float corpus on neighbor_id
    * (the ONLY stage reading full vectors — kCand×|queries| rows),
    * queries broadcast, exact cosine, per-query top-k.
    */
  def rerankExact(corpus: DataFrame, cand: DataFrame, queries: DataFrame,
                  k: Int = 10): DataFrame = {
    val c = corpus.select(col("vec_id").as("neighbor_id"),
      emb(col("embedding")).as("ce"), normFloat(emb(col("embedding"))).as("cn"))
    val q = queries.select(col("vec_id").as("query_id"),
      emb(col("embedding")).as("qe"), normFloat(emb(col("embedding"))).as("qn"))
    val scored = cand.select(col("query_id"), col("neighbor_id"))
      .join(c, Seq("neighbor_id")).join(broadcast(q), Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosineN(col("qe"), col("ce"), col("qn"), col("cn")).as("cos"))
    val w = Window.partitionBy("query_id")
      .orderBy(round(col("cos"), 6).desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"),
        round(col("cos"), 6).as("cos"))
  }

  /** Brute-force ADC top-k over the PQ codes table: the float corpus
    * is never touched at search time — each corpus row contributes
    * only its m codes, and the score is
    *   cos ≈ Σ_u q_u · C_u[c_u] / (‖q‖ · sqrt(Σ_u ‖C_u[c_u]‖²))
    * where every C_u[c_u] term is an element_at into a plan-literal
    * lookup table (the classic ADC distance table, expressed as
    * codegen'd array indexing; the reconstruction's self-dot is exact
    * blockwise, so the denominator needs only the per-centroid squared
    * norms — also literals). Queries broadcast; the only shuffle is
    * the final per-query top-k window. Recall loss vs the float truth
    * is measured by `q_pq_recall`.
    */
  /** Two-stage production ANN: PQ/ADC candidate generation at
    * `kCand`, then EXACT float rerank of only those candidates — the
    * FAISS `IndexIVFPQ + refine` shape. The compressed index prices
    * the corpus scan (4 B/vector); the float table is touched only
    * for kCand×|queries| rows via an equi-join on neighbor_id (a
    * uniformly distributed key — at 100 TB this is the only stage
    * that reads full vectors, and it reads ~0.01% of them). Rerank
    * recovers most of the recall ADC loses to quantization — the
    * measured claim q_pq_recall's pq_rerank leg makes against the
    * same truth set.
    */
  def pqRerank(corpus: DataFrame, codes: DataFrame, queries: DataFrame,
               codebooks: Array[Array[Array[Double]]],
               kCand: Int = 50, k: Int = 10): DataFrame = {
    val cand = pqTopK(codes, queries, codebooks, k = kCand)
      .select(col("query_id"), col("neighbor_id"))
    val c = corpus.select(col("vec_id").as("neighbor_id"),
      emb(col("embedding")).as("ce"), normFloat(emb(col("embedding"))).as("cn"))
    val q = queries.select(col("vec_id").as("query_id"),
      emb(col("embedding")).as("qe"), normFloat(emb(col("embedding"))).as("qn"))
    val scored = cand.join(c, Seq("neighbor_id")).join(broadcast(q), Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosineN(col("qe"), col("ce"), col("qn"), col("cn")).as("cos"))
    val w = Window.partitionBy("query_id")
      .orderBy(round(col("cos"), 6).desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"),
        round(col("cos"), 6).as("cos"))
  }

  def pqTopK(codes: DataFrame, queries: DataFrame,
             codebooks: Array[Array[Array[Double]]], k: Int = 10): DataFrame = {
    val m = codebooks.length
    val sub = codebooks(0)(0).length
    val q = queries.select(col("vec_id").as("query_id"),
        col("embedding").cast("array<double>").as("qe"))
      .select(col("query_id"), col("qe"), sqrt(dot(col("qe"), col("qe"))).as("qn"))
    val dots = codebooks.zipWithIndex.map { case (cb, u) =>
      dot(expr(s"slice(qe, ${u * sub + 1}, $sub)"),
        element_at(typedLit(cb), col(s"c$u") + 1))
    }.reduce(_ + _)
    val n2 = codebooks.zipWithIndex.map { case (cb, u) =>
      element_at(typedLit(cb.map(c => c.map(x => x * x).sum)), col(s"c$u") + 1)
    }.reduce(_ + _)
    val scored = codes.select(col("vec_id").as("neighbor_id") +:
        (0 until m).map(u => col(s"c$u")): _*)
      .crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        (dots / (col("qn") * sqrt(n2))).as("cos"))
    val w = Window.partitionBy("query_id")
      .orderBy(round(col("cos"), 6).desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"),
        round(col("cos"), 6).as("cos"))
  }
}
