package graft.datapipe

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Embedding clustering: distributed k-means (Lloyd's algorithm) over
  * an `Array[Float]` embedding column — the training-data-pipeline
  * primitive behind topic bucketing, dedup prefiltering, and IVF list
  * training.
  *
  * Spark-first shape per iteration:
  *   - assignment is a pure MAP-SIDE expression: the k centroids are
  *     folded into the plan as array literals, each row computes its
  *     argmin squared distance with no shuffle and no UDF;
  *   - the update step is ONE map-side-combinable aggregation:
  *     posexplode(embedding) -> groupBy(cluster, dim).avg — the
  *     classic n*dims-row shuffle with partial aggregation, the shape
  *     that survives 1000 executors;
  *   - only k*dims doubles cross the driver between iterations (the
  *     new centroids — inherent to Lloyd's, same as MLlib).
  *
  * DETERMINISM CONTRACT: centroids are rounded to 6 decimals after
  * every update. Identical rounded centroids + identical input
  * vectors make every distance bit-identical in any IEEE engine, so
  * assignments (ties broken toward the smaller cluster id) — and
  * therefore the whole fit — reproduce exactly in the DuckDB oracle.
  * Initial centroids are md5-derived (`Similarity.centroidComponent`
  * semantics with a "kmeans:" prefix), so the fit needs no RNG.
  */
object Clustering {

  def initComponent(j: Int, d: Int): Double = Similarity.hashComponent("kmeans", j, d)

  /** Squared L2 distance of the embedding column to a centroid
    * literal, left-to-right accumulation (engine-portable).
    */
  private def sqDist(c: Array[Double]): Column =
    aggregate(zip_with(col("embedding"), typedLit(c), (x, p) => (x - p) * (x - p)),
      lit(0.0), (acc, x) => acc + x)

  /** Argmin-cluster assignment against the given centroids: array of
    * (dist, cluster) structs reduced with array_min — ties go to the
    * smaller cluster id (struct order), map-side only.
    */
  private def assignExpr(centroids: Array[Array[Double]]): Column =
    array_min(array(centroids.zipWithIndex.map { case (c, j) =>
      struct(sqDist(c).as("dist"), lit(j).as("cluster"))
    }: _*)).getField("cluster")

  /** The trained centroids after `iters` Lloyd iterations from the
    * deterministic seed — the k*dims doubles that cross the driver
    * (inherent to Lloyd's, same as MLlib). Exposed so downstream
    * operators (IVF list training in `Similarity.ivfTopKWith`) can
    * fold the SAME centroids into their plans as literals; the
    * per-iteration round-6 contract makes the composition replay
    * exactly in the DuckDB oracle.
    */
  def kmeansCentroids(vectors: DataFrame, k: Int, iters: Int,
                      dims: Int): Array[Array[Double]] = {
    var centroids = Array.tabulate(k)(j => Array.tabulate(dims)(d => initComponent(j, d)))
    // the iterations scan the input once per Lloyd step — cache the
    // projection so steps 2..iters hit memory, not the source
    val proj = vectors.select(col("vec_id"), col("embedding")).cache()
    try {
      for (_ <- 0 until iters) {
        val assigned = proj.select(col("vec_id"), col("embedding"),
          guard(dims, assignExpr(centroids)).as("cluster"))
        // per-(cluster, dim) means; n*dims rows but fully partial-agg'd.
        // +1e-7 before round: means of discrete-valued embeddings can
        // land exactly on round-6 midpoints where engines tie-break
        // differently (see the parity notes in SimilarityQueries)
        val means = assigned
          .select(col("cluster"), posexplode(col("embedding")).as(Seq("dim", "x")))
          .groupBy("cluster", "dim")
          .agg(round(avg(col("x").cast("double")) + 1e-7, 6).as("m"))
          .collect()
        val next = centroids.map(_.clone())
        means.foreach(r => next(r.getInt(0))(r.getInt(1)) = r.getDouble(2))
        centroids = next
      }
    } finally proj.unpersist(blocking = false)
    centroids
  }

  /** Run `iters` Lloyd iterations from the deterministic seed
    * centroids; returns (vec_id, cluster, dist) under the final
    * centroids. Empty clusters keep their previous centroid.
    */
  def kmeans(vectors: DataFrame, k: Int = 8, iters: Int = 3, dims: Int = -1): DataFrame = {
    val d0 =
      if (dims >= 0) dims
      else {
        val firstRow = vectors.select(size(col("embedding"))).head(1)
        if (firstRow.isEmpty)
          return vectors.limit(0).select(col("vec_id"), lit(0).as("cluster"),
            lit(0.0).as("dist"))
        firstRow(0).getInt(0)
      }
    val centroids = kmeansCentroids(vectors, k, iters, d0)
    val best = array_min(array(centroids.zipWithIndex.map { case (c, j) =>
      struct(sqDist(c).as("dist"), lit(j).as("cluster"))
    }: _*))
    vectors.select(col("vec_id"), guard(d0, best.getField("cluster")).as("cluster"),
      round(sqrt(best.getField("dist")), 6).as("dist"))
  }

  /** SemDedup (Abbas et al. 2023, arXiv:2303.09540): semantic
    * deduplication = k-means cluster the embeddings, then inside each
    * cluster drop every vector whose cosine to a higher-keep-priority
    * cluster-mate is >= `tau`. Keep-priority follows the paper's rule
    * (keep the examples with LOW similarity to the centroid, i.e.
    * FAR from it — they carry the cluster's diversity): canonical
    * order is (dist DESC, vec_id ASC), and a vector is a duplicate
    * iff some earlier vector in that order is within `tau` cosine.
    *
    * Spark-first shape: assignment is the same map-side
    * centroid-literal argmin as `kmeans` (no shuffle); the pair stage
    * is ONE cluster-key equi-join (both sides hash-partitioned by
    * cluster, quadratic only within a cluster) plus a distinct and a
    * final vec_id join-back. Total pair work is sum(m_c^2); at 100 TB
    * the paper's own recipe bounds it — k scales with the corpus
    * (they use 110k clusters for LAION) so cluster sizes stay ~10^4
    * and no join key can explode. A skew-capped star variant (via
    * `Dedup.bandedPairs`) would change which duplicate survives, so
    * the exact within-cluster join is kept and k is the scale knob.
    *
    * Rounding contract: dist and cos are rounded to 6 decimals before
    * any comparison, so the ordering and the tau cut select the same
    * rows in the DuckDB oracle. Returns (vec_id, cluster, dist, keep).
    */
  def semDedup(vectors: DataFrame, k: Int = 8, iters: Int = 2,
               tau: Double = 0.3, dims: Int = 64): DataFrame = {
    import graft.functions.FloatDot.floatDot
    val centroids = kmeansCentroids(vectors, k, iters, dims)
    val best = array_min(array(centroids.zipWithIndex.map { case (c, j) =>
      struct(sqDist(c).as("dist"), lit(j).as("cluster"))
    }: _*))
    val asg = vectors.select(col("vec_id"), col("embedding"),
      guard(dims, best.getField("cluster")).as("cluster"),
      round(sqrt(best.getField("dist")), 6).as("dist"),
      sqrt(floatDot(col("embedding"), col("embedding"))).as("nrm"))
    val a = asg.select(col("cluster"), col("vec_id").as("a"), col("dist").as("dist_a"),
      col("embedding").as("ea"), col("nrm").as("na"))
    val b = asg.select(col("cluster"), col("vec_id").as("b"), col("dist").as("dist_b"),
      col("embedding").as("eb"), col("nrm").as("nb"))
    val dups = a.join(b, Seq("cluster"))
      .filter(col("dist_a") > col("dist_b") ||
        (col("dist_a") === col("dist_b") && col("a") < col("b")))
      .filter(round(floatDot(col("ea"), col("eb")) / (col("na") * col("nb")), 6) >= tau)
      .select(col("b").as("vec_id")).distinct()
    asg.join(dups.withColumn("dup", lit(true)), Seq("vec_id"), "left")
      .select(col("vec_id"), col("cluster"), col("dist"),
        not(coalesce(col("dup"), lit(false))).as("keep"))
  }

  /** Ragged inputs would null-pad the zip_with and silently corrupt
    * every distance — fail loudly instead (same contract as
    * `Similarity.lshBuckets`).
    */
  private def guard(dims: Int, c: Column): Column =
    when(size(col("embedding")) === dims, c)
      .otherwise(raise_error(concat(
        lit(s"kmeans: embedding dims != $dims for vec_id="), col("vec_id"))).cast("int"))
}
