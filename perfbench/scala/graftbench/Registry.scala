package graftbench

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry

/** `registry_sweep`: one `SparkEntry.queries` entry per operation over
  * the bundled sf0.01 fixture, forced with count(). The sweep is a
  * fixed subset covering every family; the seed sets its order.
  *
  * The warm-up pass writes each query's result the way graft.Verify
  * does (parquet per query plus oracle_sql.json), so the oracle
  * comparison runs outside the timed window; every timed operation is
  * then checked against the row count of that verified result.
  */
final class Registry(spark: SparkSession, seed: Long, fixture: String, oracleDir: File)
    extends Workload {
  import Registry._

  private val dir = new File(fixture).getAbsolutePath
  private val fns = SparkEntry.queries
  private var dumped = Map.empty[String, Long]

  val cycle: IndexedSeq[String] = {
    val rnd = new java.util.Random(seed)
    Subset.keys.toIndexedSeq.sorted.map(q => q -> rnd.nextDouble()).sortBy(_._2).map(_._1)
  }

  def prepare(work: File): Map[String, Any] = {
    val bytes = Tables.map(t => t -> new File(s"$dir/$t.parquet").length()).toMap
    Map("tables" -> bytes, "bytes" -> bytes.values.sum, "queries" -> cycle)
  }

  override def warm(r: Recorder): Unit = {
    oracleDir.mkdirs()
    dumped = cycle.map { q =>
      val out = new File(oracleDir, q).getAbsolutePath
      fns(q)(spark, dir).repartition(1).write.mode("overwrite").parquet(out)
      q -> spark.read.parquet(out).count()
    }.toMap
    val oracle = SparkEntry.oracleSqlFor(dir).filter { case (k, _) => Subset.contains(k) }
    java.nio.file.Files.writeString(new File(oracleDir, "oracle_sql.json").toPath, Json(oracle))
    // a counted pass too, as the timed operations run: after the dump
    // alone the first timed cycle still ran slower
    cycle.foreach(q => fns(q)(spark, dir).count())
  }

  def runOp(q: String, r: Recorder): (Boolean, Long) = {
    val df: DataFrame = r.span(s"SparkEntry.${Subset(q)}")(fns(q)(spark, dir))
    val n = r.span("spark.count")(df.count())
    (n == dumped(q), 0L)
  }

  override def extra(): Map[String, Any] = Map("families" -> Subset)
}

object Registry {
  val Tables = Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
    "events", "documents", "embeddings")

  /** query → family: every family of the registry, nine queries (an
    * odd count keeps the median on one query's samples).
    */
  val Subset: Map[String, String] = Map(
    "q01_pricing" -> "tpch",
    "q06_banded_revenue" -> "tpch",
    "q_movrms16" -> "signal",
    "k_filt_butter" -> "kernels",
    "q_dedup_exact" -> "dedup",
    "q_cosine_topk" -> "similarity",
    "q_text_stats" -> "text",
    "q_media_phash" -> "media",
    "q_stream_wrms" -> "stream")
}
