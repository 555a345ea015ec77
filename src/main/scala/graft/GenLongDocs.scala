package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Long-DOCUMENT fixture generator: regroups an existing sf dir's
  * documents into ~`groups` concatenated docs at CONSTANT corpus
  * bytes, so per-doc length grows ~(rows/groups)× while total text
  * volume (and therefore total work for corpus-linear operators)
  * stays fixed. GenScale multiplies rows at constant doc length; this
  * is the orthogonal axis (r14 verdict #8) — the r13 HOF-lambda O(L²)
  * bug was LENGTH-driven and row-multiplied fixtures can never catch
  * that class. From fixtures/sf1 (50k docs, ~300 chars) the default
  * 120 groups gives ~125 kB docs — ~400× the baseline length, ~20k
  * words/doc (inside saSubstrDedup's 2^20 pos-pack guard with 50×
  * headroom).
  *
  * Deterministic: group = xxhash64(doc_id) mod groups, members
  * concatenated in doc_id order; lang/source taken from the smallest
  * member id. Non-document tables are copied byte-identical so the
  * dir satisfies the full check.py view contract.
  *
  * Usage: runMain graft.GenLongDocs [src=fixtures/sf1]
  *   [dst=fixtures/longdocs] [groups=120]
  */
object GenLongDocs {
  def main(args: Array[String]): Unit = {
    val src = if (args.length > 0) args(0) else "fixtures/sf1"
    val dst = if (args.length > 1) args(1) else "fixtures/longdocs"
    val groups = if (args.length > 2) args(2).toInt else 120
    val spark = GraftSession.local(GraftSession.cpus)
    generate(spark, src, dst, groups)
    spark.stop()
  }

  def generate(spark: SparkSession, src: String, dst: String, groups: Int): Unit = {
    new java.io.File(dst).mkdirs()
    val docs = spark.read.parquet(s"$src/documents.parquet")
    val long = docs
      .withColumn("gid", pmod(xxhash64(col("doc_id")), lit(groups.toLong)))
      .groupBy("gid")
      .agg(
        // doc_id order inside the group: struct sort is by first field
        array_join(transform(
          array_sort(collect_list(struct(col("doc_id"), col("text")))),
          x => x("text")), " ").as("text"),
        min_by(col("lang"), col("doc_id")).as("lang"),
        min_by(col("source"), col("doc_id")).as("source"))
      .select(col("gid").as("doc_id"), col("text"), col("lang"), col("source"),
        length(col("text")).cast("long").as("n_chars"))
    writeSingleFile(spark, long, s"$dst/documents.parquet")
    val stats = spark.read.parquet(s"$dst/documents.parquet")
      .agg(count(lit(1)), min("n_chars"), avg("n_chars"), max("n_chars")).collect()(0)
    System.err.println(s"[genlongdocs] ${stats.getLong(0)} docs, n_chars " +
      s"min=${stats.getLong(1)} avg=${stats.getDouble(2).round} max=${stats.getLong(3)}")
    // remaining tables byte-identical (the check.py view contract)
    for (t <- Seq("region", "nation", "customer", "supplier", "part",
                  "orders", "lineitem", "events", "embeddings")) {
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"$src/$t.parquet"),
        java.nio.file.Paths.get(s"$dst/$t.parquet"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
  }

  /** Single-FILE parquet (DuckDB's `FROM 'x.parquet'` and the
    * streaming readers' pathGlobFilter both expect files, not dirs) —
    * the GenScale write pattern.
    */
  private def writeSingleFile(spark: SparkSession,
                              df: org.apache.spark.sql.DataFrame,
                              dstFile: String): Unit = {
    val tmp = dstFile + "_tmpdir"
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    val tmpDir = new java.io.File(tmp)
    val part = tmpDir.listFiles().find(_.getName.endsWith(".parquet")).get
    val out = new java.io.File(dstFile)
    if (out.exists()) out.delete()
    java.nio.file.Files.move(part.toPath, out.toPath)
    tmpDir.listFiles().foreach(f => java.nio.file.Files.delete(f.toPath))
    java.nio.file.Files.delete(tmpDir.toPath)
  }
}
