package graft

import org.apache.spark.sql.functions._

import graft.datapipe.Dedup

/** One-off scale diagnostic: candidate-stage volume of the MinHash-LSH
  * near-dup pipeline at a given fixture — bucket occupancy histogram,
  * candidate-pair count, candidate-touched doc count, and the verify
  * stage's set-table row volume. This is the "check candidate-stage
  * volume per rung before believing any exponent" lesson from the
  * round-15 sf10 campaign, as a runnable tool.
  *
  * Usage: runMain graft.Diag <sfDir>
  */
object Diag {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val spark = GraftSession.local(GraftSession.cpus)
    // --scan-shape <dir>: print per-table scan parallelism at the
    // harness split size (16 MB) and at the Spark default (128 MB) —
    // the r16 verdict #5 "fixtures must split without harness
    // compensation" evidence, and the quickest way to see whether a
    // table would single-thread its scan-side filters.
    if (args(0) == "--scan-shape") {
      val dir = args(1)
      val tables = Seq("region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings")
      println(f"${"table"}%-12s ${"files"}%5s ${"MB"}%8s ${"parts@16m"}%9s ${"parts@128m"}%10s")
      for (t <- tables) {
        val p = s"$dir/$t.parquet"
        val f = new java.io.File(p)
        if (!f.exists()) {
          // older testdata sets lack some tables — print a row and
          // keep going instead of aborting the whole diagnostic
          println(f"$t%-12s ${"missing"}%5s")
        } else {
        val (files, mb) =
          if (f.isDirectory) {
            val parts = f.listFiles().filter(_.getName.endsWith(".parquet"))
            (parts.length, parts.map(_.length).sum / 1e6)
          } else (1, f.length / 1e6)
        spark.conf.set("spark.sql.files.maxPartitionBytes", "16m")
        val p16 = spark.read.parquet(p).rdd.getNumPartitions
        spark.conf.set("spark.sql.files.maxPartitionBytes", "128m")
        val p128 = spark.read.parquet(p).rdd.getNumPartitions
        spark.conf.set("spark.sql.files.maxPartitionBytes", "16m")
        println(f"$t%-12s $files%5d $mb%8.1f $p16%9d $p128%10d")
        }
      }
      spark.stop(); return
    }
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    def t[A](label: String)(f: => A): A = {
      val t0 = System.nanoTime(); val r = f
      println(f"[diag] $label%-28s ${(System.nanoTime() - t0) / 1e9}%8.1f s  -> $r")
      r
    }
    val hashes = Dedup.shingleHashes(Dedup.shingles(docs, 5, distinct = false)).cache()
    t("shingle hashes (rows)")(hashes.count())
    val sig = Dedup.minhashSignaturesFromHashes(hashes, 16).cache()
    t("signatures (rows)")(sig.count())
    val bands = Dedup.lshBands(sig, 4).cache()
    t("band rows")(bands.count())
    val occ = bands.groupBy("band", "sig").agg(count(lit(1)).as("m"))
      .groupBy(when(col("m") === 1, "1").when(col("m") <= 4, "2-4")
        .when(col("m") <= 16, "5-16").when(col("m") <= 64, "17-64")
        .when(col("m") <= 256, "65-256").otherwise(">256").as("bucket_size"))
      .agg(count(lit(1)).as("n_buckets"), sum("m").as("n_rows"),
        sum(col("m") * (col("m") - 1) / 2).as("pairs_uncapped"))
      .orderBy("bucket_size")
    occ.show(20, false)
    val cands = Dedup.lshCandidates(sig, 4).cache()
    val nPairs = t("candidate pairs")(cands.count())
    val needed = cands.select(col("a").as("d")).union(cands.select(col("b").as("d"))).distinct()
    val nNeeded = t("candidate-touched docs")(needed.count())
    val setRows = t("verify set-table rows")(
      hashes.join(needed.withColumnRenamed("d", "doc_id"), "doc_id").count())
    println(s"[diag] summary pairs=$nPairs neededDocs=$nNeeded setRows=$setRows")
    spark.stop()
  }
}
