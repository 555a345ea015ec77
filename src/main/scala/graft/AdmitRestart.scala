package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

/** Restart-recovery harness for the PERSISTED streaming-admission tier
  * at real scale (r15 verdict #7): runs the mb-N stream three ways on
  * the same staged batches —
  *   1. uninterrupted (the reference decisions),
  *   2. CHECKPOINTED with an injected crash right after the
  *      bands-append of batch `failAt` (the nastiest point: a batch
  *      half on disk),
  *   3. resumed from the checkpoint (continuation state re-derived
  *      from the tables, partial batch rolled back) —
  * and verifies the resumed run's decisions hash-match the
  * uninterrupted run while the append-only accounting stays
  * exactly-once (one results row per arrival, 4 band rows per
  * arrival). Prints one JSON line with the recovery-time breakdown
  * (state-derive + rollback come from the [admit:* resume] stderr
  * lines; this line carries the leg totals).
  *
  * Usage: runMain graft.AdmitRestart <sfDir> [nBatches=10] [failAt=5]
  */
object AdmitRestart {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: AdmitRestart <sfDir> [nBatches] [failAt]")
    val sfDir = args(0)
    val n = if (args.length > 1) args(1).toInt else 10
    val failAt = if (args.length > 2) args(2).toLong else 5L
    val spark = GraftSession.local(GraftSession.cpus)

    val (bandsT, compsT) = SparkEntry.persistedIncrTables(spark, sfDir)

    // stage the streamed slice exactly like AdmitLadder
    val stage = Files.createTempDirectory("admit_restart_").toFile
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .filter(col("doc_id") % 10 =!= 0)
      .select(col("doc_id"), col("text"))
    val nDocs = docs.count()
    val t0m = 1700000000000L
    for (b <- 0 until n) {
      val sub = new java.io.File(stage, s"stage_$b")
      docs.filter(pmod(col("doc_id"), lit(n)) === b).coalesce(1)
        .write.mode("overwrite").parquet(sub.getAbsolutePath)
      val part = sub.listFiles().filter(_.getName.endsWith(".parquet")).head
      val dest = new java.io.File(stage, f"f_$b%02d.parquet")
      Files.move(part.toPath, dest.toPath)
      dest.setLastModified(t0m + b * 10000L)
      sub.listFiles().foreach(f => Files.delete(f.toPath))
      Files.delete(sub.toPath)
    }
    val schema = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text").schema
    def stream() = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .option("latestFirst", "false")
      .option("pathGlobFilter", "f_*.parquet")
      .parquet(stage.getAbsolutePath)

    def hashOf(df: org.apache.spark.sql.DataFrame): String = df
      .select(md5(to_binary(concat_ws("|",
        sort_array(collect_list(concat_ws(",", col("doc_id"), col("cluster"),
          col("admitted"))))), lit("utf-8"))).as("h"))
      .head().getString(0)

    // 1. uninterrupted reference
    var t0 = System.nanoTime()
    val refDf = graft.streaming.StreamingOps.runIncrementalAdmitPersisted(
      stream(), bandsT, compsT, tag = "restart_base", compactEvery = 2)
    val refHash = hashOf(refDf)
    require(refDf.count() == nDocs)
    val baselineS = (System.nanoTime() - t0) / 1e9

    // 2. checkpointed run, crashed after bands-append of batch failAt
    val ckpt = Files.createTempDirectory("admit_restart_ckpt_").toString
    t0 = System.nanoTime()
    val crashed = try {
      graft.streaming.StreamingOps.runIncrementalAdmitPersisted(
        stream(), bandsT, compsT, tag = "restart_rec", compactEvery = 2,
        checkpointDir = Some(ckpt), failAfterBands = failAt)
      false
    } catch { case e: Exception =>
      val injected = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
        .exists(c => c.getMessage != null && c.getMessage.contains("graft-injected-crash"))
      require(injected, s"unexpected failure: $e")
      true
    }
    require(crashed, "fault injection never fired")
    val crashS = (System.nanoTime() - t0) / 1e9

    // 3. resume from the checkpoint
    t0 = System.nanoTime()
    val resDf = graft.streaming.StreamingOps.runIncrementalAdmitPersisted(
      stream(), bandsT, compsT, tag = "restart_rec", compactEvery = 2,
      checkpointDir = Some(ckpt), resume = true)
    val resHash = hashOf(resDf)
    val resumeS = (System.nanoTime() - t0) / 1e9
    val match_ = resHash == refHash
    val resRows = resDf.count()
    val bandRows = spark.table("graft_admit_bands_restart_rec").count()
    val exactlyOnce = resRows == nDocs && bandRows == 4L * nDocs

    def num(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))
    println(s"""{"metric":"admit_restart","restart_hash_match":$match_,"exactly_once_accounting":$exactlyOnce,"n_docs":$nDocs,"n_batches":$n,"fail_after_bands_of_batch":$failAt,"baseline_s":${num(baselineS)},"crashed_leg_s":${num(crashS)},"resume_leg_s":${num(resumeS)},"sf":"$sfDir"}""")
    require(match_, s"restart hash mismatch: $resHash vs $refHash")
    require(exactlyOnce, s"accounting inflated: results=$resRows bands=$bandRows")
    spark.stop()
  }
}
