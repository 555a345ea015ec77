package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

/** Multi-batch scale harness for the PERSISTED streaming-admission
  * tier: delivers the streamed corpus slice (doc_id % 10 != 0) in N
  * mtime-ordered single-file micro-batches through
  * [[graft.streaming.StreamingOps.runIncrementalAdmitPersisted]]
  * (compactEvery=2, so relabel-log compaction genuinely runs several
  * times), and emits one Bench-shaped metric line (warm-min of 2
  * timed runs after one warm-up run) so `tools/scale_ladder.py` can
  * fold the sf0.1 → fixtures/sf1 pair into `BENCH_sf1.json`.
  *
  * This is deliberately NOT an oracle query: under multi-batch
  * delivery first-arrival-wins diverges from the batch oracle's
  * global-min rule by design (Round11Spec pins the divergence on a
  * controlled fixture); what the ladder measures is the persisted
  * state machinery itself — bucketed band-log probes, batch-sized
  * appends, versioned compaction — under real batch counts at 10×
  * scale.
  *
  * Usage: runMain graft.AdmitLadder <sfDir> [nBatches=10]
  */
object AdmitLadder {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: AdmitLadder <sfDir> [nBatches]")
    val sfDir = args(0)
    val n = if (args.length > 1) args(1).toInt else 10
    val spark = GraftSession.local(GraftSession.cpus)

    val (bandsT, compsT) = SparkEntry.persistedIncrTables(spark, sfDir)

    // stage the streamed slice as n single-file batches with strictly
    // increasing mtimes (FileStreamSource orders by mtime; names are
    // lexicographic in the same order as a tie-break)
    val stage = Files.createTempDirectory("admit_ladder_").toFile
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

    def run(tag: String): Double = {
      val st = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .option("latestFirst", "false")
        .option("pathGlobFilter", "f_*.parquet")
        .parquet(stage.getAbsolutePath)
      val t0 = System.nanoTime()
      val res = graft.streaming.StreamingOps.runIncrementalAdmitPersisted(
        st, bandsT, compsT, tag = tag, compactEvery = 2)
      val cnt = res.count()
      require(cnt == nDocs, s"decisions $cnt != arrivals $nDocs")
      (System.nanoTime() - t0) / 1e9
    }

    run("ladder_warm") // absorb micro-batch engine + codegen init
    val t = math.min(run("ladder_a"), run("ladder_b"))
    def num(v: Double): String = {
      val s = String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))
        .replaceAll("0+$", "")
      if (s.endsWith(".")) s.dropRight(1) else s
    }
    val name = s"q_stream_admit_persist_mb$n"
    println(s"""{"metric":"total","value":${num(t)},"unit":"sec","timing":"warm_min","n_queries":1,"n_err":0,"err":{},"n_batches":$n,"n_docs":$nDocs,"queries":{"$name":${num(t)}},"sf":"$sfDir"}""")
    spark.stop()
  }
}
