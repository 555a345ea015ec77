package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.datapipe.Dedup
import graft.streaming.StreamingOps

/** Round-19 pins, closing the r18 verdict items:
  *  - the r18 concurrent bands/delta appends made a DELTA-COMMITTED,
  *    BANDS-ABSENT half-batch possible (the pre-r18 sequential order
  *    could only leave bands-committed-delta-absent, which
  *    failAfterBands pins). The resume rollback is symmetric by
  *    design — any bands OR delta batch_id absent from the results
  *    log is rolled back — but no test killed inside the new window
  *    (r18 verdict #4). Pinned here with an injected crash right
  *    after the delta-append, before the bands-append, then resume +
  *    decision/accounting equality against an uninterrupted run.
  */
class Round19Spec extends AnyFunSuite with GraftSpark {

  import spark.implicits._

  /** 10 single-file micro-batches, 3 docs each (the Round17Spec
    * fixture shape), with NEAR-DUP pairs across batches so some
    * batches genuinely append delta (relabel) rows — a delta-committed
    * half-batch is only interesting when the delta is non-empty.
    */
  private def stagedBatches(prefix: String): java.nio.file.Path = {
    val texts = (0 until 30).map { i =>
      // every third doc repeats a text from ~2 batches earlier (i−5 is
      // never itself a replaced slot, so the text really occurs
      // there), WITH A SMALLER doc id than the original — the merged
      // component's min is then the new arrival, so the prior cluster
      // label changes and the batch appends a NON-EMPTY delta (a
      // delta-committed half-batch is only interesting when there is
      // a delta to commit)
      val dup = i % 3 == 2 && i >= 5
      val base = if (dup) i - 5 else i
      val id = if (dup) 50L + i else 100L + i
      (id, s"shared document number $base with mostly disjoint words " +
        s"w${base}a w${base}b w${base}c w${base}d w${base}e w${base}f w${base}g")
    }
    val dir = Files.createTempDirectory(prefix)
    val t0 = 1700000000000L
    texts.grouped(3).zipWithIndex.foreach { case (docs, i) =>
      val stage = dir.resolve(s"stage_$i")
      docs.toDF("doc_id", "text").coalesce(1)
        .write.mode("overwrite").parquet(stage.toString)
      val part = {
        val st = Files.list(stage)
        try st.filter(_.getFileName.toString.endsWith(".parquet")).findFirst().get()
        finally st.close()
      }
      val dest = dir.resolve(f"f_$i%02d.parquet")
      Files.move(part, dest)
      dest.toFile.setLastModified(t0 + i * 10000L)
      org.apache.commons.io.FileUtils.deleteDirectory(stage.toFile)
    }
    dir
  }

  private def batchStream(dir: java.nio.file.Path): DataFrame = {
    import org.apache.spark.sql.types._
    spark.readStream.schema(StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType))))
      .option("maxFilesPerTrigger", 1).option("latestFirst", "false")
      .option("pathGlobFilter", "f_*.parquet").parquet(dir.toString)
  }

  private def initState(tagPrefix: String): (String, String) = {
    val corpus = Seq((1L, "corpus resident swap text matching nothing arriving"))
      .toDF("doc_id", "text")
    val bands = Dedup.lshBands(Dedup.minhashSignaturesFromHashes(
      Dedup.shingleHashes(Dedup.shingles(corpus, distinct = false)), k = 16))
    val (bt, ct) = (s"${tagPrefix}_init_bands", s"${tagPrefix}_init_comps")
    StreamingOps.dropTableAndDir(spark, bt)
    StreamingOps.dropTableAndDir(spark, ct)
    bands.write.mode("overwrite").saveAsTable(bt)
    corpus.select(col("doc_id"), col("doc_id").as("cluster"))
      .write.mode("overwrite").saveAsTable(ct)
    (bt, ct)
  }

  private def decisions(df: DataFrame): Map[Long, (Long, Boolean)] =
    df.collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap

  test("resume recovers a DELTA-committed, BANDS-absent half-batch (concurrent-append ordering)") {
    val dir = stagedBatches("r19_deltafirst_")
    val (bt, ct) = initState("r19d")

    // uninterrupted reference
    val ref = decisions(StreamingOps.runIncrementalAdmitPersisted(
      batchStream(dir), bt, ct, tag = "r19_df_ref", compactEvery = 4))

    // crashed run: batch 2's arrivals include a near-dup of batch 1's
    // (the i%3==2 repeats), so its delta is non-empty — die right
    // after the delta lands, before the bands append
    val ckpt = Files.createTempDirectory("r19_df_ckpt_").toString
    val crashed = intercept[Exception] {
      StreamingOps.runIncrementalAdmitPersisted(
        batchStream(dir), bt, ct, tag = "r19_df",
        compactEvery = 4, checkpointDir = Some(ckpt), failAfterDelta = 2L)
    }
    assert(Iterator.iterate(crashed: Throwable)(_.getCause).takeWhile(_ != null)
      .exists(e => e.getMessage != null &&
        e.getMessage.contains("graft-injected-crash after delta-append")),
      s"expected the injected delta-first crash, got: $crashed")
    // the window is REAL: the crashed batch id is in the delta log but
    // in neither the band log nor the results log
    val crashedBatch = 2L
    assert(spark.table("graft_admit_delta_r19_df")
      .filter(col("batch_id") === crashedBatch).count() > 0,
      "injected crash should leave committed delta rows for the batch")
    assert(spark.table("graft_admit_bands_r19_df")
      .filter(col("batch_id") === crashedBatch).isEmpty,
      "bands append must NOT have run for the crashed batch")
    assert(spark.table("graft_admit_results_r19_df")
      .filter(col("batch_id") === crashedBatch).isEmpty,
      "results append must NOT have run for the crashed batch")

    // resume: the symmetric rollback erases the orphan delta rows and
    // the re-delivered batch replays cleanly — decisions match the
    // uninterrupted run exactly
    val got = decisions(StreamingOps.runIncrementalAdmitPersisted(
      batchStream(dir), bt, ct, tag = "r19_df",
      compactEvery = 4, checkpointDir = Some(ckpt), resume = true))
    assert(got == ref, "post-delta-first-crash resume decisions diverge")
    // append-only accounting exactly-once: every arrival banded once
    // (4 band rows per doc), no duplicate result rows, and no delta
    // rows from a batch id the results log never committed
    val bandCounts = spark.table("graft_admit_bands_r19_df")
      .groupBy("batch_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(bandCounts.values.sum == 120L && bandCounts.size == 10,
      s"band accounting off after delta-first resume: $bandCounts")
    assert(spark.table("graft_admit_results_r19_df")
      .groupBy("doc_id").count().filter(col("count") > 1).isEmpty,
      "duplicate result rows after delta-first resume")
    val committed = spark.table("graft_admit_results_r19_df")
      .select("batch_id").distinct().collect().map(_.getLong(0)).toSet
    val orphanDelta = spark.table("graft_admit_delta_r19_df")
      .select("batch_id").distinct().collect().map(_.getLong(0))
      .filterNot(committed)
    assert(orphanDelta.isEmpty,
      s"delta rows with uncommitted batch ids survived resume: ${orphanDelta.toSeq}")
  }
}
