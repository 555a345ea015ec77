package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.datapipe.Dedup
import graft.streaming.StreamingOps

/** Round-18 pins, closing the r17 verdict/advice items:
  *  - the three COMPACTION crash windows from the r17 crash-window
  *    sweep (partial `_v{n+1}` dir with no catalog entry; two
  *    committed versions; old version dropped but folded delta still
  *    visible) were covered only by the recovery logic, never by a
  *    kill INSIDE the window (r17 verdict #2). Each is now pinned the
  *    way `failMidSwap` pins the re-bucketing swap: injected crash,
  *    window shape asserted on disk, resume, decisions hash-matched
  *    against the uninterrupted run, exactly-once accounting checked.
  *  - swap-aware resume `require`s at most one surviving staging per
  *    missing live table instead of renaming in fixed order (r17
  *    advice) — pinned by planting two stagings.
  *  - `tableStream`'s dual-layout contract (single-file testdata vs
  *    GenScale's directory-of-part-files) was covered only
  *    operationally by the ladders (r17 verdict #5) — pinned by
  *    running the streaming admission over both layouts of the same
  *    content and requiring identical decisions.
  */
class Round18Spec extends AnyFunSuite with GraftSpark {

  import spark.implicits._

  /** 10 single-file micro-batches of 3 docs each, designed so EVERY
    * post-first batch writes relabel (delta) rows — the compaction
    * windows only open on a non-empty delta. Three disjoint-vocabulary
    * "families" repeat identical text in every batch while doc ids
    * DESCEND across batches (batch 0: 1000..1002, batch 9: 910..912),
    * so each arrival re-labels its family's cluster to the new, lower
    * minimum: 3 relabel rows per batch from batch 1 on.
    */
  private val famTexts = Seq(
    "apple banana cherry date elderberry fig grape honeydew kiwi lemon mango",
    "otter walrus seal dolphin whale narwhal porpoise manatee dugong orca beluga",
    "copper zinc nickel cobalt titanium vanadium chromium manganese iron tungsten gold")

  private def relabelBatches(prefix: String): java.nio.file.Path = {
    val dir = Files.createTempDirectory(prefix)
    val t0 = 1700000000000L
    (0 until 10).foreach { i =>
      val docs = famTexts.zipWithIndex.map { case (txt, j) =>
        (1000L - 10L * i + j, txt)
      }
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
    val corpus = Seq((100000L, "corpus resident text matching nothing arriving here"))
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

  private def versionTables(tag: String): Set[Int] = {
    val p = s"graft_admit_compacted_${tag}_v"
    spark.catalog.listTables().collect().map(_.name.toLowerCase)
      .filter(_.startsWith(p)).map(_.stripPrefix(p).toInt).toSet
  }

  private def warehouseDirExists(name: String): Boolean =
    new java.io.File(
      new java.net.URI(spark.conf.get("spark.sql.warehouse.dir"))
        .getPath + "/" + name.toLowerCase).exists()

  /** One compaction crash window end-to-end: crash at batch 3's
    * compaction (the SECOND compaction at compactEvery=2, so a prior
    * `_v1` exists), assert the window's on-disk shape, resume, and
    * hash-match decisions + exactly-once accounting against the
    * uninterrupted run.
    */
  private def compactionCrashRoundtrip(window: String,
                                       shapeAssert: String => Unit): Unit = {
    val suffix = window.replace("_", "")
    val dir = relabelBatches(s"r18_${suffix}_")
    val (bt, ct) = initState(s"r18$suffix")
    val tag = s"r18_comp_$suffix"

    val ref = decisions(StreamingOps.runIncrementalAdmitPersisted(
      batchStream(dir), bt, ct, tag = s"${tag}_ref", compactEvery = 2))

    val ckpt = Files.createTempDirectory(s"r18_${suffix}_ckpt_").toString
    val crashed = intercept[Exception] {
      StreamingOps.runIncrementalAdmitPersisted(
        batchStream(dir), bt, ct, tag = tag, compactEvery = 2,
        checkpointDir = Some(ckpt),
        failInCompaction = 3L, failCompactionWindow = window)
    }
    assert(Iterator.iterate(crashed: Throwable)(_.getCause).takeWhile(_ != null)
      .exists(e => e.getMessage != null &&
        e.getMessage.contains("graft-injected-crash in compaction")),
      s"expected the injected compaction crash, got: $crashed")
    // the delta was NOT truncated in any of the three windows — its
    // batches are what the resumed run must treat correctly
    assert(spark.table(s"graft_admit_delta_$tag").count() > 0,
      "folded delta must still be visible after the crash")
    shapeAssert(tag)

    val got = decisions(StreamingOps.runIncrementalAdmitPersisted(
      batchStream(dir), bt, ct, tag = tag, compactEvery = 2,
      checkpointDir = Some(ckpt), resume = true))
    assert(got == ref, s"post-$window-resume decisions diverge")
    // exactly-once accounting: 30 arrivals x 4 band rows, one
    // batch_id per micro-batch, no duplicate results
    val bandCounts = spark.table(s"graft_admit_bands_$tag")
      .groupBy("batch_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(bandCounts.values.sum == 120L && bandCounts.size == 10,
      s"band accounting off after $window resume: $bandCounts")
    assert(spark.table(s"graft_admit_results_$tag")
      .groupBy("doc_id").count().filter(col("count") > 1).count() == 0,
      s"duplicate result rows after $window resume")
    // recovery left exactly one committed version, no orphan dirs
    val vers = versionTables(tag)
    assert(vers.size == 1, s"expected one committed version after resume, got $vers")
    org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  test("resume recovers a crash INSIDE compaction: partial version dir, no catalog entry") {
    compactionCrashRoundtrip("partial_dir", { tag =>
      // the window is REAL: _v2's data dir is on disk with no catalog
      // entry; the catalog still points at _v1
      assert(versionTables(tag) == Set(1),
        s"catalog should hold only _v1, got ${versionTables(tag)}")
      assert(warehouseDirExists(s"graft_admit_compacted_${tag}_v2"),
        "partial _v2 data dir should be on disk")
    })
  }

  test("resume recovers a crash INSIDE compaction: two committed versions") {
    compactionCrashRoundtrip("pre_drop", { tag =>
      assert(versionTables(tag) == Set(1, 2),
        s"catalog should hold _v1 AND _v2, got ${versionTables(tag)}")
    })
  }

  test("resume recovers a crash INSIDE compaction: folded delta still visible") {
    compactionCrashRoundtrip("pre_truncate", { tag =>
      // old version dropped, new committed, delta not yet truncated
      assert(versionTables(tag) == Set(2),
        s"catalog should hold only _v2, got ${versionTables(tag)}")
      assert(!warehouseDirExists(s"graft_admit_compacted_${tag}_v1"),
        "_v1 dir should be gone in the pre_truncate window")
    })
  }

  test("resume fails loudly when two stagings coexist for one missing live table") {
    // the invariant the swap-aware recovery relies on (r17 advice):
    // every single-crash path leaves at most ONE staging per missing
    // live table. Plant both bands stagings with live missing — the
    // shape no current code path can produce — and resume must refuse
    // rather than rename one in fixed order.
    val dir = relabelBatches("r18_twostage_")
    val (bt, ct) = initState("r18ts")
    val tag = "r18_twostage"
    val ckpt = Files.createTempDirectory("r18_twostage_ckpt_").toString
    intercept[Exception] {
      StreamingOps.runIncrementalAdmitPersisted(
        batchStream(dir), bt, ct, tag = tag, compactEvery = 4,
        checkpointDir = Some(ckpt), failAfterBands = 2L)
    }
    val live = s"graft_admit_bands_$tag"
    spark.table(live).limit(1)
      .write.mode("overwrite").saveAsTable(s"${live}_rebucket")
    spark.table(live).limit(1)
      .write.mode("overwrite").saveAsTable(s"${live}_rollback")
    StreamingOps.dropTableAndDir(spark, live)
    val err = intercept[IllegalArgumentException] {
      StreamingOps.runIncrementalAdmitPersisted(
        batchStream(dir), bt, ct, tag = tag, compactEvery = 4,
        checkpointDir = Some(ckpt), resume = true)
    }
    assert(err.getMessage.contains("staging copies"),
      s"expected the two-staging invariant failure, got: $err")
    StreamingOps.dropTableAndDir(spark, s"${live}_rebucket")
    StreamingOps.dropTableAndDir(spark, s"${live}_rollback")
    org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  test("BoundedTopK aggregate is bit-identical to the row_number window form") {
    // the shortlist cut in Dedup.neardupTopKByBands replaces
    // `row_number() OVER (PARTITION BY a ORDER BY score DESC, id ASC)
    // <= k` with a k-bounded partial aggregate (no straggler task on
    // a hot anchor); the two must select the SAME ids in the SAME
    // order, ties included. Deterministic LCG input: 40 groups x up
    // to 400 rows, scores drawn from 0..3 (heavy ties, the LSH
    // n_bands shape), plus one "star" group with 5,000 rows.
    import org.apache.spark.sql.expressions.{Window => W}
    var seed = 0x9e3779b97f4a7c15L
    def nxt(): Long = { seed = seed * 6364136223846793005L + 1442695040888963407L; seed >>> 16 }
    val rows = (0 until 40).flatMap { g =>
      val n = 1 + (nxt() % 400).toInt
      // distinct ids within a group (the engine's partner ids are
      // distinct by construction); scores collide heavily
      val ids = scala.util.Random.shuffle((0 until 3000).toList).take(n)
      ids.map(id => (g.toLong, (nxt() % 4).toInt.toLong, id.toLong))
    } ++ (0 until 5000).map(i => (99L, (i % 4).toLong, (100000 + i).toLong))
    val df = rows.toDF("a", "score", "b").repartition(7).cache()
    for (k <- Seq(1, 3, 8)) {
      val agg = df.groupBy("a")
        .agg(graft.functions.BoundedTopK.topKIds(k)(col("score"), col("b")).as("bs"))
        .select(col("a"), posexplode(col("bs")).as(Seq("rk0", "b")))
        .select(col("a"), col("b"), (col("rk0") + 1).as("rk"))
      val win = df.withColumn("rk",
          row_number().over(W.partitionBy("a").orderBy(col("score").desc, col("b").asc)))
        .filter(col("rk") <= k).select(col("a"), col("b"), col("rk").cast("long"))
      assert(agg.except(win).count() == 0 && win.except(agg).count() == 0,
        s"BoundedTopK(k=$k) diverges from the window form")
    }
    df.unpersist()
  }

  test("tableStream decisions are identical across single-file and directory layouts") {
    // r17 verdict #5: the dual-layout branch in tableStream
    // (StreamingOps.scala) was exercised only operationally by the
    // sf1/sf10 ladders. Pin it: a GenScale factor-1 clone holds the
    // SAME documents as the single-file testdata but in the
    // production directory-of-part-files layout; the streaming
    // admission must reach identical decisions over both.
    val dir = Files.createTempDirectory("r18_layout_").toString
    GenScale.generate(spark, "/root/testdata/sf0.001", dir, 1)
    assert(new java.io.File(s"$dir/documents.parquet").isDirectory,
      "GenScale output must be the directory layout")
    assert(!new java.io.File("/root/testdata/sf0.001/documents.parquet").isDirectory,
      "testdata must be the single-file layout")
    val single = decisions(
      SparkEntry.queries("q_stream_admit")(spark, "/root/testdata/sf0.001"))
    val multi = decisions(SparkEntry.queries("q_stream_admit")(spark, dir))
    assert(single.nonEmpty, "admission stream produced no decisions")
    assert(multi == single,
      "directory-layout streaming decisions diverge from single-file")
    Substrates.release(spark)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }
}
