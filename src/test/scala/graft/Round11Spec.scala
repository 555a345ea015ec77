package graft

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.datapipe.Dedup
import graft.streaming.StreamingOps

/** Round-11 pins: the PERSISTED incremental-admission harness
  * (`StreamingOps.runIncrementalAdmitPersisted`) under genuinely
  * multi-batch delivery — first-arrival-wins vs the batch oracle's
  * global-min rule, batch-sized append-only state writes, untouched
  * corpus tables, relabel-log compaction — plus the
  * `compressRelabel` pointer-halving bound and the single-batch
  * `require` in the shared-oracle harness `runIncrementalAdmit`.
  */
class Round11Spec extends AnyFunSuite with GraftSpark {

  // ---- controlled multi-batch file stream ---------------------------------

  /** Write each (doc_id, text) group as ONE parquet file named
    * f_&lt;idx&gt;.parquet with strictly increasing mtimes, so the file
    * source with maxFilesPerTrigger=1 delivers them as one
    * micro-batch each, in order (FileStreamSource orders by
    * modification time; names are lexicographic in the same order as
    * a tie-break).
    */
  private def writeBatchFiles(dir: Path, batches: Seq[Seq[(Long, String)]]): Unit = {
    import spark.implicits._
    val t0 = 1700000000000L // fixed epoch base: only RELATIVE order matters
    batches.zipWithIndex.foreach { case (docs, i) =>
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
      // remove the staging dir so the glob below only sees f_*.parquet
      val walk = Files.walk(stage)
      try walk.sorted(java.util.Comparator.reverseOrder())
        .forEach(p => Files.delete(p))
      finally walk.close()
    }
  }

  private def batchStream(dir: Path, filesPerTrigger: Int = 1): DataFrame = {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", filesPerTrigger)
      .option("latestFirst", "false")
      .option("pathGlobFilter", "f_*.parquet")
      .parquet(dir.toString)
  }

  // 12-word texts: ample 5-gram shingle mass, clones are byte-identical
  private val textA = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
  private val textB = "one two three four five six seven eight nine ten eleven twelve"
  private val textC = "corpus resident document about streaming admission state tables and relabel logs"
  // genuinely dissimilar filler texts: shingles are CHARACTER 5-grams
  // (Dedup.shingles), so "unique doc number $i" templates that differ
  // only in digits are in fact near-duplicates (J ≈ 0.7) and
  // deterministically LSH-collide — each filler needs its own
  // vocabulary, not its own suffix
  private val uniqTexts: Map[Long, String] = Map(
    21L -> "jade falcons orbit a crimson nebula beyond the quiet ridge tonight",
    23L -> "maple syrup dripped onto warm pancakes while the kettle whistled softly",
    25L -> "seven granite boulders guard the mossy trailhead above the fjord",
    27L -> "the violinist tuned her strings as lanterns flickered across the plaza",
    29L -> "rusty gears clattered inside the old mill beside the weir",
    31L -> "a cartographer sketched dunes and oases on vellum by candlelight",
    33L -> "penguins huddle against the katabatic wind on the brittle ice shelf")
  private def uniq(i: Int) = uniqTexts(i.toLong)

  /** 10 micro-batches; the global-min clone of text A (doc 3) arrives
    * in batch 1, AFTER doc 7 (batch 0) was already admitted.
    */
  private val fixtureBatches: Seq[Seq[(Long, String)]] = Seq(
    Seq(7L -> textA, 9L -> textB),
    Seq(3L -> textA, 11L -> textB),
    Seq(5L -> textA),
    Seq(13L -> textC, 21L -> uniq(21)),
    Seq(23L -> uniq(23)),
    Seq(25L -> uniq(25)),
    Seq(27L -> uniq(27)),
    Seq(29L -> uniq(29)),
    Seq(31L -> uniq(31)),
    Seq(33L -> uniq(33)))

  private def initStateTables(prefix: String): (String, String) = {
    import spark.implicits._
    val corpus = Seq(1000L -> textC).toDF("doc_id", "text")
    val bands = Dedup.lshBands(Dedup.minhashSignaturesFromHashes(
      Dedup.shingleHashes(Dedup.shingles(corpus, distinct = false)), k = 16))
    val bT = s"${prefix}_init_bands"; val cT = s"${prefix}_init_comps"
    // dir-deleting drop: a fresh test JVM's catalog does not know a
    // prior run's tables, so DROP TABLE alone leaves the warehouse
    // dirs and the saveAsTable below dies with LOCATION_ALREADY_EXISTS
    StreamingOps.dropTableAndDir(spark, bT)
    StreamingOps.dropTableAndDir(spark, cT)
    bands.write.mode("overwrite").saveAsTable(bT)
    corpus.select(col("doc_id"), col("doc_id").as("cluster"))
      .write.mode("overwrite").saveAsTable(cT)
    (bT, cT)
  }

  /** (path, mtime, length) of every data file under a catalog table's
    * warehouse location — the "this table was never rewritten" probe.
    */
  private def tableFiles(name: String): Set[(String, Long, Long)] = {
    val loc = spark.sql(s"DESCRIBE TABLE EXTENDED $name")
      .filter(col("col_name") === "Location").select("data_type").head().getString(0)
    val p = new org.apache.hadoop.fs.Path(loc)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(p).filter(_.isFile)
      .map(s => (s.getPath.toString, s.getModificationTime, s.getLen)).toSet
  }

  test("persisted admission: multi-batch first-arrival-wins + append-only state") {
    val dir = Files.createTempDirectory("r11_admit_")
    writeBatchFiles(dir, fixtureBatches)
    val (bT, cT) = initStateTables("r11a")
    val initBandFiles = tableFiles(bT)
    val initCompFiles = tableFiles(cT)

    val res = StreamingOps.runIncrementalAdmitPersisted(
        batchStream(dir), bT, cT, tag = "r11a_test", compactEvery = 2)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap

    // one decision per arrival
    assert(res.size == fixtureBatches.flatten.size)
    // FIRST-ARRIVAL-WINS: doc 7 (batch 0) is admitted; the globally
    // minimal clone doc 3 (batch 1) and doc 5 (batch 2) are not —
    // the batch oracle's global-min rule would have picked 3. Same
    // for the B pair (9 admitted, 11 not). doc 13 matches the
    // persisted corpus doc 1000 → rejected.
    assert(res(7L) && !res(3L) && !res(5L))
    assert(res(9L) && !res(11L))
    assert(!res(13L))
    Seq(21L, 23L, 25L, 27L, 29L, 31L, 33L).foreach(d => assert(res(d), s"doc $d"))

    // delivery really was one micro-batch per file
    val results = spark.table("graft_admit_results_r11a_test")
    val batchSizes = results.groupBy("batch_id").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(batchSizes.size == fixtureBatches.size,
      s"expected ${fixtureBatches.size} micro-batches, saw ${batchSizes.size}")

    // APPEND-ONLY, BATCH-SIZED writes: the band log holds exactly
    // 4 band rows per arrival (k=16 minhashes / 4 rows per band),
    // attributed to the right batch — no batch ever rewrote another's
    // rows, and per-batch write volume is the batch's own size
    val bandSizes = spark.table("graft_admit_bands_r11a_test")
      .groupBy("batch_id").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val sortedBatchIds = batchSizes.keys.toSeq.sorted
    sortedBatchIds.zip(fixtureBatches).foreach { case (bid, docs) =>
      assert(batchSizes(bid) == docs.size.toLong, s"results of batch $bid")
      assert(bandSizes(bid) == 4L * docs.size, s"bands of batch $bid")
    }

    // the corpus state tables were READ but never rewritten
    assert(tableFiles(bT) == initBandFiles)
    assert(tableFiles(cT) == initCompFiles)

    // compaction ran (compactEvery=2 over 10 batches, two non-empty
    // delta windows): the current compacted map resolves the retired
    // labels — 7 → 3 (batch-1 clone merge) and 1000 → 13 (the corpus
    // cluster doc 13 merged into) — retired versions are dropped, and
    // the delta log was truncated at its last non-empty compaction
    val versions = spark.catalog.listTables()
      .filter(col("name").startsWith("graft_admit_compacted_r11a_test"))
      .collect().map(_.name)
    assert(versions.length == 1, s"stale compacted versions: ${versions.mkString(",")}")
    val compacted = spark.table(versions.head)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(compacted.get(7L).contains(3L))
    assert(compacted.get(1000L).contains(13L))
    assert(!compacted.contains(9L)) // 9 never retired
    assert(spark.table("graft_admit_delta_r11a_test").count() == 0)
  }

  test("persisted admission: rerun under the same tag survives >=2 prior compactions") {
    val dir = Files.createTempDirectory("r11_rerun_")
    writeBatchFiles(dir, fixtureBatches)
    val (bT, cT) = initStateTables("r11d")
    def run(): Map[Long, Boolean] = StreamingOps.runIncrementalAdmitPersisted(
        batchStream(dir), bT, cT, tag = "r11d_test", compactEvery = 2)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    val first = run()
    def versionsNow: Array[String] = spark.catalog.listTables()
      .collect().map(_.name)
      .filter(_.startsWith("graft_admit_compacted_r11d_test"))
    val v1 = versionsNow
    assert(v1.length == 1)
    // the guard is only meaningful if the first run really compacted
    // at least twice — i.e. left a _v{n>=2} for the rerun to trip on
    assert(v1.head.stripPrefix("graft_admit_compacted_r11d_test_v").toInt >= 2,
      s"fixture no longer forces >=2 compactions: ${v1.head}")
    // the rerun drops ALL prior _v* versions at start; before the fix
    // it dropped only _v0 and died with LOCATION_ALREADY_EXISTS when
    // compaction reached a version the first run left behind
    val second = run()
    assert(second == first)
    assert(versionsNow.length == 1)
  }

  test("persisted admission matches the bounded harness under single-batch delivery") {
    val dir = Files.createTempDirectory("r11_single_")
    writeBatchFiles(dir, Seq(fixtureBatches.flatten)) // all docs, ONE file
    val (bT, cT) = initStateTables("r11b")
    def decisions(df: DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    val persisted = decisions(StreamingOps.runIncrementalAdmitPersisted(
      batchStream(dir), bT, cT, tag = "r11b_test"))
    val bounded = decisions(StreamingOps.runIncrementalAdmit(
      batchStream(dir), sc => (sc.table(bT), sc.table(cT))))
    assert(persisted == bounded)
    // single-batch delivery: global-min wins, so doc 3 IS admitted here
    assert(persisted.exists { case (d, _, a) => d == 3L && a })
    assert(!persisted.exists { case (d, _, a) => d == 7L && a })
  }

  test("runIncrementalAdmit requires single-batch delivery") {
    val dir = Files.createTempDirectory("r11_multi_")
    writeBatchFiles(dir, fixtureBatches.take(2))
    val (bT, cT) = initStateTables("r11c")
    val e = intercept[IllegalArgumentException] {
      StreamingOps.runIncrementalAdmit(
        batchStream(dir), sc => (sc.table(bT), sc.table(cT)))
    }
    assert(e.getMessage.contains("single-batch"))
  }

  test("compressRelabel: pointer-halving resolves exactly 2^rounds links") {
    import spark.implicits._
    // chain 10 → 9 → … → 1: 9 links
    val log = (2 to 10).map(i => (i.toLong, i.toLong - 1)).toDF("oldc", "newc")
    val full = Dedup.compressRelabel(log, 9)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((2 to 10).forall(i => full(i.toLong) == 1L))
    // maxChain=2 ⇒ one halving round ⇒ distance-2 resolution only:
    // the head of the chain lands on 8, not 1 (pins the bound's
    // meaning — callers must pass the true batches-since-compaction)
    val partial = Dedup.compressRelabel(log, 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(partial(10L) == 8L)
    assert(partial(3L) == 1L)
  }
}
