package graftbench

import java.io.File

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.datapipe.Dedup
import graft.streaming.StreamingOps

/** Single-threaded dedup reference over a generated corpus: shingle
  * sets and LSH band keys from `Dedup.h1SetAndBandKeysOf`, exact set
  * Jaccard and union-find.
  */
final class DedupReference(ids: Array[Long], texts: Array[String]) {
  val sets = new Array[Set[Long]](ids.length)
  val bands = new Array[Seq[(Int, String)]](ids.length)
  ids.indices.foreach { i =>
    val (s, b) = Dedup.h1SetAndBandKeysOf(texts(i))
    sets(i) = s
    bands(i) = b
  }
  private val index = ids.zipWithIndex.toMap

  /** Candidate pairs (a < b) with the bucket cap of
    * `Dedup.lshCandidatesCounted`: the first `maxBucket` members of a
    * bucket (by doc id) pair fully, later members pair with the first.
    */
  def candidates(maxBucket: Int = Dedup.DefaultMaxBucket): Set[(Long, Long)] = {
    val buckets = mutable.HashMap.empty[(Int, String), mutable.ArrayBuffer[Long]]
    ids.indices.foreach(i => bands(i).foreach(k =>
      buckets.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += ids(i)))
    val out = mutable.HashSet.empty[(Long, Long)]
    buckets.valuesIterator.foreach { b =>
      val m = b.sorted
      for (x <- 0 until math.min(m.size, maxBucket); y <- x + 1 until math.min(m.size, maxBucket))
        out += ((m(x), m(y)))
      for (y <- maxBucket until m.size) out += ((m(0), m(y)))
    }
    out.toSet
  }

  def jaccard(a: Long, b: Long): Double = {
    val (sa, sb) = (sets(index(a)), sets(index(b)))
    val inter = sa.count(sb)
    inter.toDouble / (sa.size + sb.size - inter)
  }

  /** Connected-component label (the minimum member id) of every
    * document that appears in an edge.
    */
  def components(edges: Iterable[(Long, Long)]): Map[Long, Long] = {
    val parent = mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    parent.keys.map(x => x -> find(x)).toMap
  }
}

object Corpus {
  val Base = 150
  val Boilerplate = 3
  val BoilerplateSize = 66
  val Threshold = 0.5

  def generate(seed: Long): Gen.Corpus = Gen.corpus(seed, Base, Boilerplate, BoilerplateSize)

  def write(spark: SparkSession, ids: Seq[Long], texts: Seq[String], dir: File): Unit = {
    import spark.implicits._
    ids.zip(texts).toDF("doc_id", "text").coalesce(1)
      .write.mode("overwrite").parquet(dir.getAbsolutePath)
  }

  def describe(c: Gen.Corpus): Map[String, Any] = Map(
    "documents" -> c.docs, "bytes" -> c.bytes, "planted_duplicates" -> c.planted,
    "duplicate_density" -> c.density, "clusters" -> c.clusters,
    "boilerplate_clusters" -> c.boilerplateClusters)
}

/** `neardup_corpus`: batch near-duplicate dedup of a seeded corpus
  * through graft.datapipe.Dedup, checked against [[DedupReference]].
  */
final class Neardup(spark: SparkSession, seed: Long) extends Workload {
  private var path: String = _
  private var docs = 0L
  private var refLabels: Map[Long, Long] = Map.empty
  private var refCandidates = 0L
  private var refVerified = 0L
  private val counts = mutable.ArrayBuffer.empty[Map[String, Long]]

  val cycle: IndexedSeq[String] = IndexedSeq("dedup")

  /** Two warm-up operations: after one, the timed operations still got
    * faster one after another (JIT), by up to a third from the first to
    * the third, and the median followed how fast the host warmed up.
    */
  override def warm(r: Recorder): Unit = (1 to 2).foreach(_ => super.warm(r))

  def prepare(dir: File): Map[String, Any] = {
    val c = Corpus.generate(seed)
    Corpus.write(spark, c.docIds.toSeq, c.texts.toSeq, dir)
    path = dir.getAbsolutePath
    docs = c.docs
    val ref = new DedupReference(c.docIds, c.texts)
    val cands = ref.candidates()
    val verified = cands.filter { case (a, b) => ref.jaccard(a, b) >= Corpus.Threshold }
    refCandidates = cands.size
    refVerified = verified.size
    refLabels = ref.components(verified)
    Corpus.describe(c) ++ Map("reference_candidate_pairs" -> refCandidates,
      "reference_verified_pairs" -> refVerified)
  }

  def runOp(name: String, r: Recorder): (Boolean, Long) = {
    val corpus = spark.read.parquet(path)
    val labels =
      if (!r.tracing) {
        val hashes = Dedup.shingleHashes(Dedup.shingles(corpus, distinct = false))
        val cands = Dedup.lshCandidatesCounted(Dedup.minhashSignaturesFromHashes(hashes))
        val verified = Dedup.jaccardByHashes(hashes, cands)
          .filter(col("jaccard") >= Corpus.Threshold).select("a", "b")
        Dedup.connectedComponentsCounted(verified)._1.collect()
      } else {
        // forced stage by stage, so each call gets its own time
        def forced(df: DataFrame): (DataFrame, Long) = { val c = df.cache(); (c, c.count()) }
        val (hashes, _) = r.span("datapipe.shingle") {
          forced(Dedup.shingleHashes(Dedup.shingles(corpus, distinct = false)))
        }
        val (cands, nCand) = r.span("datapipe.lsh") {
          forced(Dedup.lshCandidatesCounted(Dedup.minhashSignaturesFromHashes(hashes)))
        }
        val (verified, nVer) = r.span("datapipe.verify") {
          forced(Dedup.jaccardByHashes(hashes, cands)
            .filter(col("jaccard") >= Corpus.Threshold).select("a", "b"))
        }
        val out = r.span("datapipe.cc") {
          val (l, rounds) = Dedup.connectedComponentsCounted(verified)
          val rows = l.collect()
          counts += Map("candidate_pairs" -> nCand, "verified_pairs" -> nVer,
            "cc_rounds" -> rounds.toLong)
          rows
        }
        Seq(hashes, cands, verified).foreach(_.unpersist(blocking = true))
        if (nCand != refCandidates || nVer != refVerified) Array.empty[org.apache.spark.sql.Row]
        else out
      }
    val got = labels.map(row => row.getAs[Long]("doc_id") -> row.getAs[Long]("component")).toMap
    (got == refLabels, docs)
  }

  override def extra(): Map[String, Any] = Map("datapipe" -> counts.toSeq)
}

/** `admit_stream`: streaming admission of the corpus's arrival files
  * (one file per micro-batch) against band and component state built
  * from a base slice. One operation is one micro-batch; the check
  * replays the arrival order single-threaded (first arrival wins).
  */
final class Admit(spark: SparkSession, seed: Long) extends Workload {
  import Admit._

  private var arrivalsDir: File = _
  private var bandsT, compsT: String = _
  private var expected: IndexedSeq[Map[Long, Boolean]] = IndexedSeq.empty
  private val state = mutable.ArrayBuffer.empty[Map[String, Long]]

  val cycle: IndexedSeq[String] = IndexedSeq("micro_batch")

  def prepare(dir: File): Map[String, Any] = {
    val c = Corpus.generate(seed)
    val rnd = new java.util.Random(seed * 31 + 7)
    val order = c.docIds.indices.toArray.sortBy(_ => rnd.nextLong())
    val (baseIdx, arrIdx) = order.splitAt((c.docs * BaseShare).toInt)
    // base slice → persisted band and component tables
    val baseDir = new File(dir, "base")
    Corpus.write(spark, baseIdx.map(c.docIds(_)).toSeq, baseIdx.map(c.texts(_)).toSeq, baseDir)
    val tag = dir.getName
    bandsT = s"bench_bands_$tag"
    compsT = s"bench_comps_$tag"
    val base = spark.read.parquet(baseDir.getAbsolutePath)
    val sigs = Dedup.minhashSignaturesFromHashes(
      Dedup.shingleHashes(Dedup.shingles(base, distinct = false))).cache()
    spark.sql(s"DROP TABLE IF EXISTS $bandsT")
    spark.sql(s"DROP TABLE IF EXISTS $compsT")
    Dedup.lshBands(sigs).repartition(8, col("band"), col("sig"))
      .write.bucketBy(8, "band", "sig").sortBy("band", "sig").saveAsTable(bandsT)
    val comp = Dedup.connectedComponents(Dedup.lshCandidates(sigs))
    base.select(col("doc_id"))
      .join(comp.select(col("doc_id"), col("component")), Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("component"), col("doc_id")).as("cluster"))
      .write.saveAsTable(compsT)
    sigs.unpersist(blocking = true)
    // arrivals → one parquet file per batch, mtimes increasing
    arrivalsDir = new File(dir, "arrivals")
    arrivalsDir.mkdirs()
    val files = arrIdx.grouped((arrIdx.length + Files - 1) / Files).toIndexedSeq
    files.zipWithIndex.foreach { case (idx, b) =>
      val tmp = new File(dir, s"stage_$b")
      Corpus.write(spark, idx.map(c.docIds(_)).toSeq, idx.map(c.texts(_)).toSeq, tmp)
      val part = tmp.listFiles().find(_.getName.endsWith(".parquet")).get
      val dest = new File(arrivalsDir, f"f_$b%03d.parquet")
      java.nio.file.Files.move(part.toPath, dest.toPath)
      dest.setLastModified(1700000000000L + b * 10000L)
    }
    // reference: replay arrivals in order against the seen band keys
    val ref = new DedupReference(c.docIds, c.texts)
    val seen = mutable.HashSet.empty[(Int, String)]
    baseIdx.foreach(i => seen ++= ref.bands(i))
    expected = files.map { idx =>
      val edges = mutable.ArrayBuffer.empty[(Long, Long)]
      val byKey = mutable.HashMap.empty[(Int, String), Long]
      idx.foreach { i =>
        val id = c.docIds(i)
        edges += ((id, id))
        ref.bands(i).foreach { k => byKey.get(k) match {
          case Some(o) => edges += ((o, id))
          case None => byKey(k) = id
        } }
      }
      val label = ref.components(edges)
      val prior = idx.filter(i => ref.bands(i).exists(seen)).map(i => label(c.docIds(i))).toSet
      idx.foreach(i => seen ++= ref.bands(i))
      idx.map { i =>
        val id = c.docIds(i)
        id -> (!prior(label(id)) && label(id) == id)
      }.toMap
    }
    Corpus.describe(c) ++ Map("base_documents" -> baseIdx.length,
      "arrival_documents" -> arrIdx.length, "arrival_files" -> files.size)
  }

  /** One stream run over every arrival file: fresh admission state
    * (same tag, so the previous run's tables are dropped), one file
    * per trigger. Returns each batch's check result.
    */
  private def streamRun(): Map[Long, Boolean] = {
    val schema = StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType)))
    val st = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").option("pathGlobFilter", "f_*.parquet")
      .parquet(arrivalsDir.getAbsolutePath)
    StreamingOps.runIncrementalAdmitPersisted(st, bandsT, compsT, tag = Tag,
      compactEvery = CompactEvery)
    // the results log keeps each decision's batch id
    val got = spark.table(s"graft_admit_results_$Tag").select("doc_id", "admitted", "batch_id")
      .collect()
      .groupBy(_.getLong(2)).map { case (b, rows) =>
        b -> rows.map(r => r.getLong(0) -> r.getBoolean(1)).toMap
      }
    expected.indices.map(b => b.toLong -> got.get(b.toLong).contains(expected(b))).toMap
  }

  /** The stream runs inside graft; its micro-batches become operation
    * records from the progress listener (trigger start, trigger
    * duration), their phases become spans when tracing.
    */
  override def runCycle(r: Recorder, phase: String): Unit = {
    val t0 = r.nowMs()
    val checks = streamRun()
    val t1 = r.nowMs()
    val deadline = System.currentTimeMillis() + 10000
    def batches = r.listener.progress.asScala.toSeq
      .filter(p => p.start_ms >= t0 - 1 && p.start_ms <= t1 && p.rows > 0)
    while (batches.size < checks.size && System.currentTimeMillis() < deadline) Thread.sleep(20)
    batches.sortBy(_.batch).foreach { p =>
      val dur = p.durations.getOrElse("triggerExecution", 0L).toDouble
      val id = r.ops.size
      r.ops += OpRec(id, "micro_batch", phase, p.start_ms.toDouble, p.start_ms + dur,
        checks.getOrElse(p.batch, false), p.rows, "")
      if (r.tracing) {
        var at = p.start_ms.toDouble
        TriggerPhases.foreach { k =>
          val d = p.durations.getOrElse(k, 0L).toDouble
          r.addSpan(id, -1, s"streaming.$k", at, at + d)
          at += d
        }
      }
    }
    if (r.tracing) state += stateSize()
  }

  /** A cycle is a whole stream run, already `Files` operations. */
  override def minCycles: Int = 1

  /** Rows and on-disk bytes of this run's admission state tables, and
    * the number of compactions (the live compacted version).
    */
  private def stateSize(): Map[String, Long] = {
    val tables = spark.catalog.listTables().collect().map(_.name)
      .filter(n => n.startsWith(s"graft_admit_") && n.endsWith(Tag) ||
        n.startsWith(s"graft_admit_compacted_${Tag}_v"))
    val rows = tables.map(t => spark.table(t).count()).sum
    val wh = new File(spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"))
    def du(f: File): Long = if (f.isDirectory) f.listFiles().map(du).sum else f.length()
    val bytes = tables.map(t => du(new File(wh, t.toLowerCase))).sum
    val version = tables.filter(_.contains("_compacted_"))
      .map(_.split("_v").last.toLong).maxOption.getOrElse(0L)
    Map("state_rows" -> rows, "state_bytes" -> bytes, "compactions" -> version)
  }

  def runOp(name: String, r: Recorder): (Boolean, Long) =
    throw new UnsupportedOperationException("admit_stream records batches from its stream runs")

  override def warm(r: Recorder): Unit = streamRun()


  override def extra(): Map[String, Any] = Map("state" -> state.toSeq)
}

object Admit {
  val BaseShare = 0.3
  val Files = 8
  val CompactEvery = 8
  val Tag = "bench"
  val TriggerPhases = Seq("latestOffset", "queryPlanning", "getBatch", "addBatch", "walCommit",
    "commitOffsets")
}
