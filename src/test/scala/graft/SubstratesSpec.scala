package graft

import java.io.{ByteArrayOutputStream, File, PrintStream}
import java.nio.file.{Files, StandardCopyOption}

import org.apache.spark.sql.SparkSession
import org.apache.spark.storage.StorageLevel
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The substrate registry's release lifecycle: `release` frees every
  * entry a session built (cached tables and temp paths alike), and
  * `releaseHeavy` frees the corpus-sized entries except those named in
  * SPARK_GRAFT_KEEP.
  */
class SubstratesSpec extends AnyFunSuite with BeforeAndAfterAll with GraftSpark {

  /** A private copy of the sf0.001 events and documents tables: plans
    * over it share no cache entry with other suites' substrates, so
    * what a test session releases is exactly what it built.
    */
  private lazy val dir: String = {
    val d = Files.createTempDirectory("substrates_spec_")
    Seq("events.parquet", "documents.parquet").foreach(t =>
      Files.copy(new File(s"/root/testdata/sf0.001/$t").toPath, d.resolve(t),
        StandardCopyOption.REPLACE_EXISTING))
    d.toString
  }

  /** A fresh session on the shared context, with the settings the
    * context was built with: no substrate memoized yet.
    */
  private def session(): SparkSession = spark.newSession()

  private def persistedRdds(): Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet
  private def ideWriteDirs(): Set[String] =
    new File(System.getProperty("java.io.tmpdir")).list()
      .filter(_.startsWith("graft_ide_w")).toSet

  override def afterAll(): Unit =
    org.apache.commons.io.FileUtils.deleteQuietly(new File(dir))

  test("release frees every substrate of the session, the .ide write directory included") {
    val s = session()
    val rdds0 = persistedRdds()
    val dirs0 = ideWriteDirs()
    Substrates.ev(s, dir).count()
    Substrates.docShingles(s, dir).count()
    Substrates.lshCandsCounted(s, dir).count()
    assert(SparkEntry.queries("k_ide_write_roundtrip")(s, dir).count() > 0)
    assert((persistedRdds() -- rdds0).nonEmpty, "the substrates pinned no cached table")
    assert((ideWriteDirs() -- dirs0).size === 1, "the .ide write fixture was not written")

    Substrates.release(s)
    // only what appeared during the run is compared: the context
    // cleaner may drop older entries concurrently
    assert(persistedRdds() -- rdds0 === Set.empty[Int])
    assert(ideWriteDirs() -- dirs0 === Set.empty[String])
  }

  test("releaseHeavy keeps the SPARK_GRAFT_KEEP entries and warns on an unknown name") {
    // the names tools/sf10_ladder.sh passes
    assert(Set("shingles", "lshcands").subsetOf(Substrates.names.toSet))
    val s = session()
    val shingles = Substrates.docShingles(s, dir)
    val cands = Substrates.lshCandsCounted(s, dir)
    cands.count()
    assert(shingles.storageLevel !== StorageLevel.NONE)
    assert(cands.storageLevel !== StorageLevel.NONE)

    val err = new ByteArrayOutputStream()
    val stderr = System.err
    System.setErr(new PrintStream(err, true))
    try Substrates.releaseHeavy(s, Set("shingles", "no_such_substrate"))
    finally System.setErr(stderr)

    assert(shingles.storageLevel !== StorageLevel.NONE, "the kept shingle table was unpersisted")
    assert(Substrates.docShingles(s, dir) eq shingles, "the kept shingle table left the memo")
    assert(cands.storageLevel === StorageLevel.NONE, "the LSH candidate table is still cached")
    assert(err.toString.contains(
      "SPARK_GRAFT_KEEP entry 'no_such_substrate' matches no substrate"), err.toString)
    assert(!err.toString.contains("'shingles'"), err.toString)

    Substrates.release(s)
    assert(shingles.storageLevel === StorageLevel.NONE)
  }
}
