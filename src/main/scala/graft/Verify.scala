package graft
import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional third arg: comma-separated query names (dev-loop
    // filter — the driver always passes exactly two)
    val Array(sfDir, outDir) = args.take(2)
    val only: Option[Set[String]] = args.drop(2).headOption.map(_.split(",").toSet)
    val spark = GraftSession.local(GraftSession.cpus)
    new java.io.File(outDir).mkdirs()
    // a crashed query must leave a machine-readable trace: round 6's
    // loader break made 64 queries silently ABSENT from the
    // correctness artifact ("not run" indistinguishable from
    // "crashed"); verify_errors.json makes the dump self-describing
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    SparkEntry.queries.filter { case (name, _) => only.forall(_(name)) }
      .foreach { case (name, fn) =>
      // repartition(1), NOT coalesce(1): coalesce folds the whole
      // query into the single output task (no shuffle barrier), so an
      // expensive plan — e.g. interpreted zip_with cosine at sf10 —
      // runs one-threaded; the r16 sf10 gate measured a 22-minute
      // single task where the parallel stage takes seconds. The
      // repartition shuffle moves only the RESULT rows.
      val t0 = System.nanoTime()
      System.err.println(s"[verify] running $name")
      try {
        fn(spark, sfDir).repartition(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        System.err.println(
          f"[verify] $name done in ${(System.nanoTime() - t0) / 1e9}%.1f s")
      }
      catch { case NonFatal(e) =>
        errors(name) = s"${e.getClass.getName}: ${e.getMessage}"
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // dir-keyed dump: trained-literal oracles (q_opq_recall) must
    // carry THIS run's literals even if another scale ran in this JVM
    val json = SparkEntry.oracleSqlFor(sfDir)
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val errJson = errors
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/verify_errors.json"), errJson)
    if (errors.nonEmpty)
      System.err.println(s"[verify] ${errors.size} queries crashed — see verify_errors.json")
    spark.stop()
  }
}
