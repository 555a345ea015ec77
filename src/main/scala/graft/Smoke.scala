package graft

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** 30-second self-check: run EVERY declared query end-to-end at the
  * smallest fixture and exit nonzero naming any that throw.
  *
  * Exists because round 6 proved the failure mode is real: a fixture
  * regeneration changed the events timestamp encoding between rounds
  * and 64 of 131 queries crashed at analysis time — silently, since
  * nothing between "sbt test green" and the driver's verify pass
  * executed the full query matrix. This main is that missing gate:
  *   sbt "runMain graft.Smoke [sfDir]"
  * (default sfDir /root/testdata/sf0.001). SmokeSpec runs the same
  * sweep from the test suite, so `sbt test` now catches a broken
  * loader the moment it breaks.
  */
object Smoke {
  /** Runs every query; returns (name -> error) for the ones that threw. */
  def run(spark: SparkSession, sfDir: String,
          verbose: Boolean = false): Seq[(String, Throwable)] =
    SparkEntry.queries.toSeq.flatMap { case (name, fn) =>
      val r = try { fn(spark, sfDir).count(); None } catch {
        case NonFatal(e) => Some(name -> e)
      }
      if (verbose) System.err.println(
        s"[smoke] $name ${if (r.isEmpty) "ok" else "FAILED " + r.get._2.getMessage}")
      r
    }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = GraftSession.local(GraftSession.cpus)
    spark.sparkContext.setLogLevel("ERROR")
    val failed = run(spark, sfDir, verbose = true)
    val n = SparkEntry.queries.size
    if (failed.isEmpty) println(s"[smoke] OK: all $n queries ran at $sfDir")
    else {
      println(s"[smoke] FAILED ${failed.size}/$n at $sfDir:")
      failed.foreach { case (name, e) =>
        println(s"[smoke]   $name: ${e.getClass.getName}: ${e.getMessage}")
      }
    }
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }
}
