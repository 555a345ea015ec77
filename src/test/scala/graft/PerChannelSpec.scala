package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{Interp, Psd}
import graft.signal.Signal

/** The `PerChannel` gathered operators (Welch PSD, time-window mov_rms,
  * cubic resample): how many Spark jobs each runs, and how they fail a
  * variable-rate channel.
  */
class PerChannelSpec extends AnyFunSuite with GraftSpark {

  override lazy val spark: SparkSession = GraftSession.local(4).newSession()

  /** Three 100 Hz channels of unequal length. */
  private def frame(): DataFrame = {
    val s = spark
    import s.implicits._
    Seq(("a", 300), ("b", 520), ("c", 810)).flatMap { case (ch, n) =>
      (0 until n).map(k => (ch, k / 100.0, math.sin(k / 7.0) + 0.1 * (k % 5)))
    }.toDF("channel", "t", "v")
  }

  test("Welch, mov_rms and cubic resample each run one channel gather") {
    val df = frame().cache()
    df.count()
    try {
      // the gather shuffle (1) + the result (1); Welch's mean adds its
      // (channel, freq) aggregate. The multi-stage plans these replace
      // ran 6, 8 and 12 jobs on this frame.
      assert(jobsOf(Psd.getPsd(df, windowLength = Some(1.0)).collect()) == 3)
      assert(jobsOf(Signal(df).movRms(0.5).df.collect()) == 2)
      assert(jobsOf(Interp.resample(df, 40.0, "cubic").collect()) == 2)
    } finally df.unpersist()
  }

  test("a variable-rate channel fails Welch and mov_rms by name") {
    val s = spark
    import s.implicits._
    // a NaN timestamp makes the interval maximum NaN: no sample rate
    val bad = ((0 until 50).map(k => ("ok", k / 10.0, 1.0 * k)) ++
      (0 until 49).map(k => ("nan", k / 10.0, 1.0 * k)) :+ ("nan", Double.NaN, 0.0))
      .toDF("channel", "t", "v")
    def messageOf(op: => DataFrame): String = {
      val e = intercept[Exception](op.collect())
      Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .map(c => String.valueOf(c.getMessage)).mkString(" | ")
    }
    assert(messageOf(Signal(bad).movRms(0.5).df)
      .contains("channel 'nan' has a variable sample rate; resample() it before mov_rms"))
    assert(messageOf(Psd.welchAllWithSegRms(bad, 1.0))
      .contains("channel 'nan' has a variable sample rate; resample() it before PSD"))
  }
}
